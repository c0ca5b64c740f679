package graft.embed

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{CheckpointManager, Ids}

/** Force-directed refinement of a spectral embedding — the Spark
  * re-expression of GraphEmbedder.update_positions / run_layout
  * (/root/reference/graphem/embedder.py:252-273), preserving the
  * reference's exact semantics (SURVEY §2.13 quirks):
  *
  *  - spring force per edge: dist = |p2-p1| + 1e-6,
  *    f = -k_attr * (dist - L_min) * (p2-p1)/dist, applied +f to src
  *    and -f to dst (embedder.py:174-187);
  *  - intersection forces on a FIXED sample of edge midpoints — the
  *    reference samples with PRNGKey(0) every iteration (quirk #1), so
  *    the subset never changes; we take the sample_size smallest
  *    xxhash64(eid) which is likewise iteration-independent;
  *  - kNN of sampled midpoints against all midpoints, self dropped
  *    (embedder.py:146-170) — broadcast join + per-query top-k window;
  *  - candidate pair validity: i < j and no shared endpoint; 2D
  *    orientation intersection test on dims 0,1 ONLY regardless of d
  *    (quirk #2, embedder.py:215-224);
  *  - repulsion k_inter*(v-mid)/d^2 with d = |v-mid| + 1e-6 from the
  *    4-point midpoint (embedder.py:227-237);
  *  - per-dimension z-score normalization with +1e-6 eps each iteration
  *    (quirk #4, embedder.py:263) — population stddev.
  *
  * Superstep = 2 gather joins + broadcast kNN + 1 scatter aggregation,
  * all Catalyst-planned; positions are checkpointed (manifest lineage)
  * or localCheckpoint'ed every iteration.
  */
object ForceLayout {

  case class Config(
      d: Int = 2,
      lMin: Double = 1.0,
      kAttr: Double = 0.2,
      kInter: Double = 0.5,
      nNeighbors: Int = 10,
      sampleSize: Int = 256,
      // V-row state frames are broadcast-joined against the E-row edge
      // table at or below this vertex count (~24 MB at d=2); above it
      // the shuffle join is the right plan and engages unchanged
      broadcastVertices: Long = 1000000L,
      checkpoint: Option[CheckpointManager] = None,
      checkpointInterval: Int = 5,
      // caller-pluggable per-iteration progress callback — the engine's
      // analogue of the reference's GraphEmbedder(logger=...) ctor hook
      // (/root/reference/graphem/embedder.py ctor;
      // tests/test_embedder.py:178-192). Invoked AFTER each superstep's
      // state is materialized with (completed iteration index, metrics);
      // deliberately free of extra Spark actions.
      progress: Option[(Int, Map[String, Double]) => Unit] = None,
      // below this edge count the INIT bookkeeping — dense edge
      // ordinals and the fixed-sample identity — is computed on the
      // driver from one collected edge list (the SpectralInit /
      // ConnectedComponents local-gate posture and the same 5M-row
      // collect bound): the eids are the identical (src, dst)-sort
      // dense ranks Ids.dense produces and the sample is the identical
      // smallest-(xxhash64(eid), eid) set (XXH64.hashLong replica, same
      // bits), so positions are unchanged. The LAYOUT LOOP itself is
      // never local-gated — the supersteps stay distributed at every
      // scale. Above the cap the Ids.dense + top-k jobs run unchanged.
      localInitEdgeCap: Long = 5000000L)

  private def norm2(v: Column): Column =
    sqrt(aggregate(v, lit(0.0), (s, x) => s + x * x))

  /** One run: `positions` (id, pos array<double>[d]) refined for
    * `iterations` supersteps over canonical `edges`.
    */
  def run(spark: SparkSession, edges: DataFrame, positions: DataFrame,
          iterations: Int, cfg: Config = Config()): DataFrame = {
    val d = cfg.d
    // stable edge ordinals (deterministic across parallelism — the ids
    // depend only on the (src, dst) sort order, so the shuffle width
    // changes nothing). The cache is built at the FULL session width:
    // every per-superstep pass over it (SampleKnn partials, spring
    // explode, intersection probe) inherits its parallelism from these
    // cache partitions, so the compute-bound passes stay wide even when
    // the loop below narrows the shuffle width to the data. (The old
    // shape cached at the guide width and paid an E-row repartition
    // every superstep to win the parallelism back for the kNN
    // aggregation alone, leaving the spring/intersection passes narrow.)
    val edgeCount = edges.count()
    val sessP = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sampleSize = math.min(cfg.sampleSize, edgeCount).toInt

    // The sampled-edge IDENTITY is iteration-independent (quirk #1: the
    // reference samples with PRNGKey(0) every iteration, so the subset
    // never changes) — select the sample_size smallest xxhash64(eid)
    // ONCE before the loop. Per iteration only the sample's POSITIONS
    // are refreshed (see the loop below). Under the local-init gate the
    // ordinal assignment and the sample pick both run on the driver
    // from one collected edge list; above it Ids.dense + a top-k job
    // produce the identical values.
    var eidBc: Option[org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Long])]] = None
    val (eidEdges, sEids, sSrcs, sDsts) =
      if (edgeCount <= cfg.localInitEdgeCap) {
        val (srcA, dstA) = graft.core.LocalGraph.collectPairs(edges, "src", "dst")
        val m = srcA.length
        // dense eids in (src, dst) sort order — exactly Ids.dense's
        // two-phase range rank (rows are distinct, so the order is total)
        val boxed = Array.range(0, m).map(Integer.valueOf)
        java.util.Arrays.sort(boxed, new java.util.Comparator[Integer] {
          def compare(a: Integer, b: Integer): Int = {
            val c = java.lang.Long.compare(srcA(a), srcA(b))
            if (c != 0) c else java.lang.Long.compare(dstA(a), dstA(b))
          }
        })
        val srcSorted = boxed.map(o => srcA(o.intValue()))
        val dstSorted = boxed.map(o => dstA(o.intValue()))
        // ship the sorted edge list as TWO PRIMITIVE ARRAYS behind a
        // broadcast + range map: parallelize of (Long,Long,Long) tuples
        // would pin hundreds of MB of boxed tuples on the driver for the
        // whole layout run at the 5M-edge cap (ParallelCollectionRDD
        // keeps its seq alive for cache rebuilds); the broadcast holds
        // ~16 B/edge and is released with the cache below
        import spark.implicits._
        val bc = spark.sparkContext.broadcast((srcSorted, dstSorted))
        eidBc = Some(bc)
        val df = spark.sparkContext
          .parallelize(0 until m, math.max(1, sessP))
          .map(i => (bc.value._1(i), bc.value._2(i), i.toLong))
          .toDF("src", "dst", "eid")
          .persist(StorageLevel.MEMORY_AND_DISK)
        // sample: the sampleSize smallest (xxhash64(eid), eid) —
        // XXH64.hashLong(eid, 42) is Spark's xxhash64(col) bit-for-bit
        // (the DetRandom.uniformLocal replica argument)
        import org.apache.spark.sql.catalyst.expressions.XXH64
        val hashes = Array.tabulate(m)(e => XXH64.hashLong(e.toLong, 42L))
        val byHash = Array.range(0, m).map(Integer.valueOf)
        java.util.Arrays.sort(byHash, new java.util.Comparator[Integer] {
          def compare(a: Integer, b: Integer): Int = {
            val c = java.lang.Long.compare(hashes(a), hashes(b))
            if (c != 0) c else Integer.compare(a, b)
          }
        })
        val picked = byHash.take(sampleSize).map(_.intValue()).sorted
        (df,
          picked.map(_.toLong),
          picked.map(srcSorted(_)),
          picked.map(dstSorted(_)))
      } else {
        val df = Ids.dense(spark, edges.select("src", "dst"),
          Seq("src", "dst"), "eid")
          .persist(StorageLevel.MEMORY_AND_DISK)
        val s = df.orderBy(xxhash64(col("eid")), col("eid")).limit(sampleSize)
          .select("eid", "src", "dst").collect().sortBy(_.getLong(0))
        (df, s.map(_.getLong(0)), s.map(_.getLong(1)), s.map(_.getLong(2)))
      }

    // Resume from the latest committed layout snapshot, if any: the
    // layout is fully deterministic (fixed hash-ordered sample, quirk
    // #1), so a run killed at iteration k and resumed here produces
    // positions identical to an uninterrupted run.
    val (startIter, startPos) = cfg.checkpoint.flatMap(_.resume()) match {
      case Some((k, snap)) => (math.min(k + 1, iterations), snap)
      case None => (0, positions)
    }
    var pos = graft.core.Lineage.truncate(startPos)
    var iter = startIter
    val runT0 = System.nanoTime()
    // V-row state frames (pos, per-vertex forces) are broadcast-joined
    // below this vertex count: at test scale the E-row gather would
    // otherwise SHUFFLE the edge table twice per iteration against a
    // 1k-row state frame (the truncated state carries no stats, so the
    // planner can't see it's tiny). Above the threshold the shuffle
    // join is the correct plan and engages unchanged — same gate
    // pattern as SpectralInit's local path.
    val vCount = positions.count()
    val broadcastState = vCount <= cfg.broadcastVertices
    def stateSide(df: DataFrame): DataFrame =
      if (broadcastState) broadcast(df) else df
    // fixed-shape superstep tuning: AQE off + data-sized shuffle width
    // in the small regime (graft.core.LoopConf; data-derived gate). The
    // compute-bound passes keep full parallelism regardless: they read
    // the eidEdges/ep caches, which are built at the session width.
    val small = graft.core.LoopConf.smallRegime(spark, 2L * edgeCount)
    graft.core.LoopConf.withLoop(spark, small) {
    // empty layout: no state to iterate (the stats collect below would
    // otherwise read a null aggregate row); returns the empty positions
    // frame unchanged, like the old all-lazy loop did
    // the ≤2*sampleSize state rows the per-superstep refresh needs;
    // after the first iteration the refresh rides the state
    // materialization action (see the end of the loop)
    val sampleEndpointIds: Seq[Long] = (sSrcs ++ sDsts).distinct.sorted.toSeq
    def collectSamplePositions(state: DataFrame): Map[Long, Array[Double]] =
      state.where(col("id").isin(sampleEndpointIds: _*))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    var posMap: Map[Long, Array[Double]] =
      if (vCount > 0 && iter < iterations)
        collectSamplePositions(pos)
      else Map.empty
    while (iter < iterations && vCount > 0) {
      // gather endpoint positions + midpoint in ONE cached E-row frame
      // (the old shape cached `ep` and a derived `mids` separately —
      // two E-row cache writes per superstep for the same rows; readers
      // that don't need `mid` prune it from the shared cache scan)
      val ep = eidEdges
        .join(stateSide(pos.select(col("id").as("src"), col("pos").as("p1"))), "src")
        .join(stateSide(pos.select(col("id").as("dst"), col("pos").as("p2"))), "dst")
        .select(col("eid"), col("src"), col("dst"), col("p1"), col("p2"),
          zip_with(col("p1"), col("p2"), (a, b) => (a + b) * 0.5).as("mid"))
        .persist(StorageLevel.MEMORY_AND_DISK)

      // spring forces (2 rows per edge) — one explode pass per edge
      // (optimization round 6): the old two-branch union scanned the
      // cached endpoint table twice and evaluated the force arithmetic
      // twice per edge. Identical +f / -f values; only the union order
      // of the scatter-sum addends changes (~1e-15 on the radii, far
      // inside the committed fixture's 1e-6 drift bound).
      val diff = zip_with(col("p2"), col("p1"), (a, b) => a - b)
      val springRows = ep.select(col("src"), col("dst"),
        diff.as("diff"), (norm2(diff) + lit(1e-6)).as("dist"))
        .select(col("src"), col("dst"),
          transform(col("diff"), x =>
            lit(-cfg.kAttr) * (col("dist") - cfg.lMin) * x / col("dist"))
            .as("f"))
        .select(explode(array(
          struct(col("src").as("id"), col("f").as("f")),
          struct(col("dst").as("id"),
            transform(col("f"), x => -x).as("f")))).as("e"))
        .select(col("e.id").as("id"), col("e.f").as("f"))

      val mids = ep
      // refresh the fixed sample's positions from the ≤2*sampleSize
      // state rows collected when the previous state materialized (see
      // the end of the loop): the (p1+p2)*0.5 midpoint arithmetic is
      // the identical double op zip_with evaluated, so qvecs are
      // bit-identical to the old broadcast-join sample job — which this
      // replaces outright (one fewer action per superstep).
      // a sampled edge whose endpoint is absent from the state frame is
      // dropped for the iteration — the old broadcast-join refresh's
      // inner-join semantics (callers passing a position frame that
      // covers every vertex, i.e. all engine paths, never hit this)
      val live = (0 until sampleSize)
        .filter(i => posMap.contains(sSrcs(i)) && posMap.contains(sDsts(i)))
        .toArray
      val qids = live.map(sEids(_))
      val qvecs = live.map { i =>
        val p1 = posMap(sSrcs(i)); val p2 = posMap(sDsts(i))
        Array.tabulate(d)(j => (p1(j) + p2(j)) * 0.5)
      }
      // kNN: fused multi-query bounded top-(k+1) — every E-row midpoint
      // updates ALL `sample` heaps inside ONE SampleKnnAgg update()
      // (squared-distance arithmetic and (d2, j_eid) comparator
      // bit-identical to the crossJoin + per-query BoundedTopKAgg plan
      // this replaces, which materialized E x sample candidate rows per
      // iteration — the row traffic, not the flops, dominated the
      // superstep). The shuffle carries one sample x (k+1) partial per
      // input partition; a row_number window here would shuffle ALL
      // E x sample pairs into at most `sample` reducer keys (a hard
      // parallelism ceiling at web scale). The partial aggregation's
      // parallelism comes from the ep cache partitions, built at the
      // session width above — no per-superstep E-row repartition.
      val sampledT = {
        import spark.implicits._
        live.toSeq.zipWithIndex.map { case (i, li) =>
          (sEids(i), sSrcs(i), sDsts(i),
            posMap(sSrcs(i)).toSeq, posMap(sDsts(i)).toSeq, qvecs(li).toSeq)
        }.toDF("i_eid", "i_src", "i_dst", "ip1", "ip2", "imid")
      }
      val topk = mids.select(col("eid"), col("mid"))
        .agg(graft.functions.SampleKnn.knn(col("mid"), col("eid"),
          qids, qvecs, cfg.nNeighbors + 1).as("all"))
        .select(explode(col("all")).as("e"))
        .select(col("e.i_eid").as("i_eid"), col("e.nn").as("nn"))
      // element 0 is the nearest midpoint (self at d2=0, or an exactly
      // coincident midpoint with a smaller eid — same drop rule as the
      // old rn=1 filter); keep elements 1..k
      // the exploded candidate list is sample x k rows (KBs) against the
      // E-row midpoint table: broadcast it EXPLICITLY — with AQE off in
      // the small regime the static size estimate of an agg+explode
      // subtree is huge, and the planner would otherwise shuffle+sort
      // all E midpoints per superstep in a SortMergeJoin
      val knn = broadcast(topk.join(broadcast(sampledT), "i_eid")
        .select(col("i_eid"), col("i_src"), col("i_dst"),
          col("ip1"), col("ip2"), posexplode(col("nn")))
        .where(col("pos") >= 1)
        .select(col("i_eid"), col("i_src"), col("i_dst"),
          col("ip1"), col("ip2"), col("col.j_eid").as("j_eid")))
        .join(mids.select(col("eid").as("j_eid"), col("src").as("j_src"),
          col("dst").as("j_dst"), col("p1").as("jp1"), col("p2").as("jp2")),
          "j_eid")

      // candidate validity + 2D intersection test
      val valid = knn.where(col("i_eid") < col("j_eid"))
        .where(col("i_src") =!= col("j_src") && col("i_src") =!= col("j_dst") &&
          col("i_dst") =!= col("j_src") && col("i_dst") =!= col("j_dst"))
      def ox(p: String): Column = element_at(col(p), 1)
      def oy(p: String): Column = element_at(col(p), 2)
      def orient(a: String, b: String, c: String): Column =
        (ox(b) - ox(a)) * (oy(c) - oy(a)) - (oy(b) - oy(a)) * (ox(c) - ox(a))
      val inter = (valid
        .withColumn("o1", orient("ip1", "ip2", "jp1"))
        .withColumn("o2", orient("ip1", "ip2", "jp2"))
        .withColumn("o3", orient("jp1", "jp2", "ip1"))
        .withColumn("o4", orient("jp1", "jp2", "ip2"))
        .where(col("o1") * col("o2") < 0 && col("o3") * col("o4") < 0)
        .withColumn("imid4",
          zip_with(zip_with(col("ip1"), col("ip2"), (a, b) => a + b),
            zip_with(col("jp1"), col("jp2"), (a, b) => a + b),
            (s1, s2) => (s1 + s2) / 4.0)))

      // repulsion rows for the 4 endpoints of each intersecting pair
      def repulse(vid: Column, vpos: Column): Column = {
        val dcol = norm2(zip_with(vpos, col("imid4"), (a, b) => a - b)) + lit(1e-6)
        transform(zip_with(vpos, col("imid4"), (a, b) => a - b),
          x => lit(cfg.kInter) * x / (dcol * dcol))
      }
      // one explode pass instead of a 4-branch union: each intersecting
      // pair emits its 4 endpoint forces in a single traversal, so the
      // kNN pipeline upstream executes ONCE without `inter` needing its
      // own materialization job (the union formulation re-read it 4x)
      val interRows = inter.select(explode(array(Seq(
        ("i_src", "ip1"), ("i_dst", "ip2"), ("j_src", "jp1"), ("j_dst", "jp2"))
        .map { case (idc, pc) =>
          struct(col(idc).as("id"), repulse(col(idc), col(pc)).as("f"))
        }: _*)).as("e"))
        .select(col("e.id").as("id"), col("e.f").as("f"))

      // scatter: sum forces per vertex per dimension
      val allRows = springRows.union(interRows)
      val agged = allRows.groupBy("id").agg(
        array((0 until d).map(j =>
          sum(element_at(col("f"), j + 1))): _*).as("force"))

      val moved = pos.join(agged, Seq("id"), "left")
        .select(col("id"), zip_with(col("pos"),
          coalesce(col("force"), array((0 until d).map(_ => lit(0.0)): _*)),
          (p, f) => p + f).as("pos"))
        .persist(StorageLevel.MEMORY_AND_DISK)

      // z-score normalize per dimension (population std + 1e-6).
      // `moved` is persisted and the stats aggregate is its
      // materializing action: the old crossJoin(broadcast(stats)) shape
      // computed the ENTIRE force pipeline twice per superstep — once
      // for the stats broadcast job, once again for the state
      // materialization, since `moved` was never cached. The collected
      // stats are re-injected as literals (the identical doubles the
      // broadcast carried), so the normalization arithmetic — and the
      // committed radii drift fixture — is unchanged.
      val statCols = (0 until d).flatMap(j => Seq(
        avg(element_at(col("pos"), j + 1)).as(s"m$j"),
        stddev_pop(element_at(col("pos"), j + 1)).as(s"s$j")))
      val statRow = moved.agg(statCols.head, statCols.tail: _*).head()
      val normalized = moved
        .select(col("id"), array((0 until d).map(j =>
          (element_at(col("pos"), j + 1) - lit(statRow.getDouble(2 * j))) /
            (lit(statRow.getDouble(2 * j + 1)) + lit(1e-6))): _*).as("pos"))

      // state materialization + next iteration's sample refresh in ONE
      // action: the ≤2*sampleSize-row filtered collect is the first
      // action on the lazily-truncated frame, so it materializes the
      // checkpoint AND returns the refreshed positions — the old
      // separate broadcast-join sample job per superstep is gone.
      val isLast = iter == iterations - 1
      val next = cfg.checkpoint match {
        case Some(cm) if (iter + 1) % cfg.checkpointInterval == 0 || isLast =>
          val c = cm.commit(iter, normalized, Map("iteration" -> iter.toDouble))
          if (!isLast) posMap = collectSamplePositions(c)
          c
        case _ =>
          if (isLast) graft.core.Lineage.truncate(normalized)
          else {
            val nx = graft.core.Lineage.truncateLazy(normalized)
            posMap = collectSamplePositions(nx)
            nx
          }
      }
      ep.unpersist(false)
      moved.unpersist(false)
      graft.core.Lineage.release(pos) // next is materialized; old state is dead
      pos = next
      cfg.progress.foreach(_(iter, Map(
        "iterations_total" -> iterations.toDouble,
        "edges" -> edgeCount.toDouble,
        "sample_size" -> sampleSize.toDouble,
        "elapsed_secs" -> (System.nanoTime() - runT0) / 1e9)))
      iter += 1
    }
    }
    eidEdges.unpersist(false)
    eidBc.foreach(_.unpersist(false))
    pos
  }

  /** Radial distances — the centrality proxy
    * (/root/reference/graphem/benchmark.py:110-111).
    */
  def radii(positions: DataFrame): DataFrame =
    positions.select(col("id"), norm2(col("pos")).as("radius"))
}
