package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.graph.Edges

/** Sampled-source closeness centrality — the SCALE path for the
  * path-centrality family. The reference computes closeness exactly
  * through networkx and its own bench only does so below n = 5000
  * (/root/reference/run_benchmarks.py:312-314); this operator covers
  * the regime above the cutoff with the Eppstein–Wang estimator
  * ("Fast approximation of centrality", SODA'01): run BFS from k
  * uniformly sampled sources and estimate the Wasserman-Faust improved
  * closeness (nx `wf_improved=True`, the oracle's convention) from the
  * sources that REACH v: with r = |reaching sources|, the reachable-set
  * size and distance sum extrapolate by n/k
  *
  *   rhat = r * (n/k),  shat = sd * (n/k)
  *   closeness(v) ~ ((rhat - 1) / (n - 1)) * ((rhat - 1) / shat)
  *
  * With k = n (all sources) rhat and shat are exact, so the estimator
  * IS nx wf_improved closeness — INCLUDING on disconnected graphs,
  * which the parity test exploits against the nx-exact PathCentralities
  * oracle. (On a connected graph every vertex has r = k and the formula
  * reduces to the classic k*(n-1)/(n*sd).) Vertices reached by no
  * source, or by only themselves, report 0.0 like nx.
  *
  * Shape: one simultaneous k-source frontier BFS — state is (source,
  * vertex, dist) rows, each level one join of the frontier against the
  * neighbor table, an anti-join against visited, and a min-aggregate;
  * lineage is truncated per level (iterative-loop discipline). Work is
  * O(k * E) total like k independent BFS, but batched through ONE
  * Catalyst plan per level regardless of k; state is at most k * V
  * rows. Sources are a deterministic hash sample (xxhash64), so runs
  * are reproducible across partitionings and cluster sizes.
  *
  * Disconnected graphs: the wf_improved component-size factor
  * ((rhat-1)/(n-1)) downweights small components exactly like nx; for
  * k < n the per-vertex rhat is itself an estimate (sources are sampled
  * globally, not per component), so above-cutoff values on disconnected
  * graphs carry the sampling error of BOTH factors — fine for the
  * ranking/correlation uses this scale path serves.
  */
object ApproxCloseness {

  /** Below this many neighbor rows (= 2E) the whole estimator runs
    * driver-locally: the level-synchronous loop costs ~4 tiny jobs per
    * BFS level in pure scheduling overhead on benchmark-scale graphs,
    * while a 1M-edge adjacency collects in ~30 MB and k BFS passes run
    * in milliseconds. Same gated-local-path pattern as SpectralInit and
    * Correlation.spearman: the distributed plan — the one that matters
    * at 100 TB — engages above the threshold, and the two paths are
    * BIT-IDENTICAL (the estimator is a long distance-sum plus a fixed
    * double expression, both order-independent), which the parity test
    * asserts with exact equality.
    */
  private[graft] val LocalNbrRowThreshold = 2000000L

  /** `explicitSources`: caller-chosen source vertex set (one `s`
    * column) overriding the hash sample — used by the SQL-mirrored
    * driver query, whose oracle cannot reproduce xxhash64.
    */
  def run(spark: SparkSession, edges: DataFrame, k: Int,
          seed: Long = 42, maxLevels: Int = 128,
          explicitSources: Option[DataFrame] = None,
          localNbrRowCap: Long = LocalNbrRowThreshold): DataFrame = {
    // Cache the edge pipeline itself (optimization round 6): the
    // adjacency, verts AND any caller-supplied source frame all contain
    // it as a subtree — the old code re-executed the scan+distinct once
    // per derived frame (2-3x per run). CacheManager plan-matching also
    // covers the caller's explicitSources expression. A frame the
    // caller already cached is used as is and left cached.
    val ownCache = edges.storageLevel == StorageLevel.NONE
    if (ownCache) edges.persist(StorageLevel.MEMORY_AND_DISK)
    val local = 2L * edges.count() <= localNbrRowCap
    // Explicit-source local short-circuit: with caller-chosen sources
    // nothing distributed is needed beyond ONE pass over the cached
    // edges — the vertex count is the adjacency's endpoint count
    // (identical to Edges.vertices on a canonical table) and kEff is
    // the collected source count, so the verts frame, its cache and its
    // counting jobs are skipped entirely. The hash-sample path below
    // still derives its sample from the distributed verts frame (Spark
    // xxhash64 ordering is not replicated driver-side).
    if (explicitSources.isDefined && local) {
      val adj = PathCentralitySmall.Adj(edges)
      val srcs = collectSources(explicitSources.get)
      val out = PathCentralitySmall.closenessLocal(
        spark, adj, srcs, adj.nV, srcs.length.toLong, maxLevels)
      if (ownCache) edges.unpersist(false)
      return out
    }
    val verts = Edges.vertices(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val n = verts.count()

    // deterministic uniform sample: the k smallest xxhash64(id, seed)
    val sources = graft.core.Lineage.truncate(explicitSources.getOrElse(
      verts.orderBy(xxhash64(col("id"), lit(seed)), col("id"))
        .limit(math.min(k.toLong, n).toInt).select(col("id").as("s"))))
    val kEff = sources.count()

    if (local) {
      val out = PathCentralitySmall.closenessLocal(
        spark, PathCentralitySmall.Adj(edges), collectSources(sources), n, kEff, maxLevels)
      graft.core.Lineage.release(sources)
      verts.unpersist(false)
      if (ownCache) edges.unpersist(false)
      return out
    }

    val nbrs = Edges.neighbors(edges).persist(StorageLevel.MEMORY_AND_DISK)
    var dist = graft.core.Lineage.truncate(
      sources.select(col("s"), col("s").as("id"), lit(0L).as("dist")))
    var frontier = dist
    var level = 0
    var done = false
    while (!done && level < maxLevels) {
      // expand the frontier one hop; keep only first discoveries
      val next = frontier.join(nbrs, "id")
        .select(col("s"), col("nbr").as("id"), (col("dist") + 1L).as("dist"))
        .join(dist.select(col("s"), col("id")), Seq("s", "id"), "left_anti")
        .groupBy(col("s"), col("id")).agg(min(col("dist")).as("dist"))
      val nf = graft.core.Lineage.truncate(next)
      if (nf.count() == 0) {
        graft.core.Lineage.release(nf)
        done = true
      } else {
        val nd = graft.core.Lineage.truncate(dist.union(nf))
        if (level > 0) graft.core.Lineage.release(frontier)
        graft.core.Lineage.release(dist)
        dist = nd
        frontier = nf
        level += 1
      }
    }

    // wf-improved estimator from the reaching-source count (the SQL
    // mirror reproduces this exact double-arithmetic shape)
    val ratio = n.toDouble / math.max(kEff, 1L).toDouble
    val rhat = col("r").cast("double") * lit(ratio)
    val est = dist.groupBy("id")
      .agg(sum(col("dist")).as("sd"), count(lit(1)).as("r"))
      .select(col("id"),
        when(col("sd") > 0,
          ((rhat - 1.0) / lit((n - 1).toDouble)) *
            ((rhat - 1.0) / (col("sd") * lit(ratio))))
          .otherwise(lit(0.0)).as("closeness"))
    val out = graft.core.Lineage.truncate(
      verts.join(est, Seq("id"), "left")
        .select(col("id"), coalesce(col("closeness"), lit(0.0)).as("closeness")))
    graft.core.Lineage.release(dist)
    if (level > 0) graft.core.Lineage.release(frontier)
    graft.core.Lineage.release(sources)
    nbrs.unpersist(false)
    verts.unpersist(false)
    if (ownCache) edges.unpersist(false)
    out
  }

  private[algos] def collectSources(sources: DataFrame): Array[Long] =
    sources.collect().map(_.getLong(0))
}
