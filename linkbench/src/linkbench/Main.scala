package linkbench

import java.lang.management.ManagementFactory
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.core.GraftSession

/** Runs one workload and prints, as the last stdout line, one JSON
  * object: {correct, attempted, failed, metrics}.
  *
  * Usage: linkbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  *        <cores> <launchEpochNs>
  *
  * Set-up is the time from `launchEpochNs` (taken by the launcher just
  * before it starts this JVM) to the end of the cached input load in an
  * engine session ([[GraftSession.local]]). Then one cold pass, then
  * warm passes until `seconds` have passed since the cold pass, and at
  * least [[MinPasses]] untraced ones. With trace 0 the end-to-end
  * metrics are medians over the warm passes; with trace 1 warm passes
  * alternate untraced and traced, starting and ending untraced, the
  * per-layer metrics come from the traced ones, and `trace_overhead`
  * compares the two kinds.
  */
object Main {
  val MinPasses = 1

  /** Top-level spans, one per call into a layer; the union over all
    * workloads, so every workload reports the same per-layer keys (0
    * where the span does not run).
    */
  val Spans = Seq(
    "ingest.links", "ingest.dictionary", "ingest.densify", "graph.edges", "text.minhash",
    "algos.pagerank", "algos.pagerank_ckpt", "algos.pagerank_resume", "algos.cc",
    "algos.lpa", "algos.triangles", "algos.closeness", "algos.pagerank_fixed",
    "embed.spectral", "embed.layout", "embed.radii", "embed.correlation", "embed.seeds")

  /** Per-pass values reported from the traced passes. */
  val PassValues = Seq(
    "algos.pagerank.iters" -> "count", "core.checkpoint_mb" -> "MB",
    "core.checkpoint_files" -> "count", "algos.pagerank_resume.inexact_vertices" -> "count",
    "text.minhash.pairs_out" -> "count",
    "text.minhash.planted_recall" -> "ratio", "ingest.links.rows" -> "count",
    "rho_radius_degree" -> "rho", "rho_radius_pagerank" -> "rho")

  final case class PassRec(traced: Boolean, span: Span, wallS: Double,
                           coreS: Double, shuffleMb: Double, spillMb: Double,
                           failedTasks: Double, gcS: Double, heapPeakMb: Double,
                           values: Map[String, Double])

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(_.getName.contains("Old Gen"))

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val Array(name, input, work, secondsArg, traceArg, coresArg, launchArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val wl = Workload(name, input, work)

    val spark = GraftSession.local(cores, appName = "linkbench")
    spark.sparkContext.setLogLevel("WARN")
    wl.load(spark)
    val now = Instant.now()
    val setupS = (now.getEpochSecond * 1000000000L + now.getNano - launchArg.toLong) / 1e9
    val tracer = new Tracer(spark.sparkContext)

    val recs = mutable.ArrayBuffer.empty[PassRec]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    def runPass(traced: Boolean): Unit = {
      val idx = recs.length
      val out = new PassOut(tracer)
      tracer.traced = traced
      val gc0 = gcMs()
      oldGen.foreach(_.resetPeakUsage())
      var err: Option[Throwable] = None
      val (_, span) = tracer.pass(idx) {
        try wl.pass(spark, tracer, out, idx)
        catch { case NonFatal(e) => err = Some(e) }
      }
      val gcS = (gcMs() - gc0) / 1e3
      val heapMb = oldGen.map(_.getPeakUsage.getUsed / 1e6).getOrElse(0.0)
      tracer.drain()
      attempted += out.ops
      val checks = err match {
        case Some(e) => Seq("pass" -> Some(e.toString))
        case None =>
          try { out.afterPass(); out.checks() }
          catch { case NonFatal(e) => Seq("checks" -> Some(e.toString)) }
      }
      attempted += checks.count(_._1 != "pass")
      checks.collect { case (n, Some(why)) =>
        failed += 1
        failures += s"pass $idx $n: $why"
      }
      try out.cleanup() catch { case NonFatal(e) => failures += s"pass $idx cleanup: $e" }
      recs += PassRec(traced, span, span.wallS,
        tracer.total(span, _.cpuNs) / 1e9, tracer.total(span, _.shuffleWriteBytes) / 1e6,
        tracer.total(span, _.spillBytes) / 1e6, tracer.total(span, _.failedTasks).toDouble,
        gcS, heapMb, out.values.toMap)
    }

    runPass(traced = false) // cold
    val t0 = System.nanoTime()
    def warm(traced: Boolean): Seq[PassRec] = recs.tail.filter(_.traced == traced).toSeq
    // traced passes sit between untraced ones, so warm-up that is still
    // going on does not bias trace_overhead
    def more: Boolean =
      (System.nanoTime() - t0) / 1e9 < seconds || warm(false).length < MinPasses ||
        (trace && (warm(true).isEmpty || warm(false).length <= warm(true).length))
    while (more) runPass(traced = trace && warm(true).length < warm(false).length)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val untraced = warm(false)
    val traced = warm(true)
    def top(r: PassRec, n: String) = tracer.childrenOf(r.span).find(_.name == n)
    def med(f: PassRec => Double, rs: Seq[PassRec]) = median(rs.map(f))
    if (!trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("cold_pass_s") = (recs.head.wallS, "s")
      metrics("pass_s") = (med(_.wallS, untraced), "s")
      metrics("core_s") = (med(_.coreS, untraced), "s")
      metrics("shuffle_mb") = (med(_.shuffleMb, untraced), "MB")
      metrics("pagerank_s") = (med(_.values.getOrElse("pagerank_s", 0.0), untraced), "s")
      metrics("pagerank_superstep_eps") =
        (med(_.values.getOrElse("pagerank_superstep_eps", 0.0), untraced), "1/s")
    } else {
      Spans.foreach { n =>
        def per(f: Span => Double) = median(traced.map(r => top(r, n).map(f).getOrElse(0.0)))
        metrics(s"$n.wall_s") = (per(_.wallS), "s")
        metrics(s"$n.stages") = (per(s => tracer.total(s, _.stages).toDouble), "count")
        metrics(s"$n.shuffle_mb") = (per(s => tracer.total(s, _.shuffleWriteBytes) / 1e6), "MB")
        metrics(s"$n.core_s") = (per(s => tracer.total(s, _.cpuNs) / 1e9), "s")
        metrics(s"$n.slot_util") =
          (per(s => tracer.total(s, _.runMs) / 1e3 / (s.wallS * cores)), "ratio")
      }
      // supersteps 1..n-2: step 0 also carries the layout's init and
      // the last one materialises the final state differently
      def inner(r: PassRec) = top(r, "embed.layout").toSeq.flatMap { l =>
        val steps = tracer.childrenOf(l).filter(_.name == "embed.layout.step")
        steps.slice(1, steps.length - 2)
      }
      metrics("embed.layout.superstep_s") = (median(traced.map(r => median(inner(r).map(_.wallS)))), "s")
      metrics("embed.layout.stages_per_superstep") =
        (median(traced.map(r => median(inner(r).map(s => tracer.total(s, _.stages).toDouble)))), "count")
      PassValues.foreach { case (n, unit) =>
        metrics(n) = (med(_.values.getOrElse(n, 0.0), traced), unit)
      }
      metrics("gc_s") = (med(_.gcS, traced), "s")
      metrics("spill_mb") = (med(_.spillMb, traced), "MB")
      metrics("failed_tasks") = (med(_.failedTasks, traced), "count")
      metrics("driver_heap_peak_mb") = (med(_.heapPeakMb, traced), "MB")
      metrics("trace_overhead") = (med(_.wallS, traced) / med(_.wallS, untraced), "ratio")
      metrics("trace_coverage") = (median(traced.map(r =>
        Spans.flatMap(top(r, _)).map(_.wallS).sum / r.wallS)), "ratio")
      tracer.writeJsonl(s"$work/trace.jsonl")
    }

    // which engine or kernel each operator took: only traced spans
    // carry stage counts
    val regime = if (!trace) Map.empty else Spans.flatMap { n =>
      traced.flatMap(top(_, n)).lastOption.map { s =>
        n -> (s.attrs.toMap ++ Map("stages" -> tracer.total(s, _.stages),
          "shuffle_mb" -> tracer.total(s, _.shuffleWriteBytes) / 1e6))
      }
    }.toMap
    println(json.writeValueAsString(Map("workload" -> name, "passes" -> recs.length,
      "pass_s" -> recs.map(_.wallS), "setup_s" -> setupS, "regime" -> regime,
      "failures" -> failures)))
    spark.stop()
    println(json.writeValueAsString(Map("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u)
      })))
  }
}
