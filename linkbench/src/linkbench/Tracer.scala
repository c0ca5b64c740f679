package linkbench

import java.io.PrintWriter

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A named interval on the driver plus the Spark work its jobs did.
  * The counters hold the span's own work; [[Tracer.total]] adds the
  * work of its descendants.
  */
final class Span(val id: Int, val parent: Int, val name: String, val pass: Int,
                 val startNs: Long) {
  var endNs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val attrs = mutable.LinkedHashMap.empty[String, Any]
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Span recorder backed by one SparkListener.
  *
  * The open span's id travels to Spark as a job-local property; each
  * submitted stage is charged to the span named by its job's property,
  * and each finished task's metrics to its stage's span. Attribution
  * therefore stays exact when listener events arrive after the driver
  * has moved on. Pass spans are always attributed (they give the
  * untraced per-pass totals); child spans are attributed only while
  * `traced` is set. Spans stay in memory until [[writeJsonl]].
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Key = "linkbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val t0 = System.nanoTime()
  private var stack: List[Span] = Nil
  private var passIdx = -1
  var traced = false

  sc.addSparkListener(this)

  private def open(name: String, attribute: Boolean): Span = synchronized {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.length, parent, name, passIdx, System.nanoTime())
    spans += s
    stack = s :: stack
    if (attribute) sc.setLocalProperty(Key, s.id.toString)
    s
  }

  /** Opens a child of the innermost open span; its wall time is
    * always kept.
    */
  def begin(name: String): Span = open(name, attribute = traced)

  /** Closes the innermost open span. */
  def end(): Unit = synchronized {
    val s = stack.head
    s.endNs = System.nanoTime()
    stack = stack.tail
    // hand attribution back to the nearest enclosing attributed span
    val back = stack.find(p => p.parent < 0 || traced)
    sc.setLocalProperty(Key, back.map(_.id.toString).orNull)
  }

  /** One pass: the root span that every job of the pass is charged to. */
  def pass[A](idx: Int)(body: => A): (A, Span) = {
    passIdx = idx
    val s = open("pass", attribute = true)
    try (body, s) finally end()
  }

  def span[A](name: String)(body: => A): A = {
    begin(name)
    try body finally end()
  }

  /** The latest span named `name`. */
  def last(name: String): Span = synchronized(spans.findLast(_.name == name).get)

  /** The innermost open span. */
  def current: Span = synchronized(stack.head)

  /** Closes the innermost span and opens a sibling; for loop hooks. */
  def next(name: String): Unit = { end(); begin(name) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
    id.foreach { i =>
      val s = spans(i.toInt)
      stageSpan(e.stageInfo.stageId) = s
      s.stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Waits for queued listener events, so counters are complete. */
  def drain(): Unit = org.apache.spark.linkbench.Drain(sc)

  private def children: Map[Int, Seq[Span]] = synchronized(spans.toSeq.groupBy(_.parent))

  /** `f` summed over `s` and all its descendants. */
  def total(s: Span, f: Span => Long): Long = {
    val kids = children
    def go(x: Span): Long = f(x) + kids.getOrElse(x.id, Nil).map(go).sum
    go(s)
  }

  def childrenOf(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)

  /** One JSON object per span, in start order. */
  def writeJsonl(path: String): Unit = {
    val out = new PrintWriter(path, "UTF-8")
    try synchronized {
      spans.foreach { s =>
        out.println(Main.json.writeValueAsString(mutable.LinkedHashMap(
          "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "pass" -> s.pass,
          "start_s" -> (s.startNs - t0) / 1e9, "wall_s" -> s.wallS,
          "stages" -> total(s, _.stages), "tasks" -> total(s, _.tasks),
          "failed_tasks" -> total(s, _.failedTasks), "core_s" -> total(s, _.cpuNs) / 1e9,
          "task_run_s" -> total(s, _.runMs) / 1e3,
          "shuffle_write_mb" -> total(s, _.shuffleWriteBytes) / 1e6,
          "shuffle_read_mb" -> total(s, _.shuffleReadBytes) / 1e6,
          "spill_mb" -> total(s, _.spillBytes) / 1e6, "attrs" -> s.attrs)))
      }
    } finally out.close()
  }
}
