package graft

import org.scalatest.funsuite.AnyFunSuite

/** Library behaviour is set through arguments and configs, never the
  * process environment: the engine packages may not read environment
  * variables. The allowed reads are deployment paths and a main's
  * thread count, not knobs on what the engine computes.
  */
class EnvGuardSpec extends AnyFunSuite {

  private val Packages =
    Seq("algos", "embed", "graph", "core", "text", "ingest", "functions", "ann")

  /** (file, variable) pairs allowed to read the environment. */
  private val Allowed = Set(
    "core/GraftSession.scala" -> "SPARK_LOCAL_DIRS", // Spark's scratch dir
    "embed/InfluenceBench.scala" -> "SPARK_GRAFT_CPUS") // its main's threads

  private val EnvRead = """sys\.env|System\.getenv""".r
  private val VarName = """"([A-Z_][A-Z0-9_]*)"""".r

  test("engine packages read no environment variables") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the project root (${root.getAbsolutePath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val offending = for {
      pkg <- Packages
      dir = new java.io.File(root, pkg) if dir.isDirectory
      f <- files(dir) if f.getName.endsWith(".scala")
      src = scala.io.Source.fromFile(f, "UTF-8")
      rel = root.toPath.relativize(f.toPath).toString
      (line, no) <- try src.getLines().toList.zipWithIndex finally src.close()
      if EnvRead.findFirstIn(line).isDefined
      vars = VarName.findAllMatchIn(line).map(_.group(1)).toSeq
      if vars.isEmpty || !vars.forall(v => Allowed((rel, v)))
    } yield s"$rel:${no + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n", "\n", ""))
  }
}
