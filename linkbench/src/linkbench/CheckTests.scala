package linkbench

/** Self-test of the output checks: each accepts a correct output and
  * rejects it once one element is corrupted. Exits non-zero on the
  * first check that misjudges. Run by linkbench/test_linkbench.py.
  */
object CheckTests {
  private var cases = 0

  private def expect(name: String, r: Checks.Result, ok: Boolean): Unit = {
    cases += 1
    if (r.isEmpty != ok) {
      System.err.println(s"FAIL $name: expected ${if (ok) "pass" else "failure"}, got $r")
      sys.exit(1)
    }
  }

  def main(args: Array[String]): Unit = {
    expect("mass", Checks.pagerankMass(Array.fill(4)(0.25)), ok = true)
    expect("mass off", Checks.pagerankMass(Array(0.25, 0.25, 0.25, 0.25 + 1e-8)), ok = false)

    val ids = Array(3L, 1L, 2L)
    val rk = Array(0.2, 0.5, 0.3)
    expect("ranks", Checks.sameValues(ids, rk, Array(1L, 2L, 3L), Array(0.5, 0.3, 0.2), 1e-12), ok = true)
    expect("ranks ulp", Checks.sameValues(ids, rk, Array(1L, 2L, 3L),
      Array(0.5, 0.3, java.lang.Math.nextUp(0.2)), 1e-12), ok = true)
    expect("ranks off", Checks.sameValues(ids, rk, Array(1L, 2L, 3L),
      Array(0.5, 0.3, 0.2 * (1 + 1e-10)), 1e-12), ok = false)
    expect("ranks missing", Checks.sameValues(ids.take(2), rk.take(2), ids, rk, 1e-12), ok = false)
    expect("closeness", Checks.sameValues(ids, rk, ids, rk.map(_ * (1 + 1e-14)), 1e-12), ok = true)
    expect("closeness off", Checks.sameValues(ids, rk, ids, rk.updated(2, 0.3 * (1 + 1e-9)), 1e-12),
      ok = false)
    expect("closeness other id", Checks.sameValues(ids, rk, ids.updated(0, 4L), rk, 1e-12), ok = false)

    // two triangles {1,2,3} and {4,5,6}, and the edge 7-8
    val src = Array(1L, 1L, 2L, 4L, 4L, 5L, 7L)
    val dst = Array(2L, 3L, 3L, 5L, 6L, 6L, 8L)
    val vs = Array(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)
    val cc = Array(1L, 1L, 1L, 4L, 4L, 4L, 7L, 7L)
    expect("cc", Checks.ccLabels(src, dst, vs, cc), ok = true)
    expect("cc flipped", Checks.ccLabels(src, dst, vs, cc.updated(1, 4L)), ok = false)
    expect("cc split", Checks.ccLabels(src, dst, vs, cc.updated(2, 3L)), ok = false)
    expect("cc not min", Checks.ccLabels(src, dst, vs, Array(2L, 2L, 2L, 4L, 4L, 4L, 7L, 7L)), ok = false)
    expect("cc missing", Checks.ccLabels(src, dst, vs.init, cc.init), ok = false)
    expect("cc count", Checks.componentCount(cc, 3), ok = true)
    expect("cc merged", Checks.componentCount(Array(1L, 1L, 1L, 1L, 1L, 1L, 7L, 7L), 3), ok = false)

    val lpa = Array(3L, 3L, 3L, 5L, 5L, 5L, 8L, 8L)
    expect("lpa", Checks.lpaLabels(vs, lpa, vs, cc), ok = true)
    expect("lpa foreign", Checks.lpaLabels(vs, lpa.updated(0, 5L), vs, cc), ok = false)
    expect("lpa missing", Checks.lpaLabels(vs.init, lpa.init, vs, cc), ok = false)

    val planted = Seq("a" -> "b", "c" -> "d")
    expect("recall", Checks.plantedRecall(Set("a" -> "b", "c" -> "d", "e" -> "f"), planted), ok = true)
    expect("recall dropped", Checks.plantedRecall(Set("a" -> "b", "e" -> "f"), planted), ok = false)

    expect("triangles", Checks.count("triangles", 2, 2), ok = true)
    expect("triangles off", Checks.count("triangles", 3, 2), ok = false)

    expect("rho", Checks.rhoPositive(0.5), ok = true)
    expect("rho negative", Checks.rhoPositive(-0.1), ok = false)
    expect("rho nan", Checks.rhoPositive(Double.NaN), ok = false)

    expect("values", Checks.perVertex("radius", Array(0.0, 1.5), 2), ok = true)
    expect("values negative", Checks.perVertex("radius", Array(-1.0, 1.5), 2), ok = false)
    expect("values infinite", Checks.perVertex("radius", Array(Double.PositiveInfinity, 1.5), 2), ok = false)
    expect("values missing", Checks.perVertex("radius", Array(1.5), 2), ok = false)

    val rIds = Array(10L, 11L, 12L, 13L)
    val radii = Array(1.0, 3.0, 3.0, 2.0)
    expect("topk", Checks.topK(Array(11L, 12L), rIds, radii, 2), ok = true)
    expect("topk order", Checks.topK(Array(12L, 11L), rIds, radii, 2), ok = false)

    println(s"$cases check cases passed")
  }
}
