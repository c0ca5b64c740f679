package linkbench

/** Output checks. Each returns None when the output is correct and a
  * one-line reason otherwise; a failed check counts against
  * `op_fail_ratio` like an exception. Inputs are primitive arrays
  * collected from the engine's outputs.
  */
object Checks {

  type Result = Option[String]

  private def fail(cond: Boolean, why: => String): Result = if (cond) None else Some(why)

  /** PageRank mass is 1 within 1e-9. */
  def pagerankMass(ranks: Array[Double]): Result = {
    val s = ranks.sum
    fail(math.abs(s - 1.0) <= 1e-9, s"rank mass $s")
  }

  /** Two (id, value) tables hold the same ids, and each value is
    * within `relTol` of the reference's, relative to it; with `relTol`
    * 0 they must be equal.
    */
  def sameValues(ids: Array[Long], values: Array[Double],
                 refIds: Array[Long], refValues: Array[Double], relTol: Double): Result = {
    val a = ids.zip(values).sortBy(_._1)
    val b = refIds.zip(refValues).sortBy(_._1)
    fail(a.length == b.length, s"${a.length} values vs ${b.length}").orElse {
      val bad = a.indices.filter(i => a(i)._1 != b(i)._1 ||
        !(a(i)._2 == b(i)._2 || math.abs(a(i)._2 - b(i)._2) <= relTol * math.abs(b(i)._2)))
      bad.headOption.map { i =>
        val rel = bad.map(j => math.abs(a(j)._2 - b(j)._2) / math.abs(b(j)._2)).max
        s"${bad.length} of ${a.length} values differ (max relative difference $rel); " +
          s"vertex ${a(i)._1}: ${a(i)._2} vs ${b(i)._1} -> ${b(i)._2}"
      }
    }
  }

  private def labelMap(ids: Array[Long], labels: Array[Long]): Map[Long, Long] =
    ids.iterator.zip(labels.iterator).toMap

  /** Connected-component labels: every vertex of the edge table has one
    * label, both endpoints of every edge share it, and the label is the
    * minimum id of its component (it is a vertex that labels itself and
    * no member is smaller).
    */
  def ccLabels(src: Array[Long], dst: Array[Long], ids: Array[Long],
               labels: Array[Long]): Result = {
    val lab = labelMap(ids, labels)
    val verts = (src.iterator ++ dst.iterator).toSet
    fail(lab.size == ids.length && lab.keySet == verts,
      s"${lab.size} labelled vertices for ${verts.size} edge endpoints").orElse {
      src.indices.find(i => lab(src(i)) != lab(dst(i)))
        .map(i => s"edge ${src(i)}-${dst(i)} spans labels ${lab(src(i))}, ${lab(dst(i))}")
    }.orElse {
      lab.find { case (v, l) => l > v || lab.get(l) != Some(l) }
        .map { case (v, l) => s"vertex $v has label $l, not its component minimum" }
    }
  }

  /** A count equals the reference count. */
  def count(what: String, got: Long, expected: Long): Result =
    fail(got == expected, s"$what $got, expected $expected")

  def componentCount(labels: Array[Long], expected: Long): Result =
    count("components", labels.distinct.length.toLong, expected)

  /** Label propagation: every vertex is labelled, and with a vertex id
    * of its own connected component (labels only travel along edges).
    */
  def lpaLabels(ids: Array[Long], labels: Array[Long],
                ccIds: Array[Long], ccLabels: Array[Long]): Result = {
    val cc = labelMap(ccIds, ccLabels)
    fail(ids.length == cc.size && ids.forall(cc.contains),
      s"${ids.length} LPA labels for ${cc.size} vertices").orElse {
      ids.indices.find(i => cc.get(labels(i)) != cc.get(ids(i)))
        .map(i => s"vertex ${ids(i)} took label ${labels(i)} from another component")
    }
  }

  /** Share of the planted near-duplicate pairs among the found pairs. */
  def recall(found: Set[(String, String)], planted: Seq[(String, String)]): Double =
    if (planted.isEmpty) 1.0 else planted.count(found.contains).toDouble / planted.length

  def plantedRecall(found: Set[(String, String)], planted: Seq[(String, String)]): Result = {
    val r = recall(found, planted)
    fail(r == 1.0, s"planted-pair recall $r")
  }

  /** graphem's claim: radius rises with degree. */
  def rhoPositive(rho: Double): Result = fail(rho > 0.0, s"rho(radius, degree) = $rho")

  /** One finite, non-negative value per vertex. */
  def perVertex(what: String, values: Array[Double], vertices: Long): Result =
    fail(values.length == vertices, s"${values.length} $what values for $vertices vertices")
      .orElse(fail(values.forall(v => v >= 0.0 && !v.isInfinite),
        s"$what has a negative or non-finite value"))

  /** Seeds are the top-k ids by radius, ties broken by the smaller id. */
  def topK(seeds: Array[Long], ids: Array[Long], radii: Array[Double], k: Int): Result = {
    val want = ids.zip(radii).sortBy { case (i, r) => (-r, i) }.take(k).map(_._1)
    fail(seeds.sameElements(want),
      s"seeds ${seeds.mkString(",")}, expected ${want.mkString(",")}")
  }
}
