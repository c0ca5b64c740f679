package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.algos.{ApproxBetweenness, ApproxCloseness}
import graft.graph.Edges

/** The sampled path centralities cache their edge input for the run,
  * but only when the caller has not: a frame the caller cached stays
  * cached, and one it did not is not left cached behind it.
  */
class CentralityCacheSpec extends SparkSuite {

  test("approx closeness/betweenness keep a caller's edge cache") {
    val e = graft.generators.Generators.ba(spark, 60, 2, 9)
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    val srcs = Edges.vertices(e).where(col("id") % 4 === 0).select(col("id").as("s"))
    for (cap <- Seq(ApproxCloseness.LocalNbrRowThreshold, 0L);
         explicit <- Seq(None, Some(srcs))) {
      ApproxCloseness.run(spark, e, k = 6, explicitSources = explicit,
        localNbrRowCap = cap).collect()
      assert(e.storageLevel == StorageLevel.MEMORY_AND_DISK,
        s"closeness cap=$cap explicit=${explicit.isDefined}")
      ApproxBetweenness.run(spark, e, k = 6, explicitSources = explicit,
        localNbrRowCap = cap).collect()
      assert(e.storageLevel == StorageLevel.MEMORY_AND_DISK,
        s"betweenness cap=$cap explicit=${explicit.isDefined}")
    }
    e.unpersist(true)

    val uncached = edgesOf(TwoPaths ++ K4.map { case (a, b) => (a + 10, b + 10) })
    for (cap <- Seq(ApproxCloseness.LocalNbrRowThreshold, 0L)) {
      ApproxCloseness.run(spark, uncached, k = 3, localNbrRowCap = cap).collect()
      ApproxBetweenness.run(spark, uncached, k = 3, localNbrRowCap = cap).collect()
      assert(uncached.storageLevel == StorageLevel.NONE, s"cap=$cap")
    }
  }
}
