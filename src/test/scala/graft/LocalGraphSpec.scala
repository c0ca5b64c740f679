package graft

import graft.core.LocalGraph
import graft.graph.Edges

/** The driver-local graph substrate every local kernel builds on: id
  * densification, CSR slot order, and the collect's row order — the
  * properties the local/distributed bit-parity arguments rest on.
  */
class LocalGraphSpec extends SparkSuite {

  test("sortedIds and dense: sorted distinct ids, indices map back to rows") {
    val src = Array(5L, -3L, 5L, 9L)
    val dst = Array(9L, 5L, 7L, -3L)
    assert(LocalGraph.sortedIds(src, dst).toSeq == Seq(-3L, 5L, 7L, 9L))
    assert(LocalGraph.sortedIds(Array.empty, Array.empty).isEmpty)
    val (ids, sIdx, dIdx) = LocalGraph.dense(src, dst)
    assert(ids.toSeq == Seq(-3L, 5L, 7L, 9L))
    assert(sIdx.toSeq == Seq(1, 0, 1, 3))
    assert(dIdx.toSeq == Seq(3, 1, 2, 0))
    src.indices.foreach { i =>
      assert(ids(sIdx(i)) == src(i) && ids(dIdx(i)) == dst(i))
    }
  }

  test("indexOf: dense index of a present id, -1 for a missing one") {
    val ids = Array(-3L, 5L, 7L, 9L)
    assert(ids.indices.forall(i => LocalGraph.indexOf(ids, ids(i)) == i))
    Seq(Long.MinValue, -4L, 0L, 6L, 8L, 10L, Long.MaxValue).foreach { id =>
      assert(LocalGraph.indexOf(ids, id) == -1, s"id $id")
    }
    assert(LocalGraph.indexOf(Array.empty[Long], 1L) == -1)
  }

  test("csr: slots follow input row order, not target order") {
    // rows: 2->0, 0->2, 2->1, 1->2, 0->1
    val (rowPtr, colIdx) =
      LocalGraph.csr(4, Array(2, 0, 2, 1, 0), Array(0, 2, 1, 2, 1))
    assert(rowPtr.toSeq == Seq(0, 2, 3, 5, 5)) // vertex 3 has no out-slots
    assert(colIdx.toSeq == Seq(2, 1, 2, 0, 1))
  }

  test("undirectedCsr: each row's forward slot, then its mirrored slot") {
    // rows: 0-2, 1-2, 0-1
    val (rowPtr, colIdx) =
      LocalGraph.undirectedCsr(3, Array(0, 1, 0), Array(2, 2, 1))
    assert(rowPtr.toSeq == Seq(0, 2, 4, 6))
    // vertex 0: 2 (row 0), 1 (row 2); vertex 1: 2 (row 1), 0 (row 2
    // mirrored); vertex 2: 0 (row 0 mirrored), 1 (row 1 mirrored)
    assert(colIdx.toSeq == Seq(2, 1, 2, 0, 0, 1))
  }

  test("collectPairs: partition then row order; neighbors = forward ++ mirrored") {
    import spark.implicits._
    val rows = Seq((4L, 9L), (1L, 2L), (7L, 3L), (0L, 8L), (5L, 6L))
    val e = spark.sparkContext.parallelize(rows, 3).toDF("src", "dst")
    assert(e.rdd.getNumPartitions == 3)
    val (a, b) = LocalGraph.collectPairs(e, "src", "dst")
    assert(a.toSeq.zip(b.toSeq) == rows)
    assert(a.toSeq.zip(b.toSeq) ==
      e.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // the union behind PathCentralitySmall's adjacency: all forward rows
    // in partition order, then all mirrored rows in the same order
    val (na, nb) = LocalGraph.collectPairs(Edges.neighbors(e), "id", "nbr")
    assert(na.toSeq == (a ++ b).toSeq)
    assert(nb.toSeq == (b ++ a).toSeq)
    // empty partitions and an empty frame
    val sparse = spark.sparkContext.parallelize(rows.take(2), 7).toDF("src", "dst")
    val (sa, sb) = LocalGraph.collectPairs(sparse, "src", "dst")
    assert(sa.toSeq.zip(sb.toSeq) == rows.take(2))
    val (ea, eb) = LocalGraph.collectPairs(e.where($"src" < 0L), "src", "dst")
    assert(ea.isEmpty && eb.isEmpty)
  }
}
