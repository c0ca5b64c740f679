package graft.core

import org.apache.spark.sql.DataFrame

/** The one place that turns an edge frame into driver arrays, shared by
  * every gated driver-local graph kernel (ConnectedComponents,
  * LabelPropagation, TriangleCount, PageRank.fixedIterPortableLocal,
  * SpectralInit, ForceLayout's local init, and the ApproxCloseness /
  * ApproxBetweenness twins in PathCentralitySmall): one collected edge
  * list, a sorted distinct id table with dense indices, and CSR
  * adjacency. Primitive arrays throughout — no boxed rows, tuples or
  * hash maps.
  *
  * All outputs are deterministic functions of the input ROW SEQUENCE
  * (ids are sorted, indices are ranks, CSR slots are filled in input
  * row order), so kernels built on them inherit the parity arguments
  * of their callers.
  */
object LocalGraph {

  /** Collect a two-long-column frame into two primitive arrays in ONE
    * job: each partition ships its rows as two `Array[Long]`, and the
    * driver concatenates them in partition order, so row i is the i-th
    * row `df.collect()` would return.
    *
    * Driver memory: 16 B per row retained. While the partition arrays
    * are concatenated both copies are live (32 B per row), and task
    * results still in flight are held serialized (at most 16 B per row
    * more), so the peak is at most 48 B per row. At the callers' gates:
    * 80 MB retained / 240 MB peak at the 5M-edge cap (CC, LPA, portable
    * PageRank, SpectralInit, ForceLayout local init); 16 / 48 MB at the
    * 1M-edge triangle cap; 16 / 48 MB for the 1M edge rows behind the
    * 2M-neighbor-row cap of closeness / betweenness, which mirror them
    * as int indices.
    */
  def collectPairs(df: DataFrame, c1: String, c2: String): (Array[Long], Array[Long]) = {
    val parts = df.select(c1, c2).queryExecution.toRdd.mapPartitions { rows =>
      val a = new scala.collection.mutable.ArrayBuilder.ofLong
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      rows.foreach { r => a += r.getLong(0); b += r.getLong(1) }
      Iterator((a.result(), b.result()))
    }.collect()
    val a = new Array[Long](parts.iterator.map(_._1.length).sum)
    val b = new Array[Long](a.length)
    var off = 0
    parts.foreach { case (pa, pb) =>
      System.arraycopy(pa, 0, a, off, pa.length)
      System.arraycopy(pb, 0, b, off, pb.length)
      off += pa.length
    }
    (a, b)
  }

  /** Sorted distinct values of `a` and `b` together. */
  def sortedIds(a: Array[Long], b: Array[Long]): Array[Long] = {
    val all = new Array[Long](a.length + b.length)
    System.arraycopy(a, 0, all, 0, a.length)
    System.arraycopy(b, 0, all, a.length, b.length)
    java.util.Arrays.sort(all)
    var w = 0
    var j = 0
    while (j < all.length) {
      if (w == 0 || all(j) != all(w - 1)) { all(w) = all(j); w += 1 }
      j += 1
    }
    java.util.Arrays.copyOf(all, w)
  }

  /** Dense index of `id` in a [[sortedIds]] table, -1 if absent. */
  def indexOf(ids: Array[Long], id: Long): Int = {
    val i = java.util.Arrays.binarySearch(ids, id)
    if (i >= 0) i else -1
  }

  /** Sorted distinct endpoint ids plus the dense index of every row's
    * endpoints: ids(sIdx(i)) == srcA(i), ids(dIdx(i)) == dstA(i).
    */
  def dense(srcA: Array[Long], dstA: Array[Long]): (Array[Long], Array[Int], Array[Int]) = {
    val ids = sortedIds(srcA, dstA)
    val sIdx = new Array[Int](srcA.length)
    val dIdx = new Array[Int](srcA.length)
    var i = 0
    while (i < srcA.length) {
      sIdx(i) = java.util.Arrays.binarySearch(ids, srcA(i))
      dIdx(i) = java.util.Arrays.binarySearch(ids, dstA(i))
      i += 1
    }
    (ids, sIdx, dIdx)
  }

  /** Directed CSR over dense indices: input row i adds to(i) to the
    * slot list of from(i), slots filled in input row order. Out-degree
    * of v is rowPtr(v+1) - rowPtr(v).
    */
  def csr(n: Int, from: Array[Int], to: Array[Int]): (Array[Int], Array[Int]) = {
    val rowPtr = new Array[Int](n + 1)
    var i = 0
    while (i < from.length) { rowPtr(from(i) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { rowPtr(i + 1) += rowPtr(i); i += 1 }
    val colIdx = new Array[Int](from.length)
    val cursor = rowPtr.clone()
    i = 0
    while (i < from.length) {
      colIdx(cursor(from(i))) = to(i); cursor(from(i)) += 1
      i += 1
    }
    (rowPtr, colIdx)
  }

  /** Undirected CSR over dense indices: both directions of every input
    * row, slots filled in input row order (row j's forward slot, then
    * its mirrored slot). Degree of v is rowPtr(v+1) - rowPtr(v).
    */
  def undirectedCsr(n: Int, sIdx: Array[Int], dIdx: Array[Int]): (Array[Int], Array[Int]) = {
    val rowPtr = new Array[Int](n + 1)
    var i = 0
    while (i < sIdx.length) { rowPtr(sIdx(i) + 1) += 1; rowPtr(dIdx(i) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { rowPtr(i + 1) += rowPtr(i); i += 1 }
    val colIdx = new Array[Int](rowPtr(n))
    val cursor = rowPtr.clone()
    var j = 0
    while (j < sIdx.length) {
      colIdx(cursor(sIdx(j))) = dIdx(j); cursor(sIdx(j)) += 1
      colIdx(cursor(dIdx(j))) = sIdx(j); cursor(dIdx(j)) += 1
      j += 1
    }
    (rowPtr, colIdx)
  }
}
