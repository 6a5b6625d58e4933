package graft.graph

import PathFinder.Columns

/** The driver-local CSR every [[LocalKernels]] entry reads: the
  * reference's snapshot layout (`compressed_sparse_row.hpp:25-47`: `v`
  * offsets, `e` neighbour ids, `edge_ids`, optional `w`) in primitive
  * arrays, built per call from a strategy gate's [[Columns]].
  *
  * Vertices are the dense `Int`s numbering `ids`, the sorted distinct
  * extra ids ∪ edge endpoints, so comparing dense indices compares the
  * original ids. The out-edges of vertex `v` are the slots
  * `off(v) until off(v + 1)`; slot `p` leads to `nbr(p)`. The edge
  * view's remaining columns (eid, weight, ts) are permuted into slot
  * order and read by column ([[longs]], [[doubles]]).
  *
  * Slot order is the lexicographic order of (src, dst, remaining
  * columns). So when a view declares no eid, a slot's index IS the id
  * [[Snapshot.denseEdgeIds]] assigns on the distributed branch
  * ([[eids]]), and parallel edges of one vertex sit next to each other,
  * least eid (or weight) first.
  *
  * @param isExtra which vertices came from the extra ids
  */
private[graph] final class Csr private (val ids: Array[Long],
    val off: Array[Int], val nbr: Array[Int], val isExtra: Array[Boolean],
    payload: Array[AnyRef]) {

  def n: Int = ids.length
  def m: Int = nbr.length
  def degree(v: Int): Int = off(v + 1) - off(v)

  /** Dense indices of the extra ids, ascending. */
  def extra: Array[Int] = ids.indices.filter(isExtra(_)).toArray

  /** Dense index of `id`, or -1 when it is not a vertex. */
  def index(id: Long): Int = math.max(-1, java.util.Arrays.binarySearch(ids, id))

  /** Column `j` (≥ 2) of the edge view, in slot order. */
  def longs(j: Int): Array[Long] = payload(j - 2).asInstanceOf[Array[Long]]
  def doubles(j: Int): Array[Double] = payload(j - 2).asInstanceOf[Array[Double]]

  /** Edge ids by slot: column `j` when the view declares one, else the
    * slot index. */
  def eids(j: Int): Array[Long] =
    if (j - 2 < payload.length) longs(j) else Array.tabulate(m)(_.toLong)

  /** The simple view: self-loops dropped, parallel edges collapsed and,
    * when `symmetric`, every edge in both directions. Its vertices are
    * the extra ids ∪ the endpoints of the edges it keeps; its slots
    * carry no columns; each vertex's neighbours ascend. */
  def simple(symmetric: Boolean): Csr = {
    val (ub, vb) = (Array.newBuilder[Int], Array.newBuilder[Int])
    for (u <- 0 until n; p <- off(u) until off(u + 1) if nbr(p) != u) {
      ub += u; vb += nbr(p)
      if (symmetric) { ub += nbr(p); vb += u }
    }
    val (su, sv) = (ub.result(), vb.result())
    val keep = isExtra.clone()
    su.foreach(keep(_) = true)
    sv.foreach(keep(_) = true)
    val re = keep.scanLeft(0)((c, b) => if (b) c + 1 else c)
    val kept = (0 until n).filter(keep(_)).toArray
    val (u2, v2) = (su.map(re(_)), sv.map(re(_)))
    val (order, off0) = Csr.slotOrder(u2, v2, kept.length)
    val off2 = new Array[Int](kept.length + 1)
    val nbr2 = Array.newBuilder[Int]
    var last = -1
    for (u <- kept.indices) {
      for (p <- off0(u) until off0(u + 1)) {
        val v = v2(order(p))
        if (p == off0(u) || v != last) { nbr2 += v; off2(u + 1) += 1 }
        last = v
      }
      off2(u + 1) += off2(u)
    }
    new Csr(kept.map(ids(_)), off2, nbr2.result(), kept.map(isExtra(_)),
      Array.empty)
  }
}

private[graph] object Csr {

  /** The CSR of an edge view — first two columns (src, dst), any further
    * long or double columns carried per slot — over the vertices `extra`
    * ∪ its endpoints. Two stable counting sorts order the slots by
    * (src, dst); only runs of parallel edges are sorted further. */
  def apply(edges: Columns, extra: Array[Long] = Array.emptyLongArray): Csr = {
    val (src, dst) = (edges.longs(0), edges.longs(1))
    val all = extra ++ src ++ dst
    java.util.Arrays.sort(all)
    var nIds = 0
    for (x <- all if nIds == 0 || x != all(nIds - 1)) { all(nIds) = x; nIds += 1 }
    val ids = java.util.Arrays.copyOf(all, nIds)
    val isExtra = new Array[Boolean](ids.length)
    extra.foreach(x => isExtra(java.util.Arrays.binarySearch(ids, x)) = true)
    val (si, di) = (src.map(java.util.Arrays.binarySearch(ids, _)),
      dst.map(java.util.Arrays.binarySearch(ids, _)))
    val (order, off) = slotOrder(si, di, ids.length)
    val rest = edges.cols.drop(2)
    if (rest.nonEmpty) {
      val keys: Array[(Int, Int) => Int] = rest.map {
        case a: Array[Long] =>
          (x: Int, y: Int) => java.lang.Long.compare(a(x), a(y))
        case a: Array[Double] =>
          (x: Int, y: Int) => java.lang.Double.compare(a(x), a(y))
      }
      def before(x: Int, y: Int): Boolean = {
        var r, j = 0
        while (r == 0 && j < keys.length) { r = keys(j)(x, y); j += 1 }
        r < 0
      }
      var a = 0
      while (a < order.length) {
        var b = a + 1
        while (b < order.length && si(order(b)) == si(order(a)) &&
            di(order(b)) == di(order(a))) b += 1
        if (b - a > 1)
          order.slice(a, b).sortWith(before).copyToArray(order, a)
        a = b
      }
    }
    new Csr(ids, off, order.map(di(_)), isExtra, rest.map {
      case c: Array[Long] => order.map(c(_))
      case c: Array[Double] => order.map(c(_))
    })
  }

  /** Rows sorted by (u, v), input order within ties, and the offsets of
    * each u: a stable counting sort by v, then one by u. */
  private def slotOrder(u: Array[Int], v: Array[Int], n: Int)
      : (Array[Int], Array[Int]) =
    bucket(u, n, bucket(v, n, Array.range(0, u.length))._1)

  /** `order` stably sorted by `key` in [0, n), and the bucket offsets. */
  private def bucket(key: Array[Int], n: Int, order: Array[Int])
      : (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    key.foreach(k => off(k + 1) += 1)
    for (i <- 0 until n) off(i + 1) += off(i)
    val fill = java.util.Arrays.copyOf(off, n)
    val out = new Array[Int](order.length)
    order.foreach { r => out(fill(key(r))) = r; fill(key(r)) += 1 }
    (out, off)
  }
}
