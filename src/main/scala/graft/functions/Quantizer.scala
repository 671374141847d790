package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

/** Squared-L2 quantizer kernels: the per-row side of
  * [[graft.plans.NearestCellsExpr]], [[graft.plans.PqEncodeExpr]],
  * [[graft.plans.PqLutExpr]] and [[graft.plans.PqAdcExpr]], and the
  * assignment step of the in-memory Lloyd fits
  * ([[graft.operators.Similarity.lloyd]], [[graft.operators.IvfPq.fit]]).
  *
  * One nearest-centroid rule serves all of them ([[argmin]] over
  * [[sqDist]]): squared L2 summed in index order, and a candidate wins
  * only with a strictly smaller distance, so ties go to the lower index.
  * The IVF and PQ oracles replay exactly this rule. The row kernels read
  * their vector once into a primitive array ([[VecKernels.dense]]); the
  * Lloyd fits pass their sample rows as they are. */
object Quantizer {

  /** Squared L2 between v[off, off + m) and ctr[0, m), summed in index
    * order, where m = min(|ctr|, |v| − off): a short vector compares on
    * its prefix. */
  def sqDist(v: Array[Double], off: Int, ctr: Array[Double]): Double = {
    val m = math.min(ctr.length, math.max(0, v.length - off))
    var d = 0.0
    var i = 0
    while (i < m) { val t = v(off + i) - ctr(i); d += t * t; i += 1 }
    d
  }

  /** The nearest-centroid rule: the index of the smallest dist(c) among
    * c < n not marked in `used` (null: none are), strict `<` so the first
    * index wins ties. The search starts at the first unused candidate,
    * so a row whose distances are all NaN or +Inf still gets a cell;
    * −1 only when every candidate is used. */
  def argmin(dist: Array[Double], n: Int, used: Array[Boolean]): Int = {
    var best = -1
    var bestD = Double.MaxValue
    var c = 0
    while (c < n) {
      if (used == null || !used(c)) {
        if (best < 0) best = c
        if (dist(c) < bestD) { bestD = dist(c); best = c }
      }
      c += 1
    }
    best
  }

  private def distances(v: Array[Double], off: Int, ctrs: Array[Array[Double]],
      dist: Array[Double]): Unit = {
    var c = 0
    while (c < ctrs.length) { dist(c) = sqDist(v, off, ctrs(c)); c += 1 }
  }

  /** Nearest of `ctrs` to v[off, ...); `dist` is a work buffer of at
    * least |ctrs| entries, so a fit loop can reuse one buffer. */
  def nearest(v: Array[Double], off: Int, ctrs: Array[Array[Double]],
      dist: Array[Double]): Int = {
    distances(v, off, ctrs, dist)
    argmin(dist, ctrs.length, null)
  }

  /** The min(k, |ctrs|) nearest cells by ascending distance, ties to the
    * lower index: successive [[argmin]] over the unused cells, which is
    * the stable `sortBy(distance).take(k)` order. */
  def nearestCells(v: ArrayData, ctrs: Array[Array[Double]], k: Int): ArrayData = {
    val n = ctrs.length
    val dist = new Array[Double](n)
    distances(VecKernels.dense(v), 0, ctrs, dist)
    val used = new Array[Boolean](n)
    val out = new Array[Int](math.min(k, n))
    var j = 0
    while (j < out.length) {
      val best = argmin(dist, n, used)
      used(best) = true
      out(j) = best
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** PQ codes: per subspace s (dims [s·dsub, (s+1)·dsub), dsub the
    * centroid length), the nearest entry of `books(s)`. */
  def pqEncode(v: ArrayData, books: Array[Array[Array[Double]]]): ArrayData = {
    val x = VecKernels.dense(v)
    val out = new Array[Int](books.length)
    var dist = Array.emptyDoubleArray
    var s = 0
    while (s < books.length) {
      val book = books(s)
      if (dist.length < book.length) dist = new Array[Double](book.length)
      out(s) = nearest(x, s * book(0).length, book, dist)
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** ADC lookup table: lut[s·ksub + c] = squared L2 from subvector s to
    * `books(s)(c)`, with ksub = |books(0)|. */
  def pqLut(v: ArrayData, books: Array[Array[Array[Double]]]): ArrayData = {
    val x = VecKernels.dense(v)
    val ksub = books(0).length
    val out = new Array[Double](books.length * ksub)
    var s = 0
    while (s < books.length) {
      val book = books(s)
      val off = s * book(0).length
      var c = 0
      while (c < book.length) { out(s * ksub + c) = sqDist(x, off, book(c)); c += 1 }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Asymmetric PQ distance Σ_s lut[s·ksub + codes[s]], summed in
    * subspace order; an index past the table adds nothing, and a null
    * code or table entry reads as 0. */
  def pqAdc(codes: ArrayData, lut: ArrayData, ksub: Int): Double = {
    var d = 0.0
    var s = 0
    val m = codes.numElements()
    while (s < m) {
      val idx = s * ksub + (if (codes.isNullAt(s)) 0 else codes.getInt(s))
      if (idx < lut.numElements()) d += VecKernels.at(lut, idx)
      s += 1
    }
    d
  }
}
