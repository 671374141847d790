package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

/** Row-local dense-vector kernels behind [[graft.plans.CosineSimExpr]],
  * [[graft.plans.DotArrExpr]], [[graft.plans.HyperplaneSketchExpr]] and
  * [[graft.plans.SignPackExpr]]. Each expression's `eval` and generated
  * code call the same method, so the two paths cannot diverge.
  *
  * Sums accumulate in index order from 0.0 — the order of the UDFs these
  * kernels replaced — so the embedded-constant oracles (ANN hit counts,
  * IVF/SemDeDup centroids) replay bit-identically. A null element reads
  * as 0.0 ([[at]]). */
object VecKernels {

  /** Element i, a null element reading as 0.0. A columnar batch keeps
    * arbitrary bits in a null slot, so a raw `getDouble` would make the
    * result depend on the array's physical form (a parquet scan under
    * whole-stage codegen vs a copied row); 0.0 is what an
    * `UnsafeArrayData` null slot holds and what the replaced UDFs read. */
  @inline def at(a: ArrayData, i: Int): Double =
    if (a.isNullAt(i)) 0.0 else a.getDouble(i)

  /** The elements as a primitive array, null elements as 0.0 ([[at]]):
    * one pass, so a kernel that reads each element once per plane or
    * centroid reads a plain array after it. */
  def dense(a: ArrayData): Array[Double] = {
    val out = new Array[Double](a.numElements())
    var i = 0
    while (i < out.length) { out(i) = at(a, i); i += 1 }
    out
  }

  /** Cosine of the first min(|x|, |y|) elements: dot / (‖x‖·‖y‖). */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = at(x, i)
      val yi = at(y, i)
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Dot product of the first min(|x|, |y|) elements. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += at(x, i) * at(y, i); i += 1 }
    dot
  }

  /** Random-hyperplane sign sketch: bit p is set iff v · planes(p) > 0,
    * over the first min(|plane|, |v|) elements. */
  def hyperplaneSketch(v: ArrayData, planes: Array[Array[Double]]): Long = {
    val x = dense(v)
    var sig = 0L
    var p = 0
    while (p < planes.length) {
      val pl = planes(p)
      var dot = 0.0
      var d = 0
      val n = math.min(pl.length, x.length)
      while (d < n) { dot += x(d) * pl(d); d += 1 }
      if (dot > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Sign bits packed into ⌈dim/64⌉ longs: bit b of word w is set iff
    * v[w·64 + b] ≥ 0. Elements past `dim` are ignored; missing ones
    * leave their bits clear. */
  def signPack(v: ArrayData, dim: Int): ArrayData = {
    val out = new Array[Long]((dim + 63) / 64)
    val n = math.min(dim, v.numElements())
    var i = 0
    while (i < n) {
      if (at(v, i) >= 0.0) out(i >>> 6) |= (1L << (i & 63))
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
