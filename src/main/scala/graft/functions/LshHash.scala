package graft.functions

import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData

/** Row-local kernels behind the LSH signature expressions
  * ([[graft.plans.XxHashArrExpr]] / [[graft.plans.MinHashSigExpr]]) and
  * the candidate-pair verification ([[graft.plans.JaccardSortedExpr]]).
  * The signature kernels replace two per-row boundaries in the
  * MinHash-LSH skeleton:
  *
  *  - `[sort_array(]transform(sh, s => xxhash64(s))[)]` — an interpreted
  *    lambda per shingle, each hop converting through the expression
  *    evaluator; here one loop calling the SAME `XXH64.hashUTF8String`
  *    (seed 42) Spark's `xxhash64` uses, so values are bit-identical;
  *  - the minhash UDF (`Seq[Long]` boxed in, per-element mix, `Seq`
  *    boxed out) — the splitmix-style remix loop is unchanged verbatim,
  *    only the ScalaUDF boundary is gone.
  *
  * Shingle/hash arrays never carry null elements at the call sites
  * (shingle-set builders return non-null strings); a null element in
  * the string array hashes like the old transform (null element out,
  * sorted first by `sort_array` asc-nulls-first semantics).
  */
object LshHash {

  private val Seed = 42L // spark.sql.functions.xxhash64's fixed seed

  /** xxhash64 of every element; `sorted` applies sort_array's ascending
    * order. A null element hashes to the SEED (42) — Spark's `xxhash64`
    * is null-tolerant, not null-propagating — so the output never
    * carries nulls. */
  def xxhashArr(arr: ArrayData, sorted: Boolean): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (arr.isNullAt(i)) Seed
        else XXH64.hashUTF8String(arr.getUTF8String(i), Seed)
      i += 1
    }
    if (sorted) java.util.Arrays.sort(out)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** MinHash signature: for each of `numHashes` remix functions, the
    * minimum over the input hashes — the exact loop of the retired
    * `minHashFromBase` UDF (same constants, same order; an empty input
    * leaves every slot at Long.MaxValue, as before; a null element reads
    * as 0, as the UDF's unboxing did). */
  def minhashSig(hs: ArrayData, numHashes: Int): ArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = hs.numElements()
    var x = 0
    while (x < n) {
      val h0 = long(hs, x)
      var i = 0
      while (i < numHashes) {
        var z = h0 + 0x9E3779B97F4A7C15L * (i + 1)
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        if (z < mins(i)) mins(i) = z
        i += 1
      }
      x += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Jaccard similarity of two sorted distinct long arrays by
    * merge-count; empty vs empty (union 0) is 1.0. A null element reads
    * as 0. */
  def jaccardSorted(x: ArrayData, y: ArrayData): Double = {
    val na = x.numElements()
    val nb = y.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val xv = long(x, i)
      val yv = long(y, j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Element i, a null element reading as 0 whatever the array's
    * physical form (see [[VecKernels.at]]). */
  private def long(a: ArrayData, i: Int): Long =
    if (a.isNullAt(i)) 0L else a.getLong(i)
}
