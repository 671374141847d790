package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Row-local portable-hash kernel over a token array — the static
  * helper behind [[graft.plans.TokenGramHashExpr]], replacing two
  * interpreted higher-order pipelines with one fused loop:
  *
  *  - n == 1: `transform(toks, t => portableHash(t))` (optionally
  *    `pmod(_, mod)`) — the simhash token-hash and hashing-TF bucket
  *    index chains;
  *  - n >= 2: `transform(sequence(0, size(toks)-n),
  *    i => portableHash(concat_ws(" ", slice(toks, i+1, n))))` — the
  *    duplicate-span-scrub / span-gram-set chain, which additionally
  *    allocated the joined gram STRING per position before hashing it.
  *    Here the MD5 digest is fed the token bytes and single-space
  *    separators incrementally — no joined string is ever built.
  *
  * Hash values are [[TextFunctions.portableHash]]'s top-60-bits-of-md5
  * (shared [[WinnowKernel.hash60]]), so every DuckDB oracle replay is
  * unaffected. Null-element semantics reproduce the old pipelines
  * exactly: with n == 1 a null token hashes to a null element
  * (portableHash(null) = null); with n >= 2 `concat_ws` SKIPS null
  * tokens (separators only between retained items). `distinct` applies
  * `array_distinct` semantics (first-occurrence order). A row whose
  * token count is below n yields an empty array — the pre-r14 form
  * THREW there (descending `sequence` into `slice(_, 0, _)`), which is
  * why every call site filters `size(toks) >= n` first; the kernel is
  * total instead, and those filters remain.
  */
object GramHash {

  def hashes(toks: ArrayData, n: Int, mod: Int, distinct: Boolean): ArrayData = {
    val md = WinnowKernel.mdPool.get()
    val sz = toks.numElements()
    if (n == 1) {
      // per-token hash; null token -> null element (transform semantics)
      val out = new Array[Any](sz)
      var i = 0
      var anyNull = false
      while (i < sz) {
        if (toks.isNullAt(i)) { anyNull = true }
        else {
          val b = toks.getUTF8String(i).getBytes
          val h = WinnowKernel.hash60(md, b, 0, b.length)
          out(i) = java.lang.Long.valueOf(if (mod > 0) h % mod else h)
        }
        i += 1
      }
      finish(out, sz, anyNull, distinct)
    } else {
      if (sz < n) return WinnowKernel.EMPTY
      val grams = sz - n + 1
      val out = new Array[Any](grams)
      // token byte arrays fetched once, reused across the n windows
      // each token participates in
      val bytes = new Array[Array[Byte]](sz)
      var i = 0
      while (i < sz) {
        bytes(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i).getBytes
        i += 1
      }
      val space = ' '.toByte
      i = 0
      while (i < grams) {
        md.reset()
        var first = true
        var j = i
        while (j < i + n) {
          val tb = bytes(j) // null tokens skipped, concat_ws-style
          if (tb != null) {
            if (!first) md.update(space)
            md.update(tb)
            first = false
          }
          j += 1
        }
        val d = md.digest()
        var v = 0L
        var x = 0
        while (x < 7) { v = (v << 8) | (d(x) & 0xffL); x += 1 }
        v = (v << 4) | ((d(7) & 0xffL) >>> 4)
        out(i) = java.lang.Long.valueOf(if (mod > 0) v % mod else v)
        i += 1
      }
      finish(out, grams, anyNull = false, distinct)
    }
  }

  /** Dense bucket counts of a bucket-index array (the hashing-TF vector
    * over [[hashes]]' n = 1, mod = dim output): counts[i] = how many
    * elements equal i, for i in [0, dim). Null and out-of-range elements
    * are not counted. Behind [[graft.plans.BucketCountsExpr]]. */
  def bucketCounts(idx: ArrayData, dim: Int): ArrayData = {
    val counts = new Array[Double](dim)
    val n = idx.numElements()
    var j = 0
    while (j < n) {
      if (!idx.isNullAt(j)) {
        val v = idx.getLong(j)
        if (v >= 0L && v < dim) counts(v.toInt) += 1.0
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }

  private def finish(out: Array[Any], len: Int, anyNull: Boolean,
      distinct: Boolean): ArrayData = {
    if (!distinct) {
      if (anyNull) new GenericArrayData(out)
      else {
        val prim = new Array[Long](len)
        var i = 0
        while (i < len) { prim(i) = out(i).asInstanceOf[java.lang.Long].longValue(); i += 1 }
        UnsafeArrayData.fromPrimitiveArray(prim)
      }
    } else {
      // array_distinct: first-occurrence order; null kept once
      val seen = new java.util.LinkedHashSet[Any]()
      var i = 0
      while (i < len) { seen.add(out(i)); i += 1 }
      if (!anyNull) {
        val prim = new Array[Long](seen.size)
        val it = seen.iterator()
        i = 0
        while (it.hasNext) { prim(i) = it.next().asInstanceOf[java.lang.Long].longValue(); i += 1 }
        UnsafeArrayData.fromPrimitiveArray(prim)
      } else {
        new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
      }
    }
  }
}
