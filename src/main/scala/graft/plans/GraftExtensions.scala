package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}

// graft's native Catalyst expressions. Each one's row arithmetic lives in
// one static kernel in `graft.functions` (VecKernels, Quantizer, LshHash,
// GramHash, UnitVec, WinnowKernel, Hilbert, UnicodeNorm, Robots). Its
// `eval` and its one-line `doGenCode` call that same method, so the
// interpreted and the compiled path cannot diverge; matrix state reaches
// generated code through `ctx.addReferenceObj`.

/** Native Catalyst expression for cosine similarity of two double-array
  * columns — the custom-Expression tier of the extension ladder
  * (SURVEY.md §7.1: compose built-ins where possible, drop to a codegen
  * `Expression` where the built-ins interpret per element). The
  * higher-order-function formulation (`aggregate(zip_with(...))`)
  * evaluates its lambda per element on every row; a Scala UDF boxes both
  * arrays per call. This expression runs one loop over the array data
  * ([[graft.functions.VecKernels.cosine]]) inside whole-stage codegen.
  */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim needs two array<double> args, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.VecKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.functions.VecKernels.cosine($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

/** Plain dot product of two double-array columns — the re-rank kernel of
  * every ANN path (brute force, LSH, IVF) and the SemDeDup pair scan,
  * which score pre-normalized unit vectors where cosine degenerates to
  * the dot. The Scala UDF form boxes both arrays into Seq[Double] per
  * candidate PAIR (the quadratic term); this expression is one loop
  * ([[graft.functions.VecKernels.dot]]) inside whole-stage codegen, summing
  * in the same index order as the UDF it replaces — results are
  * bit-identical, so the embedded-constant oracles are unaffected. */
case class DotArrExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_arr needs two array<double> args, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_arr"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.VecKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.functions.VecKernels.dot($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotArrExpr =
    copy(left = newLeft, right = newRight)
}

/** Dense bucket-count vector of a long-array column: counts[i] = how
  * many elements equal i, for i in [0, dim) — the hashing-trick TF
  * kernel ([[graft.functions.TextFunctions.hashingTfVector]]). The
  * higher-order form (`transform(sequence(0, dim-1), i =>
  * size(filter(idx, _ === i)))`) re-scans the token array once PER
  * BUCKET — O(dim·tokens) interpreted lambda evaluations per row; this
  * expression is one O(tokens + dim) loop. Out-of-range and null
  * elements are simply not counted (exactly the filter-count
  * semantics), values are integer counts cast to double — bit-identical
  * output, so the full-precision cosine oracles are unaffected. */
case class BucketCountsExpr(child: Expression, dim: Int)
    extends UnaryExpression {
  require(dim >= 1, s"bucket_counts: dim must be >= 1, got $dim")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bucket_counts needs an array<bigint> arg, got ${other.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "bucket_counts"

  override protected def nullSafeEval(a: Any): Any =
    graft.functions.GramHash.bucketCounts(a.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.functions.GramHash.bucketCounts($a, $dim);")

  override protected def withNewChildInternal(newChild: Expression): BucketCountsExpr =
    copy(child = newChild)
}

/** xxhash64 of every element of a string-array column, optionally
  * sorted ascending — the native form of
  * `[sort_array(]transform(sh, s => xxhash64(s))[)]`, the shingle-hash
  * step of the MinHash-LSH skeleton (an interpreted lambda per shingle
  * before). Calls the same `XXH64.hashUTF8String` (seed 42) Spark's
  * `xxhash64` builtin uses, so values are bit-identical and the LSH
  * banding/candidate sets are unchanged; a null element hashes to the
  * seed (42) exactly like the builtin — xxhash64 is null-tolerant, not
  * null-propagating — so the output never carries nulls (spec-pinned). */
case class XxHashArrExpr(child: Expression, sorted: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"xxhash_arr needs an array<string> arg, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "xxhash_arr"

  override protected def nullSafeEval(a: Any): Any =
    graft.functions.LshHash.xxhashArr(a.asInstanceOf[ArrayData], sorted)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.functions.LshHash.xxhashArr($a, $sorted);"
    })

  override protected def withNewChildInternal(newChild: Expression): XxHashArrExpr =
    copy(child = newChild)
}

/** MinHash signature of a long-array column — the retired
  * `minHashFromBase` ScalaUDF's exact splitmix remix/min loop (same
  * constants, same order, Long.MaxValue slots on empty input) without
  * the per-row Seq boxing boundary. Signatures are bit-identical, so
  * band buckets — xxhash64 over the signature slice's decimal string —
  * and therefore the LSH candidate sets are unchanged. */
case class MinHashSigExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes >= 1, s"minhash_sig: numHashes must be >= 1, got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig needs an array<bigint> arg, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(a: Any): Any =
    graft.functions.LshHash.minhashSig(a.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.functions.LshHash.minhashSig($a, $numHashes);"
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** Portable gram hashes of a token-array column — the native form of
  * the two interpreted pipelines over [[graft.functions.TextFunctions.portableHash]]:
  * `transform(toks, t => [pmod(]portableHash(t)[, mod)])` (n = 1: the
  * simhash token-hash and hashing-TF bucket-index chains) and
  * `transform(sequence(0, size-n), i => portableHash(concat_ws(" ",
  * slice(toks, i+1, n))))` (n >= 2: the duplicate-span-scrub /
  * span-gram-set chains, which also built the joined gram string per
  * position). One fused loop ([[graft.functions.GramHash]]) inside
  * whole-stage codegen; for n >= 2 the MD5 digest is fed token bytes
  * and space separators incrementally — no gram string allocation.
  * Same md5-derived 60-bit values, same null-token semantics
  * (null-in-null-out per element at n = 1, concat_ws null-skip at
  * n >= 2), `distinct` = array_distinct's first-occurrence order —
  * bit-identical arrays, spec-pinned (GraftExtensionsSpec), so the
  * DuckDB oracle replays are unaffected. Sub-n rows yield an empty
  * array (the old form threw; all call sites filter size >= n first). */
case class TokenGramHashExpr(child: Expression, n: Int, mod: Int,
    distinct: Boolean) extends UnaryExpression {
  require(n >= 1, s"gram_hashes: n must be >= 1, got $n")
  require(mod >= 0, s"gram_hashes: mod must be >= 0, got $mod")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"gram_hashes needs an array<string> arg, got ${other.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(LongType, containsNull = n == 1)
  override def prettyName: String = "gram_hashes"

  override protected def nullSafeEval(a: Any): Any =
    graft.functions.GramHash.hashes(a.asInstanceOf[ArrayData], n, mod, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.functions.GramHash.hashes($a, $n, $mod, $distinct);"
    })

  override protected def withNewChildInternal(newChild: Expression): TokenGramHashExpr =
    copy(child = newChild)
}

/** Unit-length projection of a double-array column — the native form of
  * `sqrt(aggregate(transform(v, x*x), 0.0, +))` followed by
  * `when(n === 0, v).otherwise(transform(v, x / n))`
  * ([[graft.operators.Similarity.withUnitVec]]). The HOF pipeline
  * evaluates three interpreted lambdas per element per row and its
  * CASE-WHEN-of-transforms tree dominates the generated code of every
  * ANN/embedding plan; this is one fused loop
  * ([[graft.functions.UnitVec]]) inside whole-stage codegen. The
  * accumulation order, sqrt, per-element division, all-zero passthrough
  * and null-element poisoning reproduce the old form bit-for-bit
  * (GraftExtensionsSpec pins it) — the embedded-constant oracles
  * (IVF/SemDeDup centroids, ANN hit counts) were fitted on those exact
  * doubles. */
case class UnitVecExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"unit_vec needs an array<double> arg, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "unit_vec"

  override protected def nullSafeEval(a: Any): Any =
    graft.functions.UnitVec.unit(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.functions.UnitVec.unit($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): UnitVecExpr =
    copy(child = newChild)
}

/** Winnowing document fingerprints of a string column — the native form
  * of `winnowUdf(transform(charShingles(s, k), g => portableHash(g)), w)`
  * ([[graft.functions.TextFunctions.winnowedFingerprints]]). The old
  * pipeline paid an interpreted higher-order lambda per gram (transform
  * does not codegen), a 32-digit hex string + substring + base-16 conv
  * string parse per hash, and boxed the hash array across a ScalaUDF
  * boundary per row; this expression is one call into the row-local
  * [[graft.functions.WinnowKernel]] (thread-reused MD5, primitive
  * arrays) from inside whole-stage codegen. Hash values, window minima
  * and distinct-ascending order are bit-identical (KernelSpec pins the
  * old-form equivalence), so the md5-based DuckDB oracle replays
  * unchanged.
  *
  * Null contract (inherited EXACTLY from the UDF form, which received a
  * null Seq and returned Array.empty): null text yields an EMPTY array,
  * not null — the expression is therefore non-nullable. */
case class WinnowFpExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1, s"winnow_fps: k must be >= 1, got $k")
  require(w >= 1, s"winnow_fps: w must be >= 1, got $w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fps needs a string arg, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "winnow_fps"

  override def eval(input: InternalRow): Any =
    graft.functions.WinnowKernel.fingerprintsOrEmpty(
      child.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = code"""
        ${c.code}
        $javaType ${ev.value} = graft.functions.WinnowKernel.fingerprintsOrEmpty(
          ${c.isNull} ? null : ${c.value}, $k, $w);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFpExpr =
    copy(child = newChild)
}

/** Hilbert curve index (2-D xy→d bit walk) of two non-negative long
  * columns, for [[graft.operators.ZOrder.hilbertValue]]: one
  * `bits`-iteration exact 64-bit integer loop per row
  * ([[graft.functions.Hilbert.xy2d]]). Unrolled as `bits` chained
  * Projects of CASE trees, the same walk costs seconds of analysis per
  * query and a generated body far past JIT-friendly size; the loop does
  * the same integer steps in the same order, so the unrolled-CTE SQL
  * oracle replays it exactly. */
case class HilbertXy2dExpr(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  require(bits >= 1 && 2 * bits <= 62,
    s"hilbert_xy2d: $bits bits per axis = ${2 * bits} index bits (max 62)")

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case org.apache.spark.sql.types.LongType => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hilbert_xy2d needs two bigint args, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "hilbert_xy2d"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.Hilbert.xy2d(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Hilbert.xy2d($a, $b, $bits);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertXy2dExpr =
    copy(left = newLeft, right = newRight)
}

/** Jaccard similarity of two SORTED distinct long arrays by merge-count —
  * the verification kernel of the MinHash dedup path, as a codegen
  * expression (the UDF form boxes both arrays per candidate pair). */
case class JaccardSortedExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaccard_sorted needs two array<bigint> args, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.LshHash.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.LshHash.jaccardSorted($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSortedExpr =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane sign-bit sketch as a native expression: one fused
  * loop over the unsafe vector data against a codegen-referenced plane
  * matrix (closure state rides along as a reference object — the
  * registry/literal route would re-materialize the matrix per row). The
  * UDF form boxed the vector into Seq[Double] per row, and the pure
  * expression form (bits·dim element_at terms) overflows the 64KB
  * generated-method limit; this keeps whole-stage codegen AND the
  * closure matrix. Bit order and arithmetic match the UDF exactly.
  *
  * Plane state is `Seq[Seq[Double]]` (not `Array`): case-class equality
  * on Array fields is by reference, which would make two semantically
  * identical sketch expressions never compare equal and defeat
  * common-subexpression elimination and exchange reuse. */
case class HyperplaneSketchExpr(child: Expression,
    planes: Seq[Seq[Double]])
    extends UnaryExpression {

  @transient private lazy val planeArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sketch needs array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "hyperplane_sketch"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.VecKernels.hyperplaneSketch(input.asInstanceOf[ArrayData], planeArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pls = ctx.addReferenceObj("planes", planeArr, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.VecKernels.hyperplaneSketch($v, $pls);")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSketchExpr =
    copy(child = newChild)
}

/** k nearest quantizer cells (IVF assignment / probe set) as a native
  * expression over a codegen-referenced centroid matrix. Output is the
  * cell indices ordered by ascending squared distance, ties to the
  * lower index — EXACTLY the stable `sortBy(distance).take(k)` of the
  * UDF it replaces (successive strict-minimum selection reproduces a
  * stable ascending order; [[graft.functions.Quantizer.nearestCells]]).
  * A row whose distances are all NaN or +Inf (a NaN element) gets the
  * lowest-index cells. */
case class NearestCellsExpr(child: Expression,
    centroids: Seq[Seq[Double]], k: Int)
    extends UnaryExpression {

  @transient private lazy val centroidArr: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells needs array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.Quantizer.nearestCells(input.asInstanceOf[ArrayData], centroidArr, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ctrs = ctx.addReferenceObj("centroids", centroidArr, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.Quantizer.nearestCells($v, $ctrs, $k);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellsExpr =
    copy(child = newChild)
}

/** Product-quantization encoder: argmin code per subspace (Jégou, Douze,
  * Schmid 2011, "Product quantization for nearest neighbor search",
  * IEEE TPAMI). Subspace s covers dims [s·dsub, (s+1)·dsub); output is
  * the m-code array. Same first-index-wins tie rule and index-order
  * squared-L2 accumulation as [[NearestCellsExpr]] (one kernel,
  * [[graft.functions.Quantizer]]) — the q_similarity_pq
  * oracle replays both choices exactly. `books` is Seq-shaped (not
  * Array) so equal-codebook expressions compare equal for CSE. */
case class PqEncodeExpr(child: Expression,
    books: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {

  @transient private lazy val bookArr: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode needs array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.Quantizer.pqEncode(input.asInstanceOf[ArrayData], bookArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bs = ctx.addReferenceObj("books", bookArr, "double[][][]")
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.functions.Quantizer.pqEncode($v, $bs);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** Query-side PQ distance table (the "asymmetric distance computation"
  * LUT): squared L2 from each query subvector to every codebook entry,
  * flattened as lut[s·ksub + c]. Computed ONCE per query row (queries ≪
  * corpus); every corpus pair then scores with m lookups via
  * [[PqAdcExpr]] instead of dim multiplies. */
case class PqLutExpr(child: Expression,
    books: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {

  @transient private lazy val bookArr: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_lut needs array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.Quantizer.pqLut(input.asInstanceOf[ArrayData], bookArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bs = ctx.addReferenceObj("books", bookArr, "double[][][]")
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.functions.Quantizer.pqLut($v, $bs);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqLutExpr =
    copy(child = newChild)
}

/** Sign-bit packing for binary quantization: bit b of word w is set iff
  * vec[w·64 + b] ≥ 0 — a d-dim vector compresses to ⌈d/64⌉ longs (ONE
  * long at d=64: 64× under float32). Pure integer output, so the
  * q_similarity_bq oracle replays packing AND the Hamming ranking
  * bit-exactly with no embedded constants and no float margins. */
case class SignPackExpr(child: Expression, dim: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_pack needs array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "sign_pack"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.VecKernels.signPack(input.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.functions.VecKernels.signPack($v, $dim);")

  override protected def withNewChildInternal(newChild: Expression): SignPackExpr =
    copy(child = newChild)
}

/** Per-pair asymmetric PQ distance: Σ_s lut[s·ksub + codes[s]] — the hot
  * loop of a compressed-domain scan (m lookups per pair; summation in
  * subspace order, matching [[PqLutExpr]]'s layout, so two rows with
  * equal codes score bit-identically). */
case class PqAdcExpr(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.IntegerType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_adc needs (array<int> codes, array<double> lut), got " +
        s"(${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.Quantizer.pqAdc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Quantizer.pqAdc($a, $b, $ksub);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcExpr =
    copy(left = newLeft, right = newRight)
}

/** Unicode normalization (UAX #15) of a string column through the JDK's
  * `java.text.Normalizer` — the canonical-form contract every hash-keyed
  * curation step silently assumes (CCNet normalizes before hashing; a
  * decomposed `e`+U+0301 and a composed `é` are different bytes, so the
  * same sentence fingerprints, shingles, and dedups differently until
  * NFC makes byte equality mean glyph equality). No Spark built-in
  * expresses it, and a Scala UDF crosses the UTF8String↔String boundary
  * OUTSIDE codegen per row; this expression stays inside whole-stage
  * codegen and takes the `isNormalized` fast path first — real web text
  * is overwhelmingly already NFC, and the quick-check scan then skips
  * the normalize allocation entirely, returning the input UTF8String
  * untouched.
  *
  * `form` ∈ NFC | NFD | NFKC | NFKD, validated at analysis time and
  * baked into the generated code as a constant. */
case class UnicodeNormalizeExpr(child: Expression, form: String)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!UnicodeNormalizeExpr.Forms.contains(form))
      TypeCheckResult.TypeCheckFailure(
        s"unicode_norm form must be one of ${UnicodeNormalizeExpr.Forms.mkString("/")}, got '$form'")
    else child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"unicode_norm needs a string arg, got ${other.simpleString}")
    }
  override def dataType: DataType = child.dataType
  override def prettyName: String = "unicode_norm"

  @transient private lazy val normForm = java.text.Normalizer.Form.valueOf(form)

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.UnicodeNorm.normalize(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], normForm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.UnicodeNorm.normalize($v, java.text.Normalizer.Form.$form);")

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalizeExpr =
    copy(child = newChild)
}

object UnicodeNormalizeExpr {
  val Forms: Set[String] = Set("NFC", "NFD", "NFKC", "NFKD")
}

/** RFC 9309 robots.txt gate as a native expression:
  * `robots_allowed(robotsTxt, path)` for the crawler product token
  * `agent` (an analysis-time constant baked into the generated code —
  * one pipeline crawls as one agent). The parse/group-select/
  * longest-match walk lives in [[graft.functions.Robots.allowed]]
  * (pure JDK, no regex) and is invoked directly from whole-stage
  * codegen — a Scala UDF would re-cross the UTF8String boundary
  * outside codegen per row. Null robots or null path follow the
  * null-in-null-out contract (a crawl frame with no robots snapshot
  * should coalesce to '' — the protocol is opt-out, so empty means
  * allowed). */
case class RobotsAllowedExpr(left: Expression, right: Expression,
    agent: String) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!agent.matches("[A-Za-z0-9_./-]+"))
      TypeCheckResult.TypeCheckFailure(
        s"robots_allowed agent must be a product token ([A-Za-z0-9_./-]+), got '$agent'")
    else (left.dataType, right.dataType) match {
      case (_: StringType, _: StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"robots_allowed needs (string robotsTxt, string path), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "robots_allowed"

  override protected def nullSafeEval(robots: Any, path: Any): Any =
    graft.functions.Robots.allowed(robots.toString, path.toString, agent)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, p) => {
      // the agent charset is validated at analysis; it contains no
      // characters needing Java string escaping
      s"""${ev.value} = graft.functions.Robots.allowed(
         |  $r.toString(), $p.toString(), "$agent");
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): RobotsAllowedExpr =
    copy(left = newLeft, right = newRight)
}

/** `SparkSessionExtensions` entry point: registers graft's native
  * expressions. Install with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * or `GraftExtensions.register(spark)` on a live session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {
  private[graft] val cosineSimDescriptor = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimExpr].getName, "cosine_sim"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "cosine_sim(a, b) takes two array<double> columns")
      CosineSimExpr(children.head, children(1))
    })

  private[graft] val dotArrDescriptor = (
    FunctionIdentifier("dot_arr"),
    new ExpressionInfo(classOf[DotArrExpr].getName, "dot_arr"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "dot_arr(a, b) takes two array<double> columns")
      DotArrExpr(children.head, children(1))
    })

  private[graft] val jaccardSortedDescriptor = (
    FunctionIdentifier("jaccard_sorted"),
    new ExpressionInfo(classOf[JaccardSortedExpr].getName, "jaccard_sorted"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "jaccard_sorted(a, b) takes two array<bigint> columns")
      JaccardSortedExpr(children.head, children(1))
    })

  private[graft] val unicodeNormDescriptor = (
    FunctionIdentifier("unicode_norm"),
    new ExpressionInfo(classOf[UnicodeNormalizeExpr].getName, "unicode_norm"),
    (children: Seq[Expression]) => {
      require(children.size == 1 || children.size == 2,
        "unicode_norm(s[, form]) takes a string column and an optional literal form")
      val form = children.lift(1).map {
        case lit if lit.foldable && lit.dataType.isInstanceOf[StringType] =>
          String.valueOf(lit.eval(null))
        case other => throw new IllegalArgumentException(
          s"unicode_norm form must be a string literal, got $other")
      }.getOrElse("NFC")
      UnicodeNormalizeExpr(children.head, form)
    })

  private[graft] val hilbertXy2dDescriptor = (
    FunctionIdentifier("hilbert_xy2d"),
    new ExpressionInfo(classOf[HilbertXy2dExpr].getName, "hilbert_xy2d"),
    (children: Seq[Expression]) => {
      require(children.size == 3,
        "hilbert_xy2d(x, y, bits) takes two bigint columns and a literal bit width")
      val bits = children(2) match {
        case lit if lit.foldable &&
            lit.dataType == org.apache.spark.sql.types.IntegerType =>
          lit.eval(null).asInstanceOf[Int]
        case other => throw new IllegalArgumentException(
          s"hilbert_xy2d bits must be an int literal, got $other")
      }
      HilbertXy2dExpr(children.head, children(1), bits)
    })

  private[graft] val robotsAllowedDescriptor = (
    FunctionIdentifier("robots_allowed"),
    new ExpressionInfo(classOf[RobotsAllowedExpr].getName, "robots_allowed"),
    (children: Seq[Expression]) => {
      require(children.size == 2 || children.size == 3,
        "robots_allowed(robotsTxt, path[, agent]) takes two string columns " +
          "and an optional literal agent token")
      val agent = children.lift(2).map {
        case lit if lit.foldable && lit.dataType.isInstanceOf[StringType] =>
          String.valueOf(lit.eval(null))
        case other => throw new IllegalArgumentException(
          s"robots_allowed agent must be a string literal, got $other")
      }.getOrElse("graftbot")
      RobotsAllowedExpr(children.head, children(1), agent)
    })

  /** Every SQL-registered function: the one list both the extensions
    * entry point and [[register]] install. */
  private[graft] val descriptors = Seq(cosineSimDescriptor,
    jaccardSortedDescriptor, dotArrDescriptor, unicodeNormDescriptor,
    robotsAllowedDescriptor, hilbertXy2dDescriptor)

  /** Column-level accessors — resolve through the function registry, so
    * `register(spark)` (or the extensions config) must have run. */
  def cosineSim(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("cosine_sim", a, b)
  def jaccardSorted(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("jaccard_sorted", a, b)
  def dotArr(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("dot_arr", a, b)
  def hilbertXy2d(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
      bits: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("hilbert_xy2d", x, y,
      org.apache.spark.sql.functions.lit(bits))

  /** Register on an already-built session (local/test convenience). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    descriptors.foreach { d =>
      spark.sessionState.functionRegistry.registerFunction(d._1, d._2, d._3)
    }
}
