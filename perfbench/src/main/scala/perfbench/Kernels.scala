package perfbench

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

import graft.plans._

/** Per-row cost of the native Catalyst expressions and of the text
  * kernels, in ns/row. Each kernel is evaluated over two cached seeded
  * frames, of [[Small]] and [[Big]] rows, and the per-row cost is the
  * difference of the two median times over the difference of the row
  * counts, so the fixed cost of a job drops out. Each native expression is
  * timed under `spark.sql.codegen.factoryMode` CODEGEN_ONLY (with
  * whole-stage codegen) and NO_CODEGEN (without it), so the compiled
  * `doGenCode` path and the interpreted `eval` path are both measured. */
object Kernels {
  val Small = 10000
  val Big = 50000
  /** Timed pairs per kernel: more while they took under [[KernelS]]
    * seconds, so cheap kernels, whose row difference is a few ms, get
    * [[MaxReps]] pairs and costly ones one. */
  val MaxReps = 5
  val KernelS = 0.4
  val Dim = 32

  private def e(name: String): Expression = GraftColumnBridge.expression(col(name))

  private def matrix(seed: Long, rows: Int, cols: Int, salt: Int): Seq[Seq[Double]] = {
    val r = new java.util.SplittableRandom(seed * 31 + salt)
    Seq.fill(rows)(Seq.fill(cols)(r.nextDouble() - 0.5))
  }

  /** The 18 native expressions, by their SQL pretty names. */
  def natives(seed: Long): Seq[(String, Expression)] = {
    val books = Seq.tabulate(4)(s => matrix(seed, 16, Dim / 4, 100 + s))
    Seq(
      "cosine_sim" -> CosineSimExpr(e("v"), e("w")),
      "dot_arr" -> DotArrExpr(e("v"), e("w")),
      "bucket_counts" -> BucketCountsExpr(e("la"), 64),
      "xxhash_arr" -> XxHashArrExpr(e("toks"), sorted = true),
      "minhash_sig" -> MinHashSigExpr(e("la"), 128),
      "gram_hashes" -> TokenGramHashExpr(e("toks"), 5, 0, distinct = false),
      "unit_vec" -> UnitVecExpr(e("v")),
      "winnow_fps" -> WinnowFpExpr(e("text"), 5, 4),
      "hilbert_xy2d" -> HilbertXy2dExpr(e("x"), e("y"), 16),
      "jaccard_sorted" -> JaccardSortedExpr(e("la"), e("lb")),
      "hyperplane_sketch" -> HyperplaneSketchExpr(e("v"), matrix(seed, 16, Dim, 1)),
      "nearest_cells" -> NearestCellsExpr(e("v"), matrix(seed, 16, Dim, 2), 2),
      "pq_encode" -> PqEncodeExpr(e("v"), books),
      "pq_lut" -> PqLutExpr(e("v"), books),
      "sign_pack" -> SignPackExpr(e("v"), Dim),
      "pq_adc" -> PqAdcExpr(e("codes"), e("lut"), 16),
      "unicode_norm" -> UnicodeNormalizeExpr(e("utext"), "NFC"),
      "robots_allowed" -> RobotsAllowedExpr(e("robots"), e("path"), "graftbot"))
  }

  def texts: Seq[(String, Column)] = {
    import graft.functions.TextFunctions._
    Seq(
      "quality_score" -> qualityScore(col("text")),
      "lang_id" -> langId(col("text")),
      "token_count" -> tokenCount(col("text")),
      "winnowed_fingerprints" -> winnowedFingerprints(col("text")))
  }

  /** The metric names [[run]] reports. */
  def names: Seq[String] = natives(0L).map(_._1).flatMap(n =>
    Seq(s"plans.$n.ns_per_row.codegen", s"plans.$n.ns_per_row.interpreted")) ++
    texts.map { case (n, _) => s"functions.$n.ns_per_row" }

  def input(spark: SparkSession, seed: Long, rows: Int): DataFrame = {
    def vec(salt: Int) = transform(sequence(lit(0), lit(Dim - 1)),
      i => Inputs.u(seed, salt, xxhash64(col("id"), i)) - 0.5)
    def longs(salt: Int) = array_sort(array_distinct(transform(sequence(lit(0), lit(63)),
      i => pmod(xxhash64(col("id"), i, lit(seed), lit(salt)), lit(1000L)))))
    val text = Inputs.words(seed, 60, Inputs.ui(seed, 61, 10, 100))
    spark.range(rows).select(
      vec(1).as("v"), vec(2).as("w"), longs(3).as("la"), longs(4).as("lb"),
      text.as("text"), split(text, " ").as("toks"),
      Inputs.ui(seed, 5, 0, 65535).as("x"), Inputs.ui(seed, 6, 0, 65535).as("y"),
      transform(sequence(lit(0), lit(3)),
        i => pmod(xxhash64(col("id"), i, lit(seed)), lit(16L)).cast("int")).as("codes"),
      transform(sequence(lit(0), lit(63)), i => Inputs.u(seed, 7, xxhash64(col("id"), i)))
        .as("lut"),
      concat(text, lit(" café naıve")).as("utext"),
      when(col("id") % 3 === 0, lit("User-agent: *\nDisallow: /private\n"))
        .when(col("id") % 3 === 1, lit("User-agent: *\nAllow: /page\nDisallow: /\n"))
        .otherwise(lit("User-agent: graftbot\nDisallow: /*.gif$\n")).as("robots"),
      concat(lit("/page/"), col("id"), when(col("id") % 2 === 0, lit(".gif")).otherwise(lit("")))
        .as("path"))
  }

  private def seconds(df: DataFrame, c: Column): Double = {
    val t0 = Util.now()
    df.select(c.as("o")).write.format("noop").mode("overwrite").save()
    Util.secs(t0, Util.now())
  }

  def run(spark: SparkSession, seed: Long): Map[String, Double] = {
    val small = input(spark, seed, Small).cache()
    val big = input(spark, seed, Big).cache()
    small.count()
    big.count()
    // one untimed pass compiles the plan; then alternating timings of the
    // two frames, whose medians resist one slow job
    def nsPerRow(c: Column): Double = {
      seconds(small, c)
      val s, b = scala.collection.mutable.ArrayBuffer.empty[Double]
      val t0 = Util.now()
      while (s.isEmpty || (s.size < MaxReps && Util.secs(t0, Util.now()) < KernelS)) {
        b += seconds(big, c)
        s += seconds(small, c)
      }
      (Util.median(b.toSeq) - Util.median(s.toSeq)) * 1e9 / (Big - Small)
    }
    val conf = spark.conf
    def mode(factory: String, wholeStage: Boolean)(body: => Map[String, Double]) = {
      conf.set("spark.sql.codegen.factoryMode", factory)
      conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
      try body finally {
        conf.unset("spark.sql.codegen.factoryMode")
        conf.unset("spark.sql.codegen.wholeStage")
      }
    }
    val natives = this.natives(seed)
    val out = mode("CODEGEN_ONLY", wholeStage = true) {
      natives.map { case (n, x) =>
        s"plans.$n.ns_per_row.codegen" -> nsPerRow(GraftColumnBridge.column(x))
      }.toMap ++ texts.map { case (n, c) => s"functions.$n.ns_per_row" -> nsPerRow(c) }
    } ++ mode("NO_CODEGEN", wholeStage = false) {
      natives.map { case (n, x) =>
        s"plans.$n.ns_per_row.interpreted" -> nsPerRow(GraftColumnBridge.column(x))
      }.toMap
    }
    small.unpersist()
    big.unpersist()
    out
  }
}
