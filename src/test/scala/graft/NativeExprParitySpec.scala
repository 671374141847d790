package graft

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.plans._

/** Every native expression in [[graft.plans.GraftExtensions]] gives the
  * same result through its generated code as through its interpreted
  * `eval`, on the same rows: codegen under
  * `spark.sql.codegen.factoryMode=CODEGEN_ONLY` with whole-stage codegen
  * on, eval under `NO_CODEGEN` with whole-stage codegen off. Doubles
  * compare by their raw bits.
  *
  * The rows come from a parquet file, not `toDF`: a local relation is
  * folded through `eval` by the optimizer, so a `toDF` fixture never
  * reaches generated code. They cover a null row, null elements, empty
  * and short arrays, an all-zero vector and a NaN vector. */
class NativeExprParitySpec extends SparkSpec with BeforeAndAfterAll {

  /** One fixture row, as SQL expressions per column. */
  private case class Fx(id: Int,
      v: String = "array(0.5D, -1.25D, 2D, 0.75D)",
      w: String = "array(1D, 2D, -0.5D, 0.25D)",
      la: String = "array(1L, 3L, 7L, 63L)",
      lb: String = "array(3L, 5L, 7L)",
      x: String = "5L", y: String = "9L",
      toks: String = "array('the', 'quick', 'brown', 'fox', 'jumps')",
      text: String = "'Füße im Schnee, éclair: the quick brown fox.'",
      codes: String = "array(1, 2)",
      lut: String = "array(0.5D, 1.5D, 2.5D, 3.5D, 4.5D, 5.5D)",
      robots: String = "'User-agent: *\\nDisallow: /private\\n'",
      path: String = "'/private/a'") {
    def select: Seq[String] = Seq(s"CAST($id AS bigint) AS id",
      s"CAST($v AS array<double>) AS v", s"CAST($w AS array<double>) AS w",
      s"CAST($la AS array<bigint>) AS la", s"CAST($lb AS array<bigint>) AS lb",
      s"CAST($x AS bigint) AS x", s"CAST($y AS bigint) AS y",
      s"CAST($toks AS array<string>) AS toks", s"CAST($text AS string) AS text",
      s"CAST($codes AS array<int>) AS codes", s"CAST($lut AS array<double>) AS lut",
      s"CAST($robots AS string) AS robots", s"CAST($path AS string) AS path")
  }

  private val fixtures = Seq(
    Fx(1),
    Fx(2, "NULL", "NULL", "NULL", "NULL", "NULL", "NULL", "NULL", "NULL",
      "NULL", "NULL", "NULL", "NULL"),
    Fx(3, v = "array(1D, NULL, 2D, 0.5D)", w = "array(NULL, 1D, 1D, 1D)",
      la = "array(1L, NULL, 3L)", lb = "array(NULL, 3L)",
      toks = "array('a', NULL, 'b', 'c')", codes = "array(0, NULL)",
      lut = "array(0.5D, NULL, 1D, 2D, 3D, 4D)"),
    Fx(4, v = "array()", w = "array()", la = "array()", lb = "array()",
      toks = "array()", text = "''", codes = "array()", lut = "array()",
      robots = "''", path = "''"),
    Fx(5, v = "array(0.3D)", w = "array(-0.7D, 0.1D)", la = "array(5L)",
      lb = "array(5L)", toks = "array('x')", text = "'ab'", codes = "array(2)",
      lut = "array(1D)", x = "0L", y = "0L"),
    Fx(6, v = "array(0D, 0D, 0D, 0D)", w = "array(0D, 0D, 0D, 0D)",
      la = "array(-1L, 8L, 100L)", x = "255L", y = "255L"),
    Fx(7, v = "array(CAST('NaN' AS double), 0D, 0D, 0D)",
      w = "array(CAST('NaN' AS double), 1D, 1D, 1D)",
      lut = "array(CAST('NaN' AS double), 1D, 2D, 3D, 4D, 5D)"))

  private lazy val dir = java.nio.file.Files.createTempDirectory("native-parity")

  private lazy val input: DataFrame = {
    fixtures.map(f => spark.range(1).selectExpr(f.select: _*)).reduce(_ union _)
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    finally super.afterAll()

  private def e(name: String): Expression = UnresolvedAttribute(name)

  private val planes = Seq(Seq(1.0, 0.0, -1.0, 0.5), Seq(-1.0, 0.5, 0.0, 0.0),
    Seq(0.0, -1.0, 0.25, 1.0))
  // centroid 3 duplicates centroid 1: equal distances, the lower index first
  private val centroids = Seq(Seq(0.0, 0.0, 0.0, 0.0), Seq(1.0, 0.0, 1.0, 0.0),
    Seq(0.0, 1.0, 0.0, 1.0), Seq(1.0, 0.0, 1.0, 0.0))
  private val books = Seq(
    Seq(Seq(0.0, 0.0), Seq(1.0, -1.0), Seq(0.5, 0.5)),
    Seq(Seq(0.0, 0.0), Seq(2.0, 1.0), Seq(0.0, 0.0)))

  /** All 18 native expressions, by SQL name. */
  private val natives: Seq[(String, Expression)] = Seq(
    "cosine_sim" -> CosineSimExpr(e("v"), e("w")),
    "dot_arr" -> DotArrExpr(e("v"), e("w")),
    "bucket_counts" -> BucketCountsExpr(e("la"), 8),
    "xxhash_arr" -> XxHashArrExpr(e("toks"), sorted = true),
    "minhash_sig" -> MinHashSigExpr(e("la"), 4),
    "gram_hashes" -> TokenGramHashExpr(e("toks"), 3, 0, distinct = false),
    "unit_vec" -> UnitVecExpr(e("v")),
    "winnow_fps" -> WinnowFpExpr(e("text"), 3, 2),
    "hilbert_xy2d" -> HilbertXy2dExpr(e("x"), e("y"), 8),
    "jaccard_sorted" -> JaccardSortedExpr(e("la"), e("lb")),
    "hyperplane_sketch" -> HyperplaneSketchExpr(e("v"), planes),
    "nearest_cells" -> NearestCellsExpr(e("v"), centroids, 3),
    "pq_encode" -> PqEncodeExpr(e("v"), books),
    "pq_lut" -> PqLutExpr(e("v"), books),
    "sign_pack" -> SignPackExpr(e("v"), 4),
    "pq_adc" -> PqAdcExpr(e("codes"), e("lut"), 3),
    "unicode_norm" -> UnicodeNormalizeExpr(e("text"), "NFC"),
    "robots_allowed" -> RobotsAllowedExpr(e("robots"), e("path"), "graftbot"))

  /** Results by id, with doubles as raw bits. */
  private def run(ex: Expression, codegen: Boolean): Map[Long, Any] = {
    val confs = Seq(
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.fallback" -> (!codegen).toString)
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try input.select(col("id"), GraftColumnBridge.column(ex).as("r")).collect()
      .map(r => r.getLong(0) -> bits(r.get(1))).toMap
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def bits(x: Any): Any = x match {
    case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case s: scala.collection.Seq[_] => s.map(bits).toList
    case r: Row => r.toSeq.map(bits).toList
    case other => other
  }

  natives.foreach { case (name, ex) =>
    test(s"$name: codegen == interpreted, bitwise") {
      val compiled = run(ex, codegen = true)
      val interpreted = run(ex, codegen = false)
      assert(compiled.keySet == fixtures.map(_.id.toLong).toSet)
      fixtures.map(_.id.toLong).foreach { id =>
        assert(compiled(id) == interpreted(id), s"$name, row $id")
      }
    }
  }

  test("names every native expression once") {
    assert(natives.map(_._1).distinct.size == 18)
    assert(natives.map(_._2.prettyName) == natives.map(_._1))
  }

  test("null contracts: bucket_counts(null) is NULL, winnow_fps(null) is []") {
    for (codegen <- Seq(true, false)) {
      val counts = run(BucketCountsExpr(e("la"), 8), codegen)
      assert(counts(2L) == null)
      val fps = run(WinnowFpExpr(e("text"), 3, 2), codegen)
      assert(fps(2L) == Nil)
    }
  }

  test("nearest_cells: a NaN row gets the lowest-index cells") {
    for (codegen <- Seq(true, false)) {
      val cells = run(NearestCellsExpr(e("v"), centroids, 3), codegen)
      assert(cells(7L) == List(0, 1, 2))
      // the all-zero row: centroid 0 at distance 0, then 1, 2, 3 tie
      assert(cells(6L) == List(0, 1, 2))
      assert(cells(2L) == null)
    }
  }
}
