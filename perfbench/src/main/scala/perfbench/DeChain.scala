package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** de_chain: the paper's own use. A seeded negative-binomial genes ×
  * samples count matrix at RNA-seq depth, with planted differentially
  * expressed genes, goes through TMM, DESeq2 and NOISeq, a consensus FDR
  * filter and KMeans over the survivors, then edgeR. One pass of the
  * chain per run; the `stats` and TMM calls take most of its time.
  *
  * edgeR runs last because it can pass its deadline (see README.md, "First
  * catch"): its stuck task threads cannot be interrupted, so no op after
  * it could be timed in the same JVM. */
object DeChain extends Workload {
  val name = "de_chain"
  val Genes = 10000
  val PerGroup = 4
  val DeShare = 0.1
  val OutlierRate = 0.001
  val EdgeRDeadlineS = 10.0
  val OpDeadlineS = 90.0
  val A: Seq[String] = (0 until PerGroup).map(i => s"a_$i")
  val B: Seq[String] = (0 until PerGroup).map(i => s"b_$i")
  val Groups = Map("A" -> A, "B" -> B)

  /** Planted truth: gene index → log2 fold change of B over A (0 = null). */
  final case class Matrix(rows: Seq[Row], lfc: Array[Double])

  private def gamma(r: SplittableRandom, shape: Double): Double =
    if (shape < 1.0) gamma(r, shape + 1.0) * math.pow(r.nextDouble(), 1.0 / shape)
    else {
      // Marsaglia-Tsang
      val d = shape - 1.0 / 3.0
      val c = 1.0 / math.sqrt(9.0 * d)
      var out = -1.0
      while (out < 0) {
        var x = 0.0
        var v = 0.0
        do { x = gauss(r); v = 1.0 + c * x } while (v <= 0)
        v = v * v * v
        val u = r.nextDouble()
        if (math.log(u) < 0.5 * x * x + d - d * v + d * math.log(v)) out = d * v
      }
      out
    }
  private def gauss(r: SplittableRandom): Double = {
    val u1 = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }
  private def poisson(r: SplittableRandom, lambda: Double): Double =
    if (lambda > 60) math.max(0.0, math.rint(lambda + math.sqrt(lambda) * gauss(r)))
    else {
      val l = math.exp(-lambda)
      var k = 0
      var p = r.nextDouble()
      while (p > l) { k += 1; p *= r.nextDouble() }
      k.toDouble
    }

  /** Counts ~ NB(mean = size factor × gene mean × fold, dispersion
    * 0.01 + 1/mean) as a gamma-Poisson mixture. Gene means are
    * log-normal around 300 reads, so most genes sit in the hundreds to
    * thousands. A tenth of the genes is planted at ±2 log2 fold. One count
    * in a thousand is a single-sample outlier, 20-60 times its expected
    * value, as real libraries have (DESeq2 flags such counts by Cook's
    * distance). */
  def matrix(seed: Long): Matrix = {
    val r0 = new SplittableRandom(seed)
    val size = Array.fill(2 * PerGroup)(0.7 + 0.6 * r0.nextDouble())
    val lfc = new Array[Double](Genes)
    val rows = (0 until Genes).map { g =>
      val r = new SplittableRandom(seed * 1000003L + g)
      val mu = math.min(50000.0, math.max(5.0, math.exp(math.log(300.0) + 1.3 * gauss(r))))
      if (r.nextDouble() < DeShare) lfc(g) = if (r.nextDouble() < 0.5) 2.0 else -2.0
      val disp = 0.01 + 1.0 / mu
      val counts = (0 until 2 * PerGroup).map { j =>
        val m = size(j) * mu * (if (j >= PerGroup) math.pow(2.0, lfc(g)) else 1.0)
        val outlier = if (r.nextDouble() < OutlierRate) 20.0 + 40.0 * r.nextDouble() else 1.0
        poisson(r, outlier * m * gamma(r, 1.0 / disp) * disp)
      }
      Row.fromSeq(f"g$g%05d" +: counts)
    }
    Matrix(rows, lfc)
  }

  private var counts: DataFrame = _
  private var truth: Array[Double] = _
  private def planted: Set[String] = truth.indices.filter(truth(_) != 0).map(g => f"g$g%05d").toSet
  private val results = scala.collection.mutable.LinkedHashMap.empty[String, Set[String]]

  def setup(ctx: Ctx, rep: Int): Unit = {
    val m = matrix(ctx.seed)
    val schema = StructType(StructField("gene_stable_id", StringType, nullable = false) +:
      (A ++ B).map(StructField(_, DoubleType, nullable = false)))
    val path = s"${ctx.workDir}/counts-$rep.parquet"
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(m.rows, 4), schema)
      .write.mode("overwrite").parquet(path)
    if (counts != null) counts.unpersist()
    counts = ctx.spark.read.parquet(path).cache()
    counts.count()
    truth = m.lfc
  }

  private def significant(df: DataFrame, p: org.apache.spark.sql.Column): Set[String] =
    df.where(p).select("gene_stable_id").collect().map(_.getString(0)).toSet

  /** Invariant: the calls recover at least `minRecall` of the planted
    * genes. The share of calls that are planted is recorded, not checked. */
  private def recallOk(ctx: Ctx, test: String, calls: Set[String], minRecall: Double): Boolean = {
    val truthSet = planted
    val hit = calls.count(truthSet)
    ctx.notes(s"$test.recall") = hit.toDouble / truthSet.size
    ctx.notes(s"$test.precision") = hit.toDouble / math.max(1, calls.size)
    hit.toDouble / truthSet.size >= minRecall
  }


  def run(ctx: Ctx): Outcome = {
    ctx.round {
      var normalized: DataFrame = null
      ctx.op("functions.tmm", OpDeadlineS) {
        normalized = graft.functions.Tmm(protect = Seq("gene_stable_id"))(counts).cache()
        val n = normalized.count()
        val bad = normalized.where((A ++ B).map(c => col(c).isNull || isnan(col(c))).reduce(_ || _))
          .count()
        n == Genes && bad == 0
      }
      val deseq = graft.stats.DESeq2Unpaired("A", "B", Groups, comparisonName = Some("AvB"))
      var deOut: DataFrame = null
      var deCalls = Set.empty[String]
      ctx.op("stats.deseq2", OpDeadlineS) {
        deOut = deseq(counts).select("gene_stable_id", deseq.fdrColumn).cache()
        deCalls = significant(deOut, col(deseq.fdrColumn) < 0.05)
        results("deseq2") = deCalls
        recallOk(ctx, "deseq2", deCalls, 0.8)
      }
      val noiseq = graft.stats.NOISeq("A", "B", Groups, comparisonName = Some("AvB"))
      var nsOut: DataFrame = null
      var nsCalls = Set.empty[String]
      ctx.op("stats.noiseq", OpDeadlineS) {
        nsOut = noiseq(counts).select("gene_stable_id", noiseq.probColumn).cache()
        nsCalls = significant(nsOut, col(noiseq.probColumn) >= 0.8)
        results("noiseq") = nsCalls
        recallOk(ctx, "noiseq", nsCalls, 0.5)
      }
      var survivors: DataFrame = null
      ctx.op("operators.fdr_filter", OpDeadlineS) {
        val joined = deOut.join(nsOut, "gene_stable_id")
        survivors = graft.operators.Filter(Seq(
          graft.operators.FilterClause.of((deseq.fdrColumn, "<", 0.05)),
          graft.operators.FilterClause.of((noiseq.probColumn, ">=", 0.8))))(joined)
          .select("gene_stable_id").cache()
        val ids = survivors.collect().map(_.getString(0)).toSet
        results("fdr_filter") = ids
        ids == (deCalls intersect nsCalls) && recallOk(ctx, "fdr_filter", ids, 0.5)
      }
      ctx.op("operators.kmeans", OpDeadlineS) {
        val k = 4
        val input = normalized.join(survivors, "gene_stable_id")
          .repartition(4, col("gene_stable_id")).sortWithinPartitions("gene_stable_id")
        val out = graft.operators.KMeansOp(nClusters = k, sort = false,
          protect = Seq("gene_stable_id"))(input)
        val assigned = out.select("gene_stable_id", "KNN").collect()
        val labels = assigned.map(_.getInt(1))
        results("kmeans") = assigned.map(r => s"${r.getString(0)}:${r.getInt(1)}").toSet
        labels.length == results("fdr_filter").size && labels.forall(l => l >= 0 && l < k)
      }
      ctx.op("stats.edger", EdgeRDeadlineS) {
        val e = graft.stats.EdgeRUnpaired("A", "B", Groups, comparisonName = Some("AvB"))
        val calls = significant(e(counts), col(e.fdrColumn) < 0.05)
        results("edger") = calls
        recallOk(ctx, "edger", calls, 0.8)
      }
      Seq(normalized, deOut, nsOut, survivors).filter(_ != null).foreach(_.unpersist())
    }
    // the chain's own time, without the deadline edgeR is charged
    ctx.notes("chain_s_without_edger") =
      ctx.ops.filter(_.kind != "stats.edger").map(_.seconds).sum
    Outcome(Genes.toDouble, 1)
  }

  override def verify(ctx: Ctx): Unit =
    Digests.check(ctx, name, results.map { case (k, ids) => k -> Digests.ofStrings(ids) }.toMap)
}
