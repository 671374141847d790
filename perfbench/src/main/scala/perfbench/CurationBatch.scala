package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** curation_batch: batch curation of a seeded corpus, then streaming
  * ingest against it. The corpus is sf0.1-shaped documents plus planted
  * near-duplicate families, shared boilerplate passages and passages copied
  * from an eval set. Each round runs quality gates, exact dedup, MinHash-LSH
  * dedup, duplicate-span scrub, decontamination and a sharded tokenized
  * export, each stage materialized so its cost is its own; then the
  * [[Ingest]] phase indexes the curated docs and screens a batch of
  * arrivals on a stream. Per-row kernels, shuffles and writes dominate. */
object CurationBatch extends Workload {
  val name = "curation_batch"
  val BaseDocs = 5000L
  val Families = 80
  val EvalDocs = 40
  val Contaminated = 30
  val BoilerplateShare = 0.1
  val ScrubN = 8
  val DecontamN = 5
  val NominalRoundS = 10.0
  val OpDeadlineS = 90.0

  /** Corpus (doc_id, text, family, boilerplate id, eval source) and eval set. */
  def corpus(spark: org.apache.spark.sql.SparkSession, seed: Long): (DataFrame, DataFrame) = {
    import Inputs._
    val base = documents(spark, seed, BaseDocs).select(col("doc_id"), col("text"))
    // boilerplate: three fixed 12-word passages appended to a tenth of the base docs
    val plates = (0 until 3).map(b => words(seed, 70 + b, lit(12), lit(0L)))
    val withPlate = base
      .withColumn("plate", when(u(seed, 73, col("doc_id")) < BoilerplateShare,
        ui(seed, 74, 0, 2, col("doc_id"))).cast("int"))
      .withColumn("text", when(col("plate").isNull, col("text"))
        .otherwise(concat(col("text"), lit(" "), element_at(array(plates: _*), col("plate") + 1))))
    // families: a 45-100 word source, an exact copy and two one-word extensions
    val fam = spark.range(Families.toLong * 4).select(
      (lit(1000000L) + col("id")).as("doc_id"),
      (col("id") / 4).cast("long").as("family"),
      (col("id") % 4).as("member"))
      .withColumn("src", words(seed, 75, ui(seed, 76, 45, 100, col("family")), col("family")))
      .withColumn("text", when(col("member") < 2, col("src"))
        .otherwise(concat(col("src"), lit(" "), element_at(array(Vocab.map(lit): _*),
          ((col("member") + col("family")) % Vocab.size + 1).cast("int")))))
    val evalSet = spark.range(EvalDocs).select(col("id").as("eval_id"),
      words(seed, 77, ui(seed, 78, 30, 60), col("id")).as("text"))
    // contamination: a 12-word passage of an eval doc appended to a corpus doc
    val contam = spark.range(Contaminated).select(
      (lit(2000000L) + col("id")).as("doc_id"),
      ui(seed, 79, 0, EvalDocs - 1).as("eval_src"),
      words(seed, 80, ui(seed, 81, 20, 80), col("id")).as("body"))
      .join(evalSet.select(col("eval_id").as("eval_src"),
        slice(split(col("text"), " "), 1, 12).as("passage")), "eval_src")
      .select(col("doc_id"), concat(col("body"), lit(" "), array_join(col("passage"), " "))
        .as("text"), col("eval_src"))
    val all = withPlate.select(col("doc_id"), col("text"), lit(null).cast("long").as("family"),
        col("plate"), lit(null).cast("long").as("eval_src"))
      .unionByName(fam.select(col("doc_id"), col("text"), col("family"),
        lit(null).cast("int").as("plate"), lit(null).cast("long").as("eval_src")))
      .unionByName(contam.select(col("doc_id"), col("text"), lit(null).cast("long").as("family"),
        lit(null).cast("int").as("plate"), col("eval_src")))
    (all, evalSet)
  }

  private var docs: DataFrame = _
  private var evalSet: DataFrame = _
  private var families: Map[Long, Long] = Map.empty
  private var evalGrams: Set[String] = Set.empty
  private var plateGrams: Set[String] = Set.empty
  private val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def setup(ctx: Ctx, rep: Int): Unit = {
    val (all, ev) = corpus(ctx.spark, ctx.seed)
    val dir = s"${ctx.workDir}/corpus-$rep"
    all.repartition(4).write.mode("overwrite").parquet(s"$dir/docs")
    ev.coalesce(1).write.mode("overwrite").parquet(s"$dir/eval")
    Seq(docs, evalSet).filter(_ != null).foreach(_.unpersist())
    docs = ctx.spark.read.parquet(s"$dir/docs").cache()
    evalSet = ctx.spark.read.parquet(s"$dir/eval").cache()
    val rows = docs.collect()
    families = rows.filter(!_.isNullAt(2)).map(r => r.getLong(0) -> r.getLong(2)).toMap
    evalGrams = evalSet.collect().flatMap(r => grams(r.getString(1), DecontamN)).toSet
    plateGrams = rows.filter(!_.isNullAt(3)).flatMap(r => grams(r.getString(1).split(" ")
      .takeRight(12).mkString(" "), ScrubN)).toSet
  }

  /** n-token grams of whitespace-tokenized normalized text. */
  def grams(text: String, n: Int): Seq[String] = {
    val t = text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ").filter(_.nonEmpty)
    if (t.length < n) Nil else t.sliding(n).map(_.mkString(" ")).toSeq
  }

  def rounds(seconds: Int): Int = math.max(1, math.round(seconds / NominalRoundS).toInt)

  def run(ctx: Ctx): Outcome = {
    val n = rounds(ctx.seconds)
    val total = docs.count().toDouble + Ingest.BatchDocs
    val ingest = new Ingest(ctx, evalSet, evalGrams)
    try (1 to n).foreach(r => ctx.round(round(ctx, r, ingest))) finally if (!ctx.poisoned) ingest.stop()
    if (!ctx.poisoned) digests("admitted") = Digests.ofStrings(ingest.admittedIds.map(_.toString))
    Outcome(total * n, n)
  }

  /** One materialized stage. The output is checkpointed, which cuts its
    * lineage: the next stage plans from the stored rows, as a staged batch
    * pipeline would, instead of re-planning every earlier stage. */
  private def stage(ctx: Ctx, kind: String, in: DataFrame, nIn: Long)(f: DataFrame => DataFrame)
      (check: DataFrame => Boolean): (DataFrame, Long) = {
    var out: DataFrame = null
    var nOut = -1L
    ctx.opChecked(kind, OpDeadlineS) {
      out = f(in).localCheckpoint()
      nOut = out.count()
      out
    } { o =>
      ctx.add(s"$kind.rows_in", nIn)
      ctx.add(s"$kind.rows_out", nOut)
      nOut > 0 && nOut <= nIn && check(o)
    }
    (out, nOut)
  }

  private def ids(df: DataFrame): Seq[Long] = df.select("doc_id").collect().map(_.getLong(0)).toSeq

  private def round(ctx: Ctx, r: Int, ingest: Ingest): Unit = {
    def chain(kind: String, in: (DataFrame, Long))(f: DataFrame => DataFrame)
        (check: DataFrame => Boolean): (DataFrame, Long) =
      if (in._1 == null) (null, 0L) else stage(ctx, kind, in._1, in._2)(f)(check)
    val input = docs.select("doc_id", "text")
    val gated = chain("functions.quality_gates", (input, docs.count())) { d =>
      d.where(qualityScore(col("text")) >= 0.5 && langId(col("text")) === "en" &&
        tokenCount(col("text")).between(10, 1000))
    }(_ => true)
    val exact = chain("operators.exact_dedup", gated) { d =>
      graft.operators.Dedup.exactDedup(d, "text", "doc_id")
    } { o =>
      val norm = o.select(normalizeText(col("text"))).collect().map(_.getString(0))
      norm.distinct.length == norm.length
    }
    val near = chain("operators.minhash_dedup", exact) { d =>
      graft.operators.Dedup.minHashLshDedup(d, "text", "doc_id")
    } { o =>
      ids(o).flatMap(families.get).groupBy(identity).forall(_._2.size == 1)
    }
    val scrubbed = chain("operators.span_scrub", near) { d =>
      graft.operators.Dedup.duplicateSpanScrub(d, "text", "doc_id", ScrubN)
        .select("doc_id", "text")
    } { o =>
      val seen = o.select("text").collect().flatMap(t => grams(t.getString(0), ScrubN)
        .filter(plateGrams).distinct)
      seen.groupBy(identity).forall(_._2.length == 1)
    }
    val clean = chain("operators.decontaminate", scrubbed) { d =>
      graft.operators.Dedup.decontaminate(d, evalSet.select(col("eval_id").as("doc_id"),
        col("text")), "text", "doc_id", DecontamN)
    } { o =>
      o.select("text").collect().forall(t => !grams(t.getString(0), DecontamN).exists(evalGrams))
    }
    if (clean._1 != null) {
      export(ctx, r, clean._1)
      ingest.round(r, clean._1)
    }
    if (r == 1 && clean._1 != null) {
      Seq("quality_gates" -> gated, "exact_dedup" -> exact, "minhash_dedup" -> near,
        "span_scrub" -> scrubbed, "decontaminate" -> clean).foreach { case (k, (df, _)) =>
        if (df != null) digests(k) = Digests.ofStrings(ids(df).map(_.toString))
      }
    }
  }

  private def export(ctx: Ctx, r: Int, clean: DataFrame): Unit = {
    import graft.sources.TokenizedExport
    val dir = s"${ctx.workDir}/export-$r"
    ctx.opChecked("sources.export", OpDeadlineS) {
      val toks = clean.select(col("doc_id"), tokens(normalizeText(col("text"))).as("toks")).cache()
      val vocab = TokenizedExport.vocabulary(toks, "toks").cache()
      val enc = TokenizedExport.encodeIds(toks, "toks", vocab).select("doc_id", "token_ids")
      val manifest = TokenizedExport.write(enc, "doc_id", "token_ids", dir, nShards = 4,
        vocabSize = vocab.count().toInt).collect()
      toks.unpersist()
      vocab.unpersist()
      manifest
    } { manifest =>
      val spark = ctx.spark
      val expected = spark.createDataFrame(spark.sparkContext.parallelize(manifest.toSeq, 1),
        manifest.head.schema)
      val files = Util.files(dir)
      ctx.add("sources.export.bytes_written", files.map(_.length).sum.toDouble)
      ctx.add("sources.export.files", files.size.toDouble)
      ctx.add("sources.export.bytes_in",
        clean.agg(sum(length(col("text")))).head.getLong(0).toDouble)
      val docsOut = manifest.map(_.getAs[Long]("n_docs")).sum
      docsOut == clean.count() && TokenizedExport.verify(spark, dir, expected).isEmpty
    }
    Util.deleteTree(dir)
  }

  override def verify(ctx: Ctx): Unit = Digests.check(ctx, name, digests.toMap)
}
