package perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.LshIndex

/** The streaming-ingest phase of curation_batch. Each round builds an
  * LshIndex over the round's curated docs, then one batch of seeded
  * arrivals goes through four ops: a probe of the index (its verified pairs
  * are the oracle for the screen), the screen on a stream
  * (`CurationStream.screenIndexed` in `foreachBatch`, with a
  * `ShardedExport` of the admitted docs), an append of the admitted docs
  * and a takedown removal. Index writes sit beside index reads. */
final class Ingest(ctx: Ctx, evalSet: DataFrame, evalGrams: Set[String]) {
  import Ingest._
  private val spark = ctx.spark
  @volatile private var index: LshIndex.LshIndex = _
  private val exportDir = s"${ctx.workDir}/ingest-export"
  private val admitted = scala.collection.concurrent.TrieMap.empty[Int, Set[Long]]
  private val current = new AtomicInteger(0)
  private val input = {
    implicit val sqlContext: SQLContext = spark.sqlContext
    import spark.implicits._
    MemoryStream[(Long, String)]
  }
  private val stream: StreamingQuery = input.toDF().toDF("doc_id", "text").writeStream
    .option("checkpointLocation", s"${ctx.workDir}/ingest-checkpoint")
    .foreachBatch { (batch: DataFrame, _: Long) =>
      val b = current.get
      val ok = graft.streaming.CurationStream.screenIndexed(batch, index,
        evalSet.select(col("eval_id").as("doc_id"), col("text"))).cache()
      admitted(b) = ok.select("doc_id").collect().map(_.getLong(0)).toSet
      // wall time only: a counted span would drain the listener bus
      // inside the timed screen
      ctx.timed("sources.sharded_export") {
        val manifest = graft.sources.ShardedExport.write(ok, "text", "doc_id",
          s"$exportDir/batch=$b", nShards = 2).collect()
        require(manifest.map(_.getAs[Long]("n_docs")).sum == admitted(b).size,
          "export manifest does not match the admitted docs")
      }
      ok.unpersist()
      ()
    }
    .start()

  /** All admitted ids so far. */
  def admittedIds: Set[Long] = admitted.values.flatten.toSet

  def stop(): Unit = stream.stop()

  def round(r: Int, curated: DataFrame): Unit = {
    ctx.opChecked("operators.lsh_index.build", OpDeadlineS) {
      index = LshIndex.build(curated, "text", "doc_id")
      index.shingles.count()
    }(_ > 0)
    if (index == null) return
    val pool = curated.select("doc_id", "text").where(length(col("text")) > 250)
      .orderBy("doc_id").collect().map(row => row.getLong(0) -> row.getString(1))
    val rows = arrivals(ctx.seed, r, pool, evalSet.collect().map(_.getString(1)))
    val batchDf = spark.createDataFrame(rows.map { case (id, t, _) => (id, t) }).toDF("doc_id", "text")
    val kind = rows.map { case (id, _, k) => id -> k }.toMap
    val text = rows.map { case (id, t, _) => id -> t }.toMap

    var pairs = Set.empty[Long]
    ctx.opChecked("operators.lsh_index.probe", OpDeadlineS) {
      index.probe(batchDf, "text", "doc_id").select("probe_id").collect().map(_.getLong(0))
    } { p =>
      pairs = p.toSet
      ctx.add("operators.lsh_index.verified_pairs", p.length)
      kind.collect { case (id, Near) => id }.forall(pairs)
    }
    current.set(r)
    ctx.opChecked("streaming.screen", OpDeadlineS) {
      input.addData(rows.map { case (id, t, _) => (id, t) }.toSeq)
      stream.processAllAvailable()
      admitted.getOrElse(r, Set.empty[Long])
    } { in =>
      in.nonEmpty && in.forall(id => kind.get(id).contains(Fresh)) && in.forall(id => !pairs(id)) &&
        in.forall(id => !CurationBatch.grams(text(id), 5).exists(evalGrams))
    }
    val before = index.shingles.count()
    ctx.opChecked("operators.lsh_index.append", OpDeadlineS) {
      val inc = spark.read.schema("doc_id long, text string").json(s"$exportDir/batch=$r")
      index = index.append(inc, "text")
      index.shingles.count()
    }(_ == before + admitted.getOrElse(r, Set.empty).size)
    // takedown: the two lowest indexed ids and the lowest admitted one
    val takedown = (pool.map(_._1).take(2) ++ admitted.getOrElse(r, Set.empty).toSeq.sorted.take(1)).toSeq
    ctx.opChecked("operators.lsh_index.remove", OpDeadlineS) {
      index = index.remove(spark.createDataFrame(takedown.map(Tuple1(_))).toDF("doc_id"))
      (index.shingles.count(), index.shingles.where(col("doc_id").isin(takedown: _*)).count())
    } { case (after, left) => left == 0 && after < before + admitted.getOrElse(r, Set.empty).size }
  }
}

object Ingest {
  val BatchDocs = 30
  val OpDeadlineS = 60.0
  val Fresh = 0
  val Near = 1
  val Contaminated = 2
  val Short = 3

  private def words(r: SplittableRandom, n: Int): String =
    Seq.fill(n)(Inputs.Vocab(r.nextInt(Inputs.Vocab.size))).mkString(" ")

  /** One arriving batch (id, text, kind): 60% fresh docs, 20% near copies
    * of indexed docs (must be rejected as near-dups), 10% docs carrying an
    * eval passage (must be rejected by decontamination) and 10% too-short
    * docs (must fail the gates). */
  def arrivals(seed: Long, round: Int, pool: Array[(Long, String)],
      evals: Array[String]): Array[(Long, String, Int)] = {
    val r = new SplittableRandom(seed * 7907 + round)
    Array.tabulate(BatchDocs) { i =>
      val id = 10000000L + round * 1000L + i
      val u = r.nextDouble()
      if (u < 0.6 || (u < 0.8 && pool.isEmpty)) (id, words(r, 45 + r.nextInt(56)), Fresh)
      else if (u < 0.8) (id, pool(r.nextInt(pool.length))._2 + " merge", Near)
      else if (u < 0.9) {
        val passage = evals(r.nextInt(evals.length)).split(" ").take(12).mkString(" ")
        (id, words(r, 30 + r.nextInt(40)) + " " + passage, Contaminated)
      } else (id, words(r, 5), Short)
    }
  }
}
