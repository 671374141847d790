package graft.operators

import graft.functions.Quantizer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVFADC — the composition of the inverted-file coarse quantizer
  * ([[Similarity.fitQuantizer]]) with residual product quantization
  * ([[Pq]]): Jégou, Douze, Schmid 2011 §IV (the layout FAISS serves
  * billion-vector corpora from). The coarse quantizer prunes the SCAN
  * (a query touches `nprobe` of `nlist` cells instead of the corpus);
  * the PQ codes prune the MEMORY (each row stores its cell id + m byte
  * codes of its RESIDUAL x − c_cell, not the vector). Residual encoding
  * is what makes coarse+fine compose: residual magnitudes are a cell
  * radius, not a corpus radius, so the same code budget quantizes far
  * finer than [[Pq]] alone.
  *
  * Search: a query expands to its `nprobe` nearest cells; for each
  * probed cell it builds the ADC lookup table of its OWN residual
  * (q − c_cell) against the codebooks — nprobe tiny tables per query,
  * map-side — and every corpus row in a probed cell scores with m
  * lookups: ‖q − (c + dec(codes))‖² = ‖(q − c) − dec(codes)‖². The
  * corpus never shuffles: the probe side broadcasts into a hash join on
  * cell id, and a saved index is partitioned by cell so each probe
  * prunes to exactly the partitions it touches at scan time.
  *
  * Everything downstream of the two fits is SQL-replayable
  * (q_similarity_ivfpq embeds both constant tables and replays
  * assignment, residual, encode, probing, LUT and rank); both fits are
  * the deterministic layout-invariant bounded-sample Lloyd, run on ONE
  * shared sample so the oracle constants are stable.
  */
object IvfPq {

  /** Fit coarse centroids + residual codebooks from one shared
    * hash-ordered sample (fit cost flat in n). */
  def fit(corpus: DataFrame, vecCol: String, nlist: Int = 0, m: Int = 8,
      ksub: Int = 16, seed: Long = 42L, maxIter: Int = 10)
      : (Array[Array[Double]], Pq.Codebooks) = {
    val u = Similarity.withUnitVec(corpus, vecCol, "__uv")
    val sample = Similarity.hashSample(u, "__uv", seed)
    require(sample.nonEmpty, "IvfPq.fit: empty input")
    val dim = sample(0).length
    require(dim % m == 0, s"IvfPq.fit: dim $dim is not divisible into $m subspaces")
    // nlist = 0: the 4*sqrt(n) rule (Similarity.autoNlist) on the corpus
    // size, so un-knobbed deployments track n
    val eff = if (nlist > 0) nlist else Similarity.autoNlist(u.count())
    val centroids = Similarity.lloyd(sample, math.min(eff, sample.length),
      seed, maxIter)
    // residuals of the SAME sample under the just-fitted coarse
    // quantizer, assigned by the kernel lloyd and NearestCellsExpr share
    val dist = new Array[Double](centroids.length)
    val residuals = sample.map { v =>
      val ctr = centroids(Quantizer.nearest(v, 0, centroids, dist))
      Array.tabulate(v.length)(i => v(i) - ctr(i))
    }
    val dsub = dim / m
    val books = Array.tabulate(m) { s =>
      val sub = residuals.map(r => java.util.Arrays.copyOfRange(r, s * dsub, (s + 1) * dsub))
      Similarity.lloyd(sub, math.min(ksub, sub.length), seed + s, maxIter)
    }
    (centroids, Pq.Codebooks(books))
  }

  /** One-shot IVFADC top-k (fit + encode + probe). Build [[IvfPqIndex]]
    * for serve-many. */
  def topK(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, k: Int, nlist: Int = 0, nprobe: Int = 8, m: Int = 8,
      ksub: Int = 16, seed: Long = 42L, refine: Int = 0): DataFrame = {
    val idx = IvfPqIndex.build(corpus, vecCol, idCol, nlist, m, ksub, seed)
    if (refine <= 0) idx.topK(queries, vecCol, idCol, k, nprobe)
    else idx.refineTopK(corpus, queries, vecCol, idCol, k, nprobe, refine)
  }

  /** A built IVFADC index: coarse centroid table + residual codebooks
    * (both driver-small) and the encoded corpus —
    * (neighbor_id, __cell, __codes), m ints + a cell id per row. */
  final case class IvfPqIndex private[operators] (
      centroids: Array[Array[Double]], cb: Pq.Codebooks, codes: DataFrame) {

    private def centDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toSeq.toDF("__cell", "__ctr")
    }

    /** Query-side probe rows: one per (query, probed cell), carrying the
      * per-cell residual ADC lookup table (built map-side; queries ≪
      * corpus so nprobe LUT columns per query are noise). */
    private def probes(queries: DataFrame, vecCol: String, idCol: String,
        nprobe: Int): DataFrame = {
      val spark = queries.sparkSession
      Similarity.withUnitVec(queries, vecCol, "__qv")
        .select(col(idCol).as("query_id"), col("__qv"),
          explode(Similarity.nearestCellsUdf(centroids, nprobe)(col("__qv")))
            .as("__cell"))
        .join(broadcast(centDf(spark)), Seq("__cell"))
        .withColumn("__qres", zip_with(col("__qv"), col("__ctr"), (x, c) => x - c))
        .select(col("query_id"), col("__cell"),
          Pq.lutCol(col("__qres"), cb).as("__lut"))
    }

    /** Pure ADC top-k over the probed cells:
      * (query_id, neighbor_id, rank, adist). */
    def topK(queries: DataFrame, vecCol: String, idCol: String, k: Int,
        nprobe: Int = 8): DataFrame = {
      val q = probes(queries, vecCol, idCol, nprobe)
      val scored = codes.join(broadcast(q), Seq("__cell"))
        .where(col("neighbor_id") =!= col("query_id"))
        .withColumn("adist", Pq.adcCol(col("__codes"), col("__lut"), cb.ksub))
      val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adist")
    }

    /** ADC shortlist → exact cosine re-rank (the [[Pq.PqIndex.refineTopK]]
      * contract; true vectors join back for shortlist rows only). */
    def refineTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
        idCol: String, k: Int, nprobe: Int = 8, refine: Int = 64): DataFrame = {
      require(refine >= k, s"refine ($refine) must be ≥ k ($k)")
      val shortlist = topK(queries, vecCol, idCol, refine, nprobe)
        .select("query_id", "neighbor_id")
      val cv = Similarity.withUnitVec(corpus, vecCol, "__cv")
        .select(col(idCol).as("neighbor_id"), col("__cv"))
      val qv = Similarity.withUnitVec(queries, vecCol, "__qv")
        .select(col(idCol).as("query_id"), col("__qv"))
      val scored = shortlist
        .join(cv, Seq("neighbor_id"))
        .join(broadcast(qv), Seq("query_id"))
        .withColumn("score",
          Similarity.dot(corpus.sparkSession)(col("__qv"), col("__cv")))
      val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    }

    /** Incremental growth with FROZEN quantizers (the IvfIndex/PqIndex
      * append contract): one map-side assign+encode pass over the new
      * rows; remove(append(build(A), B), ids(B)) == build(A) exactly. */
    def append(more: DataFrame, vecCol: String, idCol: String): IvfPqIndex =
      IvfPqIndex(centroids, cb,
        codes.unionByName(IvfPqIndex.encoded(more, vecCol, idCol, centroids, cb)))

    /** Takedown/opt-out by id (first column of `removedIds`). */
    def remove(removedIds: DataFrame): IvfPqIndex = {
      val ids = removedIds
        .select(col(removedIds.columns.head).as("neighbor_id")).distinct()
      IvfPqIndex(centroids, cb,
        codes.join(broadcast(ids), Seq("neighbor_id"), "left_anti"))
    }

    /** Persist: `dir/codes` partitioned by cell id (each probe prunes to
      * exactly its cell partitions at scan time — the IvfIndex.save
      * contract), `dir/centroids` + `dir/books` the two fit tables. */
    def save(dir: String): Unit = {
      val spark = codes.sparkSession
      codes.write.mode("overwrite").partitionBy("__cell").parquet(s"$dir/codes")
      import spark.implicits._
      centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toSeq.toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
      (for (s <- 0 until cb.m; c <- 0 until cb.ksub)
        yield (s, c, cb.books(s)(c).toSeq))
        .toDF("s", "cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/books")
    }
  }

  object IvfPqIndex {
    private[operators] def encoded(corpus: DataFrame, vecCol: String,
        idCol: String, centroids: Array[Array[Double]],
        cb: Pq.Codebooks): DataFrame = {
      val spark = corpus.sparkSession
      import spark.implicits._
      val centDf = centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toSeq.toDF("__cell", "__ctr")
      Similarity.withUnitVec(corpus, vecCol, "__cv")
        .select(col(idCol).as("neighbor_id"),
          col("__cv"),
          element_at(Similarity.nearestCellsUdf(centroids, 1)(col("__cv")), 1)
            .as("__cell"))
        .join(broadcast(centDf), Seq("__cell"))
        .withColumn("__res", zip_with(col("__cv"), col("__ctr"), (x, c) => x - c))
        .select(col("neighbor_id"), col("__cell"),
          Pq.encodeCol(col("__res"), cb).as("__codes"))
    }

    /** Fit both quantizers (one shared sample) and assign+encode every
      * corpus row in one distributed map-side pass. */
    def build(corpus: DataFrame, vecCol: String, idCol: String,
        nlist: Int = 0, m: Int = 8, ksub: Int = 16, seed: Long = 42L,
        maxIter: Int = 10): IvfPqIndex = {
      val (centroids, cb) = fit(corpus, vecCol, nlist, m, ksub, seed, maxIter)
      // serve-many: retain the assigned+encoded corpus (the
      // LshIndex/IvfIndex build discipline) so query batches never
      // re-encode
      IvfPqIndex(centroids, cb, graft.core.CacheScope.retain(
        encoded(corpus, vecCol, idCol, centroids, cb)))
    }

    /** Restore a saved index — by-name validated loads (the
      * IvfIndex/PqIndex.load discipline). */
    def load(spark: SparkSession, dir: String): IvfPqIndex = {
      val centDf = spark.read.parquet(s"$dir/centroids")
      val cMissing = Seq("cell", "centroid").filterNot(centDf.columns.contains)
      require(cMissing.isEmpty,
        s"IvfPqIndex.load: $dir/centroids is missing field(s) ${cMissing.mkString(", ")} — " +
          s"not a saved IvfPqIndex (have: ${centDf.columns.mkString(", ")})")
      val cents = centDf.collect()
        .map(r => r.getAs[Int]("cell") -> r.getAs[Seq[Double]]("centroid").toArray)
        .sortBy(_._1).map(_._2)
      require(cents.nonEmpty, s"IvfPqIndex.load: $dir/centroids is empty — corrupt index")
      val bookDf = spark.read.parquet(s"$dir/books")
      val bMissing = Seq("s", "cell", "centroid").filterNot(bookDf.columns.contains)
      require(bMissing.isEmpty,
        s"IvfPqIndex.load: $dir/books is missing field(s) ${bMissing.mkString(", ")} — " +
          s"not a saved IvfPqIndex (have: ${bookDf.columns.mkString(", ")})")
      val rows = bookDf.collect()
        .map(r => (r.getAs[Int]("s"), r.getAs[Int]("cell"),
          r.getAs[Seq[Double]]("centroid").toArray))
      require(rows.nonEmpty, s"IvfPqIndex.load: $dir/books is empty — corrupt index")
      val m = rows.map(_._1).max + 1
      val ksub = rows.map(_._2).max + 1
      require(rows.length == m * ksub,
        s"IvfPqIndex.load: $dir/books has ${rows.length} entries, expected $m×$ksub — corrupt index")
      val books = Array.ofDim[Array[Double]](m, ksub)
      rows.foreach { case (s, c, ctr) => books(s)(c) = ctr }
      IvfPqIndex(cents, Pq.Codebooks(books.map(_.toArray)),
        spark.read.parquet(s"$dir/codes"))
    }
  }
}
