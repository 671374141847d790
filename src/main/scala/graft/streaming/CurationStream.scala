package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingestion screening — the production shape of the curation
  * pipeline: documents ARRIVE continuously and each one is gated,
  * near-dup-screened against the frozen training corpus, and
  * decontaminated against the eval set before admission.
  *
  * [[screen]] is a plain batch transform built from per-doc-independent
  * pieces (quality gates are stateless expressions; the near-dup screen
  * is the stateless-probe-side LSH join of [[graft.operators.Dedup.nearDupAgainst]];
  * decontamination is a broadcast gram join) — so screening distributes
  * over any partition of the input: screen(A ∪ B) = screen(A) ∪ screen(B).
  * That property is what makes the streaming form correct:
  * [[startScreen]] applies it per micro-batch via `foreachBatch` (the
  * standard Structured Streaming pattern for batch-only ops like
  * anti-joins), and the union of per-batch admissions provably equals
  * the one-shot batch screening of the same documents. Corpus bands and
  * eval grams build once into the bounded cache and serve every batch.
  *
  * Admission does NOT dedup arrivals against each other (two near-dup
  * docs in different micro-batches both pass if neither collides with
  * the CORPUS) — by design: intra-arrival dedup is a separate stateful
  * concern (watermarked `dropDuplicates`, or periodic re-dedup of the
  * accumulated corpus), while this operator answers "may this document
  * enter?" against the frozen state. */
object CurationStream {

  /** Batch screening: quality/language/length gates → near-dup screen
    * vs `corpus` → n-gram decontamination vs `evalSet`. Returns the
    * admitted subset of `probe` (original columns).
    *
    * `bands`×`rowsPerBand` must be matched to `jaccardThreshold` (the
    * LSH S-curve rule documented at [[graft.operators.Dedup.minHashLshPairs]]):
    * the 16×8 default places the collision threshold ≈0.707, right for
    * the 0.8 default — lowering the threshold without re-matching the
    * banding silently loses near-dup recall (at J=0.6 the 16×8 geometry
    * catches only ~24% of true pairs), so both knobs are forwarded. */
  def screen(probe: DataFrame, corpus: DataFrame, evalSet: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      minQuality: Double = 0.5, lang: String = "en",
      minTokens: Int = 10, maxTokens: Int = 1000,
      jaccardThreshold: Double = 0.8, decontamN: Int = 5,
      bands: Int = 16, rowsPerBand: Int = 8,
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5,
      extraGate: Option[Column] = None): DataFrame = {
    val gated = gate(probe, textCol, minQuality, lang, minTokens, maxTokens,
      model, minModelScore, extraGate)
    val nearDups = graft.operators.Dedup
      .nearDupAgainst(gated, corpus, textCol, idCol,
        bands = bands, rowsPerBand = rowsPerBand,
        jaccardThreshold = jaccardThreshold)
      .select(col("probe_id").as(idCol)).distinct()
    val unique = gated.join(nearDups, Seq(idCol), "left_anti")
    graft.operators.Dedup.decontaminate(unique, evalSet, textCol, idCol, decontamN)
  }

  /** The shared quality/language/length admission gates — stateless
    * per-doc expressions, so every screen variant distributes over
    * batch splits. When a fitted [[graft.operators.QualityClassifier.Model]]
    * is supplied, its sigmoid score joins the gate conjunction (the
    * FineWeb/DCLM-style classifier stage belongs in ingestion, not just
    * batch curation) — scoring is a codegen'd map-side expression, so
    * the distributivity that makes the streaming form correct is
    * untouched (StreamingSpec pins union == one-shot with the model
    * gate active). */
  private def gate(probe: DataFrame, textCol: String, minQuality: Double,
      lang: String, minTokens: Int, maxTokens: Int,
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5,
      extraGate: Option[Column] = None): DataFrame = {
    import graft.functions.TextFunctions._
    val base = probe.where(
      qualityScore(col(textCol)) >= minQuality &&
        langId(col(textCol)) === lang &&
        tokenCount(col(textCol)).between(minTokens, maxTokens))
    val scored =
      model.fold(base)(m => base.where(m.score(col(textCol)) >= minModelScore))
    // an arbitrary extra stateless predicate over the probe's columns
    // (Gopher rules, C4 page rules, a DSIR score threshold, ...);
    // applied per row, so screen distributivity is untouched
    extraGate.fold(scored)(g => scored.where(g))
  }

  /** [[screen]] served by a PREBUILT [[graft.operators.LshIndex]] over
    * the frozen corpus — the build-once/serve-many form: a production
    * ingestion screen builds (or [[graft.operators.LshIndex.load]]s)
    * the corpus band/shingle structures once and every arriving batch
    * probes them, instead of re-deriving the corpus side per call. The
    * banding geometry rides in the index (no bands/rowsPerBand knobs
    * here — a mismatched geometry cannot be expressed), and
    * `jaccardThreshold` must be matched to it per the S-curve rule on
    * [[screen]]. Equivalent to [[screen]] over the indexed corpus
    * (DedupSpec pins probe == nearDupAgainst; StreamingSpec pins the
    * multi-batch union == one-shot law on this path). */
  def screenIndexed(probe: DataFrame, index: graft.operators.LshIndex.LshIndex,
      evalSet: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      minQuality: Double = 0.5, lang: String = "en",
      minTokens: Int = 10, maxTokens: Int = 1000,
      jaccardThreshold: Double = 0.8, decontamN: Int = 5,
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5,
      extraGate: Option[Column] = None): DataFrame = {
    val gated = gate(probe, textCol, minQuality, lang, minTokens, maxTokens,
      model, minModelScore, extraGate)
    val nearDups = index.probe(gated, textCol, idCol, jaccardThreshold)
      .select(col("probe_id").as(idCol)).distinct()
    val unique = gated.join(nearDups, Seq(idCol), "left_anti")
    graft.operators.Dedup.decontaminate(unique, evalSet, textCol, idCol, decontamN)
  }

  /** The v2 screen: [[screen]]'s gates + near-dup stage, then the
    * incremental ExactSubstr span scrub
    * ([[graft.operators.Dedup.duplicateSpanScrubAgainst]] — every
    * n-token passage already present in the frozen corpus is CUT from
    * the arriving doc, not just flagged), then decontamination over the
    * SCRUBBED text — mirroring the batch curation-v2 chain
    * (q_curation_pipeline2) stage for stage. Every stage is stateless
    * per probe doc given the frozen corpus (the span scrub's
    * foreachBatch-distributivity is spec-proven, StreamingSpec), so the
    * union of per-batch admissions equals the one-shot batch screen.
    *
    * Output: (idCol, textCol, n_tokens_removed) — the text is the
    * scrubbed rewrite, so downstream sees what training would see. */
  def screenV2(probe: DataFrame, corpus: DataFrame, evalSet: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      minQuality: Double = 0.5, lang: String = "en",
      minTokens: Int = 10, maxTokens: Int = 1000,
      jaccardThreshold: Double = 0.8, spanN: Int = 8, decontamN: Int = 5,
      bands: Int = 16, rowsPerBand: Int = 8,
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5,
      extraGate: Option[Column] = None): DataFrame = {
    val gated = gate(probe, textCol, minQuality, lang, minTokens, maxTokens,
      model, minModelScore, extraGate)
    val nearDups = graft.operators.Dedup
      .nearDupAgainst(gated, corpus, textCol, idCol,
        bands = bands, rowsPerBand = rowsPerBand,
        jaccardThreshold = jaccardThreshold)
      .select(col("probe_id").as(idCol)).distinct()
    val unique = gated.join(nearDups, Seq(idCol), "left_anti")
    val scrubbed = graft.operators.Dedup
      .duplicateSpanScrubAgainst(unique, corpus, textCol, idCol, spanN)
      .withColumnRenamed("text", textCol)
    graft.operators.Dedup.decontaminate(scrubbed, evalSet, textCol, idCol, decontamN)
  }

  /** [[screenV2]] with the near-dup stage served by a PREBUILT
    * [[graft.operators.LshIndex]] (see [[screenIndexed]]). `corpus` is
    * still taken for the span-scrub gram set and the decontamination —
    * those index different structures (n-gram sets, not LSH bands) —
    * and MUST be the corpus the index was built over, or the near-dup
    * and span stages screen against different frozen states. */
  def screenV2Indexed(probe: DataFrame, index: graft.operators.LshIndex.LshIndex,
      corpus: DataFrame, evalSet: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      minQuality: Double = 0.5, lang: String = "en",
      minTokens: Int = 10, maxTokens: Int = 1000,
      jaccardThreshold: Double = 0.8, spanN: Int = 8, decontamN: Int = 5,
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5,
      extraGate: Option[Column] = None): DataFrame = {
    val gated = gate(probe, textCol, minQuality, lang, minTokens, maxTokens,
      model, minModelScore, extraGate)
    val nearDups = index.probe(gated, textCol, idCol, jaccardThreshold)
      .select(col("probe_id").as(idCol)).distinct()
    val unique = gated.join(nearDups, Seq(idCol), "left_anti")
    val scrubbed = graft.operators.Dedup
      .duplicateSpanScrubAgainst(unique, corpus, textCol, idCol, spanN)
      .withColumnRenamed("text", textCol)
    graft.operators.Dedup.decontaminate(scrubbed, evalSet, textCol, idCol, decontamN)
  }

  /** [[screenV2]] with BOTH frozen-corpus stages served by prebuilt
    * indexes — the near-dup stage by an [[graft.operators.LshIndex]]
    * and the span scrub by a [[graft.operators.SpanIndex]] — so the v2
    * ingestion screen needs NO raw corpus frame at all: every
    * per-session corpus derivation (bands, shingles, gram set) is
    * build-once/serve-many. Both indexes MUST be built over the same
    * frozen corpus, or the near-dup and span stages screen against
    * different states; the span width rides in the SpanIndex (a
    * mismatched `spanN` cannot be expressed). Equivalent to [[screenV2]]
    * over the indexed corpus and distributes over batch splits
    * (StreamingSpec pins both laws). */
  def screenV2FullyIndexed(probe: DataFrame,
      index: graft.operators.LshIndex.LshIndex,
      spanIndex: graft.operators.SpanIndex.SpanIndex, evalSet: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      minQuality: Double = 0.5, lang: String = "en",
      minTokens: Int = 10, maxTokens: Int = 1000,
      jaccardThreshold: Double = 0.8, decontamN: Int = 5,
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5, spanBloomFpp: Double = 0.0,
      extraGate: Option[Column] = None): DataFrame = {
    val gated = gate(probe, textCol, minQuality, lang, minTokens, maxTokens,
      model, minModelScore, extraGate)
    val nearDups = index.probe(gated, textCol, idCol, jaccardThreshold)
      .select(col("probe_id").as(idCol)).distinct()
    val unique = gated.join(nearDups, Seq(idCol), "left_anti")
    // spanBloomFpp > 0 takes the map-side Bloom branch; with a
    // SpanIndex saved under a persisted filter it is aggregate-free
    // (over-scrubs at <= fpp per gram, never under-scrubs)
    val scrubbed = spanIndex.scrub(unique, textCol, idCol, spanBloomFpp)
      .withColumnRenamed("text", textCol)
    graft.operators.Dedup.decontaminate(scrubbed, evalSet, textCol, idCol, decontamN)
  }

  /** Run [[screen]] over a streaming document source, appending admitted
    * documents per micro-batch through `sink`. The corpus/eval frames
    * are static; their band/gram structures materialize on the first
    * batch and are served from cache for every later one. */
  def startScreen(stream: DataFrame, corpus: DataFrame, evalSet: DataFrame,
      sink: DataFrame => Unit,
      textCol: String = "text", idCol: String = "doc_id",
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow(),
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5,
      extraGate: Option[Column] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(screen(batch, corpus, evalSet, textCol, idCol,
          model = model, minModelScore = minModelScore, extraGate = extraGate))
      }
      .trigger(trigger)
      .start()

  /** [[startScreen]] fed directly from WebDataset TAR shards: each
    * arriving shard parses ([[graft.sources.Tar.readStream]]), samples
    * regroup by basename inside the batch (shard-contained by the
    * WebDataset contract, so micro-batch boundaries never split one),
    * the text part becomes the probe document, and the standard screen
    * chain runs. The raw-bytes-to-curated-docs ingestion path as ONE
    * call. */
  def startScreenWebdataset(spark: org.apache.spark.sql.SparkSession,
      shardDir: String, corpus: DataFrame, evalSet: DataFrame,
      sink: DataFrame => Unit,
      checkpointDir: String, textExt: String = "txt",
      trigger: Trigger = Trigger.AvailableNow(),
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5,
      extraGate: Option[Column] = None): StreamingQuery =
    graft.sources.Tar.readStream(spark, shardDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // doc_id = xxhash64(shard, sample_key): real WebDataset keys are
        // often non-numeric (hex, uuid), so a cast("long") would null
        // them silently, and identical basenames in DIFFERENT shards are
        // distinct samples by the WebDataset contract — the shard must be
        // part of the identity or they collide into one id
        val docs = graft.sources.Tar.webdatasetSamples(batch)
          .select(xxhash64(col("file"), col("sample_key")).as("doc_id"),
            col("file").as("shard"), col("sample_key"),
            decode(element_at(col("parts"), textExt), "UTF-8").as("text"))
          .where(col("text").isNotNull)
        sink(screen(docs, corpus, evalSet, "text", "doc_id",
          model = model, minModelScore = minModelScore, extraGate = extraGate))
      }
      .trigger(trigger)
      .start()

  /** [[startScreen]] with the v2 chain: admitted docs arrive at `sink`
    * span-scrubbed against the frozen corpus. Same foreachBatch shape;
    * the corpus gram set reduces once and serves every batch. */
  def startScreenV2(stream: DataFrame, corpus: DataFrame, evalSet: DataFrame,
      sink: DataFrame => Unit,
      textCol: String = "text", idCol: String = "doc_id", spanN: Int = 8,
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow(),
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5,
      extraGate: Option[Column] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(screenV2(batch, corpus, evalSet, textCol, idCol, spanN = spanN,
          model = model, minModelScore = minModelScore, extraGate = extraGate))
      }
      .trigger(trigger)
      .start()

  /** [[startScreen]] served by a prebuilt index ([[screenIndexed]] per
    * micro-batch): the corpus bands/shingles are the index's frames —
    * already materialized once — so NO batch re-derives them; each
    * batch's plan is gates + two joins against the cached index. */
  def startScreenIndexed(stream: DataFrame,
      index: graft.operators.LshIndex.LshIndex, evalSet: DataFrame,
      sink: DataFrame => Unit,
      textCol: String = "text", idCol: String = "doc_id",
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow(),
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5,
      extraGate: Option[Column] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(screenIndexed(batch, index, evalSet, textCol, idCol,
          model = model, minModelScore = minModelScore, extraGate = extraGate))
      }
      .trigger(trigger)
      .start()

  /** [[startScreenV2]] with the near-dup stage served by a prebuilt
    * index ([[screenV2Indexed]] per micro-batch); `corpus` still feeds
    * the span-scrub gram set and must be what the index was built over. */
  def startScreenV2Indexed(stream: DataFrame,
      index: graft.operators.LshIndex.LshIndex,
      corpus: DataFrame, evalSet: DataFrame,
      sink: DataFrame => Unit,
      textCol: String = "text", idCol: String = "doc_id", spanN: Int = 8,
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow(),
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5,
      extraGate: Option[Column] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(screenV2Indexed(batch, index, corpus, evalSet, textCol, idCol,
          spanN = spanN, model = model, minModelScore = minModelScore, extraGate = extraGate))
      }
      .trigger(trigger)
      .start()

  /** [[startScreenV2Indexed]] with the span stage ALSO index-served
    * ([[screenV2FullyIndexed]] per micro-batch): no batch touches a raw
    * corpus frame — each batch's plan is gates + joins against the two
    * prebuilt indexes' cached frames. */
  def startScreenV2FullyIndexed(stream: DataFrame,
      index: graft.operators.LshIndex.LshIndex,
      spanIndex: graft.operators.SpanIndex.SpanIndex, evalSet: DataFrame,
      sink: DataFrame => Unit,
      textCol: String = "text", idCol: String = "doc_id",
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow(),
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5, spanBloomFpp: Double = 0.0,
      extraGate: Option[Column] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(screenV2FullyIndexed(batch, index, spanIndex, evalSet, textCol, idCol,
          model = model, minModelScore = minModelScore,
          spanBloomFpp = spanBloomFpp, extraGate = extraGate))
      }
      .trigger(trigger)
      .start()

  /** [[screenIndexed]] with the eval set ALSO index-served: the v1
    * screen with EVERY corpus-shaped input a prebuilt index — near-dup
    * by [[graft.operators.LshIndex]], decontamination by
    * [[graft.operators.EvalIndex]] (its gram width rides in the index;
    * a mismatched `decontamN` cannot be expressed). `evalBloomFpp > 0`
    * takes the map-side Bloom flag branch — aggregate-free when the
    * EvalIndex carries a persisted filter; over-flags at ≤ fpp per
    * gram, never under-flags. Equivalent to [[screen]] over the indexed
    * frames and distributes over batch splits (StreamingSpec pins
    * both). */
  def screenAllIndexed(probe: DataFrame,
      index: graft.operators.LshIndex.LshIndex,
      evalIndex: graft.operators.EvalIndex.EvalIndex,
      textCol: String = "text", idCol: String = "doc_id",
      minQuality: Double = 0.5, lang: String = "en",
      minTokens: Int = 10, maxTokens: Int = 1000,
      jaccardThreshold: Double = 0.8,
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5, evalBloomFpp: Double = 0.0,
      extraGate: Option[Column] = None): DataFrame = {
    val gated = gate(probe, textCol, minQuality, lang, minTokens, maxTokens,
      model, minModelScore, extraGate)
    val nearDups = index.probe(gated, textCol, idCol, jaccardThreshold)
      .select(col("probe_id").as(idCol)).distinct()
    val unique = gated.join(nearDups, Seq(idCol), "left_anti")
    evalIndex.decontaminate(unique, textCol, idCol, evalBloomFpp)
  }

  /** [[screenV2FullyIndexed]] with the eval set ALSO index-served — the
    * COMPLETE build-once/serve-many v2 ingestion screen: near-dup by
    * [[graft.operators.LshIndex]], span scrub by
    * [[graft.operators.SpanIndex]], decontamination by
    * [[graft.operators.EvalIndex]]. No raw corpus OR eval frame in any
    * batch plan; all three indexes must describe the same frozen state
    * (both gram widths ride in their indexes). With persisted Bloom
    * filters on the span and eval indexes, a batch plan runs zero
    * corpus-sized aggregates. Equivalent to [[screenV2]] over the
    * indexed frames and distributes over batch splits (StreamingSpec
    * pins both laws). */
  def screenV2AllIndexed(probe: DataFrame,
      index: graft.operators.LshIndex.LshIndex,
      spanIndex: graft.operators.SpanIndex.SpanIndex,
      evalIndex: graft.operators.EvalIndex.EvalIndex,
      textCol: String = "text", idCol: String = "doc_id",
      minQuality: Double = 0.5, lang: String = "en",
      minTokens: Int = 10, maxTokens: Int = 1000,
      jaccardThreshold: Double = 0.8,
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5, spanBloomFpp: Double = 0.0,
      evalBloomFpp: Double = 0.0,
      extraGate: Option[Column] = None): DataFrame = {
    val gated = gate(probe, textCol, minQuality, lang, minTokens, maxTokens,
      model, minModelScore, extraGate)
    val nearDups = index.probe(gated, textCol, idCol, jaccardThreshold)
      .select(col("probe_id").as(idCol)).distinct()
    val unique = gated.join(nearDups, Seq(idCol), "left_anti")
    val scrubbed = spanIndex.scrub(unique, textCol, idCol, spanBloomFpp)
      .withColumnRenamed("text", textCol)
    evalIndex.decontaminate(scrubbed, textCol, idCol, evalBloomFpp)
  }

  /** [[startScreenV2FullyIndexed]] with the eval set index-served
    * ([[screenV2AllIndexed]] per micro-batch): the production v2
    * ingestion entry point — every batch plan is gates + joins/probes
    * against three prebuilt indexes' cached frames and filters. */
  def startScreenV2AllIndexed(stream: DataFrame,
      index: graft.operators.LshIndex.LshIndex,
      spanIndex: graft.operators.SpanIndex.SpanIndex,
      evalIndex: graft.operators.EvalIndex.EvalIndex,
      sink: DataFrame => Unit,
      textCol: String = "text", idCol: String = "doc_id",
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow(),
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5, spanBloomFpp: Double = 0.0,
      evalBloomFpp: Double = 0.0,
      extraGate: Option[Column] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(screenV2AllIndexed(batch, index, spanIndex, evalIndex,
          textCol, idCol, model = model, minModelScore = minModelScore,
          spanBloomFpp = spanBloomFpp, evalBloomFpp = evalBloomFpp,
          extraGate = extraGate))
      }
      .trigger(trigger)
      .start()

  /** Streaming BINARY-export sink — the last mile of a streaming
    * ingestion pipeline: each micro-batch's (id, token-id array) rows
    * land as `.bin`/`.idx` shards numbered `batchId·shardsPerBatch + k`
    * — a PURE FUNCTION of the batch id, so a replayed batch
    * (foreachBatch is at-least-once on failure) rewrites exactly its
    * own files and the sink is idempotent with no commit protocol; a
    * batch never touches another batch's bytes, preserving the
    * append-only contract live trainers rely on. Batch-id gaps (empty
    * batches write nothing) are fine — [[graft.sources.TokenizedExport.read]]
    * lists shards by name, not by contiguity. All batches must share
    * one `vocabSize` (the dtype is part of the format). */
  /** [[screenIndexed]] + a SEMANTIC near-dup gate served by a frozen
    * [[graft.operators.Similarity.IvfIndex]]: after the lexical screen,
    * a survivor is dropped when its EMBEDDING is near a frozen-corpus
    * embedding (cosine ≥ `embThreshold`) — the SemDeDup-style semantic
    * screen at ingestion, catching paraphrases and re-renderings the
    * shingle LSH cannot see. Both corpus-shaped inputs are prebuilt
    * indexes (bands/shingles lexical, cells semantic); the embedding
    * probe is stateless per row
    * ([[graft.operators.Similarity.IvfIndex.nearDupAgainst]]), so the
    * multi-batch union == one-shot law extends to this screen
    * (StreamingSpec). Semantic recall is dialed by `embNprobe`
    * (= nlist ⇒ exact; 99.48% at the 12-of-16 gate cover on the 30×
    * probe corpus). The probe frame must carry BOTH textCol and vecCol. */
  def screenSemantic(probe: DataFrame,
      index: graft.operators.LshIndex.LshIndex,
      embIndex: graft.operators.Similarity.IvfIndex,
      evalSet: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      vecCol: String = "embedding",
      minQuality: Double = 0.5, lang: String = "en",
      minTokens: Int = 10, maxTokens: Int = 1000,
      jaccardThreshold: Double = 0.8, decontamN: Int = 5,
      embThreshold: Double = 0.7, embNprobe: Int = 12,
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5,
      extraGate: Option[Column] = None): DataFrame = {
    val lexical = screenIndexed(probe, index, evalSet, textCol, idCol,
      minQuality, lang, minTokens, maxTokens, jaccardThreshold, decontamN,
      model, minModelScore, extraGate)
    // semantic gate LAST: it probes only the lexical survivors (the
    // cheapest place for the most expensive per-row signal)
    val semDups = embIndex
      .nearDupAgainst(lexical, vecCol, idCol, embThreshold, embNprobe)
      .select(col("probe_id").as(idCol)).distinct()
    lexical.join(semDups, Seq(idCol), "left_anti")
  }

  /** [[startScreenIndexed]] with the semantic gate active
    * ([[screenSemantic]] per micro-batch). */
  def startScreenSemantic(stream: DataFrame,
      index: graft.operators.LshIndex.LshIndex,
      embIndex: graft.operators.Similarity.IvfIndex,
      evalSet: DataFrame,
      sink: DataFrame => Unit,
      textCol: String = "text", idCol: String = "doc_id",
      vecCol: String = "embedding",
      embThreshold: Double = 0.7, embNprobe: Int = 12,
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow(),
      model: Option[graft.operators.QualityClassifier.Model] = None,
      minModelScore: Double = 0.5,
      extraGate: Option[Column] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(screenSemantic(batch, index, embIndex, evalSet, textCol, idCol,
          vecCol, embThreshold = embThreshold, embNprobe = embNprobe,
          model = model, minModelScore = minModelScore, extraGate = extraGate))
      }
      .trigger(trigger)
      .start()

  def startTokenizedExport(stream: DataFrame, dir: String, vocabSize: Int,
      idCol: String = "doc_id", idsCol: String = "token_ids",
      shardsPerBatch: Int = 4,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.sources.TokenizedExport.write(
            batch, idCol, idsCol, dir, shardsPerBatch, vocabSize,
            shardOffset = batchId * shardsPerBatch).count()
        }
        ()
      }
      .trigger(trigger)
      .start()
}
