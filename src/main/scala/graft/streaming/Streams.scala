package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over an `events`-shaped stream
  * (ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE).
  *
  * The reference's only "streaming" feature is file-watch re-query
  * (connection_config.go watch tags — SURVEY A21); the batch analog is
  * re-running the registered views. These operators are the north-star
  * extension: real event-time processing with watermarks and state.
  *
  * Scale: state is keyed (user_id / window), so it partitions across
  * executors; watermarks bound state size; all aggregations use Spark's
  * incremental state store — the standard production layout.
  */
object Streams {

  /** Tumbling 1-hour event-time windows with a 10-minute watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding windows: 1 hour wide, every 30 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Session windows: 30-minute inactivity gap per user. */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n_events"))

  /** Streaming rate-anomaly detection — the continuous twin of
    * x_events_anomaly's verdict stage: a REAL watermarked streaming
    * aggregation (tumbling 1-hour counts, the state store holds only
    * open windows) joined against the per-type hourly baseline stats
    * (hh, ss, ss2) fit ONCE on history — the global two-pass facts a
    * stream applies statelessly, exactly the mixture-rate / CCNet-
    * threshold pattern. The z² > k² verdict is the same exact
    * DECIMAL(38,0) cross-multiplication, so a window finalized by the
    * stream carries the verdict the batch query would assign it under
    * the same baseline. */
  def rateAnomaly(events: DataFrame, stats: DataFrame): DataFrame = {
    val dev = (col("n") * col("hh") - col("ss")).cast("decimal(38,0)")
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))
      .join(broadcast(stats), Seq("event_type"))
      .select(col("w_start"), col("event_type"), col("n"),
        (col("ss").cast("double") / col("hh")).as("mu"),
        (dev * dev >
          lit(4) * (col("hh").cast("decimal(38,0)") * col("ss2") -
            col("ss").cast("decimal(38,0)") * col("ss"))).as("anomaly"))
  }

  /** Streaming exact dedup ON THE KEY COLUMNS within the watermark
    * horizon — the streaming twin of x_dedup_exact. Uses
    * dropDuplicatesWithinWatermark, so a retransmitted event whose retry
    * was re-stamped a second later still dedups (appending ts to the keys
    * would keep every re-stamped copy), and key state is evicted once the
    * watermark passes. */
  def dedupe(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(keyCols)

  /** Streaming stratified sampler — stateless twin of
    * `x_cur_sample_stratified`: the md5 threshold IS the sampler, so a
    * stream and a backfill batch select exactly the same documents (no
    * RNG state to coordinate). Input: (doc_id, lang, …). */
  def stratifiedSample(docs: DataFrame): DataFrame =
    docs.filter(graft.queries.Curation.samplePredicate)

  /** Streaming α-mixture applier — continuous twin of `x_cur_mixture`'s
    * keep decision, the production split of that operator: the
    * temperature RATES are fit once on the backfill (they need global
    * per-source token masses — inherently two-pass), then a stream
    * applies them statelessly. Incoming docs join the static broadcast
    * (source, rate) table and keep iff md5long60(doc_id) clears the
    * rate threshold — a pure function of (doc_id, source, rates), so
    * stream and backfill keep IDENTICAL documents and micro-batch
    * boundaries cannot change the kept set. Works unchanged on a batch
    * DataFrame (StreamsSpec pins stream == batch == the hash-gated
    * aggregate's kept counts). Input: (doc_id, source, …) — all input
    * columns pass through. */
  def mixtureFilter(docs: DataFrame, rates: DataFrame): DataFrame = {
    graft.functions.Md5Long60.register(docs.sparkSession)
    docs.join(broadcast(rates.select(col("source"), col("rate"))), Seq("source"))
      .filter(expr("md5long60(CAST(doc_id AS STRING))") <
        floor(col("rate") * lit(1.152921504606846976e18)))
      .drop("rate")
  }

  /** Streaming C4 blocklist filter — stateless twin of
    * `x_cur_blocklist`'s keep verdict: documents containing any
    * blocklist token drop on arrival (a narrow filter — no state, no
    * watermark), and a stream and a backfill keep identical documents.
    * Input: (doc_id, text, …); passes ALL input columns through
    * untouched (the tokenization lives inside the predicate, so even a
    * pre-existing `ws` column survives). */
  def blocklistFilter(docs: DataFrame): DataFrame =
    docs.filter(
      size(graft.queries.Curation.blocklistHitsIn(split(col("text"), " "))) === 0)

  /** Streaming Gopher-rule quality gate — continuous twin of
    * `x_text_gopher`, keeping only passing documents. The rule battery
    * is a stateless per-row projection (the SAME
    * [[graft.queries.TextAnalysis.gopherRules]] the batch query runs),
    * so stream == batch holds by construction on any micro-batch split:
    * no state store, no watermark, Append mode. */
  def gopherGate(docs: DataFrame): DataFrame =
    graft.queries.TextAnalysis.gopherRules(docs).filter(col("pass"))

  /** Streaming repetition gate — continuous twin of
    * `x_text_gopher_rep`, keeping only documents that clear the full
    * Gopher repetition battery (top-n-gram share + duplicate-n-gram
    * coverage caps). Stateless per-row projection (the SAME
    * [[graft.queries.TextAnalysis.gopherRepetition]] the batch query
    * runs): stream == batch by construction, no state store, Append
    * mode. */
  def gopherRepGate(docs: DataFrame): DataFrame =
    graft.queries.TextAnalysis.gopherRepetition(docs).filter(col("pass"))

  /** Streaming contamination counts — continuous twin of
    * `x_cur_contamination`: incoming documents' word-3-gram shingles
    * semi-join the (static, broadcast) benchmark shingle set; per-doc
    * overlap counts emit in Update mode. Input: (doc_id, text) plus a
    * `ts` event-time column when `watermarkOn` is set — pass it on any
    * long-running stream so per-doc state is EVICTED once the watermark
    * passes (without it the groupBy keeps one state entry per doc_id
    * forever, which is only acceptable for bounded backfills).
    * `bench`: a static DataFrame with a single `s` column. */
  def contaminationCounts(docs: DataFrame, bench: DataFrame,
      watermarkOn: Option[(String, String)] = None): DataFrame = {
    val bounded = watermarkOn match {
      case Some((tsCol, delay)) => docs.withWatermark(tsCol, delay)
      case None => docs
    }
    val withTs = watermarkOn.map(_._1).toSeq
    graft.queries.Dedup.shinglesOf(
        bounded.select((Seq(col("doc_id")) ++ withTs.map(col) :+
          split(col("text"), " ").as("ws")): _*))
      .join(broadcast(bench), Seq("s"), "left_semi")
      .groupBy((col("doc_id") +: withTs.map(col)): _*)
      .agg(count(lit(1)).as("n_overlap"))
      .drop(withTs: _*)
  }

  /** Streaming twin of incremental near-dup dedup — the continuous form
    * of `x_dedup_incremental` against a PERSISTED index
    * (Dedup.writeMinhashIndex): each micro-batch of new documents
    * `(doc_id, text, …)` is shingled, signed, banded against the index's
    * parquet band keys and verified against its signatures, emitting the
    * same per-doc verdict rows `(doc_id, n_matches, dup_of, est_j)`.
    * Runs through foreachBatch, NOT a continuous plan: the signature
    * aggregation and the verdict rollup are two chained aggregations —
    * inexpressible as one streaming plan — and per-batch batch semantics
    * is exactly the daily-crawl contract the index path documents.
    * Verdicts are per-doc functions of (doc, index) alone, so micro-
    * batch boundaries cannot change them: a stream and a one-shot
    * backfill emit identical rows (StreamsSpec pins the equivalence).
    * The batch handed to `sink` is increment-proportional; the index is
    * never reshuffled or re-read beyond its two scans per batch. */
  def incrementalDedup(docs: DataFrame, indexPath: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      sink(graft.queries.Dedup.incrementalDupsOf(batch.toDF(), indexPath), batchId)
    }

  /** Streaming exact-substring rewrite — the continuous twin of
    * `Dedup.rewriteAgainstGramIndex`: each micro-batch of `(doc_id,
    * text)` documents is rewritten against the PERSISTED gram index
    * plus its own batch-mates — one incremental call per batch, which
    * IS the daily-crawl contract. foreachBatch, not a continuous plan
    * (dup rollup + reassembly are chained aggregations). Batch-boundary
    * semantics mirrors sequential increments exactly: within-batch
    * duplicates are cut in both documents, cross-batch duplicates only
    * in the later one (history is immutable). With `foldIn` the sink
    * folds each batch's grams into the index before the next batch, so
    * a stream equals the same increments applied sequentially
    * (StreamsSpec pins the equivalence). */
  def substringRewrite(docs: DataFrame, tablePrefix: String, foldIn: Boolean = false)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      sink(graft.queries.Dedup.rewriteAgainstGramIndex(batch.toDF(), tablePrefix), batchId)
      if (foldIn) graft.queries.Dedup.appendGramIndex(batch.toDF(), tablePrefix)
    }

  /** [[substringRewrite]] with `foldIn` hardened into the maintained
    * shape the other ingest lifecycles use: the rewrite verdicts are
    * RDD-localCheckpointed BEFORE the fold (an unmaterialized verdict
    * relation read after the fold would see every gram as a history
    * hit and cut everything — the raw `foldIn` variant relies on the
    * sink collecting inside its body; this one doesn't), the batch's
    * grams fold in, and the audit-gated compaction bounds the gram
    * table's file-group stack. The sink sees (verdicts, batchId,
    * compacted). */
  def substringRewriteMaintained(docs: DataFrame, tablePrefix: String,
      maxGroups: Double = 4.0)(
      sink: (DataFrame, Long, Boolean) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      val b = batch.toDF()
      val s = b.sparkSession
      val rw = graft.queries.Dedup.rewriteAgainstGramIndex(b, tablePrefix)
      val rwRdd = rw.rdd
      rwRdd.localCheckpoint()
      rwRdd.count()
      val verdicts = s.createDataFrame(rwRdd, rw.schema)
      if (!b.isEmpty)
        graft.queries.Dedup.appendGramIndex(b, tablePrefix)
      val compacted = graft.Engine.maintainBucketedTables(s, s"${tablePrefix}_grams",
        Seq(s"${tablePrefix}_grams"), maxGroups)
      sink(verdicts, batchId, compacted)
      rwRdd.unpersist(blocking = false)
      ()
    }

  /** Streaming ANN serving — the continuous twin of
    * `Similarity.ivf2SearchAgainstIndex`: each micro-batch of query
    * vectors `(vec_id, embedding)` probes the PERSISTED two-level IVF
    * index (`{tablePrefix}_coarse` / `_fine` / `_postings`, written by
    * Similarity.writeIvf2Index) and emits the exact-re-ranked top-5 per
    * query. Runs through foreachBatch, NOT a continuous plan: the probe
    * chain stacks three ranking windows — inexpressible as one
    * streaming plan — and per-batch batch semantics keeps the literal
    * bucket-pruning path (SelectedBucketsCount) live for each batch's
    * probed cells. Verdicts are per-query functions of (query vector,
    * frozen index) alone, so micro-batch boundaries cannot change them:
    * a stream and a one-shot batch search emit identical rows
    * (StreamsSpec pins the equivalence). Pairs with
    * Similarity.appendIvf2Postings for the full serving lifecycle:
    * queries stream here while the corpus grows by appends. */
  def annSearch(queries: DataFrame, tablePrefix: String,
      nprobeC: Int, nprobeF: Int)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      sink(graft.queries.Similarity.ivf2SearchOf(batch.toDF(), tablePrefix,
        nprobeC, nprobeF), batchId)
    }

  /** Streaming perceptual-dedup INGEST GATE over the persisted pHash
    * index (Multimodal.writePhashIndex) — the image crawl's
    * annotate-at-ingest check: each micro-batch of image assets
    * decodes and hashes only itself, then probes the frozen index
    * (broadcast band keys against the bucketed keys table — history
    * is a pure scan). Per-asset verdicts are pure functions of
    * (image bytes, frozen index), so stream == one-shot batch; pairs
    * with Multimodal.appendPhashIndex for the full lifecycle (gate the
    * batch, then fold the keepers in). */
  def phashIngest(assets: Dataset[graft.queries.Multimodal.Asset],
      tablePrefix: String, maxHamming: Int = 6)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[graft.queries.Multimodal.Asset] =
    assets.writeStream.foreachBatch {
      (batch: Dataset[graft.queries.Multimodal.Asset], batchId: Long) =>
        sink(graft.queries.Multimodal.incrementalPhashDupsAgainstIndex(
          batch, tablePrefix, maxHamming), batchId)
    }

  /** Streaming IVF-PQ serving — the [[annSearch]] twin over the persisted
    * PQ index (ProductQuant.writePqIndex): micro-batched query vectors
    * probe the frozen centroids, ADC-score the probed cells' codes, and
    * exact-re-rank the shortlist. Per-query verdicts are pure functions
    * of (query, frozen index), so stream == one-shot batch; pairs with
    * ProductQuant.appendPqCodes for the full serving lifecycle. */
  def pqSearch(queries: DataFrame, tablePrefix: String,
      nprobe: Int, shortlist: Int)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      sink(graft.queries.ProductQuant.ivfPqSearchOf(batch.toDF(), tablePrefix,
        nprobe, shortlist), batchId)
    }

  /** Streaming BM25 serving over the persisted lexical index
    * (TextAnalysis.writeBm25Index): micro-batched (qid, terms) query
    * rows score against the term-bucketed postings. Per-query verdicts
    * are pure functions of (query, index state), so stream == one-shot
    * batch; pairs with appendBm25Postings — which keeps scoring EXACT
    * for the union corpus — for the full lexical serving lifecycle. */
  def bm25Search(queries: DataFrame, tablePrefix: String, k: Int = 10)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      sink(graft.queries.TextAnalysis.bm25SearchOf(batch.toDF(), tablePrefix, k), batchId)
    }

  /** Streaming BM25 INGEST — the index-MAINTENANCE twin of
    * [[bm25Search]]: each micro-batch of new (doc_id, text) documents
    * folds into the persisted lexical index via
    * TextAnalysis.appendBm25Postings — postings and lengths shuffle
    * into the existing bucket layouts (no existing file rewritten),
    * the 1-row stats table recomputes from the union lengths. Because
    * df and stats derive from the union postings at QUERY time, the
    * index after any batching of the same rows is score-identical to a
    * one-shot rebuild over the union corpus (StreamsSpec pins stream ==
    * rebuild) — the lexical side needs no drift audit, unlike the ANN
    * fits; its only maintenance debt is file accumulation, cured by
    * Engine.compactBucketedTable under the bucketFileAudit gate.
    * Caller contract (inherited from appendBm25Postings): batches carry
    * only not-yet-indexed doc_ids. The sink sees each batch after its
    * append commits. */
  def bm25Ingest(docs: DataFrame, tablePrefix: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      val b = batch.toDF()
      // an empty micro-batch must not add empty file groups per bucket
      // (they would count against the bucketFileAudit for zero rows)
      if (!b.isEmpty)
        graft.queries.TextAnalysis.appendBm25Postings(b.sparkSession, tablePrefix, b)
      sink(b, batchId)
    }

  /** [[bm25Ingest]] with SELF-MAINTENANCE: after each append the
    * bucketFileAudit runs against the postings table, and when the
    * per-bucket file-group stack crosses `maxGroups` the batch pays the
    * compaction rewrite before the next one starts — so file hygiene is
    * a property the STREAM maintains, not an operator someone must
    * remember to run. The audit costs one filesystem listing per batch
    * (file names only); the rewrite is linear in the index and fires
    * every ~maxGroups appends, so its amortized per-batch cost is
    * O(index / maxGroups) — the knob trades steady-state file count
    * against rewrite frequency. Safe mid-stream because foreachBatch
    * serializes batches (the stream is the only writer, satisfying the
    * compaction's no-concurrent-writer swap contract) and compaction
    * changes file layout, never rows — a search between any two batches
    * sees identical scores either way (StreamsSpec pins the drained
    * index against the full-corpus query and that a rewrite actually
    * fired). The sink sees (batch, batchId, compacted). */
  def bm25IngestMaintained(docs: DataFrame, tablePrefix: String, maxGroups: Double = 4.0)(
      sink: (DataFrame, Long, Boolean) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      val b = batch.toDF()
      val s = b.sparkSession
      if (!b.isEmpty)
        graft.queries.TextAnalysis.appendBm25Postings(s, tablePrefix, b)
      // the audit-gated rewrite doubles as the takedown reclaim:
      // reclaimBm25Index folds any pending tombstones into the
      // compaction it was going to pay anyway (and recomputes stats +
      // clears the ledger); with none pending it is plain compaction
      val compacted = graft.Engine.auditThenReclaim(s, s"${tablePrefix}_tf", maxGroups) {
        graft.queries.TextAnalysis.reclaimBm25Index(s, tablePrefix)
      }
      sink(b, batchId, compacted)
    }

  /** The ANN serving lifecycle closed as one streaming operator — the
    * FIT-hygiene twin of the compaction-maintained ingests: each
    * micro-batch of (vec_id, embedding) vectors folds into the
    * persisted two-level index via Similarity.appendIvf2Postings
    * (frozen-fit assignment, history never rewritten), then every
    * `auditEvery`-th batch pays the drift audit (cell balance: one
    * partial agg over one postings column; sampled recall: O(sample ×
    * corpus) dots — the knob exists because that half is NOT per-batch
    * cheap) and, when the verdict flips, re-centers the index on its
    * own postings via Similarity.refitIvf2IndexFromPostings — the only
    * corpus that exists after streamed appends. A verdict that STAYS
    * flipped after a re-fit is not a bug: re-fitting cannot repair
    * genuine data concentration (500 identical vectors legitimately
    * share a cell), it repairs a fit the data has outgrown — a
    * persistent flip is the bar telling the caller the distribution
    * changed. The sink sees (auditRow if it ran, batchId, refitted).
    * Caller contract (inherited from appendIvf2Postings): batches carry
    * only not-yet-indexed vec_ids. */
  def annIngestMaintained(vectors: DataFrame, tablePrefix: String,
      sampleQueries: DataFrame, nprobeC: Int = 2, nprobeF: Int = 2,
      minRecall: Double = 0.6, maxImbalance: Double = 8.0, auditEvery: Int = 1)(
      sink: (Option[org.apache.spark.sql.Row], Long, Boolean) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      val b = batch.toDF()
      val s = b.sparkSession
      if (!b.isEmpty)
        graft.queries.Similarity.appendIvf2Postings(s, tablePrefix, b)
      var refitted = false
      val verdict =
        if (batchId % auditEvery == 0) {
          val r = graft.queries.Similarity.ivf2DriftAudit(s, tablePrefix,
            sampleQueries, nprobeC, nprobeF, minRecall, maxImbalance).head()
          if (r.getAs[Boolean]("refit")) {
            graft.queries.Similarity.refitIvf2IndexFromPostings(s, tablePrefix)
            refitted = true
          }
          Some(r)
        } else None
      sink(verdict, batchId, refitted)
    }

  /** The compressed-ANN twin of [[annIngestMaintained]] over the IVF-PQ
    * index: fold each (vec_id, embedding) batch via
    * ProductQuant.appendPqCodes (frozen centroids + codebook assign and
    * quantize the increment; history untouched), audit every
    * `auditEvery`-th batch via ProductQuant.pqDriftAudit, and re-fit
    * from the index's own postings on a flipped verdict. The same
    * persistent-flip semantics apply: a re-fit repairs an outgrown fit,
    * not genuine data concentration. */
  def pqIngestMaintained(vectors: DataFrame, tablePrefix: String,
      sampleQueries: DataFrame, nprobe: Int = 4, shortlist: Int = 20,
      minRecall: Double = 0.6, maxImbalance: Double = 8.0, auditEvery: Int = 1)(
      sink: (Option[org.apache.spark.sql.Row], Long, Boolean) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      val b = batch.toDF()
      val s = b.sparkSession
      if (!b.isEmpty)
        graft.queries.ProductQuant.appendPqCodes(s, tablePrefix, b)
      var refitted = false
      val verdict =
        if (batchId % auditEvery == 0) {
          val r = graft.queries.ProductQuant.pqDriftAudit(s, tablePrefix,
            sampleQueries, nprobe, shortlist, minRecall, maxImbalance).head()
          if (r.getAs[Boolean]("refit")) {
            graft.queries.ProductQuant.refitPqIndexFromPostings(s, tablePrefix)
            refitted = true
          }
          Some(r)
        } else None
      sink(verdict, batchId, refitted)
    }

  /** The TEXT-dedup lifecycle closed as one streaming operator — the
    * [[phashIngestMaintained]] pattern over the bucketed minhash index:
    * each (doc_id, text) micro-batch probes the frozen index under the
    * joint hot-bucket bound (verdicts = near-dups of HISTORY, RDD-
    * checkpointed before the fold for the same pre-fold pinning), the
    * non-duplicate keepers fold via Dedup.appendMinhashIndexBucketed
    * (signatures + capped keys into the existing bucket specs, counts
    * merged to true totals), and the audit-gated compaction bounds the
    * keys/sig tables' file-group stacks. Intra-batch near-dup pairs
    * both fold (neither is history when probed) — dedupe within a
    * batch upstream if that matters. The sink sees
    * (verdicts, batchId, compacted). */
  def minhashIngestMaintained(docs: DataFrame, tablePrefix: String,
      cap: Long = graft.queries.Dedup.hotBucketCap, maxGroups: Double = 4.0)(
      sink: (DataFrame, Long, Boolean) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      val b = batch.toDF()
      val s = b.sparkSession
      val probe = graft.queries.Dedup.incrementalDupsAgainstBucketedIndexOf(
        b, tablePrefix, cap)
      val probeRdd = probe.rdd
      probeRdd.localCheckpoint()
      probeRdd.count()
      val verdicts = s.createDataFrame(probeRdd, probe.schema)
      val keepers = b.join(verdicts.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      if (!keepers.isEmpty)
        graft.queries.Dedup.appendMinhashIndexBucketed(keepers, tablePrefix, cap)
      // the audit-gated rewrite doubles as the reclaim: pending
      // tombstones AND over-cap dead keys both drop inside the
      // compaction the file audit was going to pay anyway (the probe
      // above already honors the ledger logically, so mid-stream
      // takedowns take effect immediately; the physical purge rides
      // the next hygiene rewrite and clears the ledger)
      val compacted = graft.Engine.auditThenReclaim(s, s"${tablePrefix}_keys", maxGroups) {
        graft.queries.Dedup.reclaimMinhashIndex(s, tablePrefix, cap)
      }
      sink(verdicts, batchId, compacted)
      probeRdd.unpersist(blocking = false)
      ()
    }

  /** The perceptual-ingest lifecycle CLOSED as one streaming operator —
    * [[phashIngest]] (gate) + Multimodal.appendPhashIndex (fold) +
    * Engine.maintainBucketedTables (hygiene) per micro-batch: each image
    * batch is probed against the frozen index (verdicts = duplicates of
    * HISTORY, computed before the fold so the batch cannot shadow
    * itself), the non-duplicate keepers fold into the index, and the
    * audit-gated compaction keeps the keys/sig tables' per-bucket group
    * stacks bounded no matter how many batches arrive. Intra-batch
    * duplicates are inherited from the append contract: two copies
    * arriving in the SAME batch both pass the history probe (dedupe
    * within a batch upstream if that matters). The sink sees
    * (verdicts, batchId, compacted). */
  def phashIngestMaintained(assets: Dataset[graft.queries.Multimodal.Asset],
      tablePrefix: String, maxHamming: Int = 6, maxGroups: Double = 4.0)(
      sink: (DataFrame, Long, Boolean) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[graft.queries.Multimodal.Asset] =
    assets.writeStream.foreachBatch {
      (batch: Dataset[graft.queries.Multimodal.Asset], batchId: Long) =>
        val s = batch.sparkSession
        // materialize the probe BEFORE the fold: the probe plan is LAZY
        // and the fold below mutates the index it scans — an
        // unmaterialized verdicts relation read by the sink after the
        // fold would re-probe the post-fold index and see the batch's
        // own keepers as history. RDD-level localCheckpoint (the
        // checkpointVocab pattern) both severs the lineage (re-probe
        // impossible, loss fails loudly) and hands back the block
        // handle for eager release after the sink — Dataset.unpersist
        // would be a CacheManager no-op on a checkpoint.
        val probe = graft.queries.Multimodal.incrementalPhashDupsAgainstIndex(
          batch, tablePrefix, maxHamming)
        val probeRdd = probe.rdd
        probeRdd.localCheckpoint()
        probeRdd.count()
        val verdicts = s.createDataFrame(probeRdd, probe.schema)
        // distributed anti-join, not a collect: the keeper set is
        // increment-sized but there is no reason to drag it to the driver
        val keepers = batch.join(
            verdicts.select(org.apache.spark.sql.functions.col("new_id").as("asset_id")).distinct(),
            Seq("asset_id"), "left_anti")
          .as[graft.queries.Multimodal.Asset](
            org.apache.spark.sql.Encoders.product[graft.queries.Multimodal.Asset])
        if (!keepers.isEmpty)
          graft.queries.Multimodal.appendPhashIndex(s, tablePrefix, keepers)
        // audit-gated rewrite doubles as the takedown reclaim (the
        // probe above already honors the ledger logically)
        val compacted = graft.Engine.auditThenReclaim(s, s"${tablePrefix}_keys", maxGroups) {
          graft.queries.Multimodal.reclaimPhashIndex(s, tablePrefix)
        }
        sink(verdicts, batchId, compacted)
        probeRdd.unpersist(blocking = false)
        ()
    }

  /** The AUDIO-ingest lifecycle closed as one streaming operator — the
    * [[phashIngestMaintained]] pattern over the energy-profile
    * fingerprint index (Multimodal.writeAudioFpIndex): each WAV batch
    * is probed against the frozen index (verdicts = duplicates of
    * HISTORY, RDD-checkpointed pre-fold for the same pinning), the
    * non-duplicate keepers fold in, and the audit-gated compaction —
    * which also reclaims pending takedowns — bounds the file stacks.
    * Intra-batch duplicates inherit the append contract: dedupe within
    * a batch upstream if that matters. Sink: (verdicts, batchId,
    * compacted). */
  def audioIngestMaintained(assets: Dataset[graft.queries.Multimodal.Asset],
      tablePrefix: String, maxHamming: Int = 6, maxGroups: Double = 4.0)(
      sink: (DataFrame, Long, Boolean) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[graft.queries.Multimodal.Asset] =
    assets.writeStream.foreachBatch {
      (batch: Dataset[graft.queries.Multimodal.Asset], batchId: Long) =>
        val s = batch.sparkSession
        val probe = graft.queries.Multimodal.incrementalAudioFpDupsAgainstIndex(
          batch, tablePrefix, maxHamming)
        val probeRdd = probe.rdd
        probeRdd.localCheckpoint()
        probeRdd.count()
        val verdicts = s.createDataFrame(probeRdd, probe.schema)
        val keepers = batch.join(
            verdicts.select(org.apache.spark.sql.functions.col("new_id").as("asset_id")).distinct(),
            Seq("asset_id"), "left_anti")
          .as[graft.queries.Multimodal.Asset](
            org.apache.spark.sql.Encoders.product[graft.queries.Multimodal.Asset])
        if (!keepers.isEmpty)
          graft.queries.Multimodal.appendAudioFpIndex(s, tablePrefix, keepers)
        val compacted = graft.Engine.auditThenReclaim(s, s"${tablePrefix}_keys", maxGroups) {
          graft.queries.Multimodal.reclaimAudioFpIndex(s, tablePrefix)
        }
        sink(verdicts, batchId, compacted)
        probeRdd.unpersist(blocking = false)
        ()
    }

  /** The VIDEO-ingest lifecycle closed as one streaming operator over
    * the exact stream-signature index (Multimodal.writeVideoSigIndex):
    * each MP4 batch parses only itself, probes the frozen index by
    * fixed-width sig hash (remux-invariant exact match), folds the
    * non-duplicate keepers, and pays the audit-gated compaction —
    * which also reclaims pending takedowns — when the sig table's file
    * stack crosses `maxGroups`. Sink: (verdicts, batchId, compacted). */
  def videoIngestMaintained(assets: Dataset[graft.queries.Multimodal.Asset],
      tablePrefix: String, maxGroups: Double = 4.0)(
      sink: (DataFrame, Long, Boolean) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[graft.queries.Multimodal.Asset] =
    assets.writeStream.foreachBatch {
      (batch: Dataset[graft.queries.Multimodal.Asset], batchId: Long) =>
        val s = batch.sparkSession
        val probe = graft.queries.Multimodal.incrementalVideoSigDupsAgainstIndex(
          batch, tablePrefix)
        val probeRdd = probe.rdd
        probeRdd.localCheckpoint()
        probeRdd.count()
        val verdicts = s.createDataFrame(probeRdd, probe.schema)
        val keepers = batch.join(
            verdicts.select(org.apache.spark.sql.functions.col("new_id").as("asset_id")).distinct(),
            Seq("asset_id"), "left_anti")
          .as[graft.queries.Multimodal.Asset](
            org.apache.spark.sql.Encoders.product[graft.queries.Multimodal.Asset])
        if (!keepers.isEmpty)
          graft.queries.Multimodal.appendVideoSigIndex(s, tablePrefix, keepers)
        val compacted = graft.Engine.auditThenReclaim(s, s"${tablePrefix}_sig", maxGroups) {
          graft.queries.Multimodal.reclaimVideoSigIndex(s, tablePrefix)
        }
        sink(verdicts, batchId, compacted)
        probeRdd.unpersist(blocking = false)
        ()
    }

  /** Streaming HYBRID serving — the [[bm25Search]]/[[annSearch]]
    * composition over BOTH persisted indexes: micro-batched
    * (qid, terms, embedding) query rows probe the term-bucketed BM25
    * index AND the two-level IVF index, fused by the same RRF core as
    * the gated batch query. Per-query verdicts are pure functions of
    * (query, frozen indexes), so stream == one-shot batch. */
  def hybridSearch(queries: DataFrame, bmPrefix: String, annPrefix: String,
      k: Int = 10, nprobeC: Int = 2, nprobeF: Int = 4)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      sink(graft.queries.TextAnalysis.hybridSearchOf(batch.toDF(), bmPrefix,
        annPrefix, k, nprobeC, nprobeF), batchId)
    }

  /** Streaming model-based classification — the continuous twin of
    * x_text_nb_classify's APPLY stage: each micro-batch of documents
    * scores against a FROZEN Naive Bayes model (fit once on the
    * backfill — TextAnalysis.nbFit — exactly like the mixture's
    * two-pass rate fit) and emits (doc_id, pred, score). Per-doc
    * verdicts are pure functions of (doc, model): the model grid is a
    * static broadcast relation, so batch boundaries cannot change any
    * verdict — stream == one-shot batch (StreamsSpec pins it). This is
    * the serving shape of a quality/domain classifier gate in a
    * continuous-ingest pipeline. */
  def nbClassify(docs: DataFrame, model: graft.queries.TextAnalysis.NbModel)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      sink(graft.queries.TextAnalysis.nbScoreOf(batch.toDF(), model), batchId)
    }

  /** Streaming quality ANNOTATION gate — the annotate-at-ingest form of
    * x_text_attributes: each micro-batch of (doc_id, lang, text) rows
    * is tagged with every signal (Gopher verdict, CCNet perplexity
    * bucket, NB class, language ID, composite keep) against FROZEN
    * models fit once on the backfill — including the CCNet tertile
    * thresholds, which are global two-pass facts the stream applies
    * statelessly (the mixture-rate pattern). Every signal is a pure
    * per-doc function of (doc, models), so stream == one-shot batch
    * (StreamsSpec pins it across a split). */
  def attributesGate(docs: DataFrame, nb: graft.queries.TextAnalysis.NbModel,
      cc: graft.queries.TextAnalysis.CcModel)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      sink(graft.queries.TextAnalysis.attributesOf(batch.toDF(), nb, cc), batchId)
    }

  /** Streaming tokenization — the annotate-at-ingest form of
    * x_text_tokenize_ids: each micro-batch of (doc_id, text) rows
    * tokenizes against a FROZEN BpeModel (merges applied inline per
    * word, broadcast id table, -1 for truly unseen symbols). Pure
    * per-doc function of (doc, model) ⇒ stream == one-shot batch. */
  def tokenize(docs: DataFrame, model: graft.queries.TextAnalysis.BpeModel)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      sink(graft.queries.TextAnalysis.tokenizeOf(batch.toDF(), model), batchId)
    }

  /** Streaming unigram tokenization — the unigram-family twin of
    * [[tokenize]], closing that family's serving lifecycle: each
    * micro-batch of (doc_id, text) rows tokenizes against a FROZEN
    * trained model relation (piece, c, lp, id — Unigram.unigramFit's
    * shape, or the table written by Unigram.writeUnigramModel). The
    * per-word Viterbi segmentation + id lookup run inside the native
    * UnigramTokenize expression (round 17) — a pure per-doc function of
    * (doc, model), so stream == one-shot batch — StreamsSpec pins it
    * across a split, including the -1 unk path. */
  def unigramTokenize(docs: DataFrame, model: DataFrame)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      sink(graft.queries.Unigram.tokenizeOf(batch.toDF(), model), batchId)
    }

  /** Streaming WordPiece tokenization — the third tokenizer family's
    * serving twin (next to [[tokenize]] and [[unigramTokenize]]): each
    * micro-batch tokenizes against a FROZEN model relation (token, cnt,
    * id — Wordpiece.wordpieceFit's shape, or the table written by
    * Wordpiece.writeWordpieceModel). Greedy longest-match is a pure
    * function of (word, model) and ids broadcast per batch, so stream
    * == one-shot batch — StreamsSpec pins it across a split, including
    * the whole-word [UNK] path. */
  def wordpieceTokenize(docs: DataFrame, model: DataFrame)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      sink(graft.queries.Wordpiece.tokenizeOf(batch.toDF(), model), batchId)
    }

  /** Streaming curation ingest — the continuous-ingest composition of
    * the batch pipeline's PER-DOC stages: blocklist → not-a-duplicate
    * against the persisted minhash index → α-mixture keep, run per
    * micro-batch via foreachBatch (plain batch plans inside, so the
    * dedup verdict's candidate join + rollup face no streaming
    * restrictions). Every stage is a pure per-doc function of
    * (doc, static index/rates), so the union over micro-batches equals
    * a one-shot backfill of the same composition — StreamsSpec pins it.
    * The corpus-GLOBAL stages of x_cur_pipeline stay where they belong:
    * rates arrive pre-fitted on the backfill (the [[mixtureFilter]]
    * contract) and pack offsets / shard positions are assigned
    * downstream over the accumulated kept corpus, not per batch.
    * Input: (doc_id, source, text, …); the sink receives each batch's
    * kept rows. */
  def curationIngest(docs: DataFrame, rates: DataFrame, indexPath: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      sink(curationIngestBatch(batch.toDF(), rates, indexPath), batchId)
    }

  /** The per-batch plan [[curationIngest]] runs — shared with the spec's
    * one-shot backfill so stream and batch execute the SAME composition. */
  def curationIngestBatch(docs: DataFrame, rates: DataFrame, indexPath: String): DataFrame = {
    val clean = blocklistFilter(docs)
    val dups = graft.queries.Dedup.incrementalDupsOf(clean, indexPath)
      .select("doc_id")
    mixtureFilter(clean.join(dups, Seq("doc_id"), "left_anti"), rates)
  }

  final case class UserRunning(user_id: Long, n: Long, total: Double)

  final case class AsOfMatch(purchase_id: Long, user_id: Long, p_us: Long,
      view_id: Option[Long], v_us: Option[Long])

  /** The as-of resolver of [[asofMatchesWatermarked]]: walk the user's
    * events in (us, view-before-purchase, event_id) order — the
    * batch tagged-union's order — against the latest-view state. A view
    * advances the stored (view_id, v_us) only lexicographically on
    * (us, event_id), so a duplicate-timestamp view with a lower id
    * can't displace the winner the batch oracle picks; a purchase
    * emits its match against the latest view AT OR BEFORE it (NULL when
    * the stored view is in its future or absent). */
  private[streaming] def resolveAsof(uid: Long, latest0: Option[(Long, Long)],
      events: Seq[(Long, Long, String)]): (Option[(Long, Long)], Seq[AsOfMatch]) = {
    var latest = latest0
    val out = Seq.newBuilder[AsOfMatch]
    events.sortBy(e => (e._2, if (e._3 == "view") 0 else 1, e._1)).foreach {
      case (vid, vus, "view") =>
        if (latest.forall { case (pv, pu) => pu < vus || (pu == vus && pv <= vid) })
          latest = Some((vid, vus))
      case (pid, pus, "purchase") =>
        val m = latest.filter { case (_, vus) => vus <= pus }
        out += AsOfMatch(pid, uid, pus, m.map(_._1), m.map(_._2))
      case _ => ()
    }
    (latest, out.result())
  }

  /** Per-user state for [[asofMatchesWatermarked]]: events newer than
    * the watermark still awaiting resolution order, plus the latest
    * resolved view. */
  final case class AsofState(buf: List[(Long, Long, String)],
      latest: Option[(Long, Long)])

  /** A registered event-time timestamp so far in the future the
    * watermark never reaches it — the "no obligation pending" marker
    * for users whose state is pure latest-view: without it an already-
    * expired timestamp would linger in the state row and re-invoke the
    * group every micro-batch as a no-op drain. */
  private val NeverMs = Long.MaxValue / 4

  /** Streaming as-of join — the continuous twin of the batch
    * `x_events_asof`: each purchase emits its match against the user's
    * latest view AT OR BEFORE it, correct under arbitrary cross-batch
    * disorder up to the watermark's allowed lateness. There is NO
    * processing-time timeout anywhere, so `processAllAvailable`
    * quiescence is safe. Incoming events buffer in per-user state and
    * resolve only once the global event-time watermark passes them,
    * replaying each user's timeline in true event-time order — a
    * purchase delivered before an earlier-timestamped view (StreamsSpec
    * pins this case) waits until the watermark proves no earlier view
    * can still arrive. An event-time timeout drains held purchases when
    * the watermark (driven by other users' data) passes them, so a
    * silent user's matches still emit. Events older than the watermark
    * on arrival are dropped — the standard beyond-lateness loss. State
    * per user is O(events within the lateness horizon) + the single
    * latest-view pair; the pair persists (a purchase may as-of-match a
    * view arbitrarily far back — same contract as the batch query), so
    * state is bounded by construction at one pair per user plus the
    * horizon buffer. Input tuples: (event_id, user_id, us, event_type). */
  def asofMatchesWatermarked(events: Dataset[(Long, Long, Long, String)],
      delay: String = "1 hour"): Dataset[AsOfMatch] = {
    import events.sparkSession.implicits._
    // only the two as-of-relevant types enter the stateful operator —
    // and, because the optimizer pushes this deterministic predicate
    // below the EventTimeWatermark node, only they advance the
    // watermark either: the as-of stream's frontier is defined by the
    // traffic it consumes (clicks/errors neither buffer nor drive
    // eviction). Feed a mixed topic through a view/purchase projection
    // upstream if other traffic should drive the frontier.
    val wm = events.toDF("event_id", "user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", delay)
      .filter(col("event_type").isin("view", "purchase"))
      .select("event_id", "user_id", "us", "event_type", "ts")
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
    wm.groupByKey(_._2)
      .flatMapGroupsWithState[AsofState, AsOfMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[AsofState]) =>
          val st = state.getOption.getOrElse(AsofState(Nil, None))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val incoming = rows.map(r => (r._1, r._3, r._4)).filter(_._2 >= wmUs).toList
          // resolvable = strictly below the watermark (rows AT it can
          // still arrive and must keep waiting) — the conversion
          // labeler's drain rule
          val (ready, hold) = (st.buf ++ incoming).partition(_._2 < wmUs)
          val (latest, matches) = resolveAsof(uid, st.latest, ready)
          if (hold.isEmpty && latest.isEmpty) state.remove()
          else {
            state.update(AsofState(hold, latest))
            if (hold.nonEmpty) {
              val obligationUs = hold.map(_._2).min
              state.setTimeoutTimestamp(
                math.max(obligationUs / 1000L + 1L, state.getCurrentWatermarkMs() + 1L))
            } else state.setTimeoutTimestamp(NeverMs)
          }
          matches.iterator
      }
  }

  /** One resolved conversion label (the forward-as-of outcome). */
  final case class ConversionLabel(event_id: Long, user_id: Long, v_us: Long,
      purchase_id: Option[Long], converted: Boolean)

  /** The conversion resolver of [[conversionLabelsWatermarked]]: walk the
    * user's events in (us, event_id) order against the pending-view
    * state — an event expires pending views whose 1-hour window it has
    * passed (not-converted), a purchase resolves every pending earlier
    * view (converted, necessarily by the FIRST later purchase), a view
    * joins the pending set. `frontierUs` (the global watermark) then
    * expires pending views whose window it has passed even if no
    * same-user event ever arrives. */
  private[streaming] def resolveConversions(uid: Long, pending0: List[(Long, Long)],
      events: Seq[(Long, Long, String)], frontierUs: Long,
      windowUs: Long): (List[(Long, Long)], Seq[ConversionLabel]) = {
    var pending = pending0
    val out = Seq.newBuilder[ConversionLabel]
    events.sortBy(e => (e._2, e._1)).foreach { case (eid, eus, tpe) =>
      val (expired, live) = pending.partition { case (_, vus) => eus > vus + windowUs }
      expired.foreach { case (vid, vus) =>
        out += ConversionLabel(vid, uid, vus, None, converted = false) }
      pending = live
      if (tpe == "purchase") {
        val (hit, rest) = pending.partition { case (_, vus) => vus < eus }
        hit.foreach { case (vid, vus) =>
          out += ConversionLabel(vid, uid, vus, Some(eid), converted = true) }
        pending = rest
      }
      if (tpe == "view") pending = (eid, eus) :: pending
    }
    val (expired, live) = pending.partition { case (_, vus) => frontierUs > vus + windowUs }
    expired.foreach { case (vid, vus) =>
      out += ConversionLabel(vid, uid, vus, None, converted = false) }
    (live, out.result())
  }

  /** Per-user state for [[conversionLabelsWatermarked]]: events newer
    * than the watermark still awaiting resolution order, plus the
    * pending (view_id, v_us) set. */
  final case class ConvState(buf: List[(Long, Long, String)],
      pending: List[(Long, Long)])

  /** Streaming CONVERSION labeling — the stateful forward-as-of twin of
    * x_events_conversion: a purchase resolves every pending earlier view
    * (converted, with the resolving purchase's id — necessarily the
    * FIRST later purchase, since an earlier one would already have
    * resolved them), and a view whose 1-hour window has passed resolves
    * not-converted. Labels are correct under arbitrary cross-batch
    * disorder up to the watermark's allowed lateness: incoming events
    * are buffered in per-user state and only resolved once the global
    * event-time watermark (arrival max − `delay`) passes them, so every
    * user's timeline is replayed in true event-time order no matter how
    * micro-batches sliced it, and a label is a pure function of the
    * event-time sequence. The watermark also acts as a global frontier:
    * pending views whose window it passes resolve not-converted with no
    * flush event needed, and an event-time timeout re-invokes idle
    * users when the watermark (driven by OTHER users' data) passes one
    * of their obligations. Events older than the watermark on arrival
    * are dropped — the standard loss any watermark assigns to
    * beyond-lateness data. State per user is O(events within the
    * lateness horizon + pending views within the window) — bounded by
    * construction, so no idle timeout is needed.
    * Input tuples: (event_id, user_id, us, event_type). */
  def conversionLabelsWatermarked(events: Dataset[(Long, Long, Long, String)],
      delay: String = "1 hour",
      windowUs: Long = 3600000000L): Dataset[ConversionLabel] = {
    import events.sparkSession.implicits._
    // ts must survive into the stateful operator's child plan — the
    // event-time timeout requires the watermark column to be present.
    val wm = events.toDF("event_id", "user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", delay)
      .select("event_id", "user_id", "us", "event_type", "ts")
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
    wm.groupByKey(_._2)
      .flatMapGroupsWithState[ConvState, ConversionLabel](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[ConvState]) =>
          val st = state.getOption.getOrElse(ConvState(Nil, Nil))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // Engine-equivalent late filter: a row older than the watermark
          // can no longer be ordered against already-resolved history.
          val incoming = rows.map(r => (r._1, r._3, r._4)).filter(_._2 >= wmUs).toList
          // A buffered row is resolvable once NO future row can precede
          // it, i.e. strictly below the watermark (rows AT the watermark
          // can still arrive and must keep waiting).
          val (ready, hold) = (st.buf ++ incoming).partition(_._2 < wmUs)
          val (pending, labels) = resolveConversions(
            uid, st.pending, ready, wmUs, windowUs)
          if (pending.isEmpty && hold.isEmpty) state.remove()
          else {
            state.update(ConvState(hold, pending))
            // Wake when the watermark passes the earliest obligation:
            // a held event's own time, or a pending view's window end.
            val obligationUs = (hold.map(_._2) ++
              pending.map { case (_, vus) => vus + windowUs }).min
            state.setTimeoutTimestamp(
              math.max(obligationUs / 1000L + 1L, state.getCurrentWatermarkMs() + 1L))
          }
          labels.iterator
      }
  }

  /** Watermarked STREAM-STREAM interval join — the streaming twin of
    * the batch x_events_range_join (errors ⋈ clicks by the same user
    * within ±`windowSec`). Deliberately NOT custom `GroupState`: this
    * uses Spark's NATIVE stream-stream inner join so the late-data
    * semantics come from the engine — each side's rows are buffered in
    * the join state store and expired once BOTH sides' watermarks have
    * passed the interval in which a future match could still arrive
    * (the two-sided state-cleanup bound Spark derives from the join
    * condition's time constraint). Matches emit as soon as both rows
    * are present (inner join, append mode); a row later than its side's
    * watermark on arrival is dropped — the standard lateness loss.
    * Input columns: (event_id, user_id, us, event_type); output matches
    * the batch query's (err_id, click_id, user_id, delta_us) with
    * delta_us = click − error in µs.
    *
    * Scale: the join keys on user_id so state partitions across
    * executors; per-partition state is bounded by (event rate ×
    * (delay + window)) — the streaming analog of the batch twin's
    * bucketed equi-join, with the engine's HDFS-backed state store
    * replacing the shuffle. */
  def errorClickIntervalJoin(events: DataFrame, delay: String = "10 minutes",
      windowSec: Long = 300L): DataFrame =
    errorClickIntervalJoinMode(events, delay, windowSec, "inner")

  /** [[errorClickIntervalJoin]] with the join mode exposed —
    * `"leftOuter"` adds the triage-view rows an inner join hides: an
    * error with NO click within the window emits once with NULL
    * click/delta, produced by the ENGINE when both watermarks have
    * passed the point where a matching click could still arrive (the
    * outer row is a statement about late data, so only the watermark
    * may issue it — exactly why this is the native join and not custom
    * state). `"fullOuter"` completes the matrix: additionally a click
    * with NO error within the window emits once with NULL err/delta —
    * the orphaned-interaction rows a funnel audit needs — under the
    * same watermark-eviction rule on the click side. The output
    * `user_id` coalesces across sides so it is total in every mode. */
  def errorClickIntervalJoinMode(events: DataFrame, delay: String = "10 minutes",
      windowSec: Long = 300L, mode: String = "inner"): DataFrame = {
    val base = events.withColumn("ts", timestamp_micros(col("us")))
    val errors = base.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("e_ts"))
      .withWatermark("e_ts", delay)
    val clicks = base.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", delay)
    errors.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("c_ts") >= col("e_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
        col("c_ts") <= col("e_ts") + expr(s"INTERVAL $windowSec SECONDS"),
      mode)
      .select(col("err_id"), col("click_id"),
        coalesce(col("user_id"), col("c_user_id")).as("user_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("e_ts"))).as("delta_us"))
  }

  /** Custom keyed state via mapGroupsWithState: running per-user totals
    * (the pattern for bespoke state the built-in aggs can't express).
    * State here IS the product — a total must survive arbitrarily long
    * idle gaps — so eviction defaults OFF; pass `idleTimeout` when the
    * key space grows without bound and losing idle users' totals is the
    * accepted price of bounded state. */
  def runningTotals(events: Dataset[(java.sql.Timestamp, Long, String, Double)],
      idleTimeout: Option[String] = None): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    val timeoutConf = if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_._2)
      .mapGroupsWithState[UserRunning, UserRunning](timeoutConf) {
        case (uid, rows, state: GroupState[UserRunning]) =>
          if (state.hasTimedOut) {
            val last = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
            state.remove()
            last // final emission for the evicted user
          } else {
            val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
            var n = prev.n
            var total = prev.total
            rows.foreach { r => n += 1; total += r._4 }
            val next = UserRunning(uid, n, total)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            next
          }
      }
  }
}
