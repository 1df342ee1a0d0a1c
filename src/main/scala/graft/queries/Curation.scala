package graft.queries

import graft.Engine.table
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-corpus curation operators: the selection/reporting layer a
  * large-scale data pipeline runs after cleaning and dedup —
  * deterministic stratified sampling, benchmark-contamination checks,
  * and boilerplate (repetition) scoring.
  *
  * Everything is engine-portable by construction (md5-hex thresholds,
  * integer/double arithmetic, index-ordered folds), so every query here
  * is DuckDB hash-gated.
  *
  * Scale notes: sampling is a stateless narrow filter (no shuffle, no
  * global coordination — the md5 threshold IS the sampler, so re-runs
  * and backfills select identical rows); contamination broadcasts the
  * (small) benchmark shingle set against a corpus-side scan; repetition
  * is one explode + two partial-aggregatable groupBys on doc_id.
  */
object Curation {

  type Q = (SparkSession, String) => DataFrame

  private def toks(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents").select(col("doc_id"), split(col("text"), " ").as("ws"))

  /** THE stratified-sampling predicate — single source of truth shared by
    * the sample query, its audit, the curated-corpus writer and the
    * streaming twin (Streams.stratifiedSample): keep a doc when the
    * first md5 hex digit of its id is under the per-stratum threshold
    * (en 4/16 = 25%, others 8/16 = 50%). Deterministic: a stream and a
    * backfill select identical rows. */
  private[graft] def samplePredicate: org.apache.spark.sql.Column =
    substring(md5(col("doc_id").cast("string")), 1, 1) <
      when(col("lang") === "en", lit("4")).otherwise(lit("8"))

  val queries: Map[String, Q] = Map(
    // -- deterministic stratified sampling: per-language keep rates via an
    //    md5-hex threshold (en is over-represented → 25%, others 50%).
    //    The hash IS the sampler: no RNG state, identical selection on
    //    re-run/backfill, and rates are auditable per stratum.
    "x_cur_sample_stratified" -> ((s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"), col("lang"))
        .filter(samplePredicate)
        .orderBy("doc_id")),

    // -- per-stratum audit of the same sample: total, kept, realized rate
    "x_cur_sample_audit" -> ((s, d) =>
      table(s, d, "documents")
        .select(col("lang"), samplePredicate.cast("long").as("kept"))
        .groupBy("lang")
        .agg(count(lit(1)).as("total"), sum("kept").as("kept"),
          (sum("kept").cast("double") / count(lit(1))).as("rate"))
        .orderBy("lang")),

    // -- DSIR importance resampling (Xie et al. 2023): select the docs
    //    whose hashed-n-gram feature distribution looks most like a
    //    TARGET domain (here lang='en' as the quality proxy, raw = the
    //    whole corpus). Per-doc log importance weight = Σ_features
    //    ln p_target(b) − ln p_raw(b) over 64 md5-hashed unigram buckets
    //    (Laplace-smoothed), then Gumbel-top-k resampling with md5-seeded
    //    noise — the published algorithm, deterministic end-to-end.
    //    Scale shape: both feature distributions are 64-ROW broadcast
    //    relations (partial-agg bucket counts); the corpus pays one
    //    explode + groupBy(doc, bucket) pass — the exchange is
    //    O(docs × 64) at any corpus size — and selection is a global
    //    top-k (TakeOrderedAndProject), never a full sort. ln() is
    //    floor-quantized and per-bucket contributions sum in bucket
    //    order, so the double keys reproduce bit-for-bit in DuckDB.
    "x_cur_dsir" -> ((s, d) => dsir(s, d)),

    // -- benchmark contamination: word-3-gram overlap between each corpus
    //    document and a held-out benchmark set (docs 0..19 here). The
    //    benchmark shingle set is tiny → broadcast; the corpus side stays
    //    a partition-parallel scan + key-equi join. Output: every
    //    contaminated doc with overlap counts and ratio.
    "x_cur_contamination" -> ((s, d) => {
      val bench = Dedup.shinglesOf(toks(s, d).filter(col("doc_id") < 20))
        .select(col("s")).distinct()
        .withColumn("hit", lit(1L))
      // ONE corpus pass: broadcast-left-join the benchmark set, then a
      // single per-doc aggregate yields totals AND overlap together (the
      // two-aggregate form would run the shingle explode twice)
      Dedup.shinglesOf(toks(s, d).filter(col("doc_id") >= 20))
        .join(broadcast(bench), Seq("s"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
        .filter(col("n_overlap") > 0)
        .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
          (col("n_overlap").cast("double") / col("n_shingles")).as("overlap_ratio"))
        .orderBy(col("overlap_ratio").desc, col("doc_id"))
        .limit(50)
    }),

    // -- FUZZY benchmark contamination (near-dup decontamination): the
    //    exact 3-gram check above misses paraphrased or lightly-edited
    //    benchmark leaks; this one flags corpus documents whose
    //    md5-MinHash signature agrees with a benchmark document's at
    //    est_j ≥ 0.5 — the same decontamination bar large-model data
    //    reports apply alongside exact n-gram overlap. PURE COMPOSITION
    //    of the hash-gated incremental-dedup machinery with the held-out
    //    benchmark (doc_id < 20, the exact check's set) as the index
    //    side: band keys join key-equi on (band, bh) with the side
    //    predicates as join conditions (one exchange, ReusedExchange —
    //    Dedup.md5IncrementalDups), so at 100 TB the benchmark side is a
    //    broadcast-sized signature table and the corpus pays one
    //    shingle→signature pass. One row per contaminated doc: match
    //    count, the lowest-id leaking benchmark doc, best agreement.
    "x_cur_contamination_fuzzy" -> ((s, d) =>
      Dedup.md5IncrementalDups(s, d, 20L)
        .select(col("doc_id"), col("n_matches").as("n_bench_matches"),
          col("dup_of").as("bench_doc"), col("est_j"))
        .orderBy("doc_id")),

    // -- boilerplate/repetition scoring: share of the document taken by
    //    its single most frequent token. One explode, two per-doc
    //    aggregations — both partial-aggregatable, shuffle O(docs×vocab).
    "x_cur_repetition" -> ((s, d) =>
      toks(s, d)
        .select(col("doc_id"), explode(col("ws")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_tokens"), max("cnt").as("top_count"))
        .select(col("doc_id"), col("n_tokens"), col("top_count"),
          (col("top_count").cast("double") / col("n_tokens")).as("rep_ratio"))
        .orderBy(col("rep_ratio").desc, col("doc_id"))
        .limit(30)),

    // -- sequence packing (context-length packing for training): assign
    //    every document a global token offset and an 8192-token bin, in
    //    doc_id order. Scalably: a naive cumulative sum is ONE window over
    //    the whole corpus (single partition — the classic scale killer);
    //    instead this is a DISTRIBUTED PREFIX SUM (see [[pack]]) — per-
    //    chunk cumsum windows run partition-parallel, and only the
    //    bounded chunk-total relation sees a sequential window before
    //    being broadcast back. Same rows, parallel plan.
    "x_cur_pack" -> ((s, d) =>
      pack(toks(s, d).select(col("doc_id"), size(col("ws")).cast("long").as("n")))),

    // -- LENGTH-BUCKETED batching (the padding-aware alternative to
    //    packing: loaders that cannot split documents across rows batch
    //    same-length docs together and pad to a static shape). bucket =
    //    smallest power-of-2 ≥ token count (static shapes, bounded
    //    recompilation); within a bucket docs order by md5(doc_id) (the
    //    shard pattern — decorrelated, backfill-stable) and group into
    //    fixed batches of ${LengthBatchB}. Scale shape: a naive
    //    per-bucket row_number is ONE window per bucket — with ~10
    //    buckets that is near-sequential at 100 TB — so the rank comes
    //    from the [[pack]] distributed prefix sum GENERALIZED TO GROUPED
    //    KEYS: md5-hash-range chunks give (bucket, chunk) local windows
    //    that run partition-parallel, and only the bounded bucket×chunk
    //    count relation sees a (per-bucket, still parallel across
    //    buckets) sequential window before broadcasting back.
    "x_cur_length_batches" -> ((s, d) =>
      lengthBatches(s, toks(s, d)
        .select(col("doc_id"), size(col("ws")).cast("long").as("n")))
        .orderBy("doc_id")),

    // -- the batch-level audit of the manifest above: per bucket, doc
    //    and batch counts, token mass, padded capacity (every batch pads
    //    to bucket_len × ${LengthBatchB} slots — the static-shape
    //    contract) and the realized padding efficiency. The number a
    //    practitioner reads before choosing bucket boundaries.
    "x_cur_batch_efficiency" -> ((s, d) =>
      lengthBatches(s, toks(s, d)
        .select(col("doc_id"), size(col("ws")).cast("long").as("n")))
        .groupBy("bucket_len")
        .agg(count(lit(1)).as("n_docs"),
          (max("batch") + 1L).as("n_batches"),
          sum("n_tokens").as("token_mass"))
        .select(col("bucket_len"), col("n_docs"), col("n_batches"),
          col("token_mass"),
          (col("n_batches") * LengthBatchB * col("bucket_len")).as("capacity"),
          (col("token_mass").cast("double") /
            (col("n_batches") * LengthBatchB * col("bucket_len")).cast("double"))
            .as("efficiency"))
        .orderBy("bucket_len")),

    // -- TRUE sequence packing: fixed 32-token training rows sliced from
    //    the concatenated global token stream (docs cross row
    //    boundaries — the manifest a packed-dataset loader replays).
    //    Each doc GENERATES exactly the training rows it overlaps via a
    //    bounded sequence-explode over its [offset, offset+n) interval
    //    — equi by construction, never an interval join; output size is
    //    O(total_tokens / 32 + docs). Offsets are x_cur_pack's gated
    //    distributed prefix sum; spans are pure integer arithmetic, so
    //    the manifest hash-gates.
    "x_cur_pack_spans" -> ((s, d) => packSpans(s, d)),

    // -- leakage-safe train/validation split: assignment is decided per
    //    DEDUP CLUSTER (md5-MinHash discovery → star clustering, the same
    //    hash-gated pipeline as x_dedup_clusters_full), so near-duplicate
    //    documents can never straddle the split — the standard guard
    //    against train→eval contamination. The md5-hex threshold on the
    //    cluster id gives a deterministic ~12.5% validation share.
    "x_cur_split" -> ((s, d) => {
      // cluster labels come from the memoized build (Dedup.clusterLabels)
      // — the split consumes the same index x_dedup_clusters_full reports
      Dedup.clusterLabels(s, d)
        .withColumn("split",
          when(substring(md5(col("cluster").cast("string")), 1, 1) < "2", lit("val"))
            .otherwise(lit("train")))
        .orderBy("doc_id")
    }),

    // -- SPLIT STABILITY under incremental maintenance (round 18): the
    //    leakage-safe split's guarantee must survive the daily-crawl
    //    path — a doc folded in later via Dedup.appendClusterLabels can
    //    never land its near-dup across the split boundary. The gate
    //    runs the COMPOSED lifecycle: labels built over the base slice
    //    only (docs outside the simulated late batch, pairs with both
    //    ends old), the late batch folded in with its discovered pairs
    //    (any end new — exactly the new↔index ∪ new↔new set the
    //    incremental candidate machinery yields), split assigned from
    //    the MERGED labels. The ORACLE is the plain full-batch
    //    clustering + split (the x_cur_split oracle verbatim): hash
    //    equality IS the stability proof — incremental ≡ rebuild, so
    //    the cluster-keyed split cannot separate near-dups regardless
    //    of arrival order.
    "x_cur_split_stability" -> ((s, d) => {
      val docs = table(s, d, "documents").select("doc_id")
      def late(c: org.apache.spark.sql.Column) = c % 7 === 3
      // materialize pair discovery ONCE (eager localCheckpoint): the two
      // starClusters builds below (base labels, merged labels) otherwise
      // each re-run the full shingle→signature→banding→estimate chain —
      // the round-19 measurement attributed ~2 of this gate's 6.6 s to
      // exactly that duplicated pass (guide §2.4: share one computation,
      // not one exchange). Same rows either way; the materialized
      // relation is pair-sized, never corpus-sized (Engine.materialize:
      // localCheckpoint locally, reliable persist under the env knob).
      val pairs = graft.Engine.materialize(
        Dedup.md5MinhashPairs(s, d).select("da", "db"))
      val oldLabels = Dedup.starClusters(
        docs.filter(!late(col("doc_id"))),
        pairs.filter(!late(col("da")) && !late(col("db"))))._1
      val merged = Dedup.appendClusterLabels(oldLabels,
        docs.filter(late(col("doc_id"))),
        pairs.filter(late(col("da")) || late(col("db"))))
      merged.withColumn("split",
        when(substring(md5(col("cluster").cast("string")), 1, 1) < "2", lit("val"))
          .otherwise(lit("train")))
        .orderBy("doc_id")
    }),

    // -- hard-negative mining for retrieval training: for each query
    //    doc, the nearest embedding-cosine neighbors that are NOT
    //    near-duplicates of it (different dedup cluster) — the standard
    //    contrastive-training pair miner, composed from two already
    //    hash-gated stages: exact cosine ranking (x_sim_topk) and the
    //    md5-MinHash → star-cluster labels (x_dedup_clusters_full).
    //    Excluding by CLUSTER, not by id, keeps recrawl copies and
    //    near-dups out of the negative set — false negatives poison a
    //    contrastive objective. Scale shape: queries broadcast against
    //    one corpus scan (swap the IVF probe in for 10¹⁰ corpora); the
    //    label joins are key-equi against the memoized cluster index.
    "x_cur_hard_negatives" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Similarity.withNorm(s, d)
      val labels = Dedup.clusterLabels(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
      broadcast(q).join(e, col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id"),
          (expr("float_dot(qe, embedding)") / (col("qn") * col("nrm"))).as("cos"))
        .join(labels.select(col("doc_id").as("qid"), col("cluster").as("qc")), Seq("qid"))
        .join(labels.select(col("doc_id").as("vec_id"), col("cluster").as("vc")), Seq("vec_id"))
        .filter(col("qc") =!= col("vc"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank").cast("long").as("rank"), col("vec_id"),
          col("cos"), col("vc").as("neg_cluster"))
        .orderBy("qid", "rank")
    }),

    // -- CONTRASTIVE TRAINING PAIRS: the dataset a retriever/embedding
    //    trainer consumes — per anchor, one positive and the top-3 hard
    //    negatives, composed entirely from gated chains. Positive =
    //    the anchor's nearest co-cluster doc (near-dups are natural
    //    positives), falling back to the top-1 cosine neighbor when the
    //    anchor's dedup cluster is a singleton (the self-supervised
    //    choice), with the source tagged. Negatives = the gated
    //    cluster-excluded hard-negative ranking. Scale shape inherited:
    //    anchors broadcast, label joins key-equi vs the memoized
    //    cluster index, top-1 via the partial top-k aggregate.
    "x_cur_contrastive" -> ((s, d) => {
      val e = Similarity.withNorm(s, d)
      val labels = Dedup.clusterLabels(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
      val scored = broadcast(q).join(e, col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id"),
          (expr("float_dot(qe, embedding)") / (col("qn") * col("nrm"))).as("cos"))
      val knn1 = graft.functions.TopKAgg.topkOf(scored, "qid", "vec_id", "cos", 1)
        .select(col("qid"), col("vec_id").as("knn_pos"))
      val cpos = labels.select(col("doc_id").as("qid"), col("cluster"))
        .filter(col("qid") < 5)
        .join(labels.select(col("doc_id").as("positive"), col("cluster")), Seq("cluster"))
        .filter(col("positive") =!= col("qid"))
        .groupBy("qid").agg(min("positive").as("cluster_pos"))
      val positives = knn1.join(cpos, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("cluster_pos"), col("knn_pos")).as("positive"),
          when(col("cluster_pos").isNotNull, "cluster").otherwise("knn").as("pos_src"))
      // negatives: cluster-excluded AND positive-excluded (a positive
      // doubling as the hardest negative would cancel the training
      // signal), ranked by the partial top-k aggregate
      val negCands = scored
        .join(labels.select(col("doc_id").as("qid"), col("cluster").as("qc")), Seq("qid"))
        .join(labels.select(col("doc_id").as("vec_id"), col("cluster").as("vc")), Seq("vec_id"))
        .filter(col("qc") =!= col("vc"))
        .join(broadcast(positives.select("qid", "positive")), Seq("qid"))
        .filter(col("vec_id") =!= col("positive"))
        .select("qid", "vec_id", "cos")
      graft.functions.TopKAgg.topkOf(negCands, "qid", "vec_id", "cos", 3)
        .join(broadcast(positives), Seq("qid"))
        .select(col("qid"), col("positive"), col("pos_src"),
          col("rank"), col("vec_id").as("negative"), col("cos"))
        .orderBy("qid", "rank")
    }),

    // -- the DATASET DATASHEET: the one-page corpus summary a release
    //    ships (datasheets-for-datasets): volume, language spread,
    //    exact-dup rate, Gopher pass rate, near-dup pair count and
    //    benchmark contamination — every number derived from the SAME
    //    gated chains its standalone queries run (gopherRules, the
    //    md5-MinHash pipeline, the contamination shingles), joined as
    //    1-ROW broadcast relations. One stacked (metric, value) row
    //    each; integer-derived doubles ⇒ hash-exact.
    "x_cur_datasheet" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val base = docs.agg(
        count(lit(1)).as("n"),
        sum(size(split(col("text"), " "))).as("toks"),
        countDistinct(col("lang")).as("langs"),
        countDistinct(md5(col("text"))).as("uniq"))
      val gp = graft.queries.TextAnalysis.gopherRules(docs)
        .agg(sum(col("pass").cast("long")).as("gpass"))
      val nd = Dedup.queries("x_dedup_minhash_md5")(s, d).agg(count(lit(1)).as("ndp"))
      val bench = Dedup.shinglesOf(toks(s, d).filter(col("doc_id") < 20))
        .select("s").distinct()
      val ct = Dedup.shinglesOf(toks(s, d).filter(col("doc_id") >= 20))
        .join(broadcast(bench), Seq("s"), "left_semi")
        .agg(countDistinct(col("doc_id")).as("cdocs"))
      base.crossJoin(broadcast(gp)).crossJoin(broadcast(nd)).crossJoin(broadcast(ct))
        .selectExpr(
          """stack(8,
            | 'n_docs', CAST(n AS DOUBLE),
            | 'n_tokens', CAST(toks AS DOUBLE),
            | 'mean_tokens_per_doc', CAST(toks AS DOUBLE) / n,
            | 'n_langs', CAST(langs AS DOUBLE),
            | 'exact_dup_rate', 1.0 - CAST(uniq AS DOUBLE) / n,
            | 'gopher_pass_rate', CAST(gpass AS DOUBLE) / n,
            | 'near_dup_pairs', CAST(ndp AS DOUBLE),
            | 'contaminated_docs', CAST(cdocs AS DOUBLE)) AS (metric, value)""".stripMargin)
        .orderBy("metric")
    }),

    // -- PageRank doc-centrality over the cosine kNN graph: the
    //    "representativeness" signal graph-based data-selection uses
    //    (central docs anchor topics; isolated docs are outliers).
    //    Three power iterations, damping 0.85, over each doc's top-3
    //    cosine neighbors — bounded out-degree makes every iteration a
    //    key-equi join + partial-agg over an O(docs × 3) edge relation,
    //    the Pregel shape in plain DataFrames. Gate graph: docs < 200
    //    all-pairs (bounded); at 100 TB the edge relation comes from
    //    the persisted ANN index instead — the iterations are
    //    unchanged. Contributions sum in src order (bounded fold), so
    //    every double reproduces in DuckDB.
    "x_cur_pagerank" -> ((s, d) => {
      val e = Similarity.withNorm(s, d).filter(col("vec_id") < 200)
      val pr = pagerankOf(e.select(col("vec_id").as("v")), knnEdges(e),
        e.count().toDouble)
      pr.orderBy(col("pr").desc, col("v")).limit(20)
        .select(col("v").as("doc_id"), col("pr"))
    }),

    // -- PERSONALIZED PageRank: teleport to the target-domain seed set
    //    (lang='en') instead of uniformly — graph-walk domain EXPANSION,
    //    the data-selection move that pulls in docs proximal to a seed
    //    domain in the similarity graph even when their own features
    //    miss the target (complements DSIR's per-doc feature ratio).
    //    Same iteration shape and cost as x_cur_pagerank over the
    //    shared kNN edges; src-ordered folds keep the doubles portable.
    "x_cur_ppr" -> ((s, d) => {
      val e = Similarity.withNorm(s, d).filter(col("vec_id") < 200)
      val langs = table(s, d, "documents")
        .filter(col("doc_id") < 200).select(col("doc_id").as("v"), col("lang"))
      val nSeed = langs.filter(col("lang") === "en").count().toDouble
      val tele = langs.select(col("v"), col("lang"),
        when(col("lang") === "en", lit(1.0) / lit(nSeed)).otherwise(lit(0.0)).as("tele"))
      pprOf(tele.select("v", "tele"), knnEdges(e))
        .join(broadcast(tele.select("v", "lang")), Seq("v"))
        .orderBy(col("pr").desc, col("v")).limit(20)
        .select(col("v").as("doc_id"), col("lang"), col("pr"))
    }),

    // -- LABEL PROPAGATION over the same kNN graph: semi-supervised
    //    label completion (annotate a seed half, spread to the rest) —
    //    with PageRank, the second classic Pregel algorithm, in plain
    //    DataFrames. Seeds = the md5 train half's embedding labels,
    //    held FIXED; two rounds of neighbor majority vote (ties toward
    //    the smallest label — the knnClassify total order) label the
    //    rest. Each round is a key-equi join + two partial aggregates
    //    over the O(docs × 3) edge relation; integer votes ⇒ the
    //    labels hash-gate exactly.
    "x_cur_label_prop" -> ((s, d) => {
      val e = Similarity.withNorm(s, d).filter(col("vec_id") < 200)
      val seeds = table(s, d, "embeddings").filter(col("vec_id") < 200)
        .select(col("vec_id").as("v"),
          when(substring(md5(col("vec_id").cast("string")), 1, 1) < "8",
            col("label").cast("long")).as("seed"))
      labelPropOf(seeds, knnEdges(e))
        .select(col("v").as("vec_id"), col("lab").as("label_prop")).orderBy("vec_id")
    }),

    // -- per-language embedding centroids: documents ⨝ embeddings, then
    //    an EXACT per-(lang, dim) mean via the scaled-integer trick
    //    (floor(x·10⁹) summed as DECIMAL — order-independent, partial-
    //    aggregatable — divided once as double), so the distributed mean
    //    is bit-reproducible in any engine. The shuffle carries skinny
    //    (lang, pos, q) rows, never whole vectors.
    "x_cur_embed_centroids" -> ((s, d) =>
      table(s, d, "documents").select(col("doc_id"), col("lang"))
        .join(table(s, d, "embeddings"), col("doc_id") === col("vec_id"))
        .select(col("lang"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .withColumn("q", floor(col("x").cast("double") * lit(1e9)).cast("decimal(38,0)"))
        .groupBy("lang", "pos")
        .agg(count(lit(1)).as("n"),
          (sum("q").cast("double") / (lit(1e9) * count(lit(1)))).as("c"))
        .select(col("lang"), col("pos").cast("long").as("pos"), col("n"), col("c"))
        .orderBy("lang", "pos")),

    // -- C4-style blocklist filter: a document is dropped when it
    //    contains ANY blocklist token (C4's "bad words" rule). A pure
    //    narrow map — the token scan is a higher-order filter over the
    //    already-split array, no explode, no shuffle — so it pipelines
    //    into whole-stage codegen ahead of any downstream operator.
    //    Output keeps every doc with its hit count, the distinct matched
    //    terms (sorted, comma-joined), and the keep verdict. Blocklist
    //    terms are calibrated to the synthetic vocabulary so both
    //    verdicts occur at every driver scale.
    "x_cur_blocklist" -> ((s, d) => {
      toks(s, d)
        .withColumn("hits", blocklistHits)
        .select(col("doc_id"),
          size(col("hits")).cast("long").as("n_blocked"),
          array_join(array_sort(array_distinct(col("hits"))), ",").as("terms"),
          (size(col("hits")) === 0).as("keep"))
        .orderBy("doc_id")
    }),

    // -- blocklist REDACTION twin: instead of dropping a hit-bearing
    //    document (x_cur_blocklist), replace each blocked token with a
    //    fixed mask — the PII-scrub shape of a curation pipeline (real
    //    deployments swap the term list for PII patterns; the Spark-side
    //    plumbing — token-level rewrite, no explode, no shuffle, hit
    //    accounting — is what's exercised). A pure narrow map over the
    //    split array; the rewritten text itself is hash-gated.
    "x_cur_redact" -> ((s, d) => {
      val masked = transform(col("ws"), w =>
        when(array_contains(array(Blocklist.map(lit): _*), w), lit(RedactMask)).otherwise(w))
      toks(s, d)
        .select(col("doc_id"),
          size(blocklistHits).cast("long").as("n_redacted"),
          concat_ws(" ", masked).as("redacted"))
        .orderBy("doc_id")
    }),

    // -- STRUCTURED-PII redaction (the C4/Dolma release scrub): emails,
    //    phone numbers and IPv4 addresses → typed masks with per-type
    //    match counts, the rewritten text itself hash-gated. The
    //    synthetic corpus carries no PII (verified: zero docs match
    //    [0-9@]), so the gate PLANTS it deterministically — docs with
    //    doc_id divisible by 7/11/13 gain an email/phone/IP built from
    //    the id, identically on both engines (the planted-twin pattern)
    //    — keeping both verdict classes present at every driver scale.
    //    The replace chain is staged (emails first, then phones, then
    //    IPs, each counted on the previous stage's output) so the
    //    definition has no pattern-overlap ambiguity. Patterns stay in
    //    the Java∩RE2 common dialect — no backreferences, no lookaround
    //    — so Spark and DuckDB compile them identically. Scale shape: a
    //    pure narrow map over the corpus scan — zero shuffles beyond
    //    the output sort; at 100 TB this is the cheapest full-corpus
    //    pass in the shop (regex CPU, embarrassingly parallel).
    "x_cur_pii_redact" -> ((s, d) => {
      val t0 = piiPlanted(col("doc_id"), col("text"))
      val t1 = regexp_replace(t0, PiiEmailRe, PiiEmailMask)
      val t2 = regexp_replace(t1, PiiPhoneRe, PiiPhoneMask)
      val t3 = regexp_replace(t2, PiiIpRe, PiiIpMask)
      val t4 = regexp_replace(t3, PiiIp6Re, PiiIp6Mask)
      table(s, d, "documents")
        .select(col("doc_id"),
          regexp_count(t0, lit(PiiEmailRe)).cast("long").as("n_emails"),
          regexp_count(t1, lit(PiiPhoneRe)).cast("long").as("n_phones"),
          regexp_count(t2, lit(PiiIpRe)).cast("long").as("n_ips"),
          regexp_count(t3, lit(PiiIp6Re)).cast("long").as("n_ipv6"),
          t4.as("redacted"))
        .orderBy("doc_id")
    }),

    // -- CHECKSUM-VALIDATED PII redaction: credit-card numbers pass
    //    through a Luhn check before masking — the step that separates a
    //    release-grade scrub from pattern matching (16-digit sequences
    //    are common in logs/ids; only checksum-valid ones are cards
    //    worth masking, and masking the rest destroys data). Candidates
    //    come from one grouped-16-digit regex; each candidate's digits
    //    fold through the Luhn sum IN the row (mod-10 of the doubled-
    //    alternate digit sum — let-bound stripped string, 16 iterations)
    //    and only validating candidates are replaced. SSNs mask on the
    //    card-redacted text by plain pattern (no checksum exists). The
    //    corpus carries no digits, so both classes are PLANTED: docs
    //    id%7 gain a card whose digits DERIVE FROM THE ID — whether it
    //    passes Luhn is decided by the checksum arithmetic itself, so
    //    ~10% validate and the rest must survive unmasked (the oracle
    //    runs the same arithmetic independently; neither side can skip
    //    the checksum and still hash-match). Scale shape: narrow map,
    //    zero shuffle — rides the same scan pass as x_cur_pii_redact.
    "x_cur_ccn_redact" -> ((s, d) => {
      val t0 = ccnPlanted(col("doc_id"), col("text"))
      // Spark's SQL parser unescapes backslashes inside string literals,
      // so the regex doubles its '\'s on the way into expr() (the lit()
      // DSL path the sibling queries use has no such round-trip)
      val cre = CcCandRe.replace("\\", "\\\\")
      // candidates judged once: array<struct<c: candidate, ok: luhn>>
      val judged =
        s"""transform(regexp_extract_all(t0, '$cre', 0), c0 ->
           |  element_at(transform(array(regexp_replace(c0, '[^0-9]', '')), ds ->
           |    named_struct('c', c0, 'ok',
           |      aggregate(sequence(1, length(ds)), 0L, (a, i) ->
           |        a + IF(i % 2 = 1,
           |          CAST(substring(ds, length(ds) - i + 1, 1) AS BIGINT),
           |          IF(CAST(substring(ds, length(ds) - i + 1, 1) AS BIGINT) * 2 > 9,
           |             CAST(substring(ds, length(ds) - i + 1, 1) AS BIGINT) * 2 - 9,
           |             CAST(substring(ds, length(ds) - i + 1, 1) AS BIGINT) * 2))
           |      ) % 10 = 0)), 1))""".stripMargin
      table(s, d, "documents")
        .select(col("doc_id"), t0.as("t0"))
        .withColumn("j", expr(judged))
        .withColumn("red1", expr(
          s"aggregate(filter(j, s -> s.ok), t0, (acc, s) -> replace(acc, s.c, '$CcMask'))"))
        .select(col("doc_id"),
          size(col("j")).cast("long").as("n_cc"),
          expr("size(filter(j, s -> s.ok))").cast("long").as("n_cc_valid"),
          regexp_count(col("red1"), lit(SsnRe)).cast("long").as("n_ssn"),
          regexp_replace(col("red1"), SsnRe, SsnMask).as("redacted"))
        .orderBy("doc_id")
    }),

    // -- CHECKSUM-VALIDATED PII, second family: IBANs validate by the
    //    ISO 13616 mod-97 rule (move the first 4 chars to the end, map
    //    letters A→10..Z→35, the resulting number ≡ 1 mod 97) before
    //    masking — the x_cur_ccn_redact design generalized from Luhn to
    //    a second real checksum. The fold is inherently sequential
    //    (incremental mod: ×10+digit or ×100+letter per char), run IN
    //    the row over the candidate's rearranged characters. The corpus
    //    carries no IBANs, so they are PLANTED: docs id%13 gain a German
    //    IBAN whose BBAN derives from the id and whose check digits are
    //    COMPUTED BY THE SAME MOD-97 FOLD (the generation rule,
    //    98 − mod97(bban·country·00)) — then docs id%3 get the check
    //    digits deliberately perturbed, so valid and invalid candidates
    //    both occur at every scale and both engines run the checksum
    //    arithmetic twice (generation and validation); mod-97 validity
    //    is ~1/97 dense, so unlike Luhn a raw id-derived check digit
    //    would leave the valid class vacuously empty at gate scale.
    //    Scale shape: narrow map, zero shuffle (plan-pinned with the
    //    ccn sibling).
    "x_cur_iban_redact" -> ((s, d) => {
      // incremental mod-97 over the chars of sExpr (digits base 10,
      // letters base 100 at value ascii−55); chars via sequence +
      // substring, NOT split(s, '') — Spark's regex split keeps a
      // trailing empty string that would corrupt the fold
      def mod97(sExpr: String): String =
        s"""aggregate(transform(sequence(1, length($sExpr)), i -> substring($sExpr, i, 1)),
           |  0L, (a, ch) ->
           |  CASE WHEN ch >= '0' AND ch <= '9' THEN (a * 10 + CAST(ch AS BIGINT)) % 97
           |       ELSE (a * 100 + (ascii(ch) - 55)) % 97 END)""".stripMargin
      val re = IbanCandRe.replace("\\", "\\\\")
      table(s, d, "documents")
        .select(col("doc_id"), col("text"),
          lpad((col("doc_id") % 10000000000L).cast("string"), 10, "0").as("bban"))
        .withColumn("correct", lit(98L) - expr(mod97("concat(bban, 'DE00')")))
        .withColumn("chk", when(col("doc_id") % 3 === 0,
          (col("correct") % 97L) + 1L).otherwise(col("correct")))
        .withColumn("t0", concat(col("text"),
          when(col("doc_id") % 13 === 0, concat(lit(" iban DE"),
            lpad(col("chk").cast("string"), 2, "0"), col("bban"),
            lit(" ref"))).otherwise(lit(""))))
        .withColumn("j", expr(
          s"""transform(regexp_extract_all(t0, '$re', 0), c0 ->
             |  named_struct('c', c0, 'ok',
             |    ${mod97("concat(substring(c0, 5), substring(c0, 1, 4))")} = 1))""".stripMargin))
        .select(col("doc_id"),
          size(col("j")).cast("long").as("n_iban"),
          expr("size(filter(j, s -> s.ok))").cast("long").as("n_iban_valid"),
          expr(s"aggregate(filter(j, s -> s.ok), t0, (acc, s) -> replace(acc, s.c, '$IbanMask'))")
            .as("redacted"))
        .orderBy("doc_id")
    }),

    // -- deterministic training shard assignment + within-shard order:
    //    the "global shuffle" step before packing/serving. shard =
    //    md5(doc_id) mod N decorrelates neighboring doc_ids; the
    //    within-shard position orders by the SAME hash, so the layout is
    //    fully reproducible (a backfill writes byte-identical shards).
    //    Scale shape: one hash-partitioned exchange on shard, then a
    //    per-shard sort — exactly repartition + sortWithinPartitions on
    //    the write path. N IS corpus-derived ([[targetShards]] over the
    //    METADATA-ONLY byte-mass probe [[textBytes]]: parquet footer
    //    statistics, zero Spark jobs, zero column IO — the previous
    //    full-tokenize probe cost a corpus scan just to pick N, doubling
    //    wall time at 100 TB), so shards stay file-sized and the
    //    per-shard window never concentrates the corpus — the gate
    //    corpora derive exactly the 8 the static oracle is generated
    //    with.
    "x_cur_shard" -> ((s, d) => {
      graft.functions.Md5Long60.register(s)
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, d, "documents")
      val h = expr("md5long60(CAST(doc_id AS STRING))")
      val w = Window.partitionBy("shard").orderBy("h", "doc_id")
      docs.select(col("doc_id"))
        .withColumn("h", h)
        .withColumn("shard", pmod(col("h"), lit(targetShards(textBytes(s, d)))))
        .withColumn("pos", row_number().over(w).cast("long") - 1L)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")
    }),

    // -- per-source document caps (the per-domain cap every web-crawl
    //    curation applies so no single domain dominates the mixture):
    //    keep the 20 deterministically-first docs per source in
    //    md5(doc_id) order — backfill-stable, recrawl-stable. Scale
    //    shape: selection is the mink_agg bounded partial aggregate, so
    //    the exchange is O(sources × cap) however many billions of docs
    //    the biggest domain holds; the per-key row_number() window form
    //    would shuffle AND sort every row of that domain. The exact-Long
    //    order key matters at gate time too: 60-bit hashes don't fit a
    //    double mantissa, so a score-typed top-k would tie-break wrongly.
    "x_cur_source_cap" -> ((s, d) => {
      graft.functions.Md5Long60.register(s)
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("source"),
          expr("md5long60(CAST(doc_id AS STRING))").as("h"))
      graft.functions.MinKAgg.minkOf(docs, "source", "doc_id", "h", 20)
        .select(col("source"), col("rank"), col("doc_id"))
        .orderBy("source", "rank")
    }),

    // -- α-sampling domain mixture (the multilingual/UniMax temperature
    //    recipe): per-source sampling rate ∝ tokens^α / tokens with
    //    α = 0.5 — upweighting small sources — scaled so expected kept
    //    tokens ≈ half the corpus. Every non-associative step is exact:
    //    token sums are integers, the α-weight √tokens is quantized to a
    //    DECIMAL (order-independent sum), the rate is one fixed
    //    left-associated double chain, and the keep test compares the
    //    60-bit md5 of the doc id to floor(rate·2⁶⁰) as INTEGERS — so
    //    plan AND realized sample reproduce in any engine (backfill-
    //    stable) and the whole audit hash-gates. Scale shape: two corpus
    //    passes — the source-sized rate aggregate, then the per-doc keep
    //    probe with rates broadcast back (inherent to exact global
    //    rates; both passes are scan+map+partial-agg, nothing corpus-
    //    sized shuffles) — and a map-side-combinable re-aggregation.
    "x_cur_mixture" -> ((s, d) => {
      graft.functions.Md5Long60.register(s)
      import org.apache.spark.sql.expressions.Window
      val t = table(s, d, "documents").select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n"))
      val w0 = Window.partitionBy(lit(0))
      val r = t.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
        .withColumn("wq",
          floor(sqrt(col("n_tokens").cast("double")) * lit(1e9)).cast("decimal(38,0)"))
        .withColumn("rate", least(lit(1.0),
          sum("n_tokens").over(w0).cast("double") / lit(2.0) *
            col("wq").cast("double") / sum("wq").over(w0).cast("double") /
            col("n_tokens").cast("double")))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("rate"))
      t.join(broadcast(r), Seq("source"))
        .withColumn("kept",
          expr("md5long60(CAST(doc_id AS STRING))") <
            floor(col("rate") * lit(1.152921504606846976e18)))
        .groupBy("source")
        .agg(first("n_docs").as("n_docs"), first("n_tokens").as("n_tokens"),
          first("rate").as("rate"),
          sum(col("kept").cast("long")).as("kept_docs"),
          sum(when(col("kept"), col("n")).otherwise(0L)).as("kept_tokens"))
        .orderBy("source")
    }),

    // -- THE COMPOSED PIPELINE: blocklist → dedup-keep → α-mixture →
    //    sequence-pack → shard as ONE declarative plan — the query a
    //    100 TB curation run actually submits, proving the stages
    //    compose without re-scanning the corpus per stage. Scale shape:
    //    documents is scanned exactly TWICE in the final plan (the
    //    mixture's survivor-rate aggregate and the survivor flow — the
    //    two passes inherent to exact global rates; a 5-stage chain of
    //    the standalone queries would scan it 6×, PlanQualitySpec pins
    //    the 2), document BODIES never cross an exchange (text is
    //    dropped the moment the blocklist verdict and token count are
    //    taken, before the dedup-label join shuffles skinny
    //    (doc_id, source, n) rows), dedup labels come from the memoized
    //    cluster cache, per-source rates broadcast back, and the pack
    //    chunking + shard count derive from FOOTER METADATA
    //    ([[docIdBounds]], [[textBytes]]) so plan construction runs
    //    zero Spark jobs beyond the one-time cluster-label build.
    //    Every stage reuses the single-source-of-truth the standalone
    //    query gates: [[blocklistHits]], Dedup.clusterLabels, the
    //    mixture rate chain, [[pack]], [[targetShards]] — so the
    //    composed oracle re-derives each stage bit-for-bit.
    "x_cur_pipeline" -> ((s, d) => {
      graft.functions.Md5Long60.register(s)
      import org.apache.spark.sql.expressions.Window
      val reps = Dedup.clusterLabels(s, d)
        .filter(col("doc_id") === col("cluster")).select("doc_id")
      val survivors = table(s, d, "documents")
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
        .filter(size(blocklistHits) === 0)
        .select(col("doc_id"), col("source"), size(col("ws")).cast("long").as("n"))
        .join(reps, "doc_id")
      val w0 = Window.partitionBy(lit(0))
      val rates = survivors.groupBy("source")
        .agg(sum("n").as("n_tokens"))
        .withColumn("wq",
          floor(sqrt(col("n_tokens").cast("double")) * lit(1e9)).cast("decimal(38,0)"))
        .withColumn("rate", least(lit(1.0),
          sum("n_tokens").over(w0).cast("double") / lit(2.0) *
            col("wq").cast("double") / sum("wq").over(w0).cast("double") /
            col("n_tokens").cast("double")))
        .select(col("source"), col("rate"))
      val kept = survivors.join(broadcast(rates), Seq("source"))
        .filter(expr("md5long60(CAST(doc_id AS STRING))") <
          floor(col("rate") * lit(1.152921504606846976e18)))
        .select(col("doc_id"), col("n"))
      val packed = pack(kept, idBounds = Some(docIdBounds(s, d)))
      val w = Window.partitionBy("shard").orderBy("h", "doc_id")
      // shards sized to the KEPT mass (full-corpus bytes / the mixture's
      // design keep-rate — see MixtureKeepRate), not full-corpus mass:
      // the pipeline writes only the kept subset
      packed
        .withColumn("h", expr("md5long60(CAST(doc_id AS STRING))"))
        .withColumn("shard",
          pmod(col("h"), lit(targetShards(textBytes(s, d) / MixtureKeepRate))))
        .withColumn("pos", row_number().over(w).cast("long") - 1L)
        .select(col("doc_id"), col("n_tokens"), col("tok_offset"), col("bin"),
          col("shard"), col("pos"))
        .orderBy("doc_id")
    })
  )

  /** Shard count from corpus TEXT BYTE mass: ceil(bytes / byteBudget), so
    * shard files stay a fixed size as the corpus grows (the window in
    * x_cur_shard sorts one shard per task — a frozen N would concentrate
    * corpus/N rows per task at 100× scale). Bytes, not tokens: byte mass
    * is answerable from parquet footer metadata ([[textBytes]]) with no
    * corpus scan, and shard *files* are what the budget actually sizes.
    * The default budget is gate-scale — 20,500 B ≈ 3,670 tokens at the
    * corpus' stable ~5.6 B/token — and places both gate corpora
    * (156,021 / 152,498 B) MID-band for the static oracle's 8 (the
    * 8-shard band is 143.5k–164k B, so ±6% regeneration drift cannot
    * flip the oracle hash). A production deployment passes its real
    * per-file budget (e.g. ~500 MB of shard). Pinned at four corpus
    * sizes + a production budget in CurationSpec. */
  private def lnq(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(log(x) * lit(1000000.0)) / lit(1000000.0)

  /** Top-3 cosine kNN edges over a normed embedding relation — the
    * shared graph the PageRank and label-propagation operators iterate
    * on. Gate graphs bound the corpus side (a broadcast all-pairs join
    * is exact and cheap under ~10⁵ nodes); at 100 TB the edge relation
    * comes from [[knnEdgesFromIndex]] instead — same (src, dst) shape,
    * iterations unchanged. */
  private[queries] def knnEdges(e: DataFrame): DataFrame = {
    val q = e.select(col("vec_id").as("src"), col("embedding").as("qe"), col("nrm").as("qn"))
    val scored = broadcast(q).join(e, col("src") =!= col("vec_id"))
      .select(col("src"), col("vec_id").as("dst"),
        (expr("float_dot(qe, embedding)") / (col("qn") * col("nrm"))).as("cos"))
    graft.functions.TopKAgg.topkOf(scored, "src", "dst", "cos", 3).select("src", "dst")
  }

  /** The corpus-scale edge-discovery path [[knnEdges]]' scaladoc
    * promises (round 18): top-k cosine edges from the PERSISTED
    * two-level IVF index ([[Similarity.writeIvf2Index]]) instead of the
    * broadcast all-pairs join — candidate generation is the serving
    * probe stack (coarse argmax against a broadcast centroid table,
    * fine refinement, bucket-pruned postings scans), so edge discovery
    * is O(nodes × probed-cell mass) with NO cartesian anywhere and the
    * index side never reshuffled. Under exhaustive probing (nprobe ≥
    * the fit's cell counts) the candidate set per query is the full
    * index minus self — edge-set equality to [[knnEdges]] brute force
    * is exact, not approximate (CurationSpec pins it on the gate
    * corpus); a production run sets nprobe for the recall its graph
    * tolerates, trading edges for probe mass the way every ANN serve
    * does. The returned (src, dst) relation drops into [[pagerankOf]] /
    * [[pprOf]] / [[labelPropOf]] unchanged.
    *
    * `broadcastNodes`: true (default) is the BOUNDED-node regime — the
    * probe relation broadcasts against the index, the interactive
    * serving shape. A corpus-sized node set (every doc gets edges — the
    * actual 100 TB deployment) passes FALSE: the probe-side broadcast
    * hints come off, the fine join broadcasts the (always-tiny) pruned
    * fine table instead, and the candidate join shuffles on fcid where
    * the postings bucketing holds its side exchange-free — no >8 GB
    * probe broadcast, no driver OOM. Both regimes emit identical edges
    * (CurationSpec pins it); only join strategy differs. */
  def knnEdgesFromIndex(nodes: DataFrame, tablePrefix: String,
      nprobeC: Int, nprobeF: Int, k: Int = 3,
      broadcastNodes: Boolean = true): DataFrame =
    // no rank filter: ivf2SearchRows bounds output to k per query by
    // contract (TopKAgg.topkOf) — re-filtering would restate it
    Similarity.ivf2SearchRows(nodes, tablePrefix, nprobeC, nprobeF, k = k,
      broadcastProbes = broadcastNodes)
      .select(col("qid").as("src"), col("vec_id").as("dst"))

  /** Damped (0.85) PageRank power iterations over an arbitrary
    * bounded-out-degree edge relation (src, dst) — the Pregel shape in
    * plain DataFrames: each iteration is a key-equi join of edges
    * against the current ranks plus a partial-aggregatable sum, so a
    * 10¹⁰-edge relation iterates as hash joins/aggregates with no
    * driver round-trips. Contributions sum in src order (bounded fold)
    * so every double reproduces bit-for-bit in DuckDB — the oracle
    * contract of the three gate queries that share these loops.
    * `nodes`: (v); `nD` the node count; `outDeg` the fixed out-degree
    * the edge builder guarantees (top-k kNN ⇒ k). */
  def pagerankOf(nodes: DataFrame, edges: DataFrame, nD: Double,
      iters: Int = 3, outDeg: Double = 3.0): DataFrame = {
    var pr = nodes.withColumn("pr", lit(1.0) / lit(nD))
    for (_ <- 1 to iters) {
      pr = nodes.join(inMass(edges, pr, outDeg), col("v") === col("dst"), "left")
        .select(col("v"),
          (lit(0.15) / lit(nD) + lit(0.85) * coalesce(col("m"), lit(0.0))).as("pr"))
    }
    pr
  }

  /** PERSONALIZED PageRank iterations — [[pagerankOf]] with teleport
    * mass concentrated on a seed set. `tele`: (v, tele) with tele the
    * per-node teleport weight (0 off-seed, 1/|seeds| on-seed). */
  def pprOf(tele: DataFrame, edges: DataFrame,
      iters: Int = 3, outDeg: Double = 3.0): DataFrame = {
    var pr = tele.select(col("v"), col("tele").as("pr"))
    for (_ <- 1 to iters) {
      pr = tele.join(inMass(edges, pr, outDeg), col("v") === col("dst"), "left")
        .select(col("v"),
          (lit(0.15) * col("tele") + lit(0.85) * coalesce(col("m"), lit(0.0))).as("pr"))
    }
    pr
  }

  /** One iteration's incoming rank mass per dst — the shared join +
    * src-ordered-fold aggregate of [[pagerankOf]]/[[pprOf]]. */
  private def inMass(edges: DataFrame, pr: DataFrame, outDeg: Double): DataFrame =
    edges.join(pr, col("src") === col("v"))
      .select(col("dst"), col("src"), (col("pr") / lit(outDeg)).as("c"))
      .groupBy("dst")
      .agg(expr("aggregate(transform(array_sort(collect_list(struct(src, c))), p -> p.c), " +
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)").as("m"))

  /** Label-propagation rounds over an arbitrary edge relation: seeds
    * (v, seed — NULL for unlabeled) hold FIXED; each round every node
    * takes the majority label of its out-neighbors (ties toward the
    * smallest label — the knnClassify total order). Integer votes ⇒
    * exact hash-gating; each round is one key-equi join + two partial
    * aggregates over the edges, the same cluster shape as the rank
    * loops. */
  def labelPropOf(seeds: DataFrame, edges: DataFrame, rounds: Int = 2): DataFrame = {
    var lab = seeds.select(col("v"), col("seed").as("lab"))
    for (_ <- 1 to rounds) {
      val votes = edges.join(lab, col("dst") === col("v"))
        .filter(col("lab").isNotNull)
        .groupBy(col("src"), col("lab")).agg(count(lit(1)).as("c"))
        .groupBy("src")
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("src").as("v"), (-col("m.nl")).as("vlab"))
      lab = seeds.join(votes, Seq("v"), "left")
        .select(col("v"), coalesce(col("seed"), col("vlab")).as("lab"))
    }
    lab
  }

  /** The full-batch clustering + split oracle, shared by `x_cur_split`
    * AND `x_cur_split_stability` — the stability gate's entire claim is
    * hash equality of the composed incremental path against EXACTLY
    * this chain, so the two entries share one string value (the
    * knnEdgesSql pattern) instead of a hand-maintained copy. */
  private def splitOracleSql: String =
    s"""WITH RECURSIVE ${Dedup.md5MinhashCte},
      |p AS (SELECT da, db FROM est WHERE est_j >= 0.5),
      |edges AS (SELECT da ea, db eb FROM p UNION ALL SELECT db, da FROM p),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea),
      |cl AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src)
      |SELECT doc_id, cluster,
      |  CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1) < '2'
      |       THEN 'val' ELSE 'train' END AS split
      |FROM cl ORDER BY doc_id""".stripMargin

  /** The same edges as DuckDB CTE text (`ev`/`scored`/`edges`), shared
    * by the pagerank and label-propagation oracles. */
  private def knnEdgesSql: String =
    s"""ev AS (SELECT vec_id, embedding,
       |  sqrt(${Similarity.dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings WHERE vec_id < 200),
       |scored AS (
       |  SELECT q.vec_id AS src, t.vec_id AS dst,
       |    ${Similarity.dotSql("q.embedding", "t.embedding")} / (q.nrm * t.nrm) AS cos
       |  FROM ev q, ev t WHERE q.vec_id != t.vec_id),
       |edges AS (SELECT src, dst FROM (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) rn
       |  FROM scored) WHERE rn <= 3)""".stripMargin

  /** DSIR — see the x_cur_dsir entry. The importance weight uses
    * hashed word-unigram features (md5long60(w) % 64; DSIR's paper uses
    * hashed bigrams over a 10^4 space — the bucket count is a corpus-
    * scale knob, the mechanism is identical). Gumbel keys: u is the
    * md5-60-bit doc hash mapped into (0,1) with a +0.5 offset so
    * neither ln can hit 0 or -inf; each ln floor-quantizes BEFORE
    * negation, so the inner value is strictly negative (≤ -1e-6) for
    * every u < 1 and the outer ln is always finite. Top-64 selected. */
  private def dsir(s: SparkSession, d: String): DataFrame = {
    graft.functions.Md5Long60.register(s)
    val docs = table(s, d, "documents")
    val tok = docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), col("lang"), expr("md5long60(w) % 64").as("b"))
    val raw = tok.groupBy("b").agg(count(lit(1)).as("cr"))
    val tgt = tok.filter(col("lang") === "en").groupBy("b").agg(count(lit(1)).as("ct"))
    val totr = raw.agg(coalesce(sum("cr"), lit(0L)).as("tr"))
    val tott = tgt.agg(coalesce(sum("ct"), lit(0L)).as("tt"))
    // 64-row broadcast log-ratio relation; target ⊆ raw buckets, so
    // anchoring on raw keeps scoring total
    val lr = raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(totr)).crossJoin(broadcast(tott))
      .select(col("b"),
        (lnq((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("tt") + lit(64.0))) -
          lnq((col("cr") + lit(1.0)) / (col("tr") + lit(64.0)))).as("lr"))
    val lw = tok.groupBy("doc_id", "b").agg(count(lit(1)).as("tf"))
      .join(broadcast(lr), Seq("b"))
      .select(col("doc_id"), col("b"), (col("tf").cast("double") * col("lr")).as("c"))
      .groupBy("doc_id")
      .agg(expr("aggregate(transform(array_sort(collect_list(struct(b, c))), p -> p.c), " +
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)").as("lw"))
    val u = (expr("md5long60(CAST(doc_id AS STRING))").cast("double") + lit(0.5)) /
      lit(1152921504606846976.0)
    docs.select(col("doc_id"), col("lang"))
      .join(lw, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), coalesce(col("lw"), lit(0.0)).as("lw"),
        (-lnq(-lnq(u))).as("g"))
      .withColumn("gkey", col("lw") + col("g"))
      .orderBy(col("gkey").desc, col("doc_id"))
      .limit(64)
  }

  private[queries] def targetShards(textByteMass: Long, byteBudget: Long = 20500L): Long =
    math.max(1L, math.ceil(textByteMass.toDouble / byteBudget).toLong)

  /** Representative gate-corpus text-byte mass for the static oracles:
    * both gate corpora (156,021 B at sf0.001, 152,498 B at sf0.01) sit
    * mid-band around it, so the oracles' shard counts are interpolated
    * from the SAME [[targetShards]] derivation the engine runs (the
    * portableIvfCtes LIMIT pattern) instead of a hard-coded literal — a
    * byteBudget retune moves oracle and engine together, and a corpus
    * regeneration that leaves the band fails the gate loudly instead of
    * silently shipping a stale modulus. */
  private[queries] val GateTextBytes = 154000L

  /** The α-mixture's design keep-rate: rates are scaled so expected kept
    * tokens ≈ half the corpus (see x_cur_mixture). The PIPELINE's shard
    * sizing divides its byte mass by this, because the pipeline writes
    * only the kept subset — sizing its shards from FULL-corpus mass
    * would systematically undersize files at ~2× the intended count.
    * Kept-byte mass itself is not footer-derivable (the kept set is
    * dynamic), so the design rate keeps the probe metadata-only; the
    * slight overestimate (blocklist+dedup survivors < corpus) errs
    * toward marginally fuller files, the safe direction. */
  private[queries] val MixtureKeepRate = 2L

  /** METADATA-ONLY corpus mass probe: the `text` column's
    * total_uncompressed_size summed over every row-group footer of
    * `dir/documents.parquet` — true parquet column statistics, read
    * driver-side with zero Spark jobs and zero column IO (a footer is a
    * few KB regardless of file size). Served from the session's table
    * metadata cache ([[graft.ParquetMeta]]), which re-reads the footers
    * when the files change, so a rewritten corpus is sized by its new
    * footers (shard count is output-affecting). At 100 TB (~10⁵ GB-sized
    * files) the sweep is ~10⁵ footer reads — parallelize over a file-list
    * RDD or answer it from catalog statistics if the sweep ever shows up;
    * either way it is bounded by file COUNT, unlike the full tokenize scan
    * it replaces, which was bounded by corpus size. */
  private[queries] def textBytes(s: SparkSession, d: String): Long =
    graft.ParquetMeta.footers(s, s"$d/documents.parquet").columnBytes.getOrElse("text", 0L)

  /** METADATA-ONLY doc_id span probe: min/max from the doc_id column's
    * row-group footer statistics — the covering span [[pack]] needs for
    * its chunking, at zero Spark jobs (the same cached footers as
    * [[textBytes]]). Falls back to a one-column min/max job only when a
    * writer stripped the statistics of some row group. */
  private[queries] def docIdBounds(s: SparkSession, d: String): (Long, Long) =
    graft.ParquetMeta.footers(s, s"$d/documents.parquet").longBounds.getOrElse("doc_id", {
      val r = table(s, d, "documents").agg(min("doc_id"), max("doc_id")).head()
      (r.getLong(0), r.getLong(1))
    })

  /** C4-rule blocklist, calibrated to the synthetic corpus vocabulary
    * (real deployments load the published bad-words list). */
  private[graft] val Blocklist: Seq[String] = Seq("slow", "spam", "lorem")

  /** Mask token the redaction twin substitutes for blocked terms. */
  private[graft] val RedactMask: String = "[REDACTED]"

  /** Structured-PII patterns (x_cur_pii_redact) — the C4/Dolma scrub
    * triple, restricted to the Java∩RE2 common regex dialect so Spark
    * (java.util.regex) and the DuckDB oracle (RE2) compile identical
    * automata: character classes, bounded quantifiers and `\b` only —
    * no backreferences, no lookaround. */
  private[graft] val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  // one PHONE class, three shapes: dashed US, parenthesized US, and
  // E.164-ish international (+7..15 digits). The alternatives start on
  // distinct characters (digit / '(' / '+'), so at any position at most
  // one can match — alternation-order semantics (Java leftmost-first vs
  // anything else) can never make the engines disagree.
  private[graft] val PiiPhoneRe =
    "\\b\\d{3}-\\d{3}-\\d{4}\\b|\\(\\d{3}\\) \\d{3}-\\d{4}\\b|\\+\\d{7,15}\\b"
  private[graft] val PiiIpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  // IPv6, both wire forms. Uncompressed: 5..8 colon-separated hex
  // groups — deliberately ≥ 4 colons so clock-like strings (12:30:45)
  // never match. `::`-compressed (round 19): the common shorthand
  // (fe80::1, 2001:db8:0:1::7, 2001:9::) as an EXACT finite
  // alternation — one alternative per leading-group count i, each
  // bounding its trailing groups to i + j ≤ 7 explicit groups (the
  // `::` elides ≥ 1, so 8 total is never exceeded; a single
  // `(?:H:){1,7}:(?:H:){0,6}H` would accept 13-group non-addresses).
  // Compressed alternatives require a literal `::`, so clocks still
  // never match. Ordering is load-bearing under leftmost-first
  // semantics (Java and RE2 agree): compressed-with-tail first (else
  // the uncompressed alternative half-masks `1:2:3:4:5::7` as
  // `1:2:3:4:5`), then trailing-`::` (no trailing \b — ':' borders no
  // word character), then uncompressed. Remaining stated bound:
  // leading-`::` forms (::1, ::ffff:0:1) — \b cannot anchor before
  // ':' without lookbehind, which RE2 lacks; loopback/any-address
  // shorthands are config-file forms, not crawl-prose ones.
  private[graft] val PiiIp6Re = {
    val H = "[0-9A-Fa-f]{1,4}"
    val withTail = (1 to 6).map(i =>
      s"(?:$H:){$i}:" + (if (i < 6) s"(?:$H:){0,${6 - i}}" else "") + s"$H\\b")
    val trailing = s"(?:$H:){1,7}:"
    val uncompressed = s"(?:$H:){4,7}$H\\b"
    "\\b(?:" + (withTail :+ trailing :+ uncompressed).mkString("|") + ")"
  }
  private[graft] val PiiEmailMask = "[EMAIL]"
  private[graft] val PiiPhoneMask = "[PHONE]"
  private[graft] val PiiIpMask = "[IP]"
  private[graft] val PiiIp6Mask = "[IPV6]"

  /** Deterministic PII planting for the redaction gate: the synthetic
    * corpus carries no emails/phones/IPs, so docs with id divisible by
    * 7 / 11 / 13 gain one built from the id — arithmetic simple enough
    * to restate verbatim in the DuckDB oracle. A doc divisible by
    * several (77, 91, …) carries several PII types; most docs carry
    * none — both verdict classes at every scale. */
  private[graft] def piiPlanted(id: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(text,
      when(id % 7 === 0, concat(lit(" reach user"), id.cast("string"),
        lit("@crawl-mail.example.com asap"))).otherwise(lit("")),
      when(id % 11 === 0, concat(lit(" hotline 555-"),
        lpad((id % 1000).cast("string"), 3, "0"), lit("-0199 ok"))).otherwise(lit("")),
      when(id % 13 === 0, concat(lit(" origin 10."), (id % 256).cast("string"),
        lit(".0."), (id % 100).cast("string"), lit(" logged"))).otherwise(lit("")),
      // the round-16 breadth classes: parenthesized US, E.164
      // international, IPv6 (decimal digits only in the varying group —
      // valid hex on both engines, no case/format divergence)
      when(id % 17 === 0, concat(lit(" call (415) "),
        lpad((id % 1000).cast("string"), 3, "0"), lit("-0142 now"))).otherwise(lit("")),
      when(id % 19 === 0, concat(lit(" tel +49"),
        lpad((id % 10000000).cast("string"), 7, "0"), lit(" ok"))).otherwise(lit("")),
      when(id % 23 === 0, concat(lit(" node 2001:db8:85a3:1:2:8a2e:370:"),
        (id % 9999).cast("string"), lit(" logged"))).otherwise(lit("")),
      // the round-19 `::`-compressed IPv6 classes (decimal digits only
      // in the varying group — valid hex on both engines): link-local
      // with a tail group, mid-compression with a tail group, and the
      // trailing-`::` form
      when(id % 29 === 0, concat(lit(" peer fe80::"),
        (id % 9999).cast("string"), lit(" up"))).otherwise(lit("")),
      when(id % 31 === 0, concat(lit(" gw 2001:db8:0:1::"),
        (id % 255).cast("string"), lit(" ok"))).otherwise(lit("")),
      when(id % 37 === 0, concat(lit(" net 2001:"),
        (id % 9999).cast("string"), lit(":: down"))).otherwise(lit("")))

  /** Checksum-PII patterns (x_cur_ccn_redact): grouped-16-digit card
    * candidates (space or dash separators, mixed allowed) and SSNs —
    * same Java∩RE2 common dialect as the structured-PII triple. */
  private[graft] val CcCandRe = "\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b"
  private[graft] val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  private[graft] val CcMask = "[CC]"
  private[graft] val SsnMask = "[SSN]"

  /** IBAN candidate shape (x_cur_iban_redact): 2-letter country code +
    * 2 check digits + a 10-digit BBAN (the planted German layout; real
    * BBANs vary 10-30 chars per country — the validation fold is
    * length-agnostic). Java∩RE2 common dialect. */
  private[graft] val IbanCandRe = "\\b[A-Z]{2}\\d{2}[0-9]{10}\\b"
  private[graft] val IbanMask = "[IBAN]"

  /** Deterministic checksum-PII planting: docs id%7 gain a 16-digit
    * card candidate `40AB CDEF 0000 000G` whose varying digits derive
    * from the id (separator alternates space/dash by parity) — whether
    * it passes Luhn is decided by the checksum arithmetic, not the
    * plant, so valid and invalid candidates both occur at every scale;
    * docs id%11 gain an SSN. Arithmetic simple enough to restate
    * verbatim in the DuckDB oracle (the piiPlanted pattern). */
  private[graft] def ccnPlanted(id: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val sep = when(id % 2 === 0, lit(" ")).otherwise(lit("-"))
    concat(text,
      when(id % 7 === 0, concat(lit(" card 40"),
        lpad((id % 100).cast("string"), 2, "0"), sep,
        lpad((id % 10000).cast("string"), 4, "0"), sep,
        lit("0000"), sep, lit("000"), (id % 10).cast("string"),
        lit(" ok"))).otherwise(lit("")),
      when(id % 11 === 0, concat(lit(" ssn "),
        lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((id % 100).cast("string"), 2, "0"), lit("-"),
        lpad((id % 10000).cast("string"), 4, "0"),
        lit(" ref"))).otherwise(lit("")))
  }

  /** THE blocklist hit extractor — single source of truth shared by the
    * batch audit (`x_cur_blocklist`) and the streaming filter
    * (`Streams.blocklistFilter`): the blocked tokens found in `ws`
    * (any split token array). A stream and a backfill reach identical
    * verdicts. */
  private[graft] def blocklistHitsIn(ws: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(ws, w => array_contains(array(Blocklist.map(lit): _*), w))

  private[graft] def blocklistHits: org.apache.spark.sql.Column =
    blocklistHitsIn(col("ws"))

  /** Chunk width for [[pack]]'s distributed prefix sum: splits the doc_id
    * span `[minId, maxId]` into at most `targetChunks` chunks
    * (`ceil(span / targetChunks)`), so the chunk-total relation is bounded
    * by targetChunks rows at ANY corpus size — a fixed width would grow
    * the sequential chunk-cumsum stage linearly with the corpus. */
  private[graft] def packChunkSize(minId: Long, maxId: Long, targetChunks: Long): Long = {
    require(targetChunks > 0, "targetChunks must be positive")
    val span = maxId - minId + 1
    math.max(1L, (span + targetChunks - 1) / targetChunks)
  }

  /** Distributed prefix sum over `(doc_id, n)` → `(doc_id, n_tokens,
    * tok_offset, bin)`: per-chunk cumsum windows run partition-parallel;
    * only the chunk-total relation — at most `targetChunks` rows by
    * [[packChunkSize]] — sees a sequential window before being broadcast
    * back. `targetChunks` defaults to shuffle-partitions × 8, so the
    * sequential stage stays a few-thousand-row single task even on a
    * 1000-executor cluster, while each parallel chunk still holds enough
    * rows to amortize its window. The one min/max probe that sizes the
    * chunking is a plan-build step over a single column (the same pattern
    * as the LSH sizing probes). */
  private[graft] def pack(docs: DataFrame, targetChunks: Long = 0L,
      idBounds: Option[(Long, Long)] = None): DataFrame = {
    val s = docs.sparkSession
    val target =
      if (targetChunks > 0L) targetChunks
      else s.conf.get("spark.sql.shuffle.partitions").toLong * 8
    // the chunking only needs a COVERING doc_id span, so a caller with
    // metadata-derived bounds (parquet footer min/max — [[docIdBounds]])
    // skips the eager min/max probe job; a sparse subset of the span
    // still packs correctly (absent chunks contribute 0 to the offsets)
    val chunkSize = idBounds match {
      case Some((lo, hi)) => packChunkSize(lo, hi, target)
      case None =>
        val bounds = docs.agg(min("doc_id"), max("doc_id")).head()
        if (bounds.isNullAt(0)) 1L // empty corpus: any width, no rows follow
        else packChunkSize(bounds.getLong(0), bounds.getLong(1), target)
    }
    val t = docs.withColumn("chunk", expr(s"doc_id div $chunkSize"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("chunk").orderBy("doc_id")
      .rowsBetween(Long.MinValue, 0)
    val wChunk = org.apache.spark.sql.expressions.Window
      .orderBy("chunk").rowsBetween(Long.MinValue, -1)
    val chunkOffsets = t.groupBy("chunk").agg(sum("n").as("ctot"))
      .withColumn("coff", coalesce(sum("ctot").over(wChunk), lit(0L)))
      .select(col("chunk"), col("coff"))
    t.withColumn("lcum", sum("n").over(wLocal))
      .join(broadcast(chunkOffsets), "chunk")
      .select(col("doc_id"), col("n").as("n_tokens"),
        (col("coff") + col("lcum") - col("n")).as("tok_offset"),
        expr("(coff + lcum - n) div 8192").as("bin"))
      .orderBy("doc_id")
  }

  /** Batch size for [[lengthBatches]] — interpolated into the oracle so
    * the two sides cannot drift. */
  private[graft] val LengthBatchB = 8L

  /** Power-of-2 length-bucket ladder (min 16). The CASE expression is
    * ONE string in Spark-SQL ∩ DuckDB-SQL syntax, generated here and
    * used verbatim by both engines — single source of truth. */
  private[graft] val LengthBucketLadder: Seq[Long] =
    Iterator.iterate(16L)(_ * 2).takeWhile(_ <= 65536L).toSeq
  private[graft] def bucketCaseSql(nCol: String): String =
    LengthBucketLadder.init.map(p => s"WHEN $nCol <= $p THEN CAST($p AS BIGINT)")
      .mkString("CASE ", " ", s" ELSE CAST(${LengthBucketLadder.last} AS BIGINT) END")

  /** Length-bucketed batch manifest over `(doc_id, n)` → `(doc_id,
    * n_tokens, bucket_len, batch)`. The within-bucket rank is the
    * [[pack]] distributed prefix sum generalized to grouped keys: the
    * 60-bit order hash splits into `targetChunks` equal ranges (uniform
    * ⇒ balanced), (bucket, chunk) local row_numbers run partition-
    * parallel, and the bucket×chunk COUNT relation — ≤ buckets ×
    * targetChunks rows at any corpus size — takes a per-bucket
    * cumulative window (parallel across buckets) before broadcasting
    * back. batch = global within-bucket rank div ${LengthBatchB}. */
  private[graft] def lengthBatches(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.Md5Long60.register(s)
    import org.apache.spark.sql.expressions.Window
    val targetChunks = s.conf.get("spark.sql.shuffle.partitions").toLong * 8
    val chunkSize = math.max(1L, (1L << 60) / targetChunks)
    val t = docs
      .withColumn("h", expr("md5long60(CAST(doc_id AS STRING))"))
      .withColumn("bucket_len", expr(bucketCaseSql("n")))
      .withColumn("chunk", expr(s"h div ${chunkSize}L"))
    val wLocal = Window.partitionBy("bucket_len", "chunk").orderBy("h", "doc_id")
    val wBucket = Window.partitionBy("bucket_len").orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy("bucket_len", "chunk").agg(count(lit(1)).as("ctot"))
      .withColumn("coff", coalesce(sum("ctot").over(wBucket), lit(0L)))
      .select(col("bucket_len"), col("chunk"), col("coff"))
    t.withColumn("rn", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("bucket_len", "chunk"))
      .select(col("doc_id"), col("n").as("n_tokens"), col("bucket_len"),
        expr(s"(coff + rn - 1) div $LengthBatchB").as("batch"))
  }

  /** Gate default for [[packSpans]]'s `maxSeq`: the x_cur_pack_spans
    * oracle-vs-Spark comparison caps the manifest at the first 200
    * training rows purely to keep the gate artifact small — the cap is
    * CALIBRATION, not operator semantics (the targetShards pattern). A
    * real packing run passes `maxSeq = Long.MaxValue`. The oracle SQL
    * interpolates this same constant so gate and oracle cannot drift. */
  val PackSpansGateSeqCap = 200L

  /** Training-row length for [[packSpans]] — the default the gate runs
    * at and the ONLY value the oracle SQL knows: it is interpolated
    * into the x_cur_pack_spans oracle so changing the default here
    * cannot silently diverge the two sides (the same contract as
    * [[PackSpansGateSeqCap]]). A run at another seqLen supplies it
    * explicitly and is outside the gate. */
  val PackSeqLen = 32L

  /** TRUE sequence packing: fixed `seqLen`-token training rows sliced
    * from the concatenated global token stream (docs cross row
    * boundaries — the manifest a packed-dataset loader replays). Each
    * doc generates exactly the training rows it overlaps via a bounded
    * sequence-explode over its [offset, offset+n) interval — equi by
    * construction, never an interval join; output size is
    * O(total_tokens / seqLen + docs). Offsets are [[pack]]'s gated
    * distributed prefix sum; spans are pure integer arithmetic, so the
    * manifest hash-gates. `maxSeq` truncates the manifest (gate default
    * [[PackSpansGateSeqCap]]); pass `Long.MaxValue` for the full run. */
  private[graft] def packSpans(s: SparkSession, d: String, seqLen: Long = PackSeqLen,
      maxSeq: Long = PackSpansGateSeqCap): DataFrame = {
    val packed = pack(toks(s, d).select(col("doc_id"), size(col("ws")).cast("long").as("n")))
    packed.filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("tok_offset"),
        explode(expr(s"sequence(tok_offset div $seqLen, (tok_offset + n_tokens - 1) div $seqLen)"))
          .as("seq"))
      .select(col("seq"), col("doc_id"),
        greatest(col("seq") * seqLen - col("tok_offset"), lit(0L)).as("doc_start"),
        (least(col("tok_offset") + col("n_tokens"), (col("seq") + lit(1L)) * seqLen) -
          greatest(col("tok_offset"), col("seq") * seqLen)).as("len"))
      .filter(col("seq") < maxSeq)
      .orderBy("seq", "doc_id")
  }

  /** THE curated corpus: the stratified sampler applied to the full
    * documents table, each survivor tagged with its leakage-safe split —
    * the single definition both writers materialize. */
  private def curated(s: SparkSession, d: String): DataFrame = {
    val split = queries("x_cur_split")(s, d).select(col("doc_id"), col("split"))
    table(s, d, "documents")
      .filter(samplePredicate)
      .join(split, "doc_id")
  }

  /** Materialize the curated corpus: the leakage-safe split and the
    * stratified sampler applied to the full documents table, written as
    * parquet partitioned by (split, lang) — the layout a training job
    * consumes (split/language selection become partition pruning, no
    * scan) — with rows sorted by doc_id inside each file so downstream
    * sequence packing reads them in offset order. One shuffle
    * (repartition on the partition columns); `maxRecordsPerFile` bounds
    * file sizes at scale. Returns the curated row count. */
  def writeCurated(s: SparkSession, d: String, out: String,
      maxRecordsPerFile: Long = 1000000L): Long = {
    curated(s, d)
      .repartition(col("split"), col("lang"))
      // partition columns lead the sort so the writer's own required
      // ordering (group rows by partition) is already satisfied and the
      // doc_id order inside each (split, lang) file survives
      .sortWithinPartitions("split", "lang", "doc_id")
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("split", "lang")
      .mode("overwrite")
      .parquet(out)
    s.read.parquet(out).count()
  }

  /** Materialize the curated corpus as a BUCKETED, per-bucket-sorted
    * managed table: rows are hash-shuffled ONCE into `buckets` buckets on
    * doc_id at write time, so every downstream equi-join or aggregation
    * on doc_id — embedding joins, split lookups, packing — reads
    * co-located data with NO exchange (provided the other side is
    * bucketed the same way). At 100 TB this is the difference between
    * one shuffle at ingest and one shuffle per downstream query; the
    * exchange-free join is pinned in CurationSpec. Returns the curated
    * row count. */
  def writeCuratedBucketed(s: SparkSession, d: String, tableName: String,
      buckets: Int = 32): Long = {
    graft.Engine.reclaimManagedTable(s, tableName)
    curated(s, d)
      .write
      .bucketBy(buckets, "doc_id")
      .sortBy("doc_id")
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(tableName)
    s.table(tableName).count()
  }

  /** The shard write-side layout, split from the write so
    * PlanQualitySpec can pin its topology over a precomputed assignment:
    * ONE hash exchange on `shard` plus a per-partition (shard, pos)
    * sort — exactly repartition + sortWithinPartitions. The partition
    * column leads the sort so the parquet writer's own required
    * ordering (group rows by partition value) is already satisfied and
    * the `pos` order inside each shard file survives (the
    * [[writeCurated]] pattern). */
  private[queries] def shardWriteLayout(assigned: DataFrame): DataFrame =
    assigned.repartition(col("shard")).sortWithinPartitions("shard", "pos")

  /** Materialize the deterministic training shards — the artifact the
    * `x_cur_shard` / `x_cur_pipeline` ASSIGNMENT describes, written as
    * `out/shards/shard=K/` (exactly one data file per shard: a shard's
    * rows live in exactly one task after the repartition) with rows in
    * `pos` order inside each file, plus `out/manifest.parquet` — one row
    * per shard with its doc count (and token mass when the assignment
    * carries `n_tokens`), the sidecar a trainer uses to plan epochs and
    * validate a transfer. The layout is a pure function of the
    * assignment (shard by md5, pos unique within shard), so two
    * consecutive writes are BYTE-identical — reproducibility a training
    * run can checksum (CurationSpec pins it). Scale shape: one
    * corpus-sized exchange + per-task sort for the data, one tiny
    * shard-count-sized aggregate for the manifest. Returns the shard
    * count. */
  def writeShards(assigned: DataFrame, out: String): Long = {
    val s = assigned.sparkSession
    shardWriteLayout(assigned)
      .write.mode("overwrite").partitionBy("shard").parquet(s"$out/shards")
    val aggs = Seq(count(lit(1)).as("n_docs")) ++
      (if (assigned.columns.contains("n_tokens")) Seq(sum("n_tokens").as("n_tokens"))
       else Nil)
    assigned.groupBy("shard").agg(aggs.head, aggs.tail: _*)
      .repartition(1).sortWithinPartitions("shard")
      .write.mode("overwrite").parquet(s"$out/manifest.parquet")
    s.read.parquet(s"$out/manifest.parquet").count()
  }

  val oracle: Map[String, String] = Map(
    "x_cur_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
        |      (CASE WHEN lang = 'en' THEN '4' ELSE '8' END)
        |ORDER BY doc_id""".stripMargin,

    "x_cur_sample_audit" ->
      """SELECT lang, CAST(count(*) AS BIGINT) total,
        |  CAST(sum(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
        |      (CASE WHEN lang = 'en' THEN '4' ELSE '8' END) THEN 1 ELSE 0 END) AS BIGINT) kept,
        |  CAST(sum(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
        |      (CASE WHEN lang = 'en' THEN '4' ELSE '8' END) THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS rate
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // the same quantized-ln / bucket-ordered-fold arithmetic re-derived;
    // Gumbel keys from the identical md5-60-bit draw
    "x_cur_dsir" ->
      """WITH tok AS (SELECT doc_id, lang,
        |               ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS b
        |             FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |                   FROM documents)),
        |raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tok GROUP BY b),
        |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tok
        |        WHERE lang = 'en' GROUP BY b),
        |totr AS (SELECT coalesce(CAST(sum(cr) AS BIGINT), 0) AS tr FROM raw),
        |tott AS (SELECT coalesce(CAST(sum(ct) AS BIGINT), 0) AS tt FROM tgt),
        |lr AS (SELECT raw.b,
        |         floor(ln((coalesce(tgt.ct, 0) + 1.0) / (tott.tt + 64.0))
        |               * 1000000.0) / 1000000.0 -
        |         floor(ln((raw.cr + 1.0) / (totr.tr + 64.0))
        |               * 1000000.0) / 1000000.0 AS lr
        |       FROM raw LEFT JOIN tgt USING (b) CROSS JOIN totr CROSS JOIN tott),
        |tf AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, b),
        |lw AS (SELECT tf.doc_id,
        |         list_sum(list(CAST(tf.tf AS DOUBLE) * lr.lr ORDER BY tf.b)) AS lw
        |       FROM tf JOIN lr USING (b) GROUP BY tf.doc_id),
        |gk AS (SELECT d.doc_id, d.lang, coalesce(lw.lw, 0.0) AS lw,
        |         -(floor(ln(-(floor(ln(
        |             (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT + 0.5)
        |               / 1152921504606846976.0) * 1000000.0) / 1000000.0))
        |           * 1000000.0) / 1000000.0) AS g
        |       FROM documents d LEFT JOIN lw ON lw.doc_id = d.doc_id)
        |SELECT doc_id, lang, lw, g, lw + g AS gkey
        |FROM gk ORDER BY gkey DESC, doc_id LIMIT 64""".stripMargin,

    "x_cur_contamination" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         generate_series(1, greatest(len(ws) - 2, 0)),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) s FROM t),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20),
        |corpus AS (SELECT doc_id, s FROM sh WHERE doc_id >= 20),
        |totals AS (SELECT doc_id, count(*) n_shingles FROM corpus GROUP BY doc_id),
        |overlap AS (SELECT c.doc_id, count(*) n_overlap
        |            FROM corpus c JOIN bench b ON c.s = b.s GROUP BY c.doc_id)
        |SELECT o.doc_id, CAST(t.n_shingles AS BIGINT) n_shingles,
        |       CAST(o.n_overlap AS BIGINT) n_overlap,
        |       CAST(o.n_overlap AS DOUBLE) / t.n_shingles AS overlap_ratio
        |FROM overlap o JOIN totals t ON o.doc_id = t.doc_id
        |ORDER BY overlap_ratio DESC, o.doc_id LIMIT 50""".stripMargin,

    // the bucket ladder CASE is the SAME generated string the engine
    // runs; the oracle states the within-bucket rank as one plain window
    // (fine at gate scale) while the engine runs the grouped distributed
    // prefix sum — two formulations of one ordering
    "x_cur_length_batches" ->
      s"""WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) n,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT h
        |  FROM documents),
        |b AS (SELECT doc_id, n AS n_tokens, ${bucketCaseSql("n")} AS bucket_len, h
        |  FROM t)
        |SELECT doc_id, n_tokens, bucket_len,
        |  CAST((row_number() OVER (PARTITION BY bucket_len ORDER BY h, doc_id) - 1)
        |       // $LengthBatchB AS BIGINT) AS batch
        |FROM b ORDER BY doc_id""".stripMargin,

    "x_cur_batch_efficiency" ->
      s"""WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) n,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT h
        |  FROM documents),
        |b AS (SELECT doc_id, n AS n_tokens, ${bucketCaseSql("n")} AS bucket_len, h
        |  FROM t),
        |m AS (SELECT doc_id, n_tokens, bucket_len,
        |    CAST((row_number() OVER (PARTITION BY bucket_len ORDER BY h, doc_id) - 1)
        |         // $LengthBatchB AS BIGINT) AS batch
        |  FROM b)
        |SELECT bucket_len, CAST(count(*) AS BIGINT) n_docs,
        |  max(batch) + 1 AS n_batches,
        |  CAST(sum(n_tokens) AS BIGINT) token_mass,
        |  (max(batch) + 1) * $LengthBatchB * bucket_len AS capacity,
        |  CAST(sum(n_tokens) AS DOUBLE)
        |    / CAST((max(batch) + 1) * $LengthBatchB * bucket_len AS DOUBLE) AS efficiency
        |FROM m GROUP BY bucket_len ORDER BY bucket_len""".stripMargin,

    // the incremental-dedup oracle chain with the benchmark boundary as
    // the cut — the fuzzy check IS incremental dedup against the
    // held-out set, so the oracle states it from the same shared CTE
    "x_cur_contamination_fuzzy" ->
      s"""WITH ${Dedup.md5MinhashCte}
        |SELECT db AS doc_id, CAST(count(*) AS BIGINT) AS n_bench_matches,
        |       min(da) AS bench_doc, max(est_j) AS est_j
        |FROM est WHERE est_j >= 0.5 AND da < 20 AND db >= 20
        |GROUP BY db ORDER BY doc_id""".stripMargin,

    "x_cur_repetition" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents),
        |c AS (SELECT doc_id, w, count(*) cnt FROM w GROUP BY doc_id, w),
        |r AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) n_tokens,
        |             CAST(max(cnt) AS BIGINT) top_count
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id, n_tokens, top_count,
        |       CAST(top_count AS DOUBLE) / n_tokens AS rep_ratio
        |FROM r ORDER BY rep_ratio DESC, doc_id LIMIT 30""".stripMargin,

    // the oracle is the NAIVE single-window cumsum — proving the
    // distributed chunked prefix sum computes identical offsets
    "x_cur_pack" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) n
        |           FROM documents),
        |c AS (SELECT doc_id, n,
        |        sum(n) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS o
        |      FROM t)
        |SELECT doc_id, n AS n_tokens, CAST(o AS BIGINT) AS tok_offset,
        |       CAST(o // 8192 AS BIGINT) AS bin
        |FROM c ORDER BY doc_id""".stripMargin,

    // the naive cumsum offsets + per-doc overlapped-row generation
    "x_cur_pack_spans" ->
      s"""WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) n
        |           FROM documents),
        |c AS (SELECT doc_id, n,
        |        sum(n) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS o
        |      FROM t),
        |sp AS (SELECT doc_id, n, o, unnest(generate_series(
        |         CAST(o // $PackSeqLen AS BIGINT), CAST((o + n - 1) // $PackSeqLen AS BIGINT))) AS seq
        |       FROM c WHERE n > 0)
        |SELECT CAST(seq AS BIGINT) AS seq, doc_id,
        |       CAST(greatest(seq * $PackSeqLen - o, 0) AS BIGINT) AS doc_start,
        |       CAST(least(o + n, (seq + 1) * $PackSeqLen) - greatest(o, seq * $PackSeqLen) AS BIGINT) AS len
        |FROM sp WHERE seq < $PackSpansGateSeqCap ORDER BY seq, doc_id""".stripMargin,

    "x_cur_split" -> splitOracleSql,

    // the full-batch oracle VERBATIM against the engine's composed
    // incremental path (base labels → appendClusterLabels fold → split):
    // hash equality is the incremental-≡-rebuild stability proof. The
    // SAME string value as x_cur_split by construction — the verbatim
    // promise is structural, not hand-maintained.
    "x_cur_split_stability" -> splitOracleSql,

    // composition of the brute-force cosine oracle and the recursive
    // cluster chain — both already gated standalone
    "x_cur_hard_negatives" ->
      s"""WITH RECURSIVE ${Dedup.md5MinhashCte},
        |pp AS (SELECT da, db FROM est WHERE est_j >= 0.5),
        |edges AS (SELECT da ea, db eb FROM pp UNION ALL SELECT db, da FROM pp),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea),
        |cl AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src),
        |ev AS (SELECT vec_id, embedding,
        |         sqrt(${Similarity.dotSql("embedding", "embedding")}) AS nrm
        |       FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS qid, x.vec_id,
        |         ${Similarity.dotSql("q.embedding", "x.embedding")} / (q.nrm * x.nrm) AS cos
        |  FROM ev q, ev x WHERE q.vec_id < 5 AND q.vec_id != x.vec_id),
        |flt AS (
        |  SELECT s.qid, s.vec_id, s.cos, cb.cluster AS neg_cluster
        |  FROM scored s
        |  JOIN cl ca ON ca.doc_id = s.qid
        |  JOIN cl cb ON cb.doc_id = s.vec_id
        |  WHERE ca.cluster != cb.cluster),
        |ranked AS (
        |  SELECT qid, vec_id, cos, neg_cluster,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) rank
        |  FROM flt)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cos, neg_cluster
        |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // the hard-negative chain extended with both positive sources
    "x_cur_contrastive" ->
      s"""WITH RECURSIVE ${Dedup.md5MinhashCte},
        |pp AS (SELECT da, db FROM est WHERE est_j >= 0.5),
        |edges AS (SELECT da ea, db eb FROM pp UNION ALL SELECT db, da FROM pp),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea),
        |cl AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src),
        |ev AS (SELECT vec_id, embedding,
        |         sqrt(${Similarity.dotSql("embedding", "embedding")}) AS nrm
        |       FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS qid, x.vec_id,
        |         ${Similarity.dotSql("q.embedding", "x.embedding")} / (q.nrm * x.nrm) AS cos
        |  FROM ev q, ev x WHERE q.vec_id < 5 AND q.vec_id != x.vec_id),
        |knn1 AS (SELECT qid, vec_id AS knn_pos FROM (
        |  SELECT qid, vec_id,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) rn
        |  FROM scored) WHERE rn = 1),
        |cpos AS (SELECT a.doc_id AS qid, min(b.doc_id) AS cluster_pos
        |  FROM cl a JOIN cl b ON a.cluster = b.cluster AND b.doc_id != a.doc_id
        |  WHERE a.doc_id < 5 GROUP BY a.doc_id),
        |pos AS (SELECT k.qid, coalesce(c.cluster_pos, k.knn_pos) AS positive,
        |          CASE WHEN c.cluster_pos IS NOT NULL THEN 'cluster' ELSE 'knn' END AS pos_src
        |        FROM knn1 k LEFT JOIN cpos c ON c.qid = k.qid),
        |flt AS (
        |  SELECT s.qid, s.vec_id, s.cos
        |  FROM scored s
        |  JOIN cl ca ON ca.doc_id = s.qid
        |  JOIN cl cb ON cb.doc_id = s.vec_id
        |  JOIN pos p ON p.qid = s.qid
        |  WHERE ca.cluster != cb.cluster AND s.vec_id != p.positive),
        |ranked AS (
        |  SELECT qid, vec_id, cos,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) rank
        |  FROM flt)
        |SELECT r.qid, p.positive, p.pos_src,
        |       CAST(r.rank AS BIGINT) AS rank, r.vec_id AS negative, r.cos
        |FROM ranked r JOIN pos p ON p.qid = r.qid
        |WHERE r.rank <= 3 ORDER BY r.qid, r.rank""".stripMargin,

    // recomposed from the SAME shared fragments: the md5-minhash chain
    // (near-dup pairs), the gopher battery, the contamination shingles
    "x_cur_datasheet" ->
      s"""WITH RECURSIVE ${Dedup.md5MinhashCte},
        |${TextAnalysis.goCtes},
        |ds_t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        |ds_sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         generate_series(1, greatest(len(ws) - 2, 0)),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) s FROM ds_t),
        |ds_bench AS (SELECT DISTINCT s FROM ds_sh WHERE doc_id < 20),
        |cont AS (SELECT CAST(count(DISTINCT c.doc_id) AS BIGINT) AS cdocs
        |         FROM ds_sh c JOIN ds_bench b ON c.s = b.s WHERE c.doc_id >= 20),
        |base AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks,
        |           CAST(count(DISTINCT lang) AS BIGINT) AS langs,
        |           CAST(count(DISTINCT md5(text)) AS BIGINT) AS uniq
        |         FROM documents),
        |gp AS (SELECT CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS gpass
        |       FROM go_out),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS ndp FROM est WHERE est_j >= 0.5),
        |m AS (
        |  SELECT 'n_docs' AS metric, CAST(n AS DOUBLE) AS value FROM base
        |  UNION ALL SELECT 'n_tokens', CAST(toks AS DOUBLE) FROM base
        |  UNION ALL SELECT 'mean_tokens_per_doc', CAST(toks AS DOUBLE) / n FROM base
        |  UNION ALL SELECT 'n_langs', CAST(langs AS DOUBLE) FROM base
        |  UNION ALL SELECT 'exact_dup_rate', 1.0 - CAST(uniq AS DOUBLE) / n FROM base
        |  UNION ALL SELECT 'gopher_pass_rate', CAST(gpass AS DOUBLE) / base.n
        |    FROM gp CROSS JOIN base
        |  UNION ALL SELECT 'near_dup_pairs', CAST(ndp AS DOUBLE) FROM nd
        |  UNION ALL SELECT 'contaminated_docs', CAST(cdocs AS DOUBLE) FROM cont)
        |SELECT metric, value FROM m ORDER BY metric""".stripMargin,

    // the shared kNN edges + the seed-teleport iterations
    "x_cur_ppr" -> {
      def iter(i: Int): String =
        s"""s$i AS (SELECT e.dst, list_sum(list(p.pr / 3.0 ORDER BY e.src)) AS m
           |  FROM edges e JOIN pr${i - 1} p ON e.src = p.v GROUP BY e.dst),
           |pr$i AS (SELECT t.v, 0.15 * t.tele + 0.85 * coalesce(s$i.m, 0.0) AS pr
           |  FROM tele t LEFT JOIN s$i ON t.v = s$i.dst)""".stripMargin
      s"""WITH $knnEdgesSql,
         |tele AS (SELECT doc_id AS v, lang,
         |    CASE WHEN lang = 'en' THEN 1.0 /
         |      (SELECT CAST(count(*) AS DOUBLE) FROM documents
         |       WHERE doc_id < 200 AND lang = 'en')
         |    ELSE 0.0 END AS tele
         |  FROM documents WHERE doc_id < 200),
         |pr0 AS (SELECT v, tele AS pr FROM tele),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT p.v AS doc_id, t.lang, p.pr FROM pr3 p JOIN tele t ON t.v = p.v
         |ORDER BY p.pr DESC, p.v LIMIT 20""".stripMargin
    },

    // the shared kNN edges + two unrolled majority-vote rounds with the
    // same count-DESC/label-ASC tie order
    "x_cur_label_prop" -> {
      def round(i: Int): String =
        s"""v$i AS (SELECT e.src, l.lab, CAST(count(*) AS BIGINT) AS c
           |  FROM edges e JOIN l${i - 1} l ON e.dst = l.v
           |  WHERE l.lab IS NOT NULL GROUP BY e.src, l.lab),
           |b$i AS (SELECT src, lab FROM (
           |  SELECT src, lab, row_number() OVER (PARTITION BY src
           |    ORDER BY c DESC, lab ASC) AS rn FROM v$i) WHERE rn = 1),
           |l$i AS (SELECT s.v, coalesce(s.seed, b$i.lab) AS lab
           |  FROM l0s s LEFT JOIN b$i ON b$i.src = s.v)""".stripMargin
      s"""WITH $knnEdgesSql,
         |l0s AS (SELECT vec_id AS v,
         |    CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'
         |         THEN CAST(label AS BIGINT) END AS seed
         |  FROM embeddings WHERE vec_id < 200),
         |l0 AS (SELECT v, seed AS lab FROM l0s),
         |${round(1)},
         |${round(2)}
         |SELECT v AS vec_id, lab AS label_prop FROM l2 ORDER BY vec_id""".stripMargin
    },

    // the same kNN edges + three unrolled power iterations with
    // src-ordered folds
    "x_cur_pagerank" -> {
      def iter(i: Int): String =
        s"""s$i AS (SELECT e.dst, list_sum(list(p.pr / 3.0 ORDER BY e.src)) AS m
           |  FROM edges e JOIN pr${i - 1} p ON e.src = p.v GROUP BY e.dst),
           |pr$i AS (SELECT ev.vec_id AS v,
           |    0.15 / (SELECT CAST(count(*) AS DOUBLE) FROM ev)
           |      + 0.85 * coalesce(s$i.m, 0.0) AS pr
           |  FROM ev LEFT JOIN s$i ON ev.vec_id = s$i.dst)""".stripMargin
      s"""WITH $knnEdgesSql,
         |pr0 AS (SELECT vec_id AS v,
         |    1.0 / (SELECT CAST(count(*) AS DOUBLE) FROM ev) AS pr FROM ev),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT v AS doc_id, pr FROM pr3
         |ORDER BY pr DESC, v LIMIT 20""".stripMargin
    },

    "x_cur_embed_centroids" ->
      """WITH j AS (
        |  SELECT d.lang, e.embedding FROM documents d
        |  JOIN embeddings e ON d.doc_id = e.vec_id),
        |x AS (
        |  SELECT lang, t.i - 1 AS pos,
        |         CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000000.0) AS DECIMAL(38,0)) AS q
        |  FROM j, range(1, 65) t(i))
        |SELECT lang, CAST(pos AS BIGINT) pos, CAST(count(*) AS BIGINT) n,
        |       CAST(sum(q) AS DOUBLE) / (1000000000.0 * count(*)) AS c
        |FROM x GROUP BY lang, pos ORDER BY lang, pos""".stripMargin,

    "x_cur_blocklist" ->
      s"""WITH t AS (SELECT doc_id,
         |             list_filter(string_split(text, ' '),
         |               w -> list_contains([${Blocklist.map(t => s"'$t'").mkString(", ")}], w)) AS hits
         |           FROM documents)
         |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_blocked,
         |       -- array_to_string is NULL (not '') on an empty list
         |       coalesce(array_to_string(list_sort(list_distinct(hits)), ','), '') AS terms,
         |       len(hits) = 0 AS keep
         |FROM t ORDER BY doc_id""".stripMargin,

    "x_cur_redact" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         |SELECT doc_id,
         |       CAST(len(list_filter(ws,
         |         w -> list_contains([${Blocklist.map(t => s"'$t'").mkString(", ")}], w))) AS BIGINT)
         |         AS n_redacted,
         |       array_to_string(list_transform(ws,
         |         w -> CASE WHEN list_contains([${Blocklist.map(t => s"'$t'").mkString(", ")}], w)
         |                   THEN '$RedactMask' ELSE w END), ' ') AS redacted
         |FROM t ORDER BY doc_id""".stripMargin,

    // the same planted-PII arithmetic and the same staged replace chain
    // (emails → phones → IPs, each counted on the previous stage);
    // DuckDB's regexp_replace needs the 'g' flag for replace-all (Spark
    // replaces all by default)
    "x_cur_pii_redact" ->
      s"""WITH t AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 7 = 0 THEN ' reach user' || CAST(doc_id AS VARCHAR)
        |            || '@crawl-mail.example.com asap' ELSE '' END
        |  || CASE WHEN doc_id % 11 = 0 THEN ' hotline 555-'
        |            || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199 ok' ELSE '' END
        |  || CASE WHEN doc_id % 13 = 0 THEN ' origin 10.' || CAST(doc_id % 256 AS VARCHAR)
        |            || '.0.' || CAST(doc_id % 100 AS VARCHAR) || ' logged' ELSE '' END
        |  || CASE WHEN doc_id % 17 = 0 THEN ' call (415) '
        |            || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0142 now' ELSE '' END
        |  || CASE WHEN doc_id % 19 = 0 THEN ' tel +49'
        |            || lpad(CAST(doc_id % 10000000 AS VARCHAR), 7, '0') || ' ok' ELSE '' END
        |  || CASE WHEN doc_id % 23 = 0 THEN ' node 2001:db8:85a3:1:2:8a2e:370:'
        |            || CAST(doc_id % 9999 AS VARCHAR) || ' logged' ELSE '' END
        |  || CASE WHEN doc_id % 29 = 0 THEN ' peer fe80::'
        |            || CAST(doc_id % 9999 AS VARCHAR) || ' up' ELSE '' END
        |  || CASE WHEN doc_id % 31 = 0 THEN ' gw 2001:db8:0:1::'
        |            || CAST(doc_id % 255 AS VARCHAR) || ' ok' ELSE '' END
        |  || CASE WHEN doc_id % 37 = 0 THEN ' net 2001:'
        |            || CAST(doc_id % 9999 AS VARCHAR) || ':: down' ELSE '' END AS t0
        |  FROM documents),
        |s1 AS (SELECT doc_id, t0,
        |         regexp_replace(t0, '$PiiEmailRe', '$PiiEmailMask', 'g') AS t1 FROM t),
        |s2 AS (SELECT doc_id, t0, t1,
        |         regexp_replace(t1, '$PiiPhoneRe', '$PiiPhoneMask', 'g') AS t2 FROM s1),
        |s3 AS (SELECT doc_id, t0, t1, t2,
        |         regexp_replace(t2, '$PiiIpRe', '$PiiIpMask', 'g') AS t3 FROM s2)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(t0, '$PiiEmailRe')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(t1, '$PiiPhoneRe')) AS BIGINT) AS n_phones,
        |       CAST(len(regexp_extract_all(t2, '$PiiIpRe')) AS BIGINT) AS n_ips,
        |       CAST(len(regexp_extract_all(t3, '$PiiIp6Re')) AS BIGINT) AS n_ipv6,
        |       regexp_replace(t3, '$PiiIp6Re', '$PiiIp6Mask', 'g') AS redacted
        |FROM s3 ORDER BY doc_id""".stripMargin,

    // the oracle runs the Luhn fold independently (relational form:
    // candidates unnested, digits via generate_series, list_sum — no
    // list_reduce, see the Unigram notes on DuckDB-1.0). The redaction
    // step exploits the gate shape (≤1 planted card per doc, stated at
    // ccnPlanted) via min(c) FILTER (ok); the ENGINE replaces every
    // valid candidate generically.
    "x_cur_ccn_redact" ->
      s"""WITH p AS (SELECT doc_id, text,
        |    CASE WHEN doc_id % 2 = 0 THEN ' ' ELSE '-' END AS s FROM documents),
        |t AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 7 = 0 THEN ' card 40'
        |       || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || s
        |       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || s
        |       || '0000' || s || '000' || CAST(doc_id % 10 AS VARCHAR)
        |       || ' ok' ELSE '' END
        |  || CASE WHEN doc_id % 11 = 0 THEN ' ssn '
        |       || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
        |       || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
        |       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |       || ' ref' ELSE '' END AS t0
        |  FROM p),
        |cand AS (SELECT doc_id, unnest(regexp_extract_all(t0, '$CcCandRe')) AS c FROM t),
        |cd AS (SELECT doc_id, c, regexp_replace(c, '[^0-9]', '', 'g') AS ds FROM cand),
        |lv AS (SELECT doc_id, c,
        |    list_sum(list_transform(generate_series(1, length(ds)), i ->
        |      CASE WHEN i % 2 = 1 THEN CAST(substr(ds, length(ds) - i + 1, 1) AS BIGINT)
        |           WHEN CAST(substr(ds, length(ds) - i + 1, 1) AS BIGINT) * 2 > 9
        |             THEN CAST(substr(ds, length(ds) - i + 1, 1) AS BIGINT) * 2 - 9
        |           ELSE CAST(substr(ds, length(ds) - i + 1, 1) AS BIGINT) * 2
        |      END)) % 10 = 0 AS ok
        |  FROM cd),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_cc,
        |    CAST(count(*) FILTER (WHERE ok) AS BIGINT) n_cc_valid,
        |    min(c) FILTER (WHERE ok) AS vc
        |  FROM lv GROUP BY doc_id),
        |r AS (SELECT t.doc_id, coalesce(a.n_cc, 0) AS n_cc,
        |    coalesce(a.n_cc_valid, 0) AS n_cc_valid,
        |    CASE WHEN a.vc IS NOT NULL THEN replace(t.t0, a.vc, '$CcMask')
        |         ELSE t.t0 END AS red1
        |  FROM t LEFT JOIN agg a ON a.doc_id = t.doc_id)
        |SELECT doc_id, n_cc, n_cc_valid,
        |  CAST(len(regexp_extract_all(red1, '$SsnRe')) AS BIGINT) AS n_ssn,
        |  regexp_replace(red1, '$SsnRe', '$SsnMask', 'g') AS redacted
        |FROM r ORDER BY doc_id""".stripMargin,

    // the oracle runs the mod-97 fold independently, twice (check-digit
    // generation, then candidate validation) — list_reduce over a PLAIN
    // BIGINT accumulator (the DuckDB-1.0 list_reduce bugs are struct
    // accumulators and outer-list indexing — neither applies; the seed
    // is a prepended 0). Each char encodes as base·1000+value so the
    // fold's element and accumulator share one scalar type: digits
    // (10, d), letters (100, ascii−55); acc = (acc·base + value) % 97.
    // The redaction folds over EVERY valid candidate — list(c) FILTER
    // (ok), then list_reduce replace — matching the engine's aggregate-
    // replace semantics generically instead of leaning on the ≤1-plant-
    // per-doc gate shape (ADVICE r17: an organic mod-97-passing
    // candidate alongside a plant would have diverged the min(c) form).
    // Fold ORDER is immaterial: candidates are fixed-length (14 chars,
    // \b-delimited) so distinct candidates never substring/overlap-
    // interact, replace() is global per candidate (duplicate folds
    // idempotent), and the mask can't re-form a candidate — the engine's
    // position-ordered fold and this value-ordered one agree.
    "x_cur_iban_redact" -> {
      def mod97(sExpr: String): String =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |  list_transform(generate_series(1, length($sExpr)), i ->
           |    CASE WHEN substr($sExpr, i, 1) BETWEEN '0' AND '9'
           |         THEN 10000 + CAST(substr($sExpr, i, 1) AS BIGINT)
           |         ELSE 100000 + ascii(substr($sExpr, i, 1)) - 55 END)),
           |  (a, x) -> (a * (x // 1000) + x % 1000) % 97)""".stripMargin
      s"""WITH b AS (SELECT doc_id, text,
        |    lpad(CAST(doc_id % 10000000000 AS VARCHAR), 10, '0') AS bban
        |  FROM documents),
        |ck AS (SELECT doc_id, text, bban,
        |    98 - ${mod97("(bban || 'DE00')")} AS correct
        |  FROM b),
        |t AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 13 = 0 THEN ' iban DE'
        |       || lpad(CAST(CASE WHEN doc_id % 3 = 0 THEN (correct % 97) + 1
        |                         ELSE correct END AS VARCHAR), 2, '0')
        |       || bban || ' ref' ELSE '' END AS t0
        |  FROM ck),
        |cand AS (SELECT doc_id, unnest(regexp_extract_all(t0, '$IbanCandRe')) AS c FROM t),
        |lv AS (SELECT doc_id, c,
        |    ${mod97("(substr(c, 5) || substr(c, 1, 4))")} = 1 AS ok
        |  FROM cand),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_iban,
        |    CAST(count(*) FILTER (WHERE ok) AS BIGINT) n_iban_valid,
        |    list(c ORDER BY c) FILTER (WHERE ok) AS vcs
        |  FROM lv GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(a.n_iban, 0) AS n_iban,
        |  coalesce(a.n_iban_valid, 0) AS n_iban_valid,
        |  CASE WHEN a.vcs IS NOT NULL THEN
        |    list_reduce(list_prepend(t.t0, a.vcs),
        |      (acc, c) -> replace(acc, c, '$IbanMask'))
        |  ELSE t.t0 END AS redacted
        |FROM t LEFT JOIN agg a ON a.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin
    },

    // the modulus is interpolated from the SAME targetShards derivation
    // the engine runs, at the representative gate byte mass (both gate
    // corpora sit mid-band — see GateTextBytes)
    "x_cur_shard" ->
      s"""WITH t AS (SELECT doc_id,
        |             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |           FROM documents)
        |SELECT doc_id, h % ${targetShards(GateTextBytes)} AS shard,
        |       CAST(row_number() OVER (PARTITION BY h % ${targetShards(GateTextBytes)}
        |              ORDER BY h, doc_id) - 1
        |            AS BIGINT) AS pos
        |FROM t ORDER BY shard, pos""".stripMargin,

    "x_cur_source_cap" ->
      """WITH t AS (SELECT doc_id, source,
        |             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |           FROM documents),
        |r AS (SELECT source, doc_id,
        |        row_number() OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC) rank
        |      FROM t)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id
        |FROM r WHERE rank <= 20 ORDER BY source, rank""".stripMargin,

    "x_cur_mixture" ->
      """WITH t AS (SELECT doc_id, source,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |           FROM documents),
        |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(n) AS BIGINT) AS n_tokens
        |      FROM t GROUP BY source),
        |r AS (SELECT source, n_docs, n_tokens,
        |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000000.0)
        |             AS DECIMAL(38,0)) AS wq
        |      FROM s),
        |r2 AS (SELECT source, n_docs, n_tokens,
        |         least(CAST(1.0 AS DOUBLE),
        |           CAST(sum(n_tokens) OVER () AS DOUBLE) / 2.0 *
        |           CAST(wq AS DOUBLE) / CAST(sum(wq) OVER () AS DOUBLE) /
        |           CAST(n_tokens AS DOUBLE)) AS rate
        |       FROM r),
        |k AS (SELECT t.source, r2.n_docs, r2.n_tokens, r2.rate, t.n,
        |        ('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |          < CAST(floor(r2.rate * 1152921504606846976.0) AS BIGINT) AS kept
        |      FROM t JOIN r2 USING (source))
        |SELECT source, n_docs, n_tokens, rate,
        |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
        |       CAST(sum(CASE WHEN kept THEN n ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM k GROUP BY source, n_docs, n_tokens, rate
        |ORDER BY source""".stripMargin,

    // the composed pipeline re-derives every stage the standalone
    // oracles gate: minhash clusters (x_cur_split), the blocklist rule
    // (x_cur_blocklist), the survivor-rate mixture (x_cur_mixture), the
    // naive-cumsum pack (x_cur_pack) and the md5 shard (x_cur_shard)
    "x_cur_pipeline" ->
      s"""WITH RECURSIVE ${Dedup.md5MinhashCte},
        |p AS (SELECT da, db FROM est WHERE est_j >= 0.5),
        |edges AS (SELECT da ea, db eb FROM p UNION ALL SELECT db, da FROM p),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea),
        |cl AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src),
        |base AS (SELECT doc_id, source,
        |           CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |           len(list_filter(string_split(text, ' '),
        |             w -> list_contains([${Blocklist.map(t => s"'$t'").mkString(", ")}], w))) AS n_blocked
        |         FROM documents),
        |surv AS (SELECT b.doc_id, b.source, b.n
        |         FROM base b JOIN cl ON b.doc_id = cl.doc_id
        |         WHERE b.n_blocked = 0 AND cl.cluster = b.doc_id),
        |s AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens FROM surv GROUP BY source),
        |r AS (SELECT source, n_tokens,
        |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000000.0)
        |             AS DECIMAL(38,0)) AS wq
        |      FROM s),
        |r2 AS (SELECT source,
        |         least(CAST(1.0 AS DOUBLE),
        |           CAST(sum(n_tokens) OVER () AS DOUBLE) / 2.0 *
        |           CAST(wq AS DOUBLE) / CAST(sum(wq) OVER () AS DOUBLE) /
        |           CAST(n_tokens AS DOUBLE)) AS rate
        |       FROM r),
        |kept AS (SELECT v.doc_id, v.n,
        |           ('0x' || substr(md5(CAST(v.doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |         FROM surv v JOIN r2 USING (source)
        |         WHERE ('0x' || substr(md5(CAST(v.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |               < CAST(floor(r2.rate * 1152921504606846976.0) AS BIGINT)),
        |c AS (SELECT doc_id, n, h,
        |        sum(n) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS o
        |      FROM kept)
        |SELECT doc_id, n AS n_tokens, CAST(o AS BIGINT) AS tok_offset,
        |       CAST(o // 8192 AS BIGINT) AS bin,
        |       h % ${targetShards(GateTextBytes / MixtureKeepRate)} AS shard,
        |       CAST(row_number() OVER (
        |              PARTITION BY h % ${targetShards(GateTextBytes / MixtureKeepRate)}
        |              ORDER BY h, doc_id) - 1
        |            AS BIGINT) AS pos
        |FROM c ORDER BY doc_id""".stripMargin
  )
}
