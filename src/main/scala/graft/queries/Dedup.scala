package graft.queries

import graft.Engine.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table — the LLM-training-
  * pipeline extensions (north star; SURVEY §7.6).
  *
  * Scale design:
  *   - exact dedup groups on md5(text), so the shuffle carries a 32-byte
  *     key + count, never the document bodies;
  *   - the shingle-Jaccard self-join is the *verification* path, bounded to
  *     a candidate subset; the discovery path at 100 TB is MinHash+LSH
  *     banding (x_dedup_minhash), whose shuffle is O(docs × bands) tiny
  *     band-hash rows — the classic Broder scheme;
  *   - SimHash near-dup is O(docs) signature computation (native
  *     simhash64, a pure map — no shuffle); the scale path
  *     (x_dedup_simhash_lsh) finds candidate pairs via 8-bit block
  *     banding (pigeonhole-complete for hamming ≤ 6) as a key-equi join;
  *   - operators are pure DataFrame/Column expressions (codegen'd), with
  *     two deliberate exceptions: the MinHashAgg typed Aggregator (the
  *     price of a true map-side-combinable signature) and the clustering
  *     builders' driver-side fixpoint loops (one bounded Spark job per
  *     round; all state stays on executors).
  *
  * DuckDB-oracle notes: Jaccard = intersect/(|A|+|B|-intersect) is an exact
  * int division performed in double — bit-identical across engines. MinHash
  * and SimHash rely on xxhash64 (Spark-only) → rows-only driver check +
  * ScalaTest invariants (DedupSpec).
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  /** documents → (doc_id, ws: array<string>) */
  private def toks(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents").select(col("doc_id"), split(col("text"), " ").as("ws"))

  /** (doc_id, s) distinct word-3-gram shingles. Documents shorter than 3
    * tokens produce NO shingles (guarded: Spark's sequence(1, 0) would
    * yield the descending [1, 0], emitting spurious partial grams, while
    * the DuckDB oracle's generate_series(1, 0) is empty). Any column
    * besides `ws` rides along unchanged — streaming callers carry an
    * event-time column through so a downstream watermark still resolves.
    * The output column name `s` is reserved: an input already containing
    * `s` would emit a duplicate, ambiguous column (fail-fast instead). */
  private[graft] def shinglesOf(tokenized: DataFrame): DataFrame = {
    require(!tokenized.columns.contains("s"),
      "shinglesOf reserves output column name 's'; rename the input column")
    tokenized
      .select(tokenized.columns.filterNot(_ == "ws").map(col).toIndexedSeq :+
        explode(array_distinct(expr(
          """CASE WHEN size(ws) >= 3
            |  THEN transform(sequence(1, size(ws)-2), i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1]))
            |  ELSE CAST(array() AS array<string>) END""".stripMargin
        ))).as("s"): _*)
  }

  private def shingles(s: SparkSession, d: String, limit: Column): DataFrame =
    shinglesOf(toks(s, d).filter(limit))

  /** SimHash LSH band keys as an explode-able array expression over `sh`.
    * Single 8-bit blocks: 8 keys/doc, only 256 distinct values per key.
    * Pair-of-blocks: C(8,2) = 28 keys/doc, 16-bit values — complete for
    * hamming ≤ 6 (≤ 6 differing blocks leave ≥ 2 intact, i.e. ≥ 1 intact
    * pair) with 256× fewer collisions per key. */
  private[queries] def simhashBandKeys(pairBlocks: Boolean): String =
    if (!pairBlocks)
      "transform(sequence(0, 7), b -> struct(CAST(b AS BIGINT) AS blk, shiftright(sh, b * 8) & 255 AS bv))"
    else
      (for { i <- 0 until 8; j <- (i + 1) until 8 } yield
        s"struct(${i * 8 + j}L AS blk, (shiftright(sh, ${i * 8}) & 255) * 256 + (shiftright(sh, ${j * 8}) & 255) AS bv)")
        .mkString("array(", ", ", ")")

  /** Degenerate-bucket guard for LSH band self-joins: drop buckets with
    * more than `max` members BEFORE the join. A bucket that big means a
    * degenerate signature (empty/boilerplate documents) whose pairs
    * belong to exact dedup, not near-dup discovery — and without the cap
    * ONE hot bucket costs O(bucket²) pairs at 100 TB. The count is a
    * WINDOW over the join's own partition keys, not a separate aggregate:
    * the banded rows shuffle ONCE on (band, bucket) and that single
    * exchange feeds the count, the filter, and both sides of the
    * candidate self-join (ReusedExchange — pinned in PlanQualitySpec).
    * Default caps are far above anything a healthy corpus produces
    * (DedupSpec pins that nothing is dropped at test scale and that a
    * planted hot bucket IS dropped). NOTE the cap is a deliberate recall
    * bound: a >max bucket (10⁵ docs sharing one band value — template
    * boilerplate) is dropped on the Spark side only, so beyond that
    * threshold the md5 pipelines diverge from their un-capped DuckDB
    * oracles BY DESIGN; exact-dedup upstream of LSH keeps real corpora
    * far below it. */
  private[queries] def capBuckets(blocks: DataFrame, max: Long, keys: String*): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    blocks.withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") <= max)
      .drop("bn")
  }

  /** Distinct candidate pairs (da < db, with both signatures) from a
    * key-equi join on SimHash band keys — the shape whose volume the
    * banding scheme controls (DedupSpec pins pair-of-blocks ≤ single). */
  private[queries] def simhashCandidates(s: SparkSession, d: String,
      pairBlocks: Boolean, maxBucket: Long = 100000L): DataFrame = {
    graft.functions.SimHash64.register(s)
    simhashCandidatesOf(
      toks(s, d).select(col("doc_id"), expr("simhash64(ws)").as("sh")),
      pairBlocks, maxBucket)
  }

  /** Banding over an arbitrary `(doc_id, sh)` signature relation — the
    * join shape shared by the xxhash64 fast path and the md5-portable
    * twin (the banding is hash-family-agnostic: it only slices bits). */
  private[queries] def simhashCandidatesOf(bits: DataFrame,
      pairBlocks: Boolean, maxBucket: Long = 100000L): DataFrame = {
    val blocks = capBuckets(
      bits.select(col("doc_id"), col("sh"),
          explode(expr(simhashBandKeys(pairBlocks))).as("k"))
        .select(col("doc_id"), col("sh"), col("k.blk"), col("k.bv")),
      maxBucket, "blk", "bv")
    blocks.as("a")
      .join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.sh").as("sa"), col("b.sh").as("sb"))
      .distinct()
  }

  /** md5-portable 60-bit SimHash signatures (doc_id, sh): token hash =
    * the md5 digest's top 60 bits, signature bit b = sign of the ±1 sum
    * over that bit across the token multiset (Charikar) — reproducible
    * in DuckDB, so everything downstream of it hash-gates. Shared by
    * the bounded all-pairs query (x_dedup_simhash_md5) and the banded
    * scale path (x_dedup_simhash_lsh_md5). */
  private[queries] def md5SimhashSig(s: SparkSession, d: String,
      docFilter: Column = lit(true)): DataFrame = {
    val nBits = 60
    graft.functions.Md5Long60.register(s)
    val hashed = toks(s, d).filter(docFilter)
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .select(col("doc_id"), expr("md5long60(w)").as("h"))
    val bitSums = (0 until nBits).map(b =>
      sum(when(expr(s"(shiftright(h, $b) & 1) = 1"), 1).otherwise(-1)).as(s"c$b"))
    hashed.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until nBits).map(b =>
          when(col(s"c$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("sh"))
  }

  /** The raw synthetic corpus has no exact duplicates at the gate scales
    * (sf0.001/sf0.01; sf0.1 happens to carry a few), so a gate over it
    * alone passes on empty-vs-empty and a broken group-detector goes
    * unnoticed. Simulate a re-crawl: every 50th document re-ingested
    * under a new id — the exact-dedup gates then have real groups to
    * find at EVERY scale (the DuckDB oracles build the same corpus). */
  private def withRecrawl(docs: DataFrame): DataFrame = {
    val cols = Seq(col("doc_id"), col("lang"), col("n_chars"), col("text"))
    docs.select(cols: _*).unionAll(
      docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id") +: cols.tail: _*))
  }

  val queries: Map[String, Q] = Map(
    // -- exact dedup: hash-groupBy; duplicate groups + the kept representative
    "x_dedup_exact" -> ((s, d) =>
      withRecrawl(table(s, d, "documents"))
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
        .filter(col("n") > 1)
        .orderBy("h")),

    // -- exact dedup, corpus output form: keep the lowest doc_id per
    //    content hash (what a pipeline actually materializes; the rn
    //    filter actively drops the re-crawled copies)
    "x_dedup_keep" -> ((s, d) => {
      val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
      withRecrawl(table(s, d, "documents"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // -- n-gram (3-shingle) Jaccard near-dup pairs, exact, bounded subset
    //    (the same jaccardPairs pipeline the clustering operators consume).
    //    The cut is calibrated to the synthetic corpus so the gate output
    //    is non-empty at BOTH driver scales (sf0.01's doc_id<60 slice tops
    //    out near j≈0.02; a 0.2 cut would gate empty-vs-empty)
    "x_dedup_ngram_jaccard" -> ((s, d) =>
      jaccardPairs(s, d, col("doc_id") < 60, minJ = NgramGateMinJ)
        .orderBy(col("j").desc, col("da"), col("db"))),

    // -- exact-substring dedup spans (the Lee-et-al. "deduplicating
    //    training data" shape): every 8-token gram shared across ≥ 2
    //    documents, merged per document into MAXIMAL repeated token spans
    //    via gap sessionization — the spans a substring-dedup pass would
    //    cut. Gram starts whose 8-token windows overlap or touch (gap ≤ K)
    //    merge into ONE span, so output token ranges are disjoint and
    //    non-adjacent, and every token inside a span is covered by some
    //    duplicated gram. n_grams counts the duplicated gram starts the
    //    span absorbed. Grams shuffle as (id, pos, 60-bit hash) longs,
    //    never text — and the gram text is split/hashed in ONE pass:
    //    "shared across ≥ 2 documents" is min(doc_id) ≠ max(doc_id) over
    //    a window partitioned by h, so there is no duplicate-gram join
    //    (and no second scan feeding its build side); span merging is one
    //    window per document.
    "x_dedup_substring_spans" -> ((s, d) => {
      graft.functions.Md5Long60.register(s)
      val K = 8
      val grams = table(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= K)
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(1, size(ws) - ${K - 1}), i -> concat_ws(' ', slice(ws, i, $K)))")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          expr("md5long60(col)").as("h"))
      val byHash = Window.partitionBy("h")
      val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      grams
        .withColumn("mn", min("doc_id").over(byHash))
        .withColumn("mx", max("doc_id").over(byHash))
        .filter(col("mn") =!= col("mx")).select("doc_id", "pos")
        .withColumn("brk", when(col("pos") - lag("pos", 1).over(byDoc) > K, 1L).otherwise(0L))
        .withColumn("sid", sum("brk").over(
          byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("doc_id", "sid")
        .agg(min("pos").as("span_start"), (max("pos") + (K - 1)).as("span_end"),
          count(lit(1)).as("n_grams"))
        .select("doc_id", "span_start", "span_end", "n_grams")
        .orderBy("doc_id", "span_start")
    }),

    // -- exact-substring dedup REWRITE (the RefinedWeb recipe's removal
    //    step): every word position covered by a cross-document-duplicated
    //    8-gram is CUT from the text, remaining words reassemble in order.
    //    Scale shape (reworked after SCALE_r14 measured 52 GB of spill at
    //    the 256× point on the old coverage-join plan): the gram stream is
    //    exploded and exchanged exactly ONCE — "duplicated across ≥2 docs"
    //    is min(doc_id) ≠ max(doc_id) over a window partitioned by h (the
    //    x_dedup_substring_spans shape), so there is no duplicate-gram
    //    join and no second explode feeding its build side. Downstream is
    //    skinny: dup-gram START positions aggregate per doc (map-side-
    //    combined collect_set, one array row per affected doc), and the
    //    cut itself is IN-ROW interval arithmetic (rewriteWithDupStarts)
    //    — no 8×-wide coverage explode+distinct, no word-level posexplode
    //    join, no collect_list(struct) sort-agg. A globally hot gram
    //    (boilerplate shared by a large doc fraction) concentrates its
    //    window group in one task — WindowExec buffers spill to disk
    //    rather than OOM, and the group carries 24-byte rows, never text.
    //    Untouched docs pass through byte-identical with zero per-word
    //    work, so at a 100 TB corpus with a few-% dup rate the rewrite
    //    cost tracks the dup mass, not the corpus. Hash-gated end-to-end:
    //    the md5 gram hashes, coverage arithmetic and reassembly all
    //    reproduce in DuckDB.
    "x_dedup_rewrite" -> ((s, d) => {
      val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
      val byHash = Window.partitionBy("h")
      val hits = gramStream(docs)
        .withColumn("mn", min("doc_id").over(byHash))
        .withColumn("mx", max("doc_id").over(byHash))
        .filter(col("mn") =!= col("mx"))
        .select("doc_id", "pos")
      rewriteWithDupStarts(docs, hits).orderBy("doc_id")
    }),

    // -- MinHash + LSH banding. Sizing is corpus-derived (LshTuning): the
    //    gate corpus (500 docs) gives 8 bands × 4 rows = 32 permutations;
    //    a 10⁸-doc corpus tightens to 7 rows × 64 bands so the candidate
    //    S-curve threshold stays near the est_j cut at any scale.
    //    Signature shuffle is (doc, band, hash) — never the text.
    "x_dedup_minhash" -> ((s, d) => {
      // sizing probe at plan-build time — the "measure the corpus, size
      // the index" step every LSH deployment runs; the parquet footers'
      // row counts answer it with NO job
      val corpusN = graft.Engine.tableRows(s, d, "documents")
      val rowsPerBand = LshTuning.minhashRowsPerBand(corpusN)
      val nPerm = LshTuning.minhashBands(rowsPerBand) * rowsPerBand
      // SIZED registration: the name carries nPerm so a concurrent build
      // for a different corpus size can never swap this query's aggregate
      val aggName = graft.functions.MinHashAgg.register(s, nPerm)
      // signature as a TRUE partial aggregate: each shingle hashes to 8
      // bytes map-side and folds straight into the fixed nPerm-long minima
      // buffer (MinHashAgg), so map-side combine reduces every partition's
      // contribution to ONE buffer per doc before the shuffle — state and
      // shuffle are O(docs × nPerm), independent of document length
      val sig = shingles(s, d, lit(true))
        .select(col("doc_id"), xxhash64(col("s")).as("h"))
        .groupBy("doc_id").agg(expr(s"$aggName(h)").as("sig"))
      // band keys only (doc, band, bh): the banded exchange and the
      // candidate distinct never carry the nPerm-long signatures — a true
      // pair agrees on MANY bands (the S-curve's point), so carrying sigs
      // would shuffle each pair's signatures once per agreeing band
      val bands = capBuckets(
        sig.select(col("doc_id"),
            explode(expr(s"transform(sequence(0, ${nPerm / rowsPerBand - 1}), " +
              s"b -> struct(b AS band, xxhash64(slice(sig, b * $rowsPerBand + 1, $rowsPerBand)) AS bh))")).as("bk"))
          .select(col("doc_id"), col("bk.band"), col("bk.bh")),
        100000L, "band", "bh")
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
      // re-join the signatures ONCE per surviving candidate pair (the
      // md5MinhashPairs shape) for the exact estimate
      cand
        .join(sig.as("sa"), col("da") === col("sa.doc_id"))
        .join(sig.as("sb"), col("db") === col("sb.doc_id"))
        .select(col("da"), col("db"),
          (expr("size(filter(zip_with(sa.sig, sb.sig, (x, y) -> x = y), v -> v))").cast("double") / nPerm).as("est_j"))
        .filter(col("est_j") >= 0.5)
        .orderBy(col("est_j").desc, col("da"), col("db"))
    }),

    // -- MinHash + LSH with an ENGINE-PORTABLE hash family: permutation p
    //    ranks shingles by md5(p || ':' || shingle), lexicographic on the
    //    hex text — reproducible in any engine with md5, so this pipeline
    //    is DuckDB-oracle hash-gated END-TO-END (bands, candidates and
    //    estimates), unlike the xxhash64 fast path above (Spark-only hash
    //    → rows-only check). 16 perms, 4 bands × 4 rows; the plan shape
    //    is identical: signature is a map-side-combinable min-aggregate
    //    per permutation, candidates a key-equi join on band hashes.
    //    ONE md5 per shingle: the digest's top 60 bits become an integer
    //    and each permutation is an affine map mod the prime 1e9+7 —
    //    (2p+1)·h + p²+7 — so the 16 per-perm mins aggregate 8-byte longs,
    //    not 32-char digests (2.7 s → sub-second at sf0.1).
    "x_dedup_minhash_md5" -> ((s, d) =>
      md5MinhashPairs(s, d).orderBy(col("est_j").desc, col("da"), col("db"))),

    // -- edit-distance-VERIFIED near-dup: the md5-MinHash LSH candidates
    //    (the hash-gated discovery pipeline above) re-checked by exact
    //    character-level Levenshtein distance — the classic fuzzy-dedup
    //    verify stage for when a signature estimate alone is not evidence
    //    enough to delete data. Every candidate pair is kept with its
    //    distance, relative distance and verdict (both verdicts occur at
    //    gate scale), so the gate is non-vacuous wherever the threshold
    //    lands. Scale shape: the quadratic-DP verify runs ONLY on the
    //    LSH-surviving pairs (output-sized, broadcast); the two text
    //    lookups are key-equi joins against the corpus.
    "x_dedup_editdist" -> ((s, d) => {
      val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
      val rel = col("dist").cast("double") /
        greatest(length(col("ta")), length(col("tb"))).cast("double")
      broadcast(md5MinhashPairs(s, d))
        .join(docs.select(col("doc_id").as("da"), col("text").as("ta")), Seq("da"))
        .join(docs.select(col("doc_id").as("db"), col("text").as("tb")), Seq("db"))
        .withColumn("dist", levenshtein(col("ta"), col("tb")).cast("long"))
        .select(col("da"), col("db"), col("est_j"), col("dist"), rel.as("rel"),
          (rel <= 0.3).as("dup"))
        .orderBy("da", "db")
    }),

    // -- sketch-ACCELERATED incremental exact dedup: the recrawl batch
    //    (the withRecrawl increment, doc_id ≥ 1e6) builds a Bloom filter
    //    over its text hashes — INCREMENT-sized, KBs even for a 10⁶-doc
    //    daily batch — and the HISTORY scan (the 10¹⁰-row side at scale)
    //    is pre-filtered by bloom_contains BEFORE the join: Spark's
    //    runtime semi-join reduction made an explicit operator (Catalyst
    //    ships the expressions for its optimizer only; graft registers
    //    them as bloom_agg/bloom_contains — functions/Bloom.scala). The
    //    sketch has NO false negatives, so the exact verify join over
    //    the surviving rows emits exactly the unfiltered join's verdicts
    //    — the sketch accelerates without entering the answer, and the
    //    query stays hash-gated by a plain SQL oracle. The filter binary
    //    round-trips the driver ONCE, bounded by numBits (the broadcast
    //    a production job ships anyway).
    "x_dedup_bloom_exact" -> ((s, d) => {
      graft.functions.Bloom.register(s)
      val corpus = withRecrawl(table(s, d, "documents")).select(col("doc_id"), col("text"))
      val inc = corpus.filter(col("doc_id") >= 1000000L)
      // increment ≈ corpus/50 (the recrawl rate); ~10 bits/item ≈ 1% fp
      val items = math.max(16L, graft.Engine.tableRows(s, d, "documents") / 50)
      val bf = inc.agg(expr(
        s"bloom_agg(xxhash64(text), CAST($items AS BIGINT), CAST(${math.max(4096L, items * 10)} AS BIGINT))"))
        .collect()(0).getAs[Array[Byte]](0)
      val hist = corpus.filter(col("doc_id") < 1000000L)
        .filter(expr(s"bloom_contains(X'${bf.map("%02x".format(_)).mkString}', xxhash64(text))"))
      inc.as("n").join(hist.as("h"), col("n.text") === col("h.text"))
        .groupBy(col("n.doc_id").as("doc_id"))
        .agg(count(lit(1)).as("n_matches"), min(col("h.doc_id")).as("dup_of"))
        .orderBy("doc_id")
    }),

    // -- incremental dedup against an existing index: docs ≥ 400 play
    //    the "new batch", docs < 400 the historical index (the split is
    //    non-vacuous at every driver scale — planted cross-boundary
    //    dups exist). The batch's band keys broadcast against the index
    //    — the per-increment shape of a daily-crawl pipeline, where the
    //    index side never reshuffles.
    "x_dedup_incremental" -> ((s, d) => md5IncrementalDups(s, d, cut = 400L)),

    // -- the takedown/DELETE verb, oracle-gated end-to-end: build the
    //    bucketed serving index over history (< 400), file doc 45 in
    //    the tombstone ledger (45 is a planted cross-boundary dup_of at
    //    every driver scale, so the exclusion is non-vacuous), then
    //    probe the increment — verdicts must equal the DuckDB oracle's
    //    rebuild-without-the-doc (the incremental chain with da != 45).
    //    The index build is eager at plan-build time; the probe is the
    //    returned lazy plan, ledger broadcast-anti-joined on the keys
    //    relation.
    "x_dedup_takedown" -> ((s, d) => {
      val p = "vx_mh_td"
      for (t <- Seq("_sig", "_keys", "_counts"))
        graft.Engine.reclaimManagedTable(s, p + t)
      graft.Engine.reclaimManagedTable(s, graft.Takedown.tombTable(p))
      writeMinhashIndexBucketed(s, d, p, buckets = 8,
        docFilter = col("doc_id") < 400)
      graft.Takedown.add(s, p, s.range(45, 46).toDF("id"))
      // probe a BOUNDED increment (the daily-crawl shape): the gate
      // exercises the takedown machinery, not corpus scale — ScaleBench
      // owns that — and the [400, 1200) window keeps 12 cross-boundary
      // matches at sf0.1 (non-vacuous) while at the smaller gate scales
      // (≤ 500 docs) the upper bound is a no-op
      incrementalDupsAgainstBucketedIndex(s, d, p,
        col("doc_id") >= 400 && col("doc_id") < 1200)
    }),

    // -- the composed full-corpus dedup pipeline a 100 TB ingest runs:
    //    md5-family MinHash+LSH pair discovery feeding large-star/
    //    small-star clustering over EVERY document (singletons label
    //    themselves). Both stages are engine-portable, so the entire
    //    discovery → clustering pipeline is DuckDB hash-gated — the
    //    full-scale twin of the bounded x_dedup_clusters.
    "x_dedup_clusters_full" -> ((s, d) => clusterLabels(s, d)),

    // -- the cluster-label BUILD as its own named row (round 19): every
    //    other consumer of [[clusterLabels]] (x_cur_split, downstream
    //    keeps, hard negatives) reads the memo WARM, so this row —
    //    which invalidates then rebuilds, the ScaleBench
    //    fit-invalidation discipline — is where the multi-round
    //    build cost lands in the benchmark. Adding or removing a memo
    //    consumer no longer moves any consumer's per-query ratio: they
    //    all time the probe, this row times the build. Same labels,
    //    same oracle as x_dedup_clusters_full.
    "x_dedup_cluster_build" -> ((s, d) => {
      invalidateClusters(s, d)
      clusterLabels(s, d)
    }),

    // -- SimHash: 64-bit signature via the native simhash64 expression (a
    //    pure map over the scan — no explode, no signature shuffle); exact
    //    all-pairs verification among a bounded subset. The unbounded scale
    //    path is x_dedup_simhash_lsh below.
    "x_dedup_simhash" -> ((s, d) => {
      graft.functions.SimHash64.register(s)
      val bits = toks(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id"), expr("simhash64(ws)").as("sh"))
      bits.as("a")
        .join(bits.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          expr("bit_count(a.sh ^ b.sh)").cast("long").as("hamming"))
        .filter(col("hamming") <= 6)
        .orderBy(col("hamming"), col("da"), col("db"))
    }),

    // -- SimHash with an ENGINE-PORTABLE hash family: token hash = the
    //    md5 digest's top 60 bits, signature bit b = sign of the ±1 sum
    //    over that bit across the token multiset — the same Charikar
    //    construction as simhash64 but reproducible in DuckDB, so the
    //    signature AND the hamming pairs are hash-gated (the xxhash64
    //    native expression stays the fast path). Bounded all-pairs
    //    verification mirrors x_dedup_simhash; the banding scale path is
    //    proven on the fast path and applies unchanged.
    "x_dedup_simhash_md5" -> ((s, d) => {
      val sig = md5SimhashSig(s, d, col("doc_id") < 200)
      sig.as("a")
        .join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          expr("bit_count(a.sh ^ b.sh)").cast("long").as("hamming"))
        .filter(col("hamming") <= 6)
        .orderBy(col("hamming"), col("da"), col("db"))
    }),

    // -- SimHash banding with the md5-portable hash family: the SCALE
    //    path (pair-of-blocks banding, pigeonhole-complete for hamming
    //    ≤ 6 — see x_dedup_simhash_lsh) over the DuckDB-reproducible
    //    60-bit signature, so the one remaining LSH candidate generator
    //    hash-gates END-TO-END: signature, band keys, candidates and
    //    verified pairs all reproduce in the oracle. Full corpus — no
    //    doc_id bound — because banding, not all-pairs, controls the
    //    join volume. Block 7 of the 60-bit signature carries 4 bits
    //    (values 0–15); the pigeonhole argument is width-independent.
    "x_dedup_simhash_lsh_md5" -> ((s, d) =>
      simhashCandidatesOf(md5SimhashSig(s, d), pairBlocks = true)
        .select(col("da"), col("db"),
          expr("bit_count(sa ^ sb)").cast("long").as("hamming"))
        .filter(col("hamming") <= 6)
        .orderBy(col("hamming"), col("da"), col("db"))),

    // -- SimHash at scale: PAIR-of-blocks banding. Split the 64-bit
    //    signature into 8 bytes; a pair within hamming ≤ 6 has ≥ 2 intact
    //    blocks, hence at least one intact PAIR of blocks — so keying on
    //    all C(8,2) = 28 (pair id, 16-bit value) combinations stays
    //    pigeonhole-complete for the hamming ≤ 6 budget while candidate
    //    collisions drop from ~n²/256 per key (single 8-bit blocks — the
    //    round-2 shape, which explodes at 10⁹ docs) to ~n²/65536: the
    //    100× scale path. Exact bit_count re-verification prunes false
    //    positives; output contract matches x_dedup_simhash (SimHashSpec
    //    asserts set equality on the bounded subset).
    "x_dedup_simhash_lsh" -> ((s, d) =>
      simhashCandidates(s, d, pairBlocks = true)
        .select(col("da"), col("db"),
          expr("bit_count(sa ^ sb)").cast("long").as("hamming"))
        .filter(col("hamming") <= 6)
        .orderBy(col("hamming"), col("da"), col("db"))),

    // -- duplicate-cluster assignment: what a pipeline materializes AFTER
    //    pair discovery — every document labeled with its connected
    //    component (min doc_id reachable over near-dup edges), singletons
    //    labeling themselves. Alternating large-star/small-star (see
    //    starClusters below): O(log² n) rounds instead of the O(diameter)
    //    of plain min-label propagation. Oracle: DuckDB recursive CTE
    //    computing the same transitive closure (exact ints → hash-exact).
    "x_dedup_clusters" -> ((s, d) => {
      val docs = table(s, d, "documents").filter(col("doc_id") < 60).select(col("doc_id"))
      // same corpus-calibrated cut as x_dedup_ngram_jaccard: with the
      // default 0.2 the sf0.01 slice has no edges at all and the closure
      // degenerates to the identity labeling (nothing exercised)
      starClusters(docs, jaccardPairs(s, d, col("doc_id") < 60, minJ = NgramGateMinJ))._1
    }),

    // -- embedding-cosine near-dup: exact double arithmetic (index-ordered
    //    sums) so DuckDB reproduces bit-for-bit
    "x_dedup_embcos" -> ((s, d) => {
      graft.functions.CosineSimilarity.register(s)
      val e = table(s, d, "embeddings").select(col("vec_id"), col("embedding"),
        sqrt(expr("float_dot(embedding, embedding)")).as("nrm"))
      val q = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("qa"), col("embedding").as("ea"), col("nrm").as("na"))
      broadcast(q).join(e.filter(col("vec_id") >= 100), lit(true))
        .select(col("qa"), col("vec_id").as("qb"),
          (expr("float_dot(ea, embedding)") / (col("na") * col("nrm"))).as("cos"))
        // cut calibrated to the synthetic embeddings (cross-block cosines
        // top out near 0.49): ~10 pairs at both driver scales — a 0.95
        // cut would gate empty-vs-empty
        .filter(col("cos") >= 0.42)
        .orderBy(col("qa"), col("qb"))
    }),

    // -- semantic dedup (SemDeDup, Abbas et al. 2023): k-means-cluster
    //    the embedding space, then inside each cluster prune any vector
    //    whose cosine to a LOWER-id cluster-mate reaches τ. The pairwise
    //    work is confined to clusters — a key-equi self-join on cell id,
    //    never corpus all-pairs — and k IS corpus-derived
    //    (LshTuning.ivfCells via Similarity.ivfK: expected cluster ≈ 32)
    //    so cluster sizes (and the within-cluster quadratic) stay
    //    bounded at any scale. The fit is the memoized md5-portable Lloyd shared
    //    with x_sim_ivf_md5, so fit + assignment + pruning hash-gate
    //    end-to-end in DuckDB. τ = 0.40 is calibrated to the synthetic
    //    embeddings (same-cluster cosines top out near 0.53; a paper-
    //    typical 0.9 cut would gate empty-vs-empty). Output: every
    //    vector with its cell, the lowest-id duplicate that shadows it
    //    (NULL if none), and the resulting keep flag. Totality WITHOUT a
    //    third pass over the assignment: the self-join keeps va ≤ vb, so
    //    every vector appears as vb at least once (its self-pair) and
    //    the shadow test moves into the aggregate — the corpus×centroid
    //    assignment is built once and its exchange reused by both join
    //    sides (a projection-based totality join would prune differently
    //    and recompute it; the spec pins one assignment pass).
    "x_dedup_semantic" -> ((s, d) => {
      val asg = Similarity.assignCells(
        Similarity.withNorm(s, d),
        Similarity.ivfCentroidsPortable(s, d, k = Similarity.ivfK(s, d)),
        wide = Similarity.wideArgmax(s, d))
      val a = asg.select(col("cid"), col("vec_id").as("va"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val b = asg.select(col("cid"), col("vec_id").as("vb"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      a.join(b, Seq("cid"))
        .filter(col("va") <= col("vb"))
        .select(col("cid"), col("va"), col("vb"),
          (expr("float_dot(ea, eb)") / (col("na") * col("nb"))).as("cos"))
        .groupBy("vb")
        .agg(first("cid").as("cid"),
          min(when(col("va") < col("vb") && col("cos") >= 0.40, col("va")))
            .as("dup_of"))
        .select(col("vb").as("vec_id"), col("cid"), col("dup_of"),
          col("dup_of").isNull.as("keep"))
        .orderBy("vec_id")
    })
  )

  /** Full-corpus duplicate-cluster labels (doc_id, cluster) — md5-MinHash
    * discovery feeding large-star/small-star clustering (every doc
    * labeled, singletons label themselves). Like a real dedup index this
    * is BUILT ONCE per (session, corpus) and CONSUMED many times
    * (x_dedup_clusters_full, the leakage-safe split, downstream keeps),
    * so the labels are memoized as a CACHED DISTRIBUTED DataFrame —
    * never collected to the driver (they are corpus-sized). Stopped
    * sessions are purged on access; [[invalidateClusters]] drops the
    * cache after the corpus changes. */
  private val fittedClusters =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()

  def clusterLabels(s: SparkSession, d: String): DataFrame = {
    fittedClusters.keySet.removeIf(sess => sess.sparkContext.isStopped)
    val perSession = fittedClusters.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[String, DataFrame]())
    // build OUTSIDE the map's mapping function: the multi-round clustering
    // build is minutes of Spark jobs — far beyond computeIfAbsent's
    // "short and simple" contract, under which it would also block
    // unrelated corpora hashing to the same bin. Racing builders may
    // duplicate work; the loser's build is unpersisted and the winner's
    // entry served.
    val cached = perSession.get(d)
    if (cached != null) return cached
    val docs = table(s, d, "documents").select(col("doc_id"))
    val built = starClusters(docs,
      md5MinhashPairs(s, d).select(col("da"), col("db")))._1.cache()
    val prev = perSession.putIfAbsent(d, built)
    if (prev != null) { built.unpersist(); prev } else built
  }

  /** Incremental cluster-label maintenance — the daily-crawl path for
    * the clustering stage, closing the lifecycle triangle the dup
    * DETECTION side already has (persisted minhash index + incremental
    * verdicts): fold a batch of new documents and their discovered
    * near-dup pairs (new↔index from [[incrementalDupsAgainstIndex]]'s
    * candidate machinery, plus new↔new) into EXISTING labels without
    * re-running pair discovery over history.
    *
    * Correctness: a label table IS a star edge set (doc → its component
    * root), and star edges preserve the connectivity of the original
    * graph — so components of (G_old ∪ E_new) equal components of
    * (starEdges(labels_old) ∪ E_new), which [[starClusters]] computes.
    * Cost: the expensive stage skipped is history's shingle→signature→
    * banding→candidate discovery (a full corpus scan + shuffle); the
    * star fixpoint here iterates over DUP-EDGE-sized relations only,
    * and components untouched by new edges are already stars, so they
    * are fixpoints from round one. Returns labels for old ∪ new docs. */
  def appendClusterLabels(oldLabels: DataFrame, newDocs: DataFrame,
      newPairs: DataFrame): DataFrame = {
    // labels are (doc_id, cluster ≤ doc_id): orient as (da=cluster < db=doc)
    val labelEdges = oldLabels.filter(col("doc_id") =!= col("cluster"))
      .select(col("cluster").as("da"), col("doc_id").as("db"))
    val normNew = newPairs
      .select(least(col("da"), col("db")).as("da"), greatest(col("da"), col("db")).as("db"))
      .filter(col("da") =!= col("db"))
    val docsAll = oldLabels.select("doc_id").unionByName(newDocs.select("doc_id"))
    starClusters(docsAll, labelEdges.unionByName(normNew).distinct())._1
  }

  /** Drop (and unpersist) the memoized cluster labels for a corpus dir.
    * Advisory with respect to IN-FLIGHT builds: a build that started
    * before the invalidation may still install labels computed from the
    * old files. For strict semantics, version the corpus (write changed
    * corpora to a NEW dir) — the memo key is the path. */
  def invalidateClusters(s: SparkSession, d: String): Unit = {
    val inner = fittedClusters.get(s)
    if (inner != null) {
      val prev = inner.remove(d)
      if (prev != null) prev.unpersist()
    }
  }

  private val md5NPerm = 16

  /** The shared hot-bucket recall bound for the md5-minhash family: a
    * band bucket whose TOTAL corpus membership (index + increment, when
    * the corpus is split) exceeds this is dropped from candidate
    * generation — see [[capBuckets]] for the rationale. ONE bound for
    * every path: the in-corpus split caps the joint key table directly,
    * and the persisted-index paths reconstruct the same joint count from
    * the index's persisted per-bucket counts plus the increment's own
    * (see [[incrementalVerdicts]]) — so all three paths drop exactly the
    * same buckets and share one recall contract at every scale. */
  private[graft] val hotBucketCap = 100000L

  /** md5-family MinHash signatures (one row per doc, m0..m15) and the
    * (hot-bucket-capped) LSH band keys — the index structures every
    * md5-family dedup operator shares. */
  private def md5SigKeys(s: SparkSession, d: String,
      docFilter: Column = lit(true), cap: Long = hotBucketCap): (DataFrame, DataFrame) =
    md5SigKeysOf(toks(s, d).filter(docFilter), cap)

  /** [[md5SigKeys]] over an arbitrary `(doc_id, ws)` relation — the form
    * a STREAMING micro-batch hands in (Streams.incrementalDedup), where
    * there is no corpus dir to read. */
  private def md5SigKeysOf(tokenized: DataFrame,
      cap: Long = hotBucketCap): (DataFrame, DataFrame) = {
    val (sig, keysBn) = md5SigKeysCounted(tokenized)
    (sig, keysBn.filter(col("bn") <= cap).drop("bn"))
  }

  /** [[md5SigKeysOf]] BEFORE the hot-bucket filter: keys carry their
    * bucket's member count (`bn`, a window over the banding's own
    * partition keys — same shape as [[capBuckets]]). The persisted-index
    * paths need the raw counts to reconstruct the JOINT bound. */
  private[queries] def md5SigKeysCounted(tokenized: DataFrame): (DataFrame, DataFrame) = {
    val s = tokenized.sparkSession
    val nBands = 4
    val rows = md5NPerm / nBands
    val P = 1000000007L
    graft.functions.Md5Long60.register(s)
    val sh = shinglesOf(tokenized.select(col("doc_id"), col("ws")))
      .select(col("doc_id"), (expr("md5long60(s)") % P).as("h"))
    val mins = (0 until md5NPerm).map(p =>
      min((col("h") * (2 * p + 1) + (p * p + 7)) % P).as(s"m$p"))
    val sig = sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    // band key shuffled as 16-byte BINARY, not the 32-char hex string
    // (guide §2.3 "narrower types"): bh is purely internal — a grouping/
    // join/bucket key for the banding window, the candidate self-join
    // and the persisted _keys/_counts tables — and unhex(md5) is a
    // bijection of md5, so every group, join verdict and bucket
    // assignment is unchanged while the band-key exchange and the
    // persisted key tables carry ~16 fewer bytes per row. (The DuckDB
    // oracles band on the hex string; only (da, db, est_j) is compared,
    // and a bijective re-keying cannot change it.)
    val w = Window.partitionBy("band", "bh")
    val keysBn = sig.select(col("doc_id"),
        explode(expr((0 until nBands)
          .map(b => s"struct($b AS band, unhex(md5(${
            (0 until rows).map(r => s"m${b * rows + r}").mkString("concat_ws('|', ", ", ", ")")
          })) AS bh)")
          .mkString("array(", ", ", ")"))).as("k"))
      .select(col("doc_id"), col("k.band"), col("k.bh"))
      .withColumn("bn", count(lit(1)).over(w))
    (sig, keysBn)
  }

  /** Signature-agreement Jaccard estimate for a candidate joined against
    * `sig` under aliases sa/sb. */
  private def md5EstExpr: Column =
    (0 until md5NPerm)
      .map(p => when(col(s"sa.m$p") === col(s"sb.m$p"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / md5NPerm

  /** Attach the signature-agreement estimate to candidate (da, db) pairs
    * and keep the near-dups (est_j ≥ 0.5) — shared by the full pair
    * query and the incremental variant. */
  private def estimatedPairs(cand: DataFrame, sig: DataFrame): DataFrame =
    estimatedPairs(cand, sig, sig)

  /** Two-sided variant: `da` resolves against `sigA`, `db` against
    * `sigB` — the persisted-index path reads sigA from parquet while
    * sigB is the freshly-hashed increment. Broadcast hints on the
    * caller's inputs pass through (hint the cand/sigB sides to keep a
    * large sigA exchange-free). */
  private def estimatedPairs(cand: DataFrame, sigA: DataFrame, sigB: DataFrame): DataFrame =
    cand
      .join(sigA.as("sa"), col("da") === col("sa.doc_id"))
      .join(sigB.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"), md5EstExpr.as("est_j"))
      .filter(col("est_j") >= 0.5)

  /** md5-family MinHash+LSH near-dup pairs with est_j ≥ 0.5 (da < db) —
    * see the x_dedup_minhash_md5 entry for the scheme. Shared by the
    * pair query and the full-corpus clustering pipeline. */
  private[queries] def md5MinhashPairs(s: SparkSession, d: String): DataFrame = {
    val (sig, keys) = md5SigKeys(s, d)
    val cand = keys.as("a")
      .join(keys.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    estimatedPairs(cand, sig)
  }

  /** Incremental dedup: which NEW documents (doc_id ≥ `cut`) duplicate
    * the existing index (doc_id < `cut`)? The per-increment shape a
    * daily-crawl pipeline runs. The side predicates live in the JOIN
    * CONDITION, not as pre-filters: filtering the key table first
    * pushes doc_id through the signature aggregation and splits the
    * shared subtree, recomputing the shingle→signature pass once per
    * consumer (a measured 2.6× slowdown); as a join condition both
    * sides stay the identical capped key relation, so the candidate
    * join rides ONE exchange (ReusedExchange, the bucket-cap pin's
    * shape), while constraint propagation still prunes the sa/sb
    * signature scans to the index/batch subsets. In production the
    * index's signatures are a precomputed structure (the
    * [[clusterLabels]] memo pattern) and only the increment is hashed.
    * One row per duplicated new doc: match count, the lowest matched
    * index doc, the best agreement estimate. */
  private[queries] def md5IncrementalDups(s: SparkSession, d: String, cut: Long,
      cap: Long = hotBucketCap): DataFrame = {
    val (sig, keys) = md5SigKeys(s, d, cap = cap)
    val cand = keys.as("a")
      .join(keys.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < cut && col("b.doc_id") >= cut)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    newDocDupSummary(estimatedPairs(cand, sig))
  }

  /** One row per duplicated new doc (doc_id, n_matches, dup_of, est_j) —
    * the verdict schema shared by the in-corpus split
    * ([[md5IncrementalDups]]) and the persisted-index path
    * ([[incrementalDupsAgainstIndex]]). */
  private def newDocDupSummary(pairs: DataFrame): DataFrame =
    pairs
      .groupBy("db")
      .agg(count(lit(1)).as("n_matches"), min("da").as("dup_of"),
        max("est_j").as("est_j"))
      .select(col("db").as("doc_id"), col("n_matches"), col("dup_of"), col("est_j"))
      .orderBy("doc_id")

  /** Persist the minhash index side of incremental dedup: md5-family
    * signatures (doc_id, m0..m15), capped LSH band keys (doc_id, band,
    * bh), and the kept buckets' member COUNTS (band, bh, n) for every
    * document matching `docFilter`, written as three parquet tables
    * under `path`. A daily-crawl pipeline builds this ONCE from the
    * historical corpus and hands each increment to
    * [[incrementalDupsAgainstIndex]]: history is never re-shingled, and
    * on the read side never re-shuffled. The counts are what let the
    * probe reconstruct the JOINT hot-bucket bound ([[hotBucketCap]]) —
    * index members + increment members — so the index path drops
    * exactly the buckets the in-corpus split drops, instead of a
    * laxer per-side bound that admits quadratic candidate work the
    * other path refuses. */
  def writeMinhashIndex(s: SparkSession, d: String, path: String,
      docFilter: Column = lit(true), cap: Long = hotBucketCap): Unit = {
    val (sig0, keysBn0) = md5SigKeysCounted(toks(s, d).filter(docFilter))
    // persist the shared build relations across the three table writes
    // (the writeBandedIndex discipline): without it each write re-runs
    // the whole shingle→signature corpus pass — the keys and counts
    // writes would pay it again just to re-derive what the sig write
    // already computed (guide §2.4; measured as the bulk of the
    // takedown-family build cost at r19). Both relations are
    // signature-sized (docs × nPerm / docs × bands), never corpus-text-
    // sized.
    val sig = sig0.persist()
    val keysBn = keysBn0.persist()
    try {
      val kept = keysBn.filter(col("bn") <= cap)
      sig.write.mode("overwrite").parquet(s"$path/minhash_sig.parquet")
      kept.drop("bn").write.mode("overwrite").parquet(s"$path/minhash_keys.parquet")
      kept.select(col("band"), col("bh"), col("bn").as("n")).distinct()
        .write.mode("overwrite").parquet(s"$path/minhash_keycounts.parquet")
    } finally {
      sig.unpersist(blocking = false)
      keysBn.unpersist(blocking = false)
      ()
    }
  }

  /** [[writeMinhashIndex]] as BUCKETED managed tables
    * (`{tablePrefix}_sig` bucketed+sorted on doc_id, `{tablePrefix}_keys`
    * bucketed on (band, bh)) — the backfill-scale index layout: the
    * probe-side joins in [[incrementalDupsAgainstBucketedIndex]] read
    * the index pre-partitioned on exactly their join keys, so the index
    * NEVER reshuffles and — unlike the broadcast path — the increment
    * may be arbitrarily large (it alone shuffles, into the index's
    * bucketing). Bucket count sizes the per-task index slice:
    * history_bytes / buckets should stay executor-memory-comfortable
    * (the default 32 matches the test session's shuffle partitions; a
    * 100 TB history wants O(10⁴)). */
  def writeMinhashIndexBucketed(s: SparkSession, d: String, tablePrefix: String,
      buckets: Int = 32, docFilter: Column = lit(true), cap: Long = hotBucketCap): Unit = {
    val (sig0, keysBn0) = md5SigKeysCounted(toks(s, d).filter(docFilter))
    // persist the shared build relations across the three table writes
    // (the writeBandedIndex discipline, see writeMinhashIndex above):
    // without it the keys and counts writes each re-run the full
    // shingle→signature corpus pass. Each bucketed write additionally
    // REPARTITIONS onto its bucket columns first (the writeIvf2Index /
    // compactBucketedTable trick): a bucketed write otherwise emits one
    // file per (upstream task × bucket), so probe-side scans pay a file
    // stack that silently tracks the build's task layout; one exchange
    // of signature-sized rows buys exactly one file per bucket at every
    // corpus scale.
    val sig = sig0.persist()
    val keysBn = keysBn0.persist()
    try {
      val kept = keysBn.filter(col("bn") <= cap)
      for (t <- Seq("_sig", "_keys", "_counts"))
        graft.Engine.reclaimManagedTable(s, tablePrefix + t)
      sig.repartition(buckets, col("doc_id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "doc_id").sortBy("doc_id")
        .saveAsTable(s"${tablePrefix}_sig")
      kept.drop("bn").repartition(buckets, col("band"), col("bh"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "band", "bh")
        .saveAsTable(s"${tablePrefix}_keys")
      // per-bucket counts, bucketed like the keys so the probe-side joint
      // bound joins exchange-free on the index side. TRUE totals for ALL
      // buckets — including over-cap ones whose keys were dropped: the
      // probe's `bn + n <= cap` filter drops those identically whether
      // the row is absent or carries n > cap (verdict-neutral), and
      // [[appendMinhashIndexBucketed]] NEEDS the true total to decide
      // whether a bucket's union membership still admits new keys — a
      // missing row would be indistinguishable from a never-seen bucket.
      keysBn.select(col("band"), col("bh"), col("bn").as("n")).distinct()
        .repartition(buckets, col("band"), col("bh"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "band", "bh")
        .saveAsTable(s"${tablePrefix}_counts")
    } finally {
      sig.unpersist(blocking = false)
      keysBn.unpersist(blocking = false)
      ()
    }
  }

  /** Fold a NEW crawl into the persisted bucketed minhash index — the
    * text twin of Multimodal.appendPhashIndex, closing the one index
    * family that still required a full rebuild per crawl. Three moves:
    *
    *  - signatures append into `_sig`'s bucketing (all increment docs —
    *    future candidate verification needs every sig);
    *  - band keys append into `_keys`' bucketing ONLY for buckets whose
    *    UNION membership (index true total + increment count) stays
    *    within the cap. A bucket already over cap — or pushed over by
    *    this crawl — receives no new keys: any future probe's joint
    *    bound `bn + n <= cap` reads the merged true total and drops the
    *    bucket entirely, so the skipped rows could never produce a
    *    candidate (DedupSpec pins probe-verdict equality against a
    *    union REBUILD, where those keys are absent by construction).
    *    Keys written before a bucket crossed the cap remain on disk as
    *    verdict-neutral dead weight — the compaction rewrite is the
    *    place that could reclaim them;
    *  - `_counts` merges to ONE true-total row per bucket via a staging
    *    swap under the same bucket spec (the compactBucketedTable
    *    pattern): counts stay exchange-free on the probe's join and a
    *    reader never sees partial rows mid-append.
    *
    * Existing `_sig`/`_keys` files are never rewritten (the probe
    * regimes' no-index-exchange topology is untouched); the counts
    * rewrite is O(distinct buckets) — the price of an exact joint bound
    * without adding a probe-time aggregation. Caller contract: `docs`
    * (doc_id, text) are not already indexed. */
  def appendMinhashIndexBucketed(docs: DataFrame, tablePrefix: String,
      cap: Long = hotBucketCap): Unit = {
    val s = docs.sparkSession
    graft.Engine.withWriteIntent(s, tablePrefix, "minhash-append") {
    val (sig, keysBn) = md5SigKeysCounted(
      docs.select(col("doc_id"), split(col("text"), " ").as("ws")))
    val kb = keysBn.persist()
    try {
      sig.write.mode("append").format("parquet")
        .bucketBy(bucketsOf(s, s"${tablePrefix}_sig"), "doc_id").sortBy("doc_id")
        .saveAsTable(s"${tablePrefix}_sig")
      val incCounts = kb.select(col("band"), col("bh"), col("bn")).distinct()
      val oldCounts = s.table(s"${tablePrefix}_counts")
      val ok = incCounts.join(oldCounts, Seq("band", "bh"), "left")
        .filter(col("bn") + coalesce(col("n"), lit(0L)) <= cap)
        .select("band", "bh")
      kb.join(ok, Seq("band", "bh"), "left_semi").drop("bn")
        .write.mode("append").format("parquet")
        .bucketBy(bucketsOf(s, s"${tablePrefix}_keys"), "band", "bh")
        .saveAsTable(s"${tablePrefix}_keys")
      val merged = oldCounts
        .unionByName(incCounts.select(col("band"), col("bh"), col("bn").as("n")))
        .groupBy("band", "bh").agg(sum("n").as("n"))
      swapCountsTable(s, tablePrefix, merged)
    } finally kb.unpersist(blocking = false)
    }
  }

  private def bucketsOf(s: SparkSession, t: String): Int = s.sessionState.catalog
    .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
    .bucketSpec.map(_.numBuckets)
    .getOrElse(throw new IllegalStateException(
      s"$t is not bucketed — not a minhash serving index"))

  /** Staging swap of `{prefix}_counts` under its own bucket spec — the
    * compactBucketedTable rename pattern: the heavy merge lands in a
    * staging table while the live counts keep serving, then one
    * DROP+RENAME flips it. A reader never sees partial rows mid-merge;
    * the swap window itself is the single-writer contract every swap
    * in this engine shares (now enforced by the callers' write-intent
    * guard). */
  private[queries] def swapCountsTable(s: SparkSession, tablePrefix: String,
      counts: DataFrame): Unit = {
    val staging = s"${tablePrefix}_counts__merge"
    graft.Engine.reclaimManagedTable(s, staging)
    counts.write.mode("overwrite").format("parquet")
      .bucketBy(bucketsOf(s, s"${tablePrefix}_counts"), "band", "bh")
      .saveAsTable(staging)
    graft.Engine.reclaimManagedTable(s, s"${tablePrefix}_counts")
    s.sql(s"ALTER TABLE `$staging` RENAME TO `${tablePrefix}_counts`")
    // the rename moved a fresh directory onto the live counts path; in
    // a maintained-ingest stream this runs on a CLONED session every
    // micro-batch, so sibling sessions (the parent, concurrent probes)
    // must drop their pre-swap file listing or chase deleted files
    graft.Engine.refreshTableEverywhere(s, s"${tablePrefix}_counts")
  }

  /** PHYSICAL reclaim of the bucketed minhash family — the compaction
    * rewrite the file-hygiene audit was already going to pay, extended
    * to also shed the two kinds of verdict-dead rows the append path
    * leaves on disk:
    *
    *  - TOMBSTONED rows (Takedown ledger): dropped from `_keys` and
    *    `_sig` via the broadcast anti-join riding the rewrite's scan;
    *    `_counts` is adjusted by RECOUNTING each at-or-under-cap
    *    bucket directly from the post-exclusion `_keys` (complete by
    *    construction for under-cap buckets: keys stop being written
    *    once a bucket crosses the cap). Recounting — not subtracting
    *    the tombstoned contributions — makes the adjustment IDEMPOTENT:
    *    a retry after a mid-verb failure (the foreachBatch re-run case)
    *    lands on the same totals whether or not the previous attempt
    *    already swapped counts or already compacted keys, where the old
    *    subtraction would double-subtract and silently re-admit buckets
    *    with incomplete key sets. The recount is a bucketed-key
    *    aggregate joined back to the bucketed counts — both ride the
    *    family's (band, bh) bucketing, no exchange. An over-cap bucket
    *    keeps its over-true total and stays retired even if takedowns
    *    would arithmetically bring it back under: its keys are already
    *    partial (possibly shed entirely by an earlier reclaim), so
    *    re-admitting it would serve a bucket a rebuild would serve
    *    completely — conservative recall, never a false candidate; a
    *    full rebuild restores such buckets.
    *  - OVER-CAP DEAD KEYS: `_keys` rows of buckets whose true total
    *    exceeds the cap (written before the bucket crossed it). The
    *    probe's joint bound `bn + n <= cap` drops those buckets
    *    wholesale, so their rows can never produce a candidate — pure
    *    file mass. The over-cap bucket set (post-adjustment counts,
    *    `n > cap`) broadcasts into the rewrite as an anti-join.
    *
    * Probe verdicts are invariant across this reclaim (DedupSpec pins
    * equality on a planted over-cap corpus and a tombstoned one); the
    * ledger clears only after every table of the family swapped. The
    * recount reads the live keys THROUGH the exclusion anti-join, so
    * it computes the same totals before or after the keys rewrite —
    * the verb converges from any interruption point. */
  def reclaimMinhashIndex(s: SparkSession, tablePrefix: String,
      cap: Long = hotBucketCap): Unit =
    graft.Engine.withWriteIntent(s, tablePrefix, "minhash-reclaim", holdOnFailure = true) {
      val pending = graft.Takedown.pending(s, tablePrefix)
      if (pending) swapCountsTable(s, tablePrefix, reclaimedCounts(s, tablePrefix, cap))
      // over-cap set from the POST-adjustment counts: a bucket whose
      // total stays above cap after takedown subtraction sheds ALL its
      // keys (retired bucket — the joint bound never admits it)
      val overCap = s.table(s"${tablePrefix}_counts")
        .filter(col("n") > cap).select("band", "bh")
      graft.Engine.compactBucketedTable(s, s"${tablePrefix}_keys", df =>
        graft.Takedown.excluding(df, tablePrefix, "doc_id")
          .join(broadcast(overCap), Seq("band", "bh"), "left_anti"))
      graft.Engine.compactBucketedTable(s, s"${tablePrefix}_sig", df =>
        graft.Takedown.excluding(df, tablePrefix, "doc_id"))
      if (pending) graft.Takedown.clear(s, tablePrefix)
    }

  /** The idempotent takedown adjustment of the minhash `_counts` table:
    * at-or-under-cap buckets are RECOUNTED from the post-exclusion live
    * keys (the value is the same whether a previous interrupted attempt
    * already swapped counts or already compacted keys — DedupSpec pins
    * the double-application fixpoint); over-cap buckets keep their
    * over-true totals (keys partial, bucket stays retired). Exposed for
    * the spec; callers go through [[reclaimMinhashIndex]]. */
  private[queries] def reclaimedCounts(s: SparkSession, tablePrefix: String,
      cap: Long = hotBucketCap): DataFrame = {
    val live = graft.Takedown
      .excluding(s.table(s"${tablePrefix}_keys"), tablePrefix, "doc_id")
      .groupBy("band", "bh").agg(count(lit(1)).as("ln"))
    s.table(s"${tablePrefix}_counts")
      .join(live, Seq("band", "bh"), "left")
      .select(col("band"), col("bh"),
        when(col("n") <= cap, coalesce(col("ln"), lit(0L)))
          .otherwise(col("n")).as("n"))
      .filter(col("n") > 0)
  }

  /** Incremental dedup of a NEW batch (documents of corpus `d` matching
    * `batchFilter`) against a PERSISTED index written by
    * [[writeMinhashIndex]] — same verdict schema as x_dedup_incremental.
    * Scale shape: only the increment is shingled and hashed; its band
    * keys, candidate pairs and signatures all BROADCAST against the
    * index parquet, so the index side is two pure scans with no shuffle
    * exchange anywhere above them (PlanQualitySpec pins it) — the index
    * never reshuffles no matter how large history grows, and the only
    * shuffled rows are increment-proportional (candidates + verdicts).
    *
    * CONTRACT — increment size: the broadcast hints are the daily-crawl
    * shape (increment ≪ history) and hit Spark's 8 GB broadcast
    * hard-stop near ~10⁷ increment docs; failure is loud, not silent.
    * Backfill-sized increments go through
    * [[incrementalDupsAgainstBucketedIndex]], which trades the
    * broadcasts for one increment-side shuffle into the index's buckets.
    *
    * CONTRACT — recall bound: SAME joint bound as the in-corpus split
    * (x_dedup_incremental / [[md5IncrementalDups]]): a bucket is dropped
    * iff its index members + increment members exceed [[hotBucketCap]],
    * reconstructed at probe time from the index's persisted counts (see
    * [[incrementalVerdicts]]). DedupSpec pins all three paths to
    * identical verdicts on a planted over-cap bucket. */
  def incrementalDupsAgainstIndex(s: SparkSession, d: String,
      indexPath: String, batchFilter: Column, cap: Long = hotBucketCap): DataFrame =
    incrementalDupsOf(table(s, d, "documents").filter(batchFilter), indexPath, cap)

  /** [[incrementalDupsAgainstIndex]] over an arbitrary `(doc_id, text)`
    * batch — the entry a STREAMING micro-batch uses
    * (Streams.incrementalDedup): verdicts are per-doc functions of
    * (doc, index) alone, so micro-batch boundaries cannot change them. */
  def incrementalDupsOf(batch: DataFrame, indexPath: String,
      cap: Long = hotBucketCap): DataFrame = {
    val s = batch.sparkSession
    val (bsig, bkeysBn) = md5SigKeysCounted(
      batch.select(col("doc_id"), split(col("text"), " ").as("ws")))
    incrementalVerdicts(
      graft.Engine.parquet(s, s"$indexPath/minhash_keys.parquet"),
      graft.Engine.parquet(s, s"$indexPath/minhash_sig.parquet"),
      graft.Engine.parquet(s, s"$indexPath/minhash_keycounts.parquet"),
      bkeysBn, bsig, broadcastIncrement = true, cap)
  }

  /** Bucketed-index twin of [[incrementalDupsAgainstIndex]]: same
    * verdicts (DedupSpec pins equality with the broadcast path), but
    * the joins are shuffle joins whose index side is satisfied by the
    * tables' bucketing — no index exchange, no broadcast ceiling; only
    * the increment shuffles (PlanQualitySpec pins the topology). */
  def incrementalDupsAgainstBucketedIndex(s: SparkSession, d: String,
      tablePrefix: String, batchFilter: Column, cap: Long = hotBucketCap): DataFrame =
    incrementalDupsAgainstBucketedIndexOf(
      table(s, d, "documents").filter(batchFilter).select(col("doc_id"), col("text")),
      tablePrefix, cap)

  /** [[incrementalDupsAgainstBucketedIndex]] over an arbitrary
    * `(doc_id, text)` batch — the entry a STREAMING micro-batch uses
    * (Streams.minhashIngestMaintained), where there is no corpus dir to
    * filter. Verdicts are per-doc functions of (doc, index), so batch
    * boundaries cannot change them. */
  def incrementalDupsAgainstBucketedIndexOf(batch: DataFrame,
      tablePrefix: String, cap: Long = hotBucketCap): DataFrame = {
    val s = batch.sparkSession
    val (bsig, bkeysBn) = md5SigKeysCounted(
      batch.select(col("doc_id"), split(col("text"), " ").as("ws")))
    // logical takedown: tombstoned docs must not surface as history
    // dup_ids. Excluding the KEYS relation alone is exactly sufficient —
    // every candidate's history id comes from a keys row, so no
    // tombstoned id can reach the signature-verify join (whose extra
    // sig rows are then unreachable); the ledger broadcasts, the index
    // side keeps its bucketing, and with no ledger the plan is
    // byte-identical (excluding is a pass-through). Counts stay
    // un-excluded: a tombstone can only leave them over-true, which the
    // joint bound reads conservatively (drops MORE buckets, never
    // creates a candidate) until reclaimMinhashIndex subtracts.
    incrementalVerdicts(
      graft.Takedown.excluding(s.table(s"${tablePrefix}_keys"), tablePrefix, "doc_id"),
      s.table(s"${tablePrefix}_sig"),
      s.table(s"${tablePrefix}_counts"),
      bkeysBn, bsig, broadcastIncrement = false, cap)
  }

  /** The shared index-probe plan: the JOINT hot-bucket bound, then
    * candidates from the band-key equi-join, signature verification and
    * the per-new-doc verdict rollup. `broadcastIncrement` picks the
    * daily-crawl shape (increment-side broadcasts, index exchange-free)
    * vs the backfill shape (shuffle joins that the index's bucketing
    * satisfies without an exchange).
    *
    * The joint bound: the increment's keys arrive UNCAPPED with their
    * own bucket counts (`bn`); joining them against the index's
    * persisted counts (`icounts`: band, bh, n) and keeping
    * bn + n ≤ cap reproduces exactly the in-corpus split's joint-table
    * cap — total bucket membership across both sides. An increment key
    * in a bucket the index doesn't know (no icounts row) can produce no
    * candidates anyway, so the inner join dropping it is verdict-
    * neutral; an index bucket that was over-cap ALONE was already
    * dropped at write time, which the joint bound subsumes. The join is
    * increment-sized against the (possibly huge) counts relation — in
    * the broadcast regime the increment side broadcasts, in the
    * bucketed regime `icounts` rides the same (band, bh) bucketing as
    * the keys, so the index side stays exchange-free in both. */
  private def incrementalVerdicts(ikeys: DataFrame, isig: DataFrame,
      icounts: DataFrame, bkeysBn: DataFrame, bsig: DataFrame,
      broadcastIncrement: Boolean, cap: Long): DataFrame = {
    val hint: DataFrame => DataFrame = if (broadcastIncrement) broadcast else identity
    val bkeys = icounts
      .join(hint(bkeysBn), Seq("band", "bh"))
      .filter(col("bn") + col("n") <= cap)
      .select(col("doc_id"), col("band"), col("bh"))
    val cand = ikeys.as("a")
      .join(hint(bkeys.as("b")),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    newDocDupSummary(estimatedPairs(hint(cand), isig, hint(bsig)))
  }

  /** Default Jaccard cut for the GATE corpora — calibrated so the gate
    * output is non-empty at both driver scales (sf0.01's doc_id<60
    * slice tops out near j≈0.02; a production 0.2 cut would gate
    * empty-vs-empty). A real user supplies their own `minJ`; this value
    * is the calibration default, not part of the operator's semantics
    * (the targetShards pattern). The oracle SQL interpolates the SAME
    * constant, so gate and oracle can never drift apart. */
  val NgramGateMinJ = 0.015

  /** Near-dup edge discovery shared by the pair query and the clustering
    * operators: 3-shingle Jaccard pairs (da < db, with `j`) at ≥ `minJ`.
    * Callers needing only the edge set project (da, db). */
  private[queries] def jaccardPairs(s: SparkSession, d: String, limit: Column,
      minJ: Double = 0.2): DataFrame = {
    val sh = shingles(s, d, limit)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
      .join(sz.as("sa"), col("da") === col("sa.doc_id"))
      .join(sz.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"),
        (col("i").cast("double") / (col("sa.n") + col("sb.n") - col("i"))).as("j"))
      .filter(col("j") >= minJ)
  }

  /** Connected components by min-label propagation to fixpoint: one
    * key-equi join + groupBy per round (the Pregel shape), lineage
    * truncated per step. O(component diameter) rounds — kept as the
    * reference algorithm for the round-count comparison in DedupSpec.
    * Returns (labels, rounds). */
  private[queries] def propagateClusters(docs: DataFrame, pairs: DataFrame): (DataFrame, Int) = {
    val edges = graft.Engine.materialize(
      pairs.select(col("da").as("ea"), col("db").as("eb"))
        .unionAll(pairs.select(col("db").as("ea"), col("da").as("eb"))))
    var labels = graft.Engine.materialize(
      docs.select(col("doc_id"), col("doc_id").as("cluster")))
    var rounds = 0
    var converged = false
    while (!converged) {
      rounds += 1
      val nbrMin = edges.join(labels, edges("eb") === labels("doc_id"))
        .groupBy(col("ea")).agg(min("cluster").as("nmin"))
      val next = graft.Engine.materialize(labels.as("l")
        .join(nbrMin, col("l.doc_id") === nbrMin("ea"), "left")
        .select(col("l.doc_id").as("doc_id"),
          least(col("l.cluster"), coalesce(col("nmin"), col("l.cluster"))).as("cluster")))
      val changed = next.as("x").join(labels.as("y"), Seq("doc_id"))
        .filter(col("x.cluster") =!= col("y.cluster")).count()
      graft.Engine.release(labels)
      labels = next
      converged = changed == 0
    }
    graft.Engine.release(edges)
    (labels.orderBy("doc_id"), rounds)
  }

  /** Connected components by alternating large-star/small-star (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14):
    * each round is two groupBy+join passes over the edge list, and the
    * edge set converges to per-component stars rooted at the minimum
    * node in O(log² n) rounds — on a length-L duplicate chain this is
    * ~log L rounds where propagation needs L. Same output contract:
    * every doc labeled with the min doc_id reachable over near-dup
    * edges, singletons labeling themselves. Returns (labels, rounds). */
  private[queries] def starClusters(docs: DataFrame, pairs: DataFrame): (DataFrame, Int) = {
    // edges kept oriented hi > lo (pairs arrive as da < db)
    var edges = graft.Engine.materialize(
      pairs.select(col("db").as("hi"), col("da").as("lo")).distinct())
    // fixpoint detection: both sides are DISTINCT edge sets, so equal
    // (count, xor-of-per-edge-hash) fingerprints mean set equality up to
    // a 2^-64-scale hash collision — ONE cheap aggregate per round
    // instead of a count plus an anti-join, which at bench scale halves
    // the per-round job count (the oracle hash-gate would catch a
    // collision-induced early stop; bit_xor cannot overflow under ANSI)
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(hi, lo))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var fp = fingerprint(edges)
    var rounds = 0
    var converged = fp._1 == 0L
    while (!converged) {
      rounds += 1
      val next = graft.Engine.materialize(smallStar(largeStar(edges)))
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      graft.Engine.release(edges)
      edges = next
    }
    // Label-join strategy picked from EXACT driver-side stats (guide
    // §3.1): the materialized edge relation carries no plan statistics
    // (ExistingRDD), so Catalyst would always sort-merge here — a
    // needless sort-exchange when the converged star set is small (the
    // image/asset graphs, the gate corpora). The fixpoint fingerprint
    // already counted the converged edges for free: when their 16-byte
    // pair rows fit the session's broadcast threshold, broadcast them; a
    // corpus-scale dup graph (billions of members) keeps the shuffle path.
    val stars = edges.withColumnRenamed("hi", "doc_id")
    val starsHinted =
      if (broadcastsEdges(fp._1, docs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold)) broadcast(stars)
      else stars
    val lbl = docs.join(starsHinted, Seq("doc_id"), "left")
      .groupBy("doc_id").agg(min("lo").as("mn"))
      .select(col("doc_id"), coalesce(col("mn"), col("doc_id")).as("cluster"))
    (lbl.orderBy("doc_id"), rounds)
  }

  /** Does a relation of `rows` 16-byte edge rows fit
    * `spark.sql.autoBroadcastJoinThreshold` (`threshold` bytes; -1
    * disables broadcasting)? */
  private[queries] def broadcastsEdges(rows: Long, threshold: Long): Boolean =
    threshold >= 0 && rows <= threshold / 16

  /** Large-star: every node u connects its LARGER neighbors to the
    * minimum of its neighborhood (incl. itself) — long chains halve.
    * NO trailing distinct (removed, round 20): [[smallStar]] consumes
    * this relation through duplicate-insensitive operators only — its
    * min-aggregate ignores multiplicity and its own trailing distinct
    * restores set semantics — so the round function on distinct edge
    * sets is unchanged while each fixpoint round drops one full
    * edge-relation Exchange + aggregate. Duplicate volume is bounded,
    * skew-independently: the pre-distinct output is exactly one row per
    * input edge (each (hi,lo) survives the v > u filter once), so
    * smallStar's intermediates see at most |E| + |distinct hi| rows —
    * a ≤ 2× row inflation over the deduplicated form, never quadratic,
    * regardless of hub degree (measured on planted hub/chain graphs in
    * StarSkewBench). */
  private[queries] def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.select(col("hi").as("u"), col("lo").as("v"))
      .unionAll(e.select(col("lo").as("u"), col("hi").as("v")))
    val mins = nbrs.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    nbrs.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("hi"), col("m").as("lo"))
  }

  /** Small-star: every node connects its SMALLER neighbors (and itself)
    * to the minimum among them — stars flatten onto their root. */
  private[queries] def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("hi").agg(min("lo").as("m"))
    e.join(mins, "hi")
      .select(col("lo").as("u"), col("m"))
      .unionAll(mins.select(col("hi").as("u"), col("m")))
      .filter(col("u") =!= col("m"))
      .select(greatest(col("u"), col("m")).as("hi"), least(col("u"), col("m")).as("lo"))
      .distinct()
  }

  /** Shared DuckDB WITH-body: the md5-family MinHash pipeline through the
    * per-candidate similarity estimate (`est(da, db, est_j)`). */
  private[queries] def md5MinhashCte: String = {
    val mins = (0 until 16).map(p =>
      s"min((h * ${2 * p + 1} + ${p * p + 7}) % 1000000007) AS m$p")
      .mkString(",\n        |         ")
    val bands = (0 until 4).map { b =>
      val cs = (0 until 4).map(r => s"m${b * 4 + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('|', $cs)) AS bh FROM sig"
    }.mkString("\n        |       UNION ALL ")
    val eq = (0 until 16).map(p => s"(CASE WHEN sa.m$p = sb.m$p THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
      |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |         generate_series(1, greatest(len(ws) - 2, 0)),
      |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) s FROM t),
      |sh AS (SELECT doc_id,
      |         (('0x' || substr(md5(s), 1, 15))::BIGINT % 1000000007) AS h FROM sh0),
      |sig AS (SELECT doc_id,
      |         $mins
      |       FROM sh GROUP BY doc_id),
      |keys AS ($bands),
      |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM keys a
      |         JOIN keys b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |est AS (SELECT da, db, CAST($eq AS DOUBLE) / 16 AS est_j
      |        FROM cand JOIN sig sa ON sa.doc_id = da JOIN sig sb ON sb.doc_id = db)""".stripMargin
  }

  /** DuckDB CTE chain computing the md5-portable 60-bit SimHash signature
    * `sig(doc_id, sh)` — the oracle twin of [[md5SimhashSig]]. `where`
    * restricts the corpus (e.g. "WHERE doc_id < 200"), empty for all. */
  private def md5SimhashSigCtes(where: String): String = {
    val sums = (0 until 60).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS c$b")
      .mkString(",\n        |         ")
    val sig = (0 until 60).map(b =>
      s"(CASE WHEN c$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString("\n        |       + ")
    s"""t AS (SELECT doc_id, unnest(string_split(text, ' ')) w
      |          FROM documents $where),
      |hh AS (SELECT doc_id,
      |         ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM t),
      |cs AS (SELECT doc_id,
      |         $sums
      |       FROM hh GROUP BY doc_id),
      |sig AS (SELECT doc_id,
      |         $sig AS sh
      |       FROM cs)""".stripMargin
  }

  /** Gram width of the exact-substring operators (x_dedup_substring_spans,
    * x_dedup_rewrite, the persisted gram index). */
  private val GramK = 8

  /** (doc_id, pos, h) — the md5long60 hashes of every [[GramK]]-word
    * gram of a `(doc_id, text)` relation. One narrow generator fan-out
    * over the scan; shared by the corpus rewrite and the index paths so
    * the hash definition cannot drift between them. */
  private[queries] def gramStream(docs: DataFrame): DataFrame = {
    graft.functions.Md5Long60.register(docs.sparkSession)
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= GramK)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(ws) - ${GramK - 1}), i -> concat_ws(' ', slice(ws, i, $GramK)))")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        expr("md5long60(col)").as("h"))
  }

  /** Reassemble `(doc_id, n_removed, text_clean)` from a `(doc_id, pos)`
    * dup-gram-START relation over `docs` — the cut is IN-ROW interval
    * arithmetic, not a position-level join. The starts aggregate to one
    * sorted array per affected doc (collect_set: map-side-combined, and
    * it dedups hits that arrive from several sources — e.g. a gram both
    * in the history index and duplicated within the increment). Each
    * affected doc then pays a single linear pass: the sorted starts fold
    * into merged covered intervals [p, p+K-1], `n_removed` is the sum of
    * interval lengths, and the kept text is the concatenation of the GAP
    * slices between intervals — O(words) per doc, no per-word membership
    * probe, no explode. Untouched docs (left-join miss) pass their text
    * through byte-identical without even paying the split. This replaced
    * an explode-coverage + posexplode-words + anti-join + sort-agg plan
    * whose bytes failed the SCALE_r14 audit (52 GB spill at 256×). */
  private def rewriteWithDupStarts(docs: DataFrame, hits: DataFrame): DataFrame = {
    val k = GramK
    val starts = hits.groupBy("doc_id")
      .agg(sort_array(collect_set(col("pos"))).as("starts"))
    docs.join(starts, Seq("doc_id"), "left")
      // merged covered intervals: fold the sorted starts left-to-right,
      // extending the last interval when the next gram overlaps or abuts
      // it (p <= last.e + 1; `e` is monotone because starts are sorted)
      .withColumn("ivs", expr(
        s"""CASE WHEN starts IS NULL THEN NULL ELSE
           |  aggregate(starts, CAST(array() AS array<struct<s: bigint, e: bigint>>),
           |    (acc, p) -> CASE
           |      WHEN size(acc) > 0 AND p <= element_at(acc, -1).e + 1
           |      THEN concat(slice(acc, 1, size(acc) - 1),
           |             array(named_struct('s', element_at(acc, -1).s, 'e', p + ${k - 1})))
           |      ELSE concat(acc, array(named_struct('s', p, 'e', p + ${k - 1}))) END)
           |END""".stripMargin))
      // affected docs only pay the split (CaseWhen short-circuits per row)
      .withColumn("ws", expr("CASE WHEN ivs IS NULL THEN NULL ELSE split(text, ' ') END"))
      .select(col("doc_id"),
        expr("""CASE WHEN ivs IS NULL THEN CAST(0 AS BIGINT)
               |ELSE aggregate(ivs, CAST(0 AS BIGINT), (a, v) -> a + v.e - v.s + 1)
               |END""".stripMargin).as("n_removed"),
        // kept text = the GAP slices between covered intervals, joined in
        // order: gap starts are (0, e_i + 1), gap ends are (s_i - 1, n-1);
        // empty/negative gaps collapse to empty slices
        expr("""CASE WHEN ivs IS NULL THEN text
               |ELSE array_join(flatten(zip_with(
               |  concat(array(CAST(0 AS BIGINT)), transform(ivs, v -> v.e + 1)),
               |  concat(transform(ivs, v -> v.s - 1),
               |         array(CAST(size(ws) - 1 AS BIGINT))),
               |  (a, b) -> CASE WHEN b >= a
               |    THEN slice(ws, CAST(a + 1 AS INT), CAST(b - a + 1 AS INT))
               |    ELSE CAST(array() AS array<string>) END)), ' ')
               |END""".stripMargin).as("text_clean"))
  }

  /** Persist the exact-substring gram index: the corpus's DISTINCT
    * 8-gram hashes as `{prefix}_grams`, bucketed+sorted on `h`. The
    * cheapest serving index in the shop — 8 bytes per distinct gram, no
    * positions, no doc ids — because increment rewriting only needs
    * MEMBERSHIP: any index hit is a cross-document duplicate under the
    * disjoint-id contract (see [[rewriteAgainstGramIndex]]). Probe joins
    * are key-equi on `h` and the index side rides its bucketing — never
    * an exchange, however large history grows. */
  def writeGramIndex(s: SparkSession, d: String, tablePrefix: String,
      buckets: Int = 0, docFilter: Column = lit(true)): Unit = {
    // same build shape as the counted sibling (see gramDfDeltas): the
    // per-doc dedup runs in-row, the global distinct aggregates AFTER
    // the bucket-aligned exchange (a map-side partial distinct over the
    // 8-gram fan-out holds near-all-unique keys and falls back to
    // sorting its whole input), and the bucket count derives from the
    // corpus's byte mass — one file per bucket, sorts in-grant at any
    // scale. Identical hash set: per-doc-distinct then global-distinct
    // is global-distinct.
    val b = if (buckets > 0) buckets else gramBuckets(s, d)
    graft.Engine.reclaimManagedTable(s, s"${tablePrefix}_grams")
    perDocDistinctGrams(table(s, d, "documents").filter(docFilter)
        .select(col("doc_id"), col("text")))
      .repartition(b, col("h"))
      .distinct()
      .write.mode("overwrite").format("parquet")
      .bucketBy(b, "h").sortBy("h")
      .saveAsTable(s"${tablePrefix}_grams")
  }

  /** Fold an increment's grams into the persisted index: the NEW distinct
    * hashes (anti-joined against the index, key-equi, exchange-free on
    * the index side) append INTO the existing bucket spec — existing
    * files are never rewritten. After the append, the index equals a
    * full rebuild over the union corpus bit-for-bit (DedupSpec pins it):
    * unlike the ANN fits there is no drift contract, because the index
    * IS the exact distinct-hash set. */
  def appendGramIndex(docs: DataFrame, tablePrefix: String): Unit = {
    val s = docs.sparkSession
    val buckets = s.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${tablePrefix}_grams"))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalStateException(
        s"${tablePrefix}_grams is not bucketed — not a gram index"))
    gramStream(docs).select("h").distinct()
      .join(s.table(s"${tablePrefix}_grams"), Seq("h"), "left_anti")
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "h").sortBy("h")
      .saveAsTable(s"${tablePrefix}_grams")
  }

  /** Rewrite an increment against the persisted gram index — the
    * daily-crawl form of `x_dedup_rewrite`: a gram is cut when its hash
    * is IN THE INDEX (a history cross-document duplicate, since ids are
    * disjoint across crawls) or duplicated ACROSS the increment itself.
    * That is exactly the gram set the full-corpus rewrite would cut for
    * these documents, so increment verdicts equal a full rebuild
    * restricted to the increment — provably, not approximately
    * (DedupSpec pins the equality). History documents are immutable by
    * contract (rewriting them would require the reverse probe); only the
    * increment is gram-hashed, and the only corpus-scale operand — the
    * index — is read with its bucketing, no exchange. */
  def rewriteAgainstGramIndex(docs: DataFrame, tablePrefix: String): DataFrame = {
    val s = docs.sparkSession
    val grams = gramStream(docs)
    val inIndex = grams.join(s.table(s"${tablePrefix}_grams"), Seq("h"), "left_semi")
    val dupInBatch = grams.groupBy("h")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .filter(col("mn") =!= col("mx")).select("h")
    val inBatch = grams.join(dupInBatch, Seq("h"))
    rewriteWithDupStarts(docs,
      inIndex.select("doc_id", "pos").unionByName(inBatch.select("doc_id", "pos")))
  }

  /** Takedown for the gram index IS a rebuild — stated honestly rather
    * than faked: the index stores DISTINCT hashes with no provenance
    * (its 8-bytes-per-gram cost is exactly what a takedown-capable
    * variant gives up), so a tombstoned doc's grams cannot be removed
    * in place — a gram it contributed may also belong to a live doc,
    * and membership rows carry no df to tell. This verb packages the
    * honest path as one call: re-derive the gram set from the live
    * corpus relation with the tombstoned docs anti-joined out, land it
    * in a staging table under the same bucket spec (the live index
    * keeps serving through the rebuild), swap, and clear the ledger.
    * Unlike the five id-carrying families this pays O(corpus), not
    * O(amortized-zero) — callers batch takedowns and run it on the
    * compaction cadence. `docs`: the full live corpus (doc_id, text). */
  /** PROVENANCE-CARRYING gram index — the takedown-capable sibling of
    * [[writeGramIndex]] (which trades provenance away for 8 bytes/gram
    * and honestly rebuilds on reclaim). This variant stores per-gram
    * DOC-FREQUENCY DELTAS as an append-only ledger table
    * `{prefix}_gramdf` (h, df), bucketed+sorted on h: the live
    * membership set is `sum(df) > 0` per hash — an exchange-free
    * aggregate, since grouping on the bucket column is satisfied by the
    * bucketing at any index scale. Every lifecycle verb is an APPEND:
    *  - build/append land each doc's +1 per distinct gram (pre-summed
    *    per increment);
    *  - takedown ([[reclaimGramIndexCounted]]) appends -1 deltas for
    *    the tombstoned docs' distinct grams — O(tombstoned docs), not
    *    O(corpus), and EXISTING FILES ARE NEVER TOUCHED — closing the
    *    one asymmetric cell in the seven-family takedown matrix;
    *  - [[compactGramIndexCounted]] collapses the delta ledger on the
    *    compaction cadence (the same amortization bargain as every
    *    bucketed family).
    * A gram shared by a tombstoned and a live doc survives takedown
    * with df decremented, exactly as a rebuild-without-the-doc would
    * keep it — DedupSpec pins takedown == rebuild equality. */
  /** Bucket count for a counted gram index, derived from the corpus's
    * METADATA-ONLY text byte mass (the Curation.targetShards pattern —
    * parquet footer statistics, zero scans): ~1 bucket per 4 MB of raw
    * text ≈ ~400k gram rows ≈ ~15 MB of per-task aggregate/sort state,
    * which stays inside a task's fair share even at full local[32]
    * concurrency (the first gram_* sweep measured a fixed 32 buckets at
    * ~3M-row buckets — GBs of build/compaction spill at the 256×
    * octave; 12 MB/bucket still spilled ~1 GB under 32 concurrent
    * tasks). Floor 32 keeps gate corpora on the oracle-stable layout;
    * the 4096 cap is the local bound — a cluster submit passes an
    * explicit count sized to its executor memory. */
  private[queries] def gramBuckets(s: SparkSession, d: String): Int =
    math.min(4096L, math.max(32L,
      Curation.textBytes(s, d) / (4L << 20) + 1L)).toInt

  def writeGramIndexCounted(s: SparkSession, d: String, tablePrefix: String,
      buckets: Int = 0, docFilter: Column = lit(true)): Unit = {
    val b = if (buckets > 0) buckets else gramBuckets(s, d)
    graft.Engine.reclaimManagedTable(s, s"${tablePrefix}_gramdf")
    gramDfDeltas(table(s, d, "documents").filter(docFilter)
        .select(col("doc_id"), col("text")), sign = 1L, b)
      .write.mode("overwrite").format("parquet")
      .bucketBy(b, "h").sortBy("h")
      .saveAsTable(s"${tablePrefix}_gramdf")
  }

  /** One increment's per-gram doc-frequency deltas: ±1 per (gram,
    * distinct doc), pre-summed per gram so an increment appends at most
    * one row per distinct hash it touches.
    *
    * The per-doc dedup is IN-ROW (`array_distinct` over the doc's gram
    * hashes), not a corpus-wide `distinct()` on (h, doc_id): the
    * relational distinct's map-side partial aggregate holds every
    * exploded (gram, doc) pair of its scan split — the 8-gram fan-out
    * hands one task ~100× its input bytes and the hash state falls to
    * the sort-based path (measured: 4.8 GB of build spill at 256× on
    * the first gram_index_build sweep). In-row, each doc dedups its own
    * ≤words-per-doc grams in O(grams) heap, the explode emits already-
    * unique pairs, and the count aggregates AFTER the bucket-aligned
    * exchange — a map-side partial aggregate over the raw explode would
    * hold near-all-unique keys (the fan-out hands one task ~100× its
    * input bytes) and fall back to externally sorting its whole input;
    * shuffled first, each task aggregates exactly one bucket's ~400k
    * hashes in a ~15 MB map, and the very same partitioning feeds the
    * bucketed write (one file per bucket, no second exchange). Same
    * values by construction: df = number of docs containing the gram. */
  private def gramDfDeltas(docs: DataFrame, sign: Long, buckets: Int): DataFrame =
    perDocDistinctGrams(docs)
      .repartition(buckets, col("h"))
      .groupBy("h").agg((count(lit(1)) * lit(sign)).as("df"))

  /** Each doc's DISTINCT gram hashes, deduped in-row and exploded —
    * one (h) row per (gram, doc); the shared head of both index
    * builders. Same hashes as [[gramStream]] by construction. */
  private def perDocDistinctGrams(docs: DataFrame): DataFrame = {
    graft.functions.Md5Long60.register(docs.sparkSession)
    docs.select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= GramK)
      .select(explode(expr(
        s"""array_distinct(transform(sequence(1, size(ws) - ${GramK - 1}),
           |  i -> md5long60(concat_ws(' ', slice(ws, i, $GramK)))))""".stripMargin)).as("h"))
  }

  /** The live membership relation (h with sum(df) > 0) — what probes
    * consume; the groupBy rides the table's h-bucketing, no exchange. */
  private[queries] def liveGrams(s: SparkSession, tablePrefix: String): DataFrame =
    s.table(s"${tablePrefix}_gramdf")
      .groupBy("h").agg(sum("df").as("df"))
      .filter(col("df") > 0).select("h")

  /** Fold a new crawl into the counted index: one appended delta row
    * per distinct gram of the increment (disjoint-id contract — the
    * increment's docs are new, so their +1s are unconditional). */
  def appendGramIndexCounted(docs: DataFrame, tablePrefix: String): Unit = {
    val s = docs.sparkSession
    val buckets = bucketsOf(s, s"${tablePrefix}_gramdf")
    gramDfDeltas(docs, sign = 1L, buckets)
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "h").sortBy("h")
      .saveAsTable(s"${tablePrefix}_gramdf")
  }

  /** Increment rewrite against the counted index — same verdicts as
    * [[rewriteAgainstGramIndex]] over the same live corpus, with the
    * membership side derived from the delta ledger. */
  def rewriteAgainstGramIndexCounted(docs: DataFrame, tablePrefix: String): DataFrame = {
    val s = docs.sparkSession
    val grams = gramStream(docs)
    val inIndex = grams.join(liveGrams(s, tablePrefix), Seq("h"), "left_semi")
    val dupInBatch = grams.groupBy("h")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .filter(col("mn") =!= col("mx")).select("h")
    val inBatch = grams.join(dupInBatch, Seq("h"))
    rewriteWithDupStarts(docs,
      inIndex.select("doc_id", "pos").unionByName(inBatch.select("doc_id", "pos")))
  }

  /** PHYSICAL takedown for the counted index: append -1 deltas for the
    * ledgered docs' distinct grams, then clear the ledger. O(tombstoned
    * docs) work, zero existing files rewritten — the uniform-pattern
    * takedown the membership index cannot offer. `docs`: any relation
    * containing at least the tombstoned docs' (doc_id, text) — the
    * full corpus works; only ledger rows are gram-hashed. */
  def reclaimGramIndexCounted(docs: DataFrame, tablePrefix: String): Unit = {
    val s = docs.sparkSession
    graft.Engine.withWriteIntent(s, tablePrefix, "gramdf-decrement", holdOnFailure = true) {
      val ledger = graft.Takedown.ids(s, tablePrefix, docs, "doc_id")
      val buckets = bucketsOf(s, s"${tablePrefix}_gramdf")
      gramDfDeltas(docs.join(broadcast(ledger),
          docs("doc_id") === ledger("id"), "left_semi"), sign = -1L, buckets)
        .write.mode("append").format("parquet")
        .bucketBy(buckets, "h").sortBy("h")
        .saveAsTable(s"${tablePrefix}_gramdf")
      graft.Takedown.clear(s, tablePrefix)
    }
  }

  /** Collapse the delta ledger: one summed row per live gram, zero-sum
    * hashes dropped, same bucket spec — run on the compaction cadence
    * (appends and takedowns stay O(increment) between runs). */
  def compactGramIndexCounted(s: SparkSession, tablePrefix: String): Unit = {
    val buckets = bucketsOf(s, s"${tablePrefix}_gramdf")
    val staging = s"${tablePrefix}_gramdf__compact"
    graft.Engine.reclaimManagedTable(s, staging)
    s.table(s"${tablePrefix}_gramdf")
      .groupBy("h").agg(sum("df").as("df")).filter(col("df") > 0)
      .repartition(buckets, col("h"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "h").sortBy("h")
      .saveAsTable(staging)
    graft.Engine.reclaimManagedTable(s, s"${tablePrefix}_gramdf")
    s.sql(s"ALTER TABLE `$staging` RENAME TO `${tablePrefix}_gramdf`")
    graft.Engine.refreshTableEverywhere(s, s"${tablePrefix}_gramdf")
  }

  def reclaimGramIndex(docs: DataFrame, tablePrefix: String): Unit = {
    val s = docs.sparkSession
    graft.Engine.withWriteIntent(s, tablePrefix, "gram-rebuild", holdOnFailure = true) {
      val buckets = s.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(s"${tablePrefix}_grams"))
        .bucketSpec.map(_.numBuckets)
        .getOrElse(throw new IllegalStateException(
          s"${tablePrefix}_grams is not bucketed — not a gram index"))
      val staging = s"${tablePrefix}_grams__rebuild"
      graft.Engine.reclaimManagedTable(s, staging)
      gramStream(graft.Takedown.excluding(docs, tablePrefix, "doc_id"))
        .select("h").distinct()
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "h").sortBy("h")
        .saveAsTable(staging)
      graft.Engine.reclaimManagedTable(s, s"${tablePrefix}_grams")
      s.sql(s"ALTER TABLE `$staging` RENAME TO `${tablePrefix}_grams`")
      graft.Engine.refreshTableEverywhere(s, s"${tablePrefix}_grams")
      graft.Takedown.clear(s, tablePrefix)
    }
  }

  /** The full-corpus discovery → star-clustering oracle, shared by
    * `x_dedup_clusters_full` AND the named build row
    * `x_dedup_cluster_build` — both emit the memoized labels, so the
    * two gates share one string value. */
  private def clusterFullSql: String =
    s"""WITH RECURSIVE $md5MinhashCte,
      |p AS (SELECT da, db FROM est WHERE est_j >= 0.5),
      |edges AS (SELECT da ea, db eb FROM p UNION ALL SELECT db, da FROM p),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea)
      |SELECT src AS doc_id, min(dst) AS cluster
      |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "x_dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0)
        |SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keeper
        |FROM corpus GROUP BY md5(text) HAVING count(*) > 1 ORDER BY h""".stripMargin,

    "x_dedup_keep" ->
      """WITH corpus AS (
        |  SELECT doc_id, lang, n_chars, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, n_chars, text FROM documents WHERE doc_id % 50 = 0)
        |SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) rn
        |  FROM corpus) WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "x_dedup_substring_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        |g0 AS (SELECT doc_id, unnest(generate_series(8, len(ws))) AS i, ws
        |       FROM t WHERE len(ws) >= 8),
        |g AS (SELECT doc_id, CAST(i - 8 AS BIGINT) AS pos,
        |        ('0x' || substr(md5(ws[i-7]||' '||ws[i-6]||' '||ws[i-5]||' '||ws[i-4]||' '||
        |                            ws[i-3]||' '||ws[i-2]||' '||ws[i-1]||' '||ws[i]), 1, 15))::BIGINT AS h
        |      FROM g0),
        |dup AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) df FROM g GROUP BY h)
        |        WHERE df >= 2),
        |hits AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
        |mk AS (SELECT doc_id, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |              THEN 1 ELSE 0 END brk
        |       FROM hits),
        |sp AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sid FROM mk)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |       CAST(max(pos) + 7 AS BIGINT) AS span_end, count(*) AS n_grams
        |FROM sp GROUP BY doc_id, sid ORDER BY doc_id, span_start""".stripMargin,

    // Same gram/hash chain as the spans oracle, then coverage expansion
    // and in-order reassembly; untouched docs pass their original text
    // through on BOTH sides, so the gate is spacing-robust.
    "x_dedup_rewrite" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        |g0 AS (SELECT doc_id, unnest(generate_series(8, len(ws))) AS i, ws
        |       FROM t WHERE len(ws) >= 8),
        |g AS (SELECT doc_id, CAST(i - 8 AS BIGINT) AS pos,
        |        ('0x' || substr(md5(ws[i-7]||' '||ws[i-6]||' '||ws[i-5]||' '||ws[i-4]||' '||
        |                            ws[i-3]||' '||ws[i-2]||' '||ws[i-1]||' '||ws[i]), 1, 15))::BIGINT AS h
        |      FROM g0),
        |dup AS (SELECT h FROM (SELECT h, min(doc_id) mn, max(doc_id) mx FROM g GROUP BY h)
        |        WHERE mn != mx),
        |cov AS (SELECT DISTINCT hits.doc_id, hits.pos + u.i AS idx
        |        FROM (SELECT doc_id, pos FROM g JOIN dup USING (h)) hits,
        |             (SELECT unnest(generate_series(0, 7)) AS i) u),
        |nrem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id),
        |w AS (SELECT t.doc_id, CAST(unnest(generate_series(1, len(ws))) - 1 AS BIGINT) AS idx, ws
        |      FROM t JOIN (SELECT doc_id FROM nrem) USING (doc_id)),
        |kept AS (SELECT doc_id, idx, ws[idx + 1] AS word FROM w
        |         WHERE NOT EXISTS (SELECT 1 FROM cov
        |                           WHERE cov.doc_id = w.doc_id AND cov.idx = w.idx)),
        |re AS (SELECT doc_id, string_agg(word, ' ' ORDER BY idx) AS txt
        |       FROM kept GROUP BY doc_id),
        |aff AS (SELECT n.doc_id, CAST(n.n_removed AS BIGINT) AS n_removed,
        |               coalesce(re.txt, '') AS text_clean
        |        FROM nrem n LEFT JOIN re USING (doc_id))
        |SELECT d.doc_id, coalesce(a.n_removed, 0) AS n_removed,
        |       CASE WHEN a.doc_id IS NULL THEN d.text ELSE a.text_clean END AS text_clean
        |FROM documents d LEFT JOIN aff a USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    "x_dedup_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents WHERE doc_id < 60),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         generate_series(1, greatest(len(ws) - 2, 0)),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) s FROM t),
        |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id da, b.doc_id db, count(*) i FROM sh a
        |          JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT da, db, CAST(i AS DOUBLE) / (sa.n + sb.n - i) j
        |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $NgramGateMinJ
        |ORDER BY j DESC, da, db""".stripMargin,

    "x_dedup_minhash_md5" ->
      s"""WITH $md5MinhashCte
        |SELECT da, db, est_j FROM est WHERE est_j >= 0.5
        |ORDER BY est_j DESC, da, db""".stripMargin,

    // the sketch never enters the answer (no false negatives), so the
    // oracle is the plain exact cross-boundary join over the same
    // recrawl corpus
    "x_dedup_bloom_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0)
        |SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_matches, min(h.doc_id) AS dup_of
        |FROM corpus n JOIN corpus h ON n.text = h.text
        |  AND n.doc_id >= 1000000 AND h.doc_id < 1000000
        |GROUP BY n.doc_id ORDER BY n.doc_id""".stripMargin,

    "x_dedup_editdist" ->
      s"""WITH $md5MinhashCte,
        |p AS (SELECT da, db, est_j FROM est WHERE est_j >= 0.5),
        |j AS (SELECT p.da, p.db, p.est_j,
        |        CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist,
        |        CAST(levenshtein(a.text, b.text) AS DOUBLE)
        |          / CAST(greatest(length(a.text), length(b.text)) AS DOUBLE) AS rel
        |      FROM p JOIN documents a ON a.doc_id = p.da
        |             JOIN documents b ON b.doc_id = p.db)
        |SELECT da, db, est_j, dist, rel, rel <= 0.3 AS dup
        |FROM j ORDER BY da, db""".stripMargin,

    // the full pair table restricted to index×batch and grouped per new
    // doc — the incremental query must find exactly these
    "x_dedup_incremental" ->
      s"""WITH $md5MinhashCte
        |SELECT db AS doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        |       min(da) AS dup_of, max(est_j) AS est_j
        |FROM est WHERE est_j >= 0.5 AND da < 400 AND db >= 400
        |GROUP BY db ORDER BY doc_id""".stripMargin,

    // the takedown gate IS the incremental oracle with the tombstoned
    // doc excluded from the history side — "probe == a rebuild without
    // the doc", stated as SQL
    "x_dedup_takedown" ->
      s"""WITH $md5MinhashCte
        |SELECT db AS doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        |       min(da) AS dup_of, max(est_j) AS est_j
        |FROM est WHERE est_j >= 0.5 AND da < 400 AND da != 45
        |  AND db >= 400 AND db < 1200
        |GROUP BY db ORDER BY doc_id""".stripMargin,

    "x_dedup_clusters_full" -> clusterFullSql,

    // the build row emits the same labels — one shared oracle string
    // (the splitOracleSql pattern), so the two gates can never drift
    "x_dedup_cluster_build" -> clusterFullSql,

    "x_dedup_simhash_md5" ->
      s"""WITH ${md5SimhashSigCtes("WHERE doc_id < 200")}
        |SELECT a.doc_id da, b.doc_id db,
        |       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 6
        |ORDER BY hamming, da, db""".stripMargin,

    // the banded twin reproduces signature AND banding: 28 pair-of-block
    // keys per doc, key-equi candidates, exact hamming verification
    "x_dedup_simhash_lsh_md5" -> {
      val keys = (for { i <- 0 until 8; j <- (i + 1) until 8 } yield
        s"SELECT doc_id, ${i * 8 + j} AS blk, ((sh >> ${i * 8}) & 255) * 256 + ((sh >> ${j * 8}) & 255) AS bv FROM sig")
        .mkString("\n        |       UNION ALL ")
      s"""WITH ${md5SimhashSigCtes("")},
        |keys AS ($keys),
        |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM keys a
        |         JOIN keys b ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id)
        |SELECT da, db, CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS hamming
        |FROM cand JOIN sig sa ON sa.doc_id = da JOIN sig sb ON sb.doc_id = db
        |WHERE bit_count(xor(sa.sh, sb.sh)) <= 6
        |ORDER BY hamming, da, db""".stripMargin
    },

    "x_dedup_clusters" ->
      s"""WITH RECURSIVE
        |t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents WHERE doc_id < 60),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         generate_series(1, greatest(len(ws) - 2, 0)),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) s FROM t),
        |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id da, b.doc_id db, count(*) i FROM sh a
        |          JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |p AS (SELECT da, db FROM inter
        |      JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $NgramGateMinJ),
        |edges AS (SELECT da ea, db eb FROM p UNION ALL SELECT db, da FROM p),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM t
        |  UNION
        |  SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea)
        |SELECT src AS doc_id, min(dst) AS cluster
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    "x_dedup_embcos" ->
      """WITH e AS (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
        |       i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) nrm
        |  FROM embeddings)
        |SELECT a.vec_id qa, b.vec_id qb,
        |  list_sum(list_transform(generate_series(1, len(a.embedding)),
        |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |    / (a.nrm * b.nrm) AS cos
        |FROM e a, e b WHERE a.vec_id < 100 AND b.vec_id >= 100
        |  AND list_sum(list_transform(generate_series(1, len(a.embedding)),
        |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |    / (a.nrm * b.nrm) >= 0.42
        |ORDER BY qa, qb""".stripMargin,

    // Reuses the md5-portable Lloyd-fit CTE chain (fit + full-corpus
    // assignment `asgf`) from the x_sim_ivf_md5 oracle, then prunes
    // within cells exactly like the Spark side.
    "x_dedup_semantic" ->
      s"""WITH ${Similarity.portableIvfCtes},
         |p AS (SELECT a.cid, a.vec_id AS va, b.vec_id AS vb,
         |        ${Similarity.dotSql("a.embedding", "b.embedding")}
         |          / (a.nrm * b.nrm) AS cos
         |      FROM asgf a JOIN asgf b
         |        ON a.cid = b.cid AND a.vec_id <= b.vec_id)
         |SELECT vb AS vec_id, any_value(cid) AS cid,
         |       min(CASE WHEN va < vb AND cos >= 0.40 THEN va END) AS dup_of,
         |       min(CASE WHEN va < vb AND cos >= 0.40 THEN va END) IS NULL AS keep
         |FROM p GROUP BY vb ORDER BY vec_id""".stripMargin
    // x_dedup_minhash / x_dedup_simhash / x_dedup_simhash_lsh:
    // xxhash64-based → rows-only check; invariants pinned in DedupSpec.
  )
}
