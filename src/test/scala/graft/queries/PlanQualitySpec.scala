package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan regression tests: the properties that make queries hold
  * at 100 TB (scan-level pushdown, broadcast joins where a side is small,
  * no accidental cartesian products, whole-stage codegen coverage) are
  * asserted here so a refactor that silently loses one fails CI, not the
  * cluster.
  */
class PlanQualitySpec extends SparkSpecBase {

  private def plan(name: String): SparkPlan = {
    val df = graft.SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan
  }
  private def planStr(name: String): String = plan(name).toString

  /** Plan string AFTER execution — AQE (AdaptiveSparkPlan) only reveals
    * the final plan, including WholeStageCodegen spans, once it has run. */
  private def finalPlanStr(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("filters are pushed to the parquet scan") {
    val p = planStr("b_filter_eq")
    assert(p.contains("PushedFilters: ["), s"no pushdown section:\n$p")
    assert(p.contains("IsNotNull") || p.contains("EqualTo"), s"filter not pushed:\n$p")
  }

  test("projection prunes the parquet read schema") {
    // b_scan_project selects 2 columns of lineitem's 16 — the scan's
    // ReadSchema must not contain unprojected columns
    val p = planStr("b_scan_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment"), s"unpruned scan: $readSchema")
  }

  test("dimension joins broadcast the small side") {
    val p = planStr("b_join_broadcast_agg")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("lm novelty: key-equi scoring join, no cartesian, map-side partials") {
    val p = planStr("x_text_lm_novelty")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"scoring join degenerated:\n$p")
    assert(p.contains("partial_count"), s"counts not partially aggregated:\n$p")
  }

  test("anti-join pushes its build-side filter and stays a hash anti join") {
    val p = planStr("b_join_anti")
    // the o_totalprice predicate must reach the orders parquet scan, not
    // run post-scan; the join itself must plan as a (broadcast) hash
    // LeftAnti, never a nested loop
    assert(p.contains("GreaterThan(o_totalprice"), s"build filter not pushed:\n$p")
    assert(p.contains("LeftAnti"), s"not an anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"anti join degenerated:\n$p")
  }

  test("LSH/banded candidate joins are equi-joins, never cartesian") {
    for (q <- Seq("x_sim_lsh", "x_dedup_minhash", "x_dedup_simhash_lsh", "x_sim_ivf",
        "x_dedup_minhash_md5")) {
      val p = planStr(q)
      assert(!p.contains("CartesianProduct"), s"$q degenerated to a cartesian product:\n$p")
    }
  }

  test("brute-force top-k re-ranks via the partial top-k aggregate, not a corpus window") {
    val p = planStr("x_sim_topk")
    assert(!p.contains("Window"),
      s"x_sim_topk must not shuffle+sort all candidates through a window:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"top-k must plan as an aggregate:\n$p")
  }

  test("BM25: no cartesian, query/df sides broadcast, tf partially aggregated") {
    val p = planStr("x_text_bm25")
    assert(!p.contains("CartesianProduct"), s"bm25 degenerated:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"query-term joins must broadcast:\n$p")
    assert(p.contains("partial_count"), s"tf not partially aggregated:\n$p")
    // the only permitted nested-loop is the 1-row global-stats crossJoin
    val nl = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nl <= 1, s"$nl nested-loop joins — only the 1-row stats join may:\n$p")
  }

  test("IVF-PQ: no cartesian; code argmin partially aggregated; broadcast probes") {
    val p = planStr("x_sim_ivfpq_md5")
    assert(!p.contains("CartesianProduct"), s"ivfpq degenerated:\n$p")
    // candidate join (probed cell) and code join (vec_id) are hash joins
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"candidate/code joins must be equi:\n$p")
    // nearest-sub-centroid assignment is a map-side-combinable argmin,
    // not a corpus window
    assert(p.contains("partial_min"), s"code argmin not partially aggregated:\n$p")
  }

  test("bloom dedup: the sketch filter sits on the history scan, join stays hash-equi") {
    val p = planStr("x_dedup_bloom_exact")
    assert(p.contains("might_contain"), s"history scan not bloom-prefiltered:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"exact-verify join degenerated:\n$p")
  }

  test("profiler: one Expand-based pass, no join, partial aggregation") {
    val p = planStr("x_prof_documents")
    assert(p.contains("Expand"), s"distinct counts must compile to Expand:\n$p")
    assert(!p.contains("Join"), s"profile must be a single-table pass:\n$p")
    assert(p.contains("partial_count"), s"profile not partially aggregated:\n$p")
  }

  test("bucketed range join is an equi-join, never a nested loop") {
    val p = planStr("x_events_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a product:\n$p")
  }

  test("as-of join is ONE shuffle over the union, not a range join") {
    // the tagged-union formulation must plan as window-over-one-Exchange;
    // any join operator here means it degenerated into a per-row probe
    // (range joins explode at 100 TB; the single-shuffle shape doesn't)
    val p = planStr("x_events_asof")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of degenerated to a product:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"as-of should be window-over-union, found a join:\n$p")
    assert(p.contains("Window"), s"missing window carry-forward:\n$p")
  }

  test("md5-minhash signature aggregates partially (map-side combine)") {
    // the 16 per-permutation mins must fold map-side: the plan carries a
    // partial_min before the doc_id exchange, so the shuffle is O(docs)
    // buffers, never O(shingles)
    val p = planStr("x_dedup_minhash_md5")
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"signature mins not partially aggregated:\n$p")
  }

  test("quantization is a narrow map: no shuffle at all") {
    val p = planStr("x_sim_quantize")
    assert(!p.contains("Exchange") ||
      // a single final sort for the ORDER BY is acceptable; no other
      // exchange (the quantizer itself must not repartition)
      p.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 1,
      s"quantizer shuffles more than the output sort:\n$p")
  }

  test("cleaning funnel never shuffles document bodies") {
    // the dedup stage groups on md5(text): exchanges may PARTITION on an
    // md5(...text...) derived key (computed map-side) but must never
    // carry or partition on the raw text attribute itself
    val p = planStr("x_text_funnel")
    val exchanges = p.linesIterator.filter(_.contains("Exchange"))
      .map(_.replaceAll("md5\\(cast\\(text#\\d+ as binary\\)\\)", "md5(<hashed>)")).toSeq
    assert(exchanges.forall(!_.contains("text#")),
      s"funnel shuffles raw text:\n${exchanges.mkString("\n")}")
  }

  test("self-joins reuse the signature exchange instead of recomputing it") {
    // bands.as(a) join bands.as(b): the shingle+signature pipeline must be
    // computed once and its shuffle output read twice (ReusedExchange) —
    // at 100 TB recomputing the signature pass would double the dominant cost
    val p = finalPlanStr("x_dedup_minhash")
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      p.contains("TableCacheQueryStage"),
      s"signature pipeline computed twice:\n$p")
  }

  test("bucket cap piggybacks on the candidate-join shuffle, no extra count exchange") {
    // capBuckets counts bucket sizes with a window over the join's own
    // partition keys: the banded rows must shuffle ONCE on the band keys
    // (one live Exchange + a ReusedExchange for the self-join's other
    // side), not once for a count aggregate and again for the join
    for ((q, bandKey) <- Seq("x_dedup_minhash" -> "band", "x_dedup_simhash_lsh" -> "blk")) {
      // AQE's toString appends the pre-execution "Initial Plan" — assert
      // on the executed final section only
      val p = finalPlanStr(q).split("== Initial Plan ==").head
      assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
        p.contains("TableCacheQueryStage"), s"$q: no exchange reuse:\n$p")
      val bandShuffles = p.linesIterator.filter(l =>
        l.contains("Exchange hashpartitioning") && !l.contains("Reused") &&
          l.contains(bandKey + "#")).toSeq
      assert(bandShuffles.size <= 1,
        s"$q: banded rows shuffled ${bandShuffles.size}× on $bandKey:\n${bandShuffles.mkString("\n")}")
    }
  }

  test("substring spans: one corpus scan, one gram pass, no duplicate-gram join") {
    // the gram table (split + md5 over every 8-token window) is the
    // dominant cost; the ≥2-distinct-docs test is a min≠max window over
    // h, so the plan must contain exactly ONE gram pipeline and ONE
    // corpus scan — a join-based formulation recomputes both for the
    // build side (column pruning defeats exchange reuse there)
    val p = finalPlanStr("x_dedup_substring_spans").split("== Initial Plan ==").head
    val gramPasses = p.linesIterator.count(_.contains("posexplode"))
    assert(gramPasses == 1, s"gram pipeline computed $gramPasses times:\n$p")
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") || l.contains("BatchScan"))
    assert(scans <= 1, s"documents scanned $scans times:\n$p")
    assert(!p.contains("Join"), s"duplicate-gram join crept back:\n$p")
  }

  test("substring rewrite: one gram explode, one gram exchange, no coverage explode") {
    // SCALE_r14 measured 52 GB of spill at 256× on the old plan (gram
    // stream exploded for the dup-agg AND the probe join, then an 8×-wide
    // coverage explode+distinct and a word-level posexplode+sort-agg).
    // The reworked plan must (1) explode and exchange the gram stream
    // ONCE — dup detection is a min/max window over h, not a join — and
    // (2) contain no position-explosion downstream: the cut is in-row
    // interval arithmetic over the per-doc starts array.
    val p = finalPlanStr("x_dedup_rewrite").split("== Initial Plan ==").head
    val gramPasses = p.linesIterator.count(_.contains("posexplode"))
    assert(gramPasses == 1, s"gram pipeline computed $gramPasses times:\n$p")
    assert(!p.contains("explode(sequence"), s"coverage explode crept back:\n$p")
    // exactly one live hash exchange may carry the gram hash h (the
    // window's); a duplicate-gram join would add a second
    // anchor on the gram-hash column itself (word boundary before `h`):
    // a bare "h#" substring also matches any partitioning column whose
    // name merely ENDS in h (sig_h#, bh#), which would trip this pin on
    // an unrelated plan change
    val hCol = """hashpartitioning\(h#\d+""".r
    val hShuffles = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused") &&
        hCol.findFirstIn(l).isDefined).toSeq
    assert(hShuffles.size <= 1,
      s"grams shuffled ${hShuffles.size}× on h:\n${hShuffles.mkString("\n")}")
  }

  test("semantic dedup: the corpus assignment is computed once, reused by both join sides") {
    // the corpus×centroid argmax's PARTIAL pass (scan + broadcast
    // product + partial_max) is the dominant stage; the within-cell
    // self-join's two sides must both read its exchange (each side then
    // runs only the cheap merge aggregate over the shuffled partials) —
    // a projection-diverged totality join used to rebuild the whole pass
    val p = finalPlanStr("x_dedup_semantic").split("== Initial Plan ==").head
    val partials = p.linesIterator.count(_.contains("partial_max(sc"))
    assert(partials == 1, s"assignment partial pass appears $partials times:\n$p")
    assert(p.contains("ReusedExchange"), s"assignment exchange not reused:\n$p")
    // gate-scale corpora take the WIDE argmax branch (round 17,
    // Similarity.wideArgmaxRows): the vectors ride the hash aggregate —
    // safe under the 65,536-group fallback threshold — so the whole
    // assignment is ONE corpus scan, no re-fetch join
    assert(p.contains("partial_first(embedding"),
      s"gate-scale assignment should take the wide argmax branch:\n$p")
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") || l.contains("BatchScan"))
    assert(scans <= 1, s"embeddings scanned $scans times:\n$p")
    // above the bound the aggregate must go SKINNY: carrying vectors
    // through it is what forced the object aggregate's sort fallback
    // over ~600 B rows (21.5 GB of spill in the 256× ivf2 build,
    // SCALE_r15) — the winner re-fetches key-equi instead, one extra
    // column-pruned scan being the deliberate trade
    sys.props("graft.wideArgmaxRows") = "0"
    try {
      val q = finalPlanStr("x_dedup_semantic").split("== Initial Plan ==").head
      assert(!q.contains("partial_first(embedding"),
        s"vectors ride the argmax aggregate at scale:\n$q")
      val qScans = q.linesIterator.count(l =>
        l.contains("FileScan parquet") || l.contains("BatchScan"))
      assert(qScans <= 2, s"embeddings scanned $qScans times:\n$q")
    } finally sys.props.remove("graft.wideArgmaxRows")
  }

  test("curation: sampler is shuffle-free; contamination broadcasts the benchmark") {
    // the md5-threshold sampler is a stateless narrow filter — the only
    // exchange allowed is the output sort's range partitioning
    val p1 = finalPlanStr("x_cur_sample_stratified").split("== Initial Plan ==").head
    assert(!p1.contains("Exchange hashpartitioning"), s"sampler shuffles:\n$p1")
    // the benchmark shingle set joins broadcast — the corpus side must
    // never shuffle on the shingle string
    val p2 = finalPlanStr("x_cur_contamination").split("== Initial Plan ==").head
    assert(p2.contains("BroadcastHashJoin"), s"benchmark not broadcast:\n$p2")
    assert(!p2.contains("SortMergeJoin"), s"corpus shuffled on shingles:\n$p2")
  }

  test("repetition battery and checksum redaction are zero-shuffle narrow maps") {
    // both are pure per-row projections — the only exchange allowed is
    // the output sort's range partitioning
    for (q <- Seq("x_text_gopher_rep", "x_cur_ccn_redact", "x_cur_iban_redact")) {
      val p = finalPlanStr(q).split("== Initial Plan ==").head
      assert(!p.contains("Exchange hashpartitioning"), s"$q shuffles:\n$p")
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
    }
  }

  test("wordpiece serving is a zero-shuffle narrow map (vocabulary rides the plan)") {
    // the greedy walk lives inside the WordpieceTokenize expression —
    // the corpus side must carry NO join and NO hash exchange; the only
    // exchange allowed is the output sort's range partitioning
    val p = finalPlanStr("x_text_wordpiece_ids").split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"wordpiece serving grew a join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), s"wordpiece serving shuffles:\n$p")
    assert(p.contains("wordpiece_tokenize"), s"native expression missing:\n$p")
    // the BPE twin carries the same treatment
    val q = finalPlanStr("x_text_tokenize_ids").split("== Initial Plan ==").head
    assert(!q.contains("Join"), s"bpe serving grew a join:\n$q")
    assert(!q.contains("Exchange hashpartitioning"), s"bpe serving shuffles:\n$q")
    assert(q.contains("bpe_tokenize"), s"native expression missing:\n$q")
    // round 17: the unigram family joined them — the LAST tokenizer off
    // the join-gather shape (measured 16-18 GB spill / OOM at 256×)
    val u = finalPlanStr("x_text_unigram_ids").split("== Initial Plan ==").head
    assert(!u.contains("Join"), s"unigram serving grew a join:\n$u")
    assert(!u.contains("Exchange hashpartitioning"), s"unigram serving shuffles:\n$u")
    assert(u.contains("unigram_tokenize"), s"native expression missing:\n$u")
  }

  test("hot single-table queries run inside whole-stage codegen") {
    // "*(n)" is plan-toString's WholeStageCodegen stage marker
    for (q <- Seq("b_agg_q1", "x_text_tokens")) {
      val p = finalPlanStr(q)
      assert(p.contains("*("), s"$q fell out of codegen:\n$p")
    }
  }

  test("native expressions do not break codegen in the signature pass") {
    // simhash64 / minhash_sig implement doGenCode — the projection that
    // computes them must sit inside a WholeStageCodegen span
    graft.functions.SimHash64.register(spark)
    import org.apache.spark.sql.functions._
    val df: DataFrame = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), expr("simhash64(split(text, ' '))").as("sh"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the Project computing simhash64 must carry the "*(n)" codegen marker
    assert(p.linesIterator.exists(l => l.contains("Project") && l.contains("simhash64") && l.contains("*(")),
      s"simhash64 projection not codegen'd:\n$p")
  }

  test("top-term: sample bound pushes to the tf scan, df scan stays full-corpus") {
    val p = planStr("x_text_topterm")
    // the doc_id < 50 output bound must reach the tf-side parquet scan…
    assert(p.contains("LessThan(doc_id,50)"), s"sample bound not pushed:\n$p")
    // …while the df side reads the whole corpus: exactly one of the two
    // scans carries the pushed bound
    val pushedScans = p.linesIterator.count(_.contains("LessThan(doc_id,50)"))
    assert(pushedScans == 1, s"expected exactly 1 bounded scan, got $pushedScans:\n$p")
    // argmax is a partial aggregate (no per-doc window), join is key-equi
    assert(p.contains("partial_max(struct"), s"argmax not partially aggregated:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"term join degenerated:\n$p")
  }

  test("persisted-index incremental dedup: no shuffle exchange above the index scans") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx-plan").toString
    graft.queries.Dedup.writeMinhashIndex(spark, sf, dir, col("doc_id") < 400)
    // AQE off for this pin: the adaptive wrapper hides the inner tree
    // from collect() until execution, which would make the assertion
    // vacuously pass
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.queries.Dedup
        .incrementalDupsAgainstIndex(spark, sf, dir, col("doc_id") >= 400)
      val p = df.queryExecution.executedPlan
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      def scansIndex(n: SparkPlan): Boolean =
        n.collectLeaves().exists(_.toString.contains("minhash_"))
      assert(scansIndex(p), s"index parquet never scanned:\n$p")
      // index ROWS must be join-reduced (streamed through a broadcast
      // hash join against the increment) before crossing ANY exchange —
      // shuffle or broadcast. Walking down from an exchange, an index
      // scan reachable without crossing a BroadcastHashJoin means
      // history itself was repartitioned/broadcast; below a BHJ only
      // increment-proportional match rows flow, which may shuffle.
      def rawIndexBelow(n: SparkPlan): Boolean = n match {
        case leaf if leaf.children.isEmpty => leaf.toString.contains("minhash_")
        case _: BroadcastHashJoinExec => false
        case other => other.children.exists(rawIndexBelow)
      }
      p.collect { case b: BroadcastExchangeExec => b }.foreach(b =>
        assert(!rawIndexBelow(b.child), s"persisted index broadcast raw:\n$b"))
      val shuffles = p.collect { case e: ShuffleExchangeExec => e }
      // the verdict aggregation DOES shuffle (increment-proportional rows)…
      assert(shuffles.nonEmpty, s"expected the verdict agg shuffle:\n$p")
      shuffles.foreach(e => assert(!rawIndexBelow(e.child),
        s"persisted index re-shuffled under:\n$e"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("bucketed minhash index: index side rides its bucketing, never an exchange") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    // the warehouse dir outlives the in-memory catalog across JVM runs:
    // drop any catalog entry AND the orphaned location before writing
    val pqWarehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("pqx_mh_sig", "pqx_mh_keys", "pqx_mh_counts")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(pqWarehouse, t))
    }
    graft.queries.Dedup.writeMinhashIndexBucketed(spark, sf, "pqx_mh",
      buckets = 32, docFilter = col("doc_id") < 400)
    // AQE off (see the broadcast-path pin above); broadcasts off so the
    // planner can't hide the topology behind a small-increment BHJ — the
    // point of the bucketed path is surviving increments too big to
    // broadcast, so the pin must hold under pure shuffle joins
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = graft.queries.Dedup
        .incrementalDupsAgainstBucketedIndex(spark, sf, "pqx_mh", col("doc_id") >= 400)
        .queryExecution.executedPlan
      def scansIndex(n: SparkPlan): Boolean =
        n.collectLeaves().exists(_.toString.contains("pqx_mh"))
      assert(scansIndex(p), s"bucketed index never scanned:\n$p")
      // below any equi-join only increment-proportional match rows flow;
      // RAW index rows reachable from an exchange without crossing a
      // join mean history itself was repartitioned or broadcast
      def rawIndexBelow(n: SparkPlan): Boolean = n match {
        case leaf if leaf.children.isEmpty => leaf.toString.contains("pqx_mh")
        case _: BroadcastHashJoinExec | _: SortMergeJoinExec | _: ShuffledHashJoinExec => false
        case other => other.children.exists(rawIndexBelow)
      }
      p.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
        assert(!rawIndexBelow(e.child), s"bucketed index re-shuffled under:\n$e"))
      p.collect { case b: BroadcastExchangeExec => b }.foreach(b =>
        assert(!rawIndexBelow(b.child), s"bucketed index broadcast raw:\n$b"))
      // and the join really is a shuffle join fed by the bucketed scan —
      // the increment alone paid an exchange to meet the index's layout
      val joins = p.collect {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j: SparkPlan
      }
      assert(joins.exists(j => j.children.exists(c =>
          scansIndex(c) && c.collect { case e: ShuffleExchangeExec => e }.isEmpty)),
        s"no shuffle join rides the index bucketing directly:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS pqx_mh_sig")
      spark.sql("DROP TABLE IF EXISTS pqx_mh_keys")
      spark.sql("DROP TABLE IF EXISTS pqx_mh_counts")
    }
  }

  test("gram index: rewrite probe rides the index bucketing, never an exchange") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    spark.sql("DROP TABLE IF EXISTS pqx_sub_grams")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, "pqx_sub_grams"))
    graft.queries.Dedup.writeGramIndex(spark, sf, "pqx_sub",
      buckets = 32, docFilter = col("doc_id") < 400)
    // broadcasts off: the bucketed layout must carry backfill-sized
    // increments, so the pin holds under pure shuffle joins
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val inc = graft.Engine.table(spark, sf, "documents")
        .filter(col("doc_id") >= 400).select(col("doc_id"), col("text"))
      val p = graft.queries.Dedup.rewriteAgainstGramIndex(inc, "pqx_sub")
        .queryExecution.executedPlan
      assert(p.collectLeaves().exists(_.toString.contains("pqx_sub")),
        s"gram index never scanned:\n$p")
      def rawIndexBelow(n: SparkPlan): Boolean = n match {
        case leaf if leaf.children.isEmpty => leaf.toString.contains("pqx_sub")
        case _: BroadcastHashJoinExec | _: SortMergeJoinExec | _: ShuffledHashJoinExec => false
        case other => other.children.exists(rawIndexBelow)
      }
      p.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
        assert(!rawIndexBelow(e.child), s"gram index re-shuffled under:\n$e"))
      p.collect { case b: BroadcastExchangeExec => b }.foreach(b =>
        assert(!rawIndexBelow(b.child), s"gram index broadcast raw:\n$b"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS pqx_sub_grams")
    }
  }

  /** Count Spark jobs started while `f` runs, via a SparkListener's
    * onJobStart — visible to EVERY job regardless of its job group
    * (statusTracker.getJobIdsForGroup(null) is blind to jobs submitted
    * under a non-null group) — then settle-polled until the async
    * listener bus goes quiet (count stable for 300 ms, 3 s ceiling)
    * instead of a fixed sleep racing AQE's async submissions. */
  private def jobsDuring(f: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      var last = -1
      var stableMs = 0L
      val deadline = System.nanoTime() + 3000000000L
      while (stableMs < 300L && System.nanoTime() < deadline) {
        val now = counter.get()
        if (now == last) stableMs += 50L else { last = now; stableMs = 0L }
        Thread.sleep(50L)
      }
      counter.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("sizing probes take the catalog-stats fast path: no job when stats exist") {
    // a relation whose optimized plan carries an exact-by-construction
    // rowCount (Range, LocalRelation, materialized caches; ANALYZE'd
    // catalog stats are deliberately NOT trusted — they go stale)
    val jobs = jobsDuring {
      assert(graft.Engine.exactStatsRowCount(spark.range(12345).toDF()) == Some(12345L))
    }
    assert(jobs == 0, s"stats-backed exactStatsRowCount launched $jobs jobs")
    // a bare parquet read publishes no rowCount → no trusted stats; the
    // footer row count answers for a parquet table instead
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(docs.queryExecution.optimizedPlan.stats.rowCount.isEmpty)
    assert(graft.Engine.exactStatsRowCount(docs).isEmpty)
    assert(graft.Engine.tableRows(spark, sf, "documents") == 500L)
  }

  test("table metadata cache: a build over unchanged tables starts no Spark job") {
    val q = graft.SparkEntry.queries("b_join_multiway")
    q(spark, sf) // the first build may infer the four schemas
    val jobs = jobsDuring { q(spark, sf); () }
    assert(jobs == 0, s"second build of b_join_multiway launched $jobs jobs")
    val tables = new java.io.File(sf).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    assert(tables.size == 10, s"sf0.001 tables: $tables")
    var rows = Map.empty[String, Long]
    val probeJobs = jobsDuring {
      rows = tables.map(t => t -> graft.Engine.tableRows(spark, sf, t)).toMap
    }
    assert(probeJobs == 0, s"tableRows launched $probeJobs jobs")
    tables.foreach(t => assert(rows(t) == graft.Engine.table(spark, sf, t).count(), t))
  }

  test("table metadata cache: a rewritten table is seen at once; self-joins get fresh ids") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-meta").toString
    try {
      Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      assert(graft.Engine.table(spark, dir, "t").columns.toSeq == Seq("k", "v"))
      assert(graft.Engine.tableRows(spark, dir, "t") == 3L)
      graft.Engine.table(spark, dir, "t").count() // both memo parts filled
      Seq((1L, "a", 10), (1L, "b", 20), (1L, "d", 30), (2L, "c", 40), (3L, "e", 50))
        .toDF("k", "v", "w").write.mode("overwrite").parquet(s"$dir/t.parquet")
      val t = graft.Engine.table(spark, dir, "t")
      assert(t.columns.toSeq == Seq("k", "v", "w"), "second read kept the old schema")
      assert(graft.Engine.tableRows(spark, dir, "t") == 5L, "tableRows kept the old count")
      assert(t.agg(sum("w")).head().getLong(0) == 150L)
      // two reads of one table: a shared plan would resolve both sides to
      // the same attributes and the join condition to `k = k`
      val a = graft.Engine.table(spark, dir, "t")
      val b = graft.Engine.table(spark, dir, "t")
      val pairs = a.join(b, a("k") === b("k") && a("v") < b("v")).count()
      val oracle = t.groupBy("k").agg(count(lit(1)).as("n")).collect()
        .map { r => val n = r.getLong(1); n * (n - 1) / 2 }.sum
      assert(pairs == oracle && pairs == 3L, s"self-join pairs $pairs != $oracle")
      assert(a.join(b, a("k") === b("k")).select(a("w")).filter(col("w") === 50).count() == 1L)
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
  }

  test("x_cur_shard's sizing probe is metadata-only: plan build adds no job") {
    // opening the table itself costs a fixed schema-inference job
    // (mergeSchemasInParallel runs one even for a single file) — the
    // relevant pin is that the shard-count probe adds NOTHING on top:
    // Curation.textBytes reads parquet footers driver-side, never a scan
    val baseline = jobsDuring { spark.read.parquet(s"$sf/documents.parquet"); () }
    val built = jobsDuring { Curation.queries("x_cur_shard")(spark, sf); () }
    assert(built <= baseline,
      s"building x_cur_shard launched $built jobs vs $baseline for a bare table open — " +
        "the sizing probe must stay footer-metadata-only")
    assert(Curation.queries("x_cur_shard")(spark, sf).count() == 500L)
  }

  test("composed pipeline: two corpus scans total; job-free plan build past the cluster memo") {
    // warm the one-time cluster-label memo (its build legitimately runs
    // jobs); everything else the pipeline derives at plan-build time —
    // pack chunking, shard count — must come from footer metadata
    graft.queries.Dedup.clusterLabels(spark, sf).count()
    Curation.queries("x_cur_shard")(spark, sf) // warms the cached footers and schema
    val baseline = jobsDuring { spark.read.parquet(s"$sf/documents.parquet"); () }
    val built = jobsDuring { Curation.queries("x_cur_pipeline")(spark, sf); () }
    assert(built <= baseline,
      s"building x_cur_pipeline launched $built jobs vs $baseline for a bare table open")

    // the five composed stages must NOT re-scan the corpus per stage:
    // exactly the two inherent passes (mixture's survivor-rate aggregate
    // + the survivor flow) read documents in the executed plan; dedup
    // labels ride the InMemoryRelation cache
    val p = finalPlanStr("x_cur_pipeline").split("== Initial Plan ==").head
    val docScans = p.linesIterator.count(l =>
      (l.contains("FileScan parquet") || l.contains("BatchScan")) &&
        l.contains("documents"))
    assert(docScans <= 2, s"documents scanned $docScans times — a stage re-scans:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"dedup labels must come from the cluster cache:\n$p")
  }

  test("two-level IVF: the fine table joins key-equi and never feeds a nested loop") {
    // the design claim that carries ANN past the 65,536-cell cap: the
    // fine-centroid table joins by its coarse-cell key and can degrade
    // to a shuffle join — it must NEVER require a broadcast or a
    // cartesian. AQE off (adaptive wrapper hides the tree) and
    // auto-broadcast off so the degradation is visible; the intentional
    // coarse fan-outs (corpus argmax + query probe) carry explicit
    // hints and survive as nested loops over the ≤65,536-row coarse set.
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
      CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = graft.SparkEntry.queries("x_sim_ivf2_md5")(spark, sf)
        .queryExecution.executedPlan
      assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
        s"cartesian in two-level IVF:\n$p")
      val bnl = p.collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(bnl.nonEmpty, s"expected the hinted coarse fan-outs:\n$p")
      // the cluster-persisted fine table must never sit under a nested
      // loop — at 10^10 vectors it is 10^8 rows
      bnl.foreach(j => assert(
        j.collect { case s: InMemoryTableScanExec => s }.isEmpty,
        s"fine table feeds a nested loop:\n$j"))
      def keyed(j: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
        j.exists(_.toString.contains("ccid"))
      val equiFine = p.collect {
        case j: SortMergeJoinExec if keyed(j.leftKeys) => j
        case j: ShuffledHashJoinExec if keyed(j.leftKeys) => j
      }
      assert(equiFine.nonEmpty,
        s"fine assignment must be a shuffle equi-join on ccid:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("shard writer layout: exactly one exchange over a precomputed assignment") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.SortExec
    // feed a parquet-backed assignment so the pin isolates the WRITER's
    // own topology from the pipeline that produced the assignment
    val tmp = java.nio.file.Files.createTempDirectory("graft-shardplan").toString
    Curation.queries("x_cur_shard")(spark, sf).write.mode("overwrite").parquet(tmp)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Curation.shardWriteLayout(spark.read.parquet(tmp))
        .queryExecution.executedPlan
      val shuffles = p.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.length == 1,
        s"shard layout must cost exactly ONE exchange, found ${shuffles.length}:\n$p")
      // the sort is per-partition (the writer's requirement), never global
      val sorts = p.collect { case s: SortExec => s }
      assert(sorts.nonEmpty && sorts.forall(!_.global),
        s"expected only per-partition sorts:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("index probe pruning regimes: literal IN bucket-prunes under the cap, semi-join above it, same verdicts") {
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("ivf2pq_coarse", "ivf2pq_fine", "ivf2pq_postings")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    Similarity.writeIvf2Index(spark, sf, "ivf2pq")
    // serving regime (probed ids under the cap): literal IN-filters reach
    // the bucketed scans and prune them at PLANNING time — the
    // sub-linear-storage claim needs SelectedBucketsCount k < n, and no
    // semi-join may appear in its place
    val lit = Similarity.ivf2SearchAgainstIndex(spark, sf, "ivf2pq",
      nprobeC = 2, nprobeF = 4, maxQid = 2L)
    val litPlan = lit.queryExecution.executedPlan.toString
    val sel = """SelectedBucketsCount: (\d+) out of (\d+)""".r
    assert(sel.findAllMatchIn(litPlan)
      .exists(m => m.group(1).toInt < m.group(2).toInt),
      s"literal regime did not bucket-prune:\n$litPlan")
    assert(!litPlan.contains("LeftSemi"),
      s"literal regime must not plan a semi-join:\n$litPlan")
    // bulk regime (cap forced to 0 so every probed set overflows): the
    // probed ids stay distributed and restrict the index tables via
    // broadcast LEFT SEMI joins — no driver-side literal lists
    val semi = Similarity.ivf2SearchAgainstIndex(spark, sf, "ivf2pq",
      nprobeC = 2, nprobeF = 4, maxQid = 2L, literalProbeCap = 0)
    val semiPlan = semi.queryExecution.executedPlan.toString
    assert(semiPlan.contains("LeftSemi"),
      s"bulk regime must restrict via semi-joins:\n$semiPlan")
    assert(!semiPlan.contains(" IN ("),
      s"bulk regime must not carry literal probe lists:\n$semiPlan")
    // both regimes are the same query — verdict equality, row for row
    assert(semi.collect().toSeq == lit.collect().toSeq,
      "semi-join regime must emit exactly the literal regime's verdicts")
  }

  test("attributes: fit/apply aggregates dedup via runtime exchange reuse; no cartesian") {
    val df = graft.SparkEntry.queries("x_text_attributes")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"degenerate join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"model relations must broadcast against the corpus sides:\n$p")
    // the aggregates duplicated between a model's fit and its apply (NB
    // tf, CCNet per-doc entropy) must deduplicate at runtime — without
    // reuse the composition would re-run those corpus passes
    val reused = "ReusedExchange".r.findAllIn(p).length
    assert(reused >= 2, s"expected >=2 ReusedExchange nodes, got $reused:\n$p")
  }

  test("nb classify: model joins broadcast, argmax by aggregate — no window, no cartesian") {
    val p = planStr("x_text_nb_classify")
    assert(!p.contains("Window"),
      s"per-doc argmax must be max(struct), not a corpus window:\n$p")
    assert(!p.contains("CartesianProduct"), s"degenerate join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the vocab×label grid must broadcast against the corpus tf:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"tf/model counts not partially aggregated:\n$p")
  }

  test("dsir: global selection is a top-k, never a full sort; ratio relation broadcasts") {
    val p = planStr("x_cur_dsir")
    assert(p.contains("TakeOrderedAndProject"),
      s"Gumbel top-64 must plan as TakeOrderedAndProject:\n$p")
    assert(!p.contains("Window"), s"no corpus window belongs here:\n$p")
    assert(!p.contains("CartesianProduct"), s"degenerate join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 64-row log-ratio relation must broadcast:\n$p")
  }

  test("ccnet ppl: tertile windows partition by language, never the whole corpus") {
    val df = graft.SparkEntry.queries("x_text_ccnet_ppl")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"degenerate join:\n$p")
    // every window must carry the lang partition spec — a partition-less
    // window would funnel the corpus through a single partition
    val specs = "windowspecdefinition\\(([^,)]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"expected threshold windows in:\n$p")
    assert(specs.forall(_.startsWith("lang")),
      s"window not partitioned by lang: $specs\n$p")
  }

  test("phash index probe: history is a pure scan, never re-shuffled or broadcast raw") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("plan_ph_sig", "plan_ph_keys")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    graft.queries.Multimodal.writePhashIndex(spark, sf, "plan_ph", maxId = 120)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.queries.Multimodal.incrementalPhashDupsAgainstIndex(
        graft.queries.Multimodal.perturbedPngTwins(spark, sf, maxId = 120), "plan_ph")
      val p = df.queryExecution.executedPlan
      def scansIndex(n: SparkPlan): Boolean =
        n.collectLeaves().exists(_.toString.contains("plan_ph_keys"))
      assert(scansIndex(p), s"index table never scanned:\n$p")
      // the increment's band keys broadcast; history rows may cross an
      // exchange only AFTER the broadcast hash join reduced them to
      // increment-proportional matches
      def rawIndexBelow(n: SparkPlan): Boolean = n match {
        case leaf if leaf.children.isEmpty => leaf.toString.contains("plan_ph_keys")
        case _: BroadcastHashJoinExec => false
        case other => other.children.exists(rawIndexBelow)
      }
      p.collect { case b: BroadcastExchangeExec => b }.foreach(b =>
        assert(!rawIndexBelow(b.child), s"index broadcast raw:\n$b"))
      p.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
        assert(!rawIndexBelow(e.child), s"index re-shuffled under:\n$e"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("phash bucketed-increment probe: index rides its bucketing, never an exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("plan_phb_sig", "plan_phb_keys")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    graft.queries.Multimodal.writePhashIndex(spark, sf, "plan_phb", maxId = 120)
    // AQE off; broadcasts off — the bucketed path exists for increments
    // too big to broadcast, so the pin must hold under pure shuffle joins
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = graft.queries.Multimodal.incrementalPhashDupsAgainstBucketedIndex(
          graft.queries.Multimodal.perturbedPngTwins(spark, sf, maxId = 120), "plan_phb")
        .queryExecution.executedPlan
      def scansIndex(n: SparkPlan): Boolean =
        n.collectLeaves().exists(_.toString.contains("plan_phb_keys"))
      assert(scansIndex(p), s"bucketed index never scanned:\n$p")
      def rawIndexBelow(n: SparkPlan): Boolean = n match {
        case leaf if leaf.children.isEmpty => leaf.toString.contains("plan_phb_keys")
        case _: BroadcastHashJoinExec | _: SortMergeJoinExec | _: ShuffledHashJoinExec => false
        case other => other.children.exists(rawIndexBelow)
      }
      p.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
        assert(!rawIndexBelow(e.child), s"bucketed index re-shuffled under:\n$e"))
      p.collect { case b: BroadcastExchangeExec => b }.foreach(b =>
        assert(!rawIndexBelow(b.child), s"bucketed index broadcast raw:\n$b"))
      // the join is a shuffle join whose index child carries NO exchange
      // — the increment alone paid one to meet the index's layout
      val joins = p.collect {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j: SparkPlan
      }
      assert(joins.exists(j => j.children.exists(c =>
          scansIndex(c) && c.collect { case e: ShuffleExchangeExec => e }.isEmpty)),
        s"no shuffle join rides the index bucketing directly:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      for (t <- Seq("plan_phb_sig", "plan_phb_keys")) spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("audio bucketed-increment probe: index rides its bucketing, never an exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("plan_afp_sig", "plan_afp_keys")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    graft.queries.Multimodal.writeAudioFpIndex(spark, sf, "plan_afp", maxId = 120)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = graft.queries.Multimodal.incrementalAudioFpDupsAgainstBucketedIndex(
          graft.queries.Multimodal.perturbedWavTwins(spark, sf, maxId = 120), "plan_afp")
        .queryExecution.executedPlan
      def scansIndex(n: SparkPlan): Boolean =
        n.collectLeaves().exists(_.toString.contains("plan_afp_keys"))
      assert(scansIndex(p), s"bucketed index never scanned:\n$p")
      def rawIndexBelow(n: SparkPlan): Boolean = n match {
        case leaf if leaf.children.isEmpty => leaf.toString.contains("plan_afp_keys")
        case _: BroadcastHashJoinExec | _: SortMergeJoinExec | _: ShuffledHashJoinExec => false
        case other => other.children.exists(rawIndexBelow)
      }
      p.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
        assert(!rawIndexBelow(e.child), s"bucketed index re-shuffled under:\n$e"))
      p.collect { case b: BroadcastExchangeExec => b }.foreach(b =>
        assert(!rawIndexBelow(b.child), s"bucketed index broadcast raw:\n$b"))
      val joins = p.collect {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j: SparkPlan
      }
      assert(joins.exists(j => j.children.exists(c =>
          scansIndex(c) && c.collect { case e: ShuffleExchangeExec => e }.isEmpty)),
        s"no shuffle join rides the index bucketing directly:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      for (t <- Seq("plan_afp_sig", "plan_afp_keys")) spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("video bucketed-increment probe: sig index rides its bucketing, never an exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    spark.sql("DROP TABLE IF EXISTS plan_vsig_sig")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, "plan_vsig_sig"))
    graft.queries.Multimodal.writeVideoSigIndex(spark, sf, "plan_vsig", maxId = 200)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = graft.queries.Multimodal.incrementalVideoSigDupsAgainstBucketedIndex(
          graft.queries.Multimodal.remuxedMp4Twins(spark, sf, maxId = 200), "plan_vsig")
        .queryExecution.executedPlan
      def scansIndex(n: SparkPlan): Boolean =
        n.collectLeaves().exists(_.toString.contains("plan_vsig_sig"))
      assert(scansIndex(p), s"bucketed index never scanned:\n$p")
      def rawIndexBelow(n: SparkPlan): Boolean = n match {
        case leaf if leaf.children.isEmpty => leaf.toString.contains("plan_vsig_sig")
        case _: BroadcastHashJoinExec | _: SortMergeJoinExec | _: ShuffledHashJoinExec => false
        case other => other.children.exists(rawIndexBelow)
      }
      p.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
        assert(!rawIndexBelow(e.child), s"bucketed index re-shuffled under:\n$e"))
      p.collect { case b: BroadcastExchangeExec => b }.foreach(b =>
        assert(!rawIndexBelow(b.child), s"bucketed index broadcast raw:\n$b"))
      val joins = p.collect {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j: SparkPlan
      }
      assert(joins.exists(j => j.children.exists(c =>
          scansIndex(c) && c.collect { case e: ShuffleExchangeExec => e }.isEmpty)),
        s"no shuffle join rides the index bucketing directly:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS plan_vsig_sig")
    }
  }

  test("compaction staging plan: exactly one exchange — the bucket-aligned repartition") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    spark.sql("DROP TABLE IF EXISTS plan_cmp")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, "plan_cmp"))
    spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "lang")
      .write.format("parquet").bucketBy(8, "doc_id").saveAsTable("plan_cmp")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = graft.Engine.compactionRows(spark, "plan_cmp").queryExecution.executedPlan
      val shuffles = p.collect { case e: ShuffleExchangeExec => e }
      // the ONE exchange is the rewrite's entire data movement: scan →
      // hash-repartition on the bucket column at the bucket count → write
      assert(shuffles.size == 1, s"expected exactly one exchange:\n$p")
      assert(shuffles.head.outputPartitioning.numPartitions == 8,
        s"repartition must land on the bucket count:\n${shuffles.head}")
      assert(shuffles.head.toString.contains("doc_id"),
        s"repartition must hash the bucket column:\n${shuffles.head}")
      assert(p.collect { case b: BroadcastExchangeExec => b }.isEmpty,
        s"compaction must not broadcast anything:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS plan_cmp")
    }
  }

  test("hybrid serving: BOTH persisted-index scans bucket-prune to the probed terms/cells") {
    import org.apache.spark.sql.functions._
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("plan_bm25_tf", "plan_bm25_dl", "plan_bm25_stats",
        "plan_ivf2_coarse", "plan_ivf2_fine", "plan_ivf2_postings")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    graft.queries.TextAnalysis.writeBm25Index(spark, sf, "plan_bm25")
    graft.queries.Similarity.writeIvf2Index(spark, sf, "plan_ivf2")
    val queries = spark.read.parquet(s"$sf/documents.parquet").filter(col("doc_id") < 3)
      .select(col("doc_id").as("qid"), expr("slice(split(text, ' '), 1, 3)").as("terms"))
      .join(spark.read.parquet(s"$sf/embeddings.parquet").filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding")), Seq("qid"))
    val p = graft.queries.TextAnalysis
      .hybridSearchOf(queries, "plan_bm25", "plan_ivf2")
      .queryExecution.executedPlan
    val sel = """SelectedBucketsCount: (\d+) out of (\d+)""".r
    // the serving cost model rests on BOTH probes pruning their postings
    // scan to the query's terms / probed cells — per-leaf, not just
    // somewhere in the plan
    for (tbl <- Seq("plan_bm25_tf", "plan_ivf2_postings")) {
      val leaves = p.collectLeaves().filter(_.toString.contains(tbl))
      assert(leaves.nonEmpty, s"no scan of $tbl in the fused plan:\n$p")
      val pruned = leaves.flatMap(l => sel.findAllMatchIn(l.toString)
        .map(m => (m.group(1).toInt, m.group(2).toInt)))
      assert(pruned.exists { case (k, n) => k < n },
        s"$tbl scan not bucket-pruned (got $pruned):\n$p")
    }
    for (t <- Seq("plan_bm25_tf", "plan_bm25_dl", "plan_bm25_stats",
        "plan_ivf2_coarse", "plan_ivf2_fine", "plan_ivf2_postings"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
