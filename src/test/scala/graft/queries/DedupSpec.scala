package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.Row

/** Invariants for the hash-based dedup operators (no SQL oracle: xxhash64
  * is Spark-only). The sf0.001 corpus has planted near-duplicates —
  * (8,12) and (0,50) at 3-gram Jaccard ≈ 0.97/0.95. */
class DedupSpec extends SparkSpecBase {

  private def pairs(name: String): Set[(Long, Long)] =
    Dedup.queries(name)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The warehouse dir outlives the in-memory catalog across JVM runs:
    * drop any catalog entry AND the orphaned location before (re)writing
    * a bucketed index under `prefix`. */
  private def dropBucketedTables(prefix: String): Unit = {
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq(s"${prefix}_sig", s"${prefix}_keys", s"${prefix}_counts")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
  }

  test("the star-label broadcast gate follows autoBroadcastJoinThreshold at 16 B per edge") {
    val tenMb = 10L * 1024 * 1024
    assert(Dedup.broadcastsEdges(tenMb / 16, tenMb))
    assert(!Dedup.broadcastsEdges(tenMb / 16 + 1, tenMb))
    assert(!Dedup.broadcastsEdges(0L, -1L), "a disabled threshold never broadcasts")
  }

  test("minhash LSH finds the planted near-duplicate pairs") {
    val got = pairs("x_dedup_minhash")
    assert(got.contains((8L, 12L)), s"missing (8,12) in $got")
    assert(got.contains((0L, 50L)), s"missing (0,50) in $got")
  }

  test("minhash estimate tracks exact jaccard for planted pairs") {
    val est = Dedup.queries("x_dedup_minhash")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = Dedup.queries("x_dedup_ngram_jaccard")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    for (p <- Seq((8L, 12L), (0L, 50L))) {
      assert(math.abs(est(p) - exact(p)) < 0.35, s"est ${est(p)} vs exact ${exact(p)} for $p")
    }
  }

  test("simhash puts planted near-duplicates within the hamming budget") {
    val got = pairs("x_dedup_simhash")
    assert(got.contains((8L, 12L)) && got.contains((0L, 50L)), s"got $got")
  }

  test("documents shorter than 3 tokens produce no shingles") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, split}
    val docs = Seq((1L, ""), (2L, "one"), (3L, "one two"), (4L, "one two three"),
      (5L, "a b c d")).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val got = Dedup.shinglesOf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((4L, "one two three"), (5L, "a b c"), (5L, "b c d")))
  }

  test("dedup operators are deterministic across runs") {
    val a = Dedup.queries("x_dedup_minhash")(spark, sf).collect().toSeq
    val b = Dedup.queries("x_dedup_minhash")(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("md5-family minhash finds the planted pairs (oracle-portable path)") {
    val got = Dedup.queries("x_dedup_minhash_md5")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((8L, 12L)) && got.contains((0L, 50L)), s"got $got")
  }

  test("md5-family simhash puts planted near-duplicates within the budget") {
    val got = pairs("x_dedup_simhash_md5")
    assert(got.contains((8L, 12L)) && got.contains((0L, 50L)), s"got $got")
  }

  test("md5-family simhash banding is complete: banded == brute-force all-pairs") {
    import org.apache.spark.sql.functions.{col, expr}
    val banded = Dedup.queries("x_dedup_simhash_lsh_md5")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over the SAME full-corpus md5 signature — pair-of-blocks
    // banding must lose nothing within the hamming <= 6 budget (pigeonhole)
    val sig = Dedup.md5SimhashSig(spark, sf)
    val brute = sig.as("a")
      .join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        expr("bit_count(a.sh ^ b.sh)").cast("long").as("hamming"))
      .filter(col("hamming") <= 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute, s"banded \\ brute: ${banded.diff(brute)}; missed: ${brute.diff(banded)}")
    assert(brute.nonEmpty, "empty gate — vacuous completeness check")
  }

  test("full-corpus cluster pipeline labels every doc; planted dups co-cluster") {
    val labels = Dedup.queries("x_dedup_clusters_full")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(labels.size == total, "every document labeled")
    assert(labels.forall { case (doc, c) => c <= doc }, "cluster is a min label")
    assert(labels(12L) == labels(8L) && labels(50L) == labels(0L), s"planted pairs split: $labels")
  }

  test("pair-of-blocks simhash banding shrinks the candidate join") {
    val single = Dedup.simhashCandidates(spark, sf, pairBlocks = false).count()
    val pair = Dedup.simhashCandidates(spark, sf, pairBlocks = true).count()
    // completeness for hamming <= 6 is pinned by SimHashSpec (banded ==
    // all-pairs); here we pin the SCALE property — 16-bit keys collide
    // far less than 8-bit ones on the same corpus
    assert(pair < single, s"pair-of-blocks candidates $pair !< single-block $single")
  }

  test("derived minhash banding: gate corpus reproduces 8 bands x 4 rows, larger corpora tighten") {
    assert(LshTuning.minhashRowsPerBand(500) == 4 && LshTuning.minhashBands(4) == 8)
    assert(LshTuning.minhashRowsPerBand(100000) == 5 && LshTuning.minhashBands(5) == 16)
    assert(LshTuning.minhashRowsPerBand(300000000L) == 7 && LshTuning.minhashBands(7) == 64)
    // S-curve threshold (1/b)^(1/r) stays near the est_j >= 0.5 cut
    for (n <- Seq(500L, 100000L, 300000000L)) {
      val r = LshTuning.minhashRowsPerBand(n)
      val t = math.pow(1.0 / LshTuning.minhashBands(r), 1.0 / r)
      assert(t > 0.5 && t < 0.65, s"threshold $t drifted at corpus $n")
    }
  }

  test("degenerate-bucket cap drops only the hot bucket") {
    import spark.implicits._
    // 5 docs share a degenerate bucket key, 2 docs sit in healthy ones
    val blocks = (Seq.tabulate(5)(i => (i.toLong, 99L)) ++
      Seq((10L, 1L), (11L, 2L))).toDF("doc_id", "bv")
    val capped = Dedup.capBuckets(blocks, 3, "bv")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(capped == Set(10L, 11L), s"hot bucket not dropped: $capped")
    // generous default: nothing is dropped at corpus scale
    val all = Dedup.simhashCandidates(spark, sf, pairBlocks = true)
    val uncapped = Dedup.simhashCandidates(spark, sf, pairBlocks = true, maxBucket = Long.MaxValue)
    assert(all.count() == uncapped.count(), "default cap must not drop healthy buckets")
  }

  test("large-star/small-star needs far fewer rounds than propagation on a chain") {
    import spark.implicits._
    // a planted 33-node duplicate chain 0-1-2-…-32: min-label propagation
    // moves the 0 label one hop per round (O(diameter)); the star
    // algorithm collapses the chain in O(log n) rounds
    val docs = (0L to 32L).toDF("doc_id")
    val chain = (0L until 32L).map(i => (i, i + 1)).toDF("da", "db")
    val (pl, pRounds) = Dedup.propagateClusters(docs, chain)
    val (sl, sRounds) = Dedup.starClusters(docs, chain)
    val pLabels = pl.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sLabels = sl.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pLabels == (0L to 32L).map((_, 0L)).toSet)
    assert(sLabels == pLabels, "same component labels from both algorithms")
    assert(sRounds < pRounds,
      s"star rounds $sRounds !< propagation rounds $pRounds on a 33-chain")
    // singleton docs label themselves even with no edges at all
    val (lone, _) = Dedup.starClusters(Seq(7L, 9L).toDF("doc_id"),
      Seq.empty[(Long, Long)].toDF("da", "db"))
    assert(lone.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((7L, 7L), (9L, 9L)))
  }

  test("substring spans: maximal, coherent, and found on the planted near-dups") {
    val rows = Dedup.queries("x_dedup_substring_spans")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, s0, e, n) =>
      // a span holds n duplicated gram starts whose 8-token windows tile
      // it contiguously: at least one gram, at most one per position
      assert(e >= s0 + 7 && n >= 1 && n <= e - s0 - 6,
        s"doc $id span [$s0,$e] n=$n incoherent")
    }
    // token ranges within one doc are DISJOINT and non-adjacent — the
    // maximality contract a cut pass relies on (no token cut twice)
    rows.groupBy(_._1).foreach { case (id, sp) =>
      sp.sortBy(_._2).sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) =>
          assert(s2 > e1 + 1, s"doc $id spans overlap or touch: $e1 vs $s2")
        case _ =>
      }
    }
    // the planted near-duplicates (8 and 12 share nearly all text) must
    // surface repeated spans
    val ids = rows.map(_._1).toSet
    assert(ids.contains(8L) && ids.contains(12L), s"planted dups missing: $ids")
  }

  test("incremental dedup equals the full md5 pair table restricted to index x batch") {
    val full = Dedup.queries("x_dedup_minhash_md5")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = full.filter(p => p._1 < 400 && p._2 >= 400).groupBy(_._2).map {
      case (db, ps) => (db, ps.length.toLong, ps.map(_._1).min, ps.map(_._3).max)
    }.toSet
    val got = Dedup.queries("x_dedup_incremental")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expect, s"incremental ${got.size} rows != restricted full ${expect.size}")
    assert(got.nonEmpty, "no cross-boundary dups — gate is vacuous")
    // the banded key pipeline must be built ONCE and its exchange reused
    // by the candidate join's other side (side predicates live in the
    // join condition — pre-filtering the key table splits the subtree
    // and recomputes the signature pass per consumer, a measured 2.6×);
    // the sa/sb signature joins may re-derive signatures only from
    // doc_id-PRUNED scans (constraint propagation pushes the index/batch
    // predicate into parquet), never from a second full-corpus pass
    val df = Dedup.queries("x_dedup_incremental")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val keyPasses = p.linesIterator.count(_.contains("explode(array(struct(band"))
    assert(keyPasses == 1, s"band-key pipeline computed $keyPasses times:\n$p")
    assert(p.contains("ReusedExchange"), s"candidate join duplicated the key exchange:\n$p")
    val fullScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents") &&
        !l.contains("PushedFilters: [LessThan") && !l.contains("PushedFilters: [GreaterThanOrEqual"))
    assert(fullScans <= 1, s"$fullScans unpruned corpus scans:\n$p")
  }

  test("persisted-index incremental dedup matches the in-corpus split verdicts") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx").toString
    Dedup.writeMinhashIndex(spark, sf, dir, col("doc_id") < 400)
    val viaIndex = Dedup.incrementalDupsAgainstIndex(spark, sf, dir, col("doc_id") >= 400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val inCorpus = Dedup.md5IncrementalDups(spark, sf, cut = 400L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(viaIndex.nonEmpty, "no cross-boundary dups — gate is vacuous")
    assert(viaIndex.toSeq == inCorpus.toSeq,
      s"index path ${viaIndex.length} rows != split path ${inCorpus.length}")
  }

  test("bucketed index verdicts equal the broadcast path's") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx-b").toString
    Dedup.writeMinhashIndex(spark, sf, dir, col("doc_id") < 400)
    dropBucketedTables("dsx_mh")
    Dedup.writeMinhashIndexBucketed(spark, sf, "dsx_mh", buckets = 8,
      docFilter = col("doc_id") < 400)
    try {
      val broadcastPath = Dedup.incrementalDupsAgainstIndex(spark, sf, dir, col("doc_id") >= 400)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val bucketedPath = Dedup.incrementalDupsAgainstBucketedIndex(spark, sf, "dsx_mh", col("doc_id") >= 400)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(broadcastPath.nonEmpty, "no cross-boundary dups — gate is vacuous")
      assert(bucketedPath.toSeq == broadcastPath.toSeq,
        s"bucketed ${bucketedPath.length} rows != broadcast ${broadcastPath.length}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS dsx_mh_sig")
      spark.sql("DROP TABLE IF EXISTS dsx_mh_keys")
      spark.sql("DROP TABLE IF EXISTS dsx_mh_counts")
    }
  }

  test("minhash index append: folded crawl probes like a union rebuild; key files untouched") {
    import org.apache.spark.sql.functions.col
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    dropBucketedTables("mha")
    dropBucketedTables("mhu")
    // base index over the first 250 docs; fold [250, 400) as a crawl;
    // probe the remainder (the gate corpus holds 500 docs, and the
    // >= 400 probe is the split the sibling tests prove non-vacuous)
    Dedup.writeMinhashIndexBucketed(spark, sf, "mha", buckets = 8,
      docFilter = col("doc_id") < 250)
    def keyFiles(): Set[String] =
      Option(new java.io.File(warehouse, "mha_keys").listFiles())
        .map(_.filter(_.getName.endsWith(".parquet")).map(_.getName).toSet)
        .getOrElse(Set.empty)
    val before = keyFiles()
    Dedup.appendMinhashIndexBucketed(
      spark.read.parquet(s"$sf/documents.parquet")
        .filter(col("doc_id") >= 250 && col("doc_id") < 400)
        .select("doc_id", "text"), "mha")
    assert(before.subsetOf(keyFiles()), "append rewrote existing key files")
    assert(keyFiles().size > before.size, "append must add key files")
    Dedup.writeMinhashIndexBucketed(spark, sf, "mhu", buckets = 8,
      docFilter = col("doc_id") < 400)
    try {
      def probe(prefix: String) = Dedup
        .incrementalDupsAgainstBucketedIndex(spark, sf, prefix, col("doc_id") >= 400)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val got = probe("mha")
      val want = probe("mhu")
      assert(want.nonEmpty, "no cross-boundary dups — gate is vacuous")
      assert(got == want, s"appended-index probe diverged from the union rebuild:\n" +
        s"appended: ${got.take(5)}…\nrebuild: ${want.take(5)}…")
      // the folded crawl itself is reachable: some verdict names a doc
      // from the APPENDED range as the duplicate's keeper/evidence side
      // is already covered by got==want; pin counts integrity directly
      val dup = spark.table("mha_counts").groupBy("band", "bh").count()
        .filter(col("count") > 1).count()
      assert(dup == 0, "counts must hold exactly one merged row per bucket")
    } finally { dropBucketedTables("mha"); dropBucketedTables("mhu") }
  }

  test("minhash index append: the joint cap bound survives the fold") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-hotappend").toString
    // 6 hot copies in the base, 3 more folded in, 7 probing: the probe's
    // joint bound sees 6+3+7 = 16 > cap 10 and must drop the bucket —
    // exactly what a rebuild over base+fold would do — while the control
    // group (2+1+3 = 6) keeps its verdicts
    val hotText = "aaa bbb ccc ddd eee fff"
    val okText = "xxx yyy zzz www vvv uuu"
    val docs =
      (0L until 6L).map((_, hotText)) ++ Seq(10L, 11L).map((_, okText)) ++
        (100L until 103L).map((_, hotText)) ++ Seq(110L).map((_, okText)) ++
        (200L until 207L).map((_, hotText)) ++ Seq(210L, 211L, 212L).map((_, okText))
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val cap = 10L
    dropBucketedTables("mhj")
    dropBucketedTables("mhjr")
    Dedup.writeMinhashIndexBucketed(spark, dir, "mhj", buckets = 4,
      docFilter = col("doc_id") < 100, cap = cap)
    Dedup.appendMinhashIndexBucketed(
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") >= 100 && col("doc_id") < 200).select("doc_id", "text"),
      "mhj", cap = cap)
    Dedup.writeMinhashIndexBucketed(spark, dir, "mhjr", buckets = 4,
      docFilter = col("doc_id") < 200, cap = cap)
    try {
      def probe(prefix: String) = Dedup
        .incrementalDupsAgainstBucketedIndex(spark, dir, prefix, col("doc_id") >= 200, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val got = probe("mhj")
      val want = probe("mhjr")
      assert(got == want, s"appended probe diverged from rebuild:\n$got\nvs\n$want")
      assert(got.map(_._1) == Seq(210L, 211L, 212L),
        s"hot bucket must drop (joint 16 > 10) and the control group survive: $got")
    } finally { dropBucketedTables("mhj"); dropBucketedTables("mhjr") }
  }

  test("minhash reclaim converges under retry: the counts adjustment is a fixpoint") {
    // an interrupted reclaim (Spark job failure after the counts swap,
    // before the keys compaction) releases the write intent and a
    // restarted maintainer re-runs the whole verb — the adjustment must
    // therefore be IDEMPOTENT. The old implementation subtracted the
    // tombstoned contributions and double-subtracted on retry; the
    // recount from post-exclusion keys lands on the same totals from
    // any interruption point.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    dropBucketedTables("mhi")
    dropBucketedTables("mhir")
    spark.sql(s"DROP TABLE IF EXISTS ${graft.Takedown.tombTable("mhi")}")
    Dedup.writeMinhashIndexBucketed(spark, sf, "mhi", buckets = 8,
      docFilter = col("doc_id") < 400)
    try {
      val victim = spark.table("mhi_keys").select("doc_id").head().getLong(0)
      graft.Takedown.add(spark, "mhi", Seq(victim).toDF("id"))
      // bh is BINARY (round 20): compare by value, not Array reference
      def countsSnap(prefix: String) =
        spark.table(s"${prefix}_counts").collect()
          .map(_.toSeq.map {
            case b: Array[Byte] => b.toSeq
            case x => x
          }).toSet
      // attempt 1 dies right after its counts swap
      Dedup.swapCountsTable(spark, "mhi", Dedup.reclaimedCounts(spark, "mhi"))
      val once = countsSnap("mhi")
      // the retry recomputes the adjustment from the already-adjusted
      // state — must be a fixpoint, not a second subtraction
      Dedup.swapCountsTable(spark, "mhi", Dedup.reclaimedCounts(spark, "mhi"))
      assert(countsSnap("mhi") == once,
        "re-applied counts adjustment diverged — the retry double-counts")
      // and the retried FULL verb still converges to the rebuild
      Dedup.reclaimMinhashIndex(spark, "mhi")
      Dedup.writeMinhashIndexBucketed(spark, sf, "mhir", buckets = 8,
        docFilter = col("doc_id") < 400 && col("doc_id") =!= victim)
      assert(countsSnap("mhi") == countsSnap("mhir"),
        "retried reclaim must land on the rebuild-without-the-doc counts")
    } finally { dropBucketedTables("mhi"); dropBucketedTables("mhir") }
  }

  test("planted hot bucket: one JOINT cap bound shared by split, broadcast-index, and bucketed-index paths") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-hotbucket").toString
    // 7 index + 7 increment copies of the hot text: UNDER the cap (10)
    // per side, OVER it jointly — the exact shape that used to survive
    // the index paths' per-side cap while the in-corpus split dropped it
    val hotText = "aaa bbb ccc ddd eee fff"
    val okText = "xxx yyy zzz www vvv uuu"
    val docs =
      (0L until 7L).map((_, hotText)) ++ (100L until 107L).map((_, hotText)) ++
        Seq(10L, 11L, 12L).map((_, okText)) ++ Seq(110L, 111L, 112L).map((_, okText))
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val cap = 10L
    val idx = java.nio.file.Files.createTempDirectory("graft-hotbucket-idx").toString
    Dedup.writeMinhashIndex(spark, dir, idx, col("doc_id") < 100, cap)
    dropBucketedTables("dsx_hot")
    Dedup.writeMinhashIndexBucketed(spark, dir, "dsx_hot", buckets = 4,
      docFilter = col("doc_id") < 100, cap = cap)
    try {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val split = rows(Dedup.md5IncrementalDups(spark, dir, cut = 100L, cap = cap))
      val bcast = rows(Dedup
        .incrementalDupsAgainstIndex(spark, dir, idx, col("doc_id") >= 100, cap))
      val buck = rows(Dedup
        .incrementalDupsAgainstBucketedIndex(spark, dir, "dsx_hot", col("doc_id") >= 100, cap))
      // the hot group is dropped (joint 14 > 10); the control group (3+3,
      // joint 6) keeps its verdicts — in ALL three paths, identically
      assert(split.map(_._1) == Seq(110L, 111L, 112L),
        s"split path verdicts wrong (hot bucket leaked or control lost): $split")
      assert(bcast == split, s"broadcast-index path diverged:\nindex: $bcast\nsplit: $split")
      assert(buck == split, s"bucketed-index path diverged:\nbucketed: $buck\nsplit: $split")
      // non-vacuous: with the cap out of the way the hot group IS a dup group
      val uncapped = rows(Dedup.md5IncrementalDups(spark, dir, cut = 100L, cap = 1000L))
      assert(uncapped.exists(_._1 < 110L), "planted hot bucket produced no dups uncapped")
    } finally {
      for (t <- Seq("dsx_hot_sig", "dsx_hot_keys", "dsx_hot_counts"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("semantic dedup: total, shadowed-by-lower-id, kept set pairwise below tau") {
    val rows = Dedup.queries("x_dedup_semantic")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
    // every corpus vector classified exactly once
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.length.toLong == n && rows.map(_._1).distinct.length.toLong == n)
    val cell = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { case (v, cid, dup, keep) =>
      assert(keep == dup.isEmpty, s"$v: keep=$keep but dup_of=$dup")
      dup.foreach { d =>
        assert(d < v, s"$v shadowed by non-lower $d")
        assert(cell(d) == cid, s"$v shadowed across cells: $d in ${cell(d)} != $cid")
      }
    }
    // non-vacuous: the calibrated tau prunes something on the gate corpus
    val pruned = rows.filter(!_._4)
    assert(pruned.nonEmpty, "tau prunes nothing — gate is vacuous")
    // survivor contract: no kept pair within one cell reaches tau (any
    // such pair would have shadowed its higher id); recompute cosines
    // driver-side from the raw embeddings
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / math.sqrt(na * nb)
    }
    for {
      (_, mates) <- rows.filter(_._4).groupBy(_._2)
      Array((va, _, _, _), (vb, _, _, _)) <- mates.sortBy(_._1).combinations(2)
    } assert(cos(emb(va), emb(vb)) < 0.40, s"kept pair ($va,$vb) reaches tau")
    // and a pruned row really is within tau of its shadow
    pruned.foreach { case (v, _, Some(d), _) =>
      assert(cos(emb(d), emb(v)) >= 0.40, s"($d,$v) marked dup below tau")
    case other => fail(s"pruned row without dup_of: $other")
    }
  }

  test("incremental cluster labels: append over old labels == full rebuild") {
    import org.apache.spark.sql.functions._
    val docs = graft.Engine.table(spark, sf, "documents").select("doc_id")
    val allPairs = Dedup.queries("x_dedup_minhash_md5")(spark, sf).select("da", "db")
    val oldPairs = allPairs.filter(col("db") < 400)
    val newPairs = allPairs.filter(col("db") >= 400)
    assert(newPairs.count() > 0, "vacuous: the increment must bring new edges")
    val (oldLabels, _) = Dedup.starClusters(docs.filter(col("doc_id") < 400), oldPairs)
    val got = Dedup.appendClusterLabels(
      oldLabels, docs.filter(col("doc_id") >= 400), newPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Dedup.starClusters(docs, allPairs)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"append-only=${got -- want}; rebuild-only=${want -- got}")
    // totality over the union corpus
    assert(got.map(_._1) == (0L until docs.count()).toSet)
  }

  test("bloom-accelerated exact dedup: sketch never changes the verdicts, and it prunes") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.queries("x_dedup_bloom_exact")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // ground truth: the unfiltered exact cross-boundary join
    val docs = graft.Engine.table(spark, sf, "documents")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val history = docs.toMap
    val want = docs.filter(_._1 % 50 == 0).map { case (id, t) =>
      val matches = history.filter(_._2 == t).keys
      (id + 1000000L, matches.size.toLong, matches.min)
    }.toSet
    assert(rows == want, s"bloom path diverged: only=${rows -- want} missing=${want -- rows}")
    assert(rows.nonEmpty, "vacuous: the recrawl increment must duplicate history")
    // the sketch actually prunes: replay the filter over history and
    // count survivors — far fewer than the full history scan
    graft.functions.Bloom.register(spark)
    val inc = graft.Engine.table(spark, sf, "documents")
      .filter(col("doc_id") % 50 === 0).select(col("text"))
    val bf = inc.agg(expr("bloom_agg(xxhash64(text), CAST(16 AS BIGINT), CAST(4096 AS BIGINT))"))
      .collect()(0).getAs[Array[Byte]](0)
    val survivors = graft.Engine.table(spark, sf, "documents")
      .filter(expr(s"bloom_contains(X'${bf.map("%02x".format(_)).mkString}', xxhash64(text))"))
      .count()
    assert(survivors < docs.length / 2,
      s"filter passed $survivors of ${docs.length} history rows — not pruning")
  }

  test("edit-distance verify: exactly the LSH pairs, exact dups at 0, driver-side DP recompute") {
    val rows = Dedup.queries("x_dedup_editdist")(spark, sf).collect()
    val mh = Dedup.queries("x_dedup_minhash_md5")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == mh.keySet,
      "verify stage must keep exactly the discovery stage's pairs")
    val texts = graft.Engine.table(spark, sf, "documents")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      val cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        Array.copy(cur, 0, prev, 0, cur.length)
      }
      prev(b.length)
    }
    rows.foreach { r =>
      val (da, db) = (r.getLong(0), r.getLong(1))
      val (dist, rel, dup) = (r.getLong(3), r.getDouble(4), r.getBoolean(5))
      assert(r.getDouble(2) == mh((da, db)), "est_j must carry over unchanged")
      assert(rel >= 0.0 && rel <= 1.0)
      assert((dist == 0L) == (texts(da) == texts(db)),
        s"($da,$db): dist $dist vs text equality ${texts(da) == texts(db)}")
      assert(dup == (rel <= 0.3))
      assert(dist == lev(texts(da), texts(db)).toLong,
        s"($da,$db): engine distance $dist != DP recompute")
    }
    assert(rows.exists(_.getBoolean(5)), "vacuous: no verified duplicate at gate scale")
  }

  test("substring rewrite: matches a driver-side gram-coverage recompute, total") {
    val rows = Dedup.queries("x_dedup_rewrite")(spark, sf).collect()
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == texts.size, "one output row per document")
    // ground truth on gram STRINGS (collision-free by construction, so
    // it cross-checks the engine's md5long60 hashing too)
    val K = 8
    val ws = texts.map { case (id, t) => id -> t.split(" ") }
    val gramDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    ws.foreach { case (id, w) =>
      w.sliding(K).filter(_.length == K)
        .foreach(g => gramDocs.getOrElseUpdate(g.mkString(" "),
          scala.collection.mutable.Set.empty) += id)
    }
    val dup = gramDocs.collect { case (g, ds) if ds.size >= 2 => g }.toSet
    val expected = ws.map { case (id, w) =>
      val covered = w.sliding(K).zipWithIndex
        .collect { case (g, i) if g.length == K && dup(g.mkString(" ")) => i }
        .flatMap(i => i until i + K).toSet
      val clean =
        if (covered.isEmpty) texts(id)
        else w.zipWithIndex.collect { case (x, i) if !covered(i) => x }.mkString(" ")
      id -> ((covered.size.toLong, clean))
    }
    rows.foreach { r =>
      val (want, wantText) = expected(r.getLong(0))
      assert(r.getLong(1) == want, s"doc ${r.getLong(0)}: n_removed ${r.getLong(1)} != $want")
      assert(r.getString(2) == wantText, s"doc ${r.getLong(0)}: rewritten text diverges")
    }
    assert(rows.exists(_.getLong(1) > 0), "vacuous: nothing removed at gate scale")
    assert(rows.exists(_.getLong(1) == 0), "vacuous: no untouched passthrough doc")
  }

  test("gram index: increment rewrite == full rebuild on the increment; append == rebuilt index") {
    import org.apache.spark.sql.functions._
    // the warehouse dir outlives the in-memory catalog across JVM runs —
    // drop catalog entries AND orphaned locations (the r10 full-suite
    // flake: a crashed prior run left t_subidx_grams on disk)
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("t_subidx_grams", "t_subidx_full_grams")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val inc = docs.filter(col("doc_id") >= 400)
    Dedup.writeGramIndex(spark, sf, "t_subidx", docFilter = col("doc_id") < 400)
    val viaIndex = Dedup.rewriteAgainstGramIndex(inc, "t_subidx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    val viaFull = Dedup.queries("x_dedup_rewrite")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .filter(_._1 >= 400).sortBy(_._1).toSeq
    assert(viaIndex == viaFull,
      "increment rewrite against the frozen index must equal the full-corpus rewrite " +
        s"restricted to the increment (first diff: ${
          viaIndex.zip(viaFull).find { case (a, b) => a != b }})")
    assert(viaIndex.exists(_._2 > 0), "vacuous: increment removed nothing")
    // append: the folded index equals a rebuilt full-corpus index exactly
    val before = spark.table("t_subidx_grams").inputFiles.toSet
    Dedup.appendGramIndex(inc, "t_subidx")
    assert(spark.table("t_subidx_grams").inputFiles.toSet.intersect(before) == before,
      "append must never rewrite existing index files")
    Dedup.writeGramIndex(spark, sf, "t_subidx_full")
    val appended = spark.table("t_subidx_grams").collect().map(_.getLong(0)).toSet
    val rebuilt = spark.table("t_subidx_full_grams").collect().map(_.getLong(0)).toSet
    assert(appended == rebuilt, "appended index must equal a full rebuild bit-for-bit")
  }

  test("counted gram index: takedown decrements in place == rebuild-without-doc, existing files untouched") {
    import org.apache.spark.sql.functions._
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("gdfidx_gramdf", "gdfref_gramdf", "gdflive_grams")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    spark.sql(s"DROP TABLE IF EXISTS ${graft.Takedown.tombTable("gdfidx")}")
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    Dedup.writeGramIndexCounted(spark, sf, "gdfidx", docFilter = col("doc_id") < 400)
    // two deliberately different victims: doc 0's grams are ALL shared
    // with live docs (the planted dup family — in-place decrement must
    // keep them alive, where a naive row-delete would kill them), doc
    // 149's grams are all unique to it (they must die with it)
    val victims = Seq(0L, 149L)
    import spark.implicits._
    graft.Takedown.add(spark, "gdfidx", victims.toDF("doc_id"))
    val filesBefore = spark.table("gdfidx_gramdf").inputFiles.toSet
    Dedup.reclaimGramIndexCounted(docs.filter(col("doc_id") < 400), "gdfidx")
    assert(spark.table("gdfidx_gramdf").inputFiles.toSet.intersect(filesBefore) == filesBefore,
      "takedown must only append decrement deltas, never rewrite existing files")
    assert(!graft.Takedown.pending(spark, "gdfidx"), "ledger must clear after reclaim")
    // live membership == a fresh counted build over the corpus minus the victims
    Dedup.writeGramIndexCounted(spark, sf, "gdfref",
      docFilter = col("doc_id") < 400 && !col("doc_id").isin(victims: _*))
    val live = Dedup.liveGrams(spark, "gdfidx").collect().map(_.getLong(0)).toSet
    val ref = Dedup.liveGrams(spark, "gdfref").collect().map(_.getLong(0)).toSet
    assert(live == ref, s"takedown != rebuild-without-doc (sym diff ${(live diff ref).size + (ref diff live).size})")
    // two-sided: some victim grams died, some survived via live sharers
    val victimGrams = Dedup.gramStream(docs.filter(col("doc_id").isin(victims: _*)))
      .select("h").collect().map(_.getLong(0)).toSet
    assert(victimGrams.exists(!live(_)), "vacuous: no gram died with its only doc")
    assert(victimGrams.exists(live), "vacuous: no victim gram shared with a live doc")
    // probe equality: increment rewrite against the counted index equals
    // the membership index built directly on the live set
    val inc = docs.filter(col("doc_id") >= 400)
    Dedup.writeGramIndex(spark, sf, "gdflive",
      docFilter = col("doc_id") < 400 && !col("doc_id").isin(victims: _*))
    val viaCounted = Dedup.rewriteAgainstGramIndexCounted(inc, "gdfidx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    val viaMembership = Dedup.rewriteAgainstGramIndex(inc, "gdflive").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    assert(viaCounted == viaMembership, "counted-index rewrite must equal the membership path")
    assert(viaCounted.exists(_._2 > 0), "vacuous: increment removed nothing")
    // compaction collapses the ledger without changing membership
    Dedup.compactGramIndexCounted(spark, "gdfidx")
    assert(Dedup.liveGrams(spark, "gdfidx").collect().map(_.getLong(0)).toSet == live,
      "compaction changed the live membership")
    val dfs = spark.table("gdfidx_gramdf").collect()
    assert(dfs.forall(_.getLong(1) > 0), "compaction left non-positive df rows")
  }

  test("gram index compaction: appended file groups collapse, rewrite verdicts unchanged") {
    import org.apache.spark.sql.functions._
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    spark.sql("DROP TABLE IF EXISTS gcmp_grams")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, "gcmp_grams"))
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    Dedup.writeGramIndex(spark, sf, "gcmp", docFilter = col("doc_id") < 300)
    Dedup.appendGramIndex(docs.filter(col("doc_id") >= 300 && col("doc_id") < 400), "gcmp")
    Dedup.appendGramIndex(docs.filter(col("doc_id") >= 400), "gcmp")
    // the probe increment: verbatim copies of indexed docs under fresh
    // ids — every gram is a history hit, so the rewrite cuts heavily
    val probeDocs = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
    def probe() = Dedup.rewriteAgainstGramIndex(probeDocs, "gcmp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    val before = probe()
    assert(before.exists(_._2 > 0), "vacuous: probe removed nothing")
    val grams = spark.table("gcmp_grams").collect().map(_.getLong(0)).toSet
    def files(): Int =
      Option(new java.io.File(warehouse, "gcmp_grams").listFiles()).map(
        _.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    def spec() = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("gcmp_grams"))
      .bucketSpec.get
    val (filesBefore, specBefore) = (files(), spec())
    def audit() = graft.Engine.bucketFileAudit(spark, "gcmp_grams", maxGroups = 1.5).head()
    assert(audit().getLong(3) >= 2,
      s"build + appends must stack >= 2 groups on some bucket (audit: ${audit()})")
    assert(audit().getBoolean(4), "audit must recommend compaction after appends")
    graft.Engine.compactBucketedTable(spark, "gcmp_grams")
    assert(!audit().getBoolean(4), "audit must clear after compaction")
    assert(spec() == specBefore, "bucket+sort spec must survive compaction")
    assert(files() < filesBefore, s"compaction must reduce the file count (was $filesBefore)")
    assert(spark.table("gcmp_grams").collect().map(_.getLong(0)).toSet == grams,
      "compaction changed the gram set")
    assert(probe() == before, "compaction changed rewrite verdicts")
    spark.sql("DROP TABLE IF EXISTS gcmp_grams")
  }
}
