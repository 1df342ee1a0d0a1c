package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + testdata helpers shared by Verify / Bench / tests.
  *
  * Scale posture: every knob here is chosen so the same code runs unchanged
  * on a real cluster — AQE on (runtime re-planning, skew-join splitting),
  * shuffle partitions sized for local[32] via config (a cluster submit
  * overrides them), broadcast threshold left at default so Catalyst promotes
  * dimension tables (region/nation/...) automatically.
  */
object Engine {

  /** Entries in Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache is
    * keyed by the generated Java source and evicts the least recently
    * used entry, so a workload that cycles through more distinct classes
    * than it holds never hits: one pass of the perfbench `driver_batch`
    * queries needs ~314 classes and, under the default, recompiled ~204
    * of them with Janino on every pass. A `Verify` run of all 172
    * queries compiles 2,743 distinct classes; 4096 holds them all. Each
    * entry keeps its source and bytecode, ~16 KB, so a session that ran
    * the whole query surface holds ~45 MB of cache. It is a static conf,
    * read once when code generation first runs in the JVM: the first
    * session built decides it, which is why the test session applies
    * the same value. */
  val CodegenCacheMaxEntries: Int = 4096

  def session(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // start shuffles WIDE and let AQE coalesce down to its advisory
      // size: with a fixed 32, a corpus-scale exchange (the
      // substring-rewrite gram sort at 1024×, the sessionization sort)
      // lands 100s-of-MB partitions that spill through the executor
      // budget, while wide-then-coalesce right-sizes partitions at ANY
      // scale — the same knob a production cluster submit would set.
      // 128 default, 512 for corpus-scale submits: the r16 A/B
      // (AB_BPE_r16) measured 512 as pure scheduling tax on the
      // many-small-exchange queries (the vocabulary chains, the ivf2
      // probe stacks — ~0.3 s of empty tasks per query), but the r17
      // sweep CONFIRMED the converse at depth: at 128 the two
      // corpus-scale sorts spill again at the deep octaves
      // (dedup_rewrite 17.9 GB at 1024×, events_sessions 1.5 GB at
      // 256× — the exact pipelines this comment has always named), so
      // the initial width is genuinely DATA-SIZED, not a constant.
      // Locally the gate corpora get 128; ScaleBench — emulating the
      // cluster submit whose data is octaves bigger — sets the
      // sys-prop seam to 512, exactly the per-submit --conf a real
      // deployment passes (at 100 TB an operator sizes this to
      // largest-exchange-bytes / the 16 MB advisory).
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.props.get("graft.initPartitions")
          .orElse(sys.env.get("SPARK_GRAFT_INIT_PARTITIONS")).getOrElse("128"))
      // coalesce target: 16 MB of COMPRESSED shuffle bytes per
      // partition. Text/gram relations decompress 3-5×, so the default
      // 64 MB advisory hands each reduce task ~200+ MB to sort against
      // a ~150 MB fair share of the unified region (8 GB heap / 32
      // concurrent tasks) — guaranteed external-sort spill on every
      // corpus-scale sort (the rewrite's gram window, sessionization).
      // 16 MB keeps the post-decompression sort inside task memory at
      // the measured scales and costs only more (cheap) tasks.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_BYTES", "16m"))
      // AQE coalescing keeps Spark's parallelism-first DEFAULT (true),
      // measured, not assumed: the r19 position-matched A/B (two full
      // bench pairs in both orders, min per config) read false as a ~5%
      // whole-bench LOSS (147.1 s vs 139.1 s). Spark's docs recommend
      // false "in production" to respect the byte advisory, but this
      // engine's exchanges are frequently CPU-DENSE at tiny byte sizes
      // (per-word segmentation DP, Levenshtein verify, per-merge
      // vocabulary rewrites) — byte-based coalescing collapses those to
      // one task (x_text_wordpiece_fertility 2.77 s vs 1.50 s in the
      // A/B) while the byte-heavy exchanges the advisory exists for are
      // already data-sized at scale. Env knob kept so a 100 TB submit
      // whose exchanges ARE byte-bound can flip it per-job.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_COALESCE_PARALLELISM_FIRST", "true"))
      // scan-split budget, same arithmetic as the advisory size but for
      // the MAP side: documents-style text compresses 3-5× (the derived
      // scale corpora far more), and a generator fan-out (8-gram
      // explode, per-asset media decode) multiplies each split's mass
      // again — a 128 MB split of compressed text hands one map task
      // hundreds of MB of exploded rows (measured: the map-side
      // sort-agg spill and the serial 1024× decode both trace to
      // under-split scans). 16 MB keeps fan-out output per task inside
      // memory and decode parallelism at the corpus's file count.
      // (all three right-sizing knobs take env overrides — the local
      // stand-in for the per-submit `--conf` a cluster deployment would
      // pass; also what lets the regression harness A/B one knob in an
      // otherwise identical JVM)
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // ObjectHashAggregate (collect_list/collect_set and friends)
      // falls back to SORT-based aggregation after a mere 128 distinct
      // groups per task — and the fallback external-sorts every INPUT
      // row (measured on the tokenize_serve gather: 192M occurrence
      // rows re-sorted, 16.6 GB of spill at 256× for an aggregate
      // whose TOTAL state is the ~2 GB output mass). With AQE's 16 MB
      // advisory a task sees ~1-2k groups, each state output-sized —
      // hash aggregation holds them in memory by construction. 64k
      // keeps every doc-gather hash-based at any measured scale while
      // still bounding a pathological high-cardinality aggregate.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        sys.env.getOrElse("SPARK_GRAFT_OBJ_AGG_FALLBACK", "65536"))
      // compile each generated class once per JVM rather than once per
      // execution: the default 100-entry cache is smaller than one pass
      // over the query surface (see CodegenCacheMaxEntries). Measured on
      // a 4-core host: perfbench `driver_batch` pass CPU fell 22 %, and
      // Janino frames fell from 13 % of its profile samples to 0.7 %.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries.toLong)
      // the SQL status store keeps the plan graph and metrics of the last
      // 1000 executions by default, although the UI is off and nothing
      // reads it; a 3-pass `driver_batch` run held 2.6 MB less live heap
      // with 20
      .config("spark.sql.ui.retainedExecutions", 20L)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts has shipped as both parquet timestamp[ns] and
      // timestamp[us] across testdata generations; keep ns readable as
      // long so Events.usFor can dispatch on whichever layout arrives
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Load one driver-generated parquet table from a scale-factor dir. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Materialize a bounded multi-consumer relation ONCE, eagerly, so N
    * downstream consumers (including driver-side id collects) never
    * re-run its subtree — the shared compute-once primitive behind the
    * split-stability pair discovery, the pHash signature relation, the
    * star-fixpoint rounds and the ANN/BM25 probe relations.
    *
    * Default: `localCheckpoint()` — fastest, but NOT fault-tolerant:
    * lineage is truncated and the blocks live unreplicated on executor
    * local storage, so on a real cluster one lost executor mid-query
    * kills the job unrecoverably. That is the right trade in a
    * single-process deployment (local[n], the bench posture) and the
    * wrong one on a preemptible fleet, so `SPARK_GRAFT_RELIABLE_PERSIST=1`
    * (a per-submit --conf stand-in) switches every site to
    * `persist(MEMORY_AND_DISK)` forced eager by a count: blocks are
    * recomputable from lineage on executor loss. Reliable-mode callers
    * in loops must [[release]] the previous round's relation (persisted
    * blocks are CacheManager-held until unpersist); localCheckpoint
    * blocks are GC'd by the ContextCleaner once unreferenced, so
    * [[release]] is a no-op there. A materialized relation returned to
    * consumers stays resident until those consumers finish — in
    * reliable mode, until session end unless the caller releases it. */
  def materialize(df: DataFrame): DataFrame =
    if (reliablePersist) {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    } else df.localCheckpoint()

  /** Release a relation obtained from [[materialize]] once every
    * consumer is done with it. Only meaningful in reliable-persist mode
    * (see [[materialize]]); the localCheckpoint default relies on the
    * ContextCleaner instead. */
  def release(df: DataFrame): Unit =
    if (reliablePersist) { df.unpersist(blocking = false); () }

  private def reliablePersist: Boolean =
    sys.env.get("SPARK_GRAFT_RELIABLE_PERSIST").contains("1")

  /** Crash-safe managed-table overwrite: a JVM that died between
    * materializing a managed table's files and registering it leaves an
    * orphaned warehouse location, and the NEXT overwrite then fails with
    * LOCATION_ALREADY_EXISTS (the in-memory catalog forgot the table,
    * the directory survived). Every index/model writer reclaims — drop
    * any catalog entry AND the orphaned location — before rewriting, so
    * a rebuild always succeeds regardless of how its predecessor died. */
  def reclaimManagedTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val loc = new java.io.File(warehouse, table.toLowerCase(java.util.Locale.ROOT))
    if (loc.exists()) {
      org.apache.hadoop.fs.FileUtil.fullyDelete(loc)
      ()
    }
  }

  /** WRITE-INTENT guard for the swap lifecycle. Every index family's
    * maintenance verbs (append, compact/reclaim, refit) share the same
    * failure mode: their staging-swap windows (DROP+RENAME, counts
    * merge, tombstone clear) assume a SINGLE writer per table prefix,
    * and a second maintainer interleaving with the first corrupts
    * silently — a half-renamed family, a counts table that lost an
    * increment, tombstones cleared without being applied. This guard
    * turns that silent corruption into a LOUD failure: each mutating
    * verb takes a prefix-scoped intent marker before touching any
    * table and releases it after the swap completes; a second writer
    * finding the marker throws immediately.
    *
    * The marker is an atomically-created file under the warehouse dir.
    * The primitive is chosen per filesystem: on a DISTRIBUTED
    * warehouse the Hadoop `create(path, overwrite = false)` IS the
    * atomic create-exclusive (HDFS arbitrates at the NameNode — two
    * drivers racing one prefix is exactly the cluster scenario); on a
    * LOCAL warehouse that same call is CHECK-THEN-CREATE inside
    * RawLocalFileSystem and two threads can both pass the exists probe
    * (found by the TakedownSpec two-thread race test, not
    * hypothesized), so the local path uses `File.createNewFile` —
    * O_CREAT|O_EXCL, the kernel-atomic arbiter.
    * A JVM that dies mid-maintenance leaves
    * the marker behind DELIBERATELY: the family's tables may be
    * mid-swap, so the next writer failing loud until an operator
    * inspects and [[clearWriteIntent]]s is the correct posture — the
    * marker names the interrupted operation to aid that triage.
    *
    * `holdOnFailure` extends that posture to IN-JVM exceptions: a
    * multi-table reclaim/refit verb that throws between its sibling
    * swaps leaves the family mid-swap exactly like a process death
    * would, so those verbs POISON the marker (its content names the
    * failed op and exception) and keep it — the next maintainer fails
    * loud until an operator verifies the family and clears. Without it
    * (the default, right for single-table appends whose partial work
    * is at most a harmless staging table), the marker releases on any
    * exit so a transient failure does not brick the prefix.
    * Scope: one marker per table PREFIX (family), not per table — a
    * family's swap invariants span its sibling tables. Reentrancy is
    * the caller's job: public verbs guard, internals compose unguarded
    * (the foreachBatch bodies of the maintained ingests call several
    * guarded verbs SEQUENTIALLY, which is fine — they never nest). */
  def withWriteIntent[T](spark: SparkSession, prefix: String, op: String = "maintenance",
      holdOnFailure: Boolean = false)(
      body: => T): T = {
    val p = intentPath(spark, prefix)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def conflict(cause: Throwable): Nothing =
      throw new IllegalStateException(
        s"write-intent conflict on prefix '$prefix': another maintainer holds " +
        s"${p} (or died mid-operation and left it). Two concurrent maintainers " +
        "on one index family corrupt its swap windows; serialize them, or run " +
        s"Engine.clearWriteIntent after verifying the family's tables. [$op]", cause)
    if (fs.getScheme == "file") {
      // O_CREAT|O_EXCL via the JDK — Hadoop's RawLocalFileSystem
      // create(overwrite=false) is exists()-then-create and loses races
      val f = new java.io.File(p.toUri.getPath)
      Option(f.getParentFile).foreach(_.mkdirs())
      val won = try f.createNewFile() catch { case e: java.io.IOException => conflict(e) }
      if (!won) conflict(null)
      try java.nio.file.Files.write(f.toPath,
        op.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: java.io.IOException => () }
    } else {
      val out = try fs.create(p, false) catch { case e: java.io.IOException => conflict(e) }
      try { out.writeBytes(op); out.close() } catch { case _: java.io.IOException => () }
    }
    // the marker release runs OUTSIDE the body's failure scope: a
    // failed delete after a SUCCESSFUL body must not poison the marker
    // with a "FAILED" note (the family is healthy — only the release
    // hiccuped; the stale marker's op-name content is the right triage
    // signal for that), so the poison path keys off bodyDone, not off
    // which statement threw.
    var bodyDone = false
    try { val r = body; bodyDone = true; fs.delete(p, false); r }
    catch {
      case e: Throwable if bodyDone => throw e
      case e: Throwable =>
        if (holdOnFailure) {
          // poison, don't release: the family may be mid-swap. Content
          // names the failed op + cause for the operator's triage.
          val note = s"$op FAILED: ${e.getClass.getName}: ${e.getMessage}"
          try {
            if (fs.getScheme == "file")
              java.nio.file.Files.write(
                java.nio.file.Paths.get(p.toUri.getPath),
                note.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            else { val out = fs.create(p, true); out.writeBytes(note); out.close() }
          } catch { case _: java.io.IOException => () }
        } else { fs.delete(p, false); () }
        throw e
    }
  }

  /** Operator verb for a marker left by a maintainer that died
    * mid-operation — clear ONLY after verifying the family's tables
    * (no `__compact`/`__refit`/`__merge` staging leftovers, sibling
    * tables mutually consistent). */
  def clearWriteIntent(spark: SparkSession, prefix: String): Unit = {
    val p = intentPath(spark, prefix)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, false)
    ()
  }

  private def intentPath(spark: SparkSession, prefix: String): org.apache.hadoop.fs.Path = {
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    new org.apache.hadoop.fs.Path(warehouse,
      s"${prefix.toLowerCase(java.util.Locale.ROOT)}__intent")
  }

  /** Compact a bucketed managed parquet table in place. Every
    * bucketed-append writer in this engine (appendPhashIndex,
    * appendBm25Postings, appendPqCodes, appendGramIndex, …) adds one
    * file GROUP per append × bucket — correct (bucket pruning and
    * exchange-free joins hold across any number of groups) but a
    * daily-crawl index accumulates files linearly in appends, and at
    * 100 TB the small-files tax (open/footer costs, listing, scheduler
    * pressure) eventually dominates probe time. Compaction rewrites the
    * table's rows into a fresh table with the SAME bucket spec and sort
    * columns (the scan of a bucketed table is one partition per bucket,
    * so the rewrite lands exactly one file per non-empty bucket), then
    * swaps it in via DROP + RENAME. Readers see identical rows under
    * identical bucketing — only the file count changes; the swap window
    * is the metadata operation, not the rewrite (the heavy work happens
    * into the staging table while the live table keeps serving).
    * Contract: no concurrent writer during the swap.
    *
    * `transform` lets a family fold its OWN reclaim into the rewrite it
    * was already paying for — dropping tombstoned rows (Takedown),
    * shedding a minhash bucket's over-cap dead keys, collapsing a
    * gram-ledger's delta rows — applied BEFORE the bucket-aligned
    * repartition so a broadcast anti-join filter adds no exchange and
    * an aggregate lands already partitioned on the bucket key. */
  def compactBucketedTable(spark: SparkSession, table: String,
      transform: DataFrame => DataFrame = identity): Unit = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table is not bucketed — compaction is the bucketed-append cure"))
    val staging = s"${table}__compact"
    reclaimManagedTable(spark, staging)
    val rows = compactionRows(spark, table, transform)
    val w0 = rows.write.mode("overwrite").format("parquet")
      .bucketBy(spec.numBuckets,
        spec.bucketColumnNames.head, spec.bucketColumnNames.tail: _*)
    val w = if (spec.sortColumnNames.nonEmpty)
      w0.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*) else w0
    w.saveAsTable(staging)
    // reclaim, not plain DROP: under the in-memory catalog a DROP can
    // orphan the managed directory (see reclaimManagedTable), and a
    // RENAME into a still-populated location would merge old file
    // groups back in — the exact situation this operation exists to fix
    reclaimManagedTable(spark, table)
    spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
    refreshTableEverywhere(spark, table)
  }

  /** Invalidate every session-level cache that could still hold the
    * PRE-swap file listing of `table` after a staging rename moved a
    * fresh directory onto the live path. One session is not enough: a
    * streaming foreachBatch body runs on a CLONED session, and the
    * clone's refresh does not reach the parent session the NEXT batch
    * will clone from — an un-refreshed reader then chases the old
    * listing's deleted files (observed as FAILED_READ_FILE mid-stream
    * on the second maintained-ingest refit). */
  private[graft] def refreshTableEverywhere(spark: SparkSession, table: String): Unit = {
    val sessions = Seq(spark) ++
      org.apache.spark.sql.SparkSession.getActiveSession ++
      org.apache.spark.sql.SparkSession.getDefaultSession
    sessions.distinct.foreach { x =>
      try x.catalog.refreshTable(table)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
  }

  /** The staging plan [[compactBucketedTable]] writes — exposed so
    * PlanQualitySpec can pin its shape: exactly ONE exchange (the
    * bucket-aligned repartition), nothing else. The table's FILES are
    * read as plain parquet, deliberately bypassing the catalog's
    * bucketing metadata: reading through the bucketed table lets the
    * planner judge the explicit repartition below redundant (the scan
    * claims the same HashPartitioning) and then auto-disable the
    * bucketed scan anyway — leaving file-split partitions whose write
    * emits one file group PER TASK, i.e. no compaction at all
    * (observed: a 57-file table "compacting" to 57). A plain-parquet
    * scan has no partitioning claim, so the repartition stands: Spark's
    * repartition hashing (pmod(murmur3, n)) IS the bucket-file
    * assignment, so each write task holds exactly one bucket's rows
    * and emits exactly one file. */
  private[graft] def compactionRows(spark: SparkSession, table: String,
      transform: DataFrame => DataFrame = identity): DataFrame = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table is not bucketed — compaction is the bucketed-append cure"))
    transform(spark.read.schema(meta.schema).parquet(meta.location.toString))
      .repartition(spec.numBuckets,
        spec.bucketColumnNames.map(org.apache.spark.sql.functions.col): _*)
  }

  /** The audit-then-compact step every self-maintaining ingest shares:
    * audit `auditTable` (the table whose bucket-pruned probes pay the
    * group stack) and, when the per-bucket maximum crosses `maxGroups`,
    * rewrite ALL the index's tables together — sibling tables (a sig
    * table next to its keys, lengths next to postings) accumulate
    * groups at the same append cadence, so one verdict covers the
    * family and the swap leaves the index internally consistent.
    * Returns whether the rewrite fired. Caller contract: no concurrent
    * writer (foreachBatch serializes batches, satisfying it). */
  def maintainBucketedTables(spark: SparkSession, auditTable: String,
      tables: Seq[String], maxGroups: Double = 4.0): Boolean =
    auditThenReclaim(spark, auditTable, maxGroups) {
      tables.foreach(t => compactBucketedTable(spark, t))
    }

  /** The audit-then-reclaim step shared by every maintained ingest:
    * run [[bucketFileAudit]] on the table whose bucket-pruned probes
    * pay the group stack and, when the per-bucket max crosses the
    * threshold, fire `reclaim` — a FAMILY verb (reclaimBm25Index,
    * reclaimMinhashIndex, reclaimPhashIndex, …) that folds pending
    * tombstones into the compaction rewrite it was going to pay anyway
    * and clears the ledger. Returns whether it fired, so the ingest can
    * report hygiene activity alongside its batch. One helper instead of
    * a copy-pasted audit-head-getBoolean block per ingest. */
  def auditThenReclaim(spark: SparkSession, auditTable: String,
      maxGroups: Double = 4.0)(reclaim: => Unit): Boolean = {
    val compact = bucketFileAudit(spark, auditTable, maxGroups).head().getBoolean(4)
    if (compact) reclaim
    compact
  }

  /** The WHEN for [[compactBucketedTable]] — the ivf2DriftAudit pattern
    * applied to file hygiene: one row `(n_files, n_buckets,
    * files_per_bucket, max_bucket_files, compact)` with `compact =
    * max_bucket_files > maxGroups`. The verdict reads the PER-BUCKET
    * MAXIMUM, not the mean (`n_files / n_buckets`): a bucket-pruned
    * probe pays every file group of the buckets it touches, and on a
    * SPARSE-key table (an ANN postings table with a few dozen cells
    * hashing into 5 of 32 buckets) three appends read as a mean of
    * ~0.5 groups while each touched bucket actually holds 3 — the mean
    * under-recommends exactly where probes hurt. Bucket ids parse from
    * the file names Spark's bucketed writer emits (`…_NNNNN.c…`), so
    * the group count is exact, not inferred. Each append adds ~one
    * group per covered bucket: max_bucket_files ≈ appends since the
    * last compaction; the default threshold tolerates a few days of
    * crawl before paying the rewrite. Cost: ONE filesystem listing of
    * the table location (file names only, no data IO) — cheap at any
    * scale next to the rewrite it gates. */
  def bucketFileAudit(spark: SparkSession, table: String,
      maxGroups: Double = 4.0): org.apache.spark.sql.DataFrame = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table is not bucketed — nothing to audit"))
    val path = new org.apache.hadoop.fs.Path(meta.location)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(path)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSeq
    val bucketId = "_(\\d+)\\.c".r
    val maxG =
      if (names.isEmpty) 0L
      else names.groupBy(f => bucketId.findFirstMatchIn(f).map(_.group(1)).getOrElse(f))
        .valuesIterator.map(_.size).max.toLong
    val fpb = names.size.toDouble / spec.numBuckets
    import spark.implicits._
    Seq((names.size.toLong, spec.numBuckets.toLong, fpb, maxG, maxG > maxGroups))
      .toDF("n_files", "n_buckets", "files_per_bucket", "max_bucket_files", "compact")
  }

  /** Row count for plan-build sizing probes (LSH banding, ANN planes):
    * plan statistics when they are EXACT by construction — Range, a
    * MATERIALIZED cache (whose stats come from its row-count accumulator),
    * and LocalRelation under test configs — so sizing costs NO job;
    * otherwise one count() scan (itself metadata-cheap on parquet:
    * row-group counts, no column IO). Catalog stats from ANALYZE are
    * deliberately NOT trusted: they survive table rewrites, and a stale
    * count silently resizes LSH planes/bands — correctness-relevant, not
    * just a costing hint. An UNmaterialized cache falls back to its
    * child's stats, which can carry exactly those stale catalog counts,
    * so it must count(). */
  def rowCountFast(df: DataFrame): Long =
    exactStatsRowCount(df).getOrElse(df.count())

  /** The exact-by-construction whitelist behind [[rowCountFast]], exposed
    * so probes that COMBINE the count with other per-corpus facts in one
    * job (x_sim_lsh's dims+count agg) apply the SAME trust policy instead
    * of reading raw `stats.rowCount` (which can carry stale ANALYZE
    * counts). None = no trusted stats; run your own job. */
  def exactStatsRowCount(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Range}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val plan = df.queryExecution.optimizedPlan
    val exact = plan match {
      case _: LocalRelation | _: Range => plan.stats.rowCount
      case r: InMemoryRelation if r.cacheBuilder.isCachedColumnBuffersLoaded =>
        plan.stats.rowCount
      case _ => None
    }
    exact.map(_.toLong)
  }
}
