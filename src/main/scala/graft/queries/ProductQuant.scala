package graft.queries

import graft.Engine.table
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for ANN serving — the compression step past
  * scalar int8 (x_sim_quantize): the 64-dim embedding splits into M = 8
  * subspaces of 8 dims, each subspace gets its own ks-centroid codebook
  * (portable Lloyd, the [[Similarity.kmeansCentroidsPortable]] arithmetic),
  * and a vector is stored as M one-byte codes — 8 bytes instead of 256,
  * the 32× memory cut behind IVF-PQ at billion scale.
  *
  * Search is ADC (asymmetric distance computation): a query precomputes a
  * lookup table LUT[m][code] = dot(query-subvector, codebook centroid) —
  * M × ks doubles, built once per query against the BROADCAST codebook —
  * and every candidate's approximate dot product is then M array lookups
  * + adds over its codes, never touching the raw vector. The shortlist
  * the ADC score cuts pays the exact float re-rank, exactly the
  * x_sim_ivfq_md5 contract.
  *
  * Scale shape: the codebook is M × ks ≤ 8 × 256 rows (always broadcast);
  * code assignment is a broadcast-argmin partial aggregate over one
  * corpus scan (the [[Similarity.assignCells]] shape per subspace); the
  * candidate join in IVF-PQ search is key-equi on the probed cell id. At
  * 10¹⁰ vectors the codes table is the only corpus-sized artifact — 8
  * bytes/vector — and nothing corpus-sized is ever broadcast or
  * driver-collected.
  *
  * Portability: md5 seed draw per subspace, exact scaled-integer DECIMAL
  * means, L2 argmin with index-ordered double arithmetic and cid
  * tie-break — the whole fit, code assignment, LUT build and ADC
  * shortlist reproduce bit-for-bit in the DuckDB oracles.
  */
object ProductQuant {

  type Q = (SparkSession, String) => DataFrame

  /** Subspace width: 64 contract dims → M = 8 subspaces of 8. A multiple
    * of the SIMD lane the exact re-rank's float_dot loops over, and small
    * enough that ks ≤ 256 keeps per-subspace quantization error low. */
  val SubDim = 8

  /** Number of subspaces for the [[Similarity.EmbeddingDims]] contract. */
  val M: Int = Similarity.EmbeddingDims / SubDim

  val queries: Map[String, Q] = Map(
    // -- PQ codebook fit + full-corpus code assignment, md5-portable
    //    end-to-end: the (vec_id, m, code) triples ARE the compressed
    //    corpus representation (M bytes per vector at scale). Hash-gated:
    //    seed draw, Lloyd means, and L2 argmin all reproduce in DuckDB.
    "x_sim_pq_md5" -> ((s, d) => {
      val cb = codebook(s, d)
      val codes = assignSub(subVecs(Similarity.withNorm(s, d)), cb)
      codes.select(col("vec_id"), col("m"), col("code")).orderBy("vec_id", "m")
    }),

    // -- IVF-PQ: the canonical billion-scale ANN layout — coarse IVF
    //    probing (broadcast centroids, key-equi candidate join) + ADC
    //    scoring from the PQ codes (LUT lookups instead of raw-vector
    //    dots) + exact float re-rank of the top-20 shortlist. Every stage
    //    is md5-portable, so the full composition hash-gates.
    "x_sim_ivfpq_md5" -> ((s, d) => ivfPqSearch(s, d, nprobe = 4, shortlist = 20)),

    // -- the takedown/DELETE verb over the persisted COMPRESSED-ANN
    //    index — the last of the six in-place takedown families
    //    oracle-gated: writePqIndex persists the md5-portable fit,
    //    codebook and coded postings; vec 195 (ADC-ranked at every
    //    driver scale) files in the ledger; ivfPqSearchOf must emit
    //    the oracle's ADC search over the same frozen fit with the
    //    vector absent from the candidate stage.
    "x_sim_ivfpq_takedown" -> ((s, d) => {
      val p = "vx_pq_td"
      for (t <- Seq("_codebook", "_cents", "_postings"))
        graft.Engine.reclaimManagedTable(s, p + t)
      graft.Engine.reclaimManagedTable(s, graft.Takedown.tombTable(p))
      writePqIndex(s, d, p)
      graft.Takedown.add(s, p, s.range(195, 196).toDF("id"))
      ivfPqSearchOf(
        table(s, d, "embeddings").filter(col("vec_id") < 10)
          .select(col("vec_id"), col("embedding")),
        p, nprobe = 4, shortlist = 20)
    }),

    // -- IVF2-PQ: the full billion-scale matrix cell — two-level
    //    coarse→fine probing (coarse broadcast, fine key-equi, the
    //    10¹⁰-vector layout) + PQ ADC candidate scoring (M lookup-adds
    //    per candidate, 32× less bandwidth than raw vectors) + exact
    //    re-rank. Composes [[Similarity.ivf2CentroidsPortable]]'s
    //    hash-gated fit with the hash-gated codes; every stage reuses
    //    the structure its standalone query gates.
    "x_sim_ivf2pq_md5" -> ((s, d) => {
      val (coarse, fine) = Similarity.ivf2CentroidsPortable(s, d)
      ivf2PqSearch(s, d, coarse, fine, nprobeC = 2, nprobeF = 4, shortlist = 20)
    })
  )

  /** (vec_id, m, sv) sub-vector fan-out: one narrow projection, no
    * shuffle — `m` is typed long to match the oracle's range(). */
  private[queries] def subVecs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"),
        explode(expr(s"sequence(0L, ${M - 1}L)")).as("m"))
      .select(col("vec_id"), col("m"),
        expr(s"slice(embedding, CAST(m * $SubDim + 1 AS INT), $SubDim)").as("sv"))

  /** Expanded-L2 assignment score: `|c|² − 2·dot(sv, c)` orders exactly
    * like L2 in real arithmetic (the `|sv|²` term is constant per row),
    * and both factors ride the codegen'd native float_dot instead of
    * interpreted zip_with/aggregate lambdas — the corpus-sized argmin
    * (rows × M × ks evaluations) was the IVF-PQ pipeline's hot loop
    * (3.0 s → measured ~2× cut at sf0.1). `cn2` is computed once per
    * codebook row below the broadcast; the DuckDB oracle mirrors the
    * identical double expression so argmin verdicts stay bit-identical. */
  private val dExpand = col("cn2") - lit(2.0) * expr("float_dot(sv, ce)")

  /** Nearest-sub-centroid assignment: broadcast the (≤ 8 × 256)-row
    * codebook, min(struct(d, cid)) partial-agg argmin — deterministic
    * cid tie-break, map-side combinable, never a corpus window. Returns
    * (vec_id, m, sv, cid, code). */
  private[queries] def assignSub(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb.withColumn("cn2", expr("float_dot(ce, ce)"))), Seq("m"))
      .select(col("vec_id"), col("m"), col("sv"),
        struct(dExpand.as("d"), col("cid"), col("code")).as("sc"))
      .groupBy("vec_id", "m")
      .agg(min("sc").as("mn"), first("sv").as("sv"))
      .select(col("vec_id"), col("m"), col("sv"),
        col("mn.cid").as("cid"), col("mn.code").as("code"))

  /** Memoized per-(session, corpus, M, ks) codebook — index-build-once
    * semantics, the [[Similarity]] memo pattern. Codebooks are M × ks
    * rows (broadcast-sized by construction), so driver-collecting them
    * is free at any corpus scale. */
  private val fittedCodebooks = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, java.util.concurrent.ConcurrentHashMap[
      String, Array[(Long, Long, Long, Array[Float])]]]()

  private def purgeStopped(): Unit =
    fittedCodebooks.keySet.removeIf(sess => sess.sparkContext.isStopped)

  /** Drop memoized PQ codebooks for (session, corpus dir) — invoked by
    * [[Similarity.invalidateIvfIndex]] so one corpus-invalidation call
    * covers every ANN memo. */
  def invalidate(s: SparkSession, d: String): Unit = {
    val inner = fittedCodebooks.get(s)
    if (inner != null) inner.keySet.removeIf(_.startsWith(d + "\u0000"))
  }

  /** Spec hook: memoized codebook count for the session. */
  private[queries] def memoizedCodebookCount(s: SparkSession): Int = {
    val inner = fittedCodebooks.get(s)
    if (inner == null) 0 else inner.size
  }

  /** The fitted codebook (m, cid, code, ce): per-subspace portable Lloyd
    * over the modulo sample, 2 iterations, then codes densified to
    * 0..ks-1 by cid rank within each subspace (row_number over ≤ M × ks
    * rows — trivially small). Memoized per (session, corpus, M, ks). */
  private[queries] def codebook(s: SparkSession, d: String): DataFrame = {
    val ks = pqK(s, d)
    purgeStopped()
    val perSession = fittedCodebooks.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[
        String, Array[(Long, Long, Long, Array[Float])]]())
    // fit OUTSIDE the mapping function (the memoizedCentroids contract
    // note): racing fitters may duplicate work, the winner's entry wins
    val mapKey = d + "\u0000" + s"pq-$M-$ks"
    val arr = {
      val cached = perSession.get(mapKey)
      if (cached != null) cached
      else {
        val built = fitCodebook(s, d, ks)
          .select(col("m"), col("cid"), col("code"), col("ce")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Float](3).toArray))
        val prev = perSession.putIfAbsent(mapKey, built)
        if (prev != null) prev else built
      }
    }
    import s.implicits._
    arr.toSeq.toDF("m", "cid", "code", "ce")
  }

  private def fitCodebook(s: SparkSession, d: String, ks: Int): DataFrame =
    fitCodebookOf(Similarity.withNorm(s, d), ks)

  /** [[fitCodebook]] over an arbitrary (vec_id, embedding, nrm) corpus
    * relation — the entry [[refitPqIndexFromPostings]] uses, where the
    * corpus is the index's own postings rather than a dir. */
  private def fitCodebookOf(e: DataFrame, ks: Int): DataFrame = {
    val sub = subVecs(e.filter(col("vec_id") % 5 === 0))
    // md5 seed draw PER SUBSPACE — the fineFitPortable pattern; the
    // window runs over the 20% sample only, and only at fit time
    val wSeed = Window.partitionBy("m").orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    var cb = sub.withColumn("rn", row_number().over(wSeed)).filter(col("rn") <= ks)
      .select(col("m"), col("vec_id").as("cid"), col("sv").as("ce"), lit(0L).as("code"))
    for (_ <- 0 until 2) {
      cb = assignSub(sub, cb)
        .select(col("m"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .withColumn("q", floor(col("x").cast("double") * lit(1e9)).cast("decimal(38,0)"))
        .groupBy("m", "cid", "pos")
        .agg((sum("q").cast("double") / (lit(1e9) * count(lit(1)))).cast("float").as("mv"))
        .groupBy("m", "cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), p -> p.mv)").as("ce"))
        .withColumn("code", lit(0L))
    }
    // densify codes: rank by cid within each subspace so codes index the
    // LUT arrays directly (empty cells dropped by Lloyd leave no holes)
    val wCode = Window.partitionBy("m").orderBy("cid")
    cb.withColumn("code", (row_number().over(wCode) - 1).cast("long"))
  }

  /** Corpus-derived centroids-per-subspace (one metadata-cheap count
    * probe, the [[Similarity.ivfK]] pattern). */
  private[queries] def pqK(s: SparkSession, d: String): Int =
    LshTuning.pqCentroids(graft.Engine.tableRows(s, d, "embeddings"))

  /** IVF-PQ search: coarse probe from the portable flat-IVF fit (probes
    * its `nprobe` nearest cells — broadcast centroids, key-equi
    * candidate join), ADC-score every probed-cell candidate from its PQ
    * codes via the query's LUT, cut a `shortlist`, exact-re-rank top-5.
    * The only corpus-sized operands are the cell assignment and the
    * packed codes; both join key-equi (cid / vec_id) and neither is
    * broadcast or driver-collected. */
  private def ivfPqSearch(s: SparkSession, d: String, nprobe: Int, shortlist: Int): DataFrame = {
    val e = Similarity.withNorm(s, d)
    val cents = Similarity.ivfCentroidsPortable(s, d, Similarity.ivfK(s, d))
    val cb = codebook(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    ivfPqCore(q, coarseProbes(q, cents, nprobe), cb,
      postingsFor(e, cents, cb, wide = Similarity.wideArgmax(s, d)), shortlist)
  }

  /** The fully-compressed corpus representation the serving index stores:
    * coarse cell assignment + packed m-ascending code array per vector
    * (M bytes at scale) next to the raw vector the exact re-rank reads.
    * One corpus scan; assignment and code argmin are broadcast partial
    * aggregates; the codes join is key-equi on vec_id. */
  private def postingsFor(e: DataFrame, cents: DataFrame, cb: DataFrame,
      wide: Boolean = false): DataFrame = {
    val assigned = Similarity.assignCells(e, cents, wide)
    val codes = assignSub(subVecs(e), cb)
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(m, code))), p -> p.code)").as("cd"))
    assigned.join(codes, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"), col("cd"))
  }

  /** Coarse probe: `nprobe` nearest cells per query against broadcast
    * centroids (the ivfSearch shape) → (qid, cid). */
  private def coarseProbes(q: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val wp = Window.partitionBy("qid").orderBy(col("ccos").desc, col("cid").asc)
    broadcast(q).join(broadcast(cents), lit(true))
      .select(col("qid"),
        (expr("float_dot(qe, ce)") / (col("qn") * col("cn"))).as("ccos"), col("cid"))
      .withColumn("rnk", row_number().over(wp))
      .filter(col("rnk") <= nprobe)
      .select(col("qid"), col("cid"))
  }

  /** The ADC score/shortlist/re-rank core, shared by flat IVF-PQ
    * (in-memory and persisted-index) and two-level IVF2-PQ. `probes`
    * carries (qid, cid) — coarse cell ids for the flat layout, FINE
    * cell ids for the two-level one; `cand0` carries (vec_id,
    * embedding, nrm, cid, cd) keyed by the same cell notion. */
  private def ivfPqCore(q: DataFrame, probes: DataFrame, cb: DataFrame,
      cand0: DataFrame, shortlist: Int): DataFrame = {
    // ADC lookup table: LUT[m][code] = index-ordered double dot of the
    // query's m-th subvector with the codebook centroid — M × ks doubles
    // per query, built against the broadcast codebook, nested m-major
    val lutRows = broadcast(q).join(broadcast(cb), lit(true))
      .select(col("qid"), col("m"), col("code"),
        // float_dot IS the index-ordered double fold (value-identical to
        // the zip_with/aggregate form), just fused into codegen
        expr(s"float_dot(slice(qe, CAST(m * $SubDim + 1 AS INT), $SubDim), ce)").as("ip"))
    val lut = lutRows
      .groupBy("qid", "m")
      .agg(expr("transform(array_sort(collect_list(struct(code, ip))), p -> p.ip)").as("lutm"))
      .groupBy("qid")
      .agg(expr("transform(array_sort(collect_list(struct(m, lutm))), p -> p.lutm)").as("lut"))
      .join(q, Seq("qid"))
    // ADC stage: key-equi on the probed cell, M LUT lookups + adds per
    // candidate over codes + norms — no raw vector crosses this join
    val adc = broadcast(probes)
      .join(cand0.select(col("vec_id"), col("nrm"), col("cid"), col("cd")), Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .join(broadcast(lut.select(col("qid"), col("lut"), col("qn"))), Seq("qid"))
      .select(col("qid"), col("vec_id"), col("nrm"), col("qn"),
        expr(s"aggregate(sequence(0, ${M - 1}), CAST(0.0 AS DOUBLE), " +
          "(acc, mi) -> acc + lut[mi][CAST(cd[mi] AS INT)])").as("ip"))
      .select(col("qid"), col("vec_id"),
        (col("ip") / (col("qn") * col("nrm"))).as("qcos"))
    // shortlist via the partial top-k aggregate; only the survivors
    // FETCH their raw vectors (key-equi on vec_id) for the exact re-rank
    graft.functions.TopKAgg.topkOf(adc, "qid", "vec_id", "qcos", shortlist)
      .select(col("qid"), col("vec_id"))
      .join(cand0.select(col("vec_id"), col("embedding"), col("nrm")), Seq("vec_id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        (expr("float_dot(qe, embedding)") / (col("qn") * col("nrm"))).as("cos"))
      .transform(graft.functions.TopKAgg.topkOf(_, "qid", "vec_id", "cos", 5))
      .orderBy("qid", "rank")
  }

  /** Two-level IVF-PQ search: corpus assigned coarse→fine once and
    * keyed by FINE cell next to its codes; queries probe coarse
    * (broadcast) then refine fine (key-equi on ccid, fallback-aware via
    * [[Similarity.probeFine]]); the ADC core then scores the probed
    * fine cells' candidates. */
  private def ivf2PqSearch(s: SparkSession, d: String, coarse: DataFrame, fine: DataFrame,
      nprobeC: Int, nprobeF: Int, shortlist: Int): DataFrame = {
    val e = Similarity.withNorm(s, d)
    val cb = codebook(s, d)
    val wide = Similarity.wideArgmax(s, d)
    val asgF = Similarity.assignFine(
      Similarity.assignCells(e, coarse.select(col("ccid").as("cid"), col("ce"), col("cn")),
        wide)
        .withColumnRenamed("cid", "ccid"),
      fine, wide)
    val codes = assignSub(subVecs(e), cb)
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(m, code))), p -> p.code)").as("cd"))
    val cand0 = asgF.join(codes, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("fcid").as("cid"), col("cd"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val wc = Window.partitionBy("qid").orderBy(col("ccos").desc, col("ccid").asc)
    val probesC = broadcast(q).join(broadcast(coarse), lit(true))
      .select(col("qid"), col("qe"), col("qn"), col("ccid"),
        (expr("float_dot(qe, ce)") / (col("qn") * col("cn"))).as("ccos"))
      .withColumn("rn", row_number().over(wc))
      .filter(col("rn") <= nprobeC)
      .select(col("qid"), col("qe"), col("qn"), col("ccid"))
    val probes = Similarity.probeFine(probesC, fine, Seq("qid", "qe", "qn"), nprobeF)
      .select(col("qid"), col("fcid").as("cid"))
    ivfPqCore(q, probes, cb, cand0, shortlist)
  }

  /** Persist the IVF-PQ serving index: `{prefix}_codebook` and
    * `{prefix}_cents` (both broadcast-sized), `{prefix}_postings`
    * (vec_id, embedding, nrm, cid, cd) bucketed + sorted on the coarse
    * cell id so probe-time restriction bucket-prunes the scan — the
    * [[Similarity.writeIvf2Index]] layout with PQ codes riding next to
    * the vectors. At 10¹⁰ vectors a probe reads ~nprobe/cells of the
    * postings bytes, and the ADC stage touches only the M-byte codes. */
  def writePqIndex(s: SparkSession, d: String, tablePrefix: String,
      buckets: Int = 32): Unit = {
    val cb = codebook(s, d)
    val cents = Similarity.ivfCentroidsPortable(s, d, Similarity.ivfK(s, d))
    for (t <- Seq("_codebook", "_cents", "_postings"))
      graft.Engine.reclaimManagedTable(s, tablePrefix + t)
    cb.write.mode("overwrite").format("parquet").saveAsTable(s"${tablePrefix}_codebook")
    cents.write.mode("overwrite").format("parquet").saveAsTable(s"${tablePrefix}_cents")
    // repartition onto the bucket column first (the writeIvf2Index /
    // compactBucketedTable trick): without it the bucketed write emits
    // one file per (assignment task × bucket) and probe-time bucket
    // pruning pays a file stack that tracks the build's task layout;
    // one exchange of fixed-width coded rows lands one file per bucket.
    postingsFor(Similarity.withNorm(s, d), cents, cb, wide = Similarity.wideArgmax(s, d))
      .repartition(buckets, col("cid"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "cid").sortBy("cid")
      .saveAsTable(s"${tablePrefix}_postings")
  }

  /** Append NEW vectors into a persisted IVF-PQ index without re-fitting
    * or rewriting existing postings — the [[Similarity.appendIvf2Postings]]
    * maintenance contract: cells and codes are assigned against the
    * FROZEN persisted centroids/codebook and appended with the postings
    * table's own bucket spec, so a daily increment costs O(increment).
    * Same recall-drift contract (re-fit offline when the appended mass
    * warrants); caller guarantees `newVectors` are not already indexed. */
  def appendPqCodes(s: SparkSession, tablePrefix: String, newVectors: DataFrame): Unit =
    graft.Engine.withWriteIntent(s, tablePrefix, "pq-append") {
    graft.functions.CosineSimilarity.register(s)
    val catalog = s.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(s"${tablePrefix}_postings")
    // bootstrap: a frozen fit ({prefix}_cents/{prefix}_codebook) with no
    // postings yet accepts its first increment, creating the bucketed
    // table; thereafter appends must ride the existing bucket spec
    val buckets =
      if (!catalog.tableExists(ident)) 32
      else catalog.getTableMetadata(ident).bucketSpec.map(_.numBuckets)
        .getOrElse(throw new IllegalStateException(
          s"${tablePrefix}_postings is not bucketed — not a PQ serving index"))
    val e = newVectors.select(col("vec_id"), col("embedding"),
      sqrt(expr("float_dot(embedding, embedding)")).as("nrm"))
    postingsFor(e, s.table(s"${tablePrefix}_cents"), s.table(s"${tablePrefix}_codebook"))
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "cid").sortBy("cid")
      .saveAsTable(s"${tablePrefix}_postings")
    }

  /** PHYSICAL takedown reclaim + file-hygiene compaction for the
    * IVF-PQ family — the Similarity.reclaimIvf2Postings shape:
    * `_postings` (the only id-carrying table) rewrites under its own
    * bucket spec with the tombstone anti-join riding the compaction
    * scan, then the ledger clears. `_cents`/`_codebook` hold the fit
    * and stay frozen; the drift audit decides when dropped mass
    * warrants a refit (which folds pending tombstones itself). */
  def reclaimPqPostings(s: SparkSession, tablePrefix: String): Unit =
    graft.Engine.withWriteIntent(s, tablePrefix, "pq-reclaim", holdOnFailure = true) {
      val pending = graft.Takedown.pending(s, tablePrefix)
      graft.Engine.compactBucketedTable(s, s"${tablePrefix}_postings",
        graft.Takedown.excluding(_, tablePrefix, "vec_id"))
      if (pending) graft.Takedown.clear(s, tablePrefix)
    }

  /** Drift audit for the persisted IVF-PQ index — the
    * Similarity.ivf2DriftAudit shape over the flat cell layout: cell
    * imbalance from one partial agg over the postings `cid` column,
    * plus sampled recall@5 of the ADC search ([[ivfPqSearchOf]]) vs
    * brute truth over the postings corpus for the bounded query sample.
    * One row `(n_postings, n_cells, imbalance, mean_recall, refit)`
    * with `refit = mean_recall < minRecall OR imbalance >
    * maxImbalance` — the signal [[refitPqIndexFromPostings]]
    * executes. */
  def pqDriftAudit(s: SparkSession, tablePrefix: String,
      sampleQueries: DataFrame, nprobe: Int = 4, shortlist: Int = 20,
      minRecall: Double = 0.6, maxImbalance: Double = 8.0): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    // audit the SERVING corpus — same reasoning as ivf2DriftAudit:
    // tombstoned vectors are already excluded from the search side, so
    // brute truth must exclude them too or recall reads spurious misses
    val postings = graft.Takedown.excluding(
      s.table(s"${tablePrefix}_postings"), tablePrefix, "vec_id")
    val balance = postings.groupBy("cid").agg(count(lit(1)).as("cnt"))
      .agg(sum("cnt").as("n_postings"), count(lit(1)).as("n_cells"),
        max("cnt").as("max_cnt"))
      .select(col("n_postings"), col("n_cells"),
        (col("max_cnt").cast("double") * col("n_cells") / col("n_postings"))
          .as("imbalance"))
    val q = sampleQueries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        sqrt(expr("float_dot(embedding, embedding)")).as("qn"))
    val truth = broadcast(q)
      .join(postings, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        (expr("float_dot(qe, embedding)") / (col("qn") * col("nrm"))).as("cos"))
      .transform(graft.functions.TopKAgg.topkOf(_, "qid", "vec_id", "cos", 5))
      .select(col("qid"), col("vec_id"))
    val approx = ivfPqSearchOf(
      sampleQueries.select(col("vec_id"), col("embedding")), tablePrefix,
      nprobe, shortlist)
      .select(col("qid"), col("vec_id")).withColumn("hit", lit(1L))
    val recall = truth.join(approx, Seq("qid", "vec_id"), "left")
      .groupBy("qid").agg(coalesce(sum("hit"), lit(0L)).as("hits"),
        count(lit(1)).as("k"))
      .agg((sum("hits").cast("double") / sum("k")).as("mean_recall"))
    balance.crossJoin(recall)
      .withColumn("refit",
        col("mean_recall") < minRecall || col("imbalance") > maxImbalance)
  }

  /** RE-FIT a persisted IVF-PQ index FROM ITS OWN POSTINGS — the PQ twin
    * of Similarity.refitIvf2IndexFromPostings, executing
    * [[appendPqCodes]]'s "re-fit offline when warranted" contract after
    * streamed appends have left no corpus dir holding the union. The
    * postings carry raw embeddings (kept for the exact re-rank) exactly
    * so the index can re-center on itself: centroids and codebook
    * re-fit at the re-derived union sizing over the modulo sample, the
    * full corpus re-assigns cells and re-quantizes codes into STAGING
    * tables, and all three swap via sequential DROP+RENAME pairs with
    * the cross-session cache refresh. The heavy work lands in staging
    * while the live tables keep serving, but the swap is NOT one atomic
    * flip: a reader in another session probing mid-swap can see a
    * missing table or a mixed old/new fit — the same single-writer,
    * quiesced-reader window as every swap in this engine (a
    * maintained-ingest stream satisfies it because foreachBatch
    * serializes the batch that both refits and probes). Cost = the two
    * Lloyd fits + one corpus rewrite — what the drift decision exists
    * to amortize. */
  def refitPqIndexFromPostings(s: SparkSession, tablePrefix: String,
      buckets: Int = 32): Unit = graft.Engine.withWriteIntent(s, tablePrefix, "pq-refit", holdOnFailure = true) {
    graft.functions.CosineSimilarity.register(s)
    // a refit rewrites the whole family, so pending tombstones fold in
    // for free (pass-through when none); the ledger clears post-swap
    val tombPending = graft.Takedown.pending(s, tablePrefix)
    val e = graft.Takedown.excluding(
      s.table(s"${tablePrefix}_postings"), tablePrefix, "vec_id")
      .select("vec_id", "embedding", "nrm")
    val n = e.count()
    // the refit's live-corpus count doubles as the argmax-shape gate
    val wide = n <= Similarity.wideArgmaxRows
    val cents = Similarity.kmeansCentroidsPortable(
        e.filter(col("vec_id") % 5 === 0), LshTuning.ivfCells(n), iters = 2, wide = wide)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cb = fitCodebookOf(e, LshTuning.pqCentroids(n))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        cb.count() // materialize both fits BEFORE any table swap
        val staged = Seq("_codebook", "_cents", "_postings")
          .map(t => t -> s"$tablePrefix${t}__refit")
        staged.foreach { case (_, st) => graft.Engine.reclaimManagedTable(s, st) }
        cb.write.mode("overwrite").format("parquet")
          .saveAsTable(s"${tablePrefix}_codebook__refit")
        cents.write.mode("overwrite").format("parquet")
          .saveAsTable(s"${tablePrefix}_cents__refit")
        postingsFor(e, cents, cb, wide)
          .write.mode("overwrite").format("parquet")
          .bucketBy(buckets, "cid").sortBy("cid")
          .saveAsTable(s"${tablePrefix}_postings__refit")
        staged.foreach { case (t, st) =>
          graft.Engine.reclaimManagedTable(s, s"$tablePrefix$t")
          s.sql(s"ALTER TABLE `$st` RENAME TO `$tablePrefix$t`")
          graft.Engine.refreshTableEverywhere(s, s"$tablePrefix$t")
        }
        if (tombPending) graft.Takedown.clear(s, tablePrefix)
      } finally cb.unpersist(blocking = false)
    } finally cents.unpersist(blocking = false)
  }

  /** Query the persisted IVF-PQ index — same verdicts as the in-memory
    * path over the same (centroids, codebook, corpus). The postings scan
    * is restricted to the probed cells via [[Similarity.pruneToProbed]]'s
    * two regimes (literal IN bucket pruning under the cap, broadcast
    * semi-join for bulk query batches). */
  def ivfPqSearchAgainstIndex(s: SparkSession, d: String, tablePrefix: String,
      nprobe: Int, shortlist: Int, maxQid: Long = 10L,
      literalProbeCap: Int = 1000): DataFrame =
    ivfPqSearchOf(
      table(s, d, "embeddings").filter(col("vec_id") < maxQid)
        .select(col("vec_id"), col("embedding")),
      tablePrefix, nprobe, shortlist, literalProbeCap)

  /** [[ivfPqSearchAgainstIndex]] over an arbitrary `(vec_id, embedding)`
    * query relation — the streaming micro-batch form; per-query verdicts
    * are pure functions of (query, frozen index). */
  def ivfPqSearchOf(queries: DataFrame, tablePrefix: String,
      nprobe: Int, shortlist: Int, literalProbeCap: Int = 1000): DataFrame = {
    val s = queries.sparkSession
    graft.functions.CosineSimilarity.register(s)
    val cents = s.table(s"${tablePrefix}_cents")
    val cb = s.table(s"${tablePrefix}_codebook")
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      sqrt(expr("float_dot(embedding, embedding)")).as("qn"))
    // the probed-cell set restricts the postings scan BEFORE the
    // candidate join (bucket pruning in the literal regime). Materialized
    // once (guide §2.4): pruneToProbed's probed-cell collect and the
    // final ADC join otherwise each evaluate the coarse-argmax subtree —
    // a full query × broadcast-centroid pass per evaluation. (qid, cid)
    // ids only, queries × nprobe rows — bounded by the serving contract
    // that already broadcasts this relation in ivfPqCore.
    val probes = graft.Engine.materialize(coarseProbes(q, cents, nprobe))
    // logical takedown: tombstoned vectors must never rank — anti-join
    // above the cell-pruned scan (bucket pruning intact, ledger
    // broadcasts, pass-through with a byte-identical plan when none)
    val postings = graft.Takedown.excluding(
      Similarity.pruneToProbed(
        s.table(s"${tablePrefix}_postings"), "cid",
        probes.select("cid").distinct(), literalProbeCap),
      tablePrefix, "vec_id")
    ivfPqCore(q, probes, cb, postings, shortlist)
  }

  /** DuckDB [[SubDim]]-wide index-ordered double dot — the same fold as
    * the native float_dot over the 8-wide sub-vectors. */
  private def dot8Sql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, $SubDim), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** Sub-centroid argmin assignment (CTE text): mirrors [[assignSub]]'s
    * expanded-L2 score `|c|² − 2·dot` (same double expression, so the
    * ordering is bit-identical), cid tie-break. `src`: (vec_id, m, sv). */
  private def pqAssignSql(src: String, cb: String, out: String): String =
    s"""$out AS (
       |  SELECT vec_id, m, sv, cid, code FROM (
       |    SELECT s.vec_id, s.m, s.sv, c.cid, c.code,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY ${dot8Sql("c.ce", "c.ce")} - 2.0 * ${dot8Sql("s.sv", "c.ce")} ASC,
       |                      c.cid ASC) rn
       |    FROM $src s JOIN $cb c ON s.m = c.m) WHERE rn = 1)""".stripMargin

  /** Codebook update: exact scaled-integer mean per (m, cid, pos). */
  private def pqUpdateSql(asg: String, n: Int): String =
    s"""px$n AS (
       |  SELECT a.m, a.cid, t.i AS pos,
       |         CAST(floor(CAST(a.sv[t.i] AS DOUBLE) * 1000000000.0) AS DECIMAL(38,0)) AS q
       |  FROM $asg a, range(1, ${SubDim + 1}) t(i)),
       |pm$n AS (
       |  SELECT m, cid, pos,
       |         CAST(CAST(sum(q) AS DOUBLE) / (1000000000.0 * count(*)) AS REAL) AS mv
       |  FROM px$n GROUP BY m, cid, pos),
       |pk$n AS (SELECT m, cid, list(mv ORDER BY pos) AS ce, CAST(0 AS BIGINT) AS code
       |         FROM pm$n GROUP BY m, cid)""".stripMargin

  /** The md5-portable PQ chain (CTE text), appended after
    * [[Similarity.portableIvfCtes]]'s `e`/`samp`: sub-vector fan-out,
    * per-subspace md5 seed draw, the unrolled 2-iteration Lloyd fit,
    * cid-rank code densification (`cb`), and full-corpus code assignment
    * (`codes`). ks interpolates from the SAME derivation the Spark side
    * runs (LshTuning.pqCentroids at the 500-vector gate corpus). */
  private[queries] def pqCtes: String = {
    val ks = LshTuning.pqCentroids(500)
    s"""sub AS (
       |  SELECT vec_id, t.m,
       |         list_transform(generate_series(1, $SubDim),
       |                        i -> embedding[t.m * $SubDim + i]) AS sv
       |  FROM samp, range(0, $M) t(m)),
       |p0 AS (
       |  SELECT m, vec_id AS cid, sv AS ce, CAST(0 AS BIGINT) AS code FROM (
       |    SELECT vec_id, m, sv,
       |           row_number() OVER (PARTITION BY m
       |             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) rn
       |    FROM sub) WHERE rn <= $ks),
       |${pqAssignSql("sub", "p0", "pa1")},
       |${pqUpdateSql("pa1", 1)},
       |${pqAssignSql("sub", "pk1", "pa2")},
       |${pqUpdateSql("pa2", 2)},
       |cb AS (SELECT m, cid,
       |              CAST(row_number() OVER (PARTITION BY m ORDER BY cid) - 1 AS BIGINT) AS code,
       |              ce
       |       FROM pk2),
       |subf AS (
       |  SELECT vec_id, t.m,
       |         list_transform(generate_series(1, $SubDim),
       |                        i -> embedding[t.m * $SubDim + i]) AS sv
       |  FROM e, range(0, $M) t(m)),
       |${pqAssignSql("subf", "cb", "codes")}""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // The unreferenced flat-IVF CTEs in the shared prefix (c0..asgf) are
    // pruned by DuckDB; only e/samp + the PQ chain run here.
    "x_sim_pq_md5" ->
      s"""WITH ${Similarity.portableIvfCtes},
         |$pqCtes
         |SELECT vec_id, m, code FROM codes ORDER BY vec_id, m""".stripMargin,

    // IVF-PQ end-to-end: coarse probe over the hash-gated flat-IVF fit,
    // ADC scoring via the query LUT over the hash-gated codes, top-20
    // shortlist, exact re-rank — every stage shares the CTEs its
    // standalone query gates.
    "x_sim_ivfpq_md5" -> {
      val dotq = Similarity.dotSql _
      s"""WITH ${Similarity.portableIvfCtes},
         |$pqCtes,
         |cdv AS (SELECT vec_id, list(code ORDER BY m) AS cd FROM codes GROUP BY vec_id),
         |probes AS (
         |  SELECT qid, cid FROM (
         |    SELECT q.vec_id qid, c.cid,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dotq("q.embedding", "c.ce")} / (q.nrm * c.cn) DESC, c.cid ASC) rn
         |    FROM e q CROSS JOIN c2 c WHERE q.vec_id < 10) WHERE rn <= 4),
         |lutr AS (
         |  SELECT q.vec_id AS qid, c.m, c.code,
         |         list_sum(list_transform(generate_series(1, $SubDim),
         |           i -> CAST(q.embedding[c.m * $SubDim + i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE))) AS ip
         |  FROM e q CROSS JOIN cb c WHERE q.vec_id < 10),
         |lutm AS (SELECT qid, m, list(ip ORDER BY code) AS lm FROM lutr GROUP BY qid, m),
         |lut AS (SELECT qid, list(lm ORDER BY m) AS lut FROM lutm GROUP BY qid),
         |cand AS (
         |  SELECT p.qid, t.vec_id, t.embedding, t.nrm, q.embedding AS qe, q.nrm AS qn,
         |         list_sum(list_transform(generate_series(1, $M),
         |           mi -> l.lut[mi][t2.cd[mi] + 1])) AS ip
         |  FROM probes p
         |  JOIN asgf t ON p.cid = t.cid AND p.qid != t.vec_id
         |  JOIN cdv t2 ON t.vec_id = t2.vec_id
         |  JOIN lut l ON p.qid = l.qid
         |  JOIN e q ON p.qid = q.vec_id),
         |short AS (
         |  SELECT qid, vec_id, embedding, nrm, qe, qn FROM (
         |    SELECT cand.*, ip / (qn * nrm) AS qcos,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY ip / (qn * nrm) DESC, vec_id ASC) rns
         |    FROM cand) WHERE rns <= 20),
         |ranked AS (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) rank
         |  FROM (SELECT qid, vec_id, ${dotq("qe", "embedding")} / (qn * nrm) AS cos FROM short))
         |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cos
         |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    },

    // The takedown gate: the SAME IVF-PQ chain (fit, codebook and LUT
    // CTEs untouched — the persisted fit is frozen), the tombstoned
    // vector excluded from the candidate stage only.
    "x_sim_ivfpq_takedown" -> {
      val dotq = Similarity.dotSql _
      s"""WITH ${Similarity.portableIvfCtes},
         |$pqCtes,
         |cdv AS (SELECT vec_id, list(code ORDER BY m) AS cd FROM codes GROUP BY vec_id),
         |probes AS (
         |  SELECT qid, cid FROM (
         |    SELECT q.vec_id qid, c.cid,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dotq("q.embedding", "c.ce")} / (q.nrm * c.cn) DESC, c.cid ASC) rn
         |    FROM e q CROSS JOIN c2 c WHERE q.vec_id < 10) WHERE rn <= 4),
         |lutr AS (
         |  SELECT q.vec_id AS qid, c.m, c.code,
         |         list_sum(list_transform(generate_series(1, $SubDim),
         |           i -> CAST(q.embedding[c.m * $SubDim + i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE))) AS ip
         |  FROM e q CROSS JOIN cb c WHERE q.vec_id < 10),
         |lutm AS (SELECT qid, m, list(ip ORDER BY code) AS lm FROM lutr GROUP BY qid, m),
         |lut AS (SELECT qid, list(lm ORDER BY m) AS lut FROM lutm GROUP BY qid),
         |cand AS (
         |  SELECT p.qid, t.vec_id, t.embedding, t.nrm, q.embedding AS qe, q.nrm AS qn,
         |         list_sum(list_transform(generate_series(1, $M),
         |           mi -> l.lut[mi][t2.cd[mi] + 1])) AS ip
         |  FROM probes p
         |  JOIN asgf t ON p.cid = t.cid AND p.qid != t.vec_id AND t.vec_id != 195
         |  JOIN cdv t2 ON t.vec_id = t2.vec_id
         |  JOIN lut l ON p.qid = l.qid
         |  JOIN e q ON p.qid = q.vec_id),
         |short AS (
         |  SELECT qid, vec_id, embedding, nrm, qe, qn FROM (
         |    SELECT cand.*, ip / (qn * nrm) AS qcos,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY ip / (qn * nrm) DESC, vec_id ASC) rns
         |    FROM cand) WHERE rns <= 20),
         |ranked AS (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) rank
         |  FROM (SELECT qid, vec_id, ${dotq("qe", "embedding")} / (qn * nrm) AS cos FROM short))
         |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cos
         |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    },

    // IVF2-PQ: the two-level probe CTEs (x_sim_ivf2_md5's pc/pf incl.
    // the fallback fine cell) + the PQ LUT/ADC CTEs (x_sim_ivfpq_md5's),
    // candidates keyed by the fine cell — each piece gated standalone,
    // the composition stays bit-for-bit.
    "x_sim_ivf2pq_md5" -> {
      val dotq = Similarity.dotSql _
      s"""WITH ${Similarity.portableIvf2Ctes},
         |$pqCtes,
         |cdv AS (SELECT vec_id, list(code ORDER BY m) AS cd FROM codes GROUP BY vec_id),
         |pc AS (
         |  SELECT qid, qe, qn, ccid FROM (
         |    SELECT q.vec_id qid, q.embedding qe, q.nrm qn, c.cid ccid,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dotq("q.embedding", "c.ce")} / (q.nrm * c.cn) DESC, c.cid ASC) rn
         |    FROM e q CROSS JOIN c2 c WHERE q.vec_id < 10) WHERE rn <= 2),
         |pf AS (
         |  SELECT qid, fcid FROM (
         |    SELECT p.qid, COALESCE(f.fcid, -1 - p.ccid) AS fcid,
         |           row_number() OVER (PARTITION BY p.qid
         |             ORDER BY COALESCE(${dotq("p.qe", "f.fe")} / (p.qn * f.fn), 2.0) DESC,
         |                      COALESCE(f.fcid, -1 - p.ccid) ASC) rn
         |    FROM pc p LEFT JOIN f2 f ON p.ccid = f.ccid) WHERE rn <= 4),
         |lutr AS (
         |  SELECT q.vec_id AS qid, c.m, c.code,
         |         list_sum(list_transform(generate_series(1, $SubDim),
         |           i -> CAST(q.embedding[c.m * $SubDim + i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE))) AS ip
         |  FROM e q CROSS JOIN cb c WHERE q.vec_id < 10),
         |lutm AS (SELECT qid, m, list(ip ORDER BY code) AS lm FROM lutr GROUP BY qid, m),
         |lut AS (SELECT qid, list(lm ORDER BY m) AS lut FROM lutm GROUP BY qid),
         |cand AS (
         |  SELECT p.qid, t.vec_id, t.embedding, t.nrm, q.embedding AS qe, q.nrm AS qn,
         |         list_sum(list_transform(generate_series(1, $M),
         |           mi -> l.lut[mi][t2.cd[mi] + 1])) AS ip
         |  FROM pf p
         |  JOIN faf t ON p.fcid = t.fcid AND p.qid != t.vec_id
         |  JOIN cdv t2 ON t.vec_id = t2.vec_id
         |  JOIN lut l ON p.qid = l.qid
         |  JOIN e q ON p.qid = q.vec_id),
         |short AS (
         |  SELECT qid, vec_id, embedding, nrm, qe, qn FROM (
         |    SELECT cand.*, ip / (qn * nrm) AS qcos,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY ip / (qn * nrm) DESC, vec_id ASC) rns
         |    FROM cand) WHERE rns <= 20),
         |ranked AS (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) rank
         |  FROM (SELECT qid, vec_id, ${dotq("qe", "embedding")} / (qn * nrm) AS cos FROM short))
         |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cos
         |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    }
  )
}
