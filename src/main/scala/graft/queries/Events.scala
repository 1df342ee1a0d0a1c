package graft.queries

import graft.Engine.table
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Windowed / sessionized analytics over `events`.
  *
  * All window arithmetic below is exact integer math on epoch
  * MICROSECONDS (`us`), derived from `events.ts` by physical layout
  * ([[usFor]]): the driver testdata has shipped `ts` both as parquet
  * timestamp[ns] (read as LongType ns via
  * spark.sql.legacy.parquet.nanosAsLong) and as timestamp[us] (read as
  * TIMESTAMP_NTZ), and every layout maps to the SAME µs value DuckDB's
  * `epoch_us(ts)` computes — so the oracles agree bit-for-bit regardless
  * of which layout a corpus carries.
  *
  * The same logic runs under Structured Streaming (graft.streaming.* uses
  * window()/session_window() + watermarks); these batch twins are the
  * oracle-checkable surface. Scale: tumbling windows aggregate with
  * map-side partials on (window, type); sessionization shuffles once on
  * user_id — the standard keyed-state layout a cluster run would use.
  */
object Events {

  type Q = (SparkSession, String) => DataFrame

  /** ns → µs in exact long arithmetic. INTEGER division because ns epochs
    * (~1.7e18) exceed double's 53-bit mantissa (`ts / 1000` drifts ±1 µs);
    * FLOOR division, not `ts div 1000`, because div truncates toward zero
    * while DuckDB's epoch_us floors (ts = -1500 ns → -2 µs, not -1), so a
    * pre-epoch event with a sub-µs component would land one µs late and
    * shift its window/session/gap arithmetic. pmod(ts, 1000) ∈ [0,999]
    * makes the numerator an exact multiple, so div IS floor here. */
  private[queries] val nsToUs = "(ts - pmod(ts, 1000)) div 1000"

  /** TIMESTAMP_NTZ → epoch µs, timezone-independent: a µs-difference from
    * the NTZ epoch never consults the session zone, exactly how DuckDB's
    * epoch_us reads its naive TIMESTAMP. (unix_micros would need a cast
    * through the session-zoned TIMESTAMP type first.) */
  private[queries] val ntzToUs =
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"

  /** Epoch-µs extraction dispatched on the PHYSICAL layout `ts` arrived
    * in — long ns, naive timestamp, or zoned timestamp (instant
    * semantics → unix_micros). */
  private[graft] def usFor(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType         => expr(nsToUs)
      case org.apache.spark.sql.types.TimestampNTZType => expr(ntzToUs)
      case org.apache.spark.sql.types.TimestampType    => expr("unix_micros(ts)")
      case other => throw new IllegalArgumentException(
        s"events.ts: expected long-ns or timestamp, got $other")
    }

  private def ev(s: SparkSession, d: String): DataFrame = {
    val t = table(s, d, "events")
    t.withColumn("us", usFor(t))
  }

  /** Rows-per-partition target for the sessionization window sort's
    * size-gated spread, prop/env-overridable (`graft.sessionSpreadRows`
    * sys-prop for specs — forcing it tiny pins the spread branch on the
    * gate corpus; `SPARK_GRAFT_SESSION_SPREAD_ROWS` for a submit).
    * ~250k narrow rows per sort keeps each buffer inside a fair share
    * of the unified region at any measured octave (EventsProbe). */
  private[graft] def sessionSpreadRows: Long =
    sys.props.get("graft.sessionSpreadRows")
      .orElse(sys.env.get("SPARK_GRAFT_SESSION_SPREAD_ROWS"))
      .map(_.toLong).getOrElse(250000L)

  /** Window-start bucket: floor `us` to a multiple of `width`. pmod gives
    * FLOOR semantics for pre-1970 (negative) epochs — the same window
    * assignment Spark's own window() makes; the oracles spell the same
    * floor as `us - ((us % w) + w) % w`. */
  private def bucket(width: Long) =
    col("us") - pmod(col("us"), lit(width))

  val queries: Map[String, Q] = Map(
    // -- tumbling 1-hour windows per event type
    "x_events_tumbling" -> ((s, d) =>
      ev(s, d)
        .withColumn("w", bucket(3600L * 1000000))
        .groupBy("w", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(25,2)")).cast("double").as("sum_value"))
        .orderBy("w", "event_type")),

    // -- sliding 30-min windows (1h width) per type: explode into the two
    //    covering windows, then aggregate — the batch twin of
    //    window(ts, '1 hour', '30 minutes')
    "x_events_sliding" -> ((s, d) => {
      val slide = 1800L * 1000000
      ev(s, d)
        .select(col("event_type"), col("us"),
          explode(array(bucket(slide), bucket(slide) - lit(slide))).as("w"))
        .groupBy("w", "event_type").agg(count(lit(1)).as("n"))
        .orderBy("w", "event_type")
    }),

    // -- CONVERSION ATTRIBUTION: the FORWARD as-of — for every view,
    //    the user's first subsequent purchase and whether it landed
    //    inside the 1-hour conversion window (the outcome-labeling
    //    join behind funnel metrics and training-label construction;
    //    x_events_asof is its backward twin). Single shuffle: one
    //    user-partitioned window over the tagged view∪purchase stream,
    //    a RANGE frame (us strictly greater) carrying a running
    //    min(struct(us, id)) — so "first later purchase" is exact
    //    integer-µs arithmetic with the (us, id) total order, and the
    //    whole label hash-gates.
    "x_events_conversion" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = ev(s, d).select(col("event_id"), col("user_id"), col("event_type"), col("us"))
      val w = Window.partitionBy("user_id").orderBy(col("us").desc)
        .rangeBetween(Window.unboundedPreceding, -1)
      e.filter(col("event_type").isin("view", "purchase"))
        .withColumn("np", min(when(col("event_type") === "purchase",
          struct(col("us"), col("event_id")))).over(w))
        .filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("us").as("v_us"),
          col("np.us").as("p_us"), col("np.event_id").as("purchase_id"))
        .withColumn("converted",
          col("p_us").isNotNull && col("p_us") <= col("v_us") + lit(3600000000L))
        .orderBy("event_id")
    }),

    // -- rate-anomaly detection: flag hourly windows whose event count
    //    sits beyond 2σ of the type's own hourly distribution — the
    //    ops-side spike/outage detector over the same tumbling windows.
    //    The z² > k² test CROSS-MULTIPLIES to integers ((nH − S)² >
    //    k²(H·SS − S²), computed in DECIMAL(38,0)) so the verdict is
    //    engine-portable with no float threshold; only the reported
    //    mean is a (single-division) double. Two aggregation passes
    //    over the skinny hourly relation; the per-type stats broadcast.
    "x_events_anomaly" -> ((s, d) => {
      val hourly = ev(s, d).withColumn("w", bucket(3600L * 1000000))
        .groupBy("w", "event_type").agg(count(lit(1)).as("n"))
      val stats = hourly.groupBy("event_type")
        .agg(count(lit(1)).as("hh"), sum("n").as("ss"),
          sum(col("n") * col("n")).as("ss2"))
      val dev = (col("n") * col("hh") - col("ss")).cast("decimal(38,0)")
      hourly.join(broadcast(stats), Seq("event_type"))
        .select(col("w"), col("event_type"), col("n"),
          (col("ss").cast("double") / col("hh")).as("mu"),
          (dev * dev >
            lit(4) * (col("hh").cast("decimal(38,0)") * col("ss2") -
              col("ss").cast("decimal(38,0)") * col("ss"))).as("anomaly"))
        .orderBy("w", "event_type")
    }),

    // -- gap-based sessionization (30-min inactivity): one shuffle on
    //    user_id; session bounds via lag + running sum of gap flags.
    //    The projection narrows to the three columns the windows read
    //    BEFORE the per-user sort: the events relation carries a `props`
    //    payload string that otherwise rides through both window sorts
    //    (3.9 GB of measured external-sort spill at the 256× point,
    //    SCALE_r15 — column pruning does not reach below a Window whose
    //    input was widened by the `us` projection).
    "x_events_sessions" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
      // SIZE-GATED data-sized spread for the window sort (the
      // wideArgmaxRows pattern): AQE's 16 MB advisory coalesces this
      // narrow (3-long-column) exchange to ~36 partitions at the 256×
      // octave, and 32 concurrent ~700k-row sort buffers against one
      // shared pool rotate the sorter (measured: 1.5 GB
      // memoryBytesSpilled per run, 65 MB disk — EventsProbe). Above
      // the gate, an explicit ~[[sessionSpreadRows]]-rows-per-partition
      // repartition keeps each sort in-grant at any corpus size and
      // SATISFIES the window's required distribution, so the plan still
      // carries exactly one user-keyed exchange. The gate compares the
      // derived width against the FLEET width (defaultParallelism —
      // NOT conf.numShufflePartitions, which under AQE reports the
      // inflated initialPartitionNum and would never trip): at or
      // below one target-sized sort per core, the window's own
      // AQE-coalesced exchange runs few enough concurrent sorters
      // that each holds an ample pool share (x64 measured clean);
      // above it, full-width concurrency meets >target-sized buffers —
      // the measured rotation regime (x256: 1.5 GB memfreed + 65 MB
      // disk per run without the spread, zero with it). The row count
      // comes from parquet FOOTER metadata (Engine.tableRows: zero jobs,
      // where a count() is a real Spark job per plan build, the r17
      // ADVICE cost).
      val n = (graft.Engine.tableRows(s, d, "events") /
        sessionSpreadRows).toInt
      val base = ev(s, d).select("user_id", "event_id", "us")
      val spread = if (n > s.sparkContext.defaultParallelism)
        base.repartition(n, col("user_id")) else base
      spread
        .withColumn("gap", when(
          col("us") - lag("us", 1).over(byUser) > 1800L * 1000000, 1L).otherwise(0L))
        .withColumn("session_id", sum("gap").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          // integer division on both sides (DuckDB CAST rounds, Spark truncates)
          expr("(max(us) - min(us)) div 1000000").as("duration_secs"))
        .orderBy("user_id", "session_id")
    }),

    // -- RANGE JOIN (non-equi |Δt| ≤ 5 min), bucketed: a naive time-range
    //    join plans as a nested-loop product in Spark; binning both sides
    //    to 5-minute buckets and exploding the probe side into its three
    //    covering buckets turns it into a pure equi-join on (user, bin)
    //    with an exact |Δ| refine — complete by construction (a match
    //    within ±B shares one of bin-1/bin/bin+1) and each pair joins
    //    exactly once (the build side keeps its single bin).
    "x_events_range_join" -> ((s, d) => {
      val B = 300L * 1000000 // 5 min in µs
      val e = ev(s, d)
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"), col("us").as("e_us"),
          explode(expr(s"array(us div $B - 1, us div $B, us div $B + 1)")).as("bin"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("us").as("c_us"),
          expr(s"us div $B").as("bin"))
      errors.join(clicks, Seq("user_id", "bin"))
        .filter(abs(col("e_us") - col("c_us")) <= B)
        .select(col("err_id"), col("click_id"), col("user_id"),
          (col("c_us") - col("e_us")).as("delta_us"))
        .orderBy("err_id", "click_id")
    }),

    // -- AS-OF JOIN (an operator Spark lacks natively): each purchase is
    //    matched to the latest view by the same user at or before it.
    //    Composable single-shuffle implementation — tag both streams,
    //    union, sort within user by (time, tag) with views first at equal
    //    time, and carry the last view forward with last(ignoreNulls) —
    //    O(n log n) per key, ONE shuffle, no range-explosion and no
    //    per-row probe join; exactly the layout a 1000-executor run
    //    wants (each user's timeline lands in one partition stream).
    //    Oracle: DuckDB's native ASOF LEFT JOIN. Views are pre-deduped
    //    per (user, us) to the max event_id so the as-of tie is
    //    deterministic in both engines.
    "x_events_asof" -> ((s, d) => {
      val e = ev(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("us")).agg(max("event_id").as("view_id"))
      val tagged = views.select(col("user_id"), col("us"), lit(0).as("tag"),
          lit(null).cast("long").as("purchase_id"), col("view_id"))
        .unionAll(purchases.select(col("user_id"), col("us"), lit(1).as("tag"),
          col("event_id").as("purchase_id"), lit(null).cast("long").as("view_id")))
      val w = Window.partitionBy("user_id").orderBy("us", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("vid", last("view_id", ignoreNulls = true).over(w))
        .withColumn("vus", last(when(col("tag") === 0, col("us")), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(col("purchase_id"), col("user_id"), col("us").as("p_us"),
          col("vid").as("view_id"), col("vus").as("v_us"),
          (col("us") - col("vus")).as("gap_us"))
        .orderBy("purchase_id")
    })
  )

  val oracle: Map[String, String] = Map(
    // window starts spell FLOOR semantics — `us - ((us % w) + w) % w` —
    // so pre-1970 (negative-epoch) events bucket identically to Spark's
    // pmod; equal to plain `us - us % w` for the non-negative testdata
    "x_events_tumbling" ->
      """SELECT (epoch_us(ts) - ((epoch_us(ts) % CAST(3600000000 AS BIGINT))
        |        + CAST(3600000000 AS BIGINT)) % CAST(3600000000 AS BIGINT)) AS w, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY w, event_type""".stripMargin,

    "x_events_sliding" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) us FROM events),
        |b AS (SELECT event_type, us,
        |        us - ((us % 1800000000) + 1800000000) % 1800000000 AS w0 FROM e),
        |x AS (
        |  SELECT event_type, us, w0 AS w FROM b
        |  UNION ALL
        |  SELECT event_type, us, w0 - 1800000000 AS w FROM b)
        |SELECT w, event_type, count(*) AS n FROM x
        |GROUP BY w, event_type ORDER BY w, event_type""".stripMargin,

    // first-later-purchase via the same (us, id) struct min, spelled as
    // a grouped left join
    "x_events_conversion" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT * FROM e WHERE event_type = 'view'),
        |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |np AS (SELECT v.event_id, v.user_id, v.us AS v_us,
        |         min({'us': p.us, 'pid': p.event_id}) AS m
        |       FROM v LEFT JOIN p ON p.user_id = v.user_id AND p.us > v.us
        |       GROUP BY v.event_id, v.user_id, v.us)
        |SELECT event_id, user_id, v_us, m.us AS p_us, m.pid AS purchase_id,
        |  m.us IS NOT NULL AND m.us <= v_us + 3600000000 AS converted
        |FROM np ORDER BY event_id""".stripMargin,

    // the same hourly windows; the z² test in the same exact decimals
    "x_events_anomaly" ->
      """WITH h AS (SELECT (epoch_us(ts) - ((epoch_us(ts) % CAST(3600000000 AS BIGINT))
        |        + CAST(3600000000 AS BIGINT)) % CAST(3600000000 AS BIGINT)) AS w,
        |        event_type, CAST(count(*) AS BIGINT) AS n
        |      FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS hh,
        |         CAST(sum(n) AS BIGINT) AS ss, CAST(sum(n * n) AS BIGINT) AS ss2
        |       FROM h GROUP BY 1)
        |SELECT h.w, h.event_type, h.n,
        |  CAST(st.ss AS DOUBLE) / st.hh AS mu,
        |  CAST(h.n * st.hh - st.ss AS DECIMAL(38,0))
        |    * CAST(h.n * st.hh - st.ss AS DECIMAL(38,0)) >
        |  4 * (CAST(st.hh AS DECIMAL(38,0)) * st.ss2
        |    - CAST(st.ss AS DECIMAL(38,0)) * st.ss) AS anomaly
        |FROM h JOIN st USING (event_type) ORDER BY w, event_type""".stripMargin,

    "x_events_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) us FROM events),
        |g AS (SELECT user_id, event_id, us,
        |        CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |                  > 1800 * 1000000 THEN 1 ELSE 0 END AS gap
        |      FROM e),
        |s AS (SELECT user_id, us,
        |        CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY us, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |      FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS duration_secs
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "x_events_range_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) us, event_type FROM events)
        |SELECT a.event_id AS err_id, c.event_id AS click_id, a.user_id,
        |       c.us - a.us AS delta_us
        |FROM e a JOIN e c
        |  ON a.user_id = c.user_id
        | AND a.event_type = 'error' AND c.event_type = 'click'
        | AND abs(a.us - c.us) <= 300000000
        |ORDER BY err_id, click_id""".stripMargin,

    "x_events_asof" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) us, event_type FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, us AS p_us FROM e
        |      WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, us AS v_us, max(event_id) AS view_id FROM e
        |      WHERE event_type = 'view' GROUP BY user_id, us)
        |SELECT p.purchase_id, p.user_id, p.p_us, v.view_id, v.v_us,
        |       p.p_us - v.v_us AS gap_us
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.p_us >= v.v_us
        |ORDER BY purchase_id""".stripMargin
  )
}
