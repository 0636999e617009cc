package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core._
import graft.sources.Tables

/** Window-function family: ranking, offsets, frames, event-time windows,
  * and the as-of join (SURVEY.md §2B win_* / join_asof; REF:O8-O13,O23).
  *
  * Scale notes:
  *  - Every window here partitions by a real key (user_id / c_mktsegment /
  *    o_custkey), so the work distributes as one shuffle on that key followed
  *    by per-partition sorts — no single-partition global window anywhere
  *    (the classic 100 TB window-function trap).
  *  - The as-of join is expressed as `last(..., ignoreNulls)` over an
  *    unbounded-preceding frame after a single shuffle+sort per key — the
  *    union-then-window formulation of merge-asof, which scales linearly
  *    instead of building a per-row range probe.
  *  - Event-time tumbling/sliding use Spark's `window()`; session windows
  *    use `session_window()`. The streaming twins call the same operators
  *    through `graft.streaming` (SURVEY.md §3).
  */
object WindowQueries {

  private val GapUs = 1800L * 1000000L // 30-minute session gap, microseconds

  /** Exact running sum over a window: DECIMAL accumulation, double result. */
  private def wsum(c: org.apache.spark.sql.Column, w: org.apache.spark.sql.expressions.WindowSpec) =
    sum(c.cast(DecimalType(25, 6))).over(w).cast("double")

  /** Gaps-and-islands session oracle — ONE spelling shared by the batch
    * `win_session` and the streaming `win_session_stream` (streaming ≡
    * batch ≡ DuckDB). */
  private lazy val sessionSql =
    s"""WITH marked AS (
       |  SELECT user_id, ts, event_id, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= ${GapUs}
       |         THEN 1 ELSE 0 END AS brk
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sess AS (
       |  SELECT user_id, ts, value,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM marked)
       |SELECT user_id, min(epoch_us(ts)) AS session_start_us,
       |  count(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM sess GROUP BY user_id, sid
       |ORDER BY user_id, session_start_us""".stripMargin

  /** The window as-of spellings: each event's user-ordered frame, the
    * click time a purchase looks for, and the purchases with `matched`,
    * that time taken over the frame, as `name`. */
  private def byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
  private def clickUs = when(col("event_type") === "click", unix_micros(col("ts")))
  private def windowAsof(events: DataFrame, name: String, matched: Column): DataFrame =
    events.withColumn(name, matched)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"), col(name))
      .orderBy("event_id")

  /** DuckDB twins of the backward (strictly prior) and forward (strictly
    * later) click over the frame. */
  private val prevClickSql =
    """last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
  private val nextClickSql =
    """first_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)""".stripMargin
  private def windowAsofSql(name: String, matched: String): String =
    s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, $name FROM (
       |  SELECT event_id, user_id, ts, event_type,
       |    $matched AS $name
       |  FROM events)
       |WHERE event_type = 'purchase'
       |ORDER BY event_id""".stripMargin

  /** The as-of family's two sides: purchases, and clicks reduced to ONE
    * row per (user, ts), max click_id — "last write wins" — because
    * neither AsofJoinExec nor DuckDB's ASOF JOIN defines which of several
    * equal-time rows survives; the pre-aggregation makes the tie-break
    * an explicit, engine-independent part of the query. */
  private def asofSides(events: DataFrame): (DataFrame, DataFrame) = (
    events.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
    events.filter(col("event_type") === "click")
      .groupBy("user_id", "ts")
      .agg(max(col("event_id")).as("click_id")))

  private def asofOut(joined: DataFrame): DataFrame =
    joined.select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("r_click_id").as("click_id"))

  /** [[asofSides]] as DuckDB CTEs `p` and `c`. */
  private[operators] val asofSidesSql =
    """WITH p AS (SELECT event_id, user_id, ts FROM events
      |           WHERE event_type = 'purchase'),
      |     c AS (SELECT user_id, ts, max(event_id) AS click_id
      |           FROM events WHERE event_type = 'click' GROUP BY 1, 2)""".stripMargin

  /** The as-of oracle: DuckDB's ASOF LEFT JOIN of the sides on
    * `p.ts <cmp> c.ts` — `>=` the latest click at or before each
    * purchase, `<=` the first at or after. */
  private[operators] def asofSql(cmp: String): String =
    s"""$asofSidesSql
       |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, c.click_id
       |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts $cmp c.ts
       |ORDER BY p.event_id""".stripMargin

  private val tumblingSql =
    s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ws, event_type,
       |  count(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin

  val all: Seq[Q] = Seq(
    Q("win_rank",
      (s, dir) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(desc("c_acctbal"), asc("c_custkey"))
        Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
            row_number().over(w).as("rn"),
            rank().over(w).as("rnk"),
            dense_rank().over(w).as("drnk"),
            ntile(4).over(w).as("quartile"),
            r6(percent_rank().over(w)).as("pct_rank"),
            r6(cume_dist().over(w)).as("cdist"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment, c_acctbal,
             |  CAST(row_number() OVER w AS INTEGER) AS rn,
             |  CAST(rank() OVER w AS INTEGER) AS rnk,
             |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
             |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
             |  round(percent_rank() OVER w, 6) AS pct_rank,
             |  round(cume_dist() OVER w, 6) AS cdist
             |FROM customer
             |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
             |ORDER BY c_custkey""".stripMargin)),

    // REF:O11 — the rain-rate lag difference, generalized.
    Q("win_lag_lead",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("value"),
            lag("value", 1).over(w).as("prev_val"),
            lead("value", 1).over(w).as("next_val"),
            lag("value", 2, -1.0).over(w).as("prev2_or_neg1"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, value,
             |  lag(value, 1) OVER w AS prev_val,
             |  lead(value, 1) OVER w AS next_val,
             |  lag(value, 2, -1.0) OVER w AS prev2_or_neg1
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY event_id""".stripMargin)),

    // REF:O10 — running accumulation (the Totalrainstart delta), generalized
    // to running + sliding ROWS frames.
    Q("win_frame_rows",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sliding = w.rowsBetween(-2, Window.currentRow)
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("value"),
            wsum(col("value"), running).as("running_sum"),
            wsum(col("value"), sliding).as("sum3"),
            count(lit(1)).over(sliding).as("cnt3"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, value,
             |  CAST(CAST(sum(CAST(value AS DECIMAL(25,6))) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_sum,
             |  CAST(CAST(sum(CAST(value AS DECIMAL(25,6))) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS sum3,
             |  count(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS cnt3
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY event_id""".stripMargin)),

    // first/last/nth value over a full-partition frame (REF:O8 "latest
    // reading" shape as window functions).
    Q("win_first_last",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("value"),
            first(col("value")).over(w).as("first_val"),
            last(col("value")).over(w).as("last_val"),
            nth_value(col("value"), 2).over(w).as("second_val"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, value,
             |  first_value(value) OVER w AS first_val,
             |  last_value(value) OVER w AS last_val,
             |  nth_value(value, 2) OVER w AS second_val
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY event_id""".stripMargin)),

    // RANGE frame over a numeric (epoch-seconds) order key: 30-day trailing
    // spend per customer.
    Q("win_frame_range",
      (s, dir) => {
        val base = Tables.orders(s, dir)
          .withColumn("epoch_s", unix_timestamp(col("o_orderdate")))
        val w = Window.partitionBy("o_custkey").orderBy("epoch_s")
          .rangeBetween(-30L * 86400L, 0)
        base.select(col("o_orderkey"), col("o_custkey"), col("epoch_s"),
            wsum(col("o_totalprice"), w).as("trailing30d_spend"),
            count(lit(1)).over(w).as("trailing30d_orders"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
             |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) OVER w AS VARCHAR) AS DOUBLE) AS trailing30d_spend,
             |  count(*) OVER w AS trailing30d_orders
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
             |             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
             |ORDER BY o_orderkey""".stripMargin)),

    // As-of join (SURVEY.md §2B join_asof; mirrors REF:O8 "latest reading
    // at or before now"): for each purchase, the most recent strictly-prior
    // click by the same user.
    Q("join_asof",
      (s, dir) => windowAsof(Tables.events(s, dir), "last_click_us",
        last(clickUs, ignoreNulls = true).over(byUser.rowsBetween(Window.unboundedPreceding, -1))),
      Some(windowAsofSql("last_click_us", prevClickSql))),

    // Forward as-of: the NEXT matching event at-or-after each probe row —
    // the mirrored frame (current row → unbounded following, first
    // non-null). Completes the merge-asof direction pair (pandas
    // direction='forward'); nearest = coalesce of both by smaller gap.
    Q("join_asof_fwd",
      (s, dir) => windowAsof(Tables.events(s, dir), "next_click_us",
        first(clickUs, ignoreNulls = true).over(byUser.rowsBetween(1, Window.unboundedFollowing))),
      Some(windowAsofSql("next_click_us", nextClickSql))),

    // Nearest as-of: closer of the previous and next match, ties to the
    // previous (pandas direction='nearest'). Both candidates come from
    // the same sorted window pass — no extra shuffle over join_asof.
    Q("join_asof_near",
      (s, dir) => {
        val wPrev = byUser.rowsBetween(Window.unboundedPreceding, -1)
        val wNext = byUser.rowsBetween(1, Window.unboundedFollowing)
        Tables.events(s, dir)
          .withColumn("prev_us", last(clickUs, ignoreNulls = true).over(wPrev))
          .withColumn("next_us", first(clickUs, ignoreNulls = true).over(wNext))
          .filter(col("event_type") === "purchase")
          .withColumn("ts_us", unix_micros(col("ts")))
          .withColumn("near_click_us",
            when(col("prev_us").isNull, col("next_us"))
              .when(col("next_us").isNull, col("prev_us"))
              .when(col("ts_us") - col("prev_us") <= col("next_us") - col("ts_us"),
                col("prev_us"))
              .otherwise(col("next_us")))
          .select(col("event_id"), col("user_id"), col("ts_us"), col("near_click_us"))
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, user_id, ts_us,
              |  CASE WHEN prev_us IS NULL THEN next_us
              |       WHEN next_us IS NULL THEN prev_us
              |       WHEN ts_us - prev_us <= next_us - ts_us THEN prev_us
              |       ELSE next_us END AS near_click_us
              |FROM (
              |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
              |    $prevClickSql AS prev_us,
              |    $nextClickSql AS next_us
              |  FROM events)
              |WHERE event_type = 'purchase'
              |ORDER BY event_id""".stripMargin)),

    // The same as-of semantics through the custom merge operator
    // (graft.plans.AsofJoinPlan): one shuffle+sort per side, streamed
    // merge, no windowed row widening. Oracle: DuckDB's native ASOF JOIN
    // (inclusive <=, like this operator; join_asof above is the
    // strictly-prior window formulation), over the sides asofSides
    // reduces.
    Q("join_asof_custom",
      (s, dir) => {
        val (purchases, clicks) = asofSides(Tables.events(s, dir))
        asofOut(Asof.join(purchases, clicks, "user_id", "ts"))
          .orderBy("event_id")
      },
      Some(asofSql(">="))),

    // REF:O9/O23 — event-time tumbling window (1 hour), batch view. The
    // streaming surface uses the identical window() operator.
    Q("win_tumbling",
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("ws"),
                col("event_type"), col("n"), col("sum_value"))
        .orderBy("ws", "event_type"),
      Some(tumblingSql)),

    // win_tumbling as a STREAMING fact: WeatherStream.hourlyStats, the
    // identical window()+dsum, run as a watermarked query over the chunked
    // file feed, one chunk per micro-batch, sharing the batch oracle —
    // windowed streaming ≡ batch ≡ DuckDB, hash-exact (DECIMAL sum state
    // is order-independent). WeatherStream.sentinelFeed closes the
    // windows (its scaladoc has the two-sentinel rule).
    StreamQ("win_tumbling_stream",
      (s, dir) => {
        import graft.streaming.WeatherStream
        val input = WeatherStream.sentinelFeed(
          Tables.events(s, dir).select(col("ts"), col("event_type"), col("value")),
          WeatherStream.stagingDir("win_tumbling", dir), t => Row(t, "__sentinel", 0.0))
        WeatherStream.drain(
            WeatherStream.hourlyStats(input.df).withColumn("ws", unix_timestamp(col("ws"))),
            "win_tumbling_stream", WeatherStream.FileSink(), input)
          // defensive: a sentinel window never closes today, but a batch
          // run after the epilogue (checkpoint re-run, no-data batches
          // back on) would close sentinel #1's window and emit it; null-safe
          // so a NULL event_type group survives, as in the oracle
          .filter(!(col("event_type") <=> "__sentinel"))
          .orderBy("ws", "event_type")
      },
      Some(tumblingSql)),

    // STREAM-STREAM inner join: purchase stream ⋈ click stream on user
    // with an event-time range (click within the hour before the
    // purchase), watermarks on BOTH sides bounding the join state. The
    // final match set is deterministic — exactly the batch range join —
    // because state for a row is only dropped once the GLOBAL watermark
    // (min over both chunked feeds, which advance in step) passes its
    // 1-hour window, by which time every partner row has arrived. Sixth
    // streaming ≡ batch ≡ DuckDB fact; covers the streaming-joins family.
    StreamQ("join_stream_stream",
      (s, dir) => {
        import graft.streaming.WeatherStream
        val ev = Tables.events(s, dir)
        val p = WeatherStream.chunkedFileFeedDF(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts")),
          "p_ts", WeatherStream.stagingDir("ss_purchase", dir))
        val c = WeatherStream.chunkedFileFeedDF(
          ev.filter(col("event_type") === "click")
            .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
              col("ts").as("c_ts")),
          "c_ts", WeatherStream.stagingDir("ss_click", dir))
        val joined = p.df.withWatermark("p_ts", "2 hours")
          .join(c.df.withWatermark("c_ts", "2 hours"),
            expr("user_id = c_user AND c_ts >= p_ts - interval 1 hour AND c_ts <= p_ts"))
          .select(col("p_id"), col("user_id"),
            unix_micros(col("p_ts")).as("p_ts_us"),
            col("c_id"), unix_micros(col("c_ts")).as("c_ts_us"))
        // both feeds advance in step so the global watermark keeps moving
        WeatherStream.drain(joined, "join_stream_stream", WeatherStream.FileSink(), p, c)
          .orderBy("p_id", "c_id")
      },
      Some("""SELECT p.event_id AS p_id, p.user_id, epoch_us(p.ts) AS p_ts_us,
             |  c.event_id AS c_id, epoch_us(c.ts) AS c_ts_us
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |JOIN (SELECT * FROM events WHERE event_type = 'click') c
             |  ON p.user_id = c.user_id
             | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
             |ORDER BY p_id, c_id""".stripMargin)),

    // STREAM-STATIC enrichment join: the event stream joined per
    // micro-batch against a precomputed (static, broadcast) reference
    // frame — the standard dimension-enrichment shape. Stateless
    // (append passthrough, no watermark); the static side is built once
    // from the batch table, exactly what a 100 TB deployment does with a
    // published dim snapshot.
    StreamQ("join_stream_static",
      (s, dir) => {
        import graft.streaming.WeatherStream
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        val dim = ev.groupBy("event_type").agg(davg(col("value")).as("type_avg"))
        val input = WeatherStream.chunkedFileFeedDF(
          ev, "ts", WeatherStream.stagingDir("ss_enrich", dir))
        val joined = input.df.join(broadcast(dim), "event_type")
          .select(col("event_id"), col("event_type"), col("value"),
            r6(col("type_avg")).as("type_avg"))
        WeatherStream.drain(joined, "join_stream_static", WeatherStream.FileSink(), input)
          .orderBy("event_id")
      },
      Some(s"""SELECT e.event_id, e.event_type, e.value,
              |  round(d.type_avg * 1e6) / 1e6 AS type_avg
              |FROM events e
              |JOIN (SELECT event_type, ${davgSql("value")} AS type_avg
              |      FROM events GROUP BY 1) d USING (event_type)
              |ORDER BY e.event_id""".stripMargin)),

    // STREAM-STATIC TEMPORAL (as-of) enrichment: each arriving purchase
    // picks up the LATEST click at or before ITS OWN event time from a
    // published static click snapshot — the temporal variant of
    // join_stream_static, and the reference's own "latest reading at or
    // before now" semantics (MetOffice_WOW_Connect.txt:210-216)
    // generalized to a stream. Spelled as a documented PER-MICRO-BATCH
    // Asof.join inside foreachBatch: the merge as-of is a batch operator
    // (one shuffle+sort per side, O(1) merge state — AsofJoinPlan), and
    // against a COMPLETE static right side it distributes over any left
    // partition — asof(left subset, right) is exactly the matching
    // subset of asof(left, right) — so the union over micro-batches
    // equals the batch join REGARDLESS of how the stream is chunked.
    // Replay-idempotent (each micro-batch overwrites its own batch=<id>
    // output dir). The EIGHTH streaming ≡ batch fact: shares
    // join_asof_custom's DuckDB ASOF JOIN oracle verbatim.
    StreamQ("join_asof_stream",
      (s, dir) => {
        import graft.streaming.WeatherStream
        val (purchases, clickSide) = asofSides(Tables.events(s, dir))
        // the dim snapshot, computed ONCE and reused per micro-batch
        val clicks = clickSide.localCheckpoint(true)
        val input = WeatherStream.chunkedFileFeedDF(purchases, "ts",
          WeatherStream.stagingDir("asof_stream", dir))
        WeatherStream.drain(input.df, "join_asof_stream",
          WeatherStream.PerBatch(b => asofOut(Asof.join(b, clicks, "user_id", "ts"))),
          input)
          .orderBy("event_id")
      },
      Some(asofSql(">="))),

    // Running top-k per key over a STREAM: StreamingTopK.runningTopK,
    // whose state is the same bounded TopKAggregator buffer batch ranking
    // uses — O(k) per key forever, no watermark needed: all-history top-k
    // is monotone. Oracle-checked: after draining the chunked file feed,
    // each key's LAST emission (largest n_seen) must equal the batch
    // window ranking — the third streaming ≡ batch ≡ DuckDB fact, covering
    // stateful typed aggregation. Replay duplicates cannot displace
    // entries (TopKAggregator set semantics, AggregatorProps).
    StreamQ("topk_stream",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        import graft.streaming.{StreamingTopK, WeatherStream}
        val readings = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val feed = WeatherStream.chunkedFileFeed(
          readings, WeatherStream.stagingDir("topk_stream", dir))
        val updates = StreamingTopK.runningTopK(
          s, feed.typed.map(r => (r.user_id, r.value, r.event_id)), 3)
        val w = Window.partitionBy("user_id").orderBy(desc("n_seen"))
        WeatherStream.drain(updates.toDF("user_id", "n_seen", "ids", "scores"),
          "topk_stream", WeatherStream.PerBatch(), feed)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), posexplode(arrays_zip(col("ids"), col("scores"))))
          .select(col("user_id"), (col("pos") + 1).cast("int").as("rank"),
            col("col.ids").as("event_id"), col("col.scores").as("value"))
          .orderBy("user_id", "rank")
      },
      Some("""SELECT user_id, CAST(rank AS INTEGER) AS rank, event_id, value
             |FROM (SELECT user_id, event_id, value,
             |        row_number() OVER (PARTITION BY user_id
             |                           ORDER BY value DESC, event_id) AS rank
             |      FROM events)
             |WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin)),

    // Sliding window (1 hour every 15 min): each event lands in 4 windows.
    // The DuckDB oracle reproduces Spark's slide-aligned window assignment
    // with an explicit ×4 expansion join.
    Q("win_sliding",
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("ws"), col("n"), col("sum_value"))
        .orderBy("ws"),
      Some(s"""SELECT ws, count(*) AS n, ${dsumSql("value")} AS sum_value
              |FROM (SELECT CAST(floor(epoch(ts)/900) AS BIGINT)*900 - k*900 AS ws, value
              |      FROM events, (VALUES (0),(1),(2),(3)) t(k))
              |GROUP BY ws ORDER BY ws""".stripMargin)),

    // Gap-based session window (30 min); DuckDB oracle is the classic
    // gaps-and-islands rewrite. Spark closes a session when the next event
    // starts >= gap after the previous event's window end.
    Q("win_session",
      (s, dir) => Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"),
                unix_micros(col("session_window.start")).as("session_start_us"),
                col("n"), col("sum_value"))
        .orderBy("user_id", "session_start_us"),
      Some(sessionSql)),

    // Session windows as a STREAMING query over the chunked file feed:
    // WeatherStream.sessionStats, the hardest windowing case — session
    // state must MERGE across micro-batches. Shares win_session's
    // gaps-and-islands oracle — the fifth streaming ≡ batch ≡ DuckDB fact.
    // WeatherStream.sentinelFeed closes the sessions, as for
    // win_tumbling_stream.
    StreamQ("win_session_stream",
      (s, dir) => {
        import graft.streaming.WeatherStream
        val input = WeatherStream.sentinelFeed(
          Tables.events(s, dir).select(col("ts"), col("user_id"), col("value")),
          WeatherStream.stagingDir("win_session", dir), t => Row(t, -1L, 0.0))
        val agg = WeatherStream.sessionStats(input.df)
          .select(col("user_id"), unix_micros(col("session_start")).as("session_start_us"),
            col("n"), col("sum_value"))
        WeatherStream.drain(agg, "win_session_stream", WeatherStream.FileSink(), input)
          .filter(col("user_id") =!= -1L)
          .orderBy("user_id", "session_start_us")
      },
      Some(sessionSql)),

    // Time-series resample + gap-fill: per-key hourly grid (sequence over
    // the key's observed span), left-join observed aggregates, forward-
    // fill with last(..., ignoreNulls) — the REF's fixed-cadence
    // observation stream (O23) generalized to arbitrary keys with missing
    // intervals. One shuffle for the per-hour aggregate, one for the
    // bounds, one window sort; the grid explode is narrow. The first grid
    // hour of each key is observed by construction, so the fill never
    // reads before the frame.
    Q("ts_gapfill",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn("hour", date_trunc("hour", col("ts")))
        // obs is consumed twice (grid bounds + the fill join); column
        // pruning specializes the two aggregate branches differently, so
        // plan-level exchange reuse cannot kick in and the raw table would
        // be scanned twice. Materialize the aggregate once instead — it is
        // |distinct user-hours| rows, orders of magnitude smaller than the
        // event log at scale — so events is scanned exactly once.
        // localCheckpoint blocks die with their executor: a long-running
        // cluster job should use reliable checkpoint() (or persist to
        // storage) here so executor loss recomputes instead of failing.
        val obs = ev.groupBy("user_id", "hour")
          .agg(dsum(col("value")).as("v"), count(lit(1)).as("n_obs"))
          .localCheckpoint(true)
        val grid = obs
          .groupBy("user_id")
          .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
          .select(col("user_id"),
            explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
        val w = Window.partitionBy("user_id").orderBy("hour")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(obs, Seq("user_id", "hour"), "left")
          .select(col("user_id"), unix_micros(col("hour")).as("hour_us"),
            col("n_obs").isNotNull.as("observed"),
            coalesce(col("n_obs"), lit(0L)).as("n_obs"),
            last(col("v"), ignoreNulls = true).over(w).as("v_ffill"))
          .orderBy("user_id", "hour_us")
      },
      Some(s"""WITH ev AS (
              |  SELECT user_id, date_trunc('hour', ts) AS hour, value FROM events),
              |obs AS (
              |  SELECT user_id, hour, ${dsumSql("value")} AS v, count(*) AS n_obs
              |  FROM ev GROUP BY user_id, hour),
              |bounds AS (
              |  SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM ev GROUP BY user_id),
              |grid AS (
              |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
              |  FROM bounds)
              |SELECT g.user_id, epoch_us(g.hour) AS hour_us,
              |  o.n_obs IS NOT NULL AS observed,
              |  coalesce(o.n_obs, 0) AS n_obs,
              |  last_value(o.v IGNORE NULLS) OVER (
              |    PARTITION BY g.user_id ORDER BY g.hour
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
              |FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.hour = o.hour
              |ORDER BY g.user_id, hour_us""".stripMargin)),
  )
}
