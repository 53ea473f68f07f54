package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable._

/** Event-log (the reference's `logs` table) queries.
  *
  * `ref_*` mirror the reference benchmark surface exactly
  * (`benches/query.rs:23-27`: full_scan / filter / aggregation); the rest are
  * the batch mirrors of the streaming operators in `graft.streaming`.
  * Timestamps are emitted as epoch micros/seconds (BIGINT) so the DuckDB
  * oracle compares without timezone-encoding ambiguity.
  */
object Events {

  /** `SELECT * FROM logs` (`benches/query.rs:24`) — scan throughput; the
    * raw ts is re-encoded as epoch micros for oracle portability.
    */
  def refFullScan(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"), unix_micros(col("ts")).as("ts_us"),
      col("user_id"), col("event_type"), col("value"), col("props"))

  val refFullScanSql: String =
    """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
      |FROM events""".stripMargin

  /** `SELECT service, pod FROM logs WHERE request_method = 'DELETE'`
    * (`benches/query.rs:25`) — projection + selective predicate; both must
    * reach the parquet scan (PushedFilters + 3-column ReadSchema).
    */
  def refFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("event_type"))

  val refFilterSql: String =
    "SELECT event_id, user_id, event_type FROM events WHERE event_type = 'error'"

  /** `SELECT container, pod, AVG(response_bytes) ... GROUP BY container, pod`
    * (`benches/query.rs:26`) — two-key hash agg with partial (map-side)
    * aggregation; exact-cents AVG for cross-engine determinism.
    */
  def refAggregation(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(centsAvg(col("value")).as("avg_value"), count(lit(1)).as("n_events"))

  val refAggregationSql: String =
    s"""SELECT event_type, user_id, ${centsAvgSql("value")} AS avg_value,
       | COUNT(*) AS n_events
       |FROM events GROUP BY event_type, user_id""".stripMargin

  /** Tumbling 1-hour window aggregation — batch mirror of the streaming
    * windowed agg. Group key is the hour bucket: at 100 TB this shuffles on
    * (hour, type) with map-side combine, output stays tiny.
    */
  def hourlyAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        centsSum(col("value")).as("total_value"),
        countDistinct(col("user_id")).as("n_users"))

  val hourlyAggSql: String =
    s"""SELECT CAST(epoch(DATE_TRUNC('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
       | COUNT(*) AS n_events, ${centsSumSql("value")} AS total_value,
       | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
       |FROM events GROUP BY 1, 2""".stripMargin

  /** Difference-in-differences estimator on purchase value — the
    * quasi-experimental workhorse when randomization isn't available:
    * treated (the [[abtest]] pmod assignment) vs control, before vs
    * after a fixed cutoff, effect = (ΔT) − (ΔC) of per-event mean value.
    * The four cell aggregates are EXACT integers (count + Σ round(v·10⁶)
    * micros); the estimate itself is three subtractions of four
    * divisions of those exact integers — identical IEEE arithmetic in
    * both engines, the [[graft.functions.Portable.centsAvg]] discipline.
    *
    * Scale shape: ONE filtered scan collapsing map-side into a single
    * 8-column row (conditional sums — no shuffle wider than the
    * 1-row aggregate); any cell with no events yields NULL, not a
    * divide-by-zero.
    */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val cutUs = 1705363200000000L // 2024-01-16T00:00:00Z in epoch micros
    val t = pmod(col("user_id"), lit(2)) === 0
    val post = unix_micros(col("ts")) >= cutUs
    def cell(c: org.apache.spark.sql.Column, name: String) = Seq(
      sum(when(c, 1L).otherwise(0L)).cast("bigint").as(s"n_$name"),
      sum(when(c, col("vq")).otherwise(0L)).cast("bigint").as(s"s_$name"))
    val cells =
      cell(t && post, "t_post") ++ cell(t && !post, "t_pre") ++
        cell(!t && post, "c_post") ++ cell(!t && !post, "c_pre")
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        round(col("value") * 1000000.0).cast("long").as("vq"))
      .agg(cells.head, cells.tail: _*)
      .withColumn("did_micro", expr(
        """case when n_t_post = 0 or n_t_pre = 0 or n_c_post = 0 or n_c_pre = 0
          |then null
          |else (cast(s_t_post as double) / n_t_post
          |      - cast(s_t_pre as double) / n_t_pre)
          |   - (cast(s_c_post as double) / n_c_post
          |      - cast(s_c_pre as double) / n_c_pre) end""".stripMargin))
  }

  val diffInDiffSql: String = {
    def cell(c: String, name: String) =
      s"""CAST(SUM(CASE WHEN $c THEN 1 ELSE 0 END) AS BIGINT) AS n_$name,
         | CAST(SUM(CASE WHEN $c THEN vq ELSE 0 END) AS BIGINT) AS s_$name""".stripMargin
    s"""WITH p AS (
       |  SELECT user_id % 2 = 0 AS t,
       |    epoch_us(ts) >= 1705363200000000 AS post,
       |    CAST(ROUND(value * 1000000) AS BIGINT) AS vq
       |  FROM events WHERE event_type = 'purchase'),
       |cells AS (
       |  SELECT
       |   ${cell("t AND post", "t_post")},
       |   ${cell("t AND NOT post", "t_pre")},
       |   ${cell("NOT t AND post", "c_post")},
       |   ${cell("NOT t AND NOT post", "c_pre")}
       |  FROM p)
       |SELECT *,
       |  CASE WHEN n_t_post = 0 OR n_t_pre = 0 OR n_c_post = 0 OR n_c_pre = 0
       |  THEN NULL
       |  ELSE (CAST(s_t_post AS DOUBLE) / n_t_post
       |        - CAST(s_t_pre AS DOUBLE) / n_t_pre)
       |     - (CAST(s_c_post AS DOUBLE) / n_c_post
       |        - CAST(s_c_pre AS DOUBLE) / n_c_pre) END AS did_micro
       |FROM cells""".stripMargin
  }

  /** Time-weighted average of the event value per user — the correct
    * mean for IRREGULARLY sampled signals (metrics, prices, gauge
    * readings), where the plain AVG over-weights bursts: each value is
    * held until the user's next event and weighted by that holding
    * duration. All arithmetic in exact integers (value quantized to
    * round(v·10⁶), durations in micros, Σ(v·dur) in decimal(38,0)), so
    * the ppm-scaled result is engine-exact.
    *
    * Scale shape: ONE user-keyed shuffle; the lead() window is
    * partition-local after it, the aggregate map-side combines. Users
    * with a single event have no holding interval and drop out (n ≥ 2
    * kept) — stated, not silent.
    */
  def twa(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 1000000.0).cast("long").as("vq"))
      .withColumn("next_us", lead(col("ts_us"), 1).over(byUser))
      .filter(col("next_us").isNotNull)
      .withColumn("dur", col("next_us") - col("ts_us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dur")).cast("bigint").as("total_us"),
        sum(expr("cast(vq as decimal(38,0)) * dur")).as("wsum"))
      .filter(col("total_us") > 0)
      .select(col("user_id"), col("n_intervals"), col("total_us"),
        expr("cast(wsum div total_us as bigint)").as("twa_micro"))
  }

  val twaSql: String =
    """WITH raw AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CAST(ROUND(value * 1000000) AS BIGINT) AS vq
      |  FROM events),
      |seg AS (
      |  SELECT user_id, vq,
      |    LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |      - ts_us AS dur
      |  FROM raw
      |  QUALIFY LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |    IS NOT NULL),
      |agg AS (
      |  SELECT user_id, COUNT(*) AS n_intervals,
      |    CAST(SUM(dur) AS BIGINT) AS total_us,
      |    SUM(CAST(vq AS HUGEINT) * dur) AS wsum
      |  FROM seg GROUP BY 1)
      |SELECT user_id, n_intervals, total_us,
      |  CAST(wsum // total_us AS BIGINT) AS twa_micro
      |FROM agg WHERE total_us > 0""".stripMargin

  /** Hourly OHLC bars of the event value — open/high/low/close + volume,
    * the canonical downsampling of any tick/metric stream (and the batch
    * mirror of a streaming bar builder). Open/close pick the exact first/
    * last event by the unique (ts, event_id) order — no min_by/arg_min
    * tie ambiguity — via two partition-local row_number passes over the
    * SAME window partitioning; values quantized to round(v·10⁶) so the
    * bars are engine-exact integers.
    *
    * Scale shape: one hour-keyed shuffle shared by both windows and the
    * aggregate (Catalyst reuses the exchange); bars-per-corpus is
    * calendar-bounded.
    */
  def ohlc(spark: SparkSession, dir: String): DataFrame = {
    val asc = Window.partitionBy(col("hour_epoch"))
      .orderBy(col("ts_us"), col("event_id"))
    val desc = Window.partitionBy(col("hour_epoch"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"),
        round(col("value") * 1000000.0).cast("long").as("vq"))
      .withColumn("rn_a", row_number().over(asc))
      .withColumn("rn_d", row_number().over(desc))
      .groupBy(col("hour_epoch"))
      .agg(count(lit(1)).as("n_events"),
        max(when(col("rn_a") === 1, col("vq"))).as("open_micro"),
        max(col("vq")).as("high_micro"),
        min(col("vq")).as("low_micro"),
        max(when(col("rn_d") === 1, col("vq"))).as("close_micro"),
        sum(col("vq")).cast("bigint").as("volume_micro"))
  }

  val ohlcSql: String =
    """WITH raw AS (
      |  SELECT CAST(epoch(DATE_TRUNC('hour', ts)) AS BIGINT) AS hour_epoch,
      |    epoch_us(ts) AS ts_us, event_id,
      |    CAST(ROUND(value * 1000000) AS BIGINT) AS vq
      |  FROM events),
      |flagged AS (
      |  SELECT hour_epoch, vq,
      |    ROW_NUMBER() OVER (PARTITION BY hour_epoch
      |      ORDER BY ts_us, event_id) AS rn_a,
      |    ROW_NUMBER() OVER (PARTITION BY hour_epoch
      |      ORDER BY ts_us DESC, event_id DESC) AS rn_d
      |  FROM raw)
      |SELECT hour_epoch, COUNT(*) AS n_events,
      | MAX(CASE WHEN rn_a = 1 THEN vq END) AS open_micro,
      | MAX(vq) AS high_micro, MIN(vq) AS low_micro,
      | MAX(CASE WHEN rn_d = 1 THEN vq END) AS close_micro,
      | CAST(SUM(vq) AS BIGINT) AS volume_micro
      |FROM flagged GROUP BY 1""".stripMargin

  /** Sessionization (gaps-and-islands, 30-min inactivity gap) — batch mirror
    * of `flatMapGroupsWithState` sessionization. One shuffle on user_id;
    * windows + agg stay partition-local. All time math in integral micros.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val frame = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = 1800L * 1000000L
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("new_sess",
        when(lag(col("ts_us"), 1).over(byUser).isNull
          || col("ts_us") - lag(col("ts_us"), 1).over(byUser) > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(frame).cast("bigint"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
  }

  val sessionizeSql: String =
    """WITH raw AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, ts_us,
      |    CASE WHEN LAG(ts_us) OVER w IS NULL
      |         OR ts_us - LAG(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM raw
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |sess AS (
      |  SELECT user_id, ts_us,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      | MIN(ts_us) AS start_us, MAX(ts_us) - MIN(ts_us) AS duration_us
      |FROM sess GROUP BY user_id, session_id""".stripMargin

  /** As-of join — attach the latest order (by o_orderdate, then o_orderkey)
    * at or before each event's timestamp, per user.
    *
    * Spark has no ASOF JOIN; instead of the naive join+row_number (which
    * materializes |events|×|orders-per-user| rows), this uses the scalable
    * union-and-sweep plan: union order "markers" with events, one window
    * sorted by (time, kind) per user, carry the last-seen order forward.
    * Cost is a single shuffle on user_id — survives 100 TB where the naive
    * join blows up on active users.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame =
    asofJoinGeneric(Tables.events(spark, dir), Tables.orders(spark, dir))

  /** Input-generic form of the as-of join (same union-and-sweep plan),
    * usable on arbitrary event/order frames with the standard schemas.
    */
  def asofJoinGeneric(eventsDf: DataFrame, ordersDf: DataFrame): DataFrame = {
    val markers = ordersDf.select(
      col("o_custkey").as("user_id"),
      unix_micros(col("o_orderdate")).as("t_us"),
      lit(0).as("is_event"),
      lit(null).cast("bigint").as("event_id"),
      col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
    val evs = eventsDf.select(
      col("user_id"),
      unix_micros(col("ts")).as("t_us"),
      lit(1).as("is_event"),
      col("event_id"),
      lit(null).cast("bigint").as("o_orderkey"),
      lit(null).cast("string").as("order_date"))
    // Orders sort before events at equal t_us (inclusive as-of); among
    // orders at the same date, ascending o_orderkey makes "last" = max key.
    val sweep = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("is_event"), col("o_orderkey").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    markers.unionAll(evs)
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(sweep))
      .withColumn("asof_order_date", last(col("order_date"), ignoreNulls = true).over(sweep))
      .filter(col("is_event") === 1 && col("asof_orderkey").isNotNull)
      .select(col("event_id"), col("user_id"),
        col("asof_orderkey").as("o_orderkey"), col("asof_order_date").as("order_date"))
  }

  val asofJoinSql: String =
    """SELECT event_id, user_id, o_orderkey, order_date FROM (
      | SELECT e.event_id, e.user_id, o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
      |  ROW_NUMBER() OVER (PARTITION BY e.event_id
      |    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      | FROM events e JOIN orders o
      |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) t
      |WHERE rn = 1""".stripMargin

  /** As-of join with a TOLERANCE bound (pandas merge_asof `tolerance`,
    * completing the direction dials): each event matches its latest
    * order at-or-before, but only if the order is within the staleness
    * bound — the freshness guard every feature-join pipeline needs (an
    * arbitrarily old "latest order" is not a feature, it's a leak). Same
    * single union-and-sweep plan as [[asofJoinGeneric]] — the sweep also
    * carries the matched order's timestamp, so the staleness test is a
    * row-local filter AFTER the one shuffle, not a second join or window.
    * The bound is 8400 days because this testdata joins TPC-H-dated
    * orders (1990s) to modern events — the observed gap spans ~8200–8800
    * days, so 8400 keeps roughly half the matches and the dial provably
    * bites (a 0-row result would make the oracle check vacuous).
    */
  def asofJoinTolerance(spark: SparkSession, dir: String): DataFrame = {
    val tolUs = 8400L * 86400L * 1000000L
    val markers = Tables.orders(spark, dir).select(
      col("o_custkey").as("user_id"),
      unix_micros(col("o_orderdate")).as("t_us"),
      lit(0).as("is_event"),
      lit(null).cast("bigint").as("event_id"),
      col("o_orderkey"),
      unix_micros(col("o_orderdate")).as("ord_t_us"))
    val evs = Tables.events(spark, dir).select(
      col("user_id"),
      unix_micros(col("ts")).as("t_us"),
      lit(1).as("is_event"),
      col("event_id"),
      lit(null).cast("bigint").as("o_orderkey"),
      lit(null).cast("bigint").as("ord_t_us"))
    val sweep = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("is_event"), col("o_orderkey").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    markers.unionAll(evs)
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(sweep))
      .withColumn("asof_t_us", last(col("ord_t_us"), ignoreNulls = true).over(sweep))
      .filter(col("is_event") === 1 && col("asof_orderkey").isNotNull &&
        col("t_us") - col("asof_t_us") <= tolUs)
      .select(col("event_id"), col("user_id"),
        col("asof_orderkey").as("o_orderkey"),
        (col("t_us") - col("asof_t_us")).as("staleness_us"))
  }

  val asofJoinToleranceSql: String =
    """SELECT event_id, user_id, o_orderkey, staleness_us FROM (
      | SELECT e.event_id, e.user_id, o.o_orderkey,
      |  epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) AS staleness_us,
      |  ROW_NUMBER() OVER (PARTITION BY e.event_id
      |    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      | FROM events e JOIN orders o
      |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) t
      |WHERE rn = 1 AND staleness_us <= 725760000000000""".stripMargin

  /** FORWARD as-of join — for each order, the EARLIEST event at-or-after
    * its date (the other direction of as-of semantics: "what happened
    * next", used for outcome attribution windows). Same union-and-sweep
    * plan as the backward join with the window frame flipped to look
    * forward: still one shuffle on user_id, no join blowup. At equal
    * timestamps the probe sorts BEFORE the marker so the match is
    * inclusive; among same-ts events the min event_id wins.
    */
  def asofJoinForward(spark: SparkSession, dir: String): DataFrame =
    asofJoinForwardGeneric(Tables.events(spark, dir), Tables.orders(spark, dir))

  /** Input-generic form of the forward as-of join (same flipped sweep). */
  def asofJoinForwardGeneric(eventsDf: DataFrame, ordersDf: DataFrame): DataFrame = {
    val probes = ordersDf.select(
      col("o_custkey").as("user_id"),
      unix_micros(col("o_orderdate")).as("t_us"),
      lit(0).as("kind"), // probes sort first at equal t_us -> inclusive
      col("o_orderkey"),
      lit(null).cast("bigint").as("event_id"),
      lit(null).cast("bigint").as("ev_ts_us"))
    val markers = eventsDf.select(
      col("user_id"),
      unix_micros(col("ts")).as("t_us"),
      lit(1).as("kind"),
      lit(null).cast("bigint").as("o_orderkey"),
      col("event_id"),
      unix_micros(col("ts")).as("ev_ts_us"))
    val sweep = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("kind"), col("event_id").asc_nulls_first)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    probes.unionAll(markers)
      .withColumn("next_event_id", first(col("event_id"), ignoreNulls = true).over(sweep))
      .withColumn("next_event_ts_us", first(col("ev_ts_us"), ignoreNulls = true).over(sweep))
      .filter(col("kind") === 0 && col("next_event_id").isNotNull)
      .select(col("o_orderkey"), col("user_id"),
        col("next_event_id").as("event_id"),
        col("next_event_ts_us").as("event_ts_us"))
  }

  val asofJoinForwardSql: String =
    """SELECT o_orderkey, user_id, event_id, event_ts_us FROM (
      | SELECT o.o_orderkey, e.user_id, e.event_id, epoch_us(e.ts) AS event_ts_us,
      |  ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
      |    ORDER BY e.ts ASC, e.event_id ASC) AS rn
      | FROM orders o JOIN events e
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate) t
      |WHERE rn = 1""".stripMargin

  /** NEAREST as-of join — for each event, the order with the smallest
    * |Δt| in EITHER direction (pandas merge_asof direction='nearest'),
    * completing the backward/forward pair. Ties (equidistant past and
    * future orders) resolve BACKWARD; within a side, the backward
    * convention keeps the max o_orderkey and the forward one the min —
    * both pinned in the oracle's tie-break chain.
    *
    * Plan: the same union-and-sweep as [[asofJoinGeneric]], with TWO
    * window passes over ONE hash exchange on user_id (the second window
    * re-sorts but does not re-shuffle — plan-asserted): a backward sweep
    * (last order at-or-before) and a forward sweep (first order
    * at-or-after), then a codegen'd row-local pick. Still no join blowup
    * and one corpus shuffle at any scale.
    */
  def asofJoinNearest(spark: SparkSession, dir: String): DataFrame =
    asofJoinNearestGeneric(Tables.events(spark, dir), Tables.orders(spark, dir))

  /** Input-generic form of the nearest as-of join. */
  def asofJoinNearestGeneric(eventsDf: DataFrame, ordersDf: DataFrame): DataFrame = {
    val markers = ordersDf.select(
      col("o_custkey").as("user_id"),
      unix_micros(col("o_orderdate")).as("t_us"),
      lit(0).as("is_event"),
      lit(null).cast("bigint").as("event_id"),
      col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
    val evs = eventsDf.select(
      col("user_id"),
      unix_micros(col("ts")).as("t_us"),
      lit(1).as("is_event"),
      col("event_id"),
      lit(null).cast("bigint").as("o_orderkey"),
      lit(null).cast("string").as("order_date"))
    // backward: orders sort before events at equal t_us (inclusive match);
    // among same-t orders, ascending key makes "last" = max o_orderkey
    val back = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("is_event"), col("o_orderkey").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // forward: events sort before orders at equal t_us so the frame
    // [current, following] still sees same-t orders (inclusive); among
    // same-t orders, ascending key makes "first" = min o_orderkey
    val fwd = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("is_event").desc, col("o_orderkey").asc_nulls_first)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val oT = when(col("is_event") === 0, col("t_us"))
    markers.unionAll(evs)
      .withColumn("b_key", last(col("o_orderkey"), ignoreNulls = true).over(back))
      .withColumn("b_date", last(col("order_date"), ignoreNulls = true).over(back))
      .withColumn("b_t", last(oT, ignoreNulls = true).over(back))
      .withColumn("f_key", first(col("o_orderkey"), ignoreNulls = true).over(fwd))
      .withColumn("f_date", first(col("order_date"), ignoreNulls = true).over(fwd))
      .withColumn("f_t", first(oT, ignoreNulls = true).over(fwd))
      .filter(col("is_event") === 1 &&
        (col("b_key").isNotNull || col("f_key").isNotNull))
      .withColumn("use_back", col("b_key").isNotNull &&
        (col("f_key").isNull || col("t_us") - col("b_t") <= col("f_t") - col("t_us")))
      .select(col("event_id"), col("user_id"),
        when(col("use_back"), col("b_key")).otherwise(col("f_key")).as("o_orderkey"),
        when(col("use_back"), col("b_date")).otherwise(col("f_date")).as("order_date"),
        when(col("use_back"), col("t_us") - col("b_t"))
          .otherwise(col("f_t") - col("t_us")).as("delta_us"))
  }

  /** DuckDB mirror of [[asofJoinNearest]]: one window over the joined
    * candidate set, ordered by |Δt|, then direction (backward first), then
    * the per-direction key convention (max key backward, min key forward).
    */
  val asofJoinNearestSql: String =
    """SELECT event_id, user_id, o_orderkey, order_date, delta_us FROM (
      | SELECT e.event_id, e.user_id, o.o_orderkey,
      |  strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
      |  abs(epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))) AS delta_us,
      |  ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY
      |    abs(epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))),
      |    CASE WHEN o.o_orderdate <= e.ts THEN 0 ELSE 1 END,
      |    CASE WHEN o.o_orderdate <= e.ts THEN -o.o_orderkey ELSE o.o_orderkey END) AS rn
      | FROM events e JOIN orders o ON o.o_custkey = e.user_id) t
      |WHERE rn = 1""".stripMargin

  /** JSON extraction from the props column — `get_json_object` path query
    * + typed cast, aggregated. (Semi-structured columns are first-class in
    * a log pipeline; stays codegen'd.)
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k_val", get_json_object(col("props"), "$.k").cast("bigint"))
      .groupBy(col("event_type"))
      .agg(sum(col("k_val")).cast("bigint").as("sum_k"),
        count(col("k_val")).as("n_with_k"))

  val jsonExtractSql: String =
    """SELECT event_type,
      | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      | COUNT(json_extract_string(props, '$.k')) AS n_with_k
      |FROM events GROUP BY event_type""".stripMargin

  /** Approximate aggregates — HLL distinct-count + approx percentile next
    * to their exact counterparts.
    *
    * Oracle stance (permanent, round-9): sketch VALUES are engine-specific
    * by construction — Spark's HLL++ and DuckDB's HLL disagree on the
    * estimate, Spark's Greenwald–Khanna and DuckDB's t-digest disagree on
    * the percentile — so no estimate column can ever hash-match across
    * engines. The oracle-checkable contract of an approximate aggregate is
    * its ERROR BOUND, so that is what this query emits: each engine runs
    * its own sketches and reports whether they landed inside the published
    * bound (|HLL − exact|·10 ≤ exact + 50, i.e. 10% + slack 5; the approx
    * median's true rank within [40%, 60%]). Both engines' sketches satisfy
    * their bounds, the booleans agree, and the query upgrades from the
    * last rows-only entry to a full rows+schema+hash oracle pass — while
    * still exercising the whole sketch path at bench time.
    */
  def approxAgg(spark: SparkSession, dir: String): DataFrame = {
    // NB: mixing an exact DISTINCT aggregate (Expand rewrite) with
    // object-state sketches (approx_percentile) in ONE aggregate forces a
    // sort-aggregate fallback that serializes the sketch per group — a
    // ~15× cliff. Two hash aggregates + a tiny join stay fast.
    val e = Tables.events(spark, dir)
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
    val sketches = e.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        expr("approx_percentile(value, 0.5)").as("approx_median"))
    // rank-check the approx median against the data itself: the fraction of
    // values ≤ estimate must sit in [40%, 60%] — a property both engines'
    // sketches satisfy even though their estimates differ. The per-type
    // sketch row count is |event_type| (tiny, bounded) → broadcast.
    val rank = e
      .join(broadcast(sketches.select(col("event_type"), col("approx_median"))),
        Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("value") <= col("approx_median"), 1L).otherwise(0L)).as("n_le"),
        count(col("value")).as("n_val"))
    exact.join(sketches, Seq("event_type")).join(rank, Seq("event_type"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("approx_users") - col("exact_users")) * 10 <=
          col("exact_users") + 50).as("hll_ok"),
        (col("n_le") * 100 >= col("n_val") * 40 &&
          col("n_le") * 100 <= col("n_val") * 60).as("median_ok"),
        // Diagnostic excess-beyond-bound columns (r9/r10 advice): exactly
        // 0 on BOTH engines while the sketch sits inside its bound (so
        // the oracle hash still matches), and the raw integer breach
        // magnitude when it doesn't — a future fixture regeneration that
        // flips a boolean leaves the offending distance visible in the
        // Verify dumps instead of an opaque hash fail.
        greatest(abs(col("approx_users") - col("exact_users")) * 10 -
          (col("exact_users") + 50), lit(0L)).as("hll_excess"),
        greatest(abs(col("n_le") * 100 - col("n_val") * 50) -
          col("n_val") * 10, lit(0L)).as("median_excess"))
  }

  /** RAW sketch diagnostics behind [[approxAgg]]'s contract booleans
    * (r9–r11 advice, completed r12): the un-clamped HLL relative error
    * and approx-median rank fraction in ppm, next to both estimates.
    * These are ENGINE-SPECIFIC by design — Spark's HLL++ and DuckDB's
    * HLL produce different (both in-bound) estimates on the same data,
    * and each engine's rank fraction is measured against its own median
    * sketch — so this query is deliberately NOT oracled (rows-only
    * check): a hash would compare two sketches that are specified to
    * differ. The hash-checked contract stays in [[approxAgg]]; this is
    * the magnifying glass you read when an excess column goes non-zero.
    */
  def approxAggDiag(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    val sketches = e.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        expr("approx_percentile(value, 0.5)").as("approx_median"))
    val rank = e
      .join(broadcast(sketches.select(col("event_type"), col("approx_median"))),
        Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("value") <= col("approx_median"), 1L).otherwise(0L)).as("n_le"),
        count(col("value")).as("n_val"))
    exact.join(sketches, Seq("event_type")).join(rank, Seq("event_type"))
      .select(col("event_type"), col("exact_users"), col("approx_users"),
        expr("abs(approx_users - exact_users) * 1000000 div exact_users")
          .as("hll_err_ppm"),
        col("approx_median"),
        expr("n_le * 1000000 div n_val").as("median_rank_ppm"))
      .orderBy(col("event_type"))
  }

  val approxAggSql: String =
    """WITH sk AS (
      |  SELECT event_type, approx_count_distinct(user_id) AS au,
      |         approx_quantile(value, 0.5) AS am
      |  FROM events GROUP BY event_type),
      |ex AS (
      |  SELECT event_type, COUNT(DISTINCT user_id) AS eu, COUNT(*) AS n_events
      |  FROM events GROUP BY event_type),
      |rk AS (
      |  SELECT e.event_type,
      |         CAST(SUM(CASE WHEN e.value <= sk.am THEN 1 ELSE 0 END)
      |           AS BIGINT) AS n_le,
      |         COUNT(e.value) AS n_val
      |  FROM events e JOIN sk USING (event_type) GROUP BY e.event_type)
      |SELECT ex.event_type, ex.eu AS exact_users, ex.n_events,
      |  (ABS(sk.au - ex.eu) * 10 <= ex.eu + 50) AS hll_ok,
      |  (rk.n_le * 100 >= rk.n_val * 40 AND rk.n_le * 100 <= rk.n_val * 60)
      |    AS median_ok,
      |  GREATEST(ABS(sk.au - ex.eu) * 10 - (ex.eu + 50), 0) AS hll_excess,
      |  GREATEST(ABS(rk.n_le * 100 - rk.n_val * 50) - rk.n_val * 10, 0)
      |    AS median_excess
      |FROM ex JOIN sk USING (event_type) JOIN rk USING (event_type)""".stripMargin

  /** ~10% Bernoulli sample + aggregation. Membership is a CONTENT-HASH
    * threshold (md5(event_id) byte 0 < 26 ⇒ 26/256 ≈ 10.16%), not
    * `.sample(seed)`: the RNG sample is partition-layout-dependent (same
    * seed, different file splits → different rows) and engine-specific,
    * which made this a rows-only check through round 5. The hash sample is
    * reproducible across engines, retries, AND repartitioning — the only
    * sampling shape that gives a 100 TB pipeline stable, resumable
    * subsets — and it upgrades the query to a full oracle pass.
    */
  def sampleAgg(spark: SparkSession, dir: String): DataFrame = {
    val b0 = expr(
      """(instr('0123456789abcdef', substr(md5(cast(event_id as string)), 1, 1)) - 1) * 16
        | + instr('0123456789abcdef', substr(md5(cast(event_id as string)), 2, 1)) - 1""".stripMargin)
    Tables.events(spark, dir)
      .filter(b0 < 26)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sampled"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"))
  }

  val sampleAggSql: String =
    """SELECT event_type, COUNT(*) AS n_sampled,
      | COUNT(DISTINCT user_id) AS n_users,
      | MIN(event_id) AS min_event, MAX(event_id) AS max_event
      |FROM events
      |WHERE (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1) * 16
      |    + strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 2, 1)) - 1 < 26
      |GROUP BY 1""".stripMargin

  /** Conversion funnel with a 1-day window per stage: first view → first
    * click within 24h → first purchase within 24h of that click, counted
    * per user then collapsed to stage totals. Every stage is a per-user
    * aggregate or a co-partitioned join on user_id, so the whole funnel
    * runs in user-hash space — no window over the global event stream, no
    * cross-user data movement beyond the initial hash. The classic product-
    * analytics query, and at 100 TB exactly the shape you want: AQE sees
    * the same key on every shuffle and keeps the joins co-located.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val day = 86400000000L // 24h in micros
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val v = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts_us"))).as("v"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts_us") > col("v") && col("ts_us") <= col("v") + day)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("c"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts_us") > col("c") && col("ts_us") <= col("c") + day)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("p"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .agg(
        count(lit(1)).as("n_users"),
        count(col("v")).as("n_view"),
        count(col("c")).as("n_click_24h"),
        count(col("p")).as("n_purchase_24h"))
  }

  val funnelSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |v AS (SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts_us END) AS v
      |      FROM e GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(ts_us) AS c FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND ts_us > v
      |        AND ts_us <= v + 86400000000 GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(ts_us) AS p FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND ts_us > c.c
      |        AND ts_us <= c.c + 86400000000 GROUP BY 1)
      |SELECT COUNT(*) AS n_users, COUNT(v.v) AS n_view,
      |       COUNT(c.c) AS n_click_24h, COUNT(p.p) AS n_purchase_24h
      |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin

  /** Step-to-step conversion latency — [[funnel]] answers "how many
    * convert"; this answers "how FAST": per funnel edge (view→click,
    * click→purchase, both 24 h-windowed like the funnel), the exact
    * count / min / max / integer-mean seconds between the steps plus the
    * exact median latency MINUTE from a cumulative walk over the
    * minute-bucket histogram (the q_mad trick: the median window sorts
    * ≤ 1440 distinct minute bins per stage, never per-user rows).
    *
    * Scale shape: the same three user-keyed min-aggregates as [[funnel]],
    * then per-stage minute histograms (bounded by the 24 h window) and a
    * stage-partitioned cumulative window over those bins. All integer
    * micros; the only division is the terminal integer mean.
    */
  def funnelTime(spark: SparkSession, dir: String): DataFrame = {
    val day = 86400000000L
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val v = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts_us"))).as("v"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts_us") > col("v") && col("ts_us") <= col("v") + day)
      .groupBy(col("user_id"), col("v")).agg(min(col("ts_us")).as("c"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c.select(col("user_id"), col("c")), "user_id")
      .filter(col("ts_us") > col("c") && col("ts_us") <= col("c") + day)
      .groupBy(col("user_id"), col("c")).agg(min(col("ts_us")).as("p"))
    val deltas = c.select(lit("view_to_click").as("stage"), (col("c") - col("v")).as("d_us"))
      .unionAll(p.select(lit("click_to_purchase").as("stage"), (col("p") - col("c")).as("d_us")))
    val hist = deltas.groupBy(col("stage"), expr("d_us div 60000000").as("minute"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stage")).orderBy(col("minute"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val med = hist.withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("stage"))))
      .filter(col("cum") * 2 >= col("n"))
      .groupBy(col("stage")).agg(min(col("minute")).as("median_minute"))
    val stats = deltas.groupBy(col("stage")).agg(
      count(lit(1)).as("n_converted"),
      expr("min(d_us) div 1000000").as("min_s"),
      expr("max(d_us) div 1000000").as("max_s"),
      expr("sum(d_us) div (count(1) * 1000000)").as("mean_s"))
    stats.join(med, Seq("stage")).orderBy(col("stage"))
  }

  val funnelTimeSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |v AS (SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts_us END) AS v
      |      FROM e GROUP BY 1),
      |c AS (SELECT e.user_id, v.v, MIN(ts_us) AS c FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND ts_us > v
      |        AND ts_us <= v + 86400000000 GROUP BY 1, 2),
      |p AS (SELECT e.user_id, c.c, MIN(ts_us) AS p FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND ts_us > c.c
      |        AND ts_us <= c.c + 86400000000 GROUP BY 1, 2),
      |deltas AS (
      |  SELECT 'view_to_click' AS stage, c - v AS d_us FROM c
      |  UNION ALL
      |  SELECT 'click_to_purchase' AS stage, p - c AS d_us FROM p),
      |hist AS (
      |  SELECT stage, d_us // 60000000 AS minute, COUNT(*) AS cnt
      |  FROM deltas GROUP BY 1, 2),
      |med AS (
      |  SELECT stage, MIN(minute) AS median_minute FROM (
      |    SELECT stage, minute,
      |      SUM(cnt) OVER (PARTITION BY stage ORDER BY minute
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |      SUM(cnt) OVER (PARTITION BY stage) AS n
      |    FROM hist) t
      |  WHERE cum * 2 >= n GROUP BY 1),
      |stats AS (
      |  SELECT stage, COUNT(*) AS n_converted,
      |    CAST(MIN(d_us) // 1000000 AS BIGINT) AS min_s,
      |    CAST(MAX(d_us) // 1000000 AS BIGINT) AS max_s,
      |    CAST(SUM(d_us) // (COUNT(*) * 1000000) AS BIGINT) AS mean_s
      |  FROM deltas GROUP BY 1)
      |SELECT stats.stage, n_converted, min_s, max_s, mean_s, median_minute
      |FROM stats JOIN med USING (stage) ORDER BY stage""".stripMargin

  /** Cohort retention: users bucketed by first-activity day, then distinct
    * active users per (cohort_day, activity_day) — the retention triangle.
    * Days derive from integer division of epoch micros (exact, engine-
    * portable). Shape: one agg + one co-partitioned join on user_id, then
    * a bounded (days × days) aggregate.
    */
  def cohort(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
    val first = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    e.join(first, "user_id")
      .groupBy(col("cohort_day"), col("day"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  val cohortSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1)
      |SELECT cohort_day, day, COUNT(DISTINCT e.user_id) AS n_active
      |FROM e JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin

  /** Time-series gap filling: hourly error counts on a dense hour spine —
    * missing hours become explicit zeros (dashboards and anomaly detectors
    * need the gaps as rows, not absences). The spine generates from the
    * 1-row bounds aggregate via sequence+explode, so its size is bounded by
    * the TIME RANGE, never the event volume; the hourly agg is the only
    * data-proportional stage and it map-side combines.
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.events(spark, dir).filter(col("event_type") === "error")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"))
      .agg(count(lit(1)).as("n"))
    val spine = h.agg(min(col("hour_epoch")).as("lo"), max(col("hour_epoch")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), lit(3600L))).as("hour_epoch"))
    spine.join(h, Seq("hour_epoch"), "left")
      .select(col("hour_epoch"), coalesce(col("n"), lit(0L)).as("n_errors"))
  }

  val gapFillSql: String =
    """WITH h AS (
      |  SELECT CAST(epoch(DATE_TRUNC('hour', ts)) AS BIGINT) AS hour_epoch,
      |         COUNT(*) AS n
      |  FROM events WHERE event_type = 'error' GROUP BY 1),
      |bounds AS (SELECT MIN(hour_epoch) AS lo, MAX(hour_epoch) AS hi FROM h),
      |spine AS (SELECT unnest(generate_series(lo, hi, 3600)) AS hour_epoch
      |          FROM bounds)
      |SELECT s.hour_epoch, COALESCE(h.n, 0) AS n_errors
      |FROM spine s LEFT JOIN h USING (hour_epoch)""".stripMargin

  /** Last-touch attribution: each purchase is credited to the user's most
    * recent click/view in the preceding 24h (or 'none'), then collapsed to
    * revenue per touch type — the marketing-analytics staple. ONE window
    * sweep over the per-user event stream (the as-of-join plan shape):
    * no purchase×touch join, so a hot user can never blow up the pair
    * count; the stream shuffles once on user_id and the window is
    * partition-local. The struct max orders by (ts, event_id) so the
    * winning touch is unique and engine-portable; revenue sums as exact
    * cents.
    */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val day = 86400000000L
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("touch",
        when(col("event_type").isin("click", "view"),
          struct(col("ts_us").as("t_ts"), col("event_id").as("t_id"),
            col("event_type").as("t_type"))))
      .withColumn("last_touch", max(col("touch")).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("touch_type",
        when(col("last_touch").isNotNull &&
          col("last_touch.t_ts") >= col("ts_us") - day, col("last_touch.t_type"))
          .otherwise(lit("none")))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        centsSum(col("value")).as("revenue"))
  }

  /** DuckDB mirror: the same sweep with last_value(... IGNORE NULLS) over
    * the identical (ts_us, event_id) order — the struct field order on the
    * Spark side exists precisely so its max() agrees with this ordering.
    */
  val attributionSql: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
       |  FROM events),
       |sw AS (
       |  SELECT event_type, ts_us, value,
       |    last_value(CASE WHEN event_type IN ('click', 'view')
       |                    THEN struct_pack(t_ts := ts_us, t_id := event_id,
       |                                     t_type := event_type) END IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
       |  FROM e)
       |SELECT CASE WHEN lt IS NOT NULL AND lt.t_ts >= ts_us - 86400000000
       |            THEN lt.t_type ELSE 'none' END AS touch_type,
       |       COUNT(*) AS n_purchases, ${centsSumSql("value")} AS revenue
       |FROM sw WHERE event_type = 'purchase'
       |GROUP BY 1""".stripMargin

  /** Exact rolling active users — DAU and 7-day WAU per observed day, the
    * product-analytics pair every event pipeline reports. Exact sliding-
    * window COUNT(DISTINCT) doesn't decompose into window aggregates, so
    * the plan dedups to the slim (user, day) activity set FIRST (the only
    * corpus-sized shuffle, map-side combined), then each activity day
    * contributes itself to the 7 days [day, day+6] via a 7× explode of the
    * deduped rows — bounded blowup on slim ids, never on raw events — and
    * one distinct-agg keyed by day closes it. DAU rides the same frame as
    * a conditional distinct (day = obs_day). The spine is clipped to the
    * observed [min, max] day from the 1-row bounds aggregate so trailing
    * part-windows aren't reported.
    */
  def activeUsers(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val bounds = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    ud.withColumn("obs_day", explode(expr("sequence(day, day + 6)")))
      .crossJoin(broadcast(bounds))
      .filter(col("obs_day") <= col("d1"))
      .groupBy(col("obs_day"))
      .agg(
        // ud is distinct on (user_id, day), so the rows with day = obs_day
        // carry distinct users and a plain count equals the distinct one.
        // One distinct aggregate plans without Spark's Expand rewrite, whose
        // projection order varies per call and so recompiled its code.
        count(when(col("day") === col("obs_day"), col("user_id"))).as("dau"),
        countDistinct(col("user_id")).as("wau"))
  }

  val activeUsersSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |b AS (SELECT MAX(day) AS d1 FROM ud),
      |x AS (
      |  SELECT user_id, day, day + g.range AS obs_day
      |  FROM ud, range(7) g)
      |SELECT obs_day, COUNT(DISTINCT CASE WHEN day = obs_day THEN user_id END) AS dau,
      |       COUNT(DISTINCT user_id) AS wau
      |FROM x, b WHERE obs_day <= b.d1
      |GROUP BY 1""".stripMargin

  /** Per-user behavioral transition matrix (the Markov-chain view of the
    * event stream): count event_type → next event_type transitions within
    * each user's timeline and report the per-source transition probability
    * in exact ppm (n·10⁶ div total — a float ratio would be libm state).
    * One shuffle on user_id (lead is partition-local), then a bounded
    * (5×5) aggregate — at 100 TB the output is still 25 rows.
    */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val counts = pairs.groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    counts.withColumn("p_ppm", expr("n * 1000000 div sum(n) over (partition by from_type)"))
      .select(col("from_type"), col("to_type"), col("n"), col("p_ppm"))
  }

  val transitionsSql: String =
    """WITH p AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY epoch_us(ts), event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
      |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |       CAST(n * 1000000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
      |FROM c""".stripMargin

  /** Hourly anomaly detection per event type — the monitoring query a log
    * pipeline runs continuously: flag hours whose event count deviates
    * from the type's mean by more than 3σ. The z-score test is done
    * WITHOUT sqrt or float division: (x−μ)² > 9·σ² multiplied through by
    * n² becomes (x·n − S)² > 9·(Q·n − S²) over exact integer moments
    * (S=Σx, Q=Σx²) — the q_stats_manual trick, so the verdict column is
    * engine-exact. x is widened to decimal(38,0) BEFORE the x·n product
    * (HUGEINT in the oracle), so every multiply happens in 128-bit: at
    * production scale x·n can pass 2⁶³ long before the comparison does,
    * and a BIGINT product would wrap silently where DuckDB raises.
    *
    * Scale shape: one corpus-sized shuffle to the (type, hour) counts,
    * then per-type moments are a TINY aggregate broadcast back onto the
    * counts — two map-side-combined aggregations, no window over the
    * series, no second corpus pass.
    */
  def anomaly(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"))
      .agg(count(lit(1)).as("x"))
    val stats = counts.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("q"))
    counts.join(broadcast(stats), "event_type")
      .filter(expr(
        """(cast(x as decimal(38, 0)) * n - s) * (cast(x as decimal(38, 0)) * n - s)
          |  > 9 * (cast(q as decimal(38, 0)) * n - cast(s as decimal(38, 0)) * s)""".stripMargin))
      .select(col("event_type"), col("hour_epoch"), col("x").as("n_events"),
        col("n").as("n_hours"), col("s").as("sum_events"))
  }

  val anomalySql: String =
    """WITH counts AS (
      |  SELECT event_type, CAST(epoch(DATE_TRUNC('hour', ts)) AS BIGINT) AS hour_epoch,
      |         COUNT(*) AS x
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS q
      |  FROM counts GROUP BY 1)
      |SELECT c.event_type, c.hour_epoch, CAST(c.x AS BIGINT) AS n_events,
      |       CAST(t.n AS BIGINT) AS n_hours, CAST(t.s AS BIGINT) AS sum_events
      |FROM counts c JOIN stats t USING (event_type)
      |WHERE (CAST(c.x AS HUGEINT) * t.n - t.s) * (CAST(c.x AS HUGEINT) * t.n - t.s)
      |      > 9 * (CAST(t.q AS HUGEINT) * t.n - CAST(t.s AS HUGEINT) * t.s)""".stripMargin

  /** Daily activity streaks per user — the calendar gaps-and-islands
    * pattern (engagement/retention analytics): consecutive active DAYS
    * form a streak via the classic dayNumber − row_number anchor, then
    * per-user streak stats. Distinct from [[sessionize]], which islands
    * on a 30-minute inactivity gap inside the timestamp stream; this
    * islands on whole calendar days.
    *
    * Scale shape: one shuffle to distinct (user, day) — corpus-sized at
    * most but usually far smaller; the window and both aggregations are
    * user-partitioned (no global window); day arithmetic is integral
    * (days since epoch), so island anchors are engine-exact.
    */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("dn"))
    Tables.events(spark, dir)
      .select(col("user_id"),
        expr("datediff(cast(ts as date), date'1970-01-01')").as("dn"))
      .distinct()
      .withColumn("anchor", col("dn") - row_number().over(w))
      .groupBy(col("user_id"), col("anchor"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_streaks"),
        max(col("len")).as("max_streak"),
        sum(col("len")).as("n_active_days"))
  }

  val activityStreaksSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn
      |  FROM events),
      |isl AS (
      |  SELECT user_id, dn,
      |         dn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dn) AS anchor
      |  FROM days),
      |st AS (SELECT user_id, anchor, COUNT(*) AS len FROM isl GROUP BY 1, 2)
      |SELECT user_id, COUNT(*) AS n_streaks,
      |       CAST(MAX(len) AS BIGINT) AS max_streak,
      |       CAST(SUM(len) AS BIGINT) AS n_active_days
      |FROM st GROUP BY 1""".stripMargin

  /** CUSUM changepoint detection per event type — "when did the level
    * shift?": the hour T maximizing |Σ_{t≤T}(x_t − μ)| over the hourly
    * count series. Multiplying through by n keeps it exact: the peak
    * statistic is |n·cum_T − T·S| with S=Σx, evaluated in decimal(38,0)
    * /HUGEINT and reported back in count units (div n) so the output
    * column is BIGINT in both engines. Tie-break: earliest hour.
    * [[anomaly]] flags outlier HOURS against a stable mean; this finds
    * the structural break a mean-shift leaves behind.
    *
    * Scale shape: one corpus shuffle to (type, hour) counts; the cusum
    * window and the argmax window are both PARTITIONED by type (series
    * length per type, never corpus rows); per-type moments broadcast.
    */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type")).orderBy(col("hour_epoch"))
    val counts = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"))
      .agg(count(lit(1)).as("x"))
    val stats = counts.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    counts.join(broadcast(stats), "event_type")
      .withColumn("cum",
        sum(col("x")).over(byType.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("t", row_number().over(byType))
      .withColumn("peak", expr(
        "abs(cast(cum as decimal(38,0)) * n - cast(t as decimal(38,0)) * s) div n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("peak").desc, col("hour_epoch"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("hour_epoch").as("cp_hour_epoch"),
        col("peak").cast("bigint").as("cusum_peak"), col("n").as("n_hours"))
  }

  val changepointSql: String =
    """WITH counts AS (
      |  SELECT event_type, CAST(epoch(DATE_TRUNC('hour', ts)) AS BIGINT) AS hour_epoch,
      |         COUNT(*) AS x
      |  FROM events GROUP BY 1, 2),
      |stats AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s
      |          FROM counts GROUP BY 1),
      |cum AS (
      |  SELECT c.event_type, c.hour_epoch, t.n, t.s,
      |    CAST(SUM(c.x) OVER (PARTITION BY c.event_type ORDER BY c.hour_epoch
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    ROW_NUMBER() OVER (PARTITION BY c.event_type ORDER BY c.hour_epoch) AS t
      |  FROM counts c JOIN stats t USING (event_type)),
      |peaks AS (
      |  SELECT event_type, hour_epoch, n,
      |    abs(CAST(cum AS HUGEINT) * n - CAST(t AS HUGEINT) * s) // n AS peak,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY abs(CAST(cum AS HUGEINT) * n - CAST(t AS HUGEINT) * s) // n DESC,
      |               hour_epoch) AS rn
      |  FROM cum)
      |SELECT event_type, hour_epoch AS cp_hour_epoch,
      |       CAST(peak AS BIGINT) AS cusum_peak, CAST(n AS BIGINT) AS n_hours
      |FROM peaks WHERE rn = 1""".stripMargin

  /** Unordered-completion milestones (batch mirror of the streaming
    * MapState detector): a user completes when they have performed ALL
    * tracked event types in any order; completed_us = the latest of the
    * per-step FIRST event times — exactly when the streaming detector
    * emits. The ordered-sequence variant is [[funnel]]; this is the
    * any-order cohort-qualification cut.
    *
    * Scale shape: corpus filters to tracked types at the scan
    * (PushedFilters), then two map-side-combined aggregations keyed by
    * (user, type) → user. No window, no join.
    */
  def milestones(spark: SparkSession, dir: String): DataFrame = {
    val steps = Seq("signup", "view", "purchase")
    Tables.events(spark, dir)
      .filter(col("event_type").isin(steps: _*))
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(unix_micros(col("ts"))).as("first_us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_steps"), max(col("first_us")).as("completed_us"))
      .filter(col("n_steps") === steps.size)
      .select(col("user_id"), col("completed_us"))
  }

  val milestonesSql: String =
    """WITH f AS (
      |  SELECT user_id, event_type, MIN(epoch_us(ts)) AS first_us
      |  FROM events
      |  WHERE event_type IN ('signup', 'view', 'purchase')
      |  GROUP BY 1, 2)
      |SELECT user_id, CAST(MAX(first_us) AS BIGINT) AS completed_us
      |FROM f GROUP BY 1 HAVING COUNT(*) = 3""".stripMargin

  /** RFM customer segmentation — recency (days since last event, vs the
    * corpus anchor day), frequency (events), monetary (exact cents) per
    * user, each scored 1–4 against the population's exact quartile
    * thresholds, composed into the classic 3-digit RFM code. Thresholds
    * come from `percentile` over INTEGRAL inputs (the q_percentiles
    * exactness trick), so the cuts — and therefore every score — are
    * engine-exact.
    *
    * Scale shape: one shuffle to per-user aggregates; the threshold row
    * and anchor day are single-row broadcasts; scoring is map-side. At
    * extreme user counts the exact-percentile threshold aggregate is
    * the binding constraint — swap in the q_quantile_sketch histogram
    * thresholds (broadcast-compatible by construction) above ~10⁸ users.
    */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(expr("unix_micros(ts) div 86400000000")).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(graft.functions.Portable.cents(col("value"))).as("monetary_cents"))
    val anchor = perUser.agg(max(col("last_day")).as("d1"))
    val base = perUser.crossJoin(broadcast(anchor))
      .withColumn("recency_days", col("d1") - col("last_day"))
    val th = base.agg(
      expr("percentile(recency_days, 0.25)").as("r25"),
      expr("percentile(recency_days, 0.5)").as("r50"),
      expr("percentile(recency_days, 0.75)").as("r75"),
      expr("percentile(frequency, 0.25)").as("f25"),
      expr("percentile(frequency, 0.5)").as("f50"),
      expr("percentile(frequency, 0.75)").as("f75"),
      expr("percentile(monetary_cents, 0.25)").as("m25"),
      expr("percentile(monetary_cents, 0.5)").as("m50"),
      expr("percentile(monetary_cents, 0.75)").as("m75"))
    base.crossJoin(broadcast(th))
      .withColumn("r_score", expr(
        "4 - if(recency_days > r25, 1, 0) - if(recency_days > r50, 1, 0) - if(recency_days > r75, 1, 0)").cast("long"))
      .withColumn("f_score", expr(
        "1 + if(frequency > f25, 1, 0) + if(frequency > f50, 1, 0) + if(frequency > f75, 1, 0)").cast("long"))
      .withColumn("m_score", expr(
        "1 + if(monetary_cents > m25, 1, 0) + if(monetary_cents > m50, 1, 0) + if(monetary_cents > m75, 1, 0)").cast("long"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_cents"), col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("rfm_code"))
  }

  val rfmSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    MAX(epoch_us(ts) // 86400000000) AS last_day,
      |    COUNT(*) AS frequency,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS monetary_cents
      |  FROM events GROUP BY 1),
      |a AS (SELECT MAX(last_day) AS d1 FROM u),
      |b AS (SELECT u.*, d1 - last_day AS recency_days FROM u, a),
      |t AS (SELECT
      |    quantile_cont(recency_days, 0.25) AS r25, quantile_cont(recency_days, 0.5) AS r50,
      |    quantile_cont(recency_days, 0.75) AS r75,
      |    quantile_cont(frequency, 0.25) AS f25, quantile_cont(frequency, 0.5) AS f50,
      |    quantile_cont(frequency, 0.75) AS f75,
      |    quantile_cont(monetary_cents, 0.25) AS m25, quantile_cont(monetary_cents, 0.5) AS m50,
      |    quantile_cont(monetary_cents, 0.75) AS m75
      |  FROM b)
      |SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days, frequency,
      |  monetary_cents,
      |  CAST(4 - CASE WHEN recency_days > r25 THEN 1 ELSE 0 END
      |         - CASE WHEN recency_days > r50 THEN 1 ELSE 0 END
      |         - CASE WHEN recency_days > r75 THEN 1 ELSE 0 END AS BIGINT) AS r_score,
      |  CAST(1 + CASE WHEN frequency > f25 THEN 1 ELSE 0 END
      |         + CASE WHEN frequency > f50 THEN 1 ELSE 0 END
      |         + CASE WHEN frequency > f75 THEN 1 ELSE 0 END AS BIGINT) AS f_score,
      |  CAST(1 + CASE WHEN monetary_cents > m25 THEN 1 ELSE 0 END
      |         + CASE WHEN monetary_cents > m50 THEN 1 ELSE 0 END
      |         + CASE WHEN monetary_cents > m75 THEN 1 ELSE 0 END AS BIGINT) AS m_score,
      |  CAST((4 - CASE WHEN recency_days > r25 THEN 1 ELSE 0 END
      |          - CASE WHEN recency_days > r50 THEN 1 ELSE 0 END
      |          - CASE WHEN recency_days > r75 THEN 1 ELSE 0 END) * 100
      |     + (1 + CASE WHEN frequency > f25 THEN 1 ELSE 0 END
      |          + CASE WHEN frequency > f50 THEN 1 ELSE 0 END
      |          + CASE WHEN frequency > f75 THEN 1 ELSE 0 END) * 10
      |     + (1 + CASE WHEN monetary_cents > m25 THEN 1 ELSE 0 END
      |          + CASE WHEN monetary_cents > m50 THEN 1 ELSE 0 END
      |          + CASE WHEN monetary_cents > m75 THEN 1 ELSE 0 END) AS BIGINT) AS rfm_code
      |FROM b, t""".stripMargin

  /** Discrete-time survival table of SESSION duration — the Kaplan-Meier
    * INPUT, kept exact: sessions (30-min-gap sessionization, the
    * [[sessionize]] convention) "die" when the gap closes them; a user's
    * session whose last event sits within one gap of the corpus end is
    * right-CENSORED (it may still be running) — it contributes to at-risk
    * counts but never to hazards, exactly the KM treatment. Per observed
    * ending duration t (minutes): at-risk count (duration ≥ t), ended and
    * censored counts at t, and the discrete hazard d/n as an exact ppm
    * integer. The float-free formulation is deliberate: the KM product
    * Π(1−d/n) is a cumulative float product no engine computes
    * identically, while (t, n_at_risk, d, c, hazard_ppm) IS the
    * estimator's sufficient statistic and hash-checks.
    *
    * Scale shape: sessionization is the per-user-partitioned window (the
    * q_events_sessionize plan); then a 1-row broadcast bound and a window
    * over DISTINCT DURATIONS — bounded by the longest session in minutes,
    * not by corpus rows.
    */
  def survival(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val frame = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = 1800L * 1000000L
    val sess = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("new_sess",
        when(lag(col("ts_us"), 1).over(byUser).isNull
          || col("ts_us") - lag(col("ts_us"), 1).over(byUser) > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(frame).cast("bigint"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(expr("(max(ts_us) - min(ts_us)) div 60000000").as("duration_min"),
        max(col("ts_us")).as("end_us"))
    val bounds = sess.agg(max(col("end_us")).as("t1"))
    val byDur = sess.crossJoin(broadcast(bounds))
      .select(col("duration_min"),
        (col("end_us") > col("t1") - gapUs).as("censored"))
      .groupBy(col("duration_min"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(!col("censored"), 1L).otherwise(0L)).as("n_ended"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("n_censored"))
    val w = Window.orderBy(col("duration_min").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur.withColumn("n_at_risk", sum(col("n_total")).over(w))
      .filter(col("n_ended") > 0)
      .select(col("duration_min"), col("n_at_risk"), col("n_ended"),
        col("n_censored"),
        expr("n_ended * 1000000 div n_at_risk").as("hazard_ppm"))
      .orderBy(col("duration_min"))
  }

  val survivalSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) IS NULL
      |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) > 1800000000
      |      THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts_us,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM e),
      |sess AS (
      |  SELECT user_id, session_id,
      |    (MAX(ts_us) - MIN(ts_us)) // 60000000 AS duration_min,
      |    MAX(ts_us) AS end_us
      |  FROM s GROUP BY 1, 2),
      |b AS (SELECT MAX(end_us) AS t1 FROM sess),
      |by_dur AS (
      |  SELECT duration_min, COUNT(*) AS n_total,
      |    CAST(SUM(CASE WHEN NOT (end_us > t1 - 1800000000) THEN 1 ELSE 0 END) AS BIGINT) AS n_ended,
      |    CAST(SUM(CASE WHEN end_us > t1 - 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
      |  FROM sess, b GROUP BY 1),
      |r AS (
      |  SELECT *, CAST(SUM(n_total) OVER (ORDER BY duration_min DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_risk
      |  FROM by_dur)
      |SELECT duration_min, n_at_risk, n_ended, n_censored,
      |       n_ended * 1000000 // n_at_risk AS hazard_ppm
      |FROM r WHERE n_ended > 0 ORDER BY duration_min""".stripMargin

  /** KMV (k-minimum-values) distinct sketch — the MERGEABLE distinct
    * estimator built from deterministic md5 hashes, so unlike HLL++
    * object state (whose estimate q_approx_agg can only bound-check, not
    * hash) the ENTIRE sketch is oracle-hash-checkable: per event_type keep the k=32
    * smallest 48-bit hash values of the member users; the k-th smallest
    * h_k estimates distinct ≈ (k−1)·2⁴⁸/h_k (uniform order statistics),
    * all in exact integer arithmetic. When a group has fewer than k
    * members the sketch IS the exact count. The exact distinct count and
    * the error in ppm ride along in-query, so the estimator's quality is
    * a measured column, not a claim.
    *
    * Scale shape: slim (type, user) dedup first, then the k minima flow
    * through the custom TopKPerKey operator — PARTIAL per partition →
    * exchange of ≤ k rows per key per partition → FINAL, never a
    * per-key sort of the corpus. This is exactly how a 100 TB distinct
    * profile is shipped: k·|groups| rows, mergeable downstream.
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val k = 32
    val pow48 = 281474976710656L // 2^48
    val du = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("h48",
        expr("cast(conv(substring(md5(cast(user_id as string)), 1, 12), 16, 10) as bigint)"))
    val mins = graft.operators.TopK.perKey(du,
      keys = Seq("event_type"),
      order = Seq("h48" -> false, "user_id" -> false), k = k)
    val sk = mins.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_kept"), max(col("h48")).as("hk"))
    val exact = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    sk.join(exact, Seq("event_type"))
      .withColumn("est_distinct",
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(expr(s"${k - 1}L * ${pow48}L div greatest(hk, 1L)")))
      .select(col("event_type"), col("n_kept"), col("est_distinct"),
        col("exact_distinct"),
        expr("abs(est_distinct - exact_distinct) * 1000000 div exact_distinct")
          .as("err_ppm"))
      .orderBy(col("event_type"))
  }

  /** DuckDB replay of [[kmvDistinct]] — the 48-bit hash rebuilt from six
    * strpos byte-pairs of the md5 hex (the md5Byte0 walk generalized),
    * k minima via ROW_NUMBER, same integer estimate.
    */
  val kmvDistinctSql: String = {
    val hex = "'0123456789abcdef'"
    def byteAt(i: Int): String =
      s"((strpos($hex, substr(h, ${2 * i + 1}, 1)) - 1) * 16" +
        s" + strpos($hex, substr(h, ${2 * i + 2}, 1)) - 1)"
    val h48 = (1 to 5).foldLeft(byteAt(0)) { (acc, i) => s"($acc * 256 + ${byteAt(i)})" }
    s"""WITH du AS (
       |  SELECT DISTINCT event_type, user_id FROM events),
       |hh AS (
       |  SELECT event_type, user_id, md5(CAST(user_id AS VARCHAR)) AS h FROM du),
       |hv AS (
       |  SELECT event_type, user_id, CAST($h48 AS BIGINT) AS h48 FROM hh),
       |mins AS (
       |  SELECT event_type, h48,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h48, user_id) AS rn
       |  FROM hv),
       |sk AS (
       |  SELECT event_type, COUNT(*) AS n_kept, MAX(h48) AS hk
       |  FROM mins WHERE rn <= 32 GROUP BY 1),
       |ex AS (
       |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
       |  FROM events GROUP BY 1),
       |est AS (
       |  SELECT sk.event_type, n_kept,
       |    CASE WHEN n_kept < 32 THEN n_kept
       |         ELSE 31 * 281474976710656 // greatest(hk, 1) END AS est_distinct,
       |    exact_distinct
       |  FROM sk JOIN ex ON sk.event_type = ex.event_type)
       |SELECT event_type, n_kept, est_distinct, exact_distinct,
       |  abs(est_distinct - exact_distinct) * 1000000 // exact_distinct AS err_ppm
       |FROM est ORDER BY event_type""".stripMargin
  }

  /** Peak concurrent sessions per day — the capacity-planning readout
    * (license seats, connection pools, GPU slots). Sessions come from the
    * [[sessionize]] 30-min-gap definition; each contributes a +1 marker at
    * its start and a −1 at end+1 µs (inclusive-interval semantics: a
    * session ending exactly when another starts DOES overlap it), and the
    * peak is the max of the running delta sum. Markers sort by (t, delta)
    * so the −1 of an interval ending at t processes before a +1 starting
    * at t — the tie rule that makes the sweep deterministic; equal-delta
    * ties at one instant are order-free (the sum is commutative there).
    * A session is attributed to its START day (spans are ≪ a day by the
    * 30-min gap construction).
    *
    * Scale shape: one user-keyed shuffle to sessionize, then one
    * day-keyed window over SESSION-sized (not event-sized) markers —
    * 2 rows per session.
    */
  def concurrency(spark: SparkSession, dir: String): DataFrame = {
    val sess = sessionize(spark, dir)
      .select(col("start_us"), (col("start_us") + col("duration_us")).as("end_us"))
      .withColumn("day", expr("start_us div 86400000000"))
    val deltas = sess.select(col("day"), col("start_us").as("t"), lit(1L).as("delta"))
      .unionAll(sess.select(col("day"), (col("end_us") + 1).as("t"),
        lit(-1L).as("delta")))
    val w = Window.partitionBy(col("day")).orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.withColumn("running", sum(col("delta")).over(w))
      .groupBy(col("day"))
      .agg(expr("count(1) div 2").as("n_sessions"),
        max(col("running")).as("max_concurrent"))
  }

  val concurrencySql: String =
    """WITH raw AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, ts_us,
      |    CASE WHEN LAG(ts_us) OVER w IS NULL
      |         OR ts_us - LAG(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM raw
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |sess AS (
      |  SELECT user_id, ts_us,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged),
      |iv AS (
      |  SELECT MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
      |  FROM sess GROUP BY user_id, session_id),
      |d AS (
      |  SELECT start_us // 86400000000 AS day, start_us AS t, 1 AS delta FROM iv
      |  UNION ALL
      |  SELECT start_us // 86400000000, end_us + 1, -1 FROM iv),
      |r AS (
      |  SELECT day, SUM(delta) OVER (PARTITION BY day ORDER BY t, delta
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
      |  FROM d)
      |SELECT day, CAST(COUNT(*) // 2 AS BIGINT) AS n_sessions,
      |       CAST(MAX(running) AS BIGINT) AS max_concurrent
      |FROM r GROUP BY 1""".stripMargin

  /** KMV sketch MERGE — the property that makes sketches worth shipping:
    * per-(type, week) KMV sketches (k smallest distinct 48-bit hashes)
    * union-merged per type must equal the sketch built directly on the
    * full corpus, EXACTLY — any global k-minimum is also a k-minimum of
    * its own slice, so re-taking the k smallest over the union of slice
    * minima loses nothing. `merge_lossless` witnesses est_merged =
    * est_direct per type; err_ppm compares against the exact distinct.
    * This is the shape a 100 TB pipeline actually runs: tiny per-shard
    * sketch states merged on the driver-sized reduce, never a global
    * distinct.
    *
    * Scale shape: slim distinct-ids shuffles; both sketch reductions go
    * through TopKPerKey's PARTIAL pass (≤ k rows per key leave each map
    * partition); the merge input is |types|·|weeks|·k rows — trivial.
    */
  def kmvMerge(spark: SparkSession, dir: String): DataFrame = {
    val k = 32
    val pow48 = 281474976710656L // 2^48
    val hashed = Tables.events(spark, dir)
      .select(col("event_type"), expr("unix_micros(ts) div 604800000000").as("week"),
        col("user_id"))
      .withColumn("h48",
        expr("cast(conv(substring(md5(cast(user_id as string)), 1, 12), 16, 10) as bigint)"))
    val weekly = hashed.select(col("event_type"), col("week"), col("h48")).distinct()
    val weeklyMins = graft.operators.TopK.perKey(weekly,
      keys = Seq("event_type", "week"), order = Seq("h48" -> false), k = k)
    def sketch(df: DataFrame, kept: String, hk: String): DataFrame =
      graft.operators.TopK.perKey(df, keys = Seq("event_type"),
          order = Seq("h48" -> false), k = k)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as(kept), max(col("h48")).as(hk))
    val merged = sketch(weeklyMins.select(col("event_type"), col("h48")).distinct(),
      "n_kept_m", "hk_m")
    val direct = sketch(hashed.select(col("event_type"), col("h48")).distinct(),
      "n_kept_d", "hk_d")
    val weeks = weekly.groupBy(col("event_type"))
      .agg(countDistinct(col("week")).as("n_weeks"))
    val exact = Tables.events(spark, dir).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    def est(kept: String, hk: String): org.apache.spark.sql.Column =
      when(col(kept) < k, col(kept))
        .otherwise(expr(s"${k - 1}L * ${pow48}L div greatest($hk, 1L)"))
    merged.join(direct, Seq("event_type")).join(weeks, Seq("event_type"))
      .join(exact, Seq("event_type"))
      .withColumn("est_merged", est("n_kept_m", "hk_m"))
      .withColumn("est_direct", est("n_kept_d", "hk_d"))
      .select(col("event_type"), col("n_weeks"),
        col("est_merged"), col("est_direct"),
        (col("est_merged") === col("est_direct")).as("merge_lossless"),
        col("exact_distinct"),
        expr("abs(est_merged - exact_distinct) * 1000000 div exact_distinct")
          .as("err_ppm"))
      .orderBy(col("event_type"))
  }

  /** DuckDB replay of [[kmvMerge]] — the kmvDistinctSql h48 builder, two
    * ROW_NUMBER sketch reductions (weekly and direct), and the merged
    * re-reduction over the union of weekly minima.
    */
  val kmvMergeSql: String = {
    val hex = "'0123456789abcdef'"
    def byteAt(i: Int): String =
      s"((strpos($hex, substr(h, ${2 * i + 1}, 1)) - 1) * 16" +
        s" + strpos($hex, substr(h, ${2 * i + 2}, 1)) - 1)"
    val h48 = (1 to 5).foldLeft(byteAt(0)) { (acc, i) => s"($acc * 256 + ${byteAt(i)})" }
    s"""WITH hv AS (
       |  SELECT DISTINCT event_type, epoch_us(ts) // 604800000000 AS week,
       |    CAST($h48 AS BIGINT) AS h48
       |  FROM (SELECT event_type, ts, md5(CAST(user_id AS VARCHAR)) AS h
       |        FROM events) t),
       |wm AS (
       |  SELECT event_type, week, h48 FROM (
       |    SELECT event_type, week, h48, ROW_NUMBER() OVER (
       |      PARTITION BY event_type, week ORDER BY h48) AS rn
       |    FROM hv) t WHERE rn <= 32),
       |mrg AS (
       |  SELECT event_type, COUNT(*) AS n_kept_m, MAX(h48) AS hk_m FROM (
       |    SELECT event_type, h48, ROW_NUMBER() OVER (
       |      PARTITION BY event_type ORDER BY h48) AS rn
       |    FROM (SELECT DISTINCT event_type, h48 FROM wm) u) t
       |  WHERE rn <= 32 GROUP BY 1),
       |drt AS (
       |  SELECT event_type, COUNT(*) AS n_kept_d, MAX(h48) AS hk_d FROM (
       |    SELECT event_type, h48, ROW_NUMBER() OVER (
       |      PARTITION BY event_type ORDER BY h48) AS rn
       |    FROM (SELECT DISTINCT event_type, h48 FROM hv) u) t
       |  WHERE rn <= 32 GROUP BY 1),
       |wk AS (SELECT event_type, COUNT(DISTINCT week) AS n_weeks FROM hv GROUP BY 1),
       |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
       |       FROM events GROUP BY 1),
       |est AS (
       |  SELECT mrg.event_type, wk.n_weeks,
       |    CASE WHEN n_kept_m < 32 THEN n_kept_m
       |         ELSE 31 * 281474976710656 // greatest(hk_m, 1) END AS est_merged,
       |    CASE WHEN n_kept_d < 32 THEN n_kept_d
       |         ELSE 31 * 281474976710656 // greatest(hk_d, 1) END AS est_direct,
       |    ex.exact_distinct
       |  FROM mrg JOIN drt ON mrg.event_type = drt.event_type
       |  JOIN wk ON mrg.event_type = wk.event_type
       |  JOIN ex ON mrg.event_type = ex.event_type)
       |SELECT event_type, n_weeks, est_merged, est_direct,
       |  est_merged = est_direct AS merge_lossless, exact_distinct,
       |  abs(est_merged - exact_distinct) * 1000000 // exact_distinct AS err_ppm
       |FROM est ORDER BY event_type""".stripMargin
  }

  /** Top-100 behavioral trigram paths — the "what do users actually do"
    * path-analysis report (the 3-step generalization of
    * [[transitions]]'s Markov matrix): count every event_type→…→… window
    * of 3 consecutive events inside a user's timeline, with the distinct
    * users travelling each path riding along.
    *
    * Scale shape: ONE user-keyed shuffle (both leads share the same
    * window frame, so Catalyst plans a single Window over a single
    * Exchange), then a bounded aggregate — the path space is |types|³
    * (125 here), so the final agg and the top-100 cut are constant-sized
    * at any corpus scale. Ordering ties are fully broken (n desc, then
    * the three steps) so the LIMIT cut is deterministic.
    */
  def eventPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("e2").as("step2"),
        col("e3").as("step3"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(100)
  }

  val eventPathsSql: String =
    """WITH p AS (
      |  SELECT user_id, event_type AS step1,
      |         lead(event_type, 1) OVER (PARTITION BY user_id
      |             ORDER BY epoch_us(ts), event_id) AS step2,
      |         lead(event_type, 2) OVER (PARTITION BY user_id
      |             ORDER BY epoch_us(ts), event_id) AS step3
      |  FROM events)
      |SELECT step1, step2, step3, COUNT(*) AS n,
      |       COUNT(DISTINCT user_id) AS n_users
      |FROM p WHERE step3 IS NOT NULL
      |GROUP BY 1, 2, 3
      |ORDER BY n DESC, step1, step2, step3 LIMIT 100""".stripMargin

  /** Sequence-pattern detection (the MATCH_RECOGNIZE shape Spark lacks as
    * a native operator): compress each user-day's ordered event stream to
    * a string of type initials and regex-match the business pattern
    * "view, later a click, later a purchase — with no error anywhere
    * between the view and the purchase" (`v[^e]*c[^e]*p`). Composing
    * existing ops (sorted collect + one regex) beats a custom physical
    * operator here: the per-key sequence is the natural unit and the
    * regex engine is the pattern automaton.
    *
    * Determinism: collect_list order is engine state, so the struct list
    * is array_sort'ed on (ts, event_id) BEFORE the initials are joined —
    * the same total order the oracle's `ORDER BY` inside string_agg uses.
    *
    * Scale shape: one (user, day) shuffle with the sequence bounded by a
    * user-day's event count (naturally small; a production run would cap
    * it with a slice() guard), then per-row regex — no second shuffle.
    */
  def seqPattern(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        expr("named_struct('ts_us', unix_micros(ts), 'event_id', event_id," +
          " 'ini', left(event_type, 1))").as("ev"))
      .groupBy(col("user_id"), col("day"))
      .agg(expr("array_join(transform(array_sort(collect_list(ev)), x -> x.ini), '')")
        .as("seq"))
      .withColumn("n_events", length(col("seq")))
      .withColumn("matched", col("seq").rlike("v[^e]*c[^e]*p"))

  val seqPatternSql: String =
    """SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |       string_agg(substr(event_type, 1, 1), ''
      |                  ORDER BY epoch_us(ts), event_id) AS seq,
      |       CAST(length(string_agg(substr(event_type, 1, 1), ''
      |                  ORDER BY epoch_us(ts), event_id)) AS INT) AS n_events,
      |       regexp_matches(string_agg(substr(event_type, 1, 1), ''
      |                  ORDER BY epoch_us(ts), event_id),
      |                      'v[^e]*c[^e]*p') AS matched
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Two-proportion A/B z-test per event_type, from exact integer counts
    * only. Variant = user_id mod 2 (the hash-split every experiment
    * framework uses); per metric m, s_a/s_b = distinct users in each arm
    * who performed m, n_a/n_b = arm sizes. Clearing the four divisions in
    * z² = (p_a−p_b)² / (p̂(1−p̂)(1/n_a+1/n_b)) gives the all-integer form
    *   z² = (s_a·n_b − s_b·n_a)²·(n_a+n_b)
    *        / (n_a·n_b·(s_a+s_b)·(n_a+n_b−s_a−s_b))
    * reported as exact ppm via decimal(38,0) div (HUGEINT // in the
    * oracle) — no sqrt, no float ratio, engine-exact. `significant` is
    * z² > 1.96², i.e. z2_ppm > 3_841_600. The numerator peaks at
    * s²n²·2n·10⁶ — 128-bit math holds to ~10⁷ users per arm; beyond that
    * a production run pre-scales counts (same cap note as [[anomaly]]).
    *
    * Scale shape: two slim distinct-aggregates over (user) and
    * (user, type) ids — map-side combined, never payload-sized — then a
    * |types|-row join against a broadcast 1-row arm-size aggregate.
    */
  def abtest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val arms = ev.select(col("user_id")).distinct()
      .agg(
        sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(pmod(col("user_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n_b"))
    ev.select(col("user_id"), col("event_type")).distinct()
      .groupBy(col("event_type"))
      .agg(
        sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L)).as("s_a"),
        sum(when(pmod(col("user_id"), lit(2)) === 1, 1L).otherwise(0L)).as("s_b"))
      .crossJoin(broadcast(arms))
      .withColumn("z2_ppm", expr(
        // degenerate arms (no conversions, or everyone converted) have
        // zero pooled variance — no signal, z² := 0, not a divide-by-zero
        """case when s_a + s_b = 0 or s_a + s_b = n_a + n_b then 0L
          |else cast(s_a * n_b - s_b * n_a as decimal(38, 0))
          |  * (s_a * n_b - s_b * n_a) * (n_a + n_b) * 1000000
          |  div (cast(n_a as decimal(38, 0)) * n_b * (s_a + s_b)
          |       * (n_a + n_b - s_a - s_b)) end""".stripMargin))
      .withColumn("significant", col("z2_ppm") > 3841600L)
      .select(col("event_type"), col("s_a"), col("n_a"), col("s_b"),
        col("n_b"), col("z2_ppm"), col("significant"))
  }

  val abtestSql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |arms AS (
      |  SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM u),
      |conv AS (
      |  SELECT event_type,
      |         CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS s_a,
      |         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS s_b
      |  FROM (SELECT DISTINCT user_id, event_type FROM events)
      |  GROUP BY 1),
      |z AS (
      |  SELECT event_type, s_a, n_a, s_b, n_b,
      |    CASE WHEN s_a + s_b = 0 OR s_a + s_b = n_a + n_b THEN 0
      |      ELSE CAST(CAST(s_a * n_b - s_b * n_a AS HUGEINT)
      |        * (s_a * n_b - s_b * n_a) * (n_a + n_b) * 1000000
      |        // (CAST(n_a AS HUGEINT) * n_b * (s_a + s_b)
      |            * (n_a + n_b - s_a - s_b)) AS BIGINT) END AS z2_ppm
      |  FROM conv, arms)
      |SELECT event_type, CAST(s_a AS BIGINT) AS s_a, CAST(n_a AS BIGINT) AS n_a,
      |  CAST(s_b AS BIGINT) AS s_b, CAST(n_b AS BIGINT) AS n_b,
      |  z2_ppm, z2_ppm > 3841600 AS significant
      |FROM z""".stripMargin

  /** Per-day event-mix diversity — the Gini–Simpson index
    * 1 − Σ(cᵢ/N)² = (N² − Σcᵢ²)/N², the float-free substitute for
    * Shannon entropy (ln is libm state; this is exact integers + one ppm
    * integer division) that a corpus-health dashboard tracks to catch
    * collapse onto a single event type. decimal(38,0) widening before the
    * squares: a day at production scale can hold >3·10⁹ events, where N²
    * passes 2⁶³.
    *
    * Scale shape: corpus → (day, type) counts with map-side combine, then
    * a days-sized aggregate — the same two-level shape as [[anomaly]].
    */
  def diversity(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("day"))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_types"),
        expr("sum(cast(c as decimal(38, 0)) * c)").as("sum_sq"))
      .withColumn("simpson_ppm", expr(
        """(cast(n_events as decimal(38, 0)) * n_events - sum_sq) * 1000000
          |  div (cast(n_events as decimal(38, 0)) * n_events)""".stripMargin))
      .select(col("day"), col("n_events"), col("n_types"), col("simpson_ppm"))

  val diversitySql: String =
    """WITH c AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, event_type, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2)
      |SELECT day, CAST(SUM(c) AS BIGINT) AS n_events,
      |  COUNT(*) AS n_types,
      |  CAST((CAST(SUM(c) AS HUGEINT) * SUM(c) - SUM(CAST(c AS HUGEINT) * c))
      |    * 1000000 // (CAST(SUM(c) AS HUGEINT) * SUM(c)) AS BIGINT)
      |    AS simpson_ppm
      |FROM c GROUP BY 1""".stripMargin

  /** Audience-overlap matrix — Jaccard similarity of the distinct-user
    * sets of every event-type pair, in exact ppm: the "segment overlap"
    * read a growth team takes before merging or suppressing audiences.
    *
    * Scale shape: one distinct on (user, type) — shuffle keyed on the
    * pair with map-side partials — then a user-keyed self-join whose
    * per-user fan-out is bounded by |types|² (≤ 25 here; audiences are
    * never materialized as sets), collapsing straight into a
    * |types|²-row aggregate. Audience sizes ride in as a broadcast of
    * the |types|-row aggregate. No corpus-sized window or broadcast.
    */
  def segmentOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val pairs = ut.toDF("user_id", "ta")
      .join(ut.toDF("user_id", "tb"), "user_id")
      .filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_both"))
    val aud = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_aud"))
    pairs
      .join(broadcast(aud.toDF("ta", "aud_a")), "ta")
      .join(broadcast(aud.toDF("tb", "aud_b")), "tb")
      .select(col("ta").as("type_a"), col("tb").as("type_b"), col("n_both"),
        (col("aud_a") + col("aud_b") - col("n_both")).as("n_union"),
        expr("n_both * 1000000 div (aud_a + aud_b - n_both)").as("jaccard_ppm"))
  }

  val segmentOverlapSql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |aud AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
      |p AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS n_both
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |    AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT p.ta AS type_a, p.tb AS type_b, p.n_both,
      |  aa.n + ab.n - p.n_both AS n_union,
      |  p.n_both * 1000000 // (aa.n + ab.n - p.n_both) AS jaccard_ppm
      |FROM p JOIN aud aa ON aa.event_type = p.ta
      |JOIN aud ab ON ab.event_type = p.tb""".stripMargin

  /** Gini coefficient of per-user activity per event type — the
    * inequality/concentration read ("do 1% of users generate 90% of the
    * clicks?"). Computed ENTIRELY from the count-of-counts histogram, the
    * q_mad trick: users with the same event count occupy consecutive
    * ranks, so each histogram row (c, m users) contributes
    * c·(2·cum·m + m·(m+1) − (n+1)·m) to Σ(2i−n−1)·x₍ᵢ₎ in closed form —
    * integer-exact, and the rank window sorts only the DISTINCT count
    * values (bounded by max per-user activity, ≪ users ≪ corpus), never
    * a user-sized partition. Gini lands as exact ppm.
    */
  def gini(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("c"))
    val hist = perUser.groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("m"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("event_type"))
    hist
      .withColumn("cum", coalesce(sum(col("m")).over(wCum), lit(0L)))
      .withColumn("nu", sum(col("m")).over(wAll))
      .groupBy(col("event_type"))
      .agg(max(col("nu")).as("n_users"),
        sum(col("m") * col("c")).as("n_events"),
        sum(col("c") * (lit(2L) * col("cum") * col("m")
          + col("m") * (col("m") + lit(1L))
          - (col("nu") + lit(1L)) * col("m"))).as("num"))
      .select(col("event_type"), col("n_users"), col("n_events"),
        expr("num * 1000000 div (n_users * n_events)").as("gini_ppm"))
  }

  val giniSql: String =
    """WITH pu AS (
      |  SELECT event_type, user_id, COUNT(*) AS c FROM events GROUP BY 1, 2),
      |h AS (SELECT event_type, c, COUNT(*) AS m FROM pu GROUP BY 1, 2),
      |hc AS (
      |  SELECT event_type, c, m,
      |    COALESCE(SUM(m) OVER (PARTITION BY event_type ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
      |    SUM(m) OVER (PARTITION BY event_type) AS nu
      |  FROM h)
      |SELECT event_type, CAST(MAX(nu) AS BIGINT) AS n_users,
      |  CAST(SUM(m * c) AS BIGINT) AS n_events,
      |  CAST(CAST(SUM(c * (2 * cum * m + m * (m + 1) - (nu + 1) * m))
      |      AS BIGINT) * 1000000
      |    // (CAST(MAX(nu) AS BIGINT) * CAST(SUM(m * c) AS BIGINT))
      |    AS BIGINT) AS gini_ppm
      |FROM hc GROUP BY 1""".stripMargin

  /** Weekly stickiness — avg DAU over the days of each epoch week divided
    * by that week's WAU, the standard product-engagement ratio, in exact
    * ppm (sum_dau·10⁶ div (n_days·wau) avoids the float division).
    * Days/weeks are epoch-integer buckets (micros div 86400·10⁶, day
    * div 7) — deterministic across engines, no calendar/tz state. Two
    * aggregations over the (user, day) distinct — linear, map-side
    * combined; unlike q_active_users' rolling 7-day window this is the
    * tumbling calendar-style read.
    */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val daily = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      .withColumn("week", expr("day div 7"))
      .groupBy(col("week")).agg(sum(col("dau")).as("sum_dau"),
        count(lit(1)).as("n_days"))
    val weekly = ud.select(expr("day div 7").as("week"), col("user_id")).distinct()
      .groupBy(col("week")).agg(count(lit(1)).as("wau"))
    daily.join(weekly, "week")
      .select(col("week"), col("n_days"), col("sum_dau"), col("wau"),
        expr("sum_dau * 1000000 div (n_days * wau)").as("stickiness_ppm"))
  }

  val stickinessSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |d AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
      |wk AS (
      |  SELECT day // 7 AS week, CAST(SUM(dau) AS BIGINT) AS sum_dau,
      |    COUNT(*) AS n_days
      |  FROM d GROUP BY 1),
      |w AS (
      |  SELECT day // 7 AS week, COUNT(DISTINCT user_id) AS wau
      |  FROM ud GROUP BY 1)
      |SELECT wk.week, wk.n_days, wk.sum_dau, w.wau,
      |  wk.sum_dau * 1000000 // (wk.n_days * w.wau) AS stickiness_ppm
      |FROM wk JOIN w ON wk.week = w.week""".stripMargin

  /** Trailing 7-day distinct actives per day — the SLIDING counterpart
    * of [[stickiness]]'s tumbling weeks: for every day, the distinct
    * users active in [day−6, day] plus the DAU/7-day-actives ratio in
    * exact ppm. Sliding distinct counts can't reuse tumbling partials
    * (users double-count across overlapping windows), so the corpus
    * (user, day) set fans out ×7 into its contributing target days and
    * re-distincts — the standard sliding-window-distinct expansion.
    *
    * Scale shape: corpus → (user, day) distinct (one shuffle), ×7
    * map-side explode, one more distinct + count keyed on day. Fan-out
    * is the window length (a constant), never corpus-squared; no window
    * function, no per-user state.
    */
  def rollingActive(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau7 = ud
      .withColumn("off", explode(expr("sequence(0, 6)")))
      .select((col("day") + col("off")).as("day"), col("user_id"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("actives_7d"))
    dau.join(wau7, Seq("day"))
      .select(col("day"), col("dau"), col("actives_7d"),
        expr("dau * 1000000 div actives_7d").as("active_ratio_ppm"))
      .orderBy(col("day"))
  }

  val rollingActiveSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |d AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
      |c AS (
      |  SELECT DISTINCT ud.day + o.o AS day, user_id
      |  FROM ud CROSS JOIN (SELECT UNNEST(generate_series(0, 6)) AS o) o),
      |w AS (SELECT day, COUNT(*) AS actives_7d FROM c GROUP BY 1)
      |SELECT d.day, d.dau, w.actives_7d,
      |  d.dau * 1000000 // w.actives_7d AS active_ratio_ppm
      |FROM d JOIN w USING (day) ORDER BY day""".stripMargin

  /** KMV sketch set-DIFFERENCE — the third sketch-algebra verb next to
    * [[kmvDistinct]] (estimate) and [[kmvMerge]] (union): for every
    * ordered audience pair (a, b), estimate |A \ B| as est|A∪B| − est|B|
    * — the "how many of A's users has B NOT reached" read that powers
    * incremental-audience planning, computed WITHOUT ever materializing
    * the audiences (union of two k-min sketches re-reduced to k). The
    * exact anti-join count rides along so the oracle pins the estimator
    * AND its error in the same integer-deterministic contract.
    *
    * Scale shape: per-type sketches are TopKPerKey partial-bounded
    * (≤ k rows/type/partition pre-shuffle); the pair stage joins k-row
    * sketches against a |types|²-row pair table — sketch-sized work
    * forever after, regardless of corpus. The exact leg is one
    * user-keyed left join with |types|-bounded fan-out per user.
    */
  def kmvDiff(spark: SparkSession, dir: String): DataFrame = {
    val k = 32
    val pow48 = 281474976710656L // 2^48
    val du = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
    val hv = du.withColumn("h48",
        expr("cast(conv(substring(md5(cast(user_id as string)), 1, 12), 16, 10) as bigint)"))
      .select(col("event_type"), col("h48")).distinct()
    val mins = graft.operators.TopK.perKey(hv,
      keys = Seq("event_type"), order = Seq("h48" -> false), k = k)
    def estCol(kept: String, hk: String): org.apache.spark.sql.Column =
      when(col(kept) < k, col(kept))
        .otherwise(expr(s"${k - 1}L * ${pow48}L div greatest($hk, 1L)"))
    val sk = mins.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_kept"), max(col("h48")).as("hk"))
      .select(col("event_type"), estCol("n_kept", "hk").as("est"))
    val types = sk.select(col("event_type"))
    val pairs = types.toDF("ta").join(types.toDF("tb"), col("ta") =!= col("tb"))
    val ua = pairs.join(mins.toDF("ta", "h48"), Seq("ta"))
    val ub = pairs.join(mins.toDF("tb", "h48"), Seq("tb"))
    val usk = ua.select(col("ta"), col("tb"), col("h48"))
      .unionAll(ub.select(col("ta"), col("tb"), col("h48")))
      .distinct()
    val topu = graft.operators.TopK.perKey(usk,
      keys = Seq("ta", "tb"), order = Seq("h48" -> false), k = k)
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n_kept_u"), max(col("h48")).as("hk_u"))
      .select(col("ta"), col("tb"), estCol("n_kept_u", "hk_u").as("est_union"))
    val exact = du.toDF("ta", "user_id").join(pairs, Seq("ta"))
      .join(du.toDF("tb", "user_id").withColumn("in_b", lit(1)),
        Seq("tb", "user_id"), "left")
      .groupBy(col("ta"), col("tb"))
      .agg(sum(when(col("in_b").isNull, 1L).otherwise(0L)).as("exact_diff"))
    topu
      .join(sk.toDF("ta", "est_a"), Seq("ta"))
      .join(sk.toDF("tb", "est_b"), Seq("tb"))
      .join(exact, Seq("ta", "tb"))
      .select(col("ta"), col("tb"), col("est_a"), col("est_b"), col("est_union"),
        greatest(col("est_union") - col("est_b"), lit(0L)).as("est_diff"),
        col("exact_diff"))
      .withColumn("err_ppm", expr(
        "abs(est_diff - exact_diff) * 1000000 div greatest(exact_diff, 1L)"))
      .orderBy(col("ta"), col("tb"))
  }

  /** DuckDB replay of [[kmvDiff]] — the kmvDistinctSql h48 builder, the
    * per-type and per-pair ROW_NUMBER sketch reductions, and the exact
    * anti-join leg.
    */
  val kmvDiffSql: String = {
    val hex = "'0123456789abcdef'"
    def byteAt(i: Int): String =
      s"((strpos($hex, substr(h, ${2 * i + 1}, 1)) - 1) * 16" +
        s" + strpos($hex, substr(h, ${2 * i + 2}, 1)) - 1)"
    val h48 = (1 to 5).foldLeft(byteAt(0)) { (acc, i) => s"($acc * 256 + ${byteAt(i)})" }
    s"""WITH du AS (
       |  SELECT DISTINCT event_type, user_id FROM events),
       |hv AS (
       |  SELECT DISTINCT event_type, CAST($h48 AS BIGINT) AS h48
       |  FROM (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM du) t),
       |mins AS (
       |  SELECT event_type, h48 FROM (
       |    SELECT event_type, h48, ROW_NUMBER() OVER (
       |      PARTITION BY event_type ORDER BY h48) AS rn FROM hv) t
       |  WHERE rn <= 32),
       |sk AS (
       |  SELECT event_type,
       |    CASE WHEN COUNT(*) < 32 THEN COUNT(*)
       |         ELSE 31 * 281474976710656 // greatest(MAX(h48), 1) END AS est
       |  FROM mins GROUP BY 1),
       |pairs AS (
       |  SELECT a.event_type AS ta, b.event_type AS tb
       |  FROM sk a JOIN sk b ON a.event_type <> b.event_type),
       |uni AS (
       |  SELECT DISTINCT p.ta, p.tb, m.h48
       |  FROM pairs p JOIN mins m ON m.event_type = p.ta OR m.event_type = p.tb),
       |usk AS (
       |  SELECT ta, tb,
       |    CASE WHEN COUNT(*) < 32 THEN COUNT(*)
       |         ELSE 31 * 281474976710656 // greatest(MAX(h48), 1) END AS est_union
       |  FROM (SELECT ta, tb, h48, ROW_NUMBER() OVER (
       |          PARTITION BY ta, tb ORDER BY h48) AS rn FROM uni) t
       |  WHERE rn <= 32 GROUP BY 1, 2),
       |ex AS (
       |  SELECT p.ta, p.tb,
       |    CAST(SUM(CASE WHEN db.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS exact_diff
       |  FROM pairs p
       |  JOIN du da ON da.event_type = p.ta
       |  LEFT JOIN du db ON db.event_type = p.tb AND db.user_id = da.user_id
       |  GROUP BY 1, 2)
       |SELECT u.ta, u.tb,
       |  CAST(sa.est AS BIGINT) AS est_a, CAST(sb.est AS BIGINT) AS est_b,
       |  CAST(u.est_union AS BIGINT) AS est_union,
       |  CAST(greatest(u.est_union - sb.est, 0) AS BIGINT) AS est_diff,
       |  ex.exact_diff,
       |  CAST(abs(greatest(u.est_union - sb.est, 0) - ex.exact_diff) * 1000000
       |    // greatest(ex.exact_diff, 1) AS BIGINT) AS err_ppm
       |FROM usk u
       |JOIN sk sa ON sa.event_type = u.ta
       |JOIN sk sb ON sb.event_type = u.tb
       |JOIN ex ON ex.ta = u.ta AND ex.tb = u.tb
       |ORDER BY u.ta, u.tb""".stripMargin
  }

  /** Daily new-vs-returning split — the growth-accounting top line
    * (every active day decomposes into first-ever-seen users and
    * returners) behind acquisition/retention dashboards. A user is
    * "new" on their lifetime-first active day, "returning" on every
    * later active day; the new share is exact integer ppm.
    *
    * Scale shape: one (user, day) distinct, a user-keyed min-day
    * aggregate, a user-keyed join (same partitioning — no extra
    * exchange), then a days-bounded group aggregate. Nothing
    * corpus-payload-sized moves; no global window.
    */
  def newReturning(spark: SparkSession, dir: String): DataFrame = {
    val acts = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val first = acts.groupBy(col("user_id")).agg(min(col("day")).as("fd"))
    acts.join(first, Seq("user_id"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("fd"), 1L).otherwise(0L))
          .cast("bigint").as("n_new"),
        sum(when(col("day") > col("fd"), 1L).otherwise(0L))
          .cast("bigint").as("n_returning"))
      .withColumn("new_ppm", expr(
        "cast(cast(n_new as decimal(38,0)) * 1000000 div n_active as bigint)"))
      .orderBy(col("day"))
  }

  val newReturningSql: String =
    """WITH acts AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |first AS (SELECT user_id, MIN(day) AS fd FROM acts GROUP BY 1)
      |SELECT day, COUNT(*) AS n_active,
      |  CAST(SUM(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |  CAST(SUM(CASE WHEN day > fd THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_returning,
      |  CAST(CAST(SUM(CASE WHEN day = fd THEN 1 ELSE 0 END) AS HUGEINT)
      |    * 1000000 // COUNT(*) AS BIGINT) AS new_ppm
      |FROM acts JOIN first USING (user_id)
      |GROUP BY day ORDER BY day""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_new_returning" -> (newReturning _),
    "q_rolling_active" -> (rollingActive _),
    "q_kmv_diff" -> (kmvDiff _),
    "q_funnel_time" -> (funnelTime _),
    "q_segment_overlap" -> (segmentOverlap _),
    "q_gini" -> (gini _),
    "q_stickiness" -> (stickiness _),
    "q_concurrency" -> (concurrency _),
    "q_kmv_merge" -> (kmvMerge _),
    "q_event_paths" -> (eventPaths _),
    "q_seq_pattern" -> (seqPattern _),
    "q_abtest" -> (abtest _),
    "q_diversity" -> (diversity _),
    "q_kmv_distinct" -> (kmvDistinct _),
    "q_survival" -> (survival _),
    "q_events_anomaly" -> (anomaly _),
    "q_changepoint" -> (changepoint _),
    "q_rfm" -> (rfm _),
    "q_milestone" -> (milestones _),
    "q_islands" -> (activityStreaks _),
    "q_active_users" -> (activeUsers _),
    "q_attribution" -> (attribution _),
    "q_events_transition" -> (transitions _),
    "q_gapfill" -> (gapFill _),
    "q_funnel" -> (funnel _),
    "q_cohort" -> (cohort _),
    "q_json_extract" -> (jsonExtract _),
    "q_approx_agg" -> (approxAgg _),
    "q_approx_agg_diag" -> (approxAggDiag _),
    "q_sample_agg" -> (sampleAgg _),
    "ref_full_scan" -> (refFullScan _),
    "ref_filter" -> (refFilter _),
    "ref_aggregation" -> (refAggregation _),
    "q_events_hourly" -> (hourlyAgg _),
    "q_twa" -> (twa _),
    "q_diff_in_diff" -> (diffInDiff _),
    "q_ohlc" -> (ohlc _),
    "q_events_sessionize" -> (sessionize _),
    "q_asof_join" -> (asofJoin _),
    "q_asof_fwd" -> (asofJoinForward _),
    "q_asof_nearest" -> (asofJoinNearest _),
    "q_asof_tolerance" -> (asofJoinTolerance _))

  val oracles: Map[String, String] = Map(
    "q_new_returning" -> newReturningSql,
    "q_rolling_active" -> rollingActiveSql,
    "q_kmv_diff" -> kmvDiffSql,
    "q_funnel_time" -> funnelTimeSql,
    "q_segment_overlap" -> segmentOverlapSql,
    "q_gini" -> giniSql,
    "q_stickiness" -> stickinessSql,
    "q_concurrency" -> concurrencySql,
    "q_kmv_merge" -> kmvMergeSql,
    "q_event_paths" -> eventPathsSql,
    "q_seq_pattern" -> seqPatternSql,
    "q_abtest" -> abtestSql,
    "q_diversity" -> diversitySql,
    "q_kmv_distinct" -> kmvDistinctSql,
    "q_survival" -> survivalSql,
    "q_attribution" -> attributionSql,
    "q_islands" -> activityStreaksSql,
    "q_changepoint" -> changepointSql,
    "q_milestone" -> milestonesSql,
    "q_rfm" -> rfmSql,
    "q_events_transition" -> transitionsSql,
    "q_gapfill" -> gapFillSql,
    "q_events_anomaly" -> anomalySql,
    "q_active_users" -> activeUsersSql,
    "q_funnel" -> funnelSql,
    "q_cohort" -> cohortSql,
    "q_json_extract" -> jsonExtractSql,
    "q_approx_agg" -> approxAggSql,
    "q_sample_agg" -> sampleAggSql,
    "ref_full_scan" -> refFullScanSql,
    "ref_filter" -> refFilterSql,
    "ref_aggregation" -> refAggregationSql,
    "q_events_hourly" -> hourlyAggSql,
    "q_twa" -> twaSql,
    "q_diff_in_diff" -> diffInDiffSql,
    "q_ohlc" -> ohlcSql,
    "q_events_sessionize" -> sessionizeSql,
    "q_asof_join" -> asofJoinSql,
    "q_asof_fwd" -> asofJoinForwardSql,
    "q_asof_nearest" -> asofJoinNearestSql,
    "q_asof_tolerance" -> asofJoinToleranceSql)
}
