package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational analytics over the harness star schema — the query
  * capability layer the reference lacks natively (its aggregations are
  * operational only, SURVEY.md §2.5) but which the rebuilt engine provides
  * for free by being Spark-first.
  *
  * Numeric discipline for oracle parity: aggregate in DECIMAL (exact,
  * order-independent — safe under any shuffle/partial-agg schedule), then
  * cast the final value to DOUBLE. Summing raw doubles would make the
  * result depend on partitioning, which breaks both the DuckDB hash
  * compare and determinism at 1000 executors.
  */
object Analytics {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** TPC-H Q1-style pricing summary. Group-by with partial aggregation —
    * one shuffle of pre-combined partials; filter pushed to the scan.
    */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-style: top orders by revenue for one market segment.
    * customer is small relative to lineitem → broadcast it; lineitem is
    * the probe side and never shuffles for that join.
    */
  def topRevenueOrders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val cutoff = lit("1995-03-15").cast("timestamp")
    val o = orders.filter(col("o_orderdate") < cutoff)
      .join(broadcast(customer.filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")), col("o_custkey") === col("c_custkey"))
    // orders is a fact table: the orders⋈lineitem join shuffles on the
    // orderkey (broadcasting it would not survive a 100× scale-up; AQE may
    // still elect a broadcast at small SF where the filtered side is tiny).
    lineitem.filter(col("l_shipdate") > cutoff)
      .join(o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val topRevenueOrdersSql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q5-style: revenue by nation. All dimension joins broadcast —
    * the only shuffle is the final small group-by.
    */
  def nationRevenue(region: DataFrame, nation: DataFrame, customer: DataFrame,
                    orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val dims = customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    // Only the tiny dims (nation, region) carry broadcast hints; the
    // customer⋈orders and orders⋈lineitem fact joins are left to the
    // planner/AQE — they broadcast at small SF and shuffle at 100 TB.
    val ord = orders.join(dims, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("n_name"), col("r_name"))
    lineitem
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val nationRevenueSql: String =
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM region JOIN nation ON r_regionkey = n_regionkey
      |  JOIN customer ON n_nationkey = c_nationkey
      |  JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** Tumbling 1-hour event-time window — the analytic window the
    * reference's micro-batch `groupedWithin` is not (SURVEY.md §2.7).
    */
  def hourlyEvents(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("hour", "event_type")

  val hourlyEventsSql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** SLIDING 1-hour window every 30 minutes: events and distinct users
    * per overlapping window — the dashboard rate the tumbling hourly
    * query can't show (a spike straddling an hour boundary splits across
    * two tumbling buckets but lands whole in one sliding window).
    *
    * Spark's `window(ts, size, slide)` assigns each event to its
    * size/slide = 2 covering windows via a single Expand — row volume
    * ×2 into a partial-merged aggregate, no self-join, no window
    * function. The distinct-user count shuffles (window, user) once;
    * at 100 TB the expansion factor stays the constant 2, independent
    * of data volume. The oracle reproduces the window assignment with
    * integral µs arithmetic (w ∈ {⌊us/slide⌋·slide − j·slide}).
    */
  def slidingActiveUsers(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"))
      .select(col("window.start").as("w_start"), col("n_events"), col("n_users"))
      .orderBy("w_start")

  val slidingActiveUsersSql: String =
    """WITH e AS (SELECT epoch_us(ts) AS us, user_id FROM events),
      |w AS (
      |  SELECT unnest([us // 1800000000 * 1800000000,
      |                 (us // 1800000000 - 1) * 1800000000]) AS w_us,
      |         user_id
      |  FROM e)
      |SELECT epoch_ms(w_us // 1000) AS w_start,
      |       count(*) AS n_events,
      |       count(DISTINCT user_id) AS n_users
      |FROM w GROUP BY w_us ORDER BY w_start""".stripMargin

  /** 7-day rolling revenue per event type: daily pre-aggregation first
    * (the shuffle carries one row per (type, day), not per event), then a
    * RANGE window over epoch-day numbers so calendar gaps are honored —
    * a ROWS frame would silently span missing days. Both windows and the
    * daily groupBy share the event_type hash partitioning; the window's
    * per-partition sort is over |days| rows, trivial at any corpus size.
    * Sums stay DECIMAL until the final cast (shuffle-order independence);
    * the single double division is bit-stable given exact operands.
    */
  def rollingRevenue(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('DAY', ts)) div 86400000000").as("day_num"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_num"))
      .rangeBetween(-6, Window.currentRow)
    daily
      .withColumn("rev7", sum(col("rev")).over(w))
      .withColumn("days7", count(lit(1)).over(w))
      .select(col("event_type"),
        timestamp_micros(col("day_num") * lit(86400000000L)).as("day"),
        col("rev").cast("double").as("revenue"),
        round(col("rev7").cast("double") / col("days7"), 6).as("avg7"))
      .orderBy("event_type", "day")
  }

  val rollingRevenueSql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day_num,
      |         sum(CAST(value AS DECIMAL(18,2))) AS rev
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type,
      |       epoch_ms(day_num * 86400000) AS day,
      |       CAST(rev AS DOUBLE) AS revenue,
      |       round(CAST(sum(rev) OVER w AS DOUBLE)
      |             / count(*) OVER w, 6) AS avg7
      |FROM daily
      |WINDOW w AS (PARTITION BY event_type ORDER BY day_num
      |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, day""".stripMargin

  /** Per-event trailing time-RANGE aggregate — "this user's activity in
    * the hour ending at this event": count and milli-unit value sum over
    * the user's events in [t − window, t]. A RANGE frame over event-time
    * micros (not a ROWS frame, not a bucketed window): every row sees
    * its own trailing interval, the primitive behind rate limiting,
    * velocity features and fraud scores. Peers (equal timestamps) enter
    * the frame together in both engines, and the summed value is
    * integral (round-then-cast milli units — the double→long device), so
    * the result is bit-exact.
    *
    * Scale shape: one shuffle on user_id; the range frame is a sorted
    * per-partition sliding sum, O(n) per user with two pointers — no
    * self-join, no explode of the interval.
    */
  def trailingWindow(events: DataFrame, windowUs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-windowUs, 0L)
    events
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("mv"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("trailing_n"),
        sum(col("mv")).over(w).as("trailing_value_milli"))
      .orderBy("event_id")
  }

  def trailingWindowSql(windowUs: Long): String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS us,
       |         CAST(round(value * 1000) AS BIGINT) AS mv
       |  FROM events)
       |SELECT event_id, user_id,
       |       count(*) OVER w AS trailing_n,
       |       CAST(sum(mv) OVER w AS BIGINT) AS trailing_value_milli
       |FROM e
       |WINDOW w AS (PARTITION BY user_id ORDER BY us
       |             RANGE BETWEEN $windowUs PRECEDING AND CURRENT ROW)
       |ORDER BY event_id""".stripMargin

  /** Sessionization: a new session starts after a >30 min gap per user.
    * lag + running-sum windows, both keyed by user — one shuffle total
    * (both windows share the user partitioning).
    */
  def sessionize(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  val sessionizeSql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events)
      |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Inter-arrival regularity scoring — the bot/automation detector a
    * traffic-curation pipeline runs before training on user behavior:
    * humans are bursty (high coefficient of variation of the gaps
    * between their events), schedulers and scripts are metronomic (CV²
    * near 0). Per user with at least `minGaps` gaps and a positive
    * span: gap mean, CV² in exact parts-per-million, and the
    * regularity flag.
    *
    * Parity: gaps are integral µs (ordered by (ts, event_id) — a total
    * order, and non-negative by construction); Σgap² aggregates in
    * DECIMAL(38,0) (a single gap² can exceed 2^63 — DuckDB mirrors in
    * HUGEINT); CV² = (m·Q − S²)/S² is exported as the truncating
    * integral `(1e6·num) DIV S²` and the flag compares `10·num < S²`
    * directly in exact wide-integer arithmetic — no division, no
    * rounding boundary anywhere (the abcXyz cross-multiply device).
    * Scale shape: one shuffle on user_id (lag window + the groupBy
    * share it), partial-agged sums, no joins.
    */
  def botRegularity(events: DataFrame, minGaps: Int): DataFrame = {
    require(minGaps >= 1, s"minGaps must be >= 1: $minGaps")
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(byUser))
      .filter(col("gap").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("m"), sum(col("gap")).as("s"),
        sum(expr("CAST(gap AS DECIMAL(38,0)) * gap")).as("qq"))
      .filter(col("m") >= minGaps && col("s") > 0L)
      .select(col("user_id"), (col("m") + lit(1L)).as("n_events"),
        expr("CAST(s DIV m AS BIGINT)").as("gap_mean_us"),
        expr("CAST((1000000 * (m * qq - CAST(s AS DECIMAL(38,0)) * s))" +
          " DIV (CAST(s AS DECIMAL(38,0)) * s) AS BIGINT)").as("cv2_e6"),
        expr("10 * (m * qq - CAST(s AS DECIMAL(38,0)) * s) < CAST(s AS DECIMAL(38,0)) * s")
          .as("is_regular"))
      .orderBy("user_id")
  }

  def botRegularitySql(minGaps: Int): String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
       |g AS (
       |  SELECT user_id,
       |         us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap
       |  FROM e),
       |a AS (
       |  SELECT user_id, count(*) AS m, CAST(sum(gap) AS BIGINT) AS s,
       |         sum(CAST(gap AS HUGEINT) * gap) AS qq
       |  FROM g WHERE gap IS NOT NULL GROUP BY user_id)
       |SELECT user_id, m + 1 AS n_events,
       |  CAST(s // m AS BIGINT) AS gap_mean_us,
       |  CAST((1000000 * (m * qq - CAST(s AS HUGEINT) * s))
       |       // (CAST(s AS HUGEINT) * s) AS BIGINT) AS cv2_e6,
       |  (10 * (m * qq - CAST(s AS HUGEINT) * s)) < (CAST(s AS HUGEINT) * s) AS is_regular
       |FROM a WHERE m >= $minGaps AND s > 0
       |ORDER BY user_id""".stripMargin

  /** Last-touch attribution: each purchase is credited to the most recent
    * click by the same user within `windowSec` — the point-in-time self
    * lookup every clickstream pipeline needs.
    *
    * Deliberately NOT a range self-join (purchases × clicks per user can
    * go quadratic inside a hot window): one carry-forward window per user
    * propagates the latest click (id, time) down the user's timeline, and
    * purchases just read it. One shuffle on user_id, per-user sort bounded
    * by timeline length, zero joins — the shape survives 100× because a
    * user's history grows, not the pairing.
    *
    * Lag is reported in exact microseconds (no division — nothing to
    * diverge between engines). Purchases with no in-window click keep
    * NULL click_id/lag_us.
    */
  def lastTouchAttribution(events: DataFrame, windowSec: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val winUs = windowSec * 1000000L
    val carried = events
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true)
          .over(byUser))
      .withColumn("click_us",
        last(when(col("event_type") === "click", col("us")), ignoreNulls = true)
          .over(byUser))
    carried.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        when(col("us") - col("click_us") <= winUs, col("click_id")).as("click_id"),
        when(col("us") - col("click_us") <= winUs, col("us") - col("click_us")).as("lag_us"))
      .orderBy("purchase_id")
  }

  def lastTouchAttributionSql(windowSec: Long): String = {
    val winUs = windowSec * 1000000L
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
       |w AS (
       |  SELECT event_id, user_id, event_type, us,
       |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id,
       |    last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_us
       |  FROM e)
       |SELECT event_id AS purchase_id, user_id,
       |       CASE WHEN us - click_us <= $winUs THEN click_id END AS click_id,
       |       CASE WHEN us - click_us <= $winUs THEN us - click_us END AS lag_us
       |FROM w WHERE event_type = 'purchase'
       |ORDER BY purchase_id""".stripMargin
  }

  /** Top-k users by purchase value (limit/top-k, SURVEY.md §2.6). */
  def topPurchasers(events: DataFrame, k: Int): DataFrame =
    events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        count(lit(1)).as("n_purchases"))
      .orderBy(col("total_value").desc, col("user_id"))
      .limit(k)

  def topPurchasersSql(k: Int): String =
    s"""SELECT user_id,
       |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       |  count(*) AS n_purchases
       |FROM events WHERE event_type = 'purchase'
       |GROUP BY user_id ORDER BY total_value DESC, user_id LIMIT $k""".stripMargin

  /** JSON payload extraction (the reference keeps MySQL JSON as string and
    * defers parsing, MySQLEventNormalizer.scala:241-242 — here surfaced as
    * a first-class queryable column).
    */
  def jsonExtract(events: DataFrame): DataFrame =
    events
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy("k_mod")

  val jsonExtractSql: String =
    """WITH j AS (SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
      |SELECT CAST(k % 10 AS INTEGER) AS k_mod, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q6-style: pure filter + agg — the pushdown showcase (all three
    * predicates reach the parquet scan as PushedFilters; only 4 columns
    * read).
    */
  def forecastRevenue(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  val forecastRevenueSql: String =
    """SELECT
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.03 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q4-style: EXISTS → left-semi join (SURVEY.md §2.6 set ops). */
  def orderPriorityCheck(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .join(lineitem.filter(col("l_quantity") > 45).select("l_orderkey").distinct(),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))

  val orderPriorityCheckSql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q10-style: customers ranked by revenue lost to returned items.
    * Fact-fact (orders ⋈ lineitem) shuffles on the order key with the
    * returnflag filter pushed to the lineitem scan; customer and nation
    * are broadcast dimensions. Top-k via TakeOrderedAndProject (k-bounded
    * partials, no global sort materialization).
    */
  def returnedItemCustomers(customer: DataFrame, orders: DataFrame,
                            lineitem: DataFrame, nation: DataFrame, k: Int): DataFrame =
    lineitem.filter(col("l_returnflag") === "R")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(k)

  def returnedItemCustomersSql(k: Int): String =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey LIMIT $k""".stripMargin

  /** TPC-H Q14-style: fraction of a year's revenue from PROMO parts.
    * part broadcasts; the date range pushes to the lineitem scan; the
    * conditional ratio is one aggregation (no second pass).
    */
  def promoRevenueRatio(part: DataFrame, lineitem: DataFrame, year: Int): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit(s"$year-01-01").cast("timestamp") &&
        col("l_shipdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(
        (lit(100.0) *
          sum(when(col("p_type").startsWith("PROMO"),
            dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
            .otherwise(lit(0).cast("decimal(18,2)"))).cast("double") /
          sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
            .cast("double")).as("promo_pct"),
        count(lit(1)).as("n_lines"))
      .select(round(col("promo_pct"), 6).as("promo_pct"), col("n_lines"))

  def promoRevenueRatioSql(year: Int): String =
    s"""SELECT
       |  round(100.0 *
       |    CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
       |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
       |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS promo_pct,
       |  count(*) AS n_lines
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_shipdate >= TIMESTAMP '$year-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '${year + 1}-01-01 00:00:00'""".stripMargin

  /** TPC-H Q18-style: large-quantity orders. The quantity rollup is a
    * partial-agg groupBy on the order key; the HAVING filter shrinks it
    * to a tail that joins back as a broadcast semi-filter — orders and
    * customer never see unfiltered lineitem.
    */
  def largeOrders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                  minQty: Long): DataFrame = {
    val big = lineitem.groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("total_qty"))
      .filter(col("total_qty") > minQty)
    orders.join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
  }

  def largeOrdersSql(minQty: Long): String =
    s"""WITH big AS (
       |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > $minQty)
       |SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
       |FROM orders JOIN big ON o_orderkey = l_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY total_qty DESC, o_orderkey""".stripMargin

  /** ROLLUP hierarchy totals: returnflag → linestatus with subtotals and
    * a grand total (multi-level aggregation in one pass).
    */
  def rollupRevenue(lineitem: DataFrame): DataFrame =
    lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n_lines"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_price"), col("n_lines"))
      .orderBy("returnflag", "linestatus")

  val rollupRevenueSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       count(*) AS n_lines
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** CUBE cross-classification: order revenue by (market segment,
    * order priority) with BOTH one-dimensional margins and the grand
    * total in one pass — the full grouping-sets lattice, where ROLLUP
    * ([[rollupRevenue]]) walks only the hierarchy prefix. grouping_id
    * disambiguates genuine NULL keys from subtotal rows.
    *
    * Scale shape: Spark's Expand produces 4 grouping-set replicas
    * BEFORE partial aggregation, so the shuffle carries 4·|groups|
    * partials, not 4·|rows| — the same absorbed-Expand shape the
    * ROLLUP/Benford queries rely on. The orders↔customer join shuffles
    * on custkey once.
    */
  def cubeRevenue(orders: DataFrame, customer: DataFrame): DataFrame =
    orders.join(customer, col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n_orders"),
        grouping_id(col("c_mktsegment"), col("o_orderpriority")).as("gid"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid").cast("long").as("gid"),
        col("sum_price"), col("n_orders"))
      .orderBy("gid", "segment", "priority")

  val cubeRevenueSql: String =
    """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
      |       coalesce(o_orderpriority, 'ALL') AS priority,
      |       CAST(grouping(c_mktsegment) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY CUBE (c_mktsegment, o_orderpriority)
      |ORDER BY gid, segment, priority""".stripMargin

  /** Range join: pairs of events by the same user within a 5-minute
    * window (the temporal-join shape Spark lacks as a named operator —
    * composed as equi-join on the key + range predicate on time, so the
    * shuffle is on user_id and the range filter runs within partitions;
    * the per-key time windows never become a global cross product).
    */
  def eventPairsWithin(events: DataFrame, windowMinutes: Int): DataFrame = {
    val e = events.select(col("user_id"), col("event_id"), col("ts"))
    e.as("a")
      .join(e.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_id") < col("b.event_id") &&
          col("b.ts") >= col("a.ts") &&
          col("b.ts") <= col("a.ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .groupBy(col("a.user_id").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  def eventPairsWithinSql(windowMinutes: Int): String =
    s"""SELECT a.user_id AS user_id, count(*) AS n_pairs
       |FROM events a JOIN events b
       |  ON a.user_id = b.user_id
       | AND a.event_id < b.event_id
       | AND b.ts >= a.ts
       | AND b.ts <= a.ts + INTERVAL $windowMinutes MINUTES
       |GROUP BY a.user_id ORDER BY user_id""".stripMargin

  /** Ordered conversion funnel: for each stage k, users whose first
    * stage-k event happened STRICTLY AFTER their first stage-(k-1)
    * completion time — the sequence-matching shape of product analytics
    * ("viewed, then clicked, then purchased"), not three independent
    * counts. One keyed aggregation per stage chained through keyed joins:
    * every shuffle is on user_id, so a 1000-executor plan re-uses one
    * hash partitioning across all stages and nothing ever broadcasts or
    * collects the event log.
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val first = events.filter(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    val perStage = stages.tail.scanLeft(first) { (prev, st) =>
      events.filter(col("event_type") === st)
        .join(prev.select(col("user_id"), col("t").as("prev_t")), Seq("user_id"))
        .filter(col("ts") > col("prev_t"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    }
    perStage.zip(stages).zipWithIndex.map { case ((df, st), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(st).as("stage"), lit((i + 1).toLong).as("stage_n"), col("n_users"))
    }.reduce(_.unionAll(_)).orderBy("stage_n")
  }

  def funnelSql(stages: Seq[String]): String = {
    val ctes = stages.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"s1 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = '$st' GROUP BY user_id)"
      else
        s"""s${i + 1} AS (
           |  SELECT e.user_id, min(e.ts) AS t
           |  FROM events e JOIN s$i ON e.user_id = s$i.user_id
           |  WHERE e.event_type = '$st' AND e.ts > s$i.t
           |  GROUP BY e.user_id)""".stripMargin
    }
    val selects = stages.zipWithIndex.map { case (st, i) =>
      s"SELECT '$st' AS stage, CAST(${i + 1} AS BIGINT) AS stage_n, count(*) AS n_users FROM s${i + 1}"
    }
    s"""WITH ${ctes.mkString(",\n")}
       |${selects.mkString("\nUNION ALL ")}
       |ORDER BY stage_n""".stripMargin
  }

  /** Weekly cohort retention: users grouped by the week of their first
    * event; for each (cohort, weeks-since-cohort) cell, how many distinct
    * cohort members were active. The first-touch frame joins back to the
    * event log on user_id — both sides shuffle once on the key; the
    * cohort matrix itself is tiny (weeks²). Week arithmetic stays on
    * Monday-truncated DATEs in both engines, and the offset division is
    * exact (truncated weeks differ by day multiples of 7).
    */
  def retention(events: DataFrame): DataFrame = {
    val first = events.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
    events.join(first, Seq("user_id"))
      .select(
        date_trunc("week", col("first_ts")).cast("date").as("cohort_week"),
        expr("CAST(datediff(date_trunc('week', ts), date_trunc('week', first_ts)) / 7 AS BIGINT)").as("week_n"),
        col("user_id"))
      .groupBy(col("cohort_week"), col("week_n"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_n")
  }

  val retentionSql: String =
    """WITH first AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id)
      |SELECT CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
      |       CAST(date_diff('day', date_trunc('week', f.first_ts), date_trunc('week', e.ts)) / 7 AS BIGINT) AS week_n,
      |       count(DISTINCT e.user_id) AS n_users
      |FROM events e JOIN first f ON e.user_id = f.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val valuePercentilesSql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 4) AS p50,
      |  round(quantile_cont(value, 0.95), 4) AS p95,
      |  round(quantile_cont(value, 0.99), 4) AS p99,
      |  count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Top-3 events per user by value (top-N per group via ranked window —
    * the per-key limit SURVEY.md §2.6 maps from `takeRight`).
    */
  def topEventsPerUser(events: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    events
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
      .orderBy(col("user_id"), col("rank"))
  }

  def topEventsPerUserSql(n: Int): String =
    s"""SELECT user_id, event_id, value, rank FROM (
       |  SELECT user_id, event_id, value,
       |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
       |  FROM events WHERE user_id < 20)
       |WHERE rank <= $n ORDER BY user_id, rank""".stripMargin

  /** TPC-H Q7-style volume shipping: bilateral trade between two nations
    * by ship year. Both nation-tagged sides (supplier×nation,
    * customer×nation) are filtered to the two nations BEFORE joining the
    * facts, so the fact stream only carries rows that can survive the
    * bilateral predicate; nation broadcasts into each. The orders⋈lineitem
    * fact-fact join is left to the planner (shuffles at 100 TB).
    */
  def volumeShipping(supplier: DataFrame, lineitem: DataFrame, orders: DataFrame,
                     customer: DataFrame, nation: DataFrame,
                     nationA: String, nationB: String): DataFrame = {
    val pair = Seq(nationA, nationB)
    val supp = supplier.join(broadcast(nation.filter(col("n_name").isin(pair: _*))),
      col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = customer.join(broadcast(nation.filter(col("n_name").isin(pair: _*))),
      col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = orders.join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    lineitem
      .filter(col("l_shipdate").between(lit("1996-01-01").cast("timestamp"),
        lit("1997-12-31").cast("timestamp")))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  def volumeShippingSql(nationA: String, nationB: String): String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       |       count(*) AS n_items
       |FROM supplier JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  JOIN lineitem ON l_suppkey = s_suppkey
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN customer ON c_custkey = o_custkey
       |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE n1.n_name IN ('$nationA', '$nationB')
       |  AND n2.n_name IN ('$nationA', '$nationB')
       |  AND n1.n_name <> n2.n_name
       |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** TPC-H Q8-style market share: one nation's fraction of a region's
    * part-type import volume, by year. The share division runs over
    * DECIMAL sums (exact partials) and only the final ratio becomes
    * DOUBLE — same single-shuffle rollup as Q7 with a conditional
    * numerator instead of a second query.
    */
  def marketShare(part: DataFrame, supplier: DataFrame, lineitem: DataFrame,
                  orders: DataFrame, customer: DataFrame, nation: DataFrame,
                  region: DataFrame, targetNation: String, regionName: String,
                  pType: String): DataFrame = {
    val supp = supplier.join(broadcast(nation),
      col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val regNations = nation.join(broadcast(region.filter(col("r_name") === regionName)),
      col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = customer.join(broadcast(regNations),
      col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ord = orders
      .filter(col("o_orderdate").between(lit("1996-01-01").cast("timestamp"),
        lit("1997-12-31").cast("timestamp")))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"))
    val vol = dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))
    lineitem
      .join(broadcast(part.filter(col("p_type") === pType).select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === targetNation, vol).otherwise(lit(0).cast("decimal(18,2)")))
          .cast("double") / sum(vol).cast("double"), 6).as("mkt_share"),
        sum(vol).cast("double").as("total_volume"),
        count(lit(1)).as("n_items"))
      .orderBy("o_year")
  }

  def marketShareSql(targetNation: String, regionName: String, pType: String): String =
    s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       |       round(CAST(sum(CASE WHEN n1.n_name = '$targetNation'
       |                 THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
       |                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
       |             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS mkt_share,
       |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_volume,
       |       count(*) AS n_items
       |FROM part JOIN lineitem ON p_partkey = l_partkey
       |  JOIN supplier ON s_suppkey = l_suppkey
       |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN customer ON c_custkey = o_custkey
       |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |  JOIN region ON n2.n_regionkey = r_regionkey
       |WHERE r_name = '$regionName' AND p_type = '$pType'
       |  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q13-style customer order-count distribution. The left outer
    * join keeps order-less customers (c_count = 0); the filter lives in
    * the JOIN condition, not WHERE (a WHERE filter would silently turn
    * the outer join inner). Two cascaded group-bys, each one shuffle of
    * combined partials.
    */
  def orderCountDistribution(customer: DataFrame, orders: DataFrame,
                             excludePriority: String): DataFrame = {
    val perCust = customer.join(
      orders.filter(col("o_orderpriority") =!= excludePriority),
      col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  def orderCountDistributionSql(excludePriority: String): String =
    s"""SELECT c_count, count(*) AS custdist FROM (
       |  SELECT c_custkey, count(o_orderkey) AS c_count
       |  FROM customer LEFT JOIN orders
       |    ON c_custkey = o_custkey AND o_orderpriority <> '$excludePriority'
       |  GROUP BY c_custkey)
       |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q16-style supplier variety: distinct suppliers that have
    * shipped each (brand, type, size) combination, lineitem standing in
    * for the fixture's missing partsupp. The distinct count shuffles the
    * (brand,type,size,suppkey) projection once — Spark expands
    * count_distinct into a two-phase partial-distinct aggregate, the
    * scalable plan.
    */
  def supplierVariety(part: DataFrame, lineitem: DataFrame,
                      excludeBrand: String, sizes: Seq[Int]): DataFrame =
    lineitem
      .join(broadcast(part
        .filter(col("p_brand") =!= excludeBrand && col("p_size").isin(sizes: _*))
        .select("p_partkey", "p_brand", "p_type", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))

  def supplierVarietySql(excludeBrand: String, sizes: Seq[Int]): String =
    s"""SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
       |FROM part JOIN lineitem ON p_partkey = l_partkey
       |WHERE p_brand <> '$excludeBrand' AND p_size IN (${sizes.mkString(", ")})
       |GROUP BY p_brand, p_type, p_size
       |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** TPC-H Q19-style disjunctive revenue: an OR-of-ANDs predicate across
    * the joined (part, lineitem) pair. Each disjunct's part-side
    * conditions prune the broadcast build; the lineitem quantity bounds
    * stay in the join filter. The point of the query is the plan: the
    * OR-of-ANDs must not force a cartesian fallback — it stays an
    * equi-join on partkey with a residual disjunctive filter.
    */
  def disjunctiveRevenue(part: DataFrame, lineitem: DataFrame): DataFrame = {
    val p = part.select("p_partkey", "p_brand", "p_size")
    val cond =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) && col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) && col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) && col("l_quantity").between(20, 30))
    lineitem.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val disjunctiveRevenueSql: String =
    """SELECT
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** TPC-H Q22-style idle high-balance customers: above the positive-
    * balance average, with no orders since the cutoff, grouped by nation
    * (the fixture has no phone column for the original's country-code
    * grouping). The average is a scalar probe (one partial-agg reduce to
    * the driver — same shape as Watermark.latestPosition); the "no
    * orders" test is a LEFT ANTI join, which at scale shuffles only the
    * distinct custkeys of the filtered orders, never the order rows.
    */
  def idleRichCustomers(customer: DataFrame, orders: DataFrame, nation: DataFrame,
                        cutoff: String): DataFrame = {
    // "above average" as the division-free exact form bal·n > Σbal: both
    // sides are DECIMAL (order-independent partials), so the cut is
    // identical in both engines — an avg() threshold would compare
    // against Spark's decimal quotient but DuckDB's double, and a
    // boundary customer could flip. Scalar probe = one reduce, like
    // Watermark.latestPosition.
    val r = customer.filter(col("c_acctbal") > 0)
      .agg(sum(dec(col("c_acctbal"))).as("s"), count(lit(1)).as("c"))
      .collect()(0)
    val (balSum, balCnt) = (r.getDecimal(0), r.getLong(1))
    val recent = orders.filter(col("o_orderdate") >= lit(cutoff).cast("timestamp"))
      .select(col("o_custkey"))
    customer
      .filter(dec(col("c_acctbal")) * lit(balCnt) > lit(balSum))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"),
        sum(dec(col("c_acctbal"))).cast("double").as("totacctbal"))
      .orderBy("n_name")
  }

  def idleRichCustomersSql(cutoff: String): String =
    s"""SELECT n_name, count(*) AS numcust,
       |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * (SELECT count(*) FROM customer WHERE c_acctbal > 0)
       |      > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer WHERE c_acctbal > 0)
       |  AND NOT EXISTS (SELECT 1 FROM orders
       |                  WHERE o_custkey = c_custkey
       |                    AND o_orderdate >= TIMESTAMP '$cutoff 00:00:00')
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Growth accounting: per day, how many users appear for the FIRST
    * time, plus the running total. First-seen day is one user-keyed
    * partial min (the only event-volume shuffle); everything after runs
    * over |days| rows, so the unpartitioned cumulative window — normally
    * a scale smell — is a few hundred rows by construction. Integral
    * arithmetic throughout.
    */
  def newUsers(events: DataFrame): DataFrame = {
    val firstDay = events.groupBy(col("user_id"))
      .agg(min(expr("unix_micros(date_trunc('DAY', ts)) div 86400000000")).as("day_num"))
    firstDay.groupBy(col("day_num"))
      .agg(count(lit(1)).as("n_new_users"))
      .withColumn("cum_users", sum(col("n_new_users")).over(
        Window.orderBy(col("day_num")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(timestamp_micros(col("day_num") * lit(86400000000L)).as("day"),
        col("n_new_users"), col("cum_users"))
      .orderBy("day")
  }

  val newUsersSql: String =
    """WITH first_day AS (
      |  SELECT user_id,
      |         min(CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400) AS day_num
      |  FROM events GROUP BY 1),
      |daily AS (SELECT day_num, count(*) AS n_new_users FROM first_day GROUP BY 1)
      |SELECT epoch_ms(day_num * 86400000) AS day, n_new_users,
      |       CAST(sum(n_new_users) OVER (ORDER BY day_num
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      |FROM daily ORDER BY day""".stripMargin

  /** Per-type 3σ outlier rates — the metric-anomaly scan over an event
    * stream. Moments come from one partial-combined aggregate with
    * DECIMAL sums (Σv, Σv² exact and shuffle-order-independent, then one
    * cast to double); the outlier test is the division-free form
    * (n·x − Σv)² > 9·(n·Σv² − Σv²), pure double arithmetic over exact
    * operands written identically in both engines — no mean/stddev
    * quotient whose rounding could flip a boundary row (stddev_samp
    * would be order-dependent on doubles). The 4-row stats frame
    * broadcasts back onto the stream; second aggregate is partial too.
    */
  def zscoreOutliers(events: DataFrame): DataFrame = {
    // n counts NON-NULL values (count(value), not count(*)): the moments
    // exclude nulls, so a count(*) n would mis-center the test and
    // inflate the rate denominator on feeds with null measurements
    val stats = events.groupBy(col("event_type"))
      .agg(count(col("value")).as("n"),
        sum(dec(col("value"))).cast("double").as("s1"),
        sum(dec(col("value")) * dec(col("value"))).cast("double").as("s2"))
    val lhs = (col("n") * col("value") - col("s1")) * (col("n") * col("value") - col("s1"))
    val rhs = lit(9.0) * (col("n") * col("s2") - col("s1") * col("s1"))
    events.select(col("event_type"), col("value"))
      .join(broadcast(stats), "event_type")
      .groupBy(col("event_type"), col("n"))
      .agg(sum(when(lhs > rhs, 1L).otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n").as("n_events"), col("n_outliers"),
        // explicit NULL when every value was NULL (n = 0): Spark's Divide
        // nulls on /0 but DuckDB's IEEE doubles yield inf/nan — guard both
        when(col("n") > 0,
          round(col("n_outliers").cast("double") / col("n"), 6)).as("outlier_rate"))
      .orderBy("event_type")
  }

  val zscoreOutliersSql: String =
    """WITH stats AS (
      |  SELECT event_type, count(value) AS n,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
      |         CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
      |  FROM events GROUP BY 1)
      |SELECT e.event_type, s.n AS n_events,
      |       CAST(sum(CASE WHEN (s.n * e.value - s.s1) * (s.n * e.value - s.s1)
      |                          > 9.0 * (s.n * s.s2 - s.s1 * s.s1)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |       round(CAST(sum(CASE WHEN (s.n * e.value - s.s1) * (s.n * e.value - s.s1)
      |                                > 9.0 * (s.n * s.s2 - s.s1 * s.s1)
      |                           THEN 1 ELSE 0 END) AS DOUBLE) / nullif(s.n, 0), 6) AS outlier_rate
      |FROM events e JOIN stats s ON e.event_type = s.event_type
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** TPC-H Q2-style minimum-cost supplier: for each filtered part, the
    * region-local supplier(s) whose best observed line price is the
    * part's minimum (lineitem prices stand in for the fixture's missing
    * partsupp.supplycost). The original's correlated MIN subquery is
    * decorrelated into a per-(part, supplier) aggregate plus a per-part
    * re-aggregate joined back — each a partial-combined hash agg, no
    * window. The per-part minimum frame is |parts| rows (broadcast); the
    * dimension chain (part filter, region-gated suppliers) broadcasts
    * before touching lineitem, which is scanned once and never re-enters
    * a shuffle wider than the (part, supplier) distinct pairs. All price
    * compares are DECIMAL — exact, order-independent, so the `cost ===
    * best` equality join cannot flip on a double ulp.
    */
  def minCostSupplier(part: DataFrame, supplier: DataFrame, lineitem: DataFrame,
                      nation: DataFrame, region: DataFrame,
                      pType: String, sizes: Seq[Int], regionName: String): DataFrame = {
    val pF = part.filter(col("p_type") === pType && col("p_size").isin(sizes: _*))
      .select("p_partkey", "p_name")
    val supp = supplier
      .join(broadcast(nation.join(broadcast(region.filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    // persist: pairs feeds both the per-part best aggregate and the
    // final equality join — uncached the lineitem scan+join+agg would
    // run twice (|part x supplier| rows; caller evicts via Caches)
    val pairs = Caches.tracked(lineitem
      .join(broadcast(pF), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp.select("s_suppkey")), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("l_suppkey"))
      .agg(min(dec(col("l_extendedprice"))).as("cost"))
      .persist())
    val best = pairs.groupBy(col("p_partkey").as("bp"))
      .agg(min(col("cost")).as("best"))
    pairs
      .join(broadcast(best), col("p_partkey") === col("bp") && col("cost") === col("best"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("cost").cast("double").as("min_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  def minCostSupplierSql(pType: String, sizes: Seq[Int], regionName: String): String =
    s"""WITH supp AS (
       |  SELECT s_suppkey, s_name, s_acctbal, n_name
       |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
       |                JOIN region ON n_regionkey = r_regionkey
       |  WHERE r_name = '$regionName'),
       |pairs AS (
       |  SELECT p_partkey, p_name, l_suppkey,
       |         min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |                JOIN supp ON l_suppkey = s_suppkey
       |  WHERE p_type = '$pType' AND p_size IN (${sizes.mkString(", ")})
       |  GROUP BY 1, 2, 3),
       |best AS (SELECT p_partkey AS bp, min(cost) AS best FROM pairs GROUP BY 1)
       |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       |       CAST(cost AS DOUBLE) AS min_cost
       |FROM pairs JOIN best ON p_partkey = bp AND cost = best
       |           JOIN supp ON l_suppkey = s_suppkey
       |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
       |LIMIT 100""".stripMargin

  /** TPC-H Q9-style product-line profit by supplier nation and year.
    * p_retailprice·quantity·0.9 stands in for the missing
    * partsupp.supplycost·quantity term. The five-way join keeps the two
    * facts (lineitem ⋈ orders) as the single real shuffle on orderkey;
    * part/supplier/nation broadcast. Profit terms stay DECIMAL through
    * the aggregation.
    */
  def productProfit(part: DataFrame, supplier: DataFrame, lineitem: DataFrame,
                    orders: DataFrame, nation: DataFrame, namePattern: String): DataFrame = {
    val pF = part.filter(col("p_name").contains(namePattern))
      .select("p_partkey", "p_retailprice")
    val amount =
      dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))) -
        dec(col("p_retailprice")) * dec(col("l_quantity")) * lit(0.9).cast("decimal(18,2)")
    lineitem
      .join(broadcast(pF), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(orders.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(amount).cast("double").as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  def productProfitSql(namePattern: String): String =
    s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
       |                - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) * CAST(0.9 AS DECIMAL(18,2))) AS DOUBLE) AS profit
       |FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |WHERE p_name LIKE '%$namePattern%'
       |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin

  /** TPC-H Q11-style important-part concentration: parts whose lineitem
    * value exceeds `numer`/`denom` of the AVERAGE part value (the
    * original's fixed global fraction would be scale-dependent — at 10×
    * the parts the threshold empties). One partial-combined aggregate
    * keyed by part; total and part count are one scalar probe (driver
    * reduce). The threshold is the division-free exact form
    * value·nParts·denom > total·numer, DECIMAL both sides — same device
    * as Q22's average (a double quotient could flip a boundary part
    * between engines).
    */
  def importantParts(lineitem: DataFrame, numer: Int, denom: Int): DataFrame = {
    // persist: the scalar probe's collect() is its own action — without
    // the cache the full lineitem scan+shuffle would run twice (once for
    // the probe, again in the consumer's job). |parts| rows, tiny.
    // Caller owns eviction (clearCache between corpora, as Bench/Verify do).
    val byPart = Caches.tracked(lineitem.groupBy(col("l_partkey"))
      .agg(sum(dec(col("l_extendedprice"))).as("value"))
      .persist())
    val r = byPart.agg(sum(col("value")), count(lit(1))).collect()(0)
    val (total, nParts) = (r.getDecimal(0), r.getLong(1))
    byPart
      .filter(col("value") * lit(nParts) * lit(denom) > lit(total) * lit(numer))
      .select(col("l_partkey").as("p_partkey"), col("value").cast("double").as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  def importantPartsSql(numer: Int, denom: Int): String =
    s"""WITH by_part AS (
       |  SELECT l_partkey AS p_partkey,
       |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
       |  FROM lineitem GROUP BY 1)
       |SELECT p_partkey, CAST(value AS DOUBLE) AS value
       |FROM by_part
       |WHERE value * (SELECT count(*) FROM by_part) * $denom
       |      > (SELECT sum(value) FROM by_part) * $numer
       |ORDER BY value DESC, p_partkey""".stripMargin

  /** TPC-H Q12-style late-shipment audit: lines shipped more than
    * `lateDays` after their order date, split into high/low priority
    * counts per return flag (the fixture has no shipmode/commitdate).
    * The lateness test is integral epoch-microsecond arithmetic — no
    * interval or double date math to diverge between engines. One
    * orderkey shuffle joins the two facts; the conditional counts are a
    * single partial-combined aggregate.
    */
  def lateShipments(orders: DataFrame, lineitem: DataFrame, lateDays: Int): DataFrame = {
    val lateMicros = lateDays.toLong * 86400L * 1000000L
    lineitem.select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(unix_micros(col("l_shipdate").cast("timestamp")) -
        unix_micros(col("o_orderdate").cast("timestamp")) > lateMicros)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("low_line_count"))
      .orderBy("l_returnflag")
  }

  def lateShipmentsSql(lateDays: Int): String = {
    val lateMicros = lateDays.toLong * 86400L * 1000000L
    s"""SELECT l_returnflag,
       |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE epoch_us(l_shipdate) - epoch_us(o_orderdate) > $lateMicros
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** TPC-H Q15-style top supplier over a shipdate quarter: per-supplier
    * revenue, keep the supplier(s) hitting the global maximum. The
    * original's view + scalar MAX subquery becomes one supplier-keyed
    * aggregate plus a driver-side scalar probe; the equality filter is
    * DECIMAL-exact so revenue ties surface identically in both engines.
    */
  def topSupplier(supplier: DataFrame, lineitem: DataFrame,
                  from: String, until: String): DataFrame = {
    val revs = lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))).as("rev"))
      // persist: same scalar-probe-then-reuse shape as importantParts —
      // the max() collect and the equality filter must not each rescan
      // lineitem. |suppliers| rows; caller evicts via Caches.
      .persist()
    Caches.tracked(revs)
    val maxRev = revs.agg(max(col("rev"))).collect()(0).getDecimal(0)
    revs.filter(col("rev") === lit(maxRev))
      .join(broadcast(supplier.select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("rev").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  def topSupplierSql(from: String, until: String): String =
    s"""WITH revs AS (
       |  SELECT l_suppkey,
       |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '$from 00:00:00'
       |    AND l_shipdate < TIMESTAMP '$until 00:00:00'
       |  GROUP BY 1)
       |SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
       |FROM revs JOIN supplier ON l_suppkey = s_suppkey
       |WHERE rev = (SELECT max(rev) FROM revs)
       |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q17-style small-quantity revenue: brand lines whose quantity
    * sits below 0.2× the part's average quantity. The correlated AVG is
    * decorrelated into a per-part (sum, count) aggregate joined back,
    * and the 0.2·avg comparison is the division-free exact form
    * 5·qty·cnt < sum — DECIMAL·BIGINT on the left, DECIMAL sum on the
    * right, so the boundary line can't flip on quotient rounding. The
    * per-part stats frame is |brand parts| rows → broadcast.
    */
  def smallQuantityRevenue(part: DataFrame, lineitem: DataFrame, brand: String): DataFrame = {
    val pF = part.filter(col("p_brand") === brand).select("p_partkey")
    // persist: li feeds the per-part stats AND the final filter scan —
    // brand-filtered lineitem, a small fraction of the fact table
    val li = Caches.tracked(
      lineitem.join(broadcast(pF), col("l_partkey") === col("p_partkey")).persist())
    val stats = li.groupBy(col("p_partkey").as("sp"))
      .agg(sum(dec(col("l_quantity"))).as("qsum"), count(lit(1)).as("qcnt"))
    li.join(broadcast(stats), col("p_partkey") === col("sp"))
      .filter(dec(col("l_quantity")) * lit(5) * col("qcnt") < col("qsum"))
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("small_qty_revenue"),
        count(lit(1)).as("n_lines"))
  }

  def smallQuantityRevenueSql(brand: String): String =
    s"""WITH li AS (
       |  SELECT l_partkey, l_quantity, l_extendedprice
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE p_brand = '$brand'),
       |stats AS (
       |  SELECT l_partkey AS sp, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qsum,
       |         count(*) AS qcnt
       |  FROM li GROUP BY 1)
       |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue,
       |       count(*) AS n_lines
       |FROM li JOIN stats ON l_partkey = sp
       |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * qcnt < qsum""".stripMargin

  /** TPC-H Q20-style dominant suppliers: suppliers of a part-name family
    * who shipped more than `numer`/`denom` of a part's total volume, in
    * one nation. The original's nested IN chain (partsupp → lineitem
    * half-sum) becomes per-(part, supplier) and per-part aggregates with
    * a division-free DECIMAL share test qty·denom > total·numer, then a
    * distinct-supplier semi-join. Dimension sides broadcast; the only
    * wide shuffle carries (part, supplier) pairs.
    */
  def dominantSuppliers(part: DataFrame, supplier: DataFrame, lineitem: DataFrame,
                        nation: DataFrame, namePrefix: String, numer: Int, denom: Int,
                        nationName: String): DataFrame = {
    val pF = part.filter(col("p_name").startsWith(namePrefix)).select("p_partkey")
    // persist: pairs feeds both the per-part totals and the dominance
    // filter (same double-consumption shape as minCostSupplier)
    val pairs = Caches.tracked(lineitem.join(broadcast(pF), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("l_suppkey"))
      .agg(sum(dec(col("l_quantity"))).as("qty"))
      .persist())
    val totals = pairs.groupBy(col("p_partkey").as("tp"))
      .agg(sum(col("qty")).as("total"))
    val dominant = pairs
      .join(broadcast(totals), col("p_partkey") === col("tp"))
      .filter(col("qty") * lit(denom) > col("total") * lit(numer))
      .select(col("l_suppkey")).distinct()
    supplier
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(nation.filter(col("n_name") === nationName)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("s_acctbal"))
      .orderBy("s_name")
  }

  def dominantSuppliersSql(namePrefix: String, numer: Int, denom: Int,
                           nationName: String): String =
    s"""WITH pairs AS (
       |  SELECT p_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE p_name LIKE '$namePrefix%'
       |  GROUP BY 1, 2),
       |totals AS (SELECT p_partkey AS tp, sum(qty) AS total FROM pairs GROUP BY 1),
       |dominant AS (
       |  SELECT DISTINCT l_suppkey FROM pairs JOIN totals ON p_partkey = tp
       |  WHERE qty * $denom > total * $numer)
       |SELECT s_name, s_acctbal
       |FROM supplier JOIN nation ON s_nationkey = n_nationkey
       |WHERE n_name = '$nationName'
       |  AND s_suppkey IN (SELECT l_suppkey FROM dominant)
       |ORDER BY s_name""".stripMargin

  /** TPC-H Q21-style sole-blame suppliers: on multi-supplier finished
    * orders, the supplier who is the ONLY one with a returned line. The
    * original's EXISTS / NOT EXISTS pair collapses into one order-keyed
    * aggregate — distinct suppliers, distinct returned suppliers, and
    * the blamed supplier via min-over-case (well-defined exactly when
    * the returned-distinct count is 1). The orderkey join and the
    * per-order aggregate share partitioning; the second aggregate keys
    * by supplier (bounded by |suppliers|).
    */
  def soleBlameSuppliers(supplier: DataFrame, lineitem: DataFrame,
                         orders: DataFrame): DataFrame = {
    val perOrder = lineitem
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      .join(orders.filter(col("o_orderstatus") === "F").select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(
        count_distinct(col("l_suppkey")).as("n_supp"),
        count_distinct(when(col("l_returnflag") === "R", col("l_suppkey"))).as("n_ret"),
        min(when(col("l_returnflag") === "R", col("l_suppkey"))).as("blamed"))
      .filter(col("n_supp") > 1 && col("n_ret") === 1)
    perOrder.groupBy(col("blamed"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(supplier.select("s_suppkey", "s_name")),
        col("blamed") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  val soleBlameSuppliersSql: String =
    """WITH per_order AS (
      |  SELECT l_orderkey,
      |         count(DISTINCT l_suppkey) AS n_supp,
      |         count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_ret,
      |         min(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS blamed
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F'
      |  GROUP BY 1)
      |SELECT s_name, count(*) AS numwait
      |FROM per_order JOIN supplier ON blamed = s_suppkey
      |WHERE n_supp > 1 AND n_ret = 1
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin

  /** First-order Markov transition matrix over per-user event paths:
    * P(next event_type | current event_type), estimated from every
    * adjacent pair in each user's timeline.
    *
    * One lag window per user (shuffle on user_id, per-user sort bounded
    * by timeline length — the sessionize shape) feeds a partial-aggregated
    * count per (prev, next); the row-normalizing totals come from a
    * window over the |event_types|² matrix, which is bounded by the type
    * vocabulary, not the corpus. Probability is rounded to 6 dp AFTER the
    * exact integer division operands are fixed, so engines agree.
    */
  def markovTransitions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("event_id"))
    val counts = events
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val byPrev = Window.partitionBy(col("prev_type"))
    counts
      .withColumn("n_prev", sum(col("n")).over(byPrev))
      .select(col("prev_type"), col("next_type"), col("n"),
        round(col("n").cast("double") / col("n_prev"), 6).as("p"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  val markovTransitionsSql: String =
    """WITH pairs AS (
      |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type,
      |         event_type AS next_type
      |  FROM events),
      |c AS (
      |  SELECT prev_type, next_type, count(*) AS n
      |  FROM pairs WHERE prev_type IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT prev_type, next_type, n,
      |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6) AS p
      |FROM c ORDER BY prev_type, next_type""".stripMargin

  /** Frequent ordered event-type pairs per user — depth-2 sequential
    * pattern mining ("a occurs, then b occurs LATER, not necessarily
    * adjacently"), the non-adjacent companion to [[markovTransitions]]
    * (which counts only consecutive steps).
    *
    * The trick that keeps this one-pass: "user u supports a→b" ⇔
    * min event_id of a < max event_id of b within u — so the raw scan
    * partial-aggregates straight to (user, type, first_id, last_id),
    * ≤ |users|·|alphabet| rows, with NO per-user window/sort. Sequence
    * order is event_id (the arrival order [[markovTransitions]] uses).
    * The alphabet-bounded per-user frame self-joins on user_id (one
    * exchange) fanning ≤ |alphabet|² per user; support/confidence are
    * integer ppm via the DIV device.
    */
  def sequenceSupport(events: DataFrame): DataFrame = {
    val perUser = events
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_id"),
        max(col("event_id")).as("last_id"))
    val p = Caches.tracked(perUser.persist())
    val totalUsers = p.agg(
      countDistinct(col("user_id")).cast("long").as("n_users_total"))
    val perType = p.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_users_t"))
    val a = p.select(col("user_id"), col("event_type").as("antecedent"),
      col("first_id"))
    val b = p.select(col("user_id"), col("event_type").as("consequent"),
      col("last_id"))
    a.join(b, "user_id")
      .filter(col("antecedent") =!= col("consequent") &&
        col("first_id") < col("last_id"))
      .groupBy(col("antecedent"), col("consequent"))
      .agg(count(lit(1)).cast("long").as("n_users_ab"))
      .join(broadcast(perType.withColumnRenamed("event_type", "antecedent")
        .withColumnRenamed("n_users_t", "n_users_a")), "antecedent")
      .join(broadcast(perType.withColumnRenamed("event_type", "consequent")
        .withColumnRenamed("n_users_t", "n_users_b")), "consequent")
      .crossJoin(broadcast(totalUsers))
      .select(col("antecedent"), col("consequent"), col("n_users_ab"),
        col("n_users_a"), col("n_users_b"),
        expr("CAST((1000000 * n_users_ab) DIV n_users_total AS BIGINT)")
          .as("support_ppm"),
        expr("CAST((1000000 * n_users_ab) DIV n_users_a AS BIGINT)")
          .as("confidence_ppm"))
      .orderBy(col("n_users_ab").desc, col("antecedent"), col("consequent"))
  }

  val sequenceSupportSql: String =
    """WITH per_user AS (
      |  SELECT user_id, event_type,
      |         min(event_id) AS first_id, max(event_id) AS last_id
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT count(DISTINCT user_id) AS n_users_total FROM per_user),
      |per_type AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_users_t
      |  FROM per_user GROUP BY 1),
      |ab AS (
      |  SELECT a.event_type AS antecedent, b.event_type AS consequent,
      |         CAST(count(*) AS BIGINT) AS n_users_ab
      |  FROM per_user a JOIN per_user b ON a.user_id = b.user_id
      |  WHERE a.event_type <> b.event_type AND a.first_id < b.last_id
      |  GROUP BY 1, 2)
      |SELECT ab.antecedent, ab.consequent, ab.n_users_ab,
      |       ta.n_users_t AS n_users_a, tb.n_users_t AS n_users_b,
      |       CAST((1000000 * ab.n_users_ab) // tot.n_users_total AS BIGINT)
      |         AS support_ppm,
      |       CAST((1000000 * ab.n_users_ab) // ta.n_users_t AS BIGINT)
      |         AS confidence_ppm
      |FROM ab
      |JOIN per_type ta ON ta.event_type = ab.antecedent
      |JOIN per_type tb ON tb.event_type = ab.consequent
      |CROSS JOIN tot
      |ORDER BY ab.n_users_ab DESC, ab.antecedent, ab.consequent""".stripMargin

  /** Stationary distribution of the [[markovTransitions]] chain — the
    * long-run share of time a user's behavior spends in each event type,
    * by fixed-point power iteration in ppm-scaled BIGINT arithmetic (the
    * pagerank device: Spark `DIV` ≡ DuckDB `//` on non-negative
    * operands, so every round is bit-identical and the oracle unrolls
    * rounds as chained CTEs). Scale shape: the transition COUNTING is
    * the data-sized pass (one window shuffle on user_id + one
    * partial-aggregated groupBy); the iteration runs on the
    * |states|²-bounded matrix (states = event-type alphabet, not data),
    * broadcast each round. Truncating DIV leaks ≤1 ppm of mass per
    * round on each engine identically — the published-ppm columns are
    * exact integers, never last-ulp doubles.
    */
  def markovStationary(events: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"rounds must be in [1,16]: $rounds")
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val counts = events
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val p = counts
      .withColumn("n_prev", sum(col("n")).over(Window.partitionBy(col("prev_type"))))
      .select(col("prev_type"), col("next_type"), col("n"),
        expr("CAST((n * 1000000) DIV n_prev AS BIGINT)").as("p_ppm"))
    // the transition matrix is |alphabet|²-bounded (event-type alphabet,
    // NOT data-sized) — collect it and iterate on the driver: a
    // distributed 5-row fixed-point would pay ~4 broadcast+agg jobs per
    // round for zero parallelism (the bounded-probe precedent). All
    // arithmetic stays non-negative BIGINT, so Scala `/` ≡ Spark DIV ≡
    // DuckDB `//` and every round is bit-identical to the oracle's CTEs.
    val mat = p.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val states = mat.map(_._1).distinct.sorted
    var x: Map[String, Long] = states.map(_ -> 1000000L / states.length).toMap
    for (_ <- 1 to rounds)
      x = mat.groupBy(_._2).collect {
        case (next, rows) if states.contains(next) =>
          next -> rows.map { case (prev, _, _, ppm) => x.getOrElse(prev, 0L) * ppm }.sum / 1000000L
      }
    val nOut = mat.groupBy(_._1).map { case (s, rows) => s -> rows.map(_._3).sum }
    val spark = events.sparkSession
    import spark.implicits._
    states.toSeq.map(s => (s, nOut(s), x.getOrElse(s, 0L)))
      .toDF("event_type", "n_out", "stationary_ppm")
      .orderBy(col("event_type"))
  }

  def markovStationarySql(rounds: Int): String = {
    val x0 =
      """x0 AS (
        |  SELECT prev_type AS state,
        |         CAST(1000000 // (SELECT count(DISTINCT prev_type) FROM c) AS BIGINT) AS x
        |  FROM (SELECT DISTINCT prev_type FROM c))""".stripMargin
    val iters = (1 to rounds).map { i =>
      s"""x$i AS (
         |  SELECT p.next_type AS state,
         |         CAST(sum(x.x * p.p_ppm) // 1000000 AS BIGINT) AS x
         |  FROM p JOIN x${i - 1} x ON p.prev_type = x.state GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type,
       |         event_type AS next_type
       |  FROM events),
       |c AS (
       |  SELECT prev_type, next_type, count(*) AS n
       |  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       |p AS (
       |  SELECT prev_type, next_type, n,
       |         CAST((n * 1000000) // (sum(n) OVER (PARTITION BY prev_type)) AS BIGINT) AS p_ppm
       |  FROM c),
       |$x0,
       |$iters,
       |nout AS (SELECT prev_type AS event_type, CAST(sum(n) AS BIGINT) AS n_out FROM c GROUP BY 1)
       |SELECT nout.event_type, nout.n_out, xf.x AS stationary_ppm
       |FROM nout JOIN x$rounds xf ON nout.event_type = xf.state
       |ORDER BY event_type""".stripMargin
  }

  /** Market-basket co-occurrence: the top part pairs bought together in
    * one order. The standard frequent-itemset-of-size-2 mining pass.
    *
    * Scale shape: the self-join keys on l_orderkey, where fan-out per key
    * is bounded by basket width (~7 lineitems/order in TPC-H — NOT data
    * volume), so the quadratic term is width²·|orders|, linear in corpus
    * size; the pair counts partial-aggregate map-side, and the top-N is
    * a TakeOrderedAndProject (per-partition heaps + driver merge of N
    * rows), never a global sort. Ties at the boundary break on the
    * deterministic total order (n_orders DESC, part_a, part_b).
    */
  def basketPairs(lineitem: DataFrame, topN: Int): DataFrame = {
    val items = lineitem.select(col("l_orderkey").as("okey"), col("l_partkey").as("pk")).distinct()
    items.as("a")
      .join(items.as("b"), col("a.okey") === col("b.okey") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("part_a"), col("b.pk").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(topN)
  }

  def basketPairsSql(topN: Int): String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem)
       |SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_orders
       |FROM items a JOIN items b ON a.okey = b.okey AND a.pk < b.pk
       |GROUP BY 1, 2
       |ORDER BY n_orders DESC, part_a, part_b
       |LIMIT $topN""".stripMargin

  /** Directional association rules over order baskets at BRAND
    * granularity (brand → brand support / confidence / lift — part-level
    * pairs are too sparse for meaningful rates): the market-basket
    * readout on top of the [[basketPairs]] co-occurrence shape.
    *
    * Scale shape: baskets reduce to distinct (order, brand) — bounded
    * fan-out per order since |brands| is a small constant — and the
    * pair join shuffles on the order key exactly like basketPairs; the
    * single-brand counts and the order total are partial-agged /
    * broadcast scalars. All three metrics are exact-integer ratios in
    * fixed expression order (bit-identical across engines).
    */
  def associationRules(lineitem: DataFrame, part: DataFrame,
                       minPairOrders: Long, topN: Int): DataFrame = {
    val items = Caches.tracked(lineitem
      .join(part, col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
      .distinct()
      .persist())
    val totals = items.agg(count_distinct(col("okey")).as("n_total"))
    val single = items.groupBy(col("brand")).agg(count(lit(1)).as("n1"))
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.okey") === col("b.okey") && col("a.brand") =!= col("b.brand"))
      .groupBy(col("a.brand").as("antecedent"), col("b.brand").as("consequent"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairOrders)
    pairs
      .join(broadcast(single.select(col("brand").as("antecedent"), col("n1").as("n_a"))),
        "antecedent")
      .join(broadcast(single.select(col("brand").as("consequent"), col("n1").as("n_b"))),
        "consequent")
      .crossJoin(broadcast(totals))
      .select(col("antecedent"), col("consequent"), col("n_ab"), col("n_a"), col("n_b"),
        round(col("n_ab").cast("double") / col("n_total").cast("double"), 6).as("support"),
        round(col("n_ab").cast("double") / col("n_a").cast("double"), 6).as("confidence"),
        round(col("n_ab").cast("double") * col("n_total").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(topN)
  }

  def associationRulesSql(minPairOrders: Long, topN: Int): String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |tot AS (SELECT count(DISTINCT okey) AS n_total FROM items),
       |single AS (SELECT brand, count(*) AS n1 FROM items GROUP BY brand),
       |pairs AS (
       |  SELECT a.brand AS antecedent, b.brand AS consequent, count(*) AS n_ab
       |  FROM items a JOIN items b ON a.okey = b.okey AND a.brand <> b.brand
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $minPairOrders)
       |SELECT p.antecedent, p.consequent, p.n_ab,
       |       sa.n1 AS n_a, sb.n1 AS n_b,
       |       round(CAST(p.n_ab AS DOUBLE) / CAST(t.n_total AS DOUBLE), 6) AS support,
       |       round(CAST(p.n_ab AS DOUBLE) / CAST(sa.n1 AS DOUBLE), 6) AS confidence,
       |       round(CAST(p.n_ab AS DOUBLE) * CAST(t.n_total AS DOUBLE)
       |             / (CAST(sa.n1 AS DOUBLE) * CAST(sb.n1 AS DOUBLE)), 6) AS lift
       |FROM pairs p
       |JOIN single sa ON sa.brand = p.antecedent
       |JOIN single sb ON sb.brand = p.consequent, tot t
       |ORDER BY lift DESC, p.antecedent, p.consequent
       |LIMIT $topN""".stripMargin

  /** Exact equi-depth deciles per event type via ntile — the windowed
    * ranking semantics audit beside the bounded-sketch quantile path
    * ([[graft.ops.Sketches]]): exact deciles need a per-type sort (the
    * declared scale tradeoff; the sketch is the 100 TB path), but tie
    * handling and bucket boundaries are bit-deterministic here because
    * the total order (value, event_id) is unique. Raw min/max per bucket
    * carry untouched doubles — no arithmetic to diverge on.
    */
  def valueDeciles(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    events.select(col("event_type"), col("value"), col("event_id"))
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
      .orderBy("event_type", "decile")
  }

  val valueDecilesSql: String =
    """WITH d AS (
      |  SELECT event_type, value,
      |         ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile
      |  FROM events)
      |SELECT event_type, CAST(decile AS INTEGER) AS decile,
      |       count(*) AS n, min(value) AS lo, max(value) AS hi
      |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Channel alphabet for [[shapleyAttribution]]: bit per non-purchase
    * event type, alphabetical. Schema-bounded (k = 4 ⇒ 16 coalitions,
    * 32 Shapley terms) — the whole game fits in literal tables. */
  val ShapleyChannels: Seq[(String, Int)] =
    Seq("click" -> 1, "error" -> 2, "signup" -> 4, "view" -> 8)

  /** (channel_bit, coalition_without_channel, |S|!·(k−1−|S|)!) rows —
    * Shapley weights scaled by k! = 24 so every term is an integer. */
  val shapleyTerms: Seq[(Int, Int, Long)] = {
    def fact(n: Int): Long = (1 to n).map(_.toLong).product
    for {
      (_, b) <- ShapleyChannels
      s <- 0 to 15 if (s & b) == 0
    } yield (b, s, fact(Integer.bitCount(s)) * fact(3 - Integer.bitCount(s)))
  }

  /** EXACT Shapley-value attribution over pre-conversion touchsets — the
    * cooperative-game answer to "which channel deserves the purchase"
    * that last-touch ([[SparkEntry]]'s `events_attribution`) caricatures.
    * Characteristic function: v(S) = converting users whose PRE-purchase
    * touchset ⊆ S (touches after the first purchase don't claim credit;
    * non-converters contribute nothing to any marginal). With k = 4
    * channels the game is schema-bounded: 16 coalitions, 32 marginal
    * terms, and scaling by k! = 24 makes every Shapley value an exact
    * integer — φ24 satisfies the efficiency axiom Σφ24 = 24·(v(full) −
    * v(∅)) identically. Purchase-FIRST users (no pre-purchase rows)
    * drop out entirely: they would add the same constant to every
    * coalition's v, which cancels in every marginal — zero credit, by
    * the game's own algebra, not by a filter choice.
    *
    * Scale shape: ONE window + user aggregate reduce the corpus to a
    * ≤16-row mask census — the only collect; the subset-sum v(S) and
    * the marginal fold run on the DRIVER in plain Long arithmetic
    * (iteration-altitude rule; plan-contract-pinned to one events
    * scan). The subset test is pure integer bit algebra
    * ((m & (15−S)) = 0), identical in the oracle's SQL rendering.
    */
  def shapleyAttribution(events: DataFrame): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
    val bitCase = ShapleyChannels.map { case (n, b) =>
      s"CASE WHEN event_type = '$n' THEN $b ELSE 0 END" }
      .mkString("greatest(", ", ", ")")
    val masks = events
      .withColumn("fp", min(when(col("event_type") === "purchase",
        expr("unix_micros(ts)"))).over(wUser))
      .filter(col("fp").isNull || expr("unix_micros(ts)") < col("fp"))
      .groupBy(col("user_id"))
      .agg(expr(s"bit_or($bitCase)").as("mask"),
        max(col("fp").isNotNull.cast("long")).as("conv"))
    // the ≤16-row mask census is the ONLY collect; the game itself is
    // schema-bounded and runs on the driver (the iteration-altitude
    // rule — a DataFrame formulation re-derived the corpus lineage once
    // per vS consumer, four full scans for a 16-row frame)
    val census = masks.filter(col("conv") === 1L)
      .groupBy(col("mask")).agg(count(lit(1)).as("nconv"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def v(s: Int): Long =
      census.collect { case (m, n) if (m & (15 - s)) == 0 => n }.sum
    val phi24 = ShapleyChannels.map { case (name, b) =>
      name -> shapleyTerms.collect { case (`b`, s0, w) =>
        w * (v(s0 | b) - v(s0)) }.sum
    }
    val tot = phi24.map(_._2).sum
    val s = events.sparkSession
    import s.implicits._
    phi24.map { case (name, p) =>
      (name, p, tot, if (tot == 0) None else Some(1000000L * p / tot))
    }.toDF("channel", "phi24", "phi24_total", "share_ppm")
      .orderBy("channel")
  }

  def shapleyAttributionSql: String = {
    val termRows = shapleyTerms
      .map { case (b, s, w) => s"($b, $s, $w)" }.mkString(", ")
    val nameRows = ShapleyChannels
      .map { case (n, b) => s"('$n', $b)" }.mkString(", ")
    val bitCase = ShapleyChannels.map { case (n, b) =>
      s"CASE WHEN event_type = '$n' THEN $b ELSE 0 END" }
      .mkString("greatest(", ", ", ")")
    s"""WITH fp AS (
       |  SELECT user_id, min(CASE WHEN event_type = 'purchase'
       |                           THEN epoch_us(ts) END) AS fp
       |  FROM events GROUP BY user_id),
       |pre AS (
       |  SELECT e.user_id, e.event_type, f.fp
       |  FROM events e JOIN fp f ON f.user_id = e.user_id
       |  WHERE f.fp IS NULL OR epoch_us(e.ts) < f.fp),
       |masks AS (
       |  SELECT user_id, bit_or($bitCase) AS mask,
       |         max(CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END) AS conv
       |  FROM pre GROUP BY user_id),
       |cont AS (
       |  SELECT mask, count(*) AS nconv FROM masks WHERE conv = 1 GROUP BY mask),
       |coal AS (SELECT unnest(range(0, 16)) AS S),
       |vs AS (
       |  SELECT c.S, CAST(coalesce(sum(m.nconv), 0) AS BIGINT) AS v
       |  FROM coal c LEFT JOIN cont m ON (m.mask & (15 - c.S)) = 0
       |  GROUP BY c.S),
       |terms(b, S0, w) AS (VALUES $termRows),
       |phi AS (
       |  SELECT t.b, CAST(sum(t.w * (v1.v - v0.v)) AS BIGINT) AS phi24
       |  FROM terms t
       |  JOIN vs v1 ON v1.S = (t.S0 | t.b)
       |  JOIN vs v0 ON v0.S = t.S0
       |  GROUP BY t.b),
       |names(channel, b) AS (VALUES $nameRows),
       |tot AS (SELECT CAST(sum(phi24) AS BIGINT) AS tot FROM phi)
       |SELECT n.channel, p.phi24, tot.tot AS phi24_total,
       |       CASE WHEN tot.tot = 0 THEN NULL
       |            ELSE CAST((1000000 * p.phi24) // tot.tot AS BIGINT) END AS share_ppm
       |FROM phi p JOIN names n ON n.b = p.b, tot
       |ORDER BY n.channel""".stripMargin
  }

  /** Journey-transition extraction shared by [[markovAttribution]] and
    * its oracle: per user, the PRE-first-purchase channel sequence in
    * (ts, event_id) order becomes START→c₁, cᵢ→cᵢ₊₁, c_m→terminal
    * edges (terminal = CONV when the user purchased, else NULL);
    * purchase-first users contribute the bare START→CONV edge. */
  private[graft] def journeyTransitions(events: DataFrame): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
    val wOrd = wUser.orderBy(col("ts"), col("event_id"))
    val base = events
      .withColumn("fp", min(when(col("event_type") === "purchase",
        expr("unix_micros(ts)"))).over(wUser))
    val pre = base
      .filter(col("event_type") =!= "purchase" &&
        (col("fp").isNull || expr("unix_micros(ts)") < col("fp")))
      .withColumn("term", when(col("fp").isNotNull, "CONV").otherwise("NULL"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("nxt", lead(col("event_type"), 1).over(wOrd))
    // chain + START edges from ONE pass over pre (a row emits its chain
    // edge, and the rn=1 row additionally emits the START edge) — the
    // two-consumer formulation scanned events twice
    val chainEdge = struct(col("event_type").as("src"),
      coalesce(col("nxt"), col("term")).as("dst"))
    val startEdge = struct(lit("START").as("src"), col("event_type").as("dst"))
    val chain = pre.select(explode(
        when(col("rn") === 1, array(chainEdge, startEdge))
          .otherwise(array(chainEdge))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val bare = base.groupBy(col("user_id"))
      .agg(max(col("fp").isNotNull.cast("long")).as("conv"),
        sum(when(col("event_type") =!= "purchase" &&
          (col("fp").isNull || expr("unix_micros(ts)") < col("fp")), 1L)
          .otherwise(0L)).as("n_pre"))
      .filter(col("conv") === 1L && col("n_pre") === 0L)
      .select(lit("START").as("src"), lit("CONV").as("dst"))
    chain.unionAll(bare)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
  }

  /** States of the absorbing journey chain, transient first; indices
    * into the Cramer systems below. */
  private val MarkovStates = Seq("START", "click", "error", "signup", "view")

  /** Signed permutation expansion of det(M) for a BigInt matrix. */
  private def detBig(m: Seq[Seq[BigInt]]): BigInt = {
    val n = m.length
    def perms(xs: List[Int]): Seq[(List[Int], Int)] = xs match {
      case Nil => Seq((Nil, 1))
      case _ => for {
        (x, i) <- xs.zipWithIndex
        (rest, s) <- perms(xs.patch(i, Nil, 1))
      } yield (x :: rest, if (i % 2 == 0) s else -s)
    }
    perms((0 until n).toList).map { case (p, s) =>
      BigInt(s) * p.zipWithIndex.map { case (cIdx, r) => m(r)(cIdx) }.product
    }.sum
  }

  /** Markov removal-effect attribution — the data-driven companion to
    * [[shapleyAttribution]]: model journeys as an absorbing first-order
    * chain (START + 4 channel states, CONV/NULL absorbing) and credit
    * each channel by how much the START→CONV absorption probability
    * drops when transitions INTO that channel are redirected to NULL
    * (the standard removal effect). Because the redirect leaves every
    * remaining row's counts and denominator untouched, each variant
    * system is a PRINCIPAL MINOR of the full one.
    *
    * EXACT, no iteration: row-scaling by n_s makes (n_s·I − C) an
    * integer M-matrix, so absorption solves by Cramer's rule — integer
    * determinants the driver evaluates in BigInt (the alphabet-bounded
    * transition census is the only collect) and the oracle evaluates as
    * the SAME generated permutation expansion in HUGEINT: 120 terms for
    * the full 5×5, 24 per 4×4 variant, bit-identical by construction.
    * det > 0 whenever every state reaches absorption (guarded: a
    * degenerate matrix yields NULL rows, loudly).
    *
    * Scale shape: one windowed pass extracts transitions, the census is
    * ≤ |alphabet|² rows, everything after is driver/literal arithmetic
    * — the iteration-altitude rule with the iteration itself eliminated.
    */
  def markovAttribution(events: DataFrame): DataFrame = {
    val counts = journeyTransitions(events).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // alphabet-drift guard: a transition touching an unknown state would
    // silently vanish from the row sums and skew every probability —
    // fail loudly instead (the fixture-regeneration lesson)
    val known = (MarkovStates ++ Seq("CONV", "NULL")).toSet
    val unknown = counts.keys.flatMap { case (s, d) => Seq(s, d) }
      .filterNot(known).toSet
    require(unknown.isEmpty,
      s"journey states outside the modeled alphabet: ${unknown.mkString(", ")} — " +
        "extend MarkovStates (and the oracle's conditional sums) before trusting removal effects")
    def c(i: Int, j: String): BigInt =
      BigInt(counts.getOrElse((MarkovStates(i), j), 0L))
    val n = MarkovStates.indices.map(i =>
      MarkovStates.map(c(i, _)).sum + c(i, "CONV") + c(i, "NULL"))
    def a(i: Int, j: Int): BigInt =
      (if (i == j) n(i) else BigInt(0)) - c(i, MarkovStates(j))
    def b(i: Int): BigInt = c(i, "CONV")
    def solveStart(idx: Seq[Int]): Option[BigInt] = {
      val den = detBig(idx.map(i => idx.map(j => a(i, j))))
      if (den <= 0) None
      else {
        // replace the START column (position 0 of idx) by b
        val num = detBig(idx.map(i => idx.indices.map(p =>
          if (p == 0) b(i) else a(i, idx(p)))))
        Some(BigInt(1000000) * num / den)
      }
    }
    val pFull = solveStart(MarkovStates.indices)
    val rows = (1 until MarkovStates.size).map { k =>
      val pRm = solveStart(MarkovStates.indices.filterNot(_ == k))
      val re = for (f <- pFull; r <- pRm) yield (f - r).max(BigInt(0))
      (MarkovStates(k), pFull, pRm, re)
    }
    val reSum = rows.flatMap(_._4).sum
    val out = rows.map { case (ch, f, r, re) =>
      (ch, f.map(_.toLong), r.map(_.toLong), re.map(_.toLong),
        re.filter(_ => reSum > 0).map(x => (BigInt(1000000) * x / reSum).toLong))
    }
    val s = events.sparkSession
    import s.implicits._
    out.toDF("channel", "p_full_ppm", "p_removed_ppm",
        "removal_effect_ppm", "share_ppm")
      .orderBy("channel")
  }

  /** Oracle mirror of [[markovAttribution]]: the same transition CTE,
    * matrix entries as conditional sums, and the SAME permutation-
    * expansion determinants generated over HUGEINT entries. */
  def markovAttributionSql: String = {
    // signed permutations of a k-element index list, generated once here
    def perms(xs: List[Int]): Seq[(List[Int], Int)] = xs match {
      case Nil => Seq((Nil, 1))
      case _ => for {
        (x, i) <- xs.zipWithIndex
        (rest, s) <- perms(xs.patch(i, Nil, 1))
      } yield (x :: rest, if (i % 2 == 0) s else -s)
    }
    def detSql(idx: Seq[Int], numerator: Boolean): String =
      perms(idx.indices.toList).map { case (p, s) =>
        val prod = p.zipWithIndex.map { case (cPos, rPos) =>
          val i = idx(rPos)
          if (numerator && cPos == 0) s"b_$i" else s"a_${i}_${idx(cPos)}"
        }.mkString(" * ")
        (if (s > 0) "+ " else "- ") + prod
      }.mkString(" ")
    val st = MarkovStates
    val cSums = (for {
      i <- st.indices; j <- st ++ Seq("CONV", "NULL")
    } yield
      s"CAST(sum(CASE WHEN src = '${st(i)}' AND dst = '$j' THEN c ELSE 0 END) AS HUGEINT) AS c_${i}_$j"
      ).mkString(",\n    ")
    val nDefs = st.indices.map(i =>
      s"(${(st.indices.map(j => s"c_${i}_$j") ++ Seq(s"c_${i}_CONV", s"c_${i}_NULL")).mkString(" + ")}) AS n_$i")
      .mkString(",\n    ")
    val aDefs = (for { i <- st.indices; j <- st.indices } yield
      if (i == j) s"n_$i - c_${i}_$j AS a_${i}_$j"
      else s"0 - c_${i}_$j AS a_${i}_$j").mkString(",\n    ")
    val bDefs = st.indices.map(i => s"c_${i}_CONV AS b_$i").mkString(", ")
    // rename c_i_<state> to positional c_i_j for the a-stage
    val cPos = (for { i <- st.indices; j <- st.indices } yield
      s"c_${i}_${st(j)} AS c_${i}_$j").mkString(",\n    ")
    val full = st.indices
    val variants = (1 until st.size).map(k => k -> full.filterNot(_ == k))
    val detCols =
      (s"(${detSql(full, numerator = false)}) AS den_full" +:
        s"(${detSql(full, numerator = true)}) AS num_full" +:
        variants.flatMap { case (k, idx) => Seq(
          s"(${detSql(idx, numerator = false)}) AS den_$k",
          s"(${detSql(idx, numerator = true)}) AS num_$k") })
        .mkString(",\n    ")
    val reDefs = variants.map { case (k, _) =>
      s"""CASE WHEN den_full > 0 AND den_$k > 0
         | THEN greatest(CAST(0 AS HUGEINT),
         |   (1000000 * num_full) // den_full - (1000000 * num_$k) // den_$k)
         | END AS re_$k""".stripMargin.replace("\n", " ")
    }.mkString(",\n    ")
    val chRows = variants.map { case (k, _) =>
      s"""SELECT '${st(k)}' AS channel,
         | CASE WHEN den_full > 0 THEN CAST((1000000 * num_full) // den_full AS BIGINT) END AS p_full_ppm,
         | CASE WHEN den_$k > 0 THEN CAST((1000000 * num_$k) // den_$k AS BIGINT) END AS p_removed_ppm,
         | CAST(re_$k AS BIGINT) AS removal_effect_ppm,
         | CASE WHEN re_sum > 0 THEN CAST((1000000 * re_$k) // re_sum AS BIGINT) END AS share_ppm
         |FROM f""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH fp AS (
       |  SELECT user_id, min(CASE WHEN event_type = 'purchase'
       |                           THEN epoch_us(ts) END) AS fp
       |  FROM events GROUP BY user_id),
       |pre AS (
       |  SELECT e.user_id, e.event_type, e.ts, e.event_id,
       |         CASE WHEN f.fp IS NOT NULL THEN 'CONV' ELSE 'NULL' END AS term,
       |         row_number() OVER w AS rn,
       |         lead(e.event_type, 1) OVER w AS nxt
       |  FROM events e JOIN fp f ON f.user_id = e.user_id
       |  WHERE e.event_type <> 'purchase'
       |    AND (f.fp IS NULL OR epoch_us(e.ts) < f.fp)
       |  WINDOW w AS (PARTITION BY e.user_id ORDER BY e.ts, e.event_id)),
       |edges AS (
       |  SELECT event_type AS src, coalesce(nxt, term) AS dst FROM pre
       |  UNION ALL
       |  SELECT 'START', event_type FROM pre WHERE rn = 1
       |  UNION ALL
       |  SELECT 'START', 'CONV'
       |  FROM fp f LEFT JOIN (SELECT DISTINCT user_id FROM pre) p
       |    ON p.user_id = f.user_id
       |  WHERE f.fp IS NOT NULL AND p.user_id IS NULL),
       |tr AS (SELECT src, dst, count(*) AS c FROM edges GROUP BY 1, 2),
       |m AS (
       |  SELECT
       |    $cSums
       |  FROM tr),
       |m2 AS (
       |  SELECT *,
       |    $cPos
       |  FROM m),
       |m3 AS (
       |  SELECT *,
       |    $nDefs
       |  FROM m2),
       |av AS (
       |  SELECT
       |    $aDefs,
       |    $bDefs
       |  FROM m3),
       |dets AS (
       |  SELECT
       |    $detCols
       |  FROM av),
       |f0 AS (
       |  SELECT *,
       |    $reDefs
       |  FROM dets),
       |f AS (
       |  SELECT *, (coalesce(re_1, 0) + coalesce(re_2, 0)
       |             + coalesce(re_3, 0) + coalesce(re_4, 0)) AS re_sum FROM f0)
       |SELECT * FROM (
       |  $chRows)
       |ORDER BY channel""".stripMargin
  }

  /** Cumulative-gains table of activity as a conversion score — the
    * model-free labeling-QA read: rank users by event count (the
    * cheapest "propensity score"), cut into exact deciles, and report
    * what share of all converters the top k deciles capture plus the
    * per-decile lift over base rate. A gains curve hugging the diagonal
    * says the cheap score carries no signal and the labeling pipeline
    * needs real features; a steep head says top-decile targeting works.
    *
    * Exact arithmetic: score and label are integers; deciles are
    * ntile(10) over the deterministic (score DESC, user_id) total order;
    * gains/lift are truncating ratios with products in DECIMAL(38,0)
    * (HUGEINT in the oracle) so the shape survives billion-user counts.
    *
    * Scale shape: one user-level aggregate, then deciles via the
    * [[Ranks]] two-pass device (range split + within-partition ordinal
    * + broadcast offsets — no single-task ranking window over the
    * |users| frame); the cumulative window runs over 10 decile rows.
    */
  def gainsCurve(events: DataFrame): DataFrame = {
    val users = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("score"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("pos"))
    val deciles = Ranks.overGlobalOrder(users,
        Seq(col("score").desc, col("user_id").asc), ntileCol = Some((10, "decile")))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("pos")).as("n_pos"),
        min(col("score")).as("score_lo"), max(col("score")).as("score_hi"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    deciles
      .withColumn("cum_users", sum(col("n_users")).over(wCum))
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .withColumn("tot_users", sum(col("n_users")).over(wAll))
      .withColumn("tot_pos", sum(col("n_pos")).over(wAll))
      .select(col("decile"), col("n_users"), col("n_pos"),
        col("score_lo"), col("score_hi"), col("cum_pos"),
        expr("""CASE WHEN tot_pos = 0 THEN NULL
               |     ELSE CAST((1000000 * cum_pos) DIV tot_pos AS BIGINT) END"""
          .stripMargin).as("gains_ppm"),
        expr("""CASE WHEN cum_users = 0 OR tot_pos = 0 THEN NULL
               |     ELSE CAST((CAST(1000 AS DECIMAL(38,0)) * cum_pos * tot_users)
               |               DIV (CAST(cum_users AS DECIMAL(38,0)) * tot_pos)
               |               AS BIGINT) END""".stripMargin).as("lift_milli"))
      .orderBy("decile")
  }

  val gainsCurveSql: String =
    """WITH users AS (
      |  SELECT user_id, count(*) AS score,
      |         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS pos
      |  FROM events GROUP BY user_id),
      |dec AS (
      |  SELECT CAST(ntile(10) OVER (ORDER BY score DESC, user_id) AS BIGINT) AS decile,
      |         score, pos
      |  FROM users),
      |g AS (
      |  SELECT decile, count(*) AS n_users, CAST(sum(pos) AS BIGINT) AS n_pos,
      |         min(score) AS score_lo, max(score) AS score_hi
      |  FROM dec GROUP BY decile),
      |c AS (
      |  SELECT *,
      |         CAST(sum(n_users) OVER w AS BIGINT) AS cum_users,
      |         CAST(sum(n_pos) OVER w AS BIGINT) AS cum_pos,
      |         CAST(sum(n_users) OVER () AS BIGINT) AS tot_users,
      |         CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos
      |  FROM g
      |  WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT decile, n_users, n_pos, score_lo, score_hi, cum_pos,
      |       CASE WHEN tot_pos = 0 THEN NULL
      |            ELSE CAST((1000000 * cum_pos) // tot_pos AS BIGINT) END AS gains_ppm,
      |       CASE WHEN cum_users = 0 OR tot_pos = 0 THEN NULL
      |            ELSE CAST((1000 * CAST(cum_pos AS HUGEINT) * tot_users)
      |                      // (CAST(cum_users AS HUGEINT) * tot_pos) AS BIGINT) END
      |         AS lift_milli
      |FROM c ORDER BY decile""".stripMargin

  /** Qini curve — [[gainsCurve]]'s UPLIFT sibling: rank ALL users by the
    * activity score, and per cumulative decile compare the treated
    * arm's high-value conversions against the control arm's, scaled to
    * the treated exposure: g(k) = convᵗ(k) − convᶜ(k)·nᵗ(k)/nᶜ(k). A
    * fair parity split reads ≈ 0 at every depth (the honest null — the
    * curve exists to catch targeting rules that only LOOK predictive);
    * a real uplift model bows above zero.
    *
    * Exact: integers throughout; the control-scaling term truncates per
    * decile (the DEFINED statistic), and the outcome is the HIGH-VALUE
    * purchase (plain conversion saturates on the fixture — build notes).
    */
  def qiniCurve(events: DataFrame, minValue: Double): DataFrame = {
    val users = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("score"),
        max(when(col("event_type") === "purchase" && col("value") >= minValue,
          1L).otherwise(0L)).as("conv"))
      .withColumn("treat", col("user_id") % 2 === 0)
    val dec = Ranks.overGlobalOrder(users,
        Seq(col("score").desc, col("user_id").asc), ntileCol = Some((10, "decile")))
      .groupBy(col("decile"))
      .agg(sum(when(col("treat"), 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treat"), col("conv")).otherwise(0L)).as("conv_t"),
        sum(when(!col("treat"), 1L).otherwise(0L)).as("n_c"),
        sum(when(!col("treat"), col("conv")).otherwise(0L)).as("conv_c"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec
      .withColumn("cum_n_t", sum(col("n_t")).over(wCum))
      .withColumn("cum_conv_t", sum(col("conv_t")).over(wCum))
      .withColumn("cum_n_c", sum(col("n_c")).over(wCum))
      .withColumn("cum_conv_c", sum(col("conv_c")).over(wCum))
      .select(col("decile"), col("cum_n_t"), col("cum_conv_t"),
        col("cum_n_c"), col("cum_conv_c"),
        expr("""CASE WHEN cum_n_c = 0 THEN NULL
               |     ELSE 1000 * cum_conv_t
               |          - (1000 * cum_conv_c * cum_n_t) DIV cum_n_c END"""
          .stripMargin).as("qini_milli"))
      .orderBy("decile")
  }

  def qiniCurveSql(minValue: Double): String =
    s"""WITH users AS (
       |  SELECT user_id, count(*) AS score,
       |         CAST(max(CASE WHEN event_type = 'purchase' AND value >= $minValue
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS conv,
       |         user_id % 2 = 0 AS treat
       |  FROM events GROUP BY user_id),
       |dec AS (
       |  SELECT CAST(ntile(10) OVER (ORDER BY score DESC, user_id) AS BIGINT) AS decile,
       |         treat, conv
       |  FROM users),
       |g AS (
       |  SELECT decile,
       |         CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
       |         CAST(sum(CASE WHEN treat THEN conv ELSE 0 END) AS BIGINT) AS conv_t,
       |         CAST(sum(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT) AS n_c,
       |         CAST(sum(CASE WHEN treat THEN 0 ELSE conv END) AS BIGINT) AS conv_c
       |  FROM dec GROUP BY decile),
       |c AS (
       |  SELECT decile,
       |         CAST(sum(n_t) OVER w AS BIGINT) AS cum_n_t,
       |         CAST(sum(conv_t) OVER w AS BIGINT) AS cum_conv_t,
       |         CAST(sum(n_c) OVER w AS BIGINT) AS cum_n_c,
       |         CAST(sum(conv_c) OVER w AS BIGINT) AS cum_conv_c
       |  FROM g
       |  WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT decile, cum_n_t, cum_conv_t, cum_n_c, cum_conv_c,
       |       CASE WHEN cum_n_c = 0 THEN NULL
       |            ELSE 1000 * cum_conv_t
       |                 - (1000 * cum_conv_c * cum_n_t) // cum_n_c END AS qini_milli
       |FROM c ORDER BY decile""".stripMargin

  /** Matched-sample Laspeyres / Paasche price indices over the shipment
    * months — the price-vs-volume decomposition an assortment or
    * inflation monitor runs: for each month m vs the base (first)
    * month, Laspeyres reprices the BASE quantity basket at month-m unit
    * prices, Paasche the month-m basket at both prices; only parts
    * traded in BOTH months enter (the matched sample — the standard
    * index-number practice, and the count is reported).
    *
    * Exact arithmetic: per (month, part) the unit price is the DEFINED
    * truncating centi ratio Σextended_centi DIV Σqty (both integer
    * sums); index ratios cross-multiply in DECIMAL(38,0)/HUGEINT ppm.
    * No engine division on doubles anywhere.
    *
    * Scale shape: one partial-agged (month, part) aggregate off the
    * scan, the base-month slice broadcast back against it, and the
    * index folds are month-bounded. Nothing per-lineitem survives the
    * first aggregate.
    */
  def priceIndex(lineitem: DataFrame): DataFrame = {
    // persisted: the (month, part) frame feeds THREE consumers (base-month
    // probe, base slice, index join) — without the pin each would re-run
    // the full lineitem scan+aggregate at corpus scale
    val mp = Caches.tracked(lineitem.select(
      date_trunc("MONTH", col("l_shipdate")).as("mon"),
      col("l_partkey").as("pk"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("ext_c"),
      col("l_quantity").cast("long").as("qty"))
      .groupBy(col("mon"), col("pk"))
      .agg(sum(col("ext_c")).as("sext"), sum(col("qty")).as("sqty"))
      .withColumn("pc", expr("CAST(sext DIV sqty AS BIGINT)"))
      .persist())
    val baseMon = mp.agg(min(col("mon")).as("mon0"))
    val base = mp.join(broadcast(baseMon), col("mon") === col("mon0"))
      .select(col("pk"), col("pc").as("pc0"), col("sqty").as("q0"))
    mp.join(broadcast(base), "pk")
      .groupBy(col("mon"))
      .agg(count(lit(1)).as("n_matched_parts"),
        sum(expr("CAST(pc AS DECIMAL(38,0)) * q0")).as("l_num"),
        sum(expr("CAST(pc0 AS DECIMAL(38,0)) * q0")).as("l_den"),
        sum(expr("CAST(pc AS DECIMAL(38,0)) * sqty")).as("p_num"),
        sum(expr("CAST(pc0 AS DECIMAL(38,0)) * sqty")).as("p_den"))
      .select(col("mon").as("month"), col("n_matched_parts"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * l_num) DIV l_den AS BIGINT)")
          .as("laspeyres_ppm"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * p_num) DIV p_den AS BIGINT)")
          .as("paasche_ppm"))
      .orderBy("month")
  }

  val priceIndexSql: String =
    """WITH mp AS (
      |  SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS mon, l_partkey AS pk,
      |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sext,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sqty
      |  FROM lineitem GROUP BY 1, 2),
      |pc AS (SELECT mon, pk, sext // sqty AS pc, sqty FROM mp),
      |b AS (SELECT min(mon) AS mon0 FROM pc),
      |base AS (
      |  SELECT pk, pc AS pc0, sqty AS q0 FROM pc, b WHERE mon = mon0),
      |idx AS (
      |  SELECT m.mon, count(*) AS n_matched_parts,
      |         sum(CAST(m.pc AS HUGEINT) * base.q0) AS l_num,
      |         sum(CAST(base.pc0 AS HUGEINT) * base.q0) AS l_den,
      |         sum(CAST(m.pc AS HUGEINT) * m.sqty) AS p_num,
      |         sum(CAST(base.pc0 AS HUGEINT) * m.sqty) AS p_den
      |  FROM pc m JOIN base USING (pk)
      |  GROUP BY m.mon)
      |SELECT mon AS month, n_matched_parts,
      |       CAST((1000000 * l_num) // l_den AS BIGINT) AS laspeyres_ppm,
      |       CAST((1000000 * p_num) // p_den AS BIGINT) AS paasche_ppm
      |FROM idx ORDER BY month""".stripMargin

  /** Empirical-Bayes shrinkage of per-brand return rates — the
    * small-sample correction every rate dashboard needs: a brand with
    * 3 returns in 10 lineitems should NOT outrank one with 290 in
    * 1000. Beta-binomial posterior mean with the prior centered on the
    * global rate and a fixed strength of `priorN` pseudo-lineitems:
    * shrunk = (r·10⁶ + priorN·α_ppm)/(n + priorN), with α_ppm the
    * truncated global rate — fixed prior strength instead of
    * method-of-moments keeps every number a DEFINED integer ratio (a
    * moments fit would put engine doubles in the gate).
    *
    * Scale shape: lineitem partial-aggregates per brand after a
    * broadcast part join; the global row folds FROM the brand
    * aggregates (no second scan); output is brand-bounded.
    */
  def returnShrinkage(lineitem: DataFrame, part: DataFrame, priorN: Long): DataFrame = {
    val byBrand = lineitem.join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("returns"))
    val g = byBrand.agg(sum(col("n")).as("gn"), sum(col("returns")).as("gr"))
      .select(expr("CAST((1000000 * gr) DIV gn AS BIGINT)").as("alpha_ppm"))
    byBrand.crossJoin(broadcast(g))
      .select(col("brand"), col("n"), col("returns"), col("alpha_ppm"),
        expr("CAST((1000000 * returns) DIV n AS BIGINT)").as("raw_ppm"),
        expr(s"CAST((1000000 * returns + $priorN * alpha_ppm) DIV (n + $priorN) AS BIGINT)")
          .as("shrunk_ppm"))
      .withColumn("shift_ppm", col("shrunk_ppm") - col("raw_ppm"))
      .orderBy("brand")
  }

  def returnShrinkageSql(priorN: Long): String =
    s"""WITH b AS (
       |  SELECT p_brand AS brand, count(*) AS n,
       |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
       |           AS returns
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY p_brand),
       |g AS (
       |  SELECT CAST((1000000 * sum(returns)) // sum(n) AS BIGINT) AS alpha_ppm
       |  FROM b)
       |SELECT brand, n, returns, g.alpha_ppm,
       |       CAST((1000000 * returns) // n AS BIGINT) AS raw_ppm,
       |       CAST((1000000 * returns + $priorN * g.alpha_ppm) // (n + $priorN)
       |            AS BIGINT) AS shrunk_ppm,
       |       CAST((1000000 * returns + $priorN * g.alpha_ppm) // (n + $priorN)
       |            AS BIGINT)
       |       - CAST((1000000 * returns) // n AS BIGINT) AS shift_ppm
       |FROM b, g ORDER BY brand""".stripMargin

  /** Weekday seasonality profile: event volume and value by day-of-week.
    * The dow index is pure epoch-day arithmetic ((day + 3) mod 7, 0 =
    * Monday — epoch day 0 was a Thursday) because the engines' dayofweek
    * builtins disagree on anchoring (Spark: Sunday=1; DuckDB: Sunday=0).
    * One 7-group partial-merged aggregate; shares window over 7 rows.
    */
  def weekdayProfile(events: DataFrame): DataFrame = {
    val dayNum = expr("unix_micros(date_trunc('DAY', ts)) div 86400000000")
    val w = Window.partitionBy()
    events
      .groupBy(((dayNum + lit(3L)) % 7L).as("dow"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .withColumn("share",
        round(col("n_events").cast("double") / sum(col("n_events")).over(w).cast("double"), 6))
      .orderBy("dow")
  }

  val weekdayProfileSql: String =
    """WITH g AS (
      |  SELECT (CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 + 3) % 7 AS dow,
      |         count(*) AS n_events,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1)
      |SELECT dow, n_events, sum_value,
      |       round(CAST(n_events AS DOUBLE) / CAST(sum(n_events) OVER () AS DOUBLE), 6) AS share
      |FROM g ORDER BY dow""".stripMargin

  /** Pareto concentration: suppliers ranked by revenue with cumulative
    * share — the 80/20 audit that decides whether a mitigation (or a
    * sales strategy) targets heads or tails. Revenue partial-aggregates
    * per supplier first; rank, running revenue and the grand total all
    * come from ONE [[Ranks]] device pass over the supplier frame (no
    * single-task ranking window, no second revenue scan); cumulative
    * sums stay in DECIMAL until the edge.
    */
  def supplierPareto(lineitem: DataFrame, supplier: DataFrame, topN: Int): DataFrame = {
    val rev = lineitem.join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
    Ranks.overGlobalOrder(rev, Seq(col("rev").desc, col("s_suppkey").asc),
        rankCol = Some("rank"), cumSums = Seq("cum" -> col("rev")),
        totals = Seq("tot" -> col("rev")))
      .withColumn("cum_share", round(col("cum").cast("double") / col("tot").cast("double"), 6))
      .filter(col("rank") <= topN)
      .select(col("rank").cast("long").as("rank"), col("s_suppkey"), col("s_name"),
        col("rev").cast("double").as("revenue"), col("cum_share"))
      .orderBy("rank")
  }

  def supplierParetoSql(topN: Int): String =
    s"""WITH rev AS (
       |  SELECT s_suppkey, s_name, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
       |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |  GROUP BY s_suppkey, s_name),
       |r AS (
       |  SELECT *,
       |    row_number() OVER (ORDER BY rev DESC, s_suppkey) AS rank,
       |    round(CAST(sum(rev) OVER (ORDER BY rev DESC, s_suppkey
       |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |          / CAST(sum(rev) OVER () AS DOUBLE), 6) AS cum_share
       |  FROM rev)
       |SELECT CAST(rank AS BIGINT) AS rank, s_suppkey, s_name,
       |       CAST(rev AS DOUBLE) AS revenue, cum_share
       |FROM r WHERE rank <= $topN ORDER BY rank""".stripMargin

  /** Relational PIVOT: revenue per nation cross-tabulated by order
    * priority. Spark's `pivot(col, values)` with the value list GIVEN
    * compiles to one conditional-aggregate pass — no extra distinct-scan
    * to discover columns, no Expand: exactly the CASE-sum matrix the
    * oracle writes by hand, with map-side partials. Dimension side
    * broadcasts; absent cells stay NULL in both engines.
    */
  /** (priority value, bare-identifier column name) — the compare layer
    * re-selects columns unquoted, so pivot output must avoid `-`/spaces.
    */
  private val pivotPriorities = Seq(
    "1-URGENT" -> "p1_urgent", "2-HIGH" -> "p2_high", "3-MEDIUM" -> "p3_medium",
    "4-NOT SPECIFIED" -> "p4_not_specified", "5-LOW" -> "p5_low")

  def pivotRevenue(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    val pivoted = orders.join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .pivot("o_orderpriority", pivotPriorities.map(_._1))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))
    pivotPriorities.foldLeft(pivoted) { case (df, (v, n)) => df.withColumnRenamed(v, n) }
      .orderBy("n_name")
  }

  val pivotRevenueSql: String = {
    val cells = pivotPriorities
      .map { case (p, n) => s"""CAST(sum(CASE WHEN o_orderpriority = '$p'
                   |            THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS $n""".stripMargin }
      .mkString(",\n  ")
    s"""SELECT n_name,
       |  $cells
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |            JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name ORDER BY n_name""".stripMargin
  }

  /** Debounce: keep the first event of each burst — a burst continues
    * while consecutive events of the same (user, type) arrive within the
    * gap (trailing-edge rule: each event compares to its immediate
    * predecessor). The de-duplication a notification/trigger pipeline
    * applies before fan-out. Per-type keep ratios are the audit.
    *
    * One lag window on the (user_id, event_type) shuffle key, then a
    * partial-merged per-type aggregate — per-key sort cost is bounded by
    * a user's own timeline, never corpus size.
    */
  def debounce(events: DataFrame, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("keep",
        col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapSeconds * 1000000L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("keep_ratio",
        round(col("n_kept").cast("double") / col("n_events").cast("double"), 6))
      .orderBy("event_type")
  }

  def debounceSql(gapSeconds: Long): String =
    s"""WITH g AS (
       |  SELECT event_type,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > ${gapSeconds * 1000000L}
       |         THEN 1 ELSE 0 END AS keep
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY event_id))
       |SELECT event_type, count(*) AS n_events,
       |       CAST(sum(keep) AS BIGINT) AS n_kept,
       |       round(CAST(sum(keep) AS DOUBLE) / count(*), 6) AS keep_ratio
       |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Frequent session paths: the top event-type TRIGRAMS walked inside
    * one session (the >30 min-gap sessions of [[sessionize]]), ranked by
    * how many distinct sessions contain them — sequence mining one level
    * deeper than [[eventTransitions]]'s Markov bigrams (support counts
    * sessions, so a single looping session can't dominate).
    *
    * Scale shape: session ids ride the user_id shuffle (running sum over
    * the same key), the trigram window partitions by (user_id, sid) —
    * a superset of the user_id clustering, so NO second exchange forms;
    * the distinct-session key is the session's first event_id (globally
    * unique, collision-free at any scale) and partial-aggregates; top-N
    * is an ordered take. Tie-break on path.
    */
  def topSessionPaths(events: DataFrame, topN: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val bySession = Window.partitionBy(col("user_id"), col("sid")).orderBy(col("event_id"))
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_session")).over(byUser))
      .withColumn("t2", lead(col("event_type"), 1).over(bySession))
      .withColumn("t3", lead(col("event_type"), 2).over(bySession))
      // session key = the session's first event_id: globally unique with
      // NO packing radix to overflow (a radix-packed (user, sid) key
      // would silently collide once a user exceeds the radix)
      .withColumn("skey",
        min(col("event_id")).over(Window.partitionBy(col("user_id"), col("sid"))))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"),
        col("skey"))
      .groupBy(col("path"))
      .agg(count_distinct(col("skey")).as("n_sessions"),
        count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topN)
  }

  /** DAU / WAU / MAU actives with DAU/MAU stickiness — the engagement
    * header of every product dashboard, built scale-first: events first
    * collapse to DISTINCT (user, day) pairs (bounded by activity, not
    * event volume), then each pair is exploded into the ≤ 30 trailing
    * windows it feeds, and one aggregate computes all three trailing
    * distinct counts via conditional DISTINCTs. No per-day self-joins,
    * no 30-day range joins — the explode factor is the constant window
    * length. Days with no activity are not reported (dau > 0), matching
    * the dashboard convention.
    */
  def activeUsers(events: DataFrame): DataFrame = {
    val ud = events.select(
      expr("unix_micros(date_trunc('DAY', ts)) div 86400000000").as("day_num"),
      col("user_id")).distinct()
    ud.select(col("user_id"), col("day_num"),
        explode(sequence(col("day_num"), col("day_num") + lit(29L))).as("w_day"))
      .groupBy(col("w_day"))
      .agg(
        count_distinct(when(col("w_day") === col("day_num"), col("user_id"))).as("dau"),
        count_distinct(when(col("w_day") - col("day_num") < 7, col("user_id"))).as("wau"),
        count_distinct(col("user_id")).as("mau"))
      .filter(col("dau") > 0)
      .select(
        timestamp_micros(col("w_day") * lit(86400000000L)).cast("date").as("day"),
        col("dau"), col("wau"), col("mau"),
        round(col("dau").cast("double") / col("mau").cast("double"), 6).as("stickiness"))
      .orderBy("day")
  }

  val activeUsersSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day_num,
      |         user_id
      |  FROM events),
      |contrib AS (
      |  SELECT user_id, day_num, day_num + o AS w_day
      |  FROM ud CROSS JOIN (SELECT unnest(range(0, 30)) AS o)),
      |agg AS (
      |  SELECT w_day,
      |         count(DISTINCT CASE WHEN w_day = day_num THEN user_id END) AS dau,
      |         count(DISTINCT CASE WHEN w_day - day_num < 7 THEN user_id END) AS wau,
      |         count(DISTINCT user_id) AS mau
      |  FROM contrib GROUP BY w_day)
      |SELECT CAST(epoch_ms(w_day * 86400000) AS DATE) AS day, dau, wau, mau,
      |       round(CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE), 6) AS stickiness
      |FROM agg WHERE dau > 0 ORDER BY day""".stripMargin

  /** Churn by signup cohort: users whose last activity predates the
    * stream horizon by more than the inactivity window are churned; the
    * rate per signup-week cohort completes the actives/retention/LTV
    * engagement quartet. One (user) aggregate carries BOTH endpoints
    * (min ts = cohort, max ts = last touch), the horizon is a one-row
    * broadcast, and the cohort rollup partial-merges — no joins against
    * event rows.
    */
  def cohortChurn(events: DataFrame, inactiveDays: Int): DataFrame = {
    val horizon = events.agg(max(unix_micros(col("ts"))).as("h_us"))
    val users = events.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"), max(unix_micros(col("ts"))).as("last_us"))
    users.crossJoin(broadcast(horizon))
      .select(
        date_trunc("week", col("first_ts")).cast("date").as("cohort_week"),
        (col("last_us") < col("h_us") - lit(inactiveDays * 86400000000L)).cast("long").as("churned"))
      .groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_users"), sum(col("churned")).as("n_churned"))
      .withColumn("churn_rate",
        round(col("n_churned").cast("double") / col("n_users").cast("double"), 6))
      .orderBy("cohort_week")
  }

  def cohortChurnSql(inactiveDays: Int): String =
    s"""WITH h AS (SELECT max(epoch_us(ts)) AS h_us FROM events),
       |users AS (
       |  SELECT user_id, min(ts) AS first_ts, max(epoch_us(ts)) AS last_us
       |  FROM events GROUP BY user_id),
       |flags AS (
       |  SELECT CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
       |         CASE WHEN last_us < h.h_us - ${inactiveDays * 86400000000L} THEN 1 ELSE 0 END AS churned
       |  FROM users, h)
       |SELECT cohort_week, count(*) AS n_users,
       |       CAST(sum(churned) AS BIGINT) AS n_churned,
       |       round(CAST(sum(churned) AS DOUBLE) / count(*), 6) AS churn_rate
       |FROM flags GROUP BY cohort_week ORDER BY cohort_week""".stripMargin

  /** Cohort lifetime value: per signup-week cohort, the CUMULATIVE value
    * per surviving user by cohort age — [[retention]]'s counting matrix
    * upgraded to the revenue integral a growth model fits against.
    *
    * Scale shape: first-touch per user rides one user_id shuffle; the
    * (cohort, age) cell aggregate partial-merges in DECIMAL; the running
    * total is a window over |cohorts|·|ages| CELLS (weeks² rows — never
    * event-count data), so the cumulative pass is effectively free.
    */
  def cohortLtv(events: DataFrame): DataFrame = {
    val first = events.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
    val cells = events.join(first, Seq("user_id"))
      .select(
        date_trunc("week", col("first_ts")).cast("date").as("cohort_week"),
        expr("CAST(datediff(date_trunc('week', ts), date_trunc('week', first_ts)) / 7 AS BIGINT)").as("week_n"),
        col("user_id"), col("value"))
      .groupBy(col("cohort_week"), col("week_n"))
      .agg(count_distinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).as("week_value"))
    val w = Window.partitionBy(col("cohort_week")).orderBy(col("week_n"))
    cells
      .withColumn("cum_value", sum(col("week_value")).over(w))
      .select(col("cohort_week"), col("week_n"), col("n_users"),
        col("week_value").cast("double").as("week_value"),
        col("cum_value").cast("double").as("cum_value"))
      .orderBy("cohort_week", "week_n")
  }

  val cohortLtvSql: String =
    """WITH first AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
      |cells AS (
      |  SELECT CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
      |         CAST(date_diff('day', date_trunc('week', f.first_ts), date_trunc('week', e.ts)) / 7 AS BIGINT) AS week_n,
      |         count(DISTINCT e.user_id) AS n_users,
      |         sum(CAST(e.value AS DECIMAL(18,2))) AS week_value
      |  FROM events e JOIN first f ON e.user_id = f.user_id
      |  GROUP BY 1, 2)
      |SELECT cohort_week, week_n, n_users,
      |       CAST(week_value AS DOUBLE) AS week_value,
      |       CAST(sum(week_value) OVER (PARTITION BY cohort_week ORDER BY week_n) AS DOUBLE) AS cum_value
      |FROM cells ORDER BY cohort_week, week_n""".stripMargin

  /** Per-brand OLS price-vs-quantity slope — a regression computed
    * entirely from the five classical sufficient statistics (n, Σx, Σy,
    * Σxy, Σx²), each an exact DECIMAL partial-merged aggregate: ONE scan,
    * one |brands|-group shuffle, division to doubles only at the edge.
    * The moments device generalizes to covariance/correlation matrices —
    * distributed regression is an aggregation problem, not an iterative
    * one, when the model is linear.
    */
  def priceSlope(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val x = col("l_quantity").cast("decimal(18,2)")
    val y = col("l_extendedprice").cast("decimal(18,2)")
    lineitem.join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"))
      // the DECIMAL sums are exact and engine-identical; combine them in
      // DOUBLE (identical ops both sides) to dodge cross-engine decimal
      // overflow/rescale rules on n·Σxy-sized products
      .select(col("p_brand"), col("n"),
        // nullif: a zero-variance brand (all quantities equal) must be
        // NULL in both engines, not Spark-NULL vs DuckDB-inf
        round((col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          nullif(col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double"), lit(0.0)), 6)
          .plus(lit(0.0)).as("slope"),  // +0.0: IEEE -0.0 normalization
        round(col("sy").cast("double") / col("n"), 6).as("mean_price"))
      .orderBy("p_brand")
  }

  val priceSlopeSql: String =
    """WITH m AS (
      |  SELECT p_brand, count(*) AS n,
      |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
      |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
      |         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
      |         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand)
      |SELECT p_brand, n,
      |       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |             / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0), 6) + 0.0 AS slope,
      |       round(CAST(sy AS DOUBLE) / n, 6) AS mean_price
      |FROM m ORDER BY p_brand""".stripMargin

  /** Herfindahl–Hirschman concentration of supplier revenue within each
    * nation — the market-concentration audit that complements the Gini
    * family (Gini ranks INEQUALITY of the whole distribution; HHI is the
    * antitrust-style sum of squared shares that a sourcing pipeline
    * watches for single-supplier risk).
    *
    * Exactness: line revenue quantizes to integral 10⁻⁴-dollar units
    * (price cents × (100 − discount points)); per-supplier revenue fits
    * BIGINT, the share-square sum rides DECIMAL(38,0) ≡ HUGEINT, and
    * hhi_ppm = Σ rev_s² · 1e6 DIV (Σ rev)² is ONE truncating division —
    * no per-cell rounding to disagree on. Banding uses the DOJ 0.15/0.25
    * thresholds on the ppm scale.
    *
    * Scale shape: lineitem partial-aggregates to (nation, supplier) in
    * one pass behind a broadcast of the supplier→nation dim; everything
    * after is |suppliers|-bounded.
    */
  def supplierHhi(lineitem: DataFrame, supplier: DataFrame,
                  nation: DataFrame): DataFrame = {
    val rev = lineitem
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey"), col("s_suppkey"),
        (expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)") *
          expr("100 - CAST(round(l_discount * 100, 0) AS BIGINT)")).as("r"))
      .groupBy(col("s_nationkey"), col("s_suppkey"))
      .agg(sum(col("r")).cast("long").as("rev"))
    rev.groupBy(col("s_nationkey"))
      .agg(count(lit(1)).cast("long").as("n_suppliers"),
        sum(col("rev").cast("decimal(38,0)")).as("tot"),
        sum(expr("CAST(rev AS DECIMAL(38,0)) * rev")).as("sq"),
        max(col("rev")).as("max_rev"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n_suppliers"),
        expr("CAST((sq * 1000000) DIV (tot * tot) AS BIGINT)").as("hhi_ppm"),
        expr("CAST((CAST(max_rev AS DECIMAL(38,0)) * 1000000) DIV tot AS BIGINT)")
          .as("top_share_ppm"))
      .withColumn("band",
        when(col("hhi_ppm") < 150000L, lit("unconcentrated"))
          .when(col("hhi_ppm") <= 250000L, lit("moderate"))
          .otherwise(lit("high")))
      .orderBy(col("n_name"))
  }

  val supplierHhiSql: String =
    """WITH rev AS (
      |  SELECT s.s_nationkey, s.s_suppkey,
      |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |                  * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
      |              AS BIGINT) AS rev
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
      |         CAST(sum(rev) AS HUGEINT) AS tot,
      |         sum(CAST(rev AS HUGEINT) * rev) AS sq,
      |         max(rev) AS max_rev
      |  FROM rev GROUP BY 1)
      |SELECT n.n_name, a.n_suppliers,
      |       CAST((a.sq * 1000000) // (a.tot * a.tot) AS BIGINT) AS hhi_ppm,
      |       CAST((CAST(a.max_rev AS HUGEINT) * 1000000) // a.tot AS BIGINT)
      |         AS top_share_ppm,
      |       CASE WHEN CAST((a.sq * 1000000) // (a.tot * a.tot) AS BIGINT) < 150000
      |              THEN 'unconcentrated'
      |            WHEN CAST((a.sq * 1000000) // (a.tot * a.tot) AS BIGINT) <= 250000
      |              THEN 'moderate'
      |            ELSE 'high' END AS band
      |FROM agg a JOIN nation n ON a.s_nationkey = n.n_nationkey
      |ORDER BY n.n_name""".stripMargin

  def topSessionPathsSql(topN: Int): String =
    s"""WITH g AS (
       |  SELECT user_id, event_id, event_type,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
       |s AS (
       |  SELECT user_id, event_id, event_type,
       |         sum(new_session) OVER (PARTITION BY user_id ORDER BY event_id) AS sid
       |  FROM g),
       |tri AS (
       |  SELECT concat_ws('>', event_type,
       |                   lead(event_type, 1) OVER ws,
       |                   lead(event_type, 2) OVER ws) AS path,
       |         lead(event_type, 1) OVER ws AS t2,
       |         lead(event_type, 2) OVER ws AS t3,
       |         min(event_id) OVER (PARTITION BY user_id, sid) AS skey
       |  FROM s WINDOW ws AS (PARTITION BY user_id, sid ORDER BY event_id))
       |SELECT path, count(DISTINCT skey) AS n_sessions, count(*) AS n_occurrences
       |FROM tri WHERE t2 IS NOT NULL AND t3 IS NOT NULL
       |GROUP BY path ORDER BY n_sessions DESC, path
       |LIMIT $topN""".stripMargin

  /** ABC–XYZ inventory classification of parts: revenue class by
    * cumulative-share thresholds (A ≤ 50%, B ≤ 85%, C rest — the
    * Pareto-curve device) × demand-variability class by the coefficient
    * of variation of weekly quantities (X ≤ 0.5, Y ≤ 1.0, Z rest).
    * Output: the 3×3 class matrix with counts and revenue share.
    *
    * Parity: revenue cumsums are DECIMAL-exact; CV² is computed from
    * exact integer/decimal sufficient statistics and compared against
    * the squared thresholds by cross-multiplication — (n·Σx²−(Σx)²)·4
    * vs (Σx)² for CV ≤ 0.5 — so NO division or sqrt happens before any
    * comparison; everything until the output shares is exact.
    *
    * Scale shape: one partial-agg to (part, week) quantities, one to
    * per-part stats; cumulative revenue share + grand total come from
    * one [[Ranks]] device pass over the part frame (the supplier-Pareto
    * shape — range-partitioned, no single-task window).
    */
  def abcXyz(lineitem: DataFrame): DataFrame = {
    val weekly = lineitem
      .groupBy(col("l_partkey"),
        expr("unix_micros(l_shipdate) div 604800000000").as("wk"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("q"))
      .select(col("l_partkey"), col("wk"),
        (col("q") * lit(100)).cast("long").as("qc")) // exact centi-units
    val perPart = weekly.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("nw"), sum(col("qc")).as("sq"),
        sum(col("qc") * col("qc")).as("sqq"))
    val rev = lineitem.groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("r_dec"))
    // cumulative revenue + grand total in ONE device pass — the global
    // cumsum comes back range-partitioned (no single-task window) and
    // the total is a literal, so the old self-crossJoin scan is gone
    val classed = Ranks.overGlobalOrder(rev,
        Seq(col("r_dec").desc, col("l_partkey").asc),
        cumSums = Seq("cum" -> col("r_dec")), totals = Seq("tot" -> col("r_dec")))
      // cum/tot <= 0.5  ⇔  cum*2 <= tot  (DECIMAL-exact cross-multiply)
      .withColumn("abc",
        when(col("cum") * 2 <= col("tot"), "A")
          .when(col("cum") * 20 <= col("tot") * 17, "B")
          .otherwise("C"))
      .join(perPart, "l_partkey")
      // CV = sd/mean with sd² = (n·Σx²−(Σx)²)/n, mean = Σx/n:
      // CV² ≤ t²  ⇔  (n·Σx²−(Σx)²)·n ≤ t²·(Σx)²·n  ⇔  n·Σx²−(Σx)² ≤ t²·(Σx)²
      .withColumn("d2", col("nw") * col("sqq") - col("sq") * col("sq"))
      .withColumn("xyz",
        when(col("d2") * 4 <= col("sq") * col("sq"), "X")
          .when(col("d2") <= col("sq") * col("sq"), "Y")
          .otherwise("Z"))
    classed.groupBy(col("abc"), col("xyz"))
      .agg(count(lit(1)).as("n_parts"),
        round((sum(col("r_dec")).cast("double") /
          max(col("tot")).cast("double")), 6).as("revenue_share"))
      .orderBy("abc", "xyz")
  }

  val abcXyzSql: String =
    """WITH weekly AS (
      |  SELECT l_partkey, epoch_us(l_shipdate) // 604800000000 AS wk,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS qc
      |  FROM lineitem GROUP BY 1, 2),
      |per_part AS (
      |  SELECT l_partkey, count(*) AS nw,
      |         CAST(sum(qc) AS BIGINT) AS sq,
      |         CAST(sum(qc * qc) AS BIGINT) AS sqq
      |  FROM weekly GROUP BY l_partkey),
      |rev AS (
      |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS r_dec
      |  FROM lineitem GROUP BY l_partkey),
      |tot AS (SELECT sum(r_dec) AS tot FROM rev),
      |classed AS (
      |  SELECT r.l_partkey, r.r_dec, t.tot,
      |         CASE WHEN sum(r.r_dec) OVER (ORDER BY r.r_dec DESC, r.l_partkey
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 2 <= t.tot THEN 'A'
      |              WHEN sum(r.r_dec) OVER (ORDER BY r.r_dec DESC, r.l_partkey
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 20 <= t.tot * 17 THEN 'B'
      |              ELSE 'C' END AS abc,
      |         p.nw, p.sq, p.sqq,
      |         p.nw * p.sqq - p.sq * p.sq AS d2
      |  FROM rev r JOIN per_part p USING (l_partkey), tot t)
      |SELECT abc,
      |       CASE WHEN d2 * 4 <= sq * sq THEN 'X'
      |            WHEN d2 <= sq * sq THEN 'Y'
      |            ELSE 'Z' END AS xyz,
      |       count(*) AS n_parts,
      |       round(CAST(sum(r_dec) AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6) AS revenue_share
      |FROM classed
      |GROUP BY 1, 2 ORDER BY abc, xyz""".stripMargin

  /** Price–volume–mix bridge between two fiscal years: the finance
    * decomposition ΔRevenue = price effect + volume effect (+ new /
    * discontinued parts). Per common part, (p₂−p₁)·q₂ + p₁·(q₂−q₁)
    * telescopes exactly to r₂−r₁, so the residual is quantization dust
    * only — asserted in the output.
    *
    * Parity: per-part revenues/quantities are DECIMAL-exact; each
    * part's effect is computed in double from those exact values and
    * QUANTIZED to 1e-4 units before summation (the fixed-point device —
    * a raw double Σ over parts would be shuffle-order dependent).
    *
    * Scale shape: one partial-agged groupBy to (part, year), one part-
    * level join, integer-sum rollups. Nothing wider than the part frame.
    */
  def priceVolumeMix(lineitem: DataFrame, y1: Int, y2: Int): DataFrame = {
    val py = Caches.tracked(lineitem
      .filter(year(col("l_shipdate")).isin(y1, y2))
      .groupBy(col("l_partkey"), year(col("l_shipdate")).as("yr"))
      .agg(sum(dec(col("l_quantity"))).as("q"),
        sum(dec(col("l_extendedprice"))).as("r"))
      .persist())
    val a = py.filter(col("yr") === y1)
      .select(col("l_partkey"), col("q").as("q1"), col("r").as("r1"))
    val b = py.filter(col("yr") === y2)
      .select(col("l_partkey"), col("q").as("q2"), col("r").as("r2"))
    val common = a.join(b, "l_partkey")
      .select(
        round((col("r2").cast("double") / col("q2").cast("double") -
          col("r1").cast("double") / col("q1").cast("double")) *
          col("q2").cast("double") * 1e4, 0).cast("long").as("price_q"),
        round(col("r1").cast("double") / col("q1").cast("double") *
          (col("q2") - col("q1")).cast("double") * 1e4, 0).cast("long").as("vol_q"))
      .agg(sum(col("price_q")).as("sp"), sum(col("vol_q")).as("sv"),
        count(lit(1)).as("n_common"))
    val newParts = b.join(a, Seq("l_partkey"), "left_anti")
      .agg(coalesce(sum(col("r2")), lit(0).cast("decimal(18,2)")).as("r_new"))
    val gone = a.join(b, Seq("l_partkey"), "left_anti")
      .agg(coalesce(sum(col("r1")), lit(0).cast("decimal(18,2)")).as("r_gone"))
    // one aggregate row ALWAYS (a filter-then-agg shape would emit zero
    // rows for an empty year while the oracle's aggregate emits one)
    val tot = py.agg(
      sum(when(col("yr") === y1, col("r"))).as("rev_y1"),
      sum(when(col("yr") === y2, col("r"))).as("rev_y2"))
    common.crossJoin(broadcast(newParts)).crossJoin(broadcast(gone))
      .crossJoin(broadcast(tot))
      .select(
        col("n_common"),
        col("rev_y1").cast("double").as("rev_y1"),
        col("rev_y2").cast("double").as("rev_y2"),
        (col("rev_y2") - col("rev_y1")).cast("double").as("delta_revenue"),
        round(col("sp").cast("double") / 1e4, 2).as("price_effect"),
        round(col("sv").cast("double") / 1e4, 2).as("volume_effect"),
        col("r_new").cast("double").as("new_parts_effect"),
        (-col("r_gone")).cast("double").as("discontinued_effect"),
        // + 0.0 normalizes IEEE negative zero (a perfectly telescoped
        // bridge rounds to -0.0 in DuckDB vs 0.0 in Spark)
        (round((col("rev_y2") - col("rev_y1")).cast("double") -
          col("sp").cast("double") / 1e4 - col("sv").cast("double") / 1e4 -
          col("r_new").cast("double") + col("r_gone").cast("double"), 2) + lit(0.0))
          .as("residual"))
  }

  def priceVolumeMixSql(y1: Int, y2: Int): String =
    s"""WITH py AS (
       |  SELECT l_partkey, year(l_shipdate) AS yr,
       |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS q,
       |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
       |  FROM lineitem WHERE year(l_shipdate) IN ($y1, $y2)
       |  GROUP BY 1, 2),
       |a AS (SELECT l_partkey, q AS q1, r AS r1 FROM py WHERE yr = $y1),
       |b AS (SELECT l_partkey, q AS q2, r AS r2 FROM py WHERE yr = $y2),
       |common AS (
       |  SELECT
       |    CAST(sum(CAST(round((CAST(r2 AS DOUBLE) / CAST(q2 AS DOUBLE)
       |                         - CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE))
       |                        * CAST(q2 AS DOUBLE) * 1e4, 0) AS BIGINT)) AS BIGINT) AS sp,
       |    CAST(sum(CAST(round(CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)
       |                        * CAST(q2 - q1 AS DOUBLE) * 1e4, 0) AS BIGINT)) AS BIGINT) AS sv,
       |    count(*) AS n_common
       |  FROM a JOIN b USING (l_partkey)),
       |np AS (SELECT coalesce(sum(b.r2), CAST(0 AS DECIMAL(18,2))) AS r_new
       |       FROM b LEFT JOIN a ON a.l_partkey = b.l_partkey WHERE a.l_partkey IS NULL),
       |gp AS (SELECT coalesce(sum(a.r1), CAST(0 AS DECIMAL(18,2))) AS r_gone
       |       FROM a LEFT JOIN b ON b.l_partkey = a.l_partkey WHERE b.l_partkey IS NULL),
       |tt AS (SELECT sum(CASE WHEN yr = $y1 THEN r END) AS rev_y1,
       |              sum(CASE WHEN yr = $y2 THEN r END) AS rev_y2 FROM py)
       |SELECT c.n_common,
       |       CAST(tt.rev_y1 AS DOUBLE) AS rev_y1,
       |       CAST(tt.rev_y2 AS DOUBLE) AS rev_y2,
       |       CAST(tt.rev_y2 - tt.rev_y1 AS DOUBLE) AS delta_revenue,
       |       round(CAST(c.sp AS DOUBLE) / 1e4, 2) AS price_effect,
       |       round(CAST(c.sv AS DOUBLE) / 1e4, 2) AS volume_effect,
       |       CAST(np.r_new AS DOUBLE) AS new_parts_effect,
       |       CAST(-gp.r_gone AS DOUBLE) AS discontinued_effect,
       |       round(CAST(tt.rev_y2 - tt.rev_y1 AS DOUBLE)
       |             - CAST(c.sp AS DOUBLE) / 1e4 - CAST(c.sv AS DOUBLE) / 1e4
       |             - CAST(np.r_new AS DOUBLE) + CAST(gp.r_gone AS DOUBLE), 2) + 0.0 AS residual
       |FROM common c, np, gp, tt""".stripMargin

  /** Exact Gini concentration of per-part revenue — the inequality
    * readout of the catalog (how much of the business the head of the
    * distribution carries), with the top-decile revenue share as the
    * companion number. G = (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n over the
    * ASCENDING revenue order is reported in exact ppm:
    * gini_ppm = 10⁶·(2Σi·xᵢ − (n+1)Σx) DIV (n·Σx), every term an
    * integer (revenue in cents via one DECIMAL(18,2) aggregate), sums
    * carried in DECIMAL(38,0)/HUGEINT.
    *
    * Scale note: ranks over the PART-grained frame come from the
    * [[Ranks]] device (range split + offsets, no single-task window)
    * after the one grouped aggregate over lineitem; the total row count
    * rides the device's offsets collect as a literal.
    */
  def revenueGini(lineitem: DataFrame): DataFrame = {
    val cents = lineitem.groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
      .select(col("l_partkey"), expr("CAST(rev * 100 AS BIGINT)").as("cents"))
    val r = Ranks.overGlobalOrder(cents,
      Seq(col("cents").asc, col("l_partkey").asc),
      rankCol = Some("i"), countCol = Some("n"))
    r.agg(max(col("n")).as("n"),
        sum(col("cents").cast("decimal(38,0)")).as("sx"),
        sum((col("i") * col("cents")).cast("decimal(38,0)")).as("sixi"),
        sum(when(col("i") > col("n") - expr("n DIV 10"), col("cents"))
          .otherwise(0L).cast("decimal(38,0)")).as("stop"))
      .select(col("n").as("n_parts"), col("sx").cast("long").as("total_cents"),
        expr("CAST((1000000 * (2 * sixi - (n + 1) * sx)) DIV (n * sx) AS BIGINT)")
          .as("gini_ppm"),
        expr("CAST((1000000 * stop) DIV sx AS BIGINT)").as("top_decile_share_ppm"))
  }

  val revenueGiniSql: String =
    """WITH rev AS (
      |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      |  FROM lineitem GROUP BY 1),
      |c AS (SELECT l_partkey, CAST(rev * 100 AS BIGINT) AS cents FROM rev),
      |r AS (
      |  SELECT cents, row_number() OVER (ORDER BY cents, l_partkey) AS i,
      |         count(*) OVER () AS n
      |  FROM c),
      |a AS (
      |  SELECT max(n) AS n, sum(cents) AS sx, sum(i * cents) AS sixi,
      |         sum(CASE WHEN i > n - n // 10 THEN cents ELSE 0 END) AS stop
      |  FROM r)
      |SELECT CAST(n AS BIGINT) AS n_parts, CAST(sx AS BIGINT) AS total_cents,
      |       CAST((1000000 * (2 * sixi - (n + 1) * sx)) // (n * sx) AS BIGINT) AS gini_ppm,
      |       CAST((1000000 * stop) // sx AS BIGINT) AS top_decile_share_ppm
      |FROM a""".stripMargin

  /** Peak concurrency by distributed sweep-line: every event opens an
    * end-exclusive activity interval [ts, ts + holdSeconds), and the
    * answer is the maximum number of simultaneously open intervals plus
    * the earliest instant attaining it — the "how many sessions at once"
    * capacity question interval self-joins cannot answer at scale.
    *
    * Scale shape: NO global-order window over the data. The ±1 deltas
    * fold to a (time, phase) census (phase 0 = closes, 1 = opens — ties
    * process closes first, which IS end-exclusivity), each row lands in
    * an hour bucket, the running sum is a bucket-partitioned window, and
    * bucket base offsets come from a cumulative window over the
    * |buckets|-bounded per-bucket totals — the classic parallel
    * prefix-sum decomposition. Peak and argmin are exact integers.
    */
  def peakConcurrency(events: DataFrame, holdSeconds: Long): DataFrame = {
    require(holdSeconds >= 1, s"holdSeconds must be >= 1: $holdSeconds")
    val hold = holdSeconds * 1000000L
    val us = events.select(expr("unix_micros(ts)").as("t0"))
    val deltas = us.select(col("t0").as("t"), lit(1L).as("phase"), lit(1L).as("nd"))
      .unionAll(us.select((col("t0") + lit(hold)).as("t"),
        lit(0L).as("phase"), lit(-1L).as("nd")))
    val census = deltas.groupBy(col("t"), col("phase"))
      .agg(sum(col("nd")).as("nd"))
      .withColumn("b", expr("CAST(t DIV 3600000000 AS BIGINT)"))
    val wLocal = Window.partitionBy(col("b")).orderBy(col("t"), col("phase"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = census.withColumn("run_in", sum(col("nd")).over(wLocal))
    val wOff = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = census.groupBy(col("b")).agg(sum(col("nd")).as("tot"))
      .withColumn("off", coalesce(sum(col("tot")).over(wOff), lit(0L)))
      .drop("tot")
    val run = Caches.tracked(local.join(broadcast(offsets), "b")
      .select(col("t"), (col("off") + col("run_in")).as("run"))
      .persist())
    val peak = broadcast(run.agg(max(col("run")).as("peak")))
    val n = events.agg(count(lit(1)).as("n_intervals"))
    n.crossJoin(peak)
      .join(run, col("run") === col("peak"))
      .groupBy(col("n_intervals"), col("peak"))
      .agg(min(col("t")).as("peak_at_us"))
      .select(col("n_intervals"), col("peak"), col("peak_at_us"))
  }

  def peakConcurrencySql(holdSeconds: Long): String =
    s"""WITH us AS (SELECT epoch_us(ts) AS t0 FROM events),
       |deltas AS (
       |  SELECT t0 AS t, 1 AS phase, 1 AS nd FROM us
       |  UNION ALL
       |  SELECT t0 + ${holdSeconds * 1000000L}, 0, -1 FROM us),
       |census AS (
       |  SELECT t, phase, CAST(sum(nd) AS BIGINT) AS nd
       |  FROM deltas GROUP BY t, phase),
       |run AS (
       |  SELECT t, CAST(sum(nd) OVER (ORDER BY t, phase
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
       |  FROM census),
       |peak AS (SELECT max(run) AS peak FROM run),
       |n AS (SELECT count(*) AS n_intervals FROM events)
       |SELECT n.n_intervals, peak.peak, min(r.t) AS peak_at_us
       |FROM n CROSS JOIN peak JOIN run r ON r.run = peak.peak
       |GROUP BY n.n_intervals, peak.peak""".stripMargin
}
