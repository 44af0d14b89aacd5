package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{QueryDef, Tables}

/** Second analytical wave: join variants (semi/anti/outer), distinct
  * aggregation, rollup, analytic window functions (running sums, lag,
  * ntile), sessionization, and histogramming — the Kibana-derivable
  * query families of SURVEY §7.2 taken further, with the same
  * oracle-parity discipline as [[Relational]].
  */
object Analytics {

  // Left-semi join: customers that have orders (EXISTS).
  val semiJoin: QueryDef = QueryDef.sql("q_semi_join")(
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  // Left-anti join: customers with no orders (NOT EXISTS).
  val antiJoin: QueryDef = QueryDef.sql("q_anti_join")(
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  // Left-outer join + null-aware aggregation: orders per customer
  // including order-less customers.
  val outerJoin: QueryDef = QueryDef.sql("q_outer_join")(
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
      |  CAST(SUM(CAST(coalesce(o_totalprice, 0) AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
      |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
        sum(coalesce(col("o_totalprice"), lit(0)).cast(DecimalType(18, 2)))
          .cast("double").as("total_spent"))
      .orderBy("c_custkey")
  }

  // Exact distinct aggregation (two-phase distinct under the hood).
  val distinctUsers: QueryDef = QueryDef.sql("q_distinct_users")(
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  // Rollup: region/nation hierarchy with subtotal + grand-total rows.
  val rollupCounts: QueryDef = QueryDef.sql("q_rollup")(
    """SELECT r_name, n_name, COUNT(*) AS n
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin) { (s, dir) =>
    // expr(), not string names: Dataset.rollup("c") attaches dataset-id
    // metadata that trips DetectAmbiguousSelfJoin on the Expand copies
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .rollup(expr("r_name"), expr("n_name"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  // Occupancy-style conditional rate (SURVEY §7.2 Q2: `pir > 0` rate →
  // purchase rate per user per hour). Exact int/int division.
  val occupancyRate: QueryDef = QueryDef.sql("q_occupancy_rate")(
    """SELECT user_id, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  COUNT(*) AS n,
      |  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) / COUNT(*) AS purchase_rate
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val isP = sum(when(col("event_type") === "purchase", 1).otherwise(0))
    Tables.events(s, dir)
      .groupBy(col("user_id"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"))
      .agg(isP.as("n_purchase"), count(lit(1)).as("n"),
        (isP / count(lit(1))).as("purchase_rate"))
      .orderBy("user_id", "hour_epoch")
  }

  // Kibana's percentile_ranks metric agg (the inverse of percentiles:
  // "what fraction of the data sits at or below these values") — fixed
  // thresholds over events.value per type, one partial→final aggregate
  // pass with all three CASE counters riding the same shuffle, and the
  // rank itself an exact int/int division like q_occupancy_rate.
  val percentileRanks: QueryDef = QueryDef.sql("q_percentile_ranks")(
    """SELECT event_type, COUNT(*) AS n,
      |  SUM(CASE WHEN value <= 10 THEN 1 ELSE 0 END) / COUNT(*) AS pr_10,
      |  SUM(CASE WHEN value <= 50 THEN 1 ELSE 0 END) / COUNT(*) AS pr_50,
      |  SUM(CASE WHEN value <= 100 THEN 1 ELSE 0 END) / COUNT(*) AS pr_100
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    def le(t: Int) = sum(when(col("value") <= t, 1).otherwise(0))
    Tables.events(s, dir).groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (le(10) / count(lit(1))).as("pr_10"),
        (le(50) / count(lit(1))).as("pr_50"),
        (le(100) / count(lit(1))).as("pr_100"))
      .orderBy("event_type")
  }

  // Running (cumulative) sum per key — exact decimal arithmetic so every
  // prefix is bit-identical.
  val runningSum: QueryDef = QueryDef.sql("q_running_sum")(
    """SELECT user_id, event_id,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      |FROM events ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("running_value"))
      .orderBy("user_id", "event_id")
  }

  // lag(): inter-event gap per user in micros — exact integers.
  val eventGaps: QueryDef = QueryDef.sql("q_event_gaps")(
    """SELECT user_id, event_id,
      |  epoch_us(ts) - lag(epoch_us(ts)) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      |FROM events ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
      .orderBy("user_id", "event_id")
  }

  // Sessionization: a new session starts after a >30-minute silence;
  // session id = running count of session-start flags per user.
  val sessionize: QueryDef = QueryDef.sql("q_sessionize")(
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, event_id,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM g)
      |SELECT user_id, session_id, COUNT(*) AS n_events
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(unix_micros(col("ts")), 1).over(w)
    Tables.events(s, dir)
      .withColumn("new_session",
        when(unix_micros(col("ts")) - prev > 1800000000L || prev.isNull, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(wRun))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_id")
  }

  // ntile quartiles over a deterministic total order. AUDIT-ONLY: the
  // NTILE(4) OVER (ORDER BY ...) ranks the whole corpus through ONE
  // partition — the exact form the oracle can bit-check, kept for
  // correctness gating, but q_value_quartiles_hist (histogram CDF,
  // below) is the plan a 100 TB deployment runs and the one the bench
  // measures.
  val valueQuartiles: QueryDef = QueryDef.sql("q_value_quartiles")(
    """WITH t AS (
      |  SELECT event_id, value, NTILE(4) OVER (ORDER BY value, event_id) AS quartile
      |  FROM events)
      |SELECT quartile, COUNT(*) AS n, MIN(value) AS lo, MAX(value) AS hi
      |FROM t GROUP BY quartile ORDER BY quartile""".stripMargin) { (s, dir) =>
    val w = Window.orderBy("value", "event_id")
    Tables.events(s, dir)
      .select(col("event_id"), col("value"), ntile(4).over(w).as("quartile"))
      .groupBy("quartile")
      .agg(count(lit(1)).as("n"), min(col("value")).as("lo"), max(col("value")).as("hi"))
      .orderBy("quartile")
  }

  // The 100 TB path for q_value_quartiles: quartile boundaries at
  // 2-decimal bin granularity via a histogram CDF (the
  // q_percentiles_hist technique at NTILE granularity). The corpus
  // pass is ONE partial→final count per bin; the cumulative window
  // runs over the tiny bin table (bounded by value granularity, not
  // corpus size), and each bin's quartile is the exact integer
  // ceil(4·cum/n) — computed as (4·cum + n − 1) div n on BIGINTs, so
  // both engines pick identical labels with zero float involvement.
  // Bins never split across quartiles (that is the ≤ bin-width
  // deviation from exact NTILE, which q_value_quartiles still audits).
  val valueQuartilesHist: QueryDef = QueryDef.sql("q_value_quartiles_hist")(
    """WITH b AS (SELECT round(value, 2) AS bin FROM events),
      |h AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1),
      |cdf AS (SELECT bin, c,
      |         CAST(SUM(c) OVER (ORDER BY bin) AS BIGINT) AS cum,
      |         CAST(SUM(c) OVER () AS BIGINT) AS n
      |        FROM h),
      |q AS (SELECT bin, c, (4 * cum + n - 1) // n AS quartile FROM cdf)
      |SELECT quartile, CAST(SUM(c) AS BIGINT) AS n, MIN(bin) AS lo, MAX(bin) AS hi
      |FROM q GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val h = Tables.events(s, dir)
      .select(round(col("value"), 2).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c"))
    h.withColumn("cum", sum(col("c")).over(Window.orderBy("bin")))
      .withColumn("n", sum(col("c")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("quartile", expr("(4 * cum + n - 1) div n"))
      .groupBy("quartile")
      .agg(sum(col("c")).as("n"), min(col("bin")).as("lo"), max(col("bin")).as("hi"))
      .orderBy("quartile")
  }

  // Histogram: fixed-width value buckets. floor() on exact quotients of
  // 2-decimal values — computed identically both sides.
  val valueHistogram: QueryDef = QueryDef.sql("q_value_histogram")(
    """SELECT CAST(floor(value / 20) AS BIGINT) AS bucket, COUNT(*) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(floor(col("value") / 20).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  // RANGE-frame window: per event, activity in the trailing 30 minutes
  // of the same user (event-time range frame over epoch-micros).
  val trailingWindow: QueryDef = QueryDef.sql("q_trailing_window")(
    """SELECT user_id, event_id,
      |  COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW) AS n_30m,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_30m
      |FROM events ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
      .rangeBetween(-1800000000L, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_30m"),
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("sum_30m"))
      .orderBy("user_id", "event_id")
  }

  // Kibana dashboard preset in one pass: the date_histogram bucket with
  // its metric panel family — count, cardinality (distinct users), sum
  // (decimal-exact), plus the pipeline aggregations Kibana layers on
  // top: derivative (Δ count vs previous bucket) and cumulative sum.
  // One hash aggregate for the buckets, one window over the tiny
  // bucket-grain result — the window never touches event-grain data, so
  // at 100 TB the expensive stage is still a single map-side-combining
  // groupBy.
  val dashboardTiles: QueryDef = QueryDef.sql("q_dashboard_tiles")(
    """WITH h AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
      |    COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1)
      |SELECT hour_epoch, n, n_users, sum_value,
      |  n - lag(n) OVER (ORDER BY hour_epoch) AS derivative,
      |  CAST(SUM(n) OVER (ORDER BY hour_epoch
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative
      |FROM h ORDER BY hour_epoch""".stripMargin) { (s, dir) =>
    val w = Window.orderBy("hour_epoch")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("hour_epoch"), col("n"), col("n_users"), col("sum_value"),
        (col("n") - lag(col("n"), 1).over(w)).as("derivative"),
        sum(col("n")).over(wRun).as("cumulative"))
      .orderBy("hour_epoch")
  }

  // Kibana percentiles panel, exact: nearest-rank selection (value at
  // rank ceil(p·n) in the per-type order) — pure row selection, no
  // interpolation arithmetic, so doubles pass through untouched and the
  // oracle matches bit-for-bit. Both engines evaluate ceil(p·n) in IEEE
  // double on identical inputs, so the chosen rank is identical even
  // where p·n is inexact. AUDIT-ONLY: the per-type corpus sort is the
  // exact form; q_percentiles_hist is the scale path and the bench
  // default.
  val percentiles: QueryDef = QueryDef.sql("q_percentiles")(
    """WITH r AS (
      |  SELECT event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type,
      |  MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN value END) AS p50,
      |  MAX(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT) THEN value END) AS p90,
      |  MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("event_type").orderBy("value", "event_id")
    val wn = Window.partitionBy("event_type")
    def pick(p: Double) =
      max(when(col("rn") === ceil(lit(p) * col("n")), col("value")))
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy("event_type")
      .agg(pick(0.50).as("p50"), pick(0.90).as("p90"), pick(0.99).as("p99"))
      .orderBy("event_type")
  }

  // The 100 TB path for q_percentiles: EXACT nearest-rank percentiles at
  // 2-decimal bin granularity via a histogram CDF. q_percentiles ranks
  // every event per type (a per-type corpus sort — the audit-only exact
  // form); here the corpus pass is ONE partial→final count per
  // (type, bin), the cumulative window runs over the tiny bin table,
  // and because rounding is monotone the selected bin IS round(true
  // nearest-rank percentile, 2) — deterministic, oracle-exact, and
  // bounded-error by construction (error ≤ bin width, not probabilistic
  // like the t-digest twin q_approx_quantiles). AnalyticsOpsSpec pins
  // hist == round(exact, 2) per type.
  val percentilesHist: QueryDef = QueryDef.sql("q_percentiles_hist")(
    """WITH b AS (SELECT event_type, round(value, 2) AS bin FROM events),
      |h AS (SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS c
      |      FROM b GROUP BY 1, 2),
      |cdf AS (SELECT event_type, bin,
      |         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum,
      |         CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |        FROM h)
      |SELECT event_type, MAX(n) AS n,
      |  MIN(CASE WHEN cum >= CAST(ceil(0.50 * n) AS BIGINT) THEN bin END) AS p50,
      |  MIN(CASE WHEN cum >= CAST(ceil(0.90 * n) AS BIGINT) THEN bin END) AS p90,
      |  MIN(CASE WHEN cum >= CAST(ceil(0.99 * n) AS BIGINT) THEN bin END) AS p99
      |FROM cdf GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val h = Tables.events(s, dir)
      .select(col("event_type"), round(col("value"), 2).as("bin"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("c"))
    val cdf = h
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy("event_type").orderBy("bin")))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("event_type")))
    def pick(p: Double) =
      min(when(col("cum") >= ceil(lit(p) * col("n")), col("bin")))
    cdf.groupBy("event_type")
      .agg(max(col("n")).as("n"),
        pick(0.50).as("p50"), pick(0.90).as("p90"), pick(0.99).as("p99"))
      .orderBy("event_type")
  }

  // Multi-touch attribution — the marketing-analytics op layered on the
  // as-of family: every purchase credits the FIRST and LAST click in
  // its trailing 1-hour lookback, plus the touch count (linear
  // attribution's denominator). One equi-join on user_id with the
  // event-time range as a residual predicate — the q_stream_stream_join
  // shape, so the join partitions by user and no corpus-wide sort
  // exists; the per-purchase first/last pick is an order-insensitive
  // min/max over the (c_us, click_id) struct, so it map-side combines
  // instead of ranking rows in a window (the oracle says the same
  // thing with per-purchase ROW_NUMBERs over the tiny touch lists).
  // No packed integer encoding: ts_us·shift + id overflows BIGINT at
  // corpus scale, the same trap the PMI cubic product had. Purchases
  // with no qualifying click keep NULL touches and n_touches = 0 (the
  // left join preserves them).
  val attribution: QueryDef = QueryDef.sql("q_attribution")(
    """WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
      |      FROM events WHERE event_type = 'click'),
      |j AS (SELECT p.purchase_id, p.user_id, c.click_id, c.c_us
      |      FROM p LEFT JOIN c ON p.user_id = c.user_id
      |        AND c.c_us >= p.p_us - 3600000000 AND c.c_us <= p.p_us),
      |r AS (SELECT *,
      |        ROW_NUMBER() OVER (PARTITION BY purchase_id
      |          ORDER BY c_us, click_id) AS rn_a,
      |        ROW_NUMBER() OVER (PARTITION BY purchase_id
      |          ORDER BY c_us DESC, click_id DESC) AS rn_d
      |      FROM j)
      |SELECT purchase_id, user_id,
      |  MAX(CASE WHEN rn_a = 1 THEN click_id END) AS first_click_id,
      |  MAX(CASE WHEN rn_d = 1 THEN click_id END) AS last_click_id,
      |  COUNT(click_id) AS n_touches
      |FROM r GROUP BY 1, 2 ORDER BY purchase_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("p_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        unix_micros(col("ts")).as("c_us"))
    val touch = when(col("click_id").isNotNull,
      struct(col("c_us"), col("click_id")))
    p.join(c, col("user_id") === col("c_user") &&
        col("c_us") >= col("p_us") - 3600000000L && col("c_us") <= col("p_us"),
        "left")
      .groupBy("purchase_id", "user_id")
      .agg(
        min(touch).getField("click_id").as("first_click_id"),
        max(touch).getField("click_id").as("last_click_id"),
        count(col("click_id")).as("n_touches"))
      .orderBy("purchase_id")
  }

  // Explicit GROUPING SETS (the general form rollup/cube specialize):
  // per-type totals, per-day totals, and the grand total in ONE pass —
  // Spark expands to a single Expand + aggregate, not three scans.
  // grouping() disambiguates "NULL because aggregated over" from a real
  // NULL group value.
  val groupingSets: QueryDef = QueryDef.sql("q_grouping_sets")(
    """SELECT event_type, CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
      |  COUNT(*) AS n,
      |  CAST(GROUPING(event_type) AS INT) AS g_type,
      |  CAST(GROUPING(CAST(epoch(date_trunc('day', ts)) AS BIGINT)) AS INT) AS g_day
      |FROM events
      |GROUP BY GROUPING SETS ((event_type),
      |  (CAST(epoch(date_trunc('day', ts)) AS BIGINT)), ())
      |ORDER BY g_type, g_day, event_type NULLS FIRST, day_epoch NULLS FIRST""".stripMargin) {
    (s, dir) =>
      Tables.events(s, dir)
        .withColumn("day_epoch", unix_timestamp(date_trunc("day", col("ts"))))
        .groupingSets(
          Seq(Seq(col("event_type")), Seq(col("day_epoch")), Seq.empty),
          col("event_type"), col("day_epoch"))
        .agg(count(lit(1)).as("n"),
          grouping(col("event_type")).cast("int").as("g_type"),
          grouping(col("day_epoch")).cast("int").as("g_day"))
        .orderBy(col("g_type"), col("g_day"), col("event_type").asc_nulls_first,
          col("day_epoch").asc_nulls_first)
  }

  // Time-series gap fill + forward fill (the Kibana line panel over a
  // sparse sensor needs a dense time axis): per user, a dense hourly
  // spine from first to last activity, hours with no events get n = 0
  // and CARRY the last observed hourly mean forward. The spine is
  // generated from the tiny per-user (min, max) aggregate — never from
  // the event grain — and the fill is one last(ignoreNulls) running
  // window per user.
  val gapFill: QueryDef = QueryDef.sql("q_gap_fill")(
    """WITH b AS (
      |  SELECT user_id, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
      |    COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
      |  FROM events WHERE user_id < 20 GROUP BY 1, 2),
      |r AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM b GROUP BY 1),
      |spine AS (SELECT user_id, UNNEST(generate_series(h0, h1, 3600)) AS h FROM r),
      |j AS (SELECT s.user_id, s.h, b.n, b.avg_value
      |      FROM spine s LEFT JOIN b ON s.user_id = b.user_id AND s.h = b.h)
      |SELECT user_id, h AS hour_epoch, COALESCE(n, 0) AS n,
      |  last_value(avg_value IGNORE NULLS) OVER
      |    (PARTITION BY user_id ORDER BY h
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
      |FROM j ORDER BY user_id, hour_epoch""".stripMargin) { (s, dir) =>
    val b = Tables.events(s, dir)
      .filter(col("user_id") < 20)
      .groupBy(col("user_id"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("h"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1))).as("avg_value"))
    val spine = b.groupBy("user_id")
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), lit(3600L))).as("h"))
    val w = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(b, Seq("user_id", "h"), "left")
      .select(col("user_id"), col("h").as("hour_epoch"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("avg_value"), ignoreNulls = true).over(w).as("filled_value"))
      .orderBy("user_id", "hour_epoch")
  }

  // The full ranking-function family in one pass: rank/dense_rank with
  // gap semantics, percent_rank ((rank-1)/(n-1)) and cume_dist — both
  // ratio functions are a single exact-int division, so doubles match
  // bit-for-bit. Restricted to one deterministic order (value, then id).
  val rankFuncs: QueryDef = QueryDef.sql("q_rank_funcs")(
    """SELECT event_id, event_type,
      |  RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
      |  PERCENT_RANK() OVER w AS prnk, CUME_DIST() OVER w AS cdist
      |FROM events WHERE event_type IN ('error', 'purchase')
      |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
      |ORDER BY event_type, rnk, event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("event_type").orderBy("value", "event_id")
    Tables.events(s, dir)
      .filter(col("event_type").isin("error", "purchase"))
      .select(col("event_id"), col("event_type"),
        rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"),
        percent_rank().over(w).as("prnk"), cume_dist().over(w).as("cdist"))
      .orderBy("event_type", "rnk", "event_id")
  }

  // RANGE frame over event time (vs q_trailing_window's ROWS frame):
  // per user, count and exact sum over the trailing literal hour — the
  // frame boundary is a VALUE offset on epoch seconds, so ties and
  // uneven spacing are handled by time, not by row position.
  val rangeFrame: QueryDef = QueryDef.sql("q_range_frame")(
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec, value
      |           FROM events)
      |SELECT user_id, event_id,
      |  COUNT(*) OVER w AS n_1h,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY sec
      |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("sec")
      .rangeBetween(-3600L, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"), col("value"))
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("sum_1h"))
      .orderBy("user_id", "event_id")
  }

  // Exponentially weighted moving average — the Kibana moving-average
  // pipeline aggregation (README.md:187-195 dashboards) as a real
  // operator: per (event_type, day), EWMA(α=0.3, zero-seeded) of value
  // in (ts, event_id) order. EWMA is inherently sequential, so it runs
  // as an ordered IEEE fold per group (the idf/kmeans fold pattern);
  // each step is two multiplies and an add in the same order on both
  // engines, so the raw doubles hash-match without rounding. Group
  // grain (type × day) bounds per-group state — no global sort, no
  // unbounded collect.
  val ewma: QueryDef = QueryDef.sql("q_ewma")(
    """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |                  ts, event_id, value FROM events)
      |SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n,
      |  list_reduce(list_prepend(0.0, list(value ORDER BY ts, event_id)),
      |    (a, x) -> 0.3 * x + 0.7 * a) AS ewma
      |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"),
        unix_micros(col("ts")).as("o1"), col("event_id").as("o2"), col("value"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"),
        aggregate(
          transform(sort_array(collect_list(struct(col("o1"), col("o2"), col("value")))),
            p => p.getField("value")),
          lit(0.0), (a, x) => lit(0.3) * x + lit(0.7) * a).as("ewma"))
      .orderBy("event_type", "day")
  }

  // Funnel analysis: users progressing signup → click → purchase, each
  // step strictly after the previous one's FIRST occurrence. Each stage
  // is one filtered min-aggregation joined on user_id (user-dimension
  // sized — broadcast at test SF, an equi-shuffle at scale); no window
  // over the full event stream.
  val eventFunnel: QueryDef = QueryDef.sql("q_event_funnel")(
    """WITH a AS (SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
      |           WHERE event_type = 'signup' GROUP BY 1),
      |b AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2 FROM events e
      |      JOIN a ON e.user_id = a.user_id
      |      WHERE e.event_type = 'click' AND epoch_us(e.ts) > a.t1 GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3 FROM events e
      |      JOIN b ON e.user_id = b.user_id
      |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > b.t2 GROUP BY 1)
      |SELECT 1 AS stage, 'signup' AS step,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_users
      |UNION ALL SELECT 2, 'click_after_signup',
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM b)
      |UNION ALL SELECT 3, 'purchase_after_click',
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM c)
      |ORDER BY stage""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val a = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("t1"))
    val b = ev.filter(col("event_type") === "click")
      .join(a, "user_id").filter(col("us") > col("t1"))
      .groupBy("user_id").agg(min(col("us")).as("t2"))
    val c = ev.filter(col("event_type") === "purchase")
      .join(b, "user_id").filter(col("us") > col("t2"))
      .groupBy("user_id").agg(min(col("us")).as("t3"))
    def stage(n: Int, step: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(n).as("stage"), lit(step).as("step"), col("n_users"))
    stage(1, "signup", a)
      .unionByName(stage(2, "click_after_signup", b))
      .unionByName(stage(3, "purchase_after_click", c))
      .orderBy("stage")
  }

  // Cohort retention: users bucketed by first-activity day, activity
  // counted per (cohort day, day offset) — the classic retention
  // triangle. Day indices are integer epoch-day divisions (no DATE
  // types on the wire, per oracle-parity rules); the cohort dimension
  // joins on user_id.
  val cohortRetention: QueryDef = QueryDef.sql("q_cohort_retention")(
    """WITH u AS (SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS cohort_day
      |           FROM events GROUP BY 1),
      |x AS (SELECT e.user_id, u.cohort_day,
      |        epoch_us(e.ts) // 86400000000 - u.cohort_day AS day_offset
      |      FROM events e JOIN u ON e.user_id = u.user_id)
      |SELECT cohort_day, day_offset, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
    val u = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    ev.join(u, "user_id")
      .select(col("user_id"), col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .groupBy("cohort_day", "day_offset")
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  // OHLC downsampling — the classic time-series bar aggregation: per
  // (event_type, hour), the time-ordered first/last value plus range
  // and volume. First/last are rank-1 picks over an explicit
  // (ts, event_id) window order (same discipline as q_arg_extremes:
  // native first()/arg_min tie-breaking is engine-defined, the window
  // is not); everything else is a plain hash aggregate. Windows
  // partition by (type, hour) — high-cardinality keys that scale with
  // the data, never a global sort.
  val ohlcHourly: QueryDef = QueryDef.sql("q_ohlc_hourly")(
    """WITH r AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hr, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
      |      ORDER BY ts, event_id) AS rfirst,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rlast
      |  FROM events)
      |SELECT event_type, hr,
      |  MAX(CASE WHEN rfirst = 1 THEN value END) AS open_v,
      |  MAX(value) AS high_v, MIN(value) AS low_v,
      |  MAX(CASE WHEN rlast = 1 THEN value END) AS close_v,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val base = Tables.events(s, dir)
      .withColumn("hr", date_trunc("hour", col("ts")))
    val wf = Window.partitionBy("event_type", "hr")
      .orderBy(col("ts").asc, col("event_id").asc)
    val wl = Window.partitionBy("event_type", "hr")
      .orderBy(col("ts").desc, col("event_id").desc)
    base
      .withColumn("rfirst", row_number().over(wf))
      .withColumn("rlast", row_number().over(wl))
      .groupBy("event_type", "hr")
      .agg(
        max(when(col("rfirst") === 1, col("value"))).as("open_v"),
        max(col("value")).as("high_v"),
        min(col("value")).as("low_v"),
        max(when(col("rlast") === 1, col("value"))).as("close_v"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("volume"))
      .orderBy("event_type", "hr")
  }

  // Rolling exact median — the robust trailing statistic (median is
  // outlier-proof where the running mean is not). The frame is a FIXED
  // 100 rows, so per-row cost is O(frame), not O(partition). Originally
  // a `percentile(value, 0.5)` sliding window: WindowExec re-builds the
  // percentile buffer per OUTPUT row (O(frame) hash inserts + a sort,
  // ~100× the needed work) and `PARTITION BY event_type` caps the stage
  // at one task per event type at ANY scale. Since r17 it runs through
  // [[graft.ops.RollingMedian]]: the same (type, ts, event_id) total
  // order as ONE input-sized range sort, then an order-statistics
  // buffer per partition with predecessor-tail seeding — O(log frame)
  // compare + one ≤800-byte memcpy per row, parallelism ∝ input, and
  // the median replicates Percentile.getPercentile bit-for-bit
  // (RollingMedianSpec pins window ≡ two-phase on real data).
  val rollingMedian: QueryDef = QueryDef.pinned("q_rolling_median")(
    """SELECT event_id, event_type, value,
      |  ROUND(median(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
      |    ROWS BETWEEN 99 PRECEDING AND CURRENT ROW), 6) AS med100
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir, pins) =>
    val base = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        // micros long, not Timestamp: same total order, no per-row
        // java.sql.Timestamp boxing through the RDD phases
        unix_micros(col("ts")).as("__tsu"))
    // the pinned range-sorted RDD is held in the query's pins and
    // dropped as soon as the consumer has read the result, instead of
    // stranding an input-sized MEMORY_AND_DISK block until the harness
    // sweep (VERDICT r17 item 7)
    graft.ops.RollingMedian.withRollingMedian(
      base, "event_type", Seq(col("__tsu"), col("event_id")), "value",
      100, "__med", Tables.scaledPartitions(s, dir, "events"), pins)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("__med"), 6).as("med100"))
      .orderBy("event_id")
  }

  // Time-series similarity search (per the retrieved EDBT 2019 theme —
  // distributed similarity search over streaming series): z-normalized
  // Euclidean distance between a query window and every sliding window
  // of the hourly event-count series, UCR-suite style. Windows
  // materialize distributively — each hour explodes to the ≤24 windows
  // containing it and the group-by reassembles (type, wstart) vectors —
  // so the shuffle carries (series, window) keys, never a whole series
  // per task. Window values are exact integer counts, so the
  // mean/variance doubles are bit-identical cross-engine; only full
  // (24-hour) non-constant windows compete; the distance folds in
  // position order and rounds before the top-10 cut. The query window
  // is itself derived in-query (first full purchase window ≥ 100 hours
  // in), so the whole search is one declarative plan — at 100 TB the
  // same shape handles per-metric fleets of series.
  val tsSimilarity: QueryDef = QueryDef.pinned("q_ts_similarity")(
    """WITH hc AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) // 3600000000 AS hidx,
      |              COUNT(*) AS n
      |            FROM events GROUP BY 1, 2),
      |mem AS (SELECT event_type, hidx, n, UNNEST(generate_series(hidx - 23, hidx)) AS wstart FROM hc),
      |w0 AS (SELECT event_type, wstart, COUNT(*) AS sup,
      |         CAST(SUM(n) AS BIGINT) AS sx, CAST(SUM(n*n) AS BIGINT) AS sxx,
      |         list_transform(list(struct_pack(p := hidx - wstart, v := n) ORDER BY hidx - wstart),
      |           s -> CAST(s.v AS DOUBLE)) AS wv
      |       FROM mem GROUP BY 1, 2),
      |w AS (SELECT event_type, wstart, wv,
      |        CAST(sx AS DOUBLE)/24 AS m,
      |        CAST(sxx AS DOUBLE)/24 - (CAST(sx AS DOUBLE)/24)*(CAST(sx AS DOUBLE)/24) AS v
      |      FROM w0 WHERE sup = 24),
      |wz AS (SELECT event_type, wstart, wv, m, sqrt(v) AS sd FROM w WHERE v > 0),
      |qs AS (SELECT MIN(wstart) AS qstart FROM wz, (SELECT MIN(hidx) AS h0 FROM hc)
      |       WHERE event_type = 'purchase' AND wstart >= h0 + 100),
      |q AS (SELECT wv AS qv, m AS qm, sd AS qsd FROM wz, qs
      |      WHERE event_type = 'purchase' AND wstart = qstart),
      |terms AS (SELECT event_type, wstart, i,
      |            ((wv[i] - m)/sd - (qv[i] - qm)/qsd) * ((wv[i] - m)/sd - (qv[i] - qm)/qsd) AS term
      |          FROM wz CROSS JOIN q CROSS JOIN generate_series(1, 24) AS t(i)),
      |d AS (SELECT event_type, wstart,
      |        ROUND(list_reduce(list_prepend(0.0, list(term ORDER BY i)), (a, b) -> a + b), 6) AS dist2
      |      FROM terms GROUP BY 1, 2)
      |SELECT event_type, wstart, dist2 FROM d
      |ORDER BY dist2, event_type, wstart LIMIT 10""".stripMargin) { (s, dir, pins) =>
    val hc = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("hidx"))
      .agg(count(lit(1)).as("n"))
    val mem = hc.select(col("event_type"), col("hidx"), col("n"),
      explode(sequence(col("hidx") - 23, col("hidx"))).as("wstart"))
    val w = pins.persist(mem.groupBy("event_type", "wstart")
      .agg(count(lit(1)).as("sup"),
        sum("n").as("sx"), sum(col("n") * col("n")).as("sxx"),
        transform(
          sort_array(collect_list(struct((col("hidx") - col("wstart")).as("p"), col("n").as("v")))),
          e => e.getField("v").cast("double")).as("wv"))
      .filter(col("sup") === 24)
      .withColumn("m", col("sx").cast("double") / 24)
      .withColumn("v",
        col("sxx").cast("double") / 24 - (col("sx").cast("double") / 24) * (col("sx").cast("double") / 24))
      .filter(col("v") > 0)
      .withColumn("sd", sqrt(col("v"))))
    val qstart = w.filter(col("event_type") === "purchase")
      .crossJoin(broadcast(hc.agg((min("hidx") + 100).as("hq"))))
      .filter(col("wstart") >= col("hq"))
      .agg(min("wstart").as("qstart"))
    val q = w.filter(col("event_type") === "purchase")
      .crossJoin(broadcast(qstart))
      .filter(col("wstart") === col("qstart"))
      .select(col("wv").as("qv"), col("m").as("qm"), col("sd").as("qsd"))
    def znormDiff(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      (a - col("m")) / col("sd") - (b - col("qm")) / col("qsd")
    w.crossJoin(broadcast(q))
      .select(col("event_type"), col("wstart"),
        round(aggregate(
          zip_with(col("wv"), col("qv"), (a, b) => znormDiff(a, b) * znormDiff(a, b)),
          lit(0.0), (acc, x) => acc + x), 6).as("dist2"))
      .orderBy(col("dist2"), col("event_type"), col("wstart")).limit(10)
  }

  // Per-group closed-form linear regression (trend fitting): value ~
  // day-of-corpus per event_type, slope/intercept/r² from the five
  // moment sums — the grouped `regr_slope` family re-expressed as ONE
  // partial→final hash aggregate. The q_corr_exact discipline: every
  // sum is exact (x is an integer day index, y an exact DECIMAL(18,2)),
  // IEEE arithmetic appears only in the per-group closed-form formula
  // evaluated ONCE on the six exact scalars, so the result is
  // partition-order independent by construction. x is offset to day 0 =
  // 2024-01-01 (epoch day 19723) to keep the moment magnitudes small;
  // at 100 TB this is the canonical "fit a trend per key" shape — no
  // window, no sort, shuffle carries 6 numbers per group.
  val olsTrend: QueryDef = QueryDef.sql("q_ols_trend")(
    """WITH p AS (
      |  SELECT event_type,
      |    epoch_us(ts) // 86400000000 - 19723 AS x,
      |    CAST(value AS DECIMAL(18,2)) AS y
      |  FROM events),
      |m AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CAST(x AS DECIMAL(18,0))) AS sx,
      |    SUM(y) AS sy,
      |    SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS sxx,
      |    SUM(CAST(x AS DECIMAL(18,0)) * y) AS sxy,
      |    SUM(y * y) AS syy
      |  FROM p GROUP BY event_type)
      |SELECT event_type, n,
      |  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 12)
      |    AS slope_per_day,
      |  round((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
      |    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 12)
      |    AS intercept,
      |  round(pow(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2)
      |    / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 12)
      |    AS r2
      |FROM m ORDER BY event_type""".stripMargin) { (s, dir) =>
    val x = expr("unix_micros(ts) div 86400000000 - 19723")
      .cast(DecimalType(18, 0))
    val y = col("value").cast(DecimalType(18, 2))
    val m = Tables.events(s, dir)
      .select(col("event_type"), x.as("x"), y.as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
    val (n, sx, sy, sxx, sxy, syy) = (col("n"),
      col("sx").cast("double"), col("sy").cast("double"),
      col("sxx").cast("double"), col("sxy").cast("double"),
      col("syy").cast("double"))
    m.select(col("event_type"), n,
        round((n * sxy - sx * sy) / (n * sxx - sx * sx), 12).as("slope_per_day"),
        round((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 12).as("intercept"),
        round(pow(n * sxy - sx * sy, 2)
          / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 12).as("r2"))
      .orderBy("event_type")
  }

  // Robust outlier detection: per-type exact median + MAD (median
  // absolute deviation), flag events with |x − med| > 3·MAD. The whole
  // query runs in INTEGER CENTS (values are 2-decimal by construction),
  // so both medians come out of the q_percentiles_hist histogram-CDF
  // shape EXACT — per-(type, cent) counts are one partial→final
  // aggregate, the cumulative window only ever sees the tiny bin
  // table, and the nearest-rank pick is integer arithmetic. The
  // per-type (median, MAD) relation is a handful of rows, so both
  // join-backs broadcast; nothing in the plan sorts the corpus. The
  // classic z-score filter breaks on heavy tails — MAD is the
  // data-cleaning gate a 100 TB ingest actually wants.
  val madOutliers: QueryDef = QueryDef.sql("q_mad_outliers")(
    """WITH c AS (SELECT event_id, event_type, value,
      |             CAST(round(value * 100, 0) AS BIGINT) AS cent
      |           FROM events),
      |h1 AS (SELECT event_type, cent, CAST(COUNT(*) AS BIGINT) AS k
      |       FROM c GROUP BY 1, 2),
      |cdf1 AS (SELECT event_type, cent,
      |           CAST(SUM(k) OVER (PARTITION BY event_type ORDER BY cent) AS BIGINT) AS cum,
      |           CAST(SUM(k) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |         FROM h1),
      |med AS (SELECT event_type,
      |          MIN(CASE WHEN 2 * cum >= n THEN cent END) AS med_c
      |        FROM cdf1 GROUP BY event_type),
      |d AS (SELECT c.event_id, c.event_type, c.value, c.cent,
      |        abs(c.cent - m.med_c) AS dev_c, m.med_c
      |      FROM c JOIN med m ON c.event_type = m.event_type),
      |h2 AS (SELECT event_type, dev_c, CAST(COUNT(*) AS BIGINT) AS k
      |       FROM d GROUP BY 1, 2),
      |cdf2 AS (SELECT event_type, dev_c,
      |           CAST(SUM(k) OVER (PARTITION BY event_type ORDER BY dev_c) AS BIGINT) AS cum,
      |           CAST(SUM(k) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |         FROM h2),
      |mad AS (SELECT event_type,
      |          MIN(CASE WHEN 2 * cum >= n THEN dev_c END) AS mad_c
      |        FROM cdf2 GROUP BY event_type)
      |SELECT d.event_id, d.event_type, d.value, d.med_c, d.dev_c, mad.mad_c
      |FROM d JOIN mad ON d.event_type = mad.event_type
      |WHERE d.dev_c > 3 * mad.mad_c
      |ORDER BY d.event_id""".stripMargin) { (s, dir) =>
    // nearest-rank pick shared by both medians: smallest bin with
    // 2·cum ≥ n (integer form of cum ≥ ceil(n/2) — no float rank)
    def histMedian(binned: org.apache.spark.sql.DataFrame, bin: String, out: String) = {
      val h = binned.groupBy("event_type", bin).agg(count(lit(1)).as("k"))
      h.withColumn("cum",
          sum(col("k")).over(Window.partitionBy("event_type").orderBy(bin)))
        .withColumn("n", sum(col("k")).over(Window.partitionBy("event_type")))
        .groupBy("event_type")
        .agg(min(when(lit(2) * col("cum") >= col("n"), col(bin))).as(out))
    }
    val c = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("value") * 100, 0).cast("long").as("cent"))
    val med = histMedian(c, "cent", "med_c")
    val d = c.join(broadcast(med), "event_type")
      .withColumn("dev_c", abs(col("cent") - col("med_c")))
    val mad = histMedian(d.select(col("event_type"), col("dev_c")), "dev_c", "mad_c")
    d.join(broadcast(mad), "event_type")
      .filter(col("dev_c") > lit(3) * col("mad_c"))
      .select("event_id", "event_type", "value", "med_c", "dev_c", "mad_c")
      .orderBy("event_id")
  }

  val all: Seq[QueryDef] = Seq(
    semiJoin, antiJoin, outerJoin, distinctUsers, rollupCounts, occupancyRate,
    runningSum, eventGaps, sessionize, valueQuartiles.audit, valueQuartilesHist,
    valueHistogram,
    trailingWindow, dashboardTiles, percentiles.audit, percentilesHist,
    groupingSets, gapFill,
    rankFuncs, rangeFrame, ewma, eventFunnel, cohortRetention, ohlcHourly,
    rollingMedian, tsSimilarity, attribution, olsTrend, madOutliers,
    percentileRanks)
}
