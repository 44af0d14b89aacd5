package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.ops.GlobalIndex

/** Scale-technique operators: each query demonstrates a pattern that
  * keeps working at 1000 executors — distributed global ordering, skew
  * salting, columnar-format round-trips, exact moment statistics — and
  * hash-matches an oracle that states the SAME semantics in the naive
  * (single-node-friendly) form. Correctness is the oracle; the value is
  * the physical shape.
  */
object Scale {

  // Global row numbering WITHOUT the single-partition window.
  // row_number() OVER (ORDER BY ...) — the oracle — is the semantics;
  // the implementation is range-repartition + sort + per-partition
  // offset labeling (ops.GlobalIndex), which has no single-task funnel.
  // Tie-break on o_orderkey makes the total order unique, so the two
  // shapes agree row-for-row.
  val globalRownum: QueryDef = QueryDef.pinned("q_global_rownum")(
    """SELECT o_orderkey, o_totalprice,
      |  ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |FROM orders ORDER BY rn""".stripMargin) { (s, dir, pins) =>
    GlobalIndex.withRowNumber(
        Tables.orders(s, dir).select("o_orderkey", "o_totalprice"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), "rn", pins)
      .orderBy("rn")
  }

  // Skew-salted fact⋈dim join: the fact side's hot keys are split into
  // SaltBuckets sub-keys (salt = hash(row id) mod S), the dim side is
  // replicated S× with an explode, and the join runs on (key, salt) —
  // every hot key's rows spread over S tasks instead of one straggler.
  // The oracle is the PLAIN join: salting must be a pure physical
  // rewrite, invisible in the result.
  private val SaltBuckets = 8
  val saltedJoin: QueryDef = QueryDef.sql("q_salted_join")(
    """WITH dim AS (
      |  SELECT user_id, COUNT(*) AS user_events,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS user_purchases
      |  FROM events GROUP BY user_id)
      |SELECT e.event_id, e.user_id, d.user_events, d.user_purchases
      |FROM events e JOIN dim d ON e.user_id = d.user_id
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val dim = ev.groupBy("user_id")
      .agg(count(lit(1)).as("user_events"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).cast("long")
          .as("user_purchases"))
    val salted = ev.select(col("event_id"), col("user_id"),
      pmod(hash(col("event_id")), lit(SaltBuckets)).as("__salt"))
    val dimSalted = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(SaltBuckets - 1))))
    // shuffle_hash hint: at THIS size Spark would broadcast the dim and
    // the salt would never reach a shuffle — force the shuffled path the
    // technique exists for (at 100 TB the dim is past broadcast range)
    salted.join(dimSalted.hint("shuffle_hash"), Seq("user_id", "__salt"))
      .select("event_id", "user_id", "user_events", "user_purchases")
      .orderBy("event_id")
  }

  // ORC source/sink round-trip: events → ORC files → scan → aggregate.
  // Exercises the second columnar format end-to-end (schema + timestamp
  // fidelity through the write/read cycle); the oracle reads the
  // original parquet, so any round-trip corruption breaks the hash.
  val sourceOrc: QueryDef = QueryDef.sql("q_source_orc")(
    """SELECT event_type, COUNT(*) AS n,
      |  min(value) AS min_v, max(value) AS max_v,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    // same per-run unique scratch path as q_source_json (race-free under
    // concurrent bench/verify runs sharing a working directory)
    val path = s"target/tmp/q_source_orc-${java.util.UUID.randomUUID().toString.take(8)}"
    graft.core.Spill.track(path)
    Tables.events(s, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").orc(path)
    s.read.orc(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
      .orderBy("event_type")
  }

  // JSON-lines source/sink round-trip: events → JSON files → schema-on-
  // read scan → aggregate. The third storage format end-to-end (after
  // parquet and ORC). Timestamps travel as explicit unix_micros longs —
  // the JSON writer's default timestamp format truncates to millis, so
  // fidelity-critical pipelines put epoch integers on the wire (same
  // rule the oracle-parity discipline applies to outputs). Doubles
  // round-trip exactly (shortest-repr encoding).
  val sourceJson: QueryDef = QueryDef.sql("q_source_json")(
    """SELECT event_type, COUNT(*) AS n,
      |  min(value) AS min_v, max(value) AS max_v,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    // unique per-run scratch path (tracked for Spill.cleanup): a fixed
    // relative path races when concurrent bench/verify runs share a
    // working directory — one run can read another's half-written output
    val path = s"target/tmp/q_source_json-${java.util.UUID.randomUUID().toString.take(8)}"
    graft.core.Spill.track(path)
    Tables.events(s, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").json(path)
    s.read
      .schema("event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      .json(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
      .orderBy("event_type")
  }

  // Schema evolution across file epochs: a 100 TB corpus is written over
  // months, and later files carry columns earlier files lack. Epoch 0
  // (even doc_ids) is written with the legacy (doc_id, lang) schema;
  // epoch 1 (odd) with the full (doc_id, lang, source, n_chars) schema
  // into the SAME directory. mergeSchema=true unions by name — legacy
  // rows surface NULL for the added columns — and the aggregate proves
  // the merge: per-lang totals, non-null counts of the new columns, and
  // a legacy-row census (n_chars IS NULL ⇔ epoch 0; the base table has
  // no NULL n_chars, so the equivalence is exact). The oracle recomputes
  // the same facts from the unsplit table via the doc_id parity that
  // defined the epochs. At scale, mergeSchema's footer-union cost is
  // per-FILE (schema metadata only, no data read) — the read itself
  // still prunes columns per file.
  val schemaEvolution: QueryDef = QueryDef.sql("q_schema_evolution")(
    """SELECT lang, COUNT(*) AS n,
      |  CAST(COUNT(CASE WHEN doc_id % 2 = 1 THEN source END) AS BIGINT) AS n_source,
      |  CAST(COUNT(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_legacy,
      |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS chars_new
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val path = s"target/tmp/q_schema_evolution-${java.util.UUID.randomUUID().toString.take(8)}"
    graft.core.Spill.track(path)
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % 2 === 0)
      .select("doc_id", "lang")
      .write.mode("overwrite").parquet(s"$path/epoch=0")
    docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$path/epoch=1")
    s.read.option("mergeSchema", "true").parquet(s"$path/epoch=0", s"$path/epoch=1")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        count(col("source")).as("n_source"),
        count(when(col("n_chars").isNull, lit(1))).as("n_legacy"),
        sum(col("n_chars")).as("chars_new"))
      .orderBy("lang")
  }

  // Distribution-position window family: percent_rank / cume_dist plus
  // the frame-sensitive value pickers (nth/first/last over the full
  // partition frame — the default RANGE frame would stop at CURRENT ROW
  // and make last_value a no-op). Unique tie-break via event_id keeps
  // every output deterministic; percent_rank's (rank-1)/(n-1) is an
  // exact int/int division on both engines.
  val windowFuncs2: QueryDef = QueryDef.sql("q_window_funcs2")(
    """SELECT event_id, event_type, value,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd,
      |  nth_value(value, 3) OVER wf AS third_v,
      |  first_value(value) OVER wf AS min_v,
      |  last_value(value) OVER wf AS max_v
      |FROM events
      |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id),
      |  wf AS (PARTITION BY event_type ORDER BY value, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("event_type").orderBy("value", "event_id")
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        nth_value(col("value"), 3).over(wf).as("third_v"),
        first(col("value")).over(wf).as("min_v"),
        last(col("value")).over(wf).as("max_v"))
      .orderBy("event_id")
  }

  // Bitwise aggregates — set-membership style folds over integer keys
  // (bit_and/bit_or/bit_xor are all associative+commutative, so they
  // partial-aggregate map-side like sum).
  val bitwiseAgg: QueryDef = QueryDef.sql("q_bitwise_agg")(
    """SELECT user_id,
      |  bit_and(event_id) AS band, bit_or(event_id) AS bor,
      |  bit_xor(event_id) AS bxor, COUNT(*) AS n
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(expr("bit_and(event_id)").as("band"),
        expr("bit_or(event_id)").as("bor"),
        expr("bit_xor(event_id)").as("bxor"),
        count(lit(1)).as("n"))
      .orderBy("user_id")
  }

  // Exact Pearson correlation from exact decimal moment sums: corr()'s
  // streaming double accumulation is partition-order dependent, so the
  // five moments (Sx, Sy, Sxx, Syy, Sxy) accumulate as DECIMAL —
  // associative, order-free — and the final formula runs once per group
  // in double, identical on any partitioning. The moment sums can
  // exceed 2^53 scaled units, where DECIMAL→DOUBLE conversion itself
  // rounds — and the two engines can double-round differently by one
  // ulp (observed on one sf0.001 group), so the final correlation is
  // rounded to 12 decimals (≈10 significant digits at |corr|~0.01,
  // far above the conversion noise) — same ulp-absorption discipline
  // as the ln()/exp() queries.
  val corrExact: QueryDef = QueryDef.sql("q_corr_exact")(
    """WITH m AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 12)
      |    AS corr_qty_price
      |FROM m ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val x = col("l_quantity").cast("decimal(18,2)")
    val y = col("l_extendedprice").cast("decimal(18,2)")
    // the five decimal moment partials are the whole cost and run in
    // the scan stage — widen a narrower-than-cluster scan so they
    // parallelize (exact decimal sums are partitioning-free); no-op at
    // scale (ops.Par.widenInput)
    val m = graft.ops.Par.widenInput(Tables.lineitem(s, dir), dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
    val (n, sx, sy, sxx, syy, sxy) = (col("n"),
      col("sx").cast("double"), col("sy").cast("double"),
      col("sxx").cast("double"), col("syy").cast("double"),
      col("sxy").cast("double"))
    m.select(col("l_returnflag"), n,
        round((n * sxy - sx * sy)
          / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 12)
          .as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  // Snapshot CDC diff: compare two last-write-wins states of a keyed
  // store — state(T) at the two-thirds timestamp vs state(now), keyed
  // by (user_id, week) — and classify every key as added (first seen
  // after T), changed (a later event moved its latest record), or
  // unchanged. This is the change-data-capture primitive a 100 TB
  // incremental pipeline runs between ingest snapshots to touch only
  // the delta downstream. Scale shape: both states are one hash-
  // aggregate over the SAME shuffle key — co-partitioned, so the diff
  // join adds no extra shuffle — and latest-row selection is max_by
  // over a (ts_us, event_id) tuple, which partial-aggregates map-side
  // (the oracle states the same semantics as the naive per-key
  // ROW_NUMBER window). The 2/3 split (not 1/2) lands mid-week on this
  // dataset, so all three statuses are populated at every SF.
  private val WeekUs = 7L * 86400000000L
  val snapshotDiff: QueryDef = QueryDef.sql("q_snapshot_diff")(
    s"""WITH b AS (SELECT (min(epoch_us(ts)) + 2 * max(epoch_us(ts))) // 3
       |             AS split FROM events),
       |base AS (SELECT user_id, epoch_us(ts) // $WeekUs AS week,
       |           epoch_us(ts) AS ts_us, event_id, event_type
       |         FROM events),
       |old AS (SELECT user_id, week, ts_us AS old_ts_us, event_type AS old_type
       |        FROM (SELECT user_id, week, ts_us, event_type,
       |                ROW_NUMBER() OVER (PARTITION BY user_id, week
       |                  ORDER BY ts_us DESC, event_id DESC) AS rn
       |              FROM base WHERE ts_us < (SELECT split FROM b))
       |        WHERE rn = 1),
       |new AS (SELECT user_id, week, ts_us AS new_ts_us, event_type AS new_type
       |        FROM (SELECT user_id, week, ts_us, event_type,
       |                ROW_NUMBER() OVER (PARTITION BY user_id, week
       |                  ORDER BY ts_us DESC, event_id DESC) AS rn
       |              FROM base)
       |        WHERE rn = 1)
       |SELECT n.user_id, n.week,
       |  CASE WHEN o.user_id IS NULL THEN 'added'
       |       WHEN o.old_ts_us <> n.new_ts_us THEN 'changed'
       |       ELSE 'unchanged' END AS status,
       |  o.old_ts_us, o.old_type, n.new_ts_us, n.new_type
       |FROM new n LEFT JOIN old o ON n.user_id = o.user_id AND n.week = o.week
       |ORDER BY n.user_id, n.week""".stripMargin) { (s, dir) =>
    val base = Tables.events(s, dir)
      .select(col("user_id"),
        expr(s"unix_micros(ts) div $WeekUs").as("week"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
    // split point as one integer expression over (min, max) —
    // deterministic, computed once (tiny aggregate)
    val split = base
      .agg(expr("(min(ts_us) + 2 * max(ts_us)) div 3").as("split"))
      .first().getLong(0)
    def latest(df: org.apache.spark.sql.DataFrame, p: String) = df
      .groupBy("user_id", "week")
      .agg(
        max_by(col("ts_us"), struct(col("ts_us"), col("event_id")))
          .as(s"${p}_ts_us"),
        max_by(col("event_type"), struct(col("ts_us"), col("event_id")))
          .as(s"${p}_type"))
    val old = latest(base.filter(col("ts_us") < split), "old")
    val now = latest(base, "new")
    now.join(old, Seq("user_id", "week"), "left")
      .select(col("user_id"), col("week"),
        when(col("old_ts_us").isNull, "added")
          .when(col("old_ts_us") =!= col("new_ts_us"), "changed")
          .otherwise("unchanged").as("status"),
        col("old_ts_us"), col("old_type"), col("new_ts_us"), col("new_type"))
      .orderBy("user_id", "week")
  }

  // Z-order (Morton) clustering: interleave the bits of two dimensions
  // so one linear sort key preserves locality in BOTH — the layout
  // trick behind multi-dimensional data skipping (Delta/Iceberg
  // OPTIMIZE ZORDER BY). Files written in z order carry tight min/max
  // ranges on every z-ordered column, so a 2-D box predicate prunes at
  // planning time instead of scanning. The query emits per-z-bucket
  // min/max stats plus whether the bucket can serve a sample box query
  // (user_id 100–200, value 100–200): `SUM(hit)` over the output IS the
  // file-skipping ratio a 100 TB table would see. The interleave is
  // pure integer bit arithmetic generated from one Scala constant for
  // both engines — no UDF, stays inside whole-stage codegen.
  private val ZBits = 16
  private def zExprSql(x: String, y: String): String =
    (0 until ZBits).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
  private def zExprCol(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until ZBits).map(i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        + shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
      .reduce(_ + _)
  val zorder: QueryDef = QueryDef.sql("q_zorder")(
    s"""WITH d AS (
       |  SELECT user_id % 65536 AS xb,
       |    CAST(floor(value * 100) AS BIGINT) % 65536 AS yb
       |  FROM events),
       |z AS (SELECT xb, yb, ${zExprSql("xb", "yb")} AS zv FROM d)
       |SELECT zv >> 24 AS z_bucket, COUNT(*) AS n,
       |  min(xb) AS min_x, max(xb) AS max_x,
       |  min(yb) AS min_y, max(yb) AS max_y,
       |  CAST(max(xb) >= 100 AND min(xb) <= 200
       |    AND max(yb) >= 10000 AND min(yb) <= 20000 AS INT) AS hit
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val d = Tables.events(s, dir).select(
      pmod(col("user_id"), lit(65536L)).as("xb"),
      pmod(floor(col("value") * 100).cast("long"), lit(65536L)).as("yb"))
    d.select(col("xb"), col("yb"), zExprCol(col("xb"), col("yb")).as("zv"))
      .groupBy(shiftright(col("zv"), 24).as("z_bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("xb")).as("min_x"), max(col("xb")).as("max_x"),
        min(col("yb")).as("min_y"), max(col("yb")).as("max_y"),
        (max(col("xb")) >= 100 && min(col("xb")) <= 200
          && max(col("yb")) >= 10000 && min(col("yb")) <= 20000)
          .cast("int").as("hit"))
      .orderBy("z_bucket")
  }

  // Skew diagnostics: the report a 100 TB job reads BEFORE choosing a
  // join strategy — per-key row counts for the heaviest keys, each
  // key's share of the table, its ratio to the mean key, and the salt
  // factor that would level it (ceil(n / mean), the S in q_salted_join).
  // One hash-aggregate + a global top-k (per-partition heaps, no full
  // sort) + a broadcast of the 2-row totals; nothing here gets more
  // expensive as keys get hotter.
  val skewReport: QueryDef = QueryDef.sql("q_skew_report")(
    """WITH per AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
      |               CAST(COUNT(*) AS BIGINT) AS n_keys FROM per),
      |top AS (SELECT user_id, n,
      |          ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rnk
      |        FROM per)
      |SELECT t.rnk, t.user_id, t.n,
      |  CAST(t.n AS DOUBLE) / tot.total AS share,
      |  CAST(t.n AS DOUBLE) * tot.n_keys / tot.total AS skew_ratio,
      |  CAST(ceil(CAST(t.n AS DOUBLE) * tot.n_keys / tot.total) AS BIGINT)
      |    AS salt_factor
      |FROM top t CROSS JOIN tot WHERE t.rnk <= 10
      |ORDER BY t.rnk""".stripMargin) { (s, dir) =>
    val per = Tables.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val tot = per.agg(sum(col("n")).cast("long").as("total"),
      count(lit(1)).cast("long").as("n_keys"))
    // top-10 via orderBy+limit → TakeOrderedAndProject (partition-local
    // heaps merged on the driver); rank assigned after, over 10 rows
    val top = per.orderBy(col("n").desc, col("user_id")).limit(10)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("n").desc, col("user_id"))))
    val ratio = col("n").cast("double") * col("n_keys") / col("total")
    top.crossJoin(broadcast(tot))
      .select(col("rnk"), col("user_id"), col("n"),
        (col("n").cast("double") / col("total")).as("share"),
        ratio.as("skew_ratio"),
        ceil(ratio).cast("long").as("salt_factor"))
      .orderBy("rnk")
  }

  // Incremental aggregate maintenance: a materialized view at 100 TB is
  // never fully recomputed — the standing per-(type, day) state merges
  // with the new batch's PARTIAL aggregate. Counts and decimal sums are
  // mergeable (associative); the average is derived AFTER the merge
  // (sum/count — merging averages directly would weight batches
  // equally and be wrong). The oracle is the full recompute, so the
  // merge path must be indistinguishable from it. Scale shape: the
  // delta batch aggregates alone (predicate pushed to the scan), and
  // the merge is an aggregate over |state| + |delta| rows — never over
  // the raw history.
  val incrAggMerge: QueryDef = QueryDef.sql("q_incr_agg_merge")(
    """WITH b AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS split
      |           FROM events)
      |SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_v
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val base = Tables.events(s, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
    val split = base
      .agg(expr("(min(ts_us) + max(ts_us)) div 2").as("split"))
      .first().getLong(0)
    def partial(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sum_dec"))
    val state = partial(base.filter(col("ts_us") < split))
    val delta = partial(base.filter(col("ts_us") >= split))
    state.unionByName(delta)
      .groupBy("event_type", "day")
      .agg(sum(col("n")).as("n"), sum(col("sum_dec")).as("sum_dec"))
      .select(col("event_type"), col("day"), col("n"),
        col("sum_dec").cast("double").as("sum_v"),
        (col("sum_dec").cast("double") / col("n")).as("avg_v"))
      .orderBy("event_type", "day")
  }

  // Bucketed co-located join: both sides are written as BUCKETED tables
  // on the join key (8 buckets, same hash), so the join consumes the
  // on-disk partitioning directly — zero Exchange in the join subplan
  // (ScaleRound6Spec asserts it on the executed plan). This is the
  // pre-partitioning answer to q_salted_join's problem: pay the shuffle
  // ONCE at write time, then every future join on the key is
  // shuffle-free — the standard layout contract for a 100 TB fact
  // table that joins on the same key daily. The merge hint forces the
  // sort-merge path a cluster-sized dim would take (at this test size
  // Spark would broadcast and the bucketing would never be exercised).
  private[graft] def bucketedJoinParts(s: SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, () => Unit) = {
    val tag = java.util.UUID.randomUUID().toString.take(8).replace("-", "")
    val factT = s"graft_bkt_fact_$tag"
    val dimT = s"graft_bkt_dim_$tag"
    val ev = Tables.events(s, dir)
    ev.select("event_id", "user_id", "value")
      .repartition(8, col("user_id"))
      .write.bucketBy(8, "user_id").sortBy("user_id")
      .mode("overwrite").saveAsTable(factT)
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("user_events"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).cast("long")
          .as("user_purchases"))
      .repartition(8, col("user_id"))
      .write.bucketBy(8, "user_id").sortBy("user_id")
      .mode("overwrite").saveAsTable(dimT)
    val joined = s.table(factT)
      .join(s.table(dimT).hint("merge"), Seq("user_id"))
      .select("event_id", "user_id", "user_events", "user_purchases")
    (joined, () => {
      s.sql(s"DROP TABLE IF EXISTS $factT")
      s.sql(s"DROP TABLE IF EXISTS $dimT")
    })
  }
  val bucketedJoin: QueryDef = QueryDef.sql("q_bucketed_join")(
    """WITH dim AS (
      |  SELECT user_id, COUNT(*) AS user_events,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS user_purchases
      |  FROM events GROUP BY user_id)
      |SELECT e.event_id, e.user_id, d.user_events, d.user_purchases
      |FROM events e JOIN dim d ON e.user_id = d.user_id
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val (joined, drop) = bucketedJoinParts(s, dir)
    // materialize (to temp parquet) BEFORE dropping the tables the
    // lazy plan reads from; the returned frame is self-contained
    try graft.core.Spill.materialize(joined.orderBy("event_id")) finally drop()
  }

  // Data-quality constraint report (the Deequ pattern): the validation
  // gate a pipeline runs BEFORE a snapshot is promoted to training.
  // Every constraint metric comes from ONE aggregate pass over the
  // table (completeness, uniqueness, range, set membership, volume) —
  // the report never rescans per check, which is what keeps a 50-check
  // suite a single job at 100 TB. Metrics are exact-integer ratios
  // surfaced as one IEEE division each; thresholds compare on the
  // rounded metric so the pass flag is ulp-proof cross-engine.
  val dqChecks: QueryDef = QueryDef.sql("q_dq_checks")(
    """WITH m AS (SELECT
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(COUNT(event_id) AS BIGINT) AS n_id,
      |    CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_id_distinct,
      |    CAST(COUNT(value) AS BIGINT) AS n_value,
      |    CAST(SUM(CASE WHEN value >= 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_value_nonneg,
      |    CAST(SUM(CASE WHEN event_type IN
      |        ('click','purchase','view','signup','error','logout')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_type_known,
      |    CAST(SUM(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_value_soft
      |  FROM events)
      |SELECT chk, round(metric, 6) AS metric,
      |  CAST(round(metric, 6) >= threshold AS INT) AS passed
      |FROM (
      |  SELECT 'completeness_event_id' AS chk,
      |    CAST(n_id AS DOUBLE) / n_rows AS metric, 1.0 AS threshold FROM m
      |  UNION ALL SELECT 'uniqueness_event_id',
      |    CAST(n_id_distinct AS DOUBLE) / n_rows, 1.0 FROM m
      |  UNION ALL SELECT 'completeness_value',
      |    CAST(n_value AS DOUBLE) / n_rows, 1.0 FROM m
      |  UNION ALL SELECT 'value_nonnegative',
      |    CAST(n_value_nonneg AS DOUBLE) / n_rows, 1.0 FROM m
      |  UNION ALL SELECT 'event_type_in_set',
      |    CAST(n_type_known AS DOUBLE) / n_rows, 0.95 FROM m
      |  UNION ALL SELECT 'value_within_soft_cap',
      |    CAST(n_value_soft AS DOUBLE) / n_rows, 0.99 FROM m
      |  UNION ALL SELECT 'volume_min_rows',
      |    CAST(n_rows AS DOUBLE), 100.0 FROM m)
      |ORDER BY chk""".stripMargin) { (s, dir) =>
    val m = Tables.events(s, dir).agg(
      count(lit(1)).as("n_rows"),
      count(col("event_id")).as("n_id"),
      count_distinct(col("event_id")).as("n_id_distinct"),
      count(col("value")).as("n_value"),
      sum(when(col("value") >= 0, 1).otherwise(0)).cast("long")
        .as("n_value_nonneg"),
      sum(when(col("event_type").isin(
          "click", "purchase", "view", "signup", "error", "logout"), 1)
        .otherwise(0)).cast("long").as("n_type_known"),
      sum(when(col("value") <= 100, 1).otherwise(0)).cast("long")
        .as("n_value_soft"))
    val checks: Seq[(String, org.apache.spark.sql.Column, Double)] = Seq(
      ("completeness_event_id", col("n_id").cast("double") / col("n_rows"), 1.0),
      ("uniqueness_event_id", col("n_id_distinct").cast("double") / col("n_rows"), 1.0),
      ("completeness_value", col("n_value").cast("double") / col("n_rows"), 1.0),
      ("value_nonnegative", col("n_value_nonneg").cast("double") / col("n_rows"), 1.0),
      ("event_type_in_set", col("n_type_known").cast("double") / col("n_rows"), 0.95),
      // deliberately-failing soft cap: the report must DISCRIMINATE —
      // a suite that can only say "pass" verifies nothing
      ("value_within_soft_cap", col("n_value_soft").cast("double") / col("n_rows"), 0.99),
      ("volume_min_rows", col("n_rows").cast("double"), 100.0))
    // stack() pivots the single metrics row into check rows inside ONE
    // projection — a per-branch union would re-run the aggregate
    val stacked = stack(
      lit(checks.size) +: checks.flatMap { case (name, metric, threshold) =>
        Seq(lit(name), round(metric, 6), lit(threshold))
      }: _*).as(Seq("chk", "metric", "threshold"))
    m.select(stacked)
      .select(col("chk"), col("metric"),
        (col("metric") >= col("threshold")).cast("int").as("passed"))
      .orderBy("chk")
  }

  // Partition-scoped backfill through DYNAMIC partition overwrite: the
  // standard fix-one-day operation on a date-partitioned 100 TB table.
  // Phase 1 writes the full per-(day, type) rollup partitioned by day;
  // phase 2 recomputes ONE day from source (predicate pushed to the
  // scan) and overwrites in dynamic mode — only that day's directory is
  // replaced. The oracle is the full recompute, so BOTH failure modes
  // break the hash: static overwrite would delete every other day
  // (missing rows), append would duplicate the backfilled day.
  val partitionBackfill: QueryDef = QueryDef.sql("q_partition_backfill")(
    """WITH b AS (SELECT (min(epoch_us(ts)) // 86400000000
      |                 + max(epoch_us(ts)) // 86400000000) // 2 AS bday
      |           FROM events),
      |agg AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |          event_type, COUNT(*) AS n,
      |          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      |        FROM events GROUP BY 1, 2)
      |SELECT day, event_type, n, sum_v,
      |  CAST(day = (SELECT bday FROM b) AS INT) AS backfilled
      |FROM agg ORDER BY day, event_type""".stripMargin) { (s, dir) =>
    val base = Tables.events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type"), col("value"))
    def rollup(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sum_dec"))
    val bday = base.agg(expr("(min(day) + max(day)) div 2")).first().getLong(0)
    val store = s"target/tmp/q_backfill-${java.util.UUID.randomUUID().toString.take(8)}"
    graft.core.Spill.track(store)
    rollup(base).write.partitionBy("day").mode("overwrite").parquet(store)
    // the backfill: ONE day recomputed and swapped in; dynamic mode
    // keeps every other day's directory untouched
    rollup(base.filter(col("day") === bday))
      .write.partitionBy("day").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(store)
    s.read.parquet(store)
      .select(col("day").cast("long").as("day"), col("event_type"), col("n"),
        col("sum_dec").cast("double").as("sum_v"),
        (col("day") === bday).cast("int").as("backfilled"))
      .orderBy("day", "event_type")
  }

  // Bloom-filter join pruning: the 100 TB semi-join pattern. A compact
  // bloom filter is built over the dim side's join keys (Spark's native
  // BloomFilterAggregate — the same sketch the AQE runtime filter
  // injects), evaluated ONCE as a scalar subquery, and applied to the
  // fact scan BEFORE the shuffle: non-matching rows die at the map side
  // instead of crossing the wire to be dropped by the join. Bloom
  // filters have false positives but never false negatives, so the
  // exact semi join that follows sees a superset of its matches and the
  // result is bit-identical to the unpruned plan — the oracle is the
  // PLAIN semi join. At sf0.1 the pre-filter removes ~96% of the fact
  // rows; at 100 TB that is the difference between shuffling the corpus
  // and shuffling the matches. (graft_bloom_agg / graft_might_contain
  // expose the internal expressions; xxhash64 maps keys to the LONG
  // domain the sketch hashes.)
  val bloomPrune: QueryDef = QueryDef.sql("q_bloom_prune")(
    """WITH dim AS (
      |  SELECT user_id FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id HAVING MAX(value) > 300)
      |SELECT e.event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      |FROM events e WHERE e.user_id IN (SELECT user_id FROM dim)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    graft.functions.Registry.once(s, "graft_bloom_agg")(
      exprs => new BloomFilterAggregate(exprs(0)))
    graft.functions.Registry.once(s, "graft_might_contain")(
      exprs => BloomFilterMightContain(exprs(0), exprs(1)))
    val view = s"ev_bloom_${java.util.UUID.randomUUID().toString.take(8)}"
    Tables.events(s, dir).createOrReplaceTempView(view)
    val out = s.sql(
      s"""WITH dim AS (
         |  SELECT user_id FROM $view WHERE event_type = 'purchase'
         |  GROUP BY user_id HAVING MAX(value) > 300),
         |pre AS (
         |  SELECT e.* FROM $view e
         |  WHERE graft_might_contain(
         |    (SELECT graft_bloom_agg(xxhash64(user_id)) FROM dim),
         |    xxhash64(e.user_id)))
         |SELECT e.event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         |FROM pre e WHERE e.user_id IN (SELECT user_id FROM dim)
         |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)
    s.catalog.dropTempView(view) // plan is analyzed; the view is no longer needed
    out
  }

  // Column profiler — the first thing run against any new table at any
  // scale. The logic is the schema-driven [[graft.ops.Profiler]] (one
  // Expand-based scan, driver-free unpivot; also the ProfileMain CLI),
  // applied here to lineitem; the oracle restates each column's
  // null/NDV/range rule explicitly, so the generic type dispatch is
  // what the hash verifies. Counts and exact input values only —
  // nothing float-unstable crosses the oracle hash.
  val columnProfile: QueryDef = {
    // (name, kind): num → min/max of the value; ts → min/max epoch-us;
    // str → no numeric range — mirrors Profiler.axis per column
    val profiled: Seq[(String, String)] = Seq(
      "l_orderkey" -> "num", "l_partkey" -> "num", "l_suppkey" -> "num",
      "l_linenumber" -> "num", "l_quantity" -> "num",
      "l_extendedprice" -> "num", "l_discount" -> "num", "l_tax" -> "num",
      "l_returnflag" -> "str", "l_linestatus" -> "str",
      "l_shipdate" -> "ts")
    val oracleSelects = profiled.map { case (c, kind) =>
      val (mn, mx) = kind match {
        case "num" => (s"CAST(MIN($c) AS DOUBLE)", s"CAST(MAX($c) AS DOUBLE)")
        case "ts" => (s"CAST(epoch_us(MIN($c)) AS DOUBLE)",
          s"CAST(epoch_us(MAX($c)) AS DOUBLE)")
        case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
      }
      s"""SELECT '$c' AS col_name, COUNT(*) - COUNT($c) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct, $mn AS min_num, $mx AS max_num
         |FROM lineitem""".stripMargin
    }
    QueryDef.sql("q_column_profile")(
      oracleSelects.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")) { (s, dir) =>
      graft.ops.Profiler.profile(Tables.lineitem(s, dir))
    }
  }

  // Incremental view maintenance for a JOIN — the delta algebra
  // Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB. The standing materialization
  // (base⋈base) is READ FROM STORAGE, never recomputed; the refresh
  // joins each (small) delta against the other side with the delta
  // broadcast, so refresh cost scales with the deltas, not the base —
  // the reason IVM exists at 100 TB. The four quadrant joins partition
  // the full join exactly (the splits are disjoint), so the refreshed
  // view is row-identical to recomputing from scratch: the oracle is
  // the plain full-table join.
  val ivmJoin: QueryDef = QueryDef.sql("q_ivm_join")(
    """SELECT o.o_orderkey AS okey, l.l_linenumber AS lnum,
      |  o.o_totalprice, l.l_quantity, l.l_extendedprice
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |ORDER BY okey, lnum""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    // independent splits: a delta row on one side must still join base
    // AND delta rows of the other — pmod 5 vs 7 exercises all quadrants
    val baseO = o.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
    val dO = o.filter(pmod(col("o_orderkey"), lit(5)) === 0)
    val baseL = l.filter(pmod(col("l_orderkey"), lit(7)) =!= 0)
    val dL = l.filter(pmod(col("l_orderkey"), lit(7)) === 0)
    def j(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.join(b, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey").as("okey"), col("l_linenumber").as("lnum"),
          col("o_totalprice"), col("l_quantity"), col("l_extendedprice"))
    val mv = s"target/tmp/q_ivm_join-${java.util.UUID.randomUUID().toString.take(8)}"
    graft.core.Spill.track(mv)
    j(baseO, baseL).write.mode("overwrite").parquet(mv) // the standing MV
    s.read.parquet(mv)
      .unionByName(j(broadcast(dO), baseL))
      .unionByName(j(baseO, broadcast(dL)))
      .unionByName(j(broadcast(dO), broadcast(dL)))
      .orderBy("okey", "lnum")
  }

  // SCD type-2 history build — the CDC companion to q_snapshot_diff:
  // instead of diffing two snapshots, fold a change STREAM into
  // versioned dimension rows. Each user's event_type sequence becomes
  // its attribute history: consecutive runs of the same type collapse
  // to one version with [valid_from, valid_to) bounds, the latest
  // version stays open (NULL valid_to), and versions number from 1.
  // Pure per-user window work — lag to find change points, a running
  // sum to number versions, lead to close each one — so the plan is
  // one user-partitioned sort with no corpus-wide window, the same
  // shape as q_sessionize.
  val scd2History: QueryDef = QueryDef.sql("q_scd2_history")(
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
      |    lag(event_type) OVER w AS prev_type
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |chg AS (
      |  SELECT user_id, event_type, ts_us,
      |    CAST(SUM(CASE WHEN prev_type IS NULL OR prev_type <> event_type
      |                  THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS version
      |  FROM e),
      |v AS (
      |  SELECT user_id, version, event_type,
      |    MIN(ts_us) AS valid_from
      |  FROM chg GROUP BY 1, 2, 3)
      |SELECT user_id, version, event_type, valid_from,
      |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
      |    AS valid_to
      |FROM v ORDER BY user_id, version""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wVer = Window.partitionBy("user_id").orderBy("version")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"), col("ts"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("version",
        sum(when(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"), 1).otherwise(0))
          .over(wRun))
      .groupBy("user_id", "version", "event_type")
      .agg(min(col("ts_us")).as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wVer))
      .orderBy("user_id", "version")
  }

  // DYNAMIC partition pruning — the join-driven pruning a 100 TB
  // date/type-partitioned fact lives or dies by: the dim side's
  // qualifying keys are only known at RUNTIME (here: event types whose
  // corpus-wide mean value exceeds 50 — deliberately a near-50/50 cut
  // that selects a different subset per SF, so no static filter could
  // do this), and Catalyst turns the broadcast dim into a
  // DynamicPruningSubquery on the fact scan's PARTITION column, so
  // non-qualifying partitions are never read. The fact table is written
  // type-partitioned to scratch first (same unique-path discipline as
  // q_source_orc); `ScaleRound7Spec` asserts the executed fact scan
  // carries a dynamicpruning partition filter rather than reading all
  // five partitions. The dim's mean is the exact-decimal-sum / count
  // division, so the >50 cut is bit-identical on both engines.
  val dppPrune: QueryDef = QueryDef.sql("q_dpp_prune")(
    """WITH m AS (
      |  SELECT event_type,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_v
      |  FROM events GROUP BY 1),
      |dim AS (SELECT event_type FROM m WHERE avg_v > 50),
      |f AS (SELECT e.event_type, e.value FROM events e
      |      JOIN dim d ON e.event_type = d.event_type)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val path = s"target/tmp/q_dpp_prune-${java.util.UUID.randomUUID().toString.take(8)}"
    graft.core.Spill.track(path)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").partitionBy("event_type").parquet(path)
    val fact = s.read.parquet(path)
    val dim = Tables.events(s, dir)
      .groupBy("event_type")
      .agg((sum(col("value").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("avg_v"))
      .filter(col("avg_v") > 50d)
      .select(col("event_type").as("d_type"))
    fact.join(dim, col("event_type") === col("d_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
      .orderBy("event_type")
  }

  // Aggregate pushdown INTO the parquet scan: global COUNT/MIN/MAX
  // answered from row-group footer statistics — the scan emits one
  // pre-aggregated row per file split and never materializes a data
  // page, so the query cost is metadata I/O regardless of table bytes
  // (the "how big is this 100 TB table" query that must not scan 100
  // TB). Needs the DSv2 parquet reader (`useV1SourceList=""`) plus
  // `parquet.aggregatePushdown`; both are scoped to a child session so
  // the catalog's other plans keep the default reader. The executed
  // plan's `PushedAggregation: [COUNT(*), MIN(...), ...]` is asserted
  // in ScaleRound8Spec; the oracle pins the answers themselves.
  val aggPushdown: QueryDef = QueryDef.sql("q_agg_pushdown")(
    """SELECT COUNT(*) AS n, MIN(event_id) AS min_id, MAX(event_id) AS max_id,
      |  MIN(value) AS min_value, MAX(value) AS max_value
      |FROM events""".stripMargin) { (s, dir) =>
    val s2 = s.newSession()
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    s2.read.parquet(s"$dir/events.parquet")
      .agg(count(lit(1)).as("n"),
        min("event_id").as("min_id"), max("event_id").as("max_id"),
        min("value").as("min_value"), max("value").as("max_value"))
  }

  val all: Seq[QueryDef] = Seq(
    globalRownum, saltedJoin, sourceOrc, sourceJson, schemaEvolution,
    windowFuncs2, bitwiseAgg,
    corrExact, snapshotDiff, zorder, skewReport, incrAggMerge, bucketedJoin,
    dqChecks, partitionBackfill, bloomPrune, columnProfile, ivmJoin,
    scd2History, dppPrune, aggPushdown)
}
