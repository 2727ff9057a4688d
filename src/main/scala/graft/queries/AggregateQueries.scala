package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Fixtures._

/** Aggregates and windows: group-by, grouping sets, pivots, set ops,
  * percentiles and sketches, and the batch event-analytics queries. */
object AggregateQueries {
  val all: Seq[Query] = Seq(
    // ---- groupBy/agg (TPC-H Q1 shape; partial agg + tiny shuffle) -
    Query("q_groupby_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          r(sum("l_quantity"), 2).as("sum_qty"),
          r(sum("l_extendedprice"), 2).as("sum_base_price"),
          r(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          r(avg("l_quantity"), 4).as("avg_qty"),
          r(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
        |  r(sum(l_quantity), 2) AS sum_qty,
        |  r(sum(l_extendedprice), 2) AS sum_base_price,
        |  r(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  r(avg(l_quantity), 4) AS avg_qty,
        |  r(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      headline = true),

    // ---- pivot: long → wide with an explicit category list -------
    // Explicit values make the output schema static (no extra
    // distinct-scan job, deterministic column order — the only sane
    // form at scale) and keep the oracle a portable CASE aggregation.
    Query("q_pivot", (s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .pivot("lang", Seq("en", "de", "fr", "es", "und"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("source"),
      Some("""SELECT source,
        |  CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS en,
        |  CAST(count(*) FILTER (lang = 'de') AS BIGINT) AS de,
        |  CAST(count(*) FILTER (lang = 'fr') AS BIGINT) AS fr,
        |  CAST(count(*) FILTER (lang = 'es') AS BIGINT) AS es,
        |  CAST(count(*) FILTER (lang = 'und') AS BIGINT) AS und
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
      headline = true),

    // ---- unpivot/melt: wide → long -------------------------------
    Query("q_unpivot", (s, dir) =>
      t(s, dir, "part")
        .unpivot(Array(col("p_partkey")),
          Array(col("p_retailprice").cast("double").as("p_retailprice"),
            col("p_size").cast("double").as("p_size")),
          "measure", "value")
        .orderBy("p_partkey", "measure"),
      Some("""SELECT p_partkey, 'p_retailprice' AS measure,
        |  CAST(p_retailprice AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
        |ORDER BY p_partkey, measure""".stripMargin),
      headline = true),

    // ---- union all + agg -----------------------------------------
    Query("q_union", (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey"), col("c_acctbal").as("acctbal"))
      val sup = t(s, dir, "supplier")
        .select(col("s_nationkey").as("nationkey"), col("s_acctbal").as("acctbal"))
      c.union(sup)
        .groupBy("nationkey")
        .agg(r(sum("acctbal"), 2).as("total_bal"), count(lit(1)).as("n"))
        .orderBy("nationkey")
    },
      Some("""SELECT nationkey, r(sum(acctbal), 2) AS total_bal, count(*) AS n
        |FROM (SELECT c_nationkey AS nationkey, c_acctbal AS acctbal FROM customer
        |      UNION ALL
        |      SELECT s_nationkey, s_acctbal FROM supplier)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin),
      headline = true),

    // ---- window function (per-group top-k) -----------------------
    Query("q_window", (s, dir) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .orderBy("c_mktsegment", "rn")
    },
      Some("""SELECT * FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer)
        |WHERE rn <= 5 ORDER BY c_mktsegment, rn""".stripMargin),
      headline = true),

    // ---- analytic window-function suite --------------------------
    // lead/lag/ntile/percent_rank/cume_dist/first over one window
    // spec (one exchange, one sort). percent_rank and cume_dist are
    // exact small-integer divisions — identical in any engine, no
    // rounding needed; the tiebreak on s_suppkey makes every
    // offset/rank function deterministic.
    Query("q_window_suite", (s, dir) => {
      val w = Window.partitionBy("s_nationkey")
        .orderBy(col("s_acctbal").desc, col("s_suppkey").asc)
      t(s, dir, "supplier")
        .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"))
        .withColumn("prev_bal", lag("s_acctbal", 1).over(w))
        .withColumn("next_bal", lead("s_acctbal", 1).over(w))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .withColumn("top_key",
          first("s_suppkey").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("s_nationkey", "s_suppkey")
    },
      Some("""SELECT s_nationkey, s_suppkey, s_acctbal,
        |  lag(s_acctbal, 1) OVER w AS prev_bal,
        |  lead(s_acctbal, 1) OVER w AS next_bal,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  first_value(s_suppkey) OVER (PARTITION BY s_nationkey
        |    ORDER BY s_acctbal DESC, s_suppkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS top_key
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey
        |  ORDER BY s_acctbal DESC, s_suppkey)
        |ORDER BY s_nationkey, s_suppkey""".stripMargin),
      headline = true),

    // ---- set operations: INTERSECT / EXCEPT ----------------------
    // Tagged union output so one oracled row set pins both operators
    // (and their DISTINCT semantics) at once.
    Query("q_set_ops", (s, dir) => {
      val custNations = t(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey"))
      val suppNations = t(s, dir, "supplier")
        .select(col("s_nationkey").as("nationkey"))
      custNations.intersect(suppNations)
        .withColumn("op", lit("both"))
        .unionByName(
          custNations.except(suppNations).withColumn("op", lit("cust_only")))
        .orderBy("op", "nationkey")
    },
      Some("""SELECT nationkey, 'both' AS op FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT
        |  SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'cust_only' AS op FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT
        |  SELECT s_nationkey FROM supplier)
        |ORDER BY op, nationkey""".stripMargin),
      headline = true),

    // ---- GROUPING SETS with grouping_id --------------------------
    // Explicit grouping sets in a shape NEITHER rollup nor cube can
    // shorthand (two disjoint single-column sets), plus the
    // grouping_id bitmask that disambiguates real NULL keys from
    // subtotal rows — the plan is one Expand + one aggregation.
    // (SQL-only surface in Spark; the temp view name is unique to
    // this query, so Verify's concurrent single-session runs don't
    // collide.)
    Query("q_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem")
        .createOrReplaceTempView("gs_lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          |  count(*) AS n
          |FROM gs_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
    },
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),
      headline = true),

    // ---- aggregate function suite --------------------------------
    Query("q_agg_stats", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          r(min("l_extendedprice"), 2).as("min_price"),
          r(max("l_extendedprice"), 2).as("max_price"),
          r(avg("l_extendedprice"), 2).as("avg_price"),
          r(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
          countDistinct(col("l_suppkey")).as("n_supp"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        |  r(min(l_extendedprice), 2) AS min_price,
        |  r(max(l_extendedprice), 2) AS max_price,
        |  r(avg(l_extendedprice), 2) AS avg_price,
        |  r(stddev_samp(l_extendedprice), 2) AS sd_price,
        |  count(DISTINCT l_suppkey) AS n_supp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      headline = true),

    // ---- groupBy + HAVING ----------------------------------------
    Query("q_having", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n"), r(sum("l_quantity"), 2).as("qty"))
        .filter(col("n") >= 40)
        .orderBy("l_partkey"),
      Some("""SELECT l_partkey, count(*) AS n, r(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY l_partkey HAVING count(*) >= 40
        |ORDER BY l_partkey""".stripMargin),
      headline = true),

    // ---- rollup (hierarchical subtotals) -------------------------
    Query("q_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), r(sum("l_quantity"), 2).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  r(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
      headline = true),

    // ---- cube (all grouping-set combinations) --------------------
    Query("q_cube", (s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), r(sum("o_totalprice"), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  r(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),
      headline = true),

    // ---- exact percentiles (window construction, O(1) task mem) --
    // NULL-polluted on purpose: two NULL values inside real groups
    // (must be IGNORED, like quantile_cont) and one all-NULL group
    // 'Z' (must still appear, with NULL percentiles) — the oracle
    // unions the same rows, so the NULL semantics are hash-checked.
    Query("q_percentile", (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "lineitem").select("l_returnflag", "l_extendedprice")
      // edge groups: all-NULL values ("Z"), NULL-valued rows mixed
      // into real groups, and a NULL KEY group with real values —
      // GROUP BY treats NULL as a group; the restore join must be
      // null-safe for its percentiles to survive
      val edges = Seq(("A", Option.empty[Double]), ("N", Option.empty[Double]),
        ("Z", Option.empty[Double])).toDF("l_returnflag", "l_extendedprice")
        .unionByName(Seq((Option.empty[String], Some(100.0)),
          (Option.empty[String], Some(200.0)),
          (Option.empty[String], Some(400.0)))
          .toDF("l_returnflag", "l_extendedprice"))
      // auto: picks window vs distributed-selection from measured
      // group cardinality vs parallelism — the oracle is invariant to
      // the choice, so this row stays green on BOTH sides of the
      // crossover (verify runs land window, 32-core bench lands
      // selection)
      graft.ops.Percentiles.exactInterpolatedAuto(
          base.unionByName(edges),
          Seq("l_returnflag"), "l_extendedprice",
          Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
        .select(col("l_returnflag"),
          r(col("p25"), 2).as("p25"),
          r(col("p50"), 2).as("p50"),
          r(col("p75"), 2).as("p75"))
        .orderBy("l_returnflag")
    },
      // quantile_cont ignores NULL values; the all-NULL group 'Z'
      // still yields a row (NULL percentiles) — same edge rows as the
      // Spark side unions in.
      Some("""WITH src AS (
        |  SELECT l_returnflag, l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT * FROM (VALUES ('A', CAST(NULL AS DOUBLE)),
        |    ('N', CAST(NULL AS DOUBLE)), ('Z', CAST(NULL AS DOUBLE)),
        |    (CAST(NULL AS VARCHAR), CAST(100.0 AS DOUBLE)),
        |    (CAST(NULL AS VARCHAR), CAST(200.0 AS DOUBLE)),
        |    (CAST(NULL AS VARCHAR), CAST(400.0 AS DOUBLE)))
        |    v(l_returnflag, l_extendedprice))
        |SELECT l_returnflag,
        |  r(quantile_cont(l_extendedprice, 0.25), 2) AS p25,
        |  r(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
        |  r(quantile_cont(l_extendedprice, 0.75), 2) AS p75
        |FROM src GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      headline = true),

    // ---- approximate sketches (HLL, approx percentile; no oracle) -
    // Approximate sketches bounds-gated against exact values computed
    // in the same pass: HLL++ at default rsd 0.05 must land within
    // ±15% (3σ) of the exact distinct count, and the KLL-style
    // approx_percentile(0.5, accuracy=1000) must land between the
    // exact 45th and 55th percentiles (rank error ≤ 1/1000 ≪ 0.05).
    // The oracle recomputes the exact columns and asserts both gates.
    Query("q_approx_sketch", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count_distinct(col("l_partkey")).as("n_parts"),
          (abs(approx_count_distinct(col("l_partkey")) -
              count_distinct(col("l_partkey"))) <=
            count_distinct(col("l_partkey")) * 0.15).as("approx_ok"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)")
            .between(expr("percentile(l_extendedprice, 0.45)"),
              expr("percentile(l_extendedprice, 0.55)")).as("median_ok"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  true AS approx_ok, true AS median_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
      // Raw sketches only — the oracled q_approx_sketch adds exact
      // count_distinct + exact percentiles to gate the approximations,
      // which would triple the benched cost of the sketch itself.
      // Bench, Explain and TimeQuery run it under this name; Verify
      // runs the gated plan.
      benchPlan = Some((s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            approx_count_distinct(col("l_partkey")).as("approx_parts"),
            r(expr("approx_percentile(l_extendedprice, 0.5, 1000)"), 0)
              .as("approx_median"))
          .orderBy("l_returnflag")),
      headline = true),

    // ---- per-language percentile-band length trim ----------------
    // percent_rank = (rank-1)/(n-1): an exact IEEE division of small
    // integers, identical in any engine — no rounding needed.
    Query("q_percentile_band", (s, dir) =>
      graft.ops.Percentiles.filterByBand(t(s, dir, "documents"), Seq("lang"),
          "n_chars", lo = 0.05, hi = 0.95)
        .select("doc_id", "lang", "n_chars", "pct_rank")
        .orderBy("doc_id"),
      // rank-based percentile band: percent_rank is an exact rational,
      // bit-identical cross-engine — raw values hash-compared.
      Some("""WITH p AS (
        |  SELECT doc_id, lang, n_chars,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY n_chars)
        |      AS pct_rank
        |  FROM documents WHERE n_chars IS NOT NULL)
        |SELECT doc_id, lang, n_chars, pct_rank FROM p
        |WHERE pct_rank >= 0.05 AND pct_rank <= 0.95
        |ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- batch sessionization (gap-based, window functions) ------
    Query("events_sessionize", (s, dir) =>
      // truncate to MICROS first: DuckDB TIMESTAMP is us-precision, so
      // the oracle can only see us — align the session arithmetic
      graft.ops.Sessionize.batch(
          events(s, dir).withColumn("ts_us", expr(graft.ops.TimeCols.floorDivSql("ts", 1000L))),
          "user_id", "ts_us", "event_id", "value",
          gapNanos = 1800L * 1000000L)
        .withColumn("sum_value", r(col("sum_value"), 2))
        .orderBy("user_id", "session_id"),
      Some("""WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t, value FROM events
        |), g AS (
        |  SELECT user_id, event_id, t, value,
        |    CASE WHEN lag(t) OVER w IS NULL
        |              OR t - lag(t) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        |), sess AS (
        |  SELECT user_id, t, value,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, min(t) AS session_start,
        |  max(t) AS session_end, count(*) AS n_events,
        |  r(sum(value), 2) AS sum_value
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),
      headline = true),

    // ---- events: ordered funnel (view -> click -> purchase) ------
    // Greedy earliest-match per user; pure integer min/compare on
    // epoch nanos, one keyed agg per step — no window over raw
    // events, no floats.
    Query("events_funnel", (s, dir) =>
      graft.ops.Funnel.depth(events(s, dir), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"))
        .orderBy("user_id"),
      // greedy earliest-match funnel: each step's match is the minimum
      // event time strictly after the previous step's match
      Some("""WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS t, event_type FROM events
        |), u AS (SELECT DISTINCT user_id FROM e),
        |s1 AS (
        |  SELECT user_id, min(t) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.t) AS t2 FROM e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.t > s1.t1 GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(e.t) AS t3 FROM e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.t > s2.t2 GROUP BY 1)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |    WHEN t2 IS NOT NULL THEN 2
        |    WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS funnel_depth,
        |  t1 AS t_view, t2 AS t_click, t3 AS t_purchase
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin),
      headline = true),

    // ---- events: weekly cohort retention -------------------------
    // Cohort = the 7-day period of each user's first event; the
    // retention triangle counts distinct active users per (cohort,
    // offset). Integer epoch grids, three partial-agg shuffles.
    Query("events_cohort", (s, dir) =>
      graft.ops.Cohorts.retention(events(s, dir), "user_id", "ts",
          periodSeconds = 604800L)
        .orderBy("cohort_period", "period_offset"),
      // retention triangle over integer 7-day period grids
      Some("""WITH e AS (
        |  SELECT user_id, (epoch_ns(ts) // 1000000000) // 604800 AS p
        |  FROM events
        |), fp AS (SELECT user_id, min(p) AS cohort FROM e GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, p FROM e)
        |SELECT fp.cohort AS cohort_period,
        |  act.p - fp.cohort AS period_offset,
        |  count(DISTINCT act.user_id) AS n_active
        |FROM act JOIN fp USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      headline = true),

    // ---- events: 6-hour grid resample + forward fill -------------
    // Gap-filling alignment: per user, a dense 21600 s grid over the
    // user's own [min, max] slots, each empty slot carrying the last
    // observation forward. Values ride untouched (no arithmetic) and
    // the slot representative is a total order (latest second, ties
    // by max value), so the hash matches exactly.
    Query("events_resample", (s, dir) =>
      graft.ops.Resample.forwardFill(events(s, dir), "user_id", "ts",
          "value", stepSeconds = 21600L)
        .orderBy("user_id", "slot_start"),
      // dense per-user grid + forward fill; representative = latest
      // second in the slot, ties by max value (total order both
      // engines replay); range() end-exclusive -> hi + 1 includes hi
      Some("""WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, value
        |  FROM events
        |), s AS (
        |  SELECT user_id, (sec // 21600) * 21600 AS slot, sec, value
        |  FROM e
        |), rep AS (
        |  SELECT user_id, slot, value,
        |    row_number() OVER (PARTITION BY user_id, slot
        |      ORDER BY sec DESC, value DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id, slot) AS n_obs
        |  FROM s
        |), obs AS (
        |  SELECT user_id, slot, value AS v_obs, n_obs FROM rep WHERE rn = 1
        |), bounds AS (
        |  SELECT user_id, min(slot) AS lo, max(slot) AS hi
        |  FROM s GROUP BY user_id
        |), grid AS (
        |  SELECT user_id, unnest(range(lo, hi + 1, 21600)) AS slot
        |  FROM bounds
        |), j AS (
        |  SELECT g.user_id, g.slot, o.v_obs,
        |    coalesce(o.n_obs, 0) AS n_obs
        |  FROM grid g LEFT JOIN obs o
        |    ON g.user_id = o.user_id AND g.slot = o.slot)
        |SELECT user_id, slot AS slot_start,
        |  last_value(v_obs IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY slot ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS value,
        |  CAST(n_obs AS BIGINT) AS n_obs
        |FROM j ORDER BY user_id, slot_start""".stripMargin),
      headline = true),

    // ---- events: NATIVE session_window sessionization ------------
    // Spark's built-in merge-on-gap session operator (the idiomatic
    // alternative to the window-function islands in Sessionize.batch;
    // also the streaming-capable form). Event time is built via
    // timestamp_micros(floor(ts/1000)) — EXACT micros, matching the
    // DuckDB oracle's epoch_us islands; window end = last event +
    // gap, per the operator's contract.
    Query("events_session_window", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("event_time", expr(s"timestamp_micros(${graft.ops.TimeCols.floorDivSql("ts", 1000L)})"))
      ev.groupBy(col("user_id"),
          session_window(col("event_time"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), r(sum("value"), 2).as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("session_start"),
          unix_micros(col("sw.end")).as("session_end"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")
    },
      // session_window semantics: same 30-min gap islands; window end =
      // last event + gap (the operator's contract), no session_id in
      // the output (start identifies the session)
      Some("""WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t, value FROM events
        |), g AS (
        |  SELECT user_id, t, value,
        |    CASE WHEN lag(t) OVER w IS NULL
        |              OR t - lag(t) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        |), sess AS (
        |  SELECT user_id, t, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, min(t) AS session_start,
        |  max(t) + 1800000000 AS session_end,
        |  count(*) AS n_events, r(sum(value), 2) AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),
      headline = true),

    // ---- events: tumbling-window aggregation ---------------------
    // ts arrives as raw nanoseconds (nanosAsLong, see core.Session);
    // bucket to hour starts in epoch seconds.
    Query("events_window", (s, dir) =>
      events(s, dir)
        .withColumn("hour_start",
          (floor(col("ts") / 3600000000000L) * 3600).cast("long"))
        .groupBy("hour_start", "event_type")
        .agg(count(lit(1)).as("n"), r(sum("value"), 2).as("sum_value"))
        .orderBy("hour_start", "event_type"),
      Some("""SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_start,
        |  event_type, count(*) AS n, r(sum(value), 2) AS sum_value
        |FROM events GROUP BY hour_start, event_type
        |ORDER BY hour_start, event_type""".stripMargin),
      headline = true)
  )
}
