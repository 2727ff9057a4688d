package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Fixtures._

/** Joins: broadcast, bucketed, semi/anti, skew-salted, as-of, range and
  * interval joins, dynamic partition pruning, and the 22 TPC-H shapes. */
object JoinQueries {
  val all: Seq[Query] = Seq(
    // ---- 3-way join (dimension sides broadcast) ------------------
    Query("q_join", (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(r(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name"),
      Some("""SELECT n_name, r(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
      headline = true),

    // ---- fact ⋈ broadcast dimension ------------------------------
    Query("q_join_broadcast", (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(r(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy("p_brand"),
      Some("""SELECT p_brand,
        |  r(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
      headline = true),

    // ---- co-bucketed fact ⋈ fact (zero-shuffle join) -------------
    // Both sides are written bucketed on the join key (the writer's
    // bucket_by surface), so the join plans with NO Exchange on
    // either side — write-time layout paying for every subsequent
    // join, THE repeated-join answer at 100 TB. BucketingSpec pins
    // the zero-exchange plan; this row pins result parity: bucketed
    // layout must not change a single aggregated value vs the oracle
    // joining the plain tables.
    Query("q_bucket_join", (s, dir) => {
      val work = scratch("bucketjoin")
      def writeBucketed(df: DataFrame, tbl: String, key: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        new graft.plugins.output.ParquetWriterPlugin(Map(
          "output_path" -> work.resolve(tbl).toString,
          "bucket_by" -> Seq(key), "buckets" -> 8, "table" -> tbl),
          work, "default")
          .execute(df).fold(e => throw e, identity)
      }
      writeBucketed(t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice"),
        "gb_orders", "o_custkey")
      writeBucketed(t(s, dir, "customer")
        .select("c_custkey", "c_mktsegment"),
        "gb_customer", "c_custkey")
      s.table("gb_orders")
        .join(s.table("gb_customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          r(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("c_mktsegment")
    },
      // Bucketed layout must not change results: the oracle joins the
      // plain parquet tables.
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
        |  r(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      headline = true),

    // ---- dynamic partition pruning (fact partitioned by year) ----
    // THE scan-reduction feature at 100 TB: the fact table is laid
    // out partitioned on the join key and the dim-side filter is on
    // an ATTRIBUTE (is_peak), not the key — so no static pruning is
    // possible, and only Spark's dynamic partition pruning (a
    // broadcast-fed IN-subquery injected into the scan's partition
    // filters at runtime) keeps the query from reading every year.
    // PlanSpec pins the DynamicPruningExpression in the scan; this
    // row pins that pruned results equal the oracle's full-scan
    // arithmetic on the plain table.
    Query("q_dpp_prune", (s, dir) => {
      val work = scratch("dpp")
      t(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").mode("overwrite")
        .parquet(work.resolve("orders_by_year").toString)
      val fact = s.read.parquet(work.resolve("orders_by_year").toString)
      val dim = s.range(1990, 2005)
        .select(col("id").cast("int").as("cal_year"))
        .withColumn("is_peak", col("cal_year") % 3 === 0)
      fact.join(broadcast(dim.filter(col("is_peak"))),
          col("o_year") === col("cal_year"))
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_orders"),
          r(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("o_year")
    },
      // The partitioned layout + dynamic pruning must not change a
      // value: the oracle computes the same year gate arithmetically
      // over the PLAIN table (is_peak = year % 3 = 0 — the dim is
      // derived, so the join is pure selection here).
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  count(*) AS n_orders, r(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE CAST(year(o_orderdate) AS INTEGER) % 3 = 0
        |GROUP BY o_year ORDER BY o_year""".stripMargin),
      headline = true),

    // ---- semi join (EXISTS) --------------------------------------
    Query("q_semi_join", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 200000)
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
        |ORDER BY c_custkey""".stripMargin),
      headline = true),

    // ---- anti join (NOT EXISTS) ----------------------------------
    Query("q_anti_join", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 450000)
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin),
      headline = true),

    // ---- skew-salted join (semantics-preserving plan change) -----
    // Salting must change the SHUFFLE, not the RESULT: output is
    // hash-compared against the plain SQL join.
    Query("q_skew_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      val parts = t(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_name"), col("p_brand"))
      graft.ops.Skew.saltedJoin(li, parts, Seq("l_partkey"),
          rowId = "l_orderkey", salts = 8)
        .orderBy("l_orderkey", "l_linenumber")
    },
      // The salted join must equal the plain join exactly.
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |  p_name, p_brand
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- as-of join (time-series; compositional one-shuffle) -----
    Query("q_asof_join", (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      // dedupe right on (user, ts) so the as-of pick is deterministic
      // in both engines (ties at identical timestamps)
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts")
        .agg(max("event_id").as("view_id"), max("value").as("view_value"))
      graft.ops.AsOfJoin.asOf(clicks, views, Seq("user_id"),
          leftTime = "ts", rightTime = "ts", tieBreak = Some("view_id"))
        .select(col("event_id"), col("user_id"),
          col("view_id"), r(col("view_value"), 2).as("view_value"))
        .orderBy("event_id")
    },
      Some("""WITH clicks AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'click'
        |), views AS (
        |  SELECT user_id, ts, max(event_id) AS view_id,
        |    max(value) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
        |SELECT c.event_id, c.user_id, v.view_id,
        |  r(v.view_value, 2) AS view_value
        |FROM clicks c ASOF JOIN views v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY c.event_id""".stripMargin),
      headline = true),

    // ---- range (interval) join: bucketized equi-join -------------
    Query("q_range_join", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("ts_us", expr(graft.ops.TimeCols.floorDivSql("ts", 1000L)))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts_us").as("click_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts_us").as("view_us"))
      graft.ops.RangeJoin.within(clicks, views, Seq("user_id"),
          "click_us", "view_us", tolerance = 3600L * 1000000L)
        .select("click_id", "view_id", "user_id")
        .orderBy("click_id", "view_id")
    },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |            FROM events),
        |clicks AS (SELECT event_id AS click_id, user_id, ts_us AS click_us
        |           FROM ev WHERE event_type = 'click'),
        |views AS (SELECT event_id AS view_id, user_id, ts_us AS view_us
        |          FROM ev WHERE event_type = 'view')
        |SELECT click_id, view_id, c.user_id AS user_id
        |FROM clicks c JOIN views v
        |  ON c.user_id = v.user_id
        | AND abs(c.click_us - v.view_us) <= 3600000000
        |ORDER BY click_id, view_id""".stripMargin),
      headline = true),

    // ---- custom point-in-interval join operator ------------------
    // The whole-operator extension path (LogicalPlan + Strategy +
    // SparkPlan via GraftExtensions): order totals probed against
    // overlapping supplier price bands; the oracle replays the plain
    // BETWEEN join. The plan shows the custom IntervalJoin node, not
    // a BroadcastNestedLoopJoin.
    Query("q_interval_join", (s, dir) => {
      val points = t(s, dir, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice")).cast("long").as("v"))
      val bands = t(s, dir, "supplier").select(col("s_suppkey"),
        (col("s_suppkey") * 3000).cast("long").as("lo"),
        (col("s_suppkey") * 3000 + 4499).cast("long").as("hi"))
      graft.plans.IntervalJoin.pointInInterval(points, bands,
          "v", "lo", "hi")
        .select("o_orderkey", "s_suppkey", "v")
        .orderBy("o_orderkey", "s_suppkey")
    },
      // plain BETWEEN join replay of the custom interval operator
      Some("""WITH p AS (
        |  SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS v
        |  FROM orders
        |), i AS (
        |  SELECT s_suppkey, s_suppkey * 3000 AS lo,
        |    s_suppkey * 3000 + 4499 AS hi
        |  FROM supplier)
        |SELECT o_orderkey, s_suppkey, v
        |FROM p JOIN i ON v BETWEEN lo AND hi
        |ORDER BY o_orderkey, s_suppkey""".stripMargin),
      headline = true),

    // ---- the SAME join through the auto-rewrite path -------------
    // Plain SQL BETWEEN (no API opt-in): IntervalJoinRewrite lifts it
    // onto the custom operator; the oracle replays the BETWEEN join,
    // so a rewrite-induced semantics drift would hash-mismatch here.
    // Runs through SqlPlugin's multi-stream face, so it also proves
    // the rewrite rule is active in the plugin's isolated child
    // session (extensions propagate through newSession()).
    Query("q_interval_join_sql", (s, dir) => {
      val pts = t(s, dir, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice")).cast("long").as("v"))
      val bands = t(s, dir, "supplier").select(col("s_suppkey"),
        (col("s_suppkey") * 3000).cast("long").as("lo"),
        (col("s_suppkey") * 3000 + 4499).cast("long").as("hi"))
      new graft.plugins.transform.SqlPlugin(
        Map("query" ->
          """SELECT o_orderkey, s_suppkey, v
            |FROM input JOIN ij_bands ON v BETWEEN lo AND hi
            |ORDER BY o_orderkey, s_suppkey""".stripMargin),
        java.nio.file.Paths.get("/tmp"), "default")
        .executeWith(pts, Map("ij_bands" -> Right(bands)))
        .fold(e => throw e, identity)
    },
      Some("""WITH p AS (
        |  SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS v
        |  FROM orders
        |), i AS (
        |  SELECT s_suppkey, s_suppkey * 3000 AS lo,
        |    s_suppkey * 3000 + 4499 AS hi
        |  FROM supplier)
        |SELECT o_orderkey, s_suppkey, v
        |FROM p JOIN i ON v BETWEEN lo AND hi
        |ORDER BY o_orderkey, s_suppkey""".stripMargin)),

    // ---- TPC-H Q1: the canonical pricing-summary agg sweep -------
    // One scan, one partial+final hash aggregate over 4-6 groups —
    // the shape that proves map-side combine: at 100 TB the shuffle
    // carries (flag, status) × partials per task, never rows. The
    // shipdate filter reaches the parquet scan. Sums rounded to
    // cents, avgs to 1e-6 (per-group FP accumulation error at the
    // verify SF is ~1e-5 absolute, far inside both).
    Query("q_tpch_q1", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          r(sum("l_quantity"), 2).as("sum_qty"),
          r(sum("l_extendedprice"), 2).as("sum_base_price"),
          r(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          r(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
          r(avg("l_quantity"), 6).as("avg_qty"),
          r(avg("l_extendedprice"), 6).as("avg_price"),
          r(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
        |  r(sum(l_quantity), 2) AS sum_qty,
        |  r(sum(l_extendedprice), 2) AS sum_base_price,
        |  r(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  r(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2)
        |    AS sum_charge,
        |  r(avg(l_quantity), 6) AS avg_qty,
        |  r(avg(l_extendedprice), 6) AS avg_price,
        |  r(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      headline = true),

    // ---- TPC-H Q2 shape: correlated scalar subquery --------------
    // (Adapted: the fixture has no partsupp, so lineitem is the
    // part↔supplier bridge and min(l_extendedprice) stands in for
    // min(ps_supplycost) — the PLANNER shape is identical: a scalar
    // subquery correlated on the outer part key, which Catalyst must
    // decorrelate into a grouped-min aggregate joined back on the
    // correlation key. SQL-only surface: the DataFrame API cannot
    // express a correlated scalar subquery. Pinned in PlanSpec: no
    // CartesianProduct, subquery decorrelated to an aggregate+join.)
    Query("q_tpch_q2", (s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("q2_part")
      t(s, dir, "supplier").createOrReplaceTempView("q2_supplier")
      t(s, dir, "lineitem").createOrReplaceTempView("q2_lineitem")
      t(s, dir, "nation").createOrReplaceTempView("q2_nation")
      t(s, dir, "region").createOrReplaceTempView("q2_region")
      s.sql(
        """SELECT floor(s_acctbal * 100 + 0.5 + 1e-6) / 100 AS s_acctbal,
          |  s_name, n_name, p_partkey, p_brand,
          |  floor(l_extendedprice * 100 + 0.5 + 1e-6) / 100 AS min_price
          |FROM q2_part, q2_supplier, q2_lineitem, q2_nation, q2_region
          |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          |  AND p_size BETWEEN 1 AND 15
          |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          |  AND r_name = 'ASIA'
          |  AND l_extendedprice = (
          |    SELECT min(l2.l_extendedprice)
          |    FROM q2_lineitem l2, q2_supplier s2, q2_nation n2, q2_region r2
          |    WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
          |      AND s2.s_nationkey = n2.n_nationkey
          |      AND n2.n_regionkey = r2.r_regionkey
          |      AND r2.r_name = 'ASIA')
          |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
          |LIMIT 100""".stripMargin)
    },
      Some("""SELECT r(s_acctbal, 2) AS s_acctbal, s_name, n_name,
        |  p_partkey, p_brand, r(l_extendedprice, 2) AS min_price
        |FROM part, supplier, lineitem, nation, region
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |  AND p_size BETWEEN 1 AND 15
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND l_extendedprice = (
        |    SELECT min(l2.l_extendedprice)
        |    FROM lineitem l2, supplier s2, nation n2, region r2
        |    WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'ASIA')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),
      headline = true),

    // ---- TPC-H Q3 shape: filtered 3-way join + top-k by revenue --
    // Both date filters reach the parquet scans (PushedFilters); the
    // 302-row customer side is broadcast; lineitem ⋈ orders is the
    // one real shuffle. Top-10 selection orders by ROUNDED revenue
    // with an id tiebreak so the FP-noise-sensitive cut is identical
    // in both engines.
    Query("q_tpch_q3", (s, dir) => {
      val cutoff = lit("1998-06-01").cast("timestamp")
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders").filter(col("o_orderdate") < cutoff)
      val li = t(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(r(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  r(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
      headline = true),

    // ---- TPC-H Q4 shape: EXISTS semi-join, priority counts -------
    // (Adapted: the fixture lineitem has no commit/receipt dates, so
    // "late" = shipped >90 days after the order date; the predicate
    // references both sides and rides the semi-join condition.)
    Query("q_tpch_q4", (s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate").between("1996-01-01", "1996-12-31"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      // timestamp-preserving + INTERVAL, not date_add: date_add
      // truncates time-of-day to DATE while the DuckDB oracle's
      // `+ INTERVAL 90 DAY` keeps it — identical today only because
      // the fixture's orderdates are midnight, and the driver has
      // regenerated fixtures with changed timestamp shapes before
      ord.join(li,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAY"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
      Some("""SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
        |  AND TIMESTAMP '1996-12-31'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
      headline = true),

    // ---- TPC-H Q5 shape: 6-table join, local-supplier revenue ----
    // The multi-join stress test: region/nation broadcast by hint,
    // the fact-side joins left to Catalyst/AQE (broadcast at this SF,
    // sort-merge on the keys at cluster scale). The c_nationkey =
    // s_nationkey constraint rides the supplier join.
    Query("q_tpch_q5", (s, dir) => {
      // no date band: the canonical Q5 year filter leaves ZERO rows
      // at sf0.001 (the local-supplier constraint is already ~1/25
      // selective there), and an empty result is a vacuous oracle gate
      val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = t(s, dir, "nation")
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      val ord = t(s, dir, "orders")
      t(s, dir, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(r(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      Some("""SELECT n_name,
        |  r(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN customer ON o_custkey = c_custkey
        |  AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),
      headline = true),

    // ---- TPC-H Q6: forecasting revenue change --------------------
    // The simplest full-scan shape: ALL three predicates (shipdate
    // band, discount band, quantity cap) must reach the parquet scan
    // as PushedFilters, and the agg is a single partial+final pass —
    // at 100 TB this query is pure scan bandwidth, zero shuffle mass.
    Query("q_tpch_q6", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(r(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"),
          count(lit(1)).as("n_items")),
      Some("""SELECT r(sum(l_extendedprice * l_discount), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),
      headline = true),

    // ---- TPC-H Q7: volume shipping between two nations -----------
    // Six-way join with a symmetric nation-pair predicate and a
    // shipdate band; nations renamed to the synthetic fixture's.
    // Both nation dims broadcast; the pair predicate sits on the
    // joined row (it references both sides).
    Query("q_tpch_q7", (s, dir) => {
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").between("1995-01-01", "1997-12-31"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(r(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(extract(year FROM l_shipdate) AS INT) AS l_year,
        |  r(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |  AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        |  AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1997-12-31'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
      headline = true),

    // ---- TPC-H Q8: national market share -------------------------
    // The widest join tree in the suite: lineitem ⋈ orders is the one
    // real shuffle; part/customer/supplier and BOTH nation roles (the
    // customer's region gate and the supplier's share nation) are
    // broadcast dims. Share = conditional-sum / sum in a single agg
    // pass — never two scans of the joined fact.
    Query("q_tpch_q8", (s, dir) => {
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("cn_key"),
        col("n_regionkey").as("cn_region"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))
      val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("cn_key"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("cn_region") === col("r_regionkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(r(sum(when(col("supp_nation") === "NATION_3", vol)
          .otherwise(lit(0.0))) / sum(vol), 6).as("mkt_share"))
        .orderBy("o_year")
    },
      Some("""SELECT o_year,
        |  r(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
        |    / sum(volume), 6) AS mkt_share
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |    l_extendedprice * (1.0 - l_discount) AS volume,
        |    n2.n_name AS nation
        |  FROM part, supplier, lineitem, orders, customer,
        |    nation n1, nation n2, region
        |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |    AND c_nationkey = n1.n_nationkey
        |    AND n1.n_regionkey = r_regionkey
        |    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        |    AND p_type = 'PROMO')
        |GROUP BY o_year ORDER BY o_year""".stripMargin),
      headline = true),

    // ---- TPC-H Q9: product-type profit by nation and year --------
    // (Adapted: no partsupp in the fixture, so supply cost is the
    // 0.1·p_retailprice·quantity stand-in — the SHAPE is what's
    // anchored: a LIKE-filtered part dim pruning the fact early, a
    // two-level group key with a desc year sort, all dims broadcast.)
    Query("q_tpch_q9", (s, dir) => {
      val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
        lit(0.1) * col("p_retailprice") * col("l_quantity")
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_name").contains("red"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(r(sum(amount), 2).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      Some("""SELECT nation, o_year, r(sum(amount), 2) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation,
        |    CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |    l_extendedprice * (1.0 - l_discount)
        |      - 0.1 * p_retailprice * l_quantity AS amount
        |  FROM part, supplier, lineitem, orders, nation
        |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        |    AND p_name LIKE '%red%')
        |GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin),
      headline = true),

    // ---- TPC-H Q10 shape: returned-item top customers ------------
    // Date-banded orders ⋈ lineitem(R) with two broadcast dims, then
    // revenue top-20 as TakeOrderedAndProject; c_custkey tiebreaks
    // the FP-sensitive cut (revenue rounded to cents in both engines).
    Query("q_tpch_q10", (s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(r(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
        |  r(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
      headline = true),

    // ---- TPC-H Q11: important stock identification ----------------
    // (Adapted: lineitem is the part↔supplier bridge.) The planner
    // shape: an UNCORRELATED scalar aggregate subquery inside HAVING —
    // the whole filtered corpus is re-aggregated to one number that
    // gates the per-part groups. Spark executes the subquery once and
    // broadcasts the scalar; the oracle proves the threshold algebra
    // matches. SQL-only surface (HAVING-against-subquery).
    Query("q_tpch_q11", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q11_lineitem")
      t(s, dir, "supplier").createOrReplaceTempView("q11_supplier")
      t(s, dir, "nation").createOrReplaceTempView("q11_nation")
      s.sql(
        """SELECT l_partkey AS ps_partkey,
          |  floor(sum(l_extendedprice * l_quantity) * 100 + 0.5 + 1e-6)
          |    / 100 AS value
          |FROM q11_lineitem, q11_supplier, q11_nation
          |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          |  AND n_name = 'NATION_3'
          |GROUP BY l_partkey
          |HAVING sum(l_extendedprice * l_quantity) > (
          |  SELECT sum(l_extendedprice * l_quantity) * 0.002
          |  FROM q11_lineitem, q11_supplier, q11_nation
          |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          |    AND n_name = 'NATION_3')
          |ORDER BY value DESC, ps_partkey""".stripMargin)
    },
      Some("""SELECT l_partkey AS ps_partkey,
        |  r(sum(l_extendedprice * l_quantity), 2) AS value
        |FROM lineitem, supplier, nation
        |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_3'
        |GROUP BY l_partkey
        |HAVING sum(l_extendedprice * l_quantity) > (
        |  SELECT sum(l_extendedprice * l_quantity) * 0.002
        |  FROM lineitem, supplier, nation
        |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |    AND n_name = 'NATION_3')
        |ORDER BY value DESC, ps_partkey""".stripMargin),
      headline = true),

    // ---- TPC-H Q12: shipping-priority bands ----------------------
    // (Adapted: no l_shipmode/commitdate in the fixture — returnflag
    // stands in for the mode and "late" = shipped >60 days after the
    // order date, riding the JOIN CONDITION like Q4.) The shape:
    // conditional counts split one pass by a priority predicate.
    Query("q_tpch_q12", (s, dir) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"))
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("l_returnflag").as("shipmode"))
        .agg(count(when(hi, 1)).as("high_line_count"),
          count(when(!hi, 1)).as("low_line_count"))
        .orderBy("shipmode")
    },
      Some("""SELECT l_returnflag AS shipmode,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 END) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY shipmode ORDER BY shipmode""".stripMargin),
      headline = true),

    // ---- TPC-H Q13 shape: outer join + two-level aggregation -----
    // Orders per customer (zeros kept via the left outer), then the
    // distribution of those counts — the double-agg shape where the
    // first groupBy carries the real shuffle and the second is tiny.
    Query("q_tpch_q13", (s, dir) => {
      val cust = t(s, dir, "customer").select("c_custkey")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_orderkey", "o_custkey")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      Some("""SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),
      headline = true),

    // ---- TPC-H Q14: promo revenue share (CASE aggregate) ---------
    // Conditional aggregation over one join — numerator and
    // denominator in the SAME pass (no second scan); the part side
    // broadcasts. Output is one ratio row, rounded where FP
    // accumulation noise is ~1e-10 relative.
    Query("q_tpch_q14", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-03-01").cast("timestamp"))
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      li.join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .agg(r(lit(100.0) *
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))) /
          sum(rev), 4).as("promo_revenue"))
    },
      Some("""SELECT r(100.0 *
        |    sum(CASE WHEN p_type = 'PROMO'
        |        THEN l_extendedprice * (1.0 - l_discount) ELSE 0 END) /
        |    sum(l_extendedprice * (1.0 - l_discount)), 4) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-03-01'""".stripMargin),
      headline = true),

    // ---- TPC-H Q15: top supplier (view + scalar max) -------------
    // The CTE is referenced twice (row source + max subquery); Spark
    // plans the max as a one-row uncorrelated ScalarSubquery — it runs
    // once, never per row. The double-equality join back is computed
    // within ONE engine on both sides, so FP sum noise cancels.
    Query("q_tpch_q15", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q15_lineitem")
      t(s, dir, "supplier").createOrReplaceTempView("q15_supplier")
      s.sql(
        """WITH revenue AS (
          |  SELECT l_suppkey AS supplier_no,
          |    sum(l_extendedprice * (1.0 - l_discount)) AS total_revenue
          |  FROM q15_lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |    AND l_shipdate < TIMESTAMP '1996-04-01'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name,
          |  floor(total_revenue * 100 + 0.5 + 1e-6) / 100 AS total_revenue
          |FROM q15_supplier, revenue
          |WHERE s_suppkey = supplier_no
          |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
          |ORDER BY s_suppkey""".stripMargin)
    },
      Some("""WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    sum(l_extendedprice * (1.0 - l_discount)) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  r(total_revenue, 2) AS total_revenue
        |FROM supplier, revenue
        |WHERE s_suppkey = supplier_no
        |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),
      headline = true),

    // ---- TPC-H Q16: parts/supplier relationship ------------------
    // (Adapted: the supplier "complaints" blocklist is s_acctbal < 0.)
    // The planner shapes: NOT IN over a subquery → a NULL-AWARE anti
    // join (single-key BroadcastHashJoin NAAJ in Spark), and
    // count(DISTINCT) over the surviving bridge — distinct-expand
    // rides the same shuffle as the group keys.
    Query("q_tpch_q16", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q16_lineitem")
      t(s, dir, "part").createOrReplaceTempView("q16_part")
      t(s, dir, "supplier").createOrReplaceTempView("q16_supplier")
      s.sql(
        """SELECT p_brand, p_type, p_size,
          |  count(DISTINCT l_suppkey) AS supplier_cnt
          |FROM q16_lineitem JOIN q16_part ON p_partkey = l_partkey
          |WHERE p_brand <> 'Brand#1'
          |  AND p_type NOT LIKE 'PROMO%'
          |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
          |  AND l_suppkey NOT IN (
          |    SELECT s_suppkey FROM q16_supplier WHERE s_acctbal < 0)
          |GROUP BY p_brand, p_type, p_size
          |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)
    },
      Some("""SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
      headline = true),

    // ---- TPC-H Q17: small-quantity-order revenue -----------------
    // The canonical CORRELATED AVG scalar subquery: each lineitem row
    // compares against the mean quantity OF ITS OWN PART. Catalyst
    // must decorrelate to a per-part aggregate joined back on
    // p_partkey — a per-row subquery loop at 100 TB would be a
    // full-table scan per row. Pinned in PlanSpec.
    Query("q_tpch_q17", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q17_lineitem")
      t(s, dir, "part").createOrReplaceTempView("q17_part")
      s.sql(
        """SELECT floor((sum(l_extendedprice) / 7.0) * 100 + 0.5 + 1e-6)
          |    / 100 AS avg_yearly,
          |  count(*) AS n_small
          |FROM q17_lineitem, q17_part
          |WHERE p_partkey = l_partkey AND p_brand = 'Brand#2'
          |  AND l_quantity < (
          |    SELECT 0.2 * avg(l2.l_quantity) FROM q17_lineitem l2
          |    WHERE l2.l_partkey = p_partkey)""".stripMargin)
    },
      Some("""SELECT r(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
        |  count(*) AS n_small
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND p_brand = 'Brand#2'
        |  AND l_quantity < (
        |    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin),
      headline = true),

    // ---- TPC-H Q18: large-volume-customer semi-join + top-k ------
    // The HAVING subquery becomes a left-semi join of orders against
    // the re-aggregated fact table (no IN-list collect); customer is
    // a broadcast dim; the final top-100 is TakeOrderedAndProject
    // (per-partition heaps, never a full sort). o_orderkey tiebreaks
    // the totalprice/orderdate cut so both engines slice identically.
    Query("q_tpch_q18", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val big = li.groupBy("l_orderkey")
        .agg(sum("l_quantity").as("_q"))
        .filter(col("_q") > 300)
        .select(col("l_orderkey").as("o_orderkey"))
      t(s, dir, "orders")
        .join(big, Seq("o_orderkey"), "left_semi")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
          "o_totalprice")
        .agg(r(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"),
          col("o_orderkey"))
        .limit(100)
    },
      Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  r(sum(l_quantity), 2) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin),
      headline = true),

    // ---- TPC-H Q19 shape: disjunctive bracket predicate ----------
    // OR-of-ANDs across both join sides (adapted to the fixture's
    // columns: brand + size bands + quantity bands). The brackets
    // can't push below the join as a whole, but Catalyst extracts
    // the common p_partkey join key and per-side implied filters.
    Query("q_tpch_q19", (s, dir) => {
      val joined = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
      val bracket =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(16, 30) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(31, 50) &&
          col("l_quantity").between(20, 40))
      joined.filter(bracket)
        .agg(r(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
          count(lit(1)).as("n_items"))
    },
      Some("""SELECT r(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 16 AND 30
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 31 AND 50
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin),
      headline = true),

    // ---- TPC-H Q20: potential part promotion ---------------------
    // (Adapted: no partsupp.availqty — "dominant supplier" = shipped
    // >70% of a red part's total 1996 volume.) The NESTED shape is
    // the anchor: an IN semi-join whose subquery itself contains a
    // correlated scalar aggregate (per-part total) AND another IN
    // semi-join (the part name filter) — three levels, all
    // decorrelated, no per-row loops.
    Query("q_tpch_q20", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q20_lineitem")
      t(s, dir, "part").createOrReplaceTempView("q20_part")
      t(s, dir, "supplier").createOrReplaceTempView("q20_supplier")
      s.sql(
        """SELECT s_suppkey, s_name
          |FROM q20_supplier
          |WHERE s_suppkey IN (
          |  SELECT sq FROM (
          |    SELECT l_suppkey AS sq, l_partkey AS pq,
          |      sum(l_quantity) AS qty
          |    FROM q20_lineitem
          |    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |      AND l_shipdate < TIMESTAMP '1997-01-01'
          |    GROUP BY l_suppkey, l_partkey) t
          |  WHERE pq IN (SELECT p_partkey FROM q20_part
          |               WHERE p_name LIKE 'red%')
          |    AND qty > (SELECT 0.7 * sum(l2.l_quantity)
          |               FROM q20_lineitem l2
          |               WHERE l2.l_partkey = pq
          |                 AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
          |                 AND l2.l_shipdate < TIMESTAMP '1997-01-01'))
          |ORDER BY s_suppkey""".stripMargin)
    },
      Some("""SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT sq FROM (
        |    SELECT l_suppkey AS sq, l_partkey AS pq,
        |      sum(l_quantity) AS qty
        |    FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |      AND l_shipdate < TIMESTAMP '1997-01-01'
        |    GROUP BY l_suppkey, l_partkey) t
        |  WHERE pq IN (SELECT p_partkey FROM part
        |               WHERE p_name LIKE 'red%')
        |    AND qty > (SELECT 0.7 * sum(l2.l_quantity)
        |               FROM lineitem l2
        |               WHERE l2.l_partkey = pq
        |                 AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
        |                 AND l2.l_shipdate < TIMESTAMP '1997-01-01'))
        |ORDER BY s_suppkey""".stripMargin),
      headline = true),

    // ---- TPC-H Q21 shape: EXISTS + NOT EXISTS ---------------------
    // (Adapted: no commit/receipt dates in the fixture, so "late" =
    // shipped >60 days after the order date.)
    //
    // ROUND-14 SINGLE-SCAN RESPELL (oracle keeps the EXISTS form —
    // the hash gate is the equivalence proof). The decorrelated
    // EXISTS/NOT-EXISTS plan scanned AND shuffled lineitem — the
    // biggest table — three times (l1 ⋈ orders, the l2 left-semi,
    // the l3 left-anti, every one keyed on l_orderkey). Both
    // subqueries depend only on (l_orderkey, l_suppkey)-level facts,
    // so one pass computes them: per (order, supplier) count the
    // late rows, then per order count the suppliers and the LATE
    // suppliers. A row group qualifies iff it is late (late_rows >
    // 0), another supplier touched the order (nsupp > 1 ⇔ EXISTS),
    // and it is the order's ONLY late supplier (nlate = 1 ⇔ NOT
    // EXISTS — its own supplier is in the late set, so "no other
    // late supplier" is exactly |late set| = 1). numwait = the late
    // ROW count summed over qualifying groups, which is what the
    // 5-table count(*) counted (supplier/orders/nation/region joins
    // are all 1:1 per l1 row). One lineitem scan, one shuffle of
    // pre-aggregated (order, supplier) partials, both window counts
    // in a single Window node over the same exchange.
    // Equivalence preconditions (round-15 ADVICE): o_orderkey is
    // unique (orders PK — the original subqueries never join orders,
    // the respell filters per_supp THROUGH the orders join, so a
    // duplicated orderkey would multiply late counts) and l_suppkey
    // is non-null (the original's `<>` comparison drops null-supplier
    // rows where the GROUP BY here would keep a NULL group). Both are
    // TPC-H schema guarantees; the two-SF hash gate proves them for
    // this fixture.
    Query("q_tpch_q21", (s, dir) => {
      t(s, dir, "supplier").createOrReplaceTempView("q21_supplier")
      t(s, dir, "lineitem").createOrReplaceTempView("q21_lineitem")
      t(s, dir, "orders").createOrReplaceTempView("q21_orders")
      t(s, dir, "nation").createOrReplaceTempView("q21_nation")
      t(s, dir, "region").createOrReplaceTempView("q21_region")
      s.sql(
        """WITH per_supp AS (
          |  SELECT l_orderkey, l_suppkey,
          |    sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
          |             THEN 1 ELSE 0 END) AS _late_rows
          |  FROM q21_lineitem JOIN q21_orders ON o_orderkey = l_orderkey
          |  WHERE o_orderstatus = 'F'
          |  GROUP BY l_orderkey, l_suppkey
          |), flagged AS (
          |  SELECT l_suppkey, _late_rows,
          |    count(*) OVER (PARTITION BY l_orderkey) AS _nsupp,
          |    count(CASE WHEN _late_rows > 0 THEN 1 END)
          |      OVER (PARTITION BY l_orderkey) AS _nlate
          |  FROM per_supp
          |)
          |SELECT s_name, sum(_late_rows) AS numwait
          |FROM flagged
          |JOIN q21_supplier ON s_suppkey = l_suppkey
          |JOIN q21_nation ON s_nationkey = n_nationkey
          |JOIN q21_region ON n_regionkey = r_regionkey
          |WHERE _late_rows > 0 AND _nsupp > 1 AND _nlate = 1
          |  AND r_name = 'ASIA'
          |GROUP BY s_name
          |ORDER BY numwait DESC, s_name""".stripMargin)
    },
      Some("""SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders, nation, region
        |WHERE s_suppkey = l1.l_suppkey
        |  AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate
        |                      + INTERVAL 60 DAY)
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin),
      headline = true),

    // ---- TPC-H Q22: global sales opportunity ---------------------
    // (Adapted: country code = c_nationkey % 7 — no phone column —
    // and "dormant" = no order since 2000, because every fixture
    // customer has SOME order.) Shapes: an uncorrelated scalar AVG
    // subquery gating the row set, plus a correlated NOT EXISTS that
    // must plan as a left-anti join against the date-filtered orders.
    Query("q_tpch_q22", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("q22_customer")
      t(s, dir, "orders").createOrReplaceTempView("q22_orders")
      s.sql(
        """SELECT cntrycode, count(*) AS numcust,
          |  floor(sum(c_acctbal) * 100 + 0.5 + 1e-6) / 100 AS totacctbal
          |FROM (
          |  SELECT c_nationkey % 7 AS cntrycode, c_acctbal, c_custkey
          |  FROM q22_customer
          |  WHERE c_nationkey % 7 IN (1, 2, 3, 4, 5)
          |    AND c_acctbal > (
          |      SELECT avg(c_acctbal) FROM q22_customer
          |      WHERE c_acctbal > 0.0
          |        AND c_nationkey % 7 IN (1, 2, 3, 4, 5))) c
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM q22_orders
          |  WHERE o_custkey = c_custkey
          |    AND o_orderdate >= TIMESTAMP '2000-01-01')
          |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin)
    },
      Some("""SELECT cntrycode, count(*) AS numcust,
        |  r(sum(c_acctbal), 2) AS totacctbal
        |FROM (
        |  SELECT c_nationkey % 7 AS cntrycode, c_acctbal, c_custkey
        |  FROM customer
        |  WHERE c_nationkey % 7 IN (1, 2, 3, 4, 5)
        |    AND c_acctbal > (
        |      SELECT avg(c_acctbal) FROM customer
        |      WHERE c_acctbal > 0.0
        |        AND c_nationkey % 7 IN (1, 2, 3, 4, 5))) c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin),
      headline = true)
  )
}
