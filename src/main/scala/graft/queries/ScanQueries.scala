package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.Fixtures._

/** Scan, filter, projection and per-row expression queries, and the
  * file-format roundtrips through the plugin pairs. */
object ScanQueries {
  val all: Seq[Query] = Seq(
    // ---- A1/A2B scan + projection --------------------------------
    Query("q_scan_project", (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
      headline = true),

    // ---- filter / predicate pushdown -----------------------------
    Query("q_filter", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
        .select("l_orderkey", "l_partkey", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_partkey"),
      Some("""SELECT l_orderkey, l_partkey, l_quantity, l_discount
        |FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05
        |ORDER BY l_orderkey, l_partkey""".stripMargin),
      headline = true),

    // ---- with_column (derived expression) ------------------------
    Query("q_with_column", (s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("charge", r(
          col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax")), 2))
        .select("l_orderkey", "l_linenumber", "charge")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
        |  r(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charge
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
      headline = true),

    // ---- A5 column multiplier (reference's flagship transform) ---
    Query("q_multiplier", (s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("l_extendedprice", col("l_extendedprice") * lit(2L))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("amount"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice * 2 AS amount
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
      headline = true),

    // ---- drop ----------------------------------------------------
    Query("q_drop", (s, dir) =>
      t(s, dir, "nation").drop("n_regionkey").orderBy("n_nationkey"),
      Some("SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey")),

    // ---- cast ----------------------------------------------------
    Query("q_cast", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("int").as("qty_int"),
          col("l_shipdate").cast("date").as("ship_date"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
        |  CAST(trunc(l_quantity) AS INTEGER) AS qty_int,
        |  CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- rename --------------------------------------------------
    Query("q_rename", (s, dir) =>
      t(s, dir, "region")
        .withColumnsRenamed(Map(
          "r_regionkey" -> "region_id", "r_name" -> "region_name"))
        .orderBy("region_id"),
      Some("""SELECT r_regionkey AS region_id, r_name AS region_name
        |FROM region ORDER BY region_id""".stripMargin)),

    // ---- sort + limit (global top-k: TakeOrderedAndProject) ------
    Query("q_sort", (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),
      headline = true),

    // ---- when/then/otherwise -------------------------------------
    Query("q_when_then", (s, dir) =>
      t(s, dir, "orders")
        .withColumn("bucket",
          when(col("o_totalprice") > 200000, "big")
            .when(col("o_totalprice") > 100000, "mid")
            .otherwise("small"))
        .groupBy("o_orderpriority", "bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority", "bucket"),
      Some("""SELECT o_orderpriority,
        |  CASE WHEN o_totalprice > 200000 THEN 'big'
        |       WHEN o_totalprice > 100000 THEN 'mid'
        |       ELSE 'small' END AS bucket,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority, bucket
        |ORDER BY o_orderpriority, bucket""".stripMargin),
      headline = true),

    // ---- string functions ----------------------------------------
    Query("q_string_funcs", (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_name"), 1, 10).as("name10"),
          length(col("p_name")).as("name_len"),
          col("p_name").like("%el%").as("has_el"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, upper(p_brand) AS brand_u,
        |  substring(p_name, 1, 10) AS name10,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  (p_name LIKE '%el%') AS has_el
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // ---- advanced string functions -------------------------------
    Query("q_string_advanced", (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).as("brand_num"),
          expr("split_part(p_name, ' ', 1)").as("first_word"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          lpad(col("p_size").cast("string"), 4, "0").as("size_padded"),
          reverse(col("p_brand")).as("brand_rev"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
        |  regexp_extract(p_brand, 'Brand#(\d+)', 1) AS brand_num,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  concat_ws('-', p_brand, p_type) AS brand_type,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
        |  reverse(p_brand) AS brand_rev
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // ---- advanced date functions ---------------------------------
    Query("q_date_advanced", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          quarter(col("o_orderdate")).as("qtr"),
          dayofweek(col("o_orderdate")).as("dow"),
          dayofmonth(col("o_orderdate")).as("dom"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        |  CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- distinct ------------------------------------------------
    Query("q_distinct", (s, dir) =>
      t(s, dir, "customer")
        .select("c_nationkey", "c_mktsegment").distinct()
        .orderBy("c_nationkey", "c_mktsegment"),
      Some("""SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),
      headline = true),

    // ---- date functions ------------------------------------------
    Query("q_date_funcs", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"), r(sum("o_totalprice"), 2).as("total"))
        .orderBy("yr", "mo"),
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo,
        |  count(*) AS n, r(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY yr, mo ORDER BY yr, mo""".stripMargin),
      headline = true),

    // ---- math functions ------------------------------------------
    Query("q_math_funcs", (s, dir) =>
      t(s, dir, "supplier")
        .select(col("s_suppkey"),
          r(abs(col("s_acctbal")), 2).as("abs_bal"),
          ceil(col("s_acctbal")).as("ceil_bal"),
          floor(col("s_acctbal")).as("floor_bal"),
          r(sqrt(abs(col("s_acctbal"))), 4).as("sqrt_bal"))
        .orderBy("s_suppkey"),
      Some("""SELECT s_suppkey, r(abs(s_acctbal), 2) AS abs_bal,
        |  CAST(ceil(s_acctbal) AS BIGINT) AS ceil_bal,
        |  CAST(floor(s_acctbal) AS BIGINT) AS floor_bal,
        |  r(sqrt(abs(s_acctbal)), 4) AS sqrt_bal
        |FROM supplier ORDER BY s_suppkey""".stripMargin)),

    // ---- JSON extraction -----------------------------------------
    Query("q_json", (s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      headline = true),

    // ---- array functions over embedding vectors ------------------
    Query("q_array_funcs", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          element_at(col("embedding"), 1).cast("double").as("first_val"),
          size(filter(col("embedding"), x => x > 0)).cast("long").as("n_pos"),
          r(aggregate(slice(col("embedding").cast("array<double>"), 1, 8),
            lit(0.0), (acc, x) => acc + x), 4).as("head_sum"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id, len(embedding) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS first_val,
        |  len(list_filter(embedding, x -> x > 0)) AS n_pos,
        |  r(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 4)
        |    AS head_sum
        |FROM embeddings ORDER BY vec_id""".stripMargin),
      headline = true),

    // ---- higher-order array function suite -----------------------
    // zip_with / exists / forall / array_sort+slice / array_distinct
    // over the embedding vectors — all codegen'd lambda functions,
    // shuffle-free except the output ordering. The self zip_with dot
    // product doubles as the kernel-free cosine reference.
    Query("q_array_hof", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .select(col("vec_id"),
          r(aggregate(zip_with(col("v"), col("v"), (a, b) => a * b),
            lit(0.0), (acc, x) => acc + x), 4).as("self_dot"),
          exists(col("v"), _ > 0.3).as("has_large"),
          forall(col("v"), x => abs(x) < lit(10.0)).as("all_bounded"),
          r(element_at(array_sort(col("v")), -1), 4).as("max_val"),
          size(array_distinct(
            transform(col("v"), x => (x > 0).cast("int")))).cast("long")
            .as("n_sign_kinds"))
        .orderBy("vec_id"),
      Some("""WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT vec_id,
        |  r(list_sum(list_transform(v, x -> x * x)), 4) AS self_dot,
        |  len(list_filter(v, x -> x > 0.3)) > 0 AS has_large,
        |  len(list_filter(v, x -> abs(x) >= 10.0)) = 0 AS all_bounded,
        |  r(list_max(v), 4) AS max_val,
        |  CAST(len(list_distinct(list_transform(v,
        |    x -> CASE WHEN x > 0 THEN 1 ELSE 0 END))) AS BIGINT)
        |    AS n_sign_kinds
        |FROM e ORDER BY vec_id""".stripMargin),
      headline = true),

    // ---- typed JSON extraction (from_json with schema) -----------
    // The production JSON path: parse once into a typed struct, then
    // project fields — vs q_json's per-field get_json_object probes.
    // Corrupt/missing fields become NULLs (exercised by the unioned
    // edge rows), matching the oracle's TRY json extraction.
    Query("q_from_json", (s, dir) => {
      import s.implicits._
      val edges = Seq((-2L, Option.empty[String]), (-1L, Some("not json")))
        .toDF("event_id", "props")
      events(s, dir).select(col("event_id"), col("props"))
        .unionByName(edges)
        .withColumn("parsed", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")))
        .select(col("event_id"), col("parsed.k").as("k"))
        .orderBy("event_id")
    },
      // edge rows: NULL and non-JSON props both yield NULL k (Spark
      // PERMISSIVE from_json <-> guarded TRY extraction here)
      Some("""WITH src AS (
        |  SELECT event_id, props FROM events
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-2 AS BIGINT), CAST(NULL AS VARCHAR)),
        |    (CAST(-1 AS BIGINT), 'not json')) v(event_id, props)
        |)
        |SELECT event_id,
        |  CASE WHEN props IS NOT NULL AND json_valid(props)
        |       THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |  END AS k
        |FROM src ORDER BY event_id""".stripMargin),
      headline = true),

    // ---- SQL-function surface under the oracle -------------------
    // The GraftExtensions registry path end-to-end: the config-level
    // sql plugin computes SimHash signatures with the simhash64 SQL
    // function; DuckDB recomputes the same md5-token signatures, so
    // the registered function (not just the Column API) sits on the
    // hash gate.
    Query("q_sql_kernels", (s, dir) => {
      val docs = tBalanced(s, dir, "documents").select("doc_id", "text")
      new graft.plugins.transform.SqlPlugin(
        Map("query" ->
          ("SELECT doc_id, simhash64(split(trim(regexp_replace(" +
            "regexp_replace(lower(text), '[\\\\p{Punct}]', ' '), " +
            "'\\\\s+', ' ')), ' ')) AS sig " +
            "FROM input ORDER BY doc_id")),
        java.nio.file.Paths.get("/tmp"), "default")
        .execute(docs).fold(e => throw e, identity)
    },
      Some("""WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM d
        |), h AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM tok
        |), bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS c
        |  FROM h, range(64) rng(b) GROUP BY doc_id, b
        |)
        |SELECT doc_id, CAST(sum(CASE WHEN c > 0 THEN
        |    (CASE WHEN b = 63 THEN -9223372036854775808
        |          ELSE (1::BIGINT << b) END) ELSE 0 END) AS BIGINT) AS sig
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- SQL-function surface, round-6 kernels -------------------
    // char_entropy and zorder_code driven through the free-form sql
    // plugin, proving the SessionExtensions registration end-to-end
    // (not just the Column API); the oracle recomputes both the long
    // way (char explode / shift-mask terms).
    Query("q_sql_kernels2", (s, dir) => {
      val docs = tBalanced(s, dir, "documents")
        .select("doc_id", "text", "n_chars")
      new graft.plugins.transform.SqlPlugin(
        Map("query" ->
          ("SELECT doc_id, " +
            "floor(char_entropy(text) * 10000 + 0.5 + 1e-6) / 10000 AS h, " +
            "zorder_code(array(CAST(doc_id % 16 AS INT), " +
            "CAST(n_chars % 16 AS INT)), 4) AS z " +
            "FROM input WHERE text IS NOT NULL ORDER BY doc_id")),
        java.nio.file.Paths.get("/tmp"), "default")
        .execute(docs).fold(e => throw e, identity)
    },
      Some(s"""WITH chars AS (
        |  SELECT doc_id, substr(text, CAST(u.g AS INTEGER), 1) AS ch
        |  FROM documents, LATERAL (SELECT unnest(range(1, len(text) + 1)) AS g) u
        |  WHERE text IS NOT NULL
        |), freq AS (
        |  SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
        |  FROM chars GROUP BY doc_id, ch
        |), ent AS (
        |  SELECT doc_id, sum(-(c / n) * (ln(c / n) / ln(2))) AS h
        |  FROM (SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n
        |        FROM freq)
        |  GROUP BY doc_id
        |), m AS (
        |  SELECT doc_id, doc_id % 16 AS a, n_chars % 16 AS b
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT m.doc_id, r(coalesce(ent.h, 0.0), 4) AS h,
        |  CAST((${mortonTerms("a", "b", 4)}) AS BIGINT) AS z
        |FROM m LEFT JOIN ent ON m.doc_id = ent.doc_id
        |ORDER BY m.doc_id""".stripMargin)),

    // ---- write-layout: Z-order (Morton) interleave kernel --------
    // Deterministic variant for the oracle: dimensions are modular
    // buckets, not sampled quantiles (approxQuantile boundaries are
    // engine/seed-specific; the interleave kernel is the part DuckDB
    // can recompute exactly, as 16 explicit shift/mask terms). The
    // full equi-depth path — sampled boundaries, SortedBucket,
    // range-shuffle write via the cluster_by option — is pinned by
    // ZOrderSpec's file-spread assertions.
    Query("q_zorder", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"),
          graft.expressions.ZOrderCode.zorder_code(
            array((col("l_orderkey") % 256).cast("int"),
              (col("l_partkey") % 256).cast("int")), 8).as("zcode"))
        .orderBy("l_orderkey", "l_partkey", "zcode"),
      Some(s"""WITH m AS (
        |  SELECT l_orderkey, l_partkey,
        |    l_orderkey % 256 AS a, l_partkey % 256 AS b
        |  FROM lineitem)
        |SELECT l_orderkey, l_partkey,
        |  CAST((${mortonTerms("a", "b", 8)}) AS BIGINT) AS zcode
        |FROM m ORDER BY l_orderkey, l_partkey, zcode""".stripMargin),
      headline = true),

    // ---- write-layout: Hilbert-curve kernel ----------------------
    // Same deterministic modular-bucket spelling as q_zorder; the
    // oracle replays the xy2d reflect/rotate walk as a recursive CTE
    // (8 levels, s = 128 → 1 — integer-only, exact). The full layout
    // path (sampled boundaries + range-shuffle write via
    // cluster_curve = "hilbert") is pinned by HilbertSpec's
    // adjacency/file-span assertions.
    Query("q_hilbert", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"),
          graft.expressions.HilbertCode.hilbert_code(
            array((col("l_orderkey") % 256).cast("int"),
              (col("l_partkey") % 256).cast("int")), 8).as("hcode"))
        .orderBy("l_orderkey", "l_partkey", "hcode"),
      // hilbert xy2d replayed as a recursive CTE: each level consumes
      // the current top bit s, accumulates the quadrant term
      // s²·xor(3·rx, ry), and applies the s-1 reflect + swap — integer
      // arithmetic only, so the replay is exact.
      Some("""WITH RECURSIVE m AS (
        |  SELECT l_orderkey, l_partkey,
        |    CAST(l_orderkey % 256 AS BIGINT) AS x0,
        |    CAST(l_partkey % 256 AS BIGINT) AS y0
        |  FROM lineitem
        |), h AS (
        |  SELECT l_orderkey, l_partkey, x0 AS x, y0 AS y,
        |    CAST(128 AS BIGINT) AS s, CAST(0 AS BIGINT) AS d
        |  FROM m
        |  UNION ALL
        |  SELECT l_orderkey, l_partkey,
        |    CASE WHEN (y & s) = 0 THEN
        |      (CASE WHEN (x & s) > 0 THEN s - 1 - y ELSE y END)
        |      ELSE x END AS x,
        |    CASE WHEN (y & s) = 0 THEN
        |      (CASE WHEN (x & s) > 0 THEN s - 1 - x ELSE x END)
        |      ELSE y END AS y,
        |    s // 2 AS s,
        |    d + s * s * xor(CASE WHEN (x & s) > 0 THEN 3 ELSE 0 END,
        |                    CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END) AS d
        |  FROM h WHERE s > 0)
        |SELECT l_orderkey, l_partkey, d AS hcode
        |FROM h WHERE s = 0
        |ORDER BY l_orderkey, l_partkey, hcode""".stripMargin),
      headline = true),

    // ---- CSV source/sink roundtrip under the oracle --------------
    // customer → csv_writer plugin → csv_scan plugin (header +
    // inferSchema) → cast back to the parquet schema → must equal
    // the original table (oracle reads the parquet directly). Puts
    // the CSV plugins' quoting/typing on the hash gate, not just
    // sbt assertions.
    Query("q_csv_roundtrip", (s, dir) => {
      implicit val spark: SparkSession = s
      val base = t(s, dir, "customer")
      val work = scratch("csv_rt")
      new graft.plugins.output.CsvWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
        .execute(base).fold(e => throw e, _ => ())
      val back = new graft.plugins.input.CsvScanPlugin(
        Map("input_path" -> work.resolve("out").toString), work, "default")
        .execute().fold(e => throw e, identity)
      val casted = base.schema.fields.foldLeft(back) { (df, f) =>
        df.withColumn(f.name, col(f.name).cast(f.dataType))
      }
      casted.select(base.schema.fieldNames.map(col): _*).orderBy("c_custkey")
    },
      // Roundtrips: the engine wrote and re-read the table through the
      // CSV / Arrow-IPC plugins; the oracle reads the original parquet.
      Some("SELECT * FROM customer ORDER BY c_custkey")),

    // ---- JSONL source/sink roundtrip under the oracle ------------
    // json_writer → json_scan with an EXPLICIT schema (the scale
    // path: no inference pass, no type drift) must reproduce the
    // documents table exactly — JSON string escaping must survive
    // newlines/unicode in text, and absent fields must come back as
    // NULLs.
    Query("q_jsonl_roundtrip", (s, dir) => {
      implicit val spark: SparkSession = s
      val base = t(s, dir, "documents")
      val work = scratch("jsonl_rt")
      new graft.plugins.output.JsonWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
        .execute(base).fold(e => throw e, _ => ())
      val back = new graft.plugins.input.JsonScanPlugin(
        Map("input_path" -> work.resolve("out").toString,
          "schema_ddl" -> base.schema.toDDL), work, "default")
        .execute().fold(e => throw e, identity)
      back.select(base.schema.fieldNames.map(col).toSeq: _*).orderBy("doc_id")
    },
      Some("SELECT * FROM documents ORDER BY doc_id")),

    // ---- Arrow IPC source/sink roundtrip under the oracle --------
    // Same gate for the Arrow-Java bridge: ipc_writer → ipc_scan
    // must reproduce the table bit-for-bit (types preserved, no
    // inference involved).
    Query("q_ipc_roundtrip", (s, dir) => {
      implicit val spark: SparkSession = s
      val base = t(s, dir, "customer")
      val work = scratch("ipc_rt")
      new graft.plugins.output.IpcWriterPlugin(
        Map("output_path" -> work.resolve("out.arrow").toString), work, "default")
        .execute(base).fold(e => throw e, _ => ())
      new graft.plugins.input.IpcScanPlugin(
        Map("input_path" -> work.resolve("out.arrow").toString), work, "default")
        .execute().fold(e => throw e, identity)
        .orderBy("c_custkey")
    },
      Some("SELECT * FROM customer ORDER BY c_custkey")),

    // ---- ORC roundtrip through the plugin pair -------------------
    Query("q_orc_roundtrip", (s, dir) => {
      implicit val spark: SparkSession = s
      val base = t(s, dir, "customer")
      val work = scratch("orc_rt")
      new graft.plugins.output.OrcWriterPlugin(
        Map("output_path" -> work.resolve("out").toString,
          "compression" -> "zstd"), work, "default")
        .execute(base).fold(e => throw e, _ => ())
      new graft.plugins.input.OrcScanPlugin(
        Map("input_path" -> work.resolve("out").toString), work, "default")
        .execute().fold(e => throw e, identity)
        .select(base.schema.fieldNames.map(col): _*)
        .orderBy("c_custkey")
    },
      Some("SELECT * FROM customer ORDER BY c_custkey"),
      headline = true)
  )
}
