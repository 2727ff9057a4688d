package graft.plugins

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.core.{Loader, Pipeline}
import graft.plugins.input.{ArrowIpc, CsvScanPlugin, IpcScanPlugin, ParquetScanPlugin}
import graft.plugins.output.{IpcWriterPlugin, ParquetWriterPlugin}
import graft.plugins.transform._

/** Mirrors the reference per-plugin suites
  * (packages/cryoflow-plugin-collections/tests/...) plus loader tests:
  * execute success values, missing-option / missing-file failures with
  * message substrings, dry_run schema pass/fail. */
class PluginSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._
  private val dir = Paths.get("/tmp")

  private def tmpParquet(vals: Seq[(Long, String)]): String = {
    val p = Files.createTempDirectory("plug").resolve("in.parquet").toString
    vals.toDF("amount", "item").coalesce(1).write.mode("overwrite").parquet(p)
    p
  }

  test("parquet scan: execute reads values lazily; dry_run = footer schema") {
    val p = tmpParquet(Seq((100L, "a"), (200L, "b"), (300L, "c")))
    val plug = new ParquetScanPlugin(Map("input_path" -> p), dir, "default")
    val df = plug.execute().fold(e => fail(e.getMessage), identity)
    assert(df.select("amount").as[Long].collect().sorted.toSeq == Seq(100L, 200L, 300L))
    val schema = plug.dryRun().fold(e => fail(e.getMessage), identity)
    assert(schema.fieldNames.toSeq == Seq("amount", "item"))
  }

  test("parquet scan: missing option / missing file messages") {
    val noOpt = new ParquetScanPlugin(Map.empty, dir, "default")
    assert(noOpt.execute().left.toOption.get.getMessage
      .contains("Option 'input_path' is required"))
    val noFile = new ParquetScanPlugin(Map("input_path" -> "/nope.parquet"), dir, "default")
    assert(noFile.execute().left.toOption.get.getMessage
      .contains("Input file not found"))
  }

  test("column multiplier: values, missing options, dry_run type checks") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("value", "name")
    val x3 = new ColumnMultiplierPlugin(
      Map("column_name" -> "value", "multiplier" -> 3), dir, "default")
    val out = x3.execute(df).fold(e => fail(e.getMessage), identity)
    assert(out.select("value").as[Long].collect().sorted.toSeq == Seq(3L, 6L, 9L))
    assert(out.columns.toSeq == df.columns.toSeq) // name preserved

    assert(new ColumnMultiplierPlugin(Map("multiplier" -> 2), dir, "default")
      .execute(df).left.toOption.get.getMessage
      .contains("Option 'column_name' is required"))
    assert(new ColumnMultiplierPlugin(Map("column_name" -> "value"), dir, "default")
      .execute(df).left.toOption.get.getMessage
      .contains("Option 'multiplier' is required"))

    val dryBadCol = x3.copyWith("column_name" -> "nope")
      .dryRun(df.schema).left.toOption.get.getMessage
    assert(dryBadCol.contains("Column 'nope' not found in schema"))
    val dryBadType = new ColumnMultiplierPlugin(
      Map("column_name" -> "name", "multiplier" -> 2), dir, "default")
      .dryRun(df.schema).left.toOption.get.getMessage
    assert(dryBadType.contains("expected numeric type"))
  }

  test("column multiplier dtype contract: preserve (ANSI-loud on " +
      "overflow) vs preserve_dtype=false widening") {
    val ints = Seq(1, 2000000000).toDF("v")
    val x2 = new ColumnMultiplierPlugin(
      Map("column_name" -> "v", "multiplier" -> 2), dir, "default")
    val kept = x2.execute(ints).fold(e => fail(e.getMessage), identity)
    assert(kept.schema("v").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // under default ANSI the out-of-range value fails LOUDLY at
    // action time (never silently wraps)
    intercept[Exception] { kept.collect() }
    // widening opt-out restores the old always-succeeds behavior
    val widened = new ColumnMultiplierPlugin(
      Map("column_name" -> "v", "multiplier" -> 2,
        "preserve_dtype" -> false), dir, "default")
      .execute(ints).fold(e => fail(e.getMessage), identity)
    assert(widened.schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(widened.orderBy("v").as[Long].collect().toSeq ==
      Seq(2L, 4000000000L))
    // dryRun reflects the widened schema too (empty-frame propagation)
    assert(new ColumnMultiplierPlugin(
      Map("column_name" -> "v", "multiplier" -> 2,
        "preserve_dtype" -> false), dir, "default")
      .dryRun(ints.schema).toOption.get("v").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  implicit private class MultCopy(p: ColumnMultiplierPlugin) {
    def copyWith(kv: (String, Any)): ColumnMultiplierPlugin =
      new ColumnMultiplierPlugin(p.options + kv, dir, "default")
  }

  test("filter/select/with_column/group_by_agg compose through expr()") {
    val df = Seq((1L, 10.0, "x"), (2L, 20.0, "y"), (3L, 30.0, "x"))
      .toDF("id", "v", "g")
    val filtered = new FilterPlugin(Map("predicate" -> "v > 15"), dir, "default")
      .execute(df).toOption.get
    assert(filtered.count() == 2)
    val selected = new SelectPlugin(
      Map("columns" -> Seq("g", "v * 2 as v2")), dir, "default")
      .execute(df).toOption.get
    assert(selected.columns.toSeq == Seq("g", "v2"))
    val derived = new WithColumnPlugin(
      Map("column" -> "flag", "expression" -> "v >= 20"), dir, "default")
      .execute(df).toOption.get
    assert(derived.filter("flag").count() == 2)
    val agg = new GroupByAggPlugin(Map(
      "group_by" -> Seq("g"),
      "aggregations" -> Seq("sum(v) as total", "count(*) as n")), dir, "default")
      .execute(df).toOption.get
    assert(agg.filter("g = 'x'").select("total").as[Double].head() == 40.0)
    // reference-doc'd option shape: agg_columns + agg_fn
    val refShape = new GroupByAggPlugin(Map(
      "group_by" -> Seq("g"), "agg_columns" -> Seq("v"),
      "agg_fn" -> "sum"), dir, "default").execute(df).toOption.get
    assert(refShape.columns.toSeq == Seq("g", "v_sum"))
    assert(refShape.filter("g = 'x'").select("v_sum").as[Double].head() == 40.0)
  }

  test("join plugin joins another labeled stream; broadcast hint applies") {
    val facts = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val dims = Seq((1L, "one"), (2L, "two")).toDF("k", "name")
    val plug = new JoinPlugin(Map(
      "right_label" -> "dims", "on" -> Seq("k"), "broadcast" -> true), dir, "default")
    val out = plug.executeWith(facts, Map("dims" -> Right(dims))).toOption.get
    assert(out.columns.toSeq == Seq("k", "v", "name"))
    assert(out.count() == 2)
    val missing = plug.executeWith(facts, Map.empty).left.toOption.get
    assert(missing.getMessage.contains("No input data with label 'dims'"))
  }

  test("parquet writer: writes + creates parents; dry_run validates path") {
    val out = Files.createTempDirectory("wr").resolve("nested/deep/out.parquet")
    val plug = new ParquetWriterPlugin(
      Map("output_path" -> out.toString, "single_file" -> true), dir, "default")
    val df = Seq((1L, "a")).toDF("amount", "item")
    assert(plug.dryRun(df.schema).isRight)
    assert(plug.execute(df).isRight)
    assert(spark.read.parquet(out.toString).count() == 1)
    assert(new ParquetWriterPlugin(Map.empty, dir, "default")
      .execute(df).left.toOption.get.getMessage
      .contains("Option 'output_path' is required"))
  }

  test("parquet writer: compression, file sizing, and sort clustering options") {
    val out = Files.createTempDirectory("wropt").resolve("o.parquet")
    val df = spark.range(1000).toDF("id")
      .withColumn("k", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("id"), org.apache.spark.sql.functions.lit(7L)))
      .repartition(2)
    val plug = new ParquetWriterPlugin(Map(
      "output_path" -> out.toString,
      "compression" -> "zstd",
      "max_records_per_file" -> 200,
      "sort_within_partitions" -> Seq("k")), dir, "default")
    assert(plug.execute(df).isRight)
    val parts = Files.list(out).iterator()
    val files = scala.jdk.CollectionConverters.IteratorHasAsScala(parts)
      .asScala.filter(_.toString.endsWith(".parquet")).toSeq
    assert(files.length >= 5, s"maxRecordsPerFile ignored: ${files.length} files")
    assert(files.forall(_.getFileName.toString.contains("zstd")))
    // rows inside each file are clustered by k (non-decreasing)
    val ks = spark.read.parquet(files.head.toString)
      .select("k").collect().map(_.getLong(0)).toSeq
    assert(ks == ks.sorted, "sort_within_partitions not applied")
    assert(spark.read.parquet(out.toString).count() == 1000)
  }

  test("parquet writer: repartition_by aligns files with partition dirs") {
    val out = Files.createTempDirectory("wrpart").resolve("p.parquet")
    val df = spark.range(400).toDF("id")
      .withColumn("lang", org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.col("id") % 2 === 0, "en").otherwise("fr"))
      .repartition(8)
    val plug = new ParquetWriterPlugin(Map(
      "output_path" -> out.toString,
      "partition_by" -> Seq("lang"),
      "repartition_by" -> Seq("lang")), dir, "default")
    assert(plug.execute(df).isRight)
    // aligned: each partition dir holds ONE data file, not 8
    Seq("en", "fr").foreach { l =>
      val files = scala.jdk.CollectionConverters.IteratorHasAsScala(
        Files.list(out.resolve(s"lang=$l")).iterator()).asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
      assert(files.length == 1, s"lang=$l has ${files.length} files")
    }
    assert(spark.read.parquet(out.toString).count() == 400)
  }

  test("arrow IPC roundtrip: write then scan preserves values and schema") {
    val df = Seq((100L, "a", 1.5, true), (200L, "b", 2.5, false))
      .toDF("amount", "item", "ratio", "flag")
    val p = Files.createTempDirectory("ipc").resolve("data.arrow")
    ArrowIpc.writeFile(df, p)
    val plug = new IpcScanPlugin(Map("input_path" -> p.toString), dir, "default")
    val back = plug.execute().fold(e => fail(e.getMessage), identity)
    assert(back.schema.fieldNames.toSeq == Seq("amount", "item", "ratio", "flag"))
    assert(back.orderBy("amount").collect().map(_.getLong(0)).toSeq == Seq(100L, 200L))
    assert(plug.dryRun().toOption.get.fieldNames.length == 4)
  }

  test("arrow IPC bridge reads the reference's Polars-written file (Utf8View)") {
    val ipc = Paths.get("/root/reference/examples/data/sample_sales.ipc")
    assume(Files.exists(ipc))
    val viaIpc = new IpcScanPlugin(
      Map("input_path" -> ipc.toString), dir, "default")
      .execute().fold(e => throw e, identity)
    val viaParquet = spark.read.parquet(
      "/root/reference/examples/data/sample_sales.parquet")
    assert(viaIpc.schema == viaParquet.schema)
    // same 50 rows, value-identical (both files ship the same table)
    val a = viaIpc.orderBy("order_id").collect().map(_.toSeq)
    val b = viaParquet.orderBy("order_id").collect().map(_.toSeq)
    assert(a.length == 50 && a.sameElements(b))
  }

  test("csv scan: separator and header options, schema inference") {
    val p = Files.createTempDirectory("csv").resolve("d.csv")
    Files.writeString(p, "id;name\n1;aa\n2;bb\n")
    val plug = new CsvScanPlugin(
      Map("input_path" -> p.toString, "separator" -> ";"), dir, "default")
    val df = plug.execute().fold(e => fail(e.getMessage), identity)
    assert(df.count() == 2)
    assert(df.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("sample plugin: uniform band + stratified cap via config options") {
    val df = (0L until 400L).map(i => (i, if (i % 2 == 0) "en" else "fr"))
      .toDF("doc_id", "lang")
    val uni = new SamplePlugin(Map("method" -> "uniform",
        "key_column" -> "doc_id", "rate" -> 0.25), dir, "default")
      .execute(df).fold(e => throw e, identity)
    val n = uni.count()
    assert(n > 50 && n < 150) // ~100 expected, deterministic
    val capped = new SamplePlugin(Map("method" -> "stratified_cap",
        "key_column" -> "doc_id", "group_columns" -> Seq("lang"),
        "cap" -> 30), dir, "default")
      .execute(df).fold(e => throw e, identity)
    assert(capped.groupBy("lang").count().collect()
      .forall(_.getLong(1) == 30L))
    val bad = new SamplePlugin(Map("method" -> "uniform",
        "key_column" -> "doc_id"), dir, "default").execute(df)
    assert(bad.left.toOption.get.getMessage.contains("'rate' is required"))
    // shuffle_shard: every row kept, (shard, pos) appended, dry-run
    // declares the same shape
    val plug = new SamplePlugin(Map("method" -> "shuffle_shard",
      "key_column" -> "doc_id", "n_shards" -> 4, "seed" -> 3), dir, "default")
    val sharded = plug.execute(df).fold(e => throw e, identity)
    assert(sharded.count() == 400)
    assert(sharded.columns.toSeq == Seq("doc_id", "lang", "shard", "pos"))
    assert(sharded.select("shard").distinct().count() == 4)
    val sdry = plug.dryRun(df.schema).fold(e => throw e, identity)
    assert(sdry.fieldNames.toSeq == sharded.columns.toSeq)
  }

  test("pack plugin: chunks and greedy modes, dry run, bad method") {
    val df = Seq((1L, "a", 600L), (2L, "a", 600L), (3L, "b", 100L))
      .toDF("id", "shard", "toks")
    def run(method: String) = new PackPlugin(Map("method" -> method,
        "tokens_column" -> "toks", "shard_columns" -> Seq("shard"),
        "order_column" -> "id", "budget" -> 1024), dir, "default")
      .execute(df).fold(e => throw e, identity)
    val chunks = run("chunks").collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(chunks(2L) == (0L, 600L)) // concat-and-chunk: doc 2 splits in
    val greedy = run("greedy").collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(greedy(2L) == (1L, 0L)) // no-split: doc 2 opens a new seq
    val dry = new PackPlugin(Map("tokens_column" -> "toks",
        "shard_columns" -> Seq("shard"), "order_column" -> "id"),
        dir, "default").dryRun(df.schema).fold(e => throw e, identity)
    assert(dry.fieldNames.toSeq ==
      Seq("id", "shard", "toks", "seq_id", "seq_offset"))
    val bad = new PackPlugin(Map("method" -> "nope",
        "tokens_column" -> "toks", "shard_columns" -> Seq("shard"),
        "order_column" -> "id"), dir, "default").execute(df)
    assert(bad.left.toOption.get.getMessage.contains("Unknown pack method"))
  }

  test("sample plugin: split_leakage_safe keeps dup families in one split") {
    val docs = (
      (0L until 3L).map(i => (i, "identical boilerplate paragraph text")) ++
        (10L until 60L).map { i =>
          val code = "" + ('a' + (i / 26).toInt).toChar + ('a' + (i % 26).toInt).toChar
          (i, code * 12)
        }).toDF("doc_id", "text")
    def run(method: String) = new SamplePlugin(Map(
        "method" -> "split_leakage_safe", "key_column" -> "doc_id",
        "pair_method" -> method, "split_names" -> Seq("train", "test"),
        "split_fracs" -> Seq("0.8", "0.2")), dir, "default")
      .execute(docs).fold(e => throw e, identity)
    Seq("fingerprint", "minhash").foreach { m =>
      val out = run(m).select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out.size == 53, s"pair_method $m")
      assert(Set(out(0L), out(1L), out(2L)).size == 1, s"pair_method $m")
      assert(out.values.toSet == Set("train", "test"), s"pair_method $m")
    }
    val bad = new SamplePlugin(Map("method" -> "split_leakage_safe",
        "key_column" -> "doc_id", "pair_method" -> "nope",
        "split_names" -> Seq("a", "b"),
        "split_fracs" -> Seq("0.5", "0.5")), dir, "default").execute(docs)
    assert(bad.left.toOption.get.getMessage.contains("Unknown pair_method"))
  }

  test("similarity plugin: labeled query stream, all four methods, dry run") {
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 3)
    val streams = Map("queries" -> (Right(queries): Either[Throwable, org.apache.spark.sql.DataFrame]))
    def run(method: String) = new SimilarityPlugin(Map("method" -> method,
        "id_column" -> "vec_id", "queries_label" -> "queries", "k" -> 2,
        "nlist" -> 2, "nprobe" -> 2, "m" -> 4, "ksub" -> 4), dir, "default")
      .executeWith(emb, streams).fold(e => throw e, identity)
    val brute = run("brute").collect()
    assert(brute.length == 6) // 3 queries × k=2
    Seq("lsh", "ivf", "ivfpq").foreach { m =>
      val got = run(m)
      assert(got.columns.toSeq == Seq("query_id", "neighbor_id", "cosine", "rank"),
        s"method $m")
    }
    // dry run declares the static output schema without collecting
    val dry = new SimilarityPlugin(Map("method" -> "ivfpq",
        "id_column" -> "vec_id", "queries_label" -> "queries"), dir, "default")
      .dryRunWith(emb.schema, Map("queries" -> Right(queries.schema)))
      .fold(e => throw e, identity)
    assert(dry.fieldNames.toSeq == Seq("query_id", "neighbor_id", "cosine", "rank"))
    val missing = new SimilarityPlugin(Map("method" -> "brute",
        "id_column" -> "vec_id", "queries_label" -> "nope"), dir, "default")
      .executeWith(emb, streams)
    assert(missing.left.toOption.get.getMessage.contains("label 'nope'"))
    // brute broadcasts the query stream: an over-cap query table must
    // fail with a redirect to the bucketed methods, not broadcast-OOM
    val oversized = new SimilarityPlugin(Map("method" -> "brute",
        "id_column" -> "vec_id", "queries_label" -> "queries",
        "max_queries" -> 1), dir, "default")
      .executeWith(emb, streams)
    assert(oversized.left.toOption.get.getMessage.contains("lsh"))
    // centroids mode needs no query stream
    val cents = new SimilarityPlugin(Map("method" -> "centroids",
        "group_by" -> Seq("vec_id")), dir, "default")
      .execute(emb.withColumn("vec_id", $"vec_id" % 2))
      .fold(e => throw e, identity)
    assert(cents.count() == 2)
    val cdry = new SimilarityPlugin(Map("method" -> "centroids",
        "group_by" -> Seq("vec_id")), dir, "default")
      .dryRun(emb.schema).fold(e => throw e, identity)
    assert(cdry.fieldNames.toSeq == Seq("vec_id", "centroid", "n_vectors"))
  }

  test("percentiles plugin: window/selection methods agree; labels derived") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("b", 10.0)).toDF("g", "v")
    def run(method: String) = new PercentilesPlugin(Map(
        "group_by" -> Seq("g"), "value_column" -> "v", "method" -> method,
        "percentiles" -> Seq(0.25, 0.5, 0.975)), dir, "default")
      .execute(df).fold(e => throw e, identity)
    val win = run("window")
    assert(win.columns.toSeq == Seq("g", "p25", "p50", "p97_5"))
    val a = win.filter($"g" === "a").head()
    assert(a.getDouble(1) == 1.75 && a.getDouble(2) == 2.5)
    val sel = run("selection")
    assert(sel.orderBy("g").collect().map(_.toSeq).toSeq ==
      win.orderBy("g").collect().map(_.toSeq).toSeq)
    val dry = new PercentilesPlugin(Map("group_by" -> Seq("g"),
        "value_column" -> "v", "percentiles" -> Seq(0.5)), dir, "default")
      .dryRun(df.schema).fold(e => throw e, identity)
    assert(dry.fieldNames.toSeq == Seq("g", "p50"))
  }

  test("gopher_filter plugin: filter and flags modes, threshold override") {
    val long = ("all the good words go here and stay with that tone " * 8).trim
    val df = Seq((1L, long), (2L, "tiny")).toDF("doc_id", "text")
    val kept = new GopherFilterPlugin(
        Map("min_words" -> 50), dir, "default")
      .execute(df).fold(e => throw e, identity)
    assert(kept.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(kept.columns.toSeq == Seq("doc_id", "text")) // flags dropped
    val flags = new GopherFilterPlugin(
        Map("mode" -> "flags", "min_words" -> 1000), dir, "default")
      .execute(df).fold(e => throw e, identity)
    assert(flags.columns.contains("gopher_pass"))
    assert(flags.filter(flags("flag_word_count")).count() == 0) // raised floor
  }

  test("dedup plugin: boilerplate_lines method via config options") {
    val df = Seq(
      (1L, "promo line\nkeep me"),
      (2L, "promo line\nkeep me too"),
      (3L, "promo line\nthird unique")).toDF("doc_id", "text")
    val out = new DedupPlugin(Map("method" -> "boilerplate_lines",
        "id_column" -> "doc_id", "min_docs" -> 3), dir, "default")
      .execute(df).fold(e => throw e, identity)
    val rows = out.select("doc_id", "clean_text", "n_lines_removed")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(rows(1L) == ("keep me", 1L))
    assert(rows(3L) == ("third unique", 1L))
  }

  test("chunk plugin: an integer option given as a whole float runs") {
    val df = Seq((1L, (1 to 1200).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val out = new ChunkPlugin(Map("id_column" -> "doc_id", "size" -> 512.0), dir, "default")
      .execute(df).fold(e => fail(e.getMessage), identity)
    assert(out.count() == 3) // 1200 tokens in 512-token windows
  }

  test("graph plugin: a fractional iterations fails, naming the option") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val err = new GraphPlugin(Map("method" -> "pagerank", "src_column" -> "src",
        "dst_column" -> "dst", "iterations" -> 5.5), dir, "default")
      .execute(edges).left.toOption.get
    assert(err.isInstanceOf[graft.core.PluginExecutionError])
    assert(err.getMessage.contains("graph") && err.getMessage.contains("'iterations'"))
  }

  test("sort plugin: a descending list of another length than by fails") {
    val df = Seq((1L, 2L, 3L), (3L, 2L, 1L)).toDF("a", "b", "c")
    def sort(desc: Any) =
      new SortPlugin(Map("by" -> Seq("a", "b", "c"), "descending" -> desc),
        dir, "default").execute(df)
    val err = sort(Seq(true, false)).left.toOption.get
    assert(err.isInstanceOf[graft.core.PluginExecutionError])
    Seq("sort", "'descending'", "'by'", "2", "3").foreach(s =>
      assert(err.getMessage.contains(s), err.getMessage))
    // one flag applies to every column; one per column is taken as is
    assert(sort(true).fold(e => throw e, identity)
      .select("a").as[Long].collect().toSeq == Seq(3L, 1L))
    assert(sort(Seq(false, true, true)).fold(e => throw e, identity)
      .select("a").as[Long].collect().toSeq == Seq(1L, 3L))
  }

  test("sample plugin: mix_weights downsamples to a target mixture") {
    val df = ((0L until 100L).map(i => (i, "web")) ++
      (100L until 200L).map(i => (i, "code"))).toDF("doc_id", "src")
    val mixed = new SamplePlugin(Map("method" -> "mix_weights",
        "key_column" -> "doc_id", "group_column" -> "src",
        "weights" -> Map("web" -> 0.8, "code" -> 0.2)), dir, "default")
      .execute(df).fold(e => throw e, identity)
    val by = mixed.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(by("web") == 100)    // binding source whole
    assert(by("code") < 60)     // downsampled toward 25
    val bad = new SamplePlugin(Map("method" -> "mix_weights",
        "key_column" -> "doc_id", "group_column" -> "src",
        "weights" -> "nope"), dir, "default").execute(df)
    assert(bad.left.toOption.get.getMessage.contains("must be a table"))
  }

  test("multimodal plugin: decode_meta, resize and sample_frames methods") {
    import org.apache.spark.sql.functions.{col, length}
    val df = Seq((1L, "hello world payload bytes"), (2L, "xy"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    def plug(opts: Map[String, Any]) =
      new MultimodalPlugin(opts, dir, "default")
    val meta = plug(Map("method" -> "decode_meta"))
      .execute(df).fold(e => throw e, identity)
    assert(meta.select("media_meta.n_bytes").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(25L, 2L))
    val resized = plug(Map("method" -> "resize", "factor" -> 5))
      .execute(df).fold(e => throw e, identity)
    assert(resized.filter(col("doc_id") === 1)
      .select(length(col("resized"))).collect()(0).getInt(0) == 5)
    val frames = plug(Map("method" -> "sample_frames", "frames" -> 3))
      .execute(df).fold(e => throw e, identity)
    assert(frames.count() == 6)
    val noCol = plug(Map("method" -> "decode_meta",
      "payload_column" -> "nope")).dryRun(df.schema)
    assert(noCol.left.toOption.get.getMessage.contains("'nope' not found"))
  }

  test("multimodal plugin: audio_features decodes WAV payloads and " +
      "NULLs everything else") {
    import org.apache.spark.sql.functions.col
    val wav = graft.ops.Audio.encodeWav(graft.ops.Audio.WavClip(
      8000, 1, graft.ops.Audio.triangleSamples(400, 29, 900)))
    val df = Seq((1L, Option(wav)),
      (2L, Option("not audio at all, just text".getBytes("US-ASCII"))),
      (3L, Option.empty[Array[Byte]]))
      .toDF("doc_id", "payload")
    val out = new MultimodalPlugin(Map("method" -> "audio_features"),
      dir, "default").execute(df).fold(e => throw e, identity)
    val rows = out.select(col("doc_id"), col("audio.sample_rate"),
        col("audio.peak")).orderBy("doc_id").collect()
    assert(rows(0).getInt(1) == 8000 && rows(0).getInt(2) == 900)
    assert(rows(1).isNullAt(1) && rows(2).isNullAt(1))
    // dry-run propagates the struct column
    val dry = new MultimodalPlugin(Map("method" -> "audio_features"),
      dir, "default").dryRun(df.schema)
    assert(dry.toOption.get.fieldNames.contains("audio"))
  }

  test("sessionize plugin: gap sessions from config options") {
    val ns = 1000000000L
    val df = Seq(
      (1L, 0L * ns, 10L, 1.0), (1L, 100L * ns, 11L, 2.0),
      (1L, 5000L * ns, 12L, 3.0), (2L, 0L * ns, 13L, 4.0))
      .toDF("user_id", "ts", "event_id", "value")
    val plug = new SessionizePlugin(Map(
      "user_column" -> "user_id", "ts_column" -> "ts",
      "tie_column" -> "event_id", "value_column" -> "value",
      "gap_seconds" -> 1800), dir, "default")
    val out = plug.execute(df).fold(e => throw e, identity)
    assert(out.count() == 3) // user 1 splits at the 4900s gap
    assert(plug.dryRun(df.schema).isRight)
    val bad = new SessionizePlugin(Map(
      "user_column" -> "nope", "ts_column" -> "ts",
      "tie_column" -> "event_id", "value_column" -> "value"), dir, "default")
      .dryRun(df.schema)
    assert(bad.left.toOption.get.getMessage.contains("'nope' not found"))
  }

  test("redact_pii plugin: in-place rewrite + counts; dry_run checks column") {
    val df = Seq((1L, "mail a@b.io from 10.0.0.1")).toDF("id", "text")
    val out = new RedactPiiPlugin(Map("with_counts" -> true), dir, "default")
      .execute(df).fold(e => throw e, identity)
    val row = out.collect()(0)
    assert(row.getString(1) == "mail <EMAIL> from <IP>")
    assert(out.columns.toSeq ==
      Seq("id", "text", "n_emails", "n_ips", "n_phones"))
    val dry = new RedactPiiPlugin(Map("text_column" -> "nope"), dir, "default")
      .dryRun(df.schema)
    assert(dry.left.toOption.get.getMessage.contains("'nope' not found"))
  }

  test("contamination plugin: routes the bench stream by label") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "unrelated words entirely different from anything else here"))
      .toDF("doc_id", "text")
    val bench = Seq(
      (9L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val plug = new ContaminationPlugin(Map("bench_label" -> "bench",
      "id_column" -> "doc_id"), dir, "default")
    val out = plug.executeWith(corpus,
        Map("bench" -> Right(bench)))
      .fold(e => throw e, identity)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSet == Set(1L))
    // dry_run propagates the (id, n_overlap, n_bench_docs) schema
    val schema = plug.dryRunWith(corpus.schema,
      Map("bench" -> Right(bench.schema))).toOption.get
    assert(schema.fieldNames.toSeq == Seq("doc_id", "n_overlap", "n_bench_docs"))
    // missing bench label short-circuits
    assert(plug.executeWith(corpus, Map.empty).isLeft)
    // remove mode drops the contaminated doc, keeps the corpus schema
    val removed = new ContaminationPlugin(Map("bench_label" -> "bench",
        "id_column" -> "doc_id", "mode" -> "remove"), dir, "default")
      .executeWith(corpus, Map("bench" -> Right(bench)))
      .fold(e => throw e, identity)
    assert(removed.columns.toSeq == corpus.columns.toSeq)
    assert(removed.select("doc_id").as[Long].collect().toSeq == Seq(2L))
    val rmSchema = new ContaminationPlugin(Map("bench_label" -> "bench",
        "id_column" -> "doc_id", "mode" -> "remove"), dir, "default")
      .dryRunWith(corpus.schema, Map("bench" -> Right(bench.schema)))
      .toOption.get
    assert(rmSchema == corpus.schema)
  }

  test("dsir plugin: routes the target stream by label, appends score columns") {
    val raw = Seq(
      (1L, "alpha beta gamma alpha beta"),
      (2L, "zz qq xx yy ww vv uu tt"),
      (3L, "alpha beta alpha beta gamma")).toDF("doc_id", "text")
    val target = Seq((9L, "alpha beta gamma")).toDF("doc_id", "text")
    val plug = new DsirPlugin(Map("target_label" -> "target",
      "k" -> 2, "buckets" -> 64), dir, "default")
    val out = plug.executeWith(raw, Map("target" -> Right(target)))
      .fold(e => throw e, identity)
    // the two target-like docs win; raw columns survive + 2 appended
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    assert(out.columns.toSeq == Seq("doc_id", "text", "dsir_logw", "dsir_key"))
    // dry_run appends the score columns to the input schema
    val schema = plug.dryRunWith(raw.schema,
      Map("target" -> Right(target.schema))).toOption.get
    assert(schema.fieldNames.toSeq ==
      Seq("doc_id", "text", "dsir_logw", "dsir_key"))
    // missing target label short-circuits; missing k fails
    assert(plug.executeWith(raw, Map.empty).isLeft)
    assert(new DsirPlugin(Map("target_label" -> "target"), dir, "default")
      .executeWith(raw, Map("target" -> Right(target))).isLeft)
    // target_text_column override: a target corpus with its own name
    val t2 = Seq((9L, "alpha beta gamma")).toDF("doc_id", "content")
    val out2 = new DsirPlugin(Map("target_label" -> "target", "k" -> 2,
        "buckets" -> 64, "target_text_column" -> "content"), dir, "default")
      .executeWith(raw, Map("target" -> Right(t2)))
      .fold(e => throw e, identity)
    assert(out2.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("dsir plugin: target_labels mixture routes K streams with weights") {
    val raw = Seq(
      (1L, "alpha beta gamma alpha beta"),
      (2L, "zz qq xx yy ww vv uu tt"),
      (3L, "alpha beta alpha beta gamma")).toDF("doc_id", "text")
    val tGood = Seq((9L, "alpha beta gamma")).toDF("doc_id", "text")
    val tJunk = Seq((8L, "zz qq xx yy")).toDF("doc_id", "text")
    val streams = Map("good" -> Right(tGood), "junk" -> Right(tJunk))
    // weight ratio large enough that the junk component can't lift
    // doc 2 past the Gumbel noise at k=2
    val plug = new DsirPlugin(Map(
      "target_labels" -> Seq("good", "junk"),
      "target_weights" -> Seq(1e6, 1.0),
      "k" -> 2, "buckets" -> 64), dir, "default")
    val out = plug.executeWith(raw, streams).fold(e => throw e, identity)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    assert(out.columns.toSeq == Seq("doc_id", "text", "dsir_logw", "dsir_key"))
    // default weights = equal; dry-run validates every target schema
    val eq = new DsirPlugin(Map("target_labels" -> Seq("good", "junk"),
      "k" -> 2, "buckets" -> 64), dir, "default")
    assert(eq.executeWith(raw, streams).isRight)
    val schema = eq.dryRunWith(raw.schema, Map(
      "good" -> Right(tGood.schema), "junk" -> Right(tJunk.schema)))
      .toOption.get
    assert(schema.fieldNames.toSeq ==
      Seq("doc_id", "text", "dsir_logw", "dsir_key"))
    // mismatched weight count / missing label / bad text col fail
    assert(new DsirPlugin(Map("target_labels" -> Seq("good", "junk"),
      "target_weights" -> Seq(1.0), "k" -> 2), dir, "default")
      .executeWith(raw, streams).isLeft)
    // half-migrated config (singular label + leftover weights) fails
    // loudly instead of silently running at weight 1.0
    assert(new DsirPlugin(Map("target_label" -> "good",
      "target_weights" -> Seq(1.0), "k" -> 2), dir, "default")
      .executeWith(raw, streams).isLeft)
    assert(plug.executeWith(raw, Map("good" -> Right(tGood))).isLeft)
    assert(eq.dryRunWith(raw.schema, Map(
      "good" -> Right(tGood.schema),
      "junk" -> Right(tJunk.select("doc_id").schema))).isLeft)
  }

  test("bpe plugin: count/encode methods, merges_file vocab, dry run schema") {
    val docs = Seq((1L, "the then there"), (2L, "in the wind"))
      .toDF("doc_id", "text")
    // fixed vocab via merges_file: t+h, th+e
    val f = java.nio.file.Files.createTempFile("merges", ".tsv")
    java.nio.file.Files.writeString(f, "t\th\nth\te\n")
    try {
      val plug = new BpePlugin(Map("merges_file" -> f.toString),
        f.getParent, "default")
      val out = plug.execute(docs).fold(e => throw e, identity)
      assert(out.columns.toSeq == Seq("doc_id", "text", "n_tokens_bpe"))
      val counts = out.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      // "the"->[the]=1, "then"->[the,n]=2, "there"->[the,r,e]=3 → 6
      // "in"->2, "the"->1, "wind"->4 → 7
      assert(counts == Map(1L -> 6L, 2L -> 7L))
      val enc = new BpePlugin(Map("merges_file" -> f.toString,
          "method" -> "encode"), f.getParent, "default")
        .execute(docs).fold(e => throw e, identity)
      assert(enc.columns.toSeq == Seq("doc_id", "text", "tokens"))
      assert(enc.filter($"doc_id" === 1L).select("tokens")
        .head().getSeq[String](0) == Seq("the", "the", "n", "the", "r", "e"))
      // dry run: schema appended without running a training job
      val schema = new BpePlugin(Map.empty, f.getParent, "default")
        .dryRun(docs.schema).toOption.get
      assert(schema.fieldNames.toSeq == Seq("doc_id", "text", "n_tokens_bpe"))
      // dry run matches execute's method whitelist: a typo'd method
      // fails validation, not first execution
      assert(new BpePlugin(Map("method" -> "encde"), f.getParent,
        "default").dryRun(docs.schema).isLeft)
      // trained path: no merges_file → driver-side train on the stream
      val trained = new BpePlugin(Map("num_merges" -> 10, "sample_n" -> 100),
        f.getParent, "default").execute(docs).fold(e => throw e, identity)
      assert(trained.count() == 2)
      // malformed merges file fails loudly
      val bad = java.nio.file.Files.createTempFile("merges", ".tsv")
      java.nio.file.Files.writeString(bad, "no-tab-here\n")
      try assert(new BpePlugin(Map("merges_file" -> bad.toString),
        bad.getParent, "default").execute(docs).isLeft)
      finally java.nio.file.Files.delete(bad)
    } finally java.nio.file.Files.delete(f)
  }

  test("loader: aliases resolve, unknown module fails, disabled skipped, kind checked") {
    import graft.core.{GraftConfig, PluginConfig}
    val cfg = GraftConfig(
      inputPlugins = Seq(
        PluginConfig("parquet_scan", options = Map("input_path" -> "x")),
        PluginConfig("csv_scan", enabled = false)),
      transformPlugins = Seq(PluginConfig("filter")),
      outputPlugins = Seq(PluginConfig("parquet_writer")))
    val reg = Loader.loadPlugins(cfg, Paths.get("/tmp/config.toml")).toOption.get
    assert(reg.inputs.map(_.name) == Seq("parquet_scan")) // disabled skipped
    assert(reg.transforms.map(_.name) == Seq("filter"))

    val unknown = Loader.loadPlugins(GraftConfig(
      inputPlugins = Seq(PluginConfig("no.such.Plugin"))), Paths.get("/t"))
    assert(unknown.left.toOption.get.getMessage.contains("Plugin module not found"))

    val wrongKind = Loader.loadPlugins(GraftConfig(
      inputPlugins = Seq(PluginConfig("filter"))), Paths.get("/t"))
    assert(wrongKind.left.toOption.get.getMessage.contains("not a valid input plugin"))
  }

  test("path resolution: relative against configDir, absolute normalized") {
    val plug = new ParquetScanPlugin(Map.empty, Paths.get("/cfg/dir"), "default")
    assert(plug.resolvePath("data/in.parquet").toString == "/cfg/dir/data/in.parquet")
    assert(plug.resolvePath("/abs/../x.parquet").toString == "/x.parquet")
    assert(plug.label == "default")
  }

  test("pivot/unpivot plugins: wide<->long with explicit categories") {
    val tmp = Files.createTempDirectory("pivot")
    val df = Seq(("s1", "en", 10.0), ("s1", "de", 20.0), ("s2", "en", 5.0))
      .toDF("src", "lang", "v")
    val wide = new PivotPlugin(Map("group_by" -> Seq("src"),
        "pivot_column" -> "lang", "values" -> Seq("en", "de"),
        "aggregation" -> "sum(v)", "fill" -> 0), tmp, "default")
      .execute(df).fold(e => fail(e.getMessage), identity)
    assert(wide.columns.toSeq == Seq("src", "en", "de"))
    val rows = wide.orderBy("src").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(rows == Seq(("s1", 10.0, 20.0), ("s2", 5.0, 0.0)))

    val long = new UnpivotPlugin(Map("id_columns" -> Seq("src"),
        "value_columns" -> Seq("en", "de")), tmp, "default")
      .execute(wide).fold(e => fail(e.getMessage), identity)
    assert(long.columns.toSeq == Seq("src", "measure", "value"))
    assert(long.count() == 4)
    // missing option errors are clean
    assert(new PivotPlugin(Map("group_by" -> Seq("src")), tmp, "default")
      .execute(df).left.exists(_.getMessage.contains("pivot_column")))
  }

  test("jsonl writer/scan: roundtrip with explicit schema; escaping survives") {
    val tmp = Files.createTempDirectory("jsonl")
    val df = Seq(
      (1L, "line one\nline two"), (2L, "quote \" and \\ backslash"),
      (3L, "héllo — ünicode"), (4L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val out = tmp.resolve("out").toString
    new graft.plugins.output.JsonWriterPlugin(
      Map("output_path" -> out, "compression" -> "gzip"), tmp, "default")
      .execute(df).fold(e => fail(e.getMessage), identity)
    val back = new graft.plugins.input.JsonScanPlugin(
      Map("input_path" -> out, "schema_ddl" -> "id BIGINT, text STRING"),
      tmp, "default")
      .execute().fold(e => fail(e.getMessage), identity)
    assert(back.schema.map(_.dataType.simpleString) == Seq("bigint", "string"))
    val got = back.orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(got == Seq(
      (1L, Some("line one\nline two")), (2L, Some("quote \" and \\ backslash")),
      (3L, Some("héllo — ünicode")), (4L, None)))
    // gzip actually applied (part files carry the codec suffix)
    assert(Files.list(Paths.get(out)).toArray.map(_.toString)
      .exists(_.endsWith(".json.gz")))
    // dry_run: explicit schema without touching data types drift
    val schema = new graft.plugins.input.JsonScanPlugin(
      Map("input_path" -> out, "schema_ddl" -> "id BIGINT, text STRING"),
      tmp, "default").dryRun().fold(e => fail(e.getMessage), identity)
    assert(schema.fieldNames.toSeq == Seq("id", "text"))
  }
}
