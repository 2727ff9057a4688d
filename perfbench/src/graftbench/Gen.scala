package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table mirrors the schema and column
  * statistics of the repo's TPC-H-ish fixture (documents, lineitem,
  * orders, customer, events, embeddings): independent uniform columns
  * over the same ranges, the same 30-word vocabulary, 5% near-duplicate
  * documents made by appending " dup" to a copy. Every value is a pure
  * function of (seed, row index), so one seed always gives the same
  * bytes and another seed gives other bytes with the same statistics.
  *
  *   Gen <outDir> <workload | probe> <seed>
  *
  * writes the workload's tables under `outDir/data`, what the checks
  * need to know (planted duplicate clusters, oracle digests) under
  * `outDir/truth`, and `outDir/meta.json` with rows and bytes per table
  * (keyed by its path under `outDir/data`).
  * The harness's session setup in this JVM doubles as one `setup_s`
  * sample, printed as `GEN_SETUP_S=<seconds>`; `probe` only sets up.
  */
object Gen {
  /** Scale of each workload, in rows (sf0.1 of the fixture = 1x). */
  val CurateDocs = 500
  val EtlCopies = 1          // lineitem 600k rows per copy
  val StreamEvents = 100000
  val StreamFiles = 40

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  def main(args: Array[String]): Unit = {
    val Array(outArg, workload, seedArg) = args
    val out = Paths.get(outArg).toAbsolutePath
    val seed = seedArg.toLong
    val spark = Harness.session()
    println(f"GEN_SETUP_S=${Harness.sinceJvmStart()}%.6f")
    if (workload == "probe") Harness.exit()
    val g = new Gen(spark, seed)
    val tables: Seq[(String, Long, Long)] = workload match {
      case "curate" => g.curate(out)
      case "etl" => g.etl(out)
      case "stream" => g.stream(out)
      case "examples" => g.examples(out)
      case other => sys.error(s"unknown workload $other")
    }
    val meta = tables.map { case (name, rows, bytes) =>
      name -> Map("rows" -> rows, "bytes" -> bytes)
    }.toMap
    Files.writeString(out.resolve("meta.json"), Json(Map("seed" -> seed, "tables" -> meta)))
    Harness.exit()
  }
}

final class Gen(spark: SparkSession, seed: Long) {
  import Gen._

  /** Uniform [0, 1) from (seed, salt, key columns). */
  private def u(salt: Int, keys: String*): Column =
    expr(s"(xxhash64(${keys.mkString(", ")}, ${seed}L, $salt) & 9007199254740991) / 9007199254740992.0")

  private def uniformLong(salt: Int, n: Long, keys: String*): Column =
    floor(u(salt, keys: _*) * n).cast("long")

  private def pick(salt: Int, xs: Seq[String], keys: String*): Column =
    element_at(array(xs.map(lit): _*), (floor(u(salt, keys: _*) * xs.size) + 1).cast("int"))

  private def money(salt: Int, lo: Double, hi: Double, keys: String*): Column =
    round(lit(lo) + u(salt, keys: _*) * (hi - lo), 2)

  /** Timestamp (no time zone) uniform over [from, from + days), at
    * `unitMicros` resolution. */
  private def ts(salt: Int, from: String, days: Int, unitMicros: Long, keys: String*): Column = {
    val start = java.time.LocalDateTime.parse(from)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val units = days * 86400000000L / unitMicros
    expr(s"cast(timestamp_micros(${start}L + " +
      s"cast(floor((xxhash64(${keys.mkString(", ")}, ${seed}L, $salt) & 9007199254740991) / 9007199254740992.0 * $units) as bigint) * ${unitMicros}L) as timestamp_ntz)")
  }

  /** Writes `df` as one parquet file `data/<name>.parquet`, or as a
    * directory `data/<name>` of `files` parquet files; returns rows and
    * bytes. */
  private def write(df: DataFrame, out: Path, name: String, files: Int = 1): (String, Long, Long) = {
    val target =
      if (files == 1) out.resolve("data").resolve(s"$name.parquet")
      else out.resolve("data").resolve(name)
    if (files == 1) singleFile(df, target)
    else df.coalesce(files).write.mode("overwrite").parquet(target.toString)
    (out.resolve("data").relativize(target).toString,
      spark.read.parquet(target.toString).count(), Harness.bytesUnder(target))
  }

  private def singleFile(df: DataFrame, target: Path): Unit = {
    val tmp = target.resolveSibling(s"_tmp_${target.getFileName}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Harness.listFiles(tmp).find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(target.getParent)
    Files.move(part, target)
    Harness.deleteTree(tmp)
  }

  /** Documents: `base` word-soup docs of 10–100 words plus `n - base`
    * near-duplicates (a base doc's text + " dup", one per chosen base
    * doc, so the clustering work does not depend on the seed), shuffled into one
    * doc_id order by a seeded permutation. 3% of base docs carry an
    * e-mail address and a phone number for the redaction stage. The
    * cluster of every doc (its base index) is returned for the checks. */
  def documents(n: Int, salt: Int): DataFrame = {
    val dups = math.round(n * 0.05).toInt
    val base = n - dups
    val vocab = Vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    val words =
      s"concat_ws(' ', transform(sequence(1, 10 + cast(pmod(xxhash64(cluster, ${seed}L, $salt, 1), 91) as int)), " +
        s"i -> element_at($vocab, cast(pmod(xxhash64(cluster, ${seed}L, $salt, 2, i), ${Vocab.size}) as int) + 1)))"
    val pii =
      s"case when pmod(xxhash64(cluster, ${seed}L, $salt, 3), 100) < 3 then " +
        s"concat(' reach me at user', cluster, '@example.com or 555-', " +
        s"lpad(cast(pmod(xxhash64(cluster, ${seed}L, $salt, 4), 1000) as string), 3, '0'), '-', " +
        s"lpad(cast(pmod(xxhash64(cluster, ${seed}L, $salt, 5), 10000) as string), 4, '0')) else '' end"
    val baseDocs = spark.range(base).select(col("id").as("cluster"), lit(false).as("is_dup"))
    // each near-duplicate copies a different base doc (a seeded affine
    // permutation), so every planted cluster is one pair
    val stride = Iterator.iterate(7919L)(_ + 2).find(x => BigInt(x).gcd(base) == 1).get
    val dupDocs = spark.range(dups).select(
      pmod(col("id") * stride + (seed.abs % base), lit(base.toLong)).as("cluster"),
      lit(true).as("is_dup"))
    baseDocs.unionByName(dupDocs)
      .withColumn("text", concat(expr(words), expr(pii), when(col("is_dup"), lit(" dup")).otherwise(lit(""))))
      .withColumn("perm", expr(s"xxhash64(cluster, is_dup, text, ${seed}L, ${salt + 2})"))
      .withColumn("doc_id", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("perm")) - 1).cast("long"))
      .withColumn("lang", expr(
        s"element_at(array('en', 'en', 'de', 'es', 'fr', 'zh'), " +
          s"cast(floor((xxhash64(doc_id, ${seed}L, ${salt + 3}) & 9007199254740991) / 9007199254740992.0 * 6) as int) + 1)"))
      .withColumn("source", concat(lit("src"), uniformLong(salt + 4, 20, "doc_id").cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars", "cluster")
  }

  private def lineitem(rows: Long, orders: Long, copy: Int): DataFrame =
    spark.range(rows).withColumn("c", lit(copy)).select(
      (uniformLong(11, orders, "id", "c") + copy * orders).as("l_orderkey"),
      (uniformLong(12, 20000, "id", "c") + copy * 20000L).as("l_partkey"),
      (uniformLong(13, 1000, "id", "c") + copy * 1000L).as("l_suppkey"),
      (uniformLong(14, 7, "id", "c") + 1).cast("int").as("l_linenumber"),
      (uniformLong(15, 50, "id", "c") + 1).cast("double").as("l_quantity"),
      money(16, 900.0, 105000.0, "id", "c").as("l_extendedprice"),
      round(uniformLong(17, 11, "id", "c") / 100.0, 2).as("l_discount"),
      round(uniformLong(18, 9, "id", "c") / 100.0, 2).as("l_tax"),
      pick(19, Seq("A", "N", "R"), "id", "c").as("l_returnflag"),
      pick(20, Seq("F", "O"), "id", "c").as("l_linestatus"),
      ts(21, "1995-01-02T00:00:00", 2498, 86400000000L, "id", "c").as("l_shipdate"))

  /** Orders with o_orderkey a seeded affine permutation of the row
    * index, so the file order differs per seed. */
  private def orders(rows: Long, customers: Long, copy: Int): DataFrame = {
    val a = Iterator.iterate(seed.abs % rows * 2 + 1)(_ + 2).find(x => BigInt(x).gcd(rows) == 1).get
    val b = (seed.abs * 7919) % rows
    spark.range(rows).withColumn("c", lit(copy)).select(
      (pmod(col("id") * a + b, lit(rows)) + copy * rows).as("o_orderkey"),
      (uniformLong(31, customers, "id", "c") + copy * customers).as("o_custkey"),
      pick(32, Seq("F", "O", "P"), "id", "c").as("o_orderstatus"),
      money(33, 1000.0, 500000.0, "id", "c").as("o_totalprice"),
      ts(34, "1995-01-01T00:00:00", 2404, 86400000000L, "id", "c").as("o_orderdate"),
      pick(35, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), "id", "c")
        .as("o_orderpriority"))
  }

  private def customer(rows: Long, copy: Int): DataFrame =
    spark.range(rows).withColumn("c", lit(copy)).select(
      (col("id") + copy * rows).as("c_custkey"),
      format_string("Customer#%09d", col("id") + copy * rows).as("c_name"),
      uniformLong(41, 25, "id", "c").cast("int").as("c_nationkey"),
      money(42, -999.99, 9999.99, "id", "c").as("c_acctbal"),
      pick(43, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), "id", "c")
        .as("c_mktsegment"))

  private def copies(k: Int, f: Int => DataFrame): DataFrame =
    (0 until k).map(f).reduce(_.unionByName(_))

  private def events(rows: Long, users: Long): DataFrame =
    spark.range(rows).select(
      col("id").as("event_id"),
      ts(51, "2024-01-01T00:00:00", 30, 1L, "id").as("ts"),
      uniformLong(52, users, "id").as("user_id"),
      pick(53, Seq("click", "error", "purchase", "signup", "view"), "id").as("event_type"),
      round(-log(lit(1.0) - u(54, "id")) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", uniformLong(55, 100, "id")).as("props"))

  private def embeddings(rows: Long, dim: Int): DataFrame =
    spark.range(rows).select(
      col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), j -> cast(0.125 * " +
        s"sqrt(-2.0 * ln(1.0 - (xxhash64(id, ${seed}L, 61, j) & 9007199254740991) / 9007199254740992.0)) * " +
        s"cos(6.283185307179586 * (xxhash64(id, ${seed}L, 62, j) & 9007199254740991) / 9007199254740992.0) as float))")
        .as("embedding"),
      uniformLong(63, 10, "id").cast("int").as("label"))

  def curate(out: Path): Seq[(String, Long, Long)] = {
    val docs = documents(CurateDocs, 1).cache()
    val table = write(docs.drop("cluster"), out, "documents")
    docs.select("doc_id", "cluster").write.mode("overwrite")
      .parquet(out.resolve("truth").resolve("clusters").toString)
    Seq(table)
  }

  def etl(out: Path): Seq[(String, Long, Long)] = {
    val li = 600000L; val ord = 150000L; val cust = 15000L
    val tables = Seq(
      write(copies(EtlCopies, c => lineitem(li, ord, c)), out, "lineitem", 4 * EtlCopies),
      write(copies(EtlCopies, c => orders(ord, cust, c)), out, "orders", 2 * EtlCopies),
      write(copies(EtlCopies, c => customer(cust, c)), out, "customer"))
    Oracle.etl(spark, out)
    tables
  }

  /** Events land as `StreamFiles` files in time order; 2% of each
    * file's events are delivered again in the next file, as an
    * at-least-once producer does, so the pipeline's dedup step has
    * work. */
  def stream(out: Path): Seq[(String, Long, Long)] = {
    val ev = events(StreamEvents, 1500L)
      .withColumn("file", floor(col("event_id") * StreamFiles / StreamEvents).cast("int"))
    val redelivered = ev.filter(u(56, "event_id") < 0.02 && col("file") < StreamFiles - 1)
      .withColumn("file", col("file") + 1)
    val landing = ev.unionByName(redelivered).cache()
    val dir = out.resolve("data").resolve("landing")
    // the stream source orders new files by modification time
    for (f <- 0 until StreamFiles) {
      val target = dir.resolve(f"events_$f%03d.parquet")
      singleFile(landing.filter(col("file") === f).drop("file").orderBy("ts", "event_id"), target)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + f * 1000L))
    }
    Oracle.stream(spark, out)
    Seq(("landing", landing.count(), Harness.bytesUnder(dir)))
  }

  /** The fixture shapes the shipped examples read: sf0.001 tables and
    * the 500-doc sf0.01 documents table. */
  def examples(out: Path): Seq[(String, Long, Long)] = Seq(
    write(documents(500, 101).drop("cluster"), out, "sf0.001/documents"),
    write(lineitem(6000, 1500, 0), out, "sf0.001/lineitem"),
    write(orders(1500, 150, 0), out, "sf0.001/orders"),
    write(customer(150, 0), out, "sf0.001/customer"),
    write(events(1000, 150), out, "sf0.001/events"),
    write(embeddings(500, 64), out, "sf0.001/embeddings"),
    write(documents(500, 201).drop("cluster"), out, "sf0.01/documents"))
}
