package graft

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Pipeline
import graft.ops.{Bm25, Contamination, Dedup, DupSpans, Graph, LmScore,
  Multimodal, Sampling, Scd, Similarity, Text, Tfidf, Urls}
import graft.plugins.input.ParquetScanPlugin
import graft.plugins.transform.{FilterPlugin, SelectPlugin, SortPlugin}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is one operator family from SURVEY §2 (or
  * the north-star extension tier), written Spark-first (DataFrame API,
  * codegen'd functions, broadcast hints where a side is dimension-
  * sized). Each SQL-expressible query has a DuckDB oracle in
  * `oracleSql` with IDENTICAL column names and aliases; results carry
  * explicit ORDER BY on both sides so row order is deterministic.
  * Floating aggregates are rounded (2-6 dp) on both sides: double
  * summation order differs between engines, and rounding makes the
  * hash compare robust to last-bit drift.
  */
object SparkEntry {

  /** Opt-in input caching for [[Verify]]: 100 queries re-reading the
    * same ten tables pay the parquet scan each time, so Verify flips
    * this on and the first read of each table persists it
    * (deserialized, disk-spillable). OFF for Bench — a cached scan
    * would measure memory, not the engine's scan path. */
  @volatile private[graft] var cacheInputs: Boolean = false
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (!cacheInputs) s.read.parquet(s"$dir/$name.parquet")
    else tableCache.computeIfAbsent(s"$dir/$name",
      _ => s.read.parquet(s"$dir/$name.parquet")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The events table with `ts` normalized to epoch nanos (long) —
    * the driver fixture has shipped both timestamp[ns] (LongType via
    * nanosAsLong) and timestamp[us] (TIMESTAMP_NTZ) parquet across
    * rounds; every downstream query and its `epoch_ns(ts)` oracle
    * assumes the nanos-long shape. See Streams.tsToNanos. */
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.tsToNanos(t(s, dir, "events"))

  /** Per-process scratch root for roundtrip/streaming queries, wiped
    * by a shutdown hook — repeated bench/verify runs previously
    * leaked one orphan temp dir (with full table copies) per
    * invocation into /tmp. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_scratch")
    sys.addShutdownHook {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      catch { case _: Throwable => () }
    }
    root
  }

  private def scratch(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)

  /** One shared READ-ONLY streaming landing dir per (sfDir, table),
    * holding a single copy of `$dir/$name.parquet` — the four
    * streaming queries used to each copy their own (4 table copies
    * per Verify run); the source side of a streaming query never
    * writes, so one copy serves them all, concurrently. Sinks and
    * checkpoints stay per-query. */
  private val landingDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Copy a table — a single parquet FILE (driver testdata) or a
    * Spark-written parquet DIRECTORY (scale fixtures) — into `d` as
    * flat `<prefix>_<i>.parquet` files. A raw `Files.copy` of a
    * directory path copies an EMPTY dir (non-recursive) and the
    * streaming scan then fails schema inference. */
  private def copyTableFlat(src: java.nio.file.Path,
                            d: java.nio.file.Path, prefix: String): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    if (Files.isDirectory(src)) {
      val parts = Files.list(src).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
      parts.zipWithIndex.foreach { case (p, i) =>
        Files.copy(p, d.resolve(f"${prefix}_p$i%05d.parquet")) }
    } else Files.copy(src, d.resolve(s"$prefix.parquet"))
  }

  private def sharedLanding(dir: String, name: String): java.nio.file.Path =
    landingDirs.computeIfAbsent(s"$dir/$name", _ => {
      val d = scratch(s"land_$name")
      copyTableFlat(java.nio.file.Paths.get(s"$dir/$name.parquet"), d, name)
      d
    })

  /** N-copy landing dir for the SUSTAINED streaming bench: `copies`
    * identical files of the table, so the AvailableNow run processes
    * copies× the input through the same micro-batch machinery —
    * enough work that the reported rows/s measures the engine, not
    * the lane's fixed trigger/checkpoint overhead (which dominates
    * the fixture-sized stream_* queries; BASELINE.md says so). */
  private def sharedLandingN(dir: String, name: String,
                             copies: Int): java.nio.file.Path =
    landingDirs.computeIfAbsent(s"$dir/$name/x$copies", _ => {
      val d = scratch(s"land_${name}_x$copies")
      val src = java.nio.file.Paths.get(s"$dir/$name.parquet")
      (0 until copies).foreach(i => copyTableFlat(src, d, s"${name}_$i"))
      d
    })

  /** N-copy DOCUMENTS landing with per-copy id offsets and a
    * copy-unique alphabet bijection on the text (the ScaleFixture
    * perturbation): for the sustained STATEFUL-DEDUP bench the
    * copies must be distinct — identical copies after copy 1 are
    * pure state-lookup hits, so the state table would stay 1× and
    * the run would measure lookup throughput while claiming to
    * measure state growth. Distinct copies grow the dedup state ×N,
    * the honest shape of a real stream (new content keeps arriving;
    * the state store only ever gets bigger). One file per copy, so
    * the AvailableNow run still replays N files through the same
    * micro-batch machinery. */
  private def sharedLandingDocsPerturbedN(s: SparkSession, dir: String,
                                          copies: Int): java.nio.file.Path =
    landingDirs.computeIfAbsent(s"$dir/documents/perturbed_x$copies", _ => {
      val d = scratch(s"land_docs_px$copies")
      val docs = t(s, dir, "documents")
      val stride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      (0 until copies).foreach { k =>
        val shifted = docs.withColumn("doc_id", col("doc_id") + lit(k * stride))
        val c =
          if (k == 0) shifted
          else {
            val perm = new scala.util.Random(k * 0x9E3779B97F4A7C15L)
              .shuffle(alpha.toList).mkString
            shifted.withColumn("text", translate(col("text"),
              alpha + alpha.toUpperCase, perm + perm.toUpperCase))
          }
        c.coalesce(1).write.mode("overwrite")
          .parquet(d.resolve(s"c$k").toString)
        // flatten the copy's single part file into the landing dir
        copyTableFlat(d.resolve(s"c$k"), d, f"documents_$k%02d")
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        Files.walk(d.resolve(s"c$k")).sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
      }
      d
    })

  /** Rebalance a (possibly single-split) input across the cluster
    * before a CPU-heavy per-row stage. Small tables arrive as one
    * parquet split and would otherwise run regex/shingling on one
    * core; one narrow shuffle of (id, text) buys full parallelism —
    * the standard rebalance-before-compute pattern, equally valid on
    * a real cluster when upstream splits are few or skewed.
    *
    * HASH on a key DERIVED from the unique id, not round-robin
    * (round 15, guide §2.5): every keyless `repartition(n)` first
    * pays a local sort of its input
    * (`spark.sql.execution.sortBeforeRepartition`, on by default so
    * task retries reproduce the row→partition map) — here a
    * single-task sort of the whole table before any parallelism
    * exists. Hashing a deterministic function of the unique id needs
    * no such sort (the map is already deterministic per row) and
    * spreads as evenly with 4–5 orders of magnitude more distinct
    * values than partitions. The key is `xxhash64(id)`, NOT the raw
    * id: hashpartitioning(id) would satisfy every downstream
    * id-keyed join/agg requirement, removing their exchanges — and
    * with a pipelined (non-shuffle) join child AQE can no longer
    * skew-split that join. Measured on dedup_ngram_verified ×10:
    * raw-id partitioning dropped 4 attach exchanges from the plan
    * and cost +55% wall (4.9/5.1 → 7.8/8.3 s, ≤2.8% steal) because
    * the skewed candidate-pair joins lost AQE's splitting; the
    * derived key keeps the rebalance sort-free while leaving every
    * downstream exchange (and AQE's freedom) in place. The
    * read-option alternative (splitting the file via
    * `spark.sql.files.maxPartitionBytes`) cannot work on the driver
    * fixtures: the single-file parquet has ONE row group (measured),
    * and a row group is the minimum parquet read unit. */
  private def tBalanced(s: SparkSession, dir: String, name: String): DataFrame = {
    val idCol = name match {
      case "documents" => Some("doc_id")
      case "embeddings" => Some("vec_id")
      case _ => None
    }
    val base = t(s, dir, name)
    idCol match {
      case Some(id) =>
        base.repartition(s.sparkContext.defaultParallelism, xxhash64(col(id)))
      case None => base.repartition(s.sparkContext.defaultParallelism)
    }
  }

  /** Deterministic synthetic URL for the q_url_* queries — documents
    * carry no URL column, so one is built from doc_id: scheme,
    * optional subdomain, 185 registered domains over 5 suffixes
    * (incl. two-level public suffixes), 0-2 path segments, optional
    * query. The DuckDB oracles rebuild the identical string (and the
    * component ground truths) from doc_id. */
  private def synthUrl: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    concat(
      when(id % 7 === 0, lit("http")).otherwise(lit("https")), lit("://"),
      element_at(array(lit(""), lit("www."), lit("blog.")),
        (id % 3 + 1).cast("int")),
      lit("site"), (id % 37).cast("string"), lit("."),
      element_at(array(lit("com"), lit("org"), lit("co.uk"), lit("io"),
        lit("com.au")), (id % 5 + 1).cast("int")),
      when(id % 3 === 0, lit("/"))
        .when(id % 3 === 1, concat(lit("/a"), (id % 5).cast("string")))
        .otherwise(concat(lit("/a"), (id % 5).cast("string"),
          lit("/b"), (id % 11).cast("string"))),
      when(id % 2 === 0, concat(lit("?q="), (id % 13).cast("string")))
        .otherwise(lit("")))
  }

  /** Bounded deterministic query sample for the exact-recall gates:
    * the first `n` rows of `df` ordered by md5(id) — a pseudo-random
    * but engine-reproducible pick (DuckDB spells it
    * `ORDER BY md5(CAST(id AS VARCHAR)) LIMIT n`). Broadcasting this
    * fixed-size sample against the full table turns the old O(n²)
    * cross-join oracle spellings into O(sample·n) linear scans that
    * survive any corpus scale, while at sf ≤ 0.01 (≤ 512 rows) the
    * sample covers the whole table, so the driver's hash gate keeps
    * full strength. */
  private def md5Sample(df: DataFrame, idCol: String, n: Int): DataFrame =
    df.orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(n)

  /** Shared fixture for the Naive Bayes classifier queries: weak
    * quality label ('hi' iff count of fast/big tokens >= count of
    * slow/small) over normalized-nonempty documents, split 80/20 by
    * `doc_id % 5`. Returns (train, test, labeled-all). The label
    * counts are computed on the same token stream the classifier
    * tokenizes ([[graft.ops.Text.normalize]] + single-space split),
    * so the oracle's toks CTE reproduces them exactly. */
  private def nbSplit(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val norm = graft.ops.Text.normalize(col("text"))
    val toks = split(norm, " ")
    val pos = size(filter(toks, tk => tk === "fast" || tk === "big"))
    val neg = size(filter(toks, tk => tk === "slow" || tk === "small"))
    val labeled = tBalanced(s, dir, "documents")
      .filter(length(norm) > 0)
      .withColumn("label", when(pos >= neg, "hi").otherwise("lo"))
    (labeled.filter(col("doc_id") % 5 =!= 0),
      labeled.filter(col("doc_id") % 5 === 0), labeled)
  }

  /** Morton-interleave of two `bits`-bit dims as explicit DuckDB
    * shift/mask terms — the SQL twin of
    * [[graft.expressions.ZOrderCode]] (bit i of dim c → output bit
    * i*2 + c). Inputs are coalesce-wrapped to mirror the kernel's
    * NULL-element-as-bucket-0 semantics: the raw OR chain would
    * propagate a NULL dim to a NULL code, silently diverging the
    * moment a fixture gains a nullable dimension. */
  private def mortonTerms(aCol: String, bCol: String, bits: Int): String = {
    val a = s"coalesce($aCol, 0)"
    val b = s"coalesce($bCol, 0)"
    (0 until bits).flatMap(i => Seq(
      s"((($a >> $i) & 1) << ${2 * i})",
      s"((($b >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
  }

  /** Engine-agnostic fixed-point rounding:
    * floor(x*10^p + 0.5 + 1e-6)/10^p. Spark round() (BigDecimal
    * HALF_UP on the exact binary expansion) and DuckDB round()
    * disagree on boundary representations; this formula is pure IEEE
    * double ops, so both engines produce bit-identical results. The
    * 1e-6 nudge handles values that land EXACTLY on a .xx5 midpoint
    * (systematic for interpolated percentiles of 2-decimal prices):
    * each engine's last-bit noise would otherwise flip the floor on
    * one side only; with the nudge both engines round such values up
    * consistently. The oracle SQL uses the same `r(x, p)` macro,
    * expanded to the identical formula by [[expandR]]. The formula
    * lives in [[graft.ops.Rounding.portable]] so operators that round
    * internally (Dsir's selection key) stay bit-identical with it. */
  private def r(c: org.apache.spark.sql.Column, p: Int): org.apache.spark.sql.Column =
    graft.ops.Rounding.portable(c, p)

  /** Fixed BPE merge table for `q_bpe_encode` — shared literal-for-
    * literal with its oracle's VALUES list (rank = position + 1).
    * Chosen to exercise multi-level merges on the fixture vocabulary
    * ("window" chains i+n → in+d → ind+ow) and non-leftmost best-rank
    * selection ("order": e+r at rank 4 fires before o+r at rank 5). */
  private[graft] val bpeFixedMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r", "o" -> "r",
    "a" -> "n", "s" -> "t", "a" -> "t", "in" -> "d", "o" -> "w",
    "ind" -> "ow", "l" -> "e")

  /** Shared oracle CTE prefix for the `text_classify_*` queries:
    * normalize/tokenize (identical CTEs to text_tfidf's oracle), the
    * weak quality label, and the train-side token stream. NOT
    * pre-stripped — callers concatenate then `.stripMargin` once. */
  private val nbCommonCtes: String =
    """WITH d AS (
      |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
      |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(t, ' ')) AS term
      |  FROM d WHERE length(t) > 0
      |), lab AS (
      |  SELECT doc_id,
      |    CASE WHEN count(*) FILTER (WHERE term IN ('fast', 'big')) >=
      |              count(*) FILTER (WHERE term IN ('slow', 'small'))
      |      THEN 'hi' ELSE 'lo' END AS label
      |  FROM toks GROUP BY doc_id
      |), trtoks AS (
      |  SELECT toks.doc_id, lab.label, term
      |  FROM toks JOIN lab USING (doc_id) WHERE toks.doc_id % 5 <> 0)"""

  /** Fixed query set for `text_bm25` — shared literal-for-literal
    * with its oracle's VALUES list; terms drawn from the synthetic
    * documents' vocabulary so every query has hits. */
  private[graft] val bm25Queries: Seq[(String, String)] = Seq(
    "q1" -> "table scan filter", "q2" -> "spark stream window",
    "q3" -> "customer order query", "q4" -> "hash join merge",
    "q5" -> "sort group agg")

  /** Expand `r(X, p)` occurrences in oracle SQL into
    * `(floor((X) * 10^p + 0.5) / 10^p)` — the exact same IEEE ops the
    * Spark-side helper emits. */
  private[graft] def expandR(sql: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val atBoundary = i == 0 ||
        (!sql(i - 1).isLetterOrDigit && sql(i - 1) != '_')
      if (atBoundary && sql.startsWith("r(", i)) {
        var depth = 1
        var j = i + 2
        while (depth > 0) {
          if (sql(j) == '(') depth += 1
          else if (sql(j) == ')') depth -= 1
          j += 1
        }
        val inner = sql.substring(i + 2, j - 1)
        var d = 0
        var cut = -1
        for (k <- inner.indices) inner(k) match {
          case '(' => d += 1
          case ')' => d -= 1
          case ',' if d == 0 => cut = k
          case _ =>
        }
        val x = expandR(inner.substring(0, cut).trim)
        val p = inner.substring(cut + 1).trim.toInt
        val f = "1" + ("0" * p)
        sb.append(s"(floor(($x) * $f + 0.5 + 0.000001) / $f)")
        i = j
      } else { sb.append(sql(i)); i += 1 }
    }
    sb.toString
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  /** Flagship: the composed corpus-cleaning pipeline (language +
    * quality gates, exact dedup, deterministic sample) — the
    * end-to-end shape the engine exists for; 90 rows at sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("pipeline_clean_corpus")(spark, "/root/testdata/sf0.001")

  /** Bench-only raw ANN top-k queries, kept under their historical
    * names so BENCH_r{N}.json stays comparable round-over-round. Not
    * in `queries`: approximate top-k output has no hash oracle — its
    * quality is gated by the oracled `sim_recall_*` queries below and
    * the ≥0.9 ScalaTest floors (OpsSpec). */
  /** Clustered ANN fixture: the driver's `embeddings` table is
    * deliberately isotropic, which makes bucketed-path benchmarks
    * meaningless (see the note on sim_topk_ivfpq). This derives a
    * mixture-of-Gaussians corpus 8× that table's row count (scales
    * with SF; the count is a parquet-footer read) so the LSH/IVF
    * scale paths have a tracked number on the data shape they exist
    * for, recall-gated by the oracled sim_recall_knn_clustered.
    *
    * Cluster COUNT scales with n at fixed cluster size 64 — the real
    * corpus shape (more topics, not fatter topics). This is what
    * makes the LSH candidate mass O(n · 64) instead of O(n²/k): with
    * a fixed cluster count, intra-cluster candidates are quadratic
    * and the "scale path" would be quadratic too, just hidden. σ=0.03
    * keeps intra-cluster cosine ≈ 0.97 (per-plane flip ≈ 0.075), so
    * 12-plane/≤2-flip probing holds recall ≥ 0.9 while scanning a few
    * buckets of 4096. */
  private def clusteredEmb(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "embeddings").count() * 8
    // exact Long→Int (throws on overflow rather than silently wrapping
    // to a negative k); the generator separately bounds k×d against
    // its plan-literal ceiling
    graft.ops.SyntheticEmbeddings.mixtureOfGaussians(
      s, n = n, k = math.toIntExact(n / 64).max(32), sigma = 0.03)
  }

  def benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- SUSTAINED streaming throughput --------------------------
    // The stream_events_window pipeline over a 10-copy landing
    // (10 files, AvailableNow): ~10x the input through the same
    // watermark + tumbling-window agg + exactly-once parquet sink,
    // so the per-run fixed cost (trigger scheduling, checkpoint
    // commits, sink manifest) amortizes and rows/s approaches the
    // engine's streaming aggregation throughput. Identical copies
    // multiply each window's counts — the agg state stays
    // window-bounded, exactly as a denser real stream would.
    "stream_sustained_window" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_sus")
      val inDir = sharedLandingN(dir, "events", copies = 10)
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val events = graft.streaming.Streams.tsToNanos(
        scan.execute().fold(e => throw e, identity))
        .withColumn("event_time", (col("ts") / 1000000000L).cast("timestamp"))
      val agg = graft.streaming.Streams.windowedAgg(events, "1 hour", "2 hours")
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(agg).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
    }),
    // ---- SUSTAINED stateful-join throughput ----------------------
    // The three stateful stream-join pipelines over a 10-copy
    // landing, mirroring stream_sustained_window: identical copies
    // emulate a 10×-denser event stream, which is exactly how join
    // state scales in production (matched pairs grow ~quadratically
    // with per-user density — 10× input, ~100× emitted pairs). The
    // oracled single-copy variants pin correctness; these measure
    // join-STATE throughput, where the single-copy runs measure
    // mostly fixed trigger/checkpoint overhead (BASELINE.md says so).
    "stream_sustained_interval_join" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_sus_ij")
      val inDir = sharedLandingN(dir, "events", copies = 10)
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val ev = graft.streaming.Streams.tsToNanos(
        scan.execute().fold(e => throw e, identity))
        .withColumn("event_time", expr(graft.ops.TimeCols.floorDivSql("ts", 1000000000L)).cast("timestamp"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "event_time")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "event_time")
      val joined = graft.streaming.Streams.intervalJoin(
          purchases, clicks, "user_id", "event_time",
          lookback = "30 minutes", watermark = "3700 days")
        .select(col("event_id").as("purchase_id"),
          col("r_event_id").as("click_id"), col("user_id"))
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(joined).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
    }),
    "stream_sustained_stream_join" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_sus_ssj")
      // two INDEPENDENT 10-copy side landings (one union write each)
      val ev1 = graft.streaming.Streams.tsToNanos(t(s, dir, "events"))
      val ev = (1 to 10).map(_ => ev1).reduce(_.unionByName(_))
      val pDir = work.resolve("purchases")
      val cDir = work.resolve("clicks")
      ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
        .write.parquet(pDir.toString)
      ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
        .write.parquet(cDir.toString)
      def side(d: java.nio.file.Path): DataFrame = {
        val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
          Map("input_path" -> d.toString), work, "default")
        graft.streaming.Streams.tsToNanos(
          scan.execute().fold(e => throw e, identity))
          .withColumn("event_time",
            expr(graft.ops.TimeCols.floorDivSql("ts", 1000000000L)).cast("timestamp"))
          .select("event_id", "user_id", "event_time")
      }
      val joined = graft.streaming.Streams.intervalJoin(
          side(pDir), side(cDir), "user_id", "event_time",
          lookback = "30 minutes", watermark = "3700 days")
        .select(col("event_id").as("purchase_id"),
          col("r_event_id").as("click_id"), col("user_id"))
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(joined).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
    }),
    "stream_sustained_left_join" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_sus_loj")
      val inDir = sharedLandingN(dir, "events", copies = 10)
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val ev = graft.streaming.Streams.tsToNanos(
        scan.execute().fold(e => throw e, identity))
        .withColumn("event_time", expr(graft.ops.TimeCols.floorDivSql("ts", 1000000000L)).cast("timestamp"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "event_time")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "event_time")
      val joined = graft.streaming.Streams.intervalJoinLeftOuter(
          purchases, clicks, "user_id", "event_time",
          lookback = "30 minutes", watermark = "1 hour")
        .select(col("event_id").as("purchase_id"),
          col("r_event_id").as("click_id"), col("user_id"))
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(joined).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
    }),
    // ---- SUSTAINED stateful dedup + stateless classify -----------
    // stream_dedup_fingerprint at 1× reads ~924 rows/s — the lane's
    // slowest per-row number, but it is fixture-sized (500 docs) and
    // overhead-bound, so it says nothing about the state store. This
    // run replays a 10-copy PERTURBED landing (distinct ids + texts
    // per copy — see sharedLandingDocsPerturbedN: identical copies
    // would hit existing state and never grow it), so the dedup
    // state grows 10× across the replay and the reported rows/s is
    // state-insert throughput. The output row count IS the final
    // state size (one row per distinct fingerprint): rows == 10×
    // the single-copy distinct count pins the growth.
    "stream_sustained_dedup_fingerprint" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_sus_dd")
      val inDir = sharedLandingDocsPerturbedN(s, dir, copies = 10)
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val docs = scan.execute().fold(e => throw e, identity)
        .withColumn("event_time",
          expr("timestamp_micros((doc_id + 1) * 1000000)"))
      val deduped = graft.streaming.Streams.dedupStream(
        docs, "text", "event_time", watermark = "1 hour")
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(deduped).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
        .select(Text.fingerprint(col("text")).as("fingerprint"))
    }),
    // stream_classify is STATELESS (the model rides in the plan as a
    // literal — no join, no state store), so identical copies are the
    // honest densification: the sustained number is pure per-row
    // scoring throughput through the micro-batch machinery.
    "stream_sustained_classify" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_sus_cls")
      val (train, _, _) = nbSplit(s, dir)
      val (prior, weights) = graft.ops.NaiveBayes.logOddsModel(
        train, "text", "label", "hi", "lo", maxTerms = 64)
      val inDir = sharedLandingN(dir, "documents", copies = 10)
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val docs = scan.execute().fold(e => throw e, identity)
        .filter(length(graft.ops.Text.normalize(col("text"))) > 0)
      val scored = graft.ops.NaiveBayes.scoreWithModel(
        docs, "text", prior, weights, "hi", "lo")
        .select(col("doc_id"), col("pred"), col("score"))
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(scored).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
    }),

    // ---- ANN scale paths on the clustered fixture ----------------
    // brute is the comparison baseline; lsh/ivf/ivfpq are the paths
    // whose bucketing actually prunes here (32 tight clusters), so
    // their numbers track the scale behavior, not brute coverage
    // through join machinery.
    "sim_knn_brute_clustered" -> ((s, dir) =>
      graft.ops.Similarity.knnGraph(clusteredEmb(s, dir), "vec_id",
        "embedding", k = 5, method = "brute")),
    // deep hash, shallow probe — the clustered-corpus configuration
    // (isotropic defaults probe 15/16 buckets; here 12 planes give
    // 4096 buckets and <=2-bit flips probe 79 ≈ 2%, recall still
    // gated ≥0.9 by sim_recall_knn_clustered with THESE params)
    "sim_knn_lsh_clustered" -> ((s, dir) =>
      graft.ops.Similarity.knnGraph(clusteredEmb(s, dir), "vec_id",
        "embedding", k = 5, method = "lsh", planes = 12, probeBits = 2)),
    "sim_topk_ivf_clustered" -> ((s, dir) => {
      val e = clusteredEmb(s, dir)
      graft.ops.Similarity.ivfTopK(e, e.filter(col("vec_id") < 32),
        "vec_id", "embedding", k = 5, nlist = 32, nprobe = 4)
    }),
    "sim_topk_ivfpq_clustered" -> ((s, dir) => {
      val e = clusteredEmb(s, dir)
      graft.ops.Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 32),
        "vec_id", "embedding", k = 5, nlist = 32, nprobe = 4)
    }),
    // the quantize OPERATOR (shuffle-free projection); the oracled
    // sim_quantize_int8 spelling explodes/sorts millions of cells for
    // the hash compare, which would benchmark the oracle, not the op
    "sim_quantize_raw" -> ((s, dir) =>
      graft.ops.Similarity.quantizeInt8(t(s, dir, "embeddings"), "embedding")
        .select("vec_id", "emb_q", "q_min", "q_scale")),
    "sim_topk_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, planes = 4, probeBits = 3)
        .withColumn("cosine", r(col("cosine"), 6))
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    }),
    "sim_topk_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nlist = 8, nprobe = 7)
        .withColumn("cosine", r(col("cosine"), 6))
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    }),
    // NOTE the LSH kNN-graph scale path is exercised (and recall-
    // gated) by the oracled sim_recall_knn, not benched standalone:
    // on the deliberately ISOTROPIC synthetic embeddings the recall-
    // honest default params probe ~15/16 buckets, so a benched
    // self-kNN would measure near-brute coverage through join
    // machinery — the number would say nothing about the operator on
    // real clustered corpora (see the recall note on ivfTopK).
    "sim_topk_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // rerankFrac = the ×1 tuned ratio (128 of ~1750 probed): the
      // exact-rerank window scales with the probed mass, so the
      // recall gate holds at every fixture decade (see ivfPqTopK)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, rerankFrac = 0.075)
        .withColumn("cosine", r(col("cosine"), 6))
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    }),
    "dedup_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashCandidatePairs(tBalanced(s, dir, "documents"), "doc_id",
        "text", shingleK = 5, numHashes = 64, bands = 16)
        .filter(col("est_jaccard") >= 0.3)
        .orderBy("id_a", "id_b")),
    "dedup_embedding_lsh" -> ((s, dir) =>
      Dedup.embeddingCosinePairs(tBalanced(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.3, planes = 4, probeBits = 3)
        .withColumn("cosine", r(col("cosine"), 6))
        .orderBy("id_a", "id_b")),
    // the production SemDeDup path (kmeans + multi-enrollment); the
    // oracled dedup_semantic runs the hash-cluster harness mode
    "dedup_semantic_kmeans" -> ((s, dir) =>
      Dedup.semDeDup(tBalanced(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.4, nClusters = 8, assign = "kmeans",
        nAssign = 2)
        .select("vec_id").orderBy("vec_id")),
    // Raw sketches only — the oracled q_approx_sketch adds exact
    // count_distinct + exact percentiles to gate the approximations,
    // which would triple the benched cost of the sketch itself.
    // (`inventory = queries ++ benchOnly` in Bench, so this entry
    // shadows the gated one on the bench path only.)
    "q_approx_sketch" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          r(expr("approx_percentile(l_extendedprice, 0.5, 1000)"), 0)
            .as("approx_median"))
        .orderBy("l_returnflag")))

  /** Fold an ANN top-k result into the single driver-checkable recall
    * row: (n_queries, n_possible, recall_ok) where recall_ok asserts
    * hits against Spark's own brute-force ground truth ≥ ⌈0.9 ·
    * n_possible⌉. Pure DataFrame ops — no driver-side collect. */
  private def recallGate(approx: DataFrame, s: SparkSession,
                         dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val brute = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    brute.join(approx.select(col("query_id"), col("neighbor_id"),
          lit(1).as("_hit")),
        Seq("query_id", "neighbor_id"), "left")
      .agg(
        count_distinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_possible"),
        (sum(coalesce(col("_hit"), lit(0))) >=
          ceil(count(lit(1)) * 0.9)).as("recall_ok"))
  }

  // ------------------------------------------------------------------
  //  Query inventory
  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A1/A2B scan + projection --------------------------------
    "q_scan_project" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- filter / predicate pushdown -----------------------------
    "q_filter" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
        .select("l_orderkey", "l_partkey", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_partkey")),

    // ---- with_column (derived expression) ------------------------
    "q_with_column" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("charge", r(
          col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax")), 2))
        .select("l_orderkey", "l_linenumber", "charge")
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- A5 column multiplier (reference's flagship transform) ---
    "q_multiplier" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("l_extendedprice", col("l_extendedprice") * lit(2L))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("amount"))
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- drop ----------------------------------------------------
    "q_drop" -> ((s, dir) =>
      t(s, dir, "nation").drop("n_regionkey").orderBy("n_nationkey")),

    // ---- cast ----------------------------------------------------
    "q_cast" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("int").as("qty_int"),
          col("l_shipdate").cast("date").as("ship_date"))
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- rename --------------------------------------------------
    "q_rename" -> ((s, dir) =>
      t(s, dir, "region")
        .withColumnsRenamed(Map(
          "r_regionkey" -> "region_id", "r_name" -> "region_name"))
        .orderBy("region_id")),

    // ---- groupBy/agg (TPC-H Q1 shape; partial agg + tiny shuffle) -
    "q_groupby_agg" -> ((s, dir) =>
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
        .orderBy("l_returnflag", "l_linestatus")),

    // ---- 3-way join (dimension sides broadcast) ------------------
    "q_join" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(r(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name")),

    // ---- TPC-H Q1: the canonical pricing-summary agg sweep -------
    // One scan, one partial+final hash aggregate over 4-6 groups —
    // the shape that proves map-side combine: at 100 TB the shuffle
    // carries (flag, status) × partials per task, never rows. The
    // shipdate filter reaches the parquet scan. Sums rounded to
    // cents, avgs to 1e-6 (per-group FP accumulation error at the
    // verify SF is ~1e-5 absolute, far inside both).
    "q_tpch_q1" -> ((s, dir) =>
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
        .orderBy("l_returnflag", "l_linestatus")),

    // ---- TPC-H Q18: large-volume-customer semi-join + top-k ------
    // The HAVING subquery becomes a left-semi join of orders against
    // the re-aggregated fact table (no IN-list collect); customer is
    // a broadcast dim; the final top-100 is TakeOrderedAndProject
    // (per-partition heaps, never a full sort). o_orderkey tiebreaks
    // the totalprice/orderdate cut so both engines slice identically.
    "q_tpch_q18" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q10 shape: returned-item top customers ------------
    // Date-banded orders ⋈ lineitem(R) with two broadcast dims, then
    // revenue top-20 as TakeOrderedAndProject; c_custkey tiebreaks
    // the FP-sensitive cut (revenue rounded to cents in both engines).
    "q_tpch_q10" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q14: promo revenue share (CASE aggregate) ---------
    // Conditional aggregation over one join — numerator and
    // denominator in the SAME pass (no second scan); the part side
    // broadcasts. Output is one ratio row, rounded where FP
    // accumulation noise is ~1e-10 relative.
    "q_tpch_q14" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-03-01").cast("timestamp"))
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      li.join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .agg(r(lit(100.0) *
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))) /
          sum(rev), 4).as("promo_revenue"))
    }),

    // ---- TPC-H Q19 shape: disjunctive bracket predicate ----------
    // OR-of-ANDs across both join sides (adapted to the fixture's
    // columns: brand + size bands + quantity bands). The brackets
    // can't push below the join as a whole, but Catalyst extracts
    // the common p_partkey join key and per-side implied filters.
    "q_tpch_q19" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q4 shape: EXISTS semi-join, priority counts -------
    // (Adapted: the fixture lineitem has no commit/receipt dates, so
    // "late" = shipped >90 days after the order date; the predicate
    // references both sides and rides the semi-join condition.)
    "q_tpch_q4" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q13 shape: outer join + two-level aggregation -----
    // Orders per customer (zeros kept via the left outer), then the
    // distribution of those counts — the double-agg shape where the
    // first groupBy carries the real shuffle and the second is tiny.
    "q_tpch_q13" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q2 shape: correlated scalar subquery --------------
    // (Adapted: the fixture has no partsupp, so lineitem is the
    // part↔supplier bridge and min(l_extendedprice) stands in for
    // min(ps_supplycost) — the PLANNER shape is identical: a scalar
    // subquery correlated on the outer part key, which Catalyst must
    // decorrelate into a grouped-min aggregate joined back on the
    // correlation key. SQL-only surface: the DataFrame API cannot
    // express a correlated scalar subquery. Pinned in PlanSpec: no
    // CartesianProduct, subquery decorrelated to an aggregate+join.)
    "q_tpch_q2" -> ((s, dir) => {
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
    }),

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
    "q_tpch_q21" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q3 shape: filtered 3-way join + top-k by revenue --
    // Both date filters reach the parquet scans (PushedFilters); the
    // 302-row customer side is broadcast; lineitem ⋈ orders is the
    // one real shuffle. Top-10 selection orders by ROUNDED revenue
    // with an id tiebreak so the FP-noise-sensitive cut is identical
    // in both engines.
    "q_tpch_q3" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q6: forecasting revenue change --------------------
    // The simplest full-scan shape: ALL three predicates (shipdate
    // band, discount band, quantity cap) must reach the parquet scan
    // as PushedFilters, and the agg is a single partial+final pass —
    // at 100 TB this query is pure scan bandwidth, zero shuffle mass.
    "q_tpch_q6" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(r(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"),
          count(lit(1)).as("n_items"))),

    // ---- TPC-H Q8: national market share -------------------------
    // The widest join tree in the suite: lineitem ⋈ orders is the one
    // real shuffle; part/customer/supplier and BOTH nation roles (the
    // customer's region gate and the supplier's share nation) are
    // broadcast dims. Share = conditional-sum / sum in a single agg
    // pass — never two scans of the joined fact.
    "q_tpch_q8" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q9: product-type profit by nation and year --------
    // (Adapted: no partsupp in the fixture, so supply cost is the
    // 0.1·p_retailprice·quantity stand-in — the SHAPE is what's
    // anchored: a LIKE-filtered part dim pruning the fact early, a
    // two-level group key with a desc year sort, all dims broadcast.)
    "q_tpch_q9" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q11: important stock identification ----------------
    // (Adapted: lineitem is the part↔supplier bridge.) The planner
    // shape: an UNCORRELATED scalar aggregate subquery inside HAVING —
    // the whole filtered corpus is re-aggregated to one number that
    // gates the per-part groups. Spark executes the subquery once and
    // broadcasts the scalar; the oracle proves the threshold algebra
    // matches. SQL-only surface (HAVING-against-subquery).
    "q_tpch_q11" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q12: shipping-priority bands ----------------------
    // (Adapted: no l_shipmode/commitdate in the fixture — returnflag
    // stands in for the mode and "late" = shipped >60 days after the
    // order date, riding the JOIN CONDITION like Q4.) The shape:
    // conditional counts split one pass by a priority predicate.
    "q_tpch_q12" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q15: top supplier (view + scalar max) -------------
    // The CTE is referenced twice (row source + max subquery); Spark
    // plans the max as a one-row uncorrelated ScalarSubquery — it runs
    // once, never per row. The double-equality join back is computed
    // within ONE engine on both sides, so FP sum noise cancels.
    "q_tpch_q15" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q16: parts/supplier relationship ------------------
    // (Adapted: the supplier "complaints" blocklist is s_acctbal < 0.)
    // The planner shapes: NOT IN over a subquery → a NULL-AWARE anti
    // join (single-key BroadcastHashJoin NAAJ in Spark), and
    // count(DISTINCT) over the surviving bridge — distinct-expand
    // rides the same shuffle as the group keys.
    "q_tpch_q16" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q17: small-quantity-order revenue -----------------
    // The canonical CORRELATED AVG scalar subquery: each lineitem row
    // compares against the mean quantity OF ITS OWN PART. Catalyst
    // must decorrelate to a per-part aggregate joined back on
    // p_partkey — a per-row subquery loop at 100 TB would be a
    // full-table scan per row. Pinned in PlanSpec.
    "q_tpch_q17" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q20: potential part promotion ---------------------
    // (Adapted: no partsupp.availqty — "dominant supplier" = shipped
    // >70% of a red part's total 1996 volume.) The NESTED shape is
    // the anchor: an IN semi-join whose subquery itself contains a
    // correlated scalar aggregate (per-part total) AND another IN
    // semi-join (the part name filter) — three levels, all
    // decorrelated, no per-row loops.
    "q_tpch_q20" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q22: global sales opportunity ---------------------
    // (Adapted: country code = c_nationkey % 7 — no phone column —
    // and "dormant" = no order since 2000, because every fixture
    // customer has SOME order.) Shapes: an uncorrelated scalar AVG
    // subquery gating the row set, plus a correlated NOT EXISTS that
    // must plan as a left-anti join against the date-filtered orders.
    "q_tpch_q22" -> ((s, dir) => {
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
    }),

    // ---- pivot: long → wide with an explicit category list -------
    // Explicit values make the output schema static (no extra
    // distinct-scan job, deterministic column order — the only sane
    // form at scale) and keep the oracle a portable CASE aggregation.
    "q_pivot" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .pivot("lang", Seq("en", "de", "fr", "es", "und"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("source")),

    // ---- unpivot/melt: wide → long -------------------------------
    "q_unpivot" -> ((s, dir) =>
      t(s, dir, "part")
        .unpivot(Array(col("p_partkey")),
          Array(col("p_retailprice").cast("double").as("p_retailprice"),
            col("p_size").cast("double").as("p_size")),
          "measure", "value")
        .orderBy("p_partkey", "measure")),

    // ---- TPC-H Q5 shape: 6-table join, local-supplier revenue ----
    // The multi-join stress test: region/nation broadcast by hint,
    // the fact-side joins left to Catalyst/AQE (broadcast at this SF,
    // sort-merge on the keys at cluster scale). The c_nationkey =
    // s_nationkey constraint rides the supplier join.
    "q_tpch_q5" -> ((s, dir) => {
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
    }),

    // ---- TPC-H Q7: volume shipping between two nations -----------
    // Six-way join with a symmetric nation-pair predicate and a
    // shipdate band; nations renamed to the synthetic fixture's.
    // Both nation dims broadcast; the pair predicate sits on the
    // joined row (it references both sides).
    "q_tpch_q7" -> ((s, dir) => {
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
    }),

    // ---- write-layout: Z-order (Morton) interleave kernel --------
    // Deterministic variant for the oracle: dimensions are modular
    // buckets, not sampled quantiles (approxQuantile boundaries are
    // engine/seed-specific; the interleave kernel is the part DuckDB
    // can recompute exactly, as 16 explicit shift/mask terms). The
    // full equi-depth path — sampled boundaries, SortedBucket,
    // range-shuffle write via the cluster_by option — is pinned by
    // ZOrderSpec's file-spread assertions.
    "q_zorder" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"),
          graft.expressions.ZOrderCode.zorder_code(
            array((col("l_orderkey") % 256).cast("int"),
              (col("l_partkey") % 256).cast("int")), 8).as("zcode"))
        .orderBy("l_orderkey", "l_partkey", "zcode")),

    // ---- write-layout: Hilbert-curve kernel ----------------------
    // Same deterministic modular-bucket spelling as q_zorder; the
    // oracle replays the xy2d reflect/rotate walk as a recursive CTE
    // (8 levels, s = 128 → 1 — integer-only, exact). The full layout
    // path (sampled boundaries + range-shuffle write via
    // cluster_curve = "hilbert") is pinned by HilbertSpec's
    // adjacency/file-span assertions.
    "q_hilbert" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"),
          graft.expressions.HilbertCode.hilbert_code(
            array((col("l_orderkey") % 256).cast("int"),
              (col("l_partkey") % 256).cast("int")), 8).as("hcode"))
        .orderBy("l_orderkey", "l_partkey", "hcode")),

    // ---- fact ⋈ broadcast dimension ------------------------------
    "q_join_broadcast" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(r(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy("p_brand")),

    // ---- co-bucketed fact ⋈ fact (zero-shuffle join) -------------
    // Both sides are written bucketed on the join key (the writer's
    // bucket_by surface), so the join plans with NO Exchange on
    // either side — write-time layout paying for every subsequent
    // join, THE repeated-join answer at 100 TB. BucketingSpec pins
    // the zero-exchange plan; this row pins result parity: bucketed
    // layout must not change a single aggregated value vs the oracle
    // joining the plain tables.
    "q_bucket_join" -> ((s, dir) => {
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
    }),

    // ---- sort + limit (global top-k: TakeOrderedAndProject) ------
    "q_sort" -> ((s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)),

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
    "q_dpp_prune" -> ((s, dir) => {
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
    }),

    // ---- when/then/otherwise -------------------------------------
    "q_when_then" -> ((s, dir) =>
      t(s, dir, "orders")
        .withColumn("bucket",
          when(col("o_totalprice") > 200000, "big")
            .when(col("o_totalprice") > 100000, "mid")
            .otherwise("small"))
        .groupBy("o_orderpriority", "bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority", "bucket")),

    // ---- string functions ----------------------------------------
    "q_string_funcs" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_name"), 1, 10).as("name10"),
          length(col("p_name")).as("name_len"),
          col("p_name").like("%el%").as("has_el"))
        .orderBy("p_partkey")),

    // ---- advanced string functions -------------------------------
    "q_string_advanced" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).as("brand_num"),
          expr("split_part(p_name, ' ', 1)").as("first_word"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          lpad(col("p_size").cast("string"), 4, "0").as("size_padded"),
          reverse(col("p_brand")).as("brand_rev"))
        .orderBy("p_partkey")),

    // ---- advanced date functions ---------------------------------
    "q_date_advanced" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          quarter(col("o_orderdate")).as("qtr"),
          dayofweek(col("o_orderdate")).as("dow"),
          dayofmonth(col("o_orderdate")).as("dom"))
        .orderBy("o_orderkey")),

    // ---- distinct ------------------------------------------------
    "q_distinct" -> ((s, dir) =>
      t(s, dir, "customer")
        .select("c_nationkey", "c_mktsegment").distinct()
        .orderBy("c_nationkey", "c_mktsegment")),

    // ---- union all + agg -----------------------------------------
    "q_union" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey"), col("c_acctbal").as("acctbal"))
      val sup = t(s, dir, "supplier")
        .select(col("s_nationkey").as("nationkey"), col("s_acctbal").as("acctbal"))
      c.union(sup)
        .groupBy("nationkey")
        .agg(r(sum("acctbal"), 2).as("total_bal"), count(lit(1)).as("n"))
        .orderBy("nationkey")
    }),

    // ---- window function (per-group top-k) -----------------------
    "q_window" -> ((s, dir) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .orderBy("c_mktsegment", "rn")
    }),

    // ---- analytic window-function suite --------------------------
    // lead/lag/ntile/percent_rank/cume_dist/first over one window
    // spec (one exchange, one sort). percent_rank and cume_dist are
    // exact small-integer divisions — identical in any engine, no
    // rounding needed; the tiebreak on s_suppkey makes every
    // offset/rank function deterministic.
    "q_window_suite" -> ((s, dir) => {
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
    }),

    // ---- set operations: INTERSECT / EXCEPT ----------------------
    // Tagged union output so one oracled row set pins both operators
    // (and their DISTINCT semantics) at once.
    "q_set_ops" -> ((s, dir) => {
      val custNations = t(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey"))
      val suppNations = t(s, dir, "supplier")
        .select(col("s_nationkey").as("nationkey"))
      custNations.intersect(suppNations)
        .withColumn("op", lit("both"))
        .unionByName(
          custNations.except(suppNations).withColumn("op", lit("cust_only")))
        .orderBy("op", "nationkey")
    }),

    // ---- GROUPING SETS with grouping_id --------------------------
    // Explicit grouping sets in a shape NEITHER rollup nor cube can
    // shorthand (two disjoint single-column sets), plus the
    // grouping_id bitmask that disambiguates real NULL keys from
    // subtotal rows — the plan is one Expand + one aggregation.
    // (SQL-only surface in Spark; the temp view name is unique to
    // this query, so Verify's concurrent single-session runs don't
    // collide.)
    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .createOrReplaceTempView("gs_lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          |  count(*) AS n
          |FROM gs_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
    }),

    // ---- aggregate function suite --------------------------------
    "q_agg_stats" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          r(min("l_extendedprice"), 2).as("min_price"),
          r(max("l_extendedprice"), 2).as("max_price"),
          r(avg("l_extendedprice"), 2).as("avg_price"),
          r(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
          countDistinct(col("l_suppkey")).as("n_supp"))
        .orderBy("l_returnflag")),

    // ---- date functions ------------------------------------------
    "q_date_funcs" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"), r(sum("o_totalprice"), 2).as("total"))
        .orderBy("yr", "mo")),

    // ---- math functions ------------------------------------------
    "q_math_funcs" -> ((s, dir) =>
      t(s, dir, "supplier")
        .select(col("s_suppkey"),
          r(abs(col("s_acctbal")), 2).as("abs_bal"),
          ceil(col("s_acctbal")).as("ceil_bal"),
          floor(col("s_acctbal")).as("floor_bal"),
          r(sqrt(abs(col("s_acctbal"))), 4).as("sqrt_bal"))
        .orderBy("s_suppkey")),

    // ---- JSON extraction -----------------------------------------
    "q_json" -> ((s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    // ---- semi join (EXISTS) --------------------------------------
    "q_semi_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 200000)
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // ---- anti join (NOT EXISTS) ----------------------------------
    "q_anti_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 450000)
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")),

    // ---- groupBy + HAVING ----------------------------------------
    "q_having" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n"), r(sum("l_quantity"), 2).as("qty"))
        .filter(col("n") >= 40)
        .orderBy("l_partkey")),

    // ---- pipeline orchestration end-to-end (A1+A10+§2B plugins) --
    "q_pipeline_e2e" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val cfgDir = Paths.get(dir)
      val scan = new ParquetScanPlugin(
        Map("input_path" -> s"$dir/lineitem.parquet"), cfgDir, "default")
      val transforms = Seq(
        new FilterPlugin(Map("predicate" -> "l_discount >= 0.05"), cfgDir, "default"),
        new SelectPlugin(Map("columns" ->
          Seq("l_orderkey", "l_linenumber", "l_extendedprice")), cfgDir, "default"),
        new SortPlugin(Map("by" -> Seq("l_orderkey", "l_linenumber")), cfgDir, "default"))
      Pipeline.executeTransformChain(scan.execute(), transforms)
        .fold(e => throw e, identity)
    }),

    // ================= extension tier =============================

    // ---- exact dedup (hash-groupBy) ------------------------------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", Seq("lang", "source"))
        .orderBy("lang", "source")),

    // ---- fingerprint dedup (md5 of normalized text) --------------
    "dedup_fingerprint" -> ((s, dir) =>
      Dedup.byFingerprint(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ---- incremental dedup: batch vs corpus via Bloom gate -------
    // doc_id % 3 splits documents into a fixed "reference corpus"
    // (2/3) and a "new batch" (1/3); the batch keeps only fingerprints
    // unseen in the reference. Routed through the broadcast Bloom
    // filter + exact-verify path, whose result is exactly the
    // anti-join — which is what the oracle recomputes (NOT EXISTS, so
    // NULL fingerprints stay kept on both engines).
    "dedup_incremental" -> ((s, dir) => {
      val fp = graft.ops.Text.fingerprint(col("text"))
      val docs = t(s, dir, "documents").withColumn("fingerprint", fp)
      val reference = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
      graft.ops.IncrementalDedup.cleaned(batch, reference, "fingerprint")
        .select("doc_id", "fingerprint").orderBy("doc_id")
    }),

    // ---- corpus profile (one-pass ANALYZE) -----------------------
    // exact=true so count_distinct matches DuckDB's COUNT(DISTINCT);
    // the scale default is the HLL sketch variant (no Expand), which
    // ProfilingSpec pins within tolerance and PlanSpec pins plan-wise.
    "q_profile" -> ((s, dir) =>
      graft.ops.Profiling.columnStats(t(s, dir, "documents"),
          Seq("doc_id", "lang", "source", "n_chars"), exact = true)
        .orderBy("col_name")),

    // ---- Gopher quality-rule gates -------------------------------
    // Published MassiveText filter rules as per-rule boolean columns.
    // Lines synthesized like dedup_boilerplate; edge docs trip each
    // gate on its own (short doc, symbol spam, bullet wall, dup
    // lines, ellipsis endings) and NULL text yields NULL flags. All
    // outputs are booleans/longs — no FP rounding in the hash gate.
    "q_gopher_rules" -> ((s, dir) => {
      import s.implicits._
      val good = ("good words " * 25) +
        "the cat and that dog have fun with all of them to be here"
      val edges = Seq(
        (-8L, Some("")),
        (-7L, Some(good)),
        (-6L, Some("too short to have the words")),
        (-5L, Some(good + " ###### ## # # # # # # # #")),
        (-4L, Some(good + "\n- a\n- b\n- c\n- d")),
        (-3L, Some("same line\n" * 10 + good)),
        (-2L, Some(good + "\nline one...\nline two...\nline three...")),
        (-1L, Option.empty[String])).toDF("doc_id", "text")
      val src = t(s, dir, "documents")
        .select(col("doc_id"),
          replace(col("text"), lit(" value "), lit("\n")).as("text"))
        .unionByName(edges)
      Text.withGopherFlags(src, "text")
        .select("doc_id", "n_words", "flag_word_count", "flag_word_len",
          "flag_symbol_ratio", "flag_bullet_lines", "flag_ellipsis_lines",
          "flag_alpha_words", "flag_stopwords", "flag_dup_lines",
          "gopher_pass")
        .orderBy("doc_id")
    }),

    // ---- line-level boilerplate removal (CCNet-style) ------------
    // The corpus has no newlines, so lines are synthesized the same
    // way on both sides (replace ' value ' with \n — left-to-right
    // non-overlapping in Spark and DuckDB alike); unioned edge docs
    // pin the semantics: shared banner/footer lines removed in order,
    // an all-boilerplate doc emptied (not dropped), NULL text → NULL.
    "dedup_boilerplate" -> ((s, dir) => {
      import s.implicits._
      val edges = Seq(
        (-6L, Some("cookie banner\nreal prose one\nfooter text")),
        (-5L, Some("cookie banner\nreal prose two\nfooter text")),
        (-4L, Some("cookie banner\nunique thought\nfooter text")),
        (-3L, Some("cookie banner")),
        (-2L, Option.empty[String]),
        (-1L, Some("fully original text"))).toDF("doc_id", "text")
      val src = t(s, dir, "documents")
        .select(col("doc_id"),
          replace(col("text"), lit(" value "), lit("\n")).as("text"))
        .unionByName(edges)
      Dedup.removeBoilerplateLines(src, "doc_id", "text", minDocs = 3)
        .select("doc_id", "clean_text", "n_lines_removed")
        .orderBy("doc_id")
    }),

    // ---- SimHash near-dup pairs (exact oracle) -------------------
    // maxHamming=3 with chunks=4 keeps the pigeonhole guarantee
    // (chunks > maxHamming), so the chunk-bucketed join finds EVERY
    // pair within the Hamming ball — the DuckDB oracle recomputes the
    // md5-token signatures and the full quadratic xor/bit_count pair
    // set and must match row-for-row.
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(tBalanced(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("id_a", "id_b")),

    // ---- exact n-gram Jaccard pairs (lang-blocked) ---------------
    "dedup_ngram_pairs" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(tBalanced(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.6, blockCol = Some("lang"))
        .withColumn("jaccard", r(col("jaccard"), 4))
        .orderBy("id_a", "id_b")),

    // ---- n-gram Jaccard via minhash candidates (scale path) ------
    // The 100 TB default: no quadratic block anywhere in the plan —
    // MinHash+LSH proposes, SortedLongJaccard verifies candidates
    // only. The S-curve (16 bands × 4 rows) bounds P(miss | J ≥ 0.9)
    // ≤ 4e-8, so the output equals the quadratic DuckDB verifier
    // exactly and is hash-oracled. This green row is ALSO the
    // containment oracle for minhashCandidatePairs itself: a missed
    // candidate would drop a row here.
    "dedup_ngram_verified" -> ((s, dir) =>
      Dedup.ngramJaccardVerified(tBalanced(s, dir, "documents"), "doc_id",
        "text", n = 5, threshold = 0.8)
        .withColumn("jaccard", r(col("jaccard"), 4))
        .orderBy("id_a", "id_b")),

    // ---- embedding cosine near-dup pairs (exact, for oracle) -----
    // Bounded spelling: a ≤512-id md5Sample is broadcast against the
    // full normalized table (one BroadcastNestedLoopJoin, 512·n dot
    // products — linear at any corpus scale), emitting every exact
    // cosine ≥ 0.4 pair that touches a sampled id. Pairs with BOTH
    // endpoints sampled arrive twice (s,o) and (o,s); dot is
    // bitwise-commutative (same zip order), so canonicalize with
    // least/greatest + distinct. At sf ≤ 0.01 the sample is the whole
    // table and the output equals the old full cross-join gate.
    "dedup_embedding_pairs" -> ((s, dir) => {
      val e = Similarity.withNormalized(
          t(s, dir, "embeddings"), "embedding", "v")
        .select(col("vec_id"), col("v"))
      val sample = md5Sample(e, "vec_id", 512)
        .select(col("vec_id").as("id_s"), col("v").as("v_s"))
      broadcast(sample)
        .join(e.select(col("vec_id").as("id_o"), col("v").as("v_o")),
          col("id_s") =!= col("id_o"))
        .select(
          least(col("id_s"), col("id_o")).as("id_a"),
          greatest(col("id_s"), col("id_o")).as("id_b"),
          Similarity.dot(col("v_s"), col("v_o")).as("cosine"))
        .filter(col("cosine") >= 0.4)
        .withColumn("cosine", r(col("cosine"), 6))
        .distinct()
        .orderBy("id_a", "id_b")
    }),

    // ---- near-dup clustering (connected components) --------------
    // Min-label propagation over the exact 5-gram Jaccard pair graph
    // (the hash-verified ngramJaccardVerified output), so a
    // transitive chain A~B~C labels all three with min(id). The
    // oracle recomputes the same components with a recursive CTE
    // over its own quadratic pair set — full 500-row mapping
    // hash-checked.
    "dedup_cluster" -> ((s, dir) => {
      val docs = tBalanced(s, dir, "documents")
      val pairs = Dedup.ngramJaccardVerified(docs, "doc_id", "text",
          n = 5, threshold = 0.8)
        .select("id_a", "id_b")
      Dedup.clusterPairs(docs.select(col("doc_id")), "doc_id", pairs)
        .orderBy("doc_id")
    }),

    // ---- quality-aware canonical selection -----------------------
    // Production survivor policy: each near-dup component keeps its
    // BEST member (max n_chars, ties min id), not its min-id one.
    // Same exact hash-verified pair graph as dedup_cluster; the
    // oracle replays components + the identical rank pick, so the
    // full survivor set hash-verifies.
    "dedup_cluster_best" -> ((s, dir) => {
      val docs = tBalanced(s, dir, "documents")
      val pairs = Dedup.ngramJaccardVerified(docs, "doc_id", "text",
          n = 5, threshold = 0.8)
        .select("id_a", "id_b")
      Dedup.keepBestPerCluster(docs, "doc_id", pairs, "n_chars")
        .select("doc_id", "n_chars").orderBy("doc_id")
    }),

    // ---- embedding LSH pair recall gate (driver-checkable) -------
    // The LSH-blocked pair set is approximate, so its rows have no
    // hash oracle; what the oracle CAN verify is the recall floor:
    // the exact pair set over a bounded md5Sample (512 ids broadcast
    // against the full table — linear, never O(n²); the same sampled
    // spelling hash-verifies green as dedup_embedding_pairs) is
    // recomputed and left-joined against the LSH candidates, and the
    // single result row asserts hits ≥ ⌈0.9 · n_pairs⌉. Measured
    // recall at planes=4/probeBits=3 is 0.976-0.985 across
    // sf0.001-0.1 (see BASELINE.md) — on these isotropic fixtures
    // with near-dups planted at cosine ≈ 0.3-0.6, the adversarial
    // regime for hyperplane LSH.
    "dedup_emb_lsh_recall" -> ((s, dir) => {
      val e = tBalanced(s, dir, "embeddings")
      val norm = Similarity.withNormalized(e, "embedding", "v")
        .select(col("vec_id"), col("v"))
      val sample = md5Sample(norm, "vec_id", 512)
        .select(col("vec_id").as("id_s"), col("v").as("v_s"))
      val exact = broadcast(sample)
        .join(norm.select(col("vec_id").as("id_o"), col("v").as("v_o")),
          col("id_s") =!= col("id_o"))
        .filter(Similarity.dot(col("v_s"), col("v_o")) >= 0.3)
        .select(least(col("id_s"), col("id_o")).as("id_a"),
          greatest(col("id_s"), col("id_o")).as("id_b"))
        .distinct()
      val lsh = Dedup.embeddingCosinePairs(e, "vec_id", "embedding",
          threshold = 0.3, planes = 4, probeBits = 3)
        .select(col("id_a"), col("id_b"), lit(1).as("_hit"))
      exact.join(lsh, Seq("id_a", "id_b"), "left")
        .agg(
          count(lit(1)).as("n_pairs"),
          // coalesce: over ZERO exact pairs sum() is NULL and the
          // comparison would go NULL instead of the vacuous true the
          // oracle emits (reachable now that exact is a sample)
          (coalesce(sum(coalesce(col("_hit"), lit(0))), lit(0L)) >=
            ceil(count(lit(1)) * 0.9)).as("recall_ok"))
    }),

    // ---- banded (multi-table) embedding LSH recall gate ----------
    // Same sampled-truth construction as dedup_emb_lsh_recall, but
    // the candidate generator is the E2LSH banded form: 4 independent
    // 5-plane bands, a pair candidates in ANY band. Per-band
    // coverage on the isotropic fixture is ~50% (C(5,<=2)=16 of 32
    // buckets probed); 1-(1-0.5)^4 ≈ 0.94 clears the 0.9 floor with
    // NO band's buckets widened — the recall-at-scale mechanism the
    // single-table form cannot offer (its only levers widen buckets
    // or deepen probes).
    "dedup_emb_banded_recall" -> ((s, dir) => {
      val e = tBalanced(s, dir, "embeddings")
      val norm = Similarity.withNormalized(e, "embedding", "v")
        .select(col("vec_id"), col("v"))
      val sample = md5Sample(norm, "vec_id", 512)
        .select(col("vec_id").as("id_s"), col("v").as("v_s"))
      val exact = broadcast(sample)
        .join(norm.select(col("vec_id").as("id_o"), col("v").as("v_o")),
          col("id_s") =!= col("id_o"))
        .filter(Similarity.dot(col("v_s"), col("v_o")) >= 0.3)
        .select(least(col("id_s"), col("id_o")).as("id_a"),
          greatest(col("id_s"), col("id_o")).as("id_b"))
        .distinct()
      val banded = Dedup.embeddingCosinePairs(e, "vec_id", "embedding",
          threshold = 0.3, planes = 5, probeBits = 2, tables = 4)
        .select(col("id_a"), col("id_b"), lit(1).as("_hit"))
      exact.join(banded, Seq("id_a", "id_b"), "left")
        .agg(
          count(lit(1)).as("n_pairs"),
          (coalesce(sum(coalesce(col("_hit"), lit(0))), lit(0L)) >=
            ceil(count(lit(1)) * 0.9)).as("recall_ok"))
    }),

    // ---- auto-scaled embedding LSH recall gate (scale path) ------
    // Same sampled-truth construction again, but the candidate
    // generator runs autoPlanes=true: the plane count tracks the
    // corpus (mean occupancy ≈ maxBucket/4 instead of n/2^4) and the
    // probe depth is re-solved analytically for the 0.92 floor at
    // threshold 0.3 (Similarity.probeBitsFor — exact binomial tail).
    // At gate scale (≤ 2k vectors) auto does not engage and this is
    // bit-identical to dedup_emb_lsh_recall; at ×10 (20k vectors,
    // where the FIXED-plane gate's 16-bucket space saturates its
    // flood cap and recall collapses — the round-14 finding that
    // motivated the mode) planes deepen to 7, probes to 5, and the
    // ≥ 0.9 floor holds. This is the query the cross-SF gate runs at
    // scale fixtures; the fixed-plane gates above pin the tuned
    // small-scale configurations and are scale-excluded BY CONTRACT
    // (their saturation guard firing at ×10 is designed behavior).
    "dedup_emb_auto_recall" -> ((s, dir) => {
      val e = tBalanced(s, dir, "embeddings")
      val norm = Similarity.withNormalized(e, "embedding", "v")
        .select(col("vec_id"), col("v"))
      val sample = md5Sample(norm, "vec_id", 512)
        .select(col("vec_id").as("id_s"), col("v").as("v_s"))
      val exact = broadcast(sample)
        .join(norm.select(col("vec_id").as("id_o"), col("v").as("v_o")),
          col("id_s") =!= col("id_o"))
        .filter(Similarity.dot(col("v_s"), col("v_o")) >= 0.3)
        .select(least(col("id_s"), col("id_o")).as("id_a"),
          greatest(col("id_s"), col("id_o")).as("id_b"))
        .distinct()
      val lsh = Dedup.embeddingCosinePairs(e, "vec_id", "embedding",
          threshold = 0.3, planes = 4, probeBits = 3, autoPlanes = true)
        .select(col("id_a"), col("id_b"), lit(1).as("_hit"))
      exact.join(lsh, Seq("id_a", "id_b"), "left")
        .agg(
          count(lit(1)).as("n_pairs"),
          (coalesce(sum(coalesce(col("_hit"), lit(0))), lit(0L)) >=
            ceil(count(lit(1)) * 0.9)).as("recall_ok"))
    }),

    // ---- SemDeDup survivors (hash-cluster mode, full oracle) -----
    // assign="hash" replays the md5 bucket map in DuckDB, so the
    // whole survivor set hash-verifies; the kmeans production mode is
    // gated by dedup_semantic_recall below plus the OpsSpec
    // soundness/recall spec.
    "dedup_semantic" -> ((s, dir) =>
      Dedup.semDeDup(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, nClusters = 16, assign = "hash")
        .select("vec_id").orderBy("vec_id")),

    // ---- SemDeDup kmeans gate (driver-checkable) -----------------
    // kmeans cluster boundaries are not SQL-replayable, so the oracle
    // verifies the exact sampled-droppable count plus the two claims
    // that ARE engine-independent: every sampled drop is a true
    // duplicate (soundness) and the op catches ≥ 75% of
    // sampled-droppable rows. The
    // fixtures are isotropic with near-dups planted at cosine
    // 0.3-0.6 — the adversarial regime for any cluster blocking —
    // and nAssign=2 (IVF-style multi-enrollment) lifts measured
    // recall at nClusters=8 from 0.36-0.59 to 0.826-0.868 across
    // sf0.001-0.1 (tools/TuneSemDeDup).
    // Bounded spelling: "droppable" is judged on the md5Sample ids
    // only — for each sampled id, a broadcast scan of the full table
    // for an EARLIER (<) true duplicate at cosine ≥ 0.4. Soundness
    // and the recall floor are then asserted over sampled ids, which
    // keeps the gate O(sample·n) at any scale; at sf ≤ 0.01 the
    // sample is the whole table and the gate is the old global one.
    "dedup_semantic_recall" -> ((s, dir) => {
      val e = tBalanced(s, dir, "embeddings")
      val norm = Similarity.withNormalized(e, "embedding", "v")
        .select(col("vec_id"), col("v"))
      val sample = md5Sample(norm, "vec_id", 512)
        .select(col("vec_id").as("id_s"), col("v").as("v_s"))
      val droppable = broadcast(sample)
        .join(norm.select(col("vec_id").as("id_o"), col("v").as("v_o")),
          col("id_o") < col("id_s"))
        .filter(Similarity.dot(col("v_s"), col("v_o")) >= 0.4)
        .select(col("id_s").as("vec_id")).distinct()
      val dropped = sample.select(col("id_s").as("vec_id")).join(
        Dedup.semDeDup(e, "vec_id", "embedding", threshold = 0.4,
          nClusters = 8, assign = "kmeans", nAssign = 2).select("vec_id"),
        Seq("vec_id"), "left_anti")
      // outer coalesces: over ZERO droppable+dropped rows every sum()
      // is NULL and all three outputs would go NULL instead of the
      // (0, true, true) the oracle emits (reachable now that
      // droppable is judged on a sample)
      droppable.withColumn("_p", lit(1))
        .join(dropped.withColumn("_d", lit(1)), Seq("vec_id"), "full_outer")
        .agg(
          coalesce(sum(coalesce(col("_p"), lit(0))), lit(0L))
            .cast("long").as("n_droppable"),
          (coalesce(sum(when(col("_d") === 1 && col("_p").isNull, 1)
            .otherwise(0)), lit(0L)) === 0).as("drops_sound"),
          (coalesce(sum(when(col("_d") === 1 && col("_p") === 1, 1)
            .otherwise(0)), lit(0L)) >=
            ceil(coalesce(sum(coalesce(col("_p"), lit(0))), lit(0L))
              * 0.75)).as("recall_ok"))
    }),

    // ---- CSV source/sink roundtrip under the oracle --------------
    // customer → csv_writer plugin → csv_scan plugin (header +
    // inferSchema) → cast back to the parquet schema → must equal
    // the original table (oracle reads the parquet directly). Puts
    // the CSV plugins' quoting/typing on the hash gate, not just
    // sbt assertions.
    "q_csv_roundtrip" -> ((s, dir) => {
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
    }),

    // ---- JSONL source/sink roundtrip under the oracle ------------
    // json_writer → json_scan with an EXPLICIT schema (the scale
    // path: no inference pass, no type drift) must reproduce the
    // documents table exactly — JSON string escaping must survive
    // newlines/unicode in text, and absent fields must come back as
    // NULLs.
    "q_jsonl_roundtrip" -> ((s, dir) => {
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
    }),

    // ---- Arrow IPC source/sink roundtrip under the oracle --------
    // Same gate for the Arrow-Java bridge: ipc_writer → ipc_scan
    // must reproduce the table bit-for-bit (types preserved, no
    // inference involved).
    "q_ipc_roundtrip" -> ((s, dir) => {
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
    }),

    // ---- repetition signals (Gopher-style quality) ---------------
    "text_repetition" -> ((s, dir) => {
      import s.implicits._
      val base = tBalanced(s, dir, "documents").select(col("doc_id"), col("text"))
      val edges = Seq((-2L, "spam spam spam spam spam"), (-1L, "   "))
        .toDF("doc_id", "text")
      base.unionByName(edges)
        .select(col("doc_id"),
          r(Text.tokenRepetitionRatio(col("text")), 4).as("tok_rep"),
          r(Text.charNgramRepetitionRatio(col("text"), 3), 4).as("gram_rep"),
          // count×chars over total chars — exceeds 1.0 on overlapping
          // repeats ('spam'×5 → 1.5), like the published top-n-gram
          // implementations; the signal saturates, stays deterministic
          r(Text.topNgramCoverage(col("text"), 2), 4).as("top2_cov"))
        .orderBy("doc_id")
    }),

    // ---- PII redaction -------------------------------------------
    // Fixture text has no PII, so edge rows plant every category;
    // redacted text + per-category counts all hash-checked.
    "text_redact_pii" -> ((s, dir) => {
      import s.implicits._
      val base = tBalanced(s, dir, "documents").select(col("doc_id"), col("text"))
      val edges = Seq(
        (-3L, "contact bob.smith+spam@example.co.uk or jane@test.org today"),
        (-2L, "server at 192.168.1.254 answered, call 555-867-5309 now"),
        (-1L, "mixed: a@b.io via 10.0.0.1 and 123.456.7890")).toDF("doc_id", "text")
      val counts = Text.piiCounts(col("text"))
        .map { case (n, c) => c.cast("long").as(n) }
      base.unionByName(edges)
        .select(Seq(col("doc_id"),
          Text.redactPii(col("text")).as("redacted")) ++ counts: _*)
        .orderBy("doc_id")
    }),

    // ---- benchmark contamination (word 8-gram overlap) -----------
    // "Benchmark" = docs 0-4 of the same corpus, so the checker must
    // flag at least those five (self-contamination) plus any real
    // near-dups — all reproduced by the oracle's quadratic version.
    "q_contamination" -> ((s, dir) => {
      val docs = tBalanced(s, dir, "documents")
      Contamination.ngramOverlap(
          docs, "doc_id", "text",
          docs.filter(col("doc_id") < 5), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    // ---- decontamination: drop any-overlap docs ------------------
    "q_decontaminate" -> ((s, dir) => {
      val docs = tBalanced(s, dir, "documents")
      Contamination.removeContaminated(
          docs, "doc_id", "text",
          docs.filter(col("doc_id") < 5), "doc_id", "text", n = 8)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // ---- deterministic hash sampling -----------------------------
    "q_sample_hash" -> ((s, dir) =>
      Sampling.sampleByHash(t(s, dir, "documents"), "doc_id", rate = 0.1)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // ---- deterministic train/val/test split ----------------------
    // 90/5/5 by md5 key-hash bands: a re-ingested row keeps its
    // split across reruns — no eval leakage on corpus rebuilds.
    "q_split" -> ((s, dir) =>
      Sampling.assignSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .groupBy("split").agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"))
        .orderBy("split")),

    // ---- leakage-safe split (dup families stay in ONE split) -----
    // The near-dup edge list here is exact-fingerprint equality, so
    // the component structure (min id per fingerprint group) replays
    // exactly in DuckDB and the FULL per-doc assignment is
    // hash-gated — including that every fingerprint-dup family got
    // one split. Near-dup generators (minhash/embedding pairs)
    // compose through the same op.
    "q_split_safe" -> ((s, dir) =>
      // fingerprint equality is transitive, so the fast path skips
      // the iterative contraction: component id = family min via one
      // agg + one join; the FULL per-doc assignment is hash-gated.
      // Near-dup generators (minhash pairs) go through the generic
      // leakageSafeSplit (Round5Spec / PluginSpec pin that path).
      Sampling.leakageSafeSplitByFingerprint(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")),

    // ---- leakage-safe split, generic near-dup path ----------------
    // The component-keyed path end-to-end under the hash gate:
    // exact-verified char-5-gram Jaccard pairs (engine-independent
    // edge set) → connected components → hash split on the component
    // id. The oracle replays all three stages (all-pairs Jaccard +
    // recursive reach + the split bands), so every per-doc assignment
    // — including family cohesion — is verified.
    "q_split_safe_neardup" -> ((s, dir) => {
      val docs = tBalanced(s, dir, "documents")
      val pairs = Dedup.ngramJaccardVerified(docs, "doc_id", "text",
          n = 5, threshold = 0.8)
        .select("id_a", "id_b")
      Sampling.leakageSafeSplit(docs, "doc_id", pairs,
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    "q_sample_cap" -> ((s, dir) =>
      Sampling.stratifiedCap(t(s, dir, "documents"),
          Seq("lang"), "doc_id", cap = 20)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // ---- structural URL parsing (graft.ops.Urls) -----------------
    // Documents carry no URL, so one is SYNTHESIZED deterministically
    // from doc_id (same expression in the oracle): scheme, optional
    // subdomain, 185 registered domains over 5 suffixes including
    // two-level public suffixes (co.uk, com.au), 0-2 path segments,
    // optional query. The oracle recomputes each component from the
    // CONSTRUCTION, not the parser — so the parser must actually
    // recover ground truth, including eTLD+1 through the two-level
    // suffix table.
    "q_url_parse" -> ((s, dir) =>
      Urls.parseUrls(
          t(s, dir, "documents").withColumn("url", synthUrl),
          "url")
        .select(col("doc_id"), col("url_scheme"), col("url_host"),
          col("url_domain"), col("url_subdomain"), col("url_tld"),
          col("url_path"), col("url_query"), col("url_path_depth"))
        .orderBy("doc_id")),

    // ---- PSL semantics: wildcard / exception / multi-level -------
    // The full Public-Suffix-List algorithm on a fixture that
    // exercises every rule type in the shipped table: exact
    // multi-level suffixes (co.uk, gov.uk), geographic wildcards
    // (*.kawasaki.jp) with their exceptions (!city.kawasaki.jp),
    // all-wildcard ccTLDs (*.ck / !www.ck), private-section hosting
    // suffixes (github.io), the implicit default `*` rule for
    // unlisted TLDs, literal IPv4/IPv6 hosts, hosts that ARE a
    // public suffix, and trailing root-dot normalization. The
    // oracle states every expected component independently.
    "q_url_psl" -> ((s, dir) => {
      import s.implicits._
      val urls = Seq(
        1L -> "https://blog.example.co.uk/a",
        2L -> "https://a.council.gov.uk/b",
        3L -> "https://x.y.kawasaki.jp/",
        4L -> "https://www.city.kawasaki.jp/",
        5L -> "https://foo.shop.ck/",
        6L -> "https://www.ck/",
        7L -> "https://deep.user.github.io/p",
        8L -> "https://a.b.example.zz/q",
        9L -> "https://co.uk/",
        10L -> "https://example.com./r",
        11L -> "http://93.184.216.34/s",
        12L -> "http://[2001:db8::1]/t",
        13L -> "https://www.example.com/u")
      Urls.parseUrls(urls.toDF("doc_id", "url").repartition(4), "url")
        .select(col("doc_id"), col("url_host"), col("url_domain"),
          col("url_subdomain"), col("url_tld"))
        .orderBy("doc_id")
    }),

    // ---- per-domain cap over parsed URLs -------------------------
    // The crawl-balancing move: no registered domain keeps more than
    // `cap` docs, survivor choice hash-uniform and deterministic.
    // cap=2 binds on most of the 185 synthetic domains at sf0.01+.
    "q_url_domain_cap" -> ((s, dir) =>
      Urls.capPerDomain(
          t(s, dir, "documents").withColumn("url", synthUrl),
          "url", "doc_id", cap = 2)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // ---- quality-quantile gate: percentiles feeding a filter -----
    // The realistic corpus-curation shape: keep each language's top
    // quartile by quality score. Exercises exactInterpolated as a
    // THRESHOLD PRODUCER (tiny result broadcast back onto the corpus)
    // rather than a terminal aggregate; both sides compare at 4 dp so
    // the interpolated threshold is engine-stable.
    "q_quality_gate" -> ((s, dir) => {
      val q = Text.withQualityMetrics(tBalanced(s, dir, "documents"), "text")
        .select(col("doc_id"), col("lang"),
          r(Text.qualityFromMetrics, 6).as("q"))
      val th = graft.ops.Percentiles.exactInterpolated(
        q, Seq("lang"), "q", Seq("p75" -> 0.75))
      q.join(broadcast(th), Seq("lang"))
        .filter(r(col("q"), 4) >= r(col("p75"), 4))
        .select(col("doc_id"), col("lang"), r(col("q"), 4).as("quality"))
        .orderBy("doc_id")
    }),

    // ---- SQL-function surface under the oracle -------------------
    // The GraftExtensions registry path end-to-end: the config-level
    // sql plugin computes SimHash signatures with the simhash64 SQL
    // function; DuckDB recomputes the same md5-token signatures, so
    // the registered function (not just the Column API) sits on the
    // hash gate.
    "q_sql_kernels" -> ((s, dir) => {
      val docs = tBalanced(s, dir, "documents").select("doc_id", "text")
      new graft.plugins.transform.SqlPlugin(
        Map("query" ->
          ("SELECT doc_id, simhash64(split(trim(regexp_replace(" +
            "regexp_replace(lower(text), '[\\\\p{Punct}]', ' '), " +
            "'\\\\s+', ' ')), ' ')) AS sig " +
            "FROM input ORDER BY doc_id")),
        java.nio.file.Paths.get("/tmp"), "default")
        .execute(docs).fold(e => throw e, identity)
    }),

    // ---- SQL-function surface, round-6 kernels -------------------
    // char_entropy and zorder_code driven through the free-form sql
    // plugin, proving the SessionExtensions registration end-to-end
    // (not just the Column API); the oracle recomputes both the long
    // way (char explode / shift-mask terms).
    "q_sql_kernels2" -> ((s, dir) => {
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
    }),

    // ---- domain mixing: downsample to target source weights ------
    // src0 binds (rate 1.0), src1/src2 are hash-sampled to 0.6/0.4 —
    // the oracle recomputes counts, rates, and bands in SQL with the
    // same double arithmetic and the same md5 band filter
    "q_mix_sources" -> ((s, dir) =>
      Sampling.mixToWeights(t(s, dir, "documents"), "source", "doc_id",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // ---- domain mixing by budget mass (token/char share) ---------
    // Same band construction as q_mix_sources but rates derive from
    // per-source n_chars sums — the "X% of TOKENS from source S"
    // form pretraining mixes are specified in.
    "q_mix_tokens" -> ((s, dir) =>
      Sampling.mixToBudgetWeights(t(s, dir, "documents"), "source",
          "doc_id", "n_chars",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),

    // ---- temperature-flattened source mixing ---------------------
    // p^(1/T) rebalancing at T=2 over the char budget: weights are
    // sqrt(mass) — IEEE sqrt is correctly rounded in every engine,
    // so each band boundary the oracle recomputes is bit-identical
    // (see Sampling.mixByTemperature's determinism note).
    "q_mix_temperature" -> ((s, dir) =>
      Sampling.mixByTemperature(t(s, dir, "documents"), "source",
          "doc_id", temperature = 2.0, budgetCol = Some("n_chars"))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),

    // ---- skew-salted join (semantics-preserving plan change) -----
    // Salting must change the SHUFFLE, not the RESULT: output is
    // hash-compared against the plain SQL join.
    "q_skew_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      val parts = t(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_name"), col("p_brand"))
      graft.ops.Skew.saltedJoin(li, parts, Seq("l_partkey"),
          rowId = "l_orderkey", salts = 8)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- sequence packing (concat-and-chunk, per-shard) ----------
    // ---- sliding-window chunking (context-length windows) --------
    // size 16 / stride 8 = 50% overlap; whitespace tokens so the
    // window arithmetic is exactly reproducible in the oracle.
    "q_chunk_windows" -> ((s, dir) =>
      graft.ops.Chunking.slidingWindow(
          tBalanced(s, dir, "documents"), "doc_id", "text",
          size = 16, stride = 8)
        .orderBy("doc_id", "chunk_id")),

    "q_pack_sequences" -> ((s, dir) =>
      graft.ops.Packing.packChunks(
          tBalanced(s, dir, "documents")
            .select(col("doc_id"), col("lang"),
              Text.tokenCount(col("text")).cast("long").as("n_tokens")),
          "n_tokens", budget = 2048,
          shardCols = Seq("lang"), orderCol = "doc_id")
        .select("doc_id", "lang", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id")),

    // no-split greedy packing (SFT mode): the whole per-shard greedy
    // walk is replayed in the oracle as a recursive CTE, so every
    // (seq_id, seq_offset) assignment is hash-gated
    "q_pack_greedy" -> ((s, dir) =>
      graft.ops.Packing.packGreedy(
          tBalanced(s, dir, "documents")
            .select(col("doc_id"), col("lang"),
              Text.tokenCount(col("text")).cast("long").as("n_tokens")),
          "n_tokens", budget = 1024,
          shardCols = Seq("lang"), orderCol = "doc_id")
        .select("doc_id", "lang", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id")),

    // ---- TOKENIZER-TRUE packing: budget counted in BPE tokens ----
    // The documented SFT-prep path end-to-end: encode the corpus
    // under the trained merge table (here the fixed fixture vocab,
    // literal-for-literal with the oracle's VALUES), keep only the
    // per-doc token COUNT (Bpe.withTokenCount — nothing array-sized
    // survives the projection), then greedy no-split packing where
    // the budget is REAL tokenizer tokens, not whitespace words. The
    // oracle composes its two proven replays: the recursive BPE
    // merge walk (q_bpe_encode) feeding the recursive greedy scan
    // (q_pack_greedy).
    "q_pack_bpe" -> ((s, dir) =>
      graft.ops.Packing.packGreedy(
          graft.ops.Bpe.withTokenCount(
            tBalanced(s, dir, "documents")
              .select(col("doc_id"), col("lang"), col("text")),
            "text", bpeFixedMerges)
            .select("doc_id", "lang", "n_tokens_bpe"),
          "n_tokens_bpe", budget = 2048,
          shardCols = Seq("lang"), orderCol = "doc_id")
        .select("doc_id", "lang", "n_tokens_bpe", "seq_id", "seq_offset")
        .orderBy("doc_id")),

    // ---- composed corpus-cleaning pipeline (flagship) ------------
    // The end-to-end story every piece above exists for: language
    // filter → quality floor → exact-dup drop (min doc_id survives)
    // → deterministic 50% sample — one declarative plan, one oracle.
    "pipeline_clean_corpus" -> ((s, dir) => {
      val docs = tBalanced(s, dir, "documents")
      val scored = Text.withQualityMetrics(docs, "text")
        .withColumn("quality", Text.qualityFromMetrics)
      val en = scored.filter(col("lang") === "en" && col("quality") >= 0.5)
      val survivors = en.withColumn("fingerprint", Text.fingerprint(col("text")))
        .withColumn("_rk", row_number().over(
          Window.partitionBy(col("fingerprint")).orderBy(col("doc_id"))))
        .filter(col("_rk") === 1)
      Sampling.sampleByHash(survivors, "doc_id", rate = 0.5)
        .select(col("doc_id"), col("source"), r(col("quality"), 4).as("quality"))
        .orderBy("doc_id")
    }),

    // ---- text token counting -------------------------------------
    // Edge rows unioned in: blank text (token count must be 0, not
    // the 1 a naive split yields) and non-ASCII text — both under
    // the hash oracle.
    "text_tokens" -> ((s, dir) => {
      import s.implicits._
      val base = tBalanced(s, dir, "documents").select(col("doc_id"), col("text"))
      val edges = Seq((-2L, "héllo wörld — ünicode"),
        (-1L, "   ")).toDF("doc_id", "text")
      base.unionByName(edges)
        .select(col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("n_tokens"),
          Text.tokenCountBpe(col("text")).cast("long").as("n_tokens_bpe"))
        .orderBy("doc_id")
    }),

    // ---- text quality scoring (staged metrics, computed once) ----
    "text_quality" -> ((s, dir) =>
      Text.withQualityMetrics(tBalanced(s, dir, "documents"), "text")
        .select(col("doc_id"),
          col("_len").cast("long").as("n_chars_m"),
          r(col("_praw"), 4).as("punct_ratio"),
          r(col("_sraw"), 4).as("stopword_ratio"),
          r(col("_mraw"), 4).as("mean_word_len"),
          r(Text.qualityFromMetrics, 4).as("quality"))
        .orderBy("doc_id")),

    // ---- language identification (staged scores) -----------------
    "text_langid" -> ((s, dir) =>
      Text.withLangId(tBalanced(s, dir, "documents"), "text")
        .select(col("doc_id"), col("lang_guess"))
        .orderBy("doc_id")),

    // ---- document fingerprinting ---------------------------------
    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")),

    // ---- char-entropy quality signal (one-pass kernel) -----------
    // Edge rows pin the degenerate cases: empty → 0.0, single
    // repeated char → 0.0, uniform 4-char block → 2.0 exactly.
    // BMP-only parity: the kernel counts UTF-16 units, the oracle
    // code points — identical below U+10000, and the fixtures stay
    // there.
    "text_entropy" -> ((s, dir) => {
      import s.implicits._
      val edges = Seq((-3L, ""), (-2L, "aaaaaaaa"), (-1L, "abcdabcd"))
        .toDF("doc_id", "text")
      t(s, dir, "documents").select("doc_id", "text").unionByName(edges)
        .select(col("doc_id"),
          r(graft.expressions.CharEntropy.char_entropy(col("text")), 4)
            .as("char_entropy"))
        .orderBy("doc_id")
    }),

    // ---- blocklist gate (UT1-style bad-word filtering) -----------
    // Four common corpus tokens stand in for a real blocklist; the
    // stage shape (broadcast hash map, shuffle-free projection) is
    // what carries a 10k-term list at 100 TB.
    "text_blocklist" -> ((s, dir) =>
      Text.withBlocklistStats(tBalanced(s, dir, "documents"), "text",
          Seq("the", "and", "data", "of"))
        .select(col("doc_id"), col("n_tokens_blocked"),
          r(col("blocked_ratio"), 4).as("blocked_ratio"))
        .orderBy("doc_id")),

    // ---- winnow-based substring-overlap candidate pairs ----------
    // Partial-overlap dedup: docs sharing >= 3 winnow fingerprints
    // after dropping corpus-boilerplate fingerprints (> 20 docs) —
    // the spliced-passage detector whole-doc minhash under-weighs.
    "dedup_winnow_pairs" -> ((s, dir) =>
      graft.ops.Dedup.winnowCandidatePairs(
          tBalanced(s, dir, "documents"), "doc_id", "text",
          k = 5, w = 4, minShared = 3, maxFpFreq = 20)
        .orderBy("id_a", "id_b")),

    // ---- winnowing fingerprints (MOSS) ---------------------------
    // Schleimer et al. 2003: k=5 char-gram md5 hashes, w=4 window
    // minima with the rightmost-tie rule — any shared substring of
    // length >= w+k-1 = 8 yields a shared fingerprint. Integer
    // min/argmax selection, exact replay.
    "text_winnow" -> ((s, dir) =>
      graft.ops.Text.winnow(tBalanced(s, dir, "documents"),
          "doc_id", "text", k = 5, w = 4)
        .orderBy("doc_id", "pos", "fp")),

    // ---- feature-hashing embeddings (hashing trick) --------------
    // Signed md5 token hashing into 16 dims + L2 normalize — dense
    // vectors with NO model/vocab, the bridge from raw text to the
    // ANN/embedding-dedup family. Every value is bit-identical
    // cross-engine (integer ±1 sums, one exact sqrt, one division);
    // r4 is cosmetic. Exploded to cells for the hash compare.
    "text_hash_embed" -> ((s, dir) =>
      graft.ops.HashEmbed.embed(tBalanced(s, dir, "documents"),
          "doc_id", "text", d = 16)
        .select(col("doc_id"), posexplode(col("embedding")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          r(col("col"), 4).as("v"))
        .orderBy("doc_id", "pos")),

    // ---- model-based quality filter (multinomial Naive Bayes) ----
    // The fastText-classifier pattern of real pretraining pipelines
    // (CCNet/RedPajama): a heuristic weak label on a slice trains a
    // bag-of-words model that scores the rest of the corpus. Weak
    // label here = 'hi' iff positive marker tokens (fast/big) >=
    // negative ones (slow/small); train = doc_id % 5 != 0, test =
    // the held-out fifth. Output is the integer confusion matrix —
    // scores are r()-rounded BEFORE the argmax so both engines rank
    // bit-identical values (see NaiveBayes scaladoc).
    "text_classify_nb" -> ((s, dir) => {
      val (train, test, labeled) = nbSplit(s, dir)
      graft.ops.NaiveBayes
        .trainPredict(train, test, "doc_id", "text", "label")
        .join(labeled.select(col("doc_id"), col("label").as("actual")),
          Seq("doc_id"))
        .groupBy(col("actual"), col("pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("actual", "pred")
    }),

    // ---- NB feature diagnostics (smoothed odds ratio) ------------
    // Top-15 terms by the exact rational odds ratio hi-vs-lo; the
    // rank key is two IEEE divisions and a multiply of exactly-
    // representable integers — never ln (Tfidf's determinism trick).
    // The weak-label marker tokens must dominate by construction,
    // which makes this a live end-to-end check that training saw the
    // signal.
    "text_classify_feats" -> ((s, dir) => {
      val (train, _, _) = nbSplit(s, dir)
      graft.ops.NaiveBayes.featureOdds(
          train.select(col("label"), col("text")),
          "text", "label", "hi", "lo", k = 15)
        .orderBy("rank")
    }),

    // ---- vocab-id encoding (token_ids sequences) -----------------
    // Top-100 vocab built from the corpus itself (bounded driver
    // collect), broadcast, then a shuffle-free per-row encode; the
    // output is exploded to (doc_id, pos, tid) because the driver
    // compare cannot sort array cells. OOV → -1.
    "q_vocab_encode" -> ((s, dir) => {
      val docs = tBalanced(s, dir, "documents")
      val vocab = graft.ops.Vocab.topTokens(docs, "text", 100)
      graft.ops.Vocab.encode(docs, "text", vocab)
        .select(col("doc_id"), posexplode(col("token_ids")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("tid"))
        .orderBy("doc_id", "pos")
    }),

    // ---- BPE subword tokenization --------------------------------
    // The distributed encode kernel under a FIXED merge table shared
    // literal-for-literal with the oracle, which re-implements the
    // merge walk (lowest-rank pair, leftmost occurrence, repeat) as a
    // recursive CTE over boundary-safe '|'-separated symbol strings.
    // Training (graft.ops.Bpe.train) is sequential-by-nature and
    // driver-side on a bounded sample — pinned by BpeSpec, not
    // oracle-able as static SQL. Edge rows pin blank → 0 tokens and
    // NULL → NULL.
    "q_bpe_encode" -> ((s, dir) => {
      import s.implicits._
      val base = tBalanced(s, dir, "documents").select(col("doc_id"), col("text"))
      val edges = Seq((-2L, null: String), (-1L, "   ")).toDF("doc_id", "text")
      graft.ops.Bpe.encode(base.unionByName(edges), "text", bpeFixedMerges)
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_tokens"),
          array_join(col("tokens"), " ").as("token_str"))
        .orderBy("doc_id")
    }),

    // ---- corpus vocabulary: top-50 tokens ------------------------
    // Explode → partial-agg count → TakeOrdered: the shuffle moves
    // (token, partial count) pairs, never raw text; the top-k cut is
    // map-side bounded. The (count DESC, token ASC) tiebreak makes
    // the result set deterministic across engines.
    "text_vocab" -> ((s, dir) =>
      tBalanced(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(50)),

    // ---- similarity: brute-force cosine top-k --------------------
    "sim_topk_brute" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .withColumn("cosine", r(col("cosine"), 6))
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    }),

    // ---- similarity: LSH top-k recall gate (driver-checkable) ----
    // The approximate top-k rows themselves have no hash oracle; what
    // the oracle CAN verify is the recall floor: brute-force ground
    // truth is recomputed in Spark (itself hash-verified green via
    // sim_topk_brute), joined against the ANN output, and the single
    // result row asserts hits ≥ ⌈0.9 · k · n_queries⌉. A recall
    // regression flips recall_ok to false → hash mismatch → red row.
    "sim_recall_lsh" -> ((s, dir) =>
      recallGate(benchOnly("sim_topk_lsh")(s, dir), s, dir)),

    // ---- similarity: IVF top-k recall gate (driver-checkable) ----
    "sim_recall_ivf" -> ((s, dir) =>
      recallGate(benchOnly("sim_topk_ivf")(s, dir), s, dir)),

    // ---- persisted IVF index: build -> disk -> query -------------
    // The deployment shape: the index is WRITTEN (partitioned
    // postings + centroid table), then queried from disk with a
    // static list_id partition filter — unprobed lists' files are
    // never opened. Recall-gated against the same brute truth as the
    // in-memory ANN paths.
    "sim_recall_index" -> ((s, dir) => {
      val work = scratch("vindex")
      val e = t(s, dir, "embeddings").filter(col("embedding").isNotNull)
      graft.ops.VectorIndex.build(e, "vec_id", "embedding",
        work.resolve("idx").toString, nlist = 8)
      recallGate(graft.ops.VectorIndex.topK(s,
        work.resolve("idx").toString, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 7, rerank = 64), s, dir)
    }),
    "sim_recall_ivfpq" -> ((s, dir) =>
      recallGate(benchOnly("sim_topk_ivfpq")(s, dir), s, dir)),

    // ---- MMR diversified retrieval -------------------------------
    // Greedy maximal-marginal-relevance over a 10-candidate pool
    // (λ=0.7, k=4): each step's score is r()-rounded before the
    // argmax, so the oracle's recursive-CTE replay of the same walk
    // picks identical chains. The pool/pair frames are bounded by
    // queries × poolSize, never corpus-sized.
    "sim_mmr" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("embedding").isNotNull)
      graft.ops.Similarity.mmrTopK(e, e.filter(col("vec_id") < 3),
          "vec_id", "embedding", k = 4, poolSize = 10, lambda = 0.7)
        .select(col("query_id"), col("mmr_rank"), col("neighbor_id"),
          r(col("rel"), 4).as("rel"))
        .orderBy("query_id", "mmr_rank")
    }),

    // ---- int8 embedding quantization -----------------------------
    // Exploded to (vec_id, pos, q) — every quantized cell under the
    // hash oracle; the floats (q_min/q_scale) stay implicit via q.
    "sim_quantize_int8" -> ((s, dir) =>
      graft.ops.Similarity.quantizeInt8(
          t(s, dir, "embeddings").filter(col("embedding").isNotNull),
          "embedding")
        .select(col("vec_id"), posexplode(col("emb_q")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("col").as("q"))
        .orderBy("vec_id", "pos")),

    // ---- per-group embedding centroids ---------------------------
    // Element-wise mean vector per label; edge rows pin NULL-ignore
    // and ragged-prefix semantics. The centroid is exploded to
    // (label, pos, m) rows — the driver compare sorts column VALUES
    // and array cells aren't sortable — rounded to 6dp on both sides
    // (partial-agg summation order vs DuckDB sequential).
    "sim_centroids" -> ((s, dir) => {
      import s.implicits._
      val edges = Seq(
        (-2L, Option.empty[Array[Float]], -1),
        (-1L, Some(Array(1.0f, 2.0f)), -1))
        .toDF("vec_id", "embedding", "label")
      val src = t(s, dir, "embeddings").unionByName(edges)
      Similarity.groupCentroids(src, Seq("label"), "embedding")
        .select(col("label"), col("n_vectors"),
          posexplode(col("centroid")).as(Seq("pos", "m")))
        .select(col("label"), col("pos"), r(col("m"), 6).as("m"),
          col("n_vectors"))
        .orderBy("label", "pos")
    }),

    // ---- multimodal: binary payload + stub decode metadata -------
    // Edge rows unioned in: non-ASCII (bytes ≠ chars — the decode
    // stub sums UTF-8 BYTES and the oracle now does too), empty
    // payload, and a NULL payload (meta passes through NULL).
    "multimodal_meta" -> ((s, dir) => {
      import s.implicits._
      val edges = Seq((-3L, Option.empty[String]), (-2L, Some("")),
        (-1L, Some("héllo wörld — ünicode")))
        .toDF("doc_id", "text")
      val withPayload = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).unionByName(edges)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.withDecodedMeta(withPayload, "payload")
        .select(col("doc_id"),
          col("media_meta.n_bytes").as("n_bytes"),
          col("media_meta.format").as("format"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.checksum").as("checksum"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: REAL pixel resize (pure-JVM PNG + GIF codecs)
    // Payloads are genuine PNGs (Deflater-compressed IDAT, real CRCs)
    // and genuine GIF89a files (real LZW streams, 256-entry palette)
    // from closed-form pixel generators; the op decodes (Inflater +
    // filter reconstruction / LZW + palette), box-average-downsamples
    // by 2, re-encodes as PNG, and the query re-decodes the RESULT
    // for exact integer stats. The oracle replays generator → block
    // means → sums in pure SQL arithmetic — every byte of both codec
    // paths is pinned. Doc 100 (JPEG header: needs a codec library)
    // exercises the documented stub fallback; doc 101 is NULL.
    "multimodal_resize" -> ((s, dir) => {
      import s.implicits._
      val pngDocs = (1 to 18).map { id =>
        val w = 8 + id
        val h = 6 + (id * 3) % 11
        val ch = (id % 3) match { case 0 => 1; case 1 => 3; case _ => 4 }
        val px = Array.tabulate(w * h * ch) { i =>
          val c = i % ch; val x = (i / ch) % w; val y = i / (ch * w)
          ((x * 31 + y * 17 + id * 7 + c * 5) % 256).toByte
        }
        (id.toLong, Multimodal.encodePng(Multimodal.PngImage(w, h, ch, px)))
      } ++ (30 to 37).map { id =>
        // GIF docs: palette[i] = (i, 2i%256, 3i%256); index(x,y) =
        // (x*13 + y*7 + id) % 256 — both closed-form for the oracle
        val w = 9 + (id % 5)
        val h = 5 + (id % 7)
        val palette = Array.tabulate(256)(i =>
          Array(i, (i * 2) % 256, (i * 3) % 256))
        val idxs = Array.tabulate(w * h)(i =>
          (((i % w) * 13 + (i / w) * 7 + id) % 256).toByte)
        (id.toLong, Multimodal.encodeGif(w, h, palette, idxs))
      } :+ (100L -> Multimodal.jpegHeader(800, 600))
      val withNull = pngDocs.toDF("doc_id", "payload").unionByName(
        Seq((101L, Option.empty[Array[Byte]])).toDF("doc_id", "payload"))
      val resized = Multimodal.withResized(withNull.repartition(4),
        "payload", factor = 2)
      Multimodal.withPngStats(resized, "resized", out = "st")
        .select(col("doc_id"),
          col("st.width").as("out_w"), col("st.height").as("out_h"),
          col("st.channels").as("out_ch"),
          col("st.pixel_sum").as("pixel_sum"),
          col("st.n_values").as("n_values"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: REAL JPEG pixel decode (JDK codec) ----------
    // Payloads are genuine lossy JPEGs (smooth ramps — JPEG-friendly
    // content) written by the JDK encoder; the op decodes them
    // DISTRIBUTED (mapPartitions batches) via javax.imageio and
    // emits exact dims/channel/value counts plus a mean-accuracy
    // gate. The oracle states the expected dims from the GENERATOR
    // parameters (independent arithmetic, not a replay) and pins
    // mean_ok TRUE — the codec-quality claim; doc 100 (header-only
    // JPEG, no scan data) pins the undecodable → NULL contract.
    "multimodal_jpeg" -> ((s, dir) => {
      import s.implicits._
      val docs = (1 to 12).map { id =>
        val w = 16 + id; val h = 12 + (id % 5)
        val ch = if (id % 3 == 0) 1 else 3
        val px = new Array[Byte](w * h * ch)
        var i = 0
        while (i < px.length) {
          val p = i / ch; val x = p % w; val y = p / w
          px(i) = (i % ch) match {
            case 0 => (x * 255 / (w - 1)).toByte
            case 1 => ((64 + id * 3) % 200).toByte
            case _ => (y * 255 / (h - 1)).toByte
          }
          i += 1
        }
        val mean = px.map(_ & 0xff).map(_.toLong).sum.toDouble / px.length
        (id.toLong,
          Multimodal.encodeJpeg(Multimodal.PngImage(w, h, ch, px), 0.95f),
          mean)
      } :+ ((100L, Multimodal.jpegHeader(320, 200), 0.0))
      val df = docs.toDF("doc_id", "payload", "orig_mean")
      Multimodal.withPngStats(df.repartition(4), "payload", out = "st")
        .select(col("doc_id"),
          col("st.width").as("out_w"), col("st.height").as("out_h"),
          col("st.channels").as("out_ch"),
          col("st.n_values").as("n_values"),
          when(col("st.n_values").isNotNull,
            abs(col("st.pixel_sum") / col("st.n_values") -
              col("orig_mean")) < 3.0).as("mean_ok"))
        .orderBy("doc_id")
    }),

    // ---- composed multimodal pipeline (the flagship shape) -------
    // What a real multimodal training-data pipeline does end to end:
    // classify mixed payloads by ACTUAL decodability (image / audio /
    // video / other), apply per-modality quality gates (min dims,
    // min duration, min frames), remove perceptual near-duplicates
    // (dHash63 / envHash63 banded joins on the gated subsets), and
    // summarize survivors per modality. Every count is derived from
    // the generator design and stated independently by the oracle:
    // 12 images (2 near-dup variants, 2 below the dims gate),
    // 6 audio clips (1 gain-duplicate, 1 below the duration gate),
    // 3 videos (1 below the frame gate), 3 undecodable docs.
    "pipeline_multimodal" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.{Audio, Video}
      def img(base: Int, variant: Boolean, w: Int = 36, h: Int = 32)
          : Array[Byte] = {
        val px = Array.tabulate(w * h * 3) { i =>
          val c = i % 3; val p = i / 3; val x = p % w; val y = p / w
          val v = (x * (13 + 5 * base) + y * (7 + 3 * base) + c * 5) % 256
          (if (variant && c == 1 && x % 5 == 0) math.min(v + 25, 255)
           else v).toByte
        }
        Multimodal.encodePng(Multimodal.PngImage(w, h, 3, px))
      }
      def wav(seed: Int, gain: Int, frames: Int = 8192, sr: Int = 16000)
          : Array[Byte] = {
        val samples = Array.tabulate[Short](frames) { i =>
          val w = i / 128
          val amp = 200 + (w * w * (29 + 7 * seed) + seed * 533) % 3000
          val m = ((i.toLong * 7919 % 2048) * amp / 2048).toInt * gain
          (if (i % 2 == 0) m else -m).toShort
        }
        Audio.encodeWav(Audio.WavClip(sr, 1, samples))
      }
      def avi(nFrames: Int, g: Int): Array[Byte] =
        Video.encodeAvi((0 until nFrames).map { f =>
          Multimodal.encodeJpeg(Multimodal.PngImage(12, 10, 3,
            Array.tabulate(360)(i =>
              (if (i % 3 == 1) (g + f * 20) % 200
               else i / 3 % 12 * 23).toByte)), 0.9f)
        }, 12, 10, fps = 10)
      val docs: Seq[(Long, Option[Array[Byte]])] =
        (1 to 8).map(b => (b.toLong, Option(img(b, false)))) ++
        Seq((21L, Option(img(1, true))), (22L, Option(img(2, true))),
          (31L, Option(img(3, false, w = 12, h = 10))),
          (32L, Option(img(4, false, w = 8, h = 8)))) ++
        (1 to 4).map(d => (40L + d, Option(wav(d, 1)))) ++
        Seq((45L, Option(wav(1, 2))),
          (46L, Option(wav(2, 1, frames = 100, sr = 8000))),
          (51L, Option(avi(3, 40))), (52L, Option(avi(3, 120))),
          (53L, Option(avi(1, 80))),
          (61L, Option("ID3 not decodable media".getBytes("US-ASCII"))),
          (62L, Option.empty[Array[Byte]]),
          (63L, Option(avi(2, 50).take(40))))
      val base = docs.toDF("doc_id", "payload").repartition(4)
      val withImg = Multimodal.withPngStats(base, "payload", out = "st")
      val withAud = Audio.withAudioFeatures(withImg, "payload", out = "au")
      val vidMeta = Video.sampleVideoFrames(base, "doc_id", "payload")
        .groupBy("doc_id").agg(max("n_frames").as("vid_frames"))
      val classified = withAud
        .join(vidMeta, Seq("doc_id"), "left")
        .withColumn("modality",
          when(col("st").isNotNull, "image")
            .when(col("au").isNotNull, "audio")
            .when(col("vid_frames").isNotNull, "video")
            .otherwise("other"))
        .withColumn("pass",
          when(col("modality") === "image",
            col("st.width") >= 16 && col("st.height") >= 16)
          .when(col("modality") === "audio", col("au.duration_ms") >= 100)
          .when(col("modality") === "video", col("vid_frames") >= 2)
          .otherwise(lit(false)))
      val gated = classified.filter(col("pass"))
      // maxBucket pinned to MaxValue: counts oracled from the
      // generator design assume the exact pair set (see the
      // dedup_audio_pairs contract note).
      val imgDups = graft.ops.Dedup.imageHashPairs(
          gated.filter(col("modality") === "image"), "doc_id", "payload",
          maxHamming = 6, maxBucket = Int.MaxValue)
        .select(col("id_b").as("doc_id")).distinct()
      val audDups = graft.ops.Dedup.audioHashPairs(
          gated.filter(col("modality") === "audio"), "doc_id", "payload",
          maxHamming = 6, maxBucket = Int.MaxValue)
        .select(col("id_b").as("doc_id")).distinct()
      val dupIds = imgDups.unionByName(audDups)
      classified
        .join(dupIds.withColumn("_dup", lit(true)), Seq("doc_id"), "left")
        .groupBy("modality")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("pass"), 1)).as("n_pass"),
          count(when(col("pass") && col("_dup").isNull, 1)).as("n_kept"))
        .orderBy("modality")
    }),

    // ---- audio near-dup: envelope hash over real PCM -------------
    // The audio sibling of dedup_image_phash: amplitude-modulated
    // clips (closed-form integer magnitudes, alternating sign) decode
    // through the real WAV path, envHash63 fingerprints the loudness
    // dynamics, and the shared banded Hamming join finds re-encoded
    // copies. Docs 21-23 are gain-doubled copies of docs 1-3 — an
    // exact integer gain preserves every envelope comparison, so
    // they land at hamming 0; distinct modulation seeds land ≥ 23.
    // Doc 99 is undecodable and must not appear.
    "dedup_audio_pairs" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.Audio
      def clip(seed: Int, gain: Int): Array[Byte] = {
        val samples = Array.tabulate[Short](8192) { i =>
          val w = i / 128
          val amp = 200 + (w * w * (29 + 7 * seed) + seed * 533) % 3000
          val m = ((i.toLong * 7919 % 2048) * amp / 2048).toInt * gain
          (if (i % 2 == 0) m else -m).toShort
        }
        Audio.encodeWav(Audio.WavClip(16000, 1, samples))
      }
      val docs = (1 to 6).map(d => (d.toLong, Option(clip(d, 1)))) ++
        (1 to 3).map(d => (20L + d, Option(clip(d, 2)))) :+
        ((99L, Option("junk that is not a wav container at all"
          .getBytes("US-ASCII"))))
      // maxBucket pinned to MaxValue: this query is hash-oracled
      // against the exact UNCAPPED quadratic pair set, so the flood
      // cap (a scale-safety valve, default-on in the op/plugin and
      // spec-tested in RobustnessSpec) must not be in the contract
      // here; the uncapped fast path also keeps the fixture-scale
      // plan free of the cap's extra window exchange.
      graft.ops.Dedup.audioHashPairs(
          docs.toDF("doc_id", "payload").repartition(4),
          "doc_id", "payload", maxHamming = 6, maxBucket = Int.MaxValue)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // ---- image near-dup: perceptual dHash over real pixels -------
    // The image sibling of dedup_simhash_pairs: genuine PNGs decode
    // (pure-JVM codec), dHash63 fingerprints the luma structure, and
    // the banded Hamming self-join finds near-identical images.
    // Fixture: 10 distinct spatial-frequency gradients + 4 variants
    // of the first four with a NON-uniform brightness edit (uniform
    // shifts cancel in dHash by construction — that invariance is
    // the point of a perceptual hash) + one undecodable payload.
    // The oracle replays pixel generation → integer luma → 9×8 box
    // means → bit packing → quadratic pair scan entirely in SQL; the
    // op must find exactly the 4 variant pairs, banded (PlanSpec
    // pins no all-pairs join).
    "dedup_image_phash" -> ((s, dir) => {
      import s.implicits._
      def img(base: Int, variant: Boolean): Array[Byte] = {
        val w = 36; val h = 32
        val px = Array.tabulate(w * h * 3) { i =>
          val c = i % 3; val p = i / 3; val x = p % w; val y = p / w
          val v = (x * (13 + 5 * base) + y * (7 + 3 * base) + c * 5) % 256
          (if (variant && c == 1 && x % 5 == 0) math.min(v + 25, 255)
           else v).toByte
        }
        Multimodal.encodePng(Multimodal.PngImage(w, h, 3, px))
      }
      val docs = (1 to 10).map(b => (b.toLong, Option(img(b, false)))) ++
        (1 to 4).map(b => (20L + b, Option(img(b, true)))) :+
        ((99L, Option("not an image payload".getBytes("US-ASCII"))))
      // maxBucket pinned to MaxValue — same contract note as
      // dedup_audio_pairs: the oracle is the exact uncapped pair set.
      graft.ops.Dedup.imageHashPairs(
          docs.toDF("doc_id", "payload").repartition(4),
          "doc_id", "payload", maxHamming = 6, maxBucket = Int.MaxValue)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // ---- multimodal: REAL video frame sampling (AVI / MJPG) ------
    // Payloads are genuine Motion-JPEG AVIs (RIFF container with
    // hdrl/movi LISTs built by Video.encodeAvi; JPEG frames from the
    // JDK codec). The op walks the container and explodes per-frame
    // rows with decoded pixel stats — distributed, one pass per clip.
    // The oracle re-derives frame timing from the container fps and
    // the dims from the generator parameters, and pins decoded frame
    // means within ±3 (mean_ok). Doc 3 carries one undecodable frame
    // (inter-frame-codec stand-in) → NULL stats row; doc 100 is a
    // truncated AVI and doc 101 a NULL payload → zero rows.
    "multimodal_video" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.Video
      def ramp(w: Int, h: Int, g: Int): (Array[Byte], Double) = {
        val px = new Array[Byte](w * h * 3)
        var i = 0
        while (i < px.length) {
          val p = i / 3; val x = p % w; val y = p / w
          px(i) = (i % 3) match {
            case 0 => (x * 255 / (w - 1)).toByte
            case 1 => g.toByte
            case _ => (y * 255 / (h - 1)).toByte
          }
          i += 1
        }
        val mean = px.map(_ & 0xff).map(_.toLong).sum.toDouble / px.length
        (Multimodal.encodeJpeg(Multimodal.PngImage(w, h, 3, px), 0.95f),
          mean)
      }
      val d1 = (0 until 6).map(f => ramp(24, 16, 50 + 20 * f))
      val d2 = (0 until 4).map(f => ramp(20, 12, 30 + 25 * f))
      val junk = Array.fill[Byte](500)(0x33)
      val d3 = Seq(ramp(16, 10, 80), (junk, 0.0), ramp(16, 10, 120))
      val docs = Seq(
        (1L, Option(Video.encodeAvi(d1.map(_._1), 24, 16, fps = 10))),
        (2L, Option(Video.encodeAvi(d2.map(_._1), 20, 12, fps = 25))),
        (3L, Option(Video.encodeAvi(d3.map(_._1), 16, 10, fps = 15))),
        (100L, Option(Video.encodeAvi(d2.take(1).map(_._1), 20, 12, 25)
          .take(40))),
        (101L, Option.empty[Array[Byte]]))
      val means = (d1.zipWithIndex.map { case ((_, m), f) => (1L, f, m) } ++
        d2.zipWithIndex.map { case ((_, m), f) => (2L, f, m) } ++
        Seq((3L, 0, d3(0)._2), (3L, 2, d3(2)._2)))
        .toDF("doc_id", "frame_idx", "orig_mean")
      val frames = Video.sampleVideoFrames(
        docs.toDF("doc_id", "payload").repartition(4),
        "doc_id", "payload")
      frames.join(broadcast(means), Seq("doc_id", "frame_idx"), "left")
        .select(col("doc_id"), col("frame_idx"), col("n_frames"),
          col("frame_ms"), col("width"), col("height"), col("channels"),
          col("n_values"),
          when(col("n_values").isNotNull && col("orig_mean").isNotNull,
            abs(col("pixel_sum") / col("n_values") - col("orig_mean"))
              < 3.0).as("mean_ok"))
        .orderBy("doc_id", "frame_idx")
    }),

    // ---- multimodal: REAL audio decode + features (RIFF/WAVE PCM)
    // Payloads are genuine WAV files (canonical RIFF containers built
    // by Audio.encodeWav) carrying integer triangle waves; the op
    // walks the container, extracts PCM-16 samples and computes
    // RMS / zero-crossing rate / peak / duration DISTRIBUTED. The
    // oracle replays every sample with DuckDB integer arithmetic
    // (generate_series) and aggregates the identical features — the
    // full decode path is value-pinned, not just shapes. Doc 100 is
    // a truncated container, 101 an MP3-magic payload (compressed
    // audio genuinely needs a codec → NULL), 102 a NULL payload.
    "multimodal_audio" -> ((s, dir) => {
      import s.implicits._
      import graft.ops.Audio
      val monoDocs = (1 to 8).map { id =>
        val n = 1600 + 200 * id; val p = 23 + 6 * id; val a = 500 * id
        val sr = 8000 * (1 + id % 3)
        (id.toLong, Option(Audio.encodeWav(
          Audio.WavClip(sr, 1, Audio.triangleSamples(n, p, a)))))
      }
      val st0 = Audio.triangleSamples(1200, 41, 1500)
      val st1 = Audio.triangleSamples(1200, 29, 2500)
      val inter = Array.tabulate(2400)(i =>
        if (i % 2 == 0) st0(i / 2) else st1(i / 2))
      val edges = Seq(
        (9L, Option(Audio.encodeWav(Audio.WavClip(16000, 2, inter)))),
        (100L, Option(Audio.encodeWav(
          Audio.WavClip(8000, 1, Audio.triangleSamples(100, 29, 400)))
          .take(30))),
        (101L, Option("ID3junk-not-actually-audio-data"
          .getBytes("US-ASCII"))),
        (102L, Option.empty[Array[Byte]]))
      val df = (monoDocs ++ edges).toDF("doc_id", "payload")
      Audio.withAudioFeatures(df.repartition(4), "payload", out = "a")
        .select(col("doc_id"),
          col("a.sample_rate").as("sample_rate"),
          col("a.n_channels").as("n_channels"),
          col("a.n_frames").as("n_frames"),
          col("a.duration_ms").as("duration_ms"),
          r(col("a.rms"), 6).as("rms"),
          col("a.zero_crossings").as("zero_crossings"),
          col("a.peak").as("peak"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: REAL container-header parsing ---------------
    // Payloads carry genuine PNG IHDR / JPEG SOF0+SOF2 / GIF headers
    // (built by the pure-JVM writers in Multimodal); doc 6 is
    // unrecognized bytes exercising the documented stub fallback.
    // Oracle = the independently-computed expected metadata.
    "multimodal_headers" -> ((s, dir) => {
      import s.implicits._
      val payloads = Seq(
        1L -> Multimodal.pngHeader(640, 480),
        2L -> Multimodal.pngHeader(16384, 16384),
        3L -> Multimodal.jpegHeader(800, 600),
        4L -> Multimodal.jpegHeader(320, 240, progressive = true),
        5L -> Multimodal.gifHeader(12, 34),
        6L -> "xx".getBytes("US-ASCII"))
        .toDF("doc_id", "payload")
        .repartition(3) // decode stays distributed, not single-task
      Multimodal.withDecodedMeta(payloads, "payload")
        .select(col("doc_id"),
          col("media_meta.format").as("format"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.n_bytes").as("n_bytes"),
          col("media_meta.checksum").as("checksum"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: frame sampling plumbing (no oracle) ---------
    "multimodal_frames" -> ((s, dir) => {
      val withPayload = t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.sampleFrames(withPayload, "doc_id", "payload", frames = 4)
        .select("doc_id", "frame_idx", "offset", "n_bytes")
        .orderBy("doc_id", "frame_idx")
    }),

    // ---- multimodal: REAL frame extraction from PNG "videos" -----
    // Each payload is back-to-back concatenated PNGs (the opaque-
    // binary video shape); the op splits on the 8-byte signatures,
    // fully decodes every frame, and reports real dims + exact pixel
    // sums. Oracle = the same closed-form generator in SQL.
    "multimodal_frames_png" -> ((s, dir) => {
      import s.implicits._
      val vids = (1 to 8).map { id =>
        val frames = (0 until 3).map { f =>
          val w = 4 + (id + f) % 5
          val h = 3 + (id * 2 + f) % 4
          val ch = (f % 3) match { case 0 => 1; case 1 => 3; case _ => 4 }
          val px = Array.tabulate(w * h * ch) { i =>
            val c = i % ch; val x = (i / ch) % w; val y = i / (ch * w)
            ((x * 29 + y * 13 + id * 11 + f * 3 + c * 5) % 256).toByte
          }
          Multimodal.encodePng(Multimodal.PngImage(w, h, ch, px))
        }
        (id.toLong, frames.reduce(_ ++ _))
      }
      Multimodal.sampleFramesPng(vids.toDF("doc_id", "payload")
          .repartition(3), "doc_id", "payload")
        .select(col("doc_id"), col("frame_idx"), col("width"),
          col("height"), col("channels"), col("pixel_sum"))
        .orderBy("doc_id", "frame_idx")
    }),

    // ---- array functions over embedding vectors ------------------
    "q_array_funcs" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          element_at(col("embedding"), 1).cast("double").as("first_val"),
          size(filter(col("embedding"), x => x > 0)).cast("long").as("n_pos"),
          r(aggregate(slice(col("embedding").cast("array<double>"), 1, 8),
            lit(0.0), (acc, x) => acc + x), 4).as("head_sum"))
        .orderBy("vec_id")),

    // ---- higher-order array function suite -----------------------
    // zip_with / exists / forall / array_sort+slice / array_distinct
    // over the embedding vectors — all codegen'd lambda functions,
    // shuffle-free except the output ordering. The self zip_with dot
    // product doubles as the kernel-free cosine reference.
    "q_array_hof" -> ((s, dir) =>
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
        .orderBy("vec_id")),

    // ---- typed JSON extraction (from_json with schema) -----------
    // The production JSON path: parse once into a typed struct, then
    // project fields — vs q_json's per-field get_json_object probes.
    // Corrupt/missing fields become NULLs (exercised by the unioned
    // edge rows), matching the oracle's TRY json extraction.
    "q_from_json" -> ((s, dir) => {
      import s.implicits._
      val edges = Seq((-2L, Option.empty[String]), (-1L, Some("not json")))
        .toDF("event_id", "props")
      events(s, dir).select(col("event_id"), col("props"))
        .unionByName(edges)
        .withColumn("parsed", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")))
        .select(col("event_id"), col("parsed.k").as("k"))
        .orderBy("event_id")
    }),

    // ---- as-of join (time-series; compositional one-shuffle) -----
    "q_asof_join" -> ((s, dir) => {
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
    }),

    // ---- rollup (hierarchical subtotals) -------------------------
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), r(sum("l_quantity"), 2).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // ---- cube (all grouping-set combinations) --------------------
    "q_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), r(sum("o_totalprice"), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // ---- exact percentiles (window construction, O(1) task mem) --
    // NULL-polluted on purpose: two NULL values inside real groups
    // (must be IGNORED, like quantile_cont) and one all-NULL group
    // 'Z' (must still appear, with NULL percentiles) — the oracle
    // unions the same rows, so the NULL semantics are hash-checked.
    "q_percentile" -> ((s, dir) => {
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
    }),

    // ---- range (interval) join: bucketized equi-join -------------
    "q_range_join" -> ((s, dir) => {
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
    }),

    // ---- approximate sketches (HLL, approx percentile; no oracle) -
    // Approximate sketches bounds-gated against exact values computed
    // in the same pass: HLL++ at default rsd 0.05 must land within
    // ±15% (3σ) of the exact distinct count, and the KLL-style
    // approx_percentile(0.5, accuracy=1000) must land between the
    // exact 45th and 55th percentiles (rank error ≤ 1/1000 ≪ 0.05).
    // The oracle recomputes the exact columns and asserts both gates.
    "q_approx_sketch" -> ((s, dir) =>
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
        .orderBy("l_returnflag")),

    // ---- batch sessionization (gap-based, window functions) ------
    "events_sessionize" -> ((s, dir) =>
      // truncate to MICROS first: DuckDB TIMESTAMP is us-precision, so
      // the oracle can only see us — align the session arithmetic
      graft.ops.Sessionize.batch(
          events(s, dir).withColumn("ts_us", expr(graft.ops.TimeCols.floorDivSql("ts", 1000L))),
          "user_id", "ts_us", "event_id", "value",
          gapNanos = 1800L * 1000000L)
        .withColumn("sum_value", r(col("sum_value"), 2))
        .orderBy("user_id", "session_id")),

    // ---- events: ordered funnel (view -> click -> purchase) ------
    // Greedy earliest-match per user; pure integer min/compare on
    // epoch nanos, one keyed agg per step — no window over raw
    // events, no floats.
    "events_funnel" -> ((s, dir) =>
      graft.ops.Funnel.depth(events(s, dir), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"))
        .orderBy("user_id")),

    // ---- events: weekly cohort retention -------------------------
    // Cohort = the 7-day period of each user's first event; the
    // retention triangle counts distinct active users per (cohort,
    // offset). Integer epoch grids, three partial-agg shuffles.
    "events_cohort" -> ((s, dir) =>
      graft.ops.Cohorts.retention(events(s, dir), "user_id", "ts",
          periodSeconds = 604800L)
        .orderBy("cohort_period", "period_offset")),

    // ---- events: 6-hour grid resample + forward fill -------------
    // Gap-filling alignment: per user, a dense 21600 s grid over the
    // user's own [min, max] slots, each empty slot carrying the last
    // observation forward. Values ride untouched (no arithmetic) and
    // the slot representative is a total order (latest second, ties
    // by max value), so the hash matches exactly.
    "events_resample" -> ((s, dir) =>
      graft.ops.Resample.forwardFill(events(s, dir), "user_id", "ts",
          "value", stepSeconds = 21600L)
        .orderBy("user_id", "slot_start")),

    // ---- events: NATIVE session_window sessionization ------------
    // Spark's built-in merge-on-gap session operator (the idiomatic
    // alternative to the window-function islands in Sessionize.batch;
    // also the streaming-capable form). Event time is built via
    // timestamp_micros(floor(ts/1000)) — EXACT micros, matching the
    // DuckDB oracle's epoch_us islands; window end = last event +
    // gap, per the operator's contract.
    "events_session_window" -> ((s, dir) => {
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
    }),

    // ---- events: tumbling-window aggregation ---------------------
    // ts arrives as raw nanoseconds (nanosAsLong, see core.Session);
    // bucket to hour starts in epoch seconds.
    "events_window" -> ((s, dir) =>
      events(s, dir)
        .withColumn("hour_start",
          (floor(col("ts") / 3600000000000L) * 3600).cast("long"))
        .groupBy("hour_start", "event_type")
        .agg(count(lit(1)).as("n"), r(sum("value"), 2).as("sum_value"))
        .orderBy("hour_start", "event_type")),

    // ---- STREAMING windowed agg through the plugin pipeline ------
    // The real streaming path end-to-end under the hash oracle:
    // parquet_stream_scan (readStream) → watermark + tumbling-window
    // agg → stream_parquet_writer (AvailableNow, checkpointed
    // exactly-once file sink), then the sink's parquet is read back
    // as the result. Append mode emits exactly the windows the
    // watermark finalized — window_end ≤ max(event_time) − 2h after
    // the trailing no-data batch — which the DuckDB oracle replicates
    // with the same cutoff, so the row set hash-matches the batch
    // semantics it claims.
    "stream_events_window" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_ew")
      val inDir = sharedLanding(dir, "events")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val events = graft.streaming.Streams.tsToNanos(
        scan.execute().fold(e => throw e, identity))
        .withColumn("event_time", (col("ts") / 1000000000L).cast("timestamp"))
      val agg = graft.streaming.Streams.windowedAgg(events, "1 hour", "2 hours")
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(agg).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
        .select(
          col("window_start").cast("long").as("hour_start"),
          col("event_type"), col("n"),
          r(col("sum_value"), 2).as("sum_value"))
        .orderBy("hour_start", "event_type")
    }),

    // ---- streaming fingerprint dedup under the oracle ------------
    // Continuous-ingest dedup: parquet_stream_scan → watermarked
    // dropDuplicates on the md5 fingerprint → exactly-once parquet
    // sink. The surviving doc per fingerprint depends on micro-batch
    // arrival order, so the gated output is the FINGERPRINT SET —
    // deterministic and exactly what DuckDB recomputes with
    // SELECT DISTINCT over the same normalization.
    "stream_dedup_fingerprint" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_dd")
      val inDir = sharedLanding(dir, "documents")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val docs = scan.execute().fold(e => throw e, identity)
        // synthetic event time (documents carry none): doc_id seconds,
        // +1 so no row sits AT epoch 0 — the initial watermark is 0
        // and event_time <= watermark counts as late (drops doc 0)
        .withColumn("event_time", expr("timestamp_micros((doc_id + 1) * 1000000)"))
      val deduped = graft.streaming.Streams.dedupStream(
        docs, "text", "event_time", watermark = "1 hour")
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(deduped).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
        .select(Text.fingerprint(col("text")).as("fingerprint"))
        .orderBy("fingerprint")
    }),

    // ---- STREAMING grid resample (custom O(1) state) -------------
    // The continuous twin of events_resample: explicit per-key state
    // holds only the open slot's accumulators (flatMapGroupsWithState
    // — never an event buffer); closing a slot emits it plus the
    // forward-filled gap slots. Under the AvailableNow single-batch
    // replay the output equals the batch operator exactly, which is
    // what the shared oracle asserts.
    "stream_resample" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import s.implicits._
      val work = scratch("stream_rs")
      val inDir = sharedLanding(dir, "events")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val ev = graft.streaming.Streams.tsToNanos(
          scan.execute().fold(e => throw e, identity))
        .select(col("user_id").as("key"),
          expr(s"timestamp_micros(${graft.ops.TimeCols.floorDivSql("ts", 1000L)})").as("event_time"),
          col("value"))
        .as[graft.streaming.Streams.Obs]
      val filled = graft.streaming.Streams.resampleStream(ev, 21600L)
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(filled.toDF()).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
        .select(col("key").as("user_id"), col("slot_start"),
          col("value"), col("n_obs"))
        .orderBy("user_id", "slot_start")
    }),

    // ---- STREAMING snapshot commits (effectively-once) -----------
    // Continuous ingestion with time travel: each micro-batch commits
    // an immutable snapshot version keyed by its batch id (replays
    // are no-ops), so any past version stays pinned while new data
    // lands. The gated output is the latest version's row set.
    "stream_snapshot" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_snap")
      val inDir = sharedLanding(dir, "documents")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val docs = scan.execute().fold(e => throw e, identity)
        .select("doc_id", "lang", "source", "n_chars")
      val sink = new graft.plugins.streaming.StreamSnapshotWriterPlugin(
        Map("output_path" -> work.resolve("store").toString), work, "default")
      sink.execute(docs).fold(e => throw e, _ => ())
      graft.sources.Snapshots.read(s, work.resolve("store").toString)
        .orderBy("doc_id")
    }),

    // ---- STREAMING model-based quality scoring -------------------
    // The deployment face of text_classify_nb: a bounded 64-term
    // log-odds model trains BATCH-side on the labeled split, then
    // scores the document stream STATELESSLY — the model rides in the
    // plan as a map literal, so the streaming stage has no join, no
    // shuffle and no state store (the only shape that scores an
    // unbounded stream at wire speed). Oracle = the identical capped
    // model and scoring replayed in SQL; scores r()-rounded before
    // the sign decision.
    "stream_classify" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_cls")
      val (train, _, _) = nbSplit(s, dir)
      val (prior, weights) = graft.ops.NaiveBayes.logOddsModel(
        train, "text", "label", "hi", "lo", maxTerms = 64)
      val inDir = sharedLanding(dir, "documents")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val docs = scan.execute().fold(e => throw e, identity)
        .filter(length(graft.ops.Text.normalize(col("text"))) > 0)
      val scored = graft.ops.NaiveBayes.scoreWithModel(
        docs, "text", prior, weights, "hi", "lo")
        .select(col("doc_id"), col("pred"), col("score"))
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(scored).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString).orderBy("doc_id")
    }),

    // ---- stream-stream interval join under the oracle ------------
    // Purchase→click attribution: each purchase joins the same user's
    // clicks from the preceding 30 minutes. Event times truncate to
    // whole seconds via integer `div` (the ns fixtures would flip
    // boundary rows under a double division), and the watermark is
    // wider than the fixture's span, so the appended inner-join set
    // equals the batch interval join DuckDB recomputes exactly.
    "stream_interval_join" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_ij")
      val inDir = sharedLanding(dir, "events")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val ev = graft.streaming.Streams.tsToNanos(
        scan.execute().fold(e => throw e, identity))
        .withColumn("event_time", expr(graft.ops.TimeCols.floorDivSql("ts", 1000000000L)).cast("timestamp"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "event_time")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "event_time")
      val joined = graft.streaming.Streams.intervalJoin(
          purchases, clicks, "user_id", "event_time",
          lookback = "30 minutes", watermark = "3700 days")
        .select(col("event_id").as("purchase_id"),
          col("r_event_id").as("click_id"), col("user_id"),
          col("event_time").cast("long").as("purchase_t"),
          col("r_event_time").cast("long").as("click_t"))
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(joined).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
        .orderBy("purchase_id", "click_id")
    }),

    // ---- TRUE two-source stream-stream interval join --------------
    // Same attribution semantics as stream_interval_join, but
    // purchases and clicks arrive as two INDEPENDENT file streams
    // (separate landing dirs, separate readStream sources) — the
    // production topology where each side has its own ingestion
    // pipeline — joined by Spark's symmetric-hash stream-stream join
    // with watermark-bounded buffers on BOTH sides. The oracle is the
    // identical batch interval join; StreamingSpec separately pins
    // the state bound (buffered rows are evicted as the watermark
    // advances).
    "stream_stream_join" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_ssj")
      val ev = graft.streaming.Streams.tsToNanos(t(s, dir, "events"))
      val pDir = work.resolve("purchases")
      val cDir = work.resolve("clicks")
      ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
        .write.parquet(pDir.toString)
      ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
        .write.parquet(cDir.toString)
      def side(d: java.nio.file.Path): DataFrame = {
        val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
          Map("input_path" -> d.toString), work, "default")
        graft.streaming.Streams.tsToNanos(
          scan.execute().fold(e => throw e, identity))
          .withColumn("event_time",
            expr(graft.ops.TimeCols.floorDivSql("ts", 1000000000L)).cast("timestamp"))
          .select("event_id", "user_id", "event_time")
      }
      val joined = graft.streaming.Streams.intervalJoin(
          side(pDir), side(cDir), "user_id", "event_time",
          lookback = "30 minutes", watermark = "3700 days")
        .select(col("event_id").as("purchase_id"),
          col("r_event_id").as("click_id"), col("user_id"),
          col("event_time").cast("long").as("purchase_t"),
          col("r_event_time").cast("long").as("click_t"))
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(joined).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
        .orderBy("purchase_id", "click_id")
    }),

    // ---- cross-doc duplicated-span coverage (Lee et al. 2022) ----
    // The suffix-array "repeated substring" signal as a sharded
    // k-token rolling-window pipeline: narrow (id, pos, md5) rows →
    // corpus-wide count → coverage on the dup subset only. Ratios are
    // small-integer IEEE divisions — bit-identical cross-engine, no
    // rounding needed.
    "dedup_span_stats" -> ((s, dir) =>
      DupSpans.spanStats(t(s, dir, "documents"), "doc_id", "text", k = 8)
        .orderBy("doc_id")),

    // ---- surgical duplicated-span REMOVAL (ExactSubstr-remove) ---
    // Tokens under corpus-duplicated 8-token windows are deleted and
    // the normalized text rebuilt; the oracle replays windows →
    // counts → coverage → rebuild and hash-compares the full strings.
    "dedup_span_removal" -> ((s, dir) =>
      DupSpans.removeDuplicatedSpans(t(s, dir, "documents"),
          "doc_id", "text", k = 8)
        .select("doc_id", "clean_text", "n_tokens_removed")
        .orderBy("doc_id")),

    // ---- PageRank over the customer–supplier trade graph ---------
    // 5 fixed power-method iterations, d=0.85, on the symmetrized
    // distinct (cust ↔ supp) edge set; the oracle unrolls the same 5
    // iterations as chained CTEs. Ranks are emitted ×N (uniform = 1)
    // and rounded: 5 rounds of per-group double sums accumulate
    // last-bit drift between engines.
    "q_pagerank" -> ((s, dir) => {
      // Node ids are PACKED LONGS inside the iteration (custkey*2,
      // suppkey*2+1) and only stringified at output: every
      // per-iteration shuffle then hashes/compares 8-byte keys
      // instead of variable-length strings — measured ~25% off the
      // whole query at sf0.1. The oracle-facing output is unchanged.
      val e0 = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // symmetrize via explode, not union: the union spelling
      // evaluates the join+distinct subtree twice
      val e = e0.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("_e"))
        .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
      val ranks = Graph.pagerank(e, "src", "dst",
        iterations = 5, damping = 0.85)
      val n = ranks.agg(count(lit(1)).as("_n"))
      ranks.crossJoin(n)
        .select(
          when(col("node") % 2 === 0,
            concat(lit("c"), (col("node") / 2).cast("long")))
            .otherwise(concat(lit("s"), ((col("node") - 1) / 2).cast("long")))
            .as("node"),
          r(col("rank") * col("_n"), 6).as("rank_n"))
        .orderBy("node")
    }),

    // ---- SCD2 versioned dimension from a change stream -----------
    // Consecutive equal-status runs per customer collapse into
    // half-open validity intervals; the whole construction is three
    // window passes over ONE exchange on o_custkey.
    "q_scd2" -> ((s, dir) =>
      Scd.scd2(t(s, dir, "orders"),
          keyCols = Seq("o_custkey"), attrCols = Seq("o_orderstatus"),
          orderCols = Seq("o_orderdate", "o_orderkey"),
          validFromCol = "o_orderdate")
        .orderBy("o_custkey", "version")),

    // ---- per-doc top-k TF-IDF terms ------------------------------
    // Rank order is the exact-rational tf/df key (see Tfidf scaladoc
    // for why ln is display-only), so both engines select identical
    // winners; the smoothed-log score is rounded for the hash.
    "text_tfidf" -> ((s, dir) =>
      Tfidf.topTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .withColumn("tfidf", r(col("tfidf"), 4))
        .orderBy("doc_id", "rank")),

    // ---- BM25 ranked retrieval -----------------------------------
    // Five fixed queries (literal-for-literal with the oracle's
    // VALUES list) against the documents table; raw-score ranking
    // with doc_id tie-break (see Bm25 scaladoc for why that is
    // cross-engine stable), score rounded for the hash.
    "text_bm25" -> ((s, dir) =>
      Bm25.topK(t(s, dir, "documents"), "doc_id", "text",
          bm25Queries, k = 10)
        .withColumn("score", r(col("score"), 4))
        .orderBy("query_id", "rank")),

    // ---- corpus-wide bigram heavy hitters ------------------------
    // Integer counts -> the (count desc, gram asc) rank is exactly
    // deterministic cross-engine; top-k plans TakeOrderedAndProject.
    "text_top_ngrams" -> ((s, dir) =>
      graft.ops.Ngrams.topNgrams(t(s, dir, "documents"),
          "doc_id", "text", n = 2, k = 50)
        .orderBy("rank")),

    // ---- incremental NEAR-dup dedup (batch vs stored corpus) -----
    // Even doc_ids play the stored reference, odd the new batch;
    // kept = odd docs with no verified (char-5-shingle jaccard >=
    // 0.8) near-dup among the evens. The oracle is the quadratic
    // cross-side verifier — exact under the S-curve/cap
    // preconditions (same contract as dedup_ngram_verified).
    "dedup_incr_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.IncrementalDedup.nearDupCleaned(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", threshold = 0.8)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // ---- cross-table fuzzy match (batch vs master) ---------------
    // Odd-partkey distinct names matched against even-partkey
    // distinct names — the new-records-vs-master-list resolution.
    "q_fuzzy_match" -> ((s, dir) => {
      val part = t(s, dir, "part")
      def side(parity: Int) = part
        .filter(col("p_partkey") % 2 === parity)
        .select(col("p_name")).distinct()
        .withColumn("name_id", col("p_name"))
      graft.ops.FuzzyJoin.fuzzyMatch(side(1), side(0),
          "name_id", "p_name", "name_id", "p_name", maxDistance = 1)
        .orderBy("left_id", "right_id")
    }),

    // ---- custom point-in-interval join operator ------------------
    // The whole-operator extension path (LogicalPlan + Strategy +
    // SparkPlan via GraftExtensions): order totals probed against
    // overlapping supplier price bands; the oracle replays the plain
    // BETWEEN join. The plan shows the custom IntervalJoin node, not
    // a BroadcastNestedLoopJoin.
    "q_interval_join" -> ((s, dir) => {
      val points = t(s, dir, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice")).cast("long").as("v"))
      val bands = t(s, dir, "supplier").select(col("s_suppkey"),
        (col("s_suppkey") * 3000).cast("long").as("lo"),
        (col("s_suppkey") * 3000 + 4499).cast("long").as("hi"))
      graft.plans.IntervalJoin.pointInInterval(points, bands,
          "v", "lo", "hi")
        .select("o_orderkey", "s_suppkey", "v")
        .orderBy("o_orderkey", "s_suppkey")
    }),

    // ---- the SAME join through the auto-rewrite path -------------
    // Plain SQL BETWEEN (no API opt-in): IntervalJoinRewrite lifts it
    // onto the custom operator; the oracle replays the BETWEEN join,
    // so a rewrite-induced semantics drift would hash-mismatch here.
    // Runs through SqlPlugin's multi-stream face, so it also proves
    // the rewrite rule is active in the plugin's isolated child
    // session (extensions propagate through newSession()).
    "q_interval_join_sql" -> ((s, dir) => {
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
    }),

    // ---- blocked fuzzy pairs (entity resolution) -----------------
    // Distinct part names as entities (the name is its own id);
    // first/last-token blocking + length band, levenshtein verify.
    "q_fuzzy_pairs" -> ((s, dir) =>
      graft.ops.FuzzyJoin.selfFuzzyPairs(
          t(s, dir, "part").select(col("p_name")).distinct()
            .withColumn("name_id", col("p_name")),
          "name_id", "p_name", maxDistance = 2)
        .orderBy("id_a", "id_b")),

    // ---- embedding outlier screen (pure composition) -------------
    // Distance to the label centroid, then keep each label's nearest
    // 90% — the noise-pruning pass before ANN indexing / semantic
    // dedup trains on a space. Zero new operator code: groupCentroids
    // ⋈ broadcast + one kernel dot + filterByBand compose it, and the
    // whole construction is SQL-expressible for the oracle.
    "sim_outliers" -> ((s, dir) =>
      Similarity.centroidBandFilter(t(s, dir, "embeddings"),
          Seq("label"), "embedding", lo = 0.0, hi = 0.9,
          distCol = "dist")
        .select(col("vec_id"), col("label"), r(col("dist"), 4).as("dist"),
          col("pct_rank"))
        .orderBy("vec_id")),

    // ---- kNN graph: LSH scale-path recall gate -------------------
    // Brute self-kNN (hash-verified via sim_knn_graph) as ground
    // truth; the LSH graph must hit >= 90% of the true edges.
    "sim_recall_knn" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val truth = Similarity.knnGraph(e, "vec_id", "embedding",
          k = 3, method = "brute")
        .select("query_id", "neighbor_id")
      val approx = Similarity.knnGraph(e, "vec_id", "embedding",
          k = 3, method = "lsh")
        .select(col("query_id"), col("neighbor_id"), lit(1).as("_hit"))
      truth.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count_distinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_possible"),
          (sum(coalesce(col("_hit"), lit(0))) >=
            ceil(count(lit(1)) * 0.9)).as("recall_ok"))
    }),

    // ---- kNN graph: LSH recall on the CLUSTERED fixture ----------
    // Same gate on the mixture-of-Gaussians corpus the bench runs
    // the scale paths on — proving the benched configuration is
    // recall-honest on the data shape where bucketing prunes.
    "sim_recall_knn_clustered" -> ((s, dir) => {
      val e = clusteredEmb(s, dir)
      val truth = graft.ops.Similarity.knnGraph(e, "vec_id", "embedding",
          k = 5, method = "brute")
        .select("query_id", "neighbor_id")
      val approx = graft.ops.Similarity.knnGraph(e, "vec_id", "embedding",
          k = 5, method = "lsh", planes = 12, probeBits = 2)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("_hit"))
      truth.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count_distinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_possible"),
          (sum(coalesce(col("_hit"), lit(0))) >=
            ceil(count(lit(1)) * 0.9)).as("recall_ok"))
    }),

    // ---- kNN graph (exact, oracled) ------------------------------
    // Self top-k cosine neighbors — the brute method is the oracled
    // exact face; the lsh method (recall-gated elsewhere) is the
    // scale path with identical output shape.
    "sim_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 3, method = "brute")
        .withColumn("cosine", r(col("cosine"), 6))
        .orderBy("query_id", "rank")),

    // ---- semantic clusters = components of the thresholded kNN graph
    // Bounded-degree graph build (k edges per node, never all-pairs)
    // + min-label propagation; oracle replays it with a recursive
    // reachability CTE.
    "sim_knn_components" -> ((s, dir) =>
      Similarity.semanticClusters(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 3, minCosine = 0.35, method = "brute")
        .orderBy("vec_id")),

    // ---- per-language percentile-band length trim ----------------
    // percent_rank = (rank-1)/(n-1): an exact IEEE division of small
    // integers, identical in any engine — no rounding needed.
    "q_percentile_band" -> ((s, dir) =>
      graft.ops.Percentiles.filterByBand(t(s, dir, "documents"), Seq("lang"),
          "n_chars", lo = 0.05, hi = 0.95)
        .select("doc_id", "lang", "n_chars", "pct_rank")
        .orderBy("doc_id")),

    // ---- weighted sample (Efraimidis–Spirakis top-k) -------------
    // u from the md5 key-hash (never an RNG), srk = u^(1/n_chars);
    // global top-100 plans as TakeOrderedAndProject. srk is rounded:
    // cross-engine pow may differ in the last ulp.
    "q_sample_weighted" -> ((s, dir) =>
      Sampling.weightedSample(t(s, dir, "documents"),
          "doc_id", "n_chars", k = 100, scoreCol = Some("srk"))
        .select(col("doc_id"), col("lang"), col("source"),
          r(col("srk"), 6).as("srk"))
        .orderBy("doc_id")),

    // ---- seeded shuffle-shard (training-order prep) --------------
    // Deterministic global permutation as (shard, pos): seeded md5
    // hash → shard (mod 8) and in-shard rank. The oracle replays the
    // identical hash, so the WHOLE permutation hash-verifies — the
    // property a trainer needs (same seed = same data order on any
    // engine). One shard exchange + per-shard sort; no global sort.
    "q_shuffle_shard" -> ((s, dir) =>
      Sampling.shuffleShard(t(s, dir, "documents"), "doc_id",
          seed = 7L, nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")),

    // ---- DSIR importance resampling (Xie et al. 2023) ------------
    // Select the raw-pool docs (lang <> en) that look most like the
    // curated target (en docs) under add-1-smoothed hashed
    // unigram+bigram multinomials; sampling w/o replacement ∝ w(x)
    // via Gumbel top-k on a seeded md5 uniform — no RNG, so the
    // oracle replays hash, model, and Gumbel draw exactly. The
    // ranking key is ROUNDED (r4) before the top-k so last-ulp ln()
    // noise between engines cannot flip the selected set.
    "q_dsir_select" -> ((s, dir) => {
      val docs = tBalanced(s, dir, "documents")
      graft.ops.Dsir.select(
          docs.filter(col("lang") =!= "en"),
          docs.filter(col("lang") === "en"),
          "doc_id", "text", k = 64, buckets = 1024,
          alpha = 1.0, seed = "dsir")
        .select(col("doc_id"), col("lang"), col("source"),
          r(col("dsir_logw"), 4).as("dsir_logw"), col("dsir_key"))
        .orderBy("doc_id")
    }),

    // ---- DSIR against a WEIGHTED MIXTURE of targets ---------------
    // The practical "2·Wiki + 1·books" curation form: the target
    // model is the convex blend of K per-target add-α multinomials
    // (here en at weight 2, de at weight 1) and the raw pool is
    // everything else. The oracle replays the blended probability
    // with the engine's exact arithmetic spelling (weighted
    // fractions summed left-to-right, ONE ln of the blend), the
    // seeded md5 Gumbel draw, and the r4 ranking key.
    "q_dsir_mix" -> ((s, dir) => {
      val docs = tBalanced(s, dir, "documents")
      graft.ops.Dsir.selectMix(
          docs.filter(!col("lang").isin("en", "de")),
          Seq((docs.filter(col("lang") === "en"), 2.0),
            (docs.filter(col("lang") === "de"), 1.0)),
          "doc_id", "text", k = 48, buckets = 1024,
          alpha = 1.0, seed = "dsirmix")
        .select(col("doc_id"), col("lang"), col("source"),
          r(col("dsir_logw"), 4).as("dsir_logw"), col("dsir_key"))
        .orderBy("doc_id")
    }),

    // ---- streaming sessionization under the oracle ---------------
    // flatMapGroupsWithState gap sessions on the event stream. With
    // AvailableNow the trailing session per user is still OPEN in
    // state when input drains (its timeout never fires), so the
    // emitted rows are exactly "every session except each user's
    // last" — which the DuckDB oracle replicates by dropping the
    // max-session_id row per user from the batch sessionization.
    // Timestamps truncate to whole seconds on both sides (integer
    // division, no float path).
    "stream_sessionize" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      import s.implicits._
      val work = scratch("stream_sess")
      val inDir = sharedLanding(dir, "events")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val events = graft.streaming.Streams.tsToNanos(
        scan.execute().fold(e => throw e, identity))
        .withColumn("event_time", expr(s"timestamp_micros(${graft.ops.TimeCols.floorDivSql("ts", 1000L)})"))
        .select(col("user_id"), col("event_time"), col("event_type"), col("value"))
        .as[graft.streaming.Streams.Event]
      val sessions = graft.streaming.Streams.sessionize(events,
        gapSeconds = 1800,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(sessions.toDF()).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events").cast("long").as("n_events"),
          r(col("sum_value"), 2).as("sum_value"))
        .orderBy("user_id", "session_start")
    }),

    // ---- stream-stream LEFT OUTER interval join ------------------
    // Same attribution shape as stream_interval_join, but purchases
    // with no preceding click emit null-extended once the final
    // watermark proves no future click can match. Each side
    // watermarks its own FILTERED stream, so the global watermark is
    // min(max purchase_t, max click_t) - delay, and a left row
    // null-emits exactly when purchase_t < that watermark (no
    // lookback term: a future click at the watermark can only match
    // purchases at or after it) — the cutoff the oracle replicates,
    // row-set-verified at sf0.001/0.01/0.1. The 1-hour delay (vs the
    // inner join's fixture-spanning one) is what makes outer rows
    // emit at all.
    "stream_left_join" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_loj")
      val inDir = sharedLanding(dir, "events")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val ev = graft.streaming.Streams.tsToNanos(
        scan.execute().fold(e => throw e, identity))
        .withColumn("event_time", expr(graft.ops.TimeCols.floorDivSql("ts", 1000000000L)).cast("timestamp"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "event_time")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "event_time")
      val joined = graft.streaming.Streams.intervalJoinLeftOuter(
          purchases, clicks, "user_id", "event_time",
          lookback = "30 minutes", watermark = "1 hour")
        .select(col("event_id").as("purchase_id"),
          col("r_event_id").as("click_id"), col("user_id"),
          col("event_time").cast("long").as("purchase_t"),
          col("r_event_time").cast("long").as("click_t"))
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(joined).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
        .orderBy("purchase_id", "click_id")
    }),

    // ---- streaming CDC compaction (foreachBatch upsert) ----------
    // Latest event per user maintained as a parquet state table via
    // foreachBatch merge; the merge (latest-per-key of a union) is
    // associative + idempotent, so the final state equals the batch
    // answer REGARDLESS of micro-batch boundaries — which is exactly
    // what the DuckDB oracle computes.
    "stream_upsert" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_up")
      val inDir = sharedLanding(dir, "events")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val ev = graft.streaming.Streams.tsToNanos(
        scan.execute().fold(e => throw e, identity))
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr(graft.ops.TimeCols.floorDivSql("ts", 1000000000L)).as("t"), col("value"))
      val statePath = work.resolve("state").toString
      graft.streaming.Streams.upsertLatest(ev,
        keyCols = Seq("user_id"), orderCols = Seq("t", "event_id"),
        statePath = statePath,
        checkpoint = work.resolve("ckpt").toString)
      s.read.parquet(statePath)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("t"), r(col("value"), 2).as("value"))
        .orderBy("user_id")
    }),

    // ---- SCD1 latest snapshot (CDC compaction) -------------------
    // The most recent order per customer; row_number()=1 plans as
    // WindowGroupLimit, so the exchange carries ~one row per key.
    "q_scd1_latest" -> ((s, dir) =>
      Scd.latest(t(s, dir, "orders"),
          keyCols = Seq("o_custkey"),
          orderCols = Seq("o_orderdate", "o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate"))
        .orderBy("o_custkey")),

    // ---- connected components over a derived org graph -----------
    // Two-level star: every customer links to its nation's min
    // custkey, every nation hub to its region's min — so components
    // are regions. Exercises clusterPairs (default large-star/
    // small-star contraction, stopping at the first star forest)
    // under the oracle, which computes the fixpoint directly as the
    // per-region min.
    "q_components" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val nation = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      val nhub = cust.groupBy("c_nationkey")
        .agg(min("c_custkey").as("hub"))
      val e1 = cust.join(nhub, Seq("c_nationkey"))
        .select(col("c_custkey").as("id_a"), col("hub").as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      val nh = nhub.join(nation, col("c_nationkey") === col("n_nationkey"))
      val rhub = nh.groupBy("n_regionkey").agg(min("hub").as("rhub"))
      val e2 = nh.join(rhub, Seq("n_regionkey"))
        .select(col("hub").as("id_a"), col("rhub").as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      Dedup.clusterPairs(cust.select(col("c_custkey")), "c_custkey",
          e1.union(e2))
        .orderBy("c_custkey")
    }),

    // ---- snapshot versioning (manifest-pinned time travel) -------
    // Two commits (even orderkeys, then odd); reading v1 AFTER the
    // second commit must return exactly the first commit's rows —
    // the reproducible-training-set guarantee — while the latest
    // version sees both. Committed as data-files-first/manifest-last.
    "q_snapshot" -> ((s, dir) => {
      val work = scratch("snap")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val snapDir = work.resolve("snaps").toString
      graft.sources.Snapshots.write(
        li.filter(col("l_orderkey") % 2 === 0), snapDir)
      graft.sources.Snapshots.write(
        li.filter(col("l_orderkey") % 2 =!= 0), snapDir)
      def report(v: Int, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            r(sum(col("l_quantity")), 2).as("sum_qty"))
          .select(lit(v.toLong).as("version"), col("n_rows"),
            col("sum_qty"))
      report(1, graft.sources.Snapshots.read(s, snapDir, 1))
        .unionByName(report(2, graft.sources.Snapshots.read(s, snapDir)))
        .orderBy("version")
    }),

    // ---- CDC upsert compaction on a snapshot store ---------------
    // lineitem rows as upsert EVENTS for key l_orderkey % 100,
    // recency (l_orderkey, l_linenumber) — appended as two version
    // batches, then compacted to latest-event-per-key. The oracle
    // replays the same window over the raw table; version 2 (the
    // pre-compaction full history) stays readable, which the row
    // count of the compacted latest being << it implicitly exercises.
    "q_snapshot_upsert_compact" -> ((s, dir) => {
      val work = scratch("snapuc")
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .withColumn("k", col("l_orderkey") % 100)
      val snapDir = work.resolve("snaps").toString
      graft.sources.Snapshots.write(
        li.filter(col("l_orderkey") % 2 === 0), snapDir)
      graft.sources.Snapshots.write(
        li.filter(col("l_orderkey") % 2 =!= 0), snapDir)
      // l_quantity in the order: the fixture's lineitem carries
      // duplicate (orderkey, linenumber) rows, and compactUpserts'
      // contract requires a TOTAL per-key order (full-row dups that
      // remain tie harmlessly — identical survivors)
      graft.sources.Snapshots.compactUpserts(s, snapDir,
        keyCols = Seq("k"),
        orderCols = Seq("l_orderkey", "l_linenumber", "l_quantity"))
      graft.sources.Snapshots.read(s, snapDir)
        .select(col("k"), col("l_orderkey"), col("l_linenumber"),
          r(col("l_quantity"), 2).as("qty"))
        .orderBy("k")
    }),

    // ---- snapshot change feed (manifest diff) --------------------
    // Incremental consumption: the diff of v2 over v1 reads ONLY the
    // files v2's manifest added — exactly the odd-orderkey commit —
    // with no data comparison anywhere.
    "q_snapshot_diff" -> ((s, dir) => {
      val work = scratch("snapdiff")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val snapDir = work.resolve("snaps").toString
      graft.sources.Snapshots.write(
        li.filter(col("l_orderkey") % 2 === 0), snapDir)
      graft.sources.Snapshots.write(
        li.filter(col("l_orderkey") % 2 =!= 0), snapDir)
      graft.sources.Snapshots.changesSince(s, snapDir, fromVersion = 1)
        .groupBy((col("l_orderkey") % 100).as("okey_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          r(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy("okey_bucket")
    }),

    // ---- data-contract expectations gate -------------------------
    // Deequ-style pre-promotion validation: four row rules compile
    // into ONE conditional-count aggregation over a single scan, the
    // uniqueness rule into one groupBy — per-rule violation counts,
    // not a boolean, so failures are triaged from the report. The
    // fixture genuinely violates two rules (high discounts, repeated
    // (orderkey, linenumber) keys), so pass=false paths are live.
    "q_expectations" -> ((s, dir) =>
      graft.ops.Expectations.check(t(s, dir, "lineitem"),
        rowRules = Seq(
          "discount_low" -> "l_discount <= 0.08",
          "flag_domain" -> "l_returnflag IN ('A', 'N', 'R')",
          "price_positive" -> "l_extendedprice > 0",
          "qty_range" -> "l_quantity BETWEEN 1 AND 50"),
        uniqueRules = Seq(
          "pk_unique" -> Seq("l_orderkey", "l_linenumber")))),

    // ---- exact triangle counting (co-purchase graph) -------------
    // Parts are connected when they ship in the same order; per-node
    // triangle counts are the clustering-coefficient numerator. The
    // Spark side orients edges by (degree, id) — the O(m^1.5) bound
    // that survives hub skew — while the oracle replays the simple
    // id-ordered enumeration: the wedge sets differ, the triangle
    // SET is identical (each counted once), so the hash matches.
    "q_triangles" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val a = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("pb"))
      val edges = a.join(b, Seq("l_orderkey"))
        .filter(col("pa") < col("pb"))
        .select(col("pa"), col("pb")).distinct()
      graft.ops.Graph.triangles(edges, "pa", "pb").orderBy("node")
    }),

    // ---- C4 line-level cleaning rules (Raffel et al. 2020) -------
    // Terminal-punctuation + min-words-per-line retention, javascript
    // line drop, lorem-ipsum/brace/min-sentences page gates. The
    // corpus text is punctuation-free word salad (every line drops),
    // so crafted VALUES docs pin each rule's positive path.
    "text_c4" -> ((s, dir) => {
      import s.implicits._
      val edges = Seq(
        (-15L, "The first sentence has exactly seven words.\n" +
          "The second sentence also has seven words.\n" +
          "The third sentence completes the three required."),
        (-14L, null.asInstanceOf[String]),
        (-13L, "Enable javascript to view this site properly.\n" +
          "A perfectly good retained sentence sits here.\n" +
          "Another good retained sentence follows it here.\n" +
          "A third good sentence closes out the page."),
        (-12L, "function f() { return 1; }\n" +
          "Some good sentence with many words here."),
        (-11L, "Lorem ipsum dolor sit amet, consectetur adipiscing sed.\n" +
          "A good line that would otherwise be retained here."),
        (-10L, "This line has six words total.\nshort line.\n" +
          "Another good line with plenty of words!\n" +
          "no punctuation line here at all")
      ).toDF("doc_id", "text")
      Text.withC4Flags(
          t(s, dir, "documents").select(col("doc_id"), col("text"))
            .unionByName(edges), "text")
        .select(col("doc_id"), col("n_lines"), col("n_lines_kept"),
          col("n_sentences"), col("c4_pass"), col("clean_text"))
        .orderBy("doc_id")
    }),

    // ---- corpus bigram LM quality score (CCNet-style) ------------
    // Add-one smoothed bigram logprob per doc, model trained on the
    // corpus itself; both model tables are vocabulary-sized and the
    // score is rounded (cross-engine ln differs in the last ulp).
    "text_lm_score" -> ((s, dir) =>
      LmScore.scoreDocs(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("avg_logprob", r(col("avg_logprob"), 6))
        .orderBy("doc_id")),

    // ---- ORC roundtrip through the plugin pair -------------------
    "q_orc_roundtrip" -> ((s, dir) => {
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
    }),

    // ---- embedding moments: d×d Gram in one typed-agg pass -------
    // The cross-engine face of the PCA moments aggregation: every
    // Σ v_i·v_j cell must match DuckDB's unnest-join computation.
    "q_emb_gram" -> ((s, dir) =>
      graft.ops.Embeddings.gramDF(t(s, dir, "embeddings"), "embedding")
        .select(col("i"), col("j"), r(col("g"), 4).as("g"))
        .orderBy("i", "j")),

    // ---- PCA rotation invariant under the oracle -----------------
    // A full-rank PCA basis is orthonormal, so each row's projected
    // L2 norm must equal its CENTERED norm — which DuckDB computes
    // directly from the raw embeddings with no eigensolver. This
    // hash-checks the whole pipeline (moments -> Jacobi -> broadcast
    // projection) through an engine-independent invariant.
    "sim_pca_norm" -> ((s, dir) =>
      graft.ops.Embeddings.pcaProject(
          t(s, dir, "embeddings"), "embedding", k = 64)
        .select(col("vec_id"),
          r(sqrt(aggregate(col("pca"), lit(0.0), (acc, x) => acc + x * x)),
            4).as("l2"))
        .orderBy("vec_id"))
  )

  // ------------------------------------------------------------------
  //  DuckDB oracles (same column names/aliases, same ORDER BY)
  // ------------------------------------------------------------------

  def oracleSql: Map[String, String] =
    rawOracleSql.map { case (k, v) => k -> expandR(v) }

  private def rawOracleSql: Map[String, String] = Map(
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_filter" ->
      """SELECT l_orderkey, l_partkey, l_quantity, l_discount
        |FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05
        |ORDER BY l_orderkey, l_partkey""".stripMargin,

    "q_with_column" ->
      """SELECT l_orderkey, l_linenumber,
        |  r(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charge
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_multiplier" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice * 2 AS amount
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_drop" ->
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey",

    "q_cast" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(trunc(l_quantity) AS INTEGER) AS qty_int,
        |  CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_rename" ->
      """SELECT r_regionkey AS region_id, r_name AS region_name
        |FROM region ORDER BY region_id""".stripMargin,

    "q_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  r(sum(l_quantity), 2) AS sum_qty,
        |  r(sum(l_extendedprice), 2) AS sum_base_price,
        |  r(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  r(avg(l_quantity), 4) AS avg_qty,
        |  r(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join" ->
      """SELECT n_name, r(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_join_broadcast" ->
      """SELECT p_brand,
        |  r(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // Bucketed layout must not change results: the oracle joins the
    // plain parquet tables.
    "q_bucket_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  r(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
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
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  r(sum(l_quantity), 2) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin,

    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  r(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_tpch_q14" ->
      """SELECT r(100.0 *
        |    sum(CASE WHEN p_type = 'PROMO'
        |        THEN l_extendedprice * (1.0 - l_discount) ELSE 0 END) /
        |    sum(l_extendedprice * (1.0 - l_discount)), 4) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-03-01'""".stripMargin,

    "q_tpch_q19" ->
      """SELECT r(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 16 AND 30
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 31 AND 50
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin,

    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
        |  AND TIMESTAMP '1996-12-31'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_tpch_q2" ->
      """SELECT r(s_acctbal, 2) AS s_acctbal, s_name, n_name,
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
        |LIMIT 100""".stripMargin,

    "q_tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
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
        |ORDER BY numwait DESC, s_name""".stripMargin,

    "q_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  r(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_tpch_q6" ->
      """SELECT r(sum(l_extendedprice * l_discount), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q_tpch_q8" ->
      """SELECT o_year,
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
        |GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q_tpch_q9" ->
      """SELECT nation, o_year, r(sum(amount), 2) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation,
        |    CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |    l_extendedprice * (1.0 - l_discount)
        |      - 0.1 * p_retailprice * l_quantity AS amount
        |  FROM part, supplier, lineitem, orders, nation
        |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        |    AND p_name LIKE '%red%')
        |GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin,

    "q_tpch_q11" ->
      """SELECT l_partkey AS ps_partkey,
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
        |ORDER BY value DESC, ps_partkey""".stripMargin,

    "q_tpch_q12" ->
      """SELECT l_returnflag AS shipmode,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 END) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY shipmode ORDER BY shipmode""".stripMargin,

    "q_tpch_q15" ->
      """WITH revenue AS (
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
        |ORDER BY s_suppkey""".stripMargin,

    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q_tpch_q17" ->
      """SELECT r(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
        |  count(*) AS n_small
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND p_brand = 'Brand#2'
        |  AND l_quantity < (
        |    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "q_tpch_q20" ->
      """SELECT s_suppkey, s_name
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
        |ORDER BY s_suppkey""".stripMargin,

    "q_tpch_q22" ->
      """SELECT cntrycode, count(*) AS numcust,
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
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin,

    "q_sort" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    // The flagship multimodal summary, stated independently from the
    // generator design: image = 8 distinct + 2 variants + 2 below
    // the 16×16 dims gate → 12 docs, 10 pass, 8 kept (the 2 variants
    // pair with their bases and the higher id drops). audio = 4
    // distinct + 1 gain-double + 1 short → 6 docs, 5 pass (the 12 ms
    // clip fails the 100 ms gate), 4 kept. video = 2×3-frame +
    // 1×1-frame → 3 docs, 2 pass, 2 kept. other = junk + NULL +
    // truncated AVI → 3 docs.
    "pipeline_multimodal" ->
      """SELECT modality, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_pass AS BIGINT) AS n_pass,
        |  CAST(n_kept AS BIGINT) AS n_kept
        |FROM (VALUES
        |  ('audio', 6, 5, 4),
        |  ('image', 12, 10, 8),
        |  ('other', 3, 0, 0),
        |  ('video', 3, 2, 2)
        |) v(modality, n_docs, n_pass, n_kept)
        |ORDER BY modality""".stripMargin,

    // Full-path audio-envelope replay: DuckDB regenerates every
    // sample magnitude, window-sums the 64 equal windows (8192
    // frames / 64 = 128, so w = i // 128 equals the op's integer
    // bounds), packs the 63 comparisons and scans pairs
    // quadratically. The op must reach the same 3 gain-pairs via
    // the banded join; doc 99 never decodes.
    "dedup_audio_pairs" ->
      """WITH docs(doc_id, seed, gain) AS (VALUES
        |  (1, 1, 1), (2, 2, 1), (3, 3, 1), (4, 4, 1), (5, 5, 1),
        |  (6, 6, 1), (21, 1, 2), (22, 2, 2), (23, 3, 2)),
        |mono AS (
        |  SELECT doc_id, i,
        |    ((((i * 7919) % 2048) *
        |      (200 + (((i // 128) * (i // 128)) * (29 + 7 * seed)
        |        + seed * 533) % 3000)) // 2048) * gain AS m
        |  FROM docs, unnest(generate_series(0, 8191)) t(i)),
        |env AS (
        |  SELECT doc_id, i // 128 AS w, (sum(m) * 4096) // 128 AS e
        |  FROM mono GROUP BY doc_id, w),
        |bits AS (
        |  SELECT l.doc_id, CAST(l.w AS BIGINT) AS idx
        |  FROM env l JOIN env r
        |    ON r.doc_id = l.doc_id AND r.w = l.w + 1
        |  WHERE l.w < 63 AND r.e > l.e),
        |hash AS (
        |  SELECT d.doc_id,
        |    COALESCE(sum(1::BIGINT << b.idx), 0)::BIGINT AS h
        |  FROM docs d LEFT JOIN bits b USING (doc_id)
        |  GROUP BY d.doc_id)
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a,
        |  CAST(b.doc_id AS BIGINT) AS id_b,
        |  CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
        |FROM hash a JOIN hash b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 6
        |ORDER BY id_a, id_b""".stripMargin,

    // Full-path perceptual-hash replay: DuckDB regenerates every
    // pixel, converts to integer luma (299/587/114 per mille), box-
    // averages the 9×8 grid (4×4 cells at the 36×32 fixture dims, so
    // the bucket formula equals the op's integer box bounds), packs
    // the 63 horizontal comparisons, and scans pairs QUADRATICALLY —
    // the oracle affords O(n²) at 15 docs; the op must reach the
    // same pairs through the banded join. Doc 99 never decodes and
    // must not appear.
    "dedup_image_phash" ->
      """WITH docs(doc_id, base, variant) AS (VALUES
        |  (1, 1, FALSE), (2, 2, FALSE), (3, 3, FALSE), (4, 4, FALSE),
        |  (5, 5, FALSE), (6, 6, FALSE), (7, 7, FALSE), (8, 8, FALSE),
        |  (9, 9, FALSE), (10, 10, FALSE),
        |  (21, 1, TRUE), (22, 2, TRUE), (23, 3, TRUE), (24, 4, TRUE)),
        |px AS (
        |  SELECT doc_id, x, y, c,
        |    CASE WHEN variant AND c = 1 AND x % 5 = 0
        |      THEN least((x * (13 + 5 * base) + y * (7 + 3 * base)
        |        + c * 5) % 256 + 25, 255)
        |      ELSE (x * (13 + 5 * base) + y * (7 + 3 * base)
        |        + c * 5) % 256 END AS v
        |  FROM docs,
        |    unnest(generate_series(0, 35)) tx(x),
        |    unnest(generate_series(0, 31)) ty(y),
        |    unnest(generate_series(0, 2)) tc(c)),
        |gray AS (
        |  SELECT doc_id, x, y,
        |    sum(CASE c WHEN 0 THEN 299 * v WHEN 1 THEN 587 * v
        |      ELSE 114 * v END) // 1000 AS g
        |  FROM px GROUP BY doc_id, x, y),
        |cells AS (
        |  SELECT doc_id, (x * 9) // 36 AS bx, (y * 8) // 32 AS by,
        |    sum(g) // count(*) AS m
        |  FROM gray GROUP BY doc_id, bx, by),
        |bits AS (
        |  SELECT l.doc_id, CAST(l.by * 8 + l.bx AS BIGINT) AS idx
        |  FROM cells l JOIN cells r
        |    ON r.doc_id = l.doc_id AND r.by = l.by AND r.bx = l.bx + 1
        |  WHERE l.bx < 8 AND l.by * 8 + l.bx < 63 AND r.m > l.m),
        |hash AS (
        |  SELECT d.doc_id,
        |    COALESCE(sum(1::BIGINT << b.idx), 0)::BIGINT AS h
        |  FROM docs d LEFT JOIN bits b ON b.doc_id = d.doc_id
        |  GROUP BY d.doc_id)
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a,
        |  CAST(b.doc_id AS BIGINT) AS id_b,
        |  CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
        |FROM hash a JOIN hash b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 6
        |ORDER BY id_a, id_b""".stripMargin,

    // Expected video frame rows from the GENERATOR parameters: frame
    // timing re-derived from the container fps (floor(f·⌊1e6/fps⌋/
    // 1000) ms), dims/value-counts from the ramp generator, decoded
    // means pinned within ±3 (mean_ok). Doc 3 frame 1 is the
    // undecodable-frame row (container real, pixels NULL); the
    // truncated doc 100 and NULL doc 101 contribute zero rows.
    "multimodal_video" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(n_frames AS INTEGER) AS n_frames,
        |  CAST(frame_ms AS BIGINT) AS frame_ms,
        |  CAST(width AS INTEGER) AS width,
        |  CAST(height AS INTEGER) AS height,
        |  CAST(channels AS INTEGER) AS channels,
        |  CAST(n_values AS BIGINT) AS n_values,
        |  CAST(mean_ok AS BOOLEAN) AS mean_ok
        |FROM (VALUES
        |  (1, 0, 6, 0, 24, 16, 3, 1152, TRUE),
        |  (1, 1, 6, 100, 24, 16, 3, 1152, TRUE),
        |  (1, 2, 6, 200, 24, 16, 3, 1152, TRUE),
        |  (1, 3, 6, 300, 24, 16, 3, 1152, TRUE),
        |  (1, 4, 6, 400, 24, 16, 3, 1152, TRUE),
        |  (1, 5, 6, 500, 24, 16, 3, 1152, TRUE),
        |  (2, 0, 4, 0, 20, 12, 3, 720, TRUE),
        |  (2, 1, 4, 40, 20, 12, 3, 720, TRUE),
        |  (2, 2, 4, 80, 20, 12, 3, 720, TRUE),
        |  (2, 3, 4, 120, 20, 12, 3, 720, TRUE),
        |  (3, 0, 3, 0, 16, 10, 3, 480, TRUE),
        |  (3, 1, 3, 66, NULL, NULL, NULL, NULL, NULL),
        |  (3, 2, 3, 133, 16, 10, 3, 480, TRUE)
        |) v(doc_id, frame_idx, n_frames, frame_ms, width, height,
        |    channels, n_values, mean_ok)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // Full-path audio replay: DuckDB re-derives every PCM sample of
    // the triangle-wave fixtures with integer arithmetic (the same
    // closed form Audio.triangleSamples evaluates), then aggregates
    // the identical RMS / strict-sign zero crossings / peak /
    // duration. Docs 100-102 pin the undecodable -> NULL contract
    // (truncated container, compressed-audio magic, NULL payload).
    "multimodal_audio" ->
      """WITH params(doc_id, ch, n, p, a, sr) AS (VALUES
        |  (1, 0, 1800, 29, 500, 16000),
        |  (2, 0, 2000, 35, 1000, 24000),
        |  (3, 0, 2200, 41, 1500, 8000),
        |  (4, 0, 2400, 47, 2000, 16000),
        |  (5, 0, 2600, 53, 2500, 24000),
        |  (6, 0, 2800, 59, 3000, 8000),
        |  (7, 0, 3000, 65, 3500, 16000),
        |  (8, 0, 3200, 71, 4000, 24000),
        |  (9, 0, 1200, 41, 1500, 16000),
        |  (9, 1, 1200, 29, 2500, 16000)),
        |samp AS (
        |  SELECT doc_id, ch, i,
        |    abs(((i * 4 * a) // p) % (4 * a) - 2 * a) - a AS s
        |  FROM params, unnest(generate_series(0, n - 1)) AS t(i)),
        |flips AS (
        |  SELECT doc_id, ch, s,
        |    lag(s) OVER (PARTITION BY doc_id, ch ORDER BY i) AS prev
        |  FROM samp),
        |agg AS (
        |  SELECT doc_id, max(sr) AS sample_rate,
        |    (max(ch) + 1) AS n_channels, max(n) AS n_frames,
        |    max(n) * 1000 // max(sr) AS duration_ms
        |  FROM params GROUP BY doc_id),
        |sagg AS (
        |  SELECT doc_id,
        |    sqrt(sum(CAST(s AS DOUBLE) * s) / count(*)) AS rms,
        |    count(CASE WHEN s * prev < 0 THEN 1 END) AS zero_crossings,
        |    max(abs(s)) AS peak
        |  FROM flips GROUP BY doc_id)
        |SELECT CAST(a.doc_id AS BIGINT) AS doc_id,
        |  CAST(sample_rate AS INTEGER) AS sample_rate,
        |  CAST(n_channels AS INTEGER) AS n_channels,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(duration_ms AS BIGINT) AS duration_ms,
        |  r(rms, 6) AS rms,
        |  CAST(zero_crossings AS BIGINT) AS zero_crossings,
        |  CAST(peak AS INTEGER) AS peak
        |FROM agg a JOIN sagg USING (doc_id)
        |UNION ALL
        |SELECT CAST(doc_id AS BIGINT), CAST(NULL AS INTEGER),
        |  CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
        |  CAST(NULL AS BIGINT), CAST(NULL AS INTEGER)
        |FROM (VALUES (100), (101), (102)) v(doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Expected JPEG decode results from the GENERATOR parameters
    // (w = 16+id, h = 12+(id%5), ch = 1 when id%3=0 else 3) — the
    // oracle re-derives the dims arithmetically and pins the decoded
    // mean inside ±3 of the source raster's mean (mean_ok). Doc 100
    // is a header-only JPEG: undecodable → all-NULL stats.
    "multimodal_jpeg" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(out_w AS INTEGER) AS out_w,
        |  CAST(out_h AS INTEGER) AS out_h,
        |  CAST(out_ch AS INTEGER) AS out_ch,
        |  CAST(n_values AS BIGINT) AS n_values,
        |  CAST(mean_ok AS BOOLEAN) AS mean_ok
        |FROM (VALUES
        |  (1, 17, 13, 3, 663, TRUE),
        |  (2, 18, 14, 3, 756, TRUE),
        |  (3, 19, 15, 1, 285, TRUE),
        |  (4, 20, 16, 3, 960, TRUE),
        |  (5, 21, 12, 3, 756, TRUE),
        |  (6, 22, 13, 1, 286, TRUE),
        |  (7, 23, 14, 3, 966, TRUE),
        |  (8, 24, 15, 3, 1080, TRUE),
        |  (9, 25, 16, 1, 400, TRUE),
        |  (10, 26, 12, 3, 936, TRUE),
        |  (11, 27, 13, 3, 1053, TRUE),
        |  (12, 28, 14, 1, 392, TRUE),
        |  (100, NULL, NULL, NULL, NULL, NULL)
        |) v(doc_id, out_w, out_h, out_ch, n_values, mean_ok)
        |ORDER BY doc_id""".stripMargin,

    // The partitioned layout + dynamic pruning must not change a
    // value: the oracle computes the same year gate arithmetically
    // over the PLAIN table (is_peak = year % 3 = 0 — the dim is
    // derived, so the join is pure selection here).
    "q_dpp_prune" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  count(*) AS n_orders, r(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE CAST(year(o_orderdate) AS INTEGER) % 3 = 0
        |GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q_array_hof" ->
      """WITH e AS (
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
        |FROM e ORDER BY vec_id""".stripMargin,

    // edge rows: NULL and non-JSON props both yield NULL k (Spark
    // PERMISSIVE from_json <-> guarded TRY extraction here)
    "q_from_json" ->
      """WITH src AS (
        |  SELECT event_id, props FROM events
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-2 AS BIGINT), CAST(NULL AS VARCHAR)),
        |    (CAST(-1 AS BIGINT), 'not json')) v(event_id, props)
        |)
        |SELECT event_id,
        |  CASE WHEN props IS NOT NULL AND json_valid(props)
        |       THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |  END AS k
        |FROM src ORDER BY event_id""".stripMargin,

    "q_window_suite" ->
      """SELECT s_nationkey, s_suppkey, s_acctbal,
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
        |ORDER BY s_nationkey, s_suppkey""".stripMargin,

    "q_set_ops" ->
      """SELECT nationkey, 'both' AS op FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT
        |  SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'cust_only' AS op FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT
        |  SELECT s_nationkey FROM supplier)
        |ORDER BY op, nationkey""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "q_pivot" ->
      """SELECT source,
        |  CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS en,
        |  CAST(count(*) FILTER (lang = 'de') AS BIGINT) AS de,
        |  CAST(count(*) FILTER (lang = 'fr') AS BIGINT) AS fr,
        |  CAST(count(*) FILTER (lang = 'es') AS BIGINT) AS es,
        |  CAST(count(*) FILTER (lang = 'und') AS BIGINT) AS und
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_unpivot" ->
      """SELECT p_partkey, 'p_retailprice' AS measure,
        |  CAST(p_retailprice AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
        |ORDER BY p_partkey, measure""".stripMargin,

    "q_sql_kernels2" ->
      s"""WITH chars AS (
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
        |ORDER BY m.doc_id""".stripMargin,

    "q_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(extract(year FROM l_shipdate) AS INT) AS l_year,
        |  r(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |  AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        |  AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1997-12-31'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_tpch_q5" ->
      """SELECT n_name,
        |  r(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN customer ON o_custkey = c_custkey
        |  AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q_zorder" ->
      s"""WITH m AS (
        |  SELECT l_orderkey, l_partkey,
        |    l_orderkey % 256 AS a, l_partkey % 256 AS b
        |  FROM lineitem)
        |SELECT l_orderkey, l_partkey,
        |  CAST((${mortonTerms("a", "b", 8)}) AS BIGINT) AS zcode
        |FROM m ORDER BY l_orderkey, l_partkey, zcode""".stripMargin,

    // hilbert xy2d replayed as a recursive CTE: each level consumes
    // the current top bit s, accumulates the quadrant term
    // s²·xor(3·rx, ry), and applies the s-1 reflect + swap — integer
    // arithmetic only, so the replay is exact.
    "q_hilbert" ->
      """WITH RECURSIVE m AS (
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
        |ORDER BY l_orderkey, l_partkey, hcode""".stripMargin,

    "q_when_then" ->
      """SELECT o_orderpriority,
        |  CASE WHEN o_totalprice > 200000 THEN 'big'
        |       WHEN o_totalprice > 100000 THEN 'mid'
        |       ELSE 'small' END AS bucket,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority, bucket
        |ORDER BY o_orderpriority, bucket""".stripMargin,

    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u,
        |  substring(p_name, 1, 10) AS name10,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  (p_name LIKE '%el%') AS has_el
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_string_advanced" ->
      """SELECT p_partkey,
        |  regexp_extract(p_brand, 'Brand#(\d+)', 1) AS brand_num,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  concat_ws('-', p_brand, p_type) AS brand_type,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
        |  reverse(p_brand) AS brand_rev
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_date_advanced" ->
      """SELECT o_orderkey,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        |  CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    "q_union" ->
      """SELECT nationkey, r(sum(acctbal), 2) AS total_bal, count(*) AS n
        |FROM (SELECT c_nationkey AS nationkey, c_acctbal AS acctbal FROM customer
        |      UNION ALL
        |      SELECT s_nationkey, s_acctbal FROM supplier)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,

    "q_window" ->
      """SELECT * FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer)
        |WHERE rn <= 5 ORDER BY c_mktsegment, rn""".stripMargin,

    "q_agg_stats" ->
      """SELECT l_returnflag,
        |  r(min(l_extendedprice), 2) AS min_price,
        |  r(max(l_extendedprice), 2) AS max_price,
        |  r(avg(l_extendedprice), 2) AS avg_price,
        |  r(stddev_samp(l_extendedprice), 2) AS sd_price,
        |  count(DISTINCT l_suppkey) AS n_supp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_date_funcs" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo,
        |  count(*) AS n, r(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY yr, mo ORDER BY yr, mo""".stripMargin,

    "q_math_funcs" ->
      """SELECT s_suppkey, r(abs(s_acctbal), 2) AS abs_bal,
        |  CAST(ceil(s_acctbal) AS BIGINT) AS ceil_bal,
        |  CAST(floor(s_acctbal) AS BIGINT) AS floor_bal,
        |  r(sqrt(abs(s_acctbal)), 4) AS sqrt_bal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "q_json" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
        |ORDER BY c_custkey""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,

    "q_having" ->
      """SELECT l_partkey, count(*) AS n, r(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY l_partkey HAVING count(*) >= 40
        |ORDER BY l_partkey""".stripMargin,

    "q_pipeline_e2e" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem WHERE l_discount >= 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "dedup_exact" ->
      """SELECT lang, source, min(doc_id) AS doc_id, count(*) AS n_dupes
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "dedup_fingerprint" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint,
        |  min(doc_id) AS doc_id, count(*) AS n_dupes
        |FROM documents GROUP BY fingerprint ORDER BY doc_id""".stripMargin,

    "dedup_incremental" ->
      """WITH f AS (
        |  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
        |  FROM documents)
        |SELECT doc_id, fingerprint FROM f b
        |WHERE doc_id % 3 = 0
        |  AND NOT EXISTS (SELECT 1 FROM f r
        |    WHERE r.doc_id % 3 <> 0 AND r.fingerprint = b.fingerprint)
        |ORDER BY doc_id""".stripMargin,

    "q_profile" ->
      """WITH s AS (
        |  SELECT 'doc_id' AS col_name, count(*) AS n_rows,
        |    count(*) - count(doc_id) AS n_nulls,
        |    count(DISTINCT doc_id) AS n_distinct,
        |    CAST(min(doc_id) AS VARCHAR) AS min_value,
        |    CAST(max(doc_id) AS VARCHAR) AS max_value FROM documents
        |  UNION ALL
        |  SELECT 'lang', count(*), count(*) - count(lang),
        |    count(DISTINCT lang), CAST(min(lang) AS VARCHAR),
        |    CAST(max(lang) AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'source', count(*), count(*) - count(source),
        |    count(DISTINCT source), CAST(min(source) AS VARCHAR),
        |    CAST(max(source) AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(*), count(*) - count(n_chars),
        |    count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
        |    CAST(max(n_chars) AS VARCHAR) FROM documents)
        |SELECT * FROM s ORDER BY col_name""".stripMargin,

    // Every Gopher gate recomputed with the same IEEE double
    // divisions (DuckDB `/` on integers is float division like
    // Spark's Divide); token/line splits, ltrim/rtrim, '[a-z]' and
    // the non-overlapping replace-based symbol counts all behave
    // identically across the engines.
    "q_gopher_rules" ->
      """WITH src AS (
        |  SELECT doc_id, replace(text, ' value ', chr(10)) AS text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(-8 AS BIGINT), ''),
        |    (CAST(-7 AS BIGINT), repeat('good words ', 25) || 'the cat and that dog have fun with all of them to be here'),
        |    (CAST(-6 AS BIGINT), 'too short to have the words'),
        |    (CAST(-5 AS BIGINT), repeat('good words ', 25) || 'the cat and that dog have fun with all of them to be here' || ' ###### ## # # # # # # # #'),
        |    (CAST(-4 AS BIGINT), repeat('good words ', 25) || 'the cat and that dog have fun with all of them to be here' || chr(10) || '- a' || chr(10) || '- b' || chr(10) || '- c' || chr(10) || '- d'),
        |    (CAST(-3 AS BIGINT), repeat('same line' || chr(10), 10) || repeat('good words ', 25) || 'the cat and that dog have fun with all of them to be here'),
        |    (CAST(-2 AS BIGINT), repeat('good words ', 25) || 'the cat and that dog have fun with all of them to be here' || chr(10) || 'line one...' || chr(10) || 'line two...' || chr(10) || 'line three...'),
        |    (CAST(-1 AS BIGINT), CAST(NULL AS VARCHAR))) v(doc_id, text)
        |), g AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks,
        |    string_split(text, chr(10)) AS lines
        |  FROM src
        |), m AS (
        |  SELECT doc_id, text, toks, lines,
        |    CAST(len(toks) AS DOUBLE) AS nw,
        |    CAST(len(lines) AS DOUBLE) AS nl,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
        |           / CAST(len(toks) AS DOUBLE) END AS meanlen,
        |    (length(text) - length(replace(text, '#', ''))) / 1
        |      + (length(text) - length(replace(text, '...', ''))) / 3
        |      + (length(text) - length(replace(text, '…', ''))) / 1 AS symbols,
        |    CAST(coalesce(list_sum(list_transform(lines, l ->
        |      CASE WHEN starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*')
        |        OR starts_with(ltrim(l), '•') THEN 1 ELSE 0 END)), 0) AS DOUBLE) AS bullets,
        |    CAST(coalesce(list_sum(list_transform(lines, l ->
        |      CASE WHEN rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'
        |        THEN 1 ELSE 0 END)), 0) AS DOUBLE) AS ellip,
        |    CAST(coalesce(list_sum(list_transform(toks, w ->
        |      CASE WHEN regexp_matches(w, '[a-z]') THEN 1 ELSE 0 END)), 0) AS DOUBLE) AS alphaw,
        |    len(list_intersect(list_distinct(toks),
        |      ['the','be','to','of','and','that','have','with'])) AS stophits,
        |    CASE WHEN len(lines) = 0 THEN 0.0
        |         ELSE 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
        |           / CAST(len(lines) AS DOUBLE) END AS duplf
        |  FROM g
        |)
        |SELECT doc_id,
        |  CASE WHEN text IS NULL THEN NULL ELSE CAST(nw AS BIGINT) END AS n_words,
        |  CASE WHEN text IS NULL THEN NULL ELSE nw >= 50 AND nw <= 100000 END AS flag_word_count,
        |  CASE WHEN text IS NULL THEN NULL ELSE meanlen >= 3.0 AND meanlen <= 10.0 END AS flag_word_len,
        |  CASE WHEN text IS NULL THEN NULL ELSE nw > 0 AND symbols / nw <= 0.1 END AS flag_symbol_ratio,
        |  CASE WHEN text IS NULL THEN NULL ELSE bullets / nl <= 0.9 END AS flag_bullet_lines,
        |  CASE WHEN text IS NULL THEN NULL ELSE ellip / nl <= 0.3 END AS flag_ellipsis_lines,
        |  CASE WHEN text IS NULL THEN NULL ELSE nw > 0 AND alphaw / nw >= 0.8 END AS flag_alpha_words,
        |  CASE WHEN text IS NULL THEN NULL ELSE stophits >= 2 END AS flag_stopwords,
        |  CASE WHEN text IS NULL THEN NULL ELSE duplf <= 0.3 END AS flag_dup_lines,
        |  CASE WHEN text IS NULL THEN NULL ELSE
        |    (nw >= 50 AND nw <= 100000) AND (meanlen >= 3.0 AND meanlen <= 10.0)
        |    AND (nw > 0 AND symbols / nw <= 0.1) AND (bullets / nl <= 0.9)
        |    AND (ellip / nl <= 0.3) AND (nw > 0 AND alphaw / nw >= 0.8)
        |    AND (stophits >= 2) AND (duplf <= 0.3) END AS gopher_pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // Line synthesis (replace ' value ' with \n) mirrored, then the
    // boilerplate set = lines in ≥3 distinct docs, removal via a list
    // comprehension that preserves order; string_agg over an empty
    // kept-list is NULL → coalesce to '' like array_join of [].
    "dedup_boilerplate" ->
      """WITH src AS (
        |  SELECT doc_id, replace(text, ' value ', chr(10)) AS text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(-6 AS BIGINT), 'cookie banner' || chr(10) || 'real prose one' || chr(10) || 'footer text'),
        |    (CAST(-5 AS BIGINT), 'cookie banner' || chr(10) || 'real prose two' || chr(10) || 'footer text'),
        |    (CAST(-4 AS BIGINT), 'cookie banner' || chr(10) || 'unique thought' || chr(10) || 'footer text'),
        |    (CAST(-3 AS BIGINT), 'cookie banner'),
        |    (CAST(-2 AS BIGINT), CAST(NULL AS VARCHAR)),
        |    (CAST(-1 AS BIGINT), 'fully original text')) v(doc_id, text)
        |), ex AS (
        |  SELECT doc_id, line FROM (
        |    SELECT doc_id, unnest(string_split(text, chr(10))) AS line
        |    FROM src WHERE text IS NOT NULL)
        |), bl AS (
        |  SELECT line FROM (SELECT DISTINCT doc_id, line FROM ex)
        |  GROUP BY line HAVING count(*) >= 3
        |), blist AS (
        |  SELECT coalesce(list(line), []) AS ls FROM bl
        |)
        |SELECT s.doc_id,
        |  CASE WHEN s.text IS NULL THEN NULL
        |    ELSE coalesce(list_aggr(
        |      [l FOR l IN string_split(s.text, chr(10)) IF NOT list_contains(b.ls, l)],
        |      'string_agg', chr(10)), '') END AS clean_text,
        |  CASE WHEN s.text IS NULL THEN NULL
        |    ELSE CAST(len(string_split(s.text, chr(10))) -
        |      len([l FOR l IN string_split(s.text, chr(10)) IF NOT list_contains(b.ls, l)]) AS BIGINT)
        |    END AS n_lines_removed
        |FROM src s CROSS JOIN blist b
        |ORDER BY s.doc_id""".stripMargin,

    // Full quadratic recomputation of the SimHash pipeline in SQL:
    // same normalization, same md5-first-8-bytes token hash (the
    // '0x'||hex cast reads the BIG-ENDIAN first 16 hex chars — the
    // exact value SimHash64 builds from the digest), same majority
    // rule (c > 0), same signed bit-63 packing, then the exact
    // all-pairs Hamming filter the chunk-bucketed join must equal.
    // The okb CTE models the engine's maxBucket flood cap exactly
    // (chunks=4, 16-bit pieces, cap 1000): a pair survives iff SOME
    // agreeing chunk bucket is under cap — so the oracle and the op
    // stay row-identical even on a corpus with a >1000-member
    // identical-chunk family (cap never binds at this SF, but the
    // contract is pinned, not assumed).
    "dedup_simhash_pairs" ->
      """WITH d AS (
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
        |), sig AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN c > 0 THEN
        |      (CASE WHEN b = 63 THEN -9223372036854775808
        |            ELSE (1::BIGINT << b) END) ELSE 0 END) AS BIGINT) AS sig
        |  FROM bits GROUP BY doc_id
        |), okb AS (
        |  SELECT c, (sig >> (c * 16)) & 65535 AS piece
        |  FROM sig, range(4) rc(c)
        |  GROUP BY 1, 2 HAVING count(*) <= 1000)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |  AND EXISTS (SELECT 1 FROM okb o
        |    WHERE ((a.sig >> (o.c * 16)) & 65535) = o.piece
        |      AND ((b.sig >> (o.c * 16)) & 65535) = o.piece)
        |ORDER BY id_a, id_b""".stripMargin,

    // Lang-blocked 3-gram pairs at t=0.6 in the same bitstring
    // spelling (the corpus has ~400 distinct 3-grams); size-ratio
    // skip sound at 0.6 (J ≤ min/max), block key joined as an
    // equality. 213928 pairs at sf0.1 verify inline in ~16 s.
    "dedup_ngram_pairs" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, lang, trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), sh AS MATERIALIZED (
        |  SELECT doc_id, lang, list_distinct(
        |    [substr(t, g, 3) for g in range(1, greatest(length(t) - 1, 2))]) AS shingles
        |  FROM d
        |), ex AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS sh FROM sh
        |), idx AS MATERIALIZED (
        |  SELECT sh, CAST(row_number() OVER (ORDER BY sh) - 1 AS INTEGER) AS i
        |  FROM (SELECT DISTINCT sh FROM ex)
        |), bs AS MATERIALIZED (
        |  SELECT s.doc_id, s.lang, CAST(len(s.shingles) AS BIGINT) AS nsh,
        |    x.b, x.bc
        |  FROM sh s JOIN (
        |    SELECT e.doc_id, bitstring_agg(x.i, 0, 65535) AS b,
        |      bitstring_agg(x.i % 1024, 0, 1023) AS bc
        |    FROM ex e JOIN idx x USING (sh) GROUP BY e.doc_id) x USING (doc_id)
        |), cand AS MATERIALIZED (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bs a JOIN bs b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE a.nsh >= 0.6 * b.nsh AND b.nsh >= 0.6 * a.nsh
        |    AND a.nsh + b.nsh >= 1.6 * bit_count(a.bc | b.bc))
        |SELECT id_a, id_b, r(jaccard, 4) AS jaccard FROM (
        |  SELECT id_a, id_b,
        |    CAST(inter AS DOUBLE) / (nsh_a + nsh_b - inter) AS jaccard
        |  FROM (
        |    SELECT c.id_a, c.id_b, a.nsh AS nsh_a, b.nsh AS nsh_b,
        |      bit_count(a.b & b.b) AS inter
        |    FROM cand c JOIN bs a ON a.doc_id = c.id_a
        |                JOIN bs b ON b.doc_id = c.id_b))
        |WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin,

    // Blank text counts 0 whitespace tokens (a naive split of ''
    // yields ['] → 1); same edge rows as the Spark side unions in.
    "text_tokens" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-2 AS BIGINT), 'héllo wörld — ünicode'),
        |    (CAST(-1 AS BIGINT), '   ')) v(doc_id, text))
        |SELECT doc_id,
        |  CAST(CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |    AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
        |    AS n_tokens_bpe
        |FROM src ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
        |    CAST(length(text) AS DOUBLE) AS n
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, n,
        |    CASE WHEN n = 0 THEN 0.0 ELSE
        |      length(regexp_replace(text, '[^[:punct:]]', '', 'g')) / n END AS praw,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      CAST(len(list_filter(toks, t -> list_contains(
        |        ['the','a','an','and','or','of','to','in','is','are','was',
        |         'for','on','with','as','at','by','it','be','this','that'], t)))
        |        AS DOUBLE) / len(toks) END AS sraw,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
        |        / len(toks) END AS mraw
        |  FROM d)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars_m,
        |  r(praw, 4) AS punct_ratio,
        |  r(sraw, 4) AS stopword_ratio,
        |  r(mraw, 4) AS mean_word_len,
        |  r(least(n / 200.0, 1.0) * 0.4
        |    + greatest(0.0, 1.0 - praw * 4.0) * 0.2
        |    + least(sraw * 5.0, 1.0) * 0.2
        |    + (CASE WHEN mraw >= 3.0 AND mraw <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2,
        |    4) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
        |    length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS cjk
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, cjk,
        |    len(list_filter(toks, t -> list_contains(
        |      ['the','and','of','to','is','in','that','it','with','for'], t))) AS s_en,
        |    len(list_filter(toks, t -> list_contains(
        |      ['le','la','les','et','de','des','un','une','est','que'], t))) AS s_fr,
        |    len(list_filter(toks, t -> list_contains(
        |      ['der','die','das','und','ist','nicht','mit','ein','zu','den'], t))) AS s_de,
        |    len(list_filter(toks, t -> list_contains(
        |      ['el','los','las','y','es','en','que','un','una','por'], t))) AS s_es
        |  FROM d)
        |SELECT doc_id,
        |  CASE WHEN cjk > 0 THEN 'zh'
        |       WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
        |       WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
        |       WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
        |       WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
        |       ELSE 'es' END AS lang_guess
        |FROM s ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Entropy recomputed the long way: explode to one row per char
    // position, frequency-count, -Σ p·ln(p)/ln(2). NULL text → NULL
    // (LATERAL drops the row, left join restores it), empty/uniform
    // strings → 0.0 via the edge rows.
    "text_entropy" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(-3 AS BIGINT), ''), (CAST(-2 AS BIGINT), 'aaaaaaaa'),
        |    (CAST(-1 AS BIGINT), 'abcdabcd')) v(doc_id, text)
        |), chars AS (
        |  SELECT doc_id, substr(text, CAST(u.g AS INTEGER), 1) AS ch
        |  FROM src, LATERAL (SELECT unnest(range(1, len(text) + 1)) AS g) u
        |  WHERE text IS NOT NULL
        |), freq AS (
        |  SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
        |  FROM chars GROUP BY doc_id, ch
        |), ent AS (
        |  SELECT doc_id,
        |    sum(-(c / n) * (ln(c / n) / ln(2))) AS h
        |  FROM (SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n
        |        FROM freq)
        |  GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CASE WHEN s.text IS NULL THEN NULL
        |       ELSE r(coalesce(ent.h, 0.0), 4) END AS char_entropy
        |FROM src s LEFT JOIN ent ON s.doc_id = ent.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    "text_blocklist" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR trim(text) = ''
        |      THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, toks,
        |    len(list_filter(toks,
        |      x -> list_contains(['the', 'and', 'data', 'of'], x))) AS hits
        |  FROM t)
        |SELECT doc_id, CAST(hits AS BIGINT) AS n_tokens_blocked,
        |  r(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE CAST(hits AS DOUBLE) / len(toks) END, 4) AS blocked_ratio
        |FROM h ORDER BY doc_id""".stripMargin,

    // winnow walk + frequency-capped fingerprint join
    "dedup_winnow_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, u.p AS pos,
        |    ('0x' || substr(md5(substr(t, CAST(u.p AS INTEGER), 5)), 1, 8))::BIGINT
        |      AS h,
        |    length(t) - 4 AS n
        |  FROM d, LATERAL (SELECT unnest(range(1, length(t) - 3)) AS p) u
        |  WHERE length(t) >= 5
        |), wm AS (
        |  SELECT doc_id, pos AS wstart, n,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |  FROM g
        |), starts AS (
        |  SELECT doc_id, wstart, wmin FROM wm WHERE wstart <= n - 3
        |), fps AS (
        |  SELECT DISTINCT doc_id, wmin AS fp FROM starts
        |), freq AS (
        |  SELECT fp, count(*) AS c FROM fps GROUP BY fp
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM fps a
        |JOIN (SELECT fp FROM freq WHERE c <= 20) ok ON a.fp = ok.fp
        |JOIN fps b ON b.fp = a.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // same winnowing walk: windowed min over k-gram hashes,
    // rightmost position on ties, distinct selected fingerprints
    "text_winnow" ->
      """WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, u.p AS pos,
        |    ('0x' || substr(md5(substr(t, CAST(u.p AS INTEGER), 5)), 1, 8))::BIGINT
        |      AS h,
        |    length(t) - 4 AS n
        |  FROM d, LATERAL (SELECT unnest(range(1, length(t) - 3)) AS p) u
        |  WHERE length(t) >= 5
        |), wm AS (
        |  SELECT doc_id, pos AS wstart, n,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |  FROM g
        |), starts AS (
        |  SELECT doc_id, wstart, wmin FROM wm WHERE wstart <= n - 3
        |), sel AS (
        |  SELECT st.doc_id, st.wstart, max(g2.pos) AS pos, st.wmin AS fp
        |  FROM starts st JOIN g g2 ON g2.doc_id = st.doc_id
        |    AND g2.pos BETWEEN st.wstart AND st.wstart + 3
        |    AND g2.h = st.wmin
        |  GROUP BY st.doc_id, st.wstart, st.wmin)
        |SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, fp
        |FROM sel ORDER BY doc_id, pos, fp""".stripMargin,

    // md5-hashed dims/signs, integer per-dim sums, exact norm — the
    // same normalize/tokenize CTEs as text_tfidf
    "text_hash_embed" ->
      """WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(t, ' ')) AS term
        |  FROM d WHERE length(t) > 0
        |), h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(term), 1, 8))::BIGINT AS hh
        |  FROM toks
        |), sums AS (
        |  SELECT doc_id, CAST(hh % 16 AS INTEGER) AS dim,
        |    sum(CASE WHEN (hh // 16) % 2 = 0 THEN 1 ELSE -1 END) AS v
        |  FROM h GROUP BY 1, 2
        |), grid AS (
        |  SELECT doc_id, u.p AS pos
        |  FROM (SELECT DISTINCT doc_id FROM toks),
        |    LATERAL (SELECT unnest(range(0, 16)) AS p) u
        |), dense AS (
        |  SELECT g.doc_id, g.pos, CAST(coalesce(s.v, 0) AS DOUBLE) AS raw
        |  FROM grid g LEFT JOIN sums s
        |    ON g.doc_id = s.doc_id AND g.pos = s.dim
        |), nrm AS (
        |  SELECT doc_id, sqrt(sum(raw * raw)) AS nn FROM dense GROUP BY 1)
        |SELECT dense.doc_id, CAST(pos AS BIGINT) AS pos,
        |  r(CASE WHEN nn = 0 THEN raw ELSE raw / nn END, 4) AS v
        |FROM dense JOIN nrm USING (doc_id)
        |ORDER BY doc_id, pos""".stripMargin,

    // Full NB replay: same normalize/tokenize as text_tfidf, same
    // add-one smoothing, same r()-before-argmax. ln last-bit noise is
    // ~1e-13 absolute after the token sum — 9 orders below the p=4
    // rounding grid, so both engines argmax identical values.
    "text_classify_nb" ->
      (nbCommonCtes +
        """, tetoks AS (
        |  SELECT doc_id, term, count(*) AS cnt FROM toks
        |  WHERE doc_id % 5 = 0 GROUP BY doc_id, term
        |), tok_counts AS (
        |  SELECT label, term, count(*) AS n_tc FROM trtoks GROUP BY 1, 2
        |), class_tot AS (
        |  SELECT label, count(*) AS n_c FROM trtoks GROUP BY 1
        |), vsize AS (SELECT count(DISTINCT term) AS v FROM trtoks),
        |class_docs AS (
        |  SELECT label, count(DISTINCT doc_id) AS docs_c
        |  FROM trtoks GROUP BY 1
        |), tot AS (SELECT sum(docs_c) AS docs_n FROM class_docs),
        |vocab AS (SELECT DISTINCT term FROM trtoks),
        |dense AS (
        |  SELECT v.term, c.label,
        |    ln(CAST(coalesce(tc.n_tc, 0) + 1 AS DOUBLE) / (c.n_c + s.v))
        |      AS loglik
        |  FROM vocab v CROSS JOIN class_tot c CROSS JOIN vsize s
        |  LEFT JOIN tok_counts tc
        |    ON tc.term = v.term AND tc.label = c.label
        |), priors AS (
        |  SELECT label, ln(CAST(docs_c AS DOUBLE) / docs_n) AS logprior
        |  FROM class_docs CROSS JOIN tot
        |), evidence AS (
        |  SELECT te.doc_id, d2.label, sum(te.cnt * d2.loglik) AS tok_score
        |  FROM tetoks te JOIN dense d2 USING (term) GROUP BY 1, 2
        |), scored AS (
        |  SELECT ids.doc_id, p.label,
        |    r(p.logprior + coalesce(e.tok_score, 0.0), 4) AS score
        |  FROM (SELECT DISTINCT doc_id FROM tetoks) ids
        |  CROSS JOIN priors p
        |  LEFT JOIN evidence e
        |    ON e.doc_id = ids.doc_id AND e.label = p.label
        |), pred AS (
        |  SELECT doc_id, label AS pred, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, label ASC) AS rn
        |  FROM scored)
        |SELECT lab.label AS actual, pred.pred, count(*) AS n_docs
        |FROM pred JOIN lab USING (doc_id) WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""").stripMargin,

    "text_classify_feats" ->
      (nbCommonCtes +
        """, counts AS (
        |  SELECT term,
        |    count(*) FILTER (WHERE label = 'hi') AS n_a,
        |    count(*) FILTER (WHERE label = 'lo') AS n_b
        |  FROM trtoks GROUP BY term
        |), totals AS (
        |  SELECT count(*) FILTER (WHERE label = 'hi') AS tot_a,
        |    count(*) FILTER (WHERE label = 'lo') AS tot_b,
        |    count(DISTINCT term) AS v
        |  FROM trtoks
        |), odds AS (
        |  SELECT term, n_a, n_b,
        |    (CAST(n_a + 1 AS DOUBLE) / (tot_a + v)) *
        |      (CAST(tot_b + v AS DOUBLE) / (n_b + 1)) AS odds_exact
        |  FROM counts CROSS JOIN totals)
        |SELECT CAST(row_number() OVER (
        |    ORDER BY odds_exact DESC, term ASC) AS BIGINT) AS rank,
        |  term, n_a, n_b, r(odds_exact, 4) AS odds
        |FROM odds ORDER BY odds_exact DESC, term ASC LIMIT 15""")
        .stripMargin,

    "q_vocab_encode" ->
      """WITH vocab AS (
        |  SELECT token, row_number() OVER (ORDER BY n DESC, token ASC) - 1
        |    AS tid
        |  FROM (
        |    SELECT token, count(*) AS n FROM (
        |      SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
        |        AS token
        |      FROM documents WHERE text IS NOT NULL AND trim(text) <> '') u
        |    WHERE token <> ''
        |    GROUP BY token ORDER BY n DESC, token ASC LIMIT 100) top
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        |), pos AS (
        |  SELECT doc_id, tk[CAST(u.p AS INTEGER)] AS token, u.p AS p
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS p) u)
        |SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos,
        |  coalesce(v.tid, CAST(-1 AS BIGINT)) AS tid
        |FROM pos LEFT JOIN vocab v USING (token)
        |ORDER BY doc_id, pos""".stripMargin,

    "text_vocab" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
        |SELECT token, count(*) AS n FROM toks WHERE token <> ''
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""".stripMargin,

    // The BPE merge walk re-implemented from scratch: words become
    // boundary-safe '|'-separated symbol strings; each recursion step
    // applies the lowest-rank merge pair present (correlated min over
    // the merge table) at its LEFTMOST occurrence (position()); a word
    // stops recursing when no pair applies, and arg_max(s, it) picks
    // its terminal state. Merge VALUES = SparkEntry.bpeFixedMerges.
    "q_bpe_encode" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, CASE WHEN text IS NULL THEN NULL ELSE
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) END AS t
        |  FROM (SELECT doc_id, text FROM documents
        |        UNION ALL SELECT CAST(-2 AS BIGINT), CAST(NULL AS VARCHAR)
        |        UNION ALL SELECT CAST(-1 AS BIGINT), '   ') src
        |), merges(rank, a, b) AS (
        |  SELECT * FROM (VALUES
        |    (1,'t','h'),(2,'th','e'),(3,'i','n'),(4,'e','r'),(5,'o','r'),
        |    (6,'a','n'),(7,'s','t'),(8,'a','t'),(9,'in','d'),(10,'o','w'),
        |    (11,'ind','ow'),(12,'l','e')) m(rank, a, b)
        |), words AS (
        |  SELECT doc_id, u.p AS ord, wlist[CAST(u.p AS INTEGER)] AS w
        |  FROM (SELECT doc_id, regexp_split_to_array(t, ' ') AS wlist
        |        FROM d WHERE t IS NOT NULL AND t <> '') x,
        |       LATERAL (SELECT unnest(range(1, len(wlist) + 1)) AS p) u
        |), dw AS (SELECT DISTINCT w FROM words
        |), init AS (
        |  SELECT w, '|' || array_to_string(
        |    [substr(w, g, 1) for g in range(1, length(w) + 1)], '|') || '|' AS s
        |  FROM dw
        |), enc(w, s, it) AS (
        |  SELECT w, s, 0 FROM init
        |  UNION ALL
        |  SELECT e.w,
        |    substr(e.s, 1, position(('|' || m.a || '|' || m.b || '|') IN e.s) - 1)
        |      || '|' || m.a || m.b || '|' ||
        |      substr(e.s, position(('|' || m.a || '|' || m.b || '|') IN e.s)
        |        + length('|' || m.a || '|' || m.b || '|')),
        |    e.it + 1
        |  FROM enc e JOIN merges m ON m.rank = (
        |    SELECT min(m2.rank) FROM merges m2
        |    WHERE position(('|' || m2.a || '|' || m2.b || '|') IN e.s) > 0)
        |), fin AS (
        |  SELECT w, arg_max(s, it) AS s FROM enc GROUP BY w
        |), wtok AS (
        |  SELECT w, replace(trim(s, '|'), '|', ' ') AS tok,
        |    CAST(len(string_split(trim(s, '|'), '|')) AS BIGINT) AS ntok
        |  FROM fin
        |), perdoc AS (
        |  SELECT wo.doc_id, CAST(sum(wt.ntok) AS BIGINT) AS n_tokens,
        |    string_agg(wt.tok, ' ' ORDER BY wo.ord) AS token_str
        |  FROM words wo JOIN wtok wt USING (w)
        |  GROUP BY wo.doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.t IS NULL THEN NULL
        |       ELSE coalesce(p.n_tokens, 0) END AS n_tokens,
        |  CASE WHEN d.t IS NULL THEN NULL
        |       ELSE coalesce(p.token_str, '') END AS token_str
        |FROM d LEFT JOIN perdoc p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "sim_topk_brute" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), nrm AS (
        |  SELECT vec_id,
        |    CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) = 0 THEN v
        |         ELSE list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
        |    END AS v
        |  FROM e
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.v, c.v),
        |      p -> p[1] * p[2])) AS cos_raw
        |  FROM nrm q JOIN nrm c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10
        |), ranked AS (
        |  SELECT query_id, neighbor_id, r(cos_raw, 6) AS cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, cosine, rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "dedup_embedding_pairs" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), nrm AS (
        |  SELECT vec_id,
        |    CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) = 0 THEN v
        |         ELSE list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
        |    END AS v
        |  FROM e
        |), smp AS (
        |  SELECT vec_id, v FROM nrm
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 512)
        |SELECT DISTINCT least(s.vec_id, o.vec_id) AS id_a,
        |  greatest(s.vec_id, o.vec_id) AS id_b,
        |  r(list_sum(list_transform(list_zip(s.v, o.v), p -> p[1] * p[2])), 6)
        |    AS cosine
        |FROM smp s JOIN nrm o ON s.vec_id <> o.vec_id
        |WHERE list_sum(list_transform(list_zip(s.v, o.v), p -> p[1] * p[2])) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    // Exact 5-gram Jaccard pairs, unblocked: the all-pairs DuckDB
    // verifier the minhash-candidates + exact-verify plan must equal.
    // BITSTRING respell (round 11): the fixture corpus has ~2k
    // distinct 5-gram shingles, so each doc's shingle SET is a
    // dense-indexed 65536-bit string and |A∩B| is one bit_count(a&b)
    // per pair — the exact all-pairs verifier drops from >1000 s to
    // ~25 s at sf0.1 (the old per-pair list_intersect over ~700
    // string lists was the entire cost; the size-ratio skip stays,
    // it is provably sound: J ≤ min/max). The 65535 index bound is a
    // bitstring_agg constant; a corpus with > 65536 distinct shingles
    // fails LOUDLY (out-of-range), never silently wrong. Widened from
    // 8191 in round 12: the ×10 oracle sweep measured ~13k distinct
    // shingles (the cipher fixture multiplies vocabulary by copies)
    // and hit the old bound exactly as designed. Counts are
    // set-exact — no hashing, no collisions.
    //
    // Round-13 fold prefilter (this and the five sibling bitstring
    // oracles): the all-pairs AND of 8 KB bitstrings made the ×10
    // sweep SLOW-SKIP this oracle (measured 238 s at sf0.1 → ~6.6 h
    // extrapolated at ×10). A 1024-bit OR-fold (i % 1024) gives an
    // EXACT prune: |A∪B| ≥ bit_count(foldA | foldB) (folding only
    // merges bits), so J ≥ t requires nshA + nshB ≥ (1+t)·union_lb
    // — a necessary condition checked on 128 B strings instead of
    // 8 KB, with the full-width verify only on survivors. Tightness
    // depends on DOC size (unions ~400 bits ≪ 1024), not corpus
    // size, so the prune holds at any SF. Measured: 4.1 s at sf0.1
    // (58× over the unfiltered spelling), hash-identical at sf0.01
    // and sf0.1.
    "dedup_ngram_verified" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), sh AS MATERIALIZED (
        |  SELECT doc_id, list_distinct(
        |    [substr(t, g, 5) for g in range(1, greatest(length(t) - 3, 2))]) AS shingles
        |  FROM d
        |), ex AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS sh FROM sh
        |), idx AS MATERIALIZED (
        |  SELECT sh, CAST(row_number() OVER (ORDER BY sh) - 1 AS INTEGER) AS i
        |  FROM (SELECT DISTINCT sh FROM ex)
        |), bs AS MATERIALIZED (
        |  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS nsh,
        |    bitstring_agg(x.i, 0, 65535) AS b,
        |    bitstring_agg(x.i % 1024, 0, 1023) AS bc
        |  FROM ex e JOIN idx x USING (sh) GROUP BY e.doc_id
        |), cand AS MATERIALIZED (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bs a JOIN bs b ON a.doc_id < b.doc_id
        |  WHERE a.nsh >= 0.8 * b.nsh AND b.nsh >= 0.8 * a.nsh
        |    AND a.nsh + b.nsh >= 1.8 * bit_count(a.bc | b.bc))
        |SELECT id_a, id_b, r(jaccard, 4) AS jaccard FROM (
        |  SELECT id_a, id_b,
        |    CAST(inter AS DOUBLE) / (nsh_a + nsh_b - inter) AS jaccard
        |  FROM (
        |    SELECT c.id_a, c.id_b, a.nsh AS nsh_a, b.nsh AS nsh_b,
        |      bit_count(a.b & b.b) AS inter
        |    FROM cand c JOIN bs a ON a.doc_id = c.id_a
        |                JOIN bs b ON b.doc_id = c.id_b))
        |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin,

    // Connected components by transitive closure: min reachable id
    // per node over the same exact 5-gram J ≥ 0.8 pair graph, with
    // the pair discovery in the bitstring spelling (see
    // dedup_ngram_verified — ~25 s inline at sf0.1 vs ~1000 s for
    // the list-intersect form). MATERIALIZED still pins each CTE to
    // one evaluation so the recursion never replays pair discovery.
    "dedup_cluster" ->
      """WITH RECURSIVE d AS MATERIALIZED (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), sh AS MATERIALIZED (
        |  SELECT doc_id, list_distinct(
        |    [substr(t, g, 5) for g in range(1, greatest(length(t) - 3, 2))]) AS shingles
        |  FROM d
        |), ex AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS sh FROM sh
        |), idx AS MATERIALIZED (
        |  SELECT sh, CAST(row_number() OVER (ORDER BY sh) - 1 AS INTEGER) AS i
        |  FROM (SELECT DISTINCT sh FROM ex)
        |), bs AS MATERIALIZED (
        |  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS nsh,
        |    bitstring_agg(x.i, 0, 65535) AS b,
        |    bitstring_agg(x.i % 1024, 0, 1023) AS bc
        |  FROM ex e JOIN idx x USING (sh) GROUP BY e.doc_id
        |), cand AS MATERIALIZED (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bs a JOIN bs b ON a.doc_id < b.doc_id
        |  WHERE a.nsh >= 0.8 * b.nsh AND b.nsh >= 0.8 * a.nsh
        |    AND a.nsh + b.nsh >= 1.8 * bit_count(a.bc | b.bc)
        |), pairs AS MATERIALIZED (
        |  SELECT id_a, id_b FROM (
        |    SELECT c.id_a, c.id_b,
        |      CAST(inter AS DOUBLE) / (nsh_a + nsh_b - inter) AS jaccard
        |    FROM (
        |      SELECT c0.id_a, c0.id_b, a.nsh AS nsh_a, b.nsh AS nsh_b,
        |        bit_count(a.b & b.b) AS inter
        |      FROM cand c0 JOIN bs a ON a.doc_id = c0.id_a
        |                   JOIN bs b ON b.doc_id = c0.id_b) c)
        |  WHERE jaccard >= 0.8
        |), edges AS MATERIALIZED (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), reach AS (
        |  WITH RECURSIVE rr(id, seen) AS (
        |    SELECT doc_id, doc_id FROM d
        |    UNION
        |    SELECT e.src, rr.seen FROM edges e JOIN rr ON rr.id = e.dst
        |  ) SELECT id, seen FROM rr)
        |SELECT id AS doc_id, min(seen) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // Same components; survivor = max n_chars (ties min id) per
    // cluster, replayed with an identical rank pick. Same bitstring
    // pair discovery + MATERIALIZED pinning as dedup_cluster.
    "dedup_cluster_best" ->
      """WITH RECURSIVE d AS MATERIALIZED (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), sh AS MATERIALIZED (
        |  SELECT doc_id, list_distinct(
        |    [substr(t, g, 5) for g in range(1, greatest(length(t) - 3, 2))]) AS shingles
        |  FROM d
        |), ex AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS sh FROM sh
        |), idx AS MATERIALIZED (
        |  SELECT sh, CAST(row_number() OVER (ORDER BY sh) - 1 AS INTEGER) AS i
        |  FROM (SELECT DISTINCT sh FROM ex)
        |), bs AS MATERIALIZED (
        |  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS nsh,
        |    bitstring_agg(x.i, 0, 65535) AS b,
        |    bitstring_agg(x.i % 1024, 0, 1023) AS bc
        |  FROM ex e JOIN idx x USING (sh) GROUP BY e.doc_id
        |), cand AS MATERIALIZED (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bs a JOIN bs b ON a.doc_id < b.doc_id
        |  WHERE a.nsh >= 0.8 * b.nsh AND b.nsh >= 0.8 * a.nsh
        |    AND a.nsh + b.nsh >= 1.8 * bit_count(a.bc | b.bc)
        |), pairs AS MATERIALIZED (
        |  SELECT id_a, id_b FROM (
        |    SELECT c.id_a, c.id_b,
        |      CAST(inter AS DOUBLE) / (nsh_a + nsh_b - inter) AS jaccard
        |    FROM (
        |      SELECT c0.id_a, c0.id_b, a.nsh AS nsh_a, b.nsh AS nsh_b,
        |        bit_count(a.b & b.b) AS inter
        |      FROM cand c0 JOIN bs a ON a.doc_id = c0.id_a
        |                   JOIN bs b ON b.doc_id = c0.id_b) c)
        |  WHERE jaccard >= 0.8
        |), edges AS MATERIALIZED (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), reach AS (
        |  WITH RECURSIVE rr(id, seen) AS (
        |    SELECT doc_id, doc_id FROM d
        |    UNION
        |    SELECT e.src, rr.seen FROM edges e JOIN rr ON rr.id = e.dst
        |  ) SELECT id, seen FROM rr)
        |
        |, comp AS (
        |  SELECT id AS doc_id, min(seen) AS cluster_id
        |  FROM reach GROUP BY id)
        |SELECT doc_id, n_chars FROM (
        |  SELECT c.doc_id, doc.n_chars,
        |    row_number() OVER (PARTITION BY c.cluster_id
        |      ORDER BY doc.n_chars DESC, c.doc_id) AS rk
        |  FROM comp c JOIN documents doc USING (doc_id))
        |WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    // The salted join must equal the plain join exactly.
    "q_skew_join" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |  p_name, p_brand
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // Concat-and-chunk packing: per-lang running token count → chunk
    // id/offset, replicated with a window cumsum.
    "q_chunk_windows" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        |), st AS (
        |  SELECT doc_id, toks, unnest(range(0, len(toks), 8)) AS s FROM tk)
        |SELECT doc_id, CAST(s // 8 AS BIGINT) AS chunk_id,
        |  CAST(len(toks[s+1:s+16]) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(toks[s+1:s+16], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,

    "q_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |      AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
        |      - n_tokens, 0) AS cum_before
        |  FROM d)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(floor(cum_before / 2048) AS BIGINT) AS seq_id,
        |  CAST(cum_before % 2048 AS BIGINT) AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    // the greedy walk has a sequential dependency (fill carries
    // forward), so the oracle replays it as a per-shard recursion
    // over rank order — bitwise the same decision rule as packGreedy
    "q_pack_greedy" ->
      """WITH RECURSIVE d AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |      AS n_tokens,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, lang, n_tokens, rn,
        |    CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset,
        |    coalesce(n_tokens, 0) AS fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.doc_id, d.lang, d.n_tokens, d.rn,
        |    CASE WHEN p.fill + coalesce(d.n_tokens, 0) > 1024 OR p.fill >= 1024
        |      THEN p.seq_id + 1 ELSE p.seq_id END,
        |    CASE WHEN p.fill + coalesce(d.n_tokens, 0) > 1024 OR p.fill >= 1024
        |      THEN CAST(0 AS BIGINT) ELSE p.fill END,
        |    CASE WHEN p.fill + coalesce(d.n_tokens, 0) > 1024 OR p.fill >= 1024
        |      THEN coalesce(d.n_tokens, 0) ELSE p.fill + coalesce(d.n_tokens, 0) END
        |  FROM d JOIN p
        |    ON d.lang IS NOT DISTINCT FROM p.lang AND d.rn = p.rn + 1)
        |SELECT doc_id, lang, n_tokens, seq_id, seq_offset
        |FROM p ORDER BY doc_id""".stripMargin,

    // Tokenizer-true packing: the q_bpe_encode merge-walk replay
    // produces per-doc BPE token counts, which feed the q_pack_greedy
    // recursive scan at budget 2048. Merge VALUES = bpeFixedMerges.
    "q_pack_bpe" ->
      """WITH RECURSIVE src AS (
        |  SELECT doc_id, lang, CASE WHEN text IS NULL THEN NULL ELSE
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) END AS t
        |  FROM documents
        |), merges(rank, a, b) AS (
        |  SELECT * FROM (VALUES
        |    (1,'t','h'),(2,'th','e'),(3,'i','n'),(4,'e','r'),(5,'o','r'),
        |    (6,'a','n'),(7,'s','t'),(8,'a','t'),(9,'in','d'),(10,'o','w'),
        |    (11,'ind','ow'),(12,'l','e')) m(rank, a, b)
        |), words AS (
        |  SELECT doc_id, u.p AS ord, wlist[CAST(u.p AS INTEGER)] AS w
        |  FROM (SELECT doc_id, regexp_split_to_array(t, ' ') AS wlist
        |        FROM src WHERE t IS NOT NULL AND t <> '') x,
        |       LATERAL (SELECT unnest(range(1, len(wlist) + 1)) AS p) u
        |), dw AS (SELECT DISTINCT w FROM words
        |), init AS (
        |  SELECT w, '|' || array_to_string(
        |    [substr(w, g, 1) for g in range(1, length(w) + 1)], '|') || '|' AS s
        |  FROM dw
        |), enc(w, s, it) AS (
        |  SELECT w, s, 0 FROM init
        |  UNION ALL
        |  SELECT e.w,
        |    substr(e.s, 1, position(('|' || m.a || '|' || m.b || '|') IN e.s) - 1)
        |      || '|' || m.a || m.b || '|' ||
        |      substr(e.s, position(('|' || m.a || '|' || m.b || '|') IN e.s)
        |        + length('|' || m.a || '|' || m.b || '|')),
        |    e.it + 1
        |  FROM enc e JOIN merges m ON m.rank = (
        |    SELECT min(m2.rank) FROM merges m2
        |    WHERE position(('|' || m2.a || '|' || m2.b || '|') IN e.s) > 0)
        |), fin AS (
        |  SELECT w, arg_max(s, it) AS s FROM enc GROUP BY w
        |), wtok AS (
        |  SELECT w, CAST(len(string_split(trim(s, '|'), '|')) AS BIGINT) AS ntok
        |  FROM fin
        |), counts AS (
        |  SELECT s2.doc_id, s2.lang,
        |    CASE WHEN s2.t IS NULL THEN NULL
        |         ELSE coalesce(p2.n_tokens, 0) END AS n_tokens_bpe
        |  FROM src s2 LEFT JOIN (
        |    SELECT wo.doc_id, CAST(sum(wt.ntok) AS BIGINT) AS n_tokens
        |    FROM words wo JOIN wtok wt USING (w) GROUP BY wo.doc_id) p2
        |  USING (doc_id)
        |), d AS MATERIALIZED (
        |  SELECT doc_id, lang, n_tokens_bpe,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM counts),
        |p AS (
        |  SELECT doc_id, lang, n_tokens_bpe, rn,
        |    CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset,
        |    coalesce(n_tokens_bpe, 0) AS fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.doc_id, d.lang, d.n_tokens_bpe, d.rn,
        |    CASE WHEN p.fill + coalesce(d.n_tokens_bpe, 0) > 2048 OR p.fill >= 2048
        |      THEN p.seq_id + 1 ELSE p.seq_id END,
        |    CASE WHEN p.fill + coalesce(d.n_tokens_bpe, 0) > 2048 OR p.fill >= 2048
        |      THEN CAST(0 AS BIGINT) ELSE p.fill END,
        |    CASE WHEN p.fill + coalesce(d.n_tokens_bpe, 0) > 2048 OR p.fill >= 2048
        |      THEN coalesce(d.n_tokens_bpe, 0) ELSE p.fill + coalesce(d.n_tokens_bpe, 0) END
        |  FROM d JOIN p
        |    ON d.lang IS NOT DISTINCT FROM p.lang AND d.rn = p.rn + 1)
        |SELECT doc_id, lang, n_tokens_bpe, seq_id, seq_offset
        |FROM p ORDER BY doc_id""".stripMargin,

    // The composed cleaning pipeline, replicated stage by stage:
    // quality formula (same IEEE op order as qualityFromMetrics),
    // lang+quality filter, fingerprint keep-first, md5 hash-band
    // sample at rate 0.5 (0.5 · 2^32 = 2147483648).
    "pipeline_clean_corpus" ->
      """WITH d AS (
        |  SELECT doc_id, source, lang, text,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
        |    CAST(length(text) AS DOUBLE) AS n
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, source, lang, text, n,
        |    CASE WHEN n = 0 THEN 0.0 ELSE
        |      length(regexp_replace(text, '[^[:punct:]]', '', 'g')) / n END AS praw,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      CAST(len(list_filter(toks, t -> list_contains(
        |        ['the','a','an','and','or','of','to','in','is','are','was',
        |         'for','on','with','as','at','by','it','be','this','that'], t)))
        |        AS DOUBLE) / len(toks) END AS sraw,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
        |        / len(toks) END AS mraw
        |  FROM d
        |), q AS (
        |  SELECT doc_id, source, lang, text,
        |    least(n / 200.0, 1.0) * 0.4
        |      + greatest(0.0, 1.0 - praw * 4.0) * 0.2
        |      + least(sraw * 5.0, 1.0) * 0.2
        |      + (CASE WHEN mraw >= 3.0 AND mraw <= 10.0
        |         THEN 1.0 ELSE 0.5 END) * 0.2 AS quality
        |  FROM m
        |), en AS (
        |  SELECT * FROM q WHERE lang = 'en' AND quality >= 0.5
        |), fp AS (
        |  SELECT doc_id, source, quality, row_number() OVER (
        |    PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')))
        |    ORDER BY doc_id) AS rk
        |  FROM en)
        |SELECT doc_id, source, r(quality, 4) AS quality
        |FROM fp
        |WHERE rk = 1
        |  AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    < 2147483648
        |ORDER BY doc_id""".stripMargin,

    // Roundtrips: the engine wrote and re-read the table through the
    // CSV / Arrow-IPC plugins; the oracle reads the original parquet.
    "q_csv_roundtrip" ->
      "SELECT * FROM customer ORDER BY c_custkey",

    "q_ipc_roundtrip" ->
      "SELECT * FROM customer ORDER BY c_custkey",

    "q_jsonl_roundtrip" ->
      "SELECT * FROM documents ORDER BY doc_id",

    "text_repetition" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-2 AS BIGINT), 'spam spam spam spam spam'),
        |    (CAST(-1 AS BIGINT), '   ')) v(doc_id, text)
        |), d AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM src
        |), grams AS (
        |  SELECT doc_id, toks[u.i] || ' ' || toks[u.i + 1] AS gram
        |  FROM d, LATERAL (SELECT unnest(range(1, len(toks))) AS i) u
        |  WHERE trim(text) <> '' AND len(toks) >= 2
        |), cov AS (
        |  SELECT doc_id, max(cnt * length(gram)) AS best
        |  FROM (SELECT doc_id, gram, count(*) AS cnt
        |        FROM grams GROUP BY doc_id, gram)
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  r(CASE WHEN trim(text) = '' THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
        |    END, 4) AS tok_rep,
        |  r(CASE WHEN length(t) = 0 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(
        |      [substr(t, g, 3) for g in range(1, greatest(length(t) - 1, 2))]))
        |      AS DOUBLE) / greatest(length(t) - 2, 1)
        |    END, 4) AS gram_rep,
        |  r(CASE WHEN trim(text) = '' OR len(toks) < 2 OR cov.best IS NULL
        |      THEN 0.0
        |    ELSE CAST(cov.best AS DOUBLE)
        |      / length(list_aggr(toks, 'string_agg', ' '))
        |    END, 4) AS top2_cov
        |FROM d LEFT JOIN cov ON d.doc_id = cov.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "text_redact_pii" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(-3 AS BIGINT), 'contact bob.smith+spam@example.co.uk or jane@test.org today'),
        |    (CAST(-2 AS BIGINT), 'server at 192.168.1.254 answered, call 555-867-5309 now'),
        |    (CAST(-1 AS BIGINT), 'mixed: a@b.io via 10.0.0.1 and 123.456.7890'))
        |    v(doc_id, text))
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phones
        |FROM src ORDER BY doc_id""".stripMargin,

    "q_contamination" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(regexp_replace(
        |    regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'),
        |    '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct([array_to_string(toks[g:g+7], ' ')
        |                             for g in range(1, len(toks) - 6)])
        |    END AS gs
        |  FROM d
        |), bench AS (
        |  SELECT DISTINCT g, bench_id FROM (
        |    SELECT doc_id AS bench_id, unnest(gs) AS g FROM grams
        |    WHERE doc_id < 5)
        |), docg AS (
        |  SELECT doc_id, unnest(gs) AS g FROM grams)
        |SELECT doc_id, count(*) AS n_overlap,
        |  count(DISTINCT bench_id) AS n_bench_docs
        |FROM docg JOIN bench USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_decontaminate" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(regexp_replace(
        |    regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'),
        |    '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct([array_to_string(toks[g:g+7], ' ')
        |                             for g in range(1, len(toks) - 6)])
        |    END AS gs
        |  FROM d
        |), bench AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(gs) AS g FROM grams WHERE doc_id < 5)
        |), hit AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id, unnest(gs) AS g FROM grams) dg
        |  JOIN bench USING (g)
        |)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM hit)
        |ORDER BY doc_id""".stripMargin,

    "q_sample_hash" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |  < 429496729
        |ORDER BY doc_id""".stripMargin,

    // band bounds are the Scala-side (cumulative-double * 2^32).toLong
    // constants — hardcoded so both engines cut at the identical hash
    "q_split" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
        |  FROM documents)
        |SELECT CASE WHEN hv < 3865470566 THEN 'train'
        |            WHEN hv < 4080218931 THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n, min(doc_id) AS min_id
        |FROM h GROUP BY split ORDER BY split""".stripMargin,

    "q_split_safe" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS cid FROM f),
        |h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(cid AS VARCHAR)), 1, 8))::BIGINT AS hv
        |  FROM c)
        |SELECT doc_id, CASE WHEN hv < 3865470566 THEN 'train'
        |                    WHEN hv < 4080218931 THEN 'val'
        |                    ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin,

    // the generic path: exact-Jaccard pair graph (bitstring
    // spelling, see dedup_ngram_verified) → recursive-reach
    // components → the same split bands (0.9·2^32, 0.95·2^32)
    "q_split_safe_neardup" ->
      """WITH RECURSIVE d AS MATERIALIZED (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), sh AS MATERIALIZED (
        |  SELECT doc_id, list_distinct(
        |    [substr(t, g, 5) for g in range(1, greatest(length(t) - 3, 2))]) AS shingles
        |  FROM d
        |), ex AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS sh FROM sh
        |), idx AS MATERIALIZED (
        |  SELECT sh, CAST(row_number() OVER (ORDER BY sh) - 1 AS INTEGER) AS i
        |  FROM (SELECT DISTINCT sh FROM ex)
        |), bs AS MATERIALIZED (
        |  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS nsh,
        |    bitstring_agg(x.i, 0, 65535) AS b,
        |    bitstring_agg(x.i % 1024, 0, 1023) AS bc
        |  FROM ex e JOIN idx x USING (sh) GROUP BY e.doc_id
        |), cand AS MATERIALIZED (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bs a JOIN bs b ON a.doc_id < b.doc_id
        |  WHERE a.nsh >= 0.8 * b.nsh AND b.nsh >= 0.8 * a.nsh
        |    AND a.nsh + b.nsh >= 1.8 * bit_count(a.bc | b.bc)
        |), pairs AS MATERIALIZED (
        |  SELECT id_a, id_b FROM (
        |    SELECT c.id_a, c.id_b,
        |      CAST(inter AS DOUBLE) / (nsh_a + nsh_b - inter) AS jaccard
        |    FROM (
        |      SELECT c0.id_a, c0.id_b, a.nsh AS nsh_a, b.nsh AS nsh_b,
        |        bit_count(a.b & b.b) AS inter
        |      FROM cand c0 JOIN bs a ON a.doc_id = c0.id_a
        |                   JOIN bs b ON b.doc_id = c0.id_b) c)
        |  WHERE jaccard >= 0.8
        |), edges AS MATERIALIZED (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), reach AS (
        |  WITH RECURSIVE rr(id, seen) AS (
        |    SELECT doc_id, doc_id FROM d
        |    UNION
        |    SELECT e.src, rr.seen FROM edges e JOIN rr ON rr.id = e.dst
        |  ) SELECT id, seen FROM rr)
        |, c AS (
        |  SELECT id AS doc_id, min(seen) AS cid FROM reach GROUP BY id
        |), h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(cid AS VARCHAR)), 1, 8))::BIGINT AS hv
        |  FROM c)
        |SELECT doc_id, CASE WHEN hv < 3865470566 THEN 'train'
        |                    WHEN hv < 4080218931 THEN 'val'
        |                    ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin,

    "q_quality_gate" ->
      """WITH d AS (
        |  SELECT doc_id, lang, text,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
        |    CAST(length(text) AS DOUBLE) AS n
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, lang, n,
        |    CASE WHEN n = 0 THEN 0.0 ELSE
        |      length(regexp_replace(text, '[^[:punct:]]', '', 'g')) / n END AS praw,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      CAST(len(list_filter(toks, t -> list_contains(
        |        ['the','a','an','and','or','of','to','in','is','are','was',
        |         'for','on','with','as','at','by','it','be','this','that'], t)))
        |        AS DOUBLE) / len(toks) END AS sraw,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
        |        / len(toks) END AS mraw
        |  FROM d
        |), q AS (
        |  SELECT doc_id, lang,
        |    r(least(n / 200.0, 1.0) * 0.4
        |      + greatest(0.0, 1.0 - praw * 4.0) * 0.2
        |      + least(sraw * 5.0, 1.0) * 0.2
        |      + (CASE WHEN mraw >= 3.0 AND mraw <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2,
        |      6) AS q
        |  FROM m
        |), th AS (
        |  SELECT lang, quantile_cont(q, 0.75) AS p75 FROM q GROUP BY lang
        |)
        |SELECT doc_id, q.lang AS lang, r(q.q, 4) AS quality
        |FROM q JOIN th USING (lang)
        |WHERE r(q.q, 4) >= r(th.p75, 4)
        |ORDER BY doc_id""".stripMargin,

    "q_sql_kernels" ->
      """WITH d AS (
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
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_mix_sources" ->
      """WITH weights(source, w) AS (
        |  SELECT * FROM (VALUES ('src0', CAST(0.5 AS DOUBLE)),
        |    ('src1', CAST(0.3 AS DOUBLE)), ('src2', CAST(0.2 AS DOUBLE))) v
        |), counts AS (
        |  SELECT d.source, count(*) AS c FROM documents d
        |  JOIN weights USING (source) GROUP BY d.source
        |), sc AS (
        |  SELECT min(CAST(c AS DOUBLE) / w) AS scale
        |  FROM counts JOIN weights USING (source)
        |), bands AS (
        |  SELECT source,
        |    CAST(floor(CASE WHEN CAST(c AS DOUBLE) / w = scale
        |      THEN CAST(1.0 AS DOUBLE)
        |      ELSE least(CAST(1.0 AS DOUBLE), scale * w / CAST(c AS DOUBLE)) END
        |      * 4294967296) AS BIGINT) AS band
        |  FROM counts JOIN weights USING (source), sc
        |)
        |SELECT d.doc_id, d.source FROM documents d JOIN bands USING (source)
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |  < band
        |ORDER BY d.doc_id""".stripMargin,

    // budget-mass mixing: identical band math with per-source
    // n_chars sums in place of row counts
    "q_mix_tokens" ->
      """WITH weights(source, w) AS (
        |  SELECT * FROM (VALUES ('src0', CAST(0.5 AS DOUBLE)),
        |    ('src1', CAST(0.3 AS DOUBLE)), ('src2', CAST(0.2 AS DOUBLE))) v
        |), counts AS (
        |  SELECT d.source, sum(d.n_chars) AS c FROM documents d
        |  JOIN weights USING (source) GROUP BY d.source
        |), sc AS (
        |  SELECT min(CAST(c AS DOUBLE) / w) AS scale
        |  FROM counts JOIN weights USING (source)
        |), bands AS (
        |  SELECT source,
        |    CAST(floor(CASE WHEN CAST(c AS DOUBLE) / w = scale
        |      THEN CAST(1.0 AS DOUBLE)
        |      ELSE least(CAST(1.0 AS DOUBLE), scale * w / CAST(c AS DOUBLE)) END
        |      * 4294967296) AS BIGINT) AS band
        |  FROM counts JOIN weights USING (source), sc
        |)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d JOIN bands USING (source)
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |  < band
        |ORDER BY d.doc_id""".stripMargin,

    // T=2 temperature mix: w = sqrt(mass) (exactly-rounded IEEE op),
    // then the identical scale/band derivation as q_mix_tokens —
    // operand-for-operand the same IEEE expression shapes the Scala
    // driver code evaluates, so bands match bit-for-bit
    "q_mix_temperature" ->
      """WITH counts AS (
        |  SELECT source, sum(n_chars) AS c FROM documents GROUP BY source
        |), w AS (
        |  SELECT source, c, sqrt(CAST(c AS DOUBLE)) AS w FROM counts
        |  WHERE c > 0
        |), sc AS (
        |  SELECT min(CAST(c AS DOUBLE) / w) AS scale FROM w
        |), bands AS (
        |  SELECT source,
        |    CAST(floor(CASE WHEN CAST(c AS DOUBLE) / w = scale
        |      THEN CAST(1.0 AS DOUBLE)
        |      ELSE least(CAST(1.0 AS DOUBLE), scale * w / CAST(c AS DOUBLE)) END
        |      * 4294967296) AS BIGINT) AS band
        |  FROM w, sc
        |)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d JOIN bands USING (source)
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |  < band
        |ORDER BY d.doc_id""".stripMargin,

    "q_sample_cap" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |      doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY doc_id""".stripMargin,

    // The oracle rebuilds every URL component from the synthetic
    // CONSTRUCTION (see synthUrl), so the Spark parser must recover
    // ground truth — including eTLD+1 via the two-level-suffix rule.
    "q_url_parse" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'http' ELSE 'https' END AS url_scheme,
        |  (['', 'www.', 'blog.'])[CAST(doc_id % 3 + 1 AS INT)]
        |    || 'site' || (doc_id % 37) || '.'
        |    || (['com', 'org', 'co.uk', 'io', 'com.au'])[CAST(doc_id % 5 + 1 AS INT)]
        |    AS url_host,
        |  'site' || (doc_id % 37) || '.'
        |    || (['com', 'org', 'co.uk', 'io', 'com.au'])[CAST(doc_id % 5 + 1 AS INT)]
        |    AS url_domain,
        |  (['', 'www', 'blog'])[CAST(doc_id % 3 + 1 AS INT)] AS url_subdomain,
        |  (['com', 'org', 'uk', 'io', 'au'])[CAST(doc_id % 5 + 1 AS INT)] AS url_tld,
        |  CASE doc_id % 3 WHEN 0 THEN '/'
        |    WHEN 1 THEN '/a' || (doc_id % 5)
        |    ELSE '/a' || (doc_id % 5) || '/b' || (doc_id % 11) END AS url_path,
        |  CASE WHEN doc_id % 2 = 0 THEN 'q=' || (doc_id % 13) END AS url_query,
        |  CAST(doc_id % 3 AS INT) AS url_path_depth
        |FROM documents ORDER BY doc_id""".stripMargin,

    // PSL ground truth stated independently per rule type (hand-
    // derived from the published-list algorithm): exact multi-level,
    // wildcard, exception, private-section, default-`*`, public-
    // suffix-as-host, trailing-dot, and literal-address rows.
    "q_url_psl" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, url_host, url_domain,
        |  url_subdomain, url_tld
        |FROM (VALUES
        |  (1, 'blog.example.co.uk', 'example.co.uk', 'blog', 'uk'),
        |  (2, 'a.council.gov.uk', 'council.gov.uk', 'a', 'uk'),
        |  (3, 'x.y.kawasaki.jp', 'x.y.kawasaki.jp', '', 'jp'),
        |  (4, 'www.city.kawasaki.jp', 'city.kawasaki.jp', 'www', 'jp'),
        |  (5, 'foo.shop.ck', 'foo.shop.ck', '', 'ck'),
        |  (6, 'www.ck', 'www.ck', '', 'ck'),
        |  (7, 'deep.user.github.io', 'user.github.io', 'deep', 'io'),
        |  (8, 'a.b.example.zz', 'example.zz', 'a.b', 'zz'),
        |  (9, 'co.uk', 'co.uk', '', 'uk'),
        |  (10, 'example.com', 'example.com', '', 'com'),
        |  (11, '93.184.216.34', '93.184.216.34', '', '34'),
        |  (12, '[2001:db8::1]', '[2001:db8::1]', '', '[2001:db8::1]'),
        |  (13, 'www.example.com', 'example.com', 'www', 'com')
        |) v(doc_id, url_host, url_domain, url_subdomain, url_tld)
        |ORDER BY doc_id""".stripMargin,

    "q_url_domain_cap" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY 'site' || (doc_id % 37) || '.'
        |      || (['com', 'org', 'co.uk', 'io', 'com.au'])[CAST(doc_id % 5 + 1 AS INT)]
        |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |      doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 2 ORDER BY doc_id""".stripMargin,

    // Recall/bounds gates: the oracle recomputes the exact columns
    // and asserts the quality gate held (the *_ok flags must be true).
    "dedup_emb_lsh_recall" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), nrm AS (
        |  SELECT vec_id,
        |    CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) = 0 THEN v
        |         ELSE list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
        |    END AS v
        |  FROM e
        |), smp AS (
        |  SELECT vec_id, v FROM nrm
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 512)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs, true AS recall_ok
        |FROM (
        |  SELECT DISTINCT least(s.vec_id, o.vec_id) AS id_a,
        |    greatest(s.vec_id, o.vec_id) AS id_b
        |  FROM smp s JOIN nrm o ON s.vec_id <> o.vec_id
        |  WHERE list_sum(list_transform(list_zip(s.v, o.v), p -> p[1] * p[2])) >= 0.3)""".stripMargin,

    // auto-scaled gate: identical exact-side oracle (the LSH
    // parameters are Spark-side; the oracle only recomputes the
    // sampled ground truth and asserts the flag) — which is what
    // makes this gate runnable unchanged at ANY scale fixture
    "dedup_emb_auto_recall" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), nrm AS (
        |  SELECT vec_id,
        |    CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) = 0 THEN v
        |         ELSE list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
        |    END AS v
        |  FROM e
        |), smp AS (
        |  SELECT vec_id, v FROM nrm
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 512)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs, true AS recall_ok
        |FROM (
        |  SELECT DISTINCT least(s.vec_id, o.vec_id) AS id_a,
        |    greatest(s.vec_id, o.vec_id) AS id_b
        |  FROM smp s JOIN nrm o ON s.vec_id <> o.vec_id
        |  WHERE list_sum(list_transform(list_zip(s.v, o.v), p -> p[1] * p[2])) >= 0.3)""".stripMargin,

    // banded gate: same sampled ground truth; the Spark side must
    // reach the 0.9 floor via band union for recall_ok to match
    "dedup_emb_banded_recall" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), nrm AS (
        |  SELECT vec_id,
        |    CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) = 0 THEN v
        |         ELSE list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
        |    END AS v
        |  FROM e
        |), smp AS (
        |  SELECT vec_id, v FROM nrm
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 512)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs, true AS recall_ok
        |FROM (
        |  SELECT DISTINCT least(s.vec_id, o.vec_id) AS id_a,
        |    greatest(s.vec_id, o.vec_id) AS id_b
        |  FROM smp s JOIN nrm o ON s.vec_id <> o.vec_id
        |  WHERE list_sum(list_transform(list_zip(s.v, o.v), p -> p[1] * p[2])) >= 0.3)""".stripMargin,

    // SemDeDup hash-cluster mode: DuckDB replays the identical md5
    // bucket map and the NOT EXISTS min-id survivor rule, so the full
    // survivor set hash-verifies row for row.
    "dedup_semantic" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), nrm AS (
        |  SELECT vec_id,
        |    CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) = 0 THEN v
        |         ELSE list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
        |    END AS v
        |  FROM e
        |), cl AS (
        |  SELECT vec_id, v,
        |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 16 AS c
        |  FROM nrm)
        |SELECT b.vec_id FROM cl b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM cl a
        |  WHERE a.c = b.c AND a.vec_id < b.vec_id
        |    AND list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) >= 0.4)
        |ORDER BY vec_id""".stripMargin,

    // kmeans-mode gate: the oracle pins the exact droppable count
    // over the bounded md5 sample; soundness and the recall floor are
    // engine-independent booleans the Spark side must prove true.
    "dedup_semantic_recall" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), nrm AS (
        |  SELECT vec_id,
        |    CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) = 0 THEN v
        |         ELSE list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
        |    END AS v
        |  FROM e
        |), smp AS (
        |  SELECT vec_id, v FROM nrm
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 512)
        |SELECT CAST(count(DISTINCT s.vec_id) AS BIGINT) AS n_droppable,
        |  true AS drops_sound, true AS recall_ok
        |FROM smp s JOIN nrm o ON o.vec_id < s.vec_id
        |WHERE list_sum(list_transform(list_zip(s.v, o.v), p -> p[1] * p[2])) >= 0.4""".stripMargin,

    "q_approx_sketch" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  true AS approx_ok, true AS median_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "sim_recall_lsh" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(*) * 5 AS BIGINT) AS n_possible,
        |  true AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "sim_recall_ivf" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(*) * 5 AS BIGINT) AS n_possible,
        |  true AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "sim_recall_index" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(*) * 5 AS BIGINT) AS n_possible,
        |  true AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "sim_recall_ivfpq" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(*) * 5 AS BIGINT) AS n_possible,
        |  true AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "sim_quantize_int8" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL
        |), s AS (
        |  SELECT vec_id, v, list_aggregate(v, 'min') AS mn,
        |    (list_aggregate(v, 'max') - list_aggregate(v, 'min')) / 255.0 AS sc
        |  FROM e)
        |SELECT vec_id, CAST(u.p - 1 AS BIGINT) AS pos,
        |  CAST(CASE WHEN sc = 0 THEN -128
        |    ELSE CAST(floor((v[CAST(u.p AS INTEGER)] - mn) / sc + 0.5 + 1e-6)
        |      AS BIGINT) - 128 END AS INTEGER) AS q
        |FROM s, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS p) u
        |ORDER BY vec_id, pos""".stripMargin,

    "sim_centroids" ->
      """WITH src AS (
        |  SELECT label, embedding FROM embeddings
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(-1 AS INTEGER), CAST(NULL AS FLOAT[])),
        |    (CAST(-1 AS INTEGER), CAST([1.0, 2.0] AS FLOAT[]))) v(label, embedding)
        |), ex AS (
        |  SELECT label, u.p - 1 AS pos, CAST(embedding[u.p] AS DOUBLE) AS x
        |  FROM src, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS p) u
        |  WHERE embedding IS NOT NULL
        |), m AS (
        |  SELECT label, pos, avg(x) AS mval, count(*) AS n
        |  FROM ex GROUP BY label, pos
        |)
        |SELECT label, CAST(pos AS INTEGER) AS pos, r(mval, 6) AS m,
        |  CAST(max(n) OVER (PARTITION BY label) AS BIGINT) AS n_vectors
        |FROM m ORDER BY label, pos""".stripMargin,

    // Byte-exact recomputation of the decode stub: n_bytes counts
    // UTF-8 BYTES (octet_length of the encoded payload, not chars)
    // and checksum sums the bytes themselves (hex-pair walk over the
    // encoded blob) — matches the stub on non-ASCII text, which the
    // unioned edge rows exercise. NULL payload → NULL meta.
    "multimodal_meta" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-3 AS BIGINT), CAST(NULL AS VARCHAR)),
        |    (CAST(-2 AS BIGINT), ''),
        |    (CAST(-1 AS BIGINT), 'héllo wörld — ünicode')) v(doc_id, text)
        |), d AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    CAST(coalesce(list_sum(list_transform(
        |      [substr(hex(encode(text)), 2*i + 1, 2)
        |       for i in range(octet_length(encode(text)))],
        |      x -> ('0x' || x)::BIGINT)), 0) AS BIGINT) AS checksum
        |  FROM src)
        |SELECT doc_id, n_bytes,
        |  CASE WHEN n_bytes IS NULL THEN NULL
        |       WHEN n_bytes % 3 = 0 THEN 'png'
        |       WHEN n_bytes % 3 = 1 THEN 'jpeg' ELSE 'webp' END AS format,
        |  CAST(CASE WHEN n_bytes IS NULL THEN NULL
        |       ELSE 64 + (n_bytes % 64) END AS INTEGER) AS width,
        |  CAST(CASE WHEN n_bytes IS NULL THEN NULL
        |       ELSE 64 + (checksum % 64) END AS INTEGER) AS height,
        |  CASE WHEN n_bytes IS NULL THEN NULL ELSE checksum END AS checksum
        |FROM d ORDER BY doc_id""".stripMargin,

    // Analytic replay of the real PNG resize: regenerate the pixel
    // function, box-average 2x2 blocks with integer-floor means
    // (partial edge blocks over covered pixels only — same semantics
    // as resizePngBox), and sum. If any stage of the codec path
    // (encode, deflate, inflate, filter reconstruction, resize,
    // re-encode, re-decode) misplaced a single byte, these exact
    // integer sums would not match.
    "multimodal_resize" ->
      """WITH ids AS (SELECT unnest(generate_series(1, 18)) AS id),
        |dims AS (
        |  SELECT id, 8 + id AS w, 6 + (id*3)%11 AS h,
        |    CASE id%3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch
        |  FROM ids),
        |nums AS (SELECT unnest(generate_series(0, 31)) AS n),
        |inpix AS (
        |  SELECT d.id, x.n AS x, y.n AS y, c.n AS c,
        |    (x.n*31 + y.n*17 + d.id*7 + c.n*5) % 256 AS v
        |  FROM dims d
        |  JOIN nums x ON x.n < d.w
        |  JOIN nums y ON y.n < d.h
        |  JOIN nums c ON c.n < d.ch),
        |blocks AS (
        |  SELECT id, x//2 AS ox, y//2 AS oy, c, SUM(v)//COUNT(*) AS bv
        |  FROM inpix GROUP BY id, x//2, y//2, c),
        |agg AS (
        |  SELECT id, SUM(bv) AS pixel_sum, COUNT(*) AS n_values
        |  FROM blocks GROUP BY id)
        |SELECT CAST(d.id AS BIGINT) AS doc_id,
        |  CAST((d.w+1)//2 AS INTEGER) AS out_w,
        |  CAST((d.h+1)//2 AS INTEGER) AS out_h,
        |  CAST(d.ch AS INTEGER) AS out_ch,
        |  CAST(a.pixel_sum AS BIGINT) AS pixel_sum,
        |  CAST(a.n_values AS BIGINT) AS n_values
        |FROM dims d JOIN agg a ON a.id = d.id
        |UNION ALL
        |SELECT CAST(g.id AS BIGINT), CAST((g.w+1)//2 AS INTEGER),
        |  CAST((g.h+1)//2 AS INTEGER), CAST(3 AS INTEGER),
        |  CAST(ga.pixel_sum AS BIGINT), CAST(ga.n_values AS BIGINT)
        |FROM (
        |  SELECT id, 9 + (id%5) AS w, 5 + (id%7) AS h
        |  FROM (SELECT unnest(generate_series(30, 37)) AS id)) g
        |JOIN (
        |  SELECT id, SUM(bv) AS pixel_sum, COUNT(*) AS n_values FROM (
        |    SELECT p.id, p.x//2 AS ox, p.y//2 AS oy, p.c,
        |      SUM(p.v)//COUNT(*) AS bv
        |    FROM (
        |      SELECT d.id, x.n AS x, y.n AS y, c.n AS c,
        |        (((x.n*13 + y.n*7 + d.id) % 256) * (c.n+1)) % 256 AS v
        |      FROM (
        |        SELECT id, 9 + (id%5) AS w, 5 + (id%7) AS h
        |        FROM (SELECT unnest(generate_series(30, 37)) AS id)) d
        |      JOIN (SELECT unnest(generate_series(0, 31)) AS n) x
        |        ON x.n < d.w
        |      JOIN (SELECT unnest(generate_series(0, 31)) AS n) y
        |        ON y.n < d.h
        |      JOIN (SELECT unnest(generate_series(0, 2)) AS n) c
        |        ON true) p
        |    GROUP BY p.id, p.x//2, p.y//2, p.c)
        |  GROUP BY id) ga ON ga.id = g.id
        |UNION ALL
        |SELECT CAST(100 AS BIGINT), CAST(NULL AS INTEGER),
        |  CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |UNION ALL
        |SELECT CAST(101 AS BIGINT), CAST(NULL AS INTEGER),
        |  CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |ORDER BY doc_id""".stripMargin,

    // Analytic replay of real PNG frame extraction: per-frame
    // generator dims and exact pixel sums.
    "multimodal_frames_png" ->
      """WITH ids AS (SELECT unnest(generate_series(1, 8)) AS id),
        |fr AS (SELECT unnest(generate_series(0, 2)) AS f),
        |dims AS (
        |  SELECT id, f, 4 + (id + f)%5 AS w, 3 + (id*2 + f)%4 AS h,
        |    CASE f%3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch
        |  FROM ids, fr),
        |nums AS (SELECT unnest(generate_series(0, 8)) AS n),
        |pix AS (
        |  SELECT d.id, d.f, d.w, d.h, d.ch,
        |    (x.n*29 + y.n*13 + d.id*11 + d.f*3 + c.n*5) % 256 AS v
        |  FROM dims d
        |  JOIN nums x ON x.n < d.w
        |  JOIN nums y ON y.n < d.h
        |  JOIN nums c ON c.n < d.ch)
        |SELECT CAST(id AS BIGINT) AS doc_id, CAST(f AS INTEGER) AS frame_idx,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(ch AS INTEGER) AS channels, CAST(SUM(v) AS BIGINT) AS pixel_sum
        |FROM pix GROUP BY id, f, w, h, ch
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // Expected metadata for the real-header fixtures, computed
    // independently from the container specs (PNG sig+IHDR = 33
    // bytes; minimal JPEG SOI+APP0+SOF+EOI = 27; GIF header+trailer
    // = 14). Doc 6 ("xx") takes the stub fallback: n=2 ⇒ webp,
    // width 64+2, checksum 2×120=240 ⇒ height 64+(240%64)=112.
    "multimodal_headers" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'png',  640,   480,   CAST(33 AS BIGINT), CAST(1812 AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'png',  16384, 16384, CAST(33 AS BIGINT), CAST(1392 AS BIGINT)),
        |  (CAST(3 AS BIGINT), 'jpeg', 800,   600,   CAST(27 AS BIGINT), CAST(2100 AS BIGINT)),
        |  (CAST(4 AS BIGINT), 'jpeg', 320,   240,   CAST(27 AS BIGINT), CAST(2282 AS BIGINT)),
        |  (CAST(5 AS BIGINT), 'gif',  12,    34,    CAST(14 AS BIGINT), CAST(529 AS BIGINT)),
        |  (CAST(6 AS BIGINT), 'webp', 66,    112,   CAST(2 AS BIGINT),  CAST(240 AS BIGINT))
        |) t(doc_id, format, width, height, n_bytes, checksum)
        |ORDER BY doc_id""".stripMargin,

    "multimodal_frames" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents)
        |SELECT doc_id, CAST(f.range AS INTEGER) AS frame_idx,
        |  CAST(floor(f.range * n_bytes / 4.0) AS BIGINT) AS "offset",
        |  n_bytes
        |FROM d CROSS JOIN range(4) f
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "q_array_funcs" ->
      """SELECT vec_id, len(embedding) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS first_val,
        |  len(list_filter(embedding, x -> x > 0)) AS n_pos,
        |  r(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 4)
        |    AS head_sum
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_asof_join" ->
      """WITH clicks AS (
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
        |ORDER BY c.event_id""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  r(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  r(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    // quantile_cont ignores NULL values; the all-NULL group 'Z'
    // still yields a row (NULL percentiles) — same edge rows as the
    // Spark side unions in.
    "q_percentile" ->
      """WITH src AS (
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
        |FROM src GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_range_join" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |            FROM events),
        |clicks AS (SELECT event_id AS click_id, user_id, ts_us AS click_us
        |           FROM ev WHERE event_type = 'click'),
        |views AS (SELECT event_id AS view_id, user_id, ts_us AS view_us
        |          FROM ev WHERE event_type = 'view')
        |SELECT click_id, view_id, c.user_id AS user_id
        |FROM clicks c JOIN views v
        |  ON c.user_id = v.user_id
        | AND abs(c.click_us - v.view_us) <= 3600000000
        |ORDER BY click_id, view_id""".stripMargin,

    "events_sessionize" ->
      """WITH e AS (
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
        |ORDER BY user_id, session_id""".stripMargin,

    // retention triangle over integer 7-day period grids
    "events_cohort" ->
      """WITH e AS (
        |  SELECT user_id, (epoch_ns(ts) // 1000000000) // 604800 AS p
        |  FROM events
        |), fp AS (SELECT user_id, min(p) AS cohort FROM e GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, p FROM e)
        |SELECT fp.cohort AS cohort_period,
        |  act.p - fp.cohort AS period_offset,
        |  count(DISTINCT act.user_id) AS n_active
        |FROM act JOIN fp USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // greedy earliest-match funnel: each step's match is the minimum
    // event time strictly after the previous step's match
    "events_funnel" ->
      """WITH e AS (
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
        |ORDER BY user_id""".stripMargin,

    // dense per-user grid + forward fill; representative = latest
    // second in the slot, ties by max value (total order both
    // engines replay); range() end-exclusive -> hi + 1 includes hi
    "events_resample" ->
      """WITH e AS (
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
        |FROM j ORDER BY user_id, slot_start""".stripMargin,

    // session_window semantics: same 30-min gap islands; window end =
    // last event + gap (the operator's contract), no session_id in
    // the output (start identifies the session)
    "events_session_window" ->
      """WITH e AS (
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
        |ORDER BY user_id, session_start""".stripMargin,

    "events_window" ->
      """SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_start,
        |  event_type, count(*) AS n, r(sum(value), 2) AS sum_value
        |FROM events GROUP BY hour_start, event_type
        |ORDER BY hour_start, event_type""".stripMargin,

    // Same aggregation, restricted to the windows a 2-hour watermark
    // finalizes in append mode: window_end ≤ max(event_time) − 2h.
    "stream_events_window" ->
      """WITH mx AS (SELECT max(epoch(ts)) AS m FROM events)
        |SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_start,
        |  event_type, count(*) AS n, r(sum(value), 2) AS sum_value
        |FROM events, mx
        |GROUP BY hour_start, event_type, m
        |HAVING hour_start + 3600 <= m - 7200
        |ORDER BY hour_start, event_type""".stripMargin,

    // deterministic part of streaming dropDuplicates: the distinct
    // fingerprint set (the surviving doc_id depends on arrival order)
    "stream_dedup_fingerprint" ->
      """SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY fingerprint""".stripMargin,

    "stream_snapshot" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    // identical to events_resample: the streaming operator's
    // single-batch replay must equal the batch grid row for row
    "stream_resample" ->
      """WITH e AS (
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
        |FROM j ORDER BY user_id, slot_start""".stripMargin,

    // batch replay of the stream-scored NB model: same capped 64-term
    // selection (exact-rational deviation key), same ln-difference
    // weights, r()-rounded score before the >= 0 sign decision
    "stream_classify" ->
      (nbCommonCtes +
        """, counts AS (
        |  SELECT term,
        |    count(*) FILTER (WHERE label = 'hi') AS n_a,
        |    count(*) FILTER (WHERE label = 'lo') AS n_b
        |  FROM trtoks GROUP BY term
        |), totals AS (
        |  SELECT count(*) FILTER (WHERE label = 'hi') AS tot_a,
        |    count(*) FILTER (WHERE label = 'lo') AS tot_b,
        |    count(DISTINCT term) AS v
        |  FROM trtoks
        |), wts AS (
        |  SELECT term,
        |    ln(CAST(n_a + 1 AS DOUBLE) / (tot_a + v)) -
        |      ln(CAST(n_b + 1 AS DOUBLE) / (tot_b + v)) AS w,
        |    (CAST(n_a + 1 AS DOUBLE) / (tot_a + v)) *
        |      (CAST(tot_b + v AS DOUBLE) / (n_b + 1)) AS odds_exact
        |  FROM counts CROSS JOIN totals
        |), model AS (
        |  SELECT term, w FROM wts
        |  ORDER BY greatest(odds_exact, 1.0 / odds_exact) DESC, term ASC
        |  LIMIT 64
        |), prior AS (
        |  SELECT ln(CAST(count(*) FILTER (WHERE label = 'hi') AS DOUBLE)) -
        |    ln(CAST(count(*) FILTER (WHERE label = 'lo') AS DOUBLE)) AS p
        |  FROM lab WHERE doc_id % 5 <> 0
        |), contrib AS (
        |  SELECT toks.doc_id, sum(m.w) AS s
        |  FROM toks JOIN model m USING (term)
        |  GROUP BY toks.doc_id
        |), scored AS (
        |  SELECT d.doc_id, r(prior.p + coalesce(contrib.s, 0.0), 4) AS score
        |  FROM d CROSS JOIN prior
        |  LEFT JOIN contrib ON d.doc_id = contrib.doc_id
        |  WHERE length(d.t) > 0)
        |SELECT doc_id, CASE WHEN score >= 0 THEN 'hi' ELSE 'lo' END AS pred,
        |  score
        |FROM scored ORDER BY doc_id""").stripMargin,

    // exact batch recomputation of the streaming interval join:
    // whole-second truncation (integer //), 30-minute lookback,
    // inclusive bounds
    "stream_interval_join" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    epoch_ns(ts) // 1000000000 AS purchase_t
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT event_id AS click_id, user_id,
        |    epoch_ns(ts) // 1000000000 AS click_t
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT p.purchase_id, c.click_id, p.user_id, p.purchase_t, c.click_t
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.click_t >= p.purchase_t - 1800 AND c.click_t <= p.purchase_t
        |ORDER BY p.purchase_id, c.click_id""".stripMargin,

    // identical batch semantics to stream_interval_join — the two-
    // source topology changes the execution, not the result
    "stream_stream_join" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    epoch_ns(ts) // 1000000000 AS purchase_t
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT event_id AS click_id, user_id,
        |    epoch_ns(ts) // 1000000000 AS click_t
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT p.purchase_id, c.click_id, p.user_id, p.purchase_t, c.click_t
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.click_t >= p.purchase_t - 1800 AND c.click_t <= p.purchase_t
        |ORDER BY p.purchase_id, c.click_id""".stripMargin,

    // k=8 token windows, md5-keyed; dup = ≥2 occurrences anywhere.
    // range(1, len-6) is end-exclusive = positions 1..len-7 = the
    // len-k+1 windows; list slice toks[i:i+7] is inclusive = k tokens.
    "dedup_span_stats" ->
      """WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), dt AS (
        |  SELECT doc_id, CASE WHEN length(t) = 0 THEN []
        |    ELSE regexp_split_to_array(t, ' ') END AS toks
        |  FROM d
        |), g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    md5(array_to_string(toks[i:i+7], ' ')) AS h
        |  FROM dt, unnest(CASE WHEN len(toks) >= 8
        |    THEN range(1, len(toks) - 6) ELSE [] END) u(i)
        |), dup AS (
        |  SELECT h FROM g GROUP BY h HAVING count(*) >= 2
        |), gf AS (
        |  SELECT g.doc_id, g.pos, (dup.h IS NOT NULL) AS isdup
        |  FROM g LEFT JOIN dup ON g.h = dup.h
        |), st AS (
        |  SELECT doc_id, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN isdup THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_grams
        |  FROM gf GROUP BY doc_id
        |), cov AS (
        |  SELECT doc_id, count(DISTINCT tok) AS covered
        |  FROM gf, unnest(range(pos, pos + 8)) u(tok)
        |  WHERE isdup GROUP BY doc_id
        |), nt AS (
        |  SELECT doc_id, CAST(CASE WHEN length(t) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(t, ' ')) END AS BIGINT)
        |    AS n_tokens
        |  FROM d)
        |SELECT nt.doc_id, nt.n_tokens,
        |  coalesce(st.n_grams, 0) AS n_grams,
        |  coalesce(st.n_dup_grams, 0) AS n_dup_grams,
        |  coalesce(cov.covered, 0) AS covered_tokens,
        |  CASE WHEN coalesce(st.n_grams, 0) = 0 THEN CAST(0 AS DOUBLE)
        |    ELSE CAST(st.n_dup_grams AS DOUBLE) / st.n_grams END
        |    AS dup_gram_ratio,
        |  CASE WHEN nt.n_tokens = 0 THEN CAST(0 AS DOUBLE)
        |    ELSE CAST(coalesce(cov.covered, 0) AS DOUBLE) / nt.n_tokens END
        |    AS coverage_ratio
        |FROM nt LEFT JOIN st USING (doc_id) LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // same window/count/coverage construction as dedup_span_stats,
    // then a token-level rebuild of the uncovered positions
    "dedup_span_removal" ->
      """WITH d AS (
        |  SELECT doc_id, text, trim(regexp_replace(regexp_replace(
        |    lower(text), '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), dt AS (
        |  SELECT doc_id, CASE WHEN length(t) = 0 THEN []
        |    ELSE regexp_split_to_array(t, ' ') END AS toks
        |  FROM d
        |), g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    md5(array_to_string(toks[i:i+7], ' ')) AS h
        |  FROM dt, unnest(CASE WHEN len(toks) >= 8
        |    THEN range(1, len(toks) - 6) ELSE [] END) u(i)
        |), dup AS (
        |  SELECT h FROM g GROUP BY h HAVING count(*) >= 2
        |), covp AS (
        |  SELECT DISTINCT g.doc_id, tok AS p
        |  FROM g JOIN dup ON g.h = dup.h,
        |    unnest(range(pos, pos + 8)) u(tok)
        |), tk AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS p, toks[i] AS tok
        |  FROM dt, unnest(CASE WHEN len(toks) >= 1
        |    THEN range(1, len(toks) + 1) ELSE [] END) u(i)
        |), reb AS (
        |  SELECT tk.doc_id, string_agg(tk.tok, ' ' ORDER BY tk.p) AS clean
        |  FROM tk LEFT JOIN covp ON tk.doc_id = covp.doc_id AND tk.p = covp.p
        |  WHERE covp.p IS NULL
        |  GROUP BY tk.doc_id
        |), remcnt AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nrem
        |  FROM covp GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.text IS NULL THEN NULL
        |    ELSE coalesce(reb.clean, '') END AS clean_text,
        |  CASE WHEN d.text IS NULL THEN NULL
        |    ELSE coalesce(remcnt.nrem, 0) END AS n_tokens_removed
        |FROM d LEFT JOIN reb USING (doc_id) LEFT JOIN remcnt USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // 5 unrolled power-method iterations over the symmetrized
    // customer–supplier edge set; no dangling term needed (every node
    // of a symmetric graph has out-degree ≥ 1, and the Spark side's
    // dangling aggregate is exactly 0 there too). Every CTE is
    // MATERIALIZED: without the pin DuckDB inlines the iteration
    // chain and replays subtrees — measured 714.8 s vs 20.9 s pinned
    // at the ×10 fixture (hash-identical both ways), which is what
    // made the sf1 gate SLOW-SKIP this oracle in round 12.
    "q_pagerank" ->
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), e AS MATERIALIZED (
        |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
        |), nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
        |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS d
        |        FROM e GROUP BY src),
        |r0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank
        |       FROM nodes, nn),
        |r1 AS MATERIALIZED (SELECT nodes.node,
        |    (1 - 0.85) / nn.n + 0.85 * coalesce(c.s, 0) AS rank
        |  FROM nodes CROSS JOIN nn LEFT JOIN (
        |    SELECT e.dst AS node, sum(r0.rank / deg.d) AS s
        |    FROM e JOIN deg ON e.src = deg.src JOIN r0 ON e.src = r0.node
        |    GROUP BY e.dst) c ON nodes.node = c.node),
        |r2 AS MATERIALIZED (SELECT nodes.node,
        |    (1 - 0.85) / nn.n + 0.85 * coalesce(c.s, 0) AS rank
        |  FROM nodes CROSS JOIN nn LEFT JOIN (
        |    SELECT e.dst AS node, sum(r1.rank / deg.d) AS s
        |    FROM e JOIN deg ON e.src = deg.src JOIN r1 ON e.src = r1.node
        |    GROUP BY e.dst) c ON nodes.node = c.node),
        |r3 AS MATERIALIZED (SELECT nodes.node,
        |    (1 - 0.85) / nn.n + 0.85 * coalesce(c.s, 0) AS rank
        |  FROM nodes CROSS JOIN nn LEFT JOIN (
        |    SELECT e.dst AS node, sum(r2.rank / deg.d) AS s
        |    FROM e JOIN deg ON e.src = deg.src JOIN r2 ON e.src = r2.node
        |    GROUP BY e.dst) c ON nodes.node = c.node),
        |r4 AS MATERIALIZED (SELECT nodes.node,
        |    (1 - 0.85) / nn.n + 0.85 * coalesce(c.s, 0) AS rank
        |  FROM nodes CROSS JOIN nn LEFT JOIN (
        |    SELECT e.dst AS node, sum(r3.rank / deg.d) AS s
        |    FROM e JOIN deg ON e.src = deg.src JOIN r3 ON e.src = r3.node
        |    GROUP BY e.dst) c ON nodes.node = c.node),
        |r5 AS MATERIALIZED (SELECT nodes.node,
        |    (1 - 0.85) / nn.n + 0.85 * coalesce(c.s, 0) AS rank
        |  FROM nodes CROSS JOIN nn LEFT JOIN (
        |    SELECT e.dst AS node, sum(r4.rank / deg.d) AS s
        |    FROM e JOIN deg ON e.src = deg.src JOIN r4 ON e.src = r4.node
        |    GROUP BY e.dst) c ON nodes.node = c.node)
        |SELECT node, r(rank * nn.n, 6) AS rank_n
        |FROM r5, nn ORDER BY node""".stripMargin,

    // run-collapse + interval close; IS DISTINCT FROM mirrors the
    // Spark side's null-safe <=> change detection.
    "q_scd2" ->
      """WITH w1 AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    CASE WHEN row_number() OVER w = 1 THEN 1
        |         WHEN o_orderstatus IS DISTINCT FROM
        |              lag(o_orderstatus) OVER w THEN 1
        |         ELSE 0 END AS chg
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)
        |), runs0 AS (
        |  SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS run
        |  FROM w1
        |), runs AS (
        |  SELECT o_custkey, run AS version,
        |    min(o_orderstatus) AS o_orderstatus,
        |    min(o_orderdate) AS valid_from, count(*) AS n_events
        |  FROM runs0 GROUP BY o_custkey, run)
        |SELECT o_custkey, version, o_orderstatus, valid_from,
        |  lead(valid_from) OVER wv AS valid_to,
        |  (lead(valid_from) OVER wv IS NULL) AS is_current,
        |  n_events
        |FROM runs
        |WINDOW wv AS (PARTITION BY o_custkey ORDER BY version)
        |ORDER BY o_custkey, version""".stripMargin,

    // rank by the exact-rational tf/df key (ln is display-only; see
    // the Spark-side comment), smoothed-log score rounded to 4.
    "text_tfidf" ->
      """WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(t, ' ')) AS term
        |  FROM d WHERE length(t) > 0
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM toks GROUP BY doc_id, term
        |), dfq AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
        |), n AS (SELECT count(*) AS nn FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |    tf.tf * (ln(CAST(1 + nn AS DOUBLE) /
        |      CAST(1 + dfq.df AS DOUBLE)) + 1) AS tfidf,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE) / dfq.df DESC, tf.term)
        |      AS rank
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n)
        |SELECT doc_id, rank, term, tf, df, r(tfidf, 4) AS tfidf
        |FROM scored WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // BM25 (Lucene-shaped idf); same normalize/tokenize CTEs as
    // text_tfidf, avgdl = sum(dl)/N over ALL docs, raw-score rank
    // with doc_id tie-break, rounded score for the hash.
    "text_bm25" ->
      """WITH q(query_id, qtext) AS (VALUES
        |  ('q1', 'table scan filter'), ('q2', 'spark stream window'),
        |  ('q3', 'customer order query'), ('q4', 'hash join merge'),
        |  ('q5', 'sort group agg')),
        |d AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(t, ' ')) AS term
        |  FROM d WHERE length(t) > 0
        |), dl AS (
        |  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
        |  FROM toks GROUP BY doc_id
        |), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |ad AS (SELECT sum(dl) / (SELECT n FROM nn) AS avgdl FROM dl),
        |qn AS (
        |  SELECT query_id, trim(regexp_replace(regexp_replace(lower(qtext),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM q
        |), qt AS (
        |  SELECT DISTINCT query_id, term FROM (
        |    SELECT query_id, unnest(regexp_split_to_array(t, ' ')) AS term
        |    FROM qn WHERE length(t) > 0)
        |), tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM toks WHERE term IN (SELECT term FROM qt)
        |  GROUP BY doc_id, term
        |), dfq AS (
        |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
        |), scored AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    ln(1 + ((SELECT n FROM nn) - df + 0.5) / (df + 0.5)) *
        |      (tf * 2.2) /
        |      (tf + 1.2 * (0.25 + 0.75 * dl / (SELECT avgdl FROM ad))) AS s
        |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
        |    JOIN dl USING (doc_id)
        |), agg AS (
        |  SELECT query_id, doc_id, sum(s) AS score
        |  FROM scored GROUP BY query_id, doc_id
        |), ranked AS (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS rank
        |  FROM agg)
        |SELECT query_id, rank, doc_id, r(score, 4) AS score
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // bigram heavy hitters: same normalize as text_tfidf; integer
    // counts make the rank exact.
    "text_top_ngrams" ->
      """WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(t, ' ') AS arr
        |  FROM d WHERE length(t) > 0
        |), g AS (
        |  SELECT doc_id, arr[i] || ' ' || arr[i + 1] AS ngram
        |  FROM toks, unnest(range(1, len(arr))) u(i)
        |), agg AS (
        |  SELECT ngram, count(*) AS n_occurrences,
        |    count(DISTINCT doc_id) AS n_docs
        |  FROM g GROUP BY ngram
        |), top AS (
        |  SELECT * FROM agg ORDER BY n_occurrences DESC, ngram LIMIT 50)
        |SELECT row_number() OVER (ORDER BY n_occurrences DESC, ngram)
        |    AS rank, ngram, n_occurrences, n_docs
        |FROM top ORDER BY rank""".stripMargin,

    // plain BETWEEN join replay of the custom interval operator
    "q_interval_join" ->
      """WITH p AS (
        |  SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS v
        |  FROM orders
        |), i AS (
        |  SELECT s_suppkey, s_suppkey * 3000 AS lo,
        |    s_suppkey * 3000 + 4499 AS hi
        |  FROM supplier)
        |SELECT o_orderkey, s_suppkey, v
        |FROM p JOIN i ON v BETWEEN lo AND hi
        |ORDER BY o_orderkey, s_suppkey""".stripMargin,

    // cross-table blocked fuzzy match, replayed block for block
    "q_fuzzy_match" ->
      """WITH l0 AS (
        |  SELECT DISTINCT p_name FROM part WHERE p_partkey % 2 = 1
        |), r0 AS (
        |  SELECT DISTINCT p_name FROM part WHERE p_partkey % 2 = 0
        |), l AS (
        |  SELECT p_name AS id, trim(regexp_replace(regexp_replace(
        |    lower(p_name), '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS s
        |  FROM l0
        |), r AS (
        |  SELECT p_name AS id, trim(regexp_replace(regexp_replace(
        |    lower(p_name), '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS s
        |  FROM r0
        |), lk AS (
        |  SELECT id, s, unnest(list_distinct(
        |    [string_split(s, ' ')[1], string_split(s, ' ')[-1]])) AS bk
        |  FROM l WHERE length(s) > 0
        |), rk AS (
        |  SELECT id, s, unnest(list_distinct(
        |    [string_split(s, ' ')[1], string_split(s, ' ')[-1]])) AS bk
        |  FROM r WHERE length(s) > 0
        |), cand AS (
        |  SELECT DISTINCT a.id AS left_id, b.id AS right_id,
        |    a.s AS s_l, b.s AS s_r
        |  FROM lk a JOIN rk b ON a.bk = b.bk
        |  WHERE abs(length(a.s) - length(b.s)) <= 1)
        |SELECT left_id, right_id, s_l, s_r,
        |  CAST(levenshtein(s_l, s_r) AS BIGINT) AS distance
        |FROM cand WHERE levenshtein(s_l, s_r) <= 1
        |ORDER BY left_id, right_id""".stripMargin,

    // cross-side near-dup verifier: odd batch docs kept iff no
    // even reference doc reaches jaccard 0.8 — all cross pairs, with
    // the bitstring intersection spelling (see dedup_ngram_verified)
    "dedup_incr_neardup" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), sh AS MATERIALIZED (
        |  SELECT doc_id, list_distinct(
        |    [substr(t, g, 5) for g in range(1, greatest(length(t) - 3, 2))]) AS shingles
        |  FROM d
        |), ex AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS sh FROM sh
        |), idx AS MATERIALIZED (
        |  SELECT sh, CAST(row_number() OVER (ORDER BY sh) - 1 AS INTEGER) AS i
        |  FROM (SELECT DISTINCT sh FROM ex)
        |), bs AS MATERIALIZED (
        |  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS nsh,
        |    bitstring_agg(x.i, 0, 65535) AS b,
        |    bitstring_agg(x.i % 1024, 0, 1023) AS bc
        |  FROM ex e JOIN idx x USING (sh) GROUP BY e.doc_id
        |), cand AS MATERIALIZED (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bs a JOIN bs b
        |    ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |  WHERE a.nsh >= 0.8 * b.nsh AND b.nsh >= 0.8 * a.nsh
        |    AND a.nsh + b.nsh >= 1.8 * bit_count(a.bc | b.bc)
        |), dropped AS (
        |  SELECT DISTINCT c.id_a AS doc_id
        |  FROM cand c JOIN bs a ON a.doc_id = c.id_a
        |              JOIN bs b ON b.doc_id = c.id_b
        |  WHERE CAST(bit_count(a.b & b.b) AS DOUBLE) /
        |      (a.nsh + b.nsh - bit_count(a.b & b.b)) >= 0.8)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY doc_id""".stripMargin,

    "q_interval_join_sql" ->
      """WITH p AS (
        |  SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS v
        |  FROM orders
        |), i AS (
        |  SELECT s_suppkey, s_suppkey * 3000 AS lo,
        |    s_suppkey * 3000 + 4499 AS hi
        |  FROM supplier)
        |SELECT o_orderkey, s_suppkey, v
        |FROM p JOIN i ON v BETWEEN lo AND hi
        |ORDER BY o_orderkey, s_suppkey""".stripMargin,

    // blocked fuzzy pairs: first/last-token blocking, length band,
    // levenshtein verify — mirrors the Spark op block for block.
    "q_fuzzy_pairs" ->
      """WITH p AS (SELECT DISTINCT p_name FROM part),
        |n AS (
        |  SELECT p_name AS id, trim(regexp_replace(regexp_replace(
        |    lower(p_name), '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS s
        |  FROM p
        |), k AS (
        |  SELECT id, s, unnest(list_distinct(
        |    [string_split(s, ' ')[1], string_split(s, ' ')[-1]])) AS bk
        |  FROM n WHERE length(s) > 0
        |), cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
        |    a.s AS s_a, b.s AS s_b
        |  FROM k a JOIN k b ON a.bk = b.bk AND a.id < b.id
        |  WHERE abs(length(a.s) - length(b.s)) <= 2)
        |SELECT id_a, id_b, s_a, s_b,
        |  CAST(levenshtein(s_a, s_b) AS BIGINT) AS distance
        |FROM cand WHERE levenshtein(s_a, s_b) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // centroid-distance outlier screen: per-label mean vector,
    // euclidean distance, rank-based 90% band
    "sim_outliers" ->
      """WITH u AS (
        |  SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS pos,
        |    CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings,
        |    unnest(range(1, len(embedding) + 1)) t(i)
        |), m AS (
        |  SELECT label, pos, avg(x) AS m FROM u GROUP BY label, pos
        |), dist AS (
        |  SELECT vec_id, label, sqrt(sum((x - m) * (x - m))) AS dist
        |  FROM u JOIN m USING (label, pos) GROUP BY vec_id, label
        |), p AS (
        |  SELECT vec_id, label, dist,
        |    percent_rank() OVER (PARTITION BY label ORDER BY dist)
        |      AS pct_rank
        |  FROM dist)
        |SELECT vec_id, label, r(dist, 4) AS dist, pct_rank FROM p
        |WHERE pct_rank >= 0.0 AND pct_rank <= 0.9
        |ORDER BY vec_id""".stripMargin,

    "sim_recall_knn" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(*) * 3 AS BIGINT) AS n_possible,
        |  true AS recall_ok
        |FROM embeddings""".stripMargin,

    // clustered fixture = 8× the embeddings table, k = 5
    "sim_recall_knn_clustered" ->
      """SELECT CAST(count(*) * 8 AS BIGINT) AS n_queries,
        |  CAST(count(*) * 8 * 5 AS BIGINT) AS n_possible,
        |  true AS recall_ok
        |FROM embeddings""".stripMargin,

    // self kNN: the sim_topk_brute construction over every vector
    "sim_knn_graph" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), nrm AS (
        |  SELECT vec_id,
        |    CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) = 0 THEN v
        |         ELSE list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
        |    END AS v
        |  FROM e
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.v, c.v),
        |      p -> p[1] * p[2])) AS cos_raw
        |  FROM nrm q JOIN nrm c ON c.vec_id <> q.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, r(cos_raw, 6) AS cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, cosine, rank FROM ranked
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // the same greedy MMR walk as a recursive CTE: step 1 = best
    // relevance; step i picks the candidate maximizing the r4-rounded
    // λ·rel − (1−λ)·max-sim-to-picked, ties by neighbor id
    "sim_mmr" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL
        |), nrm AS (
        |  SELECT vec_id,
        |    CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) = 0 THEN v
        |         ELSE list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
        |    END AS v
        |  FROM e
        |), pool AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2]))
        |      AS rel,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2]))
        |        DESC, c.vec_id) AS rk
        |  FROM nrm q JOIN nrm c ON q.vec_id < 3 AND c.vec_id <> q.vec_id
        |  QUALIFY rk <= 10
        |), pairs AS (
        |  SELECT p1.query_id, p1.neighbor_id AS a, p2.neighbor_id AS b,
        |    list_sum(list_transform(list_zip(n1.v, n2.v), p -> p[1] * p[2]))
        |      AS sim
        |  FROM pool p1 JOIN pool p2
        |    ON p1.query_id = p2.query_id AND p1.neighbor_id <> p2.neighbor_id
        |  JOIN nrm n1 ON n1.vec_id = p1.neighbor_id
        |  JOIN nrm n2 ON n2.vec_id = p2.neighbor_id
        |), sel AS (
        |  SELECT query_id, CAST(1 AS BIGINT) AS step,
        |    [neighbor_id] AS picked, neighbor_id AS chosen
        |  FROM pool WHERE rk = 1
        |  UNION ALL
        |  SELECT s.query_id, s.step + 1, list_append(s.picked, c.nid), c.nid
        |  FROM sel s, LATERAL (
        |    SELECT p.neighbor_id AS nid
        |    FROM pool p
        |    WHERE p.query_id = s.query_id
        |      AND NOT list_contains(s.picked, p.neighbor_id)
        |    ORDER BY floor((0.7 * p.rel - (1.0 - 0.7) * (
        |        SELECT max(pr.sim) FROM pairs pr
        |        WHERE pr.query_id = s.query_id AND pr.a = p.neighbor_id
        |          AND list_contains(s.picked, pr.b))) * 10000
        |        + 0.5 + 0.000001) DESC,
        |      p.neighbor_id
        |    LIMIT 1) c
        |  WHERE s.step < 4)
        |SELECT sel.query_id, sel.step AS mmr_rank,
        |  sel.chosen AS neighbor_id, r(pool.rel, 4) AS rel
        |FROM sel JOIN pool
        |  ON pool.query_id = sel.query_id AND pool.neighbor_id = sel.chosen
        |ORDER BY sel.query_id, mmr_rank""".stripMargin,

    // components of the thresholded kNN graph via a recursive
    // reachability CTE; cluster_id = min reachable id. The cosine
    // scoring casts to DuckDB's fixed-size DOUBLE[64] ARRAY and uses
    // array_inner_product — the list-lambda dot product was the
    // entire deep-check cost (~minutes); this runs inline in ~5 s at
    // sf0.1. MATERIALIZED still pins scoring to one evaluation.
    "sim_knn_components" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), nrm AS MATERIALIZED (
        |  SELECT vec_id,
        |    CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) = 0 THEN v
        |         ELSE list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
        |    END AS v
        |  FROM e
        |), arr AS MATERIALIZED (
        |  SELECT vec_id, CAST(v AS DOUBLE[64]) AS a FROM nrm
        |), scored AS MATERIALIZED (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    array_inner_product(q.a, c.a) AS cos_raw
        |  FROM arr q JOIN arr c ON c.vec_id <> q.vec_id
        |), rk AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, cos_raw,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_raw DESC, neighbor_id) AS rn
        |  FROM scored
        |), ed AS MATERIALIZED (
        |  SELECT query_id AS a, neighbor_id AS b
        |  FROM rk WHERE rn <= 3 AND cos_raw >= 0.35
        |), sym AS MATERIALIZED (
        |  SELECT a, b FROM ed UNION SELECT b, a FROM ed
        |), reach(node, root) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT s2.b, r2.root FROM reach r2 JOIN sym s2 ON s2.a = r2.node
        |)
        |SELECT node AS vec_id, min(root) AS cluster_id
        |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin,

    // rank-based percentile band: percent_rank is an exact rational,
    // bit-identical cross-engine — raw values hash-compared.
    "q_percentile_band" ->
      """WITH p AS (
        |  SELECT doc_id, lang, n_chars,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY n_chars)
        |      AS pct_rank
        |  FROM documents WHERE n_chars IS NOT NULL)
        |SELECT doc_id, lang, n_chars, pct_rank FROM p
        |WHERE pct_rank >= 0.05 AND pct_rank <= 0.95
        |ORDER BY doc_id""".stripMargin,

    // Efraimidis–Spirakis with the md5 key-hash as u; top-100 by raw
    // srk (cross-engine pow agrees far beyond the selection margins),
    // emitted rounded.
    "q_sample_weighted" ->
      """WITH h AS (
        |  SELECT doc_id, lang, source,
        |    pow(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |          ::BIGINT + 1 AS DOUBLE) / 4294967296.0,
        |        CAST(1 AS DOUBLE) / n_chars) AS srk
        |  FROM documents)
        |SELECT doc_id, lang, source, r(srk, 6) AS srk FROM (
        |  SELECT * FROM h ORDER BY srk DESC, doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin,

    // seeded shuffle-shard: identical md5('seed:id') hash on both
    // engines, so the full (shard, pos) permutation hash-verifies
    "q_shuffle_shard" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      ::BIGINT AS _h
        |  FROM documents)
        |SELECT doc_id, CAST(_h % 8 AS INTEGER) AS shard,
        |  CAST(row_number() OVER (PARTITION BY _h % 8
        |    ORDER BY _h, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,

    // DSIR full replay: same normalize/tokenize as text_tfidf, same
    // md5-prefix gram hash mod 1024, add-1 multinomials over the
    // bucket space, seeded md5 Gumbel draw, r4-rounded ranking key.
    "q_dsir_select" ->
      """WITH d AS (
        |  SELECT doc_id, lang, trim(regexp_replace(regexp_replace(
        |    lower(text), '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, lang, regexp_split_to_array(t, ' ') AS toks
        |  FROM d WHERE length(t) > 0
        |), uni AS (
        |  SELECT doc_id, lang, unnest(toks) AS gram FROM tok
        |), big AS (
        |  SELECT doc_id, lang, toks[i] || ' ' || toks[i+1] AS gram
        |  FROM tok, unnest(CASE WHEN len(toks) >= 2
        |    THEN range(1, len(toks)) ELSE [] END) u(i)
        |), feat AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(gram), 1, 8))::BIGINT % 1024 AS bucket,
        |    count(*) AS cnt
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
        |  GROUP BY 1, 2, 3
        |), tfit AS (
        |  SELECT bucket, sum(cnt) AS tc FROM feat WHERE lang = 'en'
        |  GROUP BY 1
        |), rfit AS (
        |  SELECT bucket, sum(cnt) AS rc FROM feat WHERE lang <> 'en'
        |  GROUP BY 1
        |), tt AS (SELECT sum(tc) AS tn FROM tfit),
        |rt AS (SELECT sum(rc) AS rn FROM rfit),
        |model AS (
        |  SELECT rfit.bucket,
        |    ln(coalesce(tc, 0) + 1.0) - ln(tn + 1024.0)
        |      - ln(rc + 1.0) + ln(rn + 1024.0) AS lr
        |  FROM rfit LEFT JOIN tfit USING (bucket)
        |  CROSS JOIN tt CROSS JOIN rt
        |), sc AS (
        |  SELECT doc_id, sum(cnt * lr) AS logw
        |  FROM feat JOIN model USING (bucket)
        |  WHERE lang <> 'en' GROUP BY 1
        |), keyed AS (
        |  SELECT doc_id, logw,
        |    r(logw + (-ln(-ln(
        |      (('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)),
        |        1, 8))::BIGINT + 0.5) / 4294967296.0))), 4) AS dsir_key
        |  FROM sc
        |  -- empty-target contract mirror (Dsir.scoreDocs filters NULL
        |  -- logw): with no scoreable target docs BOTH engines return
        |  -- zero rows, not k NULL-keyed ones
        |  WHERE logw IS NOT NULL
        |), sel AS (
        |  SELECT doc_id, logw, dsir_key FROM keyed
        |  ORDER BY dsir_key DESC, doc_id LIMIT 64)
        |SELECT s.doc_id, d2.lang, d2.source, r(s.logw, 4) AS dsir_logw,
        |  s.dsir_key
        |FROM sel s JOIN documents d2 ON s.doc_id = d2.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    // DSIR mixture replay: per-target multinomial fits blended as
    // ((2/3)·p_en + (1/3)·p_de) with the engine's arithmetic order
    // (each term multiply-then-divide, summed left-to-right, one ln
    // of the blend), raw q as split log terms, seeded Gumbel, r4 key.
    "q_dsir_mix" ->
      """WITH d AS (
        |  SELECT doc_id, lang, trim(regexp_replace(regexp_replace(
        |    lower(text), '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, lang, regexp_split_to_array(t, ' ') AS toks
        |  FROM d WHERE length(t) > 0
        |), uni AS (
        |  SELECT doc_id, lang, unnest(toks) AS gram FROM tok
        |), big AS (
        |  SELECT doc_id, lang, toks[i] || ' ' || toks[i+1] AS gram
        |  FROM tok, unnest(CASE WHEN len(toks) >= 2
        |    THEN range(1, len(toks)) ELSE [] END) u(i)
        |), feat AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(gram), 1, 8))::BIGINT % 1024 AS bucket,
        |    count(*) AS cnt
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
        |  GROUP BY 1, 2, 3
        |), tfit0 AS (
        |  SELECT bucket, sum(cnt) AS tc0 FROM feat WHERE lang = 'en'
        |  GROUP BY 1
        |), tfit1 AS (
        |  SELECT bucket, sum(cnt) AS tc1 FROM feat WHERE lang = 'de'
        |  GROUP BY 1
        |), rfit AS (
        |  SELECT bucket, sum(cnt) AS rc FROM feat
        |  WHERE lang NOT IN ('en', 'de') GROUP BY 1
        |), tt0 AS (SELECT sum(tc0) AS tn0 FROM tfit0),
        |tt1 AS (SELECT sum(tc1) AS tn1 FROM tfit1),
        |rt AS (SELECT sum(rc) AS rn FROM rfit),
        |model AS (
        |  SELECT rfit.bucket,
        |    ln((2.0 / 3.0) * (coalesce(tc0, 0) + 1.0) / (tn0 + 1024.0)
        |       + (1.0 / 3.0) * (coalesce(tc1, 0) + 1.0) / (tn1 + 1024.0))
        |      - ln(rc + 1.0) + ln(rn + 1024.0) AS lr
        |  FROM rfit LEFT JOIN tfit0 USING (bucket)
        |  LEFT JOIN tfit1 USING (bucket)
        |  CROSS JOIN tt0 CROSS JOIN tt1 CROSS JOIN rt
        |), sc AS (
        |  SELECT doc_id, sum(cnt * lr) AS logw
        |  FROM feat JOIN model USING (bucket)
        |  WHERE lang NOT IN ('en', 'de') GROUP BY 1
        |), keyed AS (
        |  SELECT doc_id, logw,
        |    r(logw + (-ln(-ln(
        |      (('0x' || substr(md5('dsirmix:' || CAST(doc_id AS VARCHAR)),
        |        1, 8))::BIGINT + 0.5) / 4294967296.0))), 4) AS dsir_key
        |  FROM sc
        |  WHERE logw IS NOT NULL
        |), sel AS (
        |  SELECT doc_id, logw, dsir_key FROM keyed
        |  ORDER BY dsir_key DESC, doc_id LIMIT 48)
        |SELECT s.doc_id, d2.lang, d2.source, r(s.logw, 4) AS dsir_logw,
        |  s.dsir_key
        |FROM sel s JOIN documents d2 ON s.doc_id = d2.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    // batch sessionization minus each user's LAST session — the one
    // still open in flatMapGroupsWithState state when AvailableNow
    // input drains. Gap rule on whole seconds (integer division),
    // matching the streaming side's ms-to-s truncation.
    "stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS t, value
        |  FROM events
        |), g AS (
        |  SELECT user_id, event_id, t, value,
        |    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        |), sess AS (
        |  SELECT user_id, t, value,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g
        |), summ AS (
        |  SELECT user_id, session_id, min(t) AS session_start,
        |    max(t) AS session_end, count(*) AS n_events,
        |    r(sum(value), 2) AS sum_value
        |  FROM sess GROUP BY user_id, session_id
        |)
        |SELECT user_id, session_start, session_end, n_events, sum_value
        |FROM summ
        |WHERE session_id < (SELECT max(s2.session_id) FROM summ s2
        |                    WHERE s2.user_id = summ.user_id)
        |ORDER BY user_id, session_start""".stripMargin,

    "q_scd1_latest" ->
      """SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate FROM (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,

    // the two-level star's fixpoint has a closed form: every
    // customer's component label is the min custkey of its REGION
    "q_components" ->
      """WITH nm AS (
        |  SELECT c_nationkey, min(c_custkey) AS hub
        |  FROM customer GROUP BY c_nationkey
        |), rm AS (
        |  SELECT n_regionkey, min(hub) AS rhub
        |  FROM nm JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_regionkey)
        |SELECT c.c_custkey, rm.rhub AS cluster_id
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN rm ON n.n_regionkey = rm.n_regionkey
        |ORDER BY c_custkey""".stripMargin,

    // v1 = the even-orderkey commit, v2 (latest) = everything
    "q_snapshot" ->
      """SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
        |  r(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 2 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*), r(sum(l_quantity), 2)
        |FROM lineitem
        |ORDER BY version""".stripMargin,

    "q_snapshot_upsert_compact" ->
      """SELECT k, l_orderkey, l_linenumber, qty FROM (
        |  SELECT l_orderkey % 100 AS k, l_orderkey, l_linenumber,
        |    r(l_quantity, 2) AS qty,
        |    row_number() OVER (PARTITION BY l_orderkey % 100
        |      ORDER BY l_orderkey DESC, l_linenumber DESC, l_quantity DESC) AS rk
        |  FROM lineitem)
        |WHERE rk = 1 ORDER BY k""".stripMargin,

    // the diff of the append chain = the odd-orderkey rows only
    "q_snapshot_diff" ->
      """SELECT l_orderkey % 100 AS okey_bucket, count(*) AS n_rows,
        |  r(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 2 <> 0
        |GROUP BY 1 ORDER BY okey_bucket""".stripMargin,

    // violation = NOT coalesce(pred, FALSE) — unevaluable rows count
    // as violations, mirroring Expectations.check's null-hostile
    // contract; uniqueness counts rows beyond the first per dup key
    "q_expectations" ->
      """SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
        |  n_violations = 0 AS pass
        |FROM (
        |  SELECT 'discount_low' AS rule, sum(CASE WHEN
        |    coalesce(l_discount <= 0.08, FALSE) THEN 0 ELSE 1 END)
        |    AS n_violations FROM lineitem
        |  UNION ALL
        |  SELECT 'flag_domain', sum(CASE WHEN
        |    coalesce(l_returnflag IN ('A', 'N', 'R'), FALSE)
        |    THEN 0 ELSE 1 END) FROM lineitem
        |  UNION ALL
        |  SELECT 'price_positive', sum(CASE WHEN
        |    coalesce(l_extendedprice > 0, FALSE) THEN 0 ELSE 1 END)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'qty_range', sum(CASE WHEN
        |    coalesce(l_quantity BETWEEN 1 AND 50, FALSE)
        |    THEN 0 ELSE 1 END) FROM lineitem
        |  UNION ALL
        |  SELECT 'pk_unique', coalesce(sum(CASE WHEN n > 1
        |    THEN n - 1 ELSE 0 END), 0)
        |  FROM (SELECT count(*) AS n FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber))
        |ORDER BY rule""".stripMargin,

    // id-ordered triangle enumeration over the canonical (a < b)
    // co-purchase edge set; every triangle appears exactly once with
    // x < y < z, so the 3-way node credit matches the degree-ordered
    // Spark enumeration
    "q_triangles" ->
      """WITH pp AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |), tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM pp e1
        |  JOIN pp e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN pp e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT node, count(*) AS n_triangles FROM (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |GROUP BY node ORDER BY node""".stripMargin,

    "text_c4" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(-15 AS BIGINT), 'The first sentence has exactly seven words.'
        |      || chr(10) || 'The second sentence also has seven words.'
        |      || chr(10) || 'The third sentence completes the three required.'),
        |    (CAST(-14 AS BIGINT), CAST(NULL AS VARCHAR)),
        |    (CAST(-13 AS BIGINT), 'Enable javascript to view this site properly.'
        |      || chr(10) || 'A perfectly good retained sentence sits here.'
        |      || chr(10) || 'Another good retained sentence follows it here.'
        |      || chr(10) || 'A third good sentence closes out the page.'),
        |    (CAST(-12 AS BIGINT), 'function f() { return 1; }'
        |      || chr(10) || 'Some good sentence with many words here.'),
        |    (CAST(-11 AS BIGINT), 'Lorem ipsum dolor sit amet, consectetur adipiscing sed.'
        |      || chr(10) || 'A good line that would otherwise be retained here.'),
        |    (CAST(-10 AS BIGINT), 'This line has six words total.'
        |      || chr(10) || 'short line.'
        |      || chr(10) || 'Another good line with plenty of words!'
        |      || chr(10) || 'no punctuation line here at all')
        |  ) v(doc_id, text)
        |), k AS (
        |  SELECT doc_id, text, string_split(text, chr(10)) AS ls,
        |    list_filter(string_split(text, chr(10)), l ->
        |      len(regexp_split_to_array(trim(l), '\s+')) >= 5
        |      AND regexp_matches(trim(l), '[.!?"]$')
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM src
        |), c AS (
        |  -- array_to_string([]) is NULL in DuckDB where Spark's
        |  -- array_join is ''; coalesce only when text itself is real
        |  SELECT doc_id, text, ls, kept,
        |    CASE WHEN text IS NULL THEN NULL
        |      ELSE coalesce(array_to_string(kept, chr(10)), '') END AS clean
        |  FROM k)
        |SELECT doc_id,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
        |  CAST(length(clean) - length(regexp_replace(clean, '[.!?]', '', 'g'))
        |    AS BIGINT) AS n_sentences,
        |  (NOT contains(lower(text), 'lorem ipsum')
        |   AND NOT contains(text, '{')
        |   AND length(clean) - length(regexp_replace(clean, '[.!?]', '', 'g')) >= 3)
        |    AS c4_pass,
        |  clean AS clean_text
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_lm_score" ->
      """WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, regexp_split_to_array(t, ' ') AS toks
        |  FROM d WHERE length(t) > 0
        |), bg AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        |  FROM tok, unnest(CASE WHEN len(toks) >= 2
        |    THEN range(1, len(toks)) ELSE [] END) u(i)
        |), c12 AS (
        |  SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY w1, w2
        |), c1 AS (
        |  SELECT w1, count(*) AS n1 FROM bg GROUP BY w1
        |), v AS (
        |  SELECT count(DISTINCT term) AS nv
        |  FROM (SELECT unnest(toks) AS term FROM tok)
        |), sc AS (
        |  SELECT bg.doc_id, count(*) AS n_bigrams,
        |    avg(ln((c12.n12 + 1.0) / (c1.n1 + v.nv * 1.0))) AS avg_logprob
        |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        |  GROUP BY bg.doc_id)
        |SELECT doc_id, n_bigrams, r(avg_logprob, 6) AS avg_logprob
        |FROM sc ORDER BY doc_id""".stripMargin,

    "q_orc_roundtrip" ->
      "SELECT * FROM customer ORDER BY c_custkey",

    // inner matches all emit; null-extended rows only for purchases
    // whose left state Spark has evicted. The eviction bound derives
    // from BOTH the watermark delay and the join interval: from
    // `click_t >= purchase_t - 1800` Spark keeps a left row while
    // watermark <= purchase_t + 1800, so the null-extension cutoff is
    // purchase_t < (max_t - 3600) - 1800.
    // Final-watermark model: each SIDE carries its own watermark on
    // its filtered stream, and Spark's global watermark is the MIN of
    // the two stream maxima minus the delay — NOT the max over all
    // event types (other types never pass the filters, so their
    // timestamps never reach a watermark node). A left row null-emits
    // exactly when purchase_t < that watermark (no extra lookback:
    // a future click at wm can only match purchases with
    // purchase_t >= wm). Verified row-set-equal at sf0.001 AND
    // sf0.01 — the max-over-all-events spelling broke the moment a
    // trailing 'view'/'purchase' outran the last click.
    "stream_left_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(ts) // 1000000 AS t
        |  FROM events
        |), wm AS (
        |  -- NOT least(): DuckDB's least() ignores a NULL side, but
        |  -- an EMPTY stream never initializes its Spark watermark
        |  -- (global wm stays at epoch, zero outer rows emit) — a
        |  -- NULL max must therefore null the cutoff, not be skipped
        |  SELECT CASE WHEN mp.t IS NULL OR mc.t IS NULL THEN NULL
        |    ELSE least(mp.t, mc.t) - 3600 END AS w
        |  FROM (SELECT max(t) AS t FROM e
        |        WHERE event_type = 'purchase') mp,
        |       (SELECT max(t) AS t FROM e WHERE event_type = 'click') mc),
        |p AS (SELECT event_id AS purchase_id, user_id, t AS purchase_t
        |      FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, t AS click_t
        |      FROM e WHERE event_type = 'click'),
        |m AS (
        |  SELECT p.purchase_id, c.click_id, p.user_id,
        |    p.purchase_t, c.click_t
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.click_t BETWEEN p.purchase_t - 1800 AND p.purchase_t),
        |o AS (
        |  SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id,
        |    p.user_id, p.purchase_t, CAST(NULL AS BIGINT) AS click_t
        |  FROM p, wm
        |  WHERE p.purchase_id NOT IN (SELECT purchase_id FROM m)
        |    AND p.purchase_t < wm.w)
        |SELECT * FROM m
        |UNION ALL SELECT * FROM o
        |ORDER BY purchase_id, click_id""".stripMargin,

    "stream_upsert" ->
      """SELECT user_id, event_id, event_type, t, r(value, 2) AS value
        |FROM (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(ts) // 1000000 AS t, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) // 1000000 DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    "q_emb_gram" ->
      """WITH u AS (
        |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings,
        |    unnest(range(1, len(embedding) + 1)) t(i))
        |SELECT a.i AS i, b.i AS j, r(sum(a.v * b.v), 4) AS g
        |FROM u a JOIN u b USING (vec_id)
        |GROUP BY a.i, b.i
        |ORDER BY i, j""".stripMargin,

    // rotation invariance: projected L2 norm = centered L2 norm
    "sim_pca_norm" ->
      """WITH u AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings,
        |    unnest(range(1, len(embedding) + 1)) t(i)
        |), m AS (
        |  SELECT i, avg(v) AS mu FROM u GROUP BY i)
        |SELECT vec_id, r(sqrt(sum((v - mu) * (v - mu))), 4) AS l2
        |FROM u JOIN m USING (i)
        |GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin
  )
}
