package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** What the query records share: table reads, streaming landing and
  * scratch directories, derived fixtures and the SQL fragments that a
  * plan and its oracle both spell. */
object Fixtures {
  /** Opt-in input caching for [[Verify]]: 100 queries re-reading the
    * same ten tables pay the parquet scan each time, so Verify flips
    * this on and the first read of each table persists it
    * (deserialized, disk-spillable). OFF for Bench — a cached scan
    * would measure memory, not the engine's scan path. */
  @volatile private[graft] var cacheInputs: Boolean = false
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (!cacheInputs) s.read.parquet(s"$dir/$name.parquet")
    else tableCache.computeIfAbsent(s"$dir/$name",
      _ => s.read.parquet(s"$dir/$name.parquet")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The events table with `ts` normalized to epoch nanos (long) —
    * the driver fixture has shipped both timestamp[ns] (LongType via
    * nanosAsLong) and timestamp[us] (TIMESTAMP_NTZ) parquet across
    * rounds; every downstream query and its `epoch_ns(ts)` oracle
    * assumes the nanos-long shape. See Streams.tsToNanos. */
  private[queries] def events(s: SparkSession, dir: String): DataFrame =
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

  private[queries] def scratch(prefix: String): java.nio.file.Path =
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

  private[queries] def sharedLanding(dir: String, name: String): java.nio.file.Path =
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
  private[queries] def sharedLandingN(dir: String, name: String,
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
  private[queries] def sharedLandingDocsPerturbedN(s: SparkSession, dir: String,
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
  private[queries] def tBalanced(s: SparkSession, dir: String, name: String): DataFrame = {
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
  private[queries] def synthUrl: org.apache.spark.sql.Column = {
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
  private[queries] def md5Sample(df: DataFrame, idCol: String, n: Int): DataFrame =
    df.orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(n)

  /** Shared fixture for the Naive Bayes classifier queries: weak
    * quality label ('hi' iff count of fast/big tokens >= count of
    * slow/small) over normalized-nonempty documents, split 80/20 by
    * `doc_id % 5`. Returns (train, test, labeled-all). The label
    * counts are computed on the same token stream the classifier
    * tokenizes ([[graft.ops.Text.normalize]] + single-space split),
    * so the oracle's toks CTE reproduces them exactly. */
  private[queries] def nbSplit(s: SparkSession, dir: String)
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
  private[queries] def mortonTerms(aCol: String, bCol: String, bits: Int): String = {
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
    * expanded to the identical formula by [[graft.SparkEntry.expandR]].
    * The formula lives in [[graft.ops.Rounding.portable]] so operators
    * that round internally (Dsir's selection key) stay bit-identical
    * with it. */
  private[queries] def r(c: org.apache.spark.sql.Column, p: Int): org.apache.spark.sql.Column =
    graft.ops.Rounding.portable(c, p)

  /** Fixed BPE merge table for `q_bpe_encode` — shared literal-for-
    * literal with its oracle's VALUES list (rank = position + 1).
    * Chosen to exercise multi-level merges on the fixture vocabulary
    * ("window" chains i+n → in+d → ind+ow) and non-leftmost best-rank
    * selection ("order": e+r at rank 4 fires before o+r at rank 5). */
  private[queries] val bpeFixedMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r", "o" -> "r",
    "a" -> "n", "s" -> "t", "a" -> "t", "in" -> "d", "o" -> "w",
    "ind" -> "ow", "l" -> "e")

  /** Shared oracle CTE prefix for the `text_classify_*` queries:
    * normalize/tokenize (identical CTEs to text_tfidf's oracle), the
    * weak quality label, and the train-side token stream. NOT
    * pre-stripped — callers concatenate then `.stripMargin` once. */
  private[queries] val nbCommonCtes: String =
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
  private[queries] val bm25Queries: Seq[(String, String)] = Seq(
    "q1" -> "table scan filter", "q2" -> "spark stream window",
    "q3" -> "customer order query", "q4" -> "hash join merge",
    "q5" -> "sort group agg")


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
  private[queries] def clusteredEmb(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "embeddings").count() * 8
    // exact Long→Int (throws on overflow rather than silently wrapping
    // to a negative k); the generator separately bounds k×d against
    // its plan-literal ceiling
    graft.ops.SyntheticEmbeddings.mixtureOfGaussians(
      s, n = n, k = math.toIntExact(n / 64).max(32), sigma = 0.03)
  }

  /** Fold an ANN top-k result into the single driver-checkable recall
    * row: (n_queries, n_possible, recall_ok) where recall_ok asserts
    * hits against Spark's own brute-force ground truth ≥ ⌈0.9 ·
    * n_possible⌉. Pure DataFrame ops — no driver-side collect. */
  private[queries] def recallGate(approx: DataFrame, s: SparkSession,
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
}
