package graft.queries

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Pipeline
import graft.ops.{Dedup, Sampling, Scd, Text}
import graft.plugins.input.ParquetScanPlugin
import graft.plugins.transform.{FilterPlugin, SelectPlugin, SortPlugin}
import graft.queries.Fixtures._

/** Composed pipelines and dataset preparation: corpus cleaning, splits,
  * sampling and mixing, DSIR, SCD and snapshot versioning, expectations. */
object PipelineQueries {
  val all: Seq[Query] = Seq(
    // ---- composed corpus-cleaning pipeline (flagship) ------------
    // The end-to-end story every piece above exists for: language
    // filter → quality floor → exact-dup drop (min doc_id survives)
    // → deterministic 50% sample — one declarative plan, one oracle.
    Query("pipeline_clean_corpus", (s, dir) => {
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
    },
      // The composed cleaning pipeline, replicated stage by stage:
      // quality formula (same IEEE op order as qualityFromMetrics),
      // lang+quality filter, fingerprint keep-first, md5 hash-band
      // sample at rate 0.5 (0.5 · 2^32 = 2147483648).
      Some("""WITH d AS (
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
        |ORDER BY doc_id""".stripMargin)),

    // ---- pipeline orchestration end-to-end (A1+A10+§2B plugins) --
    Query("q_pipeline_e2e", (s, dir) => {
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
    },
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem WHERE l_discount >= 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      headline = true),

    // ---- deterministic hash sampling -----------------------------
    Query("q_sample_hash", (s, dir) =>
      Sampling.sampleByHash(t(s, dir, "documents"), "doc_id", rate = 0.1)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |  < 429496729
        |ORDER BY doc_id""".stripMargin)),

    // ---- deterministic train/val/test split ----------------------
    // 90/5/5 by md5 key-hash bands: a re-ingested row keeps its
    // split across reruns — no eval leakage on corpus rebuilds.
    Query("q_split", (s, dir) =>
      Sampling.assignSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .groupBy("split").agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"))
        .orderBy("split"),
      // band bounds are the Scala-side (cumulative-double * 2^32).toLong
      // constants — hardcoded so both engines cut at the identical hash
      Some("""WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
        |  FROM documents)
        |SELECT CASE WHEN hv < 3865470566 THEN 'train'
        |            WHEN hv < 4080218931 THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n, min(doc_id) AS min_id
        |FROM h GROUP BY split ORDER BY split""".stripMargin),
      headline = true),

    // ---- leakage-safe split (dup families stay in ONE split) -----
    // The near-dup edge list here is exact-fingerprint equality, so
    // the component structure (min id per fingerprint group) replays
    // exactly in DuckDB and the FULL per-doc assignment is
    // hash-gated — including that every fingerprint-dup family got
    // one split. Near-dup generators (minhash/embedding pairs)
    // compose through the same op.
    Query("q_split_safe", (s, dir) =>
      // fingerprint equality is transitive, so the fast path skips
      // the iterative contraction: component id = family min via one
      // agg + one join; the FULL per-doc assignment is hash-gated.
      // Near-dup generators (minhash pairs) go through the generic
      // leakageSafeSplit (Round5Spec / PluginSpec pin that path).
      Sampling.leakageSafeSplitByFingerprint(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id"),
      Some("""WITH f AS (
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
        |FROM h ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- leakage-safe split, generic near-dup path ----------------
    // The component-keyed path end-to-end under the hash gate:
    // exact-verified char-5-gram Jaccard pairs (engine-independent
    // edge set) → connected components → hash split on the component
    // id. The oracle replays all three stages (all-pairs Jaccard +
    // recursive reach + the split bands), so every per-doc assignment
    // — including family cohesion — is verified.
    Query("q_split_safe_neardup", (s, dir) => {
      val docs = tBalanced(s, dir, "documents")
      val pairs = Dedup.ngramJaccardVerified(docs, "doc_id", "text",
          n = 5, threshold = 0.8)
        .select("id_a", "id_b")
      Sampling.leakageSafeSplit(docs, "doc_id", pairs,
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    },
      // the generic path: exact-Jaccard pair graph (bitstring
      // spelling, see dedup_ngram_verified) → recursive-reach
      // components → the same split bands (0.9·2^32, 0.95·2^32)
      Some("""WITH RECURSIVE d AS MATERIALIZED (
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
        |FROM h ORDER BY doc_id""".stripMargin)),

    Query("q_sample_cap", (s, dir) =>
      Sampling.stratifiedCap(t(s, dir, "documents"),
          Seq("lang"), "doc_id", cap = 20)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |      doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY doc_id""".stripMargin)),

    // ---- domain mixing: downsample to target source weights ------
    // src0 binds (rate 1.0), src1/src2 are hash-sampled to 0.6/0.4 —
    // the oracle recomputes counts, rates, and bands in SQL with the
    // same double arithmetic and the same md5 band filter
    Query("q_mix_sources", (s, dir) =>
      Sampling.mixToWeights(t(s, dir, "documents"), "source", "doc_id",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select("doc_id", "source")
        .orderBy("doc_id"),
      Some("""WITH weights(source, w) AS (
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
        |ORDER BY d.doc_id""".stripMargin)),

    // ---- domain mixing by budget mass (token/char share) ---------
    // Same band construction as q_mix_sources but rates derive from
    // per-source n_chars sums — the "X% of TOKENS from source S"
    // form pretraining mixes are specified in.
    Query("q_mix_tokens", (s, dir) =>
      Sampling.mixToBudgetWeights(t(s, dir, "documents"), "source",
          "doc_id", "n_chars",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id"),
      // budget-mass mixing: identical band math with per-source
      // n_chars sums in place of row counts
      Some("""WITH weights(source, w) AS (
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
        |ORDER BY d.doc_id""".stripMargin),
      headline = true),

    // ---- temperature-flattened source mixing ---------------------
    // p^(1/T) rebalancing at T=2 over the char budget: weights are
    // sqrt(mass) — IEEE sqrt is correctly rounded in every engine,
    // so each band boundary the oracle recomputes is bit-identical
    // (see Sampling.mixByTemperature's determinism note).
    Query("q_mix_temperature", (s, dir) =>
      Sampling.mixByTemperature(t(s, dir, "documents"), "source",
          "doc_id", temperature = 2.0, budgetCol = Some("n_chars"))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id"),
      // T=2 temperature mix: w = sqrt(mass) (exactly-rounded IEEE op),
      // then the identical scale/band derivation as q_mix_tokens —
      // operand-for-operand the same IEEE expression shapes the Scala
      // driver code evaluates, so bands match bit-for-bit
      Some("""WITH counts AS (
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
        |ORDER BY d.doc_id""".stripMargin),
      headline = true),

    // ---- weighted sample (Efraimidis–Spirakis top-k) -------------
    // u from the md5 key-hash (never an RNG), srk = u^(1/n_chars);
    // global top-100 plans as TakeOrderedAndProject. srk is rounded:
    // cross-engine pow may differ in the last ulp.
    Query("q_sample_weighted", (s, dir) =>
      Sampling.weightedSample(t(s, dir, "documents"),
          "doc_id", "n_chars", k = 100, scoreCol = Some("srk"))
        .select(col("doc_id"), col("lang"), col("source"),
          r(col("srk"), 6).as("srk"))
        .orderBy("doc_id"),
      // Efraimidis–Spirakis with the md5 key-hash as u; top-100 by raw
      // srk (cross-engine pow agrees far beyond the selection margins),
      // emitted rounded.
      Some("""WITH h AS (
        |  SELECT doc_id, lang, source,
        |    pow(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |          ::BIGINT + 1 AS DOUBLE) / 4294967296.0,
        |        CAST(1 AS DOUBLE) / n_chars) AS srk
        |  FROM documents)
        |SELECT doc_id, lang, source, r(srk, 6) AS srk FROM (
        |  SELECT * FROM h ORDER BY srk DESC, doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- seeded shuffle-shard (training-order prep) --------------
    // Deterministic global permutation as (shard, pos): seeded md5
    // hash → shard (mod 8) and in-shard rank. The oracle replays the
    // identical hash, so the WHOLE permutation hash-verifies — the
    // property a trainer needs (same seed = same data order on any
    // engine). One shard exchange + per-shard sort; no global sort.
    Query("q_shuffle_shard", (s, dir) =>
      Sampling.shuffleShard(t(s, dir, "documents"), "doc_id",
          seed = 7L, nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos"),
      // seeded shuffle-shard: identical md5('seed:id') hash on both
      // engines, so the full (shard, pos) permutation hash-verifies
      Some("""WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      ::BIGINT AS _h
        |  FROM documents)
        |SELECT doc_id, CAST(_h % 8 AS INTEGER) AS shard,
        |  CAST(row_number() OVER (PARTITION BY _h % 8
        |    ORDER BY _h, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin),
      headline = true),

    // ---- DSIR importance resampling (Xie et al. 2023) ------------
    // Select the raw-pool docs (lang <> en) that look most like the
    // curated target (en docs) under add-1-smoothed hashed
    // unigram+bigram multinomials; sampling w/o replacement ∝ w(x)
    // via Gumbel top-k on a seeded md5 uniform — no RNG, so the
    // oracle replays hash, model, and Gumbel draw exactly. The
    // ranking key is ROUNDED (r4) before the top-k so last-ulp ln()
    // noise between engines cannot flip the selected set.
    Query("q_dsir_select", (s, dir) => {
      val docs = tBalanced(s, dir, "documents")
      graft.ops.Dsir.select(
          docs.filter(col("lang") =!= "en"),
          docs.filter(col("lang") === "en"),
          "doc_id", "text", k = 64, buckets = 1024,
          alpha = 1.0, seed = "dsir")
        .select(col("doc_id"), col("lang"), col("source"),
          r(col("dsir_logw"), 4).as("dsir_logw"), col("dsir_key"))
        .orderBy("doc_id")
    },
      // DSIR full replay: same normalize/tokenize as text_tfidf, same
      // md5-prefix gram hash mod 1024, add-1 multinomials over the
      // bucket space, seeded md5 Gumbel draw, r4-rounded ranking key.
      Some("""WITH d AS (
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
        |ORDER BY s.doc_id""".stripMargin),
      headline = true),

    // ---- DSIR against a WEIGHTED MIXTURE of targets ---------------
    // The practical "2·Wiki + 1·books" curation form: the target
    // model is the convex blend of K per-target add-α multinomials
    // (here en at weight 2, de at weight 1) and the raw pool is
    // everything else. The oracle replays the blended probability
    // with the engine's exact arithmetic spelling (weighted
    // fractions summed left-to-right, ONE ln of the blend), the
    // seeded md5 Gumbel draw, and the r4 ranking key.
    Query("q_dsir_mix", (s, dir) => {
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
    },
      // DSIR mixture replay: per-target multinomial fits blended as
      // ((2/3)·p_en + (1/3)·p_de) with the engine's arithmetic order
      // (each term multiply-then-divide, summed left-to-right, one ln
      // of the blend), raw q as split log terms, seeded Gumbel, r4 key.
      Some("""WITH d AS (
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
        |ORDER BY s.doc_id""".stripMargin),
      headline = true),

    // ---- SCD2 versioned dimension from a change stream -----------
    // Consecutive equal-status runs per customer collapse into
    // half-open validity intervals; the whole construction is three
    // window passes over ONE exchange on o_custkey.
    Query("q_scd2", (s, dir) =>
      Scd.scd2(t(s, dir, "orders"),
          keyCols = Seq("o_custkey"), attrCols = Seq("o_orderstatus"),
          orderCols = Seq("o_orderdate", "o_orderkey"),
          validFromCol = "o_orderdate")
        .orderBy("o_custkey", "version"),
      // run-collapse + interval close; IS DISTINCT FROM mirrors the
      // Spark side's null-safe <=> change detection.
      Some("""WITH w1 AS (
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
        |ORDER BY o_custkey, version""".stripMargin),
      headline = true),

    // ---- SCD1 latest snapshot (CDC compaction) -------------------
    // The most recent order per customer; row_number()=1 plans as
    // WindowGroupLimit, so the exchange carries ~one row per key.
    Query("q_scd1_latest", (s, dir) =>
      Scd.latest(t(s, dir, "orders"),
          keyCols = Seq("o_custkey"),
          orderCols = Seq("o_orderdate", "o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate FROM (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin),
      headline = true),

    // ---- snapshot versioning (manifest-pinned time travel) -------
    // Two commits (even orderkeys, then odd); reading v1 AFTER the
    // second commit must return exactly the first commit's rows —
    // the reproducible-training-set guarantee — while the latest
    // version sees both. Committed as data-files-first/manifest-last.
    Query("q_snapshot", (s, dir) => {
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
    },
      // v1 = the even-orderkey commit, v2 (latest) = everything
      Some("""SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
        |  r(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 2 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*), r(sum(l_quantity), 2)
        |FROM lineitem
        |ORDER BY version""".stripMargin),
      headline = true),

    // ---- CDC upsert compaction on a snapshot store ---------------
    // lineitem rows as upsert EVENTS for key l_orderkey % 100,
    // recency (l_orderkey, l_linenumber) — appended as two version
    // batches, then compacted to latest-event-per-key. The oracle
    // replays the same window over the raw table; version 2 (the
    // pre-compaction full history) stays readable, which the row
    // count of the compacted latest being << it implicitly exercises.
    Query("q_snapshot_upsert_compact", (s, dir) => {
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
    },
      Some("""SELECT k, l_orderkey, l_linenumber, qty FROM (
        |  SELECT l_orderkey % 100 AS k, l_orderkey, l_linenumber,
        |    r(l_quantity, 2) AS qty,
        |    row_number() OVER (PARTITION BY l_orderkey % 100
        |      ORDER BY l_orderkey DESC, l_linenumber DESC, l_quantity DESC) AS rk
        |  FROM lineitem)
        |WHERE rk = 1 ORDER BY k""".stripMargin),
      headline = true),

    // ---- snapshot change feed (manifest diff) --------------------
    // Incremental consumption: the diff of v2 over v1 reads ONLY the
    // files v2's manifest added — exactly the odd-orderkey commit —
    // with no data comparison anywhere.
    Query("q_snapshot_diff", (s, dir) => {
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
    },
      // the diff of the append chain = the odd-orderkey rows only
      Some("""SELECT l_orderkey % 100 AS okey_bucket, count(*) AS n_rows,
        |  r(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 2 <> 0
        |GROUP BY 1 ORDER BY okey_bucket""".stripMargin)),

    // ---- data-contract expectations gate -------------------------
    // Deequ-style pre-promotion validation: four row rules compile
    // into ONE conditional-count aggregation over a single scan, the
    // uniqueness rule into one groupBy — per-rule violation counts,
    // not a boolean, so failures are triaged from the report. The
    // fixture genuinely violates two rules (high discounts, repeated
    // (orderkey, linenumber) keys), so pass=false paths are live.
    Query("q_expectations", (s, dir) =>
      graft.ops.Expectations.check(t(s, dir, "lineitem"),
        rowRules = Seq(
          "discount_low" -> "l_discount <= 0.08",
          "flag_domain" -> "l_returnflag IN ('A', 'N', 'R')",
          "price_positive" -> "l_extendedprice > 0",
          "qty_range" -> "l_quantity BETWEEN 1 AND 50"),
        uniqueRules = Seq(
          "pk_unique" -> Seq("l_orderkey", "l_linenumber"))),
      // violation = NOT coalesce(pred, FALSE) — unevaluable rows count
      // as violations, mirroring Expectations.check's null-hostile
      // contract; uniqueness counts rows beyond the first per dup key
      Some("""SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
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
        |ORDER BY rule""".stripMargin),
      headline = true)
  )
}
