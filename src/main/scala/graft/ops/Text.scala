package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (north-star extensions beyond the reference surface — SURVEY §7
  * step 8). All are pure `Column` expressions built from codegen'd
  * `org.apache.spark.sql.functions` — no UDFs — so they stay inside
  * whole-stage codegen and scale linearly with input splits: per-row,
  * no shuffle.
  */
object Text {

  /** Whitespace token count; empty/blank text counts 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish token count: word pieces + standalone punctuation,
    * the usual cheap proxy for LLM token budgeting. */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") /
        length(text).cast("double"))

  /** Ratio of uppercase letters to all letters. */
  def upperRatio(text: Column): Column = {
    val letters = length(regexp_replace(text, "[^A-Za-z]", ""))
    when(letters === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[^A-Z]", "")).cast("double") /
        letters.cast("double"))
  }

  /** English stopword ratio over whitespace tokens. */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "be", "this", "that")

  def stopwordRatio(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val stops = filter(toks, t => array_contains(
      array(stopwords.map(lit): _*), t))
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(stops).cast("double") / size(toks).cast("double"))
  }

  /** Mean whitespace-token length. */
  def meanWordLen(text: Column): Column = {
    val toks = split(trim(text), "\\s+")
    when(size(toks) === 0, lit(0.0)).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(toks).cast("double"))
  }

  /** Composite quality score in [0,1]: long enough, low punctuation
    * noise, has some stopword glue, sane word lengths. Deterministic
    * arithmetic, so it is DuckDB-oracle-able. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(200.0), lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 4.0)
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    val mwl = meanWordLen(text)
    val wordScore = when(mwl >= 3.0 && mwl <= 10.0, lit(1.0)).otherwise(lit(0.5))
    round(lenScore * 0.4 + punctPenalty * 0.2 + stopScore * 0.2 + wordScore * 0.2, 4)
  }

  // ------------------------------------------------- repetition signals

  /** Token-repetition ratio: 1 − distinct/total whitespace tokens —
    * the Gopher-style "repetitious document" signal (boilerplate,
    * keyword stuffing, decoding loops). Blank text scores 0. */
  def tokenRepetitionRatio(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    when(length(trim(text)) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(toks)).cast("double") /
        size(toks).cast("double"))
  }

  /** Character n-gram repetition ratio over NORMALIZED text:
    * 1 − distinct/total n-grams (total = len−n+1, floored at 1).
    * Catches sub-token repetition that word-level misses. */
  def charNgramRepetitionRatio(text: Column, n: Int = 3): Column = {
    val t = normalize(text)
    val total = greatest(length(t) - (n - 1), lit(1)).cast("double")
    when(length(t) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(graft.expressions.CharShingles.char_shingles(t, n))
        .cast("double") / total)
  }

  /** Character-coverage of the dominant word n-gram (Gopher "top
    * n-gram fraction"): max over grams of count·chars / total chars
    * of the space-joined token list. 0.0 for blank or < n tokens.
    * One per-row kernel pass ([[graft.expressions.TopNgramCoverage]]). */
  def topNgramCoverage(text: Column, n: Int): Column =
    graft.expressions.TopNgramCoverage.top_ngram_coverage(text, n)

  // ------------------------------------------------- Gopher-rule gates

  /** Thresholds for [[withGopherFlags]] — the defaults are the
    * published Gopher / MassiveText filter values (Rae et al. 2021,
    * table A1): word-count and mean-word-length bounds, symbol and
    * bullet/ellipsis line ratios, the alphabetic-word fraction, and
    * the ≥2-required-stopwords rule; plus a duplicate-line-fraction
    * cap from the same family of repetition gates. */
  case class GopherThresholds(minWords: Int = 50, maxWords: Int = 100000,
                              minMeanWordLen: Double = 3.0,
                              maxMeanWordLen: Double = 10.0,
                              maxSymbolRatio: Double = 0.1,
                              maxBulletLineFrac: Double = 0.9,
                              maxEllipsisLineFrac: Double = 0.3,
                              minAlphaWordFrac: Double = 0.8,
                              minStopwordHits: Int = 2,
                              maxDupLineFrac: Double = 0.3)

  /** The Gopher required-stopword list ("must contain ≥2 of ..."). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Attach one boolean column per Gopher rule plus the conjunction
    * `gopher_pass`. NULL text yields NULL flags (filtered out by
    * [[gopherFilter]], distinguishable from a real fail). All raw
    * metrics come from ONE per-row kernel pass
    * ([[graft.expressions.GopherMetrics]] — the interpreted
    * HOF formulation it replaces measured ~5 ms/doc); the gates stay
    * cheap codegen'd comparisons so thresholds remain configurable.
    * Returned behind [[Lineage.fence]]: a filter on the flags reads
    * them, not eight copies of the kernel each. */
  def withGopherFlags(df: DataFrame, textCol: String,
                      t: GopherThresholds = GopherThresholds()): DataFrame = {
    val txt = col(textCol)
    val isNullT = txt.isNull
    val staged = df.withColumn("_gm",
      graft.expressions.GopherMetrics.gopher_metrics(txt))
    val m = col("_gm")
    val nWords = m.getField("n_words").cast("double")
    val nLines = m.getField("n_lines")
    val meanLen = m.getField("mean_word_len")
    val symbols = m.getField("symbols")
    val bulletLines = m.getField("bullet_lines")
    val ellipsisLines = m.getField("ellipsis_lines")
    val alphaWords = m.getField("alpha_words")
    val stopHits = m.getField("stop_hits")
    val dupLineFrac = m.getField("dup_line_frac")
    def gate(c: Column): Column =
      when(isNullT, lit(null).cast("boolean")).otherwise(c)
    val flagged = staged
      .withColumn("n_words",
        when(isNullT, lit(null).cast("long"))
          .otherwise(m.getField("n_words")))
      .withColumn("flag_word_count",
        gate(nWords >= t.minWords && nWords <= t.maxWords))
      .withColumn("flag_word_len",
        gate(meanLen >= t.minMeanWordLen && meanLen <= t.maxMeanWordLen))
      .withColumn("flag_symbol_ratio",
        gate(nWords > 0 && symbols / nWords <= t.maxSymbolRatio))
      .withColumn("flag_bullet_lines",
        gate(bulletLines / nLines <= t.maxBulletLineFrac))
      .withColumn("flag_ellipsis_lines",
        gate(ellipsisLines / nLines <= t.maxEllipsisLineFrac))
      .withColumn("flag_alpha_words",
        gate(nWords > 0 && alphaWords / nWords >= t.minAlphaWordFrac))
      .withColumn("flag_stopwords", gate(stopHits >= t.minStopwordHits))
      .withColumn("flag_dup_lines", gate(dupLineFrac <= t.maxDupLineFrac))
    val flags = Seq("flag_word_count", "flag_word_len", "flag_symbol_ratio",
      "flag_bullet_lines", "flag_ellipsis_lines", "flag_alpha_words",
      "flag_stopwords", "flag_dup_lines")
    Lineage.fence(flagged
      .withColumn("gopher_pass", flags.map(col).reduce(_ && _))
      .drop("_gm"))
  }

  /** Keep only documents passing every Gopher rule (NULL text is
    * dropped — `filter` discards NULL predicates). */
  def gopherFilter(df: DataFrame, textCol: String,
                   t: GopherThresholds = GopherThresholds()): DataFrame = {
    val flags = Seq("n_words", "flag_word_count", "flag_word_len",
      "flag_symbol_ratio", "flag_bullet_lines", "flag_ellipsis_lines",
      "flag_alpha_words", "flag_stopwords", "flag_dup_lines", "gopher_pass")
    withGopherFlags(df, textCol, t).filter(col("gopher_pass"))
      .drop(flags: _*)
  }

  // ------------------------------------------------- C4-rule cleaning

  /** Thresholds for [[withC4Flags]] — defaults are the published C4
    * cleaning rules (Raffel et al. 2020, §2.2): keep only lines that
    * end in terminal punctuation AND have ≥ 5 words AND don't mention
    * javascript; drop whole pages that contain "lorem ipsum" or a
    * curly brace, or whose retained text has < 3 sentences. */
  case class C4Thresholds(minLineWords: Int = 5, minSentences: Int = 3)

  /** Attach the C4 line-cleaning results per document:
    * `clean_text` (retained lines re-joined), `n_lines`,
    * `n_lines_kept`, `n_sentences` (terminal-punctuation marks in the
    * retained text), and the page gate `c4_pass`. NULL text yields
    * NULL outputs. Pure per-row array/regex expressions — shuffle-free
    * and reproducible in any engine with RE2-class regexes and list
    * lambdas (the oracle runs the identical rules in DuckDB). Returned
    * behind [[Lineage.fence]], so the `c4_pass` filter does not copy
    * the line split and regexes into its condition. */
  def withC4Flags(df: DataFrame, textCol: String,
                  t: C4Thresholds = C4Thresholds()): DataFrame = {
    val txt = col(textCol)
    val isNullT = txt.isNull
    val lines = split(txt, "\n")
    val keepLine = (l: Column) =>
      size(split(trim(l), "\\s+")) >= t.minLineWords &&
        trim(l).rlike("[.!?\"]$") &&
        !lower(l).contains("javascript")
    val clean = col("_clean")
    val staged = df.withColumn("_kept", filter(lines, keepLine))
      .withColumn("_clean", array_join(col("_kept"), "\n"))
      .withColumn("_n_sentences",
        (length(clean) - length(regexp_replace(clean, "[.!?]", ""))).cast("long"))
    val nSentences = col("_n_sentences")
    def gate(c: Column, t: String = "boolean"): Column =
      when(isNullT, lit(null).cast(t)).otherwise(c)
    Lineage.fence(staged
      .withColumn("clean_text", when(isNullT, lit(null).cast("string"))
        .otherwise(clean))
      .withColumn("n_lines", gate(size(lines).cast("long"), "long"))
      .withColumn("n_lines_kept", gate(size(col("_kept")).cast("long"), "long"))
      .withColumn("n_sentences", gate(nSentences, "long"))
      .withColumn("c4_pass", gate(
        !lower(txt).contains("lorem ipsum") &&
          !txt.contains("{") &&
          nSentences >= t.minSentences))
      .drop("_kept", "_clean", "_n_sentences"))
  }

  /** C4 page filter: keep passing pages with `textCol` REPLACED by the
    * retained lines (the paper keeps the cleaned page, not the raw
    * one). NULL text is dropped. */
  def c4Clean(df: DataFrame, textCol: String,
              t: C4Thresholds = C4Thresholds()): DataFrame =
    withC4Flags(df, textCol, t)
      .filter(col("c4_pass"))
      .withColumn(textCol, col("clean_text"))
      .drop("clean_text", "n_lines", "n_lines_kept", "n_sentences", "c4_pass")

  // ----------------------------------------------------- PII redaction

  /** Engine-portable (RE2-safe: no lookaround/backrefs) PII patterns. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phonePattern = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** Redact emails, IPv4 addresses, and phone numbers with typed
    * placeholder tokens. Order matters: emails before phones (an
    * address can embed digit runs), IPs before phones (dotted
    * quads would otherwise half-match the phone pattern). Pure
    * regexp_replace chain — codegen'd, per-row, no shuffle, and
    * reproducible in any engine with RE2-class regexes. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")

  /** Per-category PII match counts (pre-redaction). */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> size(regexp_extract_all(text, lit(emailPattern), lit(0))),
    "n_ips" -> size(regexp_extract_all(text, lit(ipv4Pattern), lit(0))),
    "n_phones" -> size(regexp_extract_all(text, lit(phonePattern), lit(0))))

  /** Language-ID marker lexicons (top function words per language) +
    * a CJK character-class test for zh. A cheap n-gram/stopword
    * heuristic, not a model — the standard first-pass lang filter in
    * data pipelines. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "with", "for"),
    "fr" -> Seq("le", "la", "les", "et", "de", "des", "un", "une", "est", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "es" -> Seq("el", "los", "las", "y", "es", "en", "que", "un", "una", "por"))

  /** Per-language marker-hit count over whitespace tokens. */
  def langScore(text: Column, markers: Seq[String]): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    size(filter(toks, t => array_contains(array(markers.map(lit): _*), t)))
  }

  /** CJK codepoint count (zh detection). */
  def cjkCount(text: Column): Column =
    length(regexp_replace(text, "[^\\x{4e00}-\\x{9fff}]", ""))

  /** Argmax language guess with deterministic tie-break (declaration
    * order; "und" = undetermined when nothing scores).
    *
    * WARNING (perf): as a single Column the token-split subtree is
    * duplicated into every score and every CASE branch — Catalyst
    * doesn't CSE across expression trees, so cost multiplies
    * (measured 17 s for 5000 docs at sf0.1). Hot paths use the staged
    * [[withLangId]]. */
  def langId(text: Column): Column = {
    val cjk = cjkCount(text)
    val scores = langMarkers.map { case (l, ms) => (l, langScore(text, ms)) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // first-match-wins across declaration order on score ties:
    // reversed fold nests earlier languages OUTERMOST, so the first
    // declared winner short-circuits (and no acc-vs-literal compare —
    // the old fold tripped Spark's trivially-true-predicate warning)
    when(cjk > 0, lit("zh")).otherwise(
      scores.reverse.foldLeft(lit("und")) { case (acc, (l, s)) =>
        when(s === best && best > 0, lit(l)).otherwise(acc)
      })
  }

  /** Staged language-ID: tokens, per-language scores, best and the
    * final pick each live in their own projection, so every expensive
    * piece evaluates once per row. Same semantics as [[langId]]. */
  def withLangId(df: DataFrame, textCol: String,
                 out: String = "lang_guess"): DataFrame = {
    val markerCols = langMarkers.map { case (l, ms) =>
      size(filter(col("_toks"), t =>
        array_contains(array(ms.map(lit): _*), t))).as(s"_s_$l")
    }
    val scoreRefs = langMarkers.map { case (l, _) => col(s"_s_$l") }
    val best = scoreRefs.reduce((a, b) => greatest(a, b))
    // reversed fold = first-match-wins with earlier languages
    // outermost (see langId); avoids the literal-vs-literal compare
    // that spammed the trivially-true-predicate warning per run
    val pick = langMarkers.reverse.foldLeft(lit("und"): Column) {
      case (acc, (l, _)) =>
        when(col(s"_s_$l") === col("_best") && col("_best") > 0, lit(l))
          .otherwise(acc)
    }
    df.withColumn("_toks", split(lower(trim(col(textCol))), "\\s+"))
      .withColumn("_cjk", cjkCount(col(textCol)))
      .select(Seq(col("*")) ++ markerCols: _*)
      .withColumn("_best", best)
      .withColumn(out, when(col("_cjk") > 0, lit("zh")).otherwise(pick))
      .drop(Seq("_toks", "_cjk", "_best") ++ langMarkers.map(m => s"_s_${m._1}"): _*)
  }

  /** Canonical text normalization for fingerprinting: lowercase, strip
    * punctuation, collapse whitespace. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[\\p{Punct}]", " "),
      "\\s+", " "))

  /** Content fingerprint = md5 of normalized text. md5 (not xxhash64)
    * so the fingerprint is reproducible across engines (DuckDB has
    * md5; xxhash64 seeds differ). */
  def fingerprint(text: Column): Column = md5(normalize(text).cast("binary"))

  /** Staged raw quality metrics: one token split, each ratio computed
    * once as its own column. `_len`/`_praw`/`_sraw`/`_mraw` are raw
    * (unrounded) doubles for downstream scoring. */
  def withQualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("_toks", split(lower(trim(t)), "\\s+"))
      .withColumn("_len", length(t).cast("double"))
      .withColumn("_praw",
        when(col("_len") === 0.0, 0.0).otherwise(
          length(regexp_replace(t, "[^\\p{Punct}]", "")).cast("double") / col("_len")))
      .withColumn("_sraw",
        when(size(col("_toks")) === 0, 0.0).otherwise(
          size(filter(col("_toks"), w => array_contains(
            array(stopwords.map(lit): _*), w))).cast("double") /
            size(col("_toks")).cast("double")))
      .withColumn("_mraw",
        when(size(col("_toks")) === 0, 0.0).otherwise(
          aggregate(col("_toks"), lit(0L), (acc, w) => acc + length(w))
            .cast("double") / size(col("_toks")).cast("double")))
      .drop("_toks")
  }

  /** Composite quality from staged raw metrics (same formula as
    * [[qualityScore]], operating on the `_len`/`_praw`/`_sraw`/`_mraw`
    * columns of [[withQualityMetrics]]); rounding left to callers. */
  def qualityFromMetrics: Column = {
    val lenScore = least(col("_len") / 200.0, lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - col("_praw") * 4.0)
    val stopScore = least(col("_sraw") * 5.0, lit(1.0))
    val wordScore = when(col("_mraw") >= 3.0 && col("_mraw") <= 10.0, lit(1.0))
      .otherwise(lit(0.5))
    lenScore * 0.4 + punctPenalty * 0.2 + stopScore * 0.2 + wordScore * 0.2
  }

  /** Convenience: attach the full analysis column set (staged). */
  /** Blocklist stats: `n_tokens_blocked` (total occurrences of
    * blocklisted tokens, lowercased whitespace tokenization) and
    * `blocked_ratio` — the UT1-style bad-word gate every web-corpus
    * cleaning recipe applies. The blocklist rides as a BROADCAST hash
    * map via the [[graft.expressions.VocabEncode]] kernel (real
    * blocklists run to tens of thousands of terms — a literal
    * `isin`/array would be O(tokens × terms) interpreted work per
    * row), so the whole stage is a shuffle-free projection. */
  def withBlocklistStats(df: DataFrame, textCol: String,
                         blocklist: Seq[String]): DataFrame = {
    val m = new java.util.HashMap[String, java.lang.Long](blocklist.size * 2)
    blocklist.foreach(w => m.put(w.toLowerCase, 0L))
    val bcast = df.sparkSession.sparkContext.broadcast(m)
    val toks = when(trim(col(textCol)) === "" || col(textCol).isNull,
        array().cast("array<string>"))
      .otherwise(split(lower(trim(col(textCol))), "\\s+"))
    val ids = graft.expressions.VocabEncode.vocab_encode(toks, bcast, -1L)
    df.withColumn("_bl_hits", size(filter(ids, x => x >= 0)))
      .withColumn("n_tokens_blocked", col("_bl_hits").cast("long"))
      .withColumn("blocked_ratio",
        when(size(ids) === 0, 0.0)
          .otherwise(col("_bl_hits").cast("double") /
            size(ids).cast("double")))
      .drop("_bl_hits")
  }

  /** Keep documents whose blocklisted-token ratio is AT MOST
    * `maxRatio` (the default 0.0 drops any doc with a hit; a nonzero
    * bound keeps docs sitting exactly on it). */
  def filterBlocklisted(df: DataFrame, textCol: String,
                        blocklist: Seq[String],
                        maxRatio: Double = 0.0): DataFrame =
    withBlocklistStats(df, textCol, blocklist)
      .filter(col("blocked_ratio") <= maxRatio)
      .drop("n_tokens_blocked", "blocked_ratio")

  /** Token counts, quality metrics, language guess and fingerprint of
    * `textCol`, behind [[Lineage.fence]]: a quality gate filters on
    * the computed metrics instead of copies of their regexes. */
  def analyze(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val staged = withLangId(withQualityMetrics(df, textCol), textCol)
    Lineage.fence(staged
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("n_tokens_bpe", tokenCountBpe(t))
      .withColumn("punct_ratio", round(col("_praw"), 4))
      .withColumn("stopword_ratio", round(col("_sraw"), 4))
      .withColumn("mean_word_len", round(col("_mraw"), 4))
      .withColumn("quality", round(qualityFromMetrics, 4))
      .withColumn("char_entropy",
        round(graft.expressions.CharEntropy.char_entropy(t), 4))
      .withColumn("fingerprint", fingerprint(t))
      .drop("_len", "_praw", "_sraw", "_mraw"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    * SIGMOD 2003, the MOSS algorithm): hash every character k-gram of
    * the normalized text, slide a w-wide window over the hash
    * sequence, and keep each window's MINIMUM hash (rightmost
    * position on ties). Guarantees: any shared substring of length
    * >= w + k - 1 between two documents yields at least one shared
    * fingerprint — the bounded-density local sampling that makes
    * substring-level matching work at corpus scale without storing
    * every shingle.
    *
    * Hashes are the first 32 md5 bits (the repo's cross-engine hash),
    * selection is integer min/argmax — the replay is exact.
    *
    * Scale shape: one position explode (len - k + 1 rows per doc),
    * one windowed min, one bounded self-join (fan-out <= w) and a
    * distinct — all keyed on the doc. Returns distinct
    * `(idCol, pos, fp)` selected fingerprints. */
  def winnow(df: DataFrame, idCol: String, textCol: String,
             k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 2, s"need k >= 2 and w >= 2, got k=$k w=$w")
    // ONE per-row kernel ([[graft.expressions.WinnowFingerprints]]:
    // O(len) monotonic-deque sliding minimum, identical hash/tie
    // semantics to the SQL spelling the oracle replays) — the prior
    // pipeline exploded one row per CHARACTER, ran a per-doc window,
    // and self-joined with a w-way fan-in: three shuffles of
    // corpus-characters-sized intermediates where this plans a single
    // projection, and only SELECTED fingerprints (density 2/(w+1))
    // become rows. Measured at sf0.1: text_winnow 4.2 s → sub-second.
    df.select(col(idCol), normalize(col(textCol)).as("_t"))
      .filter(length(col("_t")) >= k)
      .select(col(idCol),
        explode(graft.expressions.WinnowFingerprints
          .winnow_fingerprints(col("_t"), k, w)).as("_s"))
      .select(col(idCol), col("_s.pos").as("pos"), col("_s.fp").as("fp"))
  }
}
