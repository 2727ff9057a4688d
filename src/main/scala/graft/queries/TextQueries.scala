package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{Contamination, LmScore, Text, Tfidf, Urls}
import graft.queries.Fixtures._

/** Text quality signals and gates: Gopher and C4 rules, PII redaction,
  * language id, classifiers, contamination and URL parsing. */
object TextQueries {
  val all: Seq[Query] = Seq(
    // ---- repetition signals (Gopher-style quality) ---------------
    Query("text_repetition", (s, dir) => {
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
    },
      Some("""WITH src AS (
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
        |ORDER BY d.doc_id""".stripMargin)),

    // ---- PII redaction -------------------------------------------
    // Fixture text has no PII, so edge rows plant every category;
    // redacted text + per-category counts all hash-checked.
    Query("text_redact_pii", (s, dir) => {
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
    },
      Some("""WITH src AS (
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
        |FROM src ORDER BY doc_id""".stripMargin)),

    // ---- text quality scoring (staged metrics, computed once) ----
    Query("text_quality", (s, dir) =>
      Text.withQualityMetrics(tBalanced(s, dir, "documents"), "text")
        .select(col("doc_id"),
          col("_len").cast("long").as("n_chars_m"),
          r(col("_praw"), 4).as("punct_ratio"),
          r(col("_sraw"), 4).as("stopword_ratio"),
          r(col("_mraw"), 4).as("mean_word_len"),
          r(Text.qualityFromMetrics, 4).as("quality"))
        .orderBy("doc_id"),
      Some("""WITH d AS (
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
        |FROM m ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- language identification (staged scores) -----------------
    Query("text_langid", (s, dir) =>
      Text.withLangId(tBalanced(s, dir, "documents"), "text")
        .select(col("doc_id"), col("lang_guess"))
        .orderBy("doc_id"),
      Some("""WITH d AS (
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
        |FROM s ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- document fingerprinting ---------------------------------
    Query("text_fingerprint", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- char-entropy quality signal (one-pass kernel) -----------
    // Edge rows pin the degenerate cases: empty → 0.0, single
    // repeated char → 0.0, uniform 4-char block → 2.0 exactly.
    // BMP-only parity: the kernel counts UTF-16 units, the oracle
    // code points — identical below U+10000, and the fixtures stay
    // there.
    Query("text_entropy", (s, dir) => {
      import s.implicits._
      val edges = Seq((-3L, ""), (-2L, "aaaaaaaa"), (-1L, "abcdabcd"))
        .toDF("doc_id", "text")
      t(s, dir, "documents").select("doc_id", "text").unionByName(edges)
        .select(col("doc_id"),
          r(graft.expressions.CharEntropy.char_entropy(col("text")), 4)
            .as("char_entropy"))
        .orderBy("doc_id")
    },
      // Entropy recomputed the long way: explode to one row per char
      // position, frequency-count, -Σ p·ln(p)/ln(2). NULL text → NULL
      // (LATERAL drops the row, left join restores it), empty/uniform
      // strings → 0.0 via the edge rows.
      Some("""WITH src AS (
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
        |ORDER BY s.doc_id""".stripMargin),
      headline = true),

    // ---- blocklist gate (UT1-style bad-word filtering) -----------
    // Four common corpus tokens stand in for a real blocklist; the
    // stage shape (broadcast hash map, shuffle-free projection) is
    // what carries a 10k-term list at 100 TB.
    Query("text_blocklist", (s, dir) =>
      Text.withBlocklistStats(tBalanced(s, dir, "documents"), "text",
          Seq("the", "and", "data", "of"))
        .select(col("doc_id"), col("n_tokens_blocked"),
          r(col("blocked_ratio"), 4).as("blocked_ratio"))
        .orderBy("doc_id"),
      Some("""WITH t AS (
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
        |FROM h ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- winnowing fingerprints (MOSS) ---------------------------
    // Schleimer et al. 2003: k=5 char-gram md5 hashes, w=4 window
    // minima with the rightmost-tie rule — any shared substring of
    // length >= w+k-1 = 8 yields a shared fingerprint. Integer
    // min/argmax selection, exact replay.
    Query("text_winnow", (s, dir) =>
      graft.ops.Text.winnow(tBalanced(s, dir, "documents"),
          "doc_id", "text", k = 5, w = 4)
        .orderBy("doc_id", "pos", "fp"),
      // same winnowing walk: windowed min over k-gram hashes,
      // rightmost position on ties, distinct selected fingerprints
      Some("""WITH d AS (
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
        |FROM sel ORDER BY doc_id, pos, fp""".stripMargin),
      headline = true),

    // ---- feature-hashing embeddings (hashing trick) --------------
    // Signed md5 token hashing into 16 dims + L2 normalize — dense
    // vectors with NO model/vocab, the bridge from raw text to the
    // ANN/embedding-dedup family. Every value is bit-identical
    // cross-engine (integer ±1 sums, one exact sqrt, one division);
    // r4 is cosmetic. Exploded to cells for the hash compare.
    Query("text_hash_embed", (s, dir) =>
      graft.ops.HashEmbed.embed(tBalanced(s, dir, "documents"),
          "doc_id", "text", d = 16)
        .select(col("doc_id"), posexplode(col("embedding")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          r(col("col"), 4).as("v"))
        .orderBy("doc_id", "pos"),
      // md5-hashed dims/signs, integer per-dim sums, exact norm — the
      // same normalize/tokenize CTEs as text_tfidf
      Some("""WITH d AS (
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
        |ORDER BY doc_id, pos""".stripMargin),
      headline = true),

    // ---- model-based quality filter (multinomial Naive Bayes) ----
    // The fastText-classifier pattern of real pretraining pipelines
    // (CCNet/RedPajama): a heuristic weak label on a slice trains a
    // bag-of-words model that scores the rest of the corpus. Weak
    // label here = 'hi' iff positive marker tokens (fast/big) >=
    // negative ones (slow/small); train = doc_id % 5 != 0, test =
    // the held-out fifth. Output is the integer confusion matrix —
    // scores are r()-rounded BEFORE the argmax so both engines rank
    // bit-identical values (see NaiveBayes scaladoc).
    Query("text_classify_nb", (s, dir) => {
      val (train, test, labeled) = nbSplit(s, dir)
      graft.ops.NaiveBayes
        .trainPredict(train, test, "doc_id", "text", "label")
        .join(labeled.select(col("doc_id"), col("label").as("actual")),
          Seq("doc_id"))
        .groupBy(col("actual"), col("pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("actual", "pred")
    },
      // Full NB replay: same normalize/tokenize as text_tfidf, same
      // add-one smoothing, same r()-before-argmax. ln last-bit noise is
      // ~1e-13 absolute after the token sum — 9 orders below the p=4
      // rounding grid, so both engines argmax identical values.
      Some((nbCommonCtes +
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
        |GROUP BY 1, 2 ORDER BY 1, 2""").stripMargin),
      headline = true),

    // ---- NB feature diagnostics (smoothed odds ratio) ------------
    // Top-15 terms by the exact rational odds ratio hi-vs-lo; the
    // rank key is two IEEE divisions and a multiply of exactly-
    // representable integers — never ln (Tfidf's determinism trick).
    // The weak-label marker tokens must dominate by construction,
    // which makes this a live end-to-end check that training saw the
    // signal.
    Query("text_classify_feats", (s, dir) => {
      val (train, _, _) = nbSplit(s, dir)
      graft.ops.NaiveBayes.featureOdds(
          train.select(col("label"), col("text")),
          "text", "label", "hi", "lo", k = 15)
        .orderBy("rank")
    },
      Some((nbCommonCtes +
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
        .stripMargin)),

    // ---- C4 line-level cleaning rules (Raffel et al. 2020) -------
    // Terminal-punctuation + min-words-per-line retention, javascript
    // line drop, lorem-ipsum/brace/min-sentences page gates. The
    // corpus text is punctuation-free word salad (every line drops),
    // so crafted VALUES docs pin each rule's positive path.
    Query("text_c4", (s, dir) => {
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
    },
      Some("""WITH src AS (
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
        |FROM c ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- corpus bigram LM quality score (CCNet-style) ------------
    // Add-one smoothed bigram logprob per doc, model trained on the
    // corpus itself; both model tables are vocabulary-sized and the
    // score is rounded (cross-engine ln differs in the last ulp).
    Query("text_lm_score", (s, dir) =>
      LmScore.scoreDocs(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("avg_logprob", r(col("avg_logprob"), 6))
        .orderBy("doc_id"),
      Some("""WITH d AS (
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
        |FROM sc ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- Gopher quality-rule gates -------------------------------
    // Published MassiveText filter rules as per-rule boolean columns.
    // Lines synthesized like dedup_boilerplate; edge docs trip each
    // gate on its own (short doc, symbol spam, bullet wall, dup
    // lines, ellipsis endings) and NULL text yields NULL flags. All
    // outputs are booleans/longs — no FP rounding in the hash gate.
    Query("q_gopher_rules", (s, dir) => {
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
    },
      // Every Gopher gate recomputed with the same IEEE double
      // divisions (DuckDB `/` on integers is float division like
      // Spark's Divide); token/line splits, ltrim/rtrim, '[a-z]' and
      // the non-overlapping replace-based symbol counts all behave
      // identically across the engines.
      Some("""WITH src AS (
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
        |FROM m ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- corpus profile (one-pass ANALYZE) -----------------------
    // exact=true so count_distinct matches DuckDB's COUNT(DISTINCT);
    // the scale default is the HLL sketch variant (no Expand), which
    // ProfilingSpec pins within tolerance and PlanSpec pins plan-wise.
    Query("q_profile", (s, dir) =>
      graft.ops.Profiling.columnStats(t(s, dir, "documents"),
          Seq("doc_id", "lang", "source", "n_chars"), exact = true)
        .orderBy("col_name"),
      Some("""WITH s AS (
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
        |SELECT * FROM s ORDER BY col_name""".stripMargin),
      headline = true),

    // ---- benchmark contamination (word 8-gram overlap) -----------
    // "Benchmark" = docs 0-4 of the same corpus, so the checker must
    // flag at least those five (self-contamination) plus any real
    // near-dups — all reproduced by the oracle's quadratic version.
    Query("q_contamination", (s, dir) => {
      val docs = tBalanced(s, dir, "documents")
      Contamination.ngramOverlap(
          docs, "doc_id", "text",
          docs.filter(col("doc_id") < 5), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    },
      Some("""WITH d AS (
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
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- decontamination: drop any-overlap docs ------------------
    Query("q_decontaminate", (s, dir) => {
      val docs = tBalanced(s, dir, "documents")
      Contamination.removeContaminated(
          docs, "doc_id", "text",
          docs.filter(col("doc_id") < 5), "doc_id", "text", n = 8)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
      Some("""WITH d AS (
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
        |ORDER BY doc_id""".stripMargin)),

    // ---- quality-quantile gate: percentiles feeding a filter -----
    // The realistic corpus-curation shape: keep each language's top
    // quartile by quality score. Exercises exactInterpolated as a
    // THRESHOLD PRODUCER (tiny result broadcast back onto the corpus)
    // rather than a terminal aggregate; both sides compare at 4 dp so
    // the interpolated threshold is engine-stable.
    Query("q_quality_gate", (s, dir) => {
      val q = Text.withQualityMetrics(tBalanced(s, dir, "documents"), "text")
        .select(col("doc_id"), col("lang"),
          r(Text.qualityFromMetrics, 6).as("q"))
      val th = graft.ops.Percentiles.exactInterpolated(
        q, Seq("lang"), "q", Seq("p75" -> 0.75))
      q.join(broadcast(th), Seq("lang"))
        .filter(r(col("q"), 4) >= r(col("p75"), 4))
        .select(col("doc_id"), col("lang"), r(col("q"), 4).as("quality"))
        .orderBy("doc_id")
    },
      Some("""WITH d AS (
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
        |ORDER BY doc_id""".stripMargin)),

    // ---- structural URL parsing (graft.ops.Urls) -----------------
    // Documents carry no URL, so one is SYNTHESIZED deterministically
    // from doc_id (same expression in the oracle): scheme, optional
    // subdomain, 185 registered domains over 5 suffixes including
    // two-level public suffixes (co.uk, com.au), 0-2 path segments,
    // optional query. The oracle recomputes each component from the
    // CONSTRUCTION, not the parser — so the parser must actually
    // recover ground truth, including eTLD+1 through the two-level
    // suffix table.
    Query("q_url_parse", (s, dir) =>
      Urls.parseUrls(
          t(s, dir, "documents").withColumn("url", synthUrl),
          "url")
        .select(col("doc_id"), col("url_scheme"), col("url_host"),
          col("url_domain"), col("url_subdomain"), col("url_tld"),
          col("url_path"), col("url_query"), col("url_path_depth"))
        .orderBy("doc_id"),
      // The oracle rebuilds every URL component from the synthetic
      // CONSTRUCTION (see synthUrl), so the Spark parser must recover
      // ground truth — including eTLD+1 via the two-level-suffix rule.
      Some("""SELECT doc_id,
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
        |FROM documents ORDER BY doc_id""".stripMargin),
      headline = true),

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
    Query("q_url_psl", (s, dir) => {
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
    },
      // PSL ground truth stated independently per rule type (hand-
      // derived from the published-list algorithm): exact multi-level,
      // wildcard, exception, private-section, default-`*`, public-
      // suffix-as-host, trailing-dot, and literal-address rows.
      Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id, url_host, url_domain,
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
        |ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- per-domain cap over parsed URLs -------------------------
    // The crawl-balancing move: no registered domain keeps more than
    // `cap` docs, survivor choice hash-uniform and deterministic.
    // cap=2 binds on most of the 185 synthetic domains at sf0.01+.
    Query("q_url_domain_cap", (s, dir) =>
      Urls.capPerDomain(
          t(s, dir, "documents").withColumn("url", synthUrl),
          "url", "doc_id", cap = 2)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY 'site' || (doc_id % 37) || '.'
        |      || (['com', 'org', 'co.uk', 'io', 'com.au'])[CAST(doc_id % 5 + 1 AS INT)]
        |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |      doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 2 ORDER BY doc_id""".stripMargin),
      headline = true)
  )
}
