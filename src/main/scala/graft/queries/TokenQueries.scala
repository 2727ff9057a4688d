package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{Bm25, Text, Tfidf}
import graft.queries.Fixtures._

/** Tokenization and retrieval: token counts, vocabularies, BPE, TF-IDF,
  * BM25, n-gram heavy hitters and sequence packing. */
object TokenQueries {
  val all: Seq[Query] = Seq(
    // ---- text token counting -------------------------------------
    // Edge rows unioned in: blank text (token count must be 0, not
    // the 1 a naive split yields) and non-ASCII text — both under
    // the hash oracle.
    Query("text_tokens", (s, dir) => {
      import s.implicits._
      val base = tBalanced(s, dir, "documents").select(col("doc_id"), col("text"))
      val edges = Seq((-2L, "héllo wörld — ünicode"),
        (-1L, "   ")).toDF("doc_id", "text")
      base.unionByName(edges)
        .select(col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("n_tokens"),
          Text.tokenCountBpe(col("text")).cast("long").as("n_tokens_bpe"))
        .orderBy("doc_id")
    },
      // Blank text counts 0 whitespace tokens (a naive split of ''
      // yields ['] → 1); same edge rows as the Spark side unions in.
      Some("""WITH src AS (
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
        |FROM src ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- corpus vocabulary: top-50 tokens ------------------------
    // Explode → partial-agg count → TakeOrdered: the shuffle moves
    // (token, partial count) pairs, never raw text; the top-k cut is
    // map-side bounded. The (count DESC, token ASC) tiebreak makes
    // the result set deterministic across engines.
    Query("text_vocab", (s, dir) =>
      tBalanced(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(50),
      Some("""WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
        |SELECT token, count(*) AS n FROM toks WHERE token <> ''
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""".stripMargin),
      headline = true),

    // ---- corpus-wide bigram heavy hitters ------------------------
    // Integer counts -> the (count desc, gram asc) rank is exactly
    // deterministic cross-engine; top-k plans TakeOrderedAndProject.
    Query("text_top_ngrams", (s, dir) =>
      graft.ops.Ngrams.topNgrams(t(s, dir, "documents"),
          "doc_id", "text", n = 2, k = 50)
        .orderBy("rank"),
      // bigram heavy hitters: same normalize as text_tfidf; integer
      // counts make the rank exact.
      Some("""WITH d AS (
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
        |FROM top ORDER BY rank""".stripMargin),
      headline = true),

    // ---- per-doc top-k TF-IDF terms ------------------------------
    // Rank order is the exact-rational tf/df key (see Tfidf scaladoc
    // for why ln is display-only), so both engines select identical
    // winners; the smoothed-log score is rounded for the hash.
    Query("text_tfidf", (s, dir) =>
      Tfidf.topTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .withColumn("tfidf", r(col("tfidf"), 4))
        .orderBy("doc_id", "rank"),
      // rank by the exact-rational tf/df key (ln is display-only; see
      // the Spark-side comment), smoothed-log score rounded to 4.
      Some("""WITH d AS (
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
        |FROM scored WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),
      headline = true),

    // ---- BM25 ranked retrieval -----------------------------------
    // Five fixed queries (literal-for-literal with the oracle's
    // VALUES list) against the documents table; raw-score ranking
    // with doc_id tie-break (see Bm25 scaladoc for why that is
    // cross-engine stable), score rounded for the hash.
    Query("text_bm25", (s, dir) =>
      Bm25.topK(t(s, dir, "documents"), "doc_id", "text",
          bm25Queries, k = 10)
        .withColumn("score", r(col("score"), 4))
        .orderBy("query_id", "rank"),
      // BM25 (Lucene-shaped idf); same normalize/tokenize CTEs as
      // text_tfidf, avgdl = sum(dl)/N over ALL docs, raw-score rank
      // with doc_id tie-break, rounded score for the hash.
      Some("""WITH q(query_id, qtext) AS (VALUES
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
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
      headline = true),

    // ---- vocab-id encoding (token_ids sequences) -----------------
    // Top-100 vocab built from the corpus itself (bounded driver
    // collect), broadcast, then a shuffle-free per-row encode; the
    // output is exploded to (doc_id, pos, tid) because the driver
    // compare cannot sort array cells. OOV → -1.
    Query("q_vocab_encode", (s, dir) => {
      val docs = tBalanced(s, dir, "documents")
      val vocab = graft.ops.Vocab.topTokens(docs, "text", 100)
      graft.ops.Vocab.encode(docs, "text", vocab)
        .select(col("doc_id"), posexplode(col("token_ids")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("tid"))
        .orderBy("doc_id", "pos")
    },
      Some("""WITH vocab AS (
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
        |ORDER BY doc_id, pos""".stripMargin),
      headline = true),

    // ---- BPE subword tokenization --------------------------------
    // The distributed encode kernel under a FIXED merge table shared
    // literal-for-literal with the oracle, which re-implements the
    // merge walk (lowest-rank pair, leftmost occurrence, repeat) as a
    // recursive CTE over boundary-safe '|'-separated symbol strings.
    // Training (graft.ops.Bpe.train) is sequential-by-nature and
    // driver-side on a bounded sample — pinned by BpeSpec, not
    // oracle-able as static SQL. Edge rows pin blank → 0 tokens and
    // NULL → NULL.
    Query("q_bpe_encode", (s, dir) => {
      import s.implicits._
      val base = tBalanced(s, dir, "documents").select(col("doc_id"), col("text"))
      val edges = Seq((-2L, null: String), (-1L, "   ")).toDF("doc_id", "text")
      graft.ops.Bpe.encode(base.unionByName(edges), "text", bpeFixedMerges)
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_tokens"),
          array_join(col("tokens"), " ").as("token_str"))
        .orderBy("doc_id")
    },
      // The BPE merge walk re-implemented from scratch: words become
      // boundary-safe '|'-separated symbol strings; each recursion step
      // applies the lowest-rank merge pair present (correlated min over
      // the merge table) at its LEFTMOST occurrence (position()); a word
      // stops recursing when no pair applies, and arg_max(s, it) picks
      // its terminal state. Merge VALUES = Fixtures.bpeFixedMerges.
      Some("""WITH RECURSIVE d AS (
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
        |ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- sequence packing (concat-and-chunk, per-shard) ----------
    // ---- sliding-window chunking (context-length windows) --------
    // size 16 / stride 8 = 50% overlap; whitespace tokens so the
    // window arithmetic is exactly reproducible in the oracle.
    Query("q_chunk_windows", (s, dir) =>
      graft.ops.Chunking.slidingWindow(
          tBalanced(s, dir, "documents"), "doc_id", "text",
          size = 16, stride = 8)
        .orderBy("doc_id", "chunk_id"),
      // Concat-and-chunk packing: per-lang running token count → chunk
      // id/offset, replicated with a window cumsum.
      Some("""WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        |), st AS (
        |  SELECT doc_id, toks, unnest(range(0, len(toks), 8)) AS s FROM tk)
        |SELECT doc_id, CAST(s // 8 AS BIGINT) AS chunk_id,
        |  CAST(len(toks[s+1:s+16]) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(toks[s+1:s+16], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin),
      headline = true),

    Query("q_pack_sequences", (s, dir) =>
      graft.ops.Packing.packChunks(
          tBalanced(s, dir, "documents")
            .select(col("doc_id"), col("lang"),
              Text.tokenCount(col("text")).cast("long").as("n_tokens")),
          "n_tokens", budget = 2048,
          shardCols = Seq("lang"), orderCol = "doc_id")
        .select("doc_id", "lang", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id"),
      Some("""WITH d AS (
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
        |FROM c ORDER BY doc_id""".stripMargin)),

    // no-split greedy packing (SFT mode): the whole per-shard greedy
    // walk is replayed in the oracle as a recursive CTE, so every
    // (seq_id, seq_offset) assignment is hash-gated
    Query("q_pack_greedy", (s, dir) =>
      graft.ops.Packing.packGreedy(
          tBalanced(s, dir, "documents")
            .select(col("doc_id"), col("lang"),
              Text.tokenCount(col("text")).cast("long").as("n_tokens")),
          "n_tokens", budget = 1024,
          shardCols = Seq("lang"), orderCol = "doc_id")
        .select("doc_id", "lang", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id"),
      // the greedy walk has a sequential dependency (fill carries
      // forward), so the oracle replays it as a per-shard recursion
      // over rank order — bitwise the same decision rule as packGreedy
      Some("""WITH RECURSIVE d AS MATERIALIZED (
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
        |FROM p ORDER BY doc_id""".stripMargin),
      headline = true),

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
    Query("q_pack_bpe", (s, dir) =>
      graft.ops.Packing.packGreedy(
          graft.ops.Bpe.withTokenCount(
            tBalanced(s, dir, "documents")
              .select(col("doc_id"), col("lang"), col("text")),
            "text", bpeFixedMerges)
            .select("doc_id", "lang", "n_tokens_bpe"),
          "n_tokens_bpe", budget = 2048,
          shardCols = Seq("lang"), orderCol = "doc_id")
        .select("doc_id", "lang", "n_tokens_bpe", "seq_id", "seq_offset")
        .orderBy("doc_id"),
      // Tokenizer-true packing: the q_bpe_encode merge-walk replay
      // produces per-doc BPE token counts, which feed the q_pack_greedy
      // recursive scan at budget 2048. Merge VALUES = bpeFixedMerges.
      Some("""WITH RECURSIVE src AS (
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
        |FROM p ORDER BY doc_id""".stripMargin),
      headline = true)
  )
}
