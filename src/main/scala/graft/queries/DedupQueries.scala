package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, DupSpans, Similarity}
import graft.queries.Fixtures._

/** Deduplication: exact, fingerprint, MinHash/SimHash/n-gram/winnow
  * near-dup pairs, clustering, span removal, embedding and semantic dedup. */
object DedupQueries {
  val all: Seq[Query] = Seq(
    // ================= extension tier =============================

    // ---- exact dedup (hash-groupBy) ------------------------------
    Query("dedup_exact", (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", Seq("lang", "source"))
        .orderBy("lang", "source"),
      Some("""SELECT lang, source, min(doc_id) AS doc_id, count(*) AS n_dupes
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin),
      headline = true),

    // ---- fingerprint dedup (md5 of normalized text) --------------
    Query("dedup_fingerprint", (s, dir) =>
      Dedup.byFingerprint(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint,
        |  min(doc_id) AS doc_id, count(*) AS n_dupes
        |FROM documents GROUP BY fingerprint ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- incremental dedup: batch vs corpus via Bloom gate -------
    // doc_id % 3 splits documents into a fixed "reference corpus"
    // (2/3) and a "new batch" (1/3); the batch keeps only fingerprints
    // unseen in the reference. Routed through the broadcast Bloom
    // filter + exact-verify path, whose result is exactly the
    // anti-join — which is what the oracle recomputes (NOT EXISTS, so
    // NULL fingerprints stay kept on both engines).
    Query("dedup_incremental", (s, dir) => {
      val fp = graft.ops.Text.fingerprint(col("text"))
      val docs = t(s, dir, "documents").withColumn("fingerprint", fp)
      val reference = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
      graft.ops.IncrementalDedup.cleaned(batch, reference, "fingerprint")
        .select("doc_id", "fingerprint").orderBy("doc_id")
    },
      Some("""WITH f AS (
        |  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
        |  FROM documents)
        |SELECT doc_id, fingerprint FROM f b
        |WHERE doc_id % 3 = 0
        |  AND NOT EXISTS (SELECT 1 FROM f r
        |    WHERE r.doc_id % 3 <> 0 AND r.fingerprint = b.fingerprint)
        |ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- line-level boilerplate removal (CCNet-style) ------------
    // The corpus has no newlines, so lines are synthesized the same
    // way on both sides (replace ' value ' with \n — left-to-right
    // non-overlapping in Spark and DuckDB alike); unioned edge docs
    // pin the semantics: shared banner/footer lines removed in order,
    // an all-boilerplate doc emptied (not dropped), NULL text → NULL.
    Query("dedup_boilerplate", (s, dir) => {
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
    },
      // Line synthesis (replace ' value ' with \n) mirrored, then the
      // boilerplate set = lines in ≥3 distinct docs, removal via a list
      // comprehension that preserves order; string_agg over an empty
      // kept-list is NULL → coalesce to '' like array_join of [].
      Some("""WITH src AS (
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
        |ORDER BY s.doc_id""".stripMargin),
      headline = true),

    // ---- SimHash near-dup pairs (exact oracle) -------------------
    // maxHamming=3 with chunks=4 keeps the pigeonhole guarantee
    // (chunks > maxHamming), so the chunk-bucketed join finds EVERY
    // pair within the Hamming ball — the DuckDB oracle recomputes the
    // md5-token signatures and the full quadratic xor/bit_count pair
    // set and must match row-for-row.
    Query("dedup_simhash_pairs", (s, dir) =>
      Dedup.simhashPairs(tBalanced(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("id_a", "id_b"),
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
        |ORDER BY id_a, id_b""".stripMargin),
      headline = true),

    // ---- exact n-gram Jaccard pairs (lang-blocked) ---------------
    Query("dedup_ngram_pairs", (s, dir) =>
      Dedup.ngramJaccardPairs(tBalanced(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.6, blockCol = Some("lang"))
        .withColumn("jaccard", r(col("jaccard"), 4))
        .orderBy("id_a", "id_b"),
      // Lang-blocked 3-gram pairs at t=0.6 in the same bitstring
      // spelling (the corpus has ~400 distinct 3-grams); size-ratio
      // skip sound at 0.6 (J ≤ min/max), block key joined as an
      // equality. 213928 pairs at sf0.1 verify inline in ~16 s.
      Some("""WITH d AS MATERIALIZED (
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
        |WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin)),

    // ---- n-gram Jaccard via minhash candidates (scale path) ------
    // The 100 TB default: no quadratic block anywhere in the plan —
    // MinHash+LSH proposes, SortedLongJaccard verifies candidates
    // only. The S-curve (16 bands × 4 rows) bounds P(miss | J ≥ 0.9)
    // ≤ 4e-8, so the output equals the quadratic DuckDB verifier
    // exactly and is hash-oracled. This green row is ALSO the
    // containment oracle for minhashCandidatePairs itself: a missed
    // candidate would drop a row here.
    Query("dedup_ngram_verified", (s, dir) =>
      Dedup.ngramJaccardVerified(tBalanced(s, dir, "documents"), "doc_id",
        "text", n = 5, threshold = 0.8)
        .withColumn("jaccard", r(col("jaccard"), 4))
        .orderBy("id_a", "id_b"),
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
      Some("""WITH d AS MATERIALIZED (
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
        |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin),
      headline = true),

    // ---- near-dup clustering (connected components) --------------
    // Min-label propagation over the exact 5-gram Jaccard pair graph
    // (the hash-verified ngramJaccardVerified output), so a
    // transitive chain A~B~C labels all three with min(id). The
    // oracle recomputes the same components with a recursive CTE
    // over its own quadratic pair set — full 500-row mapping
    // hash-checked.
    Query("dedup_cluster", (s, dir) => {
      val docs = tBalanced(s, dir, "documents")
      val pairs = Dedup.ngramJaccardVerified(docs, "doc_id", "text",
          n = 5, threshold = 0.8)
        .select("id_a", "id_b")
      Dedup.clusterPairs(docs.select(col("doc_id")), "doc_id", pairs)
        .orderBy("doc_id")
    },
      // Connected components by transitive closure: min reachable id
      // per node over the same exact 5-gram J ≥ 0.8 pair graph, with
      // the pair discovery in the bitstring spelling (see
      // dedup_ngram_verified — ~25 s inline at sf0.1 vs ~1000 s for
      // the list-intersect form). MATERIALIZED still pins each CTE to
      // one evaluation so the recursion never replays pair discovery.
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
        |SELECT id AS doc_id, min(seen) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    // ---- quality-aware canonical selection -----------------------
    // Production survivor policy: each near-dup component keeps its
    // BEST member (max n_chars, ties min id), not its min-id one.
    // Same exact hash-verified pair graph as dedup_cluster; the
    // oracle replays components + the identical rank pick, so the
    // full survivor set hash-verifies.
    Query("dedup_cluster_best", (s, dir) => {
      val docs = tBalanced(s, dir, "documents")
      val pairs = Dedup.ngramJaccardVerified(docs, "doc_id", "text",
          n = 5, threshold = 0.8)
        .select("id_a", "id_b")
      Dedup.keepBestPerCluster(docs, "doc_id", pairs, "n_chars")
        .select("doc_id", "n_chars").orderBy("doc_id")
    },
      // Same components; survivor = max n_chars (ties min id) per
      // cluster, replayed with an identical rank pick. Same bitstring
      // pair discovery + MATERIALIZED pinning as dedup_cluster.
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
        |
        |, comp AS (
        |  SELECT id AS doc_id, min(seen) AS cluster_id
        |  FROM reach GROUP BY id)
        |SELECT doc_id, n_chars FROM (
        |  SELECT c.doc_id, doc.n_chars,
        |    row_number() OVER (PARTITION BY c.cluster_id
        |      ORDER BY doc.n_chars DESC, c.doc_id) AS rk
        |  FROM comp c JOIN documents doc USING (doc_id))
        |WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    // ---- winnow-based substring-overlap candidate pairs ----------
    // Partial-overlap dedup: docs sharing >= 3 winnow fingerprints
    // after dropping corpus-boilerplate fingerprints (> 20 docs) —
    // the spliced-passage detector whole-doc minhash under-weighs.
    Query("dedup_winnow_pairs", (s, dir) =>
      graft.ops.Dedup.winnowCandidatePairs(
          tBalanced(s, dir, "documents"), "doc_id", "text",
          k = 5, w = 4, minShared = 3, maxFpFreq = 20)
        .orderBy("id_a", "id_b"),
      // winnow walk + frequency-capped fingerprint join
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
        |ORDER BY id_a, id_b""".stripMargin),
      headline = true),

    // ---- cross-doc duplicated-span coverage (Lee et al. 2022) ----
    // The suffix-array "repeated substring" signal as a sharded
    // k-token rolling-window pipeline: narrow (id, pos, md5) rows →
    // corpus-wide count → coverage on the dup subset only. Ratios are
    // small-integer IEEE divisions — bit-identical cross-engine, no
    // rounding needed.
    Query("dedup_span_stats", (s, dir) =>
      DupSpans.spanStats(t(s, dir, "documents"), "doc_id", "text", k = 8)
        .orderBy("doc_id"),
      // k=8 token windows, md5-keyed; dup = ≥2 occurrences anywhere.
      // range(1, len-6) is end-exclusive = positions 1..len-7 = the
      // len-k+1 windows; list slice toks[i:i+7] is inclusive = k tokens.
      Some("""WITH d AS (
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
        |ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- surgical duplicated-span REMOVAL (ExactSubstr-remove) ---
    // Tokens under corpus-duplicated 8-token windows are deleted and
    // the normalized text rebuilt; the oracle replays windows →
    // counts → coverage → rebuild and hash-compares the full strings.
    Query("dedup_span_removal", (s, dir) =>
      DupSpans.removeDuplicatedSpans(t(s, dir, "documents"),
          "doc_id", "text", k = 8)
        .select("doc_id", "clean_text", "n_tokens_removed")
        .orderBy("doc_id"),
      // same window/count/coverage construction as dedup_span_stats,
      // then a token-level rebuild of the uncovered positions
      Some("""WITH d AS (
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
        |ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- incremental NEAR-dup dedup (batch vs stored corpus) -----
    // Even doc_ids play the stored reference, odd the new batch;
    // kept = odd docs with no verified (char-5-shingle jaccard >=
    // 0.8) near-dup among the evens. The oracle is the quadratic
    // cross-side verifier — exact under the S-curve/cap
    // preconditions (same contract as dedup_ngram_verified).
    Query("dedup_incr_neardup", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.IncrementalDedup.nearDupCleaned(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", threshold = 0.8)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
      // cross-side near-dup verifier: odd batch docs kept iff no
      // even reference doc reaches jaccard 0.8 — all cross pairs, with
      // the bitstring intersection spelling (see dedup_ngram_verified)
      Some("""WITH d AS MATERIALIZED (
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
        |ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- cross-table fuzzy match (batch vs master) ---------------
    // Odd-partkey distinct names matched against even-partkey
    // distinct names — the new-records-vs-master-list resolution.
    Query("q_fuzzy_match", (s, dir) => {
      val part = t(s, dir, "part")
      def side(parity: Int) = part
        .filter(col("p_partkey") % 2 === parity)
        .select(col("p_name")).distinct()
        .withColumn("name_id", col("p_name"))
      graft.ops.FuzzyJoin.fuzzyMatch(side(1), side(0),
          "name_id", "p_name", "name_id", "p_name", maxDistance = 1)
        .orderBy("left_id", "right_id")
    },
      // cross-table blocked fuzzy match, replayed block for block
      Some("""WITH l0 AS (
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
        |ORDER BY left_id, right_id""".stripMargin),
      headline = true),

    // ---- blocked fuzzy pairs (entity resolution) -----------------
    // Distinct part names as entities (the name is its own id);
    // first/last-token blocking + length band, levenshtein verify.
    Query("q_fuzzy_pairs", (s, dir) =>
      graft.ops.FuzzyJoin.selfFuzzyPairs(
          t(s, dir, "part").select(col("p_name")).distinct()
            .withColumn("name_id", col("p_name")),
          "name_id", "p_name", maxDistance = 2)
        .orderBy("id_a", "id_b"),
      // blocked fuzzy pairs: first/last-token blocking, length band,
      // levenshtein verify — mirrors the Spark op block for block.
      Some("""WITH p AS (SELECT DISTINCT p_name FROM part),
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
        |ORDER BY id_a, id_b""".stripMargin),
      headline = true),

    Query("dedup_minhash_pairs", (s, dir) =>
      Dedup.minhashCandidatePairs(tBalanced(s, dir, "documents"), "doc_id",
        "text", shingleK = 5, numHashes = 64, bands = 16)
        .filter(col("est_jaccard") >= 0.3)
        .orderBy("id_a", "id_b"),
      headline = true),

    // ---- embedding cosine near-dup pairs (exact, for oracle) -----
    // Bounded spelling: a ≤512-id md5Sample is broadcast against the
    // full normalized table (one BroadcastNestedLoopJoin, 512·n dot
    // products — linear at any corpus scale), emitting every exact
    // cosine ≥ 0.4 pair that touches a sampled id. Pairs with BOTH
    // endpoints sampled arrive twice (s,o) and (o,s); dot is
    // bitwise-commutative (same zip order), so canonicalize with
    // least/greatest + distinct. At sf ≤ 0.01 the sample is the whole
    // table and the output equals the old full cross-join gate.
    Query("dedup_embedding_pairs", (s, dir) => {
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
    },
      Some("""WITH e AS (
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
        |ORDER BY id_a, id_b""".stripMargin)),

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
    Query("dedup_emb_lsh_recall", (s, dir) => {
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
    },
      // Recall/bounds gates: the oracle recomputes the exact columns
      // and asserts the quality gate held (the *_ok flags must be true).
      Some("""WITH e AS (
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
        |  WHERE list_sum(list_transform(list_zip(s.v, o.v), p -> p[1] * p[2])) >= 0.3)""".stripMargin)),

    // ---- banded (multi-table) embedding LSH recall gate ----------
    // Same sampled-truth construction as dedup_emb_lsh_recall, but
    // the candidate generator is the E2LSH banded form: 4 independent
    // 5-plane bands, a pair candidates in ANY band. Per-band
    // coverage on the isotropic fixture is ~50% (C(5,<=2)=16 of 32
    // buckets probed); 1-(1-0.5)^4 ≈ 0.94 clears the 0.9 floor with
    // NO band's buckets widened — the recall-at-scale mechanism the
    // single-table form cannot offer (its only levers widen buckets
    // or deepen probes).
    Query("dedup_emb_banded_recall", (s, dir) => {
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
    },
      // banded gate: same sampled ground truth; the Spark side must
      // reach the 0.9 floor via band union for recall_ok to match
      Some("""WITH e AS (
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
        |  WHERE list_sum(list_transform(list_zip(s.v, o.v), p -> p[1] * p[2])) >= 0.3)""".stripMargin)),

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
    Query("dedup_emb_auto_recall", (s, dir) => {
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
    },
      // auto-scaled gate: identical exact-side oracle (the LSH
      // parameters are Spark-side; the oracle only recomputes the
      // sampled ground truth and asserts the flag) — which is what
      // makes this gate runnable unchanged at ANY scale fixture
      Some("""WITH e AS (
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
        |  WHERE list_sum(list_transform(list_zip(s.v, o.v), p -> p[1] * p[2])) >= 0.3)""".stripMargin)),

    // ---- SemDeDup survivors (hash-cluster mode, full oracle) -----
    // assign="hash" replays the md5 bucket map in DuckDB, so the
    // whole survivor set hash-verifies; the kmeans production mode is
    // gated by dedup_semantic_recall below plus the OpsSpec
    // soundness/recall spec.
    Query("dedup_semantic", (s, dir) =>
      Dedup.semDeDup(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, nClusters = 16, assign = "hash")
        .select("vec_id").orderBy("vec_id"),
      // SemDeDup hash-cluster mode: DuckDB replays the identical md5
      // bucket map and the NOT EXISTS min-id survivor rule, so the full
      // survivor set hash-verifies row for row.
      Some("""WITH e AS (
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
        |ORDER BY vec_id""".stripMargin)),

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
    Query("dedup_semantic_recall", (s, dir) => {
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
    },
      // kmeans-mode gate: the oracle pins the exact droppable count
      // over the bounded md5 sample; soundness and the recall floor are
      // engine-independent booleans the Spark side must prove true.
      Some("""WITH e AS (
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
        |WHERE list_sum(list_transform(list_zip(s.v, o.v), p -> p[1] * p[2])) >= 0.4""".stripMargin)),

    Query("dedup_embedding_lsh", (s, dir) =>
      Dedup.embeddingCosinePairs(tBalanced(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.3, planes = 4, probeBits = 3)
        .withColumn("cosine", r(col("cosine"), 6))
        .orderBy("id_a", "id_b"),
      headline = true),

    // the production SemDeDup path (kmeans + multi-enrollment); the
    // oracled dedup_semantic runs the hash-cluster harness mode
    Query("dedup_semantic_kmeans", (s, dir) =>
      Dedup.semDeDup(tBalanced(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.4, nClusters = 8, assign = "kmeans",
        nAssign = 2)
        .select("vec_id").orderBy("vec_id"),
      headline = true)
  )
}
