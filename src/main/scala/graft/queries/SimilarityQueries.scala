package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.SparkEntry.benchOnly
import graft.queries.Fixtures._

/** Similarity search: brute-force and ANN (LSH, IVF, IVF-PQ) top-k with
  * their recall gates, kNN graphs, MMR, quantization and PCA. */
object SimilarityQueries {
  val all: Seq[Query] = Seq(
    // ---- similarity: brute-force cosine top-k --------------------
    Query("sim_topk_brute", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .withColumn("cosine", r(col("cosine"), 6))
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
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
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      headline = true),

    // ---- similarity: LSH top-k recall gate (driver-checkable) ----
    // The approximate top-k rows themselves have no hash oracle; what
    // the oracle CAN verify is the recall floor: brute-force ground
    // truth is recomputed in Spark (itself hash-verified green via
    // sim_topk_brute), joined against the ANN output, and the single
    // result row asserts hits ≥ ⌈0.9 · k · n_queries⌉. A recall
    // regression flips recall_ok to false → hash mismatch → red row.
    Query("sim_recall_lsh", (s, dir) =>
      recallGate(benchOnly("sim_topk_lsh")(s, dir), s, dir),
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(*) * 5 AS BIGINT) AS n_possible,
        |  true AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // ---- similarity: IVF top-k recall gate (driver-checkable) ----
    Query("sim_recall_ivf", (s, dir) =>
      recallGate(benchOnly("sim_topk_ivf")(s, dir), s, dir),
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(*) * 5 AS BIGINT) AS n_possible,
        |  true AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // ---- persisted IVF index: build -> disk -> query -------------
    // The deployment shape: the index is WRITTEN (partitioned
    // postings + centroid table), then queried from disk with a
    // static list_id partition filter — unprobed lists' files are
    // never opened. Recall-gated against the same brute truth as the
    // in-memory ANN paths.
    Query("sim_recall_index", (s, dir) => {
      val work = scratch("vindex")
      val e = t(s, dir, "embeddings").filter(col("embedding").isNotNull)
      graft.ops.VectorIndex.build(e, "vec_id", "embedding",
        work.resolve("idx").toString, nlist = 8)
      recallGate(graft.ops.VectorIndex.topK(s,
        work.resolve("idx").toString, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 7, rerank = 64), s, dir)
    },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(*) * 5 AS BIGINT) AS n_possible,
        |  true AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    Query("sim_recall_ivfpq", (s, dir) =>
      recallGate(benchOnly("sim_topk_ivfpq")(s, dir), s, dir),
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(*) * 5 AS BIGINT) AS n_possible,
        |  true AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // ---- MMR diversified retrieval -------------------------------
    // Greedy maximal-marginal-relevance over a 10-candidate pool
    // (λ=0.7, k=4): each step's score is r()-rounded before the
    // argmax, so the oracle's recursive-CTE replay of the same walk
    // picks identical chains. The pool/pair frames are bounded by
    // queries × poolSize, never corpus-sized.
    Query("sim_mmr", (s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("embedding").isNotNull)
      graft.ops.Similarity.mmrTopK(e, e.filter(col("vec_id") < 3),
          "vec_id", "embedding", k = 4, poolSize = 10, lambda = 0.7)
        .select(col("query_id"), col("mmr_rank"), col("neighbor_id"),
          r(col("rel"), 4).as("rel"))
        .orderBy("query_id", "mmr_rank")
    },
      // the same greedy MMR walk as a recursive CTE: step 1 = best
      // relevance; step i picks the candidate maximizing the r4-rounded
      // λ·rel − (1−λ)·max-sim-to-picked, ties by neighbor id
      Some("""WITH RECURSIVE e AS (
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
        |ORDER BY sel.query_id, mmr_rank""".stripMargin),
      headline = true),

    // ---- int8 embedding quantization -----------------------------
    // Exploded to (vec_id, pos, q) — every quantized cell under the
    // hash oracle; the floats (q_min/q_scale) stay implicit via q.
    Query("sim_quantize_int8", (s, dir) =>
      graft.ops.Similarity.quantizeInt8(
          t(s, dir, "embeddings").filter(col("embedding").isNotNull),
          "embedding")
        .select(col("vec_id"), posexplode(col("emb_q")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("col").as("q"))
        .orderBy("vec_id", "pos"),
      Some("""WITH e AS (
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
        |ORDER BY vec_id, pos""".stripMargin)),

    // ---- per-group embedding centroids ---------------------------
    // Element-wise mean vector per label; edge rows pin NULL-ignore
    // and ragged-prefix semantics. The centroid is exploded to
    // (label, pos, m) rows — the driver compare sorts column VALUES
    // and array cells aren't sortable — rounded to 6dp on both sides
    // (partial-agg summation order vs DuckDB sequential).
    Query("sim_centroids", (s, dir) => {
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
    },
      Some("""WITH src AS (
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
        |FROM m ORDER BY label, pos""".stripMargin)),

    // ---- embedding outlier screen (pure composition) -------------
    // Distance to the label centroid, then keep each label's nearest
    // 90% — the noise-pruning pass before ANN indexing / semantic
    // dedup trains on a space. Zero new operator code: groupCentroids
    // ⋈ broadcast + one kernel dot + filterByBand compose it, and the
    // whole construction is SQL-expressible for the oracle.
    Query("sim_outliers", (s, dir) =>
      Similarity.centroidBandFilter(t(s, dir, "embeddings"),
          Seq("label"), "embedding", lo = 0.0, hi = 0.9,
          distCol = "dist")
        .select(col("vec_id"), col("label"), r(col("dist"), 4).as("dist"),
          col("pct_rank"))
        .orderBy("vec_id"),
      // centroid-distance outlier screen: per-label mean vector,
      // euclidean distance, rank-based 90% band
      Some("""WITH u AS (
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
        |ORDER BY vec_id""".stripMargin),
      headline = true),

    // ---- kNN graph: LSH scale-path recall gate -------------------
    // Brute self-kNN (hash-verified via sim_knn_graph) as ground
    // truth; the LSH graph must hit >= 90% of the true edges.
    Query("sim_recall_knn", (s, dir) => {
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
    },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(*) * 3 AS BIGINT) AS n_possible,
        |  true AS recall_ok
        |FROM embeddings""".stripMargin)),

    // ---- kNN graph: LSH recall on the CLUSTERED fixture ----------
    // Same gate on the mixture-of-Gaussians corpus the bench runs
    // the scale paths on — proving the benched configuration is
    // recall-honest on the data shape where bucketing prunes.
    Query("sim_recall_knn_clustered", (s, dir) => {
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
    },
      // clustered fixture = 8× the embeddings table, k = 5
      Some("""SELECT CAST(count(*) * 8 AS BIGINT) AS n_queries,
        |  CAST(count(*) * 8 * 5 AS BIGINT) AS n_possible,
        |  true AS recall_ok
        |FROM embeddings""".stripMargin)),

    // ---- kNN graph (exact, oracled) ------------------------------
    // Self top-k cosine neighbors — the brute method is the oracled
    // exact face; the lsh method (recall-gated elsewhere) is the
    // scale path with identical output shape.
    Query("sim_knn_graph", (s, dir) =>
      Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 3, method = "brute")
        .withColumn("cosine", r(col("cosine"), 6))
        .orderBy("query_id", "rank"),
      // self kNN: the sim_topk_brute construction over every vector
      Some("""WITH e AS (
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
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),
      headline = true),

    // ---- semantic clusters = components of the thresholded kNN graph
    // Bounded-degree graph build (k edges per node, never all-pairs)
    // + min-label propagation; oracle replays it with a recursive
    // reachability CTE.
    Query("sim_knn_components", (s, dir) =>
      Similarity.semanticClusters(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 3, minCosine = 0.35, method = "brute")
        .orderBy("vec_id"),
      // components of the thresholded kNN graph via a recursive
      // reachability CTE; cluster_id = min reachable id. The cosine
      // scoring casts to DuckDB's fixed-size DOUBLE[64] ARRAY and uses
      // array_inner_product — the list-lambda dot product was the
      // entire deep-check cost (~minutes); this runs inline in ~5 s at
      // sf0.1. MATERIALIZED still pins scoring to one evaluation.
      Some("""WITH RECURSIVE e AS MATERIALIZED (
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
        |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin),
      headline = true),

    // ---- embedding moments: d×d Gram in one typed-agg pass -------
    // The cross-engine face of the PCA moments aggregation: every
    // Σ v_i·v_j cell must match DuckDB's unnest-join computation.
    Query("q_emb_gram", (s, dir) =>
      graft.ops.Embeddings.gramDF(t(s, dir, "embeddings"), "embedding")
        .select(col("i"), col("j"), r(col("g"), 4).as("g"))
        .orderBy("i", "j"),
      Some("""WITH u AS (
        |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings,
        |    unnest(range(1, len(embedding) + 1)) t(i))
        |SELECT a.i AS i, b.i AS j, r(sum(a.v * b.v), 4) AS g
        |FROM u a JOIN u b USING (vec_id)
        |GROUP BY a.i, b.i
        |ORDER BY i, j""".stripMargin),
      headline = true),

    // ---- PCA rotation invariant under the oracle -----------------
    // A full-rank PCA basis is orthonormal, so each row's projected
    // L2 norm must equal its CENTERED norm — which DuckDB computes
    // directly from the raw embeddings with no eigensolver. This
    // hash-checks the whole pipeline (moments -> Jacobi -> broadcast
    // projection) through an engine-independent invariant.
    Query("sim_pca_norm", (s, dir) =>
      graft.ops.Embeddings.pcaProject(
          t(s, dir, "embeddings"), "embedding", k = 64)
        .select(col("vec_id"),
          r(sqrt(aggregate(col("pca"), lit(0.0), (acc, x) => acc + x * x)),
            4).as("l2"))
        .orderBy("vec_id"),
      // rotation invariance: projected L2 norm = centered L2 norm
      Some("""WITH u AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings,
        |    unnest(range(1, len(embedding) + 1)) t(i)
        |), m AS (
        |  SELECT i, avg(v) AS mu FROM u GROUP BY i)
        |SELECT vec_id, r(sqrt(sum((v - mu) * (v - mu))), 4) AS l2
        |FROM u JOIN m USING (i)
        |GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin),
      headline = true),

    // ---- ANN scale paths on the clustered fixture ----------------
    // brute is the comparison baseline; lsh/ivf/ivfpq are the paths
    // whose bucketing actually prunes here (32 tight clusters), so
    // their numbers track the scale behavior, not brute coverage
    // through join machinery.
    Query("sim_knn_brute_clustered", (s, dir) =>
      graft.ops.Similarity.knnGraph(clusteredEmb(s, dir), "vec_id",
        "embedding", k = 5, method = "brute"),
      headline = true),

    // deep hash, shallow probe — the clustered-corpus configuration
    // (isotropic defaults probe 15/16 buckets; here 12 planes give
    // 4096 buckets and <=2-bit flips probe 79 ≈ 2%, recall still
    // gated ≥0.9 by sim_recall_knn_clustered with THESE params)
    Query("sim_knn_lsh_clustered", (s, dir) =>
      graft.ops.Similarity.knnGraph(clusteredEmb(s, dir), "vec_id",
        "embedding", k = 5, method = "lsh", planes = 12, probeBits = 2),
      headline = true),

    Query("sim_topk_ivf_clustered", (s, dir) => {
      val e = clusteredEmb(s, dir)
      graft.ops.Similarity.ivfTopK(e, e.filter(col("vec_id") < 32),
        "vec_id", "embedding", k = 5, nlist = 32, nprobe = 4)
    },
      headline = true),

    Query("sim_topk_ivfpq_clustered", (s, dir) => {
      val e = clusteredEmb(s, dir)
      graft.ops.Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 32),
        "vec_id", "embedding", k = 5, nlist = 32, nprobe = 4)
    },
      headline = true),

    // the quantize OPERATOR (shuffle-free projection); the oracled
    // sim_quantize_int8 spelling explodes/sorts millions of cells for
    // the hash compare, which would benchmark the oracle, not the op
    Query("sim_quantize_raw", (s, dir) =>
      graft.ops.Similarity.quantizeInt8(t(s, dir, "embeddings"), "embedding")
        .select("vec_id", "emb_q", "q_min", "q_scale"),
      headline = true),

    Query("sim_topk_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, planes = 4, probeBits = 3)
        .withColumn("cosine", r(col("cosine"), 6))
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    },
      headline = true),

    Query("sim_topk_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nlist = 8, nprobe = 7)
        .withColumn("cosine", r(col("cosine"), 6))
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    },
      headline = true),

    // NOTE the LSH kNN-graph scale path is exercised (and recall-
    // gated) by the oracled sim_recall_knn, not benched standalone:
    // on the deliberately ISOTROPIC synthetic embeddings the recall-
    // honest default params probe ~15/16 buckets, so a benched
    // self-kNN would measure near-brute coverage through join
    // machinery — the number would say nothing about the operator on
    // real clustered corpora (see the recall note on ivfTopK).
    Query("sim_topk_ivfpq", (s, dir) => {
      val e = t(s, dir, "embeddings")
      // rerankFrac = the ×1 tuned ratio (128 of ~1750 probed): the
      // exact-rerank window scales with the probed mass, so the
      // recall gate holds at every fixture decade (see ivfPqTopK)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, rerankFrac = 0.075)
        .withColumn("cosine", r(col("cosine"), 6))
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    },
      headline = true)
  )
}
