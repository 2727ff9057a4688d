package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two tiers (north-star extension — SURVEY §7 step 8):
  *  - brute-force cosine top-k: exact; broadcast the (small) query set
  *    against the corpus scan — one pass, no corpus shuffle. The right
  *    baseline even at 100 TB when the query set is bounded.
  *  - LSH-bucketed (random hyperplane signatures, Charikar 2002):
  *    approximate; corpus and queries bucket by signature so each
  *    query only scans its bucket — the scale path when the query set
  *    itself is huge (all-pairs-ish workloads).
  *
  * Vector math is done with `zip_with`/`aggregate` higher-order
  * functions over array<double> — no UDFs, deterministic
  * left-to-right summation (reproducible across runs and engines).
  */
object Similarity {

  /** Sequential dot product of two array<double> columns — primitive
    * loop ([[graft.expressions.VectorKernels.DotProductDouble]]),
    * bit-identical to the left-to-right `aggregate(zip_with(...))`
    * reference form ([[dotHof]], kept for parity tests). */
  def dot(a: Column, b: Column): Column =
    // cast: no-op for array<double> inputs, but keeps the pre-kernel
    // contract where array<float> operands were implicitly coerced
    graft.expressions.VectorKernels.dot_product_double(
      a.cast("array<double>"), b.cast("array<double>"))

  /** Reference HOF formulation of [[dot]] — parity pin only. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cast to double and L2-normalize, so cosine = dot. Zero vectors
    * stay zero (cosine 0 against everything) rather than NaN.
    * One primitive loop per row
    * ([[graft.expressions.VectorKernels.L2NormalizeDouble]]). */
  def normalized(a: Column): Column =
    graft.expressions.VectorKernels.l2_normalize_double(a.cast("array<double>"))

  /** Reference HOF formulation of [[normalized]] — parity pin only.
    * (The norm subtree is re-evaluated per element; never use hot.) */
  def normalizedHof(a: Column): Column = {
    val d = a.cast("array<double>")
    val n = sqrt(dotHof(d, d))
    when(n === 0.0, d).otherwise(transform(d, x => x / n))
  }

  /** Attach `out` = L2-normalized array<double> of `embCol`. (With the
    * kernel expression the staging indirection is no longer needed for
    * performance; kept as the call-site idiom.) */
  def withNormalized(df: DataFrame, embCol: String, out: String): DataFrame =
    df.withColumn(out, normalized(col(embCol)))

  def cosine(a: Column, b: Column): Column = {
    val na = norm(a) * norm(b)
    when(na === 0.0, lit(0.0)).otherwise(dot(a, b) / na)
  }

  /** Exact top-k neighbors for each query vector.
    *
    * `queries` must be small enough to broadcast (it is hint-forced):
    * the plan is then a single corpus scan with a broadcast
    * nested-loop join — no shuffle of the corpus, and the top-k
    * per query is a partial aggregation (window over query id ranks
    * only (corpus × queries) rows, bounded by the broadcast side).
    */
  /** Size guard for the paths that materialize a frame driver- or
    * broadcast-side (brute baselines, config query streams): counts
    * at most `maxRows + 1` rows (the limit makes the probe itself
    * cheap — no full scan of an oversized input) and fails with a
    * redirect to the bucketed methods instead of letting a 100 GB
    * table reach a collect/broadcast. */
  private[graft] def requireBounded(df: DataFrame, maxRows: Int,
                                    what: String): Unit =
    if (!provenMaxRows(df).exists(_ <= maxRows)) {
      // long addition: maxRows = Int.MaxValue (the advertised "raise
      // the cap" escape hatch) must not wrap into a negative limit
      val probe = math.min(maxRows.toLong + 1, Int.MaxValue.toLong).toInt
      val n = df.limit(probe).count()
      require(n <= maxRows,
        s"$what materializes its input driver/broadcast-side and found " +
          s"> $maxRows rows; use the bucketed methods (lsh/ivf) for " +
          "large inputs, or raise the cap explicitly if the size is intended")
    }

  /** The row bound the optimizer proves for `df` (a zero-row input,
    * as in `check`, proves 0), if any: a size probe it already
    * answers needs no Spark job. */
  private[graft] def provenMaxRows(df: DataFrame): Option[Long] =
    df.queryExecution.optimizedPlan.maxRows

  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, embCol: String, k: Int,
                     queryIdOut: String = "query_id"): DataFrame = {
    val c = withNormalized(
      corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("_e")),
      "_e", "v_c").select("neighbor_id", "v_c")
    val q = withNormalized(
      queries.select(col(idCol).as(queryIdOut), col(embCol).as("_e")),
      "_e", "v_q").select(queryIdOut, "v_q")
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col(queryIdOut))
      .select(col(queryIdOut), col("neighbor_id"),
        dot(col("v_q"), col("v_c")).as("cosine"))
    val w = Window.partitionBy(queryIdOut)
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane signature: `planes` sign
    * bits, plane p's component for dimension i derived from
    * xxhash64(p, i) — reproducible without shipping a matrix, cheap to
    * evaluate, and identical on every executor.
    *
    * Evaluated by [[graft.expressions.HyperplaneSignature64]]: one
    * primitive loop per row over a per-task weight table. The
    * equivalent interpreted-HOF formulation ([[hyperplaneSignatureHof]],
    * kept as the parity reference) re-hashes every (plane, dim) pair
    * per row inside nested aggregate/zip_with/transform subtrees and
    * dominated `dedup_embedding_lsh` (1.18 s for 2 k vectors at sf0.1).
    */
  def hyperplaneSignature(vec: Column, planes: Int): Column =
    graft.expressions.HyperplaneSignature64.hyperplane_signature64(vec, planes)

  /** Reference formulation of [[hyperplaneSignature]] in pure
    * built-ins — bit-for-bit equal output, kept only to pin the custom
    * expression's semantics in tests. Do not use in hot paths. */
  def hyperplaneSignatureHof(vec: Column, planes: Int): Column =
    (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vec,
          transform(sequence(lit(0), size(vec) - 1), i =>
            // hash → symmetric {-1, +1} weight; deterministic per (p, i)
            when(pmod(xxhash64(lit(p), i), lit(2)) === 0, lit(1.0))
              .otherwise(lit(-1.0))),
          (x, w) => x * w),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate top-k via IVF (inverted-file) partitioning: k-means
    * centroids trained on (a sample of) the corpus, corpus vectors
    * assigned to their nearest centroid list, queries probe the
    * `nprobe` nearest lists. The classic ANN trade-off (FAISS-style):
    * recall grows with nprobe, compute shrinks with nlist.
    *
    * Scale shape: training runs on a bounded sample; centroids are a
    * tiny broadcast; assignment is one scan. The probe join is
    * (query × nprobe) rows against centroid-keyed corpus lists — a
    * co-partitioned equi-join, never all-pairs. With `rerank > 0`
    * (default) the corpus side of that join carries int8-PACKED
    * vectors (D code bytes + 2 doubles vs 8·D — see
    * [[graft.expressions.Int8Candidates]]); the approximate score
    * keeps the top `rerank` per query and only those re-attach full
    * fp vectors for the exact final ranking. `rerank = 0` selects the
    * uncompressed exact-scoring scan (every candidate pays a fp dot
    * and the vectors ride the join).
    *
    * Default nlist/nprobe hold recall@5 ≥ 0.9 on the ISOTROPIC
    * synthetic fixtures, where recall ≈ fraction of lists probed (no
    * cluster structure to exploit — see the recall note on [[lshTopK]]
    * and BASELINE.md). On clustered corpora the same shape reaches the
    * floor with a much smaller nprobe/nlist ratio.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, embCol: String, k: Int,
              nlist: Int = 8, nprobe: Int = 7, rerank: Int = 64,
              queryIdOut: String = "query_id"): DataFrame = {
    val c = withNormalized(
      corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("_e")),
      "_e", "v_c").select(col("neighbor_id"), col("v_c"))
    val q = withNormalized(
      queries.select(col(idCol).as(queryIdOut), col(embCol).as("_e")),
      "_e", "v_q").select(col(queryIdOut), col("v_q"))

    // FAISS-style training: a bounded deterministic sample to the
    // driver, local Lloyd's, centroids broadcast as literals. No
    // per-iteration cluster jobs (MLlib KMeans paid ~40 s of job
    // overhead for 2000 vectors).
    val sample = trainingSample(c, "neighbor_id", "v_c")
    val centroids = KMeansLite.fit(sample, nlist, iters = 25, seed = 42L)

    // Assignment/probe via a custom expression carrying the centroid
    // matrix with the serialized plan: one primitive loop per row.
    import graft.expressions.NearestCentroids.nearest_centroids
    val cAssigned = c.withColumn("list_id",
      element_at(nearest_centroids(col("v_c"), centroids, 1), 1))
    val qProbed = q.withColumn("list_id",
      explode(nearest_centroids(col("v_q"), centroids, nprobe)))

    if (rerank > 0) {
      val approx = int8CandidateScan(cAssigned, qProbed, q, "list_id", queryIdOut)
      exactRerank(topRerank(approx, queryIdOut, rerank), c, q, queryIdOut, k)
    } else {
      // exact-scoring variant: every candidate pays the full fp dot
      // and the full vectors ride the candidate join
      val scored = cAssigned.join(broadcast(qProbed), Seq("list_id"))
        .filter(col("neighbor_id") =!= col(queryIdOut))
        .select(col(queryIdOut), col("neighbor_id"),
          dot(col("v_q"), col("v_c")).as("cosine"))
      val w = Window.partitionBy(queryIdOut)
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    }
  }

  /** Candidate scan with the int8-compressed corpus payload: the
    * corpus side of the bucket/list join carries (id, key, D code
    * bytes + two doubles) — 8× less than fp64 vectors at D=64 — and
    * scoring dequantizes inside one loop ([[graft.expressions
    * .Int8Candidates.Int8Dot]]), never materializing a vector.
    *
    * NO fp vector rides the bucket join on EITHER side: the probe
    * broadcast is skinny (query_id, key) — multiprobe explodes each
    * query `#masks`-fold, so carrying vectors there multiplies the
    * broadcast by probes × vector width (measured 300 MB and 15 s on
    * a 16k-query self-graph; skinny probes + a one-per-query vector
    * attach after the join is ~10 MB). `qVecs` is the UN-exploded
    * (query_id, v_q) table, broadcast once for the scoring attach.
    *
    * `hintBroadcast` gates the join strategy on BOTH joins: true is
    * the bounded-query contract (probe/vector tables are query-sized,
    * broadcast them); FALSE is mandatory when the probe side derives
    * from the corpus (self-graphs) — there the "small" side grows
    * linearly with the corpus and a forced broadcast is exactly the
    * scale cliff the bucketing exists to avoid. The false mode PINS
    * SHUFFLE_HASH instead of merely omitting the broadcast hint: the
    * static planner picks broadcast from ESTIMATED sizes, and a
    * corpus whose subtree has no shuffle boundary below the join
    * (spark.range-rooted synthetics, a long transform chain) keeps a
    * rows×8-byte estimate through every projection — AQE never gets
    * a measured stage to correct it, and the "runtime decision" this
    * comment used to promise silently became a multi-GB driver
    * broadcast build (measured: the ×10 clustered self-graph OOMed
    * an 8 GB driver and more than doubled the ×100 wall). Pin choice
    * follows the skinny-vs-payload rule from Dedup: the int8 corpus
    * slice (D bytes/row) is a skinny bounded build side →
    * SHUFFLE_HASH on the bucket join; the query-vector attach builds
    * from full FLOAT vectors, and an unspillable hash build of a
    * payload side is an executor-OOM cliff → MERGE there.
    * Returns (queryIdOut, neighbor_id, approx) rows. */
  private[graft] def int8CandidateScan(cSide: DataFrame, probeSide: DataFrame,
                                       qVecs: DataFrame,
                                       key: String, queryIdOut: String,
                                       hintBroadcast: Boolean = true): DataFrame = {
    import graft.expressions.Int8Candidates._
    val cCand = cSide
      .select(col("neighbor_id"), col(key), int8_code(col("v_c")).as("_q8"))
      .select(col("neighbor_id"), col(key),
        col("_q8.code").as("_code"), col("_q8.mn").as("_mn"),
        col("_q8.scale").as("_scale"))
    val probeSel = probeSide.select(col(queryIdOut), col(key))
    val qSel = qVecs.select(col(queryIdOut), col("v_q"))
    val bucketJoined =
      if (hintBroadcast) cCand.join(broadcast(probeSel), Seq(key))
      else cCand.hint("SHUFFLE_HASH").join(probeSel, Seq(key))
    val attached =
      if (hintBroadcast)
        bucketJoined.filter(col("neighbor_id") =!= col(queryIdOut))
          .join(broadcast(qSel), Seq(queryIdOut))
      else
        bucketJoined.filter(col("neighbor_id") =!= col(queryIdOut))
          .join(qSel.hint("SHUFFLE_HASH"), Seq(queryIdOut))
    attached.select(col(queryIdOut), col("neighbor_id"),
      int8_dot(col("v_q"), col("_code"), col("_mn"), col("_scale"))
        .as("approx"))
  }

  /** Top-`rerank` approx-scored candidates per query. */
  private[ops] def topRerank(approx: DataFrame, queryIdOut: String,
                        rerank: Int): DataFrame = {
    val w = Window.partitionBy(queryIdOut)
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    approx.withColumn("_r", row_number().over(w))
      .filter(col("_r") <= rerank)
      .select(col(queryIdOut), col("neighbor_id"))
  }

  /** Exact re-rank tail shared by the quantized scans: only the
    * surviving candidates re-attach full fp vectors; query vectors
    * broadcast under the bounded-query contract (`hintBroadcast`),
    * keyed shuffle join when the query table IS the corpus.
    *
    * CONTRACT: `hintBroadcast = true` FORCE-broadcasts `candidates`
    * (and `q`), bypassing autoBroadcastJoinThreshold. That is sound
    * only because every caller feeds `candidates` from [[topRerank]]
    * (row_number ≤ rerank per query, optionally unioned with a
    * per-query star attach), i.e. ≤ ~rerank × |queries| skinny rows
    * BY CONSTRUCTION under the bounded-query contract. A caller with
    * an unbounded query set must pass `hintBroadcast = false` (the
    * self-graph paths do) or the forced build OOMs the driver —
    * which is why this method stays `private[ops]`. */
  private[ops] def exactRerank(candidates: DataFrame, c: DataFrame, q: DataFrame,
                          queryIdOut: String, k: Int,
                          hintBroadcast: Boolean = true): DataFrame = {
    // false mode pins SHUFFLE_HASH on both vector attaches: the
    // corpus/query float tables can carry lying size estimates (see
    // int8CandidateScan's scaladoc) and a statically mis-broadcast
    // float-vector table is the single most expensive wrong plan in
    // this file. SHUFFLE_HASH, not MERGE, even though the build side
    // is a float-vector payload: these joins key on UNIFORM ids
    // (neighbor_id / query id), so the per-partition hash build is
    // n/P single-vector rows — bounded and skew-free (×100 fixture:
    // 1.6M × 256 B / 32 parts ≈ 13 MB; a real deployment scales P
    // with the corpus). Dedup's MERGE-for-payloads rule targets a
    // DIFFERENT shape — banded BUCKET keys, where flood skew can
    // concentrate a partition's build beyond memory (the measured
    // ×100 shingle-array OOM). A round-13 MERGE pin here was
    // measured ~5× slower at the ×10 fixture: the probe side is the
    // exploded candidate stream (88M rows at ×10, 1.8B at ×100 per
    // PairStats) and sort-merge SORTS that stream per join, while
    // the hash build streams it untouched.
    // Broadcast-mode corpus attach (round 14): broadcast the
    // CANDIDATES and stream the corpus, not the reverse. The bounded
    // side of this join is the candidate list — ≤ rerank × |queries|
    // skinny (query_id, neighbor_id) rows by construction under the
    // bounded-query contract — while the corpus is unbounded, and an
    // unhinted `candidates ⋈ c` let the static planner build the
    // CORPUS side off its size estimate (measured at the 16k-vector
    // clustered fixture: a BroadcastExchange of all 16,000 normalized
    // fp vectors, ~8.5 MB, rebuilt per query, to serve a 2,048-row
    // attach; on a transform-rooted corpus the estimate also LIES
    // low, so the build survives arbitrary corpus growth — the same
    // static-broadcast cliff class round 12 pinned on the self-graph
    // paths). With the candidate side built, the corpus streams one
    // scan — the same scan a shuffle would have paid — and zero
    // corpus bytes move, at any corpus size.
    // Round-15 corpus-scale adjudication (the round-14 verdict asked
    // for a number): at a ×100 clustered corpus (1.6M × 64-fp
    // vectors) the OLD unhinted spelling demonstrably STOPS
    // broadcasting and instead plans Exchange+Sort over the corpus
    // subtree into a SortMergeJoin — a corpus-sized shuffle (~410 MB
    // payload) to serve a 2,048-row attach, and the shuffle write
    // happens even under AQE (child stages materialize before the
    // join replans). Wall-clock at ×100 on local[32]: old 152.2 /
    // 154.8 s vs new 158.5 s (~3%, inside this host's window noise)
    // — local mode keeps the shuffle memory-local and overlaps the
    // SMJ's two child stages, which a real cluster does not get to
    // keep: there the removed corpus shuffle is a full network pass
    // of the corpus vs zero. Kept on that measured plan evidence
    // (plans/r15/sim_topk_ivf_clustered_x100_{old,new}.txt).
    val reranked = (
      if (hintBroadcast) c.join(broadcast(candidates), Seq("neighbor_id"))
      else candidates.join(c.hint("SHUFFLE_HASH"), Seq("neighbor_id")))
      .join(if (hintBroadcast) broadcast(q) else q.hint("SHUFFLE_HASH"),
        Seq(queryIdOut))
      .select(col(queryIdOut), col("neighbor_id"),
        dot(col("v_q"), col("v_c")).as("cosine"))
    val w = Window.partitionBy(queryIdOut)
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    reranked.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Driver-side nearest centroid (L2) for residual training. */
  private def nearestCentroidIdx(v: Array[Double],
                                 centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      var s = 0.0
      var d = 0
      while (d < v.length) {
        val diff = v(d) - centroids(c)(d); s += diff * diff; d += 1
      }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Bounded deterministic UNBIASED training sample: order by the
    * xxhash64 of the id (id tiebreak), take `n`. Plans as
    * TakeOrderedAndProject — a per-partition top-n then a driver merge
    * of `partitions × n` rows, no global sort — and hash order makes
    * the sample uniform over the corpus, where plain id order would
    * train centroids on whatever the lowest ids happen to be
    * (ingestion batches, one source's prefix). */
  private[graft] def trainingSample(c: DataFrame, idCol: String, vecCol: String,
                                  n: Int = 2048): Array[Array[Double]] =
    c.orderBy(xxhash64(col(idCol)), col(idCol)).limit(n)
      .select(vecCol).collect()
      .map(_.getSeq[Double](0).toArray)

  /** Per-subspace PQ codebooks trained on a bounded sample: split each
    * D-dim vector into `m` contiguous D/m-dim subvectors and run
    * [[KMeansLite]] independently per subspace (FAISS trains PQ the
    * same way — subspace k-means on a few thousand vectors). Seeded
    * per subspace → deterministic. Returns `[m][ksub][D/m]`. */
  private[ops] def trainPqCodebooks(sample: Array[Array[Double]], m: Int,
                                    ksub: Int, seed: Long = 42L)
      : Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "empty PQ training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"PQ subspaces must divide dim: $dim % $m != 0")
    val dsub = dim / m
    Array.tabulate(m) { sub =>
      val subSample = sample.map(v =>
        java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
      KMeansLite.fit(subSample, ksub, iters = 25, seed = seed + sub)
    }
  }

  /** Approximate top-k via IVF-PQ with exact re-rank — the 100 TB
    * shape ([[ivfTopK]]'s coarse partitioning plus product-quantized
    * candidate scoring):
    *
    *  1. coarse: corpus vectors assigned to their nearest of `nlist`
    *     centroids; queries probe the `nprobe` nearest lists (same as
    *     [[ivfTopK]]).
    *  2. PQ candidate scan: the probed join carries `m` CODE BYTES per
    *     corpus vector, not the 8·D-byte vector — at D=64/m=8 a 64×
    *     smaller shuffle/scan payload, the difference between an ANN
    *     pass that fits in cluster memory at 100 TB and one that
    *     doesn't. Scoring is ADC: each query precomputes its
    *     m·ksub lookup table once; per candidate it's m lookups+adds.
    *  3. exact re-rank: the top `rerank` ADC candidates per query
    *     (rerank ≫ k absorbs quantization error) join back to the
    *     corpus full vectors — touching only Q·rerank rows — and the
    *     true cosine picks the final top-k.
    *
    * Codebooks quantize RESIDUALS (v − centroid of v's list), the
    * FAISS `IVFPQ` construction: within a Voronoi cell residuals are
    * centered near zero with far smaller spread than raw vectors, so
    * the same m·ksub code budget spends its resolution on the part
    * that distinguishes neighbors. Scoring decomposes exactly:
    * dot(q, c_l + r̂) = dot(q, c_l) + ADC(q, code), the per-list bias
    * joined from the tiny broadcast centroid table; the ADC table
    * stays one-per-query. Measured effect (tools/TuneAnn, sf0.1):
    * recall@5 0.94 → 0.96 at identical nlist/nprobe. On CLUSTERED
    * real corpora residuals additionally unlock the larger-nlist/
    * smaller-nprobe regime (smaller cells → smaller residuals →
    * finer codes); on these deliberately ISOTROPIC fixtures recall is
    * coverage-bound for ANY coding scheme (neighbors in unprobed
    * cells are unreachable — the wall BASELINE.md documents), so the
    * defaults keep the proven 7/8 coverage.
    *
    * Output schema matches [[bruteForceTopK]]: (query_id, neighbor_id,
    * cosine, rank) with the exact re-ranked cosine. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                idCol: String, embCol: String, k: Int,
                nlist: Int = 8, nprobe: Int = 7,
                m: Int = 16, ksub: Int = 16, rerank: Int = 128,
                queryIdOut: String = "query_id",
                rerankFrac: Double = 0.0): DataFrame = {
    import graft.expressions.NearestCentroids.nearest_centroids
    import graft.expressions.ProductQuantizer._

    val c = withNormalized(
      corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("_e")),
      "_e", "v_c").select(col("neighbor_id"), col("v_c"))
    // rerankFrac > 0: hold the exact-rerank window as a FRACTION of
    // the probed candidate mass instead of a constant. ADC is a
    // RANKING approximation with additive noise that does not shrink
    // with the corpus, so the number of false candidates out-scoring
    // a true neighbor grows ∝ candidates probed — a fixed window that
    // held recall at gate scale silently starves one decade up
    // (measured at the ×10 fixture: rerank=128 over 7/8 of 20k
    // vectors = top 0.7% of candidates; recall_ok flipped false,
    // restored by the ratio spelling at the ×1 ratio 128/1750 ≈
    // 0.075). Cost is Q·rerankEff exact-dot rows — linear in n at
    // fixed Q, the honest price of constant recall under PQ noise.
    // Costs one count() of the corpus subtree (knnGraph precedent).
    val rerankEff =
      if (rerankFrac <= 0) rerank
      else math.max(rerank, math.ceil(
        rerankFrac * c.count() * nprobe / nlist).toInt)
    val q = withNormalized(
      queries.select(col(idCol).as(queryIdOut), col(embCol).as("_e")),
      "_e", "v_q").select(col(queryIdOut), col("v_q"))

    val sample = trainingSample(c, "neighbor_id", "v_c")
    val centroids = KMeansLite.fit(sample, nlist, iters = 25, seed = 42L)
    // residual codebooks: train on v − nearest centroid over the same
    // sample (FAISS trains PQ on residuals the same way)
    val residualSample = sample.map { v =>
      val ctr = centroids(nearestCentroidIdx(v, centroids))
      Array.tabulate(v.length)(i => v(i) - ctr(i))
    }
    val codebooks = trainPqCodebooks(residualSample, m, ksub)

    // tiny broadcast side-table: list_id -> centroid vector
    val spark = corpus.sparkSession
    val centroidDf = spark.createDataFrame(
      centroids.toIndexedSeq.zipWithIndex.map { case (ctr, i) =>
        (i, ctr.toIndexedSeq)
      }).toDF("list_id", "_centroid")

    // Corpus candidate side: (neighbor_id, list_id, m-byte code) ONLY
    // — the code now encodes the residual v − c_l. The full vectors
    // stay behind in `c` for the re-rank join.
    val cCoded = c
      .withColumn("list_id",
        element_at(nearest_centroids(col("v_c"), centroids, 1), 1))
      .join(broadcast(centroidDf), Seq("list_id"))
      .select(col("neighbor_id"), col("list_id"),
        pq_encode(zip_with(col("v_c"), col("_centroid"), (x, c0) => x - c0),
          codebooks).as("pq_code"))

    // Query side: ADC table computed once per query, THEN the probe
    // fan-out (the exploded copies share the computed table); each
    // probed list adds its dot(q, c_l) bias from the broadcast table.
    val qProbed = q
      .withColumn("adc_table", pq_adc_table(col("v_q"), codebooks))
      .withColumn("list_id",
        explode(nearest_centroids(col("v_q"), centroids, nprobe)))
      .join(broadcast(centroidDf), Seq("list_id"))
      .select(col(queryIdOut), col("adc_table"), col("list_id"),
        dot(col("v_q"), col("_centroid")).as("_bias"))

    val adcTop = cCoded.join(broadcast(qProbed), Seq("list_id"))
      .filter(col("neighbor_id") =!= col(queryIdOut))
      .select(col(queryIdOut), col("neighbor_id"),
        (col("_bias") + pq_adc_score(col("pq_code"), col("adc_table")))
          .as("adc"))
    val wAdc = Window.partitionBy(queryIdOut)
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    val candidates = adcTop.withColumn("_r", row_number().over(wAdc))
      .filter(col("_r") <= rerankEff)
      .select(col(queryIdOut), col("neighbor_id"))

    // Exact re-rank over Q·rerank rows: full vectors re-attached by
    // id (corpus side shuffles only the surviving candidates), query
    // vectors broadcast.
    val reranked = candidates
      .join(c, Seq("neighbor_id"))
      .join(broadcast(q), Seq(queryIdOut))
      .select(col(queryIdOut), col("neighbor_id"),
        dot(col("v_q"), col("v_c")).as("cosine"))
    val w = Window.partitionBy(queryIdOut)
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    reranked.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Per-group mean embedding (centroid) + member count — the
    * standard corpus summary for drift monitoring, per-source
    * quality probes, and seeding coarse quantizers.
    *
    * Declarative shape: posexplode to (group, dim_pos, x) and
    * average per (group, pos) — Catalyst runs partial aggregation
    * map-side, so the shuffle carries `groups × dim` partial sums,
    * never vectors. Reassembly is a per-group sort+collect of `dim`
    * rows. NULL embeddings are ignored (don't drag the mean);
    * ragged dimensions within a group produce a centroid as long as
    * the longest member (short members contribute to their prefix
    * positions only — document, don't mask, mixed-dim corruption). */
  def groupCentroids(df: DataFrame, groupCols: Seq[String],
                     embCol: String): DataFrame = {
    val g = groupCols.map(col)
    val exploded = df.filter(col(embCol).isNotNull)
      .select(g :+ posexplode(col(embCol).cast("array<double>"))
        .as(Seq("_pos", "_x")): _*)
    exploded
      .groupBy(g :+ col("_pos"): _*)
      .agg(avg(col("_x")).as("_m"),
        count(lit(1)).as("_n"))
      .groupBy(g: _*)
      .agg(
        transform(array_sort(collect_list(struct(col("_pos"), col("_m")))),
          s => s.getField("_m")).as("centroid"),
        max(col("_n")).as("n_vectors"))
  }

  /** Per-vector int8 quantization: each embedding is rescaled to its
    * own [min, max] range and stored as `emb_q` array<int8-valued
    * int> plus the two floats needed to dequantize (`q_min`,
    * `q_scale`) — the standard 4x storage/shuffle compression for an
    * embedding corpus whose consumers tolerate ≤ scale/2 absolute
    * error (ANN candidate generation does; exact re-rank stays on
    * the fp vectors). Shuffle-free per-row projection; all arithmetic
    * in double with the engine-portable floor(x + 0.5 + 1e-6)
    * rounding, so the oracle reproduces every cell bit-for-bit.
    * Degenerate constant vectors (scale 0) map to -128 (dequantize
    * back to the constant). NULL embeddings stay NULL. */
  def quantizeInt8(df: DataFrame, embCol: String): DataFrame = {
    val embD = col(embCol).cast("array<double>")
    df.withColumn("_e", embD)
      .withColumn("_mn", array_min(col("_e")))
      .withColumn("_s", (array_max(col("_e")) - col("_mn")) / 255.0)
      .withColumn("emb_q",
        transform(col("_e"), x =>
          when(col("_s") === 0.0, lit(-128))
            .otherwise((floor((x - col("_mn")) / col("_s") + 0.5 + 1e-6)
              - 128).cast("int"))))
      .withColumn("q_min", col("_mn"))
      .withColumn("q_scale", col("_s"))
      .drop("_e", "_mn", "_s")
  }

  /** Inverse of [[quantizeInt8]]: mn + (q + 128) · scale. */
  def dequantizeInt8(qCol: Column, mnCol: Column, sCol: Column): Column =
    transform(qCol, q => mnCol + (q + lit(128)).cast("double") * sCol)

  /** All masks over `planes` bits with popcount ≤ maxFlips — the
    * multi-probe neighborhood of a signature. Generated from bit
    * combinations (Σ C(planes, i) masks), not by filtering the full
    * 2^planes range — auto-scaled plane counts (see [[knnGraph]])
    * made the exhaustive enumeration the expensive part. */
  private[graft] def probeMasks(planes: Int, maxFlips: Int): Seq[Long] =
    (0 to math.min(maxFlips, planes)).flatMap(f =>
      (0 until planes).combinations(f)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))))

  /** Smallest probe depth that holds a pair-recall floor at a given
    * plane count and cosine threshold — the analytic companion to
    * auto-scaled planes (see [[graft.ops.Dedup.embeddingCosinePairs]]
    * `autoPlanes`). A pair at exactly cosine `threshold` disagrees on
    * each random hyperplane independently with probability
    * acos(threshold)/π, so it is FOUND iff its signature Hamming
    * distance H ~ Bin(planes, pFlip) is ≤ probeBits; pairs above the
    * threshold disagree less and are found more often, so the
    * binomial tail at the threshold is a sound recall LOWER bound for
    * the whole ≥-threshold pair set. Solving the tail exactly (planes
    * ≤ 24, plain double summation) replaces the "+1 probe bit per ~4
    * added planes" rule of thumb, whose slack depends on the
    * threshold: at production thresholds (c ≥ 0.9, pFlip ≈ 0.14) the
    * tail is steep and the rule overshoots; at gate thresholds
    * (c = 0.3, pFlip ≈ 0.40) it undershoots and recall quietly decays
    * with scale. Returns a depth in [atLeast, planes]; the floor may
    * be unreachable (recallFloor > P(H ≤ planes) = 1 never is), in
    * which case `planes` (full coverage) is returned. */
  private[graft] def probeBitsFor(planes: Int, threshold: Double,
                                  recallFloor: Double,
                                  atLeast: Int): Int = {
    // clamp away from 1.0: pFlip = 1 (threshold -1) would 0/0 the
    // recurrence; anything this close is full-coverage territory
    val pFlip = math.min(0.999,
      math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi)
    var term = math.pow(1.0 - pFlip, planes) // P(H = 0)
    var cdf = term
    var k = 0
    while (k < planes &&
           (cdf < recallFloor || k < math.min(atLeast, planes))) {
      // Bin(n,p): P(k+1) = P(k) * (n-k)/(k+1) * p/(1-p)
      term *= (planes - k).toDouble / (k + 1) * pFlip / (1.0 - pFlip)
      cdf += term
      k += 1
    }
    k
  }

  /** Approximate top-k via hyperplane-LSH bucketing with multi-probe:
    * the corpus is bucketed by its signature; each query probes its
    * own bucket PLUS every bucket within Hamming distance `probeBits`
    * (flipping up to that many hyperplane signs — the buckets most
    * likely to hide near vectors). Recall tuning: fewer planes →
    * bigger buckets; deeper probes multiply candidate coverage by
    * Σ C(planes, i≤probeBits) at the cost of that many probe rows —
    * still tiny, it's the query side that fans out, never the corpus.
    * The candidate payload/re-rank knob is the same as [[ivfTopK]]:
    * `rerank > 0` (default) streams int8 codes through the bucket
    * join and re-ranks the survivors on fp vectors; `rerank = 0`
    * scores every candidate exactly in the join.
    *
    * Recall vs coverage note: on ISOTROPIC (unclustered) vectors the
    * top-k neighbors sit barely above the cosine noise floor, so any
    * bucketing scheme's recall ≈ fraction of corpus scanned (measured
    * on the synthetic fixtures: see BASELINE.md). The defaults here
    * are chosen to hold recall@5 ≥ 0.9 on that worst-case data; on
    * real clustered corpora the same shape achieves it with far
    * shallower probing.
    *
    * `selfGraph = true` (set by [[knnGraph]]) declares that `queries`
    * IS the corpus: every broadcast hint on query-derived tables is
    * dropped (they grow linearly with the corpus — the probe
    * explosion alone is `#masks ×` corpus rows), and every
    * corpus-derived join is PINNED non-broadcast — merely omitting
    * the hint is NOT safe, because the static planner picks broadcast
    * from size ESTIMATES and a corpus subtree with no shuffle
    * boundary below the join keeps a lying rows×8-byte estimate that
    * AQE never gets a measured stage to correct (measured: ×10
    * self-graph OOMed an 8 GB driver pre-pin). Pin choice follows
    * the skinny-vs-payload rule: SHUFFLE_HASH for bounded skinny
    * build sides (bucket counts, probe keys, int8 codes), MERGE for
    * float-vector payload sides (hash builds cannot spill).
    *
    * `maxBucket > 0` caps signature-bucket occupancy (the skew cliff:
    * a near-identical family floods one bucket and the candidate join
    * goes quadratic in it). Over-cap buckets are withheld from the
    * candidate join; each query probing one instead receives a single
    * STAR candidate — the bucket's min-id member (the hub) — which
    * joins the normal candidates in the exact re-rank. Mirrors
    * [[Dedup.minhashCandidatePairs]]'s star policy: connectivity
    * through the hub survives (a flooded bucket of near-identical
    * vectors still links every member to its family) at O(bucket)
    * instead of O(bucket²) cost; non-hub neighbors inside a flooded
    * bucket are the sacrificed recall, which is exactly the bucket
    * whose members are interchangeable. A pair meets in at most ONE
    * bucket (the corpus row has a single signature and each query's
    * probe masks are distinct), so star and normal candidates never
    * duplicate. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, embCol: String, k: Int,
              planes: Int = 4, probeBits: Int = 3, rerank: Int = 64,
              queryIdOut: String = "query_id",
              selfGraph: Boolean = false, maxBucket: Int = 0,
              int8Probe: Boolean = false): DataFrame = {
    val hint = !selfGraph
    val c = withNormalized(
      corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("_e")),
      "_e", "v_c").select("neighbor_id", "v_c")
    val cBucketed = c
      .withColumn("bucket", hyperplaneSignature(col("v_c"), planes))
    val qPlain = withNormalized(
      queries.select(col(idCol).as(queryIdOut), col(embCol).as("_e")),
      "_e", "v_q").select(queryIdOut, "v_q")
    val qSig = qPlain
      .withColumn("_sig", hyperplaneSignature(col("v_q"), planes))
    val probes = array(probeMasks(planes, probeBits).map(lit): _*)
    val q = qSig
      .withColumn("bucket",
        explode(transform(probes, m => col("_sig").bitwiseXOR(m))))
      .drop("_sig")

    // Bucket-frequency cap: hash-aggregated counts + equi-joins, same
    // shape as Dedup.minhashCandidatePairs (no window, no per-bucket
    // materialization). Star candidates are (query, hub) rows — one
    // per probed over-cap bucket — provably disjoint from the normal
    // candidates (see scaladoc), so no dedup pass is needed.
    // Self-graph mode pins SHUFFLE_HASH on the counts sides: the
    // counts table is bucket-space bounded (a fine build side), but
    // without a pin the STATIC planner is free to broadcast
    // cBucketed — the float-vector corpus — off a lying estimate
    // (see int8CandidateScan's scaladoc; a Range-rooted corpus keeps
    // a rows×8-byte estimate with no shuffle stage for AQE to
    // correct). The bucket exchange the pin forces on cBucketed is
    // the same (bucket) exchange the candidate join needs anyway, so
    // the self-graph plan pays no extra shuffle.
    val (cJoin, starCands) = if (maxBucket > 0) {
      val counts = cBucketed.groupBy("bucket")
        .agg(count(lit(1)).as("_n"), min(col("neighbor_id")).as("_hub"))
      val underKeys = counts.filter(col("_n") <= maxBucket).select("bucket")
      val overHubs = counts.filter(col("_n") > maxBucket)
        .select(col("bucket"), col("_hub"))
      val under = cBucketed.join(
        if (hint) underKeys else underKeys.hint("SHUFFLE_HASH"),
        Seq("bucket"))
      val star = q.select(col(queryIdOut), col("bucket"))
        .join(if (hint) overHubs else overHubs.hint("SHUFFLE_HASH"),
          Seq("bucket"))
        .filter(col(queryIdOut) =!= col("_hub"))
        .select(col(queryIdOut), col("_hub").as("neighbor_id"))
      (under, Some(star))
    } else (cBucketed, None)

    if (rerank > 0) {
      val approx =
        if (hint || !int8Probe)
          // bounded-query path (broadcast hints) or a MODERATE
          // self-graph (shuffle joins, float×int8 scoring): the
          // candidate re-shuffle that motivates the int8 probe flow
          // below is small under ~512k vectors, and the float-side
          // scan measures ~25% faster there (one quantization, no
          // bloom pass) — knnGraph flips `int8Probe` on in scale
          // mode, alongside query-slice batching
          int8CandidateScan(cJoin, q, qPlain, "bucket", queryIdOut,
            hintBroadcast = hint)
        else {
          // SELF-GRAPH scale path: score candidates INSIDE the
          // bucket join with both sides int8-quantized
          // ([[graft.expressions.Int8Candidates.Int8DotInt8]]). The
          // previous spelling attached the full float query vector
          // by a query_id shuffle join over the candidate stream —
          // at the 1.6M-vector ×100 clustered fixture that shuffled
          // ~1B candidate rows × ~100 B (≈100 GB, filled the box).
          // Here the probe rows carry the query's 64 code bytes
          // instead, an occupied-bucket BLOOM (closure-broadcast
          // bytes, same move as Graph.triangles' wedge prune — never
          // a plan-level broadcast of a corpus-derived table, which
          // the self-graph plan pin forbids) drops probe signatures
          // that hit EMPTY buckets map-side before the exchange
          // (~half of them, measured at the ×10 fixture), and the
          // scored candidate rows leave the join 24 bytes wide,
          // shuffling exactly once (top-rerank). The bloom sizes
          // from the 2^planes bucket-space bound — no extra corpus
          // pass — and is skipped for plane counts past the
          // auto-scale cap (the bound stops being small).
          // Both-side quantization is a slightly coarser approx than
          // float×int8 — it picks the re-rank candidate set only;
          // the exact re-rank computes output cosines, and the
          // recall gates pin the floor.
          import graft.expressions.Int8Candidates.int8_dot_int8
          val cCodes = cJoin.select(col("neighbor_id"), col("bucket"),
            graft.expressions.Int8Candidates.int8_code(col("v_c")).as("_c8"))
          val qProbe = qSig
            .withColumn("_q8",
              graft.expressions.Int8Candidates.int8_code(col("v_q")))
            .select(col(queryIdOut), col("_q8"),
              explode(transform(probes, m => col("_sig").bitwiseXOR(m)))
                .as("bucket"))
          val live =
            if (planes > 26) qProbe
            else IncrementalDedup.buildFilter(
                cCodes.select(col("bucket").as("_k")), "_k",
                expectedItems = 1L << planes, fpp = 0.03) match {
              case Some(bytes) =>
                val bc = corpus.sparkSession.sparkContext.broadcast(bytes)
                qProbe.filter(
                  graft.expressions.BloomMightContain.might_contain(
                    col("bucket"), bc))
              case None => qProbe
            }
          // SHUFFLE_HASH pin: `live` is Range-or-transform-rooted on
          // the query side of a self-graph — its estimate can lie
          // small (hundreds of millions of probe rows estimated as
          // MBs) and a static broadcast of the probe stream is a
          // driver-OOM-or-worse (the PairStats measurement join hit
          // exactly this at the ×100 fixture). The int8 corpus slice
          // is the per-partition-bounded build side.
          cCodes.hint("SHUFFLE_HASH").join(live, Seq("bucket"))
            .filter(col("neighbor_id") =!= col(queryIdOut))
            .select(col(queryIdOut), col("neighbor_id"),
              int8_dot_int8(col("_q8"), col("_c8")).as("approx"))
        }
      val cands = topRerank(approx, queryIdOut, rerank)
      val all = starCands.map(cands.unionByName(_)).getOrElse(cands)
      exactRerank(all, c, qPlain, queryIdOut, k, hintBroadcast = hint)
    } else {
      // rerank = 0: float scoring inside the bucket join. Self-graph
      // mode pins MERGE with the corpus as build side — same
      // lying-estimate hazard as above, and here a mis-broadcast
      // ships full float vectors. MERGE, not SHUFFLE_HASH, for THIS
      // join only: it keys on BUCKET, and bucket flood skew can
      // concentrate one partition's float-vector hash build beyond
      // memory (Dedup's measured banded-key rule — unspillable
      // build). The id-keyed attaches elsewhere keep SHUFFLE_HASH:
      // uniform keys bound the build at n/P rows, and MERGE there
      // would sort the exploded candidate stream (measured ~5× at
      // the ×10 fixture — see exactRerank).
      val base =
        (if (hint) cJoin.join(broadcast(q), Seq("bucket"))
         else cJoin.hint("MERGE").join(q, Seq("bucket")))
        .filter(col("neighbor_id") =!= col(queryIdOut))
        .select(col(queryIdOut), col("neighbor_id"),
          dot(col("v_q"), col("v_c")).as("cosine"))
      val scored = starCands match {
        case Some(sc) =>
          // id-keyed vector attaches → SHUFFLE_HASH (uniform keys,
          // n/P-bounded build; see exactRerank's pin rationale —
          // MERGE would sort the candidate stream)
          val cv = if (hint) c else c.hint("SHUFFLE_HASH")
          val qv = if (hint) broadcast(qPlain)
                   else qPlain.hint("SHUFFLE_HASH")
          base.unionByName(sc.join(cv, Seq("neighbor_id"))
            .join(qv, Seq(queryIdOut))
            .select(col(queryIdOut), col("neighbor_id"),
              dot(col("v_q"), col("v_c")).as("cosine")))
        case None => base
      }
      val w = Window.partitionBy(queryIdOut)
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    }
  }
  /** k-nearest-neighbor graph over one vector table: each row's
    * top-`k` cosine neighbors among the other rows —
    * `(query_id, neighbor_id, cosine, rank)`. The substrate for
    * semantic clustering ([[semanticClusters]]), graph-based dedup
    * triage and diversity analysis.
    *
    * `method = "brute"` broadcasts the table against itself — exact,
    * but only valid while the table fits a broadcast (tests,
    * samples). `method = "lsh"` is the scale path: both sides bucket
    * by hyperplane signature, candidates stream int8-compressed, and
    * only the bounded re-rank touches fp vectors — the corpus is
    * never all-pairs joined (same shape as [[lshTopK]], which it
    * delegates to with queries = corpus and `selfGraph = true`, so
    * every corpus-derived join is PINNED SHUFFLE_HASH — not merely
    * left unhinted: the static planner would otherwise broadcast a
    * corpus-sized side off a lying size estimate, and a subtree with
    * no shuffle boundary below the join never gets an AQE
    * correction; see [[int8CandidateScan]]'s scaladoc for the
    * measured failure). `maxBucket` caps signature-bucket occupancy
    * with the star fallback (see [[lshTopK]]) — a flooded bucket of
    * near-identical vectors contributes hub edges instead of a
    * quadratic candidate block.
    *
    * `minCosine` drops weak edges AFTER ranking (an edge-quality
    * gate, not a re-rank): rank stays the global top-k rank, so a
    * node with fewer than k strong neighbors keeps its strong ones.
    *
    * `queryBatches` is an lsh-only scratch control and is REJECTED
    * for `method = "brute"` (brute has no per-slice shuffle scratch
    * to bound — a silently ignored tuning knob would read as
    * applied). Note also that with `rerank = 0` the lsh path scores
    * full float vectors in-bucket, so scale mode's int8 probe flow
    * does not engage — batching still bounds scratch, but the
    * candidate stream carries float vectors; keep `rerank > 0` at
    * ≥512k vectors.
    */
  def knnGraph(df: DataFrame, idCol: String, embCol: String, k: Int,
               method: String = "lsh", minCosine: Double = -1.0,
               planes: Int = 4, probeBits: Int = 3,
               rerank: Int = 64, maxBucket: Int = 1000,
               maxBrute: Int = 100000,
               autoPlanes: Boolean = true,
               queryBatches: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(queryBatches >= 0,
      s"queryBatches must be >= 0, got $queryBatches")
    require(method != "brute" || queryBatches == 0,
      "queryBatches applies to method=\"lsh\" only (brute broadcasts " +
        "the corpus once; there is no per-slice scratch to bound) — " +
        "set query_batches = 0 for brute")
    val topk = method match {
      case "brute"
          if df.schema(idCol).dataType ==
            org.apache.spark.sql.types.LongType =>
        bruteSelfTopK(df, idCol, embCol, k, maxBrute)
      case "brute" =>
        requireBounded(df, maxBrute, "knnGraph(method=\"brute\")")
        bruteForceTopK(df, df, idCol, embCol, k)
      case "lsh" =>
        // Bucket count must TRACK the corpus: with planes fixed, mean
        // occupancy grows ∝ n and the per-query candidate mass
        // (probes × occupancy) turns the self-graph quadratic — the
        // round-10 scale-exponent smoke measured ×15 wall-clock at a
        // ×10 corpus for exactly this reason (and the fix re-measures
        // at ×5.1, near-linear). Auto-scaling keeps mean occupancy
        // ≈ 4 (planes = ⌈log2(n/4)⌉, never below the explicit
        // `planes`, capped at 24 ≈ 16M buckets), and engages only at
        // n ≥ 65536 — below that the candidate mass is small
        // regardless, and the tuned recall-gate configurations
        // (planes ≤ 12 on ≤ 16k-vector fixtures) must not be
        // overridden: on isotropic data recall ≈ fraction of corpus
        // scanned, so silently shrinking buckets at gate scale would
        // trade gated recall for speed nobody asked for. Deeper plane
        // counts flip more bits per true neighbor, so recall at FIXED
        // probeBits decays slowly with scale — raise `probeBits` one
        // notch per ~4 auto-added planes to hold a recall floor;
        // `autoPlanes = false` pins the explicit count. COST of the
        // count(): it executes df's upstream plan once more — for a
        // direct scan that's a cheap column-pruned read, but after an
        // expensive transform chain, persist df before calling (the
        // self-join below references df twice anyway, so an uncached
        // expensive upstream already pays multiple executions with or
        // without this count).
        val n =
          if (autoPlanes || queryBatches == 0) df.select(idCol).count()
          else -1L
        val planesEff =
          if (!autoPlanes) planes
          else if (n >= 65536) {
            // mass-driven regime: target occupancy ≈ 4 (the measured
            // ×10/×100 clustered-fixture configuration)
            val auto = math.ceil(
              math.log(n / 4.0) / math.log(2.0)).toInt
            math.min(math.max(planes, auto), 24)
          } else if (maxBucket > 0 &&
                     n > (1L << planes) * (maxBucket / 4L)) {
            // cap-driven regime (round 14): between gate scale and
            // the mass threshold, mean occupancy n/2^planes crosses
            // maxBucket long BEFORE 65536 rows (planes=4 + cap=1000
            // cross at 16k) — past that point the occupancy cap
            // withholds essentially every bucket and the graph
            // silently degrades to star hub edges (measured at the
            // ×10 driver-embeddings fixture: 20k vectors, occupancy
            // 1250, sim_recall_knn collapsed). Deepen planes just
            // enough for occupancy ≈ maxBucket/4 — clear of the cap
            // with the SHALLOWEST hash, since deeper hashes cost
            // isotropic recall at fixed probes — leaving the tuned
            // sub-crossing gate configs and the measured ≥65536
            // configs byte-identical.
            val auto = math.ceil(
              math.log(n / math.max(1.0, maxBucket / 4.0)) /
                math.log(2.0)).toInt
            math.min(math.max(planes, auto), 24)
          } else planes
        // QUERY-SLICE batching — the self-graph SCRATCH control (the
        // same trade as Graph.triangles' wedge batching): every
        // query's top-k is independent of every other query's, so
        // slicing the query side by hash(id) % B and running the
        // slices SEQUENTIALLY (each eagerly materialized — the
        // output is k rows per query, node-sized — then its shuffle
        // files released) bounds peak scratch at ~1/B of the
        // one-shot plan with BYTE-IDENTICAL output. The one-shot
        // ×100 clustered run (1.6M vectors, planes 19) filled 93 GB
        // of shuffle scratch with the probe and candidate exchanges
        // co-resident; batching is what lets it finish in one box.
        // The corpus side is re-scanned per slice — persist df
        // upstream when its subtree is expensive. 0 = auto (engage
        // past 512k vectors, ~400k queries per slice); 1 = one-shot.
        val batches =
          if (queryBatches >= 1) queryBatches
          else if (n < (1L << 19)) 1
          else math.min(32, math.ceil(n / 400000.0).toInt)
        // scale mode (past the same 512k threshold, or forced
        // batching) also flips the candidate scan to the int8 probe
        // flow — below it the float×int8 scan is faster and the
        // candidate re-shuffle it avoids is small
        val scale = batches > 1 || (n >= (1L << 19))
        if (batches <= 1)
          lshTopK(df, df, idCol, embCol, k,
            planes = planesEff, probeBits = probeBits, rerank = rerank,
            selfGraph = true, maxBucket = maxBucket, int8Probe = scale)
        else if (rerank > 0)
          lshSelfGraphBatched(df, idCol, embCol, k,
            planes = planesEff, probeBits = probeBits, rerank = rerank,
            maxBucket = maxBucket, batches = batches)
        else {
          // rerank = 0 scores full float vectors in-bucket (see the
          // scaladoc note) — the shared int8 corpus side below does
          // not apply; keep the per-slice spelling
          val parts = (0 until batches).map { i =>
            val slice = df.filter(
              pmod(xxhash64(col(idCol)), lit(batches.toLong)) === i.toLong)
            val out = lshTopK(df, slice, idCol, embCol, k,
                planes = planesEff, probeBits = probeBits,
                rerank = rerank, selfGraph = true, maxBucket = maxBucket,
                int8Probe = true)
              .localCheckpoint(true)
            System.gc() // release the slice's shuffle files now
            out
          }
          parts.reduce(_.unionByName(_))
        }
      case other => throw new IllegalArgumentException(
        s"Unknown knnGraph method: '$other' (expected brute|lsh)")
    }
    topk.filter(col("cosine") >= minCosine)
  }

  /** The batched self-graph scale path with ONE shared corpus side
    * (same move as Graph.triangles' shared closing side, measured
    * there first): the round-11 spelling called [[lshTopK]] per query
    * slice, so every slice re-ran the ENTIRE corpus preparation —
    * normalize, hyperplane signatures, the maxBucket count shuffle,
    * the occupied-bucket Bloom build, the int8 encode, the bucket
    * exchange of the coded corpus, and the rerank side's normalize +
    * neighbor_id exchange — B× work that is identical across slices
    * (the slice only changes the QUERY side). Here the coded corpus
    * is bucketed/capped/encoded once and persisted DISK_ONLY
    * pre-partitioned on `bucket` (the InMemoryRelation preserves the
    * hash partitioning, so each slice's candidate join adds no new
    * corpus-side exchange — PlanSpec pins the mechanism on the
    * triangles closing side), the Bloom bytes are built once, the
    * flooded-hub table is computed once, and the float rerank side is
    * persisted once pre-partitioned on `neighbor_id`. Output is
    * byte-identical to the per-slice spelling (Round6Spec pins batched
    * == one-shot): the candidate set, int8 scores, star policy and
    * rank tiebreaks are all unchanged — only WHERE the corpus subtree
    * evaluates moved. Disk cost ≈ coded corpus + float corpus once;
    * both unpersist in the finally. */
  private def lshSelfGraphBatched(df: DataFrame, idCol: String,
                                  embCol: String, k: Int, planes: Int,
                                  probeBits: Int, rerank: Int,
                                  maxBucket: Int, batches: Int): DataFrame = {
    import graft.expressions.Int8Candidates.{int8_code, int8_dot_int8}
    import org.apache.spark.storage.StorageLevel
    val spark = df.sparkSession
    val nShuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val queryIdOut = "query_id"
    val c = withNormalized(
      df.select(col(idCol).as("neighbor_id"), col(embCol).as("_e")),
      "_e", "v_c").select("neighbor_id", "v_c")
    val cBucketed = c
      .withColumn("bucket", hyperplaneSignature(col("v_c"), planes))
    val (under, flooded) = if (maxBucket > 0) {
      val counts = cBucketed.groupBy("bucket")
        .agg(count(lit(1)).as("_n"), min(col("neighbor_id")).as("_hub"))
      val fl = counts.filter(col("_n") > maxBucket)
        .select(col("bucket"), col("_hub"))
        .persist(StorageLevel.DISK_ONLY) // bucket-space bounded, tiny
      // SHUFFLE_HASH pin on the counts side: without it the static
      // planner may broadcast cBucketed — the float-vector corpus —
      // off a lying estimate (see int8CandidateScan's scaladoc)
      (cBucketed.join(
        counts.filter(col("_n") <= maxBucket).select("bucket")
          .hint("SHUFFLE_HASH"),
        Seq("bucket")), Some(fl))
    } else (cBucketed, None)
    val cCodes = under
      .select(col("neighbor_id"), col("bucket"),
        int8_code(col("v_c")).as("_c8"))
      .repartition(nShuffle, col("bucket"))
      .persist(StorageLevel.DISK_ONLY)
    cCodes.count() // materialize before slice 1 (runs the count agg too)
    val cRerank = c.repartition(nShuffle, col("neighbor_id"))
      .persist(StorageLevel.DISK_ONLY)
    cRerank.count()
    val bloomBc =
      if (planes > 26) None
      else IncrementalDedup.buildFilter(
          cCodes.select(col("bucket").as("_k")), "_k",
          expectedItems = 1L << planes, fpp = 0.03)
        .map(spark.sparkContext.broadcast(_))
    try {
      val probes = array(probeMasks(planes, probeBits).map(lit): _*)
      val parts = (0 until batches).map { i =>
        val slice = df.filter(
          pmod(xxhash64(col(idCol)), lit(batches.toLong)) === i.toLong)
        val qPlain = withNormalized(
          slice.select(col(idCol).as(queryIdOut), col(embCol).as("_e")),
          "_e", "v_q").select(queryIdOut, "v_q")
        val qSig = qPlain
          .withColumn("_sig", hyperplaneSignature(col("v_q"), planes))
        val qProbe = qSig
          .withColumn("_q8", int8_code(col("v_q")))
          .select(col(queryIdOut), col("_q8"),
            explode(transform(probes, m => col("_sig").bitwiseXOR(m)))
              .as("bucket"))
        val live = bloomBc match {
          case Some(bc) => qProbe.filter(
            graft.expressions.BloomMightContain.might_contain(
              col("bucket"), bc))
          case None => qProbe
        }
        // SHUFFLE_HASH pin (same hazard as lshTopK's scale path):
        // `live` descends from the slice's query subtree, whose
        // estimate can lie small — a static broadcast of tens of
        // millions of probe rows per slice is the regression this
        // pin forbids. cCodes builds straight from its persisted
        // bucket-partitioned slices (no new exchange).
        val approx = cCodes.hint("SHUFFLE_HASH").join(live, Seq("bucket"))
          .filter(col("neighbor_id") =!= col(queryIdOut))
          .select(col(queryIdOut), col("neighbor_id"),
            int8_dot_int8(col("_q8"), col("_c8")).as("approx"))
        val cands = topRerank(approx, queryIdOut, rerank)
        val all = flooded match {
          case Some(fl) =>
            // fl is persisted (honest, bucket-space-bounded stats);
            // hint it as the build side so the exploded probe stream
            // is never the statically-broadcast one
            val star = qSig
              .withColumn("bucket",
                explode(transform(probes, m => col("_sig").bitwiseXOR(m))))
              .select(col(queryIdOut), col("bucket"))
              .join(fl.hint("SHUFFLE_HASH"), Seq("bucket"))
              .filter(col(queryIdOut) =!= col("_hub"))
              .select(col(queryIdOut), col("_hub").as("neighbor_id"))
            cands.unionByName(star)
          case None => cands
        }
        val out = exactRerank(all, cRerank, qPlain, queryIdOut, k,
            hintBroadcast = false)
          .localCheckpoint(true)
        System.gc() // release the slice's shuffle files now
        out
      }
      parts.reduce(_.unionByName(_))
    } finally {
      cCodes.unpersist(false)
      cRerank.unpersist(false)
      flooded.foreach(_.unpersist(false))
    }
  }

  /** Exact self top-k via the [[graft.expressions.BroadcastTopK]]
    * kernel: one pass per row over the broadcast normalized matrix,
    * no n²-row join and no rank window in the plan (the join+window
    * spelling materialized 25M candidate rows at n=5000 just to
    * discard them — measured 4.3 s vs sub-second with the kernel).
    * Same bounded-corpus contract as [[bruteForceTopK]]'s broadcast
    * side; identical output, bit-for-bit (same in-order double dot,
    * same (cosine desc, id asc) order). EAGER: collects the
    * normalized matrix at call time, like the ANN trainers. */
  private def bruteSelfTopK(df: DataFrame, idCol: String,
                            embCol: String, k: Int,
                            maxBrute: Int = 100000): DataFrame = {
    val n = withNormalized(
      df.select(col(idCol).as("query_id"), col(embCol).as("_e")),
      "_e", "_v").select("query_id", "_v")
    // limit(max+1) bounds the driver materialization itself: an
    // oversized corpus fails the check below with a clear redirect
    // instead of OOM-ing the driver mid-collect. Long addition: the
    // Int.MaxValue escape hatch must not wrap into a negative limit.
    val probe = math.min(maxBrute.toLong + 1, Int.MaxValue.toLong).toInt
    val collected = n.limit(probe).collect()
    require(collected.length <= maxBrute,
      s"knnGraph(method=\"brute\") collects the corpus matrix to the " +
        s"driver and found > $maxBrute rows; use method=\"lsh\" (or " +
        "ivfTopK/lshTopK) for large corpora — bucketed and distributed")
    val ids = collected.map(_.getLong(0))
    val mat = collected.map(_.getSeq[Double](1).toArray)
    // posexplode_OUTER + a cheap attribute filter, not plain
    // posexplode: InferFiltersFromGenerate wraps a non-outer
    // generator in Filter(size(g)>0 AND isnotnull(g)), re-evaluating
    // the kernel 3x per row; the rule skips outer generates.
    n.withColumn("_tk", graft.expressions.BroadcastTopK.broadcast_topk(
        col("query_id"), col("_v"), ids, mat, k))
      .select(col("query_id"),
        posexplode_outer(col("_tk")).as(Seq("_pos", "_nb")))
      .filter(col("_pos").isNotNull)
      .select(col("query_id"),
        col("_nb.neighbor_id").as("neighbor_id"),
        col("_nb.cosine").as("cosine"),
        (col("_pos") + 1).cast("int").as("rank"))
  }

  /** Semantic clusters = connected components of the `minCosine`-
    * thresholded kNN graph: `(<idCol>, cluster_id)` with cluster_id
    * the component's minimum member id. Every input row appears —
    * rows with no strong neighbor form singleton clusters.
    *
    * This is the classic two-stage grouping (SemDeDup's coarse
    * stage, near-dup community detection): a bounded-degree graph
    * build (k edges per node, never all-pairs) followed by
    * [[Dedup.clusterPairs]] alternating large-star/small-star
    * contraction (O(log n) rounds on any topology, per-round plans
    * lineage-truncated) — both stages hold at corpus scale.
    */
  def semanticClusters(df: DataFrame, idCol: String, embCol: String,
                       k: Int, minCosine: Double,
                       method: String = "lsh",
                       planes: Int = 4, probeBits: Int = 3,
                       rerank: Int = 64, maxBucket: Int = 1000,
                       maxBrute: Int = 100000,
                       autoPlanes: Boolean = true,
                       queryBatches: Int = 0): DataFrame = {
    val edges = knnGraph(df, idCol, embCol, k, method, minCosine,
        planes = planes, probeBits = probeBits, rerank = rerank,
        maxBucket = maxBucket, maxBrute = maxBrute,
        autoPlanes = autoPlanes, queryBatches = queryBatches)
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
    Dedup.clusterPairs(df.select(col(idCol)), idCol, edges)
  }

  /** Centroid-distance outlier trim: per-`groupCols` mean vector,
    * euclidean distance of every row to its group centroid, then the
    * rank-based percentile band `[lo, hi]` keeps the
    * distribution-relative core — the noise-pruning pass run before
    * an ANN index or semantic-dedup trains on the space. Appends
    * `distCol` (double) and `pct_rank`; rows outside the band (or
    * with NULL embeddings) are dropped.
    *
    * Scale shape: one centroid aggregation (per-position partial
    * agg, O(groups·d) result) broadcast back, a shuffle-free
    * distance projection, and [[Percentiles.filterByBand]]'s single
    * range-window — no all-pairs, no collect beyond the
    * dimension-sized centroid table. */
  def centroidBandFilter(df: DataFrame, groupCols: Seq[String],
                         embCol: String, lo: Double, hi: Double,
                         distCol: String = "centroid_dist"): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val cents = groupCentroids(df, groupCols, embCol)
      .select((groupCols.map(col) :+ col("centroid")): _*)
    val dist = df.filter(col(embCol).isNotNull)
      .join(broadcast(cents), groupCols)
      .withColumn(distCol,
        sqrt(aggregate(
          zip_with(col(embCol).cast("array<double>"), col("centroid"),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)))
      // restore the input column order (the USING join floats the
      // group columns to the front)
      .select((df.columns.map(col) :+ col(distCol)): _*)
    Percentiles.filterByBand(dist, groupCols, distCol, lo, hi)
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998): greedily pick `k` results from each query's
    * `poolSize`-candidate relevance pool, each step maximizing
    * `λ·relevance − (1−λ)·max-similarity-to-already-picked` — the
    * diversified-retrieval move that keeps a near-duplicate-heavy
    * corpus from returning k copies of one document.
    *
    * Determinism: each greedy step rounds its score with the shared
    * fixed-point `r(x, 4)` BEFORE the argmax (ties → neighbor id
    * asc), so a SQL replay of the same greedy walk picks identical
    * chains; the oracle does exactly that with a recursive CTE.
    *
    * Scale shape: the POOL is the bounded object (queries × poolSize
    * rows, localCheckpointed), pairwise sims are queries × poolSize²
    * — both independent of corpus size; the greedy loop is k driver
    * ROUNDS of distributed ops over all queries at once (rounds
    * scale with k, never with data). The corpus-sized work is only
    * the initial relevance scan ([[bruteForceTopK]] here; swap in
    * any ANN path for the pool at larger scale). */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, k: Int, poolSize: Int = 20,
              lambda: Double = 0.7,
              queryIdOut: String = "query_id"): DataFrame = {
    require(k >= 1 && poolSize >= k,
      s"need k >= 1 and poolSize >= k, got k=$k poolSize=$poolSize")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0, 1], got $lambda")
    def r4(c: Column): Column = floor(c * 1e4 + 0.5 + 1e-6) / 1e4
    val c = withNormalized(
      corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("_e")),
      "_e", "v_c").select("neighbor_id", "v_c")
    val pool = bruteForceTopK(corpus, queries, idCol, embCol, poolSize,
        queryIdOut)
      .select(col(queryIdOut), col("neighbor_id"),
        col("cosine").as("rel"), col("rank"))
      .localCheckpoint(true)
    val pv = pool.join(c, Seq("neighbor_id"))
      .select(col(queryIdOut), col("neighbor_id"), col("v_c"))
    val pa = pv.select(col(queryIdOut), col("neighbor_id").as("a"),
      col("v_c").as("va"))
    val pb = pv.select(col(queryIdOut), col("neighbor_id").as("b"),
      col("v_c").as("vb"))
    val pairs = pa.join(pb, Seq(queryIdOut))
      .filter(col("a") =!= col("b"))
      .select(col(queryIdOut), col("a"), col("b"),
        dot(col("va"), col("vb")).as("sim"))
      .localCheckpoint(true)

    var selected = pool.filter(col("rank") === 1)
      .select(col(queryIdOut), col("neighbor_id"),
        lit(1L).as("mmr_rank"))
      .localCheckpoint(true)
    for (step <- 2 to k) {
      val remaining = pool.join(
        selected.select(col(queryIdOut), col("neighbor_id")),
        Seq(queryIdOut, "neighbor_id"), "left_anti")
      val div = remaining
        .join(pairs.withColumnRenamed("a", "neighbor_id"),
          Seq(queryIdOut, "neighbor_id"))
        .join(selected.select(col(queryIdOut), col("neighbor_id").as("b")),
          Seq(queryIdOut, "b"))
        .groupBy(col(queryIdOut), col("neighbor_id"))
        .agg(max(col("sim")).as("_div"))
      val w = Window.partitionBy(queryIdOut)
        .orderBy(col("_score").desc, col("neighbor_id").asc)
      val picked = remaining.join(div, Seq(queryIdOut, "neighbor_id"))
        .withColumn("_score",
          r4(lit(lambda) * col("rel") - lit(1.0 - lambda) * col("_div")))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col(queryIdOut), col("neighbor_id"),
          lit(step.toLong).as("mmr_rank"))
      selected = selected.unionByName(picked).localCheckpoint(true)
    }
    selected.join(pool.select(col(queryIdOut), col("neighbor_id"),
        col("rel")), Seq(queryIdOut, "neighbor_id"))
      .select(col(queryIdOut), col("mmr_rank"), col("neighbor_id"),
        col("rel"))
  }

}
