package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.SimHash64.simhash64

/** Deduplication operators for training-data pipelines (north-star
  * extension tier). Five families, in decreasing exactness /
  * increasing scale-friendliness:
  *
  *  - exact: hash-groupBy on content — one shuffle of (hash, id)
  *  - fingerprint: md5-of-normalized-text groupBy (near-exact;
  *    whitespace/punct/case-insensitive)
  *  - MinHash+LSH: shingle → minhash signature → banded bucket join —
  *    candidate pairs only ever meet inside a bucket, so the shuffle
  *    is O(docs × bands), never O(docs²)  [Broder 1997; MMDS ch.3]
  *  - SimHash: 64-bit signature, Hamming-ball lookup via chunk
  *    bucketing [Charikar 2002; Manku et al. WWW'07]
  *  - embedding cosine: near-dup by vector similarity, LSH-blocked
  *
  * Everything is expressed as DataFrame transformations (shuffles are
  * groupBy/join on bounded-width keys), so Catalyst/AQE handle
  * partial aggregation, skew, and join strategy at any scale.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Keep one row (min of `idCol`) per exact value of `keyCols`.
    * Map-side partial min per key, tiny shuffle. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val w = keyCols.map(col)
    df.groupBy(w: _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dupes"))
  }

  /** Near-exact: dedup on the md5 fingerprint of normalized text. */
  def byFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fingerprint", Text.fingerprint(col(textCol)))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dupes"))

  // ------------------------------------------------------------- shingles

  /** Distinct character k-shingles over an ALREADY-NORMALIZED string
    * attribute (custom expression: one pass per row; see
    * [[graft.expressions.CharShingles]]). Keep the input a projected
    * column, not a nested expression — a nested subtree would be
    * re-evaluated per reference (see minhashSignatures scaladoc). */
  def shinglesOfNormalized(t: Column, k: Int): Column =
    graft.expressions.CharShingles.char_shingles(t, k)

  /** Convenience single-expression form — only use on small inputs or
    * where the input is already a plain column; prefer the staged
    * projections (normalize → shingle) in hot paths. */
  def charShingles(text: Column, k: Int): Column =
    shinglesOfNormalized(Text.normalize(text), k)

  /** Word n-gram shingles. */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = split(Text.normalize(text), " ")
    when(size(toks) < n, array(array_join(toks, " "))).otherwise(
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " "))))
  }

  // -------------------------------------------------------- MinHash + LSH

  /** MinHash signatures as a DataFrame of (idCol, sig: array<long>).
    *
    * Two stages: (1) normalize the text in its own projection (so the
    * regex work runs once per row — nesting it under the signature
    * expression would re-evaluate it per reference), (2) the
    * [[graft.expressions.MinHashSignature64]] custom expression
    * computes all lanes in one pass over the bytes. Composing this
    * from `transform`/`array_min` built-ins ran interpreted per lane
    * (167 s at sf0.01); the staged+custom form is ~1 s.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, numHashes: Int): DataFrame =
    df.select(col(idCol), Text.normalize(col(textCol)).as("_t"))
      .select(col(idCol),
        graft.expressions.MinHashSignature64.minhash_signature64(
          col("_t"), shingleK, numHashes).as("sig"))

  /** Candidate near-dup pairs via banded LSH over MinHash signatures.
    *
    * bands × rowsPerBand must equal numHashes. A pair lands in a
    * bucket iff one band of their signatures matches exactly; with
    * J=jaccard, P(candidate) = 1-(1-J^r)^b — the classic S-curve.
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b, where
    * est_jaccard is the signature agreement fraction.
    *
    * Scale shape: explode to narrow (id, band, band-hash) rows — the
    * wide signature array does NOT ride through the shuffle; the
    * bucket self-join emits distinct id pairs only, and signatures are
    * re-attached just for the surviving pairs. Bucket sizes are the
    * skew risk at 100 TB: near-identical boilerplate floods one
    * bucket; `maxBucket` bounds the self-join, with `overCap`
    * choosing what happens to over-cap buckets:
    *
    *  - "drop": discard the bucket entirely (the classic cap). A
    *    SILENT LOSS of exactly the dense duplicate families dedup
    *    exists to catch — acceptable only for candidate/verifier
    *    paths whose oracle corpus is known to stay under the cap, or
    *    after an exact fingerprint dedup has already collapsed
    *    identical docs.
    *  - "star" (clustering default): emit O(bucket) STAR edges —
    *    every member paired with the bucket's min-id member — instead
    *    of the O(bucket²) clique. For connected-components dedup the
    *    star preserves exactly what matters (connectivity through the
    *    hub); downstream est_jaccard still verifies each star edge,
    *    so an over-cap bucket of identical boilerplate collapses to
    *    one survivor while a rare false-flood bucket still gets its
    *    non-dup members released. Pair-EXACTNESS is not preserved
    *    (members similar to each other but not to the hub lose their
    *    direct edge) — that is the price of never going quadratic.
    *
    * Plan-cost note — the signature/banding subtree feeds several
    * consumers (bucket counts, both self-join sides, the star branch,
    * and the per-side re-attach joins); their canonically-identical
    * shuffle exchanges are collapsed at runtime by AQE's
    * ReuseExchange, and the one-hash affine kernel makes any
    * remaining recompute ~0.1 s per million docs per core — pair
    * volume, not signature passes, dominates (A/B at sf0.1: the
    * re-attach joins 1.8 s vs a melt + group 2.8 s). Callers that
    * run actions over the pairs AND re-read their input (the
    * clustered dedup variants, leakage-safe splits) pass the input
    * through [[Lineage.once]] so an expensive upstream chain runs
    * once — and at petabyte scale run [[byFingerprint]] first so
    * identical docs (the main flood source) collapse before any
    * signature work.
    */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            shingleK: Int = 5, numHashes: Int = 64,
                            bands: Int = 16, maxBucket: Int = 1000,
                            overCap: String = "drop"): DataFrame = {
    val (pairs, sig) = minhashCandidateIdPairs(df, idCol, textCol,
      shingleK, numHashes, bands, maxBucket, overCap)
    // Re-attach signatures per side. Two equi-joins, NOT a melt +
    // group: with the one-hash affine kernel a full corpus signature
    // pass is ~0.1 s per million docs per core, while a melt spelling
    // pays a SortAggregate over 2×pairs wide array rows — and
    // candidate pairs outnumber docs on any near-dup-dense corpus
    // (A/B'd at sf0.1: melt 2.8 s vs joins 1.8 s).
    // Non-broadcast pins (lying-estimate defense): the signature
    // tables are corpus-sized (numHashes longs per row) and a corpus
    // subtree with no shuffle boundary below the join (range-rooted
    // synthetics, long transform chains) keeps a rows×8 B size
    // estimate — the STATIC planner would broadcast a corpus-scale
    // array table off that lying estimate, with no AQE stage to
    // correct it (measured on the knnGraph self-graph: 8 GB driver
    // OOM; the round-12 audit tool `AuditBroadcast` caught the same
    // plan here). SHUFFLE_HASH, not MERGE (round 14, reapplying the
    // round-13 Similarity measurement to the same shape): these
    // joins key on UNIFORM doc ids, so the per-partition hash build
    // is n/P rows × ~(numHashes·8) B — bounded and skew-free (×100:
    // 500k × 520 B / 32 parts ≈ 8 MB — and the bound REQUIRES P to
    // scale with the corpus: shuffled-hash builds cannot spill, so a
    // deployment that holds P fixed while the corpus grows re-enters
    // the OOM cliff this pin exists to avoid; size P so n/P stays
    // ~10⁴–10⁵ rows, exactly as Similarity.exactRerank documents for
    // its corpus attach), nothing like the ×100 shingle-ARRAY OOM
    // below (8 KB+ rows, ngramJaccardVerified's attach, which stays
    // MERGE). MERGE here sorted the candidate
    // PAIR stream — which outnumbers docs on any near-dup-dense
    // corpus — twice per attach; the round-13 Similarity experiment
    // measured that sort ~5× slower than the hash build at ×10 on
    // identical-width (512 B) payload rows.
    pairs
      .join(sig.select(col(idCol).as("id_a"), col("sig").as("sig_a"))
        .hint("SHUFFLE_HASH"), Seq("id_a"))
      .join(sig.select(col(idCol).as("id_b"), col("sig").as("sig_b"))
        .hint("SHUFFLE_HASH"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.expressions.LaneAgreement.lane_agreement(
          col("sig_a"), col("sig_b")).as("est_jaccard"))
  }

  /** The id-pair stage of [[minhashCandidatePairs]], without the
    * signature re-attach — for callers that only need the CANDIDATE
    * ids and verify pairs by other means ([[ngramJaccardVerified]]'s
    * exact shingle Jaccard): the two sig equi-joins are inner joins
    * Catalyst cannot prune away even when `est_jaccard` is dropped,
    * and each replays the full corpus signature expression. Returns
    * (pairs(id_a, id_b), signatures). */
  private[graft] def minhashCandidateIdPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int, bands: Int, maxBucket: Int,
      overCap: String): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(Set("drop", "star")(overCap), s"unknown overCap mode: $overCap")
    val r = numHashes / bands
    val sig = minhashSignatures(df, idCol, textCol, shingleK, numHashes)

    val banded = sig.select(
      col(idCol),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          xxhash64(array_join(transform(
            slice(col("sig"), b * r + 1, lit(r)), _.cast("string")), ",")).as("bh"))))
        .as("bucket"))
      .select(col(idCol), col("bucket.band").as("band"), col("bucket.bh").as("bh"))

    // Cap pathological buckets (boilerplate floods) before the
    // self-join. Hash-aggregated counts + equi-join — no sort, no
    // per-bucket materialization (a window/collect_list spelling would
    // put a whole flood bucket in one buffer, the OOM this cap
    // exists to prevent). The repeated banded subtrees below share
    // canonically-equal exchanges, which AQE's ReuseExchange collapses
    // at runtime.
    val bucketCounts = banded.groupBy("band", "bh")
      .agg(count(lit(1)).as("_n"), min(col(idCol)).as("_hub"))
    val keepBuckets = bucketCounts
      .filter(col("_n") <= maxBucket).select("band", "bh")
    // SHUFFLE_HASH pins (lying-estimate defense, see the sig attach
    // comment in minhashCandidatePairs): the counts/filter sides and
    // the banded self-join rows are SKINNY (band, bh, id), so a
    // per-partition hash build is bounded — and the (band, bh)
    // exchange the pin forces on `banded` is the one the self-join
    // needs anyway. Without the pin the static planner may broadcast
    // the band-bucket table, which is CORPUS-scale (n×bands rows),
    // not bucket-bounded.
    val capped = banded.join(keepBuckets.hint("SHUFFLE_HASH"),
      Seq("band", "bh"))

    val cliquePairs = capped.select(col("band"), col("bh"), col(idCol).as("id_a"))
      .join(capped.select(col("band"), col("bh"), col(idCol).as("id_b"))
        .hint("SHUFFLE_HASH"),
        Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")

    val pairs = (if (overCap == "star") {
      // hub-spoke edges for over-cap buckets: O(bucket) rows out of
      // one join against the same counts aggregate (hub = min id)
      val starPairs = banded.join(
        bucketCounts.filter(col("_n") > maxBucket).select("band", "bh", "_hub")
          .hint("SHUFFLE_HASH"),
          Seq("band", "bh"))
        .filter(col(idCol) =!= col("_hub"))
        .select(col("_hub").as("id_a"), col(idCol).as("id_b"))
      cliquePairs.unionByName(starPairs)
    } else cliquePairs).distinct()
    (pairs, sig)
  }

  // --------------------------------------------------- clustering

  /** Connected components over a near-dup pair graph. Two algorithms,
    * both plain DataFrame joins (no GraphX):
    *
    *  - `"alternating"` (default): large-star/small-star contraction
    *    [Kiveris et al., "Connected Components in MapReduce and
    *    Beyond", SoCC'14]. Converges in O(log n) rounds on ANY
    *    topology — including the high-diameter chains (crawl
    *    snapshots, versioned docs) that walk label propagation to its
    *    round bound and then silently split components. Each round is
    *    two grouped-min shuffles over the (shrinking) edge set, and
    *    the loop stops at the first star forest.
    *  - `"labelprop"`: iterative min-label propagation — every node
    *    starts labeled with its own id; each round a node adopts the
    *    smallest label among itself and its neighbors. Rounds needed
    *    = component DIAMETER. Kept for dense low-diameter dup
    *    families where each round is one cheap (edges ⋈ labels)
    *    shuffle, and as the cross-check for the default.
    *
    * Both paths `localCheckpoint` per round (lazily — the round's
    * convergence test is the action that materializes the blocks, so
    * each round costs ONE action), which truncates the analyzed
    * LOGICAL plan to a stats-bearing `LogicalRDD` leaf. That matters
    * because the round's frame is referenced twice the next round:
    * with lineage intact the plan doubles per round, so a long run
    * would OOM the driver on plan bookkeeping alone. Superseded
    * rounds' checkpoint blocks are reclaimed by the ContextCleaner.
    * Convergence tests are driver-side SCALARS, never collected data.
    *
    * Returns (idCol, cluster_id) for EVERY node, one row each
    * (singletons keep their own id as cluster); cluster_id = minimum
    * member id.
    */
  def clusterPairs(nodes: DataFrame, idCol: String, pairs: DataFrame,
                   maxIter: Int = 20,
                   algorithm: String = "alternating"): DataFrame =
    algorithm match {
      case "alternating" =>
        alternatingComponents(nodes, idCol, pairs, maxIter)
      case "labelprop" =>
        labelPropagation(nodes, idCol, pairs, maxIter)
      case other => throw new IllegalArgumentException(
        s"unknown components algorithm '$other' " +
          "(expected 'alternating' or 'labelprop')")
    }

  /** Large-star/small-star alternation. State is the edge set itself,
    * kept oriented `(_hi > _lo)`; at the fixed point it is a star
    * forest with every leaf pointing at its component minimum, so the
    * label read-out is one left join.
    *
    *  - large-star: group the UNDIRECTED adjacency by node `u`,
    *    `m = min(N(u) ∪ {u})`, re-attach every neighbor `v > u` to
    *    `m`. Halves long chains (doubles the reach of small labels).
    *  - small-star: group the oriented edges by their larger
    *    endpoint `u` over smaller neighbors, `m = min(N(u))`,
    *    re-attach `{u} ∪ N(u) \ {m}` to `m`. Flattens local minima
    *    into stars.
    *
    * Convergence = the edge set is a star forest ([[nonStarNodes]] is
    * 0), tested once on the input edges and once per round by the
    * action that materializes the round's checkpoint. A star forest
    * is a fixed point of both steps, and the SoCC'14 progress lemma
    * guarantees any other edge set strictly shrinks a finite
    * potential each round, so the loop stops at the first star
    * forest. `maxIter` still bounds the loop, but at O(log n) rounds
    * the default covers ~2^30 nodes; non-convergence stays a loud
    * warning, and the read-out then takes the minimum `_lo` per node
    * so every node keeps one row. */
  private def alternatingComponents(nodes: DataFrame, idCol: String,
                                    pairs: DataFrame, maxIter: Int): DataFrame = {
    val edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("_hi"),
        least(col("id_a"), col("id_b")).as("_lo"))
      .filter(col("_hi") =!= col("_lo"))
      .distinct()
    // an edge set the optimizer already proves empty (a zero-row
    // input, as in `check`) is the fixed point: no job to run
    val none = Similarity.provenMaxRows(edges).contains(0L)
    var e = if (none) edges
      else edges.localCheckpoint(eager = false) // the test materializes it
    var nonStar = if (none) 0L else nonStarNodes(e)
    var round = 0
    while (nonStar > 0 && round < maxIter) {
      // large-star over the undirected adjacency
      val und = e.select(col("_hi").as("_u"), col("_lo").as("_v"))
        .union(e.select(col("_lo").as("_u"), col("_hi").as("_v")))
      val lmin = und.groupBy("_u").agg(min(col("_v")).as("_m"))
        .select(col("_u"), least(col("_u"), col("_m")).as("_m"))
      val large = und.join(lmin, Seq("_u"))
        .filter(col("_v") > col("_u"))
        .select(col("_v").as("_hi"), col("_m").as("_lo"))
        .distinct()
      // small-star over the (already hi→lo oriented) large-star output
      val smin = large.groupBy("_hi").agg(min(col("_lo")).as("_m"))
      val small = large.join(smin, Seq("_hi"))
        .select(col("_lo").as("_n"), col("_m"))
        .union(smin.select(col("_hi").as("_n"), col("_m")))
        .filter(col("_n") =!= col("_m"))
        .select(col("_n").as("_hi"), col("_m").as("_lo"))
        .distinct()
      // Lazy checkpoint: the star test below is the action that
      // computes the round, so its blocks are saved as a side effect —
      // one action per round, and the next round plans against an
      // O(1) LogicalRDD.
      e = small.localCheckpoint(eager = false)
      nonStar = nonStarNodes(e)
      round += 1
    }
    val leaves = if (nonStar == 0L) e else {
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"alternatingComponents did not converge in $maxIter " +
          s"rounds ($nonStar nodes still outside a star): components " +
          "may be split; raise maxIter (O(log n) rounds suffice for " +
          "any topology)")
      // a node may still be the _hi of several edges: one row each
      e.groupBy("_hi").agg(min(col("_lo")).as("_lo"))
    }
    nodes.select(col(idCol))
      .join(leaves.select(col("_hi").as(idCol), col("_lo")), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("_lo"), col(idCol)).as("cluster_id"))
  }

  /** Nodes of the oriented edge set `e` (`_hi > _lo`) that break the
    * star-forest shape: the `_hi` of more than one edge, or both some
    * edge's `_hi` and another's `_lo`. At 0 every `_hi` is a leaf with
    * exactly one edge and every `_lo` a center, so each component is
    * one star centered on its minimum. One aggregate (one shuffle
    * keyed by node), and the action that materializes `e` when `e` is
    * a lazy checkpoint. */
  private def nonStarNodes(e: DataFrame): Long =
    e.select(explode(array(
        struct(col("_hi").as("_n"), lit(1).as("_h")),
        struct(col("_lo").as("_n"), lit(0).as("_h")))).as("_x"))
      .groupBy(col("_x._n"))
      .agg(sum(col("_x._h")).as("_h"), count(lit(1)).as("_d"))
      .filter(col("_h") > 1 || (col("_h") > 0 && col("_d") > col("_h")))
      .count()

  /** Min-label propagation (see [[clusterPairs]]). The per-round
    * change count rides the SAME job that materializes the round's
    * checkpoint: the changed flag is computed as a column of the
    * round's frame and aggregated off the saved blocks — not a
    * second join job over both label frames. */
  private def labelPropagation(nodes: DataFrame, idCol: String, pairs: DataFrame,
                               maxIter: Int): DataFrame = {
    val edges = pairs
      .select(col("id_a").as("_src"), col("id_b").as("_dst"))
      .union(pairs.select(col("id_b").as("_src"), col("id_a").as("_dst")))
      .persist()
    // round 1 reads the initial labels twice: compute them once
    var labels = Lineage.once(nodes.select(col(idCol).as("_id"))
      .withColumn("cluster_id", col("_id")))
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("_id").as("_dst"), col("cluster_id")), Seq("_dst"))
        .groupBy("_src").agg(min("cluster_id").as("_nbr_min"))
        .withColumnRenamed("_src", "_id")
      val newLabel = least(col("cluster_id"),
        coalesce(col("_nbr_min"), col("cluster_id")))
      // lazy checkpoint: the change-count aggregate below is the
      // materializing job
      val next = labels
        .join(nbrMin, Seq("_id"), "left")
        .select(col("_id"), newLabel.as("cluster_id"),
          (newLabel =!= col("cluster_id")).as("_chg"))
        .localCheckpoint(eager = false)
      changed = next.agg(sum(when(col("_chg"), 1L).otherwise(0L)))
        .head().getLong(0)
      labels = next.drop("_chg")
      round += 1
    }
    edges.unpersist()
    // exiting via maxIter with changes still in flight means some
    // component of diameter > maxIter got SPLIT into pseudo-clusters
    // (extra survivors downstream) — make that visible, never silent
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"clusterPairs did not converge in $maxIter rounds " +
          s"($changed labels still changing): components with diameter " +
          s"> $maxIter are split; raise maxIter")
    labels.select(col("_id").as(idCol), col("cluster_id"))
  }

  /** Cluster-then-keep-one dedup over minhash candidates: the
    * semantics real training-data dedup expects — a transitive chain
    * A~B~C collapses to ONE survivor (min id of the component), where
    * greedy keep-first ([[byMinhash]]) is order-dependent and
    * non-transitive. The component rounds are eager jobs over the
    * input, and the result re-reads it: both read one
    * [[Lineage.once]] frame. */
  def byMinhashClustered(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 0.8, shingleK: Int = 5,
                         numHashes: Int = 64, bands: Int = 16,
                         maxBucket: Int = 1000): DataFrame = {
    val src = Lineage.once(df)
    val pairs = clusteredCandidatePairs(src, idCol, textCol, threshold,
      shingleK, numHashes, bands, maxBucket)
    val clusters = clusterPairs(src.select(col(idCol)), idCol, pairs)
    src.join(clusters.filter(col(idCol) =!= col("cluster_id"))
        .select(col(idCol)), Seq(idCol), "left_anti")
  }

  /** Shared candidate graph for the clustered dedup variants.
    * overCap = "star": over-cap buckets (dense boilerplate families)
    * contribute hub-spoke edges instead of being dropped, so the
    * component still collapses to one survivor — see
    * minhashCandidatePairs scaladoc. */
  private def clusteredCandidatePairs(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleK: Int, numHashes: Int,
      bands: Int, maxBucket: Int): DataFrame =
    minhashCandidatePairs(df, idCol, textCol, shingleK, numHashes,
        bands, maxBucket, overCap = "star")
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b")

  /** Quality-aware canonical selection: given near-dup `pairs`
    * (id_a, id_b), keep exactly ONE representative per connected
    * component — the member with the HIGHEST `scoreCol` (ties by
    * smallest id) — instead of the arbitrary min-id survivor. This is
    * the production dedup policy: when a boilerplate family
    * collapses, keep its best-quality member, not its first-crawled
    * one. Rows in no pair are singleton clusters and always survive.
    * Scale shape: the O(log n) component contraction plus ONE
    * per-cluster window — both keyed shuffles, no all-pairs. */
  def keepBestPerCluster(df: DataFrame, idCol: String, pairs: DataFrame,
                         scoreCol: String): DataFrame = {
    // Collision-proof helper names: the user's frame may legitimately
    // carry a `cluster_id` (e.g. pre-clustered corpora) or `_rk`;
    // joining clusterPairs' output unrenamed would make
    // Window.partitionBy("cluster_id") ambiguous and fail analysis.
    val cid = "__graft_cluster_id"
    val rk = "__graft_rk"
    val clusters = clusterPairs(df.select(col(idCol)), idCol, pairs)
      .withColumnRenamed("cluster_id", cid)
    val w = Window.partitionBy(col(cid))
      .orderBy(col(scoreCol).desc, col(idCol))
    df.join(clusters, Seq(idCol))
      .withColumn(rk, row_number().over(w))
      .filter(col(rk) === 1)
      .drop(rk, cid)
  }

  /** [[byMinhashClustered]] with quality-aware survivor choice: the
    * minhash-candidate component keeps its best-`scoreCol` member
    * via [[keepBestPerCluster]], over one [[Lineage.once]] input as
    * in [[byMinhashClustered]]. */
  def byMinhashClusteredBest(df: DataFrame, idCol: String, textCol: String,
                             scoreCol: String, threshold: Double = 0.8,
                             shingleK: Int = 5, numHashes: Int = 64,
                             bands: Int = 16,
                             maxBucket: Int = 1000): DataFrame = {
    val src = Lineage.once(df)
    keepBestPerCluster(src, idCol,
      clusteredCandidatePairs(src, idCol, textCol, threshold, shingleK,
        numHashes, bands, maxBucket),
      scoreCol)
  }

  /** Deduplicate: drop every doc that has a candidate partner with a
    * smaller id and est_jaccard ≥ threshold (greedy, one pass — the
    * standard "keep first" policy without transitive closure). */
  def byMinhash(df: DataFrame, idCol: String, textCol: String,
                threshold: Double = 0.8, shingleK: Int = 5,
                numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val dupes = minhashCandidatePairs(df, idCol, textCol, shingleK, numHashes, bands)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupes, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------------- SimHash

  /** Attach a 64-bit SimHash signature column (custom Catalyst
    * expression over whitespace tokens). */
  def withSimhash(df: DataFrame, textCol: String,
                  out: String = "simhash"): DataFrame =
    df.withColumn(out, simhash64(split(Text.normalize(col(textCol)), " ")))

  /** Near-dup pairs with Hamming distance ≤ maxHamming, found via
    * chunk bucketing: split the 64-bit signature into `chunks` pieces;
    * two signatures within Hamming k must agree on ≥1 piece when
    * chunks > k (pigeonhole) — so candidates meet in a chunk-keyed
    * join, never all-pairs, and the result is EXACT (the full
    * Hamming-ball pair set, hash-oracled against a quadratic DuckDB
    * recomputation). The require below enforces the pigeonhole
    * precondition — chunks ≤ maxHamming would silently miss pairs
    * whose errors spread one-per-chunk. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, chunks: Int = 4,
                   maxBucket: Int = 1000): DataFrame = {
    require(chunks > maxHamming,
      s"pigeonhole completeness needs chunks > maxHamming " +
        s"(got chunks=$chunks, maxHamming=$maxHamming)")
    require(64 % chunks == 0, s"chunks must divide 64 (got $chunks)")
    val bitsPer = 64 / chunks
    val sig = withSimhash(df.select(col(idCol), col(textCol)), textCol)
      .select(col(idCol), col("simhash"))
    hammingPairs(sig, idCol, "simhash", maxHamming, chunks, maxBucket)
  }

  /** Banded Hamming self-join over a precomputed 64-bit hash column —
    * the shared kernel behind [[simhashPairs]] (text) and
    * [[imageHashPairs]] (pixels). Pigeonhole-EXACT for
    * `chunks > maxHamming`: two hashes within the radius agree on at
    * least one chunk, so the chunk-keyed equi-join (never all-pairs)
    * loses nothing; the exact popcount filter then prunes the
    * candidates. Shuffle mass is `chunks` skinny rows per item.
    *
    * `maxBucket` is the flood cap (same contract as minhash's): a
    * `(chunk, piece)` bucket holding > `maxBucket` hashes — a
    * near-identical family, or piece-space saturation once n
    * approaches 2^(64/chunks) per chunk — contributes |bucket|²
    * candidate rows, so over-cap buckets are DROPPED. Pairs agreeing
    * on another under-cap chunk still surface; pairs whose EVERY
    * agreeing chunk floods are lost, so the pigeonhole-exactness
    * claim holds only below the cap — run exact fingerprint dedup
    * first (identical docs flood every chunk), and raise the cap
    * explicitly when big families are intended. */
  private[ops] def hammingPairs(sig: DataFrame, idCol: String,
                                hashCol: String, maxHamming: Int,
                                chunks: Int,
                                maxBucket: Int = 1000): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val bitsPer = 64 / chunks
    val pieces = array((0 until chunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col(hashCol), c * bitsPer)
          .bitwiseAND(lit((1L << bitsPer) - 1)).as("piece"))
    }: _*)
    val chunked = sig.select(col(idCol), col(hashCol),
      explode(pieces).as("cp"))
      .select(col(idCol), col(hashCol),
        col("cp.chunk").as("chunk"), col("cp.piece").as("piece"))
    // Flood cap spelled as a WINDOW count over the bucket key, not a
    // count-agg + join-back: the window's ClusteredDistribution plants
    // ONE (chunk, piece) exchange that both self-join sides reuse
    // (the join's requirement is already satisfied — no further
    // exchange), so the hash subtree (which may hide a full media
    // decode upstream) evaluates ONCE and the cap's marginal cost is
    // a spillable per-partition sort of 16-byte rows. The r10 agg +
    // inner-join spelling re-scanned that subtree for the count and
    // shuffled the probe rows a second time — measured 2.3-3x on the
    // decode-heavy callers (dedup_image_phash, pipeline_multimodal).
    val capped =
      if (maxBucket == Int.MaxValue) chunked
      else chunked
        .withColumn("_n",
          count(lit(1)).over(Window.partitionBy("chunk", "piece")))
        .filter(col("_n") <= maxBucket).drop("_n")
    val a = capped.select(col("chunk"), col("piece"),
      col(idCol).as("id_a"), col(hashCol).as("sh_a"))
    val b = capped.select(col("chunk"), col("piece"),
      col(idCol).as("id_b"), col(hashCol).as("sh_b"))
    // SHUFFLE_HASH pin (lying-estimate defense, rows are skinny
    // 32-byte (chunk, piece, id, hash) tuples). When the flood cap
    // is active (maxBucket < Int.MaxValue) both sides consume the
    // SAME (chunk, piece) exchange the cap's window already forces,
    // so the pin adds no shuffle; with the cap off (the exact-pair
    // contract, e.g. pipeline_multimodal's maxBucket=MaxValue) no
    // window exchange exists below the join and the pin pays the
    // normal two-sided exchange any non-broadcast join needs anyway.
    // Either way it only forbids the static planner from
    // broadcasting the corpus-scale banded table off a lying
    // estimate (AuditBroadcast caught the plan).
    a.join(b.hint("SHUFFLE_HASH"), Seq("chunk", "piece"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
  }

  /** Perceptual IMAGE near-duplicate pairs: dHash fingerprints over
    * the REAL decoded pixels ([[Multimodal.dHash63]] — PNG/GIF/JPEG
    * all decode) + the banded Hamming self-join above. The image
    * sibling of [[simhashPairs]]: near-identical images (brightness
    * shifts, recompressions, small local edits) land within a few
    * bits; undecodable payloads drop out before the join. Decode
    * runs per-partition (one pass per payload, no shuffle); the join
    * shuffles `chunks` skinny (id, hash) rows per image — at 100 TB
    * of images the candidate mass is banded, never quadratic. */
  def imageHashPairs(df: DataFrame, idCol: String, payloadCol: String,
                     maxHamming: Int = 6, chunks: Int = 8,
                     maxBucket: Int = 1000): DataFrame = {
    require(chunks > maxHamming,
      s"pigeonhole completeness needs chunks > maxHamming " +
        s"(got chunks=$chunks, maxHamming=$maxHamming)")
    require(64 % chunks == 0, s"chunks must divide 64 (got $chunks)")
    val sig = Multimodal.withImageHash(
      df.select(col(idCol), col(payloadCol)), payloadCol, out = "phash")
      .filter(col("phash").isNotNull)
      .select(col(idCol), col("phash"))
    hammingPairs(sig, idCol, "phash", maxHamming, chunks, maxBucket)
  }

  /** Perceptual AUDIO near-duplicate pairs: envelope hashes over the
    * REAL decoded PCM ([[Audio.envHash63]]) + the shared banded
    * Hamming join. Catches re-encoded / gain-changed copies of the
    * same clip (the loudness dynamics survive); undecodable or
    * too-short payloads drop out before the join. Same 100 TB shape
    * as [[imageHashPairs]]: per-partition decode, banded candidates,
    * never all-pairs. */
  def audioHashPairs(df: DataFrame, idCol: String, payloadCol: String,
                     maxHamming: Int = 6, chunks: Int = 8,
                     maxBucket: Int = 1000): DataFrame = {
    require(chunks > maxHamming,
      s"pigeonhole completeness needs chunks > maxHamming " +
        s"(got chunks=$chunks, maxHamming=$maxHamming)")
    require(64 % chunks == 0, s"chunks must divide 64 (got $chunks)")
    val sig = Audio.withAudioHash(
      df.select(col(idCol), col(payloadCol)), payloadCol, out = "ahash")
      .filter(col("ahash").isNotNull)
      .select(col(idCol), col("ahash"))
    hammingPairs(sig, idCol, "ahash", maxHamming, chunks, maxBucket)
  }

  // ------------------------------------------------------ n-gram Jaccard

  /** Exact character-n-gram Jaccard similarity pairs ≥ threshold.
    * Blocked by a cheap key (`blockCol`, e.g. language) so the
    * quadratic comparison only runs inside blocks; for unblocked
    * corpora feed the minhash candidates into this as a verifier.
    * `maxBlock` caps the dominant block (or the whole input when
    * unblocked) and fails with a redirect to [[ngramJaccardVerified]]
    * beyond it — the same escape-hatch contract as the ANN brute
    * caps (`Int.MaxValue` disables).
    *
    * Per doc: shingle (custom expression, one pass), hash each
    * shingle to a long, sort — done ONCE before the join. Per pair:
    * a single O(|A|+|B|) merge ([[graft.expressions.SortedLongJaccard]])
    * instead of interpreted hash-set intersect/union. Equality is
    * preserved by the 64-bit hash, so the Jaccard value is the exact
    * string-set value (collisions negligible).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        blockCol: Option[String] = None,
                        maxBlock: Int = 20000): DataFrame = {
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    // Quadratic-block guard (same contract as the ANN brute caps):
    // the comparison volume is Σ_block |block|², so one oversized
    // block — or an unblocked call on a big corpus — silently owns
    // the runtime. Probe the dominant block with ONE action over the
    // pruned key column and fail with a redirect instead; the probe
    // re-executes df's upstream, so persist df first if it sits on an
    // expensive transform chain (the self-join below re-executes it
    // twice more anyway when uncached).
    blockCol match {
      case _ if Similarity.provenMaxRows(df).exists(_ <= maxBlock) =>
        () // no block outgrows a frame the optimizer bounds
      case None =>
        Similarity.requireBounded(df, maxBlock,
          "ngramJaccardPairs(blockCol=None) is all-pairs and")
      case Some(bc) =>
        val mx = df.groupBy(col(bc)).agg(count(lit(1)).as("_n"))
          .agg(max(col("_n")).as("_mx"))
          .head().getAs[Any]("_mx") match {
            case null => 0L
            case v: Long => v
          }
        require(mx <= maxBlock,
          s"ngramJaccardPairs: largest '$bc' block has $mx docs " +
            s"(> maxBlock=$maxBlock) and the within-block self-join is " +
            "quadratic; use ngramJaccardVerified (minhash-blocked exact " +
            "Jaccard, linear in candidates) for large blocks, or raise " +
            "maxBlock explicitly if the block size is intended")
    }
    val keep = col(idCol) +: blockCol.map(col).toSeq
    val withSh = df
      .select(keep :+ Text.normalize(col(textCol)).as("_t"): _*)
      .select(keep :+ shinglesOfNormalized(col("_t"), n).as("_sh"): _*)
      .select(keep :+
        array_sort(transform(col("_sh"), s => xxhash64(s))).as("sh"): _*)
    val joinKeys = blockCol.toSeq
    val a = withSh.select(
      (joinKeys.map(col) :+ col(idCol).as("id_a")) :+ col("sh").as("sh_a"): _*)
    val b = withSh.select(
      (joinKeys.map(col) :+ col(idCol).as("id_b")) :+ col("sh").as("sh_b"): _*)
    val joined = if (joinKeys.nonEmpty) a.join(b, joinKeys) else a.crossJoin(b)
    joined
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.expressions.SortedLongJaccard.sorted_long_jaccard(
          col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard pairs WITHOUT a quadratic block: MinHash+LSH
    * proposes candidates (O(docs × bands) shuffle, capped buckets),
    * then each candidate pair — and only those — is verified with the
    * exact sorted-hash merge. The default at scale: within-block
    * self-joins ([[ngramJaccardPairs]] with a block column) go
    * quadratic in the dominant block, while this stays linear in
    * candidates.
    *
    * Shingle space must match the signature space (`n` == minhash
    * `shingleK`) so the banded S-curve bounds the miss probability of
    * a true pair: with 16 bands × 4 rows, P(miss | J ≥ 0.8) ≤ 2.2e-4
    * and ≤ 4e-8 at J ≥ 0.9 — candidates are a superset of the
    * threshold pairs for any corpus without a mass of pairs sitting
    * exactly at threshold. Output matches the quadratic DuckDB
    * verifier (hash-oracled) UNDER TWO PRECONDITIONS: the S-curve
    * bound above, and NO LSH BUCKET EXCEEDING `maxBucket` — over-cap
    * buckets are dropped (see minhashCandidatePairs), taking their
    * pairs with them. Run exact fingerprint dedup first (collapsing
    * identical docs, the main flood source) or raise `maxBucket` if
    * the corpus has ≥1000-member near-identical families; for
    * cluster-collapse semantics at any bucket size use
    * [[byMinhashClustered]] (star edges, no pair-exactness claim).
    *
    * "Linear in candidates" is a statement about the PLAN; the
    * candidate COUNT is a property of the corpus. On real web corpora
    * unrelated documents share ~no shingles, so candidates track true
    * near-dups. A corpus with high BACKGROUND similarity — templated
    * boilerplate, or this repo's small-vocabulary synthetic fixture
    * (measured: 37 candidates/doc at 5k docs growing to 349/doc at
    * 50k, i.e. candidate mass ∝ n²·P(J_background)) — makes ANY sound
    * exact verifier's work quadratic, because the pairs really are
    * that similar. Mitigations in decreasing order: fingerprint-dedup
    * first, de-boilerplate ([[removeBoilerplateLines]]) so background
    * J drops, or accept cluster semantics via [[byMinhashClustered]].
    */
  def ngramJaccardVerified(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 5, threshold: Double = 0.8,
                           numHashes: Int = 64, bands: Int = 16,
                           maxBucket: Int = 1000): DataFrame = {
    // id-pair stage only: the signature re-attach would add two
    // inner joins (each replaying the corpus signature expression)
    // whose est_jaccard this op discards — the exact shingle Jaccard
    // below is the verdict, minhash is only the blocker here
    val (candidates, _) = minhashCandidateIdPairs(df, idCol, textCol,
      shingleK = n, numHashes = numHashes, bands = bands,
      maxBucket = maxBucket, overCap = "drop")
    val withSh = df
      .select(col(idCol), Text.normalize(col(textCol)).as("_t"))
      .select(col(idCol), shinglesOfNormalized(col("_t"), n).as("_sh"))
      .select(col(idCol),
        array_sort(transform(col("_sh"), s => xxhash64(s))).as("sh"))
    // SOUND size prune while pairs are still 16-byte rows:
    // J = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|), so a pair whose
    // size ratio is below threshold cannot verify. The bound is
    // spelled as the SAME double division the final jaccard filter
    // uses, so the equality case (J exactly min/max, i.e. A ⊆ B)
    // cannot be rounded out — no pair the exact verify would keep is
    // dropped, and the oracle needs no change. On corpora with high
    // BACKGROUND similarity — where LSH candidates outnumber true
    // pairs (this repo's templated fixture: ~75% of candidates have
    // mismatched sizes) — this divides the heavy array-attach mass
    // below by ~4; on near-dup-only candidate sets it is a no-op
    // pass over narrow rows.
    val sizes = withSh.select(col(idCol), size(col("sh")).as("_n"))
    // SHUFFLE_HASH pins on the skinny size tables (lying-estimate
    // defense — see minhashCandidatePairs' sig attach comment; the
    // round-12 AuditBroadcast run caught these planned as static
    // broadcasts on a range-rooted corpus)
    val survivors = candidates
      .join(sizes.select(col(idCol).as("id_a"), col("_n").as("_na"))
        .hint("SHUFFLE_HASH"), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("_n").as("_nb"))
        .hint("SHUFFLE_HASH"), Seq("id_b"))
      .filter(least(col("_na"), col("_nb")).cast("double") /
        greatest(col("_na"), col("_nb")) >= threshold)
      .select(col("id_a"), col("id_b"))
    // Two keyed joins, jaccard computed inline — NOT a melt + regroup:
    // the melt spelling re-shuffles BOTH heavy shingle arrays of every
    // pair through a groupBy(id_a, id_b) after its join, and on a
    // near-dup-dense corpus (where pairs ≫ docs) that second heavy
    // shuffle dominates; the two-join shape ships each pair's array
    // mass once and drops the arrays at the threshold filter before
    // anything else moves. The array joins pin MERGE (round 12; they
    // were deliberately unhinted before): SHUFFLE_HASH is wrong here
    // — forcing a hash build of corpus shingle ARRAYS measured 25%
    // slower than AQE's sort-merge at ×10 and cannot spill (it OOM'd
    // the ×100 fixture outright) — but UNHINTED is also wrong: on a
    // corpus whose subtree carries a lying size estimate (no shuffle
    // boundary below the join) the STATIC planner broadcasts the
    // shingle-array table, which at scale is a driver OOM
    // (AuditBroadcast caught the plan). MERGE = the same sort-merge
    // AQE picks on honest stats, made unconditional.
    survivors
      .join(withSh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
        .hint("MERGE"), Seq("id_a"))
      .join(withSh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
        .hint("MERGE"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.expressions.SortedLongJaccard.sorted_long_jaccard(
          col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------------------- embedding near-dup

  /** Near-dup pairs by embedding cosine ≥ threshold. Blocked via
    * random-hyperplane LSH (see Similarity.hyperplaneSignature): only
    * vectors whose signatures agree within `probeBits` bits are
    * compared — the probing side explodes its masks, so a pair meets
    * iff hamming(sig_a, sig_b) ≤ probeBits, and the join stays a
    * bucket equi-join (never all-pairs). A pair meets in at most ONE
    * orientation of one bucket (each vector has a single base
    * signature; probe masks are distinct; `id_a < id_b` keeps one
    * orientation), so the final grouping is defensive, not load-
    * bearing.
    *
    * Scale shape of the join: the PROBING side (a) is the one that
    * fans out `#masks`-fold, so it carries only the int8 code
    * (D bytes + 2 doubles vs 8·D fp bytes — see
    * [[graft.expressions.Int8Candidates]]); the base side (b) keeps
    * one unexploded fp copy, the operand of the in-join approximate
    * score `int8_dot(v_b, code_a)`. Pairs are pruned inside the join
    * (approx ≥ threshold − `int8Margin`), and only the survivors
    * re-attach the fp `v_a` for the exact cosine the output reports
    * and the threshold is judged on — NO exchange in the plan ever
    * carries two fp vectors on one row (pinned in PlanSpec). The
    * margin bounds the quantization error: |int8_dot − dot| ≤
    * (scale/2 + ulp) · Σ|v_b_i| ≈ (1/255) · √D for L2-normalized
    * vectors (0.03 at D=64), so the default 0.1 cannot drop a true
    * pair for any D ≤ ~600; results are bit-identical to the exact
    * all-fp spelling (the oracle pins this).
    *
    * `maxBucket`/`overCap` mirror [[minhashCandidatePairs]]: a dense
    * near-duplicate family floods one signature bucket and the
    * self-join goes quadratic in it. Over-cap BASE buckets are
    * withheld from the join — only intra-bucket pairs are affected;
    * pairs reaching an over-cap bucket's members from outside still
    * meet through the member's own probes. `overCap = "drop"`
    * discards them (pair-exact for corpora known to stay under the
    * cap — the oracle harness mode), `overCap = "star"` emits hub
    * edges (bucket min-id × each member, exact-verified like every
    * other pair) so connected-components dedup still collapses the
    * family at O(bucket) cost.
    *
    * The cap's design case is SKEW — a few flooded buckets in an
    * otherwise healthy hash space. A FIXED plane count crosses the
    * cap a second, silent way: mean occupancy n/2^planes grows
    * linearly with the corpus, and once it passes `maxBucket` the cap
    * withholds essentially EVERY bucket — in drop mode the pair set
    * quietly collapses to ~nothing (measured at the ×10 fixture:
    * 20k vectors over 2^4 buckets = 1250 mean occupancy vs cap 1000,
    * recall_ok flipped false). Two defenses, both on by the gate
    * queries that exercise them:
    *  - `autoPlanes = true`: plane count tracks the corpus —
    *    planesEff = ⌈log2(n / (maxBucket/4))⌉ (never below the
    *    explicit `planes`, capped at 24), keeping mean occupancy
    *    ≈ maxBucket/4, and the probe depth is re-solved analytically
    *    against `recallFloor` via [[Similarity.probeBitsFor]] (the
    *    exact binomial tail at `threshold` — deeper planes flip more
    *    bits per true pair, so holding recall costs probe mass; at
    *    low thresholds on isotropic data that cost is intrinsically
    *    superlinear, which is the honest price of the semantics, not
    *    a plan defect). Costs one count() of df's upstream plan
    *    (same trade as [[Similarity.knnGraph]]'s auto mode).
    *  - a saturation GUARD (drop mode only): when > 50% of corpus
    *    rows sit in over-cap buckets the plan raises a typed error
    *    naming the escapes instead of returning the silently-empty
    *    pair set — the [[Similarity.requireBounded]] philosophy, but
    *    in-plan (a 1-row broadcast scalar attach re-aggregating the
    *    bucket counts), so it fires wherever the DataFrame is
    *    finally executed.
    *
    * Recall vs threshold: per-plane agreement for a pair at cosine c
    * is 1 − acos(c)/π, so at production near-dup thresholds (c ≥ 0.9,
    * agreement ≈ 0.9) planes=8/probeBits=1 already holds pair recall
    * ≈ 0.97 at ~4% corpus coverage. The synthetic fixtures plant
    * near-dups at c ≈ 0.5 (agreement ≈ 0.67) where ANY hyperplane
    * scheme's recall ≈ coverage — the gate query uses deeper probes
    * there and BASELINE.md documents the measured curve. */
  def embeddingCosinePairs(df: DataFrame, idCol: String, embCol: String,
                           threshold: Double = 0.95,
                           planes: Int = 8, probeBits: Int = 1,
                           maxBucket: Int = 1000, overCap: String = "drop",
                           int8Margin: Double = 0.1,
                           tables: Int = 1,
                           autoPlanes: Boolean = false,
                           recallFloor: Double = 0.92): DataFrame = {
    require(Set("drop", "star")(overCap), s"unknown overCap mode: $overCap")
    if (tables > 1)
      return embeddingCosinePairsBanded(df, idCol, embCol, threshold,
        planes, probeBits, tables, maxBucket, overCap, int8Margin)
    // auto mode: plane count tracks the corpus so mean occupancy
    // stays ≈ maxBucket/4 (headroom under the cap), probe depth
    // re-solved for the recall floor (see the class doc above)
    val (planesEff, probeBitsEff) =
      if (!autoPlanes) (planes, probeBits)
      else {
        val n = df.select(idCol).count()
        val targetOcc = math.max(1.0, maxBucket / 4.0)
        val auto = math.ceil(
          math.log(math.max(1.0, n / targetOcc)) / math.log(2.0)).toInt
        val pe = math.min(math.max(planes, auto), 24)
        val pb = if (pe == planes) probeBits
                 else Similarity.probeBitsFor(pe, threshold, recallFloor,
                   probeBits)
        (pe, pb)
      }
    import graft.expressions.Int8Candidates._
    val sig = Similarity.withNormalized(
      df.select(col(idCol), col(embCol).as("_e")), "_e", "v")
      .select(col(idCol), col("v"))
      .withColumn("bucket",
        Similarity.hyperplaneSignature(col("v"), planesEff))
    val vById = sig.select(col(idCol).as("id_a"), col("v").as("v_a"))

    // bucket-occupancy cap on the BASE buckets (the join key the
    // probes land on) — hash-aggregated counts, no window
    val counts = sig.groupBy("bucket")
      .agg(count(lit(1)).as("_n"), min(col(idCol)).as("_hub"))

    // probing side: int8 code + the probe-mask fan-out (skinny rows
    // explode, never the fp vector)
    val probes = array(
      Similarity.probeMasks(planesEff, probeBitsEff).map(lit): _*)
    val aCoded = sig
      .select(col(idCol).as("id_a"), int8_code(col("v")).as("_q8"),
        col("bucket").as("_sig"))
      .select(col("id_a"), col("_q8.code").as("_code"),
        col("_q8.mn").as("_mn"), col("_q8.scale").as("_scale"),
        explode(transform(probes, m => col("_sig").bitwiseXOR(m)))
          .as("bucket"))
    // base side: one fp copy per row, capped buckets withheld.
    // SHUFFLE_HASH on the counts filter, MERGE on the vector-carrying
    // candidate join (lying-estimate defense — AuditBroadcast caught
    // the static planner broadcasting the v_b-carrying base side off
    // a rows×8 B estimate; payload builds must stay spillable, so
    // MERGE, not SHUFFLE_HASH — see ngramJaccardVerified's comment)
    val b = sig
      .join(counts.filter(col("_n") <= maxBucket).select("bucket")
        .hint("SHUFFLE_HASH"),
        Seq("bucket"))
      .select(col("bucket"), col(idCol).as("id_b"), col("v").as("v_b"))

    val candidates = aCoded.join(b.hint("MERGE"), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(int8_dot(col("v_b"), col("_code"), col("_mn"), col("_scale"))
        >= threshold - int8Margin)
      .select(col("id_a"), col("id_b"), col("v_b"))

    // star edges for over-cap buckets: hub = min id, so id_a = hub
    val withStar = if (overCap == "star") {
      val star = sig
        .join(counts.filter(col("_n") > maxBucket)
          .select(col("bucket"), col("_hub")).hint("SHUFFLE_HASH"),
          Seq("bucket"))
        .filter(col(idCol) =!= col("_hub"))
        .select(col("_hub").as("id_a"), col(idCol).as("id_b"),
          col("v").as("v_b"))
      candidates.unionByName(star)
    } else candidates

    // exact verify on survivors only: one keyed join re-attaches v_a.
    // SHUFFLE_HASH, not MERGE (round 14): unlike the bucket-keyed
    // candidate join above, this keys on UNIFORM vector ids — the
    // build side (vById) has one row per distinct id, so the
    // per-partition hash build is n/P single-vector rows, bounded at
    // any scale (probe-side id_a skew from star hubs only affects
    // task balance, which sort-merge shares — both strategies
    // colocate by key). MERGE sorted the candidate-pair stream per
    // attach; the round-13 Similarity measurement on identical-width
    // payload rows read that ~5× slower at ×10. The non-broadcast
    // pin itself stays (lying-estimate defense, see above).
    val out = withStar
      .join(vById.hint("SHUFFLE_HASH"), Seq("id_a"))
      .select(col("id_a"), col("id_b"),
        Similarity.dot(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .groupBy("id_a", "id_b").agg(max("cosine").as("cosine"))
    if (overCap == "drop")
      withSaturationGuard(out, counts, "_n", maxBucket,
        "embeddingCosinePairs",
        "escapes: autoPlanes=true (planes track n), tables > 1 " +
          "(banded), overCap=\"star\", or raise maxBucket")
    else out
  }

  /** The in-plan saturation guard (class doc of
    * [[embeddingCosinePairs]]): a 1-row aggregate over the bucket-count
    * table that raises a descriptive error when > 50% of corpus rows
    * sit in over-cap buckets — the regime where overCap="drop" stops
    * being a skew cap and becomes a silent recall collapse.
    *
    * The assertion is a union branch of its own that yields no row
    * when the check passes (assert_true is NULL on success and the
    * branch keeps only non-NULL guards). Attached to the pairs by a
    * join, it would be dropped with them whenever AQE finds the capped
    * candidate side empty, which is the saturated case itself; a union
    * branch over the (non-empty) bucket counts must be evaluated. The
    * placeholder columns are non-NULL literals, so the output schema
    * keeps `out`'s nullability. */
  private def withSaturationGuard(out: DataFrame, counts: DataFrame,
                                  nCol: String, maxBucket: Int,
                                  op: String, escape: String): DataFrame = {
    val guard = counts
      .agg((coalesce(sum(when(col(nCol) > maxBucket, col(nCol))), lit(0L))
        * lit(1.0) / sum(col(nCol))).as("_sat"))
      .select(assert_true(coalesce(col("_sat") < 0.5, lit(true)),
        concat(lit(s"$op: LSH hash space saturated ("),
          format_number(col("_sat") * 100, 1),
          lit(s"% of rows in buckets over maxBucket=$maxBucket) - " +
            s"overCap=\"drop\" would silently discard most candidate " +
            s"mass; $escape"))).as("_sat_guard"))
    out.unionByName(guard.filter(col("_sat_guard").isNotNull)
      .select(out.schema.map(f => lit(0).cast(f.dataType).as(f.name)): _*))
  }

  /** Multi-table (banded) variant of [[embeddingCosinePairs]] — the
    * E2LSH move, and the scale answer for pair recall that deeper
    * probing alone cannot give: one `planes × tables`-bit signature
    * is computed per row, sliced into `tables` independent
    * `planes`-bit bands, and a pair is a candidate if it co-lands in
    * ANY band (same AND-OR construction as MinHash banding). With
    * per-band collision probability p ≈ agreement^planes, pair
    * recall is 1 − (1 − p)^tables: e.g. at cosine 0.9 (agreement
    * 0.97... per-plane ≈ 0.9), planes=8 gives p ≈ 0.43 per band and
    * 4 bands reach ≈ 0.90 — WITHOUT widening any single band's
    * buckets, so per-band occupancy (and candidate mass) stays flat
    * as `tables` grows. Cost is `tables ×` skinny (band, bucket, id)
    * rows through the candidate join; fp vectors are attached only
    * to the DISTINCT surviving pairs, once, for the exact verify —
    * so the ×tables fan-out never multiplies vector payload.
    *
    * Over-cap buckets are judged per (band, bucket) with the same
    * drop/star policy; star hub edges join the distinct pass, so a
    * pair found both normally (in one band) and via a star (in
    * another) emits once. Output identical in shape and semantics to
    * the single-table form: exact cosine ≥ threshold, one row per
    * (id_a < id_b) pair. */
  private def embeddingCosinePairsBanded(df: DataFrame, idCol: String,
      embCol: String, threshold: Double, planes: Int, probeBits: Int,
      tables: Int, maxBucket: Int, overCap: String,
      int8Margin: Double): DataFrame = {
    require(planes >= 1 && tables >= 2 && planes * tables <= 60,
      s"need planes >= 1, tables >= 2, planes*tables <= 60; " +
        s"got planes=$planes tables=$tables")
    import graft.expressions.Int8Candidates._
    val norm = Similarity.withNormalized(
      df.select(col(idCol), col(embCol).as("_e")), "_e", "v")
      .select(col(idCol), col("v"))
    val sig = norm.withColumn("_sig64",
      Similarity.hyperplaneSignature(col("v"), planes * tables))
    val bandMask = (1L << planes) - 1
    // call_function: the Scala shiftrightunsigned() helper only takes
    // a literal shift, but the SQL function accepts a column
    def bandOf(s: Column, t: Column): Column =
      call_function("shiftrightunsigned", s, (t * lit(planes)).cast("int"))
        .bitwiseAND(lit(bandMask))
    val bands = array((0 until tables).map(lit): _*)

    // base side: SKINNY (band, bucket, id) rows — no vectors fan out
    val base = sig
      .select(col(idCol).as("id_b"), col("_sig64"),
        explode(bands).as("_t"))
      .select(col("_t"), bandOf(col("_sig64"), col("_t")).as("bucket"),
        col("id_b"))
    val counts = base.groupBy("_t", "bucket")
      .agg(count(lit(1)).as("_n"), min(col("id_b")).as("_hub"))

    // probe side: every (band, probe-mask) per row, also skinny
    val masks = array(Similarity.probeMasks(planes, probeBits).map(lit): _*)
    val probing = sig
      .select(col(idCol).as("id_a"), col("_sig64"),
        explode(bands).as("_t"))
      .select(col("id_a"), col("_t"),
        explode(transform(masks,
          m => bandOf(col("_sig64"), col("_t")).bitwiseXOR(m)))
          .as("bucket"))

    // SHUFFLE_HASH pins throughout the skinny banded joins
    // (lying-estimate defense — see embeddingCosinePairs above); the
    // (_t, bucket) exchange is shared by filter, candidate and star
    // joins, so the pins add no shuffle
    val under = base.join(
      counts.filter(col("_n") <= maxBucket).select("_t", "bucket")
        .hint("SHUFFLE_HASH"),
      Seq("_t", "bucket"))
    val cands = probing.join(under.hint("SHUFFLE_HASH"), Seq("_t", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val withStar = if (overCap == "star") {
      val star = base
        .join(counts.filter(col("_n") > maxBucket)
          .select(col("_t"), col("bucket"), col("_hub"))
          .hint("SHUFFLE_HASH"), Seq("_t", "bucket"))
        .filter(col("id_b") =!= col("_hub"))
        .select(col("_hub").as("id_a"), col("id_b"))
      cands.unionByName(star)
    } else cands

    // one row per pair BEFORE vectors attach: the distinct is the
    // band-dedup. Then the same two-stage verify as the single-table
    // form: the int8 prescreen runs on one fp vector + one 4x-smaller
    // code per pair (attached by key, not fanned out per band), and
    // only its survivors attach the second fp vector for the exact
    // cosine the threshold is judged on.
    val codes = sig
      .select(col(idCol).as("id_b"), int8_code(col("v")).as("_q8"))
      .select(col("id_b"), col("_q8.code").as("_code"),
        col("_q8.mn").as("_mn"), col("_q8.scale").as("_scale"))
    // vector attaches pin MERGE (payload sides must stay spillable
    // and never statically broadcast — see embeddingCosinePairs);
    // the int8 code table is skinny and pins SHUFFLE_HASH
    val out = withStar.distinct()
      .join(norm.select(col(idCol).as("id_a"), col("v").as("v_a"))
        .hint("MERGE"), Seq("id_a"))
      .join(codes.hint("SHUFFLE_HASH"), Seq("id_b"))
      .filter(int8_dot(col("v_a"), col("_code"), col("_mn"), col("_scale"))
        >= threshold - int8Margin)
      .join(norm.select(col(idCol).as("id_b"), col("v").as("v_b"))
        .hint("MERGE"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.dot(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
    // per-(band, bucket) saturation is the same silent-collapse risk
    // as the single-table form (mean occupancy n/2^planes per band
    // grows with n); the guard aggregates across all bands
    if (overCap == "drop")
      withSaturationGuard(out, counts, "_n", maxBucket,
        "embeddingCosinePairs(banded)",
        "escapes: more planes per band (occupancy falls 2x per " +
          "plane; add tables to hold recall), overCap=\"star\", or " +
          "raise maxBucket")
    else out
  }

  /** SemDeDup [Abbas et al. 2023, arXiv:2303.09540]: partition the
    * corpus into embedding clusters, then within each cluster drop
    * every row that has a semantic duplicate (cosine ≥ `threshold`)
    * with a smaller id. Returns the SURVIVING rows of `df`, all
    * original columns intact.
    *
    * The paper's construction exactly: pairwise similarity is only
    * ever computed INSIDE a cluster, so the join is a cluster-key
    * equi-join and the quadratic term is bounded by cluster size —
    * at 100 TB, `nClusters` scales with the corpus (the paper runs
    * 50k clusters over LAION) so rows-per-cluster stays flat and no
    * all-pairs block ever exists. Survivor choice diverges from the
    * paper's random-keep deliberately: min-id is deterministic across
    * reruns/backfills (same rationale as [[exact]]), where a random
    * keep would reshuffle the corpus every rebuild.
    *
    * `assign` picks the cluster map:
    *  - `"kmeans"` (default, the paper's semantics): centroids from a
    *    bounded hash-ordered sample via [[KMeansLite]], assignment as
    *    one broadcast-literal expression — no per-iteration cluster
    *    jobs, no MLlib dependency. Cross-cluster duplicates are the
    *    accepted approximation (the paper's too); the ScalaTest gate
    *    pins soundness (no false drop) and a recall floor vs the
    *    global-exact pair set.
    *  - `"hash"`: md5 key-hash buckets ([[Sampling.keyHash]] mod
    *    `nClusters`), engine-portable — the DuckDB oracle replays the
    *    identical clustering, making the full survivor set
    *    hash-verifiable. No semantic locality, so it only catches
    *    same-bucket dups — an oracle harness, not a production path.
    *
    * `nAssign` (kmeans only) enrolls each vector in its `nAssign`
    * nearest clusters for PAIR GENERATION — IVF's nprobe move applied
    * to dedup: a duplicate pair straddling a cluster boundary meets in
    * the runner-up cluster. Linear cost (`nAssign ×` rows into the
    * join, duplicate pair hits collapsed by the distinct), large
    * recall win on weakly-clustered corpora — measured on the
    * isotropic fixtures, the adversarial case: see
    * `tools/TuneSemDeDup` and the dedup_semantic_recall gate.
    */
  def semDeDup(df: DataFrame, idCol: String, embCol: String,
               threshold: Double = 0.95, nClusters: Int = 16,
               assign: String = "kmeans", nAssign: Int = 1): DataFrame = {
    require(nAssign >= 1 && nAssign <= nClusters,
      s"nAssign must be in [1, nClusters], got $nAssign")
    val norm = Similarity.withNormalized(
      df.select(col(idCol), col(embCol).as("_e")), "_e", "v")
      .select(col(idCol), col("v"))
    val clustered = assign match {
      case "hash" =>
        require(nAssign == 1, "multi-assign needs centroid geometry")
        norm.withColumn("_cl",
          Sampling.keyHash(col(idCol)) % lit(nClusters.toLong))
      case "kmeans" =>
        val sample = Similarity.trainingSample(norm, idCol, "v")
        // an empty sample means no rows: there is nothing to cluster
        if (sample.isEmpty) norm.withColumn("_cl", lit(0))
        else {
          val centroids = KMeansLite.fit(sample, nClusters, iters = 25,
            seed = 42L)
          import graft.expressions.NearestCentroids.nearest_centroids
          norm.withColumn("_cl",
            explode(nearest_centroids(col("v"), centroids, nAssign)))
        }
      case other => throw new IllegalArgumentException(
        s"assign must be kmeans or hash, got: $other")
    }
    val a = clustered
      .select(col("_cl"), col(idCol).as("_id_a"), col("v").as("_v_a"))
    val b = clustered
      .select(col("_cl"), col(idCol).as("_id_b"), col("v").as("_v_b"))
    // MERGE pin (round-13 audit): b is the WHOLE normalized-vector
    // corpus (self-op; the centroid assignment is a per-row
    // expression, no exchange below → AQE-blind), so a lying
    // estimate statically broadcasts every float vector. MERGE, not
    // SHUFFLE_HASH — vector payloads, hash builds cannot spill.
    val dropped = a.join(b.hint("MERGE"), Seq("_cl"))
      .filter(col("_id_a") < col("_id_b"))
      .filter(Similarity.dot(col("_v_a"), col("_v_b")) >= threshold)
      .select(col("_id_b").as(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------- line-level boilerplate

  /** Lines occurring in ≥ `minDocs` DISTINCT documents — the CCNet /
    * RefinedWeb boilerplate signal (nav menus, cookie banners, footers
    * repeat verbatim across a site's pages; real prose doesn't).
    * Matching is on the exact line (no normalization — boilerplate
    * repeats byte-identically; callers can pre-normalize).
    *
    * Scale shape: explode to (line, doc) then count-distinct-doc per
    * line — ONE shuffle with map-side partial aggregation on the line
    * key; never materializes a per-doc line set. Returns
    * (line, n_docs). */
  def boilerplateLines(df: DataFrame, idCol: String, textCol: String,
                       minDocs: Int = 3): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("_doc"),
        explode(split(col(textCol), "\n")).as("line"))
      .groupBy("line")
      .agg(count_distinct(col("_doc")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Remove boilerplate lines (per [[boilerplateLines]]) from every
    * document, preserving the order of surviving lines. A document
    * whose every line is boilerplate keeps an empty string; NULL text
    * passes through NULL.
    *
    * Scale shape: the boilerplate line set is grouped small relative
    * to the corpus (repeated lines collapse to one row each) but NOT
    * guaranteed broadcastable at 100 TB, so the removal join is a
    * plain left-anti equi-join on the line — AQE picks broadcast vs
    * shuffle from the measured size. Reassembly is one groupBy over
    * (doc, pos) pairs. Adds `n_lines_removed` per doc. */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                             minDocs: Int = 3): DataFrame = {
    val bl = boilerplateLines(df, idCol, textCol, minDocs)
      .select(col("line"), lit(1).as("_bl"))
    val exploded = df.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(split(col(textCol), "\n"))
        .as(Seq("_pos", "line")))
    // one membership join + one per-doc aggregation: collect_list
    // drops the null entries the `when` produces for boilerplate
    // lines, so kept text and removed count come from the same pass
    val agg = exploded.join(bl, Seq("line"), "left")
      .groupBy(idCol)
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("_bl").isNull,
            struct(col("_pos"), col("line"))))),
          s => s.getField("line")), "\n").as("_kept"),
        sum(when(col("_bl").isNotNull, 1L).otherwise(0L))
          .as("_n_removed"))
    df.join(agg, Seq(idCol), "left")
      .withColumn("clean_text",
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("_kept"), lit(""))))
      .withColumn("n_lines_removed",
        when(col(textCol).isNull, lit(null).cast("long"))
          .otherwise(coalesce(col("_n_removed"), lit(0L))))
      .drop("_kept", "_n_removed")
  }

  /** Substring-overlap candidate pairs via winnowing fingerprints
    * ([[Text.winnow]]): documents sharing >= `minShared` selected
    * fingerprints — the PARTIAL-overlap detector (quotation,
    * boilerplate blocks, spliced passages) that whole-document
    * minhash under-weighs: winnowing guarantees any shared run of
    * w + k - 1 chars leaves a common fingerprint, so even a single
    * long shared sentence surfaces. `maxFpFreq` drops fingerprints
    * shared by too many documents (corpus boilerplate k-grams) —
    * the same flooded-bucket escape as the minhash band cap, and the
    * reason the join stays linear in shared-content volume instead
    * of quadratic in corpus size.
    *
    * Output: `(id_a, id_b, n_shared)`, id_a < id_b. */
  def winnowCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 5, w: Int = 4, minShared: Int = 3,
                           maxFpFreq: Int = 20): DataFrame = {
    require(minShared >= 1 && maxFpFreq >= 2,
      s"need minShared >= 1 and maxFpFreq >= 2, got $minShared/$maxFpFreq")
    val fps = Text.winnow(df, idCol, textCol, k, w)
      .select(col(idCol), col("fp")).distinct()
    val ok = fps.groupBy(col("fp")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") <= maxFpFreq).select(col("fp"))
    // SHUFFLE_HASH pin on the frequency filter too (lying-estimate
    // defense — AuditBroadcast caught a static broadcast of the
    // fingerprint-space table, which is corpus-scale, not bounded);
    // the fp exchange it forces is the one the pair join needs anyway
    val a = fps.join(ok.hint("SHUFFLE_HASH"), Seq("fp"))
      .select(col("fp"), col(idCol).as("id_a"))
    val b = fps.select(col("fp"), col(idCol).as("id_b"))
    // SHUFFLE_HASH: sort-merge would sort the full fingerprint mass
    // on both sides; hashing the frequency-capped side streams the
    // raw side unsorted (same move as Graph.triangles' wedge joins)
    a.hint("SHUFFLE_HASH").join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
