package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Diagnostic: candidate-pair / bucket-occupancy statistics for every
  * BUCKETED self-join family at a fixture — the measurement method
  * that caught knnGraph's fixed-plane quadratic in round 10 (a fixed
  * hash space makes candidate mass ∝ n²/buckets; the bucket count
  * must track n). Candidate mass is the stage's row multiplier, so
  * comparing it across ×1/×10/×100 fixtures pins whether a bucketed
  * op scales linearly or quadratically BEFORE a wall-clock run does.
  *
  * Sections (default: all):
  *  - minhash — the banded-LSH candidate pairs behind
  *    dedup_ngram_verified (the original PairStats output)
  *  - winnow  — winnowing fingerprint buckets: post-cap join mass
  *    Σ c·(c−1)/2 over kept fingerprints, flood count at maxFpFreq
  *  - hamming — simhash chunk-piece buckets (chunks=4): occupancy
  *    tail and the Σ c² candidate mass the banded Hamming join pays;
  *    piece-space saturation shows here as max occupancy tracking n
  *  - knn     — the clustered-fixture LSH kNN graph: auto-scaled
  *    plane count, occupied buckets, occupancy tail, probe rows, and
  *    the bucket-join candidate mass (counted WITHOUT materializing
  *    candidates — column pruning keeps vectors out of the count)
  *
  * Usage: runMain graft.tools.PairStats <sfDir> [section...] */
object PairStats {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PairStats <sfDir> [section...]")
    val sections =
      if (args.length > 1) args.tail.toSet
      else Set("minhash", "winnow", "hamming", "knn")
    val spark = graft.core.Session.getOrCreate("graft-pair-stats")
    spark.sparkContext.setLogLevel("ERROR")
    lazy val docs = spark.read.parquet(s"${args(0)}/documents.parquet")

    if (sections("minhash")) {
      val n = docs.count()
      val (pairs, _) = graft.ops.Dedup.minhashCandidateIdPairs(
        docs, "doc_id", "text", shingleK = 5, numHashes = 64,
        bands = 16, maxBucket = 1000, overCap = "drop")
      val nPairs = pairs.count()
      val sh = docs
        .select(graft.ops.Text.normalize(col("text")).as("_t"))
        .select(size(graft.ops.Dedup.shinglesOfNormalized(col("_t"), 5))
          .as("ns"))
        .agg(avg(col("ns")).as("avg"), max(col("ns")).as("mx")).head()
      println(s"[pair-stats] docs=$n candidates=$nPairs " +
        f"avg_shingles=${sh.getDouble(0)}%.0f " +
        s"max_shingles=${sh.get(1)}")
    }

    def bucketReport(tag: String, buckets: DataFrame, cap: Long): Unit = {
      // buckets: one row per (bucket key) with count c
      val r = buckets.agg(
        count(lit(1)).as("nb"),
        max(col("c")).as("mx"),
        expr("percentile_approx(c, 0.99)").as("p99"),
        sum(col("c") * (col("c") - 1) / 2).as("mass"),
        sum(when(col("c") <= cap, col("c") * (col("c") - 1) / 2)
          .otherwise(0.0)).as("kept_mass"),
        sum(when(col("c") > cap, 1).otherwise(0)).as("flooded")).head()
      println(s"[pair-stats] $tag buckets=${r.get(0)} max_occ=${r.get(1)} " +
        s"p99_occ=${r.get(2)} raw_mass=${r.get(3)} " +
        s"post_cap_mass=${r.get(4)} over_cap(${cap})=${r.get(5)}")
    }

    if (sections("graph")) {
      // q_triangles' co-occurrence graph (lineitem parts sharing an
      // order): edge count, oriented-degree wedge mass Σ c·(c−1)/2 —
      // the exact quantity triangles' auto-batcher budgets from, and
      // the wall-clock driver at ×100 (BASELINE: 119.6M edges / 4.1B
      // wedges on the round-11 fixture). A densified regenerated
      // fixture shows up HERE, not in the code: wall tracks
      // wedge+closing mass ~linearly, so compare masses before
      // comparing anchor seconds across testdata generations.
      val li = spark.read.parquet(s"${args(0)}/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"))
      val a = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("pb"))
      val edges = a.join(b.hint("SHUFFLE_HASH"), Seq("l_orderkey"))
        .filter(col("pa") < col("pb"))
        .select(col("pa"), col("pb")).distinct()
      val deg = edges.select(col("pa").as("x"))
        .unionAll(edges.select(col("pb").as("x")))
        .groupBy("x").agg(count(lit(1)).as("d"))
      // oriented wedge mass: orientation sends each edge from its
      // lower-degree endpoint, so per-apex out-degree is bounded by
      // sqrt(2m) — approximate the oriented mass with the exact
      // formula triangles uses (post-orientation out-degrees)
      val stats = deg.agg(count(lit(1)).as("nodes"),
        sum(col("d")).as("deg_sum"),
        max(col("d")).as("deg_max")).head()
      val m = edges.count()
      val oriented = edges.join(
          deg.select(col("x").as("pa"), col("d").as("da")), Seq("pa"))
        .join(deg.select(col("x").as("pb"), col("d").as("db"))
          .hint("SHUFFLE_HASH"), Seq("pb"))
        .select(when(col("da") < col("db") ||
            (col("da") === col("db") && col("pa") < col("pb")),
          col("pa")).otherwise(col("pb")).as("u"))
      val wedges = oriented.groupBy("u").agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * (col("c") - 1) / 2)).head().getDouble(0)
      println(s"[pair-stats] graph edges=$m nodes=${stats.get(0)} " +
        s"deg_max=${stats.get(2)} oriented_wedges=$wedges")
    }

    if (sections("winnow")) {
      val fps = graft.ops.Text.winnow(docs, "doc_id", "text", 5, 4)
        .select(col("doc_id"), col("fp")).distinct()
      bucketReport("winnow(k=5,w=4)",
        fps.groupBy("fp").agg(count(lit(1)).as("c")), cap = 20L)
    }

    if (sections("hamming")) {
      val sig = graft.ops.Dedup.withSimhash(
        docs.select(col("doc_id"), col("text")), "text")
      val chunks = 4
      val bitsPer = 64 / chunks
      val pieces = array((0 until chunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * bitsPer)
            .bitwiseAND(lit((1L << bitsPer) - 1)).as("piece"))
      }: _*)
      val chunked = sig.select(explode(pieces).as("cp"))
        .select(col("cp.chunk").as("chunk"), col("cp.piece").as("piece"))
      bucketReport("simhash(chunks=4)",
        chunked.groupBy("chunk", "piece").agg(count(lit(1)).as("c")),
        cap = 1000L)
    }

    if (sections("knn")) {
      // mirror of queries.Fixtures.clusteredEmb + knnGraph's auto_planes
      val emb = spark.read.parquet(s"${args(0)}/embeddings.parquet")
      val n = emb.count() * 8
      val corpus = graft.ops.SyntheticEmbeddings.mixtureOfGaussians(
        spark, n = n, k = math.toIntExact(n / 64).max(32), sigma = 0.03)
      val planes =
        if (n < 65536) 12
        else math.min(math.max(12,
          math.ceil(math.log(n / 4.0) / math.log(2.0)).toInt), 24)
      val sig = graft.ops.Similarity.withNormalized(
          corpus.select(col("vec_id"), col("embedding").as("_e")), "_e", "v")
        .select(col("vec_id"),
          graft.ops.Similarity.hyperplaneSignature(col("v"), planes)
            .as("bucket"))
      bucketReport(s"knn_lsh(planes=$planes,n=$n)",
        sig.groupBy("bucket").agg(count(lit(1)).as("c")), cap = 1000L)
      // probe fan-out and the bucket-join candidate mass the int8
      // scan pays (counted, never materialized)
      val masks = graft.ops.Similarity.probeMasks(planes, 2)
      val probes = sig.select(col("vec_id").as("query_id"),
        explode(array(masks.map(lit): _*)).as("m"),
        col("bucket").as("_sig"))
        .select(col("query_id"), col("_sig").bitwiseXOR(col("m")).as("bucket"))
      val occ = sig.groupBy("bucket").agg(count(lit(1)).as("c"))
      // SHUFFLE_HASH: the probe side descends from spark.range, whose
      // size ESTIMATE stays range-sized (~8 B/row) through the explode
      // — at ×100 the planner auto-broadcast the 305M-row probe side
      // (a 1 GB driver collect) off that estimate. The measurement
      // join must never collect either side.
      val cand = probes.join(occ.hint("SHUFFLE_HASH"), Seq("bucket"))
        .agg(sum(col("c")).as("candidates"),
          count(lit(1)).as("occupied_probe_hits")).head()
      println(s"[pair-stats] knn probes=${masks.size}/query " +
        s"probe_rows=${n * masks.size} " +
        s"occupied_hits=${cand.get(1)} candidates=${cand.get(0)}")
    }
    spark.stop()
  }
}
