package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

/** Lying-estimate broadcast audit: every self-join operator is fed a
  * RANGE-ROOTED corpus (whose Catalyst size estimate stays rows×8 B
  * through every projection — no shuffle boundary below the joins, so
  * AQE never corrects it) and the INITIAL physical plan is scanned
  * for BroadcastExchange nodes. A corpus-derived broadcast under a
  * lying estimate is the scale cliff the round-12 knnGraph fix
  * removed (8 GB driver OOM at ×10, doubled ×100 wall); this tool
  * reports which other operators plan one. Bounded model tables
  * (vocab, centroids) ship as closure broadcasts, not plan-level
  * BroadcastExchange, so any hit here is a join-side broadcast.
  * Usage: runMain graft.tools.AuditBroadcast */
object AuditBroadcast {
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p.children ++ (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _ => Seq.empty
    }) ++ p.subqueries
    p +: kids.flatMap(flatten)
  }

  private def report(name: String, df: => DataFrame): Unit = {
    try {
      val bads = flatten(df.queryExecution.executedPlan).collect {
        case b: BroadcastExchangeExec =>
          // a Range leaf under the broadcast subtree means the build
          // side DERIVES from the lying-estimate corpus; whether that
          // is a defect still needs adjudication (an aggregate over a
          // bounded key space — vocab, buckets, picked-k — is a fine
          // broadcast even though its subtree scans the corpus), but
          // a no-aggregate corpus-derived broadcast is the round-12
          // cliff. Leaf-free broadcasts (literal/local tables) are
          // always fine.
          val cols = b.output.map(a => s"${a.name}:${a.dataType.simpleString}")
            .mkString(",")
          val aggs = flatten(b).count(
            _.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec])
          // THE decisive bit: a ShuffleExchange below the broadcast
          // means AQE re-plans the join from that stage's MEASURED
          // size at runtime (the production entry points all enable
          // AQE), so a lying static estimate self-corrects; zero
          // exchanges below means the broadcast executes before any
          // measurement exists — the round-12 cliff class. Pins are
          // owed to exchangesBelow=0 sides that are ALWAYS
          // corpus-derived (self-ops); two-table ops with honest
          // parquet inputs are documented instead.
          val exchanges = flatten(b).count(
            _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
          val hasRange = flatten(b).exists(
            _.isInstanceOf[org.apache.spark.sql.execution.RangeExec])
          s"[$cols] corpusDerived=$hasRange aggsBelow=$aggs " +
            s"exchangesBelow=$exchanges"
      }
      if (bads.isEmpty) println(s"[audit] $name OK (no BroadcastExchange)")
      else {
        println(s"[audit] $name BROADCASTS ${bads.size}:")
        bads.foreach(c => println(s"[audit]    $c"))
        // GRAFT_AUDIT_VERBOSE=1: dump each broadcast subtree for
        // adjudication (is the exchange the counter sees/misses real?)
        if (sys.env.get("GRAFT_AUDIT_VERBOSE").contains("1"))
          flatten(df.queryExecution.executedPlan).collect {
            case b: BroadcastExchangeExec =>
              println(s"[audit-tree] $name:\n${b.treeString}")
          }
      }
    } catch {
      case e: Throwable =>
        println(s"[audit] $name ERROR ${e.getMessage.take(120)}")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.getOrCreate("graft-audit-broadcast", cores = 8)
    spark.sparkContext.setLogLevel("ERROR")

    // range-rooted corpora: the text repeats id-derived words so the
    // dedup ops have real shingles to chew on
    val docs = spark.range(0, 512).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(j =>
        concat(lit("w"), ((col("id") * 7 + j) % 97))): _*).as("text"))
    val emb = spark.range(0, 512).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        j => sin(col("id") * 16 + j)).as("embedding"))
    val edges = spark.range(0, 2048).select(
      (col("id") % 97).as("src"), ((col("id") * 31 + 5) % 97).as("dst"))

    import graft.ops._
    report("minhashCandidatePairs",
      Dedup.minhashCandidatePairs(docs, "doc_id", "text"))
    report("minhashCandidatePairs(star)",
      Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        maxBucket = 4, overCap = "star"))
    report("ngramJaccardVerified",
      Dedup.ngramJaccardVerified(docs, "doc_id", "text", threshold = 0.8))
    report("simhashPairs (hammingPairs)",
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3))
    report("winnowCandidatePairs",
      Dedup.winnowCandidatePairs(docs, "doc_id", "text"))
    report("embeddingCosinePairs",
      Dedup.embeddingCosinePairs(emb, "vec_id", "embedding",
        threshold = 0.3, planes = 4, probeBits = 1))
    report("knnGraph(lsh)",
      Similarity.knnGraph(emb, "vec_id", "embedding", k = 3,
        method = "lsh"))
    report("Graph.pagerank",
      Graph.pagerank(edges, "src", "dst", iterations = 2))
    report("Graph.triangles",
      Graph.triangles(edges, "src", "dst"))

    // ---- wave 2 (round 13): every remaining join-bearing op, fed
    // range-rooted sides on BOTH ends where both can be corpus-scale
    // at 100 TB (events, two text corpora, batch+reference). Findings
    // adjudicated in PLANS.md; the skinny-vs-payload pin rule from
    // round 12 applies to anything confirmed.
    val events = spark.range(0, 4096).select(
      col("id").as("event_id"), (col("id") % 257).as("user_id"),
      (col("id") * 1000000007L % 86400000000000L).as("ts"),
      concat(lit("t"), col("id") % 5).as("event_type"),
      (col("id") % 100).cast("double").as("amount"))
    val docs2 = spark.range(0, 512).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(j =>
        concat(lit("v"), ((col("id") * 11 + j) % 89))): _*).as("text"))
    val pairs = spark.range(0, 256).select(
      (col("id") * 2).as("id_a"), (col("id") * 2 + 1).as("id_b"))

    report("FuzzyJoin.fuzzyMatch",
      FuzzyJoin.fuzzyMatch(docs, docs2, "doc_id", "text",
        "doc_id", "text", maxDistance = 2))
    report("FuzzyJoin.selfFuzzyPairs",
      FuzzyJoin.selfFuzzyPairs(docs, "doc_id", "text", maxDistance = 2))
    report("AsOfJoin.asOf",
      AsOfJoin.asOf(events, events.select(col("user_id"), col("ts"),
          col("amount").as("r_amount")),
        Seq("user_id"), "ts", "ts"))
    report("RangeJoin.within",
      RangeJoin.within(events, events.select(col("user_id"),
          col("ts").as("ts2"), col("amount").as("r_amount")),
        Seq("user_id"), "ts", "ts2", tolerance = 1000000000L))
    report("IntervalJoin (BETWEEN rewrite)", {
      val iv = spark.range(0, 512).select(col("id").as("iv_id"),
        (col("id") * 100).as("lo"), (col("id") * 100 + 149).as("hi"))
      val pts = spark.range(0, 4096).select(col("id").as("p_id"),
        (col("id") * 13 % 51200).as("v"))
      pts.join(iv, col("v").between(col("lo"), col("hi"))) })
    report("IncrementalDedup.cleaned",
      IncrementalDedup.cleaned(docs, docs2, "doc_id"))
    report("IncrementalDedup.nearDupCleaned",
      IncrementalDedup.nearDupCleaned(docs, docs2, "doc_id", "text"))
    report("Contamination.ngramOverlap",
      Contamination.ngramOverlap(docs, "doc_id", "text",
        docs2, "doc_id", "text", n = 4))
    report("Contamination.removeContaminated",
      Contamination.removeContaminated(docs, "doc_id", "text",
        docs2, "doc_id", "text", n = 4))
    report("Funnel.depth",
      Funnel.depth(events, "user_id", "ts", "event_type",
        Seq("t0", "t1", "t2")))
    report("Cohorts.retention",
      Cohorts.retention(events, "user_id", "ts", periodSeconds = 3600))
    report("Tfidf.topTerms",
      Tfidf.topTerms(docs, "doc_id", "text", k = 3))
    report("Bm25.topK",
      Bm25.topK(docs, "doc_id", "text", Seq(("q1", "w1 w2 w3")), k = 5))
    report("LmScore.scoreDocs",
      LmScore.scoreDocs(docs, "doc_id", "text"))
    report("NaiveBayes.trainPredict",
      NaiveBayes.trainPredict(
        docs.withColumn("label", (col("doc_id") % 2).cast("string")),
        docs2, "doc_id", "text", "label"))
    report("Sampling.leakageSafeSplit",
      Sampling.leakageSafeSplit(docs, "doc_id", pairs,
        Seq(("train", 0.8), ("test", 0.2))))
    report("Sampling.leakageSafeSplitByFingerprint",
      Sampling.leakageSafeSplitByFingerprint(docs, "doc_id", "text",
        Seq(("train", 0.8), ("test", 0.2))))
    report("Dedup.clusterPairs (components)",
      Dedup.clusterPairs(docs.select(col("doc_id")), "doc_id", pairs))
    report("Dedup.byMinhashClustered",
      Dedup.byMinhashClustered(docs, "doc_id", "text"))
    report("Dedup.semDeDup",
      Dedup.semDeDup(emb, "vec_id", "embedding", threshold = 0.9,
        nClusters = 4))
    report("DupSpans.spanStats",
      DupSpans.spanStats(docs, "doc_id", "text", k = 4))
    report("DupSpans.removeDuplicatedSpans",
      DupSpans.removeDuplicatedSpans(docs, "doc_id", "text", k = 4))
    report("Skew.saltedJoin",
      Skew.saltedJoin(events, events.groupBy("user_id")
          .agg(count(lit(1)).as("n")),
        Seq("user_id"), rowId = "event_id", salts = 4))
    report("Resample.forwardFill",
      Resample.forwardFill(events, "user_id", "ts", "amount", 3600L))
    report("Percentiles.exactInterpolatedBySelection",
      Percentiles.exactInterpolatedBySelection(events,
        Seq("event_type"), "amount", Seq(("p50", 0.5), ("p90", 0.9))))
    spark.stop()
  }
}
