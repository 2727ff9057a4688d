package graft.tools

import graft.queries.Queries

/** Print formatted physical plans for selected queries (plan-quality
  * review: pushdown, pruning, broadcast, partial agg, codegen spans).
  * Usage: runMain graft.tools.Explain [sfDir] [query ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_filter", "q_groupby_agg", "q_join", "q_join_broadcast",
        "q_semi_join", "q_sort", "dedup_minhash_pairs", "sim_topk_brute")
    val spark = graft.core.Session.getOrCreate("graft-explain")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      Queries.byName(n).timedPlan(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
