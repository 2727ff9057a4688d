package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

/** Offline tuning: measured kmeans SemDeDup recall vs the global
  * droppable set on the embeddings of each fixture directory given,
  * across nClusters — sets the dedup_semantic_recall gate floor. Never
  * runs in a pipeline.
  * Usage: runMain graft.tools.TuneSemDeDup <sfDir> [sfDir...] */
object TuneSemDeDup {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TuneSemDeDup <sfDir> [sfDir...]")
    val spark = graft.core.Session.getOrCreate("tune-semdedup", cores = 8)
    for (sfDir <- args) {
      val sf = java.nio.file.Paths.get(sfDir).getFileName
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val norm = Similarity.withNormalized(e, "embedding", "v")
        .select(col("vec_id"), col("v"))
      val a = norm.select(col("vec_id").as("id_a"), col("v").as("v_a"))
      val b = norm.select(col("vec_id").as("id_b"), col("v").as("v_b"))
      val droppable = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .filter(Similarity.dot(col("v_a"), col("v_b")) >= 0.4)
        .select(col("id_b").as("vec_id")).distinct()
        .collect().map(_.getLong(0)).toSet
      for (k <- Seq(4, 8, 16); na <- Seq(1, 2, 3)) {
        val survivors = Dedup.semDeDup(e, "vec_id", "embedding",
          threshold = 0.4, nClusters = k, assign = "kmeans", nAssign = na)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val allIds = e.select("vec_id").collect().map(_.getLong(0)).toSet
        val dropped = allIds -- survivors
        val sound = dropped.subsetOf(droppable)
        val recall =
          if (droppable.isEmpty) 1.0
          else dropped.count(droppable).toDouble / droppable.size
        println(f"$sf k=$k%-3d na=$na droppable=${droppable.size}%-5d " +
          f"dropped=${dropped.size}%-5d sound=$sound recall=$recall%.3f")
      }
    }
    spark.stop()
  }
}
