package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Recall@k measurement harness for the ANN operators — grid over
  * IVF (nlist, nprobe) and LSH (planes, probe depth) against
  * brute-force ground truth on the embeddings of each fixture
  * directory given. Prints per-config mean recall and the per-query
  * minimum hits so oracle-exactness (recall == 1.0 on every query) is
  * visible.
  * Usage: runMain graft.tools.TuneAnn <sfDir> [sfDir...]
  */
object TuneAnn {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TuneAnn <sfDir> [sfDir...]")
    val spark = graft.core.Session.getOrCreate("graft-tune-ann", cores = 8)
    spark.sparkContext.setLogLevel("ERROR")

    val k = 5
    for (sfDir <- args) {
      val sf = java.nio.file.Paths.get(sfDir).getFileName
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 10)
      def pairs(df: DataFrame): Set[(Long, Long)] =
        df.select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = pairs(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k))
      def report(tag: String, got: Set[(Long, Long)]): Unit = {
        val hits = brute & got
        val perQ = brute.groupBy(_._1).map { case (qid, s) =>
          (s & got).size
        }
        println(f"$sf $tag recall=${hits.size.toDouble / brute.size}%.3f " +
          f"minHitsPerQuery=${perQ.min} candidates=${got.size}")
      }
      for (nlist <- Seq(8); nprobe <- Seq(5, 6, 7) if nprobe <= nlist) {
        val got = pairs(Similarity.ivfTopK(e, q, "vec_id", "embedding", k,
          nlist = nlist, nprobe = nprobe))
        report(s"IVF nlist=$nlist nprobe=$nprobe", got)
      }
      for ((planes, pb) <- Seq((3, 2), (4, 2), (4, 3), (5, 3), (6, 4))) {
        val got = pairs(Similarity.lshTopK(e, q, "vec_id", "embedding", k,
          planes = planes, probeBits = pb))
        report(s"LSH planes=$planes probeBits=$pb", got)
      }
      for ((nlist, nprobe) <- Seq((8, 7), (16, 6), (16, 8), (32, 12))) {
        val got = pairs(Similarity.ivfPqTopK(e, q, "vec_id", "embedding", k,
          nlist = nlist, nprobe = nprobe))
        report(s"IVFPQ nlist=$nlist nprobe=$nprobe", got)
      }
    }
    spark.stop()
  }
}
