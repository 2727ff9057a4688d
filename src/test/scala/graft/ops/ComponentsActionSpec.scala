package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The actions [[Dedup.clusterPairs]] runs: one star-forest test on
  * the input edges and one per contraction round, each the action
  * that materializes that edge set's lazy checkpoint, and nothing to
  * confirm termination. */
class ComponentsActionSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  /** Names of the Dataset actions that complete while `f` runs. */
  private def actionsDuring[T](f: => T): (T, Seq[String]) = {
    val names = new ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = names.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit =
        names.add(s"failed $funcName")
    }
    ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = f
      ListenerBus.drain(spark.sparkContext)
      (out, names.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** One large-star/small-star round over an oriented (hi, lo) edge
    * set, computed on the driver as the reference. */
  private def contract(e: Set[(Long, Long)]): Set[(Long, Long)] = {
    val adj = (e ++ e.map(_.swap)).groupMap(_._1)(_._2)
    val large = adj.toSeq.flatMap { case (u, vs) =>
      val m = (vs + u).min
      vs.filter(_ > u).map(_ -> m)
    }.toSet
    large.groupMap(_._1)(_._2).toSeq.flatMap { case (u, los) =>
      val m = los.min
      (los + u - m).map(_ -> m)
    }.toSet
  }

  private def isStarForest(e: Set[(Long, Long)]): Boolean = {
    val his = e.toSeq.map(_._1)
    his.distinct.size == his.size && !e.exists(x => his.contains(x._2))
  }

  /** Contraction rounds the reference needs to reach a star forest. */
  private def roundsToStarForest(pairs: Seq[(Long, Long)]): Int =
    Iterator.iterate(pairs.map { case (a, b) =>
        (math.max(a, b), math.min(a, b)) }.filter(x => x._1 != x._2).toSet)(
        contract)
      .indexWhere(isStarForest)

  /** Each star test is a lazy checkpoint (it runs only the stages
    * below it) followed by the `count` that materializes it. */
  private def starTests(n: Int): Seq[String] =
    Seq.fill(n)(Seq("localCheckpoint", "count")).flatten

  test("disjoint pairs: one star test, no contraction round") {
    val pairs = (0L until 100L by 2).map(i => (i + 1, i))
    assert(roundsToStarForest(pairs) == 0)
    val (labels, actions) = actionsDuring(
      Dedup.clusterPairs((0L until 100L).toDF("id"), "id",
        pairs.toDF("id_a", "id_b")))
    assert(actions == starTests(1))
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L until 100L).map(i => i -> (i - i % 2)).toMap)
  }

  test("200-node path: one star test per round plus the initial one") {
    val n = 200L
    val pairs = (0L until n - 1).map(i => (i, i + 1))
    val rounds = roundsToStarForest(pairs)
    assert(rounds > 1)
    val (labels, actions) = actionsDuring(
      Dedup.clusterPairs((0L until n).toDF("id"), "id",
        pairs.toDF("id_a", "id_b")))
    assert(actions == starTests(rounds + 1),
      s"expected $rounds rounds, got actions $actions")
    assert(labels.collect().map(_.getLong(1)).toSet == Set(0L))
  }

  test("a zero-row input (as in check) runs no action") {
    val schema = StructType(Seq(StructField("id_a", LongType),
      StructField("id_b", LongType)))
    val none = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), schema)
    val (labels, actions) = actionsDuring(
      Dedup.clusterPairs(none.select($"id_a".as("id")), "id", none))
    assert(actions.isEmpty)
    assert(labels.schema.fieldNames.toSeq == Seq("id", "cluster_id"))
  }
}
