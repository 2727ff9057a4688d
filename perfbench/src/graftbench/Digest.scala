package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Order-independent content digest of a table: the row count, a sum
  * of per-row xxhash64 values over every non-floating column (column
  * order ignored), and a plain sum per floating column. Floating sums
  * depend on summation order in their last bits, so run.py compares
  * them with a relative tolerance instead of folding them into the
  * hash. */
final case class Digest(rows: Long, hash: Long, floats: Map[String, Double]) {
  def toJson: String = {
    val fs = floats.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"rows":$rows,"hash":$hash,"floats":{$fs}}"""
  }
}

object Digest {
  def of(df: DataFrame): Digest = {
    val fields = df.schema.fields.sortBy(_.name)
    val isFloat = fields.map(f => f.dataType == DoubleType || f.dataType == FloatType)
    val exact = fields.zip(isFloat).collect { case (f, false) => col(f.name) }
    val floating = fields.zip(isFloat).collect { case (f, true) => f.name }
    val h =
      if (exact.isEmpty) lit(0L)
      else xxhash64(exact.toIndexedSeq: _*).bitwiseAND(lit(0xffffffffL))
    val aggs = Seq(count(lit(1)).as("n"), coalesce(sum(h), lit(0L)).as("h")) ++
      floating.map(n => coalesce(sum(col(n).cast("double")), lit(0.0)).as(n))
    val r: Row = df.agg(aggs.head, aggs.tail: _*).head()
    Digest(r.getLong(0), r.getLong(1),
      floating.zipWithIndex.map { case (n, i) => n -> r.getDouble(2 + i) }.toMap)
  }

}
