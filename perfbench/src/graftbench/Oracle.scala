package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Expected sink contents of the `etl` and `stream` workloads,
  * computed with plain Spark DataFrame code (no graft plugin) from the
  * generated inputs, and written to `truth/oracle.json` as
  * `"<config>:<output_path>" -> digest`. The pipelines they mirror are
  * the configs under perfbench/configs/etl and perfbench/configs/stream. */
object Oracle {
  private def read(spark: SparkSession, out: Path, name: String): DataFrame =
    spark.read.parquet(out.resolve("data").resolve(name).toString)

  private def save(out: Path, digests: Seq[(String, Digest)]): Unit = {
    Files.createDirectories(out.resolve("truth"))
    Files.writeString(out.resolve("truth").resolve("oracle.json"),
      digests.map { case (k, d) => s"${Json.str(k)}:${d.toJson}" }.mkString("{", ",", "}"))
  }

  def etl(spark: SparkSession, out: Path): Unit = {
    val enriched = read(spark, out, "lineitem")
      .withColumnRenamed("l_orderkey", "o_orderkey")
      .join(read(spark, out, "orders"), Seq("o_orderkey"))
      .withColumnRenamed("o_custkey", "c_custkey")
      .join(read(spark, out, "customer.parquet"), Seq("c_custkey"))
      .withColumn("revenue",
        col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
    val rollup = enriched
      .withColumn("ship_year", year(col("l_shipdate")))
      .groupBy("c_mktsegment", "o_orderpriority", "l_returnflag", "ship_year")
      .agg(sum("revenue").as("revenue"), sum("l_quantity").as("quantity"),
        count(lit(1)).as("n_lines"), avg("l_discount").as("avg_discount"))
    val r = Digest.of(rollup)
    save(out, Seq(
      "etl_enrich:out/enriched" -> Digest.of(enriched),
      "etl_rollup:out/rollup.parquet" -> r,
      "etl_rollup:out/rollup_orc" -> r))
  }

  def stream(spark: SparkSession, out: Path): Unit = {
    val events = read(spark, out, "landing")
      .filter(col("value") > 20)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .dropDuplicates("event_id")
    save(out, Seq("stream_dedup:out/events" -> Digest.of(events)))
  }
}
