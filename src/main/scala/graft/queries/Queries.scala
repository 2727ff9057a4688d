package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the driver contract: its Spark plan next to its DuckDB
  * oracle, and the bench lanes that time it.
  *
  * @param plan the query over the fixture tables in a directory
  * @param oracleSql DuckDB SQL with the plan's column names and ORDER
  *   BY, written with the `r(x, p)` rounding macro
  *   ([[graft.SparkEntry.expandR]]). None for a bench-only plan: raw
  *   approximate top-k output has no hash oracle, so its quality is
  *   gated by the oracled recall queries and the ScalaTest floors.
  * @param headline timed in Bench's batch lane
  * @param stream timed in Bench's streaming lane, whose rows/s counts
  *   the rows of the landing's table copies
  * @param benchPlan what the bench lanes time under this name instead
  *   of `plan`, when the oracled plan adds gates the bench should not
  *   pay for */
final case class Query(name: String, plan: Query.Plan,
                       oracleSql: Option[String] = None,
                       headline: Boolean = false,
                       stream: Option[Landing] = None,
                       benchPlan: Option[Query.Plan] = None) {
  /** The plan Bench, Explain and TimeQuery run under this name. */
  def timedPlan: Query.Plan = benchPlan.getOrElse(plan)
}

object Query {
  /** (session, fixture directory) => result. */
  type Plan = (SparkSession, String) => DataFrame
}

/** A stream query's input: `copies` copies of the fixture `table`. */
final case class Landing(table: String, copies: Int = 1)

/** The one query inventory, one file per operator family. */
object Queries {
  val all: Seq[Query] = ScanQueries.all ++ JoinQueries.all ++
    AggregateQueries.all ++ TextQueries.all ++ TokenQueries.all ++
    DedupQueries.all ++ SimilarityQueries.all ++ GraphQueries.all ++
    StreamQueries.all ++ MultimodalQueries.all ++ PipelineQueries.all

  val byName: Map[String, Query] = all.map(q => q.name -> q).toMap
}
