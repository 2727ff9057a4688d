package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Fixtures, Queries}

/** Driver contract (SURVEY.md §7).
  *
  * Every entry in `queries` is one operator family from SURVEY §2 (or
  * the north-star extension tier), written Spark-first (DataFrame API,
  * codegen'd functions, broadcast hints where a side is dimension-
  * sized). Each SQL-expressible query has a DuckDB oracle in
  * `oracleSql` with IDENTICAL column names and aliases; results carry
  * explicit ORDER BY on both sides so row order is deterministic.
  * Floating aggregates are rounded (2-6 dp) on both sides: double
  * summation order differs between engines, and rounding makes the
  * hash compare robust to last-bit drift.
  *
  * The queries themselves are [[graft.queries.Query]] records, one file
  * per family under `graft.queries`; these maps are views of
  * [[graft.queries.Queries.all]]. */
object SparkEntry {

  /** Opt-in input caching for [[Verify]]; see
    * [[graft.queries.Fixtures.cacheInputs]]. */
  private[graft] def cacheInputs: Boolean = Fixtures.cacheInputs
  private[graft] def cacheInputs_=(on: Boolean): Unit = Fixtures.cacheInputs = on

  /** Expand `r(X, p)` occurrences in oracle SQL into
    * `(floor((X) * 10^p + 0.5) / 10^p)` — the exact same IEEE ops the
    * Spark-side helper emits. */
  private[graft] def expandR(sql: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val atBoundary = i == 0 ||
        (!sql(i - 1).isLetterOrDigit && sql(i - 1) != '_')
      if (atBoundary && sql.startsWith("r(", i)) {
        var depth = 1
        var j = i + 2
        while (depth > 0) {
          if (sql(j) == '(') depth += 1
          else if (sql(j) == ')') depth -= 1
          j += 1
        }
        val inner = sql.substring(i + 2, j - 1)
        var d = 0
        var cut = -1
        for (k <- inner.indices) inner(k) match {
          case '(' => d += 1
          case ')' => d -= 1
          case ',' if d == 0 => cut = k
          case _ =>
        }
        val x = expandR(inner.substring(0, cut).trim)
        val p = inner.substring(cut + 1).trim.toInt
        val f = "1" + ("0" * p)
        sb.append(s"(floor(($x) * $f + 0.5 + 0.000001) / $f)")
        i = j
      } else { sb.append(sql(i)); i += 1 }
    }
    sb.toString
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The
    * composed corpus-cleaning pipeline (language +
    * quality gates, exact dedup, deterministic sample) — the
    * end-to-end shape the engine exists for; 90 rows at sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("pipeline_clean_corpus")(spark, "/root/testdata/sf0.001")

  /** The oracled queries. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.collect { case q if q.oracleSql.isDefined => q.name -> q.plan }.toMap

  /** The bench-only plans, kept under their historical names so
    * BENCH_r{N}.json stays comparable round-over-round; an oracled
    * name appears here when the bench times another plan under it. */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.flatMap(q =>
      if (q.oracleSql.isEmpty) Some(q.name -> q.plan)
      else q.benchPlan.map(q.name -> _)).toMap

  /** DuckDB oracles (same column names/aliases, same ORDER BY). */
  def oracleSql: Map[String, String] =
    Queries.all.flatMap(q => q.oracleSql.map(q.name -> expandR(_))).toMap
}
