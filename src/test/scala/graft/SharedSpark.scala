package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM (suites share it;
  * per-suite sessions would pay ~8 s startup each). Built by the one
  * session factory, on 4 cores with 4 shuffle partitions. */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.Session.getOrCreate("graft-test", cores = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
