package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all suites (sbt forks one test JVM): the
  * library's own `GraftSession.build`, sized to 4 cores. UI off, UTC and
  * the warehouse dir come from build.sbt's `-Dspark.*` javaOptions. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.build("local[4]", 4, "graft-tests")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfDir = "/root/testdata/sf0.001"
  def tables: Tables = Tables(spark, sfDir)
}
