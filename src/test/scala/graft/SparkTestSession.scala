package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (parallelExecution=false). */
object SparkTestSession {
  val sf0001 = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = Tables.session(4, sf0001)
}
