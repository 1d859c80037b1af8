package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one session per suite;
  * sbt forks a single test JVM, so share across suites too).
  */
object SparkTestSession {
  lazy val spark: SparkSession = Session.local(4)
  val sf: String = "/root/testdata/sf0.001"
}
