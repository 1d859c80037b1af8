package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session configuration every entry point and suite
  * shares: a conf that drifts here drifts for the gate, the bench and
  * the tools at once.
  */
class SessionSpec extends AnyFunSuite {

  test("Session.local pins partitions = cpus, UTC, nanosAsLong, " +
    "TIMESTAMP_MICROS and AQE on") {
    val spark = Session.local(4)
    assert(spark eq SparkTestSession.spark)
    assert(spark.sparkContext.master == "local[4]")
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
  }
}
