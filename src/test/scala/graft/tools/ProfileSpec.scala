package graft.tools

import scala.collection.mutable

import graft.SparkTestSession.{sf, spark}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite {

  test("Profile.run records jobs, a wall time and the write's final " +
    "adaptive plan without a collect") {
    val actions = mutable.Buffer[String]()
    val seen = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = actions.synchronized(actions += funcName)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = actions.synchronized(actions += funcName)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-profile")
    spark.listenerManager.register(seen)
    val r =
      try Profile.run(spark, "q1_pricing_summary", sf, reps = 1, planDir = dir)
      finally {
        org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext, 10000)
        spark.listenerManager.unregister(seen)
      }
    assert(r.reps.size == 1)
    val rep = r.best
    assert(rep.jobs.nonEmpty, "no job recorded")
    assert(rep.wallS > 0)
    assert(rep.finalPlan.contains("isFinalPlan=true"), rep.finalPlan)
    assert(actions.nonEmpty && !actions.contains("collect"), actions)
    val dump = java.nio.file.Files.readString(dir.resolve("q1_pricing_summary.txt"))
    assert(dump.contains("== Physical Plan ==") && dump.contains("isFinalPlan=true"))
  }
}
