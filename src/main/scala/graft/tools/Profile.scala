package graft.tools

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import graft.metrics.{StageMetricsListener, StageSpan}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The probe for registered queries. For each named query it writes the
  * formatted plan to plans/profile/<q>.txt, times `reps` noop-sink
  * materializations (Bench's methodology: same session, same warm-up,
  * min over reps, cacheManager cleared between reps), each under a fresh
  * [[graft.metrics.StageMetricsListener]], and prints
  *  - one row per query: min and all rep walls, jobs, stages, shuffle
  *    read/write and spill;
  *  - the fastest rep's jobs: each job's span, its gap to the previous
  *    job and its stage names, which shows where the driver idles
  *    between serial AQE jobs;
  *  - the post-execution adaptive plan's reuse, broadcast and
  *    shuffle-stage counts, where AQE's runtime stage reuse is visible
  *    (the pre-execution dump cannot show it).
  *
  *   sbt 'runMain graft.tools.Profile <q1,q2,...> [sfDir] [reps]'
  */
object Profile {

  final case class Job(id: Int, spanMs: Long, gapMs: Long, stages: Int,
      stageNames: Seq[String])

  final case class Rep(wallS: Double, jobs: Seq[Job], stages: Int,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      finalPlan: String)

  final case class Record(query: String, reps: Seq[Rep]) {
    def best: Rep = reps.minBy(_.wallS)
  }

  /** Jobs in id order, each with its wall span and the gap since the
    * previous job ended.
    */
  private def jobTable(spans: Seq[StageSpan]): Seq[Job] = {
    var prevEnd = 0L
    spans.groupBy(_.jobId).toSeq.sortBy(_._1).map { case (id, ss) =>
      val start = ss.map(_.startMs).min
      val end = ss.map(_.endMs).max
      val gap = if (prevEnd == 0) 0L else start - prevEnd
      prevEnd = math.max(prevEnd, end)
      Job(id, end - start, gap, ss.size, ss.map(_.name).distinct)
    }
  }

  /** Captures the executed plan of the last V2 write run while attached —
    * the noop sink's own QueryExecution, whose adaptive plan has settled
    * (`isFinalPlan=true`). The DataFrame's own `queryExecution` is never
    * executed by a write, so reading it would need a second, driver-side
    * `collect()`.
    */
  private final class WritePlan extends QueryExecutionListener {
    @volatile var plan: String = ""
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      if (qe.executedPlan.isInstanceOf[V2TableWriteExec])
        plan = qe.executedPlan.toString
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private def timedRep(spark: SparkSession, df: => DataFrame): Rep = {
    val l = new StageMetricsListener
    val w = new WritePlan
    spark.listenerManager.register(w)
    val t0 = System.nanoTime()
    // the listener's collect drains the bus, so the write's event has landed
    try l.collect(spark)(graft.Bench.materialize(df))
    finally spark.listenerManager.unregister(w)
    val wallS = (System.nanoTime() - t0) / 1e9
    spark.sharedState.cacheManager.clearCache()
    Rep(wallS, jobTable(l.spans), l.spans.size, l.shuffleReadBytes,
      l.shuffleWriteBytes, l.spillBytes, w.plan)
  }

  /** Profiles one query: one untimed rep, then `reps` timed ones.
    * `planDir/<query>.txt` gets the formatted plan and the fastest rep's
    * final adaptive plan.
    */
  def run(spark: SparkSession, query: String, sfDir: String, reps: Int,
      planDir: Path): Record = {
    val fn = graft.SparkEntry.queries(query)
    spark.sparkContext.setJobDescription(s"profile:$query")
    val planFile = planDir.resolve(s"$query.txt")
    Files.createDirectories(planDir)
    Files.writeString(planFile,
      fn(spark, sfDir).queryExecution.explainString(FormattedMode))
    graft.Bench.materialize(fn(spark, sfDir))
    spark.sharedState.cacheManager.clearCache()
    val r = Record(query, (1 to reps).map(_ => timedRep(spark, fn(spark, sfDir))))
    Files.writeString(planFile, "\n== Final adaptive plan (fastest rep) ==\n" +
      r.best.finalPlan, StandardOpenOption.APPEND)
    r
  }

  private def printJobs(r: Record): Unit = {
    val b = r.best
    println(f"== ${r.query}: fastest rep ${b.wallS}%.3f s, " +
      s"${b.jobs.size} jobs, ${b.stages} stages")
    b.jobs.foreach { j =>
      println(f"job ${j.id}%4d  ${j.spanMs}%6d ms  gap ${j.gapMs}%5d ms  " +
        f"[${j.stages}%2d st]  ${j.stageNames.mkString(" | ")}")
    }
    def count(re: String): Int = re.r.findAllIn(b.finalPlan).size
    println(s"final plan: reuse_nodes=${count("ReusedQueryStage|ReusedExchange")} " +
      s"broadcast_nodes=${count("BroadcastQueryStage|BroadcastExchange")} " +
      s"shuffle_stages=${count("ShuffleQueryStage")}")
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse(
      sys.error("usage: Profile <q1,q2,...> [sfDir] [reps]"))
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = args.lift(2).fold(3)(_.toInt)
    val spark = graft.Session.local()
    graft.Bench.warmUp(spark, sfDir)
    val known = graft.SparkEntry.queries.keySet
    val records = names.flatMap { n =>
      if (!known(n)) { System.err.println(s"[profile] unknown query: $n"); None }
      else try {
        val r = run(spark, n, sfDir, reps, Paths.get("plans/profile"))
        printJobs(r)
        Some(r)
      } catch { case e: Exception =>
        System.err.println(s"[profile] $n failed: ${e.getMessage}")
        spark.sharedState.cacheManager.clearCache()
        None
      }
    }
    println("%-28s %8s %6s %7s %10s %10s %9s  all reps"
      .format("query", "min_s", "jobs", "stages", "shufR_MB", "shufW_MB", "spill_MB"))
    records.foreach { r =>
      val b = r.best
      println(f"${r.query}%-28s ${b.wallS}%8.3f ${b.jobs.size}%6d ${b.stages}%7d " +
        f"${b.shuffleReadBytes / 1e6}%10.2f ${b.shuffleWriteBytes / 1e6}%10.2f " +
        f"${b.spillBytes / 1e6}%9.2f  " + r.reps.map(x => f"${x.wallS}%.3f").mkString(","))
    }
    println(f"TOTAL min: ${records.map(_.best.wallS).sum}%.3f s over ${records.size} queries")
    spark.stop()
  }
}
