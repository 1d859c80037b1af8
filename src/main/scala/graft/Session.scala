package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration every graft entry point and
  * the test suite share, so the correctness gate, the bench and the
  * tools can never run under confs that differ by accident.
  *
  *  - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`
  *  - UTC session time zone, which the cross-engine oracle compares under
  *  - `parquet.nanosAsLong`, which `Tables.normalizeTs` needs for the
  *    fixture generations whose `events.ts` is TIMESTAMP(NANOS)
  *  - parquet timestamps written as TIMESTAMP_MICROS, not legacy INT96
  *  - no UI, WARN logging
  *
  * AQE is Spark 4's default and is left implicit.
  *
  * WindowExec's "No Partition Defined for Window operation" WARN is
  * silenced: hundreds of identical warning lines in every bench and test
  * tail look like scale-killers and bury real warnings. Suppression
  * rather than partitioning the windows by a constant, because every
  * remaining unpartitioned-window emitter in src/main is a deliberately
  * tiny frame — the ≤`buckets`-row prefix-offset tables in Ordinal
  * (Ordinal.scala), the ≤6-row ranked analysis tables
  * (AnalysisQueries.scala), and the n/16384-row VAD block-stitch frame
  * (MultimodalOps.scala) — where a single partition is the intended
  * shape. A `partitionBy(lit(0))` would be shape-preserving, but Spark
  * 4's `EliminateWindowPartitions` optimizer rule folds constant
  * partition keys away, so the warning returns; a non-foldable dummy key
  * would pollute 160 pinned plans to dodge a log line. This does NOT
  * hide real scale problems: PlanQualitySpec's rails inspect the
  * physical plans themselves and forbid corpus-sized unpartitioned
  * WindowExecs, so the warning carries no signal a rail does not
  * already enforce.
  */
object Session {
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A session on `local[cpus]`; `cpus` defaults to SPARK_GRAFT_CPUS, else
    * every core the JVM sees. Like `getOrCreate`, it returns the running
    * session when there is one.
    */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }
}
