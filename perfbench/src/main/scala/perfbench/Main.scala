package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark op runner. Runs one workload in a closed loop with a single
  * client thread — each op starts when the previous one ends — and writes
  * one JSON report with every op's timing, check results and (when
  * tracing) its spans and Spark counters. `perfbench/run.py` generates
  * the inputs, launches this, checks the outputs and prints the metrics.
  *
  *   Main --workload W --data DIR --out DIR --seconds S --trace 0|1
  *        --report FILE --local-dir DIR
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(args("workload"))
    val data = args("data")
    val out = args("out")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args("local-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()

    val memory = java.lang.management.ManagementFactory.getMemoryMXBean
    // a full GC between ops: no op pays for the garbage of the one before,
    // and the heap still in use afterwards is read at every op boundary
    def heapAfterGcMb(): Double = {
      System.gc()
      memory.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    val tr = new Tracer
    val probe = new SparkProbe
    val ops = ArrayBuffer[Map[String, Any]]()
    var opId = 0

    def runOp(withTrace: Boolean, dir: String): Map[String, Any] = {
      val id = opId
      opId += 1
      tr.op = id
      tr.enabled = withTrace
      if (withTrace) { probe.reset(); probe.attach(spark) }
      val t0 = Tracer.nowNs()
      val res = scala.util.Try(tr.span("op") { workload.op(spark, data, dir, tr) })
      val t1 = Tracer.nowNs()
      tr.enabled = false
      val sparkCounters =
        if (!withTrace) Map.empty[String, Any]
        else {
          org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext, 30000)
          probe.detach(spark)
          probe.snapshot()
        }
      val checked = res.flatMap(r => scala.util.Try(r.copy(checks = r.checks ++ r.deferred())))
      spark.sharedState.cacheManager.clearCache()
      val heapMb = heapAfterGcMb()
      Map(
        "id" -> id, "traced" -> withTrace, "dir" -> dir,
        "start_ns" -> t0, "end_ns" -> t1,
        "error" -> checked.failed.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}"),
        "outputs" -> checked.map(_.outputs).getOrElse(Nil),
        "checks" -> checked.map(_.checks).getOrElse(Map.empty),
        "counts" -> checked.map(_.counts).getOrElse(Map.empty),
        "heap_after_gc_mb" -> heapMb,
        "spark" -> sparkCounters)
    }

    // untimed warm-up: the first op after launch costs ~3.5x a warm one;
    // the JIT keeps speeding ops up for a few more, which a run has no
    // time to wait for (perfbench/README.md)
    val warm = (0 until 2).map { i =>
      val r = runOp(withTrace = false, s"$out/warm$i")
      (r("end_ns").asInstanceOf[Long] - r("start_ns").asInstanceOf[Long]) / 1e6
    }
    opId = 0

    val firstOpMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // closed loop; a traced run alternates untraced and traced ops so the
    // tracing overhead is measured on the same process and inputs
    while (ops.isEmpty || System.nanoTime() < deadline || (traced && ops.size < 2)) {
      ops += runOp(withTrace = traced && ops.size % 2 == 1, s"$out/op${ops.size}")
    }

    val oracle = workload match {
      case Workloads.CurationMix =>
        graft.SparkEntry.oracleSql.filter { case (k, _) => Workloads.CurationMix.queries.contains(k) }
      case _ => Map.empty[String, String]
    }
    val report = Map(
      "workload" -> workload.name, "cores" -> cores,
      "session_ms" -> sessionMs,
      "first_op_ms" -> firstOpMs,
      "warmup_ms" -> warm,
      "ops" -> ops.toSeq,
      "spans" -> tr.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "oracle_sql" -> oracle)
    Files.writeString(Paths.get(args("report")), Json(report))
    spark.stop()
  }
}

/** Minimal JSON writer for the report (maps, sequences, strings, numbers,
  * booleans and options).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
