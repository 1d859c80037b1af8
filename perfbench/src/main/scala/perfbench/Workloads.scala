package perfbench

import graft.api.{Flagship, Optimizer}
import graft.compile.Compiler
import graft.metrics.Instrument
import graft.plans.Analysis
import graft.rules.{Rule, RuleRunner, Rules}
import graft.solver.MaxMinThroughputLP
import org.apache.spark.sql.SparkSession

/** What one op leaves behind: the outputs it wrote under its directory,
  * which the harness compares with an independent DuckDB formulation,
  * checks made in the op, `deferred` checks that run after the op's
  * timing ends, and counts for the traced run.
  */
final case class OpResult(outputs: Seq[String], checks: Map[String, Boolean] = Map.empty,
    counts: Map[String, Double] = Map.empty,
    deferred: () => Map[String, Boolean] = () => Map.empty)

/** One benchmark workload; `op` is the timed unit of work, issued in a
  * closed loop by one client.
  */
trait Workload {
  def name: String
  def op(spark: SparkSession, data: String, out: String, tr: Tracer): OpResult
}

object Workloads {
  def byName(n: String): Workload = n match {
    case "plumber_optimize" => PlumberOptimize
    case "curation_mix"     => CurationMix
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private def sink(df: org.apache.spark.sql.DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Plumber's loop on the flagship pipeline: the full optimize call with
    * source calibration, the ranked bottleneck table, then the optimized
    * pipeline compiled and materialized to its sink. The traced form makes
    * the same layer calls, in the same order, as
    * `Optimizer.optimizePipeline` with a default `Config`, so each layer
    * gets its own span.
    */
  object PlumberOptimize extends Workload {
    val name = "plumber_optimize"

    def op(spark: SparkSession, data: String, out: String, tr: Tracer): OpResult = {
      val g0 = Flagship.graph
      val r =
        if (!tr.enabled) Optimizer.optimizePipeline(spark, g0, data, Optimizer.Config())
        else tracedOptimize(spark, data, tr)
      val table = tr.span("plans.ranked_table") { r.rankedTable(spark).collect() }
      val c = tr.span("compile.compile") { Compiler.compile(spark, r.optimized, data) }
      tr.span("spark.sink") { sink(c.df, s"$out/optimized") }
      OpResult(Seq("optimized"),
        checks = Map(
          "theta_sum_le_cores" -> (r.thetas.values.sum <= r.global.cores + 1e-9),
          "ranked_table_nonempty" -> table.nonEmpty),
        counts = Map("rules_applied" -> r.ruleReport.applied.size.toDouble,
          "rules_skipped" -> r.ruleReport.skipped.size.toDouble),
        deferred = () => Map("schema_invariant" ->
          Compiler.schemaInvariant(spark, r.original, r.optimized, data)))
    }

    private def tracedOptimize(spark: SparkSession, data: String,
        tr: Tracer): Optimizer.Result = {
      val g0 = Flagship.graph
      val run = tr.span("metrics.trace") { Instrument.run(spark, g0, data) }
      val cores = run.global.cores
      val ops = run.nodeMetrics.filter(_.elementsProduced > 0).map { m =>
        MaxMinThroughputLP.OpRate(
          id = m.nodeId,
          perCoreRate = Analysis.expectedPerCoreMaxRate(m) match {
            case x if x.isFinite => x
            case _               => 1e12
          },
          thetaMin = 0.0,
          thetaMax = if (m.isParallelizable) cores.toDouble else 1.0,
          existing = m.parallelism.toDouble)
      }
      val bandwidth = scala.util.Try {
        val (points, fit) = tr.span("api.calibrate") {
          Optimizer.calibrateSource(spark, g0, data)
        }
        g0.nodes.find(n => graft.ir.PipelineOp.isSource(n.op)).map { src =>
          MaxMinThroughputLP.Bandwidth.fromFit(src.id, fit,
            xBreak = Some(points(fit.breakIdx)._1.toDouble))
        }
      }.toOption.flatten.filter(bw => bw.m1 > 0 && bw.m2 * 64 + bw.b2 > 0)
      val sol = tr.span("solver.lp") {
        if (ops.nonEmpty) MaxMinThroughputLP.solve(ops, cores.toDouble, None,
          useExistingUsage = false, bandwidth = bandwidth)
        else MaxMinThroughputLP.Solution(Map.empty, 0.0, 0.0)
      }
      val cacheRule: Seq[Rule] = Analysis.cacheCandidate(g0, Map.empty,
        run.global.memoryFreeBytes).map(id => Seq(Rules.InsertCache(id): Rule)).getOrElse(Nil)
      val totalWork = run.nodeMetrics.map(_.processingTimeNs).sum.toDouble
      val roof = Analysis.roofline(totalWork, run.global.wallclockNs.toDouble,
        run.rowCount, minLatencyNs = totalWork / math.max(1, run.rowCount))
      val prefetch: Seq[Rule] =
        if (roof.prefetchDelta > 0) Seq(Rules.InsertPrefetch(roof.prefetchDelta)) else Nil
      val report = tr.span("rules.rewrite") {
        RuleRunner.run(g0, Seq(Rules.RemoveCaches, Rules.ApplyLpThetas(sol.thetas)) ++
          cacheRule ++ prefetch)
      }
      val ok = tr.span("compile.schema_check") {
        Compiler.schemaInvariant(spark, g0, report.graph, data)
      }
      Optimizer.Result(g0, if (ok) report.graph else g0, run.nodeMetrics, run.global,
        sol.thetas, sol.rate,
        Analysis.bottleneck(run.nodeMetrics, run.global).map(_.nodeId), report, roof)
    }
  }

  /** One pass over two registered curation queries; each result is
    * written out for the DuckDB oracle compare. Query-local caches are
    * released after each query, as the correctness gate does.
    */
  object CurationMix extends Workload {
    val name = "curation_mix"
    val queries = Seq("dd08_dedup_clusters", "cu16_equal_mass_export")

    def op(spark: SparkSession, data: String, out: String, tr: Tracer): OpResult = {
      var leftCached = 0
      queries.foreach { q =>
        tr.span(s"operators.$q") { sink(graft.SparkEntry.queries(q)(spark, data), s"$out/$q") }
        leftCached += spark.sparkContext.getPersistentRDDs.size
        spark.sharedState.cacheManager.clearCache()
      }
      OpResult(queries, counts = Map("cached_rdds_after_op" -> leftCached.toDouble))
    }
  }
}
