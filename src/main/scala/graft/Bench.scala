package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — driver contract: one JSON line
  * {"metric":…,"value":N,"unit":"sec","queries":{…},"sf":…}.
  *
  * The FULL JSON (all queries + medians) is written to bench_out.json
  * (cwd); the PRINTED line is a compact variant capped at 1400 chars
  * (headline q* queries + slowest others, `queries_shown`/`queries_total`
  * counters, `full_results` pointer) so it survives a log-tail capture
  * that keeps only the last ~2000 chars of stdout. Values are rounded to
  * milliseconds.
  *
  * A warm-up pass (table scans + one broadcast-join query) runs before any
  * timing so JIT/codegen/FS-cache costs don't inflate the first query.
  * Query failures are excluded from the total and listed under "failed".
  *
  * Regression flags compare this run against the previous bench_out.json
  * (same sf, same [[methodology]]) after dividing out the box's speed,
  * measured by a fixed [[calibrate]] job in both runs — the way Plumber
  * judges a pipeline against a ceiling it measures on the machine it runs
  * on, not against history. Documented bias: a regression is flagged on
  * the first run after it lands (whose committed bench_out.json carries
  * the flag), not on every later run — the next run's reference already
  * holds the slower time. In exchange, no stale reference from a faster
  * box can flag a clean run.
  */
object Bench {
  /** One timed query: steady-state min, (possibly trimmed) median, base-rep
    * pass/fail, and settle-rep count (>0 ⇒ the median was trimmed to the
    * `reps` fastest samples).
    */
  private case class BenchRow(name: String, min: Double, med: Double,
      ok: Boolean, settle: Int)

  /** Timed reps per query; sub-second queries get one more. */
  private val reps = 2

  /** Fully materialize a query result via the noop sink — the timed
    * action (r16). `.count()` is NOT a valid benchmark action: Catalyst
    * prunes columns the row count does not need, and for window/agg-
    * shaped queries that deletes the very work being timed (measured:
    * op11's count() shuffled 171 BYTES vs the real 1 MiB — the timed
    * plan was a filtered scan-count; sm15's count() lost its three rank
    * exchanges; even q1's count() scanned one column instead of seven
    * because the pruned sums never reached the scan). The noop sink
    * evaluates every output column and discards it — the cost a consumer
    * of the full result actually pays.
    */
  private[graft] def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Untimed warm-up: JIT + codegen + broadcast machinery + FS cache, so
    * those costs don't inflate the first timed query. Guarded throughout —
    * a missing/corrupt fixture must surface as a per-query failure, not
    * kill the run before timing.
    */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    calibrate(spark)
    for (t <- Seq("lineitem", "orders", "customer", "documents", "embeddings"))
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    SparkEntry.all.find(_.name == "q3_top_revenue_orders")
      .foreach(q => try materialize(q.fn(spark, sfDir)) catch { case _: Throwable => () })
  }

  /** Seconds for one rep of the box-speed calibration job: a global
    * `sum(hash(id))` over 2^28 ids in one partition per session core,
    * materialized like every timed query. Spark-only — it reads no graft
    * code and no fixture, so a code change cannot move it — and its single
    * final aggregate does not depend on `spark.sql.shuffle.partitions`.
    * 2^28, not fewer: at 2^24 (~0.15 s on 4 cores) the six reps of one
    * bench run spread 4.3x; at 2^28 (~0.55 s), 1.4-1.7x.
    */
  private[graft] def calibrate(spark: SparkSession): Double = {
    val cpus = spark.sparkContext.defaultParallelism
    val t0 = System.nanoTime()
    materialize(spark.range(0, 1L << 28, 1, cpus).selectExpr("sum(hash(id))"))
    (System.nanoTime() - t0) / 1e9
  }

  /** How much slower this box ran the calibration job than the reference
    * run's box did: every current time is divided by it before any
    * comparison. 1.0 (no normalisation) when either side has no positive
    * calibration, so missing evidence never suppresses a flag.
    */
  private[graft] def boxRatio(calib: Double, priorCalib: Double): Double =
    if (calib > 0 && priorCalib > 0) calib / priorCalib else 1.0

  /** Cross-run references are valid only between runs of the SAME
    * measurement methodology: `noop` (r16) switched the timed action from
    * `.count()` to full noop-sink materialization (see [[materialize]]);
    * `noop-calib` added the [[calibrate]] job whose `calib_s` every
    * comparison normalises by. A bench_out.json without the CURRENT marker
    * contributes NO references — the next run re-seeds, exactly like a
    * first run (an explicit, documented reset, not a silent one).
    */
  private[graft] val methodology = "noop-calib"
  private[graft] def refsCompatible(txt: String): Boolean =
    txt.contains("\"methodology\":\"" + methodology + "\"")

  /** The previous run's plain per-query mins, calibration seconds and
    * flagship rate; empty maps / 0.0 mean "no reference". */
  private[graft] case class Prior(queries: Map[String, Double], calib: Double,
      rate: Double)
  private[graft] val noPrior = Prior(Map.empty, 0.0, 0.0)

  /** Parse the reference out of a committed bench_out.json body. A
    * different sf, a different [[methodology]] or any malformed content
    * degrades to [[noPrior]], never a failure. Numbers may use scientific
    * notation (Doubles >= 1e7 render as "1.9E7"). Regex-free string
    * splitting over our own fixed format.
    */
  private[graft] def parsePrior(txt: String, sfDir: String): Prior =
    try {
      def field(name: String): Double =
        txt.split("\"" + name + "\":", 2) match {
          case Array(_, rest) => scala.util.Try(
            rest.takeWhile(c => c.isDigit || c == '.' || c == 'E' ||
              c == 'e' || c == '+' || c == '-').toDouble).getOrElse(0.0)
          case _ => 0.0
        }
      if (!refsCompatible(txt) || !txt.contains("\"sf\":\"" + sfDir + "\"")) noPrior
      else {
        val queries = txt.split("\"queries\":\\{", 2) match {
          case Array(_, rest) =>
            rest.takeWhile(_ != '}').split(",").iterator.flatMap { kv =>
              kv.split(":") match {
                case Array(k, v) => scala.util.Try(
                  k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toDouble).toOption
                case _ => None
              }
            }.toMap
          case _ => Map.empty[String, Double]
        }
        Prior(queries, field("calib_s"), field("pipeline_elements_per_sec"))
      }
    } catch { case _: Throwable => noPrior }

  /** Inflation threshold for a query with prior reference `ref` seconds
    * (VERDICT r14 #1). The 1.5x ratio alone latched dd22/ss25 as inflated
    * on three consecutive rounds with ZERO code change: sub-2-s LSH/
    * SemDeDup rows carry run-to-run spread (GC pauses, codegen cache
    * evictions across a 237-query sweep) whose ABSOLUTE size (~0.5-1 s)
    * exceeds 50% of their reference — a ratio test cannot separate that
    * noise class from a real regression. Every row therefore gets a flat
    * 0.5 s absolute slack on top of the ratio: threshold = 1.5*ref + 0.5.
    * Flat (not gated on ref < 2 s) so the threshold is MONOTONE in the
    * reference — a step at 2 s would give a SLOWER reference a stricter
    * absolute bar (threshold(1.99) = 3.49 vs threshold(2.01) = 3.02),
    * letting a ref that drifts across the boundary abruptly lose its
    * slack and latch the exact phantom class this rule removes.
    *
    * Documented bias: a real regression must now exceed 1.5x + 0.5 s to
    * be flagged — e.g. a 1.0 s row regressing to 1.9 s passes silently.
    * Acceptable: the unflagged absolute cost is bounded by the slack
    * (0.5 s per row per round, and proportionally negligible for long
    * rows — 7% of a 7 s threshold), while the false-alarm class it
    * removes fired on ~40% of runs.
    */
  private[graft] def inflationThreshold(ref: Double): Double =
    1.5 * ref + 0.5

  /** Per-row regression flag: the row's min, divided by the
    * [[boxRatio]], exceeds [[inflationThreshold]] of its reference.
    * References under 0.1 s are scheduler jitter and never flag.
    */
  private[graft] def inflated(min: Double, ref: Double, ratio: Double): Boolean =
    ref >= 0.1 && min / ratio > inflationThreshold(ref)

  /** Family-level drift guard (VERDICT r15 #2): [[inflationThreshold]]'s
    * flat 0.5 s slack is right per-row but opens an unbounded AGGREGATE
    * window — 30 short rows each drifting +0.4 s is a real ~12 s
    * regression no single row flags. This latches when the short-row
    * family (prior ref in [0.1, 2) s — below 0.1 the ratio is scheduler
    * jitter, at 2+ the per-row ratio test already has teeth) is
    * collectively > 1.3× its reference mass with ≥ 20 such rows (fewer
    * rows can't separate drift from a couple of contended samples).
    * Takes (normalised currentMin, priorRef) pairs; rows outside the
    * family are ignored here, not by the caller.
    */
  private[graft] def familyDrift(rows: Seq[(Double, Double)]): Boolean = {
    val fam = rows.filter { case (_, ref) => ref >= 0.1 && ref < 2.0 }
    fam.size >= 20 && {
      val refSum = fam.map(_._2).sum
      refSum > 0 && fam.map(_._1).sum / refSum > 1.3
    }
  }

  /** Flagship regression flag: a measured rate, scaled up by the
    * [[boxRatio]], still under 1/1.5 of the prior rate. A failed pass or
    * a missing prior is never compared.
    */
  private[graft] def flagshipInflated(rate: Double, prior: Double,
      ratio: Double, failed: Boolean): Boolean =
    !failed && prior > 0 && rate * ratio * 1.5 < prior

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    warmUp(spark, sfDir)
    val calibSamples = scala.collection.mutable.ArrayBuffer.fill(3)(calibrate(spark))

    def round3(v: Double): Double = math.rint(v * 1000) / 1000
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    // The committed previous run on this sf is the reference (parsePrior,
    // pinned by BenchRefSpec); a missing or unreadable file means none.
    val prior = try {
      val p = java.nio.file.Paths.get("bench_out.json")
      if (!java.nio.file.Files.exists(p)) noPrior
      else parsePrior(java.nio.file.Files.readString(p), sfDir)
    } catch { case _: Throwable => noPrior }

    // Flagship pipeline throughput (input elements/sec over one pass) —
    // the images/sec-shaped headline number. Measured FIRST, before the
    // ~200-query sweep churns the heap (r7 showed a ~15% tail penalty
    // landing in the round-over-round comparison), with ONE untimed
    // warmup pass of the flagship itself (JIT spread across cold reps is
    // 3×: 184k→553k el/s) and the MEDIAN of 3 timed reps reported — the
    // estimator robust to one contended rep on a busy driver host.
    // Failure is tracked separately from the rate: a thrown exception
    // sets the flag, while a legitimately computed 0.0 (dt <= 0) does not.
    var flagshipFailed = false
    val flagshipRate =
      try {
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val n = li.count()
        materialize(api.Flagship.run(spark, sfDir)) // untimed warmup rep
        median((1 to 3).map { _ =>
          val df = api.Flagship.run(spark, sfDir)
          val t0 = System.nanoTime()
          materialize(df)
          val dt = (System.nanoTime() - t0) / 1e9
          if (dt > 0) math.rint(n / dt) else 0.0
        })
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] flagship failed: ${e.getMessage}")
          flagshipFailed = true
          0.0
      }

    val results = SparkEntry.all.map { q =>
      def rep(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok =
          try { materialize(q.fn(spark, sfDir)); true }
          catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        // unpersist query-local caches so back-to-back runs don't
        // accumulate MEMORY_AND_DISK blocks across the whole sweep
        spark.sharedState.cacheManager.clearCache()
        (dt, ok)
      }
      // min over reps: single-shot timings on a busy host carry ±20% noise;
      // the minimum is the standard steady-state estimator, and the median
      // is reported alongside so a min-vs-median gap flags a noisy sample.
      // Pass/fail is decided by the base reps only; the bonus rep for
      // sub-second queries (round-over-round deltas there are dominated by
      // host noise) is timing-only — its time is kept when it succeeds, a
      // failure there never flips a green query to failed.
      val base = (1 to reps).map(_ => rep())
      val ok = base.forall(_._2)
      var times =
        if (ok && base.map(_._1).min < 1.0) {
          val extra = rep()
          if (extra._2) base :+ extra else base
        } else base
      // Self-healing under host contention: when the median/min gap on a
      // non-trivial query exceeds the 1.5 noise threshold, the sample is
      // contention-poisoned — run up to 2 extra settle reps (stopping as
      // soon as the gap closes) and keep the min over ALL reps. A transient
      // driver-host spike then costs one extra rep instead of publishing a
      // phantom 2-3× regression (r8: dd23 shown at 9.9 s vs a real 3.2 s).
      // Persistent whole-run contention still surfaces via the noisy flag.
      def contended(ts: Seq[Double]): Boolean = {
        val mn = ts.min
        mn >= 0.1 && median(ts) / mn > 1.5
      }
      var settle = 0
      while (ok && settle < 2 && contended(times.map(_._1))) {
        val extra = rep()
        if (extra._2) times = times :+ extra
        settle += 1
      }
      // When settle reps ran, publish the median over the `reps` fastest
      // samples (contention-proven outliers trimmed, sample size kept at
      // the base count). A real regression survives trimming — every rep,
      // settle included, is at least the true steady-state time — but a
      // transient spike no longer latches the noisy flag after healing.
      val ts = times.map(_._1)
      val medTs = if (settle > 0) ts.sorted.take(reps) else ts
      BenchRow(q.name, round3(ts.min), round3(median(medTs)), ok, settle)
    }

    // Box speed: 3 calibration reps before the flagship and 3 after the
    // sweep, so a box that slows mid-run moves the median too.
    calibSamples ++= Seq.fill(3)(calibrate(spark))
    val calib = round3(median(calibSamples.toSeq))
    val ratio = round3(boxRatio(calib, prior.calib))

    val okResults = results.filter(_.ok)
    // Both rules, pinned by BenchRefSpec, see box-normalised mins: a row
    // over its own threshold (`inflated`), and the short-row family
    // collectively over 1.3x its reference mass (`drift`).
    val inflatedList = okResults
      .filter(r => prior.queries.get(r.name).exists(inflated(r.min, _, ratio)))
      .map("\"" + _.name + "\"").mkString("[", ",", "]")
    val driftPairs = okResults.flatMap(r =>
      prior.queries.get(r.name).map(p => (r.min / ratio, p)))
    val drift = familyDrift(driftPairs)
    // the drift ratio and row count publish beside the flag so a reader
    // sees how close the run sat to the bar
    val driftFam = driftPairs.filter { case (_, ref) => ref >= 0.1 && ref < 2.0 }
    val driftRatio =
      if (driftFam.isEmpty || driftFam.map(_._2).sum == 0) 0.0
      else round3(driftFam.map(_._1).sum / driftFam.map(_._2).sum)
    val flagshipSlow = flagshipInflated(flagshipRate, prior.rate, ratio, flagshipFailed)

    val qs = okResults.map(r => "\"" + r.name + "\":" + r.min)
      .mkString("{", ",", "}")
    val qsMed = okResults.map(r => "\"" + r.name + "\":" + r.med)
      .mkString("{", ",", "}")
    val failed = results.filter(!_.ok).map("\"" + _.name + "\"").mkString("[", ",", "]")
    // per-query settle counts (ADVICE r9: a reader must be able to tell a
    // trimmed median from an untrimmed one)
    val healed = results.filter(r => r.ok && r.settle > 0)
      .map(r => "\"" + r.name + "\":" + r.settle).mkString("{", ",", "}")
    val total = round3(okResults.map(_.min).sum)
    // Host-contention detector: on an idle host min≈median; a busy host
    // inflates some reps, widening the gap. Flag the run as noisy when
    // median/min > 1.5 on ≥ 5 non-trivial queries (min ≥ 0.1 s — below
    // that the ratio is dominated by scheduler jitter, not contention),
    // so a reader discounts regressions without a manual re-run.
    val noisyCount = results.count { r =>
      r.ok && r.min >= 0.1 && r.med / r.min > 1.5
    }
    val noisy = noisyCount >= 5
    // Rates are written in plain decimal (never scientific notation) so
    // next round's string-splitting parser reads them back verbatim.
    def plain(v: Double): String = new java.math.BigDecimal(v).toPlainString
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","methodology":"$methodology",""" +
        s""""queries":$qs,""" +
        s""""queries_median":$qsMed,"failed":$failed,""" +
        s""""noisy":$noisy,"noisy_queries":$noisyCount,""" +
        s""""calib_s":$calib,"calib_samples":""" +
        calibSamples.map(round3).mkString("[", ",", "]") + "," +
        s""""prior_calib_s":${prior.calib},"box_ratio":$ratio,""" +
        s""""drift":$drift,"drift_ratio":$driftRatio,""" +
        s""""drift_rows":${driftFam.size},""" +
        s""""inflated":$inflatedList,""" +
        s""""healed":$healed,""" +
        s""""flagship_failed":$flagshipFailed,""" +
        s""""flagship_inflated":$flagshipSlow,""" +
        s""""pipeline_elements_per_sec":${plain(flagshipRate)},"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), json)

    // The printed line must survive a log-tail capture that keeps only the
    // last ~2000 chars of stdout (BENCH_r05/r06 both truncated mid-line and
    // parsed as null): print a COMPACT line — all headline q* queries plus
    // the slowest others, greedily added until a hard 1400-char budget —
    // and point at bench_out.json (committed) for the full per-query map.
    val headline = okResults.filter(_.name.startsWith("q"))
    val others = okResults.filterNot(_.name.startsWith("q")).sortBy(-_.min)
    def compactLine(entries: Seq[BenchRow]): String = {
      val m = entries.map(r => "\"" + r.name + "\":" + r.min)
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","methodology":"$methodology",""" +
        s""""queries":$m,""" +
        s""""queries_shown":${entries.size},"queries_total":${okResults.size},""" +
        s""""full_results":"bench_out.json","failed":$failed,""" +
        s""""noisy":$noisy,"noisy_queries":$noisyCount,""" +
        s""""drift":$drift,"box_ratio":$ratio,""" +
        s""""inflated":$inflatedList,""" +
        s""""flagship_failed":$flagshipFailed,""" +
        s""""flagship_inflated":$flagshipSlow,""" +
        s""""pipeline_elements_per_sec":${plain(flagshipRate)},"sf":"$sfDir"}"""
    }
    var shown = headline ++ others
    while (shown.size > headline.size && compactLine(shown).length > 1400)
      shown = shown.dropRight(1)
    println(compactLine(shown))
    spark.stop()
  }
}
