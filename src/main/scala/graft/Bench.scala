package graft
import org.apache.spark.sql.SparkSession

/** Benchmark harness (driver contract): one JSON line with per-query and
  * total seconds over SPARK_GRAFT_SF_DIR.
  *
  * Measurement hygiene (VERDICT r1 item 7): a full untimed warm-up pass
  * first (absorbs JVM/JIT/codegen/page-cache warm-up, which otherwise
  * lands ~4-5 s on whichever query runs first), then `SPARK_GRAFT_BENCH_
  * RUNS` (default 2) timed passes per query, reporting the per-query
  * MEDIAN so one GC pause can't skew a round-over-round comparison. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")  // same plans as Verify
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Optional dev-loop filter (round 16): SPARK_GRAFT_BENCH_ONLY is a
    // comma list of entry names — warm per-entry medians for the
    // entries under iteration without a full registry pass. The driver
    // never sets it; unset = the full registry, unchanged.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val countJobs = only.nonEmpty
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // Dev-loop job counter (round 16, gated with the ONLY filter): job
    // COUNT is load-independent where wall-clock is not — the honest
    // fixed-cost metric for streaming-ingest clawbacks on a contended
    // host. Printed only in filtered runs; the driver's full-registry
    // line is unchanged.
    val jobCount = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCount.incrementAndGet()
          // the description is the entry `time` runs (inherited by
          // broadcast and subquery threads); the first stage's name is
          // the call site
          if (sys.env.contains("SPARK_GRAFT_BENCH_TRACE"))
            System.err.println("[job] " + Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("?") + ": " + js.stageInfos.sortBy(_.stageId)
              .headOption.map(_.name).getOrElse("?"))
          ()
        }
      })
    val lastJobs = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // The listener bus is ASYNC — a JobStart can be delivered after the
    // action returns (round-16 review fix: late events misattributed to
    // the next entry). Spin until the count is stable; dev-loop only
    // (filtered runs), so the full-registry driver run pays nothing.
    def drainedJobCount(drain: Boolean): Int = {
      if (drain) {
        var prev = -1
        var cur = jobCount.get()
        var spins = 0
        while (cur != prev && spins < 20) {
          prev = cur; Thread.sleep(50); cur = jobCount.get(); spins += 1
        }
      }
      jobCount.get()
    }
    def time(name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val j0 = drainedJobCount(drain = countJobs)
      val t0 = System.nanoTime()
      spark.sparkContext.setJobDescription(name)
      try fn(spark, sfDir).count()
      catch { case _: Throwable => failed += name }
      finally spark.sparkContext.setJobDescription(null)
      val dt = (System.nanoTime() - t0) / 1e9
      lastJobs(name) = drainedJobCount(drain = countJobs) - j0
      // drop caches OUTSIDE the timed window: several operators cache()
      // intermediates, and 75 queries × 3 passes of retained caches
      // otherwise build GC pressure that inflates later queries' numbers
      spark.catalog.clearCache()
      dt
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

    // Warm-up pass: absorbs JVM/JIT/codegen/page-cache warm-up AND
    // every buildOnce/mutateOnce one-time artifact construction, so the
    // timed medians below measure SERVING. Its wall-clock is reported
    // separately as `build_secs` (round-14 verdict item 4): a capture
    // starting from a cold /tmp shows its artifact-build cost THERE,
    // not smeared into whichever entry first touches each artifact —
    // the measurement-hygiene split that cost a round of forensics
    // when cold builds were read as per-entry regressions.
    val benchQueries = only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None => SparkEntry.queries
    }
    val b0 = System.nanoTime()
    benchQueries.foreach { case (n, fn) => time(n, fn) }
    val buildSecs = (System.nanoTime() - b0) / 1e9
    // per entry: MEDIAN (the headline — robust to one GC pause) AND
    // MIN (round 15: robust to host CONTENTION spanning the whole
    // capture, which a median of 2 cannot reject — two consecutive
    // driver captures were poisoned exactly that way; the min is the
    // honest serving number on a shared host, the cross-round compare
    // when medians disagree with a quiet re-run)
    val samples = benchQueries.map { case (name, fn) =>
      name -> (1 to runs).map(_ => time(name, fn))
    }
    val results = samples.map { case (n, xs) => n -> median(xs) }
    val resultsMin = samples.map { case (n, xs) => n -> xs.min }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val totalMin = if (resultsMin.nonEmpty) resultsMin.values.sum else 0.0
    // a query that THREW still gets a time entry (the failure is fast),
    // so failures are surfaced explicitly rather than read as speedups
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The harness that consumes this line keeps only a bounded TAIL of
    // stdout (~2000 chars) — a full 239-entry per-query map exceeds it
    // and truncates into unparseable JSON. Emit the line under that
    // bound: per-query times at 3 decimals, SLOWEST first, keeping as
    // many as fit a fixed budget; the dropped fast tail is accounted for
    // explicitly (omitted count + their summed seconds), so `value`
    // always equals sum(queries) + omitted_time. The full per-entry
    // table goes to stderr (`[bench-table]`).
    // Locale.ROOT: a comma-decimal default locale would print "0,123"
    // and break the JSON (the HashingEmbedder lowercasing rationale)
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val desc = results.toSeq.sortBy { case (k, v) => (-v, k) }
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","""
    val meta = s""""errors":$errs,"n_queries":${results.size},""" +
      s""""build_secs":${fmt(buildSecs)},""" +
      s""""value_min":${fmt(totalMin)},"sf":"$sfDir""""
    val budget = 1900 - head.length - meta.length - 140 // slack for closers
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    val keptMin = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    var omitted = 0
    var omittedTime = 0.0
    var omittedTimeMin = 0.0
    // a kept entry appears in BOTH maps (same keys, so min-vs-median
    // per entry is always comparable) — its budget cost is both items
    desc.foreach { case (k, v) =>
      val item = "\"" + k + "\":" + fmt(v)
      val itemMin = "\"" + k + "\":" + fmt(resultsMin(k))
      val cost = item.length + itemMin.length + 2
      if (used + cost <= budget) {
        kept += item; keptMin += itemMin; used += cost
      } else { omitted += 1; omittedTime += v
        omittedTimeMin += resultsMin(k) }
    }
    val qs = kept.mkString("{", ",", "}")
    val qsMin = keptMin.mkString("{", ",", "}")
    val line = head + s""""queries":$qs,"queries_min":$qsMin,""" +
      s""""omitted_queries":$omitted,""" +
      s""""omitted_time":${fmt(omittedTime)},""" +
      s""""omitted_time_min":${fmt(omittedTimeMin)},""" + meta + "}"
    // Stop Spark BEFORE printing: its shutdown can log ("Cannot find
    // active jobs…"), and the driver's last-line JSON parse needs the
    // bench line to be the final stdout line (build.sbt suppresses
    // sbt's own [success]/[info] framing for the same reason). A
    // THROWING stop must still not eat the result line — the whole
    // run's measurements already exist at this point.
    // filtered dev-loop runs also report the LAST timed pass's Spark
    // job count per entry on stderr (load-independent fixed-cost
    // metric); never printed on the driver's full-registry run
    if (only.nonEmpty)
      System.err.println("[bench-jobs] " + lastJobs.map {
        case (k, v) => s"$k=$v" }.mkString(" "))
    // every entry's median and min, uncapped, slowest first: the full
    // table the budgeted stdout line cannot carry
    System.err.println("[bench-table] entry\tmedian_s\tmin_s")
    desc.foreach { case (k, v) =>
      System.err.println(s"[bench-table] $k\t${fmt(v)}\t${fmt(resultsMin(k))}")
    }
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"Bench: spark.stop() failed: $e") }
    println(line)
  }
}
