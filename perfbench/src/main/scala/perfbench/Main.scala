package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.plans.IvfProbeRewrite
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. Usage:
  * {{{
  * perfbench.Main --workload <rag_qa|ivf_serve|ingest_upsert> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --out <dir>
  * }}}
  * One single-process Spark session at local[k], k = min(4, cores - 1); one
  * closed-loop client on the main thread. Prints one `metric` line per
  * metric and writes `result.json` (the end-to-end metrics with
  * `--trace 0`, the per-layer ones with `--trace 1`) into `--work`;
  * `perfbench/run.py` prints it as the last line. Spans of a traced run
  * go to `--out`. */
object Main {
  private val SetUps = 3

  /** (name, unit, value). Every workload prints every per-layer metric; a
    * layer the workload leaves idle reads 0. */
  private def perLayer(t: Tracer, extras: Map[String, Double])
      : Seq[(String, String, Double)] = {
    def ms(span: String) = t.perOp(span)(_.ms)
    def self(span: String) = t.perOp(span)(t.selfMs)
    def c(span: String)(f: Counters => Long) =
      t.perOp(span)(s => f(t.inclusive(s)).toDouble)
    def x(name: String) = extras.getOrElse(name, 0.0)
    Seq(
      ("ivf.load_ms", "ms", ms("ivf.load")),
      ("ivf.search_ms", "ms", ms("ivf.search")),
      ("ivf.search_call_ms", "ms", ms("ivf.search_call")),
      ("ivf.search_call_jobs", "count", c("ivf.search_call")(_.jobs)),
      ("ivf.search_action_ms", "ms", ms("ivf.search_action")),
      ("ivf.search_jobs", "count", c("ivf.search")(_.jobs)),
      ("ivf.search_tasks", "count", c("ivf.search")(_.tasks)),
      ("ivf.search_busy_ms", "ms", c("ivf.search")(_.busyMs)),
      ("ivf.search_wait_ms", "ms", c("ivf.search")(_.waitMs)),
      ("ivf.search_self_ms", "ms", self("ivf.search")),
      ("ivf.search_gc_ms", "ms", t.perOp("ivf.search")(_.gcMs)),
      ("ivf.rows_read_per_result", "rows", x("ivf.rows_read_per_result")),
      ("ivf.scanned_fraction", "frac", x("ivf.scanned_fraction")),
      ("ivf.data_files", "count", x("ivf.data_files")),
      ("ivf.build_ms", "ms", ms("ivf.build")),
      ("ivf.build_jobs", "count", c("ivf.build")(_.jobs)),
      ("ivf.upsert_ms", "ms", ms("ivf.upsert")),
      ("ivf.upsert_jobs", "count", c("ivf.upsert")(_.jobs)),
      ("ivf.delete_ms", "ms", ms("ivf.delete")),
      ("text.subqueries_ms", "ms", ms("text.subqueries")),
      ("text.subqueries_jobs", "count", c("text.subqueries")(_.jobs)),
      ("search.question_call_ms", "ms", ms("search.question_call")),
      ("search.question_call_jobs", "count",
        c("search.question_call")(_.jobs)),
      ("search.question_action_ms", "ms", ms("search.question_action")),
      ("search.question_action_jobs", "count",
        c("search.question_action")(_.jobs)),
      ("ingest.query_embed_ms", "ms", ms("ingest.query_embed")),
      ("ingest.corpus_rows_embedded_per_read", "rows",
        x("ingest.corpus_rows_embedded_per_read")),
      ("ingest.preprocess_ms", "ms", ms("ingest.preprocess")),
      ("ingest.embed_ms", "ms", ms("ingest.embed")),
      ("ingest.embed_rows_per_s", "1/s", x("ingest.embed_rows_per_s")),
      ("ingest.write_self_ms", "ms", self("ingest.write")),
      ("ingest.write_gc_ms", "ms",
        t.perOp("ingest.write")(_.gcMs)),
      ("dedup.incremental_ms", "ms", ms("dedup.incremental")),
      ("dedup.incremental_jobs", "count", c("dedup.incremental")(_.jobs)),
      ("dedup.shuffle_bytes", "bytes",
        c("dedup.incremental")(_.shuffleBytes)),
      ("dedup.dupes_found", "count", x("dedup.dupes_found")),
      ("core.append_ms", "ms", ms("core.append")),
      ("core.bytes_written", "bytes", c("core.append")(_.bytesWritten)),
      ("core.files_written", "count", x("core.files_written")),
      ("rag.dispatch_ms", "ms", ms("rag.dispatch")),
      ("rag.dispatch_jobs", "count", c("rag.dispatch")(_.jobs)),
      ("rag.dispatch_busy_ms", "ms", c("rag.dispatch")(_.busyMs)),
      ("rag.dispatch_wait_ms", "ms", c("rag.dispatch")(_.waitMs)),
      ("rag.dispatch_shuffle_bytes", "bytes",
        c("rag.dispatch")(_.shuffleBytes)),
      ("rag.dispatch_records_read", "rows",
        c("rag.dispatch")(_.recordsRead)),
      ("rag.dispatch_gc_ms", "ms",
        t.perOp("rag.dispatch")(_.gcMs)),
      ("op.ms", "ms", ms("op")),
      ("op.jobs", "count", c("op")(_.jobs)),
      ("op.self_ms", "ms", self("op")),
      ("op.gc_ms", "ms", t.perOp("op")(_.gcMs)),
      ("op.codegen_compiles", "count", t.perOp("op")(_.compiles.toDouble)))
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val out = a("out")
    // one core stays free for the client thread, the JIT compiler and GC:
    // with every core running tasks, warm-up dragged on and some runs
    // settled at twice the latency of others
    val cores =
      math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      // bounded job history, so retained heap does not grow with the
      // number of operations a run gets through
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val t = new Tracer(spark)
    val wl: Workload = name match {
      case "rag_qa" => new RagQa(spark, t, seed)
      case "ivf_serve" => new IvfServe(spark, t, seed)
      case "ingest_upsert" => new IngestUpsert(spark, t, seed)
    }
    def secondsOf(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    // set-up runs several times, each into a fresh directory with the
    // registrations and the Spark cache cleared, and the median counts:
    // one set-up alone moves with the host. The last one stays for the run.
    t.setActive(trace)
    val dataS = Stats.median((1 to SetUps).map { r =>
      IvfProbeRewrite.clear()
      spark.catalog.clearCache()
      secondsOf(t.op("setup")(wl.setup(s"$work/data-$r")))
    })
    t.setActive(false)
    val rec = new Recorder
    val warmS = secondsOf(wl.warmup(rec))
    val setupS = sessionS + dataS + warmS

    val opMs = Map(true -> mutable.ArrayBuffer.empty[Double],
      false -> mutable.ArrayBuffer.empty[Double])
    val t0 = System.nanoTime()
    var i = 0
    while (System.nanoTime() - t0 < seconds * 1e9) {
      // a traced run alternates traced and untraced operations; the gap
      // between the two medians is the tracing overhead
      val traced = trace && i % 2 == 0
      t.setActive(traced)
      val s0 = System.nanoTime()
      rec.op(t.op("op")(wl.step(i, rec)))
      opMs(traced) += (System.nanoTime() - s0) / 1e6
      i += 1
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    t.setActive(false)
    // the ContextCleaner drops broadcast and shuffle blocks only after a
    // GC has cleared their references, on its own thread
    System.gc(); Thread.sleep(1000); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0
    wl.verify(rec)

    def line(k: String, v: Double, unit: String, note: String = ""): Unit =
      println(f"metric $k%-40s $v%14.4f $unit%-6s $note")
    println(s"workload $name seed $seed trace ${if (trace) 1 else 0} " +
      s"cores $cores seconds $seconds inputs sha256:${wl.digest}")
    val (tailPct, tailMs) = Stats.tail(rec.reads.toSeq)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("read_p50_ms", Stats.median(rec.reads.toSeq), "ms"),
      ("read_tail_ms", tailMs, "ms"),
      ("reads_per_s", rec.reads.size / elapsedS, "1/s"),
      ("stored_bytes_per_input_byte", wl.storedBytesPerInputByte, "ratio"),
      ("retained_heap_mb", heapMb, "MB"))
    val (wTailPct, wTailMs) = Stats.tail(rec.writes.toSeq)
    val writeMetrics =
      if (rec.writes.isEmpty) Nil
      else Seq(
        ("write_p50_ms", Stats.median(rec.writes.toSeq), "ms",
          s"n=${rec.writes.size}"),
        ("write_tail_ms", wTailMs, "ms",
          f"p$wTailPct%.1f n=${rec.writes.size}"),
        ("rows_ingested_per_s", rec.rowsIngested / elapsedS, "1/s", ""))
    val failedFrac = rec.failed.toDouble / math.max(1, rec.attempted)
    e2e.foreach { case (k, v, u) =>
      val note = k match {
        case "setup_s" => f"session $sessionS%.2f s + inputs and " +
          f"artifacts $dataS%.2f s (median of $SetUps) + warm-up $warmS%.2f s"
        case "read_p50_ms" => s"n=${rec.reads.size}"
        case "read_tail_ms" => f"p$tailPct%.1f n=${rec.reads.size}"
        case _ => ""
      }
      line(k, v, u, note)
    }
    writeMetrics.foreach { case (k, v, u, n) => line(k, v, u, n) }
    rec.info.foreach { case (k, (v, u)) => line(k, v, u) }
    line("read_cpu_p50_ms", Stats.median(rec.readCpu.toSeq), "ms")
    println("read_ms_samples " + rec.reads.map(x => f"$x%.0f").mkString(" "))
    line("failed_ops_frac", failedFrac, "frac",
      s"${rec.failed}/${rec.attempted}")

    val reported =
      if (!trace) e2e
      else {
        val tracedMs = Stats.median(opMs(true).toSeq)
        val plainMs = Stats.median(opMs(false).toSeq)
        println(f"tracing overhead: traced op p50 $tracedMs%.1f ms " +
          f"(n=${opMs(true).size}) vs untraced $plainMs%.1f ms " +
          f"(n=${opMs(false).size})")
        val layers = (perLayer(t, wl.layerExtras(t)) :+
          (("trace.overhead_ms", "ms", tracedMs - plainMs)))
          .map { case (k, u, v) => (k, v, u) }
        layers.foreach { case (k, v, u) => line(k, v, u) }
        Files.createDirectories(Paths.get(out))
        val dump = Paths.get(out, s"trace-$name-$seed.jsonl")
        t.dump(dump)
        println(s"spans ${t.spans.size} written to $dump")
        layers
      }
    rec.violations.foreach(v => println(s"VIOLATION $v"))
    val correct = rec.violations.isEmpty
    val metrics = reported.map { case (k, v, u) =>
      val finite = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k": {"value": $finite, "unit": "$u"}"""
    }.mkString(", ")
    Files.write(Paths.get(work, "result.json"),
      (s"""{"correct": $correct, "attempted": ${rec.attempted}, """ +
        s""""failed": ${rec.failed}, "metrics": {$metrics}}""")
        .getBytes("UTF-8"))
    spark.stop()
  }
}
