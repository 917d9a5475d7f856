package perfbench

import scala.collection.mutable

import graft.search.{IvfIndex, Knn}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one run observed: latencies, ingested rows, correctness-check
  * violations and the workload-specific metrics printed beside the
  * end-to-end ones. */
final class Recorder {
  val reads = mutable.ArrayBuffer.empty[Double]
  val writes = mutable.ArrayBuffer.empty[Double]
  val readCpu = mutable.ArrayBuffer.empty[Double]
  var rowsIngested = 0L
  var attempted = 0
  var failed = 0
  val violations = mutable.ArrayBuffer.empty[String]
  val info = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** Runs one read and records its wall time and the CPU time every
    * thread of the JVM spent meanwhile, both in ms. */
  def read[T](body: => T): T = {
    val c0 = Recorder.cpuNs()
    val t0 = System.nanoTime()
    val r = body
    reads += (System.nanoTime() - t0) / 1e6
    readCpu += (Recorder.cpuNs() - c0) / 1e6
    r
  }

  /** Runs one write and records its wall time in ms. */
  def write[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    writes += (System.nanoTime() - t0) / 1e6
    r
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) violations += what

  /** One operation: it fails when it throws or any check inside fails. */
  def op(body: => Unit): Unit = {
    attempted += 1
    val before = violations.size
    try body
    catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        violations += s"operation threw $e"
    }
    if (violations.size > before) failed += 1
  }
}

object Recorder {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
}

/** One workload. [[Main]] calls `setup` once, into a fresh directory,
  * then `warmup`, then `step` in a closed loop for the measured seconds,
  * then `verify`. */
trait Workload {
  /** Generates the seeded inputs and builds the artifacts under `dir`. */
  def setup(dir: String): Unit
  /** Untimed operations that fill caches and finish lazy set-up. */
  def warmup(rec: Recorder): Unit
  /** One closed-loop operation; records its latencies and checks. */
  def step(i: Int, rec: Recorder): Unit
  /** Fixed-sample quality metrics and end-of-run correctness checks. */
  def verify(rec: Recorder): Unit
  /** SHA-256 prefix of the generated inputs. */
  def digest: String
  def storedBytesPerInputByte: Double
  /** Per-layer metrics that need more than a span's time and counters. */
  def layerExtras(t: Tracer): Map[String, Double]
}

object Workload {
  /** In a traced operation, runs the lazy `df` to completion inside the
    * open span, so the span owns its layer's work; untraced, returns `df`
    * untouched and the work happens wherever the plan is consumed. The
    * caller unpersists what this returns. */
  def materialize(t: Tracer, df: DataFrame): DataFrame =
    if (!t.active) df
    else { val p = df.persist(); p.count(); p }

  /** One IVF read as a client makes it: `IvfIndex.load` (a cache hit
    * while the index is unchanged), `IvfIndex.search` over the
    * `embedding` column, then the collect of `(id, distance)`. */
  def ivfRead(spark: SparkSession, t: Tracer, indexDir: String,
              idCol: String, q: Array[Float], k: Int,
              nprobe: Int): Array[(Long, Double)] = {
    val m = t.span("ivf.load")(IvfIndex.load(spark, indexDir))
    t.span("ivf.search") {
      val df = t.span("ivf.search_call") {
        IvfIndex.search(spark, m, "embedding", idCol, q, k, nprobe)
      }
      t.span("ivf.search_action")(df.select(idCol, "distance").collect())
        .map(r => (r.getLong(0), r.getDouble(1)))
    }
  }

  /** The exact top `k` of `corpus` (`idCol`, `embedding`) for `q`. */
  def exactTopK(corpus: DataFrame, idCol: String, q: Array[Float],
                k: Int): Array[(Long, Double)] = {
    import corpus.sparkSession.implicits._
    Knn.topK(corpus, "embedding", idCol, Seq(q).toDF("qe"), "qe", k)
      .select(idCol, "distance").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
  }
}
