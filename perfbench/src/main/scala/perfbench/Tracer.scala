package perfbench

import java.lang.management.ManagementFactory
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Work the Spark jobs submitted under one span did, as the listener saw
  * it. `waitMs` sums, per task, launch time minus its stage's submission
  * time: how long work queued before a core took it. */
final class Counters {
  var jobs, tasks, busyMs, waitMs, recordsRead, bytesRead, recordsWritten,
    bytesWritten, shuffleBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; busyMs += o.busyMs; waitMs += o.waitMs
    recordsRead += o.recordsRead; bytesRead += o.bytesRead
    recordsWritten += o.recordsWritten; bytesWritten += o.bytesWritten
    shuffleBytes += o.shuffleBytes
  }
}

final case class Span(id: Int, name: String, parent: Int, op: Long,
                      startNs: Long) {
  var endNs = 0L
  var gcMs = 0L
  var compiles = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into each layer, plus a
  * SparkListener that attributes every job, stage and task to the span
  * open on the submitting thread (via a local property, which Spark copies
  * onto the threads it submits broadcast and subquery jobs from).
  *
  * Inactive, `span` and `op` only run their body: the untraced
  * measurement registers no listener and records nothing. Spans stay in
  * memory until [[dump]]. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Key = "perfbench.span"
  private val own = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, (Int, Long)]()
  private var open: List[Span] = Nil
  private var nextId = 0
  private var curOp = 0L
  val spans = mutable.ArrayBuffer.empty[Span]
  var active = false

  private val listener = new SparkListener {
    private def spanOf(p: Properties): Option[Int] =
      Option(p).flatMap(q => Option(q.getProperty(Key))).map(_.toInt)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach(s => counters(s).synchronized {
        counters(s).jobs += 1
      })

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId,
        (s, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { case (s, submitted) =>
        val c = counters(s)
        c.synchronized {
          c.tasks += 1
          c.waitMs += math.max(0L, e.taskInfo.launchTime - submitted)
          val m = e.taskMetrics
          if (m != null) {
            c.busyMs += m.executorRunTime
            c.recordsRead += m.inputMetrics.recordsRead
            c.bytesRead += m.inputMetrics.bytesRead
            c.recordsWritten += m.outputMetrics.recordsWritten
            c.bytesWritten += m.outputMetrics.bytesWritten
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
  }

  private def counters(span: Int): Counters =
    own.computeIfAbsent(span, _ => new Counters)

  /** Turns tracing on or off between operations. */
  def setActive(on: Boolean): Unit = if (on != active) {
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    active = on
  }

  /** A root span: every span opened inside it shares its op id. */
  def op[T](name: String)(body: => T): T =
    if (!active) body else { curOp += 1; span(name)(body) }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(nextId, name, open.headOption.map(_.id).getOrElse(-1),
        curOp, System.nanoTime())
      nextId += 1
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, s.id.toString)
      val gc0 = Tracer.gcMs()
      val comp0 = Tracer.compiles()
      open = s :: open
      try body
      finally {
        s.endNs = System.nanoTime()
        s.gcMs = Tracer.gcMs() - gc0
        s.compiles = Tracer.compiles() - comp0
        // events of the jobs this span ran must land before it closes
        BusDrain.drain(sc)
        open = open.tail
        sc.setLocalProperty(Key, prev)
        spans += s
      }
    }

  private var childIndex = (-1, Map.empty[Int, Seq[Span]])
  private def children: Map[Int, Seq[Span]] = {
    if (childIndex._1 != spans.size)
      childIndex = (spans.size, spans.toSeq.groupBy(_.parent))
    childIndex._2
  }

  /** The span's duration minus the time its child spans cover. */
  def selfMs(s: Span): Double =
    s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum

  /** Counters of the span and every span below it. */
  def inclusive(s: Span): Counters = {
    val c = new Counters
    Option(own.get(s.id)).foreach(c.add)
    children.getOrElse(s.id, Nil).foreach(ch => c.add(inclusive(ch)))
    c
  }

  /** Per op, `f` summed over that op's spans called `name`; the median
    * over ops, or 0 when no op opened such a span (the layer was idle). */
  def perOp(name: String)(f: Span => Double): Double =
    Stats.median(spans.filter(_.name == name).groupBy(_.op).values
      .map(_.map(f).sum).toSeq)

  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val c = inclusive(s)
      Seq(s""""id":${s.id}""", s""""name":"${s.name}"""",
        s""""parent":${s.parent}""", s""""op":${s.op}""",
        f""""start_ms":${s.startNs / 1e6}%.3f""",
        f""""end_ms":${s.endNs / 1e6}%.3f""",
        f""""self_ms":${selfMs(s)}%.3f""", s""""gc_ms":${s.gcMs}""",
        s""""codegen_compiles":${s.compiles}""",
        s""""jobs":${c.jobs}""", s""""tasks":${c.tasks}""",
        s""""busy_ms":${c.busyMs}""", s""""wait_ms":${c.waitMs}""",
        s""""records_read":${c.recordsRead}""",
        s""""bytes_read":${c.bytesRead}""",
        s""""bytes_written":${c.bytesWritten}""",
        s""""shuffle_bytes":${c.shuffleBytes}""").mkString("{", ",", "}")
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Classes Spark's code generator has compiled in this JVM so far (a
    * plan whose generated code is already cached compiles none). */
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
}
