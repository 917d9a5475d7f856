package perfbench

import scala.collection.mutable

import graft.core.Collection
import graft.ingest.{Embedder, HashingEmbedder, Preprocess}
import graft.rag.{Compose, EchoAnswerGenerator}
import graft.search.TextSearch
import org.apache.spark.TaskContext
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.LongAccumulator

/** Counts the rows an embedder embeds inside Spark tasks: corpus rows,
  * not the sub-query embeddings computed outside any task. Traced runs
  * only. */
final class CountingEmbedder(inner: Embedder, rows: LongAccumulator)
    extends Embedder {
  def dim: Int = inner.dim
  def embed(texts: Seq[String]): Seq[Array[Float]] = {
    if (TaskContext.get() != null) rows.add(texts.size.toLong)
    inner.embed(texts)
  }
}

/** `rag_qa`: the reference's flagship path. A seeded knowledge base of
  * `(doc_id, chapter, text)` docs is ingested once; one operation is
  * `TextSearch.questionSearch` (direct, keyword and chunk strategies,
  * topK=5) followed by `Compose.dispatch` with the echo generator. Each
  * question is made from a known target doc. IvfIndex stays idle. */
final class RagQa(spark: SparkSession, t: Tracer, seed: Long)
    extends Workload {
  // the reference's knowledge base: 153 rows in 3 chapters
  private val Docs = 153
  private val Chapters = 3
  private val Questions = 48
  // the JIT keeps speeding the question path up over its first questions;
  // the warm-up asks this many questions of its own, the same in every run
  private val WarmQuestions = 20
  private val TopK = 5
  // HashingEmbedder distances are not on the sentence-transformer scale
  // the reference's 0.3 floor was set for; the library's own question
  // pipeline uses -1 (no floor) for the same reason.
  private val ScoreThreshold = -1.0
  private val HitQuestions = 8

  private val embedder = new HashingEmbedder(64)
  private val embeddedRows = spark.sparkContext.longAccumulator("embedded")
  private val counting = new CountingEmbedder(embedder, embeddedRows)
  private var tracedReads = 0

  private var docs = Array.empty[Doc]
  private var questions = Array.empty[(String, Int)]
  private var kb: DataFrame = _
  private var kbDir = ""
  private var digestHex = ""
  private val hit = mutable.Map.empty[Int, Boolean]

  def setup(dir: String): Unit = {
    val g = new Gen.TextGen(seed)
    docs = Array.tabulate(Docs)(i => g.doc(i.toLong, Chapters))
    questions = Array.fill(Questions + WarmQuestions) {
      val target = g.rnd.nextInt(Docs)
      (g.question(docs(target)), target)
    }
    val d = new Digest
    docs.foreach(d.add); questions.foreach(q => d.add(q._1))
    digestHex = d.hex
    import spark.implicits._
    docs.toSeq.map(d => (d.id, d.chapter, d.text))
      .toDF("doc_id", "chapter", "text").write.parquet(s"$dir/raw")
    kbDir = s"$dir/kb"
    val coll = Collection(spark, kbDir)
    coll.append(Preprocess(spark.read.parquet(s"$dir/raw"), "text")
      .select(col("doc_id"), col("chapter"), col("text_clean").as("text")))
    kb = coll.read
  }

  private def ask(qi: Int): String = {
    val q = questions(qi)._1
    val emb = if (t.active) counting else embedder
    if (t.active) {
      // the question call runs these itself; timed apart here so the
      // trace can split the call's cost
      val subs = t.span("text.subqueries") {
        TextSearch.subQueries(spark, q, TopK)
      }
      t.span("ingest.query_embed")(embedder.embed(subs.map(_._3)))
      tracedReads += 1
    }
    val hits = t.span("search.question_call") {
      TextSearch.questionSearch(spark, kb, "doc_id", "text", q, emb, TopK,
        ScoreThreshold, roundTo = 4)
    }
    // the call returns a lazy plan; traced, it runs here, so the search
    // (and the corpus embedding inside it) is not charged to dispatch
    val found = t.span("search.question_action")(Workload.materialize(t, hits))
    val ranked = found
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)).as("rank"))
      .join(kb, "doc_id")
    try t.span("rag.dispatch") {
      Compose.dispatch(ranked, "rank", "chapter", "text", q,
        new EchoAnswerGenerator)
    } finally found.unpersist()
  }

  private def answer(qi: Int, rec: Recorder): Unit = {
    val a = ask(qi)
    rec.check(a.nonEmpty && a.contains("1. **"),
      s"question $qi got an answer with no knowledge-base context: $a")
    hit(qi) = a.contains(docs(questions(qi)._2).text)
  }

  def warmup(rec: Recorder): Unit =
    (0 until WarmQuestions).foreach(i => ask(Questions + i))

  def step(i: Int, rec: Recorder): Unit =
    rec.read(answer(i % Questions, rec))

  def verify(rec: Recorder): Unit = {
    (0 until HitQuestions).filterNot(hit.contains)
      .foreach(qi => rec.op(answer(qi, rec)))
    rec.info("qa_hit_rate") =
      ((0 until HitQuestions).count(hit).toDouble / HitQuestions, "frac")
  }

  def digest: String = digestHex

  def storedBytesPerInputByte: Double =
    Stats.duBytes(kbDir).toDouble / docs.map(_.inputBytes).sum

  def layerExtras(t: Tracer): Map[String, Double] = Map(
    "ingest.corpus_rows_embedded_per_read" ->
      (if (tracedReads == 0) 0.0
       else embeddedRows.value.toDouble / tracedReads))
}
