package graft.search

import graft.ingest.{Embed, Embedder}
import graft.text.Keywords
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Text-in search assembly (reference `answer_question` →
  * `multi_strategy_search`, src/app.py:276-330 and 370-384): fan one raw
  * question out into the direct / keyword-enhanced / chunk strategies,
  * embed every sub-query with the corpus featurizer, and rank the whole
  * set with ONE [[MultiStrategy.search]]: a corpus scan with bounded
  * per-partition heaps, one exchange, and one fused re-rank task.
  *
  * Scale shape: the sub-query list is tiny by construction (1 + ≤3
  * keywords + ≤2 chunks) and is split from the question on the driver
  * with no Spark job (`Keywords.extractLocal`/`chunksLocal`); the
  * strategies then broadcast into a single corpus scan — the corpus is
  * read once no matter how many strategies fire, instead of the
  * reference's N sequential index round-trips.
  */
object TextSearch {
  /** The reference fan-out as data: `(strategy_rank, k, text)`.
    *  - rank 1: the whole question, k = topK×2 (src/app.py:279);
    *  - rank 2: first 3 keywords, k = 2 each (src/app.py:305-317);
    *  - rank 3: only when len(question) > 20 (src/app.py:285-287) —
    *    first 2 punctuation chunks surviving the strict len > 5 trim
    *    filter, k = 1 each (src/app.py:319-330).
    * Split on the driver; no Spark job runs.
    */
  def subQueries(spark: SparkSession, question: String,
                 topK: Int): Seq[(Int, Int, String)] = {
    val kws = Keywords.extractLocal(question, k = 3)
    val chs =
      if (question.length > 20) Keywords.chunksLocal(question) else Seq.empty
    Seq((1, topK * 2, question)) ++ kws.map((2, 2, _)) ++ chs.map((3, 1, _))
  }

  /** Per-chunk kNN (reference `chunk_search`, src/app.py:319-330): split
    * the query on punctuation, trim, keep len > 5, first `maxChunks`,
    * embed each, k=1 nearest doc per chunk. Returns
    * (chunk_rank, chunk, id, distance). */
  def chunkSearch(spark: SparkSession, docs: DataFrame, idCol: String,
                  textCol: String, queryText: String, embedder: Embedder,
                  k: Int = 1): DataFrame = {
    import spark.implicits._
    val chunkRows = Keywords.chunksLocal(queryText).zipWithIndex
      .map { case (c, i) => (i + 1L, c) }
    val strategies = chunkRows.zip(embedder.embed(chunkRows.map(_._2)))
      .map { case ((r, c), v) => (r, c, v) }
      .toDF("chunk_rank", "chunk", "qe")
    val corpus = Embed.withEmbeddings(
      docs.select(col(idCol), col(textCol)), textCol, "embedding", embedder)
    // knnJoinLarge (bounded per-partition heaps — the 100 TB form) rather
    // than knnJoin's corpus×queries window; ranking is identical (4-dp
    // distance, id tie-break). The chunk text rides back in via a
    // broadcast of the tiny strategy table.
    Knn.knnJoinLarge(corpus, "embedding", idCol, strategies, "chunk_rank",
        "qe", k)
      .join(broadcast(strategies.select(col("chunk_rank"), col("chunk"))),
        Seq("chunk_rank"))
      .select(col("chunk_rank"), col("chunk"), col(idCol), col("distance"))
  }

  /** Full question → answer-ready hits: every strategy embedded and run
    * as one MultiStrategy pass over an `(id, text)` corpus. */
  def questionSearch(spark: SparkSession, docs: DataFrame, idCol: String,
                     textCol: String, question: String, embedder: Embedder,
                     topK: Int, scoreThreshold: Double,
                     roundTo: Int = -1): DataFrame = {
    import spark.implicits._
    val subs = subQueries(spark, question, topK)
    val strategies = subs.zip(embedder.embed(subs.map(_._3))).zipWithIndex
      .map { case (((r, k, _), v), i) => (r, i, k, v) }
      .toDF("strategy_rank", "sub_idx", "k", "qe")
    val corpus = Embed.withEmbeddings(
        docs.select(col(idCol), col(textCol)), textCol, "embedding", embedder)
      // reference dedup key: content[:50] (src/app.py:295)
      .withColumn("dkey", substring(col(textCol), 1, 50))
      .select(col(idCol), col("embedding"), col("dkey"))
    MultiStrategy.search(corpus, "embedding", idCol, "dkey",
      strategies, topK, scoreThreshold, roundTo = roundTo)
  }
}
