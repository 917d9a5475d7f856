package graft.search

import graft.search.Knn
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Multi-strategy retrieval (SURVEY §2.4 M1-M3; reference
  * `multi_strategy_search`, src/app.py:276-303).
  *
  * The reference fans a query out three ways (direct / keyword-enhanced /
  * chunk), concatenates results in strategy order, deduplicates on
  * `content[:50]` with FIRST occurrence winning (src/app.py:291-299), then
  * re-ranks by score and truncates. Python's first-wins over an ordered
  * list is replicated deterministically with an explicit
  * (strategy_rank, intra_rank) window — `dropDuplicates` would be
  * nondeterministic under parallelism (SURVEY §7.4 item 2).
  *
  * The strategy set is modeled as DATA — a small DataFrame of query
  * vectors `(strategy_rank, sub_idx, k, qe)` — so the whole fan-out is ONE
  * broadcast nested-loop join + windows over the union, not N sequential
  * round-trips: at scale the corpus is scanned once regardless of how
  * many sub-queries the strategies expand to. The over-fetch window is
  * the plan's one exchange; everything after it handles a bounded
  * candidate set in a single partition.
  */
object MultiStrategy {
  /** @param corpus    rows with a vector, an id, and `dedupKey` column
    * @param strategies `(strategy_rank:Int, sub_idx:Int, k:Int, qe:vector)`
    * @param topK      final result size (reference default 3-5)
    * @param scoreThreshold per-sub-query score floor (reference 0.3)
    * @param overFetch per-sub-query candidate multiplier (reference 3×)
    */
  def search(corpus: DataFrame, corpusVec: String, corpusId: String,
             dedupKey: String, strategies: DataFrame, topK: Int,
             scoreThreshold: Double, overFetch: Int = 3,
             roundTo: Int = -1): DataFrame = {
    val subQ = Seq(col("strategy_rank"), col("sub_idx"))
    val byDistance = Window.partitionBy(subQ: _*)
      .orderBy(col("distance").asc, col(corpusId).asc)
    val byScore = Window.partitionBy(subQ: _*)
      .orderBy(col("score").desc, col(corpusId).asc)
    val intraW = Window.partitionBy(col("strategy_rank"))
      .orderBy(col("sub_idx").asc, col("distance").asc, col(corpusId).asc)
    val dedupW = Window.partitionBy(col(dedupKey))
      .orderBy(col("strategy_rank").asc, col("intra_rank").asc)

    // roundTo >= 0 rounds distances BEFORE every window: with many
    // effectively-tied candidates, ranking raw doubles depends on FP
    // accumulation order; rounded-value + id ordering is reproducible in
    // any engine (same rationale as Knn.knnJoin roundTo).
    val rawDist = Knn.distCol(col(corpusVec), col("qe"))
    corpus.crossJoin(broadcast(strategies))
      .withColumn("distance",
        if (roundTo >= 0) round(rawDist, roundTo) else rawDist)
      // V2 over-fetch: k*3 candidates per sub-query by distance
      .withColumn("fetch_rn", row_number().over(byDistance))
      .where(col("fetch_rn") <= col("k") * overFetch)
      // at most Σ k·overFetch rows survive: one partition from here on, so
      // the windows below and the final sort need no exchange
      .coalesce(1)
      // V3+V4: score map + threshold
      .withColumn("score", lit(1.0) - col("distance"))
      .where(col("score") >= scoreThreshold)
      // V5: per-sub-query re-rank + truncate to k
      .withColumn("q_rn", row_number().over(byScore))
      .where(col("q_rn") <= col("k"))
      // M2: strategy-order concatenation position
      .withColumn("intra_rank", row_number().over(intraW))
      // M2: first-occurrence-wins dedup on the key
      .withColumn("dup_rn", row_number().over(dedupW))
      .where(col("dup_rn") === 1)
      // M3: final re-rank + top-k
      .orderBy(col("score").desc, col(corpusId).asc)
      .limit(topK)
      .drop("qe", "fetch_rn", "q_rn", "dup_rn")
  }
}
