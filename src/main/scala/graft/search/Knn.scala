package graft.search

import graft.functions.VectorFunctions
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import scala.collection.mutable

/** Exact k-nearest-neighbour search (reference `similarity_search`,
  * src/app.py:240-274 = V1→V6 in SURVEY §2.3).
  *
  * Semantics pinned to the reference:
  *  - metric: squared L2 (src/app.py:109; Milvus L2 returns squared distance)
  *  - over-fetch: `limit = k * 3` before thresholding (src/app.py:251)
  *  - score = 1 - distance (src/app.py:258)
  *  - threshold applies to score, not distance (src/app.py:260)
  *  - re-rank by score desc then truncate to k (src/app.py:269-270)
  *  - deterministic tie-break on the corpus id column (SURVEY §7.4 item 4;
  *    Python's sort is stable, Spark's is not, so ties are pinned by id).
  *
  * Scale notes (100 TB): the single-query path compiles to
  * `TakeOrderedAndProject` — per-partition top-k, driver merges k rows per
  * partition; no global sort, no shuffle of the corpus. The multi-query path
  * broadcasts the (small) query set so the corpus is never shuffled; only
  * `|queries| * k`-bounded candidates move. Exact search stays a linear scan
  * by design — the sub-linear path is [[IvfIndex]] (partition-pruned probes).
  */
object Knn {
  /** Distance column, rounded for cross-engine determinism (the DuckDB
    * oracle computes the identical double then rounds identically). */
  def distCol(corpusVec: Column, queryVec: Column, roundTo: Int = 4): Column =
    round(VectorFunctions.l2Sq(corpusVec, queryVec), roundTo)

  /** Plain top-k by distance for a single query vector supplied as a
    * 1-row DataFrame `queries(qe)`. Physical plan: broadcast of the 1-row
    * side + TakeOrderedAndProject. */
  def topK(corpus: DataFrame, corpusVec: String, corpusId: String,
           query: DataFrame, queryVec: String, k: Int): DataFrame = {
    corpus.crossJoin(broadcast(query))
      .withColumn("distance", distCol(col(corpusVec), col(queryVec)))
      .drop(queryVec)
      .orderBy(col("distance").asc, col(corpusId).asc)
      .limit(k)
  }

  /** The full reference pipeline V2→V6: over-fetch 3k by distance, map to
    * score, threshold on score, re-rank by score desc, truncate to k. */
  def searchPipeline(corpus: DataFrame, corpusVec: String, corpusId: String,
                     query: DataFrame, queryVec: String, k: Int,
                     scoreThreshold: Double = 0.3,
                     overFetch: Int = 3): DataFrame = {
    topK(corpus, corpusVec, corpusId, query, queryVec, k * overFetch)
      .withColumn("score", lit(1.0) - col("distance"))
      .where(col("score") >= scoreThreshold)
      .orderBy(col("score").desc, col(corpusId).asc)
      .limit(k)
  }

  /** Multi-query kNN join: per query row, the k nearest corpus rows.
    * The query side is broadcast (small by construction); per-query top-k
    * via `row_number` window. Output keeps all corpus columns plus the
    * query id and `distance`. NOTE: the window shuffles every
    * corpus×queries candidate — fine at moderate scale; the 100 TB form
    * is [[knnJoinLarge]]. */
  def knnJoin(corpus: DataFrame, corpusVec: String, corpusId: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, roundTo: Int = -1): DataFrame = {
    // roundTo >= 0 rounds the distance BEFORE ranking: with many
    // effectively-tied candidates, ranking on raw doubles is sensitive to
    // FP accumulation order (not reproducible across engines); ranking on
    // the rounded value with the id tie-break is deterministic everywhere.
    val dist = distCol(col(corpusVec), col(queryVec))
    val joined = corpus.crossJoin(broadcast(queries))
      .withColumn("distance", if (roundTo >= 0) round(dist, roundTo) else dist)
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("distance").asc, col(corpusId).asc)
    joined
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .drop("rn", queryVec)
  }

  /** Scale form of [[knnJoin]] (long ids): bounded per-partition top-k
    * heaps BEFORE the global per-query selection, so only
    * partitions × queries × k candidate rows ever shuffle — the
    * corpus×queries cross product stays inside the scan stage. Memory per
    * task is O(queries × k). Output `(queryId, corpusId, distance)` is
    * row-identical to knnJoin's projection of the same columns. */
  def knnJoinLarge(corpus: DataFrame, corpusVec: String, corpusId: String,
                   queries: DataFrame, queryId: String, queryVec: String,
                   k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val joined = corpus.crossJoin(broadcast(queries))
      .select(col(queryId).cast("long"), col(corpusId).cast("long"),
        distCol(col(corpusVec), col(queryVec)))
      .as[(Long, Long, Double)]
    val candidates = joined.mapPartitions { it =>
      // Spark's byDistance order on (distance, id)
      val ord: Ordering[(Long, Long, Double)] = (x, y) => {
        val c = SQLOrderingUtil.compareDoubles(x._3, y._3)
        if (c != 0) c else java.lang.Long.compare(x._2, y._2)
      }
      topNPerKey(it)(_._1, _ => k.toLong)(ord).flatMap(_._2)
    }.toDF(queryId, corpusId, "distance")
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("distance").asc, col(corpusId).asc)
    candidates
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .drop("rn")
  }

  /** Per-key bounded top-n of a stream: for each key, the `n` least
    * elements under `ord`, `n` read from the key's first element (n ≤ 0
    * keeps none). Each key holds a max-heap whose root is its worst kept
    * element, so memory is Σ n over the keys, whatever the stream's
    * length. The kept elements come back unordered. */
  private[search] def topNPerKey[K, T](it: Iterator[T])(key: T => K,
      n: T => Long)(ord: Ordering[T]): Iterator[(K, Iterable[T])] = {
    val heaps = mutable.HashMap.empty[K, (Long, mutable.PriorityQueue[T])]
    it.foreach { t =>
      val (cap, h) = heaps.getOrElseUpdate(key(t),
        (n(t), mutable.PriorityQueue.empty[T](ord)))
      if (h.size < cap) h.enqueue(t)
      else if (h.nonEmpty && ord.lt(t, h.head)) { h.dequeue(); h.enqueue(t) }
    }
    heaps.iterator.map { case (k, (_, h)) => (k, h) }
  }
}
