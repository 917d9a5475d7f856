package graft.search

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** Multi-strategy retrieval (SURVEY §2.4 M1-M3; reference
  * `multi_strategy_search`, src/app.py:276-303).
  *
  * The reference fans a query out three ways (direct / keyword-enhanced /
  * chunk), concatenates results in strategy order, deduplicates on
  * `content[:50]` with FIRST occurrence winning (src/app.py:291-299), then
  * re-ranks by score and truncates. Python's first-wins over an ordered
  * list is replicated deterministically with an explicit
  * (strategy_rank, intra_rank) order — `dropDuplicates` would be
  * nondeterministic under parallelism (SURVEY §7.4 item 2).
  *
  * The strategy set is modeled as DATA — a small DataFrame of query
  * vectors `(strategy_rank, sub_idx, k, qe)` — broadcast and fanned out
  * inside ONE corpus scan, so the corpus is read once however many
  * sub-queries the strategies expand to. Two `mapPartitions` passes with
  * one exchange between them do the ranking:
  *  1. per corpus partition, a bounded heap keeps the k·overFetch nearest
  *     rows of each sub-query, so at most partitions × Σ k·overFetch rows
  *     leave the scan stage;
  *  2. after `repartition(1)`, one task merges those heaps and runs the
  *     whole chain — over-fetch cut, score, threshold, per-sub-query
  *     top-k, strategy-order position, first-wins dedup, final top-k —
  *     in plain Scala, its heaps holding at most Σ k·overFetch rows.
  * The exchange stays on purpose: `coalesce(1)` has a narrow dependency,
  * so it would pull the corpus scan and the heaps into a single task.
  *
  * Every comparison follows the Spark orderings of the window chain it
  * replaces: NaN is largest, −0.0 equals 0.0, nulls sort first ascending
  * and last descending, ids compare by their Spark type (strings as
  * UTF-8 bytes), and scalar `dedupKey` values group as Spark's
  * partitioning does (binary by content, floating point with −0.0 = 0.0
  * and one NaN).
  * `k` is taken to be constant per (strategy_rank, sub_idx).
  */
object MultiStrategy {
  /** @param corpus    rows with a vector, an id, and `dedupKey` column
    * @param strategies `(strategy_rank:Int, sub_idx:Int, k:Int, qe:vector)`
    * @param topK      final result size (reference default 3-5)
    * @param scoreThreshold per-sub-query score floor (reference 0.3)
    * @param overFetch per-sub-query candidate multiplier (reference 3×)
    * @return the corpus columns, the strategy columns but `qe`,
    *         `distance`, `score` and `intra_rank`, in final rank order
    */
  def search(corpus: DataFrame, corpusVec: String, corpusId: String,
             dedupKey: String, strategies: DataFrame, topK: Int,
             scoreThreshold: Double, overFetch: Int = 3,
             roundTo: Int = -1): DataFrame = {
    // roundTo >= 0 rounds distances BEFORE any ranking: with many
    // effectively-tied candidates, ranking raw doubles depends on FP
    // accumulation order; rounded-value + id ordering is reproducible in
    // any engine (same rationale as Knn.knnJoin roundTo).
    val rawDist = Knn.distCol(col(corpusVec), col("qe"))
    val scored = corpus.crossJoin(broadcast(strategies))
      .withColumn("distance",
        if (roundTo >= 0) round(rawDist, roundTo) else rawDist)
      .drop("qe")
    val in = scored.schema
    val out = StructType(in.fields ++ Seq(
      StructField("score", DoubleType, in("distance").nullable),
      StructField("intra_rank", IntegerType, nullable = false)))
    val rank = Ranker(in, corpusId, dedupKey, overFetch, topK, scoreThreshold)
    scored.mapPartitions(rank.fetch)(Encoders.row(in))
      .repartition(1)
      .mapPartitions(rank.rerank)(Encoders.row(out))
  }

  /** One candidate row with its ranking keys in Spark's internal form. */
  private final class Cand(val row: Row, val sr: Any, val si: Any,
      val k: Long, val fetch: Long, val dist: Any, val id: Any) {
    def sub: (Any, Any) = (sr, si)
    var score = 0.0
    var intraRank = 0
  }

  /** Spark's ascending, nulls-first order on one column's values, made
    * per task from the column's type. */
  private final class Asc(dt: DataType) extends Serializable {
    @transient private lazy val toSpark =
      CatalystTypeConverters.createToCatalystConverter(dt)
    @transient private lazy val ord = PhysicalDataType.ordering(dt)
    def key(v: Any): Any = if (v == null) null else toSpark(v)
    def compare(a: Any, b: Any): Int =
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else ord.compare(a, b)
  }

  /** The ranking chain over rows of `in`: the corpus columns, the
    * strategy columns but `qe`, and `distance`. */
  private final case class Ranker(in: StructType, corpusId: String,
      dedupKey: String, overFetch: Int, topK: Int, scoreThreshold: Double) {
    private val Seq(srI, siI, kI, dI, idI, keyI) = Seq("strategy_rank",
      "sub_idx", "k", "distance", corpusId, dedupKey).map(in.fieldIndex)
    private val srAsc = new Asc(in(srI).dataType)
    private val siAsc = new Asc(in(siI).dataType)
    private val idAsc = new Asc(in(idI).dataType)
    private val distAsc = new Asc(DoubleType)
    require(!in(keyI).dataType.isInstanceOf[ArrayType] &&
      !in(keyI).dataType.isInstanceOf[MapType] &&
      !in(keyI).dataType.isInstanceOf[StructType],
      s"dedupKey $dedupKey must be a scalar column, not ${in(keyI).dataType}")

    private def cand(r: Row): Cand = {
      val k = if (r.isNullAt(kI)) 0L else r.getAs[Number](kI).longValue
      new Cand(r, srAsc.key(r.get(srI)), siAsc.key(r.get(siI)), k,
        k * overFetch, r.get(dI), idAsc.key(r.get(idI)))
    }

    /** V2 order: distance asc nulls first, then id asc. */
    @transient private lazy val byDistance: Ordering[Cand] = (a, b) => {
      val c = distAsc.compare(a.dist, b.dist)
      if (c != 0) c else idAsc.compare(a.id, b.id)
    }
    /** V5/M3 order: score desc, then id asc (scores are non-null here). */
    @transient private lazy val byScore: Ordering[Cand] = (a, b) => {
      val c = SQLOrderingUtil.compareDoubles(b.score, a.score)
      if (c != 0) c else idAsc.compare(a.id, b.id)
    }
    /** M2 concatenation order within a strategy. */
    @transient private lazy val bySubQuery: Ordering[Cand] = (a, b) => {
      val c = siAsc.compare(a.si, b.si)
      if (c != 0) c else byDistance.compare(a, b)
    }
    /** M2 first-occurrence order across strategies. */
    @transient private lazy val byOccurrence: Ordering[Cand] = (a, b) => {
      val c = srAsc.compare(a.sr, b.sr)
      if (c != 0) c else Integer.compare(a.intraRank, b.intraRank)
    }

    /** V2 over-fetch: the k·overFetch nearest rows of each sub-query. */
    private def nearest(rows: Iterator[Row]): Iterator[Iterable[Cand]] =
      Knn.topNPerKey(rows.map(cand))(_.sub, _.fetch)(byDistance).map(_._2)

    /** Stage 1, per corpus partition. */
    def fetch(rows: Iterator[Row]): Iterator[Row] =
      nearest(rows).flatMap(_.iterator.map(_.row))

    /** Stage 2, one task over every partition's survivors. */
    def rerank(rows: Iterator[Row]): Iterator[Row] = {
      val hits = nearest(rows).flatMap { cands =>
        // V3+V4: score map + threshold (a null distance fails it)
        val kept = cands.filter { c =>
          c.dist != null && {
            c.score = 1.0 - c.dist.asInstanceOf[Double]
            SQLOrderingUtil.compareDoubles(c.score, scoreThreshold) >= 0
          }
        }
        // V5: per-sub-query re-rank + truncate to k
        kept.toSeq.sorted(byScore).zipWithIndex
          .collect { case (c, i) if i < c.k => c }
      }.toSeq
      // M2: strategy-order concatenation position
      hits.groupBy(_.sr).values.foreach(_.sorted(bySubQuery).zipWithIndex
        .foreach { case (c, i) => c.intraRank = i + 1 })
      // M2: first-occurrence-wins dedup on the key; M3: final top-k
      hits.groupBy(c => groupKey(c.row.get(keyI))).values
        .map(_.min(byOccurrence)).toSeq.sorted(byScore).take(topK)
        .iterator.map(c => Row.fromSeq(c.row.toSeq :+ c.score :+ c.intraRank))
    }
  }

  /** A dedup key value made equal where Spark's partitioning makes it
    * equal: binary by content, −0.0 with 0.0 and every NaN with every
    * other (adding 0.0 turns −0.0 into 0.0; the bit pattern is taken with
    * NaNs collapsed to one). */
  private def groupKey(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case d: Double => java.lang.Double.doubleToLongBits(d + 0.0)
    case f: Float => java.lang.Float.floatToIntBits(f + 0.0f)
    case _ => v
  }
}
