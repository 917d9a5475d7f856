package graft.search

import graft.text.TextAnalysis
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Okapi BM25 keyword scoring + reciprocal-rank fusion — the "hybrid
  * search" surface modern vector stores pair with ANN retrieval (dense
  * scores and lexical scores fused by rank, not by incomparable raw
  * values).
  *
  * Scale shape: tokens are filtered to the QUERY terms before any
  * aggregate, so tf/df state is O(query terms × matching docs), never
  * corpus-wide; corpus stats (N, avg doc length) are one aggregate row
  * broadcast into the score join. avgdl is computed as exact-long token
  * sum ÷ count — not a floating avg(), whose summation order would
  * differ between engines/runs and flip rounded scores. Scores are
  * rounded to 4 decimals BEFORE ranking so cross-engine libm (ln) ulp
  * differences cannot reorder ranks (ties break by id).
  */
object Bm25 {
  /** Per-doc BM25 over whitespace tokens: (id, bm25), docs with no query
    * term absent. IDF is the standard smoothed ln((N-df+0.5)/(df+0.5)+1). */
  def score(docs: DataFrame, idCol: String, textCol: String,
            terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame =
    // empty tokens (leading-whitespace split artifacts) are excluded
    // from BOTH tf and dl, so dl is a true term count
    scoreTokens(docs, idCol,
      TextAnalysis.wsTerms(col(textCol)), terms, k1, b)

  /** [[score]] over an arbitrary token-array Column — the seam a
    * configurable analysis chain ([[graft.text.Analyzer]]) plugs into:
    * dl/avgdl/tf/df all derive from the SAME analyzed tokens, so the
    * scoring statistics see exactly what the tokenizer kept. */
  def scoreTokens(docs: DataFrame, idCol: String, toks: Column,
                  terms: Seq[String], k1: Double = 1.2,
                  b: Double = 0.75): DataFrame = {
    val tf = docs.select(col(idCol).as("id"), explode(toks).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_"))
    val dlen = docs.select(col(idCol).as("id"),
      size(toks).cast("double").as("dl"))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(size(toks).cast("long")).cast("double")
        / count(lit(1)).cast("double")).as("avgdl"))
    val idf = log((col("n_docs") - col("df_") + 0.5) / (col("df_") + 0.5) + 1.0)
    tf.join(dfreq, "term")
      .join(dlen, "id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        idf * (col("tf") * lit(k1 + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("id"))
      .agg(round(sum(col("contrib")), 4).as("bm25"))
  }

  /** Rank the top `n` rows of `scored` by (scoreCol dir, id asc); the
    * window runs AFTER the limit, over n rows — never corpus-wide. */
  def topRanks(scored: DataFrame, scoreCol: String, n: Int,
               ascending: Boolean, rankCol: String): DataFrame = {
    val key = if (ascending) col(scoreCol).asc else col(scoreCol).desc
    scored.orderBy(key, col("id").asc).limit(n)
      .withColumn(rankCol,
        row_number().over(Window.orderBy(key, col("id").asc)).cast("long"))
      .select(col("id"), col(rankCol))
  }

  /** Reciprocal-rank fusion of two rank lists: Σ 1/(k + rank) over the
    * lists containing the doc. Delegates to the N-leg [[rrfFuseN]]
    * (Milvus `hybrid_search` takes a LIST of requests under one
    * RRFRanker; two legs are just the smallest list) — the pair call
    * is bit-identical to the pre-N-leg implementation (KnnSpec pins
    * it): one full-outer join, the same left-to-right coalesce sum,
    * one final 6-decimal round. */
  def rrfFuse(a: DataFrame, rankA: String, b: DataFrame, rankB: String,
              k: Int = 60): DataFrame =
    rrfFuseN(Seq(a -> rankA, b -> rankB), k)

  /** N-leg reciprocal-rank fusion — the Milvus `hybrid_search`
    * RRFRanker over an arbitrary request list: each leg is a
    * (rank list, rank column) pair; a doc's fused score is
    * Σᵢ 1/(k + rankᵢ) over the legs containing it. Output:
    * (id, rrf, rank₁ … rankₙ), rank columns null where a leg missed.
    *
    * Join safety (round-16 advisory): each leg is internally
    * projected to exactly (id, its rank column) BEFORE the join, so
    * extra same-named columns on the inputs can never make the fused
    * select ambiguous; the rank column names themselves must be
    * pairwise distinct (required loudly — they name the output).
    * Plan: n−1 full-outer equi-joins of k-bounded lists — fusion
    * work is O(Σ leg sizes), never corpus-shaped. */
  def rrfFuseN(legs: Seq[(DataFrame, String)], k: Int = 60): DataFrame = {
    val names = legs.map(_._2)
    require(legs.size >= 2, s"rrfFuseN: need >= 2 legs, got ${legs.size}")
    require(names.distinct.size == names.size,
      s"rrfFuseN: rank column names must be distinct, got $names")
    val joined = legs.map { case (df, rc) => df.select(col("id"), col(rc)) }
      .reduce(_.join(_, Seq("id"), "full_outer"))
    val contribs = names
      .map(rc => coalesce(lit(1.0) / (lit(k.toDouble) + col(rc)), lit(0.0)))
    joined.select(
      col("id") +: round(contribs.reduce(_ + _), 6).as("rrf") +:
        names.map(col): _*)
  }

  /** Milvus's L2 score normalization for WeightedRanker fusion
    * (documented arctan mapping: distance 0 → 1.0, large distances →
    * 0): `1 − 2·atan(√d)/π`. */
  def normalizeL2(d: Column): Column =
    lit(1.0) - lit(2.0) * atan(sqrt(d)) / lit(math.Pi)

  /** Milvus's IP/COSINE score normalization for WeightedRanker fusion:
    * `(1 + s) / 2` — for scores already in [−1, 1] (cosine, or IP over
    * unit-normalized vectors, the Milvus contract). For UNBOUNDED
    * similarity scores use [[normalizeUnbounded]] instead: (1+s)/2
    * exceeds 1 there and the fusion weights stop bounding leg
    * influence. */
  def normalizeIp(s: Column): Column = (lit(1.0) + s) / lit(2.0)

  /** Arctan normalization for UNBOUNDED non-negative similarity scores
    * (raw inner products, BM25, sparse dot products): `2·atan(s)/π`
    * maps [0, ∞) monotonically onto [0, 1) — the same arctan squash
    * Milvus documents for its unbounded-metric normalization, so a
    * weighted leg can never exceed its weight. */
  def normalizeUnbounded(s: Column): Column =
    lit(2.0) * atan(s) / lit(math.Pi)

  /** WEIGHTED score fusion of two scored lists — Milvus's
    * `WeightedRanker` (the RRFRanker's sibling in the 2.4 hybrid-search
    * API): each leg's raw metric score is first normalized to [0, 1]
    * with the metric's mapping ([[normalizeL2]] / [[normalizeIp]],
    * applied by the CALLER so legs with different metrics compose),
    * then fused as `Σ wᵢ · normalized_scoreᵢ`, a doc missing from a
    * leg contributing 0 for it. Unlike RRF this preserves score
    * MAGNITUDE (a dominant leg hit outranks two mediocre ones), which
    * is why Milvus offers both. Delegates to the N-leg
    * [[weightedFuseN]]; the pair call is bit-identical to the
    * pre-N-leg implementation (one full-outer join, the same
    * left-to-right weighted coalesce sum, one 6-decimal round). */
  def weightedFuse(a: DataFrame, scoreA: String, wA: Double,
                   b: DataFrame, scoreB: String, wB: Double): DataFrame =
    weightedFuseN(Seq((a, scoreA, wA), (b, scoreB, wB)))

  /** N-leg weighted score fusion — Milvus's `WeightedRanker` over an
    * arbitrary `hybrid_search` request list: each leg is a
    * (scored list, normalized-score column, weight) triple; fused =
    * Σᵢ wᵢ · scoreᵢ, a doc missing from a leg contributing 0 for it.
    * Callers normalize each leg to [0, 1] FIRST with its metric's
    * mapping ([[normalizeL2]] / [[normalizeIp]] /
    * [[normalizeUnbounded]]) so legs with different metrics compose
    * and no leg can exceed its weight. Output: (id, fused,
    * score₁ … scoreₙ). Same join-safety contract as [[rrfFuseN]]:
    * legs are projected to (id, score) before joining, score column
    * names must be pairwise distinct. */
  def weightedFuseN(legs: Seq[(DataFrame, String, Double)]): DataFrame = {
    val names = legs.map(_._2)
    require(legs.size >= 2,
      s"weightedFuseN: need >= 2 legs, got ${legs.size}")
    require(names.distinct.size == names.size,
      s"weightedFuseN: score column names must be distinct, got $names")
    val joined = legs.map { case (df, sc, _) => df.select(col("id"), col(sc)) }
      .reduce(_.join(_, Seq("id"), "full_outer"))
    val contribs = legs.map { case (_, sc, w) =>
      coalesce(col(sc) * w, lit(0.0))
    }
    joined.select(
      col("id") +: round(contribs.reduce(_ + _), 6).as("fused") +:
        names.map(col): _*)
  }
}
