package graft.search

import graft.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Positional phrase search — Milvus 2.5 `PHRASE_MATCH(field, phrase,
  * slop)` parity (the reference's engine grew first-class phrase queries
  * next to the TEXT_MATCH the keyword tier covers; the reference itself
  * does keyword-enhanced search at src/app.py:297-340). The artifact is
  * the [[Bm25Index]] postings layout extended with token POSITIONS:
  * `positions/` (id, term, pos) — one row per token occurrence, pos =
  * 0-based index in the whitespace token stream. Like the BM25 artifact
  * it absorbs new batches by parquet file APPEND (positions are
  * per-document, so appended docs never touch existing rows).
  *
  * Exact-phrase serving is ONE declarative plan with no joins beyond a
  * broadcast of the m query terms (Lucene's `PhraseQuery` anchor trick,
  * declarified): restrict postings to the phrase's terms (pushed `term
  * IN` — the only postings ever read), align every occurrence to its
  * candidate phrase start `anchor = pos - offset_in_phrase`, and a
  * (id, anchor) hash-agg keeps anchors where ALL m offsets are present —
  * each surviving anchor is one phrase occurrence. Cost at 100 TB: a
  * term-pruned scan + two hash-aggs, shuffled by id — no self-joins, no
  * per-document work on the driver, skew-free (anchors distribute with
  * the corpus).
  *
  * Sloppy pairs ([[slopTopK]]) are the windowed variant: anchor terms
  * join successor terms on id with `0 < p2 - p1 <= slop + 1` — ordered,
  * within `slop` intervening tokens (the Milvus/Lucene slop contract for
  * an ordered pair). Distinct anchors count once however many successors
  * land in the window, so the count is "phrase starts", same unit as the
  * exact tier.
  */
object Phrase {
  def positionsDir(indexDir: String): String = s"$indexDir/positions"

  private def positional(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    // Same token stream as Bm25Index: whitespace split, empties dropped.
    // posexplode AFTER the filter so pos is the index in the REAL token
    // sequence (matches the oracle's list_filter-then-range replay).
    val toks = TextAnalysis.wsTerms(col(textCol))
    docs.select(col(idCol).cast("long").as("id"),
      posexplode(toks).as(Seq("pos", "term")))
  }

  /** Build the positional artifact from scratch (overwrites). */
  def build(docs: DataFrame, idCol: String, textCol: String,
            indexDir: String): Unit =
    positional(docs, idCol, textCol)
      .write.mode("overwrite").parquet(positionsDir(indexDir))

  /** Absorb a new batch by file append — ids must be new (the
    * [[Bm25Index.append]] contract). */
  def append(batch: DataFrame, idCol: String, textCol: String,
             indexDir: String): Unit =
    // file appends land in the current published version of an aliased
    // root (reader-safe in place — the Bm25Index.append discipline)
    positional(batch, idCol, textCol)
      .write.mode("append").parquet(positionsDir(
        AliasedIndex.resolveDir(batch.sparkSession, indexDir)))

  /** Fold recorded tombstones into the positional artifact and clear
    * them — the phrase tier's compaction verb, alias-aware by default:
    * on a root with published versions the fold runs against a copy of
    * the current version and publishes atomically
    * ([[AliasedIndex.maintain]]); flat layouts fold in place. */
  def compactTombstones(spark: SparkSession, root: String): Unit =
    AliasedIndex.maintain(spark, root) { d =>
      Tombstones.compact(spark, d, positionsDir(d), Seq("id"))
      Tombstones.clear(spark, d)
    }

  /** Every (id, anchor) phrase occurrence — the shared core of the
    * exact-phrase family (anchor = 0-based position of the phrase's
    * first token). An anchor survives iff every phrase offset matched
    * there; countDistinct (not count) so a term repeated in the phrase
    * can't satisfy two offsets with one posting row. Tombstone-
    * masked. */
  def anchors(spark: SparkSession, indexDir0: String,
              phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty)
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    import spark.implicits._
    val m = phrase.length
    val q = phrase.zipWithIndex
      .map { case (t, i) => (t, i.toLong) }
      .toDF("term", "off")
    val postings = spark.read.parquet(positionsDir(indexDir))
      .where(col("term").isin(phrase.distinct: _*))
    val hits = postings
      .join(broadcast(q), "term")
      .withColumn("anchor", col("pos") - col("off"))
      .where(col("anchor") >= 0)
      .groupBy(col("id"), col("anchor"))
      .agg(countDistinct(col("off")).as("nmatch"))
      .where(col("nmatch") === m)
      .select(col("id"), col("anchor"))
    Tombstones.mask(hits, spark, indexDir, "id")
  }

  /** Exact-phrase top-k: docs containing `phrase` as consecutive tokens,
    * ranked by occurrence count desc (id tie-break). Returns
    * (id, nhits). */
  def topK(spark: SparkSession, indexDir: String, phrase: Seq[String],
           k: Int): DataFrame =
    anchors(spark, indexDir, phrase)
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("nhits"))
      .orderBy(col("nhits").desc, col("id").asc)
      .limit(k)

  /** ALL documents containing `phrase` (no top-k cut) — the FILTER form
    * of [[topK]], for composing phrase match with another scorer
    * (Lucene's `PhraseQuery`-as-clause). Returns a 1-column (id) frame,
    * tombstone-masked. */
  def matchingIds(spark: SparkSession, indexDir: String,
                  phrase: Seq[String]): DataFrame =
    anchors(spark, indexDir, phrase).select(col("id")).distinct()

  /** General m-term sloppy phrase top-k — the full Milvus
    * `PHRASE_MATCH(field, phrase, slop)` contract beyond pairs: terms
    * in ORDER with at most `slop` total intervening tokens
    * (p_last − p_first − (m−1) ≤ slop; slop 0 degenerates to the exact
    * anchor search). Plan: the postings restricted to the phrase's
    * terms (pushed `term IN`) self-join m−1 times ON ID with ascending
    * position conditions — each join leg is the same pruned scan, the
    * join keys are document ids so the work distributes with the
    * corpus, and the per-document fan-out is bounded by per-doc term
    * frequency (tiny for real phrases). nhits counts DISTINCT
    * first-term anchors, the [[slopTopK]] unit. Returns (id, nhits). */
  def slopPhraseTopK(spark: SparkSession, indexDir0: String,
                     phrase: Seq[String], slop: Int, k: Int): DataFrame = {
    require(phrase.nonEmpty && slop >= 0)
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val m = phrase.length
    val postings = spark.read.parquet(positionsDir(indexDir))
      .where(col("term").isin(phrase.distinct: _*))
    val legs = phrase.zipWithIndex.map { case (t, i) =>
      postings.where(col("term") === t)
        .select(col("id"), col("pos").as(s"p$i"))
    }
    val joined = legs.zipWithIndex.tail.foldLeft(legs.head) {
      case (acc, (leg, i)) =>
        acc.join(leg, Seq("id")).where(col(s"p$i") > col(s"p${i - 1}"))
    }
    val scored = joined
      .where(col(s"p${m - 1}") - col("p0") - (m - 1) <= slop)
      .groupBy(col("id"))
      .agg(countDistinct(col("p0")).cast("long").as("nhits"))
    Tombstones.mask(scored, spark, indexDir, "id")
      .orderBy(col("nhits").desc, col("id").asc)
      .limit(k)
  }

  /** Sloppy ordered-pair top-k: docs where `second` follows `first`
    * within `slop` intervening tokens; nhits counts DISTINCT first-term
    * anchors. Returns (id, nhits). */
  def slopTopK(spark: SparkSession, indexDir0: String, first: String,
               second: String, slop: Int, k: Int): DataFrame = {
    require(slop >= 0)
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val postings = spark.read.parquet(positionsDir(indexDir))
      .where(col("term").isin(Seq(first, second).distinct: _*))
    val p1 = postings.where(col("term") === first)
      .select(col("id"), col("pos").as("p1"))
    val p2 = postings.where(col("term") === second)
      .select(col("id"), col("pos").as("p2"))
    val scored = p1.join(p2, Seq("id"))
      .where(col("p2") > col("p1") &&
        col("p2") - col("p1") <= slop + 1)
      .groupBy(col("id"))
      .agg(countDistinct(col("p1")).cast("long").as("nhits"))
    Tombstones.mask(scored, spark, indexDir, "id")
      .orderBy(col("nhits").desc, col("id").asc)
      .limit(k)
  }
}
