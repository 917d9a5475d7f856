package graft.search

import graft.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental BM25 index — the lexical-search analogue of
  * [[IvfIndex.append]] and [[GraphAnn.append]], completing the
  * every-index-maintains-incrementally discipline (the reference's
  * keyword-enhanced search, src/app.py:297-340, rebuilds nothing
  * because Milvus owns its inverted structures; this is that
  * maintenance surface made explicit). Tokenization happens
  * ONCE per document at ingest, the artifact absorbs new batches by
  * parquet FILE APPEND (no rewrite, no re-tokenization of the existing
  * corpus), and every corpus statistic BM25 needs is derivable from the
  * artifact alone.
  *
  * Layout:
  *   - `postings/` (id, term, tf) — the inverted index rows
  *   - `doclen/`   (id, dl)      — per-doc token counts
  *
  * df(term) and (N, avgdl) are computed at query time FROM the artifact:
  * df from the postings restricted to the query terms (a pushed `term
  * IN (...)` filter — the only postings ever read), N/avgdl from the
  * doclen table (1 row per doc; the exact-long-sum ÷ count discipline of
  * [[Bm25.score]], so merged batches can never drift a floating
  * accumulator). Because BOTH statistics are pure aggregates of appended
  * rows, append-then-search equals rebuild-then-search EXACTLY — the
  * mergeable-stats property `incremental_agg_merge` pins for plain
  * aggregates, applied to a ranking index.
  *
  * Scale shape (100 TB): ingest tokenizes only the new batch; search
  * reads `terms`-matching postings (pushed filter) + the doclen
  * aggregate. At warehouse scale doclen's (N, sum dl) would fold into a
  * running 1-row stats file per append; kept derivational here so the
  * artifact has no state row to corrupt.
  */
object Bm25Index {
  def postingsDir(indexDir: String): String = s"$indexDir/postings"
  def doclenDir(indexDir: String): String = s"$indexDir/doclen"

  // Explicit reader schemas — this object's own writer contract
  // (round 16, fixed-cost audit: schema inference's footer job per
  // read is pure metadata I/O on every BM25 serve).
  private val postingsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("id", LongType),
      StructField("term", StringType), StructField("tf", LongType)))
  }
  private val doclenSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("id", LongType),
      StructField("dl", LongType)))
  }
  private val fieldedPostingsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("id", LongType),
      StructField("field", StringType), StructField("term", StringType),
      StructField("tf", LongType)))
  }
  private val fieldedDoclenSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("id", LongType),
      StructField("field", StringType), StructField("dl", LongType)))
  }

  private def tokenize(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    // dl counts REAL terms only: split on leading whitespace yields an
    // empty first token, which postings drops — dl must drop it too or
    // the artifact's "per-doc token count" silently over-counts.
    // ONE tokenize pass shared by both artifacts (round 17): postings
    // and doclen each consume the split through their own write action,
    // so the un-checkpointed pair ran the tokenize twice per
    // build/append (the FullText.appendFrom materialize-once
    // discipline). Build pays one corpus-bounded materialization;
    // appends are micro-batch-bounded.
    val toks = TextAnalysis.wsTerms(col(textCol))
    val base = docs.select(col(idCol).cast("long").as("id"),
      toks.as("__tk")).localCheckpoint(true)
    val postings = base
      .select(col("id"), explode(col("__tk")).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val doclen = base.select(col("id"),
      size(col("__tk")).cast("long").as("dl"))
    (postings, doclen)
  }

  /** The two artifact writes are independent dirs — submit them
    * concurrently (guide §2.6, the streaming-ingest overlap precedent:
    * wall-clock is max(p, d) instead of p + d; the crash window —
    * one artifact ahead of the other until a re-run — is the same
    * either way, only its ordering changes). */
  private def writeBoth(p: DataFrame, d: DataFrame, indexDir: String,
                        mode: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fp = Future { p.write.mode(mode).parquet(postingsDir(indexDir)) }
    val fd = Future { d.write.mode(mode).parquet(doclenDir(indexDir)) }
    Await.result(fp, Duration.Inf)
    Await.result(fd, Duration.Inf)
  }

  /** Build the artifact from scratch (overwrites). */
  def build(docs: DataFrame, idCol: String, textCol: String,
            indexDir: String): Unit = {
    val (p, d) = tokenize(docs, idCol, textCol)
    writeBoth(p, d, indexDir, "overwrite")
  }

  /** Absorb a new batch: tokenize ONLY the batch, append its rows.
    * Ids must be new (same contract as Collection.append — dedup is the
    * upsert/dedup family's job, not the index's). */
  def append(batch: DataFrame, idCol: String, textCol: String,
             indexDir0: String): Unit = {
    // appends land in the CURRENT published version when the root is
    // aliased: a pure file append is reader-safe in place (a reader's
    // plan lists files once), so it needs no version copy — only
    // rewrite verbs pay the AliasedIndex.maintain discipline
    val indexDir = AliasedIndex.resolveDir(batch.sparkSession, indexDir0)
    val (p, d) = tokenize(batch, idCol, textCol)
    p.write.mode("append").parquet(postingsDir(indexDir))
    d.write.mode("append").parquet(doclenDir(indexDir))
  }

  /** Fold recorded tombstones into postings + doclen and clear them —
    * the lexical family's compaction verb, alias-aware by DEFAULT: on a
    * root with published versions both folds run against a copy of the
    * current version and publish atomically ([[AliasedIndex.maintain]]
    * — readers never see the per-artifact rename-aside instants, or a
    * state where postings folded but doclen didn't); flat layouts fold
    * in place, both artifacts before the clear (the [[Tombstones
    * .clear]] contract). */
  def compactTombstones(spark: SparkSession, root: String): Unit =
    AliasedIndex.maintain(spark, root) { d =>
      Tombstones.compact(spark, d, postingsDir(d), Seq("id"))
      Tombstones.compact(spark, d, doclenDir(d), Seq("id"))
      Tombstones.clear(spark, d)
    }

  // --- BM25F: field-weighted lexical scoring over a per-field artifact
  // (Robertson & Zaragoza 2009 §5.4 / Zaragoza et al., TREC 2004 —
  // "simple BM25F": per-field length-normalized tf, field weights
  // applied BEFORE the saturation, one shared k1). The reference's rows
  // are two text fields (chapter + content, src/app.py:101-102); a
  // title hit should outrank a body hit, which flat BM25 over
  // concatenated text cannot express.

  /** Tokenize one batch per field: postings (id, field, term, tf) and
    * doclen (id, field, dl) — the [[tokenize]] shape with a field tag,
    * one row pair per (doc, field) even when a field is empty (dl 0),
    * so N derives from the artifact. */
  private def tokenizeFielded(docs: DataFrame, idCol: String,
                              fieldCols: Seq[String])
      : (DataFrame, DataFrame) = {
    require(fieldCols.nonEmpty)
    val parts = fieldCols.map { f =>
      val toks = TextAnalysis.wsTerms(col(f))
      val p = docs.select(col(idCol).cast("long").as("id"),
          lit(f).as("field"), explode(toks).as("term"))
        .groupBy(col("id"), col("field"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val d = docs.select(col(idCol).cast("long").as("id"),
        lit(f).as("field"), size(toks).cast("long").as("dl"))
      (p, d)
    }
    (parts.map(_._1).reduce(_ unionByName _),
      parts.map(_._2).reduce(_ unionByName _))
  }

  /** Build the per-field artifact from scratch (overwrites). */
  def buildFielded(docs: DataFrame, idCol: String, fieldCols: Seq[String],
                   indexDir: String): Unit = {
    val (p, d) = tokenizeFielded(docs, idCol, fieldCols)
    p.write.mode("overwrite").parquet(postingsDir(indexDir))
    d.write.mode("overwrite").parquet(doclenDir(indexDir))
  }

  /** Absorb a new batch by file append — the [[append]] contract,
    * fielded. */
  def appendFielded(batch: DataFrame, idCol: String,
                    fieldCols: Seq[String], indexDir0: String): Unit = {
    // aliased-root resolution, exactly like [[append]]: a fielded append
    // against an aliased root must land in the SERVED version dir, or
    // the update is silently invisible to searchFielded's resolved path
    val indexDir = AliasedIndex.resolveDir(batch.sparkSession, indexDir0)
    val (p, d) = tokenizeFielded(batch, idCol, fieldCols)
    p.write.mode("append").parquet(postingsDir(indexDir))
    d.write.mode("append").parquet(doclenDir(indexDir))
  }

  /** BM25F top-k for `terms` from the fielded artifact alone:
    * tf̃(t,d) = Σ_f w_f · tf_f / (1 − b + b · dl_f/avgdl_f), score =
    * Σ_t idf(t) · tf̃ / (k1 + tf̃) with the document-level smoothed idf
    * (df = docs containing t in ANY field). Statistics (per-field N,
    * Σdl; document N; df) are pure aggregates of appended rows, so
    * append-then-search equals rebuild-then-search exactly — the
    * [[search]] discipline, fielded. Returns (id, bm25f). */
  def searchFielded(spark: SparkSession, indexDir0: String,
                    terms: Seq[String], k: Int,
                    fieldWeights: Seq[(String, Double)],
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(fieldWeights.nonEmpty)
    // aliased-root resolution (the default serving discipline): an
    // index root with publish markers serves its current version
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val postings = spark.read.schema(fieldedPostingsSchema)
      .parquet(postingsDir(indexDir))
      .where(col("term").isin(terms: _*))
    val doclen = spark.read.schema(fieldedDoclenSchema)
      .parquet(doclenDir(indexDir))
    val nDocs = doclen.agg(
      countDistinct(col("id")).cast("double").as("n_docs"))
    val fstats = doclen.groupBy(col("field")).agg(
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    val dfreq = postings.groupBy(col("term"))
      .agg(countDistinct(col("id")).as("df_"))
    val wCol = fieldWeights.tail.foldLeft(
        when(col("field") === fieldWeights.head._1,
          lit(fieldWeights.head._2))) { case (acc, (f, w)) =>
      acc.when(col("field") === f, lit(w))
    }.otherwise(lit(0.0))
    val tft = postings
      .join(doclen, Seq("id", "field"))
      .join(broadcast(fstats), "field")
      .withColumn("tfw", wCol * col("tf").cast("double")
        / (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
      .groupBy(col("id"), col("term"))
      .agg(sum(col("tfw")).as("tft"))
    val idf = log((col("n_docs") - col("df_") + 0.5) / (col("df_") + 0.5)
      + 1.0)
    val scored = tft.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("contrib", idf * col("tft") / (lit(k1) + col("tft")))
      .groupBy(col("id"))
      .agg(round(sum(col("contrib")), 4).as("bm25f"))
    Tombstones.mask(scored, spark, indexDir, "id")
      .orderBy(col("bm25f").desc, col("id").asc)
      .limit(k)
  }

  /** BM25 top-k for `terms` from the artifact alone (see object doc).
    * Returns (id, bm25), score-desc with id tie-break. `idFilter`
    * (1-column id frame) restricts the RANKED documents while the
    * statistics (df, N, avgdl) stay corpus-wide — the Lucene contract
    * for a scoring query under a filter clause (a phrase match, a
    * metadata predicate): the filter changes who competes, never how
    * scores are computed. */
  def search(spark: SparkSession, indexDir0: String, terms: Seq[String],
             k: Int, k1: Double = 1.2, b: Double = 0.75,
             idFilter: Option[DataFrame] = None): DataFrame = {
    // aliased-root resolution — see [[searchFielded]]
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val postings = spark.read.schema(postingsSchema)
      .parquet(postingsDir(indexDir))
      .where(col("term").isin(terms: _*))
    val doclen = spark.read.schema(doclenSchema)
      .parquet(doclenDir(indexDir))
    val stats = doclen.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df_"))
    val idf = log((col("n_docs") - col("df_") + 0.5) / (col("df_") + 0.5)
      + 1.0)
    val scored = postings
      .join(dfreq, "term")
      .join(doclen, "id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        idf * (col("tf") * lit(k1 + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0 - b)
            + lit(b) * col("dl").cast("double") / col("avgdl"))))
      .groupBy(col("id"))
      .agg(round(sum(col("contrib")), 4).as("bm25"))
    val filtered = idFilter match {
      case Some(ids) =>
        scored.join(ids.toDF("id"), Seq("id"), "left_semi")
      case None => scored
    }
    // Tombstone mask (delete propagation): scores keep the STALE
    // artifact's statistics — Milvus's masked-serve semantics — and only
    // the deleted DOCUMENTS vanish from the ranking; no-op when none.
    Tombstones.mask(filtered, spark, indexDir, "id")
      .orderBy(col("bm25").desc, col("id").asc)
      .limit(k)
  }
}
