package graft.search

import graft.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** BM25 over the lexical tier's one artifact, plus the field-weighted
  * BM25F variant with its own per-field layout. The unfielded scorer
  * owns no storage: [[TermIndex]] writes (and compacts, and folds
  * tombstones out of) the (id, term, tf, pos) term rows and the
  * (id, dl) doclen rows it reads — the reference's keyword-enhanced
  * search (src/app.py:297-340) is this ranking over that maintained
  * artifact.
  *
  * df(term) and (N, avgdl) are computed at query time FROM the artifact:
  * df from the term rows restricted to the query terms (a pushed `term
  * IN (...)` filter — the only term rows ever read, and column pruning
  * keeps the scan off `pos`), N/avgdl from doclen (1 row per doc,
  * zero-token docs included; the exact-long-sum ÷ count discipline of
  * [[Bm25.score]], so merged batches can never drift a floating
  * accumulator). Because BOTH statistics are pure aggregates of appended
  * rows, append-then-search equals rebuild-then-search EXACTLY — the
  * mergeable-stats property `incremental_agg_merge` pins for plain
  * aggregates, applied to a ranking index.
  */
object Bm25Index {
  /** The FIELDED layout's dirs: `postings/` (id, field, term, tf) and
    * `doclen/` (id, field, dl). */
  def postingsDir(indexDir: String): String = s"$indexDir/postings"
  def doclenDir(indexDir: String): String = s"$indexDir/doclen"

  // Explicit reader schemas — this object's own writer contract
  // (schema inference's footer job per read is pure metadata I/O on
  // every serve).
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

  // --- BM25F: field-weighted lexical scoring over a per-field artifact
  // (Robertson & Zaragoza 2009 §5.4 / Zaragoza et al., TREC 2004 —
  // "simple BM25F": per-field length-normalized tf, field weights
  // applied BEFORE the saturation, one shared k1). The reference's rows
  // are two text fields (chapter + content, src/app.py:101-102); a
  // title hit should outrank a body hit, which flat BM25 over
  // concatenated text cannot express.

  /** Tokenize one batch per field: postings (id, field, term, tf) and
    * doclen (id, field, dl), one row pair per (doc, field) even when a
    * field is empty (dl 0), so N derives from the artifact. */
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

  /** Absorb a new batch by file append — the [[TermIndex.append]]
    * contract (ids must be new), fielded. */
  def appendFielded(batch: DataFrame, idCol: String,
                    fieldCols: Seq[String], indexDir0: String): Unit = {
    // aliased-root resolution, exactly like [[TermIndex.append]]: a
    // fielded append against an aliased root must land in the SERVED
    // version dir, or the update is silently invisible to
    // searchFielded's resolved path
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
    val postings = TermIndex.postings(spark, indexDir)
      .where(col("term").isin(terms: _*))
      .select(col("id"), col("term"), col("tf"))
    val doclen = TermIndex.doclen(spark, indexDir)
      .select(col("id"), col("dl"))
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
