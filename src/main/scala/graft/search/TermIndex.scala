package graft.search

import graft.core.Artifacts
import graft.text.TextAnalysis
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The lexical tier's ONE unfielded store and its only writer: "term t
  * occurs in doc d at these positions" (the reference's keyword-enhanced
  * search, src/app.py:297-340, needs exactly this fact). Every unfielded
  * lexical reader serves from it — [[Bm25Index.search]] reads (id, term,
  * tf), [[Phrase]] reads (id, term, pos), and the prefix, suffix, fuzzy
  * and infix match modes here read (id, term, tf) — so a batch is
  * tokenized once, stored once, and deleted once.
  *
  * Layout (pinned reader schemas below; the writer is this object):
  *   - `terms/seg=n/` (id, term, tf, pos: array<int>) — one row per
  *     (doc, term) pair, pos = the sorted 0-based indexes of the term in
  *     the doc's whitespace token stream, tf = their count. Each segment
  *     is range-partitioned by term into at most [[nFiles]] files and
  *     sorted by (term, id) within each, so `term IN (...)` and
  *     `term LIKE 'abc%'` resolve by footer min/max pruning (the
  *     `sorted_scan_prune` discipline on a lexical artifact — Lucene's
  *     term-dictionary range scan). Column pruning keeps tf-only readers
  *     off `pos`.
  *   - `doclen/seg=n/` (id, dl) — per-doc token counts, segment-aligned
  *     with `terms/`. It stays beside the term rows because BM25's N
  *     must count documents with ZERO tokens, which have no term row.
  *   - derived views, rebuilt from the artifact rather than from the
  *     documents: `postings_rsorted/` ([[buildSortedReversed]], suffix
  *     match) and `trigrams/` ([[buildTrigrams]], infix match).
  *
  * Segments follow the Lucene model: a batch arrives as its OWN sorted
  * segment ([[append]]; a raw file append would interleave term ranges
  * and void the pruning), [[writeSegment]] is the replay-safe form for
  * at-least-once ingest, and [[compactSegments]] merges. Ids must be new
  * per segment, so an (id, term) row never straddles segments and
  * serving needs no cross-segment merge of tf. Every corpus statistic
  * is an aggregate of appended rows, so append-then-search equals
  * rebuild-then-search exactly. Deletes are index tombstones
  * ([[Tombstones]]): every reader masks them, and [[compactTombstones]]
  * folds them out of every id-bearing layout in the directory before it
  * clears them.
  *
  * Scale shape (100 TB): ingest tokenizes only the new batch; a query
  * reads the segments' files whose term range intersects its terms, plus
  * the doclen aggregate for BM25.
  */
object TermIndex {
  def termsDir(indexDir: String): String = s"$indexDir/terms"
  def doclenDir(indexDir: String): String = s"$indexDir/doclen"
  def reversedPostingsDir(indexDir: String): String =
    s"$indexDir/postings_rsorted"
  def trigramsDir(indexDir: String): String = s"$indexDir/trigrams"

  /** Files per sorted segment / derived layout, at most (one contiguous
    * term range each). */
  private val nFiles = 8

  // Explicit reader schemas — this object's own writer contract, so a
  // read plans without a schema-inference job. `seg` is the segment
  // partition column.
  private val termsSchema = StructType(Seq(
    StructField("id", LongType), StructField("term", StringType),
    StructField("tf", LongType),
    StructField("pos", ArrayType(IntegerType)),
    StructField("seg", IntegerType)))
  private val doclenSchema = StructType(Seq(
    StructField("id", LongType), StructField("dl", LongType),
    StructField("seg", IntegerType)))
  private val reversedSchema = StructType(Seq(
    StructField("id", LongType), StructField("rterm", StringType),
    StructField("tf", LongType)))
  private val trigramSchema = StructType(Seq(
    StructField("term", StringType), StructField("gram", StringType)))

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def segDir(dir: String, n: Int): String = s"$dir/seg=$n"

  /** The artifact's term rows (id, term, tf, pos, seg) across every
    * segment of the served version of `indexDir`. Unmasked — the
    * searches apply the tombstone mask. */
  def postings(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(termsSchema)
      .parquet(termsDir(AliasedIndex.resolveDir(spark, indexDir)))

  /** The per-doc token counts (id, dl, seg) of the served version. */
  def doclen(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(doclenSchema)
      .parquet(doclenDir(AliasedIndex.resolveDir(spark, indexDir)))

  /** Range-partition by `key` into [[nFiles]] files, sorted by
    * (key, id) within each. */
  private def sortedBy(df: DataFrame, key: String): DataFrame =
    df.repartitionByRange(nFiles, col(key))
      .sortWithinPartitions(col(key), col("id"))

  /** Write `batch` as segment `n` of the artifact at the resolved
    * `indexDir`: ONE tokenization pass (`wsTerms`, checkpointed on its
    * first use) feeds both layouts. The term rows group AFTER the range
    * exchange — range partitioning on term already clusters every
    * (id, term) group, so the aggregate adds no second shuffle. A
    * segment gets one file per batch partition, at most [[nFiles]]: a
    * one-partition micro-batch lands as one sorted file, with no
    * exchange at all, instead of [[nFiles]] slivers. doclen
    * is written first and the term segment last, so a segment whose
    * `terms/seg=n` exists is complete, and a crashed write is simply
    * rewritten by the next one keyed on the same `n`. */
  private def writeSeg(batch: DataFrame, idCol: String, textCol: String,
                       indexDir: String, n: Int): Unit = {
    val toks = batch.select(col(idCol).cast("long").as("id"),
        TextAnalysis.wsTerms(col(textCol)).as("__tk"))
      .localCheckpoint(eager = false)
    toks.select(col("id"), size(col("__tk")).cast("long").as("dl"))
      .write.mode("overwrite").parquet(segDir(doclenDir(indexDir), n))
    // posexplode of the filtered token array: pos is the index in the
    // REAL token sequence (the oracles' list_filter-then-range replay)
    val occ = toks.select(col("id"),
      posexplode(col("__tk")).as(Seq("p", "term")))
    val files = math.min(nFiles, toks.rdd.getNumPartitions)
    // coalesce(1) reports a single partition, which already clusters
    // every (id, term) group: the aggregate plans no exchange
    (if (files <= 1) occ.coalesce(1)
     else occ.repartitionByRange(files, col("term")))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("p"))).as("pos"))
      .sortWithinPartitions(col("term"), col("id"))
      .write.mode("overwrite").parquet(segDir(termsDir(indexDir), n))
  }

  /** Build the artifact from scratch as segment 0, replacing every
    * layout this object owns under `indexDir` (the derived views too —
    * they would describe the replaced artifact). Tombstones are the
    * index's, not the artifact's, and stay. */
  def build(docs: DataFrame, idCol: String, textCol: String,
            indexDir: String): Unit = {
    val fs = fsOf(docs.sparkSession, indexDir)
    Seq(termsDir(indexDir), doclenDir(indexDir),
      reversedPostingsDir(indexDir), trigramsDir(indexDir))
      .foreach(d => fs.delete(new Path(d), true))
    writeSeg(docs, idCol, textCol, indexDir, 0)
  }

  /** Absorb a new batch as the next segment — tokenize ONLY the batch,
    * existing segments untouched (segment 0 of an empty index). Ids must
    * be new (the same contract as Collection.append — dedup is the
    * upsert family's job). Lands in the CURRENT published version of an
    * aliased root: a new `seg=N` dir is invisible to a reader that
    * already listed segments, so an append pays no version copy. */
  def append(batch: DataFrame, idCol: String, textCol: String,
             indexDir0: String): Unit = {
    val indexDir = AliasedIndex.resolveDir(batch.sparkSession, indexDir0)
    val next = segments(batch.sparkSession, indexDir).maxOption
      .getOrElse(-1) + 1
    writeSeg(batch, idCol, textCol, indexDir, next)
  }

  /** Write a batch as segment `n` EXACTLY — the idempotent form of
    * [[append]] for at-least-once ingest (Structured Streaming's
    * foreachBatch can REPLAY a micro-batch after a failure; an append
    * keyed on the current max segment would land the replay as a NEW
    * segment with the same doc ids, double-counting tf and N). Keying
    * the segment number on the stream's batchId makes a replay
    * overwrite its own segment — Spark's own idempotent-sink
    * discipline. Aliased-root aware, like [[append]]. */
  def writeSegment(batch: DataFrame, idCol: String, textCol: String,
                   indexDir0: String, n: Int): Unit =
    writeSeg(batch, idCol, textCol,
      AliasedIndex.resolveDir(batch.sparkSession, indexDir0), n)

  /** Existing segment numbers, ascending (empty when nothing is
    * built). */
  def segments(spark: SparkSession, indexDir: String): Seq[Int] = {
    val d = new Path(termsDir(indexDir))
    val fs = fsOf(spark, indexDir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .collect {
        case s if s.startsWith("seg=")
          && s.stripPrefix("seg=").forall(_.isDigit) =>
          s.stripPrefix("seg=").toInt
      }.sorted
  }

  /** Fold every segment into a single re-sorted segment 0 (terms and
    * doclen alike) — the segment merge. After this a query pays one
    * segment's footer reads again. Alias-aware by default: on a root
    * with published versions the rewrite runs against a copy of the
    * current version and publishes atomically; a flat layout compacts
    * in place with the documented single-writer rename-aside window. */
  def compactSegments(spark: SparkSession, indexDir: String): Unit =
    AliasedIndex.maintain(spark, indexDir)(fold(spark, _, expunge = false))

  /** Fold the recorded tombstones out of every id-bearing layout of the
    * directory — the term segments, doclen and the reversed view (the
    * trigram dictionary holds no ids) — merging segments on the way,
    * and only THEN clear them ([[Tombstones.clear]]'s contract: a
    * layout left unfolded would serve the deleted ids again).
    * Alias-aware like [[compactSegments]], so a reader never sees the
    * terms folded but doclen not. */
  def compactTombstones(spark: SparkSession, root: String): Unit =
    AliasedIndex.maintain(spark, root)(fold(spark, _, expunge = true))

  private def fold(spark: SparkSession, d: String, expunge: Boolean)
      : Unit = {
    val fs = fsOf(spark, d)
    val dead =
      if (expunge && Tombstones.exist(spark, d))
        Some(Tombstones.table(spark, d, "id"))
      else None
    def live(df: DataFrame): DataFrame =
      dead.fold(df)(Tombstones.maskWith(df, _, "id"))
    rewrite(fs, termsDir(d)) { tmp =>
      sortedBy(live(postings(spark, d).drop("seg")), "term")
        .write.mode("overwrite").parquet(segDir(tmp, 0))
    }
    rewrite(fs, doclenDir(d)) { tmp =>
      live(doclen(spark, d).drop("seg"))
        .write.mode("overwrite").parquet(segDir(tmp, 0))
    }
    if (fs.exists(new Path(reversedPostingsDir(d))))
      buildSortedReversed(spark, d)
    if (dead.nonEmpty) Tombstones.clear(spark, d)
  }

  /** Recoverable rename-aside replacement of one layout dir. */
  private def rewrite(fs: FileSystem, dir: String)
                     (write: String => Unit): Unit = {
    val live = new Path(dir)
    val old = new Path(dir + "__old")
    Artifacts.recoverAside(fs, live, old)
    Artifacts.replaceDir(fs, live, new Path(dir + "__tmp"), old)(write)
  }

  /** The (id, term, tf) rows for `term LIKE '<prefix>%'` — the pushed
    * StringStartsWith range scan over every segment (each segment's
    * files carry their own min/max term stats, so pruning composes
    * with segmentation). */
  def prefixPostings(spark: SparkSession, indexDir: String,
                     prefix: String): DataFrame = {
    require(prefix.nonEmpty, "prefixPostings: empty prefix matches all")
    postings(spark, indexDir)
      .where(col("term").startsWith(prefix))
      .select(col("id"), col("term"), col("tf"))
  }

  /** Per-doc Σ tf over `rows`, tombstone-masked, top-k by (nhits desc,
    * id asc) — the term-match ranking unit shared by every match mode
    * here and by the phrase tier. Returns (id, nhits). */
  private def rankHits(spark: SparkSession, indexDir: String,
                       rows: DataFrame, k: Int): DataFrame = {
    val scored = rows.groupBy(col("id"))
      .agg(sum(col("tf")).cast("long").as("nhits"))
    Tombstones.mask(scored, spark, indexDir, "id")
      .orderBy(col("nhits").desc, col("id").asc)
      .limit(k)
  }

  /** Distinct ids of `rows`, tombstone-masked — the filter form of every
    * match mode, composing with BM25 like [[Phrase.matchingIds]]. */
  private def matchIds(spark: SparkSession, indexDir: String,
                       rows: DataFrame): DataFrame =
    Tombstones.mask(rows.select(col("id")).distinct(), spark, indexDir,
      "id")

  /** The (id, term, tf) rows of the dictionary terms in `matched` (a
    * vocabulary-sized 1-column frame) — one broadcast equi-join. */
  private def rowsOf(spark: SparkSession, indexDir: String,
                     matched: DataFrame): DataFrame =
    postings(spark, indexDir).select(col("id"), col("term"), col("tf"))
      .join(broadcast(matched), Seq("term"))

  /** The DISTINCT term dictionary of the artifact. */
  private def dictionary(spark: SparkSession, indexDir: String)
      : DataFrame =
    postings(spark, indexDir).select(col("term")).distinct()

  /** Distinct ids of documents containing ANY term with `prefix`.
    * Tombstone-masked. */
  def prefixIds(spark: SparkSession, indexDir0: String,
                prefix: String): DataFrame = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    matchIds(spark, indexDir, prefixPostings(spark, indexDir, prefix))
  }

  /** Prefix-match top-k: docs ranked by TOTAL occurrences of
    * prefix-matching terms (Σ tf over the matched slice), id tie-break.
    * Tombstone-masked. Returns (id, nhits). */
  def prefixSearch(spark: SparkSession, indexDir0: String, prefix: String,
                   k: Int): DataFrame = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    rankHits(spark, indexDir, prefixPostings(spark, indexDir, prefix), k)
  }

  /** Build the REVERSED-term sorted view from the artifact — the
    * suffix-match twin of the term sort (Lucene's
    * ReversedWildcardFilter: `term LIKE '%xyz'` has no prefix to push,
    * but over rev(term) it becomes the pushed prefix `rev(xyz)%`). Rows
    * are (id, rterm, tf), range-partitioned and sorted by rterm. A view
    * of the artifact at build time: [[compactTombstones]] and
    * [[compactSegments]] rebuild it; appends do not extend it. */
  def buildSortedReversed(spark: SparkSession, indexDir0: String): Unit = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    sortedBy(postings(spark, indexDir)
        .select(col("id"), reverse(col("term")).as("rterm"), col("tf")),
      "rterm")
      .write.mode("overwrite").parquet(reversedPostingsDir(indexDir))
  }

  /** Suffix-match top-k: docs ranked by total occurrences of terms
    * ending in `suffix` (the [[prefixSearch]] unit), served as a PUSHED
    * StringStartsWith over the reversed view (PlanSpec pins it).
    * Tombstone-masked. Returns (id, nhits). */
  def suffixSearch(spark: SparkSession, indexDir0: String, suffix: String,
                   k: Int): DataFrame = {
    require(suffix.nonEmpty, "suffixSearch: empty suffix matches all")
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    rankHits(spark, indexDir,
      spark.read.schema(reversedSchema)
        .parquet(reversedPostingsDir(indexDir))
        .where(col("rterm").startsWith(suffix.reverse)), k)
  }

  /** Every interior 3-gram of each term in a 1-column (term) frame. */
  private def grams(terms: DataFrame): DataFrame =
    terms.where(length(col("term")) >= 3)
      .select(col("term"), explode(expr(
        "transform(sequence(0, length(term)-3), " +
          "i -> substring(term, i+1, 3))")).as("gram"))
      .distinct()

  /** Build the TRIGRAM postings over the artifact's DISTINCT term
    * dictionary — the infix-wildcard view (PostgreSQL's `pg_trgm` GIN
    * index / Lucene's NGram filter): `%abc%` has no prefix to push in
    * EITHER direction, so index every interior 3-gram of every
    * dictionary term, AND the needle's grams at serve time, verify
    * candidates exactly. Rows are (term, gram), DISTINCT,
    * range-partitioned and sorted by gram so a needle's `gram IN (...)`
    * slice is a pushed equality scan. Terms shorter than 3 chars carry
    * no grams (sub-trigram needles take the dictionary-scan fallback in
    * [[infixTerms]]). Vocabulary-scale, far smaller than the postings it
    * guards. Writes the SERVED version of an aliased root. */
  def buildTrigrams(spark: SparkSession, indexDir0: String): Unit = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    grams(dictionary(spark, indexDir))
      .repartitionByRange(nFiles, col("gram"))
      .sortWithinPartitions(col("gram"), col("term"))
      .write.mode("overwrite").parquet(trigramsDir(indexDir))
  }

  /** Absorb a batch's dictionary terms into the trigram view by file
    * append — the incremental form of [[buildTrigrams]]. Terms the
    * dictionary already carries land as DUPLICATE (gram, term) rows,
    * which serving tolerates by construction ([[infixTerms]] counts
    * DISTINCT grams per term) and [[buildTrigrams]]'s rewrite folds
    * away. Reader-safe in place against the served version. */
  def appendTrigrams(batch: DataFrame, idCol: String, textCol: String,
                     indexDir0: String): Unit = {
    val spark = batch.sparkSession
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    grams(batch.select(explode(TextAnalysis.wsTerms(col(textCol)))
        .as("term")).distinct())
      .write.mode("append").parquet(trigramsDir(indexDir))
  }

  /** Dictionary terms CONTAINING `needle` — the candidate tier of infix
    * match: the needle's trigrams hit the [[buildTrigrams]] view as one
    * pushed `gram IN (...)` slice, a term must carry ALL of them (the
    * pg_trgm count-match AND), and every candidate is verified by exact
    * `contains` (grams are necessary, not sufficient). A needle under 3
    * chars scans the DISTINCT dictionary with the exact verify —
    * documented fallback, same answer. Returns (term). */
  def infixTerms(spark: SparkSession, indexDir0: String,
                 needle: String): DataFrame = {
    require(needle.nonEmpty, "infixTerms: empty needle matches all")
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    if (needle.length < 3)
      dictionary(spark, indexDir).where(col("term").contains(needle))
    else {
      val gs = needle.sliding(3).toSeq.distinct
      spark.read.schema(trigramSchema).parquet(trigramsDir(indexDir))
        .where(col("gram").isin(gs: _*))
        .groupBy(col("term"))
        .agg(countDistinct(col("gram")).as("__ng"))
        .where(col("__ng") === gs.size)
        .where(col("term").contains(needle))
        .select(col("term"))
    }
  }

  /** Infix-match top-k: docs ranked by TOTAL occurrences of terms
    * containing `needle` (the [[prefixSearch]] unit); the matched term
    * set broadcasts into one postings equi-join — no corpus-side
    * `LIKE '%...%'` scan. Tombstone-masked. Returns (id, nhits). */
  def infixSearch(spark: SparkSession, indexDir0: String, needle: String,
                  k: Int): DataFrame = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    rankHits(spark, indexDir,
      rowsOf(spark, indexDir, infixTerms(spark, indexDir, needle)), k)
  }

  /** Distinct ids of documents containing ANY term that contains
    * `needle` — the filter form. Tombstone-masked. */
  def infixIds(spark: SparkSession, indexDir0: String,
               needle: String): DataFrame = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    matchIds(spark, indexDir,
      rowsOf(spark, indexDir, infixTerms(spark, indexDir, needle)))
  }

  /** Terms of the dictionary within `maxDist` edits of `term` — the
    * candidate tier of fuzzy term match (Lucene's FuzzyQuery walks a
    * Levenshtein automaton over its term dictionary; the lakehouse
    * analogue is SymSpell's deletion-neighborhood block join, shipped in
    * [[graft.dedup.FuzzyJoin]]): the DISTINCT dictionary is
    * length-filtered LOSSLESSLY first (|len(t) − len(q)| ≤ maxDist is
    * necessary for lev ≤ maxDist), its delete-variants equi-join the
    * query's own neighborhood, and every candidate is verified by exact
    * `levenshtein` — no cartesian (PlanSpec pins it). Returns
    * (term, dist). */
  def fuzzyTerms(spark: SparkSession, indexDir: String, term: String,
                 maxDist: Int): DataFrame = {
    require(term.nonEmpty && maxDist >= 1 && maxDist <= 2)
    import spark.implicits._
    val dict = dictionary(spark, indexDir)
      .where(abs(length(col("term")) - lit(term.length)) <= maxDist)
    val keys = graft.dedup.FuzzyJoin.keyTable(dict, "term", "term",
      maxDist)
    val q = Seq(term).toDF("q_term")
    graft.dedup.FuzzyJoin.lookup(keys, q, "q_term", "q_term", maxDist)
      .select(col("dict_id").as("term"), col("dist"))
  }

  /** Fuzzy term-match top-k: docs ranked by TOTAL occurrences of terms
    * within `maxDist` edits of `term` (the [[prefixSearch]] unit), id
    * tie-break. Tombstone-masked. Returns (id, nhits). */
  def fuzzySearch(spark: SparkSession, indexDir0: String, term: String,
                  maxDist: Int, k: Int): DataFrame = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    rankHits(spark, indexDir, rowsOf(spark, indexDir,
      fuzzyTerms(spark, indexDir, term, maxDist).select(col("term"))), k)
  }

  /** Distinct ids of documents containing ANY term within `maxDist`
    * edits of `term` — the filter form. Tombstone-masked. */
  def fuzzyIds(spark: SparkSession, indexDir0: String, term: String,
               maxDist: Int): DataFrame = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    matchIds(spark, indexDir, rowsOf(spark, indexDir,
      fuzzyTerms(spark, indexDir, term, maxDist).select(col("term"))))
  }
}
