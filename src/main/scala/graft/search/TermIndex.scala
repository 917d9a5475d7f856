package graft.search

import graft.core.Artifacts
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Prefix term match over a SORTED-term postings layout — the lexical
  * tier's missing match mode (the reference's engine grew a text-match
  * family — term, phrase, AND prefix — next to BM25; Lucene serves
  * prefix as a term-dictionary range scan). The artifact is the
  * [[Bm25Index]] postings (id, term, tf) RE-LAID-OUT range-partitioned
  * and sorted by term, so `term LIKE 'abc%'` reaches the parquet scan
  * as a pushed `StringStartsWith` and resolves by row-group min/max
  * stats pruning — the `sorted_scan_prune` discipline applied to a
  * lexical artifact. PlanSpec pins the pushed filter.
  *
  * Scale shape (100 TB): a prefix query reads only the files/row-groups
  * whose [min, max] term range intersects the prefix interval — the
  * sorted layout makes that a contiguous sliver of the artifact; the
  * per-doc aggregation shuffles only the matching postings. The layout
  * is rebuilt per postings epoch (sorting is what it sells — a file
  * append would interleave ranges and void the pruning), which is the
  * standard segment-merge contract for sorted lexical structures.
  */
object TermIndex {
  def sortedPostingsDir(indexDir: String): String =
    s"$indexDir/postings_sorted"

  private def segDir(indexDir: String, n: Int): String =
    s"${sortedPostingsDir(indexDir)}/seg=$n"

  private def sortedTokens(docs: DataFrame, idCol: String,
                           textCol: String, nFiles: Int): DataFrame = {
    val toks = TextAnalysis.wsTerms(col(textCol))
    docs.select(col(idCol).cast("long").as("id"), explode(toks).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .repartitionByRange(nFiles, col("term"))
      .sortWithinPartitions(col("term"), col("id"))
  }

  /** Build the sorted-term layout as SEGMENT 0: the [[Bm25Index]]
    * tokenization, range-partitioned by term into `nFiles` files and
    * sorted within each — every file covers one contiguous term range,
    * so parquet footer stats prune non-intersecting files at scan
    * time. Incremental batches arrive as NEW sorted segments
    * ([[appendSegment]] — the Lucene segment model: a raw file append
    * into a sorted layout would interleave term ranges and void the
    * pruning; a per-segment sort keeps every segment's files
    * range-prunable on their own stats), folded by
    * [[compactSegments]]. */
  def buildSorted(docs: DataFrame, idCol: String, textCol: String,
                  indexDir: String, nFiles: Int = 8): Unit =
    sortedTokens(docs, idCol, textCol, nFiles)
      .write.mode("overwrite").parquet(segDir(indexDir, 0))

  /** Absorb a new batch as the next sorted segment — tokenize ONLY the
    * batch, sort it alone, write one new `seg=N` dir; existing
    * segments are never touched. Ids must be new (the
    * [[Bm25Index.append]] contract), so an (id, term) row never
    * straddles segments and serving needs no cross-segment merge of
    * tf. Segment count grows with append batches until
    * [[compactSegments]] folds them — the standard segment-merge
    * economics (each query pays one footer read per segment whose
    * range intersects the prefix). */
  def appendSegment(batch: DataFrame, idCol: String, textCol: String,
                    indexDir0: String, nFiles: Int = 8): Unit = {
    val spark = batch.sparkSession
    // segment appends land in the CURRENT published version of an
    // aliased root: a new seg=N dir is invisible to a reader that
    // already listed segments (reader-safe), so appends pay no version
    // copy — only compactSegments' rewrite does
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val next = segments(spark, indexDir).maxOption.getOrElse(-1) + 1
    sortedTokens(batch, idCol, textCol, nFiles)
      .write.mode("overwrite").parquet(segDir(indexDir, next))
  }

  /** Write a batch as segment `n` EXACTLY — the idempotent form of
    * [[appendSegment]] for at-least-once ingest (Structured Streaming's
    * foreachBatch can REPLAY a micro-batch after a failure; an
    * appendSegment keyed on the current max segment would land the
    * replay as a NEW segment with the same doc ids, silently
    * double-counting tf across segments and violating the
    * ids-must-be-new contract). Keying the segment number on the
    * stream's batchId makes a replay overwrite its own segment —
    * Spark's own idempotent-sink discipline. */
  def writeSegment(batch: DataFrame, idCol: String, textCol: String,
                   indexDir0: String, n: Int, nFiles: Int = 8): Unit = {
    // aliased-root resolution, like [[appendSegment]]: a replay-keyed
    // segment written at the ROOT of an aliased layout would be
    // invisible to every resolved reader (round-12 ADVICE)
    val indexDir = AliasedIndex.resolveDir(batch.sparkSession, indexDir0)
    sortedTokens(batch, idCol, textCol, nFiles)
      .write.mode("overwrite").parquet(segDir(indexDir, n))
  }

  /** Existing segment numbers, ascending (empty for a flat pre-segment
    * layout). */
  def segments(spark: SparkSession, indexDir: String): Seq[Int] = {
    val d = new org.apache.hadoop.fs.Path(sortedPostingsDir(indexDir))
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .collect {
        case s if s.startsWith("seg=")
          && s.stripPrefix("seg=").forall(_.isDigit) =>
          s.stripPrefix("seg=").toInt
      }.sorted
  }

  /** Fold every segment into a single re-sorted segment 0 — the
    * segment merge: one read of all segments, one range-partitioned
    * sorted rewrite, recoverable rename-aside swap of the whole
    * layout dir. After this a prefix query pays one segment's footer
    * reads again. */
  def compactSegments(spark: SparkSession, indexDir: String,
                      nFiles: Int = 8): Unit =
    // alias-aware by DEFAULT: on a root with published versions the
    // rewrite runs against a copy of the current version and publishes
    // atomically (readers never see the rename-aside window below); a
    // flat layout compacts in place with the documented single-writer
    // transient window
    AliasedIndex.maintain(spark, indexDir)(
      compactSegmentsInPlace(spark, _, nFiles))

  private def compactSegmentsInPlace(spark: SparkSession, indexDir: String,
                                     nFiles: Int): Unit = {
    val dir = sortedPostingsDir(indexDir)
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(dir + "__old")
    Artifacts.recoverAside(fs, d, old)
    val merged = spark.read.parquet(dir)
      .select(col("id"), col("term"), col("tf"))
      .repartitionByRange(nFiles, col("term"))
      .sortWithinPartitions(col("term"), col("id"))
    Artifacts.replaceDir(fs, d, new org.apache.hadoop.fs.Path(dir + "__tmp"),
      old) { tmp => merged.write.mode("overwrite").parquet(s"$tmp/seg=0") }
  }

  /** The postings slice for `term LIKE '<prefix>%'` — the pushed
    * StringStartsWith range scan over every segment (each segment's
    * files carry their own min/max term stats, so pruning composes
    * with segmentation). Reads a flat pre-segment layout unchanged
    * (`seg` is dropped if discovered). */
  def prefixPostings(spark: SparkSession, indexDir: String,
                     prefix: String): DataFrame = {
    require(prefix.nonEmpty, "prefixPostings: empty prefix matches all")
    spark.read.parquet(
        sortedPostingsDir(AliasedIndex.resolveDir(spark, indexDir)))
      .where(col("term").startsWith(prefix))
      .drop("seg")
  }

  /** Distinct ids of documents containing ANY term with `prefix` — the
    * filter form, composing with BM25 exactly like
    * [[Phrase.matchingIds]] (a prefix clause under a scoring query).
    * Tombstone-masked. */
  def prefixIds(spark: SparkSession, indexDir0: String,
                prefix: String): DataFrame = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    Tombstones.mask(
      prefixPostings(spark, indexDir, prefix).select(col("id")).distinct(),
      spark, indexDir, "id")
  }

  def reversedPostingsDir(indexDir: String): String =
    s"$indexDir/postings_rsorted"

  /** Build the REVERSED-term sorted layout — the suffix-match twin of
    * [[buildSorted]] (Lucene's ReversedWildcardFilter: `term LIKE
    * '%xyz'` has no prefix to push, but over rev(term) it becomes the
    * pushed prefix `rev(xyz)%` — the same sorted-layout range scan).
    * Rows are (id, rterm, tf) with rterm = reverse(term),
    * range-partitioned and sorted by rterm, so a suffix query reads
    * one contiguous sliver exactly like [[prefixPostings]]. A LEADING
    *+trailing wildcard (infix) is n-gram territory — served by
    * [[buildTrigrams]]/[[infixSearch]] since round 12. */
  def buildSortedReversed(docs: DataFrame, idCol: String, textCol: String,
                          indexDir: String, nFiles: Int = 8): Unit = {
    val toks = TextAnalysis.wsTerms(col(textCol))
    docs.select(col(idCol).cast("long").as("id"), explode(toks).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .select(col("id"), reverse(col("term")).as("rterm"), col("tf"))
      .repartitionByRange(nFiles, col("rterm"))
      .sortWithinPartitions(col("rterm"), col("id"))
      .write.mode("overwrite").parquet(reversedPostingsDir(indexDir))
  }

  /** Suffix-match top-k: docs ranked by total occurrences of terms
    * ending in `suffix` (Σ tf over the matched slice — the
    * [[prefixSearch]] unit), id tie-break, served as a PUSHED
    * StringStartsWith over the reversed layout (PlanSpec pins it).
    * Tombstone-masked. Returns (id, nhits). */
  def suffixSearch(spark: SparkSession, indexDir0: String, suffix: String,
                   k: Int): DataFrame = {
    require(suffix.nonEmpty, "suffixSearch: empty suffix matches all")
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val scored = spark.read.parquet(reversedPostingsDir(indexDir))
      .where(col("rterm").startsWith(suffix.reverse))
      .groupBy(col("id"))
      .agg(sum(col("tf")).cast("long").as("nhits"))
    Tombstones.mask(scored, spark, indexDir, "id")
      .orderBy(col("nhits").desc, col("id").asc)
      .limit(k)
  }

  def trigramsDir(indexDir: String): String = s"$indexDir/trigrams"

  /** Build the TRIGRAM postings over the DISTINCT term dictionary — the
    * infix-wildcard artifact (round 12, the last match mode after
    * term/BM25/BM25F/phrase/slop/prefix/suffix/fuzzy): `%abc%` has no
    * prefix to push in EITHER direction, so the serving model is
    * PostgreSQL's `pg_trgm` GIN index / Lucene's NGram filter — index
    * every interior 3-gram of every dictionary term, AND the query
    * needle's grams at serve time, verify candidates exactly. Rows are
    * (gram, term), DISTINCT, range-partitioned and sorted by gram so a
    * needle's `gram IN (...)` slice is a pushed equality scan with
    * row-group pruning, like every other lexical layout here. Terms
    * shorter than 3 chars carry no grams (they can never contain a
    * ≥3-char needle; sub-trigram needles take the dictionary-scan
    * fallback in [[infixTerms]]). Size: O(Σ(len−2)) over the DISTINCT
    * dictionary — a vocabulary-scale artifact, far smaller than the
    * postings it guards, which is what makes this the 100 TB shape
    * (candidate generation never touches the corpus). Reads/writes the
    * SERVED version of an aliased root (an artifact add is a
    * reader-safe in-place append — the [[appendSegment]] argument). */
  def buildTrigrams(spark: SparkSession, indexDir0: String,
                    nFiles: Int = 8): Unit = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    spark.read.parquet(sortedPostingsDir(indexDir))
      .select(col("term")).distinct()
      .where(length(col("term")) >= 3)
      .select(col("term"), explode(expr(
        "transform(sequence(0, length(term)-3), " +
          "i -> substring(term, i+1, 3))")).as("gram"))
      .distinct()
      .repartitionByRange(nFiles, col("gram"))
      .sortWithinPartitions(col("gram"), col("term"))
      .write.mode("overwrite").parquet(trigramsDir(indexDir))
  }

  /** Absorb a batch's NEW dictionary terms into the trigram artifact by
    * file append — the incremental form of [[buildTrigrams]] (every
    * other lexical artifact has one; rebuilding a vocabulary-scale
    * table on every append is cheap here but wrong at warehouse scale
    * where the dictionary is large). Appends grams of the batch's
    * tokens only; terms the dictionary already carries land as
    * DUPLICATE (gram, term) rows, which serving tolerates by
    * construction — [[infixTerms]]'s count-match uses countDistinct
    * and its output is a groupBy per term — and [[buildTrigrams]]'s
    * full rewrite folds them away (the segment-merge economics).
    * Reader-safe in place against the served version, like every
    * append. */
  def appendTrigrams(batch: DataFrame, idCol: String, textCol: String,
                     indexDir0: String): Unit = {
    val spark = batch.sparkSession
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val toks = TextAnalysis.wsTerms(col(textCol))
    batch.select(explode(toks).as("term")).distinct()
      .where(length(col("term")) >= 3)
      .select(col("term"), explode(expr(
        "transform(sequence(0, length(term)-3), " +
          "i -> substring(term, i+1, 3))")).as("gram"))
      .distinct()
      .write.mode("append").parquet(trigramsDir(indexDir))
  }

  /** Dictionary terms CONTAINING `needle` — the candidate tier of infix
    * match: the needle's trigrams hit the [[buildTrigrams]] artifact as
    * one pushed `gram IN (...)` slice, a term must carry ALL of them
    * (the count-match AND — necessary for containment, the pg_trgm
    * rule), and every candidate is verified by exact `contains` (grams
    * are necessary, not sufficient: `abcXabc` grams ⊇ `abcabc` grams).
    * A needle under 3 chars has no trigram to block on — it scans the
    * DISTINCT dictionary (vocabulary-sized, tiny next to postings) with
    * the exact verify; documented fallback, same answer. Returns
    * (term). */
  def infixTerms(spark: SparkSession, indexDir0: String,
                 needle: String): DataFrame = {
    require(needle.nonEmpty, "infixTerms: empty needle matches all")
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    if (needle.length < 3)
      spark.read.parquet(sortedPostingsDir(indexDir))
        .select(col("term")).distinct()
        .where(col("term").contains(needle))
    else {
      val grams = needle.sliding(3).toSeq.distinct
      spark.read.parquet(trigramsDir(indexDir))
        .where(col("gram").isin(grams: _*))
        .groupBy(col("term"))
        .agg(countDistinct(col("gram")).as("__ng"))
        .where(col("__ng") === grams.size)
        .where(col("term").contains(needle))
        .select(col("term"))
    }
  }

  /** Infix-match top-k: docs ranked by TOTAL occurrences of terms
    * containing `needle` (Σ tf over the matched slice — the
    * [[prefixSearch]]/[[suffixSearch]] `nhits` unit), id tie-break;
    * the (vocabulary-sized) matched term set broadcasts into one
    * postings equi-join — no corpus-side `LIKE '%...%'` scan ever
    * runs. Tombstone-masked. Returns (id, nhits). */
  def infixSearch(spark: SparkSession, indexDir0: String, needle: String,
                  k: Int): DataFrame = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val matched = infixTerms(spark, indexDir, needle)
    val scored = spark.read.parquet(sortedPostingsDir(indexDir))
      .drop("seg")
      .join(broadcast(matched), Seq("term"))
      .groupBy(col("id"))
      .agg(sum(col("tf")).cast("long").as("nhits"))
    Tombstones.mask(scored, spark, indexDir, "id")
      .orderBy(col("nhits").desc, col("id").asc)
      .limit(k)
  }

  /** Distinct ids of documents containing ANY term that contains
    * `needle` — the FILTER form, composing with BM25 exactly like
    * [[prefixIds]]/[[fuzzyIds]] (an infix clause under a scoring
    * query). Tombstone-masked. */
  def infixIds(spark: SparkSession, indexDir0: String,
               needle: String): DataFrame = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val matched = infixTerms(spark, indexDir, needle)
    Tombstones.mask(
      spark.read.parquet(sortedPostingsDir(indexDir)).drop("seg")
        .join(broadcast(matched), Seq("term"))
        .select(col("id")).distinct(),
      spark, indexDir, "id")
  }

  /** Terms of the dictionary within `maxDist` edits of `term` — the
    * candidate tier of fuzzy term match (Lucene's FuzzyQuery walks a
    * Levenshtein automaton over its sorted term dictionary; the
    * lakehouse-scale analogue is SymSpell's deletion-neighborhood
    * block join, machinery this engine already ships in
    * [[graft.dedup.FuzzyJoin]]): the DISTINCT term dictionary is
    * length-filtered LOSSLESSLY first (|len(t) − len(q)| ≤ maxDist is
    * necessary for lev ≤ maxDist — and it keeps the deletion-variant
    * generation off pathological long tokens), its delete-variants
    * equi-join the query's own neighborhood, and every candidate is
    * verified by exact `levenshtein`. Cost: one distinct over the
    * postings' term column (far smaller than the postings), O(len²)
    * variants for the query, a broadcast equi-join — no cartesian
    * (PlanSpec pins it). Returns (term, dist). */
  def fuzzyTerms(spark: SparkSession, indexDir: String, term: String,
                 maxDist: Int): DataFrame = {
    require(term.nonEmpty && maxDist >= 1 && maxDist <= 2)
    import spark.implicits._
    val dict = spark.read.parquet(
        sortedPostingsDir(AliasedIndex.resolveDir(spark, indexDir)))
      .select(col("term")).distinct()
      .where(abs(length(col("term")) - lit(term.length)) <= maxDist)
    val keys = graft.dedup.FuzzyJoin.keyTable(dict, "term", "term",
      maxDist)
    val q = Seq(term).toDF("q_term")
    graft.dedup.FuzzyJoin.lookup(keys, q, "q_term", "q_term", maxDist)
      .select(col("dict_id").as("term"), col("dist"))
  }

  /** Fuzzy term-match top-k: docs ranked by TOTAL occurrences of terms
    * within `maxDist` edits of `term` (Σ tf over the matched slice —
    * the [[prefixSearch]]/phrase `nhits` unit), id tie-break.
    * Tombstone-masked. Returns (id, nhits). */
  def fuzzySearch(spark: SparkSession, indexDir0: String, term: String,
                  maxDist: Int, k: Int): DataFrame = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val matched = fuzzyTerms(spark, indexDir, term, maxDist)
      .select(col("term"))
    val scored = spark.read.parquet(sortedPostingsDir(indexDir))
      .drop("seg")
      .join(broadcast(matched), Seq("term"))
      .groupBy(col("id"))
      .agg(sum(col("tf")).cast("long").as("nhits"))
    Tombstones.mask(scored, spark, indexDir, "id")
      .orderBy(col("nhits").desc, col("id").asc)
      .limit(k)
  }

  /** Distinct ids of documents containing ANY term within `maxDist`
    * edits of `term` — the FILTER form, composing with BM25 exactly
    * like [[prefixIds]]/[[Phrase.matchingIds]] (a fuzzy clause under a
    * scoring query). Tombstone-masked. */
  def fuzzyIds(spark: SparkSession, indexDir0: String, term: String,
               maxDist: Int): DataFrame = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val matched = fuzzyTerms(spark, indexDir, term, maxDist)
      .select(col("term"))
    Tombstones.mask(
      spark.read.parquet(sortedPostingsDir(indexDir)).drop("seg")
        .join(broadcast(matched), Seq("term"))
        .select(col("id")).distinct(),
      spark, indexDir, "id")
  }

  /** Prefix-match top-k: docs ranked by TOTAL occurrences of
    * prefix-matching terms (Σ tf over the matched slice), id
    * tie-break — the term-match ranking unit (`nhits`), same as the
    * phrase tier. Tombstone-masked. Returns (id, nhits). */
  def prefixSearch(spark: SparkSession, indexDir0: String, prefix: String,
                   k: Int): DataFrame = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val scored = prefixPostings(spark, indexDir, prefix)
      .groupBy(col("id"))
      .agg(sum(col("tf")).cast("long").as("nhits"))
    Tombstones.mask(scored, spark, indexDir, "id")
      .orderBy(col("nhits").desc, col("id").asc)
      .limit(k)
  }
}
