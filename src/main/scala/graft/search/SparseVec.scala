package graft.search

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Sparse-vector retrieval — Milvus SPARSE_FLOAT_VECTOR parity (the
  * index family Milvus added for SPLADE/BM25-style learned sparse
  * embeddings, a sibling of the FLOAT_VECTOR collection the reference
  * creates at src/app.py:92-103): vectors are (dimension, weight) pairs
  * with almost all weights zero, scored by dot product over the shared
  * nonzero dimensions.
  *
  * Representation: [[sparsify]] keeps the top-`topN` positive dims of a
  * dense column (the deterministic stand-in for a learned sparse
  * encoder — the engine contract is the same whatever produces the
  * pairs), weights rounded to 4 decimals BEFORE any ranking so
  * cross-engine float noise cannot reorder.
  *
  * Scale shape (100 TB): [[postings]] is the inverted index — one
  * (id, dim, w) row per nonzero. Stored in `dim mod 16` buckets with
  * dim-sorted files, a query touches only its own dims' buckets and row
  * groups (the posting-list seek, the same trick [[IvfIndex]] plays
  * with cluster_id), the tiny query side broadcasts, and the score is one
  * hash aggregate over matching postings — docs sharing no query dim
  * are never read, scored, or shuffled. No O(corpus) work, no dense
  * scan: this is the term-at-a-time inverted-index plan every lexical
  * engine runs, expressed as a join + aggregate Catalyst can fuse. */
object SparseVec {
  /** `array<struct<w,dim>>` of the top-`topN` positive dims of `vec`
    * (w rounded to 4 decimals; ties broken by lower dim; dims 1-based
    * to match SQL list indexing). */
  def sparsify(vec: Column, topN: Int): Column = {
    val pairs = filter(
      transform(vec, (x, i) =>
        struct(round(x.cast("double"), 4).as("w"),
          (i + 1).cast("int").as("dim"))),
      p => p.getField("w") > 0)
    slice(
      array_sort(pairs, (l, r) =>
        when(l.getField("w") > r.getField("w"), lit(-1))
          .when(l.getField("w") < r.getField("w"), lit(1))
          .otherwise(l.getField("dim") - r.getField("dim"))),
      1, topN)
  }

  /** The inverted-index form: one (id, dim, w) posting per kept dim. */
  def postings(df: DataFrame, idCol: String, vecCol: String,
               topN: Int): DataFrame =
    df.select(col(idCol), explode(sparsify(col(vecCol), topN)).as("p"))
      .select(col(idCol), col("p.dim").as("dim"), col("p.w").as("w"))

  /** Dot-product top-k of `corpusPostings` against a (small) query
    * posting list: join on dim, weighted sum per doc. */
  def search(corpusPostings: DataFrame, queryPostings: DataFrame,
             idCol: String, k: Int): DataFrame =
    corpusPostings
      .join(broadcast(queryPostings.select(col("dim"), col("w").as("qw"))),
        Seq("dim"))
      .groupBy(col(idCol))
      .agg(round(sum(col("w") * col("qw")), 4).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  // ---------------------------------------------------------------------
  // Stored-artifact form + maintenance twins (round 12 — the last index
  // family without a tombstone/upsert/streaming story; every verb below
  // mirrors the discipline the other five families already follow).
  // ---------------------------------------------------------------------

  def postingsDir(indexDir: String): String = s"$indexDir/postings"

  // ---------------------------------------------------------------------
  // The one postings layout: `dim_bucket = dim mod Buckets` partition
  // directories, each holding dim-SORTED files. A query's dims open at
  // most |dims| bucket directories and their `dim IN` literals prune row
  // groups inside them via parquet min/max — the posting-list seek in
  // two levels, without one directory per dim (a corpus-grown
  // vocabulary reaches 10⁸–10⁹ terms; SCALE.md measured 9 001 per-dim
  // directories costing 152 s at n = 4 000).
  // ---------------------------------------------------------------------

  /** Bucket count of every postings directory: 16 bounds the bucket
    * directories one streaming micro-batch writes into, while a query's
    * few dims still open few buckets. */
  private val Buckets = 16

  /** The partition column. Its name is new with this layout, so no
    * directory an earlier layout wrote (`dim=` per-dim trees, `dimb=`
    * buckets under other counts) can match it: see
    * [[requireBucketLayout]]. A future change of [[Buckets]] renames it
    * again. */
  private val BucketCol = "dim_bucket"

  /** The posting files' schema as written: (BIGINT id, INT dim,
    * DOUBLE w) plus the INT bucket partition column ([[build]]'s
    * id-type assertion backs the LongType). Every read of a postings
    * directory passes it, so none pays schema inference's footer job. */
  private def postingsSchema(idCol: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField(idCol, LongType),
      StructField("dim", IntegerType), StructField("w", DoubleType),
      StructField(BucketCol, IntegerType)))
  }

  /** Every posting of the artifact at `indexDir` as (idCol, dim, w) —
    * the one whole-directory read of the postings. */
  private[graft] def readPostings(spark: org.apache.spark.sql.SparkSession,
                                  indexDir: String,
                                  idCol: String = "id"): DataFrame =
    spark.read.schema(postingsSchema(idCol))
      .parquet(postingsDir(indexDir)).drop(BucketCol)

  /** The legacy rule, in one place: a postings directory holding any
    * partition directory but this layout's was written by an earlier
    * layout, and serving, extending or folding it would touch only part
    * of its postings — fail, and name the fix. Off the hot path: called
    * by every append and fold, and by [[dimScan]] only when none of the
    * query's buckets exists (always the case for an earlier layout). */
  private def requireBucketLayout(spark: org.apache.spark.sql.SparkSession,
                                  base: String): Unit = {
    val bp = new org.apache.hadoop.fs.Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(bp)) return
    val it = fs.listStatusIterator(bp)
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (st.isDirectory && !n.startsWith(s"$BucketCol=") &&
          !n.startsWith("_") && !n.startsWith("."))
        throw new IllegalStateException(
          s"postings under $base hold '$n', not $BucketCol= directories: " +
            "the artifact was written by an earlier postings layout; " +
            "rebuild it")
    }
  }

  /** Write `post` (id, dim, w) into the bucketed layout. The shuffle is
    * a RANGE partition over (bucket, dim) — NOT a hash on the bucket
    * alone, which would cap write parallelism at [[Buckets]] tasks and
    * hand each one a whole bucket to sort: a large bucket splits across
    * tasks by dim range, every file stays dim-sorted (row-group pruning
    * needs per-FILE tightness), and `partitionBy` still routes rows to
    * their bucket directory. An append first checks the layout
    * ([[requireBucketLayout]]); every write pins the schema, so the
    * tombstone fold reads it without inference. */
  private[graft] def writePostings(post: DataFrame, indexDir: String,
                                   mode: String): Unit = {
    val spark = post.sparkSession
    val base = postingsDir(indexDir)
    if (mode == "append") requireBucketLayout(spark, base)
    post.withColumn(BucketCol, pmod(col("dim"), lit(Buckets)))
      .repartitionByRange(col(BucketCol), col("dim"))
      .sortWithinPartitions(col(BucketCol), col("dim"))
      .write.mode(mode).partitionBy(BucketCol).parquet(base)
    graft.core.Artifacts.writeSchema(spark, base,
      postingsSchema(post.columns.head))
  }

  /** Tombstone-fold the postings, re-sorting each bucket by dim so
    * row-group pruning survives the rewrite. */
  private def compactPostings(spark: org.apache.spark.sql.SparkSession,
                              d: String, idCol: String): Unit = {
    requireBucketLayout(spark, postingsDir(d))
    Tombstones.compact(spark, d, postingsDir(d), Seq(idCol),
      partitionBy = Seq(BucketCol), sortWithin = Seq(BucketCol, "dim"))
  }

  /** Per-dimension score-bound statistics for WAND/max-score serving:
    * (dim, maxw) rows, read-side folded with `max` so writers only ever
    * APPEND (build writes the exact per-dim max; every append adds its
    * batch's per-dim max). The invariant the pruned serve relies on is
    * `stored maxw ≥ every live posting's w for that dim` — an UPPER
    * bound, not an exact statistic: tombstone folds and upserts may
    * leave it conservative (the true max can only shrink), which costs
    * pruning power, never correctness; a rebuild re-tightens. The same
    * discipline as Lucene's per-term max impact metadata (the
    * WAND/Block-Max-WAND machinery behind its top-k pruning). */
  def dimStatsDir(indexDir: String): String = s"$indexDir/dimstats"

  /** Append `post`'s per-dim maxima to the dim-stats table (see
    * [[dimStatsDir]]'s fold contract). Shared with [[FullText]], whose
    * artifact IS this layout. */
  private[graft] def appendDimStats(post: DataFrame, indexDir: String): Unit =
    post.groupBy(col("dim")).agg(max(col("w")).as("maxw"))
      .write.mode("append").parquet(dimStatsDir(indexDir))

  /** [[appendDimStats]] for the STREAMING-append paths (round 15 — the
    * per-micro-batch fixed-cost clawback): append only the batch dims
    * that actually RAISE the stored bound, and skip the write job
    * entirely when none do. BM25 tf-parts saturate at k1+1 and
    * sparsified weights are bounded, so in steady state most batches
    * raise nothing for existing dims — the unconditional append was
    * paying one parquet write AND one extra dimstats file per batch
    * (files every serve-time bound read must fold). The comparison is
    * ONE job — batch per-dim maxima left-joined to the stored fold (a
    * 2-column columnar scan), raisers collected driver-side BOUNDED by
    * the batch's distinct dims, never a vocab-sized handoff. Skipping
    * non-raising rows preserves the bound invariant trivially: the
    * stored maxw stays ≥ every live posting's w. Call BEFORE the
    * posting append lands (the writers below do): a crash between the
    * two then leaves a bound with no postings under it — conservative,
    * slow-not-wrong — where the old postings-first order left new
    * postings UNBOUNDED, the silent-prune direction. */
  private[graft] def appendDimStatsRaising(
      spark: org.apache.spark.sql.SparkSession,
      post: DataFrame, indexDir: String): Unit = {
    val statsPath = new org.apache.hadoop.fs.Path(dimStatsDir(indexDir))
    val fs = statsPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(statsPath)) {
      // NO stats table at all — a crashed build's documented safe
      // state, where dimBounds falls back to the postings aggregate.
      // Seeding it with BATCH-ONLY maxima would flip that state into
      // an UNDER-bound (a stored-dim row lower than old postings'
      // true maxima — the silent-prune direction; round-15 review
      // finding): rebuild the bounds from the STORED postings first,
      // then add the batch's.
      val pp = new org.apache.hadoop.fs.Path(postingsDir(indexDir))
      if (fs.exists(pp)) appendDimStats(readPostings(spark, indexDir), indexDir)
      appendDimStats(post, indexDir)
      return
    }
    // ONE comparison job (the per-micro-batch fixed cost IS the job
    // count): batch per-dim maxima left-joined to the stored fold,
    // keeping only the raisers — a bounded collect (≤ batch dims)
    val raised = post.groupBy(col("dim")).agg(max(col("w")).as("bmax"))
      .join(spark.read.schema(dimStatsSchema)
          .parquet(dimStatsDir(indexDir))
          .groupBy(col("dim")).agg(max(col("maxw")).as("smax")),
        Seq("dim"), "left")
      .where(col("smax").isNull || col("bmax") > col("smax"))
      .select(col("dim"), col("bmax"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    if (raised.nonEmpty)
      spark.createDataFrame(
        spark.sparkContext.parallelize(raised.toSeq.map(t =>
          org.apache.spark.sql.Row(t._1, t._2)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("dim",
            org.apache.spark.sql.types.IntegerType, nullable = true),
          org.apache.spark.sql.types.StructField("maxw",
            org.apache.spark.sql.types.DoubleType, nullable = true))))
        .write.mode("append").parquet(dimStatsDir(indexDir))
  }

  /** Upper bound on posting weight per queried dim. Dims absent from
    * the stored stats (a legacy artifact, or postings appended by an
    * older writer) fall back to ONE dim-pruned postings aggregate — a
    * missing bound must never default to 0, which would prune docs it
    * has no right to prune. */
  private def dimBounds(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String,
                        dims: Seq[Int]): Map[Int, Double] = {
    val statsPath = new org.apache.hadoop.fs.Path(dimStatsDir(indexDir))
    val fs = statsPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val stored: Map[Int, Double] =
      if (!fs.exists(statsPath)) Map.empty
      else spark.read.schema(dimStatsSchema)
        .parquet(dimStatsDir(indexDir))
        .where(col("dim").isin(dims: _*))
        .groupBy(col("dim")).agg(max(col("maxw")).as("maxw"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val missing = dims.filterNot(stored.contains)
    if (missing.isEmpty) stored
    else stored ++ dimScan(spark, indexDir, missing)
      .groupBy(col("dim")).agg(max(col("w")).as("maxw"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
  }

  /** Materialize the inverted index under `indexDir/postings` in the
    * bucketed layout ([[writePostings]]): a query's `dim IN (...)`
    * slice opens only its dims' bucket directories, the [[IvfIndex]]
    * cluster_id trick, so serving never reads a bucket no query weight
    * touches. */
  def build(df: DataFrame, idCol: String, vecCol: String, topN: Int,
            indexDir: String): Unit = {
    val spark = df.sparkSession
    // ids must be BIGINT across the sparse family: the empty-serve
    // schema ([[dimScan]]'s fallback) and the maintenance joins assume
    // long ids, so a non-long id column fails HERE, loudly, not as a
    // type-mismatched join on the rare all-dims-absent serve path
    require(df.schema(idCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"sparse index id column '$idCol' must be BIGINT " +
        s"(got ${df.schema(idCol).dataType.simpleString})")
    // stale bound stats are deleted BEFORE the postings overwrite: a
    // crash between the two leaves NO dimstats, which degrades WAND
    // serving to the missing-stats postings aggregate (slow, never
    // wrong) — the reverse order could leave OLD maxima LOWER than the
    // new postings', and a too-low bound prunes docs it has no right
    // to prune (silent wrong answers, the one crash direction the
    // bound invariant cannot tolerate)
    val sp = new org.apache.hadoop.fs.Path(dimStatsDir(indexDir))
    sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(sp, true)
    writePostings(postings(df, idCol, vecCol, topN), indexDir, "overwrite")
    // per-dim bounds from the STORED postings (one columnar scan of
    // (dim, w))
    appendDimStats(readPostings(spark, indexDir, idCol), indexDir)
  }

  /** Absorb a new batch by file append into the served version — ids
    * must be NEW (the [[TermIndex.append]] contract); a posting append
    * is reader-safe in place because a reader's plan lists files once.
    * Alias-root aware, like every writer since round 12. */
  def append(batch: DataFrame, idCol: String, vecCol: String, topN: Int,
             indexDir0: String): Unit = {
    val spark = batch.sparkSession
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    // ONE materialization of the batch's postings (round-17 ADVICE
    // fix, the [[FullText.appendFrom]] discipline): the bound-stats
    // aggregate, writePostings' range-boundary sampling job, and the
    // write itself each re-ran the batch encode otherwise
    val post = postings(batch, idCol, vecCol, topN).localCheckpoint(true)
    // bound stats FIRST (raising-only), postings second — the
    // crash-safe order: see [[appendDimStatsRaising]]
    appendDimStatsRaising(spark, post, indexDir)
    writePostings(post, indexDir, "append")
  }

  /** Record deletes against the sparse artifact ([[Tombstones]] under
    * the index root — serve-time masked until [[compactTombstones]]
    * folds). */
  def delete(ids: DataFrame, indexDir: String, idCol: String): Unit =
    Tombstones.record(ids, indexDir, idCol)

  /** Fold recorded tombstones out of the postings (preserving the
    * bucket partitioning and dim order — they ARE the index structure)
    * and clear them.
    * Alias-aware by default: on a published root the rewrite runs
    * against a copy of the current version and publishes atomically
    * ([[AliasedIndex.maintain]]); flat layouts fold in place with the
    * documented single-writer window. */
  def compactTombstones(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String, idCol: String): Unit = {
    def inPlace(d: String): Unit = {
      compactPostings(spark, d, idCol)
      Tombstones.clear(spark, d)
    }
    AliasedIndex.maintain(spark, indexDir)(inPlace)
  }

  /** UPSERT — delete-then-insert with an immediate fold (the
    * [[graft.search.Quantize]]/SQ8 family's discipline: per-row
    * artifacts re-encode independently, no trained state, so upsert is
    * file-level surgery): tombstone the batch ids, fold postings,
    * append the re-encoded rows. After this the artifact carries
    * exactly the latest rows — no mask debt left behind. */
  def upsertBatch(spark: org.apache.spark.sql.SparkSession,
                  batch: DataFrame, idCol: String, vecCol: String,
                  topN: Int, indexDir0: String): Unit = {
    // the WHOLE delete+fold+append is ONE maintenance verb: on an
    // aliased root it runs against the v(N+1) copy and publishes
    // atomically — a reader never resolves a version whose postings
    // dir is mid-rewrite, and the new version number flips
    // [[Router.artifactFingerprint]] so cached routed/panel decisions
    // re-measure. Resolving the root FIRST would drop the fold onto the
    // flat in-place path, mutating the served version under readers
    // and under the fingerprint.
    def verb(d: String): Unit = {
      Tombstones.record(batch.select(col(idCol)), d, idCol)
      compactPostings(spark, d, idCol)
      Tombstones.clear(spark, d)
      // one materialization — see [[append]] (round-17 ADVICE fix)
      val post = postings(batch, idCol, vecCol, topN)
        .localCheckpoint(true)
      // the fold may have LOWERED true per-dim maxima; the stored
      // bounds stay conservative (upper bound ≥ live max — slower
      // pruning, never wrong), re-tightened by the next rebuild.
      // Raising-only, and BEFORE the posting append (crash-safe order,
      // see [[appendDimStatsRaising]])
      appendDimStatsRaising(spark, post, d)
      writePostings(post, d, "append")
    }
    AliasedIndex.maintain(spark, indexDir0)(verb)
  }

  /** Serve top-k from the STORED artifact: the query's (≤ topN) dims
    * select their bucket directories EXPLICITLY ([[dimScan]] — an
    * O(query dims) seek, with the literal `dim IN (...)` kept on the
    * scan; the collected dim set is the bounded query-side handoff,
    * like the query vector itself) — then the [[search]] join +
    * aggregate, tombstone-masked. */
  def searchIndex(spark: org.apache.spark.sql.SparkSession,
                  indexDir0: String, queryPostings: DataFrame,
                  idCol: String, k: Int): DataFrame = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val qp = queryPostings.select(col("dim"), col("w")).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq.sorted
    val scored = maskedDimScan(spark, indexDir, idCol, qp.map(_._1))
      .join(broadcast(spark.createDataFrame(qp).toDF("dim", "qw")),
        Seq("dim"))
      .groupBy(col(idCol))
      .agg(round(sum(col("w") * col("qw")), 4).as("score"))
    scored.orderBy(col("score").desc, col(idCol).asc).limit(k)
  }

  /** BULK top-k: a BATCH of queries served from the stored artifact in
    * ONE plan — the `ivf_bulk_search`/`graph_ann_bulk` discipline for
    * the sparse tier (round 14; previously every sparse/lexical query
    * was its own plan, so a 1000-query batch paid 1000 plan+scan fixed
    * costs). `queryPostings` carries (qid, dim, w); the postings scan
    * is pruned to the UNION of all queries' dims (still an O(distinct
    * query dims) posting-list seek — [[dimScan]]), the whole query
    * side broadcasts (bounded: n_queries × topN rows), ONE hash
    * aggregate scores every (qid, doc) pair, and a qid-partitioned
    * window keeps each query's k. No per-query jobs, no corpus-sized
    * shuffle — the aggregate's shuffle is (matched docs × queries
    * sharing their dims), the join-free upper bound every bulk lexical
    * scorer has. */
  def searchBulkIndex(spark: org.apache.spark.sql.SparkSession,
                      indexDir0: String, queryPostings: DataFrame,
                      idCol: String, k: Int): DataFrame = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val qp = queryPostings
      .select(col("qid").cast("long"), col("dim").cast("int"),
        col("w").cast("double"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .toSeq.sorted
    val dims = qp.map(_._2).distinct
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("score").desc, col(idCol).asc)
    maskedDimScan(spark, indexDir, idCol, dims)
      .join(broadcast(spark.createDataFrame(qp)
        .toDF("qid", "dim", "qw")), Seq("dim"))
      .groupBy(col("qid"), col(idCol))
      .agg(round(sum(col("w") * col("qw")), 4).as("score"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k).drop("__rn")
      .orderBy(col("qid").asc, col("score").desc, col(idCol).asc)
  }

  // ---------------------------------------------------------------------
  // WAND / max-score top-k pruning (round 14) — see [[searchWandIndex]].
  // ---------------------------------------------------------------------

  /** One full rounding quantum (scores publish at 4 decimals) plus
    * float slop: requiring `τ − bound > margin` guarantees every pruned
    * doc's ROUNDED score lands strictly below the rounded scores of k
    * surviving docs, so pruning can never flip even a rounded-tie
    * ordering. */
  private val WandTieMargin = 1.0001e-4

  /** Dim-pruned postings scan as a posting-list SEEK: the reader is
    * handed the query dims' bucket directories EXPLICITLY (`basePath`
    * keeps the bucket column), so planning lists O(query dims)
    * directories, never the whole artifact, and the `dim IN` literals
    * prune row groups inside them (files are dim-sorted by
    * [[writePostings]]). Buckets with no stored postings are skipped via
    * one bounded existence probe each. */
  private def dimScan(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String, dims: Seq[Int],
                      idCol: String = "id"): DataFrame = {
    val base = postingsDir(indexDir)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paths = dims.map(d => math.floorMod(d, Buckets)).distinct.sorted
      .map(b => new org.apache.hadoop.fs.Path(base, s"$BucketCol=$b"))
      .filter(fs.exists(_)).map(_.toString)
    if (paths.isEmpty) {
      // RARE path: none of the query's buckets exists — an empty
      // artifact, or one an earlier layout wrote, which fails here
      // instead of serving empty
      requireBucketLayout(spark, base)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        postingsSchema(idCol)).drop(BucketCol)
    }
    spark.read.option("basePath", base).schema(postingsSchema(idCol))
      .parquet(paths: _*)
      .where(col("dim").isin(dims: _*))
      .drop(BucketCol)
  }

  /** The dim-stats files' schema as written by [[appendDimStats]] /
    * [[appendDimStatsRaising]]. */
  private val dimStatsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("dim",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("maxw",
      org.apache.spark.sql.types.DoubleType)))

  /** [[dimScan]] + tombstone mask — the shared base of every
    * stored-artifact serve. */
  private def maskedDimScan(spark: org.apache.spark.sql.SparkSession,
                            indexDir: String, idCol: String,
                            dims: Seq[Int]): DataFrame =
    Tombstones.mask(dimScan(spark, indexDir, dims, idCol), spark,
      indexDir, idCol)

  private[graft] final case class WandState(
      indexDir: String, qpAll: Seq[(Int, Double)],
      qp: Seq[(Int, Double)], essDims: Seq[Int]) {
    def exhaustive: Boolean = essDims.length == qp.length
  }

  /** Top-k from the stored artifact with MAX-SCORE (WAND-family)
    * pruning — LOSSLESS: returns exactly [[searchIndex]]'s rows.
    *
    * Why: [[searchIndex]] scores EVERY posting row of every query dim;
    * one stopword-ish high-df dim drags its whole posting list through
    * the aggregate even though its per-posting contribution is too
    * small to change the top k. Every production lexical engine
    * (Lucene's WAND/Block-Max-WAND; the Milvus sparse index behind the
    * reference's keyword path, src/app.py:305-317) skips documents
    * whose per-term upper bounds cannot reach the kth score. The
    * Spark-shaped equivalent prunes at the POSTING-LIST (dim) tier:
    *
    *  1. rank query dims by bound `ub = qw · maxw(dim)`
    *     ([[dimStatsDir]]); suffix-sum the tail.
    *  2. driver loop (doubling prefix J — ≤ log₂(dims) bounded Spark
    *     jobs, the beam-walk discipline): partial-score the top-J
    *     "essential" dims' postings, collect the kth partial score τ
    *     (a LOWER bound on those docs' true scores). Stop at the first
    *     J where `τ − Σ_{j>J} ub_j > margin`: a doc containing NO
    *     essential dim scores ≤ the non-essential bound sum, hence
    *     strictly below k already-found docs — whole non-essential
    *     posting lists are pruned from CANDIDATE GENERATION.
    *  3. exact re-score: candidates = distinct ids in essential
    *     postings; one [[searchIndex]]-shaped join+aggregate over all
    *     query dims' postings semi-joined to the candidates. Survivor
    *     scores are exact, so the pruning is invisible in the result.
    *
    * If no prefix satisfies the bound test (uniform weights, tiny k
    * gap) the serve degrades to exactly [[searchIndex]] — never wrong,
    * at worst unpruned. NON-NEGATIVE weights are required (scores must
    * be monotone in matched dims — BM25 tf·idf and sparsify outputs
    * are); negative weights are refused loudly, and ZERO weights (a
    * stopword whose rounded idf hit 0 at df≈N) are handled without
    * reading their posting lists — they only re-enter as the
    * zero-score id-ascending tail when positives run out, which is
    * exactly [[searchIndex]]'s tail. */
  def searchWandIndex(spark: org.apache.spark.sql.SparkSession,
                      indexDir0: String, queryPostings: DataFrame,
                      idCol: String, k: Int): DataFrame =
    wandServe(spark, indexDir0, queryPostings, idCol, k)._1

  private def wandServe(spark: org.apache.spark.sql.SparkSession,
                        indexDir0: String, queryPostings: DataFrame,
                        idCol: String, k: Int)
      : (DataFrame, WandState) = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val qpAll = queryPostings.select(col("dim"), col("w")).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq.sorted
    require(qpAll.forall(_._2 >= 0),
      "WAND pruning requires non-negative query weights " +
        "(scores must be monotone in matched dims)")
    // a ZERO-weight dim (a stopword whose rounded idf hit 0 at df≈N)
    // contributes nothing to any score: it is dropped from pruning AND
    // from the exact phase — its (corpus-sized!) posting list is never
    // read — and only re-enters as a zero-score top-up when the
    // positive dims yield fewer than k rows, reproducing
    // [[searchIndex]]'s tail exactly (docs matched ONLY via zero-weight
    // dims score 0.0 there, id-ascending)
    val zeroDims = qpAll.filter(_._2 == 0).map(_._1)
    val qp = qpAll.filter(_._2 > 0)
    def exact(base: DataFrame): DataFrame = base
      .join(broadcast(spark.createDataFrame(
        if (qp.isEmpty) Seq((-1, 0.0)) else qp).toDF("dim", "qw")),
        Seq("dim"))
      .groupBy(col(idCol))
      .agg(round(sum(col("w") * col("qw")), 4).as("score"))
      .orderBy(col("score").desc, col(idCol).asc).limit(k)
    def zeroFilled(positives: DataFrame): DataFrame = {
      if (zeroDims.isEmpty) return positives
      val got = positives.collect()
      // k strictly-positive rows: no zero-scored doc (from either a
      // zero-weight dim OR a positive product that ROUNDED to 0.0) can
      // reach the top-k, and the pruning-engaged case always lands
      // here (τ > margin ⇒ kth rounded score > 0) — serve the already-
      // computed rows without re-running the exact phase. nonEmpty
      // first: k <= 0 makes the length test vacuously true on an empty
      // collect and got.last would throw where searchIndex returns an
      // empty frame (round-14 ADVICE)
      if (got.nonEmpty && got.length >= k && got.last.getDouble(1) > 0.0)
        return spark.createDataFrame(
          spark.sparkContext.parallelize(got.toSeq, 1),
          positives.schema)
      // BOUNDARY: positives cannot fill k above zero, so the 0.0 tail
      // is live — and it mixes only-zero-dim docs with positive-dim
      // docs whose rounded score is 0.0, tie-broken BY ID across both.
      // Pruning provably did not engage here (see above), so the
      // honest serve IS the exhaustive one: delegate, exact by
      // definition, no tie arithmetic to get subtly wrong.
      searchIndex(spark, indexDir,
        spark.createDataFrame(qpAll).toDF("dim", "w"), idCol, k)
    }
    val m = qp.length
    val posDims = qp.map(_._1)
    if (m == 0) {
      val st = WandState(indexDir, qpAll, qp, Nil)
      return (zeroFilled(exact(
        maskedDimScan(spark, indexDir, idCol, Nil))), st)
    }
    // bounds, best-first; suffix(i) = Σ of bounds i..m-1
    val mw = dimBounds(spark, indexDir, posDims)
    val bounds = qp.map { case (d, qw) => (d, qw, qw * mw.getOrElse(d, 0.0)) }
      .sortBy { case (d, _, ub) => (-ub, d) }
    val suffix = bounds.map(_._3).scanRight(0.0)(_ + _)
    var j = 1
    var chosen = m
    while (chosen == m && j < m) {
      val ess = bounds.take(j)
      val essQ = broadcast(spark.createDataFrame(
        ess.map(t => (t._1, t._2))).toDF("dim", "qw"))
      val partial = maskedDimScan(spark, indexDir, idCol,
          ess.map(_._1))
        .join(essQ, Seq("dim"))
        .groupBy(col(idCol)).agg(sum(col("w") * col("qw")).as("p"))
        .orderBy(col("p").desc, col(idCol).asc).limit(k)
        .select(col("p")).collect()
      if (partial.length >= k &&
          partial.last.getDouble(0) - suffix(j) > WandTieMargin)
        chosen = j
      else j = math.min(2 * j, m)
    }
    val st = WandState(indexDir, qpAll, qp, bounds.take(chosen).map(_._1))
    val positives =
      if (st.exhaustive)
        exact(maskedDimScan(spark, indexDir, idCol, posDims))
      else {
        val cand = maskedDimScan(spark, indexDir, idCol, st.essDims)
          .select(col(idCol)).distinct()
        exact(maskedDimScan(spark, indexDir, idCol, posDims)
          .join(cand, Seq(idCol), "left_semi"))
      }
    (zeroFilled(positives), st)
  }

  /** One page of a KEYSET iteration over every doc matching the query
    * dims — Milvus `query_iterator` over the sparse/lexical tier
    * (round 15; `search_iterate` existed for the dense tiers): page
    * N+1 is `WHERE id > lastId ORDER BY id LIMIT pageSize` over the
    * dim-pruned, tombstone-masked postings scan, scored like
    * [[searchIndex]]. The cursor predicate is a plain comparison on
    * the POSTINGS' id column, so it PUSHES to the parquet scan
    * (PlanSpec pins the PushedFilters GreaterThan) — a full-corpus
    * lexical export pages through posting-list seeks without ever
    * materializing one giant top-k, every page costs the same, and
    * the cursor is stable under appends past it (the
    * [[graft.core.Collection.page]] keyset argument, applied to the
    * inverted index). Rows come back id-ASCENDING — the keyset order;
    * relevance ranking is [[searchIndex]]'s job, exporting is this
    * one's. */
  def searchIterateIndex(spark: org.apache.spark.sql.SparkSession,
                         indexDir0: String, queryPostings: DataFrame,
                         idCol: String, lastId: Option[Long],
                         pageSize: Int): DataFrame = {
    require(pageSize > 0, "pageSize must be positive")
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val qp = queryPostings.select(col("dim"), col("w")).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq.sorted
    val base = maskedDimScan(spark, indexDir, idCol, qp.map(_._1))
    val cur = lastId.map(c => base.where(col(idCol) > c)).getOrElse(base)
    cur.join(broadcast(spark.createDataFrame(
        if (qp.isEmpty) Seq((-1, 0.0)) else qp).toDF("dim", "qw")),
        Seq("dim"))
      .groupBy(col(idCol))
      .agg(round(sum(col("w") * col("qw")), 4).as("score"))
      .orderBy(col(idCol).asc).limit(pageSize)
  }

  // ---------------------------------------------------------------------
  // BULK WAND (round 15) — [[searchBulkIndex]]'s pruning twin: the
  // round-14 bulk serve scores EVERY posting row of every query's dims;
  // this composes the WAND bound pruning with the one-plan bulk shape.
  // ---------------------------------------------------------------------

  private[graft] final case class BulkWandState(
      indexDir: String,
      qpAll: Seq[(Long, Int, Double)],
      posByQ: Map[Long, Seq[(Int, Double)]],
      chosenByQ: Map[Long, Int]) {
    def essPairs: Seq[(Long, Int)] = posByQ.toSeq.flatMap {
      case (qid, bounds) => bounds.take(chosenByQ(qid)).map(t => (qid, t._1))
    }
    def posPairs: Seq[(Long, Int, Double)] = posByQ.toSeq.flatMap {
      case (qid, bounds) => bounds.map(t => (qid, t._1, t._2))
    }
  }

  /** BULK top-k with MAX-SCORE pruning — returns exactly
    * [[searchBulkIndex]]'s rows for the whole batch, in ONE shared
    * driver loop instead of per-query loops:
    *
    *  1. ONE [[dimBounds]] lookup over the union of all queries' dims.
    *  2. A SHARED doubling loop: at prefix size J, every still-unfrozen
    *     query contributes its top-min(J, m_q) bound-ranked dims to ONE
    *     bulk partial-score plan (join + aggregate + per-qid window);
    *     the per-qid kth partial scores come back in one bounded
    *     collect, and each query freezes independently the moment its
    *     bound test passes (τ_q − Σ tail bounds > margin) or its dims
    *     are exhausted. ≤ log₂(max dims) Spark jobs for the WHOLE
    *     batch — the essential-prefix computation is amortized, which
    *     is the entire point of composing round 14's two pieces.
    *  3. ONE exact phase: candidates = (qid, id) pairs in each query's
    *     essential dims' postings; one join + aggregate + window scores
    *     every candidate against its query's full positive dims.
    *
    * Zero-weight dims follow [[searchWandIndex]]'s boundary rule per
    * query: a query whose positives fill k with strictly-positive
    * scores never reads its zero-weight posting lists; the rare
    * deficient queries delegate to [[searchBulkIndex]] (exact by
    * definition) and their rows replace the pruned ones. The final
    * frame is assembled from the bounded (≤ k·|batch|) collected rows,
    * ordered like [[searchBulkIndex]]. */
  def searchBulkWandIndex(spark: org.apache.spark.sql.SparkSession,
                          indexDir0: String, queryPostings: DataFrame,
                          idCol: String, k: Int): DataFrame =
    bulkWandServe(spark, indexDir0, queryPostings, idCol, k)._1

  private def bulkWandServe(spark: org.apache.spark.sql.SparkSession,
                            indexDir0: String, queryPostings: DataFrame,
                            idCol: String, k: Int)
      : (DataFrame, BulkWandState) = {
    import org.apache.spark.sql.expressions.Window
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val qpAll = queryPostings
      .select(col("qid").cast("long"), col("dim").cast("int"),
        col("w").cast("double"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .toSeq.sorted
    require(qpAll.forall(_._3 >= 0),
      "WAND pruning requires non-negative query weights")
    val qids = qpAll.map(_._1).distinct.sorted
    val zeroByQ = qpAll.filter(_._3 == 0).groupBy(_._1)
    val pos = qpAll.filter(_._3 > 0)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    def emit(rows: Seq[(Long, Long, Double)]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.sortBy {
          case (q, id, sc) => (q, -sc, id) }.map(t =>
          org.apache.spark.sql.Row(t._1, t._2, t._3)), 1), outSchema)
    if (pos.isEmpty) {
      // every weight is zero: the bulk serve IS the zero-score tail —
      // delegate wholesale, exact by definition
      val st = BulkWandState(indexDir, qpAll, Map.empty, Map.empty)
      return (searchBulkIndex(spark, indexDir, queryPostings, idCol, k),
        st)
    }
    // per-query bound-ranked dims + suffix sums, ONE stats lookup
    val allPosDims = pos.map(_._2).distinct
    val mw = dimBounds(spark, indexDir, allPosDims)
    val posByQ: Map[Long, Seq[(Int, Double)]] = pos.groupBy(_._1).map {
      case (qid, rows) =>
        qid -> rows.map { case (_, d, qw) => (d, qw) }
          .sortBy { case (d, qw) => (-(qw * mw.getOrElse(d, 0.0)), d) }
    }
    val suffixByQ: Map[Long, IndexedSeq[Double]] = posByQ.map {
      case (qid, bounds) =>
        qid -> bounds.map { case (d, qw) => qw * mw.getOrElse(d, 0.0) }
          .scanRight(0.0)(_ + _).toIndexedSeq
    }
    val chosen = scala.collection.mutable.Map.empty[Long, Int]
    var unfrozen = posByQ.keySet
    val maxM = posByQ.values.map(_.length).max
    var j = 1
    while (unfrozen.nonEmpty && j < maxM) {
      // one bulk partial-score plan for every unfrozen query's prefix
      val essPairs = unfrozen.toSeq.sorted.flatMap { qid =>
        posByQ(qid).take(j).map { case (d, qw) => (qid, d, qw) }
      }
      val essDims = essPairs.map(_._2).distinct
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("p").desc, col(idCol).asc)
      val kth = maskedDimScan(spark, indexDir, idCol, essDims)
        .join(broadcast(spark.createDataFrame(essPairs)
          .toDF("qid", "dim", "qw")), Seq("dim"))
        .groupBy(col("qid"), col(idCol))
        .agg(sum(col("w") * col("qw")).as("p"))
        .withColumn("__rn", row_number().over(wq))
        .where(col("__rn") <= k)
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n"), min(col("p")).as("kth"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      unfrozen.toSeq.foreach { qid =>
        val m = posByQ(qid).length
        val jq = math.min(j, m)
        val passed = kth.get(qid).exists { case (n, t) =>
          n >= k && t - suffixByQ(qid)(jq) > WandTieMargin }
        if (passed) { chosen(qid) = jq; unfrozen -= qid }
        else if (j >= m) { chosen(qid) = m; unfrozen -= qid }
      }
      j = 2 * j
    }
    unfrozen.foreach(qid => chosen(qid) = posByQ(qid).length)
    val st = BulkWandState(indexDir, qpAll, posByQ, chosen.toMap)
    // exact phase, one plan: essential-dim candidates per query, then
    // full positive-dim scoring semi-joined to them
    val essDf = broadcast(spark.createDataFrame(st.essPairs)
      .toDF("qid", "dim"))
    val candDims = st.essPairs.map(_._2).distinct
    val cand = maskedDimScan(spark, indexDir, idCol, candDims)
      .join(essDf, Seq("dim"))
      .select(col("qid"), col(idCol)).distinct()
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col(idCol).asc)
    val positives = maskedDimScan(spark, indexDir, idCol, allPosDims)
      .join(broadcast(spark.createDataFrame(st.posPairs)
        .toDF("qid", "dim", "qw")), Seq("dim"))
      .join(cand, Seq("qid", idCol), "left_semi")
      .groupBy(col("qid"), col(idCol))
      .agg(round(sum(col("w") * col("qw")), 4).as("score"))
      .withColumn("__rn", row_number().over(wq))
      .where(col("__rn") <= k).drop("__rn")
    val got = positives.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byQid = got.groupBy(_._1)
    // the per-query zero-tail boundary ([[searchWandIndex]]'s rule): a
    // query with zero-weight dims whose positives cannot fill k above
    // 0.0 delegates to the exhaustive bulk serve — pruning provably
    // did not engage for it (its τ never cleared the margin)
    val deficient = qids.filter { qid =>
      zeroByQ.contains(qid) && {
        val rows = byQid.getOrElse(qid, Array.empty)
        rows.length < k || rows.exists(_._3 == 0.0)
      }
    }
    if (deficient.isEmpty) return (emit(got.toSeq), st)
    val defSet = deficient.toSet
    import spark.implicits._
    val fix = searchBulkIndex(spark, indexDir,
        qpAll.filter(t => defSet(t._1)).toDF("qid", "dim", "w"),
        idCol, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    (emit(got.filterNot(t => defSet(t._1)).toSeq ++ fix), st)
  }

  /** The pruned-vs-scored accounting behind [[searchBulkWandIndex]] —
    * one row per batch: queries, query dims, essential (qid, dim)
    * pairs chosen, posting rows under the batch's dims, rows the exact
    * phase scored, rows pruned, and a checked equals-exhaustive flag
    * (row-for-row against [[searchBulkIndex]]). Counters are
    * algorithm-internal, the `fulltext_wand_prune_report` category. */
  def bulkWandReport(spark: org.apache.spark.sql.SparkSession,
                     indexDir0: String, queryPostings: DataFrame,
                     idCol: String, k: Int,
                     checkLossless: Boolean = true): DataFrame = {
    val (topk, st) = bulkWandServe(spark, indexDir0, queryPostings,
      idCol, k)
    val allDims = st.qpAll.map(_._2).distinct
    val total = maskedDimScan(spark, st.indexDir, idCol, allDims)
      .join(broadcast(spark.createDataFrame(st.qpAll.map(t =>
          (t._1, t._2))).toDF("qid", "dim")), Seq("dim"))
      .count()
    val posDims = st.posPairs.map(_._2).distinct
    val essDf = broadcast(spark.createDataFrame(
      if (st.essPairs.isEmpty) Seq((-1L, -1)) else st.essPairs)
      .toDF("qid", "dim"))
    val cand = maskedDimScan(spark, st.indexDir, idCol,
        st.essPairs.map(_._2).distinct)
      .join(essDf, Seq("dim"))
      .select(col("qid"), col(idCol)).distinct()
    val scored =
      if (st.posPairs.isEmpty) 0L
      else maskedDimScan(spark, st.indexDir, idCol, posDims)
        .join(broadcast(spark.createDataFrame(st.posPairs.map(t =>
          (t._1, t._2))).toDF("qid", "dim")), Seq("dim"))
        .join(cand, Seq("qid", idCol), "left_semi")
        .count()
    val same = !checkLossless || {
      val exhaustive = searchBulkIndex(spark, st.indexDir,
        spark.createDataFrame(st.qpAll).toDF("qid", "dim", "w"),
        idCol, k)
      topk.collect().map(_.toSeq).toSeq ==
        exhaustive.collect().map(_.toSeq).toSeq
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        st.qpAll.map(_._1).distinct.length.toLong,
        st.qpAll.length.toLong,
        st.essPairs.length.toLong, total, scored, total - scored,
        if (same) 1L else 0L)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_queries",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_query_dims",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("essential_pairs",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("rows_total",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("rows_scored",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("rows_pruned",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("bulk_wand_equals_bulk",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** The pruned-vs-scored accounting behind [[searchWandIndex]] — one
    * row: query dims, essential dims chosen, posting rows in the query
    * dims (masked), rows the exact phase actually scored, rows pruned,
    * and a checked `wand_equals_exhaustive` flag (the lossless claim,
    * verified against [[searchIndex]] on the same query). Counters are
    * algorithm-internal (the adaptive prefix choice has no SQL
    * counterpart), so the entry carrying this is rows-only by nature,
    * like `ann_lsh`; the flag ties it to the oracle-checked serve. */
  def wandReport(spark: org.apache.spark.sql.SparkSession,
                 indexDir0: String, queryPostings: DataFrame,
                 idCol: String, k: Int,
                 checkLossless: Boolean = true): DataFrame = {
    val (topk, st) = wandServe(spark, indexDir0, queryPostings, idCol, k)
    val allDims = st.qpAll.map(_._1)
    val posDims = st.qp.map(_._1)
    val total = maskedDimScan(spark, st.indexDir, idCol, allDims)
      .count()
    // rows the exact phase aggregates: candidate docs' positive-dim
    // postings (zero-weight dims are never scored — see wandServe)
    val scored =
      if (st.exhaustive)
        maskedDimScan(spark, st.indexDir, idCol, posDims).count()
      else maskedDimScan(spark, st.indexDir, idCol, posDims)
        .join(maskedDimScan(spark, st.indexDir, idCol, st.essDims)
          .select(col(idCol)).distinct(), Seq(idCol), "left_semi")
        .count()
    // `checkLossless = false` skips the exhaustive twin (for decade
    // rehearsals whose POINT is that the exhaustive cost is avoidable);
    // the flag then reports 1 on the strength of the bound argument
    val same = !checkLossless || {
      val exhaustiveTopk = searchIndex(spark, st.indexDir,
        spark.createDataFrame(st.qpAll).toDF("dim", "w"), idCol, k)
      topk.collect().map(_.toSeq).toSeq ==
        exhaustiveTopk.collect().map(_.toSeq).toSeq
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        st.qpAll.length.toLong, st.essDims.length.toLong, total, scored,
        total - scored, if (same) 1L else 0L)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_dims",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("essential_dims",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("rows_total",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("rows_scored",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("rows_pruned",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("wand_equals_exhaustive",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }
}
