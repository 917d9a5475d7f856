package graft.search

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Maintenance scheduling for a serving index — the policy layer over
  * round-9's observability ([[IndexAudit.versionChecks]], the balance
  * stats) and maintenance verbs ([[IvfIndex.compactVersions]],
  * [[Tombstones.compact]], [[IvfIndex.rebalance]]): Milvus runs this
  * loop internally (segment compaction + reindex triggers); on a
  * lakehouse the operator owns it, so the trigger arithmetic must be
  * inspectable and replayable, not a heuristic buried in a scheduler.
  *
  * Every decision is `metric > threshold` in ABSOLUTE ROWS derived
  * from the artifact itself:
  *  - `compact_versions`: superseded rows > versionDebtFrac · artifact
  *    rows — the latest-wins overlay every serve pays is now material.
  *  - `compact_tombstones`: tombstoned keys > tombstoneFrac · artifact
  *    rows — the serve-time anti-join's broadcast side is growing.
  *  - `rebalance`: max list size > skewFactor · avg list size — probes
  *    of the hot list dominate serving cost.
  *
  * Inputs are three bounded aggregates (the 4-row version counters,
  * one row of list-size stats); the plan row set is assembled
  * driver-side from those — the same bounded-handoff discipline as the
  * query-vector fetch. */
object Maintenance {
  private def mkRow(action: String, metric: Long, threshold: Long) =
    Row(action, metric, threshold, metric > threshold)

  private def toDf(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("action", StringType, nullable = false),
        StructField("metric", LongType, nullable = false),
        StructField("threshold", LongType, nullable = false),
        StructField("triggered", BooleanType, nullable = false))))

  /** The IVF family's metric FRAME — the versioning counters plus the
    * list-size stats, as (k, v) rows with NO action triggered: every
    * consumer unions further metric frames onto it and collects ONCE
    * (round 11: the previous per-metric `collect()`s cost ~10 Spark
    * actions per [[planFull]] pass — the same information is one
    * multi-source union plan whose independent scans schedule in
    * parallel inside a single job). */
  private def ivfMetrics(spark: SparkSession, indexDir: String,
                         idCol: String): DataFrame = {
    val vc = IndexAudit.versionChecks(spark, indexDir, idCol)
      .select(col("check_name").as("k"), col("value").as("v"))
    // empty data dir: zero groups -> count 0, sum/max NULL -> coalesce
    // to zeros (no action triggers on an empty index) instead of an NPE
    val stats = IvfIndex.readData(spark, indexDir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .agg(coalesce(sum(col("sz")), lit(0L)).as("total"),
        coalesce(max(col("sz")), lit(0L)).as("mx"),
        count(lit(1)).as("nlists"))
      .selectExpr("stack(3, 'ivf_total', total, 'ivf_max_list', mx, " +
        "'ivf_nlists', nlists) AS (k, v)")
    vc.unionByName(stats.select(col("k"), col("v").cast("long").as("v")))
  }

  /** Assemble the IVF family's three core trigger rows from a
    * collected metric map (shared by [[plan]] and [[planFull]]). */
  private def ivfRowsFrom(m: Map[String, Long], versionDebtFrac: Double,
                          tombstoneFrac: Double,
                          skewFactor: Double): Seq[Row] = {
    val total = m("ivf_total")
    val avgList = total / math.max(1L, m("ivf_nlists"))
    Seq(
      mkRow("compact_tombstones", m("ver_tombstone_keys"),
        (total * tombstoneFrac).toLong),
      mkRow("compact_versions", m("ver_superseded_rows"),
        (total * versionDebtFrac).toLong),
      mkRow("rebalance", m("ivf_max_list"),
        (avgList * skewFactor).toLong))
  }

  /** One row per candidate action: (action, metric, threshold,
    * triggered), action-ascending. Integer thresholds floor the
    * fraction so the replaying oracle needs no float comparison. */
  def plan(spark: SparkSession, indexDir0: String, idCol: String,
           versionDebtFrac: Double = 0.10, tombstoneFrac: Double = 0.05,
           skewFactor: Double = 4.0): DataFrame = {
    // observe the SERVED version: an aliased root keeps data/deletes
    // under vN, so the unresolved dataDir read would throw (and the
    // debt that matters is the serving version's) — resolve ONCE here,
    // like every reader
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val m = ivfMetrics(spark, indexDir, idCol)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    toDf(spark, ivfRowsFrom(m, versionDebtFrac, tombstoneFrac,
      skewFactor))
  }

  /** TTL-reclamation trigger for a COLLECTION (round 14 — the
    * [[graft.core.Collection.ttlSeconds]] property's policy row, in
    * [[plan]]'s exact schema): `reclaim_expired` fires when
    * expired-but-present rows ([[graft.core.Collection.ttlDebt]] — the
    * debt every [[graft.core.Collection.readLive]] serve pays as a
    * mask predicate) exceed `expiredFrac` of the collection, and
    * [[graft.core.Collection.reclaimExpired]] is the verb that clears
    * it. `asOf` must be the same clock the serves use — pass an
    * explicit literal for replayable plans (the fixture discipline). */
  def planTtl(spark: SparkSession, collectionDir: String,
              asOf: org.apache.spark.sql.Column,
              expiredFrac: Double = 0.10): DataFrame = {
    val d = graft.core.Collection(spark, collectionDir)
      .ttlDebt(asOf).collect()(0)
    val expired = d.getLong(0)
    val total = expired + d.getLong(1)
    toDf(spark, Seq(mkRow("reclaim_expired", expired,
      (total * expiredFrac).toLong)))
  }

  /** TTL→index DRIFT trigger (round 15 — the observe half of
    * [[IndexSync.syncTtlTombstones]], completing the observe→plan→verb
    * loop the TTL bridge opened): `sync_ttl_tombstones` fires when the
    * collection's expired-at-`asOf` keys NOT yet tombstoned in the
    * index — rows every masked serve is still RETURNING despite their
    * expiry — exceed `expiredFrac` of the collection. The verb is
    * [[IndexSync.syncTtlTombstones]] itself, after which the metric is
    * 0 by the sync's idempotence anti-join (the
    * trigger-clears-after-maintenance contract). One bounded anti-join
    * count; same clock discipline as [[planTtl]]. */
  def planTtlSync(spark: SparkSession, collectionDir: String,
                  keyCol: String, asOf: org.apache.spark.sql.Column,
                  indexDir: String, idCol: String,
                  expiredFrac: Double = 0.10): DataFrame = {
    val coll = graft.core.Collection(spark, collectionDir)
    val unsynced = IndexSync.unsyncedExpired(spark, coll, keyCol, asOf,
      AliasedIndex.resolveDir(spark, indexDir), idCol).count()
    // threshold base = DISTINCT keys, matching the metric's unit: the
    // metric counts unsynced KEYS, so a multi-row-per-key collection
    // must not dilute the fraction with its row count (review finding
    // — a 100%-expired collection would otherwise never trigger)
    val keys = coll.read.select(col(keyCol)).distinct().count()
    toDf(spark, Seq(mkRow("sync_ttl_tombstones", unsynced,
      (keys * expiredFrac).toLong)))
  }

  /** Rebuild-cadence trigger for a [[FullText]] artifact (round 14 —
    * the frozen-stats drift [[FullText.append]] documents, given a
    * METER and a policy row, mirroring the version-debt discipline):
    *  - `rebuild_fulltext_appends` — posting rows absorbed since the
    *    build ([[FullText.debt]]'s appended_rows; each scores against
    *    the sealed avgdl) exceed `appendFrac` of the sealed rows.
    *  - `rebuild_fulltext_terms` — genuinely NEW terms (df_=1 under
    *    frozen stats — their idf is maximally wrong) exceed
    *    `newTermCap`.
    * The verb is a plain [[FullText.build]] over the current corpus:
    * it re-seals the counts, so both metrics return to 0 — the
    * trigger-clears-after-maintenance contract every planFull row
    * keeps. */
  def planFullText(spark: SparkSession, indexDir: String,
                   appendFrac: Double = 0.10,
                   newTermCap: Long = 0L): DataFrame = {
    val d = FullText.debt(spark, indexDir).collect()(0)
    toDf(spark, Seq(
      mkRow("rebuild_fulltext_appends", d.getLong(0),
        (d.getLong(1) * appendFrac).toLong),
      mkRow("rebuild_fulltext_terms", d.getLong(2), newTermCap)))
  }

  /** The observe→plan loop over EVERY index family (round 10 — the
    * three-verb [[plan]] read a third of the audit surface; this reads
    * the rest): the IVF core rows plus
    *
    *  - `consolidate_graph` — adjacency rows touching a dead node
    *    (`graphDeadKeys`, the graph index's tombstone set) exceed
    *    `graphDebtFrac` of the artifact: tombstoned nodes still do
    *    routing work on every walk until
    *    [[GraphAnn.consolidateDeletes]] folds them out.
    *  - `compact_text_tombstones` — the lexical family's tombstone
    *    keys ([[Tombstones]] under `textIndexDir`, masking BM25 and
    *    phrase serving) exceed `textTombstoneFrac` of the doclen
    *    table's documents: each serve pays the anti-join until
    *    [[TermIndex.compactTombstones]] folds every lexical layout.
    *  - `reconcile` — [[IndexAudit.ivfChecks]]' drift direction:
    *    artifact ids absent from `liveCorpus` (orphans) plus corpus
    *    ids absent from the artifact (missing), threshold 0 — any
    *    drift means [[IndexSync.reconcileIvf]] has work.
    *  - `refresh_radii` — [[IndexAudit.radiiChecks]]'
    *    `ivf_radius_violations` PLUS `ivf_radius_missing`, threshold 0:
    *    a violated covering radius makes range/exact-via-IVF serving
    *    WRONG, not slow, so the repair ([[IvfIndex.refreshRadii]])
    *    schedules on the first violation; a missing radius (a pre-radii
    *    index, or a cluster the fold never saw) is slow-not-wrong but
    *    the same verb cures it, so it schedules too — and a LEGACY
    *    index with no radii table now plans `refresh_radii` instead of
    *    crashing (the round-10 ADVICE finding).
    *  - `reelect_entries` (round 11) — [[IndexAudit.entryChecks]]'
    *    `entry_points_dead`, threshold 0: a tombstoned or
    *    consolidation-stripped entry point strands every walk seeded
    *    there ([[GraphAnn.reelectEntries]] is the verb, or run the
    *    consolidation through
    *    [[GraphAnn.consolidateDeletesWithEntries]]).
    *  - `compact_term_segments` (round 11) — the term artifact's
    *    segment count ([[TermIndex.segments]], one listStatus) vs
    *    `segmentCap`: every prefix query pays one footer read per
    *    intersecting segment, so segment debt is a serving cost
    *    ([[TermIndex.compactSegments]] folds; Lucene's merge policy is
    *    this row).
    *  - `compact_sparse_tombstones` (round 12, when `sparseIndexDir`
    *    is given) — the sparse postings family's tombstone keys vs
    *    `sparseTombstoneFrac` of its distinct posted ids: every
    *    [[SparseVec.searchIndex]] pays the mask anti-join until
    *    [[SparseVec.compactTombstones]] folds. The family's id column
    *    is the same `idCol`.
    *  - `consolidate_upper_graph` (when `adjUpper` is given)
    *    — the layered graph's UPPER adjacency carries its own dead-edge
    *    debt (`graphDebtFrac` of its edges): a tombstoned upper node
    *    keeps doing zoom routing on every layered serve until
    *    [[GraphAnn.consolidateDeletesLayeredRoot]] folds both layers.
    *
    * Every metric/threshold stays `metric > threshold` in absolute
    * rows derived from artifacts the caller can inspect — bounded
    * aggregates, driver-assembled rows, same as [[plan]]. */
  def planFull(spark: SparkSession, indexDir0: String, idCol: String,
               vecCol: String, liveCorpus: DataFrame, adj: DataFrame,
               graphDeadKeys: DataFrame, textIndexDir0: String,
               entries: DataFrame, termIndexDir: String,
               versionDebtFrac: Double = 0.10,
               tombstoneFrac: Double = 0.05, skewFactor: Double = 4.0,
               graphDebtFrac: Double = 0.05,
               textTombstoneFrac: Double = 0.05,
               segmentCap: Int = 2,
               sparseIndexDir: String = "",
               sparseTombstoneFrac: Double = 0.05,
               adjUpper: Option[DataFrame] = None): DataFrame = {
    // resolve BOTH roots once (see [[plan]]): fixtures hand aliased
    // roots by default now, and the unresolved reads (ivf data dir,
    // BM25 doclen, text tombstones) would throw on root-level paths
    // that only exist inside vN — or worse, silently miss the serving
    // version's tombstone debt
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val textIndexDir = AliasedIndex.resolveDir(spark, textIndexDir0)
    def kv(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("k"), col("value").cast("long").as("v"))
    // graph: dead-touching DISTINCT edges vs the artifact's edge count —
    // ONE adjacency scan with two broadcast left joins and an OR
    // filter (round 12: the previous union-of-semi-joins scanned the
    // adjacency twice). The count is distinct-(src,dst) (round-13
    // ADVICE fix): [[GraphAnn.buildAdjacency]] emits unique edges, but
    // an adjacency assembled through append/repair compositions may
    // carry a duplicate row, and the metric (like its replaying
    // oracle) must count EDGES, not rows — the distinct rides the
    // aggregate's own shuffle on an already-filtered (small) side.
    val dead = broadcast(graphDeadKeys
      .select(col(graphDeadKeys.columns.head).cast("long").as("__dead"))
      .distinct())
    val edgesDf = kv("graph_edges",
      adj.agg(count(lit(1)).as("value")))
    val deadEdgesDf = kv("graph_dead_edges", adj
      .join(dead.select(col("__dead").as("src"), lit(1).as("__sdead")),
        Seq("src"), "left")
      .join(dead.select(col("__dead").as("dst"), lit(1).as("__ddead")),
        Seq("dst"), "left")
      .where(col("__sdead").isNotNull || col("__ddead").isNotNull)
      .agg(countDistinct(struct(col("src"), col("dst"))).as("value")))
    // text: tombstone keys vs the doclen table's document count
    val nDocsDf = kv("text_docs",
      TermIndex.doclen(spark, textIndexDir)
        .agg(countDistinct(col("id")).as("value")))
    val textTombDf = kv("text_tombstones",
      Tombstones.table(spark, textIndexDir, "id")
        .agg(count(lit(1)).as("value")))
    // reconcile: both drift directions against the live corpus. The
    // artifact side is tombstone-MASKED, exactly like
    // [[IndexSync.reconcileIvf]]'s own diffs — so running the verb
    // clears the trigger (already-recorded orphan tombstones stop
    // counting; appended missing rows appear), the idempotency the
    // verb documents.
    // both drift directions from ONE full-outer pass (round 12: the
    // two anti-joins each re-evaluated the masked-artifact-id subtree
    // — its dataDir scan was the observe pass's priciest branch, paid
    // twice). artIds and corpusIds are both key-unique, so the
    // full-outer is 1:1 and a null on either side IS the drift.
    val artIds = Tombstones.mask(
      IvfIndex.readData(spark, indexDir)
        .select(col(idCol)).distinct(),
      spark, indexDir, idCol)
    val corpusIds = liveCorpus.select(col(idCol))
    val driftDf = artIds.withColumn("__art", lit(1))
      .join(corpusIds.withColumn("__cor", lit(1)), Seq(idCol),
        "full_outer")
      .agg(
        coalesce(sum(when(col("__cor").isNull, 1L)), lit(0L)).as("o"),
        coalesce(sum(when(col("__art").isNull, 1L)), lit(0L)).as("m"))
      .selectExpr(
        "stack(2, 'reconcile_orphans', o, 'reconcile_missing', m) " +
          "AS (k, v)")
      .select(col("k"), col("v").cast("long").as("v"))
    // radii (violations = wrong answers; missing = unaccelerated — both
    // cured by refreshRadii) and entry liveness, already (k, v)-shaped
    val radiiDf = IndexAudit.radiiChecks(spark, indexDir, vecCol)
      .select(col("check_name").as("k"), col("value").as("v"))
    val entryDf = IndexAudit.entryChecks(entries, adj, graphDeadKeys)
      .select(col("check_name").as("k"), col("value").as("v"))
    // lexical segment debt: one listStatus, no Spark job at all
    val nSegs = TermIndex.segments(spark,
      AliasedIndex.resolveDir(spark, termIndexDir)).size.toLong
    // sparse family (round 12, opt-in): tombstone keys vs distinct
    // posted ids — two more branches of the same one-action union
    val sparseDfs: Seq[DataFrame] =
      if (sparseIndexDir.isEmpty) Nil
      else {
        val sd = AliasedIndex.resolveDir(spark, sparseIndexDir)
        Seq(
          kv("sparse_docs",
            SparseVec.readPostings(spark, sd, idCol)
              .agg(countDistinct(col(idCol)).as("value"))),
          kv("sparse_tombstones",
            Tombstones.table(spark, sd, idCol)
              .agg(count(lit(1)).as("value"))))
      }
    // layered family (opt-in): the UPPER adjacency's dead-edge debt —
    // a tombstoned upper node keeps doing zoom work on every layered
    // serve until [[GraphAnn.consolidateDeletesLayeredRoot]] folds it;
    // same distinct-(src,dst) metric as the base row
    val upperDfs: Seq[DataFrame] = adjUpper match {
      case None => Nil
      case Some(ua) => Seq(
        kv("upper_edges", ua.agg(count(lit(1)).as("value"))),
        kv("upper_dead_edges", ua
          .join(dead.select(col("__dead").as("src"),
            lit(1).as("__sdead")), Seq("src"), "left")
          .join(dead.select(col("__dead").as("dst"),
            lit(1).as("__ddead")), Seq("dst"), "left")
          .where(col("__sdead").isNotNull || col("__ddead").isNotNull)
          .agg(countDistinct(struct(col("src"), col("dst")))
            .as("value"))))
    }
    // ONE action for the whole observe pass: every family's bounded
    // aggregate is a branch of one union plan (independent scans
    // schedule in parallel within the job) instead of its own collect —
    // the round-11 answer to "the trigger scan is the #2 bench entry"
    val m = (Seq(ivfMetrics(spark, indexDir, idCol), edgesDf, deadEdgesDf,
        nDocsDf, textTombDf, driftDf, radiiDf, entryDf) ++
        sparseDfs ++ upperDfs)
      .reduce(_ unionByName _)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = ivfRowsFrom(m, versionDebtFrac, tombstoneFrac, skewFactor)
    val graphRow = mkRow("consolidate_graph", m("graph_dead_edges"),
      (m("graph_edges") * graphDebtFrac).toLong)
    val textRow = mkRow("compact_text_tombstones", m("text_tombstones"),
      (m("text_docs") * textTombstoneFrac).toLong)
    val reconcileRow = mkRow("reconcile",
      m("reconcile_orphans") + m("reconcile_missing"), 0L)
    val radiiRow = mkRow("refresh_radii",
      m("ivf_radius_violations") + m("ivf_radius_missing"), 0L)
    val entryRow = mkRow("reelect_entries", m("entry_points_dead"), 0L)
    val segRow = mkRow("compact_term_segments", nSegs, segmentCap.toLong)
    val sparseRows =
      if (sparseIndexDir.isEmpty) Nil
      else Seq(mkRow("compact_sparse_tombstones", m("sparse_tombstones"),
        (m("sparse_docs") * sparseTombstoneFrac).toLong))
    val upperRows =
      if (adjUpper.isEmpty) Nil
      else Seq(mkRow("consolidate_upper_graph", m("upper_dead_edges"),
        (m("upper_edges") * graphDebtFrac).toLong))
    toDf(spark,
      (base ++ Seq(graphRow, textRow, reconcileRow, radiiRow, entryRow,
        segRow) ++ sparseRows ++ upperRows)
        .sortBy(_.getString(0)))
  }
}
