package graft.search

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reconcile a serving index against its source collection — the
  * "reindex delta" maintenance verb. Milvus keeps segments aligned by
  * construction (every insert/delete flows through the engine,
  * src/app.py:87 drops and recreates wholesale); on a lakehouse the
  * collection and its derived artifacts DRIFT whenever a delete,
  * rewrite, or append bypasses index maintenance — exactly the state
  * [[IndexAudit.coverageChecks]]' `missing`/`orphans` counters detect.
  * This operator repairs what the audit reports, without a rebuild:
  *
  *  - ORPHANS (artifact ids absent from the corpus — a collection
  *    delete/rewrite that never propagated) become [[Tombstones]]: a
  *    key append, masked by every serve path, folded by compaction.
  *  - MISSING rows (corpus ids absent from the artifact — an append
  *    that never hit the index) enter by [[IvfIndex.append]]'s
  *    frozen-centroid assignment.
  *
  * Both diffs are anti-joins against the artifact's id projection;
  * existing artifact data is never rewritten. After reconcile, a
  * full-probe serve equals exact search over the live corpus. */
object IndexSync {
  /** Returns (orphans_tombstoned, rows_appended). Idempotent: the
    * orphan diff runs against the artifact MINUS already-recorded
    * tombstones, so a second reconcile over the same drift repairs
    * nothing. Caveat (documented, detected by the version/coverage
    * audits): a key that was deleted and then RE-ADDED to the
    * collection still has its physical artifact row, so it is not
    * "missing" here — yet the old tombstone masks it at serve time;
    * fold tombstones ([[Tombstones.compact]]) before reconciling when
    * the collection re-uses keys. */
  def reconcileIvf(spark: SparkSession, corpus: DataFrame, idCol: String,
                   vecCol: String, model: IvfIndex.Model): (Long, Long) = {
    val artIds = IvfIndex.readData(spark, model.indexDir)
      .select(col(idCol)).distinct()
    val orphans = Tombstones.mask(artIds, spark, model.indexDir, idCol)
      .join(corpus.select(col(idCol)), Seq(idCol), "left_anti")
    val nOrphans = orphans.count()
    if (nOrphans > 0) Tombstones.record(orphans, model.indexDir, idCol)
    val missing = corpus.select(col(idCol), col(vecCol))
      .join(artIds, Seq(idCol), "left_anti")
    val nMissing = missing.count()
    if (nMissing > 0) IvfIndex.append(missing, vecCol, model)
    (nOrphans, nMissing)
  }

  /** TTL → derived-index bridge (round 15): record the collection's
    * EXPIRED keys ([[graft.core.Collection.expiredKeys]] at `asOf`) as
    * [[Tombstones]] against a derived index dir, so every masked serve
    * (IVF / graph / sparse / BM25 — they all anti-join the same
    * tombstone table) stops returning expired rows WITHOUT waiting for
    * [[graft.core.Collection.reclaimExpired]] + a reconcile pass.
    * `keyCol` names the collection's key, `idCol` the artifact's
    * (often the same). Idempotent: only keys not already tombstoned
    * are recorded (anti-join against the existing tombstone table), so
    * a scheduled re-sync at the same `asOf` records nothing — returns
    * the NEWLY tombstoned key count. Pass an explicit `asOf` literal
    * for replayable pipelines, the fixture discipline; a later `asOf`
    * records only the newly-expired delta (expiry is monotone).
    *
    * Division of labor: this verb makes expiry VISIBLE in index serves
    * (a bounded key append, O(expired batch)); physical repayment
    * stays with reclaim (collection) + tombstone compaction / a
    * reconcile (index) — the same mask-now-fold-later split as every
    * delete here. */
  def syncTtlTombstones(spark: SparkSession,
                        coll: graft.core.Collection, keyCol: String,
                        asOf: org.apache.spark.sql.Column,
                        indexDir0: String,
                        idCol: String): Long = {
    // resolve the alias root ONCE: the idempotence anti-join must read
    // the SAME deletes dir the record below writes (record resolves
    // internally; an unresolved table read would see the root's)
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val fresh = unsyncedExpired(spark, coll, keyCol, asOf, indexDir,
      idCol)
    val n = fresh.count()
    if (n > 0) Tombstones.record(fresh, indexDir, idCol)
    n
  }

  /** Repair keys RE-INGESTED after expiry/delete (round 16, advisory
    * fix): a key tombstoned by [[syncTtlTombstones]] (or a delete) and
    * later re-ingested into the collection stays masked forever —
    * tombstones were never retracted — so the index silently drops an
    * entity [[graft.core.Collection.readLive]] serves. This verb
    * closes the loop for the IVF family, in the only safe order:
    *
    *  1. detect: tombstoned keys that are LIVE in the collection at
    *     `asOf` (semi-join of the delete-batch-sized tombstone table
    *     against live keys), snapshotted to a temp parquet so later
    *     steps don't lazily re-read a deletes dir step 3 rewrites;
    *  2. fold: [[Tombstones.compact]] the data dir — the stale
    *     physical rows of EVERY tombstoned key leave the layout, so
    *     retraction cannot resurrect old content or double-serve;
    *  3. append the keys' CURRENT live rows (latest stamp per key —
    *     a multi-row append history re-enters once) under the frozen
    *     centroids ([[IvfIndex.append]]); they stay tombstone-masked
    *     until step 4, so a crash here re-runs cleanly;
    *  4. retract ONLY the re-ingested keys' tombstones
    *     ([[Tombstones.retract]]) — still-dead keys stay recorded, so
    *     a same-`asOf` [[syncTtlTombstones]] re-sync remains a no-op.
    *
    * Returns the repaired key count; 0 = no re-ingest drift, nothing
    * rewritten. Row-count cost: one bounded fold (tombstone
    * compaction, already owed) + O(re-ingested batch). */
  def repairReingestedIvf(spark: SparkSession,
                          coll: graft.core.Collection, keyCol: String,
                          asOf: org.apache.spark.sql.Column,
                          model: IvfIndex.Model, vecCol: String,
                          idCol: String): Long = {
    import graft.core.Collection
    val indexDir = model.indexDir
    val live = coll.readLive(asOf)
    val liveKeys = live.select(col(keyCol).cast("long").as(idCol))
      .distinct()
    val snapDir = s"$indexDir/__reingest_tmp"
    Tombstones.table(spark, indexDir, idCol)
      .join(liveKeys, Seq(idCol), "left_semi")
      .write.mode("overwrite").parquet(snapDir)
    val snap = spark.read.parquet(snapDir)
    val n = snap.count()
    if (n > 0) {
      IvfIndex.foldTombstones(spark, indexDir, idCol)
      // latest live row per key: a NULL stamp sorts lowest (epoch 0),
      // matching readLive's "unstamped is live" floor; ties (same
      // stamp) break on the vector struct comparison, deterministic.
      // An UNSTAMPED collection (plain append + CDC-delete re-ingest —
      // round-16 review fix: selecting the absent stamp column threw
      // AFTER the index was already mutated) has every row at the
      // epoch-0 floor.
      val tsCol =
        if (live.columns.contains(Collection.IngestTsCol))
          coalesce(col(Collection.IngestTsCol).cast("long"), lit(0L))
        else lit(0L)
      val rows = live
        .select(col(keyCol).cast("long").as(idCol), tsCol.as("__ts"),
          col(vecCol))
        .join(snap, Seq(idCol), "left_semi")
        .groupBy(col(idCol))
        .agg(max(struct(col("__ts"), col(vecCol))).as("__latest"))
        .select(col(idCol), col("__latest").getField(vecCol).as(vecCol))
      // append BEFORE retract (round-16 review fix — crash-ordering):
      // the appended rows stay tombstone-MASKED until retraction, so a
      // crash between the two steps leaves the keys still
      // tombstoned∩live and a re-run repeats the whole verb (compact
      // folds the half-appended rows back out, being tombstoned-key
      // rows). Retract-first left a crash window where the key was
      // neither tombstoned nor present — invisible to a re-run,
      // silently missing from every serve.
      IvfIndex.append(rows, vecCol, model)
      Tombstones.retract(snap, indexDir, idCol)
    }
    new org.apache.hadoop.fs.Path(snapDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(snapDir), true)
    n
  }

  /** The collection's expired-at-`asOf` keys NOT yet tombstoned in the
    * (alias-resolved) index — what [[syncTtlTombstones]] would record;
    * shared with [[Maintenance.planTtlSync]]'s drift meter. */
  private[graft] def unsyncedExpired(spark: SparkSession,
                                     coll: graft.core.Collection,
                                     keyCol: String,
                                     asOf: org.apache.spark.sql.Column,
                                     indexDir: String,
                                     idCol: String)
      : org.apache.spark.sql.DataFrame =
    coll.expiredKeys(keyCol, asOf)
      .select(col(keyCol).cast("long").as(idCol)).distinct()
      .join(Tombstones.table(spark, indexDir, idCol), Seq(idCol),
        "left_anti")
}
