package graft.search

import graft.core.Artifacts
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Delete propagation for derived serving artifacts — segment-tombstone
  * semantics over parquet index dirs (Milvus, the reference's engine,
  * serves deletes exactly this way: `delete(expr)` writes tombstones and
  * queries mask them until compaction folds them in; the reference's
  * client exposes delete next to the insert it uses at src/app.py:230).
  *
  * The problem this solves: [[graft.core.Collection.delete]] rewrites the
  * COLLECTION, but the derived serving artifacts (IVF data dirs, graph
  * adjacency, BM25 postings, packed signatures, PQ/RQ codes) are built
  * once and scanned many times — rebuilding every index on every delete
  * is the one cost no 100 TB deployment pays. Instead:
  *
  *   - [[record]] appends deleted ids to `indexDir/deletes/` — a key-only
  *     parquet append, no artifact rewrite, O(batch) like every other
  *     incremental-maintenance path here;
  *   - [[mask]] is the serve-time guard: a LEFT ANTI join of the artifact
  *     scan against the (distinct) tombstone keys. The tombstone side is
  *     small next to the corpus, so Catalyst broadcasts it — the mask
  *     costs one broadcast-hash-anti per query and NO extra shuffle, and
  *     when no tombstones exist it is a literal no-op (the plan is
  *     unchanged — zero cost for the common tombstone-free index);
  *   - [[compact]] folds tombstones into an artifact (rewrite minus
  *     tombstoned keys, crash-safe tmp+rename swap — the
  *     [[graft.core.Collection.compact]] protocol), then [[clear]] drops
  *     the absorbed tombstones. Run it when the tombstone fraction makes
  *     the broadcast non-trivial, exactly like Milvus segment compaction.
  *
  * Correctness contract (what `deleted_rows_masked_search` pins): a
  * search over a STALE artifact after a delete returns only live rows,
  * and after [[compact]] the artifact itself carries no deleted keys
  * ([[IndexAudit.coverageChecks]]'s orphan counter is the detector).
  */
object Tombstones {
  def deletesDir(indexDir: String): String = s"$indexDir/deletes"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The deletes path a READER should scan: normally the live dir; if a
    * crash between [[retract]]'s two renames left NO live dir, the
    * complete pre-retract key set survives at `deletes__tomb_old` —
    * serve from that conservative SUPERSET. A not-yet-visible retraction
    * is exactly the correct pre-verb state, while treating the window as
    * "no tombstones" would silently resurrect every deleted row on every
    * masked serve until a maintenance verb happened to heal the dir.
    * Read-only probe — the [[Artifacts.recoverAside]] RENAME stays with
    * the single-writer maintenance verbs. */
  private def readDir(spark: SparkSession,
                      indexDir: String): Option[String] = {
    val f = fs(spark, indexDir)
    val live = deletesDir(indexDir)
    if (f.exists(new Path(live))) Some(live)
    else {
      val old = live + "__tomb_old"
      if (f.exists(new Path(old))) Some(old) else None
    }
  }

  /** True if any tombstones are recorded under `indexDir` (including a
    * crash-aside set awaiting recovery — see [[readDir]]). */
  def exist(spark: SparkSession, indexDir: String): Boolean =
    readDir(spark, indexDir).nonEmpty

  /** A set's one long key column, as its first [[record]] pinned it
    * ([[Artifacts.SchemaFile]] inside the set, so every swap of the set
    * moves it along). Every file of the set is written under that name,
    * whatever `idCol` a later caller passes. */
  private def keySchema(spark: SparkSession, d: String): StructType =
    Artifacts.readSchema(spark, d).getOrElse(legacyKeySchema(spark, d))

  /** A set recorded before its key column was pinned: inferred from a
    * footer, as it was written. Its next [[record]] pins it. */
  private def legacyKeySchema(spark: SparkSession, d: String): StructType =
    spark.read.parquet(d).schema

  /** The keys stored in set `d`, under the pinned name (not distinct). */
  private def stored(spark: SparkSession, d: String): DataFrame =
    spark.read.schema(keySchema(spark, d)).parquet(d)

  /** Record a batch of deleted keys: appends `ids` (single key column,
    * cast to long) under `indexDir/deletes/`. Re-deleting an id is
    * harmless — [[table]] reads the key set distinct. Aliased-root
    * aware (round 12): a delete recorded against an aliased ROOT must
    * land in the SERVED version's deletes dir, or every masked reader
    * (which resolves to `root/vN`) keeps serving the deleted docs —
    * the writer-side half of the no-caller-side-resolution contract.
    * Heals a crashed [[retract]] swap first (writer privilege): an
    * append into a fresh live dir while the full set sat aside would
    * SHADOW it for every [[readDir]]-routed reader. */
  def record(ids: DataFrame, indexDir0: String, idCol: String): Unit = {
    val spark = ids.sparkSession
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val dDir = deletesDir(indexDir)
    val f = fs(spark, indexDir)
    Artifacts.recoverAside(f, new Path(dDir), new Path(dDir + "__tomb_old"))
    val pinned = Artifacts.readSchema(spark, dDir)
    val key = pinned.orElse(Option.when(f.exists(new Path(dDir)))(
        legacyKeySchema(spark, dDir)))
      .getOrElse(StructType(Seq(StructField(idCol, LongType))))
    ids.select(col(idCol).cast("long").as(key.fieldNames.head))
      .write.mode("append").parquet(dDir)
    if (pinned.isEmpty) Artifacts.writeSchema(spark, dDir, key)
  }

  /** The distinct tombstone key set (empty 1-column frame if none). */
  def table(spark: SparkSession, indexDir: String, idCol: String): DataFrame =
    readDir(spark, indexDir) match {
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField(idCol, LongType, nullable = false))))
      case Some(d) => stored(spark, d).toDF(idCol).distinct()
    }

  /** Serve-time mask: drop `artifact` rows whose `idCol` is tombstoned
    * under `indexDir`. No tombstones ⇒ returns `artifact` unchanged. */
  def mask(artifact: DataFrame, spark: SparkSession, indexDir: String,
           idCol: String): DataFrame =
    readDir(spark, indexDir) match {
      case None => artifact
      case Some(d) => artifact.join(
        broadcast(stored(spark, d).toDF(idCol).distinct()), Seq(idCol),
        "left_anti")
    }

  /** [[mask]] with an explicit tombstone frame (for artifact scans whose
    * key column is named differently, or walks composing their own
    * plans): anti-join on `idCol`, broadcast of the delete side. */
  def maskWith(artifact: DataFrame, deletes: DataFrame,
               idCol: String): DataFrame =
    artifact.join(broadcast(deletes.select(col(idCol)).distinct()),
      Seq(idCol), "left_anti")

  /** Recorded tombstone count (distinct keys; 0 if none). */
  def count(spark: SparkSession, indexDir: String): Long =
    readDir(spark, indexDir) match {
      case None => 0L
      case Some(d) => stored(spark, d).distinct().count()
    }

  /** Fold the tombstones into one artifact dir: rewrite `artifactDir`
    * WITHOUT rows whose any-of-`keyCols` key is tombstoned (adjacency
    * folds on BOTH src and dst; per-row artifacts on their one id),
    * preserving `partitionBy` layout (the IVF data dir's cluster_id
    * partitioning is its index structure — a fold must not flatten it).
    * An artifact whose writer pinned its schema ([[Artifacts.SchemaFile]])
    * is read with it, and the rewrite carries the sidecar along.
    * Recoverable, single-writer swap ([[Artifacts.replaceDir]] via
    * `__tomb_tmp`/`__tomb_old`); the [[Artifacts.recoverAside]] probe at
    * the top of every compact restores a fold that crashed between its
    * two renames. Call [[clear]] once EVERY artifact of the index has
    * been folded. */
  def compact(spark: SparkSession, indexDir: String, artifactDir: String,
              keyCols: Seq[String],
              partitionBy: Seq[String] = Nil,
              sortWithin: Seq[String] = Nil): Unit = {
    require(keyCols.nonEmpty, "compact: need at least one key column")
    Artifacts.recoverAside(fs(spark, artifactDir), new Path(artifactDir),
      new Path(artifactDir + "__tomb_old"))
    if (!exist(spark, indexDir)) return
    val dead = table(spark, indexDir, "__dead_id")
    val pinned = Artifacts.readSchema(spark, artifactDir)
    val scan = pinned.fold(spark.read.parquet(artifactDir))(
      spark.read.schema(_).parquet(artifactDir))
    val live0 = keyCols.foldLeft(scan) { (df, kc) =>
      df.join(broadcast(dead), df(kc) === dead("__dead_id"), "left_anti")
    }
    // `sortWithin`: layouts whose row-group min/max tightness IS the
    // index structure (the dim-bucketed postings: dim-sorted files
    // inside each bucket) re-sort on the fold, so a compaction never
    // trades a smaller artifact for broken scan pruning. Range
    // partition over the full sort key — a hash on the partition
    // column alone would cap the fold at |partitions| tasks (the
    // writePostings parallelism argument).
    val live =
      if (sortWithin.isEmpty) live0
      else live0.repartitionByRange(
          (partitionBy ++ sortWithin).distinct.map(col): _*)
        .sortWithinPartitions(sortWithin.map(col): _*)
    Artifacts.replaceDir(fs(spark, artifactDir), new Path(artifactDir),
      new Path(artifactDir + "__tomb_tmp"),
      new Path(artifactDir + "__tomb_old")) { tmp =>
      val w = live.write.mode("overwrite")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(tmp)
      pinned.foreach(Artifacts.writeSchema(spark, tmp, _))
    }
  }

  /** Drop the tombstone set — ONLY after every artifact of the index has
    * been [[compact]]ed, or the deletes would silently resurrect. Also
    * drops a crash-aside set ([[readDir]] would otherwise serve it as
    * the live superset). */
  def clear(spark: SparkSession, indexDir: String): Unit = {
    val f = fs(spark, indexDir)
    f.delete(new Path(deletesDir(indexDir)), true)
    f.delete(new Path(deletesDir(indexDir) + "__tomb_old"), true)
    ()
  }

  /** RETRACT tombstones for `keys`: rewrite the deletes table WITHOUT
    * those keys, under the same rename-aside swap as [[compact]]. The
    * un-masking half of key re-ingest: a key deleted/expired and later
    * re-ingested stays masked forever unless its tombstone is withdrawn
    * — but retraction is only SAFE once the key's stale physical
    * artifact rows are gone (folded by [[compact]], or re-encoded by an
    * upsert), or the serve would resurrect old content / double-serve
    * the id. Callers are the maintenance verbs that guarantee that
    * ordering ([[IndexSync.repairReingestedIvf]]), not serve paths. The deletes
    * table is delete-batch-sized, never corpus-sized, so the rewrite
    * is a bounded key-column job. Returns the retracted key count
    * (0 = no overlap, no rewrite). Aliased-root aware, like
    * [[record]]. */
  def retract(keys: DataFrame, indexDir0: String, idCol: String): Long = {
    val spark = keys.sparkSession
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    if (!exist(spark, indexDir)) return 0L
    val dDir = deletesDir(indexDir)
    Artifacts.recoverAside(fs(spark, indexDir), new Path(dDir),
      new Path(dDir + "__tomb_old"))
    val existing = stored(spark, dDir).distinct()
    val name = existing.columns.head
    val k = keys.select(col(idCol).cast("long").as(name)).distinct()
    val hit = existing.join(k, Seq(name), "left_semi").count()
    if (hit == 0L) return 0L
    val kept = existing.join(k, Seq(name), "left_anti")
    Artifacts.replaceDir(fs(spark, indexDir), new Path(dDir),
      new Path(dDir + "__tomb_tmp"), new Path(dDir + "__tomb_old")) { tmp =>
      kept.write.mode("overwrite").parquet(tmp)
      Artifacts.writeSchema(spark, tmp, existing.schema)
    }
    hit
  }
}
