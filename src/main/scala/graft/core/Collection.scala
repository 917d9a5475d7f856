package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Parquet-directory-backed collection (SURVEY §2.1 S5-S8) — the engine's
  * equivalent of the reference's Milvus collection DDL surface
  * (src/app.py:81-118 create, :87 drop, :476 describe, :230 insert).
  *
  * A collection is a directory of parquet files; "create" registers the
  * schema by writing an empty dataset, "insert" appends, "describe" reads
  * the footer schema, "drop" deletes the directory. At cluster scale the
  * same layout is a table location with many files; the vector index over
  * it is a sibling [[graft.search.IvfIndex]] directory.
  */
final class Collection(spark: SparkSession, val dir: String,
                       val retainVersions: Boolean = false) {
  private def fs = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionsRoot = new Path(dir + "__versions")

  def exists: Boolean = fs.exists(new Path(dir))

  /** S5: idempotent create; `force` drops first (src/app.py:85-91).
    * The DECLARED schema (incl. nullability, which parquet readers
    * erase — Spark forces nullable=true on file reads) is persisted as
    * an `_`-prefixed sidecar every Spark scan ignores; it is what
    * [[appendWithDefaults]] enforces. */
  def create(schema: StructType, force: Boolean = false): Unit = {
    if (force && exists) drop()
    if (!exists) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode(SaveMode.Overwrite).parquet(dir)
      Artifacts.writeSchema(spark, dir, schema)
    }
  }

  private val PropsFile = "_graft_props.json"

  // --- Collection properties + TTL (Milvus `collection.ttl.seconds`
  // parity, round 14). Properties are a tiny `_`-prefixed JSON sidecar
  // (k=v per line — no JSON library dependency needed for flat string
  // pairs) that every Spark scan ignores and every crash-safe rewrite
  // carries forward, like the declared-schema sidecar.

  /** Set/merge collection properties (existing keys overwrite). Keys
    * and values must not contain '\n' or '='. */
  def setProperties(props: Map[String, String]): Unit = {
    require(props.keys.forall(k => !k.contains("\n") && !k.contains("=")),
      "property keys must not contain newline or '='")
    require(props.values.forall(v => !v.contains("\n")),
      "property values must not contain newline")
    val merged = properties ++ props
    Artifacts.writeSidecar(spark, dir, PropsFile, merged.toSeq.sorted
      .map { case (k, v) => s"$k=$v" }.mkString("\n"))
  }

  /** Stored collection properties (empty if none set). */
  def properties: Map[String, String] =
    Artifacts.readSidecar(spark, dir, PropsFile).fold(
      Map.empty[String, String]) { s =>
      s.split("\n").filter(_.contains("=")).map { line =>
        val i = line.indexOf('=')
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap
    }

  /** Milvus `collection.ttl.seconds`: rows older than this expire from
    * every TTL-aware serve ([[readLive]]) and are physically reclaimed
    * by [[reclaimExpired]]. Unset or ≤ 0 = rows never expire (the
    * Milvus default). */
  def setTtlSeconds(seconds: Long): Unit =
    setProperties(Map(Collection.TtlProp -> seconds.toString))

  def ttlSeconds: Option[Long] =
    properties.get(Collection.TtlProp).map(_.toLong).filter(_ > 0)

  /** [[append]] with the ingest timestamp stamped
    * (`_graft_ingest_ts` — the insert-time Milvus keys TTL expiry on).
    * `ingestTs` defaults to the wall clock; tests and replayable
    * pipelines pass an explicit column (the determinism discipline
    * every time-dependent operator here follows). */
  def appendStamped(df: DataFrame,
                    ingestTs: org.apache.spark.sql.Column =
                      current_timestamp()): Unit =
    append(df.withColumn(Collection.IngestTsCol,
      ingestTs.cast("timestamp")))

  /** TTL-masked read: rows whose age at `asOf` is ≥ ttl are filtered
    * out — the serve-time mask (same discipline as tombstone masking:
    * expiry is visible immediately, reclamation is maintenance). The
    * predicate is a plain pushable comparison on the stamp column, so
    * on an ingest-time-clustered layout it prunes files. Collections
    * without a TTL property or without the stamp column serve
    * unmasked. */
  def readLive(asOf: org.apache.spark.sql.Column =
                 current_timestamp()): DataFrame = {
    val base = read
    ttlSeconds match {
      case Some(ttl) if base.columns.contains(Collection.IngestTsCol) =>
        // a NULL stamp (rows appended without appendStamped in a
        // mixed-ingest collection) never expires — the unmasked-serve
        // contract for unstamped rows, enforced per row, not just per
        // schema; a NULL predicate would silently FILTER those rows
        base.where(col(Collection.IngestTsCol).isNull ||
          col(Collection.IngestTsCol).cast("long") + ttl
            > asOf.cast("timestamp").cast("long"))
      case _ => base
    }
  }

  /** TTL debt — the expired-but-present audit counter ([[vacuum]]'s
    * observability sibling): (expired_rows, live_rows) at `asOf`.
    * Both zero-TTL and unstamped collections report 0 expired. */
  def ttlDebt(asOf: org.apache.spark.sql.Column =
                current_timestamp()): DataFrame = {
    val base = read
    // NULL-safe: an unstamped row is LIVE (see readLive) — coalesce
    // keeps it out of expired_rows AND inside live_rows, so the two
    // counters always sum to the collection
    val expiredPred = ttlSeconds match {
      case Some(ttl) if base.columns.contains(Collection.IngestTsCol) =>
        coalesce(col(Collection.IngestTsCol).cast("long") + ttl <=
          asOf.cast("timestamp").cast("long"), lit(false))
      case _ => lit(false)
    }
    base.agg(
      coalesce(sum(when(expiredPred, 1L)), lit(0L)).as("expired_rows"),
      coalesce(sum(when(!expiredPred, 1L)), lit(0L)).as("live_rows"))
  }

  /** Keys FULLY expired at `asOf` — distinct keys with at least one
    * stamped row past TTL and NO live row ([[readLive]]) — the bridge
    * input for derived-index serving (round 15): [[readLive]] masks
    * the COLLECTION, but IVF/graph/BM25 artifacts built over it keep
    * serving expired rows until their own tombstones say otherwise;
    * [[graft.search.IndexSync]] records THESE keys as index tombstones
    * so expiry reaches every masked serve.
    *
    * PER-KEY expiry (round 16, advisory fix): in a multi-row-per-key
    * collection (plain append re-ingest), a key whose newest row is
    * still live must NOT be reported — an any-row-expired answer
    * would tombstone it at the index while [[readLive]] still serves
    * it. Implemented as expired-row keys ANTI-JOINED against live
    * keys (one equi-join on the key column — the same cost class as
    * the expiry scan itself, no corpus-wide window). Same NULL-stamp
    * rule as [[readLive]] (an unstamped row is live, so its key never
    * expires); collections without a TTL or the stamp column report
    * no keys. */
  def expiredKeys(keyCol: String,
                  asOf: org.apache.spark.sql.Column =
                    current_timestamp()): DataFrame = {
    val base = read
    ttlSeconds match {
      case Some(ttl) if base.columns.contains(Collection.IngestTsCol) =>
        base.where(col(Collection.IngestTsCol).isNotNull &&
            col(Collection.IngestTsCol).cast("long") + ttl
              <= asOf.cast("timestamp").cast("long"))
          .select(col(keyCol))
          .join(readLive(asOf).select(col(keyCol)), Seq(keyCol),
            "left_anti")
          .distinct()
      case _ => base.select(col(keyCol)).limit(0)
    }
  }

  /** Physically reclaim expired rows (the compaction that repays
    * [[readLive]]'s serve-time mask) under the same crash-safe swap as
    * [[compact]]. Idempotent at a fixed `asOf`; returns the reclaimed
    * row count. No-op (0) when nothing is expired — no rewrite
    * churn. */
  def reclaimExpired(asOf: org.apache.spark.sql.Column =
                       current_timestamp()): Long = {
    // pin the clock to ONE instant: the count, the liveness check, and
    // the rewrite span three actions, and a re-evaluated
    // current_timestamp() would expire different rows in each — the
    // returned count must equal the rows the rewrite actually dropped
    val pinned = lit(spark.range(1)
      .select(asOf.cast("timestamp")).first().getTimestamp(0))
    val before = count()
    val live = readLive(pinned)
    val liveCount = live.count()
    if (liveCount < before) swapRewrite(live)
    before - liveCount
  }

  /** The schema as DECLARED at [[create]] (nullability preserved), when
    * the sidecar exists; collections built by raw appends fall back to
    * the stored footer schema (all-nullable, parquet's read contract). */
  def declaredSchema: Option[StructType] =
    Artifacts.readSchema(spark, dir)

  /** S6: batch insert (append). */
  def append(df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(dir)

  /** Schema-conforming insert with nullable/default semantics — Milvus
    * 2.5 `nullable` + `default_value` parity: the incoming batch is
    * conformed to the COLLECTION's schema before landing. Per stored
    * field, in order:
    *  - column absent from the batch → filled with its declared default,
    *    or typed null when the field is nullable with no default
    *    (a missing non-nullable, non-defaulted field is a loud error —
    *    never a silently corrupted row);
    *  - column present but null in a DEFAULTED field → the default
    *    (Milvus's insert-null-uses-default rule);
    *  - column present in a nullable field → kept as-is (null stays
    *    null when no default is declared);
    *  - batch columns not in the schema are rejected.
    * Everything is one projection on the batch (coalesce + typed
    * literals) — schema conformance costs nothing at scale. */
  def appendWithDefaults(df: DataFrame,
                         defaults: Map[String, Any] = Map.empty): Unit = {
    val base = declaredSchema.getOrElse(describe)
    // columns evolved onto the collection AFTER create (plain appends +
    // mergeSchema reads) are legitimate insert targets even though the
    // create-time sidecar predates them: when the batch carries
    // non-declared columns, reconcile against the merged footer schema
    // (paid only on that path) and treat the evolved fields as nullable
    // — parquet's add-a-nullable-column contract.
    val extraVsDeclared = df.columns.filterNot(base.fieldNames.toSet)
    val target =
      if (extraVsDeclared.isEmpty) base
      else {
        val merged = readMerged.schema
        val declaredNames = base.fieldNames.toSet
        StructType(base.fields ++
          merged.fields.filterNot(f => declaredNames(f.name)))
      }
    val extra = df.columns.filterNot(target.fieldNames.toSet)
    require(extra.isEmpty,
      s"batch columns not in collection schema: ${extra.mkString(", ")}")
    val inCols = df.columns.toSet
    val conformed = target.fields.map { f =>
      val d = defaults.get(f.name)
        .map(v => lit(v).cast(f.dataType))
      if (!inCols.contains(f.name)) {
        require(d.isDefined || f.nullable,
          s"batch is missing non-nullable column '${f.name}' " +
            "and no default is declared")
        d.getOrElse(lit(null).cast(f.dataType)).as(f.name)
      } else d match {
        case Some(dflt) =>
          coalesce(col(f.name).cast(f.dataType), dflt)
            .as(f.name)
        case None =>
          val c = col(f.name).cast(f.dataType)
          // a null ARRIVING in a declared non-nullable, non-defaulted
          // field fails the write loudly — same contract as the
          // missing-column case, enforced row-side
          if (!f.nullable)
            when(c.isNull, raise_error(lit(
              s"null in non-nullable column '${f.name}'"))).otherwise(c)
              .as(f.name)
          else c.as(f.name)
      }
    }
    append(df.select(conformed.toIndexedSeq: _*))
  }

  /** Partition-keyed insert — Milvus `partition_key_field` parity: rows
    * route to hive-style `partCol=value/` subdirectories, so a search
    * carrying a partition-key predicate scans ONLY the matching
    * partitions (Spark partition pruning does at the collection layer
    * what Milvus's partition-key routing does at the segment layer).
    * Contract: a partition-keyed collection is appended with the SAME
    * `partCol` for its whole life and is not mixed with flat
    * [[append]]s — the layouts are incompatible, exactly as a Milvus
    * collection's partition key is fixed at creation. At 100 TB this is
    * the difference between scanning one source's files and scanning
    * the corpus. */
  def appendPartitioned(df: DataFrame, partCol: String): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partCol).parquet(dir)

  /** Full scan of the collection. */
  def read: DataFrame = spark.read.parquet(dir)

  /** Schema-evolution read: unions the footer schemas of every file, so
    * batches appended with NEW columns coexist with old files (old rows
    * surface NULL for the added columns — parquet's standard
    * add-a-nullable-column evolution, same contract as Delta/Iceberg).
    * Costs one footer read per file at planning time; keep collections
    * compacted ([[compact]]) so that stays cheap at warehouse scale. */
  def readMerged: DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  /** S7: describe — schema of the stored data. */
  def describe: StructType = read.schema

  /** One page of a KEYSET-stable bulk-export scan — Milvus
    * `query_iterator` parity (the "export the whole collection" path):
    * page N+1 is `WHERE keyCol > lastKey ORDER BY keyCol LIMIT
    * pageSize`, i.e. the cursor is the previous page's max key, NOT a
    * row offset. Why keyset and not OFFSET at warehouse scale: the
    * range predicate PUSHES to the scan (PushedFilters GreaterThan →
    * parquet row-group min/max skipping; on a key-sorted or
    * key-bucketed layout each page touches only its own files), every
    * page costs the same regardless of position, and the cursor is
    * stable under concurrent appends past it — OFFSET re-sorts the
    * whole corpus per page and shifts under writes. `keyCol` must be
    * unique (a primary key) for gap-free iteration. */
  def page(keyCol: String, lastKey: Option[Long],
           pageSize: Int): DataFrame = {
    require(pageSize > 0, "pageSize must be positive")
    lastKey.map(k => read.where(col(keyCol) > k)).getOrElse(read)
      .orderBy(col(keyCol).asc).limit(pageSize)
  }

  /** Driver-side page cursor over [[page]] — the page itself stays a
    * DataFrame (write it, don't collect it). Each page is
    * locally-checkpointed on production, so the corpus is scanned ONCE
    * per page: the cursor aggregate and the caller's consumption both
    * read the materialized (pageSize-bounded) rows instead of
    * re-running the pruned scan; blocks are freed by the context
    * cleaner once the frame is unreachable. Pages are prefetched in
    * `hasNext`, so an export whose row count is an exact multiple of
    * `pageSize` (or an empty collection) never yields a spurious empty
    * trailing page — only non-empty pages are emitted. */
  def pages(keyCol: String, pageSize: Int): Iterator[DataFrame] =
    new Iterator[DataFrame] {
      private var last: Option[Long] = None
      private var done = false
      private var pending: Option[DataFrame] = None
      private def advance(): Unit = if (pending.isEmpty && !done) {
        val pg = page(keyCol, last, pageSize).localCheckpoint(true)
        // fully qualified: Iterator's own max/count shadow the sql functions
        val mx = pg.agg(
          org.apache.spark.sql.functions.max(col(keyCol)).as("m"),
          org.apache.spark.sql.functions.count(lit(1)).as("n")).first()
        if (mx.isNullAt(0) || mx.getLong(1) < pageSize) done = true
        if (!mx.isNullAt(0)) {
          last = Some(mx.getLong(0))
          pending = Some(pg)
        }
      }
      override def hasNext: Boolean = { advance(); pending.nonEmpty }
      override def next(): DataFrame = {
        advance()
        val pg = pending.getOrElse(throw new NoSuchElementException("pages"))
        pending = None
        pg
      }
    }

  /** A1: true row count (reference's len() bug NOT replicated; §2.5 A2). */
  def count(): Long = read.count()

  /** S8: drop collection (retained snapshots go with it). */
  def drop(): Unit = {
    fs.delete(new Path(dir), true)
    fs.delete(versionsRoot, true)
  }

  /** Maintenance: rewrite the collection into ~`targetBytesPerFile`
    * files. Row-by-row streaming ingest (S6 appends) accumulates one
    * file per batch — the small-files problem that dominates scan
    * startup cost at warehouse scale (every file is a task + a footer
    * read). Swap protocol: write to `dir__compact_tmp`, rename the live
    * dir aside to `dir__compact_old`, rename tmp into place, delete old.
    * Every step leaves a complete copy of the data on disk; the only
    * crash window with no data AT `dir` is between the two renames (two
    * metadata ops), and recovery is unambiguous — the old layout sits
    * intact under `__compact_old`. Returns (filesBefore, filesAfter). */
  def compact(targetBytesPerFile: Long = 128L * 1024 * 1024): (Int, Int) = {
    val before = parquetFiles(new Path(dir))
    val totalBytes = before.map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble
      / targetBytesPerFile).toInt)
    swapRewrite(read.coalesce(nFiles))
    (before.length, parquetFiles(new Path(dir)).length)
  }

  /** Clustering compaction — Milvus 2.5's clustering-compaction verb
    * (major compaction that re-distributes sealed data by a clustering
    * key so query-time segment pruning works): rewrite the collection
    * `repartitionByRange(keyCol).sortWithinPartitions(keyCol)`, the
    * crash-safe [[compact]] swap with a LAYOUT decision attached.
    * After it, every file covers a narrow key range, so a key
    * predicate prunes via parquet min/max footer + row-group stats —
    * at 100 TB this turns "scan the corpus" into "scan the window's
    * files", which is exactly what Milvus's clustering compaction buys
    * at the segment layer. Streaming appends interleave key ranges
    * across files (each batch spans the whole key domain); re-cluster
    * on a schedule, like any major compaction. Returns (filesBefore,
    * filesAfter). */
  def clusterBy(keyCol: String, numFiles: Int): (Int, Int) = {
    require(numFiles > 0, "numFiles must be positive")
    val before = parquetFiles(new Path(dir)).length
    swapRewrite(read.repartitionByRange(numFiles, col(keyCol))
      .sortWithinPartitions(col(keyCol)))
    (before, parquetFiles(new Path(dir)).length)
  }

  /** MERGE by key (Delta/Iceberg-style upsert): rows of `updates` replace
    * same-key collection rows; new keys insert. The merge plan is a
    * key-shuffled left-anti join of the collection against the update
    * keys (never a broadcast of the collection — the update side is the
    * one that is usually small, and Catalyst broadcasts it) unioned with
    * the updates, rewritten via the same crash-safe tmp-dir swap as
    * [[compact]]. At warehouse scale the rewrite would be scoped to
    * affected partitions; a parquet directory has no partition metadata
    * to scope by, so the whole collection rewrites — the semantics,
    * oracle-checked, are identical. */
  def upsert(updates: DataFrame, keyCol: String): Unit = {
    // Delta/Iceberg MERGE refuses a source with duplicate keys (two rows
    // would race for the same target row); match that contract loudly
    // instead of silently storing duplicate-key rows.
    val dups = updates.groupBy(col(keyCol)).count()
      .where(col("count") > 1).limit(1).collect()
    require(dups.isEmpty,
      s"upsert: update batch has duplicate $keyCol (e.g. ${dups.head.get(0)})")
    val merged = read
      .join(updates.select(keyCol).distinct(), Seq(keyCol), "left_anti")
      .unionByName(updates)
    swapRewrite(merged)
  }

  /** Version-aware MERGE: like [[upsert]], but an update only replaces a
    * stored row whose `versionCol` is LOWER — a redelivered older version
    * (at-least-once sources replay) leaves the newer stored row in place,
    * so replays converge. Ties prefer the stored row (a redelivery of the
    * stored version changes nothing, no rewrite churn). Duplicate keys in
    * `updates` resolve to the highest version; give versions a per-key
    * total order for full determinism. Plan: union + one key-partitioned
    * window — no driver state, no broadcast of the collection. */
  def upsertVersioned(updates: DataFrame, keyCol: String,
                      versionCol: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val all = read.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(versionCol).desc, col("__src").asc)
    val merged = all.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__src", "__rn")
    swapRewrite(merged)
  }

  /** Delete-by-expression — Milvus `delete(expr)` parity, the remaining
    * member of the reference's collection surface (create/insert/
    * describe/drop at src/app.py:81-118; Milvus exposes delete on the
    * same client). Matching rows are removed via the same crash-safe
    * tmp-dir swap as [[compact]]. At warehouse scale a format with
    * file-level metadata (Delta/Iceberg) scopes the rewrite to files
    * containing matches; a plain parquet dir rewrites whole — the
    * SEMANTICS (oracle-checked) are identical, and rows where the
    * predicate is NULL are kept, matching SQL `DELETE WHERE`. */
  def delete(predicate: org.apache.spark.sql.Column): Unit =
    swapRewrite(read.where(!coalesce(predicate, lit(false))))

  /** Maintenance: remove leftover swap artifacts — `__compact_tmp` from
    * an interrupted rewrite, `__compact_old` from a crash between the
    * swap and its cleanup (see [[compact]]'s recovery argument; once the
    * live dir exists, `__compact_tmp` is always disposable). With
    * [[retainVersions]], `__compact_old` is NOT disposable: a crash
    * between the live-dir rename and the retain rename leaves the
    * pre-image that should have become `v<N>` at `__compact_old`, so
    * vacuum completes the interrupted retain (moves it under
    * `dir__versions/v<N>`) instead of destroying the snapshot. Returns
    * the paths acted on. */
  def vacuum(): Seq[String] = {
    require(exists, s"vacuum: no live collection at $dir — " +
      "recover __compact_old manually before discarding it")
    val tmp = new Path(dir + "__compact_tmp")
    val old = new Path(dir + "__compact_old")
    val droppedTmp =
      if (fs.exists(tmp)) { fs.delete(tmp, true); Seq(tmp.toString) }
      else Seq.empty
    val handledOld =
      if (!fs.exists(old)) Seq.empty
      else if (retainVersions) {
        val v = nextVersion
        fs.mkdirs(versionsRoot)
        if (!fs.rename(old, new Path(versionsRoot, s"v$v")))
          throw new java.io.IOException(
            s"vacuum: retaining $old as v$v failed")
        Seq(s"$old -> v$v")
      } else { fs.delete(old, true); Seq(old.toString) }
    droppedTmp ++ handledOld
  }

  /** Clone the LIVE collection state to `destDir` (Milvus
    * backup/collection-clone parity; also the cheap way to fork a
    * corpus for an experiment): a file-level copy of the live
    * directory — retained versions deliberately stay behind, a clone
    * is a fork of NOW, not of history. Crash-safe: copies into
    * `destDir__clone_tmp`, then one rename — a reader never sees a
    * half-copied collection at `destDir`. Refuses a non-empty
    * destination. */
  def cloneTo(destDir: String): Collection = {
    require(exists, s"clone: no live collection at $dir")
    val dst = new Path(destDir)
    require(!fs.exists(dst), s"clone: destination $destDir exists")
    val tmp = new Path(destDir + "__clone_tmp")
    fs.delete(tmp, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(dir), fs, tmp,
      false, spark.sparkContext.hadoopConfiguration)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"clone: rename $tmp -> $dst failed")
    new Collection(spark, destDir, retainVersions)
  }

  private def parquetFiles(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(p).filter(s => s.isFile &&
      s.getPath.getName.endsWith(".parquet"))

  /** Crash-safe full rewrite: write to `dir__compact_tmp`, rename live
    * aside, rename tmp into place, delete old (see [[compact]] scaladoc
    * for the recovery argument). With [[retainVersions]], "delete old"
    * becomes "rename old under `dir__versions/v<N>`" — the pre-image of
    * every rewrite is kept as a readable snapshot (time travel; Milvus
    * 2.x exposed the same capability on its DML log). The crash window
    * analysis is unchanged: the retain step replaces the delete AFTER
    * the live dir is complete. */
  private def swapRewrite(newData: DataFrame): Unit = {
    val f = fs
    val tmp = new Path(dir + "__compact_tmp")
    val old = new Path(dir + "__compact_old")
    f.delete(tmp, true)
    f.delete(old, true)
    newData.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // the declared-schema and properties sidecars survive every
    // rewrite swap
    Seq(Artifacts.SchemaFile, PropsFile).foreach { side =>
      Artifacts.readSidecar(spark, dir, side)
        .foreach(Artifacts.writeSidecar(spark, tmp.toString, side, _))
    }
    if (!f.rename(new Path(dir), old))
      throw new java.io.IOException(s"swap: rename $dir -> $old failed")
    if (!f.rename(tmp, new Path(dir)))
      throw new java.io.IOException(
        s"swap: rename $tmp -> $dir failed; previous data is at $old")
    if (retainVersions) {
      val v = nextVersion
      f.mkdirs(versionsRoot)
      if (!f.rename(old, new Path(versionsRoot, s"v$v")))
        throw new java.io.IOException(
          s"swap: retaining pre-image as v$v failed; data is at $old")
    } else f.delete(old, true)
  }

  private def nextVersion: Long =
    if (!fs.exists(versionsRoot)) 1L
    else versions.lastOption.getOrElse(0L) + 1L

  /** Retained snapshot numbers, ascending. v1 is the pre-image of the
    * FIRST rewrite (the oldest readable state); the live dir is always
    * the newest state and has no number. */
  def versions: Seq[Long] =
    if (!fs.exists(versionsRoot)) Seq.empty
    else fs.listStatus(versionsRoot).toSeq
      .map(_.getPath.getName).filter(_.startsWith("v"))
      .map(_.drop(1).toLong).sorted

  /** Time-travel read of retained snapshot `v` (see [[versions]]).
    *
    * Storage note (the warehouse contrast the compact/delete scaladocs
    * already draw): a manifest-based format (Delta/Iceberg) retains
    * versions as file LISTS sharing unchanged files; a plain parquet
    * dir retains whole pre-image directories. The SEMANTICS — every
    * historical state readable until vacuumed — are identical, and
    * that is what the oracle checks. */
  def readVersion(v: Long): DataFrame = {
    val p = new Path(versionsRoot, s"v$v")
    require(fs.exists(p), s"no retained version v$v under $versionsRoot " +
      s"(have: ${versions.mkString(", ")})")
    spark.read.parquet(p.toString)
  }

  /** Key-level change set between retained snapshot `v` and the live
    * data — the "what did this reindex/backfill actually touch" audit
    * that pairs with time travel (Delta's `table_changes` / Iceberg's
    * changelog read, over the plain-parquet retention here). Returns
    * (`change`, keyCol) rows, `change` ∈ added | removed | updated:
    * a key only in the live data is `added`, only in the snapshot is
    * `removed`, and present in both with any common non-key column
    * differing (null-safe comparison) is `updated`; unchanged keys
    * don't appear. Columns existing on only one side (schema
    * evolution) are ignored — presence of the KEY is what classifies.
    * Plan shape: both sides pruned to the common columns, ONE
    * key-partitioned full-outer shuffle join, no driver state — at
    * warehouse scale this is the standard CDC-by-diff job. */
  def diffVersion(v: Long, keyCol: String): DataFrame = {
    val old = readVersion(v)
    val cur = read
    val shared = (old.columns.toSet intersect cur.columns.toSet) - keyCol
    val cols = shared.toSeq.sorted
    val o = old.select((keyCol +: cols).map(old(_)): _*).alias("__diff_o")
    val c = cur.select((keyCol +: cols).map(cur(_)): _*).alias("__diff_c")
    val ok = col(s"__diff_o.$keyCol")
    val ck = col(s"__diff_c.$keyCol")
    val changed = cols
      .map(n => !(col(s"__diff_o.$n") <=> col(s"__diff_c.$n")))
      .reduceOption(_ || _).getOrElse(lit(false))
    o.join(c, ok === ck, "full_outer")
      .select(
        when(ck.isNull, lit("removed"))
          .when(ok.isNull, lit("added"))
          .when(changed, lit("updated")).as("change"),
        coalesce(ck, ok).as(keyCol))
      .where(col("change").isNotNull)
  }

  /** Drop retained snapshots older than the newest `keep` (time-travel
    * retention — the vacuum policy separated from crash-artifact
    * cleanup, which stays [[vacuum]]'s job). Returns dropped
    * version numbers. */
  def expireVersions(keep: Int): Seq[Long] = {
    require(keep >= 0, s"expireVersions: keep=$keep")
    val drop = versions.dropRight(keep)
    drop.foreach(v => fs.delete(new Path(versionsRoot, s"v$v"), true))
    drop
  }
}

object Collection {
  /** The property key Milvus spells `collection.ttl.seconds`. */
  val TtlProp = "collection.ttl.seconds"

  /** Ingest-timestamp column [[Collection.appendStamped]] stamps and
    * TTL serving keys on. */
  val IngestTsCol = "_graft_ingest_ts"

  def apply(spark: SparkSession, dir: String): Collection =
    new Collection(spark, dir)

  def apply(spark: SparkSession, dir: String,
            retainVersions: Boolean): Collection =
    new Collection(spark, dir, retainVersions)

  // --- Aliases (Milvus alias API parity: create_alias / alter_alias /
  // drop_alias) — the zero-downtime reindex switch: build the new
  // collection under a fresh dir, flip the alias, drop the old. An
  // alias is a one-line file `<root>/<name>.alias` holding the target
  // dir, written via tmp + overwrite-RENAME so a reader resolving
  // mid-swap sees the old target or the new one, never a torn write or
  // a missing file — the same atomicity argument as the collection
  // swapRewrite itself.

  private def aliasPath(root: String, name: String) =
    new Path(root, s"$name.alias")

  /** Create or atomically retarget `name` → `targetDir`: one
    * [[Artifacts.writeSidecar]], so a concurrent [[resolveAlias]] never
    * finds no alias file (the alias root belongs on a filesystem with
    * an atomic rename). */
  def setAlias(spark: SparkSession, root: String, name: String,
               targetDir: String): Unit =
    Artifacts.writeSidecar(spark, root, s"$name.alias", targetDir)

  /** Resolve `name` to its target dir. */
  def resolveAlias(spark: SparkSession, root: String,
                   name: String): String = {
    val target = Artifacts.readSidecar(spark, root, s"$name.alias")
    require(target.isDefined, s"no alias '$name' under $root")
    target.get
  }

  /** Open the collection an alias currently points at. */
  def byAlias(spark: SparkSession, root: String, name: String): Collection =
    apply(spark, resolveAlias(spark, root, name))

  def dropAlias(spark: SparkSession, root: String, name: String): Unit = {
    val p = aliasPath(root, name)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, false)
  }

  /** Enumerate every alias under `root`: (name, target dir, mtime ms),
    * name-ascending — the Milvus `list_aliases` operational surface
    * blue-green tooling audits before and after a flip. One directory
    * listing + one tiny read per alias; in-flight `.…​.tmp` writer files
    * are excluded. */
  def listAliases(spark: SparkSession,
                  root: String): Seq[(String, String, Long)] = {
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rp)) Seq.empty
    else fs.listStatus(rp).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".alias")
        && !s.getPath.getName.startsWith("."))
      .map { s =>
        val name = s.getPath.getName.stripSuffix(".alias")
        (name, resolveAlias(spark, root, name), s.getModificationTime)
      }.sortBy(_._1)
  }

  /** Describe one alias: (target dir, mtime ms of the last retarget) —
    * Milvus `describe_alias` parity. */
  def describeAlias(spark: SparkSession, root: String,
                    name: String): (String, Long) = {
    val p = aliasPath(root, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no alias '$name' under $root")
    (resolveAlias(spark, root, name),
      fs.getFileStatus(p).getModificationTime)
  }

  /** Dense deterministic ids 0..n-1 ordered by `orderCol` (which must be
    * unique) — the oracle-able analog of Milvus auto_id (src/app.py:100).
    *
    * Scale shape: range-partition + sort-within-partitions, then
    * `zipWithIndex` (a light per-partition count job + offset map — the
    * canonical distributed dense numbering). NOT a global
    * `row_number()` window, which funnels the entire dataset through one
    * partition; the range boundaries are sampled once inside a single
    * lineage, so the numbering is consistent and equals the global
    * orderCol order. Use `monotonically_increasing_id` instead when ids
    * only need uniqueness, not density. */
  def withDenseIds(df: DataFrame, orderCol: String, idCol: String = "id"): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(col(orderCol).asc)
      .sortWithinPartitions(col(orderCol).asc)
    val schema = StructType(sorted.schema.fields :+
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(rdd, schema)
  }
}
