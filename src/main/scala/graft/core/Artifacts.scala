package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once parquet artifacts — the warehouse convention for derived
  * tables a pipeline materializes ONCE and then scans many times
  * (quantized vectors, dedup signatures, LSH band tables). At 100 TB these
  * are real warehouse tables; locally they are exists-checked parquet
  * dirs, so repeated invocations (and the bench harness) measure the
  * operator that CONSUMES the artifact, not its one-time construction.
  * This replaces the round-2/3 `cache()` contract: an un-evicted executor
  * cache is bounded by cluster memory, a parquet artifact is not.
  */
object Artifacts {
  /** Return the artifact at `dir`, building it first if absent (detected
    * via parquet's `_SUCCESS` marker, so a half-written dir from a killed
    * job is rebuilt rather than trusted). NOT safe against two concurrent
    * builders of the same dir — same single-writer assumption as any
    * warehouse table build. */
  /** Inferred-schema cache for the re-read below (round 16, fixed-cost
    * audit): a buildOnce dir is immutable once `_SUCCESS` exists — the
    * object's own contract — yet every call re-ran schema inference's
    * 1-task footer job. First read per path infers; later reads pass
    * the cached schema. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  def buildOnce(spark: SparkSession, dir: String)(build: => DataFrame): DataFrame = {
    val success = new Path(dir, "_SUCCESS")
    val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The cache key includes the _SUCCESS marker's mtime (round 17,
    // ADVICE fix): immutability of a finished buildOnce dir is the
    // object's contract, but an in-JVM rewrite by any OTHER writer
    // re-creates the marker — keying on its mtime turns that from a
    // silent stale-schema serve into a cache miss. One getFileStatus
    // replaces the former exists() probe, so the stat cost is unchanged.
    val mtime =
      try fs.getFileStatus(success).getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L }
    if (mtime < 0) {
      build.write.mode("overwrite").parquet(dir)
      schemaCache.remove(dir)
    }
    val key = s"$dir@$mtime"
    val cached = schemaCache.get(key)
    if (cached != null) spark.read.schema(cached).parquet(dir)
    else {
      val df = spark.read.parquet(dir)
      if (mtime >= 0) schemaCache.put(key, df.schema)
      df
    }
  }

  /** Stat-fingerprinted inferred-schema read: the first read of `dir`
    * per (content fingerprint) runs parquet schema inference's 1-task
    * footer job; subsequent reads pass the cached schema and cost only
    * the local stat walk, and any rewrite/append misses and re-infers.
    * For small model/code artifacts read once per serving pass (PQ/RQ
    * codes, codebooks). */
  def readStatCached(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(statSchemaCache(spark, dir) {
      spark.read.parquet(dir).schema
    }).parquet(dir)

  private val statSchemaCache =
    new StatCache[org.apache.spark.sql.types.StructType]

  /** A per-directory cache whose entries live until the directory's
    * [[statFingerprint]] changes: `apply(spark, dir)(compute)` returns
    * the value computed for `dir`'s current content, running `compute`
    * only on a miss. The stat walk is filesystem-only (no Spark job), so
    * a warm hit never touches the cluster, while any rewrite, append or
    * rebuild of `dir` recomputes. */
  final class StatCache[T] {
    private val entries =
      new java.util.concurrent.ConcurrentHashMap[String, (String, T)]()

    def apply(spark: SparkSession, dir: String)(compute: => T): T = {
      val stat = statFingerprint(spark, dir)
      val hit = entries.get(dir)
      if (hit != null && hit._1 == stat) hit._2
      else {
        val v = compute
        entries.put(dir, (stat, v))
        v
      }
    }
  }

  /** Per-file (name, len, mtime) hash of a directory tree — the
    * freshness fingerprint shared by the model/schema caches. Order-
    * insensitive fold so listFiles enumeration order can't flip it;
    * per-file hashing (not max/sum aggregates) so two content-different
    * layouts whose files share sizes and copy-preserved mtimes cannot
    * alias. */
  def statFingerprint(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      var acc = 0L; var n = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        val h = scala.util.hashing.MurmurHash3.stringHash(
          s"${st.getPath.getName}|${st.getLen}|${st.getModificationTime}")
        acc += h.toLong
        n += 1
      }
      s"h$acc.n$n"
    }
  }

  /** The schema sidecar's file name: the schema a directory's writer
    * pinned, as `StructType` JSON. The `_` prefix keeps it out of every
    * Spark scan, and living inside the directory it describes, it moves
    * with the data through every [[replaceDir]] rename. */
  val SchemaFile = "_graft_schema.json"

  /** Write `text` as the small file `name` inside `dir`: written to a
    * `.`-prefixed tmp file, then moved over the old one by ONE
    * overwrite-capable rename (`FileContext.rename(…, OVERWRITE)`,
    * atomic replace on local FS and HDFS), so a reader sees the old
    * text or the new, never a torn file or none. Only a filesystem with
    * no `FileContext` binding (some object stores) falls back to
    * delete + rename, which can show a reader no file for an instant. */
  def writeSidecar(spark: SparkSession, dir: String, name: String,
                   text: String): Unit = {
    val live = new Path(dir, name)
    val tmp = new Path(dir, s".$name.tmp")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext
        .getFileContext(live.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(fc.makeQualified(tmp), fc.makeQualified(live),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        fs.delete(live, false)
        if (!fs.rename(tmp, live))
          throw new java.io.IOException(s"rename $tmp -> $live failed")
    }
  }

  /** The file `name` inside `dir` as text, or None when none exists. */
  def readSidecar(spark: SparkSession, dir: String,
                  name: String): Option[String] = {
    val p = new Path(dir, name)
    try {
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Pin `schema` as `dir`'s [[SchemaFile]]. */
  def writeSchema(spark: SparkSession, dir: String,
                  schema: org.apache.spark.sql.types.StructType): Unit =
    writeSidecar(spark, dir, SchemaFile, schema.json)

  /** The schema pinned in `dir`; None when its writer pinned none. */
  def readSchema(spark: SparkSession,
                 dir: String): Option[org.apache.spark.sql.types.StructType] =
    readSidecar(spark, dir, SchemaFile).map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** The rename-aside swap that replaces an artifact directory
    * crash-safely: clear `tmp` and `old`, `write(tmp)`, rename `live`
    * aside to `old` (when it exists — a first write has nothing to move),
    * rename `tmp` to `live`, delete `old`. The only window with no data
    * at `live` is between the two renames, and the complete previous
    * artifact is then at `old`: [[recoverAside]] restores it. `write` runs
    * before `live` moves, so it may read the artifact it replaces.
    * Single-writer, like every maintenance verb that calls it. */
  def replaceDir(fs: FileSystem, live: Path, tmp: Path, old: Path)
                (write: String => Unit): Unit = {
    fs.delete(tmp, true); fs.delete(old, true)
    write(tmp.toString)
    if (fs.exists(live) && !fs.rename(live, old))
      throw new java.io.IOException(s"rename $live aside to $old failed")
    if (!fs.rename(tmp, live))
      throw new java.io.IOException(
        s"rename $tmp -> $live failed; previous data is at $old")
    fs.delete(old, true)
  }

  /** Recovery probe for [[replaceDir]]: a crash between its two renames
    * leaves nothing at `live` and the complete previous artifact at
    * `old`; rename it back so the next maintenance pass starts from the
    * pre-swap artifact. Writers only — a reader that renamed could race
    * the single writer between its two renames; readers that must serve
    * through the window read `old` in place. */
  def recoverAside(fs: FileSystem, live: Path, old: Path): Unit =
    if (!fs.exists(live) && fs.exists(old) && !fs.rename(old, live))
      throw new java.io.IOException(
        s"recoverAside: restoring $old -> $live failed")

  /** Recursive LOCAL-filesystem dir copy (destination is deleted first)
    * — for harness code that must MUTATE an index artifact per run
    * (compaction, rebalance, upsert entries): the base builds once per
    * JVM+fixture, each invocation works on a throwaway copy so repeated
    * runs never compound. Dev/test plumbing, not a serving path. */
  def copyLocalDir(srcDir: String, dstDir: String): Unit = {
    val src = java.nio.file.Paths.get(srcDir)
    val dst = java.nio.file.Paths.get(dstDir)
    import scala.jdk.CollectionConverters._
    def walk(p: java.nio.file.Path) = {
      val s0 = java.nio.file.Files.walk(p)
      try s0.iterator().asScala.toVector finally s0.close()
    }
    if (java.nio.file.Files.exists(dst))
      walk(dst).sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    // the source's completion marker stays behind: whether the copy's
    // own mutation finished is for the copy's mutateOnce to record
    walk(src).filterNot(_.getFileName.toString == "__graft_mutated")
        .foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      // COPY_ATTRIBUTES (round 16): preserve mtimes so a re-copied
      // fixture carries the same filesystem stat fingerprint as its
      // source — the freshness-keyed caches (the IvfIndex model) then
      // recognize the identical content instead of re-inferring every
      // pass
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
  }
}
