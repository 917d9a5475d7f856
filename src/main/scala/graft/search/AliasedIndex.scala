package graft.search

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Atomic index-version serving — the alias-flip discipline that makes
  * every fold/rebalance reader-safe (closes the documented double-serve
  * window in [[IvfIndex.rebalance]] steps (1)-(3) and the `__tmp`+rename
  * folds' transition instants; Milvus serves from sealed segments and
  * [[graft.core.Collection.setAlias]] does the same for collections —
  * this is that machinery for INDEX dirs).
  *
  * Layout: the index root holds immutable version dirs `v1, v2, …` plus
  * root-level publish markers `_published_v<N>`. A version is visible
  * ONLY once its marker exists; creating the marker is one filesystem
  * `create` — atomic, so a reader resolves either the old complete
  * version or the new complete version, never a half-written layout.
  * Markers live at the ROOT, not inside the version dir, so maintenance
  * may bootstrap `v<N+1>` by copying `v<N>` without accidentally
  * publishing the copy.
  *
  * Maintenance protocol ([[advance]]): build the next version COMPLETE
  * (any verb — compaction, rebalance, tombstone fold — run against the
  * next dir while readers keep serving the current one), publish, then
  * garbage-collect versions older than the retention window. Retention
  * defaults to 1 previous version so a reader that resolved `v<N>` just
  * before the flip finishes its scan against files that still exist —
  * the lakehouse answer to reader isolation (Delta/Iceberg keep old
  * snapshots for exactly this reason); at warehouse scale, tie GC to
  * the query-lifetime SLA instead. Single WRITER still assumed, like
  * every maintenance verb here. */
object AliasedIndex {
  def versionDir(root: String, n: Int): String = s"$root/v$n"

  private def markerPath(root: String, n: Int) =
    new Path(root, s"_published_v$n")

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Published version numbers whose dirs exist, ascending. */
  def publishedVersions(spark: SparkSession, root: String): Seq[Int] = {
    val f = fsOf(spark, root)
    val rp = new Path(root)
    if (!f.exists(rp)) Seq.empty
    else f.listStatus(rp).toSeq.map(_.getPath.getName)
      .collect {
        case s if s.startsWith("_published_v")
          && s.stripPrefix("_published_v").nonEmpty
          && s.stripPrefix("_published_v").forall(_.isDigit) =>
          s.stripPrefix("_published_v").toInt
      }
      .filter(n => f.exists(new Path(versionDir(root, n))))
      .sorted
  }

  def currentVersion(spark: SparkSession, root: String): Int =
    publishedVersions(spark, root).lastOption.getOrElse(
      throw new IllegalStateException(
        s"AliasedIndex: no published version under $root"))

  /** The serving path — what every reader resolves ONCE per query. */
  def currentDir(spark: SparkSession, root: String): String =
    versionDir(root, currentVersion(spark, root))

  /** Resolve an index path for SERVING: the latest published version
    * when `root` carries publish markers, the root itself otherwise (a
    * flat, never-aliased layout — the legacy default). This is what
    * makes alias-flip the DEFAULT discipline instead of opt-in
    * machinery: every loader ([[IvfIndex.load]], the
    * [[Bm25Index]]/[[Phrase]]/[[TermIndex]] readers) routes through it,
    * so handing any reader an aliased ROOT serves the current version
    * with no caller-side resolution — and existing flat layouts are
    * untouched. One `listStatus` of the root per resolution; resolve
    * once per query, like [[currentDir]]. */
  def resolveDir(spark: SparkSession, root: String): String =
    publishedVersions(spark, root).lastOption
      .map(versionDir(root, _)).getOrElse(root)

  /** Recursive byte copy of a complete version dir — the bootstrap for
    * maintenance verbs that mutate PART of a layout (rebalance's
    * partition drops, tombstone-fold of one artifact among several):
    * copy current → next, run the in-place verb against the copy,
    * publish. A raw `FileUtil.copy` (no parquet decode), so the cost is
    * the version's byte size at disk bandwidth — measured in SCALE.md;
    * verbs that rewrite the whole layout anyway should write `next`
    * directly instead of paying it. */
  def copyVersion(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sp = new Path(src); val dp = new Path(dst)
    val sfs = sp.getFileSystem(conf); val dfs = dp.getFileSystem(conf)
    if (!org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp,
        false, true, conf))
      throw new java.io.IOException(s"copyVersion: $src -> $dst failed")
  }

  /** Run an IN-PLACE maintenance verb under the alias discipline — the
    * round-11 default for every rewrite verb ([[IvfIndex
    * .compactTombstones]]/[[IvfIndex.compactVersions]]/[[IvfIndex
    * .rebalance]], [[TermIndex.compactSegments]] and
    * [[TermIndex.compactTombstones]]): on an aliased root, copy the
    * current version to `v<N+1>`, run `verb(v<N+1>)`, publish
    * atomically — readers keep serving `v<N>` through the whole verb,
    * including its rename-aside transition instants, and flip to a
    * COMPLETE new version or never see it. On a flat root the verb runs
    * in place (legacy layouts keep their semantics — single-writer,
    * transient-window documented). Returns the dir the verb ran against
    * (= the new serving dir when aliased). Pure file appends
    * ([[IvfIndex.append]], [[TermIndex.append]]) do NOT need this — a
    * reader's plan lists files once, so an append is reader-safe in
    * place against [[resolveDir]]. */
  def maintain(spark: SparkSession, root: String, keepVersions: Int = 1)
              (verb: String => Unit): String =
    if (publishedVersions(spark, root).isEmpty) { verb(root); root }
    else advance(spark, root, keepVersions) { (cur, next) =>
      copyVersion(spark, cur, next)
      verb(next)
    }

  /** Create version 1: `build` writes a complete index into the v1 dir,
    * then the publish marker makes it visible. Returns the v1 dir. */
  def init(spark: SparkSession, root: String)
          (build: String => Unit): String = {
    require(publishedVersions(spark, root).isEmpty,
      s"AliasedIndex.init: $root already has published versions")
    val f = fsOf(spark, root)
    val d = versionDir(root, 1)
    f.delete(new Path(d), true)
    build(d)
    f.create(markerPath(root, 1), true).close()
    d
  }

  /** Run one maintenance step reader-safely: `mutate(curDir, nextDir)`
    * must leave a COMPLETE index at nextDir (typical body: copy the
    * current version, run the fold/rebalance verb against the copy);
    * then the new version publishes atomically and versions older than
    * `keepVersions` behind it are garbage-collected. A crash before the
    * publish leaves an unpublished `v<N+1>` that the next advance
    * clears; readers never saw it. Returns the new serving dir. */
  def advance(spark: SparkSession, root: String, keepVersions: Int = 1)
             (mutate: (String, String) => Unit): String = {
    require(keepVersions >= 0)
    val f = fsOf(spark, root)
    val cur = currentVersion(spark, root)
    val next = cur + 1
    val nd = versionDir(root, next)
    f.delete(new Path(nd), true) // a crashed prior attempt's leftovers
    mutate(versionDir(root, cur), nd)
    f.create(markerPath(root, next), true).close()
    publishedVersions(spark, root)
      .filter(_ <= next - keepVersions - 1)
      .foreach { n =>
        // marker first: a crash between the deletes leaves an
        // unpublished dir (invisible garbage), never a dangling marker
        f.delete(markerPath(root, n), false)
        f.delete(new Path(versionDir(root, n)), true)
      }
    nd
  }
}
