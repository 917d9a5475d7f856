package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared plumbing for the query registry. */
object QueryDsl {
  final case class Q(name: String,
                     fn: (SparkSession, String) => DataFrame,
                     oracle: Option[String])

  /** Oracle-SQL placeholder for the fixture-dir key: [[graft.Verify]]
    * substitutes it with `math.abs(sfDir.hashCode)` when it dumps
    * `oracle_sql.json` — the SAME value query fns compute from the `dir`
    * they receive, so handoff artifacts written by [[stageOracle]] and
    * the paths the DuckDB oracle reads are keyed by the fixture dir on
    * BOTH sides. Two fixture dirs verified back-to-back (or
    * concurrently) no longer clobber each other's staged centroids. */
  val OracleKey = "%ORACLE_KEY%"

  /** The handoff dir for oracle `name` under fixture `dir` (Spark side);
    * mirror it in SQL as `/tmp/graft_<name>_oracle_%ORACLE_KEY%`. */
  def oracleDir(name: String, dir: String): String =
    s"/tmp/graft_${name}_oracle_${math.abs(dir.hashCode)}"

  /** Write-once streaming-fixture inputs + per-pass state reset — the
    * round-16 discipline shared by every foreachBatch ingest entry:
    * the DETERMINISTIC input files land under `work/in` once per
    * fixture, guarded by an `in/_graft_ready` marker (underscore-
    * prefixed, so the file stream's listing never sees it); on every
    * later pass only `resetDirs` — the stream checkpoint plus whatever
    * per-pass artifact state the entry's foreachBatch mutates — are
    * cleared, because the re-ingest each pass measures the STREAM, not
    * re-deriving its immutable input. `writeInputs` receives a
    * `writeOne(df, name, mtime)` that lands each frame as ONE parquet
    * file with a pinned mtime (mtime order = trigger order under
    * `maxFilesPerTrigger=1`). An entry's reset list must be audited
    * against its foreachBatch side effects — that list is the ONLY
    * per-entry part of this protocol. */
  def streamInputOnce(spark: SparkSession, work: String,
                      resetDirs: Seq[String])
                     (writeInputs: ((DataFrame, String, Long) => Unit)
                       => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeOne(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new Path(tmp)).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      fs.rename(part, new Path(s"$work/in/$name"))
      fs.setTimes(new Path(s"$work/in/$name"), mtime, -1)
      fs.delete(new Path(tmp), true)
    }
    val inReady = new Path(s"$work/in/_graft_ready")
    if (!fs.exists(inReady)) {
      fs.delete(new Path(work), true)
      fs.mkdirs(new Path(s"$work/in"))
      writeInputs(writeOne)
      fs.create(inReady, true).close()
    } else
      resetDirs.foreach(d => fs.delete(new Path(d), true))
  }

  /** Stage small handoff tables (centroids, assignment maps) for a DuckDB
    * oracle: each `(subdir, df)` is written single-file under a staging
    * dir, then the whole dir is swapped in with ONE rename — a concurrent
    * DuckDB read never sees a half-written parquet job. Returns the
    * final dir ([[oracleDir]]). */
  def stageOracle(spark: SparkSession, name: String, dir: String)
                 (parts: (String, DataFrame)*): String = {
    val out = oracleDir(name, dir)
    val staging = s"$out.staging"
    parts.foreach { case (sub, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$staging/$sub")
    }
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    fs.rename(new org.apache.hadoop.fs.Path(staging),
      new org.apache.hadoop.fs.Path(out))
    out
  }

  /** [[stageOracle]] for DETERMINISTIC handoffs — content that is a
    * pure function of buildOnce/mutateOnce fixture state (staged
    * adjacencies, centroid/assignment maps, radii tables): skipped
    * when the final dir carries the `__graft_staged` marker, written
    * only after the swap completes. This is the [[mutateOnce]]
    * discipline applied to ORACLE staging: the bench's warm-up +
    * measured passes were paying the same staging scans and
    * single-file writes three times over (round-10 verdict item 7 —
    * `index_maintenance_plan` re-scanned the data dir once for its
    * live counters and once for the oracle's assign handoff, every
    * pass). NOT for handoffs whose content changes between passes
    * (live-mutated panels); `rm -rf` the staged dir when changing an
    * entry's fixture logic, like every /tmp artifact here. */
  def stageOracleOnce(spark: SparkSession, name: String, dir: String)
                     (parts: (String, DataFrame)*): String =
    stageOracleOnceLazy(spark, name, dir)(parts)

  /** [[stageOracleOnce]] with the parts BY NAME (round 16, fixed-cost
    * audit): several panel handoffs are not just deterministic but
    * EXPENSIVE TO CONSTRUCT (the routed panels run measured-recall
    * jobs while building their DataFrame, before any write) — the
    * eager varargs form pays that construction on every pass even
    * though the marker then skips the write. The by-name form skips
    * construction too: steady-state passes cost one marker stat. */
  def stageOracleOnceLazy(spark: SparkSession, name: String, dir: String)
                         (parts: => Seq[(String, DataFrame)]): String = {
    val out = oracleDir(name, dir)
    val marker = new org.apache.hadoop.fs.Path(out, "__graft_staged")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      stageOracle(spark, name, dir)(parts: _*)
      fs.create(marker, true).close()
    }
    out
  }

  /** Run a deterministic artifact MUTATION (copy + rebalance / upsert /
    * compact flows) once per on-disk state: skipped when
    * `dir/__graft_mutated` exists. The marker is written only after
    * `mutate` completes, so an interrupted mutation re-runs from
    * scratch next invocation (the mutate block owns its dir and starts
    * by copying/rebuilding it). This is the [[graft.core.Artifacts
    * .buildOnce]] discipline extended to mutations: the operator under
    * test runs — and is what produced the artifact the oracle
    * replays — but a bench's warm-up + measured passes don't pay the
    * same deterministic maintenance three times over. */
  def mutateOnce(spark: SparkSession, dir: String)(mutate: => Unit): Unit = {
    val marker = new org.apache.hadoop.fs.Path(dir, "__graft_mutated")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      mutate
      fs.create(marker, true).close()
    }
  }

  /** [[mutateOnce]] for an artifact built from scratch: deletes whatever
    * a killed build left at `dir`, then builds, so the marker always
    * stands for one whole build. */
  def rebuildOnce(spark: SparkSession, dir: String)(build: => Unit): Unit =
    mutateOnce(spark, dir) {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      build
    }

  /** DuckDB squared-L2 over list<float> columns, double accumulation,
    * rounded — textual mirror of graft.functions.L2SquaredDistance. */
  def duckL2(a: String, b: String): String =
    s"round(list_sum(list_transform(range(1, len($a)+1), " +
      s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))^2)), 4)"

  /** DuckDB cosine similarity (double accumulation, 4-decimal round) —
    * textual mirror of graft.functions.CosineSimilarity. */
  def duckCosine(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, len($x)+1), " +
        s"i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"
    s"round(CASE WHEN ${dot(a, a)} = 0 OR ${dot(b, b)} = 0 THEN 0.0 " +
      s"ELSE ${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})) END, 4)"
  }
}
