package graft

import graft.core.{Artifacts, Tables}
import graft.search.{GraphAnn, IvfIndex, TermIndex, Tombstones}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The storage protocols shared by every index artifact: the stat-keyed
  * caches ([[Artifacts.StatCache]]), the rename-aside directory swap
  * ([[Artifacts.replaceDir]] / [[Artifacts.recoverAside]]) and the
  * schema sidecar a layout's writer pins ([[Artifacts.writeSchema]]). */
class ArtifactsSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_test_artifacts_$tag"
    fs.delete(new Path(d), true)
    d
  }

  test("Tables.load re-infers the schema after an in-JVM rewrite of the " +
      "table dir") {
    val dir = freshDir("tables")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    assert(Tables.load(spark, dir, "docs").columns.toSeq == Seq("id", "name"))
    // same path, a renamed column: a schema cached from the first read
    // would read `label` as an unknown column and `name` as all-null
    Seq((1L, "a"), (2L, "b")).toDF("id", "label")
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val reread = Tables.load(spark, dir, "docs")
    assert(reread.columns.toSeq == Seq("id", "label"))
    assert(reread.orderBy("id").select("label").as[String].collect().toSeq
      == Seq("a", "b"))
  }

  /** One maintenance verb whose artifact swap can crash between its two
    * renames. `build` writes the pre-verb state into a dir, `live` names
    * the directory the verb swaps, `aside` its crash-aside suffix,
    * `prepare` loads what the verb needs (before the crash hides it) and
    * returns the verb, and `serve` reads the served result. */
  private case class Swap(name: String, aside: String,
                          build: String => Unit, live: String => String,
                          prepare: String => () => Unit,
                          serve: String => Seq[Any])

  private val rng = new scala.util.Random(41)
  private val blobs = ((0 until 40).map(i =>
      (i.toLong, Array.fill(4)((rng.nextGaussian() * 0.1).toFloat))) ++
    (40 until 48).map(i =>
      (i.toLong, Array.fill(4)((10.0 + rng.nextGaussian()).toFloat))))
  private def corpus = blobs.toDF("vec_id", "embedding")
  private val query = blobs(3)._2

  private def ivfServe(dir: String): Seq[Any] = {
    val m = IvfIndex.load(spark, dir)
    IvfIndex.search(spark, m, "embedding", "vec_id", query, k = 48,
        nprobe = 1)
      .select("vec_id", "distance").as[(Long, Double)].collect().toSeq
  }

  private val swaps = Seq(
    Swap("IvfIndex.compactVersions", "__ver_old",
      build = { d =>
        val m = IvfIndex.build(corpus, "embedding", d, nlist = 2)
        IvfIndex.upsertBatch(corpus.where(col("vec_id") % 4 === 1)
            .withColumn("embedding", reverse(col("embedding"))),
          "embedding", m, "vec_id", ver = 1)
      },
      live = IvfIndex.dataDir,
      prepare = { d =>
        val m = IvfIndex.load(spark, d)
        () => IvfIndex.compactVersions(spark, m, "vec_id")
      },
      serve = ivfServe),
    Swap("IvfIndex.rebalance", "__rebal_old",
      build = { d => IvfIndex.build(corpus, "embedding", d, nlist = 2); () },
      live = IvfIndex.centroidsDir,
      prepare = { d =>
        val m = IvfIndex.load(spark, d)
        () => { IvfIndex.rebalance(spark, m, "embedding", sizeCap = 20L); () }
      },
      serve = ivfServe),
    Swap("TermIndex.compactSegments", "__old",
      build = { d =>
        val docs = (0L until 40L).map(i =>
          (i, s"alpha$i beta gamma${i % 5} alpha$i")).toDF("doc_id", "text")
        TermIndex.build(docs.where(col("doc_id") < 25), "doc_id",
          "text", d)
        TermIndex.append(docs.where(col("doc_id") >= 25), "doc_id",
          "text", d)
      },
      live = TermIndex.termsDir,
      prepare = d => () => TermIndex.compactSegments(spark, d),
      serve = { d =>
        TermIndex.segments(spark, d) ++
          TermIndex.prefixSearch(spark, d, "alpha", k = 50)
            .as[(Long, Long)].collect().toSeq
      }),
    Swap("GraphAnn.consolidateDeletesRoot (flat root)", "__cons_old",
      build = { d =>
        GraphAnn.buildAdjacency(corpus, "vec_id", "embedding")
          .write.mode("overwrite").parquet(GraphAnn.adjacencyDir(d))
        GraphAnn.entryPoints(corpus, "vec_id", "embedding", nEntries = 4)
          .write.mode("overwrite").parquet(GraphAnn.entriesDir(d))
      },
      live = identity,
      prepare = { d => () =>
        GraphAnn.consolidateDeletesRoot(spark, d, corpus, "vec_id",
          "embedding", corpus.where(col("vec_id") % 5 === 1)
            .select("vec_id"))
        ()
      },
      serve = { d =>
        GraphAnn.beamSearchMulti(
            spark.read.parquet(GraphAnn.adjacencyDir(d)), corpus,
            "vec_id", "embedding", query,
            spark.read.parquet(GraphAnn.entriesDir(d)),
            k = 5, beamWidth = 4, rounds = 3, degree = 8, nSeeds = 2)
          .select("vec_id", "distance").as[(Long, Double)].collect().toSeq
      }))

  swaps.foreach { s =>
    test(s"crash between the swap's renames recovers: ${s.name}") {
      val tag = s.name.takeWhile(_ != ' ').replace('.', '_')
      val base = freshDir(s"${tag}_base")
      s.build(base)
      val clean = freshDir(s"${tag}_clean")
      val crashed = freshDir(s"${tag}_crashed")
      Artifacts.copyLocalDir(base, clean)
      Artifacts.copyLocalDir(base, crashed)
      // crash-free run
      s.prepare(clean)()
      val expected = s.serve(clean)
      assert(expected.nonEmpty)
      // the crash window: live renamed aside, nothing renamed in
      val verb = s.prepare(crashed)
      val live = new Path(s.live(crashed))
      val aside = new Path(s.live(crashed) + s.aside)
      fs.delete(aside, true) // a previous run's leftovers
      assert(fs.rename(live, aside), "simulate the crash window")
      assert(!fs.exists(live))
      verb()
      assert(fs.exists(live) && !fs.exists(aside),
        "the verb must restore the aside copy and complete its swap")
      assert(s.serve(crashed) == expected,
        "a recovered run must serve what a crash-free run serves")
      assert(Artifacts.readSchema(spark, s.live(crashed)) ==
          Artifacts.readSchema(spark, s.live(clean)),
        "a recovered run must pin what a crash-free run pins")
    }
  }

  private def upsertReversed(d: String, ver: Long): Unit =
    IvfIndex.upsertBatch(corpus.where(col("vec_id") % 4 === ver)
        .withColumn("embedding", reverse(col("embedding"))),
      "embedding", IvfIndex.load(spark, d), "vec_id", ver)

  test("an upsert killed after pinning __ver, before its rows landed, " +
      "serves the unversioned rows, and the next upsert serves as a " +
      "crash-free one") {
    val base = freshDir("pinned_ver_base")
    IvfIndex.build(corpus, "embedding", base, nlist = 2)
    val clean = freshDir("pinned_ver_clean")
    val crashed = freshDir("pinned_ver_crashed")
    Artifacts.copyLocalDir(base, clean)
    Artifacts.copyLocalDir(base, crashed)
    // the sidecar upsertBatch writes before its first versioned append
    val dd = IvfIndex.dataDir(crashed)
    Artifacts.writeSchema(spark, dd,
      Artifacts.readSchema(spark, dd).get.add("__ver", LongType))
    assert(ivfServe(crashed) == ivfServe(base))
    upsertReversed(clean, ver = 1)
    upsertReversed(crashed, ver = 1)
    assert(ivfServe(crashed) == ivfServe(clean))
  }

  test("a schema sidecar's tmp file left by a killed write is never read") {
    val d = freshDir("sidecar_tmp")
    IvfIndex.build(corpus, "embedding", d, nlist = 2)
    val expected = ivfServe(d)
    val dd = IvfIndex.dataDir(d)
    val pinned = Artifacts.readSchema(spark, dd)
    // a write killed mid-file: a torn tmp beside the live sidecar
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dd, s".${Artifacts.SchemaFile}.tmp"),
      """{"type":"struct","fie""".getBytes("UTF-8"))
    assert(Artifacts.readSchema(spark, dd) == pinned)
    assert(ivfServe(d) == expected)
    upsertReversed(d, ver = 1)
    assert(Artifacts.readSchema(spark, dd).get.fieldNames.contains("__ver"))
  }

  test("an index written before schema sidecars serves as before, and " +
      "its next writers pin the data and tombstone schemas") {
    val pinnedDir = freshDir("legacy_pinned")
    val m = IvfIndex.build(corpus, "embedding", pinnedDir, nlist = 2)
    upsertReversed(pinnedDir, ver = 1)
    IvfIndex.delete(Seq(5L, 9L).toDF("vec_id"), m, "vec_id")
    val legacy = freshDir("legacy_unpinned")
    Artifacts.copyLocalDir(pinnedDir, legacy)
    val sidecars = Seq(IvfIndex.dataDir(legacy),
      Tombstones.deletesDir(legacy)).map(new Path(_, Artifacts.SchemaFile))
    assert(sidecars.forall(fs.exists))
    sidecars.foreach(fs.delete(_, false))
    assert(ivfServe(legacy) == ivfServe(pinnedDir))
    assert(Tombstones.count(spark, legacy) == 2)
    for (d <- Seq(pinnedDir, legacy)) {
      upsertReversed(d, ver = 2)
      Tombstones.record(Seq(13L).toDF("vec_id"), d, "vec_id")
    }
    assert(sidecars.forall(fs.exists))
    assert(IvfIndex.readData(spark, legacy).schema ==
      IvfIndex.readData(spark, pinnedDir).schema)
    assert(ivfServe(legacy) == ivfServe(pinnedDir))
    assert(Tombstones.count(spark, legacy) == 3)
  }

  test("a registry IVF fixture whose build was killed mid-write is " +
      "rebuilt, not served as an empty index") {
    // a private fixture dir: its own key, so its own IVF dir
    val fixture = freshDir("killed_ivf_fixture")
    fs.mkdirs(new Path(fixture))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/embeddings.parquet"),
      java.nio.file.Paths.get(s"$fixture/embeddings.parquet"))
    val ivfDir = new Path(Fixtures.ivfDir(fixture))
    val ivfSearch = SparkEntry.queries("ivf_search")
    def serve() = ivfSearch(spark, fixture).collect().toSeq
    fs.delete(ivfDir, true)
    val clean = serve()
    assert(clean.size == 5)
    // IvfIndex.build writes data, then centroids, then radii: a kill
    // during the centroids write leaves the data and, of the centroids,
    // only the job's _temporary dir
    fs.listStatus(ivfDir).map(_.getPath)
      .filter(_.getName != "data").foreach(fs.delete(_, true))
    fs.mkdirs(new Path(ivfDir, "centroids/_temporary/0"))
    assert(serve() == clean,
      "the half-written index must be rebuilt before it is searched")
    fs.delete(ivfDir, true)
    fs.delete(new Path(fixture), true)
  }

  test("a copy of a ready fixture leaves its completion marker behind, so " +
      "a mutation killed after the copy re-runs") {
    val base = freshDir("marked_base")
    val run = freshDir("marked_run")
    QueryDsl.rebuildOnce(spark, base) {
      Seq(1L, 2L).toDF("id").write.parquet(base)
    }
    // a run killed after `copy(base, run)` but before its mutation ends
    Artifacts.copyLocalDir(base, run)
    var mutated = false
    QueryDsl.mutateOnce(spark, run) {
      Artifacts.copyLocalDir(base, run)
      mutated = true
    }
    assert(mutated, "the copy must not read as an already-mutated dir")
    assert(spark.read.parquet(run).count() == 2)
    fs.delete(new Path(base), true)
    fs.delete(new Path(run), true)
  }
}
