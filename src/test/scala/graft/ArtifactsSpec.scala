package graft

import graft.core.{Artifacts, Tables}
import graft.search.{GraphAnn, IvfIndex, TermIndex}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The storage protocols shared by every index artifact: the stat-keyed
  * caches ([[Artifacts.StatCache]]) and the rename-aside directory swap
  * ([[Artifacts.replaceDir]] / [[Artifacts.recoverAside]]). */
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
    }
  }
}
