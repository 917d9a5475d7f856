package graft

import graft.search.{Bm25Index, GraphAnn, IvfIndex, TermIndex, Tombstones}
import org.apache.spark.sql.functions._

/** Delete propagation to derived serving artifacts: tombstone record /
  * serve-time mask / compaction fold, across the IVF, graph, and BM25
  * families. */
class TombstonesSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_test_tomb_$tag"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    d
  }

  test("mask is a no-op without tombstones and filters with them") {
    val dir = freshDir("mask")
    val df = (0L until 20L).map(i => (i, i * 10)).toDF("id", "v")
    // no deletes dir: the exact same frame comes back (plan unchanged)
    assert(Tombstones.mask(df, spark, dir, "id") eq df)
    assert(!Tombstones.exist(spark, dir))
    Tombstones.record(Seq(3L, 7L, 7L).toDF("id"), dir, "id")
    Tombstones.record(Seq(11L).toDF("id"), dir, "id") // second batch
    assert(Tombstones.count(spark, dir) == 3) // distinct, across batches
    val live = Tombstones.mask(df, spark, dir, "id")
      .select("id").as[Long].collect().sorted
    assert(live.toSeq == (0L until 20L).filterNot(Set(3L, 7L, 11L)))
    Tombstones.clear(spark, dir)
    assert(!Tombstones.exist(spark, dir) &&
      Tombstones.count(spark, dir) == 0)
  }

  test("a set recorded under two key names masks every id by either " +
      "name") {
    val dir = freshDir("two_names")
    Tombstones.record(Seq(1L, 2L).toDF("vec_id"), dir, "vec_id")
    Tombstones.record(Seq(3L).toDF("id"), dir, "id")
    assert(Tombstones.count(spark, dir) == 3)
    val df = (0L until 6L).toDF("n")
    for (name <- Seq("vec_id", "id")) {
      val live = Tombstones.mask(df.toDF(name), spark, dir, name)
        .as[Long].collect().sorted.toSeq
      assert(live == Seq(0L, 4L, 5L), s"masked by $name")
      assert(Tombstones.table(spark, dir, name).as[Long].collect().sorted
        .toSeq == Seq(1L, 2L, 3L))
    }
  }

  test("IVF: delete masks stale layout; compact folds and clears") {
    val dir = freshDir("ivf")
    val r = new scala.util.Random(11)
    val corpus = (0L until 60L).map(i =>
      (i, Array.fill(4)(r.nextGaussian().toFloat))).toDF("id", "vec")
    val model = IvfIndex.build(corpus, "vec", dir, nlist = 4)
    val q = corpus.where(col("id") === 0).select("vec")
      .collect()(0).getSeq[Float](0).toArray
    val full = IvfIndex.search(spark, model, "vec", "id", q, k = 5,
      nprobe = 4).select("id").as[Long].collect().toSeq
    // delete the top-1 (id 0 itself): the stale artifact must stop
    // serving it, and the rest of the exact ranking shifts up by one
    IvfIndex.delete(Seq(0L).toDF("id"), model, "id")
    val masked = IvfIndex.search(spark, model, "vec", "id", q, k = 4,
      nprobe = 4).select("id").as[Long].collect().toSeq
    assert(!masked.contains(0L))
    assert(masked == full.filterNot(_ == 0L).take(4))
    // before compaction the artifact is stale: one orphan vs live corpus
    val liveCorpus = corpus.where(col("id") =!= 0)
    val assign = spark.read.parquet(IvfIndex.dataDir(dir))
      .select(col("id"), col("cluster_id"))
    import graft.search.IndexAudit
    val pre = IndexAudit.coverageChecks(liveCorpus, assign.select("id"),
      "id", "ivf").collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(pre("ivf_orphans") == 1)
    // compaction physically removes the row, keeps partitioning, clears
    IvfIndex.compactTombstones(spark, model, "id")
    assert(!Tombstones.exist(spark, dir))
    val after = spark.read.parquet(IvfIndex.dataDir(dir))
    assert(after.count() == 59 &&
      after.columns.contains("cluster_id"))
    assert(after.where(col("id") === 0).isEmpty)
    val post = IndexAudit.coverageChecks(liveCorpus,
        after.select("id"), "id", "ivf")
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(post == Map("ivf_missing" -> 0L, "ivf_dupes" -> 0L,
      "ivf_orphans" -> 0L))
    // unmasked search over the compacted layout = the masked result
    val compacted = IvfIndex.search(spark, model, "vec", "id", q, k = 4,
      nprobe = 4).select("id").as[Long].collect().toSeq
    assert(compacted == masked)
  }

  test("graph: masked walk hides deletions, routes through them") {
    val r = new scala.util.Random(3)
    val corpus = (0L until 40L).map(i =>
      (i, Array.fill(4)(r.nextGaussian().toFloat))).toDF("id", "vec")
    val adj = GraphAnn.buildAdjacency(corpus, "id", "vec")
    val entry = GraphAnn.medoid(corpus, "id", "vec")
      .collect()(0).getLong(0)
    val q = corpus.where(col("id") === 1).select("vec")
      .collect()(0).getSeq[Float](0).toArray
    val plain = GraphAnn.beamSearch(adj, corpus, "id", "vec", q, entry,
        k = 8, beamWidth = 6)
      .select("id").as[Long].collect().toSeq
    val dead = plain.take(2) // tombstone the two best hits
    val masked = GraphAnn.beamSearchMasked(adj, corpus, "id", "vec", q,
        entry, k = 5, dead.toDF("id"), beamWidth = 6)
      .select("id").as[Long].collect().toSeq
    assert(masked.toSet.intersect(dead.toSet).isEmpty)
    // label-blind routing: the surviving ranking equals the plain
    // walk's visited order with the tombstoned ids dropped
    assert(masked == plain.filterNot(dead.toSet).take(5))
  }

  test("compact folds multi-key artifacts: adjacency drops both ends") {
    val dir = freshDir("adjfold")
    val adjDir = s"$dir/adjacency"
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (2L, 4L))
      .toDF("src", "dst")
      .write.mode("overwrite").parquet(adjDir)
    Tombstones.record(Seq(1L).toDF("id"), dir, "id")
    Tombstones.compact(spark, dir, adjDir, keyCols = Seq("src", "dst"))
    Tombstones.clear(spark, dir)
    val left = spark.read.parquet(adjDir)
      .as[(Long, Long)].collect().toSet
    // every edge touching node 1 is gone — src OR dst
    assert(left == Set((2L, 3L), (2L, 4L)))
  }

  test("graph consolidation: hub delete repairs connectivity") {
    // a path 0 —— 1 —— 2: every edge touches the hub 1, so naive edge
    // removal disconnects 0 from 2; consolidation must inherit the
    // hub's routing role as a recomputed-distance 0 —— 2 edge
    val corpus = Seq(
      (0L, Array(0f, 0f)), (1L, Array(1f, 0f)), (2L, Array(2f, 0f)))
      .toDF("id", "vec")
    val adj = Seq(
      (0L, 1L, 1.0), (1L, 0L, 1.0), (1L, 2L, 1.0), (2L, 1L, 1.0))
      .toDF("src", "dst", "dist")
    val folded = GraphAnn.consolidateDeletes(adj, corpus, "id", "vec",
        Seq(1L).toDF("id"), degree = 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(folded == Set((0L, 2L, 4.0), (2L, 0L, 4.0)))
    // and the plain (unmasked) walk serves the repaired graph: from
    // entry 0 it now reaches 2 without routing through the dead hub
    val live = corpus.where(col("id") =!= 1)
    val got = GraphAnn.beamSearch(folded.toSeq.toDF("src", "dst", "dist"),
        live, "id", "vec",
        query = Array(2f, 0f), entryId = 0L, k = 1)
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(2L))
  }

  test("graph consolidation: degree cap holds, no dead endpoints") {
    val r = new scala.util.Random(23)
    val corpus = (0L until 30L).map(i =>
      (i, Array.fill(4)(r.nextGaussian().toFloat))).toDF("id", "vec")
    val adj = GraphAnn.buildAdjacency(corpus, "id", "vec")
    val dead = Seq(2L, 9L, 16L, 23L).toDF("id")
    val folded = GraphAnn.consolidateDeletes(adj, corpus, "id", "vec",
      dead, degree = 8)
    val deadSet = Set(2L, 9L, 16L, 23L)
    val edges = folded.as[(Long, Long, Double)].collect()
    assert(edges.nonEmpty)
    assert(edges.forall { case (s, d, _) => !deadSet(s) && !deadSet(d) })
    val maxDeg = edges.groupBy(_._1).map(_._2.length).max
    assert(maxDeg <= 8, s"degree $maxDeg > 8 after consolidation")
    // idempotent: consolidating the same deletes again changes nothing
    val again = GraphAnn.consolidateDeletes(
        folded, corpus, "id", "vec", dead, degree = 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(again == edges.toSet)
  }

  test("rename-aside crash recovery: a fold that died between its two " +
      "renames restores the pre-fold artifact and completes") {
    // simulate the exact crash window ADVICE-r9 flagged: live renamed
    // aside, tmp never renamed in — nothing at the live path, the
    // complete pre-fold layout at __tomb_old
    val dir = freshDir("recover")
    val rows = (0L until 30L).map(i =>
      (i, Array.fill(4)((i * 0.1).toFloat))).toDF("vec_id", "embedding")
    val model = IvfIndex.build(rows, "embedding", dir, nlist = 2)
    Tombstones.record(rows.where(col("vec_id") < 10).select("vec_id"),
      dir, "vec_id")
    val dd = new org.apache.hadoop.fs.Path(IvfIndex.dataDir(dir))
    val fs = dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(dd,
      new org.apache.hadoop.fs.Path(IvfIndex.dataDir(dir) + "__tomb_old")))
    assert(!fs.exists(dd), "simulated crash: live path must be empty")
    // the next compact probes the aside dir, restores it, and folds
    Tombstones.compact(spark, dir, IvfIndex.dataDir(dir), Seq("vec_id"),
      partitionBy = Seq("cluster_id"))
    Tombstones.clear(spark, dir)
    val served = IvfIndex.search(spark, model, "embedding", "vec_id",
        Array(0f, 0f, 0f, 0f), k = 30, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(served == (10L until 30L).toSet,
      s"recovered-then-folded artifact must serve exactly the live " +
        s"rows: $served")
  }

  test("retract crash window: masked serves read the aside SUPERSET, " +
      "record heals it before appending") {
    // round-16 review fix: a crash between retract's two renames
    // leaves NO live deletes dir — treating that as "no tombstones"
    // would silently resurrect every deleted row on every masked
    // serve. Readers route to the aside copy (the conservative
    // pre-retract superset); the next WRITER (record) heals the dir.
    val dir = freshDir("retractwin")
    val rows = (0L until 30L).map(i =>
      (i, Array.fill(4)((i * 0.1).toFloat))).toDF("vec_id", "embedding")
    val model = IvfIndex.build(rows, "embedding", dir, nlist = 2)
    Tombstones.record(rows.where(col("vec_id") < 10).select("vec_id"),
      dir, "vec_id")
    val dd = new org.apache.hadoop.fs.Path(Tombstones.deletesDir(dir))
    val fs = dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = new org.apache.hadoop.fs.Path(
      Tombstones.deletesDir(dir) + "__tomb_old")
    assert(fs.rename(dd, aside), "simulate the crash window")
    assert(!fs.exists(dd))
    // readers see the aside superset — no silent resurrection
    assert(Tombstones.exist(spark, dir))
    assert(Tombstones.count(spark, dir) == 10L)
    val served = IvfIndex.search(spark, model, "embedding", "vec_id",
        Array(0f, 0f, 0f, 0f), k = 30, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(served == (10L until 30L).toSet,
      s"crash-window serve must still mask the aside set: $served")
    assert(!fs.exists(dd) && fs.exists(aside),
      "readers must NOT rename the aside copy back")
    // the next record (a writer) heals first, so its append cannot
    // shadow the aside superset
    Tombstones.record(Seq(15L).toDF("vec_id"), dir, "vec_id")
    assert(fs.exists(dd) && !fs.exists(aside))
    assert(Tombstones.count(spark, dir) == 11L)
  }

  test("radii read path is non-mutating beside a crashed radii write") {
    // loadRadii is a SERVE path: it must never repair or rename what a
    // writer left behind. The radii sidecar is replaced by one overwrite
    // rename, so the only crash leftover is the writer's tmp file; the
    // next WRITER overwrites it.
    val dir = freshDir("radiiread")
    val rows = (0L until 30L).map(i =>
      (i, Array.fill(4)((i * 0.1).toFloat))).toDF("vec_id", "embedding")
    IvfIndex.build(rows, "embedding", dir, nlist = 2)
    val live = IvfIndex.loadRadii(spark, dir)
    assert(live.size == 2)
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a writer killed after writing its tmp file, before the rename
    val tmp = new org.apache.hadoop.fs.Path(d, s".${IvfIndex.RadiiFile}.tmp")
    val out = fs.create(tmp, true)
    try out.write("0\t0.0\n".getBytes("UTF-8")) finally out.close()
    def listing() = fs.listStatus(d).map(st =>
      (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
    val before = listing()
    assert(IvfIndex.loadRadii(spark, dir) == live,
      "reader must serve the live radii, not the torn write")
    assert(listing() == before, "reader must not mutate the index dir")
    // the next writer pass (a fold via append) replaces the leftover
    IvfIndex.append(rows.where(col("vec_id") === 0)
        .withColumn("vec_id", lit(100L)),
      "embedding", IvfIndex.load(spark, dir))
    assert(!fs.exists(tmp) && IvfIndex.loadRadii(spark, dir) == live,
      "writer replaces the leftover; a member already covered grows nothing")
  }

  test("bm25: masked search keeps stale stats, hides deleted docs") {
    val dir = freshDir("bm25")
    val docs = Seq(
      (0L, "scan the filter scan"), (1L, "merge filter join"),
      (2L, "scan scan scan"), (3L, "window shuffle"),
      (4L, "filter merge scan")).toDF("id", "text")
    TermIndex.build(docs, "id", "text", dir)
    val before = Bm25Index.search(spark, dir, Seq("scan", "filter"), 5)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    Tombstones.record(Seq(2L).toDF("id"), dir, "id")
    val after = Bm25Index.search(spark, dir, Seq("scan", "filter"), 5)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(!after.contains(2L))
    // stale-stats semantics: surviving docs score EXACTLY as before —
    // the mask never recomputes N/avgdl/df (that is compaction's job)
    assert(after == before - 2L)
  }
}
