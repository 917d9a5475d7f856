package graft

import graft.core.Collection
import graft.functions.VectorFunctions
import graft.ingest.{Embed, HashingEmbedder}
import graft.operators.AsOfJoin
import graft.search.{IvfIndex, Knn}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class OperatorSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("asOfJoin: latest right row at-or-before left ts, per key") {
    val trades = Seq((1L, ts(10), "t1"), (1L, ts(20), "t2"), (2L, ts(15), "t3"))
      .toDF("k", "ts", "trade")
    val quotes = Seq((1L, ts(9), 1.0), (1L, ts(10), 2.0), (1L, ts(19), 3.0),
      (2L, ts(16), 9.0))
      .toDF("k", "qts", "px")
    val r = AsOfJoin.lastBefore(trades, quotes, "k", "ts", "qts",
        Seq("px" -> "last_px"))
      .select(col("trade"), col("last_px").cast("double"))
      .as[(String, Option[Double])].collect().toMap
    assert(r("t1").contains(2.0))   // tie at ts=10: right-at-same-ts wins
    assert(r("t2").contains(3.0))
    assert(r("t3").isEmpty)         // quote is after the trade
  }

  test("asOfJoin: duplicate (key, ts) right rows resolve deterministically") {
    val trades = Seq((1L, ts(20), "t")).toDF("k", "ts", "trade")
    // two quotes at the identical (key, ts): the payload-hash tie-break
    // must pick the same one on every run
    val quotes = Seq((1L, ts(10), 5.0), (1L, ts(10), 7.0))
      .toDF("k", "qts", "px")
    def run() = AsOfJoin.lastBefore(trades, quotes, "k", "ts", "qts",
        Seq("px" -> "last_px"))
      .select(col("last_px").cast("double")).as[Double].collect().toSeq
    val first = run()
    assert(first.length == 1 && (first.head == 5.0 || first.head == 7.0))
    (1 to 3).foreach(_ => assert(run() == first))
  }

  test("hashing embedder: deterministic, unit-norm, batch-size independent") {
    val e = new HashingEmbedder(16)
    val v1 = e.embed(Seq("hello world hello"))(0)
    val v2 = e.embed(Seq("hello world hello"))(0)
    assert(v1.toSeq == v2.toSeq)
    val norm = math.sqrt(v1.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-6)

    val df = (0 until 7).map(i => (i.toLong, s"token$i repeated token$i"))
      .toDF("id", "text")
    val big = Embed.withEmbeddings(df, "text", "v", e, batchSize = 100)
      .select("id", "v").as[(Long, Seq[Float])].collect().toMap
    val small = Embed.withEmbeddings(df, "text", "v", e, batchSize = 2)
      .select("id", "v").as[(Long, Seq[Float])].collect().toMap
    assert(big == small)
  }

  test("session encoder: one session per non-empty partition, closed " +
      "exactly once, batch bound honored, output == serializable seam") {
    SessionSpecCounters.reset()
    val df = (0 until 23).map(i => (i.toLong, s"tok$i alpha beta"))
      .toDF("id", "text").repartition(4)
    val out = Embed.withEmbeddingsSession(df, "text", "v",
        () => SessionSpecCounters.make(), batchSize = 5)
      .select("id", "v").as[(Long, Seq[Float])].collect().toMap
    assert(out.size == 23)
    val opened = SessionSpecCounters.opened.get()
    assert(opened > 0 && opened <= 4,
      s"one session per non-empty partition, got $opened")
    assert(SessionSpecCounters.closed.get() == opened,
      "every session must close exactly once when its partition drains")
    assert(SessionSpecCounters.maxBatch.get() <= 5,
      s"batch bound violated: ${SessionSpecCounters.maxBatch.get()}")
    // batch-boundary invariance + parity with the serializable seam:
    // the session twin must produce byte-identical vectors whatever the
    // partitioning or batch size
    val ref = Embed.withEmbeddings(df, "text", "v",
        new HashingEmbedder(16), batchSize = 100)
      .select("id", "v").as[(Long, Seq[Float])].collect().toMap
    assert(out == ref)
  }

  test("session encoder: partial consumption (limit) still closes sessions") {
    SessionSpecCounters.reset()
    val df = (0 until 40).map(i => (i.toLong, s"tok$i alpha"))
      .toDF("id", "text").repartition(2)
    // a downstream limit abandons partition iterators before they drain
    // — the TaskCompletionListener backstop must still close every
    // session that was opened
    val got = Embed.withEmbeddingsSession(df, "text", "v",
        () => SessionSpecCounters.make(), batchSize = 4)
      .limit(3).collect()
    assert(got.length == 3)
    val opened = SessionSpecCounters.opened.get()
    assert(opened > 0)
    assert(SessionSpecCounters.closed.get() == opened,
      s"leaked sessions: opened=$opened closed=" +
        s"${SessionSpecCounters.closed.get()}")
  }

  test("collection pages: exact-multiple export has no trailing empty page") {
    import graft.core.Collection
    val dir = "/tmp/graft_test_pages/coll"
    val coll = Collection(spark, dir)
    val data = (0L until 10L).map(i => (i, s"row$i")).toDF("id", "s")
    coll.create(data.schema, force = true)
    coll.append(data)
    // 10 rows / pageSize 5 = exactly 2 pages, never a third empty one
    val sizes = coll.pages("id", 5).map(_.count()).toSeq
    assert(sizes == Seq(5L, 5L), s"got pages of $sizes")
    // an empty collection yields zero pages
    coll.delete(col("id") >= 0)
    assert(coll.pages("id", 5).isEmpty)
    coll.drop()
  }

  test("IVF: nprobe=nlist equals exact search; partial probe recalls most") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val dir = "/tmp/graft_ivf_test"
    val model = IvfIndex.build(e, "embedding", dir, nlist = 8)
    val query = e.where(col("vec_id") === 7).select("embedding")
      .collect()(0).getSeq[Float](0).toArray

    val exact = Knn.topK(e, "embedding", "vec_id",
        e.where(col("vec_id") === 7).select(col("embedding").as("qe")), "qe", 10)
      .select("vec_id").as[Long].collect().toSet

    val full = IvfIndex.search(spark, model, "embedding", "vec_id", query,
      k = 10, nprobe = 8).select("vec_id").as[Long].collect().toSet
    assert(full == exact)

    val partial = IvfIndex.search(spark, model, "embedding", "vec_id", query,
      k = 10, nprobe = 2).select("vec_id").as[Long].collect().toSet
    assert(partial.intersect(exact).size >= 5,
      s"recall too low: ${partial.intersect(exact).size}/10")
  }

  test("IVF bulk serving equals the per-query search, query by query") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val dir = "/tmp/graft_ivf_bulk_test"
    val model = IvfIndex.build(e, "embedding", dir, nlist = 8)
    val qs = Seq(0L, 7L, 13L).map { qid =>
      qid -> e.where(col("vec_id") === qid).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
    }
    val bulk = IvfIndex.bulkSearch(spark, model, "embedding", "vec_id",
        qs, k = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    // the batch plan must reproduce each query's own probe set, pruned
    // scan, and ranking — per query, in order
    qs.foreach { case (qid, qv) =>
      val single = IvfIndex.search(spark, model, "embedding", "vec_id",
          qv, k = 5, nprobe = 3)
        .select(col("vec_id"), col("distance"))
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
      assert(bulk.filter(_._1 == qid) == single, s"qid=$qid diverged")
    }
    assert(bulk.map(_._1).distinct == qs.map(_._1), "qid ordering")
  }

  test("IVF rebalance: splits only hot lists, search stays exact") {
    val r = new scala.util.Random(17)
    // deliberate skew: 40 rows in a tight blob, 8 far away ⇒ with
    // nlist=2 one list holds ~40 and must split at cap = max/2
    val corpus = ((0 until 40).map(i =>
        (i.toLong, Array.fill(4)((r.nextGaussian() * 0.1).toFloat))) ++
      (40 until 48).map(i =>
        (i.toLong, Array.fill(4)((10.0 + r.nextGaussian()).toFloat))))
      .toDF("vec_id", "embedding")
    val dir = "/tmp/graft_ivf_rebal_test"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val model0 = IvfIndex.build(corpus, "embedding", dir, nlist = 2)
    val before = spark.read.parquet(IvfIndex.dataDir(dir))
      .select("vec_id", "cluster_id").as[(Long, Int)].collect().toMap
    val maxBefore = before.groupBy(_._2).map(_._2.size).max
    val cap = maxBefore / 2
    val model = IvfIndex.rebalance(spark, model0, "embedding", cap)
    val after = spark.read.parquet(IvfIndex.dataDir(dir))
      .select("vec_id", "cluster_id").as[(Long, Int)].collect().toMap
    // conservation + only-hot-moved + never-into-a-dead-list
    assert(after.keySet == before.keySet)
    val hot = before.groupBy(_._2).collect {
      case (cid, m) if m.size > cap => cid
    }.toSet
    assert(hot.nonEmpty)
    before.foreach { case (id, cid) =>
      // global reassignment: a hot row lands wherever its true nearest
      // NEW-table centroid is (usually a fresh sub-list, legitimately a
      // survivor for boundary rows) — never in a removed list
      if (hot(cid)) assert(!hot.contains(after(id)),
        s"row $id left in dead list ${after(id)}")
      else assert(after(id) == cid, s"non-hot row $id moved")
    }
    // centroid table = survivors + fresh sub-centroids
    val centIds = model.centroids.map(_._1).toSet
    assert(centIds.intersect(hot).isEmpty && model.nlist > 2 - hot.size)
    assert(after.values.toSet.subsetOf(centIds))
    // full-probe search over the rebalanced layout = exact kNN
    val q = corpus.where(col("vec_id") === 5).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val got = IvfIndex.search(spark, model, "embedding", "vec_id", q,
        k = 5, nprobe = model.nlist)
      .select("vec_id").as[Long].collect().toSeq
    val exact = Knn.topK(corpus, "embedding", "vec_id",
        corpus.where(col("vec_id") === 5)
          .select(col("embedding").as("qe")), "qe", 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == exact)
    // a cap above every list size is a no-op
    val again = IvfIndex.rebalance(spark, model, "embedding",
      sizeCap = 1000L)
    assert(again.nlist == model.nlist)
  }

  test("IVF upsert: latest version wins; compaction folds the history") {
    import graft.search.Tombstones
    val r = new scala.util.Random(29)
    val truth = (0L until 48L).map(i =>
      (i, Array.fill(4)(r.nextGaussian().toFloat)))
    val corpus = truth.toDF("vec_id", "embedding")
    val dir = "/tmp/graft_ivf_upsert_test"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // base layout carries WRONG vectors for ids % 5 == 1
    val corrupted = corpus.withColumn("embedding",
      when(col("vec_id") % 5 === 1, reverse(col("embedding")))
        .otherwise(col("embedding")))
    val model = IvfIndex.build(corrupted, "embedding", dir, nlist = 4)
    IvfIndex.upsertBatch(corpus.where(col("vec_id") % 5 === 1),
      "embedding", model, "vec_id", ver = 1)
    val q = truth(7)._2
    def exactOver(c: org.apache.spark.sql.DataFrame) =
      Knn.topK(c, "embedding", "vec_id",
          Seq(Tuple1(q.toSeq)).toDF("qe"), "qe", 5)
        .select("vec_id").as[Long].collect().toSeq
    val latest = IvfIndex.search(spark, model, "embedding",
        "vec_id", q, k = 5, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(latest == exactOver(corpus),
      "latest-wins serve must equal exact kNN over the TRUE corpus")
    // a second upsert of one key supersedes the first
    val moved = corpus.where(col("vec_id") === 7)
      .withColumn("embedding", reverse(col("embedding")))
    IvfIndex.upsertBatch(moved, "embedding", model, "vec_id", ver = 2)
    val truth2 = corpus.withColumn("embedding",
      when(col("vec_id") === 7, reverse(col("embedding")))
        .otherwise(col("embedding")))
    val latest2 = IvfIndex.search(spark, model, "embedding",
        "vec_id", q, k = 5, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(latest2 == exactOver(truth2))
    // delete composes with versions: tombstoning a key hides EVERY
    // version of it
    IvfIndex.delete(Seq(Tuple1(7L)).toDF("vec_id"), model, "vec_id")
    val masked = IvfIndex.search(spark, model, "embedding",
        "vec_id", q, k = 5, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(masked == exactOver(truth2.where(col("vec_id") =!= 7)))
    Tombstones.clear(spark, dir)
    // compaction: one physical row per key, version column gone, plain
    // search serves the same ranking with no window
    IvfIndex.compactVersions(spark, model, "vec_id")
    val after = spark.read.parquet(IvfIndex.dataDir(dir))
    assert(after.count() == 48 && !after.columns.contains("__ver"))
    val plain = IvfIndex.search(spark, model, "embedding", "vec_id", q,
        k = 5, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(plain == latest2)
  }

  test("IVF upsert: partial probe never serves a superseded row") {
    // key 5 starts in blob A; its replacement vector lives in blob B
    // (a different cluster). A query near A probing ONLY A's list must
    // not resurrect the overwritten vector — the supersession overlay
    // is global, not probed-slice-local. Missing key 5 entirely is the
    // standard partial-probe recall contract (its true location wasn't
    // probed); serving its old vector would be corruption.
    val r = new scala.util.Random(31)
    val corpus = (0L until 40L).map { i =>
      val base = if (i < 20) 0.0f else 10.0f
      (i, Array.fill(4)(base + (r.nextGaussian() * 0.2).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = "/tmp/graft_ivf_upsert_probe_test"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val model = IvfIndex.build(corpus, "embedding", dir, nlist = 2)
    val moved = corpus.where(col("vec_id") === 5)
      .withColumn("embedding",
        expr("transform(embedding, x -> x + CAST(10.0 AS FLOAT))"))
    IvfIndex.upsertBatch(moved, "embedding", model, "vec_id", ver = 1)
    val q = corpus.where(col("vec_id") === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    // the stale layout DOES contain 5's old (version-0) row in the
    // probed list — pinned on the RAW data dir, since every serve path
    // (plain search included) now applies the latest-wins overlay
    val probed = IvfIndex.probeClusters(model, q, 1).head
    val staleRows = spark.read.option("mergeSchema", "true")
      .parquet(IvfIndex.dataDir(dir))
      .where(col("cluster_id") === probed && col("vec_id") === 5L &&
        col("__ver").isNull)
      .count()
    assert(staleRows == 1L, "scenario lost its stale row")
    val latest = IvfIndex.search(spark, model, "embedding",
        "vec_id", q, k = 20, nprobe = 1)
      .select("vec_id").as[Long].collect().toSeq
    assert(!latest.contains(5L),
      "superseded row served from an unprobed replacement's past")
    assert(latest.size == 19) // the 20-row list minus the superseded row
    // at full probe the replacement itself ranks (far from q, but
    // present exactly once, at its NEW vector's distance)
    val full = IvfIndex.search(spark, model, "embedding",
        "vec_id", q, k = 40, nprobe = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(full.count(_ == 5L) == 1 && full.size == 40)
  }

  test("scalar index: append equals rebuild; filteredKnn equals brute force") {
    import graft.search.ScalarIndex
    val r = new scala.util.Random(59)
    val rows = (0L until 40L).map(i =>
        (i, Array.fill(4)((r.nextGaussian() * 0.5).toFloat), (i % 5).toInt))
      .toDF("vec_id", "embedding", "label")
    val incDir = "/tmp/graft_scalar_inc_test"
    val fullDir = "/tmp/graft_scalar_full_test"
    Seq(incDir, fullDir).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
    ScalarIndex.build(rows.where(col("vec_id") < 25), "vec_id", "label",
      incDir)
    ScalarIndex.append(rows.where(col("vec_id") >= 25), "vec_id", "label",
      incDir)
    ScalarIndex.build(rows, "vec_id", "label", fullDir)
    val vals = Seq(1, 3)
    val inc = ScalarIndex.ids(spark, incDir, vals)
      .as[Long].collect().sorted.toSeq
    val full = ScalarIndex.ids(spark, fullDir, vals)
      .as[Long].collect().sorted.toSeq
    assert(inc == full && inc.nonEmpty)
    assert(inc == (0L until 40L).filter(i => vals.contains((i % 5).toInt)))
    val q = rows.where(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val got = ScalarIndex.filteredKnn(spark, incDir,
        rows.select("vec_id", "embedding"), "embedding", "vec_id", q,
        k = 5, vals)
      .as[(Long, Double)].collect().toSeq
    val brute = rows.where(col("label").isin(vals: _*))
      .withColumn("distance", round(VectorFunctions.l2Sq(col("embedding"),
        typedlit(q.toSeq)), 4))
      .orderBy(col("distance").asc, col("vec_id").asc).limit(5)
      .select("vec_id", "distance").as[(Long, Double)].collect().toSeq
    assert(got == brute)
    // idsAll (array_contains_all verb, round 16): the conjunctive id
    // set equals the per-value intersection, over an EXPLODED element
    // artifact where an id holds several values
    val elemDir = "/tmp/graft_scalar_all_test"
    val ep = new org.apache.hadoop.fs.Path(elemDir)
    ep.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(ep, true)
    ScalarIndex.build(
      rows.select(col("vec_id"),
        explode(array((col("vec_id") % 5).cast("int"),
          (col("vec_id") % 3).cast("int"))).as("el")),
      "vec_id", "el", elemDir)
    val both = ScalarIndex.idsAll(spark, elemDir, Seq(1, 2))
      .as[Long].collect().sorted.toSeq
    val expect = (0L until 40L).filter { i =>
      val tags = Set((i % 5).toInt, (i % 3).toInt)
      tags(1) && tags(2)
    }
    assert(both == expect && both.nonEmpty)
    // duplicate values in the ask collapse (contains_all({1,1}) ≡ {1})
    val dup = ScalarIndex.idsAll(spark, elemDir, Seq(1, 1))
      .as[Long].collect().sorted.toSeq
    assert(dup ==
      (0L until 40L).filter(i => (i % 5) == 1 || (i % 3) == 1))
  }

  test("IndexSync.reconcileIvf: orphans tombstoned, missing appended") {
    import graft.search.IndexSync
    val r = new scala.util.Random(53)
    val all = (0L until 40L).map(i =>
        (i, Array.fill(4)((r.nextGaussian() * 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = "/tmp/graft_ivf_reconcile_test"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // index saw only ids < 30; the collection then dropped ids 5 and 7
    val model = IvfIndex.build(all.where(col("vec_id") < 30),
      "embedding", dir, nlist = 2)
    val live = all.where(col("vec_id") =!= 5 && col("vec_id") =!= 7)
    val (orphans, missing) =
      IndexSync.reconcileIvf(spark, live, "vec_id", "embedding", model)
    assert(orphans == 2L && missing == 10L, s"($orphans, $missing)")
    // full-probe serve over the reconciled index = exactly the live set
    val q = all.where(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val served = IvfIndex.search(spark, model, "embedding", "vec_id", q,
        k = 40, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(served == (0L until 40L).toSet -- Set(5L, 7L))
    // idempotent: a second reconcile finds nothing to repair
    assert(IndexSync.reconcileIvf(spark, live, "vec_id", "embedding",
      model) == ((0L, 0L)))
  }

  test("versionChecks counts debt; compaction returns every counter to 0") {
    import graft.search.{IndexAudit, Tombstones}
    val r = new scala.util.Random(43)
    val corpus = (0L until 30L).map(i =>
        (i, Array.fill(4)((r.nextGaussian() * 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = "/tmp/graft_ivf_verchk_test"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val model = IvfIndex.build(corpus, "embedding", dir, nlist = 2)
    def counters(): Map[String, Long] =
      IndexAudit.versionChecks(spark, dir, "vec_id")
        .as[(String, Long)].collect().toMap
    // fresh index: every counter 0
    assert(counters().values.forall(_ == 0L))
    // keys 0..9 upserted at v1, keys 0..4 again at v2, keys 20..24 dead
    IvfIndex.upsertBatch(corpus.where(col("vec_id") < 10), "embedding",
      model, "vec_id", ver = 1)
    IvfIndex.upsertBatch(corpus.where(col("vec_id") < 5), "embedding",
      model, "vec_id", ver = 2)
    Tombstones.record(
      corpus.where(col("vec_id") >= 20 && col("vec_id") < 25)
        .select("vec_id"), dir, "vec_id")
    val c = counters()
    // superseded = 10 base rows of upserted keys + 5 v1 rows re-upserted
    assert(c("ver_superseded_rows") == 15L, c.toString)
    assert(c("ver_upserted_keys") == 10L)
    assert(c("ver_tombstone_keys") == 5L)
    // debt adds the 5 dead keys' (single, live) rows
    assert(c("ver_compaction_debt") == 20L)
    // fold everything: versions first, then tombstones, then clear
    IvfIndex.compactVersions(spark, model, "vec_id")
    Tombstones.compact(spark, dir, IvfIndex.dataDir(dir), Seq("vec_id"),
      partitionBy = Seq("cluster_id"))
    Tombstones.clear(spark, dir)
    assert(counters().values.forall(_ == 0L), counters().toString)
  }

  test("maintenance plan: triggers fire on debt, clear after the verbs") {
    import graft.search.{Maintenance, Tombstones}
    val r = new scala.util.Random(61)
    val corpus = (0L until 40L).map(i =>
        (i, Array.fill(4)((r.nextGaussian() * 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = "/tmp/graft_ivf_mplan_test"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val model = IvfIndex.build(corpus, "embedding", dir, nlist = 2)
    def plan(): Map[String, Boolean] =
      Maintenance.plan(spark, dir, "vec_id")
        .select("action", "triggered").as[(String, Boolean)]
        .collect().toMap
    // fresh balanced index: nothing triggers
    assert(plan().values.forall(_ == false), plan().toString)
    // 25% of keys upserted (superseded ≫ 10%), 20% tombstoned (≫ 5%)
    IvfIndex.upsertBatch(corpus.where(col("vec_id") < 10), "embedding",
      model, "vec_id", ver = 1)
    Tombstones.record(
      corpus.where(col("vec_id") >= 30).select("vec_id"), dir, "vec_id")
    val fired = plan()
    assert(fired("compact_versions") && fired("compact_tombstones"),
      fired.toString)
    // run the verbs the plan asked for: triggers clear
    IvfIndex.compactVersions(spark, model, "vec_id")
    Tombstones.compact(spark, dir, IvfIndex.dataDir(dir), Seq("vec_id"),
      partitionBy = Seq("cluster_id"))
    Tombstones.clear(spark, dir)
    assert(plan().values.forall(_ == false), plan().toString)
  }

  test("planFull: every family's trigger fires on debt and clears " +
      "after its verb") {
    import graft.search.{GraphAnn, IndexSync, Maintenance, Tombstones}
    val r = new scala.util.Random(83)
    val corpus = (0L until 60L).map(i =>
        (i, Array.fill(4)((r.nextGaussian() * 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = "/tmp/graft_ivf_planfull_test"
    val textDir = "/tmp/graft_text_planfull_test"
    Seq(dir, textDir).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val model = IvfIndex.build(corpus, "embedding", dir, nlist = 2)
    var adj = GraphAnn.buildAdjacency(corpus, "vec_id", "embedding",
      GraphAnn.Params(degree = 4, nlist = 2))
    val docs = (0L until 20L).map(i => (i, s"tok$i common words here"))
      .toDF("doc_id", "text")
    graft.search.TermIndex.build(docs, "doc_id", "text", textDir)
    var graphDead = corpus.limit(0).select("vec_id")
    var live = corpus
    var entries = Seq(3L, 7L).toDF("entry_id")
    def plan(): Map[String, Boolean] =
      Maintenance.planFull(spark, dir, "vec_id", "embedding", live,
          adj, graphDead, textDir, entries, textDir)
        .select("action", "triggered").as[(String, Boolean)]
        .collect().toMap
    val fresh = plan()
    assert(fresh.size == 9 && fresh.values.forall(_ == false),
      fresh.toString)
    // fire all six family triggers at once
    graphDead = corpus.where(col("vec_id") < 12).select("vec_id") // 20%
    // ... which tombstones BOTH staged entry points (3 and 7) — the
    // liveness hazard reelect_entries watches
    Tombstones.record(docs.where(col("doc_id") < 5).select("doc_id"),
      textDir, "doc_id")                                          // 25%
    live = corpus.where(col("vec_id") % 10 =!= 9)                 // drift
    // a violated radius (out-of-band corruption): shrink every radius
    IvfIndex.writeRadii(spark, dir, IvfIndex.loadRadii(spark, dir)
      .map { case (c, rad) => (c, rad / 4) })
    // segment debt: two violating-free appends push past the cap of 2
    graft.search.TermIndex.append(
      (20L until 25L).map(i => (i, s"tok$i more words")).toDF("doc_id",
        "text"), "doc_id", "text", textDir)
    graft.search.TermIndex.append(
      (25L until 30L).map(i => (i, s"tok$i more words")).toDF("doc_id",
        "text"), "doc_id", "text", textDir)
    val fired = plan()
    assert(fired("consolidate_graph") && fired("compact_text_tombstones")
        && fired("reconcile") && fired("refresh_radii")
        && fired("reelect_entries") && fired("compact_term_segments"),
      fired.toString)
    // the verbs, one per trigger — each clears exactly its row
    val (adj2, entries2) = GraphAnn.consolidateDeletesWithEntries(adj,
      corpus, "vec_id", "embedding", graphDead, entries, degree = 4)
    adj = adj2
    entries = entries2
    graft.search.TermIndex.compactTombstones(spark, textDir)
    IvfIndex.refreshRadii(spark, model, "embedding")
    IndexSync.reconcileIvf(spark, live, "vec_id", "embedding", model)
    graft.search.TermIndex.compactSegments(spark, textDir)
    val cleared = plan()
    assert(!cleared("consolidate_graph")
        && !cleared("compact_text_tombstones")
        && !cleared("reconcile") && !cleared("refresh_radii")
        && !cleared("reelect_entries")
        && !cleared("compact_term_segments"),
      cleared.toString)
  }

  test("graph entry liveness: deleting the medoid strands a naive " +
      "walk; consolidateDeletesWithEntries re-elects and serving holds") {
    import graft.search.{GraphAnn, IndexAudit}
    val r = new scala.util.Random(84)
    val corpus = (0L until 40L).map(i =>
        (i, Array.fill(4)((r.nextGaussian() * 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val adj = GraphAnn.buildAdjacency(corpus, "vec_id", "embedding",
      GraphAnn.Params(degree = 4, nlist = 2))
    val entry0 = GraphAnn.medoid(corpus, "vec_id", "embedding")
    val medoidId = entry0.collect()(0).getLong(0)
    val deletes = corpus
      .where(col("vec_id") === medoidId || col("vec_id") % 13 === 2)
      .select("vec_id")
    val (adj2, entries2) = GraphAnn.consolidateDeletesWithEntries(adj,
      corpus, "vec_id", "embedding", deletes, entry0, degree = 4)
    // the hazard, demonstrated: a walk still seeded at the dead medoid
    // visits one edgeless node and strands
    val q = corpus.where(col("vec_id") === 1).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val stranded = GraphAnn.beamSearch(adj2, corpus, "vec_id",
        "embedding", q, medoidId, k = 5, beamWidth = 4, rounds = 3,
        degree = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(stranded == Seq(medoidId),
      s"un-reelected walk should strand at the dead medoid: $stranded")
    // the audit sees it (old entries) and confirms the verb fixed it
    val deadSet = deletes
    assert(IndexAudit.entryChecks(entry0, adj2, deadSet)
      .collect()(0).getLong(1) == 1L)
    assert(IndexAudit.entryChecks(entries2, adj2, deadSet)
      .collect()(0).getLong(1) == 0L)
    // re-elected entry = the survivor nearest the dead medoid
    val medoidVec = corpus.where(col("vec_id") === medoidId)
      .select("embedding").collect()(0).getSeq[Float](0)
    val expected = corpus
      .join(deletes.withColumnRenamed("vec_id", "__d"),
        col("vec_id") === col("__d"), "left_anti")
      .select(col("vec_id"),
        round(graft.functions.VectorFunctions.l2Sq(col("embedding"),
          typedlit(medoidVec)), 4).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(1).collect()(0).getLong(0)
    val newEntryIds = entries2.select("entry_id").as[Long]
      .collect().toSeq
    assert(newEntryIds == Seq(expected),
      s"re-election must pick the nearest survivor: " +
        s"$newEntryIds vs $expected")
    // serve WITHOUT manual re-election: seeded from the verb's output,
    // the walk runs over survivors and returns a full result set
    val served = GraphAnn.beamSearchMulti(adj2, corpus, "vec_id",
        "embedding", q, entries2, k = 5, beamWidth = 4, rounds = 3,
        degree = 4, nSeeds = 1)
      .select("vec_id").as[Long].collect().toSeq
    val deadIds = deletes.as[Long].collect().toSet
    assert(served.size == 5 && served.forall(!deadIds.contains(_)),
      s"post-reelection serve must return 5 live rows: $served")
  }

  test("segment audit: a contract-violating duplicate-id append fires " +
      "term_segment_straddlers; compactSegments clears the straddling") {
    import graft.search.{IndexAudit, TermIndex}
    val dir = "/tmp/graft_straddle_test"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"),
      (3L, "gamma delta")).toDF("doc_id", "text")
    TermIndex.build(docs, "doc_id", "text", dir)
    def counters(): Map[String, Long] =
      IndexAudit.segmentChecks(spark, dir)
        .as[(String, Long)].collect().toMap
    val c0 = counters()
    assert(c0("term_segment_straddlers") == 0 && c0("term_segments") == 1,
      c0.toString)
    // the violating append: doc 1 re-enters in a NEW segment — its tf
    // now double-counts across segments at serve time
    TermIndex.append(docs.where(col("doc_id") === 1), "doc_id",
      "text", dir)
    val c1 = counters()
    assert(c1("term_segment_straddlers") == 1 && c1("term_segments") == 2,
      c1.toString)
    // compaction merges segments — the STRADDLING clears (one segment
    // left) even though the duplicated rows persist; the audit's job is
    // to catch the violation before this fold hides it
    TermIndex.compactSegments(spark, dir)
    val c2 = counters()
    assert(c2("term_segment_straddlers") == 0 && c2("term_segments") == 1,
      c2.toString)
  }

  test("router: every input flips the serving-tier decision") {
    import graft.search.Router
    import graft.search.Router.Tier
    val panel = Seq(
      ("flat", 1.0, 1000L),
      ("graph", 0.92, 385L),
      ("ivf", 0.95, 125L)).toDF("tier", "recall", "cost")
    val all = Seq(Tier("flat", present = true, filterCapable = true),
      Tier("graph", present = true, filterCapable = true),
      Tier("ivf", present = true, filterCapable = true))
    def chosenOf(tiers: Seq[Tier] = all, sel: Double = 1.0,
                 target: Double = 0.9,
                 p: org.apache.spark.sql.DataFrame = panel): String =
      Router.plan(spark, p, tiers, sel, target)
        .where(col("chosen")).select("tier").as[String].collect()(0)
    // base: cheapest tier meeting the target
    assert(chosenOf() == "ivf")
    // recall target up -> only flat meets
    assert(chosenOf(target = 0.96) == "flat")
    // chosen tier's artifact absent -> next cheapest meeting tier
    assert(chosenOf(tiers = all.map(t =>
      if (t.name == "ivf") t.copy(present = false) else t)) == "graph")
    // filtered query + tier without an indexed-filter path -> skipped
    assert(chosenOf(tiers = all.map(t =>
      if (t.name == "ivf") t.copy(filterCapable = false) else t),
      sel = 0.5) == "graph")
    // selectivity below the exact floor -> flat only (exact over the
    // few survivors beats any index)
    assert(chosenOf(sel = 0.01) == "flat")
    // cost flip at equal target satisfaction
    val costFlip = Seq(("flat", 1.0, 1000L), ("graph", 0.92, 385L),
      ("ivf", 0.95, 500L)).toDF("tier", "recall", "cost")
    assert(chosenOf(p = costFlip) == "graph")
    // nothing meets the target -> highest-recall eligible fallback,
    // reported with meets_target = false
    val noFlat = all.map(t =>
      if (t.name == "flat") t.copy(present = false) else t)
    val fb = Router.plan(spark, panel, noFlat, 1.0, 0.99)
      .where(col("chosen"))
      .select("tier", "meets_target").as[(String, Boolean)].collect()(0)
    assert(fb == ("ivf", false), fb.toString)
    // memory budget (v2): a budget below a tier's residency makes it
    // ineligible however cheap it is — the cheapest FITTING tier wins
    val memPanel = Seq(
      ("flat", 1.0, 1000L, 4000L),
      ("graph", 0.92, 385L, 5000L),
      ("ivf", 0.95, 125L, 4100L),
      ("sq8", 0.93, 1000L, 1000L))
      .toDF("tier", "recall", "cost", "mem_bytes")
    val memTiers = all :+ Tier("sq8", present = true,
      filterCapable = false)
    def chosenAt(budget: Long): String =
      Router.plan(spark, memPanel, memTiers, 1.0, 0.9,
          memoryBudget = Some(budget))
        .where(col("chosen")).select("tier").as[String].collect()(0)
    assert(chosenAt(10000L) == "ivf")   // everything fits: cheapest
    assert(chosenAt(2000L) == "sq8")    // only the quantized tier fits
    // a legacy panel without mem_bytes is treated as always-fitting
    assert(Router.plan(spark, panel, all, 1.0, 0.9,
        memoryBudget = Some(1L))
      .where(col("chosen")).select("tier").as[String].collect()(0)
      == "ivf")
    // query modality (round 12): a text query routes to the lexical
    // tier however cheap the vector tiers are, and vice versa
    val modPanel = Seq(
      ("flat", 1.0, 1000L), ("ivf", 0.95, 125L),
      ("bm25", 1.0, 700L)).toDF("tier", "recall", "cost")
    val modTiers = Seq(
      Tier("flat", present = true, filterCapable = true),
      Tier("ivf", present = true, filterCapable = true),
      Tier("bm25", present = true, filterCapable = true,
        modality = "text"))
    def chosenMod(m: String): String =
      Router.plan(spark, modPanel, modTiers, 1.0, 0.9,
          queryModality = m)
        .where(col("chosen")).select("tier").as[String].collect()(0)
    assert(chosenMod("vector") == "ivf")
    assert(chosenMod("text") == "bm25")
  }

  test("router panel freshness: maintenance flips the fingerprint, " +
      "forcing a re-measure") {
    import graft.search.{AliasedIndex, IvfIndex, Router}
    val root = "/tmp/graft_fp_test"
    val flat = "/tmp/graft_fp_flat_test"
    Seq(root, flat).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
    val corpus = (0L until 20L).map(i =>
        (i, Array.fill(4)((i * 0.3).toFloat))).toDF("vec_id", "embedding")
    AliasedIndex.init(spark, root) { d =>
      IvfIndex.build(corpus, "embedding", d, nlist = 2); ()
    }
    IvfIndex.build(corpus, "embedding", flat, nlist = 2)
    val fp1 = Router.artifactFingerprint(spark, Seq(root, flat))
    assert(fp1 == Router.artifactFingerprint(spark, Seq(root, flat)),
      "fingerprint must be stable with no maintenance")
    // an alias ADVANCE (any maintenance verb under the default
    // discipline) bumps the published version -> new key -> the
    // buildOnce'd panel path changes and the panel re-measures
    AliasedIndex.advance(spark, root) { (cur, next) =>
      graft.core.Artifacts.copyLocalDir(cur, next)
    }
    val fp2 = Router.artifactFingerprint(spark, Seq(root, flat))
    assert(fp2 != fp1, s"version bump must flip the key: $fp1 -> $fp2")
    // flat-dir maintenance (rebuild in place) flips it via mtime
    Thread.sleep(1100) // mtime granularity
    IvfIndex.build(corpus, "embedding", flat, nlist = 2)
    val fp3 = Router.artifactFingerprint(spark, Seq(root, flat))
    assert(fp3 != fp2, s"flat rebuild must flip the key: $fp2 -> $fp3")
  }

  test("fingerprint cost bound: a warm flat root does ZERO recursive " +
      "listings; expiry and cache clear re-stat") {
    import graft.search.Router
    val flat = "/tmp/graft_fp_memo_test"
    val p = new org.apache.hadoop.fs.Path(flat)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    (0L until 5L).map(Tuple1(_)).toDF("id").write.parquet(flat)
    Router.clearFingerprintCache()
    val fp1 = Router.artifactFingerprint(spark, Seq(flat),
      flatTtlMillis = 60000L)
    val after1 = Router.flatListings.get()
    // warm path: same fingerprint, NO new listing — the routed path's
    // per-query fixed cost is O(1) on a warm cache
    val fp2 = Router.artifactFingerprint(spark, Seq(flat),
      flatTtlMillis = 60000L)
    assert(fp2 == fp1)
    assert(Router.flatListings.get() == after1,
      "a warm flat root must not be re-listed")
    // cache clear (or TTL expiry) re-stats
    Router.clearFingerprintCache()
    Router.artifactFingerprint(spark, Seq(flat), flatTtlMillis = 60000L)
    assert(Router.flatListings.get() == after1 + 1)
  }

  test("aliased index: readers see exactly one complete version " +
      "mid-maintenance, flip is atomic, retention GC holds one back") {
    import graft.search.{AliasedIndex, IvfIndex}
    val r = new scala.util.Random(89)
    val corpus = (0L until 40L).map(i =>
        (i, Array.fill(4)((r.nextGaussian() * 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val root = "/tmp/graft_alias_test"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    AliasedIndex.init(spark, root) { d =>
      IvfIndex.build(corpus, "embedding", d, nlist = 2); ()
    }
    assert(AliasedIndex.currentVersion(spark, root) == 1)
    val q = corpus.where(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    def serve(): Seq[(Long, Double)] = {
      val m = IvfIndex.load(spark, AliasedIndex.currentDir(spark, root))
      IvfIndex.search(spark, m, "embedding", "vec_id", q, k = 3,
          nprobe = m.nlist)
        .select("vec_id", "distance").as[(Long, Double)].collect().toSeq
    }
    val before = serve()
    // advance with a mutation that DELETES half the rows in the next
    // version; mid-mutation (the half-built-new-version window every
    // rename-based fold exposes) a reader must still resolve v1 and get
    // the OLD complete answer
    var midAnswer: Seq[(Long, Double)] = Nil
    var midVersion = -1
    AliasedIndex.advance(spark, root) { (cur, next) =>
      graft.core.Artifacts.copyLocalDir(cur, next)
      // next exists but is unpublished: readers are blind to it
      midVersion = AliasedIndex.currentVersion(spark, root)
      midAnswer = serve()
      val m2 = IvfIndex.load(spark, next)
      IvfIndex.delete(corpus.where(col("vec_id") < 20).select("vec_id"),
        m2, "vec_id")
      IvfIndex.compactTombstones(spark, m2, "vec_id")
    }
    assert(midVersion == 1 && midAnswer == before,
      s"mid-maintenance reader must see v1: $midVersion $midAnswer")
    assert(AliasedIndex.currentVersion(spark, root) == 2)
    val after = serve()
    assert(after.nonEmpty && after.forall(_._1 >= 20L),
      s"v2 must serve the folded layout: $after")
    // retention: v1 still on disk for in-flight readers of the old alias
    assert(AliasedIndex.publishedVersions(spark, root) == Seq(1, 2))
    // one more advance — REBALANCE under the alias, the exact verb
    // whose append/swap/drop window motivated alias serving: the hot
    // list splits in the next version while v2 keeps serving, and v1
    // is garbage-collected by retention
    AliasedIndex.advance(spark, root) { (cur, next) =>
      graft.core.Artifacts.copyLocalDir(cur, next)
      val m3 = IvfIndex.load(spark, next)
      val maxList = spark.read.option("mergeSchema", "true")
        .parquet(IvfIndex.dataDir(next))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .agg(max(col("sz"))).collect()(0).getLong(0)
      IvfIndex.rebalance(spark, m3, "embedding",
        sizeCap = math.max(1L, maxList / 2))
      ()
    }
    assert(AliasedIndex.publishedVersions(spark, root) == Seq(2, 3))
    val rebalanced = serve()
    assert(rebalanced == after,
      s"rebalance under the alias must not change full-probe answers: " +
        s"$rebalanced vs $after")
  }

  test("alias-flip is the DEFAULT: root-addressed verbs publish, " +
      "loaders resolve, mid-verb readers see one complete version on " +
      "every family (IVF / term / BM25 / phrase)") {
    import graft.search.{AliasedIndex, Bm25Index, Phrase, TermIndex,
      Tombstones}
    def del(d: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
    val docs = Seq(
      (1L, "alpha scan beta scan"), (2L, "scan merge gamma"),
      (3L, "delta filter scan"), (4L, "epsilon scab merge"),
      (5L, "zeta scan filter")).toDF("doc_id", "text")

    // --- IVF: compactTombstonesRoot folds in v2; load(root) resolves ---
    val r = new scala.util.Random(90)
    val corpus = (0L until 30L).map(i =>
        (i, Array.fill(4)((r.nextGaussian() * 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val iroot = "/tmp/graft_aliasdef_ivf"
    del(iroot)
    AliasedIndex.init(spark, iroot) { d =>
      IvfIndex.build(corpus, "embedding", d, nlist = 2); ()
    }
    val q = corpus.where(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    def iServe(): Seq[(Long, Double)] = {
      val m = IvfIndex.load(spark, iroot) // the ROOT — loader resolves
      IvfIndex.search(spark, m, "embedding", "vec_id", q, 3, m.nlist)
        .select("vec_id", "distance").as[(Long, Double)].collect().toSeq
    }
    IvfIndex.delete(corpus.where(col("vec_id") % 3 === 1)
        .select("vec_id"),
      IvfIndex.load(spark, iroot), "vec_id")
    val iBefore = iServe() // masked
    var iMid = false
    AliasedIndex.maintain(spark, iroot) { d =>
      // mid-verb: the root still resolves v1 and serves the complete
      // masked answer while the fold rewrites the v2 copy
      iMid = AliasedIndex.resolveDir(spark, iroot).endsWith("/v1") &&
        iServe() == iBefore
      IvfIndex.compactTombstones(spark, IvfIndex.load(spark, d),
        "vec_id")
    }
    assert(iMid, "IVF mid-verb reader must see complete v1")
    assert(AliasedIndex.currentVersion(spark, iroot) == 2)
    assert(iServe() == iBefore, "folded serve must equal masked serve")
    assert(!Tombstones.exist(spark,
      AliasedIndex.resolveDir(spark, iroot)))
    // and the self-routing root verb on an aliased root bumps again
    IvfIndex.delete(corpus.where(col("vec_id") === 2).select("vec_id"),
      IvfIndex.load(spark, iroot), "vec_id")
    IvfIndex.compactTombstonesRoot(spark, iroot, "vec_id")
    assert(AliasedIndex.currentVersion(spark, iroot) == 3)
    assert(iServe().forall(_._1 != 2L))

    // --- term: append lands in-place; compactSegments
    // self-routes; prefixSearch(root) resolves ---
    val troot = "/tmp/graft_aliasdef_term"
    del(troot)
    AliasedIndex.init(spark, troot) { d =>
      TermIndex.build(docs.where(col("doc_id") <= 3), "doc_id",
        "text", d)
    }
    TermIndex.append(docs.where(col("doc_id") > 3), "doc_id",
      "text", troot)
    assert(TermIndex.segments(spark,
      AliasedIndex.resolveDir(spark, troot)) == Seq(0, 1),
      "append must land as a segment of the CURRENT version")
    val tBefore = TermIndex.prefixSearch(spark, troot, "sc", 10)
      .as[(Long, Long)].collect().toSeq
    var tMid = false
    AliasedIndex.maintain(spark, troot) { d =>
      tMid = AliasedIndex.resolveDir(spark, troot).endsWith("/v1") &&
        TermIndex.prefixSearch(spark, troot, "sc", 10)
          .as[(Long, Long)].collect().toSeq == tBefore
      TermIndex.compactSegments(spark, d) // d is flat: in-place branch
    }
    assert(tMid, "term mid-verb reader must see complete v1")
    assert(AliasedIndex.currentVersion(spark, troot) == 2)
    assert(TermIndex.segments(spark,
      AliasedIndex.resolveDir(spark, troot)) == Seq(0))
    assert(TermIndex.prefixSearch(spark, troot, "sc", 10)
      .as[(Long, Long)].collect().toSeq == tBefore)
    // self-routing form directly on the aliased root
    TermIndex.append(docs.where(col("doc_id") === 1), "doc_id",
      "text", troot) // contract violation is fine for the layout test
    TermIndex.compactSegments(spark, troot)
    assert(AliasedIndex.currentVersion(spark, troot) == 3)

    // --- BM25: compactTombstones(root) folds terms + doclen in v2 ---
    val broot = "/tmp/graft_aliasdef_bm25"
    del(broot)
    AliasedIndex.init(spark, broot) { d =>
      TermIndex.build(docs, "doc_id", "text", d)
    }
    // record against the ROOT — writer-side resolution is the default
    // discipline since round 12 (no caller-side currentDir)
    Tombstones.record(docs.where(col("doc_id") === 2)
        .select(col("doc_id").as("id")), broot, "id")
    val bBefore = Bm25Index.search(spark, broot, Seq("scan"), 10)
      .as[(Long, Double)].collect().toSeq
    assert(bBefore.nonEmpty && bBefore.forall(_._1 != 2L))
    var bMid = false
    AliasedIndex.maintain(spark, broot) { d =>
      bMid = AliasedIndex.resolveDir(spark, broot).endsWith("/v1") &&
        Bm25Index.search(spark, broot, Seq("scan"), 10)
          .as[(Long, Double)].collect().toSeq == bBefore
      TermIndex.compactTombstones(spark, d) // flat: in-place branch
    }
    assert(bMid, "BM25 mid-verb reader must see complete v1")
    assert(AliasedIndex.currentVersion(spark, broot) == 2)
    val bcur = AliasedIndex.resolveDir(spark, broot)
    assert(!Tombstones.exist(spark, bcur))
    assert(spark.read.parquet(TermIndex.doclenDir(bcur))
      .where(col("id") === 2).count() == 0,
      "doclen must fold WITH postings in the same published version")
    // post-fold SCORES legitimately change (statistics leave the
    // stale-mask regime — the bm25_masked_search contract); the served
    // DOCUMENT set must not
    assert(Bm25Index.search(spark, broot, Seq("scan"), 10)
      .as[(Long, Double)].collect().toSeq.map(_._1).sorted ==
      bBefore.map(_._1).sorted)

    // --- phrase: compactTombstones(root) folds the term rows in v2 ---
    val proot = "/tmp/graft_aliasdef_phrase"
    del(proot)
    AliasedIndex.init(spark, proot) { d =>
      TermIndex.build(docs, "doc_id", "text", d)
    }
    Tombstones.record(docs.where(col("doc_id") === 1)
        .select(col("doc_id").as("id")), proot, "id")
    val pBefore = Phrase.topK(spark, proot, Seq("scan"), 10)
      .as[(Long, Long)].collect().toSeq
    assert(pBefore.nonEmpty && pBefore.forall(_._1 != 1L))
    var pMid = false
    AliasedIndex.maintain(spark, proot) { d =>
      pMid = AliasedIndex.resolveDir(spark, proot).endsWith("/v1") &&
        Phrase.topK(spark, proot, Seq("scan"), 10)
          .as[(Long, Long)].collect().toSeq == pBefore
      TermIndex.compactTombstones(spark, d) // flat: in-place branch
    }
    assert(pMid, "phrase mid-verb reader must see complete v1")
    assert(AliasedIndex.currentVersion(spark, proot) == 2)
    assert(Phrase.topK(spark, proot, Seq("scan"), 10)
      .as[(Long, Long)].collect().toSeq == pBefore)

    // --- fielded BM25: appendFielded against the ROOT lands in the
    // served version (the round-12 ADVICE gap: an unresolved fielded
    // append wrote root/postings, which the resolved serve never read) ---
    val fdocs = Seq((1L, "scan title", "alpha body"),
      (2L, "merge title", "scan scan body")).toDF("doc_id", "title", "body")
    val froot = "/tmp/graft_aliasdef_bm25f"
    del(froot)
    AliasedIndex.init(spark, froot) { d =>
      Bm25Index.buildFielded(fdocs, "doc_id", Seq("title", "body"), d)
    }
    Bm25Index.appendFielded(
      Seq((3L, "scan appended", "gamma")).toDF("doc_id", "title", "body"),
      "doc_id", Seq("title", "body"), froot)
    val fIds = Bm25Index.searchFielded(spark, froot, Seq("scan"), 10,
        Seq("title" -> 2.0, "body" -> 1.0))
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(fIds.contains(3L),
      "fielded append against the aliased root must be served")
  }

  test("aliased index default: GRAPH family root verb — consolidation " +
      "publishes atomically and the flipped version serves the " +
      "deletes-free adjacency from re-elected entries") {
    import graft.search.{AliasedIndex, GraphAnn}
    val r = new scala.util.Random(93)
    val corpus = (0L until 40L).map(i =>
        (i, Array.fill(4)((r.nextGaussian() * 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val root = "/tmp/graft_aliasdef_graph"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    AliasedIndex.init(spark, root) { d =>
      GraphAnn.buildAdjacency(corpus, "vec_id", "embedding")
        .write.mode("overwrite").parquet(GraphAnn.adjacencyDir(d))
      GraphAnn.entryPoints(corpus, "vec_id", "embedding", nEntries = 4)
        .write.mode("overwrite").parquet(GraphAnn.entriesDir(d))
    }
    val q = corpus.where(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    def serve(): Seq[(Long, Double)] = {
      val d = AliasedIndex.resolveDir(spark, root)
      GraphAnn.beamSearchMulti(
          spark.read.parquet(GraphAnn.adjacencyDir(d)), corpus,
          "vec_id", "embedding", q,
          spark.read.parquet(GraphAnn.entriesDir(d)),
          k = 3, beamWidth = 4, rounds = 3, degree = 8, nSeeds = 2)
        .select("vec_id", "distance").as[(Long, Double)].collect().toSeq
    }
    val before = serve()
    val deletes = corpus.where(col("vec_id") % 5 === 1).select("vec_id")
    GraphAnn.consolidateDeletesRoot(spark, root, corpus, "vec_id",
      "embedding", deletes)
    assert(AliasedIndex.currentVersion(spark, root) == 2,
      "root verb must publish v2")
    val d2 = AliasedIndex.resolveDir(spark, root)
    // consolidated layout carries no deleted node on either side, and
    // every surviving entry sources edges (the reelect contract)
    val adj2 = spark.read.parquet(GraphAnn.adjacencyDir(d2))
    val deadSet = deletes.as[Long].collect().toSet
    assert(adj2.where(col("src").isin(deadSet.toSeq: _*) ||
      col("dst").isin(deadSet.toSeq: _*)).count() == 0)
    val ents2 = spark.read.parquet(GraphAnn.entriesDir(d2))
      .select("entry_id").as[Long].collect().toSeq
    val srcs = adj2.select("src").distinct().as[Long].collect().toSet
    assert(ents2.nonEmpty && ents2.forall(srcs.contains),
      "every re-elected entry must source post-fold edges")
    // the served answer excludes deleted ids (vec 0 not deleted, so
    // the walk still anchors); the OLD answer is still a valid thing
    // to have seen pre-flip
    assert(serve().forall { case (id, _) => !deadSet.contains(id) })
    assert(before.nonEmpty)
  }

  test("aliased index: a CONCURRENT reader loop during a slow maintain " +
      "sees only complete versions, on every family (round 12 — the " +
      "strongest form of the sealed-segment discipline)") {
    import graft.search.{AliasedIndex, Bm25Index, IvfIndex, Phrase,
      TermIndex}
    def del(d: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
    /** Run `maintain(root)(verb)` with a reader thread serving in a
      * loop the whole time; the verb additionally HOLDS the
      * pre-publish window open until ≥2 reads complete strictly inside
      * it. Every read must equal the old or the new complete answer —
      * never a partial layout — and the in-window reads must equal the
      * OLD one. */
    def race[A](root: String, serve: () => A, before: A,
                verb: String => Unit): Unit = {
      val done = new java.util.concurrent.atomic.AtomicInteger(0)
      @volatile var stop = false
      val results =
        new java.util.concurrent.ConcurrentLinkedQueue[(Int, A)]()
      val reader = new Thread(() => {
        while (!stop) {
          val r = serve()
          results.add((done.incrementAndGet(), r))
        }
      })
      reader.start()
      var inWindowFrom = -1
      try {
        AliasedIndex.maintain(spark, root) { d =>
          verb(d)
          // the verb's work is DONE but unpublished: hold the window
          // until two more full reads complete inside it
          inWindowFrom = done.get() + 1
          val target = inWindowFrom + 1
          val deadline = System.currentTimeMillis() + 120000
          while (done.get() < target
              && System.currentTimeMillis() < deadline)
            Thread.sleep(25)
          assert(done.get() >= target,
            s"$root: no reads completed inside the maintain window")
        }
      } finally { stop = true; reader.join(120000) }
      val after = serve()
      import scala.jdk.CollectionConverters._
      results.asScala.foreach { case (i, r) =>
        assert(r == before || r == after,
          s"$root: read #$i saw a partial layout: $r")
        // reads that started AND finished inside the held window must
        // see the OLD published version (the new one is unpublished)
        if (i == inWindowFrom + 1)
          assert(r == before,
            s"$root: in-window read #$i saw the unpublished version")
      }
    }

    val docs = Seq(
      (1L, "alpha scan beta scan"), (2L, "scan merge gamma"),
      (3L, "delta filter scan"), (4L, "epsilon scab merge"),
      (5L, "zeta scan filter")).toDF("doc_id", "text")
    val r = new scala.util.Random(91)
    val corpus = (0L until 30L).map(i =>
        (i, Array.fill(4)((r.nextGaussian() * 0.5).toFloat)))
      .toDF("vec_id", "embedding")

    // IVF
    val iroot = "/tmp/graft_race_ivf"; del(iroot)
    AliasedIndex.init(spark, iroot) { d =>
      IvfIndex.build(corpus, "embedding", d, nlist = 2); ()
    }
    val q = corpus.where(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    IvfIndex.delete(corpus.where(col("vec_id") % 3 === 1)
      .select("vec_id"), IvfIndex.load(spark, iroot), "vec_id")
    def iServe(): Seq[(Long, Double)] = {
      val m = IvfIndex.load(spark, iroot)
      IvfIndex.search(spark, m, "embedding", "vec_id", q, 3, m.nlist)
        .select("vec_id", "distance").as[(Long, Double)].collect().toSeq
    }
    race[Seq[(Long, Double)]](iroot, () => iServe(), iServe(),
      d => IvfIndex.compactTombstones(spark, IvfIndex.load(spark, d),
        "vec_id"))

    // term
    val troot = "/tmp/graft_race_term"; del(troot)
    AliasedIndex.init(spark, troot) { d =>
      TermIndex.build(docs.where(col("doc_id") <= 3), "doc_id",
        "text", d)
    }
    TermIndex.append(docs.where(col("doc_id") > 3), "doc_id",
      "text", troot)
    def tServe(): Seq[(Long, Long)] =
      TermIndex.prefixSearch(spark, troot, "sc", 10)
        .as[(Long, Long)].collect().toSeq
    race[Seq[(Long, Long)]](troot, () => tServe(), tServe(),
      d => TermIndex.compactSegments(spark, d))

    // BM25 (set: post-fold scores legitimately change, the doc set
    // must not — compare servable id sets)
    val broot = "/tmp/graft_race_bm25"; del(broot)
    AliasedIndex.init(spark, broot) { d =>
      TermIndex.build(docs, "doc_id", "text", d)
    }
    graft.search.Tombstones.record(
      docs.where(col("doc_id") === 2).select(col("doc_id").as("id")),
      broot, "id")
    def bServe(): Set[Long] =
      Bm25Index.search(spark, broot, Seq("scan"), 10)
        .as[(Long, Double)].collect().map(_._1).toSet
    race[Set[Long]](broot, () => bServe(), bServe(),
      d => TermIndex.compactTombstones(spark, d))

    // phrase
    val proot = "/tmp/graft_race_phrase"; del(proot)
    AliasedIndex.init(spark, proot) { d =>
      TermIndex.build(docs, "doc_id", "text", d)
    }
    graft.search.Tombstones.record(
      docs.where(col("doc_id") === 1).select(col("doc_id").as("id")),
      proot, "id")
    def pServe(): Seq[(Long, Long)] =
      Phrase.topK(spark, proot, Seq("scan"), 10)
        .as[(Long, Long)].collect().toSeq
    race[Seq[(Long, Long)]](proot, () => pServe(), pServe(),
      d => TermIndex.compactTombstones(spark, d))
  }

  test("IVF rebalance preserves version history (searchLatest composes)") {
    // upsert first, rebalance second: the hot-row reassignment reads
    // the pinned schema, so the __ver column survives the rewrite and
    // latest-wins serving still suppresses the superseded row afterwards
    val r = new scala.util.Random(41)
    val corpus = ((0 until 40).map(i =>
        (i.toLong, Array.fill(4)((r.nextGaussian() * 0.1).toFloat))) ++
      (40 until 48).map(i =>
        (i.toLong, Array.fill(4)((10.0 + r.nextGaussian()).toFloat))))
      .toDF("vec_id", "embedding")
    val dir = "/tmp/graft_ivf_rebal_ver_test"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val model0 = IvfIndex.build(corpus, "embedding", dir, nlist = 2)
    // key 5's replacement vector moves it into the far blob
    val moved = corpus.where(col("vec_id") === 5)
      .withColumn("embedding",
        expr("transform(embedding, x -> x + CAST(10.0 AS FLOAT))"))
    IvfIndex.upsertBatch(moved, "embedding", model0, "vec_id", ver = 1)
    val maxBefore = spark.read.option("mergeSchema", "true")
      .parquet(IvfIndex.dataDir(dir))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .agg(max(col("sz"))).collect()(0).getLong(0)
    val model = IvfIndex.rebalance(spark, model0, "embedding",
      sizeCap = maxBefore / 2)
    // the versioned rows survived the rewrite with their versions
    val scan = spark.read.option("mergeSchema", "true")
      .parquet(IvfIndex.dataDir(dir))
    assert(scan.columns.contains("__ver"), "rebalance flattened __ver")
    // full-probe latest-wins serving over the REBALANCED layout: key 5
    // exactly once, every key live, = exact kNN over the live corpus
    val q = corpus.where(col("vec_id") === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val served = IvfIndex.search(spark, model, "embedding",
        "vec_id", q, k = 48, nprobe = model.nlist)
      .select("vec_id").as[Long].collect().toSeq
    assert(served.count(_ == 5L) == 1 && served.size == 48,
      s"rebalanced versioned serve: ${served.size} rows, " +
        s"${served.count(_ == 5L)}×key5")
  }

  test("IVF bulk serving applies the upsert overlay") {
    // same two-blob shape: key 5 moves from blob A to blob B. A bulk
    // panel with one query per blob at FULL probe must serve key 5
    // exactly once — at its NEW vector's distance, never the old one.
    val r = new scala.util.Random(37)
    val corpus = (0L until 40L).map { i =>
      val base = if (i < 20) 0.0f else 10.0f
      (i, Array.fill(4)(base + (r.nextGaussian() * 0.2).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = "/tmp/graft_ivf_bulk_upsert_test"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val model = IvfIndex.build(corpus, "embedding", dir, nlist = 2)
    val moved = corpus.where(col("vec_id") === 5)
      .withColumn("embedding",
        expr("transform(embedding, x -> x + CAST(10.0 AS FLOAT))"))
    IvfIndex.upsertBatch(moved, "embedding", model, "vec_id", ver = 1)
    val qs = Seq(3L, 25L).map { qid =>
      (qid, corpus.where(col("vec_id") === qid).select("embedding")
        .collect()(0).getSeq[Float](0).toArray)
    }
    val served = IvfIndex.bulkSearch(spark, model, "embedding",
        "vec_id", qs, k = 40, nprobe = 2)
      .select("qid", "vec_id").as[(Long, Long)].collect()
    // per query: all 40 live keys exactly once (no stale duplicate)
    qs.foreach { case (qid, _) =>
      val ids = served.collect { case (q, id) if q == qid => id }
      assert(ids.length == 40 && ids.toSet.size == 40,
        s"qid=$qid served ${ids.length} rows (stale duplicate?)")
    }
    // key 5 ranks with blob B now: for the blob-B query it must beat
    // every blob-A row (its new vector is IN blob B)
    val q25 = IvfIndex.bulkSearch(spark, model, "embedding", "vec_id",
        qs.filter(_._1 == 25L), k = 25, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(q25.contains(5L), "replacement vector not served to blob B")
  }

  test("typed similaritySearch returns SearchHit rows with reference semantics") {
    import graft.core.{Knowledge, TypedSearch}
    val coll = Seq(
      Knowledge(0L, "c0", "exact match", Seq(0f, 0f)),
      Knowledge(1L, "c1", "near", Seq(0.5f, 0f)),
      Knowledge(2L, "c2", "far", Seq(3f, 4f))).toDS()
    val hits = TypedSearch.similaritySearch(coll, Seq(0f, 0f), k = 3,
      scoreThreshold = 0.3).collect()
    // threshold 0.3 → distance <= 0.7: ids 0 (d=0, score 1) and 1 (d=0.25)
    assert(hits.map(_.id).toSeq == Seq(0L, 1L))
    assert(hits.head.score == 1.0 && hits.head.chapter == "c0")
  }

  test("LSH ANN recalls most of the exact top-k") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val (model, indexed) = graft.search.AnnLsh.fit(e, "embedding")
    val query = e.where(col("vec_id") === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val approx = graft.search.AnnLsh
      .neighbors(model, indexed, query, k = 10, idCol = "vec_id")
      .select("vec_id").as[Long].collect().toSet
    val exact = Knn.topK(e, "embedding", "vec_id",
        e.where(col("vec_id") === 3).select(col("embedding").as("qe")), "qe", 10)
      .select("vec_id").as[Long].collect().toSet
    assert(approx.intersect(exact).size >= 5,
      s"LSH recall too low: ${approx.intersect(exact).size}/10")
  }

  test("collection lifecycle: create/append/describe/count/drop") {
    val dir = "/tmp/graft_coll_test/k"
    val coll = Collection(spark, dir)
    val rows = Seq((0L, "c1", "content one"), (1L, "c2", "content two"))
      .toDF("id", "chapter", "content")
    coll.create(rows.schema, force = true)
    assert(coll.count() == 0)
    coll.append(rows)
    assert(coll.count() == 2)
    coll.append(rows.where(col("id") === 0))
    assert(coll.count() == 3)
    assert(coll.describe.fieldNames.toSeq == Seq("id", "chapter", "content"))
    coll.drop()
    assert(!coll.exists)
  }

  test("collection ARRAY-typed metadata: create/insert/describe/read " +
      "round-trip, element filters work on the served frame") {
    val dir = "/tmp/graft_coll_arr_test/k"
    val p = new org.apache.hadoop.fs.Path("/tmp/graft_coll_arr_test")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val coll = Collection(spark, dir)
    val rows = Seq(
      (0L, Seq("en", "web"), Seq(1.0f, 0.0f)),
      (1L, Seq("zh", "web", "news"), Seq(0.0f, 1.0f)),
      (2L, Seq.empty[String], Seq(1.0f, 1.0f)))
      .toDF("id", "tags", "embedding")
    coll.create(rows.schema, force = true)
    coll.append(rows)
    // describe round-trips the nested type, not a flattened erasure
    val tagsField = coll.describe.fields.find(_.name == "tags").get
    assert(tagsField.dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    // array_contains (single element) and arrays_overlap (contains_any)
    assert(coll.read.where(array_contains(col("tags"), "web"))
      .select("id").as[Long].collect().toSet == Set(0L, 1L))
    assert(coll.read
      .where(arrays_overlap(col("tags"), typedlit(Seq("zh", "news"))))
      .select("id").as[Long].collect().toSet == Set(1L))
    // the empty array neither matches nor errors
    assert(coll.read.where(array_contains(col("tags"), "nope")).count() == 0)
    coll.drop()
  }

  test("collection TTL: property sidecar, masked serve, reclaim is " +
      "idempotent and survives compaction") {
    val dir = "/tmp/graft_ttl_test/k"
    val p = new org.apache.hadoop.fs.Path("/tmp/graft_ttl_test")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val coll = Collection(spark, dir)
    val rows = (0L until 10L).map(i => (i, s"src$i")).toDF("id", "src")
    // stamp ingest at epoch 1000+i; no TTL yet -> readLive serves all
    coll.appendStamped(rows, timestamp_seconds(lit(1000L) + col("id")))
    val asOf = timestamp_seconds(lit(1008L))
    assert(coll.readLive(asOf).count() == 10)
    assert(coll.ttlDebt(asOf).as[(Long, Long)].head() == ((0L, 10L)))
    // ttl 5: live iff 1000+i+5 > 1008 <=> i > 3 -> 6 live, 4 expired
    coll.setTtlSeconds(5)
    assert(coll.ttlSeconds.contains(5L))
    assert(coll.readLive(asOf).select("id").as[Long].collect().toSet
      == (4L until 10L).toSet)
    assert(coll.ttlDebt(asOf).as[(Long, Long)].head() == ((4L, 6L)))
    // the policy row fires past 10% debt
    val plan = graft.search.Maintenance.planTtl(spark, dir, asOf)
      .as[(String, Long, Long, Boolean)].head()
    assert(plan == (("reclaim_expired", 4L, 1L, true)))
    // reclaim folds physically; second reclaim is a no-op (idempotent)
    assert(coll.reclaimExpired(asOf) == 4L)
    assert(coll.count() == 6 && coll.reclaimExpired(asOf) == 0L)
    assert(coll.ttlDebt(asOf).as[(Long, Long)].head() == ((0L, 6L)))
    // the TTL property survives the reclaim swap AND a compaction swap
    assert(coll.ttlSeconds.contains(5L))
    coll.compact()
    assert(coll.ttlSeconds.contains(5L))
    // properties merge, keys overwrite
    coll.setProperties(Map("owner" -> "graft"))
    coll.setTtlSeconds(7)
    assert(coll.properties == Map(
      Collection.TtlProp -> "7", "owner" -> "graft"))
    // a later clock expires more rows under the new ttl
    assert(coll.readLive(timestamp_seconds(lit(1020L))).count() == 0)
    // MIXED ingest (review finding, round 14): rows appended WITHOUT a
    // stamp read NULL for the stamp column and must never expire — not
    // silently vanish under a NULL predicate, not be reclaimed
    coll.append((100L until 102L).map(i => (i, s"src$i"))
      .toDF("id", "src")
      .withColumn(Collection.IngestTsCol,
        lit(null).cast("timestamp")))
    val late = timestamp_seconds(lit(1020L))
    assert(coll.readLive(late).select("id").as[Long].collect().toSet
      == Set(100L, 101L), "unstamped rows expired")
    assert(coll.ttlDebt(late).as[(Long, Long)].head() == ((6L, 2L)))
    assert(coll.reclaimExpired(late) == 6L)
    assert(coll.count() == 2, "reclaim dropped unstamped rows")
    coll.drop()
  }

  test("TTL -> index serving: sync tombstones expired keys idempotently;" +
      " reclaim + reconcile leaves nothing to repair") {
    import graft.search.{IndexSync, IvfIndex, Tombstones}
    val base = "/tmp/graft_ttl_sync_test"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val coll = Collection(spark, s"$base/coll")
    val rows = (0L until 20L)
      .map(i => (i, Array(i.toFloat, (i % 3).toFloat)))
      .toDF("id", "vec")
    coll.appendStamped(rows, timestamp_seconds(lit(1000L) + col("id")))
    coll.setTtlSeconds(5)
    val idx = s"$base/ivf"
    IvfIndex.build(coll.read.select("id", "vec"), "vec", idx, nlist = 2)
    val model = IvfIndex.load(spark, idx)
    // asOf 1012: expired iff 1000+i+5 <= 1012 <=> i <= 7 -> 8 keys
    val asOf = timestamp_seconds(lit(1012L))
    assert(coll.expiredKeys("id", asOf).as[Long].collect().toSet
      == (0L to 7L).toSet)
    assert(IndexSync.syncTtlTombstones(spark, coll, "id", asOf, idx,
      "id") == 8L)
    // idempotent at the same clock: nothing new to record
    assert(IndexSync.syncTtlTombstones(spark, coll, "id", asOf, idx,
      "id") == 0L)
    // the masked serve excludes every expired key (query near id=0,
    // whose nearest neighbors are exactly the expired ones)
    val got = IvfIndex.search(spark, model, "vec", "id",
        Array(0f, 0f), k = 5, nprobe = 2)
      .select("id").as[Long].collect().toSet
    assert(got.forall(_ > 7L), s"expired ids served: $got")
    assert(got == (8L to 12L).toSet)
    // the drift PLAN row observes the later clock's unsynced delta,
    // and the verb clears it (trigger-clears-after-maintenance)
    val later = timestamp_seconds(lit(1014L))
    assert(graft.search.Maintenance.planTtlSync(spark, s"$base/coll",
        "id", later, idx, "id", expiredFrac = 0.05)
      .as[(String, Long, Long, Boolean)].head()
      == (("sync_ttl_tombstones", 2L, 1L, true)))
    // a LATER clock records only the newly-expired delta (monotone)
    assert(IndexSync.syncTtlTombstones(spark, coll, "id",
      later, idx, "id") == 2L)
    assert(graft.search.Maintenance.planTtlSync(spark, s"$base/coll",
        "id", later, idx, "id", expiredFrac = 0.05)
      .as[(String, Long, Long, Boolean)].head()
      == (("sync_ttl_tombstones", 0L, 1L, false)))
    // reclaim -> reconcile composition: physical repayment finds the
    // orphans ALREADY tombstoned, so it repairs nothing further and
    // the serve is unchanged
    assert(coll.reclaimExpired(timestamp_seconds(lit(1014L))) == 10L)
    val (orphans, missing) = IndexSync.reconcileIvf(spark,
      coll.read.select("id", "vec"), "id", "vec", model)
    assert(orphans == 0L && missing == 0L)
    val after = IvfIndex.search(spark, model, "vec", "id",
        Array(0f, 0f), k = 5, nprobe = 2)
      .select("id").as[Long].collect().toSet
    assert(after == (10L to 14L).toSet)
    // unstamped rows never expire -> never tombstoned
    coll.append(Seq((100L, Array(0f, 0f))).toDF("id", "vec")
      .withColumn(Collection.IngestTsCol, lit(null).cast("timestamp")))
    assert(IndexSync.syncTtlTombstones(spark, coll, "id",
      timestamp_seconds(lit(2000L)), idx, "id") == 10L) // 10..19 only
    assert(Tombstones.table(spark, idx, "id").as[Long].collect().toSet
      == (0L to 19L).toSet)
    coll.drop()
  }

  test("TTL per-key expiry + re-ingest repair: a key with a live row " +
      "never tombstones; repairReingestedIvf unmasks and re-serves") {
    import graft.search.{IndexSync, IvfIndex, Tombstones}
    val base = "/tmp/graft_ttl_reingest_test"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val coll = Collection(spark, s"$base/coll")
    val rows = (0L until 10L).map(i => (i, Array(i.toFloat, 0f)))
      .toDF("id", "vec")
    coll.appendStamped(rows, timestamp_seconds(lit(1000L)))
    coll.setTtlSeconds(100)
    val idx = s"$base/ivf"
    IvfIndex.build(coll.read.select("id", "vec"), "vec", idx, nlist = 2)
    val model = IvfIndex.load(spark, idx)
    // all 10 keys expire and tombstone at the first sync
    val asOf = timestamp_seconds(lit(1150L))
    assert(IndexSync.syncTtlTombstones(spark, coll, "id", asOf, idx,
      "id") == 10L)
    // keys 1 and 2 re-ingested AFTER being tombstoned (key 2 twice —
    // latest wins): per-key expiredKeys (round-16 advisory) must stop
    // reporting them, and until repair they stay wrongly masked
    coll.appendStamped(Seq((1L, Array(5f, 5f))).toDF("id", "vec"),
      timestamp_seconds(lit(2000L)))
    coll.appendStamped(Seq((2L, Array(7f, 7f))).toDF("id", "vec"),
      timestamp_seconds(lit(2000L)))
    coll.appendStamped(Seq((2L, Array(6f, 6f))).toDF("id", "vec"),
      timestamp_seconds(lit(2100L)))
    val asOf2 = timestamp_seconds(lit(2050L))
    assert(coll.expiredKeys("id", asOf2).as[Long].collect().toSet
      == (0L to 9L).toSet -- Set(1L, 2L))
    assert(IndexSync.syncTtlTombstones(spark, coll, "id", asOf2, idx,
      "id") == 0L) // nothing newly expired; 1 is not re-reported
    val masked = IvfIndex.search(spark, model, "vec", "id",
        Array(0f, 0f), k = 5, nprobe = 2)
      .select("id").as[Long].collect().toSet
    assert(masked.isEmpty, s"pre-repair serve should be empty: $masked")
    // repair: folds stale rows, retracts ONLY live keys' tombstones,
    // appends each key's LATEST live row
    assert(IndexSync.repairReingestedIvf(spark, coll, "id", asOf2,
      model, "vec", "id") == 2L)
    val served = IvfIndex.search(spark, model, "vec", "id",
        Array(0f, 0f), k = 5, nprobe = 2)
      .select("id", "distance").as[(Long, Double)].collect().toMap
    assert(served.keySet == Set(1L, 2L))
    assert(math.abs(served(1L) - 50.0) < 1e-6,
      s"stale row served for key 1: ${served(1L)}") // new (5,5), not (1,0)
    assert(math.abs(served(2L) - 72.0) < 1e-6,
      s"latest-wins violated for key 2: ${served(2L)}") // (6,6), not (7,7)
    // still-dead keys stay tombstoned (so a same-asOf re-sync is
    // still a no-op), live keys' tombstones are gone
    assert(Tombstones.table(spark, idx, "id").as[Long].collect().toSet
      == (0L to 9L).toSet -- Set(1L, 2L))
    assert(IndexSync.syncTtlTombstones(spark, coll, "id", asOf2, idx,
      "id") == 0L)
    // idempotent: no re-ingest drift left
    assert(IndexSync.repairReingestedIvf(spark, coll, "id", asOf2,
      model, "vec", "id") == 0L)
    // retract on keys never tombstoned: 0, no rewrite
    assert(Tombstones.retract(Seq(999L).toDF("id"), idx, "id") == 0L)
    coll.drop()
  }

  test("repairReingestedIvf on an UNSTAMPED collection (plain append + " +
      "CDC delete): repairs without the ingest-ts column") {
    // round-16 review fix: the repair verb selected the ingest-ts
    // column unconditionally, so the documented CDC-delete re-ingest
    // case (a collection never appendStamped) threw AFTER the index
    // was already compacted + retracted — permanently dropping the
    // keys. An unstamped collection now floors every row at epoch 0
    // (readLive's own "unstamped is live" rule); latest-wins falls to
    // the deterministic vector-struct tie-break.
    import graft.search.{IndexSync, IvfIndex, Tombstones}
    val base = "/tmp/graft_reingest_unstamped_test"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val coll = Collection(spark, s"$base/coll")
    val rows = (0L until 6L).map(i => (i, Array(i.toFloat, 0f)))
      .toDF("id", "vec")
    coll.append(rows) // plain append — no _graft_ingest_ts anywhere
    val idx = s"$base/ivf"
    IvfIndex.build(coll.read.select("id", "vec"), "vec", idx, nlist = 2)
    val model = IvfIndex.load(spark, idx)
    // CDC delete of key 1, then the key re-ingested with new content
    Tombstones.record(Seq(1L).toDF("id"), idx, "id")
    coll.append(Seq((1L, Array(9f, 9f))).toDF("id", "vec"))
    assert(IndexSync.repairReingestedIvf(spark, coll, "id",
      current_timestamp(), model, "vec", "id") == 1L)
    val served = IvfIndex.search(spark, model, "vec", "id",
        Array(9f, 9f), k = 1, nprobe = 2)
      .select("id", "distance").as[(Long, Double)].collect().toSeq
    // both key-1 rows sit at the epoch-0 floor; the struct tie-break
    // keeps (9,9) — the re-ingested content, at distance 0
    assert(served == Seq((1L, 0.0)), s"unexpected serve: $served")
    assert(Tombstones.count(spark, idx) == 0L)
    coll.drop()
  }

  test("collection compact: merges small files, preserves every row") {
    import graft.core.Collection
    val coll = Collection(spark, "/tmp/graft_compact_test/knowledge")
    val rows = (0L until 40L).map(i => (i, s"ch$i", s"content $i"))
      .toDF("id", "chapter", "content")
    coll.create(rows.schema, force = true)
    (0 until 10).foreach(i =>       // 10 tiny appends -> >= 10 files
      coll.append(rows.where(col("id") % 10 === i)))
    val beforeRows = coll.read.orderBy("id").collect().toSeq
    val (nBefore, nAfter) = coll.compact()
    assert(nBefore >= 10 && nAfter < nBefore)
    assert(coll.read.orderBy("id").collect().toSeq == beforeRows)
    coll.drop()
  }

  test("IVF append: incremental ingest matches a search over all data") {
    import graft.search.IvfIndex
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = "/tmp/graft_ivf_append_test"
    val first = e.where(col("vec_id") % 2 === 0)
    val rest = e.where(col("vec_id") % 2 === 1)
    val model = IvfIndex.build(first, "embedding", dir, nlist = 4)
    IvfIndex.append(rest, "embedding", model)
    val query = e.where(col("vec_id") === 7).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    // nprobe = nlist scans every partition -> must equal exact kNN over
    // the UNION of built + appended data
    val got = IvfIndex.search(spark, model, "embedding", "vec_id",
        query, k = 10, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    val exact = e.withColumn("d",
        graft.functions.VectorFunctions.l2Sq(col("embedding"),
          typedlit(query)))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(10).select("vec_id").as[Long].collect().toSeq
    // same multiset ordered by (rounded distance, id): search rounds to
    // 4 decimals, so compare by membership + first element
    assert(got.toSet == exact.toSet)
    assert(got.head == 7L)
  }

  test("int8 quantization: scale, rounding away from zero, zero vector") {
    import graft.search.Quantize
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))).toDF("id", "v")
    val sc = Quantize.scaleCol(col("v"))
    val q = Quantize.quantized(col("v"), sc)
    val r = df.select(col("id"), sc.as("scale"), q.as("q"),
        round(Quantize.reconSqError(col("v"), q, sc), 6).as("err"))
      .as[(Long, Double, Seq[Int], Double)].collect()
      .map(t => t._1 -> t).toMap
    assert(r(1L)._2 == 127.0)
    assert(r(1L)._3 == Seq(127, -64, 0)) // -0.5*127 = -63.5 rounds to -64
    assert(r(1L)._4 < 1e-4)
    assert(r(2L)._2 == 0.0 && r(2L)._3 == Seq(0, 0, 0) && r(2L)._4 == 0.0)
  }

  test("contamination: no overlap or empty train side -> empty report") {
    import graft.curate.{Contamination, Sampling}
    val buckets = (0L until 60L).toDF("id")
      .select(col("id"), Sampling.hashBucket(col("id")).as("b"))
      .as[(Long, Long)].collect()
    val trainId = buckets.collectFirst { case (i, b) if b < 80 => i }.get
    val evalId = buckets.collectFirst { case (i, b) if b >= 90 => i }.get
    // disjoint vocabularies: no shared shingle, so no report rows
    val df = Seq((trainId, "a1 a2 a3 a4 a5"), (evalId, "b1 b2 b3 b4 b5"))
      .toDF("doc_id", "text")
    assert(Contamination.report(df, "doc_id", "text", maxDfFrac = 1.0).isEmpty)
    // train-only corpus: nothing to evaluate
    val trainOnly = Seq((trainId, "a1 a2 a3 a4 a5")).toDF("doc_id", "text")
    assert(Contamination.report(trainOnly, "doc_id", "text").isEmpty)
  }

  test("contamination: identical eval doc points at its train twin") {
    import graft.curate.{Contamination, Sampling}
    // pick ids per split from the deterministic hash (not assumed)
    val buckets = (0L until 60L).toDF("id")
      .select(col("id"), Sampling.hashBucket(col("id")).as("b"))
      .as[(Long, Long)].collect()
    val trainId = buckets.collectFirst { case (i, b) if b < 80 => i }.get
    val evalId = buckets.collectFirst { case (i, b) if b >= 90 => i }.get
    val train2 = buckets.collect { case (i, b) if b < 80 => i }.apply(1)
    val text = "w1 w2 w3 w4 w5 w6 w7 w8"
    val df = Seq(
      (trainId, text),                       // train twin
      (evalId, text),                        // leaked eval doc
      (train2, "z1 z2 z3 z4 z5 z6 z7 z8"))  // unrelated train doc
      .toDF("doc_id", "text")
    val rep = Contamination.report(df, "doc_id", "text", maxDfFrac = 1.0)
      .as[(Long, String, Long, Long, Double)].collect()
    assert(rep.length == 1)
    val (docId, split, best, _, overlap) = rep.head
    assert(docId == evalId && split == "test" && best == trainId)
    assert(overlap == 1.0)
  }

  test("bloom build/probe hashing agrees: zero false negatives, scrub exact") {
    import graft.functions.BloomFunctions
    // build over 200 members, probe members + 200 non-members: every
    // member MUST pass (bloom no-false-negative contract holds only if
    // BloomFilterAggregate and BloomFilterMightContain key identically)
    val members = (0 until 200).map(i => s"member_$i")
    val bytes = members.toDF("s")
      .select(BloomFunctions.bloomAgg(col("s"), 200L).as("bf"))
      .as[Array[Byte]].head()
    val probes = (members.map((_, true)) ++
      (0 until 200).map(i => (s"other_$i", false))).toDF("s", "is_member")
    val got = probes
      .withColumn("hit", BloomFunctions.mightContain(bytes, col("s")))
      .as[(String, Boolean, Boolean)].collect()
    assert(got.collect { case (_, true, hit) => hit }.forall(identity),
      "a member failed the probe — build/probe hashing diverged")
    // false positives allowed but must be rare at the default sizing
    val fp = got.count { case (_, member, hit) => !member && hit }
    assert(fp < 20, s"$fp/200 false positives — filter badly undersized")
  }

  test("bloom scrub: flags exactly the train docs sharing an eval 8-gram") {
    import graft.curate.{Contamination, Sampling}
    val buckets = (0L until 60L).toDF("id")
      .select(col("id"), Sampling.hashBucket(col("id")).as("b"))
      .as[(Long, Long)].collect()
    val trainIds = buckets.collect { case (i, b) if b < 80 => i }
    val evalId = buckets.collectFirst { case (i, b) if b >= 90 => i }.get
    val leaked = "w1 w2 w3 w4 w5 w6 w7 w8"
    val df = Seq(
      (trainIds(0), leaked),                          // verbatim leak
      (trainIds(1), "z1 z2 z3 z4 z5 z6 z7 z8"),       // clean train doc
      (evalId, leaked)).toDF("doc_id", "text")
    val got = Contamination.bloomScrub(df, "doc_id", "text")
      .as[(Long, Long, String)].collect().toSeq
    assert(got == Seq((trainIds(0), 1L, "drop")))
  }

  test("appendWithDefaults: fill rules, and missing non-nullable is loud") {
    import graft.core.Collection
    import org.apache.spark.sql.types._
    val dir = "/tmp/graft_test_nulldef/coll"
    val coll = Collection(spark, dir)
    coll.create(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("lang", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true))), force = true)
    val defaults = Map[String, Any]("lang" -> "und")
    // null in a defaulted field → default; nullable w/o default stays null;
    // column order of the batch must not matter
    coll.appendWithDefaults(
      Seq((Some(10.0), 1L, Some("en")), (None, 2L, None))
        .toDF("score", "id", "lang"), defaults)
    val got = coll.read.orderBy(col("id"))
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(got == Seq((1L, "en", Some(10.0)), (2L, "und", None)))
    // missing non-nullable, non-defaulted column → loud error
    val e = intercept[IllegalArgumentException] {
      coll.appendWithDefaults(Seq(("fr")).toDF("lang"), defaults)
    }
    assert(e.getMessage.contains("non-nullable"))
    // unknown batch column → loud error
    val e2 = intercept[IllegalArgumentException] {
      coll.appendWithDefaults(
        Seq((3L, "zz")).toDF("id", "bogus"), defaults)
    }
    assert(e2.getMessage.contains("not in collection schema"))
    // null ARRIVING in a present non-nullable, non-defaulted column →
    // the write fails loudly instead of storing a corrupted row
    val e3 = intercept[Exception] {
      coll.appendWithDefaults(
        Seq((Some(3L), "fr"), (None, "de"))
          .toDF("id", "lang"), defaults)
    }
    assert(e3.getMessage.contains("non-nullable column 'id'"),
      s"unexpected: ${e3.getMessage}")
    coll.drop()
  }

  test("appendWithDefaults: accepts columns evolved after create") {
    import graft.core.Collection
    import org.apache.spark.sql.types._
    val dir = "/tmp/graft_test_nulldef/evolved"
    val coll = Collection(spark, dir)
    coll.create(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("lang", StringType, nullable = true))), force = true)
    coll.appendWithDefaults(Seq((1L, "en")).toDF("id", "lang"))
    // schema evolution: a plain append adds a column the sidecar predates
    coll.append(Seq((2L, "fr", 9.5)).toDF("id", "lang", "score"))
    // the conforming insert path must accept the evolved column...
    coll.appendWithDefaults(Seq((3L, "es", 1.5))
      .toDF("id", "lang", "score"))
    val got = coll.readMerged.orderBy(col("id"))
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(got == Seq((1L, "en", None), (2L, "fr", Some(9.5)),
      (3L, "es", Some(1.5))))
    // ...while still rejecting genuinely unknown columns
    val e = intercept[IllegalArgumentException] {
      coll.appendWithDefaults(Seq((4L, "zz")).toDF("id", "bogus"))
    }
    assert(e.getMessage.contains("not in collection schema"))
    coll.drop()
  }

  test("collection upsert: replaces matching keys, inserts new ones") {
    import graft.core.Collection
    import spark.implicits._
    val dir = "/tmp/graft_test_upsert/coll"
    val coll = Collection(spark, dir)
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "tag", "v")
    coll.create(base.schema, force = true)
    coll.append(base)
    val upd = Seq((2L, "B", 99.0), (9L, "z", 1.0)).toDF("id", "tag", "v")
    coll.upsert(upd, "id")
    val out = coll.read.orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0),
      (9L, "z", 1.0)))
    // idempotent: re-upserting the same batch changes nothing
    coll.upsert(upd, "id")
    assert(coll.count() == 4L)
    // duplicate keys in one batch are a MERGE contract violation
    val dup = Seq((5L, "x", 1.0), (5L, "y", 2.0)).toDF("id", "tag", "v")
    val e = intercept[IllegalArgumentException] { coll.upsert(dup, "id") }
    assert(e.getMessage.contains("duplicate"))
    assert(coll.count() == 4L) // refused batch left the collection intact
    coll.drop()
  }

  test("contrastive triplets: offset negative dodges a positive collision") {
    import graft.curate.Contrastive
    import spark.implicits._
    // n=4, offset n/2=2; anchor 0's nearest non-self IS id 2, so the
    // offset draw collides with the positive and must dodge to 3
    val df = Seq((0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)),
      (2L, Seq(0.1f, 0f)), (3L, Seq(5f, 5f))).toDF("vec_id", "embedding")
    val r = Contrastive.triplets(df, "vec_id", "embedding", anchorEvery = 4)
      .collect()
    assert(r.length == 1)
    assert(r.head.getLong(0) == 0L)     // anchor
    assert(r.head.getLong(1) == 2L)     // positive = true 1-NN
    assert(r.head.getLong(3) == 3L)     // negative dodged off the positive
  }

  test("sq8 rerank: exact final distances, full recall at this margin") {
    import graft.search.{Knn, Quantize}
    val e = graft.core.Tables.embeddings(spark, sf0001)
    val q = e.where(col("vec_id") === 1).select(col("embedding").as("qe"))
    val sq8 = Quantize.sq8RerankSearch(e, "embedding", "vec_id", q, "qe",
        k = 5, margin = 4)
      .select("vec_id", "distance")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = Knn.topK(e, "embedding", "vec_id", q, "qe", k = 5)
      .select("vec_id", "distance")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // margin 4 recovers the exact top-5 on this corpus, with the same
    // exact (not approximate) distances attached
    assert(sq8 == exact)
  }

  test("PQ: codes in range, self found at exact distance 0, ADC ≥ 0") {
    import graft.search.Pq
    val dir = "/tmp/graft_pq_spec"
    org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    val e = graft.core.Tables.embeddings(spark, sf0001)
    val model = Pq.build(e, "embedding", "vec_id", dir)
    assert(model.m == 8 && model.kCodes == 16 && model.dsub == 8)
    val codes = spark.read.parquet(Pq.codesDir(dir))
      .select("codes").as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    // reload round-trips the codebooks
    val re = Pq.load(spark, dir)
    assert(re.codebooks.flatten.flatten.toSeq ==
      model.codebooks.flatten.flatten.toSeq)
    val q = e.where(col("vec_id") === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val r = Pq.adcSearch(spark, model, e, "embedding", "vec_id", q, k = 5)
      .collect()
    assert(r.head.getLong(0) == 3L && r.head.getDouble(2) == 0.0,
      "the query vector itself must rerank first at exact distance 0")
    assert(r.forall(_.getDouble(1) >= 0.0))
  }

  test("RQ: codes in range, level 2 cuts reconstruction error, self first") {
    import graft.search.Rq
    val dir = "/tmp/graft_rq_spec"
    org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    val e = graft.core.Tables.embeddings(spark, sf0001)
    val model = Rq.build(e, "embedding", "vec_id", dir, maxIter = 10)
    assert(model.k1 == 32 && model.k2 == 32)
    val codes = spark.read.parquet(Rq.codesDir(dir))
      .select("c1", "c2").as[(Int, Int)].collect()
    assert(codes.forall { case (a, b) =>
      a >= 0 && a < 32 && b >= 0 && b < 32 })
    // reload round-trips both codebooks
    val re = Rq.load(spark, dir)
    assert(re.cb1.flatten.toSeq == model.cb1.flatten.toSeq &&
      re.cb2.flatten.toSeq == model.cb2.flatten.toSeq)
    // the additive level's whole point: mean ‖v − C1 − C2‖² strictly
    // below mean ‖v − C1‖² (level 2 models what level 1 missed)
    val vecs = e.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    val cmap = spark.read.parquet(Rq.codesDir(dir))
      .select("vec_id", "c1", "c2").as[(Long, Int, Int)].collect()
    def err(v: Seq[Float], c: Array[Double]): Double =
      v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
    val (e1, e2) = cmap.map { case (id, a, b) =>
      val v = vecs(id)
      val r1 = model.cb1(a).map(_.toDouble)
      val r2 = r1.zip(model.cb2(b)).map { case (x, y) => x + y }
      (err(v, r1), err(v, r2))
    }.unzip
    assert(e2.sum < e1.sum * 0.9,
      s"level 2 must cut reconstruction error: ${e1.sum} -> ${e2.sum}")
    val q = e.where(col("vec_id") === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val r = Rq.adcSearch(spark, model, e, "embedding", "vec_id", q, k = 5)
      .collect()
    assert(r.head.getLong(0) == 3L && r.head.getDouble(2) == 0.0,
      "the query vector itself must rerank first at exact distance 0")
  }

  test("KMV sketch: exact below k, within rsd above k, order-independent") {
    import graft.functions.KmvSketchAggregator
    val agg = new KmvSketchAggregator(64)
    // exact fallback: fewer than k distinct hashes → count, not estimate
    val small = (1L to 40L).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(small) == 40.0)
    // duplicates never inflate the sketch
    val dup = (1L to 40L).foldLeft(small)(agg.reduce)
    assert(agg.finish(dup) == 40.0)
    // estimation branch: 5000 md5-style uniform hashes, k=64 → rsd ≈ 12.5%
    def h(i: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15), 16)
    }
    val hashes = (0 until 5000).map(h)
    val est = agg.finish(hashes.foldLeft(agg.zero)(agg.reduce))
    assert(math.abs(est - 5000) / 5000.0 < 0.4,
      s"KMV estimate $est too far from 5000")
    // merge(a, b) ≡ sequential insert of a++b (map-side combine safety)
    val (left, right) = hashes.splitAt(2500)
    val merged = agg.merge(
      left.foldLeft(agg.zero)(agg.reduce),
      right.foldLeft(agg.zero)(agg.reduce))
    val sequential = hashes.foldLeft(agg.zero)(agg.reduce)
    assert(merged.toSeq == sequential.toSeq)
    // and shuffling arrival order changes nothing
    val shuffled = scala.util.Random.shuffle(hashes)
      .foldLeft(agg.zero)(agg.reduce)
    assert(shuffled.toSeq == sequential.toSeq)
  }

  test("substring spans: shared boilerplate flagged, unique text clean") {
    import graft.dedup.SubstringDedup
    val boiler = (1 to 6).map(i => s"b$i").mkString(" ")  // 6-token span
    val df = Seq(
      (0L, s"u1 u2 u3 $boiler t1 t2"),      // shares boiler with 1
      (1L, s"v1 v2 $boiler w1 w2 w3"),      // shares boiler with 0
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8 x9"),   // unique
      (3L, "short text"))                    // < windowTokens → no row
      .toDF("doc_id", "text")
    val r = SubstringDedup.spanReport(df, "doc_id", "text", windowTokens = 6)
      .as[(Long, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // doc 0: 11 tokens → 6 windows, exactly 1 (the boiler window) repeated
    assert(r(0L) == ((6L, 1L)) && r(1L) == ((6L, 1L)))
    assert(r(2L)._2 == 0L)
    assert(!r.contains(3L), "docs below the window length emit no row")
  }

  test("bpe encode: learned merges shrink token counts, never below words") {
    import graft.text.BpeLearn
    val df = Seq(
      (0L, "banana bandana banana"),
      (1L, "an analysis and an anomaly"),
      (2L, "zzz qqq")).toDF("doc_id", "text")
    val merges = BpeLearn.learn(df, "text", nMerges = 3)
      .orderBy(col("merge_rank").asc)
      .select("pair", "merged").as[(String, String)].collect().toSeq
    val enc = BpeLearn.encode(df, "doc_id", "text", merges)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // chars per doc (upper bound before merges)
    val chars = Map(0L -> ("bananabandanabanana".length.toLong),
      1L -> "ananalysisandananomaly".length.toLong,
      2L -> "zzzqqq".length.toLong)
    enc.foreach { case (id, (nWords, nTok)) =>
      assert(nTok >= nWords, "a token count can never drop below one/word")
      assert(nTok <= chars(id), "encoding never exceeds the char count")
    }
    // 'an' ('a n') dominates this corpus: doc 1's count must have shrunk
    assert(enc(1L)._2 < chars(1L))
    // a corpus with none of the learned merges is untouched (char count)
    assert(enc(2L)._2 == chars(2L))
  }

  test("alias: resolve, atomic retarget, drop; missing alias is loud") {
    import graft.core.Collection
    val root = "/tmp/graft_alias_test"
    val rp = new org.apache.hadoop.fs.Path(root)
    rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(rp, true)
    val a = Collection(spark, s"$root/a")
    val b = Collection(spark, s"$root/b")
    val df1 = Seq((1L, "x")).toDF("id", "v")
    val df2 = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    a.create(df1.schema, force = true); a.append(df1)
    b.create(df2.schema, force = true); b.append(df2)
    Collection.setAlias(spark, root, "serving", a.dir)
    assert(Collection.byAlias(spark, root, "serving").count() == 1L)
    Collection.setAlias(spark, root, "serving", b.dir)   // retarget
    assert(Collection.byAlias(spark, root, "serving").count() == 2L)
    assert(a.count() == 1L, "old target untouched by the swap")
    Collection.dropAlias(spark, root, "serving")
    intercept[IllegalArgumentException](
      Collection.resolveAlias(spark, root, "serving"))
  }

  test("time travel: every rewrite retains a readable pre-image") {
    import graft.core.Collection
    val coll = Collection(spark, "/tmp/graft_tt_test/c",
      retainVersions = true)
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    coll.create(df.schema, force = true)
    coll.append(df)
    assert(coll.versions.isEmpty, "appends do not create versions")
    coll.delete(col("id") === 2)
    coll.upsert(Seq((3L, "C")).toDF("id", "v"), "id")
    assert(coll.versions == Seq(1L, 2L))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, String)].collect().toSet
    assert(rows(coll.readVersion(1)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(rows(coll.readVersion(2)) == Set((1L, "a"), (3L, "c")))
    assert(rows(coll.read) == Set((1L, "a"), (3L, "C")))
    // retention: keep the newest 1 → v1 drops, v2 still readable
    assert(coll.expireVersions(keep = 1) == Seq(1L))
    assert(coll.versions == Seq(2L))
    intercept[IllegalArgumentException](coll.readVersion(1))
    // next rewrite numbers PAST the expired ones — never reuses v1
    coll.delete(col("id") === 1)
    assert(coll.versions == Seq(2L, 3L))
    coll.drop()
    assert(coll.versions.isEmpty)
  }

  test("diffVersion: added/removed/updated classes, unchanged keys absent") {
    import graft.core.Collection
    val coll = Collection(spark, "/tmp/graft_diff_test/c",
      retainVersions = true)
    val df = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "v", "x")
    coll.create(df.schema, force = true)
    coll.append(df)
    coll.delete(col("id") === 2)                      // v1 = original
    coll.upsert(Seq((3L, "C", 30), (9L, "new", 90)).toDF("id", "v", "x"),
      "id")                                           // v2
    val d = coll.diffVersion(1, "id")
      .as[(String, Long)].collect().toSet
    assert(d == Set(("removed", 2L), ("updated", 3L), ("added", 9L)),
      s"got $d")                                      // 1L unchanged: absent
    // null-safe comparison: null -> value and value -> null both count
    val coll2 = Collection(spark, "/tmp/graft_diff_test/c2",
      retainVersions = true)
    val df2 = Seq((1L, Some("a")), (2L, None: Option[String]))
      .toDF("id", "v")
    coll2.create(df2.schema, force = true)
    coll2.append(df2)
    coll2.upsert(Seq((1L, None: Option[String]), (2L, Some("b")))
      .toDF("id", "v"), "id")
    val d2 = coll2.diffVersion(1, "id").as[(String, Long)].collect().toSet
    assert(d2 == Set(("updated", 1L), ("updated", 2L)), s"got $d2")
    coll.drop(); coll2.drop()
  }

  test("mutateOnce: runs once on success, re-runs after a failed attempt") {
    val dir = "/tmp/graft_test_mutateonce"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    var runs = 0
    // a failed mutation must NOT write the marker — the next invocation
    // re-runs from scratch (the mutate block owns its dir)
    intercept[RuntimeException] {
      graft.QueryDsl.mutateOnce(spark, dir) { runs += 1; throw new RuntimeException("boom") }
    }
    assert(runs == 1)
    graft.QueryDsl.mutateOnce(spark, dir) { runs += 1 }
    assert(runs == 2)
    // marker present now: the mutation is skipped
    graft.QueryDsl.mutateOnce(spark, dir) { runs += 1 }
    assert(runs == 2)
  }
}

/** Instrumented fake for the [[graft.ingest.SessionEncoder]] lifecycle
  * spec — a top-level object so the counters are JVM-static and visible
  * from local-mode executor threads. */
object SessionSpecCounters {
  val opened = new java.util.concurrent.atomic.AtomicInteger(0)
  val closed = new java.util.concurrent.atomic.AtomicInteger(0)
  val maxBatch = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = { opened.set(0); closed.set(0); maxBatch.set(0) }
  def make(): graft.ingest.SessionEncoder = {
    opened.incrementAndGet()
    new graft.ingest.SessionEncoder {
      private val inner = new graft.ingest.HashingEmbedder(16)
      override def dim: Int = 16
      override def encode(ts: Seq[String]): Seq[Array[Float]] = {
        maxBatch.accumulateAndGet(ts.length, (a: Int, b: Int) => math.max(a, b))
        inner.embed(ts)
      }
      override def close(): Unit = { closed.incrementAndGet(); () }
    }
  }
}
