package graft

import graft.functions.VectorFunctions
import graft.search.{Distance, Knn}
import org.apache.spark.sql.functions._

class KnnSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (0L, Array(0f, 0f)), (1L, Array(1f, 0f)), (2L, Array(0f, 2f)),
    (3L, Array(3f, 0f)), (4L, Array(0f, 4f))
  ).toDF("id", "vec")

  private def query = Seq(Tuple1(Array(0f, 0f))).toDF("qe")

  test("codegen l2_sq equals HOF formulation and brute force") {
    val df = corpus.crossJoin(query)
      .select(
        VectorFunctions.l2Sq($"vec", $"qe").as("fast"),
        Distance.l2SqHof($"vec", $"qe").as("hof"))
    df.collect().foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1))
    }
    val d = corpus.crossJoin(query)
      .select($"id", VectorFunctions.l2Sq($"vec", $"qe").as("d"))
      .as[(Long, Double)].collect().toMap
    assert(d(0L) === 0.0 && d(1L) === 1.0 && d(2L) === 4.0 &&
      d(3L) === 9.0 && d(4L) === 16.0)
  }

  test("cosine: zero-norm vectors yield 0.0, not NaN") {
    val r = corpus.crossJoin(query)
      .select(VectorFunctions.cosineSim($"vec", $"qe").as("c"))
      .as[Double].collect()
    assert(r.forall(c => !c.isNaN))
    assert(r.contains(0.0))
  }

  test("searchPipeline: threshold applies to score (1-d), not distance") {
    // reference src/app.py:258-260 — score = 1 - d, keep score >= thr.
    // with thr=0.3 only d <= 0.7 survives: ids 0 (d=0) only here.
    val hits = Knn.searchPipeline(corpus, "vec", "id", query, "qe",
      k = 5, scoreThreshold = 0.3)
    assert(hits.select("id").as[Long].collect().toSeq == Seq(0L))
  }

  test("searchPipeline: over-fetch caps candidates at 3k before threshold") {
    // k=1, overFetch=3 → only 3 nearest considered; with threshold -100
    // everything passes the score filter but result is still top-1.
    val hits = Knn.searchPipeline(corpus, "vec", "id", query, "qe",
      k = 1, scoreThreshold = -100)
    assert(hits.count() == 1)
    assert(hits.select("id").as[Long].head() == 0L)
  }

  test("knnJoin returns exactly k per query with deterministic ties") {
    val qs = Seq((10L, Array(0f, 0f)), (20L, Array(3f, 0f)))
      .toDF("qid", "qe")
    val r = Knn.knnJoin(corpus, "vec", "id", qs, "qid", "qe", k = 2)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(r == Set((10L, 0L), (10L, 1L), (20L, 3L), (20L, 1L)))
  }

  test("multi-strategy dedup: FIRST occurrence wins even against a better score") {
    // reference src/app.py:291-299 — dedup key content[:50], first wins.
    // C is an exact match for strategy 2's query (score 1.0) but shares
    // B's dedup key; B arrived first (strategy 1) so C must be dropped.
    val corpus = Seq(
      (0L, Array(0f, 0f), "x"), (1L, Array(1f, 0f), "dup"),
      (2L, Array(5f, 5f), "dup")
    ).toDF("id", "vec", "dkey")
    val strategies = Seq(
      (1, 0, 2, Array(0f, 0f)),     // direct: finds 0 then 1
      (2, 1, 1, Array(5f, 5f))      // keyword: exact hit on 2 (dup key of 1)
    ).toDF("strategy_rank", "sub_idx", "k", "qe")
    val r = graft.search.MultiStrategy.search(corpus, "vec", "id", "dkey",
        strategies, topK = 3, scoreThreshold = -10)
      .select("id").as[Long].collect().toSet
    assert(r == Set(0L, 1L))
  }

  test("multi-strategy search runs one shuffle exchange") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val corpus = spark.range(0, 40, 1, 4).select(col("id"),
      array(col("id").cast("float"), (col("id") % 7).cast("float")).as("vec"),
      (col("id") % 5).cast("string").as("dkey"))
    val strategies = Seq(
      (1, 0, 4, Array(0f, 0f)), (2, 1, 2, Array(10f, 3f)),
      (2, 2, 2, Array(20f, 6f)), (3, 3, 1, Array(30f, 1f))
    ).toDF("strategy_rank", "sub_idx", "k", "qe")
    val r = graft.search.MultiStrategy.search(corpus, "vec", "id", "dkey",
      strategies, topK = 5, scoreThreshold = -1e9)
    assert(r.collect().length == 5)
    // the final adaptive plan, query stages included
    val shuffles = new AdaptiveSparkPlanHelper {}
      .collect(r.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, r.queryExecution.executedPlan.toString)
  }

  test("knnJoinLarge (heap path) is row-identical to knnJoin on the fixture") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val qs = e.where($"vec_id" < 7)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "vec_id", "distance")
      .orderBy("qid", "distance", "vec_id")
      .as[(Long, Long, Double)].collect().toSeq
    val small = norm(Knn.knnJoin(e, "embedding", "vec_id", qs, "qid", "qe", 4))
    val large = norm(Knn.knnJoinLarge(e, "embedding", "vec_id", qs, "qid", "qe", 4))
    assert(small == large)
    assert(large.size == 7 * 4)
  }

  test("bm25: no query term anywhere -> empty result, not an error") {
    import graft.search.Bm25
    val docs = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("id", "text")
    assert(Bm25.score(docs, "id", "text", Seq("absent")).isEmpty)
  }

  test("bm25 index: append-then-search equals rebuild-then-search") {
    import graft.search.{Bm25, Bm25Index, TermIndex}
    val docs = Seq(
      (1L, "scan filter scan"), (2L, "merge filter x"),
      (3L, "scan y z"), (4L, "no match here"), (5L, "filter merge merge"))
      .toDF("id", "text")
    def results(idx: String) =
      Bm25Index.search(spark, idx, Seq("scan", "filter", "merge"), 10)
        .as[(Long, Double)].collect().toSeq
    val full = "/tmp/graft_bm25idx_full"
    val inc = "/tmp/graft_bm25idx_inc"
    TermIndex.build(docs, "id", "text", full)
    TermIndex.build(docs.where($"id" <= 2), "id", "text", inc)
    TermIndex.append(docs.where($"id" === 3L || $"id" === 4L),
      "id", "text", inc)
    TermIndex.append(docs.where($"id" === 5L), "id", "text", inc)
    assert(results(inc) == results(full))
    // and both equal the stateless scorer's ranking
    val direct = Bm25.score(docs, "id", "text",
        Seq("scan", "filter", "merge"))
      .orderBy($"bm25".desc, $"id".asc)
      .as[(Long, Double)].collect().toSeq
    assert(results(full) == direct)
    // absent terms: empty, not an error — from the artifact too
    assert(Bm25Index.search(spark, full, Seq("absent"), 10).isEmpty)
  }

  test("bm25f: field weight decides ranking; append equals rebuild") {
    import graft.search.Bm25Index
    // doc 1 matches in the title, doc 2 matches (twice) in the body
    val docs = Seq(
      (1L, "spark", "other words here"),
      (2L, "other", "spark engine spark"),
      (3L, "misc", "unrelated body text"))
      .toDF("id", "title", "body")
    val fields = Seq("title", "body")
    def results(idx: String, wTitle: Double) =
      Bm25Index.searchFielded(spark, idx, Seq("spark"), 10,
          Seq("title" -> wTitle, "body" -> 1.0))
        .as[(Long, Double)].collect().toSeq
    val full = "/tmp/graft_bm25f_full"
    val inc = "/tmp/graft_bm25f_inc"
    Bm25Index.buildFielded(docs, "id", fields, full)
    Bm25Index.buildFielded(docs.where($"id" === 1L), "id", fields, inc)
    Bm25Index.appendFielded(docs.where($"id" > 1L), "id", fields, inc)
    assert(results(inc, 5.0) == results(full, 5.0))
    // heavy title weight: the title hit outranks the double body hit
    assert(results(full, 5.0).map(_._1).take(2) == Seq(1L, 2L))
    // title weight ~0: the body hits dominate
    assert(results(full, 0.01).map(_._1).head == 2L)
    // doc 3 never matches
    assert(!results(full, 5.0).exists(_._1 == 3L))
  }

  test("norm pruning: strict-subset scan, result equals brute force") {
    import graft.search.NormPrune
    // norm-VARYING corpus (the operator's domain — the unit-norm fixture
    // degenerates): lengths spread over [0.5, 8]
    val r = new scala.util.Random(23)
    val vecs = (0L until 300L).map { i =>
      val dir = Array.fill(16)(r.nextGaussian())
      val n = math.sqrt(dir.map(x => x * x).sum)
      val len = 0.5 + (i % 60) * 0.125
      (i, dir.map(x => (x / n * len).toFloat))
    }
    val tab = NormPrune.normTable(vecs.toDF("id", "vec"), "id", "vec")
    val q = vecs(17)._2
    for (k <- Seq(1, 5, 10)) {
      val tau = NormPrune.tauBound(tab, "id", "vec", q, k)
      val scanned = NormPrune.band(tab, q, tau).count()
      assert(scanned < 300, s"k=$k band must prune: scanned=$scanned")
      val got = NormPrune.search(tab, "id", "vec", q, k)
        .select("id").as[Long].collect().toSeq
      val brute = vecs.map { case (id, v) =>
        (id, v.zip(q).map { case (a, b) =>
          (a.toDouble - b.toDouble) * (a.toDouble - b.toDouble) }.sum)
      }.sortBy { case (id, d) =>
        (BigDecimal(d).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble, id)
      }.take(k).map(_._1)
      assert(got == brute, s"k=$k: pruned result must equal brute force")
    }
  }

  test("norm pruning: near-duplicate corpus (tau rounds to 0) stays exact") {
    import graft.search.NormPrune
    // every seed distance ROUNDS to 0.0000 → naive sqrt(tau) would
    // shrink the band to ±slack and drop genuinely closer vectors; the
    // τ+5e-5 inflation must keep them
    val vecs = (0L until 20L).map { i =>
      val eps = i * 0.0003f           // d² to row 0 = (i·3e-4)² ≤ 3.3e-5
      (i, Array(1f + eps, 0f, 0f, 0f))
    }
    val tab = NormPrune.normTable(vecs.toDF("id", "vec"), "id", "vec")
    val q = vecs(0)._2
    val tau = NormPrune.tauBound(tab, "id", "vec", q, 5)
    assert(tau == 0.0, s"regime check: all seed distances round to 0, tau=$tau")
    val got = NormPrune.search(tab, "id", "vec", q, 5)
      .select("id").as[Long].collect().toSeq
    // all rounded distances are 0.0000 → top-5 = lowest ids
    assert(got == Seq(0L, 1L, 2L, 3L, 4L),
      s"near-dup corpus must not be pruned away: $got")
  }

  test("MIPS norm pruning: one-sided cut prunes, equals brute force") {
    import graft.search.NormPrune
    val r = new scala.util.Random(23)
    val vecs = (0L until 300L).map { i =>
      val dir = Array.fill(16)(r.nextGaussian())
      val n = math.sqrt(dir.map(x => x * x).sum)
      val len = 0.5 + (i % 60) * 0.125
      (i, dir.map(x => (x / n * len).toFloat))
    }
    val tab = NormPrune.normTable(vecs.toDF("id", "vec"), "id", "vec")
    val q = vecs(17)._2
    for (k <- Seq(1, 5, 10)) {
      val tau = NormPrune.mipsTauBound(tab, "id", "vec", q, k)
      val scanned = NormPrune.mipsCut(tab, q, tau).count()
      assert(scanned < 300, s"k=$k MIPS cut must prune: scanned=$scanned")
      val got = NormPrune.mipsSearch(tab, "id", "vec", q, k)
        .select("id").as[Long].collect().toSeq
      val brute = vecs.map { case (id, v) =>
        (id, BigDecimal(v.zip(q).map { case (a, b) =>
          a.toDouble * b.toDouble }.sum)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, ip) => (-ip, id) }.take(k).map(_._1)
      assert(got == brute, s"k=$k: MIPS pruned result must equal brute")
    }
  }

  test("IVF IP serving: full probe exact, partial probe finds the MIPS blob") {
    import graft.search.IvfIndex
    // two blobs; the LARGE-NORM blob far from the origin holds every
    // top-IP row for a positive query — IP probing must rank its
    // centroid first even though the query sits nearer the other blob
    val r = new scala.util.Random(47)
    val rows = ((0 until 30).map(i =>
        (i.toLong, Array.fill(4)((r.nextGaussian() * 0.1).toFloat))) ++
      (30 until 60).map(i =>
        (i.toLong, Array.fill(4)((5.0 + r.nextGaussian() * 0.1).toFloat))))
      .toDF("vec_id", "embedding")
    val dir = "/tmp/graft_ivf_ip_test"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val model = IvfIndex.build(rows, "embedding", dir, nlist = 2)
    val q = Array.fill(4)(1.0f)
    val exact = rows
      .withColumn("ip", round(VectorFunctions.dot(col("embedding"),
        typedlit(q.toSeq)), 4))
      .orderBy(col("ip").desc, col("vec_id").asc).limit(5)
      .select("vec_id", "ip").as[(Long, Double)].collect().toSeq
    val full = IvfIndex.searchIp(spark, model, "embedding", "vec_id", q,
      k = 5, nprobe = 2).as[(Long, Double)].collect().toSeq
    assert(full == exact, "full probe must equal exact MIPS")
    // nprobe=1 must pick the big-norm blob's list: recall stays perfect
    val one = IvfIndex.searchIp(spark, model, "embedding", "vec_id", q,
      k = 5, nprobe = 1).as[(Long, Double)].collect().toSeq
    assert(one == exact, "IP probe ranked the wrong centroid first")
  }

  test("IVF range search: covering radii skip clusters, result stays exact") {
    import graft.search.IvfIndex
    val r = new scala.util.Random(67)
    // two well-separated blobs: a small radius around a blob-A query
    // must prune blob B's list entirely and still match brute force
    val rows = ((0 until 30).map(i =>
        (i.toLong, Array.fill(4)((r.nextGaussian() * 0.3).toFloat))) ++
      (30 until 60).map(i =>
        (i.toLong, Array.fill(4)((20.0 + r.nextGaussian() * 0.3).toFloat))))
      .toDF("vec_id", "embedding")
    val dir = "/tmp/graft_ivf_range_test"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val model = IvfIndex.build(rows, "embedding", dir, nlist = 2)
    val radii = IvfIndex.clusterRadiiTable(spark, model, "embedding")
      .collect().map(x => (x.getInt(0), x.getDouble(1))).toMap
    val q = rows.where(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val (rLo, rHi) = (0.0, 2.0)
    // pruning really happens: blob B's centroid is ~sqrt(1600) away,
    // far past sqrt(2.0) + its radius
    val keep = model.centroids.collect {
      case (id, c) if radii.get(id).forall(rc =>
        math.sqrt(c.zip(q).map { case (a, b) =>
          (a - b).toDouble * (a - b) }.sum) <= math.sqrt(rHi) + rc + 1e-6)
        => id
    }
    assert(keep.size == 1, s"expected 1 surviving cluster, got $keep")
    val got = IvfIndex.rangeSearch(spark, model, "embedding", "vec_id",
        q, rLo, rHi, radii)
      .as[(Long, Double)].collect().toSeq
    val brute = rows
      .withColumn("distance", round(VectorFunctions.l2Sq(col("embedding"),
        typedlit(q.toSeq)), 4))
      .where(col("distance") >= rLo && col("distance") < rHi)
      .orderBy(col("distance").asc, col("vec_id").asc)
      .select("vec_id", "distance").as[(Long, Double)].collect().toSeq
    assert(got == brute && got.nonEmpty)
  }

  test("covering radii: append invalidates, refresh restores exactness") {
    import graft.search.IvfIndex
    val r = new scala.util.Random(73)
    val rows = ((0 until 30).map(i =>
        (i.toLong, Array.fill(4)((r.nextGaussian() * 0.2).toFloat))) ++
      (30 until 60).map(i =>
        (i.toLong, Array.fill(4)((20.0 + r.nextGaussian() * 0.2).toFloat))))
      .toDF("vec_id", "embedding")
    val dir = "/tmp/graft_ivf_radii_stale_test"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val model = IvfIndex.build(rows, "embedding", dir, nlist = 2)
    val stale = IvfIndex.clusterRadiiTable(spark, model, "embedding")
      .collect().map(x => (x.getInt(0), x.getDouble(1))).toMap
    // a new member lands between the blobs, far outside its cluster's
    // OLD covering radius
    val q = Array.fill(4)(8.0f)
    IvfIndex.append(Seq((100L, q.toSeq)).toDF("vec_id", "embedding"),
      "embedding", model)
    // stale radii over-prune: the appended row (distance 0 to q) is
    // missed — exactly the documented hazard
    val withStale = IvfIndex.rangeSearch(spark, model, "embedding",
        "vec_id", q, rLo = 0.0, rHi = 1.0, stale)
      .as[(Long, Double)].collect().toSeq
    assert(withStale.isEmpty, s"stale radii should over-prune: $withStale")
    // refresh after the append batch: exactness restored
    val fresh = IvfIndex.clusterRadiiTable(spark, model, "embedding")
      .collect().map(x => (x.getInt(0), x.getDouble(1))).toMap
    val withFresh = IvfIndex.rangeSearch(spark, model, "embedding",
        "vec_id", q, rLo = 0.0, rHi = 1.0, fresh)
      .as[(Long, Double)].collect().toSeq
    assert(withFresh == Seq((100L, 0.0)), withFresh.toString)
    // round 10 — the ENFORCED path: append folded the new member into
    // the STORED radii before its data landed, so serving from the
    // index's own table (no manual refresh anywhere) is already exact
    val enforced = IvfIndex.rangeSearch(spark, model, "embedding",
        "vec_id", q, rLo = 0.0, rHi = 1.0)
      .as[(Long, Double)].collect().toSeq
    assert(enforced == Seq((100L, 0.0)),
      s"stored radii must cover the appended row: $enforced")
  }

  test("stored radii: append-then-serve equals rebuild-then-serve, " +
      "upsert folds too, audit counter fires on a violated radius") {
    import graft.search.{IndexAudit, IvfIndex}
    val r = new scala.util.Random(79)
    val rows = ((0 until 30).map(i =>
        (i.toLong, Array.fill(4)((r.nextGaussian() * 0.2).toFloat))) ++
      (30 until 60).map(i =>
        (i.toLong, Array.fill(4)((20.0 + r.nextGaussian() * 0.2).toFloat))))
      .toDF("vec_id", "embedding")
    val appendRows = Seq(
      (100L, Seq(8.0f, 8.0f, 8.0f, 8.0f)),
      (101L, Seq(12.0f, 12.0f, 12.0f, 12.0f))).toDF("vec_id", "embedding")
    val dirA = "/tmp/graft_ivf_radii_appserve_test"
    val dirB = "/tmp/graft_ivf_radii_rebuild_test"
    Seq(dirA, dirB).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val mA = IvfIndex.build(rows, "embedding", dirA, nlist = 2)
    IvfIndex.append(appendRows, "embedding", mA)
    // upsert moves id 100 further out — the fold must cover the NEW
    // vector's distance in its (possibly different) cluster
    IvfIndex.upsertBatch(Seq((100L, Seq(10.0f, 10.0f, 10.0f, 10.0f)))
      .toDF("vec_id", "embedding"), "embedding", mA, "vec_id", ver = 1)
    val q = Array.fill(4)(9.0f)
    def serve(m: IvfIndex.Model) =
      IvfIndex.rangeSearch(spark, m, "embedding", "vec_id", q,
          rLo = 0.0, rHi = 20.0)
        .as[(Long, Double)].collect().toSeq
    val got = serve(mA)
    // the rebuild baseline carries the post-upsert state of id 100
    val after = rows.unionByName(Seq(
      (100L, Seq(10.0f, 10.0f, 10.0f, 10.0f)),
      (101L, Seq(12.0f, 12.0f, 12.0f, 12.0f))).toDF("vec_id", "embedding"))
    val mB = IvfIndex.build(after, "embedding", dirB, nlist = 2)
    assert(got == serve(mB) && got.map(_._1).contains(100L),
      s"append/upsert-then-serve must equal rebuild-then-serve: $got")
    // healthy artifact: both radius counters are 0
    val healthy = IndexAudit.radiiChecks(spark, dirA, "embedding")
      .as[(String, Long)].collect().toMap
    assert(healthy == Map("ivf_radius_missing" -> 0L,
      "ivf_radius_violations" -> 0L), healthy.toString)
    // corrupt one radius (shrink to 0): the violation counter fires for
    // exactly that cluster's members
    val radii = IvfIndex.loadRadii(spark, dirA)
    val first = radii.keys.min
    IvfIndex.writeRadii(spark, dirA, radii.updated(first, 0.0))
    val fired = IndexAudit.radiiChecks(spark, dirA, "embedding")
      .as[(String, Long)].collect().toMap
    assert(fired("ivf_radius_violations") > 0L, fired.toString)
  }

  test("radii sidecar: every radius parses back bit-identical to the " +
      "recomputed table, and a batch fold only ever grows a radius") {
    import graft.search.IvfIndex
    val r = new scala.util.Random(83)
    val rows = (0 until 80).map(i => (i.toLong,
        Array.fill(4)((r.nextGaussian() * (1 + i % 5)).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = "/tmp/graft_ivf_radii_sidecar_test"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val model = IvfIndex.build(rows, "embedding", dir, nlist = 4)
    def recomputed() = IvfIndex.clusterRadiiTable(spark, model, "embedding")
      .collect().map(x => (x.getInt(0), x.getDouble(1))).toMap
    val stored = IvfIndex.loadRadii(spark, dir)
    assert(stored.map { case (c, v) => c -> java.lang.Double.doubleToLongBits(v) }
      == recomputed().map { case (c, v) =>
        c -> java.lang.Double.doubleToLongBits(v) })
    // a multi-partition batch: per-partition maxima merge on the driver
    val batch = (100 until 140).map(i => (i.toLong,
        Array.fill(4)((r.nextGaussian() * 9).toFloat)))
      .toDF("vec_id", "embedding").repartition(3)
    IvfIndex.append(batch, "embedding", model)
    val folded = IvfIndex.loadRadii(spark, dir)
    // the fold is exact: max(old, batch) per cluster IS the recompute
    assert(folded == recomputed(), s"$folded vs ${recomputed()}")
    assert(stored.forall { case (c, v) => folded(c) >= v })
  }

  test("radii fold runs before the data append: a batch whose append " +
      "fails leaves the radii enlarged, and exactSearch stays exact") {
    import graft.search.IvfIndex
    val r = new scala.util.Random(89)
    val rows = (0 until 40).map(i => (i.toLong,
        Array.fill(4)((r.nextGaussian() * 0.3).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = "/tmp/graft_ivf_radii_failed_append_test"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    val model = IvfIndex.build(rows, "embedding", dir, nlist = 2)
    val before = IvfIndex.loadRadii(spark, dir)
    // a plain file where the append's job dir must go: the assignment
    // and the fold run, then the data append fails before any row lands
    val blocker = new org.apache.hadoop.fs.Path(IvfIndex.dataDir(dir),
      "_temporary")
    fs.create(blocker, true).close()
    val far = Seq((500L, Seq(6f, 6f, 6f, 6f))).toDF("vec_id", "embedding")
    intercept[Exception](IvfIndex.upsertBatch(far, "embedding", model,
      "vec_id", ver = 1))
    fs.delete(blocker, false)
    val after = IvfIndex.loadRadii(spark, dir)
    assert(after.keySet == before.keySet &&
      before.forall { case (c, v) => after(c) >= v } &&
      after.exists { case (c, v) => v > before(c) },
      s"the fold must have enlarged a radius: $before -> $after")
    assert(IvfIndex.readData(spark, dir).count() == 40L,
      "the failed append must not have landed rows")
    val q = Array.fill(4)(0.1f)
    val got = IvfIndex.exactSearch(spark, model, "embedding", "vec_id",
        q, k = 7).as[(Long, Double)].collect().toSeq
    val brute = rows
      .withColumn("distance", round(VectorFunctions.l2Sq(col("embedding"),
        typedlit(q.toSeq)), 4))
      .orderBy(col("distance").asc, col("vec_id").asc).limit(7)
      .select("vec_id", "distance").as[(Long, Double)].collect().toSeq
    assert(got == brute)
  }

  test("an index with a pre-sidecar radii directory fails with a rebuild " +
      "message; one with no radii at all serves unpruned; a rebuild heals") {
    import graft.search.IvfIndex
    val r = new scala.util.Random(97)
    val rows = (0 until 30).map(i => (i.toLong,
        Array.fill(4)(r.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val dir = "/tmp/graft_ivf_radii_legacy_test"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    val model = IvfIndex.build(rows, "embedding", dir, nlist = 2)
    val sidecar = new org.apache.hadoop.fs.Path(p, IvfIndex.RadiiFile)
    val q = Array.fill(4)(0.2f)
    val brute = rows
      .withColumn("distance", round(VectorFunctions.l2Sq(col("embedding"),
        typedlit(q.toSeq)), 4))
      .orderBy(col("distance").asc, col("vec_id").asc).limit(5)
      .select("vec_id", "distance").as[(Long, Double)].collect().toSeq
    def exact() = IvfIndex.exactSearch(spark, model, "embedding", "vec_id",
      q, k = 5).as[(Long, Double)].collect().toSeq
    // neither sidecar nor radii dir: a pre-radii index, served unpruned
    assert(fs.delete(sidecar, false))
    assert(IvfIndex.loadRadii(spark, dir).isEmpty)
    assert(exact() == brute)
    // the pre-sidecar layout: radii as a parquet table under radii/
    Seq((0, 1.0), (1, 1.0)).toDF("cluster_id", "radius")
      .write.parquet(s"$dir/radii")
    val batch = rows.where(col("vec_id") < 2)
    Seq[(String, () => Any)](
      "loadRadii" -> (() => IvfIndex.loadRadii(spark, dir)),
      "exactSearch" -> (() => exact()),
      "upsertBatch" -> (() => IvfIndex.upsertBatch(batch, "embedding",
        model, "vec_id", ver = 1)),
      "append" -> (() => IvfIndex.append(batch, "embedding", model))
    ).foreach { case (verb, call) =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("rebuild"), s"$verb: ${e.getMessage}")
    }
    assert(IvfIndex.readData(spark, dir).count() == 30L,
      "a refused write must land nothing")
    val rebuilt = IvfIndex.build(rows, "embedding", dir, nlist = 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/radii")))
    assert(IvfIndex.loadRadii(spark, dir).size == 2)
    assert(IvfIndex.exactSearch(spark, rebuilt, "embedding", "vec_id", q,
      k = 5).as[(Long, Double)].collect().toSeq == brute)
  }

  test("IVF exact kNN: two-phase bound skips clusters, equals brute force") {
    import graft.search.IvfIndex
    val r = new scala.util.Random(71)
    val rows = ((0 until 30).map(i =>
        (i.toLong, Array.fill(4)((r.nextGaussian() * 0.3).toFloat))) ++
      (30 until 60).map(i =>
        (i.toLong, Array.fill(4)((20.0 + r.nextGaussian() * 0.3).toFloat))))
      .toDF("vec_id", "embedding")
    val dir = "/tmp/graft_ivf_exact_test"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val model = IvfIndex.build(rows, "embedding", dir, nlist = 2)
    val radii = IvfIndex.clusterRadiiTable(spark, model, "embedding")
      .collect().map(x => (x.getInt(0), x.getDouble(1))).toMap
    val q = rows.where(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val got = IvfIndex.exactSearch(spark, model, "embedding", "vec_id",
        q, k = 5, radii)
      .as[(Long, Double)].collect().toSeq
    val brute = rows
      .withColumn("distance", round(VectorFunctions.l2Sq(col("embedding"),
        typedlit(q.toSeq)), 4))
      .orderBy(col("distance").asc, col("vec_id").asc).limit(5)
      .select("vec_id", "distance").as[(Long, Double)].collect().toSeq
    assert(got == brute)
    // the far blob cannot beat the first cluster's 5th distance: its
    // lower bound is ~sqrt(1600) − radius, orders past the bound
    val kth = brute.last._2
    val farPruned = model.centroids.count { case (id, c) =>
      val d = math.sqrt(c.zip(q).map { case (a, b) =>
        (a - b).toDouble * (a - b) }.sum)
      d - radii(id) > math.sqrt(kth + 5e-5) + 1e-6
    }
    assert(farPruned == 1, "expected the far cluster to be prunable")
  }

  test("bm25: tf monotone, rare terms outweigh common, absent docs dropped") {
    import graft.search.Bm25
    val docs = Seq(
      (1L, "rare common filler filler"),
      (2L, "rare rare common filler"),    // higher tf("rare") than doc 1
      (3L, "common filler filler filler"),
      (4L, "filler filler filler filler") // no query term -> absent
    ).toDF("id", "text")
    val s = Bm25.score(docs, "id", "text", Seq("rare", "common"))
      .as[(Long, Double)].collect().toMap
    assert(!s.contains(4L))
    assert(s(2L) > s(1L))      // more "rare" occurrences
    assert(s(1L) > s(3L))      // rare term beats common-only doc
    // fused ranks: doc present in both lists beats single-list docs
    val a = Seq((1L, 1L), (2L, 2L)).toDF("id", "r_a")
    val b = Seq((1L, 2L), (9L, 1L)).toDF("id", "r_b")
    val fused = Bm25.rrfFuse(a, "r_a", b, "r_b")
      .as[(Long, Double, Option[Long], Option[Long])].collect()
      .map(t => t._1 -> t._2).toMap
    assert(fused(1L) > fused(2L) && fused(1L) > fused(9L))
    assert(math.abs(fused(1L) - (1.0 / 61 + 1.0 / 62)) < 1e-6)
  }

  test("N-leg fusion: pair calls bit-identical to the pre-N-leg " +
      "formula; tri-leg sums per leg; join-safe on same-named extras") {
    import graft.search.Bm25
    val a = Seq((1L, 1L), (2L, 2L)).toDF("id", "r_a")
    val b = Seq((1L, 2L), (9L, 1L)).toDF("id", "r_b")
    // the exact pre-round-16 pair implementation, replicated inline
    val oldPair = a.join(b, Seq("id"), "full_outer")
      .select(col("id"),
        round(coalesce(lit(1.0) / (lit(60.0) + col("r_a")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60.0) + col("r_b")), lit(0.0)),
          6).as("rrf"),
        col("r_a"), col("r_b"))
      .as[(Long, Double, Option[Long], Option[Long])]
      .collect().sortBy(_._1)
    val viaN = Bm25.rrfFuse(a, "r_a", b, "r_b")
      .as[(Long, Double, Option[Long], Option[Long])]
      .collect().sortBy(_._1)
    assert(viaN.toSeq == oldPair.toSeq)
    // tri-leg: doc 1 in all three legs, each contributes 1/(60+rank)
    val c = Seq((1L, 3L), (2L, 1L)).toDF("id", "r_c")
    val tri = Bm25.rrfFuseN(Seq(a -> "r_a", b -> "r_b", c -> "r_c"))
      .as[(Long, Double, Option[Long], Option[Long], Option[Long])]
      .collect().map(t => t._1 -> t._2).toMap
    assert(math.abs(tri(1L) - (1.0 / 61 + 1.0 / 62 + 1.0 / 63)) < 1e-6)
    assert(math.abs(tri(2L) - (1.0 / 62 + 1.0 / 61)) < 1e-6)
    assert(math.abs(tri(9L) - 1.0 / 61) < 1e-6)
    // join safety (round-16 advisory): extra same-named columns on
    // both legs must not make the fused select ambiguous
    val aX = a.withColumn("junk", lit("a"))
    val bX = b.withColumn("junk", lit("b"))
    assert(Bm25.rrfFuse(aX, "r_a", bX, "r_b").count() == 3L)
    // duplicate rank/score names are refused loudly, not mis-fused
    intercept[IllegalArgumentException] {
      Bm25.rrfFuseN(Seq(a -> "r_a", b.withColumnRenamed("r_b", "r_a")
        -> "r_a"))
    }
    intercept[IllegalArgumentException] {
      Bm25.weightedFuseN(Seq((a, "r_a", 0.5),
        (b.withColumnRenamed("r_b", "r_a"), "r_a", 0.5)))
    }
    // weighted: pair-through-N bit-identity + tri-leg weighted sum
    val sA = Seq((1L, 0.8), (2L, 0.4)).toDF("id", "s_a")
    val sB = Seq((1L, 0.6), (9L, 1.0)).toDF("id", "s_b")
    val oldW = sA.join(sB, Seq("id"), "full_outer")
      .select(col("id"),
        round(coalesce(col("s_a") * 0.3, lit(0.0))
          + coalesce(col("s_b") * 0.7, lit(0.0)), 6).as("fused"),
        col("s_a"), col("s_b"))
      .as[(Long, Double, Option[Double], Option[Double])]
      .collect().sortBy(_._1)
    val viaWN = Bm25.weightedFuse(sA, "s_a", 0.3, sB, "s_b", 0.7)
      .as[(Long, Double, Option[Double], Option[Double])]
      .collect().sortBy(_._1)
    assert(viaWN.toSeq == oldW.toSeq)
    val sC = Seq((1L, 0.5)).toDF("id", "s_c")
    val triW = Bm25.weightedFuseN(
        Seq((sA, "s_a", 0.2), (sB, "s_b", 0.3), (sC, "s_c", 0.5)))
      .as[(Long, Double, Option[Double], Option[Double], Option[Double])]
      .collect().map(t => t._1 -> t._2).toMap
    assert(math.abs(triW(1L) - (0.2 * 0.8 + 0.3 * 0.6 + 0.5 * 0.5)) < 1e-6)
    assert(math.abs(triW(2L) - 0.2 * 0.4) < 1e-6)
    assert(math.abs(triW(9L) - 0.3 * 1.0) < 1e-6)
  }
}
