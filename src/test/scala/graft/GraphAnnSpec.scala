package graft

import graft.search.GraphAnn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Build + serving contracts of the graph-ANN family (see
  * [[graft.search.GraphAnn]]): degree bound, rebuild determinism,
  * exact-equivalence in the fully-connected degenerate case, and the
  * visited-budget guard. */
class GraphAnnSpec extends SparkSpec {
  import spark.implicits._

  // 24 deterministic dim-4 vectors in two well-separated blobs, so the
  // coarse quantizer has real structure to shard on
  private lazy val corpus: DataFrame = (0 until 24).map { i =>
    val blob = if (i % 2 == 0) 0.0f else 10.0f
    (i.toLong, Seq(blob + (i % 5) * 0.1f, blob + (i % 3) * 0.2f,
      blob - (i % 7) * 0.1f, blob))
  }.toDF("vec_id", "embedding")

  private val params = GraphAnn.Params(degree = 4, nlist = 2, overlap = 2)

  test("adjacency respects the declared degree bound") {
    val deg = GraphAnn.buildAdjacency(corpus, "vec_id", "embedding", params)
      .groupBy("src").count().agg(max("count")).collect()(0).getLong(0)
    assert(deg <= params.degree, s"max out-degree $deg > ${params.degree}")
  }

  test("rebuild on the same corpus is byte-identical") {
    // two EXPLICITLY separate builds (a single `def` evaluated twice
    // would degrade to x == x under a routine def→val cleanup)
    def build() = GraphAnn
      .buildAdjacency(corpus, "vec_id", "embedding", params)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(e => (e._1, e._2)).toSeq
    val first = build()
    val second = build()
    assert(first.nonEmpty && first == second)
  }

  test("entryPoints: <= nEntries distinct corpus points, deterministic") {
    def build() = GraphAnn
      .entryPoints(corpus, "vec_id", "embedding", nEntries = 4)
      .collect().map(_.getLong(0)).sorted.toSeq
    val first = build()
    val second = build()
    assert(first == second)
    assert(first.nonEmpty && first.size <= 4 && first.distinct == first)
    val ids = corpus.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(first.forall(ids.contains), "entries must be corpus points")
  }

  test("beamSearchMulti with the medoid as sole entry equals beamSearch") {
    import spark.implicits._
    val adj = GraphAnn.buildAdjacency(corpus, "vec_id", "embedding", params)
    val entryId = GraphAnn.medoid(corpus, "vec_id", "embedding")
      .collect()(0).getLong(0)
    val q = corpus.where(col("vec_id") === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val single = GraphAnn.beamSearch(adj, corpus, "vec_id", "embedding",
        q, entryId, k = 5, beamWidth = 3, rounds = 2, degree = 4)
      .as[(Long, Double)].collect().toSeq
    val entries = corpus.where(col("vec_id") === entryId)
      .select(col("vec_id").as("entry_id"),
        col("embedding").as("entry_vec"))
    val multi = GraphAnn.beamSearchMulti(adj, corpus, "vec_id",
        "embedding", q, entries, k = 5, beamWidth = 3, rounds = 2,
        degree = 4, nSeeds = 1)
      .as[(Long, Double)].collect().toSeq
    assert(single.nonEmpty && multi == single)
  }

  test("nlistForCorpus keeps shard size ~constant (linear candidate work)") {
    assert(GraphAnn.nlistForCorpus(24) == 2)        // floored
    assert(GraphAnn.nlistForCorpus(256000) == 1000) // 256k / 256
    // shard size n/nlist stays within the target across three decades
    Seq(4000L, 16000L, 64000L, 256000L, 1024000L).foreach { n =>
      val shard = n.toDouble / GraphAnn.nlistForCorpus(n)
      assert(shard <= 256.0 && shard > 64.0,
        s"n=$n: shard size $shard drifted off the 256 target")
    }
  }

  test("default Params auto-sizes nlist from the corpus") {
    // nlist=0 (default) must resolve via nlistForCorpus instead of a
    // fixed constant — the fixed-16 quadratic-onset defect
    val adj = GraphAnn.buildAdjacency(corpus, "vec_id", "embedding",
      GraphAnn.Params(degree = 4))
    val deg = adj.groupBy("src").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(deg <= 4)
    assert(adj.select("src").distinct().count() == 24)
  }

  test("medoid is a single deterministic entry point") {
    val m1 = GraphAnn.medoid(corpus, "vec_id", "embedding").collect()
    val m2 = GraphAnn.medoid(corpus, "vec_id", "embedding").collect()
    assert(m1.length == 1 && m1(0).getLong(0) == m2(0).getLong(0))
  }

  test("fully-connected degenerate case: beam search equals exact search") {
    // overlap = nlist ⇒ every node co-shards with every other; with
    // degree ≥ n the graph is complete, round 1 visits the whole corpus,
    // and the beam result must be EXACTLY the brute-force top-k
    val full = GraphAnn.Params(degree = 23, nlist = 2, overlap = 2)
    val adj = GraphAnn.buildAdjacency(corpus, "vec_id", "embedding", full)
    val entry = GraphAnn.medoid(corpus, "vec_id", "embedding")
      .collect()(0).getLong(0)
    val query = Array(10.0f, 10.0f, 10.0f, 10.0f)
    val got = GraphAnn.beamSearch(adj, corpus, "vec_id", "embedding",
        query, entry, k = 5, beamWidth = 4, rounds = 3, degree = 23)
      .collect().map(_.getLong(0)).toSeq
    val exact = corpus
      .select(col("vec_id"), round(graft.functions.VectorFunctions.l2Sq(
        col("embedding"), typedlit(query.toSeq)), 4).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact, s"beam $got != exact $exact")
  }

  test("sequential appends equal a full rebuild (complete-graph case)") {
    // degree ≥ n and overlap = nlist ⇒ both the rebuild and the appends
    // produce the complete graph with identical rounded distances — the
    // deterministic case where append ≡ rebuild holds exactly
    val full = GraphAnn.Params(degree = 12, nlist = 2, overlap = 2)
    val base = corpus.where(col("vec_id") < 10)
    val adj0 = GraphAnn.buildAdjacency(base, "vec_id", "embedding", full)
    val entry = GraphAnn.medoid(base, "vec_id", "embedding")
      .collect()(0).getLong(0)
    val r1 = GraphAnn.append(adj0, base, "vec_id", "embedding",
      corpus.where(col("vec_id") === 10), entry,
      degree = 12, beamWidth = 12, rounds = 3)
    val c11 = corpus.where(col("vec_id") < 11)
    val r2 = GraphAnn.append(r1.adjacency, c11, "vec_id", "embedding",
      corpus.where(col("vec_id") === 11), entry,
      degree = 12, beamWidth = 12, rounds = 3)
    def edges(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(e => (e._1, e._2)).toSeq
    val rebuilt = GraphAnn.buildAdjacency(
      corpus.where(col("vec_id") < 12), "vec_id", "embedding", full)
    assert(edges(r2.adjacency) == edges(rebuilt))
  }

  test("append keeps the degree bound and touches only affected srcs") {
    val adj0 = GraphAnn.buildAdjacency(corpus, "vec_id", "embedding", params)
    val entry = GraphAnn.medoid(corpus, "vec_id", "embedding")
      .collect()(0).getLong(0)
    val batch = Seq(
      (100L, Seq(0.05f, 0.1f, -0.05f, 0.0f)),
      (101L, Seq(10.05f, 10.1f, 9.95f, 10.0f)))
      .toDF("vec_id", "embedding")
    val r = GraphAnn.append(adj0, corpus, "vec_id", "embedding", batch,
      entry, degree = params.degree, beamWidth = 4, rounds = 3)
    assert(r.links.count() > 0)
    val maxDeg = r.adjacency.groupBy("src").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxDeg <= params.degree, s"post-append degree $maxDeg")
    // untouched srcs' rows pass through byte-identically
    val affected = r.links.select(col("src")).unionByName(
      r.links.select(col("dst").as("src"))).distinct()
      .collect().map(_.getLong(0)).toSet
    val before = adj0.collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1), r0.getDouble(2)))
      .filterNot(e => affected.contains(e._1)).sortBy(e => (e._1, e._2))
    val after = r.adjacency.collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1), r0.getDouble(2)))
      .filterNot(e => affected.contains(e._1)).sortBy(e => (e._1, e._2))
    assert(before.toSeq == after.toSeq)
  }

  test("bulk beam search equals the per-query walk") {
    val adj = GraphAnn.buildAdjacency(corpus, "vec_id", "embedding", params)
    val entry = GraphAnn.medoid(corpus, "vec_id", "embedding")
      .collect()(0).getLong(0)
    val queries = corpus.where(col("vec_id").isin(1L, 6L, 17L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val bulk = GraphAnn.bulkBeamSearch(adj, corpus, "vec_id", "embedding",
        queries, "qid", "qv", entry, k = 5, beamWidth = 4, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(identity))
      .toMap
    Seq(1L, 6L, 17L).foreach { qid =>
      val qv = corpus.where(col("vec_id") === qid)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      val single = GraphAnn.beamSearch(adj, corpus, "vec_id", "embedding",
          qv, entry, k = 5, beamWidth = 4, rounds = 3,
          degree = params.degree)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(identity)
      assert(bulk(qid).toSeq == single.toSeq, s"qid=$qid bulk != single")
    }
  }

  test("MIPS walk: complete graph serves exact IP top-k, ip is exact") {
    import graft.functions.VectorFunctions
    // degree ≥ n ⇒ complete graph: one round from any entry visits the
    // whole corpus, so each similarity walk's result must equal the
    // EXACT top-k with the (score desc, id asc) ordering it advertises
    val full = GraphAnn.Params(degree = 24, nlist = 2, overlap = 2)
    val adj = GraphAnn.buildAdjacency(corpus, "vec_id", "embedding", full)
    val entryId = GraphAnn.medoid(corpus, "vec_id", "embedding")
      .collect()(0).getLong(0)
    val q = corpus.where(col("vec_id") === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val qLit = typedlit(q.toSeq)
    Seq(
      ("mips", GraphAnn.beamSearchMips(adj, corpus, "vec_id", "embedding",
          q, entryId, k = 5, beamWidth = 1, rounds = 1, degree = 24),
        VectorFunctions.dot(col("embedding"), qLit)),
      ("cosine", GraphAnn.beamSearchCosine(adj, corpus, "vec_id",
          "embedding", q, entryId, k = 5, beamWidth = 1, rounds = 1,
          degree = 24),
        VectorFunctions.cosineSim(col("embedding"), qLit))
    ).foreach { case (name, walk, score) =>
      val got = walk.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val exact = corpus.select(col("vec_id"), round(score, 4))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy { case (id, s) => (-s, id) }.take(5).toSeq
      assert(got == exact, s"$name walk $got != exact $exact")
    }
  }

  test("lsh build: degree bound, rebuild determinism, servable adjacency") {
    // the training-free huge-corpus tier must honor the same contracts
    // as the trained-quantizer build: degree cap, byte-identical
    // rebuilds (md5-derived planes), and an adjacency the beam walk can
    // serve unchanged
    def build() = GraphAnn.buildAdjacencyLsh(corpus, "vec_id", "embedding",
      dim = 4, degree = 4)
    val adj = build()
    val deg = adj.groupBy("src").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(deg <= 4, s"lsh-build max out-degree $deg > 4")
    def edges(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(e => (e._1, e._2)).toSeq
    val first = edges(adj)
    assert(first.nonEmpty && first == edges(build()))
    val entry = GraphAnn.medoid(corpus, "vec_id", "embedding")
      .collect()(0).getLong(0)
    val got = GraphAnn.beamSearch(adj, corpus, "vec_id", "embedding",
      Array(10.0f, 10.0f, 10.0f, 10.0f), entry, k = 3, beamWidth = 4,
      rounds = 3, degree = 4)
    assert(got.count() >= 1)
  }

  test("filtered beam: result honors the predicate, walk stays label-blind") {
    // complete graph ⇒ visited = whole corpus after round 1, so the
    // filtered result must be EXACTLY the brute-force filtered top-k
    val full = GraphAnn.Params(degree = 23, nlist = 2, overlap = 2)
    val adj = GraphAnn.buildAdjacency(corpus, "vec_id", "embedding", full)
    val entry = GraphAnn.medoid(corpus, "vec_id", "embedding")
      .collect()(0).getLong(0)
    val labeled = corpus.withColumn("label",
      (col("vec_id") % 3).cast("int"))
    val query = Array(10.0f, 10.0f, 10.0f, 10.0f)
    val got = GraphAnn.filteredBeamSearch(adj, labeled, "vec_id",
        "embedding", query, entry, predicate = col("label") === 1,
        k = 5, beamWidth = 4, rounds = 3, degree = 23)
      .collect().map(_.getLong(0)).toSeq
    val exact = labeled.where(col("label") === 1)
      .select(col("vec_id"), round(graft.functions.VectorFunctions.l2Sq(
        col("embedding"), typedlit(query.toSeq)), 4).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact, s"filtered beam $got != filtered exact $exact")
    assert(got.forall(_ % 3 == 1))
  }

  test("filteredBeamSearchIds: id-set path row-identical to the " +
      "predicate path on the same budget") {
    val full = GraphAnn.Params(degree = 23, nlist = 2, overlap = 2)
    val adj = GraphAnn.buildAdjacency(corpus, "vec_id", "embedding", full)
    val entry = GraphAnn.medoid(corpus, "vec_id", "embedding")
      .collect()(0).getLong(0)
    val labeled = corpus.withColumn("label",
      (col("vec_id") % 3).cast("int"))
    val query = Array(10.0f, 10.0f, 10.0f, 10.0f)
    // the id set a scalar-index lookup would return for label = 1
    val allowed = labeled.where(col("label") === 1).select("vec_id")
    val byIds = GraphAnn.filteredBeamSearchIds(adj, labeled, "vec_id",
        "embedding", query, entry, allowed, k = 5, beamWidth = 4,
        rounds = 3, degree = 23)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val byPred = GraphAnn.filteredBeamSearch(adj, labeled, "vec_id",
        "embedding", query, entry, predicate = col("label") === 1,
        k = 5, beamWidth = 4, rounds = 3, degree = 23)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(byIds == byPred && byIds.nonEmpty,
      s"id-set $byIds != predicate $byPred")
    assert(byIds.forall(_._1 % 3 == 1))
  }

  test("filtered beam with an always-true predicate equals beamSearch") {
    val full = GraphAnn.Params(degree = 23, nlist = 2, overlap = 2)
    val adj = GraphAnn.buildAdjacency(corpus, "vec_id", "embedding", full)
    val entry = GraphAnn.medoid(corpus, "vec_id", "embedding")
      .collect()(0).getLong(0)
    val query = Array(0.5f, 0.5f, 0.5f, 0.5f)
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = rows(GraphAnn.beamSearch(adj, corpus, "vec_id", "embedding",
      query, entry, k = 5, beamWidth = 4, rounds = 3, degree = 23))
    // selectivity 1.0 keeps the base width; the medoid is the only seed
    Seq(
      "filteredBeamSearch" -> GraphAnn.filteredBeamSearch(adj, corpus,
        "vec_id", "embedding", query, entry, predicate = lit(true), k = 5,
        beamWidth = 4, rounds = 3, degree = 23),
      "filteredBeamSearchMulti" -> GraphAnn.filteredBeamSearchMulti(adj,
        corpus, "vec_id", "embedding", query,
        Seq(entry).toDF("entry_id"), predicate = lit(true), k = 5,
        selectivity = 1.0, baseBeamWidth = 4, rounds = 3, degree = 23)
    ).foreach { case (name, df) => assert(rows(df) == b, name) }
  }

  test("alpha-RNG prune: diversity edges bridge what capped-kNN cliques " +
      "cannot, recall strictly improves at equal degree") {
    // ladder of 10 micro-clusters x 9 near-duplicate points along a
    // line: every point's 8 nearest are its siblings, so the capped-kNN
    // build at degree 8 spends ALL slots inside the clique and the
    // graph never bridges clusters; the alpha-prune dominates siblings
    // (a near-dupe covers a near-dupe) and keeps the adjacent-cluster
    // survivors instead, so the same degree budget buys connectivity.
    val pts = for (c <- 0 until 10; j <- 0 until 9) yield {
      val base = 3.0f * c
      ((c * 9 + j).toLong,
        Array(base + j * 0.001f, j * 0.001f, 0.0f, 0.0f))
    }
    val rows = pts.toDF("vec_id", "embedding")
    val p = GraphAnn.Params(degree = 8, nlist = 2, overlap = 2)
    val plain = GraphAnn.buildAdjacency(rows, "vec_id", "embedding", p)
    val pruned = GraphAnn.buildAdjacencyPruned(rows, "vec_id",
      "embedding", p, alpha = 1.2, candCap = 16)
    // both honor the degree cap
    for (adj <- Seq(plain, pruned)) {
      val deg = adj.groupBy("src").count()
        .agg(max("count")).collect()(0).getLong(0)
      assert(deg <= 8)
    }
    val entry = GraphAnn.medoid(rows, "vec_id", "embedding")
      .collect()(0).getLong(0)
    // query at the far end of the ladder
    val q = Array(27.0f, 0.0f, 0.0f, 0.0f)
    val exact = rows.select(col("vec_id"),
        round(graft.functions.VectorFunctions.l2Sq(col("embedding"),
          typedlit(q.toSeq)), 4).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(5)
      .collect().map(_.getLong(0)).toSet
    def recallOf(adj: org.apache.spark.sql.DataFrame): Double = {
      val got = GraphAnn.beamSearch(adj, rows, "vec_id", "embedding", q,
          entry, k = 5, beamWidth = 4, rounds = 10, degree = 8)
        .collect().map(_.getLong(0)).toSet
      got.intersect(exact).size / 5.0
    }
    val (rPlain, rPruned) = (recallOf(plain), recallOf(pruned))
    assert(rPruned > rPlain,
      s"prune must bridge the ladder: pruned=$rPruned plain=$rPlain")
    assert(rPruned == 1.0, s"pruned walk should reach the far end: $rPruned")
  }

  test("beamSearchPq: exact-rerank contract, determinism, walk coverage") {
    import graft.search.Pq
    val adj = GraphAnn.buildAdjacency(corpus, "vec_id", "embedding", params)
    val entry = GraphAnn.medoid(corpus, "vec_id", "embedding")
      .collect()(0).getLong(0)
    val pqDir = java.nio.file.Files
      .createTempDirectory("graft_pqwalk_spec").toString
    val model = Pq.build(corpus, "embedding", "vec_id", pqDir,
      m = 2, kCodes = 8, dim = 4)
    val codes = spark.read.parquet(Pq.codesDir(pqDir))
    val q = corpus.where(col("vec_id") === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    def run() = GraphAnn.beamSearchPq(adj, codes, corpus, "vec_id",
        "embedding", q, model, entry, k = 5, beamWidth = 4, rounds = 3,
        degree = params.degree)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSeq
    val first = run()
    val second = run()
    assert(first == second, "PQ-scored walk must be deterministic")
    assert(first.size == 5)
    // the reported `distance` is EXACT (rerank contract): recompute it
    // independently of the walk for every returned id
    val exact = corpus.collect().map { r =>
      val v = r.getSeq[Float](1)
      val d = v.zip(q).map { case (a, b) =>
        (a.toDouble - b.toDouble) * (a.toDouble - b.toDouble) }.sum
      r.getLong(0) -> math.rint(d * 1e4) / 1e4
    }.toMap
    first.foreach { case (id, _, d) =>
      assert(d == exact(id), s"rerank distance of $id drifted: $d")
    }
    // ranked by exact distance, id tie-break — not by the ADC score
    assert(first.map { case (id, _, d) => (d, id) } ==
      first.map { case (id, _, d) => (d, id) }.sorted)
  }

  test("sampled selectivity estimate: exact under the cap, bounded " +
      "error and deterministic over it") {
    import spark.implicits._
    val n = 4000L
    val df = (0L until n).map(i =>
        (i, Seq((i % 977).toFloat, (i % 31).toFloat), i % 10))
      .toDF("vec_id", "embedding", "label")
    val pred = col("label") < 3 // true selectivity 0.3
    val exactSel = GraphAnn.estimateSelectivity(df, pred)
    assert(math.abs(exactSel - 0.3) < 1e-9)
    // under the cap: sampled ≡ exact (the TrainSample contract —
    // small-fixture oracles stay byte-identical)
    assert(GraphAnn.estimateSelectivitySampled(df, pred,
      col("embedding"), n, cap = 8192) == exactSel)
    // over the cap: order-of-magnitude accuracy is the contract (the
    // derived beam width is a clamp); this fixture's hash sample lands
    // well inside ±0.1 absolute, and the estimate is a pure function
    // of the values — two calls agree exactly
    val s1 = GraphAnn.estimateSelectivitySampled(df, pred,
      col("embedding"), n, cap = 512)
    val s2 = GraphAnn.estimateSelectivitySampled(df, pred,
      col("embedding"), n, cap = 512)
    assert(s1 == s2, "hash sample must be deterministic")
    assert(math.abs(s1 - exactSel) <= 0.1,
      s"sampled estimate drifted past the bound: $s1 vs $exactSel")
  }

  test("visited-budget guard rejects an over-degree adjacency") {
    // an adjacency with true degree 23 walked under a declared degree of
    // 1 must trip the budget require instead of silently ballooning
    val full = GraphAnn.Params(degree = 23, nlist = 2, overlap = 2)
    val adj = GraphAnn.buildAdjacency(corpus, "vec_id", "embedding", full)
    val ex = intercept[IllegalArgumentException] {
      GraphAnn.beamSearch(adj, corpus, "vec_id", "embedding",
        Array(0.0f, 0.0f, 0.0f, 0.0f), entryId = 0L,
        k = 5, beamWidth = 1, rounds = 2, degree = 1)
    }
    assert(ex.getMessage.contains("budget"))
  }

  test("layered walk: the sampled upper layer crosses the corpus in " +
      "fewer rounds than the flat walk, sample is deterministic") {
    import graft.search.GraphAnn
    // a CHAIN corpus — 16 rungs of 6 nodes along x, 3.0 apart: every
    // node's 8 base-graph neighbors span at most the adjacent rung, so
    // a flat medoid-seeded walk advances ~1 rung per round and cannot
    // reach the far end within the budget. The ~30% upper sample has
    // ~2 nodes per rung, so ITS 8-degree adjacency spans several rungs
    // per hop — the HNSW upper-layer point: a sparser layer's edges
    // are longer relative to scale, so the zoom crosses the corpus in
    // fewer rounds, and the base walk only refines locally.
    val r = new scala.util.Random(7)
    val corpus = (0 until 96).map { i =>
      val rung = i / 6
      (i.toLong, Array(
        (rung * 3.0 + r.nextGaussian() * 0.2).toFloat,
        (r.nextGaussian() * 0.2).toFloat,
        (r.nextGaussian() * 0.2).toFloat,
        (r.nextGaussian() * 0.2).toFloat))
    }.toDF("vec_id", "embedding")
    val adj = GraphAnn.buildAdjacency(corpus, "vec_id", "embedding")
    val sample = GraphAnn.upperSample(corpus, "vec_id", ppm = 300000)
    // deterministic membership: same cut twice
    assert(sample.select("vec_id").as[Long].collect().sorted.toSeq ==
      GraphAnn.upperSample(corpus, "vec_id", ppm = 300000)
        .select("vec_id").as[Long].collect().sorted.toSeq)
    val uadj = GraphAnn.buildAdjacency(sample, "vec_id", "embedding")
    // flat serving seeds at the CORPUS medoid; the upper walk at the
    // SAMPLE's own medoid (a sample member — it must source upper
    // edges). Both sit mid-chain.
    val fent = GraphAnn.medoid(corpus, "vec_id", "embedding")
    val uent = GraphAnn.medoid(sample, "vec_id", "embedding")
    val query = Array(45.0f, 0f, 0f, 0f) // the LAST rung's center
    val exact = corpus.withColumn("d",
        graft.functions.VectorFunctions.l2Sq(col("embedding"),
          typedlit(query.toSeq)))
      .orderBy(col("d").asc, col("vec_id").asc)
      .select("vec_id").as[Long].head(5).toSet
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").as[Long].collect().toSet
    val flat = ids(GraphAnn.beamSearchMulti(adj, corpus, "vec_id",
      "embedding", query, fent, k = 5, beamWidth = 4, rounds = 4,
      degree = 8, nSeeds = 1))
    val layered = ids(GraphAnn.layeredSearchMulti(Seq(uadj), uent, adj,
      corpus, "vec_id", "embedding", query, k = 5, beamWidth = 4,
      upperRounds = 4, rounds = 4, degree = 8, nSeeds = 2))
    assert(flat.intersect(exact).isEmpty,
      s"fixture broken: the flat walk crossed the chain in 4 rounds " +
        s"($flat)")
    assert(layered == exact,
      s"layered walk must reach the far rung: $layered vs $exact")
  }

  /** The chain fixture shared by the round-13 layered tests: 16 rungs
    * of 6 nodes, the layered-walk test's shape. */
  private def chainFixture(): (DataFrame, DataFrame, DataFrame,
      DataFrame, DataFrame) = {
    val r = new scala.util.Random(7)
    val c = (0 until 96).map { i =>
      val rung = i / 6
      (i.toLong, Array(
        (rung * 3.0 + r.nextGaussian() * 0.2).toFloat,
        (r.nextGaussian() * 0.2).toFloat,
        (r.nextGaussian() * 0.2).toFloat,
        (r.nextGaussian() * 0.2).toFloat))
    }.toDF("vec_id", "embedding")
    val adj = GraphAnn.buildAdjacency(c, "vec_id", "embedding")
    val sample = GraphAnn.upperSample(c, "vec_id", ppm = 300000)
    val uadj = GraphAnn.buildAdjacency(sample, "vec_id", "embedding")
    (c, adj, uadj, GraphAnn.medoid(c, "vec_id", "embedding"),
      GraphAnn.medoid(sample, "vec_id", "embedding"))
  }

  test("masked layered walk: a tombstoned top-5 doc is never served, " +
      "and layered-masked == flat-masked top-k") {
    val (c, adj, uadj, fent, uent) = chainFixture()
    val query = Array(45.0f, 0f, 0f, 0f)
    def ids(df: DataFrame): Seq[Long] =
      df.select("vec_id").as[Long].collect().toSeq
    // enough rounds that BOTH serves reach the far rung exactly
    val plain = ids(GraphAnn.layeredSearchMulti(Seq(uadj), uent, adj, c,
      "vec_id", "embedding", query, k = 5, beamWidth = 4,
      upperRounds = 4, rounds = 4, degree = 8, nSeeds = 2))
    // tombstone the layered top-1 AND the first upper seed: the masked
    // serve must re-seed the zoom handoff and drop the deleted doc
    val upperSeed1 = GraphAnn.beamSearchMulti(uadj, c, "vec_id",
        "embedding", query, uent, k = 1, beamWidth = 4, rounds = 4,
        degree = 8, nSeeds = 1)
      .select("vec_id").as[Long].collect()(0)
    val deletes = Seq(plain.head, upperSeed1).distinct.toDF("vec_id")
    val masked = ids(GraphAnn.layeredSearchMultiMasked(Seq(uadj), uent,
      adj, c, "vec_id", "embedding", query, k = 5, deletes, beamWidth = 4,
      upperRounds = 4, rounds = 4, degree = 8, nSeeds = 2))
    assert(!masked.contains(plain.head),
      "the tombstoned doc must be masked from the layered serve")
    assert(masked.size == 5)
    // flat-masked reference: beam the BASE graph with a budget that
    // reaches the far rung, mask, top-5 — the overlay-consistency
    // contract: layered-masked serves exactly what flat-masked serves
    val fentId = fent.collect()(0).getLong(0)
    val flatMasked = ids(GraphAnn.beamSearchMasked(adj, c, "vec_id",
      "embedding", query, fentId, k = 5, deletes, beamWidth = 4,
      rounds = 16, degree = 8))
    assert(masked == flatMasked,
      s"layered-masked $masked != flat-masked $flatMasked")
  }

  test("bulk masked layered serve equals the per-query masked walk") {
    val (c, adj, uadj, _, uent) = chainFixture()
    val deletes = Seq(90L, 91L, 34L).toDF("vec_id")
    val queries = Seq(
      (0L, Array(45.0f, 0f, 0f, 0f).toSeq),
      (1L, Array(3.0f, 0f, 0f, 0f).toSeq)).toDF("qid", "qv")
    val uentId = uent.collect()(0).getLong(0)
    val bulk = GraphAnn.layeredSearchBulkMasked(uadj, uentId, adj, c,
        "vec_id", "embedding", queries, "qid", "qv", k = 5, deletes,
        beamWidth = 4, upperRounds = 4, rounds = 4, nSeeds = 2)
      .select("qid", "vec_id", "distance")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(x => (x._1, x._3, x._2))
    val single = queries.collect().flatMap { qr =>
      val qv = qr.getSeq[Float](1).toArray
      GraphAnn.layeredSearchMultiMasked(Seq(uadj), uent, adj, c,
          "vec_id", "embedding", qv, k = 5, deletes, beamWidth = 4,
          upperRounds = 4, rounds = 4, degree = 8, nSeeds = 2)
        .collect().map(r => (qr.getLong(0), r.getLong(0), r.getDouble(1)))
    }.toSeq.sortBy(x => (x._1, x._3, x._2))
    assert(bulk.nonEmpty && bulk == single)
    assert(bulk.forall { case (_, id, _) => !Set(90L, 91L, 34L)(id) })
    val bulkPlain = GraphAnn.layeredSearchBulk(uadj, uentId, adj, c,
        "vec_id", "embedding", queries, "qid", "qv", k = 5,
        beamWidth = 4, upperRounds = 4, rounds = 4, nSeeds = 2)
      .select("qid", "vec_id", "distance")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(x => (x._1, x._3, x._2))
    val singlePlain = queries.collect().flatMap { qr =>
      val qv = qr.getSeq[Float](1).toArray
      GraphAnn.layeredSearchMulti(Seq(uadj), uent, adj, c, "vec_id",
          "embedding", qv, k = 5, beamWidth = 4, upperRounds = 4,
          rounds = 4, degree = 8, nSeeds = 2)
        .collect().map(r => (qr.getLong(0), r.getLong(0), r.getDouble(1)))
    }.toSeq.sortBy(x => (x._1, x._3, x._2))
    assert(bulkPlain.nonEmpty && bulkPlain == singlePlain)
  }

  test("multi-level walk: nested level samples, 2-level stack reaches " +
      "the far rung with bounded per-level walks") {
    val (c, adj, _, _, _) = chainFixture()
    // nesting: level-2 members are level-1 members (same hash, smaller
    // cut) — at the test ppm 300000 -> level2 cut 90000
    val l1 = GraphAnn.levelSample(c, "vec_id", level = 1, ppm = 300000)
      .select("vec_id").as[Long].collect().toSet
    val l2 = GraphAnn.levelSample(c, "vec_id", level = 2, ppm = 300000)
      .select("vec_id").as[Long].collect().toSet
    assert(l2.nonEmpty && l2.subsetOf(l1) && l2.size < l1.size)
    assert(GraphAnn.levelPpm(1) == 135335)
    val adj1 = GraphAnn.buildAdjacency(
      c.where(col("vec_id").isin(l1.toSeq: _*)), "vec_id", "embedding")
    val adj2 = GraphAnn.buildAdjacency(
      c.where(col("vec_id").isin(l2.toSeq: _*)), "vec_id", "embedding")
    val topEnt = GraphAnn.medoid(
      c.where(col("vec_id").isin(l2.toSeq: _*)), "vec_id", "embedding")
    val query = Array(45.0f, 0f, 0f, 0f)
    val exact = c.withColumn("d",
        graft.functions.VectorFunctions.l2Sq(col("embedding"),
          typedlit(query.toSeq)))
      .orderBy(col("d").asc, col("vec_id").asc)
      .select("vec_id").as[Long].head(5).toSet
    val multi = GraphAnn.layeredSearchMulti(Seq(adj2, adj1), topEnt,
        adj, c, "vec_id", "embedding", query, k = 5, beamWidth = 4,
        upperRounds = 4, rounds = 4, degree = 8, nSeeds = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(multi == exact,
      s"multi-level walk must reach the far rung: $multi vs $exact")
  }

  test("multi-level stack maintenance: nested membership ingest, " +
      "masked multi == flat masked, root fold re-elects the top entry") {
    val (c0, adj0, _, fent, _) = chainFixture()
    val l1 = GraphAnn.levelSample(c0, "vec_id", 1, ppm = 300000)
    val l2 = GraphAnn.levelSample(c0, "vec_id", 2, ppm = 300000)
    val adj1 = GraphAnn.buildAdjacency(l1, "vec_id", "embedding")
    val adj2 = GraphAnn.buildAdjacency(l2, "vec_id", "embedding")
    val e1 = GraphAnn.medoid(l1, "vec_id", "embedding")
      .collect()(0).getLong(0)
    val tent = GraphAnn.medoid(l2, "vec_id", "embedding")
    val tentId = tent.collect()(0).getLong(0)
    // ingest: a 32-row batch planted past the far rung — per-level
    // membership must follow the NESTED hash cuts
    val batch = (200L until 232L).map { i =>
      (i, Array((16 * 3.0 + (i % 4) * 0.1).toFloat, 0.1f, 0f, 0f))
    }.toDF("vec_id", "embedding")
    val res = GraphAnn.appendLayeredMulti(adj0, Seq(adj2, adj1), c0,
      "vec_id", "embedding", batch, fent.collect()(0).getLong(0),
      Seq(tentId, e1), ppm = 300000)
    val exp1 = batch.where(GraphAnn.upperMember("vec_id",
        GraphAnn.levelPpm(1, 300000))).select("vec_id")
      .as[Long].collect().toSeq.sorted
    val exp2 = batch.where(GraphAnn.upperMember("vec_id",
        GraphAnn.levelPpm(2, 300000))).select("vec_id")
      .as[Long].collect().toSeq.sorted
    assert(res.levelIds == Seq(exp2, exp1) && exp1.nonEmpty,
      s"nested membership must follow the hash cuts: ${res.levelIds}")
    assert(exp2.toSet.subsetOf(exp1.toSet),
      "a level-2 member must be a level-1 member")
    // masked multi-level serve == flat masked on the grown stack
    val c1 = c0.unionByName(batch)
    val query = Array(45.0f, 0f, 0f, 0f)
    val plain = GraphAnn.layeredSearchMulti(Seq(res.adjLayers(0),
        res.adjLayers(1)), tent, res.adjacency, c1, "vec_id",
        "embedding", query, k = 5, beamWidth = 4, upperRounds = 4,
        rounds = 4, degree = 8, nSeeds = 2)
      .select("vec_id").as[Long].collect().toSeq
    val dels = Seq(plain.head).toDF("vec_id")
    val masked = GraphAnn.layeredSearchMultiMasked(Seq(res.adjLayers(0),
        res.adjLayers(1)), tent, res.adjacency, c1, "vec_id",
        "embedding", query, k = 5, dels, beamWidth = 4,
        upperRounds = 4, rounds = 4, degree = 8, nSeeds = 2)
      .select("vec_id").as[Long].collect().toSeq
    val flatMasked = GraphAnn.beamSearchMasked(res.adjacency, c1,
        "vec_id", "embedding", query, fent.collect()(0).getLong(0),
        k = 5, dels, beamWidth = 4, rounds = 16, degree = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(!masked.contains(plain.head) && masked == flatMasked,
      s"multi-masked $masked != flat-masked $flatMasked")
    // root verb over the 2-level layout: fold deletes of the TOP entry
    // itself — the re-elected top entry must differ and source edges
    val root = "/tmp/graft_multilayer_root_spec"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    graft.search.AliasedIndex.init(spark, root) { v1 =>
      res.adjacency.write.parquet(GraphAnn.adjacencyDir(v1))
      fent.write.parquet(GraphAnn.entriesDir(v1))
      res.adjLayers(1).write.parquet(
        GraphAnn.upperAdjacencyLevelDir(v1, 1))
      res.adjLayers(0).write.parquet(
        GraphAnn.upperAdjacencyLevelDir(v1, 2))
      tent.write.parquet(GraphAnn.topEntriesDir(v1))
    }
    GraphAnn.consolidateDeletesMultiRoot(spark, root, c1, "vec_id",
      "embedding", Seq(tentId).toDF("vec_id"), levels = 2)
    val cur = graft.search.AliasedIndex.currentDir(spark, root)
    val te2 = spark.read.parquet(GraphAnn.topEntriesDir(cur))
      .select("entry_id").as[Long].collect().toSeq
    val l2srcs = spark.read.parquet(
        GraphAnn.upperAdjacencyLevelDir(cur, 2))
      .select("src").as[Long].collect().toSet
    assert(te2.nonEmpty && !te2.contains(tentId)
      && te2.forall(l2srcs.contains),
      s"top entry must re-elect to an edge-sourcing L2 survivor: $te2")
  }

  test("layered ingest + consolidation: membership by hash rule, " +
      "audit counters fire and clear, root publish is atomic") {
    import graft.search.IndexAudit
    val (c0, adj0, uadj0, fent, uent) = chainFixture()
    // ingest a batch planted past the far rung; ids chosen so the ppm
    // rule samples SOME of them into the upper layer
    val batch = (200L until 216L).map { i =>
      (i, Array((16 * 3.0 + (i % 4) * 0.1).toFloat, 0.1f, 0f, 0f))
    }.toDF("vec_id", "embedding")
    val res = GraphAnn.appendLayeredMulti(adj0, Seq(uadj0), c0, "vec_id",
      "embedding", batch, baseEntryId = fent.collect()(0).getLong(0),
      layerEntryIds = Seq(uent.collect()(0).getLong(0)))
    val (upperIds, adjUpper) = (res.levelIds.head, res.adjLayers.head)
    val expectedUpper = batch
      .where(GraphAnn.upperMember("vec_id")).select("vec_id")
      .as[Long].collect().toSeq.sorted
    assert(upperIds == expectedUpper && expectedUpper.nonEmpty,
      s"upper membership must follow the hash rule: $upperIds")
    val c1 = c0.unionByName(batch)
    // healthy post-ingest: membership/orphan/entry counters all 0
    // (test-ppm upper layer carries DEFAULT-rule violators, so check
    // against the ppm the fixture sampled with... the upper layer here
    // was built at ppm=300000, so audit with the same cut)
    val empty = spark.emptyDataset[Long].toDF("vec_id")
    val h = IndexAudit.upperLayerChecks(adjUpper, uent, c1,
        "vec_id", empty, ppm = 300000)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(h("upper_orphans") == 0L && h("upper_entry_dead") == 0L)
    // the DEFAULT-ppm batch members were appended at ppm=135335 — a
    // subset of the 300000 cut, so membership violations stay 0 too
    assert(h("upper_membership_violations") == 0L)
    // delete a rung of docs including an upper node: counters fire
    val upperNode = adjUpper.select(col("src").as("vec_id"))
      .as[Long].collect().head
    val dels = Seq(upperNode).toDF("vec_id")
    val fired = IndexAudit.upperLayerChecks(
        GraphAnn.consolidateDeletes(adjUpper, c1, "vec_id",
          "embedding", dels),
        uent, c1.join(dels, Seq("vec_id"), "left_anti"), "vec_id",
        dels, ppm = 300000)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // after folding the upper adjacency the deleted node is gone from
    // the layer (no orphans), and the entry is dead only if it WAS the
    // deleted node or lost all out-edges
    assert(fired("upper_orphans") == 0L)
    // root verb: four artifacts, aliased publish, masked serve drops
    // the deleted doc pre-fold and plain serve matches post-fold
    val root = "/tmp/graft_layered_root_spec"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    graft.search.AliasedIndex.init(spark, root) { v1 =>
      res.adjacency.write.parquet(GraphAnn.adjacencyDir(v1))
      fent.write.parquet(GraphAnn.entriesDir(v1))
      adjUpper.write.parquet(GraphAnn.upperAdjacencyDir(v1))
      uent.write.parquet(GraphAnn.upperEntriesDir(v1))
    }
    val before = graft.search.AliasedIndex.currentVersion(spark, root)
    GraphAnn.consolidateDeletesLayeredRoot(spark, root, c1, "vec_id",
      "embedding", dels)
    assert(graft.search.AliasedIndex.currentVersion(spark, root)
      == before + 1, "layered consolidation must publish v(N+1)")
    val served = spark.read.parquet(GraphAnn.upperAdjacencyDir(
      graft.search.AliasedIndex.currentDir(spark, root)))
    assert(served.where(col("src") === upperNode
      || col("dst") === upperNode).count() == 0L,
      "the folded upper adjacency must not touch the deleted node")
  }
}
