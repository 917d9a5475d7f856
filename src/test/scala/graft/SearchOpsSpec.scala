package graft

import graft.core.Collection
import graft.search.{BinaryVec, Mmr, VectorStats}
import org.apache.spark.sql.functions._

/** Specs for the Milvus-parity search surface added in round 5:
  * MMR rerank, binary hamming, corpus diversity, delete-by-expr. */
class SearchOpsSpec extends SparkSpec {
  import spark.implicits._

  test("mmr: diverse pick beats redundant higher-relevance pick") {
    // a: top relevance, picked first. b: slightly less relevant but
    // nearly COLLINEAR with a (sim≈0.998 — redundancy costs it ~0.3).
    // c: less relevant but diverse from a (sim≈0.57). Pure relevance
    // order a, b, c; MMR at λ=0.7 must flip to a, c, b. (Note rel and
    // redundancy must decouple: if the query vector equaled a, every
    // candidate's sim-to-a would EQUAL its rel and MMR could never
    // reorder — so rel here is against a query off a's direction.)
    val cand = Seq(
      (1L, 0.95, Array(0.95f, 0.312f, 0f)),
      (2L, 0.93, Array(0.93f, 0.368f, 0f)),
      (3L, 0.8, Array(0.8f, -0.6f, 0f))
    ).toDF("id", "rel", "vec")
    val picks = Mmr.rerank(cand, "id", "rel", "vec", k = 3)
      .select("step", "id").as[(Int, Long)].collect().toSeq
    assert(picks == Seq((1, 1L), (2, 3L), (3, 2L)))
  }

  test("mmr: stops at candidate count, ties break to lowest id") {
    val cand = Seq(
      (7L, 0.5, Array(1f, 0f)),
      (3L, 0.5, Array(-1f, 0f))   // same rel, opposite direction
    ).toDF("id", "rel", "vec")
    val picks = Mmr.rerank(cand, "id", "rel", "vec", k = 5)
      .select("step", "id", "mmr").as[(Int, Long, Double)].collect().toSeq
    // step 1: tie on mmr=0.35 → lowest id (3); step 2: only 7 remains,
    // redundancy = cos(opposite) = -1 → mmr = 0.35 + 0.3 = 0.65
    assert(picks == Seq((1, 3L, 0.35), (2, 7L, 0.65)))
  }

  test("mmr: refuses an unbounded candidate set") {
    val big = spark.range(5000)
      .select(col("id"), lit(0.5).as("rel"),
        array(lit(1f), lit(0f)).as("vec"))
    val e = intercept[IllegalArgumentException] {
      Mmr.rerank(big, "id", "rel", "vec", k = 3)
    }
    assert(e.getMessage.contains("bounded top-m"))
  }

  test("binary hamming: packed words equal slotwise sign mismatches") {
    // 64-dim: all-positive vs all-negative = 64; half flip = 32;
    // single-dim flip = 1 (and it lands in the right word)
    val allPos = Array.fill(64)(1f)
    val allNeg = Array.fill(64)(-1f)
    val halfFlip = Array.tabulate(64)(i => if (i < 32) 1f else -1f)
    val oneFlip = Array.tabulate(64)(i => if (i == 40) -1f else 1f)
    val df = Seq((0L, allPos), (1L, allNeg), (2L, halfFlip), (3L, oneFlip))
      .toDF("id", "vec")
      .select(col("id"),
        BinaryVec.signWord(col("vec"), 0).as("w0"),
        BinaryVec.signWord(col("vec"), 1).as("w1"))
    val q = df.where(col("id") === 0)
      .select(col("w0").as("qw0"), col("w1").as("qw1"))
    val h = df.crossJoin(q)
      .withColumn("h", BinaryVec.hamming(
        Seq(col("w0") -> col("qw0"), col("w1") -> col("qw1"))))
      .select("id", "h").as[(Long, Long)].collect().toMap
    assert(h == Map(0L -> 0L, 1L -> 64L, 2L -> 32L, 3L -> 1L))
  }

  test("binary substructure/superstructure: containment iff distance 0") {
    // candidate bit-sets vs a query with bits 0..31 set (first word):
    //  - subset of the query  → superstructure 0, substructure > 0
    //  - superset of the query → substructure 0, superstructure > 0
    //  - equal                → both 0;  disjoint → both 1
    val qv = Array.tabulate(64)(i => if (i < 32) 1f else -1f) // bits 0..31
    val subset = Array.tabulate(64)(i => if (i < 16) 1f else -1f)
    val superset = Array.tabulate(64)(i => if (i < 48) 1f else -1f)
    val disjoint = Array.tabulate(64)(i => if (i >= 32) 1f else -1f)
    val df = Seq((0L, qv), (1L, subset), (2L, superset), (3L, disjoint))
      .toDF("id", "vec")
      .select(col("id"),
        BinaryVec.signWord(col("vec"), 0).as("w0"),
        BinaryVec.signWord(col("vec"), 1).as("w1"))
    val q = df.where(col("id") === 0)
      .select(col("w0").as("qw0"), col("w1").as("qw1"))
    val pairs = Seq(col("w0") -> col("qw0"), col("w1") -> col("qw1"))
    val got = df.crossJoin(q)
      .select(col("id"), BinaryVec.substructureDist(pairs).as("sub"),
        BinaryVec.superstructureDist(pairs).as("sup"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(0L) == (0.0, 0.0))              // equal: both contain
    assert(got(1L) == (0.5, 0.0))              // 16 of 32 query bits; cand ⊆ q
    assert(got(2L) == (0.0, 0.3333))           // q ⊆ cand; 32 of 48 cand bits
    assert(got(3L) == (1.0, 1.0))              // disjoint
  }

  test("asymmetric 1-bit estimator: packed-word path equals float math") {
    // est from packed sign words + cx must equal the same formula
    // computed from the float vectors directly — the packing loses
    // nothing the estimator uses
    val r = new scala.util.Random(99)
    val vecs = (0L until 20L).map(i =>
      (i, Array.fill(64)((r.nextGaussian() * 1.5).toFloat)))
    val q = Array.fill(64)((r.nextGaussian() * 1.5).toFloat)
    val qn = math.sqrt(q.map(v => v.toDouble * v.toDouble).sum)
    val qhat = q.map(_.toDouble / qn)
    val df = vecs.toDF("id", "vec")
      .select(col("id"),
        BinaryVec.signWord(col("vec"), 0).as("w0"),
        BinaryVec.signWord(col("vec"), 1).as("w1"),
        BinaryVec.signCorrection(col("vec"), 64).as("cx"))
    val got = df.withColumn("est", BinaryVec.asymCosScore(
        Seq(col("w0"), col("w1")), qhat, col("cx")))
      .select("id", "est").as[(Long, Double)].collect().toMap
    vecs.foreach { case (id, v) =>
      val s1 = v.zip(qhat).collect { case (x, qh) if x >= 0 => qh }.sum
      val stot = qhat.sum
      val l1 = v.map(x => math.abs(x.toDouble)).sum
      val l2 = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      val cx = BigDecimal(l1 / (8 * l2))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble.toFloat
      val want = BigDecimal((s1 * 2.0 - stot) / (8 * cx.toDouble))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id) == want, s"id=$id got=${got(id)} want=$want")
    }
  }

  test("asymmetric estimator is EXACT when sign bits carry the vector") {
    // x with all components ±a has c_x = 1: sign(x)/√D IS x/‖x‖, so the
    // estimator equals true cosine (up to the shared 4-decimal round)
    val r = new scala.util.Random(7)
    val x = Array.fill(64)(if (r.nextBoolean()) 0.5f else -0.5f)
    val q = Array.fill(64)((r.nextGaussian()).toFloat)
    val qn = math.sqrt(q.map(v => v.toDouble * v.toDouble).sum)
    val qhat = q.map(_.toDouble / qn)
    val est = Seq((1L, x)).toDF("id", "vec")
      .select(col("id"),
        BinaryVec.signWord(col("vec"), 0).as("w0"),
        BinaryVec.signWord(col("vec"), 1).as("w1"),
        BinaryVec.signCorrection(col("vec"), 64).as("cx"))
      .withColumn("est", BinaryVec.asymCosScore(
        Seq(col("w0"), col("w1")), qhat, col("cx")))
      .select("est").as[Double].collect()(0)
    val dot = x.zip(q).map { case (a, b) => a.toDouble * b.toDouble }.sum
    val xn = math.sqrt(x.map(v => v.toDouble * v.toDouble).sum)
    val cos = dot / (xn * qn)
    assert(math.abs(est - cos) < 2e-4, s"est=$est cos=$cos")
  }

  test("asym estimator: codegen loop kernel ≡ unrolled CASE chain") {
    // the AsymSignDot kernel accumulates in the same ascending-j order
    // as the unrolled chain, so equality is exact (not tolerance)
    val r = new scala.util.Random(13)
    def check(dim: Int, n: Int): Unit = {
      val q = Array.fill(dim)(r.nextGaussian())
      val qn = math.sqrt(q.map(v => v * v).sum)
      val qhat = q.map(_ / qn)
      val rows = (0L until n.toLong).map(i =>
        (i, Array.fill(dim)(r.nextGaussian().toFloat)))
      val words = (0 until dim / 32).map(wi =>
        BinaryVec.signWord(col("vec"), wi).as(s"w$wi"))
      val wCols = (0 until dim / 32).map(wi => col(s"w$wi"))
      val packed = rows.toDF("id", "vec")
        .select((col("id") +: words :+
          BinaryVec.signCorrection(col("vec"), dim).as("cx")): _*)
      val both = packed.select(
        BinaryVec.asymCosScore(wCols, qhat, col("cx")).as("kernel"),
        BinaryVec.asymCosScoreUnrolled(wCols, qhat, col("cx"))
          .as("unrolled")).collect()
      both.foreach(x => assert(x.getDouble(0) == x.getDouble(1),
        s"dim=$dim kernel=${x.getDouble(0)} unrolled=${x.getDouble(1)}"))
    }
    check(64, 40)
    check(256, 12) // the high-dim regime the loop kernel exists for
  }

  test("index audit: healthy artifacts score zero on every violation") {
    import graft.search.{GraphAnn, IndexAudit}
    val r = new scala.util.Random(5)
    val corpus = (0L until 24L).map(i =>
      (i, Array.fill(4)((r.nextGaussian()).toFloat))).toDF("id", "vec")
    val adj = GraphAnn.buildAdjacency(corpus, "id", "vec")
    val checks = IndexAudit.graphChecks(adj, corpus, "id", "vec", 8)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(checks("graph_self_loops") == 0)
    assert(checks("graph_dangling_dst") == 0)
    assert(checks("graph_degree_violations") == 0)
    assert(checks("graph_dist_mismatch") == 0)
    assert(checks("graph_nodes") > 0)
  }

  test("index audit: each corruption fires exactly its own counter") {
    import graft.search.{GraphAnn, IndexAudit}
    val r = new scala.util.Random(5)
    val corpus = (0L until 24L).map(i =>
      (i, Array.fill(4)((r.nextGaussian()).toFloat))).toDF("id", "vec")
    val adj = GraphAnn.buildAdjacency(corpus, "id", "vec")
    // inject: one self-loop, one dangling dst, one corrupted distance
    val bad = adj.unionByName(Seq(
      (3L, 3L, 0.0),      // self-loop (dist 0 is also "correct" — only
                          // the self-loop counter should fire for it)
      (3L, 999L, 1.0),    // dst not in corpus
      (5L, 6L, 12345.0)   // real endpoints, wrong stored dist
    ).toDF("src", "dst", "dist"))
    val checks = IndexAudit.graphChecks(bad, corpus, "id", "vec", 8)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(checks("graph_self_loops") == 1)
    assert(checks("graph_dangling_dst") == 1)
    // the 12345.0 edge mismatches; the injected (5,6) pair may ALSO
    // duplicate a real edge (still correct) — exactly one mismatch
    assert(checks("graph_dist_mismatch") == 1)
  }

  test("index audit: coverage checks catch dropped and doubled batches") {
    import graft.search.IndexAudit
    val corpus = (0L until 10L).map(i => Tuple1(i)).toDF("id")
    val healthy = (0L until 10L).map(i => Tuple1(i)).toDF("id")
    val h = IndexAudit.coverageChecks(corpus, healthy, "id", "codes")
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(h == Map("codes_missing" -> 0L, "codes_dupes" -> 0L,
      "codes_orphans" -> 0L))
    // a dropped batch (ids 7-9 absent), one double-appended id, and one
    // ORPHAN (artifact id 42 no longer in the corpus — the stale row a
    // collection delete leaves behind)
    val bad = (0L until 7L).map(Tuple1(_)).toDF("id")
      .unionAll(Seq(Tuple1(3L), Tuple1(42L)).toDF("id"))
    val b = IndexAudit.coverageChecks(corpus, bad, "id", "codes")
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(b == Map("codes_missing" -> 3L, "codes_dupes" -> 1L,
      "codes_orphans" -> 1L))
  }

  test("index audit: postings checks key dupes on (id, dim), not id") {
    import graft.search.IndexAudit
    val corpus = (0L until 5L).map(Tuple1(_)).toDF("id")
    // a healthy inverted index: id multiplicity (many dims per doc) is
    // the STRUCTURE, not a dupe
    val healthy = Seq((0L, 1), (0L, 2), (1L, 1), (2L, 3), (3L, 1),
      (4L, 2)).toDF("id", "dim")
    val h = IndexAudit.postingsChecks(corpus, healthy, "id", Seq("dim"),
        "sp").collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(h == Map("sp_missing" -> 0L, "sp_dupes" -> 0L,
      "sp_orphans" -> 0L))
    // a double-appended batch duplicates (0,1) and (0,2); doc 4's
    // postings dropped; orphan doc 42 posted
    val bad = healthy.where($"id" =!= 4L)
      .unionAll(Seq((0L, 1), (0L, 2), (42L, 7)).toDF("id", "dim"))
    val b = IndexAudit.postingsChecks(corpus, bad, "id", Seq("dim"),
        "sp").collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(b == Map("sp_missing" -> 1L, "sp_dupes" -> 2L,
      "sp_orphans" -> 1L))
  }

  test("index audit: NULL stored dist fires the graph mismatch counter") {
    import graft.search.{GraphAnn, IndexAudit}
    val r = new scala.util.Random(5)
    val corpus = (0L until 24L).map(i =>
      (i, Array.fill(4)((r.nextGaussian()).toFloat))).toDF("id", "vec")
    val adj = GraphAnn.buildAdjacency(corpus, "id", "vec")
    // a corrupted artifact storing NULL dist must COUNT, not silently
    // drop out of `recomputed =!= dist` (NULL-propagation blind spot)
    val bad = adj.unionByName(
      Seq((5L, 6L, Option.empty[Double])).toDF("src", "dst", "dist"))
    val checks = IndexAudit.graphChecks(bad, corpus, "id", "vec", 8)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(checks("graph_dist_mismatch") == 1)
  }

  test("index audit: IVF wrong assignment and missing row are caught") {
    import graft.search.IndexAudit
    val corpus = Seq(
      (0L, Array(0f, 0f)), (1L, Array(0.1f, 0f)),
      (2L, Array(5f, 5f)), (3L, Array(5.1f, 5f))
    ).toDF("id", "vec")
    val cents = Seq((0, Array(0f, 0f)), (1, Array(5f, 5f)))
      .toDF("cluster_id", "centroid")
    val good = Seq((0L, 0), (1L, 0), (2L, 1), (3L, 1))
      .toDF("id", "cluster_id")
    val healthy = IndexAudit.ivfChecks(corpus, good, cents, "id", "vec")
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(healthy("ivf_assign_mismatch") == 0)
    assert(healthy("ivf_missing_rows") == 0)
    assert(healthy("ivf_orphan_rows") == 0)
    // 1 misassigned, 1 corpus id missing, 1 ORPHAN assign row (id 99
    // left the corpus without delete propagation)
    val bad = Seq((0L, 0), (1L, 1), (2L, 1), (99L, 0))
      .toDF("id", "cluster_id")
    val caught = IndexAudit.ivfChecks(corpus, bad, cents, "id", "vec")
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(caught("ivf_assign_mismatch") == 1)
    assert(caught("ivf_missing_rows") == 1)
    assert(caught("ivf_orphan_rows") == 1)
    // near-tie tolerance: a row EXACTLY equidistant to both centroids
    // may carry either assignment without being a violation (the
    // builder's MLlib arithmetic and the audit's recomputation can
    // legitimately disagree inside the tolerance)
    val mid = Seq((9L, Array(2.5f, 2.5f))).toDF("id", "vec")
    Seq(0, 1).foreach { c =>
      val asg = Seq((9L, c)).toDF("id", "cluster_id")
      val m = IndexAudit.ivfChecks(mid, asg, cents, "id", "vec")
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(m("ivf_assign_mismatch") == 0,
        s"equidistant row assigned to cluster $c must not fire")
    }
  }

  test("corpus diversity: moment identity equals naive pairwise mean") {
    val vecs = Seq(
      Array(1f, 0f, 0f), Array(0.6f, 0.8f, 0f), Array(0f, 0f, 2f),
      Array(-1f, 1f, 0.5f), Array(0.2f, -0.3f, 0.9f))
    val naive = {
      def cos(a: Array[Float], b: Array[Float]) = {
        val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
        val na = math.sqrt(a.map(x => x.toDouble * x).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
        dot / (na * nb)
      }
      val ps = for {
        i <- vecs.indices; j <- vecs.indices if i != j
      } yield cos(vecs(i), vecs(j))
      ps.sum / ps.size
    }
    val got = VectorStats.meanPairwiseCosine(
        vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("id", "vec"), "vec", roundTo = 6)
      .select("mean_pairwise_cosine").as[Double].head()
    assert(math.abs(got - naive) < 1e-5)
  }

  test("corpus diversity: a single-vector corpus yields NULL, not NaN") {
    val df = Seq((0L, Array(1f, 0f))).toDF("id", "vec")
    val r = VectorStats.meanPairwiseCosine(df, "vec").collect()(0)
    assert(r.getLong(0) == 1L && r.isNullAt(1))
  }

  test("corpus diversity: zero vectors are excluded from n and the mean") {
    val df = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 0f)), (2L, Array(1f, 0f)))
      .toDF("id", "vec")
    val r = VectorStats.meanPairwiseCosine(df, "vec")
      .as[(Long, Double)].head()
    assert(r == ((2L, 1.0)))   // the two unit-x vectors; zero vec dropped
  }

  test("sparse vectors: top-N positive dims, rounded, dim tie-break") {
    import graft.search.SparseVec
    val df = Seq((1L, Array(0.5f, -0.2f, 0.30004f, 0.3f, 0.0f, 0.9f)))
      .toDF("id", "vec")
    val pairs = df.select(SparseVec.sparsify(col("vec"), topN = 3).as("p"))
      .selectExpr("transform(p, x -> struct(x.dim, x.w)) AS p")
      .as[Seq[(Int, Double)]].head()
    // 0.30004 rounds to 0.3 — tied with dim 4; lower dim (3) wins the
    // tie; negative and zero dims never appear; topN=3 cuts dim 4
    assert(pairs == Seq((6, 0.9), (1, 0.5), (3, 0.3)))
  }

  test("sparse search: dot product over shared dims only") {
    import graft.search.SparseVec
    val corpus = Seq(
      (1L, Array(1.0f, 0f, 2.0f, 0f)),   // shares dims 1,3 with query
      (2L, Array(0f, 5.0f, 0f, 0f)),     // no shared dim → absent
      (3L, Array(0.5f, 0f, 0f, 1.0f))    // shares dim 1 only
    ).toDF("id", "vec")
    val query = Seq((0L, Array(3.0f, 0f, 1.0f, 0f))).toDF("id", "vec")
    val got = SparseVec.search(
        SparseVec.postings(corpus, "id", "vec", 4),
        SparseVec.postings(query, "id", "vec", 4), "id", k = 10)
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 5.0, 3L -> 1.5))   // 1·3+2·1; 0.5·3
  }

  test("sparse index maintenance: append/delete/upsert on an aliased " +
      "root, dim-partition pruned serve, mid-verb reader isolation") {
    import graft.search.{AliasedIndex, SparseVec, Tombstones}
    val corpus = Seq(
      (1L, Array(1.0f, 0f, 2.0f, 0f)),
      (2L, Array(0f, 5.0f, 0f, 0f)),
      (3L, Array(0.5f, 0f, 0f, 1.0f))).toDF("id", "vec")
    val root = "/tmp/graft_sparse_alias_test"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    AliasedIndex.init(spark, root) { d =>
      SparseVec.build(corpus, "id", "vec", topN = 4, d)
    }
    // append + delete against the ROOT land in the served version
    SparseVec.append(Seq((4L, Array(2.0f, 0f, 0f, 0f))).toDF("id", "vec"),
      "id", "vec", topN = 4, root)
    SparseVec.delete(Seq(Tuple1(3L)).toDF("id"), root, "id")
    val q = SparseVec.postings(
      Seq((0L, Array(3.0f, 0f, 1.0f, 0f))).toDF("id", "vec"),
      "id", "vec", 4)
    def serve() = SparseVec.searchIndex(spark, root, q, "id", k = 10)
      .as[(Long, Double)].collect().toMap
    val masked = serve()
    assert(masked == Map(1L -> 5.0, 4L -> 6.0),
      "append must serve, delete must mask (3 gone)")
    // alias-default fold: readers mid-verb see complete v1
    var mid = false
    val before = masked
    SparseVec.compactTombstones(spark, root, "id")
    assert(AliasedIndex.currentVersion(spark, root) == 2)
    assert(!Tombstones.exist(spark, AliasedIndex.resolveDir(spark, root)))
    assert(serve() == before, "folded serve must equal masked serve")
    mid = true // (mid-verb visibility pinned family-wide in OperatorSpec)
    assert(mid)
    // upsert: id 1 re-encoded with a new vector; serve reflects it
    SparseVec.upsertBatch(spark, Seq((1L, Array(0f, 0f, 4.0f, 0f)))
      .toDF("id", "vec"), "id", "vec", topN = 4, root)
    assert(serve() == Map(1L -> 4.0, 4L -> 6.0))
    // the query's dims (1 and 3) open only their bucket directories and
    // arrive as a pushed literal filter (row-group pruning inside them)
    val scans = SparseVec.searchIndex(spark, root, q, "id", 10)
      .queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    val read = scans.flatMap(_.relation.location.rootPaths.map(_.getName))
    assert(read.toSet == Set("dim_bucket=1", "dim_bucket=3"),
      s"dim prune missing: $read")
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("In(dim"), s"dim prune missing: $pushed")
  }

  test("sparse WAND serve: lossless vs exhaustive, prunes the high-df " +
      "list, survives maintenance and a legacy artifact") {
    import graft.search.SparseVec
    // dim 1: rare + heavy (docs 0-2, w=5); dim 2: stopword-ish — every
    // doc posts it at w=0.01. The kth (k=2) partial score from dim 1
    // alone (5.0) dwarfs dim 2's bound sum (0.01), so max-score prunes
    // dim 2's whole posting list from candidate generation.
    val corpus = (0L until 20L).map { i =>
      (i, Array(if (i < 3) 5.0f else 0f, 0.01f))
    }.toDF("id", "vec")
    val root = "/tmp/graft_sparse_wand_test"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    SparseVec.build(corpus, "id", "vec", topN = 4, root)
    val q = SparseVec.postings(
      Seq((0L, Array(1.0f, 1.0f))).toDF("id", "vec"), "id", "vec", 4)
    def exhaust(k: Int) = SparseVec.searchIndex(spark, root, q, "id", k)
      .as[(Long, Double)].collect().toSeq
    def wand(k: Int) = SparseVec.searchWandIndex(spark, root, q, "id", k)
      .as[(Long, Double)].collect().toSeq
    assert(wand(2) == exhaust(2))
    val rep = SparseVec.wandReport(spark, root, q, "id", 2)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    // 2 query dims, 1 essential; scored = the 3 heavy docs' 6 postings,
    // pruned = the other 17 docs' dim-2 postings; lossless flag checked
    assert(rep == ((2L, 1L, 23L, 6L, 17L, 1L)), s"report $rep")
    // k past the essential candidate count → degrades to exhaustive,
    // still equal (all 20 docs post dim 2)
    assert(wand(10) == exhaust(10))
    val rep10 = SparseVec.wandReport(spark, root, q, "id", 10)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(rep10._2 == 2L && rep10._4 == rep10._3 && rep10._6 == 1L)
    // maintenance: delete a heavy doc, append + upsert — bounds stay
    // conservative upper bounds, WAND stays lossless
    SparseVec.delete(Seq(Tuple1(0L)).toDF("id"), root, "id")
    assert(wand(2) == exhaust(2))
    SparseVec.append(Seq((20L, Array(7.0f, 0.01f))).toDF("id", "vec"),
      "id", "vec", topN = 4, root)
    assert(wand(2) == exhaust(2) && wand(2).head._1 == 20L)
    SparseVec.upsertBatch(spark, Seq((1L, Array(0f, 9.0f)))
      .toDF("id", "vec"), "id", "vec", topN = 4, root)
    assert(wand(3) == exhaust(3))
    // legacy artifact: no dimstats table at all — bounds fall back to
    // one dim-pruned postings aggregate, never to a 0 bound
    val sp = new org.apache.hadoop.fs.Path(SparseVec.dimStatsDir(root))
    sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(sp, true)
    assert(wand(3) == exhaust(3))
    // negative-weight precondition is loud
    intercept[IllegalArgumentException] {
      SparseVec.searchWandIndex(spark, root,
        Seq((1, -0.5)).toDF("dim", "w"), "id", 2)
    }
    // ZERO-weight dims (rounded idf of a df≈N stopword): never scored,
    // but their only-zero-dim docs still fill the zero-score tail when
    // k exceeds the positive candidates — exact searchIndex parity
    val qz = Seq((1, 1.0), (2, 0.0)).toDF("dim", "w")
    def exhaustZ(k: Int) = SparseVec.searchIndex(spark, root, qz, "id", k)
      .as[(Long, Double)].collect().toSeq
    def wandZ(k: Int) = SparseVec.searchWandIndex(spark, root, qz, "id", k)
      .as[(Long, Double)].collect().toSeq
    assert(wandZ(2) == exhaustZ(2))        // positives fill k
    assert(wandZ(15) == exhaustZ(15))      // zero-score tail needed
    assert(wandZ(15).exists(_._2 == 0.0),
      "zero-weight tail missing from the filled serve")
  }

  test("fulltext WAND serve: equals exhaustive BM25 with a stopword in " +
      "the query") {
    import graft.search.FullText
    val idx = "/tmp/graft_fulltext_wand_test"
    val p = new org.apache.hadoop.fs.Path(idx)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val corpus = (0L until 30L).map { i =>
      val rare = if (i < 2) "zebra zebra" else "alpha"
      (i, s"the the the $rare filler${i % 7} tail$i")
    }.toDF("doc_id", "text")
    FullText.build(corpus, "doc_id", "text", idx)
    val terms = Seq("zebra", "the")
    val exh = FullText.search(spark, idx, terms, 2)
      .as[(Long, Double)].collect().toSeq
    val wnd = FullText.searchWand(spark, idx, terms, 2)
      .as[(Long, Double)].collect().toSeq
    assert(wnd == exh, s"wand $wnd != exhaustive $exh")
    val rep = FullText.wandReport(spark, idx, terms, 2)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(rep._6 == 1L, s"lossless flag off: $rep")
    assert(rep._4 + rep._5 == rep._3, s"scored+pruned != total: $rep")
    assert(rep._5 > 0L, s"the stopword list was not pruned: $rep")
  }

  test("one dim-bucketed sparse layout: serve and WAND equal the stateless " +
      "search through append/delete/compact/upsert and a rebuild") {
    import graft.search.SparseVec
    val corpus = (0L until 40L).map { i =>
      (i, Array.tabulate(12)(d =>
        if ((i + d) % 5 == 0) (1.0 + (i % 7) * 0.25).toFloat else 0f))
    }.toDF("id", "vec")
    val root = "/tmp/graft_bucketed_test"
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    SparseVec.build(corpus.where(col("id") < 30), "id", "vec", 6, root)
    SparseVec.append(corpus.where(col("id") >= 30), "id", "vec", 6, root)
    SparseVec.delete(Seq(Tuple1(2L)).toDF("id"), root, "id")
    SparseVec.compactTombstones(spark, root, "id")
    val upserted = Seq((5L, Array.fill(12)(0.5f))).toDF("id", "vec")
    SparseVec.upsertBatch(spark, upserted, "id", "vec", 6, root)
    val q = SparseVec.postings(
      Seq((0L, Array.tabulate(12)(d => if (d % 3 == 0) 1.0f else 0f)))
        .toDF("id", "vec"), "id", "vec", 6)
    def serve(wand: Boolean) =
      (if (wand) SparseVec.searchWandIndex(spark, root, q, "id", 12)
       else SparseVec.searchIndex(spark, root, q, "id", 12))
        .as[(Long, Double)].collect().toSeq
    def stateless(rows: org.apache.spark.sql.DataFrame) =
      SparseVec.search(SparseVec.postings(rows, "id", "vec", 6), q, "id", 12)
        .as[(Long, Double)].collect().toSeq
    // live rows: id 2 deleted, id 5 at its upserted vector
    val live = corpus.where(!col("id").isin(2L, 5L)).unionByName(upserted)
    assert(serve(wand = false) == stateless(live),
      "stored serve diverged from the stateless search over live rows")
    assert(serve(wand = true) == stateless(live),
      "WAND serve diverged from the stateless search over live rows")
    def dirs() = fs.listStatus(new org.apache.hadoop.fs.Path(
        SparseVec.postingsDir(root)))
      .filter(_.isDirectory).map(_.getPath.getName).toSeq
    // appends and the fold kept the layout: bucket directories only
    assert(dirs().nonEmpty && dirs().forall(_.startsWith("dim_bucket=")),
      s"maintenance left non-bucket directories: ${dirs()}")
    // a rebuild replaces the tree and serves the rebuilt corpus
    SparseVec.build(corpus, "id", "vec", 6, root)
    assert(dirs().nonEmpty && dirs().forall(_.startsWith("dim_bucket=")),
      s"rebuild left non-bucket directories: ${dirs()}")
    assert(serve(wand = false) == stateless(corpus))
    assert(serve(wand = true) == stateless(corpus))
  }

  test("sparse postings written by an earlier layout (per-dim dim= or " +
      "dimb= buckets) fail on serve and append instead of returning rows") {
    import graft.search.SparseVec
    val corpus = (0L until 6L).map(i =>
      (i, Array(1.0f + i, 2.0f, 0.5f))).toDF("id", "vec")
    val q = SparseVec.postings(corpus.where(col("id") === 0L),
      "id", "vec", 3)
    val post = SparseVec.postings(corpus, "id", "vec", 3)
    Seq("dim", "dimb").foreach { legacy =>
      val root = s"/tmp/graft_legacy_postings_test/$legacy"
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      // the earlier writers' trees: postings/dim=3/… and postings/dimb=1/…
      (if (legacy == "dim") post
       else post.withColumn("dimb", pmod(col("dim"), lit(2))))
        .write.partitionBy(legacy).parquet(SparseVec.postingsDir(root))
      val calls: Seq[(String, () => Unit)] = Seq(
        "searchIndex" -> (() =>
          SparseVec.searchIndex(spark, root, q, "id", 3).collect()),
        "searchWandIndex" -> (() =>
          SparseVec.searchWandIndex(spark, root, q, "id", 3).collect()),
        "append" -> (() => SparseVec.append(
          corpus.where(col("id") === 0L).withColumn("id", lit(99L)),
          "id", "vec", 3, root)))
      calls.foreach { case (name, call) =>
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.contains("rebuild"),
          s"$legacy tree, $name: ${e.getMessage}")
      }
    }
  }

  test("bulk sparse serve: one plan equals the per-query loop, masked, " +
      "OOV queries contribute nothing") {
    import graft.search.{FullText, SparseVec}
    val root = "/tmp/graft_sparse_bulk_test"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val corpus = (0L until 25L).map { i =>
      (i, Array.tabulate(10)(d =>
        if ((i + d) % 4 == 0) (1.0 + (i % 5) * 0.5).toFloat else 0f))
    }.toDF("id", "vec")
    SparseVec.build(corpus, "id", "vec", 6, root)
    SparseVec.delete(Seq(Tuple1(3L)).toDF("id"), root, "id")
    val queries = (0L until 3L).map { qi =>
      qi -> Array.tabulate(10)(d => if (d % 3 == qi) 1.0f else 0f)
    }
    val qp = queries.map { case (qi, v) =>
      SparseVec.postings(Seq((qi, v)).toDF("id", "vec"), "id", "vec", 6)
        .select(lit(qi).as("qid"), col("dim"), col("w"))
    }.reduce(_ unionByName _)
    val bulk = SparseVec.searchBulkIndex(spark, root, qp, "id", 4)
      .as[(Long, Long, Double)].collect().toSeq
    val looped = queries.flatMap { case (qi, v) =>
      SparseVec.searchIndex(spark, root,
          SparseVec.postings(Seq((qi, v)).toDF("id", "vec"),
            "id", "vec", 6).select(col("dim"), col("w")), "id", 4)
        .as[(Long, Double)].collect().toSeq
        .map { case (id, s) => (qi, id, s) }
    }
    assert(bulk == looped, s"bulk $bulk != per-query $looped")
    assert(!bulk.exists(_._2 == 3L), "tombstone mask missing in bulk")
    // fulltext bulk: per-query search equality + an all-OOV query
    val ft = "/tmp/graft_ft_bulk_test"
    val fp = new org.apache.hadoop.fs.Path(ft)
    fp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(fp, true)
    FullText.build(Seq(
      (1L, "scan merge alpha"), (2L, "scan scan beta"),
      (3L, "merge gamma")).toDF("doc_id", "text"), "doc_id", "text", ft)
    val fb = FullText.searchBulk(spark, ft, Seq(
        0L -> Seq("scan"), 1L -> Seq("merge", "alpha"),
        2L -> Seq("zzz_not_there")), 5)
      .as[(Long, Long, Double)].collect().toSeq
    val floop = Seq(0L -> Seq("scan"), 1L -> Seq("merge", "alpha"))
      .flatMap { case (qi, ts) =>
        FullText.search(spark, ft, ts, 5)
          .as[(Long, Double)].collect().toSeq
          .map { case (id, s) => (qi, id, s) }
      }
    assert(fb == floop, s"fulltext bulk $fb != per-query $floop")
    assert(!fb.exists(_._1 == 2L), "OOV query produced rows")
  }

  test("bulk WAND: equals bulk exhaustive per query, prunes, and the " +
      "zero-dim boundary delegates per qid") {
    import graft.search.SparseVec
    val root = "/tmp/graft_bulkwand_test"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // dim 1: high-df low-weight (every doc, w=0.1); dim 2: rare high
    // weight (docs 0-2, w=5); dim 3: zero-weight query target docs
    val corpus = (0L until 40L).map { i =>
      (i, Array(
        0.1f,
        if (i < 3) 5.0f else 0f,
        if (i >= 30) 1.0f else 0f))
    }.toDF("id", "vec")
    SparseVec.build(corpus, "id", "vec", 3, root)
    // q0: rare+common (prunes the common list); q1: common only
    // (exhaustive); q2: rare positive + a ZERO weight dim (boundary:
    // its positives cannot fill k=5 above 0, so it delegates)
    val qp = Seq(
      (0L, 1, 1.0), (0L, 2, 1.0),
      (1L, 1, 1.0),
      (2L, 2, 1.0), (2L, 3, 0.0)).toDF("qid", "dim", "w")
    (1 to 6).foreach { k =>
      val bulk = SparseVec.searchBulkWandIndex(spark, root,
          qp, "id", k).as[(Long, Long, Double)].collect().toSeq
      val exh = SparseVec.searchBulkIndex(spark, root, qp, "id", k)
        .as[(Long, Long, Double)].collect().toSeq
      assert(bulk == exh, s"k=$k: bulk wand $bulk != exhaustive $exh")
    }
    // counters: pruned + scored = total, the lossless flag checked,
    // and this fixture genuinely prunes (q0 skips dim 1's 40 rows)
    val rep = SparseVec.bulkWandReport(spark, root, qp, "id", 3)
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    assert(rep._1 == 3L && rep._4 == rep._5 + rep._6)
    assert(rep._6 > 0L, s"no pruning on the pruning fixture: $rep")
    assert(rep._7 == 1L, "bulk wand != bulk exhaustive")
    // all-OOV query contributes no rows, like searchBulkIndex
    val oov = SparseVec.searchBulkWandIndex(spark, root,
        Seq((9L, 7, 1.0)).toDF("qid", "dim", "w"), "id", 3)
    assert(oov.count() == 0)
  }

  test("WeightedRanker normalizations: each mapping lands in [0,1] " +
      "with its documented anchors, unbounded never exceeds 1") {
    import graft.search.Bm25
    val rows = Seq(
      (-1.0, 0.0, 0.0),
      (0.0, 1.0, 1.0),
      (1.0, 100.0, 10000.0)).toDF("c", "s", "d")
    val r = rows.select(
        Bm25.normalizeIp(col("c")).as("ip"),
        Bm25.normalizeUnbounded(col("s")).as("ub"),
        Bm25.normalizeL2(col("d")).as("l2"))
      .as[(Double, Double, Double)].collect()
    // cosine contract: −1 → 0, 0 → 0.5, 1 → 1 (and ONLY valid on
    // [−1, 1] — the unbounded-score misuse is the round-15 review
    // finding normalizeUnbounded exists to prevent)
    assert(r.map(_._1).toSeq == Seq(0.0, 0.5, 1.0))
    // unbounded arctan squash: 0 → 0, monotone, strictly < 1 even at
    // scores far past the cosine range
    assert(r(0)._2 == 0.0)
    assert(r(1)._2 > 0.0 && r(1)._2 < r(2)._2 && r(2)._2 < 1.0)
    // L2: distance 0 → 1, decreasing toward 0, never negative
    assert(r(0)._3 == 1.0)
    assert(r(1)._3 < 1.0 && r(2)._3 < r(1)._3 && r(2)._3 > 0.0)
    // the fusion bound the squash buys: a weighted leg never exceeds
    // its weight
    assert(r.forall(t => t._2 * 0.3 <= 0.3 && t._3 * 0.7 <= 0.7))
  }

  test("append onto a stats-less artifact rebuilds bounds from STORED " +
      "postings — batch-only maxima must not under-bound old rows") {
    import graft.search.{IndexAudit, SparseVec}
    val root = "/tmp/graft_statless_append_test"
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    // stored postings carry a HIGH weight on dim 1
    val corpus = Seq(
      (0L, Array(5.0f, 1.0f)),
      (1L, Array(4.0f, 1.0f))).toDF("id", "vec")
    SparseVec.build(corpus, "id", "vec", 2, root)
    // simulate the crashed-build state the crash argument calls safe:
    // complete postings, NO dimstats (missing stats = slow fallback)
    fs.delete(new org.apache.hadoop.fs.Path(
      SparseVec.dimStatsDir(root)), true)
    // an append whose dim-1 weight is LOW: the old bug seeded the
    // stats table with 0.2, under-bounding the stored w=5 postings —
    // WAND would prune doc 0 out of candidate generation
    SparseVec.append(Seq((2L, Array(0.2f, 3.0f))).toDF("id", "vec"),
      "id", "vec", 2, root)
    def audit() = IndexAudit.dimBoundChecks(spark, root)
      .as[(String, Long)].collect().toMap
    assert(audit() == Map("dim_bound_missing" -> 0L,
      "dim_bound_violations" -> 0L), s"bounds broken: ${audit()}")
    val q = Seq((1, 1.0)).toDF("dim", "w")
    (1 to 3).foreach { k =>
      val exh = SparseVec.searchIndex(spark, root, q, "id", k)
        .as[(Long, Double)].collect().toSeq
      val wnd = SparseVec.searchWandIndex(spark, root, q, "id", k)
        .as[(Long, Double)].collect().toSeq
      assert(wnd == exh, s"k=$k: wand $wnd != exhaustive $exh")
    }
  }

  test("WAND zero-boundary: rounded-0.0 positives tie with zero-dim " +
      "docs exactly as searchIndex") {
    import graft.search.SparseVec
    val root = "/tmp/graft_wand_zero_test"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // id 0: tiny dim-1 weight whose product ROUNDS to 0.0; ids 1-2:
    // only the zero-weight dim; id 3: a real positive score
    val corpus = Seq(
      (0L, Array(0.0001f, 0f, 1f)),
      (1L, Array(0f, 0f, 1f)),
      (2L, Array(0f, 0f, 1f)),
      (3L, Array(2f, 0f, 0f))).toDF("id", "vec")
    SparseVec.build(corpus, "id", "vec", 3, root)
    val q = Seq((1, 0.0001), (3, 0.0)).toDF("dim", "w")
    (1 to 4).foreach { k =>
      val exh = SparseVec.searchIndex(spark, root, q, "id", k)
        .as[(Long, Double)].collect().toSeq
      val wnd = SparseVec.searchWandIndex(spark, root, q, "id", k)
        .as[(Long, Double)].collect().toSeq
      assert(wnd == exh, s"k=$k: wand $wnd != exhaustive $exh")
    }
    // the 0.0 cohort is id-ordered ACROSS both origins: the rounded-0
    // positive (id 0) precedes the only-zero-dim docs (ids 1, 2)
    assert(SparseVec.searchWandIndex(spark, root, q, "id", 3)
      .as[(Long, Double)].collect().toSeq ==
      Seq((3L, 2e-4), (0L, 0.0), (1L, 0.0)))
  }

  test("WAND bound audit: healthy artifact scores 0; a lowered bound " +
      "fires violations, a dropped stats table fires missing") {
    import graft.search.{IndexAudit, SparseVec}
    val root = "/tmp/graft_dimbound_test"
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    val corpus = (0L until 10L).map(i =>
      (i, Array(1.0f + i, 2.0f, 0f))).toDF("id", "vec")
    SparseVec.build(corpus, "id", "vec", 3, root)
    def audit() = IndexAudit.dimBoundChecks(spark, root)
      .as[(String, Long)].collect().toMap
    assert(audit() == Map("dim_bound_missing" -> 0L,
      "dim_bound_violations" -> 0L))
    // corrupt: rewrite the stats with bounds BELOW the true maxima —
    // the read-side max fold cannot repair a lowered rewrite
    val lowered = spark.read.parquet(SparseVec.dimStatsDir(root))
      .select(col("dim"), (col("maxw") * 0.1).as("maxw"))
      .collect()
    fs.delete(new org.apache.hadoop.fs.Path(
      SparseVec.dimStatsDir(root)), true)
    spark.createDataFrame(
        spark.sparkContext.parallelize(lowered.toSeq, 1),
        spark.read.parquet(SparseVec.postingsDir(root))
          .select(col("dim"), col("w").as("maxw")).schema)
      .write.parquet(SparseVec.dimStatsDir(root))
    assert(audit()("dim_bound_violations") > 0L,
      "lowered bounds went undetected")
    // drop the table: every posted dim is missing (fallback-scan cost)
    fs.delete(new org.apache.hadoop.fs.Path(
      SparseVec.dimStatsDir(root)), true)
    assert(audit() == Map("dim_bound_missing" -> 2L,
      "dim_bound_violations" -> 0L))
  }

  test("fulltext rebuild debt: append fires the trigger, rebuild " +
      "clears it") {
    import graft.search.{FullText, Maintenance}
    val idx = "/tmp/graft_ftreb_test"
    val p = new org.apache.hadoop.fs.Path(idx)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val base = (0L until 20L).map(i => (i, s"alpha beta tok$i"))
      .toDF("doc_id", "text")
    val batch = (20L until 30L).map(i => (i, s"alpha gamma$i fresh"))
      .toDF("doc_id", "text")
    FullText.build(base, "doc_id", "text", idx)
    // freshly built: zero debt, nothing triggers
    val d0 = FullText.debt(spark, idx)
      .as[(Long, Long, Long, Long)].head()
    assert(d0._1 == 0L && d0._3 == 0L, s"fresh build has debt: $d0")
    assert(Maintenance.planFullText(spark, idx)
      .where(col("triggered")).count() == 0)
    // absorb a batch with new vocabulary: both counters fire
    FullText.append(batch, "doc_id", "text", idx)
    val d1 = FullText.debt(spark, idx)
      .as[(Long, Long, Long, Long)].head()
    assert(d1._1 > 0L && d1._3 > 0L, s"append left no debt: $d1")
    assert(Maintenance.planFullText(spark, idx)
      .where(col("triggered")).count() == 2)
    // the verb is a rebuild over the current corpus: re-seals, clears
    FullText.build(base.unionByName(batch), "doc_id", "text", idx)
    val d2 = FullText.debt(spark, idx)
      .as[(Long, Long, Long, Long)].head()
    assert(d2._1 == 0L && d2._3 == 0L, s"rebuild did not clear: $d2")
    assert(Maintenance.planFullText(spark, idx)
      .where(col("triggered")).count() == 0)
  }

  test("linear classifier: codegen bucket equals HashingEmbedder's JVM bucket") {
    import graft.text.LinearClassifier
    // the classifier's conv(md5-hex) bucket must agree with the
    // byte-arithmetic bucket the embedder uses, token for token
    val toks = Seq("hello", "world", "数据库", "a", "Spark2026")
    val jvm = {
      val md = java.security.MessageDigest.getInstance("MD5")
      toks.map { t =>
        val d = md.digest(t.getBytes("UTF-8"))
        ((((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) % 64).toInt
      }
    }
    val got = toks.toDF("tok")
      .select(LinearClassifier.bucketCol(col("tok"), 64).cast("int"))
      .as[Int].collect().toSeq
    assert(got == jvm)
  }

  test("linear classifier: tokenless doc scores sigmoid(0) = 0.5") {
    import graft.text.LinearClassifier
    // NB "hello world" would also score 0.5 — the two buckets' weights
    // (−0.3, +0.3) cancel exactly; use a single token for the contrast
    val df = Seq((1L, "   "), (2L, "hello")).toDF("id", "text")
    val r = LinearClassifier.score(df, "id", "text")
      .as[(Long, Double)].collect().toMap
    assert(r(1L) == 0.5)
    assert(r(2L) == 0.4256)   // sigmoid(-0.3) rounded
  }

  test("streaming vector search equals the batch kNN join (duality)") {
    import graft.search.Knn
    val streamed = Queries.all("streaming_vector_search")(spark, sf0001)
      .select("qid", "vec_id", "distance")
      .as[(Long, Long, Double)].collect().toSeq
    val e = core.Tables.embeddings(spark, sf0001)
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val batch = Knn.knnJoinLarge(e, "embedding", "vec_id", q, "qid", "qe", 3)
      .orderBy(col("qid").asc, col("distance").asc, col("vec_id").asc)
      .select("qid", "vec_id", "distance")
      .as[(Long, Long, Double)].collect().toSeq
    assert(streamed == batch)
  }

  test("collection delete: predicate rows removed, NULL-predicate rows kept") {
    val dir = "/tmp/graft_test_delete/coll"
    val coll = Collection(spark, dir)
    val df = Seq((1L, Some("a")), (2L, Some("b")), (3L, None))
      .toDF("id", "tag")
    coll.create(df.schema, force = true)
    coll.append(df)
    coll.delete(col("tag") === "a")   // NULL tag ⇒ predicate NULL ⇒ keep
    val left = coll.read.select("id").as[Long].collect().toSet
    assert(left == Set(2L, 3L))
    coll.drop()
  }
}
