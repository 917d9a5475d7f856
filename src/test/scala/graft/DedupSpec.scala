package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: short rows yield empty array, not garbage") {
    val df = Seq((1L, "a b"), (2L, "a b c d")).toDF("id", "text")
    val r = df.select(col("id"), Dedup.shingles(col("text")).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(r(1L).isEmpty)
    assert(r(2L) == Seq("a b c", "b c d"))
  }

  test("exact dedup groups identical content, keeps lowest id") {
    val df = Seq((5L, "same text"), (2L, "same text"), (9L, "other"))
      .toDF("id", "text")
    val r = Dedup.exact(df, "id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(r == Set((2L, 2L), (9L, 1L)))
  }

  test("minhash similarity tracks exact jaccard ordering") {
    val base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15"
    val near = base.replace("w15", "x15")   // high overlap
    val far = "z0 z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12 z13 z14 z15"
    val df = Seq((0L, base), (1L, near), (2L, far)).toDF("id", "text")
    val sig = df.select(col("id"),
      Dedup.minhashSignature(Dedup.shingles(col("text")), 16).as("sig"))
    val a = sig.select(col("id").as("ia"), col("sig").as("sa"))
    val b = sig.select(col("id").as("ib"), col("sig").as("sb"))
    val sims = a.join(b, col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        Dedup.minhashSimilarity(col("sa"), col("sb"), 16).as("sim"))
      .as[(Long, Long, Double)].collect()
      .map { case (x, y, s) => (x, y) -> s }.toMap
    assert(sims((0L, 1L)) > sims((0L, 2L)))
    assert(sims((0L, 2L)) == 0.0)
  }

  test("simhashSignatures (batch) equals the column-expression simhash") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta eta"))
      .toDF("id", "text")
    val colForm = df.select(col("id"), Dedup.simhash(col("text")).as("sig"))
      .as[(Long, Seq[Int])].collect().toMap
    val batchForm = Dedup.simhashSignatures(df, "id", "text")
      .as[(Long, Seq[Int])].collect().toMap
    assert(colForm == batchForm)
  }

  test("simhash: identical text → identical signature; hamming 0") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("id", "text")
    val s = df.select(col("id"), Dedup.simhash(col("text")).as("sig"))
    val a = s.where(col("id") === 1).select("sig").as[Seq[Int]].head()
    val b = s.where(col("id") === 2).select("sig").as[Seq[Int]].head()
    assert(a == b)
    assert(a.length == 16 && a.forall(x => x == 0 || x == 1))
  }

  test("LSH candidates are a superset of truly-identical pairs") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again today"),
      (3L, "completely different words with no overlap at all whatsoever"))
      .toDF("id", "text")
    val cands = Dedup.minhashCandidates(df, "id", "text", 8, 1)
      .select("id_a", "id_b", "est_jaccard")
      .as[(Long, Long, Double)].collect()
    assert(cands.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
    assert(!cands.exists { case (a, b, _) => b == 3L || a == 3L })
  }

  test("jaccardTopPairs: df-cap drops corpus-hot shingles from the metric") {
    // "c1 c2 c3" appears in every doc (df = 4 > ceil(4*0.5) = 2); with
    // the cap it contributes to neither intersections nor sizes, so the
    // pairs that share ONLY the hot shingle ((0,2), (2,3), ...) vanish.
    val df = Seq(
      (0L, "a1 a2 a3 a4 c1 c2 c3"),
      (1L, "a1 a2 a3 a4 c1 c2 c3"),  // dup of 0 (its shingles have df 2)
      (2L, "b1 b2 b3 b4 c1 c2 c3"),
      (3L, "d1 d2 d3 d4 c1 c2 c3")).toDF("id", "text")
    val capped = Dedup.jaccardTopPairs(df, "id", "text", k = 10,
        maxDfFrac = 0.5)
      .as[(Long, Long, Double)].collect()
    // only (0,1) share any sub-cap shingle; their capped Jaccard is 1.0
    // because the shared hot shingle is excluded from both sets
    assert(capped.toSeq == Seq((0L, 1L, 1.0)))
    // uncapped (maxDfFrac = 1.0) the hot shingles count: (0,1) still top
    // but < 1.0 is impossible (identical text) — use (0,2) to check the
    // hot shingle now creates a nonzero pair
    val uncapped = Dedup.jaccardTopPairs(df, "id", "text", k = 10,
        maxDfFrac = 1.0)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(uncapped((0L, 2L)) > 0.0)
  }

  test("simhashNearPairs (pigeonhole band join) equals the all-pairs form") {
    // corpus with exact dups, near-dups (1-token edit), and unrelated rows
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "alpha beta gamma delta epsilon zeta eta theta",   // exact dup of 0
      "alpha beta gamma delta epsilon zeta eta iota",    // near-dup of 0
      "one two three four five six seven eight nine",
      "totally different content here about other things",
      "one two three four five six seven eight ten")     // near-dup of 3
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val banded = Dedup.simhashNearPairs(df, "id", "text", maxHamming = 1)
      .as[(Long, Long, Long)].collect().toSet
    // quadratic oracle: all pairs, hamming on full signatures
    val sig = Dedup.simhashSignatures(df, "id", "text")
    val a = sig.select(col("id").as("id_a"), col("sig").as("sa"))
    val b = sig.select(col("id").as("id_b"), col("sig").as("sb"))
    val allPairs = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.hamming(col("sa"), col("sb")).cast("long").as("h"))
      .where(col("h") <= 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == allPairs)
    assert(banded.contains((0L, 1L, 0L)))  // exact dup found with hamming 0
  }

  test("simhashNearPairs at 64-bit width: pigeonhole equals all-pairs, " +
    "prefix-stable") {
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "alpha beta gamma delta epsilon zeta eta theta",   // exact dup of 0
      "alpha beta gamma delta epsilon zeta eta iota",    // near-dup of 0
      "one two three four five six seven eight nine",
      "totally different content here about other things",
      "one two three four five six seven eight ten")     // near-dup of 3
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val banded = Dedup.simhashNearPairs(df, "id", "text", maxHamming = 3,
        bits = 64)
      .as[(Long, Long, Long)].collect().toSet
    val sig = Dedup.simhashSignatures(df, "id", "text", bits = 64)
    val a = sig.select(col("id").as("id_a"), col("sig").as("sa"))
    val b = sig.select(col("id").as("id_b"), col("sig").as("sb"))
    val allPairs = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.hamming(col("sa"), col("sb"), bits = 64).cast("long").as("h"))
      .where(col("h") <= 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == allPairs)
    assert(banded.contains((0L, 1L, 0L)))
    // widening never changes the slots a narrower run pinned (salt-append
    // prefix stability, same contract as srpWeights)
    val s32 = Dedup.simhashSignatures(df, "id", "text", bits = 32)
      .as[(Long, Seq[Int])].collect().toMap
    val s64 = sig.as[(Long, Seq[Int])].collect().toMap
    assert(s64.forall { case (id, v) => v.take(32) == s32(id) })
    // the packed-Long verify invariant is a hard cap, not a convention
    assertThrows[IllegalArgumentException] {
      Dedup.simhashNearPairs(df, "id", "text", maxHamming = 1, bits = 65)
    }
  }

  test("clusters: min-label propagation finds connected components") {
    // components: {1,2,3} via chain 1-2, 2-3; {5,9} ; {7} isolated
    val nodes = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 9L)).toDF("id_a", "id_b")
    val r = Dedup.clusters(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 9L -> 5L,
      7L -> 7L))
  }

  test("clusters: empty pair set leaves every node its own cluster") {
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val r = Dedup.clusters(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("clusters: long path converges (diameter > 1 round)") {
    val n = 12
    val nodes = (0L until n.toLong).toDF("id")
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1))
      .toDF("id_a", "id_b")
    val r = Dedup.clusters(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(r.values.toSet == Set(0L) && r.size == n)
  }

  test("srpWeights: widening the signature never changes existing planes") {
    // the oracle pins planes 1-64; a 128-plane production signature must
    // keep that prefix byte-identical or every pinned candidate set breaks
    val w64 = Dedup.srpWeights(64, 8)
    val w128 = Dedup.srpWeights(128, 8)
    assert(w128.take(64) == w64)
  }

  test("SRP candidate set is ≪ n² on a clustered corpus (16-bit band keys)") {
    // 200 vectors in 10 tight clusters: intra-cluster pairs must collide
    // (near-identical sign bits), inter-cluster pairs must NOT — with
    // 16-bit band keys a random pair collides w.p. ≈ 4 × 1.5e-5, so the
    // candidate count is driven by the 10 × C(20,2) = 1900 genuine pairs,
    // not by n(n-1)/2 = 19900. The round-3 4-bit keys put ~20% of ALL
    // pairs in the candidate set; this test is the regression pin.
    val rnd = new scala.util.Random(42)
    val dim = 16
    val centers = Seq.fill(10)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = for (c <- 0 until 10; m <- 0 until 20) yield
      ((c * 20 + m).toLong,
        centers(c).map(x => (x + 0.02 * rnd.nextGaussian()).toFloat).toSeq)
    val df = rows.toDF("id", "v")
    val bands = Dedup.srpBands(df, "id", "v", dim = dim, bits = 64, nBands = 4)
    val nCand = Dedup.cosineVerifiedPairs(
      Dedup.srpKeptBands(bands, Dedup.srpHotBuckets(bands, 4096))).count()
    val allPairs = 200L * 199 / 2
    assert(nCand < allPairs / 5,
      s"candidate set $nCand is a constant fraction of n²=$allPairs — " +
        "band keys too short")
    assert(nCand >= 1500,
      s"candidate set $nCand misses planted intra-cluster pairs")
  }

  test("hot SRP buckets are capped with an observable dropped record") {
    // 50 identical vectors land in the same 4 band buckets; cap 10 drops
    // all of them (the degenerate-bucket story: without the cap this is
    // the quadratic term), and srpHotBuckets is the observable record.
    val v = Seq.fill(8)(1.0f)
    val df = (0L until 50L).map(i => (i, v)).toDF("id", "v")
    val bands = Dedup.srpBands(df, "id", "v", dim = 8, bits = 64, nBands = 4)
    val hot = Dedup.srpHotBuckets(bands, maxBucket = 10)
      .as[(Int, String, Long)].collect()
    assert(hot.length == 4 && hot.forall(_._3 == 50L))
    val pairs = Dedup.cosineCandidatePairs(df, "id", "v", k = 100, dim = 8,
      maxBucket = 10)
    assert(pairs.count() == 0L)
  }

  test("bulkTopKGuaranteed: every id emits exactly k rows, exact for orphans") {
    // 2 near-identical vectors (LSH finds each other, but that is only 1
    // neighbour < k) + 10 scattered ones ⇒ everyone is deficient at k=3
    // and takes the IVF fallback; at nprobe = nlist the probe covers every
    // cell, so the fallback is EXACT — spot-check one id against brute
    // force.
    val rnd = new scala.util.Random(11)
    def vec(): Seq[Float] = Seq.fill(8)(rnd.nextGaussian().toFloat)
    val base = vec()
    val rows = Seq((0L, base), (1L, base.map(x => x + 0.001f))) ++
      (2L to 11L).map(i => (i, vec()))
    val df = rows.toDF("id", "v")
    val idx = java.nio.file.Files.createTempDirectory("graft_annk_spec")
      .toString
    val model = graft.search.IvfIndex.build(df, "v", idx, nlist = 4)
    val r = graft.search.AnnJoin.bulkTopKGuaranteed(df, "id", "v",
        k = 3, dim = 8, ivf = model, nprobe = 4)
      .as[(Long, Long, Long, Double)].collect()
    val byId = r.groupBy(_._1)
    assert(byId.size == 12 && byId.values.forall(_.length == 3),
      s"every id must emit exactly 3 rows, got ${byId.view.mapValues(_.length).toMap}")
    // brute-force check for id 0: nearest neighbour is the planted twin
    val id0 = byId(0L).sortBy(_._2)
    assert(id0.head._3 == 1L && id0.head._4 > 0.999)
  }

  test("bitsForCorpus: log₂(n) sizing rule, 96-plane prefix determinism") {
    // floor: tiny corpora keep the oracle-pinned 64-plane/16-bit default
    assert(Dedup.bitsForCorpus(100) == 64)
    // SCALE.md's demonstrated 256 k widening: 96 planes / 24-bit bands
    assert(Dedup.bitsForCorpus(256000) == 96)
    assert(Dedup.bandBitsForCorpus(256000) == 24)
    // cap: srpWeights derives at most 128 planes
    assert(Dedup.bitsForCorpus(100000000000L) == 128)
    // monotone in n — a bigger corpus never narrows its bands
    val widths = Seq(1000L, 10000L, 100000L, 1000000L, 100000000L)
      .map(Dedup.bitsForCorpus(_))
    assert(widths == widths.sorted)
    // the widened 96-plane set's first 64 planes ARE the 64-plane oracle
    // planes (salt-append derivation) — auto-widening at 256 k can never
    // change planes an oracle already pinned
    assert(Dedup.srpWeights(96, 16).take(64) == Dedup.srpWeights(64, 16))
  }

  test("cosineCandidatePairs finds planted near-duplicate vectors") {
    val rnd = new scala.util.Random(7)
    def vec(): Seq[Float] = Seq.fill(8)(rnd.nextGaussian().toFloat)
    val base = vec()
    val near = base.zipWithIndex.map { case (x, i) =>
      if (i == 0) x + 0.01f else x }               // cosine ≈ 1 with base
    val rows = Seq((0L, base), (1L, near)) ++
      (2L to 9L).map(i => (i, vec()))
    val df = rows.toDF("id", "v")
    val top = Dedup.cosineCandidatePairs(df, "id", "v", k = 3, dim = 8)
      .as[(Long, Long, Double)].collect()
    // the planted pair collides in SRP-LSH (signs nearly identical) and
    // ranks first by cosine
    assert(top.head._1 == 0L && top.head._2 == 1L && top.head._3 > 0.99)
  }

  test("multiprobe cosine candidates strictly contain the exact-key set") {
    val rnd = new scala.util.Random(23)
    def vec(): Seq[Float] = Seq.fill(8)(rnd.nextGaussian().toFloat)
    val base = vec()
    val near = base.map(x => x + 0.001f)
    val rows = Seq((0L, base), (1L, near)) ++ (2L to 40L).map(i => (i, vec()))
    val df = rows.toDF("id", "v")
    val bands = Dedup.srpBands(df, "id", "v", dim = 8, bits = 64, nBands = 4)
    val kept = Dedup.srpKeptBands(bands, Dedup.srpHotBuckets(bands, 4096))
    val exact = Dedup.cosineVerifiedPairs(kept)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val multi = Dedup.cosineVerifiedPairsMultiprobe(kept, bandSize = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(multi),
      "flip f=0 reproduces every exact-key candidate")
    assert(multi.contains((0L, 1L)), "planted near-dup pair survives")
    assert(multi.size >= exact.size)
  }

  test("incremental ingest dedup: new vs historical only, best match wins") {
    val base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15"
    val hist = Seq((1L, base), (2L, base.replace("w15", "x15")),
      (3L, "z0 z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12 z13 z14 z15"))
      .toDF("id", "text")
    // two identical NEW docs: each must match history, never each other
    val fresh = Seq((10L, base), (11L, base),
      (12L, "q0 q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12 q13 q14 q15"))
      .toDF("id", "text")
    val r = Dedup.minhashIncrementalDupes(hist, fresh, "id", "text",
        numHashes = 16, bandSize = 1, minEst = 0.5)
      .as[(Long, Long, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3))).toMap
    assert(r(10L)._1 == 1L && r(10L)._2 == 1.0,
      "exact copy of historical doc 1 matches it at est 1.0")
    assert(r(11L)._1 == 1L,
      "second identical new doc ALSO matches doc 1 — never its new twin")
    assert(!r.contains(12L), "fresh content emits nothing")
  }

  /** The explode/groupBy signature form the per-row kernel replaced,
    * kept as its oracle: every shingle exploded into a row carrying
    * ceil(numHashes/4) md5 hex digests, then one min(substring) per
    * slice per id. */
  private def explodeSignatures(df: org.apache.spark.sql.DataFrame,
                                numHashes: Int, shingleN: Int) = {
    val nDigests = (numHashes + 3) / 4
    val digestConcat = concat((0 until nDigests).map { i =>
      if (i == 0) md5(col("s")) else md5(concat(lit(s"$i:"), col("s")))
    }: _*)
    df.select(col("id"), Dedup.shingles(col("text"), shingleN).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("id"), explode(col("sh")).as("s"))
      .withColumn("d", digestConcat)
      .groupBy(col("id"))
      .agg(array((0 until numHashes).map { h =>
        min(substring(col("d"), h * 8 + 1, 8))
      }: _*).as("sig"))
  }

  /** A seeded corpus over a small vocabulary: rows of 0 to 11 tokens
    * (empty text and rows under n tokens included), irregular
    * whitespace, and ids that repeat (a collection holding superseded
    * rows of one id). */
  private def seededCorpus(seed: Int, rows: Int, ids: Int) = {
    val r = new scala.util.Random(seed)
    val vocab = Seq("scan", "filter", "merge", "join", "sort", "hash",
      "page", "index", "row", "köln", "日本")
    (0 until rows).map { _ =>
      val n = r.nextInt(12)
      val sep = () => if (r.nextInt(6) == 0) "  " else " "
      val text = (0 until n).map(_ => vocab(r.nextInt(vocab.size)))
        .foldLeft("")((acc, t) => if (acc.isEmpty) t else acc + sep() + t)
      (r.nextInt(ids).toLong, if (r.nextInt(10) == 0) " " + text else text)
    } :+ ((ids + 1).toLong, "") :+ ((ids + 2).toLong, "scan filter")
  }

  test("minhashSignatures: the per-row kernel equals the explode/groupBy " +
      "form, duplicate ids, short rows and empty text included") {
    Seq((1, 16, 3), (2, 8, 2), (3, 10, 3), (4, 1, 1)).foreach {
      case (seed, numHashes, n) =>
        val df = seededCorpus(seed, 120, 40).toDF("id", "text")
        val got = Dedup.minhashSignatures(df, "id", "text", numHashes, n)
          .as[(Long, Seq[String])].collect().toMap
        val want = explodeSignatures(df, numHashes, n)
          .as[(Long, Seq[String])].collect().toMap
        assert(got == want, s"seed $seed, numHashes $numHashes, n $n")
        assert(got.values.forall(_.size == numHashes))
        // split keeps one empty token, a 1-gram shingle of its own
        assert(!got.contains(41L) || n == 1, "empty text signs nothing")
        assert(!got.contains(42L) || n <= 2, "a row under n tokens signs nothing")
    }
  }

  test("incremental dedup: equals the distinct + row_number form on " +
      "seeded corpora with duplicate-id histories") {
    Seq(5, 6, 7).foreach { seed =>
      val histRows = seededCorpus(seed, 80, 30)
      val hist = histRows.toDF("id", "text")
      // fresh rows plus copies of history with one word appended: near
      // duplicates, some of ids whose history holds several rows
      val fresh = (seededCorpus(seed + 100, 40, 30)
          .map { case (id, t) => (id + 1000, t) } ++
        histRows.take(30).zipWithIndex.map { case ((_, t), i) =>
          (2000L + i, t + " row") }).toDF("id", "text")
      val got = Dedup.minhashIncrementalDupes(hist, fresh, "id", "text",
          numHashes = 16, bandSize = 2, minEst = 0.25)
        .as[(Long, Long, Double)].collect().toSet
      // the previous pipeline over the oracle signatures
      def bands(sig: org.apache.spark.sql.DataFrame, tag: String) =
        sig.select(col("id").as(s"${tag}_id"), col("sig").as(s"${tag}_sig"),
          posexplode(array((0 until 8).map(b => concat_ws("|",
            col("sig").getItem(2 * b), col("sig").getItem(2 * b + 1))): _*))
            .as(Seq("band", "band_key")))
      val cand = bands(explodeSignatures(fresh, 16, 3), "n")
        .join(bands(explodeSignatures(hist, 16, 3), "o"),
          Seq("band", "band_key"))
        .select(col("n_id"), col("o_id"),
          Dedup.minhashSimilarity(col("n_sig"), col("o_sig"), 16).as("est"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("n_id"))
        .orderBy(col("est").desc, col("o_id").asc)
      val want = cand.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1 && col("est") >= 0.25)
        .select("n_id", "o_id", "est").as[(Long, Long, Double)].collect().toSet
      assert(got == want, s"seed $seed")
      assert(got.nonEmpty, s"seed $seed found no duplicate at all")
    }
  }

  test("incremental dedup: an equal-est tie goes to the lower old id, " +
      "est == minEst is kept, new docs never match each other") {
    val base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15"
    val near = "w0 w1 w2 w3 w4 w5 w6 w7 w8 v9 v10 v11 v12 v13 v14 v15"
    // ids 9 and 4 hold the same text: the match must name 4
    val hist = Seq((9L, base), (4L, base), (7L, "z0 z1 z2 z3 z4 z5"))
      .toDF("id", "text")
    val fresh = Seq((20L, base), (21L, near),
      // two identical new docs absent from history: no output for either
      (22L, "q0 q1 q2 q3 q4 q5"), (23L, "q0 q1 q2 q3 q4 q5"))
      .toDF("id", "text")
    def run(minEst: Double) = Dedup.minhashIncrementalDupes(hist, fresh,
        "id", "text", numHashes = 16, bandSize = 1, minEst = minEst)
      .as[(Long, Long, Double)].collect().map(x => x._1 -> ((x._2, x._3)))
      .toMap
    val all = run(0.0)
    assert(all(20L) == ((4L, 1.0)), all.toString)
    assert(!all.contains(22L) && !all.contains(23L), all.toString)
    val est = all(21L)._2
    assert(all(21L)._1 == 4L && est > 0.0 && est < 1.0, all.toString)
    assert(run(est).get(21L) == Some((4L, est)), "est == minEst is kept")
    assert(!run(est + 1e-4).contains(21L), "est < minEst is dropped")
  }

  test("incremental dedup: a duplicate-id history signs the union of its " +
      "rows, so either superseded text still matches that id") {
    val a = "a0 a1 a2 a3 a4 a5 a6 a7"
    val b = "b0 b1 b2 b3 b4 b5 b6 b7"
    val hist = Seq((3L, a), (3L, b), (8L, "c0 c1 c2 c3")).toDF("id", "text")
    val sig = Dedup.minhashSignatures(hist, "id", "text", 16)
      .as[(Long, Seq[String])].collect().toMap
    val sa = Dedup.minhashSignatures(Seq((3L, a)).toDF("id", "text"),
      "id", "text", 16).as[(Long, Seq[String])].collect().head._2
    val sb = Dedup.minhashSignatures(Seq((3L, b)).toDF("id", "text"),
      "id", "text", 16).as[(Long, Seq[String])].collect().head._2
    assert(sig(3L) == sa.zip(sb).map { case (x, y) => Ordering[String].min(x, y) })
    val r = Dedup.minhashIncrementalDupes(hist,
        Seq((30L, a), (31L, b)).toDF("id", "text"), "id", "text",
        numHashes = 16, bandSize = 1, minEst = 0.0)
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x._2).toMap
    assert(r == Map(30L -> 3L, 31L -> 3L), r.toString)
  }

  test("semantic dedup: within-cluster prune keeps min id, respects cap") {
    val rnd = new scala.util.Random(11)
    def vec(): Seq[Float] = Seq.fill(8)(rnd.nextGaussian().toFloat)
    val base = vec()
    val near = base.map(x => x + 0.001f)          // cosine ≈ 1 with base
    val far = base.map(x => -x)                   // cosine = −1
    // cluster 0: {0 base, 1 near, 2 near, 7 far}; cluster 1: {3, 4}
    val emb = (Seq((0L, base), (1L, near), (2L, near), (7L, far),
      (3L, vec()), (4L, vec()))).toDF("id", "v")
    val asg = Seq((0L, 0), (1L, 0), (2L, 0), (7L, 0), (3L, 1), (4L, 1))
      .toDF("id", "cluster_id")
    val r = graft.dedup.SemanticDedup
      .markDuplicates(emb, asg, "id", "v", tau = 0.95)
      .select("id", "dup_of").as[(Long, Option[Long])].collect().toMap
    assert(r(0L).isEmpty && r(7L).isEmpty, "cluster representatives kept")
    assert(r(1L).contains(0L) && r(2L).contains(0L),
      "near-dups point at the MIN qualifying lower id")
    assert(r(3L).isEmpty && r(4L).isEmpty, "random pair below tau")
    // cap: with maxClusterSize=3, cluster 0 (4 members) yields no pairs
    val capped = graft.dedup.SemanticDedup
      .markDuplicates(emb, asg, "id", "v", tau = 0.95, maxClusterSize = 3)
      .select("id", "dup_of").as[(Long, Option[Long])].collect().toMap
    assert(capped.values.forall(_.isEmpty),
      "oversized cluster contributes no pairs; all members kept")
  }

  // ---- degenerate-corpus properties (keeper selection + cascade) ----
  // The registry entries are verified on planted-dup fixtures; these
  // properties pin the boundary shapes those fixtures never produce:
  // all-duplicate, all-unique (disjoint vocab ⇒ zero candidates), and
  // one cluster spanning the whole corpus.

  /** shape 0 = all-dup (identical text), 1 = all-unique (disjoint
    * vocab), 2 = single cluster (periodic texts: identical 3-gram
    * shingle SETS at different lengths ⇒ identical minhash signatures,
    * pairwise near-candidates, no exact dups). */
  private def degenerateDocs(shape: Int, n: Int)
      : org.apache.spark.sql.DataFrame = (shape match {
    case 0 => (0 until n).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta eta theta"))
    case 1 => (0 until n).map(i =>
      (i.toLong, (0 until 8).map(j => s"tok_${i}_$j").mkString(" ")))
    case _ => (0 until n).map(i =>
      (i.toLong, Seq.fill(4 + i)("p1 p2 p3").mkString(" ")))
  }).toDF("doc_id", "text")

  private def scCheck(prop: org.scalacheck.Prop, tests: Int): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(tests).withInitialSeed(42L), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: keeper selection is unique-per-cluster on degenerate corpora") {
    import org.scalacheck.{Gen, Prop}
    import org.apache.spark.sql.expressions.Window
    val gen = for {
      shape <- Gen.oneOf(0, 1, 2)
      n <- Gen.chooseNum(4, 9)
    } yield (shape, n)
    val prop = Prop.forAll(gen) { case (shape, n) =>
      val docs = degenerateDocs(shape, n)
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
        numHashes = 8, bandSize = 1).where(col("est_jaccard") >= 0.5)
      val clusters = Dedup
        .clusters(docs.select(col("doc_id")), "doc_id", pairs)
        .withColumnRenamed("id", "doc_id")
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      val picked = clusters
        .join(docs.select(col("doc_id"), length(col("text")).as("n_chars")),
          "doc_id")
        .withColumn("keeper_id", first(col("doc_id")).over(w))
        .select("doc_id", "cluster_id", "keeper_id")
        .as[(Long, Long, Long)].collect().toSeq
      val byCluster = picked.groupBy(_._2)
      // exactly one keeper per cluster, and it is a member of the cluster
      val unique = byCluster.values.forall { ms =>
        ms.map(_._3).distinct.size == 1 &&
          ms.map(_._1).contains(ms.head._3)
      }
      val shapeOk = shape match {
        case 0 => byCluster.size == 1 && picked.forall(_._3 == 0L)
        case 1 => byCluster.size == n && picked.forall(m => m._3 == m._1)
        // single cluster: the longest member (highest id here) wins
        case _ => byCluster.size == 1 && picked.forall(_._3 == (n - 1).toLong)
      }
      unique && shapeOk
    }
    scCheck(prop, tests = 12)
  }

  test("property: cascade tier verdicts partition degenerate corpora") {
    import org.scalacheck.{Gen, Prop}
    val gen = for {
      shape <- Gen.oneOf(0, 1, 2)
      n <- Gen.chooseNum(4, 9)
    } yield (shape, n)
    val prop = Prop.forAll(gen) { case (shape, n) =>
      val docs = degenerateDocs(shape, n)
      // the dedup_cascade composition: exact tier, then near tier (est
      // ≥ 0.9) over exact-tier survivors only
      val exact = Dedup.exact(docs, "doc_id", "text")
      val withExact = docs.select(col("doc_id"), md5(col("text")).as("__h"))
        .join(exact.select(col("content_hash").as("__h"), col("keep_id")),
          Seq("__h"))
        .select(col("doc_id"),
          when(col("doc_id") =!= col("keep_id"), col("keep_id"))
            .as("exact_of"))
      val survivors = withExact.where(col("exact_of").isNull)
        .select("doc_id")
      val nearOf = Dedup.minhashCandidates(docs, "doc_id", "text",
          numHashes = 8, bandSize = 1)
        .where(col("est_jaccard") >= 0.9)
        .join(survivors.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
        .join(survivors.withColumnRenamed("doc_id", "id_b"), Seq("id_b"))
        .groupBy(col("id_b").as("doc_id"))
        .agg(min(col("id_a")).as("near_of"))
      val verdicts = withExact.join(nearOf, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("exact_of").isNotNull, lit("exact"))
            .when(col("near_of").isNotNull, lit("near")).as("tier"),
          coalesce(col("exact_of"), col("near_of")).as("dup_of"))
        .as[(Long, Option[String], Option[Long])].collect().toSeq
      val invariants = verdicts.size == n &&
        verdicts.map(_._1).distinct.size == n &&
        verdicts.forall { case (id, tier, dupOf) =>
          tier.isDefined == dupOf.isDefined &&       // verdict ⇔ keeper
            dupOf.forall(_ < id)                     // keeper has lower id
        }
      val (nExact, nNear, nKept) = (
        verdicts.count(_._2.contains("exact")),
        verdicts.count(_._2.contains("near")),
        verdicts.count(_._2.isEmpty))
      val totalsOk = nExact + nNear + nKept == n
      val shapeOk = shape match {
        case 0 => nExact == n - 1 && nNear == 0 && nKept == 1
        case 1 => nExact == 0 && nNear == 0 && nKept == n
        // identical signatures, pairwise-distinct texts: doc 0 keeps,
        // everyone else lands in the near tier pointing at 0
        case _ => nExact == 0 && nNear == n - 1 && nKept == 1 &&
          verdicts.forall { case (id, _, dupOf) =>
            id == 0L || dupOf.contains(0L)
          }
      }
      invariants && totalsOk && shapeOk
    }
    scCheck(prop, tests = 12)
  }
}
