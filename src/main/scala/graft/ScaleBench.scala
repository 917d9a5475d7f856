package graft

import graft.dedup.Dedup
import graft.search.{AnnJoin, IvfIndex, Knn}
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scaling rehearsal (SCALE.md): run the dedup / ANN / IVF families over
  * DETERMINISTIC synthetic corpora at multiple sizes and report the
  * observed time-vs-corpus exponent per operator — the empirical check
  * that no operator is secretly super-linear (the round-3 SRP band-key
  * defect would have shown up here as exponent → 2 in the candidate
  * count while the sf0.1 fixture showed nothing).
  *
  * Corpus shape mirrors what the operators are FOR: embeddings come in
  * tight clusters of `clusterSize` near-duplicates (so LSH has real
  * positives to find — an all-random corpus has no candidates and would
  * flatter any LSH); documents contain planted near-dup pairs (one token
  * edited) on the same rationale. Seeded JVM PRNG per row id, so every
  * run at a given n sees byte-identical data.
  *
  * Usage: tools/run.sh graft.ScaleBench [sizes]   (default "4000,16000")
  * Prints one markdown row per (operator, n) plus a fitted exponent
  * log(t_hi/t_lo)/log(n_hi/n_lo) per operator across consecutive sizes.
  */
object ScaleBench {
  private val Dim = 64

  /** n vectors in clusters of 8: cluster centre ~N(0,1)^64 from a PRNG
    * seeded by the cluster id, members = centre + 0.02·noise seeded by the
    * row id. Deterministic for any n; bigger n = more clusters (constant
    * density, the realistic growth mode — a 10× corpus has 10× the
    * near-dup groups, not 10×-bigger groups). */
  def synthEmbeddings(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    val clusterSize = 8
    // distributed generation (same per-id PRNG values as the original
    // driver-side Seq — required once the rehearsal reaches 10⁶ rows)
    spark.range(n.toLong).as[Long].map { i =>
      val c = i / clusterSize
      val rc = new scala.util.Random(1000003L * c + 17)
      val centre = Array.fill(Dim)(rc.nextGaussian())
      val rm = new scala.util.Random(7919L * i + 3)
      (i, centre.map(x => (x + 0.02 * rm.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding").repartition(32)
  }

  /** n docs of 30 tokens from a 5000-word vocab; every 4th doc is a
    * near-dup of its predecessor with one token edited (Jaccard ≈ 0.93,
    * simhash-adjacent) — the planted positives the text-dedup family
    * exists to find. */
  def synthDocs(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).as[Long].map { i =>
      if (i % 4 == 1) {
        val r = new scala.util.Random(104729L * (i - 1) + 5)
        val toks = Array.fill(30)(s"w${r.nextInt(5000)}")
        toks(13) = s"w${new scala.util.Random(i).nextInt(5000)}"
        (i, toks.mkString(" "))
      } else {
        val r = new scala.util.Random(104729L * i + 5)
        (i, Array.fill(30)(s"w${r.nextInt(5000)}").mkString(" "))
      }
    }.toDF("doc_id", "text").repartition(32)
  }

  private def materialize(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** First `m` corpus vectors as a (qid, vector) batch — one bounded
    * pushed-range fetch (the incoming-query batch a bulk serve tags). */
  private def bulkQueries(emb: DataFrame,
                          m: Int): Seq[(Long, Array[Float])] =
    emb.where(col("vec_id") < m).select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq

  /** Serve-op guard: the lexical artifact's dir at this n, built if a
    * filtered run skipped the build op. */
  private def ensureTermArtifact(spark: SparkSession, docs: DataFrame,
                                 n: Int): String = {
    val dir = s"/tmp/graft_scale/terms_$n"
    if (graft.search.TermIndex.segments(spark, dir).isEmpty)
      graft.search.TermIndex.build(docs, "doc_id", "text", dir)
    dir
  }

  /** Local recursive dir copy (rehearsal ops that MUTATE an index work
    * on a throwaway copy) — shared with the query entries. */
  private def copyDir(srcDir: String, dstDir: String): Unit =
    graft.core.Artifacts.copyLocalDir(srcDir, dstDir)

  /** Build-once UPPER-layer artifacts over the STANDARD corpus — for
    * the bulk layered COST row (navigability is irrelevant to a cost
    * decade; the walk's work is bounded by construction either way).
    * The trained-tier boundary applies to the SAMPLE size. */
  private def upperArtifacts(spark: SparkSession, emb: DataFrame,
                             n: Int): (DataFrame, Long) = {
    import graft.search.GraphAnn
    val sample = GraphAnn.upperSample(emb, "vec_id")
    val useLsh = sys.env.get("SPARK_GRAFT_GRAPH_BUILD").contains("lsh") ||
      n * 0.135 > 300000
    val adjDir = if (useLsh) s"/tmp/graft_scale/graph_upper_lsh_$n"
                 else s"/tmp/graft_scale/graph_upper_$n"
    val uadj = graft.core.Artifacts.buildOnce(spark, adjDir) {
      if (useLsh)
        GraphAnn.buildAdjacencyLsh(sample, "vec_id", "embedding",
          dim = Dim)
      else
        GraphAnn.buildAdjacency(sample, "vec_id", "embedding",
          GraphAnn.Params(maxIter = 5))
    }
    val uent = graft.core.Artifacts.buildOnce(spark,
      s"/tmp/graft_scale/graphentry_upper_$n") {
      GraphAnn.medoid(sample, "vec_id", "embedding")
    }.collect()(0).getLong(0)
    (uadj, uent)
  }

  /** The NAVIGABLE chain corpus for the layered-vs-flat rounds decade
    * (rungs of 6 nodes, 3.0 apart along dim 0, σ = 0.2 noise — the
    * GraphAnnSpec layered fixture at decade size). */
  private def chainEmbeddings(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).as[Long].map { i =>
      val rung = i / 6
      val rm = new scala.util.Random(7919L * i + 3)
      val v = Array.fill(Dim)((rm.nextGaussian() * 0.2).toFloat)
      v(0) = (rung * 3.0 + rm.nextGaussian() * 0.2).toFloat
      (i, v.toSeq)
    }.toDF("vec_id", "embedding").repartition(32)
  }

  /** Minimal round count at which a walk's top-1 hits a query planted
    * 24 rungs from the (mid-chain) seed — mode "flat" sweeps its round
    * budget; "layered" sweeps the UPPER budget with 3 base rounds and
    * reports upper + 3; "multi" (round 13) runs TWO nested upper
    * levels ([[graft.search.GraphAnn.levelSample]] p² then p) sharing
    * the swept per-level budget and reports 2·upper + 3 — the TOTAL
    * rounds executed, so the row is comparable to the 1-layer one.
    * Probes double (1,2,4,…) then refine one step; 99 = not reached
    * within the 96-round cap. */
  private def chainRoundsToHit(spark: SparkSession, n: Int,
                               mode: String): Long = {
    import graft.search.GraphAnn
    import spark.implicits._
    val emb = materialize(chainEmbeddings(spark, n),
      s"/tmp/graft_scale/chain_$n")
    val adj = graft.core.Artifacts.buildOnce(spark,
      s"/tmp/graft_scale/chain_graph_$n") {
      GraphAnn.buildAdjacency(emb, "vec_id", "embedding",
        GraphAnn.Params(maxIter = 5))
    }
    // the upper layer builds with the α-RNG PRUNE — HNSW's select
    // heuristic: the diversity (long) edges are what let the sparse
    // layer skip a capped-kNN shard boundary's missing link (a plain
    // kNN upper measured a 1 M stall from exactly that; the 13.5%
    // sample keeps the pruned build's cost a fraction of the base's)
    val sample = GraphAnn.upperSample(emb, "vec_id")
    val uadj = graft.core.Artifacts.buildOnce(spark,
      s"/tmp/graft_scale/chain_upperp_$n") {
      GraphAnn.buildAdjacencyPruned(sample, "vec_id", "embedding",
        GraphAnn.Params(maxIter = 5))
    }
    val ent = graft.core.Artifacts.buildOnce(spark,
      s"/tmp/graft_scale/chain_entry_$n") {
      GraphAnn.medoid(emb, "vec_id", "embedding")
    }
    val entId0 = ent.collect()(0).getLong(0)
    // HNSW shares ONE entry node across layers — seed the upper walk
    // at the SAMPLED node nearest the base entry. An independent
    // sample medoid drifts ~√n rungs from the base medoid (median
    // sampling noise: measured ~290 rungs at 1 M), and the row would
    // then measure that offset, not the zoom.
    val uent = graft.core.Artifacts.buildOnce(spark,
      s"/tmp/graft_scale/chain_uentry2_$n") {
      val ev = emb.where(col("vec_id") === entId0).select("embedding")
        .collect()(0).getSeq[Float](0)
      sample.select(col("vec_id").as("entry_id"),
          graft.functions.VectorFunctions.l2Sq(col("embedding"),
            typedlit(ev)).as("__d"))
        .orderBy(col("__d").asc, col("entry_id").asc)
        .limit(1).select("entry_id")
    }
    // the SECOND upper level (mode "multi"): the nested p² sample,
    // same α-RNG pruned build, seeded (like level 1) at its member
    // nearest the shared base entry
    lazy val sample2 = GraphAnn.levelSample(emb, "vec_id", level = 2)
    lazy val uadj2 = graft.core.Artifacts.buildOnce(spark,
      s"/tmp/graft_scale/chain_upper2p_$n") {
      GraphAnn.buildAdjacencyPruned(sample2, "vec_id", "embedding",
        GraphAnn.Params(maxIter = 5))
    }
    lazy val uent2 = graft.core.Artifacts.buildOnce(spark,
      s"/tmp/graft_scale/chain_u2entry_$n") {
      val ev = emb.where(col("vec_id") === entId0).select("embedding")
        .collect()(0).getSeq[Float](0)
      sample2.select(col("vec_id").as("entry_id"),
          graft.functions.VectorFunctions.l2Sq(col("embedding"),
            typedlit(ev)).as("__d"))
        .orderBy(col("__d").asc, col("entry_id").asc)
        .limit(1).select("entry_id")
    }
    // the planted target: 24 rungs past the seed's rung
    val entId = entId0
    val qid = ((entId / 6) + 24) * 6
    val qv = emb.where(col("vec_id") === qid).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    def hit(r: Int): Boolean = {
      val top = (mode match {
        case "multi" =>
          GraphAnn.layeredSearchMulti(Seq(uadj2, uadj), uent2, adj, emb,
            "vec_id", "embedding", qv, k = 1, beamWidth = 8,
            upperRounds = r, rounds = 3, degree = 8, nSeeds = 2)
        case "layered" =>
          GraphAnn.layeredSearchMulti(Seq(uadj), uent, adj, emb,
            "vec_id", "embedding", qv, k = 1, beamWidth = 8,
            upperRounds = r, rounds = 3, degree = 8, nSeeds = 2)
        case _ =>
          GraphAnn.beamSearchMulti(adj, emb, "vec_id", "embedding", qv,
            ent, k = 1, beamWidth = 8, rounds = r, degree = 8,
            nSeeds = 1)
      }).select("vec_id").as[Long].collect()
      top.nonEmpty && top(0) == qid
    }
    val cap = 96
    // probe 1,2,4,… and ALWAYS the cap itself (the first sweep's bug:
    // doubling past the cap skipped probing AT it)
    val probes = Iterator.iterate(1)(_ * 2).takeWhile(_ < cap).toSeq :+ cap
    var prev = 0
    var found = -1
    for (p <- probes if found < 0) { if (hit(p)) found = p else prev = p }
    if (found < 0) return 99L
    // refine: walk budgets are monotone in rounds on this fixture —
    // halve-step back to the first hitting budget
    var lo = prev; var hi = found
    while (hi - lo > 1) {
      val mid = (lo + hi) / 2
      if (hit(mid)) hi = mid else lo = mid
    }
    (mode match {
      case "multi" => 2 * hi + 3
      case "layered" => hi + 3
      case _ => hi
    }).toLong
  }

  /** Build-once graph adjacency + medoid entry for a rehearsal corpus:
    * the trained-quantizer build under its auto-derived nlist through
    * 256 k, the training-free SRP-band build past it (the KMeans n·nlist
    * assignment pass is the trained tier's own quadratic onset — see
    * [[graft.search.GraphAnn]]); serving never knows which built it. */
  private def graphArtifacts(spark: SparkSession, emb: DataFrame,
                             n: Int): (DataFrame, Long) = {
    import graft.search.GraphAnn
    // SPARK_GRAFT_GRAPH_BUILD=lsh pins the training-free builder for a
    // whole series (one builder per t-exp series keeps the serving rows
    // comparable); the default switches at the trained tier's boundary
    val useLsh = sys.env.get("SPARK_GRAFT_GRAPH_BUILD").contains("lsh") ||
      n > 300000
    val adjDir = if (useLsh) s"/tmp/graft_scale/graph_lsh_$n"
                 else s"/tmp/graft_scale/graph_$n"
    val adj = graft.core.Artifacts.buildOnce(spark, adjDir) {
      if (useLsh)
        GraphAnn.buildAdjacencyLsh(emb, "vec_id", "embedding", dim = Dim)
      else
        GraphAnn.buildAdjacency(emb, "vec_id", "embedding",
          GraphAnn.Params(maxIter = 5))
    }
    val entry = graft.core.Artifacts.buildOnce(spark,
      s"/tmp/graft_scale/graphentry_$n") {
      GraphAnn.medoid(emb, "vec_id", "embedding")
    }.collect()(0).getLong(0)
    (adj, entry)
  }


  def main(args: Array[String]): Unit = {
    val sizes = (if (args.nonEmpty) args(0) else "4000,16000")
      .split(",").map(_.trim.toInt).toSeq
    require(sizes.size >= 2, s"ScaleBench needs at least two sizes " +
      s"(got ${sizes.mkString(",")}): each operator's growth exponent is " +
      "fitted over the last two, e.g. 2000,4000")
    // optional 2nd arg: regex over operator names — the serving-cost
    // rehearsal at 10⁶ runs only the per-query serving rows (the full
    // list includes Θ(n²)-BY-SEMANTICS demo widths that are not meant
    // to run at that size)
    val opFilter: String => Boolean = args.lift(1) match {
      case Some(re) => val r = re.r; (s: String) => r.findFirstIn(s).isDefined
      case None => _ => true
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def timed(body: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val out = body
      ((System.nanoTime() - t0) / 1e9, out)
    }

    // (operator, n) -> (seconds, result cardinality)
    val results = scala.collection.mutable.LinkedHashMap
      .empty[(String, Int), (Double, Long)]

    for (n <- sizes) {
      val emb = materialize(synthEmbeddings(spark, n), s"/tmp/graft_scale/emb_$n")
      val docs = materialize(synthDocs(spark, n), s"/tmp/graft_scale/docs_$n")
      // band width auto-sized per corpus (Dedup.bitsForCorpus — SCALE.md's
      // log₂(n) rule): 64 planes/16-bit bands up to ~10³, widening to 96
      // planes/24-bit bands at the 256 k demonstration size, so the
      // rehearsal exercises the width a corpus of each size NEEDS instead
      // of pinning the fixture default and saturating
      val autoBits = Dedup.bitsForCorpus(n)
      def srpPairs(bits: Int): Long = {
        val bands = Dedup.srpBands(emb, "vec_id", "embedding", Dim, bits, 4)
        Dedup.cosineVerifiedPairs(
          Dedup.srpKeptBands(bands, Dedup.srpHotBuckets(bands, 4096))).count()
      }
      System.err.println(s"[scale] n=$n: auto-sized SRP bits=$autoBits " +
        s"(${autoBits / 4}-bit bands)")
      // deep-page cursor for the search_iterate_deep row: the page-31
      // boundary, computed ONCE per n on first use and reused by the
      // warm-up and timed runs — it is the iterator's CARRIED state
      // (one (distance, id) pair), not part of any page's cost
      lazy val deepCursor: (Double, Long) = {
        import spark.implicits._
        val q = Seq(Tuple1(emb.where(col("vec_id") === 0)
          .select("embedding").as[Seq[Float]].head())).toDF("qe")
        val mx = emb.crossJoin(broadcast(q))
          .withColumn("distance", Knn.distCol(col("embedding"), col("qe")))
          .select("vec_id", "distance")
          .orderBy(col("distance").asc, col("vec_id").asc).limit(31 * 5)
          .agg(max(struct(col("distance"), col("vec_id"))))
          .first().getStruct(0)
        (mx.getDouble(0), mx.getLong(1))
      }
      // WAND decade corpus: the standard docs plus a stopword in EVERY
      // doc ('the', df=n — its posting list is the corpus-sized cost
      // the pruned serve must NOT pay) and a rare term planted in 10
      // docs. Vocab stays ~5000 (bounded); the bucketed rows below
      // serve a corpus-grown vocabulary, and the dictionary row
      // measures the NUMBERING at growing vocab alone.
      lazy val wandDocs = materialize(
        docs.withColumn("text",
          concat(col("text"), lit(" the"),
            when(col("doc_id") % (n.toLong / 10) === 3, lit(" rarex"))
              .otherwise(lit("")))),
        s"/tmp/graft_scale/wanddocs_$n")
      def ensureWandIndex(): String = {
        val idx = s"/tmp/graft_scale/ftwand_b16_$n"
        QueryDsl.mutateOnce(spark, idx) {
          graft.search.FullText.build(wandDocs, "doc_id", "text", idx)
        }
        idx
      }
      val ops: Seq[(String, () => Long)] = Seq(
        // the distributed term→dim numbering ALONE (round 14 — the
        // round-13 weak grade was a single-partition row_number over
        // the whole vocabulary): tokens get a per-doc unique suffix so
        // the vocabulary grows ≈ 5000 + n·30/4 with the corpus, and
        // the numbering must stay t-exp ≈ 1 with NO vocab-sized single
        // task. rows = vocab size (rows-exp ≈ 1 confirms growth).
        "fulltext_dict_numbering (distributed, vocab grows)" -> (() => {
          val tokenized = docs.select(col("doc_id").as("id"),
            transform(
              TextAnalysis.wsTerms(col("text")),
              t => when(pmod(crc32(t), lit(4)) === 0,
                concat(t, lit("_"), col("doc_id")))
                .otherwise(t)).as("__tk"))
          val tf = tokenized
            .select(col("id"), explode(col("__tk")).as("term"))
            .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
          graft.search.FullText.denseDict(tf).count()
        }),
        // WAND vs exhaustive on (rare df=10 term + df=n stopword): the
        // bound test prunes the stopword's n-row posting list from
        // candidate generation, so wand serve cost should stay FLAT in
        // n while the exhaustive twin grows ~linearly with the list
        "fulltext_wand_serve (rare+stopword, k=5)" -> (() => {
          val idx = ensureWandIndex()
          graft.search.FullText.searchWand(spark, idx,
            Seq("rarex", "the"), 5).count()
        }),
        "fulltext_exhaustive_serve (same query)" -> (() => {
          val idx = ensureWandIndex()
          graft.search.FullText.search(spark, idx,
            Seq("rarex", "the"), 5).count()
        }),
        // rows = posting rows the exact phase SCORED — the sublinearity
        // claim as a number (total in the query dims is n+10 here)
        "fulltext_wand_scored_rows" -> (() => {
          import spark.implicits._
          val idx = ensureWandIndex()
          graft.search.FullText.wandReport(spark, idx,
              Seq("rarex", "the"), 5, checkLossless = false)
            .select("rows_scored").as[Long].head()
        }),
        // the bucketed layout at corpus-grown vocabulary — the corpus
        // that broke the retired per-dim layout (vocab ≈ 5000 + n from
        // a unique token per doc; the first rehearsal spent 152 s at
        // n=4000 writing one dir per term): build is a linear write,
        // serve opens ≤2 bucket dirs and row-group prunes inside them
        "fulltext_bucketed_build (vocab≈n)" -> (() => {
          val dir = s"/tmp/graft_scale/ftheaps_b16_$n"
          val p = new org.apache.hadoop.fs.Path(dir)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
          graft.search.FullText.build(
            docs.withColumn("text",
              concat(col("text"), lit(" the u"), col("doc_id"))),
            "doc_id", "text", dir)
          spark.read.parquet(s"$dir/dict").count()
        }),
        "fulltext_bucketed_serve (rare+stopword, k=1)" -> (() => {
          val dir = s"/tmp/graft_scale/ftheaps_b16_$n"
          QueryDsl.mutateOnce(spark, dir) {
            graft.search.FullText.build(
              docs.withColumn("text",
                concat(col("text"), lit(" the u"), col("doc_id"))),
              "doc_id", "text", dir)
          }
          graft.search.FullText.searchWand(spark, dir,
            Seq("u7", "the"), 1).count()
        }),
        // bulk lexical serving (round 14): 8 queries as ONE plan vs 8
        // sequential plans over the same artifact — the bulk win is
        // per-plan fixed cost (planning + job launch + seek), so the
        // one-plan row should sit far under 8× the single-serve row
        // and stay flat in n
        "fulltext_bulk_serve (8q, one plan)" -> (() => {
          val idx = ensureWandIndex()
          graft.search.FullText.searchBulk(spark, idx,
            (0L until 8L).map(q => q -> Seq(s"u${q * 7 + 7}", "w13")),
            k = 3).count()
        }),
        "fulltext_loop_serve (8q, 8 plans)" -> (() => {
          val idx = ensureWandIndex()
          (0L until 8L).map(q =>
            graft.search.FullText.search(spark, idx,
              Seq(s"u${q * 7 + 7}", "w13"), 3).count()).sum
        }),
        // BULK WAND (round 15): the same 8-query batch, every query
        // mixing the rare df=10 term with the df=n stopword — per-qid
        // bound pruning with the essential-prefix loop SHARED across
        // the batch. Time should stay flat in n (the stopword lists
        // are never candidates); the scored-rows twin is the
        // sublinearity claim as a number (total in the batch's dims is
        // 8·(n+10) — scored should stay ≈ 8·10)
        "fulltext_bulk_wand (8q, rare+stopword)" -> (() => {
          val idx = ensureWandIndex()
          graft.search.FullText.searchBulkWand(spark, idx,
            (0L until 8L).map(q => q -> Seq("rarex", "the")),
            k = 5).count()
        }),
        "fulltext_bulk_exhaustive (same 8q batch)" -> (() => {
          val idx = ensureWandIndex()
          graft.search.FullText.searchBulk(spark, idx,
            (0L until 8L).map(q => q -> Seq("rarex", "the")),
            k = 5).count()
        }),
        "fulltext_bulk_wand_scored_rows (8q)" -> (() => {
          import spark.implicits._
          val idx = ensureWandIndex()
          val resolved = graft.search.AliasedIndex.resolveDir(spark, idx)
          val qp = graft.search.FullText.bulkQueryPostings(spark,
            resolved,
            (0L until 8L).map(q => q -> Seq("rarex", "the")))
          graft.search.SparseVec.bulkWandReport(spark, resolved, qp,
              "id", 5, checkLossless = false)
            .select("rows_scored").as[Long].head()
        }),
        "srp_candidate_pairs (auto-sized)" -> (() => srpPairs(autoBits)),
        // the two fixed widths of SCALE.md's band-width sizing rule:
        // 16-bit bands (the ~10⁶-corpus default) and 24-bit bands
        "srp_candidate_pairs (64 planes, 4 bands)" -> (() => srpPairs(64)),
        "srp_candidate_pairs (96 planes, 4 bands)" -> (() => srpPairs(96)),
        "ann_bulk_topk" -> (() =>
          AnnJoin.bulkTopK(emb, "vec_id", "embedding", k = 5, dim = Dim,
            bits = autoBits).count()),
        "knn_exact_1q (linear baseline)" -> (() => {
          import spark.implicits._
          val q = Seq(Tuple1(emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head())).toDF("qe")
          Knn.topK(emb, "embedding", "vec_id", q, "qe", 5).count()
        }),
        "ivf_build (nlist=64)" -> (() => {
          IvfIndex.build(emb, "embedding", s"/tmp/graft_scale/ivf_$n",
            nlist = 64, maxIter = 10)
          1L
        }),
        "ivf_search (nprobe=8)" -> (() => {
          import spark.implicits._
          val model = IvfIndex.load(spark, s"/tmp/graft_scale/ivf_$n")
          val q = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          IvfIndex.search(spark, model, "embedding", "vec_id", q,
            k = 5, nprobe = 8).count()
        }),
        // bulk serving (round 9): a query BATCH as one plan. Two batch
        // sizes at every n — the n-exponent shows corpus flatness at
        // fixed nprobe, the 32→128 ratio at fixed n shows |queries|
        // linearity (one pruned scan + broadcast restriction + one
        // window, not |queries| scans).
        "ivf_bulk_serve (32q, nprobe=8)" -> (() => {
          val model = IvfIndex.load(spark, s"/tmp/graft_scale/ivf_$n")
          val qs = bulkQueries(emb, 32)
          IvfIndex.bulkSearch(spark, model, "embedding", "vec_id", qs,
            k = 5, nprobe = 8).count()
        }),
        "ivf_bulk_serve (128q, nprobe=8)" -> (() => {
          val model = IvfIndex.load(spark, s"/tmp/graft_scale/ivf_$n")
          val qs = bulkQueries(emb, 128)
          IvfIndex.bulkSearch(spark, model, "embedding", "vec_id", qs,
            k = 5, nprobe = 8).count()
        }),
        // tombstone-masked serving (round 9): 1% deletes recorded
        // against a COPY of the index; the serve-time mask is one
        // broadcast anti-join inside the pruned scan — the row measures
        // its cost next to the unmasked ivf_search above.
        "ivf_search_masked (1% tombstones)" -> (() => {
          import graft.search.Tombstones
          import spark.implicits._
          val dir = s"/tmp/graft_scale/ivf_tomb_$n"
          // mutateOnce's marker is written only AFTER the mutation
          // completes — keying on the copied _SUCCESS would let a crash
          // between copyDir and record() leave an unmutated index that
          // later runs benchmark under the '1% tombstones' label
          QueryDsl.mutateOnce(spark, dir) {
            copyDir(s"/tmp/graft_scale/ivf_$n", dir)
            Tombstones.record(emb.where(col("vec_id") % 100 === 3)
              .select("vec_id"), dir, "vec_id")
          }
          val model = IvfIndex.load(spark, dir)
          val q = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          IvfIndex.search(spark, model, "embedding", "vec_id", q,
            k = 5, nprobe = 8).count()
        }),
        // latest-wins serving over an upserted layout (round 9): 1% of
        // rows re-inserted at v1 — the overlay adds one upsert-bounded
        // broadcast (per-key max version) inside the pruned scan, the
        // tombstone-mask cost model with a different small side.
        "ivf_search_latest (1% upserted)" -> (() => {
          import spark.implicits._
          val dir = s"/tmp/graft_scale/ivf_up_$n"
          // explicit post-mutation marker (see ivf_search_masked above)
          QueryDsl.mutateOnce(spark, dir) {
            copyDir(s"/tmp/graft_scale/ivf_$n", dir)
            IvfIndex.upsertBatch(emb.where(col("vec_id") % 100 === 7),
              "embedding", IvfIndex.load(spark, dir), "vec_id", ver = 1)
          }
          val model = IvfIndex.load(spark, dir)
          val q = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          IvfIndex.search(spark, model, "embedding", "vec_id", q,
            k = 5, nprobe = 8).count()
        }),
        // hot-list rebalance (round 9): split every list above half the
        // observed max — cost is the hot rows' re-fit (sample-capped)
        // + global reassignment + partition rewrite, NOT a corpus
        // rebuild. The timed body unavoidably includes a per-run dir
        // copy (the op mutates; repeated runs must not compound) and
        // the cap's size scan — the `ivf_dircopy` row right below
        // measures that setup alone so SCALE.md can attribute honestly.
        // Both rows are in noWarmup: a warm-up pass would double a
        // multi-minute mutation for no cache benefit.
        "ivf_rebalance (cap=max/2)" -> (() => {
          val dir = s"/tmp/graft_scale/ivf_rebal_$n"
          copyDir(s"/tmp/graft_scale/ivf_$n", dir)
          val model = IvfIndex.load(spark, dir)
          val maxList = IvfIndex.readData(spark, dir)
            .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
            .agg(max(col("sz"))).collect()(0).getLong(0)
          IvfIndex.rebalance(spark, model, "embedding",
            sizeCap = math.max(1L, maxList / 2), maxIter = 10)
            .nlist.toLong
        }),
        // covering-radius refresh alone (round 10): the pass build now
        // includes and rebalance re-runs — one data-dir scan + nlist-row
        // broadcast join + tiny write; expect linear-at-most (scan-bound)
        "ivf_radii_refresh" -> (() => {
          val model = IvfIndex.load(spark, s"/tmp/graft_scale/ivf_$n")
          IvfIndex.refreshRadii(spark, model, "embedding")
          IvfIndex.loadRadii(spark, s"/tmp/graft_scale/ivf_$n").size.toLong
        }),
        // full-family maintenance trigger scan (round 11): the NINE-row
        // observe→plan pass (3 IVF verbs + graph consolidation + entry
        // liveness + text tombstones + term segments + reconcile +
        // radii) over real artifacts at this n — the #2 bench entry by
        // round-10 cost, so its decades are measured, not inferred.
        // Every metric is a bounded aggregate or listStatus; the pass
        // should be scan-bound (t-exp ≤ ~1).
        "maintenance_plan_full (10 triggers)" -> (() => {
          import spark.implicits._
          val (adj, entryId) = graphArtifacts(spark, emb, n)
          val textDir = s"/tmp/graft_scale/mplan_terms_$n"
          QueryDsl.mutateOnce(spark, textDir) {
            graft.search.TermIndex.build(
              docs.where(col("doc_id") % 3 =!= 2), "doc_id", "text",
              textDir)
            graft.search.TermIndex.append(
              docs.where(col("doc_id") % 3 === 2), "doc_id", "text",
              textDir)
          }
          // sparse family (round 12): postings + 1% tombstone debt
          val sparseDir = s"/tmp/graft_scale/mplan_sparse_b16_$n"
          QueryDsl.mutateOnce(spark, sparseDir) {
            graft.search.SparseVec.build(emb, "vec_id", "embedding",
              topN = 8, sparseDir)
            graft.search.SparseVec.delete(
              emb.where(col("vec_id") % 103 === 7).select("vec_id"),
              sparseDir, "vec_id")
          }
          val entries = Seq(entryId).toDF("entry_id")
          val graphDead = emb.where(col("vec_id") % 101 === 5)
            .select("vec_id")
          val live = emb.where(col("vec_id") % 97 =!= 4)
          graft.search.Maintenance.planFull(spark,
            s"/tmp/graft_scale/ivf_$n", "vec_id", "embedding", live,
            adj, graphDead, textDir, entries, textDir,
            sparseIndexDir = sparseDir).count()
        }),
        // alias-discipline version copy (round 11): the bootstrap cost
        // a PARTIAL-mutation verb pays under AliasedIndex.maintain
        // (copy current -> v<N+1>, run the verb, publish) — a raw
        // FileUtil byte copy of the whole index layout, no parquet
        // decode. Full-rewrite verbs (compactions) skip it by writing
        // the next version directly; this row is the honest price of
        // the ones that cannot (rebalance's partition drops, radii
        // folds). Expect linear in bytes (disk-bandwidth-bound).
        "alias_version_copy (ivf layout)" -> (() => {
          graft.search.AliasedIndex.copyVersion(spark,
            s"/tmp/graft_scale/ivf_$n",
            s"/tmp/graft_scale/ivf_aliascopy_$n/v2")
          val p = new org.apache.hadoop.fs.Path(
            s"/tmp/graft_scale/ivf_aliascopy_$n")
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
          1L
        }),
        // byte-bound alias copy (round 12, verdict #6): the 64k–1M IVF
        // copies measured FLAT because tiny per-cluster files made the
        // cost file-count-bound — this row copies a WIDE layout (384-d
        // random floats, 8 files) where bytes dominate (~1.5 GB at
        // 10⁶), so "the copy is disk-linear" is a recorded number, not
        // an argument.
        "alias_version_copy (wide 384d, 8 files)" -> (() => {
          import spark.implicits._
          val wideDir = s"/tmp/graft_scale/wide_$n"
          QueryDsl.mutateOnce(spark, wideDir) {
            spark.range(n.toLong).as[Long].map { i =>
              val rm = new scala.util.Random(104729L * i + 11)
              (i, Array.fill(384)(rm.nextFloat()).toSeq)
            }.toDF("vec_id", "embedding").coalesce(8)
              .write.mode("overwrite").parquet(s"$wideDir/layout")
          }
          graft.search.AliasedIndex.copyVersion(spark,
            s"$wideDir/layout", s"/tmp/graft_scale/wide_copy_$n/v2")
          val p = new org.apache.hadoop.fs.Path(
            s"/tmp/graft_scale/wide_copy_$n")
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
          1L
        }),
        "ivf_dircopy (rebalance setup baseline)" -> (() => {
          copyDir(s"/tmp/graft_scale/ivf_$n",
            s"/tmp/graft_scale/ivf_rebalcopy_$n")
          1L
        }),
        // exact range serving (round 9): covering-radius partition
        // pruning vs the corpus-scan baseline — same rounded-distance
        // predicate, the delta is partitions skipped. High-dim honesty:
        // on this corpus the kmeans cells are wide (64-dim), so the
        // prune ratio is what the radii EARN, not a best case.
        "ivf_range_serve (radii-pruned)" -> (() => {
          import spark.implicits._
          // round 10: serves from the index's OWN maintained radii
          // (written by ivf_build above) — the timed body is the load
          // (nlist-row collect) + pruned scan, no radii build
          val model = IvfIndex.load(spark, s"/tmp/graft_scale/ivf_$n")
          val q = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          IvfIndex.rangeSearch(spark, model, "embedding", "vec_id", q,
            rLo = 0.0, rHi = 1.0).count()
        }),
        // exact top-k via the two-phase covering-radius bound (round
        // 9): phase 1 = nearest cluster scan (k-row collect), phase 2 =
        // pruned union — next to knn_exact_1q's linear baseline the
        // delta is partitions the bound skipped on THIS geometry
        "ivf_exact_knn (two-phase bound)" -> (() => {
          import spark.implicits._
          // maintained stored radii, like ivf_range_serve above
          val model = IvfIndex.load(spark, s"/tmp/graft_scale/ivf_$n")
          val q = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          IvfIndex.exactSearch(spark, model, "embedding", "vec_id", q,
            k = 5).count()
        }),
        "knn_range_scan (baseline)" -> (() => {
          import spark.implicits._
          val q = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head()
          emb.withColumn("distance",
              round(graft.functions.VectorFunctions.l2Sq(
                col("embedding"), typedlit(q)), 4))
            .where(col("distance") >= 0.0 && col("distance") < 1.0)
            .count()
        }),
        // index reconcile (round 9): the collection drifted by 1%
        // deletes + 1% unseen appends; repair = two anti-join diffs
        // against the artifact's id projection, a tombstone key append,
        // and a frozen-centroid append of the missing rows — cost is
        // one id-projection scan (linear, tiny rows) + the delta write,
        // never a rebuild. Timed body includes the per-run dir copy
        // (measured separately by ivf_dircopy above).
        "ivf_reconcile (1% drift)" -> (() => {
          import graft.search.IndexSync
          val dir = s"/tmp/graft_scale/ivf_recon_$n"
          copyDir(s"/tmp/graft_scale/ivf_$n", dir)
          val model = IvfIndex.load(spark, dir)
          val extra = synthEmbeddings(spark, n + n / 100)
            .where(col("vec_id") >= n)
          val live = emb.where(col("vec_id") % 100 =!= 3)
            .unionByName(extra)
          val (orph, miss) =
            IndexSync.reconcileIvf(spark, live, "vec_id", "embedding",
              model)
          orph + miss
        }),
        // round 4's scale defect, now measured: deficient ids route
        // through the IVF probe (equi-join on cluster_id) instead of a
        // corpus × broadcast nested loop. On this clustered corpus the
        // LSH tier covers most ids (clusters of 8 ≥ k=5) and the IVF
        // tier handles stragglers; output saturates at k·n.
        "ann_bulk_topk_guaranteed (IVF fallback)" -> (() => {
          val model = IvfIndex.load(spark, s"/tmp/graft_scale/ivf_$n")
          AnnJoin.bulkTopKGuaranteed(emb, "vec_id", "embedding", k = 5,
            dim = Dim, ivf = model, nprobe = 8, bits = autoBits).count()
        }),
        "substring_spans (w=20)" -> (() =>
          graft.dedup.SubstringDedup.spanReport(docs, "doc_id", "text",
            windowTokens = 20).count()),
        "semantic_dedup (nlist ∝ n)" -> (() => {
          // The operator's contract: the coarse quantizer's nlist grows
          // with the corpus so cluster sizes stay ~constant (~250 here) —
          // a FIXED nlist under corpus growth makes within-cluster pair
          // volume quadratic by definition, which is the documented
          // misuse, not a plan defect.
          val nlist = math.max(16, n / 250)
          val dir = s"/tmp/graft_scale/semivf_${n}"
          if (!new java.io.File(s"$dir/centroids/_SUCCESS").exists())
            IvfIndex.build(emb, "embedding", dir, nlist = nlist, maxIter = 5)
          val asg = IvfIndex.readData(spark, dir)
            .select(col("vec_id"), col("cluster_id"))
          graft.dedup.SemanticDedup
            .markDuplicates(emb, asg, "vec_id", "embedding", tau = 0.9)
            .where(col("dup_of").isNotNull).count()
        }),
        "phash_neardup" -> (() =>
          // warehouse form (signature artifact, the registry's shape):
          // the untimed warm-up builds it, the timed run scans it
          graft.multimodal.Multimodal.phashNearPairs(
            docs.select(col("doc_id"), col("text").cast("binary").as("media")),
            "doc_id", "media", maxHamming = 3,
            workDir = Some(s"/tmp/graft_scale/mm_$n")).count()),
        "minhash_candidates" -> (() =>
          Dedup.minhashCandidates(docs, "doc_id", "text", 8, 1).count()),
        "simhash_near_pairs" -> (() =>
          Dedup.simhashNearPairs(docs, "doc_id", "text", maxHamming = 1).count()),
        // the production form (dedup_simhash64): 2⁶⁴ signature points +
        // order-sensitive shingle features — the Θ(n²) of the 16-bit line
        // above is that width's SEMANTICS, and this line is the fix
        "simhash64_near_pairs (shingles)" -> (() =>
          Dedup.simhashNearPairs(docs, "doc_id", "text", maxHamming = 3,
            bits = 64, featureShingleN = 3).count()),
        "jaccard_top20" -> (() =>
          Dedup.jaccardTopPairs(docs, "doc_id", "text", k = 20).count()),
        "exact_dedup" -> (() => Dedup.exact(docs, "doc_id", "text").count()),
        // deletion-neighborhood edit-join: candidate volume (pre-verify
        // pair rows) and the verified result, over id-style strings whose
        // digit-hamming-1 neighbors are the planted positives. Both must
        // stay ~linear: the blocking key is a full deletion variant, so
        // bucket size is bounded by near-dup cluster density, not n.
        "fuzzy_candidates (d=1)" -> (() =>
          graft.dedup.FuzzyJoin.candidatePairs(
            spark.range(n.toLong).select(col("id"),
              format_string("user#%09d", col("id")).as("s")),
            "id", "s", maxDist = 1).count()),
        "fuzzy_edit_join (d=1)" -> (() =>
          graft.dedup.FuzzyJoin.selfJoin(
            spark.range(n.toLong).select(col("id"),
              format_string("user#%09d", col("id")).as("s")),
            "id", "s", maxDist = 1).count()),
        // PassJoin mid-length tier over a 71-char corpus (the md5-group
        // shape of fuzzy_passjoin_midlength, grown with n): groups of
        // 10 share a 64-char body and differ in the suffix digit, so
        // TRUE pair density is constant (45/group) and the verified
        // count must grow exactly linearly; the candidate count is the
        // pre-verify volume the segment buckets generate
        "passjoin_candidates (d=1, len=71)" -> (() => {
          val g = floor(col("id") / 10).cast("long").cast("string")
          graft.dedup.PassJoin.probeKeys(
              spark.range(n.toLong).select(col("id"),
                concat(md5(g), md5(concat(g, lit("x"))), lit("-"),
                  (col("id") % 10).cast("string")).as("s")),
              "id", "s", maxDist = 1)
            .join(graft.dedup.PassJoin.segmentKeys(
              spark.range(n.toLong).select(col("id"),
                concat(md5(g), md5(concat(g, lit("x"))), lit("-"),
                  (col("id") % 10).cast("string")).as("s")),
              "id", "s", maxDist = 1), Seq("l", "seg_i", "seg_s"))
            .where(col("a_id") < col("b_id"))
            .select("a_id", "b_id").distinct().count()
        }),
        "passjoin_edit_join (d=1, len=71)" -> (() => {
          val g = floor(col("id") / 10).cast("long").cast("string")
          graft.dedup.PassJoin.selfJoin(
            spark.range(n.toLong).select(col("id"),
              concat(md5(g), md5(concat(g, lit("x"))), lit("-"),
                (col("id") % 10).cast("string")).as("s")),
            "id", "s", maxDist = 1).count()
        }),
        // round-5 search modes: each scans its build-once stored form
        // (postings / packed signatures), so the timed number is the
        // per-query serving cost — the thing that must stay ~linear-or-
        // better while the artifact build amortizes across queries
        "sparse_search (postings artifact)" -> (() => {
          import graft.search.SparseVec
          val post = graft.core.Artifacts.buildOnce(spark,
            s"/tmp/graft_scale/sparse_$n") {
            SparseVec.postings(emb, "vec_id", "embedding", topN = 8)
          }
          val qp = SparseVec.postings(emb.where(col("vec_id") === 0),
            "vec_id", "embedding", topN = 8)
          SparseVec.search(post, qp, "vec_id", k = 10).count()
        }),
        // the lexical tier's one artifact: one tokenize + posexplode
        // pass, a range-partitioned sorted segment write (linear) plus
        // doclen. Phrase serving reads ONLY the phrase's terms (pushed
        // `term IN`) and resolves anchors with two hash-aggs; the prefix
        // serve is a pushed StringStartsWith over the contiguous term
        // sliver + one per-doc agg — expect serve cost tracking the
        // MATCHING rows, two orders under the corpus.
        "term_artifact_build (sorted segment)" -> (() => {
          import graft.search.TermIndex
          TermIndex.build(docs, "doc_id", "text",
            s"/tmp/graft_scale/terms_$n")
          1L
        }),
        "phrase_serve (anchor agg)" -> (() => {
          import graft.search.Phrase
          Phrase.topK(spark, ensureTermArtifact(spark, docs, n),
            Seq("w7", "w11", "w13"), k = 10).count()
        }),
        "phrase_slop_serve (pair window)" -> (() => {
          import graft.search.Phrase
          Phrase.slopTopK(spark, ensureTermArtifact(spark, docs, n),
            "w7", "w11", slop = 3, k = 10).count()
        }),
        "term_prefix_serve (pushed range)" -> (() => {
          import graft.search.TermIndex
          TermIndex.prefixSearch(spark, ensureTermArtifact(spark, docs, n),
            "w13", k = 10).count()
        }),
        // fuzzy term match (round 11): dictionary-distinct + deletion-
        // neighborhood block join + postings equi-join. The dict
        // distinct is the only term that grows with postings; the
        // synthetic vocab keeps many wNN terms within 1 edit of the
        // query, so the candidate tier does real work at every n.
        "term_fuzzy_serve (d=1 dict block join)" -> (() => {
          import graft.search.TermIndex
          TermIndex.fuzzySearch(spark, ensureTermArtifact(spark, docs, n),
            "w13", maxDist = 1,
            k = 10).count()
        }),
        // suffix match (round 11): pushed StringStartsWith over the
        // REVERSED-term sorted view of the artifact — the prefix
        // discipline's twin; expect the same corpus-flat serve shape.
        "term_suffix_build (reversed view)" -> (() => {
          import graft.search.TermIndex
          TermIndex.buildSortedReversed(spark,
            ensureTermArtifact(spark, docs, n))
          1L
        }),
        "term_suffix_serve (pushed reversed range)" -> (() => {
          import graft.search.TermIndex
          // "13" matches ~1% of the 5000-term vocab (…13) — the same
          // matching-postings fraction as the prefix row's "w13", so
          // the two serve rows are directly comparable
          TermIndex.suffixSearch(spark, s"/tmp/graft_scale/terms_$n",
            "13", k = 10).count()
        }),
        // fuzzy d=2 (round 12, verdict #9): the deletion neighborhood
        // is O(len⁴) variants per term — the SymSpell price of the
        // wider radius. Still the same bounded shape (dictionary
        // distinct + |Δlen| ≤ 2 cut + variant equi-join); this row is
        // the measured cost next to d=1's, and the honest cap if the
        // exponent breaks.
        "term_fuzzy_serve (d=2 dict block join)" -> (() => {
          import graft.search.TermIndex
          TermIndex.fuzzySearch(spark, ensureTermArtifact(spark, docs, n),
            "w13", maxDist = 2,
            k = 10).count()
        }),
        // infix match (round 12): trigram artifact over the DISTINCT
        // dictionary — vocabulary-scale, so the build should go flat
        // once the 5000-term vocab saturates; the serve is a pushed
        // gram-IN slice + count-match AND + contains verify + one
        // postings equi-join ("134" matches w134/w1340-9/wN134…).
        "term_infix_build (trigram layout)" -> (() => {
          import graft.search.TermIndex
          TermIndex.buildTrigrams(spark, ensureTermArtifact(spark, docs, n))
          1L
        }),
        "term_infix_serve (gram AND + verify)" -> (() => {
          import graft.search.TermIndex
          TermIndex.infixSearch(spark, s"/tmp/graft_scale/terms_$n",
            "134", k = 10).count()
        }),
        // m-term slop (round 10, VERDICT-r9 item 8): the m−1 id-joins'
        // fan-out under hot terms is the one phrase shape that had no
        // measured decade. Per-doc work is bounded by per-doc term
        // frequency (tf(w7)·tf(w11)·tf(w13) candidate triples per id),
        // so the join volume should track the postings linearly — this
        // row is the evidence (or the honest break point).
        "phrase_slop3_serve (3-term id-join)" -> (() => {
          import graft.search.Phrase
          Phrase.slopPhraseTopK(spark, ensureTermArtifact(spark, docs, n),
            Seq("w7", "w11", "w13"), slop = 3, k = 10).count()
        }),
        "binary_hamming (signature artifact)" -> (() => {
          import graft.search.BinaryVec
          val packed = graft.core.Artifacts.buildOnce(spark,
            s"/tmp/graft_scale/binsig_$n") {
            emb.select(col("vec_id"),
              BinaryVec.signWord(col("embedding"), 0).as("w0"),
              BinaryVec.signWord(col("embedding"), 1).as("w1"))
          }
          val q = emb.where(col("vec_id") === 0)
            .select(BinaryVec.signWord(col("embedding"), 0).as("qw0"),
              BinaryVec.signWord(col("embedding"), 1).as("qw1"))
          packed.crossJoin(broadcast(q))
            .withColumn("hamming", BinaryVec.hamming(
              Seq(col("w0") -> col("qw0"), col("w1") -> col("qw1"))))
            .orderBy(col("hamming").asc, col("vec_id").asc)
            .limit(10).count()
        }),
        // asymmetric 1-bit serving (RaBitQ-style): stage-1 scans the
        // 20-byte packed artifact (2 sign words + correction float)
        // with the float query as plan literals, then a 50-row
        // broadcast rerank against the corpus — linear scan of the
        // small table + point lookups, same shape as binary_hamming
        // with one more conditional-add chain per row
        "asym_binary_serve (signature artifact)" -> (() => {
          import graft.search.{BinaryVec, Rotation}
          val rot = Rotation.hadamardSignRows(Dim, "graft-bin-rot")
          val packed = graft.core.Artifacts.buildOnce(spark,
            s"/tmp/graft_scale/asymsig_$n") {
            BinaryVec.packTable(emb, "vec_id", "embedding", rot, Dim)
          }
          import spark.implicits._
          val qe = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          val qr = Rotation.projectRow(qe, rot)
          val qn = math.sqrt(qr.map(v => v.toDouble * v.toDouble).sum)
          val qhat = qr.map(_.toDouble / qn)
          val stage1 = packed.withColumn("est", BinaryVec.asymCosScore(
              Seq(col("w0"), col("w1")), qhat, col("cx")))
            .orderBy(col("est").desc, col("vec_id").asc).limit(50)
          broadcast(stage1.select("vec_id"))
            .join(emb, Seq("vec_id"))
            .withColumn("c", graft.functions.VectorFunctions.cosineSim(
              col("embedding"),
              typedlit(qe.toSeq)))
            .orderBy(col("c").desc, col("vec_id").asc).limit(5).count()
        }),
        // IVF ∘ asym-binary serving (the IVF_RABITQ pairing): probe 8 of
        // the cells, asymmetric estimator over the surviving clusters'
        // packed rows, exact rerank — nprobe/nlist × 12× byte reduction
        "ivf_asym_serve (probe8)" -> (() => {
          import spark.implicits._
          import graft.search.{BinaryVec, Rotation}
          val rot = Rotation.hadamardSignRows(Dim, "graft-bin-rot")
          val packed = graft.core.Artifacts.buildOnce(spark,
            s"/tmp/graft_scale/asymsig_$n") {
            BinaryVec.packTable(emb, "vec_id", "embedding", rot, Dim)
          }
          val ivf = IvfIndex.load(spark, s"/tmp/graft_scale/ivf_$n")
          val qe = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          val probed = IvfIndex.probeClusters(ivf, qe, 8)
          val sel = IvfIndex.readData(spark, ivf.indexDir)
            .where(col("cluster_id").isin(probed: _*)).select("vec_id")
          val qr = Rotation.projectRow(qe, rot)
          val qn = math.sqrt(qr.map(v => v.toDouble * v.toDouble).sum)
          val qhat = qr.map(_.toDouble / qn)
          val stage1 = packed.join(sel, Seq("vec_id"), "left_semi")
            .withColumn("est", BinaryVec.asymCosScore(
              Seq(col("w0"), col("w1")), qhat, col("cx")))
            .orderBy(col("est").desc, col("vec_id").asc).limit(20)
          broadcast(stage1.select("vec_id"))
            .join(emb, Seq("vec_id"))
            .withColumn("c", graft.functions.VectorFunctions.cosineSim(
              col("embedding"), typedlit(qe.toSeq)))
            .orderBy(col("c").desc, col("vec_id").asc).limit(5).count()
        }),
        "corpus_diversity (moment identity)" -> (() =>
          graft.search.VectorStats.meanPairwiseCosine(emb, "embedding")
            .count()),
        // graph-ANN build tier, candidate volume (pre-cap pair rows — the
        // post-cap edge count saturates at n·degree and would hide a
        // quadratic candidate tier). Two builds: the trained-quantizer
        // form under its auto-derived nlist, and the training-free
        // SRP-band form that replaces it past ~10⁶ (the KMeans n·nlist
        // assignment term is that tier's own quadratic onset).
        "graphann_candidates (auto nlist)" -> (() => {
          import graft.search.GraphAnn
          GraphAnn.candidatePairs(emb, "vec_id", "embedding",
            GraphAnn.Params(maxIter = 5)).count()
        }),
        "graphann_lsh_candidates (auto bands)" -> (() =>
          graft.search.GraphAnn.lshCandidatePairs(emb, "vec_id",
            "embedding", dim = Dim).count()),
        // graph serving over a build-once adjacency artifact: per-query
        // cost is rounds × beamWidth × degree point lookups, corpus-size-
        // independent by construction — t-exp ≈ 0 is the claim under test
        "graphann_serve (beam8x6)" -> (() => {
          import spark.implicits._
          val (adj, entry) = graphArtifacts(spark, emb, n)
          val q = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          graft.search.GraphAnn.beamSearch(adj, emb, "vec_id", "embedding",
            q, entry, k = 5, beamWidth = 8, rounds = 6).count()
        }),
        // LAYERED vs FLAT rounds-at-equal-recall decade (round 12 —
        // the HNSW claim as a measured number). Honesty note: the
        // standard rehearsal corpus (8-node cliques at i.i.d. gaussian
        // centres, 64-dim) has NO inter-cluster metric structure —
        // distances concentrate, so NO graph walk navigates it and a
        // recall row would be noise, not signal (real embeddings have
        // low intrinsic dimension; HNSW works because of it). These
        // rows therefore run on a NAVIGABLE chain corpus (rungs of 6
        // along one axis — the GraphAnnSpec layered fixture grown to
        // decade sizes) and return the MINIMAL ROUND COUNT at which the
        // walk's top-1 reaches a query planted 24 rungs from the seed
        // (= equal, perfect recall on the planted target; 99 = never
        // within the cap). Flat advances ~1 rung per round; the
        // layered upper layer (~2 of 6 nodes per rung sampled) spans
        // several rungs per hop, so its TOTAL rounds (upper + 3 base)
        // should sit well under flat's — and both should be FLAT in n
        // (the distance is fixed; the corpus grows around it).
        "graphann_chain_rounds_flat (dist 24 rungs)" -> (() =>
          chainRoundsToHit(spark, n, mode = "flat")),
        "graphann_chain_rounds_layered (upper + 3 base)" -> (() =>
          chainRoundsToHit(spark, n, mode = "layered")),
        // round 13: TWO nested upper levels (p², p) — the row reports
        // TOTAL rounds (2·upper + 3 base), comparable to the 1-layer
        // row; the multi-level stack's claim is total ≤ 1-layer at
        // equal (perfect, planted-target) recall
        "graphann_chain_rounds_multi (2 uppers + 3 base)" -> (() =>
          chainRoundsToHit(spark, n, mode = "multi")),
        // bulk LAYERED serving cost (round 12): the batch walks the
        // upper layer as one plan, each query's top-2 seed its base
        // walk — per-round state linear in the batch, corpus-size-
        // independent by construction; this row is that claim's decade
        // (compare graphann_bulk_serve's flat-walk baseline).
        "graphann_layered_bulk_serve (8q, u4x3+b4x3)" -> (() => {
          import spark.implicits._
          val (adj, _) = graphArtifacts(spark, emb, n)
          val (uadj, uent) = upperArtifacts(spark, emb, n)
          val qs = bulkQueries(emb, 8)
            .map { case (qid, qv) => (qid, qv.toSeq) }.toDF("qid", "qv")
          graft.search.GraphAnn.layeredSearchBulk(uadj, uent, adj, emb,
            "vec_id", "embedding", qs, "qid", "qv", k = 5,
            beamWidth = 4, upperRounds = 3, rounds = 3).count()
        }),
        // metric-comparator walks (round 9): identical frontier
        // machinery to graphann_serve with the routing read ranking by
        // -ip / -cosine instead of L2 — each routing read is a pushed
        // id-IN point lookup, so like the L2 walk the cost is
        // corpus-size-independent; measured so the closed metric ×
        // index matrix carries decade rows for every comparator.
        "graphann_mips_serve (beam8x6)" -> (() => {
          import spark.implicits._
          val (adj, entry) = graphArtifacts(spark, emb, n)
          val q = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          graft.search.GraphAnn.beamSearchMips(adj, emb, "vec_id",
            "embedding", q, entry, k = 5, beamWidth = 8, rounds = 6)
            .count()
        }),
        "graphann_cosine_serve (beam8x6)" -> (() => {
          import spark.implicits._
          val (adj, entry) = graphArtifacts(spark, emb, n)
          val q = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          graft.search.GraphAnn.beamSearchCosine(adj, emb, "vec_id",
            "embedding", q, entry, k = 5, beamWidth = 8, rounds = 6)
            .count()
        }),
        // delete consolidation (round 9): the FreshDiskANN fold is a
        // full-adjacency rewrite (survivors + via-node repairs + per-src
        // re-cap) — linear in EDGES by construction, measured here so
        // the cost model next to the O(deletes) tombstone mask is
        // honest: masking is the serve-path answer, consolidation the
        // scheduled fold.
        "graphann_consolidate (1% deletes)" -> (() => {
          val (adj, _) = graphArtifacts(spark, emb, n)
          graft.search.GraphAnn.consolidateDeletes(adj, emb, "vec_id",
            "embedding", emb.where(col("vec_id") % 100 === 3)
              .select("vec_id"), degree = 8).count()
        }),
        // scalar-index-filtered walk (round 10): the walk cost is the
        // usual corpus-independent budget; the filter adds ONE
        // semi-join of the bounded visited set against the scalar
        // artifact's directory-pruned id slice — expect flat like
        // every other walk row.
        "graphann_scalar_filtered_serve (beam8x6)" -> (() => {
          import graft.search.{GraphAnn, ScalarIndex}
          import spark.implicits._
          val (adj, entry) = graphArtifacts(spark, emb, n)
          val sdir = s"/tmp/graft_scale/scalaridx_$n"
          val sp = new org.apache.hadoop.fs.Path(
            ScalarIndex.valuesDir(sdir), "_SUCCESS")
          if (!sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(sp))
            ScalarIndex.build(
              emb.withColumn("label", pmod(col("vec_id"), lit(8))),
              "vec_id", "label", sdir)
          val q = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          GraphAnn.filteredBeamSearchIds(adj, emb, "vec_id", "embedding",
            q, entry, ScalarIndex.ids(spark, sdir, Seq(2, 5, 7)),
            k = 5, beamWidth = 8, rounds = 6).count()
        }),
        "graphann_bulk_serve (8 queries)" -> (() => {
          val (adj, entry) = graphArtifacts(spark, emb, n)
          val queries = emb.where(col("vec_id") < 8)
            .select(col("vec_id").as("qid"), col("embedding").as("qv"))
          graft.search.GraphAnn.bulkBeamSearch(adj, emb, "vec_id",
            "embedding", queries, "qid", "qv", entry, k = 5,
            beamWidth = 8, rounds = 6).count()
        }),
        // filtered + range serving share the label-blind walk: cost is
        // the walk plus ONE pushed-In lookup of the visited ids' labels
        // (filtered) or a driver-side radius cut (range) — measured so
        // the "same corpus-size-independence as plain beam" claim is a
        // row, not a comment
        "graphann_filtered_serve (beam8x6)" -> (() => {
          import spark.implicits._
          val (adj, entry) = graphArtifacts(spark, emb, n)
          val labeled = emb.withColumn("label",
            (col("vec_id") % 5).cast("int"))
          val q = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          graft.search.GraphAnn.filteredBeamSearch(adj, labeled, "vec_id",
            "embedding", q, entry, predicate = col("label") === 1,
            k = 5, beamWidth = 8, rounds = 6).count()
        }),
        "graphann_range_serve (beam8x6)" -> (() => {
          import spark.implicits._
          val (adj, entry) = graphArtifacts(spark, emb, n)
          val q = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          // radius sized to the corpus geometry: inter-cluster L2² on
          // the N(0,1)^64 centres concentrates near 2·dim = 128, so 160
          // admits the nearer half of the visited set
          graft.search.GraphAnn.rangeBeamSearch(adj, emb, "vec_id",
            "embedding", q, entry, radius = 160.0,
            beamWidth = 8, rounds = 6).count()
        }),
        // PQ-scored walk (DiskANN serving layout): routing reads m-byte
        // codes rows instead of dim·4-byte vectors; full precision only
        // for the visited-set rerank. Same corpus-size-independence
        // claim as plain beam — measured, with 32× less hot data.
        "graphann_pq_serve (beam8x6, adc)" -> (() => {
          import spark.implicits._
          import graft.search.Pq
          val (adj, entry) = graphArtifacts(spark, emb, n)
          val pqDir = s"/tmp/graft_scale/pq_$n"
          val pq =
            if (new java.io.File(Pq.codesDir(pqDir) + "/_SUCCESS").exists())
              Pq.load(spark, pqDir)
            else Pq.build(emb, "embedding", "vec_id", pqDir, maxIter = 5)
          val codes = spark.read.parquet(Pq.codesDir(pqDir))
          val q = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          graft.search.GraphAnn.beamSearchPq(adj, codes, emb, "vec_id",
            "embedding", q, pq, entry, k = 5,
            beamWidth = 8, rounds = 6).count()
        }),
        // RQ serving: one flattened-LUT lookup per 2-byte codes row +
        // 20-row broadcast rerank — the additive quantizer's scan is
        // even narrower than PQ's (2 codes vs 8)
        "rq_serve (codes artifact)" -> (() => {
          import spark.implicits._
          import graft.search.Rq
          val rqDir = s"/tmp/graft_scale/rq_$n"
          val rq =
            if (new java.io.File(Rq.codesDir(rqDir) + "/_SUCCESS").exists())
              Rq.load(spark, rqDir)
            else Rq.build(emb, "embedding", "vec_id", rqDir, maxIter = 5)
          val q = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          Rq.adcSearch(spark, rq, emb, "embedding", "vec_id", q,
            k = 5, margin = 4).count()
        }),
        // asym-estimator-routed walk (graph_ann_asym_walk's shape): the
        // walk reads 20-byte packed rows via pushed id-IN lookups —
        // same corpus-independence claim as pq_serve, 20 B/node and no
        // trained codebooks
        "graphann_asym_serve (beam8x6)" -> (() => {
          import spark.implicits._
          import graft.search.{BinaryVec, GraphAnn, Rotation}
          val (adj, entry) = graphArtifacts(spark, emb, n)
          val rot = Rotation.hadamardSignRows(Dim, "graft-bin-rot")
          val packed = graft.core.Artifacts.buildOnce(spark,
            s"/tmp/graft_scale/asymsig_$n") {
            BinaryVec.packTable(emb, "vec_id", "embedding", rot, Dim)
          }
          val qe = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          val qr = Rotation.projectRow(qe, rot)
          val qn = math.sqrt(qr.map(v => v.toDouble * v.toDouble).sum)
          val qhat = qr.map(_.toDouble / qn)
          val routing = packed.select(col("vec_id"),
            (-BinaryVec.asymCosScore(Seq(col("w0"), col("w1")), qhat,
              col("cx"))).as("route_d"))
          GraphAnn.beamSearchScored(adj, routing, "route_d", emb,
            "vec_id", "embedding", qe, entry, k = 5,
            beamWidth = 8, rounds = 6).count()
        }),
        // IVF_PQ serving: probe 8 of the IVF's cells, ADC-rank the codes
        // within — scans nprobe/nlist of a 8-byte-per-vector table
        "ivf_pq_serve (probe8, adc)" -> (() => {
          import spark.implicits._
          import graft.search.Pq
          val pqDir = s"/tmp/graft_scale/pq_$n"
          val pq =
            if (new java.io.File(Pq.codesDir(pqDir) + "/_SUCCESS").exists())
              Pq.load(spark, pqDir)
            else Pq.build(emb, "embedding", "vec_id", pqDir, maxIter = 5)
          val ivf = IvfIndex.load(spark, s"/tmp/graft_scale/ivf_$n")
          val q = emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head().toArray
          val probed = IvfIndex.probeClusters(ivf, q, 8)
          val sel = IvfIndex.readData(spark, ivf.indexDir)
            .where(col("cluster_id").isin(probed: _*)).select("vec_id")
          spark.read.parquet(Pq.codesDir(pqDir))
            .join(sel, Seq("vec_id"), "left_semi")
            .withColumn("ad", Pq.adcExpr(pq, q))
            .orderBy(col("ad").asc, col("vec_id").asc).limit(10).count()
        }),
        // bloom-prefiltered decontamination (round 13): the admitted-rows
        // decade — how many train postings survive the bloom probe. The
        // synth corpus's planted near-dups put true overlaps across the
        // hash split, so admitted ≈ overlaps + fpp·clean: BOTH terms are
        // linear in n (rows-exp ≈ 1, tiny constant), i.e. the verify
        // join's input stays an ~fpp-sized slice at every corpus size —
        // the property that makes the scrub one-scan at 100 TB.
        "bloom_scrub_admitted (8-gram probe)" -> (() => {
          import spark.implicits._
          import graft.curate.Sampling
          import graft.dedup.Dedup
          val base = Sampling.withSplit(
            docs.select(col("doc_id").as("id"), col("text")), "id")
          // shared-intermediate contract: the split+shingle table feeds
          // three consumers — materialize once, scan thrice
          val sh = materialize(
            base.select(col("id"), col("split"),
                Dedup.shingles(col("text"), 8).as("sh"))
              .where(size(col("sh")) > 0),
            s"/tmp/graft_scale/bloomsh_$n")
          val evalSh = sh.where(col("split") =!= "train")
            .select(explode(col("sh")).as("shingle")).distinct()
          val nEval = math.max(1L, evalSh.count())
          val bytes = evalSh.select(graft.functions.BloomFunctions
            .bloomAgg(col("shingle"), nEval).as("bf"))
            .as[Array[Byte]].head()
          sh.where(col("split") === "train")
            .select(explode(col("sh")).as("shingle"))
            .where(graft.functions.BloomFunctions
              .mightContain(bytes, col("shingle")))
            .count()
        }),
        // the full scrub (probe + exact verify join + per-doc agg):
        // t-exp tracks the ONE train-side scan; the verified output
        // counts only real leaks (the planted near-dup pairs that
        // straddle the split)
        "bloom_scrub (exact verified leaks)" -> (() =>
          graft.curate.Contamination
            .bloomScrub(docs, "doc_id", "text",
              workDir = Some(s"/tmp/graft_scale/bloomscrub_$n")).count()),
        // distance-keyset search iterator (round 13) at a DEEP page
        // (page 32, k=5): the keyset page's heap is k rows however deep;
        // the OFFSET twin's heap is offset+k (160) in every partition.
        // Both scan the corpus once (t-exp ≈ 1); the keyset row's claim
        // is bounded heap + append-stable cursor, priced here next to
        // its offset equivalent.
        "search_iterate_deep (page 32, keyset)" -> (() => {
          import spark.implicits._
          val (d, id) = deepCursor
          val q = Seq(Tuple1(emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head())).toDF("qe")
          emb.crossJoin(broadcast(q))
            .withColumn("distance",
              Knn.distCol(col("embedding"), col("qe")))
            .select("vec_id", "distance")
            .where(col("distance") > d ||
              (col("distance") === d && col("vec_id") > id))
            .orderBy(col("distance").asc, col("vec_id").asc)
            .limit(5).count()
        }),
        // geo radius (round 13): bbox candidates over a lat-sorted point
        // layout. The cap-exact bbox admits a constant FRACTION of a
        // uniformly-projected corpus, so candidates (and the exact-
        // haversine verify work) grow linearly with n (rows-exp ≈ 1)
        // while the lat-range predicate prunes the sorted layout's row
        // groups — the scan reads the band, not the planet.
        "geo_radius (z-ordered bbox + haversine)" -> (() => {
          // (lat, lon) morton interleave over the centi-degree grid —
          // the round-14 layout (ScaleQueries.morton16, the SAME
          // interleave the entry's layout uses): both bbox edges prune
          val z = ScaleQueries.morton16(col("id") * 9973 % 17000,
            col("id") * 7919 % 36000)
          val pts = materialize(
            spark.range(n.toLong).select(col("id").as("user_id"),
                ((col("id") * 9973 % 17000) / 100.0 - 85.0).as("lat"),
                ((col("id") * 7919 % 36000) / 100.0 - 180.0).as("lon"),
                z.as("__z"))
              .repartitionByRange(8, col("__z"))
              .sortWithinPartitions(col("__z"))
              .drop("__z"),
            s"/tmp/graft_scale/geoz_$n")
          val (qLat, qLon, rKm) = (14.73, -100.81, 3000.0)
          val dLat = rKm / 111.0
          val dLon = math.toDegrees(math.asin(
            math.sin(rKm / 6371.0) / math.cos(math.toRadians(qLat))))
          val rLat = radians(col("lat")); val rQLat = radians(lit(qLat))
          val hav = lit(2 * 6371.0) * asin(sqrt(
            pow(sin((rLat - rQLat) / 2), 2) + cos(rLat) * cos(rQLat) *
              pow(sin((radians(col("lon")) - radians(lit(qLon))) / 2), 2)))
          pts.where(col("lat").between(qLat - dLat, qLat + dLat) &&
              col("lon").between(qLon - dLon, qLon + dLon))
            .where(round(hav + lit(1e-9), 4) <= rKm)
            .count()
        }),
        "search_offset_deep (page 32, offset)" -> (() => {
          import spark.implicits._
          val q = Seq(Tuple1(emb.where(col("vec_id") === 0)
            .select("embedding").as[Seq[Float]].head())).toDF("qe")
          emb.crossJoin(broadcast(q))
            .withColumn("distance",
              Knn.distCol(col("embedding"), col("qe")))
            .select("vec_id", "distance")
            .orderBy(col("distance").asc, col("vec_id").asc)
            .offset(31 * 5).limit(5).count()
        })
      )
      // candidate-volume rows time a full build per invocation — skip the
      // warm-up pass (the rows column is deterministic either way, and a
      // second 256 k+ build buys nothing but wall-clock)
      val noWarmup = Set("graphann_candidates (auto nlist)",
        "fulltext_dict_numbering (distributed, vocab grows)",
        "fulltext_bucketed_build (vocab≈n)",
        "graphann_lsh_candidates (auto bands)",
        "ivf_rebalance (cap=max/2)",
        "ivf_dircopy (rebalance setup baseline)",
        "alias_version_copy (ivf layout)",
        "ivf_reconcile (1% drift)",
        "graphann_consolidate (1% deletes)",
        // the chain sweeps are deterministic searches over a fixed
        // artifact — a warm-up pass doubles the decade's wall-clock
        // for a byte-identical ROUNDS result
        "graphann_chain_rounds_flat (dist 24 rungs)",
        "graphann_chain_rounds_layered (upper + 3 base)",
        "graphann_chain_rounds_multi (2 uppers + 3 base)")
      ops.filter(o => opFilter(o._1)).foreach { case (name, body) =>
        if (!noWarmup(name))
          body()                          // warm-up (JIT/codegen/page cache)
        val (t, card) = timed(body())
        results((name, n)) = (t, card)
        System.err.println(f"[scale] $name%-32s n=$n%-6d ${t}%7.2fs  rows=$card")
      }
    }

    // exponents over the LAST size pair — the small-n points are Spark
    // fixed-cost dominated (job launch ~0.2-0.5 s swamps the compute), so
    // head-vs-last would understate every operator's true growth
    println("| operator | " + sizes.map(n => s"t(n=$n) | rows(n=$n)").mkString(" | ") +
      " | t-exponent | rows-exponent |")
    println("|---|" + ("---|" * (2 * sizes.size + 2)))
    val opNames = results.keys.map(_._1).toSeq.distinct
    val (nLo, nHi) = (sizes(sizes.size - 2), sizes.last)
    opNames.foreach { op =>
      val cells = sizes.map { n =>
        val (t, c) = results((op, n)); f"$t%.2f s | $c%d"
      }
      val ((tLo, cLo), (tHi, cHi)) = (results((op, nLo)), results((op, nHi)))
      val logN = math.log(nHi.toDouble / nLo.toDouble)
      val tExp = math.log(tHi / tLo) / logN
      val rExp =
        if (cLo > 0 && cHi > 0) f"${math.log(cHi.toDouble / cLo) / logN}%.2f"
        else "-"
      println(s"| $op | " + cells.mkString(" | ") + f" | $tExp%.2f | $rExp |")
    }
    spark.stop()
  }
}
