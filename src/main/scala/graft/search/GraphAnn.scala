package graft.search

import graft.core.Artifacts
import graft.functions.VectorFunctions
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Graph-ANN index — the HNSW/DiskANN-family capability the reference's
  * own background essay names as a Milvus core index three times
  * (doc/milvus介绍.md:6 "HNSW、IVF_FLAT、IVF_PQ"; :11 "IVF、HNSW、DiskANN";
  * :39 "Faiss、HNSW、Annoy") and the one family the IVF/PQ/SQ8 tiers here
  * did not yet cover.
  *
  * Design (public technique, Spark-batch re-expression):
  *
  * '''Build''' — a degree-bounded k-nearest-neighbor graph constructed the
  * way DiskANN builds at billion scale (Subramanya et al., NeurIPS 2019):
  * shard the corpus by a coarse quantizer, assign every point to its
  * `overlap` nearest shards (the overlap is what plants cross-shard
  * edges), compute exact neighbor lists only WITHIN a shard, then
  * symmetrize (add reverse edges) and re-enforce the degree bound — the
  * reverse-edge + cap pass is Vamana's discipline. All candidate work is
  * Σ shardSize² — linear in n at constant shard density, which
  * [[nlistForCorpus]] enforces BY DEFAULT (`nlist ∝ n`, the sizing rule
  * the semantic-dedup family rehearses; a fixed nlist under corpus
  * growth is the documented misuse). Past ~10⁶ vectors the trained
  * quantizer's own n·nlist assignment pass dominates — switch to
  * [[buildAdjacencyLsh]], the training-free SRP-band-sharded tier.
  * No all-pairs term anywhere. Edges are directed (src → its R nearest
  * co-sharded points) with distances rounded to 4 decimals and dst-id
  * tie-breaks, so a rebuild on the same corpus is byte-identical.
  *
  * '''Search''' — best-first beam search with a FIXED expansion budget:
  * start at the staged entry point (the corpus medoid), and for each of
  * `rounds` rounds expand the `beamWidth` closest not-yet-expanded
  * visited nodes, fetching their adjacency rows (a pushed `src IN (...)`
  * filter on the artifact) and their neighbors' vectors (a pushed
  * `id IN (...)` filter on the corpus — the batch analogue of DiskANN's
  * per-node disk fetch). Every frontier pick and every visited-set entry
  * is ordered by (rounded distance, id), so the visit order is fully
  * deterministic and the DuckDB oracle replays all `rounds` rounds as
  * chained CTEs — the visit order itself is hash-checked, exactly the
  * discipline the BPE-loop oracle established.
  *
  * Scale shape (100 TB): serving cost is rounds × beamWidth × degree id
  * lookups — INDEPENDENT of corpus size; that independence is the entire
  * point of graph indexes and is what ScaleBench's t-exp row measures.
  * Driver state is ≤ 1 + rounds·beamWidth·degree (id, distance) pairs —
  * bounded by plan constants, the same contract as the 1-row query-vector
  * collects (guarded by `require`). Recall is tunable via beamWidth and
  * rounds; the honest number lives in `index_recall_report`.
  */
object GraphAnn {
  /** Corpus-derived shard count: keeps the EXPECTED shard size ≈
    * `targetShard`, so the build's candidate work
    * Σ shardSize² ≈ overlap² · targetShard · n stays LINEAR in n — the
    * same auto-sizing discipline as [[graft.dedup.Dedup.bitsForCorpus]]
    * (a fixed nlist under corpus growth makes the shard self-join
    * n²/nlist, quadratic-onset by definition). A pure, documented
    * function of n, so a rebuild on the same corpus derives the same
    * shards and the adjacency stays byte-identical. Floored at 2 (one
    * shard would make the self-join all-pairs outright). */
  def nlistForCorpus(n: Long, targetShard: Int = 256): Int = {
    require(n > 0 && targetShard > 0)
    math.max(2, math.ceil(n.toDouble / targetShard).toInt)
  }

  /** `nlist = 0` (the default) means AUTO: derive it from `df.count()`
    * via [[nlistForCorpus]] at build time. Explicit positive values
    * remain for oracle-pinned fixtures and tests. */
  final case class Params(degree: Int = 8, nlist: Int = 0, overlap: Int = 2,
                          seed: Long = 42L, maxIter: Int = 20,
                          trainSampleCap: Long = TrainSample.DefaultCap)

  /** Pinned reader schemas for the graph family's stored artifacts
    * (round 17, guide §6 metadata cost): the adjacency and entry
    * layouts are this object's own write contract ([[buildAdjacency]] /
    * [[medoid]]), so a reader that re-infers them pays a footer-
    * inference Spark job per read for an answer it already knows —
    * the streaming ingest entries re-read both artifacts every
    * micro-batch. */
  val adjacencySchema: StructType = StructType(Seq(
    StructField("src", LongType),
    StructField("dst", LongType),
    StructField("dist", DoubleType)))
  val entrySchema: StructType = StructType(Seq(
    StructField("entry_id", LongType)))

  /** Degree cap: keep each src's `degree` nearest edges by
    * (dist asc, dst asc) — the deterministic Vamana-style re-cap used by
    * both the full build and the incremental append. */
  private def cap(edges: DataFrame, degree: Int): DataFrame = {
    val w = Window.partitionBy(col("src"))
      .orderBy(col("dist").asc, col("dst").asc)
    edges.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= degree).drop("__rn")
  }

  /** Pre-cap candidate pair volume of the sharded build — `(src, dst,
    * dist)` for every co-sharded pair, the Σ shardSize² term that is the
    * build's shuffle cost and the row count the scaling rehearsal tracks
    * (the post-cap edge count saturates at n·degree and would hide a
    * quadratic candidate tier). [[buildAdjacency]] = cap ∘ symmetrize ∘
    * cap over this. */
  def candidatePairs(df: DataFrame, idCol: String, vecCol: String,
                     p: Params = Params()): DataFrame = {
    val n = df.count()
    val nlist = if (p.nlist > 0) p.nlist else nlistForCorpus(n)
    val overlap = math.min(p.overlap, nlist)
    val assigned = if (nlist <= overlap) {
      // Degenerate sharding (small corpus: nlist ≤ overlap means every
      // point would be assigned to EVERY shard, so the quantizer buys
      // nothing and overlap-duplicates every pair): one shard, no
      // KMeans — the pair set after the groupBy-min dedup is
      // bit-identical, ~25 fewer Spark jobs per build (round 16; this
      // was the dominant fixed cost of every streaming graph-ingest
      // micro-batch build). The shard key is a NON-FOLDABLE column
      // (pmod(hash, 1) ≡ 0) — a literal would constant-fold the shard
      // equi-join into a CartesianProduct node and trip the plan-sweep
      // discipline; the n² pair work is the intended semantics either
      // way, bounded by the nlist ≤ overlap cap (n ≤ overlap·256).
      df.select(col(idCol).cast("long").as("__gid"),
        col(vecCol).as("__gvec"),
        pmod(xxhash64(col(idCol)), lit(1)).cast("int").as("__shard"))
    } else {
      // Coarse quantizer for sharding (seeded KMeans, same as IvfIndex;
      // fit on the deterministic TrainSample cap, assignment over all
      // rows)
      val withVec = df.withColumn("__mlvec", array_to_vector(col(vecCol)))
      val km = new KMeans()
        .setK(nlist).setSeed(p.seed).setMaxIter(p.maxIter)
        .setFeaturesCol("__mlvec").setPredictionCol("__c")
      val centroids = km.fit(
          TrainSample.forFit(withVec, vecCol, n, p.trainSampleCap, nlist))
        .clusterCenters
        .zipWithIndex.map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
      // Assign each point to its `overlap` nearest shards: one map-side
      // sort of an nlist-long (distance, shard) struct array — the
      // IvfIndex.append argmin shape, generalized to top-L.
      val shardArr = array(centroids.map { case (i, c) =>
        struct(VectorFunctions.l2Sq(col(vecCol), typedlit(c.toSeq)).as("d"),
          lit(i).as("shard"))
      }: _*)
      df.select(col(idCol).cast("long").as("__gid"),
          col(vecCol).as("__gvec"),
          explode(slice(array_sort(shardArr), 1, overlap)).as("__asgn"))
        .select(col("__gid"), col("__gvec"),
          col("__asgn").getField("shard").as("__shard"))
    }
    // Exact neighbor lists WITHIN a shard only: the self-join keys on
    // __shard (a shuffled equi-join, Σ shardSize² pair work), distances
    // rounded for cross-engine rank stability; overlap-duplicated pairs
    // collapse in the groupBy.
    val a = assigned.select(col("__shard"), col("__gid").as("src"),
      col("__gvec").as("__sv"))
    val b = assigned.select(col("__shard"), col("__gid").as("dst"),
      col("__gvec").as("__dv"))
    a.join(b, Seq("__shard"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(VectorFunctions.l2Sq(col("__sv"), col("__dv")), 4).as("dist"))
      .groupBy("src", "dst").agg(min("dist").as("dist"))
  }

  /** Build the degree-bounded neighbor graph: (src, dst, dist) with
    * ≤ `p.degree` rows per src, dist = round(L2², 4). Deterministic for a
    * fixed seed and corpus. With the default `nlist = 0` the shard count
    * auto-derives from the corpus size ([[nlistForCorpus]]); `overlap`
    * is clamped to the resolved nlist. */
  def buildAdjacency(df: DataFrame, idCol: String, vecCol: String,
                     p: Params = Params()): DataFrame =
    capSymmetrizeCap(candidatePairs(df, idCol, vecCol, p), p.degree)

  /** Vamana-style symmetrize-then-cap: reverse edges make the graph
    * navigable from sparse regions; the second cap re-enforces degree. */
  private def capSymmetrizeCap(pairs: DataFrame, degree: Int): DataFrame =
    symmetrizeCap(cap(pairs, degree), degree)

  /** The shared symmetrize half: add reverse edges, collapse dup pairs
    * to min dist, re-enforce the degree cap. */
  private def symmetrizeCap(forward: DataFrame, degree: Int): DataFrame =
    cap(forward.unionByName(
        forward.select(col("dst").as("src"), col("src").as("dst"),
          col("dist")))
      .groupBy("src", "dst").agg(min("dist").as("dist")), degree)

  /** α-RNG diversity prune with fill — the forward-edge selection that
    * gives DiskANN its recall-per-degree (Subramanya et al., NeurIPS
    * 2019 §2 RobustPrune; α ≈ 1.2), in the ONE-SHOT declarative form:
    * from each src's `candCap` nearest candidates (rank by rounded
    * dist, dst), a candidate q is DOMINATED when some candidate r
    * ranked closer to src has α·d(r, q) < d(src, q) — r covers q's
    * routing direction, so the edge slot is better spent elsewhere.
    * Vamana tests q only against already-KEPT r (a sequential fold);
    * testing against every closer CANDIDATE instead makes the prune one
    * self-join + aggregate — batch-friendly and oracle-replayable — at
    * the price of pruning slightly more (a dominated r still dominates
    * q), which the FILL step absorbs: survivors rank first, then the
    * nearest dominated candidates fill the remaining degree slots
    * (HNSW's keepPrunedConnections), so out-degree stays
    * min(degree, candidates) and the graph never gets SPARSER than the
    * capped-kNN build — only more diverse. All arithmetic in rounded
    * squared space (α²·d² comparison), id tie-breaks everywhere, so
    * the DuckDB oracle replays rank, domination, and fill edge by
    * edge. */
  def robustPruneFill(pairs: DataFrame, corpus: DataFrame, idCol: String,
                      vecCol: String, degree: Int, alpha: Double,
                      candCap: Int): DataFrame = {
    require(alpha >= 1.0 && candCap >= degree)
    val alpha2 = alpha * alpha
    val rk = cap(pairs, candCap).withColumn("rn",
      row_number().over(Window.partitionBy(col("src"))
        .orderBy(col("dist").asc, col("dst").asc)))
    val closer = rk.select(col("src"), col("dst").as("adst"),
      col("rn").as("arn"))
    val av = corpus.select(col(idCol).cast("long").as("adst"),
      col(vecCol).as("__av"))
    val bv = corpus.select(col(idCol).cast("long").as("dst"),
      col(vecCol).as("__bv"))
    // (src, q, r) triples with rank(r) < rank(q): α²·d²(r,q) < d²(src,q)
    // marks q dominated. Work is Σ per-src candCap² — linear in n at
    // fixed candCap, the build-time budget candidatePairs already set.
    val dom = rk.join(closer, Seq("src"))
      .where(col("arn") < col("rn"))
      .join(av, Seq("adst")).join(bv, Seq("dst"))
      // the α²·d² product is rounded to 4 like every cross-engine
      // shared value, so a last-ulp difference in the α² literal can
      // never flip a domination decision between engines
      .withColumn("__viol",
        round(lit(alpha2)
            * round(VectorFunctions.l2Sq(col("__av"), col("__bv")), 4), 4)
          < col("dist"))
      .groupBy(col("src"), col("dst"))
      .agg(max(col("__viol")).as("__dom"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("pruned").asc, col("dist").asc, col("dst").asc)
    rk.join(dom, Seq("src", "dst"), "left")
      .withColumn("pruned", coalesce(col("__dom"), lit(false)))
      .withColumn("__krn", row_number().over(w))
      .where(col("__krn") <= degree)
      .select(col("src"), col("dst"), col("dist"))
  }

  /** Each src's `candCap` nearest candidate edges by (rounded dist,
    * dst) — the prune's input, exposed so an oracle can stage exactly
    * what [[robustPruneFill]] consumed and replay the prune from it. */
  def rankedCandidates(df: DataFrame, idCol: String, vecCol: String,
                       p: Params = Params(),
                       candCap: Int = 16): DataFrame =
    cap(candidatePairs(df, idCol, vecCol, p), candCap)

  /** Prune + fill + symmetrize + re-cap from a PRE-STAGED candidate
    * set — [[buildAdjacencyPruned]] minus the candidate generation. */
  def prunedAdjacencyFrom(cands: DataFrame, corpus: DataFrame,
                          idCol: String, vecCol: String, degree: Int,
                          alpha: Double, candCap: Int): DataFrame =
    symmetrizeCap(
      robustPruneFill(cands, corpus, idCol, vecCol, degree, alpha,
        candCap),
      degree)

  /** [[buildAdjacency]] with the α-RNG prune in place of the plain
    * nearest-cap on forward edges: prune+fill ∘ candidates, then the
    * usual symmetrize + re-cap. Same (src, dst, dist) contract, same
    * serving paths — a walk never knows which build produced the
    * artifact. */
  def buildAdjacencyPruned(df: DataFrame, idCol: String, vecCol: String,
                           p: Params = Params(), alpha: Double = 1.2,
                           candCap: Int = 16): DataFrame =
    prunedAdjacencyFrom(candidatePairs(df, idCol, vecCol, p), df, idCol,
      vecCol, p.degree, alpha, candCap)

  /** SRP-LSH-sharded candidate pairs — the huge-corpus build tier. The
    * KMeans coarse quantizer's assignment is an n · nlist distance pass:
    * with nlist ∝ n (the linear-candidate sizing) that term is n²/shard,
    * so past ~10⁶ vectors the TRAINED quantizer becomes the build's
    * bottleneck even though the candidate join stays linear. Signed-
    * random-projection band keys shard with ZERO training and one
    * map-side signature pass: a shard is a (band, band_key) bucket, the
    * `nBands` bands ARE the overlap assignments, band width auto-derives
    * from corpus size ([[graft.dedup.Dedup.bitsForCorpus]] — the rule
    * SCALE.md measured linear through 256 k), and the hot-bucket cap
    * bounds any degenerate key. Same (src, dst, dist) contract as
    * [[candidatePairs]]. */
  def lshCandidatePairs(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, bits: Int = 0, nBands: Int = 4,
                        maxBucket: Int = 4096): DataFrame = {
    import graft.dedup.Dedup
    val b = if (bits > 0) bits else Dedup.bitsForCorpus(df.count(), nBands)
    val bands = Dedup.srpBands(df, idCol, vecCol, dim, b, nBands)
    val kept = Dedup.srpKeptBands(bands, Dedup.srpHotBuckets(bands, maxBucket))
    val a = kept.select(col("band"), col("band_key"),
      col("id").cast("long").as("src"), col("v").as("__sv"))
    val c = kept.select(col("band"), col("band_key"),
      col("id").cast("long").as("dst"), col("v").as("__dv"))
    a.join(c, Seq("band", "band_key"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(VectorFunctions.l2Sq(col("__sv"), col("__dv")), 4).as("dist"))
      .groupBy("src", "dst").agg(min("dist").as("dist"))
  }

  /** [[buildAdjacency]]'s huge-corpus sibling: the degree-bounded graph
    * over [[lshCandidatePairs]] — training-free sharding, linear
    * candidate volume under the auto-derived band width, identical
    * adjacency schema and serving path ([[beamSearch]] /
    * [[bulkBeamSearch]] never know which build produced the artifact). */
  def buildAdjacencyLsh(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, degree: Int = 8, bits: Int = 0,
                        nBands: Int = 4, maxBucket: Int = 4096): DataFrame =
    capSymmetrizeCap(
      lshCandidatePairs(df, idCol, vecCol, dim, bits, nBands, maxBucket),
      degree)

  /** The corpus medoid: the point minimizing rounded L2² to the corpus
    * mean, id tie-break — the deterministic entry point DiskANN also
    * uses. One dim-wise aggregate + one argmin scan. */
  def medoid(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val mean = df.select(posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .groupBy("__pos").agg(avg(col("__v")).as("__m"))
      .orderBy("__pos").collect().map(_.getDouble(1).toFloat)
    df.select(col(idCol).cast("long").as("entry_id"),
        round(VectorFunctions.l2Sq(col(vecCol), typedlit(mean.toSeq)), 4)
          .as("__d"))
      .orderBy(col("__d").asc, col("entry_id").asc)
      .limit(1).select("entry_id")
  }

  /** Per-shard entry points — the multi-entry seed set that replaces
    * the single global [[medoid]]: fit a small KMeans(`nEntries`) (on
    * the deterministic [[TrainSample]] cap) and take, per cluster, the
    * corpus point nearest its centroid (rounded distance, id
    * tie-break). Returns `(entry_id, entry_vec)` — the build-once
    * artifact [[beamSearchMulti]] serves from; staged WITH vectors so
    * seed selection replays in the oracle. Clusters that attract no
    * points (possible when KMeans collapses) simply yield no entry —
    * the artifact carries ≤ `nEntries` rows, all distinct points. */
  def entryPoints(df: DataFrame, idCol: String, vecCol: String,
                  nEntries: Int = 8, seed: Long = 42L,
                  maxIter: Int = 20): DataFrame = {
    require(nEntries > 0)
    val n = df.count()
    val withVec = df.withColumn("__mlvec", array_to_vector(col(vecCol)))
    val km = new KMeans()
      .setK(nEntries).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__mlvec").setPredictionCol("__c")
    val centroids = km.fit(
        TrainSample.forFit(withVec, vecCol, n, TrainSample.DefaultCap,
          nEntries))
      .clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
    val centArr = array(centroids.map { case (i, c) =>
      struct(VectorFunctions.l2Sq(col(vecCol), typedlit(c.toSeq)).as("d"),
        lit(i).as("shard"))
    }: _*)
    val w = Window.partitionBy(col("__shard"))
      .orderBy(col("__d").asc, col("entry_id").asc)
    df.select(col(idCol).cast("long").as("entry_id"),
        col(vecCol).as("entry_vec"),
        array_min(centArr).getField("shard").as("__shard"),
        round(array_min(centArr).getField("d"), 4).as("__d"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select("entry_id", "entry_vec")
  }

  /** The layered graph's upper-layer node sample — HNSW's level
    * assignment (Malkov & Yashunin: node level ~ floor(−ln(U)·mL), so
    * level ≥ 1 has probability e^(−1/mL); the verdict's 1/e² ≈ 13.53%
    * is that occupancy at mL = 1/2) made DETERMINISTIC so a lakehouse
    * rebuild reproduces membership from the table alone: xxhash64(id,
    * salt) parts-per-million cut, the [[TrainSample]]/`
    * estimateSelectivitySampled` discipline. */
  def upperSample(corpus: DataFrame, idCol: String,
                  ppm: Int = 135335, salt: Int = 12): DataFrame =
    corpus.where(
      pmod(xxhash64(col(idCol), lit(salt)), lit(1000000L)) < ppm)

  /** The boolean form of [[upperSample]]'s membership rule — the
    * ingest-side twin: an appended row's layer membership must be
    * decided by the SAME deterministic cut the build used, or a
    * rebuild and an incrementally-grown index disagree on which nodes
    * the upper layer holds. */
  def upperMember(idCol: String, ppm: Int = 135335,
                  salt: Int = 12): Column =
    pmod(xxhash64(col(idCol), lit(salt)), lit(1000000L)) < ppm

  /** Level-ℓ membership cut in ppm: p^ℓ occupancy from the single
    * [[upperSample]] hash, so levels NEST (a level-ℓ+1 node is a
    * level-ℓ node by construction — hash < cut(ℓ+1) ⇒ hash < cut(ℓ)),
    * exactly HNSW's geometric level assignment (node level ~
    * floor(−ln U · mL) nests the layers the same way). */
  def levelPpm(level: Int, ppm: Int = 135335): Int = {
    require(level >= 1, "levels are 1-based (level 0 = the base layer)")
    math.round(1e6 * math.pow(ppm / 1e6, level)).toInt
  }

  /** [[upperSample]] at level ℓ — the multi-level stack's per-layer
    * node set ([[levelPpm]] occupancy, nested by construction). */
  def levelSample(corpus: DataFrame, idCol: String, level: Int,
                  ppm: Int = 135335, salt: Int = 12): DataFrame =
    upperSample(corpus, idCol, levelPpm(level, ppm), salt)

  /** [[beamSearchMulti]] under the tombstone mask — the multi-entry
    * member of the [[beamSearchMasked]] family: the walk itself stays
    * label-blind (it ROUTES through deleted nodes — FreshDiskANN's
    * discipline, eager unlinking disconnects the graph), and the mask
    * is one broadcast anti-join over the bounded visited set before the
    * top-k cut, so a tombstoned doc can still do routing work but can
    * never be RETURNED. */
  def beamSearchMultiMasked(adj: DataFrame, corpus: DataFrame,
                            idCol: String, vecCol: String,
                            query: Array[Float], entries: DataFrame,
                            k: Int, deletes: DataFrame,
                            beamWidth: Int = 4, rounds: Int = 3,
                            degree: Int = 8, nSeeds: Int = 2)
      : DataFrame =
    maskedTopK(corpus, idCol, walkVisitedSeeded(adj, corpus, idCol,
      vecCol, query, entryIdsOf(entries), nSeeds, beamWidth, rounds,
      degree), deletes, k)

  /** HNSW-style LAYERED serve (Malkov & Yashunin) — the graph family's
    * one layered path. `adjLayers` is the upper-layer stack ordered TOP
    * (sparsest, [[levelSample]] level = adjLayers.length) down to
    * level 1; each layer is the same Vamana-shape [[buildAdjacency]]
    * built on its nested node sample, and a two-level index is the
    * stack with one upper layer (`Seq(adjUpper)`, [[upperSample]]'s
    * nodes). The walk enters the top layer at `topEntries`, each
    * level's top-`nSeeds` seed the next level's beam, and the base
    * walk refines locally — the base-layer semantics are untouched,
    * only the SEED changes, so every recall/maintenance contract on the
    * base graph carries over.
    *
    * Why it matters at decade scale: a flat medoid-seeded walk needs
    * rounds ∝ the graph's diameter to cross the corpus; an upper layer
    * crosses a smaller graph first and hands the base walk a start
    * already near the answer (ScaleBench's `graphann_chain_rounds_*`
    * ops measure it). A single ~p-occupancy layer is still a p·n-node
    * graph whose diameter grows with the corpus; with log-many p^ℓ
    * layers the entry cost is corpus-INDEPENDENT (each layer crosses a
    * constant factor, HNSW's complexity argument). Cost = (levels + 1)
    * × the bounded per-walk budget, never a corpus scan.
    *
    * Entry choice: HNSW shares ONE entry node across layers — prefer
    * seeding `topEntries` with the sampled node nearest the base entry;
    * an independently-computed sample medoid drifts ~√n positions from
    * the corpus medoid (median sampling noise), which at decade sizes
    * adds a seed offset that can dominate the walk (measured: ~290
    * rungs at 10⁶ on the chain rehearsal). */
  def layeredSearchMulti(adjLayers: Seq[DataFrame],
                         topEntries: DataFrame, adjBase: DataFrame,
                         corpus: DataFrame, idCol: String,
                         vecCol: String, query: Array[Float], k: Int,
                         beamWidth: Int = 4, upperRounds: Int = 3,
                         rounds: Int = 3, degree: Int = 8,
                         nSeeds: Int = 2): DataFrame = {
    require(adjLayers.nonEmpty, "pass at least one upper layer " +
      "(use beamSearchMulti for a flat serve)")
    var seeds = topEntries
    adjLayers.zipWithIndex.foreach { case (adjL, i) =>
      val top = beamSearchMulti(adjL, corpus, idCol, vecCol, query,
        seeds, k = nSeeds, beamWidth, upperRounds, degree,
        nSeeds = if (i == 0) 1 else nSeeds)
      seeds = top.select(col(idCol).cast("long").as("entry_id"))
    }
    beamSearchMulti(adjBase, corpus, idCol, vecCol, query, seeds, k,
      beamWidth, rounds, degree, nSeeds = nSeeds)
  }

  /** [[layeredSearchMulti]] under the tombstone mask — EVERY serve path
    * applies the tombstone mask ([[beamSearchMasked]],
    * [[IvfIndex.search]]), or a doc deleted after the layered artifacts
    * were built is served until consolidation. Each level's walk routes
    * label-blind, its RESULT is masked before the seed handoff to the
    * next level (a tombstoned upper node may still ROUTE the zoom —
    * only its election as a seed is masked, keeping the seed set live),
    * and the base visited set is masked before the top-k cut exactly
    * like the flat masked serve. The graph family's latest-wins story
    * is delete+append (an upsert tombstones the old id and [[append]]s
    * the new row), so the mask IS the overlay — after
    * [[consolidateDeletesMultiRoot]] / [[consolidateDeletesLayeredRoot]]
    * fold, the plain [[layeredSearchMulti]] serves again. Cost: one
    * broadcast anti-join over each walk's bounded visited set. */
  def layeredSearchMultiMasked(adjLayers: Seq[DataFrame],
                               topEntries: DataFrame, adjBase: DataFrame,
                               corpus: DataFrame, idCol: String,
                               vecCol: String, query: Array[Float],
                               k: Int, deletes: DataFrame,
                               beamWidth: Int = 4, upperRounds: Int = 3,
                               rounds: Int = 3, degree: Int = 8,
                               nSeeds: Int = 2): DataFrame = {
    require(adjLayers.nonEmpty, "pass at least one upper layer " +
      "(use beamSearchMultiMasked for a flat masked serve)")
    var seeds = topEntries
    adjLayers.zipWithIndex.foreach { case (adjL, i) =>
      val top = beamSearchMultiMasked(adjL, corpus, idCol, vecCol,
        query, seeds, k = nSeeds, deletes, beamWidth, upperRounds,
        degree, nSeeds = if (i == 0) 1 else nSeeds)
      seeds = top.select(col(idCol).cast("long").as("entry_id"))
    }
    beamSearchMultiMasked(adjBase, corpus, idCol, vecCol, query, seeds,
      k, deletes, beamWidth, rounds, degree, nSeeds = nSeeds)
  }

  /** Beam search seeded from the `nSeeds` nearest of the staged
    * [[entryPoints]] instead of the single medoid — same walk, same
    * budget discipline (budget = seeds + rounds·beamWidth·degree), and
    * the seed ranking uses the identical rounded-distance + id order as
    * every frontier pick, so the oracle replays seed choice and walk
    * alike. `entries` is the `(entry_id, entry_vec)` artifact; its row
    * count is a plan constant, so the collect is bounded. */
  def beamSearchMulti(adj: DataFrame, corpus: DataFrame, idCol: String,
                      vecCol: String, query: Array[Float],
                      entries: DataFrame, k: Int, beamWidth: Int = 4,
                      rounds: Int = 3, degree: Int = 8,
                      nSeeds: Int = 2): DataFrame = {
    val top = walkVisitedSeeded(adj, corpus, idCol, vecCol, query,
        entryIdsOf(entries), nSeeds, beamWidth, rounds, degree)
      .sortBy { case (id, d) => (d, id) }.take(k)
    resultDf(corpus.sparkSession, idCol, top)
  }

  /** The ids of an `entry_id` artifact — a bounded collect (its row
    * count is a plan constant). */
  private def entryIdsOf(entries: DataFrame): Seq[Long] =
    entries.select(col("entry_id").cast("long"))
      .collect().map(_.getLong(0)).toSeq

  /** The shared walk: visited set after `rounds` rounds of label-blind
    * best-first expansion, as (id, rounded distance) pairs — bounded by
    * the `require` budget. [[beamSearch]] takes its top-k;
    * [[filteredBeamSearch]] post-filters it first. */
  private def walkVisited(adj: DataFrame, corpus: DataFrame, idCol: String,
                          vecCol: String, query: Array[Float],
                          entryId: Long, beamWidth: Int, rounds: Int,
                          degree: Int): Seq[(Long, Double)] =
    walkVisitedSeeded(adj, corpus, idCol, vecCol, query, Seq(entryId),
      nSeeds = 1, beamWidth, rounds, degree)

  /** [[walkVisited]] generalized to a seed SET: the walk starts from the
    * `nSeeds` of `entryIds` nearest the query (ranked by the same
    * rounded distance + id tie-break as every frontier pick, so the
    * seed choice is oracle-replayable), instead of one global medoid.
    * Multi-entry seeding is the standard sharded-graph discipline
    * (DiskANN's per-shard medoids; Milvus seeds HNSW per segment): a
    * beam from the nearest entry starts INSIDE the query's region,
    * which buys recall at equal budget and matters doubly under
    * filtering. */
  private def walkVisitedSeeded(adj: DataFrame, corpus: DataFrame,
                                idCol: String, vecCol: String,
                                query: Array[Float], entryIds: Seq[Long],
                                nSeeds: Int, beamWidth: Int, rounds: Int,
                                degree: Int): Seq[(Long, Double)] =
    walkVisitedBy(adj, pointScores(corpus, idCol,
        round(VectorFunctions.l2Sq(col(vecCol), typedlit(query.toSeq)), 4)),
      entryIds, nSeeds, beamWidth, rounds, degree)

  /** A walk's candidate scorer: the (id, score) of each of `ids`, read
    * by one pushed `id IN (...)` point lookup on `rows`. */
  private def pointScores(rows: DataFrame, idCol: String, score: Column)(
      ids: Seq[Long]): Array[(Long, Double)] =
    if (ids.isEmpty) Array.empty
    else rows.where(col(idCol).isin(ids: _*))
      .select(col(idCol).cast("long"), score)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))

  /** The walk loop itself, with the candidate scorer as a seam:
    * `distOf(ids)` returns the (id, rounded distance) of each id — exact
    * L2 over the corpus for [[walkVisitedSeeded]], an ADC lookup over
    * the PQ codes artifact for [[beamSearchPq]]. Everything else
    * (frontier ranking, dedup, budget `require`) is shared, so every
    * scoring mode walks with byte-identical visit-order discipline. */
  private def walkVisitedBy(adj: DataFrame,
                            distOf: Seq[Long] => Array[(Long, Double)],
                            entryIds: Seq[Long], nSeeds: Int,
                            beamWidth: Int, rounds: Int,
                            degree: Int): Seq[(Long, Double)] = {
    val seeds = distOf(entryIds)
      .sortBy { case (id, d) => (d, id) }.take(nSeeds)
    // visited: id → rounded distance; expanded: ids whose adjacency was
    // already fetched. Both bounded by plan constants (see require).
    val visited = scala.collection.mutable.LinkedHashMap[Long, Double](
      seeds.toSeq: _*)
    val expanded = scala.collection.mutable.Set.empty[Long]
    val budget = seeds.length + rounds * beamWidth * degree
    var step = 0
    while (step < rounds) {
      val frontier = visited.iterator
        .filterNot { case (id, _) => expanded.contains(id) }
        .toSeq.sortBy { case (id, d) => (d, id) }.take(beamWidth)
      if (frontier.nonEmpty) {
        expanded ++= frontier.map(_._1)
        // dedup the fetched dsts DRIVER-side (bounded by beamWidth ·
        // degree rows): a `.distinct()` here is an AQE shuffle query,
        // turning the pushed point lookup into three scheduled jobs per
        // round; the collected array is already the bounded handoff, so
        // the dedup belongs with it (as in [[bulkVisited]]'s entry round)
        val fresh = adj.where(col("src").isin(frontier.map(_._1): _*))
          .select(col("dst").cast("long"))
          .collect().map(_.getLong(0)).distinct
          .filterNot(visited.contains)
        require(visited.size + fresh.length <= budget,
          s"graph-ann: visited set exceeds the ${budget}-node budget — " +
            "adjacency degree larger than the declared bound")
        distOf(fresh.toSeq).foreach { case (id, d) => visited(id) = d }
      }
      step += 1
    }
    visited.toSeq
  }

  private def resultDf(spark: SparkSession, idCol: String,
                       top: Seq[(Long, Double)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        top.map { case (id, d) => Row(id, d) }, 1),
      StructType(Seq(
        StructField(idCol, LongType, nullable = false),
        StructField("distance", DoubleType, nullable = false))))

  /** Bounded best-first beam search over a built adjacency artifact.
    * Returns (idCol, distance): the top-k of the visited set by
    * (rounded distance, id). Each round issues two pushed-filter point
    * lookups (adjacency rows of the frontier; vectors of the new
    * candidates) — never a corpus scan. */
  def beamSearch(adj: DataFrame, corpus: DataFrame, idCol: String,
                 vecCol: String, query: Array[Float], entryId: Long,
                 k: Int, beamWidth: Int = 4, rounds: Int = 3,
                 degree: Int = 8): DataFrame = {
    val top = walkVisited(adj, corpus, idCol, vecCol, query, entryId,
        beamWidth, rounds, degree)
      .sortBy { case (id, d) => (d, id) }.take(k)
    resultDf(corpus.sparkSession, idCol, top)
  }

  /** Tombstone-masked beam search — delete propagation for the graph
    * family (FreshDiskANN's delete discipline, Singh et al. 2021: the
    * walk routes THROUGH deleted nodes — unlinking them eagerly would
    * disconnect the graph — and deletions are masked from the RESULT
    * until a background consolidation rewrites the adjacency). `deletes`
    * is the tombstone key frame ([[Tombstones.table]]); the mask is one
    * broadcast anti-join over the bounded visited set, so serving cost
    * is unchanged. Recall under heavy deletion is bought by widening the
    * beam, exactly like the filtered walk's over-retrieval. */
  def beamSearchMasked(adj: DataFrame, corpus: DataFrame, idCol: String,
                       vecCol: String, query: Array[Float], entryId: Long,
                       k: Int, deletes: DataFrame, beamWidth: Int = 4,
                       rounds: Int = 3, degree: Int = 8): DataFrame =
    maskedTopK(corpus, idCol, walkVisited(adj, corpus, idCol, vecCol,
      query, entryId, beamWidth, rounds, degree), deletes, k)

  /** The masked serves' shared tail: the tombstone anti-join over the
    * bounded visited set, then the top-k cut. */
  private def maskedTopK(corpus: DataFrame, idCol: String,
                         vis: Seq[(Long, Double)], deletes: DataFrame,
                         k: Int): DataFrame =
    Tombstones.maskWith(
        resultDf(corpus.sparkSession, idCol,
          vis.sortBy { case (id, d) => (d, id) }),
        deletes.withColumnRenamed(deletes.columns.head, idCol), idCol)
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)

  /** PQ-scored beam walk — DiskANN's actual serving layout (Subramanya
    * et al., NeurIPS 2019 §3: the in-memory structure holds PQ codes,
    * the walk routes on ADC distances, and only the FINAL candidates
    * fetch full-precision vectors from disk for rerank). Here the walk's
    * scorer is an ADC lookup over the codes artifact ([[Pq.adcExpr]]:
    * m table lookups per row, pushed `id IN` point reads — the codes
    * row is m bytes vs dim·4 for the vector, so at 100 TB the hot
    * serving path touches 32× less data per expansion), and the visited
    * set reranks exactly against the corpus (one bounded pushed-In
    * fetch). Returns (idCol, approx_distance, distance) — the
    * [[Pq.adcSearch]] projection with graph routing instead of a
    * full-codes scan. Budget/determinism contract identical to
    * [[beamSearch]]: ADC distances round to 4 decimals with id
    * tie-breaks, so the DuckDB oracle replays encoding, the lookup
    * table, every round's frontier, and the rerank. */
  def beamSearchPq(adj: DataFrame, codes: DataFrame, corpus: DataFrame,
                   idCol: String, vecCol: String, query: Array[Float],
                   model: Pq.Model, entryId: Long, k: Int,
                   beamWidth: Int = 4, rounds: Int = 3,
                   degree: Int = 8): DataFrame =
    // the PQ walk is the ADC instance of the generalized scored walk:
    // routing rows = codes + the per-row ADC lookup expression
    beamSearchScored(adj,
        codes.select(col(idCol), Pq.adcExpr(model, query).as("__route")),
        "__route", corpus, idCol, vecCol, query, entryId, k,
        beamWidth, rounds, degree)
      .withColumnRenamed("route_score", "approx_distance")

  /** Beam walk routed by an ARBITRARY precomputed per-id routing score
    * (`routing`: (id, routeCol) — lower is better; pushed `id IN`
    * point lookups, the [[beamSearchPq]] fetch discipline generalized):
    * the walk never reads float vectors, only `routing`'s narrow rows;
    * full precision appears once, in the exact rerank of the visited
    * set. This is the seam the compressed routing tiers share — PQ ADC
    * rows ([[beamSearchPq]]) or the 20-byte packed-sign rows with the
    * negated asymmetric estimator (`graph_ann_asym_walk`, the
    * RaBitQ-routing DiskANN deployment shape). */
  def beamSearchScored(adj: DataFrame, routing: DataFrame,
                       routeCol: String, corpus: DataFrame, idCol: String,
                       vecCol: String, query: Array[Float], entryId: Long,
                       k: Int, beamWidth: Int = 4, rounds: Int = 3,
                       degree: Int = 8): DataFrame = {
    val vis = walkVisitedBy(adj,
      pointScores(routing, idCol, col(routeCol).cast("double")),
      Seq(entryId), nSeeds = 1, beamWidth, rounds, degree)
    val spark = corpus.sparkSession
    val approx = resultDf(spark, idCol, vis.sortBy { case (id, d) => (d, id) })
      .withColumnRenamed("distance", "route_score")
    val qLit = typedlit(query.toSeq)
    approx.join(
        corpus.where(col(idCol).isin(vis.map(_._1): _*))
          .select(col(idCol).cast("long").as(idCol), col(vecCol)),
        Seq(idCol))
      .withColumn("distance", round(VectorFunctions.l2Sq(col(vecCol), qLit), 4))
      .select(col(idCol), col("route_score"), col("distance"))
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
  }

  /** Delete consolidation — the graph family's [[Tombstones.compact]]
    * (FreshDiskANN's consolidation, Singh et al. 2021: masking serves
    * deletes cheaply, but tombstones accumulate and deleted nodes keep
    * doing routing work — a background consolidation folds them out).
    * Plain edge removal can DISCONNECT the graph (a deleted hub strands
    * everything it bridged), so each deleted node's routing role is
    * inherited by its neighborhood: candidate repair edges in-neighbor →
    * out-neighbor THROUGH every deleted node, scored by recomputed exact
    * distance, merged with the surviving edges, and re-pruned to the
    * degree cap per source.
    *
    * One declarative plan, linear in corpus + deletes: two broadcast
    * anti-joins (survivors), two broadcast joins through the deleted
    * via-nodes (≤ degree² candidates per deleted node), a (src, dst)
    * dedup aggregate, two corpus joins for the recomputed distance, one
    * per-src ranking window. Returns the consolidated (src, dst, dist)
    * adjacency — serve it with the plain (unmasked) walks; the
    * [[graft.search.IndexAudit]] orphan counter returns to 0. */
  def consolidateDeletes(adj: DataFrame, corpus: DataFrame, idCol: String,
                         vecCol: String, deletes: DataFrame,
                         degree: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dead = broadcast(deletes
      .select(col(deletes.columns.head).cast("long").as("__dead"))
      .distinct())
    val liveEdges = adj
      .join(dead, col("src") === col("__dead"), "left_anti")
      .join(dead, col("dst") === col("__dead"), "left_anti")
      .select(col("src"), col("dst"), col("dist"))
    val inEdges = adj.join(dead, col("dst") === col("__dead"))
      .select(col("src").as("rsrc"), col("dst").as("via"))
      .join(dead, col("rsrc") === col("__dead"), "left_anti")
    val outEdges = adj.join(dead, col("src") === col("__dead"))
      .select(col("src").as("via"), col("dst").as("rdst"))
      .join(dead, col("rdst") === col("__dead"), "left_anti")
    val sv = corpus.select(col(idCol).cast("long").as("rsrc"),
      col(vecCol).as("__sv"))
    val dv = corpus.select(col(idCol).cast("long").as("rdst"),
      col(vecCol).as("__dv"))
    val repairs = inEdges.join(outEdges, "via")
      .where(col("rsrc") =!= col("rdst"))
      .select(col("rsrc"), col("rdst")).distinct()
      .join(sv, "rsrc").join(dv, "rdst")
      .select(col("rsrc").as("src"), col("rdst").as("dst"),
        round(VectorFunctions.l2Sq(col("__sv"), col("__dv")), 4)
          .as("dist"))
    val merged = liveEdges.unionByName(repairs)
      .groupBy(col("src"), col("dst")).agg(min(col("dist")).as("dist"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("dist").asc, col("dst").asc)
    merged.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= degree).drop("__rn")
  }

  /** Re-elect DEAD entry points over the survivors — the liveness half
    * of delete consolidation (the hazard: [[consolidateDeletes]] removes
    * ALL edges of a deleted node, so a walk seeded at a deleted
    * medoid/entry starts at an edgeless node and STRANDS — the same
    * silently-degrading-serving class as a violated covering radius).
    * Each dead entry is replaced by the SURVIVOR nearest its own vector
    * (rounded L2², id tie-break) — local re-anchoring that preserves the
    * entry's geometric routing role, and, unlike a full medoid/KMeans
    * re-fit (the rebuild-time answer), replays EXACTLY cross-engine:
    * the argmin is per-row independent arithmetic over data vectors, no
    * distributed mean whose summation order could drift a float. One
    * corpus scan total for ALL dead entries (the ≤ nEntries dead rows
    * broadcast against the survivors, one ranking window). Live entries
    * pass through untouched; ids that collide after re-election
    * collapse (a seed set is a set). Input `entries` needs `entry_id`
    * (the [[medoid]] shape) — vectors are fetched from the corpus;
    * returns `(entry_id, entry_vec)`, the [[entryPoints]] artifact
    * shape, id-ascending.
    *
    * `adj` (round 12, the ADVICE corner): pass the POST-consolidation
    * adjacency and re-election also covers the LIVE-but-STRANDED entry —
    * one whose every out-edge vanished because all its neighbors died
    * during [[consolidateDeletes]] (and no repair edge re-landed on
    * it). [[IndexAudit.entryChecks]] counts exactly that entry as dead,
    * so without this the `reelect_entries` trigger fires, the verb
    * passes the entry through untouched, and the trigger never clears.
    * With `adj`, stranded entries join the re-elect set AND candidate
    * survivors are restricted to ids that SOURCE an edge — a seed must
    * start a walk, and electing the stranded entry as its own nearest
    * survivor (distance 0) would strand it forever. Without `adj` the
    * pre-round-12 tombstone-only semantics hold. */
  def reelectEntries(entries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, deletes: DataFrame,
                     adj: Option[DataFrame] = None): DataFrame = {
    val spark = corpus.sparkSession
    val dead = broadcast(deletes
      .select(col(deletes.columns.head).cast("long").as("__dead"))
      .distinct())
    val eIds = entries.select(col("entry_id").cast("long").as("entry_id"))
      .distinct()
    // entry ids that source at least one post-consolidation edge — the
    // entryChecks liveSrc shape: one adjacency scan, the (≤ nEntries)
    // entry set broadcast into a semi-join
    val strandedIds: DataFrame = adj match {
      case Some(a) =>
        val liveSrc = a
          .join(broadcast(eIds.withColumnRenamed("entry_id", "src")),
            Seq("src"), "left_semi")
          .select(col("src").cast("long").as("entry_id")).distinct()
        eIds.join(dead, col("entry_id") === col("__dead"), "left_anti")
          .join(liveSrc, Seq("entry_id"), "left_anti")
      case None => eIds.limit(0)
    }
    val cVec = corpus.select(col(idCol).cast("long").as("entry_id"),
      col(vecCol).as("entry_vec"))
    val liveEntries = eIds
      .join(dead, col("entry_id") === col("__dead"), "left_anti")
      .join(broadcast(strandedIds), Seq("entry_id"), "left_anti")
      .join(cVec, Seq("entry_id"))
    // re-elect set (tombstoned ∪ stranded): a bounded collect
    // (≤ nEntries rows — the query-vector handoff discipline), vectors
    // from the PRE-fold corpus
    val deadEntries = eIds
      .join(dead, col("entry_id") === col("__dead"), "left_semi")
      .unionByName(strandedIds).distinct()
      .join(cVec, Seq("entry_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    if (deadEntries.isEmpty)
      return liveEntries.orderBy(col("entry_id").asc)
    import spark.implicits._
    val oldVecs = deadEntries.toSeq.toDF("__old_id", "__ov")
    val survivors0 = corpus
      .select(col(idCol).cast("long").as("entry_id"),
        col(vecCol).as("entry_vec"))
      .join(dead, col("entry_id") === col("__dead"), "left_anti")
    // with adj: only edge-sourcing survivors are electable (see doc)
    val survivors = adj match {
      case Some(a) => survivors0.join(
        a.select(col("src").cast("long").as("entry_id")).distinct(),
        Seq("entry_id"), "left_semi")
      case None => survivors0
    }
    val w = Window.partitionBy(col("__old_id"))
      .orderBy(col("__d").asc, col("entry_id").asc)
    val reelected = survivors.crossJoin(broadcast(oldVecs))
      .withColumn("__d",
        round(VectorFunctions.l2Sq(col("entry_vec"), col("__ov")), 4))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("entry_id"), col("entry_vec"))
    liveEntries.unionByName(reelected)
      .groupBy(col("entry_id")).agg(first(col("entry_vec")).as("entry_vec"))
      .orderBy(col("entry_id").asc)
  }

  /** [[consolidateDeletes]] WITH entry-point re-election — the round-11
    * verb form: folding deletes out of the adjacency and keeping the
    * seed set alive are ONE maintenance action (FreshDiskANN's
    * consolidation re-anchors its start point the same way; a verb that
    * did only the edges leaves [[IndexAudit.entryChecks]]'
    * `entry_points_dead` counter firing and every subsequent walk
    * stranded). Returns (consolidated adjacency, re-elected entries) —
    * serve with the plain walks seeded from the returned entries, NO
    * manual re-election. */
  def consolidateDeletesWithEntries(adj: DataFrame, corpus: DataFrame,
                                    idCol: String, vecCol: String,
                                    deletes: DataFrame, entries: DataFrame,
                                    degree: Int = 8)
      : (DataFrame, DataFrame) = {
    val a2 = consolidateDeletes(adj, corpus, idCol, vecCol, deletes,
      degree)
    // re-election sees the POST-fold adjacency so a live entry whose
    // every out-edge died is re-anchored too (round 12)
    (a2, reelectEntries(entries, corpus, idCol, vecCol, deletes,
      Some(a2)))
  }

  def adjacencyDir(indexDir: String): String = s"$indexDir/adjacency"
  def entriesDir(indexDir: String): String = s"$indexDir/entries"
  def upperAdjacencyDir(indexDir: String): String =
    s"$indexDir/adjacency_upper"
  def upperEntriesDir(indexDir: String): String =
    s"$indexDir/entries_upper"
  def upperAdjacencyLevelDir(indexDir: String, level: Int): String =
    s"$indexDir/adjacency_upper_l$level"
  def topEntriesDir(indexDir: String): String = s"$indexDir/entries_top"

  /** Publish step shared by the consolidate*Root verbs: on an aliased
    * root, `rewriteInto(current, next)` writes `v<N+1>` directly and
    * publishes it ([[AliasedIndex.advance]]); on a flat root it rewrites
    * the whole root into `__cons_tmp` and swaps it in
    * ([[Artifacts.replaceDir]], aside copy `__cons_old`) with the
    * documented single-writer window. Returns the serving dir. */
  private def consolidateRoot(spark: SparkSession, root: String)(
      rewriteInto: (String, String) => Unit): String =
    if (AliasedIndex.publishedVersions(spark, root).nonEmpty)
      AliasedIndex.advance(spark, root)(rewriteInto)
    else {
      val live = new org.apache.hadoop.fs.Path(root)
      val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val old = new org.apache.hadoop.fs.Path(s"${root}__cons_old")
      Artifacts.recoverAside(fs, live, old)
      Artifacts.replaceDir(fs, live,
        new org.apache.hadoop.fs.Path(s"${root}__cons_tmp"), old)(
        rewriteInto(root, _))
      root
    }

  /** ROOT-addressed delete consolidation under the alias discipline: on
    * a published root, read the CURRENT version's adjacency + entries,
    * run [[consolidateDeletesWithEntries]], and write BOTH artifacts into
    * `v<N+1>` DIRECTLY (consolidation rewrites the whole layout anyway,
    * so it skips [[AliasedIndex.maintain]]'s bootstrap copy — the
    * rewrite-verbs-skip-the-copy contract), then publish atomically.
    * Readers resolving the root mid-verb keep serving the old complete
    * version; after the flip they serve the consolidated adjacency
    * seeded from the re-elected entries with no manual repair. On a
    * flat (never-published) root the verb rewrites in place with the
    * documented single-writer window. Returns the new serving dir. */
  def consolidateDeletesRoot(spark: SparkSession, root: String,
                             corpus: DataFrame, idCol: String,
                             vecCol: String, deletes: DataFrame,
                             degree: Int = 8): String = {
    def rewriteInto(cur: String, next: String): Unit = {
      val adj = spark.read.parquet(adjacencyDir(cur))
      val entries = spark.read.parquet(entriesDir(cur))
      val (a2, e2) = consolidateDeletesWithEntries(adj, corpus, idCol,
        vecCol, deletes, entries, degree)
      a2.write.mode("overwrite").parquet(adjacencyDir(next))
      e2.write.mode("overwrite").parquet(entriesDir(next))
    }
    consolidateRoot(spark, root)(rewriteInto)
  }

  final case class MultiLayerAppendResult(adjacency: DataFrame,
                                          adjLayers: Seq[DataFrame],
                                          levelIds: Seq[Seq[Long]])

  /** Ingest into a LAYERED graph — the layer stack's maintenance twin
    * of [[append]]: every batch row joins the base graph by the
    * frozen-graph walk insertion; each level ℓ (layers ordered TOP →
    * level 1, the [[layeredSearchMulti]] convention; a two-level index
    * is one layer) additionally absorbs the rows the NESTED
    * [[levelPpm]] hash cut samples — a level-2 member is a level-1
    * member by construction, so a row entering the stack lands in a
    * prefix of the levels exactly as an HNSW insert draws one level and
    * joins every layer at or below it. Membership is decided by the
    * deterministic hash cut — NOT by load order — so an
    * incrementally-grown index and a from-scratch rebuild hold the SAME
    * layer node sets (the [[upperSample]] reproducibility contract),
    * and [[IndexAudit.upperLayerChecks]]' `upper_membership_violations`
    * counter stays 0 under ingest. `corpus` is the PRE-batch corpus
    * (the walk's vector source), as in [[append]]; `layerEntryIds`
    * aligns with `adjLayers`. `levelIds` holds each layer's appended
    * ids, ascending. */
  def appendLayeredMulti(adjBase: DataFrame, adjLayers: Seq[DataFrame],
                         corpus: DataFrame, idCol: String,
                         vecCol: String, batch: DataFrame,
                         baseEntryId: Long, layerEntryIds: Seq[Long],
                         degree: Int = 8, beamWidth: Int = 4,
                         rounds: Int = 3, maxBatch: Int = 256,
                         ppm: Int = 135335, salt: Int = 12)
      : MultiLayerAppendResult = {
    require(adjLayers.length == layerEntryIds.length)
    val nLevels = adjLayers.length
    // ONE bounded collect carries the batch rows AND every level's
    // membership flag. Flags are Spark-evaluated Columns — the driver
    // never re-implements the nested ppm cut.
    val memberCols = (0 until nLevels).map { i =>
      upperMember(idCol, levelPpm(nLevels - i, ppm), salt).as(s"__m$i")
    }
    val rows = batch.select(
        Seq(col(idCol).cast("long"), col(vecCol)) ++ memberCols: _*)
      .limit(maxBatch + 1).collect()
    require(rows.length <= maxBatch,
      s"graph-ann append: batch exceeds $maxBatch points — use a rebuild " +
        "for bulk re-indexing")
    def pairs(rs: Array[Row]): Seq[(Long, Seq[Float])] =
      rs.map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val levelRows = (0 until nLevels).map(i =>
      pairs(rows.filter(_.getBoolean(2 + i))))
    // The base append and each layer's append are independent (each
    // reads only its own frozen adjacency and the shared PRE-batch
    // corpus), so their bounded eager work — the bulk-walk jobs inside
    // [[appendRows]] — overlaps on concurrent driver threads: the small
    // layer appends back-fill the base walk's scheduling gaps instead
    // of serializing after them.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val baseF = Future {
      appendRows(adjBase, corpus, idCol, vecCol, pairs(rows), baseEntryId,
        degree, beamWidth, rounds).adjacency
    }
    val layerFs = adjLayers.zip(layerEntryIds).zip(levelRows).map {
      case ((adjL, entL), lRows) => Future {
        if (lRows.isEmpty) adjL
        else appendRows(adjL, corpus, idCol, vecCol, lRows, entL,
          degree, beamWidth, rounds).adjacency
      }
    }
    MultiLayerAppendResult(Await.result(baseF, Duration.Inf),
      layerFs.map(Await.result(_, Duration.Inf)),
      levelRows.map(_.map(_._1).sorted))
  }

  /** Delete consolidation for a LAYERED graph: fold the base and EVERY
    * layer's adjacency, re-elect the base entry set (against the folded
    * base) and the stack's top entry (against the folded TOP layer — a
    * dead or stranded top entry strands every query's first zoom; the
    * survivors [[reelectEntries]] may elect source a top-layer edge, so
    * they are top-layer members by construction). Returns (base adj,
    * base entries, folded layers top→1, top entries). */
  def consolidateDeletesMulti(adjBase: DataFrame,
                              adjLayers: Seq[DataFrame],
                              corpus: DataFrame, idCol: String,
                              vecCol: String, deletes: DataFrame,
                              entries: DataFrame, topEntries: DataFrame,
                              degree: Int = 8)
      : (DataFrame, DataFrame, Seq[DataFrame], DataFrame) = {
    val (b2, e2) = consolidateDeletesWithEntries(adjBase, corpus, idCol,
      vecCol, deletes, entries, degree)
    val layers2 = adjLayers.map(adjL =>
      consolidateDeletes(adjL, corpus, idCol, vecCol, deletes, degree))
    val te2 = reelectEntries(topEntries, corpus, idCol, vecCol, deletes,
      Some(layers2.head))
    (b2, e2, layers2, te2)
  }

  /** ROOT-addressed layered consolidation under the alias discipline —
    * [[consolidateDeletesRoot]] for a layered layout: read the current
    * version, run [[consolidateDeletesMulti]], rewrite every artifact
    * into `v<N+1>` and publish atomically; readers mid-verb keep the
    * old complete version. Flat roots use the same rename-aside rewrite
    * as the base verb. `layerDirs(dir)` lists the layer adjacency dirs
    * top → level 1; `topEntriesOf(dir)` is the top layer's entry dir.
    * Returns the new serving dir. */
  private def consolidateLayersRoot(spark: SparkSession, root: String,
                                    corpus: DataFrame, idCol: String,
                                    vecCol: String, deletes: DataFrame,
                                    degree: Int,
                                    layerDirs: String => Seq[String],
                                    topEntriesOf: String => String)
      : String = {
    def rewriteInto(cur: String, next: String): Unit = {
      val (b2, e2, layers2, te2) = consolidateDeletesMulti(
        spark.read.parquet(adjacencyDir(cur)),
        layerDirs(cur).map(spark.read.parquet(_)), corpus, idCol, vecCol,
        deletes, spark.read.parquet(entriesDir(cur)),
        spark.read.parquet(topEntriesOf(cur)), degree)
      b2.write.mode("overwrite").parquet(adjacencyDir(next))
      e2.write.mode("overwrite").parquet(entriesDir(next))
      layers2.zip(layerDirs(next)).foreach { case (a, d) =>
        a.write.mode("overwrite").parquet(d)
      }
      te2.write.mode("overwrite").parquet(topEntriesOf(next))
    }
    consolidateRoot(spark, root)(rewriteInto)
  }

  /** [[consolidateLayersRoot]] over the two-level layout: `adjacency`,
    * `entries`, `adjacency_upper`, `entries_upper`. */
  def consolidateDeletesLayeredRoot(spark: SparkSession, root: String,
                                    corpus: DataFrame, idCol: String,
                                    vecCol: String, deletes: DataFrame,
                                    degree: Int = 8): String =
    consolidateLayersRoot(spark, root, corpus, idCol, vecCol, deletes,
      degree, d => Seq(upperAdjacencyDir(d)), upperEntriesDir)

  /** [[consolidateLayersRoot]] over the stack layout: `adjacency`,
    * `entries`, `adjacency_upper_l<ℓ>` for ℓ = levels…1, `entries_top`. */
  def consolidateDeletesMultiRoot(spark: SparkSession, root: String,
                                  corpus: DataFrame, idCol: String,
                                  vecCol: String, deletes: DataFrame,
                                  levels: Int,
                                  degree: Int = 8): String = {
    require(levels >= 1)
    consolidateLayersRoot(spark, root, corpus, idCol, vecCol, deletes,
      degree, d => (levels to 1 by -1).map(upperAdjacencyLevelDir(d, _)),
      topEntriesDir)
  }

  /** MIPS-routed beam walk — the inner-product member of the metric ×
    * index matrix (ip-Greedy over a proximity graph: Morozov & Babenko,
    * NeurIPS 2018 showed the similarity-graph walk carries over to MIPS
    * by swapping the comparator): the walk ranks frontier and visited
    * set by DESCENDING exact inner product, expressed through the shared
    * ascending-route machinery as route = −round(ip, 4) (one negation —
    * exact, no extra rounding), and the final rerank is exact IP desc
    * with id tie-breaks, the [[NormPrune.mipsSearch]] projection served
    * by graph routing instead of a norm-cut scan. The L2-built adjacency
    * serves as the similarity graph. Returns (idCol, ip). Budget and
    * determinism contract identical to [[beamSearch]]. */
  def beamSearchMips(adj: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, query: Array[Float], entryId: Long,
                     k: Int, beamWidth: Int = 4, rounds: Int = 3,
                     degree: Int = 8): DataFrame =
    similarityWalk(adj, corpus, idCol, vecCol, query, entryId, k,
      beamWidth, rounds, degree, VectorFunctions.dot, "ip")

  /** Cosine-routed graph walk — the [[beamSearchMips]] comparator with
    * the normalize-then-IP reduction folded into the score (Milvus's
    * COSINE mode on the graph tier; `ivf_cosine_search` is the IVF
    * twin): every routing read ranks by descending exact cosine
    * (4-decimal rounded, id tie-break), so the metric × index matrix
    * closes — L2 / IP / cosine each serve through flat, IVF, AND graph.
    * Returns (idCol, cosine) desc. */
  def beamSearchCosine(adj: DataFrame, corpus: DataFrame, idCol: String,
                       vecCol: String, query: Array[Float], entryId: Long,
                       k: Int, beamWidth: Int = 4, rounds: Int = 3,
                       degree: Int = 8): DataFrame =
    similarityWalk(adj, corpus, idCol, vecCol, query, entryId, k,
      beamWidth, rounds, degree, VectorFunctions.cosineSim, "cosine")

  /** The similarity-routed walk behind [[beamSearchMips]] and
    * [[beamSearchCosine]]: route = −round(sim(vec, query), 4) through
    * the ascending walk, result = the visited set's top-k by
    * (`scoreName` desc, id asc). */
  private def similarityWalk(adj: DataFrame, corpus: DataFrame,
                             idCol: String, vecCol: String,
                             query: Array[Float], entryId: Long, k: Int,
                             beamWidth: Int, rounds: Int, degree: Int,
                             sim: (Column, Column) => Column,
                             scoreName: String): DataFrame = {
    val route = -round(sim(col(vecCol), typedlit(query.toSeq)), 4)
    val vis = walkVisitedBy(adj, pointScores(corpus, idCol, route),
      Seq(entryId), nSeeds = 1, beamWidth, rounds, degree)
    resultDf(corpus.sparkSession, idCol,
        vis.sortBy { case (id, d) => (d, id) })
      .select(col(idCol), (-col("distance")).as(scoreName))
      .orderBy(col(scoreName).desc, col(idCol).asc)
      .limit(k)
  }

  /** Filtered graph serving — the post-filter form of Filtered-DiskANN
    * (Gollapudi et al., WWW 2023; Milvus serves predicate + HNSW the
    * same way): the walk routes LABEL-BLIND — pruning expansion by the
    * predicate can disconnect the graph and strand the beam — and the
    * predicate applies to the VISITED set, with recall under filtering
    * bought by widening the beam (over-retrieval, the filtered analogue
    * of the k·margin rerank discipline). `predicate` evaluates against
    * the corpus rows of visited ids only (a pushed `id IN (...)` point
    * lookup, corpus-size-independent like every other serving read). */
  def filteredBeamSearch(adj: DataFrame, corpus: DataFrame, idCol: String,
                         vecCol: String, query: Array[Float],
                         entryId: Long,
                         predicate: org.apache.spark.sql.Column, k: Int,
                         beamWidth: Int = 6, rounds: Int = 3,
                         degree: Int = 8): DataFrame =
    predicateTopK(corpus, idCol, walkVisited(adj, corpus, idCol, vecCol,
      query, entryId, beamWidth, rounds, degree), predicate, k)

  /** The predicate-filtered serves' shared tail: `predicate` evaluated
    * on the corpus rows of the visited ids only (one pushed `id IN`
    * point lookup), then the top-k of the surviving visited pairs. */
  private def predicateTopK(corpus: DataFrame, idCol: String,
                            vis: Seq[(Long, Double)], predicate: Column,
                            k: Int): DataFrame = {
    val keep = corpus.where(col(idCol).isin(vis.map(_._1): _*))
      .where(predicate)
      .select(col(idCol).cast("long")).collect().map(_.getLong(0)).toSet
    val top = vis.filter { case (id, _) => keep(id) }
      .sortBy { case (id, d) => (d, id) }.take(k)
    resultDf(corpus.sparkSession, idCol, top)
  }

  /** Scalar-index-filtered graph serving — the graph column of the
    * filter × index matrix (flat has [[ScalarIndex.filteredKnn]], IVF
    * has [[IvfIndex.searchWithIdFilter]]; Milvus applies `filter=`
    * under every index type): `allowedIds` is an id-set FRAME,
    * typically [[ScalarIndex.ids]]' directory-pruned artifact scan, so
    * the filter resolves from the compact scalar artifact instead of
    * evaluating a predicate against corpus rows. The walk itself stays
    * label-blind (pruning expansion can disconnect the graph — the
    * [[filteredBeamSearch]] discipline); the id set applies to the
    * bounded VISITED set by one semi-join (visited side ≤ the walk
    * budget, so it broadcasts), and recall under filtering is bought
    * by widening the beam exactly like the predicate form —
    * [[adaptiveBeamWidth]] composes. Returns (idCol, distance). */
  def filteredBeamSearchIds(adj: DataFrame, corpus: DataFrame,
                            idCol: String, vecCol: String,
                            query: Array[Float], entryId: Long,
                            allowedIds: DataFrame, k: Int,
                            beamWidth: Int = 6, rounds: Int = 3,
                            degree: Int = 8): DataFrame = {
    val vis = walkVisited(adj, corpus, idCol, vecCol, query, entryId,
      beamWidth, rounds, degree)
    // visited side is the bounded walk result (≤ budget rows, one
    // partition); a semi-join builds its RIGHT side, so the id set is
    // what Catalyst/AQE may broadcast — at low selectivity it hashes,
    // either way the corpus is never scanned
    resultDf(corpus.sparkSession, idCol,
        vis.sortBy { case (id, d) => (d, id) })
      .join(allowedIds.toDF(idCol), Seq(idCol), "left_semi")
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
  }

  /** Over-retrieval width for a filtered walk: the label-blind beam must
    * visit ~1/selectivity candidates per filtered survivor, so the base
    * width scales by 1/sel, floored at the base and capped at
    * `maxBeamWidth` (the walk budget is rounds·beam·degree point
    * lookups — a cap keeps the serving cost a plan constant). Below
    * sel = base/maxBeamWidth the cap saturates and recall decays again —
    * that is the dispatch floor where [[Router.plan]]
    * (`exactFloorSelectivity`) abandons the indexed tiers and scans the
    * predicate's rows exactly (a VERY selective predicate means the
    * filtered subset is small; with the predicate pushed to the scan,
    * exact top-k over it is the better plan — the
    * IVF-filtered fallback of Filtered-DiskANN deployments, Gollapudi
    * et al. 2023 §5). Pure arithmetic, replayed by the DuckDB oracle
    * from the fixture, so a drifted derivation hash-mismatches. */
  def adaptiveBeamWidth(base: Int, selectivity: Double,
                        maxBeamWidth: Int = 64): Int = {
    require(selectivity > 0 && selectivity <= 1,
      s"selectivity must be in (0,1], got $selectivity")
    math.min(maxBeamWidth,
      math.max(base, math.ceil(base / selectivity).toInt))
  }

  /** Exact predicate selectivity |σ(corpus)| / |corpus| — two counts.
    * At warehouse scale, substitute column statistics or a
    * [[TrainSample]]-style hash-sample estimate; the DERIVED width only
    * needs order-of-magnitude accuracy. */
  def estimateSelectivity(corpus: DataFrame,
                          predicate: org.apache.spark.sql.Column): Double = {
    val row = corpus.agg(
      count(when(predicate, 1)).cast("double").as("m"),
      count(lit(1)).cast("double").as("n")).collect()(0)
    row.getDouble(0) / row.getDouble(1)
  }

  /** [[estimateSelectivity]] by deterministic hash sample — the
    * warehouse form the exact version's scaladoc promised (round-11
    * item: the router/filtered-dispatch path must not pay two
    * full-corpus counts per query at 100 TB). The sample is the
    * [[TrainSample]] discipline verbatim: keep rows whose
    * `xxhash64(hashCol) mod 1e6` falls under `cap/n` ppm — a pure
    * function of the value, so the estimate is REPRODUCIBLE across
    * reruns, engines and repartitioning (not `sample()`'s
    * seed-and-partition lottery), and the scan reads only the hash +
    * predicate columns of the sampled rows. Corpora at or under the
    * cap estimate exactly (small-fixture oracles byte-identical — the
    * TrainSample contract), so only the ≥cap tier pays sampling error:
    * the derived beam width needs order-of-magnitude accuracy only,
    * and GraphAnnSpec bounds the error on an over-cap fixture. An
    * empty sample (possible under an adversarial cap) degrades to the
    * exact form rather than dividing by zero. The estimate is NOT
    * SQL-replayable (xxhash64 has no DuckDB twin), so entries stage it
    * as a 1-row handoff and the oracle takes it as an input — the
    * query-vector discipline. */
  def estimateSelectivitySampled(corpus: DataFrame,
                                 predicate: org.apache.spark.sql.Column,
                                 hashCol: org.apache.spark.sql.Column,
                                 n: Long,
                                 cap: Long = TrainSample.DefaultCap)
      : Double = {
    require(cap > 0)
    if (n <= cap) return estimateSelectivity(corpus, predicate)
    val keepPpm = math.max(1L, math.ceil(cap.toDouble * 1e6 / n).toLong)
    val row = corpus
      .where(pmod(xxhash64(hashCol), lit(1000000L)) < keepPpm)
      .agg(count(when(predicate, 1)).cast("double").as("m"),
        count(lit(1)).cast("double").as("n")).collect()(0)
    if (row.getDouble(1) == 0) estimateSelectivity(corpus, predicate)
    else row.getDouble(0) / row.getDouble(1)
  }

  /** [[filteredBeamSearch]] with the beam sized by the predicate's
    * selectivity ([[adaptiveBeamWidth]]) — the production filtered-ANN
    * discipline: over-retrieve by ~1/sel instead of hoping a fixed
    * width survives the filter. */
  def filteredBeamSearchAdaptive(adj: DataFrame, corpus: DataFrame,
                                 idCol: String, vecCol: String,
                                 query: Array[Float], entryId: Long,
                                 predicate: org.apache.spark.sql.Column,
                                 k: Int, selectivity: Double,
                                 baseBeamWidth: Int = 4, rounds: Int = 4,
                                 degree: Int = 8,
                                 maxBeamWidth: Int = 64): DataFrame =
    filteredBeamSearch(adj, corpus, idCol, vecCol, query, entryId,
      predicate, k,
      beamWidth = adaptiveBeamWidth(baseBeamWidth, selectivity, maxBeamWidth),
      rounds = rounds, degree = degree)

  /** The filtered walk composed with multi-entry seeding: beam sized by
    * selectivity AND seeded from the query's `nSeeds` nearest
    * [[entryPoints]] — the configuration that helps the filtered case
    * twice over (the over-retrieval covers the post-filter loss; the
    * region-local start spends the budget near where the predicate's
    * survivors live). Same label-blind + post-filter semantics. */
  def filteredBeamSearchMulti(adj: DataFrame, corpus: DataFrame,
                              idCol: String, vecCol: String,
                              query: Array[Float], entries: DataFrame,
                              predicate: org.apache.spark.sql.Column,
                              k: Int, selectivity: Double,
                              baseBeamWidth: Int = 4, rounds: Int = 4,
                              degree: Int = 8, maxBeamWidth: Int = 64,
                              nSeeds: Int = 2): DataFrame = {
    val entryIds = entryIdsOf(entries)
    val beamWidth = adaptiveBeamWidth(baseBeamWidth, selectivity,
      maxBeamWidth)
    predicateTopK(corpus, idCol, walkVisitedSeeded(adj, corpus, idCol,
      vecCol, query, entryIds, nSeeds, beamWidth, rounds, degree),
      predicate, k)
  }

  /** Range search over the graph (Milvus `range_search` parity for this
    * index family): the same label-blind walk, result = every VISITED
    * node within `radius` (rounded L2²), ordered by (distance, id).
    * Like every graph serving mode this is an approximate frontier —
    * matches outside the walked neighborhood are not reported; radius
    * coverage grows with beamWidth/rounds exactly like top-k recall. */
  def rangeBeamSearch(adj: DataFrame, corpus: DataFrame, idCol: String,
                      vecCol: String, query: Array[Float], entryId: Long,
                      radius: Double, beamWidth: Int = 6, rounds: Int = 3,
                      degree: Int = 8): DataFrame = {
    val top = walkVisited(adj, corpus, idCol, vecCol, query, entryId,
        beamWidth, rounds, degree)
      .filter { case (_, d) => d <= radius }
      .sortBy { case (id, d) => (d, id) }
    resultDf(corpus.sparkSession, idCol, top)
  }

  /** Result of an incremental [[append]]: the post-append adjacency and
    * the forward connection `links` (new_id → candidate, dist) the beam
    * walks discovered — exposed so the edge arithmetic (symmetrize +
    * re-cap) is oracle-replayable from the staged links, and so specs can
    * pin the discovery itself. */
  final case class AppendResult(adjacency: DataFrame, links: DataFrame)

  /** DiskANN-style incremental insert (Subramanya et al., NeurIPS 2019 —
    * the FreshDiskANN discipline): each new point is connected by a beam
    * search over the EXISTING graph — frozen structure, no re-shard, no
    * rebuild, mirroring [[IvfIndex.append]]'s frozen-centroid contract —
    * then its forward edges are symmetrized and ONLY the affected
    * neighborhoods (the new ids plus the nodes that gained a reverse
    * edge) are re-capped; every other src's rows pass through untouched.
    *
    * Batch semantics: each batch point connects against the BASE graph
    * independently (intra-batch edges are not planted — deterministic
    * and order-free). Sequential appends compose: pass the previous
    * result's adjacency and the grown corpus. The batch is a bounded
    * driver loop of beam walks (`require` ≤ `maxBatch`) — the streaming-
    * ingest shape; a bulk re-index is a rebuild, and bulk QUERYING is
    * [[bulkBeamSearch]].
    *
    * Scale shape (100 TB): cost per appended point is one beam walk
    * (rounds × beamWidth × degree point lookups — corpus-size-
    * independent) plus a re-cap window over ≤ (1 + degree) · batch
    * affected srcs' edge rows — never a corpus scan, never a shuffle of
    * the full adjacency. */
  def append(adj: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, batch: DataFrame, entryId: Long,
             degree: Int = 8, beamWidth: Int = 4, rounds: Int = 3,
             maxBatch: Int = 256): AppendResult = {
    val rows = batch.select(col(idCol).cast("long"), col(vecCol))
      .limit(maxBatch + 1).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    require(rows.length <= maxBatch,
      s"graph-ann append: batch exceeds $maxBatch points — use a rebuild " +
        "for bulk re-indexing")
    appendRows(adj, corpus, idCol, vecCol, rows, entryId, degree,
      beamWidth, rounds)
  }

  /** [[append]] over PRE-COLLECTED (id, vector) batch rows — the shared
    * body, so [[appendLayeredMulti]] decides the base rows AND every
    * layer's membership with ONE bounded collect. */
  private def appendRows(adj: DataFrame, corpus: DataFrame,
                         idCol: String, vecCol: String,
                         rows: Seq[(Long, Seq[Float])], entryId: Long,
                         degree: Int, beamWidth: Int,
                         rounds: Int): AppendResult = {
    val spark = corpus.sparkSession
    // One BULK walk for the whole batch (bulkBeamSearch ≡ the per-query
    // walk, GraphAnnSpec's pin): rounds × 2 jobs total instead of
    // rounds × 2 jobs PER POINT — the job-count term that dominated
    // streaming ingest wall-clock at small batch sizes.
    import spark.implicits._
    val qdf = rows.toDF("__qid", "__qv")
    val links: Seq[(Long, Long, Double)] =
      bulkBeamSearch(adj, corpus, idCol, vecCol, qdf, "__qid", "__qv",
          entryId, k = degree, beamWidth = beamWidth, rounds = rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    val linksDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        links.map { case (s, d, x) => Row(s, d, x) }, 1),
      StructType(Seq(
        StructField("src", LongType, nullable = false),
        StructField("dst", LongType, nullable = false),
        StructField("dist", DoubleType, nullable = false))))
    // Affected srcs: the new ids and every node that gains a reverse
    // edge — bounded by (1 + degree) · batch, so an isin literal is fine.
    val affected = links.flatMap { case (s, d, _) => Seq(s, d) }.distinct
    val fwdRev = linksDf.unionByName(
      linksDf.select(col("dst").as("src"), col("src").as("dst"),
        col("dist")))
    val recapped = cap(
      adj.where(col("src").isin(affected: _*))
        .unionByName(fwdRev)
        .groupBy("src", "dst").agg(min("dist").as("dist")), degree)
    AppendResult(
      adj.where(!col("src").isin(affected: _*)).unionByName(recapped),
      linksDf)
  }

  /** Bulk graph serving: N query vectors walked TOGETHER — each round's
    * frontier is a per-qid window, the neighbor expansion is one
    * equi-join of the frontier against the adjacency artifact on `src`,
    * and the distance pass is one equi-join against the corpus on the id
    * — the [[AnnJoin.bulkTopK]] shape applied to the beam walk, replacing
    * [[beamSearch]]'s 2-Spark-jobs-per-round driver loop per query
    * ("tag 1M incoming vectors against the graph" is this, not N calls).
    *
    * Semantics per query are IDENTICAL to [[beamSearch]] (same frontier
    * picks by (rounded distance, id), same visited-set growth, same
    * budgeted expansion), so the oracle replays the same chained rounds
    * with the ranking windows partitioned by qid. State per round is
    * ≤ |queries| · (1 + rounds·beamWidth·degree) rows — linear in the
    * query batch, corpus-size-independent by construction. `rounds` is a
    * plan constant, so the loop unrolls into one declarative plan; at
    * production round counts, checkpoint the visited set between rounds
    * to keep lineage flat. */
  def bulkBeamSearch(adj: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, queries: DataFrame, qidCol: String,
                     qvecCol: String, entryId: Long, k: Int,
                     beamWidth: Int = 4, rounds: Int = 3): DataFrame =
    topKPerQid(bulkVisited(adj, corpus, idCol, vecCol, queries, qidCol,
      qvecCol, Left(entryId), beamWidth, rounds), idCol, k)

  /** [[bulkBeamSearch]] with PER-QUERY seed pairs: `seeds` is a
    * (qid, id) frame, each query's walk starts from ITS OWN seed set
    * instead of the shared entry. This is the base-layer half of
    * [[layeredSearchBulk]] (each query's upper-walk result seeds its
    * base walk), and more generally the bulk form of any
    * externally-routed start (a per-shard entry table, a cached
    * previous answer). Same round machinery, state and bounds as
    * [[bulkBeamSearch]]; the seed distances are one equi-join, no
    * per-query driver work at all. */
  def bulkBeamSearchSeeded(adj: DataFrame, corpus: DataFrame,
                           idCol: String, vecCol: String,
                           queries: DataFrame, qidCol: String,
                           qvecCol: String, seeds: DataFrame, k: Int,
                           beamWidth: Int = 4,
                           rounds: Int = 3): DataFrame =
    topKPerQid(bulkVisited(adj, corpus, idCol, vecCol, queries, qidCol,
      qvecCol, Right(seeds), beamWidth, rounds), idCol, k)

  /** Per-qid top-k cut of a bulk walk's (qid, id, d) visited frame —
    * the shared tail of every bulk serve (masked variants anti-join the
    * tombstone set between the walk and this cut). */
  private def topKPerQid(visited: DataFrame, idCol: String,
                         k: Int): DataFrame = {
    val byQid = Window.partitionBy(col("qid"))
      .orderBy(col("d").asc, col("id").asc)
    visited.withColumn("__rn", row_number().over(byQid))
      .where(col("__rn") <= k)
      .select(col("qid"), col("id").as(idCol), col("d").as("distance"))
  }

  /** The bulk walk's VISITED set (qid, id, d) after `rounds` rounds —
    * exposed to the serves so the masked ones can apply the tombstone
    * anti-join before the top-k cut. `start` is either the shared entry
    * id every query starts from ([[bulkBeamSearch]]) or a (qid, id)
    * frame of per-query seeds ([[bulkBeamSearchSeeded]]). */
  private def bulkVisited(adj: DataFrame, corpus: DataFrame,
                          idCol: String, vecCol: String,
                          queries: DataFrame, qidCol: String,
                          qvecCol: String, start: Either[Long, DataFrame],
                          beamWidth: Int, rounds: Int): DataFrame = {
    val q = queries.select(col(qidCol).cast("long").as("qid"),
      col(qvecCol).as("__qv"))
    val ids = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("__cv"))
    def distTo(cand: DataFrame): DataFrame =
      cand.join(q, Seq("qid")).join(ids, Seq("id"))
        .select(col("qid"), col("id"),
          round(VectorFunctions.l2Sq(col("__qv"), col("__cv")), 4).as("d"))
    var (visited, expanded, step) = start match {
      case Right(seeds) =>
        // localCheckpoint the (bounded: nSeeds·|queries| rows) seed
        // state: the seed distances arrive through a double equi-join
        // whose constraint set trips Spark's Union constraint-rewrite
        // (UnionBase.rewriteConstraints AttributeMap miss) when the
        // round loop unions onto it — truncating lineage here sidesteps
        // it and also keeps the per-round plan flat, like the loop's
        // own checkpoint cadence
        val v0 = distTo(seeds
          .select(col("qid").cast("long").as("qid"),
            col("id").cast("long").as("id")).distinct())
          .localCheckpoint()
        (v0, v0.select("qid", "id").limit(0), 0)
      case Left(entryId) =>
        // Round 0: every query starts at the shared entry point. The
        // entry VECTOR is a bounded 1-row collect (the query-vector
        // contract), so the seed is a pure projection over the query
        // batch — no join, no nested-loop term anywhere in the walk.
        val entryRows = corpus.where(col(idCol) === entryId)
          .select(col(vecCol)).limit(2).collect()
        require(entryRows.length == 1,
          s"graph-ann bulk: entry id $entryId must match exactly one " +
            s"corpus row, found ${entryRows.length}")
        val v0 = q.select(col("qid"),
          lit(entryId).cast("long").as("id"),
          round(VectorFunctions.l2Sq(col("__qv"),
            typedlit(entryRows(0).getSeq[Float](0))), 4).as("d"))
        if (rounds < 1) (v0, v0.select("qid", "id").limit(0), 0)
        else {
          // Round 1 unrolled: with one visited node, every query's
          // frontier IS the entry — and its adjacency row is a
          // degree-bounded 1-src pushed lookup, so collecting it keeps
          // the round a pure projection (explode of ≤ degree literal ids
          // per query). Left as a join, Catalyst constant-folds the
          // entry id out of the join key and the round degenerates to a
          // nested loop.
          val entryDsts = adj.where(col("src") === entryId)
            .select(col("dst").cast("long")).collect().map(_.getLong(0))
            .toSeq.distinct.sorted
          val fresh = q.select(col("qid"),
              explode(typedlit(entryDsts)).as("id"))
            .where(col("id") =!= entryId)
          (if (entryDsts.isEmpty) v0 else v0.unionByName(distTo(fresh)),
            q.select(col("qid"), lit(entryId).cast("long").as("id")), 1)
        }
    }
    val byQid = Window.partitionBy(col("qid"))
      .orderBy(col("d").asc, col("id").asc)
    while (step < rounds) {
      val frontier = visited
        .join(expanded, Seq("qid", "id"), "left_anti")
        .withColumn("__rn", row_number().over(byQid))
        .where(col("__rn") <= beamWidth)
        .select("qid", "id")
      expanded = expanded.unionByName(frontier)
      val fresh = frontier
        .join(adj.select(col("src").as("id"), col("dst")), Seq("id"))
        .select(col("qid"), col("dst").as("id")).distinct()
        .join(visited.select("qid", "id"), Seq("qid", "id"), "left_anti")
      visited = visited.unionByName(distTo(fresh))
      step += 1
      // The walk references `visited` three times per round (frontier,
      // dedup anti-join, union), so an un-truncated lineage re-executes
      // shared subtrees ~3^rounds times. Materialize the (bounded:
      // |queries| · budget rows) state every other INTERMEDIATE round —
      // never the last, so the final plan still exposes the join
      // structure. Production note: swap localCheckpoint for a reliable
      // checkpoint dir when executor loss must be survivable.
      if (step < rounds && step % 2 == 0) {
        visited = visited.localCheckpoint()
        expanded = expanded.localCheckpoint()
      }
    }
    visited
  }

  /** BULK layered serve — [[layeredSearchMulti]] over one upper layer
    * for a query batch, as ONE plan per stage: the batch walks the upper
    * layer together ([[bulkBeamSearch]] from the shared upper entry),
    * each query's top-`nSeeds` upper results seed ITS base walk
    * ([[bulkBeamSearchSeeded]]). Per-round state stays linear in the
    * batch and corpus-size-independent; nothing per-query happens on
    * the driver. */
  def layeredSearchBulk(adjUpper: DataFrame, upperEntryId: Long,
                        adjBase: DataFrame, corpus: DataFrame,
                        idCol: String, vecCol: String,
                        queries: DataFrame, qidCol: String,
                        qvecCol: String, k: Int, beamWidth: Int = 4,
                        upperRounds: Int = 3, rounds: Int = 3,
                        nSeeds: Int = 2): DataFrame = {
    val upperTop = bulkBeamSearch(adjUpper, corpus, idCol, vecCol,
      queries, qidCol, qvecCol, upperEntryId, k = nSeeds, beamWidth,
      upperRounds)
    val seeds = upperTop.select(col("qid"), col(idCol).as("id"))
    bulkBeamSearchSeeded(adjBase, corpus, idCol, vecCol, queries,
      qidCol, qvecCol, seeds, k, beamWidth, rounds)
  }

  /** [[layeredSearchBulk]] under the tombstone mask — the bulk twin of
    * [[layeredSearchMultiMasked]], same contract: both walks route
    * label-blind, both post-filter through the broadcast tombstone
    * anti-join; the upper's masked per-qid top-`nSeeds` seed each base
    * walk, the base's masked visited set takes the top-k cut. */
  def layeredSearchBulkMasked(adjUpper: DataFrame, upperEntryId: Long,
                              adjBase: DataFrame, corpus: DataFrame,
                              idCol: String, vecCol: String,
                              queries: DataFrame, qidCol: String,
                              qvecCol: String, k: Int, deletes: DataFrame,
                              beamWidth: Int = 4, upperRounds: Int = 3,
                              rounds: Int = 3,
                              nSeeds: Int = 2): DataFrame = {
    val del = broadcast(deletes
      .select(col(deletes.columns.head).cast("long").as("id"))
      .distinct())
    def liveTopK(start: Either[Long, DataFrame], adj: DataFrame,
                 walkRounds: Int, n: Int): DataFrame =
      topKPerQid(bulkVisited(adj, corpus, idCol, vecCol, queries, qidCol,
          qvecCol, start, beamWidth, walkRounds)
        .join(del, Seq("id"), "left_anti"), idCol, n)
    val seeds = liveTopK(Left(upperEntryId), adjUpper, upperRounds, nSeeds)
      .select(col("qid"), col(idCol).as("id"))
    liveTopK(Right(seeds), adjBase, rounds, k)
  }
}
