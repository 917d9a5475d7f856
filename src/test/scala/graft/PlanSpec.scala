package graft

import org.apache.spark.sql.functions.col

/** Physical-plan shape assertions — locks in the scale decisions the
  * queries were tuned for (fact joins stay sort-merge, dims broadcast,
  * filters reach the scan, top-k never becomes a global sort), so a
  * refactor that silently regresses a plan fails CI, not the benchmark.
  */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    Queries.all(name)(spark, dir).queryExecution.executedPlan.toString()

  test("q5: fact join sort-merge, dims broadcast, region filter pushed") {
    val p = plan("q5_nation_revenue")
    assert(p.contains("SortMergeJoin"), "orders⋈lineitem must be sort-merge")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(p.contains("EqualTo(r_name,ASIA)"), "region filter must reach the scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("q9: all three lineitem joins stay sort-merge (no fact broadcast)") {
    val p = plan("q9_profit_by_nation")
    assert("SortMergeJoin".r.findAllIn(p).size >= 3,
      "part/supplier/orders joins against lineitem must be sort-merge")
  }

  test("exact kNN is TakeOrderedAndProject, not a global sort") {
    assert(plan("knn_exact_topk").contains("TakeOrderedAndProject"))
  }

  test("IVF probe reaches the scan as a partition filter") {
    val p = plan("ivf_search")
    assert(p.contains("PartitionFilters") && p.contains("cluster_id"),
      s"probe did not prune partitions:\n$p")
  }

  test("shuffle_hash hint produces a ShuffledHashJoin") {
    assert(plan("shuffle_hash_join_agg").contains("ShuffledHashJoin"))
  }

  test("runtime bloom filter prunes the fact side before the join shuffle") {
    val p = plan("bloom_filter_join")
    assert(p.contains("might_contain"),
      s"InjectRuntimeFilter did not fire:\n$p")
    assert(p.contains("SortMergeJoin"),
      "demo pins the non-broadcastable creation-side shape")
  }

  test("bloom scrub: might_contain probes the train scan, no cartesian") {
    val p = plan("contamination_bloom_scrub")
    assert(p.contains("might_contain"),
      s"bloom probe not in the train-side filter:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("search iterator: every page is TakeOrderedAndProject, no global sort") {
    val p = plan("search_iterate")
    assert(p.contains("TakeOrderedAndProject"),
      s"page top-k degraded to a global sort:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("time decay search: fused ranking stays a bounded top-k") {
    val p = plan("time_decay_search")
    assert(p.contains("TakeOrderedAndProject"),
      s"decay rerank degraded to a global sort:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("geo radius search: BOTH bbox axes reach the z-ordered scan") {
    // scan metadata directly (the zorder_scan_prune discipline): the
    // plan string truncates a 4-entry PushedFilters list
    val pushed = Queries.all("geo_radius_search")(spark, dir)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metadata.getOrElse("PushedFilters", "")
      }.mkString
    assert(pushed.contains("GreaterThanOrEqual(lat") &&
      pushed.contains("LessThanOrEqual(lat") &&
      pushed.contains("GreaterThanOrEqual(lon") &&
      pushed.contains("LessThanOrEqual(lon"),
      s"bbox not fully pushed to the z-ordered layout: $pushed")
    assert(!plan("geo_radius_search").contains("CartesianProduct"))
  }

  test("routed text search: the lexical dispatch serves from the " +
      "postings artifact, term filter pushed") {
    val df = Queries.all("routed_text_search")(spark, dir)
    val metas = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        (f.metadata.getOrElse("Location", ""),
          f.metadata.getOrElse("PushedFilters", ""))
    }
    // the served plan reads the bm25 postings artifact (not the raw
    // documents table) with the term literals pushed into the scan
    assert(metas.exists { case (loc, pushed) =>
      loc.contains("graft_routerlex") && pushed.contains("In(term")
    }, s"lexical dispatch did not serve from the postings artifact: $metas")
    assert(!metas.exists(_._1.contains("documents.parquet")),
      s"routed text serve fell back to a corpus scan: $metas")
    // the term artifact also stores positions; column pruning keeps
    // the BM25 scan off them
    val termSchemas = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.getOrElse("Location", "").contains("/terms") =>
        f.metadata.getOrElse("ReadSchema", "")
    }
    assert(termSchemas.nonEmpty && termSchemas.forall(!_.contains("pos")),
      s"BM25 reads the artifact's positions: $termSchemas")
  }

  test("lexical plans build without a Spark job: pinned reader schemas, " +
      "no schema inference") {
    import org.apache.spark.JobCounter
    Queries.all("term_prefix_search")(spark, dir).collect() // builds idx
    val idx = s"/tmp/graft_prefix_terms_${math.abs(dir.hashCode)}"
    assert(!graft.search.Tombstones.exist(spark, idx))
    val (_, jobs) = JobCounter.count(spark.sparkContext) {
      Seq(graft.search.Phrase.topK(spark, idx, Seq("scan", "merge"), 10),
        graft.search.TermIndex.prefixSearch(spark, idx, "sc", 10))
        .map(_.queryExecution.executedPlan)
    }
    assert(jobs == 0, s"building the plans ran $jobs Spark jobs")
  }

  test("IVF search builds without a Spark job, fresh and after an upsert " +
      "and a delete: pinned data and tombstone schemas, no inference") {
    import org.apache.spark.JobCounter
    import spark.implicits._
    val idx = "/tmp/graft_test_plan_ivf_jobs"
    val p = new org.apache.hadoop.fs.Path(idx)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val r = new scala.util.Random(5)
    val corpus = (0L until 64L).map(i =>
      (i, Array.fill(8)(r.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val q = Array.fill(8)(r.nextGaussian().toFloat)
    val m = graft.search.IvfIndex.build(corpus, "embedding", idx, nlist = 4)
    def searchJobs(): Int = JobCounter.count(spark.sparkContext) {
      graft.search.IvfIndex.search(spark, m, "embedding", "vec_id", q,
        k = 5, nprobe = 2)
    }._2
    val fresh = searchJobs()
    assert(fresh == 0, s"a fresh index's search ran $fresh jobs")
    graft.search.IvfIndex.upsertBatch(corpus.where(col("vec_id") < 4),
      "embedding", m, "vec_id", ver = 1)
    graft.search.IvfIndex.delete(Seq(5L).toDF("vec_id"), m, "vec_id")
    val written = searchJobs()
    assert(written == 0,
      s"the search after upsertBatch + delete ran $written jobs")
  }

  test("BM25 over a tombstoned term dir reads the deletes set without " +
      "inferring its schema") {
    import org.apache.spark.JobCounter
    import spark.implicits._
    val idx = "/tmp/graft_test_plan_bm25_jobs"
    val p = new org.apache.hadoop.fs.Path(idx)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    graft.search.TermIndex.build(Seq((0L, "scan the filter"),
      (1L, "merge filter join"), (2L, "scan scan")).toDF("id", "text"),
      "id", "text", idx)
    graft.search.Tombstones.record(Seq(2L).toDF("id"), idx, "id")
    val (_, jobs) = JobCounter.count(spark.sparkContext) {
      graft.search.Bm25Index.search(spark, idx, Seq("scan", "filter"), 5)
    }
    assert(jobs == 0, s"building the masked BM25 search ran $jobs jobs")
  }

  test("clustering compaction: window predicate reaches the clustered scan") {
    val p = plan("clustering_compaction")
    assert(p.contains("GreaterThanOrEqual(ts") && p.contains("LessThan(ts"),
      s"ts window not pushed to the clustered collection scan:\n$p")
  }

  test("sorted layout: ts range predicate reaches the parquet scan") {
    val p = plan("sorted_scan_prune")
    assert(p.contains("GreaterThanOrEqual(ts") && p.contains("LessThan(ts"),
      s"ts filters not pushed:\n$p")
  }

  test("z-order layout: BOTH dimension predicates reach the parquet scan") {
    // read the scan's metadata directly — the plan's toString truncates
    // a 6-entry PushedFilters list, so a substring check is unreliable
    val pushed = Queries.all("zorder_scan_prune")(spark, dir)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metadata.getOrElse("PushedFilters", "")
      }.mkString
    assert(pushed.contains("GreaterThanOrEqual(user_id,10)") &&
      pushed.contains("LessThanOrEqual(user_id,40)"),
      s"user_id range not pushed: $pushed")
    assert(pushed.contains("GreaterThanOrEqual(ts") &&
      pushed.contains("LessThan(ts"),
      s"ts range not pushed: $pushed")
  }

  test("keyset export page: the > lastKey cursor is pushed to the scan " +
      "and the page is a TakeOrderedAndProject") {
    val coll = graft.core.Collection(spark,
      s"$dir/documents.parquet")
    val pg = coll.page("doc_id", Some(42L), pageSize = 10)
    val pushed = pg.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "")
    }.mkString
    assert(pushed.contains("GreaterThan(doc_id,42)"),
      s"keyset cursor not pushed: $pushed")
    assert(pg.queryExecution.executedPlan.toString()
      .contains("TakeOrderedAndProject"),
      "a page must be top-N, not a global sort")
  }

  test("lexical keyset iterator: the > cursor is pushed onto the " +
      "dim-pruned postings scan") {
    import graft.search.FullText
    val idx = "/tmp/graft_ftiter_planspec"
    val p = new org.apache.hadoop.fs.Path(idx)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    FullText.build(
      spark.read.parquet(s"$dir/documents.parquet"),
      "doc_id", "text", idx)
    val pg = FullText.searchIterate(spark, idx, Seq("scan", "filter"),
      Some(42L), pageSize = 7)
    // the aggregate's exchange AQE-wraps this plan, so assert on the
    // printed scan node (the fulltext_sparse_masked test's approach)
    val planStr = pg.queryExecution.executedPlan.toString()
    assert(planStr.contains("GreaterThan(id,42)"),
      s"iterator cursor not pushed:\n$planStr")
    assert(planStr.contains("TakeOrderedAndProject"),
      "a page must be top-N, not a global sort")
  }

  test("lateral top-N decorrelates to WindowGroupLimit, no nested loop") {
    val p = plan("lateral_top_orders")
    assert(p.contains("WindowGroupLimit"),
      s"correlated LIMIT did not become a group limit:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("sq8 rerank: top-k stages, broadcast only the candidate set") {
    val p = plan("sq8_rerank_search")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      "both stages must be top-k, never a global sort")
    assert(p.contains("BroadcastHashJoin"),
      "the k*margin candidate set is the broadcast side of the rerank")
  }

  test("no dedup plan degenerates to a cartesian product") {
    Seq("dedup_exact", "dedup_jaccard_pairs", "dedup_minhash_lsh",
      "dedup_simhash", "dedup_cosine_pairs", "ann_bulk_topk",
      "ann_bulk_topk_guaranteed", "contamination_report",
      "semantic_dedup", "image_phash_neardup")
      .foreach { q =>
        assert(!plan(q).contains("CartesianProduct"), q)
      }
  }

  test("mrl truncated search: both stages top-k, never a global sort") {
    val p = plan("mrl_truncated_search")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      s"truncated rank and full rerank must both be top-k:\n$p")
  }

  test("guaranteed-k ANN: IVF fallback is an equi-join, never a nested loop") {
    // Round 4's exact tier was corpus × broadcast(deficient) — a
    // BroadcastNestedLoopJoin that is quadratic precisely on LSH-hostile
    // corpora (where EVERY id is deficient). The IVF-probe routing must
    // keep the fallback an equi-join on cluster_id: no nested loop, no
    // cartesian, anywhere in the plan.
    val p = plan("ann_bulk_topk_guaranteed")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"IVF fallback degenerated to a nested loop:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("cluster_id"),
      "fallback must route through the IVF cluster_id equi-join")
  }

  test("phash near-dup: block equi-join survives with broadcast disabled") {
    // Same contract as the bulk ANN pin: candidate generation must stay a
    // shuffled equi-join on (block, key) — never a nested loop — when the
    // signature side outgrows the broadcast threshold.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = core.Tables.documents(s2, dir)
      .select(col("doc_id"), col("text").cast("binary").as("media"))
    val p = graft.multimodal.Multimodal
      .phashNearPairs(df, "doc_id", "media", maxHamming = 3)
      .queryExecution.executedPlan.toString()
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"block-key candidate join must be a shuffled equi-join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "near-dup detection must never fall back to all-pairs")
  }

  test("bulk ANN join: true band equi-join — sort-merge once broadcast is off") {
    // At fixture scale Catalyst rightly broadcasts the small band side;
    // the 100 TB claim is that the join degrades to a SHUFFLED equi-join
    // (never a nested loop) when the side outgrows the threshold — pin it
    // by disabling broadcast in a scratch session. workDir=None pins the
    // IN-PLAN band join (the registry entries scan the build-once pairs
    // artifact instead, whose builder runs this same plan).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = graft.search.AnnJoin.bulkTopK(
        core.Tables.embeddings(s2, dir), "vec_id", "embedding",
        k = 5, dim = 64)
      .queryExecution.executedPlan.toString()
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"candidate generation must be a shuffled equi-join on band keys:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "per-doc top-k must never fall back to all-pairs")
  }

  test("filtered kNN: label predicate reaches the parquet scan") {
    // Pre-filter search is only cheap if the metadata predicate prunes
    // IO BEFORE the distance math — pin the pushdown, and that the
    // top-k stays TakeOrderedAndProject over the survivors.
    val pushed = Queries.all("filtered_knn_search")(spark, dir)
      .queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metadata.getOrElse("PushedFilters", "")
      }.mkString
    assert(pushed.contains("In(label"),
      s"label filter not pushed to scan: $pushed")
    assert(plan("filtered_knn_search").contains("TakeOrderedAndProject"))
  }

  test("norm-pruned search: the tau band reaches the scan as a range filter") {
    val p = plan("norm_pruned_search")
    assert(p.contains("GreaterThanOrEqual(norm") &&
      p.contains("LessThanOrEqual(norm"),
      s"norm band not pushed to the parquet scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "final top-k must be per-partition heaps")
    assert(!p.contains("CartesianProduct"))
  }

  test("asymmetric binary search: stage-1 scans only the packed columns") {
    val p = plan("asymmetric_binary_search")
    assert(p.contains("TakeOrderedAndProject"))
    // the stage-1 scan must read the 20-byte artifact, not float vectors
    assert(p.contains("struct<vec_id:bigint,w0:bigint,w1:bigint,cx:float>"),
      s"stage-1 must scan the packed signature schema:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("binary hamming search: packed top-k, no global sort") {
    val p = plan("binary_hamming_search")
    assert(p.contains("TakeOrderedAndProject"),
      s"hamming top-k must be per-partition heaps:\n$p")
    assert(p.contains("bit_count"), "ranking must use the packed XOR form")
  }

  test("grouped per-label search: one window shuffle, no cartesian") {
    val p = plan("grouped_knn_per_label")
    assert(p.contains("Window"), "per-group top-k must be a window")
    assert(!p.contains("CartesianProduct"))
  }

  test("ivf filtered search: partition pruning AND label pushdown compose") {
    // The multiplicative-IO claim: cluster_id prunes partitions while
    // the metadata predicate pushes into the surviving files' scan.
    val scans = Queries.all("ivf_filtered_search")(spark, dir)
      .queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          (s.metadata.getOrElse("PartitionFilters", ""),
            s.metadata.getOrElse("PushedFilters", ""))
      }
    assert(scans.exists { case (part, pushed) =>
      part.contains("cluster_id") && pushed.contains("In(label")
    }, s"probe+filter did not both reach the scan: $scans")
  }

  test("sparse search: posting join is never a cartesian, agg then top-k") {
    val p = plan("sparse_vector_search")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject"),
      s"sparse top-k must stay bounded:\n$p")
  }

  test("fulltext sparse serve: query dims prune posting partitions") {
    val p = plan("fulltext_sparse_masked")
    assert(p.contains("PartitionFilters") && p.contains("dim"),
      s"query dims did not prune the dim-partitioned postings:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"fulltext top-k must stay bounded:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("stored sparse serve reads only the query dims' bucket directories, " +
      "with the dim IN list pushed for row-group pruning") {
    import graft.search.SparseVec
    import spark.implicits._
    val root = "/tmp/graft_sparse_bucket_plan_test"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // 40 dims: every one of the 16 buckets holds postings
    SparseVec.build((0L until 40L).map(i => (i, Array.tabulate(40)(d =>
        if ((i + d) % 4 == 0) 1.0f + d else 0f))).toDF("id", "vec"),
      "id", "vec", 10, root)
    // dims 3 and 20 live in buckets 3 and 4
    val q = Seq((3, 1.0), (20, 0.5)).toDF("dim", "w")
    val scans = SparseVec.searchIndex(spark, root, q, "id", 5)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(scans.size == 1, s"expected one postings scan: $scans")
    val read = scans.head.relation.location.rootPaths.map(_.getName).toSet
    assert(read == Set("dim_bucket=3", "dim_bucket=4"),
      s"serve read other bucket directories: $read")
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    val inDims = """In\(dim, \[([0-9,]+)\]\)""".r.findFirstMatchIn(pushed)
      .map(_.group(1).split(",").toSet)
    assert(inDims.contains(Set("3", "20")),
      s"dim IN list not pushed to the postings scan: $pushed")
  }

  test("group-by-field search: argmin window then bounded top-k") {
    val p = plan("group_by_field_search")
    assert(p.contains("Window"), "per-group argmin must be a window")
    assert(p.contains("TakeOrderedAndProject"),
      "group representatives must take a bounded top-k")
    assert(!p.contains("CartesianProduct"))
  }

  test("graph-ann build: shard self-join is an equi-join, never cartesian") {
    // the Σ shardSize² candidate work must key on the shard column — an
    // optimizer regression to a cartesian/BNLJ would be the all-pairs
    // scale-killer the overlap-sharded build exists to avoid
    val e = graft.core.Tables.embeddings(spark, dir)
    val p = graft.search.GraphAnn.buildAdjacency(e, "vec_id", "embedding")
      .queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"graph build must join on shard keys only:\n$p")
  }

  test("prefix term match: StringStartsWith reaches the sorted scan") {
    // the sorted-term layout only earns its keep if the prefix arrives
    // at parquet as a pushed range predicate (row-group stats pruning)
    val pushed = Queries.all("term_prefix_search")(spark, dir)
      .queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metadata.getOrElse("PushedFilters", "")
      }.mkString
    assert(pushed.contains("StringStartsWith(term,sc)"),
      s"prefix not pushed to the sorted postings scan: $pushed")
  }

  test("suffix term match: reversed StringStartsWith reaches the " +
      "reversed-term sorted scan") {
    Queries.all("term_suffix_search")(spark, dir).collect() // builds idx
    val pushed = Queries.all("term_suffix_search")(spark, dir)
      .queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metadata.getOrElse("PushedFilters", "")
      }.mkString
    assert(pushed.contains("StringStartsWith(rterm,re)"),
      s"suffix not pushed to the reversed postings scan: $pushed")
  }

  test("infix term match: gram IN (...) reaches the trigram scan, " +
      "no cartesian") {
    Queries.all("term_infix_search")(spark, dir).collect() // builds idx
    val df = Queries.all("term_infix_search")(spark, dir)
    val pushed = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }.mkString
    assert(pushed.contains("In(gram,"),
      s"needle grams not pushed to the trigram scan: $pushed")
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"infix match must stay equi-join:\n$p")
  }

  test("fuzzy term match: deletion-neighborhood equi-join, no cartesian") {
    // the SymSpell block join must plan as variant-key equi-joins with
    // the (tiny) candidate side broadcast — a naive lev(term, q) filter
    // over the postings × dictionary would nest-loop
    Queries.all("term_prefix_search")(spark, dir).collect() // builds idx
    val idx = s"/tmp/graft_prefix_terms_${math.abs(dir.hashCode)}"
    val p = graft.search.TermIndex
      .fuzzySearch(spark, idx, "port", maxDist = 1, k = 10)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy term match must stay equi-join:\n$p")
  }

  test("graph-ann serving: adjacency fetch is a pushed frontier lookup") {
    Queries.all("graph_ann_search")(spark, dir).collect() // builds artifacts
    val adj = spark.read.parquet(
      s"/tmp/graft_graphann_${math.abs(dir.hashCode)}/adjacency")
    val scans = adj.where(col("src").isin(1L, 2L, 3L, 4L))
      .queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metadata.getOrElse("PushedFilters", "")
      }
    assert(scans.exists(_.contains("In(src")),
      s"frontier lookup did not push into the artifact scan: $scans")
  }

  test("graph-ann bulk: frontier expansion is an equi-join, never cartesian") {
    // N queries walked together: the adjacency fetch must key on src and
    // the distance pass on the corpus id — even the round-0 entry seed is
    // an equi-join (the entry id travels as a literal column), so NO
    // nested-loop term of any kind survives
    val e = graft.core.Tables.embeddings(spark, dir)
    val adj = graft.search.GraphAnn.buildAdjacency(e, "vec_id", "embedding",
      graft.search.GraphAnn.Params(degree = 4, nlist = 2))
    val queries = e.where(col("vec_id").isin(0L, 7L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val p = graft.search.GraphAnn.bulkBeamSearch(adj, e, "vec_id",
        "embedding", queries, "qid", "qv", entryId = 0L, k = 5,
        beamWidth = 4, rounds = 2)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct"),
      s"bulk walk must never go cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"bulk walk must be pure equi-joins:\n$p")
  }

  test("search pagination: offset folds into the top-k, not a global sort") {
    val p = plan("search_pagination")
    assert(p.contains("TakeOrderedAndProject"),
      s"offset+limit must stay a bounded top-(offset+limit):\n$p")
    assert(!p.contains("Sort ["), "no global sort for a paged search")
  }

  test("partitioned scan: predicate prunes DIRECTORIES at planning time") {
    val p = plan("partitioned_scan_prune")
    // the equality predicate must land in PartitionFilters (directory
    // elimination, zero I/O) — NOT merely PushedFilters (footer reads)
    val scanSection = p.substring(p.indexOf("PartitionFilters"))
    assert(scanSection.take(200).contains("event_type"),
      s"event_type filter must be a partition filter:\n$p")
    assert(!p.contains("PushedFilters: [IsNotNull(event_type)"),
      "partition column must not also appear as a data filter")
  }

  test("partition-key collection: source predicate prunes directories") {
    val p = plan("collection_partition_key")
    val scanSection = p.substring(p.indexOf("PartitionFilters"))
    assert(scanSection.take(200).contains("source"),
      s"source filter must be a partition filter:\n$p")
  }

  test("scalar index: value filter prunes artifact DIRECTORIES") {
    val p = plan("scalar_indexed_knn")
    // the label IN (…) must resolve on the scalar artifact's partition
    // layout (directory elimination), and restrict the corpus via a
    // join — never a cartesian
    assert(p.contains("PartitionFilters: [value"),
      s"value filter must be a partition filter on the artifact:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"id restriction must stay an equi-join:\n$p")
  }

  test("array element scalar index: element values prune artifact " +
      "DIRECTORIES") {
    val p = plan("array_scalar_index_filter")
    // the array_contains_any values must resolve on the exploded
    // element artifact's partition layout (directory elimination) —
    // the array column itself is never scanned at query time
    assert(p.contains("PartitionFilters: [value"),
      s"element filter must be a partition filter on the artifact:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"id restriction must stay an equi-join:\n$p")
  }

  test("partition-scoped knn: label scope prunes directories, top-k bounded") {
    val p = plan("partition_scoped_knn")
    assert(p.contains("PartitionFilters: [label"),
      s"label scope must be a partition filter:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"scoped knn must stay a bounded top-k:\n$p")
  }

  test("collection point-get: id list reaches the scan as a pushed In") {
    val p = plan("collection_point_get")
    assert(p.contains("PushedFilters: [In(id, ["),
      s"id IN must push to the parquet scan:\n$p")
  }

  test("passjoin mid-length: segment-key block join, no cartesian") {
    val p = plan("fuzzy_passjoin_midlength")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"segment block join must stay an equi-join:\n$p")
  }

  test("fuzzy edit join: variant-key block join, no cartesian") {
    val p = plan("fuzzy_edit_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"deletion-key block join must stay an equi-join:\n$p")
  }

  test("exploding self-joins pin their parallelism explicitly") {
    // The deletion-neighborhood / shingle / signature self-joins are
    // compute-quadratic from byte-tiny inputs: AQE's size-based
    // coalescing folds an unpinned exchange into ONE straggler task
    // (input bytes mispredict exploded work — round 17, guide §2).
    // The spread/joinN repartitions carry an explicit count, which
    // plans as a REPARTITION_BY_NUM exchange AQE cannot coalesce.
    for (q <- Seq("fuzzy_edit_join", "dedup_jaccard_pairs",
        "dedup_simhash")) {
      val p = plan(q)
      assert(p.contains("REPARTITION_BY_NUM"),
        s"$q lost its explicit-count spread exchange:\n$p")
    }
  }
}
