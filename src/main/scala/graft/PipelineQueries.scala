package graft

import graft.QueryDsl._
import graft.core.{Artifacts, Collection, Tables}
import graft.functions.VectorFunctions
import graft.ingest.{Embed, HashingEmbedder, Loaders, Preprocess}
import graft.rag.Compose
import graft.search.{IvfIndex, Knn, MultiStrategy, TextSearch}
import graft.text.TextAnalysis
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end pipeline operators: IVF index search, multi-strategy
  * retrieval, chapter-block parsing, collection lifecycle, embedding
  * ingest, RAG context assembly. */
object PipelineQueries {
  /** Fixed query texts shared between the Spark queries and their DuckDB
    * oracles (must stay literal-identical on both sides). */
  private val KeywordQueryText =
    "scan filter aggregate join spark 数据库系统 window shuffle"
  private val ChunkQueryText = "spark shuffle partitions and joins, tiny, " +
    "数据库系统的核心组件, window aggregation plans"
  private val QuestionText = "how does spark execute joins, " +
    "数据库系统的查询优化, shuffle partitions and aggregation?"

  /** Exact-kNN DuckDB oracle (shared by ivf_search at nprobe=nlist). */
  private val exactTop5Oracle = """
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id, %L2% AS distance
      FROM embeddings e, q
      ORDER BY distance ASC, e.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))

  /** Query-vector ids for the bulk/multi-query entries — present at
    * every SF. Declared ahead of first use (object vals initialize in
    * declaration order; a forward reference reads null). */
  private val BulkQids = Seq(0L, 7L, 13L)

  /** IVF index probe with nprobe=nlist — must equal exact search (the
    * oracle pins this); partial-probe recall is covered by ScalaTest. */
  private val ivfSearch = Q(
    "ivf_search",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.ivf(s, dir)
      val query = Fixtures.queryVector(e)
      IvfIndex.search(s, model, "embedding", "vec_id", query, k = 5,
          nprobe = model.nlist)
        .select("vec_id", "distance")
    },
    Some(exactTop5Oracle))

  /** Search iterator over the IVF tier
    * ([[graft.search.IvfIndex.searchAfter]]) — the distance-keyset
    * cursor of `search_iterate` composed with the index: each page's
    * strictly-past predicate runs INSIDE the partition-pruned, masked,
    * latest-wins scan, so deep pages stay one pruned scan + a k-row
    * heap. Full probe here so the oracle replays the exact ranking's
    * rank buckets (partial-probe recall semantics are `ivf_partial_
    * probe`'s subject; the pruning plumbing is identical). Replays a
    * 3-page chain; cursor state is one (distance, id) pair advanced by
    * a 1-row aggregate per page. */
  private val ivfSearchIterate = Q(
    "ivf_search_iterate",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.ivf(s, dir)
      val query = Fixtures.queryVector(e)
      var cursor: Option[(Double, Long)] = None
      val pages = (0 until 3).map { p =>
        val pg = IvfIndex.searchAfter(s, model, "embedding", "vec_id",
          query, k = 5, nprobe = model.nlist, after = cursor)
        val mx = pg.agg(max(struct(col("distance"), col("vec_id"))))
          .first()
        if (!mx.isNullAt(0)) {
          val r = mx.getStruct(0)
          cursor = Some((r.getDouble(0), r.getLong(1)))
        }
        pg.select(lit(p).cast("int").as("page"), col("vec_id"),
          col("distance"))
      }
      pages.reduce(_ unionByName _)
        .orderBy(col("page").asc, col("distance").asc, col("vec_id").asc)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      d AS (SELECT e.vec_id, %L2% AS distance FROM embeddings e, q),
      r AS (SELECT vec_id, distance,
                   row_number() OVER (ORDER BY distance ASC, vec_id ASC)
                     AS rn
            FROM d)
      SELECT CAST((rn - 1) // 5 AS INT) AS page, vec_id, distance
      FROM r WHERE rn <= 15
      ORDER BY page ASC, distance ASC, vec_id ASC
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** IVF MIPS serving ([[graft.search.IvfIndex.searchIp]]) — the
    * inner-product metric through the SAME partition-pruned IVF layout
    * (probe by centroid-IP desc, rows by exact IP desc). At full probe
    * the result must equal exact MIPS top-5 over the corpus, which the
    * oracle computes directly; partial-probe subset/recall behavior is
    * spec-pinned (KnnSpec). Completes the metric × index matrix row the
    * graph family opened with `graph_ann_mips_walk`. */
  private val ivfIpSearch = Q(
    "ivf_ip_search",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.ivf(s, dir)
      val query = Fixtures.queryVector(e)
      IvfIndex.searchIp(s, model, "embedding", "vec_id", query, k = 5,
        nprobe = model.nlist)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id,
             round(list_sum(list_transform(range(1, len(e.embedding)+1),
               i -> CAST(e.embedding[i] AS DOUBLE)
                    * CAST(q.qe[i] AS DOUBLE))), 4) AS ip
      FROM embeddings e, q
      ORDER BY ip DESC, e.vec_id ASC LIMIT 5
    """))

  /** COSINE-metric IVF serving — the third metric through the same
    * layout, by the standard normalize-then-IP reduction (Milvus
    * serves COSINE exactly this way): vectors are L2-normalized at
    * index build, the query is normalized at serve, and
    * [[graft.search.IvfIndex.searchIp]] over the normalized layout
    * returns inner products that ARE cosines. Full probe ⇒ exact
    * cosine top-5, which the oracle computes directly from the RAW
    * fixture vectors — so the normalization arithmetic itself is
    * hash-checked, not just the ranking. */
  private val ivfCosineSearch = Q(
    "ivf_cosine_search",
    (s, dir) => {
      val indexDir = s"/tmp/graft_ivfrs_cos_${math.abs(dir.hashCode)}"
      val e = Tables.embeddings(s, dir)
      def normed(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("embedding",
          expr("transform(embedding, x -> CAST(x / sqrt(" +
            "aggregate(embedding, CAST(0.0 AS DOUBLE), " +
            "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))" +
            ") AS FLOAT))"))
      val model = Fixtures.ivfAt(s, indexDir)(normed(e))
      val query = normed(e.where(col("vec_id") === 0))
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      IvfIndex.searchIp(s, model, "embedding", "vec_id", query, k = 5,
          nprobe = model.nlist)
        .withColumnRenamed("ip", "cos")
    },
    Some(s"""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      nq AS (SELECT list_transform(qe, x -> CAST(CAST(x AS DOUBLE) / sqrt(
               list_sum(list_transform(qe, v -> CAST(v AS DOUBLE)
                 * CAST(v AS DOUBLE)))) AS FLOAT)) AS qe FROM q),
      ne AS (SELECT vec_id, list_transform(embedding,
               x -> CAST(CAST(x AS DOUBLE) / sqrt(
                 list_sum(list_transform(embedding,
                   v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                 AS FLOAT)) AS embedding
             FROM embeddings)
      SELECT e.vec_id,
             round(list_sum(list_transform(range(1, len(e.embedding)+1),
               i -> CAST(e.embedding[i] AS DOUBLE)
                    * CAST(q.qe[i] AS DOUBLE))), 4) AS cos
      FROM ne e, nq q
      ORDER BY cos DESC, e.vec_id ASC LIMIT 5
    """))

  /** EXACT range search through the IVF layout ([[graft.search
    * .IvfIndex.rangeSearch]]): the per-cluster covering radius
    * ([[graft.search.IvfIndex.clusterRadiiTable]], a build-once
    * companion artifact) lets the triangle inequality SKIP whole
    * partitions with zero recall loss — `knn_range_search`'s semantics
    * (1.0 ≤ ‖x−q‖² < 1.6) served without a corpus scan. The oracle is
    * the exact range scan over the fixture, so an over-eager prune
    * (dropped row) or a bound error hash-mismatches; KnnSpec pins that
    * clusters ARE actually skipped on a separated fixture. */
  private val ivfRangeSearch = Q(
    "ivf_range_search",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.ivf(s, dir)
      val query = Fixtures.queryVector(e)
      IvfIndex.rangeSearch(s, model, "embedding", "vec_id", query,
        rLo = 1.0, rHi = 1.6)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      d AS (SELECT e.vec_id, %L2% AS distance FROM embeddings e, q)
      SELECT vec_id, distance FROM d
      WHERE distance >= 1.0 AND distance < 1.6
      ORDER BY distance ASC, vec_id ASC
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** EXACT top-k through the IVF layout ([[graft.search.IvfIndex
    * .exactSearch]] — the ball-tree two-phase bound on the partitioned
    * index): nearest cluster's k-th distance upper-bounds the answer,
    * the covering radii prune every cluster that cannot beat it, and
    * the surviving union ranks exactly — full-scan answers WITHOUT the
    * full scan, no recall contract needed. The oracle is the exact
    * top-5 over the corpus; KnnSpec pins that clusters are actually
    * skipped on a separated fixture. */
  private val ivfExactKnn = Q(
    "ivf_exact_knn",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.ivf(s, dir)
      val query = Fixtures.queryVector(e)
      IvfIndex.exactSearch(s, model, "embedding", "vec_id", query, k = 5)
    },
    Some(exactTop5Oracle))

  /** Range search over an APPENDED-then-served index with NO manual
    * radii refresh — the round-10 enforcement of the covering-radius
    * invariant made observable: the index is built on two-thirds of
    * the corpus, the remaining third arrives by [[graft.search
    * .IvfIndex.append]] (whose radius fold runs BEFORE its data
    * append), and serving uses the index's OWN stored radii
    * ([[graft.search.IvfIndex.loadRadii]]). The oracle is the exact
    * range scan over the FULL corpus: before the fold existed this
    * exact flow over-pruned (KnnSpec's staleness test proves the wrong
    * answer on the explicit-radii API) — an appended row outside its
    * cluster's stale radius would silently vanish and hash-mismatch
    * here. */
  private val ivfRangeSearchAppended = Q(
    "ivf_range_search_appended",
    (s, dir) => {
      val indexDir = s"/tmp/graft_ivfrs_app_${math.abs(dir.hashCode)}"
      val e = Tables.embeddings(s, dir)
      rebuildOnce(s, indexDir) {
        val m = IvfIndex.build(e.where(col("vec_id") % 3 =!= 2),
          "embedding", indexDir, nlist = 16)
        IvfIndex.append(e.where(col("vec_id") % 3 === 2), "embedding", m)
      }
      val model = IvfIndex.load(s, indexDir)
      val query = Fixtures.queryVector(e)
      IvfIndex.rangeSearch(s, model, "embedding", "vec_id", query,
        rLo = 1.0, rHi = 1.6)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      d AS (SELECT e.vec_id, %L2% AS distance FROM embeddings e, q)
      SELECT vec_id, distance FROM d
      WHERE distance >= 1.0 AND distance < 1.6
      ORDER BY distance ASC, vec_id ASC
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Scalar-index-filtered IVF serving ([[graft.search.IvfIndex
    * .searchWithIdFilter]] fed by [[graft.search.ScalarIndex.ids]]):
    * the `label IN (2,5,7)` id set resolves from the directory-pruned
    * scalar artifact, then restricts the partition-pruned IVF scan by
    * semi-join BEFORE any distance math — the filtered-ANN composition
    * Milvus runs when a search carries a `filter=` expression over an
    * indexed scalar field. Full probe ⇒ equals exact filtered kNN
    * (oracled); the artifacts are the shared `graft_ivfrs`/`scalaridx`
    * build-once dirs. */
  private val scalarFilteredIvfSearch = Q(
    "scalar_filtered_ivf_search",
    (s, dir) => {
      import graft.search.ScalarIndex
      val scalarDir = Fixtures.labelIndex(s, dir)
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.ivf(s, dir)
      val query = Fixtures.queryVector(e)
      IvfIndex.searchWithIdFilter(s, model, "embedding", "vec_id",
        query, k = 5, nprobe = model.nlist,
        allowedIds = ScalarIndex.ids(s, scalarDir, Seq(2, 5, 7)))
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id, %L2% AS distance
      FROM embeddings e, q
      WHERE e.label IN (2, 5, 7)
      ORDER BY distance ASC, e.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Index reconcile ([[graft.search.IndexSync.reconcileIvf]]) — the
    * repair verb for the drift [[graft.search.IndexAudit]]'s
    * missing/orphan counters detect: the index was built BEFORE the
    * collection's last 21 rows arrived and never saw the `%9 = 4`
    * delete, so it both misses live rows and serves dead ones.
    * Reconcile tombstones the orphans (key append) and appends the
    * missing rows (frozen-centroid assignment) — no rebuild, no
    * rewrite of existing artifact files — after which the full-probe
    * serve must equal exact kNN over the LIVE corpus, which the oracle
    * computes directly. */
  private val indexReconcileServe = Q(
    "index_reconcile_serve",
    (s, dir) => {
      import graft.search.IndexSync
      val baseDir = s"/tmp/graft_ivfrs_reconbase_${math.abs(dir.hashCode)}"
      val runDir = s"/tmp/graft_ivfrs_recon_${math.abs(dir.hashCode)}"
      val e = Tables.embeddings(s, dir)
      Fixtures.ivfBuiltAt(s, baseDir) {
        val maxId = e.agg(max(col("vec_id"))).collect()(0).getLong(0)
        e.where(col("vec_id") < maxId - 20)
      }
      mutateOnce(s, runDir) {
        Artifacts.copyLocalDir(baseDir, runDir)
        val live = e.where(col("vec_id") % 9 =!= 4)
        IndexSync.reconcileIvf(s, live, "vec_id", "embedding",
          IvfIndex.load(s, runDir))
      }
      val model = IvfIndex.load(s, runDir)
      val query = Fixtures.queryVector(e)
      IvfIndex.search(s, model, "embedding", "vec_id", query, k = 5,
          nprobe = model.nlist)
        .select("vec_id", "distance")
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id, %L2% AS distance
      FROM embeddings e, q
      WHERE e.vec_id % 9 <> 4
      ORDER BY distance ASC, e.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** IVF search at PARTIAL probe (nprobe=4 of nlist=16) — the pruning
    * arithmetic itself is oracled, not just the exact-degenerate case:
    * the query hands the built centroid table and the (vec_id,
    * cluster_id) assignment map to DuckDB at a fixed path, and the
    * oracle re-ranks the centroids against the query vector (unrounded
    * double L2, cluster-id tie-break — byte-for-byte the
    * IvfIndex.probeClusters arithmetic), selects the same 4 clusters,
    * and computes top-k over exactly those partitions. Any cross-engine
    * divergence in the probe ranking or the pruned scan flips the hash. */
  private val ivfPartialProbe = Q(
    "ivf_partial_probe",
    (s, dir) => {
      val indexDir = Fixtures.ivfDir(dir)
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.ivf(s, dir)
      // handoff artifacts for the oracle, keyed by the fixture dir on
      // both sides (Verify substitutes %ORACLE_KEY% into the SQL — see
      // QueryDsl.OracleKey), so two fixture dirs verified back-to-back
      // or concurrently never clobber each other's staged centroids.
      // Tiny (nlist rows + one long pair per vector); staged + renamed so
      // a concurrent DuckDB read never sees a half-written dir.
      stageOracleOnceLazy(s, "ivf_probe", dir)(Seq(
        "centroids" -> s.read.parquet(IvfIndex.centroidsDir(indexDir)),
        "assign" -> IvfIndex.readData(s, indexDir)
          .select(col("vec_id"), col("cluster_id"))))
      val query = Fixtures.queryVector(e)
      IvfIndex.search(s, model, "embedding", "vec_id", query, k = 5,
          nprobe = 4)
        .select("vec_id", "distance")
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      cent AS (SELECT * FROM
        read_parquet('/tmp/graft_ivf_probe_oracle_%ORACLE_KEY%/centroids/*.parquet')),
      ranked AS (SELECT cluster_id,
                   row_number() OVER (ORDER BY
                     list_sum(list_transform(range(1, len(centroid)+1),
                       i -> (CAST(centroid[i] AS DOUBLE)
                             - CAST(qe[i] AS DOUBLE))^2)) ASC,
                     cluster_id ASC) AS rn
                 FROM cent, q),
      probe AS (SELECT cluster_id FROM ranked WHERE rn <= 4),
      a AS (SELECT * FROM
        read_parquet('/tmp/graft_ivf_probe_oracle_%ORACLE_KEY%/assign/*.parquet')),
      sel AS (SELECT e.vec_id, e.embedding
              FROM embeddings e
              JOIN a ON a.vec_id = e.vec_id
              JOIN probe p ON p.cluster_id = a.cluster_id)
      SELECT e.vec_id, %L2% AS distance
      FROM sel e, q
      ORDER BY distance ASC, e.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** IVF nprobe auto-tuning ([[graft.search.IvfIndex.nprobeCurve]]):
    * the recall-vs-nprobe sweep every IVF deployment runs before fixing
    * its serving probe count, as ONE declarative plan (distances scored
    * once; each tier is the same ranking restricted by centroid rank ≤
    * nprobe). Output = the measured curve over the three bulk queries
    * plus the chosen knob (smallest nprobe with recall ≥ 0.9). The
    * oracle re-derives centroid ranks, every tier's top-k, the recall
    * arithmetic, AND the choice rule from the staged artifacts — a
    * tuner that picks a different knob hash-mismatches. */
  private val ivfNprobeAutotune = Q(
    "ivf_nprobe_autotune",
    (s, dir) => {
      val indexDir = Fixtures.ivfDir(dir)
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.ivf(s, dir)
      stageOracleOnceLazy(s, "ivftune", dir)(Seq(
        "centroids" -> s.read.parquet(IvfIndex.centroidsDir(indexDir)),
        "assign" -> IvfIndex.readData(s, indexDir)
          .select(col("vec_id"), col("cluster_id"))))
      val qs = e.where(col("vec_id").isin(BulkQids: _*))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1).toSeq
      IvfIndex.nprobeCurve(s, model, "embedding", "vec_id", qs, k = 5,
        nprobes = Seq(1, 2, 4, 8, 16), targetRecall = 0.9)
    },
    Some(s"""
      WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                  WHERE vec_id IN (${BulkQids.mkString(", ")})),
      cent AS (SELECT * FROM read_parquet(
        '/tmp/graft_ivftune_oracle_%ORACLE_KEY%/centroids/*.parquet')),
      asg AS (SELECT * FROM read_parquet(
        '/tmp/graft_ivftune_oracle_%ORACLE_KEY%/assign/*.parquet')),
      crank AS (SELECT qid, cluster_id, crank FROM (
          SELECT q.qid, c.cluster_id,
                 row_number() OVER (PARTITION BY q.qid ORDER BY
                   list_sum(list_transform(range(1, len(c.centroid)+1),
                     i -> (CAST(c.centroid[i] AS DOUBLE)
                           - CAST(q.qv[i] AS DOUBLE))^2)) ASC,
                   c.cluster_id ASC) AS crank
          FROM cent c, qs q) t),
      d AS (SELECT q.qid, e.vec_id, a.cluster_id,
                   ${duckL2("e.embedding", "q.qv")} AS d
            FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id, qs q),
      ex AS (SELECT qid, vec_id FROM (
          SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
              ORDER BY d ASC, vec_id ASC) AS rn FROM d) t WHERE rn <= 5),
      np AS (SELECT unnest([1, 2, 4, 8, 16]) AS nprobe),
      candk AS (SELECT qid, nprobe, vec_id FROM (
          SELECT d.qid, np.nprobe, d.vec_id,
                 row_number() OVER (PARTITION BY d.qid, np.nprobe
                   ORDER BY d.d ASC, d.vec_id ASC) AS rn
          FROM d JOIN crank ON crank.qid = d.qid
                             AND crank.cluster_id = d.cluster_id
                 JOIN np ON crank.crank <= np.nprobe) t WHERE rn <= 5),
      rec AS (SELECT np.nprobe,
                     round(count(c.vec_id) / 15.0, 4) AS recall
              FROM np CROSS JOIN ex
              LEFT JOIN candk c ON c.nprobe = np.nprobe
                                 AND c.qid = ex.qid
                                 AND c.vec_id = ex.vec_id
              GROUP BY np.nprobe),
      ch AS (SELECT coalesce(
               min(nprobe) FILTER (WHERE recall >= 0.9),
               max(nprobe)) AS chosen FROM rec)
      SELECT CAST(nprobe AS BIGINT) AS nprobe,
             CAST(3 AS BIGINT) AS n_queries, recall,
             nprobe = (SELECT chosen FROM ch) AS chosen
      FROM rec ORDER BY nprobe ASC
    """))

  /** Filtered ANN at the index level — the Milvus search(expr=...) form
    * that COMPOSES with the IVF probe (filtered_knn_search pins the
    * flat-scan form): the centroid ranking prunes to nprobe=4 cluster
    * partitions AND the metadata predicate pushes into the surviving
    * partitions' parquet scan, so IO is cut multiplicatively —
    * nprobe/nlist of the corpus × the label selectivity — before any
    * distance math. Pre-filter semantics within the probed clusters:
    * exactly k survivors of the predicate return (recall vs the
    * UNfiltered probe is the usual IVF nprobe tradeoff, unchanged by
    * the filter). The oracle replays centroid ranking, the cluster
    * restriction, the label predicate, and the top-k. */
  private val ivfFilteredSearch = Q(
    "ivf_filtered_search",
    (s, dir) => {
      val indexDir = Fixtures.ivfDir(dir)
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.ivf(s, dir)
      stageOracleOnceLazy(s, "ivf_filtered", dir)(Seq(
        "centroids" -> s.read.parquet(IvfIndex.centroidsDir(indexDir)),
        "assign" -> IvfIndex.readData(s, indexDir)
          .select(col("vec_id"), col("cluster_id"))))
      val query = Fixtures.queryVector(e)
      val clusters = IvfIndex.probeClusters(model, query, nprobe = 4)
      IvfIndex.readData(s, indexDir)
        .where(col("cluster_id").isin(clusters: _*)
          && col("label").isin(1, 3, 5, 8))
        .withColumn("distance",
          round(VectorFunctions.l2Sq(col("embedding"), typedlit(query.toSeq)), 4))
        .orderBy(col("distance").asc, col("vec_id").asc)
        .limit(5)
        .select("vec_id", "label", "distance")
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      cent AS (SELECT * FROM
        read_parquet('/tmp/graft_ivf_filtered_oracle_%ORACLE_KEY%/centroids/*.parquet')),
      ranked AS (SELECT cluster_id,
                   row_number() OVER (ORDER BY
                     list_sum(list_transform(range(1, len(centroid)+1),
                       i -> (CAST(centroid[i] AS DOUBLE)
                             - CAST(qe[i] AS DOUBLE))^2)) ASC,
                     cluster_id ASC) AS rn
                 FROM cent, q),
      probe AS (SELECT cluster_id FROM ranked WHERE rn <= 4),
      a AS (SELECT * FROM
        read_parquet('/tmp/graft_ivf_filtered_oracle_%ORACLE_KEY%/assign/*.parquet')),
      sel AS (SELECT e.vec_id, e.label, e.embedding
              FROM embeddings e
              JOIN a ON a.vec_id = e.vec_id
              JOIN probe p ON p.cluster_id = a.cluster_id
              WHERE e.label IN (1, 3, 5, 8))
      SELECT e.vec_id, e.label, %L2% AS distance
      FROM sel e, q
      ORDER BY distance ASC, e.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** IVF index health report — list-size balance. Probe cost at fixed
    * nprobe is governed by the LARGEST probed lists: a skewed coarse
    * quantizer (hot centroids) makes tail queries scan far more than
    * n·nprobe/nlist rows, the vector-index analog of the join-key skew
    * `skew_report` diagnoses. One aggregate over the assignment column:
    * non-empty list count (vs nlist — empty lists waste probe budget),
    * min/max list sizes, and the max/ideal imbalance factor that says
    * when to re-fit the quantizer. The oracle replays the aggregation
    * from the staged assignment map. */
  private val ivfBalanceReport = Q(
    "ivf_balance_report",
    (s, dir) => {
      val indexDir = Fixtures.ivfDir(dir)
      val model = Fixtures.ivf(s, dir)
      stageOracleOnceLazy(s, "ivf_balance", dir)(Seq(
        "assign" -> IvfIndex.readData(s, indexDir)
          .select(col("vec_id"), col("cluster_id"))))
      val sizes = IvfIndex.readData(s, indexDir)
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("sz"))
      sizes.agg(
        lit(model.nlist).cast("long").as("nlist"),
        count(lit(1)).as("nonempty_lists"),
        sum(col("sz")).as("n_vectors"),
        min(col("sz")).as("min_list"),
        max(col("sz")).as("max_list"),
        round(max(col("sz")) * lit(model.nlist.toDouble)
          / sum(col("sz")) + lit(1e-12), 4).as("imbalance"))
    },
    Some("""
      WITH a AS (SELECT * FROM
        read_parquet('/tmp/graft_ivf_balance_oracle_%ORACLE_KEY%/assign/*.parquet')),
      sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
             FROM a GROUP BY cluster_id)
      SELECT CAST(16 AS BIGINT) AS nlist,
             CAST(count(*) AS BIGINT) AS nonempty_lists,
             CAST(sum(sz) AS BIGINT) AS n_vectors,
             CAST(min(sz) AS BIGINT) AS min_list,
             CAST(max(sz) AS BIGINT) AS max_list,
             round(max(sz) * 16.0 / sum(sz) + 1e-12, 4) AS imbalance
      FROM sz
    """))

  /** The §4.3 stretch rule end-to-end: a NAIVE orderBy(l2)+limit over the
    * IVF data dir, with the index registered at nprobe=nlist — the
    * optimizer injects the probe filter, and the result must still equal
    * the exact-kNN oracle. (Requires the graft.GraftExtensions session
    * config, which Verify/Bench set.) */
  private val ivfAutoRewrite = Q(
    "ivf_auto_rewrite",
    (s, dir) => {
      val indexDir = Fixtures.ivfDir(dir)
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.ivf(s, dir)
      graft.plans.IvfProbeRewrite.register(model, nprobe = model.nlist)
      val query = Fixtures.queryVector(e)
      IvfIndex.readData(s, indexDir)
        .select(col("vec_id"),
          round(VectorFunctions.l2Sq(col("embedding"), typedlit(query)), 4)
            .as("distance"))
        .orderBy(col("distance").asc, col("vec_id").asc)
        .limit(5)
    },
    Some(exactTop5Oracle))

  /** Incremental index maintenance end-to-end: APPEND new vectors against
    * the frozen centroids of an existing index (no re-fit, no rewrite),
    * search at nprobe=nlist — must equal exact kNN over the full corpus,
    * proving the appended rows landed in the right partitions.
    *
    * Attribution: the base index (even half of the corpus) is built ONCE
    * per fixture through [[Fixtures.ivfAt]], like its siblings — KMeans is
    * index CONSTRUCTION, not maintenance, and timing it here mislabelled
    * this entry's bench line for two rounds. Each invocation copies the
    * base directory to a scratch run dir (so the append never compounds
    * across runs) and the timed body is copy + assign/append + search:
    * the actual ingest path. */
  private val ivfIncrementalSearch = Q(
    "ivf_incremental_search",
    (s, dir) => {
      val baseDir = s"/tmp/graft_ivfrs_incrbase_${math.abs(dir.hashCode)}"
      val runDir = s"/tmp/graft_ivfrs_incr_${math.abs(dir.hashCode)}"
      val e = Tables.embeddings(s, dir)
      Fixtures.ivfBuiltAt(s, baseDir)(e.where(col("vec_id") % 2 === 0))
      Artifacts.copyLocalDir(baseDir, runDir)
      val model = IvfIndex.load(s, runDir)
      IvfIndex.append(e.where(col("vec_id") % 2 === 1), "embedding", model)
      val query = Fixtures.queryVector(e)
      IvfIndex.search(s, model, "embedding", "vec_id", query, k = 5,
          nprobe = model.nlist)
        .select("vec_id", "distance")
    },
    Some(exactTop5Oracle))

  /** The rule's scalar-subquery path end-to-end: the NAIVE `sql_knn` SQL
    * text (graft_l2_sq + a scalar subquery for the query vector) run
    * against the registered IVF data dir — the optimizer pre-executes the
    * subquery, ranks centroids, and injects the probe filter; at
    * nprobe=nlist the result must equal the exact-kNN oracle. */
  private val ivfAutoRewriteSql = Q(
    "ivf_auto_rewrite_sql",
    (s, dir) => {
      GraftExtensions.register(s)
      val indexDir = Fixtures.ivfDir(dir)
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.ivf(s, dir)
      graft.plans.IvfProbeRewrite.register(model, nprobe = model.nlist)
      IvfIndex.readData(s, indexDir)
        .createOrReplaceTempView("graft_ivf_data")
      e.createOrReplaceTempView("graft_embeddings")
      s.sql("""
        SELECT vec_id,
               round(graft_l2_sq(embedding,
                 (SELECT embedding FROM graft_embeddings WHERE vec_id = 0)), 4)
                 AS distance
        FROM graft_ivf_data
        ORDER BY distance ASC, vec_id ASC LIMIT 5
      """)
    },
    Some(exactTop5Oracle))

  /** ROUTER-WIRED auto-rewrite (round 12 — the round-11 verdict's #1):
    * the [[graft.plans.IvfProbeRewrite]] rule CONSULTS
    * [[graft.search.Router.plan]] instead of unconditionally choosing
    * IVF, so the SAME naive `orderBy(l2).limit(k)` lands on the tier
    * the measured panel says is best — which is what Milvus's planner
    * does internally at `src/app.py:248-254`'s `client.search` (the
    * caller never names an index). The registration maps three panel
    * tiers to serving plans: flat (leave the exact plan alone),
    * ivf_nprobe4 (inject the probe predicate), sq8_margin20 (splice
    * the two-stage quantized-scan + exact-rerank plan). This entry
    * routes UNconstrained (no memory budget): with the shared v2
    * panel the min-cost tier meeting recall 0.8 is expected to be
    * the IVF probe. The oracle replays the FULL dispatch from the
    * staged panel — eligibility → meets-target → min-cost choice —
    * and then the chosen tier's serving arithmetic (all three branches
    * written out, gated on the independently re-derived choice), so a
    * rule that routes differently than the router, or serves a
    * different tier than it claims, hash-mismatches on the `tier`
    * column or the rows. A DEDICATED index dir keeps the legacy
    * always-IVF entries (`ivf_auto_rewrite*`) un-routed. */
  private val routedAutoSearch = Q(
    "routed_auto_search",
    (s, dir) => {
      import graft.plans.IvfProbeRewrite
      import graft.search.Router
      val e = Tables.embeddings(s, dir)
      val indexDir = Fixtures.routedIvfDir(dir)
      val model = Fixtures.routedIvf(s, dir)
      val sq8Dir = Fixtures.sq8Dir(dir)
      Fixtures.sq8(s, dir)
      IvfProbeRewrite.registerRouted(IvfProbeRewrite.RoutedConfig(
        model, nprobe = 4, sq8Dir, sq8Margin = 20,
        idCol = "vec_id", vecCol = "embedding",
        panel = () => routerPanelV2(s, dir),
        tiers = Seq(
          Router.Tier("flat", present = true, filterCapable = true),
          Router.Tier("ivf_nprobe4", present = true,
            filterCapable = true),
          Router.Tier("sq8_margin20", present = true,
            filterCapable = false)),
        flatTier = "flat", ivfTier = "ivf_nprobe4",
        sq8Tier = "sq8_margin20", recallTarget = 0.8,
        memoryBudget = None,
        fingerprintRoots = Seq(indexDir, sq8Dir)))
      // panel handoff is a pure function of buildOnce fixture state —
      // staged once, CONSTRUCTED once (round 16: the eager form ran the
      // measured-recall panel jobs every pass before skipping the write)
      stageOracleOnceLazy(s, "routedauto", dir)(
        Seq("panel" -> routerPanelV2(s, dir)))
      stageOracleOnceLazy(s, "routedautofix", dir)(Seq(
        "assign" -> IvfIndex.readData(s, indexDir)
          .select(col("vec_id"), col("cluster_id")),
        "cents" -> s.read.parquet(IvfIndex.centroidsDir(indexDir))))
      val tier = IvfProbeRewrite.routedDecision(s, indexDir).get
      val query = Fixtures.queryVector(e)
      IvfIndex.readData(s, indexDir)
        .select(col("vec_id"),
          round(VectorFunctions.l2Sq(col("embedding"), typedlit(query)), 4)
            .as("distance"))
        .orderBy(col("distance").asc, col("vec_id").asc)
        .limit(5)
        .select(lit(tier).as("tier"), col("vec_id"), col("distance"))
    },
    Some(s"""
      WITH panel AS (SELECT tier, recall, CAST(cost AS BIGINT) AS cost
                     FROM read_parquet(
        '/tmp/graft_routedauto_oracle_%ORACLE_KEY%/panel/*.parquet')),
      el AS (SELECT tier, recall, cost,
                    tier IN ('flat', 'ivf_nprobe4', 'sq8_margin20')
                      AS eligible
             FROM panel),
      ch AS (SELECT tier AS c FROM el WHERE eligible AND recall >= 0.8
             ORDER BY cost ASC, tier ASC LIMIT 1),
      ch2 AS (SELECT CASE WHEN EXISTS (SELECT 1 FROM ch)
                          THEN (SELECT c FROM ch)
                          ELSE (SELECT tier FROM el WHERE eligible
                                ORDER BY recall DESC, cost ASC, tier ASC
                                LIMIT 1) END AS c),
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      exact5 AS (SELECT e.vec_id, %L2% AS distance FROM embeddings e, q
                 ORDER BY distance ASC, e.vec_id ASC LIMIT 5),
      assign AS (SELECT vec_id, cluster_id FROM read_parquet(
        '/tmp/graft_routedautofix_oracle_%ORACLE_KEY%/assign/*.parquet')),
      cents AS (SELECT cluster_id, centroid FROM read_parquet(
        '/tmp/graft_routedautofix_oracle_%ORACLE_KEY%/cents/*.parquet')),
      probes AS (SELECT cluster_id FROM cents, q
                 ORDER BY list_sum(list_transform(
                     range(1, len(centroid)+1),
                     i -> (CAST(centroid[i] AS DOUBLE)
                           - CAST(qe[i] AS DOUBLE))^2)) ASC,
                   cluster_id ASC LIMIT 4),
      ivf5 AS (SELECT e.vec_id, %L2% AS distance
               FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id, q
               WHERE a.cluster_id IN (SELECT cluster_id FROM probes)
               ORDER BY distance ASC, e.vec_id ASC LIMIT 5),
      sc AS (SELECT vec_id, embedding,
               CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale
             FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS mx
                   FROM embeddings)),
      qz AS (SELECT vec_id, scale,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * scale, 0) AS INT))
                 AS qv
             FROM sc),
      ap AS (SELECT vec_id,
               round(list_sum(list_transform(range(1, len(qv)+1),
                 i -> ((CASE WHEN scale = 0 THEN 0.0
                             ELSE qv[i] / scale END)
                       - CAST(qe[i] AS DOUBLE)) ^ 2)), 4)
                 AS approx_distance
             FROM qz, q),
      cand AS (SELECT vec_id FROM ap
               ORDER BY approx_distance ASC, vec_id ASC LIMIT 100),
      sq85 AS (SELECT c.vec_id, %L2% AS distance
               FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id, q
               ORDER BY distance ASC, c.vec_id ASC LIMIT 5),
      res AS (
        SELECT vec_id, distance FROM exact5
        WHERE (SELECT c FROM ch2) = 'flat'
        UNION ALL
        SELECT vec_id, distance FROM ivf5
        WHERE (SELECT c FROM ch2) = 'ivf_nprobe4'
        UNION ALL
        SELECT vec_id, distance FROM sq85
        WHERE (SELECT c FROM ch2) = 'sq8_margin20')
      SELECT (SELECT c FROM ch2) AS tier, vec_id, distance FROM res
      ORDER BY distance ASC, vec_id ASC
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** The routed rewrite under a MEMORY BUDGET — the flip side of
    * `routed_auto_search`, and the `serving_plan_budget` discipline
    * made REAL for SQL users: the budget is the SQ8 tier's residency
    * + 1 byte (derived from the staged panel on BOTH sides), so every
    * n·4·dim tier fails the eligibility gate and the SAME naive query
    * text now compiles to the spliced two-stage quantized plan
    * (RewriteSpec pins the plan shapes; here the oracle replays the
    * budget-gated dispatch AND the SQ8 candidate→rerank arithmetic
    * end-to-end). A rule that ignored the budget would serve IVF rows
    * under a 'sq8_margin20' tier claim — hash mismatch. */
  private val routedAutoSearchBudget = Q(
    "routed_auto_search_budget",
    (s, dir) => {
      import graft.plans.IvfProbeRewrite
      import graft.search.Router
      val e = Tables.embeddings(s, dir)
      val indexDir = Fixtures.routedIvfDir(dir)
      val model = Fixtures.routedIvf(s, dir)
      val sq8Dir = Fixtures.sq8Dir(dir)
      Fixtures.sq8(s, dir)
      // stage first (lazy-once), derive the budget from the STAGED
      // panel — one 4-row parquet read per pass instead of the whole
      // measured-panel construction (round 16); the oracle reads the
      // same staged rows, so both sides' budget derives from one table
      val panelDir = stageOracleOnceLazy(s, "routedautob", dir)(
        Seq("panel" -> routerPanelV2(s, dir)))
      val budget = s.read.parquet(s"$panelDir/panel")
        .where(col("tier") === "sq8_margin20")
        .select(col("mem_bytes").cast("long")).collect()(0).getLong(0) + 1
      IvfProbeRewrite.registerRouted(IvfProbeRewrite.RoutedConfig(
        model, nprobe = 4, sq8Dir, sq8Margin = 20,
        idCol = "vec_id", vecCol = "embedding",
        panel = () => routerPanelV2(s, dir),
        tiers = Seq(
          Router.Tier("flat", present = true, filterCapable = true),
          Router.Tier("ivf_nprobe4", present = true,
            filterCapable = true),
          Router.Tier("sq8_margin20", present = true,
            filterCapable = false)),
        flatTier = "flat", ivfTier = "ivf_nprobe4",
        sq8Tier = "sq8_margin20", recallTarget = 0.8,
        memoryBudget = Some(budget),
        fingerprintRoots = Seq(indexDir, sq8Dir)))
      val tier = IvfProbeRewrite.routedDecision(s, indexDir).get
      val query = Fixtures.queryVector(e)
      IvfIndex.readData(s, indexDir)
        .select(col("vec_id"),
          round(VectorFunctions.l2Sq(col("embedding"), typedlit(query)), 4)
            .as("distance"))
        .orderBy(col("distance").asc, col("vec_id").asc)
        .limit(5)
        .select(lit(tier).as("tier"), col("vec_id"), col("distance"))
    },
    Some(s"""
      WITH panel AS (SELECT tier, recall, CAST(cost AS BIGINT) AS cost,
                            CAST(mem_bytes AS BIGINT) AS mem_bytes
                     FROM read_parquet(
        '/tmp/graft_routedautob_oracle_%ORACLE_KEY%/panel/*.parquet')),
      b AS (SELECT mem_bytes + 1 AS budget FROM panel
            WHERE tier = 'sq8_margin20'),
      el AS (SELECT tier, recall, cost,
                    (tier IN ('flat', 'ivf_nprobe4', 'sq8_margin20')
                     AND mem_bytes <= (SELECT budget FROM b)) AS eligible
             FROM panel),
      ch AS (SELECT tier AS c FROM el WHERE eligible AND recall >= 0.8
             ORDER BY cost ASC, tier ASC LIMIT 1),
      ch2 AS (SELECT CASE WHEN EXISTS (SELECT 1 FROM ch)
                          THEN (SELECT c FROM ch)
                          ELSE (SELECT tier FROM el WHERE eligible
                                ORDER BY recall DESC, cost ASC, tier ASC
                                LIMIT 1) END AS c),
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      sc AS (SELECT vec_id, embedding,
               CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale
             FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS mx
                   FROM embeddings)),
      qz AS (SELECT vec_id, scale,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * scale, 0) AS INT))
                 AS qv
             FROM sc),
      ap AS (SELECT vec_id,
               round(list_sum(list_transform(range(1, len(qv)+1),
                 i -> ((CASE WHEN scale = 0 THEN 0.0
                             ELSE qv[i] / scale END)
                       - CAST(qe[i] AS DOUBLE)) ^ 2)), 4)
                 AS approx_distance
             FROM qz, q),
      cand AS (SELECT vec_id FROM ap
               ORDER BY approx_distance ASC, vec_id ASC LIMIT 100),
      sq85 AS (SELECT c.vec_id, %L2% AS distance
               FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id, q
               ORDER BY distance ASC, c.vec_id ASC LIMIT 5)
      SELECT (SELECT c FROM ch2) AS tier, vec_id, distance FROM sq85
      WHERE (SELECT c FROM ch2) = 'sq8_margin20'
      ORDER BY distance ASC, vec_id ASC
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** The router-chosen GRAPH tier served END TO END (round 13 — the
    * round-12 verdict's routed-tier-menu item): the registration
    * restricts the tier menu to flat + the measured graph walk; the
    * walk is the min-cost tier meeting recall 0.8 on the shared v2
    * panel, so the router chooses it — and since a beam walk is a
    * data-dependent driver LOOP with no LogicalPlan to splice where
    * the Limit(Sort) stood, the REWRITE declines (the naive plan stays
    * the exact plan — RewriteSpec pins it) while the API-level
    * dispatcher [[graft.plans.IvfProbeRewrite.serveRouted]] honors the
    * decision by invoking the registered walk thunk. The oracle
    * replays the dispatch from the staged panel AND the walk itself
    * round by round, both serving branches gated on the re-derived
    * choice — a dispatcher that served flat under a graph claim (or
    * vice versa) hash-mismatches on the tier column or the rows. */
  private val routedGraphSearch = Q(
    "routed_graph_search",
    (s, dir) => {
      import graft.plans.IvfProbeRewrite
      import graft.search.{GraphAnn, Router}
      val e = Tables.embeddings(s, dir)
      val indexDir = s"/tmp/graft_ivfrs_routedg_${math.abs(dir.hashCode)}"
      val model = Fixtures.ivfAt(s, indexDir)(e)
      val sq8Dir = Fixtures.sq8Dir(dir)
      Fixtures.sq8(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryId = stageGraph(s, "graphbulk", dir)
      IvfProbeRewrite.registerRouted(IvfProbeRewrite.RoutedConfig(
        model, nprobe = 4, sq8Dir, sq8Margin = 20,
        idCol = "vec_id", vecCol = "embedding",
        panel = () => routerPanelV2(s, dir),
        tiers = Seq(
          Router.Tier("flat", present = true, filterCapable = true),
          Router.Tier("graph_beam8x6", present = true,
            filterCapable = true)),
        flatTier = "flat", ivfTier = "ivf_nprobe4",
        sq8Tier = "sq8_margin20", recallTarget = 0.8,
        memoryBudget = None,
        fingerprintRoots = Seq(indexDir, sq8Dir),
        graphTier = "graph_beam8x6",
        graphServe = Some((sp, q, k) =>
          GraphAnn.beamSearch(adj, e, "vec_id", "embedding", q,
            entryId, k, beamWidth = 8, rounds = 6, degree = 8))))
      // deterministic function of buildOnce fixture state — staged
      // once, constructed once (round 16)
      stageOracleOnceLazy(s, "routedg", dir)(
        Seq("panel" -> routerPanelV2(s, dir)))
      val tier = IvfProbeRewrite.routedDecision(s, indexDir).get
      val query = Fixtures.queryVector(e)
      IvfProbeRewrite.serveRouted(s, indexDir, query, 5) {
        IvfIndex.readData(s, indexDir)
          .select(col("vec_id"),
            round(VectorFunctions.l2Sq(col("embedding"), typedlit(query)),
              4).as("distance"))
          .orderBy(col("distance").asc, col("vec_id").asc)
          .limit(5)
      }.select(lit(tier).as("tier"), col("vec_id"), col("distance"))
    },
    Some(s"""
      WITH panel AS (SELECT tier, recall, CAST(cost AS BIGINT) AS cost
                     FROM read_parquet(
        '/tmp/graft_routedg_oracle_%ORACLE_KEY%/panel/*.parquet')),
      el AS (SELECT tier, recall, cost,
                    tier IN ('flat', 'graph_beam8x6') AS eligible
             FROM panel),
      ch AS (SELECT tier AS c FROM el WHERE eligible AND recall >= 0.8
             ORDER BY cost ASC, tier ASC LIMIT 1),
      ch2 AS (SELECT CASE WHEN EXISTS (SELECT 1 FROM ch)
                          THEN (SELECT c FROM ch)
                          ELSE (SELECT tier FROM el WHERE eligible
                                ORDER BY recall DESC, cost ASC, tier ASC
                                LIMIT 1) END AS c),
      qs AS (SELECT CAST(0 AS BIGINT) AS qid,
                    (SELECT embedding FROM embeddings
                     WHERE vec_id = 0) AS qv),
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      exact5 AS (SELECT e.vec_id, %L2% AS distance FROM embeddings e, q
                 ORDER BY distance ASC, e.vec_id ASC LIMIT 5),
      ${bulkWalkCtes("graphbulk", beamWidth = 8, rounds = 6)},
      walk5 AS (SELECT id AS vec_id, d AS distance FROM v6
                ORDER BY d ASC, id ASC LIMIT 5),
      res AS (
        SELECT vec_id, distance FROM exact5
        WHERE (SELECT c FROM ch2) = 'flat'
        UNION ALL
        SELECT vec_id, distance FROM walk5
        WHERE (SELECT c FROM ch2) = 'graph_beam8x6')
      SELECT (SELECT c FROM ch2) AS tier, vec_id, distance FROM res
      ORDER BY distance ASC, vec_id ASC
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** The router-chosen LEXICAL tier served END TO END (round 14 —
    * closing the round-13 "routed dispatch menu stops at the graph
    * thunk" gap): a TEXT query goes through
    * [[graft.plans.IvfProbeRewrite.serveRoutedText]], whose decision
    * runs [[graft.search.Router.plan]] under the "text" modality gate
    * — every embedding tier is INELIGIBLE for a term query (Milvus's
    * BM25-vs-vector dispatch), so the shared v2 panel's `bm25_lexical`
    * row (recall 1.0 by definition — it IS the exact scorer for its
    * modality) is chosen, and the serve dispatches to the registered
    * postings-artifact thunk ([[graft.search.Bm25Index.search]] over
    * the SAME artifact the panel measured — pushed `term IN`, never a
    * corpus scan; PlanSpec pins the pushed filter). The naive branch
    * (corpus-scan BM25) exists and is what an unregistered table would
    * serve. The oracle re-derives the modality-gated decision from the
    * staged panel AND replays the BM25 ranking, both branches gated on
    * the re-derived choice — a dispatcher that served the wrong tier
    * hash-mismatches on the tier column. */
  private val routedTextSearch = Q(
    "routed_text_search",
    (s, dir) => {
      import graft.plans.IvfProbeRewrite
      import graft.search.{Bm25Index, Router}
      val e = Tables.embeddings(s, dir)
      val indexDir = s"/tmp/graft_ivfrs_routedt_${math.abs(dir.hashCode)}"
      val model = Fixtures.ivfAt(s, indexDir)(e)
      val sq8Dir = Fixtures.sq8Dir(dir)
      Fixtures.sq8(s, dir)
      // the panel's own lexical artifact — the tier it measured is the
      // tier the thunk serves
      val lexDir = Fixtures.routerLexTermsDir(dir)
      // lexDir is built by routerPanelV2 (Fixtures.routerLexTerms) the first time
      // the panel is constructed — either by the lazy-once staging
      // below or by the decision thunk on a cache miss; a deleted
      // lexDir flips the fingerprint (it is a fingerprint root), so
      // the decision re-measures and rebuilds it
      IvfProbeRewrite.registerRouted(IvfProbeRewrite.RoutedConfig(
        model, nprobe = 4, sq8Dir, sq8Margin = 20,
        idCol = "vec_id", vecCol = "embedding",
        panel = () => routerPanelV2(s, dir),
        tiers = Seq(
          Router.Tier("flat", present = true, filterCapable = true),
          Router.Tier("bm25_lexical", present = true,
            filterCapable = true, modality = "text")),
        flatTier = "flat", ivfTier = "ivf_nprobe4",
        sq8Tier = "sq8_margin20", recallTarget = 0.8,
        memoryBudget = None,
        fingerprintRoots = Seq(indexDir, sq8Dir, lexDir),
        textTier = "bm25_lexical",
        textServe = Some((sp, terms, k) =>
          Bm25Index.search(sp, lexDir, terms, k))))
      stageOracleOnceLazy(s, "routedt", dir)(
        Seq("panel" -> routerPanelV2(s, dir)))
      val tier = IvfProbeRewrite.routedDecisionText(s, indexDir).get
      val terms = Seq("scan", "filter", "merge")
      IvfProbeRewrite.serveRoutedText(s, indexDir, terms, 10) {
        graft.search.Bm25.score(Tables.documents(s, dir), "doc_id",
            "text", terms)
          .orderBy(col("bm25").desc, col("id").asc).limit(10)
      }.select(lit(tier).as("tier"), col("id").as("doc_id"),
        col("bm25"))
    },
    Some("""
      WITH panel AS (SELECT tier, recall, CAST(cost AS BIGINT) AS cost
                     FROM read_parquet(
        '/tmp/graft_routedt_oracle_%ORACLE_KEY%/panel/*.parquet')),
      el AS (SELECT tier, recall, cost,
                    -- text-modality eligibility: of the registered
                    -- tiers {flat, bm25_lexical}, only the lexical one
                    -- carries modality 'text'
                    tier IN ('bm25_lexical') AS eligible
             FROM panel),
      ch AS (SELECT tier AS c FROM el WHERE eligible AND recall >= 0.8
             ORDER BY cost ASC, tier ASC LIMIT 1),
      ch2 AS (SELECT CASE WHEN EXISTS (SELECT 1 FROM ch)
                          THEN (SELECT c FROM ch)
                          ELSE 'flat' END AS c),
      toks AS (SELECT doc_id,
                      unnest(string_split_regex(text, '\s+')) AS term
               FROM documents),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST((SELECT sum(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)))
                             FROM documents) AS DOUBLE) / count(*) AS avgdl
                FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
             WHERE term IN ('scan', 'filter', 'merge')
             GROUP BY doc_id, term),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      dl AS (SELECT doc_id,
                    CAST(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS DOUBLE) AS dl
             FROM documents),
      bm AS (SELECT tf.doc_id,
                    round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                      * (tf * 2.2)
                      / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))), 4)
                      AS bm25
             FROM tf JOIN dfq USING (term)
                     JOIN dl ON dl.doc_id = tf.doc_id
                     CROSS JOIN stats
             GROUP BY tf.doc_id),
      top AS (SELECT doc_id, bm25 FROM bm
              ORDER BY bm25 DESC, doc_id ASC LIMIT 10),
      res AS (
        SELECT doc_id, bm25 FROM top
        WHERE (SELECT c FROM ch2) = 'bm25_lexical'
        UNION ALL
        SELECT doc_id, bm25 FROM top
        WHERE (SELECT c FROM ch2) = 'flat')
      SELECT (SELECT c FROM ch2) AS tier, doc_id, bm25 FROM res
      ORDER BY bm25 DESC, doc_id ASC
    """))

  /** The router-chosen LEARNED-SPARSE tier served END TO END (round 15
    * — the last modality missing from the routed dispatch menu: flat /
    * IVF / SQ8 splice, graph thunk, lexical thunk, now the SPLADE
    * shape): a (dim, weight) query goes through
    * [[graft.plans.IvfProbeRewrite.serveRoutedSparse]], whose decision
    * runs [[graft.search.Router.plan]] under the "sparse" modality
    * gate — every embedding tier is INELIGIBLE for a sparse query, so
    * the extended panel's `sparse_wand` row (recall 1.0 — WAND is
    * lossless, the exact scorer for its modality; cost = the measured
    * posting rows the panel query's dims touch) is chosen and the
    * serve dispatches to [[graft.search.SparseVec.searchWandIndex]]
    * over the stored postings artifact. The naive branch (corpus-scan
    * sparse dot product) is what an unregistered table would serve.
    * The oracle re-derives the modality-gated decision from the staged
    * panel AND replays the exhaustive sparse ranking (sparsify →
    * posting join → score aggregate), both branches gated on the
    * re-derived choice. RewriteSpec pins the modality-keyed decision
    * pair and the vector-path decline. */
  private val routedSparseSearch = Q(
    "routed_sparse_search",
    (s, dir) => {
      import graft.plans.IvfProbeRewrite
      import graft.search.{Router, SparseVec}
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val indexDir = Fixtures.routedSparseIvfDir(dir)
      val model = Fixtures.routedSparseIvf(s, dir)
      val sq8Dir = Fixtures.sq8Dir(dir)
      Fixtures.sq8(s, dir)
      // the sparse tier's own postings artifact — the tier the panel
      // measures is the tier the thunk serves
      val spIdx = Fixtures.routedSparseWand(s, dir)
      val qp = SparseVec.postings(e.where(col("vec_id") === 0),
          "vec_id", "embedding", topN = 8)
        .select(col("dim"), col("w")).collect()
        .map(r => (r.getInt(0), r.getDouble(1))).toSeq.sorted
      // extended panel: the shared v2 rows plus the sparse tier's
      // measured row (cost = posting rows under the panel query's dims)
      def panelSp() = {
        val spCost = SparseVec.readPostings(s, spIdx, "vec_id")
          .where(col("dim").isin(qp.map(_._1): _*)).count()
        val spRows = SparseVec.readPostings(s, spIdx, "vec_id").count()
        routerPanelV2(s, dir).unionByName(
          Seq(("sparse_wand", 1.0, spCost, spRows * 16L))
            .toDF("tier", "recall", "cost", "mem_bytes"))
      }
      IvfProbeRewrite.registerRouted(IvfProbeRewrite.RoutedConfig(
        model, nprobe = 4, sq8Dir, sq8Margin = 20,
        idCol = "vec_id", vecCol = "embedding",
        panel = () => panelSp(),
        tiers = Seq(
          Router.Tier("flat", present = true, filterCapable = true),
          Router.Tier("sparse_wand", present = true,
            filterCapable = true, modality = "sparse")),
        flatTier = "flat", ivfTier = "ivf_nprobe4",
        sq8Tier = "sq8_margin20", recallTarget = 0.8,
        memoryBudget = None,
        fingerprintRoots = Seq(indexDir, sq8Dir, spIdx),
        sparseTier = "sparse_wand",
        sparseServe = Some((sp, q, k) =>
          SparseVec.searchWandIndex(sp, spIdx,
            sp.createDataFrame(q).toDF("dim", "w"), "vec_id", k))))
      // deterministic function of mutateOnce'd fixture state — staged
      // once, constructed once (round 16: the eager form re-counted
      // the postings artifact and re-ran routerPanelV2 every pass)
      stageOracleOnceLazy(s, "routedsp", dir)(
        Seq("panel" -> panelSp()))
      val tier = IvfProbeRewrite.routedDecisionSparse(s, indexDir).get
      IvfProbeRewrite.serveRoutedSparse(s, indexDir, qp, 10) {
        // naive: corpus-scan sparse scoring from the raw embeddings
        SparseVec.search(
          SparseVec.postings(e, "vec_id", "embedding", topN = 8),
          s.createDataFrame(qp).toDF("dim", "w")
            .select(col("dim"), col("w")),
          "vec_id", 10)
      }.select(lit(tier).as("tier"), col("vec_id"), col("score"))
    },
    Some("""
      WITH panel AS (SELECT tier, recall, CAST(cost AS BIGINT) AS cost
                     FROM read_parquet(
        '/tmp/graft_routedsp_oracle_%ORACLE_KEY%/panel/*.parquet')),
      el AS (SELECT tier, recall, cost,
                    -- sparse-modality eligibility: of the registered
                    -- tiers {flat, sparse_wand}, only the sparse one
                    -- carries modality 'sparse'
                    tier IN ('sparse_wand') AS eligible
             FROM panel),
      ch AS (SELECT tier AS c FROM el WHERE eligible AND recall >= 0.8
             ORDER BY cost ASC, tier ASC LIMIT 1),
      ch2 AS (SELECT CASE WHEN EXISTS (SELECT 1 FROM ch)
                          THEN (SELECT c FROM ch)
                          ELSE 'flat' END AS c),
      pr AS (SELECT vec_id, unnest(range(1, len(embedding)+1)) AS dim,
                    unnest(embedding) AS v
             FROM embeddings),
      pw AS (SELECT vec_id, dim, round(CAST(v AS DOUBLE), 4) AS w FROM pr),
      top AS (SELECT vec_id, dim, w FROM (
          SELECT vec_id, dim, w,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY w DESC, dim ASC) AS rn
          FROM pw WHERE w > 0) WHERE rn <= 8),
      q AS (SELECT dim, w AS qw FROM top WHERE vec_id = 0),
      sc AS (SELECT t.vec_id, round(sum(t.w * q.qw), 4) AS score
             FROM top t JOIN q USING (dim) GROUP BY t.vec_id),
      top10 AS (SELECT vec_id, score FROM sc
                ORDER BY score DESC, vec_id ASC LIMIT 10),
      res AS (
        SELECT vec_id, score FROM top10
        WHERE (SELECT c FROM ch2) = 'sparse_wand'
        UNION ALL
        SELECT vec_id, score FROM top10
        WHERE (SELECT c FROM ch2) = 'flat')
      SELECT (SELECT c FROM ch2) AS tier, vec_id, score FROM res
      ORDER BY score DESC, vec_id ASC
    """))

  /** The routed sparse tier's BULK arity (round 16 — Milvus's batch
    * `search(data=[...])` shape through the router):
    * `routed_sparse_search` proved the single-query dispatch, but
    * batch callers still had to hand-pick
    * [[graft.search.SparseVec.searchBulkWandIndex]] AROUND the router.
    * [[graft.plans.IvfProbeRewrite.serveRoutedSparseBulk]] closes
    * that: the whole (qid, dim, w) batch goes through the SAME
    * "sparse"-modality decision (same panel, same fingerprint-keyed
    * cache) and, when the sparse tier wins, serves in ONE
    * shared-doubling WAND pass; the naive branch is the corpus-scan
    * bulk scorer an unregistered table would get. Fixture dirs are
    * SHARED with `routed_sparse_search` (no second k-means, no second
    * postings build — the decision cache key is (path, fingerprint,
    * modality), identical here by construction). The oracle re-derives
    * the modality-gated decision from the staged panel AND replays the
    * three exhaustive per-qid rankings (WAND is lossless), both
    * branches gated on the re-derived choice. */
  private val routedSparseBulkSearch = Q(
    "routed_sparse_bulk_search",
    (s, dir) => {
      import graft.plans.IvfProbeRewrite
      import graft.search.{Router, SparseVec}
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val indexDir = Fixtures.routedSparseIvfDir(dir)
      val model = Fixtures.routedSparseIvf(s, dir)
      val sq8Dir = Fixtures.sq8Dir(dir)
      Fixtures.sq8(s, dir)
      val spIdx = Fixtures.routedSparseWand(s, dir)
      val qp = SparseVec.postings(e.where(col("vec_id").isin(0, 1, 2)),
          "vec_id", "embedding", topN = 8)
        .select(col("vec_id").cast("long").as("qid"), col("dim"),
          col("w"))
      val qDims = qp.select("dim").distinct().collect()
        .map(_.getInt(0)).toSeq
      // extended panel: the shared v2 rows plus the sparse tier's
      // measured row — cost = posting rows under the UNION of the
      // batch's dims, the bulk seek's actual read set. ONE aggregate
      // over ONE artifact read (round-16 review fix: the filtered and
      // total counts were two separate scans, paid on every panel
      // evaluation).
      def panelSp() = {
        val agg = SparseVec.readPostings(s, spIdx, "vec_id")
          .agg(
            coalesce(sum(when(col("dim").isin(qDims: _*), 1L)
              .otherwise(0L)), lit(0L)).as("hit"),
            count(lit(1)).as("all"))
          .collect()(0)
        routerPanelV2(s, dir).unionByName(
          Seq(("sparse_wand", 1.0, agg.getLong(0), agg.getLong(1) * 16L))
            .toDF("tier", "recall", "cost", "mem_bytes"))
      }
      IvfProbeRewrite.registerRouted(IvfProbeRewrite.RoutedConfig(
        model, nprobe = 4, sq8Dir, sq8Margin = 20,
        idCol = "vec_id", vecCol = "embedding",
        panel = () => panelSp(),
        tiers = Seq(
          Router.Tier("flat", present = true, filterCapable = true),
          Router.Tier("sparse_wand", present = true,
            filterCapable = true, modality = "sparse")),
        flatTier = "flat", ivfTier = "ivf_nprobe4",
        sq8Tier = "sq8_margin20", recallTarget = 0.8,
        memoryBudget = None,
        fingerprintRoots = Seq(indexDir, sq8Dir, spIdx),
        sparseTier = "sparse_wand",
        sparseServe = Some((sp, q, k) =>
          SparseVec.searchWandIndex(sp, spIdx,
            sp.createDataFrame(q).toDF("dim", "w"), "vec_id", k)),
        sparseBulkServe = Some((sp, q, k) =>
          SparseVec.searchBulkWandIndex(sp, spIdx, q, "vec_id", k))))
      // deterministic function of mutateOnce'd fixture state — staged
      // once, like the decision itself is cached per fingerprint;
      // LAZY (round 16): the eager varargs form constructed the panel
      // (postings aggregate + routerPanelV2) every pass before the
      // marker skipped the write
      stageOracleOnceLazy(s, "routedspb", dir)(
        Seq("panel" -> panelSp()))
      val tier = IvfProbeRewrite.routedDecisionSparse(s, indexDir).get
      IvfProbeRewrite.serveRoutedSparseBulk(s, indexDir, qp, 5) {
        // naive: corpus-scan bulk scoring from the raw embeddings —
        // what an unregistered table would serve
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"))
          .orderBy(col("score").desc, col("vec_id").asc)
        SparseVec.postings(e, "vec_id", "embedding", topN = 8)
          .join(broadcast(qp.withColumnRenamed("w", "qw")), Seq("dim"))
          .groupBy(col("qid"), col("vec_id"))
          .agg(round(sum(col("w") * col("qw")), 4).as("score"))
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") <= 5).drop("__rn")
      }.select(lit(tier).as("tier"), col("qid"), col("vec_id"),
          col("score"))
        .orderBy(col("qid").asc, col("score").desc, col("vec_id").asc)
    },
    Some("""
      WITH panel AS (SELECT tier, recall, CAST(cost AS BIGINT) AS cost
                     FROM read_parquet(
        '/tmp/graft_routedspb_oracle_%ORACLE_KEY%/panel/*.parquet')),
      el AS (SELECT tier, recall, cost,
                    -- sparse-modality eligibility: of the registered
                    -- tiers {flat, sparse_wand}, only the sparse one
                    -- carries modality 'sparse'
                    tier IN ('sparse_wand') AS eligible
             FROM panel),
      ch AS (SELECT tier AS c FROM el WHERE eligible AND recall >= 0.8
             ORDER BY cost ASC, tier ASC LIMIT 1),
      ch2 AS (SELECT CASE WHEN EXISTS (SELECT 1 FROM ch)
                          THEN (SELECT c FROM ch)
                          ELSE 'flat' END AS c),
      pr AS (SELECT vec_id, unnest(range(1, len(embedding)+1)) AS dim,
                    unnest(embedding) AS v
             FROM embeddings),
      pw AS (SELECT vec_id, dim, round(CAST(v AS DOUBLE), 4) AS w FROM pr),
      top AS (SELECT vec_id, dim, w FROM (
          SELECT vec_id, dim, w,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY w DESC, dim ASC) AS rn
          FROM pw WHERE w > 0) WHERE rn <= 8),
      q AS (SELECT vec_id AS qid, dim, w AS qw FROM top
            WHERE vec_id IN (0, 1, 2)),
      sc AS (SELECT q.qid, t.vec_id, round(sum(t.w * q.qw), 4) AS score
             FROM top t JOIN q USING (dim) GROUP BY q.qid, t.vec_id),
      rk AS (SELECT qid, vec_id, score,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY score DESC, vec_id ASC) AS rn
             FROM sc),
      top5 AS (SELECT CAST(qid AS BIGINT) AS qid, vec_id, score
               FROM rk WHERE rn <= 5),
      res AS (
        SELECT qid, vec_id, score FROM top5
        WHERE (SELECT c FROM ch2) = 'sparse_wand'
        UNION ALL
        SELECT qid, vec_id, score FROM top5
        WHERE (SELECT c FROM ch2) = 'flat')
      SELECT (SELECT c FROM ch2) AS tier, qid, vec_id, score FROM res
      ORDER BY qid ASC, score DESC, vec_id ASC
    """))

  /** M1-M3: strategy fan-out + first-wins dedup + final re-rank. */
  private val multiStrategySearch = Q(
    "multi_strategy_search",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 50).as("dkey"))
      val corpus = e.join(broadcast(d), e("vec_id") === d("doc_id")).drop("doc_id")
      // direct (rank 1, k=6=topK*2), two keyword sub-queries (rank 2, k=2),
      // one chunk sub-query (rank 3, k=1) — reference fan-out shape
      // (src/app.py:276-289) over literal query vectors.
      val strategies = e.where(col("vec_id").isin(0, 1, 2, 3))
        .select(
          when(col("vec_id") === 0, 1).when(col("vec_id") === 3, 3)
            .otherwise(2).as("strategy_rank"),
          col("vec_id").cast("int").as("sub_idx"),
          when(col("vec_id") === 0, 6).when(col("vec_id") === 3, 1)
            .otherwise(2).as("k"),
          col("embedding").as("qe"))
      MultiStrategy.search(corpus, "embedding", "vec_id", "dkey",
          strategies, topK = 3, scoreThreshold = -1.0)
        .select(col("vec_id"), col("strategy_rank").cast("long").as("strategy_rank"),
          col("distance"), col("score"))
        .orderBy(col("score").desc, col("vec_id").asc)
    },
    Some("""
      WITH docs AS (SELECT doc_id, substr(text, 1, 50) AS dkey FROM documents),
      corpus AS (SELECT e.vec_id, e.embedding, dkey
                 FROM embeddings e JOIN docs ON doc_id = vec_id),
      qs(strategy_rank, sub_idx, k, qid) AS (
        VALUES (1, 0, 6, 0), (2, 1, 2, 1), (2, 2, 2, 2), (3, 3, 1, 3)),
      qv AS (SELECT strategy_rank, sub_idx, k, embedding AS qe
             FROM qs JOIN embeddings ON vec_id = qid),
      d AS (SELECT strategy_rank, sub_idx, k, c.vec_id, dkey, %L2% AS distance
            FROM corpus c, qv),
      ofetch AS (SELECT *, row_number() OVER (PARTITION BY strategy_rank, sub_idx
                   ORDER BY distance, vec_id) AS fetch_rn FROM d),
      th AS (SELECT *, 1.0 - distance AS score FROM ofetch
             WHERE fetch_rn <= k * 3 AND 1.0 - distance >= -1.0),
      pq AS (SELECT *, row_number() OVER (PARTITION BY strategy_rank, sub_idx
               ORDER BY score DESC, vec_id) AS q_rn FROM th),
      kept AS (SELECT * FROM pq WHERE q_rn <= k),
      intra AS (SELECT *, row_number() OVER (PARTITION BY strategy_rank
                  ORDER BY sub_idx, distance, vec_id) AS intra_rank FROM kept),
      dd AS (SELECT *, row_number() OVER (PARTITION BY dkey
               ORDER BY strategy_rank, intra_rank) AS dup_rn FROM intra)
      SELECT vec_id, CAST(strategy_rank AS BIGINT) AS strategy_rank,
             distance, score
      FROM dd WHERE dup_rn = 1
      ORDER BY score DESC, vec_id ASC LIMIT 3
    """.replace("%L2%", duckL2("c.embedding", "qv.qe"))))

  /** I7: chapter-block parser over a deterministic synthetic paste. */
  private val chapterParse = Q(
    "chapter_parse",
    (s, dir) => {
      val numerals = Seq("一", "二", "三")
      val lines = Tables.documents(s, dir).where(col("doc_id") < 30)
        .select(col("doc_id").as("line_no"),
          when(col("doc_id") % 10 === 0,
            concat(lit("第"),
              element_at(typedlit(numerals), (col("doc_id") / 10).cast("int") + 1),
              lit("章")))
            .otherwise(substring(col("text"), 1, 40)).as("line"))
      Loaders.parseChapterBlocks(lines)
        .orderBy(col("block_id").asc)
    },
    Some("""
      WITH lines AS (
        SELECT doc_id AS line_no,
               CASE WHEN doc_id % 10 = 0
                 THEN '第' || (['一','二','三'])[CAST(doc_id/10 AS INTEGER)+1] || '章'
                 ELSE substr(text, 1, 40) END AS line
        FROM documents WHERE doc_id < 30),
      t AS (SELECT line_no, trim(line) AS line FROM lines
            WHERE trim(line) != ''),
      m AS (SELECT line_no, line,
              CASE WHEN regexp_matches(line, '^第[零一二三四五六七八九十百千]+章')
                     OR contains(line, '章节') THEN 1 ELSE 0 END AS is_marker
            FROM t),
      b AS (SELECT *,
              CAST(sum(is_marker) OVER (ORDER BY line_no
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS block_id,
              last_value(CASE WHEN is_marker = 1 THEN line END IGNORE NULLS)
                OVER (ORDER BY line_no ROWS UNBOUNDED PRECEDING) AS chapter
            FROM m)
      SELECT block_id, chapter,
             trim(string_agg(line, ' ' ORDER BY line_no)) AS content
      FROM b WHERE is_marker = 0 AND chapter IS NOT NULL
      GROUP BY block_id, chapter
      ORDER BY block_id ASC
    """))

  /** S5/S6/I1/I2/I4 round-trip: create collection, ingest preprocessed
    * docs with dense ids, read back, aggregate. */
  private val collectionRoundtrip = Q(
    "collection_roundtrip",
    (s, dir) => {
      // its own dir: this entry re-creates its collection on every run,
      // which must not drop the stored one collection_point_get reads
      val coll = Collection(s,
        s"/tmp/graft_coll_${math.abs(dir.hashCode)}/roundtrip")
      val rows = Fixtures.knowledgeRows(s, dir)
      coll.create(rows.schema, force = true)
      coll.append(rows)
      coll.read.agg(count(lit(1)).as("n_rows"), max(col("id")).as("max_id"),
        countDistinct(col("chapter")).as("n_chapters"))
    },
    Some("""
      WITH c AS (
        SELECT doc_id, source AS chapter,
               trim(regexp_replace(regexp_replace(text,
                 '[^\w一-鿿\s.,!?;:，。！？；：]', '', 'g'), '\s+', ' ', 'g'))
                 AS content
        FROM documents),
      f AS (SELECT * FROM c WHERE length(content) >= 10),
      ids AS (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id, chapter
              FROM f)
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(max(id) AS BIGINT) AS max_id,
             CAST(count(DISTINCT chapter) AS BIGINT) AS n_chapters
      FROM ids
    """))

  /** Collection TTL serve (Milvus `collection.ttl.seconds` parity,
    * round 14): rows are stamped with an ingest timestamp at append
    * ([[graft.core.Collection.appendStamped]] — deterministic epoch +
    * doc_id seconds here, the replayability discipline), the TTL is a
    * collection PROPERTY (the `_graft_props.json` sidecar, carried
    * through every crash-safe rewrite like the schema sidecar), and
    * [[graft.core.Collection.readLive]] masks expired rows at serve
    * time with one pushable comparison — expiry is visible immediately,
    * physical reclamation is maintenance (`collection_ttl_reclaim`).
    * The oracle replays expiry from the raw timestamps: ingest epoch
    * 1704067200+doc_id, ttl 20 s, asOf epoch 1704067230 ⇒ live iff
    * doc_id + 20 > 30. */
  private val collectionTtlServe = Q(
    "collection_ttl_serve",
    (s, dir) => {
      val coll = Fixtures.ttlCollection(s, dir)
      coll.readLive(timestamp_seconds(lit(1704067230L)))
        .select(col("doc_id"), col("source"),
          col(Collection.IngestTsCol).cast("long").as("ingest_epoch"))
        .orderBy(col("doc_id").asc)
    },
    Some("""
      SELECT doc_id, source,
             CAST(1704067200 + doc_id AS BIGINT) AS ingest_epoch
      FROM documents
      WHERE doc_id + 20 > 30
      ORDER BY doc_id ASC
    """))

  /** [[graft.core.Collection.reclaimExpired]] — the physical fold that
    * repays `collection_ttl_serve`'s serve-time mask, under the same
    * crash-safe tmp/rename swap as compaction (sidecars — schema AND
    * the TTL property — survive the swap; OperatorSpec pins
    * idempotence). The entry reclaims on a throwaway twin of the serve
    * fixture and reports the post-reclaim [[graft.core.Collection
    * .ttlDebt]] counters: expired debt must be ZERO and the live count
    * must equal the serve mask's — a reclaim that dropped too much or
    * too little hash-mismatches. */
  private val collectionTtlReclaim = Q(
    "collection_ttl_reclaim",
    (s, dir) => {
      val out = s"/tmp/graft_ttl_${math.abs(dir.hashCode)}/reclaim"
      val coll = Collection(s, out)
      val asOf = timestamp_seconds(lit(1704067230L))
      mutateOnce(s, out) {
        Artifacts.copyLocalDir(Fixtures.ttlCollection(s, dir).dir, out)
        coll.reclaimExpired(asOf)
      }
      coll.ttlDebt(asOf)
    },
    Some("""
      SELECT CAST(0 AS BIGINT) AS expired_rows,
             CAST(count(*) FILTER (WHERE doc_id + 20 > 30) AS BIGINT)
               AS live_rows
      FROM documents
    """))

  /** The TTL policy row ([[graft.search.Maintenance.planTtl]] — the
    * observe→plan discipline applied to collection expiry): at a later
    * asOf the serve fixture's expired-but-present debt exceeds 10% of
    * the collection, so `reclaim_expired` TRIGGERS. Metric, threshold,
    * and the trigger bit are all replayed by the oracle from the raw
    * timestamps — the same inspectable-arithmetic contract as
    * `index_maintenance_plan`. */
  private val collectionTtlPlan = Q(
    "collection_ttl_plan",
    (s, dir) => {
      val coll = Fixtures.ttlCollection(s, dir)
      graft.search.Maintenance.planTtl(s, coll.dir,
        timestamp_seconds(lit(1704067400L)))
    },
    Some("""
      SELECT 'reclaim_expired' AS action,
             CAST(count(*) FILTER (WHERE doc_id + 20 <= 200) AS BIGINT)
               AS metric,
             CAST(floor(count(*) * 0.10) AS BIGINT) AS threshold,
             count(*) FILTER (WHERE doc_id + 20 <= 200)
               > floor(count(*) * 0.10) AS triggered
      FROM documents
    """))

  /** TTL reaching DERIVED-INDEX serving (round 15 — closing the
    * round-14 gap: [[graft.core.Collection.readLive]] masked the
    * collection, but an IVF built over it kept serving expired rows
    * until reclaim + reconcile). [[graft.search.IndexSync
    * .syncTtlTombstones]] records the collection's expired keys
    * ([[graft.core.Collection.expiredKeys]] at a pinned asOf) as index
    * TOMBSTONES — a bounded key append, no artifact rewrite — and the
    * standard masked serve (every index family anti-joins the same
    * tombstone table) now excludes them. Full-probe IVF over the TTL'd
    * collection must equal exact search over the LIVE corpus, which
    * the oracle replays from raw ingest timestamps (epoch
    * 1704067200+vec_id, ttl 20 s, asOf 1704067230 ⇒ live iff
    * vec_id > 10). OperatorSpec pins sync idempotence and the
    * reclaim→reconcile composition (reconcile finds nothing left to
    * repair). */
  private val ttlIndexServe = Q(
    "ttl_index_serve",
    (s, dir) => {
      import graft.search.IndexSync
      val e = Tables.embeddings(s, dir)
      val base = s"/tmp/graft_ttlivf_${math.abs(dir.hashCode)}"
      val out = s"$base/coll"
      val idx = s"$base/ivf"
      val coll = Collection(s, out)
      val asOf = timestamp_seconds(lit(1704067230L))
      rebuildOnce(s, base) {
        coll.appendStamped(e.select(col("vec_id"), col("embedding")),
          timestamp_seconds(lit(1704067200L) + col("vec_id")))
        coll.setTtlSeconds(20)
        IvfIndex.build(coll.read.select("vec_id", "embedding"),
          "embedding", idx, nlist = 16)
        IndexSync.syncTtlTombstones(s, coll, "vec_id", asOf, idx,
          "vec_id")
      }
      val model = IvfIndex.load(s, idx)
      val query = Fixtures.queryVector(e)
      IvfIndex.search(s, model, "embedding", "vec_id", query, k = 5,
          nprobe = model.nlist)
        .select("vec_id", "distance")
    },
    Some(s"""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      live AS (SELECT vec_id, embedding FROM embeddings
               WHERE (1704067200 + vec_id) + 20 > 1704067230)
      SELECT e.vec_id, %L2% AS distance FROM live e, q
      ORDER BY distance ASC, e.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** The TTL→index DRIFT policy row
    * ([[graft.search.Maintenance.planTtlSync]] — the observe half of
    * `ttl_index_serve`'s bridge, completing the observe→plan→verb loop:
    * `sync_ttl_tombstones` fires when expired-but-still-served keys
    * exceed 10% of the collection, and
    * [[graft.search.IndexSync.syncTtlTombstones]] is the verb that
    * clears it). TWO indexes over the same TTL'd collection: one never
    * synced (181 expired keys at this asOf — TRIGGERED at sf0.001's
    * corpus size), one synced at the same clock (metric 0 by the
    * sync's idempotence anti-join — the
    * trigger-clears-after-maintenance contract). Metric, threshold,
    * and both trigger bits replay from raw timestamps. */
  private val ttlSyncPlan = Q(
    "ttl_sync_plan",
    (s, dir) => {
      import graft.search.{IndexSync, Maintenance}
      val e = Tables.embeddings(s, dir)
      val base = s"/tmp/graft_ttlsync_${math.abs(dir.hashCode)}"
      val out = s"$base/coll"
      val idxU = s"$base/ivf_unsynced"
      val idxS = s"$base/ivf_synced"
      val coll = Collection(s, out)
      val asOf = timestamp_seconds(lit(1704067400L))
      rebuildOnce(s, base) {
        coll.appendStamped(e.select(col("vec_id"), col("embedding")),
          timestamp_seconds(lit(1704067200L) + col("vec_id")))
        coll.setTtlSeconds(20)
        IvfIndex.build(coll.read.select("vec_id", "embedding"),
          "embedding", idxU, nlist = 16)
        // the synced twin differs ONLY in tombstone state — copy the
        // built artifact instead of paying a second k-means build
        Artifacts.copyLocalDir(idxU, idxS)
        IndexSync.syncTtlTombstones(s, coll, "vec_id", asOf, idxS,
          "vec_id")
      }
      Maintenance.planTtlSync(s, out, "vec_id", asOf, idxU, "vec_id")
        .withColumn("which", lit("unsynced"))
        .unionByName(
          Maintenance.planTtlSync(s, out, "vec_id", asOf, idxS, "vec_id")
            .withColumn("which", lit("synced")))
        .orderBy(col("which").asc)
    },
    Some("""
      WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM embeddings),
      ex AS (SELECT CAST(count(*) FILTER (WHERE vec_id + 20 <= 200)
                    AS BIGINT) AS c
             FROM embeddings)
      SELECT 'sync_ttl_tombstones' AS action, ex.c AS metric,
             CAST(floor(n.c * 0.10) AS BIGINT) AS threshold,
             ex.c > floor(n.c * 0.10) AS triggered,
             'unsynced' AS which
      FROM ex, n
      UNION ALL
      SELECT 'sync_ttl_tombstones', CAST(0 AS BIGINT),
             CAST(floor(n.c * 0.10) AS BIGINT), false, 'synced'
      FROM n
      ORDER BY which ASC
    """))

  /** R1: top-3 hits joined to documents, numbered markdown context. */
  private val ragContextLines = Q(
    "rag_context_lines",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      val hits = Knn.topK(e, "embedding", "vec_id", q, "qe", k = 3)
        .withColumn("ctx_rank", row_number().over(
          Window.orderBy(col("distance").asc, col("vec_id").asc)).cast("long"))
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), substring(col("text"), 1, 40).as("content"))
      Compose.contextLines(
          hits.join(broadcast(d), hits("vec_id") === d("doc_id")),
          "ctx_rank", "source", "content")
        .orderBy(col("ctx_rank").asc)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      d AS (SELECT e.vec_id, %L2% AS distance FROM embeddings e, q),
      top AS (SELECT vec_id, distance FROM d
              ORDER BY distance ASC, vec_id ASC LIMIT 3),
      r AS (SELECT vec_id,
              CAST(row_number() OVER (ORDER BY distance, vec_id) AS BIGINT)
                AS ctx_rank
            FROM top)
      SELECT ctx_rank,
             printf('%d. **%s**: %s', ctx_rank, source, substr(text, 1, 40))
               AS line
      FROM r JOIN documents ON doc_id = vec_id
      ORDER BY ctx_rank ASC
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** M4 end-to-end from query TEXT (reference keyword_enhanced_search,
    * src/app.py:305-317): extract keywords (cap 3), embed each with the
    * same featurizer as the corpus, per-keyword kNN (k=2), concatenate.
    * Fully oracle-backed: the HashingEmbedder and keyword extraction are
    * both reproduced in DuckDB (see [[DuckOracle]]); ranking happens on
    * the unrounded distance in both engines, output is rounded to 4dp. */
  private val keywordTextSearch = Q(
    "keyword_text_search",
    (s, dir) => {
      import s.implicits._
      val kws = graft.text.Keywords.extractLocal(KeywordQueryText, k = 3)
      val embedder = new HashingEmbedder(64)
      val strategies = kws.zip(embedder.embed(kws)).zipWithIndex.map {
        case ((kw, v), i) => (i.toLong, kw, v)
      }.toDF("sub_idx", "keyword", "qe")
      val corpus = Embed.withEmbeddings(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "text", "embedding", embedder)
      Knn.knnJoinLarge(corpus, "embedding", "doc_id", strategies,
          "sub_idx", "qe", k = 2)
        .join(broadcast(strategies.select(col("sub_idx"), col("keyword"))),
          Seq("sub_idx"))
        .select(col("sub_idx"), col("keyword"), col("doc_id"), col("distance"))
        .orderBy(col("sub_idx").asc, col("distance").asc, col("doc_id").asc)
    },
    Some(s"""
      WITH
      ${DuckOracle.keywordsCte(KeywordQueryText)},
      ${DuckOracle.hashEmbedCtes("c_", "SELECT doc_id AS id, text FROM documents")},
      ${DuckOracle.hashEmbedCtes("q_", "SELECT id, text FROM kws")},
      ${DuckOracle.l2DistCte("dist", "c_", "q_")},
      r AS (SELECT qid, id, round(distance, 4) AS distance,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY round(distance, 4), id) AS rn
            FROM dist)
      SELECT r.qid AS sub_idx, k.text AS keyword, r.id AS doc_id, r.distance
      FROM r JOIN kws k ON k.id = r.qid
      WHERE rn <= 2
      ORDER BY sub_idx ASC, r.distance ASC, doc_id ASC
    """))

  /** M5 end-to-end from query TEXT (reference chunk_search,
    * src/app.py:319-330): punctuation split → trim → len>5 → first 2 →
    * embed each chunk → per-chunk kNN (k=1). Oracle-backed via the
    * DuckDB hashing-embedder mirror; guard/caps/order also pinned in
    * TextSearchSpec. */
  private val chunkTextSearch = Q(
    "chunk_text_search",
    (s, dir) =>
      TextSearch.chunkSearch(s,
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          "doc_id", "text", ChunkQueryText, new HashingEmbedder(64))
        .orderBy(col("chunk_rank").asc, col("distance").asc,
          col("doc_id").asc),
    Some(s"""
      WITH
      ${DuckOracle.chunksCte(ChunkQueryText)},
      ${DuckOracle.hashEmbedCtes("c_", "SELECT doc_id AS id, text FROM documents")},
      ${DuckOracle.hashEmbedCtes("q_", "SELECT id, text FROM chq")},
      ${DuckOracle.l2DistCte("dist", "c_", "q_")},
      r AS (SELECT qid, id, round(distance, 4) AS distance,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY round(distance, 4), id) AS rn
            FROM dist)
      SELECT r.qid AS chunk_rank, k.text AS chunk, r.id AS doc_id, r.distance
      FROM r JOIN chq k ON k.id = r.qid
      WHERE rn <= 1
      ORDER BY chunk_rank ASC, r.distance ASC, doc_id ASC
    """))

  /** The flagship reference path end-to-end from raw text
    * (answer_question → multi_strategy_search, src/app.py:370-384 →
    * 276-303): direct + keyword + chunk strategies assembled from ONE
    * question string, embedded, and run as a single MultiStrategy pass
    * (corpus scanned once). Threshold -1.0 instead of the reference's
    * 0.3 because HashingEmbedder distances are not on the
    * sentence-transformer scale; the threshold semantics themselves are
    * pinned in KnnSpec. */
  private val questionAnswerPipeline = Q(
    "question_answer_pipeline",
    (s, dir) =>
      TextSearch.questionSearch(s,
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          "doc_id", "text", QuestionText, new HashingEmbedder(64),
          topK = 3, scoreThreshold = -1.0, roundTo = 4)
        .select(col("doc_id"), col("strategy_rank").cast("long").as("strategy_rank"),
          col("distance"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc),
    Some(s"""
      WITH
      ${DuckOracle.keywordsCte(QuestionText)},
      ${DuckOracle.chunksCte(QuestionText)},
      qs AS (
        SELECT 1 AS strategy_rank, 0 AS sub_idx, 6 AS k,
               '$QuestionText' AS text
        UNION ALL
        SELECT 2, CAST(id + 1 AS INTEGER), 2, text FROM kws
        UNION ALL
        SELECT 3, CAST((SELECT count(*) FROM kws) + id AS INTEGER), 1, text
        FROM chq),
      ${DuckOracle.hashEmbedCtes("c_", "SELECT doc_id AS id, text FROM documents")},
      ${DuckOracle.hashEmbedCtes("q_", "SELECT sub_idx AS id, text FROM qs")},
      ${DuckOracle.l2DistCte("dist", "c_", "q_")},
      d2 AS (SELECT q.strategy_rank, q.sub_idx, q.k, dist.id AS doc_id,
                    round(dist.distance, 4) AS distance
             FROM dist JOIN qs q ON q.sub_idx = dist.qid),
      j AS (SELECT d2.*, substr(doc.text, 1, 50) AS dkey
            FROM d2 JOIN documents doc USING (doc_id)),
      ofetch AS (SELECT *, row_number() OVER (PARTITION BY strategy_rank,
                   sub_idx ORDER BY distance, doc_id) AS fetch_rn FROM j),
      th AS (SELECT *, 1.0 - distance AS score FROM ofetch
             WHERE fetch_rn <= k * 3 AND 1.0 - distance >= -1.0),
      pq AS (SELECT *, row_number() OVER (PARTITION BY strategy_rank,
               sub_idx ORDER BY score DESC, doc_id) AS q_rn FROM th),
      kept AS (SELECT * FROM pq WHERE q_rn <= k),
      intra AS (SELECT *, row_number() OVER (PARTITION BY strategy_rank
                  ORDER BY sub_idx, distance, doc_id) AS intra_rank FROM kept),
      dd AS (SELECT *, row_number() OVER (PARTITION BY dkey
               ORDER BY strategy_rank, intra_rank) AS dup_rn FROM intra)
      SELECT doc_id, CAST(strategy_rank AS BIGINT) AS strategy_rank,
             distance, round(1.0 - distance, 4) AS score
      FROM dd WHERE dup_rn = 1
      ORDER BY score DESC, doc_id ASC LIMIT 3
    """))

  /** I3: batched deterministic embedding ingest. The HashingEmbedder is
    * md5-bucketed term counts (bucket = first 4 md5 bytes mod dim), so a
    * DuckDB oracle reproduces it exactly: the projection exposes
    * integer-exact features of the vector (non-zero count, first argmax
    * bucket) plus the rounded squared norm — full cross-engine
    * verification of the embedding pipeline, not just a row count. */
  private val embedIngest = Q(
    "embed_ingest",
    (s, dir) => {
      val docs = Preprocess(
        Tables.documents(s, dir).select(col("doc_id"), col("text")), "text")
      Embed.withEmbeddings(docs, "text_clean", "embedding",
          new HashingEmbedder(64), batchSize = 100)
        .select(col("doc_id"),
          size(col("embedding")).cast("long").as("dim"),
          size(filter(col("embedding"), x => x =!= lit(0.0f))).cast("long")
            .as("nnz"),
          (array_position(col("embedding"), array_max(col("embedding"))) - 1)
            .cast("long").as("top_bucket"),
          round(VectorFunctions.dot(col("embedding"), col("embedding")), 4)
            .as("sq_norm"))
        .orderBy(col("doc_id").asc)
    },
    Some("""
      WITH c AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(text,
                 '[^\w一-鿿\s.,!?;:，。！？；：]', '', 'g'), '\s+', ' ', 'g'))
                 AS content
        FROM documents),
      f AS (SELECT doc_id, content FROM c WHERE length(content) >= 10),
      tok AS (SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(content),
                       '\s+'), t -> t != '')) AS t
              FROM f),
      b AS (SELECT doc_id, CAST(%BUCKET% % 64 AS BIGINT) AS bucket
            FROM (SELECT doc_id, md5(t) AS m FROM tok)),
      cnt AS (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY 1, 2),
      mx AS (SELECT *, max(c) OVER (PARTITION BY doc_id) AS max_c FROM cnt),
      agg AS (SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS nnz,
                     CAST(min(bucket) FILTER (WHERE c = max_c) AS BIGINT)
                       AS top_bucket
              FROM mx GROUP BY doc_id)
      SELECT f.doc_id, CAST(64 AS BIGINT) AS dim,
             coalesce(a.nnz, 0) AS nnz,
             coalesce(a.top_bucket, 0) AS top_bucket,
             CASE WHEN coalesce(a.nnz, 0) > 0 THEN 1.0 ELSE 0.0 END AS sq_norm
      FROM f LEFT JOIN agg a USING (doc_id)
      ORDER BY f.doc_id ASC
    """.replace("%BUCKET%", DuckOracle.md5Bucket32)))

  /** The SESSION-encoder ingest twin
    * ([[graft.ingest.Embed.withEmbeddingsSession]], round 13 — the
    * ONNX/JNI seam): identical pipeline to `embed_ingest`, but the
    * encoder arrives as a per-partition FACTORY (the non-serializable
    * model-session lifecycle a real ONNX Runtime `OrtSession` needs:
    * instantiate once per partition, bounded batches, close on drain —
    * OperatorSpec pins open/close counts and the batch bound). The
    * deterministic hashing encoder stands in for the model, so the
    * SAME md5-bucket oracle hash-checks the session path end to end:
    * batching and lifecycle must not change a single vector. */
  private val embedSessionIngest = Q(
    "embed_session_ingest",
    (s, dir) => {
      val docs = Preprocess(
        Tables.documents(s, dir).select(col("doc_id"), col("text")), "text")
      Embed.withEmbeddingsSession(docs, "text_clean", "embedding",
          () => new graft.ingest.SessionEncoder {
            private val inner = new HashingEmbedder(64)
            override def dim: Int = 64
            override def encode(ts: Seq[String]): Seq[Array[Float]] =
              inner.embed(ts)
          }, batchSize = 100)
        .select(col("doc_id"),
          size(col("embedding")).cast("long").as("dim"),
          size(filter(col("embedding"), x => x =!= lit(0.0f))).cast("long")
            .as("nnz"),
          (array_position(col("embedding"), array_max(col("embedding"))) - 1)
            .cast("long").as("top_bucket"),
          round(VectorFunctions.dot(col("embedding"), col("embedding")), 4)
            .as("sq_norm"))
        .orderBy(col("doc_id").asc)
    },
    Some("""
      WITH c AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(text,
                 '[^\w一-鿿\s.,!?;:，。！？；：]', '', 'g'), '\s+', ' ', 'g'))
                 AS content
        FROM documents),
      f AS (SELECT doc_id, content FROM c WHERE length(content) >= 10),
      tok AS (SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(content),
                       '\s+'), t -> t != '')) AS t
              FROM f),
      b AS (SELECT doc_id, CAST(%BUCKET% % 64 AS BIGINT) AS bucket
            FROM (SELECT doc_id, md5(t) AS m FROM tok)),
      cnt AS (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY 1, 2),
      mx AS (SELECT *, max(c) OVER (PARTITION BY doc_id) AS max_c FROM cnt),
      agg AS (SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS nnz,
                     CAST(min(bucket) FILTER (WHERE c = max_c) AS BIGINT)
                       AS top_bucket
              FROM mx GROUP BY doc_id)
      SELECT f.doc_id, CAST(64 AS BIGINT) AS dim,
             coalesce(a.nnz, 0) AS nnz,
             coalesce(a.top_bucket, 0) AS top_bucket,
             CASE WHEN coalesce(a.nnz, 0) > 0 THEN 1.0 ELSE 0.0 END AS sq_norm
      FROM f LEFT JOIN agg a USING (doc_id)
      ORDER BY f.doc_id ASC
    """.replace("%BUCKET%", DuckOracle.md5Bucket32)))

  /** MERGE-by-key upsert: base = customers with custkey % 3 != 0,
    * updates = customers with custkey % 2 = 0 and +1000 balance — so the
    * update batch both replaces existing keys (key % 6 ∈ {2,4}) and
    * inserts brand-new ones (key % 6 = 0), exercising both MERGE arms.
    * Result is read back from the swapped-in parquet, so the oracle
    * checks the full write→merge→rewrite path, not just the plan. */
  private val collectionUpsert = Q(
    "collection_upsert",
    (s, dir) => {
      val out = s"/tmp/graft_upsert_${math.abs(dir.hashCode)}/cust"
      val coll = Collection(s, out)
      val base = Tables.customer(s, dir)
        .where(col("c_custkey") % 3 =!= 0)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      val upd = Tables.customer(s, dir)
        .where(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal") + 1000, 2).as("c_acctbal"))
      coll.create(base.schema, force = true)
      coll.append(base)
      coll.upsert(upd, "c_custkey")
      coll.read.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal")), 2).as("total_bal"))
        .orderBy(col("c_mktsegment").asc)
    },
    Some("""
      WITH base AS (SELECT c_custkey, c_mktsegment, c_acctbal
                    FROM customer WHERE c_custkey % 3 <> 0),
      upd AS (SELECT c_custkey, c_mktsegment,
                     round(c_acctbal + 1000, 2) AS c_acctbal
              FROM customer WHERE c_custkey % 2 = 0),
      merged AS (SELECT * FROM upd
                 UNION ALL
                 SELECT * FROM base
                 WHERE c_custkey NOT IN (SELECT c_custkey FROM upd))
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
             round(sum(c_acctbal), 2) AS total_bal
      FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment ASC
    """))

  /** DELETE-by-expression (Milvus delete parity — see
    * [[graft.core.Collection.delete]]): load documents, delete the short
    * French/German rows, read back survivors per language. The oracle
    * checks the full write → delete-rewrite → read-back path, so a
    * predicate-inversion or swap bug shows up as wrong surviving rows,
    * not just a wrong plan. */
  private val collectionDeleteExpr = Q(
    "collection_delete_expr",
    (s, dir) => {
      val out = s"/tmp/graft_delete_${math.abs(dir.hashCode)}/docs"
      val coll = Collection(s, out)
      val docs = Tables.documents(s, dir)
        .select("doc_id", "lang", "n_chars")
      coll.create(docs.schema, force = true)
      coll.append(docs)
      coll.delete(col("lang").isin("fr", "de") && col("n_chars") < 300)
      coll.read.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("lang").asc)
    },
    Some("""
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents
      -- NULL-keep parity with Collection.delete's coalesce(pred, false):
      -- a NULL predicate row SURVIVES the delete on both engines
      WHERE NOT coalesce(lang IN ('fr', 'de') AND n_chars < 300, false)
      GROUP BY lang ORDER BY lang ASC
    """))

  /** Schema evolution: a v2 batch lands with a NEW column; a mergeSchema
    * read surfaces v1 rows with NULL there — no rewrite of old files. */
  private val collectionSchemaEvolution = Q(
    "collection_schema_evolution",
    (s, dir) => {
      val out = s"/tmp/graft_evolve_${math.abs(dir.hashCode)}/cust"
      val coll = Collection(s, out)
      val v1 = Tables.customer(s, dir)
        .where(col("c_custkey") % 2 === 1)
        .select("c_custkey", "c_acctbal")
      val v2 = Tables.customer(s, dir)
        .where(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_acctbal"),
          col("c_mktsegment").as("c_segment"))
      coll.create(v1.schema, force = true)
      coll.append(v1)
      coll.append(v2)
      coll.readMerged
        .groupBy(coalesce(col("c_segment"), lit("v1_rows")).as("segment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal")), 2).as("total_bal"))
        .orderBy(col("segment").asc)
    },
    Some("""
      WITH v AS (
        SELECT c_custkey, c_acctbal, NULL AS c_segment
        FROM customer WHERE c_custkey % 2 = 1
        UNION ALL
        SELECT c_custkey, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 2 = 0)
      SELECT coalesce(c_segment, 'v1_rows') AS segment,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(c_acctbal), 2) AS total_bal
      FROM v GROUP BY 1 ORDER BY segment ASC
    """))

  /** Late-interaction retrieval (the ColBERT maxsim shape, Khattab &
    * Zaharia 2020): documents are represented by MULTIPLE vectors (one
    * per chunk, through the same batched embedder seam as
    * `embed_ingest`), and a document's score against a multi-term query
    * is Σ over query terms of the MAX dot product across the document's
    * chunk vectors — fine-grained term-to-passage matching a single
    * pooled vector cannot express. Plan shape: chunk explode → embed map
    * work → cross join against the BROADCAST 4-term query side → two
    * hash aggregations (max per (doc, term), sum per doc) →
    * TakeOrderedAndProject; nothing shuffles more than (doc, term) rows.
    * The oracle replays chunking, the float-precision hashing embedder,
    * bucket-join dot products, and both aggregation levels exactly. */
  private val lateInteractionMaxsim = Q(
    "late_interaction_maxsim",
    (s, dir) => {
      import s.implicits._
      val punctuated = Tables.documents(s, dir)
        .withColumn("ptext",
          regexp_replace(col("text"), "(\\w+ \\w+ \\w+ \\w+ \\w+) ", "$1. "))
      val ch = graft.text.Keywords.chunks(punctuated, "doc_id", "ptext",
        maxChunks = 2, minLen = 5)
      val cemb = Embed.withEmbeddings(ch, "chunk", "cvec",
        new HashingEmbedder(64), batchSize = 100)
      val terms = Seq("spark", "shuffle", "join", "scan")
      val tdf = terms.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("qid", "qtext")
      val qemb = Embed.withEmbeddings(tdf, "qtext", "qvec",
        new HashingEmbedder(64), batchSize = 100)
      cemb.crossJoin(broadcast(qemb))
        .select(col("doc_id"), col("qid"),
          round(VectorFunctions.dot(col("cvec"), col("qvec")), 4).as("cos"))
        .groupBy(col("doc_id"), col("qid"))
        .agg(max(col("cos")).as("m"))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("m")), 4).as("maxsim"))
        .orderBy(col("maxsim").desc, col("doc_id").asc)
        .limit(5)
    },
    Some(s"""
      WITH p AS (
        SELECT doc_id,
          regexp_replace(text, '(\\w+ \\w+ \\w+ \\w+ \\w+) ', '\\1. ', 'g')
            AS ptext
        FROM documents),
      cs AS (
        SELECT doc_id,
               unnest(range(1, len(c)+1)) AS chunk_idx,
               trim(unnest(c)) AS chunk
        FROM (SELECT doc_id,
                string_split_regex(ptext, '[，。！？；:,\\.!?;]') AS c
              FROM p)),
      cf AS (SELECT doc_id, chunk_idx, chunk FROM cs WHERE length(chunk) > 5),
      cr AS (SELECT doc_id, chunk,
                   CAST(row_number() OVER (PARTITION BY doc_id
                     ORDER BY chunk_idx ASC) AS BIGINT) AS chunk_rank
            FROM cf),
      ${DuckOracle.hashEmbedCtes("c",
        "SELECT doc_id*10 + chunk_rank AS id, chunk AS text FROM cr " +
          "WHERE chunk_rank <= 2")},
      ${DuckOracle.hashEmbedCtes("q",
        "SELECT 0 AS id, 'spark' AS text UNION ALL SELECT 1, 'shuffle' " +
          "UNION ALL SELECT 2, 'join' UNION ALL SELECT 3, 'scan'")},
      dots AS (SELECT a.id AS cid, b.id AS qid,
                      sum(CAST(a.w AS DOUBLE) * CAST(b.w AS DOUBLE)) AS dot
               FROM cw a JOIN qw b USING (bucket)
               GROUP BY 1, 2),
      scored AS (SELECT cn.id AS cid, qn.id AS qid,
                        round(coalesce(j.dot, 0), 4) AS cos
                 FROM cn2 cn CROSS JOIN qn2 qn
                 LEFT JOIN dots j ON j.cid = cn.id AND j.qid = qn.id),
      perterm AS (SELECT cid // 10 AS doc_id, qid, max(cos) AS m
                  FROM scored GROUP BY 1, 2),
      total AS (SELECT doc_id, round(sum(m), 4) AS maxsim
                FROM perterm GROUP BY doc_id)
      SELECT doc_id, maxsim FROM total
      ORDER BY maxsim DESC, doc_id ASC LIMIT 5
    """))

  /** Graph-ANN search (see [[graft.search.GraphAnn]]) — the HNSW/DiskANN
    * index family the reference's Milvus essay names with no engine
    * counterpart until now (doc/milvus介绍.md:6,11,39). The graph is a
    * build-once parquet adjacency artifact (degree ≤ 8, overlap-sharded
    * kNN-graph build); the search is a 3-round beam-4 best-first walk
    * from the staged medoid entry point. The oracle replays ALL THREE
    * rounds as chained CTEs over the staged adjacency — frontier picks,
    * visited-set growth, and the final top-5 are each pinned by
    * (rounded distance, id) order, so the visit order itself is
    * hash-checked, not just the end ranking. */
  private val graphAnnSearch = Q(
    "graph_ann_search",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryId = stageGraph(s, "graphann", dir)
      val query = Fixtures.queryVector(e)
      GraphAnn.beamSearch(adj, e, "vec_id", "embedding", query, entryId,
        k = 5, beamWidth = 4, rounds = 3, degree = 8)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      adj AS (SELECT src, dst FROM read_parquet(
        '/tmp/graft_graphann_oracle_%ORACLE_KEY%/adjacency/*.parquet')),
      ent AS (SELECT entry_id FROM read_parquet(
        '/tmp/graft_graphann_oracle_%ORACLE_KEY%/entry/*.parquet')),
      dall AS (SELECT e.vec_id AS id, %L2% AS d FROM embeddings e, q),
      v0 AS (SELECT id, d FROM dall
             WHERE id IN (SELECT entry_id FROM ent)),
      f1 AS (SELECT id, d FROM v0 ORDER BY d ASC, id ASC LIMIT 4),
      n1 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f1 ON a.src = f1.id
             WHERE a.dst NOT IN (SELECT id FROM v0)),
      v1 AS (SELECT id, d FROM v0 UNION
             SELECT dall.id, dall.d FROM dall JOIN n1 USING (id)),
      x1 AS (SELECT id FROM f1),
      f2 AS (SELECT id, d FROM v1 WHERE id NOT IN (SELECT id FROM x1)
             ORDER BY d ASC, id ASC LIMIT 4),
      n2 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f2 ON a.src = f2.id
             WHERE a.dst NOT IN (SELECT id FROM v1)),
      v2 AS (SELECT id, d FROM v1 UNION
             SELECT dall.id, dall.d FROM dall JOIN n2 USING (id)),
      x2 AS (SELECT id FROM x1 UNION SELECT id FROM f2),
      f3 AS (SELECT id, d FROM v2 WHERE id NOT IN (SELECT id FROM x2)
             ORDER BY d ASC, id ASC LIMIT 4),
      n3 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f3 ON a.src = f3.id
             WHERE a.dst NOT IN (SELECT id FROM v2)),
      v3 AS (SELECT id, d FROM v2 UNION
             SELECT dall.id, dall.d FROM dall JOIN n3 USING (id))
      SELECT id AS vec_id, d AS distance FROM v3
      ORDER BY distance ASC, vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))),
  )

  /** WITH-body CTE chain replaying `rounds` rounds of the BULK beam walk
    * for every qid in a caller-defined `qs(qid, qv)` CTE, over the staged
    * adjacency/entry of oracle `name` — the single-query graph_ann_search
    * replay generalized with qid-partitioned ranking windows. Ends with
    * `v<rounds>` = the per-qid visited set (and `dall` = all per-qid
    * distances, for exact-recall baselines). */
  private def bulkWalkCtes(name: String, beamWidth: Int,
                           rounds: Int): String =
    bulkWalkCtesExpr(name, beamWidth.toString, rounds)

  /** [[bulkWalkCtes]] with the per-round frontier width as an arbitrary
    * SQL scalar expression (e.g. a subquery deriving the
    * selectivity-adaptive width from the fixture) instead of a compiled
    * constant, and an optional multi-entry seed window: with
    * `seedsPerQuery > 0` the staged entry table may hold MANY entry
    * points and each query seeds from its `seedsPerQuery` nearest
    * (rounded distance, id order — the same ranking every frontier pick
    * uses, mirroring GraphAnn.walkVisitedSeeded). `rounds` stays a
    * constant — it fixes the CTE count. */
  private def bulkWalkCtesExpr(name: String, beamWidthSql: String,
                               rounds: Int,
                               seedsPerQuery: Int = 0,
                               prefix: String = "",
                               corpusFrom: String = "embeddings",
                               materialized: Boolean = false,
                               entFrom: String = "",
                               entPairsFrom: String = ""): String = {
    val beamWidth = beamWidthSql
    val P = prefix
    // DuckDB inlines CTEs by default; a DEEP round chain (each round
    // referencing the previous visited/excluded sets several times)
    // inlines exponentially — at rounds=10 the binder exhausts file
    // handles re-instantiating the read_parquet leaves ("No files
    // found" on files that exist). MATERIALIZED pins each round to one
    // evaluation; walk semantics are unchanged.
    val M = if (materialized) "MATERIALIZED " else ""
    val sb = new StringBuilder
    // entFrom: seed from a caller-provided CTE (a prior walk's output —
    // the layered-serve chain) instead of the staged entry table;
    // entPairsFrom: PER-QUERY (qid, id) seed pairs (the bulk layered
    // chain — each query's upper result seeds ITS base walk)
    val entCte =
      if (entPairsFrom.nonEmpty) ""
      else if (entFrom.isEmpty) s"""
      ${P}ent AS $M(SELECT entry_id FROM read_parquet(
        '/tmp/graft_${name}_oracle_%ORACLE_KEY%/entry/*.parquet')),"""
      else s"""
      ${P}ent AS $M(SELECT entry_id FROM $entFrom),"""
    sb.append(s"""
      ${P}adj AS $M(SELECT src, dst FROM read_parquet(
        '/tmp/graft_${name}_oracle_%ORACLE_KEY%/adjacency/*.parquet')),
      $entCte
      ${P}dall AS $M(SELECT q.qid, e.vec_id AS id,
                      ${duckL2("e.embedding", "q.qv")} AS d
               FROM $corpusFrom e, qs q),""")
    if (entPairsFrom.nonEmpty)
      sb.append(s"""
      ${P}v0 AS $M(SELECT d.qid, d.id, d.d FROM ${P}dall d
             JOIN $entPairsFrom sp ON sp.qid = d.qid AND sp.id = d.id),
      ${P}x0 AS $M(SELECT qid, id FROM ${P}v0 WHERE 1 = 0)""")
    else if (seedsPerQuery > 0)
      sb.append(s"""
      ${P}v0 AS $M(SELECT qid, id, d FROM (
          SELECT d.qid, d.id, d.d, row_number() OVER (PARTITION BY d.qid
              ORDER BY d.d ASC, d.id ASC) AS rn
          FROM ${P}dall d
          WHERE d.id IN (SELECT entry_id FROM ${P}ent)) ${P}tseed
        WHERE rn <= $seedsPerQuery),
      ${P}x0 AS $M(SELECT qid, id FROM ${P}v0 WHERE 1 = 0)""")
    else
      sb.append(s"""
      ${P}v0 AS $M(SELECT qid, id, d FROM ${P}dall
             WHERE id IN (SELECT entry_id FROM ${P}ent)),
      ${P}x0 AS $M(SELECT qid, id FROM ${P}v0 WHERE 1 = 0)""")
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
      ${P}f$r AS $M(SELECT qid, id FROM (
          SELECT v.qid, v.id, row_number() OVER (PARTITION BY v.qid
              ORDER BY v.d ASC, v.id ASC) AS rn
          FROM ${P}v$p v WHERE NOT EXISTS (SELECT 1 FROM ${P}x$p x
              WHERE x.qid = v.qid AND x.id = v.id)) ${P}t$r
        WHERE rn <= $beamWidth),
      ${P}x$r AS $M(SELECT qid, id FROM ${P}x$p
                  UNION SELECT qid, id FROM ${P}f$r),
      ${P}n$r AS $M(SELECT DISTINCT f.qid, a.dst AS id
              FROM ${P}adj a JOIN ${P}f$r f ON a.src = f.id
              WHERE NOT EXISTS (SELECT 1 FROM ${P}v$p v
                  WHERE v.qid = f.qid AND v.id = a.dst)),
      ${P}v$r AS $M(SELECT qid, id, d FROM ${P}v$p UNION
              SELECT da.qid, da.id, da.d FROM ${P}dall da
              JOIN ${P}n$r n ON n.qid = da.qid AND n.id = da.id)""")
    }
    sb.toString
  }

  /** Stage the shared graph adjacency and medoid for oracle `name`;
    * returns the medoid's id, the walk's entry point. */
  private def stageGraph(s: org.apache.spark.sql.SparkSession, name: String,
                         dir: String): Long = {
    val entryDf = Fixtures.graphMedoid(s, dir)
    stageOracleOnce(s, name, dir)(
      "adjacency" -> Fixtures.graphAdjacency(s, dir).select("src", "dst"),
      "entry" -> entryDf)
    entryDf.collect()(0).getLong(0)
  }

  /** Bulk graph serving (see [[graft.search.GraphAnn.bulkBeamSearch]]):
    * three query vectors walked together — per-round frontier windows by
    * qid, neighbor expansion as ONE equi-join against the adjacency
    * artifact, distances as ONE equi-join against the corpus — the
    * "tag N incoming vectors against the graph" shape. The oracle
    * replays every round with qid-partitioned ranking windows, so each
    * query's visit order is hash-checked exactly as in the single-query
    * entry. */
  private val graphAnnBulk = Q(
    "graph_ann_bulk",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryId = stageGraph(s, "graphbulk", dir)
      val queries = e.where(col("vec_id").isin(BulkQids: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      GraphAnn.bulkBeamSearch(adj, e, "vec_id", "embedding", queries,
          "qid", "qv", entryId, k = 5, beamWidth = 8, rounds = 6)
        .orderBy(col("qid").asc, col("distance").asc, col("vec_id").asc)
    },
    Some(s"""
      WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                  WHERE vec_id IN (${BulkQids.mkString(", ")})),
      ${bulkWalkCtes("graphbulk", beamWidth = 8, rounds = 6)}
      SELECT qid, id AS vec_id, d AS distance FROM (
        SELECT qid, id, d, row_number() OVER (PARTITION BY qid
            ORDER BY d ASC, id ASC) AS rn FROM v6) fin
      WHERE rn <= 5
      ORDER BY qid ASC, distance ASC, vec_id ASC
    """))

  /** HNSW-STYLE LAYERED WALK
    * ([[graft.search.GraphAnn.layeredSearchMulti]] over one upper layer
    * — Milvus's default index is HNSW; the flat Vamana-shape walk's
    * round count grows with graph diameter at decade scale, and this
    * closes that gap with ONE sampled upper layer, Malkov &
    * Yashunin's upper-layers-as-zoom): a DETERMINISTIC ~1/e² node
    * sample ([[graft.search.GraphAnn.upperSample]] — xxhash ppm, so a
    * rebuild reproduces membership) carries its own bounded-degree
    * adjacency; the query walks the upper layer from its medoid, and
    * the upper top-2 seed the BASE-layer beam (base semantics
    * untouched — only the seed changes). The oracle replays BOTH
    * chained walks round-by-round from the staged upper/base
    * adjacencies — the upper walk's final visited set's top-2 feed the
    * base chain's v0 via the entFrom seed CTE — so the zoom, the
    * handoff, and the base walk are all hash-checked. ScaleBench's
    * `graphann_chain_rounds_*` ops record the fewer-rounds-at-equal-
    * recall win on the decades. */
  private val graphAnnLayeredWalk = Q(
    "graph_ann_layered_walk",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val uadj = Fixtures.layerAdjacency(s, dir, level = 1)
      val uent = Fixtures.layerEntry(s, dir, level = 1)
      stageOracleOnce(s, "layered", dir)(
        "adjacency" -> uadj.select("src", "dst"),
        "entry" -> uent.select("entry_id"))
      stageOracleOnce(s, "layeredb", dir)(
        "adjacency" -> adj.select("src", "dst"))
      val query = Fixtures.queryVector(e)
      GraphAnn.layeredSearchMulti(Seq(uadj), uent, adj, e, "vec_id",
        "embedding", query, k = 5, beamWidth = 4, upperRounds = 3,
        rounds = 3, degree = 8, nSeeds = 2)
    },
    Some(s"""
      WITH qs AS (SELECT CAST(0 AS BIGINT) AS qid,
                         (SELECT embedding FROM embeddings
                          WHERE vec_id = 0) AS qv),
      ${bulkWalkCtesExpr("layered", "4", rounds = 3, prefix = "u",
        materialized = true)},
      useed AS MATERIALIZED (SELECT id AS entry_id FROM uv3
              ORDER BY d ASC, id ASC LIMIT 2),
      ${bulkWalkCtesExpr("layeredb", "4", rounds = 3, prefix = "b",
        materialized = true, entFrom = "useed")}
      SELECT id AS vec_id, d AS distance FROM bv3
      ORDER BY distance ASC, vec_id ASC LIMIT 5
    """))

  /** BULK layered serving ([[graft.search.GraphAnn.layeredSearchBulk]],
    * round 12) — the layered walk at the batch shape every other
    * serving path has: the query batch walks the UPPER layer together
    * (one plan, qid-partitioned windows), each query's top-2 upper
    * results seed ITS OWN base walk
    * ([[graft.search.GraphAnn.bulkBeamSearchSeeded]] — per-query seed
    * pairs, one equi-join, nothing per-query on the driver). The
    * oracle chains two bulk walk CTE blocks: the upper block's final
    * visited set yields per-qid seed PAIRS (`entPairsFrom`), the base
    * block's v0 joins on (qid, id) — every round of both walks is
    * hash-checked per query. */
  private val graphAnnLayeredBulk = Q(
    "graph_ann_layered_bulk",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val uadj = Fixtures.layerAdjacency(s, dir, level = 1)
      val uent = Fixtures.layerEntry(s, dir, level = 1)
      stageOracleOnce(s, "layeredbu", dir)(
        "adjacency" -> uadj.select("src", "dst"),
        "entry" -> uent.select("entry_id"))
      stageOracleOnce(s, "layeredbb", dir)(
        "adjacency" -> adj.select("src", "dst"))
      val queries = e.where(col("vec_id").isin(BulkQids: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val upperEntryId = uent.collect()(0).getLong(0)
      GraphAnn.layeredSearchBulk(uadj, upperEntryId, adj, e, "vec_id",
          "embedding", queries, "qid", "qv", k = 5, beamWidth = 4,
          upperRounds = 3, rounds = 3, nSeeds = 2)
        .orderBy(col("qid").asc, col("distance").asc, col("vec_id").asc)
    },
    Some(s"""
      WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                  WHERE vec_id IN (${BulkQids.mkString(", ")})),
      ${bulkWalkCtesExpr("layeredbu", "4", rounds = 3, prefix = "u",
        materialized = true)},
      useed AS MATERIALIZED (SELECT qid, id FROM (
          SELECT qid, id, row_number() OVER (PARTITION BY qid
              ORDER BY d ASC, id ASC) AS rn FROM uv3) useedt
        WHERE rn <= 2),
      ${bulkWalkCtesExpr("layeredbb", "4", rounds = 3, prefix = "b",
        materialized = true, entPairsFrom = "useed")}
      SELECT qid, id AS vec_id, d AS distance FROM (
        SELECT qid, id, d, row_number() OVER (PARTITION BY qid
            ORDER BY d ASC, id ASC) AS rn FROM bv3) fin
      WHERE rn <= 5
      ORDER BY qid ASC, distance ASC, vec_id ASC
    """))

  /** Layered serve under DELETE propagation
    * ([[graft.search.GraphAnn.layeredSearchMultiMasked]] over one upper
    * layer): the fixture tombstones the UNMASKED layered serve's top-1
    * doc AND the upper walk's first seed, then
    * serves masked — the zoom must re-elect its seed handoff (the
    * masked upper top-2) and the deleted doc must never be returned,
    * while both walks still ROUTE through the tombstoned nodes
    * (FreshDiskANN's mask-don't-unlink discipline, exactly
    * [[graft.search.GraphAnn.beamSearchMasked]]'s contract applied to
    * both layers). The oracle replays both chained walks from the SAME
    * staged adjacencies as `graph_ann_layered_walk`, masks the upper
    * visited set before the seed cut and the base visited set before
    * the top-k cut against the staged delete frame — so the mask
    * placement itself is hash-checked. */
  private val graphAnnLayeredMaskedWalk = Q(
    "graph_ann_layered_masked_walk",
    (s, dir) => {
      import graft.search.GraphAnn
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val uadj = Fixtures.layerAdjacency(s, dir, level = 1)
      val uent = Fixtures.layerEntry(s, dir, level = 1)
      stageOracleOnce(s, "layered", dir)(
        "adjacency" -> uadj.select("src", "dst"),
        "entry" -> uent.select("entry_id"))
      stageOracleOnce(s, "layeredb", dir)(
        "adjacency" -> adj.select("src", "dst"))
      val query = Fixtures.queryVector(e)
      // tombstone the unmasked serve's top-1 + the first upper seed
      val plainTop = GraphAnn.layeredSearchMulti(Seq(uadj), uent, adj, e,
          "vec_id", "embedding", query, k = 1, beamWidth = 4,
          upperRounds = 3, rounds = 3, degree = 8, nSeeds = 2)
        .collect()(0).getLong(0)
      val upperSeed1 = GraphAnn.beamSearchMulti(uadj, e, "vec_id",
          "embedding", query, uent, k = 1, beamWidth = 4, rounds = 3,
          degree = 8, nSeeds = 1)
        .collect()(0).getLong(0)
      val dels = Seq(plainTop, upperSeed1).distinct.sorted
        .toDF("vec_id")
      stageOracleOnce(s, "layeredmdel", dir)("deletes" -> dels)
      GraphAnn.layeredSearchMultiMasked(Seq(uadj), uent, adj, e,
        "vec_id", "embedding", query, k = 5, dels, beamWidth = 4,
        upperRounds = 3, rounds = 3, degree = 8, nSeeds = 2)
    },
    Some(s"""
      WITH qs AS (SELECT CAST(0 AS BIGINT) AS qid,
                         (SELECT embedding FROM embeddings
                          WHERE vec_id = 0) AS qv),
      dels AS MATERIALIZED (SELECT vec_id FROM read_parquet(
        '/tmp/graft_layeredmdel_oracle_%ORACLE_KEY%/deletes/*.parquet')),
      ${bulkWalkCtesExpr("layered", "4", rounds = 3, prefix = "u",
        materialized = true)},
      useed AS MATERIALIZED (SELECT id AS entry_id FROM uv3
              WHERE id NOT IN (SELECT vec_id FROM dels)
              ORDER BY d ASC, id ASC LIMIT 2),
      ${bulkWalkCtesExpr("layeredb", "4", rounds = 3, prefix = "b",
        materialized = true, entFrom = "useed")}
      SELECT id AS vec_id, d AS distance FROM bv3
      WHERE id NOT IN (SELECT vec_id FROM dels)
      ORDER BY distance ASC, vec_id ASC LIMIT 5
    """))

  /** MULTI-LEVEL layered walk
    * ([[graft.search.GraphAnn.layeredSearchMulti]], round 13): TWO
    * upper layers at nested p^ℓ occupancies
    * ([[graft.search.GraphAnn.levelSample]] — level 2 ⊂ level 1 by
    * construction, one hash) over the shared base graph; the walk
    * enters the sparsest layer at its medoid, each level's top-2 seed
    * the next, the base walk refines — HNSW's actual log-many-layers
    * shape, which is what makes entry cost corpus-INDEPENDENT (a
    * single upper layer is still a p·n-node graph whose diameter
    * grows). The oracle chains THREE walk CTE blocks; each handoff's
    * seed cut is hash-checked. The level-1 artifacts are the SAME
    * staged frames as `graph_ann_layered_walk`'s upper layer
    * (levelPpm(1) = the upperSample default). */
  private val graphAnnMultilayerWalk = Q(
    "graph_ann_multilayer_walk",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val adj1 = Fixtures.layerAdjacency(s, dir, level = 1)
      val adj2 = Fixtures.layerAdjacency(s, dir, level = 2)
      val tent = Fixtures.layerEntry(s, dir, level = 2)
      stageOracleOnce(s, "mlayer2", dir)(
        "adjacency" -> adj2.select("src", "dst"),
        "entry" -> tent.select("entry_id"))
      stageOracleOnce(s, "layered", dir)(
        "adjacency" -> adj1.select("src", "dst"),
        "entry" -> Fixtures.layerEntry(s, dir, level = 1)
          .select("entry_id"))
      stageOracleOnce(s, "layeredb", dir)(
        "adjacency" -> adj.select("src", "dst"))
      val query = Fixtures.queryVector(e)
      GraphAnn.layeredSearchMulti(Seq(adj2, adj1), tent, adj, e,
        "vec_id", "embedding", query, k = 5, beamWidth = 4,
        upperRounds = 3, rounds = 3, degree = 8, nSeeds = 2)
    },
    Some(s"""
      WITH qs AS (SELECT CAST(0 AS BIGINT) AS qid,
                         (SELECT embedding FROM embeddings
                          WHERE vec_id = 0) AS qv),
      ${bulkWalkCtesExpr("mlayer2", "4", rounds = 3, prefix = "w",
        materialized = true)},
      wseed AS MATERIALIZED (SELECT id AS entry_id FROM wv3
              ORDER BY d ASC, id ASC LIMIT 2),
      ${bulkWalkCtesExpr("layered", "4", rounds = 3, prefix = "m",
        materialized = true, entFrom = "wseed")},
      mseed AS MATERIALIZED (SELECT id AS entry_id FROM mv3
              ORDER BY d ASC, id ASC LIMIT 2),
      ${bulkWalkCtesExpr("layeredb", "4", rounds = 3, prefix = "c",
        materialized = true, entFrom = "mseed")}
      SELECT id AS vec_id, d AS distance FROM cv3
      ORDER BY distance ASC, vec_id ASC LIMIT 5
    """))

  /** The multi-level stack under DELETE propagation
    * ([[graft.search.GraphAnn.layeredSearchMultiMasked]], round 13 —
    * the stack inherits the masked contract at EVERY level): the
    * fixture tombstones the unmasked stack's top-1 AND the level-2
    * walk's first handoff seed, so the L2→L1 seed cut must re-elect
    * and the final result must drop the deleted doc while all three
    * walks still route through the tombstoned nodes. The oracle masks
    * each handoff's seed window and the final top-k against the staged
    * delete frame — three mask sites, all hash-checked. */
  private val graphAnnMultilayerMaskedWalk = Q(
    "graph_ann_multilayer_masked_walk",
    (s, dir) => {
      import graft.search.GraphAnn
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val adj1 = Fixtures.layerAdjacency(s, dir, level = 1)
      val adj2 = Fixtures.layerAdjacency(s, dir, level = 2)
      val tent = Fixtures.layerEntry(s, dir, level = 2)
      stageOracleOnce(s, "mlayer2", dir)(
        "adjacency" -> adj2.select("src", "dst"),
        "entry" -> tent.select("entry_id"))
      stageOracleOnce(s, "layered", dir)(
        "adjacency" -> adj1.select("src", "dst"),
        "entry" -> Fixtures.layerEntry(s, dir, level = 1)
          .select("entry_id"))
      stageOracleOnce(s, "layeredb", dir)(
        "adjacency" -> adj.select("src", "dst"))
      val query = Fixtures.queryVector(e)
      val plainTop = GraphAnn.layeredSearchMulti(Seq(adj2, adj1), tent,
          adj, e, "vec_id", "embedding", query, k = 1, beamWidth = 4,
          upperRounds = 3, rounds = 3, degree = 8, nSeeds = 2)
        .collect()(0).getLong(0)
      val l2Top = GraphAnn.beamSearchMulti(adj2, e, "vec_id",
          "embedding", query, tent, k = 1, beamWidth = 4, rounds = 3,
          degree = 8, nSeeds = 1)
        .collect()(0).getLong(0)
      val dels = Seq(plainTop, l2Top).distinct.sorted.toDF("vec_id")
      stageOracleOnce(s, "mlayermdel", dir)("deletes" -> dels)
      GraphAnn.layeredSearchMultiMasked(Seq(adj2, adj1), tent, adj, e,
        "vec_id", "embedding", query, k = 5, dels, beamWidth = 4,
        upperRounds = 3, rounds = 3, degree = 8, nSeeds = 2)
    },
    Some(s"""
      WITH qs AS (SELECT CAST(0 AS BIGINT) AS qid,
                         (SELECT embedding FROM embeddings
                          WHERE vec_id = 0) AS qv),
      dels AS MATERIALIZED (SELECT vec_id FROM read_parquet(
        '/tmp/graft_mlayermdel_oracle_%ORACLE_KEY%/deletes/*.parquet')),
      ${bulkWalkCtesExpr("mlayer2", "4", rounds = 3, prefix = "w",
        materialized = true)},
      wseed AS MATERIALIZED (SELECT id AS entry_id FROM wv3
              WHERE id NOT IN (SELECT vec_id FROM dels)
              ORDER BY d ASC, id ASC LIMIT 2),
      ${bulkWalkCtesExpr("layered", "4", rounds = 3, prefix = "m",
        materialized = true, entFrom = "wseed")},
      mseed AS MATERIALIZED (SELECT id AS entry_id FROM mv3
              WHERE id NOT IN (SELECT vec_id FROM dels)
              ORDER BY d ASC, id ASC LIMIT 2),
      ${bulkWalkCtesExpr("layeredb", "4", rounds = 3, prefix = "c",
        materialized = true, entFrom = "mseed")}
      SELECT id AS vec_id, d AS distance FROM cv3
      WHERE id NOT IN (SELECT vec_id FROM dels)
      ORDER BY distance ASC, vec_id ASC LIMIT 5
    """))

  /** Predicate + graph index (see
    * [[graft.search.GraphAnn.filteredBeamSearch]]): the walk is
    * label-blind (filtering expansion can disconnect the graph and
    * strand the beam — the Filtered-DiskANN post-filter discipline),
    * the predicate applies to the visited set, and filtered recall is
    * bought with a wider beam than the unfiltered entry. The oracle
    * replays every walk round via the shared CTE chain, then applies
    * the same label filter to the final visited set — so both the
    * routing and the filter semantics are hash-checked. */
  private val graphAnnFiltered = Q(
    "graph_ann_filtered",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryId = stageGraph(s, "graphfilt", dir)
      val query = Fixtures.queryVector(e)
      GraphAnn.filteredBeamSearch(adj, e, "vec_id", "embedding", query,
        entryId, predicate = col("label") === 3, k = 5,
        beamWidth = 6, rounds = 3, degree = 8)
    },
    Some(s"""
      WITH qs AS (SELECT CAST(0 AS BIGINT) AS qid, embedding AS qv
                  FROM embeddings WHERE vec_id = 0),
      ${bulkWalkCtes("graphfilt", beamWidth = 6, rounds = 3)}
      SELECT v.id AS vec_id, v.d AS distance
      FROM v3 v JOIN embeddings e ON e.vec_id = v.id
      WHERE e.label = 3
      ORDER BY distance ASC, vec_id ASC LIMIT 5
    """))

  /** Filtered-recall measurement for the graph family: recall@5 of the
    * filtered walk (label-blind routing, post-filter, beam 12×4 — over-retrieval sized for ~10% selectivity)
    * against the EXACT label-filtered top-5 — the honest number behind
    * "filtered recall is bought with a wider beam". Both the walk and
    * the exact baseline replay in the oracle, so the measurement
    * itself is hash-checked (the index_recall_report discipline
    * applied to predicate search). */
  private val graphAnnFilteredRecall = Q(
    "graph_ann_filtered_recall",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryId = stageGraph(s, "graphfiltrec", dir)
      val query = Fixtures.queryVector(e)
      val walk = GraphAnn.filteredBeamSearch(adj, e, "vec_id",
        "embedding", query, entryId, predicate = col("label") === 3,
        k = 5, beamWidth = 12, rounds = 4, degree = 8)
      val qLit = typedlit(query.toSeq)
      val exact = e.where(col("label") === 3)
        .select(col("vec_id"),
          round(graft.functions.VectorFunctions.l2Sq(col("embedding"),
            qLit), 4).as("d"))
        .orderBy(col("d").asc, col("vec_id").asc).limit(5)
      exact.join(walk.select(col("vec_id"), lit(1).as("hit")),
          Seq("vec_id"), "left")
        .agg(round(count(col("hit")) / 5.0, 4).as("recall"))
        .select(lit("graph_filtered_beam12x4").as("method"),
          lit(1L).as("n_queries"), col("recall"))
    },
    Some(s"""
      WITH qs AS (SELECT CAST(0 AS BIGINT) AS qid, embedding AS qv
                  FROM embeddings WHERE vec_id = 0),
      ${bulkWalkCtes("graphfiltrec", beamWidth = 12, rounds = 4)},
      walk AS (SELECT v.id FROM v4 v JOIN embeddings e ON e.vec_id = v.id
               WHERE e.label = 3
               ORDER BY v.d ASC, v.id ASC LIMIT 5),
      ex AS (SELECT d.id FROM dall d JOIN embeddings e ON e.vec_id = d.id
             WHERE e.label = 3
             ORDER BY d.d ASC, d.id ASC LIMIT 5)
      SELECT 'graph_filtered_beam12x4' AS method,
             CAST(1 AS BIGINT) AS n_queries,
             round(count(w.id) / 5.0, 4) AS recall
      FROM ex LEFT JOIN walk w ON w.id = ex.id
    """))

  /** Scalar-index-filtered graph walk ([[graft.search.GraphAnn
    * .filteredBeamSearchIds]] fed by [[graft.search.ScalarIndex.ids]])
    * — round 10 closes the filter × index matrix: flat kNN and IVF
    * already serve `label IN (…)` from the directory-pruned scalar
    * artifact; this gives the third index family the same indexed-
    * filter mechanism (Milvus applies `filter=` under every index
    * type). The walk is label-blind, the id set applies to the bounded
    * visited set by semi-join, recall is bought by a wider beam. The
    * oracle replays every walk round over the staged adjacency and
    * applies the same label filter — routing AND filter semantics
    * hash-checked. */
  private val scalarFilteredGraphWalk = Q(
    "scalar_filtered_graph_walk",
    (s, dir) => {
      import graft.search.{GraphAnn, ScalarIndex}
      val e = Tables.embeddings(s, dir)
      val scalarDir = Fixtures.labelIndex(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryId = stageGraph(s, "graphscal", dir)
      val query = Fixtures.queryVector(e)
      GraphAnn.filteredBeamSearchIds(adj, e, "vec_id", "embedding",
        query, entryId,
        allowedIds = ScalarIndex.ids(s, scalarDir, Seq(2, 5, 7)),
        k = 5, beamWidth = 8, rounds = 3, degree = 8)
    },
    Some(s"""
      WITH qs AS (SELECT CAST(0 AS BIGINT) AS qid, embedding AS qv
                  FROM embeddings WHERE vec_id = 0),
      ${bulkWalkCtes("graphscal", beamWidth = 8, rounds = 3)}
      SELECT v.id AS vec_id, v.d AS distance
      FROM v3 v JOIN embeddings e ON e.vec_id = v.id
      WHERE e.label IN (2, 5, 7)
      ORDER BY distance ASC, vec_id ASC LIMIT 5
    """))

  /** Recall row for the scalar-filtered graph walk at fixed
    * selectivity (labels {2,5,7} of 8 ≈ 3/8): recall@5 of the id-set
    * path AND of the predicate-only path on the SAME budget (beam
    * 12×4) against the exact filtered top-5. The two paths post-filter
    * the identical label-blind visited set — one from the scalar
    * artifact's id set, one from a corpus predicate — so the id-set
    * recall must be ≥ (in fact =) the predicate path's, which the
    * result rows show and GraphAnnSpec pins row-identically. Both
    * walks, both filters, and the exact baseline replay in the
    * oracle. */
  private val scalarFilteredGraphRecall = Q(
    "scalar_filtered_graph_recall",
    (s, dir) => {
      import graft.search.{GraphAnn, ScalarIndex}
      val e = Tables.embeddings(s, dir)
      val scalarDir = Fixtures.labelIndex(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryId = stageGraph(s, "graphscalrec", dir)
      val query = Fixtures.queryVector(e)
      val byIds = GraphAnn.filteredBeamSearchIds(adj, e, "vec_id",
        "embedding", query, entryId,
        allowedIds = ScalarIndex.ids(s, scalarDir, Seq(2, 5, 7)),
        k = 5, beamWidth = 12, rounds = 4, degree = 8)
      val byPred = GraphAnn.filteredBeamSearch(adj, e, "vec_id",
        "embedding", query, entryId,
        predicate = col("label").isin(2, 5, 7), k = 5,
        beamWidth = 12, rounds = 4, degree = 8)
      val qLit = typedlit(query.toSeq)
      val exact = e.where(col("label").isin(2, 5, 7))
        .select(col("vec_id"),
          round(graft.functions.VectorFunctions.l2Sq(col("embedding"),
            qLit), 4).as("d"))
        .orderBy(col("d").asc, col("vec_id").asc).limit(5)
      def recallOf(walk: org.apache.spark.sql.DataFrame, name: String) =
        exact.join(walk.select(col("vec_id"), lit(1).as("hit")),
            Seq("vec_id"), "left")
          .agg(round(count(col("hit")) / 5.0, 4).as("recall"))
          .select(lit(name).as("method"), lit(1L).as("n_queries"),
            col("recall"))
      recallOf(byIds, "graph_scalar_ids_beam12x4")
        .unionByName(recallOf(byPred, "graph_predicate_beam12x4"))
        .orderBy(col("method").asc)
    },
    Some(s"""
      WITH qs AS (SELECT CAST(0 AS BIGINT) AS qid, embedding AS qv
                  FROM embeddings WHERE vec_id = 0),
      ${bulkWalkCtes("graphscalrec", beamWidth = 12, rounds = 4)},
      walk AS (SELECT v.id FROM v4 v JOIN embeddings e ON e.vec_id = v.id
               WHERE e.label IN (2, 5, 7)
               ORDER BY v.d ASC, v.id ASC LIMIT 5),
      ex AS (SELECT d.id FROM dall d JOIN embeddings e ON e.vec_id = d.id
             WHERE e.label IN (2, 5, 7)
             ORDER BY d.d ASC, d.id ASC LIMIT 5),
      rec AS (SELECT round(count(w.id) / 5.0, 4) AS recall
              FROM ex LEFT JOIN walk w ON w.id = ex.id)
      SELECT method, CAST(1 AS BIGINT) AS n_queries, recall
      FROM (SELECT 'graph_predicate_beam12x4' AS method UNION ALL
            SELECT 'graph_scalar_ids_beam12x4') m, rec
      ORDER BY method ASC
    """))

  /** Multi-entry graph serving ([[graft.search.GraphAnn.entryPoints]] /
    * `beamSearchMulti`): per-shard entry points (small sample-capped
    * KMeans, nearest corpus point per cluster) replace the single
    * global medoid, and each query seeds its walk from its 2 nearest
    * entries — the DiskANN sharded-serving discipline. The oracle
    * replays seed selection (a per-qid window over the staged entry
    * ids' distances) and the walk itself, all three queries bulk. */
  private val graphAnnMultiEntry = Q(
    "graph_ann_multi_entry",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entries = Fixtures.graphEntries(s, dir)
      stageOracleOnce(s, "graphmulti", dir)(
        "adjacency" -> adj.select("src", "dst"),
        "entry" -> entries.select("entry_id"))
      val qs = e.where(col("vec_id").isin(BulkQids: _*))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      qs.map { case (qid, qv) =>
        GraphAnn.beamSearchMulti(adj, e, "vec_id", "embedding", qv,
            entries, k = 5, beamWidth = 4, rounds = 3, nSeeds = 2)
          .select(lit(qid).as("qid"), col("vec_id"), col("distance"))
      }.reduce(_ unionAll _)
        .orderBy(col("qid").asc, col("distance").asc, col("vec_id").asc)
    },
    Some(s"""
      WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                  WHERE vec_id IN (${BulkQids.mkString(", ")})),
      ${bulkWalkCtesExpr("graphmulti", "4", rounds = 3,
        seedsPerQuery = 2)}
      SELECT qid, id AS vec_id, d AS distance FROM (
        SELECT qid, id, d, row_number() OVER (PARTITION BY qid
            ORDER BY d ASC, id ASC) AS rn FROM v3) fin
      WHERE rn <= 5
      ORDER BY qid ASC, distance ASC, vec_id ASC
    """))

  /** Recall of the multi-entry walk at the SINGLE-entry budget
    * (beam 4×3): mean recall@5 against the exact top-5 over the three
    * bulk queries — the measured justification for shipping per-shard
    * entries (compare `index_recall_report`'s single-medoid
    * graph_beam4x3 row; seeding from the query's region must not lose
    * recall at equal budget, and helps exactly when the medoid start
    * is far). Measurement hash-checked end-to-end. */
  private val graphAnnMultiEntryRecall = Q(
    "graph_ann_multi_entry_recall",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entries = Fixtures.graphEntries(s, dir)
      stageOracleOnce(s, "graphmultirec", dir)(
        "adjacency" -> adj.select("src", "dst"),
        "entry" -> entries.select("entry_id"))
      val qs = e.where(col("vec_id").isin(BulkQids: _*))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val walked = qs.map { case (qid, qv) =>
        GraphAnn.beamSearchMulti(adj, e, "vec_id", "embedding", qv,
            entries, k = 5, beamWidth = 4, rounds = 3, nSeeds = 2)
          .select(lit(qid).as("qid"), col("vec_id"))
      }.reduce(_ unionAll _)
      import org.apache.spark.sql.expressions.Window
      val qdf = e.where(col("vec_id").isin(BulkQids: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val exact = e.crossJoin(broadcast(qdf))
        .select(col("qid"), col("vec_id"),
          round(graft.functions.VectorFunctions.l2Sq(col("embedding"),
            col("qv")), 4).as("d"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("d").asc, col("vec_id").asc)))
        .where(col("rn") <= 5).select("qid", "vec_id")
      exact.join(walked.withColumn("hit", lit(1)),
          Seq("qid", "vec_id"), "left")
        .agg(round(count(col("hit")) / (5.0 * BulkQids.size), 4)
          .as("recall"))
        .select(lit("graph_multi2_beam4x3").as("method"),
          lit(BulkQids.size.toLong).as("n_queries"), col("recall"))
    },
    Some(s"""
      WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                  WHERE vec_id IN (${BulkQids.mkString(", ")})),
      ${bulkWalkCtesExpr("graphmultirec", "4", rounds = 3,
        seedsPerQuery = 2)},
      walk AS (SELECT qid, id FROM (
          SELECT qid, id, d, row_number() OVER (PARTITION BY qid
              ORDER BY d ASC, id ASC) AS rn FROM v3) fin WHERE rn <= 5),
      ex AS (SELECT qid, id FROM (
          SELECT qid, id, d, row_number() OVER (PARTITION BY qid
              ORDER BY d ASC, id ASC) AS rn FROM dall) t WHERE rn <= 5)
      SELECT 'graph_multi2_beam4x3' AS method,
             CAST(${BulkQids.size} AS BIGINT) AS n_queries,
             round(count(w.id) / ${5.0 * BulkQids.size}, 4) AS recall
      FROM ex LEFT JOIN walk w ON w.qid = ex.qid AND w.id = ex.id
    """))

  /** Graph beam-width auto-tuning — the serving-knob sweep for the
    * graph family, symmetric to `ivf_nprobe_autotune`: recall@5 vs
    * beamWidth ∈ {2, 4, 8} at fixed rounds over the three bulk
    * queries, choosing the smallest width with recall ≥ 0.9. The
    * oracle replays ALL THREE walks (prefixed CTE chains), both recall
    * aggregations, and the choice rule — so the tuner's pick itself is
    * hash-checked. */
  private val graphBeamAutotune = Q(
    "graph_beam_autotune",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val base = Fixtures.graphDir(dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryDf = Fixtures.graphMedoid(s, dir)
      stageOracleOnce(s, "graphtune", dir)(
        "adjacency" -> adj.select("src", "dst"),
        "entry" -> entryDf)
      // the sweep result is buildOnce'd like the adjacency it tunes: a
      // tuner runs once per (corpus, knob sweep) — the VERDICT-r8
      // framing — and its pick is persisted as a serving knob; the
      // oracle still recomputes every walk + recall + choice from the
      // staged adjacency, so the cached table can't drift unseen
      graft.core.Artifacts.buildOnce(s, s"$base/tune_report") {
        val entryId = entryDf.collect()(0).getLong(0)
        val qs = e.where(col("vec_id").isin(BulkQids: _*))
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .sortBy(_._1)
        import org.apache.spark.sql.expressions.Window
        val qdf = e.where(col("vec_id").isin(BulkQids: _*))
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val exact = e.crossJoin(broadcast(qdf))
          .select(col("qid"), col("vec_id"),
            round(graft.functions.VectorFunctions.l2Sq(col("embedding"),
              col("qv")), 4).as("d"))
          .withColumn("rn", row_number().over(Window.partitionBy("qid")
            .orderBy(col("d").asc, col("vec_id").asc)))
          .where(col("rn") <= 5).select("qid", "vec_id")
        val widths = Seq(2, 4, 8)
        val rec = widths.map { w =>
          val walked = qs.map { case (qid, qv) =>
            GraphAnn.beamSearch(adj, e, "vec_id", "embedding", qv,
                entryId, k = 5, beamWidth = w, rounds = 3)
              .select(lit(qid).as("qid"), col("vec_id"))
          }.reduce(_ unionAll _)
          val r = exact.join(walked.withColumn("hit", lit(1)),
              Seq("qid", "vec_id"), "left")
            .agg(round(count(col("hit")) / (5.0 * BulkQids.size), 4))
            .collect()(0).getDouble(0)
          (w, r)
        }
        val chosen = rec.find(_._2 >= 0.9).map(_._1).getOrElse(rec.last._1)
        import s.implicits._
        rec.map { case (w, r) =>
          (w.toLong, BulkQids.size.toLong, r, w == chosen)
        }.toDF("beam_width", "n_queries", "recall", "chosen")
      }.orderBy(col("beam_width").asc)
    },
    Some(s"""
      WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                  WHERE vec_id IN (${BulkQids.mkString(", ")})),
      ${bulkWalkCtesExpr("graphtune", "2", rounds = 3, prefix = "ta")},
      ${bulkWalkCtesExpr("graphtune", "4", rounds = 3, prefix = "tb")},
      ${bulkWalkCtesExpr("graphtune", "8", rounds = 3, prefix = "tc")},
      ex AS (SELECT qid, id FROM (
          SELECT qid, id, d, row_number() OVER (PARTITION BY qid
              ORDER BY d ASC, id ASC) AS rn FROM tadall) t WHERE rn <= 5),
      wa AS (SELECT qid, id FROM (
          SELECT qid, id, d, row_number() OVER (PARTITION BY qid
              ORDER BY d ASC, id ASC) AS rn FROM tav3) t WHERE rn <= 5),
      wb AS (SELECT qid, id FROM (
          SELECT qid, id, d, row_number() OVER (PARTITION BY qid
              ORDER BY d ASC, id ASC) AS rn FROM tbv3) t WHERE rn <= 5),
      wc AS (SELECT qid, id FROM (
          SELECT qid, id, d, row_number() OVER (PARTITION BY qid
              ORDER BY d ASC, id ASC) AS rn FROM tcv3) t WHERE rn <= 5),
      rec AS (
        SELECT 2 AS beam_width, round(count(w.id) / 15.0, 4) AS recall
        FROM ex LEFT JOIN wa w ON w.qid = ex.qid AND w.id = ex.id
        UNION ALL
        SELECT 4, round(count(w.id) / 15.0, 4)
        FROM ex LEFT JOIN wb w ON w.qid = ex.qid AND w.id = ex.id
        UNION ALL
        SELECT 8, round(count(w.id) / 15.0, 4)
        FROM ex LEFT JOIN wc w ON w.qid = ex.qid AND w.id = ex.id),
      ch AS (SELECT coalesce(
               min(beam_width) FILTER (WHERE recall >= 0.9),
               max(beam_width)) AS c FROM rec)
      SELECT CAST(beam_width AS BIGINT) AS beam_width,
             CAST(3 AS BIGINT) AS n_queries, recall,
             beam_width = (SELECT c FROM ch) AS chosen
      FROM rec ORDER BY beam_width ASC
    """))

  /** Beam-width auto-tuning over MULTI-ENTRY seeded walks — the
    * composition `graph_beam_autotune`'s own result motivates: the
    * single-medoid sweep saturates at recall 0.7333 even at width 8 ×
    * 3 rounds = 24 expansions (its fallback branch fires), because the
    * medoid start is far from two of the three query regions. Seeding
    * each query's walk from its 2 nearest of the 8 per-shard entry
    * points ([[graft.search.GraphAnn.entryPoints]] — the DiskANN
    * sharded discipline) moves the whole budget-recall curve: at
    * sf0.01 every width in the sweep reaches recall 1.0 and the ≥ 0.9
    * rule picks width 2 — 2 × 4 rounds = 8 expansions, a THIRD of the
    * budget the saturated single-medoid sweep spent for 0.7333. That
    * is the point of tuning over the right family: the knob only
    * matters once the walk starts in the query's region. Same
    * triple-walk oracle replay as the single-entry tuner (three
    * prefixed seeded CTE chains, both aggregations, the choice rule),
    * so the pick itself is hash-checked. */
  private val graphBeamAutotuneMulti = Q(
    "graph_beam_autotune_multi",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val base = Fixtures.graphDir(dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entries = Fixtures.graphEntries(s, dir)
      stageOracleOnce(s, "graphtunem", dir)(
        "adjacency" -> adj.select("src", "dst"),
        "entry" -> entries.select("entry_id"))
      // sweep result buildOnce'd — the single-entry tuner's rationale
      graft.core.Artifacts.buildOnce(s, s"$base/tune_report_multi") {
        val qs = e.where(col("vec_id").isin(BulkQids: _*))
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .sortBy(_._1)
        import org.apache.spark.sql.expressions.Window
        val qdf = e.where(col("vec_id").isin(BulkQids: _*))
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val exact = e.crossJoin(broadcast(qdf))
          .select(col("qid"), col("vec_id"),
            round(graft.functions.VectorFunctions.l2Sq(col("embedding"),
              col("qv")), 4).as("d"))
          .withColumn("rn", row_number().over(Window.partitionBy("qid")
            .orderBy(col("d").asc, col("vec_id").asc)))
          .where(col("rn") <= 5).select("qid", "vec_id")
        val widths = Seq(2, 4, 8)
        val rec = widths.map { w =>
          val walked = qs.map { case (qid, qv) =>
            GraphAnn.beamSearchMulti(adj, e, "vec_id", "embedding", qv,
                entries, k = 5, beamWidth = w, rounds = 4, nSeeds = 2)
              .select(lit(qid).as("qid"), col("vec_id"))
          }.reduce(_ unionAll _)
          val r = exact.join(walked.withColumn("hit", lit(1)),
              Seq("qid", "vec_id"), "left")
            .agg(round(count(col("hit")) / (5.0 * BulkQids.size), 4))
            .collect()(0).getDouble(0)
          (w, r)
        }
        val chosen = rec.find(_._2 >= 0.9).map(_._1).getOrElse(rec.last._1)
        import s.implicits._
        rec.map { case (w, r) =>
          (w.toLong, BulkQids.size.toLong, r, w == chosen)
        }.toDF("beam_width", "n_queries", "recall", "chosen")
      }.orderBy(col("beam_width").asc)
    },
    Some(s"""
      WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                  WHERE vec_id IN (${BulkQids.mkString(", ")})),
      ${bulkWalkCtesExpr("graphtunem", "2", rounds = 4,
        seedsPerQuery = 2, prefix = "ma")},
      ${bulkWalkCtesExpr("graphtunem", "4", rounds = 4,
        seedsPerQuery = 2, prefix = "mb")},
      ${bulkWalkCtesExpr("graphtunem", "8", rounds = 4,
        seedsPerQuery = 2, prefix = "mc")},
      ex AS (SELECT qid, id FROM (
          SELECT qid, id, d, row_number() OVER (PARTITION BY qid
              ORDER BY d ASC, id ASC) AS rn FROM madall) t WHERE rn <= 5),
      wa AS (SELECT qid, id FROM (
          SELECT qid, id, d, row_number() OVER (PARTITION BY qid
              ORDER BY d ASC, id ASC) AS rn FROM mav4) t WHERE rn <= 5),
      wb AS (SELECT qid, id FROM (
          SELECT qid, id, d, row_number() OVER (PARTITION BY qid
              ORDER BY d ASC, id ASC) AS rn FROM mbv4) t WHERE rn <= 5),
      wc AS (SELECT qid, id FROM (
          SELECT qid, id, d, row_number() OVER (PARTITION BY qid
              ORDER BY d ASC, id ASC) AS rn FROM mcv4) t WHERE rn <= 5),
      rec AS (
        SELECT 2 AS beam_width, round(count(w.id) / 15.0, 4) AS recall
        FROM ex LEFT JOIN wa w ON w.qid = ex.qid AND w.id = ex.id
        UNION ALL
        SELECT 4, round(count(w.id) / 15.0, 4)
        FROM ex LEFT JOIN wb w ON w.qid = ex.qid AND w.id = ex.id
        UNION ALL
        SELECT 8, round(count(w.id) / 15.0, 4)
        FROM ex LEFT JOIN wc w ON w.qid = ex.qid AND w.id = ex.id),
      ch AS (SELECT coalesce(
               min(beam_width) FILTER (WHERE recall >= 0.9),
               max(beam_width)) AS c FROM rec)
      SELECT CAST(beam_width AS BIGINT) AS beam_width,
             CAST(3 AS BIGINT) AS n_queries, recall,
             beam_width = (SELECT c FROM ch) AS chosen
      FROM rec ORDER BY beam_width ASC
    """))

  /** PQ-scored graph walk (see [[graft.search.GraphAnn.beamSearchPq]]) —
    * the DiskANN serving layout proper (Subramanya et al. 2019 §3:
    * codes in memory route the walk, full vectors only rerank), the
    * composition of the graph family's routing with the PQ family's
    * 32× storage cut. The walk's frontier ranks by ADC lookup distance
    * over the SHARED codes artifact (same build as `pq_adc_search`);
    * the visited set reranks exactly. The oracle replays per-subspace
    * encoding, the query lookup table, all three walk rounds scored by
    * ADC, and the exact rerank — one CTE chain, everything
    * hash-checked. At 100 TB this is the serving memory story: rounds ×
    * beam × degree point reads of m-byte codes, corpus-size-independent
    * like every walk, with full-precision I/O only for the ≤ budget
    * rerank rows. */
  /** Graph walk routed by the ASYMMETRIC 1-bit estimator — the
    * RaBitQ-routing DiskANN deployment shape (Milvus 2.6 pairs RABITQ
    * with its graph index the same way; [[graft.search.GraphAnn
    * .beamSearchScored]]): the walk's only per-node read is the 20-byte
    * packed-sign row, scored by the NEGATED estimator (lower = better,
    * the walk's min-ordering; negation commutes with the shared
    * half-away-from-zero rounding), full precision touched once in the
    * visited-set rerank. vs `graph_ann_pq_walk`: 20 B/node with no
    * trained codebooks at all — the routing artifact is computed, not
    * fitted. The oracle replays the rotation, packing, correction,
    * estimator, all three walk rounds and the exact rerank. */
  private val graphAnnAsymWalk = Q(
    "graph_ann_asym_walk",
    (s, dir) => {
      import graft.search.{BinaryVec, GraphAnn, Rotation}
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryDf = Fixtures.graphMedoid(s, dir)
      val rot = Fixtures.binaryRotation
      val packed = Fixtures.asymSignatures(s, dir)
      stageOracleOnce(s, "graphasym", dir)(
        "adjacency" -> adj.select("src", "dst"),
        "entry" -> entryDf,
        "rotation" -> Rotation.rowsToDf(s, rot))
      val entryId = entryDf.collect()(0).getLong(0)
      val qe = Fixtures.queryVector(e)
      val qr = Rotation.projectRow(qe, rot)
      val qn = math.sqrt(qr.map(v => v.toDouble * v.toDouble).sum)
      require(qn > 0, "query vector must be non-zero")
      val qhat = qr.map(_.toDouble / qn)
      val routing = packed.select(col("vec_id"),
        (-BinaryVec.asymCosScore(Seq(col("w0"), col("w1")), qhat,
          col("cx"))).as("route_d"))
      GraphAnn.beamSearchScored(adj, routing, "route_d", e, "vec_id",
        "embedding", qe, entryId, k = 5, beamWidth = 4, rounds = 3,
        degree = 8)
    },
    Some(s"""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      adj AS (SELECT src, dst FROM read_parquet(
        '/tmp/graft_graphasym_oracle_%ORACLE_KEY%/adjacency/*.parquet')),
      ent AS (SELECT entry_id FROM read_parquet(
        '/tmp/graft_graphasym_oracle_%ORACLE_KEY%/entry/*.parquet')),
      rot AS (SELECT component, weights FROM read_parquet(
        '/tmp/graft_graphasym_oracle_%ORACLE_KEY%/rotation/*.parquet')),
      proj AS (SELECT e.vec_id, r.component,
                 CAST(round(list_sum(list_transform(
                   range(1, len(e.embedding)+1),
                   i -> CAST(e.embedding[i] AS DOUBLE)
                        * CAST(r.weights[i] AS DOUBLE))), 4) AS REAL) AS p
               FROM embeddings e, rot r),
      pv AS (SELECT vec_id, list(p ORDER BY component) AS v
             FROM proj GROUP BY vec_id),
      qpr AS (SELECT v AS qv FROM pv WHERE vec_id = 0),
      qn AS (SELECT sqrt(list_sum(list_transform(qv,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
             FROM qpr),
      cxs AS (SELECT vec_id, CAST(round(CASE WHEN l2 = 0 THEN 0.0
                ELSE l1 / (8 * l2) END, 4) AS REAL) AS cx
              FROM (SELECT vec_id,
                      list_sum(list_transform(v,
                        x -> abs(CAST(x AS DOUBLE)))) AS l1,
                      sqrt(list_sum(list_transform(v,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
                    FROM pv)),
      dall AS (SELECT pv.vec_id AS id,
                -round(CASE WHEN cxs.cx = 0 THEN 0.0 ELSE
                  (2 * list_sum(list_transform(range(1, len(pv.v)+1),
                     i -> CASE WHEN pv.v[i] >= 0
                          THEN CAST(qpr.qv[i] AS DOUBLE) / qn.n
                          ELSE 0.0 END))
                   - list_sum(list_transform(qpr.qv,
                       x -> CAST(x AS DOUBLE) / qn.n)))
                  / (8 * CAST(cxs.cx AS DOUBLE)) END, 4) AS d
              FROM pv JOIN cxs USING (vec_id), qpr, qn),
      v0 AS (SELECT id, d FROM dall
             WHERE id IN (SELECT entry_id FROM ent)),
      f1 AS (SELECT id, d FROM v0 ORDER BY d ASC, id ASC LIMIT 4),
      n1 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f1 ON a.src = f1.id
             WHERE a.dst NOT IN (SELECT id FROM v0)),
      v1 AS (SELECT id, d FROM v0 UNION
             SELECT dall.id, dall.d FROM dall JOIN n1 USING (id)),
      x1 AS (SELECT id FROM f1),
      f2 AS (SELECT id, d FROM v1 WHERE id NOT IN (SELECT id FROM x1)
             ORDER BY d ASC, id ASC LIMIT 4),
      n2 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f2 ON a.src = f2.id
             WHERE a.dst NOT IN (SELECT id FROM v1)),
      v2 AS (SELECT id, d FROM v1 UNION
             SELECT dall.id, dall.d FROM dall JOIN n2 USING (id)),
      x2 AS (SELECT id FROM x1 UNION SELECT id FROM f2),
      f3 AS (SELECT id, d FROM v2 WHERE id NOT IN (SELECT id FROM x2)
             ORDER BY d ASC, id ASC LIMIT 4),
      n3 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f3 ON a.src = f3.id
             WHERE a.dst NOT IN (SELECT id FROM v2)),
      v3 AS (SELECT id, d FROM v2 UNION
             SELECT dall.id, dall.d FROM dall JOIN n3 USING (id))
      SELECT v.id AS vec_id, v.d AS route_score, %L2% AS distance
      FROM v3 v JOIN embeddings e ON e.vec_id = v.id, q
      ORDER BY distance ASC, vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  private val graphAnnPqWalk = Q(
    "graph_ann_pq_walk",
    (s, dir) => {
      import graft.search.{GraphAnn, Pq}
      val e = Tables.embeddings(s, dir)
      val pqDir = Fixtures.pqDir(dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryDf = Fixtures.graphMedoid(s, dir)
      val model = Fixtures.pq(s, dir)
      stageOracleOnce(s, "graphpq", dir)(
        "adjacency" -> adj.select("src", "dst"),
        "entry" -> entryDf,
        "codebooks" -> s.read.parquet(Pq.codebooksDir(pqDir)))
      val entryId = entryDf.collect()(0).getLong(0)
      val query = Fixtures.queryVector(e)
      val codes = s.read.parquet(Pq.codesDir(pqDir))
      GraphAnn.beamSearchPq(adj, codes, e, "vec_id", "embedding", query,
        model, entryId, k = 5, beamWidth = 4, rounds = 3, degree = 8)
    },
    Some("""
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      adj AS (SELECT src, dst FROM read_parquet(
        '/tmp/graft_graphpq_oracle_%ORACLE_KEY%/adjacency/*.parquet')),
      ent AS (SELECT entry_id FROM read_parquet(
        '/tmp/graft_graphpq_oracle_%ORACLE_KEY%/entry/*.parquet')),
      cb AS (SELECT * FROM read_parquet(
        '/tmp/graft_graphpq_oracle_%ORACLE_KEY%/codebooks/*.parquet')),
      enc AS (SELECT vec_id, sub, code FROM (
          SELECT e.vec_id, cb.sub, cb.code,
                 row_number() OVER (PARTITION BY e.vec_id, cb.sub ORDER BY
                   list_sum(list_transform(range(1, 9),
                     i -> (CAST(e.embedding[cb.sub*8 + i] AS DOUBLE)
                           - CAST(cb.centroid[i] AS DOUBLE))^2)) ASC,
                   cb.code ASC) AS rn
          FROM embeddings e CROSS JOIN cb) WHERE rn = 1),
      lut AS (SELECT cb.sub, cb.code,
                     list_sum(list_transform(range(1, 9),
                       i -> (CAST(q.qv[cb.sub*8 + i] AS DOUBLE)
                             - CAST(cb.centroid[i] AS DOUBLE))^2)) AS d
              FROM cb CROSS JOIN q),
      dall AS (SELECT enc.vec_id AS id, round(sum(lut.d), 4) AS d
               FROM enc JOIN lut USING (sub, code) GROUP BY enc.vec_id),
      v0 AS (SELECT id, d FROM dall
             WHERE id IN (SELECT entry_id FROM ent)),
      f1 AS (SELECT id, d FROM v0 ORDER BY d ASC, id ASC LIMIT 4),
      n1 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f1 ON a.src = f1.id
             WHERE a.dst NOT IN (SELECT id FROM v0)),
      v1 AS (SELECT id, d FROM v0 UNION
             SELECT dall.id, dall.d FROM dall JOIN n1 USING (id)),
      x1 AS (SELECT id FROM f1),
      f2 AS (SELECT id, d FROM v1 WHERE id NOT IN (SELECT id FROM x1)
             ORDER BY d ASC, id ASC LIMIT 4),
      n2 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f2 ON a.src = f2.id
             WHERE a.dst NOT IN (SELECT id FROM v1)),
      v2 AS (SELECT id, d FROM v1 UNION
             SELECT dall.id, dall.d FROM dall JOIN n2 USING (id)),
      x2 AS (SELECT id FROM x1 UNION SELECT id FROM f2),
      f3 AS (SELECT id, d FROM v2 WHERE id NOT IN (SELECT id FROM x2)
             ORDER BY d ASC, id ASC LIMIT 4),
      n3 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f3 ON a.src = f3.id
             WHERE a.dst NOT IN (SELECT id FROM v2)),
      v3 AS (SELECT id, d FROM v2 UNION
             SELECT dall.id, dall.d FROM dall JOIN n3 USING (id))
      SELECT v.id AS vec_id, v.d AS approx_distance, %L2% AS distance
      FROM v3 v JOIN embeddings e ON e.vec_id = v.id, q
      ORDER BY distance ASC, vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qv"))))

  /** Selectivity-adaptive filtered graph search (see
    * [[graft.search.GraphAnn.filteredBeamSearchAdaptive]]): the beam is
    * sized by the predicate's measured selectivity (width =
    * clamp(base/sel) — here ~10% ⇒ beam ≈ 40 vs the fixed entry's 12),
    * the production over-retrieval discipline that moves filtered
    * recall from 0.6 to ≥ 0.8 at the same predicate. Round 11: the
    * selectivity comes from [[graft.search.GraphAnn
    * .estimateSelectivitySampled]] — the deterministic hash-sample
    * form (exact at any under-cap corpus, so this fixture's value is
    * unchanged; at 100 TB the dispatch stops paying full-corpus
    * counts). The ESTIMATE is staged as a 1-row handoff (xxhash64 has
    * no DuckDB twin — the query-vector discipline) and the oracle
    * derives the clamp + walks with that width via a scalar subquery,
    * so a drifted clamp derivation or walk still hash-mismatches.
    * Output reports the derived width and the measured recall against
    * the exact filtered top-5. */
  private val graphAnnFilteredAdaptive = Q(
    "graph_ann_filtered_adaptive",
    (s, dir) => {
      import graft.search.GraphAnn
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryDf = Fixtures.graphMedoid(s, dir)
      val entryId = entryDf.collect()(0).getLong(0)
      val query = Fixtures.queryVector(e)
      val sel = GraphAnn.estimateSelectivitySampled(e,
        col("label") === 3, col("embedding"), e.count())
      stageOracleOnce(s, "graphfiltad", dir)(
        "adjacency" -> adj.select("src", "dst"),
        "entry" -> entryDf,
        "selest" -> Seq(sel).toDF("sel"))
      val bw = GraphAnn.adaptiveBeamWidth(4, sel, maxBeamWidth = 64)
      val walk = GraphAnn.filteredBeamSearchAdaptive(adj, e, "vec_id",
        "embedding", query, entryId, predicate = col("label") === 3,
        k = 5, selectivity = sel, baseBeamWidth = 4, rounds = 4,
        degree = 8, maxBeamWidth = 64)
      val qLit = typedlit(query.toSeq)
      val exact = e.where(col("label") === 3)
        .select(col("vec_id"),
          round(graft.functions.VectorFunctions.l2Sq(col("embedding"),
            qLit), 4).as("d"))
        .orderBy(col("d").asc, col("vec_id").asc).limit(5)
      exact.join(walk.select(col("vec_id"), lit(1).as("hit")),
          Seq("vec_id"), "left")
        .agg(round(count(col("hit")) / 5.0, 4).as("recall"))
        .select(lit("graph_filtered_adaptive").as("method"),
          lit(1L).as("n_queries"),
          round(lit(sel), 4).as("selectivity"),
          lit(bw.toLong).as("beam_width"), col("recall"))
    },
    Some(s"""
      WITH qs AS (SELECT CAST(0 AS BIGINT) AS qid, embedding AS qv
                  FROM embeddings WHERE vec_id = 0),
      -- the sampled estimate is an INPUT (staged 1-row handoff); the
      -- clamp and the walk remain live oracle arithmetic
      selq AS (SELECT sel FROM read_parquet(
        '/tmp/graft_graphfiltad_oracle_%ORACLE_KEY%/selest/*.parquet')),
      parq AS (SELECT least(64, greatest(4,
                 CAST(ceil(4.0 / sel) AS INT))) AS bw FROM selq),
      ${bulkWalkCtesExpr("graphfiltad", "(SELECT bw FROM parq)",
        rounds = 4)},
      walk AS (SELECT v.id FROM v4 v JOIN embeddings e ON e.vec_id = v.id
               WHERE e.label = 3
               ORDER BY v.d ASC, v.id ASC LIMIT 5),
      ex AS (SELECT d.id FROM dall d JOIN embeddings e ON e.vec_id = d.id
             WHERE e.label = 3
             ORDER BY d.d ASC, d.id ASC LIMIT 5)
      SELECT 'graph_filtered_adaptive' AS method,
             CAST(1 AS BIGINT) AS n_queries,
             (SELECT round(sel, 4) FROM selq) AS selectivity,
             (SELECT CAST(bw AS BIGINT) FROM parq) AS beam_width,
             round(count(w.id) / 5.0, 4) AS recall
      FROM ex LEFT JOIN walk w ON w.id = ex.id
    """))

  /** The composed filtered configuration — selectivity-adaptive beam ∘
    * multi-entry seeding ([[graft.search.GraphAnn.filteredBeamSearchMulti]]):
    * the filtered case benefits twice (over-retrieval covers the
    * post-filter loss; the region-local start spends the budget where
    * the predicate's survivors live). The selectivity is the round-11
    * sampled estimate (staged as an oracle input — see
    * `graph_ann_filtered_adaptive`); the oracle rederives the clamped
    * width, the per-qid seed window, all four rounds, the post-filter,
    * and the recall arithmetic from that input + the staged
    * artifacts. */
  private val graphAnnFilteredMultiRecall = Q(
    "graph_ann_filtered_multi_recall",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entries = Fixtures.graphEntries(s, dir)
      val query = Fixtures.queryVector(e)
      // sampled-estimate dispatch (exact under the cap) — the estimate
      // is staged as an oracle INPUT, like graph_ann_filtered_adaptive
      val sel = GraphAnn.estimateSelectivitySampled(e,
        col("label") === 3, col("embedding"), e.count())
      locally { import s.implicits._
        stageOracleOnce(s, "graphfiltmulti", dir)(
          "adjacency" -> adj.select("src", "dst"),
          "entry" -> entries.select("entry_id"),
          "selest" -> Seq(sel).toDF("sel"))
      }
      val walk = GraphAnn.filteredBeamSearchMulti(adj, e, "vec_id",
        "embedding", query, entries, predicate = col("label") === 3,
        k = 5, selectivity = sel, baseBeamWidth = 4, rounds = 4,
        degree = 8, maxBeamWidth = 64, nSeeds = 2)
      val qLit = typedlit(query.toSeq)
      val exact = e.where(col("label") === 3)
        .select(col("vec_id"),
          round(graft.functions.VectorFunctions.l2Sq(col("embedding"),
            qLit), 4).as("d"))
        .orderBy(col("d").asc, col("vec_id").asc).limit(5)
      exact.join(walk.select(col("vec_id"), lit(1).as("hit")),
          Seq("vec_id"), "left")
        .agg(round(count(col("hit")) / 5.0, 4).as("recall"))
        .select(lit("graph_filtered_adaptive_multi2").as("method"),
          lit(1L).as("n_queries"), col("recall"))
    },
    Some(s"""
      WITH qs AS (SELECT CAST(0 AS BIGINT) AS qid, embedding AS qv
                  FROM embeddings WHERE vec_id = 0),
      selq AS (SELECT sel FROM read_parquet(
        '/tmp/graft_graphfiltmulti_oracle_%ORACLE_KEY%/selest/*.parquet')),
      parq AS (SELECT least(64, greatest(4,
                 CAST(ceil(4.0 / sel) AS INT))) AS bw FROM selq),
      ${bulkWalkCtesExpr("graphfiltmulti", "(SELECT bw FROM parq)",
        rounds = 4, seedsPerQuery = 2)},
      walk AS (SELECT v.id FROM v4 v JOIN embeddings e ON e.vec_id = v.id
               WHERE e.label = 3
               ORDER BY v.d ASC, v.id ASC LIMIT 5),
      ex AS (SELECT d.id FROM dall d JOIN embeddings e ON e.vec_id = d.id
             WHERE e.label = 3
             ORDER BY d.d ASC, d.id ASC LIMIT 5)
      SELECT 'graph_filtered_adaptive_multi2' AS method,
             CAST(1 AS BIGINT) AS n_queries,
             round(count(w.id) / 5.0, 4) AS recall
      FROM ex LEFT JOIN walk w ON w.id = ex.id
    """))

  /** Range search over the graph index (see
    * [[graft.search.GraphAnn.rangeBeamSearch]]): every visited node
    * within the radius, same walk as `graph_ann_filtered` — so the
    * oracle reuses the shared round-replay CTE chain and applies the
    * radius cut to the final visited set. Approximate by construction
    * (matches outside the walked neighborhood are not reported), the
    * same contract Milvus documents for range_search on graph
    * indexes. */
  private val graphAnnRange = Q(
    "graph_ann_range",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryId = stageGraph(s, "graphrange", dir)
      val query = Fixtures.queryVector(e)
      GraphAnn.rangeBeamSearch(adj, e, "vec_id", "embedding", query,
        entryId, radius = 1.6, beamWidth = 6, rounds = 3, degree = 8)
    },
    Some(s"""
      WITH qs AS (SELECT CAST(0 AS BIGINT) AS qid, embedding AS qv
                  FROM embeddings WHERE vec_id = 0),
      ${bulkWalkCtes("graphrange", beamWidth = 6, rounds = 3)}
      SELECT id AS vec_id, d AS distance FROM v3
      WHERE d <= 1.6
      ORDER BY distance ASC, vec_id ASC
    """))

  /** Streaming index maintenance for the graph family: two file-source
    * micro-batches (base corpus, then a small late batch) drive
    * foreachBatch — batch 1 BUILDS the graph, batch 2 runs the
    * FreshDiskANN-style [[graft.search.GraphAnn.append]] against the
    * frozen base structure (no rebuild; the IvfIndex.append /
    * ivf_incremental_search contract applied to streaming ingest, which
    * is how a 100 TB index stays current). The final adjacency is
    * staged and the oracle replays the SERVING walk over it round by
    * round — the streaming-built graph must serve exactly like any
    * other; append ≡ rebuild is GraphAnnSpec's pin. */
  private val streamingGraphIngest = Q(
    "streaming_graph_ingest",
    (s, dir) => {
      import graft.search.GraphAnn
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.types._
      val e = Tables.embeddings(s, dir)
      val work = s"/tmp/graft_streamgraph_${math.abs(dir.hashCode)}"
      val conf = s.sparkContext.hadoopConfiguration
      val fs = new Path(work).getFileSystem(conf)
      val adjDir = s"$work/adjacency"
      val entryDir = s"$work/entry"
      // fixed 500-id demo corpus at every SF: the entry measures the
      // INGEST machinery (build → append → serve), not corpus scaling —
      // the graph family's scale rows live in SCALE.md
      streamInputOnce(s, work,
        Seq(s"$work/_ckpt", adjDir, s"$adjDir.next", entryDir)) {
        writeOne =>
          writeOne(e.where(col("vec_id") < 492), "00_base.parquet",
            1000000L)
          writeOne(e.where(col("vec_id").between(492, 499)),
            "01_batch.parquet", 2000000L)
      }
      val schema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType)))
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
      val q = src.writeStream
        .option("checkpointLocation", s"$work/_ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!fs.exists(new Path(s"$adjDir/_SUCCESS"))) {
            // the two build artifacts are independent writes to
            // disjoint dirs — submit them concurrently (guide §2.6:
            // actions are only sequential because the driver calls
            // them sequentially; the medoid's jobs back-fill the
            // adjacency build's scheduling gaps)
            import scala.concurrent.{Await, Future}
            import scala.concurrent.duration.Duration
            import scala.concurrent.ExecutionContext.Implicits.global
            val fa = Future {
              GraphAnn.buildAdjacency(batch, "vec_id", "embedding")
                .write.mode("overwrite").parquet(adjDir)
            }
            val fe = Future {
              GraphAnn.medoid(batch, "vec_id", "embedding")
                .write.mode("overwrite").parquet(entryDir)
            }
            Await.result(fa, Duration.Inf)
            Await.result(fe, Duration.Inf)
          } else {
            val adj = s.read.schema(GraphAnn.adjacencySchema).parquet(adjDir)
            val grown = s.read.schema(schema).parquet(s"$work/in")
            val entryId = s.read.schema(GraphAnn.entrySchema).parquet(entryDir)
              .collect()(0).getLong(0)
            GraphAnn.append(adj, grown, "vec_id", "embedding", batch,
                entryId, degree = 8, beamWidth = 4, rounds = 3)
              .adjacency.write.mode("overwrite").parquet(s"$adjDir.next")
            fs.delete(new Path(adjDir), true)
            fs.rename(new Path(s"$adjDir.next"), new Path(adjDir))
          }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val adj = s.read.schema(GraphAnn.adjacencySchema).parquet(adjDir)
      val entryDf = s.read.schema(GraphAnn.entrySchema).parquet(entryDir)
      // the streamed artifact is a pure function of the deterministic
      // 2-batch fixture — once-staged like every deterministic handoff
      stageOracleOnce(s, "streamgraph", dir)(
        "adjacency" -> adj.select("src", "dst"),
        "entry" -> entryDf)
      val entryId = entryDf.collect()(0).getLong(0)
      // single-query serve stays on the PER-QUERY walk: its rounds are
      // pushed point lookups (adjacency rows of the frontier, vectors
      // of the new candidates), which beats the bulk walk's
      // corpus-equi-join rounds until the query batch amortizes the
      // scans (measured round 16: the bulk swap was +2.5 s here)
      val query = Fixtures.queryVector(e)
      GraphAnn.beamSearch(adj, e, "vec_id", "embedding", query, entryId,
        k = 5, beamWidth = 4, rounds = 3, degree = 8)
    },
    Some(s"""
      WITH qs AS (SELECT CAST(0 AS BIGINT) AS qid, embedding AS qv
                  FROM embeddings WHERE vec_id = 0),
      ${bulkWalkCtes("streamgraph", beamWidth = 4, rounds = 3)}
      SELECT id AS vec_id, d AS distance FROM v3
      ORDER BY distance ASC, vec_id ASC LIMIT 5
    """))

  /** Streaming ingest into a LAYERED graph
    * ([[graft.search.GraphAnn.appendLayeredMulti]] with one upper
    * layer): batch 1 builds BOTH layers (base adjacency + medoid,
    * [[graft.search.GraphAnn.upperSample]]'s layer
    * + its medoid), batch 2 appends — every row joins the base graph
    * by frozen-graph walk insertion, and the rows the deterministic
    * ppm hash cut samples ALSO join the upper adjacency (membership by
    * RULE, not load order, so the grown index matches a rebuild —
    * [[graft.search.IndexAudit.upperLayerChecks]]'
    * membership counter stays 0). The final serve is the layered walk
    * over the streaming-grown artifacts; the oracle replays BOTH
    * chained walks from the staged final adjacencies — a dropped batch
    * or a mis-membered upper append changes the staged layout and
    * mismatches. */
  private val streamingLayeredIngest = Q(
    "streaming_layered_ingest",
    (s, dir) => {
      import graft.search.GraphAnn
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.types._
      val e = Tables.embeddings(s, dir)
      val work = s"/tmp/graft_streamlayer_${math.abs(dir.hashCode)}"
      val conf = s.sparkContext.hadoopConfiguration
      val fs = new Path(work).getFileSystem(conf)
      val adjDir = s"$work/adjacency"
      val uadjDir = s"$work/adjacency_upper"
      val entryDir = s"$work/entry"
      val uentryDir = s"$work/entry_upper"
      // fixed 500-id demo corpus at every SF (the streaming_graph_ingest
      // discipline): the entry measures the layered INGEST machinery
      streamInputOnce(s, work,
        Seq(s"$work/_ckpt", adjDir, s"$adjDir.next", uadjDir,
          s"$uadjDir.next", entryDir, uentryDir)) { writeOne =>
        writeOne(e.where(col("vec_id") < 484), "00_base.parquet",
          1000000L)
        writeOne(e.where(col("vec_id").between(484, 499)),
          "01_batch.parquet", 2000000L)
      }
      val schema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType)))
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
      val q = src.writeStream
        .option("checkpointLocation", s"$work/_ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          import scala.concurrent.ExecutionContext.Implicits.global
          if (!fs.exists(new Path(s"$adjDir/_SUCCESS"))) {
            // four independent artifact writes to disjoint dirs —
            // submit concurrently (guide §2.6; see
            // streaming_graph_ingest): the three small upper/medoid
            // builds back-fill the base adjacency build's gaps
            val usample = GraphAnn.upperSample(batch, "vec_id")
            val fs4 = Seq(
              Future {
                GraphAnn.buildAdjacency(batch, "vec_id", "embedding")
                  .write.mode("overwrite").parquet(adjDir)
              },
              Future {
                GraphAnn.medoid(batch, "vec_id", "embedding")
                  .write.mode("overwrite").parquet(entryDir)
              },
              Future {
                GraphAnn.buildAdjacency(usample, "vec_id", "embedding")
                  .write.mode("overwrite").parquet(uadjDir)
              },
              Future {
                GraphAnn.medoid(usample, "vec_id", "embedding")
                  .write.mode("overwrite").parquet(uentryDir)
              })
            fs4.foreach(Await.result(_, Duration.Inf))
          } else {
            val adj = s.read.schema(GraphAnn.adjacencySchema).parquet(adjDir)
            val uadj = s.read.schema(GraphAnn.adjacencySchema).parquet(uadjDir)
            val grown = s.read.schema(schema).parquet(s"$work/in")
            val entryId = s.read.schema(GraphAnn.entrySchema).parquet(entryDir)
              .collect()(0).getLong(0)
            val uentryId = s.read.schema(GraphAnn.entrySchema).parquet(uentryDir)
              .collect()(0).getLong(0)
            val res = GraphAnn.appendLayeredMulti(adj, Seq(uadj), grown,
              "vec_id", "embedding", batch, entryId, Seq(uentryId),
              degree = 8, beamWidth = 4, rounds = 3)
            // skip the upper-artifact rewrite when the ppm cut sampled
            // nothing into the upper layer (the adjacency is unchanged
            // by construction, so the write is pure fixed cost); the
            // two .next rewrites are independent dirs, so they run
            // concurrently like the batch-1 builds
            val fb = Future {
              res.adjacency.write.mode("overwrite")
                .parquet(s"$adjDir.next")
            }
            val swap =
              if (res.levelIds.head.isEmpty) {
                Await.result(fb, Duration.Inf)
                Seq(adjDir)
              } else {
                val fu = Future {
                  res.adjLayers.head.write.mode("overwrite")
                    .parquet(s"$uadjDir.next")
                }
                Await.result(fb, Duration.Inf)
                Await.result(fu, Duration.Inf)
                Seq(adjDir, uadjDir)
              }
            swap.foreach { d =>
              fs.delete(new Path(d), true)
              fs.rename(new Path(s"$d.next"), new Path(d))
            }
          }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val adj = s.read.schema(GraphAnn.adjacencySchema).parquet(adjDir)
      val uadj = s.read.schema(GraphAnn.adjacencySchema).parquet(uadjDir)
      val uentDf = s.read.schema(GraphAnn.entrySchema).parquet(uentryDir)
      // deterministic handoffs (pure function of the 2-batch fixture)
      // — once-staged
      stageOracleOnce(s, "streamlayeru", dir)(
        "adjacency" -> uadj.select("src", "dst"),
        "entry" -> uentDf.select("entry_id"))
      stageOracleOnce(s, "streamlayerb", dir)(
        "adjacency" -> adj.select("src", "dst"))
      // single-query serve stays on the PER-QUERY layered walk (see
      // streaming_graph_ingest: the bulk walk's corpus-equi-join
      // rounds only win once a query batch amortizes them)
      val query = Fixtures.queryVector(e)
      GraphAnn.layeredSearchMulti(Seq(uadj), uentDf, adj, e, "vec_id",
        "embedding", query, k = 5, beamWidth = 4, upperRounds = 3,
        rounds = 3, degree = 8, nSeeds = 2)
    },
    Some(s"""
      WITH qs AS (SELECT CAST(0 AS BIGINT) AS qid,
                         (SELECT embedding FROM embeddings
                          WHERE vec_id = 0) AS qv),
      ${bulkWalkCtesExpr("streamlayeru", "4", rounds = 3, prefix = "u",
        materialized = true)},
      useed AS MATERIALIZED (SELECT id AS entry_id FROM uv3
              ORDER BY d ASC, id ASC LIMIT 2),
      ${bulkWalkCtesExpr("streamlayerb", "4", rounds = 3, prefix = "b",
        materialized = true, entFrom = "useed")}
      SELECT id AS vec_id, d AS distance FROM bv3
      ORDER BY distance ASC, vec_id ASC LIMIT 5
    """))

  /** Per-query candidate recall of the bulk walk vs the exact top-5 —
    * the graph-serving analogue of `index_recall_report`'s single-query
    * graph row, and the honest number behind the bulk entry's
    * beam/round sizing. Both the walk and the exact baseline are fully
    * replayed by the oracle. */
  private val graphAnnBulkRecall = Q(
    "graph_ann_bulk_recall",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryId = stageGraph(s, "graphbulk", dir)
      val queries = e.where(col("vec_id").isin(BulkQids: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val bulk = GraphAnn.bulkBeamSearch(adj, e, "vec_id", "embedding",
          queries, "qid", "qv", entryId, k = 5, beamWidth = 8, rounds = 6)
        .select(col("qid"), col("vec_id"), lit(1).as("hit"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("d").asc, col("vec_id").asc)
      val exact = e.crossJoin(broadcast(queries))
        .select(col("qid"), col("vec_id"),
          round(VectorFunctions.l2Sq(col("embedding"), col("qv")), 4)
            .as("d"))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= 5)
        .select("qid", "vec_id")
      exact.join(bulk, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(round(count(col("hit")) / 5.0, 4).as("recall"))
        .orderBy(col("qid").asc)
    },
    Some(s"""
      WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                  WHERE vec_id IN (${BulkQids.mkString(", ")})),
      ${bulkWalkCtes("graphbulk", beamWidth = 8, rounds = 6)},
      bulk AS (SELECT qid, id FROM (
          SELECT qid, id, row_number() OVER (PARTITION BY qid
              ORDER BY d ASC, id ASC) AS rn FROM v6) tb
        WHERE rn <= 5),
      ex AS (SELECT qid, id FROM (
          SELECT qid, id, row_number() OVER (PARTITION BY qid
              ORDER BY d ASC, id ASC) AS rn FROM dall) te
        WHERE rn <= 5)
      SELECT e.qid, round(count(b.id) / 5.0, 4) AS recall
      FROM ex e LEFT JOIN bulk b ON b.qid = e.qid AND b.id = e.id
      GROUP BY e.qid ORDER BY e.qid ASC
    """))

  /** Incremental graph maintenance (see [[graft.search.GraphAnn.append]]):
    * the three largest-id vectors are held out, the graph is built on the
    * rest, and the holdouts are appended — connected by beam walks over
    * the FROZEN base graph, symmetrized, with only the affected
    * neighborhoods re-capped (the IvfIndex.append frozen-structure
    * discipline; a full rebuild at 100 TB for a streaming batch is the
    * defect this operator removes). The oracle recomputes every affected
    * src's post-append edge list from the staged base adjacency + staged
    * beam links — distance math, symmetrize, and the degree re-cap are
    * all replayed; the beam discovery itself is pinned by
    * graph_ann_search's full replay and by GraphAnnSpec's
    * append ≡ rebuild property. */
  private val graphAnnIncremental = Q(
    "graph_ann_incremental",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val maxId = e.agg(max(col("vec_id"))).collect()(0).getLong(0)
      val base = e.where(col("vec_id") < maxId - 2)
      val batch = e.where(col("vec_id") >= maxId - 2)
      val key = s"/tmp/graft_graphann_incr_${math.abs(dir.hashCode)}"
      val adj0 = graft.core.Artifacts.buildOnce(s, s"$key/adjacency") {
        GraphAnn.buildAdjacency(base, "vec_id", "embedding")
      }
      val entryDf = graft.core.Artifacts.buildOnce(s, s"$key/entry") {
        GraphAnn.medoid(base, "vec_id", "embedding")
      }
      val entryId = entryDf.collect()(0).getLong(0)
      // the append (deterministic per fixture) runs once; its result
      // tables persist next to the base artifact — the oracle still
      // recomputes the links from the staged pre-append adjacency
      mutateOnce(s, s"$key/appended") {
        val r = GraphAnn.append(adj0, base, "vec_id", "embedding", batch,
          entryId, degree = 8, beamWidth = 4, rounds = 3)
        r.adjacency.write.mode("overwrite")
          .parquet(s"$key/appended/adjacency")
        r.links.select("src", "dst").write.mode("overwrite")
          .parquet(s"$key/appended/links")
      }
      val adj1 = s.read.parquet(s"$key/appended/adjacency")
      val links = s.read.parquet(s"$key/appended/links")
      stageOracleOnce(s, "graphincr", dir)(
        "adjacency" -> adj0.select("src", "dst"),
        "links" -> links)
      val affected = links.select(col("src"))
        .unionByName(links.select(col("dst").as("src"))).distinct()
      adj1.join(affected, Seq("src"), "left_semi")
        .orderBy(col("src").asc, col("dst").asc)
    },
    Some(s"""
      WITH links AS (SELECT src, dst FROM read_parquet(
        '/tmp/graft_graphincr_oracle_%ORACLE_KEY%/links/*.parquet')),
      base AS (SELECT src, dst FROM read_parquet(
        '/tmp/graft_graphincr_oracle_%ORACLE_KEY%/adjacency/*.parquet')),
      aff AS (SELECT src AS id FROM links UNION SELECT dst FROM links),
      cand AS (SELECT src, dst FROM base
               WHERE src IN (SELECT id FROM aff)
               UNION SELECT src, dst FROM links
               UNION SELECT dst AS src, src AS dst FROM links),
      d AS (SELECT c.src, c.dst,
                   ${duckL2("ea.embedding", "eb.embedding")} AS dist
            FROM cand c JOIN embeddings ea ON ea.vec_id = c.src
                        JOIN embeddings eb ON eb.vec_id = c.dst)
      SELECT src, dst, dist FROM (
        SELECT src, dst, dist, row_number() OVER (PARTITION BY src
            ORDER BY dist ASC, dst ASC) AS rn FROM d) t
      WHERE rn <= 8 ORDER BY src ASC, dst ASC
    """))

  /** Time travel over the collection's retained rewrite pre-images
    * (Collection(retainVersions = true) — the capability Milvus 2.x
    * exposed as time travel and lakehouse formats as VERSION AS OF):
    * ingest, then a delete and an upsert, then read ALL THREE states —
    * v1 (pre-delete), v2 (pre-upsert), live — in one result. The
    * oracle recomputes each historical state from the fixture, so a
    * version that leaked the wrong rewrite's rows (off-by-one in the
    * retain step, a version renamed over another) hash-mismatches. */
  private val collectionTimeTravel = Q(
    "collection_time_travel",
    (s, dir) => {
      val out = s"/tmp/graft_timetravel_${math.abs(dir.hashCode)}/docs"
      val coll = Collection(s, out, retainVersions = true)
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      coll.create(docs.schema, force = true)
      coll.append(docs)
      coll.delete(pmod(col("doc_id"), lit(10)) === 0)
      coll.upsert(docs.where(pmod(col("doc_id"), lit(10)) === 1)
        .withColumn("text", concat(col("text"), lit(" v2"))), "doc_id")
      def stateAgg(version: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_rows"),
            sum(length(col("text"))).cast("long").as("sum_text"))
          .select(lit(version).as("version"), col("n_rows"),
            col("sum_text"))
      stateAgg("v1", coll.readVersion(1))
        .unionAll(stateAgg("v2", coll.readVersion(2)))
        .unionAll(stateAgg("live", coll.read))
        .orderBy(col("version").asc)
    },
    Some("""
      WITH v2s AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 != 0),
      lives AS (SELECT doc_id,
                       CASE WHEN doc_id % 10 = 1 THEN text || ' v2'
                            ELSE text END AS text
                FROM v2s)
      SELECT version, n_rows, sum_text FROM (
        SELECT 'v1' AS version, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(length(text)) AS BIGINT) AS sum_text FROM documents
        UNION ALL
        SELECT 'v2', CAST(count(*) AS BIGINT),
               CAST(sum(length(text)) AS BIGINT) FROM v2s
        UNION ALL
        SELECT 'live', CAST(count(*) AS BIGINT),
               CAST(sum(length(text)) AS BIGINT) FROM lives) u
      ORDER BY version ASC
    """))

  /** Hybrid search with a GRAPH dense side — `hybrid_search_rrf`'s
    * fusion (BM25 lexical top-20 + dense top-20, reciprocal-rank k=60)
    * with the exact-kNN scan replaced by the beam walk: at 100 TB the
    * dense side of hybrid retrieval CANNOT be a corpus scan, and this
    * entry pins that the fusion semantics survive the swap —
    * rank-based fusion only needs the walk's top-20, not its scores'
    * comparability. The oracle replays BM25 (tf/df/dl/avgdl from the
    * raw fixture), all three walk rounds over the staged adjacency,
    * both rank windows, and the fused ordering. */
  private val hybridGraphRrf = Q(
    "hybrid_graph_rrf",
    (s, dir) => {
      import graft.search.{Bm25, GraphAnn}
      val docs = Tables.documents(s, dir)
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryId = stageGraph(s, "graphhyb", dir)
      val query = Fixtures.queryVector(e)
      val bm = Bm25.score(docs, "doc_id", "text",
        terms = Seq("scan", "filter", "merge"))
      val bmRanks = Bm25.topRanks(bm, "bm25", n = 20,
        ascending = false, rankCol = "bm25_rank")
      val walk = GraphAnn.beamSearch(adj, e, "vec_id", "embedding",
          query, entryId, k = 20, beamWidth = 4, rounds = 3, degree = 8)
        .select(col("vec_id").as("id"), col("distance").as("d"))
      val graphRanks = Bm25.topRanks(walk, "d", n = 20,
        ascending = true, rankCol = "graph_rank")
      Bm25.rrfFuse(bmRanks, "bm25_rank", graphRanks, "graph_rank")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("rrf").desc, col("doc_id").asc)
        .limit(10)
    },
    Some(("""
      WITH toks AS (SELECT doc_id,
                           unnest(string_split_regex(text, '\s+')) AS term
                    FROM documents),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST((SELECT sum(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)))
                             FROM documents) AS DOUBLE) / count(*) AS avgdl
                FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
             WHERE term IN ('scan', 'filter', 'merge') GROUP BY doc_id, term),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      dl AS (SELECT doc_id,
                    CAST(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS DOUBLE) AS dl
             FROM documents),
      bm AS (SELECT tf.doc_id,
                    round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                      * (tf * 2.2)
                      / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))), 4) AS bm25
             FROM tf JOIN dfq USING (term)
                     JOIN dl ON dl.doc_id = tf.doc_id
                     CROSS JOIN stats
             GROUP BY tf.doc_id),
      bmr AS (SELECT doc_id, CAST(row_number() OVER
                       (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS bm25_rank
              FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id ASC LIMIT 20)),
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      adj AS (SELECT src, dst FROM read_parquet(
        '/tmp/graft_graphhyb_oracle_%ORACLE_KEY%/adjacency/*.parquet')),
      ent AS (SELECT entry_id FROM read_parquet(
        '/tmp/graft_graphhyb_oracle_%ORACLE_KEY%/entry/*.parquet')),
      dall AS (SELECT e.vec_id AS id, %L2% AS d FROM embeddings e, q),
      v0 AS (SELECT id, d FROM dall
             WHERE id IN (SELECT entry_id FROM ent)),
      f1 AS (SELECT id, d FROM v0 ORDER BY d ASC, id ASC LIMIT 4),
      n1 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f1 ON a.src = f1.id
             WHERE a.dst NOT IN (SELECT id FROM v0)),
      v1 AS (SELECT id, d FROM v0 UNION
             SELECT dall.id, dall.d FROM dall JOIN n1 USING (id)),
      x1 AS (SELECT id FROM f1),
      f2 AS (SELECT id, d FROM v1 WHERE id NOT IN (SELECT id FROM x1)
             ORDER BY d ASC, id ASC LIMIT 4),
      n2 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f2 ON a.src = f2.id
             WHERE a.dst NOT IN (SELECT id FROM v1)),
      v2 AS (SELECT id, d FROM v1 UNION
             SELECT dall.id, dall.d FROM dall JOIN n2 USING (id)),
      x2 AS (SELECT id FROM x1 UNION SELECT id FROM f2),
      f3 AS (SELECT id, d FROM v2 WHERE id NOT IN (SELECT id FROM x2)
             ORDER BY d ASC, id ASC LIMIT 4),
      n3 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f3 ON a.src = f3.id
             WHERE a.dst NOT IN (SELECT id FROM v2)),
      v3 AS (SELECT id, d FROM v2 UNION
             SELECT dall.id, dall.d FROM dall JOIN n3 USING (id)),
      knr AS (SELECT id AS doc_id, CAST(row_number() OVER
                       (ORDER BY d ASC, id ASC) AS BIGINT) AS graph_rank
              FROM (SELECT * FROM v3 ORDER BY d ASC, id ASC LIMIT 20))
      SELECT coalesce(bmr.doc_id, knr.doc_id) AS doc_id,
             round(coalesce(1.0 / (60 + bm25_rank), 0)
                 + coalesce(1.0 / (60 + graph_rank), 0), 6) AS rrf,
             bm25_rank, graph_rank
      FROM bmr FULL OUTER JOIN knr ON bmr.doc_id = knr.doc_id
      ORDER BY rrf DESC, doc_id ASC LIMIT 10
    """).replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Version diff (see [[Collection.diffVersion]]) — the
    * `table_changes`/changelog-read audit over the time-travel
    * retention: which keys a rewrite added / removed / updated between
    * snapshot v1 and live. The fixture exercises all three classes in
    * one history (delete doc_id%10=0, update %10=1, insert fresh
    * offset keys from %10=2) and the oracle derives the full expected
    * change set from the raw fixture — a key that leaks into the wrong
    * class, an unchanged key that appears, or a lost change all
    * hash-mismatch. One full-outer key join, column-pruned to the
    * shared non-key columns. */
  private val collectionVersionDiff = Q(
    "collection_version_diff",
    (s, dir) => {
      val out = s"/tmp/graft_versiondiff_${math.abs(dir.hashCode)}/docs"
      val coll = Collection(s, out, retainVersions = true)
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      coll.create(docs.schema, force = true)
      coll.append(docs)
      coll.delete(pmod(col("doc_id"), lit(10)) === 0)       // v1 = original
      coll.upsert(
        docs.where(pmod(col("doc_id"), lit(10)) === 1)
          .withColumn("text", concat(col("text"), lit(" v2")))
          .unionAll(docs.where(pmod(col("doc_id"), lit(10)) === 2)
            .select((col("doc_id") + 1000000).as("doc_id"),
              concat(lit("new "), col("text")).as("text"))),
        "doc_id")                                           // v2 = post-delete
      coll.diffVersion(1, "doc_id")
        .select(col("change"), col("doc_id").cast("long").as("doc_id"))
        .orderBy(col("change").asc, col("doc_id").asc)
    },
    Some("""
      SELECT change, CAST(doc_id AS BIGINT) AS doc_id FROM (
        SELECT 'removed' AS change, doc_id FROM documents
        WHERE doc_id % 10 = 0
        UNION ALL
        SELECT 'updated', doc_id FROM documents WHERE doc_id % 10 = 1
        UNION ALL
        SELECT 'added', doc_id + 1000000 FROM documents
        WHERE doc_id % 10 = 2) u
      ORDER BY change ASC, doc_id ASC
    """))

  /** Point-get by primary keys (Milvus `query(expr="id in [...]")` /
    * `get` parity): read specific rows from a stored collection by id
    * list. The value is the PLAN, not the rows: the `In` predicate
    * must reach the parquet scan as a pushed filter (PlanSpec pins it)
    * so a point lookup reads row groups whose stats match, never the
    * collection — at warehouse scale with sorted/z-ordered layout
    * (`sorted_scan_prune`) that is a handful of pages. */
  private val collectionPointGet = Q(
    "collection_point_get",
    (s, dir) => {
      Fixtures.knowledgeCollection(s, dir).read.where(col("id").isin(3L, 7L, 11L))
        .select(col("id"), col("chapter"), length(col("content"))
          .cast("long").as("content_len"))
        .orderBy(col("id").asc)
    },
    Some("""
      WITH c AS (
        SELECT doc_id, source AS chapter,
               trim(regexp_replace(regexp_replace(text,
                 '[^\w一-鿿\s.,!?;:，。！？；：]', '', 'g'), '\s+', ' ', 'g'))
                 AS content
        FROM documents),
      f AS (SELECT * FROM c WHERE length(content) >= 10),
      ids AS (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id,
                     chapter, content
              FROM f)
      SELECT CAST(id AS BIGINT) AS id, chapter,
             CAST(length(content) AS BIGINT) AS content_len
      FROM ids WHERE id IN (3, 7, 11)
      ORDER BY id ASC
    """))

  /** Alias-based zero-downtime reindex (Milvus create_alias/
    * alter_alias parity): serve through alias "serving" pointed at the
    * blue collection, build green out of band, flip the alias (one
    * atomic file rename), read again. The result carries BOTH phases'
    * aggregates; the oracle recomputes each phase's corpus from the
    * fixture, so an alias resolving to the wrong target — or a torn
    * swap — hash-mismatches. */
  private val collectionAliasSwap = Q(
    "collection_alias_swap",
    (s, dir) => {
      val root = s"/tmp/graft_alias_${math.abs(dir.hashCode)}"
      val rp = new org.apache.hadoop.fs.Path(root)
      rp.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rp, true)
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val blue = Collection(s, s"$root/blue")
      blue.create(docs.schema, force = true)
      blue.append(docs.where(col("doc_id") < 250))
      val green = Collection(s, s"$root/green")
      green.create(docs.schema, force = true)
      green.append(docs)
      def phaseAgg(phase: String) =
        Collection.byAlias(s, root, "serving").read
          .agg(count(lit(1)).as("n_rows"),
            sum(length(col("text"))).cast("long").as("sum_text"))
          .select(lit(phase).as("phase"), col("n_rows"), col("sum_text"))
      Collection.setAlias(s, root, "serving", blue.dir)
      val a = phaseAgg("1_blue")
      // materialize BEFORE the flip: the read plan is lazy and must
      // capture the blue resolution, not re-resolve after the swap
      val aRows = a.collect()
      Collection.setAlias(s, root, "serving", green.dir)
      val b = phaseAgg("2_green")
      s.createDataFrame(
        s.sparkContext.parallelize(aRows.toSeq, 1), a.schema)
        .unionAll(b)
        .orderBy(col("phase").asc)
    },
    Some("""
      SELECT phase, n_rows, sum_text FROM (
        SELECT '1_blue' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(length(text)) AS BIGINT) AS sum_text
        FROM documents WHERE doc_id < 250
        UNION ALL
        SELECT '2_green', CAST(count(*) AS BIGINT),
               CAST(sum(length(text)) AS BIGINT) FROM documents) u
      ORDER BY phase ASC
    """))

  /** Alias enumeration ([[Collection.listAliases]]/`describeAlias` —
    * Milvus list_aliases/describe_alias parity): stage two collections,
    * point two aliases at them, list. The output joins each alias to
    * its RESOLVED collection's row count, so an alias listed with the
    * wrong target (or a listing that misses/invents aliases)
    * hash-mismatches against the oracle's recomputed per-corpus counts.
    * mtime is in the API but not the output (non-deterministic). */
  private val collectionAliasList = Q(
    "collection_alias_list",
    (s, dir) => {
      val root = s"/tmp/graft_aliaslist_${math.abs(dir.hashCode)}"
      val rp = new org.apache.hadoop.fs.Path(root)
      rp.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rp, true)
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val blue = Collection(s, s"$root/blue")
      blue.create(docs.schema, force = true)
      blue.append(docs.where(col("doc_id") < 250))
      val green = Collection(s, s"$root/green")
      green.create(docs.schema, force = true)
      green.append(docs)
      Collection.setAlias(s, root, "serving", green.dir)
      Collection.setAlias(s, root, "staging", blue.dir)
      // describeAlias agrees with the listing (API contract exercised
      // on the oracle path, not just in a spec)
      val described = Collection.describeAlias(s, root, "serving")._1
      require(described == green.dir,
        s"describeAlias drift: $described != ${green.dir}")
      val rows = Collection.listAliases(s, root).map { case (n, t, _) =>
        (n, t.split('/').last, Collection(s, t).count())
      }
      import s.implicits._
      rows.toDF("alias", "target", "n_rows")
        .orderBy(col("alias").asc)
    },
    Some("""
      SELECT alias, target, n_rows FROM (
        SELECT 'serving' AS alias, 'green' AS target,
               CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_rows
        UNION ALL
        SELECT 'staging', 'blue',
               CAST((SELECT count(*) FROM documents WHERE doc_id < 250)
                 AS BIGINT)) u
      ORDER BY alias ASC
    """))

  /** Partition-keyed collection ([[Collection.appendPartitioned]] —
    * Milvus partition_key parity): ingest the documents table
    * partitioned by `source`, then run a partition-key query. The
    * VALUE is the plan: the `source` predicate becomes a partition
    * filter (directory pruning — zero IO outside the matching
    * partition; PlanSpec pins PartitionFilters), and the oracle
    * recomputes the aggregates from the fixture so routing that lost or
    * misfiled rows hash-mismatches. */
  private val collectionPartitionKey = Q(
    "collection_partition_key",
    (s, dir) => {
      val coll = Collection(s,
        s"/tmp/graft_collpk_${math.abs(dir.hashCode)}/docs")
      rebuildOnce(s, coll.dir) {
        coll.appendPartitioned(
          Tables.documents(s, dir).select("doc_id", "text", "n_chars",
            "source"),
          partCol = "source")
      }
      coll.read.where(col("source") === "src3")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"))
        .select(lit("src3").as("source"), col("n_rows"),
          col("sum_chars"), col("min_id"))
    },
    Some("""
      SELECT 'src3' AS source, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(min(doc_id) AS BIGINT) AS min_id
      FROM documents WHERE source = 'src3'
    """))

  /** Collection clone ([[Collection.cloneTo]] — backup/fork parity):
    * ingest, clone, then MUTATE THE SOURCE (delete rows) and read the
    * clone — the clone must still carry the pre-mutation corpus (file
    * copy, not a reference). Oracle recomputes both sides' aggregates
    * from the fixture. */
  private val collectionClone = Q(
    "collection_clone",
    (s, dir) => {
      val root = s"/tmp/graft_clone_${math.abs(dir.hashCode)}"
      val rp = new org.apache.hadoop.fs.Path(root)
      rp.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rp, true)
      val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
      val src = Collection(s, s"$root/src")
      src.create(docs.schema, force = true)
      src.append(docs)
      val backup = src.cloneTo(s"$root/backup")
      src.delete(col("doc_id") >= 100) // mutate the source AFTER cloning
      def agg(c: Collection, which: String) =
        c.read.agg(count(lit(1)).as("n_rows"),
            sum(col("n_chars")).as("sum_chars"))
          .select(lit(which).as("side"), col("n_rows"), col("sum_chars"))
      agg(src, "1_source_after_delete").unionAll(agg(backup, "2_backup"))
        .orderBy(col("side").asc)
    },
    Some("""
      SELECT side, n_rows, sum_chars FROM (
        SELECT '1_source_after_delete' AS side,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE doc_id < 100
        UNION ALL
        SELECT '2_backup', CAST(count(*) AS BIGINT),
               CAST(sum(n_chars) AS BIGINT) FROM documents) u
      ORDER BY side ASC
    """))

  /** Small-file compaction end-to-end: ingest the documents table as
    * EIGHT single-file appends (the streaming-ingest accumulation
    * pattern that causes the small-files problem), compact to the byte
    * target, and report the measured file counts plus content
    * aggregates over the COMPACTED collection. The oracle pins the
    * expected 9→1 file transition (constants — the Spark side measures
    * the real directory; the 9th pre-compact file is `create`'s empty
    * schema-registration write) and recomputes the content aggregates
    * from the fixture, so a compaction that lost, duplicated, or
    * mutated rows hash-mismatches. The crash-safety protocol itself (tmp-dir swap,
    * vacuum recovery) is spec-pinned in OperatorSpec/StreamingSpec. */
  private val collectionCompact = Q(
    "collection_compact",
    (s, dir) => {
      val out = s"/tmp/graft_compactq_${math.abs(dir.hashCode)}/docs"
      val coll = Collection(s, out)
      val docs = Tables.documents(s, dir)
      coll.create(docs.schema, force = true)
      (0 until 8).foreach { b =>
        coll.append(docs.where(pmod(col("doc_id"), lit(8)) === b).coalesce(1))
      }
      val (before, after) = coll.compact()
      coll.read.agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).cast("long").as("sum_text_len"))
        .select(lit(before).cast("int").as("files_before"),
          lit(after).cast("int").as("files_after"),
          col("n_rows"), col("n_docs"), col("sum_chars"),
          col("sum_text_len"))
    },
    Some("""
      SELECT CAST(9 AS INT) AS files_before, CAST(1 AS INT) AS files_after,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(length(text)) AS BIGINT) AS sum_text_len
      FROM documents
    """))

  /** Keyset-stable bulk export ([[graft.core.Collection.page]], round
    * 13 — Milvus `query_iterator` parity, the "export the whole
    * collection" path `search_pagination` does not cover): the corpus
    * is walked in PAGES cut by sort-key RANGE — each page's predicate
    * is `doc_id > lastKey` (pushed to the scan: PushedFilters
    * GreaterThan → row-group skipping; PlanSpec pins it), the cursor is
    * the previous page's max key, and the chain is stable under
    * concurrent appends past the cursor. The entry replays a 6-page
    * chain and tags every row with its page; the oracle re-derives the
    * SAME page assignment from a row_number window (unique key ⇒ keyset
    * pages ≡ rank buckets), so the cursor arithmetic is hash-checked
    * row by row. */
  private val collectionIterate = Q(
    "collection_iterate",
    (s, dir) => {
      val out = s"/tmp/graft_iterq_${math.abs(dir.hashCode)}/docs"
      mutateOnce(s, out) {
        val c0 = Collection(s, out)
        c0.create(Tables.documents(s, dir).schema, force = true)
        c0.append(Tables.documents(s, dir))
      }
      val coll = Collection(s, out)
      val n = coll.count()
      val pageSize = math.max(1L, (n + 5) / 6).toInt
      var last: Option[Long] = None
      val pages = (0 until 6).map { p =>
        val pg = coll.page("doc_id", last, pageSize)
        val mx = pg.agg(max(col("doc_id"))).first()
        if (!mx.isNullAt(0)) last = Some(mx.getLong(0))
        pg.select(lit(p).cast("int").as("page"), col("doc_id"),
          col("n_chars"))
      }
      pages.reduce(_ unionByName _).orderBy(col("doc_id").asc)
    },
    Some("""
      WITH ps AS (SELECT greatest(CAST(1 AS BIGINT),
                    CAST(ceil(count(*) / 6.0) AS BIGINT)) AS p
                  FROM documents)
      SELECT CAST((rn - 1) // ps.p AS INT) AS page, doc_id, n_chars
      FROM (SELECT doc_id, n_chars,
              row_number() OVER (ORDER BY doc_id ASC) AS rn
            FROM documents) t, ps
      ORDER BY doc_id ASC
    """))

  /** Clustering compaction ([[graft.core.Collection.clusterBy]]) —
    * Milvus 2.5's major-compaction-by-clustering-key, end-to-end: the
    * events table lands as EIGHT hash-interleaved appends (every file
    * spans the whole 30-day ts domain — the streaming-ingest layout
    * where a time-window query must scan every file), then
    * `clusterBy("ts", 4)` rewrites it range-clustered so each file
    * covers ~a week and a 1-day window reads ~1 file via parquet
    * min/max pruning (PlanSpec pins the pushed ts bounds). The oracle
    * pins the 9→4 file transition as constants (the Spark side
    * measures the real directory) and recomputes the window aggregate
    * from the fixture — a re-cluster that lost or duplicated rows
    * hash-mismatches. */
  private val clusteringCompaction = Q(
    "clustering_compaction",
    (s, dir) => {
      val out = s"/tmp/graft_clusterq_${math.abs(dir.hashCode)}/events"
      val coll = Collection(s, out)
      val ev = Tables.events(s, dir)
      coll.create(ev.schema, force = true)
      (0 until 8).foreach { b =>
        coll.append(ev.where(pmod(col("event_id"), lit(8)) === b)
          .coalesce(1))
      }
      val (before, after) = coll.clusterBy("ts", 4)
      coll.read
        .where(col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-06 00:00:00").cast("timestamp"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("value")) + lit(1e-9), 2).as("sum_value"))
        .select(lit(before).cast("int").as("files_before"),
          lit(after).cast("int").as("files_after"),
          col("n_rows"), col("sum_value"))
    },
    Some("""
      SELECT CAST(9 AS INT) AS files_before, CAST(4 AS INT) AS files_after,
             CAST(count(*) AS BIGINT) AS n_rows,
             round(sum(value) + 1e-9, 2) AS sum_value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
        AND ts < TIMESTAMP '2024-01-06 00:00:00'
    """))

  /** Nullable + default-value fields
    * ([[graft.core.Collection.appendWithDefaults]]) — Milvus 2.5
    * `nullable`/`default_value` parity: batch 1 arrives WITHOUT the
    * `tag` column (filled by its default 'v1') and with every 5th
    * `lang` null (replaced by that field's default 'und' — the
    * insert-null-uses-default rule); batch 2 arrives missing BOTH
    * `n_chars` (nullable, no default → typed null survives) and `tag`.
    * The readback aggregates per (lang, tag) with a null-count over
    * `n_chars`, so default fill, null preservation, and column-order
    * conformance are all hash-checked; the missing-non-nullable loud
    * failure is spec-pinned in OperatorSpec. Conformance is one
    * projection on the batch — free at any scale. */
  private val collectionNullableDefaults = Q(
    "collection_nullable_defaults",
    (s, dir) => {
      import org.apache.spark.sql.types._
      val out = s"/tmp/graft_nulldef_${math.abs(dir.hashCode)}/docs"
      mutateOnce(s, out) {
        val c0 = Collection(s, out)
        val docs = Tables.documents(s, dir)
        c0.create(StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("lang", StringType, nullable = true),
          StructField("n_chars", LongType, nullable = true),
          StructField("tag", StringType, nullable = true))), force = true)
        val defaults = Map[String, Any]("lang" -> "und", "tag" -> "v1")
        c0.appendWithDefaults(
          docs.select(col("doc_id"),
            when(pmod(col("doc_id"), lit(5)) === 0, lit(null))
              .otherwise(col("lang")).as("lang"),
            col("n_chars")),
          defaults)
        c0.appendWithDefaults(
          docs.where(col("doc_id") < 50)
            .select((col("doc_id") + 10000).as("doc_id"), col("lang")),
          defaults)
      }
      Collection(s, out).read
        .groupBy(col("lang"), col("tag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("n_chars").isNull, 1L).otherwise(0L))
            .as("n_null_chars"))
        .orderBy(col("lang").asc, col("tag").asc)
    },
    Some("""
      WITH b1 AS (SELECT doc_id,
                         CASE WHEN doc_id % 5 = 0 THEN 'und' ELSE lang END
                           AS lang,
                         n_chars, 'v1' AS tag
                  FROM documents),
      b2 AS (SELECT doc_id + 10000 AS doc_id, lang,
                    CAST(NULL AS BIGINT) AS n_chars, 'v1' AS tag
             FROM documents WHERE doc_id < 50),
      u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
      SELECT lang, tag, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_null_chars
      FROM u GROUP BY lang, tag ORDER BY lang ASC, tag ASC
    """))

  /** Index integrity report — the operational consistency checker every
    * serving index needs before a blue-green flip (Milvus exposes the
    * equivalent as segment/index health; a warehouse runs it as a
    * post-build audit job). Verifies, FROM THE ARTIFACTS THEMSELVES,
    * the invariants the builders promise:
    *   - graph adjacency (GraphAnn.buildAdjacency): no self-loops,
    *     out-degree ≤ 8, no dangling dst (every neighbor exists in the
    *     corpus), and every stored edge distance equals the recomputed
    *     round(L2², 4) — a corrupted or stale artifact fails loudly;
    *   - IVF layout (IvfIndex.build): every row's assigned cluster IS
    *     the argmin over the staged centroids (unrounded double L2,
    *     cluster-id tie-break — the probeClusters arithmetic), and no
    *     corpus row is missing from the partitioned layout.
    *   - derived per-row artifacts (RQ codes, asym signatures):
    *     coverage (no corpus row missing — a dropped build/append
    *     batch) and uniqueness (no id twice — a double-processed
    *     append).
    *   - (round 11) graph entry-point LIVENESS
    *     ([[graft.search.IndexAudit.entryChecks]]): every staged entry
    *     point still sources adjacency edges — a consolidation-stripped
    *     or tombstoned seed strands walks; and the sorted-term layout's
    *     segment contract ([[graft.search.IndexAudit.segmentChecks]]):
    *     segment count plus cross-segment id straddlers (the violated
    *     ids-must-be-new append that double-counts tf);
    *   - (round 12) sparse postings coverage: every corpus row with at
    *     least one kept (positive rounded) dim has postings, none
    *     orphaned — the family's audit counters, completing its
    *     maintenance story alongside `sparse_upsert_search` /
    *     `streaming_sparse_ingest` and planFull's
    *     `compact_sparse_tombstones` row.
    *   - (round 13) UPPER-layer invariants of the layered graph
    *     ([[graft.search.IndexAudit.upperLayerChecks]]): membership
    *     follows the deterministic ppm hash cut (an ingest that added
    *     an unsampled node would not survive a rebuild), no orphaned
    *     upper nodes, live upper entry, layer cardinality.
    * All 29 checks are plan-side aggregates (equi-joins + a bounded
    * nlist-wide broadcast; nothing driver-side), and the oracle replays
    * every one from the same staged artifacts — the CHECKER itself is
    * checked. At 100 TB this is one audit scan per artifact. */
  private val indexIntegrityReport = Q(
    "index_integrity_report",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val indexDir = Fixtures.ivfDir(dir)
      val model = Fixtures.ivf(s, dir)
      val assign = IvfIndex.readData(s, indexDir)
        .select(col("vec_id"), col("cluster_id"))
      val cents = s.read.parquet(IvfIndex.centroidsDir(indexDir))
      val radiiT = IvfIndex.radiiFrame(s, indexDir)
      import graft.search.{IndexAudit, Rq}
      Fixtures.rq(s, dir)
      val rqIds = s.read.parquet(Rq.codesDir(Fixtures.rqDir(dir)))
        .select("vec_id")
      val asymIds = Fixtures.asymSignatures(s, dir).select("vec_id")
      // positional (documents-side) artifact joins the audit: coverage
      // runs on DISTINCT posting ids against token-bearing docs (a
      // 0-token doc legitimately has no postings row)
      import graft.search.TermIndex
      val docsT = Tables.documents(s, dir)
      val posIds = TermIndex.postings(s, Fixtures.phraseTerms(s, dir))
        .select(col("id").as("doc_id")).distinct()
      val tokDocs = docsT.where(size(TextAnalysis.wsTerms(col("text"))) > 0)
        .select("doc_id")
      // entry liveness over the shared multi-entry seed artifact (no
      // tombstones on this healthy fixture — the check is the
      // adjacency-source direction) and the sorted-term layout's
      // segment contract (the term_prefix_search fixture — one
      // compacted segment, no straddlers; whichever entry runs first
      // builds it)
      val entriesA = Fixtures.graphEntries(s, dir)
      val prefixIdx = Fixtures.prefixTerms(s, dir)
      // sparse postings coverage (round 12): posted ids vs the corpus
      // rows that HAVE a kept dim (sparsify keeps positive rounded
      // weights only — a no-positive-dim row legitimately has no
      // postings, the tokDocs discipline). The RAW (vec_id, dim) rows
      // flow into the checker un-deduplicated (round-13 ADVICE fix:
      // a pre-distincted input made the dupes counter vacuous — a
      // duplicate (id, dim) posting left by a double append must be
      // observable here).
      val sparsePosted = Fixtures.sparsePostings(s, dir)
        .select("vec_id", "dim")
      val sparseDocs = e.where(
        size(graft.search.SparseVec.sparsify(col("embedding"), 8)) > 0)
        .select("vec_id")
      // upper layer (round 13): the layered graph's zoom layer joins
      // the audit — membership must follow the deterministic hash cut
      // (a rebuild reproduces it), no orphans, live upper entry. The
      // artifacts are the layered entries' shared buildOnce dirs.
      val usampleI = GraphAnn.upperSample(e, "vec_id")
      val uadjI = Fixtures.layerAdjacency(s, dir, level = 1)
      val uentI = Fixtures.layerEntry(s, dir, level = 1)
      stageOracleOnce(s, "integrity", dir)(
        "adjacency" -> adj,
        "assign" -> assign,
        "centroids" -> cents,
        "radii" -> radiiT,
        "rq_ids" -> rqIds,
        "asym_ids" -> asymIds,
        "pos_ids" -> posIds,
        "entries" -> entriesA.select("entry_id"),
        "sparse_ids" -> sparsePosted,
        "upper_adjacency" -> uadjI.select("src", "dst"),
        "upper_sample" -> usampleI.select("vec_id"),
        "upper_entries" -> uentI.select("entry_id"))
      IndexAudit.graphChecks(adj, e, "vec_id", "embedding", degreeCap = 8)
        .unionByName(IndexAudit.ivfChecks(e, assign, cents,
          "vec_id", "embedding"))
        .unionByName(IndexAudit.radiiChecks(s, indexDir, "embedding"))
        .unionByName(IndexAudit.coverageChecks(e, rqIds, "vec_id",
          "rq_codes"))
        .unionByName(IndexAudit.coverageChecks(e, asymIds, "vec_id",
          "asym_sig"))
        .unionByName(IndexAudit.coverageChecks(tokDocs, posIds, "doc_id",
          "positions"))
        .unionByName(IndexAudit.entryChecks(entriesA, adj,
          e.limit(0).select("vec_id")))
        .unionByName(IndexAudit.segmentChecks(s, prefixIdx))
        .unionByName(IndexAudit.postingsChecks(sparseDocs, sparsePosted,
          "vec_id", Seq("dim"), "sparse_postings"))
        .unionByName(IndexAudit.upperLayerChecks(uadjI, uentI, e,
          "vec_id", e.limit(0).select("vec_id")))
        .orderBy(col("check_name").asc)
    },
    Some(s"""
      WITH adj AS (SELECT src, dst, dist FROM read_parquet(
        '/tmp/graft_integrity_oracle_%ORACLE_KEY%/adjacency/*.parquet')),
      asg AS (SELECT vec_id, cluster_id FROM read_parquet(
        '/tmp/graft_integrity_oracle_%ORACLE_KEY%/assign/*.parquet')),
      cent AS (SELECT cluster_id, centroid FROM read_parquet(
        '/tmp/graft_integrity_oracle_%ORACLE_KEY%/centroids/*.parquet')),
      rad AS (SELECT cluster_id, radius FROM read_parquet(
        '/tmp/graft_integrity_oracle_%ORACLE_KEY%/radii/*.parquet')),
      rqi AS (SELECT vec_id FROM read_parquet(
        '/tmp/graft_integrity_oracle_%ORACLE_KEY%/rq_ids/*.parquet')),
      asi AS (SELECT vec_id FROM read_parquet(
        '/tmp/graft_integrity_oracle_%ORACLE_KEY%/asym_ids/*.parquet')),
      posi AS (SELECT doc_id FROM read_parquet(
        '/tmp/graft_integrity_oracle_%ORACLE_KEY%/pos_ids/*.parquet')),
      enta AS (SELECT entry_id FROM read_parquet(
        '/tmp/graft_integrity_oracle_%ORACLE_KEY%/entries/*.parquet')),
      spi AS (SELECT vec_id, dim FROM read_parquet(
        '/tmp/graft_integrity_oracle_%ORACLE_KEY%/sparse_ids/*.parquet')),
      spid AS (SELECT DISTINCT vec_id FROM spi),
      uadj AS (SELECT src, dst FROM read_parquet(
        '/tmp/graft_integrity_oracle_%ORACLE_KEY%/upper_adjacency/*.parquet')),
      usamp AS (SELECT vec_id FROM read_parquet(
        '/tmp/graft_integrity_oracle_%ORACLE_KEY%/upper_sample/*.parquet')),
      uents AS (SELECT entry_id FROM read_parquet(
        '/tmp/graft_integrity_oracle_%ORACLE_KEY%/upper_entries/*.parquet')),
      unodes AS (SELECT DISTINCT id FROM (
        SELECT src AS id FROM uadj UNION SELECT dst AS id FROM uadj)),
      sdocs AS (SELECT vec_id FROM embeddings
                WHERE len(list_filter(embedding,
                  x -> round(CAST(x AS DOUBLE), 4) > 0)) > 0),
      tdocs AS (SELECT doc_id FROM documents
                WHERE len(list_filter(string_split_regex(text, '\\s+'),
                  t -> len(t) > 0)) > 0),
      perrow AS (SELECT e.vec_id,
                   min(list_sum(list_transform(range(1, len(e.embedding)+1),
                     i -> (CAST(e.embedding[i] AS DOUBLE)
                           - CAST(c.centroid[i] AS DOUBLE))^2))) AS dmin,
                   max(CASE WHEN c.cluster_id = a.cluster_id THEN
                     list_sum(list_transform(range(1, len(e.embedding)+1),
                       i -> (CAST(e.embedding[i] AS DOUBLE)
                             - CAST(c.centroid[i] AS DOUBLE))^2))
                     END) AS da
                 FROM embeddings e JOIN asg a USING (vec_id)
                      CROSS JOIN cent c
                 GROUP BY e.vec_id)
      SELECT check_name, value FROM (
        SELECT 'graph_dangling_dst' AS check_name, CAST(count(*) AS BIGINT)
               AS value
        FROM adj LEFT JOIN embeddings ev ON ev.vec_id = adj.dst
        WHERE ev.vec_id IS NULL
        UNION ALL
        SELECT 'graph_degree_violations', CAST(count(*) AS BIGINT) FROM (
          SELECT src FROM adj GROUP BY src HAVING count(*) > 8)
        UNION ALL
        SELECT 'graph_dist_mismatch', CAST(count(*) AS BIGINT)
        FROM adj JOIN embeddings a ON a.vec_id = adj.src
                 JOIN embeddings b ON b.vec_id = adj.dst
        WHERE adj.dist IS NULL
           OR ${duckL2("a.embedding", "b.embedding")} != adj.dist
        UNION ALL
        SELECT 'graph_nodes', CAST(count(DISTINCT src) AS BIGINT) FROM adj
        UNION ALL
        SELECT 'graph_self_loops', CAST(count(*) AS BIGINT) FROM adj
        WHERE src = dst
        UNION ALL
        SELECT 'ivf_assign_mismatch', CAST(count(*) AS BIGINT) FROM perrow
        WHERE da IS NULL
           OR da > dmin + greatest(0.000000001, dmin * 0.000001)
        UNION ALL
        SELECT 'ivf_missing_rows', CAST(count(*) AS BIGINT)
        FROM embeddings e LEFT JOIN asg ON asg.vec_id = e.vec_id
        WHERE asg.vec_id IS NULL
        UNION ALL
        SELECT 'ivf_orphan_rows', CAST(count(*) AS BIGINT)
        FROM asg LEFT JOIN embeddings e ON e.vec_id = asg.vec_id
        WHERE e.vec_id IS NULL
        UNION ALL
        SELECT 'ivf_radius_missing', CAST(count(*) AS BIGINT) FROM (
          SELECT DISTINCT cluster_id FROM asg) dc
        LEFT JOIN rad ON rad.cluster_id = dc.cluster_id
        WHERE rad.cluster_id IS NULL
        UNION ALL
        SELECT 'ivf_radius_violations', CAST(count(*) AS BIGINT)
        FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id
             JOIN cent c ON c.cluster_id = a.cluster_id
             JOIN rad r ON r.cluster_id = a.cluster_id
        WHERE sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
                i -> (CAST(e.embedding[i] AS DOUBLE)
                      - CAST(c.centroid[i] AS DOUBLE))^2)))
              > r.radius + 0.000000001
        UNION ALL
        SELECT 'rq_codes_missing', CAST(count(*) AS BIGINT)
        FROM embeddings e LEFT JOIN rqi ON rqi.vec_id = e.vec_id
        WHERE rqi.vec_id IS NULL
        UNION ALL
        SELECT 'rq_codes_dupes', CAST(count(*) AS BIGINT) FROM (
          SELECT vec_id FROM rqi GROUP BY vec_id HAVING count(*) > 1)
        UNION ALL
        SELECT 'rq_codes_orphans', CAST(count(*) AS BIGINT)
        FROM rqi LEFT JOIN embeddings e ON e.vec_id = rqi.vec_id
        WHERE e.vec_id IS NULL
        UNION ALL
        SELECT 'asym_sig_missing', CAST(count(*) AS BIGINT)
        FROM embeddings e LEFT JOIN asi ON asi.vec_id = e.vec_id
        WHERE asi.vec_id IS NULL
        UNION ALL
        SELECT 'asym_sig_dupes', CAST(count(*) AS BIGINT) FROM (
          SELECT vec_id FROM asi GROUP BY vec_id HAVING count(*) > 1)
        UNION ALL
        SELECT 'asym_sig_orphans', CAST(count(*) AS BIGINT)
        FROM asi LEFT JOIN embeddings e ON e.vec_id = asi.vec_id
        WHERE e.vec_id IS NULL
        UNION ALL
        SELECT 'positions_missing', CAST(count(*) AS BIGINT)
        FROM tdocs d LEFT JOIN posi ON posi.doc_id = d.doc_id
        WHERE posi.doc_id IS NULL
        UNION ALL
        SELECT 'positions_dupes', CAST(count(*) AS BIGINT) FROM (
          SELECT doc_id FROM posi GROUP BY doc_id HAVING count(*) > 1)
        UNION ALL
        SELECT 'positions_orphans', CAST(count(*) AS BIGINT)
        FROM posi LEFT JOIN tdocs d ON d.doc_id = posi.doc_id
        WHERE d.doc_id IS NULL
        UNION ALL
        SELECT 'entry_points_dead', CAST(count(*) AS BIGINT) FROM enta
        WHERE entry_id NOT IN (SELECT DISTINCT src FROM adj)
        UNION ALL
        -- one compacted segment by construction (the collection_compact
        -- files_before discipline); straddlers are 0 BY DEFINITION of
        -- the counter on a single-segment layout
        SELECT 'term_segment_straddlers', CAST(0 AS BIGINT)
        UNION ALL
        SELECT 'term_segments', CAST(1 AS BIGINT)
        UNION ALL
        SELECT 'sparse_postings_missing', CAST(count(*) AS BIGINT)
        FROM sdocs d LEFT JOIN spid ON spid.vec_id = d.vec_id
        WHERE spid.vec_id IS NULL
        UNION ALL
        -- dupes over the FULL posting key (id, dim) of the RAW rows —
        -- id multiplicity is the inverted-index structure, (id, dim)
        -- multiplicity is the double-append bug
        SELECT 'sparse_postings_dupes', CAST(count(*) AS BIGINT) FROM (
          SELECT vec_id, dim FROM spi GROUP BY vec_id, dim
          HAVING count(*) > 1)
        UNION ALL
        SELECT 'sparse_postings_orphans', CAST(count(*) AS BIGINT)
        FROM spid LEFT JOIN sdocs d ON d.vec_id = spid.vec_id
        WHERE d.vec_id IS NULL
        UNION ALL
        -- upper layer (round 13): membership replays against the staged
        -- SAMPLE (built by the same hash cut the checker applies)
        SELECT 'upper_membership_violations', CAST(count(*) AS BIGINT)
        FROM unodes WHERE id NOT IN (SELECT vec_id FROM usamp)
        UNION ALL
        SELECT 'upper_nodes', CAST(count(*) AS BIGINT) FROM unodes
        UNION ALL
        SELECT 'upper_orphans', CAST(count(*) AS BIGINT)
        FROM unodes LEFT JOIN embeddings ue ON ue.vec_id = unodes.id
        WHERE ue.vec_id IS NULL
        UNION ALL
        SELECT 'upper_entry_dead', CAST(count(*) AS BIGINT) FROM uents
        WHERE entry_id NOT IN (SELECT DISTINCT src FROM uadj))
      ORDER BY check_name ASC
    """))

  /** Delete propagation to a derived index, serve side (see
    * [[graft.search.Tombstones]]): rows are deleted by KEY against a
    * built IVF index — the artifact is NOT rebuilt, the delete is a
    * key-only tombstone append — and a search over the STALE layout
    * must return only live rows (the mask is a broadcast anti-join
    * inside the pruned scan). The oracle is exact top-k over the live
    * subset: a serve path that forgets the mask resurrects deleted
    * rows and hash-mismatches. Tombstones are re-recorded from clear
    * each run (idempotent; the data dir itself is never touched). */
  private val deletedRowsMaskedSearch = Q(
    "deleted_rows_masked_search",
    (s, dir) => {
      import graft.search.Tombstones
      val baseDir = Fixtures.tombIvfDir(dir)
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.tombIvf(s, dir)
      Tombstones.clear(s, baseDir)
      IvfIndex.delete(e.where(col("vec_id") % 7 === 3).select("vec_id"),
        model, "vec_id")
      val query = Fixtures.queryVector(e)
      IvfIndex.search(s, model, "embedding", "vec_id", query, k = 5,
          nprobe = model.nlist)
        .select("vec_id", "distance")
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      live AS (SELECT * FROM embeddings WHERE vec_id % 7 <> 3)
      SELECT e.vec_id, %L2% AS distance
      FROM live e, q
      ORDER BY distance ASC, e.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Tombstone COMPACTION ([[graft.search.IvfIndex.compactTombstones]]
    * — Milvus segment compaction) under the round-11 DEFAULT serving
    * discipline: the index lives under an [[graft.search.AliasedIndex]]
    * root (v1 published at init), the delete tombstones land in the
    * current version, and the fold runs through
    * [[graft.search.IvfIndex.compactTombstonesRoot]] — copy v1 → v2,
    * fold against the copy, publish atomically — so a concurrent reader
    * never sees the fold's rename-aside window (OperatorSpec pins the
    * mid-verb read). All post-fold measurements read the RESOLVED
    * current version, exactly like a serving query would. Output pins
    * the whole ledger against corpus arithmetic: row counts
    * before/after, the tombstone count, zero orphans vs the live corpus
    * after the fold ([[graft.search.IndexAudit]]'s orphan direction),
    * zero tombstones left — a compaction that drops too little, too
    * much, forgets to clear, or serves the stale version mismatches a
    * column. */
  private val indexCompactTombstones = Q(
    "index_compact_tombstones",
    (s, dir) => {
      import graft.search.{AliasedIndex, Tombstones}
      import s.implicits._
      val baseDir = Fixtures.tombIvfBuilt(s, dir)
      val runDir = s"/tmp/graft_ivfrs_tombfold_${math.abs(dir.hashCode)}"
      val e = Tables.embeddings(s, dir)
      rebuildOnce(s, runDir) {
        AliasedIndex.init(s, runDir) { d =>
          Artifacts.copyLocalDir(baseDir, d)
          Tombstones.clear(s, d) // copied tombstones aren't this run's
        }
        val model = IvfIndex.load(s, runDir) // binds to v1
        val nBefore = IvfIndex.readData(s, model.indexDir)
          .count()
        IvfIndex.delete(e.where(col("vec_id") % 7 === 3).select("vec_id"),
          model, "vec_id")
        val nTomb = Tombstones.count(s, model.indexDir)
        // the alias-aware fold: v1 stays immutable for in-flight
        // readers; v2 is the folded layout, published atomically
        IvfIndex.compactTombstonesRoot(s, runDir, "vec_id")
        val cur = AliasedIndex.currentDir(s, runDir)
        val after = IvfIndex.readData(s, cur)
        val live = e.where(col("vec_id") % 7 =!= 3).select("vec_id")
        val orphans = after.select("vec_id")
          .join(live, Seq("vec_id"), "left_anti").count()
        Seq((nBefore, nTomb, after.count(), orphans,
            Tombstones.count(s, cur)))
          .toDF("n_before", "n_tombstones", "n_after", "orphans_after",
            "tombstones_left")
          .write.mode("overwrite").parquet(s"$runDir/__report")
      }
      s.read.parquet(s"$runDir/__report")
    },
    Some("""
      SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT)
               AS n_before,
             CAST((SELECT count(*) FROM embeddings WHERE vec_id % 7 = 3)
               AS BIGINT) AS n_tombstones,
             CAST((SELECT count(*) FROM embeddings WHERE vec_id % 7 <> 3)
               AS BIGINT) AS n_after,
             CAST(0 AS BIGINT) AS orphans_after,
             CAST(0 AS BIGINT) AS tombstones_left
    """))

  /** Streaming delete propagation — deletes arriving as a REAL
    * micro-batch stream (a CDC delete feed), each batch recorded as
    * [[graft.search.Tombstones]] by `foreachBatch` (a key-only file
    * append — the same O(batch) ingest cost as every other streaming
    * maintenance twin here), then a masked serve over the UNTOUCHED
    * index layout. The oracle is exact top-k over the live subset, so
    * a dropped or doubled delete batch changes the tombstone set and
    * hash-mismatches. Shares `deleted_rows_masked_search`'s base index
    * (safe: entries run sequentially and each clears + records its own
    * tombstone set before serving). */
  private val streamingDeleteIngest = Q(
    "streaming_delete_ingest",
    (s, dir) => {
      import graft.search.Tombstones
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.types._
      val baseDir = Fixtures.tombIvfDir(dir)
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.tombIvf(s, dir)
      Tombstones.clear(s, baseDir)
      val work = s"/tmp/graft_streamdel_${math.abs(dir.hashCode)}"
      val conf = s.sparkContext.hadoopConfiguration
      val fs = new Path(work).getFileSystem(conf)
      // per pass only the stream checkpoint resets — the tombstone
      // state lives in baseDir and is cleared above
      streamInputOnce(s, work, Seq(s"$work/_ckpt")) { writeOne =>
        val dels = e.where(col("vec_id") % 9 === 4).select("vec_id")
        writeOne(dels.where(col("vec_id") < 150), "00_dels.parquet",
          1000000L)
        writeOne(dels.where(col("vec_id") >= 150 && col("vec_id") < 300),
          "01_dels.parquet", 2000000L)
        writeOne(dels.where(col("vec_id") >= 300), "02_dels.parquet",
          3000000L)
      }
      val src = s.readStream
        .schema(StructType(Seq(StructField("vec_id", LongType))))
        .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
      val q = src.writeStream
        .option("checkpointLocation", s"$work/_ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          Tombstones.record(batch, baseDir, "vec_id"); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val query = Fixtures.queryVector(e)
      IvfIndex.search(s, model, "embedding", "vec_id", query, k = 5,
          nprobe = model.nlist)
        .select("vec_id", "distance")
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      live AS (SELECT * FROM embeddings WHERE vec_id % 9 <> 4)
      SELECT e.vec_id, %L2% AS distance
      FROM live e, q
      ORDER BY distance ASC, e.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Bulk IVF serving ([[graft.search.IvfIndex.bulkSearch]]): the three
    * bulk query vectors served at PARTIAL probe (nprobe=4 of nlist=16)
    * as ONE plan — union-of-probed-partitions pruned scan, broadcast
    * (qid, cluster_id) restriction, one qid-partitioned top-k window —
    * not three sequential searches. The oracle re-ranks centroids per
    * query from the staged artifacts, applies the same crank ≤ 4
    * restriction, and replays every per-query top-k: a bulk path whose
    * probe set, pruning, or window ranking drifts from the per-query
    * semantics hash-mismatches. */
  private val ivfBulkSearch = Q(
    "ivf_bulk_search",
    (s, dir) => {
      val indexDir = Fixtures.ivfDir(dir)
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.ivf(s, dir)
      stageOracleOnceLazy(s, "ivfbulk", dir)(Seq(
        "centroids" -> s.read.parquet(IvfIndex.centroidsDir(indexDir)),
        "assign" -> IvfIndex.readData(s, indexDir)
          .select(col("vec_id"), col("cluster_id"))))
      val qs = e.where(col("vec_id").isin(BulkQids: _*))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1).toSeq
      IvfIndex.bulkSearch(s, model, "embedding", "vec_id", qs, k = 5,
        nprobe = 4)
    },
    Some(s"""
      WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                  WHERE vec_id IN (${BulkQids.mkString(", ")})),
      cent AS (SELECT * FROM read_parquet(
        '/tmp/graft_ivfbulk_oracle_%ORACLE_KEY%/centroids/*.parquet')),
      asg AS (SELECT * FROM read_parquet(
        '/tmp/graft_ivfbulk_oracle_%ORACLE_KEY%/assign/*.parquet')),
      crank AS (SELECT qid, cluster_id, crank FROM (
          SELECT q.qid, c.cluster_id,
                 row_number() OVER (PARTITION BY q.qid ORDER BY
                   list_sum(list_transform(range(1, len(c.centroid)+1),
                     i -> (CAST(c.centroid[i] AS DOUBLE)
                           - CAST(q.qv[i] AS DOUBLE))^2)) ASC,
                   c.cluster_id ASC) AS crank
          FROM cent c, qs q) t WHERE crank <= 4),
      d AS (SELECT q.qid, e.vec_id, a.cluster_id,
                   ${duckL2("e.embedding", "q.qv")} AS distance
            FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id, qs q),
      topk AS (SELECT qid, vec_id, distance FROM (
          SELECT d.qid, d.vec_id, d.distance,
                 row_number() OVER (PARTITION BY d.qid
                   ORDER BY d.distance ASC, d.vec_id ASC) AS rn
          FROM d JOIN crank ON crank.qid = d.qid
                             AND crank.cluster_id = d.cluster_id) t
        WHERE rn <= 5)
      SELECT qid, vec_id, distance FROM topk
      ORDER BY qid ASC, distance ASC, vec_id ASC
    """))

  /** Delete propagation for the GRAPH family (FreshDiskANN's discipline
    * — see [[graft.search.GraphAnn.beamSearchMasked]]): the walk routes
    * THROUGH tombstoned nodes (eager unlinking can disconnect the
    * graph), the RESULT masks them, and recall under deletion is bought
    * by widening the beam (6 vs the plain walk's 4). The oracle replays
    * the label-blind walk at beam 6 and applies the same mask at final
    * selection. */
  private val graphAnnMaskedWalk = Q(
    "graph_ann_masked_walk",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryId = stageGraph(s, "graphmask", dir)
      val query = Fixtures.queryVector(e)
      val deletes = e.where(col("vec_id") % 7 === 3).select("vec_id")
      GraphAnn.beamSearchMasked(adj, e, "vec_id", "embedding", query,
        entryId, k = 5, deletes, beamWidth = 6, rounds = 3, degree = 8)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      adj AS (SELECT src, dst FROM read_parquet(
        '/tmp/graft_graphmask_oracle_%ORACLE_KEY%/adjacency/*.parquet')),
      ent AS (SELECT entry_id FROM read_parquet(
        '/tmp/graft_graphmask_oracle_%ORACLE_KEY%/entry/*.parquet')),
      dall AS (SELECT e.vec_id AS id, %L2% AS d FROM embeddings e, q),
      v0 AS (SELECT id, d FROM dall
             WHERE id IN (SELECT entry_id FROM ent)),
      f1 AS (SELECT id, d FROM v0 ORDER BY d ASC, id ASC LIMIT 6),
      n1 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f1 ON a.src = f1.id
             WHERE a.dst NOT IN (SELECT id FROM v0)),
      v1 AS (SELECT id, d FROM v0 UNION
             SELECT dall.id, dall.d FROM dall JOIN n1 USING (id)),
      x1 AS (SELECT id FROM f1),
      f2 AS (SELECT id, d FROM v1 WHERE id NOT IN (SELECT id FROM x1)
             ORDER BY d ASC, id ASC LIMIT 6),
      n2 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f2 ON a.src = f2.id
             WHERE a.dst NOT IN (SELECT id FROM v1)),
      v2 AS (SELECT id, d FROM v1 UNION
             SELECT dall.id, dall.d FROM dall JOIN n2 USING (id)),
      x2 AS (SELECT id FROM x1 UNION SELECT id FROM f2),
      f3 AS (SELECT id, d FROM v2 WHERE id NOT IN (SELECT id FROM x2)
             ORDER BY d ASC, id ASC LIMIT 6),
      n3 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f3 ON a.src = f3.id
             WHERE a.dst NOT IN (SELECT id FROM v2)),
      v3 AS (SELECT id, d FROM v2 UNION
             SELECT dall.id, dall.d FROM dall JOIN n3 USING (id))
      SELECT id AS vec_id, d AS distance FROM v3
      WHERE id % 7 <> 3
      ORDER BY distance ASC, vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** IVF rebalance ([[graft.search.IvfIndex.rebalance]]) — acting on
    * what `ivf_balance_report` only measures: clusters above sizeCap
    * (set to half the observed max, so the fixture always exercises a
    * real split) are re-fit sample-capped over THEIR rows alone and
    * split into fresh sub-lists; every other partition's files are
    * untouched. Works on a per-run copy. Output pins the operation's
    * whole contract, each column replayed by the oracle from the staged
    * before/after assignments + the cap: row conservation (no id lost,
    * duplicated, or invented), non-hot assignments untouched, no moved
    * row left in a REMOVED list (globally reassigned rows may land in
    * a fresh sub-list or, for boundary rows, a survivor — never a dead
    * one), the split count, and the before/after max list sizes. */
  private val ivfRebalanceReport = Q(
    "ivf_rebalance_report",
    (s, dir) => {
      import s.implicits._
      val baseDir = Fixtures.ivfBuilt(s, dir)
      val runDir = s"/tmp/graft_ivfrs_rebal_${math.abs(dir.hashCode)}"
      mutateOnce(s, runDir) {
        Artifacts.copyLocalDir(baseDir, runDir)
        val model = IvfIndex.load(s, runDir)
        val before = IvfIndex.readData(s, runDir)
          .select(col("vec_id"), col("cluster_id"))
        val maxBefore = before.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("sz"))
          .agg(max(col("sz"))).collect()(0).getLong(0)
        // cap just under the observed max: only the largest list(s)
        // split (1-2 fits) — the contract pin; the HARSH cap decade
        // (max/2, ~50 of 64 lists hot) lives in ScaleBench/SCALE.md
        val sizeCap = math.max(1L, maxBefore - 1)
        val maxOldId = model.centroids.map(_._1).max
        // snapshot the pre-image BEFORE the rebalance mutates the run
        // dir — as a parquet table, never a driver collect (the
        // assignment map is corpus-sized)
        before.write.mode("overwrite").parquet(s"$runDir/__before")
        Seq((sizeCap, maxOldId)).toDF("size_cap", "max_old_id")
          .write.mode("overwrite").parquet(s"$runDir/__meta")
        IvfIndex.rebalance(s, model, "embedding", sizeCap)
      }
      val beforeDf = s.read.parquet(s"$runDir/__before")
      val metaDf = s.read.parquet(s"$runDir/__meta")
      val sizeCap = metaDf.collect()(0).getLong(0)
      val maxBefore = beforeDf.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("sz"))
        .agg(max(col("sz"))).collect()(0).getLong(0)
      val after = IvfIndex.readData(s, runDir)
        .select(col("vec_id"), col("cluster_id"))
      stageOracleOnce(s, "ivfrebal", dir)(
        "before" -> beforeDf,
        "after" -> after,
        "meta" -> metaDf)
      val hot = beforeDf.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("sz")).where(col("sz") > sizeCap)
        .select(col("cluster_id").as("hot_cid"))
      val hotIdList = hot.collect().map(_.getInt(0)).toSeq // <= nlist rows
      val j = beforeDf.withColumnRenamed("cluster_id", "b_cid")
        .join(after.withColumnRenamed("cluster_id", "a_cid"),
          Seq("vec_id"), "full_outer")
        .join(broadcast(hot), col("b_cid") === col("hot_cid"), "left")
      j.agg(
        count(col("a_cid")).as("n_vectors"),
        (sum(when(col("a_cid").isNull || col("b_cid").isNull, 1L)
          .otherwise(0L))
          + lit(after.groupBy(col("vec_id")).agg(count(lit(1)).as("n"))
            .where(col("n") > 1).count()))
          .cast("long").as("conservation_violations"),
        sum(when(col("hot_cid").isNull && col("b_cid").isNotNull
            && col("a_cid").isNotNull && col("a_cid") =!= col("b_cid"),
          1L).otherwise(0L)).cast("long").as("unchanged_mismatch"),
        sum(when(col("a_cid").isNotNull
            && col("a_cid").isin(hotIdList: _*), 1L).otherwise(0L))
          .cast("long").as("moved_to_dead"),
        countDistinct(col("hot_cid")).as("split_clusters"),
        lit(maxBefore).cast("long").as("max_list_before"),
        lit(after.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
          .agg(max(col("sz"))).collect()(0).getLong(0))
          .cast("long").as("max_list_after"))
    },
    Some("""
      WITH b AS (SELECT vec_id, cluster_id FROM read_parquet(
        '/tmp/graft_ivfrebal_oracle_%ORACLE_KEY%/before/*.parquet')),
      a AS (SELECT vec_id, cluster_id FROM read_parquet(
        '/tmp/graft_ivfrebal_oracle_%ORACLE_KEY%/after/*.parquet')),
      m AS (SELECT size_cap, max_old_id FROM read_parquet(
        '/tmp/graft_ivfrebal_oracle_%ORACLE_KEY%/meta/*.parquet')),
      szb AS (SELECT cluster_id, count(*) AS sz FROM b GROUP BY 1),
      hot AS (SELECT cluster_id FROM szb, m WHERE sz > size_cap),
      sza AS (SELECT cluster_id, count(*) AS sz FROM a GROUP BY 1),
      dup AS (SELECT CAST(count(*) AS BIGINT) AS v FROM (
          SELECT vec_id FROM a GROUP BY vec_id HAVING count(*) > 1)),
      fo AS (SELECT b.vec_id AS bv, b.cluster_id AS b_cid,
                    a.vec_id AS av, a.cluster_id AS a_cid
             FROM b FULL OUTER JOIN a ON a.vec_id = b.vec_id)
      SELECT CAST(count(av) AS BIGINT) AS n_vectors,
             CAST(sum(CASE WHEN av IS NULL OR bv IS NULL THEN 1 ELSE 0
               END) + (SELECT v FROM dup) AS BIGINT)
               AS conservation_violations,
             CAST(sum(CASE WHEN bv IS NOT NULL AND av IS NOT NULL
                 AND b_cid NOT IN (SELECT cluster_id FROM hot)
                 AND a_cid <> b_cid THEN 1 ELSE 0 END) AS BIGINT)
               AS unchanged_mismatch,
             CAST(sum(CASE WHEN av IS NOT NULL
                 AND a_cid IN (SELECT cluster_id FROM hot)
               THEN 1 ELSE 0 END) AS BIGINT) AS moved_to_dead,
             CAST((SELECT count(*) FROM hot) AS BIGINT) AS split_clusters,
             CAST((SELECT max(sz) FROM szb) AS BIGINT) AS max_list_before,
             CAST((SELECT max(sz) FROM sza) AS BIGINT) AS max_list_after
      FROM fo
    """))

  /** Search correctness across a rebalance: at nprobe = nlist the
    * rebalanced index must still equal EXACT kNN — splitting lists and
    * re-routing rows may never change what is stored, only where.
    * Round 11: the flow runs under the DEFAULT alias discipline — the
    * index root publishes v1, [[graft.search.IvfIndex.rebalanceRoot]]
    * rebalances a COPY and publishes v2 (the rebalance scaladoc's
    * double-serve window between its append and partition drops now
    * never faces a reader), and the serve loads the ROOT, resolving the
    * current version like any reader. Oracle unchanged: exact top-5. */
  private val ivfRebalanceSearch = Q(
    "ivf_rebalance_search",
    (s, dir) => {
      import graft.search.AliasedIndex
      val baseDir = Fixtures.ivfBuilt(s, dir)
      val runDir = s"/tmp/graft_ivfrs_rebalsrch_${math.abs(dir.hashCode)}"
      val e = Tables.embeddings(s, dir)
      rebuildOnce(s, runDir) {
        AliasedIndex.init(s, runDir)(d => Artifacts.copyLocalDir(baseDir, d))
        val maxBefore = IvfIndex.readData(s,
            AliasedIndex.currentDir(s, runDir))
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
          .agg(max(col("sz"))).collect()(0).getLong(0)
        IvfIndex.rebalanceRoot(s, runDir, "embedding",
          sizeCap = math.max(1L, maxBefore - 1))
      }
      val model = IvfIndex.load(s, runDir) // resolves the published v2
      val query = Fixtures.queryVector(e)
      IvfIndex.search(s, model, "embedding", "vec_id", query, k = 5,
          nprobe = model.nlist)
        .select("vec_id", "distance")
    },
    Some(exactTop5Oracle))

  /** Index UPSERT without rebuild
    * ([[graft.search.IvfIndex.upsertBatch]]/[[graft.search.IvfIndex
    * .search]]): the base index is built over a corpus whose
    * `vec_id % 10 = 1` vectors are WRONG (reversed) — the state an
    * upsert must repair — then the true vectors arrive as a versioned
    * batch (appended with their OWN cluster assignments; the stale rows
    * stay in the layout untouched) and the latest-wins serve must equal
    * exact kNN over the TRUE corpus. A serve that forgets the version
    * window ranks the stale reversed vectors and hash-mismatches; the
    * oracle is the plain exact-top-5. Per-run copy (appends must not
    * compound). */
  private val ivfUpsertSearch = Q(
    "ivf_upsert_search",
    (s, dir) => {
      val baseDir = Fixtures.upsertBaseIvf(s, dir)
      val runDir = s"/tmp/graft_ivfrs_upsert_${math.abs(dir.hashCode)}"
      val e = Tables.embeddings(s, dir)
      Artifacts.copyLocalDir(baseDir, runDir)
      val model = IvfIndex.load(s, runDir)
      IvfIndex.upsertBatch(e.where(col("vec_id") % 10 === 1),
        "embedding", model, "vec_id", ver = 1)
      val query = Fixtures.queryVector(e)
      IvfIndex.search(s, model, "embedding", "vec_id", query,
          k = 5, nprobe = model.nlist)
        .select("vec_id", "distance")
    },
    Some(exactTop5Oracle))

  /** Bulk serving OVER an upserted layout — [[graft.search.IvfIndex
    * .bulkSearch]] composed with the [[graft.search.IvfIndex
    * .search]] latest-wins overlay: the base index holds WRONG
    * (reversed) vectors for `vec_id % 10 = 1`, the true vectors arrive
    * as one versioned batch, and the whole bulk panel served at full
    * probe must equal per-query exact kNN over the TRUE corpus. A bulk
    * path that stays version-blind ranks the stale reversed rows (and
    * serves replaced keys twice) — hash-mismatch. Per-run copy; the
    * corrupted BASE index is shared with `ivf_upsert_search`. */
  private val ivfBulkUpsertSearch = Q(
    "ivf_bulk_upsert_search",
    (s, dir) => {
      val baseDir = Fixtures.upsertBaseIvf(s, dir)
      val runDir = s"/tmp/graft_ivfrs_bulkup_${math.abs(dir.hashCode)}"
      val e = Tables.embeddings(s, dir)
      Artifacts.copyLocalDir(baseDir, runDir)
      val model = IvfIndex.load(s, runDir)
      IvfIndex.upsertBatch(e.where(col("vec_id") % 10 === 1),
        "embedding", model, "vec_id", ver = 1)
      val qs = e.where(col("vec_id").isin(BulkQids: _*))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1).toSeq
      IvfIndex.bulkSearch(s, model, "embedding", "vec_id", qs, k = 5,
        nprobe = model.nlist)
    },
    Some(s"""
      WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                  WHERE vec_id IN (${BulkQids.mkString(", ")})),
      d AS (SELECT q.qid, e.vec_id,
                   ${duckL2("e.embedding", "q.qv")} AS distance
            FROM embeddings e, qs q),
      topk AS (SELECT qid, vec_id, distance FROM (
          SELECT qid, vec_id, distance,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY distance ASC, vec_id ASC) AS rn FROM d) t
        WHERE rn <= 5)
      SELECT qid, vec_id, distance FROM topk
      ORDER BY qid ASC, distance ASC, vec_id ASC
    """))

  /** Streaming UPSERT ingest for the IVF family — the CDC-update twin
    * of `streaming_delete_ingest`: the base index holds WRONG
    * (reversed) vectors for `vec_id % 10 = 1` (the `ivf_upsert_search`
    * corrupted base, shared), the TRUE vectors arrive as a 3-file
    * micro-batch stream, and `foreachBatch` lands each batch via
    * [[graft.search.IvfIndex.upsertBatch]] at version batchId+1 — a
    * frozen-centroid assignment + file append per batch, no rebuild.
    * Serving is [[graft.search.IvfIndex.search]] at full probe,
    * oracle = exact top-5 over the TRUE corpus: a dropped or doubled
    * batch leaves reversed vectors (or stale duplicates) in the
    * ranking and hash-mismatches. */
  private val streamingIvfUpsertIngest = Q(
    "streaming_ivf_upsert_ingest",
    (s, dir) => {
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.types._
      val baseDir = Fixtures.upsertBaseIvf(s, dir)
      val runDir = s"/tmp/graft_ivfrs_streamup_${math.abs(dir.hashCode)}"
      val e = Tables.embeddings(s, dir)
      Artifacts.copyLocalDir(baseDir, runDir)
      val model = IvfIndex.load(s, runDir)
      val work = s"/tmp/graft_streamup_${math.abs(dir.hashCode)}"
      val conf = s.sparkContext.hadoopConfiguration
      val fs = new Path(work).getFileSystem(conf)
      // per pass only the stream checkpoint resets — the versioned
      // state lives in runDir, re-copied from baseDir above
      streamInputOnce(s, work, Seq(s"$work/_ckpt")) { writeOne =>
        val ups = e.where(col("vec_id") % 10 === 1)
          .select("vec_id", "embedding")
        writeOne(ups.where(col("vec_id") < 150), "00_ups.parquet",
          1000000L)
        writeOne(ups.where(col("vec_id") >= 150 && col("vec_id") < 300),
          "01_ups.parquet", 2000000L)
        writeOne(ups.where(col("vec_id") >= 300), "02_ups.parquet",
          3000000L)
      }
      val src = s.readStream
        .schema(StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)))))
        .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
      val q = src.writeStream
        .option("checkpointLocation", s"$work/_ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                         batchId: Long) =>
          if (!batch.isEmpty)
            IvfIndex.upsertBatch(batch, "embedding", model, "vec_id",
              ver = batchId + 1)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val query = Fixtures.queryVector(e)
      IvfIndex.search(s, model, "embedding", "vec_id", query,
          k = 5, nprobe = model.nlist)
        .select("vec_id", "distance")
    },
    Some(exactTop5Oracle))

  /** Version-debt observability ([[graft.search.IndexAudit
    * .versionChecks]]): how much latest-wins / tombstone overlay work a
    * serve pays until compaction folds it — the metric an operator
    * watches to SCHEDULE [[graft.search.IvfIndex.compactVersions]] and
    * [[graft.search.Tombstones.compact]] (Milvus's segment-compaction
    * trigger is this same signal). Scenario: two overlapping upsert
    * generations (`%10=1` at v1, `%20=1` at v2) plus a disjoint
    * tombstone set (`%15=2`); every counter is replayed by the oracle
    * from fixture arithmetic — superseded = base rows of upserted keys
    * + v1 rows re-upserted at v2; debt adds the tombstoned keys' live
    * rows. */
  private val indexVersionReport = Q(
    "index_version_report",
    (s, dir) => {
      val baseDir = Fixtures.ivfBuilt(s, dir)
      val runDir = s"/tmp/graft_ivfrs_verrep_${math.abs(dir.hashCode)}"
      val e = Tables.embeddings(s, dir)
      // deterministic mutation once per fixture state (mutateOnce);
      // the version counters below stay live against the artifact
      mutateOnce(s, runDir) {
        Artifacts.copyLocalDir(baseDir, runDir)
        val model = IvfIndex.load(s, runDir)
        IvfIndex.upsertBatch(e.where(col("vec_id") % 10 === 1),
          "embedding", model, "vec_id", ver = 1)
        IvfIndex.upsertBatch(e.where(col("vec_id") % 20 === 1),
          "embedding", model, "vec_id", ver = 2)
        graft.search.Tombstones.record(
          e.where(col("vec_id") % 15 === 2).select("vec_id"),
          runDir, "vec_id")
      }
      graft.search.IndexAudit.versionChecks(s, runDir, "vec_id")
        .orderBy(col("check_name").asc)
    },
    Some("""
      WITH n1 AS (SELECT count(*) AS c FROM embeddings WHERE vec_id % 10 = 1),
      n2 AS (SELECT count(*) AS c FROM embeddings WHERE vec_id % 20 = 1),
      n3 AS (SELECT count(*) AS c FROM embeddings WHERE vec_id % 15 = 2)
      SELECT check_name, value FROM (
        SELECT 'ver_compaction_debt' AS check_name,
               CAST(n1.c + n2.c + n3.c AS BIGINT) AS value
        FROM n1, n2, n3
        UNION ALL
        SELECT 'ver_superseded_rows', CAST(n1.c + n2.c AS BIGINT)
        FROM n1, n2
        UNION ALL
        SELECT 'ver_tombstone_keys', CAST(n3.c AS BIGINT) FROM n3
        UNION ALL
        SELECT 'ver_upserted_keys', CAST(n1.c AS BIGINT) FROM n1) u
      ORDER BY check_name ASC
    """))

  /** Maintenance PLAN over EVERY index family ([[graft.search
    * .Maintenance.planFull]] — round 10 extends round 9's three-verb
    * policy to the full observe→plan→verb loop): the IVF core rows
    * (compact_versions / compact_tombstones / rebalance) plus graph
    * consolidation debt (dead-touching adjacency rows), lexical
    * tombstone debt (BM25/phrase mask keys vs the doclen table),
    * reconcile drift (orphans + missing vs the live corpus — here the
    * collection "deleted" its `%9 = 4` rows without propagating), and
    * the covering-radius violation+missing counter (threshold 0 — a
    * violated radius is a WRONG answer, not a slow one, so it
    * schedules on the first hit; under the round-10 fold it replays to
    * 0), and — round 11 — graph entry-point liveness (`reelect_entries`
    * over the staged multi-entry seed artifact: the `%11 = 5` dead set
    * can include an entry, which strands every walk seeded there) and
    * lexical segment debt (`compact_term_segments`: the fixture's
    * sorted-term layout carries 3 segments against a cap of 2 — the
    * Lucene merge-policy signal), and — round 12 — sparse postings
    * tombstone debt (`compact_sparse_tombstones`: the `%17 = 3` delete
    * set against the posted-id count, the
    * [[graft.search.SparseVec.compactTombstones]] scheduling signal
    * completing the last family's maintenance story). Every decision
    * is `metric > threshold` in absolute rows; the oracle recomputes
    * all TEN from fixture arithmetic + the staged
    * assign/centroid/radii/adjacency/entries handoffs — including the
    * radius recompute, so even the 0s are derived, not assumed. */
  private val indexMaintenancePlan = Q(
    "index_maintenance_plan",
    (s, dir) => {
      import graft.search.Maintenance
      val baseDir = Fixtures.ivfBuilt(s, dir)
      val runDir = s"/tmp/graft_ivfrs_mplan_${math.abs(dir.hashCode)}"
      val e = Tables.embeddings(s, dir)
      // deterministic fixture mutation, run once per state (the
      // mutateOnce discipline — r10 bench showed this entry paying the
      // copy + 2 upserts + record 3× per pass); the PLAN aggregates
      // below stay live
      mutateOnce(s, runDir) {
        Artifacts.copyLocalDir(baseDir, runDir)
        val model = IvfIndex.load(s, runDir)
        IvfIndex.upsertBatch(e.where(col("vec_id") % 10 === 1),
          "embedding", model, "vec_id", ver = 1)
        IvfIndex.upsertBatch(e.where(col("vec_id") % 20 === 1),
          "embedding", model, "vec_id", ver = 2)
        graft.search.Tombstones.record(
          e.where(col("vec_id") % 15 === 2).select("vec_id"),
          runDir, "vec_id")
      }
      // graph family: the shared adjacency + multi-entry artifacts,
      // dead keys %11=5 (which may include an entry point — exactly the
      // liveness hazard the reelect_entries row watches)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entries = Fixtures.graphEntries(s, dir)
      val graphDead = e.where(col("vec_id") % 11 === 5).select("vec_id")
      // lexical family: its own term artifact in 3 segments (> cap 2 —
      // the compact_term_segments debt) + tombstones (%13=1), all
      // inside one deterministic fixture mutation
      val docsT = Tables.documents(s, dir)
      val textDir = s"/tmp/graft_mplan_text_terms_${math.abs(dir.hashCode)}"
      rebuildOnce(s, textDir) {
        graft.search.TermIndex.build(
          docsT.where(col("doc_id") < 300), "doc_id", "text", textDir)
        graft.search.TermIndex.append(
          docsT.where(col("doc_id") >= 300 && col("doc_id") < 400),
          "doc_id", "text", textDir)
        graft.search.TermIndex.append(
          docsT.where(col("doc_id") >= 400), "doc_id", "text", textDir)
        graft.search.Tombstones.record(
          docsT.where(col("doc_id") % 13 === 1).select("doc_id"),
          textDir, "doc_id")
      }
      // sparse family: its own postings artifact + tombstones (%17=3)
      // — the round-12 debt row completing the family matrix
      val sparseDir = s"/tmp/graft_mplan_sparse_b16_${math.abs(dir.hashCode)}"
      rebuildOnce(s, sparseDir) {
        graft.search.SparseVec.build(e, "vec_id", "embedding", topN = 8,
          sparseDir)
        graft.search.SparseVec.delete(
          e.where(col("vec_id") % 17 === 3).select("vec_id"),
          sparseDir, "vec_id")
      }
      // layered family (round 13): the shared upper adjacency carries
      // its own dead-edge debt against the same %11=5 delete set
      val uadjM = Fixtures.layerAdjacency(s, dir, level = 1)
      // live corpus drifted: %9=4 rows deleted without propagating
      val live = e.where(col("vec_id") % 9 =!= 4)
      stageOracleOnceLazy(s, "mplan", dir)(Seq(
        "assign" -> IvfIndex.readData(s, runDir)
          .select("vec_id", "cluster_id"),
        "centroids" -> s.read.parquet(IvfIndex.centroidsDir(runDir)),
        "radii" -> IvfIndex.radiiFrame(s, runDir),
        "adjacency" -> adj.select("src", "dst"),
        "entries" -> entries.select("entry_id"),
        "upper_adjacency" -> uadjM.select("src", "dst")))
      Maintenance.planFull(s, runDir, "vec_id", "embedding", live, adj,
          graphDead, textDir, entries, textDir,
          sparseIndexDir = sparseDir, adjUpper = Some(uadjM))
        .orderBy(col("action").asc)
    },
    Some("""
      WITH asg AS (SELECT vec_id, cluster_id FROM read_parquet(
        '/tmp/graft_mplan_oracle_%ORACLE_KEY%/assign/*.parquet')),
      cent AS (SELECT cluster_id, centroid FROM read_parquet(
        '/tmp/graft_mplan_oracle_%ORACLE_KEY%/centroids/*.parquet')),
      rad AS (SELECT cluster_id, radius FROM read_parquet(
        '/tmp/graft_mplan_oracle_%ORACLE_KEY%/radii/*.parquet')),
      adj AS (SELECT src, dst FROM read_parquet(
        '/tmp/graft_mplan_oracle_%ORACLE_KEY%/adjacency/*.parquet')),
      per AS (SELECT cluster_id, count(*) AS sz FROM asg
              GROUP BY cluster_id),
      st AS (SELECT CAST(sum(sz) AS BIGINT) AS total,
                    CAST(max(sz) AS BIGINT) AS mx,
                    CAST(count(*) AS BIGINT) AS nlists FROM per),
      n1 AS (SELECT count(*) AS c FROM embeddings WHERE vec_id % 10 = 1),
      n2 AS (SELECT count(*) AS c FROM embeddings WHERE vec_id % 20 = 1),
      n3 AS (SELECT count(*) AS c FROM embeddings WHERE vec_id % 15 = 2),
      gdead AS (SELECT vec_id FROM embeddings WHERE vec_id % 11 = 5),
      ge AS (SELECT CAST(count(*) AS BIGINT) AS c FROM adj),
      gd AS (SELECT CAST(count(*) AS BIGINT) AS c FROM (
        SELECT DISTINCT src, dst FROM adj
        WHERE src IN (SELECT vec_id FROM gdead)
           OR dst IN (SELECT vec_id FROM gdead))),
      uadj AS (SELECT src, dst FROM read_parquet(
        '/tmp/graft_mplan_oracle_%ORACLE_KEY%/upper_adjacency/*.parquet')),
      uge AS (SELECT CAST(count(*) AS BIGINT) AS c FROM uadj),
      ugd AS (SELECT CAST(count(*) AS BIGINT) AS c FROM (
        SELECT DISTINCT src, dst FROM uadj
        WHERE src IN (SELECT vec_id FROM gdead)
           OR dst IN (SELECT vec_id FROM gdead))),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents),
      tk AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents
             WHERE doc_id % 13 = 1),
      -- reconcile diffs against the TOMBSTONE-MASKED artifact (the
      -- IndexSync idempotency contract): the %15=2 tombstoned keys
      -- leave the artifact side, so live ones among them count as
      -- MISSING, while %9=4 rows (absent from the live corpus, not
      -- tombstoned) count as ORPHANS
      orph AS (SELECT CAST(count(*) AS BIGINT) AS c FROM embeddings
               WHERE (vec_id % 9 = 4 AND vec_id % 15 <> 2)
                  OR (vec_id % 15 = 2 AND vec_id % 9 <> 4)),
      rv AS (SELECT CAST(count(*) AS BIGINT) AS c
             FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id
                  JOIN cent c ON c.cluster_id = a.cluster_id
                  JOIN rad r ON r.cluster_id = a.cluster_id
             WHERE sqrt(list_sum(list_transform(
                     range(1, len(e.embedding)+1),
                     i -> (CAST(e.embedding[i] AS DOUBLE)
                           - CAST(c.centroid[i] AS DOUBLE))^2)))
                   > r.radius + 0.000000001),
      rm AS (SELECT CAST(count(*) AS BIGINT) AS c FROM (
               SELECT DISTINCT cluster_id FROM asg) dc
             LEFT JOIN rad r ON r.cluster_id = dc.cluster_id
             WHERE r.cluster_id IS NULL),
      ent AS (SELECT entry_id FROM read_parquet(
        '/tmp/graft_mplan_oracle_%ORACLE_KEY%/entries/*.parquet')),
      edead AS (SELECT CAST(count(*) AS BIGINT) AS c FROM ent
                WHERE entry_id IN (SELECT vec_id FROM gdead)
                   OR entry_id NOT IN (SELECT DISTINCT src FROM adj)),
      -- sparse family: posted ids = rows with >= 1 positive rounded
      -- dim (the sparsify keep rule); tombstones = the %17=3 delete set
      sdn AS (SELECT CAST(count(*) AS BIGINT) AS c FROM embeddings
              WHERE len(list_filter(embedding,
                x -> round(CAST(x AS DOUBLE), 4) > 0)) > 0),
      stk AS (SELECT CAST(count(*) AS BIGINT) AS c FROM embeddings
              WHERE vec_id % 17 = 3)
      SELECT action, metric, threshold, metric > threshold AS triggered
      FROM (
        SELECT 'compact_sparse_tombstones' AS action,
               stk.c AS metric,
               CAST(floor(sdn.c * 0.05) AS BIGINT) AS threshold
        FROM stk, sdn
        UNION ALL
        SELECT 'compact_term_segments',
               CAST(3 AS BIGINT),
               CAST(2 AS BIGINT)
        UNION ALL
        SELECT 'compact_text_tombstones', tk.c,
               CAST(floor(nd.c * 0.05) AS BIGINT)
        FROM tk, nd
        UNION ALL
        SELECT 'compact_tombstones', CAST(n3.c AS BIGINT),
               CAST(floor(st.total * 0.05) AS BIGINT) FROM n3, st
        UNION ALL
        SELECT 'compact_versions', CAST(n1.c + n2.c AS BIGINT),
               CAST(floor(st.total * 0.10) AS BIGINT) FROM n1, n2, st
        UNION ALL
        SELECT 'consolidate_graph', gd.c,
               CAST(floor(ge.c * 0.05) AS BIGINT) FROM gd, ge
        UNION ALL
        SELECT 'consolidate_upper_graph', ugd.c,
               CAST(floor(uge.c * 0.05) AS BIGINT) FROM ugd, uge
        UNION ALL
        SELECT 'rebalance', st.mx,
               CAST((st.total // st.nlists) * 4 AS BIGINT) FROM st
        UNION ALL
        SELECT 'reconcile', orph.c, CAST(0 AS BIGINT) FROM orph
        UNION ALL
        SELECT 'reelect_entries', edead.c, CAST(0 AS BIGINT) FROM edead
        UNION ALL
        SELECT 'refresh_radii', rv.c + rm.c, CAST(0 AS BIGINT)
        FROM rv, rm) u
      ORDER BY action ASC
    """))

  /** Alias-flip index serving ([[graft.search.AliasedIndex]]) — the
    * round-10 reader-isolation verb: the index root holds immutable
    * version dirs + root-level publish markers; maintenance builds
    * `v<N+1>` COMPLETE (here: copy + [[graft.search.IvfIndex
    * .compactVersions]] folding an upsert history) while readers keep
    * serving `v<N>`, then one atomic marker create flips the alias —
    * closing the double-serve window rebalance documents and making
    * every `__tmp`+rename fold reader-safe (retention keeps one prior
    * version for in-flight scans, the Delta/Iceberg snapshot
    * discipline). The fixture upserts `%10 = 3` keys with REVERSED
    * vectors before the fold, so serving the flipped version must
    * equal exact kNN over the post-upsert corpus — a stale-alias serve
    * (pre-fold v1 without the overlay) or a half-flip
    * hash-mismatches. OperatorSpec pins mid-maintenance visibility
    * (a reader inside the mutate sees exactly the old complete
    * version) and retention GC. */
  private val indexAliasServe = Q(
    "index_alias_serve",
    (s, dir) => {
      import graft.search.AliasedIndex
      val root = s"/tmp/graft_aliasivf_${math.abs(dir.hashCode)}"
      val e = Tables.embeddings(s, dir)
      val moved = e.where(col("vec_id") % 10 === 3)
        .withColumn("embedding", reverse(col("embedding")))
      rebuildOnce(s, root) {
        AliasedIndex.init(s, root) { d =>
          IvfIndex.build(e, "embedding", d, nlist = 16); ()
        }
        val m1 = IvfIndex.load(s, AliasedIndex.currentDir(s, root))
        IvfIndex.upsertBatch(moved, "embedding", m1, "vec_id", ver = 1)
        AliasedIndex.advance(s, root) { (cur, next) =>
          Artifacts.copyLocalDir(cur, next)
          IvfIndex.compactVersions(s, IvfIndex.load(s, next), "vec_id")
        }
        ()
      }
      val m = IvfIndex.load(s, AliasedIndex.currentDir(s, root))
      val query = Fixtures.queryVector(e)
      IvfIndex.search(s, m, "embedding", "vec_id", query, k = 5,
          nprobe = m.nlist)
        .select("vec_id", "distance")
    },
    Some("""
      WITH e2 AS (SELECT vec_id,
                         CASE WHEN vec_id % 10 = 3
                              THEN list_reverse(embedding)
                              ELSE embedding END AS embedding
                  FROM embeddings),
      q AS (SELECT embedding AS qe FROM e2 WHERE vec_id = 0)
      SELECT e.vec_id, %L2% AS distance
      FROM e2 e, q
      ORDER BY distance ASC, e.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Graph delete CONSOLIDATION (see
    * [[graft.search.GraphAnn.consolidateDeletes]]) — the fold that
    * retires `graph_ann_masked_walk`'s tombstones: edges touching a
    * deleted node drop, connectivity through each deleted node is
    * repaired in-neighbor → out-neighbor with recomputed exact
    * distances, and every source re-prunes to the degree cap. Output =
    * the full consolidated adjacency; the oracle replays survivors,
    * the via-node repair candidates, the distance recompute, the
    * min-dist merge, and the per-source cap window, edge by edge. */
  private val graphConsolidateDeletes = Q(
    "graph_consolidate_deletes",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      stageOracleOnce(s, "graphfold", dir)("adjacency" -> adj)
      val deletes = e.where(col("vec_id") % 7 === 3).select("vec_id")
      GraphAnn.consolidateDeletes(adj, e, "vec_id", "embedding",
          deletes, degree = 8)
        .orderBy(col("src").asc, col("dst").asc)
    },
    Some(s"""
      WITH adj AS (SELECT src, dst, dist FROM read_parquet(
        '/tmp/graft_graphfold_oracle_%ORACLE_KEY%/adjacency/*.parquet')),
      dead AS (SELECT vec_id FROM embeddings WHERE vec_id % 7 = 3),
      live AS (SELECT src, dst, dist FROM adj
               WHERE src NOT IN (SELECT vec_id FROM dead)
                 AND dst NOT IN (SELECT vec_id FROM dead)),
      inn AS (SELECT a.src AS rsrc, a.dst AS via FROM adj a
              WHERE a.dst IN (SELECT vec_id FROM dead)
                AND a.src NOT IN (SELECT vec_id FROM dead)),
      outn AS (SELECT a.src AS via, a.dst AS rdst FROM adj a
               WHERE a.src IN (SELECT vec_id FROM dead)
                 AND a.dst NOT IN (SELECT vec_id FROM dead)),
      rep AS (SELECT DISTINCT rsrc, rdst FROM inn JOIN outn USING (via)
              WHERE rsrc <> rdst),
      repd AS (SELECT r.rsrc AS src, r.rdst AS dst,
                      ${duckL2("a.embedding", "b.embedding")} AS dist
               FROM rep r JOIN embeddings a ON a.vec_id = r.rsrc
                          JOIN embeddings b ON b.vec_id = r.rdst),
      merged AS (SELECT src, dst, min(dist) AS dist FROM (
          SELECT * FROM live UNION ALL SELECT * FROM repd) u
        GROUP BY src, dst),
      pruned AS (SELECT src, dst, dist FROM (
          SELECT src, dst, dist, row_number() OVER (PARTITION BY src
              ORDER BY dist ASC, dst ASC) AS rn FROM merged) t
        WHERE rn <= 8)
      SELECT src, dst, dist FROM pruned ORDER BY src ASC, dst ASC
    """))

  /** Entry-point RE-ELECTION through delete consolidation
    * ([[graft.search.GraphAnn.consolidateDeletesWithEntries]], round
    * 11) — the liveness gap the edges-only fold leaves: the delete set
    * here INCLUDES the serving medoid, so [[graft.search.GraphAnn
    * .consolidateDeletes]] strips every edge at the walk's seed and an
    * un-re-elected serve strands at one edgeless node (OperatorSpec
    * demonstrates that failure shape). The verb re-elects each dead OR
    * stranded entry to the EDGE-SOURCING survivor nearest its vector
    * (round 12: candidates restricted to post-fold adjacency sources so
    * the new seed always starts a walk; rounded L2², id
    * tie-break — per-row arithmetic, exactly replayable cross-engine,
    * unlike a distributed-mean medoid recompute whose summation order
    * can drift a float), and serving seeds from the verb's OUTPUT with
    * no manual repair. The oracle recomputes the re-elected entry FROM
    * THE FIXTURE (argmin over survivors against the staged old
    * medoid's vector) and replays the full 3-round walk over the
    * staged consolidated adjacency from that independently-derived
    * seed — a verb that forgot re-election, picked a different
    * survivor, or served the stale entry hash-mismatches. */
  private val graphConsolidateEntryReelect = Q(
    "graph_consolidate_entry_reelect",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entry0 = Fixtures.graphMedoid(s, dir)
      val medoidId = entry0.collect()(0).getLong(0)
      val deletes = e
        .where(col("vec_id") === medoidId || col("vec_id") % 17 === 4)
        .select("vec_id")
      val key = s"/tmp/graft_reelect_${math.abs(dir.hashCode)}"
      rebuildOnce(s, key) {
        val (a2, e2) = GraphAnn.consolidateDeletesWithEntries(adj, e,
          "vec_id", "embedding", deletes, entry0, degree = 8)
        a2.write.mode("overwrite").parquet(s"$key/adjacency")
        e2.write.mode("overwrite").parquet(s"$key/entries")
      }
      val adj2 = s.read.parquet(s"$key/adjacency")
      val ents2 = s.read.parquet(s"$key/entries")
      stageOracleOnce(s, "reelect", dir)(
        "adjacency" -> adj2.select("src", "dst"),
        "old_entry" -> entry0)
      val query = Fixtures.queryVector(e)
      GraphAnn.beamSearchMulti(adj2, e, "vec_id", "embedding", query,
        ents2, k = 5, beamWidth = 4, rounds = 3, degree = 8, nSeeds = 1)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      adj AS (SELECT src, dst FROM read_parquet(
        '/tmp/graft_reelect_oracle_%ORACLE_KEY%/adjacency/*.parquet')),
      oldent AS (SELECT entry_id FROM read_parquet(
        '/tmp/graft_reelect_oracle_%ORACLE_KEY%/old_entry/*.parquet')),
      dead AS (SELECT vec_id FROM embeddings WHERE vec_id % 17 = 4
               UNION SELECT entry_id FROM oldent),
      ov AS (SELECT embedding AS oe FROM embeddings
             WHERE vec_id IN (SELECT entry_id FROM oldent)),
      ent AS (SELECT e.vec_id AS entry_id FROM embeddings e, ov
              WHERE e.vec_id NOT IN (SELECT vec_id FROM dead)
                AND e.vec_id IN (SELECT src FROM adj)
              ORDER BY %L2OLD% ASC, e.vec_id ASC LIMIT 1),
      dall AS (SELECT e.vec_id AS id, %L2% AS d FROM embeddings e, q),
      v0 AS (SELECT id, d FROM dall
             WHERE id IN (SELECT entry_id FROM ent)),
      f1 AS (SELECT id, d FROM v0 ORDER BY d ASC, id ASC LIMIT 4),
      n1 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f1 ON a.src = f1.id
             WHERE a.dst NOT IN (SELECT id FROM v0)),
      v1 AS (SELECT id, d FROM v0 UNION
             SELECT dall.id, dall.d FROM dall JOIN n1 USING (id)),
      x1 AS (SELECT id FROM f1),
      f2 AS (SELECT id, d FROM v1 WHERE id NOT IN (SELECT id FROM x1)
             ORDER BY d ASC, id ASC LIMIT 4),
      n2 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f2 ON a.src = f2.id
             WHERE a.dst NOT IN (SELECT id FROM v1)),
      v2 AS (SELECT id, d FROM v1 UNION
             SELECT dall.id, dall.d FROM dall JOIN n2 USING (id)),
      x2 AS (SELECT id FROM x1 UNION SELECT id FROM f2),
      f3 AS (SELECT id, d FROM v2 WHERE id NOT IN (SELECT id FROM x2)
             ORDER BY d ASC, id ASC LIMIT 4),
      n3 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f3 ON a.src = f3.id
             WHERE a.dst NOT IN (SELECT id FROM v2)),
      v3 AS (SELECT id, d FROM v2 UNION
             SELECT dall.id, dall.d FROM dall JOIN n3 USING (id))
      SELECT id AS vec_id, d AS distance FROM v3
      ORDER BY distance ASC, vec_id ASC LIMIT 5
    """.replace("%L2OLD%", duckL2("e.embedding", "ov.oe"))
      .replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Graph UPSERT — in-place vector updates on a graph index, the
    * FreshDiskANN update discipline composed from the two maintenance
    * primitives: the stale nodes (indexed with WRONG vectors — the
    * base graph is built with `vec_id % 50 = 7` rows reversed) are
    * folded out by [[graft.search.GraphAnn.consolidateDeletes]]
    * (connectivity repaired through each), then the LIVE vectors
    * re-enter by frozen-graph [[graft.search.GraphAnn.append]] under
    * the same ids. Serving is the plain beam walk over the repaired
    * adjacency against the live corpus — no tombstones left behind, so
    * re-inserted ids rank normally. The oracle replays all three walk
    * rounds over the STAGED post-upsert adjacency with live-corpus
    * distances: an upsert that left a stale edge, dropped a re-insert,
    * or resurrected a dead node shifts the visited set and
    * hash-mismatches. */
  private val graphAnnUpsertWalk = Q(
    "graph_ann_upsert_walk",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val movedPred = pmod(col("vec_id"), lit(50)) === 7
      val key = s"/tmp/graft_graphup_${math.abs(dir.hashCode)}"
      val adj0 = graft.core.Artifacts.buildOnce(s, s"$key/adjacency") {
        GraphAnn.buildAdjacency(
          e.withColumn("embedding",
            when(movedPred, reverse(col("embedding")))
              .otherwise(col("embedding"))),
          "vec_id", "embedding")
      }
      // entry point from the stable nodes so it survives the fold
      val entryDf = graft.core.Artifacts.buildOnce(s, s"$key/entry") {
        GraphAnn.medoid(e.where(!movedPred), "vec_id", "embedding")
      }
      val entryId = entryDf.collect()(0).getLong(0)
      // the upsert (consolidate-fold + frozen-graph re-append) is
      // deterministic for a fixture, so its RESULT is buildOnce'd like
      // the base adjacency — the operator runs (and is what produced
      // the artifact the oracle replays); re-invocations serve without
      // paying the fold again (3× per bench entry otherwise)
      val upserted = graft.core.Artifacts.buildOnce(s, s"$key/upserted") {
        val adj1 = GraphAnn.consolidateDeletes(adj0, e, "vec_id",
          "embedding", e.where(movedPred).select("vec_id"), degree = 8)
        GraphAnn.append(adj1, e, "vec_id", "embedding",
          e.where(movedPred).select("vec_id", "embedding"), entryId,
          degree = 8, beamWidth = 4, rounds = 3).adjacency
      }
      stageOracleOnce(s, "graphup", dir)(
        "adjacency" -> upserted.select("src", "dst"),
        "entry" -> entryDf)
      val query = Fixtures.queryVector(e)
      GraphAnn.beamSearch(upserted, e, "vec_id", "embedding", query,
        entryId, k = 5, beamWidth = 4, rounds = 3, degree = 8)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      adj AS (SELECT src, dst FROM read_parquet(
        '/tmp/graft_graphup_oracle_%ORACLE_KEY%/adjacency/*.parquet')),
      ent AS (SELECT entry_id FROM read_parquet(
        '/tmp/graft_graphup_oracle_%ORACLE_KEY%/entry/*.parquet')),
      dall AS (SELECT e.vec_id AS id, %L2% AS d FROM embeddings e, q),
      v0 AS (SELECT id, d FROM dall
             WHERE id IN (SELECT entry_id FROM ent)),
      f1 AS (SELECT id, d FROM v0 ORDER BY d ASC, id ASC LIMIT 4),
      n1 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f1 ON a.src = f1.id
             WHERE a.dst NOT IN (SELECT id FROM v0)),
      v1 AS (SELECT id, d FROM v0 UNION
             SELECT dall.id, dall.d FROM dall JOIN n1 USING (id)),
      x1 AS (SELECT id FROM f1),
      f2 AS (SELECT id, d FROM v1 WHERE id NOT IN (SELECT id FROM x1)
             ORDER BY d ASC, id ASC LIMIT 4),
      n2 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f2 ON a.src = f2.id
             WHERE a.dst NOT IN (SELECT id FROM v1)),
      v2 AS (SELECT id, d FROM v1 UNION
             SELECT dall.id, dall.d FROM dall JOIN n2 USING (id)),
      x2 AS (SELECT id FROM x1 UNION SELECT id FROM f2),
      f3 AS (SELECT id, d FROM v2 WHERE id NOT IN (SELECT id FROM x2)
             ORDER BY d ASC, id ASC LIMIT 4),
      n3 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f3 ON a.src = f3.id
             WHERE a.dst NOT IN (SELECT id FROM v2)),
      v3 AS (SELECT id, d FROM v2 UNION
             SELECT dall.id, dall.d FROM dall JOIN n3 USING (id))
      SELECT id AS vec_id, d AS distance FROM v3
      ORDER BY distance ASC, vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** The walk-replay CTE chain for the MIPS-routed graph walk (see
    * [[graft.search.GraphAnn.beamSearchMips]]): identical frontier
    * discipline to the `graph_ann_search` replay, with the per-node
    * score d = −round(ip, 4) — ascending-d ranking IS descending-ip. */
  private def mipsWalkCtes: String = {
    val ip = "round(list_sum(list_transform(range(1, " +
      "len(e.embedding)+1), i -> CAST(e.embedding[i] AS DOUBLE) " +
      "* CAST(q.qe[i] AS DOUBLE))), 4)"
    s"""
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      adj AS (SELECT src, dst FROM read_parquet(
        '/tmp/graft_graphmips_oracle_%ORACLE_KEY%/adjacency/*.parquet')),
      ent AS (SELECT entry_id FROM read_parquet(
        '/tmp/graft_graphmips_oracle_%ORACLE_KEY%/entry/*.parquet')),
      dall AS (SELECT e.vec_id AS id, -$ip AS d FROM embeddings e, q),
      v0 AS (SELECT id, d FROM dall
             WHERE id IN (SELECT entry_id FROM ent)),
      f1 AS (SELECT id, d FROM v0 ORDER BY d ASC, id ASC LIMIT 4),
      n1 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f1 ON a.src = f1.id
             WHERE a.dst NOT IN (SELECT id FROM v0)),
      v1 AS (SELECT id, d FROM v0 UNION
             SELECT dall.id, dall.d FROM dall JOIN n1 USING (id)),
      x1 AS (SELECT id FROM f1),
      f2 AS (SELECT id, d FROM v1 WHERE id NOT IN (SELECT id FROM x1)
             ORDER BY d ASC, id ASC LIMIT 4),
      n2 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f2 ON a.src = f2.id
             WHERE a.dst NOT IN (SELECT id FROM v1)),
      v2 AS (SELECT id, d FROM v1 UNION
             SELECT dall.id, dall.d FROM dall JOIN n2 USING (id)),
      x2 AS (SELECT id FROM x1 UNION SELECT id FROM f2),
      f3 AS (SELECT id, d FROM v2 WHERE id NOT IN (SELECT id FROM x2)
             ORDER BY d ASC, id ASC LIMIT 4),
      n3 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f3 ON a.src = f3.id
             WHERE a.dst NOT IN (SELECT id FROM v2)),
      v3 AS (SELECT id, d FROM v2 UNION
             SELECT dall.id, dall.d FROM dall JOIN n3 USING (id))"""
  }

  /** Shared body of the two MIPS-walk entries: stage the shared graph
    * for the `graphmips` oracle, return (adjacency, corpus, entryId,
    * query vector 0). */
  private def mipsWalkSetup(s: org.apache.spark.sql.SparkSession,
                            dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         Long, Array[Float]) = {
    val e = Tables.embeddings(s, dir)
    val entryId = stageGraph(s, "graphmips", dir)
    (Fixtures.graphAdjacency(s, dir), e, entryId, Fixtures.queryVector(e))
  }

  /** MIPS-routed graph walk ([[graft.search.GraphAnn.beamSearchMips]]):
    * the graph tier serving MAXIMUM INNER PRODUCT — walk ranked by
    * descending exact IP, completing the metric × index matrix (cosine/
    * IP previously fell to the flat/norm-pruned/binary tiers). The
    * oracle replays every round of the ip-ordered walk and the final
    * ip-desc selection. */
  /** The walk-replay CTE chain for the cosine-routed graph walk
    * ([[graft.search.GraphAnn.beamSearchCosine]]): the `mipsWalkCtes`
    * frontier discipline with per-node score d = −round(cosine, 4) —
    * ascending-d ranking IS descending-cosine; the normalize-then-IP
    * arithmetic replays from RAW fixture vectors (the
    * `ivf_cosine_search` discipline on the graph tier). */
  private def cosWalkCtes: String = {
    val cos = duckCosine("e.embedding", "q.qe")
    s"""
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      adj AS (SELECT src, dst FROM read_parquet(
        '/tmp/graft_graphcos_oracle_%ORACLE_KEY%/adjacency/*.parquet')),
      ent AS (SELECT entry_id FROM read_parquet(
        '/tmp/graft_graphcos_oracle_%ORACLE_KEY%/entry/*.parquet')),
      dall AS (SELECT e.vec_id AS id, -$cos AS d FROM embeddings e, q),
      v0 AS (SELECT id, d FROM dall
             WHERE id IN (SELECT entry_id FROM ent)),
      f1 AS (SELECT id, d FROM v0 ORDER BY d ASC, id ASC LIMIT 4),
      n1 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f1 ON a.src = f1.id
             WHERE a.dst NOT IN (SELECT id FROM v0)),
      v1 AS (SELECT id, d FROM v0 UNION
             SELECT dall.id, dall.d FROM dall JOIN n1 USING (id)),
      x1 AS (SELECT id FROM f1),
      f2 AS (SELECT id, d FROM v1 WHERE id NOT IN (SELECT id FROM x1)
             ORDER BY d ASC, id ASC LIMIT 4),
      n2 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f2 ON a.src = f2.id
             WHERE a.dst NOT IN (SELECT id FROM v1)),
      v2 AS (SELECT id, d FROM v1 UNION
             SELECT dall.id, dall.d FROM dall JOIN n2 USING (id)),
      x2 AS (SELECT id FROM x1 UNION SELECT id FROM f2),
      f3 AS (SELECT id, d FROM v2 WHERE id NOT IN (SELECT id FROM x2)
             ORDER BY d ASC, id ASC LIMIT 4),
      n3 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN f3 ON a.src = f3.id
             WHERE a.dst NOT IN (SELECT id FROM v2)),
      v3 AS (SELECT id, d FROM v2 UNION
             SELECT dall.id, dall.d FROM dall JOIN n3 USING (id))"""
  }

  /** Cosine-routed graph walk (see
    * [[graft.search.GraphAnn.beamSearchCosine]]): the last cell of the
    * metric × index matrix — L2 / IP / cosine each now serve through
    * flat, IVF, and graph. Shares the graph artifact; the oracle
    * replays every walk round with the cosine comparator computed from
    * RAW fixture vectors. */
  private val graphAnnCosineWalk = Q(
    "graph_ann_cosine_walk",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryId = stageGraph(s, "graphcos", dir)
      val query = Fixtures.queryVector(e)
      GraphAnn.beamSearchCosine(adj, e, "vec_id", "embedding", query,
        entryId, k = 5, beamWidth = 4,
        rounds = 3, degree = 8)
    },
    Some(s"""
      WITH $cosWalkCtes
      SELECT id AS vec_id, -d AS cosine FROM v3
      ORDER BY cosine DESC, vec_id ASC LIMIT 5
    """))

  /** Recall of the cosine-routed walk against EXACT cosine top-k —
    * the `graph_ann_mips_recall` measurement row for the last matrix
    * cell; both rankings and the hit arithmetic replay in the
    * oracle. */
  private val graphAnnCosineRecall = Q(
    "graph_ann_cosine_recall",
    (s, dir) => {
      import graft.search.GraphAnn
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val adj = Fixtures.graphAdjacency(s, dir)
      val entryId = stageGraph(s, "graphcos", dir)
      val query = Fixtures.queryVector(e)
      val walk = GraphAnn.beamSearchCosine(adj, e, "vec_id", "embedding",
          query, entryId, k = 5, beamWidth = 4,
          rounds = 3, degree = 8)
        .select("vec_id").as[Long].collect().toSet
      val exact = e.select(col("vec_id"),
          round(graft.functions.VectorFunctions.cosineSim(col("embedding"),
            typedlit(query.toSeq)), 4).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(5)
        .select("vec_id").as[Long].collect().toSet
      val hits = walk.intersect(exact).size.toLong
      Seq((5L, hits, BigDecimal(hits / 5.0)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("k", "hits", "recall")
    },
    Some(s"""
      WITH $cosWalkCtes,
      walk AS (SELECT id FROM v3 ORDER BY -d DESC, id ASC LIMIT 5),
      exact AS (SELECT id FROM dall ORDER BY d ASC, id ASC LIMIT 5),
      h AS (SELECT CAST(count(*) AS BIGINT) AS hits
            FROM walk JOIN exact USING (id))
      SELECT CAST(5 AS BIGINT) AS k, hits,
             round(hits / 5.0, 4) AS recall
      FROM h
    """))

  private val graphAnnMipsWalk = Q(
    "graph_ann_mips_walk",
    (s, dir) => {
      import graft.search.GraphAnn
      val (adj, e, entryId, query) = mipsWalkSetup(s, dir)
      GraphAnn.beamSearchMips(adj, e, "vec_id", "embedding", query,
        entryId, k = 5, beamWidth = 4, rounds = 3, degree = 8)
    },
    Some(s"""
      WITH $mipsWalkCtes
      SELECT id AS vec_id, -d AS ip FROM v3
      ORDER BY ip DESC, vec_id ASC LIMIT 5
    """))

  /** Recall of the MIPS walk against EXACT IP top-k over the corpus —
    * the measurement row the tier guide advertises next to every other
    * serving family; both rankings and the hit arithmetic replay in the
    * oracle. */
  private val graphAnnMipsRecall = Q(
    "graph_ann_mips_recall",
    (s, dir) => {
      import graft.search.GraphAnn
      import s.implicits._
      val (adj, e, entryId, query) = mipsWalkSetup(s, dir)
      val walk = GraphAnn.beamSearchMips(adj, e, "vec_id", "embedding",
          query, entryId, k = 5, beamWidth = 4, rounds = 3, degree = 8)
        .select("vec_id").as[Long].collect().toSet
      val exact = e.select(col("vec_id"),
          round(VectorFunctions.dot(col("embedding"),
            typedlit(query.toSeq)), 4).as("ip"))
        .orderBy(col("ip").desc, col("vec_id").asc).limit(5)
        .select("vec_id").as[Long].collect().toSet
      val hits = walk.intersect(exact).size.toLong
      Seq((5L, hits, BigDecimal(hits / 5.0)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("k", "hits", "recall")
    },
    Some(s"""
      WITH $mipsWalkCtes,
      walk AS (SELECT id FROM v3 ORDER BY -d DESC, id ASC LIMIT 5),
      exact AS (SELECT id FROM dall ORDER BY d ASC, id ASC LIMIT 5),
      h AS (SELECT CAST(count(*) AS BIGINT) AS hits
            FROM walk JOIN exact USING (id))
      SELECT CAST(5 AS BIGINT) AS k, hits,
             round(hits / 5.0, 4) AS recall
      FROM h
    """))

  /** α-RNG robust-pruned graph BUILD ([[graft.search.GraphAnn
    * .buildAdjacencyPruned]] — Vamana's diversity prune in one-shot
    * declarative form, α = 1.2, 16 candidates pruned+filled to degree
    * 8): a candidate edge is dominated when a closer candidate covers
    * its direction (α²·d²(r,q) < d²(src,q)); survivors rank first and
    * the nearest dominated candidates fill the remaining slots, then
    * the usual symmetrize + re-cap. Output = the ENTIRE pruned
    * adjacency; the oracle replays rank, domination (distances
    * recomputed from the fixture), fill, symmetrize, and cap edge by
    * edge from the staged candidate set — the prune itself is
    * hash-checked, not just a walk over its result. */
  private val graphAnnPrunedBuild = Q(
    "graph_ann_pruned_build",
    (s, dir) => {
      import graft.search.GraphAnn
      val e = Tables.embeddings(s, dir)
      val base = Fixtures.graphDir(dir)
      val cands = graft.core.Artifacts.buildOnce(s, s"$base/cands16") {
        GraphAnn.rankedCandidates(e, "vec_id", "embedding", candCap = 16)
      }
      stageOracleOnce(s, "prunebuild", dir)("cands" -> cands)
      graft.core.Artifacts.buildOnce(s, s"$base/adjacency_pruned") {
        GraphAnn.prunedAdjacencyFrom(cands, e, "vec_id", "embedding",
          degree = 8, alpha = 1.2, candCap = 16)
      }.orderBy(col("src").asc, col("dst").asc)
    },
    Some(s"""
      WITH cands AS (SELECT src, dst, dist FROM read_parquet(
        '/tmp/graft_prunebuild_oracle_%ORACLE_KEY%/cands/*.parquet')),
      rk AS (SELECT src, dst, dist, row_number() OVER (PARTITION BY src
               ORDER BY dist ASC, dst ASC) AS rn FROM cands),
      dom AS (SELECT b.src, b.dst,
                     max(CASE WHEN round(1.44 *
                         ${duckL2("ea.embedding", "eb.embedding")}, 4)
                         < b.dist THEN 1 ELSE 0 END) AS d
              FROM rk b JOIN rk a ON a.src = b.src AND a.rn < b.rn
                   JOIN embeddings ea ON ea.vec_id = a.dst
                   JOIN embeddings eb ON eb.vec_id = b.dst
              GROUP BY b.src, b.dst),
      keep AS (SELECT src, dst, dist FROM (
          SELECT r.src, r.dst, r.dist,
                 row_number() OVER (PARTITION BY r.src
                   ORDER BY coalesce(d.d, 0) ASC, r.dist ASC, r.dst ASC)
                   AS krn
          FROM rk r LEFT JOIN dom d ON d.src = r.src AND d.dst = r.dst) t
        WHERE krn <= 8),
      sym AS (SELECT src, dst, min(dist) AS dist FROM (
          SELECT src, dst, dist FROM keep
          UNION ALL SELECT dst AS src, src AS dst, dist FROM keep) u
        GROUP BY src, dst)
      SELECT src, dst, dist FROM (
        SELECT src, dst, dist, row_number() OVER (PARTITION BY src
            ORDER BY dist ASC, dst ASC) AS rn2 FROM sym) fin
      WHERE rn2 <= 8
      ORDER BY src ASC, dst ASC
    """))

  /** Recall of the α-RNG-pruned build vs the capped-kNN build at the
    * SAME degree (8) and walk budget (beam 4 × 6 rounds) — round 11:
    * measured on a corpus where diversity PAYS, so the registry row
    * itself shows the strict win (r10's entry tied 0.6667/0.6667 on
    * the near-uniform embeddings fixture — on that geometry α = 1.2
    * domination never fires and the prune is a no-op, which is honest
    * but demonstrates nothing). The corpus is the GraphAnnSpec ladder
    * promoted to a STAGED fixture: 6 micro-clusters × 9 near-duplicate
    * points along a line — every point's 8 nearest are clique
    * siblings, so capped-kNN spends the whole degree budget inside the
    * cluster and the walk from the medoid can never bridge to the far
    * end, while RobustPrune dominates siblings and keeps
    * adjacent-cluster edges: same degree, strictly more reachable
    * recall (Vamana's actual claim, Subramanya et al. 2019 §3). Both
    * builds are buildOnce artifacts (deterministic; the prune
    * arithmetic itself is hash-checked by graph_ann_pruned_build and
    * the 10-cluster shape spec-pinned in GraphAnnSpec — re-deriving
    * them per bench pass cost 31 s for zero information); the WALKS
    * stay live. Builds, entry, and the CORPUS are staged; the oracle
    * replays both 6-round walks (MATERIALIZED CTEs — a deep chain
    * explodes under DuckDB's inlining) and both recall numbers over
    * the staged corpus — the two rows must differ in the green
    * output. */
  private val graphAnnPrunedRecall = Q(
    "graph_ann_pruned_recall",
    (s, dir) => {
      import graft.search.GraphAnn
      import s.implicits._
      val pts = for (c <- 0 until 6; j <- 0 until 9) yield {
        val base = 3.0f * c
        ((c * 9 + j).toLong,
          Array(base + j * 0.001f, j * 0.001f, 0.0f, 0.0f))
      }
      val rows = pts.toDF("vec_id", "embedding")
      val p = GraphAnn.Params(degree = 8, nlist = 2, overlap = 2)
      val lbase = s"/tmp/graft_ladder_${math.abs(dir.hashCode)}"
      val adjPlain = graft.core.Artifacts.buildOnce(s, s"$lbase/plain") {
        GraphAnn.buildAdjacency(rows, "vec_id", "embedding", p)
      }
      val adjPruned = graft.core.Artifacts.buildOnce(s,
          s"$lbase/pruned") {
        GraphAnn.buildAdjacencyPruned(rows, "vec_id", "embedding", p,
          alpha = 1.2, candCap = 16)
      }
      val entryDf = graft.core.Artifacts.buildOnce(s, s"$lbase/entry") {
        GraphAnn.medoid(rows, "vec_id", "embedding")
      }
      stageOracleOnce(s, "prunrecA", dir)(
        "adjacency" -> adjPlain.select("src", "dst"),
        "entry" -> entryDf,
        "corpus" -> rows)
      stageOracleOnce(s, "prunrecB", dir)(
        "adjacency" -> adjPruned.select("src", "dst"),
        "entry" -> entryDf)
      val entryId = entryDf.collect()(0).getLong(0)
      val q = Array(15.0f, 0.0f, 0.0f, 0.0f) // the ladder's far end
      val exact = rows.select(col("vec_id"),
          round(VectorFunctions.l2Sq(col("embedding"),
            typedlit(q.toSeq)), 4).as("d"))
        .orderBy(col("d").asc, col("vec_id").asc).limit(5)
        .select("vec_id")
      def recallOf(adj: org.apache.spark.sql.DataFrame,
                   name: String) = {
        val walked = GraphAnn.beamSearch(adj, rows, "vec_id",
            "embedding", q, entryId, k = 5, beamWidth = 4, rounds = 6,
            degree = 8)
          .select(col("vec_id"), lit(1).as("hit"))
        exact.join(walked, Seq("vec_id"), "left")
          .agg(round(count(col("hit")) / 5.0, 4).as("recall"))
          .select(lit(name).as("build"), lit(8L).as("degree"),
            lit(1L).as("n_queries"), col("recall"))
      }
      recallOf(adjPlain, "capped_knn")
        .unionByName(recallOf(adjPruned, "alpha_rng_pruned"))
        .orderBy(col("build").asc)
    },
    Some(s"""
      WITH qs AS (SELECT CAST(0 AS BIGINT) AS qid,
                         [15.0, 0.0, 0.0, 0.0] AS qv),
      ${bulkWalkCtesExpr("prunrecA", "4", rounds = 6, prefix = "ka",
        corpusFrom = "read_parquet('/tmp/graft_prunrecA_oracle_" +
          "%ORACLE_KEY%/corpus/*.parquet')", materialized = true)},
      ${bulkWalkCtesExpr("prunrecB", "4", rounds = 6, prefix = "kb",
        corpusFrom = "read_parquet('/tmp/graft_prunrecA_oracle_" +
          "%ORACLE_KEY%/corpus/*.parquet')", materialized = true)},
      ex AS (SELECT id FROM kadall ORDER BY d ASC, id ASC LIMIT 5),
      wa AS (SELECT id FROM kav6 ORDER BY d ASC, id ASC LIMIT 5),
      wb AS (SELECT id FROM kbv6 ORDER BY d ASC, id ASC LIMIT 5)
      SELECT build, CAST(8 AS BIGINT) AS degree,
             CAST(1 AS BIGINT) AS n_queries, recall
      FROM (
        SELECT 'alpha_rng_pruned' AS build,
               round(count(w.id) / 5.0, 4) AS recall
        FROM ex LEFT JOIN wb w ON w.id = ex.id
        UNION ALL
        SELECT 'capped_knn', round(count(w.id) / 5.0, 4)
        FROM ex LEFT JOIN wa w ON w.id = ex.id)
      ORDER BY build ASC
    """))

  /** The router's MEASURED PANEL, v3 (shared by the `serving_plan_*`
    * and `routed_auto_search*` entries): recall + rows-touched cost +
    * serving-residency bytes for SEVEN tiers — flat, graph@beam8×6,
    * graph FILTERED @beam16×6 (round 12: the filtered walk buys its
    * recall with a wider beam, so its cost row is DIFFERENT from the
    * unfiltered graph's — measured under the `%2 = 0` label filter
    * against exact filtered top-5), IVF@nprobe4, SQ8 (margin-20
    * candidates + exact rerank, so final recall = candidate recall),
    * PQ-ADC (margin 20), and the LEXICAL tier (round 12: BM25 over the
    * documents postings artifact, modality "text" — it is the exact
    * scorer for its own modality, so recall 1.0 by definition; cost =
    * the measured postings rows its panel query terms touch; residency
    * = 24 B/posting row) — vector tiers on the shared bulk queries.
    * `mem_bytes` is the artifact's residency arithmetic (the
    * `quantizer_error_report` axis promoted to a router input):
    * flat/IVF n·4·dim (+ centroids), graph adds 24 B/edge of
    * adjacency, SQ8 n·(dim + 8), PQ n·M + the 256-row codebooks. The
    * panel is CACHED UNDER A FRESHNESS KEY ([[graft.search.Router
    * .artifactFingerprint]] over every measured artifact, now
    * including the lexical postings root): any maintenance verb —
    * alias advance, in-place fold, rebuild — changes the key and
    * forces a re-measure, closing the stale-panel gap (round-10
    * verdict, What's missing #4); OperatorSpec pins the key flip. */
  private def routerPanelV2(s: org.apache.spark.sql.SparkSession,
                            dir: String): org.apache.spark.sql.DataFrame = {
    import graft.search.{GraphAnn, Pq, Router}
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val indexDir = Fixtures.ivfDir(dir)
    val model = Fixtures.ivf(s, dir)
    val gbase = Fixtures.graphDir(dir)
    val adj = Fixtures.graphAdjacency(s, dir)
    val entryDf = Fixtures.graphMedoid(s, dir)
    val sq8Dir = Fixtures.sq8Dir(dir)
    val sq8Tab = Fixtures.sq8(s, dir)
    val pqDir = Fixtures.pqDir(dir)
    val pq = Fixtures.pq(s, dir)
    // the lexical tier's own postings artifact (documents-side)
    val lexDir = Fixtures.routerLexTerms(s, dir)
    val fp = Router.artifactFingerprint(s,
      Seq(indexDir, s"$gbase/adjacency", sq8Dir, Pq.codesDir(pqDir),
        lexDir))
    graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_router_${math.abs(dir.hashCode)}/panel7_$fp") {
      val n = e.count()
      val dim = e.select(size(col("embedding"))).first().getInt(0)
      val entryId = entryDf.collect()(0).getLong(0)
      val qs = e.where(col("vec_id").isin(BulkQids: _*))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1).toSeq
      // IVF recall at nprobe=4 via the tuning curve; cost = average
      // probed-partition rows (what the pruned scan actually reads)
      val ivfRecall = IvfIndex.nprobeCurve(s, model, "embedding",
          "vec_id", qs, k = 5, nprobes = Seq(4), targetRecall = 0.9)
        .collect()(0).getDouble(2)
      val sizes = IvfIndex.readData(s, indexDir)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      val ivfCost = qs.map { case (_, qv) =>
        IvfIndex.probeClusters(model, qv, 4)
          .map(sizes.getOrElse(_, 0L)).sum
      }.sum / qs.size
      val qdf = e.where(col("vec_id").isin(BulkQids: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val exact = e.crossJoin(broadcast(qdf))
        .select(col("qid"), col("vec_id"),
          round(VectorFunctions.l2Sq(col("embedding"), col("qv")), 4)
            .as("d"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("d").asc, col("vec_id").asc)))
        .where(col("rn") <= 5).select("qid", "vec_id")
      def recallOf(cand: org.apache.spark.sql.DataFrame): Double =
        exact.join(cand.withColumn("hit", lit(1)),
            Seq("qid", "vec_id"), "left")
          .agg(round(count(col("hit")) / (5.0 * BulkQids.size), 4))
          .collect()(0).getDouble(0)
      // graph recall at the graph_ann_bulk budget; cost = the walk's
      // visited-budget bound (corpus-independent by construction)
      val walked = GraphAnn.bulkBeamSearch(adj, e, "vec_id",
          "embedding", qdf, "qid", "qv", entryId, k = 5,
          beamWidth = 8, rounds = 6)
        .select(col("qid"), col("vec_id"))
      val graphRecall = recallOf(walked)
      // SQ8: margin-20 ADC candidates per query + exact rerank — final
      // top-5 recall equals candidate recall (the rerank is exact)
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("ad").asc, col("vec_id").asc)
      val sq8Cand = sq8Tab.crossJoin(broadcast(qdf))
        .select(col("qid"), col("vec_id"),
          round(VectorFunctions.dequantL2(
            col("__qvec"), col("__scale"), col("qv")), 4).as("ad"))
        .withColumn("rn", row_number().over(wq))
        .where(col("rn") <= 20).select("qid", "vec_id")
      val sq8Recall = recallOf(sq8Cand)
      // PQ: margin-20 ADC candidates per query (a bounded 3-query loop
      // over the codes table — the adcCandidates serving arithmetic)
      val pqCand = qs.map { case (qid, qv) =>
        Pq.adcCandidates(s, pq, "vec_id", qv, 20)
          .select(lit(qid).as("qid"), col("vec_id"))
      }.reduce(_ unionByName _)
      val pqRecall = recallOf(pqCand)
      val nCodebooks = s.read.parquet(Pq.codebooksDir(pqDir))
        .select(col("sub")).distinct().count()
      // graph FILTERED tier (round 12): the label-blind walk at beam
      // 16 under the %2 = 0 filter, recall vs exact FILTERED top-5 —
      // a bounded 3-query loop, like the PQ candidates above
      val exactF = e.where(col("vec_id") % 2 === 0)
        .crossJoin(broadcast(qdf))
        .select(col("qid"), col("vec_id"),
          round(VectorFunctions.l2Sq(col("embedding"), col("qv")), 4)
            .as("d"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("d").asc, col("vec_id").asc)))
        .where(col("rn") <= 5).select("qid", "vec_id")
      val fCand = qs.map { case (qid, qv) =>
        GraphAnn.filteredBeamSearch(adj, e, "vec_id", "embedding", qv,
            entryId, col("vec_id") % 2 === 0, k = 5, beamWidth = 16,
            rounds = 6)
          .select(lit(qid).as("qid"), col("vec_id"))
      }.reduce(_ unionByName _)
      val gfRecall = exactF.join(fCand.withColumn("hit", lit(1)),
          Seq("qid", "vec_id"), "left")
        .agg(round(count(col("hit")) / (5.0 * BulkQids.size), 4))
        .collect()(0).getDouble(0)
      // lexical tier (round 12, modality "text"): BM25 is the exact
      // scorer for its own modality (recall 1.0 by definition); cost =
      // measured postings rows the panel's text query touches
      val lexPost = graft.search.TermIndex.postings(s, lexDir)
      val lexCost = lexPost
        .where(col("term").isin("scan", "filter", "merge"))
        .count()
      val lexRows = lexPost.count()
      Seq(
        ("bm25_lexical", 1.0, lexCost,
          lexRows * 24L),
        ("flat", 1.0, n,
          n * 4L * dim),
        ("graph_beam8x6", graphRecall, (1 + 6 * 8 * 8).toLong,
          n * 4L * dim + adj.count() * 24L),
        ("graph_filtered_beam16", gfRecall, (1 + 6 * 16 * 8).toLong,
          n * 4L * dim + adj.count() * 24L),
        ("ivf_nprobe4", ivfRecall, ivfCost,
          n * 4L * dim + model.nlist * 4L * dim),
        ("pq_adc_margin20", pqRecall, n,
          n * nCodebooks + nCodebooks * 256L * 4L * dim),
        ("sq8_margin20", sq8Recall, n,
          n * (dim + 8L)))
        .toDF("tier", "recall", "cost", "mem_bytes")
    }
  }

  /** Serving-tier ROUTER ([[graft.search.Router.plan]]) — the choice
    * among serving tiers made a replayable operator (round 10's #3,
    * extended to the round-11 v2 panel: FIVE measured tiers including
    * the quantized ones, residency bytes, freshness-keyed caching —
    * see [[routerPanelV2]]). The DECISION (eligibility from presence /
    * filter capability / selectivity floor / memory budget,
    * meets-target, min-cost choice with the highest-recall fallback)
    * replays here from the staged panel. OperatorSpec pins that each
    * input — target, presence, selectivity, filter capability, cost,
    * budget — flips the decision, and that maintenance flips the
    * panel's cache key. The quantized tiers carry
    * `filterCapable = false` (no indexed-filter path — the filter ×
    * index matrix covers flat/IVF/graph only), which the oracle
    * mirrors. */
  private val servingPlanReport = Q(
    "serving_plan_report",
    (s, dir) => {
      import graft.search.Router
      val graphAdjacency = s"${Fixtures.graphDir(dir)}/adjacency"
      // panel staged lazy-once (round 16); the entry then PLANS over
      // the staged rows — the same table the oracle replays — instead
      // of re-constructing the measured panel every pass
      val panelDir = stageOracleOnceLazy(s, "router", dir)(
        Seq("panel" -> routerPanelV2(s, dir)))
      val panel = s.read.parquet(s"$panelDir/panel")
      Router.plan(s, panel,
        tiers = Seq(
          Router.Tier("bm25_lexical",
            present = Fixtures.built(s, Fixtures.routerLexTermsDir(dir)),
            filterCapable = true, modality = "text"),
          Router.Tier("flat", present = true, filterCapable = true),
          Router.Tier("graph_beam8x6",
            present = Fixtures.built(s, graphAdjacency),
            filterCapable = true),
          Router.Tier("graph_filtered_beam16",
            present = Fixtures.built(s, graphAdjacency),
            filterCapable = true),
          Router.Tier("ivf_nprobe4",
            present = Fixtures.built(s, Fixtures.ivfDir(dir)),
            filterCapable = true),
          Router.Tier("pq_adc_margin20",
            present = Fixtures.built(s, Fixtures.pqDir(dir)),
            filterCapable = false),
          Router.Tier("sq8_margin20",
            present = Fixtures.built(s, Fixtures.sq8Dir(dir)),
            filterCapable = false)),
        selectivity = 1.0, recallTarget = 0.9)
    },
    Some("""
      WITH panel AS (SELECT tier, recall, CAST(cost AS BIGINT) AS cost,
                            CAST(mem_bytes AS BIGINT) AS mem_bytes
                     FROM read_parquet(
        '/tmp/graft_router_oracle_%ORACLE_KEY%/panel/*.parquet')),
      -- round 12: the lexical tier is filter-capable but TEXT-modality;
      -- a vector query's eligibility excludes it (the modality gate)
      el AS (SELECT tier, TRUE AS present,
                    tier NOT IN ('pq_adc_margin20', 'sq8_margin20')
                      AS filter_capable,
                    tier <> 'bm25_lexical' AS eligible,
                    recall, cost, mem_bytes,
                    (tier <> 'bm25_lexical' AND recall >= 0.9)
                      AS meets_target
             FROM panel),
      ch AS (SELECT tier AS c FROM el WHERE meets_target
             ORDER BY cost ASC, tier ASC LIMIT 1),
      ch2 AS (SELECT CASE WHEN EXISTS (SELECT 1 FROM ch)
                          THEN (SELECT c FROM ch)
                          ELSE (SELECT tier FROM el WHERE eligible
                                ORDER BY recall DESC, cost ASC, tier ASC
                                LIMIT 1) END AS c)
      SELECT tier, present, filter_capable, eligible, recall, cost,
             mem_bytes, meets_target, tier = (SELECT c FROM ch2) AS chosen
      FROM el ORDER BY tier ASC
    """))

  /** The router under a MEMORY BUDGET — the v2 input that routes a
    * RAM-constrained deployment to a quantized tier instead of OOMing
    * on flat: the budget here is exactly the SQ8 tier's residency + 1
    * byte (derived FROM the staged panel on both sides — live
    * arithmetic, not a baked constant), so every n·4·dim tier is
    * ineligible, the quantized tiers survive the gate, and the
    * decision falls to recall/cost among the survivors. A router that
    * ignores `mem_bytes` chooses a too-big tier and hash-mismatches. */
  private val servingPlanBudget = Q(
    "serving_plan_budget",
    (s, dir) => {
      import graft.search.Router
      val panelDir = stageOracleOnceLazy(s, "routerbudget", dir)(
        Seq("panel" -> routerPanelV2(s, dir)))
      val panel = s.read.parquet(s"$panelDir/panel")
      val budget = panel.where(col("tier") === "sq8_margin20")
        .select(col("mem_bytes").cast("long")).collect()(0).getLong(0) + 1
      Router.plan(s, panel,
        tiers = Seq(
          Router.Tier("bm25_lexical", present = true,
            filterCapable = true, modality = "text"),
          Router.Tier("flat", present = true, filterCapable = true),
          Router.Tier("graph_beam8x6", present = true,
            filterCapable = true),
          Router.Tier("graph_filtered_beam16", present = true,
            filterCapable = true),
          Router.Tier("ivf_nprobe4", present = true,
            filterCapable = true),
          Router.Tier("pq_adc_margin20", present = true,
            filterCapable = false),
          Router.Tier("sq8_margin20", present = true,
            filterCapable = false)),
        selectivity = 1.0, recallTarget = 0.8,
        memoryBudget = Some(budget))
    },
    Some("""
      WITH panel AS (SELECT tier, recall, CAST(cost AS BIGINT) AS cost,
                            CAST(mem_bytes AS BIGINT) AS mem_bytes
                     FROM read_parquet(
        '/tmp/graft_routerbudget_oracle_%ORACLE_KEY%/panel/*.parquet')),
      b AS (SELECT mem_bytes + 1 AS budget FROM panel
            WHERE tier = 'sq8_margin20'),
      el AS (SELECT tier, TRUE AS present,
                    tier NOT IN ('pq_adc_margin20', 'sq8_margin20')
                      AS filter_capable,
                    (tier <> 'bm25_lexical'
                     AND mem_bytes <= (SELECT budget FROM b)) AS eligible,
                    recall, cost, mem_bytes,
                    (tier <> 'bm25_lexical'
                     AND mem_bytes <= (SELECT budget FROM b)
                     AND recall >= 0.8) AS meets_target
             FROM panel),
      ch AS (SELECT tier AS c FROM el WHERE meets_target
             ORDER BY cost ASC, tier ASC LIMIT 1),
      ch2 AS (SELECT CASE WHEN EXISTS (SELECT 1 FROM ch)
                          THEN (SELECT c FROM ch)
                          ELSE (SELECT tier FROM el WHERE eligible
                                ORDER BY recall DESC, cost ASC, tier ASC
                                LIMIT 1) END AS c)
      SELECT tier, present, filter_capable, eligible, recall, cost,
             mem_bytes, meets_target, tier = (SELECT c FROM ch2) AS chosen
      FROM el ORDER BY tier ASC
    """))

  /** The router under a HIGHLY SELECTIVE filtered query — the other
    * decision branch as a registry entry (the spec flips inputs; this
    * replays the selectivity-floor rule in the ORACLE): at selectivity
    * 0.01 < floor 0.0625 every indexed tier is ineligible and the
    * router must fall back to flat exact-over-survivors
    * ([[graft.search.Router.plan]]'s `exactFloorSelectivity` rule).
    * Shares `serving_plan_report`'s build-once panel; stages it under
    * its own oracle key. */
  private val servingPlanFiltered = Q(
    "serving_plan_filtered",
    (s, dir) => {
      import graft.search.Router
      val panelDir = stageOracleOnceLazy(s, "routerfilt", dir)(
        Seq("panel" -> routerPanelV2(s, dir)))
      val panel = s.read.parquet(s"$panelDir/panel")
      Router.plan(s, panel,
        tiers = Seq(
          Router.Tier("bm25_lexical", present = true,
            filterCapable = true, modality = "text"),
          Router.Tier("flat", present = true, filterCapable = true),
          Router.Tier("graph_beam8x6", present = true,
            filterCapable = true),
          Router.Tier("graph_filtered_beam16", present = true,
            filterCapable = true),
          Router.Tier("ivf_nprobe4", present = true,
            filterCapable = true),
          Router.Tier("pq_adc_margin20", present = true,
            filterCapable = false),
          Router.Tier("sq8_margin20", present = true,
            filterCapable = false)),
        selectivity = 0.01, recallTarget = 0.9)
    },
    Some("""
      WITH panel AS (SELECT tier, recall, CAST(cost AS BIGINT) AS cost,
                            CAST(mem_bytes AS BIGINT) AS mem_bytes
                     FROM read_parquet(
        '/tmp/graft_routerfilt_oracle_%ORACLE_KEY%/panel/*.parquet')),
      -- the floor rule as live arithmetic, not a baked outcome:
      -- eligible iff (the tier has an indexed-filter path) AND
      -- (selectivity >= exactFloor OR the tier is flat)
      el AS (SELECT tier, TRUE AS present,
                    tier NOT IN ('pq_adc_margin20', 'sq8_margin20')
                      AS filter_capable,
                    (tier NOT IN ('pq_adc_margin20', 'sq8_margin20',
                                  'bm25_lexical')
                     AND (0.01 >= 0.0625 OR tier = 'flat')) AS eligible,
                    recall, cost, mem_bytes,
                    (tier NOT IN ('pq_adc_margin20', 'sq8_margin20',
                                  'bm25_lexical')
                     AND (0.01 >= 0.0625 OR tier = 'flat')
                     AND recall >= 0.9) AS meets_target
             FROM panel),
      ch AS (SELECT tier AS c FROM el WHERE meets_target
             ORDER BY cost ASC, tier ASC LIMIT 1),
      ch2 AS (SELECT CASE WHEN EXISTS (SELECT 1 FROM ch)
                          THEN (SELECT c FROM ch)
                          ELSE (SELECT tier FROM el WHERE eligible
                                ORDER BY recall DESC, cost ASC, tier ASC
                                LIMIT 1) END AS c)
      SELECT tier, present, filter_capable, eligible, recall, cost,
             mem_bytes, meets_target, tier = (SELECT c FROM ch2) AS chosen
      FROM el ORDER BY tier ASC
    """))

  /** The router under a TEXT-shaped query (round 12 — the panel's
    * seventh tier made a decision branch: Milvus dispatches BM25
    * full-text search vs vector search by the query's modality, and so
    * does [[graft.search.Router.plan]]'s `queryModality` gate): every
    * embedding tier is modality-ineligible, the lexical tier — the
    * exact scorer for its own modality, recall 1.0 by definition — is
    * the only survivor and wins. The oracle replays the modality gate
    * from the staged panel; a router that routed a text query to a
    * vector index (or ignored modality entirely) hash-mismatches on
    * the eligibility/chosen columns. */
  private val servingPlanText = Q(
    "serving_plan_text",
    (s, dir) => {
      import graft.search.Router
      val panelDir = stageOracleOnceLazy(s, "routertext", dir)(
        Seq("panel" -> routerPanelV2(s, dir)))
      val panel = s.read.parquet(s"$panelDir/panel")
      Router.plan(s, panel,
        tiers = Seq(
          Router.Tier("bm25_lexical", present = true,
            filterCapable = true, modality = "text"),
          Router.Tier("flat", present = true, filterCapable = true),
          Router.Tier("graph_beam8x6", present = true,
            filterCapable = true),
          Router.Tier("graph_filtered_beam16", present = true,
            filterCapable = true),
          Router.Tier("ivf_nprobe4", present = true,
            filterCapable = true),
          Router.Tier("pq_adc_margin20", present = true,
            filterCapable = false),
          Router.Tier("sq8_margin20", present = true,
            filterCapable = false)),
        selectivity = 1.0, recallTarget = 0.9,
        queryModality = "text")
    },
    Some("""
      WITH panel AS (SELECT tier, recall, CAST(cost AS BIGINT) AS cost,
                            CAST(mem_bytes AS BIGINT) AS mem_bytes
                     FROM read_parquet(
        '/tmp/graft_routertext_oracle_%ORACLE_KEY%/panel/*.parquet')),
      el AS (SELECT tier, TRUE AS present,
                    tier NOT IN ('pq_adc_margin20', 'sq8_margin20')
                      AS filter_capable,
                    tier = 'bm25_lexical' AS eligible,
                    recall, cost, mem_bytes,
                    (tier = 'bm25_lexical' AND recall >= 0.9)
                      AS meets_target
             FROM panel),
      ch AS (SELECT tier AS c FROM el WHERE meets_target
             ORDER BY cost ASC, tier ASC LIMIT 1),
      ch2 AS (SELECT CASE WHEN EXISTS (SELECT 1 FROM ch)
                          THEN (SELECT c FROM ch)
                          ELSE (SELECT tier FROM el WHERE eligible
                                ORDER BY recall DESC, cost ASC, tier ASC
                                LIMIT 1) END AS c)
      SELECT tier, present, filter_capable, eligible, recall, cost,
             mem_bytes, meets_target, tier = (SELECT c FROM ch2) AS chosen
      FROM el ORDER BY tier ASC
    """))

  val all: Seq[Q] = Seq(ivfSearch, ivfSearchIterate, ivfIpSearch,
    ivfCosineSearch,
    ivfRangeSearch, ivfRangeSearchAppended, ivfExactKnn,
    scalarFilteredIvfSearch,
    indexReconcileServe, ivfPartialProbe,
    ivfNprobeAutotune,
    ivfFilteredSearch,
    ivfBalanceReport, ivfAutoRewrite,
    ivfAutoRewriteSql, routedAutoSearch, routedAutoSearchBudget,
    routedGraphSearch, routedTextSearch, routedSparseSearch,
    routedSparseBulkSearch,
    ivfIncrementalSearch, multiStrategySearch,
    chapterParse, collectionRoundtrip, collectionTtlServe,
    collectionTtlReclaim, collectionTtlPlan, ttlIndexServe, ttlSyncPlan,
    ragContextLines, embedIngest,
    embedSessionIngest,
    keywordTextSearch, chunkTextSearch, questionAnswerPipeline,
    collectionUpsert, collectionSchemaEvolution, collectionDeleteExpr,
    lateInteractionMaxsim, graphAnnSearch, graphAnnBulk,
    graphAnnLayeredWalk, graphAnnLayeredBulk,
    graphAnnLayeredMaskedWalk, graphAnnMultilayerWalk,
    graphAnnMultilayerMaskedWalk, streamingLayeredIngest,
    graphAnnBulkRecall, graphAnnIncremental, graphAnnFiltered,
    graphAnnFilteredRecall, graphAnnFilteredAdaptive,
    scalarFilteredGraphWalk, scalarFilteredGraphRecall,
    graphAnnMultiEntry, graphAnnMultiEntryRecall,
    graphAnnFilteredMultiRecall, graphBeamAutotune,
    graphBeamAutotuneMulti, graphAnnPqWalk, graphAnnAsymWalk,
    hybridGraphRrf,
    graphAnnRange, streamingGraphIngest, collectionCompact,
    collectionIterate, collectionNullableDefaults, clusteringCompaction,
    collectionTimeTravel, collectionVersionDiff,
    collectionAliasSwap, collectionAliasList,
    collectionPointGet, collectionPartitionKey, collectionClone,
    indexIntegrityReport, deletedRowsMaskedSearch, indexCompactTombstones,
    graphAnnMaskedWalk, ivfBulkSearch, graphAnnMipsWalk,
    graphAnnCosineWalk, graphAnnCosineRecall,
    graphAnnMipsRecall, ivfRebalanceReport, ivfRebalanceSearch,
    streamingDeleteIngest, graphConsolidateDeletes,
    graphConsolidateEntryReelect, ivfUpsertSearch,
    ivfBulkUpsertSearch, graphAnnUpsertWalk, streamingIvfUpsertIngest,
    indexVersionReport, indexMaintenancePlan, indexAliasServe,
    graphAnnPrunedBuild, graphAnnPrunedRecall, servingPlanReport,
    servingPlanFiltered, servingPlanBudget, servingPlanText)
}
