package graft

import graft.QueryDsl._
import graft.core.Tables
import graft.functions.VectorFunctions
import graft.search.Knn
import org.apache.spark.sql.functions._

/** Vector-search operator coverage (SURVEY §2.3). */
object VectorQueries {
  /** V2: exact kNN top-k for one query vector. */
  private val knnExactTopK = Q(
    "knn_exact_topk",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      Knn.topK(e, "embedding", "vec_id", q, "qe", k = 5)
        .select("vec_id", "distance")
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id, %L2% AS distance
      FROM embeddings e, q
      ORDER BY distance ASC, e.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** V2→V6: full reference search pipeline — over-fetch 3k, score=1-d,
    * threshold on score, re-rank desc, truncate (src/app.py:240-274). */
  private val knnScoreThreshold = Q(
    "knn_score_threshold",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      Knn.searchPipeline(e, "embedding", "vec_id", q, "qe",
          k = 5, scoreThreshold = -0.5)
        .select("vec_id", "distance", "score")
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      d AS (SELECT e.vec_id, %L2% AS distance FROM embeddings e, q),
      ofetch AS (SELECT vec_id, distance FROM d
                 ORDER BY distance ASC, vec_id ASC LIMIT 15),
      scored AS (SELECT vec_id, distance, 1.0 - distance AS score FROM ofetch)
      SELECT vec_id, distance, score FROM scored
      WHERE score >= -0.5
      ORDER BY score DESC, vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** kNN join: per-query top-3 over a 10-vector query set (broadcast). */
  private val knnMultiQuery = Q(
    "knn_multi_query",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Knn.knnJoinLarge(e, "embedding", "vec_id", q, "qid", "qe", k = 3)
        .select("qid", "vec_id", "distance")
        .orderBy(col("qid").asc, col("distance").asc, col("vec_id").asc)
    },
    Some("""
      WITH q AS (SELECT vec_id AS qid, embedding AS qe
                 FROM embeddings WHERE vec_id < 10),
      d AS (SELECT q.qid, e.vec_id, %L2% AS distance FROM embeddings e, q),
      r AS (SELECT qid, vec_id, distance,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY distance, vec_id) AS rn
            FROM d)
      SELECT qid, vec_id, distance FROM r WHERE rn <= 3
      ORDER BY qid ASC, distance ASC, vec_id ASC
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Cosine-similarity top-k (similarity-search surface; north-star op). */
  private val nnCosineTopK = Q(
    "nn_cosine_topk",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      e.crossJoin(broadcast(q))
        .withColumn("cosine",
          round(VectorFunctions.cosineSim(col("embedding"), col("qe")), 4))
        .select("vec_id", "cosine")
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(10)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id, %COS% AS cosine
      FROM embeddings e, q
      ORDER BY cosine DESC, e.vec_id ASC LIMIT 10
    """.replace("%COS%", duckCosine("e.embedding", "q.qe"))))

  /** The typed Dataset[Knowledge] → Dataset[SearchHit] API edge, through
    * the same reference pipeline and oracle discipline. */
  private val typedSimilaritySearch = Q(
    "typed_similarity_search",
    (s, dir) => {
      import s.implicits._
      import graft.core.{Knowledge, TypedSearch}
      val e = Tables.embeddings(s, dir)
      val d = Tables.documents(s, dir)
      val coll = e.join(broadcast(d), e("vec_id") === d("doc_id"))
        .select(col("vec_id").as("id"), col("source").as("chapter"),
          substring(col("text"), 1, 30).as("content"),
          col("embedding").as("vector"))
        .as[Knowledge]
      val query = e.where(col("vec_id") === 0).select("embedding")
        .collect()(0).getSeq[Float](0)
      TypedSearch.similaritySearch(coll, query, k = 5, scoreThreshold = -0.5)
        .toDF()
        .orderBy(col("score").desc, col("id").asc)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      dd AS (SELECT e.vec_id AS id, source AS chapter,
                    substr(text, 1, 30) AS content, %L2% AS distance
             FROM embeddings e JOIN documents ON doc_id = e.vec_id, q),
      ofetch AS (SELECT * FROM dd ORDER BY distance ASC, id ASC LIMIT 15),
      sc AS (SELECT *, 1.0 - distance AS score FROM ofetch)
      SELECT id, chapter, content, distance, score FROM sc
      WHERE score >= -0.5
      ORDER BY score DESC, id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Int8 scalar quantization (SQ8) of the embeddings table: per-vector
    * scale, quantized checksum/nnz, and RMS reconstruction error — the
    * 4× storage cut a 100 TB vector corpus takes first. */
  private val embedQuantizeInt8 = Q(
    "embed_quantize_int8",
    (s, dir) => {
      import graft.search.Quantize
      val e = Tables.embeddings(s, dir)
      val sc = Quantize.scaleCol(col("embedding"))
      val q = Quantize.quantized(col("embedding"), sc)
      e.select(col("vec_id"),
        round(sc, 6).as("scale"),
        aggregate(q, lit(0L), (acc, x) => acc + x.cast("long")).as("q_sum"),
        size(filter(q, x => x =!= 0)).cast("long").as("nnz"),
        round(sqrt(Quantize.reconSqError(col("embedding"), q, sc)), 4)
          .as("recon_err"))
        .orderBy(col("vec_id").asc)
    },
    Some("""
      WITH s AS (SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE)))) AS mx
                 FROM embeddings),
      sc AS (SELECT vec_id, embedding,
               CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale
             FROM s),
      q AS (SELECT vec_id, embedding, scale,
              list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * scale, 0) AS INT)) AS qv
            FROM sc)
      SELECT vec_id, round(scale, 6) AS scale,
             CAST(list_sum(qv) AS BIGINT) AS q_sum,
             CAST(len(list_filter(qv, x -> x != 0)) AS BIGINT) AS nnz,
             round(sqrt(list_sum(list_transform(range(1, len(qv)+1),
               i -> (CAST(embedding[i] AS DOUBLE)
                      - CASE WHEN scale = 0 THEN 0.0
                             ELSE qv[i] / scale END) ^ 2))), 4) AS recon_err
      FROM q ORDER BY vec_id ASC
    """))

  /** Hybrid search: BM25 keyword top-20 + exact-kNN top-20, fused by
    * reciprocal rank (k=60), final top-10. Lexical and dense retrieval
    * are combined by RANK, never by raw incomparable scores. */
  private val hybridSearchRrf = Q(
    "hybrid_search_rrf",
    (s, dir) => {
      import graft.search.Bm25
      val docs = Tables.documents(s, dir)
      val e = Tables.embeddings(s, dir)
      val bm = Bm25.score(docs, "doc_id", "text",
        terms = Seq("scan", "filter", "merge"))
      val bmRanks = Bm25.topRanks(bm, "bm25", n = 20,
        ascending = false, rankCol = "bm25_rank")
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      val kd = e.crossJoin(broadcast(q))
        .select(col("vec_id").as("id"),
          round(VectorFunctions.l2Sq(col("embedding"), col("qe")), 4).as("d"))
      val knnRanks = Bm25.topRanks(kd, "d", n = 20,
        ascending = true, rankCol = "knn_rank")
      Bm25.rrfFuse(bmRanks, "bm25_rank", knnRanks, "knn_rank")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("rrf").desc, col("doc_id").asc)
        .limit(10)
    },
    Some("""
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
      kd AS (SELECT e.vec_id AS doc_id, %L2% AS d FROM embeddings e, q),
      knr AS (SELECT doc_id, CAST(row_number() OVER
                       (ORDER BY d ASC, doc_id ASC) AS BIGINT) AS knn_rank
              FROM (SELECT * FROM kd ORDER BY d ASC, doc_id ASC LIMIT 20))
      SELECT coalesce(bmr.doc_id, knr.doc_id) AS doc_id,
             round(coalesce(1.0 / (60 + bm25_rank), 0)
                 + coalesce(1.0 / (60 + knn_rank), 0), 6) AS rrf,
             bm25_rank, knn_rank
      FROM bmr FULL OUTER JOIN knr ON bmr.doc_id = knr.doc_id
      ORDER BY rrf DESC, doc_id ASC LIMIT 10
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** MULTI-VECTOR hybrid search (Milvus 2.4: one entity carrying
    * several vector fields, each searched in its own space, fused by a
    * WeightedRanker — the score-weighted sibling of
    * `hybrid_search_rrf`'s rank fusion): field A is the full 64-dim
    * embedding, field B its first-32-dim sub-vector (a coarse "view"
    * with genuinely different geometry — rankings disagree, so the
    * fusion does real work). Each field serves its own exact top-20 by
    * L2; distances map to similarities 1/(1+d) and fuse
    * 0.7·A + 0.3·B over the union (absent from a field's top-20 → 0
    * for that field, the WeightedRanker contract). The oracle replays
    * both rankings, the similarity map, and the weighted merge. */
  private val multiVectorHybridSearch = Q(
    "multi_vector_hybrid_search",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0)
        .select(col("embedding").as("qa"),
          slice(col("embedding"), 1, 32).as("qb"))
      val scored = e.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(VectorFunctions.l2Sq(col("embedding"), col("qa")), 4)
            .as("da"),
          round(VectorFunctions.l2Sq(
            slice(col("embedding"), 1, 32), col("qb")), 4).as("db"))
      // +1e-9 before every 6-decimal round: a similarity or fused score
      // landing exactly on a half would otherwise round by engine ulp
      // luck (sf0.1 caught one) — the repo-wide epsilon discipline
      val topA = scored.orderBy(col("da").asc, col("vec_id").asc)
        .limit(20)
        .select(col("vec_id"),
          round(lit(1.0) / (lit(1.0) + col("da")) + lit(1e-9), 6)
            .as("simA"))
      val topB = scored.orderBy(col("db").asc, col("vec_id").asc)
        .limit(20)
        .select(col("vec_id"),
          round(lit(1.0) / (lit(1.0) + col("db")) + lit(1e-9), 6)
            .as("simB"))
      topA.join(topB, Seq("vec_id"), "full_outer")
        .select(col("vec_id"),
          round(coalesce(col("simA"), lit(0.0)) * 0.7 +
            coalesce(col("simB"), lit(0.0)) * 0.3 + lit(1e-9), 6)
            .as("hybrid_score"))
        .orderBy(col("hybrid_score").desc, col("vec_id").asc)
        .limit(10)
    },
    Some("""
      WITH q AS (SELECT embedding AS qa FROM embeddings WHERE vec_id = 0),
      d AS (SELECT e.vec_id,
              round(list_sum(list_transform(range(1, 65),
                i -> (CAST(e.embedding[i] AS DOUBLE)
                      - CAST(q.qa[i] AS DOUBLE))^2)), 4) AS da,
              round(list_sum(list_transform(range(1, 33),
                i -> (CAST(e.embedding[i] AS DOUBLE)
                      - CAST(q.qa[i] AS DOUBLE))^2)), 4) AS db
            FROM embeddings e, q),
      ta AS (SELECT vec_id, round(1.0/(1.0+da) + 1e-9, 6) AS simA
             FROM (SELECT * FROM d ORDER BY da ASC, vec_id ASC LIMIT 20)),
      tb AS (SELECT vec_id, round(1.0/(1.0+db) + 1e-9, 6) AS simB
             FROM (SELECT * FROM d ORDER BY db ASC, vec_id ASC LIMIT 20))
      SELECT coalesce(ta.vec_id, tb.vec_id) AS vec_id,
             round(coalesce(simA, 0)*0.7 + coalesce(simB, 0)*0.3 + 1e-9, 6)
               AS hybrid_score
      FROM ta FULL OUTER JOIN tb ON ta.vec_id = tb.vec_id
      ORDER BY hybrid_score DESC, vec_id ASC LIMIT 10
    """))

  /** SQ8 two-stage search: approximate top-20 candidates from the int8
    * representation (materialized ONCE per JVM+sfDir — the stored form a
    * deployment scans; same build-once convention as the bucketed tables
    * and the IVF index, so timed repeats measure the search), exact
    * rerank to top-5 via the codegen dequant-L2 kernel. */
  private val sq8RerankSearch = Q(
    "sq8_rerank_search",
    (s, dir) => {
      import graft.search.Quantize
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      val qtab = graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_sq8_${math.abs(dir.hashCode)}") {
        Quantize.quantizedTable(e, "embedding", "vec_id")
      }
      Quantize.searchQuantized(qtab, e, "embedding",
        "vec_id", q, "qe", k = 5, margin = 4)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      sc AS (SELECT vec_id, embedding,
               CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale
             FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS mx
                   FROM embeddings)),
      qz AS (SELECT vec_id, embedding, scale,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * scale, 0) AS INT)) AS qv
             FROM sc),
      ap AS (SELECT vec_id,
               round(list_sum(list_transform(range(1, len(qv)+1),
                 i -> ((CASE WHEN scale = 0 THEN 0.0
                             ELSE qv[i] / scale END)
                       - CAST(qe[i] AS DOUBLE)) ^ 2)), 4) AS approx_distance
             FROM qz, q),
      cand AS (SELECT vec_id, approx_distance FROM ap
               ORDER BY approx_distance ASC, vec_id ASC LIMIT 20)
      SELECT c.vec_id, c.approx_distance, %L2% AS distance
      FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id, q
      ORDER BY distance ASC, c.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** SQ8 UPSERT — the quantized-artifact member of the upsert family
    * (IVF float path: versioned latest-wins; BM25: fold-then-append;
    * here: delete-then-insert with immediate fold on the CODES table):
    * the stored int8 representation was encoded from WRONG (reversed)
    * vectors for `vec_id % 10 = 1`; the upsert tombstones those ids,
    * [[graft.search.Tombstones.compact]]-folds the codes artifact, and
    * appends the re-encoded TRUE rows — per-row artifacts re-encode
    * independently (no trained state), so upsert is file-level surgery.
    * Serve = the standard two-stage scan over the artifact; the oracle
    * is `sq8_rerank_search`'s clean-build replay, so a skipped fold
    * (stale codes ranked), dropped append, or drifted scale
    * hash-mismatches. */
  private val sq8UpsertSearch = Q(
    "sq8_upsert_search",
    (s, dir) => {
      import graft.search.{Quantize, Tombstones}
      val e = Tables.embeddings(s, dir)
      val idx = s"/tmp/graft_sq8up_${math.abs(dir.hashCode)}"
      val codesDir = s"$idx/codes"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val corrupted = e.withColumn("embedding",
          when(col("vec_id") % 10 === 1, reverse(col("embedding")))
            .otherwise(col("embedding")))
        Quantize.quantizedTable(corrupted, "embedding", "vec_id")
          .write.mode("overwrite").parquet(codesDir)
        val replaced = e.where(col("vec_id") % 10 === 1)
        Tombstones.record(replaced.select("vec_id"), idx, "vec_id")
        Tombstones.compact(s, idx, codesDir, Seq("vec_id"))
        Tombstones.clear(s, idx)
        Quantize.quantizedTable(replaced, "embedding", "vec_id")
          .write.mode("append").parquet(codesDir)
      }
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      Quantize.searchQuantized(s.read.parquet(codesDir), e, "embedding",
        "vec_id", q, "qe", k = 5, margin = 4)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      sc AS (SELECT vec_id, embedding,
               CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale
             FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS mx
                   FROM embeddings)),
      qz AS (SELECT vec_id, embedding, scale,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * scale, 0) AS INT)) AS qv
             FROM sc),
      ap AS (SELECT vec_id,
               round(list_sum(list_transform(range(1, len(qv)+1),
                 i -> ((CASE WHEN scale = 0 THEN 0.0
                             ELSE qv[i] / scale END)
                       - CAST(qe[i] AS DOUBLE)) ^ 2)), 4) AS approx_distance
             FROM qz, q),
      cand AS (SELECT vec_id, approx_distance FROM ap
               ORDER BY approx_distance ASC, vec_id ASC LIMIT 20)
      SELECT c.vec_id, c.approx_distance, %L2% AS distance
      FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id, q
      ORDER BY distance ASC, c.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** IVF_SQ8 composed index — the remaining member of Milvus's IVF
    * family matrix (IVF_FLAT = `ivf_search`, IVF_PQ = `ivf_pq_search`,
    * IVF_SQ8 = this; the reference's essay names the family at
    * doc/milvus介绍.md:6,11): probe nprobe=4 of the 16 IVF cells, scan
    * ONLY the surviving clusters' rows in the int8 stored form (4×
    * smaller; dequantized-L2 codegen kernel), exact-rerank the top-20.
    * Composes the two existing artifacts — the shared IVF layout and
    * the shared SQ8 table — with zero new build machinery; the oracle
    * replays centroid probe → cluster restriction → quantization →
    * dequantized ranking → exact rerank end-to-end. At 100 TB the
    * probe prunes the scan to nprobe/nlist of a 4×-compressed table. */
  private val ivfSq8Search = Q(
    "ivf_sq8_search",
    (s, dir) => {
      import graft.search.{IvfIndex, Quantize}
      val e = Tables.embeddings(s, dir)
      val indexDir = s"/tmp/graft_ivf_${math.abs(dir.hashCode)}"
      val model =
        if (new java.io.File(IvfIndex.centroidsDir(indexDir)).exists())
          IvfIndex.load(s, indexDir)
        else IvfIndex.build(e, "embedding", indexDir, nlist = 16)
      val assign = IvfIndex.readDataMerged(s, indexDir)
        .select(col("vec_id"), col("cluster_id"))
      stageOracleOnceLazy(s, "ivfsq8", dir)(Seq(
        "centroids" -> s.read.parquet(IvfIndex.centroidsDir(indexDir)),
        "assign" -> assign))
      val sq8 = graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_sq8_${math.abs(dir.hashCode)}") {
        Quantize.quantizedTable(e, "embedding", "vec_id")
      }
      val query = e.where(col("vec_id") === 0).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
      val clusters = IvfIndex.probeClusters(model, query, 4)
      val sel = assign.where(col("cluster_id").isin(clusters: _*))
        .select("vec_id")
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      Quantize.searchQuantized(
        sq8.join(sel, Seq("vec_id"), "left_semi"),
        e, "embedding", "vec_id", q, "qe", k = 5, margin = 4)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      cent AS (SELECT cluster_id, centroid FROM read_parquet(
        '/tmp/graft_ivfsq8_oracle_%ORACLE_KEY%/centroids/*.parquet')),
      probe AS (SELECT cluster_id FROM (
          SELECT cluster_id,
                 row_number() OVER (ORDER BY
                   list_sum(list_transform(range(1, len(centroid)+1),
                     i -> (CAST(centroid[i] AS DOUBLE)
                           - CAST(qe.qe[i] AS DOUBLE))^2)) ASC,
                   cluster_id ASC) AS rn
          FROM cent, q qe) WHERE rn <= 4),
      a AS (SELECT vec_id, cluster_id FROM read_parquet(
        '/tmp/graft_ivfsq8_oracle_%ORACLE_KEY%/assign/*.parquet')),
      sel AS (SELECT a.vec_id FROM a JOIN probe USING (cluster_id)),
      sc AS (SELECT e.vec_id, e.embedding,
               CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale
             FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS mx
                   FROM embeddings) e JOIN sel USING (vec_id)),
      qz AS (SELECT vec_id, scale,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * scale, 0) AS INT)) AS qv
             FROM sc),
      ap AS (SELECT vec_id,
               round(list_sum(list_transform(range(1, len(qv)+1),
                 i -> ((CASE WHEN scale = 0 THEN 0.0
                             ELSE qv[i] / scale END)
                       - CAST(qe[i] AS DOUBLE)) ^ 2)), 4) AS approx_distance
             FROM qz, q),
      cand AS (SELECT vec_id, approx_distance FROM ap
               ORDER BY approx_distance ASC, vec_id ASC LIMIT 20)
      SELECT c.vec_id, c.approx_distance, %L2% AS distance
      FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id, q
      ORDER BY distance ASC, c.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Residual-quantized ADC search (see [[graft.search.Rq]]): two-level
    * additive codes — (c1, c2) pairs reconstructing as C1[c1] + C2[c2],
    * 1024 effective cells from 64 trained centroids — searched via ONE
    * flattened-table lookup per row and reranked exactly. The quantizer
    * SHAPE matrix is now complete: scalar (`sq8_rerank_search`), product
    * (`pq_adc_search`), additive/residual (this). Codebooks are staged;
    * the oracle replays both encoding argmins (level-1 vs the vector,
    * level-2 vs the double-precision residual), the additive ADC table,
    * the candidate cut, and the exact rerank. */
  private val rqAdcSearch = Q(
    "rq_adc_search",
    (s, dir) => {
      import graft.search.Rq
      val e = Tables.embeddings(s, dir)
      val rqDir = s"/tmp/graft_rq_${math.abs(dir.hashCode)}"
      val model =
        if (new java.io.File(Rq.codesDir(rqDir) + "/_SUCCESS").exists())
          Rq.load(s, rqDir)
        else Rq.build(e, "embedding", "vec_id", rqDir, maxIter = 20)
      stageOracleOnceLazy(s, "rq", dir)(Seq(
        "codebooks" -> s.read.parquet(Rq.codebooksDir(rqDir))))
      val query = e.where(col("vec_id") === 0).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
      Rq.adcSearch(s, model, e, "embedding", "vec_id", query,
        k = 5, margin = 4)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      cb1 AS (SELECT code, centroid FROM read_parquet(
        '/tmp/graft_rq_oracle_%ORACLE_KEY%/codebooks/*.parquet')
              WHERE level = 1),
      cb2 AS (SELECT code, centroid FROM read_parquet(
        '/tmp/graft_rq_oracle_%ORACLE_KEY%/codebooks/*.parquet')
              WHERE level = 2),
      e1 AS (SELECT vec_id, code AS c1 FROM (
          SELECT e.vec_id, c.code,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   list_sum(list_transform(range(1, len(e.embedding)+1),
                     i -> (CAST(e.embedding[i] AS DOUBLE)
                           - CAST(c.centroid[i] AS DOUBLE))^2)) ASC,
                   c.code ASC) AS rn
          FROM embeddings e CROSS JOIN cb1 c) WHERE rn = 1),
      e2 AS (SELECT vec_id, code AS c2 FROM (
          SELECT a.vec_id, c.code,
                 row_number() OVER (PARTITION BY a.vec_id ORDER BY
                   list_sum(list_transform(range(1, len(e.embedding)+1),
                     i -> ((CAST(e.embedding[i] AS DOUBLE)
                            - CAST(b1.centroid[i] AS DOUBLE))
                           - CAST(c.centroid[i] AS DOUBLE))^2)) ASC,
                   c.code ASC) AS rn
          FROM e1 a JOIN embeddings e USING (vec_id)
               JOIN cb1 b1 ON b1.code = a.c1
               CROSS JOIN cb2 c) WHERE rn = 1),
      codes AS (SELECT e1.vec_id, e1.c1, e2.c2
                FROM e1 JOIN e2 USING (vec_id)),
      lut AS (SELECT b1.code AS c1, b2.code AS c2,
                round(list_sum(list_transform(range(1, len(q.qe)+1),
                  i -> ((CAST(q.qe[i] AS DOUBLE)
                         - CAST(b1.centroid[i] AS DOUBLE))
                        - CAST(b2.centroid[i] AS DOUBLE))^2)), 4)
                  AS approx_distance
              FROM cb1 b1 CROSS JOIN cb2 b2, q),
      cand AS (SELECT codes.vec_id, lut.approx_distance
               FROM codes JOIN lut USING (c1, c2)
               ORDER BY approx_distance ASC, vec_id ASC LIMIT 20)
      SELECT c.vec_id, c.approx_distance, %L2% AS distance
      FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id, q
      ORDER BY distance ASC, c.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Norm-pruned EXACT search — the triangle inequality as a zone map
    * (the norm-bound pruning of FEXIPRO, Li et al. SIGMOD 2017, and
    * Faiss's exact-search norm filters): ‖x−q‖² ≥ (‖x‖−‖q‖)², so once
    * any k distances bound the k-th-nearest by τ, every vector with
    * ‖x‖ outside [‖q‖−√τ, ‖q‖+√τ] is provably not in the top-k. The
    * stored form is the corpus range-partitioned and sorted by a norm
    * column (the `sorted_scan_prune` layout derived from vector
    * geometry); phase 1 seeds τ with the k nearest-BY-NORM rows (a
    * top-k on the sort key), phase 2 scans only the τ-band — a pushed
    * range filter on `norm` that at 100 TB becomes parquet row-group
    * skipping. EXACT top-k guaranteed (the band is a superset; a small
    * slack absorbs the 4-decimal norm rounding), unlike every ANN tier
    * — this is the scan-pruning path for when recall must be 1.0.
    * The oracle replays norms, the seed, τ, the band cut and the final
    * ranking. NOTE: the fixture's embeddings are unit-normalized, so
    * here every norm is 1.0 and the band degenerates to the full corpus
    * — the operator's domain is norm-BEARING embeddings (IP-metric /
    * popularity-scaled); KnnSpec proves the actual pruning (strict
    * subset scanned, result still exactly the brute-force top-k) on a
    * norm-varying corpus. */
  private val normPrunedSearch = Q(
    "norm_pruned_search",
    (s, dir) => {
      import graft.search.NormPrune
      val e = Tables.embeddings(s, dir)
      val tab = graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_normtab_${math.abs(dir.hashCode)}") {
        NormPrune.normTable(e, "vec_id", "embedding")
      }
      val qe = e.where(col("vec_id") === 0).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
      NormPrune.search(tab, "vec_id", "embedding", qe, k = 5)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      qn AS (SELECT round(sqrt(list_sum(list_transform(qe,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS n
             FROM q),
      tab AS (SELECT vec_id, embedding,
                round(sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS norm
              FROM embeddings),
      seed AS (SELECT t.vec_id, t.embedding FROM tab t, qn
               ORDER BY abs(t.norm - qn.n) ASC, t.vec_id ASC LIMIT 5),
      tau AS (SELECT max(%L2SEED%) AS t FROM seed s, q),
      band AS (SELECT t.vec_id, t.norm, t.embedding FROM tab t, qn, tau
               WHERE t.norm >= qn.n - sqrt(tau.t + 0.00005) - 0.0002
                 AND t.norm <= qn.n + sqrt(tau.t + 0.00005) + 0.0002)
      SELECT b.vec_id, b.norm, %L2BAND% AS distance
      FROM band b, q
      ORDER BY distance ASC, b.vec_id ASC LIMIT 5
    """.replace("%L2SEED%", duckL2("s.embedding", "q.qe"))
       .replace("%L2BAND%", duckL2("b.embedding", "q.qe"))))

  /** IVF ∘ asymmetric-binary — the IVF_RABITQ composition (Milvus 2.6
    * ships exactly this pairing; Gao & Long SIGMOD 2024 §6 evaluates
    * IVF+RaBitQ): probe nprobe=4 of the 16 IVF cells, rank ONLY the
    * surviving clusters' rows in the 20-byte packed-sign form by the
    * asymmetric estimator, exact-rerank the top-20. Multiplies the two
    * reductions — nprobe/nlist of the corpus × 12× fewer bytes per
    * row — with zero new build machinery (shared IVF layout + shared
    * packed-signature artifact). Oracle replays probe → restriction →
    * rotation → packing → estimator → cut → rerank. */
  private val ivfAsymBinarySearch = Q(
    "ivf_asym_binary_search",
    (s, dir) => {
      import graft.search.{BinaryVec, IvfIndex, Rotation}
      val e = Tables.embeddings(s, dir)
      val rows = binRotationArtifact(s, dir)
      val indexDir = s"/tmp/graft_ivf_${math.abs(dir.hashCode)}"
      val model =
        if (new java.io.File(IvfIndex.centroidsDir(indexDir)).exists())
          IvfIndex.load(s, indexDir)
        else IvfIndex.build(e, "embedding", indexDir, nlist = 16)
      val assign = IvfIndex.readDataMerged(s, indexDir)
        .select(col("vec_id"), col("cluster_id"))
      stageOracleOnceLazy(s, "ivfasym", dir)(Seq(
        "centroids" -> s.read.parquet(IvfIndex.centroidsDir(indexDir)),
        "assign" -> assign))
      val packed = graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_asymsig_${math.abs(dir.hashCode)}") {
        asymPack(e, rows)
      }
      val qe = e.where(col("vec_id") === 0).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
      val clusters = IvfIndex.probeClusters(model, qe, 4)
      val sel = assign.where(col("cluster_id").isin(clusters: _*))
        .select("vec_id")
      val qr = Rotation.projectRow(qe, rows)
      val qn = math.sqrt(qr.map(v => v.toDouble * v.toDouble).sum)
      require(qn > 0, "query vector must be non-zero")
      val qhat = qr.map(_.toDouble / qn)
      val stage1 = packed.join(sel, Seq("vec_id"), "left_semi")
        .withColumn("est", BinaryVec.asymCosScore(
          Seq(col("w0"), col("w1")), qhat, col("cx")))
        .orderBy(col("est").desc, col("vec_id").asc)
        .limit(20)
      broadcast(stage1.select("vec_id", "est"))
        .join(e, Seq("vec_id"))
        .withColumn("cosine", round(VectorFunctions.cosineSim(
          col("embedding"), typedlit(qe.toSeq)), 4))
        .select("vec_id", "est", "cosine")
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(5)
    },
    Some(s"""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      cent AS (SELECT cluster_id, centroid FROM read_parquet(
        '/tmp/graft_ivfasym_oracle_%ORACLE_KEY%/centroids/*.parquet')),
      probe AS (SELECT cluster_id FROM (
          SELECT cluster_id,
                 row_number() OVER (ORDER BY
                   list_sum(list_transform(range(1, len(centroid)+1),
                     i -> (CAST(centroid[i] AS DOUBLE)
                           - CAST(qe.qe[i] AS DOUBLE))^2)) ASC,
                   cluster_id ASC) AS rn
          FROM cent, q qe) WHERE rn <= 4),
      a AS (SELECT vec_id, cluster_id FROM read_parquet(
        '/tmp/graft_ivfasym_oracle_%ORACLE_KEY%/assign/*.parquet')),
      sel AS (SELECT a.vec_id FROM a JOIN probe USING (cluster_id)),
      rot AS (SELECT component, weights FROM read_parquet(
        '/tmp/graft_binrot_oracle_%ORACLE_KEY%/rotation/*.parquet')),
      proj AS (SELECT e.vec_id, r.component, ${duckProj("e.embedding")} AS p
               FROM embeddings e, rot r),
      pv AS (SELECT vec_id, list(p ORDER BY component) AS v
             FROM proj GROUP BY vec_id),
      qpr AS (SELECT v AS qv FROM pv WHERE vec_id = 0),
      qn AS (SELECT sqrt(list_sum(list_transform(qv,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n FROM qpr),
      cxs AS (SELECT vec_id, CAST(round(CASE WHEN l2 = 0 THEN 0.0
                ELSE l1 / (8 * l2) END, 4) AS REAL) AS cx
              FROM (SELECT vec_id,
                      list_sum(list_transform(v,
                        x -> abs(CAST(x AS DOUBLE)))) AS l1,
                      sqrt(list_sum(list_transform(v,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
                    FROM pv)),
      est AS (SELECT pv.vec_id,
                round(CASE WHEN cxs.cx = 0 THEN 0.0 ELSE
                  (2 * list_sum(list_transform(range(1, len(pv.v)+1),
                     i -> CASE WHEN pv.v[i] >= 0
                          THEN CAST(qpr.qv[i] AS DOUBLE) / qn.n
                          ELSE 0.0 END))
                   - list_sum(list_transform(qpr.qv,
                       x -> CAST(x AS DOUBLE) / qn.n)))
                  / (8 * CAST(cxs.cx AS DOUBLE)) END, 4) AS est
              FROM pv JOIN cxs USING (vec_id) JOIN sel USING (vec_id),
                   qpr, qn),
      cand AS (SELECT vec_id, est FROM est
               ORDER BY est DESC, vec_id ASC LIMIT 20)
      SELECT c.vec_id, c.est,
             ${duckCosine("e.embedding", "qq.qe")} AS cosine
      FROM cand c JOIN embeddings e USING (vec_id),
           (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) qq
      ORDER BY cosine DESC, c.vec_id ASC LIMIT 5
    """))

  /** IVF ∘ RQ — Faiss's IVF-ResidualQuantizer composition, closing the
    * quantizer-composition matrix: every compressed form in the repo
    * (SQ8 → `ivf_sq8_search`, PQ → `ivf_pq_search`, packed-sign →
    * `ivf_asym_binary_search`, additive RQ → this) now serves behind
    * the same nprobe-pruned coarse layout. Probe 4 of 16 cells,
    * one-lookup ADC over the surviving clusters' 2-code rows, exact
    * rerank. Oracle replays probe → restriction → both encoding
    * argmins → additive LUT → cut → rerank. */
  private val ivfRqSearch = Q(
    "ivf_rq_search",
    (s, dir) => {
      import graft.search.{IvfIndex, Rq}
      val e = Tables.embeddings(s, dir)
      val indexDir = s"/tmp/graft_ivf_${math.abs(dir.hashCode)}"
      val model =
        if (new java.io.File(IvfIndex.centroidsDir(indexDir)).exists())
          IvfIndex.load(s, indexDir)
        else IvfIndex.build(e, "embedding", indexDir, nlist = 16)
      val assign = IvfIndex.readDataMerged(s, indexDir)
        .select(col("vec_id"), col("cluster_id"))
      val rqDir = s"/tmp/graft_rq_${math.abs(dir.hashCode)}"
      val rq =
        if (new java.io.File(Rq.codesDir(rqDir) + "/_SUCCESS").exists())
          Rq.load(s, rqDir)
        else Rq.build(e, "embedding", "vec_id", rqDir, maxIter = 20)
      stageOracleOnceLazy(s, "ivfrq", dir)(Seq(
        "centroids" -> s.read.parquet(IvfIndex.centroidsDir(indexDir)),
        "assign" -> assign,
        "codebooks" -> s.read.parquet(Rq.codebooksDir(rqDir))))
      val qe = e.where(col("vec_id") === 0).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
      val clusters = IvfIndex.probeClusters(model, qe, 4)
      val sel = assign.where(col("cluster_id").isin(clusters: _*))
        .select("vec_id")
      val cand = s.read.parquet(Rq.codesDir(rqDir))
        .join(sel, Seq("vec_id"), "left_semi")
        .withColumn("approx_distance", Rq.adcExpr(rq, qe))
        .orderBy(col("approx_distance").asc, col("vec_id").asc)
        .limit(20)
        .select(col("vec_id"), col("approx_distance"))
      broadcast(cand)
        .join(e, Seq("vec_id"))
        .withColumn("distance", round(VectorFunctions.l2Sq(
          col("embedding"), typedlit(qe.toSeq)), 4))
        .select("vec_id", "approx_distance", "distance")
        .orderBy(col("distance").asc, col("vec_id").asc)
        .limit(5)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      cent AS (SELECT cluster_id, centroid FROM read_parquet(
        '/tmp/graft_ivfrq_oracle_%ORACLE_KEY%/centroids/*.parquet')),
      probe AS (SELECT cluster_id FROM (
          SELECT cluster_id,
                 row_number() OVER (ORDER BY
                   list_sum(list_transform(range(1, len(centroid)+1),
                     i -> (CAST(centroid[i] AS DOUBLE)
                           - CAST(qe.qe[i] AS DOUBLE))^2)) ASC,
                   cluster_id ASC) AS rn
          FROM cent, q qe) WHERE rn <= 4),
      a AS (SELECT vec_id, cluster_id FROM read_parquet(
        '/tmp/graft_ivfrq_oracle_%ORACLE_KEY%/assign/*.parquet')),
      sel AS (SELECT a.vec_id FROM a JOIN probe USING (cluster_id)),
      cb1 AS (SELECT code, centroid FROM read_parquet(
        '/tmp/graft_ivfrq_oracle_%ORACLE_KEY%/codebooks/*.parquet')
              WHERE level = 1),
      cb2 AS (SELECT code, centroid FROM read_parquet(
        '/tmp/graft_ivfrq_oracle_%ORACLE_KEY%/codebooks/*.parquet')
              WHERE level = 2),
      e1 AS (SELECT vec_id, code AS c1 FROM (
          SELECT e.vec_id, c.code,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   list_sum(list_transform(range(1, len(e.embedding)+1),
                     i -> (CAST(e.embedding[i] AS DOUBLE)
                           - CAST(c.centroid[i] AS DOUBLE))^2)) ASC,
                   c.code ASC) AS rn
          FROM embeddings e CROSS JOIN cb1 c) WHERE rn = 1),
      e2 AS (SELECT vec_id, code AS c2 FROM (
          SELECT a.vec_id, c.code,
                 row_number() OVER (PARTITION BY a.vec_id ORDER BY
                   list_sum(list_transform(range(1, len(e.embedding)+1),
                     i -> ((CAST(e.embedding[i] AS DOUBLE)
                            - CAST(b1.centroid[i] AS DOUBLE))
                           - CAST(c.centroid[i] AS DOUBLE))^2)) ASC,
                   c.code ASC) AS rn
          FROM e1 a JOIN embeddings e USING (vec_id)
               JOIN cb1 b1 ON b1.code = a.c1
               CROSS JOIN cb2 c) WHERE rn = 1),
      codes AS (SELECT e1.vec_id, e1.c1, e2.c2
                FROM e1 JOIN e2 USING (vec_id)),
      lut AS (SELECT b1.code AS c1, b2.code AS c2,
                round(list_sum(list_transform(range(1, len(q.qe)+1),
                  i -> ((CAST(q.qe[i] AS DOUBLE)
                         - CAST(b1.centroid[i] AS DOUBLE))
                        - CAST(b2.centroid[i] AS DOUBLE))^2)), 4)
                  AS approx_distance
              FROM cb1 b1 CROSS JOIN cb2 b2, q),
      cand AS (SELECT c.vec_id, lut.approx_distance
               FROM codes c JOIN sel USING (vec_id)
                    JOIN lut USING (c1, c2)
               ORDER BY approx_distance ASC, c.vec_id ASC LIMIT 20)
      SELECT c.vec_id, c.approx_distance, %L2% AS distance
      FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id, q
      ORDER BY distance ASC, c.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Quantizer reconstruction-error panel — the memory-vs-distortion
    * trade across all three compressed forms, measured on the same
    * corpus from the same staged artifacts (the numbers a deployment
    * uses to pick a tier): per-row squared reconstruction error
    * ‖x − x̂‖², averaged, next to the stored bytes/vector. SQ8
    * reconstructs q/scale (68 B), PQ concatenates its 8 subspace
    * centroids (8 B), RQ sums its two level centroids (2 B). Every
    * reconstruction replays from the staged scale/codebook artifacts in
    * both engines — the panel itself is hash-checked. */
  private val quantizerErrorReport = Q(
    "quantizer_error_report",
    (s, dir) => {
      import graft.search.{Pq, Quantize, Rq}
      val e = Tables.embeddings(s, dir)
      val pqDir = s"/tmp/graft_pq_${math.abs(dir.hashCode)}"
      val rqDir = s"/tmp/graft_rq_${math.abs(dir.hashCode)}"
      val pq =
        if (new java.io.File(Pq.codesDir(pqDir) + "/_SUCCESS").exists())
          Pq.load(s, pqDir)
        else Pq.build(e, "embedding", "vec_id", pqDir)
      val rq =
        if (new java.io.File(Rq.codesDir(rqDir) + "/_SUCCESS").exists())
          Rq.load(s, rqDir)
        else Rq.build(e, "embedding", "vec_id", rqDir, maxIter = 20)
      stageOracleOnceLazy(s, "pq", dir)(Seq(
        "codebooks" -> s.read.parquet(Pq.codebooksDir(pqDir))))
      stageOracleOnceLazy(s, "rq", dir)(Seq(
        "codebooks" -> s.read.parquet(Rq.codebooksDir(rqDir))))
      // SQ8: per-row dequantized error (scale + int8 recomputed in-plan,
      // exactly the sq8_rerank_search arithmetic)
      val scale = Quantize.scaleCol(col("embedding"))
      val sq8Err = e.select(Quantize.reconSqError(col("embedding"),
          Quantize.quantized(col("embedding"), scale), scale).as("err"))
        .agg(round(avg(col("err")), 4).as("mse"))
      // PQ: codes → concat of subspace centroids; error = Σ_sub
      // ‖slice − centroid‖² (slot-order double, the encode arithmetic)
      val pqErr = s.read.parquet(Pq.codesDir(pqDir))
        .join(e, Seq("vec_id"))
        .select((0 until pq.m).map { sub =>
          val sl = slice(col("embedding"), sub * pq.dsub + 1, pq.dsub)
          val cb = typedlit(pq.codebooks(sub).map(_.toSeq).toSeq)
          aggregate(zip_with(sl,
              element_at(cb, element_at(col("codes"), sub + 1) + 1),
              (x, y) => {
                val d = x.cast("double") - y.cast("double")
                d * d
              }), lit(0.0), (acc, v) => acc + v).as(s"e$sub")
        }: _*)
        .select((0 until pq.m).map(sub => col(s"e$sub")).reduce(_ + _)
          .as("err"))
        .agg(round(avg(col("err")), 4).as("mse"))
      // RQ: error = Σ_i ((x_i − c1_i) − c2_i)²
      val cb1Lit = typedlit(rq.cb1.map(_.toSeq).toSeq)
      val cb2Lit = typedlit(rq.cb2.map(_.toSeq).toSeq)
      val rqErr = s.read.parquet(Rq.codesDir(rqDir))
        .join(e, Seq("vec_id"))
        .select(aggregate(
          zip_with(
            zip_with(col("embedding"), element_at(cb1Lit, col("c1") + 1),
              (x, y) => x.cast("double") - y.cast("double")),
            element_at(cb2Lit, col("c2") + 1),
            (r, z) => {
              val d = r - z.cast("double")
              d * d
            }), lit(0.0), (acc, v) => acc + v).as("err"))
        .agg(round(avg(col("err")), 4).as("mse"))
      def row(scheme: String, bytes: Int,
              df: org.apache.spark.sql.DataFrame) =
        df.select(lit(scheme).as("scheme"),
          lit(bytes).cast("long").as("bytes_per_vec"), col("mse"))
      row("pq8x16", 8, pqErr)
        .unionAll(row("rq32x32", 2, rqErr))
        .unionAll(row("sq8", 68, sq8Err))
        .orderBy(col("scheme").asc)
    },
    Some(s"""
      WITH cbp AS (SELECT * FROM read_parquet(
        '/tmp/graft_pq_oracle_%ORACLE_KEY%/codebooks/*.parquet')),
      cb1 AS (SELECT code, centroid FROM read_parquet(
        '/tmp/graft_rq_oracle_%ORACLE_KEY%/codebooks/*.parquet')
              WHERE level = 1),
      cb2 AS (SELECT code, centroid FROM read_parquet(
        '/tmp/graft_rq_oracle_%ORACLE_KEY%/codebooks/*.parquet')
              WHERE level = 2),
      sc AS (SELECT vec_id, embedding,
               CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale
             FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS mx
                   FROM embeddings)),
      sq8e AS (SELECT avg(err) AS mse FROM (
          SELECT list_sum(list_transform(range(1, len(embedding)+1),
            i -> (CAST(embedding[i] AS DOUBLE)
                  - (CASE WHEN scale = 0 THEN 0.0
                     ELSE CAST(round(CAST(embedding[i] AS DOUBLE) * scale,
                               0) AS INT) / scale END))^2)) AS err
          FROM sc)),
      encp AS (SELECT vec_id, sub, code FROM (
          SELECT e.vec_id, cbp.sub, cbp.code,
                 row_number() OVER (PARTITION BY e.vec_id, cbp.sub ORDER BY
                   list_sum(list_transform(range(1, 9),
                     i -> (CAST(e.embedding[cbp.sub*8 + i] AS DOUBLE)
                           - CAST(cbp.centroid[i] AS DOUBLE))^2)) ASC,
                   cbp.code ASC) AS rn
          FROM embeddings e CROSS JOIN cbp) WHERE rn = 1),
      pqe AS (SELECT avg(err) AS mse FROM (
          SELECT en.vec_id, sum(
            list_sum(list_transform(range(1, 9),
              i -> (CAST(e.embedding[en.sub*8 + i] AS DOUBLE)
                    - CAST(cb.centroid[i] AS DOUBLE))^2))) AS err
          FROM encp en JOIN embeddings e USING (vec_id)
               JOIN cbp cb ON cb.sub = en.sub AND cb.code = en.code
          GROUP BY en.vec_id)),
      e1 AS (SELECT vec_id, code AS c1 FROM (
          SELECT e.vec_id, c.code,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   list_sum(list_transform(range(1, len(e.embedding)+1),
                     i -> (CAST(e.embedding[i] AS DOUBLE)
                           - CAST(c.centroid[i] AS DOUBLE))^2)) ASC,
                   c.code ASC) AS rn
          FROM embeddings e CROSS JOIN cb1 c) WHERE rn = 1),
      e2 AS (SELECT vec_id, code AS c2 FROM (
          SELECT a.vec_id, c.code,
                 row_number() OVER (PARTITION BY a.vec_id ORDER BY
                   list_sum(list_transform(range(1, len(e.embedding)+1),
                     i -> ((CAST(e.embedding[i] AS DOUBLE)
                            - CAST(b1.centroid[i] AS DOUBLE))
                           - CAST(c.centroid[i] AS DOUBLE))^2)) ASC,
                   c.code ASC) AS rn
          FROM e1 a JOIN embeddings e USING (vec_id)
               JOIN cb1 b1 ON b1.code = a.c1
               CROSS JOIN cb2 c) WHERE rn = 1),
      rqe AS (SELECT avg(err) AS mse FROM (
          SELECT list_sum(list_transform(range(1, len(e.embedding)+1),
            i -> ((CAST(e.embedding[i] AS DOUBLE)
                   - CAST(b1.centroid[i] AS DOUBLE))
                  - CAST(b2.centroid[i] AS DOUBLE))^2)) AS err
          FROM e1 JOIN e2 USING (vec_id)
               JOIN embeddings e USING (vec_id)
               JOIN cb1 b1 ON b1.code = e1.c1
               JOIN cb2 b2 ON b2.code = e2.c2))
      SELECT scheme, bytes_per_vec, round(mse, 4) AS mse FROM (
        SELECT 'pq8x16' AS scheme, CAST(8 AS BIGINT) AS bytes_per_vec,
               mse FROM pqe
        UNION ALL
        SELECT 'rq32x32', CAST(2 AS BIGINT), mse FROM rqe
        UNION ALL
        SELECT 'sq8', CAST(68 AS BIGINT), mse FROM sq8e) u
      ORDER BY scheme ASC
    """))

  /** RQ-vs-PQ candidate recall over FOUR query vectors: recall@20 of
    * the exact L2 top-5 for the additive two-code tier vs the 8-code
    * product tier — the honest compression-vs-recall trade
    * (`opq_recall_report` discipline: the measurement itself — both
    * encodings, both lookup tables, both rankings, the exact baseline —
    * is hash-checked). RQ stores 4× less than PQ (2 codes vs 8); this
    * row is what that costs in candidate recall on this corpus. */
  private val rqRecallReport = Q(
    "rq_recall_report",
    (s, dir) => {
      import graft.search.{Pq, Rq}
      val e = Tables.embeddings(s, dir)
      val pqDir = s"/tmp/graft_pq_${math.abs(dir.hashCode)}"
      val rqDir = s"/tmp/graft_rq_${math.abs(dir.hashCode)}"
      val pq =
        if (new java.io.File(Pq.codesDir(pqDir) + "/_SUCCESS").exists())
          Pq.load(s, pqDir)
        else Pq.build(e, "embedding", "vec_id", pqDir)
      val rq =
        if (new java.io.File(Rq.codesDir(rqDir) + "/_SUCCESS").exists())
          Rq.load(s, rqDir)
        else Rq.build(e, "embedding", "vec_id", rqDir, maxIter = 20)
      stageOracleOnceLazy(s, "pq", dir)(Seq(
        "codebooks" -> s.read.parquet(Pq.codebooksDir(pqDir))))
      stageOracleOnceLazy(s, "rq", dir)(Seq(
        "codebooks" -> s.read.parquet(Rq.codebooksDir(rqDir))))
      val qids = Seq(0L, 7L, 13L, 21L)
      val qmap = e.where(col("vec_id").isin(qids: _*))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      def candUnion(f: Array[Float] => org.apache.spark.sql.DataFrame) =
        qids.map { qid =>
          f(qmap(qid)).select(lit(qid).as("qid"), col("vec_id"))
        }.reduce(_ unionAll _)
      val qsDf = e.where(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      import org.apache.spark.sql.expressions.Window
      val exact = e.crossJoin(broadcast(qsDf))
        .select(col("qid"), col("vec_id"),
          round(VectorFunctions.l2Sq(col("embedding"), col("qv")), 4)
            .as("d"))
        .withColumn("__rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("d").asc, col("vec_id").asc)))
        .where(col("__rn") <= 5).select("qid", "vec_id")
      def recallRow(method: String,
                    cand: org.apache.spark.sql.DataFrame) =
        exact.join(cand.withColumn("hit", lit(1)),
            Seq("qid", "vec_id"), "left")
          .agg(round(count(col("hit")) / (5.0 * qids.size), 4).as("recall"))
          .select(lit(method).as("method"),
            lit(qids.size).cast("long").as("n_queries"), col("recall"))
      recallRow("pq_adc20", candUnion(q =>
          Pq.adcCandidates(s, pq, "vec_id", q, 20)))
        .unionAll(recallRow("rq_adc20", candUnion(q =>
          Rq.adcCandidates(s, rq, "vec_id", q, 20))))
        .orderBy(col("method").asc)
    },
    Some(s"""
      WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                  WHERE vec_id IN (0, 7, 13, 21)),
      cbp AS (SELECT * FROM read_parquet(
        '/tmp/graft_pq_oracle_%ORACLE_KEY%/codebooks/*.parquet')),
      cb1 AS (SELECT code, centroid FROM read_parquet(
        '/tmp/graft_rq_oracle_%ORACLE_KEY%/codebooks/*.parquet')
              WHERE level = 1),
      cb2 AS (SELECT code, centroid FROM read_parquet(
        '/tmp/graft_rq_oracle_%ORACLE_KEY%/codebooks/*.parquet')
              WHERE level = 2),
      encp AS (SELECT vec_id, sub, code FROM (
          SELECT e.vec_id, cbp.sub, cbp.code,
                 row_number() OVER (PARTITION BY e.vec_id, cbp.sub ORDER BY
                   list_sum(list_transform(range(1, 9),
                     i -> (CAST(e.embedding[cbp.sub*8 + i] AS DOUBLE)
                           - CAST(cbp.centroid[i] AS DOUBLE))^2)) ASC,
                   cbp.code ASC) AS rn
          FROM embeddings e CROSS JOIN cbp) WHERE rn = 1),
      e1 AS (SELECT vec_id, code AS c1 FROM (
          SELECT e.vec_id, c.code,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   list_sum(list_transform(range(1, len(e.embedding)+1),
                     i -> (CAST(e.embedding[i] AS DOUBLE)
                           - CAST(c.centroid[i] AS DOUBLE))^2)) ASC,
                   c.code ASC) AS rn
          FROM embeddings e CROSS JOIN cb1 c) WHERE rn = 1),
      e2 AS (SELECT vec_id, code AS c2 FROM (
          SELECT a.vec_id, c.code,
                 row_number() OVER (PARTITION BY a.vec_id ORDER BY
                   list_sum(list_transform(range(1, len(e.embedding)+1),
                     i -> ((CAST(e.embedding[i] AS DOUBLE)
                            - CAST(b1.centroid[i] AS DOUBLE))
                           - CAST(c.centroid[i] AS DOUBLE))^2)) ASC,
                   c.code ASC) AS rn
          FROM e1 a JOIN embeddings e USING (vec_id)
               JOIN cb1 b1 ON b1.code = a.c1
               CROSS JOIN cb2 c) WHERE rn = 1),
      rcodes AS (SELECT e1.vec_id, e1.c1, e2.c2
                 FROM e1 JOIN e2 USING (vec_id)),
      lutp AS (SELECT qs.qid, cbp.sub, cbp.code,
                     list_sum(list_transform(range(1, 9),
                       i -> (CAST(qs.qv[cbp.sub*8 + i] AS DOUBLE)
                             - CAST(cbp.centroid[i] AS DOUBLE))^2)) AS d
              FROM cbp CROSS JOIN qs),
      lutr AS (SELECT qs.qid, b1.code AS c1, b2.code AS c2,
                round(list_sum(list_transform(range(1, len(qs.qv)+1),
                  i -> ((CAST(qs.qv[i] AS DOUBLE)
                         - CAST(b1.centroid[i] AS DOUBLE))
                        - CAST(b2.centroid[i] AS DOUBLE))^2)), 4) AS d
              FROM cb1 b1 CROSS JOIN cb2 b2, qs),
      candp AS (SELECT qid, vec_id FROM (
          SELECT l.qid, e.vec_id, row_number() OVER (PARTITION BY l.qid
              ORDER BY round(sum(l.d), 4) ASC, e.vec_id ASC) AS rn
          FROM encp e JOIN lutp l USING (sub, code)
          GROUP BY l.qid, e.vec_id) t WHERE rn <= 20),
      candr AS (SELECT qid, vec_id FROM (
          SELECT l.qid, c.vec_id, row_number() OVER (PARTITION BY l.qid
              ORDER BY l.d ASC, c.vec_id ASC) AS rn
          FROM rcodes c JOIN lutr l USING (c1, c2)) t WHERE rn <= 20),
      ex AS (SELECT qid, vec_id FROM (
          SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
              ORDER BY ${duckL2("e.embedding", "q.qv")} ASC,
                       e.vec_id ASC) AS rn
          FROM embeddings e, qs q) t WHERE rn <= 5)
      SELECT method, CAST(4 AS BIGINT) AS n_queries, recall FROM (
        SELECT 'pq_adc20' AS method,
               round(count(c.vec_id) / 20.0, 4) AS recall
        FROM ex e LEFT JOIN candp c
          ON c.qid = e.qid AND c.vec_id = e.vec_id
        UNION ALL
        SELECT 'rq_adc20' AS method,
               round(count(c.vec_id) / 20.0, 4) AS recall
        FROM ex e LEFT JOIN candr c
          ON c.qid = e.qid AND c.vec_id = e.vec_id) u
      ORDER BY method ASC
    """))

  /** MIPS norm-pruned EXACT search — the Cauchy–Schwarz cut for
    * maximum-inner-product retrieval (FEXIPRO, Li et al. SIGMOD 2017;
    * LEMP, Teflioudi et al. SIGMOD 2015 — the recommender-serving
    * workload where norms ARE the signal): ip(x,q) ≤ ‖x‖·‖q‖, so once
    * the k largest-norm rows' real inner products bound the k-th-best
    * by τ, every row with ‖x‖ < τ/‖q‖ is provably out. On the
    * norm-SORTED stored layout the cut is a ONE-SIDED pushed range
    * filter (row groups of small-norm vectors skip entirely), the
    * seeds are just the top of the sort order, and the result is exact
    * — the deflation/slack discipline of `norm_pruned_search` applied
    * to the upper-bound direction. Degenerate on this unit-norm
    * fixture (τ ≤ 0 ⇒ vacuous cut, correct full scan); KnnSpec proves
    * real pruning + brute-force equality on a norm-varying corpus. */
  private val mipsNormPrunedSearch = Q(
    "mips_norm_pruned_search",
    (s, dir) => {
      import graft.search.NormPrune
      val e = Tables.embeddings(s, dir)
      val tab = graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_normtab_${math.abs(dir.hashCode)}") {
        NormPrune.normTable(e, "vec_id", "embedding")
      }
      val qe = e.where(col("vec_id") === 0).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
      NormPrune.mipsSearch(tab, "vec_id", "embedding", qe, k = 5)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      tab AS (SELECT vec_id, embedding,
                round(sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS norm
              FROM embeddings),
      seeds AS (SELECT round(list_sum(list_transform(
                  range(1, len(t.embedding)+1),
                  i -> CAST(t.embedding[i] AS DOUBLE)
                       * CAST(q.qe[i] AS DOUBLE))), 4) AS ip
                FROM (SELECT * FROM tab
                      ORDER BY norm DESC, vec_id ASC LIMIT 20) t, q),
      tau AS (SELECT min(ip) AS t FROM
                (SELECT ip FROM seeds ORDER BY ip DESC LIMIT 5)),
      qn AS (SELECT sqrt(list_sum(list_transform(qe,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n FROM q),
      cut AS (SELECT t.vec_id, t.norm, t.embedding FROM tab t, tau, qn
              WHERE (tau.t - 0.00005) / qn.n - 0.0002 <= 0
                 OR t.norm >= (tau.t - 0.00005) / qn.n - 0.0002)
      SELECT c.vec_id, c.norm,
             round(list_sum(list_transform(range(1, len(c.embedding)+1),
               i -> CAST(c.embedding[i] AS DOUBLE)
                    * CAST(q.qe[i] AS DOUBLE))), 4) AS ip
      FROM cut c, q
      ORDER BY ip DESC, c.vec_id ASC LIMIT 5
    """))

  /** Per-dimension corpus statistics over the embedding column — the
    * drift/health monitor an embedding pipeline runs per batch (a
    * distribution shift in any dimension means the upstream model or its
    * inputs changed): table_profile's shape applied to vectors. One
    * explode + map-side-combined aggregate; at 100 TB this is a single
    * scan producing `dim` rows. */
  private val embeddingProfile = Q(
    "embedding_profile",
    (s, dir) =>
      Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .select((col("pos") + 1).cast("long").as("dim"),
          col("v").cast("double").as("v"))
        .groupBy(col("dim"))
        .agg(round(avg(col("v")) + lit(1e-12), 4).as("mean_v"),
          round(stddev_pop(col("v")) + lit(1e-12), 4).as("std_v"),
          round(min(col("v")), 4).as("min_v"),
          round(max(col("v")), 4).as("max_v"))
        .orderBy(col("dim").asc),
    Some("""
      WITH u AS (SELECT unnest(range(1, len(embedding)+1)) AS dim,
                        unnest(embedding) AS v
                 FROM embeddings)
      SELECT CAST(dim AS BIGINT) AS dim,
             round(avg(CAST(v AS DOUBLE)) + 1e-12, 4) AS mean_v,
             round(stddev_pop(CAST(v AS DOUBLE)) + 1e-12, 4) AS std_v,
             round(CAST(min(v) AS DOUBLE), 4) AS min_v,
             round(CAST(max(v) AS DOUBLE), 4) AS max_v
      FROM u GROUP BY dim ORDER BY dim ASC
    """))

  /** Product-quantized ADC search (see [[graft.search.Pq]]): dim-64
    * vectors stored as 8 nibble codes (32× cut), searched via the
    * asymmetric-distance lookup table and reranked exactly. Codebooks
    * are handed off (staged + renamed), and the oracle replays
    * per-subspace argmin encoding, the ADC table, candidate ranking,
    * and the exact rerank — the full PQ pipeline is hash-checked. */
  private val pqAdcSearch = Q(
    "pq_adc_search",
    (s, dir) => {
      val indexDir = s"/tmp/graft_pq_${math.abs(dir.hashCode)}"
      val e = Tables.embeddings(s, dir)
      val model =
        if (new java.io.File(
            graft.search.Pq.codesDir(indexDir) + "/_SUCCESS").exists())
          graft.search.Pq.load(s, indexDir)
        else graft.search.Pq.build(e, "embedding", "vec_id", indexDir)
      stageOracleOnceLazy(s, "pq", dir)(Seq(
        "codebooks" -> s.read.parquet(graft.search.Pq.codebooksDir(indexDir))))
      val query = e.where(col("vec_id") === 0).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
      graft.search.Pq.adcSearch(s, model, e, "embedding", "vec_id", query,
        k = 5, margin = 4)
    },
    Some("""
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      cb AS (SELECT * FROM
        read_parquet('/tmp/graft_pq_oracle_%ORACLE_KEY%/codebooks/*.parquet')),
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
      adc AS (SELECT enc.vec_id, round(sum(lut.d), 4) AS approx_distance
              FROM enc JOIN lut USING (sub, code) GROUP BY enc.vec_id),
      cand AS (SELECT vec_id, approx_distance FROM adc
               ORDER BY approx_distance ASC, vec_id ASC LIMIT 20)
      SELECT c.vec_id, c.approx_distance, %L2% AS distance
      FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id, q
      ORDER BY distance ASC, c.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qv"))))

  /** IVF_PQ — the composed index family the reference's Milvus config
    * belongs to (src/app.py:105-111 chooses IVF_FLAT; IVF_PQ is the same
    * coarse quantizer with PQ codes instead of raw vectors inside each
    * list): the query ranks the IVF centroids and prunes to nprobe=4
    * clusters, the ADC lookup scan runs ONLY over the surviving codes,
    * and the candidate set reranks exactly. At 100 TB this is the
    * standard trillion-vector layout — partition pruning cuts the scan
    * to nprobe/nlist of the corpus and PQ cuts the bytes per scanned row
    * 32×, multiplicatively. The oracle replays centroid ranking, the
    * cluster restriction, per-subspace encoding, the ADC table, and the
    * rerank from one composite handoff. */
  private val ivfPqSearch = Q(
    "ivf_pq_search",
    (s, dir) => {
      val ivfDir = s"/tmp/graft_ivf_${math.abs(dir.hashCode)}"
      val pqDir = s"/tmp/graft_pq_${math.abs(dir.hashCode)}"
      val e = Tables.embeddings(s, dir)
      val ivf =
        if (new java.io.File(
            graft.search.IvfIndex.centroidsDir(ivfDir)).exists())
          graft.search.IvfIndex.load(s, ivfDir)
        else graft.search.IvfIndex.build(e, "embedding", ivfDir, nlist = 16)
      val pq =
        if (new java.io.File(
            graft.search.Pq.codesDir(pqDir) + "/_SUCCESS").exists())
          graft.search.Pq.load(s, pqDir)
        else graft.search.Pq.build(e, "embedding", "vec_id", pqDir)
      stageOracleOnceLazy(s, "ivfpq", dir)(Seq(
        "centroids" -> s.read.parquet(graft.search.IvfIndex.centroidsDir(ivfDir)),
        "assign" -> s.read.parquet(graft.search.IvfIndex.dataDir(ivfDir))
          .select(col("vec_id"), col("cluster_id")),
        "codebooks" -> s.read.parquet(graft.search.Pq.codebooksDir(pqDir))))
      val query = e.where(col("vec_id") === 0).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
      val clusters = graft.search.IvfIndex.probeClusters(ivf, query, 4)
      val selected = s.read.parquet(graft.search.IvfIndex.dataDir(ivfDir))
        .where(col("cluster_id").isin(clusters: _*))
        .select(col("vec_id"))
      val lut = graft.search.Pq.adcTable(pq, query)
      val lutLit = typedlit(lut.toSeq)
      val adc = round(aggregate(sequence(lit(0), lit(pq.m - 1)), lit(0.0),
        (acc, sb) => acc +
          element_at(lutLit,
            (sb * pq.kCodes + element_at(col("codes"), sb + 1) + 1)
              .cast("int"))), 4)
      val cand = s.read.parquet(graft.search.Pq.codesDir(pqDir))
        .join(selected, Seq("vec_id"), "left_semi")
        .withColumn("approx_distance", adc)
        .orderBy(col("approx_distance").asc, col("vec_id").asc)
        .limit(20)
        .select(col("vec_id"), col("approx_distance"))
      val qlit = typedlit(query.toSeq)
      broadcast(cand)
        .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .withColumn("distance",
          round(graft.functions.VectorFunctions.l2Sq(col("embedding"), qlit), 4))
        .select(col("vec_id"), col("approx_distance"), col("distance"))
        .orderBy(col("distance").asc, col("vec_id").asc)
        .limit(5)
    },
    Some("""
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      cent AS (SELECT * FROM
        read_parquet('/tmp/graft_ivfpq_oracle_%ORACLE_KEY%/centroids/*.parquet')),
      probe AS (SELECT cluster_id FROM (
          SELECT cluster_id,
                 row_number() OVER (ORDER BY
                   list_sum(list_transform(range(1, len(centroid)+1),
                     i -> (CAST(centroid[i] AS DOUBLE)
                           - CAST(qe.qv[i] AS DOUBLE))^2)) ASC,
                   cluster_id ASC) AS rn
          FROM cent, q qe) WHERE rn <= 4),
      a AS (SELECT * FROM
        read_parquet('/tmp/graft_ivfpq_oracle_%ORACLE_KEY%/assign/*.parquet')),
      sel AS (SELECT a.vec_id FROM a JOIN probe USING (cluster_id)),
      cb AS (SELECT * FROM
        read_parquet('/tmp/graft_ivfpq_oracle_%ORACLE_KEY%/codebooks/*.parquet')),
      enc AS (SELECT vec_id, sub, code FROM (
          SELECT e.vec_id, cb.sub, cb.code,
                 row_number() OVER (PARTITION BY e.vec_id, cb.sub ORDER BY
                   list_sum(list_transform(range(1, 9),
                     i -> (CAST(e.embedding[cb.sub*8 + i] AS DOUBLE)
                           - CAST(cb.centroid[i] AS DOUBLE))^2)) ASC,
                   cb.code ASC) AS rn
          FROM embeddings e JOIN sel USING (vec_id) CROSS JOIN cb)
          WHERE rn = 1),
      lut AS (SELECT cb.sub, cb.code,
                     list_sum(list_transform(range(1, 9),
                       i -> (CAST(q.qv[cb.sub*8 + i] AS DOUBLE)
                             - CAST(cb.centroid[i] AS DOUBLE))^2)) AS d
              FROM cb CROSS JOIN q),
      adc AS (SELECT enc.vec_id, round(sum(lut.d), 4) AS approx_distance
              FROM enc JOIN lut USING (sub, code) GROUP BY enc.vec_id),
      cand AS (SELECT vec_id, approx_distance FROM adc
               ORDER BY approx_distance ASC, vec_id ASC LIMIT 20)
      SELECT c.vec_id, c.approx_distance, %L2% AS distance
      FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id, q
      ORDER BY distance ASC, c.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qv"))))

  /** Matryoshka-style truncated-dimension two-stage search (MRL,
    * Kusupati et al. 2022, arXiv:2205.13147): stage 1 ranks the corpus
    * by cosine over only the FIRST 16 of 64 dimensions (¼ the multiply
    * work and — the real 100 TB win — ¼ the bytes read when the prefix
    * is stored as its own column/page), keeping a 10× candidate margin;
    * stage 2 reranks the 50 survivors by full-dimension cosine, top 5.
    * Same two-TakeOrderedAndProject shape as sq8_rerank_search (rank on
    * the cheap representation, exact-score only the candidate set) with
    * truncation instead of quantization as the compression. The fixture
    * embeddings are not MRL-trained — what the oracle pins is the
    * truncate → rank → margin → rerank SEMANTICS, both stages replayed
    * with the identical rounding and tie-breaks. */
  private val mrlTruncatedSearch = Q(
    "mrl_truncated_search",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      val stage1 = e.crossJoin(broadcast(q))
        .select(col("vec_id"), col("embedding"), col("qe"),
          round(VectorFunctions.cosineSim(
            slice(col("embedding"), 1, 16), slice(col("qe"), 1, 16)), 4)
            .as("c1"))
        .orderBy(col("c1").desc, col("vec_id").asc)
        .limit(50)
      stage1
        .select(col("vec_id"),
          round(VectorFunctions.cosineSim(col("embedding"), col("qe")), 4)
            .as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(5)
    },
    Some(s"""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      s1 AS (SELECT e.vec_id, e.embedding,
                    ${duckCosine("list_slice(e.embedding, 1, 16)",
                                 "list_slice(q.qe, 1, 16)")} AS c1
             FROM embeddings e, q
             ORDER BY c1 DESC, e.vec_id ASC LIMIT 50)
      SELECT s1.vec_id,
             ${duckCosine("s1.embedding", "q.qe")} AS cosine
      FROM s1, q
      ORDER BY cosine DESC, s1.vec_id ASC LIMIT 5
    """))

  /** Metadata-filtered vector search — the `expr` parameter of a Milvus
    * search call (the reference's collection carries scalar fields next
    * to the vector for exactly this, src/app.py:92-103): PRE-filter
    * semantics, i.e. the predicate restricts the corpus BEFORE the
    * distance ranking, so exactly k survivors return and recall over the
    * filtered set is exact. (POST-filtering a top-k·m overfetch is the
    * cheaper-but-lossy alternative; pre-filter is what Milvus executes.)
    *
    * Scale shape: the label predicate reaches the parquet scan as a
    * pushed filter — on a corpus partitioned/clustered by the metadata
    * column a selective predicate prunes IO before any distance math,
    * and what remains is the usual TakeOrderedAndProject top-k, no
    * global sort, no shuffle. */
  private val filteredKnnSearch = Q(
    "filtered_knn_search",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      Knn.topK(e.where(col("label").isin(2, 5, 7)), "embedding", "vec_id",
          q, "qe", k = 5)
        .select("vec_id", "label", "distance")
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id, e.label, %L2% AS distance
      FROM embeddings e, q
      WHERE e.label IN (2, 5, 7)
      ORDER BY distance ASC, e.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Filtered kNN with the filter resolved by a SCALAR SECONDARY INDEX
    * ([[graft.search.ScalarIndex]] — Milvus's INVERTED/BITMAP scalar
    * index family): the `label IN (2,5,7)` id set comes from a
    * directory-pruned scan of the build-once (value, id) artifact
    * (PlanSpec pins `value` lands in PartitionFilters), the corpus is
    * restricted by a semi-join on id BEFORE any distance math, and the
    * ranking equals `filtered_knn_search`'s inline-predicate result —
    * same oracle semantics through a different (artifact-accelerated)
    * physical path. */
  private val scalarIndexedKnn = Q(
    "scalar_indexed_knn",
    (s, dir) => {
      import graft.search.ScalarIndex
      val e = Tables.embeddings(s, dir)
      val idx = s"/tmp/graft_scalaridx_${math.abs(dir.hashCode)}"
      if (!new java.io.File(
          ScalarIndex.valuesDir(idx) + "/_SUCCESS").exists())
        ScalarIndex.build(e, "vec_id", "label", idx)
      val query = e.where(col("vec_id") === 0).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
      ScalarIndex.filteredKnn(s, idx, e.select("vec_id", "embedding"),
        "embedding", "vec_id", query, k = 5, Seq(2, 5, 7))
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id, %L2% AS distance
      FROM embeddings e, q
      WHERE e.label IN (2, 5, 7)
      ORDER BY distance ASC, e.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** PARTITION-scoped search (Milvus's `partition_names=[…]` search
    * mode — src/app.py's client exposes partitions as the coarse
    * pre-filter tier): the collection is laid out partition-keyed by
    * `label` ([[graft.core.Collection.appendPartitioned]]), and a
    * search scoped to partitions (2, 5) prunes their DIRECTORIES at
    * planning time (PlanSpec pins the partition filter) before the
    * exact ranking — the third filtered-search mechanism next to the
    * inline predicate and the scalar secondary index, each with its
    * own 100 TB niche (source layout vs secondary artifact vs inline
    * scan filter). */
  private val partitionScopedKnn = Q(
    "partition_scoped_knn",
    (s, dir) => {
      import graft.core.Collection
      val out = s"/tmp/graft_embpk_${math.abs(dir.hashCode)}/emb"
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val coll = Collection(s, out)
      if (!fs.exists(p))
        coll.appendPartitioned(Tables.embeddings(s, dir),
          partCol = "label")
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      Knn.topK(coll.read.where(col("label").isin(2, 5)), "embedding",
          "vec_id", q, "qe", k = 5)
        .select("vec_id", "distance")
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id, %L2% AS distance
      FROM embeddings e, q
      WHERE e.label IN (2, 5)
      ORDER BY distance ASC, e.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Range search — Milvus's other search mode (radius + range_filter):
    * every vector with `range_filter <= distance < radius`, not a fixed
    * k. The inner bound's standard job is self-match/near-duplicate
    * exclusion (the query vector itself sits at distance 0 and is
    * correctly absent here). Unlike top-k there is NO result-size bound,
    * so the plan is scan + pushable predicate + sort of the (small)
    * survivor set — at 100 TB the radius does the bounding and the sort
    * is over the survivors only, never the corpus. */
  private val knnRangeSearch = Q(
    "knn_range_search",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      e.crossJoin(broadcast(q))
        .withColumn("distance", Knn.distCol(col("embedding"), col("qe")))
        .where(col("distance") >= 1.0 && col("distance") < 1.6)
        .select("vec_id", "distance")
        .orderBy(col("distance").asc, col("vec_id").asc)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      d AS (SELECT e.vec_id, %L2% AS distance FROM embeddings e, q)
      SELECT vec_id, distance FROM d
      WHERE distance >= 1.0 AND distance < 1.6
      ORDER BY distance ASC, vec_id ASC
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Partitioned (per-group) vector search: the k nearest within EVERY
    * metadata group in one pass — Milvus's partition_names search
    * generalized to all partitions at once (one query per partition would
    * rescan the corpus |groups| times). One scan computes distances, one
    * hash-partitioned window takes per-group top-k; at 100 TB the shuffle
    * moves only candidate rows keyed by group, and a corpus already
    * bucketed by the group column skips even that. */
  private val groupedKnnPerLabel = Q(
    "grouped_knn_per_label",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("distance").asc, col("vec_id").asc)
      e.crossJoin(broadcast(q))
        .withColumn("distance", Knn.distCol(col("embedding"), col("qe")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .select("label", "vec_id", "distance")
        .orderBy(col("label").asc, col("distance").asc, col("vec_id").asc)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      d AS (SELECT e.label, e.vec_id, %L2% AS distance FROM embeddings e, q),
      r AS (SELECT label, vec_id, distance,
                   row_number() OVER (PARTITION BY label
                                      ORDER BY distance, vec_id) AS rn
            FROM d)
      SELECT label, vec_id, distance FROM r WHERE rn <= 2
      ORDER BY label ASC, distance ASC, vec_id ASC
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Binary-vector search — Milvus BINARY_VECTOR + HAMMING metric parity:
    * the corpus's float vectors binarized to sign bits and packed into
    * two 32-bit words (64× smaller than float32; the slots are exactly
    * the zero-threshold case of the SRP signs the dedup family uses),
    * ranked by hamming distance = one codegen `bit_count(XOR)` per word.
    * At 100 TB the packed form is the point: 8 bytes/vector scan +
    * 2 XORs replaces 256 bytes + 64 multiplies, and the top-k is still
    * TakeOrderedAndProject. Packer assumes the fixture's 64-dim layout
    * (same contract as [[graft.search.Pq]]'s 8×8 subspaces). */
  private val binaryHammingSearch = Q(
    "binary_hamming_search",
    (s, dir) => {
      import graft.search.BinaryVec
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0)
        .select(BinaryVec.signWord(col("embedding"), 0).as("qw0"),
          BinaryVec.signWord(col("embedding"), 1).as("qw1"))
      // the packed signature table is the STORED form (16 bytes/vector) —
      // build-once artifact like the SQ8 table; the timed search scans
      // packed longs, the interpreted sign-fold runs only at build
      val packed = graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_binsig_${math.abs(dir.hashCode)}") {
        e.select(col("vec_id"),
          BinaryVec.signWord(col("embedding"), 0).as("w0"),
          BinaryVec.signWord(col("embedding"), 1).as("w1"))
      }
      packed.crossJoin(broadcast(q))
        .withColumn("hamming", BinaryVec.hamming(
          Seq(col("w0") -> col("qw0"), col("w1") -> col("qw1"))))
        .select("vec_id", "hamming")
        .orderBy(col("hamming").asc, col("vec_id").asc)
        .limit(10)
    },
    Some("""
      WITH b AS (SELECT vec_id,
                        list_transform(embedding,
                          x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS bits
                 FROM embeddings),
      q AS (SELECT bits AS qb FROM b WHERE vec_id = 0)
      SELECT b.vec_id,
             CAST(list_sum(list_transform(range(1, len(b.bits)+1),
               i -> CASE WHEN b.bits[i] != q.qb[i] THEN 1 ELSE 0 END))
               AS BIGINT) AS hamming
      FROM b, q
      ORDER BY hamming ASC, b.vec_id ASC LIMIT 10
    """))

  /** Binary Jaccard (Tanimoto) search — the OTHER binary metric Milvus
    * serves on BINARY_VECTOR collections (JACCARD next to
    * `binary_hamming_search`'s HAMMING): distance = 1 − |a∧b|/|a∨b|
    * over the same packed sign-bit artifact, two popcounts per word.
    * Same 100 TB shape: 16-byte rows, codegen bit ops,
    * TakeOrderedAndProject. */
  private val binaryJaccardSearch = Q(
    "binary_jaccard_search",
    (s, dir) => {
      import graft.search.BinaryVec
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0)
        .select(BinaryVec.signWord(col("embedding"), 0).as("qw0"),
          BinaryVec.signWord(col("embedding"), 1).as("qw1"))
      val packed = graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_binsig_${math.abs(dir.hashCode)}") {
        e.select(col("vec_id"),
          BinaryVec.signWord(col("embedding"), 0).as("w0"),
          BinaryVec.signWord(col("embedding"), 1).as("w1"))
      }
      packed.crossJoin(broadcast(q))
        .withColumn("jaccard_dist", BinaryVec.jaccardDist(
          Seq(col("w0") -> col("qw0"), col("w1") -> col("qw1"))))
        .select("vec_id", "jaccard_dist")
        .orderBy(col("jaccard_dist").asc, col("vec_id").asc)
        .limit(10)
    },
    Some("""
      WITH b AS (SELECT vec_id,
                        list_transform(embedding,
                          x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS bits
                 FROM embeddings),
      q AS (SELECT bits AS qb FROM b WHERE vec_id = 0),
      iu AS (SELECT b.vec_id,
                    list_sum(list_transform(range(1, len(b.bits)+1),
                      i -> CASE WHEN b.bits[i] = 1 AND q.qb[i] = 1
                           THEN 1 ELSE 0 END)) AS inter,
                    list_sum(list_transform(range(1, len(b.bits)+1),
                      i -> CASE WHEN b.bits[i] = 1 OR q.qb[i] = 1
                           THEN 1 ELSE 0 END)) AS uni
             FROM b, q)
      SELECT vec_id,
             round(CASE WHEN uni = 0 THEN 0.0
                   ELSE 1.0 - CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE)
                   END, 4) AS jaccard_dist
      FROM iu
      ORDER BY jaccard_dist ASC, vec_id ASC LIMIT 10
    """))

  /** Binary SUBSTRUCTURE search — the third binary metric of Milvus's
    * BINARY_VECTOR family (SUBSTRUCTURE next to HAMMING/JACCARD; the
    * chemical-fingerprint containment test): distance
    * 1 − |a∧b|/|b| over the SAME packed sign-bit artifact the hamming
    * and jaccard entries serve, 0 exactly when every query bit is set
    * in the candidate. `is_match` carries the containment verdict
    * Milvus's metric exists to answer. Same 100 TB shape: 16-byte
    * packed rows, two codegen popcounts per word,
    * TakeOrderedAndProject — no shuffle, no index build. */
  private val binarySubstructureSearch = Q(
    "binary_substructure_search",
    (s, dir) => {
      import graft.search.BinaryVec
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0)
        .select(BinaryVec.signWord(col("embedding"), 0).as("qw0"),
          BinaryVec.signWord(col("embedding"), 1).as("qw1"))
      val packed = graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_binsig_${math.abs(dir.hashCode)}") {
        e.select(col("vec_id"),
          BinaryVec.signWord(col("embedding"), 0).as("w0"),
          BinaryVec.signWord(col("embedding"), 1).as("w1"))
      }
      packed.crossJoin(broadcast(q))
        .withColumn("sub_dist", BinaryVec.substructureDist(
          Seq(col("w0") -> col("qw0"), col("w1") -> col("qw1"))))
        .select(col("vec_id"), col("sub_dist"),
          (col("sub_dist") === 0.0).as("is_match"))
        .orderBy(col("sub_dist").asc, col("vec_id").asc)
        .limit(10)
    },
    Some("""
      WITH b AS (SELECT vec_id,
                        list_transform(embedding,
                          x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS bits
                 FROM embeddings),
      q AS (SELECT bits AS qb FROM b WHERE vec_id = 0),
      iu AS (SELECT b.vec_id,
                    list_sum(list_transform(range(1, len(b.bits)+1),
                      i -> CASE WHEN b.bits[i] = 1 AND q.qb[i] = 1
                           THEN 1 ELSE 0 END)) AS inter,
                    list_sum(q.qb) AS nb
             FROM b, q)
      SELECT vec_id,
             round(CASE WHEN nb = 0 THEN 0.0
                   ELSE 1.0 - CAST(inter AS DOUBLE) / CAST(nb AS DOUBLE)
                   END, 4) AS sub_dist,
             (round(CASE WHEN nb = 0 THEN 0.0
                    ELSE 1.0 - CAST(inter AS DOUBLE) / CAST(nb AS DOUBLE)
                    END, 4) = 0.0) AS is_match
      FROM iu
      ORDER BY sub_dist ASC, vec_id ASC LIMIT 10
    """))

  /** Binary SUPERSTRUCTURE search — the mirror containment metric
    * (Milvus SUPERSTRUCTURE): distance 1 − |a∧b|/|a| with `a` the
    * stored candidate, 0 exactly when the candidate's bits are a
    * subset of the query's. Completes the four-metric BINARY_VECTOR
    * matrix (HAMMING/JACCARD/SUBSTRUCTURE/SUPERSTRUCTURE) over one
    * shared packed artifact. */
  private val binarySuperstructureSearch = Q(
    "binary_superstructure_search",
    (s, dir) => {
      import graft.search.BinaryVec
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0)
        .select(BinaryVec.signWord(col("embedding"), 0).as("qw0"),
          BinaryVec.signWord(col("embedding"), 1).as("qw1"))
      val packed = graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_binsig_${math.abs(dir.hashCode)}") {
        e.select(col("vec_id"),
          BinaryVec.signWord(col("embedding"), 0).as("w0"),
          BinaryVec.signWord(col("embedding"), 1).as("w1"))
      }
      packed.crossJoin(broadcast(q))
        .withColumn("super_dist", BinaryVec.superstructureDist(
          Seq(col("w0") -> col("qw0"), col("w1") -> col("qw1"))))
        .select(col("vec_id"), col("super_dist"),
          (col("super_dist") === 0.0).as("is_match"))
        .orderBy(col("super_dist").asc, col("vec_id").asc)
        .limit(10)
    },
    Some("""
      WITH b AS (SELECT vec_id,
                        list_transform(embedding,
                          x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS bits
                 FROM embeddings),
      q AS (SELECT bits AS qb FROM b WHERE vec_id = 0),
      iu AS (SELECT b.vec_id,
                    list_sum(list_transform(range(1, len(b.bits)+1),
                      i -> CASE WHEN b.bits[i] = 1 AND q.qb[i] = 1
                           THEN 1 ELSE 0 END)) AS inter,
                    list_sum(b.bits) AS na
             FROM b, q)
      SELECT vec_id,
             round(CASE WHEN na = 0 THEN 0.0
                   ELSE 1.0 - CAST(inter AS DOUBLE) / CAST(na AS DOUBLE)
                   END, 4) AS super_dist,
             (round(CASE WHEN na = 0 THEN 0.0
                    ELSE 1.0 - CAST(inter AS DOUBLE) / CAST(na AS DOUBLE)
                    END, 4) = 0.0) AS is_match
      FROM iu
      ORDER BY super_dist ASC, vec_id ASC LIMIT 10
    """))

  /** Build-or-stage the deterministic Hadamard-sign rotation artifact
    * shared by the asymmetric-binary tier (staged under `binrot` for the
    * oracle; the rotation is COMPUTED, not learned — no corpus pass). */
  private def binRotationArtifact(s: org.apache.spark.sql.SparkSession,
                                  dir: String)
      : Seq[(Int, Array[Float])] = {
    import graft.search.Rotation
    val rows = Rotation.hadamardSignRows(64, "graft-bin-rot")
    stageOracleOnce(s, "binrot", dir)("rotation" -> Rotation.rowsToDf(s, rows))
    rows
  }

  /** Asymmetric 1-bit quantized search — the RaBitQ-family tier (Gao &
    * Long, SIGMOD 2024) on top of the packed-sign machinery of
    * `binary_hamming_search`: (1) rotate the corpus by a deterministic
    * Hadamard-sign rotation (energy-spreading, training-free — the
    * FJLT/RaBitQ preprocessing), (2) store per row only 2 packed sign
    * words + one correction float c_x = ‖x̃‖₁/(√D·‖x̃‖₂) (20 bytes vs 256
    * — RaBitQ's ⟨ō,x̄⟩ term), (3) rank stage-1 by the ASYMMETRIC
    * estimator (2·S₁−Σq̂)/(√D·c_x) where the float query is never
    * binarized — the precision the symmetric hamming tier throws away —
    * then (4) exact-rerank the top-50. At 100 TB stage-1 scans 12×
    * fewer bytes than the float corpus and runs entirely on codegen'd
    * bit ops; the rotation, packing, correction, estimator, cut and
    * rerank are all oracle-replayed. */
  private val asymmetricBinarySearch = Q(
    "asymmetric_binary_search",
    (s, dir) => {
      import graft.search.{BinaryVec, Rotation}
      val e = Tables.embeddings(s, dir)
      val rows = binRotationArtifact(s, dir)
      val packed = graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_asymsig_${math.abs(dir.hashCode)}") {
        asymPack(e, rows)
      }
      // 1-row bounded query state: rotate + unit-normalize driver-side
      // with projectCol's exact arithmetic, inlined as plan literals
      val qe = e.where(col("vec_id") === 0).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
      val qr = Rotation.projectRow(qe, rows)
      val qn = math.sqrt(qr.map(v => v.toDouble * v.toDouble).sum)
      require(qn > 0, "query vector must be non-zero")
      val qhat = qr.map(_.toDouble / qn)
      val stage1 = packed
        .withColumn("est", BinaryVec.asymCosScore(
          Seq(col("w0"), col("w1")), qhat, col("cx")))
        .orderBy(col("est").desc, col("vec_id").asc)
        .limit(50)
      broadcast(stage1.select("vec_id", "est"))
        .join(e, Seq("vec_id"))
        .withColumn("cosine", round(VectorFunctions.cosineSim(
          col("embedding"), typedlit(qe.toSeq)), 4))
        .select("vec_id", "est", "cosine")
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(5)
    },
    Some(s"""
      WITH rot AS (SELECT component, weights FROM read_parquet(
        '/tmp/graft_binrot_oracle_%ORACLE_KEY%/rotation/*.parquet')),
      proj AS (SELECT e.vec_id, r.component, ${duckProj("e.embedding")} AS p
               FROM embeddings e, rot r),
      pv AS (SELECT vec_id, list(p ORDER BY component) AS v
             FROM proj GROUP BY vec_id),
      q AS (SELECT v AS qv FROM pv WHERE vec_id = 0),
      qn AS (SELECT sqrt(list_sum(list_transform(qv,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n FROM q),
      cxs AS (SELECT vec_id, CAST(round(CASE WHEN l2 = 0 THEN 0.0
                ELSE l1 / (8 * l2) END, 4) AS REAL) AS cx
              FROM (SELECT vec_id,
                      list_sum(list_transform(v,
                        x -> abs(CAST(x AS DOUBLE)))) AS l1,
                      sqrt(list_sum(list_transform(v,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
                    FROM pv)),
      est AS (SELECT pv.vec_id,
                round(CASE WHEN cxs.cx = 0 THEN 0.0 ELSE
                  (2 * list_sum(list_transform(range(1, len(pv.v)+1),
                     i -> CASE WHEN pv.v[i] >= 0
                          THEN CAST(q.qv[i] AS DOUBLE) / qn.n
                          ELSE 0.0 END))
                   - list_sum(list_transform(q.qv,
                       x -> CAST(x AS DOUBLE) / qn.n)))
                  / (8 * CAST(cxs.cx AS DOUBLE)) END, 4) AS est
              FROM pv JOIN cxs USING (vec_id), q, qn),
      cand AS (SELECT vec_id, est FROM est
               ORDER BY est DESC, vec_id ASC LIMIT 50)
      SELECT c.vec_id, c.est,
             ${duckCosine("e.embedding", "qq.qe")} AS cosine
      FROM cand c JOIN embeddings e USING (vec_id),
           (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) qq
      ORDER BY cosine DESC, c.vec_id ASC LIMIT 5
    """))

  /** Symmetric-vs-asymmetric 1-bit recall over EIGHT query vectors:
    * stage-1 recall@50 of the exact cosine top-5 for (a) symmetric
    * hamming over raw sign bits — `binary_hamming_search`'s ranking —
    * vs (b) the rotated asymmetric estimator of
    * `asymmetric_binary_search`. The measurement that justifies storing
    * the correction float and keeping the query in float: both
    * rankings, the rotation, the corrections and the exact baseline are
    * hash-checked (the `mrl_rotation_report` discipline). */
  private val binaryRecallReport = Q(
    "binary_recall_report",
    (s, dir) => {
      import graft.search.{BinaryVec, Rotation}
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, dir)
      val rows = binRotationArtifact(s, dir)
      // per-SIDE statistics (corpus correction, query norm/term-sum)
      // computed BEFORE the cross join — once per row, not once per
      // (row × query) pair
      val e2 = e.select(col("vec_id"), col("embedding"),
          Rotation.projectCol(col("embedding"), rows).as("rvec"))
        .withColumn("cx", BinaryVec.signCorrection(col("rvec"), 64))
      val qids = Seq(0L, 7L, 13L, 21L, 33L, 47L, 55L, 61L)
      val qs = e2.where(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("rvec").as("qrv"))
        .withColumn("qn", sqrt(aggregate(col("qrv"), lit(0.0),
          (acc, v) => acc + v.cast("double") * v.cast("double"))))
        .withColumn("stot", aggregate(col("qrv"), lit(0.0),
          (acc, v) => acc + v.cast("double")))
      val joined = e2.crossJoin(broadcast(qs))
      def topPerQid(scored: org.apache.spark.sql.DataFrame, n: Int,
                    desc: Boolean) =
        scored.withColumn("__rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(
              if (desc) col("c").desc else col("c").asc,
              col("vec_id").asc)))
          .where(col("__rn") <= n).select("qid", "vec_id")
      val exact = topPerQid(joined.select(col("qid"), col("vec_id"),
        round(VectorFunctions.cosineSim(col("embedding"), col("qv")), 4)
          .as("c")), 5, desc = true)
      // (a) symmetric: hamming between raw sign bits of corpus AND query
      val sym = topPerQid(joined.select(col("qid"), col("vec_id"),
        aggregate(zip_with(col("embedding"), col("qv"),
            (x, y) => when((x >= 0) =!= (y >= 0), 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("c")), 50, desc = false)
      // (b) asymmetric: rotated bits, float query, per-row correction
      // (cx/qn/stot are precomputed columns; only the cross term s1
      // genuinely needs the pair)
      val s1Col = aggregate(zip_with(col("rvec"), col("qrv"),
          (x, qv) => when(x >= 0, qv.cast("double")).otherwise(0.0)),
        lit(0.0), (acc, v) => acc + v)
      val asym = topPerQid(joined.select(col("qid"), col("vec_id"),
        round(when(col("cx") === 0f, 0.0)
          .otherwise((s1Col * 2.0 - col("stot")) / col("qn")
            / (lit(8.0) * col("cx").cast("double"))), 4).as("c")),
        50, desc = true)
      def recallRow(method: String, cand: org.apache.spark.sql.DataFrame) =
        exact.join(cand.withColumn("hit", lit(1)),
            Seq("qid", "vec_id"), "left")
          .agg(round(count(col("hit")) / (5.0 * qids.size), 4).as("recall"))
          .select(lit(method).as("method"),
            lit(qids.size).cast("long").as("n_queries"), col("recall"))
      recallRow("bin_symmetric", sym)
        .unionAll(recallRow("bin_asymmetric", asym))
        .orderBy(col("method").asc)
    },
    Some(s"""
      WITH rot AS (SELECT component, weights FROM read_parquet(
        '/tmp/graft_binrot_oracle_%ORACLE_KEY%/rotation/*.parquet')),
      qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
             WHERE vec_id IN (0, 7, 13, 21, 33, 47, 55, 61)),
      proj AS (SELECT e.vec_id, r.component, ${duckProj("e.embedding")} AS p
               FROM embeddings e, rot r),
      pv AS (SELECT vec_id, list(p ORDER BY component) AS v
             FROM proj GROUP BY vec_id),
      qpv AS (SELECT q.qid, pv.v FROM qs q JOIN pv ON pv.vec_id = q.qid),
      ex AS (SELECT qid, vec_id FROM (
          SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
              ORDER BY ${duckCosine("e.embedding", "q.qv")} DESC,
                       e.vec_id ASC) AS rn
          FROM embeddings e, qs q) t WHERE rn <= 5),
      sym AS (SELECT qid, vec_id FROM (
          SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
              ORDER BY list_sum(list_transform(range(1, len(e.embedding)+1),
                i -> CASE WHEN (e.embedding[i] >= 0) != (q.qv[i] >= 0)
                     THEN 1 ELSE 0 END)) ASC, e.vec_id ASC) AS rn
          FROM embeddings e, qs q) t WHERE rn <= 50),
      cxs AS (SELECT vec_id, CAST(round(CASE WHEN l2 = 0 THEN 0.0
                ELSE l1 / (8 * l2) END, 4) AS REAL) AS cx
              FROM (SELECT vec_id,
                      list_sum(list_transform(v,
                        x -> abs(CAST(x AS DOUBLE)))) AS l1,
                      sqrt(list_sum(list_transform(v,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
                    FROM pv)),
      asym AS (SELECT qid, vec_id FROM (
          SELECT qp.qid, pv.vec_id, row_number() OVER (PARTITION BY qp.qid
              ORDER BY round(CASE WHEN cxs.cx = 0 THEN 0.0 ELSE
                (2 * list_sum(list_transform(range(1, len(pv.v)+1),
                   i -> CASE WHEN pv.v[i] >= 0
                        THEN CAST(qp.v[i] AS DOUBLE) ELSE 0.0 END))
                 - list_sum(list_transform(qp.v,
                     x -> CAST(x AS DOUBLE))))
                / sqrt(list_sum(list_transform(qp.v,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                / (8 * CAST(cxs.cx AS DOUBLE)) END, 4) DESC,
              pv.vec_id ASC) AS rn
          FROM pv JOIN cxs USING (vec_id) CROSS JOIN qpv qp) t
          WHERE rn <= 50),
      symr AS (SELECT round(CAST(count(s.vec_id) AS DOUBLE) / 40.0, 4)
                 AS recall
               FROM ex LEFT JOIN sym s
                 ON s.qid = ex.qid AND s.vec_id = ex.vec_id),
      asymr AS (SELECT round(CAST(count(a.vec_id) AS DOUBLE) / 40.0, 4)
                  AS recall
                FROM ex LEFT JOIN asym a
                  ON a.qid = ex.qid AND a.vec_id = ex.vec_id)
      SELECT method, CAST(8 AS BIGINT) AS n_queries, recall FROM (
        SELECT 'bin_asymmetric' AS method, recall FROM asymr
        UNION ALL
        SELECT 'bin_symmetric' AS method, recall FROM symr)
      ORDER BY method ASC
    """))

  /** The packed-signature projection shared by the asymmetric-binary
    * build and append paths: (vec_id, w0, w1, cx) from the rotated
    * corpus slice. Per-row independent — the property that makes the
    * artifact file-appendable with zero rewrite. */
  private def asymPack(df: org.apache.spark.sql.DataFrame,
                       rows: Seq[(Int, Array[Float])])
      : org.apache.spark.sql.DataFrame =
    graft.search.BinaryVec.packTable(df, "vec_id", "embedding", rows, 64)

  /** Incremental maintenance of the asymmetric 1-bit artifact — the
    * every-index-maintains-incrementally discipline (IvfIndex.append /
    * GraphAnn.append / TermIndex.append) applied to the newest tier.
    * Signatures are PER-ROW statistics under a FIXED rotation (computed,
    * not learned — nothing to refit, ever), so absorbing a batch is:
    * rotate + pack ONLY the batch, parquet file-append. Build on the
    * first half, absorb two appends, search from the artifact alone;
    * the oracle recomputes the whole pipeline from the full corpus
    * (`bm25_incremental_search` discipline), so a dropped batch,
    * double-append, or stale-rotation drift hash-mismatches. */
  private val asymmetricBinaryIncremental = Q(
    "asymmetric_binary_incremental",
    (s, dir) => {
      import graft.search.{BinaryVec, Rotation}
      val e = Tables.embeddings(s, dir)
      val rows = binRotationArtifact(s, dir)
      val idx = s"/tmp/graft_asyminc_${math.abs(dir.hashCode)}"
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      asymPack(e.where(col("vec_id") < 250), rows)
        .write.mode("overwrite").parquet(idx)
      asymPack(e.where(col("vec_id") >= 250 && col("vec_id") < 400), rows)
        .write.mode("append").parquet(idx)
      asymPack(e.where(col("vec_id") >= 400), rows)
        .write.mode("append").parquet(idx)
      val qe = e.where(col("vec_id") === 7).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
      val qr = Rotation.projectRow(qe, rows)
      val qn = math.sqrt(qr.map(v => v.toDouble * v.toDouble).sum)
      require(qn > 0, "query vector must be non-zero")
      val qhat = qr.map(_.toDouble / qn)
      val stage1 = s.read.parquet(idx)
        .withColumn("est", BinaryVec.asymCosScore(
          Seq(col("w0"), col("w1")), qhat, col("cx")))
        .orderBy(col("est").desc, col("vec_id").asc)
        .limit(50)
      broadcast(stage1.select("vec_id", "est"))
        .join(e, Seq("vec_id"))
        .withColumn("cosine", round(VectorFunctions.cosineSim(
          col("embedding"), typedlit(qe.toSeq)), 4))
        .select("vec_id", "est", "cosine")
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(5)
    },
    Some(s"""
      WITH rot AS (SELECT component, weights FROM read_parquet(
        '/tmp/graft_binrot_oracle_%ORACLE_KEY%/rotation/*.parquet')),
      proj AS (SELECT e.vec_id, r.component, ${duckProj("e.embedding")} AS p
               FROM embeddings e, rot r),
      pv AS (SELECT vec_id, list(p ORDER BY component) AS v
             FROM proj GROUP BY vec_id),
      q AS (SELECT v AS qv FROM pv WHERE vec_id = 7),
      qn AS (SELECT sqrt(list_sum(list_transform(qv,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n FROM q),
      cxs AS (SELECT vec_id, CAST(round(CASE WHEN l2 = 0 THEN 0.0
                ELSE l1 / (8 * l2) END, 4) AS REAL) AS cx
              FROM (SELECT vec_id,
                      list_sum(list_transform(v,
                        x -> abs(CAST(x AS DOUBLE)))) AS l1,
                      sqrt(list_sum(list_transform(v,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
                    FROM pv)),
      est AS (SELECT pv.vec_id,
                round(CASE WHEN cxs.cx = 0 THEN 0.0 ELSE
                  (2 * list_sum(list_transform(range(1, len(pv.v)+1),
                     i -> CASE WHEN pv.v[i] >= 0
                          THEN CAST(q.qv[i] AS DOUBLE) / qn.n
                          ELSE 0.0 END))
                   - list_sum(list_transform(q.qv,
                       x -> CAST(x AS DOUBLE) / qn.n)))
                  / (8 * CAST(cxs.cx AS DOUBLE)) END, 4) AS est
              FROM pv JOIN cxs USING (vec_id), q, qn),
      cand AS (SELECT vec_id, est FROM est
               ORDER BY est DESC, vec_id ASC LIMIT 50)
      SELECT c.vec_id, c.est,
             ${duckCosine("e.embedding", "qq.qe")} AS cosine
      FROM cand c JOIN embeddings e USING (vec_id),
           (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7) qq
      ORDER BY cosine DESC, c.vec_id ASC LIMIT 5
    """))

  /** STREAMING ingest of the asymmetric 1-bit artifact — the streaming
    * twin of `asymmetric_binary_incremental` (every incremental index
    * here has one: `streaming_bm25_ingest`, `streaming_graph_ingest`,
    * `streaming_dedup`): a REAL micro-batch run (file source,
    * maxFilesPerTrigger=1, foreachBatch) rotates + packs ONLY each
    * arriving batch and file-appends its signatures — per-row
    * statistics under a fixed computed rotation need no refit ever, so
    * the stream sink is exactly the batch append. The final search
    * reads the artifact alone; the oracle recomputes the whole pipeline
    * from the full corpus, so a dropped or double-processed micro-batch
    * hash-mismatches. */
  private val streamingAsymIngest = Q(
    "streaming_asym_ingest",
    (s, dir) => {
      import graft.search.{BinaryVec, Rotation}
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.types._
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val rows = binRotationArtifact(s, dir)
      val work = s"/tmp/graft_streamasym_${math.abs(dir.hashCode)}"
      val conf = s.sparkContext.hadoopConfiguration
      val fs = new Path(work).getFileSystem(conf)
      val idx = s"$work/asymsig"
      streamInputOnce(s, work, Seq(s"$work/_ckpt", idx)) { writeOne =>
        writeOne(e.where(col("vec_id") < 250), "00_base.parquet",
          1000000L)
        writeOne(e.where(col("vec_id") >= 250 && col("vec_id") < 400),
          "01_batch.parquet", 2000000L)
        writeOne(e.where(col("vec_id") >= 400), "02_batch.parquet",
          3000000L)
      }
      val schema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = true))))
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
      val sq = src.writeStream
        .option("checkpointLocation", s"$work/_ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          asymPack(batch, rows).write.mode("append").parquet(idx)
          ()
        }
        .start()
      try sq.processAllAvailable() finally sq.stop()
      val qe = e.where(col("vec_id") === 13).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
      val qr = Rotation.projectRow(qe, rows)
      val qn = math.sqrt(qr.map(v => v.toDouble * v.toDouble).sum)
      require(qn > 0, "query vector must be non-zero")
      val qhat = qr.map(_.toDouble / qn)
      val stage1 = s.read.parquet(idx)
        .withColumn("est", BinaryVec.asymCosScore(
          Seq(col("w0"), col("w1")), qhat, col("cx")))
        .orderBy(col("est").desc, col("vec_id").asc)
        .limit(50)
      broadcast(stage1.select("vec_id", "est"))
        .join(e, Seq("vec_id"))
        .withColumn("cosine", round(VectorFunctions.cosineSim(
          col("embedding"), typedlit(qe.toSeq)), 4))
        .select("vec_id", "est", "cosine")
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(5)
    },
    Some(s"""
      WITH rot AS (SELECT component, weights FROM read_parquet(
        '/tmp/graft_binrot_oracle_%ORACLE_KEY%/rotation/*.parquet')),
      proj AS (SELECT e.vec_id, r.component, ${duckProj("e.embedding")} AS p
               FROM embeddings e, rot r),
      pv AS (SELECT vec_id, list(p ORDER BY component) AS v
             FROM proj GROUP BY vec_id),
      q AS (SELECT v AS qv FROM pv WHERE vec_id = 13),
      qn AS (SELECT sqrt(list_sum(list_transform(qv,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n FROM q),
      cxs AS (SELECT vec_id, CAST(round(CASE WHEN l2 = 0 THEN 0.0
                ELSE l1 / (8 * l2) END, 4) AS REAL) AS cx
              FROM (SELECT vec_id,
                      list_sum(list_transform(v,
                        x -> abs(CAST(x AS DOUBLE)))) AS l1,
                      sqrt(list_sum(list_transform(v,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
                    FROM pv)),
      est AS (SELECT pv.vec_id,
                round(CASE WHEN cxs.cx = 0 THEN 0.0 ELSE
                  (2 * list_sum(list_transform(range(1, len(pv.v)+1),
                     i -> CASE WHEN pv.v[i] >= 0
                          THEN CAST(q.qv[i] AS DOUBLE) / qn.n
                          ELSE 0.0 END))
                   - list_sum(list_transform(q.qv,
                       x -> CAST(x AS DOUBLE) / qn.n)))
                  / (8 * CAST(cxs.cx AS DOUBLE)) END, 4) AS est
              FROM pv JOIN cxs USING (vec_id), q, qn),
      cand AS (SELECT vec_id, est FROM est
               ORDER BY est DESC, vec_id ASC LIMIT 50)
      SELECT c.vec_id, c.est,
             ${duckCosine("e.embedding", "qq.qe")} AS cosine
      FROM cand c JOIN embeddings e USING (vec_id),
           (SELECT embedding AS qe FROM embeddings WHERE vec_id = 13) qq
      ORDER BY cosine DESC, c.vec_id ASC LIMIT 5
    """))

  /** Inner-product top-k — Milvus's IP metric (the third of its float
    * metrics next to L2 and COSINE; the right metric when embeddings
    * carry meaningful norms, e.g. popularity-scaled retrieval): rank by
    * dot product DESC. Same scan-and-TakeOrderedAndProject shape as
    * `knn_exact_topk` — metric choice changes one codegen expression,
    * nothing about the plan. */
  private val knnIpTopK = Q(
    "knn_ip_topk",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      e.crossJoin(broadcast(q))
        .withColumn("ip",
          round(VectorFunctions.dot(col("embedding"), col("qe")), 4))
        .select("vec_id", "ip")
        .orderBy(col("ip").desc, col("vec_id").asc)
        .limit(5)
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

  /** MMR diversity rerank over a top-20 cosine candidate cut (see
    * [[graft.search.Mmr]]): 5 picks at λ=0.7. The oracle replays the
    * sequential argmax exactly — the 5 steps unrolled as chained CTEs,
    * every relevance/similarity/blend rounded to 4 decimals with id
    * tie-breaks, so the pick ORDER itself is hash-checked. */
  private val mmrRerank = Q(
    "mmr_rerank",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      val cand = e.crossJoin(broadcast(q))
        .withColumn("rel",
          round(VectorFunctions.cosineSim(col("embedding"), col("qe")), 4))
        .orderBy(col("rel").desc, col("vec_id").asc)
        .limit(20)
        .select(col("vec_id"), col("rel"), col("embedding"))
      graft.search.Mmr.rerank(cand, "vec_id", "rel", "embedding",
        k = 5, lambda = 0.7)
    },
    Some {
      def picked(upTo: Int): String =
        (1 to upTo).map(i => s"SELECT vec_id FROM p$i").mkString(" UNION ")
      def step(i: Int): String =
        s"""p$i AS (SELECT c.vec_id, round(0.7*c.rel - 0.3*max(s.s), 4) AS mmr
           |       FROM rel c JOIN sim s ON s.ia = c.vec_id
           |       WHERE s.ib IN (${picked(i - 1)})
           |         AND c.vec_id NOT IN (${picked(i - 1)})
           |       GROUP BY c.vec_id, c.rel
           |       ORDER BY mmr DESC, c.vec_id ASC LIMIT 1)""".stripMargin
      s"""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      rel AS (SELECT e.vec_id, e.embedding,
                     ${duckCosine("e.embedding", "q.qe")} AS rel
              FROM embeddings e, q
              ORDER BY rel DESC, e.vec_id ASC LIMIT 20),
      sim AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                     ${duckCosine("a.embedding", "b.embedding")} AS s
              FROM rel a JOIN rel b ON a.vec_id != b.vec_id),
      p1 AS (SELECT vec_id, round(0.7 * rel, 4) AS mmr FROM rel
             ORDER BY mmr DESC, vec_id ASC LIMIT 1),
      ${(2 to 5).map(step).mkString(",\n      ")}
      SELECT step, CAST(vec_id AS BIGINT) AS vec_id, mmr FROM (
        ${(1 to 5).map(i =>
          s"SELECT $i AS step, vec_id, mmr FROM p$i").mkString(
          " UNION ALL ")})
      ORDER BY step ASC
      """
    })

  /** Corpus diversity: the EXACT mean pairwise cosine over all n·(n−1)
    * ordered pairs of normalized vectors — computed in ONE linear scan
    * via the moment identity `Σ_{i≠j} uᵢ·uⱼ = ‖Σu‖² − n` (each uᵢ unit),
    * never materializing a pair. The naive form is a self-join (10¹⁶
    * pairs at 10⁸ rows); this is a per-dimension sum (map-side combined,
    * `dim` rows shuffle) plus a 64-row reduce — the curation-time
    * diversity monitor that tells you SemDeDup/near-dup passes are
    * actually decorrelating the corpus. Zero vectors are excluded (no
    * direction ⇒ no cosine), count returned for observability. */
  private val corpusDiversity = Q(
    "corpus_diversity",
    (s, dir) =>
      graft.search.VectorStats.meanPairwiseCosine(
        Tables.embeddings(s, dir), "embedding"),
    Some("""
      WITH nrm AS (SELECT * FROM (
          SELECT vec_id, embedding,
                 sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE)^2))) AS nv
          FROM embeddings) WHERE nv > 0),
      u AS (SELECT unnest(range(1, len(embedding)+1)) AS pos,
                   unnest(embedding) AS v, nv
            FROM nrm),
      sums AS (SELECT pos, sum(CAST(v AS DOUBLE) / nv) AS sd
               FROM u GROUP BY pos),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nrm)
      SELECT nn.n AS n,
             round((sum(sd*sd) - nn.n) / (nn.n * (nn.n - 1)) + 1e-12, 4)
               AS mean_pairwise_cosine
      FROM sums, nn GROUP BY nn.n
    """))

  /** Sparse-vector dot-product search (see [[graft.search.SparseVec]]):
    * corpus sparsified to top-8 positive dims, query likewise, scored by
    * the posting-list join + weighted-sum aggregate. The oracle replays
    * sparsification (round-then-rank with dim tie-breaks), the dim join,
    * and the score aggregate. */
  private val sparseVectorSearch = Q(
    "sparse_vector_search",
    (s, dir) => {
      import graft.search.SparseVec
      val e = Tables.embeddings(s, dir)
      // the posting table is the stored inverted index (partitioned by
      // dim at warehouse scale) — build-once; the timed search is the
      // dim join + score aggregate over it
      val post = graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_sparse_${math.abs(dir.hashCode)}") {
        SparseVec.postings(e, "vec_id", "embedding", topN = 8)
      }
      val qp = SparseVec.postings(
        e.where(col("vec_id") === 0), "vec_id", "embedding", topN = 8)
      SparseVec.search(post, qp, "vec_id", k = 10)
    },
    Some("""
      WITH pr AS (SELECT vec_id, unnest(range(1, len(embedding)+1)) AS dim,
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
             FROM top t JOIN q USING (dim) GROUP BY t.vec_id)
      SELECT vec_id, score FROM sc
      ORDER BY score DESC, vec_id ASC LIMIT 10
    """))

  /** [[sparseVectorSearch]]'s STORED-artifact serve with WAND/max-score
    * pruning ([[graft.search.SparseVec.searchWandIndex]]): per-dim
    * upper bounds (the `dimstats` table written at build) rank the
    * query's posting lists best-first; lists whose bound sum cannot
    * reach the kth partial score are pruned from candidate generation,
    * exact re-score on survivors. The ORACLE is the exhaustive
    * dot-product ranking — identical SQL to `sparse_vector_search`
    * because the pruning is lossless BY CONSTRUCTION, and the
    * hash-match proves it on the learned-sparse tier (the lexical twin
    * is `fulltext_wand_search`). */
  private val sparseWandSearch = Q(
    "sparse_wand_search",
    (s, dir) => {
      import graft.search.SparseVec
      val e = Tables.embeddings(s, dir)
      val idx = s"/tmp/graft_sparsewand_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        SparseVec.build(e, "vec_id", "embedding", topN = 8, idx)
      }
      val qp = SparseVec.postings(
        e.where(col("vec_id") === 0), "vec_id", "embedding", topN = 8)
        .select(col("dim"), col("w"))
      SparseVec.searchWandIndex(s, idx, qp, "vec_id", k = 10)
    },
    Some("""
      WITH pr AS (SELECT vec_id, unnest(range(1, len(embedding)+1)) AS dim,
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
             FROM top t JOIN q USING (dim) GROUP BY t.vec_id)
      SELECT vec_id, score FROM sc
      ORDER BY score DESC, vec_id ASC LIMIT 10
    """))

  /** A BATCH of sparse queries served as ONE plan
    * ([[graft.search.SparseVec.searchBulkIndex]] — the bulk
    * discipline closing on the learned-sparse tier, `fulltext_bulk_
    * search`'s embedding twin): three sparsified queries' dims union
    * into one posting-list seek, the (qid, dim, qw) side broadcasts,
    * one aggregate scores all (query, doc) pairs, a qid window keeps
    * each k. The oracle replays the three exhaustive rankings with
    * the same per-qid window. */
  private val sparseBulkSearch = Q(
    "sparse_bulk_search",
    (s, dir) => {
      import graft.search.SparseVec
      val e = Tables.embeddings(s, dir)
      val idx = s"/tmp/graft_sparsewand_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        SparseVec.build(e, "vec_id", "embedding", topN = 8, idx)
      }
      val qp = SparseVec.postings(
        e.where(col("vec_id").isin(0, 1, 2)), "vec_id", "embedding",
        topN = 8)
        .select(col("vec_id").as("qid"), col("dim"), col("w"))
      SparseVec.searchBulkIndex(s, idx, qp, "vec_id", k = 5)
    },
    Some("""
      WITH pr AS (SELECT vec_id, unnest(range(1, len(embedding)+1)) AS dim,
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
             FROM sc)
      SELECT CAST(qid AS BIGINT) AS qid, vec_id, score FROM rk
      WHERE rn <= 5
      ORDER BY qid ASC, score DESC, vec_id ASC
    """))

  /** BULK sparse serving with WAND pruning
    * ([[graft.search.SparseVec.searchBulkWandIndex]] —
    * `fulltext_bulk_wand`'s learned-sparse twin, round 15): the SAME
    * three-query batch as `sparse_bulk_search`, served with per-query
    * max-score bound pruning whose essential-prefix loop is SHARED
    * across the batch. The oracle is the same exhaustive per-qid
    * ranking — lossless on the embedding-shaped tier too. */
  private val sparseBulkWand = Q(
    "sparse_bulk_wand",
    (s, dir) => {
      import graft.search.SparseVec
      val e = Tables.embeddings(s, dir)
      val idx = s"/tmp/graft_sparsewand_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        SparseVec.build(e, "vec_id", "embedding", topN = 8, idx)
      }
      val qp = SparseVec.postings(
        e.where(col("vec_id").isin(0, 1, 2)), "vec_id", "embedding",
        topN = 8)
        .select(col("vec_id").as("qid"), col("dim"), col("w"))
      SparseVec.searchBulkWandIndex(s, idx, qp, "vec_id", k = 5)
    },
    Some("""
      WITH pr AS (SELECT vec_id, unnest(range(1, len(embedding)+1)) AS dim,
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
             FROM sc)
      SELECT CAST(qid AS BIGINT) AS qid, vec_id, score FROM rk
      WHERE rn <= 5
      ORDER BY qid ASC, score DESC, vec_id ASC
    """))

  /** Keyset iteration over the SPARSE tier
    * ([[graft.search.SparseVec.searchIterateIndex]] —
    * `fulltext_search_iterate`'s embedding twin): every doc sharing a
    * dim with the query, dot-product scored, paged by id with the
    * cursor predicate pushed onto the dim-pruned postings scan. The
    * oracle buckets the full id-ordered match list into pages. */
  private val sparseSearchIterate = Q(
    "sparse_search_iterate",
    (s, dir) => {
      import graft.search.SparseVec
      val e = Tables.embeddings(s, dir)
      val idx = s"/tmp/graft_sparsewand_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        SparseVec.build(e, "vec_id", "embedding", topN = 8, idx)
      }
      val qp = SparseVec.postings(
        e.where(col("vec_id") === 0), "vec_id", "embedding", topN = 8)
        .select(col("dim"), col("w"))
      var cursor: Option[Long] = None
      val pages = (0 until 3).map { p =>
        val pg = SparseVec.searchIterateIndex(s, idx, qp, "vec_id",
          cursor, 7)
        val mx = pg.agg(max(col("vec_id"))).first()
        if (!mx.isNullAt(0)) cursor = Some(mx.getLong(0))
        pg.select(lit(p).cast("int").as("page"), col("vec_id"),
          col("score"))
      }
      pages.reduce(_ unionByName _)
        .orderBy(col("page").asc, col("vec_id").asc)
    },
    Some("""
      WITH pr AS (SELECT vec_id, unnest(range(1, len(embedding)+1)) AS dim,
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
      r AS (SELECT vec_id, score,
                   row_number() OVER (ORDER BY vec_id ASC) AS rn
            FROM sc)
      SELECT CAST((rn - 1) // 7 AS INT) AS page, vec_id, score
      FROM r WHERE rn <= 21
      ORDER BY page ASC, vec_id ASC
    """))

  /** SPARSE + DENSE hybrid (the Milvus 2.4 flagship hybrid mode: a
    * SPLADE-shape sparse representation and a dense vector of the SAME
    * entity, each searched in its own index, fused by RRFRanker): the
    * sparse leg is the top-8 posting sparsification served from the
    * inverted-postings artifact (`sparse_vector_search`'s tier), the
    * dense leg exact L2, both top-20 rank lists fused 1/(60+rank).
    * The oracle replays the sparsification, the posting join, both
    * rankings, and the fusion. */
  private val sparseDenseHybridRrf = Q(
    "sparse_dense_hybrid_rrf",
    (s, dir) => {
      import graft.search.{Bm25, SparseVec}
      val e = Tables.embeddings(s, dir)
      val post = graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_sparse_${math.abs(dir.hashCode)}") {
        SparseVec.postings(e, "vec_id", "embedding", topN = 8)
      }
      val qp = SparseVec.postings(
        e.where(col("vec_id") === 0), "vec_id", "embedding", topN = 8)
      val sparseRanks = Bm25.topRanks(
        SparseVec.search(post, qp, "vec_id", k = 20)
          .withColumnRenamed("vec_id", "id"),
        "score", n = 20, ascending = false, rankCol = "sparse_rank")
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      val kd = e.crossJoin(broadcast(q))
        .select(col("vec_id").as("id"),
          round(VectorFunctions.l2Sq(col("embedding"), col("qe")), 4)
            .as("d"))
      val knnRanks = Bm25.topRanks(kd, "d", n = 20,
        ascending = true, rankCol = "knn_rank")
      Bm25.rrfFuse(sparseRanks, "sparse_rank", knnRanks, "knn_rank")
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("rrf").desc, col("vec_id").asc)
        .limit(10)
    },
    Some("""
      WITH pr AS (SELECT vec_id, unnest(range(1, len(embedding)+1)) AS dim,
                         unnest(embedding) AS v
                  FROM embeddings),
      pw AS (SELECT vec_id, dim, round(CAST(v AS DOUBLE), 4) AS w FROM pr),
      top AS (SELECT vec_id, dim, w FROM (
          SELECT vec_id, dim, w,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY w DESC, dim ASC) AS rn
          FROM pw WHERE w > 0) WHERE rn <= 8),
      sq AS (SELECT dim, w AS qw FROM top WHERE vec_id = 0),
      sc AS (SELECT t.vec_id, round(sum(t.w * sq.qw), 4) AS score
             FROM top t JOIN sq USING (dim) GROUP BY t.vec_id),
      sr AS (SELECT vec_id AS id, CAST(row_number() OVER
                 (ORDER BY score DESC, vec_id ASC) AS BIGINT) AS sparse_rank
             FROM (SELECT * FROM sc
                   ORDER BY score DESC, vec_id ASC LIMIT 20)),
      dq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      kd AS (SELECT e.vec_id AS id, %L2% AS d FROM embeddings e, dq),
      knr AS (SELECT id, CAST(row_number() OVER
                 (ORDER BY d ASC, id ASC) AS BIGINT) AS knn_rank
              FROM (SELECT * FROM kd ORDER BY d ASC, id ASC LIMIT 20))
      SELECT coalesce(sr.id, knr.id) AS vec_id,
             round(coalesce(1.0 / (60 + sparse_rank), 0)
                 + coalesce(1.0 / (60 + knn_rank), 0), 6) AS rrf,
             sparse_rank, knn_rank
      FROM sr FULL OUTER JOIN knr ON sr.id = knr.id
      ORDER BY rrf DESC, vec_id ASC LIMIT 10
    """.replace("%L2%", duckL2("e.embedding", "dq.qe"))))

  /** SPARSE + DENSE hybrid fused by Milvus's WEIGHTED ranker
    * ([[graft.search.Bm25.weightedFuse]] — the `WeightedRanker` half
    * of the 2.4 hybrid-search API; `sparse_dense_hybrid_rrf` covers
    * the RRFRanker half): each leg's raw metric score normalizes to
    * [0, 1] with the metric's mapping — L2 via the documented
    * `1 − 2·atan(√d)/π`, the sparse leg's UNBOUNDED dot product via
    * the arctan squash `2·atan(s)/π` (the `(1+s)/2` cosine mapping
    * would exceed 1 on unbounded scores and the weights would stop
    * bounding leg influence — round-15 review finding) — then fuses
    * as `0.3·sparse + 0.7·dense`, a doc missing from a leg
    * contributing 0. Unlike RRF this preserves score MAGNITUDE, which
    * is why Milvus ships both rankers. The oracle replays both legs,
    * both
    * normalizations (DuckDB's atan/pi against Spark's — the rounded
    * publication makes the transcendental mapping comparable), and
    * the weighted sum. Plan: two k-bounded legs + one full-outer
    * equi-join — no corpus-sized work past the legs themselves. */
  private val sparseDenseHybridWeighted = Q(
    "sparse_dense_hybrid_weighted",
    (s, dir) => {
      import graft.search.{Bm25, SparseVec}
      val e = Tables.embeddings(s, dir)
      val post = graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_sparse_${math.abs(dir.hashCode)}") {
        SparseVec.postings(e, "vec_id", "embedding", topN = 8)
      }
      val qp = SparseVec.postings(
        e.where(col("vec_id") === 0), "vec_id", "embedding", topN = 8)
      val sparseLeg = SparseVec.search(post, qp, "vec_id", k = 20)
        .withColumnRenamed("vec_id", "id")
        .select(col("id"),
          Bm25.normalizeUnbounded(col("score")).as("ns"))
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      val denseLeg = e.crossJoin(broadcast(q))
        .select(col("vec_id").as("id"),
          round(VectorFunctions.l2Sq(col("embedding"), col("qe")), 4)
            .as("d"))
        .orderBy(col("d").asc, col("id").asc).limit(20)
        .select(col("id"), Bm25.normalizeL2(col("d")).as("nd"))
      Bm25.weightedFuse(sparseLeg, "ns", 0.3, denseLeg, "nd", 0.7)
        .select(col("id").as("vec_id"), col("fused"),
          round(col("ns"), 6).as("ns"), round(col("nd"), 6).as("nd"))
        .orderBy(col("fused").desc, col("vec_id").asc)
        .limit(10)
    },
    Some("""
      WITH pr AS (SELECT vec_id, unnest(range(1, len(embedding)+1)) AS dim,
                         unnest(embedding) AS v
                  FROM embeddings),
      pw AS (SELECT vec_id, dim, round(CAST(v AS DOUBLE), 4) AS w FROM pr),
      top AS (SELECT vec_id, dim, w FROM (
          SELECT vec_id, dim, w,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY w DESC, dim ASC) AS rn
          FROM pw WHERE w > 0) WHERE rn <= 8),
      sq AS (SELECT dim, w AS qw FROM top WHERE vec_id = 0),
      sc AS (SELECT t.vec_id, round(sum(t.w * sq.qw), 4) AS score
             FROM top t JOIN sq USING (dim) GROUP BY t.vec_id),
      sl AS (SELECT vec_id AS id, 2.0 * atan(score) / pi() AS ns
             FROM (SELECT * FROM sc
                   ORDER BY score DESC, vec_id ASC LIMIT 20)),
      dq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      kd AS (SELECT e.vec_id AS id, %L2% AS d FROM embeddings e, dq),
      dl AS (SELECT id, 1.0 - 2.0 * atan(sqrt(d)) / pi() AS nd
             FROM (SELECT * FROM kd ORDER BY d ASC, id ASC LIMIT 20))
      SELECT coalesce(sl.id, dl.id) AS vec_id,
             round(coalesce(ns * 0.3, 0) + coalesce(nd * 0.7, 0), 6)
               AS fused,
             round(ns, 6) AS ns, round(nd, 6) AS nd
      FROM sl FULL OUTER JOIN dl ON sl.id = dl.id
      ORDER BY fused DESC, vec_id ASC LIMIT 10
    """.replace("%L2%", duckL2("e.embedding", "dq.qe"))))

  /** Shared fixture plumbing for the TRI-leg hybrid entries: the three
    * k=20 legs of the canonical RAG stack, each a REAL index serve —
    * dense = the shared IVF artifact at full probe (exact by
    * construction, so the oracle replays exact L2), learned-sparse =
    * WAND over the stored postings artifact (lossless pruning, oracle
    * replays the exhaustive dot product), lexical = BM25 over the
    * documents table (vec_id ≡ doc_id, `hybrid_search_rrf`'s entity
    * contract). Returns (dense(id,d), sparse(id,score), lex(id,bm25)),
    * each k-bounded and deterministically tie-broken. */
  private def triLegs(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    import graft.search.{Bm25, IvfIndex, SparseVec}
    val e = Tables.embeddings(s, dir)
    val docs = Tables.documents(s, dir)
    val ivfDir = s"/tmp/graft_ivf_${math.abs(dir.hashCode)}"
    val model =
      if (new java.io.File(IvfIndex.centroidsDir(ivfDir)).exists())
        IvfIndex.load(s, ivfDir)
      else IvfIndex.build(e, "embedding", ivfDir, nlist = 16)
    val qv = e.where(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val dense = IvfIndex.search(s, model, "embedding", "vec_id", qv,
        k = 20, nprobe = model.nlist)
      .select(col("vec_id").as("id"), col("distance").as("d"))
    val sidx = s"/tmp/graft_sparsewand_${math.abs(dir.hashCode)}"
    mutateOnce(s, sidx) {
      val p = new org.apache.hadoop.fs.Path(sidx)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      SparseVec.build(e, "vec_id", "embedding", topN = 8, sidx)
    }
    val qp = SparseVec.postings(
      e.where(col("vec_id") === 0), "vec_id", "embedding", topN = 8)
      .select(col("dim"), col("w"))
    val sparse = SparseVec.searchWandIndex(s, sidx, qp, "vec_id", k = 20)
      .withColumnRenamed("vec_id", "id")
    val lex = Bm25.score(docs, "doc_id", "text",
      Seq("scan", "filter", "merge"))
    (dense, sparse, lex)
  }

  /** Oracle CTE block shared by the tri-leg entries: the three exact
    * leg replays (`sr`/`dr`/`br` end in k=20 rank-ready lists). */
  private val triLegOracleCtes = """
      WITH pr AS (SELECT vec_id, unnest(range(1, len(embedding)+1)) AS dim,
                         unnest(embedding) AS v
                  FROM embeddings),
      pw AS (SELECT vec_id, dim, round(CAST(v AS DOUBLE), 4) AS w FROM pr),
      top AS (SELECT vec_id, dim, w FROM (
          SELECT vec_id, dim, w,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY w DESC, dim ASC) AS rn
          FROM pw WHERE w > 0) WHERE rn <= 8),
      sq AS (SELECT dim, w AS qw FROM top WHERE vec_id = 0),
      sc AS (SELECT t.vec_id, round(sum(t.w * sq.qw), 4) AS score
             FROM top t JOIN sq USING (dim) GROUP BY t.vec_id),
      s20 AS (SELECT vec_id AS id, score FROM sc
              ORDER BY score DESC, vec_id ASC LIMIT 20),
      dq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      kd AS (SELECT e.vec_id AS id, %L2% AS d FROM embeddings e, dq),
      d20 AS (SELECT id, d FROM kd ORDER BY d ASC, id ASC LIMIT 20),
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
      b20 AS (SELECT doc_id AS id, bm25 FROM bm
              ORDER BY bm25 DESC, doc_id ASC LIMIT 20)
  """.replace("%L2%", duckL2("e.embedding", "dq.qe"))

  /** TRI-LEG hybrid search under the N-leg RRFRanker — Milvus's
    * `hybrid_search` takes a LIST of AnnSearchRequests fused by one
    * ranker, and the canonical RAG stack is exactly three: dense ANN +
    * learned-sparse + lexical BM25 (the reference's own multi-strategy
    * union, src/app.py:276-303, is this shape with ad-hoc fusion; the
    * 2-leg entries covered the API's smallest list). Each leg ranks
    * its k=20 list (ties id-asc), [[graft.search.Bm25.rrfFuseN]] sums
    * 1/(60+rank) over the legs containing the doc, final top-10. The
    * oracle replays all three legs exactly (full-probe IVF ≡ exact,
    * WAND ≡ exhaustive — both lossless by construction) and the 3-way
    * full-outer fusion. Plan: three k-bounded serves + two full-outer
    * equi-joins of 20-row lists; fusion cost is O(k), independent of
    * corpus size. */
  private val hybridTriLegRrf = Q(
    "hybrid_tri_leg_rrf",
    (s, dir) => {
      import graft.search.Bm25
      val (dense, sparse, lex) = triLegs(s, dir)
      val dr = Bm25.topRanks(dense, "d", n = 20, ascending = true,
        rankCol = "dense_rank")
      val sr = Bm25.topRanks(sparse, "score", n = 20, ascending = false,
        rankCol = "sparse_rank")
      val br = Bm25.topRanks(lex, "bm25", n = 20, ascending = false,
        rankCol = "bm25_rank")
      Bm25.rrfFuseN(Seq(dr -> "dense_rank", sr -> "sparse_rank",
          br -> "bm25_rank"))
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("rrf").desc, col("vec_id").asc)
        .limit(10)
    },
    Some(triLegOracleCtes + """
      , dr AS (SELECT id, CAST(row_number() OVER
                 (ORDER BY d ASC, id ASC) AS BIGINT) AS dense_rank
               FROM d20),
      sr AS (SELECT id, CAST(row_number() OVER
                 (ORDER BY score DESC, id ASC) AS BIGINT) AS sparse_rank
             FROM s20),
      br AS (SELECT id, CAST(row_number() OVER
                 (ORDER BY bm25 DESC, id ASC) AS BIGINT) AS bm25_rank
             FROM b20)
      SELECT coalesce(dr.id, sr.id, br.id) AS vec_id,
             round(coalesce(1.0 / (60 + dense_rank), 0)
                 + coalesce(1.0 / (60 + sparse_rank), 0)
                 + coalesce(1.0 / (60 + bm25_rank), 0), 6) AS rrf,
             dense_rank, sparse_rank, bm25_rank
      FROM dr FULL OUTER JOIN sr ON dr.id = sr.id
              FULL OUTER JOIN br ON coalesce(dr.id, sr.id) = br.id
      ORDER BY rrf DESC, vec_id ASC LIMIT 10
    """))

  /** TRI-LEG hybrid under the N-leg WeightedRanker — the same three
    * legs fused by weight (0.5 dense + 0.3 sparse + 0.2 lexical),
    * each leg first normalized to [0, 1] with ITS metric's mapping:
    * L2 distance via `1 − 2·atan(√d)/π`, the sparse dot product and
    * BM25 (both unbounded non-negative) via the arctan squash
    * `2·atan(s)/π` — so no leg can exceed its weight and the three
    * metrics compose ([[graft.search.Bm25.weightedFuseN]]). Preserves
    * score MAGNITUDE where RRF preserves only order — the reason
    * Milvus ships both rankers. Oracle replays legs, normalizations,
    * and the weighted 3-way fusion. */
  private val hybridTriLegWeighted = Q(
    "hybrid_tri_leg_weighted",
    (s, dir) => {
      import graft.search.Bm25
      val (dense, sparse, lex) = triLegs(s, dir)
      val dl = dense.orderBy(col("d").asc, col("id").asc).limit(20)
        .select(col("id"), Bm25.normalizeL2(col("d")).as("nd"))
      val sl = sparse.orderBy(col("score").desc, col("id").asc).limit(20)
        .select(col("id"), Bm25.normalizeUnbounded(col("score")).as("ns"))
      val bl = lex.orderBy(col("bm25").desc, col("id").asc).limit(20)
        .select(col("id"), Bm25.normalizeUnbounded(col("bm25")).as("nb"))
      Bm25.weightedFuseN(Seq((dl, "nd", 0.5), (sl, "ns", 0.3),
          (bl, "nb", 0.2)))
        .select(col("id").as("vec_id"), col("fused"),
          round(col("nd"), 6).as("nd"), round(col("ns"), 6).as("ns"),
          round(col("nb"), 6).as("nb"))
        .orderBy(col("fused").desc, col("vec_id").asc)
        .limit(10)
    },
    Some(triLegOracleCtes + """
      , dn AS (SELECT id, 1.0 - 2.0 * atan(sqrt(d)) / pi() AS nd FROM d20),
      sn AS (SELECT id, 2.0 * atan(score) / pi() AS ns FROM s20),
      bn AS (SELECT id, 2.0 * atan(bm25) / pi() AS nb FROM b20)
      SELECT coalesce(dn.id, sn.id, bn.id) AS vec_id,
             round(coalesce(nd * 0.5, 0) + coalesce(ns * 0.3, 0)
                 + coalesce(nb * 0.2, 0), 6) AS fused,
             round(nd, 6) AS nd, round(ns, 6) AS ns, round(nb, 6) AS nb
      FROM dn FULL OUTER JOIN sn ON dn.id = sn.id
              FULL OUTER JOIN bn ON coalesce(dn.id, sn.id) = bn.id
      ORDER BY fused DESC, vec_id ASC LIMIT 10
    """))

  /** ARRAY-typed metadata field filtered search (round 16 — Milvus
    * schemas allow `ARRAY` fields with `array_contains` /
    * `array_contains_any` filter expressions; the collection layer
    * carries the field through create/insert/read because a collection
    * is a parquet directory and parquet nests natively — no special
    * casing, which IS the Spark-first answer): a collection with a
    * `tags array<string>` field (derived deterministically from the
    * documents metadata so the oracle can re-derive it), filtered by
    * the `array_contains_any` shape (`arrays_overlap` against a
    * 2-value literal — a codegen'd builtin inside the scan, no UDF),
    * exact L2 kNN over the survivors. At 100 TB the filter runs inside
    * the corpus scan; the selective-element path that avoids the scan
    * entirely is `array_scalar_index_filter`'s exploded element
    * index. */
  private val arrayFilteredSearch = Q(
    "array_filtered_search",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val d = Tables.documents(s, dir)
      val tagged = e.join(d, e("vec_id") === d("doc_id"))
        .select(e("vec_id"), e("embedding"),
          array(col("lang"), col("source"),
            concat(lit("d"), (col("doc_id") % 5).cast("string")))
            .as("tags"))
      val out = s"/tmp/graft_arrcoll_${math.abs(dir.hashCode)}"
      val coll = graft.core.Collection(s, out)
      mutateOnce(s, out) {
        val p = new org.apache.hadoop.fs.Path(out)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        coll.create(tagged.schema)
        coll.append(tagged)
      }
      val qv = e.where(col("vec_id") === 0).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
      coll.read
        .where(arrays_overlap(col("tags"), typedlit(Seq("zh", "d3"))))
        .select(col("vec_id"),
          round(VectorFunctions.l2Sq(col("embedding"), typedlit(qv)), 4)
            .as("distance"))
        .orderBy(col("distance").asc, col("vec_id").asc)
        .limit(10)
    },
    Some("""
      WITH tg AS (SELECT e.vec_id, e.embedding,
                         [d.lang, d.source,
                          'd' || CAST(d.doc_id % 5 AS VARCHAR)] AS tags
                  FROM embeddings e JOIN documents d
                       ON d.doc_id = e.vec_id),
      f AS (SELECT vec_id, embedding AS fe FROM tg
            WHERE list_contains(tags, 'zh') OR list_contains(tags, 'd3')),
      dq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      kd AS (SELECT f.vec_id, %L2% AS distance FROM f CROSS JOIN dq)
      SELECT vec_id, distance FROM kd
      ORDER BY distance ASC, vec_id ASC LIMIT 10
    """.replace("%L2%", duckL2("f.fe", "dq.qe"))))

  /** Sparse-tier UPSERT — the last index family without maintenance
    * twins (round 12; IVF: versioned latest-wins, BM25/phrase:
    * fold-then-append, SQ8/binary: delete-then-insert — this is the
    * delete-then-insert member, because sparse postings re-encode
    * per-row with no trained state): the stored inverted index
    * ([[graft.search.SparseVec.build]], PARTITIONED BY DIM — the
    * posting-list layout) was encoded from WRONG (reversed) vectors
    * for `vec_id % 10 = 1`; [[graft.search.SparseVec.upsertBatch]]
    * tombstones those ids, folds the postings (dim partitioning
    * preserved — it IS the index), and appends the re-encoded TRUE
    * rows. Serve = [[graft.search.SparseVec.searchIndex]]: the query's
    * ≤ topN dims as a literal `dim IN (...)` directory prune, posting
    * join, score aggregate, tombstone mask. The oracle is the clean
    * full-corpus sparse recompute — a skipped fold (stale reversed
    * postings still scoring), dropped append, or unmasked delete
    * hash-mismatches. */
  private val sparseUpsertSearch = Q(
    "sparse_upsert_search",
    (s, dir) => {
      import graft.search.SparseVec
      val e = Tables.embeddings(s, dir)
      val idx = s"/tmp/graft_sparseup_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val corrupted = e.withColumn("embedding",
          when(col("vec_id") % 10 === 1, reverse(col("embedding")))
            .otherwise(col("embedding")))
        SparseVec.build(corrupted, "vec_id", "embedding", topN = 8, idx)
        SparseVec.upsertBatch(s, e.where(col("vec_id") % 10 === 1),
          "vec_id", "embedding", topN = 8, idx)
      }
      val qp = SparseVec.postings(
        e.where(col("vec_id") === 0), "vec_id", "embedding", topN = 8)
      SparseVec.searchIndex(s, idx, qp, "vec_id", k = 10)
    },
    Some("""
      WITH pr AS (SELECT vec_id, unnest(range(1, len(embedding)+1)) AS dim,
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
             FROM top t JOIN q USING (dim) GROUP BY t.vec_id)
      SELECT vec_id, score FROM sc
      ORDER BY score DESC, vec_id ASC LIMIT 10
    """))

  /** STREAMING ingest of the sparse postings artifact — the streaming
    * twin completing the family's maintenance story (every incremental
    * index here has one: `streaming_bm25_ingest`,
    * `streaming_graph_ingest`, `streaming_asym_ingest`, ...): a REAL
    * micro-batch run (file source, maxFilesPerTrigger=1, foreachBatch)
    * sparsifies ONLY each arriving batch and file-appends its postings
    * into the dim-partitioned layout — per-row encodings under a fixed
    * sparsifier need no refit ever, so the stream sink is exactly the
    * batch append. The final search reads the artifact alone; the
    * oracle recomputes the whole pipeline from the full corpus, so a
    * dropped or double-processed micro-batch hash-mismatches. */
  private val streamingSparseIngest = Q(
    "streaming_sparse_ingest",
    (s, dir) => {
      import graft.search.SparseVec
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.types._
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val work = s"/tmp/graft_streamsparse_${math.abs(dir.hashCode)}"
      val conf = s.sparkContext.hadoopConfiguration
      val fs = new Path(work).getFileSystem(conf)
      val idx = s"$work/sparseidx"
      streamInputOnce(s, work, Seq(s"$work/_ckpt", idx)) { writeOne =>
        writeOne(e.where(col("vec_id") < 250), "00_base.parquet",
          1000000L)
        writeOne(e.where(col("vec_id") >= 250 && col("vec_id") < 400),
          "01_batch.parquet", 2000000L)
        writeOne(e.where(col("vec_id") >= 400), "02_batch.parquet",
          3000000L)
      }
      // Declare the dim-BUCKETED layout before the first append
      // (round 16, guide §6 small-files): a per-dim layout writes one
      // file per touched dim PER MICRO-BATCH (~64 parquet creates,
      // ~1.1 s each batch at this FS), while the bucketed writer's
      // range shuffle lands a couple of dim-sorted files across B
      // directories. Same serve semantics — every verb reads the
      // marker ([[graft.search.SparseVec.bucketCount]]).
      fs.mkdirs(new Path(idx))
      SparseVec.writeBucketsMarker(s, idx, 16)
      val schema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = true))))
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
      val sq = src.writeStream
        .option("checkpointLocation", s"$work/_ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          SparseVec.append(batch, "vec_id", "embedding", topN = 8, idx)
          ()
        }
        .start()
      try sq.processAllAvailable() finally sq.stop()
      val qp = SparseVec.postings(
        e.where(col("vec_id") === 0), "vec_id", "embedding", topN = 8)
      SparseVec.searchIndex(s, idx, qp, "vec_id", k = 10)
    },
    Some("""
      WITH pr AS (SELECT vec_id, unnest(range(1, len(embedding)+1)) AS dim,
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
             FROM top t JOIN q USING (dim) GROUP BY t.vec_id)
      SELECT vec_id, score FROM sc
      ORDER BY score DESC, vec_id ASC LIMIT 10
    """))

  /** Weighted-score hybrid fusion — the OTHER Milvus hybrid_search
    * ranker (WeightedRanker; `hybrid_search_rrf` covers the RRFRanker):
    * each leg's top-20 scores are min-max normalized into [0,1] (the
    * kNN leg inverted, nearer ⇒ higher), then blended 0.6·lexical +
    * 0.4·dense. Rank fusion ignores score GAPS; weighted fusion keeps
    * them — the tradeoff is the point of having both. Same bounded
    * shape as RRF: per-leg top-k cuts, 1-row stats broadcasts, a 20-row
    * full-outer join — nothing corpus-sized past the two scans. */
  private val hybridSearchWeighted = Q(
    "hybrid_search_weighted",
    (s, dir) => {
      import graft.search.Bm25
      val docs = Tables.documents(s, dir)
      val e = Tables.embeddings(s, dir)
      val bmTop = Bm25.score(docs, "doc_id", "text",
          terms = Seq("scan", "filter", "merge"))
        .orderBy(col("bm25").desc, col("id").asc).limit(20)
      val bmNorm = bmTop.crossJoin(broadcast(
          bmTop.agg(min("bm25").as("bmin"), max("bm25").as("bmax"))))
        .select(col("id"), when(col("bmax") === col("bmin"), lit(1.0))
          .otherwise(round((col("bm25") - col("bmin"))
            / (col("bmax") - col("bmin")), 4)).as("nb"))
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      val kdTop = e.crossJoin(broadcast(q))
        .select(col("vec_id").as("id"),
          round(VectorFunctions.l2Sq(col("embedding"), col("qe")), 4).as("d"))
        .orderBy(col("d").asc, col("id").asc).limit(20)
      val kdNorm = kdTop.crossJoin(broadcast(
          kdTop.agg(min("d").as("dmin"), max("d").as("dmax"))))
        .select(col("id"), when(col("dmax") === col("dmin"), lit(1.0))
          .otherwise(round((col("dmax") - col("d"))
            / (col("dmax") - col("dmin")), 4)).as("nk"))
      bmNorm.join(kdNorm, Seq("id"), "full_outer")
        .select(col("id").as("doc_id"),
          round(lit(0.6) * coalesce(col("nb"), lit(0.0))
            + lit(0.4) * coalesce(col("nk"), lit(0.0)), 4).as("weighted"),
          col("nb"), col("nk"))
        .orderBy(col("weighted").desc, col("doc_id").asc)
        .limit(10)
    },
    Some("""
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
      bmtop AS (SELECT * FROM bm ORDER BY bm25 DESC, doc_id ASC LIMIT 20),
      bmn AS (SELECT doc_id,
                CASE WHEN mx = mn THEN 1.0
                     ELSE round((bm25 - mn) / (mx - mn), 4) END AS nb
              FROM bmtop CROSS JOIN
                (SELECT min(bm25) AS mn, max(bm25) AS mx FROM bmtop) st),
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      kd AS (SELECT e.vec_id AS doc_id, %L2% AS d FROM embeddings e, q),
      kdtop AS (SELECT * FROM kd ORDER BY d ASC, doc_id ASC LIMIT 20),
      kdn AS (SELECT doc_id,
                CASE WHEN mx = mn THEN 1.0
                     ELSE round((mx - d) / (mx - mn), 4) END AS nk
              FROM kdtop CROSS JOIN
                (SELECT min(d) AS mn, max(d) AS mx FROM kdtop) st)
      SELECT coalesce(bmn.doc_id, kdn.doc_id) AS doc_id,
             round(0.6 * coalesce(nb, 0) + 0.4 * coalesce(nk, 0), 4)
               AS weighted,
             nb, nk
      FROM bmn FULL OUTER JOIN kdn ON bmn.doc_id = kdn.doc_id
      ORDER BY weighted DESC, doc_id ASC LIMIT 10
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Search pagination — Milvus search_iterator / offset+limit parity:
    * page 2 (rows 6-10) of the exact ranking. OFFSET composes with the
    * top-k machinery (Spark folds limit+offset into one bounded
    * TakeOrderedAndProject of offset+limit rows — still per-partition
    * heaps, never a global sort), which is why deep pagination is
    * costed by OFFSET+LIMIT, not by result size — the plan materializes
    * `offset+limit` rows however deep the page. */
  private val searchPagination = Q(
    "search_pagination",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      e.crossJoin(broadcast(q))
        .withColumn("distance", Knn.distCol(col("embedding"), col("qe")))
        .select("vec_id", "distance")
        .orderBy(col("distance").asc, col("vec_id").asc)
        .offset(5)
        .limit(5)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id, %L2% AS distance
      FROM embeddings e, q
      ORDER BY distance ASC, e.vec_id ASC LIMIT 5 OFFSET 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Freshness-decayed search — the decay-ranker model (Milvus 2.6
    * gauss/exp/linear decay rankers; Elasticsearch function_score
    * before it): final score = similarity × gauss(age), where the
    * gaussian half-life (72 h here) is measured from the corpus's most
    * recent activity. Each vector's freshness comes from the events
    * stream (its latest event's timestamp — the join key is the
    * deterministic `event_id mod |corpus|` mapping, exact-µs
    * arithmetic both engines); similarity is the plain 1/(1+L2). The
    * decay factor is rounded BEFORE the product so cross-engine libm
    * (exp) differences cannot flip a rank. Scale shape: freshness is
    * one groupBy over events (shuffled by key once), origin is a 1-row
    * broadcast, and the fused ranking stays TakeOrderedAndProject —
    * decay adds zero extra corpus passes. */
  private val timeDecaySearch = Q(
    "time_decay_search",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val ev = Tables.events(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      // corpus cardinality rides into the plan as a broadcast 1-row
      // aggregate (the oracle's CTE n) — no eager driver-side count job,
      // no extra corpus pass
      val nEmb = broadcast(e.agg(count(lit(1)).as("n_emb")))
      val fresh = ev.crossJoin(nEmb)
        .groupBy(pmod(col("event_id"), col("n_emb")).as("vec_id"))
        .agg(max(unix_micros(col("ts"))).as("doc_us"))
      val origin = fresh.agg(max(col("doc_us")).as("origin_us"))
      e.crossJoin(broadcast(q))
        .withColumn("distance", Knn.distCol(col("embedding"), col("qe")))
        .join(fresh, "vec_id")
        .crossJoin(broadcast(origin))
        .withColumn("age_h",
          (col("origin_us") - col("doc_us")).cast("double") / lit(3600e6))
        .withColumn("decay",
          round(exp(lit(math.log(0.5)) * pow(col("age_h") / lit(72.0), 2))
            + lit(1e-9), 4))
        .withColumn("score",
          round((lit(1.0) / (lit(1.0) + col("distance"))) * col("decay")
            + lit(1e-9), 4))
        .select("vec_id", "distance", "decay", "score")
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(10)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      n AS (SELECT count(*) AS n_emb FROM embeddings),
      fresh AS (SELECT event_id % n.n_emb AS vec_id,
                       max(epoch_us(ts)) AS doc_us
                FROM events, n GROUP BY 1),
      origin AS (SELECT max(doc_us) AS origin_us FROM fresh),
      d AS (SELECT e.vec_id, %L2% AS distance FROM embeddings e, q),
      sc AS (SELECT d.vec_id, d.distance,
                    round(exp(ln(0.5) *
                      ((CAST(origin_us - doc_us AS DOUBLE) / 3600000000.0)
                        / 72.0)^2) + 1e-9, 4) AS decay
             FROM d JOIN fresh USING (vec_id) CROSS JOIN origin)
      SELECT vec_id, distance, decay,
             round((1.0 / (1.0 + distance)) * decay + 1e-9, 4) AS score
      FROM sc ORDER BY score DESC, vec_id ASC LIMIT 10
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Distance-keyset search iterator — Milvus `search_iterator` parity
    * (the ANN sibling of `collection_iterate`'s query_iterator; OFFSET
    * pagination is `search_pagination`): the cursor is the previous
    * page's last (distance, vec_id), and each page ranks only rows
    * STRICTLY PAST the cursor — `d > lastD OR (d = lastD AND id >
    * lastId)`, well-defined because the distance is rounded (4
    * decimals) and tie-broken on the unique id. Why this beats OFFSET
    * at depth: page p of OFFSET materializes offset+limit = p·k rows
    * in every partition's heap, while the keyset page's heap is always
    * k; iterator state is ONE (distance, id) pair however deep the
    * chain, and the chain is stable under concurrent appends ranked
    * past the cursor. The entry replays a 4-page chain and tags rows
    * with their page; the oracle re-derives the same assignment from a
    * row_number window (rounded distance + unique id ⇒ keyset pages ≡
    * rank buckets), hash-checking the cursor arithmetic row by row.
    * Composes with any tier that yields (vec_id, distance) — on the
    * IVF layout the pre-cursor rows are additionally partition-pruned.
    * (Presentation note: the final union re-evaluates each bounded
    * page so the entry's plan shows the per-page TakeOrdered shape; a
    * real consumer takes each page once — [[graft.core.Collection
    * .pages]] checkpoints pages for exactly that one-scan contract.) */
  private val searchIterate = Q(
    "search_iterate",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      def scored = e.crossJoin(broadcast(q))
        .withColumn("distance", Knn.distCol(col("embedding"), col("qe")))
        .select("vec_id", "distance")
      var cursor: Option[(Double, Long)] = None
      val pages = (0 until 4).map { p =>
        val past = cursor match {
          case Some((d, id)) =>
            scored.where(col("distance") > d ||
              (col("distance") === d && col("vec_id") > id))
          case None => scored
        }
        val pg = past.orderBy(col("distance").asc, col("vec_id").asc).limit(5)
        // O(1) iterator state: the page's max (distance, id) — a 1-row
        // aggregate over the k-row page, never a corpus-sized collect
        val mx = pg.agg(max(struct(col("distance"), col("vec_id")))).first()
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
      FROM r WHERE rn <= 20
      ORDER BY page ASC, distance ASC, vec_id ASC
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Embedding-norm outlier detection — the batch health check that
    * catches broken upstream encodes (zeroed rows, exploding norms,
    * truncated writes) BEFORE they poison an index build or a cosine
    * dedup pass: Tukey fences (Q1/Q3 ± 1.5·IQR) over the norm
    * distribution, per-row flags against the broadcast 1-row bounds.
    * `embedding_profile` watches per-DIMENSION drift; this is the
    * per-ROW companion. Exact percentiles here; at 100 TB swap in
    * approx_percentile and the plan is otherwise unchanged (one scan
    * for the bounds, one scan for the flags). */
  private val embeddingOutliers = Q(
    "embedding_outliers",
    (s, dir) => {
      import graft.search.VectorStats
      val e = Tables.embeddings(s, dir)
      val norms = e.select(col("vec_id"),
        round(VectorStats.normCol(col("embedding")), 4).as("nrm"))
      val fences = norms.agg(
        percentile(col("nrm"), lit(0.25)).as("q1"),
        percentile(col("nrm"), lit(0.75)).as("q3"))
        .select(round(col("q1") - lit(1.5) * (col("q3") - col("q1")), 4).as("lo"),
          round(col("q3") + lit(1.5) * (col("q3") - col("q1")), 4).as("hi"))
      norms.crossJoin(broadcast(fences))
        .select(col("vec_id"), col("nrm"), col("lo"), col("hi"),
          (col("nrm") < col("lo") || col("nrm") > col("hi")).as("is_outlier"))
        .orderBy(col("vec_id").asc)
    },
    Some("""
      WITH n AS (SELECT vec_id,
                        round(sqrt(list_sum(list_transform(embedding,
                          x -> CAST(x AS DOUBLE)^2))), 4) AS nrm
                 FROM embeddings),
      f AS (SELECT round(q1 - 1.5 * (q3 - q1), 4) AS lo,
                   round(q3 + 1.5 * (q3 - q1), 4) AS hi
            FROM (SELECT quantile_cont(nrm, 0.25) AS q1,
                         quantile_cont(nrm, 0.75) AS q3 FROM n) qs)
      SELECT vec_id, nrm, lo, hi,
             (nrm < lo OR nrm > hi) AS is_outlier
      FROM n CROSS JOIN f
      ORDER BY vec_id ASC
    """))

  /** Candidate-recall report for the approximate tiers that rerank —
    * the number that justifies each tier's overfetch margin (the
    * SRP-LSH side of this story is `ann_recall_report`): of the exact
    * top-5, how many survive into SQ8's margin-4 candidate set, MRL's
    * 50-candidate prefix-16 stage, PQ's ADC margin-4 tier, IVF_PQ's
    * probe-4 + ADC tier, and the graph index's beam-4×3 walk? Recall
    * < 1 here means the rerank CANNOT recover the loss — margin (or
    * beam/probe) sizing, not rerank quality, is what fixes it. Every
    * candidate ranking and both exact rankings are replayed by the
    * oracle — PQ encoding, the ADC tables, the IVF probe, and all
    * three beam rounds included — so the measurement itself is
    * hash-checked. */
  private val indexRecallReport = Q(
    "index_recall_report",
    (s, dir) => {
      import graft.search.Quantize
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      val exactL2 = e.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(VectorFunctions.l2Sq(col("embedding"), col("qe")), 4).as("d"))
        .orderBy(col("d").asc, col("vec_id").asc).limit(5).select("vec_id")
      val exactCos = e.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(VectorFunctions.cosineSim(col("embedding"), col("qe")), 4)
            .as("c"))
        .orderBy(col("c").desc, col("vec_id").asc).limit(5).select("vec_id")
      val sq8Tab = graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_sq8_${math.abs(dir.hashCode)}") {
        Quantize.quantizedTable(e, "embedding", "vec_id")
      }
      val sq8Cand = sq8Tab.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(VectorFunctions.dequantL2(
            col("__qvec"), col("__scale"), col("qe")), 4).as("ad"))
        .orderBy(col("ad").asc, col("vec_id").asc).limit(20).select("vec_id")
      val mrlCand = e.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(VectorFunctions.cosineSim(
            slice(col("embedding"), 1, 16), slice(col("qe"), 1, 16)), 4)
            .as("c1"))
        .orderBy(col("c1").desc, col("vec_id").asc).limit(50).select("vec_id")
      // PQ / IVF_PQ / graph indexes: same build-or-load discipline (and
      // the same /tmp keys) as their serving queries, so the report
      // measures the EXACT artifacts those queries search
      import graft.search.{GraphAnn, IvfIndex, Pq}
      val qArr = q.collect()(0).getSeq[Float](0).toArray
      val pqDir = s"/tmp/graft_pq_${math.abs(dir.hashCode)}"
      val pq =
        if (new java.io.File(Pq.codesDir(pqDir) + "/_SUCCESS").exists())
          Pq.load(s, pqDir)
        else Pq.build(e, "embedding", "vec_id", pqDir)
      val ivfDir = s"/tmp/graft_ivf_${math.abs(dir.hashCode)}"
      val ivf =
        if (new java.io.File(IvfIndex.centroidsDir(ivfDir)).exists())
          IvfIndex.load(s, ivfDir)
        else IvfIndex.build(e, "embedding", ivfDir, nlist = 16)
      val gBase = s"/tmp/graft_graphann_${math.abs(dir.hashCode)}"
      val adjDf = graft.core.Artifacts.buildOnce(s, s"$gBase/adjacency") {
        GraphAnn.buildAdjacency(e, "vec_id", "embedding")
      }
      val entryDf = graft.core.Artifacts.buildOnce(s, s"$gBase/entry") {
        GraphAnn.medoid(e, "vec_id", "embedding")
      }
      stageOracleOnceLazy(s, "recall", dir)(Seq(
        "codebooks" -> s.read.parquet(Pq.codebooksDir(pqDir)),
        "centroids" -> s.read.parquet(IvfIndex.centroidsDir(ivfDir)),
        "assign" -> IvfIndex.readDataMerged(s, ivfDir)
          .select(col("vec_id"), col("cluster_id")),
        "adjacency" -> adjDf.select("src", "dst"),
        "entry" -> entryDf))
      val pqCand = Pq.adcCandidates(s, pq, "vec_id", qArr, 20)
        .select("vec_id")
      val probed = IvfIndex.probeClusters(ivf, qArr, 4)
      val sel = IvfIndex.readDataMerged(s, ivfDir)
        .where(col("cluster_id").isin(probed: _*)).select("vec_id")
      val ivfpqCand = s.read.parquet(Pq.codesDir(pqDir))
        .join(sel, Seq("vec_id"), "left_semi")
        .withColumn("ad", Pq.adcExpr(pq, qArr))
        .orderBy(col("ad").asc, col("vec_id").asc).limit(20)
        .select("vec_id")
      val entryId = entryDf.collect()(0).getLong(0)
      val graphTop = GraphAnn.beamSearch(adjDf, e, "vec_id", "embedding",
        qArr, entryId, k = 5).select("vec_id")
      // OPQ∘IVF_PQ tier: same artifacts as opq_ivf_pq_search (rotated
      // corpus, rotated-space IVF + PQ) — candidates picked in rotated
      // space, recall measured against the RAW-space exact top-5 (the
      // rotation is orthonormal, so a lossless tier would score 1.0)
      val (rotated, opqModel, opqIvf, opqIvfDir, opqPqDir) =
        opqIvfPqArtifacts(s, dir)
      val rqArr = rotated.where(col("vec_id") === 0).select("rvec")
        .collect()(0).getSeq[Float](0).toArray
      val oprobed = IvfIndex.probeClusters(opqIvf, rqArr, 4)
      val osel = IvfIndex.readDataMerged(s, opqIvfDir)
        .where(col("cluster_id").isin(oprobed: _*)).select("vec_id")
      val opqIvfpqCand = s.read.parquet(Pq.codesDir(opqPqDir))
        .join(osel, Seq("vec_id"), "left_semi")
        .withColumn("ad", Pq.adcExpr(opqModel, rqArr))
        .orderBy(col("ad").asc, col("vec_id").asc).limit(20)
        .select("vec_id")
      def row(method: String, nCand: Int, exact: org.apache.spark.sql.DataFrame,
              cand: org.apache.spark.sql.DataFrame) =
        exact.join(cand, Seq("vec_id"), "left_semi")
          .agg((count(lit(1)) / 5.0).as("recall"))
          .select(lit(method).as("method"),
            lit(nCand).cast("long").as("n_candidates"),
            round(col("recall"), 4).as("recall"))
      row("mrl16_stage1", 50, exactCos, mrlCand)
        .unionAll(row("sq8_margin4", 20, exactL2, sq8Cand))
        .unionAll(row("pq_adc_margin4", 20, exactL2, pqCand))
        .unionAll(row("ivfpq_probe4_margin4", 20, exactL2, ivfpqCand))
        .unionAll(row("opq_ivfpq_probe4_margin4", 20, exactL2, opqIvfpqCand))
        .unionAll(row("graph_beam4x3", 5, exactL2, graphTop))
        .orderBy(col("method").asc)
    },
    Some(s"""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      exl AS (SELECT vec_id FROM (
          SELECT e.vec_id, ${duckL2("e.embedding", "q.qe")} AS d
          FROM embeddings e, q
          ORDER BY d ASC, e.vec_id ASC LIMIT 5) t1),
      exc AS (SELECT vec_id FROM (
          SELECT e.vec_id, ${duckCosine("e.embedding", "q.qe")} AS c
          FROM embeddings e, q
          ORDER BY c DESC, e.vec_id ASC LIMIT 5) t2),
      sc AS (SELECT vec_id, embedding,
               CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale
             FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS mx
                   FROM embeddings) t3),
      qz AS (SELECT vec_id, scale,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * scale, 0) AS INT)) AS qv
             FROM sc),
      sq8cand AS (SELECT vec_id FROM (
          SELECT vec_id,
                 round(list_sum(list_transform(range(1, len(qv)+1),
                   i -> ((CASE WHEN scale = 0 THEN 0.0
                               ELSE qv[i] / scale END)
                         - CAST(q.qe[i] AS DOUBLE)) ^ 2)), 4) AS ad
          FROM qz, q ORDER BY ad ASC, vec_id ASC LIMIT 20) t4),
      mrlcand AS (SELECT vec_id FROM (
          SELECT e.vec_id,
                 ${duckCosine("list_slice(e.embedding, 1, 16)",
                              "list_slice(q.qe, 1, 16)")} AS c1
          FROM embeddings e, q
          ORDER BY c1 DESC, e.vec_id ASC LIMIT 50) t5),
      cb AS (SELECT * FROM read_parquet(
        '/tmp/graft_recall_oracle_%ORACLE_KEY%/codebooks/*.parquet')),
      enc AS (SELECT vec_id, sub, code FROM (
          SELECT e.vec_id, cb.sub, cb.code,
                 row_number() OVER (PARTITION BY e.vec_id, cb.sub ORDER BY
                   list_sum(list_transform(range(1, 9),
                     i -> (CAST(e.embedding[cb.sub*8 + i] AS DOUBLE)
                           - CAST(cb.centroid[i] AS DOUBLE))^2)) ASC,
                   cb.code ASC) AS rn
          FROM embeddings e CROSS JOIN cb) t6 WHERE rn = 1),
      lut AS (SELECT cb.sub, cb.code,
                     list_sum(list_transform(range(1, 9),
                       i -> (CAST(q.qe[cb.sub*8 + i] AS DOUBLE)
                             - CAST(cb.centroid[i] AS DOUBLE))^2)) AS d
              FROM cb CROSS JOIN q),
      adcd AS (SELECT enc.vec_id, round(sum(lut.d), 4) AS ad
               FROM enc JOIN lut USING (sub, code) GROUP BY enc.vec_id),
      pqcand AS (SELECT vec_id FROM (
          SELECT vec_id, ad FROM adcd
          ORDER BY ad ASC, vec_id ASC LIMIT 20) t7),
      cent AS (SELECT * FROM read_parquet(
        '/tmp/graft_recall_oracle_%ORACLE_KEY%/centroids/*.parquet')),
      probe AS (SELECT cluster_id FROM (
          SELECT cluster_id,
                 row_number() OVER (ORDER BY
                   list_sum(list_transform(range(1, len(centroid)+1),
                     i -> (CAST(centroid[i] AS DOUBLE)
                           - CAST(qp.qe[i] AS DOUBLE))^2)) ASC,
                   cluster_id ASC) AS rn
          FROM cent, q qp) t8 WHERE rn <= 4),
      asg AS (SELECT * FROM read_parquet(
        '/tmp/graft_recall_oracle_%ORACLE_KEY%/assign/*.parquet')),
      sel AS (SELECT asg.vec_id FROM asg JOIN probe USING (cluster_id)),
      ivfpqcand AS (SELECT vec_id FROM (
          SELECT a.vec_id, a.ad FROM adcd a JOIN sel USING (vec_id)
          ORDER BY ad ASC, vec_id ASC LIMIT 20) t9),
      orot AS (SELECT component, weights FROM read_parquet(
        '/tmp/graft_opqrot_oracle_%ORACLE_KEY%/rotation/*.parquet')),
      oproj AS (SELECT e.vec_id, r.component, ${duckProj("e.embedding")} AS p
                FROM embeddings e, orot r),
      opv AS (SELECT vec_id, list(p ORDER BY component) AS v
              FROM oproj GROUP BY vec_id),
      oq AS (SELECT v AS qv FROM opv WHERE vec_id = 0),
      ocent AS (SELECT * FROM read_parquet(
        '/tmp/graft_opqivfpq_oracle_%ORACLE_KEY%/centroids/*.parquet')),
      oprobe AS (SELECT cluster_id FROM (
          SELECT cluster_id,
                 row_number() OVER (ORDER BY
                   list_sum(list_transform(range(1, len(centroid)+1),
                     i -> (CAST(centroid[i] AS DOUBLE)
                           - CAST(qp.qv[i] AS DOUBLE))^2)) ASC,
                   cluster_id ASC) AS rn
          FROM ocent, oq qp) to1 WHERE rn <= 4),
      oasg AS (SELECT * FROM read_parquet(
        '/tmp/graft_opqivfpq_oracle_%ORACLE_KEY%/assign/*.parquet')),
      osel AS (SELECT oasg.vec_id FROM oasg JOIN oprobe USING (cluster_id)),
      ocb AS (SELECT * FROM read_parquet(
        '/tmp/graft_opqivfpq_oracle_%ORACLE_KEY%/codebooks/*.parquet')),
      oenc AS (SELECT vec_id, sub, code FROM (
          SELECT opv.vec_id, ocb.sub, ocb.code,
                 row_number() OVER (PARTITION BY opv.vec_id, ocb.sub
                   ORDER BY list_sum(list_transform(range(1, 9),
                     i -> (CAST(opv.v[ocb.sub*8 + i] AS DOUBLE)
                           - CAST(ocb.centroid[i] AS DOUBLE))^2)) ASC,
                   ocb.code ASC) AS rn
          FROM opv JOIN osel USING (vec_id) CROSS JOIN ocb) to2
          WHERE rn = 1),
      olut AS (SELECT ocb.sub, ocb.code,
                      list_sum(list_transform(range(1, 9),
                        i -> (CAST(oq.qv[ocb.sub*8 + i] AS DOUBLE)
                              - CAST(ocb.centroid[i] AS DOUBLE))^2)) AS d
               FROM ocb CROSS JOIN oq),
      oivfpqcand AS (SELECT vec_id FROM (
          SELECT oenc.vec_id, round(sum(olut.d), 4) AS ad
          FROM oenc JOIN olut USING (sub, code) GROUP BY oenc.vec_id
          ORDER BY ad ASC, vec_id ASC LIMIT 20) to3),
      adjg AS (SELECT src, dst FROM read_parquet(
        '/tmp/graft_recall_oracle_%ORACLE_KEY%/adjacency/*.parquet')),
      entg AS (SELECT entry_id FROM read_parquet(
        '/tmp/graft_recall_oracle_%ORACLE_KEY%/entry/*.parquet')),
      dall AS (SELECT e.vec_id AS id, ${duckL2("e.embedding", "q.qe")} AS d
               FROM embeddings e, q),
      v0 AS (SELECT id, d FROM dall
             WHERE id IN (SELECT entry_id FROM entg)),
      f1 AS (SELECT id, d FROM v0 ORDER BY d ASC, id ASC LIMIT 4),
      n1 AS (SELECT DISTINCT a.dst AS id FROM adjg a JOIN f1 ON a.src = f1.id
             WHERE a.dst NOT IN (SELECT id FROM v0)),
      v1 AS (SELECT id, d FROM v0 UNION
             SELECT dall.id, dall.d FROM dall JOIN n1 USING (id)),
      x1 AS (SELECT id FROM f1),
      f2 AS (SELECT id, d FROM v1 WHERE id NOT IN (SELECT id FROM x1)
             ORDER BY d ASC, id ASC LIMIT 4),
      n2 AS (SELECT DISTINCT a.dst AS id FROM adjg a JOIN f2 ON a.src = f2.id
             WHERE a.dst NOT IN (SELECT id FROM v1)),
      v2 AS (SELECT id, d FROM v1 UNION
             SELECT dall.id, dall.d FROM dall JOIN n2 USING (id)),
      x2 AS (SELECT id FROM x1 UNION SELECT id FROM f2),
      f3 AS (SELECT id, d FROM v2 WHERE id NOT IN (SELECT id FROM x2)
             ORDER BY d ASC, id ASC LIMIT 4),
      n3 AS (SELECT DISTINCT a.dst AS id FROM adjg a JOIN f3 ON a.src = f3.id
             WHERE a.dst NOT IN (SELECT id FROM v2)),
      v3 AS (SELECT id, d FROM v2 UNION
             SELECT dall.id, dall.d FROM dall JOIN n3 USING (id)),
      graphtop AS (SELECT id AS vec_id FROM v3
                   ORDER BY d ASC, id ASC LIMIT 5)
      SELECT method, n_candidates, recall FROM (
        SELECT 'mrl16_stage1' AS method, CAST(50 AS BIGINT) AS n_candidates,
               round((SELECT count(*) FROM exc
                      WHERE vec_id IN (SELECT vec_id FROM mrlcand)) / 5.0, 4)
                 AS recall
        UNION ALL
        SELECT 'sq8_margin4', CAST(20 AS BIGINT),
               round((SELECT count(*) FROM exl
                      WHERE vec_id IN (SELECT vec_id FROM sq8cand)) / 5.0, 4)
        UNION ALL
        SELECT 'pq_adc_margin4', CAST(20 AS BIGINT),
               round((SELECT count(*) FROM exl
                      WHERE vec_id IN (SELECT vec_id FROM pqcand)) / 5.0, 4)
        UNION ALL
        SELECT 'ivfpq_probe4_margin4', CAST(20 AS BIGINT),
               round((SELECT count(*) FROM exl
                      WHERE vec_id IN (SELECT vec_id FROM ivfpqcand)) / 5.0, 4)
        UNION ALL
        SELECT 'opq_ivfpq_probe4_margin4', CAST(20 AS BIGINT),
               round((SELECT count(*) FROM exl
                      WHERE vec_id IN (SELECT vec_id FROM oivfpqcand)) / 5.0, 4)
        UNION ALL
        SELECT 'graph_beam4x3', CAST(5 AS BIGINT),
               round((SELECT count(*) FROM exl
                      WHERE vec_id IN (SELECT vec_id FROM graphtop)) / 5.0, 4)
      ) r ORDER BY method ASC
    """))

  /** Group-by-field search — Milvus's `group_by_field` (dedup-by-group
    * result mode, the complement of `grouped_knn_per_label`): each GROUP
    * appears at most once, represented by its best hit, and the top-3
    * GROUPS return — "best match per document when vectors are chunks",
    * collapsing near-duplicate hits from one source. Plan: one scan +
    * per-group argmin window (shuffles candidates keyed by group) +
    * top-k of the group representatives. */
  private val groupByFieldSearch = Q(
    "group_by_field_search",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("distance").asc, col("vec_id").asc)
      e.crossJoin(broadcast(q))
        .withColumn("distance", Knn.distCol(col("embedding"), col("qe")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("label", "vec_id", "distance")
        .orderBy(col("distance").asc, col("vec_id").asc)
        .limit(3)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      d AS (SELECT e.label, e.vec_id, %L2% AS distance FROM embeddings e, q),
      r AS (SELECT label, vec_id, distance,
                   row_number() OVER (PARTITION BY label
                                      ORDER BY distance, vec_id) AS rn
            FROM d)
      SELECT label, vec_id, distance FROM r WHERE rn = 1
      ORDER BY distance ASC, vec_id ASC LIMIT 3
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Group-size search — Milvus 2.5's `group_size` refinement of
    * `group_by_field`: the top-3 GROUPS (ranked by their best hit) each
    * return up to 2 hits (strict_group_size=false — a thinner group
    * returns what it has), so a chunked document contributes its best
    * passages without monopolizing the result. Plan: one scan computes
    * distances, a per-group window keeps each group's best 2
    * (shuffles candidates keyed by group), a min-over-group column
    * ranks groups, and the final dense_rank cut runs over ≤ 2·|groups|
    * representative rows — the only single-partition step is over that
    * bounded set, never the corpus. */
  private val groupSizeSearch = Q(
    "group_size_search",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      val wg = Window.partitionBy(col("label"))
        .orderBy(col("distance").asc, col("vec_id").asc)
      e.crossJoin(broadcast(q))
        .withColumn("distance", Knn.distCol(col("embedding"), col("qe")))
        .withColumn("rn", row_number().over(wg))
        .where(col("rn") <= 2)
        .withColumn("gbest",
          min(col("distance")).over(Window.partitionBy(col("label"))))
        .withColumn("grank", dense_rank().over(
          Window.orderBy(col("gbest").asc, col("label").asc)))
        .where(col("grank") <= 3)
        .select(col("label"), col("vec_id"), col("distance"),
          col("rn").cast("long").as("rn"))
        .orderBy(col("gbest").asc, col("label").asc, col("rn").asc)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      d AS (SELECT e.label, e.vec_id, %L2% AS distance FROM embeddings e, q),
      r AS (SELECT label, vec_id, distance,
                   row_number() OVER (PARTITION BY label
                                      ORDER BY distance, vec_id) AS rn
            FROM d),
      kept AS (SELECT * FROM r WHERE rn <= 2),
      g AS (SELECT *, min(distance) OVER (PARTITION BY label) AS gbest
            FROM kept),
      gr AS (SELECT *, dense_rank() OVER (ORDER BY gbest, label) AS grank
             FROM g)
      SELECT label, vec_id, distance, CAST(rn AS BIGINT) AS rn
      FROM gr WHERE grank <= 3
      ORDER BY gbest ASC, label ASC, rn ASC
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** DuckDB projection of a vector expression onto a staged rotation
    * row: float·float products accumulated in double (the engines' shared
    * op order), rounded to 4 decimals, cast to REAL — the textual mirror
    * of [[graft.search.Rotation.projectCol]]'s per-component math. */
  private def duckProj(vec: String): String =
    s"CAST(round(list_sum(list_transform(range(1, len($vec)+1), " +
      s"i -> CAST($vec[i] AS DOUBLE) * CAST(r.weights[i] AS DOUBLE))), 4) " +
      "AS REAL)"

  /** Build-or-load the 16-component rotation artifact for a fixture and
    * stage it for the `mrlrot` oracle. */
  private def rotationArtifact(s: org.apache.spark.sql.SparkSession,
                               dir: String)
      : Seq[(Int, Array[Float])] = {
    import graft.search.Rotation
    val e = Tables.embeddings(s, dir)
    val rotDf = graft.core.Artifacts.buildOnce(s,
      s"/tmp/graft_rot_${math.abs(dir.hashCode)}") {
      Rotation.learn(e, "embedding", dim = 64, k = 16)
    }
    stageOracleOnce(s, "mrlrot", dir)("rotation" -> rotDf)
    Rotation.collectRows(rotDf)
  }

  /** Rotated Matryoshka search (see [[graft.search.Rotation]]): PCA-
    * rotate so the 16-dim prefix carries the corpus' top-energy
    * directions, then the same two-stage rank → margin → rerank as
    * `mrl_truncated_search`. The rotation is a build-once staged
    * artifact; stage-1 projections, their rounding/casts, the margin cut
    * and the full-dimension rerank are all oracle-replayed. */
  private val mrlRotatedSearch = Q(
    "mrl_rotated_search",
    (s, dir) => {
      import graft.search.Rotation
      val e = Tables.embeddings(s, dir)
      val rows = rotationArtifact(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      val stage1 = e.crossJoin(broadcast(q))
        .select(col("vec_id"), col("embedding"), col("qe"),
          round(VectorFunctions.cosineSim(
            Rotation.projectCol(col("embedding"), rows),
            Rotation.projectCol(col("qe"), rows)), 4).as("c1"))
        .orderBy(col("c1").desc, col("vec_id").asc)
        .limit(50)
      stage1
        .select(col("vec_id"),
          round(VectorFunctions.cosineSim(col("embedding"), col("qe")), 4)
            .as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(5)
    },
    Some(s"""
      WITH rot AS (SELECT component, weights FROM read_parquet(
        '/tmp/graft_mrlrot_oracle_%ORACLE_KEY%/rotation/*.parquet')),
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      proj AS (SELECT e.vec_id, r.component, ${duckProj("e.embedding")} AS p
               FROM embeddings e, rot r),
      pv AS (SELECT vec_id, list(p ORDER BY component) AS v
             FROM proj GROUP BY vec_id),
      qproj AS (SELECT r.component, ${duckProj("q.qe")} AS p FROM q, rot r),
      qv AS (SELECT list(p ORDER BY component) AS v FROM qproj),
      s1 AS (SELECT e.vec_id, e.embedding,
                    ${duckCosine("pv.v", "qv.v")} AS c1
             FROM embeddings e JOIN pv ON pv.vec_id = e.vec_id, qv
             ORDER BY c1 DESC, e.vec_id ASC LIMIT 50)
      SELECT s1.vec_id, ${duckCosine("s1.embedding", "q.qe")} AS cosine
      FROM s1, q
      ORDER BY cosine DESC, s1.vec_id ASC LIMIT 5
    """))

  /** Rotation-lift report: mean stage-1 recall@50 of the exact cosine
    * top-5 over EIGHT query vectors, raw 16-dim prefix vs rotated
    * 16-dim prefix — the multi-query number that justifies shipping the
    * rotation (a single query is noise: `index_recall_report`'s
    * mrl16_stage1 row happens to score 0.8 on vec 0 while the raw-prefix
    * MEAN here is lower; the rotated mean must beat the raw mean, and
    * the measurement itself — projections, rounding, both candidate
    * rankings, the exact baseline — is hash-checked). */
  private val mrlRotationReport = Q(
    "mrl_rotation_report",
    (s, dir) => {
      import graft.search.Rotation
      val e = Tables.embeddings(s, dir)
      val rows = rotationArtifact(s, dir)
      val qids = Seq(0L, 7L, 13L, 21L, 33L, 47L, 55L, 61L)
      val qs = e.where(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val joined = e.crossJoin(broadcast(qs))
      import org.apache.spark.sql.expressions.Window
      def topPerQid(scored: org.apache.spark.sql.DataFrame, n: Int) =
        scored.withColumn("__rn", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("c").desc, col("vec_id").asc)))
          .where(col("__rn") <= n).select("qid", "vec_id")
      val exact = topPerQid(joined.select(col("qid"), col("vec_id"),
        round(VectorFunctions.cosineSim(col("embedding"), col("qv")), 4)
          .as("c")), 5)
      val raw = topPerQid(joined.select(col("qid"), col("vec_id"),
        round(VectorFunctions.cosineSim(
          slice(col("embedding"), 1, 16), slice(col("qv"), 1, 16)), 4)
          .as("c")), 50)
      val rot = topPerQid(joined.select(col("qid"), col("vec_id"),
        round(VectorFunctions.cosineSim(
          Rotation.projectCol(col("embedding"), rows),
          Rotation.projectCol(col("qv"), rows)), 4).as("c")), 50)
      def recallRow(method: String, cand: org.apache.spark.sql.DataFrame) =
        exact.join(cand.withColumn("hit", lit(1)),
            Seq("qid", "vec_id"), "left")
          .agg(round(count(col("hit")) / (5.0 * qids.size), 4).as("recall"))
          .select(lit(method).as("method"),
            lit(qids.size).cast("long").as("n_queries"), col("recall"))
      recallRow("mrl16_raw", raw)
        .unionAll(recallRow("mrl16_rotated", rot))
        .orderBy(col("method").asc)
    },
    Some(s"""
      WITH rot AS (SELECT component, weights FROM read_parquet(
        '/tmp/graft_mrlrot_oracle_%ORACLE_KEY%/rotation/*.parquet')),
      qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
             WHERE vec_id IN (0, 7, 13, 21, 33, 47, 55, 61)),
      proj AS (SELECT e.vec_id, r.component, ${duckProj("e.embedding")} AS p
               FROM embeddings e, rot r),
      pv AS (SELECT vec_id, list(p ORDER BY component) AS v
             FROM proj GROUP BY vec_id),
      qproj AS (SELECT q.qid, r.component, ${duckProj("q.qv")} AS p
                FROM qs q, rot r),
      qpv AS (SELECT qid, list(p ORDER BY component) AS v
              FROM qproj GROUP BY qid),
      ex AS (SELECT qid, vec_id FROM (
          SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
              ORDER BY ${duckCosine("e.embedding", "q.qv")} DESC,
                       e.vec_id ASC) AS rn
          FROM embeddings e, qs q) t WHERE rn <= 5),
      rawc AS (SELECT qid, vec_id FROM (
          SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
              ORDER BY ${duckCosine("list_slice(e.embedding, 1, 16)",
                                    "list_slice(q.qv, 1, 16)")} DESC,
                       e.vec_id ASC) AS rn
          FROM embeddings e, qs q) t WHERE rn <= 50),
      rotc AS (SELECT qid, vec_id FROM (
          SELECT qpv.qid, pv.vec_id, row_number() OVER (PARTITION BY
              qpv.qid ORDER BY ${duckCosine("pv.v", "qpv.v")} DESC,
              pv.vec_id ASC) AS rn
          FROM pv, qpv) t WHERE rn <= 50)
      SELECT method, CAST(8 AS BIGINT) AS n_queries, recall FROM (
        SELECT 'mrl16_raw' AS method,
               round(count(c.vec_id) / 40.0, 4) AS recall
        FROM ex e LEFT JOIN rawc c
          ON c.qid = e.qid AND c.vec_id = e.vec_id
        UNION ALL
        SELECT 'mrl16_rotated' AS method,
               round(count(c.vec_id) / 40.0, 4) AS recall
        FROM ex e LEFT JOIN rotc c
          ON c.qid = e.qid AND c.vec_id = e.vec_id) u
      ORDER BY method ASC
    """))

  /** Build-or-load the FULL-rank (64-component) rotation artifact for
    * the OPQ tier and stage it for the `opqrot` oracle. Distinct from
    * the 16-component MRL prefix artifact: OPQ needs a complete
    * orthonormal basis so rotated-space L2 is a faithful search metric,
    * not a truncation. */
  private def opqRotationArtifact(s: org.apache.spark.sql.SparkSession,
                                  dir: String)
      : Seq[(Int, Array[Float])] = {
    import graft.search.Rotation
    val e = Tables.embeddings(s, dir)
    val rotDf = graft.core.Artifacts.buildOnce(s,
      s"/tmp/graft_rot64_${math.abs(dir.hashCode)}") {
      Rotation.learn(e, "embedding", dim = 64, k = 64)
    }
    stageOracleOnce(s, "opqrot", dir)("rotation" -> rotDf)
    Rotation.collectRows(rotDf)
  }

  /** Build-or-load the rotated corpus, rotated-space PQ codebooks, and
    * rotated-space IVF layout the OPQ∘IVF_PQ entries share, staging the
    * `opqivfpq` oracle handoffs. Returns (rotated corpus, PQ model, IVF
    * model, ivfDir, opqDir). */
  private def opqIvfPqArtifacts(s: org.apache.spark.sql.SparkSession,
                                dir: String)
      : (org.apache.spark.sql.DataFrame, graft.search.Pq.Model,
         graft.search.IvfIndex.Model, String, String) = {
    import graft.search.{IvfIndex, Pq, Rotation}
    val e = Tables.embeddings(s, dir)
    val rows = opqRotationArtifact(s, dir)
    val rotated = e.select(col("vec_id"),
      Rotation.projectCol(col("embedding"), rows).as("rvec"))
    val ivfDir = s"/tmp/graft_opqivf_${math.abs(dir.hashCode)}"
    val opqDir = s"/tmp/graft_opq_${math.abs(dir.hashCode)}"
    val ivf =
      if (new java.io.File(IvfIndex.centroidsDir(ivfDir)).exists())
        IvfIndex.load(s, ivfDir)
      else IvfIndex.build(rotated, "rvec", ivfDir, nlist = 16)
    val opq =
      if (new java.io.File(Pq.codesDir(opqDir) + "/_SUCCESS").exists())
        Pq.load(s, opqDir)
      else Pq.build(rotated, "rvec", "vec_id", opqDir)
    stageOracleOnceLazy(s, "opqivfpq", dir)(Seq(
      "centroids" -> s.read.parquet(IvfIndex.centroidsDir(ivfDir)),
      "assign" -> IvfIndex.readDataMerged(s, ivfDir)
        .select(col("vec_id"), col("cluster_id")),
      "codebooks" -> s.read.parquet(Pq.codebooksDir(opqDir))))
    (rotated, opq, ivf, ivfDir, opqDir)
  }

  /** OPQ-style product quantization (Ge et al. 2013, "Optimized Product
    * Quantization"; the Faiss `OPQ..,PQ..` transform chain): PCA-rotate
    * the corpus so variance concentrates in the leading dims, THEN
    * product-quantize the rotated vectors. The rotation is the public
    * PCA initialization of OPQ (the iterative codebook/rotation
    * refinement is a training loop, out of engine scope) — it
    * decorrelates the subspaces a plain PQ splits blindly, which is
    * where PQ loses recall on correlated embeddings. Same build-once
    * artifact discipline (rotation + codebooks staged) and the oracle
    * replays rotation, per-subspace encoding, the ADC table, candidate
    * ranking, and the rotated-space exact rerank end-to-end. */
  private val opqAdcSearch = Q(
    "opq_adc_search",
    (s, dir) => {
      import graft.search.{Pq, Rotation}
      val e = Tables.embeddings(s, dir)
      val rows = opqRotationArtifact(s, dir)
      val rotated = e.select(col("vec_id"),
        Rotation.projectCol(col("embedding"), rows).as("rvec"))
      val opqDir = s"/tmp/graft_opq_${math.abs(dir.hashCode)}"
      val model =
        if (new java.io.File(Pq.codesDir(opqDir) + "/_SUCCESS").exists())
          Pq.load(s, opqDir)
        else Pq.build(rotated, "rvec", "vec_id", opqDir)
      stageOracleOnceLazy(s, "opq", dir)(Seq(
        "codebooks" -> s.read.parquet(Pq.codebooksDir(opqDir))))
      val rq = rotated.where(col("vec_id") === 0).select("rvec")
        .collect()(0).getSeq[Float](0).toArray
      Pq.adcSearch(s, model, rotated, "rvec", "vec_id", rq,
        k = 5, margin = 4)
    },
    Some(s"""
      WITH rot AS (SELECT component, weights FROM read_parquet(
        '/tmp/graft_opqrot_oracle_%ORACLE_KEY%/rotation/*.parquet')),
      proj AS (SELECT e.vec_id, r.component, ${duckProj("e.embedding")} AS p
               FROM embeddings e, rot r),
      pv AS (SELECT vec_id, list(p ORDER BY component) AS v
             FROM proj GROUP BY vec_id),
      q AS (SELECT v AS qv FROM pv WHERE vec_id = 0),
      cb AS (SELECT * FROM read_parquet(
        '/tmp/graft_opq_oracle_%ORACLE_KEY%/codebooks/*.parquet')),
      enc AS (SELECT vec_id, sub, code FROM (
          SELECT pv.vec_id, cb.sub, cb.code,
                 row_number() OVER (PARTITION BY pv.vec_id, cb.sub ORDER BY
                   list_sum(list_transform(range(1, 9),
                     i -> (CAST(pv.v[cb.sub*8 + i] AS DOUBLE)
                           - CAST(cb.centroid[i] AS DOUBLE))^2)) ASC,
                   cb.code ASC) AS rn
          FROM pv CROSS JOIN cb) WHERE rn = 1),
      lut AS (SELECT cb.sub, cb.code,
                     list_sum(list_transform(range(1, 9),
                       i -> (CAST(q.qv[cb.sub*8 + i] AS DOUBLE)
                             - CAST(cb.centroid[i] AS DOUBLE))^2)) AS d
              FROM cb CROSS JOIN q),
      adc AS (SELECT enc.vec_id, round(sum(lut.d), 4) AS approx_distance
              FROM enc JOIN lut USING (sub, code) GROUP BY enc.vec_id),
      cand AS (SELECT vec_id, approx_distance FROM adc
               ORDER BY approx_distance ASC, vec_id ASC LIMIT 20)
      SELECT c.vec_id, c.approx_distance, ${duckL2("pv.v", "q.qv")} AS distance
      FROM cand c JOIN pv ON pv.vec_id = c.vec_id, q
      ORDER BY distance ASC, c.vec_id ASC LIMIT 5
    """))

  /** OPQ ∘ IVF_PQ — the composition Faiss/Milvus actually deploy
    * (`OPQ64,IVF16,PQ8` in Faiss index-factory terms; Ge et al. 2013
    * §6 evaluates exactly this chain): PCA-rotate the corpus, fit the
    * coarse quantizer AND the PQ codebooks in ROTATED space, probe
    * nprobe=4 rotated centroids, ADC-scan only the surviving codes,
    * exact-rerank in rotated space (the rotation is orthonormal, so
    * rotated L2 ranks like raw L2 up to the staged-float rounding).
    * Reuses the `opqrot` rotation artifact and the `opq` PQ model; only
    * the IVF layout is new. The oracle replays rotation → centroid
    * probe → cluster restriction → encoding → ADC → rerank from the
    * staged handoffs end-to-end. */
  private val opqIvfPqSearch = Q(
    "opq_ivf_pq_search",
    (s, dir) => {
      import graft.search.{IvfIndex, Pq}
      val (rotated, opq, ivf, ivfDir, opqDir) = opqIvfPqArtifacts(s, dir)
      val rq = rotated.where(col("vec_id") === 0).select("rvec")
        .collect()(0).getSeq[Float](0).toArray
      val clusters = IvfIndex.probeClusters(ivf, rq, 4)
      val selected = IvfIndex.readDataMerged(s, ivfDir)
        .where(col("cluster_id").isin(clusters: _*))
        .select(col("vec_id"))
      val cand = s.read.parquet(Pq.codesDir(opqDir))
        .join(selected, Seq("vec_id"), "left_semi")
        .withColumn("approx_distance", Pq.adcExpr(opq, rq))
        .orderBy(col("approx_distance").asc, col("vec_id").asc)
        .limit(20)
        .select(col("vec_id"), col("approx_distance"))
      val rqLit = typedlit(rq.toSeq)
      broadcast(cand)
        .join(rotated, Seq("vec_id"))
        .withColumn("distance",
          round(VectorFunctions.l2Sq(col("rvec"), rqLit), 4))
        .select(col("vec_id"), col("approx_distance"), col("distance"))
        .orderBy(col("distance").asc, col("vec_id").asc)
        .limit(5)
    },
    Some(s"""
      WITH rot AS (SELECT component, weights FROM read_parquet(
        '/tmp/graft_opqrot_oracle_%ORACLE_KEY%/rotation/*.parquet')),
      proj AS (SELECT e.vec_id, r.component, ${duckProj("e.embedding")} AS p
               FROM embeddings e, rot r),
      pv AS (SELECT vec_id, list(p ORDER BY component) AS v
             FROM proj GROUP BY vec_id),
      q AS (SELECT v AS qv FROM pv WHERE vec_id = 0),
      cent AS (SELECT * FROM read_parquet(
        '/tmp/graft_opqivfpq_oracle_%ORACLE_KEY%/centroids/*.parquet')),
      probe AS (SELECT cluster_id FROM (
          SELECT cluster_id,
                 row_number() OVER (ORDER BY
                   list_sum(list_transform(range(1, len(centroid)+1),
                     i -> (CAST(centroid[i] AS DOUBLE)
                           - CAST(qe.qv[i] AS DOUBLE))^2)) ASC,
                   cluster_id ASC) AS rn
          FROM cent, q qe) WHERE rn <= 4),
      a AS (SELECT * FROM read_parquet(
        '/tmp/graft_opqivfpq_oracle_%ORACLE_KEY%/assign/*.parquet')),
      sel AS (SELECT a.vec_id FROM a JOIN probe USING (cluster_id)),
      cb AS (SELECT * FROM read_parquet(
        '/tmp/graft_opqivfpq_oracle_%ORACLE_KEY%/codebooks/*.parquet')),
      enc AS (SELECT vec_id, sub, code FROM (
          SELECT pv.vec_id, cb.sub, cb.code,
                 row_number() OVER (PARTITION BY pv.vec_id, cb.sub ORDER BY
                   list_sum(list_transform(range(1, 9),
                     i -> (CAST(pv.v[cb.sub*8 + i] AS DOUBLE)
                           - CAST(cb.centroid[i] AS DOUBLE))^2)) ASC,
                   cb.code ASC) AS rn
          FROM pv JOIN sel USING (vec_id) CROSS JOIN cb) WHERE rn = 1),
      lut AS (SELECT cb.sub, cb.code,
                     list_sum(list_transform(range(1, 9),
                       i -> (CAST(q.qv[cb.sub*8 + i] AS DOUBLE)
                             - CAST(cb.centroid[i] AS DOUBLE))^2)) AS d
              FROM cb CROSS JOIN q),
      adc AS (SELECT enc.vec_id, round(sum(lut.d), 4) AS approx_distance
              FROM enc JOIN lut USING (sub, code) GROUP BY enc.vec_id),
      cand AS (SELECT vec_id, approx_distance FROM adc
               ORDER BY approx_distance ASC, vec_id ASC LIMIT 20)
      SELECT c.vec_id, c.approx_distance, ${duckL2("pv.v", "q.qv")} AS distance
      FROM cand c JOIN pv ON pv.vec_id = c.vec_id, q
      ORDER BY distance ASC, c.vec_id ASC LIMIT 5
    """))

  /** OPQ-vs-PQ candidate recall over FOUR query vectors: recall@20 of
    * the exact L2 top-5 for the plain-PQ ADC tier vs the rotated (OPQ)
    * ADC tier — the multi-query measurement that justifies shipping the
    * rotation for PQ (same discipline as `mrl_rotation_report`: a
    * single query is noise, and the measurement itself — both encodings,
    * both ADC tables, both candidate rankings, the exact baseline — is
    * hash-checked end-to-end). */
  private val opqRecallReport = Q(
    "opq_recall_report",
    (s, dir) => {
      import graft.search.{Pq, Rotation}
      val e = Tables.embeddings(s, dir)
      val rows = opqRotationArtifact(s, dir)
      val rotated = e.select(col("vec_id"),
        Rotation.projectCol(col("embedding"), rows).as("rvec"))
      val pqDir = s"/tmp/graft_pq_${math.abs(dir.hashCode)}"
      val opqDir = s"/tmp/graft_opq_${math.abs(dir.hashCode)}"
      val pq =
        if (new java.io.File(Pq.codesDir(pqDir) + "/_SUCCESS").exists())
          Pq.load(s, pqDir)
        else Pq.build(e, "embedding", "vec_id", pqDir)
      val opq =
        if (new java.io.File(Pq.codesDir(opqDir) + "/_SUCCESS").exists())
          Pq.load(s, opqDir)
        else Pq.build(rotated, "rvec", "vec_id", opqDir)
      stageOracleOnceLazy(s, "pq", dir)(Seq(
        "codebooks" -> s.read.parquet(Pq.codebooksDir(pqDir))))
      stageOracleOnceLazy(s, "opq", dir)(Seq(
        "codebooks" -> s.read.parquet(Pq.codebooksDir(opqDir))))
      val qids = Seq(0L, 7L, 13L, 21L)
      val origQ = e.where(col("vec_id").isin(qids: _*))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      val rotQ = rotated.where(col("vec_id").isin(qids: _*))
        .select(col("vec_id"), col("rvec")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      def candUnion(model: Pq.Model, qs: Map[Long, Array[Float]]) =
        qids.map { qid =>
          Pq.adcCandidates(s, model, "vec_id", qs(qid), 20)
            .select(lit(qid).as("qid"), col("vec_id"))
        }.reduce(_ unionAll _)
      val qsDf = e.where(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      import org.apache.spark.sql.expressions.Window
      val exact = e.crossJoin(broadcast(qsDf))
        .select(col("qid"), col("vec_id"),
          round(VectorFunctions.l2Sq(col("embedding"), col("qv")), 4).as("d"))
        .withColumn("__rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("d").asc, col("vec_id").asc)))
        .where(col("__rn") <= 5).select("qid", "vec_id")
      def recallRow(method: String,
                    cand: org.apache.spark.sql.DataFrame) =
        exact.join(cand.withColumn("hit", lit(1)),
            Seq("qid", "vec_id"), "left")
          .agg(round(count(col("hit")) / (5.0 * qids.size), 4).as("recall"))
          .select(lit(method).as("method"),
            lit(qids.size).cast("long").as("n_queries"), col("recall"))
      recallRow("opq_adc20", candUnion(opq, rotQ))
        .unionAll(recallRow("pq_adc20", candUnion(pq, origQ)))
        .orderBy(col("method").asc)
    },
    Some(s"""
      WITH rot AS (SELECT component, weights FROM read_parquet(
        '/tmp/graft_opqrot_oracle_%ORACLE_KEY%/rotation/*.parquet')),
      proj AS (SELECT e.vec_id, r.component, ${duckProj("e.embedding")} AS p
               FROM embeddings e, rot r),
      pv AS (SELECT vec_id, list(p ORDER BY component) AS v
             FROM proj GROUP BY vec_id),
      qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
             WHERE vec_id IN (0, 7, 13, 21)),
      qpv AS (SELECT vec_id AS qid, v AS qv FROM pv
              WHERE vec_id IN (0, 7, 13, 21)),
      cbp AS (SELECT * FROM read_parquet(
        '/tmp/graft_pq_oracle_%ORACLE_KEY%/codebooks/*.parquet')),
      cbo AS (SELECT * FROM read_parquet(
        '/tmp/graft_opq_oracle_%ORACLE_KEY%/codebooks/*.parquet')),
      encp AS (SELECT vec_id, sub, code FROM (
          SELECT e.vec_id, cbp.sub, cbp.code,
                 row_number() OVER (PARTITION BY e.vec_id, cbp.sub ORDER BY
                   list_sum(list_transform(range(1, 9),
                     i -> (CAST(e.embedding[cbp.sub*8 + i] AS DOUBLE)
                           - CAST(cbp.centroid[i] AS DOUBLE))^2)) ASC,
                   cbp.code ASC) AS rn
          FROM embeddings e CROSS JOIN cbp) WHERE rn = 1),
      enco AS (SELECT vec_id, sub, code FROM (
          SELECT pv.vec_id, cbo.sub, cbo.code,
                 row_number() OVER (PARTITION BY pv.vec_id, cbo.sub ORDER BY
                   list_sum(list_transform(range(1, 9),
                     i -> (CAST(pv.v[cbo.sub*8 + i] AS DOUBLE)
                           - CAST(cbo.centroid[i] AS DOUBLE))^2)) ASC,
                   cbo.code ASC) AS rn
          FROM pv CROSS JOIN cbo) WHERE rn = 1),
      lutp AS (SELECT qs.qid, cbp.sub, cbp.code,
                     list_sum(list_transform(range(1, 9),
                       i -> (CAST(qs.qv[cbp.sub*8 + i] AS DOUBLE)
                             - CAST(cbp.centroid[i] AS DOUBLE))^2)) AS d
              FROM cbp CROSS JOIN qs),
      luto AS (SELECT qpv.qid, cbo.sub, cbo.code,
                     list_sum(list_transform(range(1, 9),
                       i -> (CAST(qpv.qv[cbo.sub*8 + i] AS DOUBLE)
                             - CAST(cbo.centroid[i] AS DOUBLE))^2)) AS d
              FROM cbo CROSS JOIN qpv),
      candp AS (SELECT qid, vec_id FROM (
          SELECT l.qid, e.vec_id, row_number() OVER (PARTITION BY l.qid
              ORDER BY round(sum(l.d), 4) ASC, e.vec_id ASC) AS rn
          FROM encp e JOIN lutp l USING (sub, code)
          GROUP BY l.qid, e.vec_id) t WHERE rn <= 20),
      cando AS (SELECT qid, vec_id FROM (
          SELECT l.qid, e.vec_id, row_number() OVER (PARTITION BY l.qid
              ORDER BY round(sum(l.d), 4) ASC, e.vec_id ASC) AS rn
          FROM enco e JOIN luto l USING (sub, code)
          GROUP BY l.qid, e.vec_id) t WHERE rn <= 20),
      ex AS (SELECT qid, vec_id FROM (
          SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
              ORDER BY ${duckL2("e.embedding", "q.qv")} ASC,
                       e.vec_id ASC) AS rn
          FROM embeddings e, qs q) t WHERE rn <= 5)
      SELECT method, CAST(4 AS BIGINT) AS n_queries, recall FROM (
        SELECT 'pq_adc20' AS method,
               round(count(c.vec_id) / 20.0, 4) AS recall
        FROM ex e LEFT JOIN candp c
          ON c.qid = e.qid AND c.vec_id = e.vec_id
        UNION ALL
        SELECT 'opq_adc20' AS method,
               round(count(c.vec_id) / 20.0, 4) AS recall
        FROM ex e LEFT JOIN cando c
          ON c.qid = e.qid AND c.vec_id = e.vec_id) u
      ORDER BY method ASC
    """))

  /** Incremental BM25 (see [[graft.search.Bm25Index]]): build on the
    * first corpus slice, absorb two batches by postings FILE APPEND (no
    * rewrite, no re-tokenization), then search from the artifact alone.
    * The oracle computes BM25 over the FULL corpus from scratch — so a
    * merge that dropped rows, double-counted a batch, or drifted the
    * (N, avgdl) statistics hash-mismatches. Completes the
    * every-index-maintains-incrementally set: IVF (frozen centroids),
    * graph (FreshDiskANN append), and now the lexical tier. */
  private val bm25IncrementalSearch = Q(
    "bm25_incremental_search",
    (s, dir) => {
      import graft.search.{Bm25Index, TermIndex}
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_bm25inc_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        TermIndex.build(docs.where(col("doc_id") < 300),
          "doc_id", "text", idx)
        TermIndex.append(docs.where(col("doc_id") >= 300 &&
          col("doc_id") < 400), "doc_id", "text", idx)
        TermIndex.append(docs.where(col("doc_id") >= 400),
          "doc_id", "text", idx)
      }
      Bm25Index.search(s, idx, Seq("scan", "filter", "merge"), k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
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
             GROUP BY tf.doc_id)
      SELECT doc_id, bm25 FROM bm
      ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """))

  /** BM25F fielded search (see [[graft.search.Bm25Index.searchFielded]]):
    * the documents table's (source, text) play the reference's
    * (chapter, content) two-field row (src/app.py:101-102) with the
    * source field weighted 2× — a tag/title hit outranks a body hit.
    * Build on the first slice, absorb two appends, search from the
    * artifact alone; the oracle recomputes BM25F over the FULL corpus
    * from scratch (the `bm25_incremental_search` discipline), so
    * dropped rows, double-counted batches, or drifted per-field
    * statistics hash-mismatch. */
  private val bm25fSearch = Q(
    "bm25f_search",
    (s, dir) => {
      import graft.search.Bm25Index
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_bm25f_${math.abs(dir.hashCode)}"
      val fields = Seq("source", "text")
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        Bm25Index.buildFielded(docs.where(col("doc_id") < 300),
          "doc_id", fields, idx)
        Bm25Index.appendFielded(docs.where(col("doc_id") >= 300 &&
          col("doc_id") < 400), "doc_id", fields, idx)
        Bm25Index.appendFielded(docs.where(col("doc_id") >= 400),
          "doc_id", fields, idx)
      }
      Bm25Index.searchFielded(s, idx, Seq("scan", "filter", "src3"),
          k = 10, fieldWeights = Seq("source" -> 2.0, "text" -> 1.0))
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH ftoks AS (
        SELECT doc_id, 'source' AS field,
               unnest(list_filter(string_split_regex(source, '\s+'),
                 t -> len(t) > 0)) AS term
        FROM documents
        UNION ALL
        SELECT doc_id, 'text',
               unnest(list_filter(string_split_regex(text, '\s+'),
                 t -> len(t) > 0))
        FROM documents),
      tf AS (SELECT doc_id, field, term, count(*) AS tf FROM ftoks
             WHERE term IN ('scan', 'filter', 'src3')
             GROUP BY doc_id, field, term),
      dl AS (SELECT doc_id, 'source' AS field,
                    CAST(len(list_filter(string_split_regex(source, '\s+'),
                      t -> len(t) > 0)) AS DOUBLE) AS dl
             FROM documents
             UNION ALL
             SELECT doc_id, 'text',
                    CAST(len(list_filter(string_split_regex(text, '\s+'),
                      t -> len(t) > 0)) AS DOUBLE)
             FROM documents),
      fstats AS (SELECT field, sum(dl) / count(*) AS avgdl
                 FROM dl GROUP BY field),
      nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      dfq AS (SELECT term, count(DISTINCT doc_id) AS df
              FROM tf GROUP BY term),
      tft AS (SELECT tf.doc_id, tf.term,
                     sum((CASE tf.field WHEN 'source' THEN 2.0
                          ELSE 1.0 END) * tf.tf
                       / (0.25 + 0.75 * (dl.dl / fstats.avgdl))) AS tft
              FROM tf JOIN dl ON dl.doc_id = tf.doc_id
                               AND dl.field = tf.field
                      JOIN fstats ON fstats.field = tf.field
              GROUP BY tf.doc_id, tf.term),
      bm AS (SELECT tft.doc_id,
                    round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                      * tft / (1.2 + tft)), 4) AS bm25f
             FROM tft JOIN dfq USING (term) CROSS JOIN nd
             GROUP BY tft.doc_id)
      SELECT doc_id, bm25f FROM bm
      ORDER BY bm25f DESC, doc_id ASC LIMIT 10
    """))

  /** Streaming lexical-index maintenance — the [[bm25fSearch]] artifact
    * kept current by a Structured Streaming file source (the
    * `streaming_graph_ingest` discipline applied to the lexical tier):
    * three micro-batches drive foreachBatch — the first BUILDS the
    * per-field artifact, later ones absorb by
    * [[graft.search.Bm25Index.appendFielded]] (tokenize the batch only,
    * file append, no rewrite). The final search runs from the artifact
    * alone and the oracle recomputes BM25F over the FULL corpus, so a
    * dropped or double-absorbed micro-batch hash-mismatches. */
  private val streamingBm25Ingest = Q(
    "streaming_bm25_ingest",
    (s, dir) => {
      import graft.search.Bm25Index
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.types._
      val docs = Tables.documents(s, dir).select("doc_id", "source", "text")
      val work = s"/tmp/graft_streambm25_${math.abs(dir.hashCode)}"
      val conf = s.sparkContext.hadoopConfiguration
      val fs = new Path(work).getFileSystem(conf)
      val idx = s"$work/bm25f"
      streamInputOnce(s, work, Seq(s"$work/_ckpt", idx)) { writeOne =>
        writeOne(docs.where(col("doc_id") < 300), "00_base.parquet",
          1000000L)
        writeOne(docs.where(col("doc_id") >= 300 && col("doc_id") < 400),
          "01_batch.parquet", 2000000L)
        writeOne(docs.where(col("doc_id") >= 400), "02_batch.parquet",
          3000000L)
      }
      val fields = Seq("source", "text")
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("source", StringType),
        StructField("text", StringType)))
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
      val q = src.writeStream
        .option("checkpointLocation", s"$work/_ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!fs.exists(new Path(
              Bm25Index.postingsDir(idx) + "/_SUCCESS")))
            Bm25Index.buildFielded(batch, "doc_id", fields, idx)
          else
            Bm25Index.appendFielded(batch, "doc_id", fields, idx)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      Bm25Index.searchFielded(s, idx, Seq("scan", "merge", "src5"),
          k = 10, fieldWeights = Seq("source" -> 2.0, "text" -> 1.0))
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH ftoks AS (
        SELECT doc_id, 'source' AS field,
               unnest(list_filter(string_split_regex(source, '\s+'),
                 t -> len(t) > 0)) AS term
        FROM documents
        UNION ALL
        SELECT doc_id, 'text',
               unnest(list_filter(string_split_regex(text, '\s+'),
                 t -> len(t) > 0))
        FROM documents),
      tf AS (SELECT doc_id, field, term, count(*) AS tf FROM ftoks
             WHERE term IN ('scan', 'merge', 'src5')
             GROUP BY doc_id, field, term),
      dl AS (SELECT doc_id, 'source' AS field,
                    CAST(len(list_filter(string_split_regex(source, '\s+'),
                      t -> len(t) > 0)) AS DOUBLE) AS dl
             FROM documents
             UNION ALL
             SELECT doc_id, 'text',
                    CAST(len(list_filter(string_split_regex(text, '\s+'),
                      t -> len(t) > 0)) AS DOUBLE)
             FROM documents),
      fstats AS (SELECT field, sum(dl) / count(*) AS avgdl
                 FROM dl GROUP BY field),
      nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      dfq AS (SELECT term, count(DISTINCT doc_id) AS df
              FROM tf GROUP BY term),
      tft AS (SELECT tf.doc_id, tf.term,
                     sum((CASE tf.field WHEN 'source' THEN 2.0
                          ELSE 1.0 END) * tf.tf
                       / (0.25 + 0.75 * (dl.dl / fstats.avgdl))) AS tft
              FROM tf JOIN dl ON dl.doc_id = tf.doc_id
                               AND dl.field = tf.field
                      JOIN fstats ON fstats.field = tf.field
              GROUP BY tf.doc_id, tf.term),
      bm AS (SELECT tft.doc_id,
                    round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                      * tft / (1.2 + tft)), 4) AS bm25f
             FROM tft JOIN dfq USING (term) CROSS JOIN nd
             GROUP BY tft.doc_id)
      SELECT doc_id, bm25f FROM bm
      ORDER BY bm25f DESC, doc_id ASC LIMIT 10
    """))

  /** Cross-encoder rerank composed after RRF fusion (see
    * [[graft.search.Rerank]]): the hybrid BM25+kNN fused top-10 is
    * joined to its document text (a broadcast point-fetch of the
    * bounded candidate set) and re-scored by the batched pair-scorer
    * seam — the deterministic [[graft.search.TokenJaccardScorer]]
    * offline, a real cross-encoder in production — then re-ranked by
    * (pair score desc, fusion desc, id asc) and truncated to 5. The
    * oracle replays the whole stack: BM25, kNN, both rank windows, RRF,
    * the top-10 cut, and the token-set Jaccard itself. */
  private val rerankCrossEncoder = Q(
    "rerank_cross_encoder",
    (s, dir) => {
      import graft.search.{Bm25, Rerank, TokenJaccardScorer}
      val docs = Tables.documents(s, dir)
      val e = Tables.embeddings(s, dir)
      val bm = Bm25.score(docs, "doc_id", "text",
        terms = Seq("scan", "filter", "merge"))
      val bmRanks = Bm25.topRanks(bm, "bm25", n = 20,
        ascending = false, rankCol = "bm25_rank")
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      val kd = e.crossJoin(broadcast(q))
        .select(col("vec_id").as("id"),
          round(VectorFunctions.l2Sq(col("embedding"), col("qe")), 4).as("d"))
      val knnRanks = Bm25.topRanks(kd, "d", n = 20,
        ascending = true, rankCol = "knn_rank")
      val fused = Bm25.rrfFuse(bmRanks, "bm25_rank", knnRanks, "knn_rank")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("rrf").desc, col("doc_id").asc)
        .limit(10)
        .select("doc_id", "rrf")
      Rerank.crossEncoderRerank(fused, docs, "doc_id", "text", "rrf",
        queryText = "scan filter merge", new TokenJaccardScorer, k = 5)
    },
    Some("""
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
      kd AS (SELECT e.vec_id AS doc_id, %L2% AS d FROM embeddings e, q),
      knr AS (SELECT doc_id, CAST(row_number() OVER
                       (ORDER BY d ASC, doc_id ASC) AS BIGINT) AS knn_rank
              FROM (SELECT * FROM kd ORDER BY d ASC, doc_id ASC LIMIT 20)),
      fused AS (SELECT coalesce(bmr.doc_id, knr.doc_id) AS doc_id,
                       round(coalesce(1.0 / (60 + bm25_rank), 0)
                           + coalesce(1.0 / (60 + knn_rank), 0), 6) AS rrf
                FROM bmr FULL OUTER JOIN knr ON bmr.doc_id = knr.doc_id
                ORDER BY rrf DESC, doc_id ASC LIMIT 10),
      dt AS (SELECT f.doc_id, f.rrf,
                    list_distinct(list_filter(
                      string_split_regex(lower(d.text), '\s+'),
                      t -> len(t) > 0)) AS dtoks
             FROM fused f JOIN documents d USING (doc_id)),
      ce AS (SELECT doc_id, rrf,
                    round(CASE WHEN len(list_distinct(list_concat(dtoks,
                              ['scan', 'filter', 'merge']))) = 0 THEN 0.0
                          ELSE len(list_intersect(dtoks,
                                 ['scan', 'filter', 'merge']))
                            / CAST(len(list_distinct(list_concat(dtoks,
                                ['scan', 'filter', 'merge']))) AS DOUBLE)
                          END, 4) AS ce_score
             FROM dt)
      SELECT doc_id, rrf, ce_score FROM ce
      ORDER BY ce_score DESC, rrf DESC, doc_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Delete propagation for the LEXICAL family (see
    * [[graft.search.Tombstones]]): documents are deleted by key against
    * a built BM25 artifact — postings/doclen are NOT rewritten — and
    * the search masks them from the ranking while keeping the STALE
    * artifact's statistics (N, avgdl, df still count the deleted docs:
    * Milvus's masked-serve semantics, folded away only at compaction).
    * The oracle recomputes BM25 over the FULL corpus (= the stale
    * stats) and drops deleted ids at final selection only. */
  private val bm25MaskedSearch = Q(
    "bm25_masked_search",
    (s, dir) => {
      import graft.search.{Bm25Index, TermIndex, Tombstones}
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_bm25tomb_${math.abs(dir.hashCode)}"
      // build once per JVM+fixture; only the tombstone set is per-run
      // (clear + record — the artifact itself never rewrites)
      if (!new java.io.File(
          TermIndex.termsDir(idx) + "/seg=0/_SUCCESS").exists())
        TermIndex.build(docs, "doc_id", "text", idx)
      Tombstones.clear(s, idx)
      Tombstones.record(docs.where(col("doc_id") % 5 === 2)
        .select(col("doc_id").as("id")), idx, "id")
      Bm25Index.search(s, idx, Seq("scan", "filter", "merge"), k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
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
             GROUP BY tf.doc_id)
      SELECT doc_id, bm25 FROM bm
      WHERE doc_id % 5 <> 2
      ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """))

  /** BM25 UPSERT — document content updates on a lexical index,
    * delete-then-insert with an immediate physical fold: the updated
    * docs (`doc_id % 10 = 2`, new text = old + " merge merge") are
    * tombstoned, the lexical artifact is folded (term rows AND doclen
    * — stats leave the stale regime), tombstones cleared, and the new
    * content enters by the plain incremental
    * [[graft.search.TermIndex.append]]. Same-id re-insert
    * is exactly why the fold must precede the append: a mask-only
    * upsert would kill BOTH versions of an updated id at serve time.
    * The oracle recomputes BM25 over the UPDATED corpus from scratch,
    * so a double-indexed doc (fold skipped), a lost update (append
    * dropped), or stale (N, avgdl, df) statistics hash-mismatch.
    * Round 11: the index lives under an [[graft.search.AliasedIndex]]
    * root and the fold runs through the alias-aware
    * [[graft.search.TermIndex.compactTombstones]] — every layout folds
    * in a copied v2 published atomically, so a reader can never see
    * term rows folded but doclen not; the follow-up append lands in the
    * published current version (file appends are reader-safe in
    * place), and the serve resolves the root like any reader. */
  private val bm25UpsertSearch = Q(
    "bm25_upsert_search",
    (s, dir) => {
      import graft.search.{AliasedIndex, Bm25Index, TermIndex, Tombstones}
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_bm25up_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        AliasedIndex.init(s, idx) { d =>
          TermIndex.build(docs, "doc_id", "text", d)
        }
        val updated = docs.where(col("doc_id") % 10 === 2)
          .withColumn("text", concat(col("text"), lit(" merge merge")))
        Tombstones.record(updated.select(col("doc_id").as("id")),
          AliasedIndex.currentDir(s, idx), "id")
        TermIndex.compactTombstones(s, idx) // alias-aware: publishes v2
        TermIndex.append(updated, "doc_id", "text", idx)
      }
      Bm25Index.search(s, idx, Seq("scan", "filter", "merge"), k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH docs2 AS (SELECT doc_id,
                            CASE WHEN doc_id % 10 = 2
                                 THEN text || ' merge merge'
                                 ELSE text END AS text
                     FROM documents),
      toks AS (SELECT doc_id,
                      unnest(string_split_regex(text, '\s+')) AS term
               FROM docs2),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST((SELECT sum(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)))
                             FROM docs2) AS DOUBLE) / count(*) AS avgdl
                FROM docs2),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
             WHERE term IN ('scan', 'filter', 'merge') GROUP BY doc_id, term),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      dl AS (SELECT doc_id,
                    CAST(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS DOUBLE) AS dl
             FROM docs2),
      bm AS (SELECT tf.doc_id,
                    round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                      * (tf * 2.2)
                      / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))), 4) AS bm25
             FROM tf JOIN dfq USING (term)
                     JOIN dl ON dl.doc_id = tf.doc_id
                     CROSS JOIN stats
             GROUP BY tf.doc_id)
      SELECT doc_id, bm25 FROM bm
      ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """))

  val all: Seq[Q] = Seq(knnExactTopK, knnScoreThreshold, knnMultiQuery, mrlTruncatedSearch,
    mrlRotatedSearch, mrlRotationReport, opqAdcSearch, opqRecallReport,
    opqIvfPqSearch,
    bm25IncrementalSearch, bm25fSearch, streamingBm25Ingest,
    bm25MaskedSearch, bm25UpsertSearch, rerankCrossEncoder,
    nnCosineTopK, typedSimilaritySearch, embedQuantizeInt8, hybridSearchRrf,
    multiVectorHybridSearch, sparseDenseHybridRrf,
    sparseUpsertSearch, streamingSparseIngest,
    sq8RerankSearch, sq8UpsertSearch, ivfSq8Search, rqAdcSearch,
    ivfRqSearch,
    rqRecallReport, quantizerErrorReport, normPrunedSearch,
    mipsNormPrunedSearch, embeddingProfile, pqAdcSearch, ivfPqSearch,
    filteredKnnSearch, scalarIndexedKnn, partitionScopedKnn,
    knnRangeSearch,
    groupedKnnPerLabel,
    binaryHammingSearch, binaryJaccardSearch, binarySubstructureSearch,
    binarySuperstructureSearch, asymmetricBinarySearch,
    asymmetricBinaryIncremental, streamingAsymIngest, ivfAsymBinarySearch,
    binaryRecallReport, knnIpTopK, mmrRerank,
    corpusDiversity,
    sparseVectorSearch, sparseWandSearch, sparseBulkSearch,
    sparseBulkWand, sparseSearchIterate, sparseDenseHybridWeighted,
    hybridSearchWeighted, hybridTriLegRrf, hybridTriLegWeighted,
    arrayFilteredSearch,
    searchPagination,
    searchIterate, timeDecaySearch,
    embeddingOutliers, indexRecallReport, groupByFieldSearch,
    groupSizeSearch)
}
