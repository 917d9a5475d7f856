package graft

import graft.QueryDsl._
import graft.core.Tables
import graft.dedup.{Dedup, FuzzyJoin, SemanticDedup}
import org.apache.spark.sql.functions._

/** Deduplication-operator coverage (north-star surface): exact,
  * all-pairs n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine. */
object DedupQueries {
  /** Per-fixture-dir artifact root for the dedup family's build-once
    * parquet intermediates (signatures, capped postings, SRP band/pair
    * tables) — same keyed-by-dir-hash convention as the IVF index dirs
    * (PipelineQueries). First invocation builds; every later invocation
    * (and every re-bench) scans the artifact, which is the warehouse
    * execution shape. */
  private def wd(dir: String): Option[String] =
    Some(Fixtures.dedupWorkDir(dir))
  /** DuckDB token-3-gram distinct shingles CTE over `documents`. */
  private val duckShingles = """
      sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(toks)-1),
                 i -> array_to_string(toks[i:i+2], ' '))) AS s
        FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 3)"""

  /** Exact dedup via content-hash groupBy (map-side combine at scale). */
  private val dedupExact = Q(
    "dedup_exact",
    (s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("keep_id").asc),
    Some("""
      SELECT md5(text) AS content_hash,
             CAST(min(doc_id) AS BIGINT) AS keep_id,
             CAST(count(*) AS BIGINT) AS n_copies
      FROM documents GROUP BY md5(text)
      ORDER BY keep_id ASC
    """))

  /** 3-gram Jaccard top-20 pairs via inverted index with a 5% document-
    * frequency cap (capped-df Jaccard — see Dedup.jaccardTopPairs; the
    * oracle computes the identical capped definition, so the comparison
    * is exact). */
  private val dedupJaccardPairs = Q(
    "dedup_jaccard_pairs",
    (s, dir) =>
      Dedup.jaccardTopPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 20, workDir = wd(dir)),
    Some(s"""
      WITH $duckShingles,
      e AS (SELECT doc_id, unnest(s) AS s FROM sh),
      cap AS (SELECT ceil(count(*) * 0.05) AS cap FROM sh),
      dfc AS (SELECT s, count(*) AS df FROM e GROUP BY s),
      kept AS (SELECT e.doc_id, e.s
               FROM e JOIN dfc USING (s) CROSS JOIN cap
               WHERE dfc.df <= cap.cap),
      sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
      i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
            FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id)
      SELECT i.id_a, i.id_b,
             round(CAST(i.inter AS DOUBLE)
               / (sa.sz + sb.sz - i.inter) + 1e-9, 4) AS jaccard
      FROM i JOIN sz sa ON sa.doc_id = i.id_a
             JOIN sz sb ON sb.doc_id = i.id_b
      ORDER BY jaccard DESC, id_a ASC, id_b ASC LIMIT 20
    """))

  /** Length-dispatched fuzzy join ([[FuzzyJoin.nearPairsAuto]]): the
    * documents table's `text` is content-length, so the dispatch must
    * refuse the O(len^d) deletion-neighborhood tier and route to the
    * capped-df q-gram Jaccard tier — this entry pins the ROUTE (the
    * `tier` column) plus the routed tier's full pair arithmetic. The
    * short-string route and the hard guard on the deletion tier are
    * spec-pinned (FuzzyJoinSpec). */
  private val fuzzyLongDispatch = Q(
    "fuzzy_long_dispatch",
    (s, dir) =>
      FuzzyJoin.nearPairsAuto(Tables.documents(s, dir), "doc_id", "text",
          maxDist = 1, k = 20, workDir = wd(dir))
        .orderBy(col("score").desc, col("a_id").asc, col("b_id").asc),
    Some(s"""
      WITH $duckShingles,
      e AS (SELECT doc_id, unnest(s) AS s FROM sh),
      cap AS (SELECT ceil(count(*) * 0.05) AS cap FROM sh),
      dfc AS (SELECT s, count(*) AS df FROM e GROUP BY s),
      kept AS (SELECT e.doc_id, e.s
               FROM e JOIN dfc USING (s) CROSS JOIN cap
               WHERE dfc.df <= cap.cap),
      sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
      i AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
            FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id)
      SELECT i.a_id, i.b_id,
             round(CAST(i.inter AS DOUBLE)
               / (sa.sz + sb.sz - i.inter) + 1e-9, 4) AS score,
             'jaccard' AS tier
      FROM i JOIN sz sa ON sa.doc_id = i.a_id
             JOIN sz sb ON sb.doc_id = i.b_id
      ORDER BY score DESC, a_id ASC, b_id ASC LIMIT 20
    """))

  /** PassJoin mid-length exact edit join ([[PassJoin.selfJoin]]): a
    * deterministic 66-char corpus (two md5 digests of the row's
    * 10-group + a '-digit' suffix, built identically in both engines
    * from `customer`) where same-group rows differ by exactly one
    * substitution — the URL/title shape the mid-length tier exists
    * for, ABOVE the deletion-neighborhood ceiling. The oracle is the
    * strongest form: a brute-force exact `levenshtein` join over the
    * bounded slice, so the segment blocking must be COMPLETE (a lost
    * candidate pair hash-mismatches), not merely plausible. */
  private val fuzzyPassjoinMidlength = Q(
    "fuzzy_passjoin_midlength",
    (s, dir) => {
      import graft.dedup.PassJoin
      val g = floor(col("c_custkey") / 10).cast("long").cast("string")
      val corpus = Tables.customer(s, dir)
        .where(col("c_custkey") < 800)
        .select(col("c_custkey").as("id"),
          concat(md5(g), md5(concat(g, lit("x"))), lit("-"),
            (col("c_custkey") % 10).cast("string")).as("s"))
      PassJoin.selfJoin(corpus, "id", "s", maxDist = 1)
        .orderBy(col("a_id").asc, col("b_id").asc)
    },
    Some("""
      WITH c AS (
        SELECT c_custkey AS id,
               md5(CAST(CAST(floor(c_custkey / 10) AS BIGINT) AS VARCHAR))
               || md5(CAST(CAST(floor(c_custkey / 10) AS BIGINT) AS VARCHAR)
                      || 'x')
               || '-' || CAST(c_custkey % 10 AS VARCHAR) AS s
        FROM customer WHERE c_custkey < 800)
      SELECT a.id AS a_id, b.id AS b_id,
             CAST(levenshtein(a.s, b.s) AS INT) AS dist
      FROM c a JOIN c b ON a.id < b.id
      WHERE levenshtein(a.s, b.s) <= 1
      ORDER BY a_id ASC, b_id ASC
    """))

  /** MinHash (8 md5 min-hashes) + LSH banding (8 bands of 1): candidate
    * pairs sharing any band, with estimated Jaccard. Sub-quadratic at
    * scale: equi-join on band keys instead of all-pairs. */
  private val dedupMinhashLsh = Q(
    "dedup_minhash_lsh",
    (s, dir) =>
      Dedup.minhashCandidates(Tables.documents(s, dir), "doc_id", "text",
          numHashes = 8, bandSize = 1, workDir = wd(dir))
        .orderBy(col("id_a").asc, col("id_b").asc),
    Some(s"""
      WITH $duckShingles,
      e AS (SELECT doc_id, unnest(s) AS s FROM sh),
      dg AS (SELECT doc_id, md5(s) || md5('1:' || s) AS d FROM e),
      sig AS (SELECT doc_id,
                [min(substr(d, 1, 8)), min(substr(d, 9, 8)),
                 min(substr(d, 17, 8)), min(substr(d, 25, 8)),
                 min(substr(d, 33, 8)), min(substr(d, 41, 8)),
                 min(substr(d, 49, 8)), min(substr(d, 57, 8))] AS sig
              FROM dg GROUP BY doc_id),
      bands AS (SELECT doc_id, sig,
                       unnest(range(0, 8)) AS band,
                       unnest(sig) AS band_key
                FROM sig)
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             round(list_sum(list_transform(range(1, 9),
               i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1.0 ELSE 0.0 END)) / 8, 4)
               AS est_jaccard
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      ORDER BY id_a ASC, id_b ASC
    """))

  /** MinHash-LSH recall vs EXACT capped-df Jaccard — the banding
    * S-curve (Broder 1997; the b-bands-of-r-rows analysis in Leskovec/
    * Rajaraman/Ullman ch. 3) measured instead of assumed, extending the
    * honest-recall discipline (`ann_recall_report`,
    * `binary_recall_report`) to the dedup family: ground truth = ALL
    * pairs at true Jaccard ≥ τ from the inverted-index join; candidates
    * = (a) 8 bands of 1 row (P(hit) = 1−(1−j)⁸ — high recall, more
    * false candidates) vs (b) 2 bands of 4 rows (P(hit) = 1−(1−j⁴)² —
    * precise, recall falls off below j≈0.9). Both schemes share ONE
    * signature artifact; the measurement — truth set, both candidate
    * sets, the recall arithmetic — is hash-checked at two thresholds. */
  private val dedupMinhashRecall = Q(
    "dedup_minhash_recall",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // truth + both candidate sets are consumed once per report row —
      // build-once artifacts so the 4 aggregate branches scan parquet
      // instead of re-running the inverted-index / band joins
      val truth = graft.core.Artifacts.buildOnce(s,
        s"${wd(dir).get}/jaccard_truth_pairs") {
        Dedup.jaccardTopPairs(docs, "doc_id", "text",
          k = 1000000, workDir = wd(dir))
      }
      val c1 = graft.core.Artifacts.buildOnce(s,
        s"${wd(dir).get}/minhash_cand_b8x1") {
        Dedup.minhashCandidates(docs, "doc_id", "text",
            numHashes = 8, bandSize = 1, workDir = wd(dir))
          .select("id_a", "id_b")
      }
      val c4 = graft.core.Artifacts.buildOnce(s,
        s"${wd(dir).get}/minhash_cand_b2x4") {
        Dedup.minhashCandidates(docs, "doc_id", "text",
            numHashes = 8, bandSize = 4, workDir = wd(dir))
          .select("id_a", "id_b")
      }
      def row(scheme: String, cand: org.apache.spark.sql.DataFrame,
              tau: Double) =
        truth.where(col("jaccard") >= tau)
          .join(cand.withColumn("hit", lit(1)), Seq("id_a", "id_b"), "left")
          .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hits"))
          .select(lit(scheme).as("scheme"), lit(tau).as("tau"),
            col("n_truth"), col("n_hits"),
            when(col("n_truth") === 0, 0.0)
              .otherwise(round(col("n_hits").cast("double")
                / col("n_truth"), 4)).as("recall"))
      row("b8x1", c1, 0.5).unionAll(row("b8x1", c1, 0.8))
        .unionAll(row("b2x4", c4, 0.5)).unionAll(row("b2x4", c4, 0.8))
        .orderBy(col("scheme").asc, col("tau").asc)
    },
    Some(s"""
      WITH $duckShingles,
      e AS (SELECT doc_id, unnest(s) AS s FROM sh),
      cap AS (SELECT ceil(count(*) * 0.05) AS cap FROM sh),
      dfc AS (SELECT s, count(*) AS df FROM e GROUP BY s),
      kept AS (SELECT e.doc_id, e.s
               FROM e JOIN dfc USING (s) CROSS JOIN cap
               WHERE dfc.df <= cap.cap),
      sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
      i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
            FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id),
      truth AS (SELECT i.id_a, i.id_b,
                       round(CAST(i.inter AS DOUBLE)
                         / (sa.sz + sb.sz - i.inter) + 1e-9, 4) AS j
                FROM i JOIN sz sa ON sa.doc_id = i.id_a
                       JOIN sz sb ON sb.doc_id = i.id_b),
      dg AS (SELECT doc_id, md5(s) || md5('1:' || s) AS d FROM e),
      sig AS (SELECT doc_id,
                [min(substr(d, 1, 8)), min(substr(d, 9, 8)),
                 min(substr(d, 17, 8)), min(substr(d, 25, 8)),
                 min(substr(d, 33, 8)), min(substr(d, 41, 8)),
                 min(substr(d, 49, 8)), min(substr(d, 57, 8))] AS sig
              FROM dg GROUP BY doc_id),
      b1 AS (SELECT doc_id, sig, unnest(range(0, 8)) AS band,
                    unnest(sig) AS band_key
             FROM sig),
      c1 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM b1 a JOIN b1 b
               ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id),
      c4 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
               (a.sig[1] = b.sig[1] AND a.sig[2] = b.sig[2]
                AND a.sig[3] = b.sig[3] AND a.sig[4] = b.sig[4]) OR
               (a.sig[5] = b.sig[5] AND a.sig[6] = b.sig[6]
                AND a.sig[7] = b.sig[7] AND a.sig[8] = b.sig[8])))
      SELECT scheme, tau, n_truth, n_hits, recall FROM (
        SELECT 'b8x1' AS scheme, 0.5 AS tau,
               CAST(count(*) AS BIGINT) AS n_truth,
               CAST(count(c.id_a) AS BIGINT) AS n_hits,
               CASE WHEN count(*) = 0 THEN 0.0
                    ELSE round(CAST(count(c.id_a) AS DOUBLE)
                               / count(*), 4) END AS recall
        FROM truth t LEFT JOIN c1 c
          ON c.id_a = t.id_a AND c.id_b = t.id_b
        WHERE t.j >= 0.5
        UNION ALL
        SELECT 'b8x1', 0.8, CAST(count(*) AS BIGINT),
               CAST(count(c.id_a) AS BIGINT),
               CASE WHEN count(*) = 0 THEN 0.0
                    ELSE round(CAST(count(c.id_a) AS DOUBLE)
                               / count(*), 4) END
        FROM truth t LEFT JOIN c1 c
          ON c.id_a = t.id_a AND c.id_b = t.id_b
        WHERE t.j >= 0.8
        UNION ALL
        SELECT 'b2x4', 0.5, CAST(count(*) AS BIGINT),
               CAST(count(c.id_a) AS BIGINT),
               CASE WHEN count(*) = 0 THEN 0.0
                    ELSE round(CAST(count(c.id_a) AS DOUBLE)
                               / count(*), 4) END
        FROM truth t LEFT JOIN c4 c
          ON c.id_a = t.id_a AND c.id_b = t.id_b
        WHERE t.j >= 0.5
        UNION ALL
        SELECT 'b2x4', 0.8, CAST(count(*) AS BIGINT),
               CAST(count(c.id_a) AS BIGINT),
               CASE WHEN count(*) = 0 THEN 0.0
                    ELSE round(CAST(count(c.id_a) AS DOUBLE)
                               / count(*), 4) END
        FROM truth t LEFT JOIN c4 c
          ON c.id_a = t.id_a AND c.id_b = t.id_b
        WHERE t.j >= 0.8) u
      ORDER BY scheme ASC, tau ASC
    """))

  /** SimHash (16-bit md5-nibble signature): close pairs by hamming ≤ 1,
    * found via pigeonhole half-signature equi-join — NOT an all-pairs
    * compare (hamming ≤ 1 ⇒ one of the two 8-slot halves matches
    * exactly). Output identical to the quadratic form; oracle verifies
    * against DuckDB's all-pairs formulation. */
  private val dedupSimhash = Q(
    "dedup_simhash",
    (s, dir) =>
      Dedup.simhashNearPairs(Tables.documents(s, dir), "doc_id", "text",
          maxHamming = 1, workDir = wd(dir))
        .orderBy(col("id_a").asc, col("id_b").asc),
    Some("""
      WITH t AS (SELECT doc_id,
                        list_distinct(string_split_regex(text, '\s+')) AS toks
                 FROM documents),
      e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      n AS (SELECT doc_id, md5(tok) AS h FROM e),
      s AS (SELECT doc_id, %BITS% AS sig FROM n GROUP BY doc_id),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(list_sum(list_transform(range(1, 17),
                     i -> CASE WHEN a.sig[i] != b.sig[i] THEN 1 ELSE 0 END))
                     AS BIGINT) AS hamming
            FROM s a JOIN s b ON a.doc_id < b.doc_id)
      SELECT id_a, id_b, hamming FROM p WHERE hamming <= 1
      ORDER BY id_a ASC, id_b ASC
    """.replace("%BITS%",
      "[" + (1 to 16).map(p =>
        s"CASE WHEN sum(CAST(strpos('0123456789abcdef', substr(h, $p, 1)) - 1 " +
          s"AS DOUBLE) - 7.5) > 0 THEN 1 ELSE 0 END").mkString(", ") + "]")))

  /** PRODUCTION-width SimHash: 64 nibble-slot signature (2 salted md5
    * digests per feature — the first 32 slots are bit-identical to a
    * 32-slot run, same prefix-stability contract as Dedup.srpWeights)
    * over token 3-GRAM SHINGLE features, near pairs at hamming ≤ 3 via
    * 4-block pigeonhole (hamming ≤ 3 ⇒ at least one 16-slot block
    * matches exactly), packed bit_count verify. Two width/feature fixes
    * over the 16-bit demo entry: (a) 64 slots give 2⁶⁴ signature points
    * vs the 65 536 that saturate around 10⁵ docs (SCALE.md), and (b)
    * order-sensitive shingle features — on the fixture's small shared
    * vocabulary, distinct token SETS collapse (unrelated docs at
    * hamming 0), while shingles keep the feature space rich, so the
    * sf0.1 pair count is driven by genuinely-similar documents. The
    * oracle replays the identical shingles, signatures, block keys,
    * pigeonhole candidate join, and hamming arithmetic (block-join
    * form, not all-pairs — same sub-quadratic shape on both engines). */
  private val dedupSimhash64 = Q(
    "dedup_simhash64",
    (s, dir) =>
      Dedup.simhashNearPairs(Tables.documents(s, dir), "doc_id", "text",
          maxHamming = 3, bits = 64, workDir = wd(dir),
          featureShingleN = 3)
        .orderBy(col("id_a").asc, col("id_b").asc),
    Some(s"""
      WITH $duckShingles,
      e AS (SELECT doc_id, unnest(s) AS tok FROM sh),
      n AS (SELECT doc_id, md5(tok) || md5('1:' || tok) AS h FROM e),
      s AS (SELECT doc_id, %BITS% AS sig FROM n GROUP BY doc_id),
      blk AS (SELECT doc_id, b,
                     array_to_string(list_slice(sig, 16*b+1, 16*b+16), '')
                       AS block_key
              FROM (SELECT doc_id, sig, unnest(range(0, 4)) AS b FROM s)),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM blk a JOIN blk b
                 ON a.b = b.b AND a.block_key = b.block_key
                    AND a.doc_id < b.doc_id),
      p AS (SELECT id_a, id_b,
                   CAST(list_sum(list_transform(range(1, 65),
                     i -> CASE WHEN sa.sig[i] != sb.sig[i] THEN 1 ELSE 0 END))
                     AS BIGINT) AS hamming
            FROM cand JOIN s sa ON sa.doc_id = id_a
                      JOIN s sb ON sb.doc_id = id_b)
      SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
      ORDER BY id_a ASC, id_b ASC
    """.replace("%BITS%",
      "[" + (1 to 64).map(p =>
        s"CASE WHEN sum(CAST(strpos('0123456789abcdef', substr(h, $p, 1)) - 1 " +
          s"AS DOUBLE) - 7.5) > 0 THEN 1 ELSE 0 END").mkString(", ") + "]")))

  /** Substring-level exact dedup (Lee et al. 2022, arXiv:2107.06499 —
    * see SubstringDedup): per document, how many of its 20-token rolling
    * windows occur more than once ANYWHERE in the corpus. Catches shared
    * boilerplate paragraphs that document-level dedup (exact/MinHash/
    * SimHash) never flags. Map-reduce native — window digests
    * hash-aggregate and equi-join; nothing pairwise, no df-cap needed (a
    * window shared by 10⁶ docs costs one counter, not 10¹² pairs). The
    * oracle replays windows, digests, the repeated rule, and the ratio
    * arithmetic. */
  private val dedupSubstringSpans = Q(
    "dedup_substring_spans",
    (s, dir) =>
      graft.dedup.SubstringDedup.spanReport(Tables.documents(s, dir),
          "doc_id", "text", windowTokens = 20)
        .orderBy(col("doc_id").asc),
    Some("""
      WITH tk AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                  FROM documents),
      w AS (SELECT doc_id, md5(array_to_string(toks[i:i+19], ' ')) AS h
            FROM (SELECT doc_id, toks, unnest(range(1, len(toks)-18)) AS i
                  FROM tk WHERE len(toks) >= 20)),
      rep AS (SELECT h FROM w GROUP BY h HAVING count(*) > 1),
      tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows
              FROM w GROUP BY doc_id),
      dw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows
             FROM w JOIN rep USING (h) GROUP BY doc_id)
      SELECT tot.doc_id, tot.n_windows,
             coalesce(dw.n_dup_windows, 0) AS n_dup_windows,
             round(CAST(coalesce(dw.n_dup_windows, 0) AS DOUBLE)
               / tot.n_windows + 1e-9, 4) AS dup_frac
      FROM tot LEFT JOIN dw USING (doc_id)
      ORDER BY doc_id ASC
    """))

  /** Dedup clustering end-to-end: MinHash-LSH candidates (est Jaccard ≥
    * 0.5) → connected components → every doc labeled with the min id of
    * its duplicate cluster. Spark side is iterative min-label
    * propagation (one join + one agg per round, lineage checkpointed);
    * the oracle computes the same fixpoint as a recursive CTE. */
  private val dedupClusters = Q(
    "dedup_clusters",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
          numHashes = 8, bandSize = 1, workDir = wd(dir))
        .where(col("est_jaccard") >= 0.5)
      Dedup.clusters(docs.select(col("doc_id")), "doc_id", pairs)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id").asc)
    },
    Some(s"""
      WITH RECURSIVE $duckShingles,
      e AS (SELECT doc_id, unnest(s) AS s FROM sh),
      dg AS (SELECT doc_id, md5(s) || md5('1:' || s) AS d FROM e),
      sig AS (SELECT doc_id,
                [min(substr(d, 1, 8)), min(substr(d, 9, 8)),
                 min(substr(d, 17, 8)), min(substr(d, 25, 8)),
                 min(substr(d, 33, 8)), min(substr(d, 41, 8)),
                 min(substr(d, 49, 8)), min(substr(d, 57, 8))] AS sig
              FROM dg GROUP BY doc_id),
      bands AS (SELECT doc_id, sig,
                       unnest(range(0, 8)) AS band,
                       unnest(sig) AS band_key
                FROM sig),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
               WHERE round(list_sum(list_transform(range(1, 9),
                 i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1.0 ELSE 0.0 END)) / 8,
                 4) >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM cand
                UNION ALL SELECT id_b, id_a FROM cand),
      r AS (SELECT doc_id AS id, doc_id AS lbl FROM documents
            UNION
            SELECT g.dst, r.lbl FROM r JOIN edges g ON g.src = r.id)
      SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
      FROM r GROUP BY id ORDER BY doc_id ASC
    """))

  /** Quality-aware keeper selection — the decision step AFTER clustering
    * that production dedup actually ships: within each near-dup cluster
    * keep the BEST member (here: most content, `n_chars`, ties to lowest
    * id), not the arbitrary min-id representative. One window over the
    * cluster assignment joined with the quality column; the oracle
    * replays the same connected-components fixpoint as `dedup_clusters`
    * (recursive CTE) plus the argmax. At 100 TB the quality column is
    * whatever scorer the pipeline ran (classifier_quality_score /
    * quality_score) — the join + window shape is unchanged. */
  private val dedupKeeperSelection = Q(
    "dedup_keeper_selection",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
          numHashes = 8, bandSize = 1, workDir = wd(dir))
        .where(col("est_jaccard") >= 0.5)
      val clusters = Dedup.clusters(docs.select(col("doc_id")), "doc_id", pairs)
        .withColumnRenamed("id", "doc_id")
      val j = clusters.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      // first() over the ordered frame [unbounded preceding, current]
      // sees row 1 of the partition from every row — the keeper
      j.withColumn("keeper_id", first(col("doc_id")).over(w))
        .select(col("doc_id"), col("cluster_id"), col("keeper_id"),
          (col("doc_id") === col("keeper_id")).as("is_kept"))
        .orderBy(col("doc_id").asc)
    },
    Some(s"""
      WITH RECURSIVE $duckShingles,
      e AS (SELECT doc_id, unnest(s) AS s FROM sh),
      dg AS (SELECT doc_id, md5(s) || md5('1:' || s) AS d FROM e),
      sig AS (SELECT doc_id,
                [min(substr(d, 1, 8)), min(substr(d, 9, 8)),
                 min(substr(d, 17, 8)), min(substr(d, 25, 8)),
                 min(substr(d, 33, 8)), min(substr(d, 41, 8)),
                 min(substr(d, 49, 8)), min(substr(d, 57, 8))] AS sig
              FROM dg GROUP BY doc_id),
      bands AS (SELECT doc_id, sig,
                       unnest(range(0, 8)) AS band,
                       unnest(sig) AS band_key
                FROM sig),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
               WHERE round(list_sum(list_transform(range(1, 9),
                 i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1.0 ELSE 0.0 END)) / 8,
                 4) >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM cand
                UNION ALL SELECT id_b, id_a FROM cand),
      r AS (SELECT doc_id AS id, doc_id AS lbl FROM documents
            UNION
            SELECT g.dst, r.lbl FROM r JOIN edges g ON g.src = r.id),
      cl AS (SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
             FROM r GROUP BY id),
      jq AS (SELECT cl.doc_id, cl.cluster_id, d.n_chars
             FROM cl JOIN documents d USING (doc_id)),
      keep AS (SELECT cluster_id, doc_id AS keeper_id FROM (
          SELECT cluster_id, doc_id,
                 row_number() OVER (PARTITION BY cluster_id
                                    ORDER BY n_chars DESC, doc_id ASC) AS rn
          FROM jq) WHERE rn = 1)
      SELECT jq.doc_id, jq.cluster_id, keep.keeper_id,
             jq.doc_id = keep.keeper_id AS is_kept
      FROM jq JOIN keep USING (cluster_id)
      ORDER BY jq.doc_id ASC
    """))

  /** DuckDB SRP-LSH candidate CTEs over `embeddings` (64 md5-derived
    * hyperplanes → sign bits → 4 bands of 16, hot buckets over the
    * 4096 cap dropped): textual mirror of Dedup.srpWeights/srpSignature +
    * srpHotBuckets/srpKeptBands + the band equi-join — shared by
    * `dedup_cosine_pairs`, `ann_bulk_topk(_guaranteed)`, and the
    * verified-pairs CTE below. Plane p weights dim i by nibble p of
    * md5('w'‖i)‖md5('x'‖i) − 7.5, exactly Dedup.srpWeights. */
  private val duckSrpKept = """
      w AS (SELECT i, md5('w' || CAST(i AS VARCHAR))
                      || md5('x' || CAST(i AS VARCHAR)) AS h
                 FROM range(1, 65) t(i)),
      e AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x, h
            FROM embeddings CROSS JOIN w WHERE i <= len(embedding)),
      sig AS (SELECT vec_id, %BITS% AS sig FROM e GROUP BY vec_id),
      bands AS (SELECT vec_id, b,
                       array_to_string(list_slice(sig, 16*b+1, 16*b+16), '')
                         AS band_key
                FROM (SELECT vec_id, sig, unnest(range(0, 4)) AS b FROM sig)),
      hot AS (SELECT b, band_key FROM bands
              GROUP BY b, band_key HAVING count(*) > 4096),
      kept AS (SELECT bands.* FROM bands
               WHERE NOT EXISTS (SELECT 1 FROM hot
                 WHERE hot.b = bands.b AND hot.band_key = bands.band_key))"""
    .replace("%BITS%",
      "[" + (1 to 64).map(p =>
        s"CASE WHEN sum((strpos('0123456789abcdef', substr(h, $p, 1)) - 1 " +
          s"- 7.5) * x) > 0 THEN 1 ELSE 0 END").mkString(", ") + "]")

  private val duckSrpCand = duckSrpKept + """,
      cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
               FROM kept a JOIN kept b
                 ON a.b = b.b AND a.band_key = b.band_key
                    AND a.vec_id < b.vec_id)"""

  /** Cosine-verified candidate pairs (follows [[duckSrpCand]]). */
  private val duckSrpPairs = """
      pairs AS (SELECT id_a, id_b, %COS% AS cosine
                FROM cand
                JOIN embeddings ea ON ea.vec_id = id_a
                JOIN embeddings eb ON eb.vec_id = id_b)"""
    .replace("%COS%", duckCosine("ea.embedding", "eb.embedding"))

  /** Embedding-cosine near-dup: top-20 pairs among SRP-LSH candidates
    * (64 md5-derived hyperplanes, 4 bands of 16 sign bits — random-pair
    * band collision ≈ 1.5×10⁻⁵ — with hot buckets over the 4096 cap
    * dropped observably; pairs sharing a kept band are cosine-verified).
    * The planes are md5-deterministic, so the oracle reproduces the
    * identical candidate set — an exact comparison of the ANN semantics,
    * not a recall gamble. Scale shape: per-row codegen signature map +
    * band equi-join on 16-bit keys; no all-pairs compare, no O(corpus)
    * broadcast, no unbounded bucket. */
  private val dedupCosinePairs = Q(
    "dedup_cosine_pairs",
    (s, dir) =>
      Dedup.cosineCandidatePairs(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 20, dim = 64, workDir = wd(dir)),
    Some(s"""
      WITH $duckSrpCand, $duckSrpPairs
      SELECT id_a, id_b, cosine FROM pairs
      ORDER BY cosine DESC, id_a ASC, id_b ASC LIMIT 20
    """))

  /** Bulk ANN join (north-star similarity-search shape with no reference
    * twin — see AnnJoin scaladoc): for EVERY embedding, its 5 most
    * cosine-similar neighbours among the SRP-LSH candidates,
    * sub-quadratically. The oracle replays the identical md5-derived
    * candidate set, symmetric closure, and rank arithmetic. */
  private val annBulkTopk = Q(
    "ann_bulk_topk",
    (s, dir) =>
      graft.search.AnnJoin.bulkTopK(Tables.embeddings(s, dir), "vec_id",
          "embedding", k = 5, dim = 64, workDir = wd(dir))
        .orderBy(col("id").asc, col("nbr_rank").asc),
    Some(s"""
      WITH $duckSrpCand, $duckSrpPairs,
      sym AS (SELECT id_a AS id, id_b AS nbr, cosine FROM pairs
              UNION ALL
              SELECT id_b AS id, id_a AS nbr, cosine FROM pairs),
      r AS (SELECT id, nbr, cosine,
                   CAST(row_number() OVER (PARTITION BY id
                     ORDER BY cosine DESC, nbr ASC) AS BIGINT) AS nbr_rank
            FROM sym)
      SELECT id, nbr_rank, nbr, cosine FROM r WHERE nbr_rank <= 5
      ORDER BY id ASC, nbr_rank ASC
    """))

  /** Guaranteed-k bulk ANN join: ids the LSH tier left with fewer than 5
    * candidate neighbours (empty/hot band buckets or sparse
    * neighbourhoods — at 16-bit band keys that is MOST of a non-clustered
    * corpus, by design) are routed through the IVF index: probe the 4
    * nearest of 16 centroids, exact cosine top-5 WITHIN the probed cells
    * — an equi-join on cluster_id touching ~nprobe/nlist of the corpus,
    * never the round-4 corpus × broadcast(deficient) nested loop
    * (plan-pinned in PlanSpec). The oracle replays the identical LSH
    * tier, deficiency rule (≥ 5 candidates keeps LSH rows), per-id probe
    * ranking (unrounded double L2, cluster-id tie-break), probed-cell
    * candidate set, and rank arithmetic from the staged centroid +
    * assignment handoff. */
  private val annBulkTopkGuaranteed = Q(
    "ann_bulk_topk_guaranteed",
    (s, dir) => {
      val indexDir = Fixtures.ivfDir(dir)
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.ivf(s, dir)
      stageOracleOnceLazy(s, "annk", dir)(Seq(
        "centroids" -> s.read.parquet(
          graft.search.IvfIndex.centroidsDir(indexDir)),
        "assign" -> graft.search.IvfIndex.readData(s, indexDir)
          .select(col("vec_id"), col("cluster_id"))))
      graft.search.AnnJoin.bulkTopKGuaranteed(e,
          "vec_id", "embedding", k = 5, dim = 64, ivf = model, nprobe = 4,
          workDir = wd(dir))
        .orderBy(col("id").asc, col("nbr_rank").asc)
    },
    Some(s"""
      WITH $duckSrpCand, $duckSrpPairs,
      sym AS (SELECT id_a AS id, id_b AS nbr, cosine FROM pairs
              UNION ALL
              SELECT id_b AS id, id_a AS nbr, cosine FROM pairs),
      full_ids AS (SELECT id FROM sym GROUP BY id HAVING count(*) >= 5),
      lsh AS (SELECT id, nbr, cosine,
                   CAST(row_number() OVER (PARTITION BY id
                     ORDER BY cosine DESC, nbr ASC) AS BIGINT) AS nbr_rank
              FROM sym),
      centt AS (SELECT * FROM read_parquet(
        '/tmp/graft_annk_oracle_$OracleKey/centroids/*.parquet')),
      assign AS (SELECT * FROM read_parquet(
        '/tmp/graft_annk_oracle_$OracleKey/assign/*.parquet')),
      defq AS (SELECT vec_id AS id, embedding AS qe FROM embeddings
               WHERE vec_id NOT IN (SELECT id FROM full_ids)),
      probed AS (SELECT id, cluster_id FROM (
          SELECT d.id, c.cluster_id,
                 row_number() OVER (PARTITION BY d.id ORDER BY
                   list_sum(list_transform(range(1, len(c.centroid)+1),
                     i -> (CAST(c.centroid[i] AS DOUBLE)
                           - CAST(d.qe[i] AS DOUBLE))^2)) ASC,
                   c.cluster_id ASC) AS crn
          FROM centt c CROSS JOIN defq d) WHERE crn <= 4),
      ivf AS (SELECT p.id, a.vec_id AS nbr,
                     ${duckCosine("d.qe", "ec.embedding")} AS cosine
              FROM probed p
              JOIN assign a USING (cluster_id)
              JOIN defq d ON d.id = p.id
              JOIN embeddings ec ON ec.vec_id = a.vec_id
              WHERE a.vec_id != p.id),
      exr AS (SELECT id, nbr, cosine,
                   CAST(row_number() OVER (PARTITION BY id
                     ORDER BY cosine DESC, nbr ASC) AS BIGINT) AS nbr_rank
              FROM ivf)
      SELECT id, nbr_rank, nbr, cosine FROM lsh
      WHERE nbr_rank <= 5 AND id IN (SELECT id FROM full_ids)
      UNION ALL
      SELECT id, nbr_rank, nbr, cosine FROM exr WHERE nbr_rank <= 5
      ORDER BY id ASC, nbr_rank ASC
    """))

  /** Semantic dedup (SemDeDup, arXiv:2303.09540): within-KMeans-cluster
    * cosine prune — duplicate iff a lower-id member of the same coarse
    * cluster has rounded cosine ≥ 0.25 (the fixture embeddings carry no
    * planted near-dups, so the threshold sits inside the observed
    * within-cluster similarity range to exercise the prune rule; the
    * SEMANTICS — assignment join, bounded within-cluster pair join,
    * min-lower-id keep rule — are threshold-independent). Reuses the IVF
    * index's KMeans layout as the coarse quantizer and hands the
    * assignment table to DuckDB (staged + renamed, same contract as
    * ivf_partial_probe), so the oracle replays the identical clusters,
    * cap, and prune arithmetic. */
  private val semanticDedup = Q(
    "semantic_dedup",
    (s, dir) => {
      val indexDir = Fixtures.ivfDir(dir)
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.ivf(s, dir)
      val assignments = graft.search.IvfIndex.readData(s, indexDir)
        .select(col("vec_id"), col("cluster_id"))
      stageOracleOnce(s, "semdedup", dir)("assign" -> assignments)
      SemanticDedup.markDuplicates(e, assignments, "vec_id", "embedding",
          tau = 0.25, maxClusterSize = 10000)
        .orderBy(col("vec_id").asc)
    },
    Some(s"""
      WITH a AS (SELECT vec_id, cluster_id FROM
        read_parquet('/tmp/graft_semdedup_oracle_$OracleKey/assign/*.parquet')),
      sz AS (SELECT cluster_id FROM a
             GROUP BY cluster_id HAVING count(*) <= 10000),
      v AS (SELECT a.vec_id, a.cluster_id, e.embedding
            FROM a JOIN sz USING (cluster_id)
                   JOIN embeddings e USING (vec_id)),
      p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
            FROM v x JOIN v y
              ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
            WHERE ${duckCosine("x.embedding", "y.embedding")} >= 0.25),
      d AS (SELECT id_b AS vec_id, CAST(min(id_a) AS BIGINT) AS dup_of
            FROM p GROUP BY id_b)
      SELECT a.vec_id, CAST(a.cluster_id AS BIGINT) AS cluster_id, d.dup_of
      FROM a LEFT JOIN d USING (vec_id)
      ORDER BY a.vec_id ASC
    """))

  /** Incremental ingest dedup — the nightly-batch shape: documents with
    * doc_id ≥ 400 are the "new batch", checked ONLY against the
    * historical (doc_id < 400) signature artifact; each new doc reports
    * its best historical match at est ≥ 0.5. Never re-signs or
    * self-joins the corpus. The oracle replays signatures, banding, the
    * best-match window, and the threshold over the identical split. */
  private val dedupIncrementalIngest = Q(
    "dedup_incremental_ingest",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.minhashIncrementalDupes(
          docs.where(col("doc_id") < 400), docs.where(col("doc_id") >= 400),
          "doc_id", "text", numHashes = 8, bandSize = 1, minEst = 0.5,
          workDir = wd(dir))
        .orderBy(col("doc_id").asc)
    },
    Some(s"""
      WITH $duckShingles,
      e AS (SELECT doc_id, unnest(s) AS s FROM sh),
      dg AS (SELECT doc_id, md5(s) || md5('1:' || s) AS d FROM e),
      sig AS (SELECT doc_id,
                [min(substr(d, 1, 8)), min(substr(d, 9, 8)),
                 min(substr(d, 17, 8)), min(substr(d, 25, 8)),
                 min(substr(d, 33, 8)), min(substr(d, 41, 8)),
                 min(substr(d, 49, 8)), min(substr(d, 57, 8))] AS sig
              FROM dg GROUP BY doc_id),
      ob AS (SELECT doc_id, sig, unnest(range(0, 8)) AS band,
                    unnest(sig) AS band_key
             FROM sig WHERE doc_id < 400),
      nb AS (SELECT doc_id, sig, unnest(range(0, 8)) AS band,
                    unnest(sig) AS band_key
             FROM sig WHERE doc_id >= 400),
      cand AS (SELECT DISTINCT n.doc_id AS id, o.doc_id AS old_id,
                 round(list_sum(list_transform(range(1, 9),
                   i -> CASE WHEN n.sig[i] = o.sig[i]
                        THEN 1.0 ELSE 0.0 END)) / 8, 4) AS est_jaccard
               FROM nb n JOIN ob o
                 ON n.band = o.band AND n.band_key = o.band_key),
      r AS (SELECT id, old_id, est_jaccard,
                   row_number() OVER (PARTITION BY id
                     ORDER BY est_jaccard DESC, old_id ASC) AS rn
            FROM cand)
      SELECT id AS doc_id, CAST(old_id AS BIGINT) AS dup_of, est_jaccard
      FROM r WHERE rn = 1 AND est_jaccard >= 0.5
      ORDER BY doc_id ASC
    """))

  /** ANN quality evaluation as an engine query — the recall harness a
    * vector store ships so an operator can SIZE nprobe/band parameters
    * against measured recall instead of folklore: for the first 10
    * corpus vectors as queries, recall@5 of (a) the IVF index at partial
    * probe nprobe=4/16 vs exact L2 top-5, (b) the SRP-LSH bulk-ANN
    * tier vs exact cosine top-5 (self excluded — the LSH tier never
    * emits self-pairs), and (c) the multi-probe SRP tier (1-bit-flip
    * probes) vs the same exact cosine truth — quantifying what
    * multi-probe buys back. Every tier's arithmetic — probe ranking,
    * candidate generation, rank windows, the recall division itself —
    * replays in the oracle, so the MEASUREMENT is hash-checked, not just
    * the searches it measures. On the random fixture it reports what the
    * design docs claim: IVF at 4/16 probes recalls ~0.8, while SRP-LSH
    * recalls ~0 — cosine LSH finds NEAR-DUPLICATES, not arbitrary
    * nearest neighbours of unclustered vectors, which is precisely why
    * [[graft.search.AnnJoin.bulkTopKGuaranteed]]'s exact fallback
    * exists. */
  private val annRecallReport = Q(
    "ann_recall_report",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val indexDir = Fixtures.ivfDir(dir)
      val e = Tables.embeddings(s, dir)
      val model = Fixtures.ivf(s, dir)
      stageOracleOnceLazy(s, "annrecall", dir)(Seq(
        "centroids" -> s.read.parquet(
          graft.search.IvfIndex.centroidsDir(indexDir)),
        "assign" -> graft.search.IvfIndex.readData(s, indexDir)
          .select(col("vec_id"), col("cluster_id"))))

      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      import graft.functions.VectorFunctions
      // exact L2 top-5 (self included — IVF includes it identically)
      val exL2 = e.crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"),
          VectorFunctions.l2Sq(col("embedding"), col("qv")).as("d"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("d").asc, col("vec_id").asc)))
        .where(col("rn") <= 5).select("qid", "vec_id")
      // IVF tier at nprobe=4: rank centroids per query, probe, exact within
      val cent = s.read.parquet(graft.search.IvfIndex.centroidsDir(indexDir))
      val probed = q.crossJoin(broadcast(cent))
        .select(col("qid"), col("qv"), col("cluster_id"),
          VectorFunctions.l2Sq(col("qv"), col("centroid")).as("cd"))
        .withColumn("crn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cd").asc, col("cluster_id").asc)))
        .where(col("crn") <= 4)
        .select("qid", "qv", "cluster_id")
      val asg = graft.search.IvfIndex.readData(s, indexDir)
        .select(col("vec_id"), col("cluster_id"))
      val ivf = probed.join(asg, Seq("cluster_id"))
        .join(e, Seq("vec_id"))
        .select(col("qid"), col("vec_id"),
          VectorFunctions.l2Sq(col("embedding"), col("qv")).as("d"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("d").asc, col("vec_id").asc)))
        .where(col("rn") <= 5).select("qid", "vec_id")
      // exact cosine top-5, self excluded (the SRP tier's ground truth)
      val exCos = e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(VectorFunctions.cosineSim(col("embedding"), col("qv")), 4)
            .as("c"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("c").desc, col("vec_id").asc)))
        .where(col("rn") <= 5).select("qid", "vec_id")
      val srp = graft.search.AnnJoin.bulkTopK(e, "vec_id", "embedding",
          k = 5, dim = 64, workDir = wd(dir))
        .where(col("id") < 10)
        .select(col("id").as("qid"), col("nbr").as("vec_id"))
      // multi-probe SRP tier: candidates widened by the 1-bit-flip probe
      // set (Dedup.cosineVerifiedPairsMultiprobe over the same band
      // artifact), top-5 per query — its candidate recall vs exact
      // cosine completes the honest-LSH story: the report now measures
      // how much of the exact-vs-SRP gap multi-probe buys back
      val mpairs = Dedup.cosineVerifiedPairsMultiprobe(
        Dedup.srpBandsTable(e, "vec_id", "embedding", dim = 64, bits = 64,
          nBands = 4, maxBucket = 4096, dir = wd(dir).get), bandSize = 16)
      val msym = mpairs
        .select(col("id_a").as("id"), col("id_b").as("nbr"), col("cosine"))
        .unionByName(mpairs
          .select(col("id_b").as("id"), col("id_a").as("nbr"), col("cosine")))
      val msrp = msym.where(col("id") < 10)
        .withColumn("rn", row_number().over(Window.partitionBy(col("id"))
          .orderBy(col("cosine").desc, col("nbr").asc)))
        .where(col("rn") <= 5)
        .select(col("id").as("qid"), col("nbr").as("vec_id"))
      def recall(approx: org.apache.spark.sql.DataFrame,
                 exact: org.apache.spark.sql.DataFrame,
                 name: String) =
        approx.join(exact, Seq("qid", "vec_id"))
          .agg(round(count(lit(1)) / lit(50.0), 4).as("recall_at_5"))
          .withColumn("method", lit(name))
      recall(ivf, exL2, "ivf_nprobe4")
        .unionByName(recall(srp, exCos, "srp_lsh"))
        .unionByName(recall(msrp, exCos, "srp_multiprobe"))
        .select(col("method"), col("recall_at_5"))
        .orderBy(col("method").asc)
    },
    Some(s"""
      WITH $duckSrpCand, $duckSrpPairs,
      q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
            WHERE vec_id < 10),
      exl2 AS (SELECT qid, vec_id FROM (
          SELECT q.qid, e.vec_id,
                 row_number() OVER (PARTITION BY q.qid ORDER BY
                   list_sum(list_transform(range(1, len(e.embedding)+1),
                     i -> (CAST(e.embedding[i] AS DOUBLE)
                           - CAST(q.qv[i] AS DOUBLE))^2)) ASC,
                   e.vec_id ASC) AS rn
          FROM embeddings e CROSS JOIN q) WHERE rn <= 5),
      centt AS (SELECT * FROM
        read_parquet('/tmp/graft_annrecall_oracle_$OracleKey/centroids/*.parquet')),
      probed AS (SELECT qid, cluster_id FROM (
          SELECT q.qid, c.cluster_id,
                 row_number() OVER (PARTITION BY q.qid ORDER BY
                   list_sum(list_transform(range(1, len(c.centroid)+1),
                     i -> (CAST(c.centroid[i] AS DOUBLE)
                           - CAST(q.qv[i] AS DOUBLE))^2)) ASC,
                   c.cluster_id ASC) AS crn
          FROM centt c CROSS JOIN q) WHERE crn <= 4),
      assign AS (SELECT * FROM
        read_parquet('/tmp/graft_annrecall_oracle_$OracleKey/assign/*.parquet')),
      ivf AS (SELECT qid, vec_id FROM (
          SELECT p.qid, a.vec_id,
                 row_number() OVER (PARTITION BY p.qid ORDER BY
                   list_sum(list_transform(range(1, len(e.embedding)+1),
                     i -> (CAST(e.embedding[i] AS DOUBLE)
                           - CAST(q.qv[i] AS DOUBLE))^2)) ASC,
                   a.vec_id ASC) AS rn
          FROM probed p JOIN assign a USING (cluster_id)
               JOIN embeddings e ON e.vec_id = a.vec_id
               JOIN q ON q.qid = p.qid) WHERE rn <= 5),
      excos AS (SELECT qid, vec_id FROM (
          SELECT q.qid, e.vec_id,
                 row_number() OVER (PARTITION BY q.qid ORDER BY
                   ${duckCosine("e.embedding", "q.qv")} DESC,
                   e.vec_id ASC) AS rn
          FROM embeddings e CROSS JOIN q
          WHERE e.vec_id != q.qid) WHERE rn <= 5),
      sym AS (SELECT id_a AS id, id_b AS nbr, cosine FROM pairs
              UNION ALL
              SELECT id_b AS id, id_a AS nbr, cosine FROM pairs),
      srp AS (SELECT id AS qid, nbr AS vec_id FROM (
          SELECT id, nbr,
                 row_number() OVER (PARTITION BY id
                   ORDER BY cosine DESC, nbr ASC) AS rn
          FROM sym WHERE id < 10) WHERE rn <= 5),
      vkey AS (SELECT vec_id, b,
                      CASE WHEN f = 0 THEN band_key
                           ELSE substr(band_key, 1, f-1)
                                || (CASE WHEN substr(band_key, f, 1) = '0'
                                    THEN '1' ELSE '0' END)
                                || substr(band_key, f+1)
                      END AS band_key
               FROM kept CROSS JOIN range(0, 17) t(f)),
      mcand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM vkey a JOIN kept b
                  ON a.b = b.b AND a.band_key = b.band_key
                     AND a.vec_id < b.vec_id),
      mpairs AS (SELECT id_a, id_b,
                        ${duckCosine("ea.embedding", "eb.embedding")} AS cosine
                 FROM mcand
                 JOIN embeddings ea ON ea.vec_id = id_a
                 JOIN embeddings eb ON eb.vec_id = id_b),
      msym AS (SELECT id_a AS id, id_b AS nbr, cosine FROM mpairs
               UNION ALL
               SELECT id_b AS id, id_a AS nbr, cosine FROM mpairs),
      msrp AS (SELECT id AS qid, nbr AS vec_id FROM (
          SELECT id, nbr,
                 row_number() OVER (PARTITION BY id
                   ORDER BY cosine DESC, nbr ASC) AS rn
          FROM msym WHERE id < 10) WHERE rn <= 5),
      rivf AS (SELECT 'ivf_nprobe4' AS method,
                      round(count(*) / 50.0, 4) AS recall_at_5
               FROM ivf JOIN exl2 USING (qid, vec_id)),
      rsrp AS (SELECT 'srp_lsh' AS method,
                      round(count(*) / 50.0, 4) AS recall_at_5
               FROM srp JOIN excos USING (qid, vec_id)),
      rmp AS (SELECT 'srp_multiprobe' AS method,
                     round(count(*) / 50.0, 4) AS recall_at_5
              FROM msrp JOIN excos USING (qid, vec_id))
      SELECT method, recall_at_5 FROM rivf
      UNION ALL SELECT method, recall_at_5 FROM rsrp
      UNION ALL SELECT method, recall_at_5 FROM rmp
      ORDER BY method ASC
    """))

  /** Multi-probe cosine near-dup: the probe side also emits each band
    * key's 16 single-bit-flip variants, widening candidates to pairs
    * within hamming 1 of a shared band — multi-probe LSH's recall for
    * 17× probe rows instead of extra hash tables. Top-20 by cosine over
    * the widened set; the flip enumeration is positional, so the oracle
    * replays the identical candidate set. */
  private val dedupCosineMultiprobe = Q(
    "dedup_cosine_multiprobe",
    (s, dir) => {
      val bands = Dedup.srpBandsTable(Tables.embeddings(s, dir), "vec_id",
        "embedding", dim = 64, bits = 64, nBands = 4, maxBucket = 4096,
        dir = wd(dir).get)
      Dedup.cosineVerifiedPairsMultiprobe(bands, bandSize = 16)
        .orderBy(col("cosine").desc, col("id_a").asc, col("id_b").asc)
        .limit(20)
    },
    Some(s"""
      WITH $duckSrpKept,
      vkey AS (SELECT vec_id, b,
                      CASE WHEN f = 0 THEN band_key
                           ELSE substr(band_key, 1, f-1)
                                || (CASE WHEN substr(band_key, f, 1) = '0'
                                    THEN '1' ELSE '0' END)
                                || substr(band_key, f+1)
                      END AS band_key
               FROM kept CROSS JOIN range(0, 17) t(f)),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
               FROM vkey a JOIN kept b
                 ON a.b = b.b AND a.band_key = b.band_key
                    AND a.vec_id < b.vec_id),
      $duckSrpPairs
      SELECT id_a, id_b, cosine FROM pairs
      ORDER BY cosine DESC, id_a ASC, id_b ASC LIMIT 20
    """))

  /** The production dedup CASCADE: cheap exact tier first (md5
    * hash-agg), the near-dup tier (MinHash-LSH, est ≥ 0.9) ONLY over
    * exact-tier survivors — each tier shrinks the next tier's input,
    * which is what makes a multi-pass dedup affordable at corpus scale.
    * Every document reports which tier flagged it ('exact', 'near', or
    * NULL = kept) and its keeper id. Tie/ordering rules are the tiers'
    * own (min qualifying lower id), so the oracle replays the full
    * cascade decision per document. */
  private val dedupCascade = Q(
    "dedup_cascade",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val exact = Dedup.exact(docs, "doc_id", "text")   // hash, keep_id, n
      val withExact = docs.select(col("doc_id"), md5(col("text")).as("__h"))
        .join(exact.select(col("content_hash").as("__h"),
          col("keep_id")), Seq("__h"))
        .select(col("doc_id"),
          when(col("doc_id") =!= col("keep_id"), col("keep_id")).as("exact_of"))
      val survivors = withExact.where(col("exact_of").isNull)
        .select("doc_id")
      val nearPairs = Dedup.minhashCandidates(docs, "doc_id", "text",
          numHashes = 8, bandSize = 1, workDir = wd(dir))
        .where(col("est_jaccard") >= 0.9)
        .join(survivors.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
        .join(survivors.withColumnRenamed("doc_id", "id_b"), Seq("id_b"))
      val nearOf = nearPairs.groupBy(col("id_b").as("doc_id"))
        .agg(min(col("id_a")).as("near_of"))
      withExact.join(nearOf, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("exact_of").isNotNull, lit("exact"))
            .when(col("near_of").isNotNull, lit("near")).as("tier"),
          coalesce(col("exact_of"), col("near_of")).as("dup_of"))
        .orderBy(col("doc_id").asc)
    },
    Some(s"""
      WITH $duckShingles,
      ex AS (SELECT doc_id,
                    min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
             FROM documents),
      we AS (SELECT doc_id,
                    CASE WHEN doc_id != keep_id THEN keep_id END AS exact_of
             FROM ex),
      surv AS (SELECT doc_id FROM we WHERE exact_of IS NULL),
      e AS (SELECT doc_id, unnest(s) AS s FROM sh),
      dg AS (SELECT doc_id, md5(s) || md5('1:' || s) AS d FROM e),
      sig AS (SELECT doc_id,
                [min(substr(d, 1, 8)), min(substr(d, 9, 8)),
                 min(substr(d, 17, 8)), min(substr(d, 25, 8)),
                 min(substr(d, 33, 8)), min(substr(d, 41, 8)),
                 min(substr(d, 49, 8)), min(substr(d, 57, 8))] AS sig
              FROM dg GROUP BY doc_id),
      bands AS (SELECT doc_id, sig, unnest(range(0, 8)) AS band,
                       unnest(sig) AS band_key
                FROM sig),
      np AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
             WHERE round(list_sum(list_transform(range(1, 9),
               i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1.0 ELSE 0.0 END)) / 8,
               4) >= 0.9
               AND a.doc_id IN (SELECT doc_id FROM surv)
               AND b.doc_id IN (SELECT doc_id FROM surv)),
      nearof AS (SELECT id_b AS doc_id, CAST(min(id_a) AS BIGINT) AS near_of
                 FROM np GROUP BY id_b)
      SELECT we.doc_id,
             CASE WHEN we.exact_of IS NOT NULL THEN 'exact'
                  WHEN n.near_of IS NOT NULL THEN 'near' END AS tier,
             coalesce(we.exact_of, n.near_of) AS dup_of
      FROM we LEFT JOIN nearof n USING (doc_id)
      ORDER BY we.doc_id ASC
    """))

  /** Exact edit-distance-1 self-join on customer names via deletion-
    * neighborhood blocking (FuzzyJoin.selfJoin) — entity resolution on
    * near-identical identifiers. The oracle is the BRUTE-FORCE all-
    * pairs Levenshtein formulation, so a hash match proves the
    * deletion-key block join is lossless, not merely plausible. */
  private val fuzzyEditJoin = Q(
    "fuzzy_edit_join",
    (s, dir) =>
      FuzzyJoin.selfJoin(Tables.customer(s, dir), "c_custkey", "c_name",
          maxDist = 1)
        .orderBy(col("a_id").asc, col("b_id").asc),
    Some("""
      SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
             CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
      FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1
      ORDER BY a_id ASC, b_id ASC
    """))

  /** Radius-2 variant, profiled: per-distance pair counts and distinct
    * left endpoints. The Spark side still computes the exact pair set
    * (the aggregation is over FuzzyJoin.selfJoin's output); the oracle
    * recomputes the same profile from brute-force all-pairs
    * Levenshtein, pinning both the d=2 neighborhood generation and the
    * verify filter.
    *
    * Bounded to a FIXED 1500-key slice at every SF: consecutive
    * zero-padded id-strings are the documented worst case for radius 2
    * — the TRUE pair density is itself ~quadratic (136 pairs/key on
    * this slice; a real name/title corpus is sparse in edit space), so
    * the entry's job is to hash-pin the d=2 semantics, while the
    * full-corpus scaling form is `fuzzy_edit_join` (d=1, SCALE.md). */
  private val fuzzyEditJoinD2 = Q(
    "fuzzy_edit_join_d2",
    (s, dir) =>
      FuzzyJoin.selfJoin(
          Tables.customer(s, dir).where(col("c_custkey") < 1500),
          "c_custkey", "c_name", maxDist = 2)
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("a_id")).as("n_left"))
        .orderBy(col("dist").asc),
    Some("""
      WITH c AS (SELECT c_custkey, c_name FROM customer
                 WHERE c_custkey < 1500),
      p AS (
        SELECT a.c_custkey AS a_id,
               levenshtein(a.c_name, b.c_name) AS dist
        FROM c a JOIN c b ON a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 2)
      SELECT CAST(dist AS INT) AS dist,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(count(DISTINCT a_id) AS BIGINT) AS n_left
      FROM p GROUP BY dist ORDER BY dist ASC
    """))

  /** Dictionary fuzzy lookup (FuzzyJoin.lookup): 50 queries with a
    * planted trailing typo resolved against the customer-name
    * dictionary through a build-once deletion-key ARTIFACT — SymSpell's
    * deployment shape (precompute the dictionary's variants once; each
    * query explodes only its own neighborhood). The oracle is the
    * brute-force bipartite Levenshtein join, so the hash match proves
    * the artifact path is lossless end-to-end: each typo resolves to
    * its whole last-digit family at distance 1. */
  private val fuzzyLookup = Q(
    "fuzzy_lookup",
    (s, dir) => {
      val cust = Tables.customer(s, dir)
      val keys = graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_fuzkeys_${math.abs(dir.hashCode)}") {
        FuzzyJoin.keyTable(cust, "c_custkey", "c_name", maxDist = 1)
      }
      val queries = cust.where(col("c_custkey") < 50)
        .select((col("c_custkey") + 10000).as("q_id"),
          concat(substring(col("c_name"), 1, 17), lit("X")).as("q_name"))
      FuzzyJoin.lookup(keys, queries, "q_id", "q_name", maxDist = 1)
        .orderBy(col("q_id").asc, col("dict_id").asc)
    },
    Some("""
      WITH q AS (SELECT c_custkey + 10000 AS q_id,
                        substr(c_name, 1, 17) || 'X' AS q_name
                 FROM customer WHERE c_custkey < 50)
      SELECT q.q_id, c.c_custkey AS dict_id,
             CAST(levenshtein(q.q_name, c.c_name) AS INT) AS dist
      FROM q JOIN customer c ON levenshtein(q.q_name, c.c_name) <= 1
      ORDER BY q_id ASC, dict_id ASC
    """))

  /** Chunk-level containment — copied-document detection between the
    * doc-level tiers (exact/minhash/simhash) and the token-level one
    * (substring spans): tile every document into fixed 20-token
    * windows, fingerprint each with md5, and report per-doc how much of
    * the document consists of chunks that appear ANYWHERE else in the
    * corpus (the containment ratio of Broder's resemblance/containment
    * pair). Catches partial copies that whole-doc hashing misses and
    * near-dup pairs whose edit is confined to one tile. Plan: one
    * explode → one hash-count shuffle → one join back; fingerprints
    * shuffle 16 bytes, never the text. */
  private val dedupChunkContainment = Q(
    "dedup_chunk_containment",
    (s, dir) => {
      val toks = split(col("text"), "\\s+")
      val tiled = Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("toks"))
        .where(size(col("toks")) > 0)
        .select(col("doc_id"),
          explode(sequence(lit(0), size(col("toks")) - 1, lit(20)))
            .as("start"),
          col("toks"))
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("toks"), col("start") + 1, lit(20))))
            .as("h"))
      val counts = tiled.groupBy(col("h")).agg(count(lit(1)).as("c"))
      tiled.join(counts, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_shared"))
        .where(col("n_shared") > 0)
        .select(col("doc_id"), col("n_chunks"), col("n_shared"),
          round(col("n_shared").cast("double") / col("n_chunks"), 4)
            .as("containment"))
        .orderBy(col("doc_id").asc)
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                 FROM documents),
      w AS (SELECT doc_id,
                   md5(array_to_string(toks[s+1:s+20], ' ')) AS h
            FROM (SELECT doc_id, toks,
                         unnest(range(0, len(toks), 20)) AS s
                  FROM t WHERE len(toks) > 0)),
      c AS (SELECT h, count(*) AS c FROM w GROUP BY h),
      p AS (SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_shared
            FROM w JOIN c USING (h) GROUP BY doc_id)
      SELECT doc_id, n_chunks, n_shared,
             round(CAST(n_shared AS DOUBLE) / n_chunks, 4) AS containment
      FROM p WHERE n_shared > 0
      ORDER BY doc_id ASC
    """))

  val all: Seq[Q] = Seq(dedupExact, dedupJaccardPairs, dedupMinhashLsh,
    dedupMinhashRecall,
    dedupSimhash, dedupSimhash64, dedupCosinePairs, dedupCosineMultiprobe, annBulkTopk,
    annBulkTopkGuaranteed,
    dedupSubstringSpans, dedupClusters, dedupKeeperSelection, semanticDedup,
    dedupIncrementalIngest, annRecallReport,
    dedupCascade, fuzzyEditJoin, fuzzyEditJoinD2, fuzzyLookup,
    fuzzyLongDispatch, fuzzyPassjoinMidlength,
    dedupChunkContainment)
}
