package graft

import graft.QueryDsl._
import graft.core.Tables
import graft.curate.Sampling
import org.apache.spark.sql.functions._

/** Dataset-curation coverage: deterministic (hash-based) splits and
  * subsampling over `documents` — reproducible across engines, reruns,
  * and corpus growth, unlike `rand()`-seeded sampling. */
object CurateQueries {
  /** First 16 md5 bits of the id's decimal string (Horner over 4 hex
    * nibbles), mod 100 — DuckDB mirror of Sampling.hashBucket. */
  private def nib(i: Int) =
    s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
  private val duckBucket =
    s"((((${nib(1)} * 16 + ${nib(2)}) * 16 + ${nib(3)}) * 16 + ${nib(4)}) % 100)"

  /** Deterministic 80/10/10 train/val/test assignment per document. */
  private val trainValTestSplit = Q(
    "train_val_test_split",
    (s, dir) =>
      Sampling.withSplit(Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id").asc),
    Some(s"""
      SELECT doc_id,
             CASE WHEN $duckBucket < 80 THEN 'train'
                  WHEN $duckBucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents ORDER BY doc_id ASC
    """))

  /** Deterministic 10% corpus subsample (hash bucket < 10). */
  private val sampleHash = Q(
    "sample_hash_10pct",
    (s, dir) =>
      Sampling.sampleByHash(Tables.documents(s, dir), "doc_id", pct = 10)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id").asc),
    Some(s"""
      SELECT doc_id, n_chars FROM documents
      WHERE $duckBucket < 10
      ORDER BY doc_id ASC
    """))

  /** Token-budget batch packing per (split, shard) lane — budget 2000
    * estimated tokens, 8 shards. */
  private val packTokenBatches = Q(
    "pack_token_batches",
    (s, dir) =>
      Sampling.packByTokenBudget(Tables.documents(s, dir), "doc_id", "text",
          budgetTokens = 2000L, nShards = 8)
        .select(col("doc_id"), col("split"), col("shard").cast("long").as("shard"),
          col("est_tokens"), col("batch_id"))
        .orderBy(col("doc_id").asc),
    Some(s"""
      WITH b AS (SELECT doc_id, text,
                        CASE WHEN $duckBucket < 80 THEN 'train'
                             WHEN $duckBucket < 90 THEN 'val'
                             ELSE 'test' END AS split,
                        CAST($duckBucket % 8 AS BIGINT) AS shard,
                        CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens
                 FROM documents)
      SELECT doc_id, split, shard, est_tokens,
             CAST(floor((sum(est_tokens) OVER (PARTITION BY split, shard
                    ORDER BY doc_id ASC) - est_tokens) / 2000.0) AS BIGINT)
               AS batch_id
      FROM b ORDER BY doc_id ASC
    """))

  /** End-to-end curation pipeline: English docs, quality >= 0.5, exact
    * dedup survivors only (left-semi against the keep set), then the
    * deterministic split — the canonical pretraining-corpus curation
    * flow as ONE declarative plan (filters push to the scan; dedup is a
    * map-side-combine aggregate + semi join; no driver loops). */
  private val curatePipeline = Q(
    "curate_pipeline",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val quality = graft.text.TextAnalysis
        .qualityScore(docs, "doc_id", "text")
      val keep = graft.dedup.Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id"))
      val filtered = docs.where(col("lang") === "en")
        .join(quality, "doc_id")
        .where(col("quality") >= 0.5)
        .join(keep, col("doc_id") === col("keep_id"), "left_semi")
      Sampling.withSplit(filtered, "doc_id")
        .select(col("doc_id"), col("quality"), col("split"))
        .orderBy(col("doc_id").asc)
    },
    Some(s"""
      WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                 FROM documents),
      q AS (SELECT doc_id,
                   round(0.3 * least(len(toks) / 100.0, 1.0)
                       + 0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
                       + 0.3 * least((list_sum(list_transform(toks,
                           tk -> CAST(length(tk) AS DOUBLE))) / len(toks)) / 8.0, 1.0)
                     + 1e-9,
                     4) AS quality
            FROM t),
      keep AS (SELECT CAST(min(doc_id) AS BIGINT) AS keep_id
               FROM documents GROUP BY md5(text))
      SELECT d.doc_id, q.quality,
             CASE WHEN $duckBucket < 80 THEN 'train'
                  WHEN $duckBucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d
      JOIN q USING (doc_id)
      WHERE d.lang = 'en' AND q.quality >= 0.5
        AND d.doc_id IN (SELECT keep_id FROM keep)
      ORDER BY d.doc_id ASC
    """))

  /** Train/eval contamination report: per non-train doc, the train doc
    * sharing the most 3-gram shingles (train-side df-capped at 5%) and
    * the shared-shingle ratio — bipartite inverted-index join, never
    * |train|×|eval|. */
  private val contaminationReport = Q(
    "contamination_report",
    (s, dir) =>
      graft.curate.Contamination.report(Tables.documents(s, dir),
          "doc_id", "text",
          workDir = Some(Fixtures.dedupWorkDir(dir)))
        .orderBy(col("doc_id").asc),
    Some(s"""
      WITH sp AS (SELECT doc_id, text,
                         CASE WHEN $duckBucket < 80 THEN 'train'
                              WHEN $duckBucket < 90 THEN 'val'
                              ELSE 'test' END AS split
                  FROM documents),
      sh AS (SELECT doc_id, split,
                    list_distinct(list_transform(range(1, len(toks)-1),
                      i -> array_to_string(toks[i:i+2], ' '))) AS s
             FROM (SELECT doc_id, split,
                          string_split_regex(text, '\\s+') AS toks
                   FROM sp)
             WHERE len(toks) >= 3),
      e AS (SELECT doc_id, split, unnest(s) AS s FROM sh),
      tr AS (SELECT s, doc_id AS train_id FROM e WHERE split = 'train'),
      ntr AS (SELECT count(*) AS n_train FROM sh WHERE split = 'train'),
      tdf AS (SELECT s, count(*) AS df FROM tr GROUP BY s),
      trk AS (SELECT tr.s, tr.train_id
              FROM tr JOIN tdf USING (s) CROSS JOIN ntr
              WHERE tdf.df <= ceil(ntr.n_train * 0.05)),
      ev AS (SELECT s, doc_id AS eval_id, split FROM e WHERE split != 'train'),
      shared AS (SELECT eval_id, split, train_id, count(*) AS n_shared
                 FROM ev JOIN trk USING (s)
                 GROUP BY eval_id, split, train_id),
      esz AS (SELECT doc_id AS eval_id, len(s) AS eval_sz FROM sh
              WHERE split != 'train'),
      rk AS (SELECT shared.*, eval_sz,
                    row_number() OVER (PARTITION BY eval_id
                      ORDER BY n_shared DESC, train_id ASC) AS r
             FROM shared JOIN esz USING (eval_id))
      SELECT eval_id AS doc_id, split, train_id AS best_train_id,
             CAST(n_shared AS BIGINT) AS n_shared,
             round(CAST(n_shared AS DOUBLE) / eval_sz + 1e-9, 4) AS overlap
      FROM rk WHERE r = 1 ORDER BY doc_id ASC
    """))

  /** Bloom-prefiltered decontamination scrub
    * ([[graft.curate.Contamination.bloomScrub]]) — the 100 TB-direction
    * twin of `contamination_report`: flag TRAIN docs sharing any 8-gram
    * with the (bounded) eval suites. The eval side's distinct shingles
    * compress into ONE bloom filter (Catalyst's own
    * BloomFilterAggregate, xxhash64-keyed) shipped to the train scan as
    * a plan literal; the corpus-sized side is probed by a codegen
    * `might_contain` DURING its single scan, so only probable hits
    * reach the exact verify join — train shingles never shuffle. Blooms
    * have no false negatives, so the verified output is EXACT — which
    * is precisely what the oracle (a plain exact overlap replay, no
    * bloom) checks. Long 8-gram shingles are the GPT-3-style
    * decontamination discipline: incidental phrase overlap doesn't
    * mass-flag the corpus; verbatim leakage does. */
  private val contaminationBloomScrub = Q(
    "contamination_bloom_scrub",
    (s, dir) =>
      graft.curate.Contamination.bloomScrub(Tables.documents(s, dir),
          "doc_id", "text",
          workDir = Some(Fixtures.dedupWorkDir(dir)))
        .orderBy(col("doc_id").asc),
    Some(s"""
      WITH sp AS (SELECT doc_id, text,
                         CASE WHEN $duckBucket < 80 THEN 'train'
                              WHEN $duckBucket < 90 THEN 'val'
                              ELSE 'test' END AS split
                  FROM documents),
      sh AS (SELECT doc_id, split,
                    list_distinct(list_transform(range(1, len(toks)-6),
                      i -> array_to_string(toks[i:i+7], ' '))) AS s
             FROM (SELECT doc_id, split,
                          string_split_regex(text, '\\s+') AS toks
                   FROM sp)
             WHERE len(toks) >= 8),
      ev AS (SELECT DISTINCT unnest(s) AS shingle FROM sh
             WHERE split != 'train'),
      tr AS (SELECT doc_id, unnest(s) AS shingle FROM sh
             WHERE split = 'train'),
      c AS (SELECT tr.doc_id, count(*) AS n_shared
            FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id)
      SELECT doc_id, CAST(n_shared AS BIGINT) AS n_shared,
             'drop' AS action
      FROM c WHERE n_shared >= 1 ORDER BY doc_id ASC
    """))

  /** Source mixture weighting: at most 10 docs per source, md5-of-id
    * draw (deterministic, unbiased by insertion order). */
  private val quotaPerSource = Q(
    "quota_per_source",
    (s, dir) =>
      Sampling.quotaPerSource(Tables.documents(s, dir), "doc_id", "source",
          n = 10)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id").asc),
    Some("""
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS r
        FROM documents)
      WHERE r <= 10 ORDER BY doc_id ASC
    """))

  /** PII scrub over deterministically PII-augmented fixture text (the
    * synthetic corpus contains no PII, so each doc gets a constructed
    * email / phone / URL derived from its id — both engines build the
    * identical input, then redact with the same regexes in the same
    * URL→email→phone order). Output keeps the redacted text as an md5
    * fingerprint so the hash check covers the full redacted string. */
  private val piiScrub = Q(
    "pii_scrub",
    (s, dir) => {
      import graft.curate.Pii
      val augmented = Tables.documents(s, dir).withColumn("text",
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" via https://ex.org/d/"), col("doc_id")))
      Pii.scrub(augmented, "text")
        .select(col("doc_id"), col("n_urls"), col("n_emails"),
          col("n_phones"), md5(col("text_redacted")).as("redacted_md5"))
        .orderBy(col("doc_id").asc)
    },
    Some(s"""
      WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || doc_id || '@example.com or 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' via https://ex.org/d/' || doc_id AS text
        FROM documents),
      p AS (
        SELECT doc_id, text AS t0,
               regexp_replace(text, '${graft.curate.Pii.UrlRe}', '<URL>', 'g') AS t1
        FROM aug),
      p2 AS (
        SELECT *, regexp_replace(t1, '${graft.curate.Pii.EmailRe}', '<EMAIL>', 'g') AS t2
        FROM p),
      p3 AS (
        SELECT *, regexp_replace(t2, '${graft.curate.Pii.PhoneRe}', '<PHONE>', 'g') AS t3
        FROM p2)
      SELECT doc_id,
             CAST(len(regexp_extract_all(t0, '${graft.curate.Pii.UrlRe}')) AS BIGINT) AS n_urls,
             CAST(len(regexp_extract_all(t1, '${graft.curate.Pii.EmailRe}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(t2, '${graft.curate.Pii.PhoneRe}')) AS BIGINT) AS n_phones,
             md5(t3) AS redacted_md5
      FROM p3 ORDER BY doc_id ASC
    """))

  /** Contrastive (anchor, positive, negative) triplets: exact 1-NN
    * positive + deterministic offset negative, every 100th vector as
    * anchor. */
  private val contrastiveTriplets = Q(
    "contrastive_triplets",
    (s, dir) =>
      graft.curate.Contrastive.triplets(
        Tables.embeddings(s, dir), "vec_id", "embedding", anchorEvery = 100),
    Some("""
      WITH a AS (SELECT vec_id AS anchor_id, embedding AS ae
                 FROM embeddings WHERE vec_id % 100 = 0),
      d AS (SELECT a.anchor_id, e.vec_id, %L2% AS distance
            FROM embeddings e, a WHERE e.vec_id <> a.anchor_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
                        ORDER BY distance, vec_id) AS rn
            FROM d),
      nn AS (SELECT count(*) AS n FROM embeddings),
      b AS (SELECT anchor_id, vec_id AS positive_id,
                   distance AS positive_distance
            FROM r WHERE rn = 1),
      c0 AS (SELECT b.*, n, (anchor_id + n // 2) % n AS cand
             FROM b CROSS JOIN nn),
      c1 AS (SELECT * REPLACE (CASE WHEN cand = anchor_id
                                      OR cand = positive_id
                                    THEN (cand + 1) % n ELSE cand END AS cand)
             FROM c0),
      c2 AS (SELECT * REPLACE (CASE WHEN cand = anchor_id
                                      OR cand = positive_id
                                    THEN (cand + 1) % n ELSE cand END AS cand)
             FROM c1)
      SELECT anchor_id, positive_id, positive_distance,
             cand AS negative_id
      FROM c2 ORDER BY anchor_id ASC
    """.replace("%L2%", graft.QueryDsl.duckL2("e.embedding", "a.ae"))))

  /** Temperature mixing (α = 0.5): per-source quota
    * min(count, ceil(4·√count)) drawn in md5 order — the LLM-corpus
    * mixture-flattening step; quota arithmetic and draw replay exactly
    * in the oracle. */
  private val domainMixSample = Q(
    "domain_mix_sample",
    (s, dir) =>
      Sampling.temperatureMixSample(Tables.documents(s, dir), "doc_id",
          "source", multiplier = 4)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id").asc),
    Some("""
      WITH q AS (SELECT source,
                        least(count(*), CAST(ceil(sqrt(count(*)) * 4)
                          AS BIGINT)) AS quota
                 FROM documents GROUP BY source),
      r AS (SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                     ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                              doc_id ASC) AS rn
            FROM documents)
      SELECT r.doc_id, r.source
      FROM r JOIN q USING (source) WHERE r.rn <= q.quota
      ORDER BY r.doc_id ASC
    """))

  /** Deterministic epoch shuffle: md5-salted (shard, pos) coordinates —
    * the reproducible training read order; per-shard windows, no global
    * sort. */
  private val trainingOrderShuffle = Q(
    "training_order_shuffle",
    (s, dir) =>
      Sampling.shuffleIntoShards(Tables.documents(s, dir), "doc_id",
          nShards = 8, salt = "epoch0")
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("doc_id").asc),
    Some("""
      WITH h AS (SELECT doc_id,
                        md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS hh
                 FROM documents),
      s AS (SELECT doc_id, hh,
                   CAST(('0x' || substr(hh, 1, 15)) AS BIGINT) % 8 AS shard
            FROM h)
      SELECT doc_id, shard,
             CAST(row_number() OVER (PARTITION BY shard
               ORDER BY hh ASC, doc_id ASC) AS BIGINT) AS pos
      FROM s ORDER BY doc_id ASC
    """))

  /** Percentile-relative quality cut: drop the corpus's bottom quartile
    * by composite quality score. The threshold is DATA-RELATIVE (the p25
    * over the scored corpus), which is how production quality cuts are
    * specified — an absolute threshold goes stale as the corpus mix
    * shifts. The threshold is a DISCRETE order statistic (the
    * floor(0.25·(n−1))+1-th smallest score — an actual data value, the
    * quantile_disc definition), NOT an interpolated percentile: an
    * interpolation is engine-arithmetic-dependent in its last ulp and a
    * boundary score can straddle the rounded bound, whereas value
    * equality against a value drawn FROM the data compares identically
    * everywhere. Plan: one scoring scan, a bounded TakeOrdered for the
    * order statistic, broadcast back as the filter bound (at petabyte
    * corpora swap in an approximate quantile with a tolerance band). */
  private val qualityPercentileFilter = Q(
    "quality_percentile_filter",
    (s, dir) => {
      val scored = graft.text.TextAnalysis.qualityScore(
        Tables.documents(s, dir), "doc_id", "text")
      val n = scored.count()
      val k = (0.25 * (n - 1)).toLong + 1
      val thr = scored.select(col("quality"))
        .orderBy(col("quality").asc).limit(k.toInt)
        .agg(max(col("quality")).as("thr"))
      scored.crossJoin(broadcast(thr))
        .where(col("quality") > col("thr"))
        .select(col("doc_id"), col("quality"))
        .orderBy(col("doc_id").asc)
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                 FROM documents),
      sc AS (SELECT doc_id,
               round(0.3 * least(len(toks) / 100.0, 1.0)
                   + 0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE)
                            / len(toks))
                   + 0.3 * least((list_sum(list_transform(toks,
                       tk -> CAST(length(tk) AS DOUBLE))) / len(toks)) / 8.0,
                       1.0)
                   + 1e-9, 4) AS quality
             FROM t),
      th AS (SELECT quantile_disc(quality, 0.25) AS thr FROM sc)
      SELECT doc_id, quality FROM sc CROSS JOIN th
      WHERE quality > thr ORDER BY doc_id ASC
    """))

  /** Exact-hash split-leakage audit — the cheap decontamination gate a
    * pipeline runs BEFORE the n-gram contamination pass: any content
    * hash whose copies span more than one of train/val/test is verbatim
    * leakage (an eval answer sitting in the training set), reported with
    * per-split copy counts. One hash-aggregate over digests — map-side
    * combined, no text shuffles, no pairwise anything — so it costs an
    * exact-dedup pass regardless of corpus size. Complements
    * contamination_report (n-gram overlap ranks fuzzy matches; this
    * catches the exact ones with certainty and at ~zero cost). */
  private val splitLeakageCheck = Q(
    "split_leakage_check",
    (s, dir) => {
      val d = Sampling.withSplit(Tables.documents(s, dir), "doc_id")
      d.groupBy(md5(col("text")).as("content_hash"))
        .agg(countDistinct(col("split")).as("n_splits"),
          count(lit(1)).as("n_docs"),
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"),
          min(col("doc_id")).as("example_doc"))
        .where(col("n_splits") > 1)
        .orderBy(col("content_hash").asc)
    },
    Some(s"""
      WITH sp AS (SELECT doc_id, text,
                         CASE WHEN $duckBucket < 80 THEN 'train'
                              WHEN $duckBucket < 90 THEN 'val'
                              ELSE 'test' END AS split
                  FROM documents),
      g AS (SELECT md5(text) AS content_hash,
                   CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_train,
                   CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_val,
                   CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_test,
                   CAST(min(doc_id) AS BIGINT) AS example_doc
            FROM sp GROUP BY md5(text))
      SELECT content_hash, n_splits, n_docs, n_train, n_val, n_test,
             example_doc
      FROM g WHERE n_splits > 1 ORDER BY content_hash ASC
    """))

  val all: Seq[Q] = Seq(trainValTestSplit, sampleHash, packTokenBatches,
    curatePipeline, contaminationReport, contaminationBloomScrub,
    quotaPerSource, piiScrub,
    contrastiveTriplets, domainMixSample, trainingOrderShuffle,
    qualityPercentileFilter, splitLeakageCheck)
}
