package graft

import graft.QueryDsl._
import graft.core.Tables
import graft.ingest.Preprocess
import graft.text.{BpeLearn, CdcChunks, CountMin, Keywords, LangModel, Repetition, TextAnalysis}
import org.apache.spark.sql.functions._

/** Text-operator coverage: ingest preprocess (SURVEY §2.2), keyword/chunk
  * ops (§2.4), and the training-data text-analysis suite (north star). */
object TextQueries {
  private val stopWordsSqlList =
    Keywords.StopWords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** I1+I2: regex cleanup, whitespace collapse, min-length filter. */
  private val preprocessClean = Q(
    "preprocess_clean",
    (s, dir) => {
      Preprocess(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("text_clean"))
        .orderBy(col("doc_id").asc)
    },
    Some("""
      WITH c AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(text,
                 '[^\w一-鿿\s.,!?;:，。！？；：]', '', 'g'), '\s+', ' ', 'g'))
                 AS text_clean
        FROM documents)
      SELECT doc_id, text_clean FROM c
      WHERE length(text_clean) >= 10
      ORDER BY doc_id ASC
    """))

  /** M6: keyword extraction — regex tokens, stopword removal, stable
    * length-desc ranking, top 3. */
  private val keywordExtract = Q(
    "keyword_extract",
    (s, dir) => {
      Keywords.extract(Tables.documents(s, dir), "doc_id", "text", k = 3)
        .withColumn("kw_rank", col("kw_rank").cast("long"))
        .orderBy(col("doc_id").asc, col("kw_rank").asc)
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id,
               unnest(range(1, len(t)+1)) AS tok_idx,
               unnest(t) AS keyword
        FROM (SELECT doc_id,
                regexp_extract_all(text, '[一-龥]{2,}|[a-zA-Z]{3,}') AS t
              FROM documents)),
      f AS (SELECT * FROM toks WHERE keyword NOT IN $stopWordsSqlList),
      r AS (SELECT doc_id, keyword,
                   CAST(row_number() OVER (PARTITION BY doc_id
                     ORDER BY length(keyword) DESC, tok_idx ASC) AS BIGINT)
                     AS kw_rank
            FROM f)
      SELECT doc_id, kw_rank, keyword FROM r WHERE kw_rank <= 3
      ORDER BY doc_id ASC, kw_rank ASC
    """))

  /** M5: chunk split on punctuation, trim, strictly-greater-5 filter,
    * first 2. Fixture text has no punctuation, so it is injected
    * deterministically (every 5th space becomes '. ') in both engines. */
  private val chunkSplit = Q(
    "chunk_split",
    (s, dir) => {
      val punctuated = Tables.documents(s, dir)
        .withColumn("ptext",
          regexp_replace(col("text"), "(\\w+ \\w+ \\w+ \\w+ \\w+) ", "$1. "))
      Keywords.chunks(punctuated, "doc_id", "ptext", maxChunks = 2, minLen = 5)
        .withColumn("chunk_rank", col("chunk_rank").cast("long"))
        .orderBy(col("doc_id").asc, col("chunk_rank").asc)
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
          regexp_replace(text, '(\w+ \w+ \w+ \w+ \w+) ', '\1. ', 'g') AS ptext
        FROM documents),
      cs AS (
        SELECT doc_id,
               unnest(range(1, len(c)+1)) AS chunk_idx,
               trim(unnest(c)) AS chunk
        FROM (SELECT doc_id,
                string_split_regex(ptext, '[，。！？；:,\.!?;]') AS c
              FROM p)),
      f AS (SELECT doc_id, chunk_idx, chunk FROM cs WHERE length(chunk) > 5),
      r AS (SELECT doc_id, chunk,
                   CAST(row_number() OVER (PARTITION BY doc_id
                     ORDER BY chunk_idx ASC) AS BIGINT) AS chunk_rank
            FROM f)
      SELECT doc_id, chunk_rank, chunk FROM r WHERE chunk_rank <= 2
      ORDER BY doc_id ASC, chunk_rank ASC
    """))

  /** Token statistics per document. */
  private val tokenStats = Q(
    "token_stats",
    (s, dir) =>
      TextAnalysis.tokenStats(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id").asc),
    Some("""
      WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                 FROM documents)
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             round(list_sum(list_transform(toks,
               tk -> CAST(length(tk) AS DOUBLE))) / len(toks) + 1e-9, 4)
               AS avg_token_len,
             round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
               + 1e-9, 4) AS distinct_ratio
      FROM t ORDER BY doc_id ASC
    """))

  /** Token counting: whitespace, BPE-ish regex, chars/4 estimate. */
  private val tokenCounts = Q(
    "token_counts",
    (s, dir) =>
      TextAnalysis.tokenCounts(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id").asc),
    Some("""
      SELECT doc_id,
             CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS ws_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
               AS BIGINT) AS bpe_tokens,
             CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens
      FROM documents ORDER BY doc_id ASC
    """))

  /** Model-based quality scoring (see [[graft.text.LinearClassifier]]):
    * fastText-shape linear inference over md5-hashed bag-of-words —
    * the CCNet/DCLM learned-filter twin of the heuristic
    * `quality_score`. The oracle replays tokenize → bucket → weight →
    * mean → sigmoid with the identical md5-nibble arithmetic. */
  private val classifierQualityScore = Q(
    "classifier_quality_score",
    (s, dir) =>
      graft.text.LinearClassifier.score(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id").asc),
    Some("""
      WITH t AS (SELECT doc_id,
                        unnest(string_split_regex(lower(text), '\s+')) AS tok
                 FROM documents),
      m AS (SELECT doc_id, md5(tok) AS m FROM t WHERE tok != ''),
      b AS (SELECT doc_id, CAST(%BUCKET% % 64 AS BIGINT) AS bucket FROM m),
      w AS (SELECT doc_id, avg((bucket % 7 - 3) / 10.0) AS s
            FROM b GROUP BY doc_id)
      SELECT d.doc_id,
             round(1.0 / (1.0 + exp(-coalesce(w.s, 0.0))) + 1e-12, 4)
               AS quality_prob
      FROM documents d LEFT JOIN w USING (doc_id)
      ORDER BY d.doc_id ASC
    """.replace("%BUCKET%", DuckOracle.md5Bucket32)))

  /** Sliding-window chunking with OVERLAP (size 20 tokens, stride 15 —
    * 5 tokens shared between neighbours): the RAG-standard chunker that
    * keeps context stitched across boundaries, vs `chunk_split`'s
    * sentence splitter (the reference's semantics, src/app.py:322) and
    * `cdc_chunks`' content-defined boundaries. Pure expression work —
    * sequence() of starts, explode, slice — one scan, rows ≈ n·len/stride;
    * chunks carry an md5 fingerprint rather than repeated text so the
    * output (and a downstream chunk-level dedup) shuffles 16 bytes, not
    * the corpus again. */
  private val chunkOverlapSplit = Q(
    "chunk_overlap_split",
    (s, dir) => {
      val winTokens = 20
      val stride = 15
      val toks = TextAnalysis.wsTerms(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"),
          explode(sequence(lit(0),
            greatest(size(col("toks")) - 1, lit(0)), lit(stride)))
            .as("start"),
          col("toks"))
        .select(col("doc_id"), (col("start") / stride).cast("long").as("chunk_idx"),
          slice(col("toks"), col("start") + 1, lit(winTokens)).as("chunk"))
        .where(size(col("chunk")) > 0)
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("chunk"))).as("fingerprint"))
        .orderBy(col("doc_id").asc, col("chunk_idx").asc)
    },
    Some("""
      WITH t AS (SELECT doc_id,
                        list_filter(string_split_regex(text, '\s+'),
                          x -> len(x) > 0) AS toks
                 FROM documents),
      st AS (SELECT doc_id, toks,
                    unnest(range(0, greatest(len(toks) - 1, 0) + 1, 15))
                      AS start
             FROM t),
      ch AS (SELECT doc_id, CAST(start / 15 AS BIGINT) AS chunk_idx,
                    list_slice(toks, start + 1, start + 20) AS chunk
             FROM st)
      SELECT doc_id, chunk_idx,
             CAST(len(chunk) AS BIGINT) AS n_tokens,
             md5(array_to_string(chunk, ' ')) AS fingerprint
      FROM ch WHERE len(chunk) > 0
      ORDER BY doc_id ASC, chunk_idx ASC
    """))

  /** Character-level Shannon entropy per document — the degenerate-text
    * signal the n-gram `repetition_filter` doesn't see (a doc of one
    * repeated CHARACTER has few repeated n-grams of its single token but
    * near-zero entropy; machine-generated filler and encoding garbage
    * sit at the distribution's tails). H = log₂n − (Σ c·log₂c)/n from
    * ONE explode + per-(doc,char) counts + a per-doc aggregate —
    * map-side combined, no joins, the same one-scan shape as the other
    * per-doc signals, so it rides along a 100 TB curation pass free. */
  private val charEntropy = Q(
    "char_entropy",
    (s, dir) => {
      val chars = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .where(length(col("ch")) > 0)
        .groupBy(col("doc_id"), col("ch"))
        .agg(count(lit(1)).cast("double").as("c"))
      chars.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n"),
          sum(col("c") * log2(col("c"))).as("clc"))
        .select(col("doc_id"),
          col("n").cast("long").as("n_chars"),
          round(log2(col("n")) - col("clc") / col("n") + lit(1e-12), 4)
            .as("entropy_bits"))
        .orderBy(col("doc_id").asc)
    },
    Some("""
      WITH ch AS (SELECT doc_id,
                         unnest(string_split_regex(text, '')) AS ch
                  FROM documents),
      cnt AS (SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
              FROM ch WHERE len(ch) > 0 GROUP BY doc_id, ch)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
             round(log2(sum(c)) - sum(c * log2(c)) / sum(c) + 1e-12, 4)
               AS entropy_bits
      FROM cnt GROUP BY doc_id ORDER BY doc_id ASC
    """))

  /** Composite quality score. */
  private val qualityScore = Q(
    "quality_score",
    (s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id").asc),
    Some("""
      WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                 FROM documents)
      SELECT doc_id,
             round(0.3 * least(len(toks) / 100.0, 1.0)
                 + 0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
                 + 0.3 * least((list_sum(list_transform(toks,
                     tk -> CAST(length(tk) AS DOUBLE))) / len(toks)) / 8.0, 1.0)
                     + 1e-9,
               4) AS quality
      FROM t ORDER BY doc_id ASC
    """))

  /** n-gram-heuristic language ID with pinned argmax priority. */
  private val langId = Q(
    "lang_id",
    (s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id").asc),
    Some("""
      WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
                 FROM documents),
      c AS (SELECT doc_id,
        CAST(len(list_filter(toks, tk -> list_contains(
          ['the','and','of','to','a','is','in','it'], tk))) AS BIGINT) AS en_hits,
        CAST(len(list_filter(toks, tk -> list_contains(
          ['le','la','et','les','des','un','une','est'], tk))) AS BIGINT) AS fr_hits,
        CAST(len(list_filter(toks, tk -> list_contains(
          ['el','los','las','una','es','y'], tk))) AS BIGINT) AS es_hits,
        CAST(len(list_filter(toks, tk -> list_contains(
          ['der','die','und','das','ist','ein'], tk))) AS BIGINT) AS de_hits,
        CAST(len(list_filter(toks, tk -> regexp_full_match(tk, '[一-龥]+')))
          AS BIGINT) AS zh_hits
        FROM t)
      SELECT doc_id, en_hits, fr_hits, es_hits, de_hits, zh_hits,
             CASE
               WHEN en_hits >= fr_hits AND en_hits >= es_hits
                AND en_hits >= de_hits AND en_hits >= zh_hits THEN 'en'
               WHEN fr_hits >= es_hits AND fr_hits >= de_hits
                AND fr_hits >= zh_hits THEN 'fr'
               WHEN es_hits >= de_hits AND es_hits >= zh_hits THEN 'es'
               WHEN de_hits >= zh_hits THEN 'de'
               ELSE 'zh'
             END AS predicted_lang
      FROM c ORDER BY doc_id ASC
    """))

  /** Document fingerprint (md5 of normalized text). */
  private val docFingerprint = Q(
    "doc_fingerprint",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id").asc),
    Some("""
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
               AS fingerprint
      FROM documents ORDER BY doc_id ASC
    """))

  /** Corpus vocabulary: top-50 tokens by total occurrences (doc freq
    * alongside) — the classic explode + hash-aggregate map-reduce. */
  private val vocabTopK = Q(
    "vocab_topk",
    (s, dir) =>
      TextAnalysis.vocabulary(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("n_occurrences").desc, col("token").asc)
        .limit(50),
    Some("""
      SELECT token,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
      FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
            FROM documents)
      WHERE token != ''
      GROUP BY token
      ORDER BY n_occurrences DESC, token ASC LIMIT 50
    """))

  /** Per-document top TF-IDF term (tf × ln(N/df); ranked on the rounded
    * score so cross-engine libm differences can't flip the winner). */
  private val tfidfTopTerms = Q(
    "tfidf_top_terms",
    (s, dir) =>
      TextAnalysis.tfIdfTopTerms(Tables.documents(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id").asc),
    Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
                   FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf
             FROM tok WHERE term != '' GROUP BY doc_id, term),
      dfq AS (SELECT term, count(*) AS df_ FROM tf GROUP BY term),
      n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      scored AS (SELECT doc_id, term,
                        round(tf * ln(CAST(n_docs AS DOUBLE) / df_), 4) AS tfidf
                 FROM tf JOIN dfq USING (term) CROSS JOIN n),
      rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                          ORDER BY tfidf DESC, term ASC) AS r
             FROM scored)
      SELECT doc_id, term, tfidf FROM rk WHERE r = 1 ORDER BY doc_id ASC
    """))

  /** Gopher-style repetition filter: dup n-gram fractions (codegen shingle
    * kernel) + modal-token dominance, with a keep flag at the pinned
    * thresholds (Repetition.MaxDup2/MaxDup3/MaxTopToken). */
  private val repetitionFilter = Q(
    "repetition_filter",
    (s, dir) =>
      Repetition.stats(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id").asc),
    Some(s"""
      WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                 FROM documents),
      per AS (SELECT doc_id,
                     CAST(len(toks) AS BIGINT) AS n_tokens,
                     len(list_distinct(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i+1]))) AS dist2,
                     len(list_distinct(list_transform(range(1, len(toks)-1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
                       AS dist3
              FROM t),
      top AS (SELECT doc_id, max(c) AS top_cnt
              FROM (SELECT doc_id, token, count(*) AS c
                    FROM (SELECT doc_id, unnest(toks) AS token FROM t)
                    GROUP BY doc_id, token)
              GROUP BY doc_id),
      j AS (SELECT doc_id, n_tokens,
                   CASE WHEN n_tokens - 1 <= 0 THEN 0.0
                        ELSE round(1.0 - CAST(dist2 AS DOUBLE)
                                       / (n_tokens - 1) + 1e-9, 4) END
                     AS dup_2gram_frac,
                   CASE WHEN n_tokens - 2 <= 0 THEN 0.0
                        ELSE round(1.0 - CAST(dist3 AS DOUBLE)
                                       / (n_tokens - 2) + 1e-9, 4) END
                     AS dup_3gram_frac,
                   round(CAST(top_cnt AS DOUBLE) / n_tokens + 1e-9, 4)
                     AS top_token_frac
            FROM per JOIN top USING (doc_id))
      SELECT doc_id, n_tokens, dup_2gram_frac, dup_3gram_frac,
             top_token_frac,
             (dup_2gram_frac <= ${Repetition.MaxDup2}
              AND dup_3gram_frac <= ${Repetition.MaxDup3}
              AND top_token_frac <= ${Repetition.MaxTopToken}) AS keep
      FROM j ORDER BY doc_id ASC
    """))

  /** Unigram-LM doc scoring (perplexity proxy): mean ln P(token) under
    * the corpus's own unigram distribution. */
  private val unigramLogprob = Q(
    "unigram_logprob",
    (s, dir) =>
      LangModel.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id").asc),
    Some("""
      WITH tok AS (
        SELECT doc_id, token
        FROM (SELECT doc_id,
                unnest(string_split_regex(text, '\s+')) AS token
              FROM documents)
        WHERE token <> ''),
      vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
      tot AS (SELECT sum(cnt) AS n_total FROM vocab)
      SELECT doc_id,
             round(avg(ln(cnt) - ln(n_total)), 4) AS avg_logprob,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM tok JOIN vocab USING (token) CROSS JOIN tot
      GROUP BY doc_id ORDER BY doc_id ASC
    """))

  /** Shared DuckDB mirror of the CdcChunkList kernel — ONE definition of
    * the pinned CDC semantics (window 8, nibble '0', doc end closes)
    * ending in a `ch(doc_id, chunk_no, chunk_len, chunk_md5)` CTE, so
    * the two CDC oracles cannot silently diverge from each other. */
  private val duckCdcChunks: String = """
      WITH t AS (SELECT doc_id, text, length(text) AS L FROM documents),
      b0 AS (SELECT doc_id, text, L,
               CASE WHEN L >= 8 THEN
                 list_filter(range(8, L + 1),
                   i -> substr(md5(substr(text, CAST(i - 7 AS INT), 8)), 1, 1)
                          = '0')
               ELSE CAST([] AS BIGINT[]) END AS bounds
             FROM t),
      b AS (SELECT doc_id, text,
              CASE WHEN bounds[-1] = L THEN bounds
                   ELSE list_append(bounds, L) END AS bs
            FROM b0),
      c AS (SELECT doc_id, text, bs,
              unnest(range(1, len(bs) + 1)) AS j
            FROM b),
      seg AS (SELECT doc_id, j, text,
                CASE WHEN j = 1 THEN 1 ELSE bs[j - 1] + 1 END AS start,
                bs[j] AS fin
              FROM c),
      ch AS (SELECT doc_id, CAST(j AS BIGINT) AS chunk_no,
               CAST(fin - start + 1 AS BIGINT) AS chunk_len,
               md5(substr(text, CAST(start AS INT),
                          CAST(fin - start + 1 AS INT))) AS chunk_md5
             FROM seg)"""

  /** Content-defined chunking: md5-window boundaries (w=8, nibble '0'),
    * exploded chunk inventory. Summed per doc here; the exploded form
    * feeds chunk-level dedup (group by chunk_md5). */
  private val cdcChunks = Q(
    "cdc_chunks",
    (s, dir) =>
      CdcChunks.chunks(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id").asc, col("chunk_no").asc),
    Some(duckCdcChunks + """
      SELECT doc_id, chunk_no, chunk_len, chunk_md5
      FROM ch ORDER BY doc_id ASC, chunk_no ASC
    """))

  /** Cross-document boilerplate via CDC chunks: chunks (≥8 chars) that
    * recur in ≥2 distinct documents — the passage-level duplication that
    * document fingerprints cannot see. One hash aggregate keyed by
    * chunk_md5 (map-side partials; no joins, no corpus-size state). */
  private val cdcBoilerplate = Q(
    "cdc_boilerplate",
    (s, dir) =>
      CdcChunks.chunks(Tables.documents(s, dir), "doc_id", "text")
        .where(col("chunk_len") >= 8)
        .groupBy(col("chunk_md5"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          max(col("chunk_len")).as("chunk_len"))
        .where(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("chunk_md5").asc),
    Some(duckCdcChunks + """
      SELECT chunk_md5,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(max(chunk_len) AS BIGINT) AS chunk_len
      FROM ch WHERE chunk_len >= 8
      GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) >= 2
      ORDER BY n_docs DESC, chunk_md5 ASC
    """))

  /** DuckDB replay of the BPE learning loop's CTEs: one (p_k, m_k, s_k)
    * triple per round — pair counts, argmax (excluding prior merges),
    * two-pass delimiter replace — mechanically generated for `n` rounds.
    * Shared by the learner oracle (final SELECT over m_1..m_n) and the
    * encoder oracle (per-document replay of the learned replaces). */
  private def bpeCtes(n: Int): String = {
    val sb = new StringBuilder
    sb ++= """
      WITH s0 AS (
        SELECT ' ' || array_to_string(list_transform(range(1, len(w)+1),
                 i -> substr(w, CAST(i AS INT), 1)), ' ') || ' ' AS seq
        FROM (SELECT unnest(string_split_regex(text, '\s+')) AS w
              FROM documents)
        WHERE w <> '')"""
    for (k <- 1 to n) {
      val notIn =
        if (k == 1) ""
        else "WHERE pair NOT IN (" +
          (1 until k).map(j => s"SELECT pair FROM m$j")
            .mkString(" UNION ALL ") + ")"
      sb ++= s"""
      , p$k AS (SELECT pair, count(*) AS n FROM (
            SELECT unnest(CASE WHEN len(sym) >= 2
              THEN list_transform(range(1, len(sym)),
                     i -> sym[i] || ' ' || sym[i+1])
              ELSE CAST([] AS VARCHAR[]) END) AS pair
            FROM (SELECT string_split(trim(seq), ' ') AS sym FROM s${k - 1}))
          $notIn GROUP BY pair)
      , m$k AS (SELECT pair, n FROM p$k ORDER BY n DESC, pair ASC LIMIT 1)
      , s$k AS (SELECT replace(replace(s${k - 1}.seq,
                  ' ' || m$k.pair || ' ',
                  ' ' || replace(m$k.pair, ' ', '') || ' '),
                  ' ' || m$k.pair || ' ',
                  ' ' || replace(m$k.pair, ' ', '') || ' ') AS seq
                FROM s${k - 1} CROSS JOIN m$k)"""
    }
    sb.toString
  }

  private def bpeOracle(n: Int): String =
    bpeCtes(n) +
      (1 to n).map(k => s"""
      SELECT CAST($k AS BIGINT) AS merge_rank, pair,
             replace(pair, ' ', '') AS merged, CAST(n AS BIGINT) AS n
      FROM m$k""").mkString(" UNION ALL ") +
      "\n      ORDER BY merge_rank ASC"

  /** Encode oracle: re-learn the merges (same CTEs), then replay the
    * rank-ordered two-pass replaces over every document's words and
    * count post-merge symbols per document. */
  private def bpeEncodeOracle(n: Int): String = {
    val sb = new StringBuilder
    sb ++= bpeCtes(n)
    sb ++= """
      , w0 AS (
        SELECT doc_id,
               ' ' || array_to_string(list_transform(range(1, len(w)+1),
                 i -> substr(w, CAST(i AS INT), 1)), ' ') || ' ' AS seq
        FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w
              FROM documents)
        WHERE w <> '')"""
    for (k <- 1 to n)
      sb ++= s"""
      , w$k AS (SELECT doc_id, replace(replace(w${k - 1}.seq,
                  ' ' || m$k.pair || ' ',
                  ' ' || replace(m$k.pair, ' ', '') || ' '),
                  ' ' || m$k.pair || ' ',
                  ' ' || replace(m$k.pair, ' ', '') || ' ') AS seq
                FROM w${k - 1} CROSS JOIN m$k)"""
    sb ++= s"""
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(len(string_split(trim(seq), ' '))) AS BIGINT)
               AS n_bpe_tokens
      FROM w$n GROUP BY doc_id ORDER BY doc_id ASC"""
    sb.toString
  }

  /** BPE tokenizer fitting: 5 rounds of distributed pair counting +
    * corpus-wide merge. */
  private val bpeLearnMerges = Q(
    "bpe_learn_merges",
    (s, dir) => BpeLearn.learn(Tables.documents(s, dir), "text", nMerges = 5),
    Some(bpeOracle(5)))

  /** Oracle builder for [[graft.text.BpeLearn.learnBatchedScans]]: every
    * scan's count → rank → top-4·batch window → predecessor-symbol
    * anti-join → take-batch → two-pass replace application is unrolled
    * as CTEs. Scan k's replaces reference sel{k} through BOUNDED scalar
    * subqueries (one per batch slot; an empty slot no-ops via a chr(1)
    * sentinel pattern that never occurs in a sequence). */
  private def bpeBatchedOracle(nScans: Int, batch: Int): String = {
    val sb = new StringBuilder
    sb ++= """
      WITH s0 AS (
        SELECT ' ' || array_to_string(list_transform(range(1, len(w)+1),
                 i -> substr(w, CAST(i AS INT), 1)), ' ') || ' ' AS seq
        FROM (SELECT unnest(string_split_regex(text, '\s+')) AS w
              FROM documents)
        WHERE w <> '')"""
    for (k <- 1 to nScans) {
      val notIn =
        if (k == 1) ""
        else "WHERE pair NOT IN (" +
          (1 until k).map(j => s"SELECT pair FROM sel$j")
            .mkString(" UNION ALL ") + ")"
      val offset =
        if (k == 1) "0"
        else (1 until k).map(j => s"(SELECT count(*) FROM sel$j)")
          .mkString(" + ")
      sb ++= s"""
      , p$k AS (SELECT pair, count(*) AS n FROM (
            SELECT unnest(CASE WHEN len(sym) >= 2
              THEN list_transform(range(1, len(sym)),
                     i -> sym[i] || ' ' || sym[i+1])
              ELSE CAST([] AS VARCHAR[]) END) AS pair
            FROM (SELECT string_split(trim(seq), ' ') AS sym
                  FROM s${k - 1}) t$k)
          $notIn GROUP BY pair)
      , topk$k AS (SELECT pair, n, rnk,
                          string_split(pair, ' ')[1] AS la,
                          string_split(pair, ' ')[2] AS ra
                   FROM (SELECT pair, n, row_number() OVER
                           (ORDER BY n DESC, pair ASC) AS rnk FROM p$k) r$k
                   WHERE rnk <= ${4 * batch})
      , kept$k AS (SELECT t.pair, t.n, t.rnk FROM topk$k t
                   WHERE NOT EXISTS (
                     SELECT 1 FROM topk$k pr WHERE pr.rnk < t.rnk
                       AND (pr.la = t.la OR pr.la = t.ra
                            OR pr.ra = t.la OR pr.ra = t.ra)))
      , sel$k AS (SELECT pair, n, lr, $offset + lr AS merge_rank FROM
                    (SELECT pair, n, row_number() OVER (ORDER BY rnk ASC)
                       AS lr FROM kept$k) q$k
                  WHERE lr <= $batch)"""
      if (k < nScans) {
        var expr = "seq"
        for (j <- 1 to batch) {
          val pat = s"coalesce((SELECT ' ' || pair || ' ' FROM sel$k " +
            s"WHERE lr = $j), chr(1))"
          val rep = s"coalesce((SELECT ' ' || replace(pair, ' ', '') || ' ' " +
            s"FROM sel$k WHERE lr = $j), chr(1))"
          expr = s"replace(replace($expr, $pat, $rep), $pat, $rep)"
        }
        sb ++= s"""
      , s$k AS (SELECT $expr AS seq FROM s${k - 1})"""
      }
    }
    sb ++= s"""
      SELECT CAST(merge_rank AS BIGINT) AS merge_rank, pair,
             replace(pair, ' ', '') AS merged, CAST(n AS BIGINT) AS n
      FROM (""" +
      (1 to nScans).map(k => s"SELECT pair, n, merge_rank FROM sel$k")
        .mkString(" UNION ALL ") + """) u
      ORDER BY merge_rank ASC"""
    sb.toString
  }

  /** Batched BPE learning (see [[graft.text.BpeLearn.learnBatchedScans]]):
    * 2 scans × up-to-3 symbol-disjoint merges instead of one scan per
    * merge — the vocab-axis scale fix (a 32k vocab at batch 256 is ~125
    * scans, not 32k). The oracle replays BOTH scans end-to-end: pair
    * counts, the (count DESC, pair ASC) ranking, the 4·batch candidate
    * window, the predecessor-symbol anti-join, the rank-ordered take,
    * and the cross-scan merge application. The single-merge
    * `bpe_learn_merges` stays as the oracle-pinned sequential form;
    * TextSpec pins batched ≡ sequential where the batch is
    * conflict-free. */
  private val bpeLearnMergesBatched = Q(
    "bpe_learn_merges_batched",
    (s, dir) => BpeLearn.learnBatchedScans(Tables.documents(s, dir), "text",
      nScans = 2, batch = 3),
    Some(bpeBatchedOracle(nScans = 2, batch = 3)))

  /** The tokenizer's ENCODE half: apply the learned 5-merge table to
    * every document and report its post-merge token count — learn →
    * encode round-trips one deterministic tokenizer, and the oracle
    * replays BOTH halves (re-learns the merges, then replays the
    * rank-ordered two-pass replaces per document). The merge table is
    * tokenizer state: built once per fixture as a parquet artifact
    * (the Artifacts convention — a warehouse stores its tokenizer), so
    * the timed body is assignment-free map work + one aggregate. */
  private val bpeEncode = Q(
    "bpe_encode",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val mergeTable = graft.core.Artifacts.buildOnce(s,
        s"/tmp/graft_dedup_${math.abs(dir.hashCode)}/bpe_merges_5")(
        BpeLearn.learn(docs, "text", nMerges = 5))
      val merges = mergeTable.orderBy(col("merge_rank").asc)
        .select("pair", "merged").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      BpeLearn.encode(docs, "doc_id", "text", merges)
        .orderBy(col("doc_id").asc)
    },
    Some(bpeEncodeOracle(5)))

  /** Count-min heavy hitters: the top-20 corpus tokens (selected exactly
    * for a stable output) with BOTH their exact count and their count-min
    * estimate (depth 4 × width 1024, md5-salted buckets) — the sketch
    * overestimate is part of the checked result, so the counter matrix,
    * bucket hashing, and min-of-rows arithmetic all replay exactly in
    * the oracle. At 100 TB the matrix (4096 counters) is the ONLY state
    * that moves between executors; the token stream never shuffles. */
  private val sketchHeavyTokens = Q(
    "sketch_heavy_tokens",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(split(col("text"), "\\s+")).as("tok"))
        .where(length(col("tok")) > 0)
      val top = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("tok").asc).limit(20)
      val matrix = CountMin.counterMatrix(toks, "tok", depth = 4, width = 1024)
      CountMin.estimate(top, "tok", matrix, depth = 4, width = 1024)
        .join(top, Seq("tok"))
        .select(col("tok").as("token"), col("n_exact"), col("n_cms"))
        .orderBy(col("n_exact").desc, col("token").asc)
    },
    Some("""
      WITH t AS (SELECT unnest(string_split_regex(text, '\s+')) AS tok
                 FROM documents),
      tk AS (SELECT tok FROM t WHERE length(tok) > 0),
      exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_exact
                FROM tk GROUP BY tok),
      top AS (SELECT * FROM exact ORDER BY n_exact DESC, tok ASC LIMIT 20),
      rb AS (SELECT tok, r,
                    CAST(('0x' || substr(md5('cms' || r || ':' || tok), 1, 8))
                      AS BIGINT) % 1024 AS b
             FROM tk CROSS JOIN range(0, 4) s(r)),
      m AS (SELECT r, b, count(*) AS c FROM rb GROUP BY r, b),
      lk AS (SELECT top.tok, r2.r,
                    CAST(('0x' || substr(md5('cms' || r2.r || ':' || top.tok),
                      1, 8)) AS BIGINT) % 1024 AS b
             FROM top CROSS JOIN range(0, 4) r2(r)),
      est AS (SELECT lk.tok, CAST(min(m.c) AS BIGINT) AS n_cms
              FROM lk JOIN m ON m.r = lk.r AND m.b = lk.b
              GROUP BY lk.tok)
      SELECT top.tok AS token, top.n_exact, est.n_cms
      FROM top JOIN est ON est.tok = top.tok
      ORDER BY top.n_exact DESC, token ASC
    """))

  /** Mergeable quantile sketch over per-document token counts — the
    * histogram-quantile primitive (DDSketch's log-bucket idea, Masson
    * et al. 2019, VLDB — here with INTEGER-EXACT buckets so the sketch
    * is engine-portable): value n lands in octave b = len(bin(n)) with
    * 4 linear sub-buckets per octave (≤ 12.5 % relative error), all
    * derived by integer arithmetic — no float log whose floor could
    * straddle an octave boundary differently across libms. The sketch
    * is a (b, sub) → count table: additively mergeable (map-side
    * combine ships ≤ 4·octaves counters per partition, never the
    * values), exactly the CMS/KMV/HLL contract. Quantile estimate =
    * lower edge of the first bucket whose cumulative count reaches
    * ⌈q·N⌉ (thresholds in exact rational arithmetic); each estimate is
    * reported NEXT TO its exact order-statistic twin, so the oracle
    * hash-checks both the sketch arithmetic and its honesty gap. */
  private val sketchTokenQuantiles = Q(
    "sketch_token_quantiles",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documents(s, dir)
        .select(size(split(col("text"), "\\s+")).cast("long").as("n"))
      val hb = t
        .select(col("n"), length(bin(col("n"))).cast("int").as("b"))
        .withColumn("sb", expr(
          "CAST((n * 4) DIV CAST(power(2, b - 1) AS BIGINT) - 4 AS INT)"))
      val hist = hb.groupBy(col("b"), col("sb")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("b").asc, col("sb").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum(col("c")).over(w))
      val total = t.count()   // ONE driver scalar: sizes the rank
                              // thresholds and the exact-twin limits
      val qs = Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L))
      qs.map { case (label, num, den) =>
        val k = ((num * total + den - 1) / den).toInt
        val est = cum.where(col("cum") >= k)
          .orderBy(col("b").asc, col("sb").asc).limit(1)
          .select(lit(label).as("q"),
            round((col("sb").cast("double") + 4.0)
              * expr("CAST(power(2, b - 1) AS DOUBLE)") / 4.0, 4)
              .as("est_tokens"))
        val exact = t.orderBy(col("n").asc).limit(k)
          .agg(max(col("n")).as("exact_tokens"))
        est.crossJoin(exact)
      }.reduce(_ unionByName _)
        .orderBy(col("q").asc)
    },
    Some("""
      WITH t AS (SELECT CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
                          AS n
                 FROM documents),
      hb AS (SELECT n, CAST(length(bin(n)) AS INT) AS b FROM t),
      hb2 AS (SELECT n, b,
                     CAST((n * 4) // CAST(power(2, b - 1) AS BIGINT) - 4
                       AS INT) AS sb
              FROM hb),
      hist AS (SELECT b, sb, count(*) AS c FROM hb2 GROUP BY b, sb),
      cum AS (SELECT b, sb,
                     sum(c) OVER (ORDER BY b, sb ROWS UNBOUNDED PRECEDING)
                       AS cum
              FROM hist),
      tot AS (SELECT count(*) AS nt FROM t),
      ranked AS (SELECT n, row_number() OVER (ORDER BY n) AS rn FROM t),
      qk AS (SELECT 'p50' AS q, (1 * nt + 1) // 2 AS k FROM tot
             UNION ALL SELECT 'p90', (9 * nt + 9) // 10 FROM tot
             UNION ALL SELECT 'p99', (99 * nt + 99) // 100 FROM tot),
      est AS (SELECT qk.q,
                     (SELECT round((c1.sb + 4.0) * power(2, c1.b - 1) / 4.0, 4)
                      FROM cum c1 WHERE c1.cum >= qk.k
                      ORDER BY c1.b, c1.sb LIMIT 1) AS est_tokens,
                     (SELECT r.n FROM ranked r WHERE r.rn = qk.k)
                       AS exact_tokens
              FROM qk)
      SELECT q, est_tokens, exact_tokens FROM est ORDER BY q ASC
    """))

  /** Unicode NFC normalization at ingest (see
    * [[graft.functions.NfcNormalize]] — codegen'd canonical
    * composition, the primitive exact-hash dedup and shingling need on
    * web corpora that mix precomposed and decomposed forms). The query
    * plants a decomposed suffix (e + combining acute, U+0301) on every
    * document, normalizes, and reports corpus-level before/after
    * character totals — each composed pair shortens by exactly one, so
    * a normalizer that missed (or over-applied) composition breaks the
    * totals. Both engines implement Unicode canonical composition
    * (java.text.Normalizer / DuckDB nfc_normalize), so the comparison
    * is exact. */
  private val textNormalizeNfc = Q(
    "text_normalize_nfc",
    (s, dir) => {
      import graft.functions.TextFunctions
      val planted = concat(col("text"), lit(" cafe\u0301"))
      Tables.documents(s, dir)
        .select(length(planted).cast("long").as("len_before"),
          length(TextFunctions.nfcNormalize(planted)).cast("long")
            .as("len_after"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("len_before")).as("sum_len_before"),
          sum(col("len_after")).as("sum_len_after"),
          sum(when(col("len_after") =!= col("len_before"), 1L)
            .otherwise(0L)).as("n_changed"))
    },
    Some("""
      WITH p AS (SELECT text || ' cafe' || chr(769) AS t FROM documents)
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(length(t)) AS BIGINT) AS sum_len_before,
             CAST(sum(length(nfc_normalize(t))) AS BIGINT) AS sum_len_after,
             CAST(sum(CASE WHEN length(nfc_normalize(t)) != length(t)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
      FROM p
    """))

  /** Exact phrase search (see [[graft.search.Phrase.topK]]): Milvus 2.5
    * `PHRASE_MATCH` parity over a positional postings artifact built
    * incrementally (build + append — the `bm25_incremental_search`
    * discipline). Serving is the Lucene anchor trick declarified: pushed
    * `term IN` scan → anchor = pos − offset → (id, anchor) hash-agg
    * keeping anchors with all 3 offsets present. The oracle recomputes
    * phrase occurrences from the FULL corpus with a token-list replay, so
    * a dropped batch, an off-by-one position, or a double-counted anchor
    * hash-mismatches. */
  private val phraseMatchSearch = Q(
    "phrase_match_search",
    (s, dir) => {
      import graft.search.{Phrase, TermIndex}
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_phrase_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        TermIndex.build(docs.where(col("doc_id") < 300), "doc_id", "text",
          idx)
        TermIndex.append(docs.where(col("doc_id") >= 300), "doc_id", "text",
          idx)
      }
      Phrase.topK(s, idx, Seq("scan", "merge", "small"), k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH toks AS (SELECT doc_id,
                           list_filter(string_split_regex(text, '\s+'),
                             t -> len(t) > 0) AS tk
                    FROM documents),
      hits AS (SELECT doc_id,
                      len(list_filter(range(1, len(tk) + 1),
                          i -> i + 2 <= len(tk)
                               AND tk[i] = 'scan' AND tk[i+1] = 'merge'
                               AND tk[i+2] = 'small')) AS nhits
               FROM toks)
      SELECT doc_id, CAST(nhits AS BIGINT) AS nhits
      FROM hits WHERE nhits > 0
      ORDER BY nhits DESC, doc_id ASC LIMIT 10
    """))

  /** Sloppy ordered-pair phrase search (see
    * [[graft.search.Phrase.slopTopK]]): `merge` within 2 intervening
    * tokens after `scan` — the Milvus/Lucene slop contract for an
    * ordered pair. nhits counts DISTINCT anchors (a first-term hit with
    * two successors in its window counts once), which the oracle's
    * nested token-window replay mirrors exactly. */
  private val phraseMatchSlop = Q(
    "phrase_match_slop",
    (s, dir) => {
      import graft.search.{Phrase, TermIndex}
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_phraseslop_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        TermIndex.build(docs, "doc_id", "text", idx)
      }
      Phrase.slopTopK(s, idx, "scan", "merge", slop = 2, k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH toks AS (SELECT doc_id,
                           list_filter(string_split_regex(text, '\s+'),
                             t -> len(t) > 0) AS tk
                    FROM documents),
      hits AS (SELECT doc_id,
                      len(list_filter(range(1, len(tk) + 1),
                          i -> tk[i] = 'scan'
                               AND len(list_filter(
                                     range(i + 1, least(i + 3, len(tk)) + 1),
                                     j -> tk[j] = 'merge')) > 0)) AS nhits
               FROM toks)
      SELECT doc_id, CAST(nhits AS BIGINT) AS nhits
      FROM hits WHERE nhits > 0
      ORDER BY nhits DESC, doc_id ASC LIMIT 10
    """))

  /** Phrase-filtered BM25 — the Lucene query model (a scoring clause
    * under a filter clause) composed from the two artifacts sharing one
    * index dir: docs containing the exact phrase "scan merge"
    * ([[graft.search.Phrase.matchingIds]], no top-k cut) compete under
    * corpus-wide BM25 statistics ([[graft.search.Bm25Index.search]]
    * with idFilter — the filter changes WHO competes, never how scores
    * are computed). The oracle replays both the token-window phrase
    * match and the full BM25 arithmetic with the same IN-filter. */
  private val phraseFilteredBm25 = Q(
    "phrase_filtered_bm25",
    (s, dir) => {
      import graft.search.{Bm25Index, Phrase, TermIndex}
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_phrasebm25_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        TermIndex.build(docs, "doc_id", "text", idx)
      }
      val ids = Phrase.matchingIds(s, idx, Seq("scan", "merge"))
      Bm25Index.search(s, idx, Seq("scan", "filter", "merge"), k = 10,
          idFilter = Some(ids))
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH toks AS (SELECT doc_id,
                           list_filter(string_split_regex(text, '\s+'),
                             t -> len(t) > 0) AS tk
                    FROM documents),
      pm AS (SELECT doc_id FROM (
               SELECT doc_id,
                      len(list_filter(range(1, len(tk) + 1),
                          i -> i + 1 <= len(tk)
                               AND tk[i] = 'scan' AND tk[i+1] = 'merge'))
                        AS nh
               FROM toks) t WHERE nh > 0),
      ttoks AS (SELECT doc_id,
                       unnest(string_split_regex(text, '\s+')) AS term
                FROM documents),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST((SELECT sum(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)))
                             FROM documents) AS DOUBLE) / count(*) AS avgdl
                FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM ttoks
             WHERE term IN ('scan', 'filter', 'merge')
             GROUP BY doc_id, term),
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
      WHERE doc_id IN (SELECT doc_id FROM pm)
      ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """))

  /** Stored full-text index served and MAINTAINED as a sparse artifact
    * ([[graft.search.FullText]]) — the architecture behind
    * `bm25_sparse_duality`, productionized: build writes the factored
    * BM25 postings in [[graft.search.SparseVec]]'s exact layout
    * (dim-partitioned under `postings/`), so the sparse family's
    * maintenance surface applies to the LEXICAL tier verbatim — here a
    * tombstone delete of the unmasked top-1 doc
    * ([[graft.search.SparseVec.delete]]) masks it out of the ranking
    * at serve time while scores keep the stale build-time statistics
    * (the Milvus masked-serve norm). The oracle replays the factored
    * formula over the full corpus, derives the same top-1, and
    * excludes it — mask placement is hash-checked, not assumed. */
  private val fulltextSparseMasked = Q(
    "fulltext_sparse_masked",
    (s, dir) => {
      import graft.search.{FullText, SparseVec}
      val idx = s"/tmp/graft_fulltext_${math.abs(dir.hashCode)}"
      val terms = Seq("scan", "filter", "merge")
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        FullText.build(Tables.documents(s, dir), "doc_id", "text", idx)
        val top = FullText.search(s, idx, terms, 1)
          .collect()(0).getLong(0)
        import s.implicits._
        SparseVec.delete(Seq(top).toDF("doc_id"), idx, "doc_id")
      }
      FullText.search(s, idx, terms, 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH tk AS (SELECT doc_id,
                    list_filter(string_split_regex(text, '\s+'),
                      t -> len(t) > 0) AS tk
                  FROM documents),
      tt AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tt
             GROUP BY doc_id, term),
      dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
                FROM tk),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      dw AS (SELECT tf.doc_id, tf.term,
                    round(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl.dl
                      / avgdl)), 4) AS w
             FROM tf JOIN dl USING (doc_id) CROSS JOIN stats),
      qw AS (SELECT term,
                    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 4)
                      AS qw
             FROM dfq CROSS JOIN stats
             WHERE term IN ('scan', 'filter', 'merge')),
      sc AS (SELECT dw.doc_id, round(sum(dw.w * qw.qw), 4) AS score
             FROM dw JOIN qw USING (term) GROUP BY dw.doc_id),
      top1 AS (SELECT doc_id FROM sc
               ORDER BY score DESC, doc_id ASC LIMIT 1)
      SELECT doc_id, score FROM sc
      WHERE doc_id NOT IN (SELECT doc_id FROM top1)
      ORDER BY score DESC, doc_id ASC LIMIT 10
    """))

  /** WAND/max-score-pruned BM25 serve over the stored full-text
    * artifact ([[graft.search.FullText.searchWand]]) — LOSSLESS top-k
    * pruning for the lexical tier (round-14 verdict item 2): the query
    * mixes the fixture's rarest term ('dup', df≈5%) with its most
    * common ('batch', df≈80%); the common term's per-posting bound
    * (idf·max tf-part) cannot reach the kth score set by the rare
    * term's postings, so its ~80%-of-corpus posting list is pruned
    * from candidate generation and only the rare term's docs pay the
    * exact re-score. The ORACLE is the EXHAUSTIVE BM25 ranking — the
    * pruned serve must hash-match it exactly, which IS the lossless
    * claim (`fulltext_wand_prune_report` carries the pruning
    * counters). */
  private val fulltextWandSearch = Q(
    "fulltext_wand_search",
    (s, dir) => {
      import graft.search.FullText
      val idx = s"/tmp/graft_ftwand_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        FullText.build(Tables.documents(s, dir), "doc_id", "text", idx)
      }
      FullText.searchWand(s, idx, Seq("dup", "batch"), 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH tk AS (SELECT doc_id,
                    list_filter(string_split_regex(text, '\s+'),
                      t -> len(t) > 0) AS tk
                  FROM documents),
      tt AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tt
             GROUP BY doc_id, term),
      dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
                FROM tk),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      dw AS (SELECT tf.doc_id, tf.term,
                    round(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl.dl
                      / avgdl)), 4) AS w
             FROM tf JOIN dl USING (doc_id) CROSS JOIN stats),
      qw AS (SELECT term,
                    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 4)
                      AS qw
             FROM dfq CROSS JOIN stats
             WHERE term IN ('dup', 'batch')),
      sc AS (SELECT dw.doc_id, round(sum(dw.w * qw.qw), 4) AS score
             FROM dw JOIN qw USING (term) GROUP BY dw.doc_id)
      SELECT doc_id, score FROM sc
      ORDER BY score DESC, doc_id ASC LIMIT 10
    """))

  /** The pruned-vs-scored accounting behind `fulltext_wand_search`
    * ([[graft.search.FullText.wandReport]]): posting rows in the query
    * dims, rows the exact phase scored, rows pruned, and the CHECKED
    * lossless flag (wand top-k compared row-for-row against the
    * exhaustive serve inside the entry). Rows-only by nature — the
    * essential-prefix choice is an adaptive driver loop (bound test
    * per doubling step) with no SQL counterpart, the `ann_lsh`
    * category; the RANKING it accounts for is oracle-checked by
    * `fulltext_wand_search`, and the counters' invariants
    * (scored + pruned = total, flag = 1, pruned > 0 on this fixture)
    * are spec-pinned in SearchOpsSpec. */
  private val fulltextWandPruneReport = Q(
    "fulltext_wand_prune_report",
    (s, dir) => {
      import graft.search.FullText
      val idx = s"/tmp/graft_ftwand_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        FullText.build(Tables.documents(s, dir), "doc_id", "text", idx)
      }
      FullText.wandReport(s, idx, Seq("dup", "batch"), 10)
    },
    None)

  /** The DIM-BUCKETED full-text artifact served end to end (round 14 —
    * the corpus-grown-vocabulary layout: a lexical dictionary follows
    * Heaps' law, and one partition directory PER TERM is filesystem
    * abuse at 10⁸+ terms, measured in SCALE.md; postings live in
    * `dim mod B` buckets with dim-SORTED files, so a query's `dim IN`
    * literals open ≤|dims| bucket dirs and prune row groups inside
    * them via parquet min/max). Serving is [[graft.search
    * .FullText.searchWand]] — the WAND pruning composes with the
    * bucketed seek unchanged, because the layout self-describes
    * ([[graft.search.SparseVec.bucketCount]]) under one API. The
    * oracle is the exhaustive BM25 ranking: layout AND pruning are
    * both invisible in the result, which is the whole claim. */
  private val fulltextBucketedSearch = Q(
    "fulltext_bucketed_search",
    (s, dir) => {
      import graft.search.FullText
      val idx = s"/tmp/graft_ftbuck_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        FullText.build(Tables.documents(s, dir), "doc_id", "text", idx,
          buckets = 8)
      }
      FullText.searchWand(s, idx, Seq("dup", "batch"), 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH tk AS (SELECT doc_id,
                    list_filter(string_split_regex(text, '\s+'),
                      t -> len(t) > 0) AS tk
                  FROM documents),
      tt AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tt
             GROUP BY doc_id, term),
      dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
                FROM tk),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      dw AS (SELECT tf.doc_id, tf.term,
                    round(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl.dl
                      / avgdl)), 4) AS w
             FROM tf JOIN dl USING (doc_id) CROSS JOIN stats),
      qw AS (SELECT term,
                    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 4)
                      AS qw
             FROM dfq CROSS JOIN stats
             WHERE term IN ('dup', 'batch')),
      sc AS (SELECT dw.doc_id, round(sum(dw.w * qw.qw), 4) AS score
             FROM dw JOIN qw USING (term) GROUP BY dw.doc_id)
      SELECT doc_id, score FROM sc
      ORDER BY score DESC, doc_id ASC LIMIT 10
    """))

  /** A BATCH of lexical queries served as ONE plan
    * ([[graft.search.FullText.searchBulk]] — the `ivf_bulk_search`
    * / `graph_ann_bulk` bulk discipline closing on the lexical tier,
    * round 14): three term queries resolve through the dictionary in
    * one pass, the combined (qid, dim, idf) side broadcasts, one
    * aggregate scores every (query, doc) pair over the UNION of the
    * queries' posting lists (still a dim-seek — never a corpus scan),
    * and a qid window keeps each query's top-k. The oracle replays
    * all three BM25 rankings from the raw corpus with the same
    * per-qid window. */
  private val fulltextBulkSearch = Q(
    "fulltext_bulk_search",
    (s, dir) => {
      import graft.search.FullText
      val idx = s"/tmp/graft_ftwand_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        FullText.build(Tables.documents(s, dir), "doc_id", "text", idx)
      }
      FullText.searchBulk(s, idx, Seq(
          0L -> Seq("dup", "batch"),
          1L -> Seq("scan", "agg"),
          2L -> Seq("hash", "data")), 5)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH tk AS (SELECT doc_id,
                    list_filter(string_split_regex(text, '\s+'),
                      t -> len(t) > 0) AS tk
                  FROM documents),
      tt AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tt
             GROUP BY doc_id, term),
      dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
                FROM tk),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      dw AS (SELECT tf.doc_id, tf.term,
                    round(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl.dl
                      / avgdl)), 4) AS w
             FROM tf JOIN dl USING (doc_id) CROSS JOIN stats),
      qt(qid, term) AS (VALUES (0, 'dup'), (0, 'batch'),
                               (1, 'scan'), (1, 'agg'),
                               (2, 'hash'), (2, 'data')),
      qw AS (SELECT qid, term,
                    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 4)
                      AS qw
             FROM qt JOIN dfq USING (term) CROSS JOIN stats),
      sc AS (SELECT qw.qid, dw.doc_id,
                    round(sum(dw.w * qw.qw), 4) AS score
             FROM dw JOIN qw USING (term) GROUP BY qw.qid, dw.doc_id),
      rk AS (SELECT qid, doc_id, score,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY score DESC, doc_id ASC) AS rn
             FROM sc)
      SELECT CAST(qid AS BIGINT) AS qid, doc_id, score FROM rk
      WHERE rn <= 5
      ORDER BY qid ASC, score DESC, doc_id ASC
    """))

  /** BULK lexical serving with WAND pruning
    * ([[graft.search.FullText.searchBulkWand]] — round 15, composing
    * round 14's two new pieces: the one-plan bulk serve and the
    * max-score bound pruning): the SAME three-query batch as
    * `fulltext_bulk_search`, but each query's high-df terms are pruned
    * from candidate generation by its own bound test, with the
    * essential-prefix driver loop SHARED across the batch (≤ log₂(max
    * terms) Spark jobs total — per-query WAND loops would pay the
    * fixed cost three times). The ORACLE is the same exhaustive
    * per-qid BM25 ranking — the pruning is lossless by the per-query
    * bound argument, and the hash-match proves it on the bulk path
    * (SearchOpsSpec pins the prune counters and the
    * equals-exhaustive flag). */
  private val fulltextBulkWand = Q(
    "fulltext_bulk_wand",
    (s, dir) => {
      import graft.search.FullText
      val idx = s"/tmp/graft_ftwand_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        FullText.build(Tables.documents(s, dir), "doc_id", "text", idx)
      }
      FullText.searchBulkWand(s, idx, Seq(
          0L -> Seq("dup", "batch"),
          1L -> Seq("scan", "agg"),
          2L -> Seq("hash", "data")), 5)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH tk AS (SELECT doc_id,
                    list_filter(string_split_regex(text, '\s+'),
                      t -> len(t) > 0) AS tk
                  FROM documents),
      tt AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tt
             GROUP BY doc_id, term),
      dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
                FROM tk),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      dw AS (SELECT tf.doc_id, tf.term,
                    round(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl.dl
                      / avgdl)), 4) AS w
             FROM tf JOIN dl USING (doc_id) CROSS JOIN stats),
      qt(qid, term) AS (VALUES (0, 'dup'), (0, 'batch'),
                               (1, 'scan'), (1, 'agg'),
                               (2, 'hash'), (2, 'data')),
      qw AS (SELECT qid, term,
                    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 4)
                      AS qw
             FROM qt JOIN dfq USING (term) CROSS JOIN stats),
      sc AS (SELECT qw.qid, dw.doc_id,
                    round(sum(dw.w * qw.qw), 4) AS score
             FROM dw JOIN qw USING (term) GROUP BY qw.qid, dw.doc_id),
      rk AS (SELECT qid, doc_id, score,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY score DESC, doc_id ASC) AS rn
             FROM sc)
      SELECT CAST(qid AS BIGINT) AS qid, doc_id, score FROM rk
      WHERE rn <= 5
      ORDER BY qid ASC, score DESC, doc_id ASC
    """))

  /** Keyset iteration over the lexical tier
    * ([[graft.search.FullText.searchIterate]] — Milvus
    * `query_iterator` parity for BM25 results, round 15): a
    * full-corpus "every doc matching these terms, scored" export pages
    * by doc id, cursor = the previous page's max id, with the
    * `id > cursor` predicate PUSHED onto the dim-pruned postings scan
    * (PlanSpec pins the PushedFilters row) — deep pages never re-sort
    * the corpus and never materialize one giant top-k, the
    * `collection_iterate`/`ivf_search_iterate` discipline applied to
    * the inverted index. Replays a 3-page chain; the oracle buckets
    * the full id-ordered match list into pages. */
  private val fulltextSearchIterate = Q(
    "fulltext_search_iterate",
    (s, dir) => {
      import graft.search.FullText
      val idx = s"/tmp/graft_ftwand_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        FullText.build(Tables.documents(s, dir), "doc_id", "text", idx)
      }
      var cursor: Option[Long] = None
      val pages = (0 until 3).map { p =>
        val pg = FullText.searchIterate(s, idx, Seq("scan", "filter"),
          cursor, 7)
        val mx = pg.agg(max(col("id"))).first()
        if (!mx.isNullAt(0)) cursor = Some(mx.getLong(0))
        pg.select(lit(p).cast("int").as("page"),
          col("id").as("doc_id"), col("score"))
      }
      pages.reduce(_ unionByName _)
        .orderBy(col("page").asc, col("doc_id").asc)
    },
    Some("""
      WITH tk AS (SELECT doc_id,
                    list_filter(string_split_regex(text, '\s+'),
                      t -> len(t) > 0) AS tk
                  FROM documents),
      tt AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tt
             GROUP BY doc_id, term),
      dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
                FROM tk),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      dw AS (SELECT tf.doc_id, tf.term,
                    round(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl.dl
                      / avgdl)), 4) AS w
             FROM tf JOIN dl USING (doc_id) CROSS JOIN stats),
      qw AS (SELECT term,
                    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 4)
                      AS qw
             FROM dfq CROSS JOIN stats
             WHERE term IN ('scan', 'filter')),
      sc AS (SELECT dw.doc_id, round(sum(dw.w * qw.qw), 4) AS score
             FROM dw JOIN qw USING (term) GROUP BY dw.doc_id),
      r AS (SELECT doc_id, score,
                   row_number() OVER (ORDER BY doc_id ASC) AS rn
            FROM sc)
      SELECT CAST((rn - 1) // 7 AS INT) AS page, doc_id, score
      FROM r WHERE rn <= 21
      ORDER BY page ASC, doc_id ASC
    """))

  /** The FullText artifact's REBUILD-CADENCE policy row
    * ([[graft.search.Maintenance.planFullText]] over
    * [[graft.search.FullText.debt]]): build seals the corpus extent
    * (posting rows + vocab) in the stats table; appends absorb under
    * those frozen statistics — the documented rebuild-repayable drift
    * — and this entry meters it: 200 of 500 docs appended after a
    * 300-doc build pushes `rebuild_fulltext_appends` well past the 10%
    * threshold (TRIGGERED), while `rebuild_fulltext_terms` counts
    * genuinely-new vocabulary (df_=1 under frozen stats). The oracle
    * replays both metrics, thresholds, and trigger bits from the raw
    * corpus split. OperatorSpec pins the clear-after-rebuild
    * contract. */
  private val fulltextRebuildPlan = Q(
    "fulltext_rebuild_plan",
    (s, dir) => {
      import graft.search.{FullText, Maintenance}
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_ftreb_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        FullText.build(docs.where(col("doc_id") < 300),
          "doc_id", "text", idx)
        FullText.append(docs.where(col("doc_id") >= 300),
          "doc_id", "text", idx)
      }
      Maintenance.planFullText(s, idx)
    },
    Some("""
      WITH tk AS (SELECT doc_id,
                    list_filter(string_split_regex(text, '\s+'),
                      t -> len(t) > 0) AS tk
                  FROM documents),
      tt AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      pairs AS (SELECT DISTINCT doc_id, term FROM tt),
      sealed AS (SELECT count(*) AS c FROM pairs WHERE doc_id < 300),
      app AS (SELECT count(*) AS c FROM pairs WHERE doc_id >= 300),
      newt AS (SELECT count(*) AS c FROM (
        SELECT DISTINCT term FROM pairs WHERE doc_id >= 300
        EXCEPT
        SELECT DISTINCT term FROM pairs WHERE doc_id < 300))
      SELECT 'rebuild_fulltext_appends' AS action,
             CAST(app.c AS BIGINT) AS metric,
             CAST(floor(sealed.c * 0.10) AS BIGINT) AS threshold,
             app.c > floor(sealed.c * 0.10) AS triggered
      FROM app, sealed
      UNION ALL
      SELECT 'rebuild_fulltext_terms', CAST(newt.c AS BIGINT),
             CAST(0 AS BIGINT), newt.c > 0
      FROM newt
      ORDER BY action ASC
    """))

  /** Streaming ingest into the stored full-text sparse artifact — the
    * family's last maintenance twin (build → append → delete → now a
    * Structured Streaming file source driving foreachBatch, the
    * `streaming_bm25_ingest` discipline): micro-batch 1 BUILDS (stats
    * freeze there), batches 2-3 absorb by
    * [[graft.search.FullText.append]] — tokenize the batch only, file
    * append into the dim partitions, no rewrite. The oracle recomputes
    * every doc's tf part against the FIRST batch's statistics and
    * weights query terms by first-batch df (the frozen-stats
    * contract), so a dropped/double-absorbed batch OR a stat leak
    * hash-mismatches. */
  private val streamingFulltextIngest = Q(
    "streaming_fulltext_ingest",
    (s, dir) => {
      import graft.search.{FullText, SparseVec}
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.types._
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val work = s"/tmp/graft_streamft_${math.abs(dir.hashCode)}"
      val conf = s.sparkContext.hadoopConfiguration
      val fs = new Path(work).getFileSystem(conf)
      val idx = s"$work/ft"
      streamInputOnce(s, work, Seq(s"$work/_ckpt", idx)) { writeOne =>
        writeOne(docs.where(col("doc_id") < 300), "00_base.parquet",
          1000000L)
        writeOne(docs.where(col("doc_id") >= 300 && col("doc_id") < 400),
          "01_batch.parquet", 2000000L)
        writeOne(docs.where(col("doc_id") >= 400), "02_batch.parquet",
          3000000L)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType)))
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
      val q = src.writeStream
        .option("checkpointLocation", s"$work/_ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!fs.exists(new Path(
              SparseVec.postingsDir(idx) + "/_SUCCESS")))
            // dim-BUCKETED layout (round 16, guide §6): micro-batch
            // appends into per-dim directories pay one parquet file
            // create per touched dim per batch; the bucketed writer
            // lands a couple of dim-sorted files instead. Serve
            // semantics unchanged (layout marker drives every verb).
            FullText.build(batch, "doc_id", "text", idx, buckets = 16)
          else
            FullText.append(batch, "doc_id", "text", idx)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      FullText.search(s, idx, Seq("scan", "filter", "merge"), 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH tk AS (SELECT doc_id,
                    list_filter(string_split_regex(text, '\s+'),
                      t -> len(t) > 0) AS tk
                  FROM documents),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
                FROM tk WHERE doc_id < 300),
      tt AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tt
             GROUP BY doc_id, term),
      dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
      dfq AS (SELECT term, count(*) AS df FROM tf
              WHERE doc_id < 300 GROUP BY term),
      dw AS (SELECT tf.doc_id, tf.term,
                    round(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl.dl
                      / avgdl)), 4) AS w
             FROM tf JOIN dl USING (doc_id) CROSS JOIN stats),
      qw AS (SELECT term,
                    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 4)
                      AS qw
             FROM dfq CROSS JOIN stats
             WHERE term IN ('scan', 'filter', 'merge')),
      sc AS (SELECT dw.doc_id, round(sum(dw.w * qw.qw), 4) AS score
             FROM dw JOIN qw USING (term) GROUP BY dw.doc_id)
      SELECT doc_id, score FROM sc
      ORDER BY score DESC, doc_id ASC LIMIT 10
    """))

  /** Analyzed stored full-text index
    * ([[graft.search.FullText.buildAnalyzed]]) — the full Milvus 2.5
    * full-text-search composition: `analyzer_params` chain at INDEX
    * time, raw query string through the SAME chain at query time
    * ([[graft.text.Analyzer.analyze]]), factored-BM25 postings served
    * by the sparse engine. The oracle replays analyzer + factored
    * weights end-to-end, so a chain mismatch on either side (the
    * silent-miss class) hash-fails. */
  private val fulltextAnalyzedSearch = Q(
    "fulltext_analyzed_search",
    (s, dir) => {
      import graft.search.FullText
      import graft.text.Analyzer
      val idx = s"/tmp/graft_fulltextan_${math.abs(dir.hashCode)}"
      val cfg = Analyzer.Config()
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        FullText.buildAnalyzed(Tables.documents(s, dir), "doc_id", "text",
          idx, cfg)
      }
      val terms = Analyzer.analyze("The SCAN and FILTER merge!", cfg)
      FullText.search(s, idx, terms, 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some(s"""
      WITH tk AS (SELECT doc_id,
                    list_filter(list_transform(
                      list_filter(string_split_regex(text, '[^\\p{L}\\p{N}]+'),
                        t -> len(t) > 0),
                      t -> lower(t)),
                      t -> len(t) >= 2 AND len(t) <= 40
                           AND t NOT IN (${graft.text.Analyzer.EnglishStop
                             .map(w => s"'$w'").mkString(", ")})) AS tk
                  FROM documents),
      tt AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tt
             GROUP BY doc_id, term),
      dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
                FROM tk),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      dw AS (SELECT tf.doc_id, tf.term,
                    round(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl.dl
                      / avgdl)), 4) AS w
             FROM tf JOIN dl USING (doc_id) CROSS JOIN stats),
      qw AS (SELECT term,
                    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 4)
                      AS qw
             FROM dfq CROSS JOIN stats
             WHERE term IN ('scan', 'filter', 'merge')),
      sc AS (SELECT dw.doc_id, round(sum(dw.w * qw.qw), 4) AS score
             FROM dw JOIN qw USING (term) GROUP BY dw.doc_id)
      SELECT doc_id, score FROM sc
      ORDER BY score DESC, doc_id ASC LIMIT 10
    """))

  /** STEMMED + ASCII-FOLDED analyzed index — the Milvus 2.5
    * `analyzer_params` filter families beyond lowercase/length/stop
    * (`stemmer`, `asciifolding`): [[graft.text.Analyzer.Config]]'s
    * `english-s` stemmer is EXACTLY Porter step 1a as three ordered
    * RE2-safe rewrites (sses→ss, ies→i, s-drop unless after s) and the
    * fold stage a 1:1 `translate` table — both run identically in the
    * Column chain at index time, the String chain at query time, and
    * the DuckDB oracle, so "database" matches "databases" END TO END
    * (query "SCANS … FILTERS … merges" resolves the singular posting
    * lists). The serve first passes
    * [[graft.search.FullText.requireAnalyzer]] — the round-16 marker
    * guard that turns a chain mismatch from a silent miss into an
    * error. Oracle replays tokenize→lower→fold→stem→band→stop and the
    * factored BM25. */
  private val fulltextStemmedSearch = Q(
    "fulltext_stemmed_search",
    (s, dir) => {
      import graft.search.FullText
      import graft.text.Analyzer
      val idx = s"/tmp/graft_fulltextstem_${math.abs(dir.hashCode)}"
      val cfg = Analyzer.Config(asciiFolding = true,
        stemmer = Some(Analyzer.StemmerEnglishS))
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        FullText.buildAnalyzed(Tables.documents(s, dir), "doc_id", "text",
          idx, cfg)
      }
      FullText.requireAnalyzer(s, idx, cfg)
      val terms = Analyzer.analyze("The SCANS and FILTERS merges!", cfg)
      FullText.search(s, idx, terms, 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some(s"""
      WITH tk AS (SELECT doc_id,
                    list_filter(
                      list_transform(
                        list_transform(
                          list_transform(
                            list_filter(string_split_regex(text, '[^\\p{L}\\p{N}]+'),
                              t -> len(t) > 0),
                            t -> lower(t)),
                          t -> translate(t, '${graft.text.Analyzer.FoldFrom}', '${graft.text.Analyzer.FoldTo}')),
                        t -> regexp_replace(regexp_replace(regexp_replace(t,
                               'sses$$', 'ss'), 'ies$$', 'i'), '([^s])s$$', '\\1')),
                      t -> len(t) >= 2 AND len(t) <= 40
                           AND t NOT IN (${graft.text.Analyzer.EnglishStop
                             .map(w => s"'$w'").mkString(", ")})) AS tk
                  FROM documents),
      tt AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tt
             GROUP BY doc_id, term),
      dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
                FROM tk),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      dw AS (SELECT tf.doc_id, tf.term,
                    round(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl.dl
                      / avgdl)), 4) AS w
             FROM tf JOIN dl USING (doc_id) CROSS JOIN stats),
      qw AS (SELECT term,
                    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 4)
                      AS qw
             FROM dfq CROSS JOIN stats
             WHERE term IN ('scan', 'filter', 'merge')),
      sc AS (SELECT dw.doc_id, round(sum(dw.w * qw.qw), 4) AS score
             FROM dw JOIN qw USING (term) GROUP BY dw.doc_id)
      SELECT doc_id, score FROM sc
      ORDER BY score DESC, doc_id ASC LIMIT 10
    """))

  /** Incremental ingest into the stored full-text sparse artifact
    * ([[graft.search.FullText.append]]) — the growing-segment twin:
    * the base builds on doc_id ≥ 20, the sub-20 batch appends with the
    * FROZEN base statistics (its tf parts use the sealed avgdl; df and
    * n_docs stay the build-time values; dictionary extends for
    * genuinely new terms) — scores stay comparable across sealed and
    * grown rows without a corpus pass, repaid at rebuild, exactly the
    * [[graft.search.Bm25Index]] debt model. The oracle recomputes
    * EVERY doc's tf part against base-only stats and weights query
    * terms by base-only df, so an append that leaked batch rows into
    * the statistics (or re-derived them) hash-mismatches. */
  private val fulltextSparseIncremental = Q(
    "fulltext_sparse_incremental",
    (s, dir) => {
      import graft.search.FullText
      val idx = s"/tmp/graft_fulltextinc_${math.abs(dir.hashCode)}"
      val terms = Seq("scan", "filter", "merge")
      val docs = Tables.documents(s, dir)
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        FullText.build(docs.where(col("doc_id") >= 20), "doc_id", "text",
          idx)
        FullText.append(docs.where(col("doc_id") < 20), "doc_id", "text",
          idx)
      }
      FullText.search(s, idx, terms, 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH tk AS (SELECT doc_id,
                    list_filter(string_split_regex(text, '\s+'),
                      t -> len(t) > 0) AS tk
                  FROM documents),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
                FROM tk WHERE doc_id >= 20),
      tt AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tt
             GROUP BY doc_id, term),
      dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
      dfq AS (SELECT term, count(*) AS df FROM tf
              WHERE doc_id >= 20 GROUP BY term),
      dw AS (SELECT tf.doc_id, tf.term,
                    round(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl.dl
                      / avgdl)), 4) AS w
             FROM tf JOIN dl USING (doc_id) CROSS JOIN stats),
      qw AS (SELECT term,
                    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 4)
                      AS qw
             FROM dfq CROSS JOIN stats
             WHERE term IN ('scan', 'filter', 'merge')),
      sc AS (SELECT dw.doc_id, round(sum(dw.w * qw.qw), 4) AS score
             FROM dw JOIN qw USING (term) GROUP BY dw.doc_id)
      SELECT doc_id, score FROM sc
      ORDER BY score DESC, doc_id ASC LIMIT 10
    """))

  /** BM25 ↔ sparse duality — the Milvus 2.5 full-text-search MODEL
    * (its `Function` feature embeds text to SPARSE_FLOAT_VECTORs whose
    * dot product IS the BM25 score): per-doc sparse weights carry the
    * tf part (tf·(k1+1)/(tf+k1·(1−b+b·dl/avgdl))), the query's sparse
    * weights carry the idf part, dims come from a dense term
    * dictionary, and the LEXICAL ranking is served by the SPARSE
    * engine's join+aggregate ([[graft.search.SparseVec.search]]) —
    * one retrieval machine for both learned-sparse and lexical tiers.
    * Both factors are rounded before the product (the duality's
    * determinism contract); the oracle replays the factored formula
    * joined on the term itself, proving dims are pure bookkeeping.
    * The dictionary window is vocab-bounded (words, not rows). */
  private val bm25SparseDuality = Q(
    "bm25_sparse_duality",
    (s, dir) => {
      import graft.search.{FullText, SparseVec}
      val (docPost, qPost) = FullText.dualityPostings(
        Tables.documents(s, dir), "doc_id", "text",
        Seq("scan", "filter", "merge"))
      SparseVec.search(docPost, qPost, "id", 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH tk AS (SELECT doc_id,
                    list_filter(string_split_regex(text, '\s+'),
                      t -> len(t) > 0) AS tk
                  FROM documents),
      tt AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tt
             GROUP BY doc_id, term),
      dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
                FROM tk),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      dw AS (SELECT tf.doc_id, tf.term,
                    round(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl.dl
                      / avgdl)), 4) AS w
             FROM tf JOIN dl USING (doc_id) CROSS JOIN stats),
      qw AS (SELECT term,
                    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 4)
                      AS qw
             FROM dfq CROSS JOIN stats
             WHERE term IN ('scan', 'filter', 'merge')),
      sc AS (SELECT dw.doc_id, round(sum(dw.w * qw.qw), 4) AS score
             FROM dw JOIN qw USING (term) GROUP BY dw.doc_id)
      SELECT doc_id, score FROM sc
      ORDER BY score DESC, doc_id ASC LIMIT 10
    """))

  /** Analyzed BM25 — the Milvus 2.5 `analyzer_params` model
    * ([[graft.text.Analyzer]]: standard tokenizer → lowercase →
    * length band → English stopwords) applied IDENTICALLY to corpus
    * and query ("The SCAN and FILTER merge!" analyzes to scan/filter/
    * merge — case folded, punctuation split, stopwords dropped), then
    * scored by [[graft.search.Bm25.scoreTokens]] whose dl/avgdl/tf/df
    * statistics all derive from the analyzed tokens. The chain is
    * composed codegen builtins (split/transform/filter) running inside
    * the corpus scan — no UDF, no second pass; the oracle replays the
    * full chain and the BM25 arithmetic. An index analyzed one way and
    * a query another is the classic silent-miss bug — one Config rules
    * both sides here, spec-pinned Column ≡ String. */
  private val bm25AnalyzerSearch = Q(
    "bm25_analyzer_search",
    (s, dir) => {
      import graft.text.Analyzer
      import graft.search.Bm25
      val cfg = Analyzer.Config()
      val terms = Analyzer.analyze("The SCAN and FILTER merge!", cfg)
      Bm25.scoreTokens(Tables.documents(s, dir), "doc_id",
          Analyzer.tokens(col("text"), cfg), terms)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(10)
    },
    Some(s"""
      WITH tk AS (SELECT doc_id,
                    list_filter(list_transform(
                      list_filter(string_split_regex(text, '[^\\p{L}\\p{N}]+'),
                        t -> len(t) > 0),
                      t -> lower(t)),
                      t -> len(t) >= 2 AND len(t) <= 40
                           AND t NOT IN (${graft.text.Analyzer.EnglishStop
                             .map(w => s"'$w'").mkString(", ")})) AS tk
                  FROM documents),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
                FROM tk),
      tt AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tt
             WHERE term IN ('scan', 'filter', 'merge')
             GROUP BY doc_id, term),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
      bm AS (SELECT tf.doc_id,
                    round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                      * (tf * 2.2)
                      / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))), 4)
                      AS bm25
             FROM tf JOIN dfq USING (term)
                     JOIN dl ON dl.doc_id = tf.doc_id
                     CROSS JOIN stats
             GROUP BY tf.doc_id)
      SELECT doc_id, bm25 FROM bm
      ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """))

  /** Prefix term match ([[graft.search.TermIndex.prefixSearch]]) —
    * `term LIKE 'sc%'` served from the SORTED-term postings layout as a
    * pushed StringStartsWith range scan (row-group stats pruning — the
    * `sorted_scan_prune` discipline on a lexical artifact; Lucene's
    * term-dictionary range scan, Milvus 2.5's prefix text-match).
    * Ranking is Σ tf over matching terms per doc (`nhits`, the
    * term-match unit). The oracle recomputes from the raw corpus with a
    * LIKE filter; PlanSpec pins that the scan actually pushes the
    * prefix. */
  private val termPrefixSearch = Q(
    "term_prefix_search",
    (s, dir) => {
      import graft.search.TermIndex
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_prefix_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        TermIndex.build(docs, "doc_id", "text", idx)
      }
      TermIndex.prefixSearch(s, idx, "sc", k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH ttoks AS (SELECT doc_id,
                            unnest(list_filter(
                              string_split_regex(text, '\s+'),
                              t -> len(t) > 0)) AS term
                     FROM documents)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS nhits
      FROM ttoks WHERE term LIKE 'sc%'
      GROUP BY doc_id
      ORDER BY nhits DESC, doc_id ASC LIMIT 10
    """))

  /** Prefix-filtered BM25 — the Lucene clause model again
    * (`phrase_filtered_bm25`'s discipline with a PREFIX filter clause):
    * docs containing any `wi%` term ([[graft.search.TermIndex
    * .prefixIds]], resolved from the sorted layout's pushed range scan)
    * compete under corpus-wide BM25 statistics for the scoring terms.
    * The filter changes WHO competes, never how scores are computed;
    * the oracle replays both the prefix match and the full BM25
    * arithmetic. */
  private val prefixFilteredBm25 = Q(
    "prefix_filtered_bm25",
    (s, dir) => {
      import graft.search.{Bm25Index, TermIndex}
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_prefix_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        TermIndex.build(docs, "doc_id", "text", idx)
      }
      val ids = TermIndex.prefixIds(s, idx, "wi")
      Bm25Index.search(s, idx, Seq("scan", "filter", "merge"), k = 10,
          idFilter = Some(ids))
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH ttoks AS (SELECT doc_id,
                            unnest(string_split_regex(text, '\s+')) AS term
                     FROM documents),
      pm AS (SELECT DISTINCT doc_id FROM ttoks WHERE term LIKE 'wi%'),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST((SELECT sum(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)))
                             FROM documents) AS DOUBLE) / count(*) AS avgdl
                FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM ttoks
             WHERE term IN ('scan', 'filter', 'merge')
             GROUP BY doc_id, term),
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
      WHERE doc_id IN (SELECT doc_id FROM pm)
      ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """))

  /** SUFFIX term match ([[graft.search.TermIndex.suffixSearch]], round
    * 11 — Lucene's ReversedWildcardFilter): `term LIKE '%er'` has no
    * prefix to push, so the artifact is the REVERSED-term sorted layout
    * and the suffix becomes a pushed `StringStartsWith(rterm, re)`
    * range scan — the `sorted_scan_prune` discipline buying the other
    * wildcard direction (this corpus: `customer`, `filter`, `order`
    * all match). Leading+trailing (infix) wildcard is served by the
    * trigram artifact since round 12 (`term_infix_search`). The oracle
    * is the brute-force LIKE over every token; PlanSpec pins the
    * pushed filter. */
  private val termSuffixSearch = Q(
    "term_suffix_search",
    (s, dir) => {
      import graft.search.TermIndex
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_suffix_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        TermIndex.build(docs, "doc_id", "text", idx)
        TermIndex.buildSortedReversed(s, idx)
      }
      TermIndex.suffixSearch(s, idx, "er", k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH ttoks AS (SELECT doc_id,
                            unnest(list_filter(
                              string_split_regex(text, '\s+'),
                              t -> len(t) > 0)) AS term
                     FROM documents)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS nhits
      FROM ttoks WHERE term LIKE '%er'
      GROUP BY doc_id
      ORDER BY nhits DESC, doc_id ASC LIMIT 10
    """))

  /** FUZZY term match ([[graft.search.TermIndex.fuzzySearch]], round
    * 11 — Lucene's FuzzyQuery, the lexical tier's last missing match
    * mode after term/BM25/BM25F/phrase/slop/prefix): docs ranked by
    * total occurrences of terms within edit distance 1 of the
    * (misspelled) query `port` — which matches BOTH `sort` and `part`
    * in this corpus, so the candidate tier must surface multiple
    * dictionary terms. The serving path is SymSpell's
    * deletion-neighborhood block join over the DISTINCT term
    * dictionary (the [[graft.dedup.FuzzyJoin]] machinery, with the
    * lossless |Δlen| ≤ d dictionary cut), then one postings equi-join;
    * the oracle is brute-force `levenshtein` over every token of every
    * document — a candidate the blocking missed, or a false verify,
    * hash-mismatches. PlanSpec pins the no-cartesian plan. */
  private val termFuzzySearch = Q(
    "term_fuzzy_search",
    (s, dir) => {
      import graft.search.TermIndex
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_prefix_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        TermIndex.build(docs, "doc_id", "text", idx)
      }
      TermIndex.fuzzySearch(s, idx, "port", maxDist = 1, k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH ttoks AS (SELECT doc_id,
                            unnest(list_filter(
                              string_split_regex(text, '\s+'),
                              t -> len(t) > 0)) AS term
                     FROM documents)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS nhits
      FROM ttoks WHERE levenshtein(term, 'port') <= 1
      GROUP BY doc_id
      ORDER BY nhits DESC, doc_id ASC LIMIT 10
    """))

  /** Fuzzy-filtered BM25 — the Lucene clause model with a FUZZY filter
    * clause ([[graft.search.TermIndex.fuzzyIds]] composing under the
    * scorer exactly like the prefix and phrase clauses): docs
    * containing any term within 1 edit of the misspelled `port`
    * (`sort` and `part` both qualify) compete under corpus-wide BM25
    * statistics for the scoring terms. The filter changes WHO
    * competes, never how scores are computed; the oracle replays both
    * the brute-force fuzzy match and the full BM25 arithmetic. */
  private val fuzzyFilteredBm25 = Q(
    "fuzzy_filtered_bm25",
    (s, dir) => {
      import graft.search.{Bm25Index, TermIndex}
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_prefix_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        TermIndex.build(docs, "doc_id", "text", idx)
      }
      val ids = TermIndex.fuzzyIds(s, idx, "port", maxDist = 1)
      Bm25Index.search(s, idx, Seq("scan", "filter", "merge"), k = 10,
          idFilter = Some(ids))
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH ttoks AS (SELECT doc_id,
                            unnest(string_split_regex(text, '\s+')) AS term
                     FROM documents),
      fm AS (SELECT DISTINCT doc_id FROM ttoks
             WHERE len(term) > 0 AND levenshtein(term, 'port') <= 1),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST((SELECT sum(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)))
                             FROM documents) AS DOUBLE) / count(*) AS avgdl
                FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM ttoks
             WHERE term IN ('scan', 'filter', 'merge')
             GROUP BY doc_id, term),
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
      WHERE doc_id IN (SELECT doc_id FROM fm)
      ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """))

  /** INFIX term match ([[graft.search.TermIndex.infixSearch]], round 12
    * — the LAST match mode: `term LIKE '%rder%'` has no prefix to push
    * in either direction, so the artifact is TRIGRAM postings over the
    * DISTINCT term dictionary (PostgreSQL's `pg_trgm` GIN model /
    * Lucene's NGram filter — public knowledge): the needle's grams hit
    * the artifact as one pushed `gram IN (...)` slice, a candidate must
    * carry ALL of them (count-match AND), and exact `contains` verifies
    * — candidate generation never touches the corpus, which is the
    * 100 TB shape (the trigram table is vocabulary-scale). This corpus:
    * `rder` matches `order`/`orders`-family tokens. The oracle is the
    * brute-force LIKE over every token of every document — a candidate
    * the gram blocking missed, or a false verify, hash-mismatches.
    * PlanSpec pins the no-cartesian plan and the pushed gram filter. */
  private val termInfixSearch = Q(
    "term_infix_search",
    (s, dir) => {
      import graft.search.TermIndex
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_infix_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        TermIndex.build(docs, "doc_id", "text", idx)
        TermIndex.buildTrigrams(s, idx)
      }
      TermIndex.infixSearch(s, idx, "rder", k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH ttoks AS (SELECT doc_id,
                            unnest(list_filter(
                              string_split_regex(text, '\s+'),
                              t -> len(t) > 0)) AS term
                     FROM documents)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS nhits
      FROM ttoks WHERE term LIKE '%rder%'
      GROUP BY doc_id
      ORDER BY nhits DESC, doc_id ASC LIMIT 10
    """))

  /** Infix-filtered BM25 — the Lucene clause model with an INFIX filter
    * clause ([[graft.search.TermIndex.infixIds]] composing under the
    * scorer exactly like the prefix/suffix/fuzzy/phrase clauses): docs
    * containing any `%rder%` term compete under corpus-wide BM25
    * statistics for the scoring terms — the filter changes WHO
    * competes, never how scores are computed. The oracle replays both
    * the brute-force infix match and the full BM25 arithmetic. */
  private val infixFilteredBm25 = Q(
    "infix_filtered_bm25",
    (s, dir) => {
      import graft.search.{Bm25Index, TermIndex}
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_infix_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        TermIndex.build(docs, "doc_id", "text", idx)
        TermIndex.buildTrigrams(s, idx)
      }
      val ids = TermIndex.infixIds(s, idx, "rder")
      Bm25Index.search(s, idx, Seq("scan", "filter", "merge"), k = 10,
          idFilter = Some(ids))
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH ttoks AS (SELECT doc_id,
                            unnest(string_split_regex(text, '\s+')) AS term
                     FROM documents),
      im AS (SELECT DISTINCT doc_id FROM ttoks
             WHERE len(term) > 0 AND term LIKE '%rder%'),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST((SELECT sum(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)))
                             FROM documents) AS DOUBLE) / count(*) AS avgdl
                FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM ttoks
             WHERE term IN ('scan', 'filter', 'merge')
             GROUP BY doc_id, term),
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
      WHERE doc_id IN (SELECT doc_id FROM im)
      ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """))

  /** FUZZY term match at maxDist=2 — the API's full radius
    * oracle-checked (round 12; d=1 is `term_fuzzy_search`, and the d=2
    * deletion neighborhood is O(len⁴) variants per term — SCALE.md's
    * decade pinned the cost sub-linear, this entry pins the ANSWER):
    * docs ranked by total occurrences of terms within 2 edits of
    * `port`, brute-force `levenshtein` oracle over every token. The
    * wider radius matches a much larger slice (any 4-letter token two
    * edits away qualifies), so a candidate tier that dropped the
    * |Δlen| ≤ 2 cut's SECOND band, or a variant generator capped at
    * one deletion, hash-mismatches. */
  private val termFuzzySearchD2 = Q(
    "term_fuzzy_search_d2",
    (s, dir) => {
      import graft.search.TermIndex
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_prefix_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        TermIndex.build(docs, "doc_id", "text", idx)
      }
      TermIndex.fuzzySearch(s, idx, "port", maxDist = 2, k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH ttoks AS (SELECT doc_id,
                            unnest(list_filter(
                              string_split_regex(text, '\s+'),
                              t -> len(t) > 0)) AS term
                     FROM documents)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS nhits
      FROM ttoks WHERE levenshtein(term, 'port') <= 2
      GROUP BY doc_id
      ORDER BY nhits DESC, doc_id ASC LIMIT 10
    """))

  /** Incremental TRIGRAM maintenance ([[graft.search.TermIndex
    * .appendTrigrams]], round 12 — the infix artifact joins the
    * every-artifact-has-an-incremental-story discipline): the sorted
    * layout is built on the first 300 docs, the rest arrive as a
    * segment append WITH a trigram append (new dictionary terms' grams
    * land as a file append; re-appended known terms produce harmless
    * duplicate (gram, term) rows — `countDistinct` candidate matching
    * tolerates them, the full-rebuild fold retires them). The appended
    * batch carries a MARKER doc whose term exists ONLY post-append, and
    * the entry serves TWO needles: `rder` (natural terms — exercises
    * the segmented postings) and `nfixq` (matches the marker term
    * alone — an ingest that forgot the trigram append has no candidate
    * for it and hash-mismatches). Oracle = brute-force LIKE over the
    * documents table plus the same marker literal. */
  private val termInfixIncremental = Q(
    "term_infix_incremental",
    (s, dir) => {
      import s.implicits._
      import graft.search.TermIndex
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_infixinc_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val base = docs.where(col("doc_id") < 300)
        TermIndex.build(base, "doc_id", "text", idx)
        TermIndex.buildTrigrams(s, idx)
        val batch = docs.where(col("doc_id") >= 300)
          .select(col("doc_id"), col("text"))
          .unionByName(Seq((999999L, "qqinfixq zz")).toDF("doc_id", "text"))
        TermIndex.append(batch, "doc_id", "text", idx)
        TermIndex.appendTrigrams(batch, "doc_id", "text", idx)
      }
      TermIndex.infixSearch(s, idx, "rder", k = 10)
        .select(lit("rder").as("needle"), col("id").as("doc_id"),
          col("nhits"))
        .unionByName(TermIndex.infixSearch(s, idx, "nfixq", k = 10)
          .select(lit("nfixq").as("needle"), col("id").as("doc_id"),
            col("nhits")))
        .orderBy(col("needle").asc, col("nhits").desc, col("doc_id").asc)
    },
    Some("""
      WITH alldocs AS (SELECT doc_id, text FROM documents
                       UNION ALL SELECT 999999, 'qqinfixq zz'),
      ttoks AS (SELECT doc_id,
                       unnest(list_filter(
                         string_split_regex(text, '\s+'),
                         t -> len(t) > 0)) AS term
                FROM alldocs),
      r1 AS (SELECT 'rder' AS needle, doc_id,
                    CAST(count(*) AS BIGINT) AS nhits
             FROM ttoks WHERE term LIKE '%rder%'
             GROUP BY doc_id
             ORDER BY nhits DESC, doc_id ASC LIMIT 10),
      r2 AS (SELECT 'nfixq' AS needle, doc_id,
                    CAST(count(*) AS BIGINT) AS nhits
             FROM ttoks WHERE term LIKE '%nfixq%'
             GROUP BY doc_id
             ORDER BY nhits DESC, doc_id ASC LIMIT 10)
      SELECT needle, doc_id, nhits FROM (
        SELECT * FROM r1 UNION ALL SELECT * FROM r2) u
      ORDER BY needle ASC, nhits DESC, doc_id ASC
    """))

  /** Incremental sorted-term maintenance ([[graft.search.TermIndex
    * .append]]) — the Lucene segment model for the term artifact: a
    * raw file append would interleave term ranges and void the
    * row-group pruning, so a new batch arrives as its OWN sorted
    * segment (existing segments untouched; each segment's files stay
    * range-prunable on their own stats) and [[graft.search.TermIndex
    * .compactSegments]] merges. Here the index builds on the first 300
    * docs, absorbs the rest as a second segment, and is then
    * COMPACTED back to one segment — serving from the folded layout
    * must equal the full-corpus oracle (append-then-compact ≡
    * rebuild); TextSearchSpec pins the pre-compaction segmented serve
    * equals it too. Round 11: the index lives under an
    * [[graft.search.AliasedIndex]] root — the segment append lands in
    * the published v1 (file appends are reader-safe in place), and
    * [[graft.search.TermIndex.compactSegments]] detects the aliased
    * root and merges into a copied v2, published atomically, so a
    * reader never faces the merge's rename-aside window; the serve
    * resolves the root like any reader. */
  private val termPrefixIncremental = Q(
    "term_prefix_incremental",
    (s, dir) => {
      import graft.search.{AliasedIndex, TermIndex}
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_prefixinc_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        AliasedIndex.init(s, idx) { d =>
          TermIndex.build(docs.where(col("doc_id") < 300), "doc_id",
            "text", d)
        }
        TermIndex.append(docs.where(col("doc_id") >= 300),
          "doc_id", "text", idx)
        TermIndex.compactSegments(s, idx) // alias-aware: publishes v2
      }
      TermIndex.prefixSearch(s, idx, "sc", k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH ttoks AS (SELECT doc_id,
                            unnest(list_filter(
                              string_split_regex(text, '\s+'),
                              t -> len(t) > 0)) AS term
                     FROM documents)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS nhits
      FROM ttoks WHERE term LIKE 'sc%'
      GROUP BY doc_id
      ORDER BY nhits DESC, doc_id ASC LIMIT 10
    """))

  /** Streaming sorted-term-index maintenance — the micro-batch CDC twin
    * of `term_prefix_incremental` (the `streaming_phrase_ingest`
    * discipline applied to the segmented prefix layout): three
    * micro-batches drive foreachBatch — the first BUILDS segment 0, the
    * later ones land as NEW sorted segments ([[graft.search.TermIndex
    * .writeSegment]] — tokenize the batch only, per-segment sort, no
    * rewrite of existing segments) — then the prefix search serves
    * across all streamed segments. The oracle recomputes from the FULL
    * corpus, so a dropped or double-absorbed micro-batch
    * hash-mismatches. */
  private val streamingPrefixIngest = Q(
    "streaming_prefix_ingest",
    (s, dir) => {
      import graft.search.TermIndex
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.types._
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val work = s"/tmp/graft_streamprefix_${math.abs(dir.hashCode)}"
      val conf = s.sparkContext.hadoopConfiguration
      val fs = new Path(work).getFileSystem(conf)
      val idx = s"$work/prefix"
      streamInputOnce(s, work, Seq(s"$work/_ckpt", idx)) { writeOne =>
        writeOne(docs.where(col("doc_id") < 300), "00_base.parquet",
          1000000L)
        writeOne(docs.where(col("doc_id") >= 300 && col("doc_id") < 400),
          "01_batch.parquet", 2000000L)
        writeOne(docs.where(col("doc_id") >= 400), "02_batch.parquet",
          3000000L)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType)))
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
      val q = src.writeStream
        .option("checkpointLocation", s"$work/_ckpt")
        // segment number = batchId: foreachBatch is at-least-once, and a
        // replayed micro-batch keyed on segments().max would land as a
        // DUPLICATE segment (same doc ids, tf double-counted across
        // segments); keyed on batchId the replay overwrites its own
        // segment idempotently
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          TermIndex.writeSegment(batch, "doc_id", "text", idx,
            batchId.toInt)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      TermIndex.prefixSearch(s, idx, "sc", k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH ttoks AS (SELECT doc_id,
                            unnest(list_filter(
                              string_split_regex(text, '\s+'),
                              t -> len(t) > 0)) AS term
                     FROM documents)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS nhits
      FROM ttoks WHERE term LIKE 'sc%'
      GROUP BY doc_id
      ORDER BY nhits DESC, doc_id ASC LIMIT 10
    """))

  /** Streaming positional-index maintenance — the `streaming_bm25_
    * ingest` discipline applied to the phrase tier: three micro-batches
    * drive foreachBatch, each landing as one segment of the lexical
    * artifact ([[graft.search.TermIndex.writeSegment]] — tokenize the
    * batch only, no rewrite), then the exact-phrase anchor search runs
    * from the streamed artifact alone. The oracle
    * recomputes occurrences over the FULL corpus, so a dropped or
    * double-absorbed micro-batch hash-mismatches. */
  private val streamingPhraseIngest = Q(
    "streaming_phrase_ingest",
    (s, dir) => {
      import graft.search.{Phrase, TermIndex}
      import org.apache.spark.sql.types._
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val work = s"/tmp/graft_streamphrase_${math.abs(dir.hashCode)}"
      val idx = s"$work/phrase"
      streamInputOnce(s, work, Seq(s"$work/_ckpt", idx)) { writeOne =>
        writeOne(docs.where(col("doc_id") < 300), "00_base.parquet",
          1000000L)
        writeOne(docs.where(col("doc_id") >= 300 && col("doc_id") < 400),
          "01_batch.parquet", 2000000L)
        writeOne(docs.where(col("doc_id") >= 400), "02_batch.parquet",
          3000000L)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType)))
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
      val q = src.writeStream
        .option("checkpointLocation", s"$work/_ckpt")
        // segment number = batchId: a replayed micro-batch overwrites
        // its own segment (the streaming_prefix_ingest discipline)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          TermIndex.writeSegment(batch, "doc_id", "text", idx,
            batchId.toInt)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      Phrase.topK(s, idx, Seq("scan", "merge", "small"), k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH toks AS (SELECT doc_id,
                           list_filter(string_split_regex(text, '\s+'),
                             t -> len(t) > 0) AS tk
                    FROM documents),
      hits AS (SELECT doc_id,
                      len(list_filter(range(1, len(tk) + 1),
                          i -> i + 2 <= len(tk)
                               AND tk[i] = 'scan' AND tk[i+1] = 'merge'
                               AND tk[i+2] = 'small')) AS nhits
               FROM toks)
      SELECT doc_id, CAST(nhits AS BIGINT) AS nhits
      FROM hits WHERE nhits > 0
      ORDER BY nhits DESC, doc_id ASC LIMIT 10
    """))

  /** Snippet extraction (search-result highlighting) from the
    * positional artifact: for each doc matching the phrase, the ±2-token
    * window around the FIRST occurrence ([[graft.search.Phrase
    * .anchors]] → min anchor → one bounded `slice` on the token array —
    * no re-search of the text, the positions already know where to
    * look). The oracle recomputes anchors and the window slice from the
    * raw corpus, so an off-by-one in either the anchor or the clamped
    * window bounds hash-mismatches. */
  private val phraseSnippetExtract = Q(
    "phrase_snippet_extract",
    (s, dir) => {
      import graft.search.{Phrase, TermIndex}
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_phrase_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        TermIndex.build(docs.where(col("doc_id") < 300), "doc_id", "text",
          idx)
        TermIndex.append(docs.where(col("doc_id") >= 300), "doc_id", "text",
          idx)
      }
      val m = 3
      val first = Phrase.anchors(s, idx, Seq("scan", "merge", "small"))
        .groupBy(col("id"))
        .agg(min(col("anchor")).as("a0"))
      val toks = TextAnalysis.wsTerms(col("text"))
      // 1-based window [max(a0-1, 1), min(a0+m+2, n)] around the
      // occurrence at 1-based position a0+1
      val start = greatest(col("a0") - 1, lit(1L))
      val end = least(col("a0") + m + 2, size(col("toks_")).cast("long"))
      first.join(docs.select(col("doc_id"), col("text")),
          col("id") === col("doc_id"))
        .withColumn("toks_", toks)
        .select(col("doc_id"), col("a0").as("first_pos"),
          array_join(slice(col("toks_"), start.cast("int"),
            (end - start + 1).cast("int")), " ").as("snippet"))
        .orderBy(col("doc_id").asc)
    },
    Some("""
      WITH toks AS (SELECT doc_id,
                           list_filter(string_split_regex(text, '\s+'),
                             t -> len(t) > 0) AS tk
                    FROM documents),
      a AS (SELECT doc_id, tk,
                   list_filter(range(1, len(tk) + 1),
                       i -> i + 2 <= len(tk)
                            AND tk[i] = 'scan' AND tk[i+1] = 'merge'
                            AND tk[i+2] = 'small') AS hits
            FROM toks),
      f AS (SELECT doc_id, tk, list_min(hits) AS a1 FROM a
            WHERE len(hits) > 0)
      SELECT doc_id, CAST(a1 - 1 AS BIGINT) AS first_pos,
             array_to_string(
               tk[greatest(a1 - 2, 1):least(a1 + 4, len(tk))], ' ')
               AS snippet
      FROM f ORDER BY doc_id ASC
    """))

  /** General m-term sloppy phrase (see
    * [[graft.search.Phrase.slopPhraseTopK]]): "scan … merge … small"
    * in order with ≤ 2 total intervening tokens — the full Milvus
    * PHRASE_MATCH slop contract beyond pairs. The oracle replays the
    * nested token-window chase (per-anchor exists over bounded
    * windows) with the same total-gap budget. */
  private val phraseMatchSlopMulti = Q(
    "phrase_match_slop_multi",
    (s, dir) => {
      import graft.search.{Phrase, TermIndex}
      val docs = Tables.documents(s, dir)
      val idx = s"/tmp/graft_phrase_terms_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        TermIndex.build(docs.where(col("doc_id") < 300), "doc_id", "text",
          idx)
        TermIndex.append(docs.where(col("doc_id") >= 300), "doc_id", "text",
          idx)
      }
      Phrase.slopPhraseTopK(s, idx, Seq("scan", "merge", "small"),
          slop = 2, k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH toks AS (SELECT doc_id,
                           list_filter(string_split_regex(text, '\s+'),
                             t -> len(t) > 0) AS tk
                    FROM documents),
      hits AS (SELECT doc_id,
                      len(list_filter(range(1, len(tk) + 1),
                        i -> tk[i] = 'scan'
                          AND len(list_filter(
                                range(i + 1, least(i + 3, len(tk)) + 1),
                                j -> tk[j] = 'merge'
                                  AND len(list_filter(
                                        range(j + 1,
                                              least(i + 4, len(tk)) + 1),
                                        k2 -> tk[k2] = 'small')) > 0))
                              > 0)) AS nhits
               FROM toks)
      SELECT doc_id, CAST(nhits AS BIGINT) AS nhits
      FROM hits WHERE nhits > 0
      ORDER BY nhits DESC, doc_id ASC LIMIT 10
    """))

  /** TTL reaching the LEXICAL tier (round 15 — `ttl_index_serve`'s
    * full-text twin): a TTL'd documents collection feeds a stored
    * FullText artifact; [[graft.search.IndexSync.syncTtlTombstones]]
    * bridges expiry into the artifact's tombstone table, and the
    * standard masked sparse serve excludes expired docs — while the
    * BM25 statistics stay FROZEN at build (the masked-serve norm:
    * expiry masks documents out of the RANKING, scores keep the sealed
    * stats until a rebuild, exactly like deletes). The oracle computes
    * weights over the full build corpus and masks the ranking to live
    * docs, replayed from raw ingest timestamps. */
  private val ttlFulltextServe = Q(
    "ttl_fulltext_serve",
    (s, dir) => {
      import graft.search.{FullText, IndexSync}
      val base = s"/tmp/graft_ttlft_${math.abs(dir.hashCode)}"
      val out = s"$base/coll"
      val idx = s"$base/ft"
      val coll = graft.core.Collection(s, out)
      val asOf = timestamp_seconds(lit(1704067230L))
      mutateOnce(s, base) {
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        coll.appendStamped(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          timestamp_seconds(lit(1704067200L) + col("doc_id")))
        coll.setTtlSeconds(20)
        FullText.build(coll.read.select("doc_id", "text"),
          "doc_id", "text", idx)
        IndexSync.syncTtlTombstones(s, coll, "doc_id", asOf, idx, "id")
      }
      FullText.search(s, idx, Seq("scan", "filter", "merge"), 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH tk AS (SELECT doc_id,
                    list_filter(string_split_regex(text, '\s+'),
                      t -> len(t) > 0) AS tk
                  FROM documents),
      tt AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tt
             GROUP BY doc_id, term),
      dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
                FROM tk),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      dw AS (SELECT tf.doc_id, tf.term,
                    round(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl.dl
                      / avgdl)), 4) AS w
             FROM tf JOIN dl USING (doc_id) CROSS JOIN stats),
      qw AS (SELECT term,
                    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 4)
                      AS qw
             FROM dfq CROSS JOIN stats
             WHERE term IN ('scan', 'filter', 'merge')),
      sc AS (SELECT dw.doc_id, round(sum(dw.w * qw.qw), 4) AS score
             FROM dw JOIN qw USING (term)
             WHERE (1704067200 + dw.doc_id) + 20 > 1704067230
             GROUP BY dw.doc_id)
      SELECT doc_id, score FROM sc
      ORDER BY score DESC, doc_id ASC LIMIT 10
    """))

  /** TTL drift POLICY ROW over the LEXICAL tier (round 16 —
    * `ttl_sync_plan` exercises an IVF artifact; the same tombstone
    * table serves the frozen-stats families where expiry drift
    * matters most, because masked docs keep distorting NOTHING while
    * unsynced expired docs keep ranking): two FullText artifacts over
    * one TTL'd documents collection, one never synced (the metric
    * counts its unsynced expired keys, trigger fires past 10% of the
    * collection), one synced at the same clock (metric 0 — the
    * trigger-clears-after-maintenance contract,
    * [[graft.search.IndexSync.syncTtlTombstones]] being the verb).
    * The synced twin is a byte copy of the built artifact — only
    * tombstone state differs, no second postings build. Metric,
    * threshold, and both trigger bits replay from raw ingest
    * timestamps in DuckDB. */
  private val ttlFulltextSyncPlan = Q(
    "ttl_fulltext_sync_plan",
    (s, dir) => {
      import graft.search.{FullText, IndexSync, Maintenance}
      val base = s"/tmp/graft_ttlftsync_${math.abs(dir.hashCode)}"
      val out = s"$base/coll"
      val idxU = s"$base/ft_unsynced"
      val idxS = s"$base/ft_synced"
      val coll = graft.core.Collection(s, out)
      val asOf = timestamp_seconds(lit(1704067400L))
      mutateOnce(s, base) {
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        coll.appendStamped(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          timestamp_seconds(lit(1704067200L) + col("doc_id")))
        coll.setTtlSeconds(20)
        FullText.build(coll.read.select("doc_id", "text"),
          "doc_id", "text", idxU)
        graft.core.Artifacts.copyLocalDir(idxU, idxS)
        IndexSync.syncTtlTombstones(s, coll, "doc_id", asOf, idxS, "id")
      }
      Maintenance.planTtlSync(s, out, "doc_id", asOf, idxU, "id")
        .withColumn("which", lit("unsynced"))
        .unionByName(
          Maintenance.planTtlSync(s, out, "doc_id", asOf, idxS, "id")
            .withColumn("which", lit("synced")))
        .orderBy(col("which").asc)
    },
    Some("""
      WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents),
      ex AS (SELECT CAST(count(*) FILTER (WHERE doc_id + 20 <= 200)
                    AS BIGINT) AS c
             FROM documents)
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

  /** CJK full-text search end to end (round 15 — the reference's OWN
    * corpus language: `milvus_data/knowledge_data.csv` is Chinese and
    * the app's tokenizers handle 一-龥 explicitly at src/app.py:334,
    * 196-197; until this round the analyzer's ASCII boundary reduced
    * Chinese text to zero tokens). A deterministic Chinese corpus is
    * derived from doc_id IN BOTH ENGINES (a word list indexed by
    * modular arithmetic — no staging, the two sides must agree from
    * raw doc_ids up), indexed through [[graft.text.Analyzer]] with
    * `cjkBigrams = true` (the Lucene-CJKAnalyzer stage: a Han run
    * emits overlapping character bigrams — Chinese carries no
    * whitespace, so under the Unicode boundary a sentence is ONE run
    * until this stage segments it), and served from the stored
    * sparse/BM25 artifact. The query string goes through the SAME
    * chain ([[graft.text.Analyzer.analyze]]); the oracle replays
    * corpus synthesis, tokenization, bigram expansion, and the full
    * BM25 arithmetic from the documents table. TextSpec pins
    * Column ≡ String on CJK input and the analyzer-mismatch
    * silent-miss. */
  private val fulltextCjkSearch = Q(
    "fulltext_cjk_search",
    (s, dir) => {
      import graft.search.FullText
      import graft.text.Analyzer
      val words = Seq("数据库", "向量", "检索", "索引", "分词",
        "中文", "知识", "问答", "系统", "查询")
      val cn = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("text_cn", concat_ws("",
          transform(sequence(lit(0L), pmod(col("doc_id"), lit(5L)) + 2L),
            j => element_at(typedlit(words),
              (pmod(col("doc_id") + j, lit(10L)) + 1L).cast("int")))))
      val cfg = Analyzer.Config(minTokenLen = 1, stopwords = Nil,
        cjkBigrams = true)
      val idx = s"/tmp/graft_ftcjk_${math.abs(dir.hashCode)}"
      mutateOnce(s, idx) {
        val p = new org.apache.hadoop.fs.Path(idx)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        FullText.buildAnalyzed(cn, "doc_id", "text_cn", idx, cfg)
      }
      val terms = Analyzer.analyze("向量检索", cfg)
      FullText.search(s, idx, terms, 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH w(ws) AS (VALUES (['数据库','向量','检索','索引','分词',
                              '中文','知识','问答','系统','查询'])),
      cn AS (SELECT doc_id,
               list_aggregate(list_transform(range(0, doc_id % 5 + 3),
                 j -> ws[CAST((doc_id + j) % 10 AS INT) + 1]),
                 'string_agg', '') AS text_cn
             FROM documents, w),
      raw AS (SELECT doc_id,
                list_filter(string_split_regex(text_cn, '[^\p{L}\p{N}]+'),
                  t -> len(t) > 0) AS raw
              FROM cn),
      tk AS (SELECT doc_id,
               list_filter(flatten(list_transform(raw, t ->
                 CASE WHEN regexp_matches(t, '^[一-龥]{2,}$')
                      THEN list_transform(range(1, len(t)),
                             i -> substr(t, CAST(i AS INT), 2))
                      ELSE [t] END)),
                 t -> len(t) >= 1 AND len(t) <= 40) AS tk
             FROM raw),
      tt AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tt
             GROUP BY doc_id, term),
      dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM tk),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
                FROM tk),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      dw AS (SELECT tf.doc_id, tf.term,
                    round(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl.dl
                      / avgdl)), 4) AS w
             FROM tf JOIN dl USING (doc_id) CROSS JOIN stats),
      qw AS (SELECT term,
                    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 4)
                      AS qw
             FROM dfq CROSS JOIN stats
             WHERE term IN ('向量', '量检', '检索')),
      sc AS (SELECT dw.doc_id, round(sum(dw.w * qw.qw), 4) AS score
             FROM dw JOIN qw USING (term) GROUP BY dw.doc_id)
      SELECT doc_id, score FROM sc
      ORDER BY score DESC, doc_id ASC LIMIT 10
    """))

  val all: Seq[Q] = Seq(preprocessClean, keywordExtract, chunkSplit,
    chunkOverlapSplit, tokenStats, tokenCounts, qualityScore,
    classifierQualityScore, charEntropy, langId, docFingerprint,
    vocabTopK, tfidfTopTerms, repetitionFilter, unigramLogprob, cdcChunks,
    cdcBoilerplate, bpeLearnMerges, bpeLearnMergesBatched, bpeEncode,
    sketchHeavyTokens, sketchTokenQuantiles, textNormalizeNfc,
    phraseMatchSearch, phraseMatchSlop, phraseFilteredBm25,
    bm25AnalyzerSearch, bm25SparseDuality, fulltextSparseMasked,
    fulltextSparseIncremental, fulltextAnalyzedSearch,
    fulltextStemmedSearch,
    fulltextWandSearch, fulltextWandPruneReport, fulltextRebuildPlan,
    fulltextBucketedSearch, fulltextBulkSearch, fulltextBulkWand,
    fulltextSearchIterate, fulltextCjkSearch, ttlFulltextServe,
    ttlFulltextSyncPlan,
    streamingFulltextIngest,
    streamingPhraseIngest, phraseSnippetExtract, phraseMatchSlopMulti,
    termPrefixSearch, prefixFilteredBm25, termFuzzySearch,
    termFuzzySearchD2, fuzzyFilteredBm25, termSuffixSearch,
    termInfixSearch, infixFilteredBm25, termInfixIncremental,
    termPrefixIncremental,
    streamingPrefixIngest)
}
