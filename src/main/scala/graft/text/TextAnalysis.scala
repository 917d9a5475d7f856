package graft.text

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.{Column, DataFrame}

/** Training-data-pipeline text analysis operators (north-star surface,
  * BASELINE.json): token statistics, quality scoring, BPE-ish token
  * counting, n-gram-heuristic language ID, document fingerprinting.
  *
  * Everything here is pure Catalyst (codegen-able, no UDFs) and therefore
  * 1:1 expressible in the DuckDB oracle dialect. At 100 TB these are all
  * embarrassingly parallel per-row map stages — no shuffle at all.
  */
object TextAnalysis {
  /** Whitespace tokens (reference tokenization analog). */
  def wsTokens(text: Column): Column = split(text, "\\s+")

  /** Lexical terms: the whitespace tokens minus the empty token a
    * leading separator leaves — the term definition every lexical index
    * and scorer uses. */
  def wsTerms(text: Column): Column =
    filter(wsTokens(text), t => length(t) > 0)

  /** BPE-ish subword proxy: letter runs, single digits, single symbols. */
  val BpePattern: String = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  /** Language-ID marker sets — tiny per-language function-word lists.
    * The heuristic (count marker hits, argmax with fixed priority order
    * en>fr>es>de>zh) is itself the pinned, oracle-checked semantics. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "is", "in", "it"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est"),
    "es" -> Seq("el", "los", "las", "una", "es", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"))

  /** Per-doc token statistics: n_tokens, n_distinct, avg_token_len,
    * distinct_ratio. */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = wsTokens(col(textCol))
    df.select(
      col(idCol),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      // token-count ratios are small-denominator rationals that can land
      // exactly on a 4th-decimal half (e.g. 143/32 = 4.46875): +1e-9 is
      // the deterministic half tie-break (see qualityScore's scaladoc)
      round(aggregate(transform(toks, t => length(t).cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v) / size(toks) + lit(1e-9), 4)
        .as("avg_token_len"),
      round(size(array_distinct(toks)).cast(DoubleType) / size(toks)
        + lit(1e-9), 4).as("distinct_ratio"))
  }

  /** Composite quality score in [0,1]: length, lexical diversity, word
    * shape. Weights are part of the pinned operator semantics.
    *
    * The +1e-9 before rounding is a deterministic tie-break: the score is
    * a small-denominator rational that can land EXACTLY on a 4th-decimal
    * half (e.g. 2167/4000 = 0.54175), where each engine's last-ulp double
    * error decides the rounding — observed diverging at sf0.1. Nudging
    * both engines' values up by far-less-than-the-minimum-rational-gap
    * (≥1e-7 here) rounds every exact half up everywhere and changes
    * nothing else. */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = wsTokens(col(textCol))
    val nTok = size(toks).cast(DoubleType)
    val distinctRatio = size(array_distinct(toks)).cast(DoubleType) / nTok
    val avgLen = aggregate(transform(toks, t => length(t).cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v) / nTok
    df.select(
      col(idCol),
      round(lit(0.3) * least(nTok / 100.0, lit(1.0))
        + lit(0.4) * distinctRatio
        + lit(0.3) * least(avgLen / 8.0, lit(1.0)) + lit(1e-9), 4)
        .as("quality"))
  }

  /** Token counting: whitespace tokens, BPE-ish matches, chars/4 proxy. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      size(wsTokens(col(textCol))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col(textCol), lit(BpePattern), lit(0)))
        .cast("long").as("bpe_tokens"),
      ceil(length(col(textCol)) / 4.0).cast("long").as("est_tokens"))

  /** n-gram-heuristic language ID: marker-hit counts per language plus a
    * CJK-token count, argmax with fixed priority en>fr>es>de>zh. */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = wsTokens(lower(col(textCol)))
    def markerCount(markers: Seq[String]): Column =
      size(filter(toks, t => array_contains(typedLit(markers), t))).cast("long")
    val counts = LangMarkers.map { case (lang, markers) =>
      lang -> markerCount(markers)
    }
    val zh = size(filter(toks, t => t.rlike("^[一-龥]+$"))).cast("long")
    val Seq(en, fr, es, de) = counts.map(_._2)
    val predicted = when(en >= fr && en >= es && en >= de && en >= zh, "en")
      .when(fr >= es && fr >= de && fr >= zh, "fr")
      .when(es >= de && es >= zh, "es")
      .when(de >= zh, "de")
      .otherwise("zh")
    df.select(
      col(idCol),
      counts(0)._2.as("en_hits"), counts(1)._2.as("fr_hits"),
      counts(2)._2.as("es_hits"), counts(3)._2.as("de_hits"),
      zh.as("zh_hits"),
      predicted.as("predicted_lang"))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercased text.
    * Stable across engines (md5 is identical in Spark and DuckDB). */
  def fingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** Corpus vocabulary: per-token total occurrences and document
    * frequency. The classic map-reduce: explode + one hash aggregate
    * (map-side partials), shuffled by token — no corpus-size state
    * anywhere. */
  def vocabulary(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(wsTokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("id")).as("doc_freq"))

  /** Per-document top TF-IDF term: tf × ln(N / df), ranked per doc with
    * the ROUNDED score (4 decimals) so cross-engine libm ulp differences
    * cannot flip the ranking, ties broken by term. Two hash aggregates
    * (doc-term, then term) + a per-doc window — each shuffled by a
    * bounded key, nothing collected to the driver. */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
        explode(wsTokens(col(textCol))).as("term"))
      .where(col("term") =!= "")
    val tf = tok.groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df_"))
    val nDocs = df.agg(countDistinct(col(idCol)).as("n_docs")) // 1 row
    val scored = tf.join(docFreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("id"), col("term"),
        round(col("tf") * log(col("n_docs").cast(DoubleType) / col("df_")), 4)
          .as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("id"), col("term"), col("tfidf"))
  }
}
