package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Substring-level exact dedup — the Lee et al. 2022 ("Deduplicating
  * Training Data Makes Language Models Better", arXiv:2107.06499)
  * repeated-span detector: a token window of length `windowTokens` that
  * occurs MORE THAN ONCE anywhere in the corpus (across documents or
  * repeated within one) is a duplicated span. Document-level dedup
  * (exact / MinHash / SimHash — see [[Dedup]]) misses these entirely:
  * two long documents sharing one boilerplate paragraph are not
  * near-duplicates of each other, but the paragraph still memorizes.
  * (The reference app has no dedup at all — src/app.py:219-227 inserts
  * raw rows — so this is north-star training-pipeline surface, like the
  * rest of the dedup family.)
  *
  * Scale shape (the reason this is NOT a suffix array): the canonical
  * implementation builds a corpus-wide suffix array — awkward to
  * distribute and O(corpus) driver state. The rolling-window form is
  * map-reduce native and catches the same ≥ `windowTokens` repeats:
  *  - window extraction is the codegen'd sliding-shingle kernel
  *    ([[graft.functions.TokenShingles]], multiset variant) — per-row
  *    map work, one md5 per window;
  *  - "repeated" is a hash-aggregate on the window digest (count > 1) —
  *    map-side combined, only 16-byte digests shuffle, never window
  *    text;
  *  - per-document totals are a second hash-aggregate; the two join on
  *    the digest (equi-join, shuffle by digest hash).
  * Nothing is pairwise: unlike near-dup candidate joins there is no
  * Σ df² term anywhere — a window shared by 10⁶ documents costs one
  * counter, not 10¹² pairs, so no df-cap is needed.
  */
object SubstringDedup {
  /** Per-document duplicated-span report: `(idCol, n_windows,
    * n_dup_windows, dup_frac)` — total token windows, windows whose
    * corpus-wide occurrence count exceeds 1, and their ratio (4 dp).
    * Documents with fewer than `windowTokens` tokens have no windows and
    * emit no row (the standard shingle-operator exclusion rule). */
  def spanReport(df: DataFrame, idCol: String, textCol: String,
                 windowTokens: Int = 20): DataFrame = {
    require(windowTokens >= 1)
    // repartition the RAW rows first: text is smaller than its exploded
    // window set, so spread compute before the explode, and the
    // groupBy(id) below reuses the partitioning
    val wins = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(col("id"))
      .select(col("id"),
        explode(graft.functions.TextFunctions.tokenShinglesAll(
          col("text"), windowTokens)).as("w"))
      .select(col("id"), md5(col("w")).as("h"))
    val repeated = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1)
      .select(col("h"))
    val perDoc = wins.groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"))
    val dupPerDoc = wins.join(repeated, Seq("h"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_windows"))
    perDoc.join(dupPerDoc, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        round(coalesce(col("n_dup_windows"), lit(0L)).cast(DoubleType)
          / col("n_windows") + lit(1e-9), 4).as("dup_frac"))
  }
}
