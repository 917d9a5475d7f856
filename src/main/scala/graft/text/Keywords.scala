package graft.text

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Keyword extraction + chunk splitting (SURVEY §2.4 M5/M6; reference
  * src/app.py:319-340).
  *
  * Pinned semantics:
  *  - token regex `[一-龥]{2,}|[a-zA-Z]{3,}` (src/app.py:334; U+4E00–U+9FA5);
  *  - stopword removal keeps duplicates and original order (src/app.py:336);
  *  - sort by token length DESC, stable (Python list.sort) — replicated with
  *    an explicit original-position tie-break (src/app.py:339);
  *  - chunk split on `[，。！？；:,\.!?;]`, trim, keep length > 5 strictly,
  *    first 2 surviving chunks (src/app.py:322-326).
  *
  * `extract`/`chunks` run over a table; `extractLocal`/`chunksLocal` are
  * their one-string twins for text the driver already holds (a question),
  * so splitting it costs no Spark job. The twins follow Spark's semantics
  * exactly: `trim` strips only U+0020, `length` counts code points and
  * `split` keeps trailing empty strings.
  */
object Keywords {
  /** STOP_WORDS, reference src/app.py:26-31 — 32 distinct entries (the
    * reference's set literal repeats 这个/那个; dedup'd here). */
  val StopWords: Seq[String] = Seq(
    "的", "是", "在", "和", "有", "这个", "那个", "什么", "怎么", "如何", "为什么",
    "吗", "呢", "了", "啊", "呀", "吧", "嗯", "哦", "哈", "哎", "呃", "那么",
    "这些", "那些", "一种", "一个", "一些", "一点", "一下", "可以", "应该")

  val TokenPattern: String = "[一-龥]{2,}|[a-zA-Z]{3,}"
  val ChunkPattern: String = "[，。！？；:,\\.!?;]"

  private val TokenRegex = TokenPattern.r
  private val StopWordSet = StopWords.toSet

  def tokens(text: Column): Column =
    regexp_extract_all(text, lit(TokenPattern), lit(0))

  /** M6: per-row top-k keywords → rows (id, kw_rank, keyword). */
  def extract(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(length(col("keyword")).desc, col("tok_idx").asc)
    df.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("tok_idx", "keyword")))
      .where(!col("keyword").isInCollection(StopWords))
      .withColumn("kw_rank", row_number().over(w))
      .where(col("kw_rank") <= k)
      .select(col(idCol), col("kw_rank"), col("keyword"))
  }

  /** M5: per-row chunks → rows (id, chunk_rank, chunk); strictly-greater-5
    * length filter, then first `maxChunks` in original order. */
  def chunks(df: DataFrame, idCol: String, textCol: String,
             maxChunks: Int = 2, minLen: Int = 5): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("chunk_idx").asc)
    df.select(col(idCol),
        posexplode(split(col(textCol), ChunkPattern)).as(Seq("chunk_idx", "raw")))
      .withColumn("chunk", trim(col("raw")))
      .where(length(col("chunk")) > minLen)
      .withColumn("chunk_rank", row_number().over(w))
      .where(col("chunk_rank") <= maxChunks)
      .select(col(idCol), col("chunk_rank"), col("chunk"))
  }

  /** `extract` for one string: its keywords in `kw_rank` order. */
  def extractLocal(text: String, k: Int = 3): Seq[String] =
    if (text == null) Seq.empty
    else TokenRegex.findAllIn(text).filterNot(StopWordSet).toSeq
      // stable: equal lengths keep their original order
      .sortBy(t => -codePoints(t)).take(k)

  /** `chunks` for one string: its chunks in `chunk_rank` order. */
  def chunksLocal(text: String, maxChunks: Int = 2,
                  minLen: Int = 5): Seq[String] =
    if (text == null) Seq.empty
    else text.split(ChunkPattern, -1).iterator.map(trimSpaces)
      .filter(c => codePoints(c) > minLen).take(maxChunks).toSeq

  private def codePoints(s: String): Int = s.codePointCount(0, s.length)

  private def trimSpaces(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e)
  }
}
