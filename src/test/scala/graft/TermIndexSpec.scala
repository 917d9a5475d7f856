package graft

import graft.search.{Bm25, Bm25Index, Phrase, TermIndex, Tombstones}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The lexical tier's one artifact: every unfielded reader serves from
  * the same term rows, an appended segment serves exactly like a full
  * build, and one compaction folds deletes out of every layout. */
class TermIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_test_terms_$tag"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    d
  }

  // doc 1 repeats `scan` (tf 2 at positions 0 and 2); doc 4 has no
  // token at all, so it has doclen but no term row
  private val docs = Seq(
    (1L, "scan filter scan merge"),
    (2L, "merge scan filter"),
    (3L, "filter merge scanner"),
    (4L, "   "),
    (5L, "scanned filters scan filter merge"),
    (6L, "order border scan filter")).toDF("doc_id", "text")

  private val bm25Terms = Seq("scan", "filter", "merge")

  /** Every unfielded reader, collected. */
  private def serve(d: String): Map[String, Seq[Any]] = {
    def rows(df: DataFrame): Seq[Any] = df.collect().toSeq.map(_.toSeq)
    def ids(df: DataFrame): Seq[Any] =
      df.as[Long].collect().toSeq.sorted
    Map(
      "bm25" -> rows(Bm25Index.search(spark, d, bm25Terms, k = 10)),
      "bm25_phrase_filter" -> rows(Bm25Index.search(spark, d, bm25Terms,
        k = 10, idFilter = Some(Phrase.matchingIds(spark, d,
          Seq("scan", "filter"))))),
      "phrase" -> rows(Phrase.topK(spark, d, Seq("scan", "filter"), 10)),
      "phrase_ids" -> ids(Phrase.matchingIds(spark, d,
        Seq("scan", "filter"))),
      "slop_pair" -> rows(Phrase.slopTopK(spark, d, "scan", "merge",
        slop = 1, k = 10)),
      "slop_phrase" -> rows(Phrase.slopPhraseTopK(spark, d,
        Seq("scan", "filter", "merge"), slop = 2, k = 10)),
      "prefix" -> rows(TermIndex.prefixSearch(spark, d, "sca", 10)),
      "prefix_ids" -> ids(TermIndex.prefixIds(spark, d, "fil")),
      "fuzzy" -> rows(TermIndex.fuzzySearch(spark, d, "scan",
        maxDist = 1, k = 10)),
      "fuzzy_ids" -> ids(TermIndex.fuzzyIds(spark, d, "merge", 1)),
      "infix" -> rows(TermIndex.infixSearch(spark, d, "rde", 10)),
      "infix_ids" -> ids(TermIndex.infixIds(spark, d, "can")),
      "suffix" -> rows(TermIndex.suffixSearch(spark, d, "er", 10)))
  }

  private def withViews(d: String): String = {
    TermIndex.buildSortedReversed(spark, d)
    TermIndex.buildTrigrams(spark, d)
    d
  }

  test("one artifact: build-then-append serves every reader exactly " +
      "like one full build; N counts the zero-token doc") {
    val full = freshDir("full")
    TermIndex.build(docs, "doc_id", "text", full)
    val inc = freshDir("inc")
    TermIndex.build(docs.where(col("doc_id") <= 2), "doc_id", "text", inc)
    TermIndex.append(docs.where(col("doc_id") > 2), "doc_id", "text", inc)
    assert(TermIndex.segments(spark, inc) == Seq(0, 1))
    // the repeated term is one row: tf 2, both positions, in order
    val scan1 = TermIndex.postings(spark, inc)
      .where(col("id") === 1 && col("term") === "scan")
      .select("tf", "pos").as[(Long, Seq[Int])].collect().toSeq
    assert(scan1 == Seq((2L, Seq(0, 2))))
    // the zero-token doc has a doclen row (dl 0) and no term row
    assert(TermIndex.doclen(spark, inc).select("id", "dl")
      .as[(Long, Long)].collect().toMap.get(4L).contains(0L))
    assert(TermIndex.postings(spark, inc).where(col("id") === 4).isEmpty)
    val got = serve(withViews(inc))
    val want = serve(withViews(full))
    want.foreach { case (reader, rows) =>
      assert(rows.nonEmpty, s"$reader: the fixture must exercise it")
      assert(got(reader) == rows, s"$reader: append differs from rebuild")
    }
    // BM25 from the artifact equals the stateless scorer over the raw
    // docs, whose N and avgdl count doc 4: an artifact that dropped the
    // zero-token doc would shift every idf and length norm
    val direct = Bm25.score(docs, "doc_id", "text", bm25Terms)
      .orderBy(col("bm25").desc, col("id").asc)
      .collect().toSeq.map(_.toSeq)
    assert(got("bm25") == direct)
  }

  test("compactTombstones folds every layout of a shared directory " +
      "before it clears the deletes") {
    val d = freshDir("deletes")
    TermIndex.build(docs.where(col("doc_id") <= 3), "doc_id", "text", d)
    TermIndex.append(docs.where(col("doc_id") > 3), "doc_id", "text", d)
    withViews(d)
    val dead = Set(1L, 6L)
    Tombstones.record(dead.toSeq.toDF("id"), d, "id")
    val masked = serve(d)
    TermIndex.compactTombstones(spark, d)
    assert(!Tombstones.exist(spark, d))
    assert(TermIndex.segments(spark, d) == Seq(0))
    // no layout carries a deleted id any more ...
    val stored = Seq(
      TermIndex.postings(spark, d).select("id"),
      TermIndex.doclen(spark, d).select("id"),
      spark.read.parquet(TermIndex.reversedPostingsDir(d)).select("id"))
    stored.foreach { ids =>
      assert(ids.as[Long].collect().forall(!dead(_)))
    }
    // ... so no reader serves one, with the deletes cleared
    val folded = serve(d)
    folded.foreach { case (reader, rows) =>
      val served = rows.map {
        case r: Seq[_] => r.head
        case id => id
      }
      assert(served.forall(id => !dead(id.asInstanceOf[Long])),
        s"$reader serves a deleted id after the fold: $rows")
    }
    // count-based rankings keep their values; only BM25's statistics
    // leave the stale-mask regime
    (folded.keySet - "bm25" - "bm25_phrase_filter").foreach { r =>
      assert(folded(r) == masked(r), s"$r changed across the fold")
    }
  }
}
