package graft

import graft.search.{Phrase, TermIndex, Tombstones}
import org.apache.spark.sql.functions._

/** Positional phrase search: the anchor trick's correctness corners —
  * repeated terms in the phrase, occurrence counting, slop windows,
  * append-equals-rebuild, and the tombstone mask. */
class PhraseSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_test_phrase_$tag"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    d
  }

  private val docs = Seq(
    (1L, "a b c d a b c"),     // "a b c" twice
    (2L, "a b x c"),           // "a b c" broken by x (slop 1 for b..c)
    (3L, "c b a"),             // reversed — never a match
    (4L, "a a a"),             // repeated-term probe
    (5L, "b c a b")            // "a b" wraps? no — positions 2,3 ordered
  ).toDF("doc_id", "text")

  test("exact phrase: counts occurrences, order-sensitive") {
    val idx = freshDir("exact")
    TermIndex.build(docs, "doc_id", "text", idx)
    val got = Phrase.topK(spark, idx, Seq("a", "b", "c"), k = 10)
      .as[(Long, Long)].collect().toSeq
    // doc 1 has two occurrences (pos 0 and 4); doc 2 broken; doc 3
    // reversed; doc 5 has no 'a b c' run
    assert(got == Seq((1L, 2L)))
  }

  test("repeated term in phrase needs distinct positions per offset") {
    val idx = freshDir("rep")
    TermIndex.build(docs, "doc_id", "text", idx)
    // phrase "a a": one posting row at a single position must NOT
    // satisfy both offsets — doc 4 ("a a a") has two anchors, doc 1
    // has 'a ... a' but never adjacent
    val got = Phrase.topK(spark, idx, Seq("a", "a"), k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((4L, 2L)))
  }

  test("slop window: ordered, bounded gap, distinct anchors") {
    val idx = freshDir("slop")
    TermIndex.build(docs, "doc_id", "text", idx)
    // b→c with slop 1: doc1 (b@1 c@2, b@5 c@6 → 2 anchors), doc2
    // (b@1, c@3: gap 1 → 1 anchor), doc5 (b@0 c@1 → 1; b@3 no c after)
    val got = Phrase.slopTopK(spark, idx, "b", "c", slop = 1, k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (2L, 1L), (5L, 1L)))
    // slop 0 = adjacent only: doc2 drops out
    val tight = Phrase.slopTopK(spark, idx, "b", "c", slop = 0, k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(tight == Seq((1L, 2L), (5L, 1L)))
  }

  test("general slop: slop 0 equals the exact anchor search; budget " +
      "is TOTAL intervening tokens") {
    val idx = freshDir("slopm")
    TermIndex.build(docs, "doc_id", "text", idx)
    // slop 0 degenerates to exact: same anchors, same counts
    val exact = Phrase.topK(spark, idx, Seq("a", "b", "c"), k = 10)
      .as[(Long, Long)].collect().toSeq
    val slop0 = Phrase.slopPhraseTopK(spark, idx, Seq("a", "b", "c"),
      slop = 0, k = 10).as[(Long, Long)].collect().toSeq
    assert(slop0 == exact && exact == Seq((1L, 2L)))
    // doc 2 "a b x c": gaps 0 + 1 = 1 total → matches at slop 1
    val slop1 = Phrase.slopPhraseTopK(spark, idx, Seq("a", "b", "c"),
      slop = 1, k = 10).as[(Long, Long)].collect().toSeq
    assert(slop1 == Seq((1L, 2L), (2L, 1L)))
  }

  test("append equals rebuild") {
    val a = freshDir("appendA"); val b = freshDir("appendB")
    TermIndex.build(docs, "doc_id", "text", a)
    TermIndex.build(docs.where(col("doc_id") <= 2), "doc_id", "text", b)
    TermIndex.append(docs.where(col("doc_id") > 2), "doc_id", "text", b)
    val ra = Phrase.topK(spark, a, Seq("a", "b"), k = 10)
      .as[(Long, Long)].collect().toSeq
    val rb = Phrase.topK(spark, b, Seq("a", "b"), k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(ra == rb && ra.nonEmpty)
  }

  test("matchingIds is the no-cut filter form; BM25 idFilter keeps " +
      "corpus-wide stats") {
    import graft.search.Bm25Index
    val idx = freshDir("filter")
    TermIndex.build(docs, "doc_id", "text", idx)
    val ids = Phrase.matchingIds(spark, idx, Seq("a", "b"))
      .as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 5L)) // all docs with adjacent "a b"
    // filtered ranking = unfiltered ranking restricted to the id set:
    // scores must be IDENTICAL (corpus-wide df/N/avgdl), only the
    // competitor set shrinks
    val all = Bm25Index.search(spark, idx, Seq("c"), k = 10)
      .as[(Long, Double)].collect().toMap
    val filt = Bm25Index.search(spark, idx, Seq("c"), k = 10,
        idFilter = Some(Phrase.matchingIds(spark, idx, Seq("a", "b"))))
      .as[(Long, Double)].collect().toSeq
    assert(filt.map(_._1).toSet.subsetOf(ids))
    filt.foreach { case (id, score) => assert(all(id) == score) }
  }

  test("tombstone mask hides deleted docs until compaction") {
    val idx = freshDir("tomb")
    TermIndex.build(docs, "doc_id", "text", idx)
    Tombstones.record(Seq(1L).toDF("id"), idx, "id")
    val got = Phrase.topK(spark, idx, Seq("a", "b", "c"), k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(got.isEmpty) // doc 1 was the only match
    val slop = Phrase.slopTopK(spark, idx, "b", "c", slop = 1, k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(slop == Seq((2L, 1L), (5L, 1L))) // doc 1 masked
  }
}
