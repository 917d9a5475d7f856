package graft

import graft.rag.{Compose, EchoAnswerGenerator}
import org.apache.spark.sql.functions._

class ComposeSpec extends SparkSpec {
  import spark.implicits._

  private def hits = Seq(
    (1L, "第一章", "内容一"), (2L, "第二章", "内容二"))
    .toDF("rank", "chapter", "content")

  test("contextBlock renders numbered markdown lines in rank order") {
    val block = Compose.contextBlock(hits, "rank", "chapter", "content")
    assert(block == "1. **第一章**: 内容一\n2. **第二章**: 内容二")
    // ranks 12..1 over 3 partitions; 10-12 also catch a textual sort
    val rev = spark.sparkContext.parallelize(
        (12 to 1 by -1).map(i => (i, s"c$i", s"x$i")), 3)
      .toDF("rank", "chapter", "content")
    assert(Compose.contextBlock(rev, "rank", "chapter", "content") ==
      (1 to 12).map(i => s"$i. **c$i**: x$i").mkString("\n"))
  }

  test("kbAnswerBlock: header + body, and the empty-hits fallback") {
    val block = Compose.kbAnswerBlock(hits, "rank", "chapter", "content")
    assert(block.startsWith("## 🔍 **知识库答案**\n\n1. "))
    val empty = Compose.kbAnswerBlock(hits.where(lit(false)),
      "rank", "chapter", "content")
    assert(empty.contains("未在知识库中找到相关信息"))
  }

  test("answer generator seam is injectable and deterministic") {
    val gen = new EchoAnswerGenerator
    assert(gen.generate("p") == "[echo] p")
  }

  test("dispatch: empty hits → plain generator answer (src/agent.py:104-107)") {
    val r = Compose.dispatch(hits.where(lit(false)), "rank", "chapter",
      "content", "什么是数据库", new EchoAnswerGenerator)
    assert(r == "[echo] 什么是数据库")
  }

  test("dispatch: hits + supplement → KB block, divider, supplement section") {
    val r = Compose.dispatch(hits, "rank", "chapter", "content",
      "什么是数据库", new EchoAnswerGenerator)
    assert(r.startsWith("## 🔍 **知识库答案**\n\n1. **第一章**: 内容一"))
    assert(r.contains("\n\n---\n\n## 🤖 **大模型补充说明**\n\n[echo] "))
  }

  test("dispatch: empty supplement → unavailable note (src/agent.py:195-198)") {
    val blank = new graft.rag.AnswerGenerator {
      override def generate(prompt: String): String = ""
    }
    val r = Compose.dispatch(hits, "rank", "chapter", "content", "q", blank)
    assert(r.startsWith("## 🔍 **知识库答案**"))
    assert(r.endsWith("*注：大模型补充暂时不可用，以上为知识库中找到的相关内容。*"))
  }

  test("dispatch: generator failure → KB-only fallback (src/agent.py:202-205)") {
    val failing = new graft.rag.AnswerGenerator {
      override def generate(prompt: String): String =
        throw new RuntimeException("api down")
    }
    val r = Compose.dispatch(hits, "rank", "chapter", "content", "q", failing)
    assert(r == Compose.kbAnswerBlock(hits, "rank", "chapter", "content"))
    assert(!r.contains("大模型补充"))
  }

  test("HLL sketch distinct counts are within rsd bounds of exact") {
    val approx = SparkEntry.queries("sketch_distinct_users")(spark, sf0001)
      .as[(String, Long)].collect().toMap
    val exact = SparkEntry.queries("exact_distinct_users")(spark, sf0001)
      .as[(String, Long)].collect().toMap
    assert(approx.nonEmpty && approx.keySet == exact.keySet)
    approx.foreach { case (t, a) =>
      val e = exact(t)
      assert(math.abs(a - e) <= math.max(2L, (e * 0.1).toLong),
        s"$t: approx $a vs exact $e")
    }
  }
}
