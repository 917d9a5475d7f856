package graft.rag

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** RAG composition (SURVEY §2.6 R1/R2) — hits → markdown context blocks
  * (reference src/agent.py:125-134, src/app.py:342-359). The LLM call
  * itself (R5) is an external effect behind [[AnswerGenerator]]; the
  * engine only formats retrieval output.
  */
object Compose {
  /** R1: numbered context lines `"{i}. **{chapter}**: {content}"`. */
  def contextLines(hits: DataFrame, rankCol: String, chapterCol: String,
                   contentCol: String): DataFrame =
    hits.select(col(rankCol),
      format_string("%d. **%s**: %s",
        col(rankCol), col(chapterCol), col(contentCol)).as("line"))

  /** R1 block form: the joined context string (driver-side collect of an
    * already-truncated top-k — bounded by construction). The few lines are
    * sorted by rank on the driver: a Spark sort would cost a sampling job
    * and an exchange. The rank is integral (`%d`); a null rank sorts
    * first, as in `orderBy(asc)`. */
  def contextBlock(hits: DataFrame, rankCol: String, chapterCol: String,
                   contentCol: String): String =
    contextLines(hits, rankCol, chapterCol, contentCol).collect()
      .sortBy(r => Option(r.getAs[Number](0)).map(_.longValue))
      .map(_.getString(1)).mkString("\n")

  private def kbBlockFromBody(body: String): String =
    if (body.isEmpty) "## 🔍 **知识库答案**\n\n未在知识库中找到相关信息。"
    else s"## 🔍 **知识库答案**\n\n$body"

  /** R2: knowledge-base-only answer block (src/app.py:342-359 shape). */
  def kbAnswerBlock(hits: DataFrame, rankCol: String, chapterCol: String,
                    contentCol: String): String =
    kbBlockFromBody(contextBlock(hits, rankCol, chapterCol, contentCol))

  /** R4: the full answer dispatch (reference `generate_ans_with_rag`,
    * src/agent.py:104-111, and `generate_combined_response`,
    * src/agent.py:181-205):
    *  - no hits → plain generator answer (LLM-only path);
    *  - hits + non-empty supplement → KB block, divider, supplement
    *    section;
    *  - hits + empty supplement → KB block + "supplement unavailable"
    *    note (src/agent.py:195-198);
    *  - generator THROWS → fall back to the KB block alone
    *    (src/agent.py:202-205).
    * The generator is the injectable [[AnswerGenerator]] seam; the
    * engine's job is retrieval + deterministic composition. */
  def dispatch(hits: DataFrame, rankCol: String, chapterCol: String,
               contentCol: String, question: String,
               gen: AnswerGenerator): String = {
    // ONE execution of the (possibly expensive) retrieval plan: the
    // collected context decides the branch — a separate isEmpty probe
    // would run the whole upstream DAG twice
    val body = contextBlock(hits, rankCol, chapterCol, contentCol)
    if (body.isEmpty) gen.generate(question)
    else {
      val kb = kbBlockFromBody(body)
      try {
        val supplement = gen.generate(
          s"问题：$question\n\n参考资料：\n$kb")
        if (supplement != null && supplement.nonEmpty)
          s"$kb\n\n---\n\n## 🤖 **大模型补充说明**\n\n$supplement"
        else s"$kb\n\n---\n\n*注：大模型补充暂时不可用，以上为知识库中找到的相关内容。*"
      } catch {
        case scala.util.control.NonFatal(_) => kb
      }
    }
  }
}

/** R3-R5 seam: answer generation is out of engine scope (network effect);
  * tests inject a deterministic fake. */
trait AnswerGenerator extends Serializable {
  def generate(prompt: String): String
}

final class EchoAnswerGenerator extends AnswerGenerator {
  override def generate(prompt: String): String = s"[echo] $prompt"
}
