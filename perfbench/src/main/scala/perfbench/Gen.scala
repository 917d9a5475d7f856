package perfbench

import java.nio.charset.StandardCharsets.UTF_8

final case class Doc(id: Long, chapter: String, text: String) {
  /** Raw input size: the id as 8 bytes plus the UTF-8 chapter and text. */
  def inputBytes: Long =
    8 + chapter.getBytes(UTF_8).length + text.getBytes(UTF_8).length
}

/** Seeded input generators. Every generator draws from its own
  * `java.util.Random(seed)`, whose sequence is fixed by the Java spec, so
  * one seed gives byte-identical inputs on every JVM; [[Digest]] proves it. */
object Gen {
  private val Consonants = "bcdfghjklmnpqrstvwxyz"
  private val Vowels = "aeiou"

  /** `n` distinct four-plus-letter pseudo-words, in a seed-dependent order
    * so that each seed makes different words frequent. */
  def vocabulary(n: Int, rnd: java.util.Random): Array[String] = {
    val syll = for (c <- Consonants; v <- Vowels) yield s"$c$v"
    val words = Array.tabulate(n) { i =>
      val sb = new StringBuilder
      var j = i
      do { sb ++= syll(j % syll.length); j /= syll.length } while (j > 0)
      if (sb.length < 4) sb ++= syll(i % syll.length)
      sb.toString
    }
    for (i <- words.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = words(i); words(i) = words(j); words(j) = t
    }
    words
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(rnd: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Text documents drawn from a Zipf vocabulary: sentences of 5-8 words
    * joined by commas, ended by a period — the punctuation gives the
    * question path's chunk strategy something to split on. */
  final class TextGen(seed: Long, vocabSize: Int = 20000) {
    val rnd = new java.util.Random(seed)
    private val words = vocabulary(vocabSize, rnd)
    private val zipf = new Zipf(vocabSize, 0.7)

    def tokens(n: Int): Array[String] =
      Array.fill(n)(words(zipf.sample(rnd)))

    def render(toks: Array[String]): String = {
      val sb = new StringBuilder
      var sinceComma = 0
      toks.indices.foreach { i =>
        if (i > 0) sb += ' '
        sb ++= toks(i)
        sinceComma += 1
        if (i < toks.length - 1 && sinceComma >= 5 && rnd.nextInt(3) == 0) {
          sb += ','; sinceComma = 0
        }
      }
      sb += '.'
      sb.toString
    }

    def doc(id: Long, chapters: Int): Doc =
      Doc(id, s"chapter-${rnd.nextInt(chapters)}",
        render(tokens(14 + rnd.nextInt(15))))

    /** A near-duplicate: one word of `src` replaced. Word 3-shingle
      * Jaccard to the source is then about 0.8. */
    def nearDup(id: Long, src: Doc): Doc = {
      val toks = src.text.split(" ")
      val i = rnd.nextInt(toks.length)
      val punct = toks(i).dropWhile(_.isLetter)
      toks(i) = words(rnd.nextInt(words.length)) + punct
      Doc(id, src.chapter, toks.mkString(" "))
    }

    /** A question about `target`: nine consecutive words of its text,
      * verbatim, starting three words before its first comma, so every
      * question fans out the same way: the whole question, three keywords
      * and two chunks. */
    def question(target: Doc): String = {
      val toks = target.text.split(" ")
      val comma = toks.indexWhere(_.endsWith(","))
      val at =
        if (comma >= 3) math.min(comma - 3, toks.length - 9)
        else rnd.nextInt(toks.length - 8)
      toks.slice(at, at + 9).mkString(" ")
    }
  }

  /** Gaussian blobs: `n` points of dimension `dim` around `centers`
    * standard-normal centres. Returns the corpus and `q` query points
    * drawn the same way but not in it. */
  def clustered(seed: Long, n: Int, dim: Int, centers: Int, sigma: Double,
                q: Int): (Array[Array[Float]], Array[Array[Float]]) = {
    val rnd = new java.util.Random(seed)
    val cs = Array.fill(centers, dim)(rnd.nextGaussian())
    def point(): Array[Float] = {
      val c = cs(rnd.nextInt(centers))
      Array.tabulate(dim)(d => (c(d) + sigma * rnd.nextGaussian()).toFloat)
    }
    (Array.fill(n)(point()), Array.fill(q)(point()))
  }
}

/** SHA-256 over generated inputs, printed so that two runs with one seed
  * can be shown to have used byte-identical inputs. */
final class Digest {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = md.update(s.getBytes(UTF_8))
  def add(d: Doc): Unit = add(s"${d.id}\u0000${d.chapter}\u0000${d.text}\n")
  def add(v: Array[Float]): Unit = {
    val b = java.nio.ByteBuffer.allocate(4 * v.length)
    v.foreach(b.putFloat)
    md.update(b.array())
  }
  def hex: String = md.digest().take(12).map("%02x".format(_)).mkString
}
