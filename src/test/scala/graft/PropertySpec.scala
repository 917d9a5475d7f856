package graft

import graft.dedup.Dedup
import graft.ingest.Preprocess
import graft.search.Knn
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScalaCheckTest}

/** Property-based specs (SURVEY §5 item 3): engine results vs plain-Scala
  * oracles over generated inputs. ScalaCheck is driven programmatically
  * (no scalatestplus bridge in the dependency set). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop, tests: Int = 20): Unit = {
    val res = ScalaCheckTest.check(
      ScalaCheckTest.Parameters.default
        .withMinSuccessfulTests(tests).withInitialSeed(42L), prop)
    assert(res.passed, res.status.toString)
  }

  private def roundLikeSpark(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("property: engine kNN equals brute-force oracle on random corpora") {
    val vecGen = Gen.listOfN(3, Gen.chooseNum(-10.0f, 10.0f))
    val corpusGen = Gen.chooseNum(3, 12).flatMap(n =>
      Gen.listOfN(n, vecGen)).map(_.zipWithIndex.map {
      case (v, i) => (i.toLong, v.toArray)
    })
    val prop = Prop.forAll(corpusGen, vecGen) { (corpus, qv) =>
      val k = 3
      val q = Seq(Tuple1(qv.toArray)).toDF("qe")
      val engine = Knn.topK(corpus.toDF("id", "vec"), "vec", "id", q, "qe", k)
        .select("id").as[Long].collect().toSeq
      val oracle = corpus.map { case (id, v) =>
        val d = v.zip(qv).map { case (a, b) =>
          val x = a.toDouble - b.toDouble; x * x
        }.foldLeft(0.0)(_ + _)
        (roundLikeSpark(d), id)
      }.sorted.take(k).map(_._2)
      engine == oracle
    }
    check(prop, tests = 15)
  }

  test("property: preprocess is idempotent on arbitrary unicode-ish text") {
    val charGen = Gen.frequency(
      5 -> Gen.alphaNumChar, 2 -> Gen.const(' '), 1 -> Gen.oneOf('，', '。', '数', '据'),
      1 -> Gen.oneOf('@', '#', '<', '>', '\t', '\n'))
    val textGen = Gen.listOf(charGen).map(_.mkString)
    val prop = Prop.forAll(Gen.listOfN(8, textGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val once = df.select(Preprocess.clean(col("text")).as("c")).as[String].collect()
      val twice = df.select(
        Preprocess.clean(Preprocess.clean(col("text"))).as("c")).as[String].collect()
      once.toSeq == twice.toSeq
    }
    check(prop, tests = 10)
  }

  test("property: TokenShingles kernel equals the HOF formulation") {
    // random whitespace-messy strings (runs of spaces, leading/trailing,
    // unicode-ish tokens) — the kernel must match the interpreted
    // transform/slice/concat_ws/array_distinct form element for element
    val tokGen = Gen.oneOf(Gen.alphaNumStr.map(_.take(4)),
      Gen.oneOf("一二", "da-ta", "", "x"))
    val textGen = for {
      n <- Gen.chooseNum(0, 10)
      toks <- Gen.listOfN(n, tokGen)
      sep <- Gen.oneOf(" ", "  ", " \t ")
      lead <- Gen.oneOf("", " ")
    } yield lead + toks.mkString(sep)
    val prop = Prop.forAll(textGen) { t =>
      val df = Seq(Tuple1(t)).toDF("text")
      val hof = {
        val toks = split(col("text"), "\\s+")
        when(size(toks) < 3, array().cast("array<string>"))
          .otherwise(array_distinct(
            transform(sequence(lit(1), size(toks) - lit(2)),
              i => concat_ws(" ", slice(toks, i, lit(3))))))
      }
      val both = df.select(
        Dedup.shingles(col("text")).as("kernel"), hof.as("hof"))
        .as[(Seq[String], Seq[String])].head()
      both._1 == both._2
    }
    check(prop, tests = 30)
  }

  test("property: driver-side keyword/chunk twins equal the Column form") {
    import graft.text.Keywords
    // the Column form's edge cases: trim strips only U+0020 (not U+3000,
    // tabs or newlines), length counts code points, split keeps trailing
    // empty strings, equal-length keywords keep their original order
    val cjk = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0x4E00, 0x9FA5).map(_.toChar)))
      .map(_.mkString)
    val word = Gen.chooseNum(1, 5).flatMap(n =>
      Gen.listOfN(n, Gen.alphaChar)).map(_.mkString)
    val piece = Gen.frequency(
      4 -> cjk, 4 -> word,
      3 -> Gen.oneOf(Keywords.ChunkPattern.filterNot("[]\\".contains(_))
        .map(_.toString)),
      2 -> Gen.oneOf(" ", "  ", "\u3000", "\t", "\n", "  \n"),
      1 -> Gen.const(new String(Character.toChars(0x1D11E))),
      2 -> Gen.oneOf(Keywords.StopWords),
      2 -> Gen.oneOf("abc", "xyz", "数据", "系统", "alpha", "gamma"))
    val textGen = for {
      n <- Gen.chooseNum(0, 30)
      ps <- Gen.listOfN(n, piece)
      sep <- Gen.oneOf("", " ")
      tail <- Gen.oneOf("", "  \n", " ", "\n")
    } yield ps.mkString(sep) + tail
    val prop = Prop.forAll(Gen.listOfN(20, textGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      def byId(rows: Array[(Long, Int, String)]) =
        rows.groupBy(_._1).map { case (id, rs) =>
          id -> rs.sortBy(_._2).map(_._3).toSeq }.withDefaultValue(Seq.empty)
      val kws = byId(Keywords.extract(df, "id", "text", k = 3)
        .as[(Long, Int, String)].collect())
      val chs = byId(Keywords.chunks(df, "id", "text")
        .as[(Long, Int, String)].collect())
      texts.zipWithIndex.forall { case (t, i) =>
        Keywords.extractLocal(t, k = 3) == kws(i.toLong) &&
          Keywords.chunksLocal(t) == chs(i.toLong)
      }
    }
    check(prop, tests = 15)
  }

  test("property: CDC chunks partition the text exactly, code-point-wise") {
    import org.apache.spark.unsafe.types.UTF8String
    // includes supplementary-plane chars (2 UTF-16 units, 1 code point)
    val charGen = Gen.frequency(
      8 -> Gen.alphaNumChar.map(_.toString), 2 -> Gen.const(" "),
      1 -> Gen.const("中"), 1 -> Gen.const(new String(Character.toChars(0x1D11E))))
    val textGen = Gen.chooseNum(0, 60).flatMap(n =>
      Gen.listOfN(n, charGen).map(_.mkString))
    val prop = Prop.forAll(textGen) { t =>
      val arr = graft.functions.CdcChunkList.compute(UTF8String.fromString(t), 8)
      val rows = (0 until arr.numElements()).map(i =>
        arr.getStruct(i, 3)).map(r => (r.getLong(0), r.getLong(1)))
      val cpLen = t.codePointCount(0, t.length).toLong
      // chunk_no is 1..n, lengths sum to the code-point length, every
      // chunk except possibly a degenerate empty-text chunk is non-empty
      rows.map(_._1) == (1L to rows.length.toLong) &&
        rows.map(_._2).sum == cpLen &&
        (cpLen == 0 || rows.forall(_._2 > 0))
    }
    check(prop, tests = 40)
  }

  test("property: minhash similarity of identical inputs is 1.0") {
    val textGen = Gen.listOfN(10,
      Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")).map(_.mkString(" "))
    val prop = Prop.forAll(textGen) { t =>
      val df = Seq((1L, t), (2L, t)).toDF("id", "text")
      val c = Dedup.minhashCandidates(df, "id", "text", 8, 1)
        .select("est_jaccard").as[Double].collect()
      c.length == 1 && c(0) == 1.0
    }
    check(prop, tests = 8)
  }

  test("property: KMV merge associativity and order-independence") {
    import graft.functions.KmvSketchAggregator
    val agg = new KmvSketchAggregator(16)
    val hashGen = Gen.listOf(Gen.chooseNum(0L, 1L << 60))
    val prop = Prop.forAll(hashGen, hashGen, hashGen) { (a, b, c) =>
      def ins(xs: Seq[Long]) = xs.foldLeft(agg.zero)(agg.reduce)
      // merge(merge(a,b),c) == merge(a,merge(b,c)) == sequential(a++b++c)
      val left = agg.merge(agg.merge(ins(a), ins(b)), ins(c))
      val right = agg.merge(ins(a), agg.merge(ins(b), ins(c)))
      val seqAll = ins(a ++ b ++ c)
      left.toSeq == right.toSeq && left.toSeq == seqAll.toSeq &&
        // estimate over any permutation of arrivals is identical
        agg.finish(ins(scala.util.Random.shuffle(a ++ b ++ c))) ==
          agg.finish(seqAll)
    }
    check(prop, tests = 30)
  }

  test("property: count-min never underestimates on random streams") {
    import graft.text.CountMin
    val tokGen = Gen.listOfN(60,
      Gen.oneOf((0 until 25).map(i => s"t$i"))).map(_.map(Tuple1(_)))
    val prop = Prop.forAll(tokGen) { rows =>
      val toks = rows.toDF("tok")
      val exact = toks.groupBy("tok").count()
      val m = CountMin.counterMatrix(toks, "tok", depth = 2, width = 8)
      CountMin.estimate(exact, "tok", m, 2, 8)
        .join(exact, Seq("tok"))
        .select("n_cms", "count").as[(Long, Long)].collect()
        .forall { case (cms, ex) => cms >= ex }
    }
    check(prop, tests = 8)
  }

  test("property: packed hamming equals slotwise sign-mismatch count") {
    import graft.search.BinaryVec
    val vecGen = Gen.listOfN(64, Gen.chooseNum(-5.0f, 5.0f))
    val prop = Prop.forAll(vecGen, vecGen) { (a, b) =>
      val expected = a.zip(b).count { case (x, y) => (x >= 0) != (y >= 0) }
      val df = Seq((a.toArray, b.toArray)).toDF("va", "vb")
        .select(BinaryVec.hamming(Seq(
          BinaryVec.signWord(col("va"), 0) -> BinaryVec.signWord(col("vb"), 0),
          BinaryVec.signWord(col("va"), 1) -> BinaryVec.signWord(col("vb"), 1)))
          .as("h"))
      df.as[Long].head() == expected.toLong
    }
    check(prop, tests = 12)
  }

  test("property: sparse dot equals dense dot restricted to kept dims") {
    import graft.search.SparseVec
    // full topN (= dim) so nothing is cut: the posting-join score must
    // equal the plain dot product over the positive-positive dims
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-3.0f, 3.0f))
    val prop = Prop.forAll(vecGen, vecGen) { (a, b) =>
      val corpus = Seq((1L, a.toArray)).toDF("id", "vec")
      val query = Seq((0L, b.toArray)).toDF("id", "vec")
      val got = SparseVec.search(
          SparseVec.postings(corpus, "id", "vec", topN = 8),
          SparseVec.postings(query, "id", "vec", topN = 8), "id", k = 1)
        .select("score").as[Double].collect().headOption
      val expected = a.zip(b).collect {
        case (x, y) if x > 0 && y > 0 =>
          roundLikeSpark(x.toDouble) * roundLikeSpark(y.toDouble)
      }.sum
      if (expected == 0.0) got.isEmpty || got.contains(0.0)
      else got.contains(roundLikeSpark(expected))
    }
    check(prop, tests = 15)
  }

  test("property: phrase anchor search equals sliding-window counts on " +
      "random token streams") {
    import graft.search.Phrase
    // tiny vocab so phrases (incl. repeated-term ones) actually occur
    val tokGen = Gen.oneOf("a", "b", "c")
    val docGen = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, tokGen))
    val corpusGen = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, docGen)).map(_.zipWithIndex.map {
      case (toks, i) => (i.toLong, toks.mkString(" "))
    })
    val phraseGen = Gen.chooseNum(1, 3).flatMap(m => Gen.listOfN(m, tokGen))
    var tag = 0
    val prop = Prop.forAll(corpusGen, phraseGen) { (corpus, phrase) =>
      tag += 1
      val idx = s"/tmp/graft_test_phrase_prop_$tag"
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      Phrase.build(corpus.toDF("doc_id", "text"), "doc_id", "text", idx)
      val got = Phrase.topK(spark, idx, phrase, k = 100)
        .as[(Long, Long)].collect().toMap
      val want = corpus.map { case (id, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
        val n = (0 to toks.length - phrase.length)
          .count(i => toks.slice(i, i + phrase.length) == phrase)
        (id, n.toLong)
      }.filter(_._2 > 0).toMap
      got == want
    }
    check(prop, tests = 15)
  }
}
