package graft

import graft.ingest.HashingEmbedder
import graft.search.{Knn, MultiStrategy, TextSearch}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

import scala.util.Random

/** The fused two-pass `MultiStrategy.search` against the window chain it
  * replaced, copied here verbatim as the oracle: identical rows in
  * identical order, and an identical schema, on seeded inputs that hit
  * every tie-break, cut and null path of the chain. */
class MultiStrategySpec extends SparkSpec {

  /** The four-window chain `MultiStrategy.search` ran before the fusion. */
  private def windowChain(corpus: DataFrame, corpusVec: String,
      corpusId: String, dedupKey: String, strategies: DataFrame, topK: Int,
      scoreThreshold: Double, overFetch: Int = 3,
      roundTo: Int = -1): DataFrame = {
    val subQ = Seq(col("strategy_rank"), col("sub_idx"))
    val byDistance = Window.partitionBy(subQ: _*)
      .orderBy(col("distance").asc, col(corpusId).asc)
    val byScore = Window.partitionBy(subQ: _*)
      .orderBy(col("score").desc, col(corpusId).asc)
    val intraW = Window.partitionBy(col("strategy_rank"))
      .orderBy(col("sub_idx").asc, col("distance").asc, col(corpusId).asc)
    val dedupW = Window.partitionBy(col(dedupKey))
      .orderBy(col("strategy_rank").asc, col("intra_rank").asc)

    val rawDist = Knn.distCol(col(corpusVec), col("qe"))
    corpus.crossJoin(broadcast(strategies))
      .withColumn("distance",
        if (roundTo >= 0) round(rawDist, roundTo) else rawDist)
      .withColumn("fetch_rn", row_number().over(byDistance))
      .where(col("fetch_rn") <= col("k") * overFetch)
      .coalesce(1)
      .withColumn("score", lit(1.0) - col("distance"))
      .where(col("score") >= scoreThreshold)
      .withColumn("q_rn", row_number().over(byScore))
      .where(col("q_rn") <= col("k"))
      .withColumn("intra_rank", row_number().over(intraW))
      .withColumn("dup_rn", row_number().over(dedupW))
      .where(col("dup_rn") === 1)
      .orderBy(col("score").desc, col(corpusId).asc)
      .limit(topK)
      .drop("qe", "fetch_rn", "q_rn", "dup_rn")
  }

  private val vecType = ArrayType(FloatType, containsNull = false)
  private val strategySchema = StructType(Seq(
    StructField("strategy_rank", IntegerType), StructField("sub_idx", IntegerType),
    StructField("k", IntegerType), StructField("qe", vecType)))

  private def corpusDf(idType: DataType, rows: Seq[(Any, Array[Float], Any)],
      partitions: Int, keyType: DataType = StringType): DataFrame = {
    val schema = StructType(Seq(StructField("id", idType),
      StructField("vec", vecType), StructField("dkey", keyType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, v, d) => Row(i, v, d) }, partitions), schema)
  }

  /** Strategies as a local relation or as a distributed table. */
  private def strategiesDf(rows: Seq[(Int, Int, Int, Array[Float])],
      local: Boolean = true): DataFrame = {
    val rs = rows.map { case (r, s, k, v) => Row(r, s, k, v) }
    if (local) spark.createDataFrame(java.util.Arrays.asList(rs: _*), strategySchema)
    else spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), strategySchema)
  }

  private def assertSame(corpus: DataFrame, strategies: DataFrame, topK: Int,
      threshold: Double, overFetch: Int, roundTo: Int, clue: String): Unit = {
    val fused = MultiStrategy.search(corpus, "vec", "id", "dkey", strategies,
      topK, threshold, overFetch, roundTo)
    val oracle = windowChain(corpus, "vec", "id", "dkey", strategies,
      topK, threshold, overFetch, roundTo)
    assert(fused.schema == oracle.schema, clue)
    val (got, want) = (fused.collect().toSeq, oracle.collect().toSeq)
    assert(got == want, s"$clue\nfused  $got\noracle $want")
  }

  // coordinates on a coarse grid: many exactly tied distances, and thirds
  // whose sums only tie once rounded to 4 places
  private val grid = Array(0f, 0.5f, 1f / 3, 2f / 3, 1f, 2f)
  private val keys = Array("a", "b", "c", null)
  // strings whose UTF-8 byte order differs from Java's UTF-16 order
  private val stems = Array("a", "B", "é", "\uFFFD", "😀", "z")

  private def vec(rnd: Random): Array[Float] = Array.fill(2)(grid(rnd.nextInt(grid.length)))

  private def idOf(idType: DataType, i: Int, rnd: Random): Any = idType match {
    case LongType => i.toLong * 7919L - 50000L
    case IntegerType => i * 31 - 100
    case StringType => stems(rnd.nextInt(stems.length)) + i
  }

  test("fused search equals the window chain on seeded random inputs") {
    for (seed <- 1 to 36) {
      val rnd = new Random(seed)
      val idType = Seq(LongType, IntegerType, StringType)(seed % 3)
      val n = rnd.nextInt(14)
      val corpus = rnd.shuffle((0 until n).toList).map { i =>
        (idOf(idType, i, rnd), if (rnd.nextInt(8) == 0) null else vec(rnd),
          keys(rnd.nextInt(keys.length)))
      }
      val subs = (0 until rnd.nextInt(6)).map { s =>
        (1 + rnd.nextInt(3), s, 1 + rnd.nextInt(4), vec(rnd))
      }
      val roundTo = if (rnd.nextBoolean()) 4 else -1
      // thresholds that land exactly on a score (1 − d on the grid), below
      // every score, and in between
      val threshold = Seq(-1e9, 0.0, 1.0 - 0.25, -1.0, 0.5)(rnd.nextInt(5))
      val partitions = if (seed % 2 == 0) 1 else 4 + rnd.nextInt(3)
      assertSame(corpusDf(idType, corpus, partitions),
        strategiesDf(subs, local = seed % 4 < 2),
        topK = 1 + rnd.nextInt(6), threshold, overFetch = 1 + rnd.nextInt(3),
        roundTo, s"seed $seed ($idType, $n rows, ${subs.size} sub-queries, " +
          s"$partitions partitions)")
    }
  }

  test("fused search equals the window chain on the hand-picked edges") {
    val v = (x: Float, y: Float) => Array(x, y)
    // first wins against a better score: id 2 is an exact hit for
    // strategy 2 but shares its key with id 1, found first by strategy 1
    val shared = corpusDf(LongType, Seq((0L, v(0, 0), "x"), (1L, v(1, 0), "dup"),
      (2L, v(5, 5), "dup")), 2)
    assertSame(shared, strategiesDf(Seq((1, 0, 2, v(0, 0)), (2, 1, 1, v(5, 5)))),
      3, -10, 3, -1, "shared dedup key")
    // null keys form one group; null vectors rank first and then fail the
    // threshold; k·overFetch is larger than the corpus
    val nulls = corpusDf(IntegerType, Seq((3, null, null), (1, v(0, 1), null),
      (2, v(1, 1), "k"), (0, null, "k"), (4, v(0, 0), null)), 4)
    assertSame(nulls, strategiesDf(Seq((1, 0, 5, v(0, 0)), (2, 1, 9, v(1, 1)))),
      5, -10, 3, -1, "null keys and vectors")
    // scores exactly at the threshold are kept; equal scores break by id,
    // and string ids compare as UTF-8 bytes ("😀" sorts after "\uFFFD")
    val ids = Seq("😀", "a", "\uFFFD", "é", "B", "z", "😀b", "\uFFFDa")
    val ties = corpusDf(StringType, ids.zipWithIndex.map { case (id, i) =>
      (id, v(i % 2, 0), s"d$i") }, 3)
    assertSame(ties, strategiesDf(Seq((1, 0, 8, v(0, 0)))),
      6, 0.0, 1, 4, "threshold ties")
    // empty strategies and an empty corpus
    for (local <- Seq(true, false))
      assertSame(shared, strategiesDf(Nil, local), 3, -10, 3, -1, "no strategies")
    assertSame(corpusDf(LongType, Nil, 2),
      strategiesDf(Seq((1, 0, 2, v(0, 0)))), 3, -10, 3, -1, "empty corpus")
  }

  test("dedup keys group as Spark partitions them: binary by content, " +
      "-0.0 with 0.0, every NaN with every other") {
    val v = (x: Float, y: Float) => Array(x, y)
    val nan2 = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    val doubles = Seq[Any](0.0, -0.0, Double.NaN, nan2, 1.5, null, 1.5)
    val dbl = corpusDf(LongType, doubles.zipWithIndex.map { case (d, i) =>
      (i.toLong, v(i.toFloat, 0), d) }, 3, DoubleType)
    val bytes = Seq[Any](Array[Byte](1, 2), Array[Byte](1, 2), Array[Byte](),
      null, Array[Byte](3), Array[Byte]())
    val bin = corpusDf(LongType, bytes.zipWithIndex.map { case (b, i) =>
      (i.toLong, v(i.toFloat, 1), b) }, 2, BinaryType)
    val subs = strategiesDf(Seq((1, 0, 3, v(6, 0)), (2, 1, 7, v(0, 0))))
    assertSame(dbl, subs, 7, -100, 3, -1, "double keys")
    assertSame(bin, subs, 7, -100, 3, -1, "binary keys")
  }

  test("the output keeps the strategies' nullability") {
    import spark.implicits._
    // strategies from primitive tuples: strategy_rank, sub_idx and k are
    // non-nullable, and stay so in the output, as in the window chain
    val subs = Seq((1, 0, 2, Array(0f, 0f)), (2, 1, 1, Array(1f, 0f)))
      .toDF("strategy_rank", "sub_idx", "k", "qe")
    val corpus = corpusDf(LongType, Seq((0L, Array(0f, 1f), "a"),
      (1L, Array(1f, 1f), "b")), 2)
    assertSame(corpus, subs, 2, -10, 3, -1, "toDF strategies")
    val q = TextSearch.questionSearch(spark,
      Seq((1L, "spark shuffle partitions"), (2L, "window plans"))
        .toDF("doc_id", "text"),
      "doc_id", "text", "spark shuffle partitions and window plans",
      new HashingEmbedder(16), topK = 2, scoreThreshold = -1.0).schema
    for (c <- Seq("doc_id", "strategy_rank", "sub_idx", "k", "intra_rank"))
      assert(!q(c).nullable, s"questionSearch column $c became nullable")
  }
}
