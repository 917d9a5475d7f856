package graft.search

import graft.functions.VectorFunctions
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Product quantization (Jégou, Douze & Schmid 2011; FAISS's PQ family —
  * the Milvus IVF_PQ index the reference could have chosen at
  * src/app.py:105-111 instead of IVF_FLAT): the vector space is split
  * into `m` subspaces, each quantized by its OWN small KMeans codebook,
  * so a dim-64 float vector stores as m=8 nibble codes — a 32× footprint
  * cut (vs SQ8's 4×, [[Quantize]]) at the cost of per-subspace
  * distortion. Search uses the ADC trick (asymmetric distance
  * computation): the query precomputes an m×k lookup table of exact
  * subspace distances, and every corpus vector's approximate distance is
  * m table lookups summed — per-row codegen map work with NO vector
  * arithmetic in the scan, followed by the same exact-rerank contract as
  * [[Quantize.sq8RerankSearch]] (approximation costs candidate recall,
  * never final-distance exactness).
  *
  * Determinism: per-subspace KMeans is seeded (seed + subspace), codes
  * are argmin with a (distance, code) lexicographic tie-break, and the
  * codebooks are handed off as parquet — so the DuckDB oracle replays
  * encoding, the ADC table, and the rerank byte-for-byte.
  *
  * Scale shape: build = m small KMeans fits + one encode pass (the codes
  * table is the build-once artifact scans run over); search touches the
  * 8-byte codes, not the vectors, and only the k·margin candidates ever
  * join back to full precision.
  */
object Pq {
  final case class Model(indexDir: String, m: Int, kCodes: Int, dsub: Int,
                         codebooks: Array[Array[Array[Float]]])

  def codebooksDir(indexDir: String): String = s"$indexDir/codebooks"
  def codesDir(indexDir: String): String = s"$indexDir/codes"

  /** Fit `m` subspace codebooks (KMeans(kCodes) per slice), encode the
    * corpus, and write both as parquet artifacts. Each subspace fit
    * trains on the same deterministic hash sample of at most
    * ~`trainSampleCap` rows ([[TrainSample.forFit]]); the encode pass
    * always covers the full corpus. */
  def build(df: DataFrame, vecCol: String, idCol: String, indexDir: String,
            m: Int = 8, kCodes: Int = 16, dim: Int = 64,
            seed: Long = 42L, maxIter: Int = 20,
            trainSampleCap: Long = TrainSample.DefaultCap): Model = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val spark = df.sparkSession
    import spark.implicits._
    val dsub = dim / m
    val fitDf = TrainSample.forFit(df, vecCol, df.count(), trainSampleCap,
      kCodes)
    val codebooks = (0 until m).map { sub =>
      val sliced = fitDf.select(
        array_to_vector(slice(col(vecCol), sub * dsub + 1, dsub)).as("__mlvec"))
      val km = new KMeans().setK(kCodes).setSeed(seed + sub).setMaxIter(maxIter)
        .setFeaturesCol("__mlvec").setPredictionCol("__c")
      km.fit(sliced).clusterCenters
        .map(_.toArray.map(_.toFloat))
    }.toArray
    codebooks.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (c, code) => (sub, code, c.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(codebooksDir(indexDir))
    val model = Model(indexDir, m, kCodes, dsub, codebooks)
    df.select(col(idCol), encodeExpr(col(vecCol), model).as("codes"))
      .write.mode("overwrite").parquet(codesDir(indexDir))
    model
  }

  /** Load a previously built model's codebooks, cached by the
    * codebooks dir's stat fingerprint ([[graft.core.Artifacts.StatCache]]):
    * the codebooks are a one-file table many entries re-load per serving
    * pass; a rebuild flips the fingerprint, and the warm path runs no
    * Spark job. */
  def load(spark: SparkSession, indexDir: String): Model = {
    val cbDir = codebooksDir(indexDir)
    modelCache(spark, cbDir) {
      val rows = spark.read.schema(codebooksSchema).parquet(cbDir).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
      val m = rows.map(_._1).max + 1
      val kCodes = rows.map(_._2).max + 1
      val cbs = Array.ofDim[Array[Float]](m, kCodes)
      rows.foreach { case (s, c, v) => cbs(s)(c) = v }
      Model(indexDir, m, kCodes, cbs.head.head.length, cbs.map(_.toArray))
    }
  }

  private val modelCache = new graft.core.Artifacts.StatCache[Model]

  private val codebooksSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("sub",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("code",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("centroid",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))))

  /** Per-subspace argmin code assignment as ONE map-side expression:
    * array-of-structs lexicographic min per subspace (the
    * [[IvfIndex.append]] argmin shape, m times over slices). */
  def encodeExpr(vec: Column, model: Model): Column =
    array((0 until model.m).map { sub =>
      val s = slice(vec, sub * model.dsub + 1, model.dsub)
      array_min(array(model.codebooks(sub).zipWithIndex.map { case (c, code) =>
        struct(VectorFunctions.l2Sq(s, typedlit(c.toSeq)).as("d"),
          lit(code).as("code"))
      }: _*)).getField("code")
    }: _*)

  /** ADC lookup table for a query: exact double L2² of each query slice
    * against each codebook centroid, flattened [sub × kCodes]. */
  def adcTable(model: Model, query: Array[Float]): Array[Double] = {
    val lut = new Array[Double](model.m * model.kCodes)
    for (sub <- 0 until model.m; code <- 0 until model.kCodes) {
      var acc = 0.0
      var i = 0
      while (i < model.dsub) {
        val d = query(sub * model.dsub + i).toDouble -
          model.codebooks(sub)(code)(i).toDouble
        acc += d * d
        i += 1
      }
      lut(sub * model.kCodes + code) = acc
    }
    lut
  }

  /** Two-stage PQ search: ADC over the codes artifact (m lookups + adds
    * per row, rounded for cross-engine rank stability) → top-(k·margin)
    * candidates → exact rerank against full precision (broadcast of the
    * candidate set only). */
  /** The ADC distance of a `codes` row to `query` as one map-side
    * expression: m lookups into the flattened table, summed, rounded. */
  def adcExpr(model: Model, query: Array[Float]): Column = {
    val lutLit = typedlit(adcTable(model, query).toSeq)
    val kc = model.kCodes
    round(aggregate(sequence(lit(0), lit(model.m - 1)), lit(0.0),
      (acc, s) => acc +
        element_at(lutLit, (s * kc + element_at(col("codes"), s + 1) + 1)
          .cast("int"))), 4)
  }

  /** Pre-rerank ADC candidate tier: the top-`n` codes rows by rounded
    * lookup-table distance — the set whose recall `index_recall_report`
    * measures (rerank quality cannot recover what this cut drops). */
  def adcCandidates(spark: SparkSession, model: Model, idCol: String,
                    query: Array[Float], n: Int): DataFrame =
    graft.core.Artifacts.readStatCached(spark, codesDir(model.indexDir))
      .withColumn("approx_distance", adcExpr(model, query))
      .orderBy(col("approx_distance").asc, col(idCol).asc)
      .limit(n)
      .select(col(idCol), col("approx_distance"))

  def adcSearch(spark: SparkSession, model: Model, full: DataFrame,
                vecCol: String, idCol: String, query: Array[Float],
                k: Int, margin: Int = 4): DataFrame = {
    val cand = adcCandidates(spark, model, idCol, query, k * margin)
    val qlit = typedlit(query.toSeq)
    broadcast(cand)
      .join(full.select(col(idCol), col(vecCol)), Seq(idCol))
      .withColumn("distance", round(VectorFunctions.l2Sq(col(vecCol), qlit), 4))
      .select(col(idCol), col("approx_distance"), col("distance"))
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
  }
}
