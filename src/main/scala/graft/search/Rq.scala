package graft.search

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Two-level residual quantization (RVQ: Chen, Guan & Wang 2010; the
  * additive-quantization family of Babenko & Lempitsky 2014; shipped as
  * Faiss's ResidualQuantizer / IVF-RQ) — the remaining quantizer SHAPE
  * next to scalar ([[Quantize]] SQ8) and product ([[Pq]]): a level-1
  * codebook approximates the vector, a level-2 codebook approximates
  * what level 1 MISSED, and the stored code is the pair (c1, c2) with
  * reconstruction v̂ = C1[c1] + C2[c2]. With k1 = k2 = 32 a dim-64
  * float vector stores as two 5-bit codes — k1·k2 = 1024 effective
  * cells from 64 trained centroids, which is the additive family's
  * whole trick: expressiveness multiplies while training cost adds.
  *
  * Search uses the additive ADC: the query precomputes the k1·k2 table
  * of exact cell distances ‖q − C1[a] − C2[b]‖² (driver-side, bounded
  * by plan constants), and each codes row is ONE flattened-table lookup
  * — even cheaper than PQ's m lookups — followed by the standard exact
  * rerank (approximation costs candidate recall, never final-distance
  * exactness).
  *
  * Determinism & oracle discipline (the [[Pq]] contract): both KMeans
  * fits are seeded and train on the deterministic hash sample
  * ([[TrainSample.forFit]]); the FITS are opaque (codebooks are staged
  * float artifacts), but ENCODING is pure double arithmetic vs the
  * staged floats — slot-order double accumulation, (distance, code)
  * lexicographic argmin — so the DuckDB oracle replays both argmin
  * levels, the ADC table, the candidate cut and the rerank exactly.
  *
  * Scale shape: build = 2 small fits + one encode pass; the codes
  * artifact is ~2 bytes/row; search scans codes with one codegen
  * lookup per row and joins only k·margin candidates back to floats. */
object Rq {
  final case class Model(indexDir: String, k1: Int, k2: Int,
                         cb1: Array[Array[Float]], cb2: Array[Array[Float]])

  def codebooksDir(indexDir: String): String = s"$indexDir/codebooks"
  def codesDir(indexDir: String): String = s"$indexDir/codes"

  /** Slot-order double L2² of a vector column vs a float-array literal —
    * the exact arithmetic the oracle's list_transform replays
    * ((CAST x) − (CAST c))², summed ascending). */
  private def distExpr(vec: Column, c: Array[Float]): Column =
    aggregate(zip_with(vec, typedlit(c.toSeq), (x, y) => {
      val d = x.cast("double") - y.cast("double")
      d * d
    }), lit(0.0), (acc, v) => acc + v)

  /** (distance, code) lexicographic argmin over a codebook. */
  private def argminExpr(vec: Column, cb: Array[Array[Float]]): Column =
    array_min(array(cb.zipWithIndex.map { case (c, code) =>
      struct(distExpr(vec, c).as("d"), lit(code).as("code"))
    }: _*)).getField("code")

  /** The double-precision residual of `vec` against its assigned
    * level-1 centroid (2-D literal lookup — k1 · dim floats). */
  private def residualExpr(vec: Column, c1: Column,
                           cb1: Array[Array[Float]]): Column = {
    val cbLit = typedlit(cb1.map(_.toSeq).toSeq)
    zip_with(vec, element_at(cbLit, c1 + 1),
      (x, y) => x.cast("double") - y.cast("double"))
  }

  private def fitCodebook(df: DataFrame, vecCol: String, k: Int,
                          seed: Long, maxIter: Int): Array[Array[Float]] = {
    val km = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__mlvec").setPredictionCol("__c")
    km.fit(df.select(array_to_vector(col(vecCol)).as("__mlvec")))
      .clusterCenters.map(_.toArray.map(_.toFloat))
  }

  /** Fit both levels, encode the corpus, write codes + codebooks
    * (codebooks rows: (level, code, centroid) — level 1 approximates
    * the vector, level 2 the residual). */
  def build(df: DataFrame, vecCol: String, idCol: String, indexDir: String,
            k1: Int = 32, k2: Int = 32, seed: Long = 42L, maxIter: Int = 20,
            trainSampleCap: Long = TrainSample.DefaultCap): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = df.count()
    val fitDf = TrainSample.forFit(df, vecCol, n, trainSampleCap, k1)
    val cb1 = fitCodebook(fitDf, vecCol, k1, seed, maxIter)
    // level-2 training set: the SAME sampled rows' residuals (float is
    // fine here — the fit is opaque to the oracle; encoding below is
    // double vs the staged floats)
    val residFit = fitDf.select(
      residualExpr(col(vecCol), argminExpr(col(vecCol), cb1), cb1)
        .cast("array<float>").as("__resid"))
    val cb2 = fitCodebook(residFit, "__resid", k2, seed + 1, maxIter)
    (cb1.zipWithIndex.map { case (c, code) => (1, code, c.toSeq) } ++
      cb2.zipWithIndex.map { case (c, code) => (2, code, c.toSeq) }).toSeq
      .toDF("level", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(codebooksDir(indexDir))
    val model = Model(indexDir, k1, k2, cb1, cb2)
    encode(df, vecCol, idCol, model)
      .write.mode("overwrite").parquet(codesDir(indexDir))
    model
  }

  /** Encode rows to (id, c1, c2) — one map-side pass, both argmins. */
  def encode(df: DataFrame, vecCol: String, idCol: String,
             model: Model): DataFrame =
    df.select(col(idCol), col(vecCol),
        argminExpr(col(vecCol), model.cb1).as("c1"))
      .select(col(idCol), col("c1"),
        argminExpr(residualExpr(col(vecCol), col("c1"), model.cb1),
          model.cb2).as("c2"))

  def load(spark: SparkSession, indexDir: String): Model = {
    // cached by the codebooks dir's stat fingerprint: rq entries load
    // the codebooks per serving pass, and only a rebuild rewrites them
    val cbDir = codebooksDir(indexDir)
    modelCache(spark, cbDir) {
      val rows = spark.read.schema(codebooksSchema).parquet(cbDir).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
      val cb1 = rows.filter(_._1 == 1).sortBy(_._2).map(_._3)
      val cb2 = rows.filter(_._1 == 2).sortBy(_._2).map(_._3)
      Model(indexDir, cb1.length, cb2.length, cb1, cb2)
    }
  }

  private val modelCache = new graft.core.Artifacts.StatCache[Model]

  private val codebooksSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("level",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("code",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("centroid",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))))

  /** The flattened k1·k2 additive ADC table for a query: exact double
    * cell distances ‖q − C1[a] − C2[b]‖², slot-order accumulation —
    * ((q − c1) − c2)², the order the oracle mirrors. */
  def adcTable(model: Model, query: Array[Float]): Array[Double] = {
    val dim = query.length
    val lut = new Array[Double](model.k1 * model.k2)
    for (a <- 0 until model.k1; b <- 0 until model.k2) {
      var acc = 0.0
      var i = 0
      while (i < dim) {
        val d = (query(i).toDouble - model.cb1(a)(i).toDouble) -
          model.cb2(b)(i).toDouble
        acc += d * d
        i += 1
      }
      lut(a * model.k2 + b) = acc
    }
    lut
  }

  /** A codes row's approximate distance: ONE lookup into the flattened
    * table, rounded for cross-engine rank stability. */
  def adcExpr(model: Model, query: Array[Float]): Column =
    round(element_at(typedlit(adcTable(model, query).toSeq),
      (col("c1") * model.k2 + col("c2") + 1).cast("int")), 4)

  /** Pre-rerank ADC candidate tier: top-`n` codes rows by the rounded
    * lookup distance — the set whose recall `rq_recall_report`
    * measures. */
  def adcCandidates(spark: SparkSession, model: Model, idCol: String,
                    query: Array[Float], n: Int): DataFrame =
    graft.core.Artifacts.readStatCached(spark, codesDir(model.indexDir))
      .withColumn("approx_distance", adcExpr(model, query))
      .orderBy(col("approx_distance").asc, col(idCol).asc)
      .limit(n)
      .select(col(idCol), col("approx_distance"))

  /** Two-stage RQ search: ADC over the codes artifact → top-(k·margin)
    * → exact rerank (broadcast of the candidate set only). */
  def adcSearch(spark: SparkSession, model: Model, full: DataFrame,
                vecCol: String, idCol: String, query: Array[Float],
                k: Int, margin: Int = 4): DataFrame = {
    val cand = adcCandidates(spark, model, idCol, query, k * margin)
    val qlit = typedlit(query.toSeq)
    broadcast(cand)
      .join(full.select(col(idCol), col(vecCol)), Seq(idCol))
      .withColumn("distance",
        round(graft.functions.VectorFunctions.l2Sq(col(vecCol), qlit), 4))
      .select(col(idCol), col("approx_distance"), col("distance"))
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
  }
}
