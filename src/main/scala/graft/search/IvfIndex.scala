package graft.search

import graft.core.Artifacts
import graft.functions.VectorFunctions
import org.apache.hadoop.fs.Path
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** IVF (inverted-file) vector index — the Spark-native replacement for the
  * reference's Milvus IVF_FLAT index (src/app.py:105-111: nlist=128, L2;
  * probe nprobe=20 at src/app.py:253).
  *
  * Design (SURVEY §4.2): the coarse quantizer is MLlib KMeans; every vector
  * is assigned its nearest centroid's `cluster_id`; the corpus is written
  * `partitionBy("cluster_id")`. A search ranks the (tiny, driver-side)
  * centroid table against the query and reads ONLY the nprobe nearest
  * partitions — Parquet partition pruning IS the index probe. Within the
  * probed partitions the scan is exact squared-L2 + TakeOrderedAndProject.
  *
  * Scale: at 100 TB with nlist=1024 and nprobe=32, a query touches ~3% of
  * the data, embarrassingly parallel across the probed partitions' files;
  * the centroid ranking is O(nlist·dim) on the driver. Recall is tunable
  * via nprobe, and nprobe=nlist degrades gracefully to exact search (how
  * the oracle pins correctness; partial-probe recall is spec'd in tests).
  */
object IvfIndex {
  final case class Model(indexDir: String, nlist: Int,
                         centroids: Array[(Int, Array[Float])])

  def dataDir(indexDir: String): String = s"$indexDir/data"
  def centroidsDir(indexDir: String): String = s"$indexDir/centroids"

  /** Fit KMeans(nlist) on `vecCol`, assign cluster ids, write the corpus
    * partitioned by cluster_id plus a centroids table. Deterministic under
    * a fixed seed. The fit trains on a deterministic hash sample of at
    * most ~`trainSampleCap` rows ([[TrainSample.forFit]] — corpora at or
    * under the cap train on everything); ASSIGNMENT always covers the
    * full corpus, so the cap changes build cost, never coverage. */
  def build(df: DataFrame, vecCol: String, indexDir: String, nlist: Int,
            seed: Long = 42L, maxIter: Int = 20,
            trainSampleCap: Long = TrainSample.DefaultCap): Model = {
    val spark = df.sparkSession
    val withVec = df.withColumn("__mlvec", array_to_vector(col(vecCol)))
    val km = new KMeans()
      .setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__mlvec").setPredictionCol("cluster_id")
    val model = km.fit(
      TrainSample.forFit(withVec, vecCol, df.count(), trainSampleCap, nlist))
    val rows = model.transform(withVec).drop("__mlvec")
    rows.write.mode("overwrite").partitionBy("cluster_id")
      .parquet(dataDir(indexDir))
    // a read takes the partition column's nullability and metadata from
    // the pinned schema (data columns come back nullable regardless), so
    // `cluster_id` is pinned plain, without the prediction's ML metadata
    Artifacts.writeSchema(spark, dataDir(indexDir), StructType(rows.schema
      .map(f => if (f.name == "cluster_id") StructField(f.name, f.dataType)
        else f)))
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
    import spark.implicits._
    centroids.toSeq.toDF("cluster_id", "centroid")
      .write.mode("overwrite").parquet(centroidsDir(indexDir))
    val m = Model(indexDir, nlist, centroids)
    // covering radii are a MAINTAINED invariant, not a caller-managed
    // refresh: written at build, folded forward by append/upsertBatch,
    // recomputed by rebalance — so range/exact-via-IVF serving never
    // over-prunes after normal maintenance (the staleness hazard the
    // scaladoc on clusterRadiiTable documents). One extra linear pass
    // over the just-written layout, build-time only. A rebuild over a
    // pre-sidecar index drops its radii table with the rest.
    refreshRadii(spark, m, vecCol)
    val legacy = new Path(legacyRadiiDir(indexDir))
    legacy.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(legacy, true)
    m
  }

  /** Recompute and store the covering radii from the CURRENT layout —
    * the manual refresh verb; [[build]] and [[rebalance]] call it,
    * [[append]]/[[upsertBatch]] fold incrementally instead (O(batch), no
    * corpus pass). */
  def refreshRadii(spark: SparkSession, model: Model,
                   vecCol: String): Unit =
    writeRadii(spark, model.indexDir,
      clusterRadiiTable(spark, model, vecCol).collect()
        .map(r => (r.getInt(0), r.getDouble(1))).toMap)

  /** The covering radii's sidecar in the index directory: one
    * `cluster_id<TAB>radius` line per cluster, the radius written by
    * `java.lang.Double.toString`, which parses back bit-identical. */
  private[graft] val RadiiFile = "_graft_radii.tsv"

  /** Where an index written before [[RadiiFile]] kept its radii, as a
    * parquet table. Such an index is refused, not migrated. */
  private def legacyRadiiDir(indexDir: String): String = s"$indexDir/radii"

  /** Store `radii` as the index's [[RadiiFile]]: one overwrite rename
    * ([[Artifacts.writeSidecar]]), so a reader sees the old map or the
    * new one, and a crashed write leaves the old one serving. */
  private[graft] def writeRadii(spark: SparkSession, indexDir: String,
                                radii: Map[Int, Double]): Unit =
    Artifacts.writeSidecar(spark, indexDir, RadiiFile,
      radii.toSeq.sortBy(_._1)
        .map { case (c, r) => s"$c\t${java.lang.Double.toString(r)}\n" }
        .mkString)

  /** The stored covering radii — a file read, no Spark job, nothing
    * mutated. None on an index built before radii existed (nothing
    * stored, so nothing prunes); an index whose radii sit in the
    * pre-sidecar [[legacyRadiiDir]] fails here, on its first use. */
  private[search] def storedRadii(spark: SparkSession,
                                  indexDir: String): Option[Map[Int, Double]] =
    Artifacts.readSidecar(spark, indexDir, RadiiFile) match {
      case Some(text) => Some(text.linesIterator.filter(_.nonEmpty).map { l =>
        val tab = l.indexOf('\t')
        (l.substring(0, tab).toInt,
          java.lang.Double.parseDouble(l.substring(tab + 1)))
      }.toMap)
      case None =>
        val legacy = new Path(legacyRadiiDir(indexDir))
        if (legacy.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(legacy))
          throw new IllegalStateException(s"IVF index $indexDir keeps its " +
            s"covering radii in $legacy, a layout this version no longer " +
            "reads; rebuild the index (IvfIndex.build)")
        None
    }

  /** The stored covering radii, or an empty map when never written (a
    * pre-radii index): an absent radius is NEVER used to prune, so the
    * fallback is slow-but-exact, not wrong. */
  def loadRadii(spark: SparkSession, indexDir: String): Map[Int, Double] =
    storedRadii(spark, indexDir).getOrElse(Map.empty)

  /** [[loadRadii]] as a local (cluster_id, radius) frame, cluster-id
    * ascending — for plans that join the radii. */
  def radiiFrame(spark: SparkSession, indexDir: String): DataFrame = {
    import spark.implicits._
    loadRadii(spark, indexDir).toSeq.sortBy(_._1).toDF("cluster_id", "radius")
  }

  /** Fold an assigned batch (`__nc` = its [[nearestCentroid]] struct)
    * into the stored radii: radius'(c) = max(radius(c), max over batch
    * rows assigned to c of d(row, centroid_c)) — the append-time
    * discipline that keeps the stored radii UPPER bounds under normal
    * operation. ONE job: each partition folds its rows into at most
    * nlist (cluster, max squared distance) pairs, and the driver merges
    * them into the stored map. Max follows Spark's double ordering (NaN
    * largest) and skips nulls, as the aggregate it replaces did. */
  private def foldRadii(assigned: DataFrame,
                        stored: Map[Int, Double]): Map[Int, Double] = {
    val batchMax = assigned
      .select(col("__nc.cluster_id"), col("__nc.d"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val m = scala.collection.mutable.HashMap.empty[Int, Double]
        rows.filterNot(_.isNullAt(1)).foreach { r =>
          val (c, d) = (r.getInt(0), r.getDouble(1))
          if (m.get(c).forall(java.lang.Double.compare(d, _) > 0)) m(c) = d
        }
        m.iterator
      }.collect()
    batchMax.foldLeft(stored) { case (acc, (c, d)) =>
      val r = math.sqrt(d)
      if (acc.get(c).forall(java.lang.Double.compare(r, _) > 0))
        acc.updated(c, r)
      else acc
    }
  }

  /** Land a batch in the layout: assign each row its nearest centroid,
    * fold the batch into the stored radii, then append the rows (with
    * `__ver` = `ver` when given), partitioned by cluster. The fold runs
    * BEFORE the data append: an enlarged radius whose rows never landed
    * only weakens pruning; the reverse order is exactly the
    * append-then-crash over-prune hazard the fold closes. A pre-radii
    * index skips the fold; a pre-sidecar one fails before anything is
    * written. The schema is pinned next ([[pinFor]]). The assigned batch
    * is persisted across its two passes, so the input is evaluated once;
    * that memory is bounded by the batch and released before
    * returning. */
  private def land(batch: DataFrame, vecCol: String, model: Model,
                   ver: Option[Long]): Unit = {
    val spark = batch.sparkSession
    val stored = storedRadii(spark, model.indexDir)
    pinFor(batch, model.indexDir, versioned = ver.isDefined)
    val assigned = batch.withColumn("__nc", nearestCentroid(model, vecCol))
    stored.foreach(_ => assigned.persist())
    try {
      stored.foreach(r =>
        writeRadii(spark, model.indexDir, foldRadii(assigned, r)))
      val rows = assigned
        .withColumn("cluster_id", col("__nc.cluster_id")).drop("__nc")
      ver.fold(rows)(v => rows.withColumn("__ver", lit(v)))
        .write.mode("append").partitionBy("cluster_id")
        .parquet(dataDir(model.indexDir))
    } finally if (stored.isDefined) assigned.unpersist()
  }

  /** Incremental index maintenance: assign NEW vectors to their nearest
    * EXISTING centroid and append them to the partitioned layout — no
    * re-fit, no rewrite of existing data (standard IVF ingest; Milvus
    * does the same between rebuilds). The assignment is a broadcast of
    * the tiny centroid table against the new batch (codegen'd l2_sq,
    * argmin via a lexicographic struct-min with cluster-id tie-break),
    * so appending N rows costs O(N·nlist·dim) map work plus a
    * partitioned write. Quantization drift from frozen centroids only
    * affects recall at partial nprobe, never correctness of what is
    * stored; rebuild when drift matters. */
  def append(newDf: DataFrame, vecCol: String, model: Model): Unit = {
    // covering-radius fold first (see [[land]]) — the stored radii stay
    // upper bounds through appends, so range/exact serving needs no
    // manual refresh
    land(newDf, vecCol, model, None)
  }

  /** The nearest centroid of `vecCol` as a `(d, cluster_id)` struct
    * (d = squared L2): argmin over the centroids as ONE map-side
    * expression — an array of (distance, cluster_id) structs reduced by
    * lexicographic array_min, so ties break to the lower cluster id. No
    * self-join, no generated row ids (a monotonically_increasing_id join
    * would evaluate the id independently per join side and silently
    * mis-assign rows whenever the input isn't order-stable), no row
    * blow-up: assigning N rows is O(N·nlist·dim) inside one projection. */
  private def nearestCentroid(model: Model, vecCol: String): Column =
    array_min(array(model.centroids.map { case (i, c) =>
      struct(
        VectorFunctions.l2Sq(col(vecCol), typedlit(c.toSeq)).as("d"),
        lit(i).as("cluster_id"))
    }: _*))

  /** Load a previously built index's centroid table. `indexDir` may be
    * an [[AliasedIndex]] ROOT (publish markers present) — the model then
    * binds to the current published version, so every serve path
    * reads a complete immutable layout while maintenance builds the
    * next one ([[AliasedIndex.maintain]]); a flat legacy dir loads
    * unchanged. */
  def load(spark: SparkSession, indexDir: String): Model = {
    val dir = AliasedIndex.resolveDir(spark, indexDir)
    // Model cache keyed by the centroids dir's stat fingerprint: many
    // serve paths load a model per call, and each load would otherwise
    // pay a footer-inference job plus a collect for a table that almost
    // never changes. Any rebuild/rebalance that rewrites the centroids
    // misses the cache and reloads; an aliased root additionally
    // changes `dir` itself on publish.
    modelCache(spark, centroidsDir(dir)) {
      val centroids = spark.read.schema(centroidsSchema)
        .parquet(centroidsDir(dir))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      Model(dir, centroids.length, centroids)
    }
  }

  private val modelCache = new Artifacts.StatCache[Model]

  private val centroidsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cluster_id",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("centroid",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))))

  /** The data layout's scan — the one read of [[dataDir]], for serving
    * ([[liveSlice]]) and every maintenance/audit/report read alike. Its
    * schema is the one the layout's writers pinned ([[dataSchema]]), so
    * the read runs no inference job, and a file written before a column
    * existed reads that column as null. */
  private[graft] def readData(spark: SparkSession,
                              indexDir: String): DataFrame =
    spark.read.schema(dataSchema(spark, indexDir)).parquet(dataDir(indexDir))

  /** The layout's schema as pinned in [[dataDir]]'s
    * [[Artifacts.SchemaFile]]: [[build]] pins the columns it wrote,
    * [[upsertBatch]] adds a nullable `__ver` before its first versioned
    * append, [[compactVersions]] drops it again. The layout is
    * VERSIONED exactly when this schema has `__ver`. A layout written
    * before the sidecar existed reads through [[legacyDataSchema]] until
    * its next writer pins it. */
  private def dataSchema(spark: SparkSession, indexDir: String): StructType =
    Artifacts.readSchema(spark, dataDir(indexDir))
      .getOrElse(legacyDataSchema(spark, indexDir))

  /** An unpinned layout's schema, inferred from EVERY footer: only
    * upsert-written files carry `__ver`, so one footer cannot answer. */
  private def legacyDataSchema(spark: SparkSession,
                               indexDir: String): StructType =
    spark.read.option("mergeSchema", "true").parquet(dataDir(indexDir)).schema

  /** The schema a writer works to: the pinned one, or for an unpinned
    * layout the [[legacyDataSchema]], which this pins. */
  private def writerSchema(spark: SparkSession,
                           indexDir: String): StructType =
    Artifacts.readSchema(spark, dataDir(indexDir)).getOrElse {
      val s = legacyDataSchema(spark, indexDir)
      Artifacts.writeSchema(spark, dataDir(indexDir), s)
      s
    }

  /** Run before a batch lands: a batch column the layout lacks fails
    * loudly, and a `versioned` write adds a nullable `__ver` to the
    * pinned schema first. Pinning `__ver` BEFORE the rows that carry it
    * keeps a crash safe: a sidecar naming a `__ver` no file has reads it
    * as null, and the layout serves plain. The reverse order would leave
    * versioned rows served without the latest-wins overlay. */
  private def pinFor(batch: DataFrame, indexDir: String,
                     versioned: Boolean): Unit = {
    val spark = batch.sparkSession
    val pinned = writerSchema(spark, indexDir)
    val extra = batch.columns.filterNot(pinned.fieldNames.contains)
    require(extra.isEmpty, s"IVF layout ${dataDir(indexDir)} has no " +
      s"column ${extra.mkString(", ")}; its schema is ${pinned.simpleString}")
    if (versioned && !pinned.fieldNames.contains("__ver"))
      Artifacts.writeSchema(spark, dataDir(indexDir),
        pinned.add("__ver", LongType))
  }

  /** Squared L2 in double precision — the driver-side centroid
    * arithmetic of every probe and bound here. */
  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  /** The nprobe nearest centroids to the query — the first `nprobe`
    * entries of [[probeRanks]] (driver-side, O(nlist·dim)). */
  def probeClusters(model: Model, query: Array[Float], nprobe: Int): Seq[Int] =
    probeRanks(model, query).take(nprobe).map(_._1)

  /** Centroid probe order for MIPS serving: DESCENDING centroid inner
    * product, id tie-break (the IVF-IP discipline — the list whose
    * centroid has the largest ⟨c, q⟩ most plausibly holds the
    * large-IP members; same k-means partition of the corpus as
    * [[probeClusters]], a different ranking functional over it). */
  def probeClustersIp(model: Model, query: Array[Float],
                      nprobe: Int): Seq[Int] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    model.centroids.sortBy { case (id, c) => (-dot(c, query), id) }
      .take(nprobe).map(_._1).toSeq
  }

  /** Centroid ranks for a query: every cluster_id with its 1-based rank
    * by (raw double L2, id) — the probe order, exposed so the tuning
    * plan can express "rank ≤ nprobe" declaratively. */
  def probeRanks(model: Model, query: Array[Float]): Seq[(Int, Int)] =
    model.centroids.sortBy { case (id, c) => (l2(c, query), id) }
      .zipWithIndex.map { case ((id, _), r) => (id, r + 1) }.toSeq

  /** Recall-vs-nprobe curve and the smallest probe count reaching
    * `targetRecall` — the tuning loop every IVF deployment runs before
    * fixing its serving nprobe (Faiss's `nprobe` sweep; Milvus exposes
    * the same knob). ONE declarative plan: the query set's distances
    * are computed once, exact top-k per query is one window, and every
    * probed tier is the same ranking restricted by "centroid rank ≤
    * nprobe" (a bounded broadcast of the tiny rank/nprobe tables) —
    * not a per-nprobe re-scan. At 100 TB the same plan runs over a
    * hash-sampled query set; recall against the exact top-k needs the
    * exact ranking anyway, which is why tuning is a build-time, not
    * serve-time, cost. Returns (nprobe, n_queries, recall, chosen),
    * nprobe-ascending; `chosen` marks the smallest nprobe with recall ≥
    * target (falling back to the largest probed). */
  def nprobeCurve(spark: SparkSession, model: Model, vecCol: String,
                  idCol: String, queries: Seq[(Long, Array[Float])],
                  k: Int, nprobes: Seq[Int],
                  targetRecall: Double): DataFrame = {
    require(queries.nonEmpty && nprobes.nonEmpty)
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val data = readData(spark, model.indexDir)
    val qdf = queries.map { case (qid, qv) => (qid, qv.toSeq) }
      .toDF("qid", "qv")
    val ranks = queries.flatMap { case (qid, qv) =>
      probeRanks(model, qv).map { case (cid, r) => (qid, cid, r) }
    }.toDF("qid", "cluster_id", "crank")
    val scored = data.crossJoin(broadcast(qdf))
      .withColumn("d",
        round(VectorFunctions.l2Sq(col(vecCol), col("qv")), 4))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("d").asc, col(idCol).asc)
    val exact = scored.withColumn("rn", row_number().over(wq))
      .where(col("rn") <= k).select(col("qid"), col(idCol))
    val np = nprobes.toDF("nprobe")
    val wqn = Window.partitionBy(col("qid"), col("nprobe"))
      .orderBy(col("d").asc, col(idCol).asc)
    val candk = scored
      .join(broadcast(ranks), Seq("qid", "cluster_id"))
      .join(broadcast(np), col("crank") <= col("nprobe"))
      .withColumn("rn", row_number().over(wqn))
      .where(col("rn") <= k)
      .select(col("qid"), col("nprobe"), col(idCol))
    val denom = (k * queries.size).toDouble
    val rec = broadcast(np).crossJoin(exact)
      .join(candk.withColumn("hit", lit(1)),
        Seq("nprobe", "qid", idCol), "left")
      .groupBy(col("nprobe"))
      .agg(round(count(col("hit")) / denom, 4).as("recall"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    val chosen = rec.find(_._2 >= targetRecall).map(_._1)
      .getOrElse(rec.last._1)
    spark.createDataFrame(rec.toSeq.map { case (npv, r) =>
      (npv.toLong, queries.size.toLong, r, npv == chosen)
    }).toDF("nprobe", "n_queries", "recall", "chosen")
      .orderBy(col("nprobe").asc)
  }

  /** Bulk IVF serving — a BATCH of queries as ONE declarative plan (the
    * tag-N-incoming-vectors shape [[nprobeCurve]] already uses for
    * tuning, promoted to an operator; the graph family's
    * [[GraphAnn.bulkBeamSearch]] twin for this index): each query's
    * nprobe nearest centroids are ranked driver-side (O(|queries|·
    * nlist·dim), the same arithmetic as [[probeClusters]]) into a tiny
    * (qid, cluster_id) restriction table; the data scan is pruned to
    * the UNION of probed partitions via a pushed `cluster_id IN`
    * (partition pruning, exactly like single-query serve), the
    * restriction and query-vector tables are broadcast, and per-query
    * top-k is one qid-partitioned ranking window. Cost: linear in
    * |queries| at fixed nprobe, corpus-size-independent per query —
    * NOT |queries| separate scans. The scan is [[liveSlice]], like
    * every serve path. Returns
    * (qid, idCol, distance), qid-ascending with the usual tie-breaks. */
  def bulkSearch(spark: SparkSession, model: Model, vecCol: String,
                 idCol: String, queries: Seq[(Long, Array[Float])],
                 k: Int, nprobe: Int): DataFrame = {
    require(queries.nonEmpty, "bulkSearch: empty query batch")
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val probed = queries.flatMap { case (qid, qv) =>
      probeClusters(model, qv, nprobe).map(cid => (qid, cid))
    }
    val ranks = probed.toDF("qid", "cluster_id")
    val allClusters = probed.map(_._2).distinct
    val qdf = queries.map { case (qid, qv) => (qid, qv.toSeq) }
      .toDF("qid", "qv")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("distance").asc, col(idCol).asc)
    liveSlice(spark, model, idCol)(allClusters)
      .join(broadcast(ranks), Seq("cluster_id"))
      .join(broadcast(qdf), Seq("qid"))
      .withColumn("distance",
        round(VectorFunctions.l2Sq(col(vecCol), col("qv")), 4))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("qid"), col(idCol), col("distance"))
      .orderBy(col("qid").asc, col("distance").asc, col(idCol).asc)
  }

  /** IVF search: partition-pruned scan over the nprobe nearest clusters,
    * exact distance within, global top-k via TakeOrderedAndProject. The
    * scan is [[liveSlice]]: superseded versions and tombstoned rows never
    * reach the ranking — a version-blind plain search would silently
    * serve replaced vectors to whoever reaches for the obvious API. */
  def search(spark: SparkSession, model: Model, vecCol: String, idCol: String,
             query: Array[Float], k: Int, nprobe: Int): DataFrame =
    searchAfter(spark, model, vecCol, idCol, query, k, nprobe, None)

  /** One PAGE of the ranking past a (distance, id) cursor — the
    * search_iterator composed with the IVF probe: the strictly-past
    * predicate (`d > lastD OR (d = lastD AND id > lastId)`, well-
    * defined because distances are rounded and ids unique) applies
    * INSIDE the partition-pruned, masked, latest-wins scan, so a page
    * at any depth costs one pruned scan + a k-row heap — never the
    * offset+k heap OFFSET pagination pays, and the iterator state is
    * one pair. `after = None` is page 1 (≡ [[search]]). */
  def searchAfter(spark: SparkSession, model: Model, vecCol: String,
                  idCol: String, query: Array[Float], k: Int, nprobe: Int,
                  after: Option[(Double, Long)]): DataFrame = {
    val scored = liveSlice(spark, model, idCol)(
        probeClusters(model, query, nprobe))
      .withColumn("distance",
        round(VectorFunctions.l2Sq(col(vecCol), typedlit(query)), 4))
    val paged = after match {
      case Some((d, id)) =>
        scored.where(col("distance") > d ||
          (col("distance") === d && col(idCol) > id))
      case None => scored
    }
    paged.orderBy(col("distance").asc, col(idCol).asc).limit(k)
  }

  /** IVF MIPS serving — the inner-product member of the metric × index
    * matrix for the IVF family (graph has [[GraphAnn.beamSearchMips]],
    * the flat tier [[NormPrune.mipsSearch]]): the probe ranks centroids
    * by [[probeClustersIp]] (⟨c, q⟩ desc), the scan is the same
    * partition-pruned read as [[search]], rows rank by EXACT inner
    * product desc with id tie-breaks. At nprobe = nlist the probe
    * restriction is vacuous and the result is exact MIPS; at partial
    * probe the recall contract is the usual IVF one (a large-IP row in
    * an unprobed list is missed). The scan is [[liveSlice]], like every
    * serve path. Returns
    * (idCol, ip), ip-descending. */
  def searchIp(spark: SparkSession, model: Model, vecCol: String,
               idCol: String, query: Array[Float], k: Int,
               nprobe: Int): DataFrame = {
    liveSlice(spark, model, idCol)(probeClustersIp(model, query, nprobe))
      .withColumn("ip",
        round(VectorFunctions.dot(col(vecCol), typedlit(query)), 4))
      .orderBy(col("ip").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("ip"))
  }

  /** Per-cluster COVERING RADIUS — max L2 distance of a cluster's
    * members to its centroid, the zone-map statistic that turns IVF
    * into an EXACT range-search accelerator: by the triangle
    * inequality any member x of cluster c has
    * d(q, x) ≥ d(q, c) − radius(c), so a cluster with
    * d(q, c) > r + radius(c) cannot contain a point within r and its
    * partition is skipped with NO recall loss. One corpus pass to
    * build. Staleness direction matters: a stored radius is safe only
    * while it UPPER-bounds the true one, and APPENDS/UPSERTS can push
    * a new member past it (over-pruning = wrong answers). Since round
    * 10 that invariant is ENFORCED, not caller-managed: [[build]]
    * stores them ([[writeRadii]]), [[append]]/[[upsertBatch]] fold
    * max(old, d(new, centroid)) in BEFORE their data append, and
    * [[rebalance]] recomputes it — so the stored radii stay upper
    * bounds under every maintenance verb, and
    * [[IndexAudit.radiiChecks]]' `ivf_radius_violations` counter
    * detects a violated one. Deletes and compaction only SHRINK the
    * true radius, so stale-after-delete merely wastes pruning, never
    * breaks it. Returns (cluster_id, radius), nlist rows. */
  def clusterRadiiTable(spark: SparkSession, model: Model,
                        vecCol: String): DataFrame = {
    import spark.implicits._
    val cents = model.centroids.toSeq
      .map { case (id, c) => (id, c.toSeq) }
      .toDF("cluster_id", "__cent")
    readData(spark, model.indexDir)
      .join(broadcast(cents), Seq("cluster_id"))
      .withColumn("__d",
        sqrt(VectorFunctions.l2Sq(col(vecCol), col("__cent"))))
      .groupBy(col("cluster_id"))
      .agg(max(col("__d")).as("radius"))
  }

  /** EXACT range search through the IVF layout (Milvus's range mode
    * served by the index instead of `knn_range_search`'s corpus scan):
    * returns every row with rLo ≤ ‖x−q‖² < rHi, scanning ONLY the
    * clusters the covering-radius bound cannot exclude. `radii` is the
    * collected [[clusterRadiiTable]] (nlist-bounded, the centroid-table
    * handoff discipline); a cluster absent from the map is never
    * pruned (safe default). The 1e-6 slack absorbs float/double drift
    * between the stored radii and the driver-side probe arithmetic —
    * pruning stays conservative, exactness survives. The scan is
    * [[liveSlice]], as on every serve path. */
  /** [[rangeSearch]] against the index's OWN maintained radii
    * ([[loadRadii]]) — the serving form that cannot be handed a stale
    * map: build/append/upsert/rebalance keep the stored table an upper
    * bound, and a pre-radii index degrades to no pruning (exact, just
    * unaccelerated). */
  def rangeSearch(spark: SparkSession, model: Model, vecCol: String,
                  idCol: String, query: Array[Float], rLo: Double,
                  rHi: Double): DataFrame =
    rangeSearch(spark, model, vecCol, idCol, query, rLo, rHi,
      loadRadii(spark, model.indexDir))

  def rangeSearch(spark: SparkSession, model: Model, vecCol: String,
                  idCol: String, query: Array[Float], rLo: Double,
                  rHi: Double, radii: Map[Int, Double]): DataFrame = {
    val r = math.sqrt(rHi)
    val keep = model.centroids.collect {
      case (id, c) if radii.get(id).forall(rc =>
        math.sqrt(l2(c, query)) <= r + rc + 1e-6) => id
    }
    liveSlice(spark, model, idCol)(keep.toSeq)
      .withColumn("distance",
        round(VectorFunctions.l2Sq(col(vecCol), typedlit(query)), 4))
      .where(col("distance") >= rLo && col("distance") < rHi)
      .select(col(idCol), col("distance"))
      .orderBy(col("distance").asc, col(idCol).asc)
  }

  /** EXACT top-k through the IVF layout — the ball-tree discipline on
    * the partitioned index ([[NormPrune]] buys exactness from a norm
    * sort; this buys it from the cluster geometry): phase 1 scans the
    * single nearest-centroid cluster and takes its k-th smallest
    * distance as an upper bound; phase 2 scans every cluster whose
    * triangle-inequality LOWER bound d(q, c) − radius(c) can beat that
    * bound, and ranks exactly. Two bounded passes, no full scan, no
    * recall loss — prune ratio set by data geometry (a clustered
    * corpus skips most partitions; adversarial data degrades to a full
    * scan, never to a wrong answer). Phase 1's bound uses the ROUNDED
    * stored discipline + half-ulp slack so rounding can only WEAKEN
    * pruning; fewer than k rows in the first cluster ⇒ unbounded ⇒
    * all clusters scanned (degenerate but exact). Both passes scan
    * [[liveSlice]]. */
  /** [[exactSearch]] against the index's own maintained radii — see the
    * [[rangeSearch]] no-argument-radii overload. */
  def exactSearch(spark: SparkSession, model: Model, vecCol: String,
                  idCol: String, query: Array[Float],
                  k: Int): DataFrame =
    exactSearch(spark, model, vecCol, idCol, query, k,
      loadRadii(spark, model.indexDir))

  def exactSearch(spark: SparkSession, model: Model, vecCol: String,
                  idCol: String, query: Array[Float], k: Int,
                  radii: Map[Int, Double]): DataFrame = {
    // both phases slice one data read
    val clusterScan = liveSlice(spark, model, idCol)
    val first = probeClusters(model, query, 1)
    // phase 1: k rows — a bounded collect (the query-vector handoff
    // discipline); rounded kth distance + half-ulp covers the rounding
    val kth = clusterScan(first)
      .select(round(VectorFunctions.l2Sq(col(vecCol), typedlit(query)), 4)
        .as("d"))
      .orderBy(col("d").asc).limit(k)
      .collect().map(_.getDouble(0))
    val ub =
      if (kth.length < k) Double.PositiveInfinity
      else math.sqrt(kth.last + 5e-5)
    val keep = model.centroids.collect {
      case (id, c) if radii.get(id).forall(rc =>
        math.sqrt(l2(c, query)) - rc <= ub + 1e-6) => id
    }
    clusterScan(keep.toSeq)
      .withColumn("distance",
        round(VectorFunctions.l2Sq(col(vecCol), typedlit(query)), 4))
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("distance"))
  }

  /** Pre-filtered IVF serving: [[search]] with the candidate set
    * restricted to `allowedIds` BEFORE ranking — the id set typically
    * comes from a [[ScalarIndex]] lookup (metadata filter) or a
    * point-get list; the restriction is a semi-join inside the
    * partition-pruned scan, so at a selective filter the broadcast side
    * is the (small) id set and no disallowed row's distance is ever
    * computed. At nprobe = nlist this equals exact filtered kNN. The
    * scan is [[liveSlice]], as always. */
  def searchWithIdFilter(spark: SparkSession, model: Model,
                         vecCol: String, idCol: String,
                         query: Array[Float], k: Int, nprobe: Int,
                         allowedIds: DataFrame): DataFrame = {
    liveSlice(spark, model, idCol)(probeClusters(model, query, nprobe))
      .join(allowedIds.toDF(idCol), Seq(idCol), "left_semi")
      .withColumn("distance",
        round(VectorFunctions.l2Sq(col(vecCol), typedlit(query)), 4))
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("distance"))
  }

  /** UPSERT a batch against the index WITHOUT rebuilding it — the
    * remaining maintenance verb after append (new keys) and delete
    * (tombstones): replaced keys need BOTH, because the new vector may
    * land in a different cluster while the old row stays in the stale
    * layout, and a key-level tombstone would kill the new row too.
    * Segment-version semantics (Milvus/Delta both serve upserts this
    * way): the batch appends with an explicit `__ver` literal (strictly
    * greater than any prior batch's — the caller's sequence number; two
    * batches must not share one), and every serve path serves
    * latest-version-wins per key ([[liveSlice]]). [[compactVersions]]
    * folds the history physically. Assignment arithmetic = [[append]]. */
  def upsertBatch(batch: DataFrame, vecCol: String, model: Model,
                  idCol: String, ver: Long): Unit = {
    require(ver >= 1, s"upsertBatch: ver=$ver (base rows are version 0)")
    // radius fold before the data append ([[land]]) — an upsert can
    // move a key into a cluster whose stored radius does not yet cover
    // its new vector
    land(batch, vecCol, model, Some(ver))
  }

  /** Latest-version-wins overlay over a (pruned) slice of a versioned
    * scan: the overlay is the per-key max version of the UPSERTED rows
    * only — a two-column column-pruned aggregate bounded by upsert
    * volume, broadcast like the tombstone set — and a row serves only
    * if it IS its key's latest. GLOBAL, not slice-local: a superseded
    * row whose replacement lives outside the slice is dropped, not
    * resurrected. */
  private def applyLatest(scan: DataFrame, pruned: DataFrame,
                          idCol: String): DataFrame = {
    val upVers = scan.where(col("__ver").isNotNull)
      .groupBy(col(idCol)).agg(max(col("__ver")).as("__maxver"))
    pruned.join(broadcast(upVers), Seq(idCol), "left")
      .where(col("__maxver").isNull ||
        coalesce(col("__ver"), lit(0L)) === col("__maxver"))
      .drop("__maxver", "__ver")
  }

  /** What a serve path may return — the visibility rule of this index,
    * written once: the partition-pruned scan of `clusters`, then the
    * latest-version-wins overlay ([[applyLatest]], only on an upserted
    * layout), then the tombstone mask ([[Tombstones.mask]]). The
    * supersession check is GLOBAL, not slice-local: a superseded row
    * whose replacement lives in an UNPROBED cluster is dropped, not
    * resurrected — missing that key at partial probe is the standard
    * IVF recall contract, serving its overwritten vector would be
    * corruption. Detection is the pinned schema ([[dataSchema]]): a
    * never-upserted index pays no overlay, and [[compactVersions]]
    * returns it to the plain path. The schema is read once per call of
    * this method, so a caller slicing twice (two-phase [[exactSearch]])
    * shares it. */
  private def liveSlice(spark: SparkSession, model: Model,
                        idCol: String): Seq[Int] => DataFrame = {
    val data = readData(spark, model.indexDir)
    val versioned = data.columns.contains("__ver")
    clusters => {
      val pruned = data.where(col("cluster_id").isin(clusters: _*))
      val scan = if (versioned) applyLatest(data, pruned, idCol) else pruned
      Tombstones.mask(scan, spark, model.indexDir, idCol)
    }
  }

  /** Fold upsert history physically: keep only each key's latest
    * version (the row keeps ITS OWN cluster assignment — the new
    * vector's cluster, not the stale row's), drop the version column
    * from the rows and the pinned schema, crash-safe swap, partitioning
    * preserved. After this, plain [[search]] serves the index again
    * with no overlay. */
  def compactVersions(spark: SparkSession, model: Model,
                      idCol: String): Unit = {
    // crash-recovery probe first: a prior fold that died between its
    // two renames left the complete pre-fold layout at __ver_old and
    // nothing at the live path
    val dir = dataDir(model.indexDir)
    val dd = new Path(dir)
    val fs = dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(dir + "__ver_old")
    Artifacts.recoverAside(fs, dd, old)
    val scan = readData(spark, model.indexDir)
    if (!scan.columns.contains("__ver")) return
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol))
      .orderBy(coalesce(col("__ver"), lit(0L)).desc)
    val latest = scan.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn", "__ver")
    Artifacts.replaceDir(fs, dd, new Path(dir + "__ver_tmp"), old) { tmp =>
      latest.write.mode("overwrite").partitionBy("cluster_id").parquet(tmp)
      Artifacts.writeSchema(spark, tmp, latest.schema)
    }
  }

  /** Rebalance a skew-drifted index WITHOUT a full rebuild (Milvus
    * handles the same drift with segment compaction + reindex; Faiss
    * deployments re-train — both touch the whole corpus; this touches
    * only the hot lists): every cluster whose size exceeds `sizeCap` is
    * SPLIT — a sample-capped KMeans re-fit over that cluster's rows
    * alone ([[TrainSample.forFit]], so the fit cost is bounded
    * regardless of how hot the list got) — while every other
    * partition's files are left untouched. Sub-centroids take NEW ids
    * past the current max, the split centroids leave the table, and
    * the hot rows are reassigned GLOBALLY: argmin over the whole new
    * table (survivors + every split's sub-centroids — the [[append]]
    * assignment expression), not just the local sub-centroids, so a
    * boundary row whose true nearest list is a surviving cluster lands
    * THERE and partial-probe serving finds it where the centroid
    * ranking looks for it.
    *
    * Approximation contract (shared with every incremental IVF
    * maintenance scheme): COLD rows keep their assignment, so a cold
    * row that is now nearer to a fresh sub-centroid than to its own
    * centroid is not moved — [[IndexAudit.ivfChecks]] run against the
    * post-rebalance centroid table can count such rows as mismatches;
    * they are rebalance drift, not corruption, and a full rebuild is
    * the cure when that count matters.
    *
    * Swap order: (1) append the reassigned hot rows, (2) swap the
    * centroid table (tmp + rename), (3) drop the split partitions'
    * dirs. Single-writer maintenance; a CONCURRENT full-probe reader
    * between (1) and (3) can transiently see a hot row twice (its old
    * partition still on disk) — serve through an alias flip
    * ([[graft.core.Collection.setAlias]]) when that window matters.
    * Returns the refreshed model ([[load]]). */
  def rebalance(spark: SparkSession, model: Model, vecCol: String,
                sizeCap: Long, seed: Long = 42L, maxIter: Int = 20,
                trainSampleCap: Long = TrainSample.DefaultCap): Model = {
    require(sizeCap > 0, s"rebalance: sizeCap=$sizeCap")
    // crash-recovery probe for the centroid swap's rename-aside window
    val cdir = centroidsDir(model.indexDir)
    val cd = new Path(cdir)
    val fs = cd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldCentroids = new Path(cdir + "__rebal_old")
    Artifacts.recoverAside(fs, cd, oldCentroids)
    val data = spark.read.schema(writerSchema(spark, model.indexDir))
      .parquet(dataDir(model.indexDir))
    val hot = data.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("sz")).where(col("sz") > sizeCap)
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    if (hot.isEmpty) return model
    var nextId = model.centroids.map(_._1).max + 1
    val newCentroids = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Array[Float])]
    hot.foreach { case (cid, sz) =>
      val pieces = math.max(2, math.ceil(sz.toDouble / sizeCap).toInt)
      // partition-pruned read: exactly the hot list's files
      val rows = data.where(col("cluster_id") === cid).drop("cluster_id")
      val withVec = rows.withColumn("__mlvec", array_to_vector(col(vecCol)))
      val km = new KMeans()
        .setK(pieces).setSeed(seed).setMaxIter(maxIter)
        .setFeaturesCol("__mlvec").setPredictionCol("__sub")
      val sub = km.fit(
        TrainSample.forFit(withVec, vecCol, sz, trainSampleCap, pieces))
      newCentroids ++= sub.clusterCenters.zipWithIndex.map { case (c, i) =>
        (nextId + i, c.toArray.map(_.toFloat))
      }
      nextId += pieces
    }
    val hotIds = hot.map(_._1).toSet
    val merged = model.centroids.filterNot { case (id, _) => hotIds(id) } ++
      newCentroids
    // (1) GLOBAL reassignment of every hot row against the merged
    // table, all hot lists in ONE partition-pruned read + ONE
    // partitioned append (|hot| fit jobs + 1 write job total). The
    // argmin runs through an mllib KMeansModel closure, NOT the
    // [[nearestCentroid]] literal-struct-array expression: at rebalance
    // widths (~2·nlist centers) that expression falls out of whole-stage
    // codegen and interprets ~100× slower (688 s for the pass at 1 M,
    // SCALE.md round 9) — the predictor is tight primitive-array math
    // with precomputed norms. Centers are passed cid-ascending, so a
    // tie breaks to the LOWER cid exactly like array_min's struct
    // comparison; the fastSquaredDistance shortcut can flip a
    // float-precision near-tie, which is inside [[IndexAudit
    // .ivfChecks]]' documented assignment tolerance.
    val sortedMerged = merged.sortBy(_._1)
    val mlCenters = sortedMerged.map { case (_, c) =>
      org.apache.spark.mllib.linalg.Vectors.dense(
        c.map(_.toDouble).toArray)
    }.toArray
    val cidByIdx = sortedMerged.map(_._1).toArray
    val mlModel =
      new org.apache.spark.mllib.clustering.KMeansModel(mlCenters)
    val assignUdf = udf { (v: Seq[Float]) =>
      cidByIdx(mlModel.predict(
        org.apache.spark.mllib.linalg.Vectors.dense(
          v.map(_.toDouble).toArray)))
    }
    data.where(col("cluster_id").isin(hot.map(_._1): _*))
      .drop("cluster_id")
      .withColumn("cluster_id", assignUdf(col(vecCol)))
      .write.mode("append").partitionBy("cluster_id")
      .parquet(dataDir(model.indexDir))
    // (2) centroid-table swap: survivors + sub-centroids
    import spark.implicits._
    Artifacts.replaceDir(fs, cd, new Path(cdir + "__rebal_tmp"),
      oldCentroids) {
      sortedMerged.map { case (i, c) => (i, c.toSeq) }.toSeq
        .toDF("cluster_id", "centroid")
        .write.mode("overwrite").parquet(_)
    }
    // (3) drop the split partitions' directories
    hot.foreach { case (cid, _) =>
      fs.delete(new Path(dataDir(model.indexDir), s"cluster_id=$cid"), true)
    }
    val refreshed = load(spark, model.indexDir)
    // (4) rebalance replaces cluster ids outright, so the stored radii
    // are recomputed from the new layout (the scaladoc's "rebuild"
    // case, owned by the verb instead of the caller). Skipped on a
    // pre-radii index.
    if (storedRadii(spark, model.indexDir).isDefined)
      refreshRadii(spark, refreshed, vecCol)
    refreshed
  }

  /** Delete-by-keys against the index WITHOUT rebuilding it: records the
    * ids as [[Tombstones]]; [[search]] masks them from every subsequent
    * result until [[compactTombstones]] folds them into the layout. */
  def delete(ids: DataFrame, model: Model, idCol: String): Unit =
    Tombstones.record(ids, model.indexDir, idCol)

  /** Fold recorded tombstones into the partitioned data layout (cluster
    * partitioning preserved) and clear them — Milvus segment compaction
    * for this index family. */
  def compactTombstones(spark: SparkSession, model: Model,
                        idCol: String): Unit = {
    foldTombstones(spark, model.indexDir, idCol)
    Tombstones.clear(spark, model.indexDir)
  }

  /** [[Tombstones.compact]] of the data layout, which reads the pinned
    * schema and carries it through the swap; an unpinned layout is
    * pinned first. The tombstones stay recorded. */
  private[search] def foldTombstones(spark: SparkSession, indexDir: String,
                                     idCol: String): Unit = {
    Artifacts.recoverAside(new Path(indexDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(dataDir(indexDir)), new Path(dataDir(indexDir) + "__tomb_old"))
    writerSchema(spark, indexDir)
    Tombstones.compact(spark, indexDir, dataDir(indexDir), Seq(idCol),
      partitionBy = Seq("cluster_id"))
  }

  // --- Root-addressed maintenance: the alias-aware DEFAULT forms ---
  // (round 11). The Model-based verbs above are the in-place cores; a
  // Model loaded from an aliased root is bound to an IMMUTABLE version
  // dir, so mutating it in place would corrupt what readers serve.
  // These forms take the ROOT: on an aliased root the verb runs against
  // a copy of the current version and publishes atomically
  // ([[AliasedIndex.maintain]] — readers keep serving the old complete
  // version through every rename-aside instant, then flip); on a flat
  // legacy dir they are exactly the old in-place verbs.

  /** Alias-aware [[compactTombstones]], addressed by root. */
  def compactTombstonesRoot(spark: SparkSession, root: String,
                            idCol: String): Unit =
    AliasedIndex.maintain(spark, root) { d =>
      compactTombstones(spark, load(spark, d), idCol)
      ()
    }

  /** Alias-aware [[rebalance]], addressed by root; returns the model
    * bound to the new serving dir. */
  def rebalanceRoot(spark: SparkSession, root: String, vecCol: String,
                    sizeCap: Long, seed: Long = 42L, maxIter: Int = 20,
                    trainSampleCap: Long = TrainSample.DefaultCap): Model = {
    AliasedIndex.maintain(spark, root) { d =>
      rebalance(spark, load(spark, d), vecCol, sizeCap, seed, maxIter,
        trainSampleCap)
      ()
    }
    load(spark, root)
  }
}
