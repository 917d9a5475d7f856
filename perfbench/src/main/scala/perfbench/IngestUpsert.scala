package perfbench

import scala.collection.mutable

import graft.core.Collection
import graft.dedup.Dedup
import graft.ingest.{Embed, HashingEmbedder, Preprocess}
import graft.search.IvfIndex
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.SparkSession

/** One client batch and the read that follows it. */
private final case class Batch(docs: Seq[Doc], plants: Set[Long],
                               deletes: Seq[Long], query: Array[Float])

/** `ingest_upsert`: the write path of the IVF layer `ivf_serve` reads.
  * Set-up ingests a seeded base corpus and builds the index over it; one
  * operation is a raw-text batch through Preprocess → incremental MinHash
  * dedup against the stored corpus → embedding → `Collection.append` →
  * `IvfIndex.upsertBatch`, a few `IvfIndex.delete`s, then one
  * `IvfIndex.search`, so reads run beside writes. Part of every batch
  * re-embeds existing keys and about a tenth is planted near-duplicates.
  * Every write changes the stat fingerprints the serve caches key on and
  * turns on the version overlay and the tombstone mask. */
final class IngestUpsert(spark: SparkSession, t: Tracer, seed: Long)
    extends Workload {
  // the reference's knowledge base: 153 rows in 3 chapters
  private val BaseDocs = 153
  private val Chapters = 3
  // the reference embeds and inserts 100 texts per batch; a tenth of them
  // are planted near-duplicates and 15 re-embed existing keys
  private val BatchTexts = 100
  private val PlantsPerBatch = 10
  private val UpdatesPerBatch = 15
  private val DeletesPerBatch = 3
  // fewer lists than the reference's 128: at 128 lists over 153 rows a
  // read after a write took 3.3-4.6 s and a run overran its budget.
  // k-means over these vectors makes lists of 1 to 100 rows; the 3 lists
  // nearest a question held at least 31 rows on every one of 25 seeds
  // (40 questions each), 2 lists as few as 6, so k=15 needs 3
  private val Nlist = 8
  private val Nprobe = 3
  private val K = 15
  private val DigestBatches = 8
  private val RecallQueries = 2

  private val embedder = new HashingEmbedder(64)
  private def embed(text: String): Array[Float] = embedder.embed(Seq(text)).head

  private var dir = ""
  private var g: Gen.TextGen = _
  private var base = Array.empty[Doc]
  private var nextId = 0L
  // keys the generator may update or delete: base and new docs, not yet
  // deleted (plants may be dropped by dedup, so they are never picked)
  private val pool = mutable.ArrayBuffer.empty[Long]
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private var digestHex = ""
  private var coll: Collection = _
  private var model: IvfIndex.Model = _
  // what the index must serve: each live key's latest vector
  private val live = mutable.Map.empty[Long, Array[Float]]
  private val deleted = mutable.Set.empty[Long]
  private var inputBytes = 0L
  private var version = 0L
  private val tracedFlagged = mutable.ArrayBuffer.empty[Double]
  private val tracedKept = mutable.ArrayBuffer.empty[Double]
  private val tracedFiles = mutable.ArrayBuffer.empty[Double]
  private var buildS = 0.0

  private def indexDir = s"$dir/index"

  /** The next batch; a pure function of the seed and the batches before
    * it. Updates and deletes pick distinct keys from the pool, plants copy
    * a base doc with one word changed. */
  private def nextBatch(): Batch = {
    def fresh(): Long = { nextId += 1; nextId }
    val news = Seq.fill(BatchTexts - PlantsPerBatch - UpdatesPerBatch)(
      g.doc(fresh(), Chapters))
    val plants = Seq.fill(PlantsPerBatch)(
      g.nearDup(fresh(), base(g.rnd.nextInt(BaseDocs))))
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < UpdatesPerBatch + DeletesPerBatch)
      picked += pool(g.rnd.nextInt(pool.size))
    val (upd, del) = picked.toSeq.splitAt(UpdatesPerBatch)
    pool --= del
    pool ++= news.map(_.id)
    val updates = upd.map(id => g.doc(id, Chapters))
    val query = embed(g.question(base(g.rnd.nextInt(BaseDocs))))
    Batch(news ++ plants ++ updates, plants.map(_.id).toSet, del, query)
  }

  private def batch(i: Int): Batch = {
    while (batches.size <= i) batches += nextBatch()
    batches(i)
  }

  def setup(dir: String): Unit = {
    this.dir = dir
    g = new Gen.TextGen(seed)
    base = Array.tabulate(BaseDocs)(i => g.doc(i.toLong, Chapters))
    nextId = BaseDocs.toLong
    Seq(pool, batches, live, deleted).foreach(_.clear())
    pool ++= base.map(_.id)
    version = 0
    val d = new Digest
    base.foreach(d.add)
    (0 until DigestBatches).foreach { i =>
      val b = batch(i)
      b.docs.foreach(d.add); d.add(b.deletes.mkString(",")); d.add(b.query)
    }
    digestHex = d.hex
    import spark.implicits._
    base.toSeq.map(d => (d.id, d.chapter, d.text))
      .toDF("doc_id", "chapter", "text").coalesce(1).write.parquet(s"$dir/raw")
    coll = Collection(spark, s"$dir/kb")
    coll.append(Embed.withEmbeddings(
      Preprocess(spark.read.parquet(s"$dir/raw"), "text")
        .select(col("doc_id"), col("chapter"), col("text_clean").as("text")),
      "text", "embedding", embedder))
    val t0 = System.nanoTime()
    model = t.span("ivf.build") {
      IvfIndex.build(coll.read.select("doc_id", "embedding"), "embedding",
        indexDir, Nlist)
    }
    buildS = (System.nanoTime() - t0) / 1e9
    base.foreach(d => live(d.id) = embed(d.text))
    inputBytes = base.map(_.inputBytes).sum
  }

  /** Runs one batch through the write path; returns the ids dedup
    * flagged (and dropped). */
  private def ingest(b: Batch): Set[Long] = {
    import spark.implicits._
    version += 1
    inputBytes += b.docs.map(_.inputBytes).sum
    // a client's batch arrives as one partition
    val raw = b.docs.map(d => (d.id, d.chapter, d.text))
      .toDF("doc_id", "chapter", "text").coalesce(1)
    val pre = t.span("ingest.preprocess") {
      Workload.materialize(t, Preprocess(raw, "text")
        .select(col("doc_id"), col("chapter"), col("text_clean").as("text")))
    }
    val flagged = t.span("dedup.incremental") {
      Dedup.minhashIncrementalDupes(coll.read.select("doc_id", "text"),
          pre.select("doc_id", "text"), "doc_id", "text",
          numHashes = 16, bandSize = 2)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val kept = b.docs.filterNot(d => flagged(d.id))
    val filesBefore = Stats.dataFiles(coll.dir)
    val emb = t.span("ingest.embed") {
      Workload.materialize(t, Embed.withEmbeddings(
        pre.where(!col("doc_id").isin(flagged.toSeq: _*)),
        "text", "embedding", embedder))
    }
    t.span("core.append")(coll.append(emb))
    t.span("ivf.upsert") {
      IvfIndex.upsertBatch(emb.select("doc_id", "embedding"), "embedding",
        model, "doc_id", version)
    }
    t.span("ivf.delete")(IvfIndex.delete(b.deletes.toDF("doc_id"), model,
      "doc_id"))
    if (t.active) {
      tracedFlagged += flagged.size
      tracedKept += kept.size
      tracedFiles += Stats.dataFiles(coll.dir) - filesBefore
    }
    emb.unpersist(); pre.unpersist()
    kept.foreach(d => live(d.id) = embed(d.text))
    b.deletes.foreach { id => live -= id; deleted += id }
    flagged
  }

  private def search(q: Array[Float], nprobe: Int): Array[(Long, Double)] =
    Workload.ivfRead(spark, t, indexDir, "doc_id", q, K, nprobe)

  private def l2(a: Array[Float], b: Array[Float]): Double =
    a.indices.map { i => val d = a(i).toDouble - b(i).toDouble; d * d }.sum

  /** Every served row must be a live key at its latest vector. */
  private def checkServed(res: Array[(Long, Double)], q: Array[Float],
                          rec: Recorder): Unit = {
    rec.check(res.length == K, s"search returned ${res.length} rows")
    res.foreach { case (id, dist) =>
      rec.check(!deleted(id), s"search returned deleted id $id")
      rec.check(live.get(id).exists(v => math.abs(l2(v, q) - dist) < 1e-3),
        s"search returned id $id at a superseded or unknown vector")
    }
  }

  private def exact(q: Array[Float]): Array[(Long, Double)] = {
    import spark.implicits._
    Workload.exactTopK(live.toSeq.toDF("doc_id", "embedding"), "doc_id", q, K)
  }

  /** Batch 0, untimed. Its dedup result, and the recall and exactness
    * of a fixed query sample at the state it leaves, are the run's quality
    * figures: that state does not depend on how many batches the measured
    * phase gets through. */
  def warmup(rec: Recorder): Unit = {
    val b = batch(0)
    val flagged = ingest(b)
    rec.info("dedup_recall") =
      (b.plants.count(flagged).toDouble / b.plants.size, "frac")
    rec.info("dedup_false_flags") =
      ((flagged -- b.plants).size.toDouble, "count")
    var hit = 0
    (0 until RecallQueries).foreach { i =>
      rec.op {
        val q = batch(DigestBatches + i).query
        val res = search(q, Nprobe)
        checkServed(res, q, rec)
        val knn = exact(q)
        hit += knn.count(p => res.exists(_._1 == p._1))
        val all = search(q, Nlist).toSeq
        rec.check(all == knn.toSeq,
          s"IVF at nprobe=nlist differs from Knn.topK over the live rows: " +
            s"$all vs ${knn.toSeq}")
      }
    }
    rec.info("recall_at_k") = (hit.toDouble / (RecallQueries * K), "frac")
  }

  def step(i: Int, rec: Recorder): Unit = {
    val b = batch(i + 1)
    rec.write(t.span("ingest.write")(ingest(b)))
    val res = rec.read(search(b.query, Nprobe))
    rec.rowsIngested += b.docs.size
    checkServed(res, b.query, rec)
  }

  def verify(rec: Recorder): Unit =
    rec.info("index_build_s") = (buildS, "s")

  def digest: String = digestHex

  def storedBytesPerInputByte: Double =
    (Stats.duBytes(coll.dir) + Stats.duBytes(indexDir)).toDouble / inputBytes

  def layerExtras(t: Tracer): Map[String, Double] = {
    val embedS = t.perOp("ingest.embed")(_.ms) / 1000
    val read = t.perOp("ivf.search")(s => t.inclusive(s).recordsRead.toDouble)
    Map(
      "ivf.rows_read_per_result" -> read / K,
      "ivf.scanned_fraction" -> read / live.size,
      "ivf.data_files" -> Stats.dataFiles(IvfIndex.dataDir(indexDir)),
      "dedup.dupes_found" -> Stats.median(tracedFlagged.toSeq),
      "ingest.embed_rows_per_s" ->
        (if (embedS > 0) Stats.median(tracedKept.toSeq) / embedS else 0.0),
      "core.files_written" -> Stats.median(tracedFiles.toSeq))
  }
}
