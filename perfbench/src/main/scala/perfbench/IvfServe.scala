package perfbench

import scala.collection.mutable

import graft.search.IvfIndex
import org.apache.spark.sql.SparkSession

/** `ivf_serve`: the reference's serving path (IVF_FLAT, nlist=128,
  * nprobe=20, 3×5 over-fetch) over seeded clustered vectors, read-only.
  * One operation is `IvfIndex.load` plus `IvfIndex.search` and its
  * collect. Every read after the first hits the stat-keyed model and
  * schema caches, so the fixed cost of the probe dominates. */
final class IvfServe(spark: SparkSession, t: Tracer, seed: Long)
    extends Workload {
  private val N = 20000
  private val Dim = 64
  private val Nlist = 128
  private val Nprobe = 20
  private val K = 15
  private val Queries = 64
  private val RecallQueries = 8
  private val ExactChecks = 2

  private var dir = ""
  private var corpus = Array.empty[Array[Float]]
  private var queries = Array.empty[Array[Float]]
  private var digestHex = ""
  private val served = mutable.Map.empty[Int, Array[Long]]
  private var buildS = 0.0

  private def indexDir = s"$dir/index"
  private def inputDir = s"$dir/input"

  def setup(dir: String): Unit = {
    this.dir = dir
    val (c, q) = Gen.clustered(seed, N, Dim, centers = 64, sigma = 0.6,
      q = Queries)
    corpus = c; queries = q
    val d = new Digest
    corpus.foreach(d.add); queries.foreach(d.add)
    digestHex = d.hex
    import spark.implicits._
    corpus.indices.map(i => (i.toLong, corpus(i))).toDF("id", "embedding")
      .write.parquet(inputDir)
    val t0 = System.nanoTime()
    t.span("ivf.build") {
      IvfIndex.build(spark.read.parquet(inputDir), "embedding", indexDir,
        Nlist)
    }
    buildS = (System.nanoTime() - t0) / 1e9
  }

  private def read(qi: Int, nprobe: Int = Nprobe): Array[(Long, Double)] =
    Workload.ivfRead(spark, t, indexDir, "id", queries(qi), K, nprobe)

  def warmup(rec: Recorder): Unit =
    (0 until 10).foreach(i => read(Queries - 1 - i))

  def step(i: Int, rec: Recorder): Unit = {
    val qi = i % Queries
    val res = rec.read(read(qi))
    rec.check(res.length == K, s"query $qi returned ${res.length} rows")
    served.getOrElseUpdate(qi, res.map(_._1))
  }

  private def exact(qi: Int): Array[(Long, Double)] =
    Workload.exactTopK(spark.read.parquet(inputDir), "id", queries(qi), K)

  def verify(rec: Recorder): Unit = {
    rec.info("index_build_s") = (buildS, "s")
    var hit = 0
    (0 until RecallQueries).foreach { qi =>
      rec.op {
        val got = served.getOrElse(qi, read(qi).map(_._1)).toSet
        hit += exact(qi).count(p => got.contains(p._1))
      }
    }
    rec.info("recall_at_k") = (hit.toDouble / (RecallQueries * K), "frac")
    (0 until ExactChecks).foreach { qi =>
      rec.op {
        val ivf = read(qi, nprobe = Nlist).toSeq
        val knn = exact(qi).toSeq
        rec.check(ivf == knn,
          s"IVF at nprobe=nlist differs from Knn.topK on query $qi: " +
            s"$ivf vs $knn")
      }
    }
  }

  def digest: String = digestHex

  def storedBytesPerInputByte: Double =
    Stats.duBytes(indexDir).toDouble / (N.toLong * (8 + 4 * Dim))

  def layerExtras(t: Tracer): Map[String, Double] = {
    val read = t.perOp("ivf.search")(s => t.inclusive(s).recordsRead.toDouble)
    Map(
      "ivf.rows_read_per_result" -> read / K,
      "ivf.scanned_fraction" -> read / N,
      "ivf.data_files" -> Stats.dataFiles(IvfIndex.dataDir(indexDir)))
  }
}
