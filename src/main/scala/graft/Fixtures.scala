package graft

import graft.core.{Artifacts, Collection, Tables}
import graft.ingest.Preprocess
import graft.search.{BinaryVec, FullText, GraphAnn, IvfIndex, NormPrune, Pq,
  Quantize, Rotation, Rq, ScalarIndex, SparseVec, TermIndex}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry's shared fixture artifacts, one owner each: every
  * artifact that more than one registry entry reads is named, built and
  * checked for readiness here, so entries that read the same directory
  * cannot disagree on how it was built.
  *
  * Each artifact lives under `/tmp/graft_<name>_<key>`, keyed by the
  * fixture dir ([[key]]). Readiness is decided once per artifact:
  *  - a single table built by [[Artifacts.buildOnce]] is ready when its
  *    own `_SUCCESS` exists — the table is the whole build;
  *  - a model or index of several tables is ready when the
  *    [[QueryDsl.mutateOnce]] marker exists: [[QueryDsl.rebuildOnce]]
  *    deletes the directory, builds, and writes the marker only after the
  *    whole build returns, so a build killed mid-write is redone from
  *    scratch by the next run instead of being served half-written.
  *
  * The functions return what entries read (a model, a lazy DataFrame or
  * the artifact dir) and submit no Spark job once the artifact is
  * ready. */
object Fixtures {
  /** The fixture dir's key in every artifact and oracle handoff path
    * (the same value [[Verify]] substitutes for [[QueryDsl.OracleKey]]). */
  def key(dir: String): Int = math.abs(dir.hashCode)

  private def tmp(name: String, dir: String): String =
    s"/tmp/graft_${name}_${key(dir)}"

  /** Load the artifact at `dir` when its build completed; otherwise
    * rebuild it from scratch ([[QueryDsl.rebuildOnce]]). */
  private def loadOrBuild[M](s: SparkSession, dir: String)(load: => M)
                            (build: => M): M = {
    var built: Option[M] = None
    QueryDsl.rebuildOnce(s, dir) { built = Some(build) }
    built.getOrElse(load)
  }

  /** [[QueryDsl.rebuildOnce]] for an artifact that is read through its
    * dir; returns the dir. */
  private def dirOnce(s: SparkSession, dir: String)(build: String => Unit)
      : String = {
    QueryDsl.rebuildOnce(s, dir)(build(dir))
    dir
  }

  /** The `vec_id = 0` vector of `e`: the query of every single-query
    * vector entry. One driver-side collect. */
  def queryVector(e: DataFrame): Array[Float] =
    e.where(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray

  // ---- IVF ----------------------------------------------------------

  def ivfDir(dir: String): String = tmp("ivf", dir)

  /** The nlist-16 IVF index over the fixture's embeddings. */
  def ivf(s: SparkSession, dir: String): IvfIndex.Model =
    ivfAt(s, ivfDir(dir))(Tables.embeddings(s, dir))

  /** [[ivf]] built unless it is ready, but not loaded: for the entries
    * that only copy it. Returns its dir. */
  def ivfBuilt(s: SparkSession, dir: String): String =
    ivfBuiltAt(s, ivfDir(dir))(Tables.embeddings(s, dir))

  /** An nlist-16 IVF index over `data` at `indexDir`, under the same
    * readiness rule: for entries whose index is built from a slice or a
    * transform of the corpus. */
  def ivfAt(s: SparkSession, indexDir: String, vecCol: String = "embedding")
           (data: => DataFrame): IvfIndex.Model =
    loadOrBuild(s, indexDir)(IvfIndex.load(s, indexDir))(
      buildIvf(data, vecCol, indexDir))

  /** [[ivfAt]] built unless it is ready, but not loaded; returns
    * `indexDir`. */
  def ivfBuiltAt(s: SparkSession, indexDir: String)
                (data: => DataFrame): String =
    dirOnce(s, indexDir)(buildIvf(data, "embedding", _))

  private def buildIvf(data: DataFrame, vecCol: String, indexDir: String) =
    IvfIndex.build(data, vecCol, indexDir, nlist = 16)

  /** The full-corpus nlist-16 index the delete entries record and
    * clear tombstones on, apart from [[ivf]] so the shared index never
    * carries a delete. */
  def tombIvfDir(dir: String): String = tmp("ivf_tomb", dir)

  def tombIvf(s: SparkSession, dir: String): IvfIndex.Model =
    ivfAt(s, tombIvfDir(dir))(Tables.embeddings(s, dir))

  def tombIvfBuilt(s: SparkSession, dir: String): String =
    ivfBuiltAt(s, tombIvfDir(dir))(Tables.embeddings(s, dir))

  /** The upsert entries' base: an nlist-16 index built with every
    * `vec_id % 10 = 1` vector reversed, so a correct upsert of those
    * rows is what restores exact search. The entries copy it; returns
    * its dir. */
  def upsertBaseIvf(s: SparkSession, dir: String): String =
    ivfBuiltAt(s, tmp("ivf_upbase", dir)) {
      Tables.embeddings(s, dir).withColumn("embedding",
        when(col("vec_id") % 10 === 1, reverse(col("embedding")))
          .otherwise(col("embedding")))
    }

  /** The full-corpus nlist-16 indexes the router registers: under their
    * own dirs, so the always-IVF rewrite entries stay un-routed. */
  def routedIvfDir(dir: String): String = tmp("ivf_routed", dir)

  def routedIvf(s: SparkSession, dir: String): IvfIndex.Model =
    ivfAt(s, routedIvfDir(dir))(Tables.embeddings(s, dir))

  def routedSparseIvfDir(dir: String): String = tmp("ivf_routedsp", dir)

  def routedSparseIvf(s: SparkSession, dir: String): IvfIndex.Model =
    ivfAt(s, routedSparseIvfDir(dir))(Tables.embeddings(s, dir))

  /** Whether the artifact at `artifactDir` is ready: a model's marker
    * or a table's `_SUCCESS`. */
  def built(s: SparkSession, artifactDir: String): Boolean = {
    val fs = new Path(artifactDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(new Path(artifactDir, "__graft_mutated")) ||
      fs.exists(new Path(artifactDir, "_SUCCESS"))
  }

  // ---- graph --------------------------------------------------------

  def graphDir(dir: String): String = tmp("graphann", dir)

  /** The degree-8 kNN-graph adjacency (`src`, `dst`, …) over the corpus. */
  def graphAdjacency(s: SparkSession, dir: String): DataFrame =
    Artifacts.buildOnce(s, s"${graphDir(dir)}/adjacency") {
      GraphAnn.buildAdjacency(Tables.embeddings(s, dir), "vec_id",
        "embedding")
    }

  /** The corpus medoid (`entry_id`), the single-entry walks' seed. */
  def graphMedoid(s: SparkSession, dir: String): DataFrame =
    Artifacts.buildOnce(s, s"${graphDir(dir)}/entry") {
      GraphAnn.medoid(Tables.embeddings(s, dir), "vec_id", "embedding")
    }

  /** The 8 spread entry points of the multi-entry walks. */
  def graphEntries(s: SparkSession, dir: String): DataFrame =
    Artifacts.buildOnce(s, s"${graphDir(dir)}/entries") {
      GraphAnn.entryPoints(Tables.embeddings(s, dir), "vec_id", "embedding",
        nEntries = 8)
    }

  /** Level ℓ of the layered graph: `glayer` for level 1 (the
    * [[GraphAnn.upperSample]] cut), `gmulti` for level 2. */
  private def layerDir(dir: String, level: Int): String =
    tmp(if (level == 1) "glayer" else "gmulti", dir)

  private def layerSample(s: SparkSession, dir: String, level: Int) =
    GraphAnn.levelSample(Tables.embeddings(s, dir), "vec_id", level)

  /** The adjacency of graph level 1 or 2 over that level's node sample. */
  def layerAdjacency(s: SparkSession, dir: String, level: Int): DataFrame =
    Artifacts.buildOnce(s, s"${layerDir(dir, level)}/adjacency") {
      GraphAnn.buildAdjacency(layerSample(s, dir, level), "vec_id",
        "embedding")
    }

  /** The medoid (`entry_id`) of graph level 1 or 2. */
  def layerEntry(s: SparkSession, dir: String, level: Int): DataFrame =
    Artifacts.buildOnce(s, s"${layerDir(dir, level)}/entry") {
      GraphAnn.medoid(layerSample(s, dir, level), "vec_id", "embedding")
    }

  // ---- quantizers ---------------------------------------------------

  def sq8Dir(dir: String): String = tmp("sq8", dir)

  /** The SQ8 code table over the corpus. */
  def sq8(s: SparkSession, dir: String): DataFrame =
    Artifacts.buildOnce(s, sq8Dir(dir)) {
      Quantize.quantizedTable(Tables.embeddings(s, dir), "embedding",
        "vec_id")
    }

  def pqDir(dir: String): String = tmp("pq", dir)

  /** Product quantization (default subspaces) over the corpus. */
  def pq(s: SparkSession, dir: String): Pq.Model =
    loadOrBuild(s, pqDir(dir))(Pq.load(s, pqDir(dir)))(
      Pq.build(Tables.embeddings(s, dir), "embedding", "vec_id", pqDir(dir)))

  def rqDir(dir: String): String = tmp("rq", dir)

  /** Two-level residual quantization over the corpus. */
  def rq(s: SparkSession, dir: String): Rq.Model =
    loadOrBuild(s, rqDir(dir))(Rq.load(s, rqDir(dir)))(
      Rq.build(Tables.embeddings(s, dir), "embedding", "vec_id", rqDir(dir),
        maxIter = 20))

  def opqDir(dir: String): String = tmp("opq", dir)

  /** The corpus projected by the OPQ tier's full-rank (64-component)
    * learned rotation: (`vec_id`, `rvec`). The rotation is built once and
    * staged for the `opqrot` oracle; reading it is one driver-side
    * collect. */
  def opqRotated(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val rot = Artifacts.buildOnce(s, tmp("rot64", dir)) {
      Rotation.learn(e, "embedding", dim = 64, k = 64)
    }
    QueryDsl.stageOracleOnce(s, "opqrot", dir)("rotation" -> rot)
    e.select(col("vec_id"),
      Rotation.projectCol(col("embedding"), Rotation.collectRows(rot))
        .as("rvec"))
  }

  /** PQ over [[opqRotated]]. */
  def opq(s: SparkSession, dir: String): Pq.Model =
    loadOrBuild(s, opqDir(dir))(Pq.load(s, opqDir(dir)))(
      Pq.build(opqRotated(s, dir), "rvec", "vec_id", opqDir(dir)))

  // ---- scalar, signature and norm tables ----------------------------

  /** The scalar index over `label`; returns its dir. */
  def labelIndex(s: SparkSession, dir: String): String =
    dirOnce(s, tmp("scalaridx", dir)) {
      ScalarIndex.build(Tables.embeddings(s, dir), "vec_id", "label", _)
    }

  /** The array-valued scalar index over each document's tags: its
    * `lang`, its `source` and `d<doc_id % 5>`. Returns its dir. */
  def tagIndex(s: SparkSession, dir: String): String =
    dirOnce(s, tmp("arridx", dir)) {
      ScalarIndex.build(
        Tables.documents(s, dir).select(col("doc_id"),
          explode(array(col("lang"), col("source"),
            concat(lit("d"), (col("doc_id") % 5).cast("string"))))
            .as("tag")),
        "doc_id", "tag", _)
    }

  /** The two packed sign words (`w0`, `w1`) of every vector. */
  def binarySignatures(s: SparkSession, dir: String): DataFrame =
    Artifacts.buildOnce(s, tmp("binsig", dir)) {
      Tables.embeddings(s, dir).select(col("vec_id"),
        BinaryVec.signWord(col("embedding"), 0).as("w0"),
        BinaryVec.signWord(col("embedding"), 1).as("w1"))
    }

  /** The fixed Hadamard-sign rotation the asymmetric signatures use. */
  val binaryRotation: Seq[(Int, Array[Float])] =
    Rotation.hadamardSignRows(64, "graft-bin-rot")

  /** The asymmetric 1-bit signatures of `df`'s (`vec_id`, `embedding`)
    * rows: packed signs of the rotated vector plus its correction factor.
    * Per-row, so a batch's signatures append to the table. */
  def asymPack(df: DataFrame): DataFrame =
    BinaryVec.packTable(df, "vec_id", "embedding", binaryRotation, 64)

  /** The asymmetric 1-bit table over the corpus. */
  def asymSignatures(s: SparkSession, dir: String): DataFrame =
    Artifacts.buildOnce(s, tmp("asymsig", dir)) {
      asymPack(Tables.embeddings(s, dir))
    }

  /** Per-vector norms for norm-pruned L2 and MIPS search. */
  def normTable(s: SparkSession, dir: String): DataFrame =
    Artifacts.buildOnce(s, tmp("normtab", dir)) {
      NormPrune.normTable(Tables.embeddings(s, dir), "vec_id", "embedding")
    }

  // ---- collections and work dirs ------------------------------------

  /** The dedup and curation entries' shared work dir: signatures,
    * capped postings, band and pair tables, BPE merges. */
  def dedupWorkDir(dir: String): String = tmp("dedup", dir)

  /** The knowledge base as the collection entries ingest it: the
    * preprocessed documents (`id`, `chapter`, `content`) under dense
    * ids. */
  def knowledgeRows(s: SparkSession, dir: String): DataFrame = {
    val cleaned = Preprocess(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source").as("chapter"), col("text")),
      "text")
      .select(col("doc_id"), col("chapter"), col("text_clean").as("content"))
    Collection.withDenseIds(cleaned, "doc_id")
      .select("id", "chapter", "content")
  }

  /** The stored knowledge-base collection of [[knowledgeRows]]. */
  def knowledgeCollection(s: SparkSession, dir: String): Collection = {
    val coll = Collection(s, s"${tmp("coll", dir)}/knowledge")
    dirOnce(s, coll.dir) { _ =>
      val rows = knowledgeRows(s, dir)
      coll.create(rows.schema, force = true)
      coll.append(rows)
    }
    coll
  }

  /** Every document's (`doc_id`, `source`) stamped at ingest epoch
    * 1704067200 + `doc_id`, with a 20 s TTL: the TTL serve and plan
    * entries' collection. */
  def ttlCollection(s: SparkSession, dir: String): Collection = {
    val coll = Collection(s, s"${tmp("ttl", dir)}/serve")
    dirOnce(s, coll.dir) { _ =>
      coll.appendStamped(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        timestamp_seconds(lit(1704067200L) + col("doc_id")))
      coll.setTtlSeconds(20)
    }
    coll
  }

  // ---- sparse and lexical -------------------------------------------

  /** Top-8 sparse postings (`vec_id`, `dim`, `w`) of every vector. */
  def sparsePostings(s: SparkSession, dir: String): DataFrame =
    Artifacts.buildOnce(s, tmp("sparse", dir)) {
      SparseVec.postings(Tables.embeddings(s, dir), "vec_id", "embedding",
        topN = 8)
    }

  /** The dim-bucketed sparse index with WAND bounds over the
    * top-8 sparse vectors; returns its dir. */
  def sparseWand(s: SparkSession, dir: String): String =
    dirOnce(s, tmp("sparsewand_b16", dir)) {
      SparseVec.build(Tables.embeddings(s, dir), "vec_id", "embedding",
        topN = 8, _)
    }

  /** The full-text index with WAND bounds over the documents; returns
    * its dir. */
  def fullTextWand(s: SparkSession, dir: String): String =
    dirOnce(s, tmp("ftwand_b16", dir)) {
      FullText.build(Tables.documents(s, dir), "doc_id", "text", _)
    }

  /** The routed sparse tier's own WAND index, apart from
    * [[sparseWand]] so the panel measures the tier its thunk serves;
    * returns its dir. */
  def routedSparseWand(s: SparkSession, dir: String): String =
    dirOnce(s, s"${tmp("routedsp_b16", dir)}/sparse") {
      SparseVec.build(Tables.embeddings(s, dir), "vec_id", "embedding",
        topN = 8, _)
    }

  /** The term artifact over all documents in one build: the prefix,
    * fuzzy and suffix entries' index. Returns its dir. */
  def prefixTerms(s: SparkSession, dir: String): String =
    dirOnce(s, tmp("prefix_terms", dir)) {
      TermIndex.build(Tables.documents(s, dir), "doc_id", "text", _)
    }

  /** The router's lexical tier: one term build over all documents,
    * apart from [[prefixTerms]] so the panel measures the tier its thunk
    * serves. Returns its dir. */
  def routerLexTerms(s: SparkSession, dir: String): String =
    dirOnce(s, routerLexTermsDir(dir)) {
      TermIndex.build(Tables.documents(s, dir), "doc_id", "text", _)
    }

  def routerLexTermsDir(dir: String): String = tmp("routerlex_terms", dir)

  /** The term artifact with its trigram layout: the infix entries'
    * index. Returns its dir. */
  def infixTerms(s: SparkSession, dir: String): String =
    dirOnce(s, tmp("infix_terms", dir)) { idx =>
      TermIndex.build(Tables.documents(s, dir), "doc_id", "text", idx)
      TermIndex.buildTrigrams(s, idx)
    }

  /** The term artifact built over documents below id 300, then appended
    * with the rest: the phrase entries' two-segment index. Returns its
    * dir. */
  def phraseTerms(s: SparkSession, dir: String): String =
    dirOnce(s, tmp("phrase_terms", dir)) { idx =>
      val docs = Tables.documents(s, dir)
      TermIndex.build(docs.where(col("doc_id") < 300), "doc_id", "text", idx)
      TermIndex.append(docs.where(col("doc_id") >= 300), "doc_id", "text",
        idx)
    }
}
