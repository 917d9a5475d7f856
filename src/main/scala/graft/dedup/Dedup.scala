package graft.dedup

import graft.functions.VectorFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators for LLM training-data pipelines (north-star
  * surface, BASELINE.json): exact, n-gram Jaccard, MinHash+LSH, SimHash,
  * embedding-cosine near-dup.
  *
  * Scale design notes (100 TB):
  *  - exact dedup is a single hash-aggregate on the fingerprint — the
  *    canonical map-side-combine shuffle; no row texts move, only digests;
  *  - MinHash+LSH is the sub-quadratic path: signatures are per-row map
  *    work, banding turns near-dup detection into an equi-JOIN on band
  *    keys (shuffle by band hash), never an all-pairs comparison;
  *  - the all-pairs Jaccard/cosine forms below are for small corpora /
  *    verification of the LSH candidates (the classic verify step);
  *  - hashes are md5-based so the DuckDB oracle reproduces them exactly
  *    (Spark's murmur3 `hash()` is not portable across engines).
  *
  * Shared-intermediate contract (signatures, capped postings, band
  * tables): every pair/candidate operator consumes its intermediate from
  * MORE than one side of a self-join, so each takes a `workDir` — when
  * provided, the intermediate is a build-once parquet artifact
  * ([[graft.core.Artifacts.buildOnce]], the same convention as
  * [[graft.search.Quantize.quantizedTable]] and the IVF index dirs) that
  * both join sides scan; when omitted (small inputs, tests) the
  * intermediate is recomputed per consumer. Nothing is `cache()`d: an
  * un-evicted executor cache is the easiest way to OOM a 100 TB corpus
  * run, a parquet artifact is bounded only by storage.
  */
object Dedup {
  /** Distinct token 3-gram shingles (rows with <n tokens yield none).
    * Backed by the codegen'd [[graft.functions.TokenShingles]] kernel —
    * the equivalent higher-order-function formulation
    * (`array_distinct(transform(sequence(...), i -> concat_ws(' ',
    * slice(toks, i, n))))`) is interpreted per element and profiled
    * ~1 ms/document, dominating every shingle-based dedup operator. */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.TextFunctions.tokenShingles(text, n)

  /** Exact dedup: group rows by content fingerprint; keep lowest id.
    * (hash-groupBy — SURVEY north star "exact (hash-groupBy)"). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Jaccard similarity of two (already-distinct) shingle arrays; two
    * empty sets are defined as 0.0 (not the NULL a bare 0/0 division
    * would yield under non-ANSI semantics). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(a) + size(b) - inter
    round(when(union === 0, 0.0)
      .otherwise(inter.cast(DoubleType) / union) + lit(1e-9), 4)
  }

  /** n-gram Jaccard top-k pairs via an INVERTED INDEX, not a cross join:
    * explode shingles, self-equi-join on the shingle (shuffle by shingle
    * hash), count co-occurrences per pair = |intersection|, then derive
    * Jaccard from the per-doc shingle counts. Pairs sharing no shingle
    * have Jaccard 0 and can never reach a top-k, so skipping them is
    * lossless. Cost is Σ_shingle (docs-per-shingle)² instead of |docs|².
    *
    * Document-frequency cap (the 100 TB guard): join cost is quadratic in
    * the hottest posting list, and stopword-ish shingles ("of the same")
    * appear in a constant fraction of any natural corpus, so the uncapped
    * join degrades toward all-pairs as the corpus grows. Shingles whose
    * document frequency exceeds ceil(maxDfFrac × corpus) are dropped from
    * EVERY shingle set before Jaccard — i.e. the operator's defined
    * semantics are capped-df Jaccard (the standard near-dup practice:
    * corpus-frequent shingles carry no dedup signal), and the DuckDB
    * oracle computes the identical definition, so the comparison stays
    * exact. `maxDfFrac = 1.0` restores uncapped Jaccard.
    *
    * No O(corpus) broadcast anywhere: per-doc sizes ride through the
    * self-join as one extra long per posting instead of a broadcast
    * side-table re-attach. */
  /** Spread a compute-heavy frame across at least the cluster's cores
    * (round 17, guide §2 stragglers): EXPLICIT numPartitions, because a
    * keyed `repartition(col)` without one is an AQE-coalescible
    * exchange — input BYTES are tiny for a fixture-sized corpus, so AQE
    * folds the whole exploding join back into ONE task and a 32-core
    * host watches one core verify every candidate pair. Derived from
    * `defaultParallelism` (cluster width, not a local constant) and a
    * no-op when the input already carries that much parallelism, so at
    * scale the scan's own partitioning wins and no shuffle is added. */
  private[graft] def spread(df: DataFrame, key: Column): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= n) df else df.repartition(n, key)
  }

  def jaccardTopPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int, n: Int = 3, maxDfFrac: Double = 0.05,
                      workDir: Option[String] = None): DataFrame = {
    // Shuffle the RAW (id, text) rows before shingling: text is smaller
    // than its exploded shingle set, so spreading the compute across the
    // cluster here is cheaper than shuffling postings later — and a small
    // fixture file otherwise scans as a single busy core.
    val base = spread(df.select(col(idCol).as("id"), col(textCol).as("text")),
      col("id"))
    // sh is deliberately NOT cached: the codegen TokenShingles kernel
    // makes recomputing the arrays per consumer cheaper than
    // materializing them (measured ~40% on the fixture)
    val sh = base.select(col("id"), shingles(col("text"), n).as("sh"))
      .where(size(col("sh")) > 0)
    val postings = sh.select(col("id"), explode(col("sh")).as("shingle"))
    val nDocs = sh.agg(count(lit(1)).as("n_docs"))           // 1 row
    val dfCounts = postings.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df_"))
    // kept feeds sizes + both self-join sides → build-once artifact when a
    // workDir is given (the capped-postings table IS the dedup index a
    // warehouse run stores); without one, the postings⋈dfCounts join
    // reruns per consumer
    val keptPlan = postings.join(dfCounts, "shingle")
      .crossJoin(broadcast(nDocs))
      .where(col("df_") <= ceil(col("n_docs") * lit(maxDfFrac)))
      .select(col("id"), col("shingle"))
    val kept = workDir.map(d =>
      graft.core.Artifacts.buildOnce(df.sparkSession,
        s"$d/jaccard_postings_n${n}_df$maxDfFrac")(keptPlan))
      .getOrElse(keptPlan)
    val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    // Pin the PAIR JOIN's parallelism: its cost is quadratic
    // (Σ df² intermediate rows) while its input BYTES are tiny, so
    // AQE's size-based coalescing folds it into one straggler task.
    // An explicit shingle-hash repartition feeds both sides — the very
    // exchange the self-join would insert anyway, just with the count
    // pinned (conf-driven, not AQE-guessed) and REUSED by both sides,
    // so no extra shuffle at any scale. Count = max(cluster cores,
    // spark.sql.shuffle.partitions): cores floor the local/small case,
    // the conf carries the production tuning.
    val ss = df.sparkSession
    val joinN = math.max(ss.sparkContext.defaultParallelism,
      ss.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    val withSz = kept.join(sizes, "id").repartition(joinN, col("shingle"))
    val a = withSz.select(col("id").as("id_a"), col("shingle"),
      col("sz").as("sz_a"))
    val b = withSz.select(col("id").as("id_b"), col("shingle"),
      col("sz").as("sz_b"))
    a.join(b, Seq("shingle"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast(DoubleType) /
          (col("sz_a") + col("sz_b") - col("inter")) + lit(1e-9), 4)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("id_a").asc, col("id_b").asc)
      .limit(k)
  }

  /** MinHash signature as `numHashes` lexicographic-min md5 digests of
    * salted shingles. Min-over-md5-strings is a valid min-hash family and
    * is reproducible in any engine with md5. (Column-expression form; the
    * batch path in [[minhashSignatures]] computes a cheaper sliced-digest
    * family with one materialized digest per shingle.) */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    array((0 until numHashes).map { h =>
      array_min(transform(sh, s => md5(concat(lit(s"$h:"), s))))
    }: _*)

  /** Batch MinHash signatures: each row is signed in place by the
    * codegen'd [[graft.functions.MinHashSlices]] kernel — `numHashes`
    * 8-hex slices of ceil(numHashes/4) salted md5 digests per shingle,
    * min over the row's shingles (min-of-slices of independent digests is
    * a valid min-hash family with 32-bit slice resolution) — then one
    * component-wise min per id. The per-id min is the union-of-rows
    * semantics a collection holding superseded rows of one id needs, and
    * partial aggregation applies to it, so at scale each executor ships
    * one signature per id; a single-partition batch needs no exchange at
    * all. Rows with no shingle (fewer than `shingleN` tokens, empty or
    * null text) sign nothing. Returns (id, sig ARRAY<STRING>[numHashes]). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingleN: Int = 3): DataFrame =
    df.select(col(idCol).as("id"), graft.functions.TextFunctions
        .minhashSlices(col(textCol), shingleN, numHashes).as("rs"))
      .where(size(col("rs")) > 0)
      .groupBy(col("id"))
      .agg(array((0 until numHashes).map(h =>
        min(col("rs").getItem(h))): _*).as("sig"))

  /** MinHash estimate of Jaccard = fraction of matching components. */
  def minhashSimilarity(sigA: Column, sigB: Column, numHashes: Int): Column =
    round((0 until numHashes)
      .map(i => when(sigA.getItem(i) === sigB.getItem(i), 1.0).otherwise(0.0))
      .reduce(_ + _) / numHashes, 4)

  /** MinHash + LSH banding: candidate pairs sharing at least one band key,
    * with their estimated Jaccard. `bandSize` hashes per band;
    * `numHashes` must be divisible by `bandSize`.
    *
    * Plan shape: signature map → explode bands → shuffle by (band, key)
    * equi-join → distinct pairs. Cost is O(rows × bands) + join on
    * colliding keys only — the sub-quadratic LSH contract. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 8, bandSize: Int = 1,
                        shingleN: Int = 3,
                        workDir: Option[String] = None): DataFrame = {
    require(numHashes % bandSize == 0, "numHashes must be divisible by bandSize")
    // the band self-join consumes every signature on both sides → with a
    // workDir the signature table is a build-once parquet artifact (what a
    // warehouse run stores anyway); without one it recomputes per side
    val sigPlan = minhashSignatures(df, idCol, textCol, numHashes, shingleN)
    val sig = workDir.map(d =>
      graft.core.Artifacts.buildOnce(df.sparkSession,
        s"$d/minhash_sig_h${numHashes}_n$shingleN")(sigPlan))
      .getOrElse(sigPlan)
    // The signatures ride THROUGH the band join (numHashes 8-hex strings
    // per row, duplicated nBands times in the band shuffle) so the
    // similarity is computed in-line and no O(corpus) side table is ever
    // broadcast or re-joined — the shape that survives a 100× corpus.
    val bands = minhashBands(sig, numHashes, bandSize)
    val l = bands.select(col("band"), col("band_key"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val r = bands.select(col("band"), col("band_key"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    // est_jaccard is deterministic per pair, so distinct() on the full
    // projection equals distinct-on-pairs; the distinct rows are two
    // longs and a double — cheaper than evaluating a first-matching-band
    // predicate on every join row.
    l.join(r, Seq("band", "band_key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        minhashSimilarity(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
      .distinct()
  }

  /** Band table (id, sig, band, band_key) for a signature table. */
  private def minhashBands(sig: DataFrame, numHashes: Int,
                           bandSize: Int): DataFrame = {
    val nBands = numHashes / bandSize
    sig.select(col("id"), col("sig"),
      posexplode(array((0 until nBands).map { b =>
        concat_ws("|", (0 until bandSize).map(j =>
          col("sig").getItem(b * bandSize + j)): _*)
      }: _*)).as(Seq("band", "band_key")))
  }

  /** Incremental near-dup ingest — the nightly-batch dedup shape: NEW
    * documents are checked against the EXISTING corpus's signatures only
    * (never new×new, never old×old — intra-batch duplicates are a
    * separate [[minhashCandidates]] pass if wanted). The historical
    * signature table is the build-once parquet artifact a warehouse run
    * maintains anyway (given `workDir`); the new batch's signatures are
    * computed in-plan, so ingesting N rows costs O(N) signature work
    * plus a band equi-join against the artifact — the corpus is never
    * re-signed. Each new document reports its best historical match
    * (highest estimated Jaccard, min old id tie-break) at or above
    * `minEst`; new documents with no qualifying match emit nothing
    * (they are the fresh rows the ingest keeps). */
  def minhashIncrementalDupes(oldDf: DataFrame, newDf: DataFrame,
                              idCol: String, textCol: String,
                              numHashes: Int = 8, bandSize: Int = 1,
                              shingleN: Int = 3, minEst: Double = 0.5,
                              workDir: Option[String] = None): DataFrame = {
    require(numHashes % bandSize == 0, "numHashes must be divisible by bandSize")
    val oldSigPlan = minhashSignatures(oldDf, idCol, textCol, numHashes, shingleN)
    val oldSig = workDir.map(d =>
      graft.core.Artifacts.buildOnce(oldDf.sparkSession,
        s"$d/minhash_hist_h${numHashes}_n$shingleN")(oldSigPlan))
      .getOrElse(oldSigPlan)
    val newSig = minhashSignatures(newDf, idCol, textCol, numHashes, shingleN)
    val o = minhashBands(oldSig, numHashes, bandSize)
      .select(col("band"), col("band_key"),
        col("id").as("__old_id"), col("sig").as("__sig_o"))
    val n = minhashBands(newSig, numHashes, bandSize)
      .select(col("band"), col("band_key"),
        col("id").as("__new_id"), col("sig").as("__sig_n"))
    // one aggregate per new id picks its best match: the min of
    // (−est, old id) is the max est with the min old id among its ties,
    // and a pair found through several bands is the same pair
    n.join(o, Seq("band", "band_key"))
      .select(col("__new_id"), col("__old_id"),
        minhashSimilarity(col("__sig_n"), col("__sig_o"), numHashes)
          .as("est_jaccard"))
      .where(col("est_jaccard") >= minEst)
      .groupBy(col("__new_id"))
      .agg(min(struct((-col("est_jaccard")).as("neg_est"),
        col("__old_id").as("old_id"))).as("best"))
      .select(col("__new_id").as(idCol), col("best.old_id").as("dup_of"),
        (-col("best.neg_est")).as("est_jaccard"))
  }

  /** Batch SimHash via explode + groupBy: md5 evaluated ONCE per distinct
    * token (⌈bits/32⌉ salted digests, concatenated — salt appended like
    * [[srpWeights]], so any 32-slot prefix is identical at every width
    * and widening the signature never changes slots an oracle already
    * pins), `bits` nibble-sum aggregates over the materialized digest
    * (the Column form below recomputes md5 16× per token). Partial
    * aggregation applies to the sums. Default 16 slots is the compact
    * demo width; production near-dup runs want 64 (see
    * [[simhashNearPairs]]'s packed verify, which caps the width).
    *
    * `featureShingleN` picks the feature set the signature hashes:
    * ≤ 1 = distinct whitespace tokens (the compact demo form); n ≥ 2 =
    * distinct token n-gram shingles — ORDER-SENSITIVE features, the form
    * a production corpus needs (on a small shared vocabulary, distinct
    * token SETS collapse to a handful of values and unrelated documents
    * land at hamming 0; shingles keep the feature space rich). Documents
    * with fewer than n tokens have no shingles and emit no signature —
    * the same exclusion rule as every shingle-based dedup operator here.
    * Returns (idCol, sig ARRAY<INT>[bits]). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        bits: Int = 16,
                        featureShingleN: Int = 1): DataFrame = {
    require(bits >= 1 && bits <= 64,
      s"simhash signature width must be in [1, 64], got $bits")
    val nDigests = (bits + 31) / 32
    val digestConcat = concat((0 until nDigests).map { i =>
      if (i == 0) md5(col("tok")) else md5(concat(lit(s"$i:"), col("tok")))
    }: _*)
    val feats =
      if (featureShingleN <= 1) array_distinct(split(col("text"), "\\s+"))
      else shingles(col("text"), featureShingleN)
    // raw-text repartition by id: parallel md5/nibble work + the
    // groupBy(id) reuses the partitioning (no digest-row shuffle)
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(col("id"))
      .select(col("id"), explode(feats).as("tok"))
      .withColumn("h", digestConcat)
      .groupBy(col("id"))
      .agg(array((1 to bits).map { p =>
        when(sum(conv(substring(col("h"), p, 1), 16, 10).cast(DoubleType)
          - lit(7.5)) > 0, 1).otherwise(0)
      }: _*).as("sig"))
  }

  /** SimHash over md5 nibbles: 16-dimensional sign-of-sum signature.
    * Portable across engines (md5-only); hamming distance via array ops. */
  def simhash(text: Column): Column = {
    val toks = array_distinct(split(text, "\\s+"))
    array((1 to 16).map { p =>
      val nibbleSum = aggregate(
        transform(toks, t =>
          // nibble value 0..15 at hex position p, centered at 7.5
          conv(substring(md5(t), p, 1), 16, 10).cast(DoubleType) - lit(7.5)),
        lit(0.0), (acc, v) => acc + v)
      when(nibbleSum > 0, 1).otherwise(0)
    }: _*)
  }

  /** Hamming distance between two equal-length int-array signatures. */
  def hamming(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map(i =>
      when(a.getItem(i) =!= b.getItem(i), 1).otherwise(0)).reduce(_ + _)

  /** All SimHash pairs within `maxHamming` via PIGEONHOLE BANDING, not an
    * all-pairs compare: split the 16-slot signature into `maxHamming + 1`
    * contiguous blocks — if two signatures differ in at most `maxHamming`
    * slots, at least one block is slot-for-slot identical (pigeonhole), so
    * an equi-join on (block_index, block_value) finds every qualifying
    * pair. Hamming is then verified on the full signatures (carried
    * through the join — 16 ints/row, never a broadcast side table) and
    * duplicates from multi-block matches removed. Same output as the
    * quadratic form; join cost is Σ_block (rows-per-key)², which at corpus
    * scale is driven by genuinely-near-dup clusters rather than n². */
  def simhashNearPairs(df: DataFrame, idCol: String, textCol: String,
                       maxHamming: Int = 1, bits: Int = 16,
                       workDir: Option[String] = None,
                       featureShingleN: Int = 1): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits)
    // width cap matches simhashSignatures (⌈bits/32⌉ md5 digests); the
    // packed verify below words the slots into ≤32-bit Longs, so no fold
    // ever overflows or truncates at any supported width
    require(bits <= 64,
      s"simhash signature width must be <= 64, got $bits")
    val nBlocks = maxHamming + 1
    val bounds = (0 to nBlocks).map(b => b * bits / nBlocks)
    val sigPlan = simhashSignatures(df, idCol, textCol, bits, featureShingleN)
    val sig = workDir.map(d =>
      graft.core.Artifacts.buildOnce(df.sparkSession,
        s"$d/simhash_sig_b${bits}_f$featureShingleN")(sigPlan))
      .getOrElse(sigPlan)
    // signatures are carried through the join PACKED into ⌈bits/32⌉
    // longs (big-endian Horner over ≤32 0/1 slots per word — one word
    // never exceeds 32 slots, so the fold cannot overflow a signed Long
    // even at the 64-slot production width) so the hamming verification
    // on every candidate row is one codegen bit_count(XOR) per word
    // instead of `bits` array-element compares — on a saturated
    // signature space (common-vocab corpora bias the sign bits, so block
    // keys skew hot and the join emits millions of candidates) this is
    // the difference between a ~30 s and a ~3 s verification pass at
    // sf0.1. Per-word packed equality ⇔ slotwise equality, so output is
    // byte-identical to the array formulation the oracle mirrors.
    val nWords = (bits + 31) / 32
    def packedWord(wi: Int): Column = {
      val lo = wi * 32
      val hi = math.min(bits, lo + 32)
      aggregate(slice(col("sig"), lo + 1, hi - lo), lit(0L),
        (acc, v) => acc * 2 + v)
    }
    // spread before the block explode: the one-file signature artifact
    // otherwise scans as ONE task that pays the explode, the band-join
    // probe and every packed-hamming verify serially (round 17,
    // guide §2 stragglers; no-op at scan-supplied parallelism)
    val blocks = spread(sig, col("id")).select(
      Seq(col("id")) ++
        (0 until nWords).map(wi => packedWord(wi).as(s"psig$wi")) ++
        Seq(posexplode(array((0 until nBlocks).map { b =>
          concat_ws("", (bounds(b) until bounds(b + 1)).map(i =>
            col("sig").getItem(i)): _*)
        }: _*)).as(Seq("block", "block_key"))): _*)
    val a = blocks.select(
      Seq(col("block"), col("block_key"), col("id").as("id_a")) ++
        (0 until nWords).map(wi => col(s"psig$wi").as(s"psig${wi}_a")): _*)
    val b = blocks.select(
      Seq(col("block"), col("block_key"), col("id").as("id_b")) ++
        (0 until nWords).map(wi => col(s"psig$wi").as(s"psig${wi}_b")): _*)
    val hammingExpr = (0 until nWords).map { wi =>
      call_function("bit_count",
        col(s"psig${wi}_a").bitwiseXOR(col(s"psig${wi}_b"))).cast("long")
    }.reduce(_ + _)
    // multi-block duplicates removed by distinct() AFTER the hamming
    // filter: the distinct rows are three longs, far cheaper to shuffle
    // than evaluating a first-matching-block predicate on every join row
    a.join(b, Seq("block", "block_key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hammingExpr.as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Deterministic signed-random-projection weights: plane `p` (1-based,
    * up to 128) weights dimension `i` (1-based) by nibble `p` of
    * md5("w" + i) ∥ md5("x" + i) ∥ md5("y" + i) ∥ md5("z" + i), centered
    * at 7.5. Salts are appended, so any prefix of planes is IDENTICAL at
    * every `bits` — widening the signature for a bigger corpus (the
    * band-width-grows-with-log-n rule, see SCALE.md) never changes the
    * planes an oracle already pins. Derived only from md5, so the DuckDB
    * oracle reproduces the identical planes (see DedupQueries). */
  def srpWeights(bits: Int, dim: Int): IndexedSeq[IndexedSeq[Double]] = {
    require(bits <= 128, s"srpWeights supports at most 128 planes, got $bits")
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val hexes = (1 to dim).map(i =>
      hex(s"w$i") + hex(s"x$i") + hex(s"y$i") + hex(s"z$i"))
    (1 to bits).map(p => (1 to dim).map(i =>
      Integer.parseInt(hexes(i - 1).substring(p - 1, p), 16) - 7.5))
  }

  /** SCALE.md's band-width sizing rule, operationalized: the SRP band
    * join's random-collision term is n²/2 · nBands · p^w (w = bits per
    * band, p ≈ 0.5 ideal), which stays at or below the planted-linear
    * term only while 2^w ≳ n — so the band width must GROW WITH log₂(n).
    * This helper returns ceil(log₂ n) + 6 bits per band: +3 because the
    * measured per-band collision on sign-correlated Gaussian clusters is
    * ~8× the ideal 2⁻ʷ (SCALE.md's 64 k decomposition), +3 headroom;
    * floored at the oracle-pinned 16-bit default and capped at
    * 128/nBands planes ([[srpWeights]]' derivation limit). At the
    * SCALE.md 256 k demonstration size this yields 24-bit bands (96
    * planes), the widening measured there to collapse candidates 5.5×;
    * salt-append plane derivation keeps every narrower prefix
    * byte-identical, so auto-widening never changes oracle-pinned
    * planes. */
  def bandBitsForCorpus(n: Long, nBands: Int = 4): Int = {
    require(n > 0 && nBands > 0)
    val w = math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt + 6
    math.min(128 / nBands, math.max(16, w))
  }

  /** Total SRP signature width (all bands) for a corpus of `n` vectors —
    * `nBands × bandBitsForCorpus(n)`; pass as `bits` to [[srpBands]] /
    * [[cosineCandidatePairs]] / the bulk-ANN joins. */
  def bitsForCorpus(n: Long, nBands: Int = 4): Int =
    nBands * bandBitsForCorpus(n, nBands)

  /** Sign-of-projection bit array for a float-vector column (codegen'd —
    * see [[graft.functions.SrpSignature]]; the interpreted
    * `aggregate(zip_with(...))` per plane dominated the signature stage
    * at 64 planes). */
  def srpSignature(vec: Column, weights: IndexedSeq[IndexedSeq[Double]]): Column =
    VectorFunctions.srpSignature(vec, weights)

  /** Banded SRP signature rows `(id, v, band, band_key)` — the exploded
    * LSH table both the dedup pair join and the bulk ANN join self-join
    * on. `band_key` is `bits / nBands` sign bits; at the 64-bit / 4-band
    * default that is 16 bits = 65 536 key values per band, so two
    * UNRELATED vectors collide with probability ≈ 0.5¹⁶ ≈ 1.5×10⁻⁵ per
    * band — candidate volume is driven by genuinely-similar clusters, not
    * by n² (the round-3 4-bit keys made candidates a constant ~20% of all
    * pairs; see VERDICT r3). */
  def srpBands(df: DataFrame, idCol: String, vecCol: String, dim: Int,
               bits: Int, nBands: Int): DataFrame = {
    require(bits % nBands == 0)
    val bandSize = bits / nBands
    val w = srpWeights(bits, dim)
    def bandKey(sigCol: Column, b: Int): Column =
      concat_ws("", (0 until bandSize).map(j =>
        sigCol.getItem(b * bandSize + j)): _*)
    val sig = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      srpSignature(col(vecCol), w).as("sig"))
    sig.select(col("id"), col("v"),
      posexplode(array((0 until nBands).map(b => bandKey(col("sig"), b)): _*))
        .as(Seq("band", "band_key")))
  }

  /** Hot LSH buckets: `(band, band_key, n_ids)` with more than `maxBucket`
    * members. The band self-join is quadratic in the hottest bucket, and a
    * real corpus has degenerate keys (near-zero vectors, mega-clusters of
    * boilerplate), so — exactly like the Jaccard df-cap — buckets beyond
    * the cap are dropped from the operator's DEFINED semantics, and this
    * table is the observable record of what was dropped. Tiny by
    * construction (only pathological keys exceed a sane cap). */
  def srpHotBuckets(bands: DataFrame, maxBucket: Int): DataFrame =
    bands.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n_ids"))
      .where(col("n_ids") > maxBucket)

  /** Bands minus hot buckets — broadcast anti-join, so the vector-carrying
    * band rows are never shuffled by the cap. */
  def srpKeptBands(bands: DataFrame, hot: DataFrame): DataFrame =
    bands.join(broadcast(hot.select(col("band"), col("band_key"))),
      Seq("band", "band_key"), "left_anti")

  /** Build-once parquet artifact of the capped band table (`dir/bands`)
    * plus its dropped-bucket record (`dir/dropped`) — the warehouse form:
    * signatures are computed ONCE per corpus, every dedup / bulk-ANN run
    * scans the artifact (see the class doc's shared-intermediate
    * contract). Logs the dropped-bucket count at build time. */
  def srpBandsTable(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                    bits: Int, nBands: Int, maxBucket: Int,
                    dir: String): DataFrame = {
    val spark = df.sparkSession
    val subdir = s"$dir/srp_b${bits}_g${nBands}_cap$maxBucket"
    val success = new org.apache.hadoop.fs.Path(s"$subdir/bands", "_SUCCESS")
    val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(success)) {
      val bands = srpBands(df, idCol, vecCol, dim, bits, nBands)
      val hot = srpHotBuckets(bands, maxBucket)
      hot.write.mode("overwrite").parquet(s"$subdir/dropped")
      val hotTable = spark.read.parquet(s"$subdir/dropped")
      val nDropped = hotTable.count()
      if (nDropped > 0)
        System.err.println(s"[graft] srpBandsTable: dropped $nDropped hot " +
          s"bucket(s) over cap=$maxBucket at $subdir/dropped")
      srpKeptBands(bands, hotTable)
        .write.mode("overwrite").parquet(s"$subdir/bands")
    }
    spark.read.parquet(s"$subdir/bands")
  }

  /** Build-once parquet artifact of the cosine-verified SRP-LSH pair set
    * (`dir/srp_pairs_*`): the band join + cosine kernel run ONCE per
    * corpus, and every consumer — dedup top-k, bulk ANN top-k, the
    * guaranteed-k variant's three-way plan — scans the (id_a, id_b,
    * cosine) parquet instead of re-executing the join per plan branch. */
  def srpVerifiedPairsTable(df: DataFrame, idCol: String, vecCol: String,
                            dim: Int, bits: Int, nBands: Int,
                            maxBucket: Int, dir: String): DataFrame =
    graft.core.Artifacts.buildOnce(df.sparkSession,
      s"$dir/srp_pairs_b${bits}_g${nBands}_cap$maxBucket") {
      cosineVerifiedPairs(
        srpBandsTable(df, idCol, vecCol, dim, bits, nBands, maxBucket, dir))
    }

  /** Cosine-verified SRP-LSH candidate pairs `(id_a, id_b, cosine)` over a
    * capped band table: equi-join on `(band, band_key)`, unordered pairs
    * once via `id_a < id_b` + `distinct()` (multi-band collisions are rare
    * at 16-bit keys — only true near-dups agree on 16 consecutive sign
    * bits twice — and the distinct rows are two longs and a double, the
    * same trade [[minhashCandidates]] makes). */
  def cosineVerifiedPairs(keptBands: DataFrame): DataFrame = {
    val a = keptBands.select(col("band"), col("band_key"),
      col("id").as("id_a"), col("v").as("v_a"))
    val b = keptBands.select(col("band"), col("band_key"),
      col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("band", "band_key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.cosineSim(col("v_a"), col("v_b")), 4).as("cosine"))
      .distinct()
  }

  /** Multi-probe variant of [[cosineVerifiedPairs]] (multi-probe LSH,
    * Lv et al. 2007): the probe side ALSO emits each band key's
    * `bandSize` single-bit-flip variants, so candidate pairs include
    * those whose keys differ by ≤ 1 bit in SOME band — the recall of
    * ~bandSize extra hash tables for bandSize× probe rows and zero extra
    * signatures or storage. The flip set is deterministic (positional),
    * so the oracle replays the widened candidate set exactly. */
  def cosineVerifiedPairsMultiprobe(keptBands: DataFrame,
                                    bandSize: Int): DataFrame = {
    val variants = explode(array((0 to bandSize).map { f =>
      if (f == 0) col("band_key")
      else concat(
        substring(col("band_key"), 1, f - 1),
        when(substring(col("band_key"), f, 1) === "0", lit("1"))
          .otherwise(lit("0")),
        substring(col("band_key"), f + 1, bandSize - f))
    }: _*))
    val a = keptBands.select(col("band"), variants.as("band_key"),
      col("id").as("id_a"), col("v").as("v_a"))
    val b = keptBands.select(col("band"), col("band_key"),
      col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("band", "band_key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.cosineSim(col("v_a"), col("v_b")), 4)
          .as("cosine"))
      .distinct()
  }

  /** Embedding-cosine near-dup: top-k most similar CANDIDATE pairs, where
    * candidates come from signed-random-projection LSH (cosine LSH):
    * `bits` md5-derived hyperplanes → sign bits → `nBands` band keys of
    * `bits / nBands` bits each; pairs sharing a (non-hot) band are
    * cosine-verified, everything else is never compared. This is the
    * 100 TB shape — signature is per-row codegen map work, the join is an
    * equi-join on 16-bit band keys (random collision ≈ 1.5×10⁻⁵ per
    * band), and `maxBucket` caps the quadratic cost of any degenerate
    * bucket with an observable dropped record ([[srpHotBuckets]]).
    * Near-identical vectors agree on almost every sign bit, so dedup-grade
    * pairs (cosine → 1) still collide with high probability. The planes
    * are deterministic (md5), so the DuckDB oracle computes the identical
    * candidate set — the comparison is exact, not statistical. */
  def cosineCandidatePairs(df: DataFrame, idCol: String, vecCol: String,
                           k: Int, dim: Int, bits: Int = 64,
                           nBands: Int = 4, maxBucket: Int = 4096,
                           workDir: Option[String] = None): DataFrame = {
    val pairs = workDir match {
      case Some(d) =>
        srpVerifiedPairsTable(df, idCol, vecCol, dim, bits, nBands,
          maxBucket, d)
      case None =>
        val bands = srpBands(df, idCol, vecCol, dim, bits, nBands)
        cosineVerifiedPairs(srpKeptBands(bands, srpHotBuckets(bands, maxBucket)))
    }
    pairs
      .orderBy(col("cosine").desc, col("id_a").asc, col("id_b").asc)
      .limit(k)
  }

  /** Connected components over near-dup candidate pairs: every document
    * gets the MINIMUM id reachable through the pair graph as its
    * `cluster_id` — the step a dedup pipeline runs after candidate
    * generation ("keep one representative per duplicate cluster").
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min of its own label and its neighbours' labels; fixpoint
    * when the label sum stops decreasing (labels are monotone
    * non-increasing, so an unchanged sum ⇔ unchanged labels). Rounds
    * needed = graph diameter; near-dup graphs are dense small clusters,
    * so 2-3 rounds in practice. Each round is one shuffle join + one
    * aggregate; `localCheckpoint` cuts the growing lineage so round N
    * doesn't replay rounds 1..N-1. For adversarially long path graphs
    * at corpus scale, swap the propagation step for the large-star/
    * small-star contraction (same DataFrame skeleton, O(log n) rounds).
    */
  def clusters(nodes: DataFrame, idCol: String, pairs: DataFrame,
               aCol: String = "id_a", bCol: String = "id_b",
               maxIters: Int = 50): DataFrame = {
    val edges = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(pairs
        .select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .localCheckpoint()
    var labels = nodes
      .select(col(idCol).cast("long").as("id"),
        col(idCol).cast("long").as("cluster_id"))
      .localCheckpoint()
    def labelSum(df: DataFrame): Long = {
      val r = df.agg(sum(col("cluster_id"))).head
      if (r.isNullAt(0)) 0L else r.getLong(0)   // null = empty node set
    }
    var checksum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val nbrMin = edges.join(labels, col("src") === col("id"))
        .groupBy(col("dst"))
        .agg(min(col("cluster_id")).as("nbr_min"))
      val next = labels.as("l")
        .join(nbrMin.as("p"), col("l.id") === col("p.dst"), "left")
        .select(col("l.id").as("id"),
          least(col("l.cluster_id"),
            coalesce(col("p.nbr_min"), col("l.cluster_id"))).as("cluster_id"))
        .localCheckpoint()
      val s = labelSum(next)
      converged = s == checksum
      checksum = s
      labels = next
      iter += 1
    }
    // fail LOUDLY on an unconverged fixpoint: silently returning
    // intermediate labels would hand the caller wrong clusters with no
    // signal (a >50-hop duplicate chain is pathological but possible)
    if (!converged)
      throw new IllegalStateException(
        s"clusters: not converged after $maxIters rounds " +
          "(graph diameter exceeds maxIters; raise maxIters or switch " +
          "to large-star/small-star contraction)")
    labels
  }

  /** Exact all-pairs top-k cosine — verification tier, O(n²) by
    * definition, so the input size is ENFORCED (`maxRows`, one count()
    * action): the silent trap of pointing it at a corpus fails fast
    * instead of launching an n²-pair broadcast join. The corpus-scale
    * entry point is [[cosineCandidatePairs]]. */
  def cosineTopPairs(df: DataFrame, idCol: String, vecCol: String,
                     k: Int, maxRows: Long = 100000L): DataFrame = {
    val n = df.count()
    require(n <= maxRows,
      s"cosineTopPairs is O(n²) verification tier: input has $n rows " +
        s"(> maxRows=$maxRows); use cosineCandidatePairs for corpora " +
        "or raise maxRows explicitly")
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.cosineSim(col("v_a"), col("v_b")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("id_a").asc, col("id_b").asc)
      .limit(k)
  }
}
