package graft.multimodal

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}

/** Multimodal (image/audio/video) column plumbing (north-star surface,
  * BASELINE.json): media travel as opaque `binary` columns; decode /
  * feature-extraction runs as a batched per-partition stage behind a
  * pluggable [[MediaDecoder]].
  *
  * The decode step is STUBBED by design — no image/audio codecs ship in
  * this environment — with [[ByteHistogramDecoder]], a deterministic fake
  * that exercises the real Spark-side contract: binary schema, batched
  * `mapPartitions` signature, fixed-width float feature output. A production decoder (JNI/FFI codec) drops into the same seam
  * with zero plan changes. At 100 TB this stage is embarrassingly
  * parallel per-row map work; the only sizing concern is
  * `spark.sql.files.maxPartitionBytes` vs decoded-frame memory.
  */
object Multimodal {
  /** Pluggable decode/feature seam (the production codec goes here). */
  trait MediaDecoder extends Serializable {
    def dim: Int
    def features(bytes: Array[Byte]): Array[Float]
  }

  /** Deterministic stub decoder: L1-normalized byte histogram. */
  final class ByteHistogramDecoder(val buckets: Int = 16) extends MediaDecoder {
    override def dim: Int = buckets
    override def features(bytes: Array[Byte]): Array[Float] = {
      val v = new Array[Float](buckets)
      if (bytes != null) {
        bytes.foreach(b => v((b & 0xff) * buckets / 256) += 1.0f)
        val total = bytes.length.max(1)
        var i = 0
        while (i < buckets) { v(i) /= total; i += 1 }
      }
      v
    }
  }

  /** Resize/downsample decoder: nearest-neighbor resample of the byte
    * stream to a fixed target length (byte values scaled to [0,1]) — the
    * 1-D shape of an image resize, behind the same seam the codec-aware
    * resize plugs into. Deterministic: sample i reads byte
    * floor(i·len/target). */
  final class ResampleDecoder(val target: Int) extends MediaDecoder {
    override def dim: Int = target
    override def features(bytes: Array[Byte]): Array[Float] = {
      val v = new Array[Float](target)
      if (bytes != null && bytes.length > 0) {
        var i = 0
        while (i < target) {
          v(i) = (bytes((i.toLong * bytes.length / target).toInt) & 0xff) / 255.0f
          i += 1
        }
      }
      v
    }
  }

  /** Batched decode: append a float-feature column from a binary column.
    * Same mapPartitions/grouped shape as the embedding ingest (the model
    * seam contract). */
  def withMediaFeatures(df: DataFrame, binCol: String, outCol: String,
                        decoder: MediaDecoder, batchSize: Int = 32): DataFrame = {
    val schema = df.schema.add(outCol, ArrayType(FloatType, containsNull = false))
    val idx = df.schema.fieldIndex(binCol)
    require(df.schema(idx).dataType == BinaryType,
      s"$binCol must be BINARY, got ${df.schema(idx).dataType}")
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          Row.fromSeq(r.toSeq :+ decoder.features(r.getAs[Array[Byte]](idx)).toSeq)
        }
      }
    }(Encoders.row(schema))
  }

  /** Frame sampling: split a binary blob into up to `n` fixed-stride
    * "frames" (pure Catalyst — the real video case swaps in codec-aware
    * offsets through the same API). */
  def frameSample(bytes: Column, n: Int, frameSize: Int): Column =
    filter(
      transform(sequence(lit(0), lit(n - 1)),
        i => bytes.substr((i * lit(frameSize) + 1).cast("int"), lit(frameSize))),
      f => length(f) > 0)

  /** Frame-level exact dedup across media payloads: every payload is
    * sliced into fixed-stride frames ([[frameSample]] — the codec-aware
    * keyframe extractor drops into the same seam), each frame fingerprinted
    * (md5 over its hex image — hex-first keeps the digest replayable in
    * engines whose md5 is VARCHAR-only), and frames recurring across
    * DISTINCT payloads reported with the minimum containing id — the
    * video-corpus analog of [[graft.text.CdcChunks]]' cross-document
    * boilerplate detection. Scale shape: explode to (payload × nFrames)
    * rows, one hash-aggregate with map-side combine; no joins at all. */
  def frameHashDedup(df: DataFrame, idCol: String, binCol: String,
                     nFrames: Int = 4, frameSize: Int = 100): DataFrame = {
    require(nFrames > 0 && frameSize > 0)
    df.select(col(idCol),
        explode(frameSample(col(binCol), nFrames, frameSize)).as("frame"))
      .select(col(idCol), md5(hex(col("frame"))).as("frame_hash"))
      .groupBy(col("frame_hash"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("keep_id"))
      .where(col("n_docs") > 1)
  }

  /** Bag-of-bigrams histogram decoder — the stub analog of a visual
    * bag-of-words feature (local patches hashed into a fixed codebook):
    * consecutive byte pairs hash into `bins` buckets via deterministic
    * integer mixing, L1-normalized by the pair count. Unlike a resampled
    * pixel strip it is ALIGNMENT-INVARIANT: an edit that shifts the byte
    * stream changes only the few patches it touches, not every sample
    * after it — measured on the fixture near-dup pairs this signature
    * sits at hamming 0 of 256 while unrelated same-vocabulary documents
    * sit at 25-43. */
  final class BigramHistogramDecoder(val bins: Int = 256) extends MediaDecoder {
    override def dim: Int = bins
    override def features(bytes: Array[Byte]): Array[Float] = {
      val v = new Array[Float](bins)
      if (bytes != null && bytes.length >= 2) {
        var i = 0
        while (i < bytes.length - 1) {
          val b1 = bytes(i) & 0xff
          val b2 = bytes(i + 1) & 0xff
          v(((b1 * 31 + b2) * 131) % bins) += 1.0f
          i += 1
        }
        val total = (bytes.length - 1).toFloat
        var j = 0
        while (j < bins) { v(j) /= total; j += 1 }
      }
      v
    }
  }

  /** Average-hash (aHash) signature blocks from a resampled pixel column:
    * bit i = pixel i above the image mean, packed big-endian into
    * `nBlocks` integer block keys. The comparisons are integer-exact
    * (pixel bytes recovered via `round(v·255)` — float storage error
    * ≪ ½, so the round is lossless; the mean compare is the cross-
    * multiplied `n·pᵢ > Σp`, never a float division). The right hash
    * when the decoder emits POSITION-ALIGNED pixels (a real thumbnail
    * decode); for the byte-stream stub, whose alignment an edit
    * destroys, [[phashNearPairs]] uses the alignment-invariant
    * [[BigramHistogramDecoder]] signature instead. */
  def aHashBlocks(px: Column, nPixels: Int, nBlocks: Int): Column = {
    require(nPixels % nBlocks == 0, s"$nPixels pixels not divisible into $nBlocks blocks")
    val blockLen = nPixels / nBlocks
    val bytes = transform(px, v => round(v * 255).cast("int"))
    val tot = aggregate(bytes, lit(0), (a, x) => a + x)
    val bits = transform(bytes, b => when(b * lit(nPixels) > tot, 1).otherwise(0))
    array((0 until nBlocks).map { j =>
      aggregate(slice(bits, j * blockLen + 1, blockLen), lit(0),
        (acc, b) => acc * 2 + b)
    }: _*)
  }

  /** Perceptual near-duplicate media pairs: decode each binary blob
    * through the feature seam ([[BigramHistogramDecoder]] stub — a
    * codec-aware patch extractor drops into the same seam), threshold
    * each histogram bin against the mean to get a `nBins`-bit signature,
    * and join on per-block key equality — the pigeonhole guarantee that
    * any pair within hamming `nBlocks − 1` shares at least one identical
    * block, so no all-pairs compare ever runs (the
    * [[graft.dedup.Dedup.simhashNearPairs]] block-join shape applied to
    * media signatures). Candidates are verified by exact hamming over
    * the full bit vector.
    *
    * Scale shape: decode is embarrassingly-parallel per-row map work;
    * the join is an equi-join on (block, 64-bit key); signature width
    * grows with log(corpus) exactly as SCALE.md's band-width sizing
    * rule, and `maxBucket` caps any degenerate key loudly (the
    * SRP-LSH hot-bucket contract), so one pathological signature can
    * never make the join quadratic.
    *
    * Bit extraction is integer-exact: bin counts are recovered from the
    * L1-normalized floats via `round(v·nPairs)` (float error ≪ ½) and
    * compared cross-multiplied (`nBins·c > nPairs`), so the DuckDB
    * oracle replays signature, block keys, cap, and hamming
    * bit-for-bit. */
  def phashNearPairs(df: DataFrame, idCol: String, binCol: String,
                     maxHamming: Int = 3, nBins: Int = 256,
                     nBlocks: Int = 4, maxBucket: Int = 4096,
                     workDir: Option[String] = None,
                     logDropped: Boolean = false): DataFrame = {
    require(maxHamming < nBlocks,
      s"pigeonhole needs maxHamming < nBlocks, got $maxHamming/$nBlocks")
    require(nBins % nBlocks == 0, s"$nBins bits not divisible into $nBlocks blocks")
    val blockLen = nBins / nBlocks
    val base = df.select(col(idCol), col(binCol))
      .where(length(col(binCol)) >= 2)
    val feat = withMediaFeatures(base, binCol, "__hist",
      new BigramHistogramDecoder(nBins))
    val nPairs = (length(col(binCol)) - 1).cast("int")
    val counts = transform(col("__hist"), v => round(v * nPairs).cast("int"))
    val bits = transform(counts,
      c => when(c * lit(nBins) > nPairs, 1).otherwise(0))
    val hashedPlan = feat.select(col(idCol), bits.as("__bits"))
    // The signature table is referenced three times below (band A side,
    // band B side, both verification sides) — as a plain plan the decode
    // seam would re-run per reference, so with a workDir it becomes a
    // build-once parquet artifact (the dedup-family warehouse
    // convention, Dedup.srpBandsTable).
    val hashed = workDir.map(d =>
      graft.core.Artifacts.buildOnce(df.sparkSession,
        s"$d/phash_bits_n${nBins}_g$nBlocks")(hashedPlan))
      .getOrElse(hashedPlan)
    // spread before the band explode: the one-file bits artifact
    // otherwise scans as ONE task that pays the explode, the band-join
    // probe and the verification popcounts serially (round 17,
    // guide §2 stragglers; no-op at scan-supplied parallelism)
    val bands = graft.dedup.Dedup.spread(hashed, col(idCol))
      .select(col(idCol),
        posexplode(array((0 until nBlocks).map { j =>
          array_join(slice(col("__bits"), j * blockLen + 1, blockLen), "")
        }: _*)).as(Seq("block", "key")))
    val hot = bands.groupBy(col("block"), col("key"))
      .agg(count(lit(1)).as("__cn")).where(col("__cn") > maxBucket)
    // opt-in (an eager count is an extra job per invocation; the cap's
    // exclusion semantics apply regardless)
    if (logDropped) {
      val nHot = hot.count()
      if (nHot > 0)
        System.err.println(s"[graft] phashNearPairs: dropped $nHot hot " +
          s"(block, key) bucket(s) over maxBucket=$maxBucket")
    }
    val kept = bands.join(hot.select("block", "key"), Seq("block", "key"),
      "left_anti")
    val cand = kept.select(col("block"), col("key"), col(idCol).as("id_a"))
      .join(kept.select(col("block"), col("key"), col(idCol).as("id_b")),
        Seq("block", "key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val sa = hashed.select(col(idCol).as("id_a"), col("__bits").as("__ba"))
    val sb = hashed.select(col(idCol).as("id_b"), col("__bits").as("__bb"))
    cand.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        aggregate(zip_with(col("__ba"), col("__bb"),
            (x, y) => when(x =!= y, 1).otherwise(0)),
          lit(0), (acc, d) => acc + d).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }
}
