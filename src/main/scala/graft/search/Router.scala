package graft.search

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Serving-tier ROUTER — the choice among this engine's ~12 serving
  * tiers (flat / norm-pruned / IVF × metrics / SQ8 / PQ / OPQ / RQ /
  * asym-binary / graph × metrics / LSH) made an OPERATOR instead of a
  * README guide: Milvus's planner does this internally per query; on a
  * lakehouse the decision must be inspectable and replayable, so it is
  * a table, not a scalar — the `index_maintenance_plan` discipline
  * applied to serving.
  *
  * Inputs:
  *  - `panel` (tier, recall, cost): the MEASURED recall/cost table —
  *    cost in "rows touched per query" (flat = corpus rows, IVF = avg
  *    probed-partition rows, graph = the walk's visited-budget bound),
  *    recall against exact top-k on the same queries. A build-once
  *    tuning artifact, like the nprobe/beam autotune tables; the
  *    measurement arithmetic itself is oracle-replayed by the
  *    recall-report/autotune entries — HERE the oracle replays the
  *    DECISION from the staged panel.
  *  - `tiers` (name, present, filterCapable): artifact presence and
  *    whether the tier has an indexed-filter path (the round-10
  *    filter × index matrix: flat/IVF/graph do).
  *  - query shape: `selectivity` (1.0 = unfiltered) and `recallTarget`.
  *
  * Rules, in order (pure arithmetic, replayed by the oracle):
  *  1. a tier is ELIGIBLE iff its artifact is present, AND its
  *     modality matches the query's (round 12: "text" queries route
  *     to the lexical tier, "vector" queries to embedding tiers —
  *     Milvus dispatches BM25 full-text vs vector search the same
  *     way), AND (the query is unfiltered OR the tier is
  *     filter-capable), AND (selectivity ≥
  *     `exactFloorSelectivity` OR the tier is 'flat') — below the floor
  *     the filtered subset is so small that exact-over-survivors beats
  *     any index — AND (round 11) its serving residency
  *     `mem_bytes` fits `memoryBudget` when one is given: the panel's
  *     bytes column (the `quantizer_error_report` arithmetic promoted
  *     to an input) is what lets a RAM-constrained deployment route to
  *     SQ8/PQ instead of OOMing on flat — Milvus's quantized index
  *     tiers exist for exactly this axis.
  *  2. a tier MEETS the target iff eligible AND panel recall ≥ target.
  *  3. CHOSEN = the meeting tier with minimum cost, tier-name
  *     tie-break; if none meets, the eligible tier with the highest
  *     recall (cost tie-break) — degrade predictably, never refuse.
  *
  * PANEL FRESHNESS (round 11): a measured panel is only as good as the
  * artifacts it measured — after a rebalance/compaction/alias-flip the
  * costs and recalls are yesterday's. [[artifactFingerprint]] derives a
  * key from each tier artifact's published version (aliased roots) or
  * layout mtime (flat dirs); cache the panel UNDER that key and any
  * maintenance that changes an artifact forces a re-measure (the
  * OperatorSpec pin).
  *
  * Returns one row per panel tier: (tier, present, filter_capable,
  * eligible, recall, cost, mem_bytes, meets_target, chosen),
  * tier-ascending. */
object Router {
  /** `modality` (round 12): the query SHAPE a tier can serve — every
    * vector tier is "vector"; the lexical (BM25) tier is "text". A
    * text query can never route to an embedding index and vice versa,
    * so modality is an eligibility gate exactly like presence. */
  final case class Tier(name: String, present: Boolean,
                        filterCapable: Boolean,
                        modality: String = "vector")

  /** Count of recursive flat-root listings performed — the spec's probe
    * that a warm routed path does ZERO of them. */
  private[graft] val flatListings =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private val flatStatCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()
  private[graft] def clearFingerprintCache(): Unit = flatStatCache.clear()

  /** Freshness key over the tier artifacts a panel measures: per root,
    * the current published version when aliased ([[AliasedIndex]]),
    * else (round 12, the ADVICE hardening) the layout's latest file
    * mtime PLUS file count PLUS total byte size — mtime alone has
    * 1-second granularity on many filesystems, so an in-place rebuild
    * within the same second as the prior measure would leave the cached
    * panel stale; a rebuild that changes any file's size or the file
    * set flips the key even inside one mtime tick. Any maintenance verb
    * (alias advance, in-place fold, rebuild) changes the key.
    *
    * Cost bound (round 13): a FLAT root's stat is one recursive listing
    * — O(files), which at a warehouse-scale artifact (10⁵ files) would
    * become the routed path's per-query fixed cost. The stat is
    * therefore MEMOIZED per root for `flatTtlMillis` (default 1 s):
    * warm routed queries do ZERO listings (spec-pinned via
    * [[flatListings]]), and the trade is ≤ 1 s of decision staleness on
    * flat roots — shorter than any maintenance verb's runtime, and
    * irrelevant to ALIASED roots, which bypass the cache entirely (one
    * root listStatus, O(1); prefer aliased roots on the routed path).
    * Keyed with a 64-bit FNV-1a over the full parts string (the 32-bit
    * murmur key's collision surface retired). */
  def artifactFingerprint(spark: SparkSession, roots: Seq[String],
                          flatTtlMillis: Long = 1000L): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = roots.map { r =>
      val vs = AliasedIndex.publishedVersions(spark, r)
      if (vs.nonEmpty) s"v${vs.last}"
      else {
        val now = System.currentTimeMillis()
        val cached = flatStatCache.get(r)
        if (cached != null && now - cached._1 < flatTtlMillis) cached._2
        else {
          val p = new org.apache.hadoop.fs.Path(r)
          val fs = p.getFileSystem(conf)
          val part = if (!fs.exists(p)) "absent"
          else {
            // (max mtime, file count, total bytes) in one recursive walk
            flatListings.incrementAndGet()
            def stat(q: org.apache.hadoop.fs.Path): (Long, Long, Long) = {
              val st = fs.listStatus(q)
              if (st.isEmpty)
                (fs.getFileStatus(q).getModificationTime, 0L, 0L)
              else st.map { s =>
                if (s.isDirectory) stat(s.getPath)
                else (s.getModificationTime, 1L, s.getLen)
              }.reduce { (a, b) =>
                (math.max(a._1, b._1), a._2 + b._2, a._3 + b._3)
              }
            }
            val (mt, n, bytes) = stat(p)
            s"m$mt.n$n.b$bytes"
          }
          // never memoize ABSENT: the very next probe after a build must
          // see the artifact (caching "absent" would let decideTier pin
          // a decision for a tier that now exists); and bound the map —
          // one entry per root string, cleared if a pathological caller
          // cycles roots
          if (part != "absent") {
            if (flatStatCache.size() > 4096) flatStatCache.clear()
            flatStatCache.put(r, (now, part))
          }
          part
        }
      }
    }
    // 64-bit FNV-1a — deterministic across JVMs, no seed, public domain
    var h = 0xcbf29ce484222325L
    parts.mkString("|").foreach { c =>
      h ^= c.toLong; h *= 0x100000001b3L
    }
    java.lang.Long.toHexString(h)
  }

  def plan(spark: SparkSession, panel: DataFrame, tiers: Seq[Tier],
           selectivity: Double, recallTarget: Double,
           exactFloorSelectivity: Double = 0.0625,
           memoryBudget: Option[Long] = None,
           queryModality: String = "vector"): DataFrame = {
    require(selectivity > 0 && selectivity <= 1.0)
    val byName = tiers.map(t => t.name -> t).toMap
    // a round-10 panel has no mem_bytes column — treat it as 0 (always
    // fits), so legacy panels keep their decisions
    val withMem =
      if (panel.columns.contains("mem_bytes")) panel
      else panel.withColumn("mem_bytes", lit(0L))
    val p = withMem.select(col("tier"), col("recall").cast("double"),
        col("cost").cast("long"), col("mem_bytes").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getLong(3)))
      .sortBy(_._1)
    val rows = p.map { case (name, recall, cost, mem) =>
      val t = byName.getOrElse(name, Tier(name, present = false,
        filterCapable = false))
      val eligible = t.present && t.modality == queryModality &&
        (selectivity >= 1.0 || t.filterCapable) &&
        (selectivity >= exactFloorSelectivity || name == "flat") &&
        memoryBudget.forall(mem <= _)
      val meets = eligible && recall >= recallTarget
      (name, t.present, t.filterCapable, eligible, recall, cost, mem,
        meets)
    }
    val chosen: Option[String] = {
      val meeting = rows.filter(_._8)
      if (meeting.nonEmpty)
        Some(meeting.minBy { case (n, _, _, _, _, c, _, _) => (c, n) }._1)
      else {
        val eligible = rows.filter(_._4)
        if (eligible.isEmpty) None
        else Some(eligible
          .minBy { case (n, _, _, _, r, c, _, _) => (-r, c, n) }._1)
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (n, pr, fc, el, r, c, mem, m) =>
          Row(n, pr, fc, el, r, c, mem, m, chosen.contains(n))
        }.toSeq, 1),
      StructType(Seq(
        StructField("tier", StringType, nullable = false),
        StructField("present", BooleanType, nullable = false),
        StructField("filter_capable", BooleanType, nullable = false),
        StructField("eligible", BooleanType, nullable = false),
        StructField("recall", DoubleType, nullable = false),
        StructField("cost", LongType, nullable = false),
        StructField("mem_bytes", LongType, nullable = false),
        StructField("meets_target", BooleanType, nullable = false),
        StructField("chosen", BooleanType, nullable = false))))
  }
}
