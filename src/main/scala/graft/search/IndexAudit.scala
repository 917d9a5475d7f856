package graft.search

import graft.functions.VectorFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Artifact integrity checks for the serving indexes — the audit-job
  * surface behind `index_integrity_report` (see the Q's scaladoc for
  * the operational rationale). Every check is a plan-side aggregate
  * returning one `(check_name STRING, value BIGINT)` row; a healthy
  * artifact scores 0 on every violation counter. Factored out of the
  * query so the CHECKER's detection power is spec-testable: the specs
  * corrupt an artifact and assert the right counter fires. */
object IndexAudit {
  private def row(name: String, df: DataFrame): DataFrame =
    df.select(lit(name).as("check_name"),
      col("value").cast("long").as("value"))

  /** Graph-adjacency invariants (GraphAnn.buildAdjacency's contract):
    * no self-loops, out-degree ≤ `degreeCap`, every dst present in the
    * corpus, and every stored `dist` equal to the recomputed
    * round(L2², 4) between its endpoints. Plus the `graph_nodes`
    * cardinality (a drift signal, not a violation). */
  def graphChecks(adj: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, degreeCap: Int): DataFrame = {
    val sv = corpus.select(col(idCol).as("src"), col(vecCol).as("sv"))
    val dv = corpus.select(col(idCol).as("dst"), col(vecCol).as("dv"))
    val danglingDst = adj.join(dv, Seq("dst"), "left_anti")
      .agg(count(lit(1)).as("value"))
    val degreeViol = adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .where(col("deg") > degreeCap).agg(count(lit(1)).as("value"))
    // explicit null arm: a corrupted artifact storing a NULL dist makes
    // `recomputed =!= dist` NULL (row silently dropped) — count it
    val distMismatch = adj.join(sv, "src").join(dv, "dst")
      .where(col("dist").isNull ||
        round(VectorFunctions.l2Sq(col("sv"), col("dv")), 4)
          =!= col("dist"))
      .agg(count(lit(1)).as("value"))
    val nodes = adj.agg(countDistinct(col("src")).as("value"))
    val selfLoops = adj.where(col("src") === col("dst"))
      .agg(count(lit(1)).as("value"))
    row("graph_dangling_dst", danglingDst)
      .unionByName(row("graph_degree_violations", degreeViol))
      .unionByName(row("graph_dist_mismatch", distMismatch))
      .unionByName(row("graph_nodes", nodes))
      .unionByName(row("graph_self_loops", selfLoops))
  }

  /** Coverage + uniqueness of a derived per-row artifact (codes /
    * signature tables): `<name>_missing` = corpus rows absent from the
    * artifact (a dropped build/append batch), `<name>_dupes` = artifact
    * ids appearing more than once (a double-processed append), and
    * `<name>_orphans` = artifact ids absent from the CORPUS — the other
    * direction, which a delete/rewrite of the collection leaves behind
    * (stale rows a tombstone-less serve would resurrect; pairs with
    * [[Tombstones]] — after a compact the counter must return to 0).
    * All three 0 on a healthy artifact. */
  def coverageChecks(corpus: DataFrame, artifactIds: DataFrame,
                     idCol: String, name: String): DataFrame = {
    val missing = corpus.join(artifactIds, Seq(idCol), "left_anti")
      .agg(count(lit(1)).as("value"))
    val dupes = artifactIds.groupBy(col(idCol))
      .agg(count(lit(1)).as("n")).where(col("n") > 1)
      .agg(count(lit(1)).as("value"))
    val orphans = artifactIds.join(corpus.select(col(idCol)),
        Seq(idCol), "left_anti")
      .agg(count(lit(1)).as("value"))
    row(s"${name}_dupes", dupes)
      .unionByName(row(s"${name}_missing", missing))
      .unionByName(row(s"${name}_orphans", orphans))
  }

  /** Coverage + uniqueness of an INVERTED-INDEX artifact, where one
    * corpus row legitimately posts many rows (one per dimension/term):
    * `<name>_missing`/`<name>_orphans` compare DISTINCT posted ids
    * against the corpus (as [[coverageChecks]]), but `<name>_dupes`
    * counts FULL POSTING KEYS — (id, keyCols…) groups with more than
    * one RAW row — because that (not id multiplicity, which is the
    * structure) is what a double-appended batch or a botched
    * upsert-fold leaves behind. Round-13 ADVICE fix: feeding
    * pre-distincted ids into [[coverageChecks]] made the dupes counter
    * vacuously zero. `rawPostings` must be the UN-deduplicated posting
    * rows. */
  def postingsChecks(corpus: DataFrame, rawPostings: DataFrame,
                     idCol: String, keyCols: Seq[String],
                     name: String): DataFrame = {
    val ids = rawPostings.select(col(idCol)).distinct()
    val missing = corpus.join(ids, Seq(idCol), "left_anti")
      .agg(count(lit(1)).as("value"))
    val dupes = rawPostings
      .groupBy((idCol +: keyCols).map(col): _*)
      .agg(count(lit(1)).as("n")).where(col("n") > 1)
      .agg(count(lit(1)).as("value"))
    val orphans = ids.join(corpus.select(col(idCol)), Seq(idCol),
        "left_anti")
      .agg(count(lit(1)).as("value"))
    row(s"${name}_dupes", dupes)
      .unionByName(row(s"${name}_missing", missing))
      .unionByName(row(s"${name}_orphans", orphans))
  }

  /** IVF-layout invariants (IvfIndex.build's contract): every assigned
    * cluster's distance is within tolerance of the argmin over the
    * staged centroids, and no corpus row is missing from the
    * partitioned layout. The check is TOLERANCE-aware, not exact-argmin:
    * the builder assigns via MLlib's KMeansModel.transform (double
    * cluster centers, fastSquaredDistance shortcuts) while the audit
    * recomputes against the FLOAT-cast staged centroids — a row
    * near-equidistant to two centroids can legitimately differ in
    * which one it picked without the artifact being corrupt. A
    * violation therefore requires d(assigned) to EXCEED d(best) by
    * more than max(1e-9, 1e-6·d(best)) — a genuinely-wrong cluster
    * (different region) is orders of magnitude past that; a tie or
    * float-cast wobble is inside it. `cents` is broadcast — nlist
    * rows. */
  def ivfChecks(corpus: DataFrame, assign: DataFrame, cents: DataFrame,
                idCol: String, vecCol: String): DataFrame = {
    val perRow = corpus.join(assign, idCol)
      .crossJoin(broadcast(cents.withColumnRenamed("cluster_id", "cid")))
      .withColumn("d", VectorFunctions.l2Sq(col(vecCol), col("centroid")))
      .groupBy(col(idCol))
      .agg(min(col("d")).as("dmin"),
        max(when(col("cid") === col("cluster_id"), col("d"))).as("da"))
    val assignMismatch = perRow
      .where(col("da").isNull ||
        col("da") > col("dmin") + greatest(lit(1e-9), col("dmin") * 1e-6))
      .agg(count(lit(1)).as("value"))
    val missingRows = corpus.join(assign, Seq(idCol), "left_anti")
      .agg(count(lit(1)).as("value"))
    // the artifact→corpus direction: assigned rows whose id left the
    // corpus (a collection delete/rewrite that never propagated) — the
    // data-dir twin of coverageChecks' `<name>_orphans`
    val orphanRows = assign.join(corpus.select(col(idCol)),
        Seq(idCol), "left_anti")
      .agg(count(lit(1)).as("value"))
    row("ivf_assign_mismatch", assignMismatch)
      .unionByName(row("ivf_missing_rows", missingRows))
      .unionByName(row("ivf_orphan_rows", orphanRows))
  }

  /** Covering-radius invariant of an IVF layout (the stored radii
    * ([[IvfIndex.loadRadii]]) that range/exact-via-IVF serving
    * prunes with — [[IvfIndex.rangeSearch]]/[[IvfIndex.exactSearch]]):
    * `ivf_radius_violations` counts data rows whose distance to their
    * assigned centroid EXCEEDS the stored radius (each one is a row the
    * range prune can silently drop — the wrong-answer direction), and
    * `ivf_radius_missing` counts clusters holding rows but absent from
    * the stored radii (never used to prune — slow, not wrong — but a
    * sign the fold was skipped). Both artifact-derived plan-side
    * aggregates over the nlist-row radii as a local frame; 0/0 on an
    * index maintained only through build/append/upsert/rebalance, which
    * all keep the invariant. The 1e-9 slack absorbs recompute drift on
    * the boundary row (the max member sits EXACTLY at its cluster's
    * radius). */
  def radiiChecks(spark: org.apache.spark.sql.SparkSession,
                  indexDir0: String, vecCol: String): DataFrame = {
    // audit the SERVED version (like segmentChecks): an aliased root has
    // no root-level data/ dir, so an unresolved read throws — and an
    // audit of anything but the serving version would be the wrong debt
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val data = IvfIndex.readData(spark, indexDir)
    // a PRE-radii index (nothing stored — the loadRadii degradation
    // contract) is not corrupt, it is unmaintained: report every
    // populated cluster as missing (so Maintenance.planFull schedules
    // refresh_radii) and zero violations (nothing stored can be
    // violated)
    if (IvfIndex.storedRadii(spark, indexDir).isEmpty) {
      val missing = data.agg(
        countDistinct(col("cluster_id")).as("value"))
      return row("ivf_radius_missing", missing)
        .unionByName(row("ivf_radius_violations",
          missing.select(lit(0L).as("value"))))
    }
    val cents = spark.read.parquet(IvfIndex.centroidsDir(indexDir))
    val radii = IvfIndex.radiiFrame(spark, indexDir)
    val viol = data
      .join(broadcast(cents), Seq("cluster_id"))
      .join(broadcast(radii), Seq("cluster_id"))
      .where(sqrt(VectorFunctions.l2Sq(col(vecCol), col("centroid")))
        > col("radius") + 1e-9)
      .agg(count(lit(1)).as("value"))
    val missing = data.select(col("cluster_id")).distinct()
      .join(broadcast(radii.select(col("cluster_id"))),
        Seq("cluster_id"), "left_anti")
      .agg(count(lit(1)).as("value"))
    row("ivf_radius_missing", missing)
      .unionByName(row("ivf_radius_violations", viol))
  }

  /** Entry-point LIVENESS of a graph index — the seed-set half of the
    * walk's serving contract (the adjacency half is [[graphChecks]]):
    * `entry_points_dead` counts staged entry ids that are tombstoned
    * (`deadKeys`) OR appear as the source of NO adjacency edge (an
    * entry [[GraphAnn.consolidateDeletes]] stripped — a walk seeded
    * there visits one edgeless node and strands). 0 on an index
    * maintained through [[GraphAnn.consolidateDeletesWithEntries]],
    * which re-elects; a plain edges-only consolidation leaves this
    * firing. One adjacency scan with the (≤ nEntries) entry set
    * broadcast into a semi-join. */
  def entryChecks(entries: DataFrame, adj: DataFrame,
                  deadKeys: DataFrame): DataFrame = {
    val eIds = entries.select(col("entry_id").cast("long").as("entry_id"))
      .distinct()
    val dead = eIds.join(
      broadcast(deadKeys
        .select(col(deadKeys.columns.head).cast("long").as("entry_id"))
        .distinct()),
      Seq("entry_id"), "left_semi")
    val liveSrc = adj
      .join(broadcast(eIds.withColumnRenamed("entry_id", "src")),
        Seq("src"), "left_semi")
      .select(col("src").cast("long").as("entry_id")).distinct()
    val stranded = eIds.join(liveSrc, Seq("entry_id"), "left_anti")
    row("entry_points_dead",
      dead.unionByName(stranded).distinct().agg(count(lit(1)).as("value")))
  }

  /** UPPER-layer invariants of a layered graph (round 13 — the layered
    * serve's observability twins): `upper_membership_violations` =
    * distinct upper-adjacency node ids (src ∪ dst) that FAIL the
    * [[GraphAnn.upperMember]] ppm cut — an ingest path that added a row
    * to the upper layer by load order instead of the deterministic hash
    * rule (a rebuild would not reproduce it); `upper_orphans` = upper
    * node ids absent from the corpus (stale zoom routing a collection
    * delete left behind); `upper_entry_dead` = upper entries tombstoned
    * or sourcing no upper edge (the stranded-seed hazard,
    * [[entryChecks]]' shape applied to the upper layer); `upper_nodes`
    * = the layer's cardinality (a drift signal — expect ≈ ppm·corpus).
    * All violation counters 0 on a healthy layered index. */
  def upperLayerChecks(adjUpper: DataFrame, upperEntries: DataFrame,
                       corpus: DataFrame, idCol: String,
                       deadKeys: DataFrame, ppm: Int = 135335,
                       salt: Int = 12): DataFrame = {
    val nodes = adjUpper.select(col("src").cast("long").as("id"))
      .unionByName(adjUpper.select(col("dst").cast("long").as("id")))
      .distinct()
    val violations = nodes
      .where(!GraphAnn.upperMember("id", ppm, salt))
      .agg(count(lit(1)).as("value"))
    val orphans = nodes
      .join(corpus.select(col(idCol).cast("long").as("id")), Seq("id"),
        "left_anti")
      .agg(count(lit(1)).as("value"))
    val nNodes = nodes.agg(count(lit(1)).as("value"))
    val eIds = upperEntries
      .select(col("entry_id").cast("long").as("entry_id")).distinct()
    val deadE = eIds.join(
      broadcast(deadKeys
        .select(col(deadKeys.columns.head).cast("long").as("entry_id"))
        .distinct()),
      Seq("entry_id"), "left_semi")
    val liveSrc = adjUpper
      .join(broadcast(eIds.withColumnRenamed("entry_id", "src")),
        Seq("src"), "left_semi")
      .select(col("src").cast("long").as("entry_id")).distinct()
    val strandedE = eIds.join(liveSrc, Seq("entry_id"), "left_anti")
    row("upper_membership_violations", violations)
      .unionByName(row("upper_orphans", orphans))
      .unionByName(row("upper_nodes", nNodes))
      .unionByName(row("upper_entry_dead", deadE.unionByName(strandedE)
        .distinct().agg(count(lit(1)).as("value"))))
  }

  /** Segment-contract audit for the sorted-term lexical layout
    * ([[TermIndex]]): `term_segments` = segment count (the
    * [[TermIndex.compactSegments]] scheduling signal — Lucene's merge
    * policy reads exactly this), and `term_segment_straddlers` = ids
    * holding postings rows in MORE THAN ONE segment — the violated
    * ids-must-be-new append contract ([[TermIndex.append]]),
    * under which a doc's tf is silently DOUBLE-COUNTED across segments
    * (serving sums tf over all segments because the contract says an
    * (id, term) row never straddles). 0 on a contract-respecting
    * layout. The counter is a DETECTOR, not a damage gauge: after
    * [[TermIndex.compactSegments]] merges everything into one segment
    * the straddling (and this counter) clears while the duplicated
    * rows persist in the data — catch the violation BEFORE compacting
    * and re-ingest the offending ids; that is why the audit belongs in
    * [[Maintenance.planFull]]'s pass rather than inside the verb. One
    * column-pruned scan of the segmented layout. */
  def segmentChecks(spark: org.apache.spark.sql.SparkSession,
                    indexDir: String): DataFrame = {
    val dir = AliasedIndex.resolveDir(spark, indexDir)
    val segs = TermIndex.segments(spark, dir)
    val straddlers =
      if (segs.size <= 1)
        spark.range(1).select(lit(0L).as("value"))
      else TermIndex.postings(spark, dir)
        .select(col("id"), col("seg")).distinct()
        .groupBy(col("id"))
        .agg(countDistinct(col("seg")).as("__ns"))
        .where(col("__ns") > 1)
        .agg(count(lit(1)).as("value"))
    row("term_segment_straddlers", straddlers)
      .unionByName(row("term_segments",
        spark.range(1).select(lit(segs.size.toLong).as("value"))))
  }

  /** WAND bound-statistics integrity of a sparse/FullText artifact
    * (round 14 — the serving invariant behind
    * [[SparseVec.searchWandIndex]]'s losslessness): the stored per-dim
    * `maxw` ([[SparseVec.dimStatsDir]], read-side max-folded) must be
    * an UPPER bound on every live posting's weight.
    * `dim_bound_violations` counts dims whose folded stored bound is
    * BELOW the actual posting max — each one lets the pruned serve
    * silently drop a deserving doc (the wrong-answer direction, like
    * `ivf_radius_violations`); `dim_bound_missing` counts posted dims
    * absent from the stats table — slow-not-wrong (the serve falls
    * back to a pruned postings aggregate for them), but a sign an
    * append path skipped the stats write. Both 0 on an artifact
    * maintained through build/append/upsert, which only ever RAISE
    * stored bounds. One postings aggregate + one broadcast-joined
    * stats fold; 1e-9 slack absorbs float noise at the boundary. */
  def dimBoundChecks(spark: org.apache.spark.sql.SparkSession,
                     indexDir0: String): DataFrame = {
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val actual = SparseVec.readPostings(spark, indexDir)
      .groupBy(col("dim")).agg(max(col("w")).as("__actual"))
    val statsPath = new org.apache.hadoop.fs.Path(
      SparseVec.dimStatsDir(indexDir))
    val fs = statsPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val stored =
      if (!fs.exists(statsPath))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("dim",
              org.apache.spark.sql.types.IntegerType, nullable = false),
            org.apache.spark.sql.types.StructField("__stored",
              org.apache.spark.sql.types.DoubleType, nullable = false))))
      else spark.read.parquet(SparseVec.dimStatsDir(indexDir))
        .groupBy(col("dim")).agg(max(col("maxw")).as("__stored"))
    val joined = actual.join(stored, Seq("dim"), "left")
    row("dim_bound_missing",
      joined.where(col("__stored").isNull)
        .agg(count(lit(1)).as("value")))
      .unionByName(row("dim_bound_violations",
        joined.where(col("__stored").isNotNull &&
          col("__stored") < col("__actual") - 1e-9)
          .agg(count(lit(1)).as("value"))))
  }

  /** Version-history health of an upserted IVF layout (the
    * [[IvfIndex.upsertBatch]] `__ver` discipline) — the maintenance
    * debt every latest-wins serve pays until [[IvfIndex.compactVersions]]
    * / [[Tombstones.compact]] fold it away:
    * `ver_superseded_rows` = artifact rows that are NOT their key's
    * latest (exactly what compactVersions removes), `ver_upserted_keys`
    * = distinct keys carrying a versioned row, `ver_tombstone_keys` =
    * recorded deletes, `ver_compaction_debt` = superseded rows plus
    * LIVE rows of tombstoned keys — the total row count a full
    * compaction pass drops. All plan-side aggregates over the data dir
    * + deletes dir; on a never-upserted, tombstone-free index every
    * counter is 0. */
  def versionChecks(spark: org.apache.spark.sql.SparkSession,
                    indexDir0: String, idCol: String): DataFrame = {
    // aliased-root resolution — see [[radiiChecks]]
    val indexDir = AliasedIndex.resolveDir(spark, indexDir0)
    val scan0 = IvfIndex.readData(spark, indexDir)
    val scan =
      if (scan0.columns.contains("__ver")) scan0
      else scan0.withColumn("__ver", lit(null).cast("long"))
    val upVers = scan.where(col("__ver").isNotNull)
      .groupBy(col(idCol)).agg(max(col("__ver")).as("__maxver"))
    val dead = Tombstones.table(spark, indexDir, idCol)
      .toDF("__dead_id")
    val marked = scan.join(broadcast(upVers), Seq(idCol), "left")
      .withColumn("__superseded", col("__maxver").isNotNull &&
        coalesce(col("__ver"), lit(0L)) =!= col("__maxver"))
      .join(broadcast(dead), col(idCol) === col("__dead_id"), "left")
    val superseded = marked.where(col("__superseded"))
      .agg(count(lit(1)).as("value"))
    val upKeys = upVers.agg(count(lit(1)).as("value"))
    val tombKeys = dead.agg(count(lit(1)).as("value"))
    val debt = marked
      .where(col("__superseded") || col("__dead_id").isNotNull)
      .agg(count(lit(1)).as("value"))
    row("ver_compaction_debt", debt)
      .unionByName(row("ver_superseded_rows", superseded))
      .unionByName(row("ver_tombstone_keys", tombKeys))
      .unionByName(row("ver_upserted_keys", upKeys))
  }
}
