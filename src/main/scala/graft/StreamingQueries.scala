package graft

import graft.QueryDsl._
import graft.core.Tables
import graft.multimodal.Multimodal
import graft.streaming.EventsStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming + multimodal surface. The streaming entry actually runs a
  * Structured Streaming query (file source → memory sink, drained with
  * processAllAvailable) whose final table must equal the batch oracle —
  * the batch/stream duality contract. */
object StreamingQueries {
  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source schema for an events parquet path: the fixed column
    * layout with `ts` declared at whatever physical type the fixture on
    * disk actually carries (nanos LONG in older driver generations,
    * TIMESTAMP_NTZ micros in newer ones — see Tables.normalizeTs). A
    * stream can't infer parquet schemas, so probe via one batch footer
    * read. */
  private def eventsDiskSchema(s: SparkSession, path: String): StructType = {
    val tsType = s.read.parquet(path).schema("ts").dataType
    StructType(eventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
  }

  /** Streaming events source normalized to session-TZ TIMESTAMP `ts`. */
  private def eventsSource(s: SparkSession, dir: String): DataFrame =
    Tables.normalizeTs(
      s.readStream.schema(eventsDiskSchema(s, s"$dir/events.parquet"))
        .option("pathGlobFilter", "events.parquet").parquet(dir))

  /** Structured Streaming tumbling-hour aggregation over the events file
    * source; complete-mode memory sink, drained synchronously. */
  private val streamingHourly = Q(
    "streaming_hourly",
    (s, dir) => {
      val ev = eventsSource(s, dir)
      val qname = "graft_streaming_hourly_" + math.abs(dir.hashCode)
      val q = EventsStream.hourlyCounts(ev)
        .writeStream.outputMode("complete").format("memory")
        .queryName(qname).start()
      // stop in finally: a transient drain failure would otherwise leave
      // the named query active and poison every later run in the session
      try q.processAllAvailable() finally q.stop()
      s.table(qname).orderBy(col("hour").asc, col("event_type").asc)
    },
    Some("""
      SELECT date_trunc('hour', ts) AS hour, event_type,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(value), 2) AS total_value
      FROM events
      GROUP BY date_trunc('hour', ts), event_type
      ORDER BY hour ASC, event_type ASC
    """))

  /** Gap-based sessionization, batch window-function formulation (the
    * streaming stateful twin is EventsStream.Sessionize, spec'd in
    * tests). Gap = 30 min, millisecond event-time arithmetic. */
  private val sessionizeEvents = Q(
    "sessionize_events",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("new_sess",
          when(lag(col("ms"), 1).over(byUser).isNull ||
            col("ms") - lag(col("ms"), 1).over(byUser) > 1800000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_sess")).over(cum).cast("long"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("user_id").asc, col("session_id").asc)
    },
    Some("""
      WITH m AS (SELECT user_id, event_id, ts, value, epoch_ms(ts) AS ms
                 FROM events),
      b AS (SELECT *,
              CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
                   THEN 1 ELSE 0 END AS new_sess
            FROM m
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (SELECT *,
                 CAST(sum(new_sess) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
               FROM b)
      SELECT user_id, session_id,
             min(ts) AS session_start, max(ts) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events,
             round(sum(value), 2) AS total_value
      FROM sess
      GROUP BY user_id, session_id
      ORDER BY user_id ASC, session_id ASC
    """))

  /** Multimodal plumbing, oracle-able part: binary payload size + frame
    * sampling arithmetic (every frame is a fixed-stride binary slice). */
  private val multimodalMeta = Q(
    "multimodal_meta",
    (s, dir) => {
      val bin = col("text").cast("binary")
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(bin).cast("long").as("n_bytes"),
        size(Multimodal.frameSample(bin, n = 4, frameSize = 100))
          .cast("long").as("n_frames"))
        .orderBy(col("doc_id").asc)
    },
    Some("""
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             CAST(least(4, ceil(octet_length(encode(text)) / 100.0)) AS BIGINT)
               AS n_frames
      FROM documents ORDER BY doc_id ASC
    """))

  /** Multimodal decode seam run through the REAL batched mapPartitions
    * decoder (the stub ByteHistogramDecoder — deterministic byte
    * histogram, so the pipeline is fully oracle-able): a 16-bucket
    * histogram bucket is the byte's high nibble, which DuckDB reproduces
    * from `hex(encode(text))`. The projection exposes integer-exact
    * features of the float vector (non-zero buckets, first argmax
    * bucket) plus the L1 sum, which is exactly n_bytes/max(n_bytes,1)
    * up to float summation noise ≪ the 4-dp round. A production codec
    * drops into the same seam and keeps the rows-only contract. */
  private val multimodalFeatures = Q(
    "multimodal_features",
    (s, dir) => {
      val df = Tables.documents(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      Multimodal.withMediaFeatures(df, "media", "features",
          new Multimodal.ByteHistogramDecoder(16))
        .select(col("doc_id"),
          size(col("features")).cast("long").as("dim"),
          size(filter(col("features"), x => x > lit(0.0f))).cast("long")
            .as("nnz"),
          (array_position(col("features"), array_max(col("features"))) - 1)
            .cast("long").as("top_bucket"),
          round(aggregate(col("features"),
            lit(0.0), (acc, v) => acc + v.cast("double")), 4).as("sum_f"))
        .orderBy(col("doc_id").asc)
    },
    Some("""
      WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
                        octet_length(encode(text)) AS n
                 FROM documents),
      nib AS (SELECT doc_id, substr(hx, 2*i-1, 1) AS c
              FROM (SELECT doc_id, hx, unnest(range(1, n+1)) AS i FROM h)),
      cnt AS (SELECT doc_id, strpos('0123456789ABCDEF', c) - 1 AS bucket,
                     count(*) AS cn
              FROM nib GROUP BY 1, 2),
      mx AS (SELECT *, max(cn) OVER (PARTITION BY doc_id) AS max_c FROM cnt),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nnz,
                     CAST(min(bucket) FILTER (WHERE cn = max_c) AS BIGINT)
                       AS top_bucket
              FROM mx GROUP BY doc_id)
      SELECT h.doc_id, CAST(16 AS BIGINT) AS dim,
             coalesce(a.nnz, 0) AS nnz,
             coalesce(a.top_bucket, 0) AS top_bucket,
             CASE WHEN h.n > 0 THEN 1.0 ELSE 0.0 END AS sum_f
      FROM h LEFT JOIN agg a USING (doc_id)
      ORDER BY h.doc_id ASC
    """))

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming ingest dedup: documents stream through
    * StreamDedup.firstPerKey keyed on the md5 content fingerprint; the
    * emitted KEY SET is deterministic (which arrival is kept is not, so
    * the query projects only the fingerprint) and must equal the batch
    * DISTINCT — the batch/stream duality contract again. */
  private val streamingDedup = Q(
    "streaming_dedup",
    (s, dir) => {
      val src = s.readStream.schema(docsSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val qname = "graft_streaming_dedup_" + math.abs(dir.hashCode)
      val q = graft.streaming.StreamDedup.firstPerKey(
          src.select(md5(col("text")).as("content_hash")),
          Seq("content_hash"))
        .writeStream.outputMode("append").format("memory")
        .queryName(qname).start()
      try q.processAllAvailable() finally q.stop()
      s.table(qname).orderBy(col("content_hash").asc)
    },
    Some("""
      SELECT DISTINCT md5(text) AS content_hash
      FROM documents ORDER BY content_hash ASC
    """))

  /** Stateful streaming sessionization run FOR REAL — the
    * flatMapGroupsWithState path (EventsStream.Sessionize), not the batch
    * window twin: the events file streams into per-user session state;
    * two far-future sentinel rows for a fake user (-1) then advance the
    * event-time watermark across two extra micro-batches so every real
    * session times out and EMITS (append mode only ever outputs closed
    * sessions; without the sentinels the final session per user would
    * stay in the state store forever). The drained memory sink must equal
    * the batch window-function formulation — batch≡stream for the hard
    * stateful path, same contract the other three streaming entries pin.
    * The oracle is the `sessionize_events` SQL minus the per-user
    * session numbering (append-mode emission order is timeout order, so
    * a dense per-user index is not reproducible; the (user, start, end,
    * n, value) tuples are). */
  private val streamingSessionize = Q(
    "streaming_sessionize",
    (s, dir) => {
      import s.implicits._
      import org.apache.hadoop.fs.{FileUtil, Path}
      val tmp = s"/tmp/graft_sess_${math.abs(dir.hashCode)}"
      val conf = s.sparkContext.hadoopConfiguration
      val fs = new Path(tmp).getFileSystem(conf)
      fs.delete(new Path(tmp), true)
      fs.mkdirs(new Path(tmp))
      FileUtil.copy(fs, new Path(s"$dir/events.parquet"),
        fs, new Path(s"$tmp/batch0.parquet"), false, conf)
      // one sentinel row, appended as a NEW file so the stream sees a
      // fresh micro-batch; ts ~2096, written at the SAME physical type
      // as the copied fixture file so the stream schema stays uniform
      val diskSchema = eventsDiskSchema(s, s"$tmp/batch0.parquet")
      val diskTsType = diskSchema("ts").dataType
      def sentinel(tsNanos: Long): Unit = {
        val tsCol = diskTsType match {
          case LongType => lit(tsNanos)
          case t => timestamp_micros(lit(tsNanos / 1000L)).cast(t)
        }
        s.range(1).select(lit(0L).as("event_id"), tsCol.as("ts"),
            lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
            lit(0.0).as("value"), lit("{}").as("props"))
          .coalesce(1).write.mode("append").parquet(tmp)
      }
      val ev = Tables.normalizeTs(
          s.readStream.schema(diskSchema).parquet(tmp))
        .select(col("user_id"), col("ts"), col("value"))
        .withWatermark("ts", "0 seconds")
        .as[EventsStream.Event]
      val sess = EventsStream.Sessionize.streaming(ev, gapMs = 1800000L)
      val qname = "graft_streaming_sess_" + math.abs(dir.hashCode)
      // state partitions sized to the state load, not the session's
      // batch shuffle width (see streaming_interval_join)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val q =
        try {
          s.conf.set("spark.sql.shuffle.partitions", "8")
          sess.writeStream.outputMode("append").format("memory")
            .queryName(qname).start()
        } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      try {
        q.processAllAvailable()                 // batch 1: all real events
        sentinel(4000000000000000000L)          // batch 2: watermark → 2096
        q.processAllAvailable()
        sentinel(4100000000000000000L)          // batch 3: timeouts fire
        q.processAllAvailable()
      } finally q.stop()
      s.table(qname).where(col("user_id") >= 0)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), round(col("total_value"), 2).as("total_value"))
        .orderBy(col("user_id").asc, col("session_start").asc)
    },
    Some("""
      WITH m AS (SELECT user_id, event_id, ts, value, epoch_ms(ts) AS ms
                 FROM events),
      b AS (SELECT *,
              CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
                   THEN 1 ELSE 0 END AS new_sess
            FROM m
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (SELECT *,
                 CAST(sum(new_sess) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
               FROM b)
      SELECT user_id,
             min(ts) AS session_start, max(ts) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events,
             round(sum(value), 2) AS total_value
      FROM sess
      GROUP BY user_id, session_id
      ORDER BY user_id ASC, session_start ASC
    """))

  /** Stream-stream interval join (click→purchase attribution): purchases
    * join the same user's clicks from the preceding 30 minutes. Both
    * sides carry event-time watermarks, so Spark bounds the join state
    * (clicks older than watermark + interval are evicted); inner-join
    * results emit eagerly per micro-batch — the drained memory sink must
    * equal the batch theta-join, which is what the oracle checks. At
    * scale the state store is keyed by user and bounded by the watermark
    * horizon — the standard streaming-join contract. */
  private val streamingIntervalJoin = Q(
    "streaming_interval_join",
    (s, dir) => {
      def src = eventsSource(s, dir)
      val clicks = src.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = src.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("purchase_ts"),
          col("value"))
        .withWatermark("purchase_ts", "1 hour")
      val joined = purchases.join(clicks,
        col("p_user") === col("user_id") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES") &&
          col("click_ts") <= col("purchase_ts"))
      val qname = "graft_streaming_ij_" + math.abs(dir.hashCode)
      // A streaming query pins its state partitioning at checkpoint
      // creation, so it is sized to the STATE load, not the session's
      // batch shuffle width: every state partition costs a state-store
      // instance per micro-batch regardless of data, which at 32
      // session partitions is ~2/3 of this query's wall-clock. Scoped
      // to the stream start and restored after.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val q =
        try {
          s.conf.set("spark.sql.shuffle.partitions", "8")
          joined
            .select(col("purchase_id"), col("click_id"), col("user_id"),
              col("value").as("purchase_value"))
            .writeStream.outputMode("append").format("memory")
            .queryName(qname).start()
        } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      try q.processAllAvailable() finally q.stop()
      s.table(qname).orderBy(col("purchase_id").asc, col("click_id").asc)
    },
    Some("""
      SELECT p.event_id AS purchase_id, c.event_id AS click_id,
             p.user_id, p.value AS purchase_value
      FROM events p JOIN events c ON p.user_id = c.user_id
       AND p.event_type = 'purchase' AND c.event_type = 'click'
       AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
      ORDER BY purchase_id ASC, click_id ASC
    """))

  /** Perceptual near-duplicate detection over the multimodal seam: each
    * binary payload decodes through the batched feature seam to a
    * 256-bin bag-of-bigrams histogram (the visual-bag-of-words stub —
    * alignment-invariant, unlike a pixel resample whose bits an early
    * edit all shifts), thresholds against the mean into a 256-bit
    * signature, and near-dups (hamming ≤ 3) surface via the pigeonhole
    * block equi-join on 4×64-bit keys with a hot-bucket cap — never an
    * all-pairs compare. Decode, signature, cap, and hamming are
    * integer-exact, so the oracle replays the full pipeline from the
    * raw bytes. On the fixture, true near-dup texts land at hamming 0
    * and unrelated same-vocabulary texts at 25-43 of 256. */
  private val imagePhashNeardup = Q(
    "image_phash_neardup",
    (s, dir) => {
      val df = Tables.documents(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      Multimodal.phashNearPairs(df, "doc_id", "media", maxHamming = 3,
          workDir = Some(s"/tmp/graft_mm_${math.abs(dir.hashCode)}"))
        .orderBy(col("id_a").asc, col("id_b").asc)
    },
    Some("""
      WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
                        octet_length(encode(text)) AS n
                 FROM documents WHERE octet_length(encode(text)) >= 2),
      bg AS (SELECT doc_id,
               ((((strpos('0123456789ABCDEF', substr(hx, 2*j+1, 1))-1)*16
                  + strpos('0123456789ABCDEF', substr(hx, 2*j+2, 1))-1) * 31
                 + ((strpos('0123456789ABCDEF', substr(hx, 2*j+3, 1))-1)*16
                  + strpos('0123456789ABCDEF', substr(hx, 2*j+4, 1))-1))
                * 131) % 256 AS bin
             FROM d CROSS JOIN range(0, 100000) t(j) WHERE j < d.n - 1),
      cnt AS (SELECT doc_id, bin, count(*) AS c FROM bg GROUP BY 1, 2),
      bits AS (SELECT d.doc_id, r.i,
                      CASE WHEN 256 * coalesce(cnt.c, 0) > d.n - 1
                           THEN 1 ELSE 0 END AS bit
               FROM d CROSS JOIN range(0, 256) r(i)
               LEFT JOIN cnt ON cnt.doc_id = d.doc_id AND cnt.bin = r.i),
      sig AS (SELECT doc_id, list(bit ORDER BY i ASC) AS bs
              FROM bits GROUP BY doc_id),
      bands AS (SELECT doc_id, b AS block,
                       array_to_string(list_slice(bs, 64*b+1, 64*b+64), '')
                         AS key
                FROM (SELECT doc_id, bs, unnest(range(0, 4)) AS b FROM sig)),
      hot AS (SELECT block, key FROM bands
              GROUP BY block, key HAVING count(*) > 4096),
      kept AS (SELECT bands.* FROM bands
               WHERE NOT EXISTS (SELECT 1 FROM hot
                 WHERE hot.block = bands.block AND hot.key = bands.key)),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM kept a JOIN kept b
                 ON a.block = b.block AND a.key = b.key
                    AND a.doc_id < b.doc_id),
      h AS (SELECT id_a, id_b,
                   CAST(list_sum(list_transform(range(1, 257),
                     j -> CASE WHEN sa.bs[j] != sb.bs[j] THEN 1 ELSE 0 END))
                     AS BIGINT) AS hamming
            FROM cand JOIN sig sa ON sa.doc_id = cand.id_a
                      JOIN sig sb ON sb.doc_id = cand.id_b)
      SELECT id_a, id_b, hamming
      FROM h WHERE hamming <= 3 ORDER BY id_a ASC, id_b ASC
    """))

  /** Frame-level dedup over the multimodal seam: fixed-stride frames
    * fingerprinted and aggregated — frames recurring across distinct
    * payloads surface with their keeper id. Pure explode + hash-agg; the
    * oracle replays slicing, hex-md5 fingerprints, and the recurrence
    * filter exactly. */
  private val frameHashDedup = Q(
    "frame_hash_dedup",
    (s, dir) => {
      val df = Tables.documents(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      Multimodal.frameHashDedup(df, "doc_id", "media",
          nFrames = 4, frameSize = 100)
        .orderBy(col("frame_hash").asc)
    },
    Some("""
      WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
                        octet_length(encode(text)) AS n
                 FROM documents),
      f AS (SELECT doc_id, md5(substr(hx, 200*j+1, 200)) AS frame_hash
            FROM d CROSS JOIN range(0, 4) t(j) WHERE 100*j < d.n)
      SELECT frame_hash,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(min(doc_id) AS BIGINT) AS keep_id
      FROM f GROUP BY frame_hash HAVING count(DISTINCT doc_id) > 1
      ORDER BY frame_hash ASC
    """))

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming vector ingest tagging — the online half of IVF index
    * maintenance run as a REAL streaming query: embeddings stream through
    * the file source and every row is assigned its nearest existing
    * centroid (the IvfIndex.append argmin — an array-of-structs
    * lexicographic min over the tiny centroid table, evaluated as
    * per-row codegen map work; the centroid table is a literal, i.e. the
    * degenerate broadcast of the stream-static join, so the stream never
    * shuffles — at nlist ≳ a few hundred, swap the literal for a real
    * broadcast stream-static join to keep the expression tree bounded).
    * The centroid table is handed off to DuckDB and the
    * oracle replays the assignment arithmetic — unrounded double L2,
    * cluster-id tie-break — exactly, the ivf_partial_probe contract
    * applied to a stream. */
  private val streamingKnnTag = Q(
    "streaming_knn_tag",
    (s, dir) => {
      val indexDir = Fixtures.ivfDir(dir)
      val model = Fixtures.ivf(s, dir)
      QueryDsl.stageOracle(s, "knn_tag", dir)(
        "centroids" -> s.read.parquet(
          graft.search.IvfIndex.centroidsDir(indexDir)))
      val centArr = array(model.centroids.map { case (i, c) =>
        struct(
          graft.functions.VectorFunctions.l2Sq(col("embedding"),
            typedlit(c.toSeq)).as("d"),
          lit(i).as("cluster_id"))
      }: _*)
      val src = s.readStream.schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      val tagged = src.withColumn("__a", array_min(centArr))
        .select(col("vec_id"),
          col("__a.cluster_id").cast("long").as("cluster_id"),
          round(col("__a.d"), 4).as("distance"))
      val qname = "graft_streaming_knn_tag_" + math.abs(dir.hashCode)
      val q = tagged.writeStream.outputMode("append").format("memory")
        .queryName(qname).start()
      try q.processAllAvailable() finally q.stop()
      s.table(qname).orderBy(col("vec_id").asc)
    },
    Some(s"""
      WITH cent AS (SELECT * FROM
        read_parquet('/tmp/graft_knn_tag_oracle_%ORACLE_KEY%/centroids/*.parquet')),
      d AS (SELECT e.vec_id, c.cluster_id,
                   list_sum(list_transform(range(1, len(c.centroid)+1),
                     i -> (CAST(c.centroid[i] AS DOUBLE)
                           - CAST(e.embedding[i] AS DOUBLE))^2)) AS dd
            FROM embeddings e CROSS JOIN cent c),
      r AS (SELECT vec_id, cluster_id, dd,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY dd ASC, cluster_id ASC) AS rn
            FROM d)
      SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
             round(dd, 4) AS distance
      FROM r WHERE rn = 1 ORDER BY vec_id ASC
    """))

  /** Continuous vector search — a STREAM of query vectors searched
    * against the static corpus as they arrive (the serving half of a
    * vector store under continuous query load; the reference answers one
    * query per Gradio call at src/app.py:240-274 — this is that same
    * search as an unbounded flow). Per-query top-k needs a bounded
    * ranking no streaming window provides, so each micro-batch runs the
    * BATCH kNN join ([[graft.search.Knn.knnJoinLarge]]: per-partition
    * heaps, only queries×k candidates shuffle) via foreachBatch and
    * appends hits to a results table — exactly-once per batch via the
    * checkpoint, and per-query results are independent, so ANY
    * micro-batch split of the query stream yields the identical result
    * set (which is what lets the batch oracle hash-check a stream).
    * At 100 TB the corpus side would be the IVF layout and the batch
    * search probe-pruned; the orchestration is unchanged. */
  private val streamingVectorSearch = Q(
    "streaming_vector_search",
    (s, dir) => {
      import graft.search.Knn
      val outDir = s"/tmp/graft_stream_search_${math.abs(dir.hashCode)}"
      val fs = new org.apache.hadoop.fs.Path(outDir).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val corpus = Tables.embeddings(s, dir)
      val src = s.readStream.schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
        .where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val q = src.writeStream
        .option("checkpointLocation", s"$outDir/_ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          Knn.knnJoinLarge(corpus, "embedding", "vec_id",
              batch, "qid", "qe", k = 3)
            .write.mode("append").parquet(s"$outDir/hits")
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$outDir/hits")
        .orderBy(col("qid").asc, col("distance").asc, col("vec_id").asc)
    },
    Some("""
      WITH q AS (SELECT vec_id AS qid, embedding AS qe
                 FROM embeddings WHERE vec_id < 5),
      d AS (SELECT q.qid, e.vec_id, %L2% AS distance FROM embeddings e, q),
      r AS (SELECT qid, vec_id, distance,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY distance, vec_id) AS rn
            FROM d)
      SELECT qid, vec_id, distance FROM r WHERE rn <= 3
      ORDER BY qid ASC, distance ASC, vec_id ASC
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Real-time heavy hitters: the count-min counter matrix maintained as
    * STREAMING aggregation state (complete mode — the matrix IS the
    * query's running state, ≤ depth·width rows regardless of stream
    * length), then point-queried for the exact top-20 tokens. The
    * output — and therefore the oracle — is IDENTICAL to the batch
    * `sketch_heavy_tokens`: the batch≡stream duality contract applied
    * to sketch maintenance, which is how a 100 TB ingest keeps
    * frequency estimates current without ever re-scanning the corpus. */
  private val streamingHeavyTokens = Q(
    "streaming_heavy_tokens",
    (s, dir) => {
      val src = s.readStream.schema(docsSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val toks = src.select(explode(split(col("text"), "\\s+")).as("tok"))
        .where(length(col("tok")) > 0)
      val qname = "graft_streaming_cms_" + math.abs(dir.hashCode)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val q =
        try {
          s.conf.set("spark.sql.shuffle.partitions", "8")
          graft.text.CountMin.counterMatrix(toks, "tok", depth = 4, width = 1024)
            .writeStream.outputMode("complete").format("memory")
            .queryName(qname).start()
        } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      try q.processAllAvailable() finally q.stop()
      val matrix = s.table(qname)
      val batchToks = Tables.documents(s, dir)
        .select(explode(split(col("text"), "\\s+")).as("tok"))
        .where(length(col("tok")) > 0)
      val top = batchToks.groupBy(col("tok"))
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("tok").asc).limit(20)
      graft.text.CountMin.estimate(top, "tok", matrix, depth = 4, width = 1024)
        .join(top, Seq("tok"))
        .select(col("tok").as("token"), col("n_exact"), col("n_cms"))
        .orderBy(col("n_exact").desc, col("token").asc)
    },
    Some("""
      WITH t AS (SELECT unnest(string_split_regex(text, '\s+')) AS tok
                 FROM documents),
      tk AS (SELECT tok FROM t WHERE length(tok) > 0),
      exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_exact
                FROM tk GROUP BY tok),
      top AS (SELECT * FROM exact ORDER BY n_exact DESC, tok ASC LIMIT 20),
      rb AS (SELECT tok, r,
                    CAST(('0x' || substr(md5('cms' || r || ':' || tok), 1, 8))
                      AS BIGINT) % 1024 AS b
             FROM tk CROSS JOIN range(0, 4) s(r)),
      m AS (SELECT r, b, count(*) AS c FROM rb GROUP BY r, b),
      lk AS (SELECT top.tok, r2.r,
                    CAST(('0x' || substr(md5('cms' || r2.r || ':' || top.tok),
                      1, 8)) AS BIGINT) % 1024 AS b
             FROM top CROSS JOIN range(0, 4) r2(r)),
      est AS (SELECT lk.tok, CAST(min(m.c) AS BIGINT) AS n_cms
              FROM lk JOIN m ON m.r = lk.r AND m.b = lk.b
              GROUP BY lk.tok)
      SELECT top.tok AS token, top.n_exact, est.n_cms
      FROM top JOIN est ON est.tok = top.tok
      ORDER BY top.n_exact DESC, token ASC
    """))

  val all: Seq[Q] = Seq(streamingHourly, sessionizeEvents, streamingDedup,
    multimodalMeta,
    multimodalFeatures, imagePhashNeardup, frameHashDedup,
    streamingIntervalJoin, streamingSessionize, streamingKnnTag,
    streamingHeavyTokens, streamingVectorSearch)
}
