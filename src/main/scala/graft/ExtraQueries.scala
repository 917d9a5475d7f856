package graft

import graft.QueryDsl._
import graft.core.Tables
import graft.functions.VectorMeanAggregator
import graft.ingest.{Loaders, Preprocess}
import graft.search.AnnLsh
import org.apache.spark.sql.functions._

/** Remaining checklist surface: CSV source round-trip, LSH ANN tier,
  * custom typed aggregation, range join, pivot. */
object ExtraQueries {
  /** S1-S4 + I1/I2 through the gate: write a reference-shaped CSV (章节 /
    * knowledge columns exercise the auto-detect heuristic), load it back
    * through the CSV source, preprocess, aggregate. */
  private val csvKnowledgeLoad = Q(
    "csv_knowledge_load",
    (s, dir) => {
      val csvPath = s"/tmp/graft_csv_${math.abs(dir.hashCode)}"
      Tables.documents(s, dir).where(col("doc_id") < 50)
        .select(col("source").as("章节"), col("text").as("knowledge_text"))
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(csvPath)
      val loaded = Loaders.loadKnowledgeCsv(s, csvPath)
      Preprocess(loaded, "content")
        .groupBy(col("chapter"))
        .agg(count(lit(1)).as("n"),
          round(avg(length(col("content_clean"))) + lit(1e-9), 4).as("avg_len"))
        .orderBy(col("chapter").asc)
    },
    Some("""
      WITH c AS (
        SELECT source AS chapter,
               trim(regexp_replace(regexp_replace(text,
                 '[^\w一-鿿\s.,!?;:，。！？；：]', '', 'g'), '\s+', ' ', 'g'))
                 AS content_clean
        FROM documents WHERE doc_id < 50)
      SELECT chapter, CAST(count(*) AS BIGINT) AS n,
             round(avg(length(content_clean)) + 1e-9, 4) AS avg_len
      FROM c WHERE length(content_clean) >= 10
      GROUP BY chapter ORDER BY chapter ASC
    """))

  /** Approximate NN via MLlib random-projection LSH (rows-only: the hash
    * family is engine-internal; recall vs exact is pinned in ScalaTest). */
  private val annLsh = Q(
    "ann_lsh",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val (model, indexed) = AnnLsh.fit(e, "embedding")
      val query = Fixtures.queryVector(e)
      AnnLsh.neighbors(model, indexed, query, k = 5, idCol = "vec_id")
    },
    None)

  /** Custom typed Aggregator: per-label mean embedding (centroid), rows
    * out as (label, dim, m) to stay hash-comparable. */
  private val labelCentroids = Q(
    "label_centroids",
    (s, dir) => {
      val vecMean = udaf(new VectorMeanAggregator(64))
      Tables.embeddings(s, dir)
        .groupBy(col("label"))
        .agg(vecMean(col("embedding")).as("centroid"))
        .select(col("label").cast("long").as("label"),
          posexplode(col("centroid")).as(Seq("pos", "m")))
        .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
          round(col("m"), 4).as("m"))
        .orderBy(col("label").asc, col("dim").asc)
    },
    Some("""
      WITH u AS (SELECT label, unnest(range(1, len(embedding)+1)) AS dim,
                        unnest(embedding) AS v
                 FROM embeddings)
      SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
             round(avg(CAST(v AS DOUBLE)), 4) AS m
      FROM u GROUP BY label, dim
      ORDER BY label ASC, dim ASC
    """))

  /** Range (theta) join: events against a broadcast bucket-boundary dim. */
  private val rangeJoinBuckets = Q(
    "range_join_buckets",
    (s, dir) => {
      import s.implicits._
      val buckets = Seq((0L, 0.0, 5.0), (1L, 5.0, 10.0), (2L, 10.0, 15.0),
        (3L, 15.0, 20.0), (4L, 20.0, 1e18))
        .toDF("bucket_id", "lo", "hi")
      Tables.events(s, dir)
        .join(broadcast(buckets),
          col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("bucket_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("bucket_id").asc)
    },
    Some("""
      WITH b(bucket_id, lo, hi) AS (VALUES
        (0, 0.0, 5.0), (1, 5.0, 10.0), (2, 10.0, 15.0),
        (3, 15.0, 20.0), (4, 20.0, 1e18))
      SELECT CAST(bucket_id AS BIGINT) AS bucket_id,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(value), 2) AS total_value
      FROM events JOIN b ON value >= lo AND value < hi
      GROUP BY bucket_id ORDER BY bucket_id ASC
    """))

  /** Pivot: per-user event-type count matrix (fixed column set). */
  private val pivotUserEvents = Q(
    "pivot_user_events",
    (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .count()
      p.select(col("user_id") +:
          types.map(t => coalesce(col(t), lit(0L)).cast("long").as(t)): _*)
        .orderBy(col("user_id").asc)
    },
    Some("""
      SELECT user_id,
             CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
             CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
             CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
             CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
             CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
      FROM events GROUP BY user_id ORDER BY user_id ASC
    """))

  /** The SQL surface end-to-end: temp views + the registered graft_l2_sq
    * function + a scalar subquery, pure spark.sql text. */
  private val sqlKnn = Q(
    "sql_knn",
    (s, dir) => {
      GraftExtensions.register(s)
      Tables.embeddings(s, dir).createOrReplaceTempView("graft_embeddings")
      s.sql("""
        SELECT vec_id,
               round(graft_l2_sq(embedding,
                 (SELECT embedding FROM graft_embeddings WHERE vec_id = 0)), 4)
                 AS distance
        FROM graft_embeddings
        ORDER BY distance ASC, vec_id ASC LIMIT 5
      """)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id, %L2% AS distance
      FROM embeddings e, q
      ORDER BY distance ASC, e.vec_id ASC LIMIT 5
    """.replace("%L2%", duckL2("e.embedding", "q.qe"))))

  /** Event-sequence funnel: of the users who signed up, how many later
    * purchased, and how long conversion took. Two filtered aggregates +
    * one equi-join shuffled by user — no window over the full event log,
    * no per-user collect; seconds-to-convert averaged as exact long sum
    * ÷ count so both engines compute the identical double. */
  private val funnelConversion = Q(
    "funnel_conversion",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val signup = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_signup"))
      val converted = ev.where(col("event_type") === "purchase")
        .join(signup, "user_id")
        .where(col("ts") >= col("first_signup"))
        .groupBy(col("user_id"), col("first_signup"))
        .agg(min(col("ts")).as("first_purchase"))
      // exact-microsecond arithmetic on BOTH sides: unix_seconds would
      // truncate while DuckDB's epoch() keeps fractions, and the ts
      // fixture is µs-precision — the long sum is engine-exact
      val conv = converted.agg(
        count(lit(1)).as("users_converted"),
        round(sum(unix_micros(col("first_purchase"))
            - unix_micros(col("first_signup"))).cast("double")
          / count(lit(1)).cast("double") / 3600000000.0 + lit(1e-9), 2)
          .as("avg_hours_to_convert"))
      signup.agg(count(lit(1)).as("users_signed_up"))
        .crossJoin(conv)
        .select(col("users_signed_up"), col("users_converted"),
          round(col("users_converted").cast("double")
            / col("users_signed_up") + lit(1e-9), 4).as("conversion_rate"),
          col("avg_hours_to_convert"))
    },
    Some("""
      WITH signup AS (SELECT user_id, min(ts) AS first_signup
                      FROM events WHERE event_type = 'signup'
                      GROUP BY user_id),
      conv AS (SELECT e.user_id, s.first_signup, min(e.ts) AS first_purchase
               FROM events e JOIN signup s USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts >= s.first_signup
               GROUP BY e.user_id, s.first_signup)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM signup) AS users_signed_up,
             CAST(count(*) AS BIGINT) AS users_converted,
             round(CAST(count(*) AS DOUBLE)
               / (SELECT count(*) FROM signup) + 1e-9, 4) AS conversion_rate,
             round(CAST(sum(epoch_us(first_purchase) - epoch_us(first_signup))
               AS DOUBLE) / count(*) / 3600000000.0 + 1e-9, 2) AS avg_hours_to_convert
      FROM conv
    """))

  /** Correlated scalar subquery (big-spender orders: totalprice > 2× the
    * customer's own average): Catalyst decorrelates the per-row subquery
    * into ONE aggregate over orders plus a key-shuffled join — check
    * `.explain`: no per-row re-execution, no nested loop. The textual SQL
    * runs verbatim on both engines, so the oracle also pins that both
    * optimizers agree on the decorrelated semantics (including the
    * empty-group NULL contract). The +1e-9 inside the round is the same
    * deterministic half-boundary tie-break as TextAnalysis.qualityScore:
    * averages of 2-decimal money values land exactly on x.xx5 halves for
    * hundreds of customers at sf0.1, where engine ulp luck would
    * otherwise decide the threshold. */
  private val correlatedSubqueryOrders = Q(
    "correlated_subquery_orders",
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      s.sql("""
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
        FROM graft_orders o
        WHERE o_totalprice > 2 * (SELECT round(avg(o2.o_totalprice) + 1e-9, 2)
                                  FROM graft_orders o2
                                  WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_orderkey ASC
      """)
    },
    Some("""
      SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
      FROM orders o
      WHERE o_totalprice > 2 * (SELECT round(avg(o2.o_totalprice) + 1e-9, 2)
                                FROM orders o2
                                WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_orderkey ASC
    """))

  /** LATERAL correlated top-N (each MACHINERY customer's 2 biggest
    * orders): the OTHER decorrelation shape — a correlated subquery with
    * ORDER BY + LIMIT, which Catalyst rewrites to a per-key window, not
    * a per-row re-execution. Identical SQL text on both engines. */
  private val lateralTopOrders = Q(
    "lateral_top_orders",
    (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("graft_customer")
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS total
        FROM graft_customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM graft_orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
        WHERE c.c_mktsegment = 'MACHINERY'
        ORDER BY c.c_custkey ASC, total DESC, t.o_orderkey ASC
      """)
    },
    Some("""
      SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS total
      FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
      WHERE c.c_mktsegment = 'MACHINERY'
      ORDER BY c.c_custkey ASC, total DESC, t.o_orderkey ASC
    """))

  /** First-order event-transition matrix (Markov counts): per-user
    * consecutive event pairs via one lag window (shuffled by user,
    * bounded per-key state), then a global pair count and a per-source
    * row-normalized probability. The +1e-9 inside the round is the
    * uniform rational-half tie-break. */
  private val eventTransitions = Q(
    "event_transitions",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val rowTotal = Window.partitionBy(col("prev_type"))
      Tables.events(s, dir)
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n").cast("double")
          / sum(col("n")).over(rowTotal) + lit(1e-9), 4))
        .orderBy(col("prev_type").asc, col("next_type").asc)
    },
    Some("""
      WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts ASC, event_id ASC)
                 AS prev_type
        FROM events),
      c AS (SELECT prev_type, event_type AS next_type,
                   CAST(count(*) AS BIGINT) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type)
      SELECT prev_type, next_type, n,
             round(CAST(n AS DOUBLE)
                   / sum(n) OVER (PARTITION BY prev_type) + 1e-9, 4) AS p
      FROM c ORDER BY prev_type ASC, next_type ASC
    """))

  /** The text kernels through the SQL surface (GraftExtensions
    * FunctionRegistry injection — the BI-layer path): NFC-normalize a
    * planted decomposed suffix and shingle the text, entirely in
    * `spark.sql`. Same per-doc output discipline as the Column-API
    * entries, so the SQL registration (arity checks, literal-n
    * extraction, codegen through the registry) is what this adds. */
  private val sqlTextFunctions = Q(
    "sql_text_functions",
    (s, dir) => {
      GraftExtensions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("graft_documents")
      s.sql("""
        SELECT doc_id,
               length(graft_nfc_normalize(concat(text, ' café')))
                 AS norm_len,
               size(graft_token_shingles(text, 3)) AS n_shingles
        FROM graft_documents
        ORDER BY doc_id ASC
      """)
    },
    Some("""
      SELECT doc_id,
             CAST(length(nfc_normalize(text || ' cafe' || chr(769)))
               AS INT) AS norm_len,
             CAST(len(list_distinct(list_transform(
               range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))))
               AS INT) AS n_shingles
      FROM (SELECT doc_id, text, string_split_regex(text, '\s+') AS t
            FROM documents)
      ORDER BY doc_id ASC
    """))

  val all: Seq[Q] = Seq(funnelConversion, csvKnowledgeLoad, annLsh, labelCentroids,
    rangeJoinBuckets, pivotUserEvents, sqlKnn, correlatedSubqueryOrders,
    lateralTopOrders, eventTransitions, sqlTextFunctions)
}
