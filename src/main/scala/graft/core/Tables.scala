package graft.core

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loaders (see /root/repo/TESTDATA.md).
  *
  * All readers are plain parquet scans so Catalyst column pruning and
  * predicate pushdown reach the file source (check `PushedFilters` /
  * `ReadSchema` in `.explain("formatted")`). At cluster scale the same
  * loaders work unchanged against a directory of many files.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred-schema cache: every `spark.read.parquet` without a
    * schema runs a 1-task footer-read job at plan time, and the fixture
    * tables are read by nearly every registry entry. The first read of a
    * table infers; later reads pass the cached schema until the table's
    * files change ([[Artifacts.StatCache]]), so a fixture dir rewritten
    * in the same JVM — a renamed column, a different `ts` physical type
    * (see [[normalizeTs]]) — is re-inferred instead of read through a
    * stale schema. */
  private val schemaCache =
    new Artifacts.StatCache[org.apache.spark.sql.types.StructType]

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    spark.read.schema(schemaCache(spark, p)(spark.read.parquet(p).schema))
      .parquet(p)
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The events fixture's `ts` physical type has varied across driver
    * generations: parquet TIMESTAMP(NANOS) (Spark 4 reads it as a
    * nanos LONG under `spark.sql.legacy.parquet.nanosAsLong=true`, set
    * in every session builder here) and parquet TIMESTAMP(MICROS)
    * without UTC adjustment (Spark reads TIMESTAMP_NTZ). DuckDB sees a
    * naive timestamp either way, so normalize every variant to a
    * session-TZ TIMESTAMP (sessions run UTC): nanos-long → integer
    * `div` (never double division — epoch-nanos exceed double's 2^53
    * exact-integer range) → `timestamp_micros`; NTZ → cast. */
  def normalizeTs(df: DataFrame, c: String = "ts"): DataFrame =
    df.schema(c).dataType match {
      case LongType =>
        df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case _                => df
    }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every fixture as a temp view (for spark.sql usage). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
