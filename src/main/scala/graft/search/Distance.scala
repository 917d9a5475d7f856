package graft.search

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Pure-Catalyst (higher-order-function) distance formulations.
  *
  * These express the reference's L2 metric (src/app.py:109) with only
  * built-in functions — no custom expressions — which keeps every query
  * using them expressible 1:1 in the DuckDB oracle dialect. The codegen'd
  * fast path lives in [[graft.functions.VectorFunctions]]; a ScalaTest spec
  * pins both formulations to identical results.
  *
  * Score semantics pinned here once (SURVEY §7.4 item 3):
  * `score = 1 - squaredL2Distance` (reference src/app.py:258) — NOT a
  * cosine similarity; it can be negative.
  */
object Distance {
  /** Squared L2 distance between two ARRAY<FLOAT> columns, accumulated in
    * double precision. */
  def l2SqHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast(DoubleType) - y.cast(DoubleType)
        d * d
      }),
      lit(0.0),
      (acc, v) => acc + v)

  /** The reference's score mapping (src/app.py:258). */
  def score(distance: Column): Column = lit(1.0) - distance
}
