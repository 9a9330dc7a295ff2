package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, expr, floor, lit, sum}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Shared engine-exact arithmetic for oracle-checked queries. */
object Exact {

  /** Percentile position in pure BIGINT over a running-count column:
    * p = k/100 ⇒ ceil(k·n/100) = (k·n + 99) div 100 — no cross-engine
    * double ever feeds row selection (the round-5 `q_quantiles_exact`
    * driver-gate fix; every DuckDB oracle carries the identical
    * integer form). `nCol` is the per-group total-count column in the
    * calling plan. */
  def pctPos(k: Int, nCol: String = "n"): Column =
    expr(s"(($k * $nCol + 99) div 100)")

  /** Exact integer cents of a 2-dp money/rate column: the TPC-H money
    * and percentage columns are DECIMAL(·,2) quantities stored as
    * doubles, so floor(x·100 + 0.5) recovers the exact integer — the
    * q_fn_stats fixed-point recipe. The revenue family accumulates
    * these integer products instead of per-row double→DECIMAL(24,6)
    * casts: the cast HALF_UPs the SHORTEST string repr in Spark but
    * the binary value in DuckDB, and at sf1 row counts a 6-dp
    * near-tie row appears and flips the last ulp of the sum (caught
    * by the full-inventory sf1 sweep on q1_agg's sum_charge).
    * Integer arithmetic has no ties. */
  def c2(c: Column): Column = floor(c * lit(100.0) + lit(0.5))

  /** Revenue row `extprice·(1−disc)` in exact 1e-4 units. */
  def revScaled: Column =
    c2(col("l_extendedprice")) * (lit(100L) - c2(col("l_discount")))

  /** `SUM(extprice·(1−disc))` — exact DECIMAL accumulation of the
    * scaled-integer rows, rescaled once at the end. */
  def sumRevenue: Column =
    sum(revScaled.cast(DecimalType(28, 0))).cast(DoubleType) /
      lit(10000.0)

  /** DuckDB text of the md5-h32 hash (`graft.functions.TextHash`'s
    * token hash): the first 8 hex digits of md5 as a BIGINT. */
  def h32Sql(arg: String): String =
    s"('0x' || substr(md5($arg), 1, 8))::BIGINT"

  /** DuckDB text of `graft.ops.TextOps.tokens` over a `text` column:
    * lower-case, split on every run of non-alphanumerics, drop empty
    * tokens. */
  val toksSql: String =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
}
