package graft.features

import graft.functions.Quantize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EWM-12: exponential moving average (α = 0.15) over the last 12 ticks.
  *
  * Reference: `sql/timescaledb_schema.sql:103-138` (`calculate_ewm_12` plpgsql)
  * and spec `sql/smartdb_contract.md:49-55`. Per SURVEY.md §7.4 item 1, the
  * reference's plpgsql literal behavior is buggy (single smoothing step,
  * inverted direction); we implement the spec: the standard recursive EWM,
  * `s1 = p1; s_i = α·p_i + (1−α)·s_{i−1}`, folded over the last 12 prices in
  * ascending time order.
  *
  * Not a built-in window aggregate — expressed as `collect_list` over a
  * 12-row frame + the `aggregate` higher-order function (whole-stage-codegen
  * friendly, no UDF). The 12-element array bound keeps per-row state O(1), so
  * the plan is the same single symbol-shuffle + sort as any other window fn.
  * A reusable `Aggregator`-based form lives in [[graft.functions.EwmAggregator]].
  */
object Ewm {

  val Alpha = 0.15

  /** Fold `s = (1-α)·s + α·p` over an array column of prices (ascending).
    * An empty array has no seed and folds to null (both `slice` with a
    * negative length and `element_at(arr, 1)` raise under ANSI), like the
    * DuckDB `list_reduce` over an empty list: a PIT snapshot of a symbol
    * with no tick at or before the as-of time is one all-null row.
    */
  def ewmOverArray(arr: Column, alpha: Double = Alpha): Column =
    when(size(arr) > 0, aggregate(
      slice(arr, lit(2), size(arr) - 1),
      element_at(arr, 1),
      (acc, x) => lit(1.0 - alpha) * acc + lit(alpha) * x))

  def compute(trades: DataFrame, n: Int = 12, alpha: Double = Alpha): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy("time").rowsBetween(-(n - 1), 0)
    trades.select(
      col("time"), col("symbol"), col("price"),
      Quantize.r(ewmOverArray(collect_list(col("price")).over(w), alpha), 6).as("ewm_12"))
  }

  /** Final EMA state per symbol via a bounded trailing-window ordered fold:
    * the last `k` values of `valueCol` (event-time order, ties broken by
    * value) fold through `s = (1−α)·s + α·v`, seeded at the oldest of the k.
    * Contributions older than k decay by (1−α)^k — pick k so that bound
    * sits below the output quantum (α=0.1, k=400 → ~5e-19 ≪ 1e-6) and the
    * trailing fold is indistinguishable from the full-history recursion
    * while task memory stays at k structs per symbol. The fold replays the
    * identical IEEE op sequence as a DuckDB `list_reduce` over the same
    * trailing slice — bit-exact cross-engine, unlike any closed-form
    * weighted SUM (accumulation-order-dependent).
    *
    * Output: symbol, `<outCol>` (quantized 1e-6), n (full per-symbol count).
    */
  def trailingEmaFinal(df: DataFrame, valueCol: String, alpha: Double, k: Int,
      outCol: String): DataFrame = {
    val wDesc = Window.partitionBy("symbol")
      .orderBy(col("time").desc, col(valueCol).desc)
    df
      .withColumn("rnd", row_number().over(wDesc))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("symbol")))
      .filter(col("rnd") <= k)
      .groupBy("symbol")
      .agg(
        // sort desc on rnd = oldest..newest (rnd 1 is the latest row)
        sort_array(collect_list(struct(col("rnd"), col(valueCol))), asc = false)
          .as("obs"),
        max(col("__n")).as("n"))
      .withColumn("sp", transform(col("obs"), o => o.getField(valueCol)))
      .select(
        col("symbol"),
        Quantize.r(ewmOverArray(col("sp"), alpha), 6).as(outCol),
        col("n"))
  }
}
