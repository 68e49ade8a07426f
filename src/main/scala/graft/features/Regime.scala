package graft.features

import graft.functions.Quantize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Regime tag per tick: price vs contemporaneous SMA-20.
  *
  * Reference: `sql/timescaledb_schema.sql:241-260` — `regime_tag` is a
  * generated `CASE WHEN price > sma_20 THEN 'up' WHEN price < sma_20 THEN
  * 'down' ELSE 'neutral' END` stored at insert. The implicit "regime join"
  * (price with contemporaneous sma_20, SURVEY §2.3) collapses to computing
  * both in one window pass — no join, one shuffle.
  *
  * The tag compares against the REPORTED (quantized) `sma_20`, as the
  * reference's generated column does: the raw window average carries the
  * last bit of a 20-term sum, so a constant price would read `down`
  * (0.1 + 0.1 + 0.1 > 0.3) and the tag would hinge on summation order.
  */
object Regime {

  def compute(trades: DataFrame): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy("time").rowsBetween(-19, 0)
    trades
      .withColumn("sma_20", Quantize.r(avg(col("price")).over(w), 6))
      .select(
        col("time"), col("symbol"), col("price"), col("sma_20"),
        when(col("price") > col("sma_20"), "up")
          .when(col("price") < col("sma_20"), "down")
          .otherwise("neutral").as("regime_tag"))
  }
}
