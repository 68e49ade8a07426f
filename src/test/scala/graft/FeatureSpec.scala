package graft

import graft.features._
import org.apache.spark.sql.functions._

/** Feature correctness on the deterministic ramp fixture — mirrors the
  * reference's invariants (`tests/test_smartdb_correctness.py:46-192`).
  */
class FeatureSpec extends SparkTestBase {

  test("SMA-20 on the ramp equals the closed-form window mean") {
    // ramp price = 150 + 0.1*i; SMA over last min(i+1,20) rows is the mean of
    // an arithmetic sequence — closed form (150 + 0.1*(first+last)/2).
    val rows = Sma.compute(rampTrades(25)).orderBy("time")
      .select("sma_20").collect().map(_.getDouble(0))
    rows.zipWithIndex.foreach { case (sma, i) =>
      val lo = math.max(0, i - 19)
      val expected = (lo to i).map(j => 150.0 + 0.1 * j).sum / (i - lo + 1)
      assert(math.abs(sma - expected) < 1e-6, s"row $i: $sma vs $expected")
    }
  }

  test("OHLC invariants: high >= low, high >= open/close, volume positive") {
    val bars = Ohlc.compute(core.Tables.trades(spark, sf0001))
    assert(bars.filter(col("high") < col("low")).count() === 0)
    assert(bars.filter(col("high") < col("open") || col("high") < col("close")).count() === 0)
    assert(bars.filter(col("low") > col("open") || col("low") > col("close")).count() === 0)
    assert(bars.filter(col("volume") <= 0).count() === 0)
  }

  test("imbalance is within [-1, 1]") {
    val imb = Imbalance.compute(core.Tables.trades(spark, sf0001))
    assert(imb.filter(col("imbalance") < -1 || col("imbalance") > 1).count() === 0)
  }

  test("volatility is non-negative; vwap positive") {
    val t = core.Tables.trades(spark, sf0001)
    assert(Volatility.compute(t).filter(col("volatility_1h") < 0).count() === 0)
    assert(Vwap.compute(t).filter(col("vwap_5m") <= 0).count() === 0)
  }

  test("regime tags form the {up, down, neutral} domain; first tick is neutral") {
    // a constant 0.1 price beside the ramp: its raw window sum drifts
    // (0.1 + 0.1 + 0.1 = 0.30000000000000004), its reported SMA does not
    val flat = rampTrades(25, "FLAT").withColumn("price", lit(0.1))
    val r = Regime.compute(rampTrades(25).unionByName(flat))
    val tags = r.select("regime_tag").distinct().collect().map(_.getString(0)).toSet
    assert(tags.subsetOf(Set("up", "down", "neutral")))
    // On a strictly increasing ramp every tick after the first is 'up'.
    val ramp = r.filter(col("symbol") === "RAMP")
    assert(ramp.orderBy("time").collect().head.getAs[String]("regime_tag") === "neutral")
    assert(ramp.filter(col("regime_tag") === "down").count() === 0)
    // A constant price equals its SMA-20 on every tick.
    val flatTags = r.filter(col("symbol") === "FLAT").select("regime_tag", "sma_20")
      .collect().map(row => (row.getString(0), row.getDouble(1)))
    assert(flatTags.length === 25)
    assert(flatTags.forall(_ == ("neutral", 0.1)),
      s"constant price must tag neutral: ${flatTags.mkString(",")}")
  }

  test("EWM-12: single tick = price; two ticks = 0.85*p1 + 0.15*p2") {
    val e = Ewm.compute(rampTrades(2)).orderBy("time").collect()
    assert(math.abs(e(0).getAs[Double]("ewm_12") - 150.0) < 1e-9)
    assert(math.abs(e(1).getAs[Double]("ewm_12") - (0.85 * 150.0 + 0.15 * 150.1)) < 1e-6)
  }

  test("EwmAggregator matches the column-function fold") {
    import org.apache.spark.sql.functions.{udaf => mkUdaf}
    val agg = mkUdaf(new functions.EwmAggregator(12, 0.15))
    val t = core.Tables.trades(spark, sf0001).limit(500)
    val viaAgg = t.groupBy("symbol")
      .agg(agg(unix_micros(col("time")), col("price")).as("ewm"))
    val viaFold = t.groupBy("symbol")
      .agg(sort_array(collect_list(struct(col("time"), col("price")))).as("tp"))
      .select(col("symbol"),
        Ewm.ewmOverArray(expr("slice(transform(tp, x -> x.price), greatest(size(tp) - 11, 1), 12)"))
          .as("ewm"))
    val joined = viaAgg.join(viaFold, "symbol")
      .select(abs(viaAgg("ewm") - viaFold("ewm")).as("d")).agg(max("d")).collect()(0).getDouble(0)
    assert(joined < 1e-9)
  }

  test("large trades all exceed their symbol's Q95 threshold") {
    val lt = LargeTrades.compute(core.Tables.trades(spark, sf0001))
    assert(lt.filter(col("volume") <= col("percentile_95")).count() === 0)
  }

  test("TWAP on the ramp: even per-minute spacing makes TWAP the segment mean") {
    // 25 ticks one minute apart starting on the hour, all inside hour 0:
    // ticks 0..23 each hold 60 s, the last tick holds from minute 24 to the
    // hour end (2160 s). TWAP = (Σ_{i<24} 60·p_i + 2160·p_24) / 3600.
    val twap = Twap.compute(rampTrades(25)).collect()
    assert(twap.length === 1)
    val expected = ((0 until 24).map(i => 60.0 * (150.0 + 0.1 * i)).sum +
      2160.0 * (150.0 + 0.1 * 24)) / 3600.0
    val got = twap(0).getAs[Double]("twap_1h")
    assert(math.abs(got - math.floor(expected * 1e6 + 0.5) / 1e6) < 1e-9)
    assert(twap(0).getAs[Long]("active_micros") === 3600L * 1000000L)
  }

  test("TWAP weights a price by holding time, not trade count") {
    import org.apache.spark.sql.functions.{expr => e}
    // two trades in one hour: price 100 held 1 s, price 200 held the rest —
    // a count-weighted mean (150) would be far off the time-weighted 199.97
    val t = spark.range(2).select(
      e("timestamp_micros(CAST(1704067200000000 + id * 1000000 AS BIGINT))").as("time"),
      lit("X").as("symbol"),
      (lit(100.0) + col("id") * 100.0).as("price"),
      lit(1.0).as("volume"), col("id").cast("string").as("trade_id"),
      lit("buy").as("side"), lit(null).cast("double").as("bid"),
      lit(null).cast("double").as("ask"))
    val got = Twap.compute(t).collect()(0).getAs[Double]("twap_1h")
    val expected = (100.0 * 1 + 200.0 * 3599) / 3600.0
    assert(math.abs(got - math.floor(expected * 1e6 + 0.5) / 1e6) < 1e-9)
  }

  test("bucketed range join equals the naive theta-join (inner and left_outer)") {
    val t = core.Tables.trades(spark, sf0001)
    val left = t.select("time", "symbol", "trade_id")
    val right = t.filter(col("bid").isNotNull)
      .select(col("time").as("rt"), col("symbol"), col("bid"))
    val viaBucket = asof.RangeJoin.within(left, right, Seq("symbol"),
      leftTime = "time", rightTime = "rt", lookbackSec = 1800, rightPrefix = "")
    val naive = left.as("l").join(right.as("r"),
      col("l.symbol") === col("r.symbol") &&
        col("r.rt") <= col("l.time") &&
        col("r.rt") >= col("l.time") - e2("INTERVAL 30 MINUTES"),
      "inner")
      .select(col("l.time"), col("l.symbol"), col("l.trade_id"), col("rt"), col("bid"))
    assert(viaBucket.exceptAll(naive).count() === 0)
    assert(naive.exceptAll(viaBucket).count() === 0)
    // left_outer: every left row surfaces, unmatched exactly once
    val lo = asof.RangeJoin.within(left, right, Seq("symbol"),
      leftTime = "time", rightTime = "rt", lookbackSec = 1800, rightPrefix = "",
      joinType = "left_outer")
    val matchedOrNot = lo.groupBy("trade_id").count()
    assert(matchedOrNot.count() === left.count())
    assert(lo.filter(col("rt").isNull).join(
      naive.select("trade_id").distinct(), Seq("trade_id"), "left_semi").count() === 0)
  }

  test("range join rejects colliding output columns instead of failing at analysis") {
    val t = core.Tables.trades(spark, sf0001)
    val left = t.select("time", "symbol", "trade_id")
    val right = t.select(col("time"), col("symbol"), col("bid"))
    val ex = intercept[IllegalArgumentException] {
      asof.RangeJoin.within(left, right, Seq("symbol"), rightPrefix = "")
    }
    assert(ex.getMessage.contains("collide"))
  }

  test("gapfill densifies each key's span and carries the last value forward") {
    import spark.implicits._
    val bars = Seq(
      ("A", 0L, 10.0), ("A", 900L, 13.0),    // gap at 300, 600
      ("B", 300L, 20.0), ("B", 600L, 21.0)   // already dense
    ).toDF("symbol", "sec", "close")
      .select(col("symbol"), timestamp_seconds(col("sec")).as("bucket"), col("close"))
    val out = GapFill.locf(bars, bucketSec = 300, valueCols = Seq("close"))
      .select(col("symbol"), unix_seconds(col("bucket")).as("sec"), col("close"), col("filled"))
      .orderBy("symbol", "sec").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(out.toSeq === Seq(
      ("A", 0L, 10.0, false), ("A", 300L, 10.0, true), ("A", 600L, 10.0, true),
      ("A", 900L, 13.0, false), ("B", 300L, 20.0, false), ("B", 600L, 21.0, false)))
  }

  test("gapfill interpolate fills gaps on the line between neighboring bars") {
    import spark.implicits._
    val bars = Seq(
      ("A", 0L, 10.0), ("A", 900L, 13.0),    // gaps at 300, 600
      ("B", 300L, 20.0)                      // single bar: no gaps, no next
    ).toDF("symbol", "sec", "close")
      .select(col("symbol"), timestamp_seconds(col("sec")).as("bucket"), col("close"))
    val out = GapFill.interpolate(bars, bucketSec = 300, valueCols = Seq("close"))
      .select(col("symbol"), unix_seconds(col("bucket")).as("sec"), col("close"), col("filled"))
      .orderBy("symbol", "sec").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(out.toSeq === Seq(
      ("A", 0L, 10.0, false), ("A", 300L, 11.0, true), ("A", 600L, 12.0, true),
      ("A", 900L, 13.0, false), ("B", 300L, 20.0, false)))
  }

  test("gapfill grid is bounded per key: no buckets outside a key's own [min, max]") {
    val t = core.Tables.trades(spark, sf0001)
    val bars = Ohlc.compute(t, "5 minutes").select(col("bucket"), col("symbol"), col("close"))
    val out = GapFill.locf(bars, bucketSec = 300, valueCols = Seq("close"))
    val spans = bars.groupBy("symbol").agg(min("bucket").as("lo"), max("bucket").as("hi"))
    val outside = out.join(spans, Seq("symbol"))
      .filter(col("bucket") < col("lo") || col("bucket") > col("hi"))
    assert(outside.count() === 0)
    assert(out.filter(col("close").isNull).count() === 0)
  }

  test("indicators: drawdown, bollinger and rsi on a tiny deterministic tape") {
    import spark.implicits._
    val t = Seq((0L, 10.0), (1L, 12.0), (2L, 9.0), (3L, 11.0))
      .toDF("sec", "price")
      .select(timestamp_seconds(col("sec")).as("time"), lit("A").as("symbol"), col("price"))
    // peak-to-trough: (9 - 12) / 12 = -0.25
    val dd = Indicators.maxDrawdown(t).collect()
    assert(dd.length === 1 && dd(0).getDouble(1) === -0.25)
    // bollinger mid over whole prefix; first row's stddev_samp is null bands
    val bb = Indicators.bollinger(t, n = 4).orderBy("time").collect()
    assert(bb(0).isNullAt(4) && bb(0).isNullAt(5))
    assert(math.abs(bb(3).getDouble(3) - 10.5) < 1e-9)  // mean(10,12,9,11)
    // rsi: gains 2+2=4 over 3 moves, losses 3; ratio 4/3
    val rsi = Indicators.rsi(t, n = 4).orderBy("time").collect()
    val expected = 100.0 - 100.0 / (1.0 + (4.0 / 4) / (3.0 / 4))
    assert(math.abs(rsi(3).getDouble(2) - expected) < 1e-6)
    // all-gain tape: zero average loss is an undefined ratio -> null
    val up = Seq((0L, 10.0), (1L, 11.0)).toDF("sec", "price")
      .select(timestamp_seconds(col("sec")).as("time"), lit("A").as("symbol"), col("price"))
    assert(Indicators.rsi(up, n = 4).orderBy("time").collect().forall(_.isNullAt(2)))
  }

  test("trailing-K EMA: truncation branch matches an exact scalar replay past K") {
    // 450 varying spreads for one symbol — exercises the rnd <= K filter and
    // the slice/seed mechanics that gate-SF data (< K rows/symbol) never hits.
    val n = 450
    val df = spark.range(n).select(
      expr("timestamp_micros(CAST(1704067200000000 + id * 60000000 AS BIGINT))").as("time"),
      lit("X").as("symbol"),
      (lit(1.0) + sin(col("id").cast("double")) * lit(0.5)).as("spread"))
    val row = Ewm.trailingEmaFinal(df, "spread", alpha = 0.1, k = 400, outCol = "ema")
      .collect().head
    val vals = (0 until n).map(i => 1.0 + math.sin(i.toDouble) * 0.5)
    val tail = vals.takeRight(400)
    var acc = tail.head
    tail.tail.foreach(x => acc = 0.9 * acc + 0.1 * x)
    assert(row.getAs[Double]("ema") === math.floor(acc * 1e6 + 0.5) / 1e6)
    assert(row.getAs[Long]("n") === n)
    // and the trailing fold is below the output quantum from the full fold
    var full = vals.head
    vals.tail.foreach(x => full = 0.9 * full + 0.1 * x)
    assert(math.abs(full - acc) < 1e-9)
  }

  test("MACD joint fold matches an exact scalar replay past the trailing window") {
    val row = Indicators.macdFinal(rampTrades(450)).collect().head
    val prices = (0 until 450).map(i => 150.0 + 0.1 * i)
    val tail = prices.takeRight(400)
    val a12 = 2.0 / 13.0; val b12 = 1.0 - a12
    val a26 = 2.0 / 27.0; val b26 = 1.0 - a26
    val a9 = 2.0 / 10.0; val b9 = 1.0 - a9
    var e12 = tail.head; var e26 = tail.head; var sig = 0.0
    tail.tail.foreach { p =>
      val n12 = a12 * p + b12 * e12
      val n26 = a26 * p + b26 * e26
      sig = a9 * (n12 - n26) + b9 * sig
      e12 = n12; e26 = n26
    }
    def q(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(row.getAs[Double]("macd") === q(e12 - e26))
    assert(row.getAs[Double]("macd_signal") === q(sig))
    assert(row.getAs[Double]("macd_hist") === q((e12 - e26) - sig))
    assert(row.getAs[Long]("n") === 450L)
  }

  test("stochastic %K on a ramp pins to 100 after warmup; ATR first bar equals high-low") {
    // strictly increasing ramp: price is always the frame max -> %K = 100
    val st = Indicators.stochastic(rampTrades(30)).orderBy("time").collect()
    assert(st.drop(14).forall(_.getAs[Double]("stoch_k") === 100.0))
    val atr = Indicators.atr(core.Tables.trades(spark, sf0001))
    assert(atr.filter(col("true_range") < 0 || col("atr_14") < 0).count() === 0)
    // first bar per symbol: TR = high - low exactly
    import org.apache.spark.sql.expressions.Window
    val firstBars = atr.withColumn("rn",
      row_number().over(Window.partitionBy("symbol").orderBy("bucket")))
      .filter(col("rn") === 1)
    val bars = Ohlc.compute(core.Tables.trades(spark, sf0001))
    val joined = firstBars.join(bars, Seq("bucket", "symbol"))
    assert(joined.filter(
      abs(col("true_range") - (col("high") - col("low"))) > 1e-6).count() === 0)
  }

  test("split back-adjustment: divisor steps down through the action calendar") {
    import graft.features.CorporateActions
    val t = core.Tables.trades(spark, sf0001)
    val adj = CorporateActions.backwardAdjust(t, CorporateActions.syntheticActions(t))
    assert(adj.count() === t.count(), "one output row per tick, none dropped")
    val jan10 = to_timestamp(lit("2024-01-10 00:00:00"))
    val jan20 = to_timestamp(lit("2024-01-20 00:00:00"))
    val symI = col("symbol").cast("int")
    // closed-form expected divisor, independent of the as-of machinery
    val expected = expr("shiftleft(CAST(1 AS BIGINT), " +
      "IF(CAST(symbol AS INT) % 5 = 0 AND time <= TIMESTAMP '2024-01-10 00:00:00', 1, 0) + " +
      "IF(CAST(symbol AS INT) % 7 = 3 AND time <= TIMESTAMP '2024-01-20 00:00:00', 2, 0))")
    assert(adj.filter(col("adj_divisor") =!= expected).count() === 0)
    // the calendar really bites: both step levels occur, and untouched
    // symbols stay at divisor 1 throughout
    assert(adj.filter(symI % 5 === 0 && col("time") <= jan10)
      .filter(col("adj_divisor") % 2 =!= 0).count() === 0)
    assert(adj.filter(col("adj_divisor") > 1).count() > 0)
    assert(adj.filter(symI % 5 =!= 0 && symI % 7 =!= 3 && col("adj_divisor") =!= 1)
      .count() === 0)
    // adjusted price is exactly price / divisor, quantized
    assert(adj.filter(col("price_adj") =!=
      graft.functions.Quantize.r(col("price") / col("adj_divisor"), 6)).count() === 0)
  }

  test("feed reconciliation classifies missing, extra, drifted and matching rows") {
    import spark.implicits._
    val a = Seq(
      ("t1", "A", 10.0, Some("buy")),
      ("t2", "A", 11.0, None),
      ("t3", "B", 12.0, Some("sell")),
      ("t4", "B", 13.0, Some("buy"))
    ).toDF("trade_id", "symbol", "price", "side")
    val b = Seq(
      ("t1", "A", 10.0, Some("buy")),   // match
      ("t2", "A", 11.5, None),          // price drift -> mismatch
      // t3 missing -> only_a
      ("t4", "B", 13.0, None),          // side drift -> mismatch (null-safe)
      ("t9", "B", 99.0, Some("buy"))    // extra -> only_b
    ).toDF("trade_id", "symbol", "price", "side")
    val rep = graft.quality.Reconcile
      .report(a, b, Seq("trade_id"), "symbol", Seq("price", "side"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rep("A") === ((0L, 0L, 1L, 1L)))
    assert(rep("B") === ((1L, 1L, 1L, 0L)))
  }

  private def e2(s: String) = expr(s)
}
