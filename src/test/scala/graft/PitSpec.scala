package graft

import java.sql.Timestamp

import graft.asof.{AsOfJoin, PitSnapshot}
import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PIT correctness — the reference's central invariant suite
  * (`tests/test_pit_correctness.py:38-79`, `test_feast_pit_correctness.py`).
  */
class PitSpec extends SparkTestBase {

  private def trades = Tables.trades(spark, sf0001)

  test("no future leakage: snapshot equals snapshot over pre-truncated data") {
    val asOf = Timestamp.valueOf("2024-01-15 00:00:00")
    val full = PitSnapshot.snapshot(trades, "3", asOf).collect()(0)
    // An engine that leaks future rows would differ when the future is
    // physically removed:
    val truncated = PitSnapshot.snapshot(
      trades.filter(col("time") <= lit(asOf)), "3", asOf).collect()(0)
    assert(full === truncated)
  }

  test("determinism: same query twice gives identical records") {
    val asOf = Timestamp.valueOf("2024-01-20 00:00:00")
    val a = PitSnapshot.snapshot(trades, "5", asOf).collect()(0)
    val b = PitSnapshot.snapshot(trades, "5", asOf).collect()(0)
    assert(a === b)
  }

  test("versioned-table snapshot through the skipping tiers equals the full snapshot") {
    import graft.sources.VersionedTable
    import org.apache.spark.sql.functions.unix_micros
    val root = java.nio.file.Files.createTempDirectory("graft_pitvt_").toString
    val t = trades.select(col("time"), col("symbol"), col("price"),
      col("volume"), col("trade_id"), col("side"), col("bid"), col("ask"))
    // three chronological commits, each with time stats + a symbol bloom —
    // the layout a production ingest would write
    val b = t.agg(org.apache.spark.sql.functions.min(unix_micros(col("time"))),
      org.apache.spark.sql.functions.max(unix_micros(col("time")))).head()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val t1 = mn + (mx - mn) / 3
    val t2 = mn + 2 * ((mx - mn) / 3)
    def um = unix_micros(col("time"))
    for (tf <- Seq(um < t1, um >= t1 && um < t2, um >= t2))
      VersionedTable.commit(t.filter(tf), root, "append",
        statsCols = Seq("time"), bloomCols = Seq("symbol"))
    // an as-of inside the FIRST third: the two later dirs must be skipped
    val asOf = new Timestamp((t1 - 1) / 1000)
    val viaVersioned = PitSnapshot
      .snapshotVersioned(spark, root, "3", asOf).collect()(0)
    val full = PitSnapshot.snapshot(
      VersionedTable.read(spark, root), "3", asOf).collect()(0)
    assert(viaVersioned === full,
      "skipping-tier snapshot must equal the full-table snapshot")
    // and the access path really skips: the PIT guard over the read
    // touches only dir 1
    val probe = VersionedTable.read(spark, root)
      .filter(col("symbol") === "3" && col("time") <= lit(asOf))
    val files = scannedFiles(probe)
    assert(files.nonEmpty && files.forall(_.contains("data/v00001")),
      s"PIT probe touched out-of-horizon dirs: ${files.mkString(",")}")
  }

  test("a versioned snapshot runs as one pass: at most 2 Spark jobs, no joins, no cache") {
    import graft.sources.VersionedTable
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
      ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true",
      "the shape is asserted for the adaptive plan a serving session runs")
    val helper = new AdaptiveSparkPlanHelper {}
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    def tableBytes(root: String) =
      VersionedTable.read(spark, root).queryExecution.analyzed.stats.sizeInBytes
    def commitSlices(root: String, t: DataFrame, cuts: Seq[Timestamp]): Unit =
      for (Seq(lo, hi) <- cuts.sliding(2))
        VersionedTable.commit(t.filter(col("time") >= lit(lo) && col("time") < lit(hi)),
          root, "append", statsCols = Seq("time"), bloomCols = Seq("symbol"))
    /** Snapshot once under a job group: (jobs it ran, its executed plan). */
    def probe(root: String, symbol: String, asOf: Timestamp) = {
      val group = s"pit-jobs-${java.util.UUID.randomUUID().toString.take(8)}"
      spark.sparkContext.setJobGroup(group, "PIT snapshot job-count probe")
      val snap = try {
        val df = PitSnapshot.snapshotVersioned(spark, root, symbol, asOf)
        assert(df.collect().length === 1)
        df
      } finally spark.sparkContext.clearJobGroup()
      val plan = snap.queryExecution.executedPlan
      // no join, broadcast or cache, and no operator that is not whole-stage
      // code-generated and would compile its projections per task: the fold
      // replaces every aggregate, window and generator
      val offending = helper.collect(plan) {
        case p @ (_: BroadcastNestedLoopJoinExec | _: BroadcastExchangeExec |
            _: InMemoryTableScanExec | _: HashAggregateExec |
            _: ObjectHashAggregateExec | _: SortAggregateExec | _: WindowExec |
            _: GenerateExec) => p.nodeName
      }
      assert(offending.isEmpty, s"snapshot plan holds ${offending.mkString(", ")}:\n$plan")
      (spark.sparkContext.statusTracker.getJobIdsForGroup(group).length, plan)
    }
    def shuffles(plan: org.apache.spark.sql.execution.SparkPlan) =
      helper.collect(plan) { case e: ShuffleExchangeExec => e }
    val day = (d: String) => Timestamp.valueOf(s"$d 00:00:00")

    // At or below openCostInBytes: four chronological commits of the test
    // corpus, read inside the fold's own task
    val root = java.nio.file.Files.createTempDirectory("graft_pitshape_").toString
    commitSlices(root, trades.select(col("time"), col("symbol"), col("price"),
        col("volume"), col("trade_id"), col("side"), col("bid"), col("ask")),
      Seq("2000-01-01", "2024-01-08", "2024-01-16", "2024-01-24", "2100-01-01").map(day))
    assert(VersionedTable.latestVersion(root).contains(4))
    assert(tableBytes(root) <= openCost, s"${tableBytes(root)} B is not a small table")
    val (jobs, plan) = probe(root, "3", day("2024-01-20"))
    assert(jobs === 1, s"expected 1 Spark job per small-table snapshot, saw $jobs")
    assert(shuffles(plan).isEmpty && plan.find(_.isInstanceOf[AdaptiveSparkPlanExec]).isEmpty,
      s"a small-table snapshot plans an exchange or an adaptive stage:\n$plan")

    // Above it: slices of an incompressible synthetic history keep the
    // parallel scan and its one single-partition exchange
    val bigRoot = java.nio.file.Files.createTempDirectory("graft_pitshape_big_").toString
    val t0 = day("2024-01-01").getTime / 1000
    commitSlices(bigRoot, spark.range(160000).select(
        timestamp_seconds(lit(t0) + col("id")).as("time"),
        (col("id") % 8).cast("string").as("symbol"),
        (rand(1) * 100 + 1).as("price"), (rand(2) * 1000).as("volume"),
        col("id").cast("string").as("trade_id"),
        when(col("id") % 2 === 0, "buy").otherwise("sell").as("side"),
        rand(3).as("bid"), rand(4).as("ask")),
      (0 to 4).map(i => new Timestamp((t0 + i * 40000L) * 1000)))
    assert(tableBytes(bigRoot) > openCost, s"${tableBytes(bigRoot)} B is not above $openCost B")
    val (bigJobs, bigPlan) = probe(bigRoot, "3", new Timestamp((t0 + 100000L) * 1000))
    assert(bigJobs <= 2, s"expected at most 2 Spark jobs per snapshot, saw $bigJobs")
    val exchanges = shuffles(bigPlan)
    assert(exchanges.length === 1 && exchanges.head.outputPartitioning == SinglePartition,
      s"a large-table snapshot must keep one single-partition exchange:\n$bigPlan")
  }

  /** The per-kernel formulation of a snapshot, kept as the spec of the
    * one-pass assembly: each "latest <= ts" lookup through its own feature
    * kernel and `max_by` over the bucket, the top-20 as an order-limit, and
    * the 1-row results cross-joined.
    */
  private def perKernelSnapshot(t: DataFrame, symbol: String, asOf: Timestamp): DataFrame = {
    import graft.features.{Ewm, Imbalance, Ohlc, Volatility, Vwap}
    import graft.functions.Quantize
    val base = t.filter(col("symbol") === symbol && col("time") <= lit(asOf))
    val ohlc = Ohlc.compute(base).agg(
      max_by(col("open"), col("bucket")).as("open"),
      max_by(col("high"), col("bucket")).as("high"),
      max_by(col("low"), col("bucket")).as("low"),
      max_by(col("close"), col("bucket")).as("close"))
    val topk = base.orderBy(col("time").desc).limit(20)
      .agg(
        Quantize.r(avg(col("price")), 6).as("sma_20"),
        sort_array(collect_list(struct(col("time"), col("price")))).as("tp"))
      .select(col("sma_20"), Quantize.r(Ewm.ewmOverArray(expr(
        "transform(slice(tp, greatest(1, size(tp) - 11), 12), x -> x.price)")), 6).as("ewm_12"))
    val vol = Volatility.compute(base).filter(col("volatility_1h").isNotNull)
      .agg(max_by(col("volatility_1h"), col("bucket")).as("volatility_1h"))
    val vwap = Vwap.compute(base).agg(max_by(col("vwap_5m"), col("bucket")).as("vwap_5m"))
    val quoted = col("bid").isNotNull && col("ask").isNotNull
    val scalars = base
      .agg(
        percentile(col("volume"), lit(0.95)).as("p95"),
        max_by(col("volume"), col("time")).as("last_volume"),
        max_by(when(quoted, col("bid")), when(quoted, col("time"))).as("b"),
        max_by(when(quoted, col("ask")), when(quoted, col("time"))).as("a"),
        max_by(col("price"), col("time")).as("last_price"))
      .select(
        (col("last_volume") > col("p95")).as("large_trade_flag"),
        Quantize.r(col("p95"), 6).as("percentile_95"),
        Quantize.r(col("b"), 6).as("bid"), Quantize.r(col("a"), 6).as("ask"),
        Quantize.r(col("a") - col("b"), 6).as("bidask_spread"),
        col("last_price"))
    val imb = Imbalance.compute(base).agg(
      max_by(col("imbalance"), col("bucket")).as("trade_imbalance_5m"))
    ohlc.crossJoin(topk).crossJoin(vol).crossJoin(vwap).crossJoin(scalars).crossJoin(imb)
      .select(
        lit(symbol).as("symbol"), lit(asOf).as("as_of_ts"),
        col("open"), col("high"), col("low"), col("close"),
        col("sma_20"), col("ewm_12"), col("volatility_1h"), col("vwap_5m"),
        col("large_trade_flag"), col("percentile_95"),
        col("bid"), col("ask"), col("bidask_spread"),
        col("trade_imbalance_5m"),
        when(col("last_price") > col("sma_20"), "up")
          .when(col("last_price") < col("sma_20"), "down")
          .when(col("last_price").isNotNull, "neutral").as("regime_tag"))
  }

  test("one-pass snapshot equals the per-kernel lookups on edge-case histories") {
    import spark.implicits._
    def at(hms: String) = Timestamp.valueOf(s"2024-03-04 $hms")
    // (time, price, volume, side, bid, ask)
    val ticks = Seq[(String, Double, Double, String, java.lang.Double, java.lang.Double)](
      ("10:00:00", 100.0, 10.0, "buy", 99.9, 100.1),
      ("10:01:30", 101.0, 5.0, "sell", 100.9, 101.1),
      ("10:02:10", 0.0, 3.0, "buy", null, null),     // a zero price
      ("10:03:00", 102.0, 7.0, "sell", 101.9, 102.1),
      ("10:20:00", 103.0, 4.0, "buy", 102.9, 103.1),
      ("10:26:00", 103.5, 0.0, "buy", 103.4, 103.6), // sided, zero volume
      ("10:27:00", 103.2, 0.0, "sell", 103.1, 103.3),
      ("10:40:00", 101.5, 6.0, null, null, null),    // no quote
      ("10:41:00", 101.7, 2.0, null, 101.6, 101.8),  // 5-min bucket: no side
      ("10:59:00", 104.0, 2.0, "sell", 103.9, 104.1),
      ("11:02:00", 105.0, 0.0, null, null, null))    // 1-h bucket: one tick
      .map { case (hms, p, v, s, b, a) => (at(hms), "E", p, v, hms, s, b, a) }
      .toDF("time", "symbol", "price", "volume", "trade_id", "side", "bid", "ask")
    // 25 ticks a minute apart (more than the top-20) whose latest 5-min
    // bucket carries no side
    val ramp = rampTrades(25, "R").withColumn("side",
      when(col("time") >= lit(Timestamp.valueOf("2024-01-01 00:20:00")), lit(null))
        .otherwise(col("side")))
    val cases = Seq(
      (ticks, "E", at("11:03:00")), // vol falls back an hour; 5m: no side, zero volume
      (ticks, "E", at("10:59:30")),
      (ticks, "E", at("10:41:30")), // latest 5-min bucket: every side null
      (ticks, "E", at("10:27:30")), // latest 5-min bucket: zero volume, sided
      (ticks, "E", at("10:02:10")), // the latest tick has a zero price
      (ticks, "E", at("10:00:00")), // a single tick
      (ticks, "E", at("09:00:00")), // before the first tick
      (ramp, "R", Timestamp.valueOf("2024-01-01 00:22:00")),
      (ramp, "R", Timestamp.valueOf("2024-01-01 00:12:00")))
    for ((t, sym, asOf) <- cases) {
      val got = PitSnapshot.snapshot(t, sym, asOf)
      val want = perKernelSnapshot(t, sym, asOf)
      assert(got.schema.map(f => (f.name, f.dataType)) ===
        want.schema.map(f => (f.name, f.dataType)))
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      assert(g === w, s"$sym @ $asOf")
    }
  }

  test("a small versioned table read out of time order in one task equals the per-kernel lookups") {
    import graft.sources.VersionedTable
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val root = java.nio.file.Files.createTempDirectory("graft_pitorder_").toString
    val t = trades.select(col("time"), col("symbol"), col("price"),
      col("volume"), col("trade_id"), col("side"), col("bid"), col("ask"))
    val cuts = Seq("2000-01-01", "2024-01-08", "2024-01-16", "2024-01-24", "2100-01-01")
      .map(d => Timestamp.valueOf(s"$d 00:00:00"))
    // newest slice first; the second commit writes three files, each
    // holding an interleaved share of its slice's ticks
    for ((Seq(lo, hi), i) <- cuts.sliding(2).toSeq.reverse.zipWithIndex) {
      val slice = t.filter(col("time") >= lit(lo) && col("time") < lit(hi))
      VersionedTable.commit(if (i == 1) slice.repartition(3) else slice,
        root, "append", statsCols = Seq("time"), bloomCols = Seq("symbol"))
    }
    val multiFile = new java.io.File(root, "data").listFiles().exists(
      _.listFiles().count(_.getName.startsWith("part-")) > 1)
    assert(multiFile, "no commit wrote more than one file")
    val table = VersionedTable.read(spark, root)
    for (asOf <- Seq("2024-01-05 12:00:00", "2024-01-12 00:00:00",
        "2024-01-20 06:30:00", "2024-02-01 00:00:00").map(Timestamp.valueOf)) {
      val got = PitSnapshot.snapshotVersioned(spark, root, "3", asOf)
      val g = got.collect().toSeq
      val exchanges = new AdaptiveSparkPlanHelper {}.collect(got.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, s"not the single-task read:\n${got.queryExecution.executedPlan}")
      assert(g === perKernelSnapshot(table, "3", asOf).collect().toSeq, s"@ $asOf")
    }
  }

  test("property: snapshot and PreparedSnapshot.at equal the per-kernel lookups on random histories") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(20240304L)
    val origin = Timestamp.valueOf("2024-03-04 10:00:00").getTime
    val horizonSec = 3 * 3600
    def chance(p: Double) = rnd.nextDouble() < p
    def opt[T](p: Double)(v: => T): Any = if (chance(p)) null else v
    // Prices and volumes sit on binary grids (quarters, halves), so every
    // sum and product is exact and the comparison cannot hinge on the
    // summation order of either side.
    def history(symbol: String): Seq[Row] = {
      val n = rnd.nextInt(61)
      val secs = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (secs.size < n) secs += (rnd.nextInt(4) match {
        // on a 1-min, 5-min or 1-h boundary, or anywhere
        case 0 => 60 * rnd.nextInt(horizonSec / 60)
        case 1 => 300 * rnd.nextInt(horizonSec / 300)
        case 2 => 3600 * rnd.nextInt(horizonSec / 3600)
        case _ => rnd.nextInt(horizonSec)
      })
      // one 5-min bucket whose ticks all trade zero volume
      val zeroBucket = rnd.nextInt(horizonSec / 300)
      secs.toSeq.sorted.map { sec =>
        val price = opt(0.1)(if (chance(0.08)) 0.0 else 100.0 + 0.25 * (rnd.nextInt(41) - 20))
        val volume = opt(0.1)(if (sec / 300 == zeroBucket) 0.0 else 0.5 * rnd.nextInt(21))
        val mid = if (price == null) 100.0 else price.asInstanceOf[Double]
        Row(new Timestamp(origin + sec * 1000L), symbol, price, volume, s"$symbol-$sec",
          opt(0.2)(if (chance(0.5)) "buy" else "sell"),
          opt(0.15)(mid - 0.25), opt(0.15)(mid + 0.25))
      }
    }
    val schema = StructType(Seq(StructField("time", TimestampType),
      StructField("symbol", StringType), StructField("price", DoubleType),
      StructField("volume", DoubleType), StructField("trade_id", StringType),
      StructField("side", StringType), StructField("bid", DoubleType),
      StructField("ask", DoubleType)))
    // as-of times: on a tick, anywhere (before the first tick included)
    // and on a 5-min boundary
    val cases = (0 until 200).map { i =>
      val ticks = history(s"H$i")
      val onTick = if (ticks.isEmpty) origin else ticks(rnd.nextInt(ticks.size)).getTimestamp(0).getTime
      (s"H$i", ticks, Seq(onTick, origin - 600000L + rnd.nextInt(horizonSec + 1200) * 1000L,
        origin + 300000L * rnd.nextInt(horizonSec / 300 + 1)).map(new Timestamp(_)))
    }
    // The per-kernel lookups run interpreted in a session of their own: each
    // is a dozen tiny aggregates whose per-task code generation would
    // otherwise dominate the suite's time. Values do not depend on it.
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    def frame(s: org.apache.spark.sql.SparkSession, ticks: Seq[Row]) =
      s.createDataFrame(java.util.Arrays.asList(ticks: _*), schema).coalesce(1)
    def check(symbol: String, ticks: Seq[Row], asOfs: Seq[Timestamp]): Unit = {
      val (t, spec) = (frame(spark, ticks), frame(interpreted, ticks))
      val handle = PitSnapshot.prepare(t, symbol)
      try for (asOf <- asOfs) {
        val got = PitSnapshot.snapshot(t, symbol, asOf).collect().toSeq
        assert(got === perKernelSnapshot(spec, symbol, asOf).collect().toSeq,
          s"$symbol @ $asOf over ${ticks.mkString("; ")}")
        assert(handle.at(asOf).collect().toSeq === got, s"prepared $symbol @ $asOf")
      } finally handle.close()
    }
    // the histories are independent: four driver threads keep local[4] busy
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(cases) { case (symbol, ticks, asOfs) =>
      Future(check(symbol, ticks, asOfs))
    }, Duration.Inf)
    finally pool.shutdown()
  }

  test("a symbol with no tick at or before as_of snapshots to one all-null row") {
    import graft.sources.VersionedTable
    // the q_pit_snapshot oracle's shape for an empty base: every aggregate
    // CTE yields one NULL row, so the cross join is a single row carrying
    // only the requested symbol and as-of time
    def assertAllNull(snap: DataFrame, symbol: String, asOf: Timestamp): Unit = {
      val rows = snap.collect()
      assert(rows.length === 1, s"$symbol @ $asOf")
      val row = rows(0)
      assert(row.getAs[String]("symbol") === symbol)
      assert(row.getAs[Timestamp]("as_of_ts") === asOf)
      val features = row.schema.fieldNames.filterNot(Set("symbol", "as_of_ts"))
      assert(features.filterNot(f => row.isNullAt(row.fieldIndex(f))).isEmpty,
        s"non-null features on an empty history: ${row.mkString(",")}")
    }
    // every tick is after the as-of
    val early = Timestamp.valueOf("2000-01-01 00:00:00")
    assertAllNull(PitSnapshot.snapshot(trades, "3", early), "3", early)
    // a symbol the bloom tier prunes from every dir: zero files are read
    // and nothing is exchanged, so only the NULL-time marker keeps the
    // fold's single partition
    val root = java.nio.file.Files.createTempDirectory("graft_pitnone_").toString
    val t = trades.select(col("time"), col("symbol"), col("price"),
      col("volume"), col("trade_id"), col("side"), col("bid"), col("ask"))
    val mid = Timestamp.valueOf("2024-01-16 00:00:00")
    for (slice <- Seq(col("time") < lit(mid), col("time") >= lit(mid)))
      VersionedTable.commit(t.filter(slice), root, "append",
        statsCols = Seq("time"), bloomCols = Seq("symbol"))
    val (absent, asOf) = ("NO_SUCH_SYMBOL", Timestamp.valueOf("2024-01-20 00:00:00"))
    assert(scannedFiles(VersionedTable.read(spark, root)
      .filter(col("symbol") === absent && col("time") <= lit(asOf))).isEmpty,
      "the bloom tier admitted a dir for an absent symbol")
    assertAllNull(PitSnapshot.snapshotVersioned(spark, root, absent, asOf), absent, asOf)
  }

  test("a constant price snapshots as neutral: the regime tag compares the reported SMA-20") {
    // 20 ticks of 0.1: the raw average is 0.10000000000000002, the
    // reported (quantized) sma_20 is 0.1 — equal to the last price
    val flat = rampTrades(25, "FLAT").withColumn("price", lit(0.1))
    val row = PitSnapshot.snapshot(flat, "FLAT",
      Timestamp.valueOf("2024-01-02 00:00:00")).collect()(0)
    assert(row.getAs[Double]("sma_20") === 0.1)
    assert(row.getAs[String]("regime_tag") === "neutral")
  }

  test("future as_of is rejected") {
    val now = Timestamp.valueOf("2024-01-30 00:00:00")
    assert(PitSnapshot.validateAsOf(Timestamp.valueOf("2024-02-01 00:00:00"), now).isLeft)
    assert(PitSnapshot.validateAsOf(Timestamp.valueOf("2024-01-29 00:00:00"), now).isRight)
  }

  test("snapshot JSON export round-trips every feature key (helpers.py:123-147 parity)") {
    import graft.serving.SnapshotExport
    val asOf = Timestamp.valueOf("2024-01-15 00:00:00")
    val snap = PitSnapshot.snapshot(trades, "3", asOf)
    val out = java.nio.file.Files.createTempDirectory("graft_snapjson_")
      .resolve("snapshot.json").toString
    val doc = SnapshotExport.exportToJson(snap, out)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out)), "UTF-8").trim === doc.trim, "file matches render")
    val leaves = SnapshotExport.parseLeaves(doc)
    val row = snap.collect()(0)
    val expectedKeys = Seq("symbol", "snapshot_time", "ohlc_1m_open",
      "ohlc_1m_high", "ohlc_1m_low", "ohlc_1m_close", "sma_20", "ewm_12",
      "volatility_1h", "vwap_5m", "large_trade_flag", "bidask_spread",
      "trade_imbalance_5m", "regime_tag")
    assert(expectedKeys.forall(leaves.contains), s"missing keys: ${
      expectedKeys.filterNot(leaves.contains)}")
    assert(leaves("symbol") === "3")
    // datetime.isoformat() parity: seconds are ALWAYS present, even for
    // whole-minute snapshot times (LocalDateTime.toString would drop them).
    assert(leaves("snapshot_time") === "2024-01-15T00:00:00")
    assert(leaves("ohlc_1m_close") === row.getAs[Any]("close").toString)
    assert(leaves("sma_20") === row.getAs[Any]("sma_20").toString)
    assert(leaves("regime_tag") === row.getAs[String]("regime_tag"))
    assert(leaves("large_trade_flag") === row.getAs[Boolean]("large_trade_flag").toString)
  }

  test("snapshot JSON: non-finite features render as null; fractional seconds kept") {
    import graft.serving.SnapshotExport
    val df = spark.sql(
      """SELECT 'X' AS symbol, TIMESTAMP '2024-01-15 09:30:00.250000' AS as_of_ts,
        |  1.0 AS open, 2.0 AS high, 0.5 AS low, 1.5 AS close,
        |  CAST('NaN' AS DOUBLE) AS sma_20, double('Infinity') AS ewm_12,
        |  double('-Infinity') AS volatility_1h, 1.25 AS vwap_5m,
        |  false AS large_trade_flag, CAST(NULL AS DOUBLE) AS bidask_spread,
        |  0.0 AS trade_imbalance_5m, 'calm' AS regime_tag""".stripMargin)
    val doc = SnapshotExport.render(df.collect()(0))
    val leaves = SnapshotExport.parseLeaves(doc)
    assert(leaves("sma_20") === "null")
    assert(leaves("ewm_12") === "null")
    assert(leaves("volatility_1h") === "null")
    assert(leaves("bidask_spread") === "null")
    assert(leaves("snapshot_time") === "2024-01-15T09:30:00.250000")
    assert(!doc.contains("NaN") && !doc.contains("Infinity"), "no bare non-finite tokens")
  }

  test("as-of join: exact-time feature rows are visible (<= semantics), later ones are not") {
    import spark.implicits._
    val feature = Seq(
      ("A", Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      ("A", Timestamp.valueOf("2024-01-01 11:00:00"), 2.0),
      ("A", Timestamp.valueOf("2024-01-01 12:00:00"), 3.0))
      .toDF("symbol", "time", "v")
    val entity = Seq(
      ("A", Timestamp.valueOf("2024-01-01 09:00:00")), // before any feature
      ("A", Timestamp.valueOf("2024-01-01 11:00:00")), // exactly at #2
      ("A", Timestamp.valueOf("2024-01-01 11:30:00"))) // between #2 and #3
      .toDF("symbol", "ts")
    val out = AsOfJoin.backward(entity, feature, Seq("symbol"), "ts", "time")
      .orderBy("ts").select("v").collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getDouble(0) === 2.0)
    assert(out(2).getDouble(0) === 2.0)
  }

  test("as-of join TTL: matches older than the TTL are nulled") {
    import spark.implicits._
    val feature = Seq(("A", Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("symbol", "time", "v")
    val entity = Seq(
      ("A", Timestamp.valueOf("2024-01-01 00:30:00")), // 30 min later: in TTL
      ("A", Timestamp.valueOf("2024-01-01 02:30:00"))) // 2.5 h later: out
      .toDF("symbol", "ts")
    val out = AsOfJoin.backward(
      entity, feature, Seq("symbol"), "ts", "time", ttlSeconds = Some(3600))
      .orderBy("ts").select("v").collect()
    assert(out(0).getDouble(0) === 1.0)
    assert(out(1).isNullAt(0))
  }

  test("forward as-of: earliest at-or-after match, >= semantics, TTL nulls far matches") {
    import spark.implicits._
    val feature = Seq(
      ("A", Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      ("A", Timestamp.valueOf("2024-01-01 11:00:00"), 2.0),
      ("A", Timestamp.valueOf("2024-01-01 15:00:00"), 3.0))
      .toDF("symbol", "time", "v")
    val entity = Seq(
      ("A", Timestamp.valueOf("2024-01-01 09:30:00")), // next is #1
      ("A", Timestamp.valueOf("2024-01-01 11:00:00")), // exactly at #2 (>= visible)
      ("A", Timestamp.valueOf("2024-01-01 11:30:00")), // next is #3, 3.5 h away
      ("A", Timestamp.valueOf("2024-01-01 16:00:00"))) // nothing after
      .toDF("symbol", "ts")
    val out = AsOfJoin.forward(
      entity, feature, Seq("symbol"), "ts", "time", ttlSeconds = Some(3600))
      .orderBy("ts").select("v").collect()
    assert(out(0).getDouble(0) === 1.0)
    assert(out(1).getDouble(0) === 2.0, ">= must see the contemporaneous row")
    assert(out(2).isNullAt(0), "next match beyond TTL is nulled")
    assert(out(3).isNullAt(0), "no future row at all")
  }

  test("historical features sweep produces a value for every in-range entity row") {
    val t = trades
    val entities = t.select("symbol").distinct().limit(3)
      .crossJoin(spark.range(5).select(
        expr("timestampadd(DAY, CAST(id AS INT), TIMESTAMP'2024-01-10 00:00:00')")
          .as("event_timestamp")))
    val out = graft.asof.HistoricalFeatures.retrieve(entities, t)
    assert(out.count() === entities.count())
    // every row must have an OHLC close within the 7-day TTL (data is dense)
    assert(out.filter(col("ohlc_close").isNull).count() === 0)
  }
}
