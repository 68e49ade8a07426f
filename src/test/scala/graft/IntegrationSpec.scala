package graft

import java.nio.file.Files

import graft.core.Tables
import graft.features.Ohlc
import graft.quality.Sla
import org.apache.spark.sql.functions._

/** End-to-end narrative mirroring the reference's integration suite
  * (`tests/test_integration.py:37-121`): ingest → raw landed → aggregates
  * exist → PIT works → freshness SLA evaluated — all through the real code
  * paths on one session.
  */
class IntegrationSpec extends SparkTestBase {

  test("ingest -> features -> PIT -> SLA, end to end") {
    val root = Files.createTempDirectory("graft_e2e_").toString
    val rawDir = s"$root/raw"

    // 1. stream-ingest the corpus with the exactly-once sink (plus a replay)
    val landed = graft.streaming.StreamingFeatures
      .exactlyOnceIngest(spark, s"$sf0001/events.parquet", rawDir)
    val produced = Tables.trades(spark, sf0001).count()
    // >= 90% durability bar from the reference test — here exactly-once means 100%
    assert(landed.count() === produced)

    // 2. aggregates over the LANDED data exist and are consistent
    val bars = Ohlc.compute(landed)
    assert(bars.count() > 0)
    assert(bars.filter(col("high") < col("low")).count() === 0)

    // 3. PIT snapshot over the landed data returns a fully-populated record
    val snap = graft.asof.PitSnapshot.snapshot(
      landed, "7", java.sql.Timestamp.valueOf("2024-01-20 00:00:00")).collect()(0)
    assert(!snap.isNullAt(snap.fieldIndex("close")))
    assert(!snap.isNullAt(snap.fieldIndex("sma_20")))
    assert(!snap.isNullAt(snap.fieldIndex("regime_tag")))

    // 4. freshness SLA against the event-time anchor: the 1-min OHLC bar
    // containing the newest trade is by construction <= 60 s old, within
    // even the strictest non-spread SLA
    val anchor = landed.agg(max(col("time")).as("mx"))
    val ages = bars.agg(max(col("bucket")).as("mb")).crossJoin(anchor)
      .select(lit("ohlc_1m").as("feature"),
        (unix_micros(col("mx")) - unix_micros(col("mb"))).as("age_micros"))
    assert(Sla.violations(ages).count() === 0)
  }
}
