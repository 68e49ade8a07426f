package graft

import java.nio.file.Files

import graft.sources.VersionedTable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The footer-stats commit fast path (r17 optimization): commit-time row
  * counts and per-file min/max hulls are read from the parquet footers of
  * the freshly written dir instead of a second Spark job. These tests pin
  * the exactness contract: footer-derived manifest stats must be IDENTICAL
  * to what the scan path computes (the same table committed under INT96
  * timestamps, which footers cannot serve, exercises the scan fallback),
  * NaN hulls must fall back, and bloom sidecars must keep probing.
  */
class FooterStatsSpec extends SparkTestBase {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_fstat_").toString

  /** trades-shaped frame with nulls, an all-null column, strings and
    * timestamps — every type the stats grammar speaks.
    */
  private def corpus(): DataFrame =
    spark.range(0, 1000).select(
      col("id"),
      (col("id") % 7).cast("int").as("bucket"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 1000000L).as("ts"),
      concat(lit("sym_"), (col("id") % 13).cast("string")).as("symbol"),
      when(col("id") % 11 === 0, lit(null).cast("double"))
        .otherwise(col("id").cast("double") * 1.5).as("price"),
      lit(null).cast("double").as("void"))

  /** Stats of one commit, shape-normalized for comparison across tables
    * (dir and part-file names are attempt-unique): dir-grain entries keyed
    * by col, file-grain entries as a sorted multiset of (col, min, max).
    */
  private def normalized(root: String, version: Int)
      : (Map[String, (Double, Double)], Seq[(String, Double, Double)]) = {
    val stats = VersionedTable.snapshot(root, version).dirStats
    (stats.filter(_.file.isEmpty).map(s => s.col -> (s.min, s.max)).toMap,
      stats.filter(_.file.isDefined).map(s => (s.col, s.min, s.max))
        .sortBy(s => (s._1, s._2, s._3)))
  }

  private val statsCols = Seq("id", "bucket", "ts", "symbol", "price", "void")

  test("footer-derived stats are identical to scan-derived stats") {
    val df = corpus().repartition(3)
    val footerRoot = freshRoot()
    VersionedTable.commit(df, footerRoot, statsCols = statsCols)

    // INT96 timestamps carry no ordered footer stats, so the same commit
    // under the legacy encoding must take the scan fallback — giving us
    // the old path's output on identical data to diff against.
    val scanRoot = freshRoot()
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try VersionedTable.commit(df, scanRoot, statsCols = statsCols)
    finally spark.conf.set(key, prev)

    val (fDir, fFiles) = normalized(footerRoot, 1)
    val (sDir, sFiles) = normalized(scanRoot, 1)
    assert(fDir === sDir, "dir-grain hulls must match the scan path")
    assert(fFiles === sFiles, "file-grain hulls must match the scan path")
    assert(fDir.keySet === Set("id", "bucket", "ts", "symbol", "price"),
      "all-null column contributes no stats; all others do")
    assert(VersionedTable.snapshot(footerRoot, 1).rows === 1000)
    assert(VersionedTable.snapshot(scanRoot, 1).rows === 1000)
  }

  test("NaN hulls fall back to the scan path (footer bounds are not exact)") {
    val df = spark.range(0, 100).select(
      col("id"),
      when(col("id") === 50, lit(Double.NaN))
        .otherwise(col("id").cast("double")).as("v"))
    val root = freshRoot()
    VersionedTable.commit(df.coalesce(1), root, statsCols = Seq("v"))
    val expected = df.agg(
      min(col("v").cast("double")), max(col("v").cast("double"))).head
    val stat = VersionedTable.snapshot(root, 1).dirStats
      .find(s => s.col == "v" && s.file.isEmpty).get
    assert(stat.min === expected.getDouble(0))
    // Spark's max treats NaN as greatest — the manifest must agree
    assert(stat.max.isNaN && expected.getDouble(1).isNaN)
  }

  test("commit-path blooms keep probing correctly (string + long keys)") {
    val root = freshRoot()
    VersionedTable.commit(corpus().repartition(2), root,
      statsCols = Seq("id"), bloomCols = Seq("id", "symbol"))
    // a point read on an absent key prunes everything; a present key hits
    val read = VersionedTable.read(spark, root)
    assert(read.filter(col("symbol") === "sym_3").count() > 0)
    val miss = read.filter(col("symbol") === "sym_nope")
    assert(runAndCount(miss) === ((Seq.empty, 0L)))
    assert(read.filter(col("id") === 123L).count() === 1)
  }
}
