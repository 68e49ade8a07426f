package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, reused across suites). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestBase.session

  def sf0001 = "/root/testdata/sf0.001"

  override def afterAll(): Unit = () // session shared; stopped by JVM exit

  /** The versioned-table data scans in `df`'s executed plan, adaptive
    * query stages included (deletion-vector sidecar scans excluded).
    */
  private def tableScans(df: DataFrame) =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location
              .isInstanceOf[org.apache.spark.sql.graft.ManifestFileIndex] => f
      }

  /** Execute `df`; return its rows and the number of data files its table
    * scans actually read (their `numFiles` metric). `inputFiles` cannot
    * answer this for a `VersionedTable.read` frame: its index reports the
    * unpruned universe.
    */
  def runAndCount(df: DataFrame): (Seq[org.apache.spark.sql.Row], Long) = {
    val rows = df.collect().toSeq
    val files = tableScans(df).map(_.metrics("numFiles").value)
    assert(files.nonEmpty, "expected a versioned-table scan in the plan")
    (rows, files.sum)
  }

  /** Execute `df` and return the data files its table scans read: each
    * scan's index listed under the data filters Catalyst pushed at it,
    * checked against the executed scans' file count.
    */
  def scannedFiles(df: DataFrame): Seq[String] = {
    val (_, n) = runAndCount(df)
    val paths = tableScans(df).flatMap(s =>
      s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
        .flatMap(_.files.map(_.getPath.toString)))
    assert(paths.size.toLong === n, s"listing disagrees with the executed scans: $paths")
    paths
  }

  /** The deterministic ramp fixture from the reference's correctness suite
    * (`tests/test_smartdb_correctness.py:50-62`): `n` ticks, one per minute,
    * price = 150 + 0.1·i.
    */
  def rampTrades(n: Int = 25, symbol: String = "RAMP"): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(n).select(
      expr("timestamp_micros(CAST(1704067200000000 + id * 60000000 AS BIGINT))").as("time"),
      lit(symbol).as("symbol"),
      (lit(150.0) + col("id") * lit(0.1)).as("price"),
      (lit(100.0) + col("id")).as("volume"),
      col("id").cast("string").as("trade_id"),
      when(col("id") % 2 === 0, "buy").otherwise("sell").as("side"),
      (lit(149.0) + col("id") * lit(0.1)).as("bid"),
      (lit(151.0) + col("id") * lit(0.1)).as("ask"))
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    // engine defaults (UTC, INT64-micros parquet → footer-stats fast
    // path) from the ONE definition site, like every production session
    val s = graft.core.EngineSession.defaults(SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
