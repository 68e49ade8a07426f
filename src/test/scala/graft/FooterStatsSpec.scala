package graft

import java.nio.file.Files

import graft.sources.VersionedTable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The footer-stats fast path of the dir-measurement kernel: row counts
  * and per-file min/max hulls are read from the parquet footers of the
  * measured dirs instead of a Spark job. These tests pin the exactness
  * contract: footer-derived manifest stats must be IDENTICAL to what the
  * scan path computes at every verb that measures dirs (the same history
  * written under INT96 timestamps, which footers cannot serve, exercises
  * the scan fallback), NaN hulls must fall back, and bloom sidecars must
  * keep probing.
  */
class FooterStatsSpec extends SparkTestBase {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_fstat_").toString

  /** trades-shaped frame with nulls, an all-null column, strings and
    * timestamps — every type the stats grammar speaks.
    */
  private def corpus(from: Long = 0L, until: Long = 1000L): DataFrame =
    spark.range(from, until).select(
      col("id"),
      (col("id") % 7).cast("int").as("bucket"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 1000000L).as("ts"),
      concat(lit("sym_"), (col("id") % 13).cast("string")).as("symbol"),
      when(col("id") % 11 === 0, lit(null).cast("double"))
        .otherwise(col("id").cast("double") * 1.5).as("price"),
      lit(null).cast("double").as("void"))

  /** Stats of one snapshot, shape-normalized for comparison across tables
    * (dir and part-file names are attempt-unique): dir-grain and file-grain
    * entries (the latter from the `fstats` sidecars) each as a sorted
    * multiset of (col, min, max).
    */
  private def normalized(root: String, version: Int)
      : (Seq[(String, Double, Double)], Seq[(String, Double, Double)]) = {
    val snap = VersionedTable.snapshot(root, version)
    def norm(ss: Seq[VersionedTable.DirStat]) =
      ss.map(s => (s.col, s.min, s.max)).sortBy(s => (s._1, s._2, s._3))
    (norm(snap.dirStats.filter(_.file.isEmpty)),
      norm(snap.dataDirs.flatMap(d => VersionedTable.fileGrainStats(root, snap, d))))
  }

  private val statsCols = Seq("id", "bucket", "ts", "symbol", "price", "void")
  private val bloomCols = Seq("id", "symbol")

  /** One history through every verb that measures data dirs: commit,
    * copy-on-write delete (rewritten dirs) and merge (rewritten dirs plus
    * the source dir), analyze (existing dirs), OPTIMIZE ZORDER unscoped
    * and `where`-scoped, and compactWhere.
    */
  private def history(root: String): Unit = {
    VersionedTable.commit(corpus().repartition(3), root,
      statsCols = statsCols, bloomCols = bloomCols)
    VersionedTable.commit(corpus(1000, 2000).repartition(2), root,
      statsCols = statsCols, bloomCols = bloomCols)
    // every dir partially matched: both are rewritten
    VersionedTable.delete(spark, root, col("id") % 100 === 7)
    VersionedTable.merge(spark, root,
      corpus().filter(col("id") % 100 === 3).withColumn("price", lit(-1.0))
        .union(corpus(2000, 2300)), "id")
    VersionedTable.analyze(spark, root, statsCols, Seq("symbol"))
    VersionedTable.optimizeZorder(spark, root,
      Seq(col("id") -> 4095L, col("bucket").cast("long") -> 6L), nDirs = 4,
      statsCols = statsCols, bloomCols = bloomCols)
    VersionedTable.optimizeZorder(spark, root,
      Seq(col("id") -> 4095L, col("bucket").cast("long") -> 6L), nDirs = 2,
      statsCols = statsCols, bloomCols = bloomCols,
      where = Some(col("id") < 500L))
    VersionedTable.compactWhere(spark, root, col("id") >= 1500L,
      statsCols = statsCols, bloomCols = bloomCols)
  }

  test("footer-derived stats are identical to scan-derived stats") {
    val footerRoot = freshRoot()
    history(footerRoot)

    // INT96 timestamps carry no ordered footer stats, so the same history
    // under the legacy encoding must take the scan fallback at every
    // measurement — giving us the scan path's output on identical data to
    // diff against.
    val scanRoot = freshRoot()
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try history(scanRoot)
    finally spark.conf.set(key, prev)

    val versions = VersionedTable.history(footerRoot).map(_.version)
    assert(versions === (1 to 8))
    assert(VersionedTable.history(scanRoot).map(_.operation) ===
      Seq("append", "append", "delete", "merge", "analyze", "optimize",
        "optimize", "optimize"))
    versions.foreach { v =>
      val (fDir, fFiles) = normalized(footerRoot, v)
      val (sDir, sFiles) = normalized(scanRoot, v)
      assert(fDir === sDir, s"v$v: dir-grain hulls must match the scan path")
      assert(fFiles === sFiles, s"v$v: file-grain hulls must match the scan path")
      val snap = VersionedTable.snapshot(footerRoot, v)
      assert(snap.dataDirs.forall(d =>
        VersionedTable.fileGrainStats(footerRoot, snap, d).nonEmpty),
        s"v$v: every measured dir records file-grain hulls")
      assert(fDir.map(_._1).toSet === Set("id", "bucket", "ts", "symbol", "price"),
        s"v$v: all-null column contributes no stats; all others do")
      // bloom sidecars (and hulls) prune identically: present keys hit,
      // keys inside every hull but in no dir prune every file
      def probe(root: String, p: org.apache.spark.sql.Column) = {
        val (rows, files) =
          runAndCount(VersionedTable.read(spark, root, Some(v)).filter(p))
        (rows.map(_.toString).sorted, files)
      }
      Seq(col("symbol") === "sym_3", col("id") === 123L, col("id") === 107L)
        .foreach(p => assert(probe(footerRoot, p) === probe(scanRoot, p),
          s"v$v: $p must prune alike"))
      assert(probe(footerRoot, col("symbol") === "sym_3")._1.nonEmpty)
      assert(probe(footerRoot, col("symbol") === "sym_10x") === ((Seq.empty, 0L)),
        s"v$v: an absent symbol must be dismissed by the bloom tier")
    }
    assert(VersionedTable.snapshot(footerRoot, 1).rows === 1000)
    assert(VersionedTable.snapshot(scanRoot, 1).rows === 1000)
    assert(VersionedTable.snapshot(footerRoot, 6).rows ===
      VersionedTable.snapshot(scanRoot, 6).rows)
    assert(VersionedTable.read(spark, footerRoot).count() === 2280L)
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
