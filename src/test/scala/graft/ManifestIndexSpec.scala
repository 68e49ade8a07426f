package graft

import java.nio.file.Files

import graft.sources.VersionedTable
import graft.sources.VersionedTable.{PointFilter, RangeFilter}

import org.apache.spark.sql.catalyst.expressions.{Abs, And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, Literal, Or}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestScan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** Planning-time data skipping: `VersionedTable.read`'s ManifestFileIndex
  * must dismiss dirs from ordinary Catalyst-pushed `.filter`/`WHERE`
  * predicates — the same [[VersionedTable.admittedDirs]] verdicts the DML
  * verbs use, asserted at the physical-plan level via the scan's
  * `numFiles` metric.
  */
class ManifestIndexSpec extends SparkTestBase {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_mfi_").toString

  /** Three disjoint id-range dirs, two files each, min/max stats on id. */
  private def rangedTable(): String = {
    val root = freshRoot()
    Seq((0L, 100L), (100L, 200L), (200L, 300L)).foreach { case (lo, hi) =>
      VersionedTable.commit(
        spark.range(lo, hi).toDF("id").repartition(2), root, "append",
        statsCols = Seq("id"))
    }
    root
  }

  test("a plain .filter range probe prunes dirs at planning time, value-exact") {
    val root = rangedTable()
    val all = runAndCount(VersionedTable.read(spark, root))
    assert(all._2 === 6, "three dirs x two files with no filters")
    val probe = VersionedTable.read(spark, root)
      .filter(col("id") >= 120L && col("id") < 180L)
    val (rows, files) = runAndCount(probe)
    assert(files === 2, s"only the middle dir's files may be scanned, got $files")
    assert(rows.map(_.getLong(0)).sorted === (120L until 180L))
  }

  test("per-file stats prune INSIDE a fat dir (file-grain admission)") {
    val root = freshRoot()
    // ONE commit, ONE dir, four range-split files — the fat-append shape
    // whose pruning used to coarsen to the dir hull
    VersionedTable.commit(
      spark.range(0, 400).toDF("id").repartitionByRange(4, col("id")),
      root, "append", statsCols = Seq("id"))
    val snap = VersionedTable.snapshot(root, 1)
    assert(snap.dataDirs.size === 1)
    assert(VersionedTable.fileGrainStats(root, snap, snap.dataDirs.head)
      .count(_.col == "id") === 4,
      "commit must record one fstats hull per file (sidecar-referenced)")
    assert(snap.dirStats.exists(s => s.file.isEmpty && s.col == "id"),
      "the dir-grain hull must still be recorded (dir admission needs it)")
    val all = runAndCount(VersionedTable.read(spark, root))
    assert(all._2 === 4, "one dir, four files unfiltered")
    val probe = VersionedTable.read(spark, root)
      .filter(col("id") >= 150L && col("id") < 180L)
    val (rows, files) = runAndCount(probe)
    assert(files >= 1 && files < 4,
      s"file-grain hulls must prune inside the single dir, got $files")
    assert(rows.map(_.getLong(0)).sorted === (150L until 180L))
  }

  test("manifests stay O(dirs): file-grain stats live ONCE in sidecars, descendants carry pointers") {
    val root = freshRoot()
    // three fat appends (4 files each) then a stream of tiny appends — the
    // 8600-commits/day shape whose manifests must NOT accrete per-file lines
    (0 until 3).foreach(i => VersionedTable.commit(
      spark.range(i * 400, (i + 1) * 400).toDF("id")
        .repartitionByRange(4, col("id")), root, "append",
      statsCols = Seq("id")))
    (0 until 5).foreach(i => VersionedTable.commit(
      spark.range(1200 + i * 10, 1210 + i * 10).toDF("id"), root, "append",
      statsCols = Seq("id")))
    val latest = VersionedTable.latestVersion(root).get
    val body = VersionedTable.store.get(root, latest).get
    assert(!body.contains("fstats="),
      "no inline per-file lines may ride a descendant manifest")
    val ptrLines = body.linesIterator.count(_.startsWith("fstatsf="))
    assert(ptrLines === 8, s"one pointer per dir, got $ptrLines")
    // each dir's sidecar resolves to its own per-file hulls
    val snap = VersionedTable.snapshot(root, latest)
    val fat = snap.dataDirs.head
    assert(VersionedTable.fileGrainStats(root, snap, fat).size === 4)
    // and file-grain pruning still works through the pointers
    val probe = VersionedTable.read(spark, root)
      .filter(col("id") >= 150L && col("id") < 180L)
    val (rows, files) = runAndCount(probe)
    assert(files >= 1 && files < 4, s"expected file-tier pruning, got $files")
    assert(rows.map(_.getLong(0)).sorted === (150L until 180L))
  }

  test("legacy inline fstats= manifests still parse and prune (pre-sidecar tables)") {
    val root = freshRoot()
    VersionedTable.commit(
      spark.range(0, 400).toDF("id").repartitionByRange(4, col("id")),
      root, "append", statsCols = Seq("id"))
    // rewrite v1's manifest in the legacy INLINE form (fstats= lines, no
    // pointer) — exactly what a pre-sidecar table's log contains
    val snap1 = VersionedTable.snapshot(root, 1)
    val inline = VersionedTable
      .fileGrainStats(root, snap1, snap1.dataDirs.head)
      .map(s => s"fstats=${s.dir}|${s.file.get}|${s.col}|${s.min}|${s.max}")
    val body = VersionedTable.store.get(root, 1).get.linesIterator
      .filterNot(_.startsWith("fstatsf=")).mkString("\n") +
      "\n" + inline.mkString("\n") + "\n"
    VersionedTable.store.delete(root, 1)
    assert(VersionedTable.store.putIfAbsent(root, 1, body))
    val snap = VersionedTable.snapshot(root, 1)
    assert(snap.fstatsRefs.isEmpty)
    assert(snap.dirStats.count(_.file.isDefined) === 4, "inline entries parse")
    assert(VersionedTable
      .fileGrainStats(root, snap, snap.dataDirs.head).size === 4)
    val probe = VersionedTable.read(spark, root)
      .filter(col("id") >= 150L && col("id") < 180L)
    val (rows, files) = runAndCount(probe)
    assert(files >= 1 && files < 4, s"legacy inline must still prune, got $files")
    assert(rows.map(_.getLong(0)).sorted === (150L until 180L))
  }

  test("analyze() retrofits file-grain hulls onto an existing fat dir") {
    val root = freshRoot()
    // committed with NO stats at all — the legacy-table shape
    VersionedTable.commit(
      spark.range(0, 400).toDF("id").repartitionByRange(4, col("id")), root)
    val before = runAndCount(VersionedTable.read(spark, root)
      .filter(col("id") >= 150L && col("id") < 180L))
    assert(before._2 === 4, "no stats: every file must be scanned")
    // one metadata-only commit measures the layout, down to file grain
    VersionedTable.analyze(spark, root, statsCols = Seq("id"))
    val (rows, files) = runAndCount(VersionedTable.read(spark, root)
      .filter(col("id") >= 150L && col("id") < 180L))
    assert(files >= 1 && files < 4,
      s"post-analyze the probe must prune at the file tier, got $files")
    assert(rows.map(_.getLong(0)).sorted === (150L until 180L))
  }

  test("an equality probe rides the bloom tier through ordinary .filter") {
    val root = freshRoot()
    Seq("AAA", "BBB", "CCC").foreach { sym =>
      VersionedTable.commit(
        spark.range(0, 50).toDF("id").withColumn("sym", lit(sym)).repartition(2),
        root, "append", bloomCols = Seq("sym"))
    }
    val probe = VersionedTable.read(spark, root).filter(col("sym") === "BBB")
    val (rows, files) = runAndCount(probe)
    assert(files === 2, s"blooms must dismiss the AAA and CCC dirs, got $files")
    assert(rows.size === 50 && rows.forall(_.getString(1) == "BBB"))
  }

  test("untranslatable predicates are conservative: full scan, right answer") {
    val root = rangedTable()
    // abs(id) = 150 is not a dir-dismissible shape — every dir must survive
    val probe = VersionedTable.read(spark, root).filter(abs(col("id")) === 150L)
    val (rows, files) = runAndCount(probe)
    assert(files === 6, "no translation -> no pruning")
    assert(rows.map(_.getLong(0)) === Seq(150L))
  }

  test("SQL WHERE over graft_versioned prunes identically (pure-SQL skipping)") {
    import org.apache.spark.sql.SparkSession
    val root = rangedTable()
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
    try {
      val df = s2.sql(
        s"SELECT id FROM graft_versioned('$root') WHERE id >= 120 AND id < 180")
      val (rows, files) = runAndCount(df)
      assert(files === 2, s"SQL WHERE must reach the manifest index, got $files")
      assert(rows.map(_.getLong(0)).sorted === (120L until 180L))
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  test("catalog-table WHERE prunes through the same FileIndex (numFiles)") {
    // the SQL-catalog read path must plan through the SAME
    // ManifestFileIndex as read(): 2 of 6 files for the middle range
    val root = rangedTable()
    val sql = SqlCatalogSpec.session(spark)
    sql.sql(s"CREATE TABLE mfi_cat USING graft LOCATION '$root'")
    val probe = sql.sql(
      "SELECT id FROM mfi_cat WHERE id >= 120 AND id < 180")
    val (rows, files) = runAndCount(probe)
    assert(rows.map(_.getLong(0)).sorted === (120L until 180L))
    assert(files === 2, s"catalog WHERE must prune to the middle dir, scanned $files")
    val (allRows, allFiles) = runAndCount(sql.sql("SELECT id FROM mfi_cat"))
    assert(allRows.size === 300 && allFiles === 6)
    // and VERSION AS OF re-pins the index at plan time
    val (v1Rows, v1Files) = runAndCount(
      sql.sql("SELECT id FROM mfi_cat VERSION AS OF 1 WHERE id < 50"))
    assert(v1Rows.size === 50 && v1Files === 2,
      s"time-travel scan must carry v1's 2-file index, scanned $v1Files")
  }

  test("read with no filters equals a plain parquet read of the snapshot dirs") {
    val root = rangedTable()
    val viaRead = VersionedTable.read(spark, root)
    val plain = spark.read.parquet(VersionedTable.snapshot(root, 3).dataDirs
      .map(d => new java.io.File(root, d).getPath): _*)
    assert(viaRead.schema === plain.schema)
    assert(viaRead.collect().map(_.getLong(0)).sorted
      === plain.collect().map(_.getLong(0)).sorted)
  }

  test("registry skipping queries scan as few files as the named dir filters did") {
    // files each query's table scan read at sf0.001 when it named its dir
    // filters by hand (q_versioned_filegrain: when its unix_micros filter
    // translated to nothing); filters over read() must not widen that
    val before = Seq("q_versioned_prune" -> 1, "q_versioned_point" -> 1,
      "q_versioned_combo" -> 1, "q_versioned_analyze" -> 1,
      "q_zorder_optimize" -> 2, "q_zorder_multi" -> 2,
      "q_versioned_filegrain" -> 8)
    for ((q, expected) <- before) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val files = scannedFiles(df)
      assert(files.size <= expected, s"$q scanned ${files.size} files, $expected before")
      assert(df.count() > 0, s"$q returned no rows")
      val root = new org.apache.hadoop.fs.Path(files.head).getParent.getParent.getParent
      val all = runAndCount(VersionedTable.read(spark, root.toUri.getPath))._2
      assert(files.size < all, s"$q pruned nothing: ${files.size} of $all files")
    }
  }

  // --- translation unit tests -------------------------------------------

  private val idAttr = AttributeReference("id", LongType)()
  private val symAttr = AttributeReference("sym", StringType)()

  private def strLit(s: String): Literal = Literal.create(s, StringType)

  test("dirFiltersFrom: comparisons translate in both operand orders") {
    val got = ManifestScan.dirFiltersFrom(Seq(
      And(GreaterThanOrEqual(idAttr, Literal(120L)),
        LessThan(idAttr, Literal(180L))),
      // literal-first mirror: 300 > id  ==  id < 300
      GreaterThan(Literal(300L), idAttr)))
    assert(got === Seq(
      RangeFilter("id", 120.0, Double.PositiveInfinity),
      RangeFilter("id", Double.NegativeInfinity, 180.0),
      RangeFilter("id", Double.NegativeInfinity, 300.0)))
  }

  test("dirFiltersFrom: equality becomes a point filter (string and long)") {
    val got = ManifestScan.dirFiltersFrom(Seq(
      EqualTo(symAttr, strLit("BBB")), EqualTo(Literal(42L), idAttr)))
    assert(got === Seq(PointFilter("sym", "BBB"), PointFilter("id", 42L)))
  }

  test("dirFiltersFrom: IN-list collapses to its numeric hull") {
    val got = ManifestScan.dirFiltersFrom(Seq(
      In(idAttr, Seq(Literal(7L), Literal(3L), Literal(11L)))))
    assert(got === Seq(RangeFilter("id", 3.0, 11.0)))
  }

  test("dirFiltersFrom: unsupported shapes contribute nothing") {
    val shapes: Seq[Expression] = Seq(
      IsNotNull(idAttr),
      EqualTo(Abs(idAttr), Literal(5L)),
      EqualTo(idAttr, Literal.create(null, LongType)),
      // OR with an untranslatable side is vacuous (that side admits all)
      Or(EqualTo(idAttr, Literal(1L)), EqualTo(Abs(idAttr), Literal(5L))))
    assert(ManifestScan.dirFiltersFrom(shapes) === Seq.empty)
  }

  test("dirFiltersFrom: OR and string IN-lists become disjunctions") {
    import graft.sources.VersionedTable.AnyOf
    val got = ManifestScan.dirFiltersFrom(Seq(
      Or(EqualTo(idAttr, Literal(1L)), EqualTo(idAttr, Literal(2L)))))
    assert(got === Seq(AnyOf(Seq(
      Seq(PointFilter("id", 1L)), Seq(PointFilter("id", 2L))))))
    val in = ManifestScan.dirFiltersFrom(Seq(
      In(symAttr, Seq(strLit("A"), strLit("B")))))
    assert(in === Seq(AnyOf(Seq(
      Seq(PointFilter("sym", "A")), Seq(PointFilter("sym", "B"))))))
  }

  test("an OR of two ranges prunes to exactly the two matching dirs") {
    val root = rangedTable()
    val probe = VersionedTable.read(spark, root)
      .filter(col("id") < 50L || col("id") >= 250L)
    val (rows, files) = runAndCount(probe)
    assert(files === 4, s"first and third dirs only, got $files")
    assert(rows.size === 100)
  }

  test("a string IN-list bloom-prunes dirs holding none of the keys") {
    val root = freshRoot()
    Seq("AAA", "BBB", "CCC").foreach { sym =>
      VersionedTable.commit(
        spark.range(0, 50).toDF("id").withColumn("sym", lit(sym)).repartition(2),
        root, "append", bloomCols = Seq("sym"))
    }
    val probe = VersionedTable.read(spark, root)
      .filter(col("sym").isin("AAA", "CCC"))
    val (rows, files) = runAndCount(probe)
    assert(files === 4, s"the BBB dir must be dismissed, got $files")
    assert(rows.size === 100)
  }

  test("dirFiltersFrom: int literals widen to the stats' double image") {
    val intAttr = AttributeReference("n", IntegerType)()
    val got = ManifestScan.dirFiltersFrom(Seq(
      GreaterThanOrEqual(intAttr, Literal(5))))
    assert(got === Seq(RangeFilter("n", 5.0, Double.PositiveInfinity)))
  }

  test("dirFiltersFrom: string comparisons ride the prefix-image stats tier") {
    val img = VersionedTable.strImage _
    assert(ManifestScan.dirFiltersFrom(Seq(
      GreaterThanOrEqual(symAttr, strLit("M")))) ===
      Seq(RangeFilter("sym", img("M"), Double.PositiveInfinity)))
    assert(ManifestScan.dirFiltersFrom(Seq(LessThan(symAttr, strLit("M")))) ===
      Seq(RangeFilter("sym", Double.NegativeInfinity, img("M"))))
    // the image is order-preserving on byte-wise UTF-8 order
    val ss = Seq("", "A", "AAPL", "AAPLX", "AAPLXYZQ", "MSFT", "Z", "ZZZZZZZZ")
    assert(ss.map(img) === ss.map(img).sorted)
    assert(img("AAPLXYZQ") === img("AAPLXY"), "ties beyond 6 bytes collapse")
  }

  test("string range and equality prune from stats alone (no blooms)") {
    val root = freshRoot()
    Seq("AAA", "MMM", "ZZZ").foreach { sym =>
      VersionedTable.commit(
        spark.range(0, 50).toDF("id").withColumn("sym", lit(sym)).repartition(2),
        root, "append", statsCols = Seq("sym")) // stats only — no sidecars
    }
    val range = VersionedTable.read(spark, root)
      .filter(col("sym") >= "B" && col("sym") <= "N")
    val (rRows, rFiles) = runAndCount(range)
    assert(rFiles === 2, s"only the MMM dir may be scanned, got $rFiles")
    assert(rRows.size === 50 && rRows.forall(_.getString(1) == "MMM"))
    val point = VersionedTable.read(spark, root).filter(col("sym") === "ZZZ")
    val (pRows, pFiles) = runAndCount(point)
    assert(pFiles === 2, s"image stats must dismiss AAA and MMM, got $pFiles")
    assert(pRows.size === 50 && pRows.forall(_.getString(1) == "ZZZ"))
  }

  test("dirFiltersFrom: null-safe equality translates like plain equality") {
    import org.apache.spark.sql.catalyst.expressions.EqualNullSafe
    assert(ManifestScan.dirFiltersFrom(Seq(
      EqualNullSafe(idAttr, Literal(7L)))) === Seq(PointFilter("id", 7L)))
    assert(ManifestScan.dirFiltersFrom(Seq(
      EqualNullSafe(Literal.create(null, LongType), idAttr))) === Seq.empty)
  }

  test("LIKE 'p%' prunes via the prefix-image band") {
    import org.apache.spark.sql.catalyst.expressions.StartsWith
    val img = VersionedTable.strImage _
    // unit: the band covers every continuation of the prefix
    val got = ManifestScan.dirFiltersFrom(Seq(StartsWith(symAttr, strLit("MM"))))
    assert(got === Seq(RangeFilter("sym", img("MM"),
      img("MM") + math.pow(256.0, 4.0) - 1.0)))
    assert(img("MMZZZZZZ") <= img("MM") + math.pow(256.0, 4.0) - 1.0)
    // end-to-end: stats-only dirs, ordinary .startsWith filter
    val root = freshRoot()
    Seq("AAA", "MMM", "ZZZ").foreach { sym =>
      VersionedTable.commit(
        spark.range(0, 30).toDF("id").withColumn("sym", lit(sym)).repartition(2),
        root, "append", statsCols = Seq("sym"))
    }
    val probe = VersionedTable.read(spark, root).filter(col("sym").startsWith("MM"))
    val (rows, files) = runAndCount(probe)
    assert(files === 2, s"only the MMM dir may be scanned, got $files")
    assert(rows.size === 30 && rows.forall(_.getString(1) == "MMM"))
  }

  test("shared 6-byte prefixes are conservative: survive stats, exact on top") {
    val root = freshRoot()
    // same 6-byte prefix, different tails: the image cannot separate them
    Seq("PREFIX_A", "PREFIX_B").foreach { sym =>
      VersionedTable.commit(
        spark.range(0, 20).toDF("id").withColumn("sym", lit(sym)).repartition(1),
        root, "append", statsCols = Seq("sym"))
    }
    val probe = VersionedTable.read(spark, root).filter(col("sym") === "PREFIX_B")
    val (rows, files) = runAndCount(probe)
    assert(files === 2, "tied prefixes must both survive (conservative)")
    assert(rows.size === 20 && rows.forall(_.getString(1) == "PREFIX_B"))
  }

  test("format(\"graft\"): write commits, read prunes, versionAsOf time-travels") {
    val root = freshRoot()
    // born-indexed through the generic writer: stats thread into the commit
    spark.range(0, 100).toDF("id").repartition(2)
      .write.format("graft").option("statsCols", "id").save(root)
    spark.range(100, 200).toDF("id").repartition(2)
      .write.format("graft").mode("append").option("statsCols", "id").save(root)
    // latest snapshot = both commits; a pushed range prunes to one dir
    val all = runAndCount(spark.read.format("graft").load(root))
    assert(all._1.size === 200 && all._2 === 4)
    val probe = spark.read.format("graft").load(root).filter(col("id") < 50L)
    val (rows, files) = runAndCount(probe)
    assert(files === 2, s"only the first commit's files may be scanned, got $files")
    assert(rows.map(_.getLong(0)).sorted === (0L until 50L))
    // time travel pins the first commit
    val v1 = spark.read.format("graft").option("versionAsOf", "1").load(root)
    assert(v1.collect().map(_.getLong(0)).sorted === (0L until 100L))
  }

  test("format(\"graft\"): timestampAsOf resolves wall-clock time travel") {
    val root = freshRoot()
    spark.range(0, 10).toDF("id").write.format("graft").save(root)
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(5) // ensure v2's committed_ms lands strictly after the mark
    spark.range(10, 30).toDF("id")
      .write.format("graft").mode("append").save(root)
    assert(spark.read.format("graft")
      .option("timestampAsOf", afterV1.toString).load(root).count() === 10)
    assert(spark.read.format("graft")
      .option("timestampAsOf", System.currentTimeMillis().toString)
      .load(root).count() === 30)
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("timestampAsOf", "0").load(root)
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "1")
        .option("timestampAsOf", afterV1.toString).load(root)
    }
  }

  test("format(\"graft\"): save modes map to commit-log semantics") {
    val root = freshRoot()
    val df = spark.range(0, 10).toDF("id")
    // ErrorIfExists (the default) creates, then refuses a second write
    df.write.format("graft").save(root)
    intercept[IllegalStateException] { df.write.format("graft").save(root) }
    // Ignore is a no-op on an existing table (no version burned)
    df.write.format("graft").mode("ignore").save(root)
    assert(VersionedTable.latestVersion(root) === Some(1))
    // Overwrite publishes a new snapshot; v1 stays readable
    spark.range(50, 60).toDF("id")
      .write.format("graft").mode("overwrite").save(root)
    assert(spark.read.format("graft").load(root)
      .collect().map(_.getLong(0)).sorted === (50L until 60L))
    assert(spark.read.format("graft").option("versionAsOf", "1").load(root)
      .count() === 10)
  }
}
