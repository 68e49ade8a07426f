package graft

import java.nio.file.Files

import graft.sources.VersionedTable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Copy-on-write DML on the versioned table: row-level DELETE and
  * whole-row MERGE upsert. The contracts under test: value-exactness,
  * touched-dir minimality (untouched dirs carried by NAME, never
  * rewritten), time-travel preservation, indexing inheritance, and the
  * change feed's loud refusal to cross a DML version.
  */
class VersionedDmlSpec extends SparkTestBase {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_dml_").toString

  /** Three disjoint id-range dirs with min/max stats on id. */
  private def rangedTable(root: String): Seq[String] = {
    Seq((0L, 100L), (100L, 200L), (200L, 300L)).foreach { case (lo, hi) =>
      VersionedTable.commit(
        spark.range(lo, hi).toDF("id")
          .withColumn("v", col("id") * 2), root, "append",
        statsCols = Seq("id"))
    }
    VersionedTable.snapshot(root, 3).dataDirs
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("partial DELETE rewrites only the matched dir; others carried by name") {
    val root = freshRoot()
    val Seq(d1, d2, d3) = rangedTable(root)
    val deleted = VersionedTable.delete(spark, root,
      col("id") >= 120L && col("id") < 180L)
    assert(deleted === 60L)
    val snap = VersionedTable.snapshot(root, 4)
    assert(snap.operation === "delete")
    assert(snap.rows === 60L, "manifest rows= is the delta: rows deleted")
    assert(snap.dataDirs.contains(d1) && snap.dataDirs.contains(d3),
      "unmatched dirs must be carried forward verbatim, never rewritten")
    assert(!snap.dataDirs.contains(d2), "the matched dir must be replaced")
    assert(snap.dataDirs.size === 3)
    assert(ids(VersionedTable.read(spark, root))
      === ((0L until 120L) ++ (180L until 300L)))
    // time travel: the parent snapshot still serves every row
    assert(ids(VersionedTable.read(spark, root, Some(3))).size === 300)
    // the rewritten dir inherited its predecessor's stats discipline
    val rewritten = (snap.dataDirs.toSet - d1 - d3).head
    assert(snap.dirStats.exists(s => s.dir == rewritten && s.col == "id"),
      "rewrite must re-derive min/max for the dir's stats columns")
  }

  test("a fully-matched dir is dropped from the manifest, files kept for history") {
    val root = freshRoot()
    val Seq(d1, d2, d3) = rangedTable(root)
    val deleted = VersionedTable.delete(spark, root,
      col("id") >= 100L && col("id") < 200L)
    assert(deleted === 100L)
    val snap = VersionedTable.snapshot(root, 4)
    assert(snap.dataDirs === Seq(d1, d3), "whole-dir delete is metadata-only")
    assert(new java.io.File(root, d2).exists(),
      "the dropped dir's files stay for time travel until vacuum")
    assert(ids(VersionedTable.read(spark, root, Some(3))).size === 300)
  }

  test("a no-match DELETE burns no version and returns 0") {
    val root = freshRoot()
    rangedTable(root)
    assert(VersionedTable.delete(spark, root, col("id") >= 1000L) === 0L)
    assert(VersionedTable.latestVersion(root) === Some(3))
  }

  test("DELETE keeps rows where the predicate is NULL (SQL semantics)") {
    val root = freshRoot()
    VersionedTable.commit(
      spark.range(0, 10).toDF("id")
        .withColumn("v", when(col("id") < 5, col("id"))), root)
    val deleted = VersionedTable.delete(spark, root, col("v") >= 2L)
    assert(deleted === 3L) // v in {2,3,4}; NULL v rows (id>=5) survive
    assert(ids(VersionedTable.read(spark, root))
      === Seq(0L, 1L, 5L, 6L, 7L, 8L, 9L))
  }

  test("MERGE upserts: matched rows replaced, new keys inserted, others carried") {
    val root = freshRoot()
    val Seq(d1, d2, d3) = rangedTable(root)
    val source = spark.range(150L, 160L).toDF("id")
      .withColumn("v", lit(-1L))
      .union(spark.range(400L, 410L).toDF("id").withColumn("v", lit(-2L)))
    val v = VersionedTable.merge(spark, root, source, "id")
    assert(v === 4)
    val snap = VersionedTable.snapshot(root, 4)
    assert(snap.operation === "merge")
    assert(snap.rows === 20L, "manifest rows= is the delta: source rows landed")
    assert(snap.dataDirs.contains(d1) && snap.dataDirs.contains(d3),
      "dirs outside the key hull must be carried verbatim")
    assert(!snap.dataDirs.contains(d2), "the matched dir must be rewritten")
    val out = VersionedTable.read(spark, root)
    assert(out.count() === 310L)
    assert(out.filter(col("id") >= 150L && col("id") < 160L)
      .select("v").collect().forall(_.getLong(0) === -1L),
      "matched rows must carry the SOURCE row wholesale")
    assert(out.filter(col("id") >= 400L).count() === 10L, "inserts landed")
    assert(out.filter(col("id") === 120L).head().getLong(1) === 240L,
      "unmatched rows in the rewritten dir survive untouched")
    // the source dir landed under the table's indexing discipline
    val newDirs = snap.dataDirs.toSet - d1 - d3
    assert(newDirs.forall(d =>
      snap.dirStats.exists(s => s.dir == d && s.col == "id")),
      "rewritten and inserted dirs must both carry id stats")
    // and planning-time skipping still prunes on the merged snapshot
    val files = runAndCount(VersionedTable.read(spark, root).filter(col("id") === 50L))._2
    val allFiles = runAndCount(VersionedTable.read(spark, root))._2
    assert(files < allFiles, "merged snapshot must still skip dirs")
  }

  test("MERGE with string keys rides the bloom tier, not the hull") {
    val root = freshRoot()
    Seq("AAA", "BBB", "CCC").foreach { sym =>
      VersionedTable.commit(
        spark.range(0, 20).toDF("n")
          .select(concat(lit(sym), lit("-"), col("n")).as("k"), col("n").as("v")),
        root, "append", bloomCols = Seq("k"))
    }
    val dirs0 = VersionedTable.snapshot(root, 3).dataDirs
    val source = spark.range(5, 8).toDF("n")
      .select(concat(lit("BBB-"), col("n")).as("k"), lit(-1L).as("v"))
    VersionedTable.merge(spark, root, source, "k")
    val snap = VersionedTable.snapshot(root, 4)
    // AAA and CCC dirs dismissed by their blooms — carried by name
    assert(snap.dataDirs.count(dirs0.contains) === 2,
      s"blooms must dismiss two of three dirs, kept ${snap.dataDirs}")
    val out = VersionedTable.read(spark, root)
    assert(out.count() === 60L)
    assert(out.filter(col("k") === "BBB-5").head().getLong(1) === -1L)
  }

  test("partial UPDATE rewrites only the matched dir, applies to matched rows only") {
    val root = freshRoot()
    val Seq(d1, d2, d3) = rangedTable(root)
    val updated = VersionedTable.update(spark, root,
      col("id") >= 120L && col("id") < 180L,
      Map("v" -> (col("v") + lit(1000L))))
    assert(updated === 60L)
    val snap = VersionedTable.snapshot(root, 4)
    assert(snap.operation === "update")
    assert(snap.rows === 60L, "manifest rows= is the delta: rows updated")
    assert(snap.dataDirs.contains(d1) && snap.dataDirs.contains(d3),
      "unmatched dirs carried verbatim")
    assert(!snap.dataDirs.contains(d2))
    val out = VersionedTable.read(spark, root)
    assert(out.count() === 300L, "UPDATE never changes the row count")
    assert(out.filter(col("id") === 150L).head().getLong(1) === 1300L,
      "matched row: v = 300 + 1000")
    assert(out.filter(col("id") === 110L).head().getLong(1) === 220L,
      "unmatched row in the rewritten dir passes through untouched")
    // time travel: parent still serves pre-update values
    assert(VersionedTable.read(spark, root, Some(3))
      .filter(col("id") === 150L).head().getLong(1) === 300L)
    // the rewritten dir's stats were re-derived
    val rewritten = (snap.dataDirs.toSet - d1 - d3).head
    assert(snap.dirStats.exists(s => s.dir == rewritten && s.col == "id"))
  }

  test("a no-match UPDATE burns no version; unknown columns are refused") {
    val root = freshRoot()
    rangedTable(root)
    assert(VersionedTable.update(spark, root, col("id") >= 1000L,
      Map("v" -> lit(0L))) === 0L)
    assert(VersionedTable.latestVersion(root) === Some(3))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.update(spark, root, col("id") === 1L, Map("nope" -> lit(1)))
    }
    assert(e.getMessage.contains("unknown columns"))
  }

  test("transactionalMerge absorbs redelivery; foreign writers interleave") {
    val root = freshRoot()
    rangedTable(root)
    val source = spark.range(150L, 160L).toDF("id").withColumn("v", lit(-1L))
    assert(VersionedTable.transactionalMerge(source, root, "appA", 0L, "id"))
    val vAfter = VersionedTable.latestVersion(root).get
    // at-least-once redelivery of the SAME batch: absorbed, nothing changes
    assert(!VersionedTable.transactionalMerge(source, root, "appA", 0L, "id"))
    assert(VersionedTable.latestVersion(root) === Some(vAfter))
    assert(VersionedTable.read(spark, root).count() === 300L)
    // a foreign app's merge is its own transaction stream
    val other = spark.range(10L, 15L).toDF("id").withColumn("v", lit(-9L))
    assert(VersionedTable.transactionalMerge(other, root, "appB", 0L, "id"))
    // and appA's NEXT batch still lands after the interleave
    val next = spark.range(150L, 160L).toDF("id").withColumn("v", lit(-2L))
    assert(VersionedTable.transactionalMerge(next, root, "appA", 1L, "id"))
    val out = VersionedTable.read(spark, root)
    assert(out.filter(col("id") === 155L).head().getLong(1) === -2L)
    assert(out.filter(col("id") === 12L).head().getLong(1) === -9L)
    assert(out.count() === 300L)
  }

  test("a key-ambiguous MERGE source is refused loudly") {
    val root = freshRoot()
    rangedTable(root)
    val dup = spark.range(0, 2).toDF("n")
      .select(lit(150L).as("id"), col("n").as("v"))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root, dup, "id")
    }
    assert(e.getMessage.contains("key-unique"))
  }

  test("UPDATE on an additively-evolved table assigns the new column in OLD dirs too") {
    val root = freshRoot()
    // dir 1 predates column w; dir 2 carries it
    VersionedTable.commit(spark.range(0, 10).toDF("id"), root, "append",
      statsCols = Seq("id"))
    VersionedTable.commit(
      spark.range(100, 110).toDF("id").withColumn("w", col("id") * 10),
      root, "append", statsCols = Seq("id"))
    // assign w on rows living in the PRE-evolution dir: the rewrite must
    // conform that dir to the union schema first, so the assignment lands
    // (the r12 bug: mapping over dirDf.columns silently dropped it)
    val updated = VersionedTable.update(spark, root,
      col("id") < 5L, Map("w" -> lit(-7L)))
    assert(updated === 5L)
    val out = VersionedTable.read(spark, root)
    assert(out.filter(col("id") < 5L).select("w").collect()
      .forall(_.getLong(0) === -7L),
      "assignment must reach rows in dirs that predate the assigned column")
    assert(out.filter(col("id") >= 5L && col("id") < 10L)
      .select("w").collect().forall(_.isNullAt(0)),
      "unmatched pre-evolution rows keep their null-filled image")
    assert(out.filter(col("id") === 105L).select("w").head().getLong(0) === 1050L)
  }

  test("DML dropping the newest dir keeps the union schema (manifest anchor)") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 10).toDF("id"), root, "append",
      statsCols = Seq("id"))
    VersionedTable.commit(
      spark.range(100, 110).toDF("id").withColumn("w", col("id") * 10),
      root, "append", statsCols = Seq("id"))
    // delete the ENTIRE newest (schema-widest) dir
    val deleted = VersionedTable.delete(spark, root, col("id") >= 100L)
    assert(deleted === 10L)
    // the r12 gap: the footer anchor would now be the pre-evolution dir
    // and silently lose w; the manifest anchor must keep serving it
    val scanned = VersionedTable.read(spark, root)
    assert(scanned.columns.toSeq === Seq("id", "w"),
      s"anchor lost the evolved column: ${scanned.columns.mkString(",")}")
    assert(scanned.count() === 10L)
    assert(scanned.filter(col("id").between(0, 5)).columns.contains("w"))
  }

  test("a K-dir MERGE submits O(1) Spark jobs, not O(K)") {
    val root = freshRoot()
    // 12 single-range dirs, id stats — ALL of them partial-match candidates
    val k = 12
    (0 until k).foreach(i => VersionedTable.commit(
      spark.range(i * 100L, (i + 1) * 100L).toDF("id")
        .withColumn("v", col("id") * 2), root, "append", statsCols = Seq("id")))
    // one source key per dir: every dir is a candidate AND partial
    val source = spark.range(0, k.toLong).toDF("n")
      .select((col("n") * 100L + 50L).as("id"), lit(-1L).as("v"))
    // count via a job group: every Spark job merge() submits carries it,
    // and the status tracker answers synchronously (no listener-bus race).
    // AQE is disabled for the probe so one driver-submitted ACTION = one
    // job (AQE splits an action into a job per query stage, which would
    // measure plan shape, not the serial-loop count under test).
    def probe(body: => Unit): Int = {
      val group = s"dml-jobs-${java.util.UUID.randomUUID().toString.take(8)}"
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.sparkContext.setJobGroup(group, "merge job-count probe")
      try {
        body
        spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.conf.unset("spark.sql.adaptive.enabled")
      }
    }
    // source agg + classify + rewrite write + rewrite stats agg + source
    // stage write/agg + (r14) the CDF image write and its matched-key
    // broadcast — every term independent of K. The r12 shape was 2-3
    // actions PER dir (>= 2K + 4 = 28 at K=12); the bound separates
    // cleanly from O(K).
    val jobs = probe {
      VersionedTable.merge(spark, root, source, "id", cdf = Some(true))
    }
    assert(jobs <= 13, s"expected O(1) jobs for a $k-dir merge, saw $jobs")
    // the DEFAULT (no property, no argument) is the r13 no-CDF shape
    val jobsNoCdf = probe {
      VersionedTable.merge(spark, root,
        source.withColumn("v", lit(-2L)), "id")
    }
    assert(jobsNoCdf <= 10,
      s"expected <= 10 jobs for a default (cdf-off) $k-dir merge, saw $jobsNoCdf")
    assert(VersionedTable.snapshot(root,
      VersionedTable.latestVersion(root).get).cdfDir.isEmpty)
    // and both merges are right (the cdf=false pass re-upserted the same
    // keys with v = -2)
    val out = VersionedTable.read(spark, root)
    assert(out.count() === k * 100L)
    assert(out.filter(col("v") === -2L).count() === k.toLong)
    val snap = VersionedTable.snapshot(root, k + 1)
    assert(snap.dataDirs.size === k + 1, "k rewrites + the source dir")
    assert(snap.cdfDir.isDefined, "the cdf=true merge must persist images")
  }

  test("MERGE string-key hull dismisses dirs from prefix-image stats alone") {
    val root = freshRoot()
    // three string-keyed dirs with STATS (no blooms): AAA-*, MMM-*, ZZZ-*
    Seq("AAA", "MMM", "ZZZ").foreach { sym =>
      VersionedTable.commit(
        spark.range(0, 20).toDF("n")
          .select(concat(lit(sym), lit("-"), col("n")).as("k"), col("n").as("v")),
        root, "append", statsCols = Seq("k"))
    }
    val dirs0 = VersionedTable.snapshot(root, 3).dataDirs
    val source = spark.range(5, 8).toDF("n")
      .select(concat(lit("MMM-"), col("n")).as("k"), lit(-1L).as("v"))
    VersionedTable.merge(spark, root, source, "k")
    val snap = VersionedTable.snapshot(root, 4)
    // the r12 gap: string keys skipped tier 1 entirely; with the prefix
    // image the AAA and ZZZ dirs fall outside the source hull and are
    // carried by NAME without a bloom in sight
    assert(snap.dataDirs.count(dirs0.contains) === 2,
      s"string hull must dismiss two of three dirs, kept ${snap.dataDirs}")
    val out = VersionedTable.read(spark, root)
    assert(out.count() === 60L)
    assert(out.filter(col("k") === "MMM-5").head().getLong(1) === -1L)
  }

  test("a delete-ALL leaves a readable empty snapshot (manifest-anchored schema)") {
    val root = freshRoot()
    rangedTable(root)
    assert(VersionedTable.delete(spark, root, lit(true)) === 300L)
    val snap = VersionedTable.snapshot(root, 4)
    assert(snap.dataDirs.isEmpty, "every dir fully matched: all dropped")
    // reads serve schema-correct emptiness off the persisted schema
    val out = VersionedTable.read(spark, root)
    assert(out.columns.toSeq === Seq("id", "v") && out.count() === 0L)
    assert(out.filter(col("id").between(0, 10)).count() === 0L)
    // history intact; and the table accepts new commits afterward
    assert(ids(VersionedTable.read(spark, root, Some(3))).size === 300)
    VersionedTable.commit(spark.range(0, 3).toDF("id")
      .withColumn("v", lit(0L)), root)
    assert(ids(VersionedTable.read(spark, root)) === Seq(0L, 1L, 2L))
  }

  test("the change feed refuses to cross a DML version") {
    val root = freshRoot()
    rangedTable(root)
    VersionedTable.delete(spark, root, col("id") === 5L)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.changes(spark, root, 2, 4)
    }
    assert(e.getMessage.contains("non-append"))
  }
}
