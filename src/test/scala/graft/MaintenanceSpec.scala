package graft

import java.io.File
import java.nio.file.Files

import graft.sources.{CommitStore, VersionedTable, VersionedTableOps}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scoped maintenance verbs and retention semantics: `OPTIMIZE ... WHERE`
  * (compactWhere / optimizeZorder's `where` scope) must rewrite ONLY the
  * dirs the predicate's manifest translation admits — every dismissed dir
  * carried by NAME with byte-identical files — and wall-clock VACUUM
  * retention must cut on the manifests' actual commit timestamps. These
  * are the contracts that keep routine maintenance O(touched data) at
  * 100 TB instead of O(table).
  */
class MaintenanceSpec extends SparkTestBase {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_maint_").toString

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

  /** Every data file of `dir` with an MD5 of its bytes — the survivor
    * contract is BYTE identity, not just name identity.
    */
  private def fileHashes(root: String, dir: String): Map[String, String] =
    Option(new File(root, dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map { f =>
        val md = java.security.MessageDigest.getInstance("MD5")
        f.getName -> md.digest(Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString
      }.toMap

  test("compactWhere rewrites only admitted dirs; survivors byte-identical") {
    val root = freshRoot()
    val Seq(d1, d2, d3) = rangedTable(root)
    // fragment the low range further: a 4th dir inside [0, 100)
    VersionedTable.commit(
      spark.range(300L, 320L).toDF("id").withColumn("v", col("id") * 2)
        .withColumn("id", col("id") - 300L + 50L), root, "append",
      statsCols = Seq("id"))
    val d4 = (VersionedTable.snapshot(root, 4).dataDirs.toSet -- Seq(d1, d2, d3)).head
    val survivorBytes = Seq(d2, d3).map(d => d -> fileHashes(root, d)).toMap
    val v = VersionedTable.compactWhere(spark, root, col("id") <= 50L,
      statsCols = Seq("id"))
    assert(v === 5)
    val snap = VersionedTable.snapshot(root, 5)
    assert(snap.operation === "optimize",
      "scoped compaction publishes the content-preserving optimize op")
    assert(snap.dataDirs.contains(d2) && snap.dataDirs.contains(d3),
      "dismissed dirs must be carried by name")
    assert(!snap.dataDirs.contains(d1) && !snap.dataDirs.contains(d4),
      "admitted dirs must be folded into the fresh compact dir")
    assert(snap.dataDirs.size === 3, "two admitted dirs collapse into one")
    Seq(d2, d3).foreach { d =>
      assert(fileHashes(root, d) === survivorBytes(d),
        s"carried dir $d must be byte-identical after the scoped rewrite")
    }
    // content-preserving: the table reads exactly as before (ids 0..299
    // plus the duplicated 50..69 overlay from the fragment commit)
    assert(ids(VersionedTable.read(spark, root))
      === ((0L until 300L) ++ (50L until 70L)).sorted)
    // the fresh dir re-derived its stats, hull inside the admitted range
    val fresh = (snap.dataDirs.toSet - d2 - d3).head
    val stat = snap.dirStats.find(s => s.dir == fresh && s.col == "id").get
    assert(stat.min >= 0.0 && stat.max <= 99.0,
      "compacted dir's hull must stay inside the admitted key range")
    // history: the parent snapshot still serves the pre-compaction layout
    assert(VersionedTable.snapshot(root, 4).dataDirs.toSet
      === Set(d1, d2, d3, d4))
  }

  test("compactWhere with a proven-empty scope is a no-op, no version burned") {
    val root = freshRoot()
    rangedTable(root)
    val v = VersionedTable.compactWhere(spark, root, col("id") > 10000L)
    assert(v === 3, "empty scope returns the current version")
    assert(VersionedTable.latestVersion(root) === Some(3))
  }

  test("compactWhere folds deletion vectors of rewritten dirs, carries the rest") {
    val root = freshRoot()
    VersionedTable.setTableProperties(root,
      Map(VersionedTable.CdfEnabledProp -> "true"))
    val Seq(d1, d2, d3) = rangedTable(root)
    // MOR deletes in BOTH the to-be-rewritten range and a carried dir
    VersionedTable.deleteMor(spark, root, col("id") >= 10L && col("id") < 20L)
    VersionedTable.deleteMor(spark, root, col("id") >= 250L && col("id") < 260L)
    assert(VersionedTable.snapshot(root, 5).dvs.size === 2)
    val v = VersionedTable.compactWhere(spark, root, col("id") <= 50L,
      statsCols = Seq("id"))
    val snap = VersionedTable.snapshot(root, v)
    // the dv over the rewritten dir folded away; the carried dir's stays
    assert(snap.dvs.size === 1,
      "dv entries referencing only rewritten dirs must fold away")
    assert(ids(VersionedTable.read(spark, root))
      === ((0L until 300L).filterNot(i =>
        (i >= 10L && i < 20L) || (i >= 250L && i < 260L))))
  }

  test("scoped optimizeZorder: admitted range re-clustered, survivors byte-identical, probe prunes") {
    val root = freshRoot()
    val Seq(d1, d2, d3) = rangedTable(root)
    val survivorBytes = Seq(d2, d3).map(d => d -> fileHashes(root, d)).toMap
    val v = VersionedTable.optimizeZorder(spark, root,
      Seq(col("id") -> 300L, col("v") -> 600L), nDirs = 4,
      statsCols = Seq("id"), where = Some(col("id") <= 50L))
    assert(v === 4)
    val snap = VersionedTable.snapshot(root, 4)
    assert(snap.operation === "optimize")
    assert(snap.dataDirs.contains(d2) && snap.dataDirs.contains(d3))
    assert(!snap.dataDirs.contains(d1))
    Seq(d2, d3).foreach(d => assert(fileHashes(root, d) === survivorBytes(d)))
    // fresh z-dirs carry id hulls inside the admitted range
    val freshDirs = snap.dataDirs.toSet - d2 - d3
    assert(freshDirs.nonEmpty)
    freshDirs.foreach { d =>
      val st = snap.dirStats.find(s => s.dir == d && s.col == "id").get
      assert(st.min >= 0.0 && st.max <= 99.0)
    }
    // a probe into the CARRIED range admits no fresh dir (prune intact)
    val admitted = VersionedTable.admittedDirs(root, snap,
      Seq(VersionedTable.RangeFilter("id", 150.0, 160.0)))
    assert(admitted === Seq(d2),
      s"post-scoped-optimize probe must prune to the carried dir, got $admitted")
    // value-transparent across the rewritten/carried seam
    assert(ids(VersionedTable.read(spark, root)) === (0L until 300L))
  }

  test("scoped compaction on a column-mapped table writes physical names") {
    val root = freshRoot()
    val Seq(d1, _, _) = rangedTable(root)
    VersionedTable.renameColumn(spark, root, "v", "val")
    val v = VersionedTable.compactWhere(spark, root, col("id") <= 50L,
      statsCols = Seq("id"))
    val snap = VersionedTable.snapshot(root, v)
    val fresh = (snap.dataDirs.toSet --
      VersionedTable.snapshot(root, 3).dataDirs).head
    // the fresh dir's FILES speak the frozen physical name; the table
    // serves the logical one
    val footer = spark.read.parquet(new File(root, fresh).getPath)
    assert(footer.columns.contains("v") && !footer.columns.contains("val"),
      "mapped rewrite must land files under physical names")
    val read = VersionedTable.read(spark, root)
    assert(read.columns.toSeq === Seq("id", "val"))
    assert(read.filter(col("id") === 42L).head().getLong(1) === 84L)
  }

  test("a change-feed range crosses a scoped optimize as an empty delta") {
    val root = freshRoot()
    rangedTable(root) // versions 1..3 (appends)
    VersionedTable.compactWhere(spark, root, col("id") <= 50L,
      statsCols = Seq("id")) // version 4: optimize
    VersionedTable.commit(
      spark.range(300L, 310L).toDF("id").withColumn("v", col("id") * 2),
      root, "append", statsCols = Seq("id")) // version 5
    val feed = VersionedTable.changeFeed(spark, root, 3, 5)
    assert(feed.select("id").collect().map(_.getLong(0)).sorted.toSeq
      === (300L until 310L),
      "subscribers must cross the optimize version seeing only real changes")
  }

  test("vacuumRetain cuts on actual commit timestamps (controlled clock)") {
    object Clocked extends VersionedTableOps(CommitStore.local) {
      @volatile var now: Long = 0L
      override protected def nowMs(): Long = now
    }
    val root = freshRoot()
    // four OVERWRITE commits at t = 1000..4000 — each version owns its
    // dirs, so out-of-window versions' dirs genuinely expire (an
    // append-only history retains everything by reference, correctly)
    (1 to 4).foreach { i =>
      Clocked.now = i * 1000L
      Clocked.commit(spark.range((i - 1) * 10L, i * 10L).toDF("id"), root,
        "overwrite")
    }
    val dirsByVersion = (1 to 4).map(v => v -> Clocked.snapshot(root, v).dataDirs)
    // retention window [2500, 4500]: versions 3 and 4 survive, 1 and 2 reap
    Clocked.now = 4500L
    val dry = Clocked.vacuumRetain(root, retainMs = 2000L, dryRun = true)
    val reaped = Clocked.vacuumRetain(root, retainMs = 2000L)
    assert(dry === reaped, "DRY RUN must report exactly what the real run reaps")
    val survivors = (Clocked.snapshot(root, 3).dataDirs ++
      Clocked.snapshot(root, 4).dataDirs).toSet
    assert(reaped.nonEmpty && reaped.forall(!survivors.contains(_)))
    assert(reaped.toSet === dirsByVersion.take(2).flatMap(_._2).toSet,
      "exactly the out-of-window versions' dirs must reap")
    assert(Clocked.store.versions(root).sorted === Seq(3, 4),
      "manifests outside the wall-clock window must be gone")
    assert(ids(Clocked.read(spark, root)) === (30L until 40L))
    // inside-window versions keep their data dirs on disk and stay readable
    dirsByVersion.filter(_._1 >= 3).flatMap(_._2)
      .foreach(d => assert(new File(root, d).exists()))
    assert(ids(Clocked.read(spark, root, Some(3))) === (20L until 30L))
  }

  test("DESCRIBE HISTORY survives vacuum even between checkpoints") {
    val root = freshRoot()
    // 5 commits — below the default 10-commit checkpoint interval, so
    // without the vacuum-time rollup these summaries would only live in
    // the manifests vacuum is about to delete
    (1 to 5).foreach(i => VersionedTable.commit(
      spark.range((i - 1) * 10L, i * 10L).toDF("id"), root))
    VersionedTable.vacuum(root, retainLast = 2)
    val hist = VersionedTable.historySummary(root)
    assert(hist.map(_.version) === (1 to 5),
      "every vacuumed version must keep its history summary")
    assert(hist.forall(_.operation == "append"))
  }

  test("Maintenance.plan: pure policy decisions over manifest metadata") {
    import graft.sources.Maintenance
    import graft.sources.Maintenance._
    val root = freshRoot()
    rangedTable(root)
    // healthy table under default thresholds: nothing is due
    assert(Maintenance.plan(root).isEmpty)
    // dv threshold: two MOR deletes cross maxDeletionVectors = 2
    VersionedTable.deleteMor(spark, root, col("id") >= 10L && col("id") < 20L)
    VersionedTable.deleteMor(spark, root, col("id") >= 110L && col("id") < 115L)
    val p1 = Maintenance.plan(root, Policy(maxDeletionVectors = 2))
    assert(p1.collect { case d: PurgeDeletes => d } match {
      case Seq(d) => d.nDvs == 2 && d.deletedRows == 15L
      case _      => false
    }, s"expected one PurgeDeletes(2 dvs, 15 rows), got $p1")
    // deleted-rows threshold fires independently of dv count
    assert(Maintenance.plan(root, Policy(maxDeletedRows = 10L))
      .exists(_.isInstanceOf[PurgeDeletes]))
    // small-dirs threshold: every test dir is tiny, 3 >= 3 fires
    val p2 = Maintenance.plan(root,
      Policy(maxSmallDirs = 3, smallDirMaxBytes = Long.MaxValue / 2))
    assert(p2.collect { case c: CompactSmallDirs => c.nSmall } === Seq(3))
    // wall-clock retention: a window that excludes the early commits
    val now = System.currentTimeMillis()
    val p3 = Maintenance.plan(root, Policy(retainMs = Some(0L)),
      nowMs = now + 60000L)
    assert(p3.collect { case v: Vacuum => v }.nonEmpty,
      "every non-latest version is outside a zero window in the future")
    // ordering: purge before compact before vacuum
    val all = Maintenance.plan(root, Policy(maxDeletionVectors = 1,
      maxSmallDirs = 3, smallDirMaxBytes = Long.MaxValue / 2,
      retainMs = Some(0L)), nowMs = now + 60000L)
    assert(all.map(_.getClass.getSimpleName)
      === Seq("PurgeDeletes", "CompactSmallDirs", "Vacuum"))
  }

  test("Maintenance.execute maps decisions onto the verbs, content preserved") {
    import graft.sources.Maintenance
    import graft.sources.Maintenance._
    val root = freshRoot()
    rangedTable(root)
    VersionedTable.deleteMor(spark, root, col("id") >= 10L && col("id") < 20L)
    val expected = ids(VersionedTable.read(spark, root))
    val actions = Maintenance.plan(root, Policy(maxDeletionVectors = 1,
      maxSmallDirs = 2, smallDirMaxBytes = Long.MaxValue / 2))
    val ran = Maintenance.execute(spark, root, actions,
      statsCols = Seq("id"))
    assert(ran.size === 2 && ran.forall(_._2.isDefined))
    val snap = VersionedTable.snapshot(root,
      VersionedTable.latestVersion(root).get)
    assert(snap.dvs.isEmpty, "policy purge must clear the dv set")
    assert(snap.dataDirs.size === 1, "policy compact must fold the fragments")
    assert(ids(VersionedTable.read(spark, root)) === expected,
      "policy-driven maintenance must be content-preserving")
    // a second tick finds nothing to do
    assert(Maintenance.plan(root, Policy(maxDeletionVectors = 1)).isEmpty)
  }

  test("concurrent setTableProperties writers never drop each other's keys") {
    val root = freshRoot()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 16).map { i =>
        pool.submit(new Runnable {
          def run(): Unit =
            VersionedTable.setTableProperties(root, Map(s"k$i" -> s"v$i"))
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    val props = VersionedTable.tableProperties(root)
    (1 to 16).foreach(i => assert(props.get(s"k$i") === Some(s"v$i"),
      s"lost update: k$i missing from ${props.keySet.toSeq.sorted}"))
  }

  test("clustering drift: silent below the fraction, Recluster past it, tick restores pruning and converges") {
    import graft.sources.Maintenance
    val root = freshRoot()
    // clustered era: ids 0..400, z-ordered at v2 into 4 id-buckets
    VersionedTable.commit(
      spark.range(0L, 400L).toDF("id").withColumn("v", col("id") * 2),
      root, "append", statsCols = Seq("id"))
    VersionedTable.optimizeZorder(spark, root, Seq(col("id") -> 500L),
      nDirs = 4, statsCols = Seq("id"))
    val policy = Maintenance.Policy(
      zorderBy = Seq("id" -> 500L), zorderDirs = 4,
      maxDriftFraction = 0.1, minDriftDirs = 2,
      maxSmallDirs = Int.MaxValue)
    assert(!Maintenance.plan(root, policy)
      .exists(_.isInstanceOf[Maintenance.Recluster]), "no drift yet")
    // drift era: 4 appends, each spanning the WHOLE 400..500 range — every
    // drifted dir's id hull covers any probe in the range, so pruning on
    // the appended range is dead until someone re-clusters
    (0 until 4).foreach(h => VersionedTable.commit(
      spark.range(400L, 500L).filter(col("id") % 4 === h)
        .toDF("id").withColumn("v", col("id") * 2).coalesce(1),
      root, "append", statsCols = Seq("id")))
    val actions = Maintenance.plan(root, policy)
    val rec = actions.collectFirst { case r: Maintenance.Recluster => r }
      .getOrElse(fail(s"drift must plan a Recluster, got $actions"))
    assert(rec.driftedDirs.size === 4, "exactly the post-optimize dirs drift")
    assert(rec.dims === Seq("id" -> 500L) && rec.nDirs === 4)
    // a policy with no declared zorder dims NEVER reclusters
    assert(!Maintenance.plan(root, Maintenance.Policy(maxSmallDirs = Int.MaxValue))
      .exists(_.isInstanceOf[Maintenance.Recluster]))
    // drifted dirs don't double-count as fragments: the small-dir trigger
    // sees only the 4 clustered dirs even with an everything-is-small bar
    val both = Maintenance.plan(root, policy.copy(
      smallDirMaxBytes = Long.MaxValue / 2, maxSmallDirs = 1))
    assert(both.collectFirst { case c: Maintenance.CompactSmallDirs => c.nSmall }
      === Some(4))
    def probeFiles = runAndCount(VersionedTable.read(spark, root)
      .filter(col("id").between(440, 460)))._2
    val before = probeFiles
    assert(before >= 4, s"every drifted dir admits the probe, got $before")
    Maintenance.execute(spark, root, actions, statsCols = Seq("id"))
    val after = probeFiles
    assert(after < before, s"recluster must restore pruning: $after !< $before")
    // content-preserving, and the clustered bulk was carried by name
    assert(ids(VersionedTable.read(spark, root)) === (0L until 500L))
    // the tick CONVERGES: the recluster is now the last optimize op
    assert(Maintenance.plan(root, policy).isEmpty,
      "policy must go quiet once the drift is rewritten")
  }

  test("a never-optimized table never triggers Recluster (drift is relative to a clustering someone chose)") {
    import graft.sources.Maintenance
    val root = freshRoot()
    (0 until 4).foreach(i => VersionedTable.commit(
      spark.range(i * 100L, (i + 1) * 100L).toDF("id"),
      root, "append", statsCols = Seq("id")))
    val p = Maintenance.Policy(zorderBy = Seq("id" -> 400L),
      maxDriftFraction = 0.0, minDriftDirs = 1, maxSmallDirs = Int.MaxValue)
    assert(!Maintenance.plan(root, p)
      .exists(_.isInstanceOf[Maintenance.Recluster]))
  }

  /** Spark jobs `body` submits, counted by job group. */
  private def jobsOf(body: => Any): Int = {
    val group = s"maint-jobs-${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sparkContext.setJobGroup(group, "maintenance job-count probe")
    try body finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  test("the rewrite kernel adds no Spark job to compactSmallDirs, purgeDeletes, a full optimizeZorder or compact") {
    // compactSmallDirs and purgeDeletes run inside a timed registry pass
    // (q_policy_sql); each count is pinned at what the verb submitted
    // before the verbs shared one kernel
    val small = freshRoot()
    rangedTable(small)
    assert(jobsOf(VersionedTable.compactSmallDirs(spark, small,
      maxBytes = Long.MaxValue / 2, statsCols = Seq("id"))) <= 1)
    val dv = freshRoot()
    rangedTable(dv)
    VersionedTable.deleteMor(spark, dv, col("id") >= 10L && col("id") < 20L)
    VersionedTable.deleteMor(spark, dv, col("id") >= 250L && col("id") < 260L)
    assert(jobsOf(VersionedTable.purgeDeletes(spark, dv)) <= 4)
    val z = freshRoot()
    rangedTable(z)
    assert(jobsOf(VersionedTable.optimizeZorder(spark, z,
      Seq(col("id") -> 300L, col("v") -> 600L), nDirs = 4,
      statsCols = Seq("id"), bloomCols = Seq("id"))) <= 6)
    val full = freshRoot()
    rangedTable(full)
    assert(jobsOf(VersionedTable.compact(spark, full, statsCols = Seq("id"))) <= 1)
  }

  test("full OPTIMIZE and compact keep a column-mapped anchor; DROP + re-ADD after brings back nothing") {
    val root = freshRoot()
    rangedTable(root)
    VersionedTable.renameColumn(spark, root, "v", "val") // maps the table
    val expected = VersionedTable.read(spark, root).collect().map(r =>
      r.getLong(0) -> r.getLong(1)).toMap
    def rows = VersionedTable.read(spark, root).collect().map(r =>
      r.getLong(0) -> r.getLong(1)).toMap
    val vc = VersionedTable.compact(spark, root, statsCols = Seq("id"))
    val vz = VersionedTable.optimizeZorder(spark, root,
      Seq(col("id") -> 300L), nDirs = 2, statsCols = Seq("id"))
    for (v <- Seq(vc, vz)) {
      val snap = VersionedTable.snapshot(root, v)
      val anchor = VersionedTable.anchorAt(spark, root, v)
      assert(VersionedTable.isMapped(anchor), s"v$v dropped the column mapping")
      assert(anchor.fieldNames.toSeq === Seq("id", "val"))
      snap.dataDirs.foreach { d =>
        val footer = spark.read.parquet(new File(root, d).getPath).columns
        assert(footer.contains("v") && !footer.contains("val"),
          s"v$v's $d must land files under the physical name")
      }
    }
    assert(rows === expected, "the full rewrites must read the same logical rows")
    VersionedTable.dropColumns(spark, root, Seq("val"))
    VersionedTable.addColumns(spark, root,
      Seq(org.apache.spark.sql.types.StructField("val",
        org.apache.spark.sql.types.LongType)))
    val back = VersionedTable.read(spark, root)
    assert(back.count() === 300L)
    assert(back.filter(col("val").isNotNull).count() === 0L,
      "a re-added column must not resurrect pre-drop values")
  }

  test("every content-preserving rewrite publishes rows=0 and keeps the snapshot anchor") {
    val root = freshRoot()
    rangedTable(root)
    VersionedTable.deleteMor(spark, root, col("id") === 250L)
    val anchor = VersionedTable.anchorAt(spark, root, 4)
    val versions = Seq(
      VersionedTable.compactWhere(spark, root, col("id") <= 50L),
      VersionedTable.purgeDeletes(spark, root).get,
      VersionedTable.compact(spark, root, statsCols = Seq("id")),
      VersionedTable.optimizeZorder(spark, root, Seq(col("id") -> 300L),
        nDirs = 2, statsCols = Seq("id")),
      VersionedTable.compactSmallDirs(spark, root, maxBytes = Long.MaxValue / 2))
    assert(versions === (5 to 9))
    versions.foreach { v =>
      val snap = VersionedTable.snapshot(root, v)
      assert(snap.operation === "optimize" && snap.rows === 0L,
        s"v$v: ${snap.operation} rows=${snap.rows}")
      assert(VersionedTable.anchorAt(spark, root, v) === anchor)
    }
    assert(VersionedTable.historySummary(root).filter(_.version >= 5)
      .forall(_.rows == 0L))
    assert(ids(VersionedTable.read(spark, root)) === (0L until 300L).filterNot(_ == 250L))
  }

  test("an empty scope is a no-op for every rewrite verb, no version burned") {
    val root = freshRoot()
    val Seq(d1, _, _) = rangedTable(root)
    val z = Seq(col("id") -> 300L)
    assert(VersionedTable.compactWhere(spark, root, col("id") > 10000L) === 3)
    assert(VersionedTable.compactSmallDirs(spark, root, maxBytes = 1L) === 3)
    assert(VersionedTable.optimizeZorder(spark, root, z, nDirs = 2,
      where = Some(col("id") > 10000L)) === 3)
    assert(VersionedTable.optimizeZorder(spark, root, z, nDirs = 2,
      scopeDirs = Some(Set("data/v00001-gone"))) === 3)
    assert(VersionedTable.purgeDeletes(spark, root) === None)
    // a snapshot with no live dirs: the full rewrites have nothing to do
    VersionedTable.delete(spark, root, col("id") >= 0L)
    assert(VersionedTable.compact(spark, root) === 4)
    assert(VersionedTable.optimizeZorder(spark, root, z, nDirs = 2) === 4)
    assert(VersionedTable.latestVersion(root) === Some(4))
    assert(VersionedTable.snapshot(root, 3).dataDirs.contains(d1))
  }
}
