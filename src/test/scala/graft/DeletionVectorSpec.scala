package graft

import java.nio.file.Files

import graft.sources.VersionedTable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Merge-on-read DML via deletion vectors: DELETE/UPDATE/MERGE as
  * O(changed rows) commits that rewrite NOTHING — matched positions land
  * in `_dv/` parquet sidecars (`dv=` manifest lines) and every read path
  * folds them in as one anti-join. Contracts under test: value-exactness
  * vs the copy-on-write twins, zero-rewrite manifests, per-version time
  * travel, composition with every read surface (filtered read /
  * format("graft") / SQL catalog), DV carry rules (append, evolve,
  * restore, clone), purge-as-optimize transparency to subscribers, and
  * vacuum's reference-based dv lifecycle.
  *
  * Reference spec: row-level deletes/upserts the reference delegates to
  * TimescaleDB MVCC (`INSERT ... ON CONFLICT DO UPDATE`,
  * `flink-jobs/market-realtime/enhanced_anomaly_detection.py:176-201`) —
  * on an object store there is no MVCC, only immutable files plus a log,
  * which is exactly what deletion vectors reconcile.
  */
class DeletionVectorSpec extends SparkTestBase
  with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  // CDF opt-in: several tests below assert the MOR kernels persist
  // change images alongside their dvs (staging is off by default).
  private def freshRoot(): String = {
    val root = Files.createTempDirectory("graft_dv_").toString
    VersionedTable.setTableProperties(root,
      Map(VersionedTable.CdfEnabledProp -> "true"))
    root
  }

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

  test("MOR DELETE: O(delta) commit — every dir carried by name, dv line published") {
    val root = freshRoot()
    val dirs = rangedTable(root)
    val deleted = VersionedTable.deleteMor(spark, root,
      col("id") >= 120L && col("id") < 180L)
    assert(deleted === 60L)
    val snap = VersionedTable.snapshot(root, 4)
    assert(snap.operation === "delete")
    assert(snap.rows === 60L)
    assert(snap.dataDirs === dirs,
      "merge-on-read must carry every data dir verbatim — zero rewrites")
    assert(snap.dvs.size === 1 && snap.dvs.head.rows === 60L)
    assert(snap.cdfDir.isDefined, "MOR DELETE persists CDF images too")
    assert(ids(VersionedTable.read(spark, root))
      === ((0L until 120L) ++ (180L until 300L)))
    // time travel: the parent snapshot has no dv lines and serves all rows
    assert(VersionedTable.snapshot(root, 3).dvs.isEmpty)
    assert(ids(VersionedTable.read(spark, root, Some(3))).size === 300)
  }

  test("MOR DELETE equals COW DELETE row-for-row; repeated deletes never double-count") {
    val rootM = freshRoot(); val rootC = freshRoot()
    rangedTable(rootM); rangedTable(rootC)
    val p1 = col("id") % 7 === 0
    assert(VersionedTable.deleteMor(spark, rootM, p1)
      === VersionedTable.delete(spark, rootC, p1))
    // second delete overlapping the first: already-dv'd rows can't match
    // (ids < 10 not yet deleted: 1..6, 8, 9 — 0 and 7 went with p1)
    val p2 = col("id") % 7 === 0 || col("id") < 10L
    val m2 = VersionedTable.deleteMor(spark, rootM, p2)
    val c2 = VersionedTable.delete(spark, rootC, p2)
    assert(m2 === c2 && m2 === 8L, s"expected 8 fresh matches, got $m2")
    assert(ids(VersionedTable.read(spark, rootM))
      === ids(VersionedTable.read(spark, rootC)))
    assert(VersionedTable.snapshot(rootM, 5).dvs.size === 2,
      "each MOR delete appends its own dv file")
  }

  test("no-match MOR DELETE burns no version; skipping-proved no-op too") {
    val root = freshRoot()
    rangedTable(root)
    assert(VersionedTable.deleteMor(spark, root, col("id") === 999L) === 0L)
    assert(VersionedTable.deleteMor(spark, root, col("v") === -1L) === 0L)
    assert(VersionedTable.latestVersion(root) === Some(3))
  }

  test("every read surface folds dvs in: filtered read, format(graft), SQL WHERE") {
    val root = freshRoot()
    rangedTable(root)
    VersionedTable.deleteMor(spark, root, col("id") >= 150L && col("id") < 250L)
    val expect = (0L until 150L) ++ (250L until 300L)
    // library pruned read (range tier admits dirs 2 and 3; dv applies)
    val pruned = VersionedTable.read(spark, root).filter(col("id").between(140, 260))
    assert(ids(pruned) === expect.filter(i => i >= 140 && i <= 260))
    assert(scannedFiles(pruned).forall(f =>
      f.contains("data/v00002") || f.contains("data/v00003")))
    val scanned = VersionedTable.read(spark, root).filter(col("id") >= 100L)
    assert(ids(scanned) === expect.filter(_ >= 100))
    // pruning still bites THROUGH the dv anti-join: the id<100 probe must
    // scan strictly fewer data files than the full read
    val prunedFiles = runAndCount(VersionedTable.read(spark, root)
      .filter(col("id") < 100L))._2
    val allFiles = runAndCount(VersionedTable.read(spark, root))._2
    assert(prunedFiles > 0 && prunedFiles < allFiles,
      s"dir skipping must survive the dv anti-join ($prunedFiles vs $allFiles)")
    // DSv1 generic reader
    val v1 = spark.read.format("graft").load(root)
    assert(ids(v1) === expect)
    assert(ids(v1.filter(col("id") < 10L)) === expect.filter(_ < 10))
    assert(v1.filter(col("id") >= 290L).count() === 10L)
  }

  test("MOR UPDATE: post-images land as one fresh dir; assignments see pre-rows") {
    val root = freshRoot()
    val dirs = rangedTable(root)
    val updated = VersionedTable.updateMor(spark, root,
      col("id") >= 90L && col("id") < 110L,
      Map("v" -> (col("v") + col("id"))))
    assert(updated === 20L)
    val snap = VersionedTable.snapshot(root, 4)
    assert(snap.operation === "update")
    assert(snap.dataDirs.take(3) === dirs, "existing dirs carried by name")
    assert(snap.dataDirs.size === 4, "post-images are ONE appended dir")
    assert(snap.dvs.size === 1 && snap.dvs.head.rows === 20L)
    // the post-image dir inherits the table's stats discipline
    val newDir = snap.dataDirs.last
    assert(snap.dirStats.exists(s => s.dir == newDir && s.col == "id"))
    val got = VersionedTable.read(spark, root)
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 300)
    (0L until 300L).foreach { i =>
      val want = if (i >= 90 && i < 110) i * 2 + i else i * 2
      assert(got(i) === want, s"id=$i")
    }
    // CDF pre/post images match the COW update contract
    val feed = VersionedTable.changeFeed(spark, root, 3, 4)
    assert(feed.filter(col("_change_type") === "update_preimage").count() === 20)
    assert(feed.filter(col("_change_type") === "update_postimage")
      .agg(sum(col("v") - col("id") * 2)).head().getLong(0)
      === (90L until 110L).sum)
  }

  test("MOR MERGE: upsert equals the COW twin; no dir rewritten or dropped") {
    val rootM = freshRoot(); val rootC = freshRoot()
    rangedTable(rootM); rangedTable(rootC)
    val src = spark.range(250L, 350L).toDF("id")
      .withColumn("v", col("id") * 10)
    val vM = VersionedTable.mergeMor(spark, rootM, src, "id")
    VersionedTable.merge(spark, rootC, src, "id")
    assert(vM === 4)
    val snap = VersionedTable.snapshot(rootM, 4)
    assert(snap.operation === "merge")
    assert(snap.dataDirs.take(3) === VersionedTable.snapshot(rootM, 3).dataDirs,
      "MOR merge never rewrites or drops a dir — O(source + matched)")
    assert(snap.dvs.size === 1 && snap.dvs.head.rows === 50L)
    val gotM = VersionedTable.read(spark, rootM).select("id", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotC = VersionedTable.read(spark, rootC).select("id", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotM === gotC)
    assert(gotM(260L) === 2600L && gotM(340L) === 3400L && gotM(100L) === 200L)
    // CDF images: 50 pre, 50 post, 50 inserts — byte-identical contract
    val feed = VersionedTable.changeFeed(spark, rootM, 3, 4)
    assert(feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("update_preimage" -> 50L, "update_postimage" -> 50L,
        "insert" -> 50L))
  }

  test("append after MOR delete carries the dv set; deleted rows stay dead") {
    val root = freshRoot()
    rangedTable(root)
    VersionedTable.deleteMor(spark, root, col("id") < 50L)
    VersionedTable.commit(
      spark.range(300L, 320L).toDF("id").withColumn("v", col("id") * 2),
      root, "append", statsCols = Seq("id"))
    val snap = VersionedTable.snapshot(root, 5)
    assert(snap.operation === "append" && snap.dvs.size === 1)
    assert(ids(VersionedTable.read(spark, root)) === (50L until 320L))
  }

  test("COW DML over a dv'd table classifies LIVE rows only") {
    val root = freshRoot()
    rangedTable(root)
    VersionedTable.deleteMor(spark, root, col("id") >= 100L && col("id") < 150L)
    // COW update touching the half-dv'd dir: rewrite applies dvs first
    // (sentinel -1 is outside v's natural range, unlike 0 = 2*0)
    val updated = VersionedTable.update(spark, root,
      col("id") >= 100L && col("id") < 200L, Map("v" -> lit(-1L)))
    assert(updated === 50L, "only live rows match")
    val out = VersionedTable.read(spark, root)
    assert(out.count() === 250L)
    assert(out.filter(col("v") === -1L).count() === 50L)
    // the rewritten dir's rows are live-only even though the dv entries
    // for its predecessor are still carried (stale keys admit nothing)
    assert(ids(out) === ((0L until 100L) ++ (150L until 300L)))
  }

  test("purgeDeletes folds dvs away as a content-preserving optimize; subscribers cross it") {
    val root = freshRoot()
    rangedTable(root)
    VersionedTable.deleteMor(spark, root, col("id") >= 100L && col("id") < 200L) // dir 2 fully dead
    VersionedTable.deleteMor(spark, root, col("id") >= 290L)                     // dir 3 partial
    val before = ids(VersionedTable.read(spark, root))
    val v = VersionedTable.purgeDeletes(spark, root)
    assert(v === Some(6))
    val snap = VersionedTable.snapshot(root, 6)
    assert(snap.operation === "optimize" && snap.dvs.isEmpty)
    assert(snap.dataDirs.size === 2,
      "the fully-deleted dir is dropped; the untouched dir is carried")
    assert(snap.dataDirs.contains(VersionedTable.snapshot(root, 3).dataDirs.head),
      "dir 1 has no dv'd rows and must be carried by name")
    assert(ids(VersionedTable.read(spark, root)) === before)
    // a purge on a dv-free table burns nothing
    assert(VersionedTable.purgeDeletes(spark, root) === None)
    // subscription continuity: a feed crossing the purge sees ONLY real deltas
    val feed = VersionedTable.changeFeed(spark, root, 3, 6)
    assert(feed.filter(col("_commit_version") === 6L).count() === 0L,
      "purge is dataChange=false: an empty delta, never a resync")
    assert(feed.filter(col("_change_type") === "delete").count() === 110L)
  }

  test("compact and OPTIMIZE ZORDER fold dvs naturally") {
    val root = freshRoot()
    rangedTable(root)
    VersionedTable.deleteMor(spark, root, col("id") % 3 === 0)
    val live = ids(VersionedTable.read(spark, root))
    VersionedTable.compact(spark, root, statsCols = Seq("id"))
    val afterCompact = VersionedTable.snapshot(root, 5)
    assert(afterCompact.dvs.isEmpty && afterCompact.dataDirs.size === 1)
    assert(ids(VersionedTable.read(spark, root)) === live)
    // zorder over a fresh dv'd table
    val root2 = freshRoot()
    rangedTable(root2)
    VersionedTable.deleteMor(spark, root2, col("id") % 3 === 0)
    VersionedTable.optimizeZorder(spark, root2,
      Seq(col("id") -> 300L, col("v") -> 600L), 4, statsCols = Seq("id"))
    val z = VersionedTable.snapshot(root2, 5)
    assert(z.dvs.isEmpty)
    assert(ids(VersionedTable.read(spark, root2)) === live)
  }

  test("restore and clone carry dvs; evolve keeps them; vacuum reaps by reference") {
    val root = freshRoot()
    rangedTable(root)
    VersionedTable.deleteMor(spark, root, col("id") < 30L) // v4, dv A
    VersionedTable.purgeDeletes(spark, root)               // v5, dvs folded
    VersionedTable.deleteMor(spark, root, col("id") >= 280L) // v6, dv B
    // restore to the dv'd v4: its dv line rides the new manifest
    VersionedTable.restore(spark, root, 4)                 // v7
    assert(VersionedTable.snapshot(root, 7).dvs
      === VersionedTable.snapshot(root, 4).dvs)
    assert(ids(VersionedTable.read(spark, root)) === (30L until 300L))
    // evolve keeps the dv set
    VersionedTable.addColumns(spark, root, Seq(
      org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.LongType)))             // v8
    assert(VersionedTable.snapshot(root, 8).dvs.nonEmpty)
    assert(VersionedTable.read(spark, root).count() === 270L)
    // clone: dv files hardlink over; the clone reads live rows only and
    // survives a source vacuum
    val cloneRoot = freshRoot() + "/t"
    VersionedTable.cloneTo(spark, root, cloneRoot)
    assert(VersionedTable.snapshot(cloneRoot, 1).dvs.nonEmpty)
    assert(VersionedTable.read(spark, cloneRoot).count() === 270L)
    // vacuum with retainLast=2 keeps v7/v8 (both reference dv A) and
    // reaps dv B (referenced only by the expired v6) by reference
    val reaped = VersionedTable.vacuum(root, retainLast = 2, orphanGraceMs = 0L)
    val dvA = VersionedTable.snapshot(root, 8).dvs.map(_.path).toSet
    assert(dvA.forall(p => new java.io.File(root, p).exists()),
      "a dv referenced by a retained manifest must survive vacuum")
    assert(reaped.exists(_.startsWith("_dv/")),
      "dv files referenced only below the cutoff are reaped")
    assert(VersionedTable.read(spark, root).count() === 270L)
    assert(VersionedTable.read(spark, cloneRoot).count() === 270L,
      "the clone's hardlinked dv files are untouched by the source vacuum")
  }

  test("delete-all via MOR leaves a readable empty snapshot; dv broadcast threshold honored") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0L, 100L).toDF("id"), root, "append")
    assert(VersionedTable.deleteMor(spark, root, lit(true)) === 100L)
    assert(VersionedTable.read(spark, root).count() === 0L)
    // the anti-join must broadcast below the threshold (AQE-aware walk)
    val probe = VersionedTable.read(spark, root)
    probe.collect()
    assert(collect(probe.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.nonEmpty, "small dv sets must broadcast, never shuffle the table")
  }

  test("SQL surface: graft.dml.mode=merge-on-read routes DELETE/UPDATE/MERGE onto dvs") {
    val sql = SqlCatalogSpec.session(spark)
    val root = freshRoot()
    sql.sql("DROP TABLE IF EXISTS dv_t")
    sql.sql(s"CREATE TABLE dv_t (id BIGINT, v BIGINT) USING graft " +
      s"LOCATION '$root' TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    sql.sql("INSERT INTO dv_t SELECT id, id * 2 FROM range(0, 300)")
    sql.sql("DELETE FROM dv_t WHERE id >= 120 AND id < 180")
    val snap = VersionedTable.snapshot(root, 2)
    assert(snap.operation === "delete" && snap.dvs.size === 1,
      "the tblproperty must route SQL DELETE onto the merge-on-read kernel")
    assert(snap.dataDirs === VersionedTable.snapshot(root, 1).dataDirs)
    assert(sql.sql("SELECT count(*) c FROM dv_t").head().getLong(0) === 240L)
    // SQL reads over the dv'd table: predicates, aggregates, time travel
    assert(sql.sql("SELECT sum(v) s FROM dv_t WHERE id < 130").head().getLong(0)
      === (0L until 120L).map(_ * 2).sum)
    assert(sql.sql("SELECT count(*) c FROM dv_t VERSION AS OF 1").head().getLong(0)
      === 300L)
    sql.sql("UPDATE dv_t SET v = 0 WHERE id < 10")
    assert(VersionedTable.snapshot(root, 3).dvs.size === 2)
    assert(sql.sql("SELECT sum(v) s FROM dv_t WHERE id < 10").head().getLong(0) === 0L)
    sql.sql("CREATE OR REPLACE TEMPORARY VIEW dv_src AS " +
      "SELECT id, id * 100 AS v FROM range(250, 320)")
    sql.sql("MERGE INTO dv_t t USING dv_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(VersionedTable.snapshot(root, 4).dvs.size === 3)
    assert(sql.sql("SELECT count(*) c FROM dv_t").head().getLong(0) === 260L)
    assert(sql.sql("SELECT v FROM dv_t WHERE id = 260").head().getLong(0) === 26000L)
    // DESCRIBE DETAIL surfaces the dv footprint — the operator signal for
    // scheduling a purge (delete 60 + update 10 + merge-matched 50)
    val det = sql.sql("DESCRIBE DETAIL dv_t").head()
    assert(det.getAs[Long]("num_deletion_vectors") === 3L)
    assert(det.getAs[Long]("deleted_rows") === 120L)
    // OPTIMIZE folds the dvs away; content unchanged
    sql.sql("OPTIMIZE dv_t")
    val det2 = sql.sql("DESCRIBE DETAIL dv_t").head()
    assert(det2.getAs[Long]("num_deletion_vectors") === 0L)
    assert(sql.sql("SELECT count(*) c FROM dv_t").head().getLong(0) === 260L)
    assert(sql.sql("SELECT v FROM dv_t WHERE id = 260").head().getLong(0) === 26000L)
    sql.sql("DROP TABLE dv_t")
  }

  test("COW DML drops dv entries whose dirs it rewrote (no immortal stale state)") {
    val root = freshRoot()
    rangedTable(root)
    // MOR delete touches ONLY the middle dir (stats admit just dir2)
    assert(VersionedTable.deleteMor(spark, root,
      col("id") >= 120L && col("id") < 180L) === 60L)
    val v4 = VersionedTable.snapshot(root, 4)
    assert(v4.dvs.size === 1 && v4.dvs.head.bases.nonEmpty,
      "MOR commits record the dir bases their dv may reference")
    // COW UPDATE rewrites the whole middle dir: the dv\'d dir is replaced,
    // so the carried dv entry is dead — publish must filter it out, or the
    // table stays on the anti-join read path (and DESCRIBE DETAIL\'s dv
    // counters inflate) forever
    assert(VersionedTable.update(spark, root,
      col("id") >= 100L && col("id") < 200L,
      Map("v" -> (col("v") + lit(1L)))) === 40L) // 100 - 60 dv'd
    val v5 = VersionedTable.snapshot(root, 5)
    assert(v5.dvs.isEmpty,
      s"COW rewrite carried stale dv entries: ${v5.dvs}")
    // dv-free read path again, content exact: [120,180) gone, the
    // surviving middle rows updated
    val rows = VersionedTable.read(spark, root)
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size === 240)
    assert(!rows.contains(150L))
    assert(rows(110L) === 221L) // 110*2 + 1
    assert(rows(50L) === 100L)  // untouched dir
    // nothing left to purge
    assert(VersionedTable.purgeDeletes(spark, root) === None)
  }

  test("purgeDeletes clears ALL-stale legacy dv entries instead of crashing") {
    // Simulate a legacy/foreign manifest: a dv entry with no recorded
    // bases whose referenced dir is gone from the snapshot. purgeDeletes
    // used to compute affected=[] and crash in an empty reduce — exactly
    // the state that most needs clearing. Now it publishes a clean
    // manifest (dirs carried by name, dv list emptied), content-exact.
    val root = freshRoot()
    (0 to 1).foreach(i => VersionedTable.commit(
      spark.range(i * 10L, (i + 1) * 10L).toDF("id")
        .withColumn("v", col("id") * 2), root, "append", statsCols = Seq("id")))
    assert(VersionedTable.deleteMor(spark, root, col("id") === 5L) === 1L)
    val snap = VersionedTable.snapshot(root, 3)
    val dir1Base = new java.io.File(snap.dataDirs.head).getName
    // craft v4: drop the dv\'d dir and its metadata, keep the dv line in
    // LEGACY form (no bases) — a stale entry no API path can purge
    val v3 = graft.sources.CommitStore.local.get(root, 3).get
    val v4 = v3.linesIterator.flatMap { line =>
      if (line.startsWith("version=")) Some("version=4")
      else if (line.startsWith("parent=")) Some("parent=3")
      else if (line.startsWith("dv=")) Some(line.split("\\|").take(2).mkString("|"))
      else if ((line.startsWith("dir=") || line.startsWith("stats=") ||
        line.startsWith("bloom=")) && line.contains(dir1Base)) None
      else Some(line)
    }.mkString("\n")
    assert(graft.sources.CommitStore.local.putIfAbsent(root, 4, v4))
    assert(VersionedTable.snapshot(root, 4).dvs.nonEmpty)
    val purged = VersionedTable.purgeDeletes(spark, root)
    assert(purged === Some(5))
    val v5 = VersionedTable.snapshot(root, 5)
    assert(v5.dvs.isEmpty)
    assert(ids(VersionedTable.read(spark, root)) === (10L until 20L))
  }
}
