package graft

import java.io.File
import java.nio.file.Files

import graft.sources.{CommitStore, DataStore, VersionedTable, VersionedTableOps}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maintenance-vs-writer conflict REBASE: a scoped OPTIMIZE/compact that
  * loses the conditional put to a DISJOINT concurrent commit (an append, a
  * DML on unscoped dirs) must re-publish at the new tip carrying the
  * winner's dirs — both commits land, content equal to serial execution.
  * A commit that TOUCHED the scope (DML rewrote a scoped dir, a deletion
  * vector landed on one, the schema anchor moved) still aborts loudly.
  * Without rebase, maintenance on a 100 TB table with streaming appends
  * every few seconds can starve forever — this is the Delta OPTIMIZE
  * conflict-resolution contract re-expressed for the manifest grammar.
  */
class MaintenanceRaceSpec extends SparkTestBase {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_mrace_").toString

  /** Three disjoint id-range dirs with min/max stats on id, plus a 4th
    * fragment inside the low range so `id <= 50` admits exactly 2 dirs.
    */
  private def fragmentedTable(root: String): (Seq[String], String) = {
    Seq((0L, 100L), (100L, 200L), (200L, 300L)).foreach { case (lo, hi) =>
      VersionedTable.commit(
        spark.range(lo, hi).toDF("id").withColumn("v", col("id") * 2),
        root, "append", statsCols = Seq("id"))
    }
    VersionedTable.commit(
      spark.range(1000L, 1020L).toDF("id")
        .withColumn("id", col("id") - 1000L + 30L)
        .withColumn("v", col("id") * 2),
      root, "append", statsCols = Seq("id"))
    val dirs = VersionedTable.snapshot(root, 3).dataDirs
    val frag = (VersionedTable.snapshot(root, 4).dataDirs.toSet -- dirs).head
    (dirs, frag)
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  /** A store that delegates to the real filesystem store but runs `ambush`
    * exactly once, IMMEDIATELY BEFORE the first conditional put — the
    * interleaving where a concurrent writer wins the version this publish
    * was about to take. Deterministic reproduction of the race the 2-JVM
    * test can only make probable.
    */
  private final class AmbushStore(ambush: () => Unit) extends CommitStore {
    private val inner = CommitStore.local
    @volatile private var armed = true
    override def putIfAbsent(root: String, version: Int, body: String): Boolean = {
      if (armed) { armed = false; ambush() }
      inner.putIfAbsent(root, version, body)
    }
    override def get(root: String, version: Int): Option[String] = inner.get(root, version)
    override def versions(root: String): Seq[Int] = inner.versions(root)
    override def delete(root: String, version: Int): Unit = inner.delete(root, version)
  }

  /** A data plane that delegates to the default store but, once armed,
    * throws on the first create of a `_blooms/` path — a bloom sidecar
    * write failing part-way through a DML commit's staging, after the
    * artifacts staged before it already landed.
    */
  private final class BloomFailStore extends DataStore {
    private val inner = DataStore.default
    @volatile var armed = false
    override def create(root: String, rel: String): java.io.OutputStream = {
      if (armed && rel.startsWith("_blooms/")) {
        armed = false
        throw new java.io.IOException(s"injected failure creating $rel")
      }
      inner.create(root, rel)
    }
    override def open(root: String, rel: String) = inner.open(root, rel)
    override def list(root: String, rel: String) = inner.list(root, rel)
    override def exists(root: String, rel: String) = inner.exists(root, rel)
    override def modifiedMs(root: String, rel: String) = inner.modifiedMs(root, rel)
    override def promoteDir(root: String, stagedRel: String, finalRel: String): Unit =
      inner.promoteDir(root, stagedRel, finalRel)
    override def deleteTree(root: String, rel: String): Unit = inner.deleteTree(root, rel)
    override def deleteFile(root: String, rel: String): Unit = inner.deleteFile(root, rel)
    override def cloneTree(srcRoot: String, srcRel: String,
        dstRoot: String, dstRel: String): Unit =
      inner.cloneTree(srcRoot, srcRel, dstRoot, dstRel)
  }

  /** Entries under the staging namespaces (data dirs, deletion vectors,
    * change images, bloom sidecars) that no existing manifest references.
    */
  private def unreferenced(root: String): Set[String] = {
    val referenced = VersionedTable.existingVersions(root).flatMap { v =>
      val s = VersionedTable.snapshot(root, v)
      s.dataDirs ++ s.dvs.map(_.path) ++ s.cdfDir ++ s.dirBlooms.map(_.path)
    }.toSet
    Seq("data", "_dv", "_changes", "_blooms").flatMap { ns =>
      Option(new File(root, ns).listFiles()).toSeq.flatten.map(f => s"$ns/${f.getName}")
    }.toSet -- referenced
  }

  /** Data dirs actually on disk (non-hidden) — staged leftovers detector. */
  private def diskDirs(root: String): Set[String] =
    Option(new File(root, "data").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && !f.getName.startsWith("."))
      .map(f => s"data/${f.getName}").toSet

  test("compactWhere rebases over a disjoint concurrent append: BOTH land, content = serial") {
    val root = freshRoot()
    val (Seq(d1, d2, d3), frag) = fragmentedTable(root)
    val before = VersionedTable.rebaseCount.get()
    // the ambush: a foreign append wins version 5 between our snapshot
    // read and our conditional put
    val ops = new VersionedTableOps(new AmbushStore(() =>
      VersionedTable.commit(
        spark.range(500L, 520L).toDF("id").withColumn("v", col("id") * 2),
        root, "append", statsCols = Seq("id"))))
    val v = ops.compactWhere(spark, root, col("id") <= 50L,
      statsCols = Seq("id"))
    // rebase: the append took 5, the compact re-published at 6
    assert(v === 6)
    assert(VersionedTable.rebaseCount.get() === before + 1)
    val snap = VersionedTable.snapshot(root, 6)
    // scoped dirs (d1 + fragment) replaced by ONE fresh dir; d2/d3 AND the
    // winner's appended dir carried by name
    assert(!snap.dataDirs.contains(d1) && !snap.dataDirs.contains(frag))
    assert(snap.dataDirs.contains(d2) && snap.dataDirs.contains(d3))
    val appendDir = VersionedTable.snapshot(root, 5).dataDirs
      .filterNot(VersionedTable.snapshot(root, 4).dataDirs.toSet).head
    assert(snap.dataDirs.contains(appendDir),
      "the rebased publish must carry the winner's appended dir")
    // content identical to serial append-then-compact
    assert(ids(VersionedTable.read(spark, root)) ===
      ((0L until 300L) ++ (30L until 50L) ++ (500L until 520L)).sorted)
    // stats for the carried + new dirs survive: the low range still prunes
    val pruned = VersionedTable.read(spark, root).filter(col("id").between(250, 260))
    assert(scannedFiles(pruned).forall(_.contains(new File(d3).getName)))
    // no staged leftovers beyond the referenced dirs
    assert(diskDirs(root) === snap.dataDirs.toSet ++
      Seq(d1, frag).toSet, // old dirs still on disk for time travel
      "staged or leaked dirs on disk")
  }

  test("scoped optimizeZorder rebases over a disjoint concurrent append") {
    val root = freshRoot()
    fragmentedTable(root)
    val ops = new VersionedTableOps(new AmbushStore(() =>
      VersionedTable.commit(
        spark.range(500L, 520L).toDF("id").withColumn("v", col("id") * 2),
        root, "append", statsCols = Seq("id"))))
    val v = ops.optimizeZorder(spark, root,
      Seq(col("id") -> 300L, col("v") -> 600L), nDirs = 2,
      statsCols = Seq("id"), where = Some(col("id") <= 50L))
    assert(v === 6)
    assert(ids(VersionedTable.read(spark, root)) ===
      ((0L until 300L) ++ (30L until 50L) ++ (500L until 520L)).sorted)
  }

  test("a concurrent DML that rewrote a scoped dir aborts the compact loudly; staged dir cleaned") {
    val root = freshRoot()
    val (_, _) = fragmentedTable(root)
    // the ambush: a COW delete rewrites the scoped low-range dir — the
    // compact's output would resurrect the deleted rows, so it must die
    val ops = new VersionedTableOps(new AmbushStore(() =>
      VersionedTable.delete(spark, root, col("id") === 10L)))
    val e = intercept[VersionedTable.ConcurrentScopeException] {
      ops.compactWhere(spark, root, col("id") <= 50L, statsCols = Seq("id"))
    }
    assert(e.getMessage.contains("rewrote scoped dir"))
    // the delete's commit is the tip; content reflects it, nothing lost
    assert(ids(VersionedTable.read(spark, root)) ===
      ((0L until 300L) ++ (30L until 50L)).filterNot(_ == 10L).sorted)
    // the aborted compact's staged dir is gone
    assert(diskDirs(root).forall(d =>
      VersionedTable.existingVersions(root).exists(v =>
        VersionedTable.snapshot(root, v).dataDirs.contains(d))),
      "aborted compact leaked its staged dir")
  }

  test("a concurrent MOR delete (dv) on a scoped dir aborts the compact loudly") {
    val root = freshRoot()
    fragmentedTable(root)
    val ops = new VersionedTableOps(new AmbushStore(() =>
      VersionedTable.deleteMor(spark, root, col("id") === 10L)))
    val e = intercept[VersionedTable.ConcurrentScopeException] {
      ops.compactWhere(spark, root, col("id") <= 50L, statsCols = Seq("id"))
    }
    assert(e.getMessage.contains("deletion vectors"))
    assert(!ids(VersionedTable.read(spark, root)).contains(10L),
      "the winner's MOR delete must survive the aborted compact")
  }

  test("a concurrent RENAME aborts the scoped compact loudly") {
    val root = freshRoot()
    fragmentedTable(root)
    val ops = new VersionedTableOps(new AmbushStore(() =>
      VersionedTable.renameColumn(spark, root, "v", "val")))
    val e = intercept[VersionedTable.ConcurrentScopeException] {
      ops.compactWhere(spark, root, col("id") <= 50L, statsCols = Seq("id"))
    }
    assert(e.getMessage.contains("schema anchor"))
    assert(VersionedTable.read(spark, root).columns.toSeq === Seq("id", "val"))
  }

  test("rebase absorbs SEVERAL interleaved appends (retry loop, bounded)") {
    val root = freshRoot()
    fragmentedTable(root)
    // three foreign appends land back-to-back, each stealing the version
    // the compact is about to take — the loop must walk forward 3 times
    var n = 0
    val store: CommitStore = new CommitStore {
      private val inner = CommitStore.local
      override def putIfAbsent(root: String, version: Int, body: String): Boolean = {
        if (n < 3) {
          n += 1
          VersionedTable.commit(
            spark.range(600L + n * 10, 610L + n * 10).toDF("id")
              .withColumn("v", col("id") * 2),
            root, "append", statsCols = Seq("id"))
        }
        inner.putIfAbsent(root, version, body)
      }
      override def get(root: String, version: Int): Option[String] = inner.get(root, version)
      override def versions(root: String): Seq[Int] = inner.versions(root)
      override def delete(root: String, version: Int): Unit = inner.delete(root, version)
    }
    val ops = new VersionedTableOps(store)
    val v = ops.compactWhere(spark, root, col("id") <= 50L, statsCols = Seq("id"))
    assert(v === 8, "4 base commits + 3 foreign appends + the rebased compact")
    assert(ids(VersionedTable.read(spark, root)) ===
      ((0L until 300L) ++ (30L until 50L) ++
        (610L until 620L) ++ (620L until 630L) ++ (630L until 640L)).sorted)
  }

  test("purgeDeletes rebases over a disjoint append; a winner's UNSCOPED dv rides along") {
    val root = freshRoot()
    fragmentedTable(root) // v1..4
    VersionedTable.deleteMor(spark, root, col("id") === 250L) // dv on the high dir, v5
    // ambush 1: a plain append steals the purge's version
    val ops = new VersionedTableOps(new AmbushStore(() =>
      VersionedTable.commit(
        spark.range(700L, 710L).toDF("id").withColumn("v", col("id") * 2),
        root, "append", statsCols = Seq("id"))))
    val v = ops.purgeDeletes(spark, root)
    assert(v === Some(7), "purge must rebase past the append, not abort")
    val snap = VersionedTable.snapshot(root, 7)
    assert(snap.dvs.isEmpty, "the folded dv must not survive the rebased publish")
    assert(ids(VersionedTable.read(spark, root)) ===
      ((0L until 300L) ++ (30L until 50L) ++ (700L until 710L))
        .filterNot(_ == 250L).sorted)
    // ambush 2: the winner is a MOR delete on a dir OUTSIDE the purge
    // scope — its dv must ride the rebased publish, not vanish
    VersionedTable.deleteMor(spark, root, col("id") === 275L) // dv on high dir again, v8
    val ops2 = new VersionedTableOps(new AmbushStore(() =>
      VersionedTable.deleteMor(spark, root, col("id") === 705L)))
    val v2 = ops2.purgeDeletes(spark, root)
    assert(v2 === Some(10))
    val snap2 = VersionedTable.snapshot(root, 10)
    assert(snap2.dvs.size === 1, "the winner's unscoped dv must survive")
    assert(ids(VersionedTable.read(spark, root)) ===
      ((0L until 300L) ++ (30L until 50L) ++ (700L until 710L))
        .filterNot(i => i == 250L || i == 275L || i == 705L).sorted)
    // a MOR delete landing ON a scoped dir still aborts the purge loudly
    VersionedTable.deleteMor(spark, root, col("id") === 101L) // v11
    val ops3 = new VersionedTableOps(new AmbushStore(() =>
      VersionedTable.deleteMor(spark, root, col("id") === 102L)))
    intercept[VersionedTable.ConcurrentScopeException] {
      ops3.purgeDeletes(spark, root)
    }
    assert(!ids(VersionedTable.read(spark, root)).exists(i => i == 101L || i == 102L),
      "both MOR deletes' state must survive the aborted purge")
  }

  test("a DML commit whose staging fails deletes everything it staged") {
    val root = freshRoot()
    VersionedTable.setTableProperties(root,
      Map(VersionedTable.CdfEnabledProp -> "true"))
    Seq((0L, 100L), (100L, 200L)).foreach { case (lo, hi) =>
      VersionedTable.commit(
        spark.range(lo, hi).toDF("id").withColumn("v", col("id") * 2),
        root, "append", statsCols = Seq("id"), bloomCols = Seq("id"))
    }
    val store = new BloomFailStore
    val ops = new VersionedTableOps(CommitStore.local, store)
    // every verb whose staging writes a bloom sidecar: COW rewrites of the
    // partially-hit high dir, or the added dir under the table's id bloom
    // (deleteMor stages no dir, so it writes no sidecar)
    val source = spark.range(150L, 250L).toDF("id").withColumn("v", lit(-1L))
    val verbs: Seq[(String, () => Any)] = Seq(
      "delete" -> (() => ops.delete(spark, root, col("id") >= 150L)),
      "update" -> (() => ops.update(spark, root, col("id") >= 150L,
        Map("v" -> lit(0L)))),
      "merge" -> (() => ops.merge(spark, root, source, "id")),
      "updateMor" -> (() => ops.updateMor(spark, root, col("id") >= 150L,
        Map("v" -> lit(0L)))),
      "mergeMor" -> (() => ops.mergeMor(spark, root, source, "id")))
    val leaks = verbs.map { case (name, run) =>
      val before = unreferenced(root)
      store.armed = true
      val e = intercept[java.io.IOException](run())
      assert(e.getMessage.contains("injected failure"), name)
      assert(VersionedTable.latestVersion(root) === Some(2),
        s"$name published despite the failure")
      name -> (unreferenced(root) -- before).toSeq.sorted
    }.filter(_._2.nonEmpty)
    assert(leaks.isEmpty, s"staged artifacts left behind: ${leaks.mkString("; ")}")
    // disarmed, the same store commits normally
    ops.mergeMor(spark, root, source, "id")
    assert(VersionedTable.latestVersion(root) === Some(3))
    assert(ids(VersionedTable.read(spark, root)) === (0L until 250L))
  }

  test("unscoped compact rebases over a disjoint concurrent append: BOTH land, content = serial") {
    val root = freshRoot()
    fragmentedTable(root)
    val before = VersionedTable.rebaseCount.get()
    val ops = new VersionedTableOps(new AmbushStore(() =>
      VersionedTable.commit(
        spark.range(500L, 520L).toDF("id").withColumn("v", col("id") * 2),
        root, "append", statsCols = Seq("id"))))
    val v = ops.compact(spark, root, statsCols = Seq("id"))
    assert(v === 6, "the append took 5, the full compact re-published at 6")
    assert(VersionedTable.rebaseCount.get() === before + 1)
    val appendDir = VersionedTable.snapshot(root, 5).dataDirs
      .filterNot(VersionedTable.snapshot(root, 4).dataDirs.toSet).head
    val snap = VersionedTable.snapshot(root, 6)
    assert(snap.dataDirs.size === 2 && snap.dataDirs.contains(appendDir),
      "every base dir folds into one; the winner's append rides along")
    assert(ids(VersionedTable.read(spark, root)) ===
      ((0L until 300L) ++ (30L until 50L) ++ (500L until 520L)).sorted)
  }

  test("unscoped optimizeZorder rebases over a disjoint concurrent append") {
    val root = freshRoot()
    fragmentedTable(root)
    val ops = new VersionedTableOps(new AmbushStore(() =>
      VersionedTable.commit(
        spark.range(500L, 520L).toDF("id").withColumn("v", col("id") * 2),
        root, "append", statsCols = Seq("id"))))
    val v = ops.optimizeZorder(spark, root,
      Seq(col("id") -> 300L, col("v") -> 600L), nDirs = 2, statsCols = Seq("id"))
    assert(v === 6)
    val appendDir = VersionedTable.snapshot(root, 5).dataDirs
      .filterNot(VersionedTable.snapshot(root, 4).dataDirs.toSet).head
    assert(VersionedTable.snapshot(root, 6).dataDirs.contains(appendDir))
    assert(ids(VersionedTable.read(spark, root)) ===
      ((0L until 300L) ++ (30L until 50L) ++ (500L until 520L)).sorted)
  }

  /** A data plane that delegates to the default store but, once armed,
    * throws on the SECOND promote of a staged partition dir — after the
    * first promote already landed a dir under its final name.
    */
  private final class PromoteFailStore extends DataStore {
    private val inner = DataStore.default
    @volatile var armed = false
    private var promotes = 0
    override def promoteDir(root: String, stagedRel: String, finalRel: String): Unit = {
      if (armed) {
        promotes += 1
        if (promotes == 2) {
          armed = false
          promotes = 0
          throw new java.io.IOException(s"injected failure promoting $stagedRel")
        }
      }
      inner.promoteDir(root, stagedRel, finalRel)
    }
    override def create(root: String, rel: String) = inner.create(root, rel)
    override def open(root: String, rel: String) = inner.open(root, rel)
    override def list(root: String, rel: String) = inner.list(root, rel)
    override def exists(root: String, rel: String) = inner.exists(root, rel)
    override def modifiedMs(root: String, rel: String) = inner.modifiedMs(root, rel)
    override def deleteTree(root: String, rel: String): Unit = inner.deleteTree(root, rel)
    override def deleteFile(root: String, rel: String): Unit = inner.deleteFile(root, rel)
    override def cloneTree(srcRoot: String, srcRel: String,
        dstRoot: String, dstRel: String): Unit =
      inner.cloneTree(srcRoot, srcRel, dstRoot, dstRel)
  }

  test("partitioned staging whose promote fails deletes its staging tree and every promoted dir") {
    val root = freshRoot()
    fragmentedTable(root) // v1..4
    VersionedTable.deleteMor(spark, root, col("id") === 10L)  // v5: dv on the low dir
    VersionedTable.deleteMor(spark, root, col("id") === 150L) // v6: dv on the mid dir
    val store = new PromoteFailStore
    val ops = new VersionedTableOps(CommitStore.local, store)
    // every verb that stages more than one partition dir: z-buckets, the
    // purge's per-dir rewrites, a COW delete partially hitting two dirs
    val verbs: Seq[(String, () => Any)] = Seq(
      "optimizeZorder" -> (() => ops.optimizeZorder(spark, root,
        Seq(col("id") -> 300L), nDirs = 4, statsCols = Seq("id"))),
      "purgeDeletes" -> (() => ops.purgeDeletes(spark, root)),
      "delete" -> (() => ops.delete(spark, root,
        col("id") === 20L || col("id") === 120L)))
    val leaks = verbs.map { case (name, run) =>
      val before = unreferenced(root)
      store.armed = true
      val e = intercept[java.io.IOException](run())
      assert(e.getMessage.contains("injected failure"), name)
      assert(VersionedTable.latestVersion(root) === Some(6),
        s"$name published despite the failure")
      name -> (unreferenced(root) -- before).toSeq.sorted
    }.filter(_._2.nonEmpty)
    assert(leaks.isEmpty, s"staged artifacts left behind: ${leaks.mkString("; ")}")
    assert(new File(root, "data").list().forall(!_.startsWith(".")),
      "a staging tree survived the failure")
    // disarmed, the same store commits normally
    assert(ops.purgeDeletes(spark, root) === Some(7))
    assert(ids(VersionedTable.read(spark, root)) ===
      ((0L until 300L) ++ (30L until 50L)).filterNot(i => i == 10L || i == 150L).sorted)
  }

  test("two separate JVMs: appender and compactor race; no row lost, both verbs land") {
    val root = freshRoot()
    fragmentedTable(root)
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(
      s"${System.getProperty("java.home")}/bin/java") ++ addOpens ++ Seq(
      "-Xmx2g", "-cp", System.getProperty("java.class.path"),
      "graft.MaintenanceRaceMain", root, "12")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    // parent streams appends while the child compacts — every append is a
    // fresh small dir, so the child always has fragments in scope
    val appended = (0 until 12).map { i =>
      VersionedTable.commit(
        spark.range(2000L + i * 10, 2010L + i * 10).toDF("id")
          .withColumn("v", col("id") * 2),
        root, "append", statsCols = Seq("id"))
      Thread.sleep(30)
      (2000L + i * 10) until (2010L + i * 10)
    }
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS), "race JVM hung")
    assert(p.exitValue() === 0, s"race JVM failed:\n${out.takeRight(4000)}")
    val line = out.linesIterator.find(_.startsWith("COMPACTED:"))
      .getOrElse(fail(s"no COMPACTED line in:\n${out.takeRight(2000)}"))
    val compacted = line.split("[: ]")(1).toInt
    assert(compacted >= 1, s"the compactor never landed a commit: $line")
    // exactly-once content: all 4 base commits + every appended row, no
    // dup, no loss — regardless of how the compacts interleaved
    assert(ids(VersionedTable.read(spark, root)) ===
      ((0L until 300L) ++ (30L until 50L) ++ appended.flatten).sorted)
    // both verbs in history
    val hist = VersionedTable.historySummary(root)
    assert(hist.count(_.operation == "append") === 16)
    assert(hist.count(_.operation == "optimize") === compacted)
  }
}
