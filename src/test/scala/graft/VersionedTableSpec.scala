package graft

import java.io.File
import java.nio.file.Files

import graft.sources.VersionedTable
import org.apache.spark.sql.functions._

/** Commit-log semantics: snapshot isolation, time travel, optimistic
  * concurrency, crash self-heal, vacuum safety.
  */
class VersionedTableSpec extends SparkTestBase {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_vt_test_").toString

  private def ids(root: String, asOf: Option[Int] = None): Set[Long] =
    VersionedTable.read(spark, root, asOf)
      .select("id").collect().map(_.getLong(0)).toSet

  /** Distinct data dirs the executed scans of `df` read. */
  private def dirsScanned(df: org.apache.spark.sql.DataFrame): Int =
    scannedFiles(df).map(_.replaceAll("/[^/]*$", "")).distinct.length

  test("append accumulates; every historical version stays exactly readable") {
    val root = freshRoot()
    val v1 = VersionedTable.commit(spark.range(0, 5).toDF("id"), root)
    val v2 = VersionedTable.commit(spark.range(5, 8).toDF("id"), root)
    assert((v1, v2) === (1, 2))
    assert(ids(root, Some(1)) === (0L until 5L).toSet)
    assert(ids(root, Some(2)) === (0L until 8L).toSet)
    assert(ids(root) === (0L until 8L).toSet) // latest
  }

  test("overwrite starts a fresh snapshot without touching history") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 5).toDF("id"), root)
    VersionedTable.commit(spark.range(100, 103).toDF("id"), root, "overwrite")
    assert(ids(root, Some(1)) === (0L until 5L).toSet)
    assert(ids(root, Some(2)) === Set(100L, 101L, 102L))
    val h = VersionedTable.history(root)
    assert(h.map(_.operation) === Seq("append", "overwrite"))
    assert(h.map(_.rows) === Seq(5L, 3L))
  }

  test("a concurrently-claimed version fails with a commit conflict") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 3).toDF("id"), root)
    // CAS form: this transaction read latest=1 and targets v2...
    val target = VersionedTable.latestVersion(root).get + 1
    // ...but another writer claims v2 first.
    val stolen = new File(root, "_commits/v00002.manifest")
    Files.write(stolen.toPath,
      "version=2\nparent=1\noperation=append\nrows=0\nschema=id\ndir=data/v00001\n"
        .getBytes("UTF-8"))
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.commit(spark.range(3, 6).toDF("id"), root,
        expectedVersion = Some(target))
    }
    // The loser must not have changed what readers see at the stolen version.
    assert(ids(root, Some(1)) === (0L until 3L).toSet)
  }

  test("an orphan data dir from a crashed commit is invisible and harmless") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 3).toDF("id"), root)
    // Simulate a crash: a v2 attempt's data dir written, manifest never published.
    spark.range(900, 950).toDF("id").write
      .parquet(new File(root, "data/v00002-deadbeef").getPath)
    assert(VersionedTable.latestVersion(root) === Some(1))
    assert(ids(root) === (0L until 3L).toSet)
    // The next commit takes version 2 under its OWN unique dir; the orphan
    // stays unreferenced (vacuum reaps it after the grace window).
    VersionedTable.commit(spark.range(3, 6).toDF("id"), root)
    assert(ids(root) === (0L until 6L).toSet)
  }

  test("vacuum deletes only unretained dirs and the latest stays readable") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 3).toDF("id"), root)
    VersionedTable.commit(spark.range(3, 6).toDF("id"), root)
    VersionedTable.commit(spark.range(100, 104).toDF("id"), root, "overwrite")
    val deleted = VersionedTable.vacuum(root, retainLast = 1)
    // v3 is an overwrite referencing only its own dir — v1/v2 dirs die
    // (regardless of age: their manifests are below the cutoff).
    assert(deleted.size === 2 &&
      deleted.sorted.zip(Seq("data/v00001-", "data/v00002-"))
        .forall { case (d, p) => d.startsWith(p) }, s"deleted = $deleted")
    assert(ids(root) === (100L until 104L).toSet)
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, root, Some(1)).collect()
    }
  }

  test("vacuum keeps a dir any retained snapshot still references") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 3).toDF("id"), root)
    VersionedTable.commit(spark.range(3, 6).toDF("id"), root) // v2 references v1's dir
    val deleted = VersionedTable.vacuum(root, retainLast = 1)
    assert(deleted.isEmpty, s"retained snapshot's dirs deleted: $deleted")
    assert(ids(root) === (0L until 6L).toSet)
  }

  test("reading an empty table errors loudly") {
    val e = intercept[IllegalArgumentException] {
      VersionedTable.read(spark, freshRoot())
    }
    assert(e.getMessage.contains("empty versioned table"))
  }

  test("change feed reads ONLY the delta dirs, never the base snapshot") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 1000).toDF("id"), root)
    VersionedTable.commit(spark.range(1000, 1010).toDF("id"), root)
    val delta = VersionedTable.changes(spark, root, 1, 2)
    assert(delta.select("id").collect().map(_.getLong(0)).toSet ===
      (1000L until 1010L).toSet)
    val files = delta.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("data/v00002")),
      s"delta scan touched non-delta files: ${files.mkString(",")}")
    // Range from table birth = everything.
    assert(VersionedTable.changes(spark, root, 0, 2).count() === 1010)
  }

  test("change feed crosses an OPTIMIZE as an empty delta (dataChange=false)") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 50).toDF("id"), root)   // v1
    VersionedTable.commit(spark.range(50, 60).toDF("id"), root)  // v2
    VersionedTable.compact(spark, root)                          // v3: re-layout
    VersionedTable.commit(spark.range(60, 70).toDF("id"), root)  // v4
    assert(VersionedTable.snapshot(root, 3).operation === "optimize")
    // the optimize alone is an empty delta, never a resync
    assert(VersionedTable.changes(spark, root, 2, 3).count() === 0L)
    // a range crossing it serves EXACTLY the appended rows — the rows an
    // earlier append added plus the post-optimize append, no duplicates
    assert(VersionedTable.changes(spark, root, 1, 4)
      .collect().map(_.getLong(0)).toSet === (50L until 70L).toSet)
    // from birth: everything, still exactly once
    assert(VersionedTable.changes(spark, root, 0, 4).count() === 70L)
  }

  test("change feed refuses to cross an overwrite") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 5).toDF("id"), root)
    VersionedTable.commit(spark.range(9, 12).toDF("id"), root, "overwrite")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.changes(spark, root, 1, 2)
    }
    assert(e.getMessage.contains("non-append"))
  }

  test("incremental refresh over the change feed equals the full recompute") {
    import graft.operators.IncrementalAgg
    val root = freshRoot()
    val all = spark.range(0, 300).select(
      col("id"), (col("id") % 7).as("grp"), (col("id") * 3).as("v"))
    (0 to 2).foreach(r => VersionedTable.commit(all.filter(col("id") % 3 === r), root))
    val deltas = (0 to 2).map(v => VersionedTable.changes(spark, root, v, v + 1))
    val inc = IncrementalAgg.refreshAll(deltas, Seq("grp"), Seq("v"))
    val full = IncrementalAgg.aggregate(all, Seq("grp"), Seq("v"))
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty)
  }

  test("monoid merge treats an absent group as zero on either side") {
    import graft.operators.IncrementalAgg
    val a = spark.range(0, 3).select(col("id").as("grp"),
      lit(2L).as("n_rows"), lit(10L).as("sum_v"))
    val b = spark.range(2, 5).select(col("id").as("grp"),
      lit(1L).as("n_rows"), lit(5L).as("sum_v"))
    val m = IncrementalAgg.merge(a, b, Seq("grp")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m === Map(0L -> ((2L, 10L)), 1L -> ((2L, 10L)),
      2L -> ((3L, 15L)), 3L -> ((1L, 5L)), 4L -> ((1L, 5L))))
  }

  test("compaction collapses many appends into one dir with identical content") {
    val root = freshRoot()
    (0 until 5).foreach(i =>
      VersionedTable.commit(spark.range(i * 10, i * 10 + 10).toDF("id"), root))
    assert(VersionedTable.snapshot(root, 5).dataDirs.size === 5)
    val v = VersionedTable.compact(spark, root)
    assert(v === 6)
    val compactDirs = VersionedTable.snapshot(root, 6).dataDirs
    assert(compactDirs.size === 1 && compactDirs.head.startsWith("data/v00006-"))
    assert(ids(root) === (0L until 50L).toSet)
    assert(ids(root, Some(5)) === (0L until 50L).toSet) // history intact
  }

  test("idempotentCommit absorbs a replayed batch: one commit, no dup rows") {
    val root = freshRoot()
    assert(VersionedTable.idempotentCommit(spark.range(0, 5).toDF("id"), root, 1))
    // At-least-once redelivery of the same batch targets the same version.
    assert(!VersionedTable.idempotentCommit(spark.range(0, 5).toDF("id"), root, 1))
    assert(!VersionedTable.idempotentCommit(spark.range(0, 5).toDF("id"), root, 1))
    assert(VersionedTable.latestVersion(root) === Some(1))
    assert(VersionedTable.read(spark, root).count() === 5)
    // The next batch proceeds normally.
    assert(VersionedTable.idempotentCommit(spark.range(5, 8).toDF("id"), root, 2))
    assert(ids(root) === (0L until 8L).toSet)
  }

  test("versionedIngest: streamed rows land exactly once through the commit log") {
    val root = freshRoot()
    val out = graft.streaming.StreamingFeatures.versionedIngest(
      spark, s"$sf0001/events.parquet", root)
    val expected = graft.sources.StreamSources.projectTrades(
      graft.core.Tables.table(spark, sf0001, "events"))
    assert(out.count() === expected.count(), "replay duplicated or dropped rows")
    assert(out.select("trade_id").distinct().count() ===
      expected.select("trade_id").distinct().count())
  }

  test("additive schema evolution: later columns survive, older rows read null") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 3).toDF("id"), root)
    VersionedTable.commit(
      spark.range(3, 5).select(col("id"), (col("id") * 10).as("extra")), root)
    val latest = VersionedTable.read(spark, root)
    assert(latest.columns.toSeq === Seq("id", "extra"))
    val byId = latest.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(byId === Map(0L -> None, 1L -> None, 2L -> None,
      3L -> Some(30L), 4L -> Some(40L)))
    // Time travel to v1 still sees the original narrow schema.
    assert(VersionedTable.read(spark, root, Some(1)).columns.toSeq === Seq("id"))
  }

  test("restore rolls content back as a NEW version; bad history stays auditable") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 5).toDF("id"), root)
    VersionedTable.commit(spark.range(900, 999).toDF("id"), root, "overwrite") // bad deploy
    val v = VersionedTable.restore(spark, root, 1)
    assert(v === 3)
    assert(ids(root) === (0L until 5L).toSet)
    assert(ids(root, Some(2)) === (900L until 999L).toSet) // auditable
  }

  test("cloneTo forks a snapshot zero-copy; refusals are loud") {
    val src = freshRoot()
    val dst = freshRoot() + "/c"
    VersionedTable.commit(spark.range(0, 5).toDF("id"), src,
      statsCols = Seq("id"), bloomCols = Seq("id"))
    VersionedTable.commit(spark.range(5, 9).toDF("id"), src)
    assert(VersionedTable.cloneTo(spark, src, dst, Some(1)) === 1)
    assert(ids(dst) === (0L until 5L).toSet)
    val snap = VersionedTable.snapshot(dst, 1)
    assert(snap.operation === "clone" && snap.parent === 0)
    // schema anchor AND skipping metadata ride over verbatim (the clone
    // prunes like the source from its first read); txn marks do NOT
    val srcSnap = VersionedTable.snapshot(src, 1)
    assert(snap.schemaJson.isDefined && snap.txns.isEmpty)
    assert(snap.dirStats.nonEmpty && snap.dirStats === srcSnap.dirStats)
    assert(snap.dirBlooms.nonEmpty && snap.dirBlooms === srcSnap.dirBlooms)
    // the bloom sidecar FILE rode over too (point probes work on the clone)
    assert(snap.dirBlooms.forall(b => new java.io.File(dst, b.path).isFile))
    // a non-empty destination is refused
    intercept[IllegalArgumentException](VersionedTable.cloneTo(spark, src, dst))
    // a vacuumed target version is refused, loudly
    VersionedTable.commit(spark.range(9, 12).toDF("id"), src, "overwrite")
    VersionedTable.vacuum(src, retainLast = 1, orphanGraceMs = 0L)
    intercept[IllegalArgumentException](
      VersionedTable.cloneTo(spark, src, freshRoot() + "/c2", Some(1)))
    // appends on the clone continue ITS history, blind to the source
    VersionedTable.commit(spark.range(100, 103).toDF("id"), dst)
    assert(ids(dst) === ((0L until 5L) ++ (100L until 103L)).toSet)
    assert(ids(src) === (9L until 12L).toSet)
  }

  test("wall-clock time travel resolves the latest version at-or-before ts") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 3).toDF("id"), root)
    val t1 = VersionedTable.snapshot(root, 1).committedMs
    assert(t1 > 0L)
    Thread.sleep(5)
    VersionedTable.commit(spark.range(3, 6).toDF("id"), root)
    val t2 = VersionedTable.snapshot(root, 2).committedMs
    assert(VersionedTable.versionAsOf(root, t1 - 1) === None)
    assert(VersionedTable.versionAsOf(root, t1) === Some(1))
    assert(VersionedTable.versionAsOf(root, t2 + 1000) === Some(2))
    assert(ids(root, VersionedTable.versionAsOf(root, t1)) === (0L until 3L).toSet)
  }

  test("manifest records schema and parent lineage") {
    val root = freshRoot()
    VersionedTable.commit(
      spark.range(0, 2).select(col("id"), (col("id") * 2).as("twice")), root)
    VersionedTable.commit(
      spark.range(2, 4).select(col("id"), (col("id") * 2).as("twice")), root)
    val s2 = VersionedTable.snapshot(root, 2)
    assert(s2.parent === 1)
    assert(s2.schemaCols === Seq("id", "twice"))
    assert(s2.dataDirs.size === 2 &&
      s2.dataDirs.zip(Seq("data/v00001-", "data/v00002-"))
        .forall { case (d, p) => d.startsWith(p) })
  }

  // --- CommitStore seam: the race, the grace window, the recursive reap ---

  /** Race `n` writers at the same initial version through `table`; each
    * retries on conflict until it lands. Returns (committed versions,
    * conflict count).
    */
  private def raceWriters(table: graft.sources.VersionedTableOps,
      root: String, n: Int): (Seq[Int], Int) = {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val conflicts = new AtomicInteger(0)
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val futures = (0 until n).map { i =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        override def call(): Int = {
          val df = spark.range(i * 100, i * 100 + 10).toDF("id")
          gate.await()
          var committed = -1
          while (committed < 0) {
            val target = table.latestVersion(root).getOrElse(0) + 1
            try committed = table.commit(df, root, "append", Some(target))
            catch {
              case _: VersionedTable.CommitConflictException =>
                conflicts.incrementAndGet()
            }
          }
          committed
        }
      })
    }
    gate.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "race writers hung")
    (futures.map(_.get()), conflicts.get())
  }

  test("two racing writers: one wins per version, loser retries, all rows survive") {
    val root = freshRoot()
    val (versions, conflicts) = raceWriters(VersionedTable, root, 2)
    assert(versions.sorted === Seq(1, 2), s"versions = $versions")
    assert(conflicts >= 0) // timing-dependent; correctness is in the content
    // Winner's data was never clobbered by the loser: both rows sets present.
    assert(ids(root) === ((0L until 10L) ++ (100L until 110L)).toSet)
    // Every dir any manifest references still exists and is complete.
    VersionedTable.history(root).foreach { s =>
      s.dataDirs.foreach(d => assert(new File(root, d).isDirectory, s"$d missing"))
    }
  }

  test("conditional-put store (object-store model) runs the same protocol") {
    val table = new graft.sources.VersionedTableOps(
      new graft.sources.InMemoryCommitStore)
    val root = freshRoot()
    val (versions, _) = raceWriters(table, root, 3)
    assert(versions.sorted === Seq(1, 2, 3), s"versions = $versions")
    val got = table.read(spark, root).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(got === ((0L until 10L) ++ (100L until 110L) ++ (200L until 210L)).toSet)
    // Manifests live in the store, not the filesystem.
    assert(!new File(root, "_commits").exists())
  }

  test("O_CREAT|O_EXCL store (exclusive create) runs the same protocol") {
    val table = new graft.sources.VersionedTableOps(
      new graft.sources.ExclusiveCreateCommitStore)
    val root = freshRoot()
    val (versions, _) = raceWriters(table, root, 3)
    assert(versions.sorted === Seq(1, 2, 3), s"versions = $versions")
    val got = table.read(spark, root).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(got === ((0L until 10L) ++ (100L until 110L) ++ (200L until 210L)).toSet)
  }

  test("O_EXCL store: an incomplete frame reads as not-committed (torn-write window)") {
    import java.nio.charset.StandardCharsets
    val store = new graft.sources.ExclusiveCreateCommitStore
    val root = freshRoot()
    assert(store.putIfAbsent(root, 1, "version=1\nrows=0\n"))
    assert(store.get(root, 1).contains("version=1\nrows=0\n"))
    // simulate a writer crashed INSIDE its write window: claim exists,
    // frame short of its declared length
    Files.write(new File(root, "_commits/v00002.manifest").toPath,
      "len=100\nversion=2\n".getBytes(StandardCharsets.UTF_8))
    assert(store.get(root, 2).isEmpty, "a torn frame must read as not-committed")
    assert(store.versions(root) === Seq(1), "versions() must skip torn claims")
    // the wedged claim blocks re-publication of that version number (the
    // documented multipart-debris analogue; repair = delete the torn file)
    assert(!store.putIfAbsent(root, 2, "version=2\n"))
    store.delete(root, 2)
    assert(store.putIfAbsent(root, 2, "version=2\n"))
    assert(store.versions(root).sorted === Seq(1, 2))
  }

  /** Two forked JVMs hammer one root through `storeKind`'s CommitStore;
    * asserts every contended version has exactly one INTACT winner. The
    * in-thread race can't catch cross-process bugs (the r11 thread-id
    * tmp-name collision was exactly one: both JVMs' main threads share
    * id 1) — this can.
    */
  private def twoJvmRace(storeKind: String,
      store: graft.sources.CommitStore): Unit = {
    val raceRoot = freshRoot()
    def launch(id: String): Process =
      new ProcessBuilder(
        s"${System.getProperty("java.home")}/bin/java",
        "-cp", System.getProperty("java.class.path"),
        "graft.CommitRaceMain", storeKind, raceRoot, id, "20")
        .redirectErrorStream(true).start()
    val (pa, pb) = (launch("A"), launch("B"))
    def wonOf(p: Process): Set[Int] = {
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS), "race JVM hung")
      assert(p.exitValue() === 0, s"race JVM failed:\n$out")
      out.linesIterator.find(_.startsWith("WON:"))
        .getOrElse(fail(s"no WON line in:\n$out"))
        .stripPrefix("WON:").split(",").map(_.toInt).toSet
    }
    val (wa, wb) = (wonOf(pa), wonOf(pb))
    // one winner per version, no gaps: 40 wins = versions 1..40 exactly
    assert((wa & wb).isEmpty, s"both JVMs claim: ${(wa & wb).toSeq.sorted}")
    assert((wa ++ wb) === (1 to 40).toSet, s"gaps/overruns: ${(wa ++ wb).toSeq.sorted}")
    // every winner's manifest is INTACT — the loser never clobbered it
    // (the r11 ADVICE scenario: shared tmp path let A link B's body)
    for (v <- 1 to 40) {
      val body = store.get(raceRoot, v).getOrElse(fail(s"version $v unreadable"))
      val owner = if (wa.contains(v)) "A" else "B"
      assert(body.startsWith(s"writer=$owner\nversion=$v\n"),
        s"version $v body owned by wrong writer: ${body.take(40)}")
      assert(body.endsWith("x" * 4096), s"version $v body truncated/corrupted")
    }
    // no leftover tmp files from losing attempts
    val tmps = Option(new File(raceRoot, "_commits").listFiles()).toSeq.flatten
      .filter(_.getName.contains(".tmp"))
    assert(tmps.isEmpty, s"leaked tmp files: ${tmps.map(_.getName).mkString(",")}")
  }

  test("two separate JVMs race on one LocalCommitStore: every version one intact winner") {
    twoJvmRace("local", new graft.sources.LocalCommitStore)
  }

  test("two separate JVMs race on the O_EXCL store: every version one intact winner") {
    twoJvmRace("excl", new graft.sources.ExclusiveCreateCommitStore)
  }

  test("vacuum grace window protects an in-flight commit's fresh dir") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 3).toDF("id"), root)
    // An in-flight v2: parquet written, manifest not yet published.
    val inflight = new File(root, "data/v00002-aaaabbbb")
    spark.range(50, 60).toDF("id").write.parquet(inflight.getPath)
    // Default grace: the fresh unreferenced dir must NOT be reaped.
    assert(VersionedTable.vacuum(root, retainLast = 1).isEmpty)
    assert(inflight.isDirectory, "vacuum reaped an in-flight commit's data")
    // Aged out (grace 0): now it is a dead orphan and dies.
    val reaped = VersionedTable.vacuum(root, retainLast = 1, orphanGraceMs = 0L)
    assert(reaped === Seq("data/v00002-aaaabbbb"))
    assert(!inflight.exists())
    assert(ids(root) === (0L until 3L).toSet)
  }

  test("vacuum reaps nested orphan trees (crashed _temporary) recursively") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 3).toDF("id"), root)
    val orphan = new File(root, "data/v00002-cafecafe")
    val nested = new File(orphan, "_temporary/0/task_1")
    assert(nested.mkdirs())
    Files.write(new File(nested, "part-0").toPath, Array[Byte](1, 2, 3))
    val reaped = VersionedTable.vacuum(root, retainLast = 1, orphanGraceMs = 0L)
    assert(reaped === Seq("data/v00002-cafecafe"))
    assert(!orphan.exists(), "nested orphan survived vacuum")
  }

  test("manifest stats prune dirs: only intersecting dirs are ever scanned") {
    val root = freshRoot()
    def slice(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
    VersionedTable.commit(slice(0, 100), root, "append", statsCols = Seq("id"))
    VersionedTable.commit(slice(100, 200), root, "append", statsCols = Seq("id"))
    VersionedTable.commit(slice(200, 300), root, "append", statsCols = Seq("id"))
    // dir-grain hulls recorded and accumulated across appends (per-FILE
    // fstats entries ride along; dir admission uses only these)
    val snap = VersionedTable.snapshot(root, 3)
    assert(snap.dirStats.filter(_.file.isEmpty)
      .map(s => (s.col, s.min, s.max)).sortBy(_._2) ===
      Seq(("id", 0.0, 99.0), ("id", 100.0, 199.0), ("id", 200.0, 299.0)))
    assert(snap.fstatsRefs.nonEmpty && snap.dataDirs.exists(d =>
      VersionedTable.fileGrainStats(root, snap, d).nonEmpty),
      "commits must also record per-file hulls (sidecar-referenced)")
    // a range inside the middle dir scans ONLY that dir
    val pruned = VersionedTable.read(spark, root).filter(col("id").between(120, 180))
    val files = scannedFiles(pruned)
    assert(files.nonEmpty && files.forall(_.contains("data/v00002")),
      s"pruned scan touched non-matching dirs: ${files.mkString(",")}")
    // and the pruned frame equals the plain filtered read
    assert(pruned.collect().map(_.getLong(0)).toSet === (120L to 180L).toSet)
    // a range touching two dirs keeps both, skips the third
    val two = scannedFiles(VersionedTable.read(spark, root).filter(col("id").between(90, 110)))
    assert(two.forall(f => f.contains("data/v00001") || f.contains("data/v00002")))
    // a range outside every dir yields an empty frame with the schema
    val none = VersionedTable.read(spark, root).filter(col("id").between(1000, 2000))
    assert(none.columns.toSeq === Seq("id") && none.count() === 0L)
  }

  test("pruning is conservative: dirs without stats are always read") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 100).toDF("id"), root) // NO stats
    VersionedTable.commit(spark.range(100, 200).toDF("id"), root, "append",
      statsCols = Seq("id"))
    val pruned = VersionedTable.read(spark, root).filter(col("id").between(150, 160))
    // v2 intersects; v1 has no stats for id -> must be read anyway
    assert(scannedFiles(pruned).exists(_.contains("data/v00001")),
      "a statless dir was skipped — pruning must be conservative")
    assert(pruned.count() === 11L)
    // timestamps record micros images
    val tsRoot = freshRoot()
    VersionedTable.commit(
      spark.range(0, 10).select(expr("timestamp_micros(1704067200000000 + id * 1000000)").as("t")),
      tsRoot, "append", statsCols = Seq("t"))
    val s = VersionedTable.snapshot(tsRoot, 1).dirStats.head
    assert(s.min === 1704067200000000.0 && s.max === 1704067209000000.0)
  }

  test("bloom sidecars skip definitely-absent dirs on point reads") {
    val root = freshRoot()
    def slice(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
    VersionedTable.commit(slice(0, 100), root, "append", bloomCols = Seq("id"))
    VersionedTable.commit(slice(100, 200), root, "append", bloomCols = Seq("id"))
    VersionedTable.commit(slice(200, 300), root, "append", bloomCols = Seq("id"))
    val snap = VersionedTable.snapshot(root, 3)
    assert(snap.dirBlooms.size === 3 && snap.dirBlooms.forall(_.col === "id"))
    assert(snap.dirBlooms.forall(b => new File(root, b.path).exists()),
      "every manifest bloom line must point at a live sidecar")
    // a point key in the middle dir: its dir survives; at least one
    // definitely-absent dir is skipped (bloom answers are deterministic
    // for a fixed corpus, and false positives only ever ADD dirs)
    val pointed = VersionedTable.read(spark, root).filter(col("id") === 150L)
    val files = scannedFiles(pointed)
    assert(files.exists(_.contains("data/v00002")), "the containing dir must survive")
    assert(files.length < scannedFiles(VersionedTable.read(spark, root)).length,
      s"no dir was bloom-skipped: ${files.mkString(",")}")
    // value-transparent: pruned + predicate == plain filter
    assert(pointed.count() === 1L)
    // an absent key prunes to an empty-or-small frame but NEVER loses rows
    assert(VersionedTable.read(spark, root).filter(col("id") === 99999L).count() === 0L)
    // string keys probe through mightContainString
    val sRoot = freshRoot()
    VersionedTable.commit(
      spark.range(0, 50).selectExpr("concat('k', id) AS k"), sRoot,
      "append", bloomCols = Seq("k"))
    VersionedTable.commit(
      spark.range(50, 100).selectExpr("concat('k', id) AS k"), sRoot,
      "append", bloomCols = Seq("k"))
    val sPoint = VersionedTable.read(spark, sRoot).filter(col("k") === "k75")
    assert(scannedFiles(sPoint).forall(_.contains("data/v00002")),
      "the string probe must bloom-skip the dir without k75")
    assert(sPoint.count() === 1L)
  }

  test("point reads are conservative: bloomless dirs always read; vacuum reaps sidecars") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 100).toDF("id"), root) // NO bloom
    VersionedTable.commit(spark.range(100, 200).toDF("id"), root, "append",
      bloomCols = Seq("id"))
    // key lives in the bloomless dir: it must be read regardless
    val pointed = VersionedTable.read(spark, root).filter(col("id") === 50L)
    assert(pointed.count() === 1L,
      "a bloomless dir was skipped — point reads must be conservative")
    // overwrite + vacuum: the dead dirs' sidecars die with them
    VersionedTable.commit(spark.range(200, 300).toDF("id"), root, "overwrite",
      bloomCols = Seq("id"))
    VersionedTable.vacuum(root, retainLast = 1, orphanGraceMs = 0L)
    val bloomFiles = Option(new File(root, "_blooms").listFiles()).toSeq.flatten
    assert(bloomFiles.size === 1,
      s"vacuum left orphan sidecars: ${bloomFiles.map(_.getName).mkString(",")}")
    val live = VersionedTable.snapshot(root, 3).dirBlooms
    assert(live.size === 1 && new File(root, live.head.path).exists())
  }

  test("change-feed cursor: catch-up in one read, redelivery on crash, resync past overwrite") {
    import graft.sources.ChangeFeedCursor
    val root = freshRoot()
    val cursor = s"$root/_consumers/c.v"
    VersionedTable.commit(spark.range(0, 10).toDF("id"), root)
    VersionedTable.commit(spark.range(10, 20).toDF("id"), root)
    // a consumer two versions behind catches up in ONE delta read
    var seen = Set.empty[Long]
    val r1 = ChangeFeedCursor.processNew(spark, root, cursor) { (df, from, to) =>
      assert((from, to) === (0, 2))
      seen ++= df.collect().map(_.getLong(0))
    }
    assert(r1.contains((0, 2)) && seen === (0L until 20L).toSet)
    assert(ChangeFeedCursor.lastApplied(cursor) === 2)
    // crash BETWEEN apply and cursor advance: the same range redelivers
    VersionedTable.commit(spark.range(20, 30).toDF("id"), root)
    intercept[RuntimeException] {
      ChangeFeedCursor.processNew(spark, root, cursor) { (_, _, _) =>
        throw new RuntimeException("crash mid-apply")
      }
    }
    assert(ChangeFeedCursor.lastApplied(cursor) === 2, "cursor must not advance past a failed apply")
    val r2 = ChangeFeedCursor.processNew(spark, root, cursor) { (df, _, _) =>
      seen ++= df.collect().map(_.getLong(0))
    }
    assert(r2.contains((2, 3)) && seen === (0L until 30L).toSet)
    // an overwrite breaks the additive feed: refuse loudly, cursor untouched
    VersionedTable.commit(spark.range(100, 110).toDF("id"), root, "overwrite")
    intercept[IllegalArgumentException] {
      ChangeFeedCursor.processNew(spark, root, cursor)((_, _, _) => ())
    }
    assert(ChangeFeedCursor.lastApplied(cursor) === 3)
    // resync re-derives from the snapshot and advances past the overwrite
    var resynced = Set.empty[Long]
    val v = ChangeFeedCursor.resync(spark, root, cursor) { df =>
      resynced = df.collect().map(_.getLong(0)).toSet
    }
    assert(v === 4 && resynced === (100L until 110L).toSet)
    assert(ChangeFeedCursor.processNew(spark, root, cursor)((_, _, _) => ()).isEmpty)
  }

  test("composed skipping: a range∧point probe touches only dirs both tiers admit") {
    val root = freshRoot()
    // 3 time-thirds x 2 key-halves = 6 dirs; id carries range stats, key a bloom
    def slice(lo: Long, hi: Long, half: Int) =
      spark.range(lo, hi).select(col("id"),
        concat(lit("g"), col("id") % 2).as("key"))
        .filter(col("id") % 2 === half)
    for (third <- 0 to 2; half <- 0 to 1)
      VersionedTable.commit(slice(third * 100, third * 100 + 100, half), root,
        "append", statsCols = Seq("id"), bloomCols = Seq("key"))
    // probe: middle third AND key 'g0' (only even ids carry g0)
    val probed = VersionedTable.read(spark, root)
      .filter(col("id").between(120, 180) && col("key") === "g0")
    val files = scannedFiles(probed)
    // the range tier must dismiss the four off-third dirs...
    assert(files.nonEmpty && files.forall(f =>
      f.contains("data/v00003") || f.contains("data/v00004")),
      s"range tier leaked an off-third dir: ${files.mkString(",")}")
    // ...and the bloom tier the odd half (false positives only ever ADD dirs,
    // but a 100-key 1% bloom asked for a key it never saw is deterministic
    // for this fixed corpus and distinguishes the halves here)
    assert(files.length < scannedFiles(VersionedTable.read(spark, root)).length / 2,
      s"bloom tier skipped nothing: ${files.mkString(",")}")
    // value-transparent: probed == plain filter
    val got = probed.select("id").collect().map(_.getLong(0)).toSet
    assert(got === (120L to 180L by 2).toSet)
    // an impossible conjunction yields an empty frame with the full schema,
    // scanning nothing
    val none = VersionedTable.read(spark, root)
      .filter(col("id").between(5000, 6000) && col("key") === "g0")
    assert(none.columns.toSeq === Seq("id", "key") && scannedFiles(none).isEmpty)
  }

  test("a numeric point probe uses the min/max tier even without a bloom") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 100).toDF("id"), root, "append",
      statsCols = Seq("id"))
    VersionedTable.commit(spark.range(100, 200).toDF("id"), root, "append",
      statsCols = Seq("id"))
    val probed = VersionedTable.read(spark, root).filter(col("id") === 150L)
    val files = scannedFiles(probed)
    assert(files.nonEmpty && files.forall(_.contains("data/v00002")),
      s"stats tier did not dismiss the off-range dir for a point: ${files.mkString(",")}")
    assert(probed.count() === 1L)
  }

  test("keep-only pruned reads carry the union schema; empty keep reads no pruned dir") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 100).toDF("id"), root, "append",
      statsCols = Seq("id"))
    VersionedTable.commit(
      spark.range(100, 200).select(col("id"), (col("id") * 10).as("extra")),
      root, "append", statsCols = Seq("id"))
    // keep = v1 only; the widened column must still appear (null), not vanish
    val kept = VersionedTable.read(spark, root).filter(col("id").between(10, 20))
    assert(scannedFiles(kept).forall(_.contains("data/v00001")))
    assert(kept.columns.toSeq === Seq("id", "extra"),
      "keep-only read dropped a column present only in a skipped dir")
    assert(kept.filter(col("id") === 15L).select("extra").head().isNullAt(0))
    // empty keep: schema from the manifest anchor, no file of any dir read
    val none = VersionedTable.read(spark, root).filter(col("id").between(9999, 99999))
    assert(none.columns.toSeq === Seq("id", "extra") && none.count() === 0L)
    assert(scannedFiles(none).isEmpty,
      "the empty-keep frame must not scan the pruned dirs")
  }

  test("idempotentCommit and compact thread bloom/stats sidecars through") {
    val root = freshRoot()
    assert(VersionedTable.idempotentCommit(spark.range(0, 50).toDF("id"), root, 1,
      statsCols = Seq("id"), bloomCols = Seq("id")))
    val s1 = VersionedTable.snapshot(root, 1)
    assert(s1.dirStats.nonEmpty && s1.dirBlooms.nonEmpty,
      "a streaming sink commit dropped its skipping metadata")
    assert(new File(root, s1.dirBlooms.head.path).exists())
    VersionedTable.commit(spark.range(50, 100).toDF("id"), root, "append",
      statsCols = Seq("id"), bloomCols = Seq("id"))
    val v = VersionedTable.compact(spark, root,
      statsCols = Seq("id"), bloomCols = Seq("id"))
    val sc = VersionedTable.snapshot(root, v)
    assert(sc.dataDirs.size === 1 && sc.dirStats.count(_.file.isEmpty) === 1 &&
      sc.dirBlooms.size === 1,
      "compaction dropped bloom sidecar coverage for the compacted dir")
    assert(new File(root, sc.dirBlooms.head.path).exists())
  }

  test("a consumer behind a vacuumed range fails loudly; resync recovers exactly") {
    import graft.sources.ChangeFeedCursor
    val root = freshRoot()
    val cursor = s"$root/_consumers/c.v"
    (0 until 5).foreach(i =>
      VersionedTable.commit(spark.range(i * 10, i * 10 + 10).toDF("id"), root))
    // consume only v1, then fall far behind
    var state = Set.empty[Long]
    ChangeFeedCursor.processNew(spark, root, cursor, upTo = Some(1)) { (df, _, _) =>
      state ++= df.collect().map(_.getLong(0))
    }
    assert(ChangeFeedCursor.lastApplied(cursor) === 1 && state === (0L until 10L).toSet)
    // vacuum keeps only the last 2 versions: the consumer's range is gone
    VersionedTable.vacuum(root, retainLast = 2, orphanGraceMs = 0L)
    val e = intercept[IllegalArgumentException] {
      ChangeFeedCursor.processNew(spark, root, cursor)((_, _, _) => ())
    }
    assert(e.getMessage.contains("no such version"),
      s"expected the missing-version error, got: ${e.getMessage}")
    assert(ChangeFeedCursor.lastApplied(cursor) === 1, "cursor moved on a failed read")
    // the documented remedy: resync re-derives from the snapshot
    val v = ChangeFeedCursor.resync(spark, root, cursor) { df =>
      state = df.collect().map(_.getLong(0)).toSet
    }
    assert(v === 5)
    val full = VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSet
    assert(state === full, "resynced consumer state must equal the full recompute")
    assert(ChangeFeedCursor.processNew(spark, root, cursor)((_, _, _) => ()).isEmpty)
  }

  // ---- streaming subscription over the change feed ----------------------

  /** One AvailableNow run of the change-feed source over `root`, folding
    * each micro-batch through `apply(batch, batchId)`.
    */
  private def subscribeOnce(root: String, ckpt: String)
      (apply: (org.apache.spark.sql.DataFrame, Long) => Unit): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val q = spark.readStream.format("graft-changefeed").option("root", root).load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        apply(batch.toDF(), id)
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination()
  }

  test("change-feed maxBytesPerTrigger: a fat commit drains alone, slim deltas share a batch") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 10000).toDF("id"), root) // fat
    VersionedTable.commit(spark.range(10000, 10010).toDF("id"), root) // slim
    VersionedTable.commit(spark.range(10010, 10020).toDF("id"), root) // slim
    def deltaBytes(v: Int): Long = {
      val prev = if (v <= 1) Set.empty[String]
        else VersionedTable.snapshot(root, v - 1).dataDirs.toSet
      VersionedTable.snapshot(root, v).dataDirs.filterNot(prev)
        .map(d => Option(new File(root, d).listFiles()).toSeq.flatten
          .filter(_.isFile).map(_.length).sum).sum
    }
    // cap fits BOTH slim deltas but not fat+slim: the fat commit must
    // drain alone (first-version progress guarantee — an over-cap commit
    // becomes its own batch, never a deadlock), then the slims share one
    assert(deltaBytes(1) > deltaBytes(2) + deltaBytes(3),
      "fixture: the fat delta must exceed the cap")
    val cap = deltaBytes(2) + deltaBytes(3)
    var batches = Vector.empty[Set[Long]]
    val q = spark.readStream.format("graft-changefeed")
      .option("root", root)
      .option("maxBytesPerTrigger", cap.toString)
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batches :+= b.collect().map(_.getLong(0)).toSet
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("graft_cap_ckpt_").toString)
      .start()
    q.awaitTermination()
    assert(batches.length === 2,
      s"expected the catch-up split fat | slim+slim, got ${batches.map(_.size)}")
    assert(batches(0) === (0L until 10000L).toSet)
    assert(batches(1) === (10000L until 10020L).toSet)
  }

  test("change-feed source: catch-up in one batch, then delta-only resumption") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft_cfs_ckpt_").toString
    VersionedTable.commit(spark.range(0, 10).toDF("id"), root)
    VersionedTable.commit(spark.range(10, 20).toDF("id"), root)
    var batches = Vector.empty[(Long, Set[Long], Array[String])]
    subscribeOnce(root, ckpt) { (df, id) =>
      batches :+= ((id, df.collect().map(_.getLong(0)).toSet, df.inputFiles))
    }
    // a subscriber two versions behind catches up in ONE micro-batch
    assert(batches.map(_._1) === Vector(0L))
    assert(batches.head._2 === (0L until 20L).toSet)
    // a later commit is consumed by RESUMING the same checkpoint — and the
    // batch reads ONLY the delta dirs, never the table
    VersionedTable.commit(spark.range(20, 30).toDF("id"), root)
    batches = Vector.empty
    subscribeOnce(root, ckpt) { (df, id) =>
      batches :+= ((id, df.collect().map(_.getLong(0)).toSet, df.inputFiles))
    }
    assert(batches.map(_._1) === Vector(1L))
    // delta-only: exactly the new commit's rows, none of the 20 older ones
    // (the file-level guarantee is asserted on `changes` itself in
    // "change feed reads ONLY the delta dirs" — the micro-batch frame is a
    // LogicalRDD wrapper, so inputFiles is not observable here)
    assert(batches.head._2 === (20L until 30L).toSet)
    // current subscriber: a third run delivers no batch
    batches = Vector.empty
    subscribeOnce(root, ckpt) { (df, id) => batches :+= ((id, Set.empty, Array.empty)) }
    assert(batches.isEmpty, "a current subscriber must see no new batch")
  }

  test("chaos: subscriber killed mid-range redelivers; idempotent sink absorbs it") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    val root = freshRoot()
    val down = freshRoot()
    val ckpt = Files.createTempDirectory("graft_cfs_chaos_").toString
    VersionedTable.commit(spark.range(0, 10).toDF("id"), root)
    VersionedTable.commit(spark.range(10, 20).toDF("id"), root)
    // run 1: the apply lands its commit, then dies BEFORE the engine can
    // commit the batch to the offset log — the at-least-once crash window
    val boom = intercept[StreamingQueryException] {
      subscribeOnce(root, ckpt) { (df, id) =>
        VersionedTable.idempotentCommit(df, down, id.toInt + 1)
        throw new RuntimeException("kill mid-range")
      }
    }
    assert(boom.getMessage.contains("kill mid-range"))
    assert(VersionedTable.read(spark, down).count() === 20L)
    // restart on the SAME checkpoint: the same range REDELIVERS with the
    // same batch id; the version-keyed commit absorbs it (returns false)
    var absorbed = Vector.empty[Boolean]
    subscribeOnce(root, ckpt) { (df, id) =>
      absorbed :+= VersionedTable.idempotentCommit(df, down, id.toInt + 1)
    }
    assert(absorbed === Vector(false), s"redelivery not absorbed: $absorbed")
    // exactly-once end to end: downstream equals the upstream snapshot
    val got = VersionedTable.read(spark, down).collect().map(_.getLong(0)).toSet
    assert(got === (0L until 20L).toSet)
    assert(VersionedTable.read(spark, down).count() === 20L, "duplicated rows")
  }

  /** Like [[subscribeOnce]] but with a per-batch version cap. */
  private def subscribeCapped(root: String, ckpt: String, maxPer: Int)
      (apply: (org.apache.spark.sql.DataFrame, Long) => Unit): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val q = spark.readStream.format("graft-changefeed")
      .option("root", root).option("maxVersionsPerTrigger", maxPer.toString).load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        apply(batch.toDF(), id)
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination()
  }

  test("rate-capped subscription drains multiple batches; mid-run commits wait") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft_cfs_cap_").toString
    (0 until 3).foreach(i =>
      VersionedTable.commit(spark.range(i * 10, i * 10 + 10).toDF("id"), root))
    var batches = Vector.empty[(Long, Set[Long])]
    var landed = false
    subscribeCapped(root, ckpt, maxPer = 1) { (df, id) =>
      batches :+= ((id, df.collect().map(_.getLong(0)).toSet))
      if (!landed) {
        // a commit DURING the drain: the AvailableNow target was pinned at
        // query start, so this must be left for the NEXT run
        VersionedTable.commit(spark.range(900, 910).toDF("id"), root)
        landed = true
      }
    }
    // one micro-batch per version (SupportsTriggerAvailableNow drains to
    // the pinned target in rate-capped steps, not one catch-all batch)
    assert(batches.map(_._1) === Vector(0L, 1L, 2L), s"batches = $batches")
    assert(batches.map(_._2) ===
      Vector((0L until 10L).toSet, (10L until 20L).toSet, (20L until 30L).toSet))
    // the mid-run commit arrives in the next run, alone
    batches = Vector.empty
    subscribeCapped(root, ckpt, maxPer = 1) { (df, id) =>
      batches :+= ((id, df.collect().map(_.getLong(0)).toSet))
    }
    assert(batches.map(_._2) === Vector((900L until 910L).toSet), s"batches = $batches")
  }

  test("chaos: rate-capped drain killed mid-stream resumes at the failed batch") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    val root = freshRoot()
    val down = freshRoot()
    val ckpt = Files.createTempDirectory("graft_cfs_cap_chaos_").toString
    (0 until 3).foreach(i =>
      VersionedTable.commit(spark.range(i * 10, i * 10 + 10).toDF("id"), root))
    // die on batch 1 AFTER applying it (crash between apply and WAL commit)
    intercept[StreamingQueryException] {
      subscribeCapped(root, ckpt, maxPer = 1) { (df, id) =>
        VersionedTable.idempotentCommit(df, down, id.toInt + 1)
        if (id == 1L) throw new RuntimeException("kill mid-drain")
      }
    }
    // restart: batch 1 redelivers (absorbed), batch 2 completes the drain
    var absorbed = Vector.empty[(Long, Boolean)]
    subscribeCapped(root, ckpt, maxPer = 1) { (df, id) =>
      absorbed :+= ((id, VersionedTable.idempotentCommit(df, down, id.toInt + 1)))
    }
    assert(absorbed === Vector((1L, false), (2L, true)), s"absorbed = $absorbed")
    val got = VersionedTable.read(spark, down).collect().map(_.getLong(0)).toSet
    assert(got === (0L until 30L).toSet)
    assert(VersionedTable.read(spark, down).count() === 30L, "duplicated rows")
  }

  test("a subscriber behind a vacuumed range fails loudly; resubscription recovers") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft_cfs_vac_").toString
    (0 until 5).foreach(i =>
      VersionedTable.commit(spark.range(i * 10, i * 10 + 10).toDF("id"), root))
    // consume only v1 via a capped run that dies after its first batch
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      subscribeCapped(root, ckpt, maxPer = 1) { (_, id) =>
        if (id >= 1L) throw new RuntimeException("stop after v1")
      }
    }
    // vacuum keeps only the last 2 versions: the subscriber's next range
    // starts at a manifest that no longer exists — fail loudly, like the
    // cursor (Delta's earliest-retained-version contract)
    VersionedTable.vacuum(root, retainLast = 2, orphanGraceMs = 0L)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      subscribeOnce(root, ckpt)((_, _) => ())
    }
    assert(e.getMessage.contains("no such version"),
      s"expected the missing-version refusal, got: ${e.getMessage}")
    // remedy: re-derive from the snapshot, resubscribe from the latest
    var seen = Set.empty[Long]
    val snapshotRows = VersionedTable.read(spark, root)
      .collect().map(_.getLong(0)).toSet
    val fresh = Files.createTempDirectory("graft_cfs_vac2_").toString
    VersionedTable.commit(spark.range(50, 55).toDF("id"), root)
    val q = spark.readStream.format("graft-changefeed")
      .option("root", root).option("startingVersion", "5").load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen ++= batch.collect().map(_.getLong(0))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", fresh)
      .start()
    q.awaitTermination()
    assert(seen === (50L until 55L).toSet)
    assert(snapshotRows === (0L until 50L).toSet)
  }

  test("subscription schema: pinned within a run, re-resolved (widened) across runs") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft_cfs_widen_").toString
    VersionedTable.commit(spark.range(0, 5).toDF("id"), root)
    var seen = Vector.empty[Seq[String]]
    subscribeOnce(root, ckpt) { (df, _) => seen :+= df.columns.toSeq }
    assert(seen === Vector(Seq("id")))
    // WITHIN a run the schema is pinned at source construction: a delta
    // that widened mid-run projects onto the pinned schema (extra columns
    // dropped until restart) instead of killing the consumer — exercise
    // getBatch directly with a source pinned BEFORE the widening commit
    val pinned = new graft.sources.ChangeFeedSource(
      spark.sqlContext, root, 0, None, None, None)
    assert(pinned.schema.fieldNames.toSeq === Seq("id"))
    VersionedTable.commit(
      spark.range(5, 8).select(col("id"), (col("id") * 10).as("extra")), root)
    val aligned = pinned.getBatch(Some(LongOffset(1L)), LongOffset(2L))
    assert(aligned.columns.toSeq === Seq("id"),
      "a mid-run widened delta must project onto the pinned schema")
    assert(aligned.isStreaming, "getBatch must return a streaming frame")
    // ACROSS runs (restart on the same checkpoint) the schema re-resolves:
    // the widened column appears and the new delta carries it — the
    // resubscription contract (Delta restarts behave the same way)
    var widened = Vector.empty[(Seq[String], Map[Long, Option[Long]])]
    subscribeOnce(root, ckpt) { (df, _) =>
      widened :+= ((df.columns.toSeq, df.collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap))
    }
    assert(widened.map(_._1) === Vector(Seq("id", "extra")))
    assert(widened.head._2 === Map(5L -> Some(50L), 6L -> Some(60L), 7L -> Some(70L)))
    // a FRESH subscription from birth null-fills the pre-evolution delta
    var fresh = Map.empty[Long, Option[Long]]
    subscribeOnce(root, Files.createTempDirectory("graft_cfs_widen2_").toString) {
      (df, _) => fresh = df.collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    }
    assert(fresh === Map(0L -> None, 1L -> None, 2L -> None, 3L -> None,
      4L -> None, 5L -> Some(50L), 6L -> Some(60L), 7L -> Some(70L)))
  }

  test("change-feed source fails loudly across an overwrite; resubscription recovers") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft_cfs_ow_").toString
    VersionedTable.commit(spark.range(0, 10).toDF("id"), root)
    subscribeOnce(root, ckpt)((_, _) => ())
    VersionedTable.commit(spark.range(100, 105).toDF("id"), root, "overwrite")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      subscribeOnce(root, ckpt)((_, _) => ())
    }
    assert(e.getMessage.contains("non-append"),
      s"expected the additive-feed refusal, got: ${e.getMessage}")
    // remedy: re-derive from the snapshot, resubscribe past the overwrite
    val fresh = Files.createTempDirectory("graft_cfs_ow2_").toString
    var seen = Set.empty[Long]
    VersionedTable.commit(spark.range(105, 110).toDF("id"), root)
    val q = spark.readStream.format("graft-changefeed")
      .option("root", root).option("startingVersion", "2").load()
    val sq = q.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen ++= batch.collect().map(_.getLong(0))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", fresh)
      .start()
    sq.awaitTermination()
    assert(seen === (105L until 110L).toSet)
  }

  test("change feed surfaces the union schema across a widening commit") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 2).toDF("id"), root)
    VersionedTable.commit(spark.range(2, 4).toDF("id"), root)
    VersionedTable.commit(
      spark.range(4, 6).select(col("id"), (col("id") * 10).as("extra")), root)
    val feed = VersionedTable.changes(spark, root, 1, 3)
    assert(feed.columns.toSeq === Seq("id", "extra"),
      "a footer won over the union schema: widening column lost from the feed")
    val byId = feed.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(byId === Map(2L -> None, 3L -> None, 4L -> Some(40L), 5L -> Some(50L)))
  }

  test("optimize: z-clustered rewrite is value-exact and prunes on BOTH dimensions") {
    val root = freshRoot()
    // a 32x32 grid: clustering one dim linearly would leave the other
    // full-range in every dir
    val grid = spark.range(0, 1024).toDF("id")
      .select(col("id"), (col("id") % 32).as("x"),
        (col("id") / 32).cast("long").as("y")) // `/` on longs is double division

    VersionedTable.commit(grid, root)
    val v = VersionedTable.optimizeZorder(spark, root,
      Seq(col("x") -> 31L, col("y") -> 31L), nDirs = 16, statsCols = Seq("x", "y"))
    assert(v === 2)
    // content is exactly preserved (and v1 stays time-travel readable)
    val after = VersionedTable.read(spark, root)
    assert(after.columns.toSeq === Seq("id", "x", "y"), "optimize changed the schema")
    assert(after.select("id").collect().map(_.getLong(0)).toSet === (0L until 1024L).toSet)
    assert(ids(root, Some(1)) === (0L until 1024L).toSet)
    val snap = VersionedTable.history(root).last
    assert(snap.operation === "optimize" && snap.dataDirs.size === 16)
    // a small box probe on BOTH dims touches a small minority of dirs
    val probe = VersionedTable.read(spark, root).filter(col("x") <= 7 && col("y") <= 7)
    val touched = dirsScanned(probe)
    assert(touched <= 4,
      s"z-layout should bound a both-dims box probe to <=4/16 dirs, touched $touched")
    assert(probe.select("id").collect().map(_.getLong(0)).toSet ===
      (0L until 1024L).filter(i => i % 32 <= 7 && i / 32 <= 7).toSet)
    // and EACH single dimension alone still skips (the whole point vs a sort)
    for (dim <- Seq("x", "y")) {
      val t = dirsScanned(VersionedTable.read(spark, root).filter(col(dim).between(0, 7)))
      assert(t <= 8, s"single-dim probe on $dim touched $t/16 dirs — no clustering")
    }
  }

  test("optimizeZorder: THREE dims interleave; probes on any dim (and all) prune") {
    val root = freshRoot()
    // a 16x16x16 grid — a 2-dim layout would leave the third dim
    // full-range in every dir
    val grid = spark.range(0, 4096).toDF("id")
      .select(col("id"), (col("id") % 16).as("a"),
        ((col("id") / 16).cast("long") % 16).as("b"),
        (col("id") / 256).cast("long").as("c"))
    VersionedTable.commit(grid, root)
    val v = VersionedTable.optimizeZorder(spark, root,
      Seq(col("a") -> 15L, col("b") -> 15L, col("c") -> 15L),
      nDirs = 8, statsCols = Seq("a", "b", "c"))
    assert(v === 2)
    val after = VersionedTable.read(spark, root)
    assert(after.select("id").collect().map(_.getLong(0)).toSet === (0L until 4096L).toSet)
    val snap = VersionedTable.history(root).last
    assert(snap.operation === "optimize" && snap.dataDirs.size === 8)
    // 8 dirs = the top bit of EACH dim: a half-range probe on ANY single
    // dim dismisses half the dirs
    for (dim <- Seq("a", "b", "c")) {
      val t = dirsScanned(VersionedTable.read(spark, root).filter(col(dim).between(0, 7)))
      assert(t <= 4, s"single-dim probe on $dim touched $t/8 dirs — no 3-dim clustering")
    }
    // and the all-dims box probe pins exactly one dir
    val box = VersionedTable.read(spark, root)
      .filter(col("a") <= 7 && col("b") <= 7 && col("c") <= 7)
    assert(dirsScanned(box) === 1, "the 3-dim box probe must pin a single dir")
    assert(box.count() === 512L)
    // 2-dim calls through the generalized path stay bit-identical to
    // morton16 (the layout contract q_zorder_optimize hashes against)
    import graft.operators.ZOrder
    val probe = spark.range(0, 1000).select(
      (col("id") % 37).as("x"), (col("id") % 53).as("y"))
    val diff = probe.select(
      ZOrder.morton16(ZOrder.scaleTo16(col("x"), 36L), ZOrder.scaleTo16(col("y"), 52L))
        .as("m2"),
      ZOrder.mortonN(Seq(ZOrder.scaleTo16(col("x"), 36L), ZOrder.scaleTo16(col("y"), 52L)))
        .as("mn"))
      .filter(col("m2") =!= col("mn")).count()
    assert(diff === 0L, "mortonN(2 dims) must equal morton16 bit for bit")
  }

  test("analyze backfills skipping metadata in place; subscriptions cross it as a no-op") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 50).toDF("id"), root)   // v1, no stats
    VersionedTable.commit(spark.range(50, 100).toDF("id"), root) // v2, no stats
    def dirsTouched(lo: Int, hi: Int): Int =
      dirsScanned(VersionedTable.read(spark, root).filter(col("id").between(lo, hi)))
    assert(dirsTouched(0, 9) === 2, "without stats every dir must be read (conservative)")
    val v = VersionedTable.analyze(spark, root, Seq("id"), Seq("id"))
    assert(v === 3)
    val snap = VersionedTable.history(root).last
    assert(snap.operation === "analyze")
    assert(snap.dataDirs === VersionedTable.snapshot(root, 2).dataDirs,
      "analyze must reference the SAME dirs — zero data movement")
    assert(dirsTouched(0, 9) === 1, "backfilled min/max should prune the other dir")
    assert(dirsScanned(VersionedTable.read(spark, root).filter(col("id") === 5L)) === 1,
      "backfilled bloom should prune the other dir on a point probe")
    // content identical at every version; the analyze version reads like v2
    assert(ids(root, Some(3)) === (0L until 100L).toSet)
    assert(ids(root, Some(2)) === (0L until 100L).toSet)
    // a pure-metadata change range is an EMPTY delta, not an error
    val delta = VersionedTable.changes(spark, root, 2, 3)
    assert(delta.columns.toSeq === Seq("id") && delta.count() === 0L)
    // and a subscription crossing the analyze version just gets the data
    VersionedTable.commit(spark.range(100, 110).toDF("id"), root) // v4
    var seen = Set.empty[Long]
    subscribeOnce(root, Files.createTempDirectory("graft_an_ckpt_").toString) {
      (df, _) => seen ++= df.collect().map(_.getLong(0))
    }
    assert(seen === (0L until 110L).toSet)
  }

  test("a second analyze is ADDITIVE: earlier columns' skipping metadata survives") {
    val root = freshRoot()
    (0 to 1).foreach(i => VersionedTable.commit(
      spark.range(i * 50L, (i + 1) * 50L).toDF("a")
        .withColumn("b", col("a") + 1000L), root))
    VersionedTable.analyze(spark, root, Seq("a"), Seq("a"))
    def dirsTouched(c: String, lo: Int, hi: Int): Int =
      dirsScanned(VersionedTable.read(spark, root).filter(col(c).between(lo, hi)))
    assert(dirsTouched("a", 0, 9) === 1)
    // the r12 gap: analyzing b REPLACED the manifest's metadata wholesale,
    // silently degrading a's pruning — the retrofit must merge instead
    VersionedTable.analyze(spark, root, Seq("b"))
    assert(dirsTouched("b", 1000, 1009) === 1, "the new column prunes")
    assert(dirsTouched("a", 0, 9) === 1,
      "a retrofit for one column must not degrade previously-indexed columns")
    assert(dirsScanned(VersionedTable.read(spark, root).filter(col("a") === 5L)) === 1,
      "earlier bloom sidecars must survive a later analyze")
  }

  test("analyze on an additively evolved table measures a column older dirs lack") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 50).toDF("id"), root) // v1: {id}
    VersionedTable.commit(spark.range(50, 100).toDF("id")      // v2: {id, extra}
      .withColumn("extra", col("id") * 10L), root)
    // the v1 dir has no `extra` column: its read-back must serve it
    // null-filled under the snapshot anchor, never infer a schema without it
    VersionedTable.analyze(spark, root, statsCols = Seq("extra"),
      bloomCols = Seq("extra"))
    val snap = VersionedTable.snapshot(root, 3)
    val newer = VersionedTable.snapshot(root, 2).dataDirs.last
    assert(snap.dirStats.filter(s => s.col == "extra" && s.file.isEmpty)
      .map(s => (s.dir, s.min, s.max)) === Seq((newer, 500.0, 990.0)),
      "only the dir holding `extra` values gets a hull")
    def probe = VersionedTable.read(spark, root).filter(col("extra") === 730L)
    assert(probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((73L, 730L)))
    assert(dirsScanned(probe) === 1, "the older all-null dir must be skipped")
  }

  test("transactional commit: replays absorbed, foreign commits interleave, apps independent") {
    val root = freshRoot()
    VersionedTable.commit(spark.range(0, 5).toDF("id"), root) // pre-seeded table
    assert(VersionedTable.transactionalCommit(
      spark.range(5, 10).toDF("id"), root, "app-a", 0L))
    // at-least-once replay of batch 0: absorbed, snapshot unchanged
    assert(!VersionedTable.transactionalCommit(
      spark.range(5, 10).toDF("id"), root, "app-a", 0L))
    assert(VersionedTable.latestVersion(root) === Some(2))
    assert(ids(root) === (0L until 10L).toSet)
    // a FOREIGN (non-txn) commit interleaves without moving app-a's mark
    VersionedTable.commit(spark.range(10, 12).toDF("id"), root)
    assert(VersionedTable.lastCommittedBatch(root, "app-a") === Some(0L))
    assert(VersionedTable.transactionalCommit(
      spark.range(12, 15).toDF("id"), root, "app-a", 1L))
    // distinct appId: its own batch numbering, not confused by app-a's
    assert(VersionedTable.transactionalCommit(
      spark.range(15, 16).toDF("id"), root, "app-b", 0L))
    assert(VersionedTable.lastCommittedBatch(root, "app-a") === Some(1L))
    assert(VersionedTable.lastCommittedBatch(root, "app-b") === Some(0L))
    assert(VersionedTable.lastCommittedBatch(root, "app-c") === None)
    assert(ids(root) === (0L until 16L).toSet)
    // marks are carried through layout ops and survive ANY vacuum schedule
    // (every manifest carries every app's mark — Delta SetTransaction-style)
    VersionedTable.compact(spark, root)
    VersionedTable.vacuum(root, retainLast = 1, orphanGraceMs = 0L)
    assert(VersionedTable.lastCommittedBatch(root, "app-a") === Some(1L),
      "compact+vacuum must not forget a writer's high-water mark")
    assert(VersionedTable.lastCommittedBatch(root, "app-b") === Some(0L))
    assert(!VersionedTable.transactionalCommit(
      spark.range(0, 1).toDF("id"), root, "app-a", 1L),
      "a replay after vacuum must still be absorbed")
  }

  test("graft-versioned sink: bronze->silver medallion, exactly-once across restart") {
    import org.apache.spark.sql.streaming.Trigger
    val bronze = freshRoot(); val silver = freshRoot()
    val ckpt = Files.createTempDirectory("graft_vsink_ckpt_").toString
    (0 until 3).foreach(i =>
      VersionedTable.commit(spark.range(i * 10, i * 10 + 10).toDF("id"), bronze))
    def run(): Unit = {
      val q = spark.readStream.format("graft-changefeed")
        .option("root", bronze).option("maxVersionsPerTrigger", "1").load()
        .filter(col("id") % 2 === 0) // the silver standardization step
        .select(col("id"), (col("id") * 2).as("doubled"))
        .writeStream.format("graft-versioned")
        .option("root", silver).option("appId", "silver-std")
        .option("statsCols", "id")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    run()
    // one silver append commit per bronze version, each txn-stamped
    assert(VersionedTable.latestVersion(silver) === Some(3))
    assert(VersionedTable.history(silver).forall(s =>
      s.operation == "append" && s.txns.contains("silver-std")))
    val expect = (0L until 30L).filter(_ % 2 == 0).toSet
    assert(VersionedTable.read(spark, silver)
      .select("id").collect().map(_.getLong(0)).toSet === expect)
    // redelivery at the primitive: replaying the sink's last (appId, batch)
    // — the crash-between-commit-and-WAL window — must be absorbed
    val lastBatch = VersionedTable.lastCommittedBatch(silver, "silver-std").get
    assert(!VersionedTable.transactionalCommit(
      spark.range(0, 5).toDF("id"), silver, "silver-std", lastBatch))
    assert(VersionedTable.latestVersion(silver) === Some(3), "replay duplicated a commit")
    // restart with the same checkpoint after two more bronze commits:
    // silver gains exactly the delta, no reprocessing of consumed versions
    (3 until 5).foreach(i =>
      VersionedTable.commit(spark.range(i * 10, i * 10 + 10).toDF("id"), bronze))
    run()
    assert(VersionedTable.latestVersion(silver) === Some(5))
    val expect2 = (0L until 50L).filter(_ % 2 == 0).toSet
    assert(VersionedTable.read(spark, silver)
      .select("id").collect().map(_.getLong(0)).toSet === expect2)
    // and silver's own change feed serves a downstream subscriber: the
    // restart's delta is exactly versions (3, 5]
    val delta = VersionedTable.changes(spark, silver, 3, 5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(delta === (30L until 50L).filter(_ % 2 == 0).toSet)
  }

  test("graft-versioned sink in Complete mode: streaming aggregate overwrites the snapshot") {
    import org.apache.spark.sql.streaming.Trigger
    val bronze = freshRoot(); val silver = freshRoot()
    val ckpt = Files.createTempDirectory("graft_vsinkC_ckpt_").toString
    VersionedTable.commit(spark.range(0, 10).toDF("id"), bronze)
    VersionedTable.commit(spark.range(10, 20).toDF("id"), bronze)
    val q = spark.readStream.format("graft-changefeed").option("root", bronze).load()
      .groupBy((col("id") % 3).as("bucket"))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .writeStream.format("graft-versioned")
      .option("root", silver).option("appId", "silver-agg")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination()
    val snap = VersionedTable.history(silver).last
    assert(snap.operation === "overwrite")
    val got = VersionedTable.read(spark, silver).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 20L).groupBy(_ % 3).map { case (k, v) => k -> v.size.toLong }
    assert(got === want)
  }

  test("graft-versioned sink skips empty micro-batches; exactly-once unaffected") {
    val root = freshRoot()
    val sink = new graft.sources.VersionedSinkProvider().createSink(
      spark.sqlContext, Map("root" -> root, "appId" -> "empty-probe"),
      Seq.empty, org.apache.spark.sql.streaming.OutputMode.Append())
    // a watermark-only/state-flush trigger hands an EMPTY batch: it must
    // neither throw (the r12 bug: a zero-partition write has no part
    // files to read back) nor burn a version per idle trigger
    val empty = spark.range(0).select(col("id"))
    sink.addBatch(0L, empty)
    assert(VersionedTable.latestVersion(root).isEmpty,
      "an empty micro-batch must not commit a version")
    sink.addBatch(1L, spark.range(0, 5).toDF("id"))
    assert(VersionedTable.latestVersion(root) === Some(1))
    assert(VersionedTable.lastCommittedBatch(root, "empty-probe") === Some(1L))
    // redelivery of the skipped empty batch is a no-op; of the real one, absorbed
    sink.addBatch(0L, empty)
    sink.addBatch(1L, spark.range(0, 5).toDF("id"))
    assert(VersionedTable.latestVersion(root) === Some(1))
    assert(ids(root) === (0L until 5L).toSet)
  }

  test("graft-versioned sink rejects update mode and missing identity") {
    import org.apache.spark.sql.streaming.Trigger
    val bronze = freshRoot()
    VersionedTable.commit(spark.range(0, 2).toDF("id"), bronze)
    val src = spark.readStream.format("graft-changefeed").option("root", bronze).load()
    def start(f: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =>
        org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
      val q = f(src.writeStream.format("graft-versioned")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          Files.createTempDirectory("graft_vsinkR_").toString)).start()
      q.awaitTermination()
    }
    val e1 = intercept[Exception] { start(_.option("root", freshRoot())) }
    assert(e1.getMessage.contains("appId"), s"wanted the appId refusal, got: ${e1.getMessage}")
    val e2 = intercept[Exception] {
      start(_.option("root", freshRoot()).option("appId", "x")
        .outputMode("update"))
    }
    assert(e2.getMessage.contains("foreachBatch") || e2.getMessage.contains("Update"),
      s"wanted the update-mode refusal, got: ${e2.getMessage}")
  }
}
