package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IncrementalAgg
import graft.sources.VersionedTable

/** Row-level CDF across DML commits ([[VersionedTable.changeFeed]], the
  * Delta `readChangeFeed` contract): delete/update/merge commits persist
  * their change images at commit (`cdf=` manifest line, `_changes/` dir)
  * and subscribers consume O(changed rows) per commit — never an O(table)
  * resync — with `_change_type` ∈ {insert, update_preimage,
  * update_postimage, delete} and `_commit_version`.
  */
class ChangeFeedCdfSpec extends SparkTestBase {

  // Every root in this suite OPTS IN to CDF via the table property —
  // image staging is off by default (Delta's delta.enableChangeDataFeed
  // semantics; the default-off contract has its own test below).
  private def freshRoot(): String = {
    val root = Files.createTempDirectory("graft_cdf_").toString
    VersionedTable.setTableProperties(root,
      Map(VersionedTable.CdfEnabledProp -> "true"))
    root
  }

  /** id-keyed two-column corpus: three appends of 10 rows each. */
  private def corpus(root: String): Unit =
    (0 to 2).foreach(i => VersionedTable.commit(
      spark.range(i * 10L, (i + 1) * 10L).toDF("id")
        .withColumn("v", col("id") * 2), root, "append", statsCols = Seq("id")))

  private def types(df: DataFrame): Map[String, Long] =
    df.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Runs `body` once per storage strategy — copy-on-write (false) and
    * merge-on-read (true) — on a fresh CDF-on corpus; the images must not
    * depend on how the removed rows are recorded.
    */
  private def bothStrategies(body: (String, Boolean) => Unit): Unit =
    Seq(false, true).foreach { mor =>
      withClue(if (mor) "merge-on-read: " else "copy-on-write: ") {
        val root = freshRoot()
        corpus(root)
        body(root, mor)
      }
    }

  test("DELETE persists its deleted rows as change images") {
    bothStrategies { (root, mor) =>
      val pred = col("id") >= 12 && col("id") < 25
      assert((if (mor) VersionedTable.deleteMor(spark, root, pred)
        else VersionedTable.delete(spark, root, pred)) === 13L)
      val feed = VersionedTable.changeFeed(spark, root, 3, 4)
      assert(types(feed) === Map("delete" -> 13L))
      assert(feed.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
        (12L until 25L))
      assert(feed.select("_commit_version").distinct().head().getLong(0) === 4L)
      // pre-images carry the full row
      assert(feed.filter(col("id") === 20).head().getAs[Long]("v") === 40L)
    }
  }

  test("UPDATE persists pre- AND post-images for each matched row") {
    bothStrategies { (root, mor) =>
      val set = Map("v" -> (col("v") + lit(1000L)))
      assert((if (mor) VersionedTable.updateMor(spark, root, col("id") < 3, set)
        else VersionedTable.update(spark, root, col("id") < 3, set)) === 3L)
      val feed = VersionedTable.changeFeed(spark, root, 3, 4)
      assert(types(feed) === Map("update_preimage" -> 3L, "update_postimage" -> 3L))
      val pre = feed.filter(col("_change_type") === "update_preimage" && col("id") === 2)
      val post = feed.filter(col("_change_type") === "update_postimage" && col("id") === 2)
      assert(pre.head().getAs[Long]("v") === 4L)
      assert(post.head().getAs[Long]("v") === 1004L)
    }
  }

  test("MERGE persists pre-images, post-images, and inserts") {
    bothStrategies { (root, mor) =>
      val src = spark.range(25, 35).toDF("id").withColumn("v", lit(-1L))
      // 25..29 matched, 30..34 new
      if (mor) VersionedTable.mergeMor(spark, root, src, "id")
      else VersionedTable.merge(spark, root, src, "id")
      val feed = VersionedTable.changeFeed(spark, root, 3, 4)
      assert(types(feed) === Map("update_preimage" -> 5L,
        "update_postimage" -> 5L, "insert" -> 5L))
      assert(feed.filter(col("_change_type") === "update_preimage")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq === (25L until 30L))
      assert(feed.filter(col("_change_type") === "insert")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq === (30L until 35L))
      // post-images carry SOURCE values
      assert(feed.filter(col("_change_type") === "update_postimage")
        .select("v").distinct().head().getLong(0) === -1L)
    }
  }

  test("replaying the whole feed reconstructs the table exactly (multiset)") {
    val root = freshRoot()
    corpus(root)
    VersionedTable.delete(spark, root, col("id") % 7 === 0)
    VersionedTable.update(spark, root, col("id") % 5 === 0,
      Map("v" -> (col("v") * lit(10L))))
    VersionedTable.merge(spark, root,
      spark.range(28, 33).toDF("id").withColumn("v", lit(-3L)), "id")
    VersionedTable.commit(
      spark.range(100, 105).toDF("id").withColumn("v", lit(7L)), root)
    val latest = VersionedTable.latestVersion(root).get
    val feed = VersionedTable.changeFeed(spark, root, 0, latest)
    val adds = feed.filter(col("_change_type").isin("insert", "update_postimage"))
      .select("id", "v")
    val drops = feed.filter(col("_change_type").isin("delete", "update_preimage"))
      .select("id", "v")
    val replayed = adds.exceptAll(drops)
    val actual = VersionedTable.read(spark, root).select("id", "v")
    assert(replayed.exceptAll(actual).isEmpty && actual.exceptAll(replayed).isEmpty,
      "CDF replay must equal the live snapshot as a multiset")
  }

  test("IncrementalAgg over CDF deltas equals the full recompute, with retractions") {
    val root = freshRoot()
    corpus(root)
    var state = IncrementalAgg.aggregateChanges(
      VersionedTable.changeFeed(spark, root, 0, 3), Seq("id"), Seq("v"))
    def fold(from: Int, to: Int): Unit =
      state = IncrementalAgg.compactState(IncrementalAgg.merge(state,
        IncrementalAgg.aggregateChanges(
          VersionedTable.changeFeed(spark, root, from, to), Seq("id"), Seq("v")),
        Seq("id")))
    VersionedTable.delete(spark, root, col("id") >= 28) // retracts groups 28,29
    fold(3, 4)
    VersionedTable.update(spark, root, col("id") === 1, Map("v" -> lit(999L)))
    fold(4, 5)
    VersionedTable.merge(spark, root,
      spark.range(29, 31).toDF("id").withColumn("v", lit(5L)), "id")
    fold(5, 6)
    val full = IncrementalAgg.aggregate(
      VersionedTable.read(spark, root), Seq("id"), Seq("v"))
    assert(state.exceptAll(full).isEmpty && full.exceptAll(state).isEmpty,
      "incremental CDF state diverged from the full recompute")
    // the fully-retracted group is GONE from state, not lingering at zero
    assert(state.filter(col("id") === 28).isEmpty)
  }

  test("CDF is OFF by default: unsubscribed tables pay zero image staging") {
    // A root WITHOUT graft.cdf.enabled (and no explicit cdf argument):
    // every DML verb commits with NO cdf= manifest line and no _changes
    // dir — the write-amplification-free default every plain writer gets.
    // The change feed then refuses the range with the resync remedy
    // (ChangeFeedSource's non-CDF mode, VersionedTable.changes, is the
    // pre-r14 loud-resync contract and keeps its own tests).
    val root = Files.createTempDirectory("graft_nocdf_").toString
    corpus(root)
    VersionedTable.delete(spark, root, col("id") === 5)
    VersionedTable.update(spark, root, col("id") === 6, Map("v" -> lit(-1L)))
    VersionedTable.merge(spark, root,
      spark.range(7, 9).toDF("id").withColumn("v", lit(-2L)), "id")
    (4 to 6).foreach { v =>
      assert(VersionedTable.snapshot(root, v).cdfDir.isEmpty,
        s"default-off table staged CDF images at v$v")
    }
    assert(!new java.io.File(root, "_changes").exists(),
      "default-off table grew a _changes dir")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.changeFeed(spark, root, 3, 6).collect()
    }
    assert(e.getMessage.contains("pre-CDF"))
    // flipping the property ON makes the NEXT commit stage images —
    // opt-in is live per commit, no table rewrite needed
    VersionedTable.setTableProperties(root,
      Map(VersionedTable.CdfEnabledProp -> "true"))
    VersionedTable.delete(spark, root, col("id") === 10)
    assert(VersionedTable.snapshot(root, 7).cdfDir.nonEmpty)
    assert(types(VersionedTable.changeFeed(spark, root, 6, 7)) ===
      Map("delete" -> 1L))
  }

  test("overwrite/restore still refuse; pre-CDF DML commits refuse with remedy") {
    val root = freshRoot()
    corpus(root)
    VersionedTable.delete(spark, root, col("id") === 0, cdf = Some(false)) // legacy shape
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.changeFeed(spark, root, 3, 4).collect()
    }
    assert(e1.getMessage.contains("pre-CDF"))
    assert(VersionedTable.snapshot(root, 4).cdfDir.isEmpty)
    VersionedTable.commit(spark.range(50, 52).toDF("id")
      .withColumn("v", lit(0L)), root, "overwrite")
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.changeFeed(spark, root, 4, 5).collect()
    }
    assert(e2.getMessage.contains("non-additive"))
    VersionedTable.commit(spark.range(52, 54).toDF("id")
      .withColumn("v", lit(0L)), root)
    VersionedTable.restore(spark, root, 5)
    val e3 = intercept[IllegalArgumentException] {
      VersionedTable.changeFeed(spark, root, 6, 7).collect()
    }
    assert(e3.getMessage.contains("non-additive"))
    // a post-refusal re-derive + fresh range works: appends after the
    // restore serve as plain inserts
    VersionedTable.commit(spark.range(60, 62).toDF("id")
      .withColumn("v", lit(1L)), root)
    assert(types(VersionedTable.changeFeed(spark, root, 7, 8)) === Map("insert" -> 2L))
  }

  test("vacuum reaps change-image dirs with their manifests") {
    val root = freshRoot()
    corpus(root)
    VersionedTable.delete(spark, root, col("id") === 5)
    val cdfRel = VersionedTable.snapshot(root, 4).cdfDir.get
    assert(new java.io.File(root, cdfRel).exists())
    // push the DML version below the cutoff, then vacuum
    (0 to 1).foreach(i => VersionedTable.commit(
      spark.range(200 + i * 2L, 202 + i * 2L).toDF("id").withColumn("v", lit(0L)), root))
    VersionedTable.vacuum(root, retainLast = 2, orphanGraceMs = 0L)
    assert(!new java.io.File(root, cdfRel).exists(),
      "a vacuumed version's change images must die with its manifest")
    // the retained window still serves CDF
    assert(types(VersionedTable.changeFeed(spark, root, 5, 6)) === Map("insert" -> 2L))
  }

  test("chaos: kill mid-drain, restart resumes, replayed batches absorbed") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot()
    val aggRoot = freshRoot()
    VersionedTable.commit(spark.range(0, 8).toDF("id")
      .withColumn("v", col("id")), root, statsCols = Seq("id"))
    (1 to 3).foreach(i => VersionedTable.update(spark, root,
      col("id") % 4 === i % 4, Map("v" -> (col("v") + lit(100L * i)))))
    val ckpt = Files.createTempDirectory("graft_cdfchaos_ckpt_").toString
    def drain(bombAfter: Int): Unit = {
      var n = 0
      val q = spark.readStream.format("graft-changefeed")
        .option("root", root)
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1") // one commit per micro-batch
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          // the fold commits FIRST, then the crash — the worst case: a
          // committed batch whose offset never reached the WAL gets
          // REDELIVERED on restart and must be absorbed, not re-applied
          IncrementalAgg.aggregateChanges(b, Seq("id"), Seq("v"))
            .collect() // force the delta
          VersionedTable.idempotentCommit(
            IncrementalAgg.aggregateChanges(b, Seq("id"), Seq("v")),
            aggRoot, id.toInt + 1)
          n += 1
          if (n > bombAfter) throw new RuntimeException("chaos kill")
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      try q.awaitTermination()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    }
    drain(bombAfter = 1) // dies mid-drain after ~2 folds
    drain(bombAfter = Int.MaxValue) // restart: catch-up + redelivery
    drain(bombAfter = Int.MaxValue) // full replay: every batch id absorbed
    val state = IncrementalAgg.compactState(
      VersionedTable.read(spark, aggRoot).groupBy("id")
        .agg(sum(col("n_rows")).as("n_rows"), sum(col("sum_v")).as("sum_v")))
    val full = IncrementalAgg.aggregate(
      VersionedTable.read(spark, root), Seq("id"), Seq("v"))
    assert(state.exceptAll(full).isEmpty && full.exceptAll(state).isEmpty,
      "post-chaos CDF state must equal the full recompute exactly")
  }

  test("streaming CDF subscription drains DML commits as row-level deltas") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot()
    corpus(root)
    VersionedTable.update(spark, root, col("id") === 3, Map("v" -> lit(111L)))
    val ckpt = Files.createTempDirectory("graft_cdfstream_ckpt_").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    def drain(): Unit = {
      val q = spark.readStream.format("graft-changefeed")
        .option("root", root)
        .option("readChangeFeed", "true")
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          seen ++= b.collect().map(r => (r.getAs[Long]("id"),
            r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version")))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    drain() // catch-up: 30 inserts + 1 pre + 1 post
    assert(seen.count(_._2 == "insert") === 30)
    assert(seen.count(_._2 == "update_preimage") === 1)
    assert(seen.collect { case (id, "update_postimage", v) => (id, v) } ===
      Seq((3L, 4L)))
    seen.clear()
    // delta-only resumption across a DELETE on the SAME checkpoint
    VersionedTable.delete(spark, root, col("id") >= 25)
    drain()
    assert(seen.map(_._2).toSet === Set("delete") && seen.size === 5,
      s"resumption must serve exactly the delete images, got $seen")
    seen.clear()
    // MERGE-ON-READ commits serve the IDENTICAL subscription contract:
    // a dv DELETE and a dv MERGE drain as row-level images on the same
    // checkpoint, and the purge that folds the dvs away is an EMPTY delta
    VersionedTable.deleteMor(spark, root, col("id") < 2)
    VersionedTable.mergeMor(spark, root,
      spark.range(23, 27).toDF("id").withColumn("v", lit(999L)), "id")
    drain()
    assert(seen.collect { case (id, "delete", _) => id }.sorted === Seq(0L, 1L))
    assert(seen.count(_._2 == "update_preimage") === 2,  // 23, 24 live
      s"expected 2 pre-images (23,24 live; 25,26 deleted), got $seen")
    assert(seen.count(_._2 == "update_postimage") === 2)
    assert(seen.count(_._2 == "insert") === 2)           // 25, 26 re-insert
    seen.clear()
    VersionedTable.purgeDeletes(spark, root)
    drain()
    assert(seen.isEmpty, s"purge must be an empty delta, got $seen")
  }
}
