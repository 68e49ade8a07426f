package graft

import java.nio.file.Files

import graft.sources.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RENAME/DROP COLUMN via manifest column mapping (Delta's
  * `delta.columnMapping` shape re-expressed over the manifest's
  * `schema_json`): logical names re-bind through field metadata, the
  * PHYSICAL (on-disk) name is frozen at column creation, data files stay
  * byte-identical, and a DROP + re-ADD of the same logical name binds to
  * a fresh physical column so dropped values can never resurface.
  */
class ColumnMappingSpec extends SparkTestBase {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_cmap_").toString

  /** Three id-ranged dirs with stats on id and a bloom on tag. */
  private def corpus(root: String): Unit =
    Seq((0L, 100L), (100L, 200L), (200L, 300L)).foreach { case (lo, hi) =>
      VersionedTable.commit(
        spark.range(lo, hi).toDF("id")
          .withColumn("v", col("id") * 2)
          .withColumn("tag", concat(lit("t"), (col("id") % 7).cast("string"))),
        root, "append", statsCols = Seq("id"), bloomCols = Seq("tag"))
    }

  private def rows(df: DataFrame, c: String): Seq[Long] =
    df.select(c).collect().map(_.getLong(0)).sorted.toSeq

  test("RENAME COLUMN is metadata-only and value-transparent") {
    val root = freshRoot()
    corpus(root)
    val dirsBefore = VersionedTable.snapshot(root, 3).dataDirs
    val v = VersionedTable.renameColumn(spark, root, "v", "value")
    assert(v === 4)
    val snap = VersionedTable.snapshot(root, 4)
    assert(snap.operation === "rename")
    assert(snap.dataDirs === dirsBefore, "rename must move zero data")
    // the new logical name serves the old physical data, exactly
    val df = VersionedTable.read(spark, root)
    assert(df.columns.toSeq === Seq("id", "value", "tag"))
    assert(rows(df.filter(col("id") < 3), "value") === Seq(0L, 2L, 4L))
    // the reported schema is CLEAN — the mapping is storage detail
    assert(!df.schema("value").metadata.contains(VersionedTable.PhysicalNameKey))
    // time travel across the rename: the OLD anchor serves the OLD name
    val old = VersionedTable.read(spark, root, asOf = Some(3))
    assert(old.columns.toSeq === Seq("id", "v", "tag"))
    assert(rows(old.filter(col("id") < 3), "v") === Seq(0L, 2L, 4L))
  }

  test("stats/bloom skipping keeps biting under the renamed name") {
    val root = freshRoot()
    corpus(root)
    VersionedTable.renameColumn(spark, root, "id", "key")
    // manifest stats lines were rewritten to the new logical name
    val snap = VersionedTable.snapshot(root, 4)
    assert(snap.dirStats.nonEmpty && snap.dirStats.forall(_.col == "key"))
    // the pushed filter prunes on the NEW name through the FileIndex
    // (physical name remapped back to the manifest's logical stats) and
    // is value-exact
    val pruned = VersionedTable.read(spark, root)
      .filter(col("key") >= 120 && col("key") <= 150)
    assert(runAndCount(pruned)._2 < runAndCount(VersionedTable.read(spark, root))._2)
    assert(rows(pruned, "key") === (120L to 150L))
    assert(pruned.filter(col("key") < 150).count() === 30L)
  }

  test("analyze() backfills skipping metadata under renamed names") {
    val root = freshRoot()
    corpus(root)
    VersionedTable.renameColumn(spark, root, "id", "key")
    // retrofit stats for a column that never had them, by its NEW name,
    // over dirs whose FILES still speak the physical (old) name
    VersionedTable.analyze(spark, root, statsCols = Seq("v"),
      bloomCols = Seq("tag"))
    val snap = VersionedTable.snapshot(root, 5)
    assert(snap.operation === "analyze")
    assert(snap.dirStats.exists(_.col == "v"))
    // prior key-stats (rewritten by the rename) survived the backfill
    assert(snap.dirStats.exists(_.col == "key"))
    val pruned = VersionedTable.read(spark, root)
      .filter(col("v") >= 250 && col("v") <= 280)
    assert(runAndCount(pruned)._2 < runAndCount(VersionedTable.read(spark, root))._2)
    assert(rows(pruned, "v") === (125L to 140L).map(_ * 2))
  }

  test("DML after a rename: predicates and assignments speak the new name") {
    val root = freshRoot()
    corpus(root)
    VersionedTable.renameColumn(spark, root, "v", "value")
    assert(VersionedTable.delete(spark, root, col("value") === 10L) === 1L)
    assert(VersionedTable.update(spark, root, col("id") === 6L,
      Map("value" -> lit(-1L))) === 1L)
    val merged = spark.range(299, 301).toDF("id")
      .withColumn("value", lit(7L))
      .withColumn("tag", lit("tX"))
    VersionedTable.merge(spark, root, merged, "id")
    val df = VersionedTable.read(spark, root)
    assert(df.count() === 300L) // -1 delete, +1 insert
    assert(rows(df.filter(col("id") === 6L), "value") === Seq(-1L))
    assert(rows(df.filter(col("id") === 299L), "value") === Seq(7L))
    assert(df.filter(col("value") === 10L).isEmpty)
    // MOR twin over the mapped table
    assert(VersionedTable.deleteMor(spark, root, col("value") === 14L) === 1L)
    assert(VersionedTable.read(spark, root).count() === 299L)
    assert(VersionedTable.purgeDeletes(spark, root).nonEmpty)
    assert(VersionedTable.read(spark, root).count() === 299L)
  }

  test("DROP + re-ADD of the same name never resurrects dropped values") {
    val root = freshRoot()
    corpus(root)
    VersionedTable.dropColumns(spark, root, Seq("v"))
    val df = VersionedTable.read(spark, root)
    assert(df.columns.toSeq === Seq("id", "tag"))
    // time travel: pre-drop versions still serve the column
    assert(rows(VersionedTable.read(spark, root, asOf = Some(3))
      .filter(col("id") === 5L), "v") === Seq(10L))
    // re-ADD the same logical name: binds to a FRESH physical column —
    // pre-drop files must serve NULL, not their old v values
    VersionedTable.addColumns(spark, root,
      Seq(org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    val readd = VersionedTable.read(spark, root)
    assert(readd.columns.toSeq === Seq("id", "tag", "v"))
    assert(readd.filter(col("v").isNotNull).isEmpty,
      "re-added column resurrected dropped values")
    // and fresh appends land the new column under its minted physical name
    VersionedTable.commit(
      spark.range(300, 310).toDF("id")
        .withColumn("tag", lit("tZ")).withColumn("v", lit(99L)),
      root, "append", statsCols = Seq("id"))
    val after = VersionedTable.read(spark, root)
    assert(after.filter(col("v") === 99L).count() === 10L)
    assert(after.filter(col("v").isNotNull).count() === 10L)
  }

  test("CLONE of a post-DROP snapshot: re-ADD on the clone never resurrects") {
    val root = freshRoot()
    corpus(root)
    VersionedTable.dropColumns(spark, root, Seq("v"))
    // shallow-clone the post-drop snapshot: the hardlinked data files
    // still PHYSICALLY carry the dropped column's values, so the clone
    // must inherit the column-mapping marker (via _props propagation) or
    // a re-ADD of the same logical name would bind physical=logical and
    // serve the old values instead of NULL
    val dst = freshRoot()
    VersionedTable.cloneTo(spark, root, dst)
    assert(VersionedTable.tableProperties(dst)
      .get(VersionedTable.ColumnMappingProp).contains("true"),
      "clone must carry the ever-mapped marker")
    VersionedTable.addColumns(spark, dst,
      Seq(org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    val readd = VersionedTable.read(spark, dst)
    assert(readd.columns.toSeq === Seq("id", "tag", "v"))
    assert(readd.filter(col("v").isNotNull).isEmpty,
      "re-added column on a CLONE resurrected dropped values")
    // fresh appends on the clone land under the minted physical name
    VersionedTable.commit(
      spark.range(300, 310).toDF("id")
        .withColumn("tag", lit("tZ")).withColumn("v", lit(99L)),
      dst, "append", statsCols = Seq("id"))
    assert(VersionedTable.read(spark, dst)
      .filter(col("v").isNotNull).count() === 10L)
  }

  test("SQL: ALTER TABLE RENAME/DROP COLUMN through the catalog") {
    val ss = SqlCatalogSpec.session(spark)
    val root = freshRoot()
    corpus(root)
    val t = s"cmap_sql_${System.nanoTime()}"
    ss.sql(s"CREATE TABLE $t USING graft LOCATION '$root'")
    ss.sql(s"ALTER TABLE $t RENAME COLUMN v TO value")
    assert(ss.sql(s"SELECT sum(value) s FROM $t WHERE id < 10").head().getLong(0)
      === (0L until 10L).map(_ * 2).sum)
    // DML through SQL under the new name
    ss.sql(s"UPDATE $t SET value = 0 WHERE id = 7")
    assert(ss.sql(s"SELECT value FROM $t WHERE id = 7").head().getLong(0) === 0L)
    // time travel across the rename by the OLD name
    assert(ss.sql(s"SELECT sum(v) s FROM $t VERSION AS OF 3 WHERE id < 10")
      .head().getLong(0) === (0L until 10L).map(_ * 2).sum)
    ss.sql(s"ALTER TABLE $t DROP COLUMN value")
    assert(ss.sql(s"SELECT * FROM $t").columns.toSeq === Seq("id", "tag"))
    ss.sql(s"DROP TABLE $t")
  }

  test("streaming subscription refuses to cross a rename; resubscribe sees it") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot()
    corpus(root)
    VersionedTable.renameColumn(spark, root, "v", "value")
    val ckpt = Files.createTempDirectory("graft_cmap_ckpt_").toString
    // subscribing from 0 with a range crossing the rename version: loud
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft-changefeed")
        .option("root", root).load()
        .writeStream.format("noop")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    assert(e.getMessage.contains("resubscribe") ||
      Option(e.getCause).exists(_.getMessage.contains("resubscribe")))
    // a FRESH subscription from the rename version onward drains fine
    VersionedTable.commit(
      spark.range(300, 302).toDF("id")
        .withColumn("value", col("id") * 2)
        .withColumn("tag", lit("tN")),
      root, "append", statsCols = Seq("id"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ckpt2 = Files.createTempDirectory("graft_cmap_ckpt2_").toString
    val q2 = spark.readStream.format("graft-changefeed")
      .option("root", root).option("startingVersion", "4").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen ++= b.collect().map(_.getAs[Long]("id")); ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt2)
      .start()
    q2.awaitTermination()
    assert(seen.sorted.toSeq === Seq(300L, 301L))
  }

  test("schemaTrackingLocation: the subscription CROSSES a rename on one restart") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot()
    corpus(root)
    val ckpt = Files.createTempDirectory("graft_cmtrk_ckpt_").toString
    val track = Files.createTempDirectory("graft_cmtrk_schema_").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def drain(): Unit = {
      val q = spark.readStream.format("graft-changefeed")
        .option("root", root).option("schemaTrackingLocation", track).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          // read by the TRACKED (current) logical name, whatever era the
          // underlying delta's files are from
          val c = if (b.columns.contains("value")) "value" else "v"
          seen ++= b.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long](c)))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    drain() // pre-rename history drains under the old names
    assert(seen.size === 300)
    // RENAME mid-subscription + a post-rename append
    VersionedTable.renameColumn(spark, root, "v", "value")
    VersionedTable.commit(
      spark.range(300, 310).toDF("id")
        .withColumn("value", col("id") * 2).withColumn("tag", lit("tN")),
      root, "append", statsCols = Seq("id"))
    // first contact with the rename: ONE restartable failure that rolls
    // the tracked anchor forward (Delta's schema-tracking contract)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain() }
    assert(e.getMessage.contains("GRAFT_SCHEMA_CHANGED") ||
      Option(e.getCause).exists(_.getMessage.contains("GRAFT_SCHEMA_CHANGED")))
    val tracked = graft.sources.ChangeFeedSource.readTracked(track)
    assert(tracked.exists(_._2.fieldNames.contains("value")),
      "the failure must persist the post-rename anchor before dying")
    // the SAME checkpoint restarts and crosses: new rows arrive under the
    // new logical name, values exact
    drain()
    assert(seen.size === 310)
    assert(seen.sortBy(_._1).takeRight(10).toSeq
      === (300L until 310L).map(i => (i, i * 2)))
    // subsequent drains stay quiet and healthy
    VersionedTable.commit(
      spark.range(310, 312).toDF("id")
        .withColumn("value", col("id") * 2).withColumn("tag", lit("tN")),
      root, "append", statsCols = Seq("id"))
    drain()
    assert(seen.size === 312)
  }

  test("schema tracking: kill mid-drain across the rename, restart is exact") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot()
    corpus(root) // versions 1..3
    VersionedTable.renameColumn(spark, root, "v", "value") // version 4
    VersionedTable.commit(
      spark.range(300, 305).toDF("id")
        .withColumn("value", col("id") * 2).withColumn("tag", lit("tN")),
      root, "append", statsCols = Seq("id")) // version 5
    val ckpt = Files.createTempDirectory("graft_cmkill_ckpt_").toString
    val track = Files.createTempDirectory("graft_cmkill_schema_").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // rate-capped to one version per batch so the kill lands mid-history;
    // the foreachBatch sink dies ON PURPOSE partway through the second
    // drain attempt — its batch must replay on restart, conformed to the
    // tracked names even though its files predate the rename
    var killAt = 2
    def drain(expectFailure: Boolean): Unit = {
      val q = spark.readStream.format("graft-changefeed")
        .option("root", root).option("schemaTrackingLocation", track)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          if (id == killAt) throw new RuntimeException("chaos: sink killed")
          val c = if (b.columns.contains("value")) "value" else "v"
          seen ++= b.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long](c)))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      if (expectFailure)
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.awaitTermination()
        }
      else q.awaitTermination()
      ()
    }
    // attempt 1: subscribing from 0 hits the rename inside the FIRST
    // admitted window? No — version-capped batches march 1,2,3...; the
    // rename at v4 triggers the one-time schema roll when its batch comes
    drain(expectFailure = true)  // either chaos kill or schema roll, both retryable
    drain(expectFailure = true)  // drains continue; remaining failure fires
    killAt = -1 // chaos off; finish the catch-up
    var guard = 0
    while (seen.size < 305 && guard < 6) { drain(expectFailure = false); guard += 1 }
    assert(seen.size === 305, s"exactly-once catch-up: got ${seen.size}")
    assert(seen.map(_._1).sorted.toSeq === (0L until 305L),
      "no row lost or duplicated across kill/restart + schema roll")
    assert(seen.sortBy(_._1).takeRight(5).toSeq
      === (300L until 305L).map(i => (i, i * 2)))
  }

  test("schemaTrackingLocation: ADD COLUMNS rolls the tracked anchor on one restart; pre-evolve rows null-fill") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{LongType, StructField}
    val root = freshRoot()
    corpus(root) // versions 1..3
    val ckpt = Files.createTempDirectory("graft_cmadd_ckpt_").toString
    val track = Files.createTempDirectory("graft_cmadd_schema_").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long])]
    def drain(): Unit = {
      val q = spark.readStream.format("graft-changefeed")
        .option("root", root).option("schemaTrackingLocation", track).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          seen ++= b.collect().map { r =>
            val w = if (b.columns.contains("w"))
              Option(r.getAs[java.lang.Long]("w")).map(_.longValue) else None
            (r.getAs[Long]("id"), w)
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    drain() // pre-evolve history drains under the original projection
    assert(seen.size === 300 && seen.forall(_._2.isEmpty))
    // ADD COLUMNS mid-subscription + a post-evolve append carrying it
    VersionedTable.addColumns(spark, root,
      Seq(StructField("w", LongType, nullable = true)))
    VersionedTable.commit(
      spark.range(300, 310).toDF("id")
        .withColumn("v", col("id") * 2)
        .withColumn("tag", lit("tN"))
        .withColumn("w", col("id") * 3),
      root, "append", statsCols = Seq("id"))
    // first contact with the widening: ONE restartable failure that rolls
    // the tracked anchor forward — the additive twin of the rename roll
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain() }
    assert(e.getMessage.contains("GRAFT_SCHEMA_CHANGED") ||
      Option(e.getCause).exists(_.getMessage.contains("GRAFT_SCHEMA_CHANGED")))
    val trackedAnchor = graft.sources.ChangeFeedSource.readTracked(track)
    assert(trackedAnchor.exists(_._2.fieldNames.contains("w")),
      "the failure must persist the WIDENED anchor before dying")
    // the SAME checkpoint restarts and serves the new column: post-evolve
    // rows carry it, and any pre-evolve replay would null-fill it
    drain()
    assert(seen.size === 310)
    assert(seen.sortBy(_._1).takeRight(10).toSeq
      === (300L until 310L).map(i => (i, Some(i * 3))))
    // subsequent drains stay quiet; pre-evolve files keep null-filling
    VersionedTable.commit(
      spark.range(310, 312).toDF("id")
        .withColumn("v", col("id") * 2).withColumn("tag", lit("tN"))
        .withColumn("w", col("id") * 3),
      root, "append", statsCols = Seq("id"))
    drain()
    assert(seen.size === 312)
  }

  test("schema tracking: kill mid-drain across ADD COLUMNS, restart is exact") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{LongType, StructField}
    val root = freshRoot()
    corpus(root) // versions 1..3
    VersionedTable.addColumns(spark, root,
      Seq(StructField("w", LongType, nullable = true))) // version 4
    VersionedTable.commit(
      spark.range(300, 305).toDF("id")
        .withColumn("v", col("id") * 2).withColumn("tag", lit("tN"))
        .withColumn("w", col("id") * 3),
      root, "append", statsCols = Seq("id")) // version 5
    val ckpt = Files.createTempDirectory("graft_cmaddk_ckpt_").toString
    val track = Files.createTempDirectory("graft_cmaddk_schema_").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long])]
    var killAt = 2
    def drain(expectFailure: Boolean): Unit = {
      val q = spark.readStream.format("graft-changefeed")
        .option("root", root).option("schemaTrackingLocation", track)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          if (id == killAt) throw new RuntimeException("chaos: sink killed")
          seen ++= b.collect().map { r =>
            val w = if (b.columns.contains("w"))
              Option(r.getAs[java.lang.Long]("w")).map(_.longValue) else None
            (r.getAs[Long]("id"), w)
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      if (expectFailure)
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.awaitTermination()
        }
      else q.awaitTermination()
      ()
    }
    drain(expectFailure = true)  // chaos kill or schema roll, both retryable
    drain(expectFailure = true)  // the remaining failure fires
    killAt = -1
    var guard = 0
    while (seen.size < 305 && guard < 6) { drain(expectFailure = false); guard += 1 }
    assert(seen.size === 305, s"exactly-once catch-up: got ${seen.size}")
    assert(seen.map(_._1).sorted.toSeq === (0L until 305L),
      "no row lost or duplicated across kill/restart + schema roll")
    // pre-evolve replays under the WIDENED anchor null-fill w; post-evolve
    // rows carry their written values — exactly the batch-read semantics
    assert(seen.filter(_._1 < 300L).forall(_._2.isEmpty))
    assert(seen.sortBy(_._1).takeRight(5).toSeq
      === (300L until 305L).map(i => (i, Some(i * 3))))
  }

  test("batch changeFeed conforms across a rename via physical identity") {
    val root = freshRoot()
    VersionedTable.setTableProperties(root,
      Map(VersionedTable.CdfEnabledProp -> "true"))
    corpus(root)
    VersionedTable.renameColumn(spark, root, "v", "value")
    VersionedTable.delete(spark, root, col("id") === 42L)
    // the range crosses appends (pre-rename dirs) AND a post-rename DML:
    // every slice serves the RANGE-FINAL logical name, values exact
    val feed = VersionedTable.changeFeed(spark, root, 0, 5)
    assert(feed.columns.contains("value") && !feed.columns.contains("v"))
    assert(feed.filter(col("_change_type") === "insert").count() === 300L)
    val del = feed.filter(col("_change_type") === "delete").collect()
    assert(del.length === 1 && del(0).getAs[Long]("value") === 84L)
  }

  test("property: random rename/drop/add/DML sequences track a relational model") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // Model check: the SAME operation sequence applied to (a) the
    // versioned table through the mapping machinery and (b) a plain
    // in-memory DataFrame model must stay row-identical after EVERY
    // step. Columns: k (key, never dropped), a/b (rename/drop targets).
    val opGen = Gen.frequency(
      3 -> Gen.const("append"), 2 -> Gen.const("rename"),
      1 -> Gen.const("drop"), 1 -> Gen.const("add"),
      2 -> Gen.const("delete"), 2 -> Gen.const("update"))
    val seqGen = for {
      len <- Gen.choose(4, 7)
      ops <- Gen.listOfN(len, opGen)
    } yield ops
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      (0 until 8).foreach { i =>
        val ops = seqGen(org.scalacheck.Gen.Parameters.default,
          Seed(4200L + i)).get
        val root = Files.createTempDirectory("graft_cmap_prop_").toString
        def mk(lo: Long, hi: Long) = spark.range(lo, hi).toDF("k")
          .withColumn("a", col("k") * 3).withColumn("b", col("k") % 5)
        var model = mk(0, 20)
        VersionedTable.commit(model, root, statsCols = Seq("k"))
        var nextKey = 20L
        var gen = 0 // monotone suffix for fresh names
        // live column names other than k, newest first
        def cols() = VersionedTable.read(spark, root).columns.toSeq
        ops.zipWithIndex.foreach { case (op, j) =>
          val live = cols().filterNot(_ == "k")
          op match {
            case "append" =>
              val batch = VersionedTable.read(spark, root).limit(0)
                .columns.foldLeft(spark.range(nextKey, nextKey + 5).toDF("k")) {
                  case (df, c) if c == "k" => df
                  case (df, c) => df.withColumn(c, col("k") + lit(j))
                }
              nextKey += 5
              VersionedTable.commit(batch, root, statsCols = Seq("k"))
              model = model.unionByName(batch, allowMissingColumns = true)
            case "rename" if live.nonEmpty =>
              gen += 1
              val from = live(j % live.size)
              val to = s"c$gen"
              VersionedTable.renameColumn(spark, root, from, to)
              model = model.withColumnRenamed(from, to)
            case "drop" if live.size > 1 =>
              val victim = live(j % live.size)
              VersionedTable.dropColumns(spark, root, Seq(victim))
              model = model.drop(victim)
            case "add" =>
              gen += 1
              val name = s"c$gen"
              VersionedTable.addColumns(spark, root, Seq(
                org.apache.spark.sql.types.StructField(name,
                  org.apache.spark.sql.types.LongType)))
              model = model.withColumn(name,
                lit(null).cast(org.apache.spark.sql.types.LongType))
            case "delete" =>
              val pred = col("k") % 7 === (j % 7).toLong
              VersionedTable.delete(spark, root, pred)
              model = model.filter(!coalesce(pred, lit(false)))
            case "update" if live.nonEmpty =>
              val c = live(j % live.size)
              val pred = col("k") % 5 === (j % 5).toLong
              VersionedTable.update(spark, root, pred,
                Map(c -> (coalesce(col(c), lit(0L)) + lit(1000L))))
              model = model.withColumn(c,
                when(coalesce(pred, lit(false)),
                  coalesce(col(c), lit(0L)) + lit(1000L)).otherwise(col(c)))
            case _ => () // guard-skipped op: no-op on both sides
          }
          val actual = VersionedTable.read(spark, root)
          assert(actual.columns.sorted.toSeq === model.columns.sorted.toSeq,
            s"schema diverged at step $j (${ops.mkString(",")}) seed $i")
          val aligned = model.select(actual.columns.map(col).toIndexedSeq: _*)
          assert(actual.exceptAll(aligned).isEmpty &&
            aligned.exceptAll(actual).isEmpty,
            s"values diverged at step $j (${ops.mkString(",")}) seed $i")
        }
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }
}
