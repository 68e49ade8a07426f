package graft.streaming

import java.nio.file.Files

import graft.features.Ohlc
import graft.sources.StreamSources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming feature maintenance: the incremental analogue of the
  * TimescaleDB continuous aggregates (`sql/timescaledb_schema.sql:60-65,
  * 154-159,173-178,233-238`) and the reference's own streaming job
  * (`spark/streaming_feature_updates.py:96-177`).
  *
  * Topology (mirrors the reference):
  *   file/Kafka source → trades projection → withWatermark(1 min) →
  *   windowed agg → sink (memory for tests; foreachBatch idempotent MERGE
  *   for the exactly-once path).
  *
  * Watermark ≈ the continuous aggregate's `end_offset`; trigger interval ≈
  * its `schedule_interval`. In production the trigger is ProcessingTime
  * (10 s ingest / 1 min OHLC); tests use Trigger.AvailableNow for a bounded,
  * deterministic replay of the same code path.
  *
  * **Storage layout.** Materialized keyed tables are parquet directories
  * partitioned by `part_date = to_date(<event-time column>)`. Every MERGE
  * computes the set of dates its batch touches and rewrites ONLY those
  * partitions (dynamic partition overwrite) — a refresh tick or micro-batch
  * costs O(touched partitions), not O(table). Untouched partitions' files are
  * never read or written (asserted byte-identical in PlanSpec). This is the
  * same layout a Delta/Iceberg MERGE INTO would use for data skipping; the
  * call sites do not change when swapping the table format in.
  */
object StreamingFeatures {

  private val runId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Partition column added to every materialized keyed table. */
  val PartCol = "part_date"

  /** Run the streaming 1-min OHLC over a bounded file source and return the
    * final result (complete-mode memory sink — the streaming state store does
    * the aggregation; results equal the batch recompute, which is the
    * batch-equivalence invariant the tests assert).
    */
  def streamingOhlcOnce(spark: SparkSession, eventsPath: String,
      watermark: String = "1 minute"): DataFrame = {
    val trades = StreamSources.tradeFileStream(spark, eventsPath)
    val bars = Ohlc.compute(trades.withWatermark("time", watermark))
    val name = s"stream_ohlc_${runId.incrementAndGet()}"
    val q = bars.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ckpt_").toString)
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** Streaming exact dedup with BOUNDED state: inject duplicates (a second
    * delivery of every 10th trade — the at-least-once shape), then
    * `dropDuplicatesWithinWatermark` on the natural key. State for a key is
    * dropped once the watermark passes its event time, so state size is
    * O(keys per watermark window), not O(all keys ever) — the scale-correct
    * form of the reference's DB-unique-key dedup backstop
    * (`ARCHITECTURE.md:49-55`). Output equals `SELECT DISTINCT` over the
    * duplicated input (the batch oracle).
    */
  def streamingDedupOnce(spark: SparkSession, eventsPath: String,
      watermark: String = "1 minute"): DataFrame = {
    val trades = StreamSources.tradeFileStream(spark, eventsPath)
    val withDups = trades.unionAll(
      StreamSources.tradeFileStream(spark, eventsPath)
        .filter(col("trade_id").cast("long") % 10 === 0))
    val deduped = withDups
      .withWatermark("time", watermark)
      .dropDuplicatesWithinWatermark("trade_id")
    val name = s"stream_dedup_${runId.incrementAndGet()}"
    val q = deduped.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ckpt_").toString)
      .start()
    q.awaitTermination()
    spark.table(name).select("time", "symbol", "trade_id", "price", "volume")
  }

  /** Stream-stream interval join with watermarks on BOTH sides: every large
    * trade (stream A, thresholds broadcast from a batch frame) paired with
    * all quotes (stream B) in its trailing `lookbackSec` window — the Flink
    * interval-join enrichment (`flink-jobs/market-realtime/
    * anomaly_detection.py`) on Spark's stream-stream join machinery.
    *
    * The time-range predicate is written directly on the event-time columns
    * (`quote_time BETWEEN time - W AND time`) so the engine derives state
    * watermarks from it: buffered rows older than `watermark + W` are evicted
    * — state is O(rate × (watermark + W)) per key, never unbounded. (Wrapping
    * the condition in `unix_micros` would defeat the range extraction and
    * buffer both streams forever — the stream-stream analogue of losing
    * predicate pushdown.)
    *
    * Batch twin: [[graft.asof.RangeJoin.within]] over the same inputs —
    * `q_range_join` and `q_stream_interval_join` share one DuckDB oracle, the
    * streaming/batch equivalence invariant applied to a two-stream operator.
    */
  def streamingIntervalJoinOnce(
      spark: SparkSession,
      eventsPath: String,
      thresholds: DataFrame,
      lookbackSec: Long = 3600,
      watermark: String = "2 hours"): DataFrame = {
    val largeTrades = StreamSources.tradeFileStream(spark, eventsPath)
      .join(broadcast(thresholds), Seq("symbol"))
      .filter(col("volume") > col("percentile_95"))
      .select(col("time"), col("symbol"), col("trade_id"))
      .withWatermark("time", watermark)
    val quotes = StreamSources.tradeFileStream(spark, eventsPath)
      .filter(col("bid").isNotNull && col("ask").isNotNull)
      .select(col("time").as("quote_time"), col("symbol").as("q_symbol"),
        graft.functions.Quantize.r((col("bid") + col("ask")) / 2, 6).as("mid"))
      .withWatermark("quote_time", watermark)
    val joined = largeTrades.join(
      quotes,
      col("symbol") === col("q_symbol") &&
        col("quote_time") >= col("time") - expr(s"INTERVAL $lookbackSec SECONDS") &&
        col("quote_time") <= col("time"),
      "inner")
    val name = s"stream_ij_${runId.incrementAndGet()}"
    val q = joined.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ckpt_").toString)
      .start()
    q.awaitTermination()
    spark.table(name).select("time", "symbol", "trade_id", "quote_time", "mid")
  }

  /** Stream-stream LEFT OUTER interval join: as
    * [[streamingIntervalJoinOnce]], but large trades with NO qualifying
    * quote in their lookback window still emit — with null quote columns —
    * once the watermark passes their window (Spark holds an unmatched left
    * row in state until no future right row could match it). This is the
    * semantics the inner join cannot express: "every large trade, with its
    * context quote IF one existed".
    *
    * Watermark caveat, by design: unmatched rows inside the final
    * (watermark + lookback) tail of a bounded replay are still in state
    * when the stream ends — exactly as they would be on a live stream
    * awaiting more data — so consumers (and the oracle) must gate on the
    * CLOSED region, `time < max(time) - watermark - lookback`.
    */
  def streamingIntervalLeftJoinOnce(
      spark: SparkSession,
      eventsPath: String,
      thresholds: DataFrame,
      lookbackSec: Long = 3600,
      watermark: String = "2 hours"): DataFrame = {
    val largeTrades = StreamSources.tradeFileStream(spark, eventsPath)
      .join(broadcast(thresholds), Seq("symbol"))
      .filter(col("volume") > col("percentile_95"))
      .select(col("time"), col("symbol"), col("trade_id"))
      .withWatermark("time", watermark)
    val quotes = StreamSources.tradeFileStream(spark, eventsPath)
      .filter(col("bid").isNotNull && col("ask").isNotNull)
      .select(col("time").as("quote_time"), col("symbol").as("q_symbol"),
        graft.functions.Quantize.r((col("bid") + col("ask")) / 2, 6).as("mid"))
      .withWatermark("quote_time", watermark)
    val joined = largeTrades.join(
      quotes,
      col("symbol") === col("q_symbol") &&
        col("quote_time") >= col("time") - expr(s"INTERVAL $lookbackSec SECONDS") &&
        col("quote_time") <= col("time"),
      "leftOuter")
    val name = s"stream_ilj_${runId.incrementAndGet()}"
    val q = joined.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ckpt_").toString)
      .start()
    q.awaitTermination()
    spark.table(name).select("time", "symbol", "trade_id", "quote_time", "mid")
  }

  /** The event-time column used to derive the table's date partition:
    * `bucket` for aggregate tables, `time` for raw-row tables, none when the
    * frame carries no event time (the merge then degrades to a single
    * unpartitioned rewrite — correct, just not incremental).
    */
  private def partitionTimeCol(batch: DataFrame): Option[String] =
    Seq("bucket", "time").find(batch.columns.contains)

  /** Central-schema sidecar (`_schema.json`, underscore-prefixed so parquet
    * readers ignore it): written by every merge before its data lands
    * (ahead of the partition swap; inside the staged dir of a full
    * rewrite), it plays the role a table format's metastore schema
    * does — readers and merges see additively-evolved columns WITHOUT an
    * O(all-file-footers) mergeSchema pass, keeping each merge O(touched
    * partitions) regardless of table age. Tables written before the sidecar existed fall back to
    * mergeSchema once; their next merge writes the sidecar.
    */
  private def sidecarFile(tablePath: String) =
    new java.io.File(tablePath, "_schema.json")

  /** Write-to-temp-then-rename: a crash mid-write must never leave a
    * truncated sidecar (readers would then throw on every read until it is
    * hand-deleted — the one failure mode worse than no sidecar at all).
    * POSIX rename within a directory is atomic; object stores get the same
    * effect from their PUT semantics.
    */
  private def writeSchemaSidecar(tablePath: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val target = sidecarFile(tablePath).toPath
    val tmp = target.resolveSibling("._schema.json.tmp")
    java.nio.file.Files.write(tmp, schema.json.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** The sidecar's schema, if a readable sidecar exists. A corrupt/
    * truncated sidecar (pre-atomic-write crash artifact) must degrade to
    * the mergeSchema path, not poison every read.
    */
  private def readSidecarSchema(
      tablePath: String): Option[org.apache.spark.sql.types.StructType] = {
    val sc = sidecarFile(tablePath)
    if (!sc.exists()) None
    else
      scala.util.Try {
        org.apache.spark.sql.types.DataType
          .fromJson(new String(java.nio.file.Files.readAllBytes(sc.toPath), "UTF-8"))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      }.toOption
  }

  private def readTable(spark: SparkSession, tablePath: String): DataFrame = {
    readSidecarSchema(tablePath) match {
      case Some(schema) => spark.read.schema(schema).parquet(tablePath)
      case None => spark.read.option("mergeSchema", "true").parquet(tablePath)
    }
  }

  /** Read a materialized keyed table WITHOUT the internal partition column.
    * Evolved columns resolve through the schema sidecar (O(1)), not a
    * footer sweep.
    */
  def readKeyedTable(spark: SparkSession, tablePath: String): DataFrame = {
    val df = readTable(spark, tablePath)
    if (df.columns.contains(PartCol)) df.drop(PartCol) else df
  }

  /** Idempotent MERGE sink: upsert a micro-batch into a date-partitioned
    * parquet "table" dir keyed on (time, symbol, trade_id) — the Spark
    * analogue of the reference's `INSERT ... ON CONFLICT DO UPDATE` JDBC sink
    * (`enhanced_anomaly_detection.py:176-201`) and its DB-unique-key
    * exactly-once backstop (`ARCHITECTURE.md:49-55`). Replays of the same
    * batch (crash/restart) leave the table unchanged.
    *
    * Scale shape: the batch's touched `part_date`s are collected (a handful
    * of dates — the only driver-side value), the existing table is read
    * partition-pruned to those dates, merged, and written back with DYNAMIC
    * partition overwrite — so a refresh tick rewrites O(touched partitions)
    * bytes while every other partition's files stay untouched on disk. On a
    * cluster this is a Delta/Iceberg MERGE INTO with the same key and the
    * same date partitioning — the call site does not change.
    */
  def mergeIntoKeyed(spark: SparkSession, tablePath: String, batch: DataFrame,
      keys: Seq[String] = Seq("time", "symbol", "trade_id")): Unit = {
    // MERGE precedence must be deterministic: the incoming batch WINS on key
    // collision (upsert semantics, like `ON CONFLICT DO UPDATE`). A
    // dropDuplicates over the union would keep an arbitrary row — fine for
    // identical replays, wrong for refresh-style updates where stale and
    // fresh rows differ. So: keep existing rows only where no fresh row
    // shares the key (left_anti), then union the batch.
    val deduped = batch.dropDuplicates(keys)
    val exists = new java.io.File(tablePath).exists()
    // The EXISTING table's layout wins: a legacy/unpartitioned table keeps
    // merging unpartitioned (schema-stable for its readers — migrate with
    // one explicit partitioned rewrite), and a partitioned table accepts a
    // batch without an event-time column by parking those rows in the null
    // partition (degenerate: no pruning possible, whole table read).
    // Layout detection from the O(1) schema sidecar when one exists (every
    // merge writes it) — the footer-inference read is only the FIRST
    // merge's (or a foreign table's) fallback, not a per-merge tax.
    val existingHasPart = exists && graft.BenchProbe.time("merge.layout") {
      readSidecarSchema(tablePath)
        .map(_.fieldNames.contains(PartCol))
        .getOrElse(spark.read.parquet(tablePath).columns.contains(PartCol))
    }
    val batchPartable =
      batch.columns.contains(PartCol) || partitionTimeCol(batch).isDefined
    val partitioned = if (exists) existingHasPart else batchPartable
    val withPart0 =
      // An UNPARTITIONED table must never absorb the internal partition
      // column as data (a batch read back from a partitioned sibling table
      // carries it): kept, it would flip the NEXT merge's layout detection
      // to partitioned and orphan the root-level files. Strip it — the
      // additive-evolution path is for USER columns only.
      if (!partitioned) deduped.drop(PartCol)
      else if (batch.columns.contains(PartCol)) deduped
      else partitionTimeCol(batch) match {
        case Some(tc) => deduped.withColumn(PartCol, to_date(col(tc)))
        case None     => deduped.withColumn(PartCol, lit(null).cast("date"))
      }
    // The batch executes twice on the partitioned path (touched-dates
    // collect, then the write) — pin it so the upstream aggregation runs
    // once. A micro-batch/refresh window is bounded, so this is small.
    val withPart =
      if (partitioned && exists)
        withPart0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else withPart0
    // A null-parked batch (no event-time column) may collide with keys in
    // ANY date partition — pruning is only sound when the batch's dates are
    // real.
    val prune = batchPartable
    try {
      mergeAndWrite(spark, tablePath, withPart, keys, partitioned, exists, prune)
    } finally {
      if (withPart ne withPart0) withPart.unpersist(blocking = false)
    }
  }

  private def mergeAndWrite(spark: SparkSession, tablePath: String,
      withPart: DataFrame, keys: Seq[String], partitioned: Boolean,
      exists: Boolean, prune: Boolean): Unit = {
    val merged = if (!exists) {
      withPart
    } else {
      // sidecar schema (or a one-time mergeSchema fallback): an evolved
      // column that only newer partitions carry must be visible to the
      // merge, whichever file Spark would sample first
      val existingAll = readTable(spark, tablePath)
      // Partition pruning: only the dates the batch touches are read (and
      // later rewritten). The collect is a handful of date scalars.
      val existing =
        if (partitioned && prune && existingAll.columns.contains(PartCol)) {
          val touched = graft.BenchProbe.time("merge.dates") {
            withPart.select(PartCol).distinct().collect() }.map(_.get(0))
          val nonNull = touched.filter(_ != null).toSeq
          val base =
            if (nonNull.isEmpty) lit(false) else col(PartCol).isin(nonNull: _*)
          // isin never matches NULL — a null event time lands in the default
          // partition and must be merged null-safely too
          val pred = if (touched.contains(null)) base || col(PartCol).isNull else base
          existingAll.filter(pred)
        } else existingAll
      // ADDITIVE schema evolution (table-format semantics): a batch may
      // bring NEW columns — kept, with existing rows null-filled — but must
      // cover every existing column (a shrunken batch fails LOUDLY instead
      // of silently nulling table data).
      val missing = existing.columns.diff(withPart.columns)
      require(missing.isEmpty,
        s"merge batch is missing table columns: ${missing.mkString(", ")}")
      val b = withPart
      // null-SAFE key equality (<=>): a plain equi-anti-join never matches
      // NULL keys, so a replayed batch row with a NULL key column would be
      // appended again on every replay, breaking idempotence
      val bk = b.select(keys.map(k => col(k).as(s"__k_$k")): _*)
      val cond = keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
      existing.join(bk, cond, "left_anti")
        .unionByName(b, allowMissingColumns = true)
    }

    if (partitioned) {
      // Stage-then-swap: `merged` lazily reads tablePath itself, so it must
      // never be computed WHILE the target partitions are being deleted.
      // The r17 form paid a full localCheckpoint materialization (store
      // every merged row to blocks) + a second pass writing the blocks out
      // under dynamic partition overwrite; writing the plan ONCE to a
      // sibling staging dir and swapping the touched `part_date=` dirs in
      // by O(dates) same-filesystem renames does the same work in one
      // execution with the same per-partition commit granularity (a
      // mid-swap crash leaves a subset of touched dates rewritten — the
      // idempotent merge re-run repairs it, exactly as with dynamic
      // overwrite's per-partition commit).
      val stage = tablePath + s"_stage_${java.util.UUID.randomUUID.toString.take(8)}"
      try {
        graft.BenchProbe.time("merge.write") {
          merged.write.mode("overwrite").partitionBy(PartCol).parquet(stage)
        }
        // the sidecar goes in BEFORE the swap: a crash between the two then
        // leaves a sidecar naming a column no swapped file carries yet
        // (read back null-filled, as additive evolution does anyway), never
        // swapped files carrying a column the sidecar hides
        new java.io.File(tablePath).mkdirs()
        writeSchemaSidecar(tablePath, merged.schema)
        graft.BenchProbe.time("merge.swap") {
          Option(new java.io.File(stage).listFiles()).toSeq.flatten
            .filter(f => f.isDirectory && f.getName.startsWith(s"$PartCol="))
            .foreach { d =>
              val target = new java.io.File(tablePath, d.getName)
              if (target.exists()) {
                import scala.reflect.io.Directory
                new Directory(target).deleteRecursively()
              }
              java.nio.file.Files.move(d.toPath, target.toPath)
            }
        }
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(stage)).deleteRecursively()
      }
    } else {
      // No event-time column: single-partition table, full rewrite (staged
      // through a temp dir so a crash never leaves a half-written table).
      // The sidecar is written into the staged dir, so it moves in with
      // the data it describes.
      val tmp = tablePath + "_tmp"
      graft.BenchProbe.time("merge.write") {
        merged.write.mode("overwrite").parquet(tmp) }
      writeSchemaSidecar(tmp, merged.schema)
      val target = new java.io.File(tablePath)
      if (target.exists()) {
        import scala.reflect.io.Directory
        new Directory(target).deleteRecursively()
      }
      new java.io.File(tmp).renameTo(target)
    }
  }

  /** Production two-query topology builder — the reference's streaming main
    * (`spark/streaming_feature_updates.py:147-177`): a raw-ingest query on a
    * 10 s ProcessingTime trigger and a watermarked 1-min OHLC query on a
    * 1 min trigger, sharing one session; callers `.start()` both and await
    * both. Returned unstarted so tests can swap triggers/sinks.
    */
  def productionQueries(
      source: org.apache.spark.sql.DataFrame,
      rawPath: String,
      barsPath: String,
      checkpointRoot: String): (
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]) = {
    val rawQ = source.writeStream
      .format("parquet").option("path", rawPath)
      .option("checkpointLocation", s"$checkpointRoot/raw")
      .trigger(Trigger.ProcessingTime("10 seconds"))
    val barsQ = Ohlc.compute(source.withWatermark("time", "1 minute"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        mergeIntoKeyed(batch.sparkSession, barsPath, batch, Seq("bucket", "symbol"))
      }
      .outputMode("update")
      .option("checkpointLocation", s"$checkpointRoot/bars")
      .trigger(Trigger.ProcessingTime("1 minute"))
    (rawQ, barsQ)
  }

  /** A window-compute function for [[refreshAggregate]]: given the FULL
    * source, the refresh window `[loMicros, hiEndMicros)` (both already
    * bucket-aligned) and the bar width in seconds, return the fresh
    * aggregate rows for that window. `bucketSec` arrives from
    * [[refreshAggregate]] itself, so edge snapping and bar width cannot be
    * configured apart — a disagreement would recreate the partial-
    * boundary-bar corruption the snapping prevents.
    */
  type ComputeWindow = (DataFrame, Long, Long, Long) => DataFrame

  /** Adapt a bucketed aggregate (trades, interval string => bars) into a
    * [[ComputeWindow]] by slicing the source to the refresh window. Correct
    * for aggregates whose buckets depend only on rows INSIDE the bucket
    * (OHLC, VWAP, imbalance); aggregates with cross-bucket lookback
    * (volatility's lag) need a custom ComputeWindow that warms the lookback
    * — see [[graft.features.Volatility.computeWindowed]].
    */
  def sliced(compute: (DataFrame, String) => DataFrame,
      timeCol: String = "time"): ComputeWindow =
    (src, lo, hiEnd, bucketSec) =>
      compute(src.filter(
        unix_micros(col(timeCol)) >= lo && unix_micros(col(timeCol)) < hiEnd),
        s"$bucketSec seconds")

  /** Incremental refresh of a continuous aggregate — the batch-scheduled
    * analogue of TimescaleDB's refresh policies
    * (`sql/timescaledb_schema.sql:60-65,154-159,173-178,233-238`:
    * start_offset/end_offset/schedule_interval), generalized over the
    * aggregate like `add_continuous_aggregate_policy` is. Recomputes only the
    * bars in `[anchor − startOffset, anchor − endOffset]` (anchor = newest
    * event time, deterministic) and MERGEs them into the date-partitioned
    * feature table — only the touched date partitions are rewritten, older
    * bars stay byte-untouched on disk, re-runs are idempotent.
    */
  def refreshAggregate(
      spark: SparkSession,
      source: DataFrame,
      tablePath: String,
      computeWindow: ComputeWindow,
      bucketSec: Long,
      keys: Seq[String] = Seq("bucket", "symbol"),
      startOffsetSec: Long = 3600,
      endOffsetSec: Long = 0,
      timeCol: String = "time"): DataFrame = {
    // single scalar to the driver — the only driver-side value in the op
    val anchorRow = source.agg(max(unix_micros(col(timeCol)))).collect()(0)
    if (anchorRow.isNullAt(0)) {
      // empty source (fresh deployment / upstream outage): refresh is a no-op
      return if (new java.io.File(tablePath).exists()) readKeyedTable(spark, tablePath)
      else computeWindow(source, 0L, 0L, bucketSec) // empty frame, table schema
    }
    val anchorMicros = anchorRow.getLong(0)
    backfillRange(spark, source, tablePath, computeWindow, bucketSec, keys,
      anchorMicros - startOffsetSec * 1000000L,
      anchorMicros - endOffsetSec * 1000000L)
  }

  /** Targeted BACKFILL: recompute an explicit `[rawLo, rawHi]` (micros)
    * slice of a continuous aggregate and MERGE it in — the repair path for
    * a corrupted/lost range of history, and the shared core
    * [[refreshAggregate]]'s anchor-relative policy reduces to. Both window
    * edges snap OUTWARD to bucket boundaries (a mid-bucket edge would
    * recompute its boundary bucket from only part of that bucket's rows
    * and merge a partial bar over a complete one); cost is
    * O(touched partitions) like every keyed merge.
    */
  def backfillRange(
      spark: SparkSession,
      source: DataFrame,
      tablePath: String,
      computeWindow: ComputeWindow,
      bucketSec: Long,
      keys: Seq[String],
      rawLo: Long,
      rawHi: Long): DataFrame = {
    val bucketMicros = bucketSec * 1000000L
    val lo = Math.floorDiv(rawLo, bucketMicros) * bucketMicros
    val hiEnd = (Math.floorDiv(rawHi, bucketMicros) + 1) * bucketMicros
    // bucketSec drives the edge snapping AND (through ComputeWindow) the
    // bar width, so they cannot disagree
    val fresh = computeWindow(source, lo, hiEnd, bucketSec)
    mergeIntoKeyed(spark, tablePath, fresh, keys = keys)
    readKeyedTable(spark, tablePath)
  }

  /** OHLC instantiation of [[refreshAggregate]] — the reference's
    * `ohlc_1min` refresh policy (`sql/timescaledb_schema.sql:60-65`).
    */
  def refreshOhlcAggregate(
      spark: SparkSession,
      trades: org.apache.spark.sql.DataFrame,
      tablePath: String,
      startOffsetSec: Long = 3600,
      endOffsetSec: Long = 0,
      bucketSec: Long = 60): org.apache.spark.sql.DataFrame =
    refreshAggregate(spark, trades, tablePath, sliced(Ohlc.compute),
      bucketSec, Seq("bucket", "symbol"), startOffsetSec, endOffsetSec)

  /** Stream the events file into a keyed parquet table via foreachBatch
    * MERGE, then replay the whole input once more to prove idempotence, and
    * return the final table. Exercises: streaming scan, foreachBatch sink,
    * AvailableNow trigger, checkpointing, idempotent upsert.
    */
  def exactlyOnceIngest(spark: SparkSession, eventsPath: String, outDir: String): DataFrame = {
    val trades = StreamSources.tradeFileStream(spark, eventsPath)
    val q = trades.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        mergeIntoKeyed(batch.sparkSession, outDir, batch)
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("graft_ckpt_").toString)
      .start()
    q.awaitTermination()
    // Simulated at-least-once replay: the whole input delivered again.
    mergeIntoKeyed(spark, outDir, StreamSources.projectTrades(
      graft.core.Tables.table(spark, new java.io.File(eventsPath).getParent, "events")))
    readKeyedTable(spark, outDir)
  }

  /** Exactly-once streaming ingest into a [[graft.sources.VersionedTable]]:
    * micro-batch N commits as version N+1 via [[graft.sources.VersionedTable.idempotentCommit]],
    * so an at-least-once redelivery finds its version already in the commit
    * log and is absorbed — transactional-sink semantics from the version
    * mapping alone, no key-based MERGE needed (and unlike MERGE, the
    * absorbed replay does zero data I/O: one manifest existence check).
    * Caller must ensure the source replays with stable batch contents
    * (single-batch `AvailableNow` here, asserted by the registry twin).
    */
  def versionedIngest(spark: SparkSession, eventsPath: String, root: String): DataFrame = {
    import graft.sources.VersionedTable
    val trades = StreamSources.tradeFileStream(spark, eventsPath)
    val q = trades.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        VersionedTable.idempotentCommit(batch, root, batchId.toInt + 1)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("graft_ckpt_").toString)
      .start()
    q.awaitTermination()
    // Simulated at-least-once redelivery of batch 0: same version target,
    // absorbed by the commit log (idempotentCommit returns false).
    val redelivered = StreamSources.projectTrades(
      graft.core.Tables.table(spark, new java.io.File(eventsPath).getParent, "events"))
    require(!VersionedTable.idempotentCommit(redelivered, root, 1),
      "replayed batch was committed twice — exactly-once broken")
    VersionedTable.read(spark, root)
  }

  /** Streaming UPSERT into a versioned table — the reference's idempotent
    * feature-store MERGE (`spark/streaming_feature_updates.py`) with the
    * transaction point in the commit log: each chronological micro-batch
    * reduces to a key-unique per-symbol latest-tick frame (max of the
    * (t_us, tid, price) struct — deterministic, (t_us, tid) is unique) and
    * lands through [[graft.sources.VersionedTable.transactionalMerge]];
    * later batches REPLACE a symbol's state, so the final table is each
    * symbol's last tick over the whole corpus. Batch 0 seeds the table
    * (transactionalCommit carrying the key/time indexing discipline every
    * later merge inherits); a simulated redelivery of the final batch must
    * be absorbed by the txn mark. Returns the final per-symbol state.
    *
    * Scale shape: per batch, ONE shuffle of the BATCH (the groupBy) + a
    * merge whose table-side cost is the touched dirs — the table itself
    * (one row per live symbol) is never scanned wholesale.
    */
  def versionedUpsert(spark: SparkSession, eventsPath: String, root: String,
      mor: Boolean = false): DataFrame = {
    import graft.sources.VersionedTable
    val appId = "graft-upsert"
    def latestPerSymbol(batch: DataFrame): DataFrame = batch
      .select(col("symbol"), unix_micros(col("time")).as("t_us"),
        col("trade_id").cast("long").as("tid"), col("price"))
      .groupBy("symbol")
      .agg(max(struct(col("t_us"), col("tid"), col("price"))).as("m"))
      .select(col("symbol"), col("m.t_us").as("t_us"), col("m.tid").as("tid"),
        col("m.price").as("last_price"))
    var lastBatch = -1L
    val trades = StreamSources.chronoBatchedTradeStream(spark, eventsPath)
    val q = trades.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val perSym = latestPerSymbol(batch)
        if (VersionedTable.latestVersion(root).isEmpty)
          VersionedTable.transactionalCommit(perSym, root, appId, batchId,
            statsCols = Seq("t_us"), bloomCols = Seq("symbol"))
        else if (mor)
          // merge-on-read sink: each batch commits O(batch + matched) —
          // matched keys' positions land in a deletion vector, the batch
          // as one dir, NOTHING rewritten (the high-frequency shape)
          VersionedTable.transactionalMergeMor(perSym, root, appId, batchId,
            "symbol")
        else
          // CDF defaults OFF (graft.cdf.enabled unset): this table has no
          // change-feed subscriber by construction — the subscriber-fed
          // upsert loop (which opts in because someone reads the images)
          // is cdfUpsertRefresh / q_stream_cdf_upsert
          VersionedTable.transactionalMerge(perSym, root, appId, batchId,
            "symbol")
        lastBatch = math.max(lastBatch, batchId)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("graft_ckpt_").toString)
      .start()
    q.awaitTermination()
    require(lastBatch >= 0, "stream produced no batches")
    // At-least-once redelivery of the final batch: the txn high-water mark
    // absorbs it — no new version, no double-applied upsert.
    val replay = latestPerSymbol(
      StreamSources.projectTrades(graft.core.Tables.table(
        spark, new java.io.File(eventsPath).getParent, "events")))
    val reapplied =
      if (mor)
        VersionedTable.transactionalMergeMor(replay, root, appId, lastBatch, "symbol")
      else
        VersionedTable.transactionalMerge(replay, root, appId, lastBatch, "symbol")
    require(!reapplied,
      "redelivered merge batch was applied twice — exactly-once broken")
    VersionedTable.read(spark, root).select("symbol", "t_us", "last_price")
  }

  /** The reference's full real-time loop over the commit log, now WITHOUT
    * the resync trap: chronological upsert batches maintain a silver
    * latest-per-symbol table via `MERGE` commits (the `INSERT … ON
    * CONFLICT DO UPDATE` path, `enhanced_anomaly_detection.py:176-201`),
    * and a DOWNSTREAM subscriber consumes the silver table's ROW-LEVEL
    * change feed (`readChangeFeed` — insert / update_preimage /
    * update_postimage images persisted by the MERGE kernel), folding each
    * micro-batch into a bucketed aggregate with RETRACTABLE monoids
    * ([[graft.operators.IncrementalAgg.aggregateChanges]]): a symbol's
    * price update retracts its old contribution exactly. Every fold is an
    * idempotent versioned commit keyed by batch id, so the agg state is a
    * signed delta log whose sum IS the answer — exactly-once end to end.
    *
    * Two drains on ONE checkpoint prove O(delta) subscription: catch-up
    * over the first upserts, then a delta-only second drain after a final
    * upsert (pre-r14 this composition was impossible — every merge commit
    * forced the subscriber into a full resync, O(table) per batch at
    * 100 TB). Returns the downstream rollup; its oracle is the plain
    * batch answer over the FINAL table — subscription order, batch
    * boundaries, and update churn must not matter.
    */
  def cdfUpsertRefresh(spark: SparkSession, eventsPath: String,
      silverRoot: String, aggRoot: String): DataFrame = {
    import graft.operators.IncrementalAgg
    import graft.sources.VersionedTable
    val appId = s"graft-cdf-upsert-${runId.incrementAndGet()}"
    def latestPerSymbol(batch: DataFrame): DataFrame = batch
      .select(col("symbol"), unix_micros(col("time")).as("t_us"),
        col("trade_id").cast("long").as("tid"), col("price"))
      .groupBy("symbol")
      .agg(max(struct(col("t_us"), col("tid"), col("price"))).as("m"))
      .select(col("symbol"), col("m.t_us").as("t_us"), col("m.tid").as("tid"),
        col("m.price").as("last_price"))
    // CDF is OPT-IN per table (graft.cdf.enabled, Delta's
    // delta.enableChangeDataFeed semantics): this silver table HAS a
    // row-level subscriber, so it pays the O(changed rows) image write
    VersionedTable.setTableProperties(silverRoot,
      Map(VersionedTable.CdfEnabledProp -> "true"))
    val split = StreamSources.chronoSplitDir(spark, eventsPath, 3)
    def land(b: Int): Unit = {
      val perSym = latestPerSymbol(
        StreamSources.projectTrades(spark.read.parquet(s"$split/f$b.parquet")))
      if (VersionedTable.latestVersion(silverRoot).isEmpty)
        VersionedTable.transactionalCommit(perSym, silverRoot, appId, b,
          statsCols = Seq("t_us"), bloomCols = Seq("symbol"))
      else VersionedTable.transactionalMerge(perSym, silverRoot, appId, b, "symbol")
      ()
    }
    val ckpt = Files.createTempDirectory("graft_cdfup_ckpt_").toString
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft-changefeed")
        .option("root", silverRoot)
        .option("readChangeFeed", "true")
        .load()
        .select(substring(col("symbol"), -1, 1).as("bucket"),
          graft.functions.Quantize.i(col("last_price"), 4).as("price_e4"),
          col("_change_type"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          VersionedTable.idempotentCommit(
            IncrementalAgg.aggregateChanges(batch, Seq("bucket"), Seq("price_e4")),
            aggRoot, id.toInt + 1)
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    land(0); land(1)
    drainOnce() // catch-up: the append + a merge commit, row-level images
    land(2)
    drainOnce() // SAME checkpoint: only the final merge's images are read
    VersionedTable.read(spark, aggRoot)
      .groupBy("bucket")
      .agg(sum(col("n_rows")).as("n"),
        (sum(col("sum_price_e4")) / lit(10000.0)).as("sum_price"))
      .filter(col("n") =!= 0L)
  }
}
