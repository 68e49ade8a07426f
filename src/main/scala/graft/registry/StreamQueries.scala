package graft.registry

import java.nio.file.Files

import graft.core.Tables
import graft.features.LargeTrades
import graft.sources.{AvroCodec, StreamSources}
import graft.streaming.{OrderedCep, OrderedCusum, StreamingFeatures}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-path queries, runnable under the batch Verify/Bench harness via
  * `Trigger.AvailableNow` bounded replays of the real streaming code paths
  * (file source → watermark → stateful op → sink). Each is checked against
  * the SAME batch oracle as its declarative twin — the streaming/batch
  * equivalence invariant.
  */
object StreamQueries {
  import OracleSql.withTrades

  type Q = (SparkSession, String) => DataFrame

  /** Standardized CUSUM observations over any trades-shaped stream: batch
    * mu/sigma broadcast, z quantized BEFORE the fold (cross-engine bit
    * agreement), null/zero-sigma symbols excluded. The single construction
    * both CUSUM queries, the StreamingSpec replays, and the shared
    * `cusumOracleSql` depend on bit-for-bit.
    */
  def cusumZ(s: SparkSession, d: String, tradesStream: DataFrame): DataFrame = {
    // staged (guide §1.2): the static side of a stream-static join is
    // re-planned AND re-executed by IncrementalExecution on every
    // micro-batch — unstaged, each replay batch pays the full per-symbol
    // aggregate over the corpus again; staged, batches read the bounded
    // stat frame's stored blocks.
    val stats = graft.core.Staging.stage(
      Tables.trades(s, d).groupBy("symbol").agg(
        graft.functions.Quantize.r(avg(col("price")), 6).as("mu"),
        graft.functions.Quantize.r(stddev_samp(col("price")), 6).as("sigma"))
      .filter(col("sigma").isNotNull && col("sigma") > 0))
    tradesStream
      .join(broadcast(stats), Seq("symbol"))
      .select(col("time"), col("trade_id"), col("symbol"),
        graft.functions.Quantize.r(
          (col("price") - col("mu")) / col("sigma"), 6).as("z"))
  }

  /** Replay shuffle/state width derived from the corpus' on-disk bytes —
    * the guide's scale-adaptive partitioning (§2), same pattern as
    * [[graft.ext.DupClusters]]' edge-count-derived graph width: a bounded
    * replay's per-batch FIXED cost is one state-store instance (open +
    * commit + checkpoint upload) and one task per partition PER stateful
    * op PER micro-batch, so width must track data, not the core count.
    * ~32 MB of input per partition (≈128 MB decompressed rows), floor 2
    * (never serial), capped at the session width so a genuinely large
    * corpus keeps full parallelism. The driver-side size probe is one
    * Hadoop `FileSystem.getContentSummary` — no data read, and the same
    * answer for a plain path, a `file:` URI or an object-store URI. A
    * probe that reads 0 bytes fails: a silent 0 would pin the replay to
    * the floor width at exactly the scale the width exists for.
    */
  def replayWidth(s: SparkSession, sourcePath: String): Int = {
    val path = new org.apache.hadoop.fs.Path(sourcePath)
    val bytes = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(path).getLength
    require(bytes > 0, s"replay corpus $sourcePath sized 0 bytes")
    val sessionWidth = s.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(2, math.min(sessionWidth,
      (bytes / (32L * 1024 * 1024)).toInt + 1))
  }

  /** Bounded-replay session tuning: these replays end in ≤ thousands of
    * rows, so 32 state/shuffle partitions is pure per-batch overhead (32
    * state-store instances + checkpoint uploads per stateful op). The
    * width derives from the corpus size ([[replayWidth]]; callers without
    * a source path keep the legacy fixed 8) with no semantic change
    * (state partitioning is internal; per-key processing is
    * partition-count-independent), and RocksDB changelog checkpointing
    * uploads deltas instead of full snapshots. Restores the session conf
    * after — batch queries keep the session's parallelism. Single-query-
    * at-a-time assumption: a concurrent query planned on the same session
    * during the window would inherit the replay width.
    */
  def withReplayConf[T](s: SparkSession, sourcePath: String = null)(body: => T): T = {
    val partsKey = "spark.sql.shuffle.partitions"
    val clogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevParts = s.conf.get(partsKey)
    val prevClog = s.conf.getOption(clogKey)
    val width =
      if (sourcePath == null) 8 else replayWidth(s, sourcePath)
    s.conf.set(partsKey, width.toString)
    s.conf.set(clogKey, "true")
    try body
    finally {
      s.conf.set(partsKey, prevParts)
      prevClog match {
        case Some(v) => s.conf.set(clogKey, v)
        case None    => s.conf.unset(clogKey)
      }
    }
  }

  /** The versioned-sink replay simulates an at-least-once REDELIVERY of
    * micro-batch 0 after the run, which presumes batch 0 was the whole
    * corpus — a single input FILE under AvailableNow with no
    * maxFilesPerTrigger is exactly one micro-batch. Assert that shape
    * loudly instead of letting a directory input silently change what the
    * redelivery simulation re-sends. (The CEP/CUSUM primaries no longer
    * need this: they run the event-time-ordered transformWithState
    * processors, exact under any batching.)
    */
  private def requireSingleBatchSource(path: String): Unit =
    require(new java.io.File(path).isFile,
      s"the batch-0 redelivery simulation requires single-batch delivery: " +
        s"$path must be one file")

  /** Bounded replay of a transformWithState dataset into `out`, with the
    * RocksDB state store (the arbitrary-state API needs multi-column-family
    * support) scoped to the query and the session default restored after.
    */
  def runOrderedTws[T](s: SparkSession, ds: org.apache.spark.sql.Dataset[T],
      out: String, src: String = null): Unit = withReplayConf(s, src) {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Measured and NOT kept (r18 A/B): rocksdb.trackTotalNumberOfRows=false
    // — flat to slightly negative on every TWS replay (these stores are
    // small; the per-put count maintenance is not where the time goes).
    try {
      val q = ds.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[T], _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .outputMode("update").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", Files.createTempDirectory("graft_ckpt_").toString)
        .start()
      q.awaitTermination()
    } finally {
      prevProvider match {
        case Some(p) => s.conf.set(providerKey, p)
        case None => s.conf.unset(providerKey)
      }
    }
  }

  /** Backwards-compatible alias used by the ordered-CUSUM replays. */
  def runOrderedCusum(s: SparkSession, obs: DataFrame, out: String,
      src: String = null): Unit =
    runOrderedTws(s, OrderedCusum.monitor(obs), out, src)

  /** Last emission per key from an ordered-CUSUM replay dump: total consumed
    * (`n_folded + n_late`) is strictly monotone per emission, so max_by on it
    * is the final state.
    */
  def lastOrderedCusumRows(dump: DataFrame): DataFrame =
    dump.groupBy("symbol")
      .agg(max_by(
        struct(col("cusum_pos"), col("cusum_neg"), col("n_alerts"),
          col("n_folded"), col("n_late")),
        col("n_folded") + col("n_late")).as("r"))
      .select(col("symbol"), col("r.cusum_pos"), col("r.cusum_neg"),
        col("r.n_alerts"), col("r.n_folded"), col("r.n_late"))

  val queries: Map[String, Q] = Map(
    // Streaming OHLC (watermark + tumbling window + memory sink).
    "q_stream_ohlc" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      StreamingFeatures.streamingOhlcOnce(s, s"$d/events.parquet") }),

    // Exactly-once ingest: foreachBatch idempotent MERGE + full replay.
    "q_stream_merge" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      val out = Files.createTempDirectory("graft_merge_").toString + "/t"
      StreamingFeatures.exactlyOnceIngest(s, s"$d/events.parquet", out)
        .select("time", "symbol", "trade_id", "price", "volume")
    }),

    // Exactly-once ingest into the VERSIONED table: micro-batch N commits
    // as version N+1; the simulated redelivery of batch 0 is absorbed by
    // the commit log (one manifest check, zero data I/O — the
    // transactional-sink alternative to the key-based MERGE above).
    "q_stream_versioned" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      requireSingleBatchSource(s"$d/events.parquet")
      val root = Files.createTempDirectory("graft_vtsink_").toString
      StreamingFeatures.versionedIngest(s, s"$d/events.parquet", root)
        .select("time", "symbol", "trade_id", "price", "volume")
    }),

    // Streaming UPSERT into the versioned table: three chronological
    // micro-batches each reduce to a key-unique per-symbol latest tick and
    // land through transactionalMerge (batch 0 seeds via
    // transactionalCommit with the indexing discipline later merges
    // inherit); a redelivery of the final batch is absorbed by the txn
    // high-water mark inside the query. Oracle = the rn=1 window over the
    // raw table: chronological upserts must converge to each symbol's
    // last tick exactly.
    // BenchProbe phases: the chrono-split corpus build is shared harness
    // (cached per JVM — whichever stream query runs first pays it); the
    // stream phase is the operator under test.
    "q_stream_upsert" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      val root = Files.createTempDirectory("graft_upsert_").toString
      graft.BenchProbe.time("q_stream_upsert.split") {
        StreamSources.chronoSplitDir(s, s"$d/events.parquet")
      }
      graft.BenchProbe.time("q_stream_upsert.stream") {
        StreamingFeatures.versionedUpsert(s, s"$d/events.parquet", root)
      }
    }),

    // The MERGE-ON-READ twin of q_stream_upsert: the same chronological
    // exactly-once upsert loop through transactionalMergeMor — each batch
    // commits a deletion vector + one source dir, ZERO dir rewrites (the
    // high-frequency sink shape; at 100 TB a COW upsert rewrites every
    // dir the batch's keys touch, per batch). Same oracle: the storage
    // strategy must be invisible to the converged table.
    "q_stream_upsert_mor" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      val root = Files.createTempDirectory("graft_upsertmor_").toString
      graft.BenchProbe.time("q_stream_upsert_mor.split") {
        StreamSources.chronoSplitDir(s, s"$d/events.parquet")
      }
      graft.BenchProbe.time("q_stream_upsert_mor.stream") {
        StreamingFeatures.versionedUpsert(s, s"$d/events.parquet", root,
          mor = true)
      }
    }),

    // The r14 composition the changefeed × DML trap used to forbid:
    // chronological upsert batches maintain a silver latest-per-symbol
    // table through MERGE commits, and a downstream subscriber consumes
    // its ROW-LEVEL change feed (readChangeFeed) across those merges —
    // O(changed rows) per batch, never a resync — folding each delta into
    // a bucketed aggregate with retractable monoids (a price update
    // retracts the old contribution exactly). Catch-up drain + delta-only
    // drain on one checkpoint; oracle = the plain batch rollup over the
    // FINAL latest-per-symbol table.
    "q_stream_cdf_upsert" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      val silver = Files.createTempDirectory("graft_cdfup_silver_").toString
      val agg = Files.createTempDirectory("graft_cdfup_agg_").toString
      StreamingFeatures.cdfUpsertRefresh(s, s"$d/events.parquet", silver, agg)
    }),

    // PRIMARY large-trade CEP: the event-time-ORDERED transformWithState
    // processor (exact under ANY batch split — the reference's Flink path
    // is an unbounded keyed stream, `anomaly_detection.py:40-149`, never a
    // single-batch replay), gated here under a FORCED 3-batch chronological
    // replay. Thresholds from a batch percentile broadcast into the stream
    // (stream-static join). The legacy arrival-order detector survives as a
    // spec twin (StreamingSpec equivalence tests).
    "q_stream_cep" -> ((s, d) => {
      // staged: the batch percentile subtree would otherwise re-execute
      // inside every micro-batch's plan (see cusumZ)
      val thresholds = graft.core.Staging.stage(
        LargeTrades.thresholds(Tables.trades(s, d)))
      val stream = StreamSources.chronoBatchedTradeStream(s, s"$d/events.parquet")
        .join(broadcast(thresholds), Seq("symbol"))
        .filter(col("volume") > col("percentile_95"))
      val out = Files.createTempDirectory("graft_cep_").toString + "/t"
      runOrderedTws(s,
        OrderedCep.largeTrades(stream, 7L * 24 * 3600 * 1000000L), out,
        src = s"$d/events.parquet")
      s.read.parquet(out)
        .select(timestamp_micros(col("timeMicros")).as("time"), col("symbol"),
          col("large_trades_5m"))
    }),

    // PRIMARY spread-EMA monitor: the event-time-ORDERED transformWithState
    // fold under a FORCED 3-batch replay (see q_stream_cep). The
    // arrival-order mapGroupsWithState monitor is the spec twin.
    "q_stream_spread_ema" -> ((s, d) => {
      val out = Files.createTempDirectory("graft_ema_").toString + "/t"
      val stream = StreamSources.chronoBatchedTradeStream(s, s"$d/events.parquet")
      runOrderedTws(s, OrderedCep.spreadEma(stream), out,
        src = s"$d/events.parquet")
      OrderedCep.lastSpreadEmaRows(s.read.parquet(out))
        .select(col("symbol"), col("normal_spread"), col("n_folded").as("n"))
    }),

    // The same ordered spread-EMA over a SINGLE-file source (one
    // micro-batch): the processor must be batching-agnostic — one batch and
    // three batches share one oracle.
    "q_stream_spread_ema_ordered" -> ((s, d) => {
      val out = Files.createTempDirectory("graft_ema_ord_").toString + "/t"
      val stream = StreamSources.tradeFileStream(s, s"$d/events.parquet")
      runOrderedTws(s, OrderedCep.spreadEma(stream), out,
        src = s"$d/events.parquet")
      OrderedCep.lastSpreadEmaRows(s.read.parquet(out))
        .select(col("symbol"), col("normal_spread"), col("n_folded").as("n"))
    }),

    // Ordered large-trade CEP over a SINGLE-file source — batching-agnostic
    // twin of the primary 3-batch q_stream_cep, same oracle.
    "q_stream_cep_ordered" -> ((s, d) => {
      val thresholds = graft.core.Staging.stage(
        LargeTrades.thresholds(Tables.trades(s, d))) // staged — see q_stream_cep
      val stream = StreamSources.tradeFileStream(s, s"$d/events.parquet")
        .join(broadcast(thresholds), Seq("symbol"))
        .filter(col("volume") > col("percentile_95"))
      val out = Files.createTempDirectory("graft_cep_ord_").toString + "/t"
      runOrderedTws(s,
        OrderedCep.largeTrades(stream, 7L * 24 * 3600 * 1000000L), out,
        src = s"$d/events.parquet")
      s.read.parquet(out)
        .select(timestamp_micros(col("timeMicros")).as("time"), col("symbol"),
          col("large_trades_5m"))
    }),

    // Continuous-aggregate refresh (TimescaleDB refresh policy analogue):
    // seed a STALE materialized OHLC (30 min behind), refresh the trailing
    // 2 h window twice (idempotence), and gate the final table against the
    // full batch recompute — buckets older than the refresh window must
    // already be correct, newer ones must be corrected by the MERGE. The
    // table is date-partitioned; only trailing partitions are rewritten.
    // BenchProbe phases: the O(N) harness seed and final full-table read
    // are NOT the operator under test — `.seed`/`.refresh` keys let the
    // bench (and the 10x artifact's refresh_only_ratios) attribute the
    // O(trailing-window) refresh separately, so a refresh regression can't
    // hide inside the seed's O(N).
    "q_ohlc_refresh" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      val out = graft.BenchProbe.time("q_ohlc_refresh.seed") {
        seedStale(s, d, "ohlc", graft.features.Ohlc.compute(_)) }
      val t = Tables.trades(s, d)
      graft.BenchProbe.time("q_ohlc_refresh.refresh") {
        StreamingFeatures.refreshOhlcAggregate(s, t, out, startOffsetSec = 7200)
        StreamingFeatures.refreshOhlcAggregate(s, t, out, startOffsetSec = 7200)
      }
    }),

    // The same refresh-policy machinery generalized over the other three
    // reference continuous aggregates (`sql/timescaledb_schema.sql:154-159`
    // volatility, `:173-178` vwap, `:233-238` imbalance) — each seeded stale,
    // refreshed twice, and hash-gated against its full recompute.
    "q_vwap_refresh" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      val out = graft.BenchProbe.time("q_vwap_refresh.seed") {
        seedStale(s, d, "vwap", graft.features.Vwap.compute(_)) }
      graft.BenchProbe.time("q_vwap_refresh.refresh") {
        StreamingFeatures.refreshAggregate(s, Tables.trades(s, d), out,
          StreamingFeatures.sliced(graft.features.Vwap.compute),
          bucketSec = 300, startOffsetSec = 7200)
        StreamingFeatures.refreshAggregate(s, Tables.trades(s, d), out,
          StreamingFeatures.sliced(graft.features.Vwap.compute),
          bucketSec = 300, startOffsetSec = 7200)
      }
    }),

    "q_imbalance_refresh" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      val out = graft.BenchProbe.time("q_imbalance_refresh.seed") {
        seedStale(s, d, "imb", graft.features.Imbalance.compute(_)) }
      graft.BenchProbe.time("q_imbalance_refresh.refresh") {
        StreamingFeatures.refreshAggregate(s, Tables.trades(s, d), out,
          StreamingFeatures.sliced(graft.features.Imbalance.compute),
          bucketSec = 300, startOffsetSec = 7200)
        StreamingFeatures.refreshAggregate(s, Tables.trades(s, d), out,
          StreamingFeatures.sliced(graft.features.Imbalance.compute),
          bucketSec = 300, startOffsetSec = 7200)
      }
    }),

    // Volatility's lag crosses bucket edges, so its ComputeWindow warms the
    // slice with the last pre-window (time, price) per symbol — see
    // Volatility.computeWindowed.
    "q_volatility_refresh" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      val out = graft.BenchProbe.time("q_volatility_refresh.seed") {
        seedStale(s, d, "vol", graft.features.Volatility.compute(_)) }
      graft.BenchProbe.time("q_volatility_refresh.refresh") {
        StreamingFeatures.refreshAggregate(s, Tables.trades(s, d), out,
          graft.features.Volatility.computeWindowed,
          bucketSec = 3600, startOffsetSec = 7200)
        StreamingFeatures.refreshAggregate(s, Tables.trades(s, d), out,
          graft.features.Volatility.computeWindowed,
          bucketSec = 3600, startOffsetSec = 7200)
      }
    }),

    // Streaming session windows (dynamic-gap state: a session closes only
    // when the watermark passes its gap) — the streaming twin of the batch
    // q_session_stats, same oracle. Complete-mode memory sink for the
    // bounded replay, as q_stream_ohlc.
    "q_stream_sessions" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      val stream = StreamSources.tradeFileStream(s, s"$d/events.parquet")
        .withWatermark("time", "1 minute")
        .groupBy(session_window(col("time"), "1 hour"), col("symbol"))
        .agg(count(lit(1)).as("n_trades"), sum(col("volume")).as("session_volume"))
        .select(col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("symbol"), col("n_trades"), col("session_volume"))
      val name = s"stream_sessions_${System.nanoTime()}"
      val q = stream.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", Files.createTempDirectory("graft_ckpt_").toString)
        .start()
      q.awaitTermination()
      s.table(name)
    }),

    // PRIMARY CUSUM drift detector: the ordered transformWithState fold
    // under a FORCED 3-batch replay (arrival-order CusumMonitor is the
    // spec twin). Standardized deviations (per-symbol mu/sigma broadcast
    // from batch stats), slack 0.5, threshold 5. mu/sigma are quantized
    // BEFORE forming z — a recursive fold amplifies any last-ulp
    // avg/stddev disagreement between engines into divergent sums, so
    // every input to the fold must already be the same double on both
    // sides. Symbols with null or zero sigma (single trade, constant
    // price) are excluded on both sides: their z is undefined (null /
    // ±Inf) and would crash the non-nullable encoder or saturate the fold.
    "q_stream_cusum" -> ((s, d) => {
      val out = Files.createTempDirectory("graft_cusum_").toString + "/t"
      val obs = cusumZ(s, d,
        StreamSources.chronoBatchedTradeStream(s, s"$d/events.parquet"))
      runOrderedCusum(s, obs, out, src = s"$d/events.parquet")
      s.read.parquet(out)
        .transform(lastOrderedCusumRows)
        .select("symbol", "cusum_pos", "cusum_neg", "n_alerts")
    }),

    // The ORDERED CUSUM on transformWithState (Spark 4.x arbitrary state):
    // buffers rows in ListState until the event-time watermark covers them,
    // folds in (time, trade_id) order, flushes the tail via an event-time
    // timer in the post-advance no-data batch. Robust to multi-batch
    // replays (StreamingSpec proves it against a 3-file split); shares
    // q_stream_cusum's full-fold DuckDB oracle.
    "q_stream_cusum_ordered" -> ((s, d) => {
      val out = Files.createTempDirectory("graft_cusum_ord_").toString + "/t"
      val obs = cusumZ(s, d, StreamSources.tradeFileStream(s, s"$d/events.parquet"))
      runOrderedCusum(s, obs, out, src = s"$d/events.parquet")
      s.read.parquet(out)
        .transform(lastOrderedCusumRows)
        .select("symbol", "cusum_pos", "cusum_neg", "n_alerts")
    }),

    // Event-time-ordered STREAMING Hampel cleaning on transformWithState:
    // in-flight tick repair with the batch operator's exact trailing-21
    // median/MAD semantics — shares q_hampel's oracle (streaming/batch
    // equivalence applied to data cleaning). Same ordered-buffer
    // discipline as the ordered CUSUM.
    "q_stream_hampel" -> ((s, d) => {
      val out = Files.createTempDirectory("graft_shampel_").toString + "/t"
      val stream = StreamSources.tradeFileStream(s, s"$d/events.parquet")
      runOrderedTws(s, graft.streaming.OrderedHampel.clean(stream), out,
        src = s"$d/events.parquet")
      s.read.parquet(out)
        .select(timestamp_micros(col("timeMicros")).as("time"), col("symbol"),
          col("price"), col("med"), col("is_outlier"), col("cleaned"),
          col("n_late"))
    }),

    // Stream-stream interval join (dual watermarks, time-range state
    // eviction): large trades × trailing-hour quotes. Same oracle as the
    // batch epsilon-join twin q_range_join.
    "q_stream_interval_join" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      StreamingFeatures.streamingIntervalJoinOnce(s, s"$d/events.parquet",
        graft.core.Staging.stage( // staged — see q_stream_cep
          LargeTrades.thresholds(Tables.trades(s, d)))) }),

    // Stream-stream LEFT OUTER interval join: every large trade emits, with
    // null quote columns when no quote fell in its lookback hour. Gated on
    // the closed region of the stream (watermark + lookback behind max
    // event time) where outer results are final; the batch LEFT JOIN twin
    // oracle applies the same gate.
    "q_stream_interval_left" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      val t = Tables.trades(s, d)
      val cut = broadcast(t.agg(
        (max(col("time")) - expr("INTERVAL 3 HOURS")).as("__cut")))
      StreamingFeatures.streamingIntervalLeftJoinOnce(s, s"$d/events.parquet",
        graft.core.Staging.stage( // staged — see q_stream_cep
          LargeTrades.thresholds(t)))
        .crossJoin(cut).filter(col("time") < col("__cut")).drop("__cut")
    }),

    // Streaming exact dedup with bounded state (dropDuplicatesWithinWatermark)
    // over an at-least-once duplicated delivery; equals batch DISTINCT.
    "q_stream_dedup" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      StreamingFeatures.streamingDedupOnce(s, s"$d/events.parquet") }),

    // Streaming SUBSCRIPTION to the versioned table: the commit log consumed
    // through the `graft-changefeed` Source (offsets = versions, one
    // micro-batch per unconsumed range — Delta-`startingVersion` semantics;
    // the reference's second-stage agg streams its raw Delta dir the same
    // way, `streaming_feature_updates.py:102`). The corpus lands as three
    // chronological commits; the first AvailableNow run catches up (0,2] in
    // ONE batch, a later commit is consumed by RESUMING the same checkpoint
    // — the engine's offset WAL is the cursor. Each batch's partial agg is
    // idempotently committed to a DOWNSTREAM versioned table keyed by batch
    // id (replay-absorbed: the exactly-once discipline of the cursor, in
    // streaming clothes); the folded partials must equal the full-table
    // aggregate. Scaled-int price sums keep the partial-then-total fold
    // order-independent.
    "q_stream_changefeed" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      import graft.operators.IncrementalAgg
      import graft.sources.VersionedTable
      val root = Files.createTempDirectory("graft_cfup_").toString
      val aggRoot = Files.createTempDirectory("graft_cfdown_").toString
      val ckpt = Files.createTempDirectory("graft_ckpt_").toString
      val split = StreamSources.chronoSplitDir(s, s"$d/events.parquet", 3)
      def land(b: Int): Unit = {
        VersionedTable.commit(
          StreamSources.projectTrades(s.read.parquet(s"$split/f$b.parquet")), root)
        ()
      }
      def subscribeOnce(): Unit = {
        val feed = s.readStream.format("graft-changefeed")
          .option("root", root).load()
          .select(col("symbol"), col("volume"),
            graft.functions.Quantize.i(col("price"), 4).as("price_e4"))
        val q = feed.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            VersionedTable.idempotentCommit(
              IncrementalAgg.aggregate(batch, Seq("symbol"), Seq("volume", "price_e4")),
              aggRoot, id.toInt + 1)
            ()
          }
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .start()
        q.awaitTermination()
      }
      land(0); land(1)
      subscribeOnce() // catch-up: versions (0, 2] in one O(delta) batch
      land(2)
      subscribeOnce() // SAME checkpoint: only the (2, 3] delta is read
      VersionedTable.read(s, aggRoot)
        .groupBy("symbol")
        .agg(sum(col("n_rows")).as("n"), sum(col("sum_volume")).as("sum_volume"),
          (sum(col("sum_price_e4")) / lit(10000.0)).as("sum_price"))
    }),

    // The reference's two-stage topology gone fully lakehouse-native
    // (`streaming_feature_updates.py:102`: its second-stage OHLC streams the
    // raw Delta dir): stage 1 lands the corpus as three chronological
    // COMMITS of a versioned table; stage 2 SUBSCRIBES through the
    // graft-changefeed source — rate-capped to one micro-batch per commit —
    // and folds a watermarked 1-minute OHLC in update mode, MERGing each
    // batch's updated bars into the date-partitioned table (the production
    // sink shape, `productionQueries`). Chronological commits keep every
    // delta above the advancing watermark, so the subscription's final bars
    // equal the batch OHLC of the whole table — the streaming/batch
    // equivalence invariant, now through the commit log end to end.
    "q_changefeed_ohlc" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      val bars = Files.createTempDirectory("graft_cfohlc_bars_").toString + "/t"
      val root = landedChangefeedRoot(s, s"$d/events.parquet", 3)
      val feed = s.readStream.format("graft-changefeed")
        .option("root", root).option("maxVersionsPerTrigger", "1").load()
      val q = graft.features.Ohlc.compute(feed.withWatermark("time", "1 minute"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          StreamingFeatures.mergeIntoKeyed(s, bars, batch.toDF(), Seq("bucket", "symbol"))
        }
        .outputMode("update").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", Files.createTempDirectory("graft_ckpt_").toString)
        .start()
      q.awaitTermination()
      StreamingFeatures.readKeyedTable(s, bars)
    }),

    // Medallion bronze→silver through BOTH halves of the streaming medium:
    // the bronze commits stream in via the graft-changefeed SOURCE and the
    // standardized rows stream out via the graft-versioned SINK — one
    // transactional append commit per micro-batch (`txn=appId|batchId`
    // manifest stamp; a redelivered batch is absorbed, so the stage is
    // exactly-once end to end), leaving silver a first-class versioned
    // table whose OWN change feed downstream stages subscribe to. This is
    // the reference's raw→feature Delta chain
    // (`streaming_feature_updates.py:96-118`) with the table, the source,
    // and the sink all on the commit log. Oracle = the same
    // standardization+aggregate in plain SQL over the full corpus: the
    // two-stage streaming path must converge to the batch answer.
    "q_medallion" -> ((s, d) => withReplayConf(s, s"$d/events.parquet") {
      import graft.sources.VersionedTable
      val bronze = landedChangefeedRoot(s, s"$d/events.parquet", 3)
      val silver = Files.createTempDirectory("graft_medallion_").toString
      val q = s.readStream.format("graft-changefeed")
        .option("root", bronze).option("maxVersionsPerTrigger", "1").load()
        .filter(col("side").isNotNull) // the silver standardization step
        .select(col("symbol"), col("side"), col("volume"),
          graft.functions.Quantize.i(col("price"), 4).as("price_e4"))
        .writeStream.format("graft-versioned")
        .option("root", silver).option("appId", "medallion-silver")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          Files.createTempDirectory("graft_ckpt_").toString)
        .start()
      q.awaitTermination()
      VersionedTable.read(s, silver)
        .groupBy("symbol", "side")
        .agg(count(lit(1)).as("n"), sum(col("volume")).as("sum_volume"),
          (sum(col("price_e4")) / lit(10000.0)).as("sum_price"))
    }),

    // Avro wire-format roundtrip (decimal logical types): encode every trade
    // to Avro binary, decode it back, aggregate — must equal the plain SQL
    // aggregation of the source rows.
    "q_avro_roundtrip" -> ((s, d) => {
      val rt = AvroCodec.decode(AvroCodec.encode(Tables.trades(s, d)))
      rt.groupBy("symbol").agg(
        count(lit(1)).as("n"),
        sum(col("volume")).as("sum_volume"),
        graft.functions.Quantize.r(sum(col("price")), 4).as("sum_price"),
        count(col("side")).as("n_sided"))
    }),

    // Schema-Registry wire path: register the writer schema, frame every
    // message magic+id+payload, decode by resolving the writer schema from
    // the frame id — the reference producer's registry-framed Avro
    // (`market_data_producer.py:38-59`). Same oracle as the raw roundtrip:
    // framing must be value-transparent.
    "q_avro_registry" -> ((s, d) => {
      val reg = new graft.sources.SchemaRegistry
      val rt = AvroCodec.decodeFramed(
        AvroCodec.encodeFramed(Tables.trades(s, d), reg), reg)
      rt.groupBy("symbol").agg(
        count(lit(1)).as("n"),
        sum(col("volume")).as("sum_volume"),
        graft.functions.Quantize.r(sum(col("price")), 4).as("sum_price"),
        count(col("side")).as("n_sided"))
    }))

  /** The corpus landed ONCE per JVM as `batches` chronological commits of a
    * versioned table — deterministic per (canonical path, batches), shared
    * the way [[StreamSources.chronoSplitDir]] is shared by the ordered
    * stream primaries. Landing cost is versioned-ingest's, already measured
    * by `q_stream_versioned`; the subscription queries built on this
    * measure the SUBSCRIPTION, not a per-query re-landing. Read-only for
    * consumers (queries needing mid-run commits land their own root).
    */
  def landedChangefeedRoot(s: SparkSession, path: String, batches: Int): String =
    landedRoots.synchronized {
      val key = (new java.io.File(path).getCanonicalPath, batches)
      landedRoots.get(key)
        .filter(r => new java.io.File(r, "_commits").isDirectory) match {
        case Some(r) => r
        case None =>
          val split = StreamSources.chronoSplitDir(s, path, batches)
          val root = Files.createTempDirectory("graft_cfland_").toString
          (0 until batches).foreach { b =>
            graft.sources.VersionedTable.commit(
              StreamSources.projectTrades(s.read.parquet(s"$split/f$b.parquet")),
              root)
          }
          landedRoots(key) = root
          root
      }
    }

  private val landedRoots = scala.collection.mutable.Map.empty[(String, Int), String]

  /** Seed a stale materialized aggregate (30 min behind the newest event)
    * through the partitioned MERGE path, so refresh queries start from the
    * same date-partitioned layout they maintain.
    */
  private def seedStale(s: SparkSession, d: String, tag: String,
      compute: DataFrame => DataFrame): String = {
    val t = Tables.trades(s, d)
    val out = Files.createTempDirectory(s"graft_${tag}_refresh_").toString + "/t"
    val mx = t.agg(max(col("time"))).collect()(0).getTimestamp(0)
    val cutoff = new java.sql.Timestamp(mx.getTime - 30L * 60 * 1000)
    StreamingFeatures.mergeIntoKeyed(s, out,
      compute(t.filter(col("time") <= lit(cutoff))), Seq("bucket", "symbol"))
    out
  }

  private val ohlcSql =
    """SELECT time_bucket(INTERVAL '1 minute', time) AS bucket, symbol,
      |       arg_min(price, time) AS open, max(price) AS high, min(price) AS low,
      |       arg_max(price, time) AS close, sum(volume) AS volume,
      |       count(*) AS trade_count
      |FROM trades GROUP BY 1, 2""".stripMargin

  /** CUSUM fold in DuckDB: list_reduce over [z,0,0] triples with the running
    * [pos,neg,alerts] as the accumulator (prepended [0,0,0] seed); mu/sigma
    * and z quantized identically to the Spark side so the folds agree
    * bit-wise; null/zero-sigma symbols excluded identically. Shared by the
    * arrival-order monitor (single-batch contract) and the ordered TWS
    * variant — both end a bounded replay at the same full ordered fold.
    */
  private val cusumOracleSql: String = OracleSql.withTradesAnd(
    """stats AS (
      |  SELECT * FROM (
      |    SELECT symbol,
      |           floor(avg(price) * 1e6 + 0.5) / 1e6 AS mu,
      |           floor(stddev_samp(price) * 1e6 + 0.5) / 1e6 AS sigma
      |    FROM trades GROUP BY 1)
      |  WHERE sigma IS NOT NULL AND sigma > 0),
      |folded AS (
      |  SELECT t.symbol,
      |    list_reduce(
      |      list_prepend(CAST([0, 0, 0] AS DOUBLE[]),
      |        list_transform(list(t.price ORDER BY t.time, t.trade_id),
      |          x -> [floor(((x - s.mu) / s.sigma) * 1e6 + 0.5) / 1e6,
      |                CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
      |      (acc, e) -> [
      |        greatest(CAST(0 AS DOUBLE), acc[1] + e[1] - CAST(0.5 AS DOUBLE)),
      |        greatest(CAST(0 AS DOUBLE), acc[2] - e[1] - CAST(0.5 AS DOUBLE)),
      |        acc[3] + CASE WHEN greatest(CAST(0 AS DOUBLE), acc[1] + e[1] - CAST(0.5 AS DOUBLE)) > CAST(5 AS DOUBLE)
      |                        OR greatest(CAST(0 AS DOUBLE), acc[2] - e[1] - CAST(0.5 AS DOUBLE)) > CAST(5 AS DOUBLE)
      |                      THEN 1 ELSE 0 END]) AS st
      |  FROM trades t JOIN stats s ON t.symbol = s.symbol
      |  GROUP BY t.symbol, s.mu, s.sigma)""".stripMargin,
    """SELECT symbol,
      |       floor(st[1] * 1e6 + 0.5) / 1e6 AS cusum_pos,
      |       floor(st[2] * 1e6 + 0.5) / 1e6 AS cusum_neg,
      |       CAST(st[3] AS BIGINT) AS n_alerts
      |FROM folded""".stripMargin)

  val oracles: Map[String, String] = Map(
    "q_stream_ohlc" -> withTrades(ohlcSql),

    "q_ohlc_refresh" -> withTrades(ohlcSql),

    // Refresh oracles are the FULL recompute of each aggregate: the stale
    // seed plus the trailing-window merge must reconstruct it exactly.
    "q_vwap_refresh" -> withTrades(
      """SELECT time_bucket(INTERVAL '5 minutes', time) AS bucket, symbol,
        |       floor((sum(price * volume) / nullif(sum(volume), CAST(0 AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS vwap_5m,
        |       sum(volume) AS total_volume
        |FROM trades GROUP BY 1, 2""".stripMargin),

    "q_imbalance_refresh" -> withTrades(
      """SELECT bucket, symbol, buy_volume, sell_volume,
        |       floor(((buy_volume - sell_volume) / nullif(buy_volume + sell_volume, CAST(0 AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS imbalance
        |FROM (
        |  SELECT time_bucket(INTERVAL '5 minutes', time) AS bucket, symbol,
        |         sum(CASE WHEN side = 'buy' THEN volume ELSE CAST(0 AS DOUBLE) END) AS buy_volume,
        |         sum(CASE WHEN side = 'sell' THEN volume ELSE CAST(0 AS DOUBLE) END) AS sell_volume
        |  FROM trades WHERE side IS NOT NULL GROUP BY 1, 2)""".stripMargin),

    "q_volatility_refresh" -> withTrades(
      """SELECT time_bucket(INTERVAL '1 hour', time) AS bucket, symbol,
        |       floor((stddev_samp(log_return)) * 1e6 + 0.5) / 1e6 AS volatility_1h,
        |       count(log_return) AS sample_count
        |FROM (
        |  SELECT time, symbol,
        |         ln(nullif(price, CAST(0 AS DOUBLE)) / nullif(lag(price, 1) OVER (PARTITION BY symbol ORDER BY time), CAST(0 AS DOUBLE))) AS log_return
        |  FROM trades)
        |GROUP BY 1, 2""".stripMargin),

    "q_stream_merge" -> withTrades(
      "SELECT time, symbol, trade_id, price, volume FROM trades"),

    // The commit-log sink must surface the stream exactly once, replay
    // absorbed — content-identical to the raw projection.
    "q_stream_versioned" -> withTrades(
      "SELECT time, symbol, trade_id, price, volume FROM trades"),

    // Chronological streaming upserts converge to each symbol's last tick
    // ((t_us, tid) is unique, so the ordering is total and deterministic).
    "q_stream_upsert" -> withTrades(
      """SELECT symbol, t_us, last_price FROM (
        |  SELECT symbol, epoch_us(time) AS t_us, price AS last_price,
        |         row_number() OVER (PARTITION BY symbol
        |           ORDER BY epoch_us(time) DESC, CAST(trade_id AS BIGINT) DESC) AS rn
        |  FROM trades) WHERE rn = 1""".stripMargin),

    // The merge-on-read sink must converge to the identical table.
    "q_stream_upsert_mor" -> withTrades(
      """SELECT symbol, t_us, last_price FROM (
        |  SELECT symbol, epoch_us(time) AS t_us, price AS last_price,
        |         row_number() OVER (PARTITION BY symbol
        |           ORDER BY epoch_us(time) DESC, CAST(trade_id AS BIGINT) DESC) AS rn
        |  FROM trades) WHERE rn = 1""".stripMargin),

    // The CDF-fed downstream aggregate must converge to the plain rollup
    // over the final latest-per-symbol table — batch boundaries and
    // update churn invisible.
    "q_stream_cdf_upsert" -> withTrades(
      """SELECT substr(symbol, -1) AS bucket, count(*) AS n,
        |       sum(CAST(floor(last_price * 1e4 + 0.5) AS BIGINT)) / 10000.0 AS sum_price
        |FROM (
        |  SELECT symbol, price AS last_price,
        |         row_number() OVER (PARTITION BY symbol
        |           ORDER BY epoch_us(time) DESC, CAST(trade_id AS BIGINT) DESC) AS rn
        |  FROM trades) WHERE rn = 1
        |GROUP BY bucket""".stripMargin),

    "q_stream_dedup" -> withTrades(
      """SELECT DISTINCT time, symbol, trade_id, price, volume
        |FROM (SELECT * FROM trades
        |      UNION ALL
        |      SELECT * FROM trades WHERE CAST(trade_id AS BIGINT) % 10 = 0)""".stripMargin),

    // The batch q_session_stats oracle, shared by reference: lag-gap
    // grouping is the SQL expression of session_window semantics.
    "q_stream_sessions" -> withTrades(FeatureQueries.sessionStatsSql),

    // a bounded replay ends fully folded in event-time order, so the
    // cleaned stream equals the batch Hampel row for row — with zero
    // late-dropped rows (the n_late observability column)
    "q_stream_hampel" -> withTrades(
      s"SELECT *, CAST(0 AS BIGINT) AS n_late FROM (\n${IndicatorQueries.hampelSql})"),

    "q_stream_cusum" -> cusumOracleSql,

    // the ordered TWS variant ends fully folded on a bounded replay, so the
    // final per-key rows equal the same full ordered fold
    "q_stream_cusum_ordered" -> cusumOracleSql,

    "q_stream_interval_join" -> OracleSql.withTradesAnd(
      """thr AS (SELECT symbol, quantile_cont(volume, 0.95) AS p95 FROM trades GROUP BY 1)""",
      """SELECT t.time, t.symbol, t.trade_id, q.time AS quote_time,
        |       floor(((q.bid + q.ask) / 2) * 1e6 + 0.5) / 1e6 AS mid
        |FROM trades t
        |JOIN thr ON t.symbol = thr.symbol
        |JOIN trades q ON q.symbol = t.symbol
        |  AND q.bid IS NOT NULL AND q.ask IS NOT NULL
        |  AND q.time >= t.time - INTERVAL 1 HOUR AND q.time <= t.time
        |WHERE t.volume > thr.p95""".stripMargin),

    // The streaming left-outer twin: batch LEFT JOIN over the closed
    // region (3 h = watermark + lookback behind max event time).
    "q_stream_interval_left" -> OracleSql.withTradesAnd(
      """thr AS (SELECT symbol, quantile_cont(volume, 0.95) AS p95 FROM trades GROUP BY 1),
        |mx AS (SELECT max(time) - INTERVAL 3 HOURS AS cut FROM trades)""".stripMargin,
      """SELECT t.time, t.symbol, t.trade_id, q.time AS quote_time,
        |       floor(((q.bid + q.ask) / 2) * 1e6 + 0.5) / 1e6 AS mid
        |FROM trades t
        |JOIN thr ON t.symbol = thr.symbol
        |CROSS JOIN mx
        |LEFT JOIN trades q ON q.symbol = t.symbol
        |  AND q.bid IS NOT NULL AND q.ask IS NOT NULL
        |  AND q.time >= t.time - INTERVAL 1 HOUR AND q.time <= t.time
        |WHERE t.volume > thr.p95 AND t.time < mx.cut""".stripMargin),

    "q_stream_cep" -> withTrades(
      """SELECT time, symbol, large_trades_5m FROM (
        |  SELECT t.time, t.symbol,
        |         count(*) OVER (PARTITION BY t.symbol ORDER BY t.time
        |               RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW) AS large_trades_5m
        |  FROM trades t
        |  JOIN (SELECT symbol, quantile_cont(volume, 0.95) AS p95 FROM trades GROUP BY 1) thr
        |    ON t.symbol = thr.symbol
        |  WHERE t.volume > thr.p95)
        |WHERE large_trades_5m >= 3""".stripMargin),

    // The second-stage subscription's bars must equal the batch OHLC.
    "q_changefeed_ohlc" -> withTrades(ohlcSql),

    // The two-stage source→sink chain must converge to the batch answer.
    "q_medallion" -> withTrades(
      """SELECT symbol, side, count(*) AS n, sum(volume) AS sum_volume,
        |       sum(CAST(floor(price * 1e4 + 0.5) AS BIGINT)) / 10000.0 AS sum_price
        |FROM trades WHERE side IS NOT NULL GROUP BY symbol, side""".stripMargin),

    // Subscription + incremental fold must converge to the batch aggregate.
    "q_stream_changefeed" -> withTrades(
      """SELECT symbol, count(*) AS n, sum(volume) AS sum_volume,
        |       sum(CAST(floor(price * 1e4 + 0.5) AS BIGINT)) / 10000.0 AS sum_price
        |FROM trades GROUP BY symbol""".stripMargin),

    "q_avro_roundtrip" -> withTrades(
      """SELECT symbol, count(*) AS n, sum(volume) AS sum_volume,
        |       floor((sum(price)) * 1e4 + 0.5) / 1e4 AS sum_price,
        |       count(side) AS n_sided
        |FROM trades GROUP BY symbol""".stripMargin),

    "q_avro_registry" -> withTrades(
      """SELECT symbol, count(*) AS n, sum(volume) AS sum_volume,
        |       floor((sum(price)) * 1e4 + 0.5) / 1e4 AS sum_price,
        |       count(side) AS n_sided
        |FROM trades GROUP BY symbol""".stripMargin),

    // the ordered TWS twins end fully folded on a bounded replay -> same
    // final rows as the arrival-order monitors' shared batch oracles
    "q_stream_spread_ema_ordered" -> withTrades(
      """SELECT symbol,
        |       floor((list_reduce(list(ask - bid ORDER BY time),
        |             (acc, x) -> CAST(0.9 AS DOUBLE) * acc + CAST(0.1 AS DOUBLE) * x)) * 1e6 + 0.5) / 1e6 AS normal_spread,
        |       count(*) AS n
        |FROM trades WHERE bid IS NOT NULL AND ask IS NOT NULL
        |GROUP BY symbol""".stripMargin),

    "q_stream_cep_ordered" -> withTrades(
      """SELECT time, symbol, large_trades_5m FROM (
        |  SELECT t.time, t.symbol,
        |         count(*) OVER (PARTITION BY t.symbol ORDER BY t.time
        |               RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW) AS large_trades_5m
        |  FROM trades t
        |  JOIN (SELECT symbol, quantile_cont(volume, 0.95) AS p95 FROM trades GROUP BY 1) thr
        |    ON t.symbol = thr.symbol
        |  WHERE t.volume > thr.p95)
        |WHERE large_trades_5m >= 3""".stripMargin),

    "q_stream_spread_ema" -> withTrades(
      """SELECT symbol,
        |       floor((list_reduce(list(ask - bid ORDER BY time),
        |             (acc, x) -> CAST(0.9 AS DOUBLE) * acc + CAST(0.1 AS DOUBLE) * x)) * 1e6 + 0.5) / 1e6 AS normal_spread,
        |       count(*) AS n
        |FROM trades WHERE bid IS NOT NULL AND ask IS NOT NULL
        |GROUP BY symbol""".stripMargin))
}
