package graft

import graft.asof.AsOfJoin
import graft.core.Tables
import graft.plans.CosineSimilarity
import graft.quality.Sla
import org.apache.spark.sql.functions._

/** Native-expression, SLA-validator and plan-shape checks. */
class PlanSpec extends SparkTestBase {

  test("native cosine_sim expression matches the HOF fold bit-for-bit") {
    CosineSimilarity.register(spark)
    val emb = Tables.embeddings(spark, sf0001).limit(200)
    val q = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qe"))
    val joined = emb.crossJoin(broadcast(q))
    val viaExpr = joined.select(col("vec_id"),
      expr("cosine_sim(CAST(embedding AS ARRAY<DOUBLE>), CAST(qe AS ARRAY<DOUBLE>))").as("c"))
    val viaHof = joined.select(col("vec_id"),
      graft.ext.Similarity.cosine(col("embedding"), col("qe")).as("c"))
    val diff = viaExpr.join(viaHof.withColumnRenamed("c", "c2"), "vec_id")
      .agg(max(abs(col("c") - col("c2")))).collect()(0).getDouble(0)
    assert(diff === 0.0)
  }

  test("cosine_sim rejects non-double-array inputs at analysis time") {
    CosineSimilarity.register(spark)
    val e = intercept[Exception] {
      Tables.embeddings(spark, sf0001)
        .select(expr("cosine_sim(vec_id, vec_id)")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("cosine_sim") ||
      e.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("backwardMulti resolves all views in a single window over one shuffle") {
    val t = Tables.trades(spark, sf0001)
    val entities = t.select("symbol").distinct()
      .crossJoin(spark.range(3).select(
        expr("timestampadd(DAY, CAST(id AS INT), TIMESTAMP'2024-01-10 00:00:00')")
          .as("event_timestamp")))
    val out = graft.asof.HistoricalFeatures.retrieve(entities, t)
    val plan = out.queryExecution.executedPlan.toString
    // all three carry-forward window functions must share ONE Window node:
    // exactly one plan line mentions last(__p0), and that same line also
    // carries last(__p1) and last(__p2)
    val carryLines = plan.split("\n").filter(_.contains("last(__p0"))
    assert(carryLines.length === 1, s"plan:\n$plan")
    assert(carryLines.head.contains("last(__p1") && carryLines.head.contains("last(__p2"),
      s"plan:\n$plan")
  }

  test("predicate pushdown: time filter reaches the parquet scan") {
    val t = Tables.events(spark, sf0001).filter(col("event_id") > 500)
      .select("event_id", "value")
    val plan = t.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(event_id), GreaterThan(event_id,500)]"),
      s"plan:\n$plan")
    assert(plan.contains("ReadSchema: struct<event_id:bigint,value:double>"), s"plan:\n$plan")
  }

  test("dimension joins in the star query are broadcast, not shuffled") {
    val plan = registry.CoreQueries.queries("q_region_revenue")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("IVF plan: centroids and probes broadcast; no pairwise shuffle of the corpus") {
    val emb = Tables.embeddings(spark, sf0001)
    val plan = graft.ext.Ivf.topK(emb, 0L, 10, nCentroids = 16, nProbe = 2)
      .queryExecution.executedPlan.toString
    // centroid assignment and probe restriction are broadcast joins — the
    // corpus never shuffles against itself; the only wide op is the
    // per-vector argmax reduce (hash agg on vec_id)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not sort-merge against itself:\n$plan")
    // assignment is a per-row fold over the broadcast centroid array — the
    // corpus itself never goes through a hash shuffle
    assert(!plan.contains("Exchange hashpartitioning"),
      s"IVF must not shuffle the corpus:\n$plan")
    // final top-k is per-partition top-k merged on the driver, not a global sort
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("curation plans: chunking and split tagging are pure narrow maps") {
    val docs = Tables.documents(spark, sf0001)
    // chunk: project + generate + project — nothing wide
    val chunkPlan = graft.ext.Curation.chunk(docs, 50)
      .queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("Exchange"), s"chunk must not shuffle:\n$chunkPlan")
    // split tag: per-row hash arithmetic, no shuffle before the caller's agg
    val splitPlan = graft.ext.Curation.hashSplit(docs, "doc_id")
      .queryExecution.executedPlan.toString
    assert(!splitPlan.contains("Exchange"), s"hashSplit must not shuffle:\n$splitPlan")
  }

  test("pivot with explicit values needs no value-discovery job and stays map-side combined") {
    val df = registry.CoreQueries.queries("q_pivot_sides")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    // Spark compiles .pivot(col, values) to TWO stacked aggregations —
    // sum by (symbol, side), then pivotfirst by symbol — both partial-
    // aggregated map-side, so each shuffle carries O(groups) rows. The
    // explicit value list is what avoids an extra distinct-values JOB
    // before planning; assert the shape is exactly those two key exchanges.
    assert(plan.split("Exchange hashpartitioning").length - 1 === 2, s"plan:\n$plan")
    assert(plan.contains("partial_pivotfirst"), s"map-side combine expected:\n$plan")
    assert(plan.contains("partial_sum"), s"map-side combine expected:\n$plan")
  }

  test("TenantFilterRule injects the tenant predicate at the scan") {
    import graft.plans.TenantFilterRule
    val total = Tables.events(spark, sf0001).count()
    TenantFilterRule.enable(spark, 1L)
    try {
      val visible = Tables.events(spark, sf0001).count()
      val expected = {
        TenantFilterRule.disable(spark)
        Tables.events(spark, sf0001).filter(pmod(col("user_id"), lit(3L)) === 1L).count()
      }
      assert(visible === expected)
      assert(visible < total)
      // and with the conf unset the session sees everything again
      assert(Tables.events(spark, sf0001).count() === total)
    } finally TenantFilterRule.disable(spark)
  }

  test("avro codec roundtrips trades exactly (values, nulls, decimals)") {
    import graft.sources.AvroCodec
    val t = Tables.trades(spark, sf0001).limit(300)
    val rt = AvroCodec.decode(AvroCodec.encode(t))
    assert(rt.count() === 300)
    val orig = t.select(col("trade_id"), col("price"), col("volume"), col("side"))
    val back = rt.select(col("trade_id"), col("price"), col("volume"), col("side"))
    assert(orig.exceptAll(back).count() === 0)
    assert(back.exceptAll(orig).count() === 0)
  }

  test("equi+theta as-of variant agrees with the windowed form") {
    val t = Tables.trades(spark, sf0001)
    val sma = graft.features.Sma.compute(t).select("time", "symbol", "sma_20")
    val entities = t.select("symbol").distinct().limit(5)
      .crossJoin(spark.range(4).select(
        expr("timestampadd(DAY, CAST(id * 7 AS INT), TIMESTAMP'2024-01-05 00:00:00')")
          .as("ts")))
    val viaWindow = AsOfJoin.backward(
      entities, sma, Seq("symbol"), "ts", "time", ttlSeconds = Some(3 * 24 * 3600))
    val viaJoin = AsOfJoin.backwardViaJoin(
      entities, sma, Seq("symbol"), "ts", "time", ttlSeconds = Some(3 * 24 * 3600))
    assert(viaWindow.exceptAll(viaJoin).count() === 0)
    assert(viaJoin.exceptAll(viaWindow).count() === 0)
  }

  test("continuous-aggregate refresh only touches the trailing window and is idempotent") {
    import java.nio.file.Files
    val t = Tables.trades(spark, sf0001)
    val path = Files.createTempDirectory("graft_ca_").toString + "/t"
    // initial full build
    graft.streaming.StreamingFeatures.mergeIntoKeyed(
      spark, path, graft.features.Ohlc.compute(t), Seq("bucket", "symbol"))
    val before = spark.read.parquet(path).count()
    // trailing refresh (1 day back): must change nothing on unchanged input
    val after1 = graft.streaming.StreamingFeatures
      .refreshOhlcAggregate(spark, t, path, startOffsetSec = 24 * 3600).count()
    val after2 = graft.streaming.StreamingFeatures
      .refreshOhlcAggregate(spark, t, path, startOffsetSec = 24 * 3600).count()
    assert(after1 === before)
    assert(after2 === before)
  }

  test("refresh from a stale table with a mid-bucket window edge equals full recompute") {
    import java.nio.file.Files
    import spark.implicits._
    // one symbol, one trade every 20s: EVERY minute bucket straddles any
    // non-aligned window edge, so an unaligned refresh lower bound would
    // merge a partial boundary bar over the correct one
    val t = (0 until 360).map { i =>
      (new java.sql.Timestamp(1704067200000L + i * 20000L), "S", 100.0 + i, 1.0)
    }.toDF("time", "symbol", "price", "volume")
    val path = Files.createTempDirectory("graft_ca_edge_").toString + "/t"
    // stale seed: 40 minutes behind (partial bucket at the cutoff)
    val cutoff = new java.sql.Timestamp(1704067200000L + 360 * 20000L - 40 * 60 * 1000L)
    graft.streaming.StreamingFeatures.mergeIntoKeyed(
      spark, path, graft.features.Ohlc.compute(t.filter(col("time") <= lit(cutoff))),
      Seq("bucket", "symbol"))
    // refresh window = 47 min back from max: 47*60s is bucket-aligned in
    // seconds but the anchor (max time) is mid-bucket, so the raw lower
    // edge lands mid-bucket — the alignment logic must snap it down
    val refreshed = graft.streaming.StreamingFeatures
      .refreshOhlcAggregate(spark, t, path, startOffsetSec = 47 * 60)
    val full = graft.features.Ohlc.compute(t)
    assert(refreshed.exceptAll(full).count() === 0, "no stale/partial bars may survive")
    assert(full.exceptAll(refreshed).count() === 0)

    // upper edge: a non-zero endOffset landing mid-bucket must not replace a
    // complete boundary bar with a partial recompute — the boundary bucket
    // is recomputed from ALL its rows (edge snapped to the bucket end)
    val refreshed2 = graft.streaming.StreamingFeatures
      .refreshOhlcAggregate(spark, t, path, startOffsetSec = 47 * 60, endOffsetSec = 90)
    assert(refreshed2.exceptAll(full).count() === 0,
      "mid-bucket upper edge must not write partial bars over complete ones")
    assert(full.exceptAll(refreshed2).count() === 0)

    // non-default bucket width: edge snapping and bar width must share
    // bucketSec (90s bars; 60s-aligned edges would land mid-bar)
    val path90 = java.nio.file.Files.createTempDirectory("graft_ca_90_").toString + "/t"
    graft.streaming.StreamingFeatures.mergeIntoKeyed(
      spark, path90,
      graft.features.Ohlc.compute(t.filter(col("time") <= lit(cutoff)), "90 seconds"),
      Seq("bucket", "symbol"))
    graft.streaming.StreamingFeatures
      .refreshOhlcAggregate(spark, t, path90, startOffsetSec = 47 * 60, bucketSec = 90)
    // the offset refresh must not corrupt complete 90s bars near its edges
    val refreshed90 = graft.streaming.StreamingFeatures
      .refreshOhlcAggregate(spark, t, path90, startOffsetSec = 47 * 60, endOffsetSec = 75,
        bucketSec = 90)
    val full90 = graft.features.Ohlc.compute(t, "90 seconds")
    assert(refreshed90.exceptAll(full90).count() === 0,
      "90s-bucket refresh must align edges to 90s bars")
    assert(full90.exceptAll(refreshed90).count() === 0)
  }

  test("mergeIntoKeyed replay with NULL key columns stays idempotent") {
    import java.nio.file.Files
    import spark.implicits._
    val path = Files.createTempDirectory("graft_merge_null_").toString + "/t"
    val batch = Seq(
      (Some("a"), 1, 10.0), (None, 2, 20.0), (None, 3, 30.0)
    ).toDF("k1", "k2", "v")
    graft.streaming.StreamingFeatures.mergeIntoKeyed(spark, path, batch, Seq("k1", "k2"))
    graft.streaming.StreamingFeatures.mergeIntoKeyed(spark, path, batch, Seq("k1", "k2"))
    assert(spark.read.parquet(path).count() === 3,
      "replaying an identical batch with NULL keys must not grow the table")
  }

  test("batch decoder (mapPartitions) equals the column-function stub decode") {
    import graft.ext.Multimodal
    val media = Multimodal.payloads(spark, sf0001)
    val viaCols = Multimodal.fakeDecode(media).select(
      col("media_id"), col("source"), col("n_bytes").cast("int").as("n_bytes"),
      col("meta.width").as("width"), col("meta.height").as("height"),
      col("meta.n_frames").cast("int").as("n_frames"), col("meta.codec_tag").as("codec_tag"))
    val viaBatch = Multimodal.decodeBatched(media).toDF()
    assert(viaCols.exceptAll(viaBatch).count() === 0)
    assert(viaBatch.exceptAll(viaCols).count() === 0)
  }

  test("JSON parse routes corrupt records to the DLQ branch") {
    import spark.implicits._
    val raw = Seq(
      """{"k": 7}""", """{"k": 9}""", """not json at all""").toDF("js")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))
    val parsed = graft.sources.Ingest.parseJson(raw, "js", schema)
    assert(parsed.filter(col("__corrupt").isNull).count() === 2)
    assert(parsed.filter(col("__corrupt").isNotNull).count() === 1)
    assert(parsed.filter(col("__corrupt").isNull)
      .agg(sum(col("__parsed.k"))).collect()(0).getLong(0) === 16L)
  }

  test("bucketed-by-symbol tables join without a shuffle (co-located join)") {
    // The storage-layout claim from SCALE.md made concrete: pre-bucketing
    // both sides on the join key eliminates the Exchange entirely — the
    // Spark analogue of the reference's (symbol, time DESC) index layout.
    val t = Tables.trades(spark, sf0001)
    t.write.bucketBy(8, "symbol").sortBy("symbol", "time")
      .mode("overwrite").saveAsTable("bkt_trades")
    t.groupBy("symbol").agg(count(lit(1)).as("n")).write.bucketBy(8, "symbol")
      .mode("overwrite").saveAsTable("bkt_counts")
    // disable auto-broadcast so the co-located (bucket-aligned) join path is
    // what gets planned — on real dims broadcast would win, the point here
    // is the fact-fact case
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_trades")
        .join(spark.table("bkt_counts"), "symbol")
        .groupBy("symbol").agg(max(col("n")))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"plan:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle; plan:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("salted join equals the plain join and spreads keys across salts") {
    import graft.operators.Salting
    val t = Tables.trades(spark, sf0001)
    val thr = graft.features.LargeTrades.thresholds(t)
    val plain = t.join(thr, Seq("symbol"))
      .select("symbol", "trade_id", "percentile_95")
    val salted = Salting.saltedJoin(t, thr, "symbol", 4, "trade_id")
      .select("symbol", "trade_id", "percentile_95")
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
    // the salt really fans out: each symbol's rows land in >1 salt bucket
    val spread = t.withColumn("__salt", pmod(xxhash64(col("trade_id")), lit(4L)))
      .groupBy("symbol").agg(countDistinct(col("__salt")).as("n_salts"))
    assert(spread.filter(col("n_salts") < 2).count() === 0)
  }

  test("schema compat: widening + nullable adds pass, narrowing + required adds fail") {
    import graft.sources.SchemaCompat
    import org.apache.spark.sql.types._
    val v1 = StructType(Seq(
      StructField("time", LongType, nullable = false),
      StructField("price", FloatType, nullable = false),
      StructField("qty", IntegerType, nullable = true)))
    // allowed evolution: float->double, int->long, add nullable column
    val v2 = StructType(Seq(
      StructField("time", LongType, nullable = false),
      StructField("price", DoubleType, nullable = false),
      StructField("qty", LongType, nullable = true),
      StructField("venue", StringType, nullable = true)))
    assert(SchemaCompat.isFullyCompatible(v1, v2))
    // rejected: double->float narrowing
    val narrowed = StructType(Seq(StructField("price", FloatType, nullable = false)))
    val widened = StructType(Seq(StructField("price", DoubleType, nullable = false)))
    assert(SchemaCompat.backward(widened, narrowed).nonEmpty)
    // rejected: adding a REQUIRED column (old rows have no value for it)
    val addRequired = v1.add(StructField("must", StringType, nullable = false))
    assert(SchemaCompat.backward(v1, addRequired).nonEmpty)
    // rejected: removing a required column breaks old readers (forward)
    val removed = StructType(v1.fields.filterNot(_.name == "time"))
    assert(SchemaCompat.forward(v1, removed).nonEmpty)
    intercept[IllegalArgumentException] {
      SchemaCompat.requireCompatible(v1, addRequired)
    }
  }

  test("SLA violations: stale features flagged, fresh ones pass") {
    import spark.implicits._
    val ages = Seq(
      ("ohlc_1m", 25L * 1000000L),          // fresh (sla 30 s)
      ("vwap_5m", 45L * 1000000L),          // stale (sla 30 s)
      ("sma_20", 60L * 1000000L))           // fresh (sla 120 s)
      .toDF("feature", "age_micros")
    val v = Sla.violations(ages).collect()
    assert(v.map(_.getString(0)).toSeq === Seq("vwap_5m"))
  }

  test("Sla.validate returns Left on any stale feature, Right otherwise") {
    val snap = core.FeatureSnapshot("7", java.sql.Timestamp.valueOf("2024-01-20 00:00:00"),
      None, None, None, None, None, None, None, None, None, None, None, None, None, None)
    assert(Sla.validate(snap, Map("ohlc_1m" -> 10L * 1000000L)).isRight)
    val bad = Sla.validate(snap, Map("ohlc_1m" -> 31L * 1000000L))
    assert(bad.isLeft)
    assert(bad.left.toOption.get.feature === "ohlc_1m")
  }

  test("incremental refresh rewrites ONLY trailing date partitions; older files byte-untouched") {
    import java.nio.file.Files
    val t = Tables.trades(spark, sf0001)
    val path = Files.createTempDirectory("graft_partmerge_").toString + "/t"
    graft.streaming.StreamingFeatures.mergeIntoKeyed(
      spark, path, graft.features.Ohlc.compute(t), Seq("bucket", "symbol"))

    def snapshot(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> (f.length(), f.lastModified())).toMap
    }
    val before = snapshot()
    assert(before.keys.exists(_.contains("part_date=")),
      "materialized table must be date-partitioned")

    val mx = t.agg(max(col("time"))).collect()(0).getTimestamp(0)
    graft.streaming.StreamingFeatures
      .refreshOhlcAggregate(spark, t, path, startOffsetSec = 3600)
    val after = snapshot()

    // any date the 1h refresh window (+ snap slack) could touch
    val touchable = (0L to 1L).map { back =>
      java.time.Instant.ofEpochMilli(mx.getTime - back * 24 * 3600 * 1000L)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    }.map(d => s"part_date=$d").toSet
    val untouched = before.keys.filterNot(p => touchable.exists(p.contains))
    assert(untouched.nonEmpty, "fixture must have partitions outside the refresh window")
    untouched.foreach { p =>
      assert(after.get(p).contains(before(p)),
        s"file outside the refresh window was rewritten: $p")
    }
    // and the refreshed table still equals the full recompute
    val full = graft.features.Ohlc.compute(t)
    val refreshed = graft.streaming.StreamingFeatures.readKeyedTable(spark, path)
    assert(refreshed.exceptAll(full).count() === 0)
    assert(full.exceptAll(refreshed).count() === 0)
  }

  test("batch spread-EMA buffers only the bounded trailing window, never full history") {
    val plan = registry.FeatureQueries.queries("q_spread_ema")(spark, sf0001)
      .queryExecution.executedPlan.toString
    // the collect_list is gated behind the trailing-K row_number filter, so
    // per-symbol task state is bounded at K structs regardless of history
    assert(plan.contains("collect_list"), s"plan:\n$plan")
    assert(plan.contains("<= 400"), s"trailing-K filter missing from plan:\n$plan")
    // and it matches the streaming twin's sequential-fold semantics
    val batch = registry.FeatureQueries.queries("q_spread_ema")(spark, sf0001)
    val streamed = registry.StreamQueries.queries("q_stream_spread_ema")(spark, sf0001)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(streamed.exceptAll(batch).count() === 0)
  }

  test("quality rules tokenize once — the split is never inlined per bigram") {
    val plan = registry.ExtQueries.queries("q_quality_rules")(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    // a handful of splits total (one per consuming join branch) is fine;
    // the O(tokens^2) hazard is the split INLINED INTO the bigram lambda,
    // where it would re-tokenize per element via element_at(split(...))
    val occurrences = "split\\(".r.findAllIn(plan).length
    assert(occurrences <= 4, s"split() duplicated $occurrences times:\n$plan")
    assert(!plan.contains("element_at(split("),
      s"split inlined into the bigram lambda:\n$plan")
  }

  test("TenantFilterRule multi-tenant membership (IN-list) filters at the scan") {
    import graft.plans.TenantFilterRule
    TenantFilterRule.enable(spark, Seq(0L, 2L))
    try {
      val visible = Tables.events(spark, sf0001).count()
      val expected = {
        TenantFilterRule.disable(spark)
        Tables.events(spark, sf0001)
          .filter(pmod(col("user_id"), lit(3L)).isInCollection(Seq(0L, 2L))).count()
      }
      assert(visible === expected)
      TenantFilterRule.enable(spark, Seq(0L, 2L))
      val plan = Tables.events(spark, sf0001).queryExecution.optimizedPlan.toString
      assert(plan.contains("pmod"), s"membership predicate missing from plan:\n$plan")
    } finally TenantFilterRule.disable(spark)
  }

  test("range join plans as an equi-join on (key, bucket) — never a nested loop") {
    val t = Tables.trades(spark, sf0001)
    val left = t.select("time", "symbol", "trade_id")
    val right = t.filter(col("bid").isNotNull)
      .select(col("time").as("rt"), col("symbol"), col("bid"))
    val plan = graft.asof.RangeJoin
      .within(left, right, Seq("symbol"), leftTime = "time", rightTime = "rt",
        lookbackSec = 1800)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"epsilon-join must not degrade to a nested loop:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin"), s"expected an equi-join:\n$plan")
  }

  test("merge into a legacy unpartitioned table keeps its layout and semantics") {
    import java.nio.file.Files
    val path = Files.createTempDirectory("graft_legacy_").toString + "/t"
    val t = Tables.trades(spark, sf0001)
    val stale = graft.features.Ohlc.compute(
      t.filter(col("time") < lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))))
    // legacy layout: plain parquet written before date partitioning existed
    stale.write.mode("overwrite").parquet(path)
    val full = graft.features.Ohlc.compute(t)
    // the merge must respect the existing layout (no part_date), not crash
    graft.streaming.StreamingFeatures.mergeIntoKeyed(
      spark, path, full, Seq("bucket", "symbol"))
    val readBack = spark.read.parquet(path)
    assert(!readBack.columns.contains("part_date"))
    assert(readBack.exceptAll(full).count() === 0)
    assert(full.exceptAll(readBack).count() === 0)
  }

  test("empty tenant list denies every row instead of poisoning the optimizer") {
    import graft.plans.TenantFilterRule
    TenantFilterRule.enable(spark, Seq.empty[Long])
    try assert(Tables.events(spark, sf0001).count() === 0)
    finally TenantFilterRule.disable(spark)
  }

  test("schema registry: framing, idempotent ids, compat gate, writer/reader resolution") {
    import graft.sources.{AvroCodec, SchemaRegistry}
    import org.apache.avro.SchemaBuilder

    // wire framing roundtrip + malformed rejection
    val payload = Array[Byte](1, 2, 3, 4)
    val framed = SchemaRegistry.frame(42, payload)
    assert(framed.length === 9 && framed(0) === 0x00)
    val (id, body) = SchemaRegistry.unframe(framed)
    assert(id === 42 && body.toSeq === payload.toSeq)
    intercept[IllegalArgumentException] { SchemaRegistry.unframe(Array[Byte](9, 9)) }

    // registration: same schema → same id; incompatible evolution rejected
    val reg = new SchemaRegistry
    val v1 = reg.register("market-data-value", AvroCodec.SchemaJson)
    assert(reg.register("market-data-value", AvroCodec.SchemaJson) === v1)
    val incompatible = SchemaBuilder.record("MarketData").namespace("graft").fields()
      .name("only_field").`type`().stringType().noDefault().endRecord().toString
    intercept[IllegalArgumentException] {
      reg.register("market-data-value", incompatible)
    }

    // compatible evolution (nullable-with-default add) registers a NEW id,
    // and v1 frames decode through a v2 reader with the default filled in
    val v2Schema = new org.apache.avro.Schema.Parser().parse(AvroCodec.SchemaJson)
    val b = SchemaBuilder.record("MarketData").namespace("graft").fields()
    v2Schema.getFields.forEach { f =>
      b.name(f.name()).`type`(f.schema()).noDefault()
    }
    val v2Json = b.name("venue").`type`().optional().stringType().endRecord().toString
    val v2 = reg.register("market-data-value", v2Json)
    assert(v2 !== v1)
    assert(reg.latest("market-data-value").map(_._1).contains(v2))

    // end-to-end: framed encode (writer v1) → decode resolving writer by id
    // against the v2 reader — values identical to the unframed roundtrip
    val t = Tables.trades(spark, sf0001).limit(200)
    val viaRegistry = AvroCodec.decodeFramed(
      AvroCodec.encodeFramed(t, reg), reg, readerSchemaJson = v2Json)
    val plain = AvroCodec.decode(AvroCodec.encode(t))
    assert(viaRegistry.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(viaRegistry).count() === 0)
  }

  test("PreparedSnapshot handle serves snapshots equal to the one-shot entry and releases on close") {
    val t = Tables.trades(spark, sf0001)
    val asOf1 = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    val asOf2 = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val handle = graft.asof.PitSnapshot.prepare(t, "7")
    try {
      Seq(asOf1, asOf2).foreach { ts =>
        val viaHandle = handle.at(ts)
        val oneShot = graft.asof.PitSnapshot.snapshot(t, "7", ts)
        assert(viaHandle.exceptAll(oneShot).count() === 0)
        assert(oneShot.exceptAll(viaHandle).count() === 0)
      }
    } finally handle.close()
  }

  test("online features fast path equals the as-of retrieve over a 1-timestamp frame") {
    val t = Tables.trades(spark, sf0001)
    val anchor = t.agg(max(col("time")).as("event_timestamp"))
    val entities = t.select("symbol").distinct().crossJoin(broadcast(anchor))
    val viaAsOf = graft.asof.HistoricalFeatures.retrieve(entities, t)
    val fast = graft.asof.HistoricalFeatures.latestFeatures(t)
    assert(fast.exceptAll(viaAsOf).count() === 0)
    assert(viaAsOf.exceptAll(fast).count() === 0)
    // scale shape: the fast path must not sort the trade corpus — its only
    // window/sort work is inside the SMA feature view (sort by time within
    // symbol); assert no union of tagged frames (the as-of signature)
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("__tag"), s"fast path still plans the union as-of:\n$plan")
    // regression pin (r5 benched 4.5s under collect_list GC pressure): the
    // latest-per-key path stays a per-view max_by HASH aggregate — never a
    // per-group array materialization
    assert(!plan.contains("collect_list"), s"fast path materializes arrays:\n$plan")
    assert("max_by".r.findAllIn(plan).size >= 3,
      s"fast path lost the per-view max_by aggregates:\n$plan")
  }

  test("moment-statistic plans carry no per-group arrays — the round-6 discipline") {
    // the scaled-integer exact-moment rewrite must never regress to the
    // sort_array(collect_list) shape: a group's full history as one array
    // row is the engine's one executor-OOM hazard at 100x scale
    val family = Seq("q_pair_corr", "q_beta", "q_autocorr", "q_roll_spread",
      "q_kyle_lambda", "q_var_cvar", "q_vpin", "q_amihud")
    for (q <- family) {
      val plan = registry.FeatureQueries.queries(q)(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("collect_list") && !plan.contains("sort_array"),
        s"$q plans a per-group array:\n${plan.take(2000)}")
    }
    // pin that amihud's grouping key keeps the day so the per-group bound
    // cannot silently widen
    val amihud = registry.FeatureQueries.queries("q_amihud")(spark, sf0001)
      .queryExecution.analyzed.toString
    assert(amihud.contains("day"), "amihud must stay bounded per symbol-day")
  }

  test("gapfill never joins or re-shuffles the dense grid: no Join, one Exchange") {
    val bars = graft.features.Ohlc.compute(Tables.trades(spark, sf0001), "5 minutes")
      .select(col("bucket"), col("symbol"), col("close"))
    for (df <- Seq(
        graft.features.GapFill.locf(bars, 300, Seq("close")),
        graft.features.GapFill.interpolate(bars, 300, Seq("close")))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"gapfill plans a join:\n$plan")
      // one shuffle for the bar aggregation, one for the window lead pass —
      // and nothing after the explode (the dense output stays narrow)
      val explodeIdx = plan.indexOf("Generate explode")
      assert(explodeIdx >= 0, s"plan:\n$plan")
      assert(!plan.substring(0, explodeIdx).contains("Exchange"),
        s"work above the explode shuffles the dense grid:\n$plan")
    }
  }

  test("indicator windows reuse one symbol shuffle: exactly one Exchange") {
    val t = Tables.trades(spark, sf0001)
    for (df <- Seq(
        graft.features.Indicators.bollinger(t),
        graft.features.Indicators.rsi(t))) {
      val plan = df.queryExecution.executedPlan.toString
      val exchanges = plan.split("\n").count(_.contains("Exchange hashpartitioning"))
      assert(exchanges === 1, s"expected one symbol shuffle:\n$plan")
    }
  }

  test("forward as-of pays one shuffle and never explodes to a theta join") {
    val t = Tables.trades(spark, sf0001)
    val quotes = t.filter(col("bid").isNotNull && col("ask").isNotNull)
      .select(col("time"), col("symbol"), ((col("bid") + col("ask")) / 2).as("mid"))
    val plan = AsOfJoin.forward(
      t.select("time", "symbol", "trade_id"), quotes, Seq("symbol"),
      ttlSeconds = Some(3600L))
      .queryExecution.executedPlan.toString
    val exchanges = plan.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"union+window = one key shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"no join, no explosion:\n$plan")
  }

  test("scrub plans: PII audit is a pure narrow map; boilerplate is two exchanges") {
    val docs = Tables.documents(spark, sf0001)
    val piiPlan = graft.ext.Scrub.piiAudit(docs)
      .queryExecution.executedPlan.toString
    assert(!piiPlan.contains("Exchange"), s"piiAudit must not shuffle:\n$piiPlan")

    // single-pass shape: by-gram window + by-doc rollup, nothing recomputed
    val bpPlan = graft.ext.Scrub.boilerplate(docs)
      .queryExecution.executedPlan.toString
    val exchanges = bpPlan.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 2, s"boilerplate = exactly two exchanges (g, doc_id):\n$bpPlan")
    assert(bpPlan.split("\n").count(_.contains("Generate explode")) === 1,
      s"grams must be exploded exactly once:\n$bpPlan")
  }

  test("repeated spans: two exchanges, in-bucket pairing, no join anywhere") {
    val docs = Tables.documents(spark, sf0001)
    val plan = graft.ext.Dedup.repeatedSpans(docs)
      .queryExecution.executedPlan.toString
    val exchanges = plan.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 2,
      s"gram inversion + diagonal window, final rollup reuses the window shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin") &&
      !plan.contains("CartesianProduct"),
      s"pair expansion must stay inside the gram bucket, never a corpus join:\n$plan")
  }

  test("round-6 additions hold their plan floors: funnel, moments, quant, reconcile") {
    def audit(q: String): String = graft.SparkEntry.queries(q)(spark, sf0001)
      .queryExecution.executedPlan.toString
    def hashEx(p: String) = p.split("\n").count(_.contains("Exchange hashpartitioning"))

    // whole funnel in ONE user shuffle: sessionization, all three ordered
    // flags and the per-session rollup share it; only the final 1-row
    // global aggregate repartitions
    val funnel = audit("q_funnel")
    assert(hashEx(funnel) === 1, s"funnel = one user shuffle:\n$funnel")
    assert(!funnel.contains("Join"), s"funnel joins nothing:\n$funnel")

    // the returns frame is memoized+persisted (shared by the 7-query
    // portfolio family); above the cache boundary the moment rollup may
    // add at most ONE exchange over the tiny bars-level frame (zero when
    // the cache was materialized with its symbol partitioning visible) —
    // and never recomputes the bar agg or the returns window
    val moments = audit("q_higher_moments")
    val aboveCache = moments.split("\n")
      .takeWhile(l => !l.contains("InMemoryRelation")).mkString("\n")
    assert(moments.contains("InMemoryTableScan"),
      s"moments must read the shared cached returns frame:\n$moments")
    assert(hashEx(aboveCache) <= 1,
      s"moment rollup: at most one shuffle over the cached returns frame:\n$moments")
    assert(!aboveCache.contains("Window"),
      s"the returns window must live in the cache, not be recomputed:\n$moments")

    // int8 quantization audit is a pure narrow map
    val quant = audit("q_embed_quant")
    assert(!quant.contains("Exchange"), s"embed quant must not shuffle:\n$quant")

    // row-level diff floor: the full-outer join must be a real shuffle
    // join (no broadcast of a 100 TB feed side), plus the report rollup
    val rec = audit("q_feed_reconcile")
    assert((rec.contains("SortMergeJoin") || rec.contains("ShuffledHashJoin")) &&
      rec.contains("FullOuter"),
      s"reconcile pays the key shuffle, never broadcasts a feed:\n$rec")
    assert(!rec.contains("Cartesian"), s"no all-pairs:\n$rec")
  }

  test("decontaminate broadcasts the eval grams and never cross-joins the corpus") {
    val docs = Tables.documents(spark, sf0001)
    val plan = graft.ext.Scrub.decontaminate(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"eval gram set must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no all-pairs:\n$plan")
  }

  test("mixture sampling broadcasts the rate config and stays otherwise narrow") {
    val docs = Tables.documents(spark, sf0001)
    import spark.implicits._
    val rates = Seq(("src0", 0.5), ("src1", 0.9)).toDF("source", "rate")
    val plan = graft.ext.Curation.mixtureSample(docs, rates, "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"rate table must broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"sampling itself must not shuffle the corpus:\n$plan")
  }

  test("risk plans: OBV and Donchian pay one symbol shuffle; range vol two hash aggs") {
    val t = Tables.trades(spark, sf0001)
    for (df <- Seq(graft.features.Risk.obv(t), graft.features.Risk.donchian(t))) {
      val plan = df.queryExecution.executedPlan.toString
      val exchanges = plan.split("\n").count(_.contains("Exchange hashpartitioning"))
      assert(exchanges === 1, s"expected one symbol shuffle:\n$plan")
    }
    val rvPlan = graft.features.Risk.rangeVolatility(t)
      .queryExecution.executedPlan.toString
    val rvExchanges = rvPlan.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(rvExchanges === 2, s"bars agg + day agg = two exchanges:\n$rvPlan")
    assert(!rvPlan.contains("Window"), s"range vol needs no window pass:\n$rvPlan")
  }

  test("neither profiler form multiplies its input through Expand") {
    // exact q_profile (r17): one branch per column — each branch has ONE
    // count_distinct, so no multi-distinct Expand (which duplicated input
    // ×7 through the first agg and dominated the query); values identical
    // to the old wide-agg form (same exact aggregates, regrouped)
    val exact = registry.QualityQueries.queries("q_profile")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!exact.contains("Expand"),
      s"exact profile regressed to a multi-distinct Expand plan:\n$exact")
    // approx form: HLL sketches, ONE scan, no input multiplication
    val approx = registry.QualityQueries.queries("q_profile_approx")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!approx.contains("Expand"),
      s"approx profile must not multiply its input through Expand:\n$approx")
  }

  test("SQL feature_pit_snapshot equals the library PitSnapshot row for row") {
    import org.apache.spark.sql.SparkSession
    // deterministic probe: the lexicographically smallest symbol, as-of
    // 30 minutes before its newest tick (partial-history PIT view); the
    // base session must exist BEFORE the fresh-session build reuses its
    // SparkContext
    val t = Tables.trades(spark, sf0001)
    val probe = t.agg(min(col("symbol"))).head().getString(0)
    val mx = t.filter(col("symbol") === probe)
      .agg(max(col("time"))).head().getTimestamp(0)
    val asOf = new java.sql.Timestamp(mx.getTime - 30L * 60 * 1000)
    val expected = graft.asof.PitSnapshot
      .snapshot(t, probe, asOf).collect().toSeq
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
    try {
      s2.conf.set(graft.plans.GraftExtensions.PitSourceConfKey, sf0001)
      val viaSql = s2.sql(
        s"SELECT * FROM feature_pit_snapshot('$probe', TIMESTAMP '$asOf')")
      assert(viaSql.columns.toSeq === Seq("symbol", "as_of_ts", "open", "high",
        "low", "close", "sma_20", "ewm_12", "volatility_1h", "vwap_5m",
        "large_trade_flag", "percentile_95", "bid", "ask", "bidask_spread",
        "trade_imbalance_5m", "regime_tag"))
      assert(viaSql.collect().toSeq === expected,
        "SQL entry point must return the library snapshot row exactly")
      // a catalog view works as the source when no conf path is set
      s2.conf.unset(graft.plans.GraftExtensions.PitSourceConfKey)
      Tables.trades(s2, sf0001).createOrReplaceTempView("trades")
      assert(s2.sql(
        s"SELECT * FROM feature_pit_snapshot('$probe', TIMESTAMP '$asOf')")
        .collect().toSeq === expected)
      // the future-query guard is the caller's contract (validateAsOf);
      // non-constant args are refused loudly at plan time (current_timestamp
      // folds during analysis and is thus accepted — uuid() cannot fold)
      val e = intercept[Exception] {
        s2.sql(s"SELECT * FROM feature_pit_snapshot(uuid(), TIMESTAMP '$asOf')").collect()
      }
      assert(e.getMessage.contains("constant"),
        s"expected the foldable-argument refusal, got: ${e.getMessage}")
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  test("SQL versioned-table trio: graft_versioned / graft_table_history / graft_changes") {
    import org.apache.spark.sql.SparkSession
    import graft.sources.VersionedTable
    // base session first — the fresh session build reuses its SparkContext
    val root = java.nio.file.Files.createTempDirectory("graft_sqlvt_").toString
    VersionedTable.commit(spark.range(0, 5).toDF("id"), root)
    VersionedTable.commit(spark.range(5, 8).toDF("id"), root)
    VersionedTable.commit(spark.range(100, 103).toDF("id"), root, "overwrite")
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
    try {
      def ids(sql: String): Set[Long] =
        s2.sql(sql).collect().map(_.getLong(0)).toSet
      // latest snapshot and time travel
      assert(ids(s"SELECT id FROM graft_versioned('$root')") === (100L until 103L).toSet)
      assert(ids(s"SELECT id FROM graft_versioned('$root', 2)") === (0L until 8L).toSet)
      // the commit log as rows — pure manifest metadata
      val hist = s2.sql(
        s"SELECT version, operation, n_rows FROM graft_table_history('$root') ORDER BY version")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      assert(hist === Seq((1, "append", 5L), (2, "append", 3L), (3, "overwrite", 3L)))
      // the change feed, composable with plain SQL on top
      assert(ids(s"SELECT id FROM graft_changes('$root', 1, 2) WHERE id >= 6") ===
        Set(6L, 7L))
      // the ROW-LEVEL CDF TVF (Delta table_changes shape): a DML commit's
      // images, queryable by change type in pure SQL
      VersionedTable.delete(s2, root,
        org.apache.spark.sql.functions.col("id") === 101L, cdf = Some(true))
      assert(ids(s"SELECT id FROM graft_change_feed('$root', 3, 4) " +
        "WHERE _change_type = 'delete'") === Set(101L))
      assert(s2.sql(s"SELECT _commit_version FROM graft_change_feed('$root', 3, 4)")
        .head().getLong(0) === 4L)
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  test("GraftExtensions injects the full native SQL surface + RLS rule at session build") {
    import org.apache.spark.sql.SparkSession
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    // Same SparkContext, fresh session state with the extensions applied —
    // the cluster deployment shape (spark.sql.extensions=graft.plans.GraftExtensions).
    val s2 = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
    try {
      assert(s2 ne spark, "builder must create a NEW session, not reuse the base one")
      val row = s2.sql(
        """SELECT
          |  graft_jaccard(graft_shingles('a b c d', 2), graft_shingles('b c d e', 2)) AS j,
          |  size(graft_minhash(graft_shingles('a b c d', 2), 16)) AS nh,
          |  size(graft_minhash_bands(graft_shingles('a b c d', 2), 16, 4)) AS nb,
          |  graft_simhash('hello world text') AS sh,
          |  size(graft_winnow('a b c d e f g h', 3, 4)) AS nw,
          |  graft_srp_bucket_poly(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT)), 8) AS srp,
          |  cosine_sim(array(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
          |             array(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE))) AS cos
          |""".stripMargin).head()
      assert(row.getDouble(0) === 0.5) // {a b,b c,c d} vs {b c,c d,d e}: 2/4
      assert(row.getInt(1) === 16)
      assert(row.getInt(2) === 4)
      assert(row.getInt(4) >= 1)
      val srp = row.getLong(5)
      assert(srp >= 0L && srp < 256L)
      assert(row.getDouble(6) === 1.0)
      // and the same literals through the runtime-registered base session
      // must agree (the two registration paths expose one surface)
      graft.plans.TextHashing.register(spark)
      val base = spark.sql(
        "SELECT graft_simhash('hello world text') AS sh").head().getLong(0)
      assert(row.getLong(3) === base)

      // the injected optimizer rule enforces RLS from config alone
      s2.conf.set(graft.plans.TenantFilterRule.TenantConfKey, "1")
      val visible = Tables.events(s2, sf0001).count()
      val expected = Tables.events(spark, sf0001)
        .filter(pmod(col("user_id"), lit(3L)) === 1L).count()
      assert(visible === expected)
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }
}
