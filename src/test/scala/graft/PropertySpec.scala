package graft

import java.sql.Timestamp

import graft.asof.PitSnapshot
import graft.features._
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants over randomized trade frames (mirroring the
  * reference's range/invariant tests with generated rather than fixed data —
  * `tests/test_smartdb_correctness.py:136-192`).
  */
class PropertySpec extends SparkTestBase {

  /** Deterministic forAll over scalacheck generators (no scalatestplus
    * bridge in the image): 5 samples per property, fixed seeds.
    */
  private def forAll[T](gen: Gen[T])(body: T => Unit): Unit =
    (0 until 5).foreach { i =>
      body(gen.apply(Gen.Parameters.default, Seed(42L + i)).get)
    }

  private val tradeGen = for {
    n      <- Gen.choose(5, 60)
    seed   <- Gen.choose(0L, 1000000L)
  } yield (n, seed)

  /** Deterministic pseudo-random trades from (n, seed) — generated
    * distributed (spark.range), not collected.
    */
  private def genTrades(n: Int, seed: Long) = {
    spark.range(n).select(
      expr(s"timestamp_micros(CAST(1704067200000000 + (xxhash64(id, $seed) % 86400000000) + id AS BIGINT))")
        .as("time"),
      expr(s"CAST(pmod(xxhash64(id + 7, $seed), 3) AS STRING)").as("symbol"),
      expr(s"CAST(50 AS DOUBLE) + pmod(xxhash64(id + 13, $seed), 10000) / CAST(100 AS DOUBLE)").as("price"),
      expr(s"CAST(1 + pmod(xxhash64(id + 17, $seed), 100) AS DOUBLE)").as("volume"),
      col("id").cast("string").as("trade_id"),
      expr(s"CASE pmod(xxhash64(id + 19, $seed), 3) WHEN 0 THEN 'buy' WHEN 1 THEN 'sell' END")
        .as("side"),
      expr(s"CAST(49 AS DOUBLE) + pmod(xxhash64(id + 13, $seed), 10000) / CAST(100 AS DOUBLE)").as("bid"),
      expr(s"CAST(51 AS DOUBLE) + pmod(xxhash64(id + 13, $seed), 10000) / CAST(100 AS DOUBLE)").as("ask"))
  }

  test("property: OHLC bars always satisfy low <= open,close <= high") {
    forAll(tradeGen) { case (n, seed) =>
      val bars = Ohlc.compute(genTrades(n, seed))
      assert(bars.filter(
        col("high") < col("low") || col("open") > col("high") ||
          col("open") < col("low") || col("close") > col("high") ||
          col("close") < col("low")).count() === 0)
    }
  }

  test("property: imbalance stays in [-1, 1] and EWM stays within price range") {
    forAll(tradeGen) { case (n, seed) =>
      val t = genTrades(n, seed)
      assert(Imbalance.compute(t)
        .filter(col("imbalance") < -1 || col("imbalance") > 1).count() === 0)
      // EWM is a convex combination of recent prices -> bounded by extremes
      val bounds = t.agg(min("price"), max("price")).collect()(0)
      val (lo, hi) = (bounds.getDouble(0) - 1e-6, bounds.getDouble(1) + 1e-6)
      assert(Ewm.compute(t).filter(col("ewm_12") < lo || col("ewm_12") > hi).count() === 0)
    }
  }

  test("property: PIT snapshot never sees the future for random as-of times") {
    forAll(Gen.zip(Gen.choose(1, 28), Gen.choose(0L, 100000L))) { case (day, seed) =>
      val t = genTrades(50, seed)
      val asOf = Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
      val full = PitSnapshot.snapshot(t, "1", asOf).collect()(0)
      val truncated = PitSnapshot.snapshot(
        t.filter(col("time") <= lit(asOf)), "1", asOf).collect()(0)
      assert(full === truncated)
    }
  }

  test("property: dedup is idempotent and never increases row counts") {
    forAll(tradeGen) { case (n, seed) =>
      val t = genTrades(n, seed)
      val doubled = t.unionAll(t)
      val once = graft.ext.Dedup.exact(doubled, Seq("time", "symbol", "trade_id"))
      assert(once.count() === t.count())
      assert(graft.ext.Dedup.exact(once, Seq("time", "symbol", "trade_id")).count() === once.count())
    }
  }

  test("property: bucketed range join equals the theta-join for random windows") {
    forAll(Gen.zip(tradeGen, Gen.oneOf(60L, 600L, 3600L, 86400L))) {
      case ((n, seed), w) =>
        val t = genTrades(n, seed)
        val left = t.select("time", "symbol", "trade_id")
        val right = t.select(col("time").as("rt"), col("symbol"), col("price"))
        val bucketed = graft.asof.RangeJoin.within(
          left, right, Seq("symbol"), leftTime = "time", rightTime = "rt",
          lookbackSec = w, rightPrefix = "")
        val naive = left.as("l").join(right.as("r"),
          col("l.symbol") === col("r.symbol") &&
            unix_micros(col("r.rt")) <= unix_micros(col("l.time")) &&
            unix_micros(col("r.rt")) >= unix_micros(col("l.time")) - w * 1000000L)
          .select(col("l.time"), col("l.symbol"), col("l.trade_id"),
            col("rt"), col("price"))
        assert(bucketed.exceptAll(naive).count() === 0)
        assert(naive.exceptAll(bucketed).count() === 0)
    }
  }

  test("property: TWAP is bounded by bucket price extremes; weights tile the active span") {
    forAll(tradeGen) { case (n, seed) =>
      val t = genTrades(n, seed)
      val twap = Twap.compute(t)
      // a time-weighted mean is a convex combination of in-bucket prices
      val bars = Ohlc.compute(t, "1 hour")
        .select(col("bucket"), col("symbol"), col("low"), col("high"))
      val joined = twap.join(bars, Seq("bucket", "symbol"))
      assert(joined.filter(
        col("twap_1h") < col("low") - 1e-6 || col("twap_1h") > col("high") + 1e-6)
        .count() === 0)
      // active span = (bucket end − first tick), exactly
      val spans = t
        .groupBy(window(col("time"), "1 hour"), col("symbol"))
        .agg(min(unix_micros(col("time"))).as("first_t"))
        .select(col("window.start").as("bucket"), col("symbol"), col("first_t"))
      val chk = twap.join(spans, Seq("bucket", "symbol"))
        .filter(col("active_micros") =!=
          unix_micros(col("bucket")) + 3600000000L - col("first_t"))
      assert(chk.count() === 0)
    }
  }

  test("integer-moment correlations agree with Spark's float corr/covar to 1e-6") {
    // the scaled-integer exact-moment forms are an ENGINE-EXACTNESS device,
    // not a different statistic: on real data they must match the built-in
    // float aggregates to within the quantization error
    val rets = graft.registry.FeatureQueries.queries("q_pair_corr")(spark, sf0001)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("symbol").orderBy("bucket")
    val bars = Ohlc.compute(core.Tables.trades(spark, sf0001), "5 minutes")
      .select(col("bucket"), col("symbol"), col("close"))
    val r = bars.select(col("bucket"), col("symbol"),
        graft.functions.Quantize.r(
          col("close") / nullif(lag(col("close"), 1).over(w), lit(0.0)) - lit(1.0),
          6).as("ret"))
      .filter(col("ret").isNotNull)
    val ref = r.as("a").join(r.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.symbol") < col("b.symbol"))
      .groupBy(col("a.symbol").as("sym_a"), col("b.symbol").as("sym_b"))
      .agg(corr(col("a.ret"), col("b.ret")).as("ref_corr"), count(lit(1)).as("n"))
    val joined = rets.join(ref, Seq("sym_a", "sym_b"))
      .filter(col("n") >= 2 && col("ret_corr").isNotNull && col("ref_corr").isNotNull)
    assert(joined.count() > 0, "need comparable pairs")
    assert(joined.filter(abs(col("ret_corr") - col("ref_corr")) > 1e-5).count() === 0,
      "integer-moment corr must equal float corr within quantization error")
  }

  test("property: risk invariants — CVaR <= VaR, OBV telescopes, Donchian brackets") {
    forAll(tradeGen) { case (n, seed) =>
      val t = genTrades(n, seed)
      // the tail mean can never exceed the tail cut
      assert(Risk.varCvar(t)
        .filter(col("cvar_95") > col("var_95") + 1e-9).count() === 0)
      // final OBV per symbol equals the naive sum of signed volumes
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol").orderBy("time", "trade_id")
      val naive = t
        .select(col("symbol"),
          coalesce(signum(col("price") - lag(col("price"), 1).over(w))
            .cast("bigint") * col("volume").cast("bigint"), lit(0L)).as("step"))
        .groupBy("symbol").agg(sum(col("step")).as("expect"))
      val last = Risk.obv(t)
        .groupBy("symbol").agg(max_by(col("obv"), struct(col("time"), col("trade_id"))).as("got"))
      assert(last.join(naive, Seq("symbol"))
        .filter(col("got") =!= col("expect")).count() === 0)
      // channel brackets every price
      assert(Risk.donchian(t)
        .filter(col("price") > col("dc_high") || col("price") < col("dc_low"))
        .count() === 0)
    }
  }

  test("property: VPIN and bucket toxicity stay in [0,1]; volume clock is total") {
    forAll(tradeGen) { case (n, seed) =>
      val t = genTrades(n, seed)
      val v = Risk.vpin(t, bucketVolume = 200, window = 5)
      assert(v.filter(
        (col("toxicity").isNotNull && (col("toxicity") < 0 || col("toxicity") > 1)) ||
          (col("vpin").isNotNull && (col("vpin") < 0 || col("vpin") > 1)))
        .count() === 0)
      // volume clock totality, derived INDEPENDENTLY: trade volumes are
      // < bucket size, so no bucket index is skipped and the count per
      // symbol must be (total - last trade's volume) div V + 1
      val expect = t.groupBy("symbol").agg(
        sum(col("volume").cast("bigint")).as("tot"),
        max_by(col("volume").cast("bigint"),
          struct(col("time"), col("trade_id"))).as("lastv"))
        .select(col("symbol"), (expr("(tot - lastv) div 200L") + 1).as("nb"))
      val got = v.groupBy("symbol").agg(count(lit(1)).as("got"))
      assert(got.join(expect, Seq("symbol"))
        .filter(col("got") =!= col("nb")).count() === 0,
        "bucket count must match the independent volume-clock derivation")
    }
  }

  test("property: self-decontamination flags every doc with >= k tokens") {
    forAll(Gen.choose(0L, 100000L)) { seed =>
      val docs = spark.range(12).select(
        col("id").as("doc_id"),
        expr(s"array_join(transform(sequence(1, 10 + CAST(pmod(xxhash64(id, $seed), 5) AS INT)), " +
          s"i -> concat('w', pmod(xxhash64(i + id * 31, $seed), 20))), ' ')").as("text"))
      val out = graft.ext.Scrub.decontaminate(docs, docs, k = 8)
      // every train doc shares ALL its grams with the eval copy of itself
      assert(out.filter(!col("contaminated")).count() === 0)
      assert(out.count() === 12)
    }
  }

  test("property: boilerplate fraction is 1 when every doc is identical, 0 when all disjoint") {
    val same = spark.range(6).select(col("id").as("doc_id"),
      lit("alpha beta gamma delta epsilon zeta eta").as("text"))
    val sameOut = graft.ext.Scrub.boilerplate(same, k = 5, minDocs = 3)
    assert(sameOut.filter(col("boilerplate_frac") =!= 1.0).count() === 0)
    val disjoint = spark.range(6).select(col("id").as("doc_id"),
      expr("array_join(transform(sequence(1, 8), i -> concat('d', id, 'w', i)), ' ')").as("text"))
    val disOut = graft.ext.Scrub.boilerplate(disjoint, k = 5, minDocs = 2)
    assert(disOut.filter(col("boilerplate_frac") =!= 0.0).count() === 0)
  }

  test("property: reconciling a feed against itself reports only matches") {
    val t = graft.core.Tables.trades(spark, sf0001)
    val rep = graft.quality.Reconcile.report(t, t, Seq("trade_id"), "symbol",
      Seq("price", "volume", "side", "bid", "ask"))
    assert(rep.filter(col("n_only_a") =!= 0 || col("n_only_b") =!= 0 ||
      col("n_mismatch") =!= 0).count() === 0)
    assert(rep.agg(sum(col("n_match"))).collect()(0).getLong(0) === t.count())
  }

  test("property: an empty action calendar leaves every price unadjusted") {
    import graft.features.CorporateActions
    val t = graft.core.Tables.trades(spark, sf0001)
    val none = CorporateActions.syntheticActions(t).filter(lit(false))
    val adj = CorporateActions.backwardAdjust(t, none)
    assert(adj.filter(col("adj_divisor") =!= 1L).count() === 0)
    assert(adj.filter(col("price_adj") =!=
      graft.functions.Quantize.r(col("price"), 6)).count() === 0)
    assert(adj.count() === t.count())
  }

  test("property: incremental refresh equals full recompute under ANY delta split") {
    import graft.operators.IncrementalAgg
    val splitGen = for {
      n      <- Gen.choose(20, 200)
      nWays  <- Gen.choose(2, 6)
      seed   <- Gen.choose(0L, 1000000L)
    } yield (n, nWays, seed)
    forAll(splitGen) { case (n, nWays, seed) =>
      val rows = spark.range(n).select(
        col("id"),
        expr(s"pmod(xxhash64(id + 3, $seed), 5)").as("grp"),
        expr(s"pmod(xxhash64(id + 11, $seed), 1000)").as("v"),
        expr(s"pmod(xxhash64(id + 19, $seed), $nWays)").as("part"))
      val deltas = (0 until nWays).map(p => rows.filter(col("part") === p))
      val inc = IncrementalAgg.refreshAll(deltas, Seq("grp"), Seq("v"))
      val full = IncrementalAgg.aggregate(rows, Seq("grp"), Seq("v"))
      assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
        s"split (n=$n, ways=$nWays, seed=$seed) diverged from full recompute")
    }
  }

  test("property: change-feed IVM equals the full recompute at EVERY step of 100 random commit sequences") {
    import graft.operators.IncrementalAgg
    import graft.sources.VersionedTable
    // Random sequences of append/overwrite commits driven through the REAL
    // commit log + change feed: after each commit the consumer state —
    // merge(state, aggregate(changes)) on appends, re-derive-from-snapshot
    // on overwrites (the change feed refuses to cross them by contract) —
    // must equal aggregate(read(asOf = v)) exactly. Sequences include
    // EMPTY batches (freq 1/6) and out-of-order keys (bucket ids are
    // hashed, so later commits routinely revisit earlier buckets).
    val scenarioGen = for {
      len  <- Gen.choose(2, 4)
      ops  <- Gen.listOfN(len, Gen.frequency(4 -> Gen.const("append"),
                1 -> Gen.const("overwrite")))
      ns   <- Gen.listOfN(len, Gen.frequency(1 -> Gen.const(0),
                5 -> Gen.choose(1, 15)))
      seed <- Gen.choose(0L, 1000000L)
    } yield (ops.zip(ns), seed)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2") // tiny frames, 100 sequences
    try {
      var sawEmpty = false; var sawOverwrite = false
      (0 until 100).foreach { i =>
        val (batches, seed) =
          scenarioGen(Gen.Parameters.default, Seed(9000L + i)).get
        val root = java.nio.file.Files.createTempDirectory("graft_ivm_prop_").toString
        var state: Option[org.apache.spark.sql.DataFrame] = None
        batches.foreach { case (op, n) =>
          if (n == 0) sawEmpty = true
          if (op == "overwrite") sawOverwrite = true
          val delta = spark.range(n).select(
            expr(s"pmod(xxhash64(id + 5, $seed), 4)").as("bucket"),
            expr(s"pmod(xxhash64(id + 31, $seed), 1000)").as("v"))
          val v = VersionedTable.commit(delta, root, op)
          state = Some(
            if (op == "append" && v > 1 && state.isDefined)
              IncrementalAgg.merge(state.get,
                IncrementalAgg.aggregate(
                  VersionedTable.changes(spark, root, v - 1, v),
                  Seq("bucket"), Seq("v")),
                Seq("bucket"))
            else // first commit or overwrite: re-derive from the snapshot
              IncrementalAgg.aggregate(
                VersionedTable.read(spark, root, Some(v)),
                Seq("bucket"), Seq("v")))
          def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
            .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
          val got = toMap(state.get)
          val want = toMap(IncrementalAgg.aggregate(
            VersionedTable.read(spark, root, Some(v)), Seq("bucket"), Seq("v")))
          assert(got === want,
            s"IVM diverged at seq=$i v=$v op=$op n=$n seed=$seed")
        }
      }
      assert(sawEmpty && sawOverwrite,
        "generator must exercise empty batches and overwrites")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("property: CDF IVM equals the full recompute across random APPEND+DML commit sequences") {
    import graft.operators.IncrementalAgg
    import graft.sources.VersionedTable
    // Directive-6 extension of the IVM property: sequences now contain
    // row-level DML — delete/update/merge commits consumed as ROW-LEVEL
    // change images (changeFeed) folded with retractable monoids
    // (aggregateChanges + merge + compactState). After EVERY commit the
    // state must equal aggregate(read(asOf = v)) exactly; no resyncs.
    // r14: the generator also drives the MERGE-ON-READ twins (deletion
    // vectors) and the purge — every storage strategy must keep the same
    // IVM contract, and COW/MOR commits interleave freely on one table
    val scenarioGen = for {
      len  <- Gen.choose(3, 5)
      ops  <- Gen.listOfN(len, Gen.frequency(4 -> Gen.const("append"),
                1 -> Gen.const("delete"), 1 -> Gen.const("update"),
                1 -> Gen.const("merge"), 1 -> Gen.const("deleteMor"),
                1 -> Gen.const("updateMor"), 1 -> Gen.const("mergeMor"),
                1 -> Gen.const("purge")))
      ns   <- Gen.listOfN(len, Gen.choose(1, 15))
      seed <- Gen.choose(0L, 1000000L)
    } yield (ops.zip(ns), seed)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      var sawOps = Set.empty[String]
      (0 until 40).foreach { i =>
        val (batches, seed) =
          scenarioGen(Gen.Parameters.default, Seed(7000L + i)).get
        val root = java.nio.file.Files.createTempDirectory("graft_cdf_prop_").toString
        VersionedTable.setTableProperties(root,
          Map(VersionedTable.CdfEnabledProp -> "true")) // CDF-fed IVM opts in
        // seed commit so DML always has a table to touch
        VersionedTable.commit(spark.range(20).select(
          col("id").as("k"),
          expr(s"pmod(xxhash64(id, $seed), 4)").as("bucket"),
          expr(s"pmod(xxhash64(id + 7, $seed), 100)").as("v")), root,
          statsCols = Seq("k"))
        var state = IncrementalAgg.aggregateChanges(
          VersionedTable.changeFeed(spark, root, 0, 1), Seq("bucket"), Seq("v"))
        batches.zipWithIndex.foreach { case ((op, n), j) =>
          sawOps += op
          val vPrev = VersionedTable.latestVersion(root).get
          op match {
            case "append" => VersionedTable.commit(spark.range(n).select(
              (col("id") + lit(1000L * (j + 1))).as("k"),
              expr(s"pmod(xxhash64(id + $j, $seed), 4)").as("bucket"),
              expr(s"pmod(xxhash64(id + $j + 13, $seed), 100)").as("v")), root)
            case "delete" =>
              VersionedTable.delete(spark, root,
                expr(s"pmod(xxhash64(k + $j, $seed), 5)") === 0)
            case "update" =>
              VersionedTable.update(spark, root,
                expr(s"pmod(xxhash64(k + $j, $seed), 4)") === 1,
                Map("v" -> (col("v") + lit(10L)),
                  "bucket" -> expr(s"pmod(bucket + 1, 4)")))
            case "merge" => VersionedTable.merge(spark, root,
              spark.range(n).select(
                (col("id") * 3 + j).as("k"),
                expr(s"pmod(xxhash64(id + $j + 3, $seed), 4)").as("bucket"),
                lit(j.toLong).as("v")), "k")
            case "deleteMor" =>
              VersionedTable.deleteMor(spark, root,
                expr(s"pmod(xxhash64(k + $j + 1, $seed), 5)") === 0)
            case "updateMor" =>
              VersionedTable.updateMor(spark, root,
                expr(s"pmod(xxhash64(k + $j + 2, $seed), 4)") === 1,
                Map("v" -> (col("v") + lit(10L)),
                  "bucket" -> expr(s"pmod(bucket + 1, 4)")))
            case "mergeMor" => VersionedTable.mergeMor(spark, root,
              spark.range(n).select(
                (col("id") * 5 + j).as("k"),
                expr(s"pmod(xxhash64(id + $j + 5, $seed), 4)").as("bucket"),
                lit(j.toLong + 50L).as("v")), "k")
            case "purge" =>
              // burns a version only when dvs exist (operation=optimize,
              // content-preserving -> EMPTY delta for the subscriber)
              VersionedTable.purgeDeletes(spark, root)
          }
          val v = VersionedTable.latestVersion(root).get
          if (v > vPrev) // no-op DML burns no version and feeds no delta
            state = IncrementalAgg.compactState(IncrementalAgg.merge(state,
              IncrementalAgg.aggregateChanges(
                VersionedTable.changeFeed(spark, root, vPrev, v),
                Seq("bucket"), Seq("v")),
              Seq("bucket")))
          def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
            .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
          val want = toMap(IncrementalAgg.aggregate(
            VersionedTable.read(spark, root, Some(v)), Seq("bucket"), Seq("v")))
          assert(toMap(state) === want,
            s"CDF IVM diverged at seq=$i v=$v op=$op n=$n seed=$seed")
        }
      }
      assert(sawOps === Set("append", "delete", "update", "merge",
        "deleteMor", "updateMor", "mergeMor", "purge"),
        s"generator must exercise every DML verb, saw $sawOps")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }
}
