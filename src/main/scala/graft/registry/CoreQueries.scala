package graft.registry

import graft.functions.Quantize
import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operators over the TPC-H-ish tables: scans with pushed
  * predicates, hash aggregations, broadcast/shuffle joins, semi/anti joins,
  * window top-k, set ops, JSON parse. Each pairs with a DuckDB oracle.
  */
object CoreQueries {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // PIVOT: per-symbol buy/sell volume as columns. The explicit value list
    // avoids the distinct-values discovery job; the plan is two stacked
    // map-side-combined key aggregations (sum by (symbol, side), then
    // pivotfirst by symbol) — shuffles carry O(groups) rows (plan-asserted).
    "q_pivot_sides" -> ((s, d) =>
      graft.core.Tables.trades(s, d)
        .groupBy("symbol")
        .pivot("side", Seq("buy", "sell"))
        .agg(sum(col("volume")))),

    // ROLLUP over (symbol, day): subtotal and grand-total rows in one pass
    // (Spark expands grouping sets in a single Expand + hash agg).
    "q_rollup_volume" -> ((s, d) =>
      graft.core.Tables.trades(s, d)
        .rollup(col("symbol"), date_trunc("day", col("time")).as("day"))
        .agg(sum(col("volume")).as("total_volume"), count(lit(1)).as("n_trades"))),

    // CUBE over (symbol, side): all four grouping sets in one Expand+agg.
    "q_cube_volume" -> ((s, d) =>
      graft.core.Tables.trades(s, d)
        .cube(col("symbol"), col("side"))
        .agg(sum(col("volume")).as("total_volume"), count(lit(1)).as("n_trades"))),

    // Runtime bloom-filter join pruning: the urgent-orders dim collapses to
    // ONE bounded bloom blob probed on the lineitem scan BEFORE the join
    // shuffle; the exact semi join then removes bloom false positives, so
    // the oracle is the PLAIN semi join (value-transparent, like salting).
    // BloomPruneSpec asserts the might_contain predicate sits on the scan.
    "q_bloom_prune" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      graft.operators.BloomPrune.semiJoinPruned(
        Tables.lineitem(s, d), urgent, "l_orderkey", "o_orderkey",
        expectedItems = 300000L, numBits = 1L << 22)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          Quantize.r(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    // Z-order (Morton) layout audit: deterministic 16-bit dims from the two
    // join keys, 64 target files from the code's top bits, per-file min/max
    // skipping stats for BOTH dims — the layout decision itself is the gated
    // value (pure integer bit-math, identical in ANSI SQL). ZOrderSpec
    // asserts the measurable effect: point predicates on EITHER dim skip
    // most files, where a linear sort skips none for the second dim.
    "q_zorder_stats" -> ((s, d) => {
      val dims = Tables.orders(s, d).select(
        (col("o_orderkey") % 256).cast("long").as("ka"),
        (col("o_custkey") % 256).cast("long").as("kb"))
      graft.operators.ZOrder.fileStats(dims, "ka", 255L, "kb", 255L, nFiles = 64)
    }),

    // Manifest-level data skipping: three chronological commits carrying
    // per-dir (min,max) time stats in the commit log, then a range filter
    // of the MIDDLE third over read (the pushed time bounds admit only the
    // intersecting dir — ManifestIndexSpec asserts the scanned file count).
    // Oracle = the plain range filter over the raw table: pruning must be
    // value-transparent.
    "q_versioned_prune" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtprune_").toString
      val t = Tables.trades(s, d)
        .select(col("time"), col("symbol"), col("price"), col("volume"))
      val b = t.agg(min(unix_micros(col("time"))).as("mn"),
        max(unix_micros(col("time"))).as("mx")).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val t1 = mn + (mx - mn) / 3
      val t2 = mn + 2 * ((mx - mn) / 3)
      def um = unix_micros(col("time"))
      VersionedTable.commit(t.filter(um < t1), root, "append", statsCols = Seq("time"))
      VersionedTable.commit(t.filter(um >= t1 && um < t2), root, "append",
        statsCols = Seq("time"))
      VersionedTable.commit(t.filter(um >= t2), root, "append", statsCols = Seq("time"))
      // attribute-vs-literal bounds: the shape the scan's dir filters translate
      VersionedTable.read(s, root)
        .filter(col("time") >= timestamp_micros(lit(t1)) &&
          col("time") < timestamp_micros(lit(t2)))
        .groupBy("symbol")
        .agg(count(lit(1)).as("n"), sum(col("volume")).as("sum_volume"),
          Quantize.r(sum(col("price")), 4).as("sum_price"))
    }),

    // Bloom-sidecar point lookup: three keyed append commits each carrying a
    // per-dir bloom over o_orderkey, then an equality filter over read —
    // only dirs whose bloom might contain the probe key are scanned
    // (ManifestIndexSpec asserts the scanned file count). Oracle = the
    // plain point filter over the raw table: bloom skipping must be
    // value-transparent, exactly like the min/max pruning of
    // q_versioned_prune.
    "q_versioned_point" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtpoint_").toString
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      (0 to 2).foreach(r => VersionedTable.commit(
        orders.filter(col("o_orderkey") % 3 === r), root, "append",
        bloomCols = Seq("o_orderkey")))
      val k = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      VersionedTable.read(s, root)
        .filter(col("o_orderkey") === k)
        .select(col("o_orderkey"), col("o_orderstatus"),
          Quantize.r(col("o_totalprice"), 2).as("total_price"))
    }),

    // COMPOSED skipping — the real PIT scan shape (time RANGE ∧ symbol
    // POINT, the reference's `(symbol, time DESC)` composite index,
    // `sql/timescaledb_schema.sql:34-35`): six append commits — three
    // chronological thirds × two symbol halves — each carrying time min/max
    // stats AND a symbol bloom sidecar, then ONE filtered read of the
    // middle third ∧ the lexicographically smallest symbol. The range tier
    // dismisses the four off-third dirs from the manifest alone; the bloom
    // tier dismisses the wrong symbol half without its files being read
    // (ManifestIndexSpec asserts the scanned file count). Oracle = the
    // plain two-predicate filter — composition must be value-transparent.
    "q_versioned_combo" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtcombo_").toString
      val t = Tables.trades(s, d)
        .select(col("time"), col("symbol"), col("price"), col("volume"))
      val b = t.agg(min(unix_micros(col("time"))).as("mn"),
        max(unix_micros(col("time"))).as("mx"),
        min(col("symbol")).as("sym")).head()
      val (mn, mx, sym) = (b.getLong(0), b.getLong(1), b.getString(2))
      val t1 = mn + (mx - mn) / 3
      val t2 = mn + 2 * ((mx - mn) / 3)
      def um = unix_micros(col("time"))
      val third = Seq(um < t1, um >= t1 && um < t2, um >= t2)
      for (tf <- third; h <- 0 to 1)
        VersionedTable.commit(t.filter(tf && crc32(col("symbol")) % 2 === h),
          root, "append", statsCols = Seq("time"), bloomCols = Seq("symbol"))
      VersionedTable.read(s, root)
        .filter(col("time") >= timestamp_micros(lit(t1)) &&
          col("time") < timestamp_micros(lit(t2)) && col("symbol") === sym)
        .groupBy("symbol")
        .agg(count(lit(1)).as("n"), sum(col("volume")).as("sum_volume"),
          Quantize.r(sum(col("price")), 4).as("sum_price"))
    }),

    // Copy-on-write DELETE: three key-range dirs with min/max stats, then
    // DELETE WHERE <middle range ∧ status='F'> — the stats tier proves the
    // side dirs can't match (carried by name, never opened), only the
    // middle dir is rewritten, and ONE manifest publishes the result.
    // Oracle = the predicate's complement over the raw table: row-level
    // DML through the commit log must be value-exact, including NULL
    // semantics (delete iff predicate TRUE).
    "q_versioned_delete" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtdel_").toString
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val (lo, hi) = (mk / 3, 2 * (mk / 3))
      Seq(col("o_orderkey") <= lo,
        col("o_orderkey") > lo && col("o_orderkey") <= hi,
        col("o_orderkey") > hi).foreach(p =>
        VersionedTable.commit(orders.filter(p), root, "append",
          statsCols = Seq("o_orderkey")))
      VersionedTable.delete(s, root,
        col("o_orderkey") > lo && col("o_orderkey") <= hi &&
          col("o_orderstatus") === "F")
      VersionedTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(Quantize.i(col("o_totalprice"), 2)) / lit(100.0)).as("sum_price"))
    }),

    // Copy-on-write UPDATE: same three-dir stats corpus as
    // q_versioned_delete, then UPDATE SET price += 10% WHERE <middle range
    // ∧ status='O'> — side dirs proven unmatched by the stats tier are
    // carried by name; only the middle dir is rewritten, with assignments
    // applied to matched rows and unmatched rows passing through
    // untouched. Oracle = the CASE expression over the raw table.
    "q_versioned_update" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtupd_").toString
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val (lo, hi) = (mk / 3, 2 * (mk / 3))
      Seq(col("o_orderkey") <= lo,
        col("o_orderkey") > lo && col("o_orderkey") <= hi,
        col("o_orderkey") > hi).foreach(p =>
        VersionedTable.commit(orders.filter(p), root, "append",
          statsCols = Seq("o_orderkey")))
      VersionedTable.update(s, root,
        col("o_orderkey") > lo && col("o_orderkey") <= hi &&
          col("o_orderstatus") === "O",
        Map("o_totalprice" -> (col("o_totalprice") * lit(1.1))))
      VersionedTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(Quantize.i(col("o_totalprice"), 2)) / lit(100.0)).as("sum_price"))
    }),

    // Library RENAME COLUMN twin of q_versioned_sql_rename: the mapping
    // commit re-binds o_totalprice to `amount` (metadata-only — the
    // manifest's schema_json carries the logical→physical map; data files
    // stay byte-identical), then the SAME update as q_versioned_update is
    // issued UNDER THE NEW NAME — predicate, assignment, and rollup all
    // speak `amount`, and the values must equal the old-name relational
    // definition exactly (rename is value-transparent, read-write).
    "q_versioned_rename" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtren_").toString
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val (lo, hi) = (mk / 3, 2 * (mk / 3))
      Seq(col("o_orderkey") <= lo,
        col("o_orderkey") > lo && col("o_orderkey") <= hi,
        col("o_orderkey") > hi).foreach(p =>
        VersionedTable.commit(orders.filter(p), root, "append",
          statsCols = Seq("o_orderkey")))
      VersionedTable.renameColumn(s, root, "o_totalprice", "amount")
      VersionedTable.update(s, root,
        col("o_orderkey") > lo && col("o_orderkey") <= hi &&
          col("o_orderstatus") === "O",
        Map("amount" -> (col("amount") * lit(1.1))))
      VersionedTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(Quantize.i(col("amount"), 2)) / lit(100.0)).as("sum_amount"))
    }),

    // Copy-on-write MERGE upsert: updates (price bump for keys ≡ 0 mod 7)
    // + inserts (fresh keys above the max) land through ONE merge commit —
    // the key hull bounds the touched dirs, matched rows are replaced
    // wholesale, unmatched rows in rewritten dirs survive. Oracle = the
    // anti-join ∪ source over the raw table: upsert-by-key must equal the
    // relational definition exactly.
    "q_versioned_merge" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtmrg_").toString
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val (lo, hi) = (mk / 3, 2 * (mk / 3))
      Seq(col("o_orderkey") <= lo,
        col("o_orderkey") > lo && col("o_orderkey") <= hi,
        col("o_orderkey") > hi).foreach(p =>
        VersionedTable.commit(orders.filter(p), root, "append",
          statsCols = Seq("o_orderkey")))
      val src = orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        .union(orders.filter(col("o_orderkey") % 97 === 0)
          .select((col("o_orderkey") + mk).as("o_orderkey"),
            lit("N").as("o_orderstatus"), col("o_totalprice")))
      VersionedTable.merge(s, root, src, "o_orderkey")
      VersionedTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(Quantize.i(col("o_totalprice"), 2)) / lit(100.0)).as("sum_price"))
    }),

    // Row-level CDF across DML commits: same three-dir corpus, then an
    // UPDATE (middle range ∧ 'O', price bump) and a DELETE (middle range ∧
    // 'F') — the change feed serves each commit's persisted row images
    // (update_preimage/update_postimage from the UPDATE kernel, delete
    // from the DELETE kernel) instead of forcing a resync. The rollup BY
    // CHANGE TYPE is value-checked against the relational definition of
    // the images over the raw table: pre-images are the matched originals,
    // post-images the assigned rows, deletes the predicate's matches.
    "q_cdf_dml" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_cdfdml_").toString
      // CDF is opt-in per table (default OFF — write amplification only a
      // table with subscribers should pay); this one is subscribed to.
      VersionedTable.setTableProperties(root,
        Map(VersionedTable.CdfEnabledProp -> "true"))
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val (lo, hi) = (mk / 3, 2 * (mk / 3))
      Seq(col("o_orderkey") <= lo,
        col("o_orderkey") > lo && col("o_orderkey") <= hi,
        col("o_orderkey") > hi).foreach(p =>
        VersionedTable.commit(orders.filter(p), root, "append",
          statsCols = Seq("o_orderkey")))
      val mid = col("o_orderkey") > lo && col("o_orderkey") <= hi
      VersionedTable.update(s, root, mid && col("o_orderstatus") === "O",
        Map("o_totalprice" -> (col("o_totalprice") * lit(1.1))))
      VersionedTable.delete(s, root, mid && col("o_orderstatus") === "F")
      VersionedTable.changeFeed(s, root, 3, 5)
        .groupBy("_change_type")
        .agg(count(lit(1)).as("n"),
          (sum(Quantize.i(col("o_totalprice"), 2)) / lit(100.0)).as("sum_price"))
    }),

    // Merge-on-read DELETE (deletion vectors): the same corpus and
    // predicate as q_versioned_delete, but the commit persists matched
    // POSITIONS (`dv=` manifest line) and carries every data dir by name
    // — zero rewrites, O(deleted rows). The planning-time scan folds the
    // dv set in as one broadcast anti-join; the rollup must be
    // value-identical to the copy-on-write twin (same oracle).
    "q_versioned_dv_delete" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtdvd_").toString
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val (lo, hi) = (mk / 3, 2 * (mk / 3))
      Seq(col("o_orderkey") <= lo,
        col("o_orderkey") > lo && col("o_orderkey") <= hi,
        col("o_orderkey") > hi).foreach(p =>
        VersionedTable.commit(orders.filter(p), root, "append",
          statsCols = Seq("o_orderkey")))
      VersionedTable.deleteMor(s, root,
        col("o_orderkey") > lo && col("o_orderkey") <= hi &&
          col("o_orderstatus") === "F")
      VersionedTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(Quantize.i(col("o_totalprice"), 2)) / lit(100.0)).as("sum_price"))
    }),

    // Merge-on-read UPDATE: matched positions land in a deletion vector,
    // post-images as ONE appended dir — no dir rewritten. Same predicate,
    // assignments, and oracle as the copy-on-write q_versioned_update.
    "q_versioned_dv_update" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtdvu_").toString
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val (lo, hi) = (mk / 3, 2 * (mk / 3))
      Seq(col("o_orderkey") <= lo,
        col("o_orderkey") > lo && col("o_orderkey") <= hi,
        col("o_orderkey") > hi).foreach(p =>
        VersionedTable.commit(orders.filter(p), root, "append",
          statsCols = Seq("o_orderkey")))
      VersionedTable.updateMor(s, root,
        col("o_orderkey") > lo && col("o_orderkey") <= hi &&
          col("o_orderstatus") === "O",
        Map("o_totalprice" -> (col("o_totalprice") * lit(1.1))))
      VersionedTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(Quantize.i(col("o_totalprice"), 2)) / lit(100.0)).as("sum_price"))
    }),

    // Merge-on-read MERGE upsert: matched table rows are dv'd, the source
    // lands as ONE fresh dir — O(source + matched) regardless of how many
    // dirs the keys touch (the continuous-upsert shape). Same source and
    // oracle as the copy-on-write q_versioned_merge.
    "q_versioned_dv_merge" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtdvm_").toString
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val (lo, hi) = (mk / 3, 2 * (mk / 3))
      Seq(col("o_orderkey") <= lo,
        col("o_orderkey") > lo && col("o_orderkey") <= hi,
        col("o_orderkey") > hi).foreach(p =>
        VersionedTable.commit(orders.filter(p), root, "append",
          statsCols = Seq("o_orderkey")))
      val src = orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        .union(orders.filter(col("o_orderkey") % 97 === 0)
          .select((col("o_orderkey") + mk).as("o_orderkey"),
            lit("N").as("o_orderstatus"), col("o_totalprice")))
      VersionedTable.mergeMor(s, root, src, "o_orderkey")
      VersionedTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(Quantize.i(col("o_totalprice"), 2)) / lit(100.0)).as("sum_price"))
    }),

    // PURGE: fold the deletion vectors back into the data — rewrite ONLY
    // the dv'd dirs' live rows, drop fully-dead dirs, publish an empty dv
    // list as a content-preserving optimize (subscriptions cross it as an
    // empty delta). The post-purge rollup must still equal the DELETE's
    // oracle: purge changes layout, never content.
    "q_versioned_dv_purge" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtdvp_").toString
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val (lo, hi) = (mk / 3, 2 * (mk / 3))
      Seq(col("o_orderkey") <= lo,
        col("o_orderkey") > lo && col("o_orderkey") <= hi,
        col("o_orderkey") > hi).foreach(p =>
        VersionedTable.commit(orders.filter(p), root, "append",
          statsCols = Seq("o_orderkey")))
      VersionedTable.deleteMor(s, root,
        col("o_orderkey") > lo && col("o_orderkey") <= hi &&
          col("o_orderstatus") === "F")
      VersionedTable.purgeDeletes(s, root)
      VersionedTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(Quantize.i(col("o_totalprice"), 2)) / lit(100.0)).as("sum_price"))
    }),

    // RESTORE: the DML-era recovery verb — same corpus as
    // q_versioned_delete, the bad deploy (the DELETE) rolled back by ONE
    // metadata-only commit pinning the pre-DML snapshot's dirs/stats/
    // blooms/schema (operation=restore, zero data moved; history stays
    // auditable). Oracle = the PRE-DML rollup over the raw table: restore
    // must reproduce the target snapshot value-exactly.
    "q_versioned_restore" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtres_").toString
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val (lo, hi) = (mk / 3, 2 * (mk / 3))
      Seq(col("o_orderkey") <= lo,
        col("o_orderkey") > lo && col("o_orderkey") <= hi,
        col("o_orderkey") > hi).foreach(p =>
        VersionedTable.commit(orders.filter(p), root, "append",
          statsCols = Seq("o_orderkey")))
      VersionedTable.delete(s, root,
        col("o_orderkey") > lo && col("o_orderkey") <= hi &&
          col("o_orderstatus") === "F")
      VersionedTable.restore(s, root, 3)
      VersionedTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(Quantize.i(col("o_totalprice"), 2)) / lit(100.0)).as("sum_price"))
    }),

    // SCOPED compaction (`OPTIMIZE t WHERE p` library form): the low key
    // range lands FRAGMENTED (two small appends) plus two more dirs for
    // the mid/high ranges; compactWhere collapses ONLY the dirs the
    // predicate admits into one fresh dir and carries the rest by name —
    // O(admitted dirs), never O(table), the engine's answer to routine
    // small-file maintenance at 100 TB (MaintenanceSpec asserts the
    // survivor bytes, dir count, and the no-op guarantee). Oracle = the
    // plain whole-table rollup: compaction is content-preserving.
    "q_compact_where" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtcw_").toString
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val (lo, hi) = (mk / 3, 2 * (mk / 3))
      Seq(col("o_orderkey") <= lo && col("o_orderkey") % 2 === 0,
        col("o_orderkey") <= lo && col("o_orderkey") % 2 === 1,
        col("o_orderkey") > lo && col("o_orderkey") <= hi,
        col("o_orderkey") > hi).foreach(p =>
        VersionedTable.commit(orders.filter(p), root, "append",
          statsCols = Seq("o_orderkey")))
      VersionedTable.compactWhere(s, root, col("o_orderkey") <= lo,
        statsCols = Seq("o_orderkey"))
      VersionedTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(Quantize.i(col("o_totalprice"), 2)) / lit(100.0)).as("sum_price"))
    }),

    // FILE-GRAIN skipping on a FAT dir (per-file fstats hulls, Delta's
    // per-file stats shape): ONE commit lands the whole trades corpus as
    // a single dir of time-range-split files, so dir-grain stats alone
    // cannot prune at all — the time-third probe must skip at the FILE
    // tier (ManifestIndexSpec asserts numFiles; the gate asserts values).
    // At 100 TB this is what keeps a large append commit's pruning tight
    // without forcing a dir-sizing discipline on writers.
    "q_versioned_filegrain" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtfg_").toString
      val t = Tables.trades(s, d)
        .select(col("time"), col("symbol"), col("price"), col("volume"))
      val b = t.agg(min(unix_micros(col("time"))).as("mn"),
        max(unix_micros(col("time"))).as("mx")).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val t1 = mn + (mx - mn) / 3
      val t2 = mn + 2 * ((mx - mn) / 3)
      VersionedTable.commit(t.repartitionByRange(8, col("time")), root,
        "append", statsCols = Seq("time"))
      VersionedTable.read(s, root)
        .filter(col("time") >= timestamp_micros(lit(t1)) &&
          col("time") < timestamp_micros(lit(t2)))
        .groupBy("symbol")
        .agg(count(lit(1)).as("n"), sum(col("volume")).as("sum_volume"),
          Quantize.r(sum(col("price")), 4).as("sum_price"))
    }),

    // DECLARED MAINTENANCE POLICY (the reference's refresh/compression
    // schedule analogue, sql/timescaledb_schema.sql:60-65): a MOR DELETE
    // leaves deletion vectors and a fragmented layout; Maintenance.plan
    // reads ONE manifest + O(#dirs) fs stats and decides — purge the dvs,
    // then fold the small dirs — and execute() maps the decisions onto
    // the existing verbs. Oracle = the delete's complement: policy-driven
    // maintenance must be content-preserving end to end.
    "q_maintenance_policy" -> ((s, d) => {
      import graft.sources.{Maintenance, VersionedTable}
      val root = java.nio.file.Files.createTempDirectory("graft_vtpol_").toString
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val (lo, hi) = (mk / 3, 2 * (mk / 3))
      Seq(col("o_orderkey") <= lo,
        col("o_orderkey") > lo && col("o_orderkey") <= hi,
        col("o_orderkey") > hi).foreach(p =>
        VersionedTable.commit(orders.filter(p), root, "append",
          statsCols = Seq("o_orderkey")))
      VersionedTable.deleteMor(s, root,
        col("o_orderkey") > lo && col("o_orderkey") <= hi &&
          col("o_orderstatus") === "F")
      val policy = Maintenance.Policy(maxDeletionVectors = 1,
        smallDirMaxBytes = Long.MaxValue / 2, maxSmallDirs = 3)
      val actions = Maintenance.plan(root, policy)
      require(actions.exists(_.isInstanceOf[Maintenance.PurgeDeletes]) &&
        actions.exists(_.isInstanceOf[Maintenance.CompactSmallDirs]),
        s"policy must trigger purge + compact, got $actions")
      Maintenance.execute(s, root, actions, statsCols = Seq("o_orderkey"))
      VersionedTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(Quantize.i(col("o_totalprice"), 2)) / lit(100.0)).as("sum_price"))
    }),

    // POLICY-DRIVEN RE-CLUSTER (clustering-drift trigger): a table
    // z-ordered once then appended through keeps its stale layout until
    // an operator remembers — so the policy measures drift from manifest
    // metadata alone (live dirs postdating the last `optimize` op +
    // their byte fraction) and maps the decision onto the SCOPED zorder
    // rewrite: O(drifted dirs), the clustered bulk carried by name.
    // Oracle = the plain rollup: re-clustering must be content-
    // preserving end to end. MaintenanceSpec asserts the numFiles half
    // (pruning on the appended range restored by the policy tick).
    "q_recluster_policy" -> ((s, d) => {
      import graft.sources.{Maintenance, VersionedTable}
      val root = java.nio.file.Files.createTempDirectory("graft_vtrcl_").toString
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val half = mk / 2
      // clustered era: the low half, z-ordered at v2
      VersionedTable.commit(orders.filter(col("o_orderkey") <= half), root,
        "append", statsCols = Seq("o_orderkey"))
      VersionedTable.optimizeZorder(s, root, Seq(col("o_orderkey") -> mk),
        nDirs = 4, statsCols = Seq("o_orderkey"))
      // drift era: the high half lands in two unclustered appends
      val mid = half + (mk - half) / 2
      Seq(col("o_orderkey") > half && col("o_orderkey") <= mid,
        col("o_orderkey") > mid).foreach(p =>
        VersionedTable.commit(orders.filter(p), root, "append",
          statsCols = Seq("o_orderkey")))
      val policy = Maintenance.Policy(
        zorderBy = Seq("o_orderkey" -> mk), zorderDirs = 4,
        maxDriftFraction = 0.2, minDriftDirs = 2,
        maxSmallDirs = Int.MaxValue)
      val actions = Maintenance.plan(root, policy)
      require(actions.exists(_.isInstanceOf[Maintenance.Recluster]),
        s"drift must trigger a Recluster, got $actions")
      Maintenance.execute(s, root, actions, statsCols = Seq("o_orderkey"))
      VersionedTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(Quantize.i(col("o_totalprice"), 2)) / lit(100.0)).as("sum_price"))
    }),

    // PLANNING-TIME skipping — the same six-dir corpus and probe as
    // q_versioned_combo, but nobody names a DirFilter: the probe is an
    // ordinary `.filter` over VersionedTable.read's manifest FileIndex,
    // and the dir dismissal happens inside Catalyst when the pushed data
    // filters reach ManifestFileIndex.listFiles (min/max for the time
    // range, bloom for the symbol equality). ManifestIndexSpec asserts
    // the scan's numFiles metric; here the oracle asserts the other half
    // of the contract — planning-time pruning is value-transparent, the
    // result IS the plain two-predicate filter.
    "q_versioned_indexed" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtidx_").toString
      val t = Tables.trades(s, d)
        .select(col("time"), col("symbol"), col("price"), col("volume"))
      val b = t.agg(min(unix_micros(col("time"))).as("mn"),
        max(unix_micros(col("time"))).as("mx"),
        min(col("symbol")).as("sym")).head()
      val (mn, mx, sym) = (b.getLong(0), b.getLong(1), b.getString(2))
      val t1 = mn + (mx - mn) / 3
      val t2 = mn + 2 * ((mx - mn) / 3)
      def um = unix_micros(col("time"))
      val third = Seq(um < t1, um >= t1 && um < t2, um >= t2)
      for (tf <- third; h <- 0 to 1)
        VersionedTable.commit(t.filter(tf && crc32(col("symbol")) % 2 === h),
          root, "append", statsCols = Seq("time"), bloomCols = Seq("symbol"))
      VersionedTable.read(s, root)
        .filter(col("time") >= timestamp_micros(lit(t1)) &&
          col("time") < timestamp_micros(lit(t2)) && col("symbol") === sym)
        .groupBy("symbol")
        .agg(count(lit(1)).as("n"), sum(col("volume")).as("sum_volume"),
          Quantize.r(sum(col("price")), 4).as("sum_price"))
    }),

    // DISJUNCTIVE planning-time skipping — the multi-key probe shape
    // (`symbol IN (a, b)`): three symbol-hash-bucket commits each carrying
    // a symbol bloom sidecar, then an ordinary `.isin` filter over the
    // manifest FileIndex. Catalyst pushes the IN, ManifestScan translates
    // it to an AnyOf of point probes, and each branch rides the bloom
    // tier — a bucket dir holding NEITHER key is dismissed without being
    // listed. Oracle = the plain IN filter: the disjunction tier must be
    // value-transparent.
    "q_versioned_multikey" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtmk_").toString
      val t = Tables.trades(s, d)
        .select(col("symbol"), col("price"), col("volume"))
      val b = t.agg(min(col("symbol")).as("s1"), max(col("symbol")).as("s2")).head()
      val (s1, s2) = (b.getString(0), b.getString(1))
      (0 to 2).foreach(h => VersionedTable.commit(
        t.filter(crc32(col("symbol")) % 3 === h), root, "append",
        bloomCols = Seq("symbol")))
      VersionedTable.read(s, root)
        .filter(col("symbol").isin(s1, s2))
        .groupBy("symbol")
        .agg(count(lit(1)).as("n"), sum(col("volume")).as("sum_volume"),
          Quantize.r(sum(col("price")), 4).as("sum_price"))
    }),

    // ANALYZE retrofit: the SAME point-probe shape as q_versioned_point,
    // but the table is committed with NO skipping metadata at all — then
    // one `analyze` backfills per-dir key min/max + blooms onto the
    // existing dirs (zero data movement, a new manifest referencing the
    // same files), and a filtered read prunes exactly as if the table had been
    // born indexed. Oracle = the plain point filter: a metadata backfill
    // must be value-transparent.
    // STRING-range skipping — the prefix-image stats tier: three commits
    // of symbol-ORDERED tertiles, each carrying string min/max stats (the
    // order-preserving 6-byte UTF-8 image, VersionedTable.strImage), then
    // an ordinary string BETWEEN over the planning-time scan. The pushed
    // comparisons translate to image RangeFilters and dismiss the off-
    // tertile dirs from the manifest alone — no blooms anywhere. Oracle =
    // the plain two-comparison filter: image skipping must be
    // value-transparent (prefix ties only ever ADMIT extra dirs).
    "q_versioned_strrange" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtsr_").toString
      val t = Tables.trades(s, d)
        .select(col("symbol"), col("price"), col("volume"))
      // symbol domain is small and bounded (exchange tickers): driver-side
      // tertile split of the ordered distinct symbols
      val syms = t.select("symbol").distinct().orderBy("symbol")
        .collect().map(_.getString(0)).toSeq
      val k = math.max(1, math.ceil(syms.length / 3.0).toInt)
      syms.grouped(k).foreach(g =>
        VersionedTable.commit(t.filter(col("symbol").isin(g: _*)), root,
          "append", statsCols = Seq("symbol")))
      val (lo, hi) = (syms(k), syms(math.min(2 * k, syms.length) - 1))
      VersionedTable.read(s, root)
        .filter(col("symbol") >= lo && col("symbol") <= hi)
        .groupBy("symbol")
        .agg(count(lit(1)).as("n"), sum(col("volume")).as("sum_volume"),
          Quantize.r(sum(col("price")), 4).as("sum_price"))
    }),

    // The generic DataSource surface: the SAME table built and probed
    // exclusively through Spark's standard reader/writer —
    // `df.write.format("graft")` commits (statsCols option threads the
    // skipping metadata), `spark.read.format("graft").load(root)` plans
    // through the manifest FileIndex, and the pushed point predicate
    // prunes to the one dir whose range admits the key. Oracle = the
    // plain point filter: the format roundtrip must be value-transparent.
    "q_versioned_format" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_vtfmt_").toString
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      (0 to 2).foreach(r => orders.filter(col("o_orderkey") % 3 === r)
        .write.format("graft").mode("append")
        .option("statsCols", "o_orderkey").save(root))
      val k = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      s.read.format("graft").load(root)
        .filter(col("o_orderkey") === k)
        .select(col("o_orderkey"), col("o_orderstatus"),
          Quantize.r(col("o_totalprice"), 2).as("total_price"))
    }),

    "q_versioned_analyze" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtan_").toString
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      (0 to 2).foreach(r => VersionedTable.commit(
        orders.filter(col("o_orderkey") % 3 === r), root)) // no stats, no blooms
      VersionedTable.analyze(s, root, Seq("o_orderkey"), Seq("o_orderkey"))
      val k = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      VersionedTable.read(s, root)
        .filter(col("o_orderkey") === k)
        .select(col("o_orderkey"), col("o_orderstatus"),
          Quantize.r(col("o_totalprice"), 2).as("total_price"))
    }),

    // OPTIMIZE ZORDER over the versioned table: land trades as ONE dir
    // (nothing skippable), then `optimizeZorder` rewrites the snapshot as 8 dirs
    // clustered on the (symbol, time) Morton interleave — per-dir time
    // min/max + symbol blooms now BOTH bite on the same PIT-shaped probe
    // (middle third ∧ one symbol, via a filtered read). Oracle = the plain
    // two-predicate filter: the layout op must be value-transparent, like
    // every other skipping tier. (VersionedTableSpec asserts the actual
    // dir-skipping on a synthetic grid.)
    "q_zorder_optimize" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtzo_").toString
      val t = Tables.trades(s, d)
        .select(col("time"), col("symbol"), col("price"), col("volume"))
      VersionedTable.commit(t, root)
      val b = t.agg(min(unix_micros(col("time"))).as("mn"),
        max(unix_micros(col("time"))).as("mx"),
        max(col("symbol").cast("long")).as("ms"),
        min(col("symbol")).as("sym")).head()
      val (mn, mx, maxSym, sym) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getString(3))
      VersionedTable.optimizeZorder(s, root,
        Seq(col("symbol").cast("long") -> maxSym,
          (unix_micros(col("time")) - lit(mn)) -> (mx - mn)),
        nDirs = 8, statsCols = Seq("time"), bloomCols = Seq("symbol"))
      val t1 = mn + (mx - mn) / 3
      val t2 = mn + 2 * ((mx - mn) / 3)
      VersionedTable.read(s, root)
        .filter(col("time") >= timestamp_micros(lit(t1)) &&
          col("time") < timestamp_micros(lit(t2)) && col("symbol") === sym)
        .groupBy("symbol")
        .agg(count(lit(1)).as("n"), sum(col("volume")).as("sum_volume"),
          Quantize.r(sum(col("price")), 4).as("sum_price"))
    }),

    // N-dim OPTIMIZE ZORDER — the composite-index shape beyond two columns
    // (the reference's (symbol, time) index PLUS the price dimension its
    // dedup/latest probes filter on): one dir, then optimizeZorder
    // clusters on the THREE-way interleave, and a probe constraining all
    // three (time third ∧ symbol point ∧ price half-range) prunes via
    // stats + bloom tiers at once. Oracle = the plain three-predicate
    // filter: the 3-dim layout must be value-transparent like every other
    // physical rewrite. (VersionedTableSpec asserts the actual per-dim
    // dir-skipping on a synthetic 16^3 grid.)
    "q_zorder_multi" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vtzm_").toString
      val t = Tables.trades(s, d)
        .select(col("time"), col("symbol"), col("price"), col("volume"))
      VersionedTable.commit(t, root)
      val b = t.agg(min(unix_micros(col("time"))).as("mn"),
        max(unix_micros(col("time"))).as("mx"),
        max(col("symbol").cast("long")).as("ms"),
        min(col("symbol")).as("sym"),
        min(floor(col("price")).cast("long")).as("pmn"),
        max(floor(col("price")).cast("long")).as("pmx"),
        min(col("price")).as("pmind"),
        max(col("price")).as("pmaxd")).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val (maxSym, sym) = (b.getLong(2), b.getString(3))
      val (pmn, pmx) = (b.getLong(4), b.getLong(5))
      val pMid = (b.getDouble(6) + b.getDouble(7)) / 2.0
      VersionedTable.optimizeZorder(s, root,
        Seq(col("symbol").cast("long") -> maxSym,
          (unix_micros(col("time")) - lit(mn)) -> (mx - mn),
          (floor(col("price")).cast("long") - lit(pmn)) -> (pmx - pmn)),
        nDirs = 8, statsCols = Seq("time", "price"), bloomCols = Seq("symbol"))
      val t1 = mn + (mx - mn) / 3
      val t2 = mn + 2 * ((mx - mn) / 3)
      VersionedTable.read(s, root)
        .filter(col("time") >= timestamp_micros(lit(t1)) &&
          col("time") < timestamp_micros(lit(t2)) && col("symbol") === sym &&
          col("price") <= pMid)
        .groupBy("symbol")
        .agg(count(lit(1)).as("n"), sum(col("volume")).as("sum_volume"),
          Quantize.r(sum(col("price")), 4).as("sum_price"))
    }),

    // Versioned-table time travel: three commits (append even keys, append
    // odd keys, overwrite with status-F), then read EVERY version back via
    // its pinned manifest and aggregate. The oracle recomputes each
    // snapshot's contents from the raw table — value-exact round-trip
    // through the commit log, data files, and snapshot resolution.
    "q_time_travel" -> ((s, d) => {
      import graft.sources.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("graft_vt_").toString
      val orders = Tables.orders(s, d)
      VersionedTable.commit(orders.filter(col("o_orderkey") % 2 === 0), root, "append")
      VersionedTable.commit(orders.filter(col("o_orderkey") % 2 === 1), root, "append")
      VersionedTable.commit(orders.filter(col("o_orderstatus") === "F"), root, "overwrite")
      (1 to 3).map { v =>
        // Scaled-integer discipline: sum exact cent images (BIGINT, order-
        // independent), divide once — a raw double sum over 1.5M prices
        // flipped the last quantized digit at the 10x corpus.
        VersionedTable.read(s, root, Some(v))
          .agg(
            count(lit(1)).as("n_rows"),
            (sum(Quantize.i(col("o_totalprice"), 2)) / lit(100.0)).as("sum_price"))
          .select(lit(v).cast("int").as("version"), col("n_rows"), col("sum_price"))
      }.reduce(_ unionByName _)
    }),

    // Incremental view maintenance: three append commits, each refresh
    // reading ONLY that commit's change feed (VersionedTableSpec asserts
    // the delta-only file scan), monoid-merged into per-status state. The
    // oracle is the full recompute — incremental must equal batch exactly.
    "q_incremental_agg" -> ((s, d) => {
      import graft.sources.VersionedTable
      import graft.operators.IncrementalAgg
      val root = java.nio.file.Files.createTempDirectory("graft_iva_").toString
      val orders = Tables.orders(s, d)
        .select(col("o_orderstatus"), col("o_orderkey"),
          Quantize.i(col("o_totalprice"), 2).as("cents"))
      (0 to 2).foreach(r =>
        VersionedTable.commit(orders.filter(col("o_orderkey") % 3 === r), root))
      val deltas = (0 to 2).map(v => VersionedTable.changes(s, root, v, v + 1))
      IncrementalAgg.refreshAll(deltas, Seq("o_orderstatus"), Seq("cents"))
        .select(col("o_orderstatus"), col("n_rows"),
          (col("sum_cents") / lit(100.0)).as("sum_price"))
    }),

    // Cursor-driven change-feed consumption (the downstream half of the
    // lakehouse loop — TimescaleDB's refresh-policy worker walking the
    // invalidation log, Delta's startingVersion): a consumer that fell two
    // versions behind catches up in ONE O(delta) read, a later commit is
    // consumed incrementally, and a third call is a no-op (cursor current).
    // Oracle = the full-table aggregate: cursor consumption must converge
    // to the batch answer exactly.
    "q_changefeed_cursor" -> ((s, d) => {
      import graft.sources.{ChangeFeedCursor, VersionedTable}
      import graft.operators.IncrementalAgg
      val root = java.nio.file.Files.createTempDirectory("graft_cfc_").toString
      val cursor = s"$root/_consumers/agg.v"
      val orders = Tables.orders(s, d)
        .select(col("o_orderstatus"), col("o_orderkey"),
          Quantize.i(col("o_totalprice"), 2).as("cents"))
      var state: Option[org.apache.spark.sql.DataFrame] = None
      def applyDelta(delta: org.apache.spark.sql.DataFrame, f: Int, t: Int): Unit = {
        val agg = IncrementalAgg.aggregate(delta, Seq("o_orderstatus"), Seq("cents"))
        state = Some(state.map(IncrementalAgg.merge(_, agg, Seq("o_orderstatus")))
          .getOrElse(agg))
      }
      VersionedTable.commit(orders.filter(col("o_orderkey") % 3 === 0), root)
      VersionedTable.commit(orders.filter(col("o_orderkey") % 3 === 1), root)
      val first = ChangeFeedCursor.processNew(s, root, cursor)(applyDelta)
      require(first.contains((0, 2)), s"expected one catch-up read of (0,2], got $first")
      VersionedTable.commit(orders.filter(col("o_orderkey") % 3 === 2), root)
      ChangeFeedCursor.processNew(s, root, cursor)(applyDelta)
      require(ChangeFeedCursor.processNew(s, root, cursor)(applyDelta).isEmpty,
        "a current consumer must be a no-op")
      state.get.select(col("o_orderstatus"), col("n_rows"),
        (col("sum_cents") / lit(100.0)).as("sum_price"))
    }),

    // TPC-H Q1-shaped pricing summary: single hash-agg shuffle; the shipdate
    // filter pushes into the parquet scan (PushedFilters).
    "q_pricing_summary" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Quantize.r(sum(col("l_quantity")), 2).as("sum_qty"),
          Quantize.r(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          Quantize.r(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          Quantize.r(avg(col("l_quantity")), 6).as("avg_qty"),
          Quantize.r(avg(col("l_extendedprice")), 6).as("avg_price"),
          Quantize.r(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // TPC-H Q3-shaped: two shuffle joins on keys + top-k by revenue. The
    // customer filter reduces the build side before the join.
    "q_top_revenue_orders" -> ((s, d) => {
      val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val ord  = Tables.orders(s, d)
      val li   = Tables.lineitem(s, d)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(Quantize.r(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Star join: fact × 4 dims. Broadcast hints ONLY on the genuinely bounded
    // dimensions (nation=25, region=5 rows at every SF); customer grows with
    // SF, so AQE decides that join from runtime stats — a hint there would
    // force an executor-OOM-sized broadcast at 100×.
    "q_region_revenue" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      val nat = Tables.nation(s, d)
      val reg = Tables.region(s, d)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(Quantize.r(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("line_count"))
    }),

    // Scan + pushed predicate + column pruning: only 4 of 11 columns read.
    "q_scan_filter_project" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-02-01").cast("timestamp") &&
          col("l_quantity") > 25)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")),

    // Global order + limit (TakeOrderedAndProject — no full sort materialized).
    "q_topk_orders" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")),

    // Per-group top-k via row_number window.
    "q_topk_per_priority" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
    }),

    // Left-semi join: customers having at least one order.
    "q_customers_with_orders" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")),

    // Left-anti join: customers having no orders.
    "q_customers_without_orders" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),

    // DISTINCT + countDistinct.
    "q_distinct_status" -> ((s, d) =>
      Tables.orders(s, d).select("o_orderstatus", "o_orderpriority").distinct()),

    "q_count_distinct" -> ((s, d) =>
      Tables.orders(s, d).agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(col("o_orderpriority")).as("n_priorities"),
        count(lit(1)).as("n_orders"))),

    // GROUP BY ... HAVING (multi-line orders).
    "q_multiline_orders" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_lines"))
        .filter(col("n_lines") >= 5)),

    // UNION ALL of disjoint projections.
    "q_union_order_classes" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"), lit("high").as("class"))
        .unionAll(
          o.filter(col("o_totalprice") < 10000)
            .select(col("o_orderkey"), lit("low").as("class")))
    }),

    // JSON parse (get_json_object) + filtered aggregate per event_type.
    "q_json_props" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(
          sum(col("k")).as("sum_k"),
          Quantize.r(avg(col("k")), 6).as("avg_k"),
          count(when(col("k") > 50, 1)).as("n_high"),
          count(lit(1)).as("n"))),

    // Agg-vs-raw verification join (the reference's own oracle pattern,
    // tests/test_pit_correctness.py:118-166): per-order totals recomputed two
    // ways and equi-joined; emits rows where they disagree (expected: none,
    // so the check is the row count itself).
    "q_agg_verify" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val a = li.groupBy("l_orderkey").agg(Quantize.r(sum(col("l_quantity")), 6).as("qty_a"))
      val b = li.select(col("l_orderkey"), col("l_quantity"))
        .groupBy("l_orderkey").agg(Quantize.r(sum(col("l_quantity")), 6).as("qty_b"))
      a.join(b, "l_orderkey")
        .filter(col("qty_a") =!= col("qty_b"))
    }),

    // lead window fn: next-day forward return per customer's order sequence.
    "q_lead_returns" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        graft.functions.Quantize.r(
          lead(col("o_totalprice"), 1).over(w) / nullif(col("o_totalprice"), lit(0.0)) - 1.0,
          6).as("next_order_ratio"))
    }),

    // INTERSECT / EXCEPT (set semantics — beyond the reference surface).
    "q_set_ops" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def buyers(y: Int) = o
        .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select("o_custkey")
      buyers(1995).intersect(buyers(1996))
        .select(lit("both_years").as("cohort"), col("o_custkey"))
        .unionAll(buyers(1995).except(buyers(1996))
          .select(lit("only_1995").as("cohort"), col("o_custkey")))
    }),

    // Exact multi-quantile latency stats (p50/p95/p99) — the benchmark
    // percentile reporting shape (scripts/benchmark_performance.py:38-47).
    "q_latency_percentiles" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          graft.functions.Quantize.r(percentile(col("value"), lit(0.5)), 6).as("p50"),
          graft.functions.Quantize.r(percentile(col("value"), lit(0.95)), 6).as("p95"),
          graft.functions.Quantize.r(percentile(col("value"), lit(0.99)), 6).as("p99"),
          count(lit(1)).as("n"))),

    // Sketch-based approximations (the 100-TB default for distinct/quantile).
    // Raw sketch values are engine-specific, so the GATED output is the
    // engine-invariant derivation: exact n / exact distinct plus accuracy
    // booleans (HLL within 5% of exact; approx-p95 inside the exact
    // p94..p96 band). The oracle expects true/true — a sketch regression
    // flips a boolean and fails the hash, so the gate is real, while every
    // emitted value is cross-engine reproducible.
    "q_approx_stats" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // Sketches in one codegen'd pass. The exact gates run as separate
      // tiny frames cross-joined in (1-row cartesians, free): folding
      // countDistinct into the same agg would Expand every input row, and
      // the exact-percentile band is an interpreted ImperativeAggregate —
      // keeping both out of the sketch pass keeps it whole-stage-codegen.
      val sketches = ev.agg(
        // rsd=0.01: the 5% gate below is then a ~5-sigma bound, not a
        // coin-flip (the default rsd=0.05 fails a 5% bound ~1/3 of the time)
        approx_count_distinct(col("user_id"), 0.01).as("au"),
        percentile_approx(col("value"), lit(0.95), lit(10000)).as("ap"),
        count(lit(1)).as("n"))
      val exact = ev.select("user_id").distinct()
        .agg(count(lit(1)).as("exact_users"))
      val band = ev.agg(
        expr("percentile(value, array(0.94, 0.96))").as("band"))
      sketches.crossJoin(exact).crossJoin(band)
        .select(col("n"), col("exact_users"),
          (abs(col("au") - col("exact_users")) <=
            col("exact_users") * lit(0.05)).as("hll_ok"),
          (col("ap") >= element_at(col("band"), 1) &&
            col("ap") <= element_at(col("band"), 2)).as("p95_ok"))
    }),

    // Ordered conversion funnel view -> click -> purchase within a user
    // session (30-min inactivity gap): the product-analytics query the
    // events table is shaped for. Strict ordering via chained running-max
    // flags — a click only counts after a view in the SAME session, a
    // purchase only after such a click — all inside one user-partitioned
    // sort (the lag-gap sessionization and the three flags share a single
    // window shuffle; sessions per user are bounded, so no skew).
    "q_funnel" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev0 = Tables.events(s, d)
      val ev = ev0.select(
        Tables.eventTime(ev0).as("t"),
        col("user_id"), col("event_type"))
      val byUser = Window.partitionBy("user_id").orderBy("t")
      val run = Window.partitionBy("user_id").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = ev
        .withColumn("gap",
          unix_micros(col("t")) - unix_micros(lag(col("t"), 1).over(byUser)))
        .withColumn("new_s",
          when(col("gap").isNull || col("gap") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(run))
      val bySess = Window.partitionBy("user_id", "session_id").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sess
        .withColumn("seen_v",
          max(when(col("event_type") === "view", 1).otherwise(0)).over(bySess))
        .withColumn("c_after_v",
          max(when(col("event_type") === "click" && col("seen_v") === 1, 1)
            .otherwise(0)).over(bySess))
        .withColumn("p_after_c",
          max(when(col("event_type") === "purchase" && col("c_after_v") === 1, 1)
            .otherwise(0)).over(bySess))
        .groupBy("user_id", "session_id")
        .agg(max(col("seen_v")).as("v"), max(col("c_after_v")).as("cv"),
          max(col("p_after_c")).as("pcv"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("v")).as("n_view"),
          sum(col("cv")).as("n_view_click"),
          sum(col("pcv")).as("n_view_click_purchase"))
    }),

    // Weekly cohort retention: users grouped by first-activity week,
    // counted in every later week they return — the (cohort, offset)
    // retention matrix. Weeks are pure integer arithmetic from the corpus
    // epoch (engine-exact; no calendar-anchor ambiguity). Two keyed
    // aggregations plus one join on user_id — each shuffle carries one row
    // per (user, week), never raw events.
    "q_cohort_retention" -> ((s, d) => {
      val ev0 = Tables.events(s, d)
      val weeks = ev0.select(col("user_id"),
        floor(datediff(to_date(Tables.eventTime(ev0)),
          lit("2024-01-01")) / lit(7.0)).cast("long").as("week"))
        .distinct()
      val cohorts = weeks.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
      weeks.join(cohorts, "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }))

  private val oracleBase: Map[String, String] = Map(
    // The sketches themselves are engine-specific; the gated projection is
    // engine-invariant (exact counts + accuracy booleans the oracle expects
    // to be true) — a sketch regression flips a boolean and fails the hash.
    "q_approx_stats" ->
      """SELECT count(*) AS n, count(DISTINCT user_id) AS exact_users,
        |       true AS hll_ok, true AS p95_ok
        |FROM events""".stripMargin,

    "q_pivot_sides" -> OracleSql.withTrades(
      """SELECT symbol,
        |       sum(CASE WHEN side = 'buy' THEN volume END) AS buy,
        |       sum(CASE WHEN side = 'sell' THEN volume END) AS sell
        |FROM trades GROUP BY symbol""".stripMargin),

    "q_rollup_volume" -> OracleSql.withTrades(
      """SELECT symbol, date_trunc('day', time) AS day,
        |       sum(volume) AS total_volume, count(*) AS n_trades
        |FROM trades GROUP BY ROLLUP (symbol, day)""".stripMargin),

    "q_cube_volume" -> OracleSql.withTrades(
      """SELECT symbol, side, sum(volume) AS total_volume, count(*) AS n_trades
        |FROM trades GROUP BY CUBE (symbol, side)""".stripMargin),

    // Bloom pruning must be value-transparent: oracle is the plain semi join.
    "q_bloom_prune" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    // The pruned range read must be value-identical to the plain filter.
    // Integer micros arithmetic on both sides: Scala Long '/' and DuckDB
    // '//' both truncate toward zero on the non-negative span.
    "q_versioned_prune" -> OracleSql.withTradesAnd(
      """b AS (SELECT min(epoch_us(time)) AS mn, max(epoch_us(time)) AS mx FROM trades),
        |r AS (SELECT mn + (mx - mn) // 3 AS t1, mn + 2 * ((mx - mn) // 3) AS t2 FROM b)""".stripMargin,
      """SELECT symbol, count(*) AS n, sum(volume) AS sum_volume,
        |       floor((sum(price)) * 1e4 + 0.5) / 1e4 AS sum_price
        |FROM trades, r
        |WHERE epoch_us(time) >= t1 AND epoch_us(time) < t2
        |GROUP BY symbol""".stripMargin),

    // File-grain skipping is value-transparent: same middle-third rollup
    // as q_versioned_prune, now pruned at the file tier inside one dir.
    "q_versioned_filegrain" -> OracleSql.withTradesAnd(
      """b AS (SELECT min(epoch_us(time)) AS mn, max(epoch_us(time)) AS mx FROM trades),
        |r AS (SELECT mn + (mx - mn) // 3 AS t1, mn + 2 * ((mx - mn) // 3) AS t2 FROM b)""".stripMargin,
      """SELECT symbol, count(*) AS n, sum(volume) AS sum_volume,
        |       floor((sum(price)) * 1e4 + 0.5) / 1e4 AS sum_price
        |FROM trades, r
        |WHERE epoch_us(time) >= t1 AND epoch_us(time) < t2
        |GROUP BY symbol""".stripMargin),

    // Mirrors ZOrder.morton16: magic-number bit interleave of the two
    // 16-bit dims, file = top 6 bits of the 32-bit code, per-file stats.
    "q_zorder_stats" ->
      """WITH base AS (
        |  SELECT o_orderkey % 256 AS ka, o_custkey % 256 AS kb FROM orders),
        |s0 AS (SELECT ka, kb, ka * 256 AS sa, kb * 256 AS sb FROM base),
        |s1 AS (SELECT ka, kb, ((sa | (sa << 8)) & 16711935) AS a1,
        |                      ((sb | (sb << 8)) & 16711935) AS b1 FROM s0),
        |s2 AS (SELECT ka, kb, ((a1 | (a1 << 4)) & 252645135) AS a2,
        |                      ((b1 | (b1 << 4)) & 252645135) AS b2 FROM s1),
        |s3 AS (SELECT ka, kb, ((a2 | (a2 << 2)) & 858993459) AS a3,
        |                      ((b2 | (b2 << 2)) & 858993459) AS b3 FROM s2),
        |s4 AS (SELECT ka, kb, ((a3 | (a3 << 1)) & 1431655765) AS a4,
        |                      ((b3 | (b3 << 1)) & 1431655765) AS b4 FROM s3),
        |z AS (SELECT ka, kb, (a4 | (b4 << 1)) >> 26 AS zfile FROM s4)
        |SELECT zfile, count(*) AS n_rows,
        |       min(ka) AS min_a, max(ka) AS max_a,
        |       min(kb) AS min_b, max(kb) AS max_b
        |FROM z GROUP BY zfile""".stripMargin,

    // The full recompute the incremental refresh must equal exactly.
    "q_incremental_agg" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        |       sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) / 100.0 AS sum_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    // Cursor consumption must converge to the full-table aggregate.
    "q_changefeed_cursor" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        |       sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) / 100.0 AS sum_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    // Composed range∧point skipping must be value-identical to the plain
    // two-predicate filter (tiers only ever remove whole non-matching dirs).
    "q_versioned_combo" -> OracleSql.withTradesAnd(
      """b AS (SELECT min(epoch_us(time)) AS mn, max(epoch_us(time)) AS mx,
        |              min(symbol) AS sym FROM trades),
        |r AS (SELECT mn + (mx - mn) // 3 AS t1, mn + 2 * ((mx - mn) // 3) AS t2, sym FROM b)""".stripMargin,
      """SELECT symbol, count(*) AS n, sum(volume) AS sum_volume,
        |       floor((sum(price)) * 1e4 + 0.5) / 1e4 AS sum_price
        |FROM trades, r
        |WHERE epoch_us(time) >= t1 AND epoch_us(time) < t2 AND symbol = sym
        |GROUP BY symbol""".stripMargin),

    // The CDF images' relational definition over the raw table: the
    // UPDATE's matched rows appear twice (pre-image original, post-image
    // assigned), the DELETE's matches once; the DELETE ran after the
    // UPDATE but targets a disjoint status, so its images are originals.
    "q_cdf_dml" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS lo,
        |                  2 * (max(o_orderkey) // 3) AS hi FROM orders),
        |u AS (SELECT o.* FROM orders o, b
        |      WHERE o_orderkey > lo AND o_orderkey <= hi AND o_orderstatus = 'O'),
        |x AS (SELECT o.* FROM orders o, b
        |      WHERE o_orderkey > lo AND o_orderkey <= hi AND o_orderstatus = 'F'),
        |f AS (
        |  SELECT 'update_preimage' AS _change_type, o_totalprice FROM u
        |  UNION ALL
        |  SELECT 'update_postimage' AS _change_type,
        |         o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice FROM u
        |  UNION ALL
        |  SELECT 'delete' AS _change_type, o_totalprice FROM x
        |)
        |SELECT _change_type, count(*) AS n,
        |       sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) / 100.0 AS sum_price
        |FROM f GROUP BY _change_type""".stripMargin,

    // RESTORE to the pre-DML version must reproduce the pre-DML rollup
    // exactly — the oracle never sees the deleted-then-restored detour.
    "q_versioned_restore" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) / 100.0 AS sum_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    // Scoped compaction is content-preserving: the post-OPTIMIZE-WHERE
    // table rolls up exactly like the raw corpus.
    "q_compact_where" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) / 100.0 AS sum_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    // Policy-driven purge + compact preserve the post-DELETE content: the
    // rollup equals the delete predicate's complement (the q_versioned_
    // delete oracle verbatim — maintenance must not change the answer).
    "q_maintenance_policy" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS lo,
        |                  2 * (max(o_orderkey) // 3) AS hi FROM orders)
        |SELECT o_orderstatus, count(*) AS n,
        |       sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) / 100.0 AS sum_price
        |FROM orders, b
        |WHERE NOT (o_orderkey > lo AND o_orderkey <= hi AND o_orderstatus = 'F')
        |GROUP BY o_orderstatus""".stripMargin,

    // The drift-triggered re-cluster is content-preserving: the rollup
    // equals the raw corpus regardless of which dirs the policy rewrote.
    "q_recluster_policy" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) / 100.0 AS sum_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    // Row-level DELETE through the commit log must equal the predicate's
    // complement over the raw table.
    "q_versioned_delete" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS lo,
        |                  2 * (max(o_orderkey) // 3) AS hi FROM orders)
        |SELECT o_orderstatus, count(*) AS n,
        |       sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) / 100.0 AS sum_price
        |FROM orders, b
        |WHERE NOT (o_orderkey > lo AND o_orderkey <= hi AND o_orderstatus = 'F')
        |GROUP BY o_orderstatus""".stripMargin,

    // Rename is value-transparent: the new-name rollup equals the
    // old-name CASE definition (same update as q_versioned_update).
    "q_versioned_rename" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS lo,
        |                  2 * (max(o_orderkey) // 3) AS hi FROM orders)
        |SELECT o_orderstatus, count(*) AS n,
        |       sum(CAST(floor(
        |         CASE WHEN o_orderkey > lo AND o_orderkey <= hi
        |                   AND o_orderstatus = 'O'
        |              THEN o_totalprice * CAST(1.1 AS DOUBLE)
        |              ELSE o_totalprice END * 1e2 + 0.5) AS BIGINT)) / 100.0
        |         AS sum_amount
        |FROM orders, b GROUP BY o_orderstatus""".stripMargin,

    // Row-level UPDATE through the commit log must equal the CASE
    // expression over the raw table (update iff predicate TRUE).
    "q_versioned_update" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS lo,
        |                  2 * (max(o_orderkey) // 3) AS hi FROM orders)
        |SELECT o_orderstatus, count(*) AS n,
        |       sum(CAST(floor(
        |         CASE WHEN o_orderkey > lo AND o_orderkey <= hi
        |                   AND o_orderstatus = 'O'
        |              THEN o_totalprice * CAST(1.1 AS DOUBLE)
        |              ELSE o_totalprice END * 1e2 + 0.5) AS BIGINT)) / 100.0
        |         AS sum_price
        |FROM orders, b
        |GROUP BY o_orderstatus""".stripMargin,

    // MERGE upsert must equal the relational definition: table rows whose
    // key is absent from the source, UNION ALL the source.
    "q_versioned_merge" ->
      """WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
        |src AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         o_totalprice + CAST(1000.0 AS DOUBLE) AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + mk AS o_orderkey, 'N' AS o_orderstatus, o_totalprice
        |  FROM orders, mx WHERE o_orderkey % 97 = 0
        |),
        |merged AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |  UNION ALL SELECT * FROM src
        |)
        |SELECT o_orderstatus, count(*) AS n,
        |       sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) / 100.0 AS sum_price
        |FROM merged GROUP BY o_orderstatus""".stripMargin,

    // Planning-time (FileIndex) skipping must be value-identical to the
    // plain two-predicate filter — same oracle as q_versioned_combo; only
    // WHERE the dirs are dismissed (Catalyst pushdown vs named DirFilters)
    // differs.
    "q_versioned_indexed" -> OracleSql.withTradesAnd(
      """b AS (SELECT min(epoch_us(time)) AS mn, max(epoch_us(time)) AS mx,
        |              min(symbol) AS sym FROM trades),
        |r AS (SELECT mn + (mx - mn) // 3 AS t1, mn + 2 * ((mx - mn) // 3) AS t2, sym FROM b)""".stripMargin,
      """SELECT symbol, count(*) AS n, sum(volume) AS sum_volume,
        |       floor((sum(price)) * 1e4 + 0.5) / 1e4 AS sum_price
        |FROM trades, r
        |WHERE epoch_us(time) >= t1 AND epoch_us(time) < t2 AND symbol = sym
        |GROUP BY symbol""".stripMargin),

    // The disjunctive (IN-list) planning-time skip must be value-identical
    // to the plain IN filter (branches only ever remove whole dirs no
    // branch's keys can live in).
    "q_versioned_multikey" -> OracleSql.withTradesAnd(
      """b AS (SELECT min(symbol) AS s1, max(symbol) AS s2 FROM trades)""",
      """SELECT symbol, count(*) AS n, sum(volume) AS sum_volume,
        |       floor((sum(price)) * 1e4 + 0.5) / 1e4 AS sum_price
        |FROM trades, b
        |WHERE symbol IN (s1, s2)
        |GROUP BY symbol""".stripMargin),

    // String-image skipping must be value-identical to the plain BETWEEN
    // over symbols: lo/hi are the middle tertile's bounds of the ordered
    // distinct symbols, replayed relationally (rn = k+1 and min(2k, n)
    // mirror the Scala side's grouped(k) middle group exactly).
    "q_versioned_strrange" -> OracleSql.withTradesAnd(
      """b AS (SELECT symbol, row_number() OVER (ORDER BY symbol) AS rn
        |      FROM (SELECT DISTINCT symbol FROM trades)),
        |kk AS (SELECT CAST(ceil(count(*) / 3.0) AS BIGINT) AS k,
        |              count(*) AS n FROM b),
        |r AS (SELECT
        |  (SELECT symbol FROM b, kk WHERE rn = k + 1) AS lo,
        |  (SELECT symbol FROM b, kk WHERE rn = least(2 * k, n)) AS hi)""".stripMargin,
      """SELECT symbol, count(*) AS n, sum(volume) AS sum_volume,
        |       floor((sum(price)) * 1e4 + 0.5) / 1e4 AS sum_price
        |FROM trades, r
        |WHERE symbol >= lo AND symbol <= hi
        |GROUP BY symbol""".stripMargin),

    // The format("graft") roundtrip must be value-identical to the plain
    // point filter — same oracle as q_versioned_point; only the API
    // surface (generic reader/writer vs library calls) differs.
    "q_versioned_format" ->
      """SELECT o_orderkey, o_orderstatus,
        |       floor(o_totalprice * 1e2 + 0.5) / 1e2 AS total_price
        |FROM orders
        |WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders)""".stripMargin,

    // The backfilled point read must be value-identical to the plain
    // point filter — same oracle as q_versioned_point; only the metadata's
    // provenance (retrofit vs at-commit) differs.
    "q_versioned_analyze" ->
      """SELECT o_orderkey, o_orderstatus,
        |       floor(o_totalprice * 1e2 + 0.5) / 1e2 AS total_price
        |FROM orders
        |WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders)""".stripMargin,

    // The THREE-dim Z rewrite must be value-identical to the plain
    // three-predicate filter (pmid replayed with the same IEEE ops).
    "q_zorder_multi" -> OracleSql.withTradesAnd(
      """b AS (SELECT min(epoch_us(time)) AS mn, max(epoch_us(time)) AS mx,
        |              min(symbol) AS sym,
        |              (min(price) + max(price)) / CAST(2 AS DOUBLE) AS pmid
        |       FROM trades),
        |r AS (SELECT mn + (mx - mn) // 3 AS t1, mn + 2 * ((mx - mn) // 3) AS t2,
        |             sym, pmid FROM b)""".stripMargin,
      """SELECT symbol, count(*) AS n, sum(volume) AS sum_volume,
        |       floor((sum(price)) * 1e4 + 0.5) / 1e4 AS sum_price
        |FROM trades, r
        |WHERE epoch_us(time) >= t1 AND epoch_us(time) < t2 AND symbol = sym
        |  AND price <= pmid
        |GROUP BY symbol""".stripMargin),

    // The Z-clustered rewrite must be value-identical to the plain
    // two-predicate filter — same oracle shape as q_versioned_combo; only
    // the physical layout underneath differs.
    "q_zorder_optimize" -> OracleSql.withTradesAnd(
      """b AS (SELECT min(epoch_us(time)) AS mn, max(epoch_us(time)) AS mx,
        |              min(symbol) AS sym FROM trades),
        |r AS (SELECT mn + (mx - mn) // 3 AS t1, mn + 2 * ((mx - mn) // 3) AS t2, sym FROM b)""".stripMargin,
      """SELECT symbol, count(*) AS n, sum(volume) AS sum_volume,
        |       floor((sum(price)) * 1e4 + 0.5) / 1e4 AS sum_price
        |FROM trades, r
        |WHERE epoch_us(time) >= t1 AND epoch_us(time) < t2 AND symbol = sym
        |GROUP BY symbol""".stripMargin),

    // The bloom-pruned point read must be value-identical to the plain
    // point filter (skipping only ever removes whole non-matching dirs).
    "q_versioned_point" ->
      """SELECT o_orderkey, o_orderstatus,
        |       floor(o_totalprice * 1e2 + 0.5) / 1e2 AS total_price
        |FROM orders
        |WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders)""".stripMargin,

    // Each snapshot recomputed from the raw table: v1 = even keys,
    // v2 = v1 + odd keys = everything, v3 = overwrite with status F.
    "q_time_travel" ->
      """SELECT CAST(1 AS INTEGER) AS version, count(*) AS n_rows,
        |       sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) / 100.0 AS sum_price
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT CAST(2 AS INTEGER), count(*),
        |       sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) / 100.0
        |FROM orders
        |UNION ALL
        |SELECT CAST(3 AS INTEGER), count(*),
        |       sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) / 100.0
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty,
        |       floor((sum(l_extendedprice)) * 1e2 + 0.5) / 1e2 AS sum_base_price,
        |       floor((sum(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount))) * 1e2 + 0.5) / 1e2 AS sum_disc_price,
        |       floor((avg(l_quantity)) * 1e6 + 0.5) / 1e6 AS avg_qty,
        |       floor((avg(l_extendedprice)) * 1e6 + 0.5) / 1e6 AS avg_price,
        |       floor((avg(l_discount)) * 1e6 + 0.5) / 1e6 AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_top_revenue_orders" ->
      """SELECT l_orderkey, o_orderdate,
        |       floor((sum(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount))) * 1e4 + 0.5) / 1e4 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_region_revenue" ->
      """SELECT r_name,
        |       floor((sum(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount))) * 1e2 + 0.5) / 1e2 AS revenue,
        |       count(*) AS line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00'
        |  AND l_quantity > 25""".stripMargin,

    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_topk_per_priority" ->
      """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders)
        |WHERE rank <= 3""".stripMargin,

    "q_customers_with_orders" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    "q_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    "q_distinct_status" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",

    "q_count_distinct" ->
      """SELECT count(DISTINCT o_custkey) AS n_customers,
        |       count(DISTINCT o_orderpriority) AS n_priorities,
        |       count(*) AS n_orders
        |FROM orders""".stripMargin,

    "q_multiline_orders" ->
      """SELECT l_orderkey, count(*) AS n_lines FROM lineitem
        |GROUP BY l_orderkey HAVING count(*) >= 5""".stripMargin,

    "q_union_order_classes" ->
      """SELECT o_orderkey, 'high' AS class FROM orders WHERE o_totalprice > 400000
        |UNION ALL
        |SELECT o_orderkey, 'low' AS class FROM orders WHERE o_totalprice < 10000""".stripMargin,

    "q_json_props" ->
      """SELECT event_type,
        |       CAST(sum(k) AS BIGINT) AS sum_k,
        |       floor((avg(k)) * 1e6 + 0.5) / 1e6 AS avg_k,
        |       count(CASE WHEN k > 50 THEN 1 END) AS n_high,
        |       count(*) AS n
        |FROM (SELECT event_type,
        |             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin,

    "q_agg_verify" ->
      """SELECT a.l_orderkey, qty_a, qty_b FROM
        |  (SELECT l_orderkey, floor((sum(l_quantity)) * 1e6 + 0.5) / 1e6 AS qty_a FROM lineitem GROUP BY 1) a
        |JOIN
        |  (SELECT l_orderkey, floor((sum(l_quantity)) * 1e6 + 0.5) / 1e6 AS qty_b FROM lineitem GROUP BY 1) b
        |ON a.l_orderkey = b.l_orderkey
        |WHERE qty_a <> qty_b""".stripMargin,

    "q_lead_returns" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |       floor((lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |              / nullif(o_totalprice, CAST(0 AS DOUBLE)) - CAST(1 AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS next_order_ratio
        |FROM orders""".stripMargin,

    "q_set_ops" ->
      """SELECT 'both_years' AS cohort, o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
        |UNION ALL
        |SELECT 'only_1995' AS cohort, o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')""".stripMargin,

    "q_latency_percentiles" ->
      """SELECT event_type,
        |       floor((quantile_cont(value, 0.5)) * 1e6 + 0.5) / 1e6 AS p50,
        |       floor((quantile_cont(value, 0.95)) * 1e6 + 0.5) / 1e6 AS p95,
        |       floor((quantile_cont(value, 0.99)) * 1e6 + 0.5) / 1e6 AS p99,
        |       count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    // Mirrors the chained running-max funnel flags; BIGINT casts because
    // DuckDB's sum(INT) canonicalizes as HUGEINT->float64.
    "q_funnel" ->
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS t, user_id, event_type FROM events),
        |s1 AS (
        |  SELECT *, CASE WHEN lag(t) OVER w IS NULL
        |                   OR epoch_us(t) - epoch_us(lag(t) OVER w) > 1800000000
        |                 THEN 1 ELSE 0 END AS new_s
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |s2 AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM s1),
        |f1 AS (
        |  SELECT *, max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER ws AS seen_v
        |  FROM s2 WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY t
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f2 AS (
        |  SELECT *, max(CASE WHEN event_type = 'click' AND seen_v = 1 THEN 1 ELSE 0 END)
        |            OVER ws AS c_after_v
        |  FROM f1 WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY t
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f3 AS (
        |  SELECT *, max(CASE WHEN event_type = 'purchase' AND c_after_v = 1 THEN 1 ELSE 0 END)
        |            OVER ws AS p_after_c
        |  FROM f2 WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY t
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |per AS (
        |  SELECT user_id, session_id, max(seen_v) AS v, max(c_after_v) AS cv,
        |         max(p_after_c) AS pcv
        |  FROM f3 GROUP BY 1, 2)
        |SELECT count(*) AS n_sessions,
        |       CAST(sum(v) AS BIGINT) AS n_view,
        |       CAST(sum(cv) AS BIGINT) AS n_view_click,
        |       CAST(sum(pcv) AS BIGINT) AS n_view_click_purchase
        |FROM per""".stripMargin,

    // Integer week arithmetic from the corpus epoch — no calendar anchors.
    "q_cohort_retention" ->
      """WITH weeks AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(datediff('day', DATE '2024-01-01',
        |           CAST(CAST(ts AS TIMESTAMP) AS DATE)) / 7.0) AS BIGINT) AS week
        |  FROM events),
        |coh AS (SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY 1)
        |SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
        |       count(DISTINCT w.user_id) AS n_users
        |FROM weeks w JOIN coh c USING (user_id)
        |GROUP BY 1, 2""".stripMargin)

  /** The merge-on-read twins (deletion vectors) and the purge verb share
    * the copy-on-write oracles VERBATIM: the storage strategy — rewrite
    * vs dv sidecar vs dv-folding purge — must be invisible to the answer.
    */
  val oracles: Map[String, String] = oracleBase ++ Map(
    "q_versioned_dv_delete" -> oracleBase("q_versioned_delete"),
    "q_versioned_dv_update" -> oracleBase("q_versioned_update"),
    "q_versioned_dv_merge" -> oracleBase("q_versioned_merge"),
    "q_versioned_dv_purge" -> oracleBase("q_versioned_delete"))
}
