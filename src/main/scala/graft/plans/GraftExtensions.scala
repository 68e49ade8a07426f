package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Session extensions entry point: register the engine's native expressions
  * at session build time —
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions` (the cluster-config
  * path: every session on the cluster gets the full SQL surface without
  * touching application code).
  *
  * Injects the complete native-expression layer — cosine similarity, the
  * text-hashing family (shingles, MinHash signatures/bands, Jaccard,
  * SimHash, winnowing, portable twins), and the SRP embedding buckets —
  * plus the tenant row-level-security optimizer rule. Per SURVEY §4 the
  * reference requires zero further optimizer rules (Catalyst's
  * pushdown/pruning/reorder cover it).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import GraftExtensions.intLit

  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, cls: Class[_], builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))

    inject(CosineSimilarity.name, classOf[CosineSimilarity],
      exprs => CosineSimilarity(exprs.head, exprs(1)))

    // The text-hashing family (same names TextHashing.register binds at
    // runtime, so SQL written against either registration path is portable).
    import TextHashing._
    inject("graft_shingles", classOf[WordShingles],
      ex => WordShingles(ex.head, intLit(ex(1), "n")))
    inject("graft_minhash", classOf[MinHashSig],
      ex => MinHashSig(ex.head, intLit(ex(1), "numHashes")))
    inject("graft_minhash_bands", classOf[MinHashBands],
      ex => MinHashBands(ex.head, intLit(ex(1), "numHashes"), intLit(ex(2), "bands")))
    inject("graft_jaccard", classOf[JaccardSim], ex => JaccardSim(ex.head, ex(1)))
    inject("graft_simhash", classOf[SimHash64], ex => SimHash64(ex.head))
    inject("graft_winnow", classOf[WinnowFp],
      ex => WinnowFp(ex.head, intLit(ex(1), "k"), intLit(ex(2), "w")))
    inject("graft_minhash_bands_poly", classOf[MinHashBandsPoly],
      ex => MinHashBandsPoly(ex.head, intLit(ex(1), "numHashes"), intLit(ex(2), "bands")))
    inject("graft_simhash_poly", classOf[SimHashPoly], ex => SimHashPoly(ex.head))

    inject("graft_srp_bucket", classOf[SrpBucket],
      ex => SrpBucket(ex.head, intLit(ex(1), "planes")))
    inject("graft_srp_bucket_poly", classOf[SrpBucketPoly],
      ex => SrpBucketPoly(ex.head, intLit(ex(1), "planes")))

    ext.injectOptimizerRule(spark => new TenantFilterRule(spark))

    // The SQL-catalog binding's analysis half (the catalog half is
    // spark.sql.catalog.spark_catalog=org.apache.spark.sql.graft.GraftCatalog):
    // DELETE/UPDATE/MERGE on `USING graft` tables become copy-on-write
    // commands, and catalog reads plan through the manifest FileIndex —
    // CREATE TABLE t USING graft / INSERT INTO t / SELECT ... VERSION AS OF
    // resolve natively with planning-time skipping intact.
    ext.injectPostHocResolutionRule(spark =>
      new org.apache.spark.sql.graft.GraftDmlRule(spark))

    // Maintenance verbs the stock grammar lacks (RESTORE TABLE ... TO
    // VERSION AS OF / OPTIMIZE [ZORDER BY] / VACUUM [RETAIN n HOURS]) —
    // SQL-declared maintenance delegating to the library ops, the
    // reference's policy surface (`sql/timescaledb_schema.sql:60-65,
    // 173-178`; tiering `ARCHITECTURE.md:83-91`).
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))

    def injectTable(name: String,
        builder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
      ext.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo(GraftExtensions.getClass.getName, name), builder))

    // The reference's flagship SQL entry point, as a TABLE function
    // (set-returning in the reference, `sql/timescaledb_schema.sql:292-411`):
    //   SELECT * FROM feature_pit_snapshot('5', TIMESTAMP '2024-01-02 03:04:05')
    // The builder plants the full PitSnapshot plan (one guarded scan folded
    // into the record) into the parsed tree, so a pure-SQL session reaches
    // the engine's centerpiece with zero application code. The trades source
    // resolves from `spark.graft.pit.source` (an events/trades directory) or,
    // absent that, a `trades` view registered in the session catalog.
    injectTable("feature_pit_snapshot", GraftExtensions.pitSnapshotPlan)

    // The versioned-table surface from pure SQL — the Delta `table@v1` /
    // `DESCRIBE HISTORY` / `table_changes(...)` trio:
    //   SELECT * FROM graft_versioned('/data/t')           -- latest snapshot
    //   SELECT * FROM graft_versioned('/data/t', 3)        -- time travel
    //   SELECT * FROM graft_table_history('/data/t')       -- commit log
    //   SELECT * FROM graft_changes('/data/t', 1, 3)       -- change feed
    injectTable("graft_versioned", GraftExtensions.versionedReadPlan)
    injectTable("graft_table_history", GraftExtensions.historyPlan)
    injectTable("graft_changes", GraftExtensions.changesPlan)
    //   SELECT * FROM graft_change_feed('/data/t', 1, 3)   -- row-level CDF
    injectTable("graft_change_feed", GraftExtensions.changeFeedPlan)
  }
}

object GraftExtensions {
  private def intLit(ex: Expression, what: String): Int = ex match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Session conf naming the trades source directory for the SQL-facing
    * `feature_pit_snapshot` (set it cluster-wide next to
    * `spark.sql.extensions`, or per session).
    */
  val PitSourceConfKey = "spark.graft.pit.source"

  /** Build the `feature_pit_snapshot(symbol, as_of_ts)` plan from the call
    * site's argument expressions. Arguments must be foldable (literals or
    * constant-foldable casts) — the snapshot is a point lookup, exactly like
    * the reference's function-call contract; the future-query guard
    * (`smartdb_contract.py:200-201`) applies here too.
    */
  private[plans] def pitSnapshotPlan(
      exprs: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.types.{StringType, TimestampType}
    require(exprs.length == 2,
      s"feature_pit_snapshot(symbol, as_of_ts) takes 2 arguments, got ${exprs.length}")
    def folded(e: Expression, what: String): Any = {
      require(e.foldable, s"$what must be a constant expression, got $e")
      e.eval()
    }
    val symbol = (exprs.head.dataType, folded(exprs.head, "symbol")) match {
      case (StringType, s) if s != null => s.toString
      case other => throw new IllegalArgumentException(
        s"symbol must be a non-null string, got $other")
    }
    val asOf = (exprs(1).dataType, folded(exprs(1), "as_of_ts")) match {
      case (TimestampType, micros: java.lang.Long) =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(micros)
      case (StringType, s) if s != null => java.sql.Timestamp.valueOf(s.toString)
      case other => throw new IllegalArgumentException(
        s"as_of_ts must be a timestamp (or timestamp string), got $other")
    }
    val spark = org.apache.spark.sql.SparkSession.active
    val trades = spark.conf.getOption(PitSourceConfKey) match {
      case Some(dir) => graft.core.Tables.trades(spark, dir)
      case None if spark.catalog.tableExists("trades") => spark.table("trades")
      case None => throw new IllegalArgumentException(
        s"feature_pit_snapshot needs $PitSourceConfKey or a 'trades' view")
    }
    graft.asof.PitSnapshot.snapshot(trades, symbol, asOf)
      .queryExecution.logical
  }

  private def stringArg(e: Expression, what: String): String = {
    import org.apache.spark.sql.types.StringType
    require(e.foldable, s"$what must be a constant expression, got $e")
    (e.dataType, e.eval()) match {
      case (StringType, s) if s != null => s.toString
      case other => throw new IllegalArgumentException(
        s"$what must be a non-null string, got $other")
    }
  }

  private def intArg(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a constant expression, got $e")
    e.eval() match {
      case i: java.lang.Integer => i.intValue
      case l: java.lang.Long    => l.intValue
      case other => throw new IllegalArgumentException(
        s"$what must be an integer, got $other")
    }
  }

  /** `graft_versioned(root[, version])` — snapshot read / time travel.
    * Served through [[graft.sources.VersionedTable.read]]'s manifest
    * `FileIndex`, so a SQL `WHERE` over the function prunes data dirs from
    * the manifest's min/max stats and bloom sidecars at planning time —
    * pure-SQL sessions get the engine's data skipping with no Scala API.
    */
  private[plans] def versionedReadPlan(
      exprs: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 1 || exprs.length == 2,
      s"graft_versioned(root[, version]) takes 1-2 arguments, got ${exprs.length}")
    val asOf = if (exprs.length == 2) Some(intArg(exprs(1), "version")) else None
    graft.sources.VersionedTable
      .read(org.apache.spark.sql.SparkSession.active,
        stringArg(exprs.head, "root"), asOf)
      .queryExecution.logical
  }

  /** `graft_table_history(root)` — the commit log as rows (DESCRIBE
    * HISTORY): driver-side manifest metadata, never a data scan.
    */
  private[plans] def historyPlan(
      exprs: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.types._
    require(exprs.length == 1,
      s"graft_table_history(root) takes 1 argument, got ${exprs.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val rows = graft.sources.VersionedTable
      .historySummary(stringArg(exprs.head, "root")).map { e =>
        org.apache.spark.sql.Row(e.version, e.parent, e.operation, e.rows,
          new java.sql.Timestamp(e.committedMs), e.nDirs)
      }
    val schema = StructType(Seq(
      StructField("version", IntegerType), StructField("parent", IntegerType),
      StructField("operation", StringType), StructField("n_rows", LongType),
      StructField("committed_at", TimestampType), StructField("n_dirs", IntegerType)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema).queryExecution.logical
  }

  /** `graft_changes(root, fromExclusive, toInclusive)` — the change feed. */
  private[plans] def changesPlan(
      exprs: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 3,
      s"graft_changes(root, from, to) takes 3 arguments, got ${exprs.length}")
    graft.sources.VersionedTable
      .changes(org.apache.spark.sql.SparkSession.active,
        stringArg(exprs.head, "root"),
        intArg(exprs(1), "from"), intArg(exprs(2), "to"))
      .queryExecution.logical
  }

  /** `graft_change_feed(root, fromExclusive, toInclusive)` — the
    * ROW-LEVEL change feed across DML commits (Delta's `table_changes`
    * TVF shape): rows + `_change_type` + `_commit_version` from
    * [[graft.sources.VersionedTableOps.changeFeed]].
    */
  private[plans] def changeFeedPlan(
      exprs: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 3,
      s"graft_change_feed(root, from, to) takes 3 arguments, got ${exprs.length}")
    graft.sources.VersionedTable
      .changeFeed(org.apache.spark.sql.SparkSession.active,
        stringArg(exprs.head, "root"),
        intArg(exprs(1), "from"), intArg(exprs(2), "to"))
      .queryExecution.logical
  }
}
