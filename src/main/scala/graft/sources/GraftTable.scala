package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, SchemaRelationProvider, TableScan}
import org.apache.spark.sql.types.StructType

/** `format("graft")` — the versioned table as a first-class batch
  * DataSource, the Delta-reader UX over the commit log:
  *
  * {{{
  * df.write.format("graft").mode("append")
  *   .option("statsCols", "time").option("bloomCols", "symbol")
  *   .save(root)                                    // = VersionedTable.commit
  * spark.read.format("graft").load(root)            // latest snapshot
  * spark.read.format("graft")
  *   .option("versionAsOf", "2").load(root)         // time travel
  *   .filter($"symbol" === "AAPL")                  // planning-time skipping
  * }}}
  *
  * The read relation is the SAME manifest-governed `HadoopFsRelation` as
  * [[VersionedTable.read]] (one shared `scanIndex`), so ordinary pushed
  * predicates — ranges, equality, IN-lists, ORs — dismiss whole dirs from
  * the manifest's min/max stats and bloom sidecars at planning time, and
  * the survivors still reach the parquet reader as row-group filters.
  * Writes go through [[VersionedTable.commit]]: `Append` appends a commit,
  * `Overwrite` publishes an overwrite commit (old versions stay readable
  * via `versionAsOf` until vacuum), `ErrorIfExists` refuses a non-empty
  * table, `Ignore` is a no-op on one. `statsCols` / `bloomCols` /
  * `bloomFpp` options thread the skipping metadata into the commit, so a
  * table born through the generic writer is born indexed.
  *
  * Reference spec: the hypertable's insert/scan surface
  * (`sql/timescaledb_schema.sql:20-35`) behind Spark's standard
  * reader/writer instead of a bespoke API.
  */
final class GraftTableProvider
  extends RelationProvider with SchemaRelationProvider
  with CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def rootOf(parameters: Map[String, String]): String = {
    val p = parameters.getOrElse("path", throw new IllegalArgumentException(
      "format(\"graft\") requires a path: .load(<table root>) / .save(<table root>)"))
    // catalog-resolved tables (CREATE TABLE ... USING graft LOCATION) hand
    // the location as a file: URI; the commit log wants a plain path
    if (p.startsWith("file:")) new java.io.File(java.net.URI.create(p)).getPath else p
  }

  private def cols(parameters: Map[String, String], k: String): Seq[String] =
    parameters.get(k)
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val root = rootOf(parameters)
    require(!(parameters.contains("versionAsOf") &&
      parameters.contains("timestampAsOf")),
      "versionAsOf and timestampAsOf are mutually exclusive")
    // timestampAsOf: epoch millis — wall-clock time travel to the latest
    // version committed at or before the instant (Delta's TIMESTAMP AS OF)
    val asOf = parameters.get("versionAsOf").map(_.toInt)
      .orElse(parameters.get("timestampAsOf").map { ts =>
        VersionedTable.versionAsOf(root, ts.toLong).getOrElse(
          throw new IllegalArgumentException(
            s"no version committed at or before $ts at $root"))
      })
    // Resolve the version ONCE for the dv probe and the relation it
    // picks — a racing commit between two resolutions could pair one
    // version's dvs with another's dirs (an uncommitted hybrid read)
    val v = asOf.orElse(VersionedTable.latestVersion(root)).getOrElse(
      throw new IllegalArgumentException(s"empty versioned table at $root"))
    if (VersionedTable.snapshot(root, v).dvs.nonEmpty ||
        VersionedTable.isMapped(
          VersionedTable.tableSchema(sqlContext.sparkSession, root, Some(v))))
      // merge-on-read or column-mapped snapshot: the bare HadoopFsRelation
      // can carry neither the deletion-vector anti-join nor the logical
      // rename projection, so serve the read() frame through a
      // PrunedFilteredScan (catalog SQL reads and the library read()
      // keep full planning-time pruning; this fallback applies
      // translatable filters to the inner frame, whose own FileIndex
      // then prunes)
      dvRelation(sqlContext, root, Some(v))
    else {
      val (index, schema) =
        VersionedTable.scanIndex(sqlContext.sparkSession, root, Some(v))
      org.apache.spark.sql.graft.ManifestScan.relation(
        sqlContext.sparkSession, index, schema)
    }
  }

  /** The merge-on-read fallback relation for the DSv1 provider: pushed
    * filters and the column projection are re-applied to the DV-applied
    * [[VersionedTable.read]] frame — predicates reach the inner frame's
    * `ManifestFileIndex` (dir skipping survives) and parquet row-group
    * filters; unhandled filter shapes are simply re-evaluated by Spark on
    * top (`unhandledFilters` defaults to all — strictly conservative).
    */
  private def dvRelation(ctx: SQLContext, root: String,
      asOf: Option[Int]): BaseRelation =
    new BaseRelation with org.apache.spark.sql.sources.PrunedFilteredScan {
      override def sqlContext: SQLContext = ctx
      override val schema: StructType = VersionedTable.logicalSchema(
        VersionedTable.tableSchema(ctx.sparkSession, root, asOf))
      override def needConversion: Boolean = false
      override def buildScan(requiredColumns: Array[String],
          filters: Array[org.apache.spark.sql.sources.Filter]):
          org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
        import org.apache.spark.sql.functions.col
        val base = VersionedTable.read(ctx.sparkSession, root, asOf)
        val filtered = filters.flatMap(GraftTableProvider.filterColumn)
          .foldLeft(base)(_.filter(_))
        val projected = filtered.select(
          requiredColumns.toIndexedSeq.map(col): _*)
        // needConversion=false: hand back the InternalRow RDD directly
        // (the established DSv1 seam — Spark consumes it unconverted)
        projected.queryExecution.toRdd
          .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
      }
    }

  /** Declared-schema form — what `CREATE TABLE t (cols) USING graft`
    * resolves through: an UNCOMMITTED root is a legitimate empty table
    * (reads serve schema-correct emptiness until the first INSERT commits
    * version 1); a committed root serves the live manifest relation, whose
    * schema is authoritative (additive evolution can out-grow the declared
    * columns).
    */
  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String], declared: StructType): BaseRelation = {
    val root = rootOf(parameters)
    if (VersionedTable.latestVersion(root).isEmpty)
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = ctx
        override def schema: StructType = declared
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
          ctx.sparkContext.emptyRDD[org.apache.spark.sql.Row]
      }
    else createRelation(ctx, parameters)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val root = rootOf(parameters)
    val exists = VersionedTable.latestVersion(root).isDefined
    val write: Option[String] = mode match {
      case SaveMode.Append        => Some("append")
      case SaveMode.Overwrite     => Some("overwrite")
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"versioned table at $root already exists (SaveMode.ErrorIfExists); " +
            "use mode(\"append\") or mode(\"overwrite\")")
        Some("append")
      case SaveMode.Ignore        => if (exists) None else Some("append")
    }
    write.foreach { m =>
      VersionedTable.commit(data, root, m,
        statsCols = cols(parameters, "statsCols"),
        bloomCols = cols(parameters, "bloomCols"),
        bloomFpp = parameters.getOrElse("bloomFpp", "0.01").toDouble)
    }
    createRelation(sqlContext, parameters)
  }
}

object GraftTableProvider {

  /** DSv1 `Filter` → `Column`, for the merge-on-read fallback relation:
    * only shapes worth re-pushing translate (comparisons, IN, null
    * checks, prefix LIKE, AND/OR); anything else returns None and Spark
    * re-evaluates it on top — strictly conservative either way, since
    * `unhandledFilters` keeps every filter re-applied.
    */
  private[sources] def filterColumn(
      f: org.apache.spark.sql.sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v)            => Some(col(a) === lit(v))
      case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
      case GreaterThan(a, v)        => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v)           => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a)                => Some(col(a).isNull)
      case IsNotNull(a)             => Some(col(a).isNotNull)
      case StringStartsWith(a, p)   => Some(col(a).startsWith(p))
      case And(l, r) =>
        for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc || rc
      case _ => None
    }
  }
}
