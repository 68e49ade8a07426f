package org.apache.spark.sql.graft

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.connector.catalog.{DelegatingCatalogExtension, Identifier, SupportsDelete, SupportsWrite, Table, TableCapability, V1Table, V2TableWithV1Fallback}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType

import graft.sources.VersionedTable

/** Session-catalog extension binding the versioned table into Spark's own
  * SQL surface — the Delta `DeltaCatalog` shape. Installed as
  * {{{ spark.sql.catalog.spark_catalog = org.apache.spark.sql.graft.GraftCatalog }}}
  * (alongside `spark.sql.extensions = graft.plans.GraftExtensions`, which
  * carries the analysis rules this catalog's tables resolve through), it
  * makes every `USING graft` table in the session catalog a first-class
  * SQL citizen:
  *
  * {{{
  *   CREATE TABLE t USING graft LOCATION '/data/t'      -- v1 create path
  *   INSERT INTO t SELECT ...                           -- append commit
  *   INSERT OVERWRITE t SELECT ...                      -- overwrite commit
  *   SELECT * FROM t WHERE symbol = 'A'                 -- FileIndex skipping
  *   SELECT * FROM t VERSION AS OF 2                    -- time travel
  *   SELECT * FROM t TIMESTAMP AS OF '...'              -- wall-clock travel
  *   DELETE FROM t WHERE ... / UPDATE t SET ... / MERGE INTO t ...
  * }}}
  *
  * `CREATE TABLE ... USING graft` itself rides Spark's stock v1 create
  * path (the provider is a DSv1 `RelationProvider`, so the session catalog
  * records a plain datasource table and infers schema through
  * [[graft.sources.GraftTableProvider]]); this extension's job is the READ
  * side of the catalog contract — `loadTable` wraps graft-provider entries
  * into [[GraftTableV2]], which the DML/read rules in [[GraftDmlRule]]
  * resolve onto the SAME `scanIndex`/commit machinery the Scala API uses.
  * Planning-time data skipping therefore carries over unchanged: a SQL
  * `WHERE` over a catalog table dismisses whole dirs from the manifest's
  * min/max stats and bloom sidecars before any file is listed to Spark.
  *
  * Reference spec: the Smart-DB surface is SQL-first — DDL + DML against
  * the hypertable (`sql/timescaledb_schema.sql:14-286`, upserts
  * `enhanced_anomaly_detection.py:176-201`); this catalog is that UX over
  * the commit log instead of a warehouse.
  */
class GraftCatalog extends DelegatingCatalogExtension {

  private def isGraft(t: Table): Boolean = t match {
    case v1: V1Table => v1.catalogTable.provider.exists(_.equalsIgnoreCase("graft"))
    case _           => false
  }

  private def wrap(ident: Identifier, t: Table, asOf: Option[Int]): Table = t match {
    case v1: V1Table if isGraft(t) =>
      // catalog LOCATIONs are URIs (file:/...); the engine wants a path
      val root = new java.io.File(v1.catalogTable.location).getPath
      GraftTableV2(ident.toString, root, asOf,
        Option(v1.catalogTable.schema).filter(_.nonEmpty),
        v1.catalogTable.storage.properties ++ v1.catalogTable.properties,
        Some(v1.catalogTable))
    case other => other
  }

  override def loadTable(ident: Identifier): Table =
    wrap(ident, super.loadTable(ident), None)

  /** `VERSION AS OF <v>` — pin the snapshot; non-graft tables keep the
    * delegate's behavior (the session catalog refuses time travel).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = super.loadTable(ident)
    if (isGraft(t)) wrap(ident, t, Some(version.toInt))
    else super.loadTable(ident, version)
  }

  /** `ALTER TABLE t ADD COLUMNS (...)` — schema evolution as a DDL verb.
    * For a committed graft table the widening is made REAL first: one
    * metadata-only `evolve` commit pins the widened anchor in the
    * manifest ([[VersionedTable.addColumns]]), so every reader —
    * including pure-library sessions that never consult this catalog —
    * serves NULL-filled new columns immediately; then the session-catalog
    * entry is updated in sync. Anything beyond top-level ADD COLUMNS
    * (drop/rename/retype) is refused loudly: immutable history cannot
    * retroactively change shape, only widen.
    */
  override def alterTable(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.TableChange*): Table = {
    val t = super.loadTable(ident)
    if (isGraft(t)) {
      import org.apache.spark.sql.connector.catalog.TableChange
      val (adds, rest0) = changes.partition(_.isInstanceOf[TableChange.AddColumn])
      val (renames, rest1) = rest0.partition(_.isInstanceOf[TableChange.RenameColumn])
      val (drops, others) = rest1.partition(_.isInstanceOf[TableChange.DeleteColumn])
      // property changes (SET TBLPROPERTIES) stay pure catalog metadata
      val nonProps = others.filterNot(c =>
        c.isInstanceOf[TableChange.SetProperty] ||
          c.isInstanceOf[TableChange.RemoveProperty])
      require(nonProps.isEmpty,
        s"graft tables support ALTER TABLE ADD/RENAME/DROP COLUMNS and " +
          s"TBLPROPERTIES only (history is immutable; got ${nonProps.mkString(", ")})")
      val fields = adds.map(_.asInstanceOf[TableChange.AddColumn]).map { a =>
        require(a.fieldNames.length == 1,
          s"nested ADD COLUMNS not supported: ${a.fieldNames.mkString(".")}")
        org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType, nullable = true)
      }
      val root = new java.io.File(
        t.asInstanceOf[V1Table].catalogTable.location).getPath
      val live = VersionedTable.latestVersion(root).isDefined
      if (fields.nonEmpty && live)
        VersionedTable.addColumns(SparkSession.active, root, fields)
      // RENAME/DROP COLUMN: manifest column mapping — metadata-only
      // commits, data files byte-identical (see VersionedTable.renameColumn)
      renames.map(_.asInstanceOf[TableChange.RenameColumn]).foreach { r =>
        require(r.fieldNames.length == 1,
          s"nested RENAME COLUMN not supported: ${r.fieldNames.mkString(".")}")
        require(live, "cannot rename a column of an empty (uncommitted) table")
        VersionedTable.renameColumn(SparkSession.active, root,
          r.fieldNames()(0), r.newName)
      }
      val dropNames = drops.map(_.asInstanceOf[TableChange.DeleteColumn]).map { d =>
        require(d.fieldNames.length == 1,
          s"nested DROP COLUMN not supported: ${d.fieldNames.mkString(".")}")
        d.fieldNames()(0)
      }
      if (dropNames.nonEmpty) {
        require(live, "cannot drop columns of an empty (uncommitted) table")
        VersionedTable.dropColumns(SparkSession.active, root, dropNames)
      }
      // Kernel-level table properties have ONE source of truth: the table
      // root's `_props` file, which pure-library sessions (that never
      // consult this catalog) also read. SET/UNSET TBLPROPERTIES on a
      // kernel key forwards there, so SQL-issued and library-issued DML
      // can never disagree on, e.g., whether CDF images are staged.
      forwardKernelProps(root,
        others.collect { case s: TableChange.SetProperty =>
          s.property -> s.value },
        others.collect { case r: TableChange.RemoveProperty => r.property })
    }
    super.alterTable(ident, changes: _*)
  }

  /** Kernel-interpreted table properties (see [[forwardKernelProps]]). */
  private val kernelProps = Set(
    VersionedTable.CdfEnabledProp, VersionedTable.CheckpointIntervalProp)

  /** Mirror kernel-interpreted properties into the table root's `_props`
    * file (a remove forwards as a null = key removal). Catalog-only
    * properties (`graft.dml.mode`, skipping columns…) stay pure catalog
    * metadata as before — they steer PLANS built through this catalog,
    * not commits made by any writer.
    */
  private def forwardKernelProps(root: String, sets: Seq[(String, String)],
      removes: Seq[String]): Unit = {
    val fwd = sets.filter(kv => kernelProps(kv._1)).toMap ++
      removes.filter(kernelProps).map(_ -> (null: String)).toMap
    if (fwd.nonEmpty) VersionedTable.setTableProperties(root, fwd)
  }

  /** CREATE TABLE — stock v1 create path, plus kernel-property
    * forwarding: `TBLPROPERTIES('graft.cdf.enabled'='true')` declared at
    * creation lands in the root's `_props` so library writers honor it
    * from the first commit.
    */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    val t = super.createTable(ident, columns, partitions, properties)
    forwardCreateProps(ident, properties)
    t
  }

  @deprecated("kept for the StructType create path", "graft")
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    val t = super.createTable(ident, schema, partitions, properties)
    forwardCreateProps(ident, properties)
    t
  }

  private def forwardCreateProps(ident: Identifier,
      properties: JMap[String, String]): Unit = {
    val declared = properties.asScala.filter(kv => kernelProps(kv._1)).toMap
    if (declared.nonEmpty) super.loadTable(ident) match {
      case v1: V1Table if isGraft(v1) =>
        val root = new java.io.File(v1.catalogTable.location).getPath
        VersionedTable.setTableProperties(root, declared)
      case _ => ()
    }
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands epoch MICROseconds; resolve to
    * the latest version committed at or before that wall-clock instant.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = super.loadTable(ident)
    if (isGraft(t)) {
      val v1 = t.asInstanceOf[V1Table]
      val root = new java.io.File(v1.catalogTable.location).getPath
      val tsMs = timestamp / 1000L
      val v = VersionedTable.versionAsOf(root, tsMs).getOrElse(
        throw new IllegalArgumentException(
          s"no version of $ident committed at or before timestamp $tsMs ms"))
      wrap(ident, t, Some(v))
    } else super.loadTable(ident, timestamp)
  }
}

/** The DSv2 face of one versioned table (optionally pinned `asOf`). Reads
  * never plan through a DSv2 scan: [[GraftDmlRule]] swaps the relation for
  * the manifest-`FileIndex` `HadoopFsRelation` ([[ManifestScan.relation]])
  * during analysis, so catalog reads prune identically to
  * `VersionedTable.read` — the BATCH_READ capability is advertised for the
  * analyzer's benefit and [[GraftTableV2.unsupportedScan]] guards the path
  * that must never execute. Writes ride the V1 fallback seam
  * ([[org.apache.spark.sql.connector.write.V1Write]]): `INSERT INTO` is an
  * append commit, `INSERT OVERWRITE` an overwrite commit, with
  * `statsCols`/`bloomCols`/`bloomFpp` table options threading the skipping
  * metadata — a table born through SQL DDL is born indexed. `DELETE FROM`
  * with pushable predicates can run as [[SupportsDelete.deleteWhere]];
  * richer predicates (and UPDATE/MERGE) go through [[GraftDmlRule]]'s
  * command conversions onto the same copy-on-write ops.
  */
final case class GraftTableV2(
    identName: String,
    root: String,
    asOf: Option[Int],
    declaredSchema: Option[StructType],
    tableProps: Map[String, String],
    catalogEntry: Option[CatalogTable] = None)
  extends Table with SupportsWrite with SupportsDelete with V2TableWithV1Fallback {

  /** The session this table was LOADED by, captured at construction.
    * Catalog resolution always runs under the owning session's
    * `withActive`, so this is the extensions+catalog session itself —
    * resolving `SparkSession.active` lazily at use instead would hand
    * schema/DML work to whatever session a foreign thread happens to
    * have active at that later moment (the harness-order divergence
    * channel behind the r13 gate flake). The active fallback only fires
    * if the owner's context was stopped out from under a cached table.
    */
  @transient private val owner: SparkSession = SparkSession.active

  private def spark: SparkSession =
    if (owner != null && !owner.sparkContext.isStopped) owner
    else SparkSession.active

  /** An empty table (no commits yet) serves its DECLARED schema; a
    * committed one serves the pinned snapshot's union anchor — one
    * manifest read, no file listing.
    */
  override def schema(): StructType =
    if (VersionedTable.latestVersion(root).isEmpty)
      declaredSchema.getOrElse(new StructType())
    else VersionedTable.logicalSchema(
      VersionedTable.tableSchema(spark, root, asOf))

  def isEmptyTable: Boolean = VersionedTable.latestVersion(root).isEmpty

  override def name(): String = identName

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def properties(): JMap[String, String] = tableProps.asJava

  private def cols(k: String): Seq[String] = tableProps.get(k)
    .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                legacyOverwrite: Boolean): Unit = {
              require(asOf.isEmpty, "cannot write to a time-travel snapshot")
              VersionedTable.commit(data, root,
                if (overwrite || legacyOverwrite) "overwrite" else "append",
                statsCols = cols("statsCols"), bloomCols = cols("bloomCols"),
                bloomFpp = tableProps.getOrElse("bloomFpp", "0.01").toDouble)
              ()
            }
          }
      }
    }

  /** Filter-pushdown DELETE (Spark's metadata-delete path). Kept as the
    * native fallback — [[GraftDmlRule]] normally converts `DELETE FROM`
    * first, with full `Column` expressiveness; both delegate to the same
    * skipping-bounded copy-on-write [[VersionedTable.delete]].
    */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(asOf.isEmpty, "cannot DELETE from a time-travel snapshot")
    val cond = filters.map(GraftTableV2.filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    VersionedTable.delete(spark, root, cond)
    ()
  }

  /** Streaming reads fall back to the v1 `graft-changefeed` source (the
    * Delta `V2TableWithV1Fallback` technique): `spark.readStream.table(t)`
    * subscribes to the table's commit log — offsets are versions, each
    * micro-batch an O(delta) change-feed read — with the catalog name as
    * the only address. Batch resolution never consults this.
    */
  override def v1Table: CatalogTable = {
    val base = catalogEntry.getOrElse(throw new UnsupportedOperationException(
      s"no catalog entry for $identName: streaming fallback needs a " +
        "session-catalog table"))
    require(asOf.isEmpty,
      "streaming reads subscribe to the live commit log; drop VERSION AS OF " +
        "(use startingVersion on format(\"graft-changefeed\") for history)")
    base.copy(
      provider = Some("graft-changefeed"),
      storage = base.storage.copy(
        properties = base.storage.properties + ("root" -> root)))
  }

  /** Fails loudly if a DSv2 scan is ever actually planned — the read rule
    * in [[GraftDmlRule]] must have swapped this relation during analysis.
    */
  def unsupportedScan: Nothing = throw new UnsupportedOperationException(
    "graft catalog tables read through GraftExtensions' analysis rule " +
      "(spark.sql.extensions=graft.plans.GraftExtensions); the DSv2 scan " +
      "path is intentionally unimplemented")
}

object GraftTableV2 {

  /** v1 `Filter` → `Column`, for [[SupportsDelete.deleteWhere]]. */
  def filterToColumn(f: Filter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v)            => col(a) === lit(v)
      case EqualNullSafe(a, v)      => col(a) <=> lit(v)
      case GreaterThan(a, v)        => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v)           => col(a) < lit(v)
      case LessThanOrEqual(a, v)    => col(a) <= lit(v)
      case In(a, vs)                => col(a).isin(vs.toIndexedSeq: _*)
      case IsNull(a)                => col(a).isNull
      case IsNotNull(a)             => col(a).isNotNull
      case And(l, r)                => filterToColumn(l) && filterToColumn(r)
      case Or(l, r)                 => filterToColumn(l) || filterToColumn(r)
      case Not(c)                   => !filterToColumn(c)
      case StringStartsWith(a, v)   => col(a).startsWith(v)
      case StringEndsWith(a, v)     => col(a).endsWith(v)
      case StringContains(a, v)     => col(a).contains(v)
      case AlwaysTrue()             => lit(true)
      case AlwaysFalse()            => lit(false)
      case other => throw new UnsupportedOperationException(
        s"cannot translate filter $other for DELETE")
    }
  }
}
