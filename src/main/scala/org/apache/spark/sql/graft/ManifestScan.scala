package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, Or, StartsWith}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{Decimal, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.VersionedTable.{DirFilter, PointFilter, RangeFilter}

/** Planning-time data skipping for the versioned table, the Delta
  * `TahoeFileIndex` shape: a [[FileIndex]] whose `listFiles` receives the
  * data filters Catalyst already pushed toward the scan, translates them
  * into manifest [[DirFilter]]s, and returns only the files of the dirs
  * the manifest's min/max stats and bloom sidecars admit. Every frame
  * `VersionedTable.read` returns is built over this index, so it prunes
  * from ordinary `.filter(...)` / SQL `WHERE` clauses with no API beyond
  * vanilla Spark — `graft_versioned(root)` in pure SQL skips dirs the
  * same way.
  *
  * Hosted under `org.apache.spark.sql` because the construction surface
  * (`HadoopFsRelation`/`LogicalRelation`/`Dataset.ofRows`) is
  * `private[sql]` — the same established doorway Delta Lake uses for its
  * whole `org.apache.spark.sql.delta` package. Everything here is
  * metadata-plane: translation and dir admission run on the driver during
  * planning; executors only ever see the surviving files.
  *
  * Reference spec: the `(symbol, time DESC)` composite index scans of
  * `sql/timescaledb_schema.sql:34-35`, re-expressed as commit-log data
  * skipping instead of a B-tree.
  */
class ManifestFileIndex(
    tableRoot: Path,
    dirFiles: Seq[(String, Array[FileStatus])],
    admit: Seq[DirFilter] => Seq[String],
    fileAdmit: (String, Seq[String], Seq[DirFilter]) => Seq[String] =
      (_, names, _) => names)
  extends FileIndex {

  private val byDir: Map[String, Array[FileStatus]] = dirFiles.toMap

  override def rootPaths: Seq[Path] = Seq(tableRoot)

  /** Translate → admit → list. No filters translate (or none are given) →
    * every dir's files, exactly a plain snapshot read. The table is
    * unpartitioned at the Spark level (`partitionSchema` empty), so
    * `partitionFilters` is always empty and all pruning power rides on
    * `dataFilters` — "partition pruning without a partition layout".
    * Inside each admitted dir, `fileAdmit` refines to FILE grain when the
    * manifest carries per-file hulls (`fstats=` lines) — a fat append
    * commit prunes at the file, not the dir.
    */
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val filters = ManifestScan.dirFiltersFrom(dataFilters)
    val keep =
      if (filters.isEmpty) dirFiles.map(_._1)
      else admit(filters)
    val files = keep.flatMap { d =>
      val all = byDir.getOrElse(d, Array.empty[FileStatus])
      if (filters.isEmpty) all
      else {
        val names = fileAdmit(d, all.map(_.getPath.getName).toSeq, filters).toSet
        all.filter(st => names(st.getPath.getName))
      }
    }
    Seq(PartitionDirectory(InternalRow.empty, files.toArray))
  }

  /** Contractually the UNPRUNED universe (`Dataset.inputFiles`). */
  override def inputFiles: Array[String] =
    dirFiles.flatMap(_._2).map(_.getPath.toString).toArray

  override def refresh(): Unit = () // manifest snapshots are immutable

  override def sizeInBytes: Long = dirFiles.iterator.flatMap(_._2).map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()
}

object ManifestScan {

  /** Build the scan frame over a [[ManifestFileIndex]]: a parquet
    * `HadoopFsRelation` whose file listing is manifest-governed. Filters
    * the caller composes on top prune dirs at planning time AND still
    * reach the parquet reader as row-group predicates — the two skipping
    * tiers compose, like Delta's stats pruning over parquet footers.
    */
  def frame(spark: SparkSession, index: FileIndex, dataSchema: StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(cs, LogicalRelation(relation(spark, index, dataSchema)))
  }

  /** The bare `HadoopFsRelation` over a manifest index — the
    * `BaseRelation` the `format("graft")` DSv1 provider returns, so the
    * standard `spark.read.format(...).load(root)` path plans through
    * [[ManifestFileIndex]] exactly like [[frame]] (FileSourceStrategy
    * matches any `LogicalRelation(HadoopFsRelation)` and hands the pushed
    * data filters to `listFiles`, wherever the relation came from).
    */
  def relation(spark: SparkSession, index: FileIndex,
      dataSchema: StructType): HadoopFsRelation = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    HadoopFsRelation(index, new StructType(), dataSchema,
      None, new ParquetFileFormat, Map.empty[String, String])(cs)
  }

  /** The [[DirFilter]]s Catalyst would push at `df`'s scan: collect every
    * `Filter` condition in the OPTIMIZED plan (constant folding done,
    * filters combined/pushed) and translate. This is how the DML paths
    * (copy-on-write DELETE/MERGE) reuse the exact planning-time skipping
    * verdicts to bound their touched-dir set.
    */
  def translatedFilters(df: DataFrame): Seq[DirFilter] = {
    import org.apache.spark.sql.catalyst.plans.logical
    val conds = df.queryExecution.optimizedPlan
      .collect { case f: logical.Filter => f.condition }
    dirFiltersFrom(conds)
  }

  /** Catalyst data filters → manifest [[DirFilter]]s. Strictly
    * conservative: only shapes that are provably dir-dismissible translate
    * (attr-vs-literal comparisons, equality, IN-lists, their conjuncts);
    * anything else — casts, functions over the attr, OR trees, null
    * checks — contributes nothing and the row-level predicate still runs
    * on top. Strict bounds widen to inclusive (a dir whose max equals a
    * `<` bound survives; its rows are then filtered). Numeric literal
    * images match the manifest stats' grammar exactly: timestamps are
    * already epoch micros in Catalyst, dates epoch days, decimals widen
    * to double.
    */
  def dirFiltersFrom(exprs: Seq[Expression]): Seq[DirFilter] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    def numOf(l: Literal): Option[Double] = l.value match {
      case null       => None
      case b: Byte    => Some(b.toDouble)
      case s: Short   => Some(s.toDouble)
      case i: Int     => Some(i.toDouble) // IntegerType; DateType epoch days
      case j: Long    => Some(j.toDouble) // LongType; Timestamp[NTZ] micros
      case f: Float   => Some(f.toDouble)
      case d: Double  => Some(d)
      case d: Decimal => Some(d.toDouble)
      case _          => None
    }
    def pointOf(l: Literal): Option[Any] = l.value match {
      case null           => None
      case u: UTF8String  => Some(u.toString) // bloom string domain
      case b: Byte        => Some(Long.box(b.toLong))
      case s: Short       => Some(Long.box(s.toLong))
      case i: Int         => Some(Long.box(i.toLong))
      case j: Long        => Some(Long.box(j))
      case f: Float       => Some(Double.box(f.toDouble)) // min/max tier only
      case d: Double      => Some(Double.box(d))
      case _              => None
    }
    // Comparison bound: numeric literals directly; string literals via the
    // order-preserving prefix image (strict bounds already widen to
    // inclusive for numerics, and prefix truncation widens the same
    // conservative way for strings — see VersionedTable.strImage).
    def boundOf(l: Literal): Option[Double] = numOf(l).orElse(l.value match {
      case u: UTF8String => Some(graft.sources.VersionedTable.strImage(u.toString))
      case _             => None
    })
    def ge(name: String, l: Literal): Seq[DirFilter] =
      boundOf(l).map(v => RangeFilter(name, v, Double.PositiveInfinity)).toSeq
    def le(name: String, l: Literal): Seq[DirFilter] =
      boundOf(l).map(v => RangeFilter(name, Double.NegativeInfinity, v)).toSeq
    exprs.flatMap(conjuncts).flatMap {
      case EqualTo(a: AttributeReference, l: Literal) =>
        pointOf(l).map(PointFilter(a.name, _)).toSeq
      case EqualTo(l: Literal, a: AttributeReference) =>
        pointOf(l).map(PointFilter(a.name, _)).toSeq
      // null-safe equality against a non-null literal is plain equality
      // (pointOf already refuses null literals; `a <=> NULL` is IsNull,
      // which stats cannot answer — conservative)
      case EqualNullSafe(a: AttributeReference, l: Literal) =>
        pointOf(l).map(PointFilter(a.name, _)).toSeq
      case EqualNullSafe(l: Literal, a: AttributeReference) =>
        pointOf(l).map(PointFilter(a.name, _)).toSeq
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => ge(a.name, l)
      case GreaterThan(a: AttributeReference, l: Literal)        => ge(a.name, l)
      case LessThanOrEqual(a: AttributeReference, l: Literal)    => le(a.name, l)
      case LessThan(a: AttributeReference, l: Literal)           => le(a.name, l)
      // literal-first forms mirror: lit <= a  ⇒  a >= lit
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => le(a.name, l)
      case GreaterThan(l: Literal, a: AttributeReference)        => le(a.name, l)
      case LessThanOrEqual(l: Literal, a: AttributeReference)    => ge(a.name, l)
      case LessThan(l: Literal, a: AttributeReference)           => ge(a.name, l)
      case In(a: AttributeReference, list) if list.nonEmpty &&
          list.forall(_.isInstanceOf[Literal]) =>
        val lits = list.map(_.asInstanceOf[Literal])
        val ds = lits.map(numOf)
        if (ds.forall(_.isDefined))
          // numeric IN-list: its hull — dirs wholly outside [min, max] of
          // the listed keys are dismissed; membership still checked row-wise
          Seq(RangeFilter(a.name, ds.flatten.min, ds.flatten.max))
        else {
          // non-numeric IN-list: a disjunction of point probes — each key
          // rides the bloom tier, so a dir holding NONE of the keys skips
          val pts = lits.map(pointOf)
          if (pts.forall(_.isDefined))
            Seq(graft.sources.VersionedTable.AnyOf(
              pts.flatten.map(v => Seq[DirFilter](PointFilter(a.name, v)))))
          else Seq.empty
        }
      case StartsWith(a: AttributeReference, l: Literal) if l.value != null =>
        // LIKE 'p%': every match shares p's bytes, so its image lies in
        // [image(p), image(p) + 256^(6-len) - 1] (len < 6 pads with zeros,
        // the band covers every continuation); prefixes of 6+ bytes pin
        // the image exactly and ties survive as always
        val p = l.value.asInstanceOf[UTF8String].toString
        val lo = graft.sources.VersionedTable.strImage(p)
        val pad = 6 - math.min(p.getBytes(java.nio.charset.StandardCharsets.UTF_8).length, 6)
        Seq(RangeFilter(a.name, lo, lo + math.pow(256.0, pad.toDouble) - 1.0))
      case Or(l, r) =>
        // OR translates iff BOTH sides do (a side with no translation
        // admits everything, making the disjunction vacuous)
        val (lf, rf) = (dirFiltersFrom(Seq(l)), dirFiltersFrom(Seq(r)))
        if (lf.nonEmpty && rf.nonEmpty)
          Seq(graft.sources.VersionedTable.AnyOf(Seq(lf, rf)))
        else Seq.empty
      case _ => Seq.empty
    }
  }
}
