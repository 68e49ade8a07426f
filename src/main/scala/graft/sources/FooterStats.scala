package graft.sources

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types._

/** Data-dir stats from parquet FOOTERS instead of a data re-scan — the
  * fast path of every dir measurement ([[VersionedTableOps]]'
  * `measureDirs`: commits, DML rewrites, OPTIMIZE, ANALYZE).
  *
  * A measured dir's manifest entry needs its row count and each indexed
  * column's per-file min/max hull. The files already carry exactly those
  * numbers in their row-group metadata: reading footers is O(files) small
  * metadata reads, where the scan path pays a full Spark job over the dir
  * (the bench's `vt.commit.stats` phase — the single largest attributable
  * kernel after the data write itself). This is the optimization guide's
  * "remove passes" (§1.2); it is also exactly where Delta gets its
  * per-file stats (collected at write time, never by re-scanning).
  *
  * Exactness contract: a footer bound is used ONLY when it provably equals
  * what the scan-path aggregate would have computed under the manifest
  * grammar (micros for timestamps, [[VersionedTable.strImage]] for strings,
  * `cast(double)` otherwise):
  *   - numeric/timestamp footer min/max are exact by the parquet spec;
  *   - string footer min/max order by unsigned UTF-8 bytes — the same
  *     ordering as Spark's `UTF8String` comparisons — and even a writer
  *     that truncates binary stats keeps them conservative (min is a
  *     prefix, max has a byte incremented), which the 6-byte prefix image
  *     preserves;
  *   - a chunk whose stats prove all-null contributes nothing, matching
  *     the scan path's null-ignoring min/max.
  * Any case that cannot be proven exact — INT96 timestamps (no ordered
  * stats), NaN hulls, dropped/oversized chunk stats, unsupported types —
  * returns None and the caller runs the original scan, so this is a pure
  * fast path, never a semantics change.
  */
private[sources] object FooterStats {

  /** One column's hull in one file, already in manifest-grammar doubles. */
  final case class FileStat(file: String, col: String, min: Double, max: Double)

  /** Footer evidence is insufficient for an exact answer — fall back. */
  private final class Unsupported extends RuntimeException(null, null, false, false)

  /** Total rows + per-(file, statsCol) hulls for the part files of one data
    * dir, or None when any required bound cannot be derived exactly.
    * `physFor`/`typeFor` map LOGICAL stats columns to their on-disk
    * (physical) parquet names and logical Spark types.
    */
  def read(hadoopConf: Configuration, dir: File, fileNames: Seq[String],
      statsCols: Seq[String], physFor: Map[String, String],
      typeFor: Map[String, DataType]): Option[(Long, Seq[FileStat])] =
    try {
      // Footers are read CONCURRENTLY on a bounded driver pool: one open is
      // ~1 ms of seek+parse, so a 32-file micro-batch commit read serially
      // would cost more than the scan job it replaces — and a fat commit
      // (thousands of files at 100 TB) needs the parallelism outright.
      val perFile = parMap(fileNames) { name =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(new File(dir, name).toURI), hadoopConf))
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          val stats = statsCols.flatMap { c =>
            val phys = physFor.getOrElse(c, c)
            val dt = typeFor.getOrElse(c, throw new Unsupported)
            val bounds = blocks.filter(_.getRowCount > 0).flatMap { b =>
              val cc = b.getColumns.asScala.find { m =>
                val p = m.getPath.toArray
                p.length == 1 && p(0) == phys
              }.getOrElse(throw new Unsupported)
              chunkBounds(cc, b.getRowCount, dt)
            }
            if (bounds.isEmpty) None
            else Some(FileStat(name, c, bounds.map(_._1).min, bounds.map(_._2).max))
          }
          (blocks.map(_.getRowCount).sum, stats)
        } finally reader.close()
      }
      Some((perFile.map(_._1).sum, perFile.flatMap(_._2)))
    } catch {
      case _: Unsupported => None
      case scala.util.control.NonFatal(_) => None
    }

  /** Map `f` over `xs` on a bounded worker pool, preserving order; worker
    * exceptions rethrow on the caller (unwrapped, so [[Unsupported]] still
    * means "fall back"). Sequential for tiny inputs — no pool churn.
    */
  private def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(xs.length, 16))
      try {
        val futures = xs.map(x => pool.submit(
          new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
        futures.map { fut =>
          try fut.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }
      } finally pool.shutdown()
    }

  /** One chunk's (min, max) under the manifest grammar; None = provably
    * all-null; throws [[Unsupported]] when not provably exact.
    */
  private def chunkBounds(cc: ColumnChunkMetaData, rowCount: Long,
      dt: DataType): Option[(Double, Double)] = {
    val st: Statistics[_] = cc.getStatistics
    if (st == null) throw new Unsupported
    if (!st.hasNonNullValue) {
      // either a genuinely all-null chunk (contributes nothing, like the
      // scan path's null-ignoring min/max) or stats were dropped — only
      // the former is provable
      if (st.isNumNullsSet && st.getNumNulls == rowCount) None
      else throw new Unsupported
    } else {
      val pt = cc.getPrimitiveType
      val ann = pt.getLogicalTypeAnnotation
      def longs: (Long, Long) =
        (st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
          st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
      (dt, pt.getPrimitiveTypeName) match {
        case (TimestampType, PrimitiveTypeName.INT64) => ann match {
          // UTC-adjusted micros is what Spark's TIMESTAMP_MICROS writes and
          // exactly the probe the scan path uses (unix_micros); INT96 has
          // no ordered stats, millis/nanos would need a rounding proof, and
          // an NTZ-annotated (isAdjustedToUTC=false) column read under a
          // TimestampType schema could diverge from unix_micros in a
          // non-UTC session — all fall back
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS &&
                t.isAdjustedToUTC =>
            val (mn, mx) = longs
            Some((mn.toDouble, mx.toDouble))
          case _ => throw new Unsupported
        }
        case (StringType, PrimitiveTypeName.BINARY)
            if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
          def img(b: Binary): Double = VersionedTable.strImage(
            new String(b.getBytes, java.nio.charset.StandardCharsets.UTF_8))
          Some((img(st.genericGetMin.asInstanceOf[Binary]),
            img(st.genericGetMax.asInstanceOf[Binary])))
        case (DoubleType, PrimitiveTypeName.DOUBLE) =>
          val mn = st.genericGetMin.asInstanceOf[java.lang.Double].doubleValue()
          val mx = st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue()
          if (mn.isNaN || mx.isNaN) throw new Unsupported
          Some((mn, mx))
        case (FloatType, PrimitiveTypeName.FLOAT) =>
          val mn = st.genericGetMin.asInstanceOf[java.lang.Float].floatValue()
          val mx = st.genericGetMax.asInstanceOf[java.lang.Float].floatValue()
          if (mn.isNaN || mx.isNaN) throw new Unsupported
          Some((mn.toDouble, mx.toDouble))
        case (LongType, PrimitiveTypeName.INT64) if plainInt(ann, 64) =>
          val (mn, mx) = longs
          Some((mn.toDouble, mx.toDouble))
        case (IntegerType, PrimitiveTypeName.INT32) if plainInt(ann, 32) =>
          ints(st)
        case (ShortType, PrimitiveTypeName.INT32) if plainInt(ann, 16) =>
          ints(st)
        case (ByteType, PrimitiveTypeName.INT32) if plainInt(ann, 8) =>
          ints(st)
        case _ => throw new Unsupported
      }
    }
  }

  private def ints(st: Statistics[_]): Option[(Double, Double)] =
    Some((st.genericGetMin.asInstanceOf[java.lang.Integer].intValue().toDouble,
      st.genericGetMax.asInstanceOf[java.lang.Integer].intValue().toDouble))

  /** A plain signed integer annotation (or none) of at most `width` bits —
    * anything else (decimal, unsigned) does not match the scan path's
    * `cast(double)` semantics byte-for-byte, so it falls back.
    */
  private def plainInt(ann: LogicalTypeAnnotation, width: Int): Boolean =
    ann match {
      case null => true
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
        i.isSigned && i.getBitWidth <= width
      case _ => false
    }
}
