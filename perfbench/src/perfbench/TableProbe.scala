package perfbench

import java.io.File

import graft.sources.VersionedTable
import org.apache.spark.sql.SparkSession

/** Reads a versioned table's layout through the engine's public snapshot API:
  * what the oracle check must read, and (traced runs) what a commit wrote.
  */
object TableProbe {

  /** Files under this size count as small in `sources.small_file_ratio`. */
  val SmallFileBytes: Long = 64L * 1024

  /** The parquet dirs holding version `v`. A snapshot with deletion vectors
    * or column mapping cannot be read as plain parquet, so it is read back
    * through the engine into `fallbackDir` instead.
    */
  def describe(spark: SparkSession, root: String, v: Int, fallbackDir: String): Map[String, Any] = {
    val snap = VersionedTable.snapshot(root, v)
    val anchor = VersionedTable.snapshotSchema(spark, root, snap)
    val dirs =
      if (snap.dvs.isEmpty && !VersionedTable.isMapped(anchor))
        snap.dataDirs.map(d => new File(root, d).getPath)
      else {
        VersionedTable.read(spark, root, Some(v)).write.mode("overwrite").parquet(fallbackDir)
        Seq(fallbackDir)
      }
    Map("root" -> root, "version" -> v, "dirs" -> dirs)
  }

  def bytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).toSeq.flatten.map(bytes).sum

  private def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Traced runs: account one commit or merge that produced version `v`. */
  def recordWrite(root: String, v: Int, bytesBefore: Long, inputBytes: Long): Unit =
    if (Trace.isOn) Trace.overhead {
      val snap = VersionedTable.snapshot(root, v)
      val parentDirs =
        if (v > 1) VersionedTable.snapshot(root, v - 1).dataDirs.toSet else Set.empty[String]
      val files = snap.dataDirs.filterNot(parentDirs).flatMap(d => dataFiles(new File(root, d)))
      Trace.add("sources.writes", 1)
      Trace.add("sources.commit_files", files.size.toDouble)
      Trace.add("sources.small_files", files.count(_.length < SmallFileBytes).toDouble)
      Trace.add("sources.bytes_written", (bytes(new File(root)) - bytesBefore).toDouble)
      Trace.add("sources.input_bytes", inputBytes.toDouble)
    }

  /** Traced runs: storage size before a write, for [[recordWrite]]. */
  def sizeBefore(root: String): Long =
    if (Trace.isOn) Trace.overhead(bytes(new File(root))) else 0L
}
