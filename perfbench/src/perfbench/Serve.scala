package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.asof.{HistoricalFeatures, PitSnapshot}
import graft.core.Tables
import graft.sources.VersionedTable
import graft.sources.VersionedTable.{PointFilter, RangeFilter}
import org.apache.spark.sql.SparkSession

/** Reads beside writes on one live versioned table. A closed-loop reader (one
  * client) issues PIT snapshots, and every k-th request a historical
  * retrieval; an open-loop writer thread appends tick slices and applies
  * corrections on a fixed schedule. Each read pins the table version the
  * schedule gives it, waiting (untimed) until the writer has published it,
  * so every run of a seed reads the same versions and the oracle can
  * recompute exactly what each read saw.
  */
final class Serve(spec: Spec) extends Workload {
  private val input = new File(spec.inputDir, "serve")
  private val initialSlices = spec.int("serve.initial_slices")
  private val writerPeriodMs = spec.long("serve.writer_period_ms")

  private def lines(name: String): Seq[Array[String]] =
    Files.readAllLines(new File(input, name).toPath, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t"))

  /** (kind, version, symbol, as-of, entity file) in schedule order. */
  private val requests = lines("requests.tsv")
  /** (kind, input dir) of each writer operation in schedule order. */
  private val writerOps = lines("writer_ops.tsv")

  private var root: String = _
  /** Writer ops finished, failed ones included; op j publishes version
    * initialSlices + j + 1.
    */
  private var opsDone = 0
  private val progress = new Object

  val oracleKeys: Seq[String] = Seq("q_pit_snapshot", "q_historical_features")

  private def slice(k: Int): String = new File(input, f"slices/s$k%03d").getPath

  private def commitSlice(spark: SparkSession, dir: String): Int = {
    val ticks = Trace.span("core", "trades")(Tables.trades(spark, dir))
    Trace.span("sources", "commit") {
      VersionedTable.commit(ticks, root, "append",
        statsCols = Seq("time"), bloomCols = Seq("symbol"))
    }
  }

  def setup(spark: SparkSession, rep: Int): Unit = {
    root = new File(spec.runDir, s"serve/rep$rep/table").getPath
    (0 until initialSlices).foreach(k => commitSlice(spark, slice(k)))
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def error(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"

  /** Request i of the schedule, served at version v. */
  private def read(spark: SparkSession, i: Int, v: Int): Map[String, Any] = {
    val Array(planned, _, symbol, asOfText, entities) = requests(i)
    val kind = if (planned == "hist") "hist" else "pit"
    lazy val asOf = Timestamp.valueOf(asOfText)
    val base = Map("req" -> i, "start_ms" -> System.currentTimeMillis(), "kind" -> kind,
      "symbol" -> symbol, "as_of" -> asOfText, "entities" -> entities, "version" -> v)
    val t0 = System.nanoTime()
    val outcome = Trace.asRequest(i.toLong) {
      try {
        if (kind == "pit") {
          val df = Trace.span("asof", "pit_build")(
            PitSnapshot.snapshotVersioned(spark, root, symbol, asOf, Some(v)))
          val built = ms(t0)
          val rows = Trace.span("asof", "pit_exec")(df.collect())
          Map("build_ms" -> built, "latency_ms" -> ms(t0), "rows" -> rows.toSeq)
        } else {
          val frame = spark.read.parquet(entities)
          val rows = Trace.span("asof", "hist") {
            val ticks = Trace.span("sources", "read")(VersionedTable.read(spark, root, Some(v)))
            HistoricalFeatures.retrieve(frame, ticks).collect()
          }
          Map("latency_ms" -> ms(t0), "rows" -> rows.toSeq)
        }
      } catch { case e: Exception => Map("latency_ms" -> ms(t0), "error" -> error(e)) }
    }
    if (kind == "pit") recordPruning(symbol, asOf, v)
    base ++ outcome
  }

  /** Two PIT requests and one retrieval of the schedule, untimed and
    * unchecked, on the set-up version, so the measured reads run on a warm
    * JIT.
    */
  override def warmup(spark: SparkSession): Unit =
    ((0 until 2) ++ requests.indices.filter(i => requests(i)(0) == "hist").take(1))
      .foreach(read(spark, _, initialSlices))

  /** Writer op j: append the next slice, or merge a batch of corrections. */
  private def write(spark: SparkSession, j: Int, due: Long): Map[String, Any] = {
    val Array(kind, dir) = writerOps(j)
    val began = System.currentTimeMillis()
    val before = TableProbe.sizeBefore(root)
    val outcome = try {
      val v = Trace.asRequest(-(j + 1).toLong) {
        if (kind == "commit") commitSlice(spark, dir)
        else Trace.span("sources", "merge") {
          VersionedTable.merge(spark, root, Tables.trades(spark, dir), "trade_id")
        }
      }
      TableProbe.recordWrite(root, v, before, TableProbe.bytes(new File(dir, "events.parquet")))
      Map("version" -> v)
    } catch { case e: Exception => Map("error" -> error(e)) }
    Map("op" -> j, "kind" -> kind, "due_ms" -> due, "start_ms" -> began,
      "end_ms" -> System.currentTimeMillis()) ++ outcome
  }

  /** The whole schedule: every writer op and every request, however long
    * they take, so each run of a seed does the same operations.
    */
  def run(spark: SparkSession, deadlineNs: Long): Map[String, Any] = {
    val writes = new ConcurrentLinkedQueue[Map[String, Any]]()
    val startMs = System.currentTimeMillis()
    opsDone = 0
    val writer = new Thread(() => {
      // open loop: op j is due at a fixed time
      for (j <- writerOps.indices) {
        val due = startMs + (j + 1) * writerPeriodMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        writes.add(write(spark, j, due))
        progress.synchronized { opsDone += 1; progress.notifyAll() }
      }
    }, "perfbench-writer")
    writer.start()

    val reads = requests.indices.map { i =>
      val v = requests(i)(1).toInt
      progress.synchronized { while (opsDone < v - initialSlices) progress.wait() }
      read(spark, i, v)
    }
    writer.join()
    Map("reads" -> reads, "writes" -> writes.asScala.toSeq.sortBy(_("op").asInstanceOf[Int]),
      "initial_slices" -> initialSlices)
  }

  /** Traced runs: how many of the snapshot's dirs the PIT filters skip, by
    * replaying the same symbol and time filters through the public
    * admission API.
    */
  private def recordPruning(symbol: String, asOf: Timestamp, v: Int): Unit =
    if (Trace.isOn) Trace.overhead {
      val snap = VersionedTable.snapshot(root, v)
      val micros = Math.floorDiv(asOf.getTime, 1000L) * 1000000L + asOf.getNanos / 1000L
      val kept = VersionedTable.admittedDirs(root, snap,
        Seq(PointFilter("symbol", symbol), RangeFilter("time", Double.NegativeInfinity, micros.toDouble)))
      Trace.add("sources.snapshot_dirs", snap.dataDirs.size.toDouble)
      Trace.add("sources.pruned_dirs", (snap.dataDirs.size - kept.size).toDouble)
    }

  def outputs(spark: SparkSession): Map[String, Any] = {
    val v = VersionedTable.latestVersion(root).get
    Map("table" -> TableProbe.describe(spark, root, v, spec.outDir("check/table")),
      "table_versions" -> v)
  }
}
