package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.sources.StreamSources
import graft.streaming.StreamingFeatures
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** The production two-query topology over a landing directory, both
  * triggers divided by the same time scale. An open-loop generator thread
  * renames pre-generated tick files into the landing directory on a fixed
  * schedule; then a backlog lands at once and drains.
  */
final class Stream(spec: Spec) extends Workload {
  private val input = new File(spec.inputDir, "stream")
  private val periodMs = spec.long("stream.period_ms")
  private val openFiles = spec.int("stream.open_files")
  private val backlogFiles = spec.int("stream.backlog_files")
  /** Ticks in the seed file, in the seed and open-loop files, in all files. */
  private val seedRows = spec.long("stream.seed_rows")
  private val openRows = spec.long("stream.open_rows")
  private val allRows = spec.long("stream.all_rows")
  private val rawTrigger = Trigger.ProcessingTime(spec.long("stream.raw_trigger_ms"))
  private val barsTrigger = Trigger.ProcessingTime(spec.long("stream.bars_trigger_ms"))

  private var dir: File = _
  private var landing: File = _
  private var raw: StreamingQuery = _
  private var bars: StreamingQuery = _
  /** Traced runs: the file key of every `part_date=` dir of the bars table. */
  private var barsDirs = Map.empty[String, AnyRef]

  val oracleKeys: Seq[String] = Seq("q_ohlc_1m")

  def setup(spark: SparkSession, rep: Int): Unit = {
    dir = new File(spec.runDir, s"stream/rep$rep")
    landing = new File(dir, "landing")
    landing.mkdirs()
    Files.copy(new File(input, "seed.parquet").toPath, new File(landing, "seed.parquet").toPath)
    val source = Trace.span("core", "trades")(
      StreamSources.tradeFileStream(spark, landing.getPath))
    val (rawW, barsW) = StreamingFeatures.productionQueries(source,
      new File(dir, "raw").getPath, new File(dir, "bars").getPath, new File(dir, "ckpt").getPath)
    raw = rawW.trigger(rawTrigger).start()
    bars = barsW.trigger(barsTrigger).start()
    // set-up ends when both queries have committed the seed file's ticks
    awaitRows(raw, seedRows)
    awaitRows(bars, seedRows)
  }

  /** Wait until q's committed micro-batches have read `rows` ticks in all.
    * Unlike processAllAvailable, this does not also wait for the no-data
    * batch a watermark advance schedules and the empty trigger after it.
    */
  private def awaitRows(q: StreamingQuery, rows: Long): Unit =
    while (q.recentProgress.map(_.numInputRows).sum < rows) {
      q.exception.foreach(e => throw e)
      Thread.sleep(5)
    }

  override def teardown(): Unit =
    Seq(raw, bars).filter(q => q != null && q.isActive).foreach(_.stop())

  private def land(name: String): Long = {
    Files.move(new File(input, name).toPath, new File(landing, name).toPath,
      StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }

  def run(spark: SparkSession, deadlineNs: Long): Map[String, Any] = {
    val landed = new ConcurrentLinkedQueue[Map[String, Any]]()
    val start = System.currentTimeMillis() + periodMs
    val generator = new Thread(() => {
      for (j <- 0 until openFiles) {
        val due = start + j * periodMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val name = f"open$j%05d.parquet"
        val at = land(name)
        landed.add(Map("file" -> name, "phase" -> "open", "due_ms" -> due, "landed_ms" -> at))
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    Trace.span("streaming", "drain_open") {
      awaitRows(raw, openRows)
      awaitRows(bars, openRows)
    }
    val due = System.currentTimeMillis()
    for (j <- 0 until backlogFiles) {
      val name = f"backlog$j%05d.parquet"
      val at = land(name)
      landed.add(Map("file" -> name, "phase" -> "backlog", "due_ms" -> due, "landed_ms" -> at))
    }
    Trace.span("streaming", "drain_backlog") {
      awaitRows(bars, allRows)
      awaitRows(raw, allRows)
    }
    Map(
      "landed" -> landed.asScala.toSeq,
      "bars_progress" -> bars.recentProgress.toSeq.map(p => RawJson(p.json)),
      "raw_progress" -> raw.recentProgress.toSeq.map(p => RawJson(p.json)),
      "bars_source_log" -> new File(dir, "ckpt/bars/sources/0").getPath)
  }

  override def onProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (bars != null && e.progress.id == bars.id) {
      val now = Option(new File(dir, "bars").listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("part_date="))
        .map(d => d.getName -> Files.readAttributes(d.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
        .toMap
      Trace.add("streaming.keyed_dirs_rewritten",
        now.count { case (k, key) => !barsDirs.get(k).contains(key) }.toDouble)
      barsDirs = now
    }

  def outputs(spark: SparkSession): Map[String, Any] = {
    // let the trailing no-data batches finish, then stop, so the tables are
    // read at rest
    raw.processAllAvailable()
    bars.processAllAvailable()
    teardown()
    val barsOut = spec.outDir("check/bars")
    val rawOut = spec.outDir("check/raw")
    StreamingFeatures.readKeyedTable(spark, new File(dir, "bars").getPath)
      .write.mode("overwrite").parquet(barsOut)
    spark.read.parquet(new File(dir, "raw").getPath).write.mode("overwrite").parquet(rawOut)
    Map("bars" -> barsOut, "raw" -> rawOut, "landing" -> landing.getPath)
  }
}
