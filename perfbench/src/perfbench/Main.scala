package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Run parameters, written by run.py as a java.util.Properties file. */
final class Spec(props: java.util.Properties) {
  def str(k: String): String =
    Option(props.getProperty(k)).getOrElse(throw new IllegalArgumentException(s"missing spec key $k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def double(k: String): Double = str(k).toDouble
  def bool(k: String): Boolean = str(k) == "1" || str(k) == "true"

  def runDir: String = str("run_dir")
  def inputDir: String = str("input_dir")
  def outDir(name: String): String = {
    val d = new File(runDir, name)
    d.mkdirs()
    d.getPath
  }
}

object Spec {
  def load(path: String): Spec = {
    val p = new java.util.Properties()
    val in = Files.newBufferedReader(new File(path).toPath, StandardCharsets.UTF_8)
    try p.load(in) finally in.close()
    new Spec(p)
  }
}

/** One benchmark workload. `setup` runs once per set-up repetition on a
  * fresh session (the previous repetition is torn down first); `warmup` then
  * runs once, untimed; `run` measures until the deadline; `outputs` then
  * writes what the oracle check needs.
  */
trait Workload {
  def setup(spark: SparkSession, rep: Int): Unit
  def teardown(): Unit = ()
  /** Untimed work after set-up so the measured phase starts warm. */
  def warmup(spark: SparkSession): Unit = ()
  def run(spark: SparkSession, deadlineNs: Long): Map[String, Any]
  def outputs(spark: SparkSession): Map[String, Any]
  /** Oracle SQL texts the check needs, by registry key. */
  def oracleKeys: Seq[String]
  def onProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
}

object Main {

  def session(spec: Spec): SparkSession = {
    val cores = spec.int("cores")
    val spark = graft.core.EngineSession.defaults(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", spec.outDir("spark-local"))
      .config("spark.sql.warehouse.dir", spec.outDir("warehouse"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val spec = Spec.load(args(0))
    val workload: Workload = spec.str("workload") match {
      case "backfill" => new Backfill(spec)
      case "stream"   => new Stream(spec)
      case "serve"    => new Serve(spec)
      case "registry" => new Registry(spec)
      case other      => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 1 to spec.int("setup_reps")) {
      if (spark != null) {
        workload.teardown()
        spark.stop()
      }
      val t0 = System.nanoTime()
      spark = session(spec)
      workload.setup(spark, rep)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    workload.warmup(spark)
    if (spec.bool("trace")) Trace.start(spark, workload.onProgress)
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val samples = workload.run(spark, t0 + (spec.double("seconds") * 1e9).toLong)
    val measuredS = (System.nanoTime() - t0) / 1e9
    val gc = gcMs() - gc0
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val traced = if (Trace.isOn) Trace.result() else Map.empty[String, Any]
    val outputs = workload.outputs(spark)
    workload.teardown()
    val oracles = graft.SparkEntry.oracleSql
    val result = Map(
      "setup_s" -> setupS.toSeq,
      "measured_s" -> measuredS,
      "samples" -> samples,
      "outputs" -> outputs,
      "oracles" -> workload.oracleKeys.map(k => k -> oracles(k)).toMap,
      "trace" -> traced,
      "jvm" -> Map("heap_peak_mb" -> heapPeakMb(), "gc_ms" -> gc))
    Files.write(new File(spec.runDir, "result.json").toPath,
      Json.render(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
