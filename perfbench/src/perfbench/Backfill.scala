package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import graft.asof.HistoricalFeatures
import graft.core.Tables
import graft.features._
import graft.sources.VersionedTable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed batch job, repeated until the deadline: load the tick corpus,
  * compute the Smart-DB feature set, commit each feature table, then build a
  * training set with an as-of retrieval over a seeded entity frame.
  */
final class Backfill(spec: Spec) extends Workload {
  private val input = new File(spec.inputDir, "backfill").getPath
  private val warmupInput = new File(spec.inputDir, "backfill_warmup").getPath
  private val inputBytes = TableProbe.bytes(new File(input, "events.parquet"))
  private val tablesDir = spec.outDir("backfill")
  private val committed = ArrayBuffer.empty[(Int, String, String)]

  /** (name, stats column, compute) in commit order. */
  private val features: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("ohlc", "bucket", Ohlc.compute(_)),
    ("sma", "time", Sma.compute(_)),
    ("ewm", "time", Ewm.compute(_)),
    ("volatility", "bucket", Volatility.compute(_)),
    ("vwap", "bucket", Vwap.compute(_)),
    ("imbalance", "bucket", Imbalance.compute(_)),
    ("spread", "time", Spread.compute(_)),
    ("large_trades", "time", LargeTrades.compute(_)),
    ("regime", "time", Regime.compute(_)))

  val oracleKeys: Seq[String] = Seq("q_ohlc_1m", "q_sma20", "q_ewm12", "q_volatility_1h",
    "q_vwap_5m", "q_imbalance_5m", "q_spread", "q_large_trades", "q_regime",
    "q_historical_features")

  def setup(spark: SparkSession, rep: Int): Unit = {
    Tables.trades(spark, input).count()
    ()
  }

  /** The whole job once over a small corpus of the same shape, so the
    * measured jobs run on compiled plans and a warm JIT.
    */
  override def warmup(spark: SparkSession): Unit = {
    job(spark, warmupInput, new File(spec.runDir, "backfill_warmup").getPath)
    ()
  }

  def run(spark: SparkSession, deadlineNs: Long): Map[String, Any] = {
    val jobs = ArrayBuffer.empty[Map[String, Any]]
    var i = 0
    while (i == 0 || System.nanoTime() < deadlineNs) {
      val root = new File(tablesDir, s"job$i").getPath
      val done = Trace.asRequest(i.toLong)(Trace.span("bench", "backfill")(job(spark, input, root)))
      done("tables").asInstanceOf[Seq[Map[String, Any]]]
        .foreach(t => committed += ((i, t("name").toString, t("root").toString)))
      jobs += done ++ Map("job" -> i)
      i += 1
    }
    Map("jobs" -> jobs.toSeq)
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def job(spark: SparkSession, dir: String, root: String): Map[String, Any] = {
    val t0 = System.nanoTime()
    val trades = Trace.span("core", "trades")(Tables.trades(spark, dir))
    val steps = ArrayBuffer.empty[(String, Double)]
    val tables = ArrayBuffer.empty[Map[String, Any]]
    for ((name, statsCol, compute) <- features) {
      val s0 = System.nanoTime()
      val table = s"$root/$name"
      val before = TableProbe.sizeBefore(table)
      val v = Trace.span("features", name) {
        val df = compute(trades)
        Trace.span("sources", "commit") {
          VersionedTable.commit(df, table, "append",
            statsCols = Seq(statsCol), bloomCols = Seq("symbol"))
        }
      }
      steps += name -> ms(s0)
      TableProbe.recordWrite(table, v, before, inputBytes)
      tables += Map("name" -> name, "root" -> table, "version" -> v)
    }
    val s0 = System.nanoTime()
    val trainingSet = s"$root/training_set"
    Trace.span("asof", "hist") {
      val entities = spark.read.parquet(new File(dir, "entities.parquet").getPath)
      HistoricalFeatures.retrieve(entities, trades).write.parquet(trainingSet)
    }
    steps += "training_set" -> ms(s0)
    Map("wall_ms" -> ms(t0), "steps" -> steps.toMap, "training_set" -> trainingSet,
      "tables" -> tables.toSeq)
  }

  def outputs(spark: SparkSession): Map[String, Any] =
    Map("tables" -> committed.toSeq.map { case (job, name, root) =>
      Map("job" -> job, "name" -> name) ++
        TableProbe.describe(spark, root, 1, new File(root + "_readback").getPath)
    })
}
