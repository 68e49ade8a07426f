package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import graft.core.Tables
import graft.registry._
import org.apache.spark.sql.SparkSession

/** One pass, in a fixed order, over a fixed sample of the registered queries
  * (never the streaming replays or refresh pipelines) on the corpus their
  * oracle SQL is pinned to: the first query by name of each registry module,
  * plus the nine Smart-DB feature kernels. Each query is timed from plan build
  * to the end of writing its output as parquet, the file the oracle check
  * then reads.
  */
final class Registry(spec: Spec) extends Workload {
  private val corpus = spec.str("registry.corpus")

  /** Registry module of each query, in pass order. */
  private val groups: Seq[(String, Set[String])] = Seq(
    "core" -> CoreQueries.queries.keySet,
    "feature" -> FeatureQueries.queries.keySet,
    "ext" -> ExtQueries.queries.keySet,
    "quality" -> QualityQueries.queries.keySet,
    "stream" -> StreamQueries.queries.keySet,
    "sqlcatalog" -> SqlCatalogQueries.queries.keySet)

  private val kernels = Set("q_ohlc_1m", "q_sma20", "q_ewm12", "q_volatility_1h",
    "q_vwap_5m", "q_imbalance_5m", "q_spread", "q_large_trades", "q_regime")

  private val pass: Seq[(String, String)] = {
    val all = SparkEntry.queries.keySet
      .filterNot(k => k.startsWith("q_stream_") || k.endsWith("_refresh"))
    groups.flatMap { case (g, keys) =>
      keys.intersect(all).toSeq.sorted.zipWithIndex
        .collect { case (k, i) if i == 0 || kernels(k) => g -> k }
    }
  }

  lazy val oracleKeys: Seq[String] = pass.map(_._2).filter(SparkEntry.oracleSql.contains)

  def setup(spark: SparkSession, rep: Int): Unit = {
    Tables.events(spark, corpus).count()
    Tables.lineitem(spark, corpus).count()
    ()
  }

  private val outputsDir = spec.outDir("check/registry")
  private val results = ArrayBuffer.empty[Map[String, Any]]

  def run(spark: SparkSession, deadlineNs: Long): Map[String, Any] = {
    for (((group, name), i) <- pass.zipWithIndex) {
      val out = new File(outputsDir, name).getPath
      val t0 = System.nanoTime()
      val outcome = Trace.asRequest(i.toLong) {
        try {
          Trace.span("registry", group) {
            SparkEntry.queries(name)(spark, corpus).write.mode("overwrite").parquet(out)
          }
          Map("wall_ms" -> (System.nanoTime() - t0) / 1e6, "output" -> out)
        } catch {
          case e: Exception =>
            Map("wall_ms" -> (System.nanoTime() - t0) / 1e6,
              "error" -> s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        }
      }
      results += Map("query" -> name, "group" -> group) ++ outcome
    }
    Map("queries" -> results.toSeq, "corpus" -> corpus)
  }

  def outputs(spark: SparkSession): Map[String, Any] = Map.empty
}
