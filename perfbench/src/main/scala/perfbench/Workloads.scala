package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ops.TextOps

/** One call of a workload's pass: a public entry point of the program,
  * the per-layer metric its wall time reports under, and its run.
  */
final case class Call(name: String, metric: String, run: (SparkSession, String) => DataFrame) {
  def layer: String = metric.takeWhile(_ != '.')
}

object Workloads {
  private def q(name: String, metric: String): Call =
    Call(name, metric, SparkEntry.queries(name))

  /** Direct connected-components call on a generated pair graph. */
  private def cc(table: String, metric: String): Call =
    Call(table, metric, (s, d) => TextOps.clustersOf(s.read.parquet(s"$d/$table.parquet")))

  private def feature(name: String): Call = q(name, s"features.${name}_s")
  private def stream(name: String): Call = q(name, s"stream.${name}_s")

  val calls: Map[String, Seq[Call]] = Map(
    "ingest_features" -> Seq(
      q("a12_sink_dwd", "ingest.sink_s"),
      stream("s1_stream_pipeline"),
      feature("b15_salted_agg")),
    "corpus_dedup" -> Seq(
      q("c15_dedup_clusters", "cc.dedup_s"),
      cc("cc_graph", "cc.graph_s"),
      q("x_semantic_dedup", "vector.semantic_dedup_s")))

  /** The table whose reader is timed alone in traced runs. */
  val scanned: Map[String, String] = Map(
    "ingest_features" -> "events", "corpus_dedup" -> "documents")
}
