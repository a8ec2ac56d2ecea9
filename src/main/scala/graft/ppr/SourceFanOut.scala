package graft.ppr

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.graph.Csr

/** The broadcast-CSR fan-out behind every single-source batch API
  * ([[PowerIteration.batch]], [[ForwardPush.batch]], [[Fora.batch]],
  * [[Fora.topkBatch]]): sources are spread over `slices` tasks (default:
  * one per source up to the default parallelism), and each task runs
  * `kernel(csr, sourceDense)` — a dense score vector — for its sources
  * over the broadcast CSR. A source absent from the CSR yields no rows.
  * Returns `(src LONG, node_id LONG, score DOUBLE)` with zero scores
  * omitted; no shuffle. The public `Csr` entry points broadcast once per
  * call; `PprEngine` passes the one broadcast it keeps.
  */
private[ppr] object SourceFanOut {
  def apply(
      spark: SparkSession,
      csr: Broadcast[Csr],
      sources: Seq[Long],
      slices: Int)(kernel: (Csr, Int) => Array[Double]): DataFrame = {
    import spark.implicits._
    rows(spark, csr, sources, slices)(kernel).toDF("src", "node_id", "score")
  }

  def rows(
      spark: SparkSession,
      csr: Broadcast[Csr],
      sources: Seq[Long],
      slices: Int)(kernel: (Csr, Int) => Array[Double]): RDD[(Long, Long, Double)] = {
    val nSlices = if (slices > 0) slices
      else math.min(math.max(1, sources.length), spark.sparkContext.defaultParallelism)
    spark.sparkContext
      .parallelize(sources, nSlices)
      .flatMap { s =>
        val g = csr.value
        val sd = g.denseOf(s)
        if (sd < 0) Iterator.empty
        else kernel(g, sd).iterator.zipWithIndex.collect {
          case (p, v) if p != 0.0 => (s, g.originalOf(v), p)
        }
      }
  }
}
