package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{Csr, GraphOps}
import graft.ppr._

/** The engine's public contract — the Spark re-expression of the
  * reference's three interfaces (SURVEY §2.10 H6):
  *   `Whole_Graph_Util_Interface` → [[SsPpr]],
  *   `Topk_Util_Interface`       → [[TopkPpr]],
  *   `Preprocessing_Interface`   → [[PrecomputedPpr]].
  * Results are DataFrames, not HashMaps: (node_id LONG, score DOUBLE),
  * absent row ⇒ 0.0 (D4).
  */
trait SsPpr {
  /** Full PPR vector π(source, ·). */
  def wholeGraphPpr(source: Long): DataFrame
}

trait TopkPpr {
  /** Tie-inclusive top-k by score (T2: may exceed k rows on ties). */
  def topkPpr(source: Long, k: Int): DataFrame
}

trait PrecomputedPpr {
  def preprocess(dir: String): Unit
  def readPpr(dir: String, source: Long): DataFrame
  def prepSize(dir: String): Long
  def deletePrep(dir: String): Boolean
}

/** Facade over all algorithm families (the reference's `newAlgoObj`
  * factory, `Gen_Util.java:66-97`). Holds the graph once (edges DF +
  * broadcastable CSR snapshot) like the reference holds its HeavyGraph.
  */
final class PprEngine(
    val spark: SparkSession,
    edges: DataFrame,
    val conf: PprConf = PprConf()) {

  val edgesDf: DataFrame = edges.persist()
  lazy val csr: Csr = GraphOps.buildCsr(edgesDf)
  private lazy val rcsr: Csr = Base.reversedCsr(edgesDf)
  private lazy val fwdDeg: Array[Int] = Base.forwardDegrees(csr, rcsr)

  /** `(node_id, score)` of a one-source batch result. */
  private def vectorOf(batch: DataFrame): DataFrame =
    batch.select(col("node_id"), col("score"))

  /** Tie-inclusive top-k (T2) of `vector`, evaluated once: `k` is checked
    * first, then the vector is collected, cut at [[Fora.kthLargest]] (the
    * FORA top-k rule) and returned as a local DataFrame, so the caller's
    * action runs no second job.
    */
  private def topkOf(vector: => DataFrame, k: Int): DataFrame = {
    requireK(k)
    val v = vector
    val rows = v.collect()
    val kth = Fora.kthLargest(rows.map(_.getDouble(1)), k)
    spark.createDataFrame(
      java.util.Arrays.asList(rows.filter(_.getDouble(1) >= kth): _*),
      v.schema)
  }

  private def requireK(k: Int): Unit =
    require(k >= 1, s"k must be >= 1, got $k")

  private def requirePositive(name: String, v: Double): Unit =
    require(v > 0, s"$name must be > 0, got $v")

  /** K1 — exact oracle (100 iterations). */
  object power extends SsPpr with TopkPpr {
    def wholeGraphPpr(source: Long): DataFrame = vectorOf(batch(Seq(source)))
    def topkPpr(source: Long, k: Int): DataFrame =
      topkOf(wholeGraphPpr(source), k)
    /** Multi-source variant: `(src, node_id, score)`. */
    def batch(sources: Seq[Long]): DataFrame =
      PowerIteration.batch(spark, csr, sources, conf.alpha, 100)
  }

  /** Preprocessing lifecycle shared by the non-BASE algo families
    * (reference re-implements it per algo, `Forward_Push.java:320-444`,
    * `Monte_Carlo.java:212-335`, `Neo4j_Method.java:157-304`): compute
    * every node's vector with the family's batch kernel, store via
    * [[PprStore]], answer later queries by partition-pruned read.
    */
  trait PrepVia extends PrecomputedPpr {
    /** `(src, node_id, score)` for all sources — the family's batch path. */
    protected def batchAll(sources: Seq[Long]): DataFrame
    def preprocess(dir: String): Unit =
      PprStore.write(batchAll(csr.ids.toSeq), dir)
    def readPpr(dir: String, source: Long): DataFrame =
      PprStore.read(spark, dir, source)
    def prepSize(dir: String): Long = PprStore.size(spark, dir)
    def deletePrep(dir: String): Boolean = PprStore.delete(spark, dir)
  }

  /** K2 — forward push at rmax. */
  final class forwardPush(rmax: Double) extends SsPpr with TopkPpr with PrepVia {
    requirePositive("rmax", rmax)
    def wholeGraphPpr(source: Long): DataFrame = vectorOf(batchAll(Seq(source)))
    def topkPpr(source: Long, k: Int): DataFrame =
      topkOf(wholeGraphPpr(source), k)
    protected def batchAll(sources: Seq[Long]): DataFrame =
      ForwardPush.batch(spark, csr, sources, conf.alpha, rmax)
  }

  /** K5 — Monte-Carlo at epsilon. */
  final class monteCarlo(epsilon: Double) extends SsPpr with TopkPpr with PrepVia {
    requirePositive("epsilon", epsilon)
    def wholeGraphPpr(source: Long): DataFrame = vectorOf(batchAll(Seq(source)))
    def topkPpr(source: Long, k: Int): DataFrame =
      topkOf(wholeGraphPpr(source), k)
    protected def batchAll(sources: Seq[Long]): DataFrame =
      MonteCarlo.sspprBatch(spark, csr, sources, conf.alpha, epsilon,
        seed = conf.seed)
  }

  /** K6/K7 — FORA. A top-k call with `k >= n` returns the whole vector. */
  final class fora(epsilon: Double) extends SsPpr with TopkPpr {
    requirePositive("epsilon", epsilon)
    private def fconf =
      Fora.Conf(conf.alpha, epsilon, conf.pfail, conf.delta, conf.seed)
    def wholeGraphPpr(source: Long): DataFrame =
      vectorOf(Fora.batch(spark, csr, Seq(source), fconf))
    def topkPpr(source: Long, k: Int): DataFrame = {
      requireK(k)
      vectorOf(Fora.topkBatch(spark, csr, Seq(source), k, fconf))
    }
  }

  /** K8 — backward search: the PPR COLUMN π(·, target). */
  final class backward(rmax: Double) {
    requirePositive("rmax", rmax)
    def pprColumn(target: Long): DataFrame =
      vectorOf(BackwardSearch.batch(spark, rcsr, fwdDeg, Seq(target),
        conf.alpha, rmax))
  }

  /** K9 — BASE all-pair store (S7-S9 lifecycle). `k > 0` selects the T5
    * top-k store mode: rank-truncated vectors with an explicit rank
    * column, read back in rank order (reference `preprocessing(threshold,
    * k)`, `Base_Whole_Graph.java:120-162`).
    */
  final class base(rmax: Double, threshold: Double, k: Int = -1)
      extends PrecomputedPpr {
    requirePositive("rmax", rmax)
    require(threshold >= 0, s"threshold must be >= 0, got $threshold")
    def preprocess(dir: String): Unit = {
      val ap = Base.allPairs(spark, csr, rcsr, fwdDeg, conf.alpha, rmax, 0, threshold)
      if (k > 0) Base.writeTopkStore(ap, dir, k)
      else Base.writeStore(ap, dir)
    }
    def readPpr(dir: String, source: Long): DataFrame =
      if (k > 0) Base.readTopkSource(spark, dir, source)
      else Base.readSource(spark, dir, source)
    def prepSize(dir: String): Long = Base.storeSize(spark, dir)
    def deletePrep(dir: String): Boolean = Base.deleteStore(spark, dir)
  }

  /** K10 — GraphX library baseline. Preprocessing runs the library once
    * per source (it has no multi-source batch mode — same per-node loop as
    * the reference's `Neo4j_Method.preprocessing`, `Neo4j_Method.java:129-152`);
    * meant for baseline comparison on modest graphs, not the scale path.
    */
  final class libraryPpr(iterations: Int) extends SsPpr with PrepVia {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    def wholeGraphPpr(source: Long): DataFrame =
      GraphXPpr.run(spark, edgesDf, source, conf.alpha, iterations)
    protected def batchAll(sources: Seq[Long]): DataFrame = {
      import spark.implicits._
      sources.map { s =>
        wholeGraphPpr(s).select(lit(s).as("src"), col("node_id"), col("score"))
      }.reduceOption(_.unionAll(_)).getOrElse(
        Seq.empty[(Long, Long, Double)].toDF("src", "node_id", "score"))
    }
  }
}
