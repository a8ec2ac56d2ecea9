package graft.api

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
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
  * factory, `Gen_Util.java:66-97`). Holds the graph once, like the
  * reference holds its HeavyGraph: the edges DF, the CSR snapshot, and
  * one broadcast of it (plus one of the reversed CSR for [[backward]] and
  * the BASE preprocess), made on first use and reused by every call.
  * [[close]] destroys the broadcasts and unpersists the edges; a call
  * after it fails.
  */
final class PprEngine(
    val spark: SparkSession,
    edges: DataFrame,
    val conf: PprConf = PprConf()) extends AutoCloseable {

  val edgesDf: DataFrame = edges.persist()
  lazy val csr: Csr = GraphOps.buildCsr(edgesDf)
  private lazy val rcsr: Csr = Base.reversedCsr(edgesDf)

  @volatile private var closed = false
  private var csrBc: Broadcast[Csr] = null
  private var rcsrBc: Broadcast[Csr] = null
  private var fwdDegBc: Broadcast[Array[Int]] = null

  private def requireOpen(): Unit =
    if (closed) throw new IllegalStateException("PprEngine is closed")

  /** The engine's broadcast of [[csr]]. */
  private def sharedCsr: Broadcast[Csr] = synchronized {
    requireOpen()
    if (csrBc == null) csrBc = spark.sparkContext.broadcast(csr)
    csrBc
  }

  /** The engine's broadcasts of the reversed CSR and its forward degrees. */
  private def sharedReversed: (Broadcast[Csr], Broadcast[Array[Int]]) = synchronized {
    requireOpen()
    if (rcsrBc == null) {
      rcsrBc = spark.sparkContext.broadcast(rcsr)
      fwdDegBc = spark.sparkContext.broadcast(Base.forwardDegrees(csr, rcsr))
    }
    (rcsrBc, fwdDegBc)
  }

  /** Destroys the broadcasts and unpersists [[edgesDf]]; later calls fail
    * with an `IllegalStateException`. A second close does nothing.
    */
  def close(): Unit = synchronized {
    if (!closed) {
      closed = true
      Seq(csrBc, rcsrBc, fwdDegBc).filter(_ != null).foreach(_.destroy())
      edgesDf.unpersist()
    }
  }

  /** `(node_id, score)` of a one-source batch result. */
  private def vectorOf(batch: DataFrame): DataFrame =
    batch.select(col("node_id"), col("score"))

  /** A local `(node_id, score)` DataFrame: an action on it runs no job. */
  private def localVector(rows: Seq[(Long, Double)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (v, p) => Row(v, p) }: _*),
      PprEngine.VectorSchema)

  /** Tie-inclusive top-k (T2) of `vector`, evaluated once: `k` is checked
    * first, then the vector is collected, cut at [[Fora.kthLargest]] (the
    * FORA top-k rule) and returned as a local DataFrame, so the caller's
    * action runs no second job.
    */
  private def topkOf(vector: => DataFrame, k: Int): DataFrame = {
    requireK(k)
    val rows = vector.collect().map(r => (r.getLong(0), r.getDouble(1)))
    val kth = Fora.kthLargest(rows.map(_._2), k)
    localVector(rows.filter(_._2 >= kth))
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
      PowerIteration.batch(spark, sharedCsr, sources, conf.alpha, 100, 0)
  }

  /** Preprocessing lifecycle shared by the non-BASE algo families
    * (reference re-implements it per algo, `Forward_Push.java:320-444`,
    * `Monte_Carlo.java:212-335`, `Neo4j_Method.java:157-304`): compute
    * every node's vector with the family's batch kernel, store via
    * [[PprStore]], answer later queries by a one-task read of the
    * source's files that runs in the call and returns local rows.
    */
  trait PrepVia extends PrecomputedPpr {
    /** `(src, node_id, score)` for all sources — the family's batch path. */
    protected def batchAll(sources: Seq[Long]): DataFrame
    def preprocess(dir: String): Unit =
      PprStore.write(batchAll(csr.ids.toSeq), dir)
    def readPpr(dir: String, source: Long): DataFrame =
      { requireOpen(); PprStore.read(spark, dir, source) }
    def prepSize(dir: String): Long = { requireOpen(); PprStore.size(spark, dir) }
    def deletePrep(dir: String): Boolean = { requireOpen(); PprStore.delete(spark, dir) }
  }

  /** K2 — forward push at rmax. */
  final class forwardPush(rmax: Double) extends SsPpr with TopkPpr with PrepVia {
    requirePositive("rmax", rmax)
    def wholeGraphPpr(source: Long): DataFrame = vectorOf(batchAll(Seq(source)))
    def topkPpr(source: Long, k: Int): DataFrame =
      topkOf(wholeGraphPpr(source), k)
    protected def batchAll(sources: Seq[Long]): DataFrame =
      ForwardPush.batch(spark, sharedCsr, sources, conf.alpha, rmax, 0, 0)
  }

  /** K5 — Monte-Carlo at epsilon. */
  final class monteCarlo(epsilon: Double) extends SsPpr with TopkPpr with PrepVia {
    requirePositive("epsilon", epsilon)
    def wholeGraphPpr(source: Long): DataFrame = vectorOf(batchAll(Seq(source)))
    def topkPpr(source: Long, k: Int): DataFrame =
      topkOf(wholeGraphPpr(source), k)
    protected def batchAll(sources: Seq[Long]): DataFrame =
      MonteCarlo.sspprBatch(spark, sharedCsr, sources, conf.alpha, epsilon,
        conf.pfail, conf.delta, conf.seed, 0)
  }

  /** K6/K7 — FORA. A top-k call with `k >= n` returns the whole vector.
    * A top-k call runs its one Spark job before it returns and answers
    * with local rows.
    */
  final class fora(epsilon: Double) extends SsPpr with TopkPpr {
    requirePositive("epsilon", epsilon)
    private def fconf =
      Fora.Conf(conf.alpha, epsilon, conf.pfail, conf.delta, conf.seed)
    def wholeGraphPpr(source: Long): DataFrame =
      vectorOf(Fora.batch(spark, sharedCsr, Seq(source), fconf, 0))
    def topkPpr(source: Long, k: Int): DataFrame = {
      requireK(k)
      localVector(Fora.topkRows(spark, sharedCsr, Seq(source), k, fconf)
        .map { case (_, v, p) => (v, p) }.collect())
    }
  }

  /** K8 — backward search: the PPR COLUMN π(·, target). */
  final class backward(rmax: Double) {
    requirePositive("rmax", rmax)
    def pprColumn(target: Long): DataFrame = {
      val (g, deg) = sharedReversed
      vectorOf(BackwardSearch.batch(spark, g, deg, Seq(target), conf.alpha,
        rmax, 0, 0))
    }
  }

  /** K9 — BASE all-pair store (S7-S9 lifecycle). `k >= 1` selects the T5
    * top-k store mode: rank-truncated vectors with an explicit rank
    * column, read back in rank order (reference `preprocessing(threshold,
    * k)`, `Base_Whole_Graph.java:120-162`); `k = -1` stores full vectors.
    */
  final class base(rmax: Double, threshold: Double, k: Int = -1)
      extends PrecomputedPpr {
    requirePositive("rmax", rmax)
    require(threshold >= 0, s"threshold must be >= 0, got $threshold")
    require(k == -1 || k >= 1, s"k must be -1 (full vectors) or >= 1, got $k")
    def preprocess(dir: String): Unit = {
      val (g, deg) = sharedReversed
      val ap = Base.allPairs(spark, g, deg, csr.ids.toSeq, conf.alpha, rmax, 0, threshold)
      if (k > 0) Base.writeTopkStore(ap, dir, k)
      else Base.writeStore(ap, dir)
    }
    def readPpr(dir: String, source: Long): DataFrame = {
      requireOpen()
      if (k > 0) Base.readTopkSource(spark, dir, source)
      else Base.readSource(spark, dir, source)
    }
    def prepSize(dir: String): Long = { requireOpen(); Base.storeSize(spark, dir) }
    def deletePrep(dir: String): Boolean = { requireOpen(); Base.deleteStore(spark, dir) }
  }

  /** K10 — GraphX library baseline. Preprocessing runs the library once
    * per source (it has no multi-source batch mode — same per-node loop as
    * the reference's `Neo4j_Method.preprocessing`, `Neo4j_Method.java:129-152`);
    * meant for baseline comparison on modest graphs, not the scale path.
    */
  final class libraryPpr(iterations: Int) extends SsPpr with PrepVia {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    def wholeGraphPpr(source: Long): DataFrame =
      { requireOpen(); GraphXPpr.run(spark, edgesDf, source, conf.alpha, iterations) }
    protected def batchAll(sources: Seq[Long]): DataFrame = {
      import spark.implicits._
      sources.map { s =>
        wholeGraphPpr(s).select(lit(s).as("src"), col("node_id"), col("score"))
      }.reduceOption(_.unionAll(_)).getOrElse(
        Seq.empty[(Long, Long, Double)].toDF("src", "node_id", "score"))
    }
  }
}

object PprEngine {
  /** Schema of a one-source answer. */
  private val VectorSchema = StructType(Seq(
    StructField("node_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))
}
