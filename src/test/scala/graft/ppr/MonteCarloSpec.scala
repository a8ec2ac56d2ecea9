package graft.ppr

import graft.SparkSpec
import graft.graph.GraphOps

class MonteCarloSpec extends SparkSpec {

  private def edgesDf = {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 1L), (4L, 1L))
      .toDF("src", "dst")
  }

  test("seeded walks are deterministic across runs") {
    val csr = GraphOps.buildCsr(edgesDf)
    def run() = MonteCarlo.sspprBatch(spark, csr, Seq(1L), 0.15, 0.5, seed = 7L,
        slicesPerSource = 3)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(run() == run())
  }

  test("estimates converge to power-iteration ground truth") {
    val csr = GraphOps.buildCsr(edgesDf)
    // epsilon=0.2, delta=pfail=1/n → omega ≈ 3·ln(2n)/ε²·n ≈ large.
    val est = MonteCarlo.sspprBatch(spark, csr, Seq(1L), 0.15, 0.2, seed = 42L)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val exact = PowerIteration.runLocal(csr, csr.denseOf(1L), 0.15, 500)
    var maxErr = 0.0
    for (v <- 0 until csr.numNodes) {
      val id = csr.originalOf(v)
      maxErr = math.max(maxErr, math.abs(exact(v) - est.getOrElse(id, 0.0)))
    }
    // Chernoff bound gives ε·δ·n-ish slack; 0.02 abs is comfortably loose
    // for ω ≈ tens of thousands of walks.
    assert(maxErr < 0.02, s"maxErr=$maxErr")
    assert(math.abs(est.values.sum - 1.0) < 1e-9) // stops are a distribution
  }

  test("emitted endpoints aggregate to exactly the counting path's scores") {
    import org.apache.spark.sql.functions._
    val csr = GraphOps.buildCsr(edgesDf)
    val srcs = Seq(1L, 2L)
    val n = csr.numNodes.toDouble
    val omega = MonteCarlo.omegaFor(0.5, 1.0 / n, 1.0 / n)
    val viaCounts = MonteCarlo.sspprBatch(spark, csr, srcs, 0.15, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val viaRows = MonteCarlo.sspprEndpoints(spark, csr, srcs, 0.15, 0.5)
      .groupBy("src", "node_id")
      .agg((count(lit(1)) / lit(omega.toDouble)).as("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaRows == viaCounts) // identical walks, identical division — exact
  }

  test("out-degree-0 source returns itself; batch matches single") {
    val s = spark
    import s.implicits._
    val e = Seq((2L, 1L), (3L, 1L)).toDF("src", "dst") // 1 is a sink
    val csr = GraphOps.buildCsr(e)
    val est = MonteCarlo.sspprBatch(spark, csr, Seq(1L), 0.15, 0.5)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(est.toSeq == Seq((1L, 1.0)))
  }

  test("lock-step walks give the serial walk loop's scores bit for bit") {
    for (g <- 1L to 3L) {
      val csr = SerialWalks.randomDigraph(g)
      val n = csr.numNodes
      val omega = MonteCarlo.omegaFor(0.5, 1.0 / n, 1.0 / n)
      val dangling = (0 until n).filter(csr.outDegree(_) == 0).map(csr.originalOf)
      assert(dangling.nonEmpty, s"graph $g: no dangling node")
      val sources = Seq(csr.originalOf(0), csr.originalOf(n / 2), dangling.head)
      val got = MonteCarlo.sspprBatch(spark, csr, sources, 0.15, 0.5, seed = g,
          slicesPerSource = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      for (s <- sources) {
        val want = SerialWalks.mcScores(csr, s, 0.15, omega, g)
        val row = Array.tabulate(n)(v => got.getOrElse((s, csr.originalOf(v)), 0.0))
        assert(java.util.Arrays.equals(row, want), s"graph $g src $s")
      }
    }
  }
}
