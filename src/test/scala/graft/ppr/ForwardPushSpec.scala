package graft.ppr

import graft.SparkSpec
import graft.graph.GraphOps

class ForwardPushSpec extends SparkSpec {

  private def edgesDf = {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 1L)).toDF("src", "dst")
  }

  private val alpha = 0.15

  test("push invariant: reserve + remaining residue mass = 1") {
    val csr = GraphOps.buildCsr(edgesDf)
    val st = ForwardPush.runLocal(csr, csr.denseOf(1L), alpha, 1e-3)
    val mass = st.reserve.sum + st.residue.sum
    assert(math.abs(mass - 1.0) < 1e-12)
    assert(math.abs(st.rsum - st.residue.sum) < 1e-12)
  }

  test("fixpoint error bound: |π − π̂| ≤ rmax · m (vs power iteration)") {
    val csr = GraphOps.buildCsr(edgesDf)
    val rmax = 1e-6
    val st = ForwardPush.runLocal(csr, csr.denseOf(1L), alpha, rmax)
    val exact = PowerIteration.runLocal(csr, csr.denseOf(1L), alpha, 500)
    val m = csr.numEdges
    for (v <- 0 until csr.numNodes) {
      assert(math.abs(exact(v) - st.reserve(v)) <= rmax * m + 1e-12,
        s"node $v err=${math.abs(exact(v) - st.reserve(v))}")
    }
  }

  test("batch matches single-source local kernel per source") {
    val csr = GraphOps.buildCsr(edgesDf)
    val batch = ForwardPush.batch(spark, csr, Seq(1L, 2L), alpha, 1e-4, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (s <- Seq(1L, 2L)) {
      val local = ForwardPush.runLocal(csr, csr.denseOf(s), alpha, 1e-4, 10)
      for (v <- 0 until csr.numNodes if local.reserve(v) != 0.0) {
        assert(math.abs(local.reserve(v) -
          batch.getOrElse((s, csr.originalOf(v)), 0.0)) < 1e-12)
      }
    }
  }

  test("the push kernel refuses rmax <= 0 instead of spinning") {
    val csr = GraphOps.buildCsr(edgesDf)
    for (rmax <- Seq(0.0, -1e-4, Double.NaN)) {
      val err = intercept[IllegalArgumentException](
        ForwardPush.runLocal(csr, csr.denseOf(1L), alpha, rmax))
      assert(err.getMessage.contains("rmax"), err.getMessage)
    }
  }
}
