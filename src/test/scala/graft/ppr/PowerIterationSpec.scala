package graft.ppr

import graft.SparkSpec
import graft.graph.GraphOps

class PowerIterationSpec extends SparkSpec {

  // 5-node graph: 1→2, 1→3, 2→3, 3→1, 4 dangling (edge 2→4).
  private def edgesDf = {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 1L)).toDF("src", "dst")
  }

  private val alpha = 0.15
  private val iters = 50

  test("batch over CSR matches single-source run for each source") {
    val csr = GraphOps.buildCsr(edgesDf)
    val batch = PowerIteration.batch(spark, csr, Seq(1L, 2L, 3L), alpha, iters)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (s <- Seq(1L, 2L, 3L)) {
      val single = PowerIteration.runLocal(csr, csr.denseOf(s), alpha, iters)
      for (v <- 0 until csr.numNodes) {
        assert(math.abs(single(v) -
          batch.getOrElse((s, csr.originalOf(v)), 0.0)) < 1e-12)
      }
    }
  }

  test("mass conservation: sum(score) = 1 - (1-alpha)^iters") {
    val csr = GraphOps.buildCsr(edgesDf)
    val scores = PowerIteration.runLocal(csr, csr.denseOf(1L), alpha, iters)
    val expected = 1.0 - math.pow(1.0 - alpha, iters)
    assert(math.abs(scores.sum - expected) < 1e-12)
  }

  test("dangling node returns mass to source, not uniform") {
    // node 4 has no out-edges; its residue must flow back to source 1.
    val csr = GraphOps.buildCsr(edgesDf)
    val scores = PowerIteration.runLocal(csr, csr.denseOf(1L), alpha, iters)
    // source keeps the largest score in this graph because all cycles and
    // the dangling restart return to it.
    assert(scores(csr.denseOf(1L)) == scores.max)
  }

  test("isolated source (outdeg 0) accumulates all mass at itself") {
    val s = spark
    import s.implicits._
    // 5 is present (an edge target) but has no out-edges
    val e = Seq((2L, 3L), (9L, 2L), (2L, 5L)).toDF("src", "dst")
    val csr = GraphOps.buildCsr(e)
    val res = PowerIteration.runLocal(csr, csr.denseOf(5L), alpha, 30)
    val nonzero = (0 until csr.numNodes).filter(res(_) != 0.0)
    assert(nonzero.map(csr.originalOf) == Seq(5L))
    assert(math.abs(res(csr.denseOf(5L)) - (1.0 - math.pow(1 - alpha, 30))) < 1e-12)
  }
}
