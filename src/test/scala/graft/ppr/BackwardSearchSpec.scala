package graft.ppr

import graft.SparkSpec
import graft.graph.GraphOps
import org.apache.spark.sql.functions._

class BackwardSearchSpec extends SparkSpec {

  private def edgesDf = {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 1L), (4L, 1L))
      .toDF("src", "dst")
  }

  private val alpha = 0.15

  private def kernels(edges: org.apache.spark.sql.DataFrame) = {
    val csr = GraphOps.buildCsr(edges)
    val rcsr = GraphOps.buildCsr(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    val fwdDeg = Array.tabulate(rcsr.numNodes) { v =>
      val d = csr.denseOf(rcsr.originalOf(v))
      if (d < 0) 0 else csr.outDegree(d)
    }
    (csr, rcsr, fwdDeg)
  }

  test("backward column approximates π(·, t) from power iteration") {
    val (csr, rcsr, fwdDeg) = kernels(edgesDf)
    val t = 3L
    val col_t = BackwardSearch.runLocal(rcsr, fwdDeg, rcsr.denseOf(t), alpha, 1e-9)
    // exact π(s, t) for every source s via power iteration (no dangling
    // nodes in this graph, so forward/backward agree exactly).
    for (s <- Seq(1L, 2L, 3L, 4L)) {
      val exact = PowerIteration.runLocal(csr, csr.denseOf(s), alpha, 500)
      val est = col_t(rcsr.denseOf(s))
      assert(math.abs(exact(csr.denseOf(t)) - est) < 1e-6,
        s"π($s,$t): exact=${exact(csr.denseOf(t))} est=$est")
    }
  }

  test("sparse kernel is bit-identical to dense, workspace reused across targets") {
    // seeded random digraph, large enough that frontiers grow, shrink and
    // revisit nodes across supersteps.
    val rnd = new scala.util.Random(7L)
    val pairs = Seq.fill(4000)((rnd.nextInt(500).toLong, rnd.nextInt(500).toLong))
      .filter { case (s, d) => s != d }.distinct
    val s0 = spark
    import s0.implicits._
    val edges = pairs.toDF("src", "dst")
    val (_, rcsr, fwdDeg) = kernels(edges)
    val ws = new BackwardSearch.Workspace(rcsr.numNodes)
    for {
      t <- Seq(0L, 17L, 123L, 499L)
      (rmax, steps) <- Seq((1e-3, 0), (1e-4, 0), (1e-4, 6), (1e-2, 3))
    } {
      val td = rcsr.denseOf(t)
      val dense = BackwardSearch.runLocal(rcsr, fwdDeg, td, alpha, rmax, steps)
      val sparse = BackwardSearch.runLocalSparse(rcsr, fwdDeg, td, alpha, rmax, steps, ws)
      val sparseMap = sparse.toMap
      for (v <- 0 until rcsr.numNodes) {
        // == not ≈: the sparse kernel replays the dense schedule exactly.
        assert(dense(v) == sparseMap.getOrElse(v, 0.0),
          s"t=$t rmax=$rmax steps=$steps v=$v: dense=${dense(v)} sparse=${sparseMap.getOrElse(v, 0.0)}")
      }
      assert(sparse.map(_._1).toSeq == sparse.map(_._1).toSeq.sorted, "ascending dense id")
      assert(sparse.forall(_._2 != 0.0), "nonzero reserves only")
    }
  }

  test("adaptive kernel: tiny graph (always-dense path) and low-degree sparse path") {
    val s0 = spark
    import s0.implicits._
    // n=6 ring: n/8 == 0, every superstep takes the dense fallback.
    val ring = (0L until 6L).map(i => (i, (i + 1) % 6)).toDF("src", "dst")
    val (_, rr, rd) = kernels(ring)
    val wsR = new BackwardSearch.Workspace(rr.numNodes)
    for (t <- 0L until 6L; rmax <- Seq(1e-2, 1e-5)) {
      val td = rr.denseOf(t)
      val dense = BackwardSearch.runLocal(rr, rd, td, alpha, rmax, 0)
      val sp = BackwardSearch.runLocalSparse(rr, rd, td, alpha, rmax, 0, wsR).toMap
      for (v <- 0 until rr.numNodes)
        assert(dense(v) == sp.getOrElse(v, 0.0), s"ring t=$t rmax=$rmax v=$v")
    }
    // 1500-node binary tree (each node -> parent): frontiers are one
    // root-ward path + fan-in, far under n/8 — the sorted sparse path
    // runs every superstep.
    val tree = (1L until 1500L).map(i => (i, (i - 1) / 2)).toDF("src", "dst")
    val (_, rt, td2) = kernels(tree)
    val wsT = new BackwardSearch.Workspace(rt.numNodes)
    for (t <- Seq(0L, 3L, 747L, 1499L); rmax <- Seq(1e-3, 1e-6)) {
      val tdense = rt.denseOf(t)
      val dense = BackwardSearch.runLocal(rt, td2, tdense, alpha, rmax, 0)
      val sp = BackwardSearch.runLocalSparse(rt, td2, tdense, alpha, rmax, 0, wsT).toMap
      for (v <- 0 until rt.numNodes)
        assert(dense(v) == sp.getOrElse(v, 0.0), s"tree t=$t rmax=$rmax v=$v")
    }
  }

  test("batch rejects rmax <= 0") {
    val (_, rcsr, fwdDeg) = kernels(edgesDf)
    for (rmax <- Seq(0.0, -1e-4, Double.NaN)) {
      val err = intercept[IllegalArgumentException](
        BackwardSearch.batch(spark, rcsr, fwdDeg, Seq(1L), alpha, rmax))
      assert(err.getMessage.contains("rmax"), err.getMessage)
    }
  }
}
