package graft.ppr

import graft.SparkSpec
import graft.queries.Graph
import org.apache.spark.sql.DataFrame

/** Pins the tag-batched PPR family ([[PprFamily.runFamily]], r18
  * verdict #1, widened to five members in r19 per verdict #6) against
  * the five standalone runs (the dense batch kernel for single-source
  * power, superstep loops for the other four): every per-family
  * slice must reproduce the standalone run — on a toy graph whose
  * dangling nodes exercise all three restart rules (back-to-source vs
  * fresh-uniform(S) vs uniform-over-all) and whose asymmetric edges
  * split hub from authority mass, on schedules where each horizon ends
  * BEFORE the others' (the freeze paths), and on the bench graph the
  * board rows serve.
  */
class PprFamilySpec extends SparkSpec {

  private def toMap(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** The single-source power vector from the dense batch kernel. */
  private def power(edges: DataFrame, source: Long, alpha: Double,
      iters: Int): Map[Long, Double] =
    toMap(PowerIteration.batch(spark, graft.graph.GraphOps.buildCsr(edges),
      Seq(source), alpha, iters).select("node_id", "score"))

  private def toMap2(df: DataFrame): Map[Long, (Double, Double)] =
    df.collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap

  private def assertClose(got: Map[Long, Double], want: Map[Long, Double],
      what: String): Unit = {
    assert(got.keySet == want.keySet, s"$what node sets differ")
    got.foreach { case (id, v) =>
      assert(math.abs(v - want(id)) <= 1e-12 * math.max(1.0, math.abs(v)),
        s"$what diverged at node $id: $v vs ${want(id)}")
    }
  }

  private def assertClose2(got: Map[Long, (Double, Double)],
      want: Map[Long, (Double, Double)], what: String): Unit = {
    assert(got.keySet == want.keySet, s"$what node sets differ")
    got.foreach { case (id, (v1, v2)) =>
      val (w1, w2) = want(id)
      assert(math.abs(v1 - w1) <= 1e-12 * math.max(1.0, math.abs(v1)) &&
        math.abs(v2 - w2) <= 1e-12 * math.max(1.0, math.abs(v2)),
        s"$what diverged at node $id: ($v1,$v2) vs ($w1,$w2)")
    }
  }

  // toy graph: 0→1→2, 2 is dangling, 3 isolated-but-seeded via dangling
  // chain 1→3, 3 dangling too — both dangling rules carry real mass,
  // and pure sources (5) / pure sinks (3) split hub from auth mass.
  private def toyEdges = {
    val s = spark
    import s.implicits._
    Seq((0L, 1L), (1L, 2L), (1L, 3L), (2L, 0L), (4L, 0L), (5L, 4L))
      .toDF("src", "dst").localCheckpoint(true)
  }

  private def runFam(edges: DataFrame, source: Long, seeds: Seq[Long],
      iters: Int, prIters: Int, katzIters: Int = 4, hitsIters: Int = 3)
      : DataFrame =
    PprFamily.runFamily(spark, edges, source, seeds, alpha = 0.15,
      iters = iters, damping = 0.85, prIters = prIters,
      katzAlpha = 0.005, katzIters = katzIters, hitsIters = hitsIters)
      .localCheckpoint(true)

  test("runFamily slices equal the five standalone runs on a dangling " +
      "toy graph (same schedule)") {
    val edges = toyEdges
    val seeds = Seq(0L, 4L)
    val fam = runFam(edges, 0L, seeds, iters = 8, prIters = 7,
      katzIters = 4, hitsIters = 3)
    assertClose(toMap(PprFamily.pprScore(fam, PprFamily.FamPower, 0.15)),
      power(edges, 0L, 0.15, 8), "power")
    assertClose(toMap(PprFamily.pprScore(fam, PprFamily.FamSeed, 0.15)),
      toMap(PowerIteration.runSeedSet(spark, edges, seeds, 0.15, 8)),
      "seedset")
    assertClose(toMap(PprFamily.rankScore(fam)),
      toMap(PageRank.run(spark, edges, 0.85, 7)), "pagerank")
    assertClose(toMap(PprFamily.katzScore(fam)),
      toMap(graft.graph.Katz.run(spark, edges, 0.005, 4)), "katz")
    assertClose2(toMap2(PprFamily.hitsScores(fam)),
      toMap2(graft.graph.Hits.run(spark, edges, 3)), "hits")
  }

  test("a family whose horizon ends first is frozen, not advanced: " +
      "every member reproduces its standalone schedule when it ends " +
      "before AND after the others") {
    val edges = toyEdges
    val seeds = Seq(1L, 2L)
    // PageRank/Katz/HITS end first — frozen through the PPR pair's tail
    val famA = runFam(edges, 0L, seeds, iters = 9, prIters = 3,
      katzIters = 2, hitsIters = 1)
    assertClose(toMap(PprFamily.rankScore(famA)),
      toMap(PageRank.run(spark, edges, 0.85, 3)), "pagerank-short")
    assertClose(toMap(PprFamily.katzScore(famA)),
      toMap(graft.graph.Katz.run(spark, edges, 0.005, 2)), "katz-short")
    assertClose2(toMap2(PprFamily.hitsScores(famA)),
      toMap2(graft.graph.Hits.run(spark, edges, 1)), "hits-short")
    assertClose(toMap(PprFamily.pprScore(famA, PprFamily.FamPower, 0.15)),
      power(edges, 0L, 0.15, 9), "power-long")
    // the PPR pair ends first — Katz/HITS run past it
    val famB = runFam(edges, 0L, seeds, iters = 3, prIters = 9,
      katzIters = 7, hitsIters = 4)
    assertClose(toMap(PprFamily.pprScore(famB, PprFamily.FamPower, 0.15)),
      power(edges, 0L, 0.15, 3), "power-short")
    assertClose(toMap(PprFamily.pprScore(famB, PprFamily.FamSeed, 0.15)),
      toMap(PowerIteration.runSeedSet(spark, edges, seeds, 0.15, 3)),
      "seedset-short")
    assertClose(toMap(PprFamily.rankScore(famB)),
      toMap(PageRank.run(spark, edges, 0.85, 9)), "pagerank-long")
    assertClose(toMap(PprFamily.katzScore(famB)),
      toMap(graft.graph.Katz.run(spark, edges, 0.005, 7)), "katz-long")
    assertClose2(toMap2(PprFamily.hitsScores(famB)),
      toMap2(graft.graph.Hits.run(spark, edges, 4)), "hits-long")
    // HITS outlasts everyone — its half-step parity must survive the
    // other families' freezes
    val famC = runFam(edges, 0L, seeds, iters = 2, prIters = 2,
      katzIters = 2, hitsIters = 6)
    assertClose2(toMap2(PprFamily.hitsScores(famC)),
      toMap2(graft.graph.Hits.run(spark, edges, 6)), "hits-longest")
    assertClose(toMap(PprFamily.katzScore(famC)),
      toMap(graft.graph.Katz.run(spark, edges, 0.005, 2)), "katz-frozen")
  }

  test("the served board slices equal the standalone runs on the bench " +
      "graph at the board schedule") {
    import graft.graph.GraphOps
    val edges = GraphOps.lineitemGraph(spark, sfDir, Graph.Mod)
      .localCheckpoint(true)
    val fam = Graph.pprFamilyShared(spark, sfDir)
    assertClose(toMap(PprFamily.pprScore(fam, PprFamily.FamPower,
        Graph.Alpha)),
      power(edges, Graph.SingleSource, Graph.Alpha, Graph.Iters),
      "bench power")
    assertClose(toMap(PprFamily.pprScore(fam, PprFamily.FamSeed,
        Graph.Alpha)),
      toMap(PowerIteration.runSeedSet(spark, edges, Graph.SeedSet,
        Graph.Alpha, Graph.Iters)), "bench seedset")
    assertClose(toMap(PprFamily.rankScore(fam)),
      toMap(PageRank.run(spark, edges, Graph.PrDamping, Graph.PrIters)),
      "bench pagerank")
    assertClose(toMap(PprFamily.katzScore(fam)),
      toMap(graft.graph.Katz.run(spark, edges, Graph.KatzAlpha,
        Graph.KatzIters)), "bench katz")
    assertClose2(toMap2(PprFamily.hitsScores(fam)),
      toMap2(graft.graph.Hits.run(spark, edges, Graph.HitsIters)),
      "bench hits")
  }

  test("Graph.invalidateModels drops the pprFamily fit, unpins its " +
      "blocks, and the refit rows reproduce the same answer") {
    val sc = spark.sparkContext
    val before = Graph.queries("g_pagerank")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val beforeHits = Graph.queries("g_hits")(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2)))).toMap
    val pinned0 = graft.operators.SessionPins.pinned(sc)
    Graph.invalidateModels(spark, sfDir)
    val pinned1 = graft.operators.SessionPins.pinned(sc)
    assert(pinned1.size < pinned0.size,
      "invalidation must unpin the pprFamily checkpoint blocks")
    val after = Graph.queries("g_pagerank")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(after == before)
    val afterHits = Graph.queries("g_hits")(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2)))).toMap
    assert(afterHits == beforeHits)
  }
}
