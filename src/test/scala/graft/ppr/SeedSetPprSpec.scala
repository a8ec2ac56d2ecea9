package graft.ppr

import graft.SparkSpec

/** Seed-set (topic-sensitive) power iteration: in-memory replay equality,
  * the linearity law on dangling-free graphs, and the fresh-uniform(S)
  * dangling restart that makes the operator MORE than an average of
  * single-source runs.
  */
class SeedSetPprSpec extends SparkSpec {

  private val alpha = 0.15
  private val iters = 50

  /** Dense replay of the seed-set schedule (the runLocal shape with a
    * uniform seed start and fresh-uniform(S) dangling restart).
    */
  private def replay(edges: Seq[(Long, Long)], seeds: Seq[Long],
      alpha: Double, iters: Int): Map[Long, Double] = {
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val k = seeds.size
    val invK = 1.0 / k
    var r = collection.mutable.Map(seeds.map(s => s -> invK): _*)
      .withDefaultValue(0.0)
    val acc = collection.mutable.Map(seeds.map(s => s -> invK): _*)
      .withDefaultValue(0.0)
    for (_ <- 1 until iters) {
      val next = collection.mutable.Map.empty[Long, Double]
        .withDefaultValue(0.0)
      r.foreach { case (v, rv) =>
        if (rv != 0.0) out.get(v) match {
          case Some(ns) =>
            val share = (1.0 - alpha) * rv / ns.size
            ns.foreach(u => next(u) += share)
          case None =>
            seeds.foreach(s => next(s) += (1.0 - alpha) * rv * invK)
        }
      }
      r = next
      r.foreach { case (v, x) => acc(v) += x }
    }
    acc.map { case (v, x) => v -> alpha * x }.toMap
  }

  private def run(edges: Seq[(Long, Long)], seeds: Seq[Long],
      bcLimit: Long = PowerIteration.BroadcastNodeLimit)
      : Map[Long, Double] = {
    val s = spark
    import s.implicits._
    PowerIteration.runSeedSet(spark, edges.toDF("src", "dst"), seeds,
        alpha, iters, broadcastNodeLimit = bcLimit)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  /** Single-source power vector from the dense batch kernel. */
  private def single(edges: Seq[(Long, Long)], src: Long): Map[Long, Double] = {
    val s = spark
    import s.implicits._
    val csr = graft.graph.GraphOps.buildCsr(edges.toDF("src", "dst"))
    PowerIteration.batch(spark, csr, Seq(src), alpha, iters)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
      .withDefaultValue(0.0)
  }

  // 6-node graph with a dangling node: 1→2, 1→3, 2→3, 2→4 (4 dangling),
  // 3→1, 5→1 — seeds {1, 5}.
  private val dangEdges =
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 1L), (5L, 1L))
  private val seeds = Seq(1L, 5L)

  test("distributed seed-set run matches the dense replay, on both the " +
      "broadcast and shuffle-join paths") {
    val want = replay(dangEdges, seeds, alpha, iters)
    val got = run(dangEdges, seeds)
    val gotShuffle = run(dangEdges, seeds, bcLimit = 0L)
    (want.keySet ++ got.keySet).foreach { v =>
      assert(math.abs(want.getOrElse(v, 0.0) - got.getOrElse(v, 0.0))
        < 1e-12, s"node $v broadcast path")
    }
    assert(got.keySet == gotShuffle.keySet)
    got.foreach { case (v, x) =>
      assert(math.abs(x - gotShuffle(v)) < 1e-12, s"node $v regime")
    }
    // mass conservation: restarts keep every pushed unit inside the
    // graph, so sum(score) = 1 − (1−α)^iters exactly like single-source
    val mass = got.values.sum
    assert(math.abs(mass - (1.0 - math.pow(1.0 - alpha, iters))) < 1e-9)
  }

  test("linearity: on a DANGLING-FREE graph the seed-set run equals the " +
      "average of the single-source runs") {
    val clean = Seq((1L, 2L), (2L, 3L), (3L, 1L), (5L, 1L), (3L, 5L))
    val set = run(clean, seeds)
    val singles = seeds.map(single(clean, _))
    val nodes = set.keySet ++ singles.flatMap(_.keySet)
    nodes.foreach { v =>
      val mix = singles.map(_(v)).sum / seeds.size
      assert(math.abs(set.getOrElse(v, 0.0) - mix) < 1e-9,
        s"node $v: set=${set.getOrElse(v, 0.0)} mixture=$mix")
    }
  }

  test("with dangling nodes the fresh-uniform(S) restart DIFFERS from " +
      "the single-source mixture — the operator is not a shortcut") {
    val set = run(dangEdges, seeds)
    val singles = seeds.map(single(dangEdges, _))
    val maxGap = (set.keySet ++ singles.flatMap(_.keySet)).map { v =>
      math.abs(set.getOrElse(v, 0.0) - singles.map(_(v)).sum / seeds.size)
    }.max
    assert(maxGap > 1e-4,
      s"dangling restart should separate the semantics, max gap $maxGap")
  }

  test("got_grid_seedset: every |S| point matches the dense replay at " +
      "9 dp, linearity holds per size on the dangling-free GOT graph, " +
      "and the local kernel's dangling restart separates per size") {
    import graft.queries.GotQueries
    import graft.graph.{Csr, Got}
    val rows = GotQueries.queries("got_grid_seedset")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val byM = rows.groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    assert(byM.keySet == GotQueries.GridSeedSetSizes.toSet)
    val edges = Got.edges(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    GotQueries.GridSeedSetSizes.foreach { m =>
      val ss = GotQueries.GridSeedSetPool.take(m)
      // (a) the grid point IS the dense replay of the unrolled schedule
      val want = replay(edges, ss, Got.Alpha, GotQueries.GridPmIters)
      assert(byM(m).keySet == want.keySet, s"|S|=$m node set")
      byM(m).foreach { case (v, x) =>
        assert(math.abs(x - want(v)) < 1.1e-9, s"|S|=$m node $v")
      }
      // (b) GOT is symmetrized (no dangling) ⇒ linearity: the set run
      // equals the average of the single-seed runs, at every size
      val singles = ss.map(s0 =>
        replay(edges, Seq(s0), Got.Alpha, GotQueries.GridPmIters)
          .withDefaultValue(0.0))
      byM(m).foreach { case (v, x) =>
        val mix = singles.map(_(v)).sum / m
        assert(math.abs(x - mix) < 1e-9, s"|S|=$m linearity at node $v")
      }
    }
    // (c) dangling separation, re-asserted at each size through the
    // SHIPPED local kernel: 8 candidate seeds all feeding a dangling
    // node, so the fresh-uniform(S) restart differs from the mixture.
    val dang8 = ((1L to 8L).map(s0 => (s0, 9L)) :+ (10L, 1L) :+ (1L, 2L))
      .toArray
    val csr = Csr.fromEdges(dang8)
    GotQueries.GridSeedSetSizes.foreach { m =>
      val ss = (1L to m.toLong).toArray
      val set = PowerIteration.runSeedSetLocal(csr,
        ss.map(csr.denseOf), alpha, iters)
      val mixture = ss.map(s0 => PowerIteration.runLocal(csr,
        csr.denseOf(s0), alpha, iters))
      val maxGap = (0 until csr.numNodes).map { v =>
        math.abs(set(v) - mixture.map(_(v)).sum / m)
      }.max
      assert(maxGap > 1e-4, s"|S|=$m dangling separation, gap $maxGap")
    }
  }

  test("g_ppr_seedset row: scores are the replay of the bench graph's " +
      "schedule at 9 dp") {
    import graft.queries.Graph
    import graft.graph.GraphOps
    val got = Graph.queries("g_ppr_seedset")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val edges = GraphOps.lineitemGraph(spark, sfDir, Graph.Mod).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = replay(edges, Graph.SeedSet, Graph.Alpha, Graph.Iters)
    assert(got.nonEmpty && got.keySet == want.keySet)
    got.foreach { case (v, x) =>
      assert(math.abs(x - want(v)) < 1.1e-9, s"node $v")
    }
  }
}
