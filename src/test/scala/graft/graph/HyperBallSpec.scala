package graft.graph

import graft.SparkSpec
import graft.queries.Graph

class HyperBallSpec extends SparkSpec {

  private def rho(w: Long): Int =
    if (w == 0L) Hashing.HllW + 1
    else Hashing.HllW + 1 - java.lang.Long.toBinaryString(w).length

  test("g_hyperball registers equal the exact in-memory replay (integer " +
      "end-to-end), grow monotonically, and the r=2 estimate tracks the " +
      "true ball size") {
    val got = Graph.queries("g_hyperball")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)),
        (r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap

    val edges = GraphOps.lineitemGraph(spark, sfDir, Graph.Mod).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      .withDefaultValue(Set.empty[Long])
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    assert(got.size == nodes.length)

    // exact balls by the register recurrence's set twin:
    // B_r(v) = B_{r-1}(v) ∪ ∪_{v→u} B_{r-1}(u)
    var ball = nodes.map(v => v -> Set(v)).toMap
    val balls = (1 to 2).map { _ =>
      ball = ball.map { case (v, b) =>
        v -> out(v).foldLeft(b)((acc, u) => acc ++ ball(u))
      }
      ball
    }

    val m = Hashing.HllM
    val pw = 1L << (Hashing.HllW + 1)
    def foldRegs(b: Set[Long]): (Long, Long) = {
      val regs = b.groupMapReduce(w => Hashing.kmvMix(w % Hashing.P) % m)(
        w => rho(Hashing.kmvMix(w % Hashing.P) / m))(math.max)
      val vZero = (m - regs.size).toLong
      val sScaled = regs.values.map(mj => 1L << (Hashing.HllW + 1 - mj)).sum +
        (m - regs.size) * pw
      (vZero, sScaled)
    }

    nodes.foreach { v =>
      val ((vz1, ss1, est1), (vz2, ss2, est2)) = got(v)
      assert((vz1, ss1) == foldRegs(balls(0)(v)), s"node $v r1 registers")
      assert((vz2, ss2) == foldRegs(balls(1)(v)), s"node $v r2 registers")
      // registers only grow with radius — exact integer monotonicity
      assert(vz2 <= vz1 && ss2 <= ss1, s"node $v registers shrank")
      assert(est1 > 0.0 && est2 > 0.0)
    }

    // sketch accuracy: m = 16 gives ~26% σ; the mean relative error of
    // the r=2 estimate against the true ball size must sit well inside
    // a loose 0.4 band (a broken recurrence lands far outside).
    val relErrs = nodes.map { v =>
      val tru = balls(1)(v).size.toDouble
      math.abs(got(v)._2._3 - tru) / tru
    }
    val mre = relErrs.sum / relErrs.length
    assert(mre < 0.4, s"mean relative error $mre")
  }

  test("g_harmonic is exactly the centrality projection of the " +
      "g_hyperball estimates") {
    import graft.queries.Graph
    val hb = Graph.queries("g_hyperball")(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(3), r.getDouble(6)))).toMap
    val got = Graph.queries("g_harmonic")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    assert(got.nonEmpty && got.length == hb.size)
    got.foreach { case (id, e1, e2, h) =>
      val (b1, b2) = hb(id)
      assert(e1 == b1 && e2 == b2, s"estimates drifted for $id")
      assert(h == Hashing.round6((e1 - 1.0) + (e2 - e1) / 2.0))
    }
  }

  test("g_closeness is exactly the closeness/Lin projection of the " +
      "g_hyperball estimates, with the sum_dist <= 0 guard") {
    import graft.queries.Graph
    val hb = Graph.queries("g_hyperball")(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(3), r.getDouble(6)))).toMap
    val got = Graph.queries("g_closeness")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.nonEmpty && got.length == hb.size)
    val r6 = Hashing.round6 _
    got.foreach { case (id, e1, e2, sd, cl, lin) =>
      val (b1, b2) = hb(id)
      assert(e1 == b1 && e2 == b2, s"estimates drifted for $id")
      val sdRaw = (e1 - 1.0) + (e2 - e1) * 2.0
      assert(sd == r6(sdRaw))
      if (sdRaw > 0.0) {
        val reached = e2 - 1.0
        assert(cl == r6(reached / sdRaw), s"closeness for $id")
        assert(lin == r6(reached * reached / sdRaw), s"lin for $id")
        // Lin = reached × closeness up to rounding; both ≥ 0
        assert(cl >= 0.0 && lin >= 0.0)
      } else {
        assert(cl == 0.0 && lin == 0.0, s"guard for $id")
      }
    }
  }

  test("g_eff_diameter equals the exact in-memory HyperANF replay " +
      "(registers → 4-dp estimates → exact ×10⁴ integer sum), stops at " +
      "the replayed register fixpoint (exact Σmj checksum) capped at " +
      "the horizon, the curve is monotone, the 90% flag is a step " +
      "ending at 1, and sat/hops disclose the stop") {
    val H = Graph.EffDiamHops
    val rows = Graph.queries("g_eff_diameter")(spark, sfDir).collect()
    val got = rows
      .map(r => (r.getInt(0), (r.getDouble(1), r.getDouble(2), r.getInt(3))))
      .sortBy(_._1)
    val sats = rows.map(_.getInt(4)).distinct.toSeq
    assert(sats.size == 1, s"sat must be one constant flag, got $sats")
    val hopsCols = rows.map(_.getInt(5)).distinct.toSeq
    assert(hopsCols.size == 1, s"hops must be one constant, got $hopsCols")

    val edges = GraphOps.lineitemGraph(spark, sfDir, Graph.Mod).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      .withDefaultValue(Set.empty[Long])
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val m = Hashing.HllM
    val pw = 1L << (Hashing.HllW + 1)
    def round(x: Double, s: Int): Double =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    def regsOf(b: Set[Long]): Map[Long, Int] =
      b.groupMapReduce(w => Hashing.kmvMix(w % Hashing.P) % m)(
        w => rho(Hashing.kmvMix(w % Hashing.P) / m))(math.max)
    def estOf(b: Set[Long]): Double = {
      val regs = regsOf(b)
      val vz = (m - regs.size).toLong
      val ss = regs.values.map(mj => 1L << (Hashing.HllW + 1 - mj)).sum +
        (m - regs.size) * pw
      val raw = (0.673 * m * m) / (ss.toDouble / pw)
      round(if (raw <= 2.5 * m && vz > 0) m * math.log(m.toDouble / vz)
        else raw, 4)
    }
    var ball = nodes.map(v => v -> Set(v)).toMap
    def nfOf(b: Map[Long, Set[Long]]): Double =
      b.valuesIterator.map(s => math.round(estOf(s) * 10000.0)).sum / 10000.0
    // the engine's stop rule: exact integer register checksum Σmj
    def chkOf(b: Map[Long, Set[Long]]): Long =
      b.valuesIterator.map(s => regsOf(s).values.map(_.toLong).sum).sum
    val nfs = Seq.newBuilder[Double]
    val chks = Seq.newBuilder[Long]
    nfs += nfOf(ball); chks += chkOf(ball)
    for (_ <- 1 to H) {
      ball = ball.map { case (v, b) =>
        v -> out(v).foldLeft(b)((acc, u) => acc ++ ball(u))
      }
      nfs += nfOf(ball); chks += chkOf(ball)
    }
    val want = nfs.result()
    val chk = chks.result()
    // replayed adaptive stop: first flat-chk hop (register fixpoint),
    // capped at the horizon
    val hstop = (1 to H).find(h => chk(h) == chk(h - 1)).getOrElse(H)
    assert(got.map(_._1).toSeq == (0 to hstop),
      s"rows must end at the replayed stop hop $hstop")
    assert(hopsCols.head == hstop, "hops column diverged from the replay")
    assert(sats.head ==
        (if (chk(hstop) == chk(hstop - 1)) 1 else 0),
      "sat flag diverged from the replayed register fixpoint")
    val nfh = want(hstop)
    got.foreach { case (h, (nf, frac, reach)) =>
      assert(nf == round(want(h), 6), s"hop $h nf")
      assert(frac == round(want(h) / nfh, 6), s"hop $h frac")
      assert(reach == (if (want(h) >= 0.9 * nfh) 1 else 0), s"hop $h flag")
    }
    // curve shape: registers are monotone so N(h) is non-decreasing,
    // the flag is a monotone step, and it is SET at the stop hop
    got.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._2._1 >= a._2._1, "N(h) decreased")
        assert(b._2._3 >= a._2._3, "reach flag un-set")
      case _ => ()
    }
    assert(got.last._2._3 == 1 && got.last._2._2 == 1.0)
    // the effective diameter itself: first flagged hop, within horizon
    val eff = got.find(_._2._3 == 1).get._1
    assert(eff >= 0 && eff <= hstop)
  }

  test("adaptive horizon: a long-path fixture stops at the replayed " +
      "register fixpoint with sat=1, a binding cap stops early " +
      "with sat=0, and at a pinned horizon it equals the fixed run") {
    val s = spark
    import s.implicits._
    def round(x: Double, sc: Int): Double =
      BigDecimal(x).setScale(sc, BigDecimal.RoundingMode.HALF_UP).toDouble
    // undirected 20-node path: diameter 19, far past the default 8-hop
    // horizon — exactly the lower-bound case the sat bit discloses and
    // the adaptive mode resolves.
    val n = 20L
    val es = (0L until n - 1).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val edges = es.toDF("src", "dst").localCheckpoint(true)

    // exact in-memory HyperANF replay (the estimate-curve semantics the
    // engine stops on — NOT the graph-theoretic diameter: HyperANF's
    // stop rule reads the sketch curve, like the original paper's)
    val out = es.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      .withDefaultValue(Set.empty[Long])
    val m = Hashing.HllM
    val pw = 1L << (Hashing.HllW + 1)
    def estOf(b: Set[Long]): Double = {
      val regs = b.groupMapReduce(w => Hashing.kmvMix(w % Hashing.P) % m)(
        w => rho(Hashing.kmvMix(w % Hashing.P) / m))(math.max)
      val vz = (m - regs.size).toLong
      val ss = regs.values.map(mj => 1L << (Hashing.HllW + 1 - mj)).sum +
        (m - regs.size) * pw
      val raw = (0.673 * m * m) / (ss.toDouble / pw)
      round(if (raw <= 2.5 * m && vz > 0) m * math.log(m.toDouble / vz)
        else raw, 4)
    }
    def regsOf(b: Set[Long]): Map[Long, Int] =
      b.groupMapReduce(w => Hashing.kmvMix(w % Hashing.P) % m)(
        w => rho(Hashing.kmvMix(w % Hashing.P) / m))(math.max)
    var ball = (0L until n).map(v => v -> Set(v)).toMap
    def nfOf(b: Map[Long, Set[Long]]): Double =
      b.valuesIterator.map(x => math.round(estOf(x) * 10000.0)).sum / 10000.0
    def chkOf(b: Map[Long, Set[Long]]): Long =
      b.valuesIterator.map(x => regsOf(x).values.map(_.toLong).sum).sum
    val nfs = scala.collection.mutable.ArrayBuffer(nfOf(ball))
    val chks = scala.collection.mutable.ArrayBuffer(chkOf(ball))
    var flat = -1
    var h = 0
    while (flat < 0) {
      h += 1
      ball = ball.map { case (v, b) =>
        v -> out(v).foldLeft(b)((acc, u) => acc ++ ball(u))
      }
      nfs += nfOf(ball)
      chks += chkOf(ball)
      // the engine's stop rule: exact register-checksum fixpoint, NOT
      // the 4-dp-rounded nf curve (which can flatten transiently)
      if (h >= 2 && chks(h) == chks(h - 1)) flat = h
    }
    assert(flat > Graph.EffDiamHops,
      s"fixture must out-run the default horizon, flattened at $flat")

    val got = Graph.effDiameterRunAdaptive(edges, startHops = 2,
        hopCap = 64).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getInt(4), r.getInt(5)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == (0 to flat),
      s"adaptive run must stop at the register fixpoint hop $flat")
    got.foreach { case (hh, nf, sat, hops) =>
      assert(nf == round(nfs(hh), 6), s"hop $hh nf")
      assert(sat == 1, "a saturation stop must disclose sat=1")
      assert(hops == flat, "hops column must disclose the stop hop")
    }

    // binding cap: stops at the cap with the growth disclosed (sat=0)
    val cap = flat - 3
    val capped = Graph.effDiameterRunAdaptive(edges, startHops = 2,
        hopCap = cap).collect()
      .map(r => (r.getInt(0), r.getInt(4))).sortBy(_._1)
    assert(capped.map(_._1).toSeq == (0 to cap))
    assert(chks(cap) != chks(cap - 1), "replay sanity: still growing at cap")
    capped.foreach { case (_, sat) =>
      assert(sat == 0, "a cap-bound stop must disclose sat=0") }

    // at a PINNED horizon (startHops = hopCap = H) the adaptive mode
    // runs the fixed schedule verbatim, so its curve columns equal
    // [[Graph.effDiameterRun]]'s on the bench graph unconditionally
    val bench = GraphOps.lineitemGraph(spark, sfDir, Graph.Mod)
      .localCheckpoint(true)
    val fixed = Graph.effDiameterRun(bench).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getInt(3)))
      .sortBy(_._1).toSeq
    val ad = Graph.effDiameterRunAdaptive(bench,
        startHops = Graph.EffDiamHops, hopCap = Graph.EffDiamHops)
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getInt(3)))
      .sortBy(_._1).toSeq
    assert(ad == fixed, "adaptive at the pinned horizon diverged")
  }

  test("hbShared: the shared register chain's fold ≡ a standalone " +
      "hyperBallRun and its curve ≡ a standalone adaptive run; " +
      "invalidation refits to the same answer") {
    def foldRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).sortBy(_._1).toSeq
    def curveRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getInt(3),
        r.getInt(4), r.getInt(5))).sortBy(_._1).toSeq

    Graph.invalidateModels(spark, sfDir) // force a fresh fit
    val (fold, effd) = Graph.hbShared(spark, sfDir)
    val edges = GraphOps.lineitemGraph(spark, sfDir, Graph.Mod)
      .localCheckpoint(true)
    assert(foldRows(fold) == foldRows(Graph.hyperBallRun(edges)),
      "shared fold diverged from hyperBallRun")
    assert(curveRows(effd) == curveRows(Graph.effDiameterRunAdaptive(
        edges, startHops = 1, hopCap = Graph.EffDiamHops)),
      "shared curve diverged from effDiameterRunAdaptive")

    // drop → refit must reproduce the same frames (the re-ingest path);
    // capture BEFORE invalidating — the old frames' pinned blocks are
    // released by the drop.
    val foldBefore = foldRows(fold)
    val curveBefore = curveRows(effd)
    Graph.invalidateModels(spark, sfDir)
    val (fold2, effd2) = Graph.hbShared(spark, sfDir)
    assert(foldRows(fold2) == foldBefore, "refit fold drifted")
    assert(curveRows(effd2) == curveBefore, "refit curve drifted")
  }
}
