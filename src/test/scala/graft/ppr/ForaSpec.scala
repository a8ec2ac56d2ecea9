package graft.ppr

import graft.SparkSpec
import graft.graph.GraphOps
import java.util.Arrays

class ForaSpec extends SparkSpec {

  private def edgesDf = {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 1L), (4L, 1L), (3L, 4L))
      .toDF("src", "dst")
  }

  test("whole-graph FORA is deterministic and near ground truth") {
    val csr = GraphOps.buildCsr(edgesDf)
    val conf = Fora.Conf(alpha = 0.15, epsilon = 0.3, seed = 42L)
    val a = Fora.wholeGraphLocal(csr, csr.denseOf(1L), conf)
    val b = Fora.wholeGraphLocal(csr, csr.denseOf(1L), conf)
    assert(a.sameElements(b))
    val exact = PowerIteration.runLocal(csr, csr.denseOf(1L), 0.15, 500)
    val maxErr = (0 until csr.numNodes)
      .map(v => math.abs(exact(v) - a(v))).max
    assert(maxErr < 0.05, s"maxErr=$maxErr")
    // FORA preserves total mass: reserve + walk credits sum to ~1.
    assert(math.abs(a.sum - 1.0) < 1e-9)
  }

  test("top-k FORA recovers the true top-k on a small graph") {
    val csr = GraphOps.buildCsr(edgesDf)
    val k = 3
    val scores = Fora.topkLocal(csr, csr.denseOf(1L), k,
      Fora.Conf(alpha = 0.15, epsilon = 0.5, seed = 42L))
    val exact = PowerIteration.runLocal(csr, csr.denseOf(1L), 0.15, 500)
    val trueTop = (0 until csr.numNodes).sortBy(v => -exact(v)).take(k).toSet
    val kth = Fora.kthLargest(scores, k)
    val estTop = (0 until csr.numNodes).filter(v => scores(v) >= kth && scores(v) > 0).toSet
    assert((trueTop intersect estTop).size >= k - 1,
      s"true=$trueTop est=$estTop")
  }

  test("degenerate source (outdeg 0) short-circuits to itself") {
    val s = spark
    import s.implicits._
    val e = Seq((2L, 1L), (3L, 2L)).toDF("src", "dst")
    val csr = GraphOps.buildCsr(e)
    val scores = Fora.topkLocal(csr, csr.denseOf(1L), 2, Fora.Conf())
    assert(scores(csr.denseOf(1L)) == 1.0)
    assert(scores.sum == 1.0)
  }

  test("wholeGraphTrace recomposes to wholeGraphLocal's scores") {
    val csr = GraphOps.buildCsr(edgesDf)
    val conf = Fora.Conf(alpha = 0.15, epsilon = 0.3, seed = 42L)
    val direct = Fora.wholeGraphLocal(csr, csr.denseOf(1L), conf)
    val t = Fora.wholeGraphTrace(csr, csr.denseOf(1L), conf)
    // recompose exactly as the replay SQL does: reserve (+ α-fold when
    // walks ran) + per-walk credit a_v/ω·rsum, same expression chain.
    val rec = t.reserve.clone()
    if (t.numWalks > 0) {
      for (v <- 0 until csr.numNodes; r = t.residue(v); if r != 0.0)
        rec(v) += conf.alpha * r
      for ((vOrig, dOrig) <- t.walks) {
        val r = t.residue(csr.denseOf(vOrig))
        val rc = (1.0 - conf.alpha) * r
        val omegaI = math.ceil(rc / t.rsum * t.numWalks).toLong
        rec(csr.denseOf(dOrig)) += rc / t.rsum * t.numWalks / omegaI / t.numWalks * t.rsum
      }
    }
    val maxDiff = (0 until csr.numNodes)
      .map(v => math.abs(rec(v) - direct(v))).max
    assert(maxDiff < 1e-12, s"trace recomposition drifted: $maxDiff")
  }

  test("topkTrace recomposes to topkLocal's terminating estimate cut") {
    val csr = GraphOps.buildCsr(edgesDf)
    val k = 3
    val conf = Fora.Conf(alpha = 0.15, epsilon = 0.5, seed = 42L)
    val direct = Fora.topkLocal(csr, csr.denseOf(1L), k, conf)
    val t = Fora.topkTrace(csr, csr.denseOf(1L), k, conf)
    val rec = t.reserve.clone()
    if (t.numWalks > 0)
      for ((vOrig, dOrig) <- t.walks) {
        val r = t.residue(csr.denseOf(vOrig))
        val omegaI = math.ceil(r * t.numWalks).toLong
        rec(csr.denseOf(dOrig)) += r / omegaI
      }
    val maxDiff = (0 until csr.numNodes)
      .map(v => math.abs(rec(v) - direct(v))).max
    assert(maxDiff < 1e-12, s"trace recomposition drifted: $maxDiff")
  }

  test("batch APIs emit one vector per source") {
    val csr = GraphOps.buildCsr(edgesDf)
    val whole = Fora.batch(spark, csr, Seq(1L, 2L), Fora.Conf(epsilon = 0.5))
    assert(whole.select("src").distinct().count() == 2)
    val topk = Fora.topkBatch(spark, csr, Seq(1L, 2L), 2, Fora.Conf(epsilon = 0.5))
    val perSrc = topk.groupBy("src").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perSrc.values.forall(_ >= 2)) // tie-inclusive ≥ k when ≥k nonzero
  }

  test("topkTrace rejects k < 1") {
    val csr = GraphOps.buildCsr(edgesDf)
    val conf = Fora.Conf(alpha = 0.15, epsilon = 0.5, seed = 42L)
    for (k <- Seq(0, -1)) {
      val err = intercept[IllegalArgumentException](
        Fora.topkTrace(csr, csr.denseOf(1L), k, conf))
      assert(err.getMessage.contains("k must be >= 1"), err.getMessage)
    }
  }

  test("topkTrace rejects k >= n, naming k and n") {
    val csr = GraphOps.buildCsr(edgesDf)
    val conf = Fora.Conf(alpha = 0.15, epsilon = 0.5, seed = 42L)
    for (k <- Seq(4, 5)) {
      val err = intercept[IllegalArgumentException](
        Fora.topkTrace(csr, csr.denseOf(1L), k, conf))
      assert(err.getMessage.contains(s"k must be < n = 4") &&
        err.getMessage.contains(s"got $k"), err.getMessage)
    }
  }

  /** Seeded digraph of `n` nodes, 2 to 24 out-edges per node, heads drawn
    * with density skewed towards low ids, so a few nodes hold most of the
    * PPR mass.
    */
  private def skewedDigraph(seed: Long, n: Int): graft.graph.Csr = {
    val rnd = new scala.util.Random(seed)
    val edges = for {
      u <- 0 until n
      _ <- 0 until 2 + rnd.nextInt(23)
      v = (n * math.pow(rnd.nextDouble(), 3)).toInt
      if v != u
    } yield (u.toLong, v.toLong)
    graft.graph.Csr.fromEdges(edges.distinct.toArray)
  }

  /** The carried push state after each top-k round, in round order, on
    * `Fora.topkRun`'s rmax schedule (δ: 1/k, ÷4, down to 1/n).
    */
  private def pushRounds(csr: graft.graph.Csr, s: Int, k: Int, conf: Fora.Conf)
      : IndexedSeq[ForwardPush.PushState] = {
    val n = csr.numNodes.toDouble
    val m = csr.numEdges.toDouble
    val eps = conf.epsilon * 0.5
    val pf = 1.0 / n / n / n / math.log(n / k.toDouble)
    val deltas = Iterator.iterate(1.0 / k)(d => math.max(1.0 / n, d / 4.0))
      .takeWhile(_ > 1.0 / n).toIndexedSeq :+ 1.0 / n
    val init = new Array[Double](csr.numNodes)
    init(s) = 1.0
    deltas.scanLeft(ForwardPush.PushState(new Array[Double](csr.numNodes), init, 1.0)) {
      (st, d) =>
        var rmax = eps * math.sqrt(d / 3.0 / m / math.log(2.0 / pf))
        rmax *= math.sqrt(m * rmax) * 3.0
        ForwardPush.runLocalFrom(csr, st, s, conf.alpha, rmax)
    }.tail
  }

  test("a pilot skips rounds' walks; answers equal every-round walking or come from a later round") {
    val k = 10
    val conf = Fora.Conf(alpha = 0.15, epsilon = 0.5, seed = 7L)
    var skipped = 0
    var sameRound = 0
    for (g <- 1L to 2L) {
      val csr = skewedDigraph(g, 2000)
      val n = csr.numNodes
      for (s <- Seq(0, 3, 250, 1200, 1999)) {
        val what = s"graph $g src $s"
        val (est, carried, _, _) = SerialWalks.foraTopk(csr, s, k, conf)
        val t = Fora.topkTrace(csr, s, k, conf)
        val local = Fora.topkLocal(csr, s, k, conf)
        // round 0 (δ = 1/k) cannot end by mass; when later rounds before
        // the terminating one ran no full walks, their pilots skipped them
        if (t.round >= 2 && t.pilotWalks > 0 && t.fullWalks == t.walks.length) skipped += 1
        val rounds = pushRounds(csr, s, k, conf)
        assert(Arrays.equals(rounds(t.round).residue, t.residue), what)
        val serialRound = rounds.indexWhere(st =>
          Arrays.equals(st.residue, carried.residue) && Arrays.equals(st.reserve, carried.reserve))
        assert(serialRound >= 0, what)
        if (t.round == serialRound) {
          sameRound += 1
          assert(Arrays.equals(local, est), what)
        } else assert(t.round > serialRound, s"$what: round ${t.round} vs $serialRound")
        val exact = PowerIteration.runLocal(csr, s, conf.alpha, 200)
        val kth = Fora.kthLargest(local, k)
        for (v <- 0 until n if local(v) > 0 && local(v) >= kth)
          assert(math.abs(local(v) - exact(v)) <= conf.epsilon * exact(v) + 1.0 / n,
            s"$what node $v: ${local(v)} vs ${exact(v)}")
      }
    }
    assert(skipped > 0, "no pilot skipped a round's walks")
    info(s"$skipped of 10 sources skipped a round's walks, $sameRound ended in the same round")
  }

  // SerialWalks.foraTopk walks every round, so its top-k answers match only
  // while no pilot skips a round that would end. On these graphs (n ≤ 64)
  // a round's walks far outnumber its nodes, so a pilot's kth score lies
  // close to the full estimate's and no pilot skips such a round; that is
  // a property of these graphs and seeds, not a guarantee. If only the top-k asserts
  // here fail, look first at the pilot (Fora's PilotShare and PilotMargin),
  // then at the lock-step walks.
  test("lock-step walks give the serial walk loop's answers bit for bit") {
    for (g <- 1L to 6L) {
      val csr = SerialWalks.randomDigraph(g)
      val n = csr.numNodes
      val conf = Fora.Conf(alpha = 0.15, epsilon = 0.5, seed = 40L + g)
      assert((0 until n).exists(csr.outDegree(_) == 0), s"graph $g: no dangling node")
      for (s <- 0 until n) {
        val (whole, st, wholeWalks, wWalks) = SerialWalks.foraWhole(csr, s, conf)
        assert(Arrays.equals(Fora.wholeGraphLocal(csr, s, conf), whole), s"graph $g src $s")
        val wt = Fora.wholeGraphTrace(csr, s, conf)
        assert(wt.numWalks == wholeWalks && Arrays.equals(wt.residue, st.residue))
        assert(wt.walks.toSeq ==
          wWalks.map { case (v, d) => (csr.originalOf(v), csr.originalOf(d)) },
          s"graph $g src $s: whole-graph walks")
        for (k <- Seq(1, 5, n - 1)) {
          val (est, carried, numWalks, walks) = SerialWalks.foraTopk(csr, s, k, conf)
          val what = s"graph $g src $s k $k"
          assert(Arrays.equals(Fora.topkLocal(csr, s, k, conf), est), what)
          val t = Fora.topkTrace(csr, s, k, conf)
          assert(Arrays.equals(t.reserve, carried.reserve), what)
          assert(Arrays.equals(t.residue, carried.residue), what)
          assert(t.numWalks == numWalks, what)
          assert(t.walks.toSeq ==
            walks.map { case (v, d) => (csr.originalOf(v), csr.originalOf(d)) }, what)
        }
      }
    }
  }
}
