package graft.ppr

import graft.graph.Csr

/** Walk-at-a-time copies of the FORA and Monte-Carlo kernels: every walk
  * runs on its own SplitMix64 stream from start to stop, and its credit is
  * added as soon as it stops. The specs pin the lock-step kernels
  * ([[MonteCarlo.walkEndpoints]]) to these loops with exact equality, over
  * the seeded random digraphs of [[randomDigraph]].
  */
object SerialWalks {

  final class SplitMix(private var state: Long) {
    def nextLong(): Long = { state += 0x9E3779B97F4A7C15L; Rng.mix(state) }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    def nextInt(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt
  }

  def streamSeed(seed: Long, a: Long, b: Long): Long =
    Rng.mix(seed ^ Rng.mix(a * 0xC2B2AE3D27D4EB4FL) ^ Rng.mix(b * 0x165667B19E3779F9L))

  def walkEndpoint(
      csr: Csr, startDense: Int, alpha: Double, rng: SplitMix,
      noZeroHop: Boolean): Int = {
    val d0 = csr.outDegree(startDense)
    if (d0 == 0) return startDense
    var cur = startDense
    if (noZeroHop) cur = csr.neighbor(startDense, rng.nextInt(d0))
    while (rng.nextDouble() >= alpha) {
      val d = csr.outDegree(cur)
      cur = if (d > 0) csr.neighbor(cur, rng.nextInt(d)) else startDense
    }
    cur
  }

  /** Whole-graph FORA: (scores, post-push state, walk budget, walks as
    * dense (start, endpoint) pairs).
    */
  def foraWhole(csr: Csr, srcDense: Int, conf: Fora.Conf)
      : (Array[Double], ForwardPush.PushState, Long, Seq[(Int, Int)]) = {
    val n = csr.numNodes.toDouble
    val m = csr.numEdges.toDouble
    val alpha = conf.alpha
    val eps = conf.epsilon
    val pf = if (conf.pfail > 0) conf.pfail else 1.0 / n
    val dl = if (conf.delta > 0) conf.delta else 1.0 / n
    val rmax = eps * math.sqrt(dl / 3.0 / m / math.log(2.0 / pf)) / (1.0 - alpha)
    val omega = (eps + 2.0) * math.log(2.0 / pf) / eps / eps / dl
    val st = ForwardPush.runLocal(csr, srcDense, alpha, rmax)
    val rsum = st.residue.sum * (1.0 - alpha)
    val numWalks = (omega * rsum).toLong
    val reserve = st.reserve.clone()
    val walks = Seq.newBuilder[(Int, Int)]
    if (numWalks > 0L) {
      val srcKey = Rng.mix(conf.seed ^ (srcDense * 0x9E3779B97F4A7C15L))
      for (v <- 0 until csr.numNodes; r = st.residue(v); if r != 0.0) {
        reserve(v) += alpha * r
        val rc = (1.0 - alpha) * r
        val omegaI = math.ceil(rc / rsum * numWalks).toLong
        if (omegaI > 0) {
          val incr = rc / rsum * numWalks / omegaI / numWalks * rsum
          var j = 0L
          while (j < omegaI) {
            val rng = new SplitMix(streamSeed(srcKey, v, j))
            val dest = walkEndpoint(csr, v, alpha, rng, noZeroHop = true)
            reserve(dest) += incr
            walks += ((v, dest))
            j += 1
          }
        }
      }
    }
    (reserve, st, numWalks, walks.result())
  }

  /** Top-k FORA, every round walked: the terminating round's (estimate,
    * carried push state, walk budget, walks as dense pairs).
    */
  def foraTopk(csr: Csr, srcDense: Int, k: Int, conf: Fora.Conf)
      : (Array[Double], ForwardPush.PushState, Long, Seq[(Int, Int)]) = {
    val n = csr.numNodes.toDouble
    val m = csr.numEdges.toDouble
    val alpha = conf.alpha
    val eps = conf.epsilon * 0.5
    val pf0 = if (conf.pfail > 0) conf.pfail else 1.0 / n
    val pf = pf0 / n / n / math.log(n / k.toDouble)
    val minDelta = 1.0 / n
    var deltaLocal = 1.0 / k.toDouble
    if (csr.outDegree(srcDense) == 0) {
      val res = new Array[Double](csr.numNodes)
      res(srcDense) = 1.0
      return (res, ForwardPush.PushState(res, new Array[Double](csr.numNodes), 0.0),
        0L, Nil)
    }
    val srcKey = Rng.mix(conf.seed ^ (srcDense * 0xC2B2AE3D27D4EB4FL))
    var carried = {
      val init = new Array[Double](csr.numNodes)
      init(srcDense) = 1.0
      ForwardPush.PushState(new Array[Double](csr.numNodes), init, 1.0)
    }
    var round = 0
    while (true) {
      var rmax = eps * math.sqrt(deltaLocal / 3.0 / m / math.log(2.0 / pf))
      val omega = (eps + 2.0) * math.log(2.0 / pf) / eps / eps / deltaLocal
      rmax *= math.sqrt(m * rmax) * 3.0
      carried = ForwardPush.runLocalFrom(csr, carried, srcDense, alpha, rmax)
      val numWalks = (omega * carried.residue.sum * (1.0 - alpha)).toLong
      val est = carried.reserve.clone()
      val walks = Seq.newBuilder[(Int, Int)]
      if (numWalks > 0)
        for (v <- 0 until csr.numNodes; r = carried.residue(v); if r != 0.0) {
          val omegaI = math.ceil(r * numWalks).toLong
          if (omegaI > 0) {
            val incr = r / omegaI
            var j = 0L
            while (j < omegaI) {
              val rng = new SplitMix(streamSeed(srcKey + round, v, j))
              val dest = walkEndpoint(csr, v, alpha, rng, noZeroHop = false)
              est(dest) += incr
              walks += ((v, dest))
              j += 1
            }
          }
        }
      if (Fora.kthLargest(est, k) >= (1.0 + eps) * deltaLocal || deltaLocal <= minDelta)
        return (est, carried, numWalks, walks.result())
      deltaLocal = math.max(minDelta, deltaLocal / 4.0)
      round += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Monte-Carlo scores of one source: stops / ω over walks 0 until ω. */
  def mcScores(csr: Csr, src: Long, alpha: Double, omega: Long, seed: Long): Array[Double] = {
    val sd = csr.denseOf(src)
    val counts = new Array[Long](csr.numNodes)
    var w = 0L
    while (w < omega) {
      val rng = new SplitMix(streamSeed(seed, src, w))
      counts(walkEndpoint(csr, sd, alpha, rng, noZeroHop = false)) += 1L
      w += 1
    }
    counts.map(_.toDouble / omega.toDouble)
  }

  /** Seeded random digraph (FIXTURES.md §3): 8 to 64 nodes, edge
    * probability in [0.05, 0.5], node 0 a hub with an edge to every other
    * node, and about one node in eight dangling (out-degree 0).
    */
  def randomDigraph(seed: Long): Csr = {
    val rnd = new scala.util.Random(seed)
    val n = 8 + rnd.nextInt(57)
    val p = 0.05 + 0.45 * rnd.nextDouble()
    val dangling = rnd.shuffle((1 until n).toList).take(1 + n / 8).toSet
    val edges = for {
      u <- 0 until n
      if !dangling(u)
      v <- 0 until n
      if u != v && (u == 0 || rnd.nextDouble() < p)
    } yield (u.toLong, v.toLong)
    Csr.fromEdges(edges.toArray)
  }
}
