package graft.ppr

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.graph.Csr

/** K6/K7 — FORA: Forward Push + Random Walks (Wang et al., KDD'17; SURVEY
  * §2.8; reference `Fora_Whole_Graph.java:82-146`, `Fora_Topk.java:102-184`).
  *
  * Whole-graph: push with rmax(ε) = ε·√(δ/(3·m·ln(2/p_fail)))/(1-α), then
  * for every residual node v run ω_v = ⌈(1-α)·r_v/rsum·ω⌉ no-zero-hop
  * walks, crediting a_v·rsum/ω per walk to the destination
  * (`Fora_Whole_Graph.java:86-87,122-139`). The reference's measured-time
  * rmax-halving loop (`:93-103`, 400 ns/walk cost model) is replaced by the
  * closed-form rmax — deterministic on a cluster, same (ε,δ,p_fail)
  * guarantee (SURVEY §7.4.4).
  *
  * Top-k: round loop δ: 1/k → ÷4 → 1/n; per round continue the carried
  * push state at the round's rmax, run residual walks onto a COPY of the
  * push reserve, stop when the kth score ≥ (1+ε′)·δ
  * (`Fora_Topk.java:122-180`; ε′ = ε/2 at `:110`). The estimate sums to
  * 1, so a round with k·(1+ε′)·δ > 1 (the first, δ = 1/k) cannot stop by
  * mass alone: its push runs, but its walks are skipped and its estimate,
  * which could only be thrown away, is never built.
  *
  * Pilot: only the terminating round's walks are kept, so before a
  * round's full walks the loop runs a pilot — W = ⌊walks/32⌋ walks
  * (`PilotShare`), spread over the residue by systematic sampling, each
  * crediting Σr/W onto its own copy of the reserve, on RNG streams apart
  * from every full round's. The full walks run only when the pilot's kth
  * score is at least 0.9·(1+ε′)·δ (`PilotMargin`); otherwise the round's
  * walks are skipped and its push state carries on. No pilot runs in the
  * last round (δ = 1/n, which always ends) or when W is 0. Systematic
  * sampling, not ⌈r_v·W⌉ walks per node as in [[topkWalks]]: the ceiling
  * gives every residual node a walk, about 3× the pilot walks on
  * `topk_serve`'s graph, and that workload ran 11 % fewer queries per
  * second with it. The termination test is always the full estimate's.
  * So when the same round ends the answer is bit-identical to walking
  * every round; when a pilot skipped a round that would have ended, the
  * answer comes from a later round with a smaller δ, inside the same
  * (ε, δ, p_fail) bound.
  *
  * Walks: each residual node's walks run [[MonteCarlo.Lanes]] at a time
  * in lock-step ([[MonteCarlo.walkEndpoints]]), one RNG stream per
  * (round key, node, walk index), and are credited in walk order — the
  * answers equal a walk-at-a-time loop's bit for bit (ForaSpec).
  *
  * Scale shape: the batch API fans sources out over tasks (one dense
  * kernel per source over the broadcast CSR) — walks for a source never
  * leave their task, so shuffle volume is O(nonzero scores), not O(walks).
  */
object Fora {

  final case class Conf(
      alpha: Double = 0.15,
      epsilon: Double = 0.5,
      pfail: Double = 0.0, // 0 → 1/n (Algo_Conf.java:45-53)
      delta: Double = 0.0, // 0 → 1/n
      seed: Long = 42L)

  /** Shared whole-graph push phase: closed-form rmax(ε) push plus the
    * (rsum, ω·rsum) walk-bookkeeping scalars. ONE body serves both the
    * production kernel ([[wholeGraphLocal]]) and the verification trace
    * ([[wholeGraphTrace]]) so a parameter-formula edit cannot silently
    * diverge the oracle replay from production.
    */
  private def wholeGraphPush(
      csr: Csr, srcDense: Int, conf: Conf): (ForwardPush.PushState, Double, Long) = {
    val n = csr.numNodes.toDouble
    val m = csr.numEdges.toDouble
    val alpha = conf.alpha
    val eps = conf.epsilon
    val pf = if (conf.pfail > 0) conf.pfail else 1.0 / n
    val dl = if (conf.delta > 0) conf.delta else 1.0 / n
    val rmax = eps * math.sqrt(dl / 3.0 / m / math.log(2.0 / pf)) / (1.0 - alpha)
    val omega = (eps + 2.0) * math.log(2.0 / pf) / eps / eps / dl
    val st = ForwardPush.runLocal(csr, srcDense, alpha, rmax)
    val rsumLocal = st.residue.sum * (1.0 - alpha) // Fora_Whole_Graph.java:101
    val numWalks = (omega * rsumLocal).toLong
    (st, rsumLocal, numWalks)
  }

  /** Shared whole-graph residual-walk loop. Per residual node v:
    * `onResidual(v, r)` (production's α-fold), then ω_v = ⌈r_c/rsum·ω⌉
    * seeded walks each reported via `onWalk(vDense, destDense, incr)` —
    * the RNG stream keys and walk order are THE definition both the
    * production reduce and the materialized trace replay.
    */
  private def wholeGraphWalks(
      csr: Csr,
      srcDense: Int,
      residue: Array[Double],
      rsumLocal: Double,
      numWalks: Long,
      conf: Conf,
      onResidual: (Int, Double) => Unit,
      onWalk: (Int, Int, Double) => Unit): Unit = {
    val alpha = conf.alpha
    val srcKey = Rng.mix(conf.seed ^ (srcDense * 0x9E3779B97F4A7C15L))
    val ends = new Array[Int](MonteCarlo.WalkBlock)
    var v = 0
    while (v < csr.numNodes) {
      val r = residue(v)
      if (r != 0.0) {
        onResidual(v, r)                      // Fora_Whole_Graph.java:122-127
        val rc = (1.0 - alpha) * r
        val omegaI = math.ceil(rc / rsumLocal * numWalks).toLong
        if (omegaI > 0) {
          val aI = rc / rsumLocal * numWalks / omegaI
          val incr = aI / numWalks * rsumLocal
          val key = Rng.streamKey(srcKey, v)
          var j = 0L
          while (j < omegaI) {
            val b = math.min(MonteCarlo.WalkBlock.toLong, omegaI - j).toInt
            MonteCarlo.walkEndpoints(csr, v, alpha, noZeroHop = true, key, j, b, ends)
            var i = 0
            while (i < b) { onWalk(v, ends(i), incr); i += 1 }
            j += b
          }
        }
      }
      v += 1
    }
  }

  /** Whole-graph FORA for one source (dense kernel). */
  def wholeGraphLocal(csr: Csr, srcDense: Int, conf: Conf): Array[Double] = {
    val (st, rsumLocal, numWalks) = wholeGraphPush(csr, srcDense, conf)
    val reserve = st.reserve.clone()
    if (numWalks <= 0L) return reserve
    wholeGraphWalks(csr, srcDense, st.residue, rsumLocal, numWalks, conf,
      onResidual = (v, r) => reserve(v) += conf.alpha * r,
      onWalk = (_, dest, incr) => reserve(dest) += incr)
    reserve
  }

  /** Walk recorder for [[topkRun]]'s trace mode: dense (start, endpoint)
    * pairs, reset at every round start so only the TERMINATING round's
    * walks survive for the oracle replay. The production path passes
    * `rec = null` — a hoisted null check per walk instead of the
    * per-walk `Function2` dispatch the r13 kernel dedup introduced,
    * which r17 measured as the syn_fora_topk −18 % dip (callbacks were
    * no-ops on the hot path but the megamorphic call cost ~25 % at the
    * walk-heavy ε = 0.1 grid point; 2,660 qpm with the check vs 2,000
    * with the lambdas, same seeds, same output).
    */
  private final class WalkRec {
    var walks: scala.collection.mutable.ArrayBuilder[(Int, Int)] =
      Array.newBuilder[(Int, Int)]
    def reset(): Unit = walks = Array.newBuilder[(Int, Int)]
  }

  /** A pilot's share of its round's walks: W = ⌊walks / PilotShare⌋. */
  private val PilotShare = 32

  /** The round's full walks run when the pilot's kth score is at least
    * PilotMargin·(1+ε′)·δ.
    */
  private val PilotMargin = 0.9

  /** Keeps the pilots' RNG streams apart from the full rounds'. */
  private val PilotSalt = 0x5851F42D4C957F2DL

  /** The terminating round of [[topkRun]]: its carried push state, walk
    * budget and estimate vector, its index, and the pilot and full walks
    * run over all rounds.
    */
  private final case class TopkEnd(
      carried: ForwardPush.PushState,
      numWalks: Long,
      est: Array[Double],
      round: Int,
      pilotWalks: Long,
      fullWalks: Long)

  /** Shared top-k δ-halving round loop — ONE body serves both the
    * production kernel ([[topkLocal]], `rec = null`) and the
    * verification trace ([[topkTrace]]), so rmax/ω formulas, RNG stream
    * keys, the pilot and the round-advance decision cannot drift between
    * them.
    */
  private def topkRun(csr: Csr, srcDense: Int, k: Int, conf: Conf, rec: WalkRec): TopkEnd = {
    val n = csr.numNodes.toDouble
    val m = csr.numEdges.toDouble
    val alpha = conf.alpha
    val eps = conf.epsilon * 0.5 // Fora_Topk.java:110
    // pfail' = pfail/n²/ln(n/k) — natural log per Algo_Conf.java:76.
    // Intentional deviation: the reference divides node_amount/k in Java
    // INT arithmetic (ln(⌊n/k⌋)); we keep the real-valued ratio ln(n/k),
    // which is the quantity the FORA paper's union bound actually needs —
    // the truncation is an artifact, not a semantic.
    val pf0 = if (conf.pfail > 0) conf.pfail else 1.0 / n
    val pf = pf0 / n / n / math.log(n / k.toDouble)
    val minDelta = 1.0 / n
    var deltaLocal = 1.0 / k.toDouble

    if (csr.outDegree(srcDense) == 0) { // Fora_Topk.java:127-131
      val res = new Array[Double](csr.numNodes)
      res(srcDense) = 1.0
      return TopkEnd(ForwardPush.PushState(res, new Array[Double](csr.numNodes), 0.0),
        0L, res, 0, 0L, 0L)
    }

    val srcKey = Rng.mix(conf.seed ^ (srcDense * 0xC2B2AE3D27D4EB4FL))
    val pilotKey = Rng.mix(srcKey ^ PilotSalt)
    var carried = {
      val init = new Array[Double](csr.numNodes)
      init(srcDense) = 1.0
      ForwardPush.PushState(new Array[Double](csr.numNodes), init, 1.0)
    }
    val ends = new Array[Int](MonteCarlo.WalkBlock)
    var round = 0
    var pilotWalks = 0L
    var fullWalks = 0L
    var result: TopkEnd = null
    while (result == null) {
      if (rec != null) rec.reset()
      var rmax = eps * math.sqrt(deltaLocal / 3.0 / m / math.log(2.0 / pf))
      val omega = (eps + 2.0) * math.log(2.0 / pf) / eps / eps / deltaLocal
      rmax *= math.sqrt(m * rmax) * 3.0 // Fora_Topk.java:133

      carried = ForwardPush.runLocalFrom(csr, carried, srcDense, alpha, rmax)
      val last = deltaLocal <= minDelta
      val bar = (1.0 + eps) * deltaLocal
      // The estimate sums to 1, so while k·(1+ε′)·δ > 1 no k scores can
      // reach (1+ε′)·δ: such a round (always the first, δ = 1/k) cannot
      // end, and its walks are skipped. The last round (δ = 1/n) always
      // ends. The 1e-6 margin covers the rounding of the sums.
      if (last || k * bar <= 1.0 + 1e-6) {
        val residueSum = carried.residue.sum
        val rsumRw = residueSum * (1.0 - alpha)
        val numWalks = (omega * rsumRw).toLong
        val pilot = (numWalks * residueSum / PilotShare).toLong // walks ≈ Σ⌈r_v·numWalks⌉
        val worthWalking = last || pilot == 0L || {
          val (kth, ran) = pilotKth(csr, carried, residueSum, pilot, alpha,
            pilotKey + round, k, ends)
          pilotWalks += ran
          kth >= PilotMargin * bar
        }
        if (worthWalking) {
          val est = carried.reserve.clone()
          if (numWalks > 0)
            fullWalks += topkWalks(csr, carried.residue, numWalks, alpha, srcKey + round,
              est, rec, ends)
          if (kthLargest(est, k) >= bar || last)
            result = TopkEnd(carried, numWalks, est, round, pilotWalks, fullWalks)
        }
      }
      if (result == null)
        deltaLocal = math.max(minDelta, deltaLocal / 4.0) // Fora_Topk.java:179
      round += 1
    }
    result
  }

  /** A round's pilot: `w` walks placed on the residue by systematic
    * sampling — the points (u + i)·Σr/w, u uniform in [0, 1), falling in
    * node v's share of [0, Σr) are v's walks — each crediting Σr/w to its
    * endpoint on a copy of the reserve. Returns that copy's kth score and
    * the walks run.
    */
  private def pilotKth(
      csr: Csr, carried: ForwardPush.PushState, residueSum: Double, w: Long,
      alpha: Double, key: Long, k: Int, ends: Array[Int]): (Double, Long) = {
    val est = carried.reserve.clone()
    val residue = carried.residue
    val step = residueSum / w
    val u = Rng.unit(Rng.mix(key))
    var cum = 0.0
    var ran = 0L
    var v = 0
    while (v < csr.numNodes && ran < w) {
      val r = residue(v)
      if (r != 0.0) {
        cum += r
        val upTo = math.min(w, math.ceil(cum / step - u).toLong) // points below cum
        if (upTo > ran) {
          val walkKey = Rng.streamKey(key, v)
          var j = 0L
          while (j < upTo - ran) {
            val b = math.min(MonteCarlo.WalkBlock.toLong, upTo - ran - j).toInt
            MonteCarlo.walkEndpoints(csr, v, alpha, noZeroHop = false, walkKey, j, b, ends)
            var i = 0
            while (i < b) { est(ends(i)) += step; i += 1 }
            j += b
          }
          ran = upTo
        }
      }
      v += 1
    }
    (kthLargest(est, k), ran)
  }

  /** One top-k round's residual walks: ω_v = ⌈r_v·numWalks⌉ walks from
    * every residual node v, each crediting r_v/ω_v to its endpoint in
    * `est`, in walk order; `ends` is the endpoint buffer. Returns the
    * walks run.
    */
  private def topkWalks(
      csr: Csr, residue: Array[Double], numWalks: Long, alpha: Double,
      roundKey: Long, est: Array[Double], rec: WalkRec, ends: Array[Int]): Long = {
    var total = 0L
    var v = 0
    while (v < csr.numNodes) {
      val r = residue(v)
      if (r != 0.0) {
        val omegaI = math.ceil(r * numWalks).toLong // Fora_Topk.java:158
        if (omegaI > 0) {
          val incr = r / omegaI
          val key = Rng.streamKey(roundKey, v)
          var j = 0L
          while (j < omegaI) {
            val b = math.min(MonteCarlo.WalkBlock.toLong, omegaI - j).toInt
            MonteCarlo.walkEndpoints(csr, v, alpha, noZeroHop = false, key, j, b, ends)
            var i = 0
            while (i < b) {
              est(ends(i)) += incr
              if (rec != null) rec.walks += ((v, ends(i)))
              i += 1
            }
            j += b
          }
          total += omegaI
        }
      }
      v += 1
    }
    total
  }

  /** K7 — top-k FORA for one source; returns the full estimate vector of
    * the terminating round (caller applies tie-inclusive top-k). With
    * `k ≥ n` every node is in the tie-inclusive top-k, so the answer is the
    * whole-graph vector ([[wholeGraphLocal]]); the round loop's bounds
    * need `ln(n/k) > 0`.
    */
  def topkLocal(csr: Csr, srcDense: Int, k: Int, conf: Conf): Array[Double] =
    if (k >= csr.numNodes) wholeGraphLocal(csr, srcDense, conf)
    else topkRun(csr, srcDense, k, conf, rec = null).est

  /** kth largest value (0.0 when fewer than k nonzero entries) — the
    * `Algo_Util.kth_ppr` quickselect becomes a sort over the nonzero
    * support (reference `Algo_Util.java:32-79`).
    */
  def kthLargest(scores: Array[Double], k: Int): Double = {
    val nz = scores.filter(_ > 0.0)
    if (nz.length < k) 0.0
    else {
      java.util.Arrays.sort(nz)
      nz(nz.length - k)
    }
  }

  /** Verification-mode trace of one [[wholeGraphLocal]] run: the post-push
    * state, the walk-bookkeeping scalars, and every residual walk's
    * endpoint, as DATA — the `g_fora_ppr` driver row materializes these as
    * parquet so the DuckDB oracle can replay the entire deterministic
    * reduce (ω_v = ⌈r_c/rsum·ω⌉, a_v, per-walk credit, final scores) and
    * hash-match it; walk GENERATION stays seeded-kernel territory (SURVEY
    * §5.2). ForaSpec pins the trace's recomposed scores to
    * [[wholeGraphLocal]]'s. Dense ids are resolved to original ids here.
    */
  final case class WholeTrace(
      reserve: Array[Double],
      residue: Array[Double],
      rsum: Double,
      numWalks: Long,
      walks: Array[(Long, Long)]) // (walk start, endpoint) original ids

  def wholeGraphTrace(csr: Csr, srcDense: Int, conf: Conf): WholeTrace = {
    val (st, rsumLocal, numWalks) = wholeGraphPush(csr, srcDense, conf)
    val walks = Array.newBuilder[(Long, Long)]
    if (numWalks > 0L)
      wholeGraphWalks(csr, srcDense, st.residue, rsumLocal, numWalks, conf,
        onResidual = (_, _) => (),
        onWalk = (v, dest, _) =>
          walks += ((csr.originalOf(v), csr.originalOf(dest))))
    WholeTrace(st.reserve, st.residue, rsumLocal, numWalks, walks.result())
  }

  /** Verification-mode trace of [[topkLocal]]'s TERMINATING round: the
    * carried post-push state, the round's walk budget, and every walk's
    * endpoint (original ids); then the schedule the loop ran: the
    * terminating round's index (0 = δ of 1/k) and the pilot and full walks
    * run, summed over all rounds. The round-advance decision (pilot, then
    * kth score vs (1+ε′)·δ) is made by the kernel exactly as in
    * [[topkLocal]]; the oracle replays only the terminating round's reduce
    * and tie-inclusive cut. ForaSpec pins the recomposed cut to
    * [[topkLocal]]'s. Needs 1 ≤ k < n: [[topkLocal]] answers `k ≥ n` with
    * the whole-graph vector, which has no rounds.
    */
  final case class TopkTrace(
      reserve: Array[Double],
      residue: Array[Double],
      numWalks: Long,
      walks: Array[(Long, Long)],
      round: Int,
      pilotWalks: Long,
      fullWalks: Long)

  def topkTrace(csr: Csr, srcDense: Int, k: Int, conf: Conf): TopkTrace = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k < csr.numNodes,
      s"k must be < n = ${csr.numNodes} for a top-k trace, got $k")
    val rec = new WalkRec
    val end = topkRun(csr, srcDense, k, conf, rec)
    TopkTrace(end.carried.reserve.clone(), end.carried.residue.clone(), end.numWalks,
      rec.walks.result().map { case (v, dest) =>
        (csr.originalOf(v), csr.originalOf(dest))
      }, end.round, end.pilotWalks, end.fullWalks)
  }

  /** Batched whole-graph FORA. Returns (src, node_id, score). */
  def batch(
      spark: SparkSession,
      csr: Csr,
      sources: Seq[Long],
      conf: Conf = Conf(),
      slices: Int = 0): DataFrame =
    batch(spark, spark.sparkContext.broadcast(csr), sources, conf, slices)

  /** [[batch]] over an already broadcast CSR. */
  def batch(
      spark: SparkSession,
      csr: Broadcast[Csr],
      sources: Seq[Long],
      conf: Conf,
      slices: Int): DataFrame =
    SourceFanOut(spark, csr, sources, slices)(
      (g, sd) => wholeGraphLocal(g, sd, conf))

  /** [[topkLocal]] with every score below the kth largest zeroed: the
    * tie-inclusive top-k (T2) as a dense vector.
    */
  def topkCut(csr: Csr, srcDense: Int, k: Int, conf: Conf): Array[Double] = {
    val scores = topkLocal(csr, srcDense, k, conf)
    val kth = kthLargest(scores, k)
    var v = 0
    while (v < scores.length) {
      if (scores(v) < kth) scores(v) = 0.0
      v += 1
    }
    scores
  }

  /** Batched top-k FORA, tie-inclusive (T2): every score below the kth
    * largest is zeroed before the fan-out drops zeros.
    * Returns (src, node_id, score).
    */
  def topkBatch(
      spark: SparkSession,
      csr: Csr,
      sources: Seq[Long],
      k: Int,
      conf: Conf = Conf(),
      slices: Int = 0): DataFrame =
    SourceFanOut(spark, spark.sparkContext.broadcast(csr), sources, slices)(
      topkCut(_, _, k, conf))

  /** [[topkBatch]]'s rows over an already broadcast CSR, as an RDD for a
    * caller that collects them at once.
    */
  def topkRows(
      spark: SparkSession,
      csr: Broadcast[Csr],
      sources: Seq[Long],
      k: Int,
      conf: Conf): RDD[(Long, Long, Double)] =
    SourceFanOut.rows(spark, csr, sources, 0)(topkCut(_, _, k, conf))
}
