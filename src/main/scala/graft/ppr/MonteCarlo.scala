package graft.ppr

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.Csr

/** Counter-based deterministic RNG for the walk kernels (SURVEY §7.5.1).
  *
  * The reference uses unseeded `ThreadLocalRandom`
  * (`Monte_Carlo.java:76,84,111,123`) — nondeterministic by design. For a
  * verifiable distributed engine every walk must be reproducible regardless
  * of task placement/retries, so each walk gets its own SplitMix64 stream
  * keyed by (globalSeed, walkKey). Only the DISTRIBUTION matches the
  * reference; exact endpoints are engine-defined (tested by statistical
  * bounds, SURVEY §5.2).
  */
object Rng {
  @inline def mix(z0: Long): Long = {
    var z = z0 + Gamma
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** SplitMix64's state increment: a stream's i-th draw is
    * `mix(seed + i·Gamma)`, i ≥ 1.
    */
  final val Gamma = 0x9E3779B97F4A7C15L

  /** The (globalSeed, a) half of a stream seed — e.g. (seed, source) —
    * computed once per a; [[streamSeed]] adds the b half per walk.
    */
  @inline def streamKey(seed: Long, a: Long): Long =
    seed ^ mix(a * 0xC2B2AE3D27D4EB4FL)

  /** Stream seed for (globalSeed, a, b), given `key = streamKey(seed, a)`. */
  @inline def streamSeed(key: Long, b: Long): Long =
    mix(key ^ mix(b * 0x165667B19E3779F9L))

  /** A draw as a double in [0, 1). */
  @inline def unit(draw: Long): Double = (draw >>> 11) * 1.1102230246251565e-16

  /** A draw as an int in [0, bound): rejection-free modulo is fine here,
    * bound (an out-degree) << 2^63.
    */
  @inline def below(draw: Long, bound: Int): Int = ((draw >>> 1) % bound).toInt
}

/** K4/K5 — Monte-Carlo α-walk PPR (SURVEY §2.8; reference
  * `Monte_Carlo.java:60-158`).
  *
  * Walk semantics (`Monte_Carlo.java:60-94`): start at s (out-degree-0
  * start returns s immediately); each step stops at the current node w.p.
  * α, otherwise moves to a uniform random out-neighbor; a sink (out-degree
  * 0) resets to the START node — restart-at-source, SURVEY §1.4.1. The
  * `no_zero_hop` variant (`:96-133`) forces one move before the first stop
  * check (used by FORA's residual walks).
  *
  * Every walk of every family runs in [[walkEndpoints]], which advances
  * [[Lanes]] walks from the same start node in lock-step so that their
  * CSR loads and RNG arithmetic overlap. Each walk still draws from its
  * own stream and the caller consumes the endpoints in walk order, so
  * every count and floating-point sum is the one a walk-at-a-time loop
  * gives.
  *
  * Scale shape: ω walks are split into contiguous walk-id ranges, one task
  * per range, each task counting stops into a dense array over the
  * broadcast CSR (map-side combine), then a single groupBy merges per-node
  * counts — shuffle volume is O(distinct stop nodes × tasks), never O(ω).
  */
object MonteCarlo {

  /** ω = 3·ln(2/p_fail)/ε²/δ — `Monte_Carlo.java:144`. Saturates at
    * `Long.MaxValue`.
    */
  def omegaFor(epsilon: Double, pfail: Double, delta: Double): Long =
    math.ceil(3.0 * math.log(2.0 / pfail) / epsilon / epsilon / delta).toLong

  /** Walks advanced together by [[walkEndpoints]]. */
  final val Lanes = 4

  /** Endpoint buffer length the callers of [[walkEndpoints]] use. */
  private[ppr] final val WalkBlock = 1024

  /** Endpoints (dense ids) of walks `from until from + count` from
    * `startDense` into `out(0 until count)`. Walk j draws from the
    * SplitMix64 stream seeded `Rng.streamSeed(key, j)`, with
    * `key = Rng.streamKey(seed, a)` hoisted out of the walk loop by the
    * caller. [[Lanes]] walks run in lock-step; a lane whose walk stops
    * takes the next walk, so the lanes stay busy until the last walks.
    */
  def walkEndpoints(
      csr: Csr,
      startDense: Int,
      alpha: Double,
      noZeroHop: Boolean,
      key: Long,
      from: Long,
      count: Int,
      out: Array[Int]): Unit = {
    val offsets = csr.offsets
    val targets = csr.targets
    val startOff = offsets(startDense)
    val d0 = offsets(startDense + 1) - startOff
    if (d0 == 0) {
      java.util.Arrays.fill(out, 0, count, startDense)
      return
    }
    val state = new Array[Long](Lanes)
    val cur = new Array[Int](Lanes)
    val walk = Array.fill(Lanes)(-1) // walk index per lane, -1 when idle
    var next = 0
    var done = 0
    while (done < count) {
      var l = 0
      while (l < Lanes) {
        if (walk(l) >= 0) { // one step: stop w.p. α, else move
          var s = state(l) + Rng.Gamma
          if (Rng.unit(Rng.mix(s)) >= alpha) {
            val c = cur(l)
            val off = offsets(c)
            val d = offsets(c + 1) - off
            if (d > 0) {
              s += Rng.Gamma
              cur(l) = targets(off + Rng.below(Rng.mix(s), d))
            } else cur(l) = startDense
            state(l) = s
          } else {
            out(walk(l)) = cur(l)
            walk(l) = -1
            done += 1
          }
        }
        if (walk(l) < 0 && next < count) { // start walk `next` in lane l
          var s = Rng.streamSeed(key, from + next)
          var c = startDense
          if (noZeroHop) {
            s += Rng.Gamma
            c = targets(startOff + Rng.below(Rng.mix(s), d0))
          }
          state(l) = s
          cur(l) = c
          walk(l) = next
          next += 1
        }
        l += 1
      }
    }
  }

  /** ω for (n, ε, p_fail, δ), p_fail and δ defaulting to 1/n; fails when
    * ω saturates (2^63 walks or more per source).
    */
  private def omegaOf(n: Int, epsilon: Double, pfail: Double, delta: Double): Long = {
    val pf = if (pfail > 0) pfail else 1.0 / n
    val dl = if (delta > 0) delta else 1.0 / n
    val omega = omegaFor(epsilon, pf, dl)
    require(omega < Long.MaxValue,
      s"epsilon = $epsilon needs at least 2^63 walks per source; use a larger epsilon")
    omega
  }

  /** The (source, first walk, walk count) slices of a batch: `perSource`
    * contiguous walk-id ranges per source, ω split without overflow.
    */
  private def walkSlices(
      spark: SparkSession,
      sources: Seq[Long],
      omega: Long,
      slicesPerSource: Int): Seq[(Long, Long, Long)] = {
    val perSource = if (slicesPerSource > 0) slicesPerSource
      else math.max(1, spark.sparkContext.defaultParallelism /
        math.max(1, sources.length) * 2)
    val per = omega / perSource + (if (omega % perSource != 0) 1 else 0)
    for (s <- sources; k <- 0 until perSource; lo = k * per; if lo < omega)
      yield (s, lo, math.min(per, omega - lo))
  }

  /** K5 — Monte-Carlo SSPPR, π̂(v) = stops(v)/ω, for a batch of sources
    * (one source is a batch of one): work fans out over (source × walk-range)
    * slices so parallelism is cores-bound, not #sources-bound. Each walk's
    * RNG stream is keyed by (seed, src, walkIdx) only, so results are
    * IDENTICAL for any slicing; one groupBy merges per-slice dense counts
    * (shuffle volume O(distinct stops × slices), never O(ω)). An ε whose
    * ω saturates fails before any Spark job.
    * Returns (src, node_id, score).
    */
  def sspprBatch(
      spark: SparkSession,
      csr: Csr,
      sources: Seq[Long],
      alpha: Double = 0.15,
      epsilon: Double = 0.5,
      pfail: Double = 0.0,
      delta: Double = 0.0,
      seed: Long = 42L,
      slicesPerSource: Int = 0): DataFrame =
    sspprBatch(spark, spark.sparkContext.broadcast(csr), sources, alpha,
      epsilon, pfail, delta, seed, slicesPerSource)

  /** [[sspprBatch]] over an already broadcast CSR. */
  def sspprBatch(
      spark: SparkSession,
      csr: Broadcast[Csr],
      sources: Seq[Long],
      alpha: Double,
      epsilon: Double,
      pfail: Double,
      delta: Double,
      seed: Long,
      slicesPerSource: Int): DataFrame = {
    import spark.implicits._
    val omega = omegaOf(csr.value.numNodes, epsilon, pfail, delta)
    val tasks = walkSlices(spark, sources, omega, slicesPerSource)
    spark.sparkContext
      .parallelize(tasks, math.max(1, tasks.length))
      .flatMap { case (s, lo, cnt) =>
        val g = csr.value
        val sd = g.denseOf(s)
        if (sd < 0) Iterator.empty
        else {
          val counts = new Array[Long](g.numNodes)
          val key = Rng.streamKey(seed, s)
          val ends = new Array[Int](WalkBlock)
          var w = 0L
          while (w < cnt) {
            val b = math.min(WalkBlock.toLong, cnt - w).toInt
            walkEndpoints(g, sd, alpha, noZeroHop = false, key, lo + w, b, ends)
            var i = 0
            while (i < b) { counts(ends(i)) += 1L; i += 1 }
            w += b
          }
          counts.iterator.zipWithIndex.collect {
            case (c, v) if c > 0 => (s, g.originalOf(v), c)
          }
        }
      }
      .toDF("src", "node_id", "cnt")
      .groupBy("src", "node_id")
      .agg((sum("cnt") / lit(omega.toDouble)).as("score"))
  }

  /** Verification-mode walk table: the SAME walks as [[sspprBatch]] (RNG
    * streams keyed (seed, src, walkIdx) — identical for any slicing), but
    * each walk's stop node is EMITTED as a row `(src, w, node_id)` instead
    * of being counted in-task. O(ω) output by construction, so this is the
    * oracle-replay surface the `g_mc_ppr` driver row materializes — NOT
    * the production aggregation path (that stays [[sspprBatch]], whose
    * shuffle volume is O(distinct stops × slices)); MonteCarloSpec pins
    * the two paths to identical scores.
    */
  def sspprEndpoints(
      spark: SparkSession,
      csr: Csr,
      sources: Seq[Long],
      alpha: Double = 0.15,
      epsilon: Double = 0.5,
      pfail: Double = 0.0,
      delta: Double = 0.0,
      seed: Long = 42L,
      slicesPerSource: Int = 0): DataFrame = {
    import spark.implicits._
    val omega = omegaOf(csr.numNodes, epsilon, pfail, delta)
    val tasks = walkSlices(spark, sources, omega, slicesPerSource)
    val bc = spark.sparkContext.broadcast(csr)
    spark.sparkContext
      .parallelize(tasks, math.max(1, tasks.length))
      .flatMap { case (s, lo, cnt) =>
        val g = bc.value
        val sd = g.denseOf(s)
        if (sd < 0) Iterator.empty
        else {
          val key = Rng.streamKey(seed, s)
          Iterator.iterate(0L)(_ + WalkBlock).takeWhile(_ < cnt).flatMap { w =>
            val ends = new Array[Int](math.min(WalkBlock.toLong, cnt - w).toInt)
            walkEndpoints(g, sd, alpha, noZeroHop = false, key, lo + w, ends.length, ends)
            ends.iterator.zipWithIndex.map { case (d, i) =>
              (s, lo + w + i, g.originalOf(d))
            }
          }
        }
      }
      .toDF("src", "w", "node_id")
  }
}
