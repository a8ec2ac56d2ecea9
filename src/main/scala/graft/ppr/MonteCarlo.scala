package graft.ppr

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
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Stream seed for (globalSeed, a, b) — e.g. (source, walkIdx). */
  def streamSeed(seed: Long, a: Long, b: Long): Long =
    mix(seed ^ mix(a * 0xC2B2AE3D27D4EB4FL) ^ mix(b * 0x165667B19E3779F9L))

  final class SplitMix(private var state: Long) {
    @inline def nextLong(): Long = { state += 0x9E3779B97F4A7C15L; mix(state) }
    @inline def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    @inline def nextInt(bound: Int): Int = {
      // rejection-free modulo is fine here: bound (out-degree) << 2^63.
      ((nextLong() >>> 1) % bound).toInt
    }
  }
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
  * Scale shape: ω walks are split into contiguous walk-id ranges, one task
  * per range, each task counting stops into a dense array over the
  * broadcast CSR (map-side combine), then a single groupBy merges per-node
  * counts — shuffle volume is O(distinct stop nodes × tasks), never O(ω).
  */
object MonteCarlo {

  /** ω = 3·ln(2/p_fail)/ε²/δ — `Monte_Carlo.java:144`. */
  def omegaFor(epsilon: Double, pfail: Double, delta: Double): Long =
    math.ceil(3.0 * math.log(2.0 / pfail) / epsilon / epsilon / delta).toLong

  /** Endpoint of one α-walk (dense ids). */
  def walkEndpoint(
      csr: Csr,
      startDense: Int,
      alpha: Double,
      rng: Rng.SplitMix,
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

  /** K5 — Monte-Carlo SSPPR, π̂(v) = stops(v)/ω, for a batch of sources
    * (one source is a batch of one): work fans out over (source × walk-range)
    * slices so parallelism is cores-bound, not #sources-bound. Each walk's
    * RNG stream is keyed by (seed, src, walkIdx) only, so results are
    * IDENTICAL for any slicing; one groupBy merges per-slice dense counts
    * (shuffle volume O(distinct stops × slices), never O(ω)).
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
      slicesPerSource: Int = 0): DataFrame = {
    import spark.implicits._
    val n = csr.numNodes.toDouble
    val pf = if (pfail > 0) pfail else 1.0 / n
    val dl = if (delta > 0) delta else 1.0 / n
    val omega = omegaFor(epsilon, pf, dl)
    val bc = spark.sparkContext.broadcast(csr)
    val perSource = if (slicesPerSource > 0) slicesPerSource
      else math.max(1, spark.sparkContext.defaultParallelism /
        math.max(1, sources.length) * 2)
    val per = (omega + perSource - 1) / perSource
    val tasks = for (s <- sources; k <- 0 until perSource) yield (s, k * per)
    spark.sparkContext
      .parallelize(tasks, tasks.length)
      .flatMap { case (s, lo) =>
        val g = bc.value
        val sd = g.denseOf(s)
        if (sd < 0) Iterator.empty
        else {
          val counts = new Array[Long](g.numNodes)
          val hi = math.min(omega, lo + per)
          var w = lo
          while (w < hi) {
            val rng = new Rng.SplitMix(Rng.streamSeed(seed, s, w))
            counts(walkEndpoint(g, sd, alpha, rng, noZeroHop = false)) += 1L
            w += 1
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
    val n = csr.numNodes.toDouble
    val pf = if (pfail > 0) pfail else 1.0 / n
    val dl = if (delta > 0) delta else 1.0 / n
    val omega = omegaFor(epsilon, pf, dl)
    val bc = spark.sparkContext.broadcast(csr)
    val perSource = if (slicesPerSource > 0) slicesPerSource
      else math.max(1, spark.sparkContext.defaultParallelism /
        math.max(1, sources.length) * 2)
    val per = (omega + perSource - 1) / perSource
    val tasks = for (s <- sources; k <- 0 until perSource) yield (s, k * per)
    spark.sparkContext
      .parallelize(tasks, tasks.length)
      .flatMap { case (s, lo) =>
        val g = bc.value
        val sd = g.denseOf(s)
        if (sd < 0) Iterator.empty
        else {
          val hi = math.min(omega, lo + per)
          (lo until hi).iterator.map { w =>
            val rng = new Rng.SplitMix(Rng.streamSeed(seed, s, w))
            (s, w, g.originalOf(
              walkEndpoint(g, sd, alpha, rng, noZeroHop = false)))
          }
        }
      }
      .toDF("src", "w", "node_id")
  }
}
