package graft.ppr

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.graph.Csr

/** K2/K3 — Forward Push (local push), SURVEY §2.8; reference
  * `Forward_Push.java:63-142`.
  *
  * Semantics per superstep for every node v with residue r(v):
  *   - eligible iff r(v)/outdeg(v) ≥ rmax; a dangling node (outdeg 0) is
  *     always eligible when r(v) > 0 (reference: r/0 = ∞ ≥ rmax,
  *     `Forward_Push.java:132` — then the sink branch `:101-115` returns
  *     the mass to the SOURCE);
  *   - eligible v: reserve(v) += α·r(v), each out-neighbor u receives
  *     (1-α)·r(v)/outdeg(v); dangling v sends (1-α)·r(v) to the source;
  *   - ineligible v keeps r(v).
  *
  * The reference processes nodes one-at-a-time from a queue (asynchronous);
  * we push the WHOLE frontier each superstep (bulk-synchronous). Push is a
  * linear operator, so the fixpoint and the maxErr ≤ rmax·m bound are
  * identical; only intermediate states differ (SURVEY §7.4.3). With a FIXED
  * superstep count the BSP schedule is fully deterministic, which is what
  * makes the unrolled-SQL DuckDB oracle possible.
  *
  * Scale: [[batch]] broadcasts the graph CSR and runs the dense kernel
  * ([[runLocal]]) for a slice of sources per task, zero per-superstep
  * shuffles; FORA ([[Fora]]) reuses the same kernel for its push phase.
  */
object ForwardPush {

  /** Residue vector after the same BSP schedule — for FORA's walk phase. */
  final case class PushState(reserve: Array[Double], residue: Array[Double], rsum: Double)

  /** Dense per-task kernel: the BSP schedule above over a CSR snapshot.
    * `maxSupersteps <= 0` means run to fixpoint (frontier empty).
    *
    * Degenerate source (out-degree 0) short-circuits to π(s,s)=1 in
    * fixpoint mode (reference `Forward_Push.java:72-76`) — otherwise the
    * source would push to itself forever.
    */
  def runLocal(
      csr: Csr,
      sourceDense: Int,
      alpha: Double,
      rmax: Double,
      maxSupersteps: Int = 0): PushState = {
    val n = csr.numNodes
    if (maxSupersteps <= 0 && csr.outDegree(sourceDense) == 0) {
      val reserve = new Array[Double](n)
      reserve(sourceDense) = 1.0
      return PushState(reserve, new Array[Double](n), 0.0)
    }
    val init = new Array[Double](n)
    init(sourceDense) = 1.0
    runLocalFrom(csr, PushState(new Array[Double](n), init, 1.0),
      sourceDense, alpha, rmax, maxSupersteps)
  }

  /** Same BSP schedule continuing from a carried state — the "Q_next"
    * carry-over of the FORA top-k rounds (reference
    * `Forward_Push.java:144-250`: parked nodes re-checked at poll time; in
    * BSP the carried residue array IS the parked frontier, re-screened
    * against the new rmax each superstep). `rmax` must be positive: at 0
    * a residue at the smallest subnormal stays eligible forever, because
    * (1-α)·2⁻¹⁰⁷⁴ rounds back to 2⁻¹⁰⁷⁴.
    */
  def runLocalFrom(
      csr: Csr,
      init: PushState,
      sourceDense: Int,
      alpha: Double,
      rmax: Double,
      maxSupersteps: Int = 0): PushState = {
    require(rmax > 0, s"rmax must be > 0, got $rmax")
    val n = csr.numNodes
    var residue = init.residue.clone()
    val reserve = init.reserve.clone()
    var rsum = init.rsum
    var it = 0
    var active = true
    while (active && (maxSupersteps <= 0 || it < maxSupersteps)) {
      active = false
      val next = new Array[Double](n)
      var v = 0
      while (v < n) {
        val r = residue(v)
        if (r != 0.0) {
          val d = csr.outDegree(v)
          val eligible = d == 0 || r / d >= rmax
          if (eligible) {
            active = true
            reserve(v) += alpha * r
            rsum -= alpha * r
            if (d > 0) {
              val share = (1.0 - alpha) * r / d
              csr.foreachNeighbor(v)(u => next(u) += share)
            } else {
              next(sourceDense) += (1.0 - alpha) * r
            }
          } else {
            next(v) += r
          }
        }
        v += 1
      }
      residue = next
      it += 1
    }
    PushState(reserve, residue, rsum)
  }

  /** Batched multi-source forward push over a broadcast CSR: one task per
    * slice of sources, zero per-superstep shuffle.
    * Returns (src LONG, node_id LONG, score DOUBLE), zero scores omitted.
    */
  def batch(
      spark: SparkSession,
      csr: Csr,
      sources: Seq[Long],
      alpha: Double = 0.15,
      rmax: Double = 1e-4,
      maxSupersteps: Int = 0,
      slices: Int = 0): DataFrame =
    batch(spark, spark.sparkContext.broadcast(csr), sources, alpha, rmax,
      maxSupersteps, slices)

  /** [[batch]] over an already broadcast CSR. */
  def batch(
      spark: SparkSession,
      csr: Broadcast[Csr],
      sources: Seq[Long],
      alpha: Double,
      rmax: Double,
      maxSupersteps: Int,
      slices: Int): DataFrame =
    SourceFanOut(spark, csr, sources, slices)(
      (g, sd) => runLocal(g, sd, alpha, rmax, maxSupersteps).reserve)

  /** DuckDB oracle for the FIXED-superstep BSP schedule, multi-source.
    * `graphSql` must yield (src, dst). Output: (src, node_id, score),
    * score rounded to `roundTo`.
    *
    * State recurrence (matching [[runLocal]] exactly):
    *   eligible(v)  = deg IS NULL OR r/deg >= rmax
    *   reserve     += α·r over eligible rows (accumulated, rounded at end)
    *   r'           = Σ pushes + retained ineligible r + dangling→source
    */
  def oracleSqlMulti(
      graphSql: String,
      sources: Seq[Long],
      alpha: Double,
      rmax: Double,
      supersteps: Int,
      roundTo: Int = 9): String = {
    val push = 1.0 - alpha
    val values = sources.map(s => s"($s)").mkString(", ")
    val sb = new StringBuilder
    sb ++= s"WITH edges AS MATERIALIZED ($graphSql),\n"
    sb ++= "deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),\n"
    sb ++= s"srcs(s) AS (VALUES $values),\n"
    sb ++= "r0 AS (SELECT CAST(s AS BIGINT) AS s, CAST(s AS BIGINT) AS id, " +
      "CAST(1.0 AS DOUBLE) AS r FROM srcs),\n"
    for (i <- 0 until supersteps) {
      val prev = s"r$i"
      // j{i}: previous state with degree and eligibility flag.
      sb ++= s"j$i AS MATERIALIZED (SELECT t.s, t.id, t.r, d.deg, " +
        s"(d.deg IS NULL OR t.r / d.deg >= $rmax) AS elig " +
        s"FROM $prev t LEFT JOIN deg d ON d.id = t.id),\n"
      // p{i}: α·r reserved this superstep by eligible nodes.
      sb ++= s"p$i AS (SELECT s, id, $alpha * r AS p FROM j$i WHERE elig),\n"
      // next residue: pushes along edges + retained + dangling-to-source.
      sb ++= s"r${i + 1} AS MATERIALIZED (SELECT s, id, sum(r) AS r FROM (" +
        s"SELECT t.s, e.dst AS id, $push * t.r / t.deg AS r FROM j$i t " +
        s"JOIN edges e ON e.src = t.id WHERE t.elig AND t.deg IS NOT NULL " +
        s"UNION ALL " +
        s"SELECT s, id, r FROM j$i WHERE NOT elig " +
        s"UNION ALL " +
        s"SELECT s, s AS id, $push * r AS r FROM j$i WHERE elig AND deg IS NULL" +
        s") GROUP BY s, id),\n"
    }
    val unions = (0 until supersteps).map(i => s"SELECT * FROM p$i").mkString(" UNION ALL ")
    sb ++= s"acc AS ($unions)\n"
    sb ++= s"SELECT s AS src, id AS node_id, round(sum(p), $roundTo) AS score " +
      s"FROM acc GROUP BY s, id HAVING round(sum(p), $roundTo) <> 0.0"
    sb.toString
  }
}
