package graft.ppr

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.graph.Csr

/** K8 — Backward Search (reverse local push), SURVEY §2.8; reference
  * `Backward_Search.java:38-100`.
  *
  * Computes the PPR *column* π(·, t) for a target t. Per superstep, for
  * every node v with residue r(v):
  *   - eligible iff r(v) > rmax (no degree division on the eligibility
  *     side, unlike forward push — reference `Backward_Search.java:89-94`);
  *   - eligible v: reserve(v) += α·r(v); every in-neighbor u of v receives
  *     (1-α)·r(v)/outdeg(u) — note the division is by the out-degree of
  *     the RECEIVER u (`Backward_Search.java:84-87`);
  *   - ineligible v keeps r(v).
  *
  * As with [[ForwardPush]], the reference's asynchronous queue becomes a
  * bulk-synchronous superstep; a FIXED superstep count gives the
  * deterministic schedule the unrolled-SQL oracle replays.
  *
  * Scale: [[batch]] broadcasts the reversed CSR and runs the sparse
  * kernel [[runLocalSparse]] (bit-identical to the dense [[runLocal]],
  * which the specs use as reference) for a slice of targets per task,
  * zero per-superstep shuffles. The same batch serves a single column
  * (`PprEngine.backward`) and the BASE all-pair preprocessing ([[Base]]),
  * which fans out over every target — the embarrassingly parallel axis
  * is *targets*, not edges.
  */
object BackwardSearch {

  /** Dense per-task kernel over the REVERSED CSR.
    * `rcsr` must be the CSR of reversed edges (dst→src); `fwdDeg(u)` is the
    * ORIGINAL out-degree of dense node u in the same id space.
    */
  def runLocal(
      rcsr: Csr,
      fwdDeg: Array[Int],
      targetDense: Int,
      alpha: Double,
      rmax: Double,
      maxSupersteps: Int = 0): Array[Double] = {
    val n = rcsr.numNodes
    var residue = new Array[Double](n)
    residue(targetDense) = 1.0
    val reserve = new Array[Double](n)
    var it = 0
    var active = true
    while (active && (maxSupersteps <= 0 || it < maxSupersteps)) {
      active = false
      val next = new Array[Double](n)
      var v = 0
      while (v < n) {
        val r = residue(v)
        if (r != 0.0) {
          if (r > rmax) {
            active = true
            reserve(v) += alpha * r
            val m = (1.0 - alpha) * r
            // in-neighbors of v = out-neighbors of v in the reversed CSR.
            rcsr.foreachNeighbor(v)(u => next(u) += m / fwdDeg(u))
          } else {
            next(v) += r
          }
        }
        v += 1
      }
      residue = next
      it += 1
    }
    reserve
  }

  /** Reusable per-task scratch for [[runLocalSparse]]: three full-size
    * double arrays plus growable index lists. One Workspace per TASK (not
    * per target) bounds the allocation churn of the all-pair fan-out — the
    * dense kernel's per-target `new Array[Double](n)` is O(n · targets)
    * allocation, which at Com-Amazon scale (~300 k nodes × ~300 k targets)
    * is terabytes of garbage. All arrays are zero between calls (the
    * kernel zeroes exactly the entries it touched before returning).
    */
  final class Workspace(n: Int) {
    private[ppr] var residue = new Array[Double](n)
    private[ppr] var next = new Array[Double](n)
    private[ppr] val reserve = new Array[Double](n)
    private[ppr] var cur = new Array[Int](math.min(n, 1024))
    private[ppr] var nxt = new Array[Int](math.min(n, 1024))
    private[ppr] var res = new Array[Int](math.min(n, 1024))
  }

  private def grown(a: Array[Int], len: Int): Array[Int] =
    if (len < a.length) a
    else java.util.Arrays.copyOf(a, a.length * 2)

  /** Sparse-frontier twin of [[runLocal]]: identical superstep schedule and
    * bit-identical floating-point results (the frontier is processed in
    * ascending dense-id order, matching the dense kernel's 0..n-1 scan, so
    * every accumulation happens in the same order on the same values), but
    * per-superstep cost is O(frontier · log frontier + pushed edges)
    * instead of O(n). This is what makes BASE all-pair prep viable past
    * ~10^5 nodes: per-target push work with rmax = 1e-4 touches hundreds of
    * nodes, not the whole graph. ADAPTIVE per superstep: when the frontier
    * holds more than ~1/8 of all nodes, sorting it would cost more than the
    * dense 0..n-1 scan it emulates, so the superstep falls back to exactly
    * that scan (ascending order for free, no sort) while still tracking the
    * next frontier sparsely — small graphs with saturated frontiers (GOT,
    * the 20k synthetic at rmax 1e-4) keep dense-kernel speed, large graphs
    * get the sparse win. Returns (denseId, score) pairs sorted by dense id,
    * reserve > 0 only; `ws` is restored to all-zeros.
    */
  def runLocalSparse(
      rcsr: Csr,
      fwdDeg: Array[Int],
      targetDense: Int,
      alpha: Double,
      rmax: Double,
      maxSupersteps: Int = 0,
      ws: Workspace): Array[(Int, Double)] = {
    var residue = ws.residue
    var next = ws.next
    val reserve = ws.reserve
    var cur = ws.cur
    var nxtIdx = ws.nxt
    var resIdx = ws.res

    residue(targetDense) = 1.0
    cur(0) = targetDense
    var curLen = 1
    var resLen = 0
    var it = 0
    var active = true
    val n = rcsr.numNodes
    while (active && (maxSupersteps <= 0 || it < maxSupersteps)) {
      active = false
      var nxtLen = 0
      val dense = curLen >= n / 8
      if (!dense) java.util.Arrays.sort(cur, 0, curLen)
      var i = 0
      val lim = if (dense) n else curLen
      while (i < lim) {
        // dense pass: ascend over every node (the frontier list is a
        // superset-unordered view of the same nonzero entries, so reading
        // the residue array directly visits them in the identical
        // ascending order the sorted sparse pass would).
        val v = if (dense) i else cur(i)
        val r = residue(v)
        residue(v) = 0.0
        if (r != 0.0) {
          if (r > rmax) {
            active = true
            if (reserve(v) == 0.0) {
              resIdx = grown(resIdx, resLen); resIdx(resLen) = v; resLen += 1
            }
            reserve(v) += alpha * r
            val m = (1.0 - alpha) * r
            rcsr.foreachNeighbor(v) { u =>
              if (next(u) == 0.0) {
                nxtIdx = grown(nxtIdx, nxtLen); nxtIdx(nxtLen) = u; nxtLen += 1
              }
              next(u) += m / fwdDeg(u)
            }
          } else {
            if (next(v) == 0.0) {
              nxtIdx = grown(nxtIdx, nxtLen); nxtIdx(nxtLen) = v; nxtLen += 1
            }
            next(v) += r
          }
        }
        i += 1
      }
      // the consumed residue array is now all-zeros — it becomes the next
      // pass's accumulator; swap index lists alongside.
      val ta = residue; residue = next; next = ta
      val ti = cur; cur = nxtIdx; nxtIdx = ti
      curLen = nxtLen
      it += 1
    }
    // collect the reserve (ascending dense id, like the dense kernel's
    // output scan), then zero every touched entry so ws is clean.
    java.util.Arrays.sort(resIdx, 0, resLen)
    val out = new Array[(Int, Double)](resLen)
    var i = 0
    while (i < resLen) {
      val v = resIdx(i)
      out(i) = (v, reserve(v))
      reserve(v) = 0.0
      i += 1
    }
    i = 0
    while (i < curLen) { residue(cur(i)) = 0.0; i += 1 }
    ws.residue = residue; ws.next = next
    ws.cur = cur; ws.nxt = nxtIdx; ws.res = resIdx
    out
  }

  /** Batched multi-target backward search over a broadcast reversed CSR.
    * Returns (dst LONG, node_id LONG, score DOUBLE): score ≈ π(node_id, dst).
    * Runs the sparse kernel with one reused [[Workspace]] per task —
    * results are bit-identical to the dense [[runLocal]] (pinned by
    * BackwardSearchSpec), only the allocation and per-superstep scan cost
    * change.
    */
  def batch(
      spark: SparkSession,
      rcsr: Csr,
      fwdDeg: Array[Int],
      targets: Seq[Long],
      alpha: Double = 0.15,
      rmax: Double = 1e-4,
      maxSupersteps: Int = 0,
      slices: Int = 0): DataFrame =
    batch(spark, spark.sparkContext.broadcast(rcsr),
      spark.sparkContext.broadcast(fwdDeg), targets, alpha, rmax, maxSupersteps,
      slices)

  /** [[batch]] over an already broadcast reversed CSR and degree array. */
  def batch(
      spark: SparkSession,
      rcsr: Broadcast[Csr],
      fwdDeg: Broadcast[Array[Int]],
      targets: Seq[Long],
      alpha: Double,
      rmax: Double,
      maxSupersteps: Int,
      slices: Int): DataFrame = {
    require(rmax > 0, s"rmax must be > 0, got $rmax")
    import spark.implicits._
    val nSlices = if (slices > 0) slices
      else math.min(math.max(1, targets.length), spark.sparkContext.defaultParallelism)
    spark.sparkContext
      .parallelize(targets, nSlices)
      .mapPartitions { ts =>
        val g = rcsr.value
        val d = fwdDeg.value
        val ws = new Workspace(g.numNodes)
        ts.flatMap { t =>
          val td = g.denseOf(t)
          if (td < 0) Iterator.empty
          else runLocalSparse(g, d, td, alpha, rmax, maxSupersteps, ws)
            .iterator.map { case (v, p) => (t, g.originalOf(v), p) }
        }
      }
      .toDF("dst", "node_id", "score")
  }

  /** DuckDB oracle for the fixed-superstep multi-target schedule.
    * `targetsSql` yields one column `t` of target ids (e.g. a VALUES list or
    * a node scan for all-pair). Output: (dst, node_id, score).
    */
  def oracleSqlMulti(
      graphSql: String,
      targetsSql: String,
      alpha: Double,
      rmax: Double,
      supersteps: Int,
      roundTo: Int = 9): String = {
    val push = 1.0 - alpha
    val sb = new StringBuilder
    sb ++= s"WITH edges AS MATERIALIZED ($graphSql),\n"
    sb ++= "deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),\n"
    sb ++= s"tgts AS ($targetsSql),\n"
    sb ++= "r0 AS (SELECT CAST(t AS BIGINT) AS t, CAST(t AS BIGINT) AS id, " +
      "CAST(1.0 AS DOUBLE) AS r FROM tgts),\n"
    for (i <- 0 until supersteps) {
      val prev = s"r$i"
      sb ++= s"p$i AS MATERIALIZED (SELECT t, id, $alpha * r AS p FROM $prev WHERE r > $rmax),\n"
      sb ++= s"r${i + 1} AS MATERIALIZED (SELECT t, id, sum(r) AS r FROM (" +
        s"SELECT s.t, e.src AS id, $push * s.r / d.deg AS r FROM $prev s " +
        s"JOIN edges e ON e.dst = s.id JOIN deg d ON d.id = e.src " +
        s"WHERE s.r > $rmax " +
        s"UNION ALL " +
        s"SELECT t, id, r FROM $prev WHERE r <= $rmax AND r <> 0.0" +
        s") GROUP BY t, id),\n"
    }
    val unions = (0 until supersteps).map(i => s"SELECT * FROM p$i").mkString(" UNION ALL ")
    sb ++= s"acc AS ($unions)\n"
    sb ++= s"SELECT t AS dst, id AS node_id, round(sum(p), $roundTo) AS score " +
      s"FROM acc GROUP BY t, id HAVING round(sum(p), $roundTo) <> 0.0"
    sb.toString
  }
}
