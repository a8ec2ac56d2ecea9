package graft.ppr

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.GraphOps

/** Global (non-personalized) PageRank — the teleport-to-UNIFORM sibling of
  * the restart-at-source K1 kernel (SURVEY §1.4.1 records the reference's
  * PPR convention; this is the classic whole-graph variant a general graph
  * engine is expected to ship alongside it). Semantics per iteration:
  *
  *   r'(v) = (1-d)/n + d · ( Σ_{u→v} r(u)/deg(u)  +  dangling_mass/n )
  *
  * where dangling mass (out-degree-0 rank) redistributes uniformly — NOT
  * back to a source, which is what distinguishes it from the PPR family.
  *
  * Scale shape: each superstep is ONE materialization job — the dangling
  * mass is a 1-row aggregate that feeds the node-base term through a
  * broadcast cross join (no driver-side collect), contributions shuffle
  * once on dst, and the state localCheckpoints per superstep exactly like
  * [[PowerIteration.runSeedSet]]. The iteration count is fixed, so the DuckDB
  * oracle replays the identical schedule as unrolled CTEs
  * ([[oracleSql]]); both engines evaluate the same expression shapes in
  * the same order, and the end-state rounds to 9 dp.
  */
object PageRank {

  /** Distributed whole-graph PageRank over an `(src, dst)` edge list.
    * Returns `(node_id LONG, score DOUBLE)` for EVERY node (global PR has
    * no zero-score nodes — the base term reaches all of them).
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      damping: Double = 0.85,
      iterations: Int = 30): DataFrame = {
    val sc = spark.sparkContext
    // eager localCheckpoint that remembers WHICH RDDs it pinned, so the
    // setup tables (nodes, ew) can be released once the loop is done —
    // the returned state no longer references them, and a long-lived
    // session must not keep a dead graph snapshot in executor memory.
    def trackedCkpt(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint(true)
      (out, (sc.getPersistentRDDs.keySet -- before).toSet)
    }
    def release(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))

    val e = edges.persist()
    val deg = GraphOps.outDegrees(e).withColumnRenamed("id", "did")
    // node table with a FIXED dangling flag — membership in the
    // out-degree-0 set never changes, so it is computed once here and
    // carried through the state; the per-iteration dangling mass is then
    // a conditional aggregate over the state, not an anti-join.
    val (nodes, nodesIds) = trackedCkpt(
      e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .distinct()
        .join(e.select(col("src").as("id")).distinct()
          .withColumn("has_out", lit(1)), Seq("id"), "left")
        .select(col("id"), col("has_out").isNull.as("dang")))
    val m = e.count()
    // scope the per-superstep shuffle width to the graph size (same
    // rationale and try/finally discipline as [[PowerIteration.runSeedSet]]):
    // 30 iterations × 32 near-empty reducers is pure scheduler overhead
    // on a small graph; a 1e9-edge graph keeps full width.
    val p = math.min(spark.sparkContext.defaultParallelism.toLong,
      m / 1000000L + 1L).toInt
    val n = nodes.count().toDouble
    // pre-weighted push edges (src, dst, w = damping/deg) — built once,
    // hash-partitioned by src and reused every superstep; dangling nodes
    // simply have no rows here and surface through the anti-join mass
    // term instead.
    val (ew, ewIds) = trackedCkpt(
      e.join(deg, e("src") === col("did"))
        .select(e("src"), e("dst"), (lit(damping) / col("deg")).as("w"))
        .repartition(p, col("src")))
    e.unpersist()
    val base1 = (1.0 - damping) / n

    // chained per-iteration state checkpoints ([[graft.operators.CkptChain]]):
    // generation N-1 is released as N materializes; the final generation
    // backs the returned DataFrame and stays.
    val checkpoint = new graft.operators.CkptChain(sc)

    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    // p == 1 ⇒ interpreted mode for the loop: fresh expression ids per
    // iteration defeat the codegen cache, so every superstep would pay a
    // Janino compile for a few thousand rows (see [[PowerIteration.runSeedSet]]).
    val prevCodegen = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      if (p == 1) spark.conf.set("spark.sql.codegen.wholeStage", "false")
      // size-guarded broadcast of the n-row state/push sides (same guard
      // rationale as [[PowerIteration.BroadcastNodeLimit]]): on a
      // broadcastable graph the per-iteration joins are shuffle-free; on
      // a larger one the hint is withheld and the state shuffle-joins the
      // pre-partitioned edge side.
      val small = n <= PowerIteration.BroadcastNodeLimit
      def sided(df: DataFrame): DataFrame = if (small) broadcast(df) else df
      var state = checkpoint(
        nodes.select(col("id"), (lit(1.0) / n).as("r"), col("dang")))
      val carrier = nodes.select(col("id"), lit(0.0).as("c"),
        col("dang").cast("int").as("dg"))
      var it = 0
      while (it < iterations) {
        // dangling mass: rank sitting on out-degree-0 nodes this round —
        // a 1-row conditional aggregate folded into the base term, never
        // collected. On the small path it joins as a PLAIN cross join so
        // the whole superstep is ONE job (a BroadcastExchange would
        // materialize dm as its own job — doubling the per-iteration job
        // floor); at scale the broadcast is right (the 1-row side reaches
        // every partition without a cartesian stage).
        val dm0 = state
          .agg(coalesce(sum(when(col("dang"), col("r"))), lit(0.0)).as("dm"))
        val dm = if (small) dm0 else broadcast(dm0)
        // one superstep = ONE shuffle (the PowerIteration union-carrier
        // shape): push contributions union node carrier rows (c = 0, so
        // group sums are bit-identical to contribution-only sums) and
        // fold in a single groupBy; the carrier also re-derives the
        // dangling flag (max over {flag, 0…}), so no join recovers it.
        val contrib = ew.join(sided(state), ew("src") === state("id"))
          .select(ew("dst").as("id"), (col("r") * col("w")).as("c"),
            lit(0).as("dg"))
        state = checkpoint(
          contrib.union(carrier)
            .groupBy("id").agg(sum(col("c")).as("p"), max(col("dg")).as("dgi"))
            .crossJoin(dm)
            .select(col("id"),
              (lit(base1) + lit(damping) * col("dm") / n + col("p")).as("r"),
              (col("dgi") === 1).as("dang")))
        it += 1
      }
      state.select(col("id").as("node_id"), col("r").as("score"))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.codegen.wholeStage", prevCodegen)
      // the final state checkpoint (which backs the returned DataFrame)
      // no longer references the setup tables — release them.
      release(nodesIds)
      release(ewIds)
    }
  }

  /** DuckDB oracle: the identical schedule as unrolled SQL. `graphSql`
    * must yield (src, dst). Output: (node_id, score) rounded to
    * `roundTo`. Expression shapes and evaluation order mirror [[run]]:
    * per-edge `r * (d/deg)`, per-node `((1-d)/n + d*dm/n) + coalesce(p)`.
    */
  def oracleSql(graphSql: String, damping: Double, iterations: Int,
      roundTo: Int = 9): String = {
    val sb = new StringBuilder
    sb ++= s"WITH edges AS MATERIALIZED ($graphSql),\n"
    sb ++= "nodes AS MATERIALIZED (SELECT src AS id FROM edges " +
      "UNION SELECT dst FROM edges),\n"
    sb ++= "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),\n"
    sb ++= "ew AS MATERIALIZED (SELECT e.src, e.dst, " +
      s"$damping / d.deg AS w FROM edges e JOIN (" +
      "SELECT src AS id, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src" +
      ") d ON d.id = e.src),\n"
    sb ++= "r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nn) AS r FROM nodes),\n"
    for (i <- 1 to iterations) {
      val prev = s"r${i - 1}"
      sb ++= s"dm$i AS MATERIALIZED (SELECT coalesce(sum(r), 0.0) AS dm " +
        s"FROM $prev WHERE id NOT IN (SELECT src FROM edges)),\n"
      sb ++= s"p$i AS MATERIALIZED (SELECT ew.dst AS id, sum(t.r * ew.w) AS p " +
        s"FROM ew JOIN $prev t ON ew.src = t.id GROUP BY ew.dst),\n"
      sb ++= s"r$i AS MATERIALIZED (SELECT nodes.id, " +
        s"((1.0 - $damping) / nn.n + $damping * dm$i.dm / nn.n) + " +
        s"coalesce(p$i.p, 0.0) AS r " +
        s"FROM nodes LEFT JOIN p$i ON p$i.id = nodes.id " +
        s"CROSS JOIN nn CROSS JOIN dm$i),\n"
    }
    // trailing comma trim: replace last ",\n" with "\n"
    sb.setLength(sb.length - 2)
    sb ++= "\n"
    sb ++= s"SELECT id AS node_id, round(r, $roundTo) AS score FROM r$iterations"
    sb.toString
  }
}
