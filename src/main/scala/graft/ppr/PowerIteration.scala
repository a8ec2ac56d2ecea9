package graft.ppr

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{Csr, GraphOps}

/** K1 — Power iteration, the exact PPR oracle (SURVEY §2.8 K1; reference
  * `Power_Method.java:44-101`): fixed synchronous iterations; each round
  * moves alpha·r(v) to the reserve (final score) and distributes
  * (1-alpha)·r(v)/outdeg(v) along out-edges; a dangling node (outdeg 0)
  * returns its (1-alpha)·r mass to the SOURCE — the restart-at-source
  * convention of SURVEY §1.4.1, not teleport-to-uniform.
  *
  * One strategy per source: [[batch]] runs the dense-array kernel
  * ([[runLocal]]) for many sources at once over a broadcast [[Csr]], one
  * task per slice of sources and zero shuffles — the work to distribute is
  * sources × nodes, which is exactly the reference's batch/all-pair usage
  * (`Gen_Util.java:109-257` runs 50 sources per data point). The seed-SET
  * variant keeps a DataFrame superstep loop ([[runSeedSet]]) as the
  * reference the tag-batched family fit ([[PprFamily]]) is checked against.
  */
object PowerIteration {

  /** Above this node count the superstep loops ([[runSeedSet]], the
    * graph algorithms in `graft.graph`) stop broadcasting their per-iteration
    * frontier/degree sides (each a driver-side collect of up to n rows) and
    * shuffle-join them against the pre-partitioned edge side instead.
    * ~4M (id, r) rows ≈ 64 MB serialized — comfortably under typical
    * driver/executor headroom.
    */
  val BroadcastNodeLimit = 4000000L

  /** Dense-array kernel: PPR vector for one source over a CSR snapshot.
    * Exactly the reference loop shape, O(iterations · edges-touched).
    */
  def runLocal(csr: Csr, sourceDense: Int, alpha: Double, iterations: Int): Array[Double] = {
    val n = csr.numNodes
    var residue = new Array[Double](n)
    residue(sourceDense) = 1.0
    val reserve = new Array[Double](n)
    var it = 0
    while (it < iterations) {
      val next = new Array[Double](n)
      var v = 0
      while (v < n) {
        val r = residue(v)
        if (r != 0.0) {
          reserve(v) += alpha * r
          val d = csr.outDegree(v)
          if (d > 0) {
            val share = (1.0 - alpha) * r / d
            csr.foreachNeighbor(v)(u => next(u) += share)
          } else {
            next(sourceDense) += (1.0 - alpha) * r
          }
        }
        v += 1
      }
      residue = next
      it += 1
    }
    reserve
  }

  /** Batched multi-source PPR over a broadcast CSR: one task per slice of
    * sources, no per-iteration shuffle. Returns
    * `(src LONG, node_id LONG, score DOUBLE)` with zero scores omitted.
    */
  def batch(
      spark: SparkSession,
      csr: Csr,
      sources: Seq[Long],
      alpha: Double = 0.15,
      iterations: Int = 100,
      slices: Int = 0): DataFrame =
    batch(spark, spark.sparkContext.broadcast(csr), sources, alpha, iterations, slices)

  /** [[batch]] over an already broadcast CSR. */
  def batch(
      spark: SparkSession,
      csr: Broadcast[Csr],
      sources: Seq[Long],
      alpha: Double,
      iterations: Int,
      slices: Int): DataFrame =
    SourceFanOut(spark, csr, sources, slices)(
      (g, sd) => runLocal(g, sd, alpha, iterations))

  /** DuckDB oracle: the identical computation as unrolled SQL (one CTE per
    * iteration, state keyed by (src, id)). Usable because iterations are
    * fixed and the dangling rule is a LEFT JOIN — SURVEY §5.2.3.
    * `graphSql` must yield (src, dst). Output: (src, node_id, score).
    */
  def oracleSqlMulti(graphSql: String, sources: Seq[Long], alpha: Double,
      iterations: Int, roundTo: Int = 9): String = {
    val push = 1.0 - alpha
    val values = sources.map(s => s"($s)").mkString(", ")
    val sb = new StringBuilder
    sb ++= s"WITH edges AS MATERIALIZED ($graphSql),\n"
    sb ++= "deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),\n"
    sb ++= s"srcs(s) AS (VALUES $values),\n"
    sb ++= "r0 AS (SELECT CAST(s AS BIGINT) AS s, CAST(s AS BIGINT) AS id, " +
      "CAST(1.0 AS DOUBLE) AS r FROM srcs),\n"
    for (i <- 1 until iterations) {
      val prev = s"r${i - 1}"
      sb ++= s"r$i AS MATERIALIZED (SELECT s, id, sum(r) AS r FROM (" +
        s"SELECT t.s, e.dst AS id, $push * t.r / d.deg AS r FROM $prev t " +
        s"JOIN deg d ON d.id = t.id JOIN edges e ON e.src = t.id " +
        s"UNION ALL " +
        s"SELECT t.s, t.s AS id, $push * t.r AS r FROM $prev t " +
        s"LEFT JOIN deg d ON d.id = t.id WHERE d.id IS NULL) GROUP BY s, id),\n"
    }
    val unions = (0 until iterations).map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")
    sb ++= s"acc AS ($unions)\n"
    sb ++= s"SELECT s AS src, id AS node_id, round($alpha * sum(r), $roundTo) AS score " +
      "FROM acc GROUP BY s, id"
    sb.toString
  }

  /** Single-source variant of [[oracleSqlMulti]]: (node_id, score). */
  def oracleSql(graphSql: String, source: Long, alpha: Double, iterations: Int,
      roundTo: Int = 9): String =
    s"SELECT node_id, score FROM (${oracleSqlMulti(graphSql, Seq(source), alpha, iterations, roundTo)})"

  /** SEED-SET power iteration — personalized PageRank with a preference
    * SET (Haveliwala 2002's topic-sensitive teleport, on the reference's
    * restart convention): residue starts uniform over the seeds
    * (1/|S| each) and a dangling node returns its (1−α)·r mass uniformly
    * to ALL the seeds — a fresh uniform(S) restart, which is exactly
    * where this operator differs from averaging |S| single-source runs
    * (each of those restarts at its OWN source; SeedSetPprSpec pins both
    * the difference on a dangling graph and the linearity-given-no-
    * dangling equality).
    *
    * Plan shape (one superstep = ONE shuffle, ONE job): the state is a
    * single DataFrame `(id, r, acc)` where `acc = Σ_t residue_t`; each
    * superstep unions push contributions `(id, c, c)` with the carried
    * accumulator `(id, 0, acc)` and folds both in one `groupBy(id)`. The
    * dangling rule folds into the pre-weighted edge list as |S| synthetic
    * edges (v → s, w = 1/|S|) per out-degree-0 node, built once and
    * hash-partitioned by `src`, so edges are never re-shuffled. The
    * frontier is broadcast up to [[BroadcastNodeLimit]] nodes and
    * shuffle-joined above it. The state is `localCheckpoint`ed every
    * `checkpointEvery` supersteps through a [[graft.operators.CkptChain]]
    * (each generation released as the next materializes); cadence 1 is
    * deliberate, because each superstep reads the previous state twice
    * (frontier + carry) and a lazy chain would recompute it 2^cadence
    * times. For the loop the shuffle width is scoped to the graph size,
    * AQE is off (the width is already sized), and whole-stage codegen is
    * off on 1-partition graphs (every superstep plans fresh expression
    * ids, so each would pay a Janino compile); all three are restored in
    * `finally`.
    */
  def runSeedSet(
      spark: SparkSession,
      edges: DataFrame,
      seeds: Seq[Long],
      alpha: Double = 0.15,
      iterations: Int = 100,
      checkpointEvery: Int = 1,
      broadcastNodeLimit: Long = BroadcastNodeLimit): DataFrame = {
    import spark.implicits._
    require(seeds.nonEmpty && seeds.distinct.size == seeds.size,
      s"seed set must be non-empty and duplicate-free, got $seeds")
    val k = seeds.size
    val invK = 1.0 / k

    val e = edges.persist()
    val deg = GraphOps.outDegrees(e)
    val m = e.count()
    val p = math.min(spark.sparkContext.defaultParallelism.toLong,
      m / 1000000L + 1L).toInt
    val weighted = e.join(deg, e("src") === deg("id"))
      .select(e("src"), e("dst"), (lit(1.0) / col("deg")).as("w"))
    val danglingEdges = e.select(col("dst").as("src"))
      .union(seeds.toDF("src"))
      .distinct()
      .join(deg, col("src") === deg("id"), "left_anti")
      .crossJoin(seeds.toDF("dst"))
      .select(col("src"), col("dst"), lit(invK).as("w"))
    val ew = weighted.union(danglingEdges)
      .repartition(p, col("src"))
      .persist()
    ew.count()
    e.unpersist()
    val n = ew.agg(countDistinct("src")).head.getLong(0)
    val small = n <= broadcastNodeLimit
    def sided(df: DataFrame): DataFrame = if (small) broadcast(df) else df

    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevCodegen = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      if (p == 1) spark.conf.set("spark.sql.codegen.wholeStage", "false")

      val checkpoint = new graft.operators.CkptChain(spark.sparkContext)
      var state = checkpoint(
        seeds.map(s => (s, invK, invK)).toDF("id", "r", "acc"))
      var it = 1
      while (it < iterations) {
        val frontier = state.where(col("r") =!= 0.0).select(col("id"), col("r"))
        val contrib = ew.join(sided(frontier), ew("src") === frontier("id"))
          .select(ew("dst").as("id"),
            (lit(1.0 - alpha) * col("r") * col("w")).as("c"))
          .select(col("id"), col("c"), col("c").as("a"))
        val carry = state.select(col("id"), lit(0.0).as("c"), col("acc").as("a"))
        state = contrib.union(carry)
          .groupBy("id").agg(sum("c").as("r"), sum("a").as("acc"))
        if (it % checkpointEvery == 0 || it == iterations - 1)
          state = checkpoint(state)
        it += 1
      }
      state.select(col("id").as("node_id"),
        (lit(alpha) * col("acc")).as("score"))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.codegen.wholeStage", prevCodegen)
      ew.unpersist()
    }
  }

  /** Dense-array seed-set kernel — the [[runSeedSet]] semantics over a
    * CSR snapshot: residue starts uniform over the seeds (1/|S| each), a
    * dangling node returns its (1−α)·r mass uniformly to ALL seeds
    * (fresh-uniform(S), `(1−α)·r·invK` in the oracle's own spelling).
    * Residues accumulate and scale by α once at the end, mirroring
    * [[oracleSqlSeedSet]]'s α·Σ_t r_t association.
    */
  def runSeedSetLocal(csr: Csr, seedsDense: Array[Int], alpha: Double,
      iterations: Int): Array[Double] = {
    val n = csr.numNodes
    val invK = 1.0 / seedsDense.length
    var residue = new Array[Double](n)
    seedsDense.foreach(sd => residue(sd) = invK)
    val acc = new Array[Double](n)
    var it = 0
    while (it < iterations) {
      var v = 0
      while (v < n) { acc(v) += residue(v); v += 1 }
      it += 1
      if (it < iterations) {
        val next = new Array[Double](n)
        v = 0
        while (v < n) {
          val r = residue(v)
          if (r != 0.0) {
            val d = csr.outDegree(v)
            if (d > 0) {
              val share = (1.0 - alpha) * r / d
              csr.foreachNeighbor(v)(u => next(u) += share)
            } else {
              val back = (1.0 - alpha) * r * invK
              seedsDense.foreach(sd => next(sd) += back)
            }
          }
          v += 1
        }
        residue = next
      }
    }
    val out = new Array[Double](n)
    var v = 0
    while (v < n) { out(v) = alpha * acc(v); v += 1 }
    out
  }

  /** Batched seed-set PPR over a broadcast CSR — the got_grid treatment
    * of [[runSeedSet]]: one task per seed SET, zero per-iteration
    * shuffles (the [[batch]] economics at the set granularity).
    * Returns `(m INT, node_id LONG, score DOUBLE)` keyed by set SIZE
    * (the grid axis — callers pass size-distinct sets); zero scores
    * omitted; a seed absent from the snapshot fails loudly (silently
    * shrinking |S| would change the teleport weight).
    */
  def batchSeedSets(spark: SparkSession, csr: Csr, seedSets: Seq[Seq[Long]],
      alpha: Double = 0.15, iterations: Int = 100): DataFrame = {
    import spark.implicits._
    require(seedSets.map(_.size).distinct.size == seedSets.size,
      s"seed sets must have distinct sizes (the output key), got " +
        seedSets.map(_.size))
    val bc = spark.sparkContext.broadcast(csr)
    spark.sparkContext
      .parallelize(seedSets, math.max(1, seedSets.length))
      .flatMap { ss =>
        val g = bc.value
        val dense = ss.map(g.denseOf).toArray
        require(dense.forall(_ >= 0), s"seed missing from graph: $ss")
        val scores = runSeedSetLocal(g, dense, alpha, iterations)
        scores.iterator.zipWithIndex.collect {
          case (p, v) if p != 0.0 => (ss.size, g.originalOf(v), p)
        }
      }
      .toDF("m", "node_id", "score")
  }

  /** DuckDB oracle twin of [[runSeedSet]]: the identical unrolled
    * schedule with the uniform-over-seeds start and the fresh-uniform(S)
    * dangling restart (each residue-holding out-degree-0 node fans its
    * pushed mass to every seed via the CROSS JOIN). 1/|S| is
    * interpolated as the same Scala double literal the Spark side uses —
    * pick power-of-two seed-set sizes and it is exact binary.
    */
  def oracleSqlSeedSet(graphSql: String, seeds: Seq[Long], alpha: Double,
      iterations: Int, roundTo: Int = 9): String = {
    val push = 1.0 - alpha
    val invK = 1.0 / seeds.size
    val values = seeds.map(s => s"($s)").mkString(", ")
    val sb = new StringBuilder
    sb ++= s"WITH edges AS MATERIALIZED ($graphSql),\n"
    sb ++= "deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg " +
      "FROM edges GROUP BY src),\n"
    sb ++= s"srcs(s) AS (VALUES $values),\n"
    sb ++= "r0 AS (SELECT CAST(s AS BIGINT) AS id, " +
      s"CAST($invK AS DOUBLE) AS r FROM srcs),\n"
    for (i <- 1 until iterations) {
      val prev = s"r${i - 1}"
      sb ++= s"r$i AS MATERIALIZED (SELECT id, sum(r) AS r FROM (" +
        s"SELECT e.dst AS id, $push * t.r / d.deg AS r FROM $prev t " +
        s"JOIN deg d ON d.id = t.id JOIN edges e ON e.src = t.id " +
        s"UNION ALL " +
        s"SELECT CAST(s.s AS BIGINT) AS id, $push * t.r * $invK AS r " +
        s"FROM $prev t LEFT JOIN deg d ON d.id = t.id CROSS JOIN srcs s " +
        s"WHERE d.id IS NULL) GROUP BY id),\n"
    }
    val unions = (0 until iterations).map(i => s"SELECT * FROM r$i")
      .mkString(" UNION ALL ")
    sb ++= s"acc AS ($unions)\n"
    sb ++= s"SELECT id AS node_id, round($alpha * sum(r), $roundTo) " +
      "AS score FROM acc GROUP BY id"
    sb.toString
  }
}
