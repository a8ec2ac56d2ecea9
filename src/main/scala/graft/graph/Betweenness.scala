package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ppr.PowerIteration

/** K-source truncated betweenness centrality — Brandes' algorithm
  * (Brandes 2001) over a FIXED source set and a FIXED depth horizon,
  * TWO-REGIME like [[ConnectedComponents]]/[[Scc]]:
  *
  *  - under [[LocalEdgeLimit]] ([[run]] dispatch): the batch-CSR regime
  *    shared with [[Bfs.batch]] — the graph snapshot broadcasts once,
  *    sources fan out over tasks, each task runs one linear-time forward
  *    BFS (exact BIGINT shortest-path counts σ) and one backward
  *    dependency sweep, and emits only `(source, node, δ)` rows;
  *  - above it ([[runSupersteps]]): the same FIXED schedule as
  *    distributed supersteps — the forward pass is a level-synchronous
  *    BFS loop with state `(source, id, σ)` (one frontier⋈edges shuffle
  *    + one anti-join per level, σ summed per level as exact BIGINTs),
  *    the backward pass one join per level DESCENDING (δ addends folded
  *    with the value-sorted discipline), the fixed horizon is what keeps
  *    it a bounded schedule at any scale. State is (sources × reached)
  *    rows per level — never a driver collect of the edge list.
  *
  * bc(v) = Σ_s δ_s(v) then folds as an ordinary aggregation. BOTH
  * regimes compute bit-identical output (BetweennessSpec pins batch ≡
  * superstep exactly): σ sums are exact integers in any order, and every
  * float fold is value-sorted, so the regime choice can never flip a
  * hash.
  *
  * Truncated semantics (both engines replay it EXACTLY): the shortest-
  * path DAG is cut at `maxDepth` — σ over ≤-depth shortest paths, nodes
  * AT the horizon carry δ = 0 (their downstream dependency is outside
  * the window), and levels accumulate descending:
  *
  *   δ(v) = Σ_{v→w, dist(w)=dist(v)+1} σ(v)/σ(w) · (1 + δ(w))
  *
  * FLOAT DISCIPLINE: every δ is a sum of IEEE addends folded in
  * ASCENDING VALUE order — the task sorts its addend array (the
  * superstep regime sorts per group:
  * `sort_array(collect_list(a))`), the DuckDB oracle folds
  * `list(a ORDER BY a)` — and the final bc folds each node's per-source
  * δ list the same way, so the 4-deep float chain is bit-identical
  * cross-engine (a value-sorted multiset has ONE fold result; tie order
  * is irrelevant to the sum). σ ratios divide exact BIGINTs, so the
  * addends themselves are bit-identical inputs.
  *
  * Duplicate sources would double-count δ in the Spark passes while the
  * oracle's GROUP BY collapses them — both [[deltas]] and
  * [[runSupersteps]] therefore `.distinct` the source list (the same
  * precondition spelled once, not documented twice).
  */
object Betweenness {

  /** Same budget rationale as [[ConnectedComponents.LocalEdgeLimit]]:
    * under it a broadcast CSR + per-task linear sweep beats scheduled
    * supersteps by ~10×; past it the driver collect that builds the CSR
    * is the scale-killer and the superstep loop takes over.
    */
  val LocalEdgeLimit = 8000000L

  /** Two-regime dispatch over an `(src, dst)` edge DataFrame. `csrOf`
    * lets callers keep a memoized snapshot for the under-limit path
    * (the [[GraphOps.lineitemCsr]] load-once discipline); the default
    * builds one from the edges. `edgeCount` lets callers supply |E| from
    * snapshot metadata (the [[GraphOps.lineitemGraphCount]] cache)
    * instead of paying a counting scan per dispatch.
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      sources: Seq[Long],
      maxDepth: Int,
      csrOf: DataFrame => Csr = GraphOps.buildCsr,
      edgeCount: Option[Long] = None): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val m = edgeCount.getOrElse { e.persist(); e.count() }
    val out =
      if (m <= LocalEdgeLimit) batch(spark, csrOf(e), sources, maxDepth)
      else runSupersteps(spark, e, sources, maxDepth)
    if (edgeCount.isEmpty) e.unpersist()
    out
  }

  /** One truncated Brandes pass per source over the broadcast CSR;
    * emits `(source, node_id, delta)` for every reached non-source node
    * (δ = 0 leaves included — bc aggregation needs the zero addends).
    */
  def deltas(
      spark: SparkSession,
      csr: Csr,
      sources: Seq[Long],
      maxDepth: Int): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(csr)
    val nSlices = math.min(math.max(1, sources.length),
      spark.sparkContext.defaultParallelism)
    spark.sparkContext
      .parallelize(sources.distinct, nSlices)
      .flatMap { s =>
        val g = bc.value
        val sd = g.denseOf(s)
        if (sd < 0) Iterator.empty
        else {
          val n = g.numNodes
          val dist = new Array[Int](n)
          java.util.Arrays.fill(dist, -1)
          val sigma = new Array[Long](n)
          val levels = Array.fill(maxDepth + 1)(
            new scala.collection.mutable.ArrayBuffer[Int]())
          dist(sd) = 0
          sigma(sd) = 1L
          levels(0) += sd
          var d = 0
          while (d < maxDepth && levels(d).nonEmpty) {
            levels(d).foreach { v =>
              g.foreachNeighbor(v) { w =>
                if (dist(w) < 0) { dist(w) = d + 1; levels(d + 1) += w }
                if (dist(w) == d + 1) sigma(w) += sigma(v)
              }
            }
            d += 1
          }
          val delta = new Array[Double](n)
          val top = math.min(maxDepth, d)
          var l = top - 1
          while (l >= 1) {
            levels(l).foreach { v =>
              val adds = new scala.collection.mutable.ArrayBuffer[Double]()
              g.foreachNeighbor(v) { w =>
                if (dist(w) == l + 1)
                  adds += sigma(v).toDouble / sigma(w).toDouble *
                    (1.0 + delta(w))
              }
              val sorted = adds.toArray
              java.util.Arrays.sort(sorted)
              var acc = 0.0
              var i = 0
              while (i < sorted.length) { acc += sorted(i); i += 1 }
              delta(v) = acc
            }
            l -= 1
          }
          (0 until n).iterator.collect {
            case v if dist(v) >= 1 => (s, g.originalOf(v), delta(v))
          }
        }
      }
      .toDF("source", "node_id", "delta")
  }

  /** bc(v) = value-sorted fold of the per-source δ's, rounded to 6 dp. */
  def batch(
      spark: SparkSession,
      csr: Csr,
      sources: Seq[Long],
      maxDepth: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    deltas(spark, csr, sources, maxDepth)
      .groupBy(col("node_id"))
      .agg(expr("round(aggregate(sort_array(collect_list(delta)), " +
        "CAST(0.0 AS DOUBLE), (a, x) -> a + x), 6)").as("bc"))
  }

  /** The past-one-machine regime: the identical truncated Brandes
    * schedule as DataFrame supersteps. Forward: `maxDepth`
    * level-synchronous rounds — frontier ⋈ edges (σ summed per
    * (source, dst) group, exact BIGINTs) anti-joined against the visited
    * union, each level frame kept (the backward pass reads them all).
    * Backward: one join per level descending — level-l nodes ⋈ edges ⋈
    * the level-(l+1) (σ, δ) frame, addends folded in ascending VALUE
    * order per (source, node) — then the final bc fold over the level
    * union, value-sorted again. Exactly [[oracleSql]]'s CTE chain, and
    * bit-identical to [[batch]] (σ sums are order-free integers; every
    * float fold is value-sorted).
    *
    * Scale shape: per level ONE (source-count × frontier)-row shuffle +
    * one anti-join against the visited set; level frames chain through
    * eager localCheckpoints and are released once the final frame
    * materializes. Nothing collects to the driver.
    */
  def runSupersteps(
      spark: SparkSession,
      edges: DataFrame,
      sources: Seq[Long],
      maxDepth: Int): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val held = scala.collection.mutable.ArrayBuffer.empty[Set[Int]]
    def ck(df: DataFrame): DataFrame = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint(true)
      held += (sc.getPersistentRDDs.keySet -- before).toSet
      out
    }

    val e0 = edges.select(col("src"), col("dst"))
    val m = e0.count()
    val p = math.min(sc.defaultParallelism.toLong, m / 1000000L + 1L).toInt
    val e = ck(e0.repartition(p, col("src")))
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevCodegen = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      if (p == 1) spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val n = e.select(col("src")).distinct().count()
      val small = n <= PowerIteration.BroadcastNodeLimit
      def sided(df: DataFrame): DataFrame = if (small) broadcast(df) else df

      // forward: levels(l) = (source, id, sigma), visited = the union
      val srcDf = sources.distinct.toDF("source")
        .join(sided(e.select(col("src").as("id"))
          .union(e.select(col("dst").as("id"))).distinct()),
          col("source") === col("id"), "left_semi")
      val l0 = ck(srcDf.select(col("source"), col("source").as("id"),
        lit(1L).as("sigma")))
      val levels = scala.collection.mutable.ArrayBuffer[DataFrame](l0)
      var visited = ck(l0.select(col("source"), col("id")))
      var d = 1
      while (d <= maxDepth) {
        val prev = levels(d - 1)
        val cand = e.join(sided(prev), e("src") === prev("id"))
          .groupBy(prev("source").as("source"), e("dst").as("id"))
          .agg(sum(col("sigma")).as("sigma"))
        val lvl = ck(cand.join(sided(visited), Seq("source", "id"),
          "left_anti"))
        levels += lvl
        visited = ck(visited.union(lvl.select(col("source"), col("id"))))
        d += 1
      }

      // backward: dl(l) = (source, id, sigma, delta); horizon δ = 0
      val sortedFold = "aggregate(sort_array(collect_list(a)), " +
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
      val dls = new Array[DataFrame](maxDepth + 1)
      dls(maxDepth) = ck(levels(maxDepth)
        .select(col("source"), col("id"), col("sigma"),
          lit(0.0).as("delta")))
      var l = maxDepth - 1
      while (l >= 1) {
        val v = levels(l)
        val w = dls(l + 1).select(col("source").as("wsource"),
          col("id").as("wid"), col("sigma").as("wsigma"),
          col("delta").as("wdelta"))
        val adds = v.join(e, e("src") === v("id"))
          .join(sided(w), col("wsource") === v("source") &&
            col("wid") === e("dst"))
          .select(v("source").as("source"), v("id").as("id"),
            (col("sigma").cast("double") / col("wsigma") *
              (lit(1.0) + col("wdelta"))).as("a"))
        val folded = adds.groupBy(col("source"), col("id"))
          .agg(expr(sortedFold).as("delta"))
        dls(l) = ck(v.join(folded, Seq("source", "id"), "left")
          .select(col("source"), col("id"), col("sigma"),
            coalesce(col("delta"), lit(0.0)).as("delta")))
        l -= 1
      }

      val alld = (1 to maxDepth).map(i =>
        dls(i).select(col("source"), col("id"), col("delta")))
        .reduce(_ unionAll _)
      val out = alld.groupBy(col("id").as("node_id"))
        .agg(expr("round(aggregate(sort_array(collect_list(delta)), " +
          "CAST(0.0 AS DOUBLE), (a, x) -> a + x), 6)").as("bc"))
      // pin the small result frame, then release every level/visited/δ
      // intermediate — a caller holding the output must not depend on
      // O(depth) pinned state frames.
      val pinned = out.localCheckpoint(true)
      held.foreach(_.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(false))))
      pinned
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.codegen.wholeStage", prevCodegen)
    }
  }

  /** DuckDB oracle: the identical truncated schedule as unrolled CTEs —
    * forward levels `l1..lD` (exact-level frontier via anti-join against
    * the visited union, σ as an exact BIGINT sum over level-(i−1)
    * predecessors) and backward dependencies `dl{D-1}..dl1`, every float
    * fold over `list(a ORDER BY a)`. `graphSql` must yield `(src, dst)`.
    */
  def oracleSql(graphSql: String, sources: Seq[Long], maxDepth: Int): String = {
    // same precondition as deltas/runSupersteps: duplicate sources must
    // collapse BEFORE the schedule, or the engines desynchronize (Spark
    // would run the BFS once post-distinct while a duplicate VALUES row
    // would double sigma in l0's GROUP BY).
    val values = sources.distinct.map(s => s"($s)").mkString(", ")
    val fold = "(acc, x) -> acc + x"
    val sb = new StringBuilder
    sb ++= s"WITH e AS MATERIALIZED ($graphSql),\n"
    sb ++= "nodes AS MATERIALIZED (SELECT src AS id FROM e " +
      "UNION SELECT dst FROM e),\n"
    sb ++= "l0 AS MATERIALIZED (SELECT CAST(s AS BIGINT) AS src, " +
      s"CAST(s AS BIGINT) AS id, CAST(1 AS BIGINT) AS sigma " +
      s"FROM (VALUES $values) v(s) WHERE s IN (SELECT id FROM nodes)),\n"
    sb ++= "v0 AS MATERIALIZED (SELECT src, id FROM l0),\n"
    for (i <- 1 to maxDepth) {
      val p = i - 1
      sb ++= s"l$i AS MATERIALIZED (SELECT p.src, e.dst AS id, " +
        s"CAST(sum(p.sigma) AS BIGINT) AS sigma " +
        s"FROM l$p p JOIN e ON e.src = p.id " +
        s"WHERE NOT EXISTS (SELECT 1 FROM v$p v " +
        s"WHERE v.src = p.src AND v.id = e.dst) " +
        s"GROUP BY p.src, e.dst),\n"
      sb ++= s"v$i AS MATERIALIZED (SELECT src, id FROM v$p " +
        s"UNION ALL SELECT src, id FROM l$i),\n"
    }
    sb ++= s"dl$maxDepth AS MATERIALIZED (SELECT src, id, " +
      s"CAST(0 AS DOUBLE) AS delta FROM l$maxDepth),\n"
    for (l <- (maxDepth - 1) to 1 by -1) {
      val w = l + 1
      sb ++= s"a$l AS MATERIALIZED (SELECT v.src, v.id, " +
        s"CAST(v.sigma AS DOUBLE) / w.sigma * " +
        s"(CAST(1.0 AS DOUBLE) + w.delta) AS a " +
        s"FROM l$l v JOIN e ON e.src = v.id " +
        s"JOIN (SELECT x.src, x.id, x.sigma, d.delta FROM l$w x " +
        s"JOIN dl$w d ON d.src = x.src AND d.id = x.id) w " +
        s"ON w.src = v.src AND w.id = e.dst),\n"
      sb ++= s"dl$l AS MATERIALIZED (SELECT v.src, v.id, " +
        s"coalesce(s.delta, CAST(0 AS DOUBLE)) AS delta FROM l$l v " +
        s"LEFT JOIN (SELECT src, id, list_reduce(list_prepend(" +
        s"CAST(0 AS DOUBLE), list(a ORDER BY a)), $fold) AS delta " +
        s"FROM a$l GROUP BY src, id) s " +
        s"ON s.src = v.src AND s.id = v.id),\n"
    }
    sb ++= "alld AS MATERIALIZED (" +
      (1 to maxDepth).map(l => s"SELECT src, id, delta FROM dl$l")
        .mkString(" UNION ALL ") + ")\n"
    sb ++= "SELECT id AS node_id, round(list_reduce(list_prepend(" +
      s"CAST(0 AS DOUBLE), list(delta ORDER BY delta)), $fold), 6) AS bc " +
      "FROM alld GROUP BY id"
    sb.toString
  }
}
