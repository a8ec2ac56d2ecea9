package graft.ppr

import org.apache.spark.graphx.{Edge, Graph => XGraph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K10 — library-PageRank wrapper (SURVEY §2.8 K10; reference
  * `Neo4j_Method.java:67-99` delegates to Neo4j's PageRankAlgorithm and
  * then normalizes by Σπ).
  *
  * Spark's counterpart is GraphX `staticPersonalizedPageRank`. Semantic
  * deltas, mirrored from the reference's own caveats:
  *   - α convention: our `alpha` is the STOP probability; GraphX's
  *     `resetProb` is the same convention (restart mass to the source), so
  *     NO 1-α flip is needed here, unlike Neo4j's damping factor
  *     (`Neo4j_Method.java:75`).
  *   - dangling nodes: GraphX lets dangling mass vanish (no
  *     restart-to-source), so totals need the same Σπ normalization the
  *     reference applies (A6, `Neo4j_Method.java:80-99`).
  * Like the reference's Neo4j baseline, ranks are comparable but absolute
  * errors are large vs power iteration — only rank order is asserted
  * (Dissertation §5.3).
  */
object GraphXPpr {

  /** Personalized PageRank via GraphX; returns (node_id, score) normalized
    * to Σ=1, zero rows omitted. A source that is not a vertex (or an empty
    * graph) gives 0 rows: GraphX normalizes by a zero Σπ there and yields
    * NaN ranks, which `score > 0` alone would keep (NaN sorts above every
    * number in Spark SQL).
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      source: Long,
      alpha: Double = 0.15,
      iterations: Int = 25): DataFrame = {
    import spark.implicits._
    val edgeRdd = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, ()) }
    val g = XGraph.fromEdges(edgeRdd, ())
    val ranks = g.staticPersonalizedPageRank(source, iterations, alpha).vertices
    // cache before the Σπ action so staticPersonalizedPageRank runs once,
    // not once for the total and again for the final select; the cache is
    // scoped to this call — the small normalized result is materialized
    // (localCheckpoint) and the rank cache released before returning, so
    // repeated calls don't accrete executor storage.
    val df = ranks.toDF("node_id", "score")
      .where(col("score") > 0.0 && !isnan(col("score"))).cache()
    try {
      // no positive rank ⇒ sum is NULL and the select below is empty
      val total = df.agg(sum("score")).head
      val norm = if (total.isNullAt(0)) lit(1.0) else lit(total.getDouble(0))
      df.select(col("node_id"), (col("score") / norm).as("score"))
        .localCheckpoint(true)
    } finally df.unpersist()
  }

  /** Node-count ceiling for the all-sources parallel path in [[runBatch]]:
    * that path carries a |V|-wide vector per vertex (O(|V|²) state) and
    * ships |V|-wide messages per edge, so it is only for fixture-sized
    * graphs (GOT: 107 nodes). Beyond it runBatch degrades to the
    * per-source static loop — correct at any scale, one Pregel run per
    * source (the reference's own Neo4j-loop shape).
    */
  val AllSourcesNodeLimit = 512

  /** Batched personalized PageRank with per-source results IDENTICAL to
    * [[run]]'s `staticPersonalizedPageRank`, returning
    * `(src, node_id, score)` normalized to Σ=1 per source, zero rows
    * omitted.
    *
    * This is the LIBRARY analogue of the other kernels' `batch` paths: the
    * reference loops Neo4j's PageRank once per query node
    * (`Neo4j_Method.java:67-99` driver loop), which at grid scale means
    * |sources| full graph traversals per grid point.
    *
    * Why NOT `runParallelPersonalizedPageRank` over just `sources`: Spark
    * 4.1.2's parallel implementation is wrong for partial source batches —
    * measured on the GOT fixture, a batch-of-one run from source 3 at 5
    * iterations drops 8 vertices that BFS places at hop 4 (reachable mass
    * silently lost in the breeze sparse-vector merge), and a source's
    * scores change with which other sources are co-batched
    * (max|Δ| 5.4e-2 between co-member sets {3,17} and {3,99}). The SAME
    * call with sources = ALL vertices reproduces
    * `staticPersonalizedPageRank` bit-for-bit, because no vertex starts
    * from the shared empty sparse vector. So: on graphs up to
    * [[AllSourcesNodeLimit]] nodes we run the parallel path once with
    * every vertex as a source and keep the requested columns (one graph
    * traversal per grid point, exact static semantics); above the limit we
    * fall back to the per-source static loop rather than ever running a
    * partial batch.
    */
  def runBatch(
      spark: SparkSession,
      edges: DataFrame,
      sources: Seq[Long],
      alpha: Double = 0.15,
      iterations: Int = 25,
      allSourcesNodeLimit: Int = AllSourcesNodeLimit): DataFrame = {
    import spark.implicits._
    if (sources.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("src", "node_id", "score")
    val edgeRdd = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, ()) }
    val g = XGraph.fromEdges(edgeRdd, ()).cache()
    try {
      // dispatch on a distributed COUNT — collecting vertex ids first
      // would be O(|V|) driver memory on a graph that takes the fallback
      // arm precisely because it is too big for driver-side state.
      val wanted = sources.toSet
      val raw =
        if (g.vertices.count() <= allSourcesNodeLimit) {
          val vertexIds = g.vertices.keys.collect().sorted
          val ranks = org.apache.spark.graphx.lib.PageRank
            .runParallelPersonalizedPageRank(g, iterations, alpha, vertexIds)
            .vertices
          ranks.flatMap { case (vid, vec) =>
            vertexIds.indices.iterator
              .filter(i => wanted(vertexIds(i)) && vec(i) > 0.0)
              .map(i => (vertexIds(i), vid, vec(i)))
          }.toDF("src", "node_id", "score")
        } else {
          // one static Pregel run per source is inherent to the library
          // shape, but the combine must not be: a linear unionAll fold
          // builds an O(|sources|)-deep logical plan that Catalyst
          // re-analyzes whole at every step (driver-plan blowup for
          // grid-scale source batches). Union in RDD space instead —
          // sc.union is a single flat UnionRDD node regardless of arity.
          val perSrc = sources.distinct.map { src =>
            g.staticPersonalizedPageRank(src, iterations, alpha)
              .vertices
              .filter(_._2 > 0.0)
              .map { case (vid, score) => (src, vid, score) }
          }
          spark.sparkContext.union(perSrc).toDF("src", "node_id", "score")
        }
      val df = raw.cache()
      try {
        val tot = df.groupBy("src").agg(sum("score").as("tot"))
        df.join(broadcast(tot), Seq("src"))
          .select(col("src"), col("node_id"),
            (col("score") / col("tot")).as("score"))
          .localCheckpoint(true)
      } finally df.unpersist()
    } finally g.unpersist()
  }
}
