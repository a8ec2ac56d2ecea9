package graft.ppr

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.graph.{Csr, GraphOps}

/** K9 — BASE all-pair PPR preprocessing + lookup store (SURVEY §2.8 K9,
  * §1.1 D5/D6, §2.1 S7-S9; reference `Base_Whole_Graph.java:58-164`).
  *
  * The reference runs backward search for EVERY node as target, inverts the
  * per-target columns into a source-major map, threshold-filters, and
  * writes one text file per source (`Base_Whole_Graph.java:80-88,118-162`);
  * a later query re-reads exactly one file. It OOMs at small thresholds
  * because everything is held in one heap until the final flush
  * (Dissertation §5.3).
  *
  * Spark-first shape: fan out over targets (the embarrassingly parallel
  * axis) with the sparse backward-search kernel per task
  * ([[BackwardSearch.runLocalSparse]] through [[BackwardSearch.batch]];
  * the dense `runLocal` is only the specs' reference), one shuffle to
  * source-major via `partitionBy("src")` Parquet write, and a lookup is
  * one task that reads exactly the queried source's files through
  * [[PprStore]]'s file index.
  * Memory is bounded per task, so the reference's OOM disappears
  * structurally. At 100 TB: targets × nodes >> cluster cores, and the
  * write path streams through the shuffle — no driver materialization
  * anywhere.
  */
object Base {

  /** All-pair PPR: (src, dst, score) where score ≈ π(src, dst), computed by
    * multi-target backward search and inverted to source-major.
    * `scoreThreshold` drops near-zero entries before storing (P1,
    * `Base_Whole_Graph.java:83-87`). Builds the forward and reversed CSRs
    * from `edges`; a caller that already holds them uses the other overload.
    */
  def allPairs(
      spark: SparkSession,
      edges: DataFrame,
      alpha: Double = 0.15,
      rmax: Double = 1e-4,
      maxSupersteps: Int = 0,
      scoreThreshold: Double = 0.0): DataFrame = {
    requireArgs(rmax, scoreThreshold)
    val csr = GraphOps.buildCsr(edges)
    val rcsr = reversedCsr(edges)
    allPairs(spark, csr, rcsr, forwardDegrees(csr, rcsr), alpha, rmax,
      maxSupersteps, scoreThreshold)
  }

  /** [[allPairs]] over prebuilt graphs: `csr` of the edges, `rcsr` of the
    * reversed edges ([[reversedCsr]]) and `fwdDeg` the forward out-degrees
    * in `rcsr`'s dense id space ([[forwardDegrees]]). Broadcasts `rcsr`
    * and `fwdDeg` once; a caller that already holds the broadcasts uses
    * the other overload.
    */
  def allPairs(
      spark: SparkSession,
      csr: Csr,
      rcsr: Csr,
      fwdDeg: Array[Int],
      alpha: Double,
      rmax: Double,
      maxSupersteps: Int,
      scoreThreshold: Double): DataFrame = {
    requireArgs(rmax, scoreThreshold)
    allPairs(spark, spark.sparkContext.broadcast(rcsr),
      spark.sparkContext.broadcast(fwdDeg), csr.ids.toSeq, alpha, rmax,
      maxSupersteps, scoreThreshold)
  }

  /** [[allPairs]] over an already broadcast reversed CSR and degree array,
    * with `sources` the nodes whose vectors are stored (every node of the
    * graph, in the forward CSR's id order).
    */
  def allPairs(
      spark: SparkSession,
      rcsr: Broadcast[Csr],
      fwdDeg: Broadcast[Array[Int]],
      sources: Seq[Long],
      alpha: Double,
      rmax: Double,
      maxSupersteps: Int,
      scoreThreshold: Double): DataFrame = {
    requireArgs(rmax, scoreThreshold)
    val inverted = BackwardSearch
      .batch(spark, rcsr, fwdDeg, sources, alpha, rmax, maxSupersteps, 0)
      .select(col("node_id").as("src"), col("dst"), col("score"))
    if (scoreThreshold > 0.0) inverted.where(col("score") >= scoreThreshold)
    else inverted
  }

  private def requireArgs(rmax: Double, scoreThreshold: Double): Unit = {
    require(rmax > 0, s"rmax must be > 0, got $rmax")
    require(scoreThreshold >= 0,
      s"threshold must be >= 0, got $scoreThreshold")
  }

  /** CSR of the reversed edges — backward search walks in-edges. */
  def reversedCsr(edges: DataFrame): Csr =
    GraphOps.buildCsr(edges.select(col("dst").as("src"), col("src").as("dst")))

  /** Forward out-degree of every node, in `rcsr`'s dense id space. */
  def forwardDegrees(csr: Csr, rcsr: Csr): Array[Int] =
    Array.tabulate(rcsr.numNodes) { v =>
      val d = csr.denseOf(rcsr.originalOf(v))
      if (d < 0) 0 else csr.outDegree(d)
    }

  /** S7 — persist the all-pair table source-major via the shared
    * [[PprStore]] layout (Parquet partitioned by `src`, so a per-source
    * query reads one directory).
    */
  def writeStore(allPairs: DataFrame, dir: String): Unit =
    PprStore.write(allPairs.select(col("src"),
      col("dst").as("node_id"), col("score")), dir)

  /** S8 — read one source's PPR vector back as local `(node_id, score)`
    * rows, one task reading the files of `dir/src=<s>/` (the Spark
    * analogue of the reference's one-file-per-source read,
    * `Base_Whole_Graph.java:167-186`).
    */
  def readSource(spark: SparkSession, dir: String, source: Long): DataFrame =
    PprStore.read(spark, dir, source)

  /** T5 — the all-pair table truncated to each source's tie-inclusive
    * top-k with an EXPLICIT rank column (reference BASE top-k store mode,
    * `Base_Whole_Graph.java:133-155`: kth-value cut, sort desc, write in
    * rank order). The materialized `rk` is what replaces the reference's
    * reliance on file line order (its `getTopKNodeIds` returns
    * `LinkedHashMap` insertion order, `Base_Whole_Graph.java:207-210`) —
    * a Parquet read has no line order, the stored rank IS the order.
    * Ties share a rank (RANK, not ROW_NUMBER), so the cut may exceed k
    * rows exactly like the reference's `>= kth` filter.
    */
  def topkTable(allPairs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("src")).orderBy(col("score").desc)
    allPairs.withColumn("rk", rank().over(w)).where(col("rk") <= k)
  }

  /** S7 (top-k mode) — persist the rank-truncated store source-major;
    * same lookup contract and (src, node_id, score) naming as
    * [[PprStore]], plus the rank column.
    */
  def writeTopkStore(allPairs: DataFrame, dir: String, k: Int): Unit =
    PprStore.writePartitioned(topkTable(allPairs, k)
      .select(col("src"), col("dst").as("node_id"), col("score"), col("rk")), dir)

  /** S8 (top-k mode) — ordered read-back of one source's pre-truncated
    * vector: rank ascending (node_id tie-break), the reference's
    * insertion-order `getTopKNodeIds` semantics. One task reads the
    * source's files as [[PprStore.read]] does; the rows are sorted on the
    * driver and returned as a local `(node_id, score, rk)` DataFrame.
    */
  def readTopkSource(spark: SparkSession, dir: String, source: Long): DataFrame = {
    val rows = PprStore.readRows(spark, dir, source, RankedSchema)
      .sortBy(r => (r.getInt(2), r.getLong(0)))
    PprStore.local(spark, rows, RankedSchema)
  }

  /** `(node_id, score, rk)` — a top-k store lookup's answer. */
  private val RankedSchema = PprStore.VectorSchema.add("rk", IntegerType)

  /** S9 — store size in bytes (reference `getPrepSize`,
    * `Base_Whole_Graph.java:238-244`).
    */
  def storeSize(spark: SparkSession, dir: String): Long =
    PprStore.size(spark, dir)

  /** S9 — recursive delete (reference `deletePrepDir`). */
  def deleteStore(spark: SparkSession, dir: String): Boolean =
    PprStore.delete(spark, dir)

  /** DuckDB oracle: backward-search oracle over ALL nodes as targets,
    * inverted to (src, dst, score) and threshold-filtered.
    */
  def oracleSql(
      graphSql: String,
      alpha: Double,
      rmax: Double,
      supersteps: Int,
      scoreThreshold: Double,
      roundTo: Int = 9): String = {
    val targetsSql =
      s"SELECT DISTINCT id AS t FROM (SELECT src AS id FROM ($graphSql) " +
        s"UNION ALL SELECT dst AS id FROM ($graphSql))"
    val inner = BackwardSearch.oracleSqlMulti(
      graphSql, targetsSql, alpha, rmax, supersteps, roundTo)
    s"SELECT node_id AS src, dst, score FROM ($inner) " +
      s"WHERE score >= $scoreThreshold"
  }
}
