package graft.ppr

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class BaseSpec extends SparkSpec {

  private def edgesDf = {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 2L)).toDF("src", "dst")
  }

  test("all-pair table inverts backward search to source-major") {
    val ap = Base.allPairs(spark, edgesDf, 0.15, 1e-8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // spot-check against forward power iteration per source.
    val csr = graft.graph.GraphOps.buildCsr(edgesDf)
    for (s <- Seq(1L, 2L, 3L)) {
      val exact = PowerIteration.runLocal(csr, csr.denseOf(s), 0.15, 500)
      for (t <- Seq(1L, 2L, 3L)) {
        val e = exact(csr.denseOf(t))
        val a = ap.getOrElse((s, t), 0.0)
        assert(math.abs(e - a) < 1e-5, s"π($s,$t): exact=$e base=$a")
      }
    }
  }

  test("allPairs over prebuilt CSRs returns the rows allPairs over the " +
      "edges returns") {
    val csr = graft.graph.GraphOps.buildCsr(edgesDf)
    val rcsr = Base.reversedCsr(edgesDf)
    val fwdDeg = Base.forwardDegrees(csr, rcsr)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(r => (r._1, r._2)).toSeq
    for (threshold <- Seq(0.0, 0.05)) {
      val viaEdges = rows(Base.allPairs(spark, edgesDf, 0.15, 1e-6, 0, threshold))
      val viaCsr = rows(Base.allPairs(spark, csr, rcsr, fwdDeg, 0.15, 1e-6, 0, threshold))
      assert(viaEdges.nonEmpty && viaCsr == viaEdges, s"threshold $threshold")
    }
  }

  test("the shared all-pair fit: g_base_allpair == a fresh uncached " +
      "sweep, g_base_topk == the rank cut over it, and invalidation " +
      "refits to the same answer") {
    import graft.queries.Graph
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // fresh sweep, bypassing the session fit — the row's previous body
    val fresh = Base.allPairs(spark,
        graft.graph.GraphOps.lineitemGraph(spark, sfDir, Graph.BaseMod),
        Graph.Alpha, Graph.BaseRmax, Graph.BaseSupersteps)
      .select(col("src"), col("dst"), round(col("score"), 9).as("score"))
      .where(col("score") >= Graph.BaseThreshold)
    val freshAp = canon(fresh)
    val ap0 = canon(Graph.queries("g_base_allpair")(spark, sfDir))
    assert(ap0 == freshAp && ap0.nonEmpty)
    val topk0 = Graph.queries("g_base_topk")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val topkFresh = Base.topkTable(fresh, Graph.TopK).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(topk0 == topkFresh)
    // re-ingest contract: refit from source, same answer
    Graph.invalidateModels(spark, sfDir)
    assert(canon(Graph.queries("g_base_allpair")(spark, sfDir)) == freshAp)
  }

  test("store round-trip with partition pruning, size, delete") {
    val dir = Files.createTempDirectory("base_store").toString + "/ppr"
    val ap = Base.allPairs(spark, edgesDf, 0.15, 1e-6)
    Base.writeStore(ap, dir)
    assert(Base.storeSize(spark, dir) > 0)

    val one = Base.readSource(spark, dir, 1L)
    // the pruned read equals the in-memory slice.
    val expected = ap.where(col("src") === 1L)
      .select(col("dst"), col("score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = one.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == expected)

    // partition pruning visible in the physical plan.
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || got.nonEmpty)

    assert(Base.deleteStore(spark, dir))
    assert(Base.storeSize(spark, dir) == 0)
  }

  test("top-k store mode: rank-truncated, tie-inclusive, rank-ordered read") {
    val dir = Files.createTempDirectory("base_topk").toString + "/ppr"
    val k = 2
    val ap = Base.allPairs(spark, edgesDf, 0.15, 1e-6)
    Base.writeTopkStore(ap, dir, k)

    val full = ap.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (s <- Seq(1L, 2L, 3L)) {
      val rows = Base.readTopkSource(spark, dir, s).collect()
      // read-back order IS rank order (T5 insertion-order semantics).
      assert(rows.map(_.getInt(2)).toSeq == rows.map(_.getInt(2)).sorted.toSeq)
      assert(rows.map(r => r.getDouble(1)).toSeq ==
        rows.map(_.getDouble(1)).sortBy(-(_: Double)).toSeq)
      // tie-inclusive kth cut: every stored score >= every dropped score.
      val stored = rows.map(r => r.getLong(0)).toSet
      val dropped = full.collect { case ((`s`, t), p) if !stored(t) => p }
      assert(rows.length >= math.min(k, full.count(_._1._1 == s)))
      if (dropped.nonEmpty)
        assert(rows.map(_.getDouble(1)).min >= dropped.max)
    }
    assert(Base.storeSize(spark, dir) > 0)
    assert(Base.deleteStore(spark, dir))
  }

  test("every lookup of a written store equals a Spark SQL scan of it, full " +
      "and top-k, bit for bit") {
    val ap = Base.allPairs(spark, edgesDf, 0.15, 1e-6)
    val full = Files.createTempDirectory("base_scan").toString + "/ppr"
    val topk = Files.createTempDirectory("base_scan_topk").toString + "/ppr"
    Base.writeStore(ap, full)
    Base.writeTopkStore(ap, topk, 2)
    def bits(rows: Array[org.apache.spark.sql.Row]) = rows.toSeq.map(r =>
      (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        if (r.length > 2) r.getInt(2) else 0))
    for (s <- Seq(1L, 2L, 3L, 4L)) {
      val want = spark.read.parquet(full).where(col("src") === s)
        .select("node_id", "score").collect()
      assert(bits(Base.readSource(spark, full, s).collect()).sortBy(_._1) ==
        bits(want).sortBy(_._1), s"source $s")
      val wantTopk = spark.read.parquet(topk).where(col("src") === s)
        .select("node_id", "score", "rk").orderBy("rk", "node_id").collect()
      assert(bits(Base.readTopkSource(spark, topk, s).collect()) == bits(wantTopk),
        s"top-k source $s")
    }
    assert(Base.deleteStore(spark, full) && Base.deleteStore(spark, topk))
  }

  private def rejectsBoth(arg: String, rmax: Double, threshold: Double): Unit = {
    val csr = graft.graph.GraphOps.buildCsr(edgesDf)
    val rcsr = Base.reversedCsr(edgesDf)
    val fwdDeg = Base.forwardDegrees(csr, rcsr)
    for (call <- Seq(
        () => Base.allPairs(spark, edgesDf, 0.15, rmax, 0, threshold),
        () => Base.allPairs(spark, csr, rcsr, fwdDeg, 0.15, rmax, 0, threshold))) {
      val err = intercept[IllegalArgumentException](call())
      assert(err.getMessage.contains(arg), err.getMessage)
    }
  }

  test("both allPairs overloads reject rmax <= 0") {
    for (rmax <- Seq(0.0, -1e-4, Double.NaN)) rejectsBoth("rmax", rmax, 0.0)
  }

  test("both allPairs overloads reject a negative threshold") {
    for (t <- Seq(-1e-9, Double.NaN)) rejectsBoth("threshold", 1e-4, t)
  }
}
