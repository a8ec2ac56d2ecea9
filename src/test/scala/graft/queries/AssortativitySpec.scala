package graft.queries

import graft.SparkSpec
import graft.graph.GraphOps

class AssortativitySpec extends SparkSpec {

  test("g_assortativity matches the brute-force Newman r and its " +
      "integer moments") {
    val r = Graph.queries("g_assortativity")(spark, sfDir).collect()(0)

    val und = GraphOps.lineitemGraph(spark, sfDir, Graph.TriMod).collect()
      .map(x => (math.min(x.getLong(0), x.getLong(1)),
        math.max(x.getLong(0), x.getLong(1)))).distinct
    val pairs = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val m = pairs.length.toLong
    val sJk = pairs.map { case (u, v) => deg(u) * deg(v) }.sum
    val sJ = pairs.map { case (u, _) => deg(u) }.sum
    val sJj = pairs.map { case (u, _) => deg(u) * deg(u) }.sum
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((m, sJk, sJ, sJj)))
    val want = (m * sJk - sJ * sJ).toDouble / (m * sJj - sJ * sJ).toDouble
    assert(r.getDouble(4) == want) // same exact integer operands → same double
    assert(want >= -1.0 && want <= 1.0)

    // Range honesty, enforced: the r numerator/denominator products must
    // sit well inside int64 (the scaladoc's documented headroom). Checked
    // exactly in BigInt so an overflow-then-wrap can't self-certify.
    val headroom = BigInt(1) << 62
    assert(BigInt(m) * BigInt(sJj) < headroom)
    assert(BigInt(m) * BigInt(sJk) < headroom)
    assert(BigInt(sJ) * BigInt(sJ) < headroom)
  }

  test("g_knn_degree: per-class brute replay; classes partition the " +
      "stub scan and the curve is consistent with the assortativity " +
      "moments") {
    val got = Graph.queries("g_knn_degree")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    val und = GraphOps.lineitemGraph(spark, sfDir, Graph.TriMod).collect()
      .map(x => (math.min(x.getLong(0), x.getLong(1)),
        math.max(x.getLong(0), x.getLong(1)))).distinct
    val pairs = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val want = pairs.map { case (u, v) => (deg(u), deg(v)) }
      .groupBy(_._1).view.mapValues { vs =>
        (vs.length.toLong, vs.map(_._2).sum)
      }.toMap
    assert(got.keySet == want.keySet && got.nonEmpty)
    want.foreach { case (k, (n, s)) =>
      val (gn, gs, gknn) = got(k)
      assert((gn, gs) == ((n, s)), s"class $k")
      assert(gknn == graft.graph.Hashing.round6(s.toDouble / n))
    }
    // classes partition the stub scan: Σ n_stubs = 2m, Σ s_dv = Σ du
    assert(got.values.map(_._1).sum == pairs.length.toLong)
    assert(got.values.map(_._2).sum ==
      pairs.map { case (u, _) => deg(u) }.sum)
  }

  test("the shared degree-class histogram serves both rows from one " +
      "fit, and invalidation refits to the same answer") {
    val sc = spark.sparkContext
    val knn0 = Graph.queries("g_knn_degree")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet // triggers (or reuses) the session fit
    val r0 = Graph.queries("g_assortativity")(spark, sfDir).collect()(0)
    val pinned0 = graft.operators.SessionPins.pinned(sc)
    Graph.invalidateModels(spark, sfDir)
    assert(graft.operators.SessionPins.pinned(sc).size < pinned0.size,
      "invalidation must unpin the shared histogram/degree blocks")
    val knn1 = Graph.queries("g_knn_degree")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet // REFIT from source — not a stale frame
    assert(knn1 == knn0)
    val r1 = Graph.queries("g_assortativity")(spark, sfDir).collect()(0)
    assert((0 to 3).forall(i => r1.getLong(i) == r0.getLong(i)))
    assert(java.lang.Double.doubleToLongBits(r1.getDouble(4)) ==
      java.lang.Double.doubleToLongBits(r0.getDouble(4)))
  }

  test("assortativityWide (DECIMAL(38,0) moments) reproduces the narrow " +
      "query's moments and bit-identical r") {
    val narrow = Graph.queries("g_assortativity")(spark, sfDir).collect()(0)
    val wide = Graph.assortativityWide(spark, sfDir).collect()(0)
    assert(wide.getLong(0) == narrow.getLong(0))
    for (i <- 1 to 3)
      assert(wide.getDecimal(i).toBigInteger == BigInt(narrow.getLong(i)).bigInteger)
    // both renderings fold exact integers → the one DOUBLE division is
    // bit-identical, not merely close
    assert(java.lang.Double.doubleToLongBits(wide.getDouble(4)) ==
      java.lang.Double.doubleToLongBits(narrow.getDouble(4)))
  }
}
