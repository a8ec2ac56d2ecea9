package graft.api

import graft.{SparkCounting, SparkSpec}
import graft.graph.Csr
import graft.ppr.{BackwardSearch, MonteCarlo, PowerIteration, PprConf}
import java.nio.file.Files
import org.apache.spark.BroadcastValues
import org.apache.spark.sql.DataFrame
import org.scalatest.concurrent.{Eventually, Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

class PprEngineSpec extends SparkSpec with SparkCounting with TimeLimits
    with Eventually {

  private def engineOf(edges: Seq[(Long, Long)], conf: PprConf = PprConf()) = {
    val s = spark
    import s.implicits._
    new PprEngine(spark, edges.toDF("src", "dst"), conf)
  }

  private def engine = engineOf(
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 1L), (4L, 1L)))

  private def toMap(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** `f` throws an IllegalArgumentException naming `arg`, and no Spark
    * job ran before it did.
    */
  private def rejects(arg: String)(f: => Any): Unit = {
    var err: IllegalArgumentException = null
    val jobs = jobsDuring { err = intercept[IllegalArgumentException](f) }
    assert(err.getMessage.contains(arg), err.getMessage)
    assert(jobs == 0, s"$arg: $jobs Spark jobs ran before the rejection")
  }

  test("power facade matches kernel; topk is tie-inclusive subset") {
    val e = engine
    val whole = e.power.wholeGraphPpr(1L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exact = PowerIteration.runLocal(e.csr, e.csr.denseOf(1L), 0.15, 100)
    for (v <- 0 until e.csr.numNodes) {
      assert(math.abs(exact(v) - whole.getOrElse(e.csr.originalOf(v), 0.0)) < 1e-12)
    }
    val topk = e.power.topkPpr(1L, 2).collect()
    assert(topk.length >= 2)
    assert(topk.map(_.getDouble(1)).min >=
      whole.values.toSeq.sorted.reverse(1) - 1e-15)
  }

  test("base facade stores and reads back via partition pruning") {
    val e = engine
    val dir = Files.createTempDirectory("engine_base").toString + "/store"
    val b = new e.base(1e-6, 0.0)
    b.preprocess(dir)
    assert(b.prepSize(dir) > 0)
    val one = b.readPpr(dir, 1L).collect()
    assert(one.nonEmpty)
    assert(b.deletePrep(dir))
  }

  test("per-algo prep stores round-trip: forward push, Monte-Carlo, library") {
    val e = engine
    val algos: Seq[(String, e.PrepVia, Long => Map[Long, Double])] = Seq(
      ("fwdpush", new e.forwardPush(1e-6),
        (s: Long) => new e.forwardPush(1e-6).wholeGraphPpr(s).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap),
      ("mc", new e.monteCarlo(0.5),
        (s: Long) => new e.monteCarlo(0.5).wholeGraphPpr(s).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap),
      ("library", new e.libraryPpr(20),
        (s: Long) => new e.libraryPpr(20).wholeGraphPpr(s).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap))
    for ((name, algo, direct) <- algos) {
      val dir = Files.createTempDirectory(s"prep_$name").toString + "/store"
      algo.preprocess(dir)
      assert(algo.prepSize(dir) > 0, s"$name: empty store")
      // the pruned read-back equals the direct computation (deterministic
      // kernels: fixed seeds / fixed iteration counts).
      val stored = algo.readPpr(dir, 1L).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val expect = direct(1L)
      assert(stored.keySet == expect.keySet, s"$name: support mismatch")
      for ((k, v) <- expect)
        assert(math.abs(stored(k) - v) < 1e-12, s"$name: π($k)")
      assert(algo.deletePrep(dir), s"$name: delete")
      assert(algo.prepSize(dir) == 0L, s"$name: size after delete")
    }
  }

  test("GraphX library baseline preserves rank order of the oracle") {
    val e = engine
    val lib = new e.libraryPpr(30).wholeGraphPpr(1L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(lib.values.sum - 1.0) < 1e-9) // A6 normalization
    val exact = PowerIteration.runLocal(e.csr, e.csr.denseOf(1L), 0.15, 100)
    val exactTop = (0 until e.csr.numNodes).maxBy(exact)
    val libTop = lib.maxBy(_._2)._1
    assert(e.csr.originalOf(exactTop) == libTop)
  }

  test("backward column equals the dense kernel exactly and the power " +
      "oracle within rmax") {
    val e = engine
    val rmax = 1e-4
    val csr = e.csr
    val rcsr = graft.ppr.Base.reversedCsr(e.edgesDf)
    val fwdDeg = graft.ppr.Base.forwardDegrees(csr, rcsr)
    for (t <- csr.ids) {
      val column = toMap(new e.backward(rmax).pprColumn(t))
      val dense = BackwardSearch.runLocal(rcsr, fwdDeg, rcsr.denseOf(t),
        0.15, rmax)
      val want = (0 until rcsr.numNodes).filter(dense(_) != 0.0)
        .map(v => rcsr.originalOf(v) -> dense(v)).toMap
      assert(column == want, s"target $t")
      // no dangling node in this graph: the column is π(·, t) up to rmax
      for (s <- csr.ids) {
        val exact = PowerIteration.runLocal(csr, csr.denseOf(s), 0.15, 500)
        val err = math.abs(exact(csr.denseOf(t)) - column.getOrElse(s, 0.0))
        assert(err <= rmax, s"π($s, $t) off by $err")
      }
    }
  }

  test("power and forward-push top-k each run exactly one Spark job") {
    val e = engine
    e.csr // the lazy CSR build is set-up, not part of a query
    val fp = new e.forwardPush(1e-6)
    for ((name, call) <- Seq[(String, () => DataFrame)](
        "power" -> (() => e.power.topkPpr(1L, 2)),
        "forwardPush" -> (() => fp.topkPpr(1L, 2)))) {
      var rows = 0
      assert(jobsDuring { rows = call().collect().length } == 1, name)
      assert(rows >= 2, name)
    }
  }

  test("an unknown source and an empty graph give 0 rows in every family") {
    val cases = Seq("unknown source" -> (engine, 99L),
      "empty graph" -> (engineOf(Seq.empty), 1L))
    for ((what, (e, s)) <- cases) {
      val root = Files.createTempDirectory("engine_unknown").toString
      val (dir, topDir) = (s"$root/store", s"$root/topk")
      val libDir = s"$root/library"
      val base = new e.base(1e-4, 0.0)
      val baseTopk = new e.base(1e-4, 0.0, k = 2)
      val library = new e.libraryPpr(20)
      base.preprocess(dir)
      baseTopk.preprocess(topDir)
      library.preprocess(libDir)
      val calls = Seq[(String, () => DataFrame)](
        "power" -> (() => e.power.wholeGraphPpr(s)),
        "power top-k" -> (() => e.power.topkPpr(s, 2)),
        "forwardPush" -> (() => new e.forwardPush(1e-4).wholeGraphPpr(s)),
        "forwardPush top-k" -> (() => new e.forwardPush(1e-4).topkPpr(s, 2)),
        "monteCarlo" -> (() => new e.monteCarlo(0.5).wholeGraphPpr(s)),
        "monteCarlo top-k" -> (() => new e.monteCarlo(0.5).topkPpr(s, 2)),
        "fora" -> (() => new e.fora(0.5).wholeGraphPpr(s)),
        "fora top-k" -> (() => new e.fora(0.5).topkPpr(s, 2)),
        "backward" -> (() => new e.backward(1e-4).pprColumn(s)),
        "base.readPpr" -> (() => base.readPpr(dir, s)),
        "base.readPpr top-k store" -> (() => baseTopk.readPpr(topDir, s)),
        "library" -> (() => library.wholeGraphPpr(s)),
        "library.readPpr" -> (() => library.readPpr(libDir, s)))
      for ((name, call) <- calls)
        assert(call().collect().isEmpty, s"$what: $name")
      base.deletePrep(dir)
      baseTopk.deletePrep(topDir)
      library.deletePrep(libDir)
    }
  }

  test("FORA top-k with k >= n returns the whole vector and terminates") {
    implicit val signaler: Signaler = ThreadSignaler
    // 5-node cycle
    val e = engineOf((0L until 5L).map(i => (i, (i + 1) % 5)))
    val f = new e.fora(0.5)
    val whole = toMap(f.wholeGraphPpr(0L))
    assert(whole.size == 5)
    for (k <- Seq(4, 5, 6)) {
      val topk = failAfter(60.seconds)(toMap(f.topkPpr(0L, k)))
      assert(topk.size >= k.min(5), s"k=$k: ${topk.size} rows")
      if (k >= 5) assert(topk == whole, s"k=$k")
    }
  }

  test("a top-k call rejects k < 1") {
    val e = engine
    for (k <- Seq(0, -1)) {
      rejects("k")(e.power.topkPpr(1L, k))
      rejects("k")(new e.forwardPush(1e-4).topkPpr(1L, k))
      rejects("k")(new e.monteCarlo(0.5).topkPpr(1L, k))
      rejects("k")(new e.fora(0.5).topkPpr(1L, k))
    }
    for (k <- Seq(0, -2)) rejects("k")(new e.base(1e-4, 0.0, k))
  }

  test("fora and monteCarlo reject epsilon <= 0") {
    val e = engine
    for (eps <- Seq(0.0, -0.5, Double.NaN)) {
      rejects("epsilon")(new e.fora(eps))
      rejects("epsilon")(new e.monteCarlo(eps))
    }
  }

  test("forwardPush, backward and base reject rmax <= 0") {
    val e = engine
    for (rmax <- Seq(0.0, -1e-4, Double.NaN)) {
      rejects("rmax")(new e.forwardPush(rmax))
      rejects("rmax")(new e.backward(rmax))
      rejects("rmax")(new e.base(rmax, 0.0))
    }
  }

  test("libraryPpr rejects iterations < 1") {
    val e = engine
    for (it <- Seq(0, -1)) rejects("iterations")(new e.libraryPpr(it))
  }

  test("base rejects a negative threshold") {
    val e = engine
    rejects("threshold")(new e.base(1e-4, -1e-9))
  }

  test("PprConf rejects alpha outside (0, 1)") {
    for (a <- Seq(0.0, 1.0, -0.15, 1.5, Double.NaN))
      rejects("alpha")(PprConf(alpha = a))
    // pfail and delta: 0 derives 1/n, anything else must lie in (0, 1)
    for (v <- Seq(1.0, 2.0, -1.0, Double.NaN)) {
      rejects("pfail")(PprConf(pfail = v))
      rejects("delta")(PprConf(delta = v))
    }
  }

  test("FORA top-k runs its one Spark job in the call; collect runs none") {
    val e = engine
    e.csr // the lazy CSR build is set-up, not part of a query
    val f = new e.fora(0.5)
    var df: DataFrame = null
    assert(jobsDuring { df = f.topkPpr(1L, 2) } == 1, "call")
    var rows = 0
    assert(jobsDuring { rows = df.collect().length } == 0, "collect")
    assert(rows >= 2)
    assert(jobsDuring { f.topkPpr(2L, 2).collect() } == 1, "call and collect")
  }

  test("every call of an engine reuses its CSR broadcasts") {
    val e = engine
    e.csr
    val f = new e.fora(0.5)
    assert(broadcastsDuring(f.topkPpr(1L, 2).collect()) == 1, "first call")
    assert(broadcastsDuring {
      for (i <- 0 until 10) f.topkPpr(1L + i % 4, 2).collect()
      f.wholeGraphPpr(1L).collect()
      e.power.topkPpr(1L, 2).collect()
      new e.forwardPush(1e-4).wholeGraphPpr(1L).collect()
      new e.monteCarlo(0.5).wholeGraphPpr(1L).collect()
    } == 0, "later calls")
    // the reversed CSR and its degree array, once
    assert(broadcastsDuring(new e.backward(1e-4).pprColumn(1L).collect()) == 2)
    assert(broadcastsDuring(new e.backward(1e-4).pprColumn(2L).collect()) == 0)
  }

  test("close destroys the broadcasts; later calls fail, a second close is harmless") {
    val e = engine
    val sc = spark.sparkContext
    val before = sc.broadcast(0).id
    val f = new e.fora(0.5)
    assert(f.topkPpr(1L, 2).collect().nonEmpty)
    assert(new e.backward(1e-4).pprColumn(1L).collect().nonEmpty)
    e.close()
    eventually(timeout(30.seconds)) {
      val live = BroadcastValues.between(sc, before, sc.broadcast(0).id)
      assert(!live.exists(_.isInstanceOf[Csr]), "a CSR broadcast outlived close()")
    }
    assert(!e.edgesDf.storageLevel.useMemory, "edges still cached")
    val dir = Files.createTempDirectory("engine_closed").toString + "/store"
    val calls = Seq[(String, () => Any)](
      "fora top-k" -> (() => f.topkPpr(1L, 2)),
      "fora" -> (() => new e.fora(0.5).wholeGraphPpr(1L)),
      "power" -> (() => e.power.wholeGraphPpr(1L)),
      "forwardPush" -> (() => new e.forwardPush(1e-4).topkPpr(1L, 2)),
      "monteCarlo" -> (() => new e.monteCarlo(0.5).wholeGraphPpr(1L)),
      "backward" -> (() => new e.backward(1e-4).pprColumn(1L)),
      "base.preprocess" -> (() => new e.base(1e-4, 0.0).preprocess(dir)),
      "base.readPpr" -> (() => new e.base(1e-4, 0.0).readPpr(dir, 1L)),
      "library" -> (() => new e.libraryPpr(20).wholeGraphPpr(1L)))
    for ((name, call) <- calls) {
      var err: IllegalStateException = null
      val jobs = jobsDuring { err = intercept[IllegalStateException](call()) }
      assert(err.getMessage.contains("closed"), s"$name: ${err.getMessage}")
      assert(jobs == 0, s"$name: $jobs Spark jobs ran after close()")
    }
    e.close()
  }

  test("monteCarlo rejects an epsilon whose walk count overflows") {
    // 1→2→3→1, 3→4→1: ε = 1e-10 needs ω ≈ 2.5e21 > 2^63 walks
    val e = engineOf(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L)))
    e.csr
    rejects("epsilon")(new e.monteCarlo(1e-10).wholeGraphPpr(1L))
    rejects("epsilon")(new e.monteCarlo(1e-10).topkPpr(1L, 2))
  }

  test("monteCarlo runs with the engine's pfail and delta") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 1L), (4L, 1L))
    val e = engineOf(edges, PprConf(delta = 0.01, pfail = 0.01))
    val got = toMap(new e.monteCarlo(0.5).wholeGraphPpr(1L))
    val kernel = toMap(MonteCarlo.sspprBatch(spark, e.csr, Seq(1L), 0.15, 0.5,
      0.01, 0.01, 42L, 0).select("node_id", "score"))
    assert(got == kernel)
    val byDefault = engineOf(edges)
    assert(got != toMap(new byDefault.monteCarlo(0.5).wholeGraphPpr(1L)),
      "pfail = delta = 0.01 gave the default conf's (1/n) answer")
  }

  test("the BASE preprocess reuses the reversed CSR broadcast of backward") {
    val e = engine
    val sc = spark.sparkContext
    assert(new e.backward(1e-4).pprColumn(1L).collect().nonEmpty)
    val dir = Files.createTempDirectory("engine_shared_rcsr").toString + "/store"
    val b = new e.base(1e-4, 0.0)
    val before = sc.broadcast(0).id
    b.preprocess(dir)
    val made = BroadcastValues.between(sc, before, sc.broadcast(0).id)
    assert(!made.exists(v => v.isInstanceOf[Csr] || v.isInstanceOf[Array[Int]]),
      "the preprocess broadcast its own reversed CSR or degree array")
    assert(b.readPpr(dir, 1L).collect().nonEmpty)
    assert(b.deletePrep(dir))
  }
}
