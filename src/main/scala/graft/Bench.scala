package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** README's trust bound on `recheck_ratio`, now ENFORCED: a full
    * board reading above it is re-run (once) instead of shipped.
    */
  val RecheckBound = 1.3
  val MaxBoardAttempts = 2

  /** Trust bound on `floor_ratio` = tail-vs-pre-board job-floor probe
    * (see [[gateRerun]]). Looser than [[RecheckBound]]: empty-job floors
    * are scheduler-noisy even on a quiet host, and the 20-job aggregate
    * only needs to catch multiples (the round-10 discarded board read
    * floor-dominated rows at 3× under load that arrived mid-board).
    */
  val FloorBound = 2.0

  /** Per-row floor sampling (the third signal): ONE empty job is timed
    * before every board row, and a row whose probe reads ≥
    * [[FloorSpikeX]] × the board's median probe ran under an inflated
    * scheduling floor. The bracketing pre/tail probes miss a transient
    * that rises and drains INSIDE the board (observed: a 306 s board
    * with g_pagerank at 10× while floor_ratio read 0.99 and
    * recheck_ratio 0.68 — both endpoints quiet); the per-row samples
    * are co-located with the rows themselves, so a spike cannot hide
    * between them. A board is gated when more than [[FloorHotFracBound]]
    * of its rows were measured hot — isolated scheduler hiccups on a
    * quiet box stay under it, a multi-row interference window does not.
    * Cost: ~90 ms × rows ≈ 7% of a quiet sf0.1 board, disclosed via the
    * floor_row_* env fields.
    */
  val FloorSpikeX = 3.0
  val FloorHotFracBound = 0.15

  /** The gate decision, pure so BenchGateSpec can pin it: re-run only a
    * FULL board (subset runs read high ratios by construction), only
    * while attempts remain, and only past a bound. TWO contamination
    * signals, either sufficient:
    *   - `ratio` (in-board first row vs its tail re-run) catches "hot
    *     during the board, drained by the tail" — the r6/r7 co-resident
    *     JVM mode;
    *   - `floorRatio` (tail job-floor probe vs pre-board probe) catches
    *     the inverse "quiet at start, load arrived mid-board" mode the
    *     row recheck is blind to when the recheck row is compute-bound:
    *     the round-10 discarded 230 s board read recheck_ratio 0.67
    *     while its checkpoint-floor rows (g_power_ppr) sat at 3× —
    *     pure scheduler-floor inflation, exactly what an empty-job
    *     probe measures.
    */
  def gateRerun(subsetRun: Boolean, ratio: Double, attempt: Int,
      floorRatio: Double = 0.0, floorHotFrac: Double = 0.0): Boolean =
    !subsetRun && (ratio > RecheckBound || floorRatio > FloorBound ||
      floorHotFrac > FloorHotFracBound) &&
      attempt < MaxBoardAttempts

  /** Fraction of per-row floor probes ≥ [[FloorSpikeX]] × their median
    * — pure so BenchGateSpec can pin it. Empty input (subset of 0 rows)
    * reads 0.
    */
  def floorHotFrac(probes: Seq[Double]): Double =
    if (probes.isEmpty) 0.0
    else {
      val sorted = probes.sorted
      val med = sorted(sorted.length / 2)
      if (med <= 0) 0.0
      else probes.count(_ >= FloorSpikeX * med).toDouble / probes.length
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.create()
    // optional comma-separated subset for local iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // Contamination telemetry (see README "Reading a bench artifact"):
    // the warmup below is FIXED work, so its wall time is a
    // machine-interference probe that rides along for free; the OS load
    // average bounds it from the other side.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = osBean.getSystemLoadAverage
    val warmT0 = System.nanoTime()
    // untimed warmup: one scan + shuffle agg + join exercises the parquet
    // reader, codegen and shuffle paths so the alphabetically-first timed
    // query doesn't absorb JVM/JIT warmup (r2/r3 showed the first query
    // 3× its warm cost).
    try {
      val li = Tables(spark, sfDir, "lineitem")
      val o = Tables(spark, sfDir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("l_returnflag").count().count()
    } catch { case _: Throwable => () }
    // ...and the d_* family's paths, which the scan/join warmup above
    // does not touch — without these the alphabetically-first timed row
    // (d_bigram_lm, first of the WHOLE board) absorbed them (r6
    // judge-measured 4.7 s vs its sub-1 s warm cost):
    //   (a) the cold first read of the documents corpus (page cache +
    //       string-column parquet decode),
    //   (b) encoder codegen + JIT for the typed TextOps kernels,
    //   (c) the bigram-shaped tuple3 encoder + string-key shuffle.
    try {
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, length, sum}
      val ops = graft.text.TextOps
      Tables(spark, sfDir, "documents")
        .agg(sum(length(col("text")))).count()
      val warm = (0 until 100).map(i => (i.toLong,
          s"warm up row $i the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text").as[(Long, String)]
      warm.mapPartitions(_.map { case (id, t) =>
          val c = ops.curateCounts(t)
          val acc = ops.shingles(t).length + ops.charNgrams(t).length +
            ops.passageHashes(t, 8).length + ops.chunkFps(t, 16, 8).length +
            ops.simhash32(t) + ops.fingerprint(t) + ops.contentHash64(t) +
            c.nTok
          (id, acc)
        })
        .groupBy(col("_2") % 7).count().count()
      warm.mapPartitions(_.flatMap { case (id, t) =>
          val toks = t.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
          (0 until math.max(0, toks.length - 1)).iterator
            .map(i => (id, toks(i), toks(i + 1)))
        })
        .toDF("doc_id", "w1", "w2")
        .groupBy("w1", "w2").count().count()
    } catch { case _: Throwable => () }
    // ...and the S4 load-once graph snapshots (the reference loads its
    // graph ONCE per run and times queries against the in-memory
    // snapshot; BASELINE.md publishes load times separately from query
    // times). These driver-side CSR memos are JVM-scoped by design
    // (the sanctioned csrCache dispensation — deterministic loads of
    // immutable fixtures, exempt from the per-attempt fit
    // invalidation), so WITHOUT this they land in whichever row
    // touches them first on attempt 1 only: the shipped board's
    // per-row times then depend on the contamination gate's attempt
    // count (observed: g_bwdsearch_skew 37 s on an attempt-1 board vs
    // 0.12 s on every attempt-2 board — the quadratic power-law CSR
    // build). Loading them here makes every attempt include the same
    // costs; the price is disclosed via csr_warm_sec.
    val csrWarmT0 = System.nanoTime()
    try {
      val G = graft.queries.Graph
      graft.graph.GraphOps.lineitemCsr(spark, sfDir, G.Mod)
      graft.graph.GraphOps.lineitemCsr(spark, sfDir, G.Mod, reversed = true)
      graft.graph.GraphOps.lineitemWeightedCsr(spark, sfDir, G.Mod)
      graft.graph.GraphOps.lineitemFlickrCsr(spark, sfDir, G.SkewMod,
        G.SkewFan)
      graft.graph.Got.cachedCsr(spark)
    } catch { case _: Throwable => () }
    val csrWarmSec = (System.nanoTime() - csrWarmT0) / 1e9
    val warmupSec = (System.nanoTime() - warmT0) / 1e9
    // deterministic name order: per-query timings are comparable across
    // rounds (Map hash order made the first-hashed query absorb JVM warmup).
    val sc = spark.sparkContext
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val pinnedBefore = sc.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // the result is fully materialized — anything this query pinned
      // (eager checkpoints, caches) is dead weight for the rest of the
      // session; 80 queries' worth of leftovers is GC pressure that
      // inflates every later measurement. Session-scoped model caches
      // (SessionPins: the fitted-once PQ codebooks) are spared — their
      // rows time the marginal cost given a warm model, the serving
      // economics the recall rows measure.
      val now = sc.getPersistentRDDs
      (now.keySet -- pinnedBefore -- graft.operators.SessionPins.pinned(sc))
        .foreach(id => now.get(id).foreach(_.unpersist(false)))
      dt
    }
    // Contamination recheck: re-run the FIRST timed query after the board
    // completes. Interference from a co-resident JVM (the r6/r7 committed
    // artifacts' failure mode) inflates in-board times but has usually
    // drained by the tail, so board_sec/tail_sec ≫ 1 marks a contaminated
    // artifact from the artifact alone; ≈ 1 (tail re-runs are warm, so
    // slightly below 1 is normal) marks a quiet one.
    // Job-floor probe: 20 empty jobs measure the per-job scheduling
    // floor (what the iterative rows' cost is MADE of — they run
    // supersteps of tiny tasks). A few throwaway jobs first so the probe
    // itself is JIT-warm on attempt 1.
    def floorProbe(): Double = {
      var i = 0
      while (i < 5) { spark.range(1).count(): Unit; i += 1 }
      val t0 = System.nanoTime()
      i = 0
      while (i < 20) { spark.range(1).count(): Unit; i += 1 }
      (System.nanoTime() - t0) / 1e9
    }
    def runBoard(): (Seq[(String, Double)],
        Option[(String, Double, Double)], Double, Double, Seq[Double]) = {
      // Every attempt is SELF-CONTAINED (r19 verdict #1): drop every
      // session fit for the bench dir before the first row, so each fit
      // is paid exactly once INSIDE a timed row per board — a gate
      // re-run can no longer inherit attempt 1's warm caches and time
      // pure cache reads for the ~45 fit-bearing rows. The call fans out
      // to every family (Graph/GraphOps/Text ride
      // Embeddings.invalidateModels).
      graft.queries.Embeddings.invalidateModels(spark, sfDir)
      val preFloor = floorProbe() // also JIT-warms the per-row probes
      val rowFloors = Seq.newBuilder[Double]
      val rs = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        val f0 = System.nanoTime()
        spark.range(1).count(): Unit
        rowFloors += (System.nanoTime() - f0) / 1e9
        name -> timed(name, fn)
      }
      val rc = rs.headOption.map { case (name, boardSec) =>
        (name, boardSec, timed(name, selected(name)))
      }
      val tailFloor = floorProbe()
      (rs, rc, preFloor, tailFloor, rowFloors.result())
    }
    // Contamination GATE (README "Reading a bench artifact"): a FULL
    // board whose own recheck_ratio exceeds the documented trust bound
    // was measured under external interference — re-run it instead of
    // shipping a poisoned headline artifact (the r8 failure mode: a
    // self-convicting but still-committed BENCH_r0N.json). One retry is
    // enough in practice: by then the interfering process has drained
    // and every kernel is JIT-warm. Subset runs (SPARK_GRAFT_ONLY) skip
    // the gate — their first row absorbs kernel JIT by construction and
    // reads a high ratio even on a quiet box. If the retry is STILL hot
    // the artifact prints with its high ratio intact (self-convicting)
    // plus a stderr warning — never silently.
    var attempt = 1
    var (results, recheck, preFloor, tailFloor, rowFloors) = runBoard()
    def ratio: Double = recheck
      .map { case (_, b, t) => if (t > 0) b / t else 0.0 }.getOrElse(0.0)
    def floorRatio: Double = if (preFloor > 0) tailFloor / preFloor else 0.0
    def hotFrac: Double = floorHotFrac(rowFloors)
    while (gateRerun(only.nonEmpty, ratio, attempt, floorRatio, hotFrac)) {
      System.err.println(f"[bench] contaminated board (recheck_ratio $ratio%.3f" +
        f" bound $RecheckBound; floor_ratio $floorRatio%.3f bound $FloorBound;" +
        f" floor_hot_frac $hotFrac%.3f bound $FloorHotFracBound)" +
        f" — re-running, attempt ${attempt + 1}/$MaxBoardAttempts")
      attempt += 1
      val rr = runBoard()
      results = rr._1; recheck = rr._2; preFloor = rr._3; tailFloor = rr._4
      rowFloors = rr._5
    }
    if (only.isEmpty && (ratio > RecheckBound || floorRatio > FloorBound ||
        hotFrac > FloorHotFracBound))
      System.err.println(f"[bench] WARNING: recheck_ratio $ratio%.3f /" +
        f" floor_ratio $floorRatio%.3f / floor_hot_frac $hotFrac%.3f still" +
        f" past bounds after $attempt attempts — DO NOT trust this artifact")
    val loadEnd = osBean.getSystemLoadAverage
    import graft.harness.Fmt.r3
    // per-query values at 3 dp (r19 verdict #2): full double precision
    // made the one-line JSON ~8 KB and the driver's tail window truncated
    // it every round (PERF per_query empty since r01) — 3 dp ≫ the
    // measurement noise, so round-over-round comparability is unaffected.
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val env = {
      val rc = recheck.map { case (name, b, t) =>
        s""","recheck_query":"$name","recheck_board_sec":${r3(b)}""" +
          s""","recheck_tail_sec":${r3(t)}""" +
          s""","recheck_ratio":${r3(if (t > 0) b / t else 0.0)}"""
      }.getOrElse("")
      s"""{"warmup_sec":${r3(warmupSec)},"csr_warm_sec":${r3(csrWarmSec)}""" +
        s""","load_avg_start":${r3(loadStart)}""" +
        s""","load_avg_end":${r3(loadEnd)},"attempts":$attempt""" +
        s""","fit_policy":"invalidate-per-attempt"""" +
        s""","gate_bound":$RecheckBound,"floor_pre_sec":${r3(preFloor)}""" +
        s""","floor_tail_sec":${r3(tailFloor)}""" +
        s""","floor_ratio":${r3(floorRatio)},"floor_bound":$FloorBound""" + {
          val sorted = rowFloors.sorted
          if (sorted.isEmpty) ""
          else {
            val med = sorted(sorted.length / 2)
            val p90 = sorted(math.min(sorted.length - 1,
              (sorted.length * 9) / 10))
            s""","floor_row_med_sec":${r3(med)}""" +
              s""","floor_row_p90_sec":${r3(p90)}""" +
              s""","floor_row_max_sec":${r3(sorted.last)}""" +
              s""","floor_hot_frac":${r3(hotFrac)}""" +
              s""","floor_hot_bound":$FloorHotFracBound"""
          }
        } + s"""$rc}"""
    }
    val boardLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","env":$env}"""
    // SPARK_GRAFT_REPEAT=N (honored for subset runs only): re-time the
    // subset N−1 more times in the SAME warm JVM, one {"metric":"rep"}
    // JSON line per pass — the warm-board micro-compare's data
    // (tools/warm_compare.py). The r16 lesson, codified: cold subset
    // measurements contradicted warm boards twice (both experiments
    // reverted); the line above is pass 1 (absorbs subset JIT), every
    // rep line after it is warm, and the tool refuses a verdict when
    // the warm spread exceeds the delta under judgment.
    // guarded parse (r17 ADVICE): a malformed value must not throw AFTER
    // the full board has run — warn to stderr and fall back to 1 pass.
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT").map { v =>
      scala.util.Try(v.trim.toInt).toOption match {
        case Some(r) if r >= 1 => r
        case _ =>
          System.err.println(
            s"SPARK_GRAFT_REPEAT='$v' is not a positive int — using 1")
          1
      }
    }.getOrElse(1)
    if (only.nonEmpty && repeat > 1) {
      for (rep <- 2 to repeat) {
        val rs = selected.toSeq.sortBy(_._1)
          .map { case (name, fn) => name -> timed(name, fn) }
        val rq = rs.map { case (k, v) => s"\"" + k + "\":" + v }
          .mkString("{", ",", "}")
        val rt = rs.map(_._2).sum
        println(s"""{"metric":"rep","rep":$rep,"value":$rt,"unit":"sec","queries":$rq,"sf":"$sfDir"}""")
      }
    }
    spark.stop()
    // the one-line board JSON prints AFTER spark.stop() so it is the
    // very last stdout line (r19 verdict #2): nothing — not even a
    // stop-time log line — can land between it and the driver's tail
    // window.
    println(boardLine)
  }
}
