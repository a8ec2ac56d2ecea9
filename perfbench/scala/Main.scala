package perfbench

import java.io.{BufferedReader, File, InputStreamReader}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.api.PprEngine
import graft.graph.{Csr, GraphOps}
import graft.ppr.{BackwardSearch, Base, Fora, PowerIteration}

/** One benchmark run of one workload against the engine (see README.md).
  *
  * Usage: `perfbench.Main workload=<name> trace=<0|1> sf=<dir> work=<dir>
  * ops=<n> warm=<n> clients=<n> setups=<n> kernels=<n>`.
  *
  * Protocol with `run.py`: after its set-ups the run prints
  * `PERFBENCH_NODES <n>`, then reads one line from stdin: the generated
  * sources as dense node indices, `warm,...|timed,...` in operation
  * order; the warm-up operations run first, untimed. It ends by
  * printing `PERFBENCH_RESULT <json>` with the raw timings,
  * per-operation verdicts, and in a traced run the spans and Spark
  * counters; `run.py` turns these into metrics.
  */
object Main {
  val Alpha = 0.15
  val OracleIters = 100
  val TopK = 50
  val TopkEps = 0.5
  val BaseRmax = 1e-4
  val BaseThreshold = 5e-4
  /** The all-pair graph's node-id modulus (see README.md for the sizing). */
  val AllpairMod = 101

  final case class Verdict(ok: Boolean, err: String, precision: Double, absErr: Double)

  final case class Op(id: Int, startNs: Long, endNs: Long, callNs: Long, verdict: Verdict) {
    def json: Json.Raw = Json.obj("id" -> id,
      "start_ms" -> startNs / 1e6, "end_ms" -> endNs / 1e6, "call_ms" -> callNs / 1e6,
      "ok" -> verdict.ok, "err" -> verdict.err,
      "precision" -> verdict.precision, "abs_err" -> verdict.absErr)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    require(Set("topk_serve", "allpair_store")(workload), s"unknown workload $workload")
    val run = new Run(workload, a("trace") == "1", a("sf"), a("work"), a("ops").toInt,
      a("warm").toInt, a("clients").toInt, a("setups").toInt, a("kernels").toInt)
    val code = try { run.execute(); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    } finally run.close()
    System.exit(code)
  }

  final class Run(workload: String, trace: Boolean, sfDir: String, workDir: String,
      nOps: Int, nWarm: Int, clients: Int, setups: Int, kernelSamples: Int) {

    log("session")
    val spark: SparkSession = graft.LocalSession.create()
    private val sc = spark.sparkContext
    private val cpus = sc.defaultParallelism
    private val spans = new Spans(trace)
    private val counters = if (trace) Some(SparkCounters.attach(sc)) else None
    private val storeDir = new File(workDir, "store").getAbsolutePath

    def close(): Unit = { counters.foreach(_.detach()); spark.stop() }

    // ---------------------------------------------------------------- set-up

    /** The workload's graph; `small` derives it with the same function at
      * a small node-id modulus, for the untimed warm-up.
      */
    private def derive(small: Boolean): DataFrame = workload match {
      case "topk_serve" =>
        GraphOps.lineitemGraph(spark, sfDir, if (small) 1009 else graft.queries.Graph.TriMod)
      case "allpair_store" => GraphOps.lineitemGraph(spark, sfDir, if (small) 31 else AllpairMod)
    }

    private def base(engine: PprEngine) = new engine.base(BaseRmax, BaseThreshold)

    /** Edge derivation, CSR build and engine construction, plus the BASE
      * preprocess on allpair_store. The traced run splits the preprocess
      * into its two public steps so the CSR rebuild and the store write
      * get their own spans.
      */
    private def setUp(rep: Int, old: Option[PprEngine]): (PprEngine, Json.Raw) = {
      release(old)
      SparkCounters.tag(sc, "setup")
      val t0 = System.nanoTime()
      val engine = spans("derive", "graph") {
        val eng = new PprEngine(spark, derive(small = false))
        eng.edgesDf.count()
        eng
      }
      val t1 = System.nanoTime()
      spans("csr_build", "graph")(engine.csr)
      val t2 = System.nanoTime()
      var rebuildNs, writeNs = 0L
      if (workload == "allpair_store") {
        if (trace) spans("preprocess", "api") {
          val ap = spans("all_pairs", "store") {
            Base.allPairs(spark, engine.edgesDf, Alpha, BaseRmax, 0, BaseThreshold)
          }
          val t = System.nanoTime()
          spans("write_store", "store")(Base.writeStore(ap, storeDir))
          rebuildNs = t - t2
          writeNs = System.nanoTime() - t
        }
        else base(engine).preprocess(storeDir)
      }
      val t3 = System.nanoTime()
      (engine, Json.obj("rep" -> rep, "derive_s" -> (t1 - t0) / 1e9,
        "csr_s" -> (t2 - t1) / 1e9, "prep_s" -> (t3 - t2) / 1e9,
        "prep_csr_rebuild_s" -> rebuildNs / 1e9, "prep_write_s" -> writeNs / 1e9,
        "total_s" -> (t3 - t0) / 1e9))
    }

    private def release(old: Option[PprEngine]): Unit = {
      old.foreach(_.edgesDf.unpersist(true))
      GraphOps.invalidateGraphs(spark, sfDir)
    }

    /** One untimed set-up on the small graph, so that the timed set-ups
      * measure the engine rather than the JVM's class loading and JIT.
      */
    private def warmUp(): Unit = {
      SparkCounters.tag(sc, "warmup")
      val eng = new PprEngine(spark, derive(small = true))
      eng.csr
      if (workload == "allpair_store") {
        base(eng).preprocess(storeDir)
        base(eng).readPpr(storeDir, eng.csr.ids(0)).collect()
        base(eng).deletePrep(storeDir)
      }
      release(Some(eng))
    }

    // ---------------------------------------------------------------- oracle

    /** 100-iteration power iteration per distinct source, on all cores. */
    private def oracle(csr: Csr, sources: Seq[Long]): Map[Long, Array[Double]] = {
      val pool = Executors.newFixedThreadPool(cpus)
      try {
        val fs = sources.distinct.map { s =>
          s -> pool.submit(new Callable[Array[Double]] {
            def call(): Array[Double] =
              PowerIteration.runLocal(csr, csr.denseOf(s), Alpha, OracleIters)
          })
        }
        fs.map { case (s, f) => s -> f.get() }.toMap
      } finally pool.shutdown()
    }

    // ---------------------------------------------------------------- checks

    private def sortedDesc(xs: Array[Double]): Array[Double] = {
      val c = xs.clone(); java.util.Arrays.sort(c); c.reverse
    }

    /** Indices of the k largest entries, ties at the kth value broken by
      * the lower index.
      */
    private def topIdx(xs: Array[Double], k: Int): Seq[Int] = {
      val kth = sortedDesc(xs)(k - 1)
      val above = xs.indices.filter(xs(_) > kth)
      above ++ xs.indices.filter(xs(_) == kth).take(k - above.size)
    }

    /** Top-k precision of the dense estimate against the oracle,
      * tie-inclusive on the oracle side.
      */
    private def precision(est: Array[Double], pi: Array[Double], piDesc: Array[Double]): Double = {
      val k = math.min(TopK, pi.length)
      val kth = piDesc(k - 1)
      topIdx(est, k).count(v => pi(v) >= kth * (1 - 1e-9)).toDouble / k
    }

    /** Scatters (node_id, score) rows into a dense vector; fails on an
      * unknown or repeated node id.
      */
    private def scatter(csr: Csr, rows: Iterator[Row], idCol: Int, scoreCol: Int): Array[Double] = {
      val full = new Array[Double](csr.numNodes)
      val seen = new java.util.BitSet(csr.numNodes)
      rows.foreach { r =>
        val v = csr.denseOf(r.getLong(idCol))
        if (v < 0) throw new IllegalStateException(s"unknown node ${r.getLong(idCol)}")
        if (seen.get(v)) throw new IllegalStateException(s"node ${r.getLong(idCol)} repeated")
        seen.set(v)
        full(v) = r.getDouble(scoreCol)
      }
      full
    }

    /** FORA approximate top-k (ε = 0.5, δ = 1/n): at least k rows, and for
      * the i-th answer |π̂ − π| ≤ ε·π + δ and π ≥ (1 − ε)·π*_i − δ, where
      * π*_i is the oracle's i-th largest score.
      */
    private def checkTopk(csr: Csr, rows: Array[Row], pi: Array[Double]): Verdict = {
      val est = scatter(csr, rows.iterator, 0, 1)
      val piDesc = sortedDesc(pi)
      val delta = 1.0 / csr.numNodes
      val top = rows.map(r => csr.denseOf(r.getLong(0)))
        .sortBy(v => (-est(v), v)).take(TopK)
      val absErr = if (rows.isEmpty) 1.0 else rows.map(r => csr.denseOf(r.getLong(0)))
        .map(v => math.abs(est(v) - pi(v))).max
      val bad =
        if (top.length < math.min(TopK, piDesc.count(_ > 0))) s"only ${top.length} rows"
        else top.zipWithIndex.collectFirst {
          case (v, _) if math.abs(est(v) - pi(v)) > TopkEps * pi(v) + delta =>
            s"score of node $v off: ${est(v)} vs ${pi(v)}"
          case (v, i) if pi(v) < (1 - TopkEps) * piDesc(i) - delta =>
            s"rank $i holds node $v with ${pi(v)} < ${piDesc(i)}"
        }.getOrElse("")
      Verdict(bad.isEmpty, bad, precision(est, pi, piDesc), absErr)
    }

    /** BASE lookup: every stored score within threshold + rmax of the
      * oracle, an absent row reading as 0.
      */
    private def checkLookup(csr: Csr, rows: Array[Row], pi: Array[Double]): Verdict = {
      val est = scatter(csr, rows.iterator, 0, 1)
      val errs = est.indices.map(v => math.abs(est(v) - pi(v)))
      val worst = errs.max
      val bad =
        if (worst > BaseThreshold + BaseRmax) s"node ${errs.indexOf(worst)} off by $worst"
        else ""
      Verdict(bad.isEmpty, bad, precision(est, pi, sortedDesc(pi)), worst)
    }

    // ---------------------------------------------------------------- ops

    /** Closed loop: `clients` threads, each issuing its next operation when
      * the previous one returns, one operation per source in `ids`. An
      * operation is timed from its call to its collected result; the check
      * runs after the clock stops.
      */
    private def runOps(engine: PprEngine, ids: IndexedSeq[Long], sp: Spans,
        phase: String, oracles: Map[Long, Array[Double]]): (Seq[Op], Long) = {
      val csr = engine.csr
      val nOps = ids.length
      val ops = new Array[Op](nOps)
      val next = new AtomicInteger(0)
      val pool = Executors.newFixedThreadPool(clients)
      val t0 = System.nanoTime()
      val futures = (0 until clients).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = {
            SparkCounters.tag(sc, phase)
            var i = next.getAndIncrement()
            while (i < nOps) {
              val start = System.nanoTime()
              var callNs = 0L
              var end = 0L
              ops(i) = try {
                val (rows, verdict) = sp("op", "bench", i) {
                  def call[A](name: String)(f: => A): A = {
                    val s = System.nanoTime()
                    val r = sp(name, "api", i)(f)
                    callNs = System.nanoTime() - s
                    r
                  }
                  workload match {
                    case "topk_serve" =>
                      val src = ids(i)
                      val df = call("topk_ppr")(new engine.fora(TopkEps).topkPpr(src, TopK))
                      val rows = sp("collect", "spark", i)(df.collect())
                      end = System.nanoTime()
                      (rows, () => checkTopk(csr, rows, oracles(src)))
                    case "allpair_store" =>
                      val src = ids(i)
                      val df = call("read_ppr")(base(engine).readPpr(storeDir, src))
                      val rows = sp("collect", "spark", i)(df.collect())
                      end = System.nanoTime()
                      (rows, () => checkLookup(csr, rows, oracles(src)))
                  }
                }
                Op(i, start - t0, end - t0, callNs, verdict())
              } catch {
                case e: Throwable =>
                  Op(i, start - t0, System.nanoTime() - t0, callNs,
                    Verdict(false, e.toString, Double.NaN, Double.NaN))
              }
              i = next.getAndIncrement()
            }
          }
        })
      }
      futures.foreach(_.get())
      val wall = System.nanoTime() - t0
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
      (ops.toSeq, wall)
    }

    // ---------------------------------------------------------------- kernels

    /** Single-threaded timings, in this JVM, of the workload's local kernel
      * for the first `kernelSamples` distinct sources (targets on
      * allpair_store), with its work count: walks for FORA, stored
      * entries for backward search.
      */
    private def kernels(engine: PprEngine, sources: Seq[Long]): Seq[Json.Raw] = {
      val csr = engine.csr
      val sample = sources.distinct.take(kernelSamples)
      workload match {
        case "topk_serve" =>
          val conf = Fora.Conf(engine.conf.alpha, TopkEps, engine.conf.pfail,
            engine.conf.delta, engine.conf.seed)
          sample.map { s =>
            val d = csr.denseOf(s)
            val t = System.nanoTime()
            spans("topk_local", "kernel")(Fora.topkLocal(csr, d, TopK, conf))
            val ms = (System.nanoTime() - t) / 1e6
            Json.obj("ms" -> ms, "work" -> Fora.topkTrace(csr, d, TopK, conf).numWalks)
          }
        case "allpair_store" =>
          // the reversed CSR and forward degrees exactly as Base.allPairs builds them
          import org.apache.spark.sql.functions.col
          val rcsr = GraphOps.buildCsr(
            engine.edgesDf.select(col("dst").as("src"), col("src").as("dst")))
          val fwdDeg = Array.tabulate(rcsr.numNodes) { v =>
            val d = csr.denseOf(rcsr.originalOf(v))
            if (d < 0) 0 else csr.outDegree(d)
          }
          val ws = new BackwardSearch.Workspace(rcsr.numNodes)
          csr.ids.toSeq.take(kernelSamples).map { t =>
            val d = rcsr.denseOf(t)
            val s = System.nanoTime()
            val out = spans("backward_local", "kernel") {
              BackwardSearch.runLocalSparse(rcsr, fwdDeg, d, Alpha, BaseRmax, 0, ws)
            }
            Json.obj("ms" -> (System.nanoTime() - s) / 1e6, "work" -> out.length)
          }
      }
    }

    // ---------------------------------------------------------------- run

    def execute(): Unit = {
      val setupRows = Seq.newBuilder[Json.Raw]
      var engine: PprEngine = null
      log("warm-up")
      warmUp()
      for (rep <- 0 until setups) {
        log(s"set-up $rep")
        val (e, row) = setUp(rep, Option(engine))
        engine = e
        setupRows += row
      }
      val csr = engine.csr
      println(s"PERFBENCH_NODES ${csr.numNodes}")
      Console.out.flush()
      val line = new BufferedReader(new InputStreamReader(System.in)).readLine()
      require(line != null && line.nonEmpty, "no sources on stdin")
      val Array(warmIds, ids) = line.split("\\|", -1).map(part =>
        part.split(",").filter(_.nonEmpty).map(s => csr.ids(s.trim.toInt)).toIndexedSeq)
      require(ids.length == nOps && warmIds.length == nWarm,
        s"${warmIds.length} + ${ids.length} sources for $nWarm + $nOps operations")
      log("oracle")
      val oracles = oracle(csr, warmIds ++ ids)
      log("operations")

      def untimed(name: String, o: Seq[Op]) = Json.obj("name" -> name,
        "attempted" -> o.size, "errors" -> o.filterNot(_.verdict.ok).map(_.verdict.err),
        "latency_ms" -> o.filter(_.verdict.ok).map(x => (x.endNs - x.startNs) / 1e6))
      val passes = Seq.newBuilder[Json.Raw]
      passes += untimed("warm", runOps(engine, warmIds, new Spans(false), "warm", oracles)._1)
      if (trace)
        passes += untimed("plain", runOps(engine, ids, new Spans(false), "plain", oracles)._1)
      val (ops, wall) = runOps(engine, ids, spans, "ops", oracles)
      log("kernels")
      val kernelRows = if (trace) kernels(engine, ids) else Nil
      log("store and counters")

      val stateBytes = workload match {
        case "allpair_store" => base(engine).prepSize(storeDir)
        case _ => csrBytes(csr)
      }
      val store = if (workload == "allpair_store") {
        val parts = Option(new File(storeDir).listFiles()).getOrElse(Array.empty[File])
          .filter(_.isDirectory)
        Json.obj("partitions" -> parts.length,
          "files" -> parts.map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum,
          "rows" -> spark.read.parquet(storeDir).count(), "bytes" -> stateBytes)
      } else Json.obj("partitions" -> 0, "files" -> 0, "rows" -> 0, "bytes" -> 0)
      counters.foreach(_.drain())

      val out = Json.obj(
        "workload" -> workload, "trace" -> trace, "cpus" -> cpus, "clients" -> clients,
        "nodes" -> csr.numNodes, "edges" -> csr.numEdges,
        "csr_bytes" -> csrBytes(csr), "state_bytes" -> stateBytes,
        "setups" -> setupRows.result(),
        "ops" -> ops.map(_.json), "wall_s" -> wall / 1e9,
        "untimed" -> passes.result(),
        "kernel" -> kernelRows, "store" -> store,
        "spark" -> counters.map(_.json).getOrElse(null),
        "spans" -> (if (trace) spans.json else null))
      println("PERFBENCH_RESULT " + Json.value(out))
      Console.out.flush()
      log("done")
    }
  }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = {
    val up = System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"perfbench ${up / 1e3}%.1f s: $msg")
  }

  def csrBytes(csr: Csr): Long =
    8L * csr.ids.length + 4L * csr.offsets.length + 4L * csr.targets.length
}
