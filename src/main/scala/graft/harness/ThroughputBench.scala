package graft.harness

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.graph.{Got, GraphOps}
import graft.ppr.{Base, Fora, PprStore}

/** BASELINE.md §BENCH axis 2 — the reference-shaped throughput
  * measurement: batched multi-source FORA throughput (queries/min, both
  * whole-graph and top-k) and all-pair BASE prep throughput (pairs/s), on
  * GOT, on the synthetic BlogCatalog-scale graph (the mod-20011 lineitem
  * derivation `g_triangles` uses: ~20k nodes / ~600k directed edges at
  * sf0.1 — edge-count parity with Dissertation Table 3's BlogCatalog at
  * 10,312 nodes / 667,966 directed edges, ~2× its node count), on a
  * Com-Amazon-scale synthetic ([[GraphOps.lineitemMixGraph]] mod 334863
  * fan 3: ~325k nodes / ~1.79M directed edges vs Com-Amazon's 334,863
  * nodes / 1.85M directed — node AND edge parity since round 10; the
  * fan-1 round-9 octave measured the same node count at 1/3 the edges) —
  * the third scale octave, ~200× GOT's node count — and on a
  * Flickr-scale EDGE-HEAVY synthetic ([[GraphOps.lineitemFlickrGraph]]:
  * ~80.5k nodes / ~11.9M directed edges with ~18.6k-degree hubs,
  * node+edge parity with Flickr's 80,513 / 11,799,764) — the
  * edge-density octave, ~150 avg degree where every other scale is
  * ≤ 30.
  *
  * Protocol mirrors the reference benchmark (`Gen_Util.java:99-107`,
  * Dissertation §5.1.3/§5.1.5): 50 query sources drawn uniformly with
  * replacement — SEEDED here (the H2 deviation note), k = 50, α = 0.15.
  * Accuracy knobs are the matching dataset grid's middle point
  * ([[Grids.Got]] / [[Grids.BlogCatalog]]); BASE prep uses the
  * PerfRunner's rmax = 1e-4 with the grid-mid store threshold, and its
  * timed span INCLUDES the source-major store write — the reference's
  * prep cost is compute + one-file-per-source flush
  * (`Base_Whole_Graph.java:58-164`).
  *
  * pairs/s denominates in the SWEPT all-pair space n² (the work the prep
  * performs), with the stored (≥ threshold) pair count reported alongside.
  *
  * Prints ONE JSON line; committed as `BENCH_THROUGHPUT.json` and
  * compared against the dissertation's prose targets in SURVEY §6.
  */
object ThroughputBench {

  import Fmt.{loadAvg, r1, r3}

  def main(args: Array[String]): Unit = {
    val loadStart = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated octave subset (got/syn/amz/fli) for
    // targeted re-measurement — e.g. the r16 syn_fora_topk dip chase;
    // a subset artifact is for comparison, never committed as the
    // headline BENCH_THROUGHPUT.json.
    val only = sys.env.get("GRAFT_THR_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def wanted(tag: String): Boolean = only.forall(_.contains(tag))
    val spark = graft.LocalSession.create()

    val out = new StringBuilder
    def emit(kv: (String, Any)): Unit = {
      if (out.nonEmpty) out ++= ","
      out ++= "\"" + kv._1 + "\":" + (kv._2 match {
        case s: String => "\"" + s + "\""
        case v => v.toString
      })
    }

    def measure(tag: String, edges: DataFrame, foraEps: Double,
        topkEps: Double, baseThreshold: Double): Unit = {
      val csr = GraphOps.buildCsr(edges)
      val n = csr.numNodes.toLong
      val srcs = QuerySampler.sourceIds(csr, 50, 42L)
      emit(s"${tag}_nodes" -> n)
      emit(s"${tag}_edges" -> csr.numEdges)

      val t0 = System.nanoTime()
      Fora.batch(spark, csr, srcs,
        Fora.Conf(alpha = 0.15, epsilon = foraEps)).count()
      val wgSec = (System.nanoTime() - t0) / 1e9
      emit(s"${tag}_fora_whole_sec" -> r3(wgSec))
      emit(s"${tag}_fora_whole_qpm" -> r1(srcs.length * 60.0 / wgSec))

      val t1 = System.nanoTime()
      Fora.topkBatch(spark, csr, srcs, 50,
        Fora.Conf(alpha = 0.15, epsilon = topkEps)).count()
      val tkSec = (System.nanoTime() - t1) / 1e9
      emit(s"${tag}_fora_topk_sec" -> r3(tkSec))
      emit(s"${tag}_fora_topk_qpm" -> r1(srcs.length * 60.0 / tkSec))

      // GRAFT_THR_FORA_REPEAT=N (guarded parse): re-time the two FORA
      // kernels N−1 more times in the SAME warm JVM and emit warm
      // medians + samples — the warm_compare discipline for the
      // throughput scales. DEFAULT 4 since r19 (verdict #3): the r18
      // fli triage proved the cold single-shot numbers swing ±30 % with
      // protocol position (the 745 s Amazon BASE prep churns the page
      // cache before fli runs), so the headline artifact now carries
      // its own warm medians alongside the unchanged cold protocol —
      // the cold first pass is still measured first, from the same
      // state as every earlier round.
      val foraRep = sys.env.get("GRAFT_THR_FORA_REPEAT")
        .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
        .filter(_ >= 1).getOrElse(4)
      if (foraRep > 1) {
        final case class Raw(s: String) { override def toString: String = s }
        val ws = Seq.newBuilder[Double]
        val ts = Seq.newBuilder[Double]
        for (_ <- 2 to foraRep) {
          val a0 = System.nanoTime()
          Fora.batch(spark, csr, srcs,
            Fora.Conf(alpha = 0.15, epsilon = foraEps)).count()
          ws += (System.nanoTime() - a0) / 1e9
          val b0 = System.nanoTime()
          Fora.topkBatch(spark, csr, srcs, 50,
            Fora.Conf(alpha = 0.15, epsilon = topkEps)).count()
          ts += (System.nanoTime() - b0) / 1e9
        }
        def med(xs: Seq[Double]): Double = {
          val s = xs.sorted
          // true median: even-length lists take the midpoint, not the
          // upper element (an N=3 run has 2 warm samples — reporting
          // the max as "median" would bias the triage high)
          if (s.length % 2 == 1) s(s.length / 2)
          else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
        }
        def arr(xs: Seq[Double]): Raw =
          Raw(xs.map(r3(_).toString).mkString("[", ",", "]"))
        val (w, t) = (ws.result(), ts.result())
        emit(s"${tag}_fora_whole_warm_med_sec" -> r3(med(w)))
        emit(s"${tag}_fora_whole_warm_qpm" ->
          r1(srcs.length * 60.0 / med(w)))
        emit(s"${tag}_fora_whole_warm_samples" -> arr(w))
        emit(s"${tag}_fora_topk_warm_med_sec" -> r3(med(t)))
        emit(s"${tag}_fora_topk_warm_samples" -> arr(t))
        emit(s"${tag}_fora_topk_warm_qpm" ->
          r1(srcs.length * 60.0 / med(t)))
      }

      val store = graft.Scratch.dir(spark, s"thr_base_$tag")
      val t2 = System.nanoTime()
      Base.writeStore(
        Base.allPairs(spark, edges, alpha = 0.15, rmax = 1e-4,
          scoreThreshold = baseThreshold),
        store)
      val prepSec = (System.nanoTime() - t2) / 1e9
      val stored = PprStore.table(spark, store).count()
      // BASE per-source query latency (the reference's headline BASE
      // property: query time ≈ constant, one file read per source —
      // Dissertation §5.3-5.4), through the API's lookup path: the store
      // is opened once, each query is a Catalyst partition-pruned
      // single-directory scan.
      val t3 = System.nanoTime()
      srcs.foreach(s => PprStore.read(spark, store, s).count())
      val readSec = (System.nanoTime() - t3) / 1e9
      Base.deleteStore(spark, store)
      emit(s"${tag}_base_prep_sec" -> r3(prepSec))
      emit(s"${tag}_base_pairs_per_sec" -> r1(n.toDouble * n / prepSec))
      emit(s"${tag}_base_stored_pairs" -> stored)
      emit(s"${tag}_base_read_ms_per_query" ->
        r1(readSec * 1000.0 / srcs.length))
    }

    // GOT: the repo demo graph; grid mids ε=0.5 (whole + topk),
    // threshold 5e-5 (Grids.Got).
    if (wanted("got"))
    measure("got", Got.edges(spark).localCheckpoint(true),
      foraEps = 0.5, topkEps = 0.5, baseThreshold = 5.0e-5)
    // BlogCatalog-scale synthetic: grid mids ε=5.0 (whole) / 0.1 (topk),
    // threshold 5e-4 (Grids.BlogCatalog).
    if (wanted("syn"))
    measure("syn", GraphOps.lineitemGraph(spark, sfDir,
        graft.queries.Graph.TriMod).localCheckpoint(true),
      foraEps = 5.0, topkEps = 0.1, baseThreshold = 5.0e-4)
    // Com-Amazon-scale synthetic: grid mids ε=5.0 (whole-graph and topk
    // both, Grids.ComAmazon), BASE threshold 4e-5 (its whole-graph mid;
    // the reference's Com-Amazon BASE PREP grid is empty because BASE
    // prep OOMs there, Dissertation §5.3 — completing it here at all is
    // the structurally-OOM-free claim's second octave).
    if (wanted("amz"))
    measure("amz", GraphOps.lineitemMixGraph(spark, sfDir, 334863, fan = 3)
        .localCheckpoint(true),
      foraEps = 5.0, topkEps = 5.0, baseThreshold = 4.0e-5)
    // Flickr-scale synthetic — the EDGE-HEAVY octave: ~80.5k nodes /
    // ~11.9M directed edges (Flickr is 80,513 / 11,799,764 — parity
    // within 1.2%) with real hub skew (max degree ~18.6k vs median 129,
    // GraphOps.lineitemFlickrGraph) — 20× the edge density of any other
    // scale here and the regime where the kernels' broadcast-CSR memory
    // contract meaningfully binds (~49 MB of the documented ~100 MB
    // guard, SURVEY §4.4). Grid mids from Grids.Flickr: whole-graph
    // ε=5.0 (mid of its 7-point axis), top-k ε=1.0, BASE store
    // threshold 5e-4 (prep-grid mid, store stays sandbox-sized).
    if (wanted("fli"))
    measure("fli", GraphOps.lineitemFlickrGraph(spark, sfDir)
        .localCheckpoint(true),
      foraEps = 5.0, topkEps = 1.0, baseThreshold = 5.0e-4)

    // a GRAFT_THR_ONLY subset artifact self-identifies (r17 ADVICE): the
    // emitted JSON carries the filter, so a partial board can never be
    // mistaken for (or committed as) the 4-octave headline.
    val onlyTag = only
      .map(s => s""""only":"${s.toSeq.sorted.mkString(",")}",""")
      .getOrElse("")
    println(s"""{"metric":"throughput",$onlyTag"sf":"$sfDir"""" +
      s""","load_start":$loadStart,"load_end":${loadAvg()},$out}""")
    spark.stop()
  }
}
