package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Scratch, VerifyArtifacts}
import graft.graph.Got
import graft.harness.QuerySampler
import graft.ppr.{Base, Fora, ForwardPush, Metrics, MonteCarlo, PowerIteration}

/** The reference's own fixture, end to end: GOT CSV import (S1/S2),
  * name↔id resolution (P5/J5), symmetrize, PPR, top-k with names — the
  * exact demo flow of `README.md:19-31` / `PPR.java:154-200` with the
  * reference GOT defaults (α=0.15, k=10).
  *
  * These queries ignore the driver's sfDir: the fixture path is part of
  * the operator (the reference hard-codes `target/got.db` the same way).
  */
object GotQueries {

  /** H4/H5 grid-query constants: a seeded query-node sample over GOT's
    * dense 1..107 id space (QuerySampler draws indices; GotSpec pins the
    * id assignment) and a small FWDPUSH rmax grid evaluated against a
    * 50-iteration power-method ground truth — the deterministic slice of
    * the harness the DuckDB oracle can replay end to end.
    */
  val GridSeed = 7L
  val GridQueries = 5
  val GridK = 10
  val GridPmIters = 50
  val GridSupersteps = 20
  val GridRmaxes: Seq[Double] = Seq(1e-4, 1e-6)
  val GridSources: Seq[Long] =
    QuerySampler.denseIndices(107, GridQueries, GridSeed)
      .map(i => (i + 1).toLong).distinct

  /** BASE threshold sweep (`got_grid_base`): the harness's backward-search
    * residue bound (`PerfRunner.prepAndRead` rmax, reference
    * `Base_Whole_Graph.java` prep) and a 2-point slice of the GOT BASE
    * threshold grid (`Gen_Util.java:602-645`).
    */
  val GridBaseRmax = 1e-4
  val GridBaseThresholds: Seq[Double] = Seq(5.0e-5, 5.0e-7)

  /** Full ε axes for the stochastic algorithm families — the reference's
    * GOT grid arrays VERBATIM, so every (family × suite) cell of the grid
    * (`Gen_Util.java:514-556` whole-graph loop, `:559-599` top-k loop)
    * has an oracle-checked driver row covering the entire axis:
    * whole-graph FORA (`Gen_Util.java:463`), whole-graph MC (`:466`),
    * top-k FORA (`:455`). Each point replays through the same
    * materialized-trace scheme as the single-point r7 rows.
    */
  val GridForaEpsilons: Seq[Double] = Seq(10.0, 5.0, 0.5, 0.1, 0.05)
  val GridMcEpsilons: Seq[Double] = Seq(1.0, 0.5, 0.3, 0.1, 0.05)
  val GridForaTopkEpsilons: Seq[Double] = Seq(10.0, 5.0, 0.5, 0.1, 0.05)
  // top-k MC (`Gen_Util.java:456`) — for GOT the array equals the
  // whole-graph one, but the SUITE differs: the top-k loop scores
  // precision@k/NDCG@k on the tie-inclusive kth cut of the whole-graph
  // estimate (`Monte_Carlo.java:277-319` computeTopKPPR → retrieveTopK).
  val GridMcTopkEpsilons: Seq[Double] = Seq(1.0, 0.5, 0.3, 0.1, 0.05)

  /** `got_truss` truss level and fixed peel horizon: K = 5 (every
    * surviving edge closes ≥ 3 triangles inside the truss) carves the
    * densely-knit core out of the GOT network — 188 of 352 undirected
    * edges survive, converging in 4 peel rounds, so 6 fixed rounds carry
    * 2 spare (TrussSpec asserts the fixpoint). The horizon is part of
    * the operator's semantics, replayed exactly by the unrolled oracle
    * (the `g_kcore`/LPA/CC discipline).
    */
  val TrussK = 5
  val TrussRounds = 6

  /** `got_grid_truss` K axis + horizon: the truss level is the natural
    * parameter a cohesion analysis sweeps (K=4 → 293 edges, K=5 → 188,
    * K=6 → 92 on GOT); the deepest cascade (K=6) reaches its fixpoint in
    * 5 peel rounds, so 7 fixed rounds carry 2 spare at every grid point.
    */
  val GridTrussKs: Seq[Int] = Seq(4, 5, 6)
  val GridTrussRounds = 7

  /** All seven grid rows score against the SAME deterministic
    * power-method ground truth (GridSources × GridPmIters over the GOT
    * CSR); each row used to recompute it — ~7 identical kernel runs per
    * board. The memo holds the COLLECTED tuples on the driver (≤
    * |GridSources|·107 ≈ 535 rows — the csrCache dispensation: a
    * deterministic kernel over an immutable fixture). Each row still
    * builds its OWN DataFrame from the memo — a LocalRelation, free to
    * re-evaluate, so no eager checkpoint to pin — which keeps row and
    * artifact lifecycles fully independent: sharing one checkpointed
    * DataFrame instead would die under Bench's per-query unpersist
    * sweep (a localCheckpoint's truncated lineage cannot be recomputed
    * once unpersisted). The oracle side is untouched: DuckDB replays
    * the full unrolled power iteration per row as before.
    */
  @volatile private var gndMemo: Array[(Long, Long, Double)] = _

  private[queries] def gridGroundTruth(s: SparkSession): DataFrame = {
    import s.implicits._
    if (gndMemo == null) synchronized {
      if (gndMemo == null)
        gndMemo = PowerIteration.batch(s, Got.cachedCsr(s), GridSources,
            Got.Alpha, GridPmIters)
          .select(col("src"), col("node_id"),
            round(col("score"), 9).as("score"))
          .as[(Long, Long, Double)].collect()
    }
    gndMemo.toSeq.toDF("src", "node_id", "score")
  }

  /** Centrality-family grid axes (round-15): the PPR families sweep
    * ε/rmax/threshold grids; the centrality rows ran ONE fixed config
    * each. `got_grid_betweenness` sweeps the truncation DEPTH over the
    * same seeded 5-source sample (the horizon is the operator's one
    * tunable), `got_grid_katz` sweeps the attenuation α at the fixed
    * 10-iteration horizon (α·λ_max must stay < 1; GOT's max degree
    * bounds λ_max ≤ 36, so 0.01 keeps margin). Every grid point is
    * hash-checked against the unrolled DuckDB replay, like the PPR grid
    * rows.
    */
  val GridBcDepths: Seq[Int] = Seq(2, 4, 6)
  val GridKatzAlphas: Seq[Double] = Seq(0.002, 0.005, 0.01)
  val GridKatzIters = 10

  /** `got_grid_seedset` |S| axis + seed pool: topic-sensitive PPR's one
    * structural knob is the preference-set SIZE. Power-of-two sizes
    * keep the uniform teleport weight 1/|S| exact binary in BOTH
    * engines (the [[PowerIteration.oracleSqlSeedSet]] note); the pool
    * is a fixed mod-spread sample of GOT's dense 1..107 id space (the
    * `Graph.SeedSet` discipline) and each size takes a prefix, so the
    * swept sets nest.
    */
  val GridSeedSetSizes: Seq[Int] = Seq(2, 4, 8)
  val GridSeedSetPool: Seq[Long] =
    Seq(1L, 14L, 27L, 40L, 53L, 66L, 79L, 92L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1+S2+J5: load, resolve names→ids, symmetrize.
    "got_edges" -> ((s, _) => Got.edges(s)),

    // Centrality grid, Brandes branch: k-source truncated betweenness at
    // each horizon of the depth axis, one (depth, node_id, bc) frame per
    // grid point — the got_grid_* treatment for the deterministic
    // centrality family (sources = the PPR grid's seeded sample).
    "got_grid_betweenness" -> ((s, _) => {
      val csr = Got.cachedCsr(s)
      GridBcDepths.map { d =>
        graft.graph.Betweenness.batch(s, csr, GridSources, d)
          .select(lit(d).as("depth"), col("node_id"), col("bc"))
      }.reduce(_.unionAll(_))
    }),

    // Centrality grid, Katz branch: the truncated fixpoint at each α of
    // the attenuation axis, 10 iterations fixed — batched through the
    // dense per-task kernel (one task per grid α over the broadcast GOT
    // CSR, ONE job for the whole sweep; the per-α superstep loop ran
    // ~30 job floors for 107 nodes). KatzSpec pins the batch kernel ≡
    // the distributed Katz.run at the row's own 9-dp rounding.
    "got_grid_katz" -> ((s, _) => {
      graft.graph.Katz.batchAlphasLocal(s, Got.cachedCsr(s),
          GridKatzAlphas, GridKatzIters)
        .select(col("alpha"), col("node_id"),
          round(col("katz"), 9).as("katz"))
    }),

    // K-truss of the GOT network (edge-support peeling — the edge-
    // granular companion of g_kcore's node peel): the densely-knit core
    // where every surviving relation closes >= K-2 triangles among
    // survivors. Per round the g_triangles degree-ordered wedge pipeline
    // re-runs on the shrinking survivor set; the loop early-exits at the
    // detected fixpoint (monotone peel: unchanged count == unchanged
    // set), which the unrolled oracle horizon replays exactly.
    "got_truss" -> ((s, _) => {
      val und = Got.edges(s)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
      graft.graph.Truss.run(s, und, TrussK, TrussRounds)
    }),

    // Cohesion grid, truss branch: the K axis of the edge-support peel —
    // the got_grid_* treatment for got_truss (one (k, a, b, sup) frame
    // per truss level, the shrinking-core profile a cohesion analysis
    // reads off the sweep).
    "got_grid_truss" -> ((s, _) => {
      val und = Got.edges(s)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
        .localCheckpoint(true) // shared by all three grid points
      GridTrussKs.map { k =>
        graft.graph.Truss.run(s, und, k, GridTrussRounds)
          .select(lit(k).as("k"), col("a"), col("b"), col("sup"))
      }.reduce(_.unionAll(_))
    }),

    // Seed-set grid: topic-sensitive PPR (the g_ppr_seedset kernel) at
    // each |S| of the size axis — the got_grid_* treatment for the
    // seed-set family. Per point the batched dense kernel runs over the
    // broadcast GOT CSR (one task per set, zero per-iteration shuffles
    // — the grid rows' PowerIteration.batch economics); the oracle
    // replays the identical unrolled uniform(S)-restart recurrence per
    // size. The nesting prefixes make the sweep read as a dilution
    // curve: mass spreads as the preference set widens.
    "got_grid_seedset" -> ((s, _) => {
      val csr = Got.cachedCsr(s)
      PowerIteration.batchSeedSets(s, csr,
          GridSeedSetSizes.map(m => GridSeedSetPool.take(m)),
          Got.Alpha, GridPmIters)
        .select(col("m"), col("node_id"), round(col("score"), 9).as("score"))
    }),

    // K1 on the GOT graph from Arya + T2 tie-inclusive top-k + P5 name
    // projection: "top-10 most PPR-similar characters to Arya".
    "got_ppr_topk" -> ((s, _) => {
      val csr = Got.cachedCsr(s)
      // rank within src (one source here, but the per-src window keeps the
      // plan partition-parallel — no single-partition global WindowExec).
      val ppr = PowerIteration.batch(s, csr, Seq(Got.AryaId), Got.Alpha, Got.Iters)
        .select(col("src"), col("node_id"), round(col("score"), 9).as("score"))
      val ranked = ppr
        .withColumn("rk",
          rank().over(Window.partitionBy(col("src")).orderBy(col("score").desc)))
        .where(col("rk") <= Got.TopK)
      ranked
        .join(broadcast(Got.nodes(s).select(col("id"), col("name"))),
          ranked("node_id") === col("id"))
        .select(col("name"), col("score"), col("rk"))
    }),

    // H2+H4+H5 deterministic slice: the benchmark harness's per-grid-point
    // row — seeded source sample, FWDPUSH at each grid rmax, quality
    // metrics (precision/NDCG/max-err averaged over sources) against the
    // power-method ground truth — as an oracle-checked table, one row per
    // grid point (the reference's `algo_perf_test` loop,
    // `Gen_Util.java:109-257`, over the GOT grid `:451-478`).
    "got_grid_fwdpush" -> ((s, _) => {
      val csr = Got.cachedCsr(s)
      // est is eagerly checkpointed (referenced by 3 metrics — run the
      // kernel once, not per reference); gnd comes from the driver memo.
      val gnd = gridGroundTruth(s)
      GridRmaxes.map { rmax =>
        val est = ForwardPush.batch(s, csr, GridSources, Got.Alpha, rmax,
            GridSupersteps)
          .select(col("src"), col("node_id"), round(col("score"), 9).as("score"))
          .where(col("score") =!= 0.0)
          .localCheckpoint(true)
        Metrics.summary(gnd, est, GridK)
          .select(lit(rmax).as("rmax"),
            round(col("avg_precision"), 9).as("avg_precision"),
            round(col("avg_ndcg"), 9).as("avg_ndcg"),
            round(col("avg_max_err"), 9).as("avg_max_err"))
      }.reduce(_.unionAll(_))
    }),

    // H5 top-k suite branch of the grid (reference top-k test,
    // `Gen_Util.java:504-563`): FWDPUSH — the suite's deterministic
    // algorithm — at each grid rmax, scored by the two quality columns the
    // reference's top-k rows log (precision@k and NDCG@k vs the
    // power-method ground truth; PerfRunner.avgTopkQuality), one row per
    // grid point. With this, all THREE reference suites have an
    // oracle-checked driver row (whole-graph: got_grid_fwdpush,
    // top-k: here, preprocessing: got_grid_base).
    "got_grid_topk" -> ((s, _) => {
      val csr = Got.cachedCsr(s)
      val gnd = gridGroundTruth(s)
      // r20: per-point kernels (the est pushes) unchanged; the metric
      // folds run ONCE tagged by grid index instead of once per point
      // (guide §2.4 — per-row attribution: the per-point chains of
      // tiny exchanges were the row's cost, the kernels microseconds).
      val est = GridRmaxes.zipWithIndex.map { case (rmax, i) =>
        ForwardPush.batch(s, csr, GridSources, Got.Alpha, rmax,
            GridSupersteps)
          .select(col("src"), col("node_id"), round(col("score"), 9).as("score"))
          .where(col("score") =!= 0.0)
          .localCheckpoint(true)
          .withColumn("i", lit(i))
      }.reduce(_.unionAll(_))
      val rmaxCol = GridRmaxes.zipWithIndex.tail
        .foldLeft(when(col("i") === 0, lit(GridRmaxes.head))) {
          case (acc, (v, i)) => acc.when(col("i") === i, lit(v))
        }
      Metrics.topkQualityTagged(gnd, est, GridK, GridRmaxes.indices)
        .select(rmaxCol.as("rmax"),
          round(col("p"), 9).as("avg_precision"),
          round(col("n"), 9).as("avg_ndcg"))
    }),

    // H5 BASE branch of the grid (reference preprocessing sweep,
    // `Gen_Util.java:602-645`): per threshold, BASE all-pair prep (K9,
    // threshold on the rounded score), S7 source-major store write, S8
    // partition-pruned read of the sampled sources, quality metrics vs the
    // same power-method ground truth — one row per threshold with the
    // store's row count (the DuckDB-checkable stand-in for the logged
    // store bytes).
    "got_grid_base" -> ((s, _) => {
      val edges = Got.edges(s)
      val gnd = gridGroundTruth(s)
      // ONE all-pair computation, thresholded per grid point — the
      // backward-search sweep over all 107 targets dominates this row, and
      // the reference's per-threshold re-prep re-derives the identical
      // table (the oracle replays the same filter-on-rounded-score either
      // way).
      val ap = Base.allPairs(s, edges, Got.Alpha, GridBaseRmax,
          GridSupersteps)
        .select(col("src"), col("dst"), round(col("score"), 9).as("score"))
        .localCheckpoint(true)
      // ONE store write at the LOOSEST threshold (r17 verdict #4: the
      // per-threshold partitioned writes were the row's job floor): a
      // tighter threshold's store content is EXACTLY the score ≥ thres
      // subset of the loosest store — the identical rounded doubles are
      // compared either way — so each grid point filters the one
      // read-back (S8's partition-pruned scan) instead of re-writing,
      // and stored_rows counts the subset it would have written.
      val loosest = GridBaseThresholds.min
      val dir = Scratch.dir(s, "got_base_grid/all")
      Base.writeStore(ap.where(col("score") >= loosest), dir)
      val store = s.read.parquet(dir)
      // partition column comes back as INT — restore the id type before
      // joining the ground truth.
      val est0 = store
        .where(col("src").isin(GridSources: _*))
        .select(col("src").cast("long").as("src"), col("node_id"),
          col("score"))
        .localCheckpoint(true) // read once, referenced by 3 metrics × point
      // r20 (guide §2.4): one tagged metric fold over both thresholds
      // and ONE store pass folding both stored_rows counts (each count
      // used to be its own full-store aggregate), instead of a complete
      // metric chain per grid point.
      val est = GridBaseThresholds.zipWithIndex.map { case (thres, i) =>
        est0.where(col("score") >= thres).withColumn("i", lit(i))
      }.reduce(_.unionAll(_))
      val cnt = store.agg(
        coalesce(sum(when(col("score") >= GridBaseThresholds.head, 1L)),
          lit(0L)).as("sr0"),
        GridBaseThresholds.zipWithIndex.tail.map { case (thres, i) =>
          coalesce(sum(when(col("score") >= thres, 1L)), lit(0L))
            .as(s"sr$i")
        }: _*)
      val thresCol = GridBaseThresholds.zipWithIndex.tail
        .foldLeft(when(col("i") === 0, lit(GridBaseThresholds.head))) {
          case (acc, (v, i)) => acc.when(col("i") === i, lit(v))
        }
      val srCol = GridBaseThresholds.indices.tail
        .foldLeft(when(col("i") === 0, col("sr0"))) {
          case (acc, i) => acc.when(col("i") === i, col(s"sr$i"))
        }
      Metrics.summaryTagged(gnd, est, GridK, GridBaseThresholds.indices)
        .crossJoin(broadcast(cnt))
        .orderBy("i")
        .select(thresCol.as("thres"), srCol.as("stored_rows"),
          round(col("avg_precision"), 9).as("avg_precision"),
          round(col("avg_ndcg"), 9).as("avg_ndcg"),
          round(col("avg_max_err"), 9).as("avg_max_err"))
    }),

    // H5 whole-graph suite, FORA family — the FULL GOT ε axis through the
    // SAME trace-replay scheme as `g_fora_ppr`: per grid point the seeded
    // kernel's push state + walk endpoints are materialized, BOTH engines
    // recompose the estimate from the identical SQL text, and the quality
    // summary vs the power-method ground truth is the point's row
    // (`Gen_Util.java:514-556` FORA_WHOLE_GRAPH branch over the GOT array
    // `:463`).
    "got_grid_fora" -> ((s, _) => {
      val csr = Got.cachedCsr(s)
      val gnd = gridGroundTruth(s)
      // ONE (ε × source) task fan-out and ONE artifact tree for the whole
      // axis (foraArtifactsMulti): the per-point write jobs were this
      // row's entire cost at GOT scale (r17 verdict #4). Each point reads
      // its i-slice back through the SAME recomposition SQL text as
      // before; the oracle filters the same parquet tree by i.
      val root = VerifyArtifacts.dir(s, "fora_gotgrid_all")
      Graph.foraArtifactsMulti(s, csr, GridSources, root,
        GridForaEpsilons.map { eps => (g: graft.graph.Csr, src: Long) =>
          val t = Fora.wholeGraphTrace(g, g.denseOf(src),
            Fora.Conf(alpha = Got.Alpha, epsilon = eps))
          (t.reserve, t.residue, t.rsum, t.numWalks, t.walks)
        })
      val st = s.read.parquet(s"$root/st")
      val sc = s.read.parquet(s"$root/sc")
      val wk = s.read.parquet(s"$root/wk")
      // r20 (guide §2.4): ONE tagged recomposition pass over the whole
      // axis (foraWholeBodyTagged — the per-point body with i as an
      // equi-key everywhere, GotSpec pins slice ≡ per-point), ONE
      // tagged metric fold — per-row attribution put the row's cost in
      // the five per-point recompositions + folds, not the kernels.
      st.createOrReplaceTempView("gg_fora_st_all")
      sc.createOrReplaceTempView("gg_fora_sc_all")
      wk.createOrReplaceTempView("gg_fora_wk_all")
      val est = s.sql(Graph.foraWholeBodyTagged("gg_fora_st_all",
          "gg_fora_sc_all", "gg_fora_wk_all", alpha = Got.Alpha))
        .localCheckpoint(true)
      val epsCol = GridForaEpsilons.zipWithIndex.tail
        .foldLeft(when(col("i") === 0, lit(GridForaEpsilons.head))) {
          case (acc, (v, i)) => acc.when(col("i") === i, lit(v))
        }
      Metrics.summaryTagged(gnd, est, GridK, GridForaEpsilons.indices)
        .select(epsCol.as("eps"),
          round(col("avg_precision"), 9).as("avg_precision"),
          round(col("avg_ndcg"), 9).as("avg_ndcg"),
          round(col("avg_max_err"), 9).as("avg_max_err"))
    }),

    // H5 whole-graph suite, MC family — the FULL GOT ε axis via the
    // `g_mc_ppr` endpoints-table scheme: per grid point the seeded walk
    // endpoints are the data, stops(v)/ω is the estimate in both engines,
    // quality summary vs the same ground truth (`Gen_Util.java:514-556`
    // MC branch over the GOT array `:466`).
    "got_grid_mc" -> ((s, _) => {
      val csr = Got.cachedCsr(s)
      val gnd = gridGroundTruth(s)
      val n = csr.numNodes.toDouble
      // ONE seeded endpoint table at ω_max (the axis' smallest ε): each
      // walk's endpoint depends only on (seed, src, w) — the RNG stream
      // is per-walk, never per-ω — so every point's ω(ε)-walk table is
      // exactly the w < ω(ε) PREFIX of the ω_max table, and 5 kernel
      // runs + 5 writes collapse to 1 + 1 (r17 verdict #4). Both engines
      // slice the one artifact by the same w-filter.
      val wdir = VerifyArtifacts.dir(s, "mc_gotgrid_all")
      MonteCarlo.sspprEndpoints(s, csr, GridSources, Got.Alpha,
          epsilon = GridMcEpsilons.min)
        .write.mode("overwrite").parquet(wdir)
      val walks = s.read.parquet(wdir).localCheckpoint(true)
      // r20 (guide §2.4/§2.3): every point's ω(ε)-walk table is a
      // w-prefix of the one endpoint table, so the five per-point
      // groupBys collapse into ONE pass folding five conditional
      // counts per (src, node) — a group exists for point i exactly
      // when ≥ 1 walk satisfies w < ω_i, which sum(when(...)) encodes
      // as null (filtered) vs the identical count. One tagged metric
      // fold replaces the five per-point chains.
      val omegas = GridMcEpsilons.zipWithIndex.map { case (eps, i) =>
        val omega = MonteCarlo.omegaFor(eps, 1.0 / n, 1.0 / n)
        VerifyArtifacts.record(s"mc_gotgrid_omega_e$i", omega.toString)
        omega
      }
      val cnts = walks.groupBy("src", "node_id").agg(
        sum(when(col("w") < omegas.head, 1L)).as("c0"),
        omegas.zipWithIndex.tail.map { case (om, i) =>
          sum(when(col("w") < om, 1L)).as(s"c$i")
        }: _*)
      val omegaCol = omegas.zipWithIndex.tail
        .foldLeft(when(col("i") === 0, lit(omegas.head.toDouble))) {
          case (acc, (om, i)) => acc.when(col("i") === i, lit(om.toDouble))
        }
      val est = cnts.selectExpr("src", "node_id",
          s"stack(${omegas.length}, " +
            omegas.indices.map(i => s"$i, c$i").mkString(", ") +
            ") AS (i, cnt)")
        .where(col("cnt").isNotNull)
        .select(col("i"), col("src"), col("node_id"),
          (col("cnt") / omegaCol).as("score"))
      val epsCol = GridMcEpsilons.zipWithIndex.tail
        .foldLeft(when(col("i") === 0, lit(GridMcEpsilons.head))) {
          case (acc, (v, i)) => acc.when(col("i") === i, lit(v))
        }
      Metrics.summaryTagged(gnd, est.localCheckpoint(true), GridK,
          GridMcEpsilons.indices)
        .select(epsCol.as("eps"),
          round(col("avg_precision"), 9).as("avg_precision"),
          round(col("avg_ndcg"), 9).as("avg_ndcg"),
          round(col("avg_max_err"), 9).as("avg_max_err"))
    }),

    // H5 top-k suite, FORA_TOPK family — the FULL GOT ε axis of the
    // reference top-k loop (`Gen_Util.java:559-599` FORA_TOPK branch over
    // the array `:455`) via the `g_fora_topk` terminating-round trace
    // replay: the δ-halving round-advance decision is the kernel's, both
    // engines recompose the terminating round's estimate + tie-inclusive
    // cut from the same SQL text, scored by the two quality columns the
    // reference's top-k rows log (precision@k, NDCG@k).
    "got_grid_fora_topk" -> ((s, _) => {
      val csr = Got.cachedCsr(s)
      val gnd = gridGroundTruth(s)
      // same one-fan-out/one-tree shape as got_grid_fora (its own
      // artifact tree — rows stay independently runnable).
      val root = VerifyArtifacts.dir(s, "fora_gottopk_all")
      Graph.foraArtifactsMulti(s, csr, GridSources, root,
        GridForaTopkEpsilons.map { eps => (g: graft.graph.Csr, src: Long) =>
          val t = Fora.topkTrace(g, g.denseOf(src), GridK,
            Fora.Conf(alpha = Got.Alpha, epsilon = eps))
          (t.reserve, t.residue, 0.0, t.numWalks, t.walks)
        })
      val st = s.read.parquet(s"$root/st")
      val sc = s.read.parquet(s"$root/sc")
      val wk = s.read.parquet(s"$root/wk")
      // r20 (guide §2.4): ONE tagged recomposition pass + ONE tagged
      // top-k quality fold for the whole axis (see got_grid_fora).
      st.createOrReplaceTempView("gg_ftk_st_all")
      sc.createOrReplaceTempView("gg_ftk_sc_all")
      wk.createOrReplaceTempView("gg_ftk_wk_all")
      val est = s.sql(Graph.foraTopkBodyTagged("gg_ftk_st_all",
          "gg_ftk_sc_all", "gg_ftk_wk_all", k = GridK))
        .localCheckpoint(true)
      val epsCol = GridForaTopkEpsilons.zipWithIndex.tail
        .foldLeft(when(col("i") === 0, lit(GridForaTopkEpsilons.head))) {
          case (acc, (v, i)) => acc.when(col("i") === i, lit(v))
        }
      Metrics.topkQualityTagged(gnd, est, GridK,
          GridForaTopkEpsilons.indices)
        .select(epsCol.as("eps"),
          round(col("p"), 9).as("avg_precision"),
          round(col("n"), 9).as("avg_ndcg"))
    }),

    // H5 top-k suite, MC family — the last stochastic (family × suite)
    // cell of the reference grid (`Gen_Util.java:559-599` MC branch over
    // the GOT array `:456`). The reference's MC top-k IS whole-graph MC
    // followed by the tie-inclusive kth cut (`Monte_Carlo.java:277-319`),
    // so the row reuses the seeded-endpoints scheme of `got_grid_mc` with
    // its own artifacts and scores the two top-k quality columns (the
    // tie-inclusive cut lives inside the precision/NDCG metrics, same as
    // `got_grid_topk`'s FWDPUSH branch). The GOT top-k ε array equals
    // the whole-graph one, so the seeded endpoint tables regenerate
    // bit-identically to got_grid_mc's — DELIBERATE duplication: every
    // row must be independently runnable (SPARK_GRAFT_ONLY subsets, the
    // driver's per-row harness) and its oracle replays its OWN recorded
    // artifacts, so sharing the other row's tree would couple their
    // lifecycles for ~2 s of seeded-walk regeneration per board.
    "got_grid_mc_topk" -> ((s, _) => {
      val csr = Got.cachedCsr(s)
      val gnd = gridGroundTruth(s)
      val n = csr.numNodes.toDouble
      // one ω_max endpoint table, per-point w-prefix slices — see
      // got_grid_mc (its own artifact tree: rows stay independently
      // runnable and replay their OWN recorded artifacts).
      val wdir = VerifyArtifacts.dir(s, "mc_gottopk_all")
      MonteCarlo.sspprEndpoints(s, csr, GridSources, Got.Alpha,
          epsilon = GridMcTopkEpsilons.min)
        .write.mode("overwrite").parquet(wdir)
      val walks = s.read.parquet(wdir).localCheckpoint(true)
      // r20: one cumulative-count pass + one tagged top-k quality fold
      // (see got_grid_mc — identical scheme, this row's own artifacts).
      val omegas = GridMcTopkEpsilons.zipWithIndex.map { case (eps, i) =>
        val omega = MonteCarlo.omegaFor(eps, 1.0 / n, 1.0 / n)
        VerifyArtifacts.record(s"mc_gottopk_omega_e$i", omega.toString)
        omega
      }
      val cnts = walks.groupBy("src", "node_id").agg(
        sum(when(col("w") < omegas.head, 1L)).as("c0"),
        omegas.zipWithIndex.tail.map { case (om, i) =>
          sum(when(col("w") < om, 1L)).as(s"c$i")
        }: _*)
      val omegaCol = omegas.zipWithIndex.tail
        .foldLeft(when(col("i") === 0, lit(omegas.head.toDouble))) {
          case (acc, (om, i)) => acc.when(col("i") === i, lit(om.toDouble))
        }
      val est = cnts.selectExpr("src", "node_id",
          s"stack(${omegas.length}, " +
            omegas.indices.map(i => s"$i, c$i").mkString(", ") +
            ") AS (i, cnt)")
        .where(col("cnt").isNotNull)
        .select(col("i"), col("src"), col("node_id"),
          (col("cnt") / omegaCol).as("score"))
      val epsCol = GridMcTopkEpsilons.zipWithIndex.tail
        .foldLeft(when(col("i") === 0, lit(GridMcTopkEpsilons.head))) {
          case (acc, (v, i)) => acc.when(col("i") === i, lit(v))
        }
      Metrics.topkQualityTagged(gnd, est.localCheckpoint(true), GridK,
          GridMcTopkEpsilons.indices)
        .select(epsCol.as("eps"),
          round(col("p"), 9).as("avg_precision"),
          round(col("n"), 9).as("avg_ndcg"))
    })
  )

  def oracleSql: Map[String, String] = {
    val multi = PowerIteration.oracleSqlMulti(
      Got.edgesSql(), Seq(Got.AryaId), Got.Alpha, Got.Iters)
    val gridGnd = PowerIteration.oracleSqlMulti(
      Got.edgesSql(), GridSources, Got.Alpha, GridPmIters)
    val gridSql = GridRmaxes.map { rmax =>
      val est = ForwardPush.oracleSqlMulti(
        Got.edgesSql(), GridSources, Got.Alpha, rmax, GridSupersteps)
      val point = Metrics.sql.summarySql(gridGnd, est, GridK,
        leadCols = s"CAST($rmax AS DOUBLE) AS rmax")
      s"SELECT * FROM ($point)"
    }.mkString("\nUNION ALL\n")
    Map(
      "got_edges" -> Got.edgesSql(),
      "got_grid_betweenness" -> GridBcDepths.map { d =>
        val point = graft.graph.Betweenness.oracleSql(
          Got.edgesSql(), GridSources, d)
        s"SELECT CAST($d AS INT) AS depth, node_id, bc FROM ($point)"
      }.mkString("\nUNION ALL\n"),
      "got_truss" -> graft.graph.Truss.oracleSql(
        s"SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b " +
          s"FROM (${Got.edgesSql()})", TrussK, TrussRounds),
      "got_grid_truss" -> GridTrussKs.map { k =>
        val point = graft.graph.Truss.oracleSql(
          s"SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b " +
            s"FROM (${Got.edgesSql()})", k, GridTrussRounds)
        s"SELECT CAST($k AS INT) AS k, a, b, sup FROM ($point)"
      }.mkString("\nUNION ALL\n"),
      "got_grid_seedset" -> GridSeedSetSizes.map { m =>
        val point = PowerIteration.oracleSqlSeedSet(
          Got.edgesSql(), GridSeedSetPool.take(m), Got.Alpha, GridPmIters)
        s"SELECT CAST($m AS INT) AS m, node_id, score FROM ($point)"
      }.mkString("\nUNION ALL\n"),
      "got_grid_katz" -> GridKatzAlphas.map { a =>
        val point = graft.graph.Katz.oracleSql(
          Got.edgesSql(), a, GridKatzIters)
        s"SELECT CAST($a AS DOUBLE) AS alpha, node_id, katz FROM ($point)"
      }.mkString("\nUNION ALL\n"),
      "got_ppr_topk" ->
        s"""WITH ppr AS MATERIALIZED ($multi),
           |got_nodes AS (${Got.nodesSql()})
           |SELECT n.name, p.score, p.rk FROM
           |  (SELECT node_id, score, rank() OVER (ORDER BY score DESC) AS rk
           |   FROM ppr) p
           |JOIN got_nodes n ON n.id = p.node_id
           |WHERE p.rk <= ${Got.TopK}""".stripMargin,
      "got_grid_fwdpush" -> gridSql,
      "got_grid_topk" -> GridRmaxes.map { rmax =>
        val est = ForwardPush.oracleSqlMulti(
          Got.edgesSql(), GridSources, Got.Alpha, rmax, GridSupersteps)
        val point = Metrics.sql.topkSummarySql(gridGnd, est, GridK,
          leadCols = s"CAST($rmax AS DOUBLE) AS rmax")
        s"SELECT * FROM ($point)"
      }.mkString("\nUNION ALL\n"),
      "got_grid_base" -> GridBaseThresholds.map { thres =>
        val base = Base.oracleSql(Got.edgesSql(), Got.Alpha, GridBaseRmax,
          GridSupersteps, thres)
        val est = "SELECT src, dst AS node_id, score FROM base_t " +
          s"WHERE src IN (${GridSources.mkString(", ")})"
        val point = Metrics.sql.summarySql(gridGnd, est, GridK,
          leadCols = s"CAST($thres AS DOUBLE) AS thres, " +
            "(SELECT count(*) FROM base_t) AS stored_rows")
        s"SELECT * FROM (WITH base_t AS MATERIALIZED ($base) " +
          s"SELECT * FROM ($point))"
      }.mkString("\nUNION ALL\n"),
      // Stochastic grid rows: replayed from the run's materialized
      // artifacts exactly like g_fora_ppr / g_mc_ppr (paths recorded via
      // VerifyArtifacts when the query ran; Verify dumps oracleSql after).
      // One UNION ALL branch per grid point; any point whose artifacts
      // are missing fails the WHOLE row loudly (failSql) — a partially
      // materialized grid must not silently verify its surviving points.
      // The whole ε axis replays from ONE artifact tree per row (the
      // foraArtifactsMulti / ω_max-prefix schemes): each point slices the
      // shared parquet by its config index i (FORA) or its ω walk-prefix
      // (MC) — the recomposition SQL text inside stays identical to the
      // single-point rows'.
      "got_grid_fora" -> {
        VerifyArtifacts.maybe("dir:fora_gotgrid_all").map { root =>
          GridForaEpsilons.zipWithIndex.map { case (eps, i) =>
            val est =
              s"""WITH fst AS (SELECT src, node_id, reserve, residue
                 |  FROM read_parquet('$root/st/*.parquet') WHERE i = $i),
                 |fsc AS (SELECT src, rsum, num_walks
                 |  FROM read_parquet('$root/sc/*.parquet') WHERE i = $i),
                 |fwk AS (SELECT src, v, dest
                 |  FROM read_parquet('$root/wk/*.parquet') WHERE i = $i)
                 |SELECT * FROM (${Graph.foraWholeBody("fst", "fsc", "fwk",
                      alpha = Got.Alpha)})""".stripMargin
            val point = Metrics.sql.summarySql(gridGnd, est, GridK,
              leadCols = s"CAST($eps AS DOUBLE) AS eps")
            s"SELECT * FROM ($point)"
          }.mkString("\nUNION ALL\n")
        }.getOrElse(VerifyArtifacts.failSql("got_grid_fora"))
      },
      "got_grid_mc" -> {
        VerifyArtifacts.maybe("dir:mc_gotgrid_all").map { wdir =>
          GridMcEpsilons.zipWithIndex.map { case (eps, i) =>
            val omega = VerifyArtifacts.get(s"mc_gotgrid_omega_e$i", "1")
            val est = s"SELECT src, node_id, count(*) / $omega.0 AS score " +
              s"FROM read_parquet('$wdir/*.parquet') WHERE w < $omega " +
              "GROUP BY src, node_id"
            val point = Metrics.sql.summarySql(gridGnd, est, GridK,
              leadCols = s"CAST($eps AS DOUBLE) AS eps")
            s"SELECT * FROM ($point)"
          }.mkString("\nUNION ALL\n")
        }.getOrElse(VerifyArtifacts.failSql("got_grid_mc"))
      },
      "got_grid_fora_topk" -> {
        VerifyArtifacts.maybe("dir:fora_gottopk_all").map { root =>
          GridForaTopkEpsilons.zipWithIndex.map { case (eps, i) =>
            val est =
              s"""WITH tst AS (SELECT src, node_id, reserve, residue
                 |  FROM read_parquet('$root/st/*.parquet') WHERE i = $i),
                 |tsc AS (SELECT src, rsum, num_walks
                 |  FROM read_parquet('$root/sc/*.parquet') WHERE i = $i),
                 |twk AS (SELECT src, v, dest
                 |  FROM read_parquet('$root/wk/*.parquet') WHERE i = $i)
                 |SELECT * FROM (${Graph.foraTopkBody("tst", "tsc", "twk",
                      k = GridK)})""".stripMargin
            val point = Metrics.sql.topkSummarySql(gridGnd, est, GridK,
              leadCols = s"CAST($eps AS DOUBLE) AS eps")
            s"SELECT * FROM ($point)"
          }.mkString("\nUNION ALL\n")
        }.getOrElse(VerifyArtifacts.failSql("got_grid_fora_topk"))
      },
      "got_grid_mc_topk" -> {
        VerifyArtifacts.maybe("dir:mc_gottopk_all").map { wdir =>
          GridMcTopkEpsilons.zipWithIndex.map { case (eps, i) =>
            val omega = VerifyArtifacts.get(s"mc_gottopk_omega_e$i", "1")
            val est = s"SELECT src, node_id, count(*) / $omega.0 AS score " +
              s"FROM read_parquet('$wdir/*.parquet') WHERE w < $omega " +
              "GROUP BY src, node_id"
            val point = Metrics.sql.topkSummarySql(gridGnd, est, GridK,
              leadCols = s"CAST($eps AS DOUBLE) AS eps")
            s"SELECT * FROM ($point)"
          }.mkString("\nUNION ALL\n")
        }.getOrElse(VerifyArtifacts.failSql("got_grid_mc_topk"))
      }
    )
  }
}
