package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Scratch, VerifyArtifacts}
import graft.graph.{Betweenness, Bfs, ConnectedComponents, GraphOps, Hashing, LabelProp, MinSpanningForest, Scc, Sssp}
import graft.ppr.{Base, BackwardSearch, ForwardPush, Fora, Metrics, MonteCarlo, PageRank, PowerIteration, PprStore}

/** Graph/PPR operator coverage over the deterministic lineitem-derived
  * benchmark graph (see [[GraphOps.lineitemGraph]]). Power iteration is the
  * reference's exact oracle (K1); its unrolled-SQL DuckDB oracle makes it
  * the one iterative kernel the driver can hash-check end to end
  * (SURVEY §5.2.3). Scores are rounded to 9 decimals on both sides —
  * cross-engine summation-order noise is ~1e-15.
  */
object Graph {

  val Mod = 997
  val Alpha = 0.15
  val Iters = 25
  /** Sparser derivation modulus for `g_triangles`: at mod 997 the sf0.1
    * bench graph is ~70% dense (a near-clique with 57M triangles — a
    * triangle-count stress test, not a realistic workload); mod 20011
    * keeps average degree ~60 at sf0.1 (36k triangles) while still
    * producing triangles (459) at sf0.001.
    */
  val TriMod = 20011

  /** `g_linkpred_cn` center-degree cap: wedge enumeration for
    * common-neighbor scoring is Σ deg(w)² over wedge centers — on a
    * power-law graph the hubs alone make that corpus-quadratic, so
    * centers with deg > cap are excluded BY CONTRACT (the capped score is
    * a lower bound; hub centers carry the least link-prediction signal —
    * the same discount Adamic-Adar's 1/log(deg) makes continuous). Work
    * is then ≤ cap·2|E| regardless of skew. At every test scale the
    * TriMod graph's max degree (≤ 93) is under the cap, so the row's
    * checked answer IS the exact common-neighbor count.
    */
  val LpCnDegCap = 256
  /** `g_linkpred_cn` report size (global top-N, total-ordered). */
  val LpCnTopN = 20

  /** `g_scc` superstep budgets: [[SccFwdSteps]] bounds BOTH the forward
    * color propagation and the backward containment growth per outer
    * round (each verified converged with one extra step — `require`,
    * never a silently wrong labeling); [[SccOuterRounds]] bounds the
    * peel rounds. Generous for the mod-997 library graphs (diameter ≤ 6
    * observed); a pathological chain would fail loudly, not wrongly.
    */
  val SccFwdSteps = 12
  val SccOuterRounds = 8
  /** `g_scc` graph thinning — see the row comment for the density
    * rationale.
    */
  val SccQtyMax = 6

  /** `g_pref_attach` head size: candidates come from the top-`PaTopDeg`
    * degree head (deterministic (dg desc, id) boundary tie-break shared
    * by both engines), so the candidate space is PaTopDeg²/2 pairs —
    * broadcast-sized at any graph scale. The head restriction alone is
    * NOT sufficient for global exactness once the adjacency anti-join
    * runs (on a hub near-clique an outside pair d₁·d₆₅ can outrank a
    * surviving inside pair), so the row carries a plan-embedded
    * dominance guard — see the `g_pref_attach` row comment.
    */
  val PaTopDeg = 64
  /** `g_pref_attach` report size (global top-N, total-ordered). */
  val PaTopN = 30

  /** `g_richclub` degree ladder — powers of two spanning the library
    * graphs' degree range (TriMod max degree ≤ 93, so the top rungs
    * exercise the empty-club φ = 0 branch at small scale).
    */
  val RichClubKs = Seq(1, 2, 4, 8, 16, 32, 64)

  /** `g_kcore` threshold and fixed peel horizon. K = 5 leaves a strict
    * nontrivial core at the small scales (sf0.001: 659 of 1,476 nodes;
    * sf0.01: 6,794 of 14,794) while the denser sf0.1 graph survives
    * whole; peeling reaches its fixpoint in ≤ 2 rounds at every test
    * scale, so 4 fixed rounds carry 2 spare (KcoreSpec asserts the
    * fixpoint — a 5th peel is a no-op). The horizon is part of the
    * operator's semantics, replayed exactly by the unrolled oracle
    * (the LPA/CC discipline).
    */
  val KcoreK = 5
  val KcoreRounds = 4

  /** `g_walk_corpus` schedule: sources = every TriMod-graph node with
    * out-degree ≥ 1 and id ≡ 0 (mod [[WalkSrcMod]]) — a deterministic,
    * scale-proportional sample; [[WalksPerSrc]] truncated walks of
    * [[WalkLen]] steps each (DeepWalk-sized, Perozzi et al. 2014). The
    * next-step choice is COUNTER-BASED: idx = kmvMix(h) mod outdeg with
    * h a rolling polynomial of (source, walk, step, node) — the
    * [[graft.ppr.Rng]] reproducibility discipline expressed in the
    * kmvMix arithmetic BOTH engines already share, so the DuckDB oracle
    * replays every walk bit-exactly (stronger than the MC rows'
    * materialized-trace replay: here the oracle re-derives the
    * randomness itself).
    */
  val WalkSrcMod = 20
  val WalksPerSrc = 2
  val WalkLen = 6

  /** The per-step counter hash h(source, walk, step, node) as an SQL
    * expression string valid in BOTH engines (integer-only arithmetic;
    * fully parenthesized so precedence cannot differ). Inputs are
    * nonnegative ids < P, so h ∈ [0, P) and kmvMix(h) is nonnegative —
    * `% outdeg` is then a true index in [0, outdeg) in both engines.
    */
  private[graft] def walkHashExpr(step: Int): String = {
    val p = Hashing.P
    val m = Hashing.TokMul
    s"(((((((source % $p) * $m) + walk) % $p) * $m + $step) % $p) " +
      s"* $m + node) % $p"
  }

  /** The walk corpus's ONE corpus-sized materialization: neighbor
    * position AND out-degree from the SAME per-src window pass (no
    * degree join, no second raw scan — and no repartition: the window's
    * own exchange already places the rows, and the per-step scans want
    * the full task fleet), re-scanned once per step.
    */
  private[graft] def walkAdj(e: DataFrame): DataFrame = e
    .select(col("src"), col("dst"))
    .withColumn("rn", row_number().over(
      Window.partitionBy(col("src")).orderBy(col("dst"))))
    .withColumn("outdeg",
      count(lit(1)).over(Window.partitionBy(col("src"))))
    .select(col("src").as("a_src"), col("dst").as("a_dst"),
      col("rn"), col("outdeg"))
    .localCheckpoint(true)

  /** The truncated-walk loop over a positioned adjacency ([[walkAdj]]):
    * per step ONE join of the walk-state frame against the adjacency,
    * with the counter-based index choice evaluated inside the join
    * condition (outdeg rides on the adj row, so the equi-key a_src =
    * node prunes to each node's neighbor list and rn = 1 + idx picks
    * within it). `broadcastState` is the regime knob the scaladoc of
    * g_walk_corpus always documented: a fixed query fleet broadcasts the
    * state side (g_walk_corpus's plan, byte-identical to round 15); a
    * MILLION-walk corpus build drops the hint and lets the join shuffle
    * on node — same plan shape, wider exchange (the octave measures it;
    * WalkCorpusSpec pins the two regimes bit-equal, since the hint is
    * physical only). `onStep` (octave disclosure) counts the surviving
    * state per step — the checkpointed frame, so the count is a read,
    * not a recompute.
    */
  private[graft] def walkCorpus(adj: DataFrame, srcMod: Long,
      walksPerSrc: Int, len: Int, broadcastState: Boolean,
      onStep: (Int, Long) => Unit = null): DataFrame = {
    var state = adj
      .where(col("rn") === 1 && col("a_src") % srcMod === 0)
      .select(col("a_src").as("source"),
        explode(expr(s"sequence(CAST(0 AS BIGINT), " +
          s"CAST(${walksPerSrc - 1} AS BIGINT))")).as("walk"))
      .select(col("source"), col("walk"), col("source").as("node"))
    val frames = scala.collection.mutable.ArrayBuffer[DataFrame](
      state.select(col("source"), col("walk"),
        lit(0L).as("step"), col("node")))
    for (t <- 1 to len) {
      val idx = s"(${Hashing.spark.kmvMix(walkHashExpr(t))})" +
        s" % outdeg"
      val st = if (broadcastState) broadcast(state) else state
      state = st
        .join(adj, col("node") === col("a_src") &&
          col("rn") === expr(idx) + 1)
        .select(col("source"), col("walk"), col("a_dst").as("node"))
        .localCheckpoint(true) // feeds the emit union AND step t+1
      if (onStep != null) onStep(t, state.count())
      frames += state.select(col("source"), col("walk"),
        lit(t.toLong).as("step"), col("node"))
    }
    frames.reduce(_ unionAll _)
  }

  /** Global-PageRank damping and iteration count (`g_pagerank`). The
    * schedule is fixed (oracle-replayed), sized like the K1 `Iters` — the
    * query demonstrates the distributed loop, not convergence.
    */
  val PrDamping = 0.85
  val PrIters = 20

  /** `g_katz` attenuation and fixed horizon. α must sit below 1/λ_max
    * for the truncation to be a convergent prefix — the library graphs'
    * max degree ≈ 93 bounds λ_max, so α·λ_max < 0.5 with margin; like
    * [[PrIters]], the schedule is part of the semantics
    * (oracle-replayed).
    */
  val KatzAlpha = 0.005
  val KatzIters = 10

  /** `g_hits` fixed iteration count — like [[PrIters]], the schedule is
    * part of the semantics (oracle-replayed); 6 mutual-recursion rounds
    * demonstrate the distributed loop, not convergence.
    */
  val HitsIters = 6

  val SingleSource = 1L
  val BatchSources: Seq[Long] = Seq(1L, 2L, 3L, 5L, 8L)

  /** `g_ppr_seedset` preference set — a fixed mod-spread sample of the
    * bench graph's node space; |S| = 4 (a power of two) keeps the
    * uniform teleport weight 1/|S| exact binary in BOTH engines.
    */
  val SeedSet: Seq[Long] = Seq(0L, 250L, 500L, 750L)
  val TopK = 10

  // Forward/backward push parameters (fixed supersteps → deterministic BSP
  // schedule, replayed exactly by the unrolled-SQL oracles).
  val PushRmax = 1e-5
  val PushSupersteps = 20

  /** `g_bwdsearch_skew` — the HUB-SKEW octave's oracle-checked row: the
    * quadratic power-law derivation ([[GraphOps.lineitemFlickrGraph]])
    * downscaled to mod 1009 / fan 4 so the unrolled DuckDB replay stays
    * tractable while keeping the saturated-hub degree profile (max degree
    * ≈ the node count, ~10-40× the tail — GraphOpsSpec pins the ratio).
    * Every other correctness row runs on ≤ ~30-avg-degree graphs; a
    * kernel bug only visible under hub skew (accumulation order, degree
    * division at the hubs) is invisible to those. Targets: both saturated
    * hubs (0, 1) and a tail node. Fewer supersteps than `g_bwdsearch` —
    * the dense graph saturates the frontier immediately, so each oracle
    * round joins ~|E| rows per target and 10 rounds bound the replay.
    */
  val SkewMod = 1009
  val SkewFan = 4
  val SkewTargets: Seq[Long] = Seq(0L, 1L, 500L)
  val SkewRmax = 1e-4
  val SkewSupersteps = 10
  // BASE all-pair runs on a smaller graph (mod 101) so the all-targets
  // DuckDB oracle stays cheap; threshold applied on the ROUNDED score on
  // both sides to avoid boundary flapping.
  val BaseMod = 101
  val BaseRmax = 1e-4
  val BaseSupersteps = 12
  val BaseThreshold = 1e-4

  /** Connected-components runs on the sparse disconnected subgraph
    * ([[GraphOps.lineitemSubgraph]]); 20 jump-accelerated rounds converge
    * at every test scale (≤18 measured — ConnectedComponentsSpec asserts
    * the fixpoint).
    */
  val CcMod = 100003
  val CcQtyMax = 5
  val CcRounds = 20

  /** `g_msf` Borůvka round bound: components at least halve per round, so
    * 20 covers 10⁶ initial components; the kernel exits early on the
    * first round with no inter-component edge (MsfSpec asserts the bench
    * graphs converge well inside the bound).
    */
  val MsfRounds = 20

  /** `g_label_prop` synchronous rounds — a fixed horizon (sync LPA can
    * 2-cycle, so the round count IS part of the operator's semantics).
    */
  val LpRounds = 4

  /** `g_bfs` depth bound — the mod-997 graph's diameter is ~3, so 4
    * rounds reach everything reachable; the schedule is fixed and
    * oracle-replayed either way.
    */
  val BfsDepth = 4

  /** `g_sssp` hop bound: min-weight over paths of ≤ 6 edges (a weighted
    * shortest path may use more hops than the unweighted diameter).
    */
  val SsspHops = 6

  private def graphSql: String = GraphOps.lineitemGraphSql(Mod)

  /** Shared CTE chain of the `g_hyperball` / `g_harmonic` oracles: the
    * two HyperBall register rounds, folded per node into `hb(node_id,
    * v_zero1, s_scaled1, est1, v_zero2, s_scaled2, est2)`. Estimates
    * round to 4 dp inside [[Hashing.hllEstSqlAs]], so every downstream
    * arithmetic reads identical inputs on both engines.
    */
  /** `g_closeness` projection over the HyperBall estimates — ONE
    * spelling shared verbatim by the Spark `selectExpr` and the DuckDB
    * oracle, so both engines execute the identical IEEE expression DAG
    * on the identical 4-dp-pinned `est1`/`est2` inputs. `sum_dist` can
    * be ≤ 0 only when the sketch shrinks an isolated-ish ball below the
    * self count — guarded to 0 on both engines the same way.
    */
  private val closenessProj: Seq[String] = Seq(
    "round((est1 - CAST(1 AS DOUBLE)) " +
      "+ (est2 - est1) * CAST(2 AS DOUBLE), 6) AS sum_dist",
    "round(CASE WHEN (est1 - CAST(1 AS DOUBLE)) " +
      "+ (est2 - est1) * CAST(2 AS DOUBLE) > CAST(0 AS DOUBLE) " +
      "THEN (est2 - CAST(1 AS DOUBLE)) / ((est1 - CAST(1 AS DOUBLE)) " +
      "+ (est2 - est1) * CAST(2 AS DOUBLE)) " +
      "ELSE CAST(0 AS DOUBLE) END, 6) AS closeness",
    "round(CASE WHEN (est1 - CAST(1 AS DOUBLE)) " +
      "+ (est2 - est1) * CAST(2 AS DOUBLE) > CAST(0 AS DOUBLE) " +
      "THEN (est2 - CAST(1 AS DOUBLE)) * (est2 - CAST(1 AS DOUBLE)) " +
      "/ ((est1 - CAST(1 AS DOUBLE)) " +
      "+ (est2 - est1) * CAST(2 AS DOUBLE)) " +
      "ELSE CAST(0 AS DOUBLE) END, 6) AS lin")

  /** HyperBall oracle building blocks, shared by [[hyperballOracleChain]]
    * and the `g_eff_diameter` oracle (one spelling of the register hop,
    * the integer fold, and the hop-0 preamble — so the ball rows cannot
    * drift from the curve row).
    */
  private def hllStepSql(prev: String): String = {
    s"""SELECT id, b, max(mj) AS mj FROM (
       |  SELECT e.src AS id, r.b, r.mj FROM e JOIN $prev r ON r.id = e.dst
       |  UNION ALL SELECT id, b, mj FROM $prev) GROUP BY id, b""".stripMargin
  }

  private def hllFoldSql(reg: String, sfx: String): String = {
    val pw = 1L << (Hashing.HllW + 1)
    s"""SELECT id, CAST(${Hashing.HllM} - count(*) AS BIGINT) AS v_zero$sfx,
       |  CAST(sum(CAST(1 AS BIGINT) << (${Hashing.HllW + 1} - mj)) AS BIGINT)
       |    + (${Hashing.HllM} - count(*)) * CAST($pw AS BIGINT) AS s_scaled$sfx
       |  FROM $reg GROUP BY id""".stripMargin
  }

  private def hllPreambleSql: String = {
    val P = Hashing.P
    s"""e AS MATERIALIZED ($graphSql),
       |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |hm AS MATERIALIZED (SELECT id,
       |  ${Hashing.duck.kmvMix("h")} AS hm FROM (
       |  SELECT id, id % $P AS h FROM nodes)),
       |r0 AS MATERIALIZED (SELECT id, hm % ${Hashing.HllM} AS b,
       |  CASE WHEN hm // ${Hashing.HllM} = 0 THEN ${Hashing.HllW + 1}
       |       ELSE ${Hashing.HllW + 1} - length(bin(hm // ${Hashing.HllM})) END AS mj
       |  FROM hm)""".stripMargin
  }

  private def hyperballOracleChain: String = {
    s"""WITH $hllPreambleSql,
       |r1 AS MATERIALIZED (${hllStepSql("r0")}),
       |r2 AS MATERIALIZED (${hllStepSql("r1")}),
       |f1 AS MATERIALIZED (${hllFoldSql("r1", "1")}),
       |f2 AS MATERIALIZED (${hllFoldSql("r2", "2")}),
       |hb AS MATERIALIZED (
       |  SELECT f1.id AS node_id, v_zero1, s_scaled1,
       |    ${Hashing.hllEstSqlAs("s_scaled1", "v_zero1", "est1")},
       |    v_zero2, s_scaled2,
       |    ${Hashing.hllEstSqlAs("s_scaled2", "v_zero2", "est2")}
       |  FROM f1 JOIN f2 ON f2.id = f1.id)""".stripMargin
  }

  /** The link-prediction families' SHARED wedge fold over an undirected
    * distinct edge set `und` (`a < b` orientation): every NON-ADJACENT
    * pair (u < v) with ≥ 1 common neighbor of degree ∈ [2, cap], carrying
    * BOTH scores the two rows cut on — the exact common-neighbor count
    * `cn` and the Adamic–Adar fixed-point sum `aa_fp` =
    * Σ round(1e6/ln(deg(w))) (integer micro-units, so the fold is one
    * map-side-combined EXACT integer sum — no float addend-order
    * anywhere). One extra 8-byte weight rides the Σdeg² wedge stream;
    * everything else (orientation, the packed 8-byte pair key, the
    * anti-join) is common to both rows, which is why this runs ONCE per
    * (session, graph) and both rows finish from it (r17 verdict #3: the
    * board's #2 and #6 rows enumerated the same 248 M wedges twice).
    *
    * Degree-1 centers are excluded (they form no wedge — a deg-1 center
    * has one neighbor, and the self-join needs two distinct — so the
    * `cn` fold is unchanged by the exclusion; for `aa_fp` it also keeps
    * 1/ln(1) from dividing by zero). The wedge stream is the fold's
    * irreducible core (Σ deg(w)² rows — 36.5 M at sf0.1); packing the
    * pair into ONE 8-byte key narrows every exchanged row and hashes one
    * long instead of two in the map-side combine. Node ids are
    * nonnegative mod-derived ints < 2³¹ on every library graph, so
    * u<<32 | v is lossless.
    */
  private[queries] def wedgePairAgg(und: DataFrame, deg: DataFrame,
      cap: Int): DataFrame = {
    val adj = und.select(col("a").as("w"), col("b").as("n"))
      .unionAll(und.select(col("b").as("w"), col("a").as("n")))
    val capped = adj
      .join(deg.where(col("dg").between(2, cap)), Seq("w"))
      .select(col("w"), col("n"),
        round(lit(1e6) / log(col("dg"))).cast("long").as("wt"))
      .localCheckpoint(true) // both sides of the wedge self-join
    capped.as("x").join(capped.as("y"),
        col("x.w") === col("y.w") && col("x.n") < col("y.n"))
      .select((shiftleft(col("x.n"), 32) + col("y.n")).as("uv"),
        col("x.wt"))
      .groupBy(col("uv"))
      .agg(count(lit(1)).as("cn"), sum(col("wt")).as("aa_fp"))
      .select(shiftright(col("uv"), 32).as("u"),
        col("uv").bitwiseAND(lit(0xFFFFFFFFL)).as("v"),
        col("cn"), col("aa_fp"))
      .join(und.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
  }

  /** `g_linkpred_cn` finish over a [[wedgePairAgg]] frame: re-attach the
    * endpoint degrees for the Jaccard denominator (du + dv − cn: exact
    * integers, ONE float division spelled identically in the oracle) and
    * take the global top-`topN` — TakeOrderedAndProject, map-side partial
    * top-N, never a full sort. Tie-break (cn desc, u, v) is a total
    * order because (u, v) pairs are unique.
    */
  private[queries] def linkPredCnFinish(pairs: DataFrame, deg: DataFrame,
      topN: Int): DataFrame =
    pairs
      .join(deg.select(col("w").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("w").as("v"), col("dg").as("dv")), Seq("v"))
      .selectExpr("u", "v", "cn", "du", "dv",
        "CAST(cn AS DOUBLE) / CAST(du + dv - cn AS DOUBLE) AS jaccard")
      .orderBy(col("cn").desc, col("u"), col("v"))
      .limit(topN)

  /** `g_adamic_adar` finish over a [[wedgePairAgg]] frame: the cut
    * orders by aa = aa_fp/1e6 (injective in the integer sum) with a
    * (u, v) tie-break — a total order both engines replay identically,
    * where a summed-double order could diverge in the last ulp.
    */
  private[queries] def adamicAdarFinish(pairs: DataFrame,
      topN: Int): DataFrame =
    pairs
      .select(col("u"), col("v"), col("cn"),
        (col("aa_fp").cast("double") / lit(1e6)).as("aa"))
      .orderBy(col("aa").desc, col("u"), col("v"))
      .limit(topN)

  /** `g_linkpred_cn` body over an undirected distinct edge set `und`:
    * top-`topN` non-adjacent pairs by capped common-neighbor count +
    * neighborhood Jaccard. Kept as a standalone composition so
    * LinkPredSpec can exercise a BINDING cap on a toy graph (on the
    * bench graph the cap is pure 100 TB armor — max degree ≤ 93).
    */
  private[queries] def linkPredCn(und: DataFrame, cap: Int,
      topN: Int): DataFrame = {
    val adj = und.select(col("a").as("w"), col("b").as("n"))
      .unionAll(und.select(col("b").as("w"), col("a").as("n")))
    val deg = adj.groupBy(col("w")).agg(count(lit(1)).as("dg"))
      .localCheckpoint(true) // read 3× (cap filter + two score joins)
    linkPredCnFinish(wedgePairAgg(und, deg, cap), deg, topN)
  }

  /** `g_adamic_adar` body: top-`topN` non-adjacent pairs by the
    * Adamic–Adar index Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) (Adamic & Adar
    * 2003), wedge centers capped exactly like [[linkPredCn]] — both are
    * one finish step over the shared [[wedgePairAgg]] fold.
    */
  private[graft] def adamicAdar(und: DataFrame, cap: Int,
      topN: Int): DataFrame = {
    val adj = und.select(col("a").as("w"), col("b").as("n"))
      .unionAll(und.select(col("b").as("w"), col("a").as("n")))
    val deg = adj.groupBy(col("w")).agg(count(lit(1)).as("dg"))
    adamicAdarFinish(wedgePairAgg(und, deg, cap), topN)
  }

  /** The shared link-prediction frames fitted ONCE per (session, source
    * dir) — the [[graft.queries.Embeddings]] nswCache serving discipline
    * applied to wedges (r17 verdict #3): `g_adamic_adar` and
    * `g_linkpred_cn` both finish from the same non-adjacent wedge-pair
    * aggregate over the same TriMod graph, so whichever row runs first
    * pays the Σdeg² fold and the other reads the pinned checkpoint.
    * Returns (deg, pairs); checkpoint blocks are pinned via SessionPins
    * (exempt from the harnesses' per-row reap) and keyed by dir, so a
    * different source dir refits.
    */
  private val lpCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, DataFrame)]

  /** RDD ids backing each cached lpShared fit — what [[invalidateModels]]
    * must unpin when a (session, dir) entry is dropped (the
    * Embeddings.modelPins discipline).
    */
  private val lpPins = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Set[Int]]

  /** Drop the cached link-prediction AND PPR-family frames for
    * (session, dir) and release their pinned checkpoint blocks — the
    * re-ingest hook, same contract as
    * [[graft.queries.Embeddings.invalidateModels]] (which calls through
    * here so one re-ingest call clears every session-fit family).
    */
  def invalidateModels(s: SparkSession, dir: String): Unit = {
    lpCache.remove((s, dir))
    lpPins.remove((s, dir)).foreach(ids =>
      graft.operators.SessionPins.unpin(s.sparkContext, ids))
    pprFamCache.remove((s, dir))
    pprFamPins.remove((s, dir)).foreach(ids =>
      graft.operators.SessionPins.unpin(s.sparkContext, ids))
    hbCache.remove((s, dir))
    hbPins.remove((s, dir)).foreach(ids =>
      graft.operators.SessionPins.unpin(s.sparkContext, ids))
    triCache.remove((s, dir))
    triPins.remove((s, dir)).foreach(ids =>
      graft.operators.SessionPins.unpin(s.sparkContext, ids))
    undDegCache.remove((s, dir))
    undDegPins.remove((s, dir)).foreach(ids =>
      graft.operators.SessionPins.unpin(s.sparkContext, ids))
    knnHistCache.remove((s, dir))
    knnHistPins.remove((s, dir)).foreach(ids =>
      graft.operators.SessionPins.unpin(s.sparkContext, ids))
    baseApCache.remove((s, dir))
    baseApPins.remove((s, dir)).foreach(ids =>
      graft.operators.SessionPins.unpin(s.sparkContext, ids))
    lpaCache.remove((s, dir))
    lpaPins.remove((s, dir)).foreach(ids =>
      graft.operators.SessionPins.unpin(s.sparkContext, ids))
    GraphOps.invalidateGraphs(s, dir)
    graft.queries.Text.invalidateShared(s, dir)
  }

  /** The tag-batched PPR superstep family fitted ONCE per (session,
    * source dir) — r18 verdict #1, widened to FIVE members in r19
    * (verdict #6): `g_power_ppr`, `g_ppr_seedset`, `g_pagerank`,
    * `g_katz` and `g_hits` are five fixed-schedule single-shuffle loops
    * over the SAME graph, so whichever row runs first pays ONE
    * family-tagged loop ([[graft.ppr.PprFamily.runFamily]]) and the
    * others slice the pinned final checkpoint. Slices are
    * expression-for-expression the standalone runs (PprFamilySpec pins
    * all five); checkpoint blocks are pinned via SessionPins and
    * released through [[invalidateModels]].
    */
  private val pprFamCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private val pprFamPins = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Set[Int]]

  private[graft] def pprFamilyShared(s: SparkSession, dir: String)
      : DataFrame =
    pprFamCache.getOrElseUpdate((s, dir), {
      val sc = s.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val fam = graft.ppr.PprFamily.runFamily(
        s, GraphOps.lineitemGraph(s, dir, Mod), SingleSource, SeedSet,
        Alpha, Iters, PrDamping, PrIters, KatzAlpha, KatzIters, HitsIters)
      // force the loop now so only the FINAL state checkpoint remains
      // (runFamily releases its setup tables internally), then pin it.
      fam.count()
      val pinIds = (sc.getPersistentRDDs.keySet -- before).toSet --
        graft.operators.SessionPins.pinned(sc)
      graft.operators.SessionPins.pin(sc, pinIds)
      pprFamPins.put((s, dir), pinIds)
      fam
    })

  private[queries] def lpShared(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    lpCache.getOrElseUpdate((s, dir), {
      val sc = s.sparkContext
      val before = sc.getPersistentRDDs.keySet
      // und + deg now come from the session-wide shared fits (r19
      // second pass — five other rows read the same frames); both
      // arrive pinned, so this fit's diff windows exclude them and the
      // release below cannot pull them out from under later consumers.
      val und = GraphOps.lineitemUndirected(s, dir, TriMod)
      val deg = undDegShared(s, dir).select(col("id").as("w"), col("dg"))
      // wedgePairAgg eagerly checkpoints its weighted-adjacency
      // scaffolding; diff around it so the release below only drops
      // THIS fit's scaffolding.
      val keptSoFar = sc.getPersistentRDDs.keySet
      val pairsLazy = wedgePairAgg(und, deg, LpCnDegCap)
      val cappedIds = (sc.getPersistentRDDs.keySet -- keptSoFar).toSet
      // r20 (guide §5): the two consumer rows are each a top-N CUT of
      // the ~|non-adjacent-pairs| aggregate (tens of millions of rows
      // at sf0.1) — pinning the full pair table checkpointed the big
      // frame for the whole session to serve 2×20 rows. The pair table
      // is now cached only while BOTH cuts materialize (one pipeline
      // evaluation, the second cut reads the cache) and released; only
      // the two tiny finished frames stay pinned. The finishes are the
      // exact expressions the rows applied per evaluation before.
      val pairs = pairsLazy
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // NOTE (r20 second pass): a 2×-parallelism "two task waves" scope
      // briefly lived here on a sequential reading of −20 % on the fold;
      // an interleaved same-JVM A/B (7 reps × {32, 64} partitions)
      // could not replicate it — the warm
      // spread exceeded any delta (warm_compare's own refusal rule), so
      // the simpler session-default width ships. The fold is job-floor/
      // GC-bound at sf0.1, not wave-bound; at cluster scale AQE sizes
      // the post-shuffle side regardless.
      val (cnTop, aaTop) =
        (linkPredCnFinish(pairs, deg, LpCnTopN).localCheckpoint(true),
          adamicAdarFinish(pairs, LpCnTopN).localCheckpoint(true))
      pairs.unpersist(false)
      releaseUnpinned(sc, cappedIds)
      val pinIds = (sc.getPersistentRDDs.keySet -- before).toSet --
        graft.operators.SessionPins.pinned(sc)
      graft.operators.SessionPins.pin(sc, pinIds)
      lpPins.put((s, dir), pinIds)
      (cnTop, aaTop)
    })

  /** Release checkpoint blocks EXCEPT those some session fit already
    * pinned — r19: the [[GraphOps.lineitemGraph]] snapshot (and any
    * model a fit triggers) can first materialize INSIDE another fit's
    * diff window; a raw unpersist of the window's ids would pull those
    * pinned blocks out from under every later consumer.
    */
  private def releaseUnpinned(sc: org.apache.spark.SparkContext,
      ids: Set[Int]): Unit = {
    val pinned = graft.operators.SessionPins.pinned(sc)
    ids.filterNot(pinned.contains).foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
  }

  /** The TRIANGLE enumeration fitted once per (session, source dir) —
    * r19 optimization: `g_triangles`, `g_local_cc` and `g_clustering`
    * each ran the SAME degree-ordered wedge/triangle pipeline over the
    * same TriMod graph (guide §2.4 — three identical Σdeg²-bounded
    * wedge joins per board). One fit runs [[triPerNodeFrom]] once and
    * pins `(deg, triPerNode)`; the three rows finish from it:
    * `g_triangles` IS `triPerNode`, `g_local_cc` is
    * [[localCcFinish]] (identical expressions), and `g_clustering`'s
    * exact integer moments fold from it (T = Σtriangles div 3 — every
    * triangle contributes exactly 3 participation counts, so the
    * division is exact; S₂ over deg; the ONE float division spelled as
    * before — TrianglesSpec pins all three row recompositions against
    * the standalone pipelines). Only deg + triPerNode stay pinned
    * (node-count rows); und/oriented scaffolding is released inside the
    * fit. Invalidation via [[invalidateModels]].
    */
  private val triCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, DataFrame)]
  private val triPins = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Set[Int]]

  private[graft] def triShared(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    triCache.getOrElseUpdate((s, dir), {
      val sc = s.sparkContext
      val before = sc.getPersistentRDDs.keySet
      // und + deg now come from the session-wide shared fits (r19
      // second pass); both arrive pinned, so the release below spares
      // them for the five other consumer rows.
      val und = GraphOps.lineitemUndirected(s, dir, TriMod)
      val deg = undDegShared(s, dir)
      // triPerNodeFrom eagerly checkpoints `oriented` inside; diff
      // around it so the scaffolding can be released once the final
      // fold materializes — only triPerNode pins under THIS key.
      val preOriented = sc.getPersistentRDDs.keySet
      val triLazy = triPerNodeFrom(und, deg)
      val orientedIds = (sc.getPersistentRDDs.keySet -- preOriented).toSet
      val triPerNode = triLazy.localCheckpoint(true)
      releaseUnpinned(sc, orientedIds)
      val pinIds = (sc.getPersistentRDDs.keySet -- before).toSet --
        graft.operators.SessionPins.pinned(sc)
      graft.operators.SessionPins.pin(sc, pinIds)
      triPins.put((s, dir), pinIds)
      (deg, triPerNode)
    })

  /** Full-graph degree over the TriMod undirected snapshot, fitted once
    * per (session, source dir) — r19 optimization, second pass:
    * `g_richclub`, `g_pref_attach`, [[lpShared]], [[triShared]] and the
    * [[knnHistShared]] stub fold each re-ran the SAME endpoint-union
    * degree aggregate over the same undirected edge set. Columns
    * `(id, dg)`; consumers rename (`u`/`w` spellings are projections of
    * this one pinned frame). Node-count rows — trivially pinnable.
    * Invalidation rides [[invalidateModels]].
    */
  private val undDegCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private val undDegPins = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Set[Int]]

  private[queries] def undDegShared(s: SparkSession, dir: String)
      : DataFrame =
    undDegCache.getOrElseUpdate((s, dir), {
      val sc = s.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val und = GraphOps.lineitemUndirected(s, dir, TriMod)
      val deg = und.select(col("a").as("id"))
        .unionAll(und.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("dg"))
        .localCheckpoint(true)
      val pinIds = (sc.getPersistentRDDs.keySet -- before).toSet --
        graft.operators.SessionPins.pinned(sc)
      graft.operators.SessionPins.pin(sc, pinIds)
      undDegPins.put((s, dir), pinIds)
      deg
    })

  /** The `(du, dv)` degree-stub histogram fitted once per (session,
    * source dir) — r19 optimization, second pass: `g_knn_degree` and
    * `g_assortativity` ran the IDENTICAL adj → deg → double degree-join
    * stub scan over the same TriMod graph and then folded different
    * exact-integer aggregates. One fit groups the stub scan by `du`
    * (`k`, `n_stubs` = stub count, `s_dv` = Σ dv — exactly
    * `g_knn_degree`'s aggregate frame); `g_knn_degree` projects its knn
    * division off it, and `g_assortativity`'s moments fold from it
    * exactly (M = Σ n_stubs, S_jk = Σ k·s_dv, S_j = Σ k·n_stubs,
    * S_jj = Σ k²·n_stubs — all BIGINT regroupings of the same exact
    * integer sums, so the one float division is bit-identical;
    * AssortativitySpec's brute-force replay pins both). Output is
    * bounded by the degree support — tiny at any scale. Invalidation
    * rides [[invalidateModels]].
    */
  private val knnHistCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private val knnHistPins = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Set[Int]]

  private[queries] def knnHistShared(s: SparkSession, dir: String)
      : DataFrame =
    knnHistCache.getOrElseUpdate((s, dir), {
      val sc = s.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val und = GraphOps.lineitemUndirected(s, dir, TriMod)
      val deg = undDegShared(s, dir)
      val adj = und.select(col("a").as("u"), col("b").as("v"))
        .unionAll(und.select(col("b").as("u"), col("a").as("v")))
      val hist = adj
        .join(deg.select(col("id").as("u"), col("dg").as("du")), Seq("u"))
        .join(deg.select(col("id").as("v"), col("dg").as("dv")), Seq("v"))
        .groupBy(col("du").as("k"))
        .agg(count(lit(1)).as("n_stubs"), sum(col("dv")).as("s_dv"))
        .localCheckpoint(true)
      val pinIds = (sc.getPersistentRDDs.keySet -- before).toSet --
        graft.operators.SessionPins.pinned(sc)
      graft.operators.SessionPins.pin(sc, pinIds)
      knnHistPins.put((s, dir), pinIds)
      hist
    })

  /** The BASE all-pair table fitted once per (session, source dir) —
    * r19 optimization, second pass: `g_base_allpair` and `g_base_topk`
    * each ran the FULL [[graft.ppr.Base.allPairs]] preprocessing sweep
    * (two CSR builds + the batched backward search over every target)
    * over the same BaseMod graph; the reference preprocesses ONCE and
    * both store modes read the same table (`Base_Whole_Graph.java`).
    * The pinned frame carries the thresholded 9-dp-rounded rows both
    * rows previously computed; `g_base_allpair` IS the frame and
    * `g_base_topk` rank-truncates it with its unchanged
    * [[graft.ppr.Base.topkTable]] cut. Invalidation rides
    * [[invalidateModels]].
    */
  private val baseApCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private val baseApPins = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Set[Int]]

  private[queries] def baseAllpairShared(s: SparkSession, dir: String)
      : DataFrame =
    baseApCache.getOrElseUpdate((s, dir), {
      val sc = s.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val edges = GraphOps.lineitemGraph(s, dir, BaseMod)
      val ap = Base.allPairs(s, edges, Alpha, BaseRmax, BaseSupersteps)
        .select(col("src"), col("dst"), round(col("score"), 9).as("score"))
        .where(col("score") >= BaseThreshold)
        .localCheckpoint(true)
      val pinIds = (sc.getPersistentRDDs.keySet -- before).toSet --
        graft.operators.SessionPins.pinned(sc)
      graft.operators.SessionPins.pin(sc, pinIds)
      baseApPins.put((s, dir), pinIds)
      ap
    })

  /** The LPA label frame fitted once per (session, source dir) — r19
    * optimization, second pass: `g_modularity` is DEFINED as the Newman
    * Q of the `g_label_prop` communities, yet [[modularityRun]] re-ran
    * the entire fixed-horizon LabelProp superstep loop the
    * `g_label_prop` row had already run over the same fragmented
    * subgraph (2 × LpRounds job floors per board). One fit runs the
    * loop ([[graft.graph.LabelProp.run]] — deterministic: synchronous
    * rounds, smallest-label tie-break, so the refit labels are
    * byte-identical) and pins the final node-count label frame;
    * `g_label_prop` IS the frame and `g_modularity` folds its moments
    * from it via [[modularityFrom]] (the unchanged tail of
    * [[modularityRun]]). Loop scaffolding (per-round checkpoints) is
    * released inside the fit. Invalidation rides [[invalidateModels]].
    */
  private val lpaCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private val lpaPins = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Set[Int]]

  private[queries] def lpaShared(s: SparkSession, dir: String)
      : DataFrame =
    lpaCache.getOrElseUpdate((s, dir), {
      val sc = s.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val labLoop = LabelProp.run(s,
        GraphOps.lineitemSubgraph(s, dir, CcMod, CcQtyMax), LpRounds)
      // the loop's own checkpoints (und + final round) are scaffolding
      // once the pinned copy materializes — diff and release, sparing
      // blocks other fits pinned (the subgraph snapshot materializes
      // inside this window on first touch)
      val scaffold = (sc.getPersistentRDDs.keySet -- before).toSet
      val lab = labLoop.localCheckpoint(true)
      releaseUnpinned(sc, scaffold)
      val pinIds = (sc.getPersistentRDDs.keySet -- before).toSet --
        graft.operators.SessionPins.pinned(sc)
      graft.operators.SessionPins.pin(sc, pinIds)
      lpaPins.put((s, dir), pinIds)
      lab
    })

  /** `g_pref_attach` escalation ladder: head sizes tried in order are
    * topDeg × these multipliers. A skewed-but-legal input where the base
    * head does not dominate degrades to a BIGGER broadcast (candidate
    * space (16·topDeg)²/2 pairs at the last rung — still broadcast-sized)
    * instead of an error; only ladder exhaustion fails loudly. Both
    * engines replay the identical rung selection, and the chosen head is
    * DISCLOSED in the `head_deg` output column.
    */
  val PaLadder = Seq(1, 4, 16)

  /** `g_pref_attach`'s body over an undirected `(a, b)` edge list
    * (a < b, deduped, checkpointed by the caller): the global top-`topN`
    * non-adjacent pairs by deg(u)·deg(v), candidates restricted to a
    * SELF-SIZING top-degree head, with EXACTNESS ENFORCED by a
    * plan-embedded dominance guard. The head restriction alone is not
    * sufficient once the adjacency anti-join runs (an outside pair
    * dmax·dbnd can outrank a surviving inside pair on a hub
    * near-clique), so a head of size h is accepted only when EITHER
    * (a) it yields `topN` surviving pairs whose minimum score STRICTLY
    * beats dmax·dbnd, where dbnd is the highest degree beyond the head
    * boundary (rank h+1 in the (dg desc, id) total order) — strict,
    * because at score equality an outside pair could still displace a
    * reported one under the (pa desc, u, v) tie-break — OR (b) dbnd = 0:
    * the head covers the whole graph, so the restricted answer is
    * trivially global even with fewer than `topN` surviving pairs
    * (a graph can simply HAVE fewer non-adjacent pairs).
    *
    * Head sizes escalate over [[PaLadder]] (the aaCap self-sizing
    * discipline): each rung's acceptance is decided driver-side off two
    * 1-row aggregates over broadcast-sized frames, the FIRST accepted
    * rung ships (its plan still carries the assert_true guard — the
    * shipped plan re-verifies itself), and the chosen head size is
    * disclosed as the `head_deg` column. Ladder exhaustion fails loudly
    * via the last rung's embedded guard. Every stage at every rung is
    * broadcast-sized off one degree aggregate.
    */
  private[graft] def prefAttach(und: DataFrame, topDeg: Int,
      topN: Int): DataFrame =
    // spec-facing arity: derive the degree frame exactly as before
    // (one aggregate feeds every rung); the production row passes the
    // session-shared frame instead (r19 second pass).
    prefAttach(und,
      und.select(col("a").as("id"))
        .unionAll(und.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("dg"))
        .localCheckpoint(true),
      topDeg, topN)

  private[graft] def prefAttach(und: DataFrame, deg: DataFrame,
      topDeg: Int, topN: Int): DataFrame = {
    val rungs = PaLadder.map(_ * topDeg)

    def attempt(rung: Int, last: Boolean): Option[DataFrame] = {
      val headPlus = deg.orderBy(col("dg").desc, col("id"))
        .limit(rung + 1).localCheckpoint(true)
      val top = headPlus.orderBy(col("dg").desc, col("id")).limit(rung)
        .localCheckpoint(true) // head set: pair sides + 2 edge semi-joins
      val topEdges = und
        .join(broadcast(top.select(col("id").as("a"))), Seq("a"), "left_semi")
        .join(broadcast(top.select(col("id").as("b"))), Seq("b"), "left_semi")
      val pairs = top.select(col("id").as("u"), col("dg").as("du"))
        .join(top.select(col("id").as("v"), col("dg").as("dv")),
          col("u") < col("v"))
      val ranked = pairs
        .join(topEdges.select(col("a").as("u"), col("b").as("v")),
          Seq("u", "v"), "left_anti")
        .select(col("u"), col("v"), col("du"), col("dv"),
          (col("du") * col("dv")).as("pa"))
        .orderBy(col("pa").desc, col("u"), col("v"))
        .limit(topN)
        .localCheckpoint(true) // rung decision + shipped plan both read it
      val bound = headPlus
        .join(broadcast(top.select(col("id"), lit(1).as("inh"))),
          Seq("id"), "left")
        .agg(max(col("dg")).as("dmax"),
          coalesce(max(when(col("inh").isNull, col("dg"))), lit(0L))
            .as("dbnd"))
      // rung decision, driver-side: two 1-row aggregates
      val b = bound.collect()(0)
      val (dmax, dbnd) = (b.getLong(0), b.getLong(1))
      val st = ranked.agg(min(col("pa")).as("minpa"),
        count(lit(1)).as("npairs")).collect()(0)
      val minpa = if (st.isNullAt(0)) 0L else st.getLong(0)
      val npairs = st.getLong(1)
      val ok = dbnd == 0L || (npairs == topN && minpa > dmax * dbnd)
      if (!ok && !last) None
      else Some {
        val chk = ranked.agg(min(col("pa")).as("minpa"),
            count(lit(1)).as("npairs"))
          .crossJoin(bound)
          .select(assert_true(
            col("dbnd") === 0L ||
              (col("npairs") === topN &&
                col("minpa") > col("dmax") * col("dbnd")),
            concat(lit(s"g_pref_attach: no head in ladder " +
                s"${rungs.mkString("/")} dominates — at $rung: npairs="),
              col("npairs"),
              lit(s" (need $topN), min(top-N pa)="),
              coalesce(col("minpa"), lit(0L)), // empty rung: NULL min
              lit(" must strictly beat dmax*dbnd="),
              col("dmax") * col("dbnd"),
              lit(" — extend PaLadder or raise topDeg")))
            .as("ok"))
        ranked.crossJoin(broadcast(chk)).where(col("ok").isNull)
          .select(col("u"), col("v"), col("du"), col("dv"), col("pa"),
            lit(rung).as("head_deg"))
          .orderBy(col("pa").desc, col("u"), col("v"))
          .limit(topN) // no-op on <= topN rows; keeps the final cut a
                       // TakeOrderedAndProject, never a global sort
      }
    }

    rungs.init.view.map(attempt(_, last = false)).collectFirst {
      case Some(df) => df
    }.getOrElse(attempt(rungs.last, last = true).get)
  }

  /** The degree-ordered wedge/triangle enumeration: orientation (each
    * edge leaves its lower-(deg, id) endpoint — O(√m)-bounded oriented
    * out-degree), wedge self-join, left-semi closure, per-node
    * participation count. `g_triangles`' output frame verbatim, built
    * once by [[triShared]].
    * `und` must be pre-checkpointed (it feeds orientation AND closure);
    * `deg` too (orientation joins it twice).
    */
  private def triPerNodeFrom(und: DataFrame, deg: DataFrame): DataFrame = {
    val oriented = und
      .join(deg.select(col("id").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("dg").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("u"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("v"))
      .localCheckpoint(true)
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.u").as("ta"), col("x.v").as("tb"), col("y.v").as("tc"))
    wedges.join(
        und.select(col("a").as("tb"), col("b").as("tc")),
        Seq("tb", "tc"), "left_semi")
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("triangles"))
  }

  /** `g_local_cc`'s finishing projection over the shared triangle fold
    * — triangle-free and degree-1 nodes report 0.
    */
  private def localCcFinish(deg: DataFrame, triPerNode: DataFrame)
      : DataFrame =
    deg.select(col("id").as("node_id"), col("dg"))
      .join(triPerNode, Seq("node_id"), "left")
      .selectExpr("node_id", "dg",
        "coalesce(triangles, CAST(0 AS BIGINT)) AS tri",
        "CASE WHEN dg >= 2 THEN " +
          "CAST(2 * coalesce(triangles, CAST(0 AS BIGINT)) AS DOUBLE) " +
          "/ CAST(dg * (dg - 1) AS DOUBLE) " +
          "ELSE CAST(0 AS DOUBLE) END AS cc")

  /** `g_hyperball` body over a directed `(src, dst)` edge DataFrame
    * (pre-checkpointed by the caller — it feeds node derivation and both
    * rounds), reusable on any graph. See the row comment for the
    * recurrence.
    */
  /** Hop-0 HyperBall registers: each node's HLL sketch of {itself}.
    * The `Plan` variant is LAZY (no materializing job) — used where the
    * caller batches all hops into one action ([[effDiameterRun]]).
    */
  private def hllReg0Plan(edges: DataFrame): DataFrame = {
    val P = Hashing.P
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
      .selectExpr("id", s"id % $P AS h")
      .selectExpr("id", s"${Hashing.spark.kmvMix("h")} AS hm")
      .selectExpr("id", s"hm % ${Hashing.HllM} AS b", s"hm div ${Hashing.HllM} AS w")
      .selectExpr("id", "b",
        s"CASE WHEN w = 0 THEN ${Hashing.HllW + 1} " +
          s"ELSE ${Hashing.HllW + 1} - length(bin(w)) END AS mj")
  }

  private def hllReg0(edges: DataFrame): DataFrame =
    hllReg0Plan(edges).localCheckpoint(true)

  /** One HyperBall hop: union each node's registers with its
    * out-neighbors', integer max-merge per (id, b). `Plan` = lazy.
    */
  private def hllStepPlan(edges: DataFrame, reg: DataFrame): DataFrame =
    edges.join(reg, edges("dst") === reg("id"))
      .select(edges("src").as("id"), col("b"), col("mj"))
      .unionAll(reg.select(col("id"), col("b"), col("mj")))
      .groupBy("id", "b").agg(max(col("mj")).as("mj"))

  private def hllStep(edges: DataFrame, reg: DataFrame): DataFrame =
    hllStepPlan(edges, reg).localCheckpoint(true)

  /** Per-node register fold to the exact integer HLL inputs
    * `(v_zero, s_scaled)` the estimate expression reads.
    */
  private def hllFold(reg: DataFrame, sfx: String): DataFrame = {
    val pw = 1L << (Hashing.HllW + 1)
    reg.groupBy(col("id"))
      .agg(count(lit(1)).as("n_present"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${Hashing.HllW + 1} - mj)"))
          .as("s_reg"))
      .selectExpr("id",
        s"CAST(${Hashing.HllM} - n_present AS BIGINT) AS v_zero$sfx",
        s"s_reg + (${Hashing.HllM} - n_present) * CAST($pw AS BIGINT) " +
          s"AS s_scaled$sfx")
  }

  /** The hop-1/hop-2 register fold + HLL estimates — `g_hyperball`'s
    * output frame, shared so [[hyperBallRun]] and [[hbShared]] cannot
    * drift on the estimate spelling.
    */
  private def hllFoldEst(r1: DataFrame, r2: DataFrame): DataFrame = {
    hllFold(r1, "1").join(hllFold(r2, "2"), Seq("id"))
      .selectExpr("id AS node_id", "v_zero1", "s_scaled1",
        Hashing.hllEstSqlAs("s_scaled1", "v_zero1", "est1"),
        "v_zero2", "s_scaled2",
        Hashing.hllEstSqlAs("s_scaled2", "v_zero2", "est2"))
  }

  private[graft] def hyperBallRun(edges: DataFrame): DataFrame = {
    val r1 = hllStep(edges, hllReg0(edges))
    val r2 = hllStep(edges, r1)
    hllFoldEst(r1, r2)
  }

  /** `g_eff_diameter` horizon. Registers are monotone (integer
    * max-merge), so once every ball saturates further hops are no-ops
    * and N(h) plateaus — spare hops are idempotent, the fixed horizon is
    * part of the semantics like every other unrolled schedule, and the
    * plateau value N(H) is the total-pairs denominator the effective
    * diameter reads against.
    */
  val EffDiamHops = 8

  /** `g_eff_diameter` body — HyperANF (Boldi–Vigna 2011): iterate the
    * HyperBall hop to [[EffDiamHops]] and report the NEIGHBORHOOD
    * FUNCTION curve N(h) = Σ_v |B(v, h)| from the per-node 4-dp HLL
    * estimates, plus each hop's fraction of the plateau and the ≥ 90 %
    * reach flag whose first set hop IS the standard effective diameter.
    * Exactness discipline: per-node estimates are the pinned 4-dp
    * values every HLL row shares — exact multiples of 1e-4 — so the ONE
    * reduction per hop scales them to BIGINT ×10⁴ and sums INTEGERS
    * (order-free, map-side-combinable, never a per-node collect; the
    * g_assortativity exact-moments rule), with a single trailing float
    * division per hop. Range honesty: est·10⁴ ≤ n·10⁴ per node sums to
    * ≤ n²·10⁴ — fine through ~10⁹-node graphs; a web-scale run widens
    * the sum to DECIMAL(38), same plan shape. Scale shape: per hop one
    * edges ⋈ registers join + an integer max-merge groupBy (the
    * HyperBall economics, m = 16 registers per node); the curve itself
    * is H+1 scalar rows. Job shape: one eager checkpoint per hop plus
    * ONE trailing union job for all 9 curve folds — and r17 MEASURED
    * (tools/warm_compare.py, ≥4 warm in-JVM samples each) that this is
    * the optimum, not an accident: a lazy single-action variant
    * (per-hop `.persist()`, no checkpoints) read 9× slower (92 s vs
    * 10 s — each hop's un-truncated plan embeds the previous hop's
    * twice, join side + union side, so the 9-branch union's logical
    * tree blows up ~2⁸× and planning swamps the job-floor saving), and
    * a cadence-2 checkpoint (bounded 2× plans, half the jobs) still
    * read +36 % (14.8 s vs 10.9 s — the hops carry real shuffle work
    * at sf0.1, so recomputation costs more than the saved job floor).
    * The per-hop checkpoint is load-bearing lineage truncation.
    * Saturation
    * honesty: the `sat` flag discloses whether the horizon actually
    * plateaued (nf(H) = nf(H−1)); when 0, the h = H `reach90` row is
    * trivial and the effective-diameter reading is a LOWER bound, not
    * the value.
    */
  private def effDiamNfAt(reg: DataFrame, h: Int): DataFrame = {
    hllFold(reg, "")
      .selectExpr("id", Hashing.hllEstSql)
      .selectExpr(
        "CAST(round(est * CAST(10000 AS DOUBLE)) AS BIGINT) AS e4")
      .agg(sum(col("e4")).as("s4"))
      .selectExpr(s"CAST($h AS INT) AS h",
        "CAST(s4 AS DOUBLE) / CAST(10000 AS DOUBLE) AS nf")
  }

  /** Shared curve finish: plateau scalars from ONE conditional-aggregate
    * pass over the checkpointed curve (a broadcast side built from a
    * crossJoin of two filtered sub-scans measured +6 s on warm boards —
    * nested broadcast builds each pay the job floor), then the reported
    * (h, nf, frac, reach90, sat) rows against the LAST hop `lastH`.
    */
  private def effDiamFinish(all: DataFrame, lastH: Int): DataFrame = {
    val tot = all.agg(
      max(when(col("h") === lastH, col("nf"))).as("nfh"),
      max(when(col("h") === lastH - 1, col("nf"))).as("nfh1"))
    all.crossJoin(broadcast(tot))
      .selectExpr("h", "round(nf, 6) AS nf",
        "round(nf / nfh, 6) AS frac",
        "CAST(CASE WHEN nf >= CAST(0.9 AS DOUBLE) * nfh " +
          "THEN 1 ELSE 0 END AS INT) AS reach90",
        "CAST(CASE WHEN nfh = nfh1 THEN 1 ELSE 0 END AS INT) AS sat")
  }

  private[graft] def effDiameterRun(edges: DataFrame): DataFrame = {
    var reg = hllReg0(edges)
    val curve =
      scala.collection.mutable.ArrayBuffer[DataFrame](effDiamNfAt(reg, 0))
    for (h <- 1 to EffDiamHops) {
      reg = hllStep(edges, reg)
      curve += effDiamNfAt(reg, h)
    }
    val all = curve.reduce(_ unionAll _).localCheckpoint(true)
    effDiamFinish(all, EffDiamHops)
  }

  /** [[effDiamNfAt]] plus the EXACT register checksum the adaptive stop
    * rule reads: `chk = Σ_{(id,b)} mj` over the raw register frame — mj
    * only ever grows (integer max-merge) and rows are only ever added,
    * so the total is strictly monotone in register state and a flat chk
    * IS the register fixpoint. The 4-dp-rounded nf curve cannot serve
    * as the stop rule (two different register states can round to equal
    * nf for one hop and then grow again — r18 ADVICE); chk can, and it
    * stays exact in BIGINT (mj ≤ 57, ≤ 16 rows/node ⟹ chk ≤ 912·n).
    * Same single-job shape: one groupBy(id) fold + one global aggregate;
    * the nf column is expression-for-expression [[effDiamNfAt]]'s.
    */
  private def effDiamNfChkAt(reg: DataFrame, h: Int): DataFrame = {
    val pw = 1L << (Hashing.HllW + 1)
    reg.groupBy(col("id"))
      .agg(count(lit(1)).as("n_present"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${Hashing.HllW + 1} - mj)"))
          .as("s_reg"),
        sum(col("mj")).as("smj"))
      .selectExpr("id", "smj",
        s"CAST(${Hashing.HllM} - n_present AS BIGINT) AS v_zero",
        s"s_reg + (${Hashing.HllM} - n_present) * CAST($pw AS BIGINT) " +
          "AS s_scaled")
      .selectExpr("smj", Hashing.hllEstSql)
      .selectExpr(
        "CAST(round(est * CAST(10000 AS DOUBLE)) AS BIGINT) AS e4", "smj")
      .agg(sum(col("e4")).as("s4"), sum(col("smj")).as("chk"))
      .selectExpr(s"CAST($h AS INT) AS h",
        "CAST(s4 AS DOUBLE) / CAST(10000 AS DOUBLE) AS nf", "chk")
  }

  /** Curve finish for the adaptive mode: same frac/reach90 spellings as
    * [[effDiamFinish]], but `sat` is the DRIVER-KNOWN register-fixpoint
    * bit (from the exact chk stop rule, not the rounded-nf plateau) and
    * the achieved horizon ships as an explicit `hops` column.
    */
  private def effDiamFinishAdaptive(all: DataFrame, lastH: Int,
      saturated: Boolean): DataFrame = {
    val tot = all.agg(max(when(col("h") === lastH, col("nf"))).as("nfh"))
    all.crossJoin(broadcast(tot))
      .selectExpr("h", "round(nf, 6) AS nf",
        "round(nf / nfh, 6) AS frac",
        "CAST(CASE WHEN nf >= CAST(0.9 AS DOUBLE) * nfh " +
          "THEN 1 ELSE 0 END AS INT) AS reach90",
        s"CAST(${if (saturated) 1 else 0} AS INT) AS sat",
        s"CAST($lastH AS INT) AS hops")
  }

  /** ADAPTIVE-horizon HyperANF (r17 verdict #7, the `sat` honesty bit
    * extended into a mode; r19: ALSO the default `g_eff_diameter` row —
    * the oracle replays the stop predicate, so early stops stay
    * hash-checkable): hop until the register state saturates or
    * `hopCap` is hit. The stop rule reads the EXACT integer register
    * checksum ([[effDiamNfChkAt]]'s `chk`), NOT the 4-dp-rounded nf
    * curve — registers are monotone, so one flat chk hop IS the
    * fixpoint, while a flat ROUNDED-nf hop need not be (r18 ADVICE: two
    * register states can round equal for one hop and then grow again,
    * which would present a lower bound as the value). The check binds
    * only once `startHops` is exhausted — the mode extends or (with
    * startHops = 1) truncates the schedule, and `sat`/`hops` disclose
    * what happened (EffDiam specs in HyperBallSpec pin the long-path
    * stop-at-register-fixpoint, the cap-bound sat = 0 disclosure, and
    * schedule-identity with [[effDiameterRun]] at a pinned horizon).
    */
  private[graft] def effDiameterRunAdaptive(edges: DataFrame,
      startHops: Int = EffDiamHops, hopCap: Int = 4 * EffDiamHops)
      : DataFrame = {
    require(startHops >= 1 && hopCap >= startHops,
      s"need 1 <= startHops <= hopCap, got $startHops/$hopCap")
    var reg = hllReg0(edges)
    def nfCkpt(h: Int): (DataFrame, Long) = {
      val one = effDiamNfChkAt(reg, h).localCheckpoint(true)
      (one.select(col("h"), col("nf")), one.collect()(0).getLong(2))
    }
    val (nf0, c0) = nfCkpt(0)
    val curve = scala.collection.mutable.ArrayBuffer[DataFrame](nf0)
    var prevChk = c0
    var h = 0
    var saturated = false
    while (h < hopCap && !saturated) {
      h += 1
      reg = hllStep(edges, reg)
      val (one, c) = nfCkpt(h)
      curve += one
      // monotone registers: a flat chk hop is the fixpoint. Only
      // binding once the start horizon is exhausted.
      saturated = h >= startHops && c == prevChk
      prevChk = c
    }
    val all = curve.reduce(_ unionAll _).localCheckpoint(true)
    effDiamFinishAdaptive(all, h, saturated)
  }

  /** The HyperBall REGISTER CHAIN fitted once per (session, source dir)
    * — r19 optimization: `g_hyperball`, `g_harmonic` and `g_closeness`
    * each ran [[hyperBallRun]]'s full 2-hop register recurrence over the
    * same Mod-997 graph, and `g_eff_diameter` ran the SAME recurrence
    * again to its adaptive fixpoint — four chains per board where the
    * hops are near-pure job floor (guide §2.4: the redundant work is the
    * shuffle). This fit runs ONE adaptive chain (expression-for-
    * expression [[effDiameterRunAdaptive]] at `startHops = 1, hopCap =
    * EffDiamHops` — the `g_eff_diameter` row's exact schedule), extended
    * past the stop only as far as hop 2 when the stop fires earlier
    * (extension hops never enter the curve), and folds hops 1/2 into the
    * trio's estimate frame via the shared [[hllFoldEst]]. Returns
    * `(fold, effd)`: `fold` IS `g_hyperball`'s frame (`g_harmonic` /
    * `g_closeness` are per-row projections over it — identical
    * expressions to their standalone selectExprs), `effd` IS the
    * adaptive curve finish. Only the final fold + curve checkpoints stay
    * pinned (SessionPins; ~n + H+1 rows); every chain intermediate is
    * released inside the fit. Invalidation via [[invalidateModels]].
    * HyperBallSpec pins fold ≡ [[hyperBallRun]] and effd ≡
    * [[effDiameterRunAdaptive]] row-for-row.
    */
  private val hbCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, DataFrame)]
  private val hbPins = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Set[Int]]

  private[graft] def hbShared(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    hbCache.getOrElseUpdate((s, dir), {
      val sc = s.sparkContext
      val before = sc.getPersistentRDDs.keySet
      // the graph snapshot IS a checkpoint already (GraphOps r19)
      val edges = GraphOps.lineitemGraph(s, dir, Mod)
      var reg = hllReg0(edges)
      def nfCkpt(h: Int): (DataFrame, Long) = {
        val one = effDiamNfChkAt(reg, h).localCheckpoint(true)
        (one.select(col("h"), col("nf")), one.collect()(0).getLong(2))
      }
      val (nf0, c0) = nfCkpt(0)
      val curve = scala.collection.mutable.ArrayBuffer[DataFrame](nf0)
      var prevChk = c0
      var h = 0
      var stopH = 0
      var saturated = false
      val keep = scala.collection.mutable.Map.empty[Int, DataFrame]
      // the adaptive loop of [[effDiameterRunAdaptive]] (startHops = 1:
      // `h >= 1` always holds past the first hop), plus the `h < 2`
      // fold-extension clause.
      while ((h < EffDiamHops && !saturated) || h < 2) {
        h += 1
        reg = hllStep(edges, reg)
        if (h <= 2) keep(h) = reg
        if (!saturated) {
          val (one, c) = nfCkpt(h)
          curve += one
          stopH = h
          saturated = c == prevChk
          prevChk = c
        }
      }
      // final artifacts last, so the mid/after diff can release ONLY the
      // chain scaffolding (edges, per-hop registers, per-hop nf rows).
      val mid = sc.getPersistentRDDs.keySet
      val all = curve.reduce(_ unionAll _).localCheckpoint(true)
      val fold = hllFoldEst(keep(1), keep(2)).localCheckpoint(true)
      val keepIds = (sc.getPersistentRDDs.keySet -- mid).toSet
      releaseUnpinned(sc, (mid -- before).toSet)
      graft.operators.SessionPins.pin(sc, keepIds)
      hbPins.put((s, dir), keepIds)
      (fold, effDiamFinishAdaptive(all, stopH, saturated))
    })

  /** `g_kcore` body over an undirected distinct edge set `und` (`a < b`
    * orientation), reusable on any graph. See the row comment for the
    * peel semantics.
    */
  private[graft] def kcoreRun(und0: DataFrame, kMin: Int,
      rounds: Int): DataFrame = {
    var und = und0
    def degrees(u: DataFrame): DataFrame =
      u.select(col("a").as("id")).unionAll(u.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("dg"))
    for (_ <- 1 to rounds) {
      // materialized once per round: both semi-join sides reference it,
      // and un-checkpointed the degree shuffle would execute twice
      // (plus the known size lets both semi-joins broadcast).
      val alive = degrees(und).where(col("dg") >= kMin).select("id")
        .localCheckpoint(true)
      und = und
        .join(alive.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
        .join(alive.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
        .localCheckpoint(true)
    }
    degrees(und).withColumnRenamed("dg", "core_deg")
  }

  /** Materialize one FORA trace per source as the three artifact tables
    * the replay SQL reads: `st(src, node_id, reserve, residue)` (nonzero
    * rows only), `sc(src, rsum, num_walks)`, `wk(src, v, dest)`. One
    * distributed pass per table — the trace is deterministic, so
    * re-running it per table is exact; sources fan out one task each (the
    * dense per-source kernel, same shape as [[Fora.batch]]).
    */
  private[queries] def foraArtifacts(
      s: SparkSession,
      csr: graft.graph.Csr,
      sources: Seq[Long],
      root: String,
      trace: (graft.graph.Csr, Long) => (Array[Double], Array[Double], Double, Long, Array[(Long, Long)])): Unit =
    foraArtifactsMulti(s, csr, sources, root, Seq(trace))

  /** Multi-config variant of the FORA artifact writer: ONE task fan-out
    * over (config × source), ONE parquet write per table kind, every row
    * tagged with its config index `i` — the grid rows' replay artifacts
    * collapse from 3 writes PER GRID POINT to 3 writes per row (at GOT
    * scale the per-point write jobs were the whole row cost, r17 verdict
    * #4). Readers (both engines) select their point by `i`: Spark
    * re-registers per-point views with `WHERE i = <i>` + drop, the
    * DuckDB oracle filters the same parquet tree — the recomposition SQL
    * text stays byte-identical either way.
    */
  private[queries] def foraArtifactsMulti(
      s: SparkSession,
      csr: graft.graph.Csr,
      sources: Seq[Long],
      root: String,
      traces: Seq[(graft.graph.Csr, Long) => (Array[Double], Array[Double], Double, Long, Array[(Long, Long)])]): Unit = {
    import s.implicits._
    val srcs = sources.filter(csr.denseOf(_) >= 0)
    // the CSR ships ONCE as a broadcast (the Fora.batch discipline) —
    // captured in the task closure it would reserialize the whole graph
    // per (config × source) task and again for each of the three writes.
    val bc = s.sparkContext.broadcast(csr)
    val tasks = for (i <- traces.indices; src <- srcs) yield (i, src)
    // ONE kernel execution per (config, source): the traces are cached
    // across the three table writes (push + walks dominate; re-running
    // them per table tripled the row's cost).
    val run = s.sparkContext.parallelize(tasks, math.max(1, tasks.length))
      .map { case (i, src) => (i, src, traces(i)(bc.value, src)) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // single-config callers (g_fora_ppr / g_fora_topk and their oracles)
    // keep the historical untagged schema — the tag is a grid axis, and
    // a constant-0 column would ride every single-point artifact.
    def tagged(df: DataFrame): DataFrame =
      if (traces.length == 1) df.drop("i") else df
    try {
      // single-file artifacts (r20, guide §6): each table is a few
      // thousand narrow rows, and the (config × source) task fan-out
      // otherwise writes one near-empty parquet file per task — file
      // open/commit overhead on the write AND the three read-backs.
      tagged(run.flatMap { case (i, src, (rsv, rsd, _, _, _)) =>
        val g = bc.value
        rsv.indices.iterator.collect {
          case v if rsv(v) != 0.0 || rsd(v) != 0.0 =>
            (i, src, g.originalOf(v), rsv(v), rsd(v))
        }
      }.toDF("i", "src", "node_id", "reserve", "residue"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/st")
      tagged(run.map { case (i, src, (_, _, rsum, nw, _)) =>
        (i, src, rsum, nw)
      }.toDF("i", "src", "rsum", "num_walks"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/sc")
      tagged(run.flatMap { case (i, src, (_, _, _, _, walks)) =>
        walks.iterator.map { case (v, d) => (i, src, v, d) }
      }.toDF("i", "src", "v", "dest"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/wk")
    } finally {
      run.unpersist(false)
      bc.unpersist(false)
    }
  }

  /** Replay SQL for `g_fora_ppr` — the SAME text runs in Spark (over temp
    * views of the read-back artifacts) and in DuckDB (over read_parquet
    * CTEs passed as `st`/`sc`/`wk`), so both engines evaluate the
    * identical IEEE expression chain. The per-node credit mirrors
    * [[Fora.wholeGraphLocal]] token for token: ω_v = ⌈((1-α)·r/rsum)·ω⌉,
    * a_v = ((1-α)·r/rsum·ω)/ω_v, credit = a_v/ω·rsum — all
    * left-associative exactly as in the Scala source; the α-fold applies
    * only when walks ran (ω > 0). Final scores rounded to 9 dp (the
    * engine-order-noise discipline of every summed-double row).
    */
  private[queries] def foraWholeBody(st: String, sc: String, wk: String,
      alpha: Double = Alpha): String =
    // `alpha` is the α of the kernel that MADE the artifacts — callers on
    // other fixtures (got_grid_fora: Got.Alpha) must pass theirs; a
    // captured mod-997 constant would silently mis-replay both engines
    // identically if the fixture configs ever diverged.
    s"""WITH iv AS (
       | SELECT st.src, st.node_id AS v,
       |  (1.0 - $alpha) * st.residue / sc.rsum * sc.num_walks
       |    / CEIL((1.0 - $alpha) * st.residue / sc.rsum * sc.num_walks)
       |    / sc.num_walks * sc.rsum AS incr
       | FROM $st st JOIN $sc sc ON sc.src = st.src
       | WHERE st.residue <> 0.0 AND sc.num_walks > 0),
       |wp AS (
       | SELECT wk.src, wk.dest AS node_id, sum(iv.incr) AS part
       | FROM $wk wk JOIN iv ON iv.src = wk.src AND iv.v = wk.v
       | GROUP BY wk.src, wk.dest),
       |rsv AS (
       | SELECT st.src, st.node_id,
       |  st.reserve + CASE WHEN sc.num_walks > 0 AND st.residue <> 0.0
       |    THEN $alpha * st.residue ELSE 0.0 END AS part
       | FROM $st st JOIN $sc sc ON sc.src = st.src)
       |SELECT coalesce(r.src, w.src) AS src,
       |  coalesce(r.node_id, w.node_id) AS node_id,
       |  round(coalesce(r.part, 0.0) + coalesce(w.part, 0.0), 9) AS score
       |FROM rsv r FULL JOIN wp w ON w.src = r.src AND w.node_id = r.node_id
       |WHERE coalesce(r.part, 0.0) + coalesce(w.part, 0.0) <> 0.0""".stripMargin

  /** [[foraWholeBody]] with the grid tag `i` as an equi-key in every
    * join, group and window (r20, guide §2.4): ONE recomposition pass
    * over the tagged artifact tables replaces five per-point passes.
    * The per-i slice is the untagged body verbatim — `i` partitions
    * every CTE, so no row of point i ever meets a row of point j
    * (GotSpec pins slice ≡ per-point body on the real artifacts).
    */
  private[queries] def foraWholeBodyTagged(st: String, sc: String,
      wk: String, alpha: Double): String =
    s"""WITH iv AS (
       | SELECT st.i, st.src, st.node_id AS v,
       |  (1.0 - $alpha) * st.residue / sc.rsum * sc.num_walks
       |    / CEIL((1.0 - $alpha) * st.residue / sc.rsum * sc.num_walks)
       |    / sc.num_walks * sc.rsum AS incr
       | FROM $st st JOIN $sc sc ON sc.i = st.i AND sc.src = st.src
       | WHERE st.residue <> 0.0 AND sc.num_walks > 0),
       |wp AS (
       | SELECT wk.i, wk.src, wk.dest AS node_id, sum(iv.incr) AS part
       | FROM $wk wk JOIN iv
       |   ON iv.i = wk.i AND iv.src = wk.src AND iv.v = wk.v
       | GROUP BY wk.i, wk.src, wk.dest),
       |rsv AS (
       | SELECT st.i, st.src, st.node_id,
       |  st.reserve + CASE WHEN sc.num_walks > 0 AND st.residue <> 0.0
       |    THEN $alpha * st.residue ELSE 0.0 END AS part
       | FROM $st st JOIN $sc sc ON sc.i = st.i AND sc.src = st.src)
       |SELECT coalesce(r.i, w.i) AS i, coalesce(r.src, w.src) AS src,
       |  coalesce(r.node_id, w.node_id) AS node_id,
       |  round(coalesce(r.part, 0.0) + coalesce(w.part, 0.0), 9) AS score
       |FROM rsv r FULL JOIN wp w
       |  ON w.i = r.i AND w.src = r.src AND w.node_id = r.node_id
       |WHERE coalesce(r.part, 0.0) + coalesce(w.part, 0.0) <> 0.0""".stripMargin

  /** Replay SQL for `g_fora_topk`'s terminating round: est = carried
    * reserve + per-walk credit r_v/⌈r_v·ω⌉ ([[Fora.topkLocal]] token for
    * token — no rsum division and no α-fold in the top-k rounds), then the
    * tie-inclusive RANK cut over the 9-dp-rounded estimate (rounding
    * BEFORE ranking so cross-engine ulps cannot flip the cut — the
    * `g_ppr_topk`/`g_base_topk` discipline).
    */
  private[queries] def foraTopkBody(st: String, sc: String, wk: String,
      k: Int = TopK): String =
    // `k` is the k of the kernel run that MADE the artifacts — callers on
    // other fixtures (got_grid_fora_topk: GotQueries.GridK) pass theirs.
    s"""WITH iv AS (
       | SELECT st.src, st.node_id AS v,
       |  st.residue / CEIL(st.residue * sc.num_walks) AS incr
       | FROM $st st JOIN $sc sc ON sc.src = st.src
       | WHERE st.residue <> 0.0 AND sc.num_walks > 0),
       |wp AS (
       | SELECT wk.src, wk.dest AS node_id, sum(iv.incr) AS part
       | FROM $wk wk JOIN iv ON iv.src = wk.src AND iv.v = wk.v
       | GROUP BY wk.src, wk.dest),
       |rsv AS (
       | SELECT src, node_id, reserve AS part FROM $st WHERE reserve <> 0.0),
       |est AS (
       | SELECT coalesce(r.src, w.src) AS src,
       |  coalesce(r.node_id, w.node_id) AS node_id,
       |  coalesce(r.part, 0.0) + coalesce(w.part, 0.0) AS est
       | FROM rsv r FULL JOIN wp w ON w.src = r.src AND w.node_id = r.node_id),
       |rnk AS (
       | SELECT src, node_id, round(est, 9) AS score,
       |  rank() OVER (PARTITION BY src ORDER BY round(est, 9) DESC) AS rk
       | FROM est WHERE est > 0.0)
       |SELECT src, node_id, score FROM rnk WHERE rk <= $k""".stripMargin

  /** [[foraTopkBody]] with the grid tag `i` as an equi-key in every
    * join, group and window — see [[foraWholeBodyTagged]].
    */
  private[queries] def foraTopkBodyTagged(st: String, sc: String,
      wk: String, k: Int): String =
    s"""WITH iv AS (
       | SELECT st.i, st.src, st.node_id AS v,
       |  st.residue / CEIL(st.residue * sc.num_walks) AS incr
       | FROM $st st JOIN $sc sc ON sc.i = st.i AND sc.src = st.src
       | WHERE st.residue <> 0.0 AND sc.num_walks > 0),
       |wp AS (
       | SELECT wk.i, wk.src, wk.dest AS node_id, sum(iv.incr) AS part
       | FROM $wk wk JOIN iv
       |   ON iv.i = wk.i AND iv.src = wk.src AND iv.v = wk.v
       | GROUP BY wk.i, wk.src, wk.dest),
       |rsv AS (
       | SELECT i, src, node_id, reserve AS part FROM $st
       | WHERE reserve <> 0.0),
       |est AS (
       | SELECT coalesce(r.i, w.i) AS i, coalesce(r.src, w.src) AS src,
       |  coalesce(r.node_id, w.node_id) AS node_id,
       |  coalesce(r.part, 0.0) + coalesce(w.part, 0.0) AS est
       | FROM rsv r FULL JOIN wp w
       |   ON w.i = r.i AND w.src = r.src AND w.node_id = r.node_id),
       |rnk AS (
       | SELECT i, src, node_id, round(est, 9) AS score,
       |  rank() OVER (PARTITION BY i, src ORDER BY round(est, 9) DESC)
       |    AS rk
       | FROM est WHERE est > 0.0)
       |SELECT i, src, node_id, score FROM rnk WHERE rk <= $k""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S4: graph load/derivation itself.
    "g_edges" -> ((s, dir) => GraphOps.lineitemGraph(s, dir, Mod)),

    // A1: out-degree aggregate.
    "g_degree" -> ((s, dir) =>
      GraphOps.outDegrees(GraphOps.lineitemGraph(s, dir, Mod))),

    // Per-node triangle counts via DEGREE-ORDERED wedge closing: the
    // undirected graph is oriented from lower to higher (degree, id), so
    // every wedge is generated at its unique lowest apex — out-degrees
    // in the oriented DAG are O(√m) even on power-law graphs, which
    // bounds the wedge join's intermediate size (the naive neighbor
    // self-join explodes on hubs). Three equi-joins, no window, all
    // integers — the canonical distributed triangle algorithm.
    // r19: served from the shared triangle fold ([[triShared]]) — the
    // frame IS the degree-ordered wedge pipeline's per-node count
    // (spec-pinned; g_local_cc/g_clustering finish from the same fit).
    "g_triangles" -> ((s, dir) => triShared(s, dir)._2),

    // Per-node LOCAL clustering coefficient cc(v) = 2·t(v)/(dg(v)·(dg(v)−1))
    // — the node-granular companion of g_clustering's global scalar
    // (Watts & Strogatz 1998): triangle participation over possible
    // neighbor pairs. Runs g_triangles' degree-ordered wedge pipeline
    // verbatim via [[triShared]] (the two rows may not drift —
    // TrianglesSpec brute-pins both) plus one degree aggregate and a
    // left join so triangle-free and degree-1 nodes report 0 — integer
    // inputs, one float division per node.
    "g_local_cc" -> ((s, dir) => {
      // r19: finish from the shared triangle fold (spec-pinned).
      val (deg, triPerNode) = triShared(s, dir)
      localCcFinish(deg, triPerNode)
    }),

    // Global clustering coefficient (transitivity): C = 3T/W — the
    // closed fraction of all length-2 paths, the third scalar of the
    // standard graph profile (with assortativity and reciprocity).
    // Same degree-ordered triangle pipeline as g_triangles but folded to
    // ONE row; the wedge denominator is Σ dg·(dg−1) = 2W folded over the
    // degree table (node-count rows — the cheap side), so C = 6T/S₂ and
    // NO integer division exists anywhere: two exact BIGINT moments and
    // the ONE float division, spelled identically in the oracle. At
    // 100 TB both moments are mergeable partials; T inherits the
    // O(√m)-bounded wedge join from the triangle row.
    "g_clustering" -> ((s, dir) => {
      // r19: fold the global moments from the shared triangle fit —
      // every triangle contributes exactly 3 per-node participation
      // counts, so T = Σtriangles div 3 is exact integer arithmetic
      // (the octave harness's fold; TrianglesSpec pins ≡ the direct
      // triangle count); S₂ and the one float division are spelled as
      // before.
      val (deg, triPerNode) = triShared(s, dir)
      // coalesce: a triangle-free graph folds an empty frame (NULL sum)
      // where the direct count reads 0.
      triPerNode.agg(expr(
          "coalesce(sum(triangles) div 3, CAST(0 AS BIGINT))").as("n_tri"))
        .crossJoin(deg.agg(sum(expr("dg * (dg - 1)")).as("s_deg2")))
        .selectExpr("n_tri", "s_deg2",
          "CAST(6 * n_tri AS DOUBLE) / CAST(s_deg2 AS DOUBLE) AS c")
    }),

    // Common-neighbor link prediction: the top-N non-adjacent node pairs
    // by shared-neighbor count, with the neighborhood-Jaccard ratio
    // riding along. Wedges are enumerated per center (both neighbors of
    // w pair up), centers capped at LpCnDegCap so hub centers cannot go
    // quadratic (see the cap's scaladoc); the pair count is one
    // map-side-combined groupBy on the 16-byte (u, v) key, existing
    // edges leave via an anti-join, degrees re-join for the Jaccard
    // denominator (du + dv − cn: exact integers, ONE float division
    // spelled identically in the oracle), and the global top-N cut is
    // orderBy+limit — TakeOrderedAndProject, map-side partial top-N,
    // never a full sort. Tie-break (cn desc, u, v) is a total order
    // because (u, v) pairs are unique. The Σdeg² wedge fold itself is
    // SHARED with `g_adamic_adar` via the session-pinned [[lpShared]]
    // frame — both rows finish from one enumeration per board.
    "g_linkpred_cn" -> ((s, dir) => lpShared(s, dir)._1),

    // Rich-club coefficient profile φ(k) = 2·E_k / (N_k·(N_k−1)) over a
    // fixed degree ladder — the hub-interconnection diagnostic (Zhou &
    // Mondragón 2004): do high-degree nodes preferentially link to each
    // other? Shape: ONE degree aggregate + the two assortativity-style
    // degree joins reduce the graph to TWO tiny histograms (distinct
    // node degrees; distinct per-edge min-degrees) — everything after
    // runs over histogram × 7-rung ladder rows, so the curve costs the
    // same as one scalar at any graph size. Integer moments, one float
    // division per rung, φ = 0 below two qualifying nodes.
    "g_richclub" -> ((s, dir) => {
      // r19 second pass: und + deg come from the session-wide shared
      // snapshots (the same endpoint-union degree values this row
      // derived itself — consumers rename the pinned (id, dg) frame).
      val und = GraphOps.lineitemUndirected(s, dir, TriMod)
      val deg = undDegShared(s, dir).select(col("id").as("u"), col("dg"))
      val nh = deg.groupBy(col("dg")).agg(count(lit(1)).as("ncnt"))
      val em = und
        .join(deg.select(col("u").as("a"), col("dg").as("da")), Seq("a"))
        .join(deg.select(col("u").as("b"), col("dg").as("db")), Seq("b"))
        .select(least(col("da"), col("db")).as("m"))
        .groupBy(col("m")).agg(count(lit(1)).as("ecnt"))
      val ks = s.range(1)
        .selectExpr(s"explode(array(${RichClubKs.mkString(", ")})) AS k")
      val nk = ks.join(broadcast(nh), col("dg") > col("k"), "left")
        .groupBy("k").agg(coalesce(sum(col("ncnt")), lit(0L)).as("n_k"))
      val ek = ks.join(broadcast(em), col("m") > col("k"), "left")
        .groupBy("k").agg(coalesce(sum(col("ecnt")), lit(0L)).as("e_k"))
      nk.join(ek, Seq("k"))
        .selectExpr("k", "n_k", "e_k",
          "CASE WHEN n_k >= 2 THEN CAST(2 * e_k AS DOUBLE) " +
            "/ CAST(n_k * (n_k - 1) AS DOUBLE) " +
            "ELSE CAST(0 AS DOUBLE) END AS phi")
    }),

    // Adamic–Adar link prediction: same wedge enumeration and cap as
    // `g_linkpred_cn`, but each common neighbor contributes 1/ln(deg)
    // instead of 1 — rare shared neighbors count more. Plan shape is
    // identical (one map-side-combined fold on the packed pair key +
    // anti-join + TakeOrderedAndProject); the only delta is the weight
    // column riding the wedge stream — which is exactly why both rows
    // now finish from the ONE session-pinned [[lpShared]] fold (it
    // carries cn AND the fixed-point aa_fp). See [[wedgePairAgg]] /
    // [[adamicAdarFinish]] for the integer-sum ordering discipline.
    "g_adamic_adar" -> ((s, dir) => lpShared(s, dir)._2),

    // Preferential-attachment link prediction: score(u,v) = deg(u)·deg(v)
    // over non-adjacent candidate pairs (Barabási–Albert growth model;
    // the classic cheap baseline next to CN/AA above). Candidates come
    // from the top-`PaTopDeg` degree head — but the head restriction
    // ALONE does not make the top-N globally exact: the adjacency
    // anti-join runs after the head cut, so on a hub near-clique a
    // non-adjacent pair (d₁, d₆₅) with one endpoint OUTSIDE the head can
    // outrank a surviving inside pair (d₆₃, d₆₄). Exactness is therefore
    // ENFORCED, not assumed, by a plan-embedded dominance guard (the
    // aaCap/assert_true discipline): every outside pair scores ≤
    // dmax·dbnd (dbnd = the max degree beyond the head boundary), so the
    // row fails loudly — naming PaTopDeg as the knob — unless the head
    // yields PaTopN survivors whose minimum score strictly beats that
    // bound. The 100 TB shape is: one degree aggregate, a
    // (PaTopDeg+1)-row TakeOrdered head, and from there everything is
    // broadcast-sized: candidate edges come from TWO broadcast
    // semi-joins of the edge list against the head set (never an
    // anti-join that shuffles the full edge table), pairs × edges
    // anti-join is tiny × tiny, the score is an exact BIGINT product
    // with a (pa desc, u, v) total order, and the guard rides a 1-row
    // aggregate crossJoined into the (PaTopN-row) result.
    "g_pref_attach" -> ((s, dir) =>
      // r19 second pass: the undirected snapshot and the shared degree
      // frame replace the per-row distinct + degree aggregate.
      prefAttach(GraphOps.lineitemUndirected(s, dir, TriMod),
        undDegShared(s, dir), PaTopDeg, PaTopN)),

    // k-core decomposition (fixed-horizon synchronous peeling): repeat
    // "drop every node with degree < K" until the fixed round budget;
    // report the surviving core with in-core degrees. Per round ONE
    // map-side-combined degree aggregate + two semi-joins against the
    // alive set (node-count rows — broadcastable), with a localCheckpoint
    // truncating lineage (the CC/LPA iterative economics: cost is
    // rounds × job floor, not data size). Degeneracy ordering at 100 TB
    // would run the same loop with increasing K; the fixed-K core is the
    // building block.
    "g_kcore" -> ((s, dir) =>
      // r19 second pass: peel from the shared undirected snapshot (the
      // kernel's per-round degrees are its own — only round 0's input
      // derivation was redundant).
      kcoreRun(GraphOps.lineitemUndirected(s, dir, TriMod),
        KcoreK, KcoreRounds)),

    // Random-walk corpus generation — the DeepWalk/node2vec prep step a
    // graph-embedding pipeline runs before skip-gram training: truncated
    // walks from a deterministic source sample, emitted as
    // (source, walk, step, node) rows ready to pack into training
    // sequences. Each step is ONE join of the (tiny) walk-state frame
    // against the positioned adjacency (row_number within src — the
    // per-src window is partition-parallel) plus a degree lookup; walks
    // are embarrassingly parallel, nothing collects to the driver, and a
    // sink (out-degree 0) truncates its walk in both engines (the inner
    // join drops it). The state side broadcasts while |sources × walks|
    // stays broadcast-sized (it is, at any corpus scale, for a fixed
    // query fleet); a million-walk corpus build would drop the hint and
    // let the join shuffle on node — same plan shape, wider exchange.
    // Randomness is counter-based kmvMix arithmetic (see
    // walkHashExpr) — task placement, retries, and ENGINE cannot change
    // a single step, so the DuckDB oracle re-derives every walk exactly.
    "g_walk_corpus" -> ((s, dir) =>
      walkCorpus(walkAdj(GraphOps.lineitemGraph(s, dir, TriMod)),
        WalkSrcMod, WalksPerSrc, WalkLen, broadcastState = true)),

    // Degree assortativity (Newman 2002): the Pearson correlation of
    // endpoint degrees over all directed adjacency pairs of the
    // undirected graph — positive = hubs attach to hubs, negative =
    // hub-to-leaf (the disassortative profile most real graphs show).
    // Every moment is an exact INTEGER sum over the adj pairs (S_jk =
    // Σ du·dv, S_j = Σ du, S_jj = Σ du², M = pair count) folded
    // map-side in one aggregate after two degree joins; r =
    // (M·S_jk − S_j²) / (M·S_jj − S_j²) is the ONE float division,
    // spelled identically in the oracle — engines cannot desync on an
    // integer-exact numerator/denominator. The integer moments ride
    // along (they are the mergeable 100 TB state; r folds from them).
    // Range honesty: M·S_jk stays under 2⁶³ through ~1e9 pairs at 1e4
    // max degree; a web-scale run (1e12 pairs, 1e6-degree hubs) widens
    // the moments to DECIMAL(38) — same plan shape, wider cells.
    "g_assortativity" -> ((s, dir) =>
      // r19 second pass: the moments fold EXACTLY from the shared
      // degree-class histogram ([[knnHistShared]] — g_knn_degree's own
      // aggregate frame): M = Σ n_stubs, S_jk = Σ k·s_dv,
      // S_j = Σ k·n_stubs, S_jj = Σ k²·n_stubs are BIGINT regroupings
      // of the same exact integer sums (classes partition the stub
      // scan), so the one float division is bit-identical —
      // AssortativitySpec's brute-force replay pins it.
      knnHistShared(s, dir)
        .agg(sum(col("n_stubs")).as("m_pairs"),
          sum(col("k") * col("s_dv")).as("s_jk"),
          sum(col("k") * col("n_stubs")).as("s_j"),
          sum(col("k") * col("k") * col("n_stubs")).as("s_jj"))
        .selectExpr("m_pairs", "s_jk", "s_j", "s_jj",
          "CAST(m_pairs * s_jk - s_j * s_j AS DOUBLE) / " +
            "CAST(m_pairs * s_jj - s_j * s_j AS DOUBLE) AS r")),

    // Average-nearest-neighbor-degree curve knn(k) (Pastor-Satorras,
    // Vázquez & Vespignani 2001) — the degree-resolved view of the
    // g_assortativity scalar: for each degree class k, the mean degree
    // of the neighbors of degree-k nodes. Rising knn(k) = assortative
    // mixing, falling = hubs attach to leaves. Same (du, dv) stub scan
    // as assortativity, folded to distinct-degree rows: two exact
    // BIGINT moments (stub count, Σ dv) per class and ONE float
    // division, spelled identically in the oracle. At any scale the
    // output is bounded by the degree support, not the node count.
    "g_knn_degree" -> ((s, dir) =>
      // r19 second pass: the row IS the shared degree-class histogram
      // plus its unchanged knn projection (g_assortativity folds its
      // moments from the same pinned frame).
      knnHistShared(s, dir).selectExpr("k", "n_stubs", "s_dv",
        "round(CAST(s_dv AS DOUBLE) / n_stubs, 6) AS knn")),

    // Edge reciprocity: the fraction of directed edges whose reverse
    // edge also exists — the direction-structure scalar (social graphs
    // ~0.5-0.8, citation/web graphs ≪ that). One left-semi self-join on
    // the swapped key pair counts mutual edges; integer counts + the one
    // float division shared with the oracle.
    "g_reciprocity" -> ((s, dir) => {
      val e = GraphOps.lineitemGraph(s, dir, Mod) // snapshot = checkpoint
      val mutual = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      e.agg(count(lit(1)).as("m_edges"))
        .crossJoin(mutual.agg(count(lit(1)).as("m_mutual")))
        .selectExpr("m_edges", "m_mutual",
          "CAST(m_mutual AS DOUBLE) / CAST(m_edges AS DOUBLE) AS reciprocity")
    }),

    // Log2-bucketed degree histogram: the corpus-profile report a 100 TB
    // graph ingest runs first (is this power-law? where do the hubs
    // start?). Bucket = bit length of the out-degree — pure integer via
    // length(bin(deg)), the HLL rows' no-libm discipline — so the
    // histogram is one map-side-combined groupBy over node-count rows.
    "g_degree_hist" -> ((s, dir) => {
      val e = GraphOps.lineitemGraph(s, dir, Mod)
      GraphOps.outDegrees(e)
        .selectExpr("length(bin(deg)) AS bucket")
        .groupBy(col("bucket")).agg(count(lit(1)).as("nodes"))
        .selectExpr("CAST(bucket AS BIGINT) AS bucket", "nodes")
    }),

    // k-hop neighborhood expansion: distinct nodes reachable from each
    // batch source in exactly 1 and within 2 hops (directed) — the
    // traversal primitive feature pipelines run for ego-network stats.
    // Two integer equi-joins; the frontier (sources × neighbors) is the
    // only thing that grows, the edge side shuffles once per hop on the
    // 8-byte key. A distinct per hop keeps the frontier a SET, so the
    // 2-hop join fans out from unique nodes only (the blowup guard at
    // power-law scale).
    // Horizon-truncated eccentricity profile per batch source — the
    // per-source rollup of the BFS frame (ecc = max hop distance reached
    // within the depth window, reached = ball size): the summary a
    // diameter/eccentricity sweep reads off exactly the traversal the
    // g_bfs row already runs, zero extra distributed work beyond one
    // map-side-combined aggregate.
    "g_eccentricity" -> ((s, dir) => Bfs.run(
        s, GraphOps.lineitemGraph(s, dir, Mod), BatchSources, BfsDepth,
        _ => GraphOps.lineitemCsr(s, dir, Mod),
        Some(GraphOps.lineitemGraphCount(s, dir, Mod)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("reached"), max(col("dist")).as("ecc"))),

    "g_khop" -> ((s, dir) => {
      import s.implicits._
      // both hops probe the same derived edge list — the r19 snapshot
      // (GraphOps.lineitemGraph) is already a materialized checkpoint
      val e = GraphOps.lineitemGraph(s, dir, Mod)
      val src = BatchSources.toDF("s")
      val hop1 = src.join(e, col("s") === e("src"))
        .select(col("s"), col("dst").as("n1")).distinct()
        .localCheckpoint(true)
      val hop2 = hop1.join(e, hop1("n1") === e("src"))
        .select(col("s"), col("dst").as("n2")).distinct()
      val within2 = hop1.select(col("s"), col("n1").as("n"))
        .union(hop2.select(col("s"), col("n2").as("n")))
        .where(col("n") =!= col("s")).distinct()
      // hop1 is already distinct — a plain count is the dedup-free
      // aggregate (the oracle counts the DISTINCT CTE the same way)
      hop1.groupBy(col("s")).agg(count(lit(1)).as("n_hop1"))
        .join(within2.groupBy(col("s")).agg(count(lit(1)).as("n_within2")), Seq("s"))
        .select(col("s").as("source"), col("n_hop1"), col("n_within2"))
    }),

    // Connected components over the sparse disconnected subgraph —
    // jump-accelerated label propagation (see [[ConnectedComponents]]).
    // Per node: its component id (= smallest node id in the component).
    "g_concomp" -> ((s, dir) => ConnectedComponents.run(
      s, GraphOps.lineitemSubgraph(s, dir, CcMod, CcQtyMax), CcRounds)),

    // Minimum spanning forest (Borůvka) over the fragmented subgraph
    // with deterministic hash weights — the classic distributed MST
    // kernel ([[graft.graph.MinSpanningForest]]): per round one
    // min-struct aggregate picks each component's lightest outgoing
    // edge, contraction reuses the CC kernel on the tiny picked-edge
    // graph. Edges compare as (w, a, b) — a total order, so the forest
    // is unique: MsfSpec's driver-side Kruskal reproduces it
    // edge-for-edge AND the DuckDB oracle replays it as unrolled
    // Borůvka rounds (union-find per se has no SQL spelling, but a
    // bounded exact Borůvka does — [[MinSpanningForest.oracleSql]]).
    "g_msf" -> ((s, dir) => {
      val e = GraphOps.lineitemSubgraph(s, dir, CcMod, CcQtyMax)
      val und = e.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
        .withColumn("w", expr(Hashing.spark.kmvMix(
          s"(a * 1000003 + b) % ${Hashing.P}") + " % 100000"))
      MinSpanningForest.run(s, und, MsfRounds)
        .orderBy(col("a"), col("b"))
    }),

    // Deterministic synchronous label-propagation communities over the
    // same fragmented subgraph as g_concomp (the full derivation is one
    // giant component — communities there are trivial); fixed LpRounds
    // horizon, smallest-label tie-break (see [[graft.graph.LabelProp]]).
    "g_label_prop" -> ((s, dir) =>
      // r19 second pass: the row IS the session-fitted label frame
      // (g_modularity folds its Q moments from the same fit).
      lpaShared(s, dir)),

    // Newman modularity Q of the g_label_prop communities — the
    // community-quality scalar a graph pipeline reports next to the
    // partition itself (Newman & Girvan 2004). Over the symmetrized
    // adjacency (2m directed pairs): Q = (2m·Σ_c E_c − Σ_c D_c²)/(2m)²
    // where E_c counts intra-community directed pairs and D_c sums
    // member degrees. Same integer-moment discipline as g_assortativity:
    // m2/s_intra/s_dd are exact BIGINTs folded map-side (two broadcast-
    // size label joins + one groupBy on the community id), and Q is the
    // ONE float division, spelled identically in the oracle. The moments
    // are the mergeable 100 TB state; range honesty: m2·s_intra ≤ (2m)²
    // stays under 2⁶³ through ~2e9 directed pairs, past which the
    // moments widen to DECIMAL(38,0) like assortativityWide.
    "g_modularity" -> ((s, dir) =>
      // r19 second pass: Q of the g_label_prop communities, folded from
      // the session-fitted label frame instead of re-running the LPA
      // loop (the row's own definition — same labels, same moments).
      modularityFrom(GraphOps.lineitemSubgraph(s, dir, CcMod, CcQtyMax),
        lpaShared(s, dir))),

    // Strongly connected components of the DIRECTED graph — the classic
    // [[graft.graph.Scc]] two-regime kernel: iterative Tarjan over the
    // collected CSR under the edge ceiling, Orzan coloring supersteps
    // (trim → forward max-color → backward containment, loud-failure
    // convergence checks) past it. Canonical labeling (comp = min SCC
    // member) is identical from both regimes. Runs on the
    // quantity-thinned mod-997 subgraph: the full derivation collapses
    // into one giant SCC at sf ≥ 0.01 (a trivial labeling), while
    // qty ≤ [[SccQtyMax]] keeps a core-plus-periphery mix (588 SCCs at
    // sf0.001, giant-core 993/997 at sf0.01). The oracle is the EXACT
    // mutual-reachability definition via a recursive-CTE transitive
    // closure — valid because the mod-997 node universe bounds the
    // closure at ~1M pairs at any scale factor.
    "g_scc" -> ((s, dir) => Scc.run(
      s, GraphOps.lineitemSubgraph(s, dir, Mod, SccQtyMax),
      SccFwdSteps, SccOuterRounds)),

    // Depth-limited multi-source BFS distances — two-regime dispatch
    // (see [[graft.graph.Bfs]]): broadcast CSR under the edge ceiling
    // (memoized snapshot), the level-synchronous superstep loop past it.
    "g_bfs" -> ((s, dir) => Bfs.run(
      s, GraphOps.lineitemGraph(s, dir, Mod), BatchSources, BfsDepth,
      _ => GraphOps.lineitemCsr(s, dir, Mod),
      Some(GraphOps.lineitemGraphCount(s, dir, Mod)))),

    // K-source truncated Brandes betweenness, sources and horizon as
    // g_bfs — exact BIGINT σ path counts, per-level dependency sweep,
    // and EVERY float fold value-sorted on both engines so the δ chain
    // is bit-identical cross-engine. Two-regime like g_bfs: batch CSR
    // under the ceiling, the σ-sum BFS + per-level backward join cascade
    // supersteps past it (see [[graft.graph.Betweenness]]) — both
    // regimes hash-identical by the value-sorted fold discipline.
    "g_betweenness" -> ((s, dir) => Betweenness.run(
      s, GraphOps.lineitemGraph(s, dir, Mod), BatchSources, BfsDepth,
      _ => GraphOps.lineitemCsr(s, dir, Mod),
      Some(GraphOps.lineitemGraphCount(s, dir, Mod)))),

    // Bounded-hop weighted shortest paths over the min-quantity-weighted
    // edge set — two-regime dispatch (see [[graft.graph.Sssp]]): dense
    // relaxation arrays under the ceiling, min-plus supersteps past it.
    "g_sssp" -> ((s, dir) => Sssp.run(
      s, GraphOps.lineitemWeightedGraph(s, dir, Mod), BatchSources,
      SsspHops, _ => GraphOps.lineitemWeightedCsr(s, dir, Mod),
      Some(GraphOps.lineitemWeightedGraphCount(s, dir, Mod)))),

    // K1 as a DataFrame superstep loop — served from the tag-batched
    // family fit ([[pprFamilyShared]], r18 verdict #1); the slice equals
    // the dense kernel [[PowerIteration.batch]] to 1e-12 (PprFamilySpec
    // pins it).
    "g_power_ppr" -> ((s, dir) =>
      graft.ppr.PprFamily.pprScore(pprFamilyShared(s, dir),
          graft.ppr.PprFamily.FamPower, Alpha)
        .select(col("node_id"), round(col("score"), 9).as("score"))),

    // Seed-SET personalized PageRank (topic-sensitive teleport,
    // Haveliwala 2002) — see [[PowerIteration.runSeedSet]]: residue
    // starts uniform over [[SeedSet]] and dangling mass restarts fresh-
    // uniform over the set (NOT the average of per-seed runs — the
    // difference and the no-dangling linearity equality are both
    // spec-pinned). Same one-join-one-aggregate superstep economics as
    // g_power_ppr; |S| = 4 keeps 1/|S| exact binary on both engines.
    "g_ppr_seedset" -> ((s, dir) =>
      graft.ppr.PprFamily.pprScore(pprFamilyShared(s, dir),
          graft.ppr.PprFamily.FamSeed, Alpha)
        .select(col("node_id"), round(col("score"), 9).as("score"))),

    // Global PageRank: teleport-to-uniform + uniform dangling
    // redistribution — the non-personalized sibling of K1 (see
    // [[PageRank]]). One superstep = one job; 1-row dangling aggregate
    // broadcast into the base term.
    "g_pagerank" -> ((s, dir) =>
      graft.ppr.PprFamily.rankScore(pprFamilyShared(s, dir))
        .select(col("node_id"), round(col("score"), 9).as("score"))),

    // Katz centrality: attenuated walk counts x = Σ α^j (Aᵀ)^j · 1 as
    // the truncated fixpoint x' = 1 + α·Aᵀx (see [[graft.graph.Katz]]) —
    // the simplest member of the centrality family's superstep shape:
    // one union-carrier shuffle per iteration, no dangling/base terms,
    // schedule oracle-replayed.
    // r19: served from the tag-batched family fit — the slice is
    // expression-for-expression [[graft.graph.Katz.run]] (PprFamilySpec
    // pins it).
    "g_katz" -> ((s, dir) =>
      graft.ppr.PprFamily.katzScore(pprFamilyShared(s, dir))
        .select(col("node_id"), round(col("katz"), 9).as("katz"))),

    // HITS hubs & authorities: the mutually-recursive global ranking
    // pair (see [[graft.graph.Hits]]) — one map-side-combined shuffle
    // per half-step, single trailing L1 normalization (per-step
    // normalization is a scalar no-op on a linear recurrence).
    // r19: served from the tag-batched family fit — half-steps
    // alternate across family supersteps via the direction-tagged
    // adjacency; the slice's trailing L1 normalization is
    // [[graft.graph.Hits.run]]'s exact projection (PprFamilySpec pins
    // it).
    "g_hits" -> ((s, dir) =>
      graft.ppr.PprFamily.hitsScores(pprFamilyShared(s, dir))
        .select(col("node_id"), round(col("hub"), 9).as("hub"),
          round(col("auth"), 9).as("auth"))),

    // HyperBall neighborhood-size sketches: per node an HLL register set
    // of its ≤ r-hop OUT-ball, grown by the register-merge recurrence
    // reg_r(v) = max(reg_{r-1}(v), max over v→u of reg_{r-1}(u)) — the
    // web-scale neighborhood-function/centrality primitive (Boldi &
    // Vigna 2013) that the integer HLL machinery of graph/Hashing makes
    // exactly cross-engine-checkable: registers are max-merged INTEGERS
    // (no float order anywhere), so the whole recurrence hash-compares,
    // and the two estimates run the shared hllEstSqlAs spelling. Scale
    // shape: per round ONE map-side-combined (id, b) groupBy over
    // ≤ m·|E| register rows (m = 16); an exact r-hop ball size would be
    // a Σdeg² distinct-pair explosion — the sketch IS the scale path,
    // so no exact ride-along column here (HyperBallSpec replays exact
    // balls in memory at sf0.001 instead).
    // r19: served from the shared register chain ([[hbShared]]) — the
    // frame IS hyperBallRun's output over the same graph (spec-pinned).
    "g_hyperball" -> ((s, dir) => hbShared(s, dir)._1),

    // Effective diameter via HyperANF — ADAPTIVE horizon (r18 verdict
    // #5; see [[effDiameterRunAdaptive]]): hops stop at the FIRST exact
    // register fixpoint (flat integer chk) up to the [[EffDiamHops]]
    // cap, so a graph that saturates at hop 4 prices 4 hop kernels, not
    // 8 — spare hops on a saturated sketch are pure job floor. The stop
    // predicate is deterministic and the DuckDB oracle replays it over
    // its own unrolled register CTEs, so the early stop stays
    // hash-checkable; the achieved horizon and the fixpoint bit ship as
    // the `hops`/`sat` columns. The graph-profile scalar every
    // connectivity report leads with, priced at HyperBall cost instead
    // of all-pairs BFS.
    // r19: served from the shared register chain ([[hbShared]]) — the
    // slice is effDiameterRunAdaptive(edges, 1, EffDiamHops) verbatim
    // (the fit runs that exact loop; spec-pinned).
    "g_eff_diameter" -> ((s, dir) => hbShared(s, dir)._2),

    // Harmonic centrality from the HyperBall registers — Boldi & Vigna's
    // actual use case for the sketch (In-Core Computation of Geometric
    // Centralities, 2014): h(v) ≈ Σ_r (|B_r| − |B_{r−1}|)/r over the
    // radius-truncated balls, here (est1 − 1)/1 + (est2 − est1)/2. ZERO
    // additional distributed work beyond the register rounds — the
    // centrality is a per-node projection over the two 4-dp-pinned
    // estimates, so both engines compute identical IEEE arithmetic on
    // identical inputs. At 100 TB this is the point of the sketch:
    // node-set-sized state per radius instead of all-pairs BFS.
    "g_harmonic" -> ((s, dir) =>
      hbShared(s, dir)._1
        .selectExpr("node_id", "est1", "est2",
          "round((est1 - CAST(1 AS DOUBLE)) " +
            "+ (est2 - est1) / CAST(2 AS DOUBLE), 6) AS harmonic")),

    // Closeness + Lin centrality from the same HyperBall registers —
    // the other two members of Boldi & Vigna's geometric-centrality
    // trio (2014 §3): over the radius-truncated balls the distance sum
    // is Σ_r r·(|B_r| − |B_{r−1}|) = (est1 − 1) + 2·(est2 − est1),
    // closeness = reached/sum_dist, Lin = reached²/sum_dist (reached =
    // est2 − 1, excluding self). Like `g_harmonic` this is ZERO extra
    // distributed work — a per-node projection over the two 4-dp-pinned
    // estimates, spelled identically on both engines ([[closenessProj]])
    // so the IEEE arithmetic matches bit-for-bit before the 6-dp round.
    "g_closeness" -> ((s, dir) =>
      hbShared(s, dir)._1
        .selectExpr("node_id" +: "est1" +: "est2" +: closenessProj: _*)),

    // K1 batched: multi-source PPR over broadcast CSR (zero per-iteration
    // shuffle; the 100 TB-shaped strategy for batch workloads).
    "g_ppr_batch" -> ((s, dir) => {
      val csr = GraphOps.lineitemCsr(s, dir, Mod)
      PowerIteration.batch(s, csr, BatchSources, Alpha, Iters)
        .select(col("src"), col("node_id"), round(col("score"), 9).as("score"))
    }),

    // T2: tie-inclusive top-k per source via RANK on the rounded score.
    "g_ppr_topk" -> ((s, dir) => {
      val csr = GraphOps.lineitemCsr(s, dir, Mod)
      val ppr = PowerIteration.batch(s, csr, BatchSources, Alpha, Iters)
        .select(col("src"), col("node_id"), round(col("score"), 9).as("score"))
      val w = Window.partitionBy(col("src")).orderBy(col("score").desc)
      ppr.withColumn("rk", rank().over(w)).where(col("rk") <= TopK)
    }),

    // K2: forward push, batched BSP over broadcast CSR (fixed supersteps).
    "g_fwdpush" -> ((s, dir) => {
      val csr = GraphOps.lineitemCsr(s, dir, Mod)
      ForwardPush.batch(s, csr, BatchSources, Alpha, PushRmax, PushSupersteps)
        .select(col("src"), col("node_id"), round(col("score"), 9).as("score"))
        .where(col("score") =!= 0.0)
    }),

    // K8: backward search (PPR column per target), batched over targets.
    "g_bwdsearch" -> ((s, dir) => {
      val csr = GraphOps.lineitemCsr(s, dir, Mod)
      val rcsr = GraphOps.lineitemCsr(s, dir, Mod, reversed = true)
      BackwardSearch.batch(s, rcsr, Base.forwardDegrees(csr, rcsr),
          BatchSources, Alpha, PushRmax, PushSupersteps)
        .select(col("dst"), col("node_id"), round(col("score"), 9).as("score"))
        .where(col("score") =!= 0.0)
    }),

    // K8 on the hub-skewed octave (see [[SkewMod]]'s scaladoc): the same
    // batched sparse kernel over the symmetric power-law snapshot — the
    // reverse adjacency IS the forward adjacency there, and out-degree
    // equals in-degree, so one CSR serves both kernel inputs.
    "g_bwdsearch_skew" -> ((s, dir) => {
      val csr = GraphOps.lineitemFlickrCsr(s, dir, SkewMod, SkewFan)
      val fwdDeg = Array.tabulate(csr.numNodes)(csr.outDegree)
      BackwardSearch.batch(s, csr, fwdDeg, SkewTargets, Alpha, SkewRmax,
          SkewSupersteps)
        .select(col("dst"), col("node_id"), round(col("score"), 9).as("score"))
        .where(col("score") =!= 0.0)
    }),

    // K9: BASE all-pair preprocessing table (threshold on rounded score).
    "g_base_allpair" -> ((s, dir) =>
      // r19 second pass: the preprocessing sweep is fitted once per
      // session ([[baseAllpairShared]]) — g_base_topk rank-truncates
      // the same pinned table instead of re-running the sweep.
      baseAllpairShared(s, dir)),

    // T5: BASE top-k store mode — the all-pair table rank-truncated per
    // source with an explicit tie-inclusive rank column (the materialized
    // form the reference writes per-source files in rank order,
    // `Base_Whole_Graph.java:133-155`).
    "g_base_topk" -> ((s, dir) =>
      // r19 second pass: unchanged tie-inclusive rank cut over the
      // session-fitted all-pair table (the reference preprocesses once
      // and serves both store modes from the same table).
      Base.topkTable(baseAllpairShared(s, dir), TopK)),

    // K5: seeded Monte-Carlo SSPPR, oracle-checked via the materialized
    // walk table (SURVEY A2): the seeded walk endpoints are dumped as
    // parquet and BOTH engines aggregate stops(v)/ω over it — the
    // stop-count aggregate is exact given the walk table; walk GENERATION
    // stays spec-territory (MonteCarloSpec: determinism + Chernoff bound
    // vs power iteration, and endpoints ≡ the production counting path).
    // The production kernel remains [[MonteCarlo.sspprBatch]] (in-task
    // counting, shuffle O(distinct stops), never O(ω)).
    "g_mc_ppr" -> ((s, dir) => {
      val csr = GraphOps.lineitemCsr(s, dir, Mod)
      val n = csr.numNodes.toDouble
      val omega = MonteCarlo.omegaFor(0.5, 1.0 / n, 1.0 / n)
      val wdir = VerifyArtifacts.dir(s, "mc_walks")
      MonteCarlo.sspprEndpoints(s, csr, BatchSources, Alpha, epsilon = 0.5)
        .write.mode("overwrite").parquet(wdir)
      VerifyArtifacts.record("mc_omega", omega.toString)
      s.read.parquet(wdir)
        .groupBy("src", "node_id")
        .agg((count(lit(1)) / lit(omega.toDouble)).as("score"))
    }),

    // K6: FORA whole-graph (push + residual walks), seeded. The kernel's
    // internals — post-push (reserve, residue), the (rsum, ω) bookkeeping
    // scalars, and every residual walk's endpoint — are materialized as
    // parquet, and both engines replay the ENTIRE deterministic reduce
    // (ω_v = ⌈r_c/rsum·ω⌉, a_v, per-walk credit, α-fold, final score) from
    // that data through the SAME SQL text ([[foraWholeBody]]). ForaSpec
    // pins the recomposed scores to [[Fora.wholeGraphLocal]]'s.
    "g_fora_ppr" -> ((s, dir) => {
      val csr = GraphOps.lineitemCsr(s, dir, Mod)
      val conf = Fora.Conf(alpha = Alpha, epsilon = 0.5)
      val root = VerifyArtifacts.dir(s, "fora_whole")
      foraArtifacts(s, csr, BatchSources, root, { (g, src) =>
        val t = Fora.wholeGraphTrace(g, g.denseOf(src), conf)
        (t.reserve, t.residue, t.rsum, t.numWalks, t.walks)
      })
      s.read.parquet(s"$root/st").createOrReplaceTempView("g_fora_st")
      s.read.parquet(s"$root/sc").createOrReplaceTempView("g_fora_sc")
      s.read.parquet(s"$root/wk").createOrReplaceTempView("g_fora_wk")
      s.sql(foraWholeBody("g_fora_st", "g_fora_sc", "g_fora_wk"))
    }),

    // K7: FORA top-k, seeded. Same materialized-trace scheme as
    // `g_fora_ppr`, for the TERMINATING round of the δ-halving loop (the
    // round-advance decision is the kernel's, exactly as in
    // [[Fora.topkLocal]]); both engines replay the round's reduce and the
    // tie-inclusive rank cut over the 9-dp-rounded estimate from the same
    // SQL text ([[foraTopkBody]]).
    "g_fora_topk" -> ((s, dir) => {
      val csr = GraphOps.lineitemCsr(s, dir, Mod)
      val conf = Fora.Conf(alpha = Alpha, epsilon = 0.5)
      val root = VerifyArtifacts.dir(s, "fora_topk")
      foraArtifacts(s, csr, BatchSources, root, { (g, src) =>
        val t = Fora.topkTrace(g, g.denseOf(src), TopK, conf)
        (t.reserve, t.residue, 0.0, t.numWalks, t.walks)
      })
      s.read.parquet(s"$root/st").createOrReplaceTempView("g_ftk_st")
      s.read.parquet(s"$root/sc").createOrReplaceTempView("g_ftk_sc")
      s.read.parquet(s"$root/wk").createOrReplaceTempView("g_ftk_wk")
      s.sql(foraTopkBody("g_ftk_st", "g_ftk_sc", "g_ftk_wk"))
    }),

    // S7/S8 beyond BASE: the forward-push preprocessing store — batch
    // results written source-major via the shared PprStore, then queried
    // back by a one-source read (the reference's per-algo
    // preprocessing/readPreprocessedPPR pair, `Forward_Push.java:320-362`).
    "g_prep_fwdpush" -> ((s, dir) => {
      val csr = GraphOps.lineitemCsr(s, dir, Mod)
      val scores = ForwardPush.batch(s, csr, BatchSources, Alpha, PushRmax,
          PushSupersteps)
        .select(col("src"), col("node_id"), round(col("score"), 9).as("score"))
        .where(col("score") =!= 0.0)
      val store = Scratch.dir(s, "prep_fwdpush")
      PprStore.write(scores, store)
      PprStore.read(s, store, SingleSource)
    }),

    // A9/J3: max-abs-error of forward push vs the power-iteration ground
    // truth, per source — outer-join semantics with missing = 0.0.
    "g_metrics_err" -> ((s, dir) => {
      val (gnd, est) = gndEst(s, dir)
      Metrics.maxAbsErr(gnd, est)
        .select(col("src"), round(col("max_err"), 9).as("max_err"))
    }),

    // A7/J4: tie-inclusive precision@k of forward push vs power iteration.
    "g_metrics_precision" -> ((s, dir) => {
      val (gnd, est) = gndEst(s, dir)
      Metrics.precisionAtK(gnd, est, TopK)
        .select(col("src"), round(col("precision"), 9).as("prec"))
    }),

    // A8: NDCG@k of forward push vs power iteration — DCG over the
    // estimate's top-k in estimate order with ground-truth gains 2^π−1,
    // normalized by the ideal DCG (reference `Gen_Util.java:280-300`).
    "g_metrics_ndcg" -> ((s, dir) => {
      val (gnd, est) = gndEst(s, dir)
      Metrics.ndcgAtK(gnd, est, TopK)
        .select(col("src"), round(col("ndcg"), 9).as("ndcg"))
    }),

    // A10: the reference's per-grid-point summary row — precision, NDCG and
    // max-err averaged over the source batch (`Gen_Util.java:168-179`).
    "g_metrics_summary" -> ((s, dir) => {
      val (gnd, est) = gndEst(s, dir)
      Metrics.summary(gnd, est, TopK)
        .select(round(col("avg_precision"), 9).as("avg_precision"),
          round(col("avg_ndcg"), 9).as("avg_ndcg"),
          round(col("avg_max_err"), 9).as("avg_max_err"))
    })
  )

  /** Ground-truth + estimate score tables shared by the metric queries.
    * Both are EAGERLY localCheckpoint'ed: every metric references them 2-3
    * times (precision + NDCG + max-err each re-derive top-k sets), and
    * without materialization Spark re-runs the batch kernels once per
    * reference. A few thousand (src, node_id, score) rows pinned per call
    * vs 3× kernel evaluations is the right trade at any scale — at 100 TB
    * these per-source vectors are the SMALL side of the workload.
    */
  private def gndEst(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val csr = GraphOps.lineitemCsr(s, dir, Mod)
    val gnd = PowerIteration.batch(s, csr, BatchSources, Alpha, Iters)
      .select(col("src"), col("node_id"), round(col("score"), 9).as("score"))
      .localCheckpoint(true)
    val est = ForwardPush.batch(s, csr, BatchSources, Alpha, PushRmax, PushSupersteps)
      .select(col("src"), col("node_id"), round(col("score"), 9).as("score"))
      .where(col("score") =!= 0.0)
      .localCheckpoint(true)
    (gnd, est)
  }

  /** Shared body of `g_modularity`: LPA labels + the three Newman-Q
    * integer moments. See the `g_modularity` entry's scaladoc for the math and
    * the range-honesty bound.
    */
  def modularityRun(s: SparkSession, edges: DataFrame, rounds: Int): DataFrame =
    // standalone arity (specs): run the LPA loop here;
    // the board row passes the session-shared label frame instead
    // (r19 second pass — [[lpaShared]]).
    modularityFrom(edges, LabelProp.run(s, edges, rounds).localCheckpoint(true))

  /** The Newman-Q moment fold of [[modularityRun]] over a
    * pre-computed LPA label frame `(id, label)`.
    */
  private[queries] def modularityFrom(edges: DataFrame,
      lab: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val und = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("dg"))
    val sDd = deg.join(lab.withColumnRenamed("id", "src"), Seq("src"))
      .groupBy(col("label")).agg(sum(col("dg")).as("dc"))
      .agg(sum(expr("dc * dc")).as("s_dd"))
    val sIntra = und
      .join(lab.select(col("id").as("src"), col("label").as("ls")), Seq("src"))
      .join(lab.select(col("id").as("dst"), col("label").as("ld")), Seq("dst"))
      .where(col("ls") === col("ld"))
      .agg(count(lit(1)).as("s_intra"))
    und.agg(count(lit(1)).as("m2"))
      .crossJoin(sIntra).crossJoin(sDd) // three 1-row aggregates
      .selectExpr("m2", "s_intra", "s_dd",
        "CAST(m2 * s_intra - s_dd AS DOUBLE) / " +
          "CAST(m2 * m2 AS DOUBLE) AS q")
  }

  /** Web-scale widening path for `g_assortativity`: the identical plan
    * with the three integer moments folded as DECIMAL(38,0) instead of
    * BIGINT — the spelled-out form of the range-honesty note on the
    * narrow query (1e12 pairs × 1e6-degree hubs overflow int64; a 38-digit
    * decimal holds Σdu·dv to ~1e38). Same two degree joins, same one
    * map-side-combined fold, same single float division; both renderings
    * of each moment are exact integers, so the DOUBLE cast of the
    * numerator/denominator — and therefore `r` — is bit-identical to the
    * narrow query's (spec-pinned by AssortativitySpec). Not a board row:
    * the demo-scale contract is the BIGINT spelling.
    */
  def assortativityWide(s: SparkSession, dir: String): DataFrame = {
    val e = GraphOps.lineitemGraph(s, dir, TriMod)
    val und = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(true)
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("dg"))
    val pairs = adj
      .join(deg.select(col("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("dg").as("dv")), Seq("v"))
      .selectExpr("CAST(du AS DECIMAL(18,0)) AS du",
        "CAST(dv AS DECIMAL(18,0)) AS dv")
    pairs.agg(count(lit(1)).as("m_pairs"),
        sum(expr("du * dv")).cast("decimal(38,0)").as("s_jk"),
        sum(col("du")).cast("decimal(38,0)").as("s_j"),
        sum(expr("du * du")).cast("decimal(38,0)").as("s_jj"))
      .selectExpr("m_pairs", "s_jk", "s_j", "s_jj",
        "CAST(m_pairs * s_jk - s_j * s_j AS DOUBLE) / " +
          "CAST(m_pairs * s_jj - s_j * s_j AS DOUBLE) AS r")
  }

  def oracleSql: Map[String, String] = {
    val multi = PowerIteration.oracleSqlMulti(graphSql, BatchSources, Alpha, Iters)
    val fwd = ForwardPush.oracleSqlMulti(
      graphSql, BatchSources, Alpha, PushRmax, PushSupersteps)
    val targetsValues =
      "SELECT CAST(t AS BIGINT) AS t FROM (VALUES " +
        BatchSources.map(s => s"($s)").mkString(", ") + ") v(t)"
    // Per-src metric CTE bodies over gnd/est live in Metrics.sql (shared
    // with the GOT grid oracle).
    val errSql =
      s"""WITH gnd AS ($multi), est AS ($fwd)
         |SELECT src, round(max_err, 9) AS max_err FROM (${Metrics.sql.perSrcErr})""".stripMargin
    val precSql =
      s"""WITH gnd AS MATERIALIZED ($multi), est AS MATERIALIZED ($fwd),
         |${Metrics.sql.precCtes(TopK)}
         |SELECT src, round(prec, 9) AS prec FROM prec_t""".stripMargin
    val ndcgSql =
      s"""WITH gnd AS MATERIALIZED ($multi), est AS MATERIALIZED ($fwd),
         |${Metrics.sql.ndcgCtes(TopK)}
         |SELECT src, round(ndcg, 9) AS ndcg FROM ndcg_t""".stripMargin
    val summarySql = Metrics.sql.summarySql(multi, fwd, TopK)
    Map(
      "g_metrics_err" -> errSql,
      "g_metrics_precision" -> precSql,
      "g_metrics_ndcg" -> ndcgSql,
      "g_metrics_summary" -> summarySql,
      "g_fwdpush" -> ForwardPush.oracleSqlMulti(
        graphSql, BatchSources, Alpha, PushRmax, PushSupersteps),
      "g_prep_fwdpush" ->
        s"""SELECT node_id, score FROM (${ForwardPush.oracleSqlMulti(
              graphSql, Seq(SingleSource), Alpha, PushRmax, PushSupersteps)})""",
      "g_bwdsearch" -> BackwardSearch.oracleSqlMulti(
        graphSql, targetsValues, Alpha, PushRmax, PushSupersteps),
      "g_bwdsearch_skew" -> BackwardSearch.oracleSqlMulti(
        GraphOps.lineitemFlickrGraphSql(SkewMod, SkewFan),
        "SELECT CAST(t AS BIGINT) AS t FROM (VALUES " +
          SkewTargets.map(t => s"($t)").mkString(", ") + ") v(t)",
        Alpha, SkewRmax, SkewSupersteps),
      // Stochastic rows: the oracle replays the deterministic reduce over
      // the run's materialized walk/push artifacts (paths and ω recorded
      // by the query via VerifyArtifacts when it ran — Verify dumps
      // oracleSql AFTER running the queries, so the SQL embeds this run's
      // actual paths).
      "g_mc_ppr" -> {
        VerifyArtifacts.maybe("dir:mc_walks") match {
          case Some(wdir) =>
            s"SELECT src, node_id, count(*) / ${VerifyArtifacts.get("mc_omega", "1")}.0 AS score\n" +
              s"FROM read_parquet('$wdir/*.parquet') GROUP BY src, node_id"
          case None => VerifyArtifacts.failSql("g_mc_ppr")
        }
      },
      "g_fora_ppr" -> {
        VerifyArtifacts.maybe("dir:fora_whole") match {
          case Some(root) =>
            s"""WITH fst AS (SELECT * FROM read_parquet('$root/st/*.parquet')),
               |fsc AS (SELECT * FROM read_parquet('$root/sc/*.parquet')),
               |fwk AS (SELECT * FROM read_parquet('$root/wk/*.parquet'))
               |SELECT * FROM (${foraWholeBody("fst", "fsc", "fwk")})""".stripMargin
          case None => VerifyArtifacts.failSql("g_fora_ppr")
        }
      },
      "g_fora_topk" -> {
        VerifyArtifacts.maybe("dir:fora_topk") match {
          case Some(root) =>
            s"""WITH tst AS (SELECT * FROM read_parquet('$root/st/*.parquet')),
               |tsc AS (SELECT * FROM read_parquet('$root/sc/*.parquet')),
               |twk AS (SELECT * FROM read_parquet('$root/wk/*.parquet'))
               |SELECT * FROM (${foraTopkBody("tst", "tsc", "twk")})""".stripMargin
          case None => VerifyArtifacts.failSql("g_fora_topk")
        }
      },
      "g_base_allpair" -> Base.oracleSql(
        GraphOps.lineitemGraphSql(BaseMod), Alpha, BaseRmax, BaseSupersteps,
        BaseThreshold),
      "g_base_topk" ->
        s"""SELECT src, dst, score, rk FROM (
           | SELECT src, dst, score,
           |  rank() OVER (PARTITION BY src ORDER BY score DESC) AS rk
           | FROM (${Base.oracleSql(GraphOps.lineitemGraphSql(BaseMod), Alpha,
                BaseRmax, BaseSupersteps, BaseThreshold)}))
           |WHERE rk <= $TopK""".stripMargin,
      "g_edges" -> graphSql,
      // EXACT mutual-reachability SCC: recursive-CTE transitive closure
      // (bounded by the mod-997 node universe — ≤ ~1M closure pairs at
      // any sf), comp = min over {v} ∪ mutual partners.
      "g_scc" ->
        s"""WITH RECURSIVE ed AS MATERIALIZED (
           |  SELECT DISTINCT src, dst FROM
           |  (${GraphOps.lineitemSubgraphSql(Mod, SccQtyMax)})),
           |r AS (SELECT src AS a, dst AS b FROM ed
           |  UNION
           |  SELECT r.a, ed.dst AS b FROM r JOIN ed ON ed.src = r.b),
           |nodes AS (SELECT src AS id FROM ed UNION SELECT dst FROM ed),
           |mut AS (SELECT x.a AS v, x.b AS u FROM r x
           |  JOIN r y ON y.a = x.b AND y.b = x.a)
           |SELECT n.id AS node_id,
           | least(n.id, coalesce(min(m.u), n.id)) AS comp
           |FROM nodes n LEFT JOIN mut m ON m.v = n.id
           |GROUP BY n.id""".stripMargin,
      "g_concomp" -> ConnectedComponents.oracleSql(
        GraphOps.lineitemSubgraphSql(CcMod, CcQtyMax), CcRounds),
      // unrolled Borůvka (any converged Borůvka under the (w, a, b)
      // total order yields THE unique MSF — see MinSpanningForest
      // .oracleSql); labels carry across rounds, so the inner budget of
      // 10 compounds to 200 cumulative jump-accelerated steps over the
      // MsfRounds horizon
      "g_msf" -> graft.graph.MinSpanningForest.oracleSql(
        GraphOps.lineitemSubgraphSql(CcMod, CcQtyMax),
        Hashing.duck.kmvMix(
          s"(a * 1000003 + b) % ${Hashing.P}") + " % 100000",
        MsfRounds, 10),
      "g_label_prop" -> LabelProp.oracleSql(
        GraphOps.lineitemSubgraphSql(CcMod, CcQtyMax), LpRounds),
      // the LPA oracle nests as a parenthesized WITH-subquery; DuckDB's
      // sum() HUGEINT widening is cast back to BIGINT (driver hash parity)
      "g_modularity" ->
        s"""WITH lp AS MATERIALIZED (
           |${LabelProp.oracleSql(GraphOps.lineitemSubgraphSql(CcMod, CcQtyMax), LpRounds)}),
           |e0 AS MATERIALIZED (${GraphOps.lineitemSubgraphSql(CcMod, CcQtyMax)}),
           |und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
           |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0) u),
           |deg AS (SELECT src, count(*) AS dg FROM und GROUP BY src),
           |dc AS (SELECT l.label, sum(d.dg) AS dc FROM deg d
           |  JOIN lp l ON l.id = d.src GROUP BY 1),
           |mom AS (SELECT
           |  (SELECT count(*) FROM und) AS m2,
           |  (SELECT count(*) FROM und u JOIN lp a ON a.id = u.src
           |     JOIN lp b ON b.id = u.dst WHERE a.label = b.label) AS s_intra,
           |  (SELECT CAST(sum(dc * dc) AS BIGINT) FROM dc) AS s_dd)
           |SELECT m2, s_intra, s_dd,
           |  CAST(m2 * s_intra - s_dd AS DOUBLE) /
           |    CAST(m2 * m2 AS DOUBLE) AS q
           |FROM mom""".stripMargin,
      "g_bfs" -> Bfs.oracleSql(graphSql, BatchSources, BfsDepth),
      "g_betweenness" ->
        Betweenness.oracleSql(graphSql, BatchSources, BfsDepth),
      "g_sssp" -> Sssp.oracleSql(
        GraphOps.lineitemWeightedGraphSql(Mod), BatchSources, SsspHops),
      "g_eccentricity" ->
        s"""SELECT source, count(*) AS reached, max(dist) AS ecc
           |FROM (${Bfs.oracleSql(graphSql, BatchSources, BfsDepth)})
           |GROUP BY source""".stripMargin,
      "g_khop" ->
        s"""WITH e AS MATERIALIZED ($graphSql),
           |src AS (SELECT CAST(s AS BIGINT) AS s FROM (VALUES ${BatchSources
              .map(s => s"($s)").mkString(", ")}) v(s)),
           |hop1 AS MATERIALIZED (SELECT DISTINCT src.s, e.dst AS n FROM src
           |  JOIN e ON e.src = src.s),
           |hop2 AS (SELECT DISTINCT h.s, e.dst AS n FROM hop1 h
           |  JOIN e ON e.src = h.n),
           |w2 AS (SELECT DISTINCT s, n FROM (
           |  SELECT s, n FROM hop1 UNION ALL SELECT s, n FROM hop2) u
           |  WHERE n <> s)
           |SELECT h1.s AS source, h1.n_hop1, w.n_within2
           |FROM (SELECT s, count(*) AS n_hop1 FROM hop1 GROUP BY s) h1
           |JOIN (SELECT s, count(*) AS n_within2 FROM w2 GROUP BY s) w
           |  USING (s)""".stripMargin,
      "g_degree" -> s"SELECT src AS id, count(*) AS deg FROM ($graphSql) GROUP BY src",
      "g_power_ppr" -> PowerIteration.oracleSql(graphSql, SingleSource, Alpha, Iters),
      "g_ppr_seedset" ->
        PowerIteration.oracleSqlSeedSet(graphSql, SeedSet, Alpha, Iters),
      "g_pagerank" -> PageRank.oracleSql(graphSql, PrDamping, PrIters),
      "g_katz" -> graft.graph.Katz.oracleSql(graphSql, KatzAlpha, KatzIters),
      "g_hits" -> graft.graph.Hits.oracleSql(graphSql, HitsIters),
      "g_hyperball" ->
        s"""$hyperballOracleChain
           |SELECT node_id, v_zero1, s_scaled1, est1, v_zero2, s_scaled2,
           |  est2 FROM hb""".stripMargin,
      "g_eff_diameter" -> {
        // Replays the ADAPTIVE stop predicate over the full unrolled
        // register chain: per-hop exact integer checksum Σmj, stop hop
        // hs = first flat-chk hop (register fixpoint — registers are
        // monotone) capped at the horizon, rows emitted only to hs,
        // sat/hops disclosed exactly like the Spark side.
        val hops = (1 to EffDiamHops)
          .map(h => s"r$h AS MATERIALIZED (${hllStepSql(s"r${h - 1}")})")
          .mkString(",\n")
        val nfs = (0 to EffDiamHops).map { h =>
          s"""n$h AS MATERIALIZED (SELECT CAST($h AS INT) AS h,
             |  CAST(sum(CAST(round(est * CAST(10000 AS DOUBLE)) AS BIGINT))
             |    AS DOUBLE) / CAST(10000 AS DOUBLE) AS nf,
             |  (SELECT sum(mj) FROM r$h) AS chk
             |  FROM (SELECT id, ${Hashing.hllEstSql}
             |    FROM (${hllFoldSql(s"r$h", "")}) f$h))""".stripMargin
        }.mkString(",\n")
        val union = (0 to EffDiamHops)
          .map(h => s"SELECT h, nf, chk FROM n$h")
          .mkString("\n  UNION ALL ")
        s"""WITH $hllPreambleSql,
           |$hops,
           |$nfs,
           |curve AS ($union),
           |hstop AS (SELECT CAST(coalesce(min(a.h), $EffDiamHops) AS INT)
           |    AS hs
           |  FROM curve a JOIN curve b ON b.h = a.h - 1
           |  WHERE a.chk = b.chk),
           |tot AS (SELECT a.nf AS nfh,
           |    CASE WHEN a.chk = b.chk THEN 1 ELSE 0 END AS satv, hs
           |  FROM curve a, curve b, hstop
           |  WHERE a.h = hs AND b.h = hs - 1)
           |SELECT h, round(nf, 6) AS nf, round(nf / nfh, 6) AS frac,
           |  CAST(CASE WHEN nf >= CAST(0.9 AS DOUBLE) * nfh
           |    THEN 1 ELSE 0 END AS INT) AS reach90,
           |  CAST(satv AS INT) AS sat, CAST(hs AS INT) AS hops
           |FROM curve CROSS JOIN tot WHERE h <= hs""".stripMargin
      },
      "g_harmonic" ->
        s"""$hyperballOracleChain
           |SELECT node_id, est1, est2,
           |  round((est1 - CAST(1 AS DOUBLE))
           |    + (est2 - est1) / CAST(2 AS DOUBLE), 6) AS harmonic
           |FROM hb""".stripMargin,
      "g_closeness" ->
        s"""$hyperballOracleChain
           |SELECT node_id, est1, est2,
           |  ${closenessProj.mkString(",\n  ")}
           |FROM hb""".stripMargin,
      "g_triangles" ->
        s"""WITH e AS MATERIALIZED (${GraphOps.lineitemGraphSql(TriMod)}),
           |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
           |  greatest(src, dst) AS b FROM e),
           |deg AS MATERIALIZED (SELECT id, count(*) AS dg FROM (
           |  SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
           |  GROUP BY id),
           |ori AS MATERIALIZED (SELECT
           |  CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
           |    THEN u.a ELSE u.b END AS u,
           |  CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
           |    THEN u.b ELSE u.a END AS v
           |  FROM und u JOIN deg da ON da.id = u.a JOIN deg db ON db.id = u.b),
           |tri AS (SELECT x.u AS ta, x.v AS tb, y.v AS tc
           |  FROM ori x JOIN ori y ON y.u = x.u AND x.v < y.v
           |  WHERE EXISTS (SELECT 1 FROM und w WHERE w.a = x.v AND w.b = y.v))
           |SELECT node_id, count(*) AS triangles FROM (
           |  SELECT ta AS node_id FROM tri
           |  UNION ALL SELECT tb FROM tri UNION ALL SELECT tc FROM tri)
           |GROUP BY node_id""".stripMargin,
      "g_local_cc" ->
        s"""WITH e AS MATERIALIZED (${GraphOps.lineitemGraphSql(TriMod)}),
           |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
           |  greatest(src, dst) AS b FROM e),
           |deg AS MATERIALIZED (SELECT id, count(*) AS dg FROM (
           |  SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
           |  GROUP BY id),
           |ori AS MATERIALIZED (SELECT
           |  CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
           |    THEN u.a ELSE u.b END AS u,
           |  CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
           |    THEN u.b ELSE u.a END AS v
           |  FROM und u JOIN deg da ON da.id = u.a JOIN deg db ON db.id = u.b),
           |tri AS (SELECT x.u AS ta, x.v AS tb, y.v AS tc
           |  FROM ori x JOIN ori y ON y.u = x.u AND x.v < y.v
           |  WHERE EXISTS (SELECT 1 FROM und w WHERE w.a = x.v AND w.b = y.v)),
           |tcnt AS (SELECT node_id, count(*) AS tri FROM (
           |  SELECT ta AS node_id FROM tri
           |  UNION ALL SELECT tb FROM tri UNION ALL SELECT tc FROM tri)
           |  GROUP BY node_id)
           |SELECT deg.id AS node_id, deg.dg,
           |  CAST(coalesce(tcnt.tri, 0) AS BIGINT) AS tri,
           |  CASE WHEN deg.dg >= 2 THEN
           |    CAST(2 * coalesce(tcnt.tri, 0) AS DOUBLE)
           |      / CAST(deg.dg * (deg.dg - 1) AS DOUBLE)
           |  ELSE CAST(0 AS DOUBLE) END AS cc
           |FROM deg LEFT JOIN tcnt ON tcnt.node_id = deg.id""".stripMargin,
      // sum() HUGEINT widening cast back to BIGINT (driver hash parity)
      "g_clustering" ->
        s"""WITH e AS MATERIALIZED (${GraphOps.lineitemGraphSql(TriMod)}),
           |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
           |  greatest(src, dst) AS b FROM e),
           |deg AS MATERIALIZED (SELECT id, count(*) AS dg FROM (
           |  SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
           |  GROUP BY id),
           |ori AS MATERIALIZED (SELECT
           |  CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
           |    THEN u.a ELSE u.b END AS u,
           |  CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
           |    THEN u.b ELSE u.a END AS v
           |  FROM und u JOIN deg da ON da.id = u.a JOIN deg db ON db.id = u.b),
           |mom AS (SELECT
           |  (SELECT count(*) FROM ori x JOIN ori y ON y.u = x.u AND x.v < y.v
           |     WHERE EXISTS (SELECT 1 FROM und w
           |       WHERE w.a = x.v AND w.b = y.v)) AS n_tri,
           |  (SELECT CAST(sum(dg * (dg - 1)) AS BIGINT) FROM deg) AS s_deg2)
           |SELECT n_tri, s_deg2,
           |  CAST(6 * n_tri AS DOUBLE) / CAST(s_deg2 AS DOUBLE) AS c
           |FROM mom""".stripMargin,
      "g_linkpred_cn" ->
        s"""WITH e AS MATERIALIZED (${GraphOps.lineitemGraphSql(TriMod)}),
           |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
           |  greatest(src, dst) AS b FROM e),
           |adj AS MATERIALIZED (SELECT a AS w, b AS n FROM und
           |  UNION ALL SELECT b AS w, a AS n FROM und),
           |deg AS MATERIALIZED (SELECT w, count(*) AS dg FROM adj GROUP BY w),
           |cap AS MATERIALIZED (SELECT adj.w, adj.n FROM adj
           |  JOIN deg ON deg.w = adj.w AND deg.dg <= $LpCnDegCap),
           |cns AS (SELECT x.n AS u, y.n AS v, count(*) AS cn
           |  FROM cap x JOIN cap y ON y.w = x.w AND x.n < y.n GROUP BY 1, 2)
           |SELECT c.u, c.v, c.cn, du.dg AS du, dv.dg AS dv,
           |  CAST(c.cn AS DOUBLE) / CAST(du.dg + dv.dg - c.cn AS DOUBLE)
           |    AS jaccard
           |FROM cns c
           |JOIN deg du ON du.w = c.u JOIN deg dv ON dv.w = c.v
           |WHERE NOT EXISTS (SELECT 1 FROM und
           |  WHERE und.a = c.u AND und.b = c.v)
           |ORDER BY c.cn DESC, c.u, c.v LIMIT $LpCnTopN""".stripMargin,
      "g_richclub" ->
        s"""WITH e AS MATERIALIZED (${GraphOps.lineitemGraphSql(TriMod)}),
           |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
           |  greatest(src, dst) AS b FROM e),
           |adj AS (SELECT a AS u FROM und UNION ALL SELECT b FROM und),
           |deg AS MATERIALIZED (SELECT u, count(*) AS dg FROM adj
           |  GROUP BY u),
           |nh AS MATERIALIZED (SELECT dg, count(*) AS ncnt FROM deg
           |  GROUP BY dg),
           |em AS MATERIALIZED (SELECT least(x.dg, y.dg) AS m,
           |  count(*) AS ecnt FROM und
           |  JOIN deg x ON x.u = und.a JOIN deg y ON y.u = und.b
           |  GROUP BY 1),
           |ks AS (SELECT unnest([${RichClubKs.mkString(", ")}]) AS k),
           |nk AS (SELECT k, CAST(coalesce(sum(ncnt), 0) AS BIGINT) AS n_k
           |  FROM ks LEFT JOIN nh ON nh.dg > ks.k GROUP BY k),
           |ek AS (SELECT k, CAST(coalesce(sum(ecnt), 0) AS BIGINT) AS e_k
           |  FROM ks LEFT JOIN em ON em.m > ks.k GROUP BY k)
           |SELECT nk.k, n_k, e_k,
           |  CASE WHEN n_k >= 2 THEN CAST(2 * e_k AS DOUBLE)
           |    / CAST(n_k * (n_k - 1) AS DOUBLE)
           |  ELSE CAST(0 AS DOUBLE) END AS phi
           |FROM nk JOIN ek ON ek.k = nk.k""".stripMargin,
      "g_adamic_adar" ->
        s"""WITH e AS MATERIALIZED (${GraphOps.lineitemGraphSql(TriMod)}),
           |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
           |  greatest(src, dst) AS b FROM e),
           |adj AS MATERIALIZED (SELECT a AS w, b AS n FROM und
           |  UNION ALL SELECT b AS w, a AS n FROM und),
           |deg AS MATERIALIZED (SELECT w, count(*) AS dg FROM adj GROUP BY w),
           |cap AS MATERIALIZED (SELECT adj.w, adj.n,
           |  CAST(round(1e6 / ln(CAST(deg.dg AS DOUBLE))) AS BIGINT) AS wt
           |  FROM adj
           |  JOIN deg ON deg.w = adj.w AND deg.dg BETWEEN 2 AND $LpCnDegCap),
           |aa AS (SELECT x.n AS u, y.n AS v, count(*) AS cn,
           |  CAST(CAST(sum(x.wt) AS BIGINT) AS DOUBLE) / 1e6 AS aa
           |  FROM cap x JOIN cap y ON y.w = x.w AND x.n < y.n GROUP BY 1, 2)
           |SELECT u, v, cn, aa FROM aa
           |WHERE NOT EXISTS (SELECT 1 FROM und
           |  WHERE und.a = aa.u AND und.b = aa.v)
           |ORDER BY aa DESC, u, v LIMIT $LpCnTopN""".stripMargin,
      // the LADDER replay: per rung its head / boundary degree / top-N
      // survivors / acceptance bit, then the CASE pick of the first
      // accepted rung — the identical deterministic escalation schedule
      // the Spark side decides driver-side (see [[prefAttach]]).
      "g_pref_attach" -> {
        val rungs = PaLadder.map(_ * PaTopDeg)
        val perRung = rungs.map { r =>
          s"""top$r AS MATERIALIZED (SELECT id, dg FROM deg
             |  ORDER BY dg DESC, id LIMIT $r),
             |bnd$r AS (SELECT coalesce((SELECT dg FROM deg
             |  ORDER BY dg DESC, id LIMIT 1 OFFSET $r), 0) AS dbnd),
             |rk$r AS MATERIALIZED (SELECT x.id AS u, y.id AS v,
             |  x.dg AS du, y.dg AS dv, CAST(x.dg * y.dg AS BIGINT) AS pa
             |  FROM top$r x JOIN top$r y ON x.id < y.id
             |  WHERE NOT EXISTS (SELECT 1 FROM und
             |    WHERE und.a = x.id AND und.b = y.id)
             |  ORDER BY pa DESC, u, v LIMIT $PaTopN),
             |ok$r AS (SELECT (SELECT dbnd FROM bnd$r) = 0
             |  OR ((SELECT count(*) FROM rk$r) = $PaTopN
             |    AND (SELECT min(pa) FROM rk$r) >
             |      (SELECT max(dg) FROM deg) * (SELECT dbnd FROM bnd$r))
             |  AS ok)""".stripMargin
        }.mkString(",\n")
        val pick = "CASE " + rungs.map(r =>
          s"WHEN (SELECT ok FROM ok$r) THEN $r").mkString(" ") + " END"
        val branches = rungs.map(r =>
          s"""SELECT u, v, du, dv, pa, CAST($r AS INT) AS head_deg
             |FROM rk$r WHERE (SELECT hd FROM pick) = $r""".stripMargin)
          .mkString("\nUNION ALL ")
        s"""WITH e AS MATERIALIZED (${GraphOps.lineitemGraphSql(TriMod)}),
           |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
           |  greatest(src, dst) AS b FROM e),
           |deg AS MATERIALIZED (SELECT id, count(*) AS dg FROM (
           |  SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
           |  GROUP BY id),
           |$perRung,
           |pick AS (SELECT $pick AS hd)
           |$branches""".stripMargin
      },
      "g_reciprocity" ->
        s"""WITH e AS MATERIALIZED ($graphSql)
           |SELECT (SELECT count(*) FROM e) AS m_edges,
           |  count(*) AS m_mutual,
           |  CAST(count(*) AS DOUBLE) /
           |    CAST((SELECT count(*) FROM e) AS DOUBLE) AS reciprocity
           |FROM e WHERE EXISTS (SELECT 1 FROM e r
           |  WHERE r.src = e.dst AND r.dst = e.src)""".stripMargin,
      "g_degree_hist" ->
        s"""WITH e AS MATERIALIZED ($graphSql),
           |d AS (SELECT src, count(*) AS deg FROM e GROUP BY src)
           |SELECT CAST(length(bin(deg)) AS BIGINT) AS bucket,
           |  count(*) AS nodes FROM d GROUP BY 1""".stripMargin,
      "g_assortativity" ->
        s"""WITH e AS MATERIALIZED (${GraphOps.lineitemGraphSql(TriMod)}),
           |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
           |  greatest(src, dst) AS b FROM e),
           |adj AS MATERIALIZED (SELECT a AS u, b AS v FROM und
           |  UNION ALL SELECT b AS u, a AS v FROM und),
           |deg AS MATERIALIZED (SELECT u, count(*) AS dg FROM adj GROUP BY u),
           |mom AS (SELECT count(*) AS m_pairs, sum(x.dg * y.dg) AS s_jk,
           |  sum(x.dg) AS s_j, sum(x.dg * x.dg) AS s_jj
           |  FROM adj JOIN deg x ON x.u = adj.u JOIN deg y ON y.u = adj.v)
           |SELECT m_pairs, CAST(s_jk AS BIGINT) AS s_jk,
           |  CAST(s_j AS BIGINT) AS s_j, CAST(s_jj AS BIGINT) AS s_jj,
           |  CAST(m_pairs * s_jk - s_j * s_j AS DOUBLE) /
           |    CAST(m_pairs * s_jj - s_j * s_j AS DOUBLE) AS r
           |FROM mom""".stripMargin,
      "g_knn_degree" ->
        s"""WITH e AS MATERIALIZED (${GraphOps.lineitemGraphSql(TriMod)}),
           |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
           |  greatest(src, dst) AS b FROM e),
           |adj AS MATERIALIZED (SELECT a AS u, b AS v FROM und
           |  UNION ALL SELECT b AS u, a AS v FROM und),
           |deg AS MATERIALIZED (SELECT u, count(*) AS dg FROM adj GROUP BY u),
           |cls AS (SELECT x.dg AS k, count(*) AS n_stubs,
           |  CAST(sum(y.dg) AS BIGINT) AS s_dv
           |  FROM adj JOIN deg x ON x.u = adj.u JOIN deg y ON y.u = adj.v
           |  GROUP BY x.dg)
           |SELECT k, n_stubs, s_dv,
           | round(CAST(s_dv AS DOUBLE) / n_stubs, 6) AS knn
           |FROM cls""".stripMargin,
      "g_kcore" -> {
        // unrolled peel rounds — each round re-derives degrees over the
        // previous survivor edge set and keeps edges with both endpoints
        // alive (MATERIALIZED: DuckDB would otherwise inline each CTE
        // twice per later round, exponentially).
        def degSql(u: String): String =
          s"SELECT id, count(*) AS dg FROM (SELECT a AS id FROM $u " +
            s"UNION ALL SELECT b FROM $u) GROUP BY id"
        val rounds = (1 to KcoreRounds).map { r =>
          s"""d$r AS MATERIALIZED (${degSql(s"u${r - 1}")}),
             |u$r AS MATERIALIZED (SELECT u.a, u.b FROM u${r - 1} u
             |  JOIN d$r x ON x.id = u.a AND x.dg >= $KcoreK
             |  JOIN d$r y ON y.id = u.b AND y.dg >= $KcoreK)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS MATERIALIZED (${GraphOps.lineitemGraphSql(TriMod)}),
           |u0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
           |  greatest(src, dst) AS b FROM e),
           |$rounds
           |SELECT id, count(*) AS core_deg FROM (
           |  SELECT a AS id FROM u$KcoreRounds
           |  UNION ALL SELECT b FROM u$KcoreRounds) GROUP BY id""".stripMargin
      },
      "g_walk_corpus" -> {
        // one CTE per walk step: the positioned-adjacency join with the
        // SAME counter-hash index expression the Spark plan evaluates
        // (walkHashExpr is engine-neutral; kmvMix differs only in xor
        // spelling). A sink truncates its walk via the inner join.
        val seed = (0 until WalksPerSrc).map(w => s"($w)").mkString(", ")
        val steps = (1 to WalkLen).map { t =>
          val idx =
            s"(${Hashing.duck.kmvMix(walkHashExpr(t))}) % outdeg"
          s"""p$t AS MATERIALIZED (SELECT source, walk, a.dst AS node
             |  FROM p${t - 1} s JOIN deg d ON d.src = s.node
             |  JOIN adj a ON a.src = s.node AND a.rn = 1 + ($idx))""".stripMargin
        }.mkString(",\n")
        val emits = (0 to WalkLen).map(t =>
          s"SELECT source, walk, CAST($t AS BIGINT) AS step, node FROM p$t")
          .mkString("\nUNION ALL ")
        s"""WITH e AS MATERIALIZED (${GraphOps.lineitemGraphSql(TriMod)}),
           |adj AS MATERIALIZED (SELECT src, dst, row_number()
           |  OVER (PARTITION BY src ORDER BY dst) AS rn FROM e),
           |deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e
           |  GROUP BY src),
           |p0 AS MATERIALIZED (SELECT d.src AS source,
           |  CAST(w.w AS BIGINT) AS walk, d.src AS node
           |  FROM deg d, (VALUES $seed) w(w)
           |  WHERE d.src % $WalkSrcMod = 0),
           |$steps
           |$emits""".stripMargin
      },
      "g_ppr_batch" -> multi,
      "g_ppr_topk" ->
        s"""SELECT src, node_id, score, rk FROM (
           | SELECT src, node_id, score,
           |  rank() OVER (PARTITION BY src ORDER BY score DESC) AS rk
           | FROM ($multi)) WHERE rk <= $TopK""".stripMargin
    )
  }
}
