package graft.ppr

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.GraphOps

/** The PPR superstep FAMILY, tag-batched (r18 verdict #1; widened to
  * five members in r19 per verdict #6): single-source power iteration
  * (checked against [[PowerIteration.batch]]), seed-set PPR ([[PowerIteration.runSeedSet]]),
  * global PageRank ([[PageRank.run]]), Katz centrality
  * ([[graft.graph.Katz.run]]) and HITS ([[graft.graph.Hits.run]]) are
  * five fixed-schedule single-shuffle loops over the SAME graph that
  * differ only in restart vector, edge weighting and post-sum transform
  * — run separately they pay the per-superstep job floor five times.
  * This object runs all five in ONE family-tagged state frame (the
  * `Embeddings.nswBeamBatch` discipline): every join and groupBy is
  * keyed on `(fam, id)`, the per-family pre-weighted edge lists (each
  * with its own dangling rule folded in as synthetic edges, or none)
  * union into one hash-partitioned adjacency, and one superstep is
  * exactly ONE union-carrier shuffle for the whole family.
  *
  * Per-family slices are expression-for-expression the standalone runs
  * (PprFamilySpec pins slice ≡ standalone on a dangling toy graph AND
  * the bench graph): the `when(fam, …)` branches evaluate the
  * standalone expressions verbatim per row, carriers contribute exact
  * 0.0 terms to the group sums, and a family whose schedule ends before
  * the longest one is FROZEN — excluded from the frontier, its carrier
  * passing `r` through the group sum as the single term, which is
  * exact.
  *
  * The two r19 members ride the same superstep shape:
  *   - Katz is the family's simplest recurrence (x' = 1 + α_K·Aᵀx): its
  *     edges carry w = α_K so the contribution is the shared `r·w`, and
  *     the post-sum transform adds the β = 1 base while active.
  *   - HITS alternates its two half-steps across consecutive supersteps
  *     (a ← Aᵀh on odd, h ← A·a on even): its adjacency holds BOTH
  *     directions tagged `dir ∈ {0, 1}` (every other family's rows
  *     carry dir = −1 = always-on) and each superstep's join admits
  *     only the active direction, so one state vector alternates
  *     hub/auth while the `acc` channel carries the other vector
  *     (carry a = r while active — after the final half-step r holds
  *     the hub and acc the auth chain's last generation). Zero-score
  *     frontier exclusion is exact: a 0.0 addend is the float-sum
  *     identity, and no score in any member can be −0.0 (sums of
  *     non-negative products).
  *
  * Scale shape is unchanged from the standalone runs: size-guarded
  * frontier broadcast (shuffle-free probes on a broadcastable graph, a
  * frontier-only shuffle against the pre-partitioned edge side past the
  * limit), chained per-superstep localCheckpoints, AQE off and shuffle
  * width scoped to the union adjacency for the loop's duration.
  */
object PprFamily {

  /** Family tags — small ints so the shuffle key stays 12 bytes. */
  val FamPower = 0
  val FamSeed = 1
  val FamRank = 2
  val FamKatz = 3
  val FamHits = 4

  /** Run the five-member family in one tagged superstep loop. Returns
    * the RAW final state `(fam INT, id LONG, r DOUBLE, acc DOUBLE)`:
    * for [[FamPower]]/[[FamSeed]] `acc` is the residue accumulator (the
    * reserve is α·acc — [[pprScore]]), for [[FamRank]]/[[FamKatz]] `r`
    * is the score ([[rankScore]]/[[katzScore]]), for [[FamHits]] `r` is
    * the raw hub and `acc` the raw auth chain ([[hitsScores]] L1-
    * normalizes like the standalone run). The returned frame is the
    * final chained checkpoint — slicing it per family re-reads the
    * checkpoint, never the loop.
    */
  def runFamily(
      spark: SparkSession,
      edges: DataFrame,
      source: Long,
      seeds: Seq[Long],
      alpha: Double,
      iters: Int,
      damping: Double,
      prIters: Int,
      katzAlpha: Double,
      katzIters: Int,
      hitsIters: Int,
      broadcastNodeLimit: Long = PowerIteration.BroadcastNodeLimit)
      : DataFrame = {
    import spark.implicits._
    require(seeds.nonEmpty && seeds.distinct.size == seeds.size,
      s"seed set must be non-empty and duplicate-free, got $seeds")
    require(iters >= 1 && prIters >= 1 && katzIters >= 1 && hitsIters >= 1,
      s"need every horizon >= 1, got $iters/$prIters/$katzIters/$hitsIters")
    val sc = spark.sparkContext
    val invK = 1.0 / seeds.size

    def trackedCkpt(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint(true)
      (out, (sc.getPersistentRDDs.keySet -- before).toSet)
    }
    def release(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))

    // ---- shared setup: ONE edge scan feeds all five families --------
    val e = edges.persist()
    val deg = GraphOps.outDegrees(e)
    val m = e.count()
    // the union adjacency holds ~6 weighted copies of the graph (3 for
    // the PPR trio, 1 for Katz, 2 for HITS' direction pair); width
    // scoped to that (same rationale as the standalone runs).
    val p = math.min(sc.defaultParallelism.toLong,
      6L * m / 1000000L + 1L).toInt

    // per-family pre-weighted edges — the standalone runs' expressions
    // verbatim (w = 1/deg for the PPR pair, damping/deg for PageRank,
    // α_K for Katz, 1 for HITS), each family's dangling rule folded in
    // exactly as its standalone setup does.
    val weightedP = e.join(deg, e("src") === deg("id"))
      .select(e("src"), e("dst"), (lit(1.0) / col("deg")).as("w"))
    val danglingP = e.select(col("dst").as("src"))
      .union(Seq(source).toDF("src"))
      .distinct()
      .join(deg, col("src") === deg("id"), "left_anti")
      .select(col("src"), lit(source).as("dst"), lit(1.0).as("w"))
    val danglingS = e.select(col("dst").as("src"))
      .union(seeds.toDF("src"))
      .distinct()
      .join(deg, col("src") === deg("id"), "left_anti")
      .crossJoin(seeds.toDF("dst"))
      .select(col("src"), col("dst"), lit(invK).as("w"))
    val weightedG = e.join(deg, e("src") === deg("id"))
      .select(e("src"), e("dst"), (lit(damping) / col("deg")).as("w"))
    val weightedK = e.select(col("src"), col("dst"),
      lit(katzAlpha).as("w"))
    val hitsFwd = e.select(col("src"), col("dst"), lit(1.0).as("w"),
      lit(0).as("dir"))
    val hitsRev = e.select(col("dst").as("src"), col("src").as("dst"),
      lit(1.0).as("w"), lit(1).as("dir"))

    def tagged(df: DataFrame, fam: Int): DataFrame =
      df.select(lit(fam).as("fam"), col("src"), col("dst"), col("w"),
        lit(-1).as("dir"))
    val (ew, ewIds) = trackedCkpt(
      tagged(weightedP.union(danglingP), FamPower)
        .union(tagged(weightedP.union(danglingS), FamSeed))
        .union(tagged(weightedG, FamRank))
        .union(tagged(weightedK, FamKatz))
        .union(hitsFwd.union(hitsRev)
          .select(lit(FamHits).as("fam"), col("src"), col("dst"),
            col("w"), col("dir")))
        .repartition(p, col("fam"), col("src")))
    e.unpersist()

    // PageRank's node table with the FIXED dangling flag (see
    // [[PageRank.run]]) — also the r0 = 1/n restart vector, and the
    // src ∪ dst node universe Katz and HITS start uniform over.
    val (nodes, nodesIds) = trackedCkpt(
      ew.where(col("fam") === FamRank).select(col("src").as("id"))
        .union(ew.where(col("fam") === FamRank).select(col("dst").as("id")))
        .distinct()
        .join(ew.where(col("fam") === FamRank)
          .select(col("src").as("id")).distinct()
          .withColumn("has_out", lit(1)), Seq("id"), "left")
        .select(col("id"), col("has_out").isNull.as("dang")))
    val n = nodes.count().toDouble
    val base1 = (1.0 - damping) / n
    val small = n <= broadcastNodeLimit
    def sided(df: DataFrame): DataFrame = if (small) broadcast(df) else df

    // merged schedule: the PPR pair pushes at supersteps 1..iters-1, the
    // PageRank recurrence updates at supersteps 1..prIters, Katz at
    // 1..katzIters, HITS half-steps at 1..2·hitsIters; a family past its
    // horizon is FROZEN (pass-through carrier).
    val totalSteps = Seq(iters - 1, prIters, katzIters, 2 * hitsIters).max

    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevCodegen = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      if (p == 1) spark.conf.set("spark.sql.codegen.wholeStage", "false")

      val checkpoint = new graft.operators.CkptChain(sc)
      // unified state (fam, id, r, acc, dang): acc is the PPR pair's
      // residue accumulator (0 for PageRank/Katz, the opposite HITS
      // vector for FamHits), dang is PageRank's fixed flag (false for
      // everyone else).
      var state = checkpoint(
        Seq((FamPower, source, 1.0, 1.0)).toDF("fam", "id", "r", "acc")
          .union(seeds.map(s => (FamSeed, s, invK, invK))
            .toDF("fam", "id", "r", "acc"))
          .withColumn("dang", lit(false))
          .unionByName(nodes.select(lit(FamRank).as("fam"), col("id"),
            (lit(1.0) / n).as("r"), lit(0.0).as("acc"), col("dang")))
          .unionByName(nodes.select(lit(FamKatz).as("fam"), col("id"),
            lit(1.0).as("r"), lit(0.0).as("acc"), lit(false).as("dang")))
          .unionByName(nodes.select(lit(FamHits).as("fam"), col("id"),
            lit(1.0).as("r"), lit(0.0).as("acc"), lit(false).as("dang"))))
      var it = 1
      while (it <= totalSteps) {
        val pActive = it <= iters - 1
        val gActive = it <= prIters
        val kActive = it <= katzIters
        val hActive = it <= 2 * hitsIters
        // HITS direction for this superstep: odd = auth (forward push),
        // even = hub (reverse push).
        val activeDir = (it + 1) % 2
        val frozen: Seq[Int] =
          (if (pActive) Nil else Seq(FamPower, FamSeed)) ++
            (if (gActive) Nil else Seq(FamRank)) ++
            (if (kActive) Nil else Seq(FamKatz)) ++
            (if (hActive) Nil else Seq(FamHits))
        val frontier0 = state.where(col("r") =!= 0.0)
        // frontier columns RENAMED before the join: after superstep 1
        // the state's fam/id attributes descend from ew's, so an
        // ew("fam") === frontier("fam") predicate would be a self-join
        // ambiguity Spark only heals with a warning per superstep.
        val frontier = (if (frozen.isEmpty) frontier0
          else frontier0.where(!col("fam").isin(frozen.map(Int.box): _*)))
          .select(col("fam").as("f_fam"), col("id").as("f_id"), col("r"))
        // the standalone contribution expressions, branch-selected per
        // family: (1-α)·r·w for the PPR pair (which also accumulates),
        // r·w for the rest (PageRank's damping / Katz's α_K already in
        // w; HITS' w = 1 so r·w ≡ r).
        val isPair: Column =
          ew("fam") === FamPower || ew("fam") === FamSeed
        val cExpr: Column = when(isPair,
            lit(1.0 - alpha) * col("r") * col("w"))
          .otherwise(col("r") * col("w"))
        val contrib = ew.join(sided(frontier),
            ew("fam") === col("f_fam") && ew("src") === col("f_id") &&
              (ew("dir") === lit(-1) || ew("dir") === lit(activeDir)))
          .select(ew("fam"), ew("dst").as("id"), cExpr.as("c"),
            when(isPair, cExpr).otherwise(lit(0.0)).as("a"),
            lit(0).as("dg"))
        // carry: frozen families pass r through; HITS while active
        // hands its CURRENT vector to the acc channel (the other
        // half-step's input), everyone else accumulates acc.
        val aCarry: Column =
          if (hActive) when(col("fam") === FamHits, col("r"))
            .otherwise(col("acc"))
          else col("acc")
        val carry = state.select(col("fam"), col("id"),
          (if (frozen.isEmpty) lit(0.0)
           else when(col("fam").isin(frozen.map(Int.box): _*), col("r"))
             .otherwise(lit(0.0))).as("c"),
          aCarry.as("a"), col("dang").cast("int").as("dg"))
        val grouped = contrib.union(carry)
          .groupBy("fam", "id")
          .agg(sum(col("c")).as("p"), sum(col("a")).as("acc"),
            max(col("dg")).as("dgi"))
        // post-sum transforms while the owning family is active: Katz
        // adds its β = 1 base, PageRank its teleport + dangling mass.
        val rKatz: Column =
          if (kActive) when(col("fam") === FamKatz, lit(1.0) + col("p"))
            .otherwise(col("p"))
          else col("p")
        val next =
          if (!gActive) {
            grouped.select(col("fam"), col("id"), rKatz.as("r"),
              col("acc"), (col("dgi") === 1).as("dang"))
          } else {
            // PageRank's dangling mass: a 1-row conditional aggregate
            // over the FamRank slice of the previous state, folded into
            // the base term — plain cross join on the small path (one
            // job per superstep), broadcast at scale (see
            // [[PageRank.run]]).
            val dm0 = state.where(col("fam") === FamRank)
              .agg(coalesce(sum(when(col("dang"), col("r"))), lit(0.0))
                .as("dm"))
            val dm = if (small) dm0 else broadcast(dm0)
            grouped.crossJoin(dm)
              .select(col("fam"), col("id"),
                when(col("fam") === FamRank,
                  lit(base1) + lit(damping) * col("dm") / n + col("p"))
                  .otherwise(rKatz).as("r"),
                col("acc"), (col("dgi") === 1).as("dang"))
          }
        state = checkpoint(next)
        it += 1
      }
      state.select(col("fam"), col("id"), col("r"), col("acc"))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.codegen.wholeStage", prevCodegen)
      release(ewIds)
      release(nodesIds)
    }
  }

  /** [[FamPower]]/[[FamSeed]] finish: reserve = α·acc (the standalone
    * runs' final projection).
    */
  def pprScore(state: DataFrame, fam: Int, alpha: Double): DataFrame =
    state.where(col("fam") === fam)
      .select(col("id").as("node_id"), (lit(alpha) * col("acc")).as("score"))

  /** [[FamRank]] finish: the recurrence state IS the score. */
  def rankScore(state: DataFrame): DataFrame =
    state.where(col("fam") === FamRank)
      .select(col("id").as("node_id"), col("r").as("score"))

  /** [[FamKatz]] finish: the recurrence state IS the centrality. */
  def katzScore(state: DataFrame): DataFrame =
    state.where(col("fam") === FamKatz)
      .select(col("id").as("node_id"), col("r").as("katz"))

  /** [[FamHits]] finish: single trailing L1 normalization over the raw
    * hub (r) and auth (acc) chains — [[graft.graph.Hits.run]]'s exact
    * trailing projection (two 1-row totals cross-joined in).
    */
  def hitsScores(state: DataFrame): DataFrame = {
    val h = state.where(col("fam") === FamHits)
    val totH = h.agg(sum(col("r")).as("th"))
    val totA = h.agg(sum(col("acc")).as("ta"))
    h.crossJoin(totH).crossJoin(totA)
      .select(col("id").as("node_id"),
        (col("r") / col("th")).as("hub"),
        (col("acc") / col("ta")).as("auth"))
  }
}
