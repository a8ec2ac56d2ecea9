package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{TopKFunctions, VectorFunctions}

/** Similarity search + embedding near-dup over the `embeddings` table
  * (beyond-reference roadmap, SURVEY §7.5): brute-force cosine top-k as
  * the exact baseline, a multi-table sign-bit LSH variant as the ANN
  * scale path, and LSH-bucketed cosine near-dup pair detection.
  *
  * Scale shape: the ANN query side is broadcast (queries << corpus); the
  * corpus side streams through a single projection — no shuffle until the
  * per-query top-k. LSH replaces the full cross product with an equi-join
  * on (table, bucket) — candidate count drops from |Q|·N to
  * |Q|·N·T/2^bits on balanced buckets, and recall compounds across the T
  * independent tables (1-(1-p^bits)^T for per-bit agreement p). The
  * near-dup variant self-joins the bucketed corpus the same way: at 100 TB
  * the shuffle key is the (table, bucket) pair and within-bucket pair
  * counts stay bounded by N²·T/2^bits, never a global cross join.
  *
  * The dot product folds left-to-right in BOTH engines (Spark `aggregate`
  * vs DuckDB `list_reduce` with a prepended 0-accumulator), so the
  * rounded cosine matches bit-for-bit.
  */
object Embeddings {

  val NumQueries = 20 // query vectors: vec_id < NumQueries
  val TopK = 10

  /** `e_range_search` cosine radius: chosen so every query matches at
    * sf0.001 (67 pairs) and sf0.01 (89) on the synthetic corpus — the
    * threshold regime of the same scan `e_cosine_topk` ranks.
    */
  val RangeTau = 0.3
  val LshBits = 8
  /** Independent sign-LSH tables; table t hashes dims t·8+1 .. t·8+8. */
  val LshTables = 4
  val LshTopK = 5
  /** Exact-verify cosine threshold for `e_embed_dups`. */
  val DupCosThreshold = 0.3

  /** `e_hard_negatives`: negatives kept per query, and the near-dup
    * ceiling — a candidate at cosine ≥ this is a probable duplicate /
    * mislabeled positive, not a useful hard negative (the standard
    * mining guard; a no-op on this random-vector corpus, where cosines
    * stay far below it, but load-bearing on real embeddings).
    */
  val HnK = 5
  val HnDupMax = 0.95

  /** `e_cluster_balance`: vectors kept per semantic cell. */
  val CbPerCell = 25

  /** IVF config: cells = nearest of [[IvfCentroids]] fixed centroid
    * vectors (deterministic "training": the corpus vectors with
    * `vec_id ∈ [NumQueries, NumQueries+C)` stand in for k-means centers —
    * same index structure, reproducible across engines); queries probe the
    * [[IvfProbes]] nearest cells.
    */
  val IvfCentroids = 16
  val IvfProbes = 4

  /** `e_ivf_probe_curve` axis: the recall-vs-probe-count sweep, ending
    * at the full [[IvfCentroids]] scan (recall 1 by construction — the
    * curve's sanity anchor). The grid treatment the centrality and PPR
    * families have, applied to the ANN family's accuracy/cost knob.
    */
  val IvfProbeAxis: Seq[Int] = Seq(1, 2, 4, 8, 16)
  val IvfTopK = 5

  /** kNN-graph PPR composition (SURVEY §7.5): out-degree, PPR sources and
    * iteration count for `e_knn_ppr`.
    */
  val KnnK = 3
  val KnnAlpha = 0.15
  val KnnIters = 15
  val KnnSources: Seq[Long] = Seq(0L, 1L, 2L)

  /** `e_nsw_search` step horizon: greedy routing on the NswM-out kNN
    * graph converges (best neighbor no longer beats the current node) in
    * well under 8 hops on every test corpus; walks still improving at
    * the horizon report their fixed-horizon state — both engines replay
    * the identical stay-on-no-improvement schedule, so the bound is part
    * of the semantics like every other unrolled horizon.
    */
  val NswSteps = 8

  /** NSW routing-graph out-degree — a SEPARATE knob from [[KnnK]]: the
    * r16 recall curve measured the KnnK = 3 graph as weakly navigable
    * (recall@5 = 0.06–0.10 even at ef = 4), and real NSW/HNSW base
    * layers use M ≈ 8–16 neighbors (Malkov & Yashunin 2018 §4).
    * `e_knn_ppr`/`e_mutual_knn` keep their own K.
    */
  val NswM = 8

  /** NN-Descent refinement rounds for the NSW graph (Dong, Moses &
    * Li 2011): the r17 measurement that forced this — beam search over
    * the raw LSH-seeded M = 8 graph read recall@5(ef=4) = 0.12 while
    * the IDENTICAL beam over the exact brute-force M-NN graph read
    * 1.00 — the sign-bucket candidates miss true neighbors, and graph
    * quality, not corpus geometry or beam budget, was the whole gap.
    * Each round re-scores every node against its neighbors ∪
    * neighbors-of-neighbors on the CURRENT graph and keeps the top M:
    * all equi-joins, O(|V|·(2M)²) scored pairs per round — never
    * all-pairs, the standard at-scale kNN-graph construction. Edge
    * recall vs the exact M-NN graph was still climbing at the r17
    * 3-round budget (0.13 → 0.30 → 0.49 → 0.63/round), so r18 extended
    * the schedule to 5 rounds per the verdict: measured recall@5 moved
    * 0.58 → 0.79 (ef=4) and 0.85 → 0.90 (ef=16) at sf0.001, and
    * 0.87 → 0.92 (ef=16) at sf0.01 — past the verdict's ≥ 0.9 target.
    * The remaining residual vs the exact graph is measured CONVERGENCE,
    * not a defect — NN-descent converges slowly on this near-iid
    * synthetic corpus because neighbor-of-neighbor correlation is weak —
    * and NswRecallSpec pins all three measurements (exact-graph routing
    * ≥ 0.9, refined ≥ raw + 0.2, refined ≤ exact).
    *
    * AT-SCALE honesty (r18, BENCH_OCTAVE): on an 80k-vector corpus the
    * same budget reads recall@5(ef=16) = 0.12, and the octave's
    * deep-horizon probe (32 beam hops instead of 8) reads 0.13 — FLAT,
    * so the cap is the graph, not the beam: the per-round candidate
    * budget |V|·(2M)² covers ~51 % of a 500-vector space per round but
    * 0.3 % of 80k, and the near-iid corpus (cosines concentrate; no
    * cluster structure) gives the descent nothing local to climb. Real
    * LLM embedding corpora are clustered — exactly the structure
    * NN-descent exploits (Dong et al. report 90 %+ edge recall at
    * millions of points) — so the scale story is corpus-geometry-bound
    * here, disclosed rather than hidden behind the small-scale number.
    */
  val NswDescentRounds = 5

  /** Top-[[NswM]] cut of a `(v, nbr)` candidate set by exact cosine —
    * the scoring block of [[knnScoredEdges]], reused by every
    * NN-descent round. Embeddings join the candidate list on id keys;
    * the window is bounded by the candidate count per node.
    */
  private def topMByCos(s: SparkSession, dir: String,
      cand: DataFrame): DataFrame = {
    val emb = embDf(s, dir)
    val scored = cand
      .join(emb.selectExpr("vec_id AS v", "v AS qv", "nrm AS qnrm"), Seq("v"))
      .join(emb.selectExpr("vec_id", "v AS vv", "nrm AS vnrm")
        .withColumnRenamed("vec_id", "nbr"), Seq("nbr"))
      .selectExpr("v", "nbr",
        "round(vec_dot(qv, vv) / (qnrm * vnrm), 6) AS cos")
    val wn = Window.partitionBy(col("v"))
      .orderBy(col("cos").desc, col("nbr").asc)
    scored.withColumn("rn", row_number().over(wn))
      .where(col("rn") <= NswM)
      .select(col("v").as("src"), col("nbr").as("dst"))
  }

  /** The NSW routing graph fitted ONCE per (session, source dir) — the
    * [[pqModelCache]] serving discipline: a real NSW index builds once
    * and answers many queries, so `e_nsw_search` / `e_nsw_recall` time
    * the MARGINAL routing cost given a warm graph (the descent build
    * is priced separately by [[nswGraphBuild]]). Checkpoint blocks are
    * pinned via SessionPins and released by [[invalidateModels]] on
    * re-ingest, like every other model cache.
    */
  private val nswCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  private[graft] def nswGraph(s: SparkSession, dir: String): DataFrame =
    nswCache.getOrElseUpdate((s, dir), {
      val sc = s.sparkContext
      val before = sc.getPersistentRDDs.keySet
      // the build returns an EAGERLY checkpointed graph and has already
      // released its per-round intermediates, so the diff here pins only
      // the final graph's blocks (not the descent scaffolding).
      val g = nswGraphBuild(s, dir)
      recordPins(s, dir, (sc.getPersistentRDDs.keySet -- before).toSet)
      g
    })

  /** The NSW routing-graph BUILD: LSH-seeded [[NswM]]-out kNN edges
    * refined by [[NswDescentRounds]] NN-descent rounds, then SYMMETRIZED
    * (NSW links are undirected in the original design; the reverse edges
    * give weakly-in-linked regions an in-path from the entry). Per
    * round the candidate set is neighbors ∪ neighbors-of-neighbors on
    * the symmetrized current graph — id-key equi-joins and one distinct
    * on 16-byte pairs; embeddings only join at the scoring cut.
    */
  private[graft] def nswGraphBuild(s: SparkSession, dir: String): DataFrame = {
    val sc = s.sparkContext
    var cur = knnScoredEdges(s, dir, NswM).select(col("src"), col("dst"))
    // each round's `und` checkpoint is scaffolding: once the NEXT eager
    // checkpoint materializes everything derived from it, release its
    // blocks — only the final graph may outlive the build (the r17 ADVICE
    // finding: recordPins was session-pinning three dead intermediates).
    var prevUndIds: Set[Int] = Set.empty
    def releasePrev(): Unit = {
      prevUndIds.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      prevUndIds = Set.empty
    }
    for (_ <- 1 to NswDescentRounds) {
      val before = sc.getPersistentRDDs.keySet
      val und = cur.unionAll(
          cur.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint(true) // both sides of the hop-2 self-join
      val undIds = (sc.getPersistentRDDs.keySet -- before).toSet
      releasePrev() // the new checkpoint no longer depends on it
      prevUndIds = undIds
      val hop2 = und.as("a").join(und.as("b"),
          col("a.dst") === col("b.src"))
        .select(col("a.src").as("v"), col("b.dst").as("nbr"))
      val cand = und.select(col("src").as("v"), col("dst").as("nbr"))
        .unionAll(hop2)
        .where(col("v") =!= col("nbr"))
        .distinct()
      cur = topMByCos(s, dir, cand)
    }
    val out = cur
      .unionAll(cur.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true) // eager: the last round's und can then go
    releasePrev()
    out
  }

  /** `e_nsw_recall` beam-width axis — the NSW analogue of the IVF
    * [[IvfProbeAxis]]: per hop the EF best nodes seen so far drive the
    * expansion (level-synchronous beam; ef = 1 IS the greedy
    * `e_nsw_search` exploration, pinned in NswRecallSpec), and the
    * answer is the top-[[IvfTopK]] of everything VISITED — so recall@k
    * vs the exact cosine ground truth prices the ef knob the same way
    * the probe curve prices nprobe. The axis is geometric (×4 per
    * point, like the probe curve's ×2): on the r16 graph adjacent ef
    * points (2 vs 4) were indistinguishable, while the wide sweep
    * separates the beam-budget regimes on the descent-refined graph
    * (0.37 / 0.79 / 0.90 at sf0.001 — see [[NswDescentRounds]]).
    */
  val NswEfAxis: Seq[Int] = Seq(1, 4, 16)

  /** k-means (Lloyd's) config for `e_kmeans`: KmK clusters, deterministic
    * init (corpus vectors 0..KmK-1), KmIters assign+update rounds. Vector
    * dimensionality of the `embeddings` table.
    */
  val KmK = 8

  /** `e_pca_power` power-iteration rounds. The quantized-code Gram is
    * dominated by the all-positive mean direction (a Perron-style
    * spectral gap), so 16 rounds are far past convergence; determinism
    * — identical fold spellings on both engines — is what the count
    * actually pins.
    */
  val PcaIters = 16
  val KmIters = 3
  val Dims = 64

  /** `e_ood_score` report size: the N vectors farthest from their own
    * k-means centroid (the corpus-level OOD shortlist).
    */
  val OodTopN = 64

  /** Cluster-scoped semantic-dedup cosine threshold for `e_semdedup`
    * (6-dp-rounded cosine ≥ threshold within a k-means cell = duplicate).
    */
  val SemDupThreshold = 0.3

  /** `e_semdedup` scale guard: max DISTINCT vectors per k-means cell
    * before the query fails loudly — in-cell pairing is quadratic in this
    * number by algorithm design (SemDeDup), and k is the documented knob
    * that bounds it; a silent mega-cell must not reintroduce the
    * all-pairs blowup. Exact duplicates don't count against the bound
    * (they are pre-collapsed, see [[semDedup]]).
    */
  val MaxSemCellDistinct = 32768L

  /** Binary-quantization search (`e_bq_search`): each 64-dim vector
    * compresses to its 64 sign bits, stored as two BIGINT halves (32 bits
    * each — a 64-bit pack would need bit 63, which overflows a signed
    * BIGINT literal in SQL). The query scans CODES only (16 bytes/vector,
    * a 64× compression of the double vectors), shortlists
    * [[BqShortlist]] candidates per query by Hamming distance, then
    * reranks the survivors by exact cosine — the modern
    * binary-embedding retrieval shape.
    */
  val BqShortlist = 30
  val BqTopK = 10

  /** `e_bq_search` scale guard: max query-code rows the shortlist pass
    * may BROADCAST before the query fails loudly — the query side rides a
    * broadcast into every corpus-scan task by design (that is the
    * scan-codes-only shape), and each code row is ~24 bytes, so 2²⁰ rows
    * ≈ 24 MB is a sane executor-memory ceiling; past it the right plan is
    * a bucketed equi-join on a coarse code prefix, not a bigger
    * broadcast. Same loud-failure discipline as [[MaxSemCellDistinct]].
    */
  val MaxBqQueryBroadcast = 1048576L

  /** MMR-diversified retrieval (`e_mmr_rerank`): from a
    * [[MmrShortlist]]-candidate shortlist per query, greedily select
    * [[MmrK]] results maximizing λ·relevance − (1−λ)·max-similarity-to-
    * already-selected (Carbonell & Goldstein's maximal marginal
    * relevance). λ and 1−λ are BOTH literal constants so the two engines
    * evaluate the identical IEEE expression (never 1.0-λ at runtime).
    */
  val MmrLambda = 0.7
  val MmrOneMinusLambda = 0.3
  val MmrShortlist = 20
  val MmrK = 5

  /** Two-stage truncated-dimension retrieval (`e_prefix_rerank`): the
    * shortlist pass scores only the first [[PrefixDims]] dims and keeps
    * [[PrefixShortlist]] candidates per query for the exact full-dim
    * rerank.
    */
  val PrefixDims = 16
  val PrefixShortlist = 30

  /** `e_prefix_recall` truncation ladder — the Matryoshka curve: how
    * much of the exact top-k a d-dim prefix scan recovers, per d.
    */
  val PrefixRecallDims = Seq(8, 16, 32)

  /** Product-quantization layout for `e_pq`: [[PqM]] subspaces of
    * `Dims / PqM` dims, [[KmK]] codewords each (codebook = KmK^PqM
    * composite cells from 4×8 centroids), [[PqIters]] Lloyd rounds per
    * subspace — same deterministic-init/rounded-centroid discipline as
    * `e_kmeans`, run independently per dimension block.
    */
  val PqM = 4
  val PqIters = 2

  /** `qv · v` via the native codegen'd [[graft.functions.VecDot]] kernel —
    * same left-to-right double fold as the former
    * `aggregate(zip_with(...))` higher-order formulation (and as DuckDB's
    * `list_reduce` oracle), but fused into whole-stage codegen with no
    * per-row intermediate array.
    */
  private val dotExpr = "vec_dot(qv, v)"

  /** DuckDB twin of [[pqModel]] — the codebook/assignment CTE chain,
    * ending in the code table (`search = false`) or the ADC LUT-sum
    * top-k (`search = true`). With `ivf = true` the ADC scan is
    * restricted to each query's IVF-probed cells (the [[ivfParts]]
    * structure, replayed as `i*`-prefixed CTEs) — the `e_ivfpq_search`
    * twin.
    */
  private def pqOracleSql(search: Boolean, ivf: Boolean = false): String = {
    val ds = Dims / PqM
    def fold(body: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, ${ds + 1}), i -> $body)), (a, x) -> a + x)"
    val d2 = s"${fold("e.v[i] * e.v[i]")} - 2 * ${fold("e.v[i] * c.cv[i]")}" +
      s" + ${fold("c.cv[i] * c.cv[i]")}"
    val cvList = (1 to ds).map(i => s"round(avg(e.v[$i]), 6)")
      .mkString("[", ", ", "]")
    val sb = new StringBuilder
    sb ++= "WITH embf AS MATERIALIZED (SELECT vec_id, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vf FROM embeddings),\n"
    if (ivf) {
      // IVF coarse-quantizer twin of ivfParts over the full 64-dim
      // vectors: same fold order as vec_dot, same (cc DESC, cid ASC)
      // tie-breaks.
      val dotEC = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(range(1, 65), i -> e.vf[i] * c.cv[i])), (a, x) -> a + x)"
      sb ++= "iembn AS MATERIALIZED (SELECT vec_id, vf, " +
        "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(vf, x -> x * x)), (a, x) -> a + x)) AS nrm FROM embf),\n"
      sb ++= s"icent AS (SELECT CAST(vec_id - $NumQueries AS INT) AS cid, " +
        "vf AS cv, nrm AS cnrm FROM iembn WHERE vec_id BETWEEN " +
        s"$NumQueries AND ${NumQueries + IvfCentroids - 1}),\n"
      sb ++= "iscored AS MATERIALIZED (SELECT e.vec_id, c.cid, " +
        s"$dotEC / (e.nrm * c.cnrm) AS cc FROM iembn e CROSS JOIN icent c),\n"
      sb ++= "iassign AS (SELECT vec_id, cid AS cell FROM (" +
        "SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id " +
        "ORDER BY cc DESC, cid ASC) AS rn FROM iscored) WHERE rn = 1),\n"
      sb ++= s"iprobe AS (SELECT vec_id AS q_id, cid AS cell FROM (" +
        "SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id " +
        s"ORDER BY cc DESC, cid ASC) AS rn FROM iscored WHERE vec_id < $NumQueries) " +
        s"WHERE rn <= $IvfProbes),\n"
      sb ++= "icand AS (SELECT p.q_id, a.vec_id FROM iprobe p " +
        "JOIN iassign a ON a.cell = p.cell WHERE a.vec_id <> p.q_id),\n"
    }
    for (j <- 0 until PqM) {
      sb ++= s"emb$j AS MATERIALIZED (SELECT vec_id, " +
        s"vf[${j * ds + 1}:${(j + 1) * ds}] AS v FROM embf),\n"
      sb ++= s"cent${j}_0 AS MATERIALIZED (SELECT CAST(vec_id AS INT) AS cid, " +
        s"v AS cv FROM emb$j WHERE vec_id < $KmK),\n"
      for (i <- 0 until PqIters) {
        sb ++= s"as${j}_$i AS MATERIALIZED (SELECT vec_id, cid AS cell FROM (" +
          s"SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
          s"ORDER BY $d2 ASC, c.cid ASC) AS rn FROM emb$j e CROSS JOIN cent${j}_$i c) " +
          "WHERE rn = 1),\n"
        sb ++= s"cent${j}_${i + 1} AS MATERIALIZED (SELECT a.cell AS cid, " +
          s"$cvList AS cv FROM as${j}_$i a JOIN emb$j e ON e.vec_id = a.vec_id " +
          "GROUP BY a.cell),\n"
      }
      sb ++= s"fin$j AS MATERIALIZED (SELECT vec_id, cid AS code$j FROM (" +
        s"SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
        s"ORDER BY $d2 ASC, c.cid ASC) AS rn FROM emb$j e CROSS JOIN cent${j}_$PqIters c) " +
        "WHERE rn = 1),\n"
    }
    val codesFrom = "FROM fin0 " +
      (1 until PqM).map(j => s"JOIN fin$j USING (vec_id)").mkString(" ")
    if (!search) {
      sb.setLength(sb.length - 2)
      sb ++= "\nSELECT vec_id, " +
        (0 until PqM).map(j => s"code$j").mkString(", ") + " " + codesFrom
    } else {
      sb ++= "codes AS MATERIALIZED (SELECT vec_id, " +
        (0 until PqM).map(j => s"code$j").mkString(", ") + s" $codesFrom),\n"
      for (j <- 0 until PqM) {
        sb ++= s"lut$j AS MATERIALIZED (SELECT e.q_id, c.cid, $d2 AS d FROM (" +
          s"SELECT vec_id AS q_id, vf[${j * ds + 1}:${(j + 1) * ds}] AS v " +
          s"FROM embf WHERE vec_id < $NumQueries) e " +
          s"CROSS JOIN cent${j}_$PqIters c),\n"
      }
      sb ++= "sc AS (SELECT l0.q_id, v.vec_id, round(" +
        (0 until PqM).map(j => s"l$j.d").mkString(" + ") +
        ", 6) AS dist FROM codes v JOIN lut0 l0 ON l0.cid = v.code0 " +
        (1 until PqM).map(j =>
          s"JOIN lut$j l$j ON l$j.q_id = l0.q_id AND l$j.cid = v.code$j")
          .mkString(" ") +
        (if (ivf) " JOIN icand ic ON ic.q_id = l0.q_id AND ic.vec_id = v.vec_id"
         else "") + ")\n"
      sb ++= "SELECT q_id, vec_id, dist, rk FROM (SELECT q_id, vec_id, dist, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY dist ASC, vec_id ASC) " +
        s"AS rk FROM sc) WHERE rk <= $TopK"
    }
    sb.toString
  }

  /** Session-scoped memo of the fitted PQ model: the five PQ rows
    * (`e_pq`, `e_pq_search`, `e_pq_recall`, `e_ivfpq_search`,
    * `e_ivfpq_recall`) all read the SAME codebooks and code table, and
    * a real serving index fits once and answers many queries — so the
    * fit is paid once per (session, source dir) and the checkpointed
    * result is reused (the [[graft.graph.GraphOps]] CSR snapshot-cache
    * discipline: sound because the test tables are immutable inputs; a
    * live-table deployment would key by snapshot version). Reuse also
    * removes any possibility of drift between the rows' models.
    */
  private val pqModelCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, Seq[DataFrame])]

  /** RDD ids backing each cached model — what [[invalidateModels]] must
    * unpin when a (session, dir) entry is dropped.
    */
  private val modelPins = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Set[Int]]

  private def recordPins(s: SparkSession, dir: String,
      ids: Iterable[Int]): Unit = {
    graft.operators.SessionPins.pin(s.sparkContext, ids)
    modelPins.updateWith((s, dir))(old =>
      Some(old.getOrElse(Set.empty) ++ ids))
  }

  /** Drop the fitted PQ/k-means models for (session, dir) and release
    * their pinned checkpoint blocks — the re-ingest hook: when a source
    * dir's tables are rewritten mid-session, calling this forces the
    * next consumer row to REFIT instead of serving the stale model
    * (cached models are otherwise sound only because the test tables
    * are immutable; a live-table deployment would key by snapshot
    * version).
    */
  def invalidateModels(s: SparkSession, dir: String): Unit = {
    pqModelCache.remove((s, dir))
    kmCache.remove((s, dir))
    nswCache.remove((s, dir))
    modelPins.remove((s, dir)).foreach(ids =>
      graft.operators.SessionPins.unpin(s.sparkContext, ids))
    resultCache.keys.filter(k => k._1 == s && k._2 == dir)
      .foreach { k =>
        resultCache.remove(k)
        resultPins.remove(k).foreach(ids =>
          graft.operators.SessionPins.unpin(s.sparkContext, ids))
      }
    // one re-ingest call clears EVERY session-fit family for the dir —
    // the graph-side wedge cache included (r18 review finding: lpShared
    // had no invalidation path and would serve stale frames forever).
    Graph.invalidateModels(s, dir)
  }

  /** Session-served row results (r19 optimization): the exact-cosine
    * ground truth and the five index SEARCH results are each consumed
    * by one or more RECALL rows via `queries(name)` — before this cache
    * every recall row re-ran its index search AND the brute-force
    * ground-truth scan from scratch (8 ground-truth recomputes + 5
    * search recomputes per board; guide §2.4 — the redundant pass is
    * the cost). The first consumer materializes the frame (one eager
    * checkpoint, pinned via SessionPins); every later consumer slices
    * it — the same serving economics as the model caches (an index
    * answers once, every evaluator reads the same answer). Internal
    * scaffolding a build creates is released once the final frame
    * materializes; blocks belonging to OTHER session fits (a model the
    * build triggered) are recognized via SessionPins and left alone.
    * Invalidation rides [[invalidateModels]].
    */
  private val resultCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), DataFrame]
  private val resultPins = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), Set[Int]]

  private def servedResult(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    resultCache.getOrElseUpdate((s, dir, name), {
      val sc = s.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val lazyDf = build
      val mid = sc.getPersistentRDDs.keySet
      val out = lazyDf.localCheckpoint(true)
      val outIds = (sc.getPersistentRDDs.keySet -- mid).toSet
      val pinned = graft.operators.SessionPins.pinned(sc)
      (mid -- before).filterNot(pinned.contains).foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      graft.operators.SessionPins.pin(sc, outIds)
      resultPins.put((s, dir, name), outIds)
      out
    })

  /** Product-quantization model shared by the PQ rows (via
    * [[pqModelCache]]): the per-vector code table
    * `(vec_id, code0..code{PqM-1})` — eagerly checkpointed — and each
    * subspace's FINAL codebook `(cid, cv)`. Per subspace: deterministic
    * init (vectors 0..KmK-1's slices), [[PqIters]] Lloyd rounds with
    * 6-dp-rounded centroids (the e_kmeans cross-engine float discipline),
    * then the final assignment.
    */
  private def pqModel(s: SparkSession,
      dir: String): (DataFrame, Seq[DataFrame]) =
    pqModelCache.getOrElseUpdate((s, dir), pqFit(s, dir))

  private def pqFit(s: SparkSession,
      dir: String): (DataFrame, Seq[DataFrame]) = {
    VectorFunctions.register(s)
    val sc = s.sparkContext
    val ds = Dims / PqM
    val d2Expr = "vec_dot(v, v) - 2 * vec_dot(v, cv) + vec_dot(cv, cv)"
    val cvArray = s"array(${(1 to ds).map(i => s"c$i").mkString(", ")}) AS cv"
    def tracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint(true)
      (out, (sc.getPersistentRDDs.keySet -- before).toSet)
    }
    def subspace(j: Int): (DataFrame, DataFrame, Set[Int], Set[Int]) = {
      val (embj, embjIds) = tracked(embDf(s, dir)
        .selectExpr("vec_id", s"slice(v, ${j * ds + 1}, $ds) AS v"))
      // scanned every round ^. Same Lloyd checkpoint discipline as
      // e_kmeans: each round's KmK-row codebook is eagerly checkpointed
      // so the next round (and the final assignment) never re-derives
      // prior rounds' crossJoin+agg lineage.
      val ckpt = new graft.operators.CkptChain(sc)
      var cent = ckpt(embj.where(col("vec_id") < KmK)
        .selectExpr("CAST(vec_id AS INT) AS cid", "v AS cv"))
      def assign(c: DataFrame): DataFrame =
        embj.crossJoin(broadcast(c))
          .selectExpr("vec_id", "cid", d2Expr + " AS d2")
          .groupBy("vec_id")
          .agg(min(struct(col("d2"), col("cid"))).as("m"))
          .selectExpr("vec_id", s"m.cid AS code$j")
      for (_ <- 1 to PqIters) {
        val avgs = (1 to ds)
          .map(i => round(avg(element_at(col("v"), i)), 6).as(s"c$i"))
        cent = ckpt(assign(cent)
          .withColumnRenamed(s"code$j", "cell")
          .join(embj, Seq("vec_id"))
          .groupBy(col("cell").as("cid"))
          .agg(avgs.head, avgs.tail: _*)
          .selectExpr("cid", cvArray))
      }
      (assign(cent), cent.selectExpr(s"cid AS cid$j", "cv"),
        embjIds, ckpt.liveIds)
    }
    val subs = (0 until PqM).map(subspace)
    // one checkpointed code table: every consumer (ADC LUT joins, the
    // recall compositions) re-reads it instead of re-deriving 4 subspace
    // assignments' crossJoin+agg lineage
    val (codes, codeIds) =
      tracked(subs.map(_._1).reduce(_.join(_, Seq("vec_id"))))
    // codes are materialized — the per-subspace input slices are dead;
    // the MODEL (codes + final codebooks) outlives this call via the
    // session cache, so its ids are exempted from the harnesses'
    // per-row reap.
    subs.foreach(_._3.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(false))))
    recordPins(s, dir, codeIds ++ subs.flatMap(_._4))
    (codes, subs.map(_._2))
  }

  /** Final Lloyd cell assignment `(vec_id, cell)` shared by `e_kmeans` /
    * `e_semdedup`. emb is scanned twice per round (assign + update) and
    * once more by the final assignment — materialize it once. Each
    * round's k-row centroid table is eagerly checkpointed through
    * CkptChain so round N's plan does not nest round N-1's crossJoin+agg
    * lineage (and the final assign(cent) is a single broadcast join, not
    * a re-derivation of every round).
    */
  private def kmModel(s: SparkSession, dir: String): DataFrame =
    kmFit(s, dir).select(col("vec_id"), col("cell"))

  /** Final Lloyd's assignment WITH the winning squared distance —
    * `(vec_id, cell, d2)` — shared by `e_kmeans` (drops d2) and
    * `e_ood_score` (ranks on it). d2 is the same three-fold expression
    * both engines evaluate sequentially, so the raw double is
    * bit-identical cross-engine (the argmin already depended on that).
    */
  private[graft] def kmFit(s: SparkSession, dir: String): DataFrame = {
    val (emb, cent) = kmCentroids(s, dir)
    kmAssign(emb, cent)
  }

  /** The materialized embedding frame + FINAL Lloyd centroid table —
    * the fitted model behind [[kmFit]], exposed so `e_silhouette` can
    * score every (vector, cell) distance rather than just the argmin.
    * Fitted ONCE per (session, source dir) — the [[pqModelCache]]
    * serving-economics argument: e_kmeans / e_ood_score / e_silhouette /
    * e_semdedup all read the same model, and reuse removes any drift
    * possibility between their rows. The backing checkpoints are
    * [[graft.operators.SessionPins]]-exempt from the harnesses'
    * per-row reap.
    */
  private val kmCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, DataFrame)]

  private[graft] def kmCentroids(s: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    kmCache.getOrElseUpdate((s, dir), {
      val sc = s.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val r = kmFitAt(s, dir, KmK)
      // emb's checkpoint + the final centroid generation back the cached
      // model; the chain already released intermediate generations, so
      // what this fit leaves persisted is exactly those two.
      recordPins(s, dir, sc.getPersistentRDDs.keySet -- before)
      r
    })

  /** One Lloyd fit at an explicit k — the body behind [[kmCentroids]]
    * (which caches + pins the k = [[KmK]] model).
    */
  private def kmFitAt(s: SparkSession, dir: String,
      k: Int): (DataFrame, DataFrame) = {
    val sc = s.sparkContext
    val emb = embDf(s, dir).localCheckpoint(true)
    val ckpt = new graft.operators.CkptChain(sc)
    val cvArray =
      s"array(${(1 to Dims).map(i => s"c$i").mkString(", ")}) AS cv"
    var cent = ckpt(emb.where(col("vec_id") < k)
      .selectExpr("CAST(vec_id AS INT) AS cid", "v AS cv"))
    for (_ <- 1 to KmIters) {
      val avgs = (1 to Dims)
        .map(i => round(avg(element_at(col("v"), i)), 6).as(s"c$i"))
      cent = ckpt(kmAssign(emb, cent).join(emb, Seq("vec_id"))
        .groupBy(col("cell").as("cid"))
        .agg(avgs.head, avgs.tail: _*)
        .selectExpr("cid", cvArray))
    }
    (emb, cent)
  }

  private def kmAssign(emb: DataFrame, c: DataFrame): DataFrame =
    emb.crossJoin(broadcast(c))
      .selectExpr("vec_id", "cid", KmD2Expr + " AS d2")
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .selectExpr("vec_id", "m.cid AS cell", "m.d2 AS d2")

  private val KmD2Expr =
    "vec_dot(v, v) - 2 * vec_dot(v, cv) + vec_dot(cv, cv)"

  /** `e_qgram`'s body, shared with `e_pca_power`: exact BIGINT Gram over
    * the uint8-quantized vectors via a per-partition d(d+1)/2-slot
    * mergeable accumulator (see the row comment at the `queries` entry).
    */
  private[graft] def qgramRows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Dims
    Tables(s, dir, "embeddings")
      .selectExpr(
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("v", "array_min(v) AS lo", "array_max(v) AS hi")
      .selectExpr("CASE WHEN hi = lo THEN transform(v, x -> 0) " +
        "ELSE transform(v, x -> CAST(round((x - lo) / " +
        "((hi - lo) / 255.0), 0) AS INT)) END AS q")
      .as[Seq[Int]]
      .mapPartitions { it =>
        val acc = new Array[Long](d * (d + 1) / 2)
        it.foreach { q =>
          var i = 0
          var k = 0
          while (i < d) {
            val qi = q(i).toLong
            var j = i
            while (j < d) { acc(k) += qi * q(j); j += 1; k += 1 }
            i += 1
          }
        }
        val out = new Array[(Int, Int, Long)](acc.length)
        var i = 0
        var k = 0
        while (i < d) {
          var j = i
          while (j < d) { out(k) = (i, j, acc(k)); j += 1; k += 1 }
          i += 1
        }
        out.iterator
      }
      .toDF("i", "j", "g")
      .groupBy(col("i"), col("j"))
      .agg(sum(col("g")).as("g"))
  }


  /** The first principal direction of the quantized-embedding second
    * moment. The corpus-scale work — folding the exact BIGINT Gram
    * ([[qgramRows]]) — stays fully distributed; what it produces is
    * CONSTANT-size sufficient statistics (d·(d+1)/2 = 2080 BIGINTs at
    * d = 64, regardless of corpus size), so the [[PcaIters]]-round
    * 64×64 matvec loop is a driver-scale problem by construction (the
    * `Katz.batchAlphasLocal` documented driver-local regime; the collect
    * is loudly guarded at exactly the triangle size). r19: the rounds
    * previously ran as ~2 tiny Spark jobs + a checkpoint each — ~32 job
    * floors for microseconds of arithmetic (guide §1.2: fix the
    * distributed-algorithm shape first); they now run driver-local with
    * the IDENTICAL 0-seeded ascending-index fold order as the previous
    * `sparkFold` expressions, so every float is unchanged — PcaSpec's
    * independent in-memory replay pins the row end-to-end and the
    * DuckDB oracle's `list_reduce` spelling still matches bit-for-bit.
    * Returns the 1-row `(v array<double>, lam double)` frame.
    */
  private def pcaPower(s: SparkSession, dir: String): DataFrame = {
    val d = Dims
    val triRows = qgramRows(s, dir).collect()
    require(triRows.length == d * (d + 1) / 2,
      s"Gram triangle must be ${d * (d + 1) / 2} rows, got ${triRows.length}")
    val G = Array.ofDim[Double](d, d)
    triRows.foreach { r =>
      val (i, j, g) = (r.getInt(0), r.getInt(1), r.getLong(2))
      G(i)(j) = g.toDouble
      G(j)(i) = g.toDouble
    }
    // matvec in the exact sparkFold order: 0-seeded left fold over
    // ascending j (element_at(gr, i) follows the sort_array(struct(j,
    // gd)) ascending-j layout this dense G replicates).
    def matvec(x: Array[Double]): Array[Double] = Array.tabulate(d) { i =>
      var acc = 0.0
      var j = 0
      while (j < d) { acc += G(i)(j) * x(j); j += 1 }
      acc
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 1 to PcaIters) {
      val t = matvec(v)
      var n2 = 0.0
      var i = 0
      while (i < d) { n2 += t(i) * t(i); i += 1 }
      val nrm = math.sqrt(n2)
      v = t.map(_ / nrm)
    }
    // Rayleigh quotient λ = v·Gv on the final unit vector
    val tf = matvec(v)
    var lam = 0.0
    var i = 0
    while (i < d) { lam += v(i) * tf(i); i += 1 }
    import s.implicits._
    Seq((v.toSeq, lam)).toDF("v", "lam")
  }

  private def embDf(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    Tables(s, dir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("vec_id", "v", "sqrt(vec_dot(v, v)) AS nrm")
  }

  private def cosineJoined(s: SparkSession, dir: String): DataFrame = {
    val emb = embDf(s, dir)
    val q = emb.where(col("vec_id") < NumQueries)
      .selectExpr("vec_id AS q_id", "v AS qv", "nrm AS qnrm")
    emb.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id",
        s"round($dotExpr / (qnrm * nrm), 6) AS cos")
  }

  /** 32 sign bits of dims off+1 .. off+32 of array column `v`, packed as
    * one BIGINT (dual-rendered: Spark `element_at` / DuckDB `[]`).
    */
  private def bqPackSpark(v: String, off: Int): String = (0 until 32)
    .map(b => s"(CASE WHEN element_at($v, ${off + b + 1}) >= 0 " +
      s"THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
    .mkString(" + ")
  private def bqPackDuck(v: String, off: Int): String = (0 until 32)
    .map(b => s"(CASE WHEN $v[${off + b + 1}] >= 0 " +
      s"THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
    .mkString(" + ")

  /** Sign bucket of dims t·LshBits+1 .. (t+1)·LshBits of array column `v`. */
  private def bucketExpr(v: String, t: Int): String = (0 until LshBits)
    .map(b => s"(CASE WHEN element_at($v, ${t * LshBits + b + 1}) >= 0 THEN ${1 << b} ELSE 0 END)")
    .mkString(" + ")

  /** IVF coarse-quantizer structure shared by `e_ann_ivf` /
    * `e_ivfpq_search`: the per-vector cell assignment `(vec_id, cell)` and
    * the per-query probe list `(q_id, cell)`. Fixed deterministic
    * centroids (corpus vectors NumQueries..NumQueries+IvfCentroids-1);
    * assignment is argmax cosine as a partial-aggregating max-struct
    * (highest cosine, ties to the LOWEST centroid id — matches the
    * oracle's ORDER BY cc DESC, cid ASC), probes are the IvfProbes
    * nearest cells per query by row_number. assign ⋈ probe on `cell`
    * yields structurally UNIQUE (q_id, vec_id) pairs: one cell per
    * vector, distinct probed cells per query.
    */
  /** Directed kNN edges `(src, dst, cos)` over the LSH candidate set —
    * each vector's `k` nearest candidates by (cos DESC, nbr ASC), the
    * deterministic graph builder under `e_knn_ppr` / `e_mutual_knn`
    * (K = [[KnnK]]) and the NSW routing rows (K = [[NswM]]). Candidates
    * come from the bucketed LSH self-join (never all-pairs); the
    * per-vector cut is a bounded window over candidate rows only.
    */
  private[graft] def knnScoredEdges(s: SparkSession, dir: String,
      k: Int = KnnK): DataFrame = {
    val bk = bucketed(s, dir).select(col("vec_id"), col("tbl"), col("bkt"))
    val candAB = bk.as("x").join(bk.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bkt") === col("y.bkt") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    // both orientations: kNN is per-vector over an undirected candidate set
    val cand = candAB.select(col("vec_a").as("v"), col("vec_b").as("nbr"))
      .unionAll(candAB.select(col("vec_b").as("v"), col("vec_a").as("nbr")))
    val emb = embDf(s, dir)
    val scored = cand
      .join(emb.selectExpr("vec_id AS v", "v AS qv", "nrm AS qnrm"), Seq("v"))
      .join(emb.selectExpr("vec_id", "v AS vv", "nrm AS vnrm")
        .withColumnRenamed("vec_id", "nbr"), Seq("nbr"))
      .selectExpr("v", "nbr", "round(vec_dot(qv, vv) / (qnrm * vnrm), 6) AS cos")
    val wn = Window.partitionBy(col("v")).orderBy(col("cos").desc, col("nbr").asc)
    scored.withColumn("rn", row_number().over(wn))
      .where(col("rn") <= k)
      .select(col("v").as("src"), col("nbr").as("dst"), col("cos"))
  }

  /** The `e_ann_ivf` body at an explicit probe count — per-query
    * tie-inclusive top-[[IvfTopK]] over the probed cells' candidates
    * (see the `e_ann_ivf` row comment for the scale shape).
    */
  private def annIvf(s: SparkSession, dir: String, probes: Int): DataFrame = {
    val (assign, probe) = ivfParts(s, dir, probes)
    val emb = embDf(s, dir)
    val cand = assign.join(broadcast(probe), Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    val q = emb.selectExpr("vec_id AS q_id", "v AS qv", "nrm AS qnrm")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc)
    cand
      .join(broadcast(q), Seq("q_id"))
      .join(emb, Seq("vec_id"))
      .selectExpr("q_id", "vec_id",
        s"round($dotExpr / (qnrm * nrm), 6) AS cos")
      .withColumn("rk", rank().over(w))
      .where(col("rk") <= IvfTopK)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rk"))
  }

  private def ivfParts(s: SparkSession, dir: String,
      probes: Int = IvfProbes): (DataFrame, DataFrame) = {
    val emb = embDf(s, dir)
    val cent = emb
      .where(col("vec_id").between(NumQueries, NumQueries + IvfCentroids - 1))
      .selectExpr(s"CAST(vec_id - $NumQueries AS INT) AS cid",
        "v AS cv", "nrm AS cnrm")
    val scored = emb.crossJoin(broadcast(cent))
      .selectExpr("vec_id", "cid", "vec_dot(v, cv) / (nrm * cnrm) AS cc")
    val assign = scored
      .groupBy("vec_id")
      .agg(max(struct(col("cc"), (-col("cid")).as("nc"))).as("m"))
      .selectExpr("vec_id", "CAST(-m.nc AS INT) AS cell")
    val wp = Window.partitionBy(col("q_id")).orderBy(col("cc").desc, col("cid").asc)
    val probe = scored.where(col("vec_id") < NumQueries)
      .withColumnRenamed("vec_id", "q_id")
      .withColumn("rn", row_number().over(wp))
      .where(col("rn") <= probes)
      .select(col("q_id"), col("cid").as("cell"))
    (assign, probe)
  }

  /** `(vec_id, v, nrm, tbl, bkt)` — each vector appears once per table.
    * ONE corpus scan: all table buckets are computed in a single
    * projection and posexploded (pos = table index), vs the former
    * LshTables-way union that re-scanned (and re-normed) the corpus once
    * per table.
    */
  private def bucketed(s: SparkSession, dir: String): DataFrame =
    embDf(s, dir)
      .select(col("vec_id"), col("v"), col("nrm"),
        posexplode(expr((0 until LshTables)
          .map(t => bucketExpr("v", t)).mkString("array(", ", ", ")"))))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "bkt")

  /** Cluster-scoped semantic dedup (`e_semdedup` body) over assignments
    * `asg (vec_id, cell)` and vectors `emb (vec_id, v, nrm)`; returns
    * `(vec_id, cell, kept)` under the greedy keep-first rule: a vector is
    * dropped iff a LOWER-id vector in the same cell has 6-dp-rounded
    * cosine ≥ `threshold`.
    *
    * Exact-duplicate pre-collapse: bitwise-identical vectors in a cell
    * form one group keyed by `(cell, v)` and only the min-id
    * REPRESENTATIVE enters the quadratic pairing. This is
    * result-IDENTICAL to pairing every vector (needs `threshold ≤ 1`):
    * identical vectors share every rounded cosine bitwise (vec_dot is a
    * fixed-order fold and commutes bitwise per element), so (a) a
    * non-representative is always dropped — its representative witnesses
    * at cosine 1.0 — and (b) any drop witness w for y implies
    * rep(w) ≤ w is a witness too. So a pathological k-means collapse onto
    * copies of one point (the all-identical corpus) costs ZERO pairs
    * instead of N², and the oracle keeps the simple all-vectors form.
    *
    * The remaining quadratic axis — DISTINCT vectors per cell — is
    * guarded by a plan-embedded `assert_true` over the per-cell distinct
    * counts: above `maxDistinct` the query fails loudly naming k as the
    * knob instead of silently reintroducing the all-pairs blowup. The
    * guard column rides the (broadcast) size table into the pair join so
    * column pruning cannot elide it.
    */
  private[queries] def semDedup(
      asg: DataFrame,
      emb: DataFrame,
      threshold: Double,
      maxDistinct: Long): DataFrame = {
    require(threshold <= 1.0,
      s"semDedup exact-dup pre-collapse assumes threshold <= 1 (got $threshold)")
    VectorFunctions.register(asg.sparkSession)
    val both = asg.join(emb.select(col("vec_id"), col("v"), col("nrm")),
      Seq("vec_id"))
    val grp = both.groupBy(col("cell"), col("v"))
      .agg(min(col("vec_id")).as("rep"), min(col("nrm")).as("nrm"))
    val sizes = grp.groupBy(col("cell"))
      .agg(count(lit(1)).as("csz"))
      .select(col("cell"),
        assert_true(col("csz") <= maxDistinct,
          concat(lit("e_semdedup: cell "), col("cell"), lit(" holds "),
            col("csz"),
            lit(s" distinct vectors > bound $maxDistinct — in-cell" +
              " pairing is quadratic by design (SemDeDup); raise k to" +
              " shrink cells"))).as("ok"))
    val x = grp.select(col("cell"), col("v").as("xv"),
      col("rep").as("xid"), col("nrm").as("xnrm"))
    val y = grp.select(col("cell"), col("v").as("yv"),
      col("rep").as("yid"), col("nrm").as("ynrm"))
    val dup = x.join(y, Seq("cell"))
      .join(broadcast(sizes), Seq("cell"))
      .where(col("xid") < col("yid") && col("ok").isNull &&
        expr("round(vec_dot(xv, yv) / (xnrm * ynrm), 6)") >= threshold)
      .select(col("yid").as("rep"))
      .distinct()
    both.select(col("vec_id"), col("cell"), col("v"))
      .join(grp.select(col("cell"), col("v"), col("rep")), Seq("cell", "v"))
      .join(dup.withColumn("d", lit(1)), Seq("rep"), "left")
      .selectExpr("vec_id", "cell",
        "CAST(CASE WHEN vec_id <> rep THEN 0 WHEN d IS NULL THEN 1 ELSE 0 END AS INT) AS kept")
  }

  /** `e_bq_search` body (see the queries-map entry for the operator
    * story). Split out so the spec can drive the broadcast guard with a
    * tiny bound: the query-code side is broadcast into every corpus-scan
    * task BY DESIGN (the scan touches code columns only), which is safe
    * exactly as long as that side stays small — so its row count is
    * checked by a plan-embedded `assert_true` (the [[semDedup]]
    * discipline) that fails loudly past `maxQueryBroadcast` instead of
    * silently shipping an oversized broadcast to every task. The guard
    * column rides the 1-row count aggregate (itself a broadcast scalar)
    * into the shortlist join, so column pruning cannot elide it.
    */
  private[queries] def bqSearch(
      s: SparkSession,
      emb: DataFrame,
      maxQueryBroadcast: Long): DataFrame = {
    VectorFunctions.register(s)
    val codes = emb.selectExpr("vec_id",
      s"${bqPackSpark("v", 0)} AS lo", s"${bqPackSpark("v", 32)} AS hi")
    val qc = codes.where(col("vec_id") < NumQueries)
      .selectExpr("vec_id AS q_id", "lo AS qlo", "hi AS qhi")
    val nq = qc.agg(count(lit(1)).as("nq"))
      .select(
        assert_true(col("nq") <= maxQueryBroadcast,
          concat(lit("e_bq_search: "), col("nq"),
            lit(s" query codes > broadcast bound $maxQueryBroadcast — " +
              "the shortlist pass broadcasts the query side by design; " +
              "past this bound route queries through a bucketed " +
              "equi-join instead"))).as("qok"))
    val wH = Window.partitionBy(col("q_id"))
      .orderBy(col("ham").asc, col("vec_id").asc)
    val short = codes.crossJoin(broadcast(qc)).crossJoin(broadcast(nq))
      .where(col("vec_id") =!= col("q_id") && col("qok").isNull)
      .selectExpr("q_id", "vec_id",
        "CAST(bit_count(lo ^ qlo) + bit_count(hi ^ qhi) AS INT) AS ham")
      .withColumn("rn", row_number().over(wH))
      .where(col("rn") <= BqShortlist)
      .select(col("q_id"), col("vec_id"), col("ham"))
    val q = emb.selectExpr("vec_id AS q_id", "v AS qv", "nrm AS qnrm")
    val wC = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    short.join(broadcast(q), Seq("q_id"))
      .join(emb, Seq("vec_id"))
      .selectExpr("q_id", "vec_id", "ham",
        s"round($dotExpr / (qnrm * nrm), 6) AS cos")
      .withColumn("rk", row_number().over(wC))
      .where(col("rk") <= BqTopK)
      .select(col("q_id"), col("vec_id"), col("ham"), col("cos"), col("rk"))
  }

  /** Shared frames for the NSW beam sweep (`e_nsw_recall`): the kNN
    * edge list, the query-vector frame, the neighbor-embedding frame and
    * the entry-point beam seed — built (and checkpointed) ONCE, then
    * reused by every ef axis point. Returned as (knn, q, nbr, s0).
    */
  private[graft] def nswShared(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    VectorFunctions.register(s)
    val knn = nswGraph(s, dir) // session-pinned checkpoint, fit once
    val emb = embDf(s, dir).localCheckpoint(true)
    val q = emb.where(col("vec_id") < NumQueries)
      .selectExpr("vec_id AS q_id", "v AS qv", "nrm AS qnrm")
      .localCheckpoint(true)
    val nbr = emb.selectExpr("vec_id AS dst", "v AS nv", "nrm AS nnrm")
    val entry = knn.where(col("src") >= NumQueries)
      .agg(min(col("src")).as("entry"))
    val entryEmb = entry.join(emb, col("entry") === col("vec_id"))
      .selectExpr("entry", "v AS ev", "nrm AS enrm")
    val s0 = q.crossJoin(broadcast(entryEmb))
      .selectExpr("q_id", "entry AS node",
        "round(vec_dot(qv, ev) / (qnrm * enrm), 6) AS cos")
      .localCheckpoint(true)
    (knn, q, nbr, s0)
  }

  /** One NSW beam run at width `ef` over [[nswShared]]'s frames: per hop
    * the CURRENT beam (≤ ef best (q_id, node, cos) rows per query, on
    * 6-dp-rounded cosines with ties to the lowest id — the e_nsw_search
    * determinism discipline) expands through ONE distributed join
    * against the kNN edges, candidates dedupe on (q_id, node) BEFORE
    * scoring, and the next beam is the top-ef of beam ∪ candidates.
    * State stays |queries|·ef rows; the graph side never collects.
    * Returns (finalBeam, visited) where visited is the distinct set of
    * every node ever scored (entry included) — the pool the recall row
    * ranks for its top-k answer. ef = 1 expands exactly the node the
    * greedy `e_nsw_search` walk sits on at every hop (same
    * stay-on-no-improvement schedule), so its final beam row per query
    * IS the greedy (found_id, cos) — NswRecallSpec pins that equality.
    */
  private[graft] def nswBeam(knn: DataFrame, q: DataFrame, nbr: DataFrame,
      s0: DataFrame, ef: Int, steps: Int = NswSteps): (DataFrame, DataFrame) = {
    val wB = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("node").asc)
    var beam = s0
    val seen = scala.collection.mutable.ArrayBuffer[DataFrame](s0)
    for (_ <- 1 to steps) {
      val cand = beam.select(col("q_id"), col("node"))
        .join(knn, col("node") === col("src"))
        .select(col("q_id"), col("dst"))
        .distinct() // beam members share neighbors: score each once
        .join(broadcast(q), Seq("q_id"))
        .join(nbr, Seq("dst"))
        .selectExpr("q_id", "dst AS node",
          "round(vec_dot(qv, nv) / (qnrm * nnrm), 6) AS cos")
        .localCheckpoint(true) // feeds the visited union AND the re-rank
      seen += cand
      beam = beam.unionAll(cand).distinct()
        .withColumn("rn", row_number().over(wB))
        .where(col("rn") <= ef).drop("rn")
        .localCheckpoint(true)
    }
    (beam, seen.reduce(_ unionAll _).distinct())
  }

  /** The whole ef axis of [[nswBeam]] in ONE hop loop: the per-ef beams
    * are independent state machines keyed by (ef, q_id), so running
    * them as one ef-tagged frame turns |axis| × [[NswSteps]]
    * checkpointed hop rounds into [[NswSteps]] (the r18 grid-row
    * fan-out economics applied to the beam sweep — the per-hop jobs
    * were 3× duplicated work at GOT-job-floor prices). Per-ef slices
    * are IDENTICAL to [[nswBeam]]'s by construction — every join is
    * row-wise, every distinct carries ef, the window partitions by
    * (ef, q_id) and the cut compares rn to the row's own ef column —
    * and NswRecallSpec pins batched ≡ per-ef on the full axis. State
    * stays Σ_ef |queries|·ef rows. Returns the ef-tagged
    * (beam, visited) pair.
    */
  private[graft] def nswBeamBatch(knn: DataFrame, q: DataFrame,
      nbr: DataFrame, s0: DataFrame, efs: Seq[Int])
      : (DataFrame, DataFrame) = {
    val wB = Window.partitionBy(col("ef"), col("q_id"))
      .orderBy(col("cos").desc, col("node").asc)
    val s0e = efs.map(ef => s0.select(lit(ef).as("ef"), col("q_id"),
      col("node"), col("cos"))).reduce(_ unionAll _)
    var beam = s0e
    val seen = scala.collection.mutable.ArrayBuffer[DataFrame](s0e)
    for (_ <- 1 to NswSteps) {
      val cand = beam.select(col("ef"), col("q_id"), col("node"))
        .join(knn, col("node") === col("src"))
        .select(col("ef"), col("q_id"), col("dst"))
        .distinct() // beam members share neighbors: score each once per ef
        .join(broadcast(q), Seq("q_id"))
        .join(nbr, Seq("dst"))
        .selectExpr("ef", "q_id", "dst AS node",
          "round(vec_dot(qv, nv) / (qnrm * nnrm), 6) AS cos")
        .localCheckpoint(true) // feeds the visited union AND the re-rank
      seen += cand
      beam = beam.unionAll(cand).distinct()
        .withColumn("rn", row_number().over(wB))
        .where(col("rn") <= col("ef")).drop("rn")
        .localCheckpoint(true)
    }
    (beam, seen.reduce(_ unionAll _).distinct())
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force exact cosine top-k per query (tie-inclusive RANK on the
    // rounded score so cross-engine float noise cannot flip the cut).
    //
    // Scale shape: the per-query kth-largest threshold comes from the
    // custom KthScore aggregate (bounded min-heap, partial aggregation —
    // each map task ships ≤ k doubles per query across the shuffle), and
    // the RANK window then sorts only the ≤ ~k surviving rows per query.
    // The single-window formulation this replaces shuffled and SORTED the
    // entire |corpus|×|queries| score table; re-scanning the corpus twice
    // (threshold pass + filter pass) is the cheaper side of that trade at
    // scale, and the threshold filter provably keeps exactly the RANK ≤ k
    // rows (score ≥ kth-largest ⟺ fewer than k strictly greater).
    // r19: served once per session — this frame is the exact ground
    // truth EIGHT recall rows consume (see [[servedResult]]).
    "e_cosine_topk" -> ((s, dir) => servedResult(s, dir, "e_cosine_topk") {
      TopKFunctions.register(s)
      val cos = cosineJoined(s, dir)
      val th = cos.groupBy("q_id")
        .agg(TopKFunctions.kthScore(col("cos"), TopK).as("th"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc)
      cos.join(broadcast(th), Seq("q_id"))
        .where(col("cos") >= col("th"))
        .withColumn("rk", rank().over(w))
        .where(col("rk") <= TopK) // belt-and-braces: identical cut by proof above
        .select(col("q_id"), col("vec_id"), col("cos"), col("rk"))
    }),

    // Exact cosine range (radius) search — the threshold sibling of
    // top-k every vector store exposes: all corpus vectors with
    // cos ≥ RangeTau of each query, plus the per-query match count.
    // Scale shape is DIFFERENT from top-k: no kth-score aggregate and no
    // rank window over the full score table — the τ-filter is evaluated
    // map-side inside the broadcast-scan (whole-stage codegen'd vec_dot
    // + filter), so the only exchange carries the ~|matches| surviving
    // 24-byte rows into the tiny per-query count window. The threshold
    // compares the ROUNDED score so the cut cannot flip on cross-engine
    // float noise at the boundary.
    "e_range_search" -> ((s, dir) => {
      val w = Window.partitionBy(col("q_id"))
      cosineJoined(s, dir)
        .where(col("cos") >= RangeTau)
        .withColumn("n_in_range", count(lit(1)).over(w))
    }),

    // Multi-table LSH ANN: candidates share any of the LshTables sign-bit
    // buckets; pairs are de-duplicated on (q_id, vec_id) BEFORE the
    // vectors are re-attached, so the distinct shuffles 16-byte id pairs,
    // never the embeddings; exact cosine on the candidate set,
    // tie-inclusive top-k per query.
    "e_ann_lsh" -> ((s, dir) => servedResult(s, dir, "e_ann_lsh") {
      val bk = bucketed(s, dir).select(col("vec_id"), col("tbl"), col("bkt"))
      val qb = bk.where(col("vec_id") < NumQueries)
        .selectExpr("vec_id AS q_id", "tbl", "bkt")
      val cand = bk.join(broadcast(qb), Seq("tbl", "bkt"))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"))
        .distinct() // a pair colliding in several tables scores once
      val emb = embDf(s, dir)
      val q = emb.selectExpr("vec_id AS q_id", "v AS qv", "nrm AS qnrm")
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc)
      cand
        .join(broadcast(q), Seq("q_id"))
        .join(emb, Seq("vec_id"))
        .selectExpr("q_id", "vec_id",
          s"round($dotExpr / (qnrm * nrm), 6) AS cos")
        .withColumn("rk", rank().over(w))
        .where(col("rk") <= LshTopK)
        .select(col("q_id"), col("vec_id"), col("cos"), col("rk"))
    }),

    // IVF ANN: assign every corpus vector to its nearest centroid cell
    // (argmax cosine over a BROADCAST centroid table, computed per row —
    // one narrow pass, no shuffle until the cell equi-join), probe the
    // IvfProbes nearest cells per query, exact cosine + tie-inclusive
    // top-k on the candidates. Cell recall < 1 by design; the oracle
    // replays identical assignment so output is deterministic.
    //
    // Scale shape: assignment is max(struct(cos, -cid)) — a partial-
    // aggregating argmax, NOT a window sort over corpus×C rows; the
    // candidate join shuffles on the cell id; probe table is broadcast.
    "e_ann_ivf" -> ((s, dir) =>
      servedResult(s, dir, "e_ann_ivf")(annIvf(s, dir, IvfProbes))),

    // Embedding-cosine near-dup pairs: corpus self-join within LSH
    // buckets (all tables), candidate id pairs de-duplicated before the
    // vectors are re-attached, exact cosine >= DupCosThreshold. Bucket
    // collision recall is <1 at the threshold boundary BY DESIGN — the
    // oracle replays identical candidate generation, so output is
    // deterministic across engines.
    // kNN-graph PPR (SURVEY §7.5 composition): a vector-similarity edge
    // builder feeding the K1 power-iteration kernel unchanged. Edges =
    // each vector's KnnK nearest LSH-candidate neighbors (deterministic
    // row_number on (cos DESC, nbr ASC)); PPR = batched CSR kernel from
    // KnnSources. The similarity search, the graph build, and the PPR all
    // reuse operators that are individually oracle-checked; the composed
    // oracle replays the identical edge SQL through the unrolled
    // power-iteration CTEs.
    "e_knn_ppr" -> ((s, dir) => {
      val edges = knnScoredEdges(s, dir).select(col("src"), col("dst"))
      val csr = graft.graph.GraphOps.buildCsr(edges)
      graft.ppr.PowerIteration.batch(s, csr, KnnSources, KnnAlpha, KnnIters)
        .select(col("src"), col("node_id"), round(col("score"), 9).as("score"))
    }),

    // Mutual-kNN graph — the edge set clustering/SemDeDup pipelines
    // actually build on: keep (a, b) only when b is in a's top-K AND a
    // is in b's top-K (the asymmetric-hub pruning that stops a single
    // popular vector collecting the whole corpus as neighbors). One
    // left-semi self-join of the kNN edge list on the reversed 16-byte
    // (src, dst) key; the builder is the same deterministic
    // LSH-candidate top-K as e_knn_ppr (shared body, shared oracle SQL —
    // they may not drift). cos is symmetric, so either orientation's
    // rounded score is THE edge score.
    "e_mutual_knn" -> ((s, dir) => {
      val e = knnScoredEdges(s, dir).localCheckpoint(true)
      e.join(e.select(col("dst").as("src"), col("src").as("dst")),
          Seq("src", "dst"), "left_semi")
        .where(col("src") < col("dst"))
        .select(col("src").as("vec_a"), col("dst").as("vec_b"), col("cos"))
    }),

    // Greedy graph routing over the kNN graph — the NSW/HNSW base-layer
    // search primitive (Malkov & Yashunin 2018): from a fixed entry
    // point, each query repeatedly hops to the neighbor closest to it
    // (6-dp-rounded cosine, ties to the lowest id — comparisons run on
    // ROUNDED values, so cross-engine ulps cannot flip a hop) and stops
    // when no neighbor improves. Per step the plan joins the
    // query-count-sized walk state against the kNN edge list and picks
    // the per-query argmax with a bounded window — at 100 TB the graph
    // is the big side and scans stay distributed; the state is always
    // |queries| rows. The DuckDB oracle replays every hop through the
    // same unrolled stay-on-no-improvement schedule, and `steps`
    // discloses how many hops each walk actually took.
    "e_nsw_search" -> ((s, dir) => {
      VectorFunctions.register(s)
      val knn = nswGraph(s, dir) // session-pinned checkpoint, fit once
      val emb = embDf(s, dir).localCheckpoint(true)
      val entry = knn.where(col("src") >= NumQueries)
        .agg(min(col("src")).as("entry"))
      val entryEmb = entry.join(emb, col("entry") === col("vec_id"))
        .selectExpr("entry", "v AS ev", "nrm AS enrm")
      var state = emb.where(col("vec_id") < NumQueries)
        .selectExpr("vec_id AS q_id", "v AS qv", "nrm AS qnrm")
        .crossJoin(broadcast(entryEmb))
        .selectExpr("q_id", "qv", "qnrm", "entry", "entry AS cur",
          "round(vec_dot(qv, ev) / (qnrm * enrm), 6) AS cos",
          "CAST(0 AS BIGINT) AS steps")
        .localCheckpoint(true)
      for (_ <- 1 to NswSteps) {
        val scored = state.select(col("q_id"), col("qv"), col("qnrm"),
            col("cur"))
          .join(knn, col("cur") === col("src"))
          .join(emb.selectExpr("vec_id AS dst", "v AS nv", "nrm AS nnrm"),
            Seq("dst"))
          .selectExpr("q_id", "dst",
            "round(vec_dot(qv, nv) / (qnrm * nnrm), 6) AS ncos")
        val best = scored.withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("ncos").desc, col("dst").asc)))
          .where(col("rn") === 1)
          .select(col("q_id"), col("dst").as("bn"), col("ncos"))
        state = state.join(best, Seq("q_id"), "left")
          .selectExpr("q_id", "qv", "qnrm", "entry",
            "CASE WHEN ncos > cos THEN bn ELSE cur END AS cur",
            "CASE WHEN ncos > cos THEN ncos ELSE cos END AS cos",
            "CASE WHEN ncos > cos THEN steps + 1 ELSE steps END AS steps")
          .localCheckpoint(true)
      }
      state.select(col("q_id"), col("entry"), col("cur").as("found_id"),
        col("cos"), col("steps"))
    }),

    // Recall-vs-beam-width curve for the NSW routing — the quality row
    // every other ANN index family carries (LSH/BQ/IVF/IVF-PQ recall
    // rows, the IVF probe curve), applied to graph routing's ef knob:
    // per [[NswEfAxis]] point a level-synchronous beam of the ef best
    // nodes seen so far expands over the kNN graph ([[nswBeam]] — ef = 1
    // IS the greedy e_nsw_search exploration), the answer is the
    // top-[[IvfTopK]] of everything VISITED (own node excluded, like the
    // exact ground truth), and the row micro-averages hits against the
    // exact tie-inclusive cosine top-k as EXACT integer sums with one
    // trailing division (the e_ivf_probe_curve discipline). n_visited
    // disclosed per ef — the cost axis next to the recall axis. At 100
    // TB the per-hop state is |queries|·ef rows; the graph and embedding
    // sides stay distributed (the only wide joins are on node keys).
    "e_nsw_recall" -> ((s, dir) => {
      val (knn, q, nbr, s0) = nswShared(s, dir)
      val exact = queries("e_cosine_topk")(s, dir)
        .where(col("rk") <= IvfTopK)
        .select(col("q_id"), col("vec_id"))
        .localCheckpoint(true) // shared by every ef axis point
      // whole axis in ONE hop loop ([[nswBeamBatch]] — per-ef slices
      // identical to nswBeam's, spec-pinned); per-point scoring reads
      // its ef slice of the one checkpointed visited frame.
      val (_, visitedAll) = nswBeamBatch(knn, q, nbr, s0, NswEfAxis)
      NswEfAxis.map { ef =>
        val visited = visitedAll.where(col("ef") === ef).drop("ef")
        val approx = visited.where(col("node") =!= col("q_id"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("cos").desc, col("node").asc)))
          .where(col("rn") <= IvfTopK)
          .select(col("q_id"), col("node").as("vec_id"), lit(1).as("hit"))
        val nvis = visited.agg(count(lit(1)).as("n_visited"))
        exact.join(approx, Seq("q_id", "vec_id"), "left")
          .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
          .crossJoin(nvis)
          .selectExpr(s"CAST($ef AS INT) AS ef", "n_exact", "n_hit",
            "round(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall",
            "n_visited")
      }.reduce(_.unionAll(_))
    }),

    // k-means (Lloyd's): the trainer behind an IVF index. Each round is
    // the canonical distributed shape — centroids BROADCAST (k·dims
    // doubles), assignment a narrow per-row argmin (min-struct partial
    // aggregate, no window), update one shuffle of Dims partial-avg
    // aggregates per cell (map-side combined; cell count = k, so the wide
    // side is k·Dims doubles regardless of corpus size). Determinism
    // across engines: init is corpus vectors 0..k-1; the three-fold d2
    // expression is evaluated in the same order on both sides; updated
    // centroid components round to 6 dp before the next round so
    // summation-order noise cannot flip a later argmin. Output: the final
    // per-vector cell assignment.
    "e_kmeans" -> ((s, dir) => kmModel(s, dir)),

    // PC1 of the quantized-embedding second moment — distributed PCA
    // the way it survives 100 TB: the corpus collapses into the exact
    // BIGINT Gram (e_qgram's d(d+1)/2 mergeable accumulator — constant
    // bytes shuffled regardless of vector count), the power iteration
    // runs over the resulting 64-row matrix table + a 1-row broadcast
    // eigenvector frame (never on the driver, never over the data), and
    // the single data-sized pass at the end projects every vector onto
    // the learned direction with the codegen'd vec_dot. Every float op
    // (matvec, norm, Rayleigh λ, projection) is an ascending-index
    // 0-seeded left fold spelled identically in the oracle — bit-exact
    // cross-engine before the display rounding.
    "e_pca_power" -> ((s, dir) => {
      VectorFunctions.register(s)
      val lam = pcaPower(s, dir)
      Tables(s, dir, "embeddings")
        .selectExpr("vec_id",
          "transform(embedding, x -> CAST(x AS DOUBLE)) AS vr")
        .selectExpr("vec_id", "vr", "array_min(vr) AS lo",
          "array_max(vr) AS hi")
        .selectExpr("vec_id",
          "CASE WHEN hi = lo THEN transform(vr, x -> CAST(0 AS DOUBLE)) " +
            "ELSE transform(vr, x -> CAST(CAST(round((x - lo) / " +
            "((hi - lo) / 255.0), 0) AS INT) AS DOUBLE)) END AS qd")
        .crossJoin(broadcast(lam))
        .selectExpr("vec_id", "round(vec_dot(qd, v), 6) AS pc1",
          "round(lam, 6) AS eigval")
    }),

    // Simplified silhouette (centroid form) over the e_kmeans fit — the
    // per-vector cluster-quality score curation reads before trusting
    // cluster-balanced sampling: a = distance to own centroid, b =
    // distance to the nearest OTHER centroid, sil = (b−a)/max(a,b).
    // Reuses kmCentroids verbatim (the model may not drift from
    // e_kmeans), scores each vector against the broadcast KmK-row
    // codebook, and picks own/runner-up from a sorted ≤KmK-entry struct
    // array — the same (d2, cid) total order as the Lloyd argmin, so
    // both engines agree bit-for-bit. True silhouette's all-pairs a/b
    // is corpus-quadratic; the centroid form is THE scale substitute
    // (its denominator work is |vectors|·KmK, same as one Lloyd round).
    "e_silhouette" -> ((s, dir) => {
      val (emb, cent) = kmCentroids(s, dir)
      val dOwn = "sqrt(greatest(t[0].d2, CAST(0 AS DOUBLE)))"
      val dOth = "sqrt(greatest(t[1].d2, CAST(0 AS DOUBLE)))"
      emb.crossJoin(broadcast(cent))
        .selectExpr("vec_id", "cid", KmD2Expr + " AS d2")
        .groupBy("vec_id")
        .agg(sort_array(collect_list(struct(col("d2"), col("cid"))))
          .as("t"))
        .selectExpr("vec_id", "t[0].cid AS cell",
          s"round($dOwn, 6) AS d_own",
          s"round($dOth, 6) AS d_other",
          s"round(CASE WHEN greatest($dOth, $dOwn) = CAST(0 AS DOUBLE) " +
            s"THEN CAST(0 AS DOUBLE) ELSE ($dOth - $dOwn) / " +
            s"greatest($dOth, $dOwn) END, 6) AS sil")
    }),

    // Corpus-level OOD shortlist: the OodTopN vectors FARTHEST from
    // their own k-means centroid — the outlier gate a curation run
    // applies before training (mislabeled/garbage embeddings sit far
    // from every cell). Reuses the final Lloyd's assignment (shared
    // kmFit body with e_kmeans — the two rows may not drift); the cut is
    // orderBy+limit on the ROUNDED distance with a vec_id tie-break —
    // TakeOrderedAndProject, map-side partial top-N, never a full sort.
    "e_ood_score" -> ((s, dir) => {
      kmFit(s, dir)
        .selectExpr("vec_id", "cell", "round(d2, 6) AS d2")
        .orderBy(col("d2").desc, col("vec_id"))
        .limit(OodTopN)
    }),

    // Product quantization — the codebook compression behind
    // billion-vector ANN indexes (64 float dims → PqM 3-bit codes here):
    // each dimension block trains its OWN KmK-centroid Lloyd codebook
    // (deterministic init + per-round 6-dp centroid rounding, exactly the
    // e_kmeans discipline), and every vector is encoded as its per-block
    // nearest-centroid ids. Shape at 100 TB: per block, assignment is a
    // broadcast of KmK tiny centroids into a full scan (no shuffle on the
    // vector side), update is one groupBy over the assignments; blocks
    // are independent pipelines joined on vec_id at the end.
    "e_pq" -> ((s, dir) => pqModel(s, dir)._1),

    // ADC (asymmetric distance) search over the PQ codes — how a
    // compressed ANN index actually answers queries: per query and
    // subspace, a KmK-entry lookup table of exact query-slice→centroid
    // distances; each database vector's approximate distance is then a
    // PqM-term table-lookup SUM — no touch of the original vectors.
    // Shape at 100 TB: the LUTs are queries × KmK rows (broadcast), the
    // code table is scanned once, and the top-k cut is a per-query
    // window over the rounded score with a deterministic tie-break.
    "e_pq_search" -> ((s, dir) => servedResult(s, dir, "e_pq_search") {
      val (codes, cents) = pqModel(s, dir)
      val ds = Dims / PqM
      val d2 = "vec_dot(v, v) - 2 * vec_dot(v, cv) + vec_dot(cv, cv)"
      val luts = (0 until PqM).map { j =>
        embDf(s, dir).where(col("vec_id") < NumQueries)
          .selectExpr("vec_id AS q_id", s"slice(v, ${j * ds + 1}, $ds) AS v")
          .crossJoin(broadcast(cents(j)))
          .selectExpr("q_id", s"cid$j", d2 + s" AS d$j")
      }
      val scored = luts.zipWithIndex.foldLeft(codes) { case (acc, (lut, j)) =>
        if (j == 0)
          acc.join(broadcast(lut), acc("code0") === lut("cid0")).drop("cid0")
        else
          acc.join(broadcast(lut),
            acc("q_id") === lut("q_id") && acc(s"code$j") === lut(s"cid$j"))
            .drop(lut("q_id")).drop(s"cid$j")
      }
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("dist").asc, col("vec_id").asc)
      scored
        .select(col("q_id"), col("vec_id"),
          round((0 until PqM).map(j => col(s"d$j")).reduce(_ + _), 6).as("dist"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= TopK)
    }),

    // IVF-ADC search — how a billion-vector compressed index actually
    // serves queries: the IVF coarse quantizer restricts each query to
    // its IvfProbes probed cells, and ONLY those candidates get the
    // PqM-term ADC table-lookup distance; the original vectors are never
    // touched at query time. Composes the two oracle-checked halves
    // unchanged (e_ann_ivf's cell structure, e_pq_search's LUT sum).
    // Shape at 100 TB: the candidate join shuffles 16-byte id pairs on
    // the cell id (cells are the natural partition axis of the code
    // store), the LUTs are queries × KmK rows (broadcast), and the ADC
    // scan touches probed-cells/cells of the codes instead of all of
    // them — that scan reduction is the entire point of IVF. cand is
    // structurally unique per (q_id, vec_id) (see ivfParts), so no
    // distinct is needed before the LUT joins.
    "e_ivfpq_search" -> ((s, dir) => servedResult(s, dir, "e_ivfpq_search") {
      val (assign, probe) = ivfParts(s, dir)
      val cand = assign.join(broadcast(probe), Seq("cell"))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"))
      val (codes, cents) = pqModel(s, dir)
      val ds = Dims / PqM
      val d2 = "vec_dot(v, v) - 2 * vec_dot(v, cv) + vec_dot(cv, cv)"
      val luts = (0 until PqM).map { j =>
        embDf(s, dir).where(col("vec_id") < NumQueries)
          .selectExpr("vec_id AS q_id", s"slice(v, ${j * ds + 1}, $ds) AS v")
          .crossJoin(broadcast(cents(j)))
          .selectExpr("q_id", s"cid$j", d2 + s" AS d$j")
      }
      val withCodes = cand.join(codes, Seq("vec_id"))
      val scored = luts.zipWithIndex.foldLeft(withCodes) { case (acc, (lut, j)) =>
        acc.join(broadcast(lut),
          acc("q_id") === lut("q_id") && acc(s"code$j") === lut(s"cid$j"))
          .drop(lut("q_id")).drop(s"cid$j")
      }
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("dist").asc, col("vec_id").asc)
      scored
        .select(col("q_id"), col("vec_id"),
          round((0 until PqM).map(j => col(s"d$j")).reduce(_ + _), 6).as("dist"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= TopK)
    }),

    // Scalar int8 quantization — the compression step an ANN index
    // applies before storage (4 bytes/dim → 1): per-vector min/max
    // affine scale to [0, 255]. Pure narrow projection, no shuffle; all
    // arithmetic is per-row and identical in both engines, so the
    // quantized codes hash-match exactly. Degenerate constant vectors
    // (max = min) map to code 0. The code list is emitted as a canonical
    // comma-joined string (not an array) so downstream comparators that
    // only handle scalar columns can sort/hash the result.
    "e_quantize" -> ((s, dir) => {
      VectorFunctions.register(s)
      Tables(s, dir, "embeddings")
        .selectExpr("vec_id",
          "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
        .selectExpr("vec_id", "v",
          "array_min(v) AS lo", "array_max(v) AS hi")
        .selectExpr("vec_id",
          "round(lo, 6) AS lo_r", "round((hi - lo) / 255.0, 9) AS scale",
          "CASE WHEN hi = lo THEN transform(v, x -> 0) " +
            "ELSE transform(v, x -> CAST(round((x - lo) / ((hi - lo) / 255.0), 0) AS INT)) " +
            "END AS q")
        .selectExpr("vec_id", "lo_r", "scale",
          "array_join(transform(q, x -> CAST(x AS STRING)), ',') AS q_codes")
    }),

    // Exact integer Gram matrix over the uint8-quantized vectors — the
    // second-moment scaffold a whitening/PCA pass reads (G[i,j] =
    // Σ_v q_i·q_j, upper triangle), computed the only way that survives
    // corpus scale: a per-partition typed fold into ONE d(d+1)/2-slot
    // mergeable accumulator, then a tiny (P × 2080)-row shuffle to
    // combine. Vectors never pairwise-join and codes never explode into
    // per-(vector, i, j) rows — the shuffled bytes are independent of
    // the vector count. Every moment is an exact BIGINT (255²·n sits
    // far inside 2⁶³ past 10¹² vectors), so the row hash-compares with
    // no float dispensation; quantization reuses e_quantize's affine
    // code spelling verbatim (the two rows may not drift).
    "e_qgram" -> ((s, dir) => qgramRows(s, dir)),

    "e_embed_dups" -> ((s, dir) => {
      val bk = bucketed(s, dir).select(col("vec_id"), col("tbl"), col("bkt"))
      val cand = bk.as("x").join(bk.as("y"),
          col("x.tbl") === col("y.tbl") && col("x.bkt") === col("y.bkt") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
        .distinct()
      val emb = embDf(s, dir)
      cand
        .join(emb.selectExpr("vec_id AS vec_a", "v AS qv", "nrm AS qnrm"), Seq("vec_a"))
        .join(emb.selectExpr("vec_id AS vec_b", "v", "nrm"), Seq("vec_b"))
        .selectExpr("vec_a", "vec_b",
          s"round($dotExpr / (qnrm * nrm), 6) AS cos")
        .where(col("cos") >= DupCosThreshold)
        .select(col("vec_a"), col("vec_b"), col("cos"))
    }),

    // SemDeDup-style semantic dedup: cluster the corpus with the k-means
    // trainer, then look for near-duplicate pairs ONLY inside a cluster —
    // the pruning that makes embedding dedup tractable at billion scale
    // (in-cluster pairing is quadratic in CELL size, never corpus size;
    // the cell is the shuffle key and the parallelism axis, and k scales
    // with the corpus to bound cell sizes). A vector is dropped when a
    // LOWER-id vector in the same cell has 6-dp-rounded cosine >=
    // SemDupThreshold (greedy keep-first rule — deterministic, no
    // transitive chasing). Output: every vector with its cell and an
    // integer keep flag.
    "e_semdedup" -> ((s, dir) =>
      semDedup(kmModel(s, dir).localCheckpoint(true), embDf(s, dir),
        SemDupThreshold, MaxSemCellDistinct)),

    // Two-stage truncated-dimension retrieval (Matryoshka-style): a cheap
    // shortlist pass scores only the first PrefixDims dims of each vector
    // — at scale the prefix is a separate, 4× smaller column/store, so
    // the full vectors stream through ONLY for the ≤ PrefixShortlist
    // survivors per query — then the exact full-dim cosine reranks the
    // shortlist. Recall < 1 vs e_cosine_topk by design; deterministic
    // given the 6-dp-rounded prefix score + id tie-break, so the oracle
    // replays it exactly.
    "e_prefix_rerank" -> ((s, dir) => {
      val emb = embDf(s, dir)
      val pre = emb.selectExpr("vec_id", s"slice(v, 1, $PrefixDims) AS p")
        .selectExpr("vec_id", "p", "sqrt(vec_dot(p, p)) AS pnrm")
      val qp = pre.where(col("vec_id") < NumQueries)
        .selectExpr("vec_id AS q_id", "p AS qp", "pnrm AS qpnrm")
      val wS = Window.partitionBy(col("q_id"))
        .orderBy(col("pcos").desc, col("vec_id").asc)
      val short = pre.crossJoin(broadcast(qp))
        .where(col("vec_id") =!= col("q_id"))
        .selectExpr("q_id", "vec_id",
          "round(vec_dot(qp, p) / (qpnrm * pnrm), 6) AS pcos")
        .withColumn("rn", row_number().over(wS))
        .where(col("rn") <= PrefixShortlist)
        .select(col("q_id"), col("vec_id"))
      val q = emb.selectExpr("vec_id AS q_id", "v AS qv", "nrm AS qnrm")
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc)
      short.join(broadcast(q), Seq("q_id"))
        .join(emb, Seq("vec_id"))
        .selectExpr("q_id", "vec_id",
          s"round($dotExpr / (qnrm * nrm), 6) AS cos")
        .withColumn("rk", rank().over(w))
        .where(col("rk") <= TopK)
        .select(col("q_id"), col("vec_id"), col("cos"), col("rk"))
    }),

    // Binary-quantization search: sign-bit codes (two BIGINT halves =
    // 16 bytes/vector, 64× smaller than the doubles), Hamming-distance
    // shortlist over the CODE columns only, exact-cosine rerank for the
    // ≤ BqShortlist survivors per query.
    //
    // Scale shape: the shortlist pass never touches the vector column —
    // at 100 TB the code store is its own 16-byte-wide table and the
    // whole scan is two integer XOR+popcounts per row (codegen'd);
    // queries are broadcast; full vectors stream through the rerank join
    // only for survivors (the e_prefix_rerank discipline). Deterministic:
    // integer Hamming + id tie-break for the shortlist, 6-dp-rounded
    // cosine + id tie-break for the final cut.
    "e_bq_search" -> ((s, dir) =>
      servedResult(s, dir, "e_bq_search")(
        bqSearch(s, embDf(s, dir), MaxBqQueryBroadcast))),

    // Cluster-balanced corpus subsetting: cap each semantic k-means
    // cell at CbPerCell vectors, drawing the survivors by a seeded
    // per-id key (the mixed id — a production run salts a content
    // fingerprint instead, cf. d_weighted_sample) — the
    // diversity-preserving downsampling that stops over-represented
    // semantic clusters (boilerplate-heavy crawl slices) from
    // dominating a training mix while tail clusters survive intact.
    // Shape: rides the k-means assignment (cell = shuffle key); the
    // per-cell cut is a WindowGroupLimit, each map task ships at most
    // CbPerCell rows per cell.
    "e_cluster_balance" -> ((s, dir) => {
      val asg = kmModel(s, dir).localCheckpoint(true)
      val w = Window.partitionBy(col("cell"))
        .orderBy(col("skey").asc, col("vec_id").asc)
      asg.selectExpr("vec_id", "cell",
          s"${graft.graph.Hashing.spark.kmvMix(
            s"(vec_id % ${graft.graph.Hashing.P})")} AS skey")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= CbPerCell)
    }),

    // Hard-negative mining for embedding-model training: per query, the
    // HnK most-similar vectors with a DIFFERENT label (same label =
    // positive; near-duplicates above HnDupMax are excluded as probable
    // mislabeled positives). These are the negatives contrastive /
    // triplet training actually learns from — random negatives are too
    // easy. Shape: the label column rides the existing broadcast-query
    // cosine pass (one corpus scan, queries broadcast); the tie-inclusive
    // per-query cut is the same rank discipline as e_cosine_topk. At
    // corpus scale the candidate generator swaps for the ANN shortlist
    // (e_ann_lsh / e_bq_search) without changing the mining semantics.
    "e_hard_negatives" -> ((s, dir) => {
      VectorFunctions.register(s)
      val lab = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      val emb = embDf(s, dir).join(lab, Seq("vec_id"))
      val q = emb.where(col("vec_id") < NumQueries)
        .selectExpr("vec_id AS q_id", "v AS qv", "nrm AS qnrm",
          "label AS q_label")
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc)
      emb.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id") &&
          col("label") =!= col("q_label"))
        .selectExpr("q_id", "vec_id", "label",
          s"round($dotExpr / (qnrm * nrm), 6) AS cos")
        .where(col("cos") < HnDupMax)
        .withColumn("rk", rank().over(w))
        .where(col("rk") <= HnK)
        .select(col("q_id"), col("vec_id"), col("label"), col("cos"),
          col("rk"))
    }),

    // MMR-diversified retrieval: greedy maximal-marginal-relevance
    // selection of MmrK results from a MmrShortlist-candidate shortlist
    // per query — the diversified-retrieval stage a RAG / training-data
    // curation pipeline runs after ANN (near-identical top hits waste a
    // context window / training batch). Deterministic given the
    // 6-dp-rounded cosines + id tie-breaks, so the oracle replays the
    // greedy EXACTLY (unrolled to MmrK steps in SQL).
    //
    // Scale shape: the shortlist here comes from the exact scorer (oracle
    // checkability); at scale it composes with any of the ANN paths. The
    // MMR stage itself only ever sees m = MmrShortlist rows per query:
    // the pair-similarity self-join is keyed on q_id (m² bounded rows per
    // query, never corpus-quadratic), and the greedy runs as a typed
    // cogroup kernel — one task per query batch, O(k·m) comparisons and
    // no float arithmetic beyond λ·rel − (1−λ)·maxsim over
    // already-rounded inputs, so both engines rank bit-identically.
    "e_mmr_rerank" -> ((s, dir) => {
      VectorFunctions.register(s)
      import s.implicits._
      val wS = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      val cand = cosineJoined(s, dir)
        .withColumn("rn", row_number().over(wS))
        .where(col("rn") <= MmrShortlist)
        .select(col("q_id"), col("vec_id"), col("cos").as("rel"))
        .localCheckpoint(true) // read twice: greedy input + pair sims
      val withV = cand
        .join(embDf(s, dir).select(col("vec_id"), col("v"), col("nrm")),
          Seq("vec_id"))
        .select(col("q_id"), col("vec_id"), col("v"), col("nrm"))
      val pairs = withV.as("a").join(withV.as("b"),
          col("a.q_id") === col("b.q_id") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .selectExpr("a.q_id AS q_id", "a.vec_id AS a_id", "b.vec_id AS b_id",
          "round(vec_dot(a.v, b.v) / (a.nrm * b.nrm), 6) AS sim")
      val candKv = cand.as[(Long, Long, Double)].groupByKey(_._1)
      val pairKv = pairs.as[(Long, Long, Long, Double)].groupByKey(_._1)
      candKv.cogroup(pairKv) { (q, cs, ps) =>
        val rel = cs.map(c => c._2 -> c._3).toMap
        val sim = ps.map(p => (p._2, p._3) -> p._4).toMap
        val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
        var step = 1
        while (step <= MmrK && selected.length < rel.size) {
          var bestId = Long.MaxValue
          var bestScore = Double.NegativeInfinity
          for ((c, r) <- rel if !selected.contains(c)) {
            val pen = if (selected.isEmpty) 0.0
              else selected.iterator.map(sid => sim((c, sid))).max
            val score = MmrLambda * r - MmrOneMinusLambda * pen
            if (score > bestScore || (score == bestScore && c < bestId)) {
              bestScore = score
              bestId = c
            }
          }
          out += ((q, bestId, step))
          selected += bestId
          step += 1
        }
        out.iterator
      }.toDF("q_id", "vec_id", "rk")
    }),

    // ANN recall evaluation: recall@LshTopK of the multi-table LSH index
    // against the exact cosine ground truth — the quality measurement any
    // production ANN deployment runs before trading exactness for speed.
    // Composes the two oracle-checked queries; hits join on 16-byte id
    // pairs (vectors never re-attach), the per-query count is one small
    // aggregate. Tie-inclusive ground truth: n_exact can exceed k, and
    // recall is hits over the tie-inclusive set.
    // Matryoshka prefix-recall curve: recall@k of a d-dim PREFIX scan
    // against the exact full-dim top-k, per truncation d ∈ {8, 16, 32} —
    // the measurement that tells a practitioner how many leading dims a
    // truncated index needs BEFORE building it (Kusupati et al. 2022's
    // evaluation, over whatever embeddings are in the table). The exact
    // top-k set is computed ONCE (localCheckpoint) and re-joined by all
    // three prefix passes; each pass is the e_prefix_rerank shortlist
    // shape with k instead of the rerank shortlist, so the scan cost is
    // 3 broadcast passes over the codes — never a re-derivation of the
    // exact baseline.
    "e_prefix_recall" -> ((s, dir) => {
      val emb = embDf(s, dir)
      val exact = queries("e_cosine_topk")(s, dir)
        .select(col("q_id"), col("vec_id"))
        .localCheckpoint(true)
      PrefixRecallDims.map { d =>
        val pre = emb.selectExpr("vec_id", s"slice(v, 1, $d) AS p")
          .selectExpr("vec_id", "p", "sqrt(vec_dot(p, p)) AS pnrm")
        val qp = pre.where(col("vec_id") < NumQueries)
          .selectExpr("vec_id AS q_id", "p AS qp", "pnrm AS qpnrm")
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("pcos").desc, col("vec_id").asc)
        val ptop = pre.crossJoin(broadcast(qp))
          .where(col("vec_id") =!= col("q_id"))
          .selectExpr("q_id", "vec_id",
            "round(vec_dot(qp, p) / (qpnrm * pnrm), 6) AS pcos")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= TopK)
          .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
        exact.join(ptop, Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
          .selectExpr(s"CAST($d AS INT) AS dims", "q_id", "n_exact",
            "n_hit", "round(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall")
      }.reduce(_.unionAll(_))
    }),

    "e_ann_recall" -> ((s, dir) => {
      val exact = queries("e_cosine_topk")(s, dir)
        .where(col("rk") <= LshTopK)
        .select(col("q_id"), col("vec_id"))
      val ann = queries("e_ann_lsh")(s, dir)
        .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
      exact.join(ann, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
        .selectExpr("q_id", "n_exact", "n_hit",
          "round(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall")
    }),

    // Recall@k of the binary-quantization search vs the exact
    // (tie-inclusive) cosine top-k — the quality number that justifies
    // (or vetoes) the 64× compression; same composition shape as
    // e_ann_recall. On THIS corpus's near-uniform random vectors it
    // measures ≈ 0.5 (sign-bit Hamming carries the 1−θ/π per-dim signal
    // but top-10-of-corpus from a 30-shortlist is a hard target on
    // unclustered data) — exactly the number a practitioner needs
    // BEFORE deploying the compressed path; real embedding spaces
    // cluster and score far higher.
    "e_bq_recall" -> ((s, dir) => {
      val exact = queries("e_cosine_topk")(s, dir)
        .select(col("q_id"), col("vec_id"))
      val bq = queries("e_bq_search")(s, dir)
        .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
      exact.join(bq, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
        .selectExpr("q_id", "n_exact", "n_hit",
          "round(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall")
    }),

    // Recall@k of the PQ-ADC path vs the exact (tie-inclusive) cosine
    // top-k — the number that prices the codebook compression (PqM
    // blocks × KmK centroids) before a deployment trusts it. Same
    // composition shape as e_bq_recall; extends the recall family to
    // all five index paths (LSH / BQ / IVF / PQ / IVF-PQ).
    "e_pq_recall" -> ((s, dir) => {
      val exact = queries("e_cosine_topk")(s, dir)
        .select(col("q_id"), col("vec_id"))
      val pq = queries("e_pq_search")(s, dir)
        .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
      exact.join(pq, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
        .selectExpr("q_id", "n_exact", "n_hit",
          "round(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall")
    }),

    // Recall@k of the composed IVF-ADC path — both approximations at
    // once (probe restriction × codebook distances), the configuration
    // an actual billion-vector serving index runs; read next to
    // e_pq_recall and e_ivf_recall it attributes the loss between the
    // two mechanisms.
    "e_ivfpq_recall" -> ((s, dir) => {
      val exact = queries("e_cosine_topk")(s, dir)
        .select(col("q_id"), col("vec_id"))
      val ipq = queries("e_ivfpq_search")(s, dir)
        .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
      exact.join(ipq, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
        .selectExpr("q_id", "n_exact", "n_hit",
          "round(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall")
    }),

    // Recall@k of the IVF probe path vs the exact (tie-inclusive) cosine
    // top-k — completes the recall triptych (LSH / BQ / IVF): the number
    // that prices the probe count before raising it. Same composition
    // shape as e_ann_recall.
    "e_ivf_recall" -> ((s, dir) => {
      val exact = queries("e_cosine_topk")(s, dir)
        .where(col("rk") <= IvfTopK)
        .select(col("q_id"), col("vec_id"))
      val ivf = queries("e_ann_ivf")(s, dir)
        .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
      exact.join(ivf, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
        .selectExpr("q_id", "n_exact", "n_hit",
          "round(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall")
    }),

    // Recall-vs-nprobe CURVE — the parameter sweep that prices the IVF
    // accuracy/cost knob (one probed cell to the full centroid scan,
    // whose recall is 1 by construction): per axis point the e_ann_ivf
    // body at that probe count, micro-averaged against the exact
    // tie-inclusive top-k as EXACT integer hit/total sums with one
    // trailing division (no float-accumulation order anywhere), one row
    // per nprobe. Candidate volume scales with nprobe/C of the corpus
    // per query - the knob a 100 TB deployment tunes against this exact
    // curve.
    "e_ivf_probe_curve" -> ((s, dir) => {
      val exact = queries("e_cosine_topk")(s, dir)
        .where(col("rk") <= IvfTopK)
        .select(col("q_id"), col("vec_id"))
        .localCheckpoint(true) // shared by every axis point
      IvfProbeAxis.map { np =>
        val ivf = annIvf(s, dir, np)
          .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
        exact.join(ivf, Seq("q_id", "vec_id"), "left")
          .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
          .selectExpr(s"CAST($np AS INT) AS nprobe", "n_exact", "n_hit",
            "round(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall")
      }.reduce(_.unionAll(_))
    })
  )

  // --------------------------------------------------------------- oracle

  /** Self-contained scored-kNN-edge SQL `(src, dst, cos)` — oracle twin
    * of [[knnScoredEdges]]: K = [[KnnK]] for the `e_knn_ppr` /
    * `e_mutual_knn` oracles, K = [[NswM]] for the NSW routing oracles
    * (nested WITH is scoped to the enclosing subquery, so its CTE names
    * cannot collide with wrapping CTEs).
    */
  private def duckKnnScoredSql(k: Int = KnnK): String = {
    def dotOf(a: String, b: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> $a.v[i] * $b.v[i])), (a, x) -> a + x)"
    s"""WITH $duckBase,
       |$duckBucketed,
       |candab AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM bk x JOIN bk y ON y.tbl = x.tbl AND y.bkt = x.bkt
       |    AND x.vec_id < y.vec_id),
       |cand AS (SELECT vec_a AS v, vec_b AS nbr FROM candab
       |  UNION ALL SELECT vec_b AS v, vec_a AS nbr FROM candab),
       |scored AS (SELECT cand.v, cand.nbr,
       |  round(${dotOf("a", "b")} / (a.nrm * b.nrm), 6) AS cos
       |  FROM cand JOIN embn a ON a.vec_id = cand.v
       |    JOIN embn b ON b.vec_id = cand.nbr)
       |SELECT v AS src, nbr AS dst, cos FROM (
       |  SELECT v, nbr, cos,
       |    row_number() OVER (PARTITION BY v ORDER BY cos DESC, nbr ASC) AS rn
       |  FROM scored) WHERE rn <= $k""".stripMargin
  }

  /** Oracle twin of [[nswGraph]]: the LSH-seeded NswM-out kNN edges,
    * [[NswDescentRounds]] unrolled NN-descent rounds (candidates =
    * neighbors ∪ neighbors-of-neighbors on the symmetrized current
    * graph, re-scored, top-M by the identical (cos DESC, nbr ASC)
    * rounded order), final symmetrize. UNION/DISTINCT match Spark's
    * unionAll + distinct set semantics; `embn` resolves to the
    * enclosing oracle's duckBase.
    */
  private def duckNswGraphSql: String = {
    val dotAB =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> a.v[i] * b.v[i])), " +
        s"(acc, x) -> acc + x)"
    val rounds = (1 to NswDescentRounds).map { r =>
      val p = r - 1
      s"""u$r AS MATERIALIZED (SELECT src, dst FROM g$p
         |  UNION SELECT dst AS src, src AS dst FROM g$p),
         |c$r AS MATERIALIZED (SELECT DISTINCT v, nbr FROM (
         |  SELECT src AS v, dst AS nbr FROM u$r
         |  UNION ALL SELECT x.src AS v, y.dst AS nbr
         |    FROM u$r x JOIN u$r y ON y.src = x.dst) cc
         |  WHERE v <> nbr),
         |g$r AS MATERIALIZED (SELECT v AS src, nbr AS dst FROM (
         |  SELECT v, nbr, row_number() OVER (
         |    PARTITION BY v ORDER BY cos DESC, nbr ASC) AS rn
         |  FROM (SELECT c.v, c.nbr,
         |      round($dotAB / (a.nrm * b.nrm), 6) AS cos
         |    FROM c$r c JOIN embn a ON a.vec_id = c.v
         |    JOIN embn b ON b.vec_id = c.nbr) sc) z
         |  WHERE z.rn <= $NswM)""".stripMargin
    }.mkString(",\n")
    s"""WITH g0 AS MATERIALIZED (SELECT src, dst
       |  FROM (${duckKnnScoredSql(NswM)})),
       |$rounds
       |SELECT src, dst FROM g$NswDescentRounds
       |UNION SELECT dst AS src, src AS dst FROM g$NswDescentRounds""".stripMargin
  }

  private val duckBase =
    s"""emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |embn AS (SELECT vec_id, v,
       |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm FROM emb)""".stripMargin

  private val duckDot =
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(range(1, 65), i -> q.v[i] * c.v[i])), (a, x) -> a + x)"

  private def duckBucketExpr(v: String, t: Int): String = (0 until LshBits)
    .map(b => s"(CASE WHEN $v[${t * LshBits + b + 1}] >= 0 THEN ${1 << b} ELSE 0 END)")
    .mkString(" + ")

  private val duckBucketed =
    s"""bk AS (${(0 until LshTables).map(t =>
          s"SELECT vec_id, v, nrm, $t AS tbl, ${duckBucketExpr("v", t)} AS bkt FROM embn")
          .mkString(" UNION ALL ")})""".stripMargin

  /** Full `e_cosine_topk` oracle statement — also nested (as a scoped
    * subquery) inside the `e_ann_recall` oracle.
    */
  private val duckCosineTopkSql =
    s"""WITH $duckBase,
       |cosj AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |  round($duckDot / (q.nrm * c.nrm), 6) AS cos
       |  FROM embn q JOIN embn c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries)
       |SELECT q_id, vec_id, cos, rk FROM (
       |  SELECT q_id, vec_id, cos,
       |    rank() OVER (PARTITION BY q_id ORDER BY cos DESC) AS rk FROM cosj)
       |WHERE rk <= $TopK""".stripMargin

  /** Full `e_ann_ivf` oracle statement — shared with `e_ivf_recall`;
    * the probe-count-parameterized form feeds `e_ivf_probe_curve`.
    */
  private lazy val duckAnnIvfSql: String = duckAnnIvfSqlAt(IvfProbes)

  private def duckAnnIvfSqlAt(probes: Int): String = {
    // dot product between aliased embn rows a and b (64 dims).
    def dotOf(a: String, b: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> $a.v[i] * $b.v[i])), (a, x) -> a + x)"
    s"""WITH $duckBase,
       |cent AS (SELECT CAST(vec_id - $NumQueries AS INT) AS cid, v, nrm
       |  FROM embn WHERE vec_id BETWEEN $NumQueries AND ${NumQueries + IvfCentroids - 1}),
       |scored AS (SELECT e.vec_id, c.cid,
       |    ${dotOf("e", "c")} / (e.nrm * c.nrm) AS cc
       |  FROM embn e CROSS JOIN cent c),
       |assign AS (SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid ASC) AS rn
       |    FROM scored) WHERE rn = 1),
       |probe AS (SELECT vec_id AS q_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid ASC) AS rn
       |    FROM scored WHERE vec_id < $NumQueries) WHERE rn <= $probes),
       |cand AS (SELECT DISTINCT p.q_id, a.vec_id
       |  FROM probe p JOIN assign a ON a.cell = p.cell
       |  WHERE a.vec_id <> p.q_id),
       |cosj AS (SELECT cand.q_id, cand.vec_id,
       |  round(${dotOf("q", "c")} / (q.nrm * c.nrm), 6) AS cos
       |  FROM cand JOIN embn q ON q.vec_id = cand.q_id
       |    JOIN embn c ON c.vec_id = cand.vec_id)
       |SELECT q_id, vec_id, cos, rk FROM (
       |  SELECT q_id, vec_id, cos,
       |    rank() OVER (PARTITION BY q_id ORDER BY cos DESC) AS rk FROM cosj)
       |WHERE rk <= $IvfTopK""".stripMargin
  }

  /** Full `e_ann_lsh` oracle statement — likewise shared with recall. */
  private val duckAnnLshSql =
    s"""WITH $duckBase,
       |$duckBucketed,
       |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
       |  FROM bk q JOIN bk c ON c.tbl = q.tbl AND c.bkt = q.bkt
       |    AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries),
       |cosj AS (SELECT cand.q_id, cand.vec_id,
       |  round($duckDot / (q.nrm * c.nrm), 6) AS cos
       |  FROM cand JOIN embn q ON q.vec_id = cand.q_id
       |    JOIN embn c ON c.vec_id = cand.vec_id)
       |SELECT q_id, vec_id, cos, rk FROM (
       |  SELECT q_id, vec_id, cos,
       |    rank() OVER (PARTITION BY q_id ORDER BY cos DESC) AS rk FROM cosj)
       |WHERE rk <= $LshTopK""".stripMargin

  /** DuckDB twin of [[kmModel]] — the Lloyd CTE chain, returned WITHOUT
    * the leading `WITH`, ending in CTE `asg (vec_id, cell)` (MATERIALIZED:
    * `e_semdedup` reads it twice). d2 between emb row e and centroid row c
    * keeps the same three-fold shape (and evaluation order) as the Spark
    * side; `emb` (64-dim double vectors) stays visible to callers.
    */
  private def kmeansAssignCtes: String = {
    def fold(body: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, ${Dims + 1}), i -> $body)), (a, x) -> a + x)"
    val d2 = s"${fold("e.v[i] * e.v[i]")} - 2 * ${fold("e.v[i] * c.cv[i]")}" +
      s" + ${fold("c.cv[i] * c.cv[i]")}"
    val cvList = (1 to Dims).map(i => s"round(avg(e.v[$i]), 6)")
      .mkString("[", ", ", "]")
    val sb = new StringBuilder
    sb ++= s"emb AS MATERIALIZED (SELECT vec_id, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),\n"
    sb ++= s"cent0 AS MATERIALIZED (SELECT CAST(vec_id AS INT) AS cid, v AS cv " +
      s"FROM emb WHERE vec_id < $KmK),\n"
    for (i <- 0 until KmIters) {
      sb ++= s"as$i AS MATERIALIZED (SELECT vec_id, cid AS cell FROM (" +
        s"SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
        s"ORDER BY $d2 ASC, c.cid ASC) AS rn FROM emb e CROSS JOIN cent$i c) " +
        "WHERE rn = 1),\n"
      sb ++= s"cent${i + 1} AS MATERIALIZED (SELECT a.cell AS cid, $cvList AS cv " +
        s"FROM as$i a JOIN emb e ON e.vec_id = a.vec_id GROUP BY a.cell),\n"
    }
    sb ++= s"fin AS MATERIALIZED (SELECT e.vec_id, c.cid, $d2 AS d2, row_number() OVER (" +
      s"PARTITION BY e.vec_id ORDER BY $d2 ASC, c.cid ASC) AS rn " +
      s"FROM emb e CROSS JOIN cent$KmIters c),\n"
    sb ++= "asg AS MATERIALIZED (SELECT vec_id, cid AS cell, d2 " +
      "FROM fin WHERE rn = 1)"
    sb.toString
  }

  /** DuckDB twin of [[pcaPower]] + the `e_pca_power` projection: exact
    * INT Gram (the e_qgram CTE), full-matrix rows as j-ordered lists,
    * [[PcaIters]] unrolled matvec/normalize rounds, Rayleigh λ, then the
    * per-vector projection — every float fold 0-seeded ascending, the
    * same arithmetic sequence the Spark side executes.
    */
  private def pcaOracleSql: String = {
    val d = Dims
    def fold(body: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, ${d + 1}), i -> $body)), (a, x) -> a + x)"
    val sb = new StringBuilder
    sb ++= "WITH emb AS MATERIALIZED (SELECT vec_id, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),\n"
    sb ++= "mm AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi FROM emb),\n"
    sb ++= "qq AS MATERIALIZED (SELECT vec_id, " +
      "CASE WHEN hi = lo THEN list_transform(v, x -> 0) " +
      "ELSE list_transform(v, x -> " +
      "CAST(round((x - lo) / ((hi - lo) / 255.0), 0) AS INT)) END AS q " +
      "FROM mm),\n"
    sb ++= s"tri AS MATERIALIZED (SELECT CAST(u.i AS INT) AS i, " +
      "CAST(w.j AS INT) AS j, " +
      "CAST(sum(q[CAST(u.i AS INT) + 1] * q[CAST(w.j AS INT) + 1]) " +
      s"AS BIGINT) AS g FROM qq, UNNEST(range(0, $d)) AS u(i), " +
      s"UNNEST(range(0, $d)) AS w(j) WHERE u.i <= w.j GROUP BY 1, 2),\n"
    sb ++= "fullg AS (SELECT i, j, g FROM tri " +
      "UNION ALL SELECT j AS i, i AS j, g FROM tri WHERE i <> j),\n"
    sb ++= "grows AS MATERIALIZED (SELECT i, " +
      "list(CAST(g AS DOUBLE) ORDER BY j) AS gr FROM fullg GROUP BY i),\n"
    sb ++= s"v0 AS (SELECT list_transform(range(1, ${d + 1}), x -> " +
      s"CAST(1 AS DOUBLE) / sqrt(CAST($d AS DOUBLE))) AS v),\n"
    for (k <- 1 to PcaIters) {
      sb ++= s"t$k AS (SELECT g.i AS i, ${fold("g.gr[i] * p.v[i]")} AS t " +
        s"FROM grows g CROSS JOIN v${k - 1} p),\n"
      val mat = if (k == PcaIters) "MATERIALIZED " else ""
      sb ++= s"v$k AS $mat(SELECT list_transform(lt, x -> x / sqrt(n2)) AS v " +
        "FROM (SELECT lt, list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(lt, x -> x * x)), (a, x) -> a + x) AS n2 " +
        s"FROM (SELECT list(t ORDER BY i) AS lt FROM t$k))),\n"
    }
    sb ++= s"tf AS (SELECT g.i AS i, ${fold("g.gr[i] * p.v[i]")} AS t " +
      s"FROM grows g CROSS JOIN v$PcaIters p),\n"
    sb ++= "lamt AS (SELECT list(t ORDER BY i) AS lt FROM tf),\n"
    sb ++= s"lam AS (SELECT ${fold("p.v[i] * l.lt[i]")} AS lam " +
      s"FROM v$PcaIters p CROSS JOIN lamt l),\n"
    sb ++= "qdq AS (SELECT vec_id, " +
      "list_transform(q, x -> CAST(x AS DOUBLE)) AS qd FROM qq)\n"
    sb ++= s"SELECT e.vec_id, round(${fold("e.qd[i] * p.v[i]")}, 6) AS pc1, " +
      s"round(lam.lam, 6) AS eigval FROM qdq e CROSS JOIN v$PcaIters p " +
      "CROSS JOIN lam"
    sb.toString
  }

  /** Full `e_bq_search` oracle statement — shared with `e_bq_recall`. */
  private lazy val duckBqSearchSql =
    s"""WITH $duckBase,
       |bq AS MATERIALIZED (SELECT vec_id, ${bqPackDuck("v", 0)} AS lo,
       |  ${bqPackDuck("v", 32)} AS hi FROM embn),
       |qb AS (SELECT vec_id AS q_id, lo AS qlo, hi AS qhi FROM bq
       |  WHERE vec_id < $NumQueries),
       |shortl AS (SELECT q_id, vec_id, ham FROM (
       |  SELECT q.q_id, c.vec_id,
       |    CAST(bit_count(xor(c.lo, q.qlo)) + bit_count(xor(c.hi, q.qhi)) AS INT) AS ham,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY bit_count(xor(c.lo, q.qlo)) + bit_count(xor(c.hi, q.qhi)) ASC,
       |        c.vec_id ASC) AS rn
       |  FROM bq c JOIN qb q ON c.vec_id <> q.q_id) WHERE rn <= $BqShortlist),
       |cosj AS (SELECT s.q_id, s.vec_id, s.ham,
       |  round($duckDot / (q.nrm * c.nrm), 6) AS cos
       |  FROM shortl s JOIN embn q ON q.vec_id = s.q_id
       |    JOIN embn c ON c.vec_id = s.vec_id)
       |SELECT q_id, vec_id, ham, cos, rk FROM (
       |  SELECT q_id, vec_id, ham, cos, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk FROM cosj)
       |WHERE rk <= $BqTopK""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "e_cosine_topk" -> duckCosineTopkSql,
    "e_range_search" ->
      s"""WITH $duckBase,
         |cosj AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |  round($duckDot / (q.nrm * c.nrm), 6) AS cos
         |  FROM embn q JOIN embn c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumQueries),
         |hits AS (SELECT q_id, vec_id, cos FROM cosj WHERE cos >= $RangeTau)
         |SELECT q_id, vec_id, cos,
         |  count(*) OVER (PARTITION BY q_id) AS n_in_range
         |FROM hits""".stripMargin,
    "e_hard_negatives" ->
      s"""WITH $duckBase,
         |cosj AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id, cl.label,
         |  round($duckDot / (q.nrm * c.nrm), 6) AS cos
         |  FROM embn q JOIN embn c ON c.vec_id <> q.vec_id
         |  JOIN embeddings ql ON ql.vec_id = q.vec_id
         |  JOIN embeddings cl ON cl.vec_id = c.vec_id
         |  WHERE q.vec_id < $NumQueries AND cl.label <> ql.label),
         |f AS (SELECT * FROM cosj WHERE cos < $HnDupMax)
         |SELECT q_id, vec_id, label, cos, rk FROM (
         |  SELECT q_id, vec_id, label, cos,
         |    rank() OVER (PARTITION BY q_id ORDER BY cos DESC) AS rk FROM f)
         |WHERE rk <= $HnK""".stripMargin,
    "e_ann_lsh" -> duckAnnLshSql,
    "e_ann_recall" ->
      s"""WITH ex AS (SELECT q_id, vec_id FROM ($duckCosineTopkSql)
         |  WHERE rk <= $LshTopK),
         |an AS (SELECT q_id, vec_id, 1 AS hit FROM ($duckAnnLshSql))
         |SELECT ex.q_id, count(*) AS n_exact, count(an.hit) AS n_hit,
         | round(CAST(count(an.hit) AS DOUBLE) / count(*), 6) AS recall
         |FROM ex LEFT JOIN an ON an.q_id = ex.q_id AND an.vec_id = ex.vec_id
         |GROUP BY ex.q_id""".stripMargin,
    "e_ann_ivf" -> duckAnnIvfSql,
    "e_ivf_probe_curve" -> IvfProbeAxis.map { np =>
      s"""SELECT * FROM (
         |WITH ex AS (SELECT q_id, vec_id FROM ($duckCosineTopkSql)
         |  WHERE rk <= $IvfTopK),
         |an AS (SELECT q_id, vec_id, 1 AS hit
         |  FROM (${duckAnnIvfSqlAt(np)}))
         |SELECT CAST($np AS INT) AS nprobe, count(*) AS n_exact,
         |  count(an.hit) AS n_hit,
         |  round(CAST(count(an.hit) AS DOUBLE) / count(*), 6) AS recall
         |FROM ex LEFT JOIN an
         |  ON an.q_id = ex.q_id AND an.vec_id = ex.vec_id)""".stripMargin
    }.mkString("\nUNION ALL\n"),
    "e_ivf_recall" ->
      s"""WITH ex AS (SELECT q_id, vec_id FROM ($duckCosineTopkSql)
         |  WHERE rk <= $IvfTopK),
         |an AS (SELECT q_id, vec_id, 1 AS hit FROM ($duckAnnIvfSql))
         |SELECT ex.q_id, count(*) AS n_exact, count(an.hit) AS n_hit,
         | round(CAST(count(an.hit) AS DOUBLE) / count(*), 6) AS recall
         |FROM ex LEFT JOIN an
         |  ON an.q_id = ex.q_id AND an.vec_id = ex.vec_id
         |GROUP BY ex.q_id""".stripMargin,
    "e_knn_ppr" -> graft.ppr.PowerIteration.oracleSqlMulti(
      s"SELECT src, dst FROM (${duckKnnScoredSql()})",
      KnnSources, KnnAlpha, KnnIters),
    "e_mutual_knn" ->
      s"""WITH e AS MATERIALIZED (${duckKnnScoredSql()})
         |SELECT f.src AS vec_a, f.dst AS vec_b, f.cos
         |FROM e f JOIN e r ON r.src = f.dst AND r.dst = f.src
         |WHERE f.src < f.dst""".stripMargin,
    "e_nsw_search" -> {
      def dot(qa: String, na: String) =
        s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
          s"list_transform(range(1, 65), i -> $qa[i] * $na[i])), " +
          s"(a, x) -> a + x)"
      val steps = (1 to NswSteps).map { t =>
        val p = t - 1
        s"""b$t AS MATERIALIZED (SELECT q_id, dst AS bn, ncos FROM (
           |  SELECT x.q_id, x.dst, x.ncos, row_number() OVER (
           |    PARTITION BY x.q_id ORDER BY x.ncos DESC, x.dst ASC) AS rn
           |  FROM (SELECT st.q_id, e.dst,
           |      round(${dot("st.qv", "nb.v")} / (st.qnrm * nb.nrm), 6)
           |        AS ncos
           |    FROM s$p st JOIN knn e ON e.src = st.cur
           |    JOIN embn nb ON nb.vec_id = e.dst) x) y WHERE y.rn = 1),
           |s$t AS MATERIALIZED (SELECT st.q_id, st.qv, st.qnrm, st.entry,
           |  CASE WHEN b.ncos > st.cos THEN b.bn ELSE st.cur END AS cur,
           |  CASE WHEN b.ncos > st.cos THEN b.ncos ELSE st.cos END AS cos,
           |  CASE WHEN b.ncos > st.cos THEN st.steps + 1 ELSE st.steps END
           |    AS steps
           |  FROM s$p st LEFT JOIN b$t b ON b.q_id = st.q_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $duckBase,
         |knn AS MATERIALIZED ($duckNswGraphSql),
         |ent AS (SELECT min(src) AS entry FROM knn
         |  WHERE src >= $NumQueries),
         |s0 AS MATERIALIZED (SELECT q.vec_id AS q_id, q.v AS qv,
         |  q.nrm AS qnrm, ent.entry, ent.entry AS cur,
         |  round(${dot("q.v", "ev.v")} / (q.nrm * ev.nrm), 6) AS cos,
         |  CAST(0 AS BIGINT) AS steps
         |  FROM embn q CROSS JOIN ent JOIN embn ev
         |    ON ev.vec_id = ent.entry
         |  WHERE q.vec_id < $NumQueries),
         |$steps
         |SELECT q_id, entry, cur AS found_id, cos, steps
         |FROM s$NswSteps""".stripMargin
    },
    "e_nsw_recall" -> {
      // the identical beam schedule, unrolled per (ef, hop): candidates
      // dedupe on (q_id, node) BEFORE scoring, beams rank on the same
      // (cos DESC, node ASC) rounded-cosine order as Spark.
      def dot(qa: String, na: String) =
        s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
          s"list_transform(range(1, 65), i -> $qa[i] * $na[i])), " +
          s"(a, x) -> a + x)"
      NswEfAxis.map { ef =>
        val hops = (1 to NswSteps).map { t =>
          val p = t - 1
          s"""c$t AS MATERIALIZED (SELECT d.q_id, d.node,
             |  round(${dot("q.qv", "nb.v")} / (q.qnrm * nb.nrm), 6) AS cos
             |  FROM (SELECT DISTINCT b.q_id, e.dst AS node
             |    FROM b$p b JOIN knn e ON e.src = b.node) d
             |  JOIN qv q ON q.q_id = d.q_id
             |  JOIN embn nb ON nb.vec_id = d.node),
             |b$t AS MATERIALIZED (SELECT q_id, node, cos FROM (
             |  SELECT q_id, node, cos, row_number() OVER (
             |    PARTITION BY q_id ORDER BY cos DESC, node ASC) AS rn
             |  FROM (SELECT q_id, node, cos FROM b$p
             |    UNION SELECT q_id, node, cos FROM c$t) u) z
             |  WHERE z.rn <= $ef)""".stripMargin
        }.mkString(",\n")
        val visUnion = (1 to NswSteps)
          .map(t => s"UNION SELECT q_id, node, cos FROM c$t")
          .mkString("\n  ")
        s"""SELECT * FROM (
           |WITH $duckBase,
           |knn AS MATERIALIZED ($duckNswGraphSql),
           |ent AS (SELECT min(src) AS entry FROM knn
           |  WHERE src >= $NumQueries),
           |qv AS MATERIALIZED (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm
           |  FROM embn WHERE vec_id < $NumQueries),
           |b0 AS MATERIALIZED (SELECT q.q_id, ent.entry AS node,
           |  round(${dot("q.qv", "ev.v")} / (q.qnrm * ev.nrm), 6) AS cos
           |  FROM qv q CROSS JOIN ent JOIN embn ev
           |    ON ev.vec_id = ent.entry),
           |$hops,
           |vis AS MATERIALIZED (SELECT q_id, node, cos FROM b0
           |  $visUnion),
           |ap AS (SELECT q_id, node FROM (
           |  SELECT q_id, node, row_number() OVER (
           |    PARTITION BY q_id ORDER BY cos DESC, node ASC) AS rn
           |  FROM vis WHERE node <> q_id) z WHERE z.rn <= $IvfTopK),
           |ex AS (SELECT q_id, vec_id FROM ($duckCosineTopkSql)
           |  WHERE rk <= $IvfTopK),
           |nv AS (SELECT count(*) AS n_visited FROM vis)
           |SELECT CAST($ef AS INT) AS ef, count(*) AS n_exact,
           |  count(a.node) AS n_hit,
           |  round(CAST(count(a.node) AS DOUBLE) / count(*), 6) AS recall,
           |  nv.n_visited
           |FROM ex LEFT JOIN ap a
           |  ON a.q_id = ex.q_id AND a.node = ex.vec_id
           |CROSS JOIN nv
           |GROUP BY nv.n_visited)""".stripMargin
      }.mkString("\nUNION ALL\n")
    },
    "e_kmeans" -> s"WITH $kmeansAssignCtes\nSELECT vec_id, cell FROM asg",
    "e_silhouette" -> {
      val dOwn = "sqrt(greatest(a.d2, CAST(0 AS DOUBLE)))"
      val dOth = "sqrt(greatest(b.d2b, CAST(0 AS DOUBLE)))"
      s"""WITH $kmeansAssignCtes,
         |s2 AS (SELECT vec_id, d2 AS d2b FROM fin WHERE rn = 2)
         |SELECT a.vec_id, a.cell,
         | round($dOwn, 6) AS d_own,
         | round($dOth, 6) AS d_other,
         | round(CASE WHEN greatest($dOth, $dOwn) = CAST(0 AS DOUBLE)
         |   THEN CAST(0 AS DOUBLE) ELSE ($dOth - $dOwn) /
         |   greatest($dOth, $dOwn) END, 6) AS sil
         |FROM asg a JOIN s2 b USING (vec_id)""".stripMargin
    },
    "e_pca_power" -> pcaOracleSql,
    "e_ood_score" ->
      s"""WITH $kmeansAssignCtes
         |SELECT vec_id, cell, round(d2, 6) AS d2 FROM asg
         |ORDER BY round(d2, 6) DESC, vec_id ASC LIMIT $OodTopN""".stripMargin,
    "e_cluster_balance" ->
      s"""WITH $kmeansAssignCtes,
         |sk AS (SELECT vec_id, cell, ${graft.graph.Hashing.duck.kmvMix(
             s"(vec_id % ${graft.graph.Hashing.P})")} AS skey FROM asg),
         |r AS (SELECT *, row_number() OVER (
         |  PARTITION BY cell ORDER BY skey ASC, vec_id ASC) AS rk FROM sk)
         |SELECT vec_id, cell, skey, rk FROM r WHERE rk <= $CbPerCell""".stripMargin,
    "e_semdedup" -> {
      val dot64 = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(range(1, 65), i -> x.v[i] * y.v[i])), (a, x) -> a + x)"
      s"""WITH $kmeansAssignCtes,
         |sembn AS MATERIALIZED (SELECT a.vec_id, a.cell, e.v,
         |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(e.v, x -> x * x)), (a, x) -> a + x)) AS nrm
         |  FROM asg a JOIN emb e ON e.vec_id = a.vec_id),
         |sdup AS (SELECT DISTINCT y.vec_id FROM sembn x
         |  JOIN sembn y ON y.cell = x.cell AND x.vec_id < y.vec_id
         |  WHERE round($dot64 / (x.nrm * y.nrm), 6) >= $SemDupThreshold)
         |SELECT a.vec_id, a.cell,
         |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
         |FROM asg a LEFT JOIN sdup d ON d.vec_id = a.vec_id""".stripMargin
    },
    "e_bq_search" -> duckBqSearchSql,
    "e_bq_recall" ->
      s"""WITH ex AS (SELECT q_id, vec_id FROM ($duckCosineTopkSql)),
         |an AS (SELECT q_id, vec_id, 1 AS hit FROM ($duckBqSearchSql))
         |SELECT ex.q_id, count(*) AS n_exact, count(an.hit) AS n_hit,
         | round(CAST(count(an.hit) AS DOUBLE) / count(*), 6) AS recall
         |FROM ex LEFT JOIN an ON an.q_id = ex.q_id AND an.vec_id = ex.vec_id
         |GROUP BY ex.q_id""".stripMargin,
    "e_mmr_rerank" -> {
      // dot between aliased candidate rows a and b (64 dims, same fold).
      val dotAB = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(range(1, 65), i -> a.v[i] * b.v[i])), (a, x) -> a + x)"
      val sb = new StringBuilder
      sb ++= s"""WITH $duckBase,
         |mcos AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |  round($duckDot / (q.nrm * c.nrm), 6) AS rel
         |  FROM embn q JOIN embn c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumQueries),
         |mcand AS MATERIALIZED (SELECT q_id, vec_id, rel FROM (
         |  SELECT q_id, vec_id, rel, row_number() OVER (
         |    PARTITION BY q_id ORDER BY rel DESC, vec_id ASC) AS rn FROM mcos)
         |  WHERE rn <= $MmrShortlist),
         |mc2 AS MATERIALIZED (SELECT m.q_id, m.vec_id, e.v, e.nrm
         |  FROM mcand m JOIN embn e ON e.vec_id = m.vec_id),
         |msim AS MATERIALIZED (SELECT a.q_id, a.vec_id AS a_id,
         |  b.vec_id AS b_id, round($dotAB / (a.nrm * b.nrm), 6) AS sim
         |  FROM mc2 a JOIN mc2 b ON b.q_id = a.q_id AND b.vec_id <> a.vec_id),
         |s1 AS MATERIALIZED (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (
         |    PARTITION BY q_id ORDER BY rel DESC, vec_id ASC) AS rn FROM mcand)
         |  WHERE rn = 1),
         |p1 AS MATERIALIZED (SELECT q_id, vec_id FROM s1)""".stripMargin
      for (i <- 2 to MmrK) {
        sb ++= s""",
           |s$i AS MATERIALIZED (SELECT q_id, vec_id FROM (
           |  SELECT c.q_id, c.vec_id, row_number() OVER (PARTITION BY c.q_id
           |    ORDER BY $MmrLambda * c.rel - $MmrOneMinusLambda * mx.m DESC,
           |      c.vec_id ASC) AS rn
           |  FROM mcand c
           |  JOIN (SELECT s.q_id, s.a_id AS vec_id, max(s.sim) AS m
           |        FROM msim s JOIN p${i - 1} p
           |          ON p.q_id = s.q_id AND p.vec_id = s.b_id
           |        GROUP BY s.q_id, s.a_id) mx
           |    ON mx.q_id = c.q_id AND mx.vec_id = c.vec_id
           |  WHERE NOT EXISTS (SELECT 1 FROM p${i - 1} p
           |    WHERE p.q_id = c.q_id AND p.vec_id = c.vec_id))
           |  WHERE rn = 1),
           |p$i AS MATERIALIZED (SELECT q_id, vec_id FROM p${i - 1}
           |  UNION ALL SELECT q_id, vec_id FROM s$i)""".stripMargin
      }
      sb ++= "\n" + (1 to MmrK).map(i =>
        s"SELECT q_id, vec_id, $i AS rk FROM s$i").mkString("\nUNION ALL\n")
      sb.toString
    },
    "e_prefix_recall" -> {
      def dotD(d: Int) = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, ${d + 1}), i -> q.p[i] * c.p[i])), " +
        "(a, x) -> a + x)"
      val preCtes = PrefixRecallDims.map { d =>
        s"""pre$d AS MATERIALIZED (SELECT vec_id, p,
           |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |    list_transform(p, x -> x * x)), (a, x) -> a + x)) AS pnrm
           |  FROM (SELECT vec_id, v[1:$d] AS p FROM emb))""".stripMargin
      }.mkString(",\n")
      val parts = PrefixRecallDims.map { d =>
        s"""SELECT CAST($d AS INT) AS dims, ex.q_id, count(*) AS n_exact,
           |  count(pt.hit) AS n_hit,
           |  round(CAST(count(pt.hit) AS DOUBLE) / count(*), 6) AS recall
           |FROM ex LEFT JOIN (
           |  SELECT q_id, vec_id, 1 AS hit FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY round(${dotD(d)} / (q.pnrm * c.pnrm), 6) DESC,
           |        c.vec_id ASC) AS rn
           |    FROM pre$d q JOIN pre$d c ON c.vec_id <> q.vec_id
           |    WHERE q.vec_id < $NumQueries)
           |  WHERE rn <= $TopK) pt
           |  ON pt.q_id = ex.q_id AND pt.vec_id = ex.vec_id
           |GROUP BY ex.q_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $duckBase,
         |ex AS MATERIALIZED (SELECT q_id, vec_id FROM ($duckCosineTopkSql)),
         |$preCtes
         |$parts""".stripMargin
    },
    "e_prefix_rerank" -> {
      val dot16 = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, ${PrefixDims + 1}), i -> q.p[i] * c.p[i])), " +
        "(a, x) -> a + x)"
      s"""WITH $duckBase,
         |pre0 AS (SELECT vec_id, v[1:$PrefixDims] AS p FROM emb),
         |pre AS MATERIALIZED (SELECT vec_id, p,
         |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(p, x -> x * x)), (a, x) -> a + x)) AS pnrm FROM pre0),
         |shortl AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (
         |    PARTITION BY q_id ORDER BY pcos DESC, vec_id ASC) AS rn FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |      round($dot16 / (q.pnrm * c.pnrm), 6) AS pcos
         |    FROM pre q JOIN pre c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id < $NumQueries))
         |  WHERE rn <= $PrefixShortlist),
         |cosj AS (SELECT s.q_id, s.vec_id,
         |  round($duckDot / (q.nrm * c.nrm), 6) AS cos
         |  FROM shortl s JOIN embn q ON q.vec_id = s.q_id
         |    JOIN embn c ON c.vec_id = s.vec_id)
         |SELECT q_id, vec_id, cos, rk FROM (
         |  SELECT q_id, vec_id, cos,
         |    rank() OVER (PARTITION BY q_id ORDER BY cos DESC) AS rk FROM cosj)
         |WHERE rk <= $TopK""".stripMargin
    },
    "e_pq" -> pqOracleSql(search = false),
    "e_pq_search" -> pqOracleSql(search = true),
    "e_ivfpq_search" -> pqOracleSql(search = true, ivf = true),
    "e_pq_recall" ->
      s"""WITH ex AS (SELECT q_id, vec_id FROM ($duckCosineTopkSql)),
         |an AS (SELECT q_id, vec_id, 1 AS hit
         |  FROM (${pqOracleSql(search = true)}))
         |SELECT ex.q_id, count(*) AS n_exact, count(an.hit) AS n_hit,
         | round(CAST(count(an.hit) AS DOUBLE) / count(*), 6) AS recall
         |FROM ex LEFT JOIN an
         |  ON an.q_id = ex.q_id AND an.vec_id = ex.vec_id
         |GROUP BY ex.q_id""".stripMargin,
    "e_ivfpq_recall" ->
      s"""WITH ex AS (SELECT q_id, vec_id FROM ($duckCosineTopkSql)),
         |an AS (SELECT q_id, vec_id, 1 AS hit
         |  FROM (${pqOracleSql(search = true, ivf = true)}))
         |SELECT ex.q_id, count(*) AS n_exact, count(an.hit) AS n_hit,
         | round(CAST(count(an.hit) AS DOUBLE) / count(*), 6) AS recall
         |FROM ex LEFT JOIN an
         |  ON an.q_id = ex.q_id AND an.vec_id = ex.vec_id
         |GROUP BY ex.q_id""".stripMargin,
    "e_quantize" ->
      """WITH emb AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |mm AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi FROM emb),
        |qq AS (SELECT vec_id, round(lo, 6) AS lo_r,
        | round((hi - lo) / 255.0, 9) AS scale,
        | CASE WHEN hi = lo THEN list_transform(v, x -> 0)
        |  ELSE list_transform(v, x -> CAST(round((x - lo) / ((hi - lo) / 255.0), 0) AS INT))
        | END AS q
        |FROM mm)
        |SELECT vec_id, lo_r, scale,
        | list_aggregate(list_transform(q, x -> CAST(x AS VARCHAR)),
        |   'string_agg', ',') AS q_codes
        |FROM qq""".stripMargin,
    "e_qgram" ->
      s"""WITH emb AS (SELECT
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |mm AS (SELECT v, list_min(v) AS lo, list_max(v) AS hi FROM emb),
         |qq AS MATERIALIZED (SELECT
         |  CASE WHEN hi = lo THEN list_transform(v, x -> 0)
         |   ELSE list_transform(v, x ->
         |     CAST(round((x - lo) / ((hi - lo) / 255.0), 0) AS INT))
         |  END AS q
         | FROM mm)
         |SELECT CAST(u.i AS INT) AS i, CAST(w.j AS INT) AS j,
         | CAST(sum(q[CAST(u.i AS INT) + 1] * q[CAST(w.j AS INT) + 1])
         |   AS BIGINT) AS g
         |FROM qq, UNNEST(range(0, $Dims)) AS u(i),
         |  UNNEST(range(0, $Dims)) AS w(j)
         |WHERE u.i <= w.j
         |GROUP BY 1, 2""".stripMargin,
    "e_embed_dups" ->
      s"""WITH $duckBase,
         |$duckBucketed,
         |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         |  FROM bk x JOIN bk y ON y.tbl = x.tbl AND y.bkt = x.bkt
         |    AND x.vec_id < y.vec_id),
         |cosj AS (SELECT vec_a, vec_b,
         |  round($duckDot / (q.nrm * c.nrm), 6) AS cos
         |  FROM cand JOIN embn q ON q.vec_id = vec_a
         |    JOIN embn c ON c.vec_id = vec_b)
         |SELECT vec_a, vec_b, cos FROM cosj WHERE cos >= $DupCosThreshold""".stripMargin
  )
}
