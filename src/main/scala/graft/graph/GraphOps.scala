package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Directed-graph data model (SURVEY.md §1, D1-D3).
  *
  * The reference (joezie/Personalized-PageRank-Algorithms-on-Neo4j) loads a
  * Neo4j store into an in-memory adjacency snapshot once per run
  * (`PPR.java:136-152`). Here the graph is two DataFrames:
  *
  *   edges(src: LONG, dst: LONG)   — directed, deduplicated
  *   nodes(id: LONG)               — every id appearing as src or dst
  *
  * plus derived degree DataFrames, and a compact CSR snapshot
  * ([[Csr]]) for the per-task kernels (random walks, batched
  * per-source push/iteration). The CSR is the Spark analogue of the
  * reference's "HeavyGraph" jagged adjacency arrays
  * (`Monte_Carlo.java:85` needs O(1) random neighbor access): it is built
  * once, broadcast, and read-only. At 100 TB relational scale the *graph*
  * side of this workload is still small relative to executor memory for
  * up to ~1e9 edges (8 GB of ints); beyond that the DataFrame superstep
  * path (no CSR) is the scale route — both are provided.
  */
object GraphOps {

  /** Out-degrees as a DataFrame `(id LONG, deg LONG)`. One shuffle; cache it
    * alongside `edges` — every kernel joins against it (SURVEY §2.4 A1).
    */
  def outDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))

  def inDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("deg"))

  /** Undirected graphs are modeled as two directed edges
    * (SURVEY §1.4.5; the reference's GOT CSV stores each relation once and
    * Neo4j traverses both directions). Union + distinct = one shuffle.
    */
  def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** Deterministic benchmark graph derived from the lineitem table
    * (TESTDATA.md): `src = l_orderkey % mod`, `dst = l_partkey % mod`,
    * self-loops dropped, deduplicated. Exactly reproducible in the DuckDB
    * oracle, which is why SparkEntry's graph queries build on it.
    *
    * r19: served as a load-once SNAPSHOT per (session, dir, mod) — the
    * DataFrame sibling of the CSR caches below (S3/S4: the reference
    * loads the graph ONCE per run and every suite query hits the same
    * in-memory snapshot; our rows each re-paid the scan + distinct
    * shuffle). First caller materializes one checkpoint (pinned via
    * SessionPins so the per-row reap spares it); [[invalidateGraphs]]
    * is the re-ingest hook, called through the central
    * `Graph.invalidateModels` chain.
    */
  def lineitemGraph(spark: SparkSession, sfDir: String, mod: Int = 997): DataFrame =
    snapshot(spark, (sfDir, mod, -1)) {
      val li = graft.Tables(spark, sfDir, "lineitem")
      li.select(
          (col("l_orderkey") % mod).as("src"),
          (col("l_partkey") % mod).as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
    }

  /** Undirected view of [[lineitemGraph]] — `(a, b)` with `a < b`,
    * deduplicated — served as a load-once snapshot exactly like the
    * directed edge set (r19 optimization, second pass): seven call
    * sites (`Graph.lpShared`, `Graph.triShared`, `g_richclub`,
    * `g_pref_attach`, `g_kcore` and — through the shared degree-stub
    * histogram — `g_assortativity`/`g_knn_degree`) each re-paid the
    * least/greatest distinct shuffle per row over the same graph.
    * Keyed `(dir, mod, -2)` in the snapshot cache so
    * [[invalidateGraphs]] releases it with the rest.
    */
  def lineitemUndirected(spark: SparkSession, sfDir: String,
      mod: Int): DataFrame =
    snapshot(spark, (sfDir, mod, -2)) {
      lineitemGraph(spark, sfDir, mod)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
    }

  private val snapCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, (String, Int, Int)), DataFrame]
  private val snapPins = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, (String, Int, Int)), Set[Int]]

  private def snapshot(spark: SparkSession, key: (String, Int, Int))(
      build: => DataFrame): DataFrame =
    snapCache.getOrElseUpdate((spark, key), {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val out = build.localCheckpoint(true)
      // a nested snapshot (lineitemUndirected builds ON lineitemGraph)
      // can first materialize inside this diff window — exclude blocks
      // another fit already pinned so this key never unpins them
      val ids = (sc.getPersistentRDDs.keySet -- before).toSet --
        graft.operators.SessionPins.pinned(sc)
      graft.operators.SessionPins.pin(sc, ids)
      snapPins.put((spark, key), ids)
      out
    })

  /** Drop every edge snapshot for (session, dir) and release its pinned
    * blocks — the re-ingest hook (`Graph.invalidateModels` calls it).
    */
  def invalidateGraphs(spark: SparkSession, sfDir: String): Unit =
    snapCache.keys
      .filter(k => k._1 == spark && k._2._1 == sfDir)
      .foreach { k =>
        snapCache.remove(k)
        snapPins.remove(k).foreach(ids =>
          graft.operators.SessionPins.unpin(spark.sparkContext, ids))
      }

  /** SQL text of [[lineitemGraph]] for DuckDB oracles. */
  def lineitemGraphSql(mod: Int = 997): String =
    s"SELECT DISTINCT l_orderkey % $mod AS src, l_partkey % $mod AS dst " +
      s"FROM lineitem WHERE (l_orderkey % $mod) <> (l_partkey % $mod)"

  /** Sparse DISCONNECTED benchmark subgraph: [[lineitemGraph]] restricted
    * to low-quantity lineitems. The full derivation is one giant component
    * at every scale; the `l_quantity <= qtyMax` slice fragments it
    * (sf0.01/mod 100003/q≤5: 6.3k nodes, 6.0k edges, 396 components) —
    * the shape connected-components queries need to be non-trivial. The
    * predicate reaches the parquet scan (PushedFilters), so the subgraph
    * never reads the rows it drops.
    */
  def lineitemSubgraph(spark: SparkSession, sfDir: String, mod: Int,
      qtyMax: Int): DataFrame =
    snapshot(spark, (sfDir, mod, qtyMax)) {
      val li = graft.Tables(spark, sfDir, "lineitem")
      li.where(col("l_quantity") <= qtyMax)
        .select(
          (col("l_orderkey") % mod).as("src"),
          (col("l_partkey") % mod).as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
    }

  /** Weighted benchmark graph: [[lineitemGraph]]'s edge set with
    * `w = min(l_quantity)` over the lineitems collapsing onto each
    * `(src, dst)` pair — deterministic, integral-valued doubles (min-plus
    * path sums stay exact across engines).
    */
  def lineitemWeightedGraph(spark: SparkSession, sfDir: String,
      mod: Int): DataFrame = {
    val li = graft.Tables(spark, sfDir, "lineitem")
    li.select(
        (col("l_orderkey") % mod).as("src"),
        (col("l_partkey") % mod).as("dst"),
        col("l_quantity"))
      .where(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(org.apache.spark.sql.functions.min(col("l_quantity")).as("w"))
  }

  /** SQL text of [[lineitemWeightedGraph]] for DuckDB oracles. */
  def lineitemWeightedGraphSql(mod: Int): String =
    s"SELECT l_orderkey % $mod AS src, l_partkey % $mod AS dst, " +
      s"min(l_quantity) AS w FROM lineitem " +
      s"WHERE (l_orderkey % $mod) <> (l_partkey % $mod) GROUP BY 1, 2"

  /** Load-once edge counts for the two-regime dispatchers
    * ([[graft.graph.Betweenness.run]] family): the regime decision needs
    * |E| before deciding whether to collect a CSR, and re-scanning the
    * 6M-row derivation per query row just to count is the kind of
    * repeated metadata work a real deployment reads from table stats.
    * Same immutable-input dispensation as [[lineitemCsr]].
    */
  private val graphCountCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Boolean), Long]

  def lineitemGraphCount(spark: SparkSession, sfDir: String,
      mod: Int): Long =
    graphCountCache.getOrElseUpdate((sfDir, mod, false),
      lineitemGraph(spark, sfDir, mod).count())

  def lineitemWeightedGraphCount(spark: SparkSession, sfDir: String,
      mod: Int): Long =
    graphCountCache.getOrElseUpdate((sfDir, mod, true),
      lineitemWeightedGraph(spark, sfDir, mod).count())

  private val wcsrCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Sssp.WeightedCsr]

  /** Load-once weighted snapshot (same rationale as [[lineitemCsr]]). */
  def lineitemWeightedCsr(spark: SparkSession, sfDir: String,
      mod: Int): Sssp.WeightedCsr =
    wcsrCache.getOrElseUpdate((sfDir, mod),
      Sssp.buildWeighted(lineitemWeightedGraph(spark, sfDir, mod)))

  /** Com-Amazon-scale benchmark graph: `src = l_orderkey % mod`,
    * `dst = (l_orderkey·7 + l_partkey) % mod`. The DRIVER-generated
    * sf0.1 lineitem has orderkeys dense in [1, 150000] (measured:
    * max 149,999, 147 k distinct — unlike real dbgen's sparse
    * 8-per-32 runs over a 4× range) and partkeys in [1, 20000], so the
    * plain [[lineitemGraph]] derivation tops out near 167 k distinct
    * nodes no matter the mod; mixing the orderkey into the dst spreads
    * the 600 k (orderkey, partkey) pairs across the full mod range. At
    * mod = 334863 (Com-Amazon's node count, BASELINE.md Table 3) this
    * yields 301,160 nodes / 599,935 directed edges from sf0.1 at fan 1 —
    * node-count parity with Com-Amazon (0.9×). `fan` emits that many
    * j-shifted pairs per lineitem row (j = 0 reproduces the fan-1
    * derivation exactly): fan 3 at sf0.1 reaches 1.79 M directed edges /
    * 325 k nodes — node AND edge parity with Com-Amazon's 334,863 /
    * 1.85 M directed (edges within 3%). Deterministic, like every
    * benchmark derivation.
    */
  def lineitemMixGraph(spark: SparkSession, sfDir: String,
      mod: Int, fan: Int = 1): DataFrame = {
    val li = graft.Tables(spark, sfDir, "lineitem")
    li.select(
        col("l_orderkey").cast("long").as("ok"),
        col("l_partkey").cast("long").as("pk"),
        explode(sequence(lit(0), lit(fan - 1))).as("j"))
      .select(
        ((col("ok") + col("j") * 97561L) % mod).as("src"),
        // widen BEFORE the multiply: a 32-bit parquet orderkey at real
        // dbgen scale (~6M·SF) would overflow Int under ·7 and wrap to
        // negative node ids.
        ((col("ok") * 7 + col("pk") + col("j") * 40503L) % mod).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Flickr-scale EDGE-HEAVY benchmark graph: ~80.5k nodes and ~11-12 M
    * directed edges with power-law-ish hub skew — the edge-density octave
    * no other scale here exercises (BASELINE.md Table 3: Flickr 80,513
    * nodes / 11,799,764 directed edges, avg degree ~147, vs ≤ ~30 for
    * GOT/BlogCatalog/Com-Amazon analogs). Each sf0.1 lineitem row fans
    * out into `fan` hashed pairs: src is uniform over [0, mod); dst =
    * ⌊u²·mod⌋ for a second uniform hash u ∈ [0,1) — the quadratic map
    * concentrates mass at low ids with in-degree(i) ∝ 1/√(i·mod), i.e. a
    * few ~15-20k-degree hubs decaying to ~100 at the tail, the
    * social-graph profile (and the hub-skew regime SURVEY §7.4.6 flags
    * for the push kernels). Pairs are symmetrized (reference datasets
    * are undirected) and deduped. Deterministic like every benchmark
    * derivation: both hashes go through the full-range kmvMix, no RNG.
    */
  def lineitemFlickrGraph(spark: SparkSession, sfDir: String,
      mod: Int = 80513, fan: Int = 10): DataFrame = {
    val P = Hashing.P
    val mix = Hashing.spark
    val li = graft.Tables(spark, sfDir, "lineitem")
    // kmvMix keys live in [0, P²) — normalize by the DOUBLE product
    // (an exact LONG product would overflow).
    val u = s"(h2 / (CAST($P AS DOUBLE) * CAST($P AS DOUBLE)))"
    val half = li
      .select(col("l_orderkey").cast("long").as("ok"),
        col("l_partkey").cast("long").as("pk"),
        explode(sequence(lit(0), lit(fan - 1))).as("j"))
      .selectExpr(
        s"${mix.kmvMix(s"((ok * 1000003 + pk * 7919 + j * 104729) % $P)")} AS h1")
      .selectExpr(s"h1 % $mod AS src",
        s"${mix.kmvMix(s"((h1 + 40503) % $P)")} AS h2")
      // least() guards the u → 1.0 corner: h2 within ~55 of P²−1 rounds
      // the DOUBLE quotient to exactly 1.0 and floor(1.0²·mod) = mod,
      // one past the documented [0, mod) id range (and past any
      // numNodes-sized kernel array). Astronomically rare, cheap to close.
      .selectExpr("src",
        s"least(CAST(floor($u * $u * $mod) AS BIGINT), ${mod - 1}) AS dst")
      .where(col("src") =!= col("dst"))
      // checkpoint before the self-union: both union branches would
      // otherwise re-derive the ~fan·|lineitem|-row hash chain from the
      // raw scan — the dominant cost of the prep, paid twice.
      .localCheckpoint(true)
    half.union(half.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** SQL text of [[lineitemFlickrGraph]] for DuckDB oracles — the same
    * hash chain through [[Hashing.duck.kmvMix]] (the engines'
    * two kmvMix spellings are spec-pinned equal), the same DOUBLE
    * quotient, quadratic map, least() guard, self-loop filter and
    * symmetrize+dedup. This is what lets a correctness row run a PPR
    * kernel over the HUB-SKEWED regime and still be hash-checked: the
    * oracle derives the identical skewed edge set inside DuckDB.
    */
  def lineitemFlickrGraphSql(mod: Int, fan: Int): String = {
    val P = Hashing.P
    val duck = Hashing.duck
    val u = s"(h2 / (CAST($P AS DOUBLE) * CAST($P AS DOUBLE)))"
    // nested WITH (legal in a DuckDB subquery, so callers can embed this
    // as `AS MATERIALIZED (...)` like every other graph derivation);
    // `half` itself MATERIALIZED — the symmetrize union reads it twice.
    s"""WITH fl_half AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src,
       |      least(CAST(floor($u * $u * $mod) AS BIGINT), ${mod - 1}) AS dst
       |    FROM (
       |      SELECT h1 % $mod AS src,
       |        ${duck.kmvMix(s"((h1 + 40503) % $P)")} AS h2
       |      FROM (
       |        SELECT ${duck.kmvMix(
                  s"((ok * 1000003 + pk * 7919 + j * 104729) % $P)")} AS h1
       |        FROM (
       |          SELECT CAST(l_orderkey AS BIGINT) AS ok,
       |            CAST(l_partkey AS BIGINT) AS pk,
       |            unnest(range(0, $fan)) AS j
       |          FROM lineitem) e0) h1t) h2t) d
       |  WHERE src <> dst)
       |SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM fl_half
       |  UNION ALL SELECT dst AS src, src AS dst FROM fl_half) u0""".stripMargin
  }

  private val flickrCsrCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), Csr]

  /** Load-once CSR of [[lineitemFlickrGraph]] (symmetric, so the same
    * snapshot serves forward and reverse adjacency).
    */
  def lineitemFlickrCsr(spark: SparkSession, sfDir: String, mod: Int,
      fan: Int): Csr =
    flickrCsrCache.getOrElseUpdate((sfDir, mod, fan),
      buildCsr(lineitemFlickrGraph(spark, sfDir, mod, fan)))

  /** SQL text of [[lineitemSubgraph]] for DuckDB oracles. */
  def lineitemSubgraphSql(mod: Int, qtyMax: Int): String =
    s"SELECT DISTINCT l_orderkey % $mod AS src, l_partkey % $mod AS dst " +
      s"FROM lineitem WHERE l_quantity <= $qtyMax " +
      s"AND (l_orderkey % $mod) <> (l_partkey % $mod)"

  /** S3/S4 — load-once snapshot cache: the reference opens the DB and
    * loads the HeavyGraph ONCE per run, and every query in the suite hits
    * the same in-memory snapshot (`PPR.java:136-152,186-194`). The Spark
    * equivalent is memoizing the immutable CSR per (source dir, mod,
    * direction): the first query pays the scan + collect, the rest of the
    * suite reuses it. Safe because the test tables are immutable inputs;
    * a live-table deployment would key by snapshot version instead.
    */
  private val csrCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Boolean), Csr]

  /** Cached CSR of [[lineitemGraph]]; `reversed` swaps src/dst (the
    * backward-search adjacency).
    */
  def lineitemCsr(spark: SparkSession, sfDir: String, mod: Int,
      reversed: Boolean = false): Csr =
    csrCache.getOrElseUpdate((sfDir, mod, reversed), {
      val e = lineitemGraph(spark, sfDir, mod)
      buildCsr(
        if (reversed) e.select(col("dst").as("src"), col("src").as("dst"))
        else e)
    })

  /** Collect `edges` into a CSR snapshot on the driver (caller broadcasts).
    * Only legal when the graph fits driver memory — the kernels that use it
    * (walks, batched per-source iteration) state that contract. Neighbor
    * lists are sorted by target id so every kernel is deterministic
    * regardless of shuffle order.
    */
  def buildCsr(edges: DataFrame): Csr = {
    val rows = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .collect()
    val pairs = new Array[(Long, Long)](rows.length)
    var i = 0
    while (i < rows.length) {
      pairs(i) = (rows(i).getLong(0), rows(i).getLong(1)); i += 1
    }
    Csr.fromEdges(pairs)
  }
}
