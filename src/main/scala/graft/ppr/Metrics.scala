package graft.ppr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** A7-A9 — estimate-vs-oracle quality metrics (SURVEY §2.4; reference
  * `Gen_Util.java:271-321`). All operate on per-source score tables
  * `(src, node_id, score)` so a 50-source batch evaluates in one pass —
  * the reference loops per query (`Gen_Util.java:109-257`).
  */
object Metrics {

  /** A9 — max |est − gnd| per src over the GROUND-TRUTH support (missing
    * estimate = 0.0; reference `Gen_Util.java:306-321` iterates gnd keys).
    * Output: (src, max_err).
    */
  def maxAbsErr(gnd: DataFrame, est: DataFrame): DataFrame = {
    val g = gnd.select(col("src"), col("node_id"), col("score").as("g"))
    val e = est.select(col("src"), col("node_id"), col("score").as("e"))
    g.join(e, Seq("src", "node_id"), "left_outer")
      .na.fill(0.0, Seq("e"))
      .groupBy("src")
      .agg(max(abs(col("g") - col("e"))).as("max_err"))
  }

  /** Tie-inclusive top-k per src (T2): rows with rank ≤ k under
    * (score DESC); RANK not ROW_NUMBER, so score ties at the boundary are
    * all kept (reference `Forward_Push.java:413-429`).
    */
  def topK(scores: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("src")).orderBy(col("score").desc)
    scores.withColumn("rk", rank().over(w)).where(col("rk") <= k).drop("rk")
  }

  /** A7 — precision@k per src: |est_topk ∩ gnd_topk| / |gnd_topk|
    * (reference `Gen_Util.java:271-279`). Inputs are full score tables;
    * top-k sets are derived tie-inclusively here.
    */
  def precisionAtK(gnd: DataFrame, est: DataFrame, k: Int): DataFrame = {
    val gk = topK(gnd, k).select(col("src"), col("node_id"))
    val ek = topK(est, k).select(col("src"), col("node_id"))
    val inter = gk.join(ek, Seq("src", "node_id"), "left_semi")
      .groupBy("src").agg(count(lit(1)).as("hit"))
    gk.groupBy("src").agg(count(lit(1)).as("tot"))
      .join(inter, Seq("src"), "left_outer")
      .na.fill(0L, Seq("hit"))
      .select(col("src"), (col("hit") / col("tot")).as("precision"))
  }

  /** A8 — NDCG@k per src with gains 2^π−1 against ground-truth scores and
    * ideal ordering (reference `Gen_Util.java:280-300`): DCG sums the
    * GROUND-TRUTH gain of the estimate's top-k in estimate order; Z_k is
    * the same sum over the ground truth's own top-k.
    * Output: (src, ndcg).
    */
  def ndcgAtK(gnd: DataFrame, est: DataFrame, k: Int): DataFrame = {
    val g = gnd.select(col("src"), col("node_id"), col("score").as("g"))
    def dcg(ranked: DataFrame, gainCol: Column): DataFrame = {
      val w = Window.partitionBy(col("src"))
        .orderBy(col("score").desc, col("node_id").asc)
      ranked.withColumn("pos", row_number().over(w))
        .where(col("pos") <= k)
        .withColumn("gain", gainCol)
        .groupBy("src")
        .agg(sum(col("gain") / log2(col("pos") + 1)).as("dcg"))
    }
    // estimate order, ground-truth gains (missing gnd score = gain 0).
    val estRanked = est.join(g, Seq("src", "node_id"), "left_outer")
      .na.fill(0.0, Seq("g"))
    val dcgEst = dcg(estRanked, pow(lit(2.0), col("g")) - 1.0)
      .withColumnRenamed("dcg", "dcg_est")
    val dcgIdeal = dcg(g.withColumn("score", col("g")),
        pow(lit(2.0), col("g")) - 1.0)
      .withColumnRenamed("dcg", "dcg_ideal")
    dcgEst.join(dcgIdeal, Seq("src"))
      .select(col("src"), (col("dcg_est") / col("dcg_ideal")).as("ndcg"))
  }

  /** A10 — batch averages over sources: one row
    * (avg_precision, avg_ndcg, avg_max_err), the reference's per-grid-point
    * log row (`Gen_Util.java:168-179`).
    */
  def summary(gnd: DataFrame, est: DataFrame, k: Int): DataFrame =
    precisionAtK(gnd, est, k)
      .join(ndcgAtK(gnd, est, k), Seq("src"))
      .join(maxAbsErr(gnd, est), Seq("src"))
      .agg(avg("precision").as("avg_precision"),
        avg("ndcg").as("avg_ndcg"),
        avg("max_err").as("avg_max_err"))

  // ------------------------------------------------------------------
  // Tag-batched variants (r20, guide §2.4): a grid row used to run one
  // full metric chain PER grid point — ~15 tiny exchanges each, ×5
  // points, all over a 107-node fixture where the exchange floor IS the
  // cost (per-row attribution: kernels ≈ 0.01 s, metric folds ≈ 3-4 s
  // per row). These fold every point in ONE chain keyed on (i, src):
  // per-i slices are expression-for-expression the untagged functions
  // (windows partition by (i, src) instead of (src); the gnd-side
  // frames — ideal DCG, gnd top-k, per-src totals — are i-independent
  // and computed once, exactly as each per-point chain computed them).
  // `tags` is the static grid-index universe, so absent (i, src) groups
  // fill with the same 0-defaults the per-point chains produced.
  // ------------------------------------------------------------------

  /** Tie-inclusive top-k per (i, src) — [[topK]] with the grid tag in
    * the window key.
    */
  private def topKTagged(scores: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("i"), col("src"))
      .orderBy(col("score").desc)
    scores.withColumn("rk", rank().over(w)).where(col("rk") <= k).drop("rk")
  }

  /** [[precisionAtK]] per grid tag: (i, src, precision). */
  def precisionAtKTagged(gnd: DataFrame, est: DataFrame, k: Int,
      tags: Seq[Int]): DataFrame = {
    val spark = gnd.sparkSession
    import spark.implicits._
    val gk = topK(gnd, k).select(col("src"), col("node_id"))
    val ek = topKTagged(est, k).select(col("i"), col("src"), col("node_id"))
    val inter = ek.join(gk, Seq("src", "node_id"), "left_semi")
      .groupBy("i", "src").agg(count(lit(1)).as("hit"))
    gk.groupBy("src").agg(count(lit(1)).as("tot"))
      .crossJoin(broadcast(tags.toDF("i")))
      .join(inter, Seq("i", "src"), "left_outer")
      .na.fill(0L, Seq("hit"))
      .select(col("i"), col("src"), (col("hit") / col("tot")).as("precision"))
  }

  /** [[ndcgAtK]] per grid tag: (i, src, ndcg). The ideal DCG is
    * i-independent and computed once.
    */
  def ndcgAtKTagged(gnd: DataFrame, est: DataFrame, k: Int): DataFrame = {
    val g = gnd.select(col("src"), col("node_id"), col("score").as("g"))
    val estRanked = est.join(g, Seq("src", "node_id"), "left_outer")
      .na.fill(0.0, Seq("g"))
    val w = Window.partitionBy(col("i"), col("src"))
      .orderBy(col("score").desc, col("node_id").asc)
    val dcgEst = estRanked.withColumn("pos", row_number().over(w))
      .where(col("pos") <= k)
      .withColumn("gain", pow(lit(2.0), col("g")) - 1.0)
      .groupBy("i", "src")
      .agg(sum(col("gain") / log2(col("pos") + 1)).as("dcg_est"))
    val wi = Window.partitionBy(col("src"))
      .orderBy(col("score").desc, col("node_id").asc)
    val dcgIdeal = g.withColumn("score", col("g"))
      .withColumn("pos", row_number().over(wi))
      .where(col("pos") <= k)
      .withColumn("gain", pow(lit(2.0), col("g")) - 1.0)
      .groupBy("src")
      .agg(sum(col("gain") / log2(col("pos") + 1)).as("dcg_ideal"))
    dcgEst.join(dcgIdeal, Seq("src"))
      .select(col("i"), col("src"),
        (col("dcg_est") / col("dcg_ideal")).as("ndcg"))
  }

  /** [[maxAbsErr]] per grid tag: (i, src, max_err) — gnd crossed with
    * the tag universe so a point's missing estimates read 0.0 exactly
    * as the per-point left join did.
    */
  def maxAbsErrTagged(gnd: DataFrame, est: DataFrame,
      tags: Seq[Int]): DataFrame = {
    val spark = gnd.sparkSession
    import spark.implicits._
    val g = gnd.select(col("src"), col("node_id"), col("score").as("g"))
      .crossJoin(broadcast(tags.toDF("i")))
    val e = est.select(col("i"), col("src"), col("node_id"),
      col("score").as("e"))
    g.join(e, Seq("i", "src", "node_id"), "left_outer")
      .na.fill(0.0, Seq("e"))
      .groupBy("i", "src")
      .agg(max(abs(col("g") - col("e"))).as("max_err"))
  }

  /** [[summary]] per grid tag, ascending-i row order:
    * (i, avg_precision, avg_ndcg, avg_max_err).
    */
  def summaryTagged(gnd: DataFrame, est: DataFrame, k: Int,
      tags: Seq[Int]): DataFrame =
    precisionAtKTagged(gnd, est, k, tags)
      .join(ndcgAtKTagged(gnd, est, k), Seq("i", "src"))
      .join(maxAbsErrTagged(gnd, est, tags), Seq("i", "src"))
      .groupBy("i")
      .agg(avg("precision").as("avg_precision"),
        avg("ndcg").as("avg_ndcg"),
        avg("max_err").as("avg_max_err"))
      .orderBy("i")

  /** Top-k suite pair (precision@k, NDCG@k) per grid tag, ascending-i
    * row order: (i, p, n) — the two columns the reference's top-k rows
    * log.
    */
  def topkQualityTagged(gnd: DataFrame, est: DataFrame, k: Int,
      tags: Seq[Int]): DataFrame =
    precisionAtKTagged(gnd, est, k, tags)
      .join(ndcgAtKTagged(gnd, est, k), Seq("i", "src"))
      .groupBy("i")
      .agg(avg("precision").as("p"), avg("ndcg").as("n"))
      .orderBy("i")

  /** DuckDB oracle fragments mirroring the metric DataFrames exactly.
    * All operate over CTEs named `gnd` and `est`, each
    * `(src, node_id, score)`. CTEs referenced twice are MATERIALIZED —
    * DuckDB inlines multiply-referenced CTEs exponentially otherwise.
    */
  object sql {

    /** Per-src max |est − gnd| over the ground-truth support ([[maxAbsErr]]). */
    val perSrcErr: String =
      """SELECT g.src, max(abs(g.score - coalesce(e.score, 0.0))) AS max_err
        |FROM gnd g LEFT JOIN est e ON e.src = g.src AND e.node_id = g.node_id
        |GROUP BY g.src""".stripMargin

    /** CTE chain ending in `prec_t(src, prec)` ([[precisionAtK]]). */
    def precCtes(k: Int): String =
      s"""gk AS MATERIALIZED (SELECT src, node_id FROM (SELECT src, node_id,
         |  rank() OVER (PARTITION BY src ORDER BY score DESC) AS rk FROM gnd)
         |  WHERE rk <= $k),
         |ek AS (SELECT src, node_id FROM (SELECT src, node_id,
         |  rank() OVER (PARTITION BY src ORDER BY score DESC) AS rk FROM est)
         |  WHERE rk <= $k),
         |hit AS (SELECT gk.src, count(*) AS hit FROM gk
         |  JOIN ek ON ek.src = gk.src AND ek.node_id = gk.node_id GROUP BY gk.src),
         |tot AS (SELECT src, count(*) AS tot FROM gk GROUP BY src),
         |prec_t AS (SELECT t.src, CAST(coalesce(h.hit, 0) AS DOUBLE) / t.tot AS prec
         |  FROM tot t LEFT JOIN hit h ON h.src = t.src)""".stripMargin

    /** CTE chain ending in `ndcg_t(src, ndcg)` ([[ndcgAtK]]): DCG over the
      * estimate's top-k in ESTIMATE order with ground-truth gains 2^g−1
      * (missing gnd score = gain 0), over the ideal DCG of the ground
      * truth's own top-k; deterministic (score DESC, node_id ASC) order.
      */
    def ndcgCtes(k: Int): String =
      s"""er AS (SELECT e.src, e.node_id, e.score, coalesce(g.score, 0.0) AS gg
         |  FROM est e LEFT JOIN gnd g ON g.src = e.src AND g.node_id = e.node_id),
         |de AS (SELECT src, sum((pow(2.0, gg) - 1.0) / log2(pos + 1)) AS dcg_est
         |  FROM (SELECT src, gg, row_number() OVER
         |    (PARTITION BY src ORDER BY score DESC, node_id ASC) AS pos FROM er)
         |  WHERE pos <= $k GROUP BY src),
         |di AS (SELECT src, sum((pow(2.0, score) - 1.0) / log2(pos + 1)) AS dcg_ideal
         |  FROM (SELECT src, score, row_number() OVER
         |    (PARTITION BY src ORDER BY score DESC, node_id ASC) AS pos FROM gnd)
         |  WHERE pos <= $k GROUP BY src),
         |ndcg_t AS (SELECT de.src, de.dcg_est / di.dcg_ideal AS ndcg
         |  FROM de JOIN di ON di.src = de.src)""".stripMargin

    /** Full A10 summary query: one row
      * `[leadCols,] avg_precision, avg_ndcg, avg_max_err` (rounded to 9)
      * for the given gnd/est table SQL. `leadCols` prepends literal
      * columns (e.g. the grid parameter) to the row.
      */
    def summarySql(gndSql: String, estSql: String, k: Int,
        leadCols: String = ""): String = {
      val lead = if (leadCols.isEmpty) "" else s"$leadCols, "
      s"""WITH gnd AS MATERIALIZED ($gndSql), est AS MATERIALIZED ($estSql),
         |${precCtes(k)},
         |${ndcgCtes(k)},
         |err_t AS ($perSrcErr)
         |SELECT ${lead}round(avg(p.prec), 9) AS avg_precision,
         |  round(avg(n.ndcg), 9) AS avg_ndcg,
         |  round(avg(e.max_err), 9) AS avg_max_err
         |FROM prec_t p JOIN ndcg_t n ON n.src = p.src
         |  JOIN err_t e ON e.src = p.src""".stripMargin
    }

    /** Top-k suite summary: one row `[leadCols,] avg_precision, avg_ndcg`
      * — the two quality columns the reference's top-k test logs
      * (`Gen_Util.java:509-563` rows carry precision and NDCG only, no
      * max-err; [[graft.harness.PerfRunner.avgTopkQuality]] mirrors it).
      */
    def topkSummarySql(gndSql: String, estSql: String, k: Int,
        leadCols: String = ""): String = {
      val lead = if (leadCols.isEmpty) "" else s"$leadCols, "
      s"""WITH gnd AS MATERIALIZED ($gndSql), est AS MATERIALIZED ($estSql),
         |${precCtes(k)},
         |${ndcgCtes(k)}
         |SELECT ${lead}round(avg(p.prec), 9) AS avg_precision,
         |  round(avg(n.ndcg), 9) AS avg_ndcg
         |FROM prec_t p JOIN ndcg_t n ON n.src = p.src""".stripMargin
    }
  }
}
