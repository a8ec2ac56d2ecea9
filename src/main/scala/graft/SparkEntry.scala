package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory (SURVEY §2): one entry per
  * implemented operator, each with a DuckDB-equivalent `oracleSql` where the
  * semantics are deterministic and SQL-expressible; stochastic kernels
  * (seeded Monte-Carlo/FORA) ship without oracle and are bound-checked in
  * ScalaTest instead (SURVEY §5.2).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * top-10 PPR nodes for a batch of sources on the lineitem-derived graph.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("g_ppr_topk")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Graph.queries ++
      graft.queries.GotQueries.queries ++
      graft.queries.Text.queries ++
      graft.queries.Embeddings.queries

  def oracleSql: Map[String, String] =
    graft.queries.Graph.oracleSql ++
      graft.queries.GotQueries.oracleSql ++
      graft.queries.Text.oracleSql ++
      graft.queries.Embeddings.oracleSql
}
