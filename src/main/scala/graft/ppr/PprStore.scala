package graft.ppr

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S7-S9 — the generic per-source PPR store, shared by EVERY algorithm
  * family (reference: each algo re-implements the same one-file-per-source
  * sink/scan/size/delete quartet — `Forward_Push.java:320-362`,
  * `Monte_Carlo.java:212-254`, `Neo4j_Method.java:157-216`,
  * `Base_Whole_Graph.java:118-186,238-251`; here it is one Parquet layout).
  *
  * Layout: Parquet partitioned by `src`, so a per-source query is a
  * Catalyst partition-pruned scan of exactly one directory — the Spark
  * analogue of opening one `<srcId>.txt`. At 100 TB the write streams
  * through one shuffle (repartition by src) with no driver
  * materialization, and reads touch only the queried source's files.
  *
  * Lookup contract: a store is opened once per (session, path) — one
  * partition discovery and schema inference — and every later read reuses
  * that file index, so a lookup costs Catalyst's partition pruning plus
  * one scan task. Each read re-validates the opened store with one
  * `FileStatus` of its root: every Spark write (this object's or any other
  * session's or process's) recreates or rewrites the root and changes its
  * modification time, which re-opens the store; a missing root fails the
  * read exactly as an unopened path does. [[write]] and [[delete]] drop
  * the opened entry outright.
  */
object PprStore {

  private final case class Key(spark: SparkSession, path: String)

  /** `table` is `spark.read.parquet(path)`, listed when the root's
    * modification time was `stamp`.
    */
  private final case class Opened(stamp: Long, table: DataFrame)

  private val opened = new ConcurrentHashMap[Key, Opened]()

  private def qualified(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  /** Drops every session's opened entry for the qualified `path`. */
  private def forget(path: Path): Unit =
    opened.keySet.removeIf(_.path == path.toString)

  /** S7 — persist `(src, node_id, score)` source-major. */
  def write(scores: DataFrame, dir: String): Unit =
    writePartitioned(scores.select(col("src"), col("node_id"), col("score")), dir)

  /** Overwrites `dir` with `rows` partitioned by `src` — the one write
    * path of every store layout — and drops the opened entry. With no
    * rows there is no partition directory to infer a schema from, so one
    * empty file carrying the schema is written instead: the store still
    * opens, and every read returns 0 rows.
    */
  private[ppr] def writePartitioned(rows: DataFrame, dir: String): Unit = {
    val (fs, path) = qualified(rows.sparkSession, dir)
    try {
      rows.repartition(col("src")).write.mode("overwrite").partitionBy("src").parquet(dir)
      if (!fs.listStatus(path).exists(_.isDirectory))
        rows.limit(0).write.mode("overwrite").parquet(dir)
    } finally forget(path)
  }

  /** The whole store as written (`src` plus the stored columns), opened
    * once per session and path and re-validated on every call (see the
    * lookup contract above).
    */
  def table(spark: SparkSession, dir: String): DataFrame = {
    val (fs, path) = qualified(spark, dir)
    val key = Key(spark, path.toString)
    val stamp =
      try Some(fs.getFileStatus(path).getModificationTime)
      catch { case _: FileNotFoundException => None }
    stamp match {
      case None =>
        opened.remove(key)
        spark.read.parquet(dir) // throws PATH_NOT_FOUND, as for any absent store
      case Some(t) =>
        val hit = opened.get(key)
        if (hit != null && hit.stamp == t) hit.table
        else {
          // entries of stopped sessions would otherwise pin them forever
          opened.keySet.removeIf(_.spark.sparkContext.isStopped)
          opened.compute(key, (_, cur) =>
            if (cur != null && cur.stamp == t) cur
            else Opened(t, spark.read.parquet(path.toString))).table
        }
    }
  }

  /** S8 — one source's vector back: `(node_id, score)`, partition-pruned. */
  def read(spark: SparkSession, dir: String, source: Long): DataFrame =
    table(spark, dir).where(col("src") === source)
      .select(col("node_id"), col("score"))

  /** S9 — store size in bytes (0 when absent). */
  def size(spark: SparkSession, dir: String): Long = {
    val (fs, p) = qualified(spark, dir)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** S9 — recursive delete; false when nothing existed. */
  def delete(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = qualified(spark, dir)
    try fs.delete(p, true) finally forget(p)
  }
}
