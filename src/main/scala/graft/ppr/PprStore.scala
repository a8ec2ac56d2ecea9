package graft.ppr

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** S7-S9 — the generic per-source PPR store, shared by EVERY algorithm
  * family (reference: each algo re-implements the same one-file-per-source
  * sink/scan/size/delete quartet — `Forward_Push.java:320-362`,
  * `Monte_Carlo.java:212-254`, `Neo4j_Method.java:157-216`,
  * `Base_Whole_Graph.java:118-186,238-251`; here it is one Parquet layout).
  *
  * Layout: Parquet partitioned by `src`, so one source's rows sit in the
  * files of one `src=<id>` directory — the Spark analogue of the
  * reference's one `<srcId>.txt`. At 100 TB the write streams through one
  * shuffle (repartition by src) with no driver materialization, and a
  * read touches only the queried source's files.
  *
  * Lookup contract: a store is opened once per path — one recursive
  * listing of its root into a file index `src → files` (names starting
  * with `_` or `.` skipped) — and every later read reuses that index, so
  * a lookup is one Spark job of one task that reads exactly the source's
  * Parquet files and returns local rows. Each read re-validates the opened
  * store with one `FileStatus` of its root: every Spark write (this
  * object's or any other session's or process's) recreates or rewrites
  * the root and changes its modification time, which re-opens the store;
  * a missing root fails the read with `PATH_NOT_FOUND`, as Spark does for
  * any absent path. [[write]] and [[delete]] drop the opened entry
  * outright.
  */
object PprStore {

  /** The files of each source, listed when the root's modification time
    * was `stamp`.
    */
  private final case class Opened(stamp: Long, files: Map[Long, Array[String]])

  /** Opened stores by qualified root path. */
  private val opened = new ConcurrentHashMap[String, Opened]()

  /** The Hadoop configuration the read tasks open files with, broadcast
    * once per `SparkContext`.
    */
  private var sharedConf: (SparkContext, Broadcast[SerializableConfiguration]) = null

  /** `(node_id, score)` — a lookup's answer, typed as Spark reads the
    * stored columns.
    */
  private[ppr] val VectorSchema: StructType = StructType(Seq(
    StructField("node_id", LongType), StructField("score", DoubleType)))

  private def qualified(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

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
    } finally opened.remove(path.toString)
  }

  /** S8 — one source's vector back: `(node_id, score)` as local rows,
    * read by one task (see the lookup contract above).
    */
  def read(spark: SparkSession, dir: String, source: Long): DataFrame =
    local(spark, readRows(spark, dir, source, VectorSchema), VectorSchema)

  /** A DataFrame over `rows` held on the driver: an action on it runs no
    * Spark job.
    */
  private[ppr] def local(spark: SparkSession, rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** The columns `schema` names of `source`'s stored rows, in file order,
    * read by one Spark job of one task (an empty task when the source has
    * no files).
    */
  private[ppr] def readRows(
      spark: SparkSession,
      dir: String,
      source: Long,
      schema: StructType): Array[Row] = {
    val files = sourceFiles(spark, dir, source)
    val conf = hadoopConf(spark.sparkContext)
    spark.sparkContext.parallelize(Seq(files), 1)
      .flatMap(paths => readFiles(conf.value.value, paths, schema))
      .collect()
  }

  /** `source`'s files in the opened store at `dir`, opening or re-opening
    * it when its root changed since.
    */
  private def sourceFiles(spark: SparkSession, dir: String, source: Long): Array[String] = {
    val (fs, root) = qualified(spark, dir)
    val key = root.toString
    val stamp =
      try fs.getFileStatus(root).getModificationTime
      catch {
        case _: FileNotFoundException =>
          opened.remove(key)
          throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> key))
      }
    val hit = opened.get(key)
    val store =
      if (hit != null && hit.stamp == stamp) hit
      else opened.compute(key, (_, cur) =>
        if (cur != null && cur.stamp == stamp) cur else Opened(stamp, list(fs, root)))
    store.files.getOrElse(source, Array.empty[String])
  }

  /** The data files `root/src=<id>/<file>` of every source, by id. */
  private def list(fs: FileSystem, root: Path): Map[Long, Array[String]] = {
    val files = ArrayBuffer.empty[(Long, String)]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val p = it.next().getPath
      val dir = p.getParent
      if (dir.getParent == root && !p.getName.startsWith("_") &&
          !p.getName.startsWith(".") && dir.getName.startsWith("src="))
        dir.getName.stripPrefix("src=").toLongOption.foreach(s => files += s -> p.toString)
    }
    files.groupMap(_._1)(_._2).map { case (s, paths) => s -> paths.sorted.toArray }
  }

  private def hadoopConf(sc: SparkContext): Broadcast[SerializableConfiguration] =
    synchronized {
      if (sharedConf == null || (sharedConf._1 ne sc))
        sharedConf = (sc, sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)))
      sharedConf._2
    }

  /** Reads the columns `schema` names from each of `files`. The read
    * options come from `conf` rather than parquet-hadoop's defaults, whose
    * fresh `Configuration` reloads the default resources from every jar on
    * the classpath, an order of magnitude above the read of a small file.
    */
  private def readFiles(conf: Configuration, files: Array[String], schema: StructType): Iterator[Row] = {
    val options = HadoopReadOptions.builder(conf).build()
    files.iterator.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf), options)
      try {
        val fileSchema = reader.getFileMetaData.getSchema
        val projection = new MessageType(fileSchema.getName, schema.fieldNames.toSeq
          .map(n => fileSchema.getType(fileSchema.getFieldIndex(n))): _*)
        reader.setRequestedSchema(projection)
        val columns = new ColumnIOFactory().getColumnIO(projection, fileSchema)
        val rows = ArrayBuffer.empty[Row]
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val records = columns.getRecordReader(pages, new GroupRecordConverter(projection))
          var i = 0L
          while (i < pages.getRowCount) { rows += rowOf(records.read(), schema); i += 1 }
          pages = reader.readNextRowGroup()
        }
        rows
      } finally reader.close()
    }
  }

  private def rowOf(g: Group, schema: StructType): Row =
    Row.fromSeq(schema.fields.toSeq.map { f =>
      if (g.getFieldRepetitionCount(f.name) == 0) null
      else f.dataType match {
        case LongType => g.getLong(f.name, 0)
        case DoubleType => g.getDouble(f.name, 0)
        case IntegerType => g.getInteger(f.name, 0)
      }
    })

  /** S9 — store size in bytes (0 when absent). */
  def size(spark: SparkSession, dir: String): Long = {
    val (fs, p) = qualified(spark, dir)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** S9 — recursive delete; false when nothing existed. */
  def delete(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = qualified(spark, dir)
    try fs.delete(p, true) finally opened.remove(p.toString)
  }
}
