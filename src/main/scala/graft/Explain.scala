package graft

import org.apache.spark.sql.SparkSession

/** Plan audit tool: print the formatted physical plan of one (or every)
  * SparkEntry query without executing it — the `.explain("formatted")`
  * loop the scale review runs after each operator change.
  * Usage: `Explain <sfDir> [queryName ...]`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // the SHARED session recipe — the audit must show the plans the
    // board actually runs (a bare session would miss GraftExtensions).
    val spark = LocalSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      println(s"\n===================== $n =====================")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable =>
        println(s"EXPLAIN FAILED: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
