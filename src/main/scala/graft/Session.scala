package graft

import org.apache.spark.sql.SparkSession

/** The one local session recipe every runtime main (Bench, Verify,
  * perfbench) shares: env-sized `local[n]` master, the GraftExtensions
  * (vec_dot/kth_score), and the engine flags the driver tables need.
  * One place to add the next config, so the mains cannot drift apart —
  * sidecar measurements are only comparable to the board if both run
  * under the same engine config.
  */
object LocalSession {
  def create(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // lineitem.l_shipdate and orders.o_orderdate are stored as naive
      // timestamp[us]; Spark 4 would infer TIMESTAMP_NTZ, which
      // unix_micros/double casts reject. Read them as session-TZ (UTC)
      // TIMESTAMP instead — the same wall-clock integers DuckDB's naive
      // read produces.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
