package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Uniform access to the driver-generated parquet tables under an sf dir
  * (see TESTDATA.md). All SparkEntry queries and tests read through here so
  * the scan schema/pushdown behavior is consistent.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
}

/** Per-application scratch namespace for queries that materialize stores
  * (shard exports, PPR prep stores). Paths are suffixed with the Spark
  * applicationId, so two concurrent runs (e.g. Bench and Verify, or
  * parallel test JVMs) write disjoint locations instead of racing on a
  * shared fixed path.
  */
object Scratch {
  private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def appTag(spark: SparkSession): String =
    spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")

  private def root(spark: SparkSession): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${appTag(spark)}"

  /** Scratch directory `<tmpdir>/graft_<appId>/<leaf>`. The application's
    * whole scratch tree is deleted when the application ends (first call
    * per app installs the cleanup listener), so per-app namespacing does
    * not accumulate orphaned trees across runs.
    */
  def dir(spark: SparkSession, leaf: String): String = {
    installCleanup(spark)
    s"${root(spark)}/$leaf"
  }

  private def installCleanup(spark: SparkSession): Unit =
    if (hooked.add(appTag(spark))) {
      val target = new java.io.File(root(spark))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            deleteRec(target)
        })
    }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = deleteRec(f)
}

/** Materialized verification artifacts for the seeded stochastic rows
  * (`g_mc_ppr`, `g_fora_ppr`, `g_fora_topk`): the query materializes its
  * kernel's walk/push internals as parquet, and the matching `oracleSql`
  * replays the ENTIRE deterministic reduce over those tables in DuckDB
  * (SURVEY A2: the stop-count aggregation is exact given the seeded walk
  * table; walk GENERATION stays spec-territory — ForaSpec/MonteCarloSpec).
  *
  * Paths are application-scoped like [[Scratch]] (concurrent runs write
  * disjoint trees) but deliberately OUTSIDE it: the driver's DuckDB
  * compare reads these parquet dirs AFTER `spark.stop()`, so they must
  * survive application end. Instead, stale sibling trees (> 1 day old) are
  * swept on first use.
  *
  * The path/value registry bridges query → oracle: `oracleSql` is dumped
  * by Verify AFTER the queries run, so the SQL embeds the run's actual
  * artifact paths and derived constants (e.g. ω).
  */
object VerifyArtifacts {
  private val vals = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val swept = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val MaxAgeMs = 24L * 3600 * 1000

  /** Artifact directory `<tmpdir>/graft_verify_<appId>/<leaf>`, recorded
    * under `dir:<leaf>` for the oracle renderer.
    */
  def dir(spark: SparkSession, leaf: String): String = {
    val tmp = System.getProperty("java.io.tmpdir")
    if (swept.compareAndSet(false, true)) sweepStale(tmp)
    val tag = spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
    val root = new java.io.File(s"$tmp/graft_verify_$tag")
    // ownership marker: the sweep skips trees whose writing JVM is still
    // alive, so a shared tmpdir cannot lose a >1-day-old still-pending
    // run's artifacts to another run's sweep. pid AND process start time
    // — a bare pid outlives its process across reboots/PID reuse and
    // would exempt the tree forever.
    if (root.mkdirs() || !new java.io.File(root, ".pid").exists())
      try {
        val self = ProcessHandle.current()
        val start = self.info().startInstant()
          .map[java.lang.Long](i => java.lang.Long.valueOf(i.toEpochMilli))
          .orElse(java.lang.Long.valueOf(0L))
        Files.writeString(root.toPath.resolve(".pid"),
          s"${self.pid()} $start")
      } catch { case _: java.io.IOException => () }
    val d = s"${root.getPath}/$leaf"
    vals.put(s"dir:$leaf", d)
    d
  }

  /** Record a derived constant (e.g. ω) for the oracle renderer. */
  def record(key: String, value: String): Unit = { vals.put(key, value): Unit }

  /** Recorded value, or `default` when the query hasn't run in this JVM
    * (static lint specs reading oracle text before any query runs).
    */
  def get(key: String, default: String): String = vals.getOrDefault(key, default)

  /** Recorded value if the owning query ran in this JVM. */
  def maybe(key: String): Option[String] = Option(vals.get(key))

  /** Oracle body for a stochastic row whose artifacts were never
    * materialized in this JVM: a query that FAILS LOUDLY at compare time
    * with a self-describing message (DuckDB's `error()` raises it, so the
    * driver reports the row red with this text as `err`) instead of a
    * confusing missing-parquet path — correctness must not silently depend
    * on Verify's run-then-dump ordering.
    */
  def failSql(row: String): String =
    s"SELECT error('$row: verification artifacts not materialized in this " +
      "JVM - the query must run before oracle_sql.json is dumped')"

  private def sweepStale(tmp: String): Unit = {
    val cutoff = System.currentTimeMillis() - MaxAgeMs
    Option(new java.io.File(tmp).listFiles()).foreach(_.foreach { f =>
      // age by the NEWEST mtime in the tree, not the root dir's — a
      // still-running (or not-yet-compared) run older than the cutoff
      // keeps writing leaves, and those leaves keep it alive. Trees whose
      // writing JVM is detectably still alive are never swept.
      if (f.getName.startsWith("graft_verify_") && newestMtime(f) < cutoff &&
          !ownerAlive(f))
        Scratch.deleteRecursively(f)
    })
  }

  private def ownerAlive(root: java.io.File): Boolean =
    try {
      val pidFile = root.toPath.resolve(".pid")
      Files.exists(pidFile) && {
        val parts = Files.readString(pidFile).trim.split("\\s+")
        val pid = parts(0).toLong
        val recordedStart = if (parts.length > 1) parts(1).toLong else 0L
        ProcessHandle.of(pid).map[Boolean] { h =>
          // same pid is not the same process after a reboot/PID wrap:
          // the start instant must match too (0 = unknown, accept).
          h.isAlive && (recordedStart == 0L ||
            h.info().startInstant()
              .map[Boolean](i => i.toEpochMilli == recordedStart)
              .orElse(true))
        }.orElse(false)
      }
    } catch { case _: Exception => false }

  private def newestMtime(f: java.io.File): Long = {
    val own = f.lastModified()
    val kids = Option(f.listFiles()).getOrElse(Array.empty)
    kids.foldLeft(own)((m, k) => math.max(m, newestMtime(k)))
  }
}
