package graft.ppr

import java.nio.file.Files
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.{SparkCounting, SparkSpec}

/** Pins the store's lookup contract ([[PprStore]]): a store is opened once
  * per session and path, yet a read never serves a file index older than
  * the store on disk — whoever rewrote or deleted it.
  */
class PprStoreSpec extends SparkSpec with SparkCounting {

  /** (src, node_id, score) vectors; B differs from A in scores, support
    * and sources.
    */
  private val vecA = Seq((1L, 10L, 0.5), (1L, 11L, 0.25), (2L, 10L, 0.125),
    (3L, 12L, 0.75))
  private val vecB = Seq((1L, 12L, 0.375), (1L, 13L, 0.0625), (4L, 10L, 0.5))

  private def df(rows: Seq[(Long, Long, Double)], dstName: String = "node_id"): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("src", dstName, "score")
  }

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"pprstore_$tag").toString + "/store"

  private def read(dir: String, src: Long): Map[Long, Double] =
    PprStore.read(spark, dir, src).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def expect(rows: Seq[(Long, Long, Double)], src: Long): Map[Long, Double] =
    rows.collect { case (`src`, v, p) => v -> p }.toMap

  private def assertAbsent(f: => Any): Unit = {
    val e = intercept[AnalysisException](f)
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }

  test("overwrite through PprStore.write: the next read returns the new store") {
    val dir = newDir("rewrite")
    PprStore.write(df(vecA), dir)
    assert(read(dir, 1L) == expect(vecA, 1L))
    PprStore.write(df(vecB), dir)
    assert(read(dir, 1L) == expect(vecB, 1L))
    assert(read(dir, 4L) == expect(vecB, 4L))
    assert(read(dir, 2L).isEmpty)
    assert(PprStore.delete(spark, dir))
  }

  test("overwrite that bypasses PprStore: re-validated, never a stale file index") {
    val dir = newDir("bypass")
    PprStore.write(df(vecA), dir)
    assert(read(dir, 1L) == expect(vecA, 1L))
    df(vecB).write.mode("overwrite").partitionBy("src").parquet(dir)
    assert(read(dir, 1L) == expect(vecB, 1L))
    assert(read(dir, 3L).isEmpty)
    assert(PprStore.delete(spark, dir))
  }

  test("read after delete fails as for any absent path, never returns stale rows") {
    val dir = newDir("delete")
    PprStore.write(df(vecA), dir)
    assert(read(dir, 1L) == expect(vecA, 1L))
    assert(PprStore.delete(spark, dir))
    assertAbsent(read(dir, 1L))
    // deleted behind the store's back: the same failure
    PprStore.write(df(vecA), dir)
    assert(read(dir, 2L) == expect(vecA, 2L))
    val root = new org.apache.hadoop.fs.Path(dir)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(root, true)
    assertAbsent(read(dir, 2L))
    // and a store written again at the path is served
    PprStore.write(df(vecB), dir)
    assert(read(dir, 4L) == expect(vecB, 4L))
    assert(PprStore.delete(spark, dir))
  }

  test("top-k store: rewrite and delete are seen, reads keep rank order") {
    val dir = newDir("topk")
    val k = 1
    def ranked(src: Long): Seq[(Long, Double, Int)] =
      Base.readTopkSource(spark, dir, src).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    def expectTopk(rows: Seq[(Long, Long, Double)], src: Long) =
      Base.topkTable(df(rows, "dst"), k).where(s"src = $src")
        .orderBy("rk", "dst").collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    // a tie at the cut: both rows of source 5 share rank 1
    val withTie = vecA ++ Seq((5L, 10L, 0.25), (5L, 11L, 0.25), (5L, 12L, 0.125))
    Base.writeTopkStore(df(withTie, "dst"), dir, k)
    assert(ranked(1L) == Seq((10L, 0.5, 1)))
    assert(ranked(5L) == Seq((10L, 0.25, 1), (11L, 0.25, 1)))
    assert(ranked(5L) == expectTopk(withTie, 5L))
    Base.writeTopkStore(df(vecB, "dst"), dir, 2)
    assert(ranked(1L) == Seq((12L, 0.375, 1), (13L, 0.0625, 2)))
    assert(ranked(5L).isEmpty)
    assert(Base.deleteStore(spark, dir))
    assertAbsent(ranked(1L))
  }

  test("4 threads x 25 concurrent reads answer exactly as serial reads") {
    val dir = newDir("concurrent")
    val rows = for (s <- 1L to 8L; v <- 1L to 5L) yield (s, v, 1.0 / (s * 8 + v))
    PprStore.write(df(rows), dir)
    val serial = (1L to 8L).map(s => s -> read(dir, s)).toMap
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { t =>
        pool.submit(new Callable[Seq[(Long, Map[Long, Double])]] {
          def call() = (0 until 25).map { i =>
            val s = 1L + (t * 25 + i) % 8
            s -> read(dir, s)
          }
        })
      }
      val answers = futures.flatMap(_.get(5, TimeUnit.MINUTES))
      assert(answers.size == 100)
      answers.foreach { case (s, got) => assert(got == serial(s), s"source $s") }
    } finally pool.shutdown()
    assert(PprStore.delete(spark, dir))
  }

  test("every read after the first runs exactly one job") {
    val dir = newDir("jobs")
    PprStore.write(df(vecA), dir)
    val sc = spark.sparkContext
    val group = "pprstore-spec-read"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      def jobsOf(src: Long): Int = {
        ListenerBusDrain(sc)
        jobs.set(0)
        sc.setJobGroup(group, "PprStore.read")
        try read(dir, src) finally sc.clearJobGroup()
        ListenerBusDrain(sc)
        jobs.get
      }
      assert(jobsOf(1L) >= 1)
      for (s <- Seq(1L, 2L, 3L, 1L, 9L)) assert(jobsOf(s) == 1, s"source $s")
    } finally sc.removeSparkListener(listener)
    assert(PprStore.delete(spark, dir))
  }

  /** Rows as (node_id, raw bits of score[, rk]), so doubles compare bit for bit. */
  private def bits(rows: Array[Row]): Seq[Seq[Long]] = rows.toSeq.map { r =>
    Seq(r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))) ++
      (if (r.length > 2) Seq(r.getInt(2).toLong) else Nil)
  }

  test("every source of a seeded store reads back bit for bit as a Spark SQL " +
      "scan of the store, full and top-k") {
    val rnd = new scala.util.Random(20261019L)
    val sources = Seq(-7L, 0L, 3L, 12L, 1L << 40)
    // 1-40 rows per source; a quarter of the scores repeat one value, so the
    // top-k cut has ties
    val rows = for (s <- sources; v <- 0 until 1 + rnd.nextInt(40)) yield
      (s, v * 7L - 50L, if (rnd.nextInt(4) == 0) 0.125 else rnd.nextDouble() / (1 + v))
    val full = newDir("seeded_full")
    PprStore.write(df(rows), full)
    val scan = spark.read.parquet(full)
    for (s <- sources :+ 999L) {
      val got = PprStore.read(spark, full, s)
      val want = scan.where(col("src") === s).select("node_id", "score")
      assert(got.schema == want.schema)
      assert(bits(got.collect()).sortBy(_.head) == bits(want.collect()).sortBy(_.head),
        s"source $s")
    }
    val k = 5
    val topk = newDir("seeded_topk")
    Base.writeTopkStore(df(rows, "dst"), topk, k)
    val topkScan = spark.read.parquet(topk)
    var tied = false
    for (s <- sources :+ 999L) {
      val got = Base.readTopkSource(spark, topk, s).collect()
      val want = topkScan.where(col("src") === s)
        .select("node_id", "score", "rk").orderBy("rk", "node_id").collect()
      assert(bits(got) == bits(want), s"source $s")
      tied ||= got.length > k
    }
    assert(tied, "no source has a tie at the top-k cut")
    assert(PprStore.delete(spark, full) && PprStore.delete(spark, topk))
  }

  test("a schema-only empty store reads 0 rows with one job") {
    val dir = newDir("empty")
    PprStore.write(df(Seq.empty), dir)
    var rows = -1
    assert(jobsDuring { rows = read(dir, 1L).size } == 1)
    assert(rows == 0)
    assert(PprStore.delete(spark, dir))
  }

  test("files named _* or .* in the store are not read") {
    val dir = newDir("hidden")
    PprStore.write(df(vecA), dir)
    val part = java.nio.file.Paths.get(dir, "src=1")
    val names = Files.list(part).toArray.map(_.toString)
    assert(names.exists(_.endsWith(".crc")), names.mkString(", "))
    assert(Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
    // not Parquet: reading either file would fail the read
    Files.write(part.resolve("_SUCCESS"), "not parquet".getBytes)
    Files.write(part.resolve(".stray.parquet"), "not parquet".getBytes)
    assert(read(dir, 1L) == expect(vecA, 1L))
    assert(PprStore.delete(spark, dir))
  }

  test("a read runs its job in the call: collect() on the result runs none") {
    val dir = newDir("local")
    PprStore.write(df(vecA), dir)
    var got: DataFrame = null
    assert(jobsDuring { got = PprStore.read(spark, dir, 1L) } == 1)
    assert(jobsDuring { assert(got.collect().length == 2) } == 0)
    val topk = newDir("local_topk")
    Base.writeTopkStore(df(vecA, "dst"), topk, 1)
    assert(jobsDuring { got = Base.readTopkSource(spark, topk, 1L) } == 1)
    assert(jobsDuring { assert(got.collect().length == 1) } == 0)
    assert(PprStore.delete(spark, dir) && PprStore.delete(spark, topk))
  }

  test("reads after the first make no new broadcast") {
    val dir = newDir("conf")
    PprStore.write(df(vecA), dir)
    assert(read(dir, 1L) == expect(vecA, 1L))
    assert(broadcastsDuring {
      for (i <- 0 until 20) read(dir, 1L + i % 4)
    } == 0)
    assert(PprStore.delete(spark, dir))
  }
}
