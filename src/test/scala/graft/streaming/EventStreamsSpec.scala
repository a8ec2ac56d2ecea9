package graft.streaming

import graft.{SparkSpec, Tables}
import graft.streaming.EventStreams._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class EventStreamsSpec extends SparkSpec {

  test("streaming windowed counts equal the batch query on full replay") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = windowedCounts(df).writeStream
      .format("memory").queryName("wc").outputMode("complete").start()
    try {
      val rows = Tables(spark, sfDir, "events")
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        .as[(Long, java.sql.Timestamp, String, Double)].collect()
      input.addData(rows.toSeq)
      q.processAllAvailable()
      val got = spark.table("wc").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val want = graft.queries.Events.queries("ev_window")(spark, sfDir)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming daily KMV sketch equals the batch row's sketch columns") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val df = input.toDF().toDF("user_id", "ts")
    val q = dailyDistinctKmv(df).writeStream
      .format("memory").queryName("dkmv").outputMode("complete").start()
    try {
      val rows = Tables(spark, sfDir, "events")
        .select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)].collect()
      // two batches: the sketch state must merge across micro-batches
      val (a, b) = rows.splitAt(rows.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
      val got = spark.table("dkmv").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val want = graft.queries.Events.queries("ev_daily_kmv")(spark, sfDir)
        .select(col("day"), col("kth_h"), col("est")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming daily CMS matrix equals the batch row's counter matrix") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val df = input.toDF().toDF("user_id", "ts")
    val q = dailyCmsMatrix(df).writeStream
      .format("memory").queryName("dcms").outputMode("complete").start()
    try {
      val rows = Tables(spark, sfDir, "events")
        .select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)].collect()
      // two batches: the per-(window, j, bucket) counts must merge
      // across micro-batches.
      val (a, b) = rows.splitAt(rows.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
      val got = spark.table("dcms").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSet
      // the batch matrix via the literal-j union shape — equality here
      // pins the twin's column-j spelling to the same bucket math.
      val want = graft.queries.Events.cmsMatrix(
          Tables(spark, sfDir, "events").selectExpr(
            "date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day",
            "user_id"))
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == want)
      // bounded state: the matrix never exceeds d·w rows per day.
      got.groupBy(_._1).foreach { case (day, g) =>
        assert(g.size <= graft.queries.Events.CmsD * graft.queries.Events.CmsW,
          s"day $day has ${g.size} matrix rows")
      }
    } finally q.stop()
  }

  test("streaming daily HLL registers equal the batch row's register table") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val df = input.toDF().toDF("user_id", "ts")
    val q = dailyHllRegisters(df).writeStream
      .format("memory").queryName("dhll").outputMode("complete").start()
    try {
      val rows = Tables(spark, sfDir, "events")
        .select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)].collect()
      // two batches: max-ρ register state must merge across micro-batches
      // (max is the idempotent merge the sketch relies on).
      val (a, b) = rows.splitAt(rows.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
      val got = spark.table("dhll").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      val P = graft.graph.Hashing.P
      val want = graft.queries.Events.hllRegisters(
          Tables(spark, sfDir, "events")
            .selectExpr(
              "date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day",
              s"user_id % $P AS h")
            .selectExpr("day",
              s"${graft.graph.Hashing.spark.kmvMix("h")} AS hm"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == want)
      // bounded state: never more than m registers per day.
      got.groupBy(_._1).foreach { case (day, g) =>
        assert(g.size <= graft.graph.Hashing.HllM,
          s"day $day has ${g.size} registers")
      }
    } finally q.stop()
  }

  test("streaming daily sampled quantiles equal the batch row's sketch " +
      "columns") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("event_id", "ts", "value")
    val q = dailyValueQuantiles(df).writeStream
      .format("memory").queryName("dvq").outputMode("complete").start()
    try {
      val rows = Tables(spark, sfDir, "events")
        .select(col("event_id"), col("ts"), col("value"))
        .as[(Long, java.sql.Timestamp, Double)].collect()
      // two batches: the bounded sample state must merge across
      // micro-batches (bottom-k by (hash, id) is order-free).
      val (a, b) = rows.splitAt(rows.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
      val got = spark.table("dvq").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).toSet
      val E = graft.queries.Events
      val want = E.queries("ev_value_quantiles")(spark, sfDir)
        .selectExpr("day",
          s"CAST(least(n, ${E.EvQK}) AS INT) AS n_sample",
          "sp_p50", "sp_p90", "sp_p99").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("null-valued events consume no sample slot in EITHER engine: the " +
      "batch cut's null filter matches the twin's update skip") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val E = graft.queries.Events
    val H = graft.graph.Hashing
    val ts = java.sql.Timestamp.valueOf("2024-03-05 10:00:00")
    // 100 events on one day, ids 0..99: ids ≡ 0,1,2 (mod 10) carry a NULL
    // value, the rest value = id. Fixture sanity below proves at least one
    // null id lands INSIDE the bottom-EvQK hash cut, i.e. without the
    // batch-side null filter the null row would claim a sample slot there
    // (evicting a real value) while the stream twin skips it.
    val rows = (0L until 100L).map { id =>
      (id, ts, if (id % 10 < 3) None else Some(id.toDouble))
    }
    val nullIds = rows.filter(_._3.isEmpty).map(_._1).toSet
    val bottomK = rows.map(_._1).sortBy(id => H.kmvMix(id % H.P))
      .take(E.EvQK).toSet
    assert((bottomK & nullIds).nonEmpty, "fixture lost its point")

    val input = MemoryStream[(Long, java.sql.Timestamp, Option[Double])]
    val df = input.toDF().toDF("event_id", "ts", "value")
    val q = dailyValueQuantiles(df).writeStream
      .format("memory").queryName("dvq_null").outputMode("complete").start()
    val got = try {
      input.addData(rows)
      q.processAllAvailable()
      spark.table("dvq_null").collect().map(r =>
        (r.getString(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4))).toSet
    } finally q.stop()

    val nonNull = rows.count(_._3.nonEmpty)
    val batch = E.evValueQuantiles(
        rows.toDF("event_id", "ts", "value"))
      .selectExpr("day", s"CAST(${math.min(nonNull, E.EvQK)} AS INT) AS n_sample",
        "sp_p50", "sp_p90", "sp_p99").collect().map(r =>
        (r.getString(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4))).toSet
    assert(got == batch)
    assert(got.head._2 == E.EvQK) // the day sampled k NON-null rows
  }

  test("streaming hopping-window counts equal the batch query on full replay") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = slidingCounts(df).writeStream
      .format("memory").queryName("sc").outputMode("complete").start()
    try {
      val rows = Tables(spark, sfDir, "events")
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        .as[(Long, java.sql.Timestamp, String, Double)].collect()
      input.addData(rows.toSeq)
      q.processAllAvailable()
      val got = spark.table("sc").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val want = graft.queries.Events.queries("ev_sliding")(spark, sfDir)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming sessionization closes the batch sessions (minus open tails)") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[Ev]
    val q = sessionize(input.toDS(), graft.queries.Events.GapSeconds)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      val rows = Tables(spark, sfDir, "events")
        .select(col("user_id"), col("ts"), col("value")).as[Ev].collect()
      input.addData(rows.toSeq)
      q.processAllAvailable()
      val got = spark.table("sess").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap

      val batch = graft.queries.Events.queries("ev_sessions")(spark, sfDir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
      // streaming emits only CLOSED sessions: every user's last session
      // stays open in state.
      val lastPerUser = batch.keys.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val expectedClosed = batch.filter { case ((u, sid), _) => sid < lastPerUser(u) }
      assert(got.keySet == expectedClosed.keySet)
      for ((k, (n, sum, dur)) <- expectedClosed) {
        val (gn, gsum, gdur) = got(k)
        assert(gn == n, s"$k n_events")
        assert(math.abs(gsum - sum) < 1e-6, s"$k sum $gsum vs $sum")
        assert(math.abs(gdur - dur) < 1e-5, s"$k duration $gdur vs $dur")
      }
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch attribution pairs") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val cdf = clicks.toDF().toDF("user_id", "event_id", "ts")
    val pdf = purchases.toDF().toDF("user_id", "event_id", "ts")
    val q = intervalJoin(cdf, pdf, graft.queries.Events.AttrWindowSec, "2 hours")
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      val ev = Tables(spark, sfDir, "events")
      def side(t: String) = ev.where(col("event_type") === t)
        .select(col("user_id"), col("event_id"), col("ts"))
        .as[(Long, Long, java.sql.Timestamp)].collect()
      clicks.addData(side("click").toSeq)
      purchases.addData(side("purchase").toSeq)
      q.processAllAvailable()
      val got = spark.table("attr").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = graft.queries.Events.queries("ev_interval")(spark, sfDir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want)
      assert(want.nonEmpty)
    } finally q.stop()
  }

  test("stream-static enrichment equals the batch join, unknown types pass") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    // static dim: one tier row per event_type seen in the batch table,
    // deliberately MISSING one type to exercise the left-join passthrough.
    val types = Tables(spark, sfDir, "events")
      .select("event_type").distinct().as[String].collect().sorted
    val dim = types.dropRight(1).zipWithIndex
      .map { case (t, i) => (t, s"tier_$i") }.toSeq
      .toDF("event_type", "tier")

    val input = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = enrich(df, dim).writeStream
      .format("memory").queryName("enr").outputMode("append").start()
    try {
      val rows = Tables(spark, sfDir, "events")
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        .as[(Long, java.sql.Timestamp, String, Double)].collect()
      input.addData(rows.toSeq)
      q.processAllAvailable()
      val got = spark.table("enr")
        .select(col("user_id"), col("event_type"), col("tier")).collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
        .sortBy(t => (t._1, t._2, t._3))
      val want = enrich(
        Tables(spark, sfDir, "events")
          .select(col("user_id"), col("ts"), col("event_type"), col("value")),
        dim)
        .select(col("user_id"), col("event_type"), col("tier")).collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
        .sortBy(t => (t._1, t._2, t._3))
      assert(got.length == want.length && got.sameElements(want))
      // the type missing from the dim surfaces with NULL tier, not dropped.
      assert(got.exists(_._3.isEmpty))
    } finally q.stop()
  }

  test("windowed agg resumes exactly-once from a checkpoint across restart") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val ckpt = java.nio.file.Files.createTempDirectory("graft_sck").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sout").toString
    val input = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    def start() = {
      val df = input.toDF().toDF("user_id", "ts", "event_type", "value")
      // file sink + append mode: a window row is written exactly once,
      // when the watermark closes it — the production shape for
      // aggregations that must survive failures.
      windowedCounts(df).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    val rows = Tables(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .as[(Long, java.sql.Timestamp, String, Double)].collect()
      .sortBy(_._2.getTime)
    val (first, second) = rows.splitAt(rows.length / 2)
    val maxTs = rows.map(_._2.getTime).max
    // sentinel far past the data: advances the watermark beyond every real
    // window's end so append mode flushes them all; its own window stays
    // open and never reaches the sink.
    val sentinel = (0L, new java.sql.Timestamp(maxTs + 24L * 3600 * 1000),
      "zz_sentinel", 0.0)

    val q1 = start()
    try { input.addData(first.toSeq); q1.processAllAvailable() }
    finally q1.stop()
    // restart from the SAME checkpoint: offsets + window state recover,
    // the second half continues the same windows (the split cuts windows
    // in half at the boundary, so recovered STATE — not just offsets — is
    // what makes the counts come out right).
    val q2 = start()
    try {
      input.addData(second.toSeq)
      input.addData(Seq(sentinel))
      q2.processAllAvailable()
    } finally q2.stop()

    val got = spark.read.parquet(outDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // exactly-once: every (hour, type) window appears at most once.
    assert(got.map(t => (t._1, t._2)).distinct.length == got.length,
      "restart must not re-emit finalized windows")
    val want = graft.queries.Events.queries("ev_window")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got.toSet == want,
      "recovered stream must produce the batch result, nothing lost or doubled")
  }

  test("streaming dedup keeps the first arrival per content fingerprint") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "ts", "text")
    val q = dedupByContent(df, "ts", "10 minutes").writeStream
      .format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData(Seq(
        (1L, at(0), "alpha"), (2L, at(1), "beta"),
        (3L, at(2), "alpha"), // dup of doc 1 within the horizon -> dropped
        (4L, at(3), "gamma")))
      q.processAllAvailable()
      // advance event time far past the watermark so "alpha" is evicted
      // from state, then replay it: a re-arrival AFTER the horizon passes.
      input.addData(Seq((5L, at(60), "delta")))
      q.processAllAvailable()
      input.addData(Seq((6L, at(61), "alpha")))
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getLong(0)).toSet
      assert(ids.contains(1L) && ids.contains(2L) && ids.contains(4L) && ids.contains(5L))
      assert(!ids.contains(3L), "duplicate within horizon must be dropped")
      assert(ids.contains(6L), "re-arrival after state eviction is a new first")
    } finally q.stop()
  }

  test("streaming transitions reproduce the batch bigram counts, " +
    "including across batch boundaries") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val rows = Tables(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[TEv].collect().toSeq
    val want = graft.queries.Events.queries("ev_markov")(spark, sfDir)
      .select(col("from_type"), col("to_type"), col("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    def run(chunks: Seq[Seq[TEv]], name: String): Map[(String, String), Long] = {
      val input = MemoryStream[TEv]
      val q = transitions(input.toDS()).writeStream
        .format("memory").queryName(name).outputMode("append").start()
      try {
        chunks.foreach { c => input.addData(c); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getString(1), r.getString(2)))
          .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      } finally q.stop()
    }

    // single-batch full replay
    assert(run(Seq(rows), "tr1") == want)
    // two chunks split on global event time: per-user order is preserved,
    // and the boundary transitions come from the CARRIED state
    val cut = rows.map(_.ts.getTime).sorted.apply(rows.length / 2)
    val (a, b) = rows.partition(_.ts.getTime < cut)
    assert(a.nonEmpty && b.nonEmpty)
    assert(run(Seq(a, b), "tr2") == want)
  }

  test("streaming trigrams reproduce the batch 3-step sequence counts " +
      "across batch boundaries, including users whose first two events " +
      "split") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val rows = Tables(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[TEv].collect().toSeq
    // brute 3-gram counts (the batch ev_trigrams row pre-cut)
    val want = rows.groupBy(_.user_id).values.flatMap { u =>
      u.sortBy(e => (math.floorDiv(e.ts.getTime, 1000L), e.ts.getNanos,
          e.event_id))
        .map(_.event_type).sliding(3).filter(_.length == 3)
        .map(w => (w(0), w(1), w(2)))
    }.toSeq.groupBy(identity).map { case (k, v) => k -> v.length.toLong }

    def run(chunks: Seq[Seq[TEv]],
        name: String): Map[(String, String, String), Long] = {
      val input = MemoryStream[TEv]
      val q = trigrams(input.toDS()).writeStream
        .format("memory").queryName(name).outputMode("append").start()
      try {
        chunks.foreach { c => input.addData(c); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getString(1), r.getString(2), r.getString(3)))
          .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      } finally q.stop()
    }

    assert(run(Seq(rows), "tg1") == want)
    // THREE chunks split on global event time: many users' first or
    // second event lands in an earlier chunk than their third — the
    // partial ≤2-event state must carry the window across
    val times = rows.map(_.ts.getTime).sorted
    val (c1, c2) = (times(rows.length / 3), times(2 * rows.length / 3))
    val chunks = Seq(rows.filter(_.ts.getTime < c1),
      rows.filter(e => e.ts.getTime >= c1 && e.ts.getTime < c2),
      rows.filter(_.ts.getTime >= c2))
    assert(chunks.forall(_.nonEmpty))
    assert(run(chunks, "tg3") == want)
    // consistency with the batch row's top-N cut
    val cut = graft.queries.Events.queries("ev_trigrams")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))
        -> r.getLong(3)).toMap
    cut.foreach { case (k, n) => assert(want(k) == n, s"trigram $k") }
  }

  test("streaming daily KMV sketch sets equal the batch bottom-k " +
      "distinct hashes across micro-batch splits") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val df = input.toDF().toDF("user_id", "ts")
    val q = dailySketchSet(df).writeStream
      .format("memory").queryName("dsk").outputMode("complete").start()
    try {
      val rows = Tables(spark, sfDir, "events")
        .select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)].collect()
      val chunks = rows.grouped((rows.length + 2) / 3).toSeq
      chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
      val got = spark.table("dsk").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet

      val P = graft.graph.Hashing.P
      val want = Tables(spark, sfDir, "events")
        .selectExpr(
          "date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day",
          s"user_id % $P AS h")
        .selectExpr("day", s"${graft.graph.Hashing.spark.kmvMix("h")} AS hm")
        .distinct()
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("day"))
            .orderBy(col("hm"))))
        .where(col("rn") <= graft.queries.Events.EvOvK)
        .select(col("day"), col("hm"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == want)
      // bounded state: ≤ k sketch members per day
      got.groupBy(_._1).foreach { case (day, g) =>
        assert(g.size <= graft.queries.Events.EvOvK,
          s"day $day kept ${g.size} > k hashes")
      }
    } finally q.stop()
  }

  test("streaming daily Misra-Gries candidates: exact equality in the " +
      "no-cancellation regime, MG guarantees under a tiny k") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    // exact per-day bucket counts (the truth the guarantees quote)
    val exact = Tables(spark, sfDir, "events")
      .selectExpr(
        "date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day",
        graft.queries.Events.HhBucketSql + " AS bucket")
      .groupBy(col("day"), col("bucket")).agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val dayN = exact.groupBy(_._1._1).view.mapValues(_.values.sum).toMap

    def run(k: Int, name: String): Map[(String, Long), Long] = {
      val input = MemoryStream[(Long, java.sql.Timestamp)]
      val df = input.toDF().toDF("user_id", "ts")
      val q = dailyHhCandidates(df, k).writeStream
        .format("memory").queryName(name).outputMode("complete").start()
      try {
        val rows = Tables(spark, sfDir, "events")
          .select(col("user_id"), col("ts"))
          .as[(Long, java.sql.Timestamp)].collect()
        // three micro-batches: summaries must merge across batches
        val chunks = rows.grouped((rows.length + 2) / 3).toSeq
        chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      } finally q.stop()
    }

    // k = HhK (256) ≥ distinct buckets per day: no cancellation ever
    // fires, the summary IS the exact count table — full equality, the
    // stream ≡ batch pin the other sketch twins carry.
    assert(run(graft.queries.Events.HhK, "mg1") == exact)

    // k = 2 < distinct buckets: bounded state (≤ 2 rows/day), counters
    // are lower bounds within the merged-summary error n_day/(k+1), and
    // every bucket above that share bar survives (no false negatives
    // for any micro-batch split — the mergeable-summaries guarantee).
    val tiny = run(2, "mg2")
    tiny.groupBy(_._1._1).foreach { case (day, g) =>
      assert(g.size <= 2, s"day $day kept ${g.size} > k counters")
    }
    tiny.foreach { case ((day, b), lb) =>
      val tru = exact((day, b))
      assert(lb <= tru, s"($day,$b) lb $lb above true $tru")
      assert(tru - lb <= dayN(day) / 3, s"($day,$b) undercount > n/(k+1)")
    }
    exact.foreach { case ((day, b), tru) =>
      if (tru > dayN(day) / 3)
        assert(tiny.contains((day, b)), s"lost frequent ($day,$b) tru=$tru")
    }
  }

  test("streaming latest-state store: final state equals batch ev_latest " +
      "across micro-batches, emissions advance monotonically, and stale " +
      "arrivals emit nothing") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[LEv]
    val q = latestState(input.toDS()).writeStream
      .format("memory").queryName("lstate").outputMode("update").start()
    try {
      val rows = Tables(spark, sfDir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"), col("value"))
        .as[LEv].collect()
      val (a, b) = rows.splitAt(rows.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
      val emitted = spark.table("lstate").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4)))
      // emissions per key are strictly monotone, so max = final state
      val finalState = emitted.groupBy(t => (t._1, t._2)).view
        .mapValues(_.maxBy(t => (t._4, t._3))).toMap
      val want = graft.queries.Events.queries("ev_latest")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
            r.getDouble(4)))).toMap
      assert(finalState == want)
      // each key emits at most once per micro-batch (≤ 2 here)
      emitted.groupBy(t => (t._1, t._2)).foreach { case (k, es) =>
        assert(es.length <= 2, s"key $k emitted ${es.length} times")
      }
      // a stale arrival (older than the held maximum) must not emit
      val before = spark.table("lstate").count()
      val stale = rows.maxBy(e => (e.ts.getTime, e.event_id))
        .copy(event_id = -1L,
          ts = new java.sql.Timestamp(0L))
      input.addData(Seq(stale)); q.processAllAvailable()
      assert(spark.table("lstate").count() == before, "stale row emitted")
    } finally q.stop()
  }

  test("bitmapState ≡ the batch retention mask table under a FULLY " +
      "shuffled feed (rebase handles out-of-order first arrivals)") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[BEv]
    val q = bitmapState(input.toDS()).writeStream
      .format("memory").queryName("bmstate").outputMode("update").start()
    try {
      // NO time ordering at all — the rebase makes the twin
      // permutation-invariant, stronger than the ewma in-order contract
      val rows = Tables(spark, sfDir, "events")
        .select(col("user_id"), col("ts")).as[BEv].collect()
      val rnd = new scala.util.Random(11)
      rnd.shuffle(rows.toSeq)
        .grouped(math.max(1, rows.length / 4 + 1)).foreach { b =>
          input.addData(b); q.processAllAvailable()
        }
      // the final snapshot per user: minimum anchor, then the largest
      // mask emitted at that anchor (masks only grow once the anchor
      // settles)
      val emitted = spark.table("bmstate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val fin = emitted.groupBy(_._1).map { case (u, es) =>
        val f = es.map(_._2).min
        u -> ((f, es.filter(_._2 == f).map(_._3).max))
      }
      val batch = graft.queries.Events.retentionMasks(spark, sfDir)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      assert(batch.nonEmpty && fin == batch)
      // replaying an already-absorbed event emits nothing
      val before = spark.table("bmstate").count()
      input.addData(Seq(rows.head)); q.processAllAvailable()
      assert(spark.table("bmstate").count() == before, "duplicate emitted")
    } finally q.stop()
  }

  test("ewmaState ≡ batch ev_ewma on every closed day, across mid-day " +
      "micro-batch splits and shuffled within-batch arrival order") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[EwEv]
    val q = ewmaState(input.toDS()).writeStream
      .format("memory").queryName("ewstate").outputMode("append").start()
    try {
      // time-ordered feed split into 3 micro-batches at arbitrary (mid-
      // day) positions; WITHIN each batch the arrival order is shuffled
      // — the fold must re-sort days itself.
      val rows = Tables(spark, sfDir, "events")
        .select(col("event_type"), col("ts"), col("value"))
        .as[EwEv].collect().sortBy(_.ts.getTime)
      val rnd = new scala.util.Random(7)
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { b =>
        input.addData(rnd.shuffle(b.toSeq)); q.processAllAvailable()
      }
      val emitted = spark.table("ewstate").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3)))).toMap
      val batch = graft.queries.Events.queries("ev_ewma")(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3)))).toMap
      // each type's LAST day is still open (nothing later has proven it
      // complete) — the stream emits exactly the closed prefix.
      val lastDay = batch.keys.groupBy(_._1).view
        .mapValues(_.map(_._2).max).toMap
      val closed = batch.filter { case ((t, d), _) => d < lastDay(t) }
      assert(closed.nonEmpty, "bench table must span multiple days")
      assert(emitted == closed)
      // a late arrival for an already-CLOSED day is absorbed silently —
      // it must neither emit nor rewrite the emitted prefix.
      val before = spark.table("ewstate").count()
      val late = rows.find(e => {
        val d = math.floorDiv(math.floorDiv(e.ts.getTime, 1000L) * 1000000L
          + e.ts.getNanos / 1000L, graft.queries.Events.DayUs)
        closed.contains((e.event_type, d))
      }).get
      input.addData(Seq(late)); q.processAllAvailable()
      assert(spark.table("ewstate").count() == before, "late day emitted")
    } finally q.stop()
  }

  test("holtState ≡ batch ev_holt on every closed day, across mid-day " +
      "micro-batch splits and shuffled within-batch arrival order") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[EwEv]
    val q = holtState(input.toDS()).writeStream
      .format("memory").queryName("holtstate").outputMode("append").start()
    try {
      val rows = Tables(spark, sfDir, "events")
        .select(col("event_type"), col("ts"), col("value"))
        .as[EwEv].collect().sortBy(_.ts.getTime)
      val rnd = new scala.util.Random(11)
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { b =>
        input.addData(rnd.shuffle(b.toSeq)); q.processAllAvailable()
      }
      val emitted = spark.table("holtstate").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5)))).toMap
      val batch = graft.queries.Events.queries("ev_holt")(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5)))).toMap
      val lastDay = batch.keys.groupBy(_._1).view
        .mapValues(_.map(_._2).max).toMap
      val closed = batch.filter { case ((t, d), _) => d < lastDay(t) }
      assert(closed.nonEmpty, "bench table must span multiple days")
      assert(emitted == closed)
      // late arrival for a closed day: absorbed, nothing emitted.
      val before = spark.table("holtstate").count()
      val late = rows.find(e => {
        val d = math.floorDiv(math.floorDiv(e.ts.getTime, 1000L) * 1000000L
          + e.ts.getNanos / 1000L, graft.queries.Events.DayUs)
        closed.contains((e.event_type, d))
      }).get
      input.addData(Seq(late)); q.processAllAvailable()
      assert(spark.table("holtstate").count() == before, "late day emitted")
    } finally q.stop()
  }

  test("holtWintersState ≡ batch ev_holt_winters on every closed day " +
      "(first season consumed as seed), across micro-batch splits") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[EwEv]
    val q = holtWintersState(input.toDS()).writeStream
      .format("memory").queryName("hwstate").outputMode("append").start()
    try {
      val rows = Tables(spark, sfDir, "events")
        .select(col("event_type"), col("ts"), col("value"))
        .as[EwEv].collect().sortBy(_.ts.getTime)
      val rnd = new scala.util.Random(17)
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach { b =>
        input.addData(rnd.shuffle(b.toSeq)); q.processAllAvailable()
      }
      val emitted = spark.table("hwstate").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5), r.getDouble(6)))).toMap
      val batch = graft.queries.Events
        .queries("ev_holt_winters")(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5), r.getDouble(6)))).toMap
      val lastDay = batch.keys.groupBy(_._1).view
        .mapValues(_.map(_._2).max).toMap
      val closed = batch.filter { case ((t, d), _) => d < lastDay(t) }
      assert(closed.nonEmpty)
      assert(emitted == closed)
    } finally q.stop()
  }

  test("cusumState with batch-derived control limits ≡ batch ev_cusum " +
      "on every closed day, across micro-batch splits") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    // the offline limit estimate: the batch row's exact integer moments,
    // folded with the identical float spelling.
    val daily = Tables(spark, sfDir, "events").collect()
      .map { r =>
        val ts = r.getTimestamp(r.fieldIndex("ts"))
        val d = math.floorDiv(
          math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L,
          graft.queries.Events.DayUs)
        ((r.getString(r.fieldIndex("event_type")), d),
          BigDecimal(r.getDouble(r.fieldIndex("value")) * 100)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val limits = daily.keys.map(_._1).toSet.toSeq.sorted.flatMap { typ =>
      val cs = daily.collect { case ((t, _), c) if t == typ => c }.toSeq
      val n = cs.length.toLong
      if (n < 2) None
      else {
        val s1 = cs.sum
        val s2 = cs.map(c => c * c).sum
        val mu = s1.toDouble / n / 100
        val sd = math.sqrt((n * s2 - s1 * s1).toDouble /
          (n * (n - 1)).toDouble) / 100
        Some(typ -> ((mu, sd)))
      }
    }.toMap

    val input = MemoryStream[EwEv]
    val q = cusumState(input.toDS(), limits).writeStream
      .format("memory").queryName("cusumstate").outputMode("append").start()
    try {
      val rows = Tables(spark, sfDir, "events")
        .select(col("event_type"), col("ts"), col("value"))
        .as[EwEv].collect().sortBy(_.ts.getTime)
      val rnd = new scala.util.Random(13)
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { b =>
        input.addData(rnd.shuffle(b.toSeq)); q.processAllAvailable()
      }
      val emitted = spark.table("cusumstate").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getLong(5)))).toMap
      val batch = graft.queries.Events.queries("ev_cusum")(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getLong(5)))).toMap
      val lastDay = batch.keys.groupBy(_._1).view
        .mapValues(_.map(_._2).max).toMap
      val closed = batch.filter { case ((t, d), _) => d < lastDay(t) }
      assert(closed.nonEmpty)
      assert(emitted == closed)
    } finally q.stop()
  }

  test("churnState ≡ the batch ev_churn classification on every " +
      "provable row, across in-order micro-batch splits") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[BEv]
    val q = churnState(input.toDS()).writeStream
      .format("memory").queryName("chstate").outputMode("append").start()
    try {
      // per-user event-time order (the transitions/ewma deployment
      // contract): a global ts sort split into sequential chunks is an
      // in-order feed for every user. The sf0.001 table's span has no
      // per-user weekly gap, so three SYNTHETIC users (ids far above the
      // real range) are mixed in to exercise the churn and resurrection
      // legs: weeks {0,1,3}, {0,2}, {5}.
      val WeekUs = graft.queries.Events.WeekUs
      val SynthBase = 10000000L
      def synth(u: Long, w: Long) =
        BEv(SynthBase + u, new java.sql.Timestamp(w * WeekUs / 1000L))
      val synths = Seq(synth(1, 0), synth(1, 1), synth(1, 3),
        synth(2, 0), synth(2, 2), synth(3, 5))
      val rows = (Tables(spark, sfDir, "events")
        .select(col("user_id"), col("ts")).as[BEv].collect() ++ synths)
        .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.user_id))
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach { b =>
        input.addData(b.toSeq); q.processAllAvailable()
      }
      val emitted = spark.table("chstate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

      // batch classification from the distinct (user, week) matrix —
      // the exact ev_churn class definitions, plus the held-tail rule:
      // each user's FINAL churned marker (last week + 1) is withheld
      // (no later arrival can prove the user gone rather than quiet).
      val uw = rows.map(e => (e.user_id,
        math.floorDiv(math.floorDiv(e.ts.getTime, 1000L) * 1000000L +
          e.ts.getNanos / 1000L, WeekUs))).distinct
      val byUser = uw.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val want = byUser.flatMap { case (u, ws) =>
        val fw = ws.min
        val classes = ws.toSeq.map { w =>
          if (w == fw) (u, w, "new")
          else if (ws.contains(w - 1)) (u, w, "retained")
          else (u, w, "resurrected")
        }
        val churned = ws.toSeq
          .filter(w => !ws.contains(w + 1) && w != ws.max)
          .map(w => (u, w + 1, "churned"))
        classes ++ churned
      }.toSet
      assert(want.exists(_._3 == "churned"),
        "fixture must exercise the churn leg")
      assert(want.exists(_._3 == "resurrected"),
        "fixture must exercise the resurrection leg")
      assert(emitted == want)

      // the ledger aggregates to the batch ev_churn row's class counts
      // over the REAL users (the synthetics aren't in the table;
      // churned is shifted by the withheld final markers, which the
      // batch row DOES count — reconcile by adding them back)
      val batch = graft.queries.Events.queries("ev_churn")(spark, sfDir)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5)))).toMap
      val finalMarkers = byUser.view.filterKeys(_ < SynthBase)
        .mapValues(ws => ws.max + 1).values
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      batch.foreach { case (w, (_, nNew, nRet, nRes, nChn)) =>
        def cnt(c: String) = emitted
          .count(e => e._1 < SynthBase && e._2 == w && e._3 == c).toLong
        assert(cnt("new") == nNew, s"week $w new")
        assert(cnt("retained") == nRet, s"week $w retained")
        assert(cnt("resurrected") == nRes, s"week $w resurrected")
        assert(cnt("churned") + finalMarkers.getOrElse(w, 0L) == nChn,
          s"week $w churned")
      }

      // a late arrival for an already-classified week is absorbed
      val before = spark.table("chstate").count()
      input.addData(Seq(rows.head)); q.processAllAvailable()
      assert(spark.table("chstate").count() == before, "late week emitted")
    } finally q.stop()
  }

  test("streaming funnel ledger ≡ batch ev_funnel across 3 day-aligned " +
      "micro-batch splits with a late within-day arrival and a flush tick") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val DayUs = graft.queries.Events.DayUs

    val input = MemoryStream[TEv]
    val q = funnelState(input.toDS()).writeStream
      .format("memory").queryName("fst").outputMode("append").start()
    try {
      val rows = Tables(spark, sfDir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .as[TEv].collect().toSeq
      def usOf(e: TEv): Long =
        math.floorDiv(e.ts.getTime, 1000L) * 1000000L + e.ts.getNanos / 1000L
      def dayOf(e: TEv): Long = math.floorDiv(usOf(e), DayUs)
      val days = rows.map(dayOf)
      val (lo, hi) = (days.min, days.max)
      val (c1, c2a) = rows.partition(dayOf(_) <= lo + (hi - lo) / 3)
      val (c2, c3) = c2a.partition(dayOf(_) <= lo + 2 * (hi - lo) / 3)
      // the LATE arrival: chunk 1's latest view ships with chunk 2 — a
      // within-open-day straggler (no later-day event for its user has
      // been fed when it lands, because day boundaries split the chunks)
      val late = c1.filter(_.event_type == "view").maxBy(usOf)
      val b1 = c1.filterNot(_ eq late)
      // reversed feeds: in-batch arrival order must not matter
      input.addData(b1.reverse); q.processAllAvailable()
      input.addData((late +: c2).reverse); q.processAllAvailable()
      input.addData(c3.reverse); q.processAllAvailable()
      // flush ticks: one non-funnel event per user past the last day
      // closes every open day (the "any type advances the clock" rule)
      val ticks = rows.map(_.user_id).distinct.map(u =>
        TEv(u, new java.sql.Timestamp((hi + 1) * DayUs / 1000L), -1L,
          "flush"))
      input.addData(ticks); q.processAllAvailable()

      val got = spark.table("fst").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      val want = graft.queries.Events.queries("ev_funnel")(spark, sfDir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(want.nonEmpty, "fixture must complete some funnels")
      assert(got == want)

      // an arrival into a CLOSED day is absorbed — nothing re-emits
      val before = spark.table("fst").count()
      input.addData(Seq(rows.maxBy(usOf))); q.processAllAvailable()
      assert(spark.table("fst").count() == before,
        "closed-day arrival must be absorbed")
    } finally q.stop()
  }

  test("churnWeekly (the streaming aggregation OVER the churn ledger) ≡ " +
      "the batch ev_churn class counts minus the held final markers, " +
      "across 4 micro-batch splits with a late arrival") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[BEv]
    val q = churnWeekly(input.toDS()).writeStream
      .format("memory").queryName("chweekly").outputMode("complete").start()
    try {
      val WeekUs = graft.queries.Events.WeekUs
      val SynthBase = 10000000L
      def synth(u: Long, w: Long) =
        BEv(SynthBase + u, new java.sql.Timestamp(w * WeekUs / 1000L))
      val synths = Seq(synth(1, 0), synth(1, 1), synth(1, 3),
        synth(2, 0), synth(2, 2), synth(3, 5))
      val rows = (Tables(spark, sfDir, "events")
        .select(col("user_id"), col("ts")).as[BEv].collect() ++ synths)
        .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.user_id))
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach { b =>
        input.addData(b.toSeq); q.processAllAvailable()
      }
      // late arrival for a long-classified week: the ledger absorbs it,
      // so the aggregate frame must not move either
      input.addData(Seq(rows.head)); q.processAllAvailable()
      val got = spark.table("chweekly").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

      // expected: the batch classification over the full (real + synth)
      // feed, minus each user's FINAL churned marker (held by contract)
      val uw = rows.map(e => (e.user_id,
        math.floorDiv(math.floorDiv(e.ts.getTime, 1000L) * 1000000L +
          e.ts.getNanos / 1000L, WeekUs))).distinct
      val byUser = uw.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val want = byUser.toSeq.flatMap { case (u, ws) =>
        val fw = ws.min
        val classes = ws.toSeq.map { w =>
          if (w == fw) (w, "new")
          else if (ws.contains(w - 1)) (w, "retained")
          else (w, "resurrected")
        }
        val churned = ws.toSeq
          .filter(w => !ws.contains(w + 1) && w != ws.max)
          .map(w => (w + 1, "churned"))
        classes ++ churned
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == want)

      // reconcile AGAINST THE BATCH ROW for the real users: batch counts
      // = stream counts + the held final-churned markers, nothing else
      val batch = graft.queries.Events.queries("ev_churn")(spark, sfDir)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      val synthByWeek = byUser.view.filterKeys(_ >= SynthBase).toMap
      def synthCnt(w: Long, c: String): Long = synthByWeek.toSeq.map {
        case (_, ws) =>
          val fw = ws.min
          c match {
            case "new" => if (w == fw) 1L else 0L
            case "retained" =>
              if (ws.contains(w) && w != fw && ws.contains(w - 1)) 1L else 0L
            case "resurrected" =>
              if (ws.contains(w) && w != fw && !ws.contains(w - 1)) 1L else 0L
            case "churned" =>
              if (!ws.contains(w) && ws.contains(w - 1) && w - 1 != ws.max) 1L
              else 0L
          }
      }.sum
      val finalMarkers = byUser.view.filterKeys(_ < SynthBase)
        .mapValues(ws => ws.max + 1).values
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      batch.foreach { case (w, (nNew, nRet, nRes, nChn)) =>
        def g(c: String) = got.getOrElse((w, c), 0L) - synthCnt(w, c)
        assert(g("new") == nNew, s"week $w new")
        assert(g("retained") == nRet, s"week $w retained")
        assert(g("resurrected") == nRes, s"week $w resurrected")
        assert(g("churned") + finalMarkers.getOrElse(w, 0L) == nChn,
          s"week $w churned")
      }
    } finally q.stop()
  }
}
