package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming equivalents of the batch event queries
  * ([[graft.queries.Events]]): windowed aggregation with a watermark, and
  * gap-based sessionization as custom state over
  * `flatMapGroupsWithState` (SURVEY §7.5 streaming roadmap).
  *
  * The batch queries are the oracle-checked semantics; EventStreamsSpec
  * feeds the same rows through a MemoryStream and asserts the streaming
  * results agree.
  *
  * Scale shape: state is keyed by (window × type) / user_id — Spark
  * hash-partitions state across executors; watermarks bound state size.
  */
object EventStreams {

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)

  final case class TEv(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, event_type: String)

  final case class Transition(user_id: Long, from_type: String,
      to_type: String)

  final case class SessionState(
      sessionId: Long, startUs: Long, lastUs: Long, n: Long, sum: Double)

  final case class Session(
      user_id: Long, session_id: Long, n_events: Long,
      sum_value: Double, duration_sec: Double)

  /** Tumbling 1-hour counts per event_type with a 2-hour watermark. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH").as("hr"),
        col("event_type"), col("n"), col("sum_value"))

  /** Hopping 1-hour/30-minute-slide counts per event_type with a 2-hour
    * watermark — streaming twin of the batch `ev_sliding` query. Each
    * event updates exactly 2 window states; the watermark closes and
    * evicts a window once event time passes its end + horizon.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Approximate distinct users per daily window — streaming twin of the
    * batch `ev_daily_kmv` row, emitting ONLY the sketch columns: exact
    * distinct aggregation does not stream (it would need unbounded
    * per-window value state), while the KMV buffer is k longs per window
    * regardless of user count — the reason the sketch is the streaming
    * dashboard's distinct-count primitive. Same hash → mix → kth-min →
    * estimate text as the batch row, so EventStreamsSpec asserts
    * stream ≡ batch on (day, kth_h, est).
    */
  def dailyDistinctKmv(events: DataFrame): DataFrame = {
    graft.functions.KmvFunctions.register(events.sparkSession)
    val P = graft.graph.Hashing.P
    val k = graft.queries.Events.EvKmvK
    events
      .withWatermark("ts", "2 days")
      .selectExpr("ts", s"user_id % $P AS h")
      .selectExpr("ts", s"${graft.graph.Hashing.spark.kmvMix("h")} AS hm")
      .groupBy(window(col("ts"), "1 day"))
      .agg(graft.functions.KmvFunctions.kmvKth(col("hm"), k).as("kth_h"))
      .where(col("kth_h").isNotNull)
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("kth_h"))
      .selectExpr("day", "kth_h", graft.text.TextOps.kmvEstSql("kth_h", k))
  }

  /** Count-Min counter matrix per daily window — streaming twin of the
    * batch `ev_cms_freq` row's SKETCH STATE (the d×w bucket counts):
    * the same bounded-state argument as [[dailyDistinctKmv]], here
    * CmsD·CmsW longs per window regardless of user count. The per-key
    * min-over-rows estimate is the query-time READ path over this
    * matrix, not streaming state, so the twin emits the matrix itself.
    * Bucket math is the batch row's [[graft.queries.Events.cmsBucketSql]]
    * text in its column-`j` generic form (each event explodes into its
    * CmsD row assignments — d state updates per arrival, the CMS
    * contract); EventStreamsSpec asserts full-replay stream ≡ batch
    * matrix, which pins the two j-spellings to the same math.
    */
  def dailyCmsMatrix(events: DataFrame): DataFrame = {
    val E = graft.queries.Events
    events
      .withWatermark("ts", "2 days")
      .select(col("ts"), col("user_id"),
        explode(sequence(lit(0), lit(E.CmsD - 1))).as("j"))
      .selectExpr("ts", "j", s"${E.cmsBucketSql("j")} AS b")
      .groupBy(window(col("ts"), "1 day"), col("j"), col("b"))
      .agg(count(lit(1)).as("c"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("j"), col("b"), col("c"))
  }

  /** HyperLogLog register matrix per daily window — streaming twin of the
    * batch `ev_daily_hll` row's SKETCH STATE (the m max-ρ registers):
    * same bounded-state argument as [[dailyCmsMatrix]], here
    * [[graft.graph.Hashing.HllM]] longs per window regardless of user
    * count, and max is the idempotent merge a watermarked groupBy
    * maintains incrementally. The α-corrected estimate is the
    * query-time READ path over this matrix (a per-window m-row fold),
    * not streaming state, so the twin emits the registers themselves.
    * ρ math is the batch row's bit-exact `length(bin(w))` spelling;
    * EventStreamsSpec asserts full-replay stream ≡ batch registers.
    */
  def dailyHllRegisters(events: DataFrame): DataFrame = {
    val H = graft.graph.Hashing
    events
      .withWatermark("ts", "2 days")
      .selectExpr("ts", s"user_id % ${H.P} AS h")
      .selectExpr("ts", s"${H.spark.kmvMix("h")} AS hm")
      .selectExpr("ts", s"hm % ${H.HllM} AS b", s"hm div ${H.HllM} AS w")
      .selectExpr("ts", "b",
        s"CASE WHEN w = 0 THEN ${H.HllW + 1} " +
          s"ELSE ${H.HllW + 1} - length(bin(w)) END AS rho")
      .groupBy(window(col("ts"), "1 day"), col("b"))
      .agg(max(col("rho")).as("mj"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("b"), col("mj"))
  }

  /** Sampled daily value percentiles — streaming twin of the batch
    * `ev_value_quantiles` row's SKETCH columns: the bounded
    * [[graft.functions.BottomKSample]] aggregate maintains the k
    * smallest-hash (value-carrying) rows per daily window — ≤ k
    * (hash, id, value) triples of state however many events arrive, the
    * same mergeable-sample argument as the other sketch twins — and the
    * read path applies the identical rank rule over the sorted sample
    * array. Exact quantiles do not stream (they would need every value
    * as per-window state), which is the reason the sample is the
    * streaming percentile primitive; EventStreamsSpec pins full-replay
    * stream ≡ batch on (day, n_sample, sp_*).
    */
  def dailyValueQuantiles(events: DataFrame): DataFrame = {
    graft.functions.SampleFunctions.register(events.sparkSession)
    val P = graft.graph.Hashing.P
    val E = graft.queries.Events
    // the empty-sample guard matters: a window whose events all carry a
    // null value yields an empty array, and element_at's 1-based index
    // would reject position 0 instead of emitting null quantiles.
    def sel(nm: String, q: Double): String =
      s"CASE WHEN size(vals) = 0 THEN CAST(NULL AS DOUBLE) " +
        s"ELSE element_at(vals, CAST(floor(CAST($q AS DOUBLE) * " +
        s"CAST(size(vals) - 1 AS DOUBLE)) AS INT) + 1) END AS sp_$nm"
    events
      .withWatermark("ts", "2 days")
      .selectExpr("ts", "event_id", "value", s"event_id % $P AS h")
      .selectExpr("ts", "event_id", "value",
        s"${graft.graph.Hashing.spark.kmvMix("h")} AS hm")
      .groupBy(window(col("ts"), "1 day"))
      .agg(graft.functions.SampleFunctions.bottomKSample(
        col("hm"), col("event_id"), col("value"), E.EvQK).as("vals"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("vals"))
      .selectExpr("day", "size(vals) AS n_sample",
        sel("p50", 0.5), sel("p90", 0.9), sel("p99", 0.99))
  }

  /** Per-day heavy-hitter CANDIDATE summaries — streaming twin of the
    * batch `ev_heavy_hitters` prefilter: a watermarked daily window
    * maintains one Misra-Gries summary (≤ k (bucket, lb) pairs of state
    * however many events arrive — the key universe never becomes window
    * state) via the [[graft.functions.MisraGriesAgg]] bounded aggregate.
    * Exactly like the batch row, the summary is the no-false-negative
    * CANDIDATE stage: every bucket with in-window share > 1/(k+1) is
    * guaranteed present for any micro-batch split (the mergeable-
    * summaries guarantee), and an exact verify pass over the candidates
    * is the batch-side read path. Unlike the other four sketch twins the
    * internal counter VALUES are merge-order-dependent by construction
    * (see [[graft.operators.MisraGries.merge]]), so EventStreamsSpec
    * pins the order-free properties — candidate superset of the true
    * per-window hitters, lower-bound counters within n_w/(k+1), bounded
    * state — and full stream ≡ batch equality in the k ≥ distinct-keys
    * regime where no cancellation fires and the summary degenerates to
    * the exact per-window count table.
    */
  def dailyHhCandidates(events: DataFrame,
      k: Int = graft.queries.Events.HhK): DataFrame = {
    graft.functions.MgFunctions.register(events.sparkSession)
    val E = graft.queries.Events
    events
      .withWatermark("ts", "2 days")
      .where(col("user_id").isNotNull)
      .selectExpr("ts", s"${E.HhBucketSql} AS bucket")
      .groupBy(window(col("ts"), "1 day"))
      .agg(graft.functions.MgFunctions.misraGries(col("bucket"), k).as("mg"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        explode(col("mg")).as("e"))
      .selectExpr("day", "e.bucket AS bucket", "e.lb AS lb")
  }

  /** Per-day KMV sketch SET — the streaming state behind
    * `ev_kmv_overlap`'s pair stage: the k smallest distinct mixed hashes
    * of each daily window as ≤ k longs of window state however many
    * events arrive, via the new [[graft.functions.BottomKLongs]] bounded
    * aggregate (exact long channel — mixed hashes live in [0, P²) ≈ 2⁶⁰,
    * which a double payload would round; and set semantics dedup
    * in-aggregate, so no separate distinct stage is needed and the merge
    * is order-free — stream ≡ batch holds byte-exactly). The
    * overlap/Jaccard computation is the query-time READ path over two
    * windows' sketch sets (the batch row), not streaming state.
    * EventStreamsSpec pins stream ≡ batch sketch sets across micro-batch
    * splits.
    */
  def dailySketchSet(events: DataFrame,
      k: Int = graft.queries.Events.EvOvK): DataFrame = {
    graft.functions.LongSetFunctions.register(events.sparkSession)
    val P = graft.graph.Hashing.P
    events
      .withWatermark("ts", "2 days")
      .selectExpr("ts", s"user_id % $P AS h")
      .selectExpr("ts", s"${graft.graph.Hashing.spark.kmvMix("h")} AS hm")
      .groupBy(window(col("ts"), "1 day"))
      .agg(graft.functions.LongSetFunctions.bottomKLongs(col("hm"), k)
        .as("vals"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        explode(col("vals")).as("hm"))
  }

  /** Gap-based sessionization over per-user state. Emits a session row when
    * the gap to the next event exceeds `gapSec` (the still-open session per
    * user stays in state; a real pipeline closes it by event-time timeout).
    *
    * Events inside one micro-batch are sorted by ts before folding, so a
    * single-batch replay is deterministic and equal to the batch query for
    * all CLOSED sessions.
    */
  def sessionize(events: Dataset[Ev], gapSec: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(_.ts.getTime)
          var st = state.getOption.orNull
          val closed = Seq.newBuilder[Session]
          for (e <- sorted) {
            val inst = e.ts.toInstant
            val us = inst.getEpochSecond * 1000000L + inst.getNano / 1000
            if (st == null) {
              st = SessionState(1L, us, us, 1L, e.value)
            } else if ((us - st.lastUs) / 1e6 > gapSec) {
              closed += finish(uid, st)
              st = SessionState(st.sessionId + 1, us, us, 1L, e.value)
            } else {
              st = st.copy(lastUs = us, n = st.n + 1, sum = st.sum + e.value)
            }
          }
          if (st != null) state.update(st)
          closed.result().iterator
      }
  }

  final case class LEv(user_id: Long, event_type: String,
      event_id: Long, ts: java.sql.Timestamp, value: Double)

  final case class Latest(user_id: Long, event_type: String,
      event_id: Long, ts_us: Long, value: Double)

  /** Latest-event-per-(user, type) state store — the streaming twin of
    * the batch `ev_latest` CDC compaction: state is ONE small record per
    * key (the current max-(ts, event_id) event) and a micro-batch emits
    * a key only when its maximum ADVANCES (Update-mode semantics: the
    * downstream sink upserts, so emissions per key are strictly
    * monotone in (ts_us, event_id) and the last emission IS the batch
    * row). Arrivals at or below the held maximum are absorbed silently —
    * late data cannot regress the snapshot. Timestamps compare at full
    * microsecond precision (the [[transitions]] lossless-order lesson:
    * getTime alone truncates to milliseconds).
    */
  def latestState(events: Dataset[LEv]): Dataset[Latest] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Latest, Latest](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case ((uid, typ), it, state: GroupState[Latest]) =>
          def tsUs(e: LEv): Long =
            math.floorDiv(e.ts.getTime, 1000L) * 1000000L +
              e.ts.getNanos / 1000L
          val cands = it
            .map(e => Latest(uid, typ, e.event_id, tsUs(e), e.value)).toSeq
          if (cands.isEmpty) Iterator.empty
          else {
            val held = state.getOption
            val best = (held.toSeq ++ cands)
              .maxBy(l => (l.ts_us, l.event_id))
            if (held.contains(best)) Iterator.empty
            else { state.update(best); Iterator.single(best) }
          }
      }
  }

  final case class EwEv(event_type: String, ts: java.sql.Timestamp,
      value: Double)

  final case class EwmaState(day: Long, cents: Long, ewma: Double,
      hasPrev: Boolean)

  final case class EwmaOut(event_type: String, day: Long, daily: Double,
      ewma: Double)

  /** Per-type EWMA over the daily revenue series — the streaming twin of
    * the batch `ev_ewma` recurrence (the one stateful per-key recurrence
    * in the family): state per event type is the OPEN day's exact cent
    * accumulator plus the previous day's ewma — one small record per
    * key, calendar-bounded emissions. A day EMITS when a strictly later
    * day first arrives (its total is then final under the in-order
    * contract): daily = cents/100.0 (the batch query's exact-cents
    * discipline, so the recurrence inputs are bit-identical to batch),
    * ewma = daily seeded / α·daily + (1−α)·prev after, rounded at 6 dp
    * like the batch row. Within a micro-batch, days fold in ascending
    * order whatever the arrival order; across batches the deployment
    * contract is day-ordered feeds (a watermark upstream would enforce
    * it) — an arrival for an already-CLOSED day is absorbed silently
    * (late data cannot rewrite an emitted row), and arrivals for the
    * open day merge across any micro-batch split. The final open day of
    * each type stays held (unemittable until a later day proves it
    * complete) — exactly the row set difference the spec pins against
    * the batch query.
    */
  def ewmaState(events: Dataset[EwEv]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    val DayUs = graft.queries.Events.DayUs
    val alpha = graft.queries.Events.EwmaAlpha
    val oneMinus = graft.queries.Events.EwmaOneMinusAlpha
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (typ, it, state: GroupState[EwmaState]) =>
          def dayOf(e: EwEv): Long = {
            val us = math.floorDiv(e.ts.getTime, 1000L) * 1000000L +
              e.ts.getNanos / 1000L
            math.floorDiv(us, DayUs)
          }
          // exact cents per day — the batch query's integer discipline.
          // HALF_UP via BigDecimal (away from zero), NOT math.round
          // (floor(x+0.5), half toward +∞): a negative value ending in
          // .xx5 (a refund) must produce the same cents as the batch
          // row's Spark round() or the claimed bit-identical stream ≡
          // batch recurrence inputs break on the sign edge.
          def cents(v: Double): Long = BigDecimal(v * 100)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          val byDay = it.map(e => (dayOf(e), cents(e.value)))
            .toSeq.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
          if (byDay.isEmpty) Iterator.empty
          else {
            var st = state.getOption
              .getOrElse(EwmaState(byDay.head._1, 0L, 0.0, hasPrev = false))
            val out = Seq.newBuilder[EwmaOut]
            byDay.foreach { case (d, c) =>
              if (d == st.day) st = st.copy(cents = st.cents + c)
              else if (d > st.day) {
                val daily = st.cents.toDouble / 100.0
                val e = if (st.hasPrev) alpha * daily + oneMinus * st.ewma
                  else daily
                out += EwmaOut(typ, st.day, daily,
                  graft.graph.Hashing.round6(e))
                st = EwmaState(d, c, e, hasPrev = true)
              } // d < st.day: late row for a closed day — absorbed
            }
            state.update(st)
            out.result().iterator
          }
      }
  }

  final case class HoltState(day: Long, cents: Long, lvl: Double,
      trd: Double, hasPrev: Boolean)

  final case class HoltOut(event_type: String, day: Long, daily: Double,
      level: Double, trend: Double, forecast: Double)

  /** Per-type Holt level/trend smoothing over the daily revenue series —
    * the streaming twin of the batch `ev_holt` recurrence, carrying
    * [[ewmaState]]'s exact contract with ONE more double in the state
    * record: per event type the state is the OPEN day's exact cent
    * accumulator plus the carried (level, trend) pair. A day emits when
    * a strictly later day first arrives; the recurrence inputs
    * (cents/100.0) and the α/β literal pairs are bit-identical to the
    * batch row, so stream ≡ batch on every closed day. Within a
    * micro-batch days fold in ascending order whatever the arrival
    * order; arrivals for a closed day are absorbed silently; the final
    * open day stays held — the same row-set difference the ewma spec
    * pins.
    */
  def holtState(events: Dataset[EwEv]): Dataset[HoltOut] = {
    import events.sparkSession.implicits._
    val DayUs = graft.queries.Events.DayUs
    val alpha = graft.queries.Events.HoltAlpha
    val oneMinusA = graft.queries.Events.HoltOneMinusAlpha
    val beta = graft.queries.Events.HoltBeta
    val oneMinusB = graft.queries.Events.HoltOneMinusBeta
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HoltState, HoltOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (typ, it, state: GroupState[HoltState]) =>
          def dayOf(e: EwEv): Long = {
            val us = math.floorDiv(e.ts.getTime, 1000L) * 1000000L +
              e.ts.getNanos / 1000L
            math.floorDiv(us, DayUs)
          }
          def cents(v: Double): Long = BigDecimal(v * 100)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          val byDay = it.map(e => (dayOf(e), cents(e.value)))
            .toSeq.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
          if (byDay.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse(
              HoltState(byDay.head._1, 0L, 0.0, 0.0, hasPrev = false))
            val out = Seq.newBuilder[HoltOut]
            byDay.foreach { case (d, c) =>
              if (d == st.day) st = st.copy(cents = st.cents + c)
              else if (d > st.day) {
                val daily = st.cents.toDouble / 100.0
                val (l, b) = if (st.hasPrev) {
                  val lp = st.lvl
                  val l2 = alpha * daily + oneMinusA * (lp + st.trd)
                  (l2, beta * (l2 - lp) + oneMinusB * st.trd)
                } else (daily, 0.0)
                out += HoltOut(typ, st.day, daily,
                  graft.graph.Hashing.round6(l),
                  graft.graph.Hashing.round6(b),
                  graft.graph.Hashing.round6(l + b))
                st = HoltState(d, c, l, b, hasPrev = true)
              } // d < st.day: late row for a closed day — absorbed
            }
            state.update(st)
            out.result().iterator
          }
      }
  }

  final case class HwState(day: Long, cents: Long, warm: Vector[Double],
      lvl: Double, trd: Double, seas: Vector[Double])

  final case class HwOut(event_type: String, day: Long, daily: Double,
      level: Double, trend: Double, seasonal: Double, forecast: Double)

  /** Per-type streaming Holt–Winters — the triple-smoothing member of
    * the twin family ([[ewmaState]]/[[holtState]] plus a P-slot seasonal
    * ring in the state record, ~70 bytes per type). The first P closed
    * days are CONSUMED as the seed exactly like the batch row (collected
    * in `warm`, folded to l₀ in day order when the P-th closes — no
    * emission); from day P+1 each close runs the recurrence and emits.
    * Same in-order feed contract and closed-day absorption as the other
    * ledgers; gaps don't matter because both engines treat the series as
    * the day-ordered SEQUENCE (the batch rn), not day arithmetic.
    */
  def holtWintersState(events: Dataset[EwEv]): Dataset[HwOut] = {
    import events.sparkSession.implicits._
    val DayUs = graft.queries.Events.DayUs
    val P = graft.queries.Events.HwPeriod
    val al = graft.queries.Events.HwAlpha
    val al1 = graft.queries.Events.HwOneMinusAlpha
    val be = graft.queries.Events.HwBeta
    val be1 = graft.queries.Events.HwOneMinusBeta
    val ga = graft.queries.Events.HwGamma
    val ga1 = graft.queries.Events.HwOneMinusGamma
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HwState, HwOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (typ, it, state: GroupState[HwState]) =>
          def dayOf(e: EwEv): Long = {
            val us = math.floorDiv(e.ts.getTime, 1000L) * 1000000L +
              e.ts.getNanos / 1000L
            math.floorDiv(us, DayUs)
          }
          def cents(v: Double): Long = BigDecimal(v * 100)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          val byDay = it.map(e => (dayOf(e), cents(e.value)))
            .toSeq.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
          if (byDay.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse(HwState(byDay.head._1, 0L,
              Vector.empty, 0.0, 0.0, Vector.empty))
            val out = Seq.newBuilder[HwOut]
            def close(nextDay: Long, nextCents: Long): Unit = {
              val x = st.cents.toDouble / 100
              if (st.warm.length < P) {
                val warm = st.warm :+ x
                if (warm.length == P) {
                  // seed: l0 = day-ordered mean (0-seeded fold, exactly
                  // the batch spelling), seasonals = residuals, b0 = 0
                  var acc = 0.0
                  warm.foreach(acc += _)
                  val l0 = acc / P
                  st = HwState(nextDay, nextCents, warm, l0, 0.0,
                    warm.map(_ - l0))
                } else st = HwState(nextDay, nextCents, warm, 0.0, 0.0,
                  Vector.empty)
              } else {
                val sP = st.seas.head
                val lp = st.lvl
                val l = al * (x - sP) + al1 * (lp + st.trd)
                val b = be * (l - lp) + be1 * st.trd
                val sNew = ga * (x - l) + ga1 * sP
                val seas = st.seas.tail :+ sNew
                out += HwOut(typ, st.day, x,
                  graft.graph.Hashing.round6(l),
                  graft.graph.Hashing.round6(b),
                  graft.graph.Hashing.round6(sNew),
                  graft.graph.Hashing.round6(l + b + seas.head))
                st = HwState(nextDay, nextCents, st.warm, l, b, seas)
              }
            }
            byDay.foreach { case (d, c) =>
              if (d == st.day) st = st.copy(cents = st.cents + c)
              else if (d > st.day) close(d, c)
              // d < st.day: late row for a closed day — absorbed
            }
            state.update(st)
            out.result().iterator
          }
      }
  }

  final case class CusumState(day: Long, cents: Long, sp: Double,
      sn: Double)

  final case class CusumOut(event_type: String, day: Long, daily: Double,
      cusum_pos: Double, cusum_neg: Double, alarm: Long)

  /** Per-type streaming CUSUM over the daily revenue series — the
    * streaming twin of the batch `ev_cusum` row under the SPC deployment
    * contract: control limits (μ, σ) per type are FIXED parameters
    * (estimated offline from a training window — exactly how a control
    * chart runs in production; the batch row's full-series moments are
    * one such estimate, which is what the spec feeds back). State per
    * type is the open day's exact cent accumulator plus the carried
    * (s⁺, s⁻) pair; day-close emission, in-order feed contract,
    * closed-day absorption — the [[ewmaState]]/[[holtState]] ledger
    * discipline unchanged. Types without a limit entry are dropped (the
    * batch n ≥ 2 filter's streaming analogue: no limits, no chart).
    */
  def cusumState(events: Dataset[EwEv],
      limits: Map[String, (Double, Double)]): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    val DayUs = graft.queries.Events.DayUs
    val kS = graft.queries.Events.CusumKSigma
    val hS = graft.queries.Events.CusumHSigma
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (typ, it, state: GroupState[CusumState]) =>
          limits.get(typ) match {
            case None => Iterator.empty
            case Some((mu, sd)) =>
              val k = kS * sd
              val h = hS * sd
              def dayOf(e: EwEv): Long = {
                val us = math.floorDiv(e.ts.getTime, 1000L) * 1000000L +
                  e.ts.getNanos / 1000L
                math.floorDiv(us, DayUs)
              }
              def cents(v: Double): Long = BigDecimal(v * 100)
                .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
              val byDay = it.map(e => (dayOf(e), cents(e.value)))
                .toSeq.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
              if (byDay.isEmpty) Iterator.empty
              else {
                var st = state.getOption
                  .getOrElse(CusumState(byDay.head._1, 0L, 0.0, 0.0))
                val out = Seq.newBuilder[CusumOut]
                byDay.foreach { case (d, c) =>
                  if (d == st.day) st = st.copy(cents = st.cents + c)
                  else if (d > st.day) {
                    val x = st.cents.toDouble / 100
                    val sp = math.max(0.0, st.sp + (x - mu - k))
                    val sn = math.max(0.0, st.sn + (mu - x - k))
                    out += CusumOut(typ, st.day, x,
                      graft.graph.Hashing.round6(sp),
                      graft.graph.Hashing.round6(sn),
                      if (sp > h || sn > h) 1L else 0L)
                    st = CusumState(d, c, sp, sn)
                  } // d < st.day: late row for a closed day — absorbed
                }
                state.update(st)
                out.result().iterator
              }
          }
      }
  }

  final case class BEv(user_id: Long, ts: java.sql.Timestamp)

  final case class BitmapSt(first_day: Long, mask: Long)

  final case class BitmapOut(user_id: Long, first_day: Long, mask: Long)

  /** Per-user retention bitmask accumulation — the streaming twin of the
    * `ev_bitmap_retention` mask table ([[graft.queries.Events
    * .retentionMasks]]): state per user is (first-seen day, 60-bit
    * activity mask anchored at it) — 16 bytes per user, the
    * roaring-bitmap audience state. Emits the updated snapshot whenever
    * the mask changes (Update mode; the `latestState` monotone-snapshot
    * discipline — the LAST emission per user IS the batch row). Unlike
    * the ewma twin this one needs NO arrival-order contract at all: an
    * arrival EARLIER than the held first day REBASES the mask
    * (mask << (f − f') masked back to the 60-bit window, bit 0 set for
    * the new first day) — exactly the batch min-anchored semantics, so
    * stream ≡ batch under ANY permutation of the feed.
    */
  def bitmapState(events: Dataset[BEv]): Dataset[BitmapOut] = {
    import events.sparkSession.implicits._
    val DayUs = graft.queries.Events.DayUs
    val W = graft.queries.Events.RetentionBitDays
    val window = (1L << W) - 1L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BitmapSt, BitmapOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[BitmapSt]) =>
          def dayOf(e: BEv): Long = {
            val us = math.floorDiv(e.ts.getTime, 1000L) * 1000000L +
              e.ts.getNanos / 1000L
            math.floorDiv(us, DayUs)
          }
          val days = it.map(dayOf).toSeq.distinct
          if (days.isEmpty) Iterator.empty
          else {
            val held = state.getOption
            var st = held.getOrElse(BitmapSt(days.min, 0L))
            days.foreach { d =>
              if (d < st.first_day) {
                // rebase: shift the window to the new anchor; offsets
                // pushed past W − 1 fall out, same as the batch filter
                val shift = (st.first_day - d).toInt
                val shifted =
                  if (shift >= W) 0L else (st.mask << shift) & window
                st = BitmapSt(d, shifted | 1L)
              } else if (d - st.first_day < W) {
                st = st.copy(mask = st.mask | (1L << (d - st.first_day)))
              } // beyond the window: absorbed, same as batch
            }
            if (held.contains(st)) Iterator.empty
            else {
              state.update(st)
              Iterator.single(BitmapOut(uid, st.first_day, st.mask))
            }
          }
      }
  }

  final case class ChurnSt(first_week: Long, prev_week: Long)

  final case class ChurnOut(user_id: Long, week: Long, cls: String)

  /** Per-user weekly lifecycle ledger — the streaming twin of the
    * `ev_churn` growth-accounting split: state per user is (first-seen
    * week, latest classified week) — 16 bytes, the canonical
    * `flatMapGroupsWithState` shape — and each NEW week emits one
    * classified `(user, week, cls)` row: `new` at the first week,
    * `retained` when the previous week was active, `resurrected` after
    * a gap, plus one `churned` marker at gap-start + 1 the moment a
    * later arrival proves the gap (`churned` attributes to the first
    * INACTIVE week, the batch `ev_churn` convention). Weeks inside a
    * micro-batch fold in ascending order, so any in-order feed split
    * reproduces the batch classification; an arrival for a week ≤ the
    * classified frontier is absorbed silently (late data cannot rewrite
    * an emitted class — the `ewmaState` contract). The one row set
    * difference vs batch, pinned by the spec: each user's FINAL
    * `churned` marker (last active week + 1) stays unemittable — no
    * later arrival can prove the user gone rather than quiet.
    * Downstream, the batch row's per-week counts are an ordinary
    * streaming aggregation over this ledger.
    */
  def churnState(events: Dataset[BEv]): Dataset[ChurnOut] = {
    import events.sparkSession.implicits._
    val WeekUs = graft.queries.Events.WeekUs
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ChurnSt, ChurnOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[ChurnSt]) =>
          def weekOf(e: BEv): Long = {
            val us = math.floorDiv(e.ts.getTime, 1000L) * 1000000L +
              e.ts.getNanos / 1000L
            math.floorDiv(us, WeekUs)
          }
          val weeks = it.map(weekOf).toSeq.distinct.sorted
          if (weeks.isEmpty) Iterator.empty
          else {
            val out = Seq.newBuilder[ChurnOut]
            var st = state.getOption.orNull
            weeks.foreach { w =>
              if (st == null) {
                out += ChurnOut(uid, w, "new")
                st = ChurnSt(w, w)
              } else if (w == st.prev_week + 1) {
                out += ChurnOut(uid, w, "retained")
                st = st.copy(prev_week = w)
              } else if (w > st.prev_week + 1) {
                out += ChurnOut(uid, st.prev_week + 1, "churned")
                out += ChurnOut(uid, w, "resurrected")
                st = st.copy(prev_week = w)
              } // w <= prev_week: late row for a classified week — absorbed
            }
            state.update(st)
            out.result().iterator
          }
      }
  }

  /** Per-week lifecycle class counts as an ORDINARY streaming
    * aggregation over the [[churnState]] ledger — the composed two-stage
    * query the scaladoc above promises ("the batch row's per-week counts
    * are an ordinary streaming aggregation over this ledger"), pinned as
    * code: flatMapGroupsWithState (Append) feeding a groupBy(week, cls)
    * count, the one composition Structured Streaming allows stateful
    * custom logic to chain into. Run in Complete output mode, the final
    * frame equals the batch `ev_churn` class counts minus exactly the
    * disclosed held final-churned markers (EventStreamsSpec reconciles
    * both directions across micro-batch splits with late arrivals).
    * Scale shape: the ledger emits one small row per (user, newly
    * classified week); the aggregation is map-side-combinable on a
    * (week, cls) key space bounded by weeks × 4.
    */
  def churnWeekly(events: Dataset[BEv]): DataFrame =
    churnState(events)
      .groupBy(col("week"), col("cls"))
      .agg(count(lit(1)).as("n"))

  final case class FunnelSt(day: Long, buf: Vector[(Long, Int, Long)],
      last_view: Long, qclick: Long)

  final case class FunnelOut(event_id: Long, user_id: Long, p_us: Long,
      click_us: Long, view_us: Long)

  /** Per-user streaming funnel ledger — the stateful twin of the batch
    * `ev_funnel` chained cumulative-max state machine (view → click →
    * purchase), closing the one remaining gap in the stateful-event twin
    * family. State per user is the two cumulative maxima (latest view so
    * far; latest click that already had a view — 16 bytes, carried
    * ACROSS days exactly like the batch window's unbounded frame) plus
    * the OPEN day's event buffer (the [[holtWintersState]] closed-day
    * contract, at event grain: a funnel is order-sensitive within a day,
    * so the open day holds its events and an arrival for a LATER day
    * closes it — the buffer folds in the batch row's (us, kind) order
    * and each qualifying purchase emits one `(event_id, user, p_us,
    * click_us, view_us)` row, Append-mode). Within a micro-batch events
    * sort before folding, so in-batch order is free; across micro-batches
    * the per-user DAY frontier must be non-decreasing (an arrival into a
    * closed day is absorbed — the [[churnState]] contract). ANY event
    * type advances the user's day clock; only the three funnel kinds
    * buffer — so non-funnel traffic (or an explicit tick) flushes the
    * open day, which is how the spec drains the held tail. Buffer size
    * is one user-day of funnel events — bounded by per-user daily
    * activity, never by history.
    *
    * DEPLOYMENT CONTRACT (NoTimeout): with no event-time timeout, a
    * user's FINAL open day is held until a later-day arrival for that
    * user — in a real Append-mode deployment the feed must carry a
    * daily clock tick per active user (any non-funnel event type works;
    * the `_` kind branch exists for exactly this) or the last day's
    * completions never emit. The alternative — an event-time timeout
    * that force-closes the open day — would make emission depend on
    * watermark timing rather than on the replayable day-frontier
    * contract the batch reconciliation pins, so the tick feed is the
    * documented requirement instead.
    */
  def funnelState(events: Dataset[TEv]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    val DayUs = graft.queries.Events.DayUs
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelSt, FunnelOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[FunnelSt]) =>
          // full microsecond precision (the transitions lesson)
          def usOf(e: TEv): Long =
            math.floorDiv(e.ts.getTime, 1000L) * 1000000L +
              e.ts.getNanos / 1000L
          def kindOf(t: String): Int = t match {
            case "view" => 0
            case "click" => 1
            case "purchase" => 2
            case _ => -1 // clock tick: advances the day, never buffers
          }
          val evs = it.map(e => (usOf(e), kindOf(e.event_type), e.event_id))
            .toSeq.sortBy(t => (t._1, t._2, t._3))
          if (evs.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse(FunnelSt(
              math.floorDiv(evs.head._1, DayUs), Vector.empty, -1L, -1L))
            val out = Seq.newBuilder[FunnelOut]
            def closeDay(nextDay: Long): Unit = {
              // re-sort: a late WITHIN-day arrival from a later
              // micro-batch appends after earlier-batch rows, so insert
              // order is not event-time order across batches
              val b = st.buf.sortBy(t => (t._1, t._2, t._3))
              st = st.copy(day = nextDay, buf = Vector.empty)
              b.foreach { case (us, kind, eid) =>
                if (kind == 0) st = st.copy(last_view = us)
                else if (kind == 1) {
                  if (st.last_view >= 0) st = st.copy(qclick = us)
                } else if (st.qclick >= 0)
                  out += FunnelOut(eid, uid, us, st.qclick, st.last_view)
              }
            }
            evs.foreach { case t @ (us, kind, _) =>
              val d = math.floorDiv(us, DayUs)
              if (d > st.day) closeDay(d)
              if (d >= st.day && kind >= 0) st = st.copy(buf = st.buf :+ t)
              // d < st.day: late arrival into a closed day — absorbed
            }
            state.update(st)
            out.result().iterator
          }
      }
  }

  /** Per-user event-type transition extraction with carried last-event
    * state — the streaming stage under `ev_markov`'s bigram counts: each
    * user's state is their last seen event, and every arrival emits one
    * `(from_type, to_type)` row. Events inside a micro-batch sort by
    * `(ts, event_id)` (the batch query's order) before folding, so a
    * full single-batch replay reproduces the batch bigrams exactly, and
    * a multi-batch feed does too whenever batches respect per-user
    * event-time order (the deployment contract; out-of-order arrivals
    * would need a watermark-delayed sort upstream). State is one small
    * record per user — bounded, no timeout needed.
    */
  def transitions(events: Dataset[TEv]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    // FULL timestamp precision for the sort: getTime truncates to
    // milliseconds, and the batch query orders by the microsecond ts —
    // same-millisecond events would fold in the wrong order. (epoch
    // seconds, nanos-within-second, event_id) is the lossless total
    // order; state is just the last event type (all a transition needs).
    def key(e: TEv): (Long, Int, Long) =
      (math.floorDiv(e.ts.getTime, 1000L), e.ts.getNanos, e.event_id)
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[String, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, it, state: GroupState[String]) =>
          val sorted = it.toSeq.sortBy(key)
          if (sorted.isEmpty) Iterator.empty
          else {
            val out = Seq.newBuilder[Transition]
            var prev = state.getOption
            sorted.foreach { e =>
              prev.foreach(p => out += Transition(uid, p, e.event_type))
              prev = Some(e.event_type)
            }
            state.update(prev.get)
            out.result().iterator
          }
      }
  }

  final case class Trigram(user_id: Long, t1: String, t2: String,
      t3: String)

  /** Per-user 3-step sequence extraction with carried 2-event state —
    * the streaming stage under `ev_trigrams`' counts: each user's state
    * is their last TWO event types in time order, and every arrival
    * emits one completed (t1, t2, t3) row once the window is full.
    * Same contract as [[transitions]]: events inside a micro-batch
    * sort by the lossless (epoch-seconds, nanos, event_id) key before
    * folding, so a single-batch replay reproduces the batch trigram
    * multiset exactly, and a multi-batch feed does whenever batches
    * respect per-user event-time order. State is two small strings per
    * user — bounded, no timeout needed. Downstream, the batch row's
    * groupBy/top-N runs as an ordinary streaming aggregation over
    * these rows.
    */
  def trigrams(events: Dataset[TEv]): Dataset[Trigram] = {
    import events.sparkSession.implicits._
    def key(e: TEv): (Long, Int, Long) =
      (math.floorDiv(e.ts.getTime, 1000L), e.ts.getNanos, e.event_id)
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[String], Trigram](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, it, state: GroupState[List[String]]) =>
          val sorted = it.toSeq.sortBy(key)
          if (sorted.isEmpty) Iterator.empty
          else {
            val out = Seq.newBuilder[Trigram]
            // the user's last ≤2 event types, oldest first — a partial
            // window (0 or 1 seen) is representable, so a user whose
            // first two events split across micro-batches loses nothing
            var last2 = state.getOption.getOrElse(Nil)
            sorted.foreach { e =>
              last2 match {
                case a :: b :: Nil => out += Trigram(uid, a, b, e.event_type)
                case _ =>
              }
              last2 = (last2 :+ e.event_type).takeRight(2)
            }
            state.update(last2)
            out.result().iterator
          }
      }
  }

  /** Stream-stream interval join — the streaming twin of the batch
    * `ev_interval` attribution query: each purchase joins the clicks of
    * the same user from the preceding `windowSec` seconds. Both sides
    * carry a watermark, and the time-range condition lets Spark bound
    * BOTH state stores: a click can be evicted once the purchase-side
    * watermark passes click_ts + windowSec, a purchase once its own
    * window closes. Without the range bound stream-stream state grows
    * forever — this is the canonical shape for joining two unbounded
    * streams at 100 TB/day.
    */
  def intervalJoin(clicks: DataFrame, purchases: DataFrame,
      windowSec: Long, horizon: String): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
        col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", horizon)
    val p = purchases.select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", horizon)
    p.join(c, expr(
      s"""c_user = p_user AND
         |c_ts > p_ts - INTERVAL $windowSec SECONDS AND
         |c_ts <= p_ts""".stripMargin))
      .select(col("purchase_id"), col("click_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("lag_us"))
  }

  /** Stream-static enrichment join: each streaming event picks up the
    * dimension row for its event_type. The static side is broadcast and
    * re-planned per micro-batch — NO state store, no watermark, nothing
    * to evict, which makes this the cheapest streaming join and the one
    * to reach for whenever the right side is bounded (lookup tables,
    * model registries, config). Left join: events with an unknown type
    * pass through with NULL enrichment rather than silently dropping.
    */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("event_type"), "left")

  /** Streaming exact dedup: keep the FIRST arrival per content
    * fingerprint inside the watermark horizon — the streaming twin of the
    * batch hash-first `d_dedup_exact` plan (the dedup key is the 8-byte
    * `xxhash64(text)`, never the document itself). State holds one key
    * per distinct fingerprint within the horizon and
    * `dropDuplicatesWithinWatermark` evicts older keys, so state is
    * bounded by (arrival rate × horizon) regardless of stream length —
    * the property that makes streaming dedup viable at 100 TB/day.
    */
  def dedupByContent(docs: DataFrame, tsCol: String, horizon: String): DataFrame =
    docs
      .withColumn("fp", xxhash64(col("text")))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** Flush the open sessions kept in state (batch-test convenience: the
    * union of [[sessionize]] output and these equals the batch query).
    */
  private def finish(uid: Long, st: SessionState): Session =
    Session(uid, st.sessionId, st.n,
      BigDecimal(st.sum).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
      (st.lastUs - st.startUs) / 1e6)
}
