package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Event-stream operators over the `events` table: tumbling-window
  * aggregation and gap-based sessionization, as batch definitions
  * (SQL-expressible, oracle-checked).
  *
  * Scale shape: both queries shuffle once on their natural key (window ×
  * type, user) and aggregate with partial map-side combine. Timestamps
  * are emitted as formatted strings so the cross-engine compare is
  * precision-independent.
  */
object Events {
  import graft.graph.Hashing.{HllM, HllW, hllEstSql}

  val GapSeconds = 1800 // 30-min session gap
  /** Attribution window for `ev_interval` (seconds). */
  val AttrWindowSec = 1800L
  /** One week in microseconds (`ev_retention` cohort granularity). */
  val WeekUs = 7L * 24 * 3600 * 1000000L
  /** One day in microseconds (`ev_moving_avg` granularity). */
  val DayUs = 24L * 3600 * 1000000L
  /** One hour in microseconds (`ev_seasonality` granularity). */
  val HourUs = 3600L * 1000000L
  /** `ev_bitmap_retention` curve length: day offsets 0..59 pack into one
    * BIGINT activity bitmask per user (max shift 59 — safely inside the
    * sign bit on both engines).
    */
  val RetentionBitDays = 60

  /** `ev_ewma` smoothing factor. α and 1−α are BOTH literal constants
    * (the MmrLambda discipline) so both engines multiply the identical
    * IEEE doubles — the recurrence is then bit-identical step by step,
    * never "1.0 − α" re-derived at runtime.
    */
  val EwmaAlpha = 0.3
  val EwmaOneMinusAlpha = 0.7

  /** `ev_holt` level/trend smoothing factors — the [[EwmaAlpha]] literal
    * discipline, and additionally EXACT binary fractions (0.5 = 2⁻¹,
    * 0.25/0.75 = quarters), so neither engine can even in principle
    * re-derive a different 1−α.
    */
  val HoltAlpha = 0.5
  val HoltOneMinusAlpha = 0.5
  val HoltBeta = 0.25
  val HoltOneMinusBeta = 0.75

  /** `ev_holt_winters` smoothing factors and period — additive
    * Holt–Winters with the weekly season `ev_seasonality` already shows
    * the fixture has; the [[HoltAlpha]] exact-binary literal discipline
    * extended with a third (γ) pair. The first full season seeds the
    * state (l₀ = its day-ordered mean, s_i = x_i − l₀, b₀ = 0) and is
    * CONSUMED, not emitted — rows start at day P+1; types without a
    * complete first season are excluded by the identical filter in both
    * engines.
    */
  val HwPeriod = 7
  val HwAlpha = 0.5
  val HwOneMinusAlpha = 0.5
  val HwBeta = 0.25
  val HwOneMinusBeta = 0.75
  val HwGamma = 0.25
  val HwOneMinusGamma = 0.75

  /** The Holt–Winters recurrence as DuckDB expression templates, SHARED
    * by the `ev_holt_winters` and `ev_hw_forecast` oracles so the float
    * spelling cannot drift between the ladder row and the forecast row
    * built on it. The level expression is inlined VERBATIM wherever l_t
    * appears (trend and seasonal both reference it); `%SEAS%` in the
    * seasonal template is substituted with the branch's ring column.
    */
  private def hwLvlE(x: String, sP: String, lp: String, bp: String) =
    s"CAST($HwAlpha AS DOUBLE) * ($x - $sP) " +
      s"+ CAST($HwOneMinusAlpha AS DOUBLE) * ($lp + $bp)"
  private def hwTrdE(x: String, sP: String, lp: String, bp: String) =
    s"CAST($HwBeta AS DOUBLE) * ((${hwLvlE(x, sP, lp, bp)}) - $lp) " +
      s"+ CAST($HwOneMinusBeta AS DOUBLE) * $bp"
  private def hwSeasE(x: String, sP: String, lp: String, bp: String) =
    s"list_append(%SEAS%[2:$HwPeriod], CAST($HwGamma AS DOUBLE) " +
      s"* ($x - (${hwLvlE(x, sP, lp, bp)})) " +
      s"+ CAST($HwOneMinusGamma AS DOUBLE) * $sP)"

  /** `ev_cusum` tuning in σ units — the classic (k, h) = (σ/2, 4σ)
    * tabular-CUSUM design (Page 1954, Montgomery SPC): k absorbs noise
    * below half a standard deviation, h fires after a sustained ~1σ
    * shift persists for ~8 days. Exact binary fractions (0.5, 4.0) so
    * both engines scale σ identically.
    */
  val CusumKSigma = 0.5
  val CusumHSigma = 4.0

  /** `ev_trigrams` report size (|types|³ = 125 possible sequences; the
    * top 25 is the actionable head).
    */
  val TrigramTopN = 25

  /** `ev_rfm` tercile-threshold sample size (the d_ccnet_buckets
    * discipline applied to users: sampled thresholds + broadcast CASE,
    * never a global ntile sort over the user universe).
    */
  val RfmSampleK = 64

  /** KMV sketch size for `ev_daily_kmv` (every daily window has ≥ 11
    * distinct users at the smallest test scale, so the kth order
    * statistic exists; production would size k for the target relative
    * error ≈ 1/√k).
    */
  val EvKmvK = 8

  /** `ev_kmv_overlap` sketch size — larger than [[EvKmvK]] because the
    * overlap estimate's granularity is 1/k (k = 8 would quantize Jaccard
    * to eighths); 64 distinct-min hashes per day is still constant state
    * per window. At sf0.001 the per-day universe (≤ 15 users) is smaller
    * than k, so the sketch IS the set and the estimate collapses to the
    * exact Jaccard — degenerate but correct; sf0.01+ exercises the
    * genuinely sampled regime.
    */
  val EvOvK = 64

  /** `ev_cms_freq` Count-Min geometry: d independent hash rows × w
    * buckets (error ≤ e·N/w with probability 1 − e^−d), and the salt
    * that derives row j's hash from the shared mixer. Small on purpose
    * so collisions actually happen on the demo corpus and the
    * overestimate property is visible, not vacuous.
    */
  val CmsD = 4
  val CmsW = 64
  val CmsSalt = 715827883L

  /** Row-j CMS bucket of `user_id` — ONE Spark SQL text shared by the
    * counter matrix and the per-key estimate join: an edit to the
    * bucket math lands in both or neither.
    */
  private def cmsBucketSql(j: Int): String = {
    val P = graft.graph.Hashing.P
    s"${graft.graph.Hashing.spark.kmvMix(
      s"((user_id + ($j) * CAST($CmsSalt AS BIGINT)) % $P)")} % $CmsW"
  }

  /** The CMS counter matrix of a `(day, user_id)` event table: one row
    * per (day, hash row j, bucket) with its count — d·w aggregate rows
    * per day regardless of user count.
    */
  private def cmsMatrix(ev: DataFrame): DataFrame =
    (0 until CmsD).map { j =>
        ev.selectExpr("day", s"$j AS j", s"${cmsBucketSql(j)} AS b")
      }.reduce(_.unionAll(_))
      .groupBy(col("day"), col("j"), col("b"))
      .agg(count(lit(1)).as("c"))

  /** Per-(day, bucket) HLL register table of a `(day, hm)` event stream:
    * max-ρ per bucket — ONE long of state per register under map-side
    * combine, m rows per day total, the bounded-state property. ρ is
    * computed bit-exactly in BOTH engines as W + 1 − bitlen(w) via
    * `length(bin(w))` (no floating log2, whose libm rounding could
    * desync the engines at exact powers of two).
    */
  private def hllRegisters(ev: DataFrame): DataFrame =
    ev.selectExpr("day", s"hm % $HllM AS b", s"hm div $HllM AS w")
      .selectExpr("day", "b",
        s"CASE WHEN w = 0 THEN ${HllW + 1} " +
          s"ELSE ${HllW + 1} - length(bin(w)) END AS rho")
      .groupBy(col("day"), col("b"))
      .agg(max(col("rho")).as("mj"))

  /** `ev_heavy_hitters` geometry. `HhK` Misra-Gries counters per task;
    * a key qualifies when `cnt · HhRatio ≥ n` (share ≥ 1/HhRatio = 5%).
    * The prefilter's no-false-negative guarantee needs
    * `HhK · T > P · max_p n_p` (see [[hhCandidates]]); with balanced
    * partitions that is `HhK / HhRatio > 1`, so 256/20 = 12.8× headroom
    * for partition imbalance before the exact fallback engages.
    */
  val HhK = 256
  val HhRatio = 20L

  /** The heavy-hitter KEY: `floor(sqrt(user_id))` — bucket `b` covers the
    * ~2b+1 users in [b², (b+1)²), a deterministic linear-skew frequency
    * profile. Chosen because every natural key in the synthetic corpus is
    * uniform (event types are a flat 5-way split and per-user counts
    * cluster at ~67 at every sf), which would make a φ-share heavy-hitter
    * row either all-pass or empty; under this key the qualifying set is a
    * strict, scale-dependent subset (sf0.01: 9 of 13 buckets; sf0.1: 2 of
    * 38). Both engines evaluate the same IEEE sqrt.
    */
  private[graft] val HhBucketSql = "CAST(floor(sqrt(user_id)) AS BIGINT)"

  /** Misra-Gries candidate pass for `ev_heavy_hitters`: fold each
    * partition of `keys` into ≤ [[HhK]] (bucket, n_p) candidate rows —
    * the full key universe never crosses an exchange. Returns the
    * candidate buckets plus whether the no-false-negative pigeonhole
    * guarantee held: a key with global count ≥ T has per-partition count
    * ≥ T/P somewhere (pigeonhole over the P partitions), and Misra-Gries
    * retains any key with partition count > n_p/HhK — so
    * `HhK · T > P · max_p n_p` (all exact longs) makes the candidate set
    * a proven superset of the true heavy hitters. When the data is too
    * skewed across partitions for the guard, the caller falls back to the
    * exact full groupBy: the OUTPUT is identical either way (the exact
    * verify pass removes all false positives), only the shuffle width
    * changes — partitioning can never alter the answer.
    */
  private[graft] def hhCandidates(s: SparkSession, keys: DataFrame,
      threshold: Long): (DataFrame, Boolean) = {
    import s.implicits._
    val numParts = keys.rdd.getNumPartitions.toLong
    val parts = keys.as[Long].mapPartitions { it =>
      val mg = new graft.operators.MisraGries(HhK)
      it.foreach(mg.add)
      mg.entries.map { case (b, _) => (b, mg.processed) }
    }.toDF("bucket", "np")
      .localCheckpoint(true) // ≤ HhK rows/task — tiny, read 3 times below
    // 1-row driver read of the guard aggregate (the documented 1-row
    // collect dispensation); numParts is an upper bound on the pigeonhole
    // P, which only STRENGTHENS the condition.
    val maxNp = parts.agg(max(col("np"))).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    (parts.select(col("bucket")).distinct(), HhK * threshold > numParts * maxNp)
  }

  /** `ev_bitmap_retention`'s per-user state table `(user_id, f, mask)` —
    * first-seen day + the 60-bit activity bitmask anchored at it.
    */
  private def retentionMasks(s: SparkSession,
      dir: String): DataFrame = {
    val ud = Tables(s, dir, "events")
      .selectExpr("user_id", s"unix_micros(ts) div $DayUs AS day")
      .distinct()
      .localCheckpoint(true) // feeds first-day agg and the mask fold
    val first = ud.groupBy("user_id").agg(min(col("day")).as("f"))
    ud.join(first, Seq("user_id"))
      .where(col("day") - col("f") < RetentionBitDays)
      .selectExpr("user_id", "f",
        "shiftleft(CAST(1 AS BIGINT), CAST(day - f AS INT)) AS bit")
      .groupBy("user_id", "f").agg(expr("bit_or(bit)").as("mask"))
  }

  /** The `ev_hw_forecast` kernel over a `(event_type, day, daily)`
    * frame, factored so EventsSpec can drive it with a synthetic weekly
    * series as well as the fixture: per type (n ≥ 2·P+1 observations),
    * hold out the last P days, fit Holt–Winters / Holt / naive on the
    * train prefix with the EXACT recurrence spellings of the ladder
    * rows, and emit one row per held-out day with the three h-step
    * forecasts and their absolute errors (errors on the unrounded
    * forecasts; round-6 is display only).
    */
  private[graft] def hwForecast(daily: DataFrame): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    val P = HwPeriod
    daily.as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (typ, it) =>
        val xs = it.toArray.sortBy(_._2)
        val n = xs.length
        if (n < 2 * P + 1) Iterator.empty
        else {
          val train = xs.take(n - P)
          val hold = xs.drop(n - P)
          // Holt–Winters over the train prefix (ev_holt_winters spelling)
          var acc = 0.0
          var i = 0
          while (i < P) { acc += train(i)._3; i += 1 }
          val l0 = acc / P
          var seas = Vector.tabulate(P)(j => train(j)._3 - l0)
          var l = l0
          var b = 0.0
          train.iterator.drop(P).foreach { case (_, _, x) =>
            val sP = seas.head
            val lp = l
            l = HwAlpha * (x - sP) + HwOneMinusAlpha * (lp + b)
            b = HwBeta * (l - lp) + HwOneMinusBeta * b
            val sNew = HwGamma * (x - l) + HwOneMinusGamma * sP
            seas = seas.tail :+ sNew
          }
          // season-blind Holt over the same prefix (ev_holt spelling)
          var lh = 0.0
          var bh = 0.0
          var first = true
          train.foreach { case (_, _, x) =>
            if (first) { first = false; lh = x; bh = 0.0 }
            else {
              val lp = lh
              lh = HoltAlpha * x + HoltOneMinusAlpha * (lp + bh)
              bh = HoltBeta * (lh - lp) + HoltOneMinusBeta * bh
            }
          }
          val naive = train.last._3
          val r6 = graft.graph.Hashing.round6 _
          hold.iterator.zipWithIndex.map { case ((_, d, x), i0) =>
            val h = i0 + 1
            val fhw = l + h * b + seas(i0) // h ≤ P: ring index h−1
            val fho = lh + h * bh
            (typ, d, h, x, r6(naive), r6(fho), r6(fhw),
              r6(math.abs(x - naive)), r6(math.abs(x - fho)),
              r6(math.abs(x - fhw)))
          }
        }
      }
      .toDF("event_type", "day", "h", "daily", "fc_naive", "fc_holt",
        "fc_hw", "ae_naive", "ae_holt", "ae_hw")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact heavy hitters with a Misra-Gries prefilter — the
    // frequent-items member of the sketch family (KMV/CMS/HLL/quantiles
    // cover cardinality/point-frequency/percentiles; this finds WHICH
    // keys are frequent without shuffling the key universe). Pass 1 folds
    // each partition into ≤ HhK candidate counters (mapPartitions,
    // bounded state, no exchange of non-candidates); pass 2 exact-counts
    // ONLY the ≤ HhK·P candidate buckets behind a broadcast semi-join and
    // applies the share filter in integer math (cnt·HhRatio ≥ n — no
    // float threshold to flap). Self-guarding: if the pigeonhole guard
    // cannot prove the candidate superset (pathological partition skew),
    // it falls back to the plain exact groupBy — same answer, wider
    // shuffle — so correctness never depends on partitioning.
    "ev_heavy_hitters" -> ((s, dir) => {
      val keys = Tables(s, dir, "events")
        .where(col("user_id").isNotNull)
        .selectExpr(s"$HhBucketSql AS bucket")
        .localCheckpoint(true) // feeds count, candidate pass, exact pass
      val n = keys.count()
      val threshold = (n + HhRatio - 1) / HhRatio // T = ceil(n / ratio)
      val (cand, guaranteed) = hhCandidates(s, keys, threshold)
      val base =
        if (guaranteed) keys.join(broadcast(cand), Seq("bucket"), "left_semi")
        else keys
      base.groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") * HhRatio >= n)
    }),

    // Tumbling 1-hour window per event_type.
    "ev_window" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hr"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
    }),

    // Hopping (sliding) 1-hour window, 30-minute slide, per event_type —
    // each event lands in exactly 2 overlapping windows. Spark's
    // window(ts, len, slide) generator expands rows; the oracle expands
    // the same two candidate starts with unnest. Output keyed by the
    // window START so the compare is precision-independent.
    "ev_sliding" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(
          date_format(window(col("ts"), "1 hour", "30 minutes")("start"),
            "yyyy-MM-dd HH:mm").as("win_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
    }),

    // As-of join: each purchase event picks up the latest click of the
    // SAME user at-or-before its timestamp, plus the running click count.
    // Physical shape is the single-shuffle merge idiom — union both event
    // kinds, one window per user ordered by (ts, kind) with clicks
    // sorting before purchases at equal timestamps (inclusive <= as-of
    // semantics, deterministic under ties), and a cumulative max/count —
    // instead of a per-row range join, which would be O(clicks ×
    // purchases) per user at scale. Timestamps compare as exact
    // microsecond longs, so the cross-engine hash is float-free.
    "ev_asof" -> ((s, dir) => {
      val kinds = Window.partitionBy(col("user_id"))
        .orderBy(col("p_ts"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .where(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("p_ts"),
          when(col("event_type") === "click", 0).otherwise(1).as("kind"),
          when(col("event_type") === "click", unix_micros(col("ts")))
            .as("click_us"))
        .withColumn("click_ts", max(col("click_us")).over(kinds))
        .withColumn("n_clicks", count(col("click_us")).over(kinds))
        .where(col("kind") === 1)
        .select(col("event_id"), col("user_id"), col("p_ts"),
          col("click_ts"), col("n_clicks"))
    }),

    // Interval (range) join: click→purchase attribution pairs — every
    // (purchase, click) of the same user with the click inside the
    // (p_ts - AttrWindowSec, p_ts] window. The range predicate is
    // executed as a BUCKETED EQUI-JOIN: both sides key on (user,
    // half-hour bucket), the purchase side expands to the 2 buckets its
    // window can touch, and the exact range filters the equi-join
    // output — a shuffle on small keys instead of the sort-merge range
    // scan (or worse, per-user cross product) a naive inequality join
    // plans into. Timestamps are exact microsecond longs.
    "ev_interval" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val bucketUs = AttrWindowSec * 1000000L
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("c_us"))
        .withColumn("bkt", expr(s"c_us div $bucketUs"))
      val purch = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("p_us"))
        .withColumn("bkt",
          explode(array(expr(s"p_us div $bucketUs"), expr(s"p_us div $bucketUs - 1"))))
      purch.join(clicks, Seq("user_id", "bkt"))
        .where(col("c_us") > col("p_us") - bucketUs && col("c_us") <= col("p_us"))
        .select(col("purchase_id"), col("click_id"),
          (col("p_us") - col("c_us")).as("lag_us"))
    }),

    // Linear multi-touch attribution: each purchase's value splits
    // EQUALLY across the same user's clicks inside the attribution
    // window, and each click reports its total credited revenue. Money
    // is integer micro-cents end-to-end — cents = round(value·100),
    // per-click credit = (cents·10000) div n_clicks — so the split, the
    // per-click fold, and the cross-engine hash are exact integer math
    // (the assortativity moment discipline applied to revenue; the div
    // remainder, ≤ n−1 µ¢ per purchase, is the documented contract).
    // Plan: the ev_interval bucketed equi-join finds (purchase, click)
    // pairs, ONE window over purchase_id sizes each split, one
    // map-side-combined groupBy on click_id folds the credits — three
    // narrow shuffles, every exchanged row a handful of longs.
    "ev_attrib_linear" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val bucketUs = AttrWindowSec * 1000000L
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("c_us"))
        .withColumn("bkt", expr(s"c_us div $bucketUs"))
      val purch = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("p_us"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("bkt",
          explode(array(expr(s"p_us div $bucketUs"), expr(s"p_us div $bucketUs - 1"))))
      purch.join(clicks, Seq("user_id", "bkt"))
        .where(col("c_us") > col("p_us") - bucketUs && col("c_us") <= col("p_us"))
        .select(col("purchase_id"), col("click_id"), col("user_id"),
          col("cents"))
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("purchase_id"))))
        .withColumn("credit_uc", expr("cents * 10000 div n"))
        .groupBy(col("click_id"), col("user_id"))
        .agg(count(lit(1)).as("n_purch"),
          sum(col("credit_uc")).as("credit_ucents"))
    }),

    // Offset window functions — LAG / LEAD / FIRST_VALUE over the
    // per-user event sequence: inter-event gap, value delta, and the
    // user's first event type (the per-entity sequence features a
    // behavioral model consumes). One shuffle on user_id; the frame is
    // the default growing frame for FIRST_VALUE and physical offsets for
    // LAG/LEAD, so no full-partition buffering. (event_id breaks ts ties
    // deterministically — both engines sort the same.)
    "ev_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), col("value"))
        .withColumn("gap_us", unix_micros(col("ts")) -
          lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("value_delta", col("value") - lag(col("value"), 1).over(w))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .withColumn("first_type", first(col("event_type")).over(w))
        .select(col("user_id"), col("event_id"), col("gap_us"),
          col("value_delta"), col("next_type"), col("first_type"))
    }),

    // Trailing moving average over a RANGE frame: daily revenue per
    // event_type, averaged over the 3 calendar days ending at each row.
    // RANGE (not ROWS) is the correct frame for time series with gaps —
    // a missing day shrinks the window instead of silently pulling in an
    // older row. Two shuffles: the daily pre-aggregate, then the per-type
    // window over day-count rows only (≤ days × types, tiny at any SF).
    "ev_moving_avg" -> ((s, dir) => {
      val byType = Window.partitionBy(col("event_type"))
        .orderBy(col("day")).rangeBetween(-2, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("event_type"),
          expr(s"unix_micros(ts) div $DayUs").as("day"), col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(round(sum(col("value")), 2).as("daily"))
        .withColumn("ma3", round(avg(col("daily")).over(byType), 6))
        .select(col("event_type"), col("day"), col("daily"), col("ma3"))
    }),

    // Event-type transition matrix: bigram counts over each user's
    // time-ordered event sequence plus the row-normalized transition
    // probability — the Markov sketch session-replay and recommendation
    // features start from. One user_id shuffle builds the sequences
    // (LEAD); the bigram aggregate and the per-from normalization then
    // run over |types|² rows.
    "ev_markov" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val grid = Window.partitionBy(col("from_type"))
      Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .where(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n") / sum(col("n")).over(grid), 6))
    }),

    // Top 3-step event sequences — the frequent-path mining readout a
    // funnel designer reads beyond ev_markov's single-step matrix
    // (2-step transitions cannot distinguish view→click→purchase from
    // view→click→error). Two LEADs over the same per-user (ts,
    // event_id) window, one map-side-combined count on the packed
    // 3-string key, TakeOrderedAndProject top-N with a full
    // lexicographic tie-break — at any scale the window partitions by
    // the high-cardinality user key and the cut never sorts more than
    // |types|³ aggregate rows.
    "ev_trigrams" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("t1"))
        .withColumn("t2", lead(col("t1"), 1).over(w))
        .withColumn("t3", lead(col("t1"), 2).over(w))
        .where(col("t3").isNotNull)
        .groupBy(col("t1"), col("t2"), col("t3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(TrigramTopN)
    }),

    // Per-state transition entropy of the ev_markov chain — how
    // predictable each event type's successor is (H = 0: deterministic
    // funnel step; H = log₂|types|: uniform noise) — the session-
    // structure signal sequence-model curation reads. Float discipline:
    // H = (ln N − Σc·ln c / N) / ln 2 (the d_tok_entropy identity) over
    // exact BIGINT counts, and the ≤|types|-term float sum Σc·ln c
    // folds from a SORTED (by to_type) array on BOTH engines — a
    // deterministic addend order, so the double is bit-identical
    // cross-engine rather than groupBy-order-dependent. Round-6 on H is
    // display only.
    "ev_markov_entropy" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val big = Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .where(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("c"))
      // deterministic addend order: fold the ≤|types| per-state terms
      // from a SORTED array, identically in the oracle
      big.groupBy(col("from_type"))
        .agg(sum(col("c")).as("n_trans"),
          count(lit(1)).as("n_next"),
          sort_array(collect_list(struct(col("to_type"), col("c"))))
            .as("terms"))
        .selectExpr("from_type", "n_trans", "n_next",
          "aggregate(terms, CAST(0 AS DOUBLE), " +
            "(a, t) -> a + t.c * ln(CAST(t.c AS DOUBLE))) AS s")
        .selectExpr("from_type", "n_trans", "n_next",
          "round((ln(CAST(n_trans AS DOUBLE)) - s / n_trans) " +
            "/ ln(CAST(2 AS DOUBLE)), 6) AS h_bits")
    }),

    // RFM segmentation — recency / frequency / monetary scores per
    // purchasing user, the classic customer-value partition. All three
    // metrics are exact integers (days since last purchase, purchase
    // count, lifetime cents), and the tercile cut points come from the
    // deterministic bottom-k-by-hash USER sample + a broadcast CASE —
    // the d_ccnet_buckets discipline — because a global per-metric
    // NTILE would sort the entire user universe on one partition at
    // corpus scale. Recency inverts (lower = better = 3); segment packs
    // the three digits. Integer end-to-end: the cross-engine hash never
    // sees a float.
    "ev_rfm" -> ((s, dir) => {
      val P = graft.graph.Hashing.P
      val purch = Tables(s, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          round(col("value") * 100).cast("long").as("cents"))
      val gmax = purch.agg(max(col("us")).as("gmax"))
      val rfm = purch.groupBy(col("user_id"))
        .agg(max(col("us")).as("u_max"), count(lit(1)).as("f"),
          sum(col("cents")).as("m_cents"))
        .crossJoin(broadcast(gmax))
        .selectExpr("user_id", s"(gmax - u_max) div $DayUs AS r_days",
          "f", "m_cents")
        .selectExpr("user_id", "r_days", "f", "m_cents",
          s"${graft.graph.Hashing.spark.kmvMix(s"(user_id % $P)")} AS hm")
        .localCheckpoint(true) // feeds the sample + the labeling pass
      // ONE bottom-k-by-hash sample pass (TakeOrderedAndProject),
      // checkpointed, feeds all three threshold windows — not one
      // identical re-sample per metric.
      val sample = rfm.orderBy(col("hm"), col("user_id")).limit(RfmSampleK)
        .localCheckpoint(true)
      def thrOf(metric: String): DataFrame = {
        sample
          .crossJoin(broadcast(sample.agg(count(lit(1)).as("k"))))
          .withColumn("rn", row_number().over(
            Window.orderBy(col(metric), col("user_id"))))
          .agg(
            max(when(col("rn") ===
              (floor((col("k") - 1).cast("double") / 3.0).cast("long") + 1),
              col(metric))).as(s"${metric}_lo"),
            max(when(col("rn") ===
              (floor(((col("k") - 1).cast("double") * 2.0) / 3.0)
                .cast("long") + 1),
              col(metric))).as(s"${metric}_hi"))
      }
      rfm.crossJoin(broadcast(thrOf("r_days")))
        .crossJoin(broadcast(thrOf("f")))
        .crossJoin(broadcast(thrOf("m_cents")))
        .selectExpr("user_id", "r_days", "f", "m_cents",
          "CASE WHEN r_days <= r_days_lo THEN 3 " +
            "WHEN r_days > r_days_hi THEN 1 ELSE 2 END AS r_score",
          "CASE WHEN f <= f_lo THEN 1 " +
            "WHEN f > f_hi THEN 3 ELSE 2 END AS f_score",
          "CASE WHEN m_cents <= m_cents_lo THEN 1 " +
            "WHEN m_cents > m_cents_hi THEN 3 ELSE 2 END AS m_score")
        .selectExpr("user_id", "r_days", "f", "m_cents", "r_score",
          "f_score", "m_score",
          "r_score * 100 + f_score * 10 + m_score AS segment")
    }),

    // Latest event per (user, type) — the CDC-compaction / current-state
    // snapshot every mutable-entity pipeline materializes. rn = 1 over a
    // (ts, event_id) DESC window is the spelling Catalyst rewrites into
    // WindowGroupLimit: each map task keeps ONE candidate row per group
    // BEFORE the exchange (plan-asserted in the spec), so the shuffle
    // moves |groups| rows, not |events| — at 100 TB the difference
    // between compacting a changelog and re-sorting it. event_id breaks
    // equal-timestamp ties deterministically.
    "ev_latest" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"), col("value"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
    }),

    // Per-type EWMA over the daily revenue series — the sequential
    // recurrence e_t = α·x_t + (1−α)·e_{t−1} (seeded e_1 = x_1) that a
    // RANGE/ROWS frame cannot express. Shape: the heavy shuffle is the
    // map-side-combined daily pre-aggregate; the recurrence then runs as
    // a typed flatMapGroups over |types| × |days| rows ONLY — per-group
    // state is the day count, never the event count, so the sort-and-
    // fold inside each group is calendar-bounded at any corpus scale.
    // The daily input folds as exact integer cents (the ev_attrib_linear
    // discipline) — round(value·100) per event, summed exactly, one
    // IEEE division by 100 — so the recurrence inputs carry NO float-sum
    // order sensitivity (a round(sum(value),2) seed could flip a half
    // boundary between engines and propagate through every later ewma).
    // Both engines then evaluate the identical literal-α IEEE expression
    // over identical daily inputs in identical day order, so the
    // recurrence is bit-identical step by step (round-6 is display
    // only); the oracle replays it as a recursive CTE.
    "ev_ewma" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .groupBy(col("event_type"),
          expr(s"unix_micros(ts) div $DayUs").as("day"))
        .agg((sum(round(col("value") * 100).cast("long")).cast("double")
          / 100.0).as("daily"))
        .as[(String, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (typ, it) =>
          val xs = it.toArray.sortBy(_._2)
          var e = 0.0
          var first = true
          xs.iterator.map { case (_, d, x) =>
            e = if (first) { first = false; x }
            else EwmaAlpha * x + EwmaOneMinusAlpha * e
            (typ, d, x, graft.graph.Hashing.round6(e))
          }
        }
        .toDF("event_type", "day", "daily", "ewma")
    }),

    // Holt double-exponential smoothing (level + trend) over each event
    // type's daily revenue — the trend-aware companion of ev_ewma that a
    // capacity/forecast pipeline runs where simple EWMA lags ramps:
    // l_t = α·x_t + (1−α)·(l_{t−1}+b_{t−1}), b_t = β·(l_t−l_{t−1}) +
    // (1−β)·b_{t−1}, seeded l_1 = x_1, b_1 = 0; `forecast` is the
    // one-step-ahead l_t + b_t. Same scale/exactness shape as ev_ewma:
    // the heavy shuffle is the daily exact-cents pre-aggregate, the
    // sequential recurrence folds over DAY-count rows per type (calendar-
    // bounded at any corpus scale), α/β/1−α/1−β are exact-binary literal
    // pairs, and both engines evaluate the identical IEEE expression
    // chain over identical inputs in identical day order — bit-identical
    // step by step, round-6 display only (the oracle replays it as a
    // recursive CTE carrying (level, trend)).
    "ev_holt" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .groupBy(col("event_type"),
          expr(s"unix_micros(ts) div $DayUs").as("day"))
        .agg((sum(round(col("value") * 100).cast("long")).cast("double")
          / 100.0).as("daily"))
        .as[(String, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (typ, it) =>
          val xs = it.toArray.sortBy(_._2)
          var l = 0.0
          var b = 0.0
          var first = true
          xs.iterator.map { case (_, d, x) =>
            if (first) { first = false; l = x; b = 0.0 }
            else {
              val lp = l
              l = HoltAlpha * x + HoltOneMinusAlpha * (lp + b)
              b = HoltBeta * (l - lp) + HoltOneMinusBeta * b
            }
            (typ, d, x, graft.graph.Hashing.round6(l),
              graft.graph.Hashing.round6(b), graft.graph.Hashing.round6(l + b))
          }
        }
        .toDF("event_type", "day", "daily", "level", "trend", "forecast")
    }),

    // Additive Holt–Winters (triple exponential smoothing) over each
    // type's daily revenue — the seasonal member of the smoothing family
    // (ewma → holt → holt_winters): level and trend as in ev_holt plus a
    // P=7 rotating seasonal component, the model a weekly-periodic
    // series actually needs (ev_seasonality shows the fixture has one).
    // l_t = α(x_t−s_{t−P}) + (1−α)(l+b); b_t = β(l_t−l_{t−1}) + (1−β)b;
    // s_t = γ(x_t−l_t) + (1−γ)s_{t−P}; forecast = l_t + b_t + s_{t+1−P}.
    // The first full season seeds (l₀ = day-ordered mean, s_i = x_i−l₀,
    // b₀ = 0) and is consumed, not emitted. Exactness: same exact-cents
    // inputs and exact-binary literal pairs as ev_holt, every float
    // expression spelled identically — the oracle is a recursive CTE
    // whose working row CARRIES THE SEASONAL RING as a 7-slot list
    // (seas[1] read, tail+append rotation), the one recurrence state no
    // scalar column pair can hold.
    "ev_holt_winters" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .groupBy(col("event_type"),
          expr(s"unix_micros(ts) div $DayUs").as("day"))
        .agg((sum(round(col("value") * 100).cast("long")).cast("double")
          / 100.0).as("daily"))
        .as[(String, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (typ, it) =>
          val xs = it.toArray.sortBy(_._2)
          if (xs.length < HwPeriod + 1) Iterator.empty
          else {
            var acc = 0.0
            var i = 0
            while (i < HwPeriod) { acc += xs(i)._3; i += 1 }
            val l0 = acc / HwPeriod
            var seas = Vector.tabulate(HwPeriod)(j => xs(j)._3 - l0)
            var l = l0
            var b = 0.0
            xs.iterator.drop(HwPeriod).map { case (_, d, x) =>
              val sP = seas.head
              val lp = l
              l = HwAlpha * (x - sP) + HwOneMinusAlpha * (lp + b)
              b = HwBeta * (l - lp) + HwOneMinusBeta * b
              val sNew = HwGamma * (x - l) + HwOneMinusGamma * sP
              seas = seas.tail :+ sNew
              (typ, d, x, graft.graph.Hashing.round6(l),
                graft.graph.Hashing.round6(b),
                graft.graph.Hashing.round6(sNew),
                graft.graph.Hashing.round6(l + b + seas.head))
            }
          }
        }
        .toDF("event_type", "day", "daily", "level", "trend", "seasonal",
          "forecast")
    }),

    // h-step-ahead Holt–Winters forecast with a held-out last season —
    // the MODEL-SELECTION artifact the smoothing ladder exists for: per
    // type the last P observed days are held out, the HW recurrence
    // (and, as baselines, season-blind Holt and the naive last-value
    // carry-forward) fits on the prefix, and each held-out day h ∈ 1..P
    // gets its forecast l + h·b + s_{t+h−P} next to the actual and the
    // absolute errors — the per-horizon table a pipeline reads before
    // trusting a smoother for capacity planning (EventsSpec pins that
    // HW beats the season-blind Holt on the weekly fixture). Same
    // exactness shape as the ladder rows: exact-cents dailies, the
    // identical recurrence spellings over the train prefix (template
    // functions shared with the ev_holt_winters oracle), every forecast
    // expression spelled once per engine, errors computed on the
    // UNROUNDED forecasts. Types need n ≥ 2P+1 observed days (train ≥
    // P+1) — the identical filter in both engines.
    "ev_hw_forecast" -> ((s, dir) => hwForecast(
      Tables(s, dir, "events")
        .groupBy(col("event_type"),
          expr(s"unix_micros(ts) div $DayUs").as("day"))
        .agg((sum(round(col("value") * 100).cast("long")).cast("double")
          / 100.0).as("daily")))),

    // Tabular CUSUM change-point detection (Page 1954) over each type's
    // daily revenue — the SUSTAINED-shift monitor next to ev_anomaly's
    // point-outlier z-score: s⁺ accumulates excess above μ+k, s⁻ deficit
    // below μ−k, both clamped at 0, alarm when either crosses h. μ and σ
    // come from EXACT integer moments over the daily cents (n, Σc, Σc² —
    // the g_assortativity discipline: BIGINT sums, one float expression
    // spelled identically in the oracle; Σc² stays under 2⁶³ through
    // ~1e14 cents²·days), the (k, h) = (σ/2, 4σ) design is exact-binary
    // scaling, and the recurrence folds day-count rows per type in day
    // order — both engines evaluate the identical IEEE chain, the oracle
    // as a recursive CTE carrying (s⁺, s⁻). Single-day types are
    // excluded (σ undefined at n=1; the identical n ≥ 2 filter runs in
    // both engines).
    "ev_cusum" -> ((s, dir) => {
      import s.implicits._
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type"),
          expr(s"unix_micros(ts) div $DayUs").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val stats = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s1"),
          sum(col("cents") * col("cents")).as("s2"))
        .where(col("n") >= 2)
      daily.join(stats, Seq("event_type"))
        .as[(String, Long, Long, Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (typ, it) =>
          val xs = it.toArray.sortBy(_._2)
          val (_, _, _, n, s1, s2) = xs.head
          val mu = s1.toDouble / n / 100
          val sd = math.sqrt((n * s2 - s1 * s1).toDouble /
            (n * (n - 1)).toDouble) / 100
          val k = CusumKSigma * sd
          val h = CusumHSigma * sd
          var sp = 0.0
          var sn = 0.0
          xs.iterator.map { case (_, d, c, _, _, _) =>
            val x = c.toDouble / 100
            sp = math.max(0.0, sp + (x - mu - k))
            sn = math.max(0.0, sn + (mu - x - k))
            (typ, d, x, graft.graph.Hashing.round6(sp),
              graft.graph.Hashing.round6(sn),
              if (sp > h || sn > h) 1L else 0L)
          }
        }
        .toDF("event_type", "day", "daily", "cusum_pos", "cusum_neg",
          "alarm")
    }),

    // Statistical anomaly detection: z-score each day's revenue against
    // its event type's own distribution and flag |z| > 2 outliers — the
    // monitoring pass a pipeline runs over ingest volumes. Shape: the
    // heavy shuffle is the daily pre-aggregate; the per-type moments then
    // reduce day-count rows, and the z projection joins two SMALL
    // aggregates (types × days, types) — broadcast at any corpus scale.
    // Daily totals round to 2dp BEFORE the moment computation so both
    // engines aggregate identical inputs; z rounds at 4dp (well inside
    // the driver compare's 9-significant-digit hash).
    "ev_anomaly" -> ((s, dir) => {
      val daily = Tables(s, dir, "events")
        .select(col("event_type"),
          expr(s"unix_micros(ts) div $DayUs").as("day"), col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(round(sum(col("value")), 2).as("daily"))
      val stats = daily.groupBy(col("event_type"))
        .agg(avg(col("daily")).as("mu"),
          stddev_samp(col("daily")).as("sd"))
      daily.join(broadcast(stats), Seq("event_type"))
        .select(col("event_type"), col("day"), col("daily"),
          round((col("daily") - col("mu")) / col("sd"), 4).as("z"))
        .where(abs((col("daily") - col("mu")) / col("sd")) > 2.0)
    }),

    // Time-series gap filling: densify each event type's daily series
    // over its own [min_day, max_day] span — missing days materialize
    // with value 0 and a `filled` marker (the densification step feature
    // pipelines run before windowed models). Scale shape: the only heavy
    // shuffle is the daily pre-aggregation; the span/daily join then
    // runs over |types|×|days| AGGREGATE rows (tiny at any corpus
    // scale), and `sequence()` explodes per type — never per event.
    "ev_gapfill" -> ((s, dir) => {
      val daily = Tables(s, dir, "events")
        .select(col("event_type"),
          expr(s"unix_micros(ts) div $DayUs").as("day"), col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(round(sum(col("value")), 2).as("daily"))
      val span = daily.groupBy(col("event_type"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("day"))
      span.join(daily, Seq("event_type", "day"), "left")
        .selectExpr("event_type", "day",
          "coalesce(daily, 0.0) AS daily",
          "CASE WHEN daily IS NULL THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS filled")
    }),

    // Semi-structured extraction: the JSON `props` payload parsed per
    // row (`get_json_object` — Catalyst's incremental JSON path
    // evaluator, a narrow projection with no UDF) and aggregated. At
    // scale the parse cost is the story: path extraction touches only
    // the requested key, never materializes the full document tree.
    "ev_json" -> ((s, dir) => {
      Tables(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(avg(col("k")), 6).as("avg_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    }),

    // Funnel detection: view → click → purchase chains per user, ordered
    // by (ts, stage) with earlier stages sorting first at equal
    // timestamps (inclusive semantics, as in ev_asof). ONE window pass —
    // two cumulative maxima act as the stage state machine (latest view
    // so far; latest click that already had a view) — instead of chained
    // self-joins. Output: each completed purchase with its qualifying
    // click/view times.
    "ev_funnel" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .where(col("event_type").isin("view", "click", "purchase"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"),
          when(col("event_type") === "view", 0)
            .when(col("event_type") === "click", 1).otherwise(2).as("kind"))
        .withColumn("last_view",
          max(when(col("kind") === 0, col("us"))).over(w))
        .withColumn("qclick",
          max(when(col("kind") === 1 && col("last_view").isNotNull, col("us")))
            .over(w))
        .where(col("kind") === 2 && col("qclick").isNotNull)
        .select(col("event_id"), col("user_id"), col("us").as("p_us"),
          col("qclick").as("click_us"), col("last_view").as("view_us"))
    }),

    // Cohort retention: users grouped by their first-seen week; one row
    // per (cohort week, week offset) with the distinct users still
    // active. Two shuffles — (user, week) distinct, then the cohort
    // re-aggregation — both on small keys; the per-user min is a partial
    // aggregate, not a window.
    "ev_retention" -> ((s, dir) => {
      val uw = Tables(s, dir, "events")
        .select(col("user_id"),
          expr(s"unix_micros(ts) div $WeekUs").as("week"))
        .distinct()
      val cohort = uw.groupBy("user_id").agg(min(col("week")).as("cohort"))
      uw.join(cohort, Seq("user_id"))
        .groupBy(col("cohort"), (col("week") - col("cohort")).as("offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // DAU/WAU stickiness — the engagement ratio every product dashboard
    // tracks: per day, distinct active users vs distinct users active in
    // the TRAILING 7-day window. The trailing window is EXACT without a
    // range self-join: each (user, day) activity row explodes into the 7
    // window days it covers (a bounded 7× map-side blowup), distinct
    // once, count per day — two shuffles on (user, day)-class keys, no
    // window function, no per-day scan of history. Integer counts + one
    // rounded division.
    "ev_stickiness" -> ((s, dir) => {
      val ud = Tables(s, dir, "events")
        .selectExpr("user_id", s"unix_micros(ts) div $DayUs AS day")
        .distinct()
        .localCheckpoint(true) // feeds DAU and the exploded WAU cover
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = ud
        .selectExpr("user_id", "explode(sequence(day, day + 6)) AS day")
        .distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("day"))
        .selectExpr("day", "dau", "wau",
          "round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness")
    }),

    // Week-over-week lifecycle ledger — the growth-accounting split
    // (new / retained / resurrected / churned) every engagement report
    // derives from the same (user, week) activity matrix as
    // `ev_retention`. Each class is its own aggregate over the distinct
    // matrix: new = first-seen week, retained = semi-join against the
    // prev-week shift, resurrected = later-than-first minus the
    // semi-join (anti), churned(w) = active at w−1 with no activity at
    // w (anti against the next-week shift, attributed to w). All five
    // legs shuffle on (user, week)/(week)-class keys — no window, no
    // per-week history scan — and reconcile exactly:
    // n_active = n_new + n_retained + n_resurrected,
    // n_churned(w) = n_active(w−1) − n_retained(w).
    "ev_churn" -> ((s, dir) => {
      val uw = Tables(s, dir, "events")
        .selectExpr("user_id", s"unix_micros(ts) div $WeekUs AS week")
        .distinct()
        .localCheckpoint(true) // feeds all five class aggregates
      val first = uw.groupBy("user_id").agg(min(col("week")).as("fw"))
        .localCheckpoint(true) // n_new + the resurrected filter
      val prev = uw.selectExpr("user_id", "week + 1 AS week")
      val nxt = uw.selectExpr("user_id", "week - 1 AS week")
      val active = uw.groupBy("week").agg(count(lit(1)).as("n_active"))
      val newu = first.groupBy(col("fw").as("week"))
        .agg(count(lit(1)).as("n_new"))
      val ret = uw.join(prev, Seq("user_id", "week"), "left_semi")
        .groupBy("week").agg(count(lit(1)).as("n_retained"))
      val res = uw.join(first, Seq("user_id"))
        .where(col("week") > col("fw"))
        .join(prev, Seq("user_id", "week"), "left_anti")
        .groupBy("week").agg(count(lit(1)).as("n_resurrected"))
      val chn = uw.join(nxt, Seq("user_id", "week"), "left_anti")
        .selectExpr("week + 1 AS week")
        .groupBy("week").agg(count(lit(1)).as("n_churned"))
      active.join(newu, Seq("week"), "left")
        .join(ret, Seq("week"), "left")
        .join(res, Seq("week"), "left")
        .join(chn, Seq("week"), "left")
        .selectExpr("week", "n_active",
          "coalesce(n_new, CAST(0 AS BIGINT)) AS n_new",
          "coalesce(n_retained, CAST(0 AS BIGINT)) AS n_retained",
          "coalesce(n_resurrected, CAST(0 AS BIGINT)) AS n_resurrected",
          "coalesce(n_churned, CAST(0 AS BIGINT)) AS n_churned")
    }),

    // Hour-of-day × day-of-week seasonality heatmap. The (dow, hour)
    // cell is derived ARITHMETICALLY from the epoch (day index mod 7,
    // microsecond-of-day div hour) — no calendar/timezone function on
    // either engine, so the bucketing is integer-identical by
    // construction. One map-side-combined aggregate to ≤ 168 cells;
    // the share denominator is a 1-row broadcast.
    "ev_seasonality" -> ((s, dir) => {
      val cells = Tables(s, dir, "events")
        .selectExpr(s"(unix_micros(ts) div $DayUs) % 7 AS dow",
          s"(unix_micros(ts) % $DayUs) div $HourUs AS hour", "user_id")
        .groupBy("dow", "hour")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
      val total = cells.agg(sum(col("n_events")).as("total"))
      cells.crossJoin(broadcast(total))
        .selectExpr("dow", "hour", "n_events", "n_users",
          "round(CAST(n_events AS DOUBLE) / total, 6) AS share")
    }),

    // Day-N retention curve via per-user activity BITMASKS — the
    // roaring-bitmap audience pattern at engine scale: each user's
    // first-`RetentionBitDays` activity history folds into ONE BIGINT
    // (bit k set ⟺ active k days after first seen), so the whole curve
    // reads from |users| 16-byte rows instead of a per-(user, offset)
    // matrix. Shape: (user, day) distinct → first-day join → one
    // map-side-combined bit_or fold → a 60-way bit probe over the mask
    // table (bounded explode) → counts; cohort size is a 1-row
    // broadcast. Integer end-to-end; k = 0 is the cohort itself.
    "ev_bitmap_retention" -> ((s, dir) => {
      val mask = retentionMasks(s, dir)
        .select(col("user_id"), col("mask"))
        .localCheckpoint(true) // curve probe + cohort count
      val curve = mask
        .selectExpr(s"explode(sequence(0, ${RetentionBitDays - 1})) AS k",
          "mask")
        .where(expr("(shiftright(mask, k) & CAST(1 AS BIGINT)) = 1"))
        .groupBy("k").agg(count(lit(1)).as("n_active"))
      val cohort = mask.agg(count(lit(1)).as("n_cohort"))
      curve.crossJoin(broadcast(cohort))
        .selectExpr("k", "n_active", "n_cohort",
          "round(CAST(n_active AS DOUBLE) / n_cohort, 6) AS retention")
    }),

    // Welch's two-sample t-test between every event-type pair's daily
    // revenue series — the A/B significance readout an experimentation
    // pipeline computes at the end of a run. Everything reduces to three
    // exact integer moments per type (days n, Σcents, Σcents²) folded in
    // ONE map-side-combined aggregate over the daily pre-aggregate; the
    // pair stage is a broadcast self-join over |types| rows. The float
    // tail (mean, Welch variance, t, Satterthwaite dof) is a fixed
    // IEEE expression DAG evaluated stepwise over exact integer inputs —
    // squares spelled as x*x (pow() is not guaranteed correctly rounded;
    // multiplication is) and the identical operand order in the oracle,
    // so even the 4-deep float chain is bit-identical across engines
    // (round-6 is display only). At corpus scale nothing here grows:
    // moments are mergeable partials, the pair join is |types|².
    // Types with a single active day carry no variance — (n−1) would be
    // a division by zero whose null/∞ behavior differs across engines —
    // so the n ≥ 2 filter runs identically on both sides (a Welch test
    // is undefined for a one-point sample, not zero).
    "ev_ab_welch" -> ((s, dir) => {
      val mom = Tables(s, dir, "events")
        .groupBy(col("event_type"),
          expr(s"unix_micros(ts) div $DayUs").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sx"),
          sum(expr("cents * cents")).as("sxx"))
        .where(col("n") >= 2)
        .localCheckpoint(true) // both sides of the |types|² pair join
      mom.as("a").join(broadcast(mom.as("b")),
          col("a.event_type") < col("b.event_type"))
        .selectExpr("a.event_type AS type_a", "b.event_type AS type_b",
          "a.n AS n_a", "b.n AS n_b",
          "CAST(a.sx AS DOUBLE) / a.n AS m_a",
          "CAST(b.sx AS DOUBLE) / b.n AS m_b",
          "(a.sxx - CAST(a.sx AS DOUBLE) * a.sx / a.n) / (a.n - 1) AS v_a",
          "(b.sxx - CAST(b.sx AS DOUBLE) * b.sx / b.n) / (b.n - 1) AS v_b")
        .selectExpr("type_a", "type_b", "n_a", "n_b", "m_a", "m_b",
          "v_a / n_a AS se_a", "v_b / n_b AS se_b")
        .selectExpr("type_a", "type_b", "n_a", "n_b", "m_a", "m_b",
          "se_a", "se_b", "se_a + se_b AS se2")
        .selectExpr("type_a", "type_b", "n_a", "n_b",
          "round(m_a, 6) AS mean_a", "round(m_b, 6) AS mean_b",
          "round((m_a - m_b) / sqrt(se2), 6) AS t_stat",
          "round(se2 * se2 / (se_a * se_a / (n_a - 1) " +
            "+ se_b * se_b / (n_b - 1)), 6) AS dof")
    }),

    // Gap-based sessionization: a new session starts when the gap from the
    // previous event of the same user exceeds GapSeconds.
    "ev_sessions" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      Tables(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            col("ts").cast("double") - col("prev_ts").cast("double") > GapSeconds, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"),
          round(max(col("ts").cast("double")) - min(col("ts").cast("double")), 6)
            .as("duration_sec"))
    }),

    // Approximate distinct users per daily window via the KMV sketch
    // aggregate — the sketch-in-window composition (distinct-count state
    // per window bounded at k longs instead of one entry per user). The
    // exact count rides along to oracle-check the estimate; at scale it
    // is the column you DROP.
    // User ids hash through the full-range mixer so the estimate's
    // uniformity assumption holds regardless of id distribution;
    // n_exact counts RAW ids (the % P reduction exists only to feed the
    // mixer — ids at or above P must not collide in the exact baseline
    // the estimate is judged against).
    // Day-over-day audience overlap from KMV sketches — the SET-OPERATION
    // member of the sketch family (the others estimate per-window scalars;
    // this one estimates BETWEEN windows): for each consecutive day pair,
    // the bottom-k distinct-min-hash sketches of the two days combine into
    // the union's bottom-k, and the fraction of those union-sketch hashes
    // present in BOTH days estimates Jaccard (Beyer et al. 2007, the
    // theta-sketch a∩b/a∪b rule). Everything that crosses a shuffle is a
    // k-row integer hash set per day — the pair computation never touches
    // raw users, which is what makes cross-window audience overlap
    // streamable at 100 TB; the exact intersection/union/Jaccard ride
    // along as the drop-at-scale oracle columns (the ev_daily_hll
    // discipline). Per-day bottom-k cuts are rank-over-window rows
    // (WindowGroupLimit-eligible); the single float division per column
    // is spelled identically in the oracle.
    "ev_kmv_overlap" -> ((s, dir) => {
      val P = graft.graph.Hashing.P
      val du = Tables(s, dir, "events")
        .selectExpr("date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day",
          "user_id", s"user_id % $P AS h")
        .selectExpr("day", "user_id",
          s"${graft.graph.Hashing.spark.kmvMix("h")} AS hm")
        .select("day", "user_id", "hm").distinct()
        .localCheckpoint(true) // feeds sketches and the exact columns
      val w = Window.partitionBy(col("day")).orderBy(col("hm"))
      val sk = du.select(col("day"), col("hm")).distinct()
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= EvOvK).select("day", "hm")
        .localCheckpoint(true) // k rows per day — the only pair-stage input
      val pairs = sk.select(col("day")).distinct()
        .select(col("day"), date_format(date_add(to_date(col("day")), 1),
          "yyyy-MM-dd").as("day2"))
        .join(sk.select(col("day").as("day2")).distinct(), Seq("day2"),
          "left_semi")
      // union sketch per pair: distinct hm of both days, bottom-k again.
      // Two equi-joins (day side, day2 side) unioned — never an OR-join
      // nested loop.
      val aSide = pairs.join(sk, Seq("day"))
        .select(col("day"), col("day2"), col("hm"),
          lit(1).as("in_a"), lit(0).as("in_b"))
      val bSide = pairs.join(sk.withColumnRenamed("day", "day2"), Seq("day2"))
        .select(col("day"), col("day2"), col("hm"),
          lit(0).as("in_a"), lit(1).as("in_b"))
      val both = aSide.unionByName(bSide)
        .groupBy(col("day"), col("day2"), col("hm"))
        .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      val wp = Window.partitionBy(col("day"), col("day2")).orderBy(col("hm"))
      val est = both.withColumn("rn", row_number().over(wp))
        .where(col("rn") <= EvOvK)
        .groupBy(col("day"), col("day2"))
        .agg(count(lit(1)).as("k_union"),
          sum(col("in_a") * col("in_b")).as("overlap"))
      val exact = du.select(col("day"), col("user_id")).distinct().as("x")
        .join(du.select(
            date_format(date_add(to_date(col("day")), -1), "yyyy-MM-dd")
              .as("day"), col("user_id")).distinct().as("y"),
          Seq("day", "user_id"), "full")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_union"),
          sum(when(col("x.user_id").isNotNull &&
            col("y.user_id").isNotNull, 1L).otherwise(0L)).as("n_inter"))
      est.join(exact, Seq("day"))
        .selectExpr("day", "day2", "CAST(k_union AS BIGINT) AS k_union",
          "CAST(overlap AS BIGINT) AS overlap",
          "CAST(overlap AS DOUBLE) / CAST(k_union AS DOUBLE) AS jac_est",
          "CAST(n_inter AS BIGINT) AS n_inter",
          "CAST(n_union AS BIGINT) AS n_union",
          "CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) AS jac_exact")
    }),

    "ev_daily_kmv" -> ((s, dir) => {
      graft.functions.KmvFunctions.register(s)
      val P = graft.graph.Hashing.P
      Tables(s, dir, "events")
        .selectExpr("date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day",
          "user_id", s"user_id % $P AS h")
        .selectExpr("day", "user_id",
          s"${graft.graph.Hashing.spark.kmvMix("h")} AS hm")
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          graft.functions.KmvFunctions.kmvKth(col("hm"), EvKmvK).as("kth_h"))
        .where(col("kth_h").isNotNull)
        .selectExpr("day", "CAST(n_exact AS BIGINT) AS n_exact", "kth_h",
          graft.text.TextOps.kmvEstSql("kth_h", EvKmvK))
    }),

    // Count-Min per-key frequency estimation — the frequency sibling of
    // ev_daily_kmv's cardinality sketch: per day a d×w counter matrix
    // estimates every user's event count as min over d hash rows of the
    // bucket counts. Built here in its TABLE form — the matrix is d·w
    // aggregate rows per day (256 longs regardless of user count, the
    // bounded-state property), produced by a plain groupBy with
    // map-side combine; no custom aggregate needed. Exact counts ride
    // along to oracle-check the estimate (and would be the dropped
    // column at scale). CMS can only overestimate (est ≥ n_exact) —
    // pinned in the spec; the small w makes collisions real at sf0.01+
    // (~60% of keys overestimate there) rather than vacuously exact.
    "ev_cms_freq" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .selectExpr("date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day",
          "user_id")
        .localCheckpoint(true) // feeds the matrix, the keys and exact
      val cms = cmsMatrix(ev)
      val exact = ev.groupBy(col("day"), col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
      val keys = (0 until CmsD).map { j =>
          exact.selectExpr("day", "user_id", s"$j AS j",
            s"${cmsBucketSql(j)} AS b")
        }.reduce(_.unionAll(_))
      keys.join(cms, Seq("day", "j", "b"))
        .groupBy(col("day"), col("user_id"))
        .agg(min(col("c")).as("est"))
        .join(exact, Seq("day", "user_id"))
        .selectExpr("day", "user_id", "CAST(n_exact AS BIGINT) AS n_exact",
          "CAST(est AS BIGINT) AS est")
    }),

    // HyperLogLog distinct users per daily window — the register-based
    // cardinality sketch completing the family (KMV = order statistics,
    // CMS = frequency, HLL = the one production systems actually run):
    // m = 16 one-long registers per day regardless of user count, built
    // by a plain two-level groupBy with map-side combine — max-ρ per
    // (day, bucket), then the m-row fold to the estimate. Zero registers
    // are exactly the ABSENT buckets (ρ ≥ 1 whenever a bucket is hit),
    // so no bucket scaffold table is needed: V = m − n_present. The
    // exact count rides along to oracle-check the estimate; at scale it
    // is the column you DROP. All register math is integer (see
    // hllEstSql's order-free-sum argument); both correction branches are
    // real across the dual-scale verify.
    "ev_daily_hll" -> ((s, dir) => {
      val P = graft.graph.Hashing.P
      val pw = 1L << (HllW + 1)
      val ev = Tables(s, dir, "events")
        .selectExpr("date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day",
          "user_id", s"user_id % $P AS h")
        .selectExpr("day", "user_id",
          s"${graft.graph.Hashing.spark.kmvMix("h")} AS hm")
        .localCheckpoint(true) // feeds the registers and the exact count
      val agg = hllRegisters(ev)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_present"),
          sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${HllW + 1} - mj)"))
            .as("s_reg"))
        .selectExpr("day", s"CAST($HllM - n_present AS BIGINT) AS v_zero",
          s"s_reg + ($HllM - n_present) * CAST($pw AS BIGINT) AS s_scaled")
      ev.groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
        .join(agg, Seq("day"))
        .selectExpr("day", "CAST(n_exact AS BIGINT) AS n_exact", "v_zero",
          hllEstSql)
    }),

    // Sketched percentiles per daily window — the quantile member of the
    // sketch family: a deterministic uniform sample (the EvQK events
    // with the SMALLEST mixed event_id hash — bottom-k-by-hash is an
    // order-free, mergeable, exactly-reproducible sample, unlike
    // rand()) feeds rank-based p50/p90/p99. Selection-only semantics —
    // quantile = value at rank floor(q·(n−1))+1 of the sorted multiset,
    // no interpolation — so every output value is a raw parquet double
    // and the cross-engine compare is float-arithmetic-free. The exact
    // quantiles ride along to oracle-check the sample (they need the
    // full per-day sort that the sketch exists to avoid — the columns
    // you DROP at scale, as with the other sketch rows); the sample cut
    // itself is a per-day WindowGroupLimit (plan-asserted in spec), so
    // each map task ships at most EvQK rows per day.
    "ev_value_quantiles" -> ((s, dir) =>
      evValueQuantiles(Tables(s, dir, "events")))
  )

  /** `ev_value_quantiles` body over a `(ts, event_id, value)` events
    * frame.
    */
  private def evValueQuantiles(events: DataFrame): DataFrame = {
    val P = graft.graph.Hashing.P
    val ev = events
      .selectExpr("date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day",
        "event_id", "value", s"event_id % $P AS h")
      .selectExpr("day", "event_id", "value",
        s"${graft.graph.Hashing.spark.kmvMix("h")} AS hm")
      .localCheckpoint(true) // feeds the exact and the sampled path
    val exact = quantileSelect(
      ev, Window.partitionBy(col("day")).orderBy(col("value"), col("event_id")),
      "ex")
    val sample = quantileSelect(
      // value joins the cut's order key so duplicate (hm, event_id)
      // rows — replayed events — resolve the boundary deterministically.
      // The null-value filter keeps a null-valued row from taking one of
      // the k sample slots. (The exact ex_* companions are the documented
      // drop-at-scale oracle ride-alongs and assume non-null values, like
      // the raw order-by they need.)
      ev.where(col("value").isNotNull)
        .withColumn("rs", row_number().over(
          Window.partitionBy(col("day"))
            .orderBy(col("hm"), col("event_id"), col("value"))))
        .where(col("rs") <= EvQK).drop("rs"),
      Window.partitionBy(col("day")).orderBy(col("value"), col("event_id")),
      "sp")
    exact.join(sample, Seq("day"))
      .selectExpr("day", "CAST(ex_n AS BIGINT) AS n",
        "ex_p50", "ex_p90", "ex_p99", "sp_p50", "sp_p90", "sp_p99")
  }

  /** `ev_value_quantiles` sample size: 64 events per day — bigger than
    * sf0.001's ~30 events/day (sample ≡ population there, sampled =
    * exact) and a real 1-in-5 subsample at sf0.01's ~330/day; production
    * sizes k for the quantile error ~1/√k as usual.
    */
  val EvQK = 64

  /** Rank-based quantile selection at [[QuantileQs]] over a per-day value
    * table: value at rank floor(q·(n−1))+1 of `w`'s total order —
    * conditional aggregation over row_number, shared by the exact and
    * sampled paths (identical selection rule is the point: the sample's
    * only difference IS the sample).
    */
  private val QuantileQs = Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99))

  private def quantileSelect(ev: DataFrame,
      w: org.apache.spark.sql.expressions.WindowSpec,
      pfx: String): DataFrame = {
    val ranked = ev
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("day"))))
    val aggs = max(col("n")).as(s"${pfx}_n") +:
      QuantileQs.map { case (nm, q) =>
        max(when(col("rn") ===
          (floor(lit(q) * (col("n") - 1).cast("double")).cast("long") + 1),
          col("value"))).as(s"${pfx}_$nm")
      }
    ranked.groupBy(col("day")).agg(aggs.head, aggs.tail: _*)
  }

  def oracleSql: Map[String, String] = Map(
    // The oracle is the definition the two-pass plan must equal: exact
    // group-count + integer share filter over the same bucket key.
    "ev_heavy_hitters" ->
      s"""WITH b AS MATERIALIZED (SELECT $HhBucketSql AS bucket
         |  FROM events WHERE user_id IS NOT NULL),
         |t AS (SELECT count(*) AS n FROM b)
         |SELECT bucket, count(*) AS cnt FROM b, t
         |GROUP BY bucket, t.n HAVING count(*) * $HhRatio >= t.n""".stripMargin,
    "ev_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hr, event_type,
        | count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "ev_sliding" ->
      """WITH starts AS (
        |  SELECT event_type, value,
        |   unnest([to_timestamp(floor(epoch(ts) / 1800) * 1800),
        |           to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800)]) AS ws,
        |   ts
        |  FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M') AS win_start, event_type,
        | count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM starts
        |WHERE epoch(ts) >= epoch(ws) AND epoch(ts) < epoch(ws) + 3600
        |GROUP BY 1, 2""".stripMargin,
    "ev_asof" ->
      """WITH t AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS p_ts,
        |   CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind,
        |   CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_us
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |w AS (
        |  SELECT event_id, user_id, p_ts, kind,
        |   max(click_us) OVER win AS click_ts,
        |   count(click_us) OVER win AS n_clicks
        |  FROM t
        |  WINDOW win AS (PARTITION BY user_id ORDER BY p_ts, kind
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT event_id, user_id, p_ts, click_ts, n_clicks
        |FROM w WHERE kind = 1""".stripMargin,
    "ev_interval" ->
      s"""SELECT p.event_id AS purchase_id, c.event_id AS click_id,
         | epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
         |FROM events p JOIN events c
         |  ON c.user_id = p.user_id
         | AND epoch_us(c.ts) > epoch_us(p.ts) - ${AttrWindowSec * 1000000L}
         | AND epoch_us(c.ts) <= epoch_us(p.ts)
         |WHERE p.event_type = 'purchase' AND c.event_type = 'click'""".stripMargin,
    "ev_attrib_linear" ->
      s"""WITH j AS (
         |  SELECT p.event_id AS purchase_id, c.event_id AS click_id,
         |   c.user_id, CAST(round(p.value * 100) AS BIGINT) AS cents
         |  FROM events p JOIN events c
         |    ON c.user_id = p.user_id
         |   AND epoch_us(c.ts) > epoch_us(p.ts) - ${AttrWindowSec * 1000000L}
         |   AND epoch_us(c.ts) <= epoch_us(p.ts)
         |  WHERE p.event_type = 'purchase' AND c.event_type = 'click'),
         |w AS (SELECT click_id, user_id,
         |  (cents * 10000) // count(*) OVER (PARTITION BY purchase_id)
         |    AS credit_uc
         |  FROM j)
         |SELECT click_id, user_id, count(*) AS n_purch,
         |  CAST(sum(credit_uc) AS BIGINT) AS credit_ucents
         |FROM w GROUP BY 1, 2""".stripMargin,
    "ev_lag" ->
      """SELECT user_id, event_id,
        | epoch_us(ts) - lag(epoch_us(ts), 1)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us,
        | value - lag(value, 1)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS value_delta,
        | lead(event_type, 1)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
        | first_value(event_type)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_type
        |FROM events""".stripMargin,
    "ev_moving_avg" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // $DayUs AS day,
         |   round(sum(value), 2) AS daily
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, day, daily,
         | round(avg(daily) OVER (PARTITION BY event_type ORDER BY day
         |   RANGE BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS ma3
         |FROM daily""".stripMargin,
    "ev_rfm" -> {
      val P = graft.graph.Hashing.P
      def thrCte(metric: String, alias: String): String =
        s"""rk_$alias AS (SELECT $metric AS v, row_number() OVER (
           |  ORDER BY $metric, user_id) AS rn FROM smp),
           |thr_$alias AS (SELECT
           |  max(CASE WHEN rn = CAST(floor(CAST(k - 1 AS DOUBLE) / 3.0)
           |    AS BIGINT) + 1 THEN v END) AS ${metric}_lo,
           |  max(CASE WHEN rn = CAST(floor((CAST(k - 1 AS DOUBLE) * 2.0)
           |    / 3.0) AS BIGINT) + 1 THEN v END) AS ${metric}_hi
           |  FROM rk_$alias CROSS JOIN kk)""".stripMargin
      s"""WITH p AS MATERIALIZED (SELECT user_id, epoch_us(ts) AS us,
         |  CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |g AS (SELECT max(us) AS gmax FROM p),
         |agg AS (SELECT user_id, max(us) AS u_max, count(*) AS f,
         |  CAST(sum(cents) AS BIGINT) AS m_cents FROM p GROUP BY user_id),
         |rfm AS MATERIALIZED (SELECT user_id,
         |  (g.gmax - u_max) // $DayUs AS r_days, f, m_cents,
         |  ${graft.graph.Hashing.duck.kmvMix(s"(user_id % $P)")} AS hm
         |  FROM agg CROSS JOIN g),
         |smp AS MATERIALIZED (SELECT * FROM (
         |  SELECT *, row_number() OVER (ORDER BY hm, user_id) AS rs
         |  FROM rfm) WHERE rs <= $RfmSampleK),
         |kk AS (SELECT count(*) AS k FROM smp),
         |${thrCte("r_days", "r")},
         |${thrCte("f", "f")},
         |${thrCte("m_cents", "m")},
         |scored AS (SELECT user_id, r_days, f, m_cents,
         |  CASE WHEN r_days <= r_days_lo THEN 3
         |       WHEN r_days > r_days_hi THEN 1 ELSE 2 END AS r_score,
         |  CASE WHEN f <= f_lo THEN 1
         |       WHEN f > f_hi THEN 3 ELSE 2 END AS f_score,
         |  CASE WHEN m_cents <= m_cents_lo THEN 1
         |       WHEN m_cents > m_cents_hi THEN 3 ELSE 2 END AS m_score
         |  FROM rfm CROSS JOIN thr_r CROSS JOIN thr_f CROSS JOIN thr_m)
         |SELECT user_id, r_days, f, m_cents, r_score, f_score, m_score,
         |  r_score * 100 + f_score * 10 + m_score AS segment
         |FROM scored""".stripMargin
    },
    "ev_latest" ->
      """SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
        |FROM (SELECT user_id, event_type, event_id, ts, value,
        |  row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "ev_ewma" ->
      s"""WITH RECURSIVE daily AS MATERIALIZED (
         |  SELECT event_type, epoch_us(ts) // $DayUs AS day,
         |   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
         |     AS daily
         |  FROM events GROUP BY 1, 2),
         |ord AS MATERIALIZED (SELECT event_type, day, daily,
         |  row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
         |  FROM daily),
         |r AS (
         |  SELECT event_type, day, daily, rn, daily AS ewma
         |  FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT o.event_type, o.day, o.daily, o.rn,
         |   CAST($EwmaAlpha AS DOUBLE) * o.daily
         |     + CAST($EwmaOneMinusAlpha AS DOUBLE) * r.ewma
         |  FROM ord o JOIN r ON o.event_type = r.event_type
         |    AND o.rn = r.rn + 1)
         |SELECT event_type, day, daily, round(ewma, 6) AS ewma
         |FROM r""".stripMargin,
    "ev_holt_winters" -> {
      val P = HwPeriod
      // the shared recurrence templates ([[hwLvlE]] etc.) inline the
      // level expression VERBATIM wherever l_t is needed — per-branch
      // prev-state spellings, so the recursive step reads r.* and the
      // base case reads the seed row.
      def lvlE(x: String, sP: String, lp: String, bp: String) =
        hwLvlE(x, sP, lp, bp)
      def trdE(x: String, sP: String, lp: String, bp: String) =
        hwTrdE(x, sP, lp, bp)
      def seasE(x: String, sP: String, lp: String, bp: String) =
        hwSeasE(x, sP, lp, bp)
      val zero = "CAST(0 AS DOUBLE)"
      s"""WITH RECURSIVE daily AS MATERIALIZED (
         |  SELECT event_type, epoch_us(ts) // $DayUs AS day,
         |   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
         |     AS daily
         |  FROM events GROUP BY 1, 2),
         |ord AS MATERIALIZED (SELECT event_type, day, daily,
         |  row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
         |  FROM daily),
         |seed AS MATERIALIZED (
         |  SELECT event_type,
         |   list_reduce(list_prepend($zero, list(daily ORDER BY rn)),
         |     (a, x) -> a + x) / $P AS l0,
         |   list(daily ORDER BY rn) AS xs
         |  FROM ord WHERE rn <= $P GROUP BY event_type
         |  HAVING count(*) = $P),
         |seed2 AS MATERIALIZED (SELECT event_type, l0,
         |  list_transform(xs, x -> x - l0) AS seas FROM seed),
         |r AS (
         |  SELECT o.event_type, o.day, o.daily, o.rn,
         |   ${lvlE("o.daily", "s.seas[1]", "s.l0", zero)} AS lvl,
         |   ${trdE("o.daily", "s.seas[1]", "s.l0", zero)} AS trd,
         |   ${seasE("o.daily", "s.seas[1]", "s.l0", zero)
              .replace("%SEAS%", "s.seas")} AS seas
         |  FROM ord o JOIN seed2 s USING (event_type)
         |  WHERE o.rn = ${P + 1}
         |  UNION ALL
         |  SELECT o.event_type, o.day, o.daily, o.rn,
         |   ${lvlE("o.daily", "r.seas[1]", "r.lvl", "r.trd")},
         |   ${trdE("o.daily", "r.seas[1]", "r.lvl", "r.trd")},
         |   ${seasE("o.daily", "r.seas[1]", "r.lvl", "r.trd")
              .replace("%SEAS%", "r.seas")}
         |  FROM ord o JOIN r ON o.event_type = r.event_type
         |    AND o.rn = r.rn + 1)
         |SELECT event_type, day, daily, round(lvl, 6) AS level,
         | round(trd, 6) AS trend, round(seas[$P], 6) AS seasonal,
         | round(lvl + trd + seas[1], 6) AS forecast
         |FROM r""".stripMargin
    },
    "ev_hw_forecast" -> {
      val P = HwPeriod
      val zero = "CAST(0 AS DOUBLE)"
      // the forecast expressions, spelled ONCE and reused by the fc and
      // ae columns (ae is computed on the unrounded forecast, exactly
      // like the Spark kernel); DuckDB lists are 1-based, so seas[h] is
      // the Scala ring's seas(h−1)
      val hwFcE = "(f.lvl + CAST(hd.h AS DOUBLE) * f.trd + f.seas[hd.h])"
      val hoFcE = "(hf.lvl + CAST(hd.h AS DOUBLE) * hf.trd)"
      s"""WITH RECURSIVE daily AS MATERIALIZED (
         |  SELECT event_type, epoch_us(ts) // $DayUs AS day,
         |   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
         |     AS daily
         |  FROM events GROUP BY 1, 2),
         |cnt AS MATERIALIZED (SELECT event_type, count(*) AS n FROM daily
         |  GROUP BY 1 HAVING count(*) >= ${2 * P + 1}),
         |ord AS MATERIALIZED (SELECT d.event_type, d.day, d.daily, c.n,
         |  row_number() OVER (PARTITION BY d.event_type ORDER BY d.day)
         |    AS rn
         |  FROM daily d JOIN cnt c USING (event_type)),
         |trn AS MATERIALIZED (SELECT * FROM ord WHERE rn <= n - $P),
         |seed AS MATERIALIZED (
         |  SELECT event_type,
         |   list_reduce(list_prepend($zero, list(daily ORDER BY rn)),
         |     (a, x) -> a + x) / $P AS l0,
         |   list(daily ORDER BY rn) AS xs
         |  FROM trn WHERE rn <= $P GROUP BY event_type),
         |seed2 AS MATERIALIZED (SELECT event_type, l0,
         |  list_transform(xs, x -> x - l0) AS seas FROM seed),
         |r AS (
         |  SELECT o.event_type, o.rn,
         |   ${hwLvlE("o.daily", "s.seas[1]", "s.l0", zero)} AS lvl,
         |   ${hwTrdE("o.daily", "s.seas[1]", "s.l0", zero)} AS trd,
         |   ${hwSeasE("o.daily", "s.seas[1]", "s.l0", zero)
              .replace("%SEAS%", "s.seas")} AS seas
         |  FROM trn o JOIN seed2 s USING (event_type)
         |  WHERE o.rn = ${P + 1}
         |  UNION ALL
         |  SELECT o.event_type, o.rn,
         |   ${hwLvlE("o.daily", "r.seas[1]", "r.lvl", "r.trd")},
         |   ${hwTrdE("o.daily", "r.seas[1]", "r.lvl", "r.trd")},
         |   ${hwSeasE("o.daily", "r.seas[1]", "r.lvl", "r.trd")
              .replace("%SEAS%", "r.seas")}
         |  FROM trn o JOIN r ON o.event_type = r.event_type
         |    AND o.rn = r.rn + 1),
         |fin AS MATERIALIZED (SELECT r.event_type, r.lvl, r.trd, r.seas
         |  FROM r JOIN cnt c USING (event_type) WHERE r.rn = c.n - $P),
         |hr AS (
         |  SELECT event_type, rn, daily AS lvl, $zero AS trd
         |  FROM trn WHERE rn = 1
         |  UNION ALL
         |  SELECT o.event_type, o.rn,
         |   CAST($HoltAlpha AS DOUBLE) * o.daily
         |     + CAST($HoltOneMinusAlpha AS DOUBLE) * (hr.lvl + hr.trd),
         |   CAST($HoltBeta AS DOUBLE)
         |     * ((CAST($HoltAlpha AS DOUBLE) * o.daily
         |       + CAST($HoltOneMinusAlpha AS DOUBLE) * (hr.lvl + hr.trd))
         |       - hr.lvl)
         |     + CAST($HoltOneMinusBeta AS DOUBLE) * hr.trd
         |  FROM trn o JOIN hr ON o.event_type = hr.event_type
         |    AND o.rn = hr.rn + 1),
         |hfin AS MATERIALIZED (SELECT hr.event_type, hr.lvl, hr.trd
         |  FROM hr JOIN cnt c USING (event_type) WHERE hr.rn = c.n - $P),
         |nv AS (SELECT event_type, daily AS naive FROM trn
         |  WHERE rn = n - $P),
         |hd AS (SELECT event_type, day, daily, rn - (n - $P) AS h
         |  FROM ord WHERE rn > n - $P)
         |SELECT hd.event_type, hd.day, CAST(hd.h AS INT) AS h, hd.daily,
         | round(nv.naive, 6) AS fc_naive,
         | round($hoFcE, 6) AS fc_holt,
         | round($hwFcE, 6) AS fc_hw,
         | round(abs(hd.daily - nv.naive), 6) AS ae_naive,
         | round(abs(hd.daily - $hoFcE), 6) AS ae_holt,
         | round(abs(hd.daily - $hwFcE), 6) AS ae_hw
         |FROM hd JOIN fin f USING (event_type)
         |JOIN hfin hf USING (event_type)
         |JOIN nv USING (event_type)""".stripMargin
    },
    "ev_cusum" ->
      s"""WITH RECURSIVE daily AS MATERIALIZED (
         |  SELECT event_type, epoch_us(ts) // $DayUs AS day,
         |   sum(CAST(round(value * 100) AS BIGINT)) AS cents
         |  FROM events GROUP BY 1, 2),
         |st AS MATERIALIZED (
         |  SELECT event_type, count(*) AS n, sum(cents) AS s1,
         |   sum(cents * cents) AS s2
         |  FROM daily GROUP BY 1 HAVING count(*) >= 2),
         |ord AS MATERIALIZED (
         |  SELECT d.event_type, d.day, d.cents,
         |   CAST(s.s1 AS DOUBLE) / s.n / 100 AS mu,
         |   sqrt(CAST(s.n * s.s2 - s.s1 * s.s1 AS DOUBLE)
         |     / CAST(s.n * (s.n - 1) AS DOUBLE)) / 100 AS sd,
         |   row_number() OVER (PARTITION BY d.event_type ORDER BY d.day)
         |     AS rn
         |  FROM daily d JOIN st s USING (event_type)),
         |r AS (
         |  SELECT event_type, day, cents, mu, sd, rn,
         |   greatest(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
         |     + (CAST(cents AS DOUBLE) / 100 - mu
         |       - CAST($CusumKSigma AS DOUBLE) * sd)) AS sp,
         |   greatest(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
         |     + (mu - CAST(cents AS DOUBLE) / 100
         |       - CAST($CusumKSigma AS DOUBLE) * sd)) AS sn
         |  FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT o.event_type, o.day, o.cents, o.mu, o.sd, o.rn,
         |   greatest(CAST(0 AS DOUBLE), r.sp
         |     + (CAST(o.cents AS DOUBLE) / 100 - o.mu
         |       - CAST($CusumKSigma AS DOUBLE) * o.sd)),
         |   greatest(CAST(0 AS DOUBLE), r.sn
         |     + (o.mu - CAST(o.cents AS DOUBLE) / 100
         |       - CAST($CusumKSigma AS DOUBLE) * o.sd))
         |  FROM ord o JOIN r ON o.event_type = r.event_type
         |    AND o.rn = r.rn + 1)
         |SELECT event_type, day, CAST(cents AS DOUBLE) / 100 AS daily,
         | round(sp, 6) AS cusum_pos, round(sn, 6) AS cusum_neg,
         | CASE WHEN sp > CAST($CusumHSigma AS DOUBLE) * sd
         |   OR sn > CAST($CusumHSigma AS DOUBLE) * sd
         |   THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS alarm
         |FROM r""".stripMargin,
    "ev_holt" ->
      s"""WITH RECURSIVE daily AS MATERIALIZED (
         |  SELECT event_type, epoch_us(ts) // $DayUs AS day,
         |   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
         |     AS daily
         |  FROM events GROUP BY 1, 2),
         |ord AS MATERIALIZED (SELECT event_type, day, daily,
         |  row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
         |  FROM daily),
         |r AS (
         |  SELECT event_type, day, daily, rn, daily AS lvl,
         |   CAST(0 AS DOUBLE) AS trd
         |  FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT o.event_type, o.day, o.daily, o.rn,
         |   CAST($HoltAlpha AS DOUBLE) * o.daily
         |     + CAST($HoltOneMinusAlpha AS DOUBLE) * (r.lvl + r.trd),
         |   CAST($HoltBeta AS DOUBLE)
         |     * ((CAST($HoltAlpha AS DOUBLE) * o.daily
         |       + CAST($HoltOneMinusAlpha AS DOUBLE) * (r.lvl + r.trd))
         |       - r.lvl)
         |     + CAST($HoltOneMinusBeta AS DOUBLE) * r.trd
         |  FROM ord o JOIN r ON o.event_type = r.event_type
         |    AND o.rn = r.rn + 1)
         |SELECT event_type, day, daily, round(lvl, 6) AS level,
         | round(trd, 6) AS trend, round(lvl + trd, 6) AS forecast
         |FROM r""".stripMargin,
    "ev_markov" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |   lead(event_type, 1) OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |big AS (SELECT from_type, to_type, count(*) AS n FROM seq
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        | round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM big""".stripMargin,
    "ev_anomaly" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // $DayUs AS day,
         |   round(sum(value), 2) AS daily
         |  FROM events GROUP BY 1, 2),
         |stats AS (
         |  SELECT event_type, avg(daily) AS mu, stddev_samp(daily) AS sd
         |  FROM daily GROUP BY 1)
         |SELECT d.event_type, d.day, d.daily,
         | round((d.daily - s.mu) / s.sd, 4) AS z
         |FROM daily d JOIN stats s ON s.event_type = d.event_type
         |WHERE abs((d.daily - s.mu) / s.sd) > 2.0""".stripMargin,
    "ev_gapfill" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // $DayUs AS day,
         |   round(sum(value), 2) AS daily
         |  FROM events GROUP BY 1, 2),
         |span AS (
         |  SELECT event_type, unnest(generate_series(d0, d1)) AS day
         |  FROM (SELECT event_type, min(day) AS d0, max(day) AS d1
         |    FROM daily GROUP BY 1))
         |SELECT s.event_type, s.day, coalesce(d.daily, 0.0) AS daily,
         | CASE WHEN d.daily IS NULL THEN CAST(1 AS BIGINT)
         |   ELSE CAST(0 AS BIGINT) END AS filled
         |FROM span s LEFT JOIN daily d
         |  ON d.event_type = s.event_type AND d.day = s.day""".stripMargin,
    "ev_json" ->
      """SELECT event_type, count(*) AS n,
        | round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 6) AS avg_k,
        | min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        | max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "ev_funnel" ->
      """WITH t AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us,
        |   CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1 ELSE 2 END AS kind
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |w1 AS (
        |  SELECT event_id, user_id, us, kind,
        |   max(CASE WHEN kind = 0 THEN us END) OVER win AS last_view
        |  FROM t
        |  WINDOW win AS (PARTITION BY user_id ORDER BY us, kind
        |    ROWS UNBOUNDED PRECEDING)),
        |w2 AS (
        |  SELECT event_id, user_id, us, kind, last_view,
        |   max(CASE WHEN kind = 1 AND last_view IS NOT NULL THEN us END)
        |     OVER win AS qclick
        |  FROM w1
        |  WINDOW win AS (PARTITION BY user_id ORDER BY us, kind
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT event_id, user_id, us AS p_us, qclick AS click_us,
        | last_view AS view_us
        |FROM w2 WHERE kind = 2 AND qclick IS NOT NULL""".stripMargin,
    "ev_retention" ->
      s"""WITH uw AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // $WeekUs AS week FROM events),
         |c AS (SELECT user_id, min(week) AS cohort FROM uw GROUP BY user_id)
         |SELECT cohort, week - cohort AS "offset",
         | count(DISTINCT uw.user_id) AS n_users
         |FROM uw JOIN c ON uw.user_id = c.user_id
         |GROUP BY 1, 2""".stripMargin,
    "ev_trigrams" ->
      s"""WITH seq AS (
         |  SELECT event_type AS t1,
         |   lead(event_type, 1) OVER w AS t2,
         |   lead(event_type, 2) OVER w AS t3
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT t1, t2, t3, count(*) AS n FROM seq
         |WHERE t3 IS NOT NULL GROUP BY 1, 2, 3
         |ORDER BY n DESC, t1, t2, t3 LIMIT $TrigramTopN""".stripMargin,
    "ev_markov_entropy" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |   lead(event_type, 1) OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |big AS MATERIALIZED (SELECT from_type, to_type, count(*) AS c
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |st AS (SELECT from_type, CAST(sum(c) AS BIGINT) AS n_trans,
        |  count(*) AS n_next,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(list(c ORDER BY to_type),
        |      x -> x * ln(CAST(x AS DOUBLE)))), (a, x) -> a + x) AS s
        |  FROM big GROUP BY 1)
        |SELECT from_type, n_trans, n_next,
        | round((ln(CAST(n_trans AS DOUBLE)) - s / n_trans)
        |   / ln(CAST(2 AS DOUBLE)), 6) AS h_bits
        |FROM st""".stripMargin,
    "ev_stickiness" ->
      s"""WITH ud AS MATERIALIZED (SELECT DISTINCT user_id,
         |  epoch_us(ts) // $DayUs AS day FROM events),
         |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
         |cover AS (SELECT DISTINCT user_id, day + u.k AS wday
         |  FROM ud, UNNEST(range(0, 7)) AS u(k)),
         |wau AS (SELECT wday AS day, count(*) AS wau FROM cover
         |  GROUP BY 1)
         |SELECT d.day, d.dau, w.wau,
         | round(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
         |FROM dau d JOIN wau w USING (day)""".stripMargin,
    "ev_churn" ->
      s"""WITH uw AS MATERIALIZED (SELECT DISTINCT user_id,
         |  epoch_us(ts) // $WeekUs AS week FROM events),
         |f AS MATERIALIZED (SELECT user_id, min(week) AS fw FROM uw
         |  GROUP BY 1),
         |act AS (SELECT week, count(*) AS n_active FROM uw GROUP BY 1),
         |nw AS (SELECT fw AS week, count(*) AS n_new FROM f GROUP BY 1),
         |rt AS (SELECT u.week, count(*) AS n_retained FROM uw u
         |  WHERE EXISTS (SELECT 1 FROM uw p WHERE p.user_id = u.user_id
         |    AND p.week = u.week - 1) GROUP BY 1),
         |rs AS (SELECT u.week, count(*) AS n_resurrected FROM uw u
         |  JOIN f ON f.user_id = u.user_id
         |  WHERE u.week > f.fw AND NOT EXISTS (SELECT 1 FROM uw p
         |    WHERE p.user_id = u.user_id AND p.week = u.week - 1)
         |  GROUP BY 1),
         |ch AS (SELECT u.week + 1 AS week, count(*) AS n_churned FROM uw u
         |  WHERE NOT EXISTS (SELECT 1 FROM uw n WHERE n.user_id = u.user_id
         |    AND n.week = u.week + 1) GROUP BY 1)
         |SELECT a.week, a.n_active,
         | CAST(coalesce(nw.n_new, 0) AS BIGINT) AS n_new,
         | CAST(coalesce(rt.n_retained, 0) AS BIGINT) AS n_retained,
         | CAST(coalesce(rs.n_resurrected, 0) AS BIGINT) AS n_resurrected,
         | CAST(coalesce(ch.n_churned, 0) AS BIGINT) AS n_churned
         |FROM act a LEFT JOIN nw ON nw.week = a.week
         |LEFT JOIN rt ON rt.week = a.week
         |LEFT JOIN rs ON rs.week = a.week
         |LEFT JOIN ch ON ch.week = a.week""".stripMargin,
    "ev_seasonality" ->
      s"""WITH cell AS MATERIALIZED (SELECT
         |  (epoch_us(ts) // $DayUs) % 7 AS dow,
         |  (epoch_us(ts) % $DayUs) // $HourUs AS hour,
         |  count(*) AS n_events, count(DISTINCT user_id) AS n_users
         | FROM events GROUP BY 1, 2),
         |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM cell)
         |SELECT dow, hour, n_events, n_users,
         | round(CAST(n_events AS DOUBLE) / total, 6) AS share
         |FROM cell, t""".stripMargin,
    "ev_bitmap_retention" ->
      s"""WITH ud AS MATERIALIZED (SELECT DISTINCT user_id,
         |  epoch_us(ts) // $DayUs AS day FROM events),
         |f AS MATERIALIZED (SELECT user_id, min(day) AS f FROM ud
         |  GROUP BY 1),
         |m AS MATERIALIZED (SELECT ud.user_id,
         |  CAST(bit_or(CAST(1 AS BIGINT) << CAST(ud.day - f.f AS INT))
         |    AS BIGINT) AS mask
         |  FROM ud JOIN f ON f.user_id = ud.user_id
         |  WHERE ud.day - f.f < $RetentionBitDays GROUP BY 1),
         |ks AS (SELECT unnest(range(0, $RetentionBitDays)) AS k),
         |cur AS (SELECT k, count(*) AS n_active FROM ks
         |  JOIN m ON ((m.mask >> CAST(k AS INT)) & 1) = 1 GROUP BY k),
         |c AS (SELECT count(*) AS n_cohort FROM m)
         |SELECT k, n_active, n_cohort,
         | round(CAST(n_active AS DOUBLE) / n_cohort, 6) AS retention
         |FROM cur, c""".stripMargin,
    "ev_ab_welch" ->
      s"""WITH daily AS MATERIALIZED (SELECT event_type,
         |  epoch_us(ts) // $DayUs AS day,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         | FROM events GROUP BY 1, 2),
         |mom AS MATERIALIZED (SELECT event_type, count(*) AS n,
         |  CAST(sum(cents) AS BIGINT) AS sx,
         |  CAST(sum(cents * cents) AS BIGINT) AS sxx
         | FROM daily GROUP BY 1 HAVING count(*) >= 2),
         |p1 AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |  a.n AS n_a, b.n AS n_b,
         |  CAST(a.sx AS DOUBLE) / a.n AS m_a,
         |  CAST(b.sx AS DOUBLE) / b.n AS m_b,
         |  (a.sxx - CAST(a.sx AS DOUBLE) * a.sx / a.n) / (a.n - 1) AS v_a,
         |  (b.sxx - CAST(b.sx AS DOUBLE) * b.sx / b.n) / (b.n - 1) AS v_b
         | FROM mom a JOIN mom b ON a.event_type < b.event_type),
         |p2 AS (SELECT type_a, type_b, n_a, n_b, m_a, m_b,
         |  v_a / n_a AS se_a, v_b / n_b AS se_b FROM p1),
         |p3 AS (SELECT type_a, type_b, n_a, n_b, m_a, m_b, se_a, se_b,
         |  se_a + se_b AS se2 FROM p2)
         |SELECT type_a, type_b, n_a, n_b,
         | round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
         | round((m_a - m_b) / sqrt(se2), 6) AS t_stat,
         | round(se2 * se2 / (se_a * se_a / (n_a - 1)
         |   + se_b * se_b / (n_b - 1)), 6) AS dof
         |FROM p3""".stripMargin,
    "ev_sessions" ->
      s"""WITH flagged AS (
         |  SELECT user_id, ts, value,
         |   CASE WHEN lag(ts) OVER w IS NULL
         |     OR epoch(ts) - epoch(lag(ts) OVER w) > $GapSeconds THEN 1 ELSE 0 END AS new_sess
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |sess AS (
         |  SELECT user_id, ts, value,
         |   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
         |     ROWS UNBOUNDED PRECEDING) AS session_id
         |  FROM flagged)
         |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
         | round(sum(value), 2) AS sum_value,
         | round(max(epoch(ts)) - min(epoch(ts)), 6) AS duration_sec
         |FROM sess GROUP BY user_id, session_id""".stripMargin,
    "ev_kmv_overlap" -> {
      val P = graft.graph.Hashing.P
      s"""WITH h AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |  user_id, user_id % $P AS h FROM events),
         |du AS MATERIALIZED (SELECT DISTINCT day, user_id,
         |  ${graft.graph.Hashing.duck.kmvMix("h")} AS hm FROM h),
         |sk AS MATERIALIZED (SELECT day, hm FROM (
         |  SELECT day, hm, row_number() OVER (
         |    PARTITION BY day ORDER BY hm) AS rn
         |  FROM (SELECT DISTINCT day, hm FROM du)) WHERE rn <= $EvOvK),
         |days AS (SELECT DISTINCT day FROM sk),
         |pairs AS (SELECT d.day,
         |  strftime(CAST(d.day AS DATE) + 1, '%Y-%m-%d') AS day2 FROM days d
         |  WHERE EXISTS (SELECT 1 FROM days e
         |    WHERE e.day = strftime(CAST(d.day AS DATE) + 1, '%Y-%m-%d'))),
         |sides AS (
         |  SELECT p.day, p.day2, s.hm, 1 AS in_a, 0 AS in_b
         |  FROM pairs p JOIN sk s ON s.day = p.day
         |  UNION ALL
         |  SELECT p.day, p.day2, s.hm, 0 AS in_a, 1 AS in_b
         |  FROM pairs p JOIN sk s ON s.day = p.day2),
         |merged AS (SELECT day, day2, hm, max(in_a) AS in_a,
         |  max(in_b) AS in_b FROM sides GROUP BY 1, 2, 3),
         |unionk AS (SELECT * FROM (SELECT day, day2, in_a, in_b,
         |  row_number() OVER (PARTITION BY day, day2 ORDER BY hm) AS rn
         |  FROM merged) WHERE rn <= $EvOvK),
         |est AS (SELECT day, day2, count(*) AS k_union,
         |  sum(in_a * in_b) AS overlap FROM unionk GROUP BY 1, 2),
         |x AS (SELECT DISTINCT day, user_id FROM du),
         |y AS (SELECT DISTINCT strftime(CAST(day AS DATE) - 1, '%Y-%m-%d')
         |  AS day, user_id FROM du),
         |ex AS (SELECT coalesce(x.day, y.day) AS day, count(*) AS n_union,
         |  sum(CASE WHEN x.user_id IS NOT NULL AND y.user_id IS NOT NULL
         |    THEN 1 ELSE 0 END) AS n_inter
         |  FROM x FULL JOIN y ON y.day = x.day AND y.user_id = x.user_id
         |  GROUP BY 1)
         |SELECT e.day, e.day2, CAST(e.k_union AS BIGINT) AS k_union,
         |  CAST(e.overlap AS BIGINT) AS overlap,
         |  CAST(e.overlap AS DOUBLE) / CAST(e.k_union AS DOUBLE) AS jac_est,
         |  CAST(ex.n_inter AS BIGINT) AS n_inter,
         |  CAST(ex.n_union AS BIGINT) AS n_union,
         |  CAST(ex.n_inter AS DOUBLE) / CAST(ex.n_union AS DOUBLE)
         |    AS jac_exact
         |FROM est e JOIN ex ON ex.day = e.day""".stripMargin
    },
    "ev_daily_kmv" -> {
      val P = graft.graph.Hashing.P
      s"""WITH h AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |  user_id, user_id % $P AS h FROM events),
         |d AS MATERIALIZED (SELECT DISTINCT day, user_id, h FROM h),
         |dm AS (SELECT DISTINCT day, ${graft.graph.Hashing.duck.kmvMix("h")} AS hm
         |  FROM d),
         |kth AS (SELECT day, hm AS kth_h FROM (
         |  SELECT day, hm, row_number() OVER (
         |    PARTITION BY day ORDER BY hm ASC) AS rn FROM dm)
         |  WHERE rn = $EvKmvK),
         |ex AS (SELECT day, count(DISTINCT user_id) AS n_exact FROM d GROUP BY day)
         |SELECT ex.day, CAST(ex.n_exact AS BIGINT) AS n_exact, k.kth_h,
         |  ${graft.text.TextOps.kmvEstSql("k.kth_h", EvKmvK)}
         |FROM ex JOIN kth k ON k.day = ex.day""".stripMargin
    },
    "ev_cms_freq" -> {
      val P = graft.graph.Hashing.P
      def bucket(j: Int): String =
        s"${graft.graph.Hashing.duck.kmvMix(
          s"((user_id + ${j * CmsSalt}) % $P)")} % $CmsW"
      val rows = (0 until CmsD)
        .map(j => s"SELECT day, $j AS j, ${bucket(j)} AS b FROM ev")
        .mkString("\nUNION ALL\n")
      val keys = (0 until CmsD)
        .map(j => s"SELECT day, user_id, $j AS j, ${bucket(j)} AS b FROM ex")
        .mkString("\nUNION ALL\n")
      s"""WITH ev AS MATERIALIZED (SELECT
         |  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, user_id
         |  FROM events),
         |cms AS MATERIALIZED (SELECT day, j, b, count(*) AS c FROM (
         |$rows
         |) GROUP BY day, j, b),
         |ex AS MATERIALIZED (SELECT day, user_id, count(*) AS n_exact
         |  FROM ev GROUP BY day, user_id),
         |ks AS (
         |$keys
         |),
         |est AS (SELECT ks.day, ks.user_id, min(c.c) AS est
         |  FROM ks JOIN cms c ON c.day = ks.day AND c.j = ks.j AND c.b = ks.b
         |  GROUP BY ks.day, ks.user_id)
         |SELECT e.day, e.user_id, CAST(e.n_exact AS BIGINT) AS n_exact,
         |  CAST(s.est AS BIGINT) AS est
         |FROM ex e JOIN est s ON s.day = e.day AND s.user_id = e.user_id""".stripMargin
    },
    "ev_daily_hll" -> {
      val P = graft.graph.Hashing.P
      val pw = 1L << (HllW + 1)
      s"""WITH h AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |  user_id, user_id % $P AS h FROM events),
         |hm AS MATERIALIZED (SELECT day, user_id,
         |  ${graft.graph.Hashing.duck.kmvMix("h")} AS hm FROM h),
         |reg AS (SELECT day, hm % $HllM AS b,
         |  CASE WHEN hm // $HllM = 0 THEN ${HllW + 1}
         |       ELSE ${HllW + 1} - length(bin(hm // $HllM)) END AS rho FROM hm),
         |mj AS (SELECT day, b, max(rho) AS mj FROM reg GROUP BY 1, 2),
         |agg AS (SELECT day, CAST($HllM - count(*) AS BIGINT) AS v_zero,
         |  CAST(sum(CAST(1 AS BIGINT) << (${HllW + 1} - mj)) AS BIGINT)
         |    + ($HllM - count(*)) * CAST($pw AS BIGINT) AS s_scaled
         |  FROM mj GROUP BY 1),
         |ex AS (SELECT day, count(DISTINCT user_id) AS n_exact FROM hm GROUP BY 1)
         |SELECT ex.day, CAST(ex.n_exact AS BIGINT) AS n_exact, a.v_zero,
         |  $hllEstSql
         |FROM ex JOIN agg a ON a.day = ex.day""".stripMargin
    },
    "ev_value_quantiles" -> {
      val P = graft.graph.Hashing.P
      // same rank rule as the Spark quantileSelect: all-DOUBLE floor math
      // (a bare 0.5 literal would run DECIMAL arithmetic in DuckDB and
      // could floor differently from Spark's double product).
      def sel(pfx: String) = QuantileQs.map { case (nm, q) =>
        s"max(CASE WHEN rn = CAST(floor(CAST($q AS DOUBLE) * " +
          s"CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 " +
          s"THEN value END) AS ${pfx}_$nm"
      }.mkString(",\n  ")
      s"""WITH e AS MATERIALIZED (SELECT
         |  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |  event_id, value, ${graft.graph.Hashing.duck.kmvMix(
              s"(event_id % $P)")} AS hm FROM events),
         |exr AS (SELECT day, value,
         |  row_number() OVER (PARTITION BY day ORDER BY value, event_id) AS rn,
         |  count(*) OVER (PARTITION BY day) AS n FROM e),
         |exq AS (SELECT day, max(n) AS ex_n,
         |  ${sel("ex")}
         |  FROM exr GROUP BY day),
         |smp AS (SELECT day, event_id, value FROM (
         |  SELECT day, event_id, value, row_number() OVER (
         |    PARTITION BY day ORDER BY hm, event_id, value) AS rs FROM e
         |  WHERE value IS NOT NULL)
         |  WHERE rs <= $EvQK),
         |sxr AS (SELECT day, value,
         |  row_number() OVER (PARTITION BY day ORDER BY value, event_id) AS rn,
         |  count(*) OVER (PARTITION BY day) AS n FROM smp),
         |sq AS (SELECT day,
         |  ${sel("sp")}
         |  FROM sxr GROUP BY day)
         |SELECT x.day, CAST(x.ex_n AS BIGINT) AS n,
         |  x.ex_p50, x.ex_p90, x.ex_p99, s.sp_p50, s.sp_p90, s.sp_p99
         |FROM exq x JOIN sq s ON s.day = x.day""".stripMargin
    }
  )
}
