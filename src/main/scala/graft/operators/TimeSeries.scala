package graft.operators

import graft.Ckpt.CkptOps
import graft.T
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization — the resample / gap-fill / forward-fill
  * family every metrics store and feature pipeline needs before
  * windowed math is meaningful: irregular event streams have NO row
  * for silent periods, so a naive moving average over observed rows
  * silently skips gaps ("last 7 rows" ≠ "last 7 days").
  *
  * Shape at 100 TB:
  *   - The dense grid is generated per entity from that entity's own
  *     [min, max] span — `explode(sequence(lo, hi, step))` off a ONE
  *     row-per-entity aggregate. Grid size is span/step × entities,
  *     bounded by calendar time, NOT by event volume — resampling a
  *     100 TB year of events to daily grain emits 365 rows per entity.
  *   - The observed side pre-aggregates to the same grain FIRST (one
  *     two-phase hash aggregate), so the gap-fill join matches two
  *     grain-sized frames on (entity, bucket) — an ordinary equi-join,
  *     broadcast-able when the grid is small, never event-volume ×
  *     grid.
  *   - Forward-fill is `last(value, ignoreNulls) OVER (PARTITION BY
  *     entity ORDER BY bucket)` — one shuffle on the entity, the same
  *     partitioning the join just produced (no extra exchange under
  *     AQE's exchange reuse), and carries observations across gap rows
  *     without a self-join.
  *
  * Epoch-second integer bucket math on both engines (the
  * [[RangeBin]] convention): day bucket = floor-epoch of
  * `date_trunc('day')`, grid step 86400 — UTC session, no DST steps.
  */
object TimeSeries {

  /** Dense per-entity grid at `stepSec` grain over each entity's own
    * observed [min, max] span of `bucketCol` (epoch seconds).
    */
  def denseGrid(perBucket: DataFrame, entityCol: String,
      bucketCol: String, stepSec: Long): DataFrame =
    perBucket.groupBy(entityCol)
      .agg(min(bucketCol).as("__lo"), max(bucketCol).as("__hi"))
      .select(col(entityCol),
        explode(sequence(col("__lo"), col("__hi"), lit(stepSec)))
          .as(bucketCol))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Daily resample per user over `events`: count + exact-decimal
    // value sum per observed day, zero-filled counts on gap days, and
    // a forward-filled "last observed daily sum" (the carried metric a
    // dashboard draws through silent days). day_v stays NULL on gap
    // days — the filled column is `carried`, so the output separates
    // "no data" from "filled".
    "ts_resample" -> ((s, d) => {
      val e = T.events(s, d).select(col("user_id"),
        unix_timestamp(date_trunc("day", col("ts"))).as("day_s"),
        col("value"))
      val daily = e.groupBy("user_id", "day_s")
        .agg(count(lit(1)).as("n_events"),
          // long cents in the buffer (r18 — AggOps.agg_group's
          // rationale; a per-(user, day) cents sum is bounded far
          // under 2^63 at any corpus size)
          T.moneyLong(sum(T.scaledLong(col("value"), 4, "value")), 4)
            .as("day_v"))
      val w = Window.partitionBy("user_id").orderBy("day_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      denseGrid(daily, "user_id", "day_s", 86400L)
        .join(daily, Seq("user_id", "day_s"), "left")
        .select(col("user_id"), col("day_s"),
          date_format(timestamp_seconds(col("day_s")), "yyyy-MM-dd")
            .as("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          col("day_v"),
          last(col("day_v"), ignoreNulls = true).over(w).as("carried"))
        .orderBy("user_id", "day_s")
    }),

    // Linear interpolation through gaps (r8): ts_resample's carried
    // value draws a STEP through silent days; sensors, prices, and
    // rate metrics want the straight line between the flanking
    // observations instead. Same grid + join; then one backward
    // (last-observed value AND its day) and one forward (next-observed)
    // ignore-nulls window — both on the user_id partitioning the join
    // just produced, so still one event-sized shuffle end-to-end.
    // Every gap row sits strictly BETWEEN observations (the grid spans
    // each user's own [min, max]), so both flanks always exist and
    // ns > ps — no divide-by-zero edge. interp_v is emitted UNROUNDED:
    // both engines evaluate the identical IEEE expression tree on
    // identical inputs, so the doubles are bit-equal; rounding could
    // only introduce tie-breaking divergence, not remove it.
    "ts_interp" -> ((s, d) => {
      val e = T.events(s, d).select(col("user_id"),
        unix_timestamp(date_trunc("day", col("ts"))).as("day_s"),
        col("value"))
      val daily = e.groupBy("user_id", "day_s")
        .agg(T.moneyLong(sum(T.scaledLong(col("value"), 4, "value")), 4)
          .as("day_v")) // scaled longs (r18 — ts_resample's note)
      val back = Window.partitionBy("user_id").orderBy("day_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = Window.partitionBy("user_id").orderBy("day_s")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obsDay = when(col("day_v").isNotNull, col("day_s"))
      denseGrid(daily, "user_id", "day_s", 86400L)
        .join(daily, Seq("user_id", "day_s"), "left")
        // All four flank columns in ONE select (r18): the previous
        // withColumn chain made each window expression depend on the
        // prior projection, which defeated CollapseWindow — the plan
        // carried THREE stacked Window operators with the obsDay
        // argument projected twice. The four expressions are mutually
        // independent and share one (user_id | day_s) spec, so a
        // single select fuses them into one Window pass (frames are
        // per-expression); same expressions, same values.
        .select(col("user_id"), col("day_s"), col("day_v"),
          last(col("day_v"), ignoreNulls = true).over(back).as("pv"),
          last(obsDay, ignoreNulls = true).over(back).as("ps"),
          first(col("day_v"), ignoreNulls = true).over(fwd).as("nv"),
          first(obsDay, ignoreNulls = true).over(fwd).as("ns"))
        .select(col("user_id"), col("day_s"),
          date_format(timestamp_seconds(col("day_s")), "yyyy-MM-dd")
            .as("day"),
          col("day_v"),
          when(col("day_v").isNotNull, col("day_v"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              ((col("day_s") - col("ps")).cast("double") /
                (col("ns") - col("ps")).cast("double")))
            .as("interp_v"))
        .orderBy("user_id", "day_s")
    }),

    // EWMA smoothing (r9): the exponentially-weighted moving average
    // every monitoring/feature pipeline runs over raw event values.
    // The textbook recursion s_n = α·x_n + (1-α)·s_{n-1} is
    // order-DEPENDENT floating point — ULP drift compounds down the
    // series and diverges between engines (the pagerank lesson). Two
    // choices make it exact and oracle-able:
    //   (a) α = 1/2, so every weight is a short dyadic (2^-j) that is
    //       EXACT in decimal;
    //   (b) an 8-term cap: past 8 lags a weight is < 1/128 of the
    //       newest — below money-scale resolution — so the capped
    //       closed form Σ_j coef(j)·x_{n-j} replaces the unbounded
    //       recursion. coef(j) = 2^-(j+1) for interior terms and
    //       2^-(m-1) for the OLDEST surviving term (m = min(n, 8)),
    //       which makes each row's weights sum to exactly 1 — no
    //       renormalizing division, the one non-exact step.
    // Execution shape: one window (8 lags + row_number share the same
    // WindowExec frame over (user_id | ts, event_id)) = ONE shuffle on
    // user_id; all the coefficient math is codegen'd decimal
    // arithmetic. At 100 TB this is the same cost as any per-entity
    // ordered window — and the 8-lag closed form is embarrassingly
    // frame-local where the recursion would be a sequential scan.
    "ts_ewma" -> ((s, d) =>
      ewmaCapped(
        T.events(s, d).select(col("user_id"), col("event_id"),
          col("ts"), col("value")),
        Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .select(col("user_id"), col("rn"), T.tstr(col("ts")).as("t"),
          col("value"),
          col("ewma"))
        .orderBy("user_id", "rn")),

    // Seasonality scoring (r9): how much of a metric's variance the
    // hour-of-day profile explains — the eta-squared ANOVA ratio
    // score = 1 − SS_within/SS_total per event_type (score → 1: strong
    // daily rhythm; → 0: hour tells you nothing). Determinism needs
    // two moves: (a) all raw moments (n, Σv, Σv²) are EXACT decimal
    // aggregates per (type, hour); (b) the 24 per-hour terms combine
    // through an ORDERED fold — sort_array(collect_list) + aggregate()
    // folds left-to-right, so the double accumulation has ONE fixed
    // order on both engines (the DotProduct/list_reduce pattern) where
    // a plain sum() over 24 double terms would drift with partition
    // order. Hour rows per type ≤ 24 — the collect is bounded profile
    // state, never data-sized.
    "ts_seasonality" -> ((s, d) => {
      // Scaled-long moments (r18 — AggOps.corrMatrix's recipe): the
      // per-row decimal square + two wide buffers become long math on
      // Sum128 limbs; descale at the ≤24-rows-per-type hourly emit so
      // every downstream double image is the exact value the decimal
      // program produced. v2 < 2^31 guard keeps v2² inside the limb
      // contract.
      val v4 = T.scaledLong(col("value"), 4, "value", maxScaled = 1L << 31)
      val hourly = T.events(s, d)
        .groupBy(col("event_type"),
          hour(col("ts")).cast("long").as("h"))
        .agg(count(lit(1)).as("n"),
          (T.s128(v4) / lit(10000L)).as("sv"),
          (T.s128(v4 * v4) / lit(100000000L)).as("sv2"))
      hourly.groupBy("event_type")
        .agg(sum("n").as("nt"),
          sum("sv").as("svt"), sum("sv2").as("sv2t"),
          sort_array(collect_list(struct(col("h"), col("n"),
            col("sv"), col("sv2")))).as("hs"))
        .select(col("event_type"), col("nt").as("n_events"),
          size(col("hs")).cast("long").as("n_hours"),
          // SS_total through nullif: a constant-valued series has
          // SS_total = 0 and would divide 0/0 → NaN (whose rendering
          // differs between engines); NULL-seasonality ("no variance
          // to explain") is the guarded value on BOTH sides.
          round(lit(1.0) -
            aggregate(col("hs"), lit(0.0), (acc, x) =>
              acc + (x.getField("sv2").cast("double") -
                x.getField("sv").cast("double") *
                  x.getField("sv").cast("double") /
                  x.getField("n").cast("double"))) /
            nullif(col("sv2t").cast("double") -
              col("svt").cast("double") * col("svt").cast("double") /
                col("nt").cast("double"), lit(0.0)),
            6).as("seasonality"))
        .orderBy("event_type")
    }),

    // Changepoint detection (r9): the single most likely mean-shift
    // point per series — binary segmentation's first step (argmax over
    // split positions of |mean(left) − mean(right)|), the monitoring
    // primitive behind "when did this metric change behavior?".
    // Deterministic end-to-end: the running numerator is an EXACT
    // ordered-window decimal sum, the two means divide its double
    // image once per row (same two doubles both engines → identical
    // delta), and the argmax tie-breaks on position. One ordered
    // window + a per-user total + a ranked argmax — two user_id-
    // clustered shuffles at any scale, no per-split recomputation
    // (each row's csum IS its split's left sum).
    "ts_changepoint" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val e = T.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("rn", row_number().over(w))
        // Long-cents running sum (r18 — AggOps.agg_group's rationale):
        // the window buffer stays a compact long; the double image
        // cast(long)/100.0 is bit-identical to the decimal cast while
        // the prefix cents stay below 2^53 (any per-user series).
        .withColumn("csum",
          sum(T.scaledLongSigned(col("value"), 4, "value")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // tsum re-aggregates the values (NOT max(csum): a negative value
      // would make the running sum non-monotonic) — exact, so it
      // equals the rn=n csum bit-for-bit.
      val tot = e.groupBy("user_id")
        .agg(max("rn").as("n"),
          sum(T.scaledLongSigned(col("value"), 4, "value")).as("tsum"))
      e.join(tot, "user_id")
        .filter(col("rn") < col("n"))
        .withColumn("delta", abs(
          col("csum").cast("double") / lit(10000.0) / col("rn").cast("double") -
            (col("tsum") - col("csum")).cast("double") / lit(10000.0) /
              (col("n") - col("rn")).cast("double")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("user_id")
            .orderBy(col("delta").desc, col("rn").asc)))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("rn").cast("long").as("cp_index"),
          col("n").cast("long").as("n_events"),
          T.tstr(col("ts")).as("cp_time"),
          round(col("delta"), 6).as("mean_shift"))
        .orderBy("user_id")
    }),

    // Rolling robust band (r13): exact 7-row trailing median + min/max
    // per user series — the robust rolling smoother next to ts_ewma's
    // mean-based one (a single spike drags a mean for 8 rows but
    // leaves the median untouched), and the band a monitoring overlay
    // draws. The warm-up rows (rn < 7) are DROPPED, which is both the
    // standard rolling-stat convention and what makes the median
    // cross-engine exact: every emitted frame holds exactly 7 values,
    // so the 0.5 quantile position is p·(n−1) = 3.0 — an ELEMENT
    // SELECTION (the 4th smallest), never an interpolation whose
    // arithmetic shape could differ between engines (percentile ≡
    // quantile_cont element picks proven by agg_percentile/agg_outlier).
    // Shape: row_number + three frame aggregates share ONE user_id
    // window sort = one shuffle; the 7-row frame is O(1) state per row
    // at any scale.
    "ts_rolling_median" -> ((s, d) =>
      rollingBand(
        T.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"), col("value")),
        Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .select(col("user_id"), col("rn"), T.tstr(col("ts")).as("t"),
          col("value"), col("med").as("med7"), col("lo").as("lo7"),
          col("hi").as("hi7"))
        .orderBy("user_id", "rn")),

    // Autocorrelation function (r13): Pearson correlation between each
    // series and its own k-lagged image, k = 1..3 — the "is yesterday
    // predictive of today" readout behind seasonality checks, AR-order
    // picks, and feature screening. Determinism is the [[AggOps]]
    // moment recipe: all sums are EXACT decimal over the aligned
    // (x_t, x_{t−k}) pairs, each moment casts to double ONCE, and the
    // closed-form correlation is a fixed short double program (+,−,×,÷,
    // sqrt are all correctly rounded — the agg_wilson rationale), with
    // a greatest(·, 0) clamp so a constant series' variance rounding
    // to −ε can't reach sqrt, and nullif so zero variance emits NULL
    // ("undefined"), not NaN, on both engines. Shape: one user_id
    // window (3 lag columns in one frame) + one groupBy on the SAME
    // key the window just partitioned by — AQE reuses the exchange, so
    // one shuffle end-to-end; the stack() fan-out to (lag_k, acf) rows
    // is a narrow generator.
    "ts_autocorr" -> ((s, d) =>
      autocorr(
        T.events(s, d).select(col("user_id"), col("event_id"),
          col("ts"), col("value")),
        "user_id",
        Window.partitionBy("user_id").orderBy("ts", "event_id"),
        maxLag = 3)
        .orderBy("user_id", "lag_k")),

    // Holt forecasting state (r13): level + linear trend per series
    // via the classic double-exponential recurrence — what ts_ewma
    // (level only) can't express: a steadily rising series always
    // lags behind a pure EWMA, while Holt's trend term tracks the
    // slope; `forecast` is the 1-step-ahead extrapolation level +
    // trend. See [[holtSmooth]] for the exactness argument (fixed
    // fold order, exactly-rounded ops) and the per-entity-bounded
    // collect's scale note.
    "ts_holt" -> ((s, d) =>
      holtSmooth(T.events(s, d).select(col("user_id"), col("event_id"),
          col("ts"), col("value")))
        .select(col("user_id"), col("n_events"),
          round(col("level"), 6).as("level"),
          round(col("trend"), 6).as("trend"),
          round(col("level") + col("trend"), 6).as("forecast"))
        .orderBy("user_id")),

    // Lagged cross-correlation (r13): does one event stream LEAD
    // another — Pearson correlation between the hourly 'view' count
    // and the hourly 'purchase' count k hours LATER, for k = 0..2.
    // The causal-screening readout behind "does traffic predict
    // conversion, and at what delay" — the two-stream sibling of
    // ts_autocorr's self-lag battery. Hour buckets are integer
    // hours-since-epoch (pure integer division — no calendar
    // arithmetic to drift cross-engine); both series come out of ONE
    // conditional-count aggregate over the bucket; each lag aligns
    // a(h) with b(h+k) by an integer equi-join over the bucket frame
    // (hour-count-sized — broadcastable at any scale; pairs exist
    // where both buckets saw traffic, the documented co-active
    // semantics); moments are all-integer and the correlation is the
    // corrMatrix double program.
    "ts_crosscorr" -> ((s, d) =>
      crossCorr(T.events(s, d).select(col("ts"), col("event_type")),
        "view", "purchase", maxLag = 2)
        .orderBy("lag_hours")),

    // Wald–Wolfowitz runs test (r14): is each user's value sequence
    // RANDOM around its own mean, or does it trend/oscillate? Too few
    // runs = positive drift or regime-stickiness, too many =
    // alternation — either way the i.i.d. assumption behind z-scores
    // and control charts is broken, which is exactly what a monitor
    // wants to know before trusting them. One windowed pass computes
    // the deterministic mean (exact-decimal sum over the partition —
    // never a float avg, whose order-dependence would break replay),
    // signs each value, lags the sign; one aggregate counts
    // above/below/runs; the z program is fixed double arithmetic with
    // every division nullif-guarded.
    "ts_runs" -> ((s, d) =>
      runsTest(T.events(s, d).select(col("user_id"), col("event_id"),
        col("ts"), col("value")))
        .orderBy("user_id")),

    // CUSUM drift excursions (r14): per user, how far the cumulative
    // deviation from the series' own mean ever wanders up or down —
    // the sequential change detector next to ts_changepoint's
    // retrospective split (CUSUM accumulates small persistent shifts
    // a per-point z-test never sees). Expressed WITHOUT a sequential
    // fold: S_t = Σ_{≤t}(x−μ) = P_t − t·μ off the EXACT decimal
    // prefix sum (decimal addition is association-free, so the
    // running window can accumulate in any order), up-excursion =
    // Q_t − min_{≤t}Q, down = max_{≤t}Q − Q_t — running min/max are
    // order-free too, so the whole statistic is windowed column math
    // sharing ONE entity shuffle, no collect, no recurrence.
    "ts_cusum" -> ((s, d) =>
      cusumExcursions(T.events(s, d).select(col("user_id"),
        col("event_id"), col("ts"), col("value")))
        .orderBy("user_id")),

    // Forecast backtest (r14): per user, the one-step-ahead error
    // profile of the EWMA smoother — MAE (typical miss), bias (does
    // it systematically lag?), RMSE (tail-weighted) — the evaluation
    // loop that tells a monitoring stack whether its smoother is
    // worth alerting on BEFORE it pages anyone. lag(ewma) is the
    // honest forecast: the state fitted strictly before the
    // observation. Errors re-enter exact DECIMAL (the round-4 ewma
    // double recovers its scale-4 rational exactly on the cast), so
    // the error sums are association-free and the three metrics are
    // fixed double programs.
    "ts_forecast_eval" -> ((s, d) =>
      forecastEval(T.events(s, d).select(col("user_id"),
        col("event_id"), col("ts"), col("value")))
        .orderBy("user_id")),

    // Time-series anomaly detection (r9): flag events whose value
    // breaks from the series' own recent behavior — residual against
    // the one-step-ahead EWMA forecast (lag(ewma, 1): the smoothed
    // state BEFORE this observation), fenced by far-outlier Tukey
    // bounds (k=3) on each user's OWN residual distribution (a global
    // threshold can't serve entities with different volatilities).
    // Residuals are exact-double subtractions of deterministic inputs
    // — emitted unrounded; fences are exact order-statistics
    // (agg_outlier's rationale: a z-score rule is dragged by the
    // outliers it hunts). Shape: the EWMA window + residual lag share
    // one user_id shuffle; the fence table is |users| rows —
    // broadcast-able at any scale.
    "ts_anomaly" -> ((s, d) => {
      val ew = ewmaCapped(
        T.events(s, d).select(col("user_id"), col("event_id"),
          col("ts"), col("value")),
        Window.partitionBy("user_id").orderBy("ts", "event_id"))
      // lag over the SAME (ts, event_id) spec the ewma window sorted
      // by — rn is row_number over exactly that order, so ordering by
      // rn is the identical total order but used to cost a second
      // per-branch Sort pass (r18; values unchanged by construction).
      // And r feeds TWO consumers (the fence aggregate and the final
      // join), so without a checkpoint the whole events→ewma→resid
      // window pipeline planned and EXECUTED twice — the before-plan
      // carries the duplicated branch verbatim (the assocRules /
      // text_perplexity multi-consumer lesson, applied here in r18).
      // TRADE-OFF (r18 advice): localCheckpoint is executor-LOCAL,
      // non-fault-tolerant materialization — in a cluster deployment
      // an executor loss here fails the job instead of recomputing
      // the branch; swap for persist(DISK_ONLY)+unpersist (or a
      // staging write) if this operator ships as resilient
      // production API. Right trade for a single-job engine: the
      // checkpoint buys back a full shuffle+sort+window pass over
      // event-sized data on every run.
      val r = ew.withColumn("resid",
          col("value") - lag(col("ewma"), 1).over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")))
        .filter(col("resid").isNotNull)
        .ckptLocal
      val f = r.groupBy("user_id").agg(
        expr("percentile(resid, 0.25D)").as("q1"),
        expr("percentile(resid, 0.75D)").as("q3"))
      r.join(broadcast(f), "user_id")
        .filter(col("resid") < col("q1") - (col("q3") - col("q1")) * 3 - 1e-6 ||
                col("resid") > col("q3") + (col("q3") - col("q1")) * 3 + 1e-6)
        .select(col("user_id"), col("rn"), T.tstr(col("ts")).as("t"),
          col("value"), col("resid"))
        .orderBy("user_id", "rn")
    })
  )

  /** Append `rn` (window row_number) and `ewma` — the capped exact
    * EWMA over `value` — to `df`. Exposed as API for callers smoothing
    * their own frames; the coefficient scheme is documented on the
    * ts_ewma key above.
    */
  def ewmaCapped(df: DataFrame,
      w: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
    // Scaled-long coefficient math (r18 — AggOps.agg_group's
    // rationale, per-row window form): 2^-j·10^7 is an exact long for
    // j ≤ 7, value is exact cents, so each term is one long multiply
    // where the decimal form ran a BigDecimal multiply per row per
    // lag (8×). The scale-11 row sum (10^7 coef × 10^4 value) is the
    // identical rational as the old scale-11 decimal sum;
    // (x + 5·10^6) div 10^7 is HALF_UP to 4dp for non-negative sums
    // (ScaledMoneySpec pins the rounding identity), and /10000.0 is
    // one correctly-rounded IEEE division — the same double the
    // decimal round + cast produced. Magnitude: v4 < 2^31 (guarded)
    // ⇒ term ≤ 10^7·2^31 ≈ 2^54, eight terms < 2^57 — plain long
    // arithmetic, no limbs needed per row.
    val c7 = (0 to 7).map(j => lit(10000000L >> j))
    val zero = lit(0L)
    val rn = col("rn")
    // coef_j: the oldest surviving term (rn == j+1) takes 2^-j so the
    // row's weights telescope to 1; interior terms take 2^-(j+1); j=7
    // keeps 2^-7 for ALL rn >= 8 (the cap).
    def coef(j: Int) =
      if (j == 7) when(rn >= 8, c7(7)).otherwise(zero)
      else when(rn === j + 1, c7(j))
        .when(rn > j + 1, c7(j + 1)).otherwise(zero)
    val terms = (0 to 7).map(j => coef(j) * coalesce(col(s"l$j"), lit(0L)))
    df.withColumn("rn", row_number().over(w))
      .withColumns(
        (0 to 7).map(j => s"l$j" ->
          lag(T.scaledLongSigned(col("value"), 4, "value",
            maxAbsScaled = 1L << 31), j).over(w)).toMap)
      .withColumn("ewma11", terms.reduce(_ + _))
      // Sign-aware HALF_UP (round half away from zero — BigDecimal's
      // HALF_UP, which the decimal round used) to 4dp, then one
      // correctly-rounded IEEE division to the double image.
      .withColumn("ewma",
        when(col("ewma11") >= 0,
          expr("(ewma11 + 5000000L) div 10000000L"))
          .otherwise(-expr("(-ewma11 + 5000000L) div 10000000L")) /
          lit(10000.0))
      .drop((0 to 7).map(j => s"l$j") :+ "ewma11": _*)
  }

  /** Append `rn` and the trailing `width`-row exact median / min / max
    * (`med`, `lo`, `hi`) of `value` to `df`, ordered by `w`; warm-up
    * rows (rn < width) are dropped so every emitted frame holds
    * exactly `width` values — with odd `width` the median is an
    * element selection, never an interpolation (see the
    * ts_rolling_median key comment). Contracts spec'd in PropertySpec
    * (≡ a local sliding-sort reference).
    */
  def rollingBand(df: DataFrame,
      w: org.apache.spark.sql.expressions.WindowSpec,
      width: Int = 7): DataFrame = {
    require(width >= 1 && width % 2 == 1,
      s"width must be odd (median = element selection): $width")
    val wf = w.rowsBetween(-(width - 1), Window.currentRow)
    df.withColumn("rn", row_number().over(w))
      .withColumn("med", expr("percentile(value, 0.5D)").over(wf))
      .withColumn("lo", min(col("value")).over(wf))
      .withColumn("hi", max(col("value")).over(wf))
      .filter(col("rn") >= width)
  }

  /** Holt double exponential smoothing (level + linear trend,
    * α = β = 1/2) folded over each entity's (ts, event_id)-ordered
    * series: l' = ½x + ½(l + b), b' = ½(l' − l) + ½b, init
    * (l, b) = (x₁, 0). Returns one row per entity:
    * (user_id, n_events, level, trend) — the final smoothed state a
    * forecaster extrapolates from. Doubles are bit-equal cross-engine
    * because the fold order is FIXED (one sequential recurrence) and
    * every step is +, −, or ×½ — all exactly rounded; no decimal
    * fencing needed (the multimodal_decode ordered-fold precedent).
    *
    * Scale shape: the collect is bounded by the PER-ENTITY series
    * length — the inherent bound of any sequential recurrence (state
    * t needs state t−1); partition-parallel across entities, never
    * driver-side. For unbounded per-entity series the frame-local
    * capped closed form is the alternative ([[ewmaCapped]] — O(1)
    * per row, no trend term).
    */
  def holtSmooth(df: DataFrame): DataFrame =
    df.groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
        col("value").cast("double").as("v")))).as("xs"))
      .select(col("user_id"),
        size(col("xs")).cast("long").as("n_events"),
        expr("transform(xs, e -> e.v)").as("vs"))
      .withColumn("st", expr(
        """aggregate(slice(vs, 2, size(vs) - 1),
          |  array(vs[0], cast(0.0 as double)),
          |  (acc, x) -> array(
          |    0.5D * x + 0.5D * (acc[0] + acc[1]),
          |    0.5D * ((0.5D * x + 0.5D * (acc[0] + acc[1])) - acc[0])
          |      + 0.5D * acc[1]))""".stripMargin))
      .select(col("user_id"), col("n_events"),
        col("st")(0).as("level"), col("st")(1).as("trend"))

  /** Lag-k autocorrelation (sample ACF as the Pearson correlation of
    * the aligned (x_t, x_{t−k}) pairs), k = 1..`maxLag`, per `entity`
    * group of `df`, ordered by `w` (which must partition by `entity`).
    * `df` needs a numeric `value` column. Returns
    * (entity, lag_k, n_pairs, acf); acf is NULL when either side of a
    * lag's pair set has zero variance (constant series).
    *
    * All raw moments (n, Σx, Σy, Σxy, Σx², Σy² restricted to rows
    * where the lag exists) are exact DECIMAL — partition-order
    * independent — and combine map-side; the correlation is computed
    * once per (entity, lag) on their double images. Contracts spec'd
    * in PropertySpec (≡ a local double-fold Pearson reference).
    */
  /** Lagged cross-correlation between two event-type streams over
    * `df("ts", "event_type")`: hourly counts of `typeA` against
    * hourly counts of `typeB` shifted k hours later, Pearson per
    * k = 0..maxLag. Returns (lag_hours, n_pairs, xcorr) — xcorr NULL
    * when either aligned series is constant, n_pairs counts hours
    * where BOTH buckets exist (the co-active-hours semantics: an
    * hour with zero events of every type contributes no row, not a
    * zero).
    *
    * Buckets are integer hours since epoch off the second-truncated
    * timestamp (the house tsec idiom — integer division, no calendar
    * arithmetic to drift cross-engine). ONE conditional-count
    * aggregate produces both series; each lag is an integer
    * equi-join of the hour frame against itself shifted — the frame
    * is hour-count-sized (years of data ≈ 10⁴–10⁵ rows), broadcast
    * territory at any corpus scale; moments are all-integer
    * (DECIMAL-widened — hourly counts at 100 TB square past int64)
    * and each correlation is the [[autocorr]] double program.
    * Contracts spec'd in PropertySpec (≡ a local fold over
    * materialized aligned pairs).
    */
  def crossCorr(df: DataFrame, typeA: String, typeB: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 0 && maxLag <= 8, s"maxLag must be in [0, 8]: $maxLag")
    // Per-bucket counts are longs; the Pearson moments ride Sum128
    // limbs over plain long products (r18 wave 3 — the corrMatrix
    // recipe at scale 0: integer moments need no descale, so each
    // image below is the exact integer's correctly-rounded double,
    // identical to the previous DECIMAL(19,0)-sum images). The
    // static guard keeps a*a / a*b inside the 2^62 limb bound for
    // per-bucket counts to 2^31 — any hour with more events than
    // that raises loudly instead of corrupting a limb.
    def g31(c: org.apache.spark.sql.Column) =
      when(c >= lit(1L << 31),
        raise_error(lit("crossCorr: per-bucket count >= 2^31")))
        .otherwise(c)
    val f = df
      .select(expr("unix_timestamp(date_trunc('second', ts)) div 3600")
        .as("h"), col("event_type"))
      .groupBy("h").agg(
        sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("b"))
    val lagged = f
      .withColumn("k", explode(array((0 to maxLag).map(k =>
        lit(k.toLong)): _*)))
      .select(col("k"), (col("h") + col("k")).as("hj"), col("a"))
      .join(f.select(col("h").as("hj"), col("b")), Seq("hj"))
    val (ga, gb) = (g31(col("a")), g31(col("b")))
    val m = lagged.groupBy("k").agg(
      count(lit(1)).as("n"),
      T.s128(ga).as("sa"),
      T.s128(gb).as("sb"),
      T.s128(ga * ga).as("saa"),
      T.s128(gb * gb).as("sbb"),
      T.s128(ga * gb).as("sab"))
    val n = col("n").cast("double")
    val (sa, sb) = (col("sa").cast("double"), col("sb").cast("double"))
    val (saa, sbb, sab) = (col("saa").cast("double"),
      col("sbb").cast("double"), col("sab").cast("double"))
    m.select(col("k").as("lag_hours"), col("n").as("n_pairs"),
      round((n * sab - sa * sb) /
        nullif(sqrt(greatest(n * saa - sa * sa, lit(0.0))) *
          sqrt(greatest(n * sbb - sb * sb, lit(0.0))), lit(0.0)), 6)
        .as("xcorr"))
  }

  /** CUSUM drift excursions per entity over
    * `df("user_id", "event_id", "ts", "value")`: with
    * Q_t = P_t − t·μ (P the exact-decimal prefix sum in
    * (ts, event_id) order, μ the entity's deterministic mean), the
    * maximum upward excursion max_t(Q_t − min_{s≤t} Q_s) and downward
    * excursion max_t(max_{s≤t} Q_s − Q_t). Returns
    * (user_id, n, up_excursion, down_excursion), both rounded to 6.
    *
    * Every ingredient is order-free: the prefix sum is exact DECIMAL
    * (associative), μ is the decimal-sum double image, Q is a fixed
    * per-row double program, and running min/max commute — so the
    * windowed form replaces the textbook sequential
    * max(0, S+x−μ) recurrence exactly (the two are equal by the
    * prefix-sum identity) while staying plain column math: one entity
    * window shuffle, O(1) state per row at any scale.
    */
  def cusumExcursions(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val wAll = w.partitionBy("user_id")
    val wOrd = w.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = wOrd.rowsBetween(Long.MinValue, 0)
    // Long-cents window sums (r18 — AggOps.agg_group's rationale);
    // cast(long)/100.0 is the same correctly-rounded double image the
    // decimal cast produced while the cents stay below 2^53.
    val mean = (sum(T.scaledLongSigned(col("value"), 4, "value")).over(wAll)
        .cast("double") / lit(10000.0)) /
      count(lit(1)).over(wAll).cast("double")
    val q = (sum(T.scaledLongSigned(col("value"), 4, "value")).over(wRun)
        .cast("double") / lit(10000.0)) -
      row_number().over(wOrd).cast("double") * mean
    // least/greatest with 0 add the virtual Q₀ = 0 of the empty
    // prefix — without it the identity with the max(0, S + x − μ)
    // recurrence breaks on series whose Q never crosses zero.
    val scored = df
      .withColumn("q", q)
      .withColumn("up",
        col("q") - least(min(col("q")).over(wRun), lit(0.0)))
      .withColumn("down",
        greatest(max(col("q")).over(wRun), lit(0.0)) - col("q"))
    scored.groupBy("user_id").agg(
      count(lit(1)).as("n"),
      round(max(col("up")), 6).as("up_excursion"),
      round(max(col("down")), 6).as("down_excursion"))
  }

  /** One-step-ahead EWMA backtest per entity over
    * `df("user_id", "event_id", "ts", "value")`: forecast_t =
    * lag(ewma) (the [[ewmaCapped]] state fitted strictly before row
    * t), err = value − forecast over rows with a predecessor. Returns
    * (user_id, n_eval, mae, bias, rmse), rounded to 6.
    *
    * Errors are exact DECIMAL: the ewma double is round(·, 4), so
    * casting it back to scale 4 recovers its rational exactly (both
    * engines cast the identical double identically) — the error
    * sums are then association-free and each metric is a fixed
    * correctly-rounded double program. Shares ONE entity window
    * shuffle with the smoother itself.
    */
  def forecastEval(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val errs = ewmaCapped(df, w)
      .withColumn("fc", lag(col("ewma"), 1).over(w))
      .filter(col("fc").isNotNull)
      .withColumn("err", T.dec(col("value")) -
        col("fc").cast(DecimalType(18, 4)))
    val m = errs.groupBy("user_id").agg(
      count(lit(1)).as("n_eval"),
      sum(abs(col("err"))).as("sa"),
      sum(col("err")).as("se"),
      sum(col("err") * col("err")).as("ss"))
    val nd = col("n_eval").cast("double")
    m.select(col("user_id"), col("n_eval"),
      round(col("sa").cast("double") / nd, 6).as("mae"),
      round(col("se").cast("double") / nd, 6).as("bias"),
      round(sqrt(col("ss").cast("double") / nd), 6).as("rmse"))
  }

  /** Wald–Wolfowitz runs test per entity over
    * `df("user_id", "event_id", "ts", "value")`: values are signed
    * against the entity's own mean (rows equal to it drop — the
    * standard treatment), runs of equal sign are counted in
    * (ts, event_id) order, and the normal-approximation z compares
    * the observed run count to the expected 2·n₁·n₂/n + 1. Returns
    * (user_id, n_above, n_below, runs, z) — z NULL when either sign
    * class is empty or n ≤ 1 (degenerate variance).
    *
    * The mean is the double image of the exact-decimal partition sum
    * over the count — NEVER a float avg, whose accumulation order
    * varies run to run; every input to the z program is an integer
    * count, so the whole statistic is a fixed correctly-rounded
    * double program. One entity window (mean + sign lag share the
    * shuffle) + one aggregate; O(1) state per row at any scale.
    */
  def runsTest(df: DataFrame): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val mean = (sum(T.scaledLongSigned(col("value"), 4, "value")).over(wAll)
        .cast("double") / lit(10000.0)) /
      count(lit(1)).over(wAll).cast("double") // scaled longs (r18)
    val signed = df
      .withColumn("mean", mean)
      .filter(col("value") =!= col("mean"))
      .withColumn("ab", col("value") > col("mean"))
      .withColumn("chg",
        when(lag(col("ab"), 1).over(wOrd).isNotNull &&
          col("ab") =!= lag(col("ab"), 1).over(wOrd), 1L).otherwise(0L))
    val m = signed.groupBy("user_id").agg(
      sum(when(col("ab"), 1L).otherwise(0L)).as("n_above"),
      sum(when(col("ab"), 0L).otherwise(1L)).as("n_below"),
      (lit(1L) + sum(col("chg"))).as("runs"))
    val (n1, n2) = (col("n_above").cast("double"),
      col("n_below").cast("double"))
    val nd = (col("n_above") + col("n_below")).cast("double")
    val rd = col("runs").cast("double")
    val p = lit(2.0) * n1 * n2
    val muR = p / nd + lit(1.0)
    val varR = p * (p - nd) /
      nullif(nd * nd * (nd - lit(1.0)), lit(0.0))
    m.select(col("user_id"), col("n_above"), col("n_below"), col("runs"),
      round((rd - muR) /
        nullif(sqrt(greatest(varR, lit(0.0))), lit(0.0)), 6).as("z"))
  }

  def autocorr(df: DataFrame, entity: String,
      w: org.apache.spark.sql.expressions.WindowSpec,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 8, s"maxLag must be in [1, 8]: $maxLag")
    // Scaled-long moments (r18 — AggOps.corrMatrix's recipe): 6·maxLag
    // wide-decimal buffers and 4·maxLag per-row decimal products become
    // long math on Sum128 limbs (x4 < 2^31 guarded ⇒ every product
    // < 2^62). Each sum descales ONCE PER GROUP to the exact decimal
    // the old program aggregated, so every double image below is
    // bit-identical. NULL lag heads: sum128 adds 0 where sum skipped
    // NULL — same sums; the n=0 empty-lag case still emits NULL acf
    // through the same nullif(0, 0) path on both forms.
    val x = T.scaledLong(col("value"), 4, "value", maxScaled = 1L << 31)
    val lagged = df
      .withColumn("x", x)
      .withColumns((1 to maxLag).map(k =>
        s"y$k" -> lag(x, k).over(w)).toMap)
    def s128(c: org.apache.spark.sql.Column) = T.s128(c)
    val aggs = (1 to maxLag).flatMap { k =>
      val y = col(s"y$k")
      Seq(
        count(y).as(s"n$k"),
        (s128(when(y.isNotNull, col("x"))) / lit(10000L)).as(s"sx$k"),
        (s128(y) / lit(10000L)).as(s"sy$k"),
        (s128(when(y.isNotNull, col("x") * col("x"))) / lit(100000000L))
          .as(s"sxx$k"),
        (s128(y * y) / lit(100000000L)).as(s"syy$k"),
        (s128(col("x") * y) / lit(100000000L)).as(s"sxy$k"))
    }
    val m = lagged.groupBy(entity).agg(aggs.head, aggs.tail: _*)
    def acf(k: Int) = {
      val n = col(s"n$k").cast("double")
      val sx = col(s"sx$k").cast("double")
      val sy = col(s"sy$k").cast("double")
      val sxx = col(s"sxx$k").cast("double")
      val syy = col(s"syy$k").cast("double")
      val sxy = col(s"sxy$k").cast("double")
      round((n * sxy - sx * sy) /
        nullif(sqrt(greatest(n * sxx - sx * sx, lit(0.0))) *
          sqrt(greatest(n * syy - sy * sy, lit(0.0))), lit(0.0)), 6)
    }
    val wide = m.select(
      col(entity) +: (1 to maxLag).flatMap(k =>
        Seq(col(s"n$k"), acf(k).as(s"r$k"))): _*)
    val stacked = (1 to maxLag)
      .map(k => s"CAST($k AS BIGINT), n$k, r$k").mkString(", ")
    wide.selectExpr(entity,
      s"stack($maxLag, $stacked) AS (lag_k, n_pairs, acf)")
  }

  /** Shared CTE core of the EWMA oracles, generated: 8 lag columns +
    * the same telescoped coefficient CASE per term as [[ewmaCapped]].
    * Everything is exact DECIMAL on both sides, so round(·, 4) of the
    * identical rational cannot diverge. Yields CTEs `b` (lags) and
    * `ew` (user_id, rn, ts, event_id, value, ewma).
    */
  private val ewmaCoreSql: String = {
    val lags = (0 to 7).map(j =>
      s"lag(CAST(value AS DECIMAL(18,4)), $j) OVER w AS l$j").mkString(",\n         ")
    def p2(j: Int) = (BigDecimal(1) / BigDecimal(BigInt(1) << j)).toString
    val terms = (0 to 7).map { j =>
      val c =
        if (j == 7)
          s"CASE WHEN rn >= 8 THEN CAST(${p2(7)} AS DECIMAL(9,7)) ELSE CAST(0 AS DECIMAL(9,7)) END"
        else
          s"CASE WHEN rn = ${j + 1} THEN CAST(${p2(j)} AS DECIMAL(9,7)) WHEN rn > ${j + 1} THEN CAST(${p2(j + 1)} AS DECIMAL(9,7)) ELSE CAST(0 AS DECIMAL(9,7)) END"
      s"($c) * COALESCE(l$j, CAST(0 AS DECIMAL(18,4)))"
    }.mkString("\n       + ")
    s"""b AS (
       |  SELECT user_id, event_id, ts, value,
       |         row_number() OVER w AS rn,
       |         $lags
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |ew AS (
       |  SELECT user_id, rn, ts, event_id, value,
       |         CAST(round(
       |           $terms
       |         , 4) AS DOUBLE) AS ewma
       |  FROM b)""".stripMargin
  }

  /** Generated ACF oracle — same lag battery, same conditional exact
    * decimal moments, same clamped/guarded double program as
    * [[autocorr]], per k, so the two sides cannot drift apart. */
  private val acfSql: String = {
    val lags = (1 to 3).map(k =>
      s"lag(CAST(value AS DECIMAL(18,4)), $k) OVER w AS y$k")
      .mkString(",\n         ")
    val moments = (1 to 3).map(k =>
      s"""count(y$k) AS n$k,
         |         sum(CASE WHEN y$k IS NOT NULL THEN x END) AS sx$k,
         |         sum(y$k) AS sy$k,
         |         sum(CASE WHEN y$k IS NOT NULL THEN x * x END) AS sxx$k,
         |         sum(y$k * y$k) AS syy$k,
         |         sum(x * y$k) AS sxy$k""".stripMargin)
      .mkString(",\n         ")
    val branches = (1 to 3).map { k =>
      val (n, sx, sy) =
        (s"CAST(n$k AS DOUBLE)", s"CAST(sx$k AS DOUBLE)", s"CAST(sy$k AS DOUBLE)")
      val (sxx, syy, sxy) =
        (s"CAST(sxx$k AS DOUBLE)", s"CAST(syy$k AS DOUBLE)", s"CAST(sxy$k AS DOUBLE)")
      s"""SELECT user_id, CAST($k AS BIGINT) AS lag_k, n$k AS n_pairs,
         |       round(($n * $sxy - $sx * $sy) /
         |         nullif(sqrt(greatest($n * $sxx - $sx * $sx, 0.0)) *
         |                sqrt(greatest($n * $syy - $sy * $sy, 0.0)), 0.0),
         |         6) AS acf
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH b AS (
       |  SELECT user_id, CAST(value AS DECIMAL(18,4)) AS x,
       |         $lags
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |m AS (
       |  SELECT user_id,
       |         $moments
       |  FROM b GROUP BY user_id)
       |$branches
       |ORDER BY user_id, lag_k""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // Every emitted frame holds exactly 7 values (rn >= 7), so the
    // median is the 4th-smallest element on both engines — selection,
    // not interpolation (see the key comment). min/max are exact.
    "ts_rolling_median" ->
      """WITH b AS (
        |  SELECT user_id, event_id, ts, value,
        |         row_number() OVER w AS rn,
        |         quantile_cont(value, 0.5) OVER wf AS med7,
        |         min(value) OVER wf AS lo7,
        |         max(value) OVER wf AS hi7
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |         wf AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT user_id, rn,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS t,
        |       value, med7, lo7, hi7
        |FROM b WHERE rn >= 7 ORDER BY user_id, rn""".stripMargin,

    "ts_autocorr" -> acfSql,

    // The shared EWMA core CTEs, then the same lag-forecast, the
    // same exact-decimal error re-entry (round-4 double → scale-4
    // decimal recovers the rational), the same three fixed programs.
    "ts_forecast_eval" ->
      s"""WITH $ewmaCoreSql,
        |f AS (
        |  SELECT user_id, value,
        |         lag(ewma) OVER (PARTITION BY user_id
        |                         ORDER BY ts, event_id) AS fc
        |  FROM ew),
        |e2 AS (
        |  SELECT user_id,
        |         CAST(value AS DECIMAL(19,4))
        |           - CAST(fc AS DECIMAL(19,4)) AS err
        |  FROM f WHERE fc IS NOT NULL),
        |m AS (
        |  SELECT user_id, count(*) AS n, sum(abs(err)) AS sa,
        |         sum(err) AS se, sum(err * err) AS ss
        |  FROM e2 GROUP BY user_id)
        |SELECT user_id, n AS n_eval,
        |       round(CAST(sa AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mae,
        |       round(CAST(se AS DOUBLE) / CAST(n AS DOUBLE), 6) AS bias,
        |       round(sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |         AS rmse
        |FROM m ORDER BY user_id""".stripMargin,

    // Same exact-decimal prefix sum and deterministic mean, same
    // fixed Q program, same 0-baselined running min/max — every
    // window shares the (ts, event_id) order.
    "ts_cusum" ->
      """WITH b AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(sum(CAST(value AS DECIMAL(19,4))) OVER wp AS DOUBLE)
        |      / CAST(count(*) OVER wp AS DOUBLE) AS mean,
        |    CAST(sum(CAST(value AS DECIMAL(19,4))) OVER wr AS DOUBLE)
        |      AS pd,
        |    row_number() OVER wo AS rn
        |  FROM events
        |  WINDOW wp AS (PARTITION BY user_id),
        |         wo AS (PARTITION BY user_id ORDER BY ts, event_id),
        |         wr AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING
        |                AND CURRENT ROW)),
        |q AS (
        |  SELECT user_id, event_id, ts,
        |         pd - CAST(rn AS DOUBLE) * mean AS qv
        |  FROM b),
        |s AS (
        |  SELECT user_id,
        |    qv - least(min(qv) OVER wr, 0.0) AS up,
        |    greatest(max(qv) OVER wr, 0.0) - qv AS down
        |  FROM q
        |  WINDOW wr AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING
        |                AND CURRENT ROW))
        |SELECT user_id, count(*) AS n,
        |       round(max(up), 6) AS up_excursion,
        |       round(max(down), 6) AS down_excursion
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Same deterministic mean (exact-decimal partition sum over the
    // count — width 19, the int128 note), same sign/lag/run layering,
    // same guarded double program. greatest(NULL, 0) differs between
    // engines only on the n=1 path, where BOTH still end in NULL
    // through the nullif fence.
    "ts_runs" ->
      """WITH s AS (
        |  SELECT user_id, event_id, ts, value,
        |    CAST(sum(CAST(value AS DECIMAL(19,4)))
        |           OVER (PARTITION BY user_id) AS DOUBLE)
        |      / CAST(count(*) OVER (PARTITION BY user_id) AS DOUBLE)
        |      AS mean
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts, value > mean AS ab
        |  FROM s WHERE value <> mean),
        |g AS (
        |  SELECT user_id, ab,
        |    CASE WHEN lag(ab) OVER w IS NOT NULL
        |              AND ab <> lag(ab) OVER w
        |         THEN 1 ELSE 0 END AS chg
        |  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |m AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN ab THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |    CAST(sum(CASE WHEN ab THEN 0 ELSE 1 END) AS BIGINT) AS n_below,
        |    CAST(1 + sum(chg) AS BIGINT) AS runs
        |  FROM g GROUP BY user_id),
        |v AS (
        |  SELECT user_id, n_above, n_below, runs,
        |    CAST(n_above AS DOUBLE) AS n1, CAST(n_below AS DOUBLE) AS n2,
        |    CAST(n_above + n_below AS DOUBLE) AS nd,
        |    CAST(runs AS DOUBLE) AS rd
        |  FROM m),
        |w2 AS (
        |  SELECT user_id, n_above, n_below, runs, nd, rd,
        |    2.0 * n1 * n2 AS p
        |  FROM v)
        |SELECT user_id, n_above, n_below, runs,
        |       round((rd - (p / nd + 1.0)) /
        |             nullif(sqrt(greatest(
        |               p * (p - nd) / nullif(nd * nd * (nd - 1.0), 0.0),
        |               0.0)), 0.0), 6) AS z
        |FROM w2 ORDER BY user_id""".stripMargin,

    // Same second-truncated integer hour buckets, same
    // conditional-count series, same shifted integer equi-join per
    // unnested lag, same clamped/guarded double program. Integer
    // division: DuckDB's // floors, Spark's div truncates — equal on
    // the positive epochs here.
    "ts_crosscorr" ->
      """WITH e AS (
        |  SELECT CAST(floor(epoch(date_trunc('second', ts)))
        |              AS BIGINT) // 3600 AS h,
        |         event_type
        |  FROM events),
        |f AS (
        |  SELECT h,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS a,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
        |  FROM e GROUP BY h),
        |l AS (
        |  SELECT CAST(t.k AS BIGINT) AS k, f.h + t.k AS hj, f.a
        |  FROM f, UNNEST([0, 1, 2]) AS t(k)),
        |j AS (
        |  SELECT l.k, l.a, r.b
        |  FROM l JOIN f r ON l.hj = r.h),
        |m AS (
        |  SELECT k, count(*) AS n,
        |    sum(CAST(a AS DECIMAL(19,0))) AS sa,
        |    sum(CAST(b AS DECIMAL(19,0))) AS sb,
        |    sum(CAST(a AS DECIMAL(19,0)) * CAST(a AS DECIMAL(19,0))) AS saa,
        |    sum(CAST(b AS DECIMAL(19,0)) * CAST(b AS DECIMAL(19,0))) AS sbb,
        |    sum(CAST(a AS DECIMAL(19,0)) * CAST(b AS DECIMAL(19,0))) AS sab
        |  FROM j GROUP BY k)
        |SELECT k AS lag_hours, n AS n_pairs,
        |       round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
        |              - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)) /
        |             nullif(sqrt(greatest(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
        |                                  - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE), 0.0)) *
        |                    sqrt(greatest(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
        |                                  - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE), 0.0)),
        |                    0.0), 6) AS xcorr
        |FROM m ORDER BY lag_hours""".stripMargin,

    // The same fold replayed with list_reduce, which has no separate
    // init parameter: the [l, b] init state is PREPENDED to the
    // [x, 0] element pairs so the first lambda application sees
    // (acc = init, e = x₂) exactly like Spark's aggregate(); l' is
    // inlined twice in the trend branch (no let-binding in either
    // lambda dialect) — the doubled subexpression evaluates to the
    // SAME double, so the fold stays bit-equal.
    "ts_holt" ->
      """WITH s AS (
        |  SELECT user_id, count(*) AS n_events,
        |         list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vs
        |  FROM events GROUP BY user_id),
        |f AS (
        |  SELECT user_id, n_events,
        |         list_reduce(
        |           list_prepend([vs[1], 0.0],
        |             list_transform(vs[2:], x -> [x, 0.0])),
        |           (acc, e) -> [
        |             0.5 * e[1] + 0.5 * (acc[1] + acc[2]),
        |             0.5 * ((0.5 * e[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
        |               + 0.5 * acc[2]]) AS st
        |  FROM s)
        |SELECT user_id, n_events,
        |       round(st[1], 6) AS level,
        |       round(st[2], 6) AS trend,
        |       round(st[1] + st[2], 6) AS forecast
        |FROM f ORDER BY user_id""".stripMargin,

    "ts_ewma" ->
      s"""WITH $ewmaCoreSql
         |SELECT user_id, rn,
         |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS t, value, ewma
         |FROM ew ORDER BY user_id, rn""".stripMargin,

    // Identical exact decimal moments; the 24 per-hour terms fold in
    // h-order via list_reduce (left-to-right, = Spark's aggregate()
    // from the 0.0 seed — the multimodal_decode equivalence), so the
    // double accumulation is bit-identical.
    "ts_seasonality" ->
      """WITH hm AS (
        |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
        |         count(*) AS n,
        |         sum(CAST(value AS DECIMAL(18,4))) AS sv,
        |         sum(CAST(value AS DECIMAL(18,4))
        |             * CAST(value AS DECIMAL(18,4))) AS sv2
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
        |         count(*) AS n_hours,
        |         sum(sv) AS svt, sum(sv2) AS sv2t,
        |         list_reduce(list_transform(
        |             list(ROW(sv2, sv, n) ORDER BY h),
        |             x -> CAST(x[1] AS DOUBLE)
        |                  - CAST(x[2] AS DOUBLE) * CAST(x[2] AS DOUBLE)
        |                    / CAST(x[3] AS DOUBLE)),
        |           (a, b) -> a + b) AS ssw
        |  FROM hm GROUP BY event_type)
        |SELECT event_type, n_events, n_hours,
        |       round(1.0 - ssw /
        |         nullif(CAST(sv2t AS DOUBLE)
        |          - CAST(svt AS DOUBLE) * CAST(svt AS DOUBLE)
        |            / CAST(n_events AS DOUBLE), 0.0), 6) AS seasonality
        |FROM t ORDER BY event_type""".stripMargin,

    // Identical exact decimal running/total sums, identical one-shot
    // double division per split — same doubles, same argmax; ties
    // (constant series → all-zero deltas) break on position in both.
    "ts_changepoint" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |         row_number() OVER w AS rn,
        |         sum(CAST(value AS DECIMAL(18,4))) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS csum
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |tot AS (
        |  SELECT user_id, max(rn) AS n,
        |         sum(CAST(value AS DECIMAL(18,4))) AS tsum
        |  FROM e GROUP BY user_id),
        |d AS (
        |  SELECT e.user_id, e.rn, e.ts, tot.n,
        |         abs(CAST(e.csum AS DOUBLE) / CAST(e.rn AS DOUBLE)
        |             - CAST(tot.tsum - e.csum AS DOUBLE)
        |               / CAST(tot.n - e.rn AS DOUBLE)) AS delta
        |  FROM e JOIN tot USING (user_id)
        |  WHERE e.rn < tot.n),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |           ORDER BY delta DESC, rn ASC) AS rk
        |  FROM d)
        |SELECT user_id, rn AS cp_index, n AS n_events,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS cp_time,
        |       round(delta, 6) AS mean_shift
        |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin,

    // One-step-ahead forecast residual = value − lag(ewma): exact
    // doubles minus exact doubles — bit-identical unrounded; the
    // Tukey fences replay agg_outlier's verified quantile_cont parity,
    // with the same 1e-6 guard band and syntactically parallel
    // arithmetic so borderline comparisons cannot diverge.
    "ts_anomaly" ->
      s"""WITH $ewmaCoreSql,
         |r AS (
         |  SELECT user_id, rn, ts, value,
         |         value - lag(ewma, 1) OVER
         |           (PARTITION BY user_id ORDER BY rn) AS resid
         |  FROM ew),
         |f AS (
         |  SELECT user_id,
         |         quantile_cont(resid, 0.25) AS q1,
         |         quantile_cont(resid, 0.75) AS q3
         |  FROM r WHERE resid IS NOT NULL GROUP BY user_id)
         |SELECT r.user_id AS user_id, r.rn,
         |       strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS t,
         |       r.value, r.resid
         |FROM r JOIN f ON r.user_id = f.user_id
         |WHERE r.resid IS NOT NULL
         |  AND (r.resid < q1 - (q3 - q1) * 3 - 1e-6 OR
         |       r.resid > q3 + (q3 - q1) * 3 + 1e-6)
         |ORDER BY r.user_id, r.rn""".stripMargin,
    // make_timestamp(µs) keeps the rendered day tz-naive (DuckDB's
    // to_timestamp returns TIMESTAMPTZ, whose strftime would shift
    // with the host tz); IGNORE NULLS mirrors Spark's last(_, true).
    "ts_resample" ->
      """WITH e AS (
        |  SELECT user_id,
        |         CAST(floor(extract(epoch FROM date_trunc('day', ts)))
        |              AS BIGINT) AS day_s,
        |         value
        |  FROM events),
        |daily AS (
        |  SELECT user_id, day_s, count(*) AS n_events,
        |         CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2)
        |              AS DOUBLE) AS day_v
        |  FROM e GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id,
        |         unnest(generate_series(min(day_s), max(day_s), 86400))
        |           AS day_s
        |  FROM daily GROUP BY user_id)
        |SELECT g.user_id, g.day_s,
        |       strftime(make_timestamp(g.day_s * 1000000), '%Y-%m-%d')
        |         AS day,
        |       coalesce(d.n_events, 0) AS n_events,
        |       d.day_v,
        |       last_value(d.day_v IGNORE NULLS)
        |         OVER (PARTITION BY g.user_id ORDER BY g.day_s
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS carried
        |FROM grid g LEFT JOIN daily d
        |  ON g.user_id = d.user_id AND g.day_s = d.day_s
        |ORDER BY 1, 2""".stripMargin,

    // Same flanking-observation windows; the CASE guard keeps the
    // division unevaluated on observed rows in both engines.
    "ts_interp" ->
      """WITH e AS (
        |  SELECT user_id,
        |         CAST(floor(extract(epoch FROM date_trunc('day', ts)))
        |              AS BIGINT) AS day_s,
        |         value
        |  FROM events),
        |daily AS (
        |  SELECT user_id, day_s,
        |         CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2)
        |              AS DOUBLE) AS day_v
        |  FROM e GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id,
        |         unnest(generate_series(min(day_s), max(day_s), 86400))
        |           AS day_s
        |  FROM daily GROUP BY user_id),
        |j AS (
        |  SELECT g.user_id, g.day_s, d.day_v
        |  FROM grid g LEFT JOIN daily d
        |    ON g.user_id = d.user_id AND g.day_s = d.day_s),
        |f AS (
        |  SELECT *,
        |    last_value(day_v IGNORE NULLS) OVER wb AS pv,
        |    last_value(CASE WHEN day_v IS NOT NULL THEN day_s END
        |               IGNORE NULLS) OVER wb AS ps,
        |    first_value(day_v IGNORE NULLS) OVER wf AS nv,
        |    first_value(CASE WHEN day_v IS NOT NULL THEN day_s END
        |                IGNORE NULLS) OVER wf AS ns
        |  FROM j
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY day_s
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wf AS (PARTITION BY user_id ORDER BY day_s
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day_s,
        |       strftime(make_timestamp(day_s * 1000000), '%Y-%m-%d') AS day,
        |       day_v,
        |       CASE WHEN day_v IS NOT NULL THEN day_v
        |            ELSE pv + (nv - pv) *
        |                 (CAST(day_s - ps AS DOUBLE) /
        |                  CAST(ns - ps AS DOUBLE)) END AS interp_v
        |FROM f ORDER BY 1, 2""".stripMargin
  )
}
