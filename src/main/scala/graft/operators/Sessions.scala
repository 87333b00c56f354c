package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based session statistics — the batch half of the sessionization
  * story (the streaming half is `EventStream`'s native session windows):
  * events split into sessions wherever a user pauses longer than the
  * gap, then per-session size/duration and a corpus-wide duration
  * distribution.
  *
  * Plan shape at 100 TB: the event stream shuffles ONCE onto the user
  * key for the lag/running-sum windows (per-partition state is one
  * user's events, high-cardinality and unskewed — same justification as
  * the q10 sessionize query), collapses to the per-session table in the
  * same partitioning (user is a prefix of the (user, session) grouping
  * key), and the one-row report aggregates |sessions| rows. The
  * percentile aggregate exposes the same `exact` switch as
  * [[Latency.conversionReport]]: exact `percentile` sorts all session
  * durations in one final buffer (the cross-engine-oracle form, fine to
  * ~10⁷ sessions), `approx_percentile` is the bounded-memory mergeable
  * path for beyond.
  */
object Sessions {

  /** Per-session table: (user, sess_id, n_events, dur_us). `sess_id`
    * numbers a user's sessions 1..n in time order; single-event
    * sessions have duration 0. */
  def sessionTable(
      events: DataFrame, gapMinutes: Int = 30, userCol: String = "user_id",
      tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    require(gapMinutes > 0, s"gapMinutes must be positive, got $gapMinutes")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    events
      .withColumn("_prev_us", lag(unix_micros(col(tsCol)), 1).over(w))
      .withColumn("_new_sess",
        when(col("_prev_us").isNull ||
          unix_micros(col(tsCol)) - col("_prev_us") > gapMinutes * 60L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("_new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(unix_micros(col(tsCol))) - min(unix_micros(col(tsCol))))
          .cast("double").as("dur_us"))
  }

  /** Like [[sessionTable]] but keeps the session's time extent:
    * `(user, sess_id, s_start_us, s_end_us, n_events)` with a half-open
    * `[s_start_us, s_end_us)` interval — the end is the last event plus
    * one microsecond so single-event sessions are non-empty and
    * back-to-back sessions never touch. The shape downstream interval
    * operators ([[RangeJoin.intervalOverlap]]) consume. */
  def sessionIntervals(
      events: DataFrame, gapMinutes: Int = 30, userCol: String = "user_id",
      tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    require(gapMinutes > 0, s"gapMinutes must be positive, got $gapMinutes")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    events
      .withColumn("_prev_us", lag(unix_micros(col(tsCol)), 1).over(w))
      .withColumn("_new_sess",
        when(col("_prev_us").isNull ||
          unix_micros(col(tsCol)) - col("_prev_us") > gapMinutes * 60L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("_new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("sess_id"))
      .agg(min(unix_micros(col(tsCol))).as("s_start_us"),
        (max(unix_micros(col(tsCol))) + 1L).as("s_end_us"),
        count(lit(1)).as("n_events"))
  }

  /** One-row report: `n_sessions`, `mean_events`, and one `p{N}_sec`
    * column per requested percentile of the session duration. */
  def durationReport(
      events: DataFrame, gapMinutes: Int = 30, userCol: String = "user_id",
      tsCol: String = "ts", idCol: String = "event_id",
      probs: Seq[Double] = Seq(0.5, 0.9),
      exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      s"percentile probs must be in (0,1): $probs")
    val per = sessionTable(events, gapMinutes, userCol, tsCol, idCol)
    val arr = probs.map(p => s"${p}D").mkString("array(", ", ", ")")
    val pcts =
      if (exact) expr(s"percentile(dur_us, $arr)")
      else expr(s"approx_percentile(dur_us, $arr, $accuracy)").cast("array<double>")
    val outs: Seq[Column] = Seq(
      count(lit(1)).as("n_sessions"),
      round(sum(col("n_events")).cast("double") / count(lit(1)), 6)
        .as("mean_events")) ++
      probs.zipWithIndex.map { case (p, i) =>
        Latency.percentileSec(element_at(pcts, i + 1), p).as(s"p${(p * 100).round}_sec")
      }
    per.agg(outs.head, outs.tail: _*)
  }

  /** Per-user inter-event cadence profile: gap count, total/mean gap in
    * whole seconds, and the squared coefficient of variation `cv2`
    * (population variance / mean², the dispersion index behind
    * burstiness scores — ~1 for a Poisson user, ≫1 for bursty ones).
    *
    * Exact arithmetic end to end: gaps are floor-second integers, the
    * moment sums accumulate in decimal(38,0) (a long `n·Σg²` overflows
    * around 10⁴ one-month gaps), and
    * `cv2 = (n·Σg² − (Σg)²) / (Σg)²` divides the two EXACT integers as
    * doubles only once at the end — associative integer sums make the
    * result partitioning-independent, the same discipline as
    * [[Anomaly.dailySpikes]].
    *
    * Plan shape at 100 TB: one shuffle on the user key shared by the
    * lag window and the per-user aggregate (user is the grouping key),
    * per-partition window state = one user's events. Output is |users|
    * rows.
    */
  /** Per-user floor-second inter-event gaps: `(user_id, _g)`, one row
    * per consecutive event pair in `(ts, id)` order — THE single gap
    * definition shared by [[interEventStats]] and the corpus-wide
    * percentile profile (u32), so the two views cannot diverge. */
  def gaps(
      events: DataFrame, userCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame =
    events
      .select(col(userCol).as("user_id"), unix_micros(col(tsCol)).as("_us"),
        col(idCol).as("_id"))
      .withColumn("_prev", lag(col("_us"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("_us"), col("_id"))))
      .where(col("_prev").isNotNull)
      .select(col("user_id"), expr("(_us - _prev) div 1000000").as("_g"))

  /** First-order Markov transition matrix over each user's time-ordered
    * event stream: for every (prev_type → next_type) pair, the observed
    * count, the source-state margin, and the transition probability in
    * exact integer ppm (`floor(n·1e6 / n_prev)`) — the behavioral model
    * behind next-action prediction, anomaly scoring ("this transition
    * has p < 1e-4"), and synthetic-journey generation.
    *
    * Determinism: successor pairs come from a `(ts, id)`-ordered `lag`,
    * so equal timestamps tie-break identically on any engine, and the
    * ppm floor-division keeps the matrix bit-identical across
    * partitionings (the attribution/surprisal quantization rule).
    *
    * Scale shape: ONE user-key shuffle for the per-user ordering (the
    * same exchange every sessionization op here rides), then the cell
    * aggregate collapses to |types|² rows, and the source margins are
    * RE-AGGREGATED from that tiny cell table (the t28/mutualInfo rule:
    * never a second pass over the events) and broadcast back. */
  def markovTransitions(
      events: DataFrame, userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", idCol: String = "event_id"): DataFrame = {
    val cells = events
      .select(col(userCol).as("user_id"), col(typeCol).as("_t"),
        unix_micros(col(tsCol)).as("_us"), col(idCol).as("_id"))
      .withColumn("_prev", lag(col("_t"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("_us"), col("_id"))))
      .where(col("_prev").isNotNull)
      .groupBy(col("_prev").as("prev_type"), col("_t").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val margins = cells.groupBy(col("prev_type")).agg(sum(col("n")).as("n_prev"))
    cells.join(broadcast(margins), "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"), col("n_prev"),
        // n counts raw transitions — at 10¹³ events n·10⁶ leaves the
        // long range, so the ppm numerator rides DECIMAL(38,0)
        expr("(CAST(n AS DECIMAL(38,0)) * 1000000) div n_prev").as("p_ppm"))
  }

  def interEventStats(
      events: DataFrame, userCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id", minGaps: Int = 2): DataFrame = {
    require(minGaps >= 1, s"minGaps must be >= 1, got $minGaps")
    val gapsDf = gaps(events, userCol, tsCol, idCol)
    val dec = col("_g").cast("decimal(20,0)")
    gapsDf.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("_g")).as("sum_gap_s"),
        sum(dec * dec).as("_s2"))
      .where(col("n_gaps") >= minGaps && col("sum_gap_s") > 0)
      .select(col("user_id"), col("n_gaps"), col("sum_gap_s"),
        expr("sum_gap_s div n_gaps").as("mean_gap_s"),
        round(
          ((col("n_gaps").cast("decimal(38,0)") * col("_s2") -
            col("sum_gap_s").cast("decimal(38,0)") * col("sum_gap_s").cast("decimal(38,0)"))
            .cast("double")) /
            ((col("sum_gap_s").cast("decimal(38,0)") * col("sum_gap_s").cast("decimal(38,0)"))
              .cast("double")),
          6).as("cv2"))
  }

  /** Per-user TIME-WEIGHTED average of a metric — the "what value was
    * this user holding, averaged over wall-clock" statistic (TWAP in
    * finance, time-in-state mean in process mining): each observation's
    * value is weighted by how long it stood, i.e. the duration until
    * the user's NEXT event. An event-weighted mean over-counts bursts
    * (ten ticks in a minute ≠ ten hours at that level); the
    * time-weighted mean is what billing, exposure, and dwell analyses
    * actually want. The user's last event has no successor and carries
    * no weight (the half-open-interval convention; feed a synthetic
    * as-of event per user to close the tail if needed).
    *
    * Engine-exact: values are integer cents, durations integer
    * microseconds from the (ts, id)-ordered lead; the weighted mean is
    * `sign(Σ c·dur) · (|Σ c·dur| div Σ dur)` in DECIMAL division —
    * sign-split so negative values (refunds/adjustments) quantize
    * identically on truncating (Spark `div`) and flooring (DuckDB
    * `//`) engines; zero total duration (all events simultaneous) →
    * NULL. One user-key window pass + the group aggregate riding the
    * same partitioning — a single shuffle at any scale.
    *
    * Output: `(user_id, n_intervals, total_dur_us, twa_cents)` for
    * users with ≥ 1 closed interval.
    */
  def timeWeightedValue(
      events: DataFrame, userCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id", valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy(col("_u")).orderBy(col("_t"), col("_id"))
    events.select(col(userCol).as("_u"), unix_micros(col(tsCol)).as("_t"),
        col(idCol).as("_id"), round(col(valueCol) * 100).cast("long").as("_c"))
      .withColumn("_nt", lead(col("_t"), 1).over(w))
      .where(col("_nt").isNotNull)
      .withColumn("_dur", col("_nt") - col("_t"))
      .groupBy(col("_u"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("_dur")).as("total_dur_us"),
        sum(col("_c").cast("decimal(38,0)") * col("_dur")).as("_cd"))
      .select(col("_u").as("user_id"), col("n_intervals"), col("total_dur_us"),
        // sign-split: Spark `div` truncates, DuckDB `//` floors — they
        // agree only on non-negative operands, and a refund/adjustment
        // event can make _cd negative. Both engines therefore compute
        // sign(_cd) * (|_cd| div dur) explicitly (the spendTrend /
        // modularity quantization pattern).
        when(col("total_dur_us") === 0, lit(null)).otherwise(
          when(col("_cd") >= 0, expr("CAST(_cd div total_dur_us AS BIGINT)"))
            .otherwise(-expr("CAST((-_cd) div total_dur_us AS BIGINT)")))
          .as("twa_cents"))
  }

  /** Per-user burstiness of the inter-event time distribution (Goh &
    * Barabási 2008, "Burstiness and memory in complex systems"):
    * `B = (σ − μ)/(σ + μ)` over the user's µs gaps — B → −1 for a
    * metronome (σ=0), ≈0 for Poisson arrivals, → +1 for extreme bursts.
    * The behavioral-rhythm signal that separates bot-like regularity
    * and binge usage from organic activity, complementing u15's
    * stickiness (how often) and u31's seasonality (when in the week)
    * with HOW CLUMPED.
    *
    * Engine-exact form: with S = Σg and D = n·Σg² − S² (both exact
    * integers; Σg² rides DECIMAL(38,0) — a 30-day gap squares to ~7·10²⁴,
    * past BIGINT), nσ = √D and nμ = S, so `B = (√D − S)/(√D + S)` — ONE
    * IEEE sqrt of an exactly-computed integer (deterministic across
    * engines, the d12-cosine precedent) and a final round(·, 6).
    * Users need ≥ 2 gaps (≥ 3 events) for a defined spread.
    *
    * Plan shape: the u44 single-exchange shape — one user-key shuffle
    * shared by the lead window and the moment aggregate; no joins. */
  def burstiness(
      events: DataFrame, userCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col("_u")).orderBy(col("_t"), col("_id"))
    events.select(col(userCol).as("_u"), unix_micros(col(tsCol)).as("_t"),
        col(idCol).as("_id"))
      .withColumn("_g", lead(col("_t"), 1).over(w) - col("_t"))
      .where(col("_g").isNotNull)
      .groupBy(col("_u"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("_g")).as("_s"),
        sum(col("_g").cast("decimal(38,0)") * col("_g")).as("_s2"))
      .where(col("n_gaps") >= 2)
      // the spread numerator n·Σg² − S² can exceed DECIMAL(38,0) for a
      // pathological user (n·Σg² > 1e38 needs gaps summing past ~1e15 µs
      // ≈ 30 years, but the bound is data-reachable in principle); under
      // non-ANSI Spark the overflow silently NULLs while the DuckDB
      // HUGEINT oracle errors loudly — so make it an error HERE too:
      // _s2 is non-null by construction, so a NULL product means exactly
      // one thing, overflow
      .withColumn("_nm",
        expr("n_gaps * _s2 - CAST(_s AS DECIMAL(38,0)) * _s"))
      .withColumn("_nm", when(col("_nm").isNull, expr(
        "raise_error('burstiness: n_gaps * sum(gap^2) overflowed DECIMAL(38,0) " +
          "- rescale the gap unit before aggregating')"))
        .otherwise(col("_nm")))
      .select(col("_u").as("user_id"), col("n_gaps"),
        // S = 0 (every gap zero — all events simultaneous) makes B the
        // undefined 0/0; NULL, not NaN, so the output hashes stably
        when(col("_s") === 0, lit(null)).otherwise(round(
          (sqrt(col("_nm").cast("double")) - col("_s").cast("double")) /
            (sqrt(col("_nm").cast("double")) + col("_s").cast("double")),
          6)).as("burstiness"))
  }
}
