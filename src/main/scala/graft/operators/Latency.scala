package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Conversion-latency distributions: percentiles of the gap between a
  * user's first `fromEvent` and their first `toEvent` at-or-after it —
  * the "how long from signup to purchase" UBA report.
  *
  * The gap table is per-user (small after the user-key shuffle it
  * shares with the funnel operators); the percentile aggregate over it
  * is the scale decision this API exposes:
  *   - `exact = true` (default, the cross-engine-oracle form): the
  *     `percentile` aggregate sorts all per-user gaps in ONE final
  *     aggregation buffer — exact, but a single-reducer memory ceiling
  *     that is fine to ~10⁷ converting users and wrong past it.
  *   - `exact = false`: `approx_percentile`, a bounded-memory mergeable
  *     quantile summary with map-side partials — rank error ≤
  *     1/`accuracy`, no ceiling; the production setting at 100 TB.
  */
object Latency {

  /** One-row report: `n_converted` plus one `p{N}_sec` column per
    * requested percentile (gap in seconds, see [[percentileSec]]). */
  def conversionReport(
      events: DataFrame, fromEvent: String = "signup",
      toEvent: String = "purchase",
      userCol: String = "user_id", tsCol: String = "ts",
      probs: Seq[Double] = Seq(0.5, 0.9, 0.99),
      exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      s"percentile probs must be in (0,1): $probs")
    val gaps = conversionGaps(events, fromEvent, toEvent, userCol, tsCol)
    val arr = probs.map(p => s"${p}D").mkString("array(", ", ", ")")
    val pcts =
      if (exact) expr(s"percentile(gap_us, $arr)")
      else expr(s"approx_percentile(gap_us, $arr, $accuracy)").cast("array<double>")
    val outs: Seq[Column] = count(lit(1)).as("n_converted") +:
      probs.zipWithIndex.map { case (p, i) =>
        percentileSec(element_at(pcts, i + 1), p).as(s"p${(p * 100).round}_sec")
      }
    gaps.agg(outs.head, outs.tail: _*)
  }

  /** Percentile `p` of integer microseconds, in seconds, the same double
    * in any engine. The exact interpolated value lo + (hi - lo) *
    * frac((n - 1) * p) lies on the 10^-d µs grid, d the decimal places of
    * `p`: an even-count median ends in .0 or .5 µs. Rounding to that grid
    * only strips the interpolation's floating error, far below half a
    * step, so it never meets a tie (rounding x.5 µs to whole µs or
    * x.5e-6 s to 6 decimals does, and Spark and DuckDB break it
    * differently); the division by 1e6 is one correctly rounded step. */
  private[graft] def percentileSec(pctUs: Column, p: Double): Column =
    round(pctUs, BigDecimal(p).scale) / 1e6

  /** Per-converting-user gap table (`gap_us`, microseconds between the
    * first `fromEvent` and the first `toEvent` at-or-after it). One
    * shuffle on the user key. */
  def conversionGaps(
      events: DataFrame, fromEvent: String, toEvent: String,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    val s0 = events.where(col("event_type") === fromEvent)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("t0"))
    events.join(s0, userCol)
      .where(col("event_type") === toEvent && col(tsCol) >= col("t0"))
      .groupBy(col(userCol), col("t0")).agg(min(col(tsCol)).as("tp"))
      .select((unix_micros(col("tp")) - unix_micros(col("t0")))
        .cast("double").as("gap_us"))
  }
}
