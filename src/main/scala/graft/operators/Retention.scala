package graft.operators

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Column, Encoder, Encoders, functions}

/** Input row of `retention_count`: the four SQL arguments.
  *
  * Mirrors the reference UDAF signature `[Boolean, Boolean, Int64, Int64]`
  * (reference: src/retention/mod.rs:30-39). `maxUnit` must be group-constant
  * (the reference reads it from the first row only,
  * src/retention/retention_count.rs:78-88); `timeDiff` must lie in
  * `[0, maxUnit]` — callers pre-filter the time column into the window, as
  * the reference examples do (examples/retention_parquet.rs:33).
  */
case class RetentionCountInput(born: Boolean, target: Boolean, maxUnit: Long, timeDiff: Long)

/** Buffer: the per-group born/target bitmap pair — also the per-user
  * state of [[graft.streaming.StatefulRetention]]. Empty arrays = not yet
  * initialized (the reference's `max_unit == -1` sentinel,
  * src/retention/retention_count.rs:37,78). Values are 0/1/2; `2` marks a
  * day whose target event fired only on rows that were simultaneously the
  * born event (consumed by RetentionSumAgg's same-day suppression rule).
  */
case class RetentionCountBuffer(var born: Array[Byte], var target: Array[Byte])

/** The bitmap update and merge rule — the one copy, used by the batch
  * aggregate's `reduce` and `merge` and by the streaming state.
  *
  * Target markers rank `0 < 2 < 1`: a day keeps its strongest marker, so
  * a target-only row outranks the self-marker `2` whatever the row order
  * or partitioning. This departs from the reference, whose per-row
  * assignment lets the last write win within a partition
  * (src/retention/retention_count.rs:103-113) while its merge takes the
  * numeric max — the same rows then give different bitmaps on different
  * partitionings.
  */
object RetentionBitmap {

  private def stronger(a: Byte, b: Byte): Byte = if (a == 1 || b == 0) a else b

  /** Records one row at day `t`: `born(t) = 1` when born; when target,
    * the marker `2` if the row is also born, else `1`, kept by rank. */
  def record(buf: RetentionCountBuffer, t: Int, born: Boolean, target: Boolean): Unit = {
    if (born) buf.born(t) = 1
    if (target) buf.target(t) = stronger(buf.target(t), if (born) 2 else 1)
  }

  /** Folds `from` into `into` (same window length) by the same rank. */
  def merge(into: RetentionCountBuffer, from: RetentionCountBuffer): Unit = {
    var i = 0
    while (i < from.born.length) {
      if (from.born(i) == 1) into.born(i) = 1
      into.target(i) = stronger(into.target(i), from.target(i))
      i += 1
    }
  }
}

/** `retention_count(born BOOLEAN, target BOOLEAN, max_unit BIGINT,
  * time_diff BIGINT) -> ARRAY<ARRAY<TINYINT>>` — per-user retention bitmap
  * pair over a window of `max_unit + 1` time units, conventionally grouped
  * by user id.
  *
  * Spark-native re-expression of the reference accumulator
  * (src/retention/retention_count.rs:25-178):
  *   - per-row update: born -> `born(t) = 1`; target -> `target(t) = 2`
  *     when the same row is also born, else `1` (reference :103-113),
  *     kept by the [[RetentionBitmap]] rank so row order never matters;
  *   - merge: the same rank elementwise, adopting the other side
  *     wholesale when uninitialized (reference :143-177);
  *   - finish: `[born, target]` (reference :122-130).
  *
  * Registered via `functions.udaf`, which gives Spark's partial/final
  * aggregation split (ObjectHashAggregate) for free — the exact analogue of
  * the reference's `state()`/`merge_batch` contract.
  */
class RetentionCountAgg
    extends Aggregator[RetentionCountInput, RetentionCountBuffer, Seq[Seq[Byte]]] {

  override def zero: RetentionCountBuffer =
    RetentionCountBuffer(Array.emptyByteArray, Array.emptyByteArray)

  override def reduce(
      b: RetentionCountBuffer,
      in: RetentionCountInput): RetentionCountBuffer = {
    if (b.born.isEmpty) {
      // Lazy window init from the first row's max_unit (reference :78-88).
      val n = (in.maxUnit + 1).toInt
      require(n > 0, s"retention_count: max_unit must be >= 0, got ${in.maxUnit}")
      b.born = new Array[Byte](n)
      b.target = new Array[Byte](n)
    }
    val t = in.timeDiff.toInt
    if (t < 0 || t >= b.born.length) {
      throw new IllegalArgumentException(
        s"retention_count: time_diff $t outside window [0, ${b.born.length - 1}]; " +
          "pre-filter the time column into the retention window")
    }
    RetentionBitmap.record(b, t, in.born, in.target)
    b
  }

  override def merge(
      a: RetentionCountBuffer,
      b: RetentionCountBuffer): RetentionCountBuffer = {
    if (a.born.isEmpty) b
    else if (b.born.isEmpty) a
    else { RetentionBitmap.merge(a, b); a }
  }

  override def finish(b: RetentionCountBuffer): Seq[Seq[Byte]] =
    Seq(b.born.toSeq, b.target.toSeq)

  override def bufferEncoder: Encoder[RetentionCountBuffer] =
    Encoders.product[RetentionCountBuffer]

  override def outputEncoder: Encoder[Seq[Seq[Byte]]] =
    ExpressionEncoder[Seq[Seq[Byte]]]()
}

/** Buffer: the running retention triangle — elementwise sums across users.
  *
  * The reference keeps O(#users) per-user matrices and only sums them at
  * `evaluate` (src/retention/retention_sum.rs:133-140,148-182); since
  * evaluation is a pure elementwise sum, keeping the running sum instead is
  * semantically identical and O(window^2) instead of O(users * window^2) —
  * the scalable form for 100 TB inputs. Empty = no rows seen yet.
  */
case class RetentionSumBuffer(var rows: Array[Array[Long]])

/** `retention_sum(stats ARRAY<ARRAY<TINYINT>>) -> ARRAY<ARRAY<BIGINT>>` —
  * aggregates all users' `retention_count` outputs into the cohort
  * "retention triangle":
  *
  *   `[ born_per_day(n), cohort0_retained(n), cohort1_retained(n-1), ...,
  *      cohort_{n-1}_retained(1) ]`
  *
  * Per input row `[born, target]` of length n the user contributes
  * (reference src/retention/retention_sum.rs:66-147):
  *   - row 0: the born vector itself (cast to long);
  *   - row b+1 (cohort day b), entries t in b..n-1:
  *     `born(b) AND target(t)` where a target marker `2` counts as 0 when
  *     `t == b` (an event that is both born and target does not retain its
  *     own cohort same-day, reference :92-105) and as 1 when `t > b`.
  */
class RetentionSumAgg
    extends Aggregator[Seq[Seq[Byte]], RetentionSumBuffer, Seq[Seq[Long]]] {

  override def zero: RetentionSumBuffer = RetentionSumBuffer(Array.empty)

  override def reduce(buf: RetentionSumBuffer, stats: Seq[Seq[Byte]]): RetentionSumBuffer = {
    require(stats.length == 2,
      s"retention_sum: expected [born, target] pair, got ${stats.length} vectors")
    val born = stats.head
    val target = stats(1)
    val n = born.length
    if (buf.rows.isEmpty) {
      // rows(0) has length n; rows(b + 1) has length n - b (ragged triangle).
      buf.rows = Array.tabulate(n + 1)(i => new Array[Long](if (i == 0) n else n - i + 1))
    }
    require(buf.rows(0).length == n,
      s"retention_sum: window size mismatch ($n vs ${buf.rows(0).length}); " +
        "all stats rows must share one max_unit")
    var b = 0
    while (b < n) {
      buf.rows(0)(b) += born(b).toLong
      var t = b
      while (t < n) {
        val tv = target(t)
        val eff: Long =
          if (tv == 2) { if (t == b) 0L else 1L }
          else tv.toLong
        buf.rows(b + 1)(t - b) += born(b).toLong & eff
        t += 1
      }
      b += 1
    }
    buf
  }

  override def merge(a: RetentionSumBuffer, b: RetentionSumBuffer): RetentionSumBuffer = {
    if (a.rows.isEmpty) b
    else if (b.rows.isEmpty) a
    else {
      require(a.rows.length == b.rows.length,
        "retention_sum: merging buffers with different window sizes")
      var i = 0
      while (i < a.rows.length) {
        val ra = a.rows(i); val rb = b.rows(i)
        var j = 0
        while (j < ra.length) { ra(j) += rb(j); j += 1 }
        i += 1
      }
      a
    }
  }

  override def finish(buf: RetentionSumBuffer): Seq[Seq[Long]] =
    buf.rows.toSeq.map(_.toSeq)

  override def bufferEncoder: Encoder[RetentionSumBuffer] =
    Encoders.product[RetentionSumBuffer]

  override def outputEncoder: Encoder[Seq[Seq[Long]]] =
    ExpressionEncoder[Seq[Seq[Long]]]()
}

/** Column API for the retention aggregates; their SQL registration is
  * [[graft.functions.FunctionTable]]. */
object Retention {
  private[graft] lazy val retentionCountUdf =
    functions.udaf(new RetentionCountAgg, Encoders.product[RetentionCountInput])
  private[graft] lazy val retentionSumUdf =
    functions.udaf(new RetentionSumAgg, ExpressionEncoder[Seq[Seq[Byte]]]())

  /** `retention_count(born, target, max_unit, time_diff)` as a Column. */
  def retention_count(born: Column, target: Column, maxUnit: Column, timeDiff: Column): Column =
    retentionCountUdf(born, target, maxUnit, timeDiff)

  /** `retention_sum(stats)` as a Column. */
  def retention_sum(stats: Column): Column = retentionSumUdf(stats)
}
