package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Anomaly, AsOf, Attribution, Experiment, Funnel, Lifecycle, Paths, Rfm, Sessions, Survival}

class FunnelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("funnel-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  private def events = {
    import spark.implicits._
    Seq(
      // user 1: full conversion in order
      (1L, "signup", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-02 10:00:00")),
      (1L, "purchase", ts("2024-01-03 10:00:00")),
      // user 2: purchase BEFORE click — ordered funnel must not count it
      (2L, "signup", ts("2024-01-01 10:00:00")),
      (2L, "purchase", ts("2024-01-02 09:00:00")),
      (2L, "click", ts("2024-01-02 10:00:00")),
      // user 3: click outside the 7-day window
      (3L, "signup", ts("2024-01-01 10:00:00")),
      (3L, "click", ts("2024-01-20 10:00:00")),
      // user 4: never signs up — not in the funnel at all
      (4L, "click", ts("2024-01-01 10:00:00")))
      .toDF("user_id", "event_type", "ts").repartition(2)
  }

  test("ordered funnel: order and window are enforced, earliest timestamps kept") {
    val st = Funnel.userStages(events, Seq("signup", "click", "purchase"), 7)
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(st === Map(1L -> 3, 2L -> 2, 3L -> 1))
  }

  test("report counts are monotone and match stages") {
    val r = Funnel.report(events, Seq("signup", "click", "purchase"), 7).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) === ((3L, 3L, 2L, 1L)))
  }

  test("as-of join attributes each target to the latest prior source") {
    import spark.implicits._
    val e = Seq(
      // user 1: click → purchase → click → purchase (each purchase takes
      // the latest click at or before it)
      (1L, 10L, "click", ts("2024-01-01 09:00:00")),
      (1L, 11L, "purchase", ts("2024-01-01 10:00:00")),
      (1L, 12L, "click", ts("2024-01-02 09:00:00")),
      (1L, 13L, "purchase", ts("2024-01-02 10:00:00")),
      // user 2: purchase with no prior click → null attribution
      (2L, 20L, "purchase", ts("2024-01-01 10:00:00")),
      (2L, 21L, "click", ts("2024-01-01 11:00:00")),
      // user 3: click at the same instant qualifies (at-or-before)
      (3L, 30L, "click", ts("2024-01-01 10:00:00")),
      (3L, 31L, "purchase", ts("2024-01-01 10:00:00")))
      .toDF("user_id", "event_id", "event_type", "ts").repartition(2)
    val r = AsOf.latestPrior(e, "purchase", "click")
      .collect().map(x => x.getLong(1) -> Option(x.getTimestamp(3))).toMap
    assert(r(11L) === Some(ts("2024-01-01 09:00:00")))
    assert(r(13L) === Some(ts("2024-01-02 09:00:00"))) // latest, not first
    assert(r(20L) === None) // no prior click
    assert(r(31L) === Some(ts("2024-01-01 10:00:00"))) // same-instant tie
  }

  test("forward as-of finds the earliest strictly-later source per target") {
    import spark.implicits._
    def us(s: String): Long = ts(s).getTime * 1000L
    val e = Seq(
      // user 1: click → two later purchases (earliest wins), then a
      // trailing click with nothing after → null
      (1L, 10L, "click", ts("2024-01-01 09:00:00")),
      (1L, 11L, "purchase", ts("2024-01-01 10:00:00")),
      (1L, 12L, "purchase", ts("2024-01-01 12:00:00")),
      (1L, 13L, "click", ts("2024-01-02 09:00:00")),
      // user 2: purchase BEFORE the click does not qualify
      (2L, 20L, "purchase", ts("2024-01-01 08:00:00")),
      (2L, 21L, "click", ts("2024-01-01 09:00:00")),
      // user 3: purchase at the same ts with a LATER id is strictly
      // after in the (ts, id) order, so it qualifies
      (3L, 30L, "click", ts("2024-01-01 10:00:00")),
      (3L, 31L, "purchase", ts("2024-01-01 10:00:00")))
      .toDF("user_id", "event_id", "event_type", "ts").repartition(2)
    val r = AsOf.firstAfter(e, "click", "purchase")
      .collect().map(x => x.getLong(1) ->
        (if (x.isNullAt(3)) None else Some(x.getLong(3)))).toMap
    assert(r(10L) === Some(us("2024-01-01 10:00:00"))) // earliest, not latest
    assert(r(13L) === None) // nothing follows
    assert(r(21L) === None) // earlier purchase does not qualify
    assert(r(30L) === Some(us("2024-01-01 10:00:00"))) // same-ts later id
  }

  test("same-timestamp step events qualify (>= boundary)") {
    import spark.implicits._
    val e = Seq(
      (1L, "signup", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 10:00:00")))
      .toDF("user_id", "event_type", "ts")
    val st = Funnel.userStages(e, Seq("signup", "click"), 7).collect()
    assert(st.head.getInt(3) === 2)
  }

  test("rfm segmentation scores by quartile cutoffs, recency inverted") {
    import spark.implicits._
    // purchase metrics: r_days [2,6,8,8] → cuts (5.0, 7.0, 8.0);
    // f [1,2,3,4] → (1.75, 2.5, 3.25); m [10,40,90,160] → (32.5, 65, 107.5)
    val e = (Seq((9L, "click", ts("2024-01-12 00:00:00"), 0.0)) ++ // sets as-of day
      Seq(1L -> Seq(10), 2L -> Seq(5, 6), 3L -> Seq(2, 3, 4), 4L -> Seq(1, 2, 3, 4))
        .flatMap { case (u, days) =>
          days.map(d => (u, "purchase", ts(f"2024-01-$d%02d 10:00:00"), u * 10.0))
        }).toDF("user_id", "event_type", "ts", "value").repartition(3)
    val r = Rfm.segments(e).collect().map(x =>
      x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3),
        x.getInt(4), x.getInt(5), x.getInt(6)))).toMap
    assert(r === Map(
      1L -> ((2L, 1L, 10.0, 4, 1, 1)),
      2L -> ((6L, 2L, 40.0, 3, 2, 2)),
      3L -> ((8L, 3L, 90.0, 2, 3, 3)),
      4L -> ((8L, 4L, 160.0, 2, 4, 4))))
  }

  test("experiment lift matches a hand-computed two-proportion test") {
    import spark.implicits._
    // 40 users, every third one converts; variant comes from the hash, so
    // recover the assignment through the same column and recompute the
    // report arithmetic independently in Scala
    val e = (1L to 40L).flatMap { u =>
      Seq((u, "view", ts("2024-01-01 10:00:00"))) ++
        (if (u % 3 == 0) Seq((u, "purchase", ts("2024-01-02 10:00:00"))) else Nil)
    }.toDF("user_id", "event_type", "ts").repartition(3)

    val assign = e.select($"user_id",
        Experiment.variant("exp1", $"user_id", 50).as("v"))
      .distinct().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = Seq("control", "treatment").map { v =>
      val us = (1L to 40L).filter(assign(_) == v)
      val n = us.size.toDouble
      val c = us.count(_ % 3 == 0).toDouble
      (v, us.size.toLong, us.count(_ % 3 == 0).toLong, c / n)
    }
    val Seq((_, nC, cC, pC), (_, nT, cT, pT)) = expected
    val pp = (cC + cT).toDouble / (nC + nT)
    val se = math.sqrt(pp * (1.0 - pp) * (1.0 / nT + 1.0 / nC))

    val rows = Experiment.liftReport(e, $"event_type" === "purchase").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set("control", "treatment"))
    val ctrl = rows("control")
    assert((ctrl.getLong(1), ctrl.getLong(2)) === ((nC, cC)))
    assert(ctrl.getDouble(4) === 0.0 && ctrl.getDouble(5) === 0.0)
    val tr = rows("treatment")
    assert((tr.getLong(1), tr.getLong(2)) === ((nT, cT)))
    assert(math.abs(tr.getDouble(3) - pT) < 1e-6)
    assert(math.abs(tr.getDouble(4) - (pT - pC) / pC) < 1e-6)
    assert(math.abs(tr.getDouble(5) - (pT - pC) / se) < 1e-6)

    // pure function of (experiment, user): repartitioning changes nothing
    val again = Experiment.liftReport(e.repartition(7), $"event_type" === "purchase")
      .collect()
      .map(r => r.toSeq).toSet
    assert(again === rows.values.map(_.toSeq).toSet)
  }

  test("top paths: first-k prefix in (ts, id) order, ties and truncation") {
    import spark.implicits._
    val e = Seq(
      // user 1: six events — path truncates at k=3; same-ts pair on
      // 01-02 ordered by event_id (20 before 21)
      (1L, 10L, "signup", ts("2024-01-01 10:00:00")),
      (1L, 21L, "click", ts("2024-01-02 10:00:00")),
      (1L, 20L, "view", ts("2024-01-02 10:00:00")),
      (1L, 30L, "purchase", ts("2024-01-03 10:00:00")),
      (1L, 40L, "view", ts("2024-01-04 10:00:00")),
      (1L, 50L, "error", ts("2024-01-05 10:00:00")),
      // user 2: same first-3 journey as user 1
      (2L, 11L, "signup", ts("2024-02-01 10:00:00")),
      (2L, 12L, "view", ts("2024-02-02 10:00:00")),
      (2L, 13L, "click", ts("2024-02-03 10:00:00")),
      // user 3: short journey — path is just what exists
      (3L, 14L, "view", ts("2024-03-01 10:00:00")))
      .toDF("user_id", "event_id", "event_type", "ts").repartition(3)
    val got = Paths.topPaths(e, k = 3, topN = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.toSeq === Seq("signup>view>click" -> 2L, "view" -> 1L))

    // topN truncation keeps the most common paths, ties on path asc
    val top1 = Paths.topPaths(e, k = 3, topN = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(top1.toSeq === Seq("signup>view>click" -> 2L))

    // bounded-aggregate result is partition-invariant
    val again = Paths.topPaths(e.repartition(7), k = 3, topN = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(again.toSeq === got.toSeq)
  }

  test("session stats: gap split, durations, hand-computed percentiles") {
    import spark.implicits._
    val e = Seq(
      // user 1, session 1: three events over 20 min (duration 1200 s)
      (1L, 1L, ts("2024-01-01 10:00:00")),
      (1L, 2L, ts("2024-01-01 10:10:00")),
      (1L, 3L, ts("2024-01-01 10:20:00")),
      // user 1, session 2 after a 2 h gap: single event (duration 0)
      (1L, 4L, ts("2024-01-01 12:20:01")),
      // user 2: one event, one zero-duration session
      (2L, 5L, ts("2024-01-02 09:00:00")))
      .map { case (u, i, t) => (u, i, "view", t) }
      .toDF("user_id", "event_id", "event_type", "ts").repartition(3)
    val per = Sessions.sessionTable(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(per === Map(
      (1L, 1L) -> ((3L, 1200e6)), (1L, 2L) -> ((1L, 0.0)),
      (2L, 1L) -> ((1L, 0.0))))
    val rep = Sessions.durationReport(e).head
    // durations [0, 0, 1200] s: p50 = 0, p90 interpolates to 960 s
    assert(rep.getLong(0) === 3L)
    assert(math.abs(rep.getDouble(1) - 5.0 / 3) < 1e-6)
    assert(rep.getDouble(2) === 0.0)
    assert(math.abs(rep.getDouble(3) - 960.0) < 1e-9)
    // exactly-at-gap boundary (30:00) stays in the same session
    val b = Seq((9L, 1L, "view", ts("2024-01-01 10:00:00")),
      (9L, 2L, "view", ts("2024-01-01 10:30:00")))
      .toDF("user_id", "event_id", "event_type", "ts")
    assert(Sessions.sessionTable(b).collect().length === 1)
  }

  test("funnel exclusion: strictly-between void, boundary errors don't count") {
    import spark.implicits._
    val e = Seq(
      // u1: clean conversion, no error anywhere
      (1L, "signup", "10:00"), (1L, "click", "10:05"), (1L, "purchase", "10:10"),
      // u2: error strictly inside (t0, t2) → voided
      (2L, "signup", "10:00"), (2L, "error", "10:03"),
      (2L, "click", "10:05"), (2L, "purchase", "10:10"),
      // u3: enters but never completes
      (3L, "signup", "10:00"), (3L, "click", "10:05"),
      // u4: errors only outside the open interval (before entry, exactly
      // at completion, after completion) → still clean
      (4L, "error", "09:00"), (4L, "signup", "10:00"), (4L, "click", "10:05"),
      (4L, "purchase", "10:10"), (4L, "error", "10:10"), (4L, "error", "11:00"))
      .zipWithIndex
      .map { case ((u, t, hm), i) =>
        (u, i.toLong, t, ts(s"2024-01-01 $hm:00")) }
      .toDF("user_id", "event_id", "event_type", "ts").repartition(3)
    val r = Funnel.cleanReport(e, Seq("signup", "click", "purchase"), "error").head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((4L, 3L, 1L, 2L)))
  }

  test("attribution: U-shaped credit per epoch, exact ppm, trailing touches dropped") {
    import spark.implicits._
    // u1 epoch 1: view, click, view, signup → conv. 4 touches:
    //   first view 0.4, click 0.066666, view 0.066666, signup 0.4
    // u1 epoch 2 (after conv 1): click → conv. 1 touch: click 1.0
    // u1 trailing view after last conversion: no credit
    // u2: view, click → conv. 2 touches: 0.5 each
    val e = Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "view"),
      (1L, 4L, "signup"), (1L, 5L, "purchase"),
      (1L, 6L, "click"), (1L, 7L, "purchase"),
      (1L, 8L, "view"),
      (2L, 9L, "view"), (2L, 10L, "click"), (2L, 11L, "purchase"))
      .map { case (u, i, t) =>
        (u, i, t, ts(f"2024-01-01 10:${i}%02d:00")) }
      .toDF("user_id", "event_id", "event_type", "ts").repartition(3)
    val r = Attribution.positionCredit(e).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    // floor(200000/2) = 100000 ppm = 0.1 for each middle touch
    assert(r === Map(
      "view" -> ((3L, 0.4 + 0.1 + 0.5)),
      "click" -> ((3L, 0.1 + 1.0 + 0.5)),
      "signup" -> ((1L, 0.4))), r)
    // no purchase channel, no credit for the trailing view
    assert(!r.contains("purchase"))
    assert(r.values.map(_._1).sum === 7L)
  }

  test("growth accounting: new/retained/resurrected/churned identities") {
    import spark.implicits._
    // u1 active Jan 1, 2, 5 (two events on Jan 1 must not double-count);
    // u2 active Jan 2 only
    val e = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00")),
      (1L, 2L, ts("2024-01-01 11:00:00")),
      (1L, 3L, ts("2024-01-02 10:00:00")),
      (1L, 4L, ts("2024-01-05 10:00:00")),
      (2L, 5L, ts("2024-01-02 09:00:00")))
      .map { case (u, i, t) => (u, i, "view", t) }
      .toDF("user_id", "event_id", "event_type", "ts").repartition(3)
    val r = Lifecycle.growthAccounting(e).collect()
      .map(x => x.getDate(0).toString ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(r === Map(
      "2024-01-01" -> ((1L, 0L, 0L, 0L)),   // u1 new
      "2024-01-02" -> ((1L, 1L, 0L, 0L)),   // u2 new, u1 retained
      "2024-01-03" -> ((0L, 0L, 0L, 2L)),   // both churn after Jan 2
      "2024-01-05" -> ((0L, 0L, 1L, 0L)),   // u1 resurrects
      "2024-01-06" -> ((0L, 0L, 0L, 1L))),  // trailing right-censored churn
      r)
    // identity: churned(d) = active(d-1) - retained(d) on the interior day
    assert(r("2024-01-03")._4 === 2L)
  }

  test("daily spikes: z against the user's own history, exact exclusions") {
    import spark.implicits._
    // user 1: nine 1-event days + one 11-event day → mean 2, std 3.162,
    // z(11) = 2.846 flagged, z(1) negative; user 2: constant 3/day →
    // integer variance numerator exactly 0, excluded; user 3: two days
    // only, under minDays
    val e = ((1 to 9).flatMap(d => Seq((1L, ts(f"2024-01-$d%02d 10:00:00")))) ++
      (1 to 11).map(i => (1L, ts(f"2024-01-10 ${9 + i % 3}%02d:0$i:00"))) ++
      (1 to 3).flatMap(d => (1 to 3).map(i => (2L, ts(f"2024-02-0$d 1$i:00:00")))) ++
      Seq((3L, ts("2024-03-01 10:00:00")), (3L, ts("2024-03-02 10:00:00"))))
      .map { case (u, t) => (u, "view", t) }
      .toDF("user_id", "event_type", "ts").repartition(3)
    val r = Anomaly.dailySpikes(e).collect()
      .map(x => (x.getLong(0), x.getDate(1).toString, x.getLong(2), x.getDouble(3)))
    assert(r.length === 1)
    val (u, day, c, z) = r.head
    assert(u === 1L && day === "2024-01-10" && c === 11L)
    // mean 2, var (10*130-400)/90 = 10, z = 9/sqrt(10)
    assert(math.abs(z - 9.0 / math.sqrt(10.0)) < 1e-6)
  }

  test("km life table: right-censoring at the horizon, hand-computed hazards") {
    import spark.implicits._
    // horizon anchor: user 5's click makes the global max event day
    // 2024-01-10. Converters: u1 (d=2), u4 (d=0, same-day). Censored:
    // u2 (h=9), u3 (h=2), u6 (h=5 — its purchase PREDATES signup and
    // must not count). u5 never signs up → outside the table.
    val e = Seq(
      (1L, "signup", ts("2024-01-01 10:00:00")),
      (1L, "purchase", ts("2024-01-03 09:00:00")),
      (2L, "signup", ts("2024-01-01 11:00:00")),
      (3L, "signup", ts("2024-01-08 10:00:00")),
      (4L, "signup", ts("2024-01-09 08:00:00")),
      (4L, "purchase", ts("2024-01-09 23:00:00")),
      (5L, "click", ts("2024-01-10 12:00:00")),
      (6L, "signup", ts("2024-01-05 10:00:00")),
      (6L, "purchase", ts("2024-01-04 10:00:00")))
      .toDF("user_id", "event_type", "ts").repartition(3)
    val rows = Survival.lifeTable(e, "signup", "purchase")
      .orderBy("t").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
    val expect = Seq(
      0L -> ((5L, 1L, 0L, 200000L)),
      1L -> ((4L, 0L, 0L, 0L)),
      2L -> ((4L, 1L, 1L, 250000L)),
      3L -> ((2L, 0L, 0L, 0L)),
      4L -> ((2L, 0L, 0L, 0L)),
      5L -> ((2L, 0L, 1L, 0L)),
      6L -> ((1L, 0L, 0L, 0L)),
      7L -> ((1L, 0L, 0L, 0L)),
      8L -> ((1L, 0L, 0L, 0L)),
      9L -> ((1L, 0L, 1L, 0L)))
    assert(rows.toSeq === expect)
    // life-table identity: the risk set drains by exactly the exits
    rows.toSeq.sliding(2).foreach { case Seq((_, (ar0, c0, x0, _)), (_, (ar1, _, _, _))) =>
      assert(ar1 === ar0 - c0 - x0)
    case _ => ()
    }
  }

  /** Interpolated percentile `p` of integer microseconds, in exact decimal
    * arithmetic, as the double nearest to it in seconds. */
  private def refPctSec(us: Seq[Long], p: Double): Double = {
    val v = us.sorted.map(BigDecimal(_))
    val pos = BigDecimal(v.size - 1) * BigDecimal(p)
    val lo = pos.setScale(0, BigDecimal.RoundingMode.FLOOR)
    val hi = pos.setScale(0, BigDecimal.RoundingMode.CEILING)
    val x = v(lo.toInt) + (v(hi.toInt) - v(lo.toInt)) * (pos - lo)
    (x / BigDecimal(1000000)).toDouble
  }

  test("percentile reports: an even-count median on x.5 us is exact in seconds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    def check(got: Double, us: Seq[Long], p: Double, what: String): Unit = {
      val ref = refPctSec(us, p)
      // the median is exact; other percentiles divide a grid value that is
      // itself a rounded double, so they may sit one ulp off the reference
      if (p == 0.5) assert(got === ref, what)
      else assert(math.abs(got - ref) <= math.ulp(ref), s"$what: $got vs $ref")
    }
    val t0 = 1704067200000000L // 2024-01-01 00:00:00 UTC
    val d01 = Seq(135780466256L, 135780466257L) // median ends in .5 us
    val d12 = Seq(1000001L, 1000001L)
    val ev = d01.zip(d12).zipWithIndex.flatMap { case ((a, b), u) =>
      Seq(("signup", t0), ("click", t0 + a), ("purchase", t0 + a + b))
        .map { case (k, us) => (u.toLong, k, us) }
    }.zipWithIndex.map { case ((u, k, us), i) => (i.toLong, u, k, us) }
      .toDF("event_id", "user_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val conv = graft.operators.Latency.conversionReport(ev).head()
    val gaps = d01.zip(d12).map { case (a, b) => a + b }
    Seq(0.5, 0.9, 0.99).zipWithIndex.foreach { case (p, i) =>
      check(conv.getDouble(i + 1), gaps, p, s"q17 p$p")
    }
    assert(conv.getDouble(1) === 135781.4662575)

    val dir = TempDirs("graft_pct").toString
    ev.write.parquet(s"$dir/events.parquet")
    val u21 = SparkEntry.queries("u21_funnel_latency")(spark, dir).head()
    check(u21.getAs[Double]("p50_01_sec"), d01, 0.5, "u21 p50_01")
    check(u21.getAs[Double]("p90_01_sec"), d01, 0.9, "u21 p90_01")
    check(u21.getAs[Double]("p50_12_sec"), d12, 0.5, "u21 p50_12")
    assert(u21.getAs[Double]("p50_01_sec") === 135780.4662565)

    // two sessions of one user, 2 h apart, lasting 1000001 and 1000002 us
    val durs = Seq(1000001L, 1000002L)
    val sess = Seq(t0, t0 + durs(0), t0 + 7200000000L, t0 + 7200000000L + durs(1))
      .zipWithIndex.map { case (us, i) => (9L, i.toLong, "view", us) }
      .toDF("user_id", "event_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val rep = Sessions.durationReport(sess).head()
    check(rep.getDouble(2), durs, 0.5, "session p50")
    check(rep.getDouble(3), durs, 0.9, "session p90")
    assert(rep.getDouble(2) === 1.0000015)
  }
}
