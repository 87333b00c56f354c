package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `q10_sessionize` and `q16_cohort_matrix` are per-user aggregates (no
  * window sort, one scan). Their plain relational forms — a `lag` window
  * for q10, a signup self-join plus `count(distinct)` for q16 — are kept
  * here as reference code, and both queries must return exactly the same
  * rows on a fixture built from the shapes that break such rewrites: NULL
  * ids and timestamps, missing or repeated signups, events before the
  * signup, tied timestamps, gaps on the 30-minute boundary, single-event
  * users, the week-8 cut and one heavily skewed user. */
class DashboardQuerySpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("dashboard-query")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val day0 = java.time.Instant.parse("2024-01-01T00:00:00Z") // a Monday

  /** Day `d` after 2024-01-01 plus `sec` seconds and `us` microseconds. */
  private def at(d: Int, sec: Long, us: Long = 0L): Timestamp =
    Timestamp.from(day0.plusSeconds(d * 86400L + sec).plusNanos(us * 1000L))

  private val gap = 1800L // the sessionization gap, seconds

  /** (user_id, ts, event_type) rows; event ids are assigned in order. */
  private lazy val rows: Seq[(java.lang.Long, Timestamp, String)] = {
    def u(id: Long): java.lang.Long = id
    val hand = Seq[(java.lang.Long, Timestamp, String)](
      // 1: only NULL-ts events, one of them a signup
      (u(1), null, "view"), (u(1), null, "signup"),
      // NULL user_id, with and without ts, a signup among them
      (null, at(0, 36000), "signup"), (null, at(0, 36600), "view"),
      (null, at(3, 100), "view"), (null, null, "view"),
      // 2: no signup
      (u(2), at(0, 100), "view"), (u(2), at(1, 100), "purchase"),
      // 3: two signups; t0 is the first
      (u(3), at(2, 32400), "signup"), (u(3), at(9, 32400), "signup"),
      (u(3), at(3, 0), "view"), (u(3), at(10, 0), "view"), (u(3), at(20, 0), "view"),
      // 4: events before the signup, on its day and on days before it
      (u(4), at(5, 43200), "signup"), (u(4), at(5, 28800), "view"),
      (u(4), at(1, 0), "view"), (u(4), at(12, 0), "purchase"), (u(4), at(13, 0), null),
      // 5: tied timestamps, the signup among them
      (u(5), at(0, 36000), "view"), (u(5), at(0, 36000), "signup"),
      (u(5), at(0, 36000), "purchase"), (u(5), at(7, 36000), "view"),
      (u(5), at(7, 36000), "view"),
      // 6: gaps of exactly 1800 s (same session) and 1800 s + 1 µs (new)
      (u(6), at(0, 0), "signup"), (u(6), at(0, gap), "view"),
      (u(6), at(0, 2 * gap, 1), "view"), (u(6), at(0, 3 * gap, 1), "view"),
      // 7, 8: single-event users, with and without a signup
      (u(7), at(4, 500), "signup"), (u(8), at(4, 500), "view"),
      // 9: active in week 8 (days 56 and 62) and week 9 (day 63)
      (u(9), at(0, 82800), "signup"), (u(9), at(56, 100), "view"),
      (u(9), at(62, 86000), "view"), (u(9), at(63, 100), "view"),
      // 11: NULL-ts rows beside timed ones, a NULL-ts signup among them
      (u(11), null, "signup"), (u(11), null, "view"), (u(11), at(3, 0), "signup"),
      (u(11), at(3, gap + 1), "view"))
    val rng = new scala.util.Random(11)
    val types = Array("signup", "view", "view", "purchase")
    // 10: one skewed user with ~50k events over ~70 days, signup on day 2,
    // gaps drawn around the 1800 s boundary and a few NULL timestamps
    var t = 0L
    val skewed = (0 until 50000).map { i =>
      t += (rng.nextInt(100) match {
        case 0 => gap * 1000000L
        case 1 => gap * 1000000L + 1
        case 2 => (gap + rng.nextInt(7200)) * 1000000L
        case 3 | 4 => 0L
        case _ => rng.nextInt(60) * 1000000L + rng.nextInt(1000000)
      })
      val ts = if (i % 9973 == 5) null else at(0, t / 1000000L, t % 1000000L)
      (u(10), ts, if (i == 1500) "signup" else "view")
    }
    // background: 300 users with 1-40 events over 80 days
    val background = (100L until 400L).flatMap { id =>
      (0 until 1 + rng.nextInt(40)).map { _ =>
        val ts = if (rng.nextInt(20) == 0) null
          else at(rng.nextInt(80), rng.nextInt(86400), rng.nextInt(1000000))
        (u(id), ts, types(rng.nextInt(types.length)))
      }
    }
    hand ++ skewed ++ background
  }

  /** The fixture as an `events.parquet` table directory. */
  private lazy val dir: String = {
    val schema = StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType)))
    val data = rows.zipWithIndex.map { case ((uid, ts, ty), i) => Row(i.toLong, ts, uid, ty) }
    val d = TempDirs("graft_dashboard").toString
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      .repartition(4).write.parquet(s"$d/events.parquet")
    d
  }

  private def events: DataFrame = SparkEntry.tbl(spark, dir, "events")

  /** q10 as a `lag` window over (ts, event_id): the reference form. */
  private def q10Window(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    e.withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gap * 1000000L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
  }

  /** q16 as a signup self-join and `count(distinct)`: the reference form. */
  private def q16Join(e: DataFrame): DataFrame = {
    val s0 = e.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    e.join(s0, "user_id").where(col("ts") >= col("t0"))
      .select(col("user_id"),
        date_format(date_trunc("week", col("t0")), "yyyy-MM-dd").as("cohort_week"),
        floor(datediff(to_date(col("ts")), to_date(col("t0"))).cast("double") / 7)
          .as("week_off"))
      .where(col("week_off") <= 8)
      .groupBy(col("cohort_week"), col("week_off"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Same column names and types, and the same multiset of rows. */
  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) ===
      want.schema.map(f => (f.name, f.dataType)))
    val g = got.collect().map(_.toString).sorted.toSeq
    val w = want.collect().map(_.toString).sorted.toSeq
    assert(g.diff(w).isEmpty && w.diff(g).isEmpty,
      s"\nonly in query: ${g.diff(w).take(20)}\nonly in reference: ${w.diff(g).take(20)}")
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  test("q10 equals the lag-window form on hostile input") {
    assertSameRows(q("q10_sessionize"), q10Window(events))
  }

  test("q10 sessions: NULL ts rows each open one, the gap bound is strict") {
    val got = q("q10_sessionize").collect()
      .map(r => Option(r.getAs[java.lang.Long]("user_id")).map(_.longValue) ->
        (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events"))).toMap
    assert(got(Some(1L)) === ((2L, 2L)))  // NULL-ts only
    assert(got(None) === ((3L, 4L)))      // one NULL ts + two timed sessions
    assert(got(Some(5L)) === ((2L, 5L)))  // ties share a session
    assert(got(Some(6L)) === ((2L, 4L)))  // 1800 s joins, 1800 s + 1 µs splits
    assert(got(Some(7L)) === ((1L, 1L)) && got(Some(8L)) === ((1L, 1L)))
    assert(got(Some(11L)) === ((4L, 4L))) // two NULL-ts + two timed sessions
    assert(got(Some(10L))._2 === 50000L)
  }

  test("q16 equals the join and count-distinct form on hostile input") {
    val got = q("q16_cohort_matrix")
    assertSameRows(got, q16Join(events))
    val offs = got.select("week_off").distinct().collect().map(_.getLong(0)).toSet
    assert(offs.contains(8L) && !offs.contains(9L), offs)
  }
}
