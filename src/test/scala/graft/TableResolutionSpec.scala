package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.tbl` infers a table's parquet schema once per session and
  * reads later calls over it: no Spark job on a repeat call, the same rows
  * as an uncached read in each `events.ts` branch, a fresh inference for a
  * new session or a changed inference conf, and fresh file listing. */
class TableResolutionSpec extends AnyFunSuite {
  import JobCount.jobsOf

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("table-resolution")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A temp dir holding `events.parquet` with `ts` as `tsType`: LONG
    * nanoseconds, TIMESTAMP_NTZ or TIMESTAMP. */
  private def eventsDir(tsType: String): String = {
    import spark.implicits._
    val base = Seq(
      (1L, 10L, "signup", "2024-01-01 10:00:00.000001"),
      (2L, 10L, "purchase", "2024-01-03 23:59:59.999999"),
      (3L, 11L, "click", "2024-01-02 00:00:00"))
      .toDF("event_id", "user_id", "event_type", "ts_s")
    val ts = tsType match {
      case "long" => unix_micros(col("ts_s").cast("timestamp")) * 1000L
      case "ntz" => col("ts_s").cast("timestamp_ntz")
      case "ltz" => col("ts_s").cast("timestamp")
    }
    val dir = TempDirs(s"graft_tbl_$tsType").toString
    base.withColumn("ts", ts).drop("ts_s").write.parquet(s"$dir/events.parquet")
    dir
  }

  /** The events table as an uncached `s.read.parquet` gives it, with `ts`
    * normalized to a session timestamp the way `tbl`'s three branches do. */
  private def uncachedEvents(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case TimestampType => raw
    }
  }

  private def rows(df: DataFrame): Seq[Row] = df.orderBy("event_id").collect().toSeq

  test("a repeat tbl on the same session starts no Spark job") {
    val dir = eventsDir("ntz")
    val (_, first) = jobsOf(spark)(SparkEntry.tbl(spark, dir, "events"))
    assert(first >= 1, "the first read infers the schema")
    val (df, again) = jobsOf(spark)(SparkEntry.tbl(spark, dir, "events"))
    assert(again === 0)
    assert(df.schema("ts").dataType === TimestampType)
  }

  test("each events.ts branch equals an uncached read") {
    for (t <- Seq("long", "ntz", "ltz")) {
      val dir = eventsDir(t)
      val expected = uncachedEvents(spark, dir)
      for (_ <- 1 to 2) { // the inferring call, then the memoised one
        val got = SparkEntry.tbl(spark, dir, "events")
        assert(got.schema === expected.schema, t)
        assert(rows(got) === rows(expected), t)
      }
    }
  }

  test("a new session infers again") {
    val dir = eventsDir("long")
    SparkEntry.tbl(spark, dir, "events")
    val other = spark.newSession()
    val (df, jobs) = jobsOf(other)(SparkEntry.tbl(other, dir, "events"))
    assert(jobs >= 1)
    assert(rows(df) === rows(uncachedEvents(other, dir)))
    assert(jobsOf(other)(SparkEntry.tbl(other, dir, "events"))._2 === 0)
  }

  test("changing an inference conf mid-session infers again") {
    val dir = eventsDir("ntz")
    val s = spark.newSession()
    SparkEntry.tbl(s, dir, "events")
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val (df, jobs) = jobsOf(s)(SparkEntry.tbl(s, dir, "events"))
    assert(jobs >= 1)
    assert(rows(df) === rows(uncachedEvents(s, dir)))
  }

  test("a directory table still lists files added after the first read") {
    import spark.implicits._
    val dir = TempDirs("graft_tbl_dir").toString
    val path = s"$dir/documents.parquet"
    (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .repartition(3).write.parquet(path)
    assert(SparkEntry.tbl(spark, dir, "documents").count() === 6L)
    (7L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .write.mode("append").parquet(path)
    val (df, jobs) = jobsOf(spark)(SparkEntry.tbl(spark, dir, "documents"))
    assert(jobs === 0)
    assert(df.count() === 8L)
    assert(df.agg(max("doc_id")).head().getLong(0) === 8L)
  }
}
