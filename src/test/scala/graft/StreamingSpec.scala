package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** Streaming == batch parity: the same EventStream transforms run once
  * through a file-source → memory-sink streaming query and once as plain
  * batch, and must agree. (Spark guarantees unified semantics; this
  * asserts our transforms don't break it with side effects.)
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("streaming-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the checkpoint manager Graft.localSession installs
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** events.parquet with ts converted to a real timestamp, staged into a
    * fresh dir so readStream can treat it as a file source. */
  private lazy val stagedDir: String = {
    val dir = TempDirs("graft_stream").toString
    SparkEntry.tbl(spark, TestData.dir("0.001"), "events")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("windowed counts: stream equals batch") {
    val schema = spark.read.parquet(stagedDir).schema
    val stream = spark.readStream.schema(schema).parquet(stagedDir)
    val q = EventStream.windowedCounts(stream)
      .writeStream.format("memory").queryName("wc")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("wc").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = EventStream.windowedCounts(spark.read.parquet(stagedDir)).collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stateful retention (mapGroupsWithState): stream == batch == UDAF") {
    import graft.streaming.StatefulRetention
    val schema = spark.read.parquet(stagedDir).schema
    val stream = spark.readStream.schema(schema).parquet(stagedDir)
    val q = StatefulRetention.perUserStats(stream, "2024-01-01", 7, "signup", "purchase")
      .toDF()
      .writeStream.format("memory").queryName("ret").outputMode("update").start()
    try {
      q.processAllAvailable()
      // state is monotone, so the last emission per user is the answer;
      // reduce emissions by elementwise max to stay multi-batch-safe
      def emax(a: Seq[Seq[Long]], b: Seq[Seq[Long]]): Seq[Seq[Long]] =
        a.zip(b).map { case (x, y) => x.zip(y).map(t => t._1 max t._2) }
      val streamed = spark.table("ret").collect()
        .map(r => r.getLong(0) ->
          r.getSeq[scala.collection.Seq[Long]](1).toSeq.map(_.toSeq))
        .groupMapReduce(_._1)(_._2)(emax)
      val batch = StatefulRetention
        .perUserStats(spark.read.parquet(stagedDir), "2024-01-01", 7, "signup", "purchase")
        .collect().map(s => s.user_id -> s.stats.map(_.toSeq)).toMap
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // and both match the batch UDAF (the reference operator) on the
      // same window — custom streaming state reproduces retention_count
      Graft.registerAll(spark)
      val udaf = SparkEntry.queries("retention_count")(spark, TestData.dir("0.001"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val asJson = streamed.map { case (u, s) =>
        u -> s.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
      }
      assert(asJson === udaf)
    } finally q.stop()
  }

  test("stateful retention with born == target: the self-marker 2 matches batch and UDAF") {
    import graft.operators.Retention
    import graft.streaming.StatefulRetention
    val schema = spark.read.parquet(stagedDir).schema
    // one file per micro-batch: the state carries markers across batches
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(stagedDir)
    val q = StatefulRetention.perUserStats(stream, "2024-01-01", 7, "signup", "signup")
      .toDF()
      .writeStream.format("memory").queryName("ret_self").outputMode("update").start()
    try {
      q.processAllAvailable()
      // markers here are 0 or 2 and only grow: the elementwise max of a
      // user's emissions is the final state
      def emax(a: Seq[Seq[Long]], b: Seq[Seq[Long]]): Seq[Seq[Long]] =
        a.zip(b).map { case (x, y) => x.zip(y).map(t => t._1 max t._2) }
      val streamed = spark.table("ret_self").collect()
        .map(r => r.getLong(0) ->
          r.getSeq[scala.collection.Seq[Long]](1).toSeq.map(_.toSeq))
        .groupMapReduce(_._1)(_._2)(emax)
      val batch = StatefulRetention
        .perUserStats(spark.read.parquet(stagedDir), "2024-01-01", 7, "signup", "signup")
        .collect().map(s => s.user_id -> s.stats.map(_.toSeq)).toMap
      val udaf = StatefulRetention
        .shapeEvents(spark.read.parquet(stagedDir), "2024-01-01", 7, "signup", "signup")
        .groupBy(col("user_id"))
        .agg(Retention.retention_count(col("born"), col("target"), lit(6L),
          col("t").cast("long")).cast("array<array<bigint>>"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[scala.collection.Seq[Long]](1).toSeq.map(_.toSeq)).toMap
      assert(streamed === batch)
      assert(streamed === udaf)
      assert(streamed.values.exists(_(1).contains(2L)))
    } finally q.stop()
  }

  test("stateful funnel (flatMapGroupsWithState): stream == batch operator") {
    import graft.streaming.StatefulFunnel
    val steps = Seq("signup", "click", "purchase")
    val schema = spark.read.parquet(stagedDir).schema
    val stream = spark.readStream.schema(schema).parquet(stagedDir)
    val q = StatefulFunnel.perUserStages(stream, steps).toDF()
      .writeStream.format("memory").queryName("fun").outputMode("update").start()
    try {
      q.processAllAvailable()
      // last emission per user wins; with buffered state later emissions
      // supersede earlier ones, and stage counts only grow
      val streamed = spark.table("fun").collect()
        .map(r => r.getLong(0) -> r.getInt(1))
        .groupMapReduce(_._1)(_._2)(_ max _)
      val batch = graft.operators.Funnel
        .userStages(spark.read.parquet(stagedDir), steps)
        .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("evicting funnel drops user state after t0 + windowDays passes the watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulFunnel
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val events = mem.toDF.toDF("user_id", "event_type", "ts")
    val q = StatefulFunnel
      .perUserStagesEvicting(events, Seq("signup", "click", "purchase"),
        windowDays = 7, watermarkDelay = "1 hour")
      .toDF()
      .writeStream.format("memory").queryName("fev").outputMode("update").start()
    try {
      mem.addData((1L, "signup", t("2024-01-01 00:00:00")))
      q.processAllAvailable()
      assert(spark.table("fev").where("user_id = 1").count() === 1)
      // two far-future step events advance the watermark past the user's
      // t0 + 7d deadline (batch N's watermark derives from batch N-1's
      // data, hence two batches); the second batch processes the timeout
      // and removes user 1's state
      mem.addData((99L, "signup", t("2024-03-01 00:00:00")))
      q.processAllAvailable()
      mem.addData((98L, "signup", t("2024-03-02 00:00:00")))
      q.processAllAvailable()
      // a later click for user 1: state was evicted, so there is no t0 on
      // file and nothing is emitted; surviving state would have re-walked
      // and emitted a second stage-1 row for the click update
      mem.addData((1L, "click", t("2024-03-03 00:00:00")))
      q.processAllAvailable()
      assert(spark.table("fev").where("user_id = 1").count() === 1)
    } finally q.stop()
  }

  test("evicting retention clears state after the window end passes the watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulRetention
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val events = mem.toDF.toDF("user_id", "event_type", "ts")
    val q = StatefulRetention
      .perUserStatsEvicting(events, "2024-01-01", 7, "signup", "purchase")
      .toDF()
      .writeStream.format("memory").queryName("rev").outputMode("update").start()
    try {
      mem.addData((1L, "signup", t("2024-01-02 00:00:00")))
      q.processAllAvailable()
      assert(spark.table("rev").where("user_id = 1").count() === 1)
      // out-of-window events advance the watermark (the window filter is
      // on the watermark column, so it stays above the watermark node and
      // these rows reach the clock) without creating any state of their own
      mem.addData((99L, "browse", t("2024-03-01 00:00:00")))
      q.processAllAvailable()
      mem.addData((98L, "browse", t("2024-03-02 00:00:00")))
      q.processAllAvailable()
      // the state store must drain to zero rows once the timeout fires
      val deadline = System.currentTimeMillis() + 30000
      def stateRows: Option[Long] = Option(q.lastProgress)
        .flatMap(p => p.stateOperators.headOption.map(_.numRowsTotal))
      while (stateRows.forall(_ > 0) && System.currentTimeMillis() < deadline) {
        mem.addData((97L, "browse", t("2024-03-03 00:00:00")))
        q.processAllAvailable()
      }
      assert(stateRows === Some(0L))
    } finally q.stop()
  }

  test("streaming exact dedup drops later copies within the watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = mem.toDF.toDF("doc_id", "text", "ts")
    val q = EventStream.dedupedByContent(docs)
      .select("doc_id")
      .writeStream.format("memory").queryName("sdd").outputMode("append").start()
    try {
      mem.addData((1L, "alpha document", t("2024-01-01 00:00:00")),
        (2L, "beta document", t("2024-01-01 00:01:00")))
      q.processAllAvailable()
      // a later exact copy of doc 1's text is dropped; new content passes
      mem.addData((3L, "alpha document", t("2024-01-01 00:10:00")),
        (4L, "gamma document", t("2024-01-01 00:11:00")))
      q.processAllAvailable()
      val ids = spark.table("sdd").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 2L, 4L))
      // batch parity: same operator on a batch frame keeps one row per hash
      val batch = EventStream.dedupedByContent(
        Seq((1L, "alpha document", t("2024-01-01 00:00:00")),
          (3L, "alpha document", t("2024-01-01 00:10:00")),
          (4L, "gamma document", t("2024-01-01 00:11:00")))
          .toDF("doc_id", "text", "ts"))
      assert(batch.count() === 2)
    } finally q.stop()
  }

  test("streaming incremental dedup: corpus copies and stream copies both dropped") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val corpus = Seq((100L, "alpha document"), (101L, "delta document"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = mem.toDF.toDF("doc_id", "text", "ts")
    val q = EventStream.incrementalNewByContent(docs, corpus)
      .select("doc_id")
      .writeStream.format("memory").queryName("sinc").outputMode("append").start()
    try {
      mem.addData(
        (1L, "alpha document", t("2024-01-01 00:00:00")), // in corpus → dropped
        (2L, "beta document", t("2024-01-01 00:01:00")))  // new → kept
      q.processAllAvailable()
      mem.addData(
        (3L, "beta document", t("2024-01-01 00:10:00")),  // stream copy → dropped
        (4L, "delta document", t("2024-01-01 00:11:00")), // in corpus → dropped
        (5L, "epsilon document", t("2024-01-01 00:12:00"))) // new → kept
      q.processAllAvailable()
      assert(spark.table("sinc").collect().map(_.getLong(0)).toSet === Set(2L, 5L))
      // batch parity: degrades to the incrementalNew shape — one survivor
      // per content-new hash (dropDuplicates keeps an arbitrary copy)
      val batch = EventStream.incrementalNewByContent(
        Seq((1L, "alpha document", t("2024-01-01 00:00:00")),
          (2L, "beta document", t("2024-01-01 00:01:00")),
          (3L, "beta document", t("2024-01-01 00:10:00")))
          .toDF("doc_id", "text", "ts"), corpus)
        .select("doc_id", "text").collect()
      assert(batch.length === 1 && batch.head.getString(1) === "beta document")
    } finally q.stop()
  }

  test("streaming heavy hitters: exact regime matches true counts, bounded under eviction") {
    import spark.implicits._
    import graft.streaming.StatefulTopK
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[String]
    val tokens = StatefulTopK.shapeTokens(mem.toDF.toDF("text"), buckets = 4)
    val q = StatefulTopK.bucketSummaries(tokens, capacity = 64).toDF()
      .writeStream.format("memory").queryName("shh").outputMode("update").start()
    try {
      mem.addData("alpha alpha bravo", "alpha charlie")
      q.processAllAvailable()
      mem.addData("bravo bravo delta alpha")
      q.processAllAvailable()
      // capacity >= per-bucket vocabulary → no eviction → exact counts
      // across micro-batches, deterministic (n desc, term asc) order
      val top = StatefulTopK.topK(spark.table("shh"), k = 10).collect()
        .map(r => r.getString(0) -> r.getLong(1))
      assert(top.toSeq === Seq("alpha" -> 4L, "bravo" -> 3L,
        "charlie" -> 1L, "delta" -> 1L))
    } finally q.stop()
    // eviction regime: capacity 2 with ~51 distinct tokens per bucket —
    // state stays bounded and the genuinely heavy token survives
    val mem2 = MemoryStream[String]
    val t2 = StatefulTopK.shapeTokens(mem2.toDF.toDF("text"), buckets = 2)
    val q2 = StatefulTopK.bucketSummaries(t2, capacity = 2).toDF()
      .writeStream.format("memory").queryName("shh2").outputMode("update").start()
    try {
      mem2.addData((1 to 50).map(i => s"tok$i heavy heavy").mkString(" "))
      q2.processAllAvailable()
      val rows = spark.table("shh2").collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_.getMap[String, Long](2).size <= 2),
        "state exceeded the Misra-Gries capacity")
      // heavy's frequency (100) is far above N_bucket/(capacity+1) —
      // Misra-Gries guarantees it is present in the summary
      val terms = StatefulTopK.topK(spark.table("shh2"), k = 4).collect()
        .map(_.getString(0)).toSet
      assert(terms.contains("heavy"))
    } finally q2.stop()
  }

  test("session windows: stream equals batch") {
    val schema = spark.read.parquet(stagedDir).schema
    val stream = spark.readStream.schema(schema).parquet(stagedDir)
    val q = EventStream.sessions(stream)
      .writeStream.format("memory").queryName("sess")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess").collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
        .toSet
      val batch = EventStream.sessions(spark.read.parquet(stagedDir)).collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stream-static enrichment join: stream equals batch, left join keeps all events") {
    val schema = spark.read.parquet(stagedDir).schema
    val dim = spark.read.parquet(stagedDir)
      .select(col("user_id")).distinct()
      // leave some users without a dim row to exercise the left join
      .where(col("user_id") % 5 =!= 0)
      .withColumn("segment",
        when(col("user_id") % 2 === 0, "even").otherwise("odd"))
    val stream = spark.readStream.schema(schema).parquet(stagedDir)
    val q = EventStream.enriched(stream, dim)
      .select(col("event_id"), col("segment"))
      .writeStream.format("memory").queryName("enr")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enr").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      val batchDf = EventStream.enriched(spark.read.parquet(stagedDir), dim)
        .select(col("event_id"), col("segment"))
      val batch = batchDf.collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(streamed === batch)
      assert(streamed.exists(_._2.isEmpty), "left join must keep dim-less events")
      assert(streamed.exists(_._2.nonEmpty))
      // every event survives enrichment exactly once
      assert(streamed.size === spark.read.parquet(stagedDir).count())
    } finally q.stop()
  }

  test("stream-stream attribution interval join: stream equals batch") {
    val schema = spark.read.parquet(stagedDir).schema
    val stream = spark.readStream.schema(schema).parquet(stagedDir)
    val q = EventStream.clickAttribution(stream, within = "7 days")
      .writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("attr").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = EventStream
        .clickAttribution(spark.read.parquet(stagedDir), within = "7 days")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // window bound holds on every pair
      val bad = spark.table("attr")
        .where(col("click_ts") > col("buy_ts") ||
          col("click_ts") < col("buy_ts") - expr("INTERVAL 7 days"))
        .count()
      assert(bad === 0L)
    } finally q.stop()
  }

  test("stateful gap-fill: stream == batch window, fill carries across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulGapFill
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Long, String, Double, java.sql.Timestamp)]
    val events = mem.toDF.toDF("user_id", "event_id", "event_type", "value", "ts")
    val q = StatefulGapFill.filled(events)
      .writeStream.format("memory").queryName("gap").outputMode("append").start()
    try {
      mem.addData(
        (1L, 10L, "view", 0.0, t("2024-01-01 09:00:00")),      // before any price → None
        (1L, 11L, "purchase", 5.0, t("2024-01-01 10:00:00")),
        (1L, 12L, "view", 0.0, t("2024-01-01 11:00:00")))      // filled 5.0
      q.processAllAvailable()
      mem.addData(
        (1L, 13L, "view", 0.0, t("2024-01-02 09:00:00")),      // carried across batches → 5.0
        (1L, 14L, "purchase", 7.0, t("2024-01-02 10:00:00")),
        (1L, 15L, "view", 0.0, t("2024-01-02 11:00:00")),      // 7.0
        (2L, 20L, "view", 0.0, t("2024-01-02 11:00:00")))      // other user: None
      q.processAllAvailable()
      val got = spark.table("gap").collect()
        .map(r => r.getLong(1) -> ((if (r.isNullAt(2)) None else Some(r.getDouble(2))), r.getBoolean(3)))
        .toMap
      assert(got === Map(
        10L -> ((None, true)), 11L -> ((Some(5.0), false)), 12L -> ((Some(5.0), true)),
        13L -> ((Some(5.0), true)), 14L -> ((Some(7.0), false)), 15L -> ((Some(7.0), true)),
        20L -> ((None, true))))
      // batch parity against the q30 window form on the real events table
      val ev = SparkEntry.tbl(spark, TestData.dir("0.001"), "events")
      val stateful = StatefulGapFill.filled(ev).collect()
        .map(r => r.event_id -> ((r.last_price, r.is_filled))).toMap
      val window = SparkEntry.queries("q30_gap_fill")(spark, TestData.dir("0.001"))
        .collect()
        .map(r => r.getLong(1) -> ((if (r.isNullAt(2)) None else Some(r.getDouble(2))), r.getBoolean(3)))
        .toMap
      assert(stateful === window)
    } finally q.stop()
  }

  test("stateful cdc: upserts refresh, tombstones mark, late old versions ignored; batch parity") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulCdc
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Long, String, Double, java.sql.Timestamp)]
    val events = mem.toDF.toDF("user_id", "event_id", "event_type", "value", "ts")
    val q = StatefulCdc.latestState(events)
      .writeStream.format("memory").queryName("cdc").outputMode("update").start()
    try {
      mem.addData(
        (1L, 10L, "view", 1.0, t("2024-01-01 09:00:00")),
        (2L, 20L, "view", 2.0, t("2024-01-01 09:00:00")))
      q.processAllAvailable()
      mem.addData(
        (1L, 11L, "purchase", 3.0, t("2024-01-01 10:00:00")), // upsert user 1
        (2L, 21L, "error", 0.0, t("2024-01-01 10:00:00")),    // tombstone user 2
        (1L, 9L, "view", 9.9, t("2024-01-01 08:00:00")))      // late + older: ignored
      q.processAllAvailable()
      // the final state per key = the max-(ts_us, event_id) emission
      // (updates are monotone in the version order)
      val fin = spark.table("cdc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getDouble(4), r.getBoolean(5)))
        .groupBy(_._1).view.mapValues(_.maxBy(x => (x._2, x._3))).toMap
      assert(fin(1L) === ((1L, t("2024-01-01 10:00:00").getTime * 1000L, 11L,
        "purchase", 3.0, false)))
      assert(fin(2L)._6 === true) // tombstoned
      assert(fin(2L)._3 === 21L)
      // batch parity: same operator on the static events table, deleted
      // dropped, equals the q32 batch changelog apply
      val ev = SparkEntry.tbl(spark, TestData.dir("0.001"), "events")
      val stateful = StatefulCdc.latestState(ev).collect()
        .filter(!_.deleted)
        .map(r => r.user_id -> ((r.ts_us, r.event_id, r.event_type, r.value))).toMap
      val batch = SparkEntry.queries("q32_cdc_apply")(spark, TestData.dir("0.001"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4))))
        .toMap
      assert(stateful === batch)
    } finally q.stop()
  }

  test("streaming windowed kmv distinct: exact below k; k=4 estimate matches batch sketch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val stream = mem.toDF.toDF("ts", "user_id")
    // k=4 so the estimator path (not just exact fill) is exercised
    val q = EventStream.windowedDistinct(stream, k = 4)
      .writeStream.format("memory").queryName("wd").outputMode("append").start()
    try {
      // window A: 3 distinct users (< k -> exact); window B: 20 distinct
      val winA = Seq(1L, 2L, 2L, 3L).map(u => (t("2024-01-01 10:05:00"), u))
      val winB = (1L to 20L).map(u => (t("2024-01-01 11:05:00"), u))
      mem.addData(winA ++ winB: _*)
      q.processAllAvailable()
      mem.addData((t("2024-01-01 14:00:00"), 1L)) // close both windows
      q.processAllAvailable()
      val got = spark.table("wd").collect()
        .map(r => r.getTimestamp(0).toString -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(got("2024-01-01 10:00:00.0") === ((4L, 3L, 3L)), "below k -> exact")
      val (nB, fillB, estB) = got("2024-01-01 11:00:00.0")
      assert(nB === 20L && fillB === 4L)
      val batchEst = graft.operators.Kmv.distinctEstimate(
          winB.map(_._2).toDF("user_id"), "user_id", k = 4)
        .collect().head.getLong(1)
      assert(estB === batchEst, "stream window == batch sketch on the same rows")
    } finally q.stop()
  }

  test("streaming psi monitor: per-window psi equals the batch psiDrift total") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ref = (1 to 100).map(_.toDouble).toDF("value")
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val stream = mem.toDF.toDF("ts", "value")
    val q = EventStream.psiMonitor(stream, ref, "value", windowLength = "1 hour")
      .writeStream.format("memory").queryName("psi").outputMode("append").start()
    try {
      // window A: drawn from the reference range; window B: shifted high
      val winA = (1 to 50).map(i => (t("2024-01-01 10:%02d:00".format(i % 60)), i * 2.0))
      val winB = (1 to 50).map(i => (t("2024-01-01 11:%02d:00".format(i % 60)), 80.0 + i))
      mem.addData(winA ++ winB: _*)
      q.processAllAvailable()
      mem.addData((t("2024-01-01 14:00:00"), 1.0)) // advance watermark, close A+B
      q.processAllAvailable()
      val got = spark.table("psi").collect()
        .map(r => r.getTimestamp(0).toString -> ((r.getLong(1), r.getLong(2)))).toMap
      def batchPsi(rows: Seq[Double]): Long =
        graft.operators.Snapshot.psiDrift(ref, rows.toDF("value"), "value")
          .agg(sum(col("psi_contrib_micro"))).head().getLong(0)
      assert(got("2024-01-01 10:00:00.0") === ((50L, batchPsi(winA.map(_._2)))))
      assert(got("2024-01-01 11:00:00.0") === ((50L, batchPsi(winB.map(_._2)))))
      assert(got("2024-01-01 11:00:00.0")._2 > got("2024-01-01 10:00:00.0")._2,
        "the shifted window must score higher drift")
    } finally q.stop()
  }

  test("stateful cadence: moments carry across micro-batches; stream == batch operator") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulCadence
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val events = mem.toDF.toDF("user_id", "event_id", "ts")
    val q = StatefulCadence.cadence(events)
      .writeStream.format("memory").queryName("cad").outputMode("update").start()
    try {
      mem.addData((1L, 1L, t("2024-01-01 00:00:00")), (1L, 2L, t("2024-01-01 00:00:10")))
      q.processAllAvailable()
      mem.addData((1L, 3L, t("2024-01-01 00:00:30"))) // gap 20 carries across batches
      q.processAllAvailable()
      // last emission per user (update mode re-emits on every change)
      val fin = spark.table("cad").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .groupBy(_._1).map { case (u, rows) => u -> rows.maxBy(_._2) }
      // gaps 10, 20: n=2, sum=30, mean=15, cv2=(2*500-900)/900 rounded 6dp
      assert(fin(1L) === ((1L, 2L, 30L, 15L, 0.111111)))
      // batch parity: the same operator run on the static events table
      // equals Sessions.interEventStats row-for-row (cv2 bit-equal)
      val ev = SparkEntry.tbl(spark, TestData.dir("0.001"), "events")
      val stateful = StatefulCadence.cadence(ev).collect()
        .map(r => r.user_id -> ((r.n_gaps, r.sum_gap_s, r.mean_gap_s, r.cv2))).toMap
      val batch = graft.operators.Sessions.interEventStats(ev).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
        .toMap
      assert(stateful === batch)
      assert(stateful.nonEmpty)
    } finally q.stop()
  }

  test("stateful cusum: gap days decay across micro-batches; stream == batch operator") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulCusum
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def d(s: String) = java.sql.Date.valueOf(s)
    val mem = MemoryStream[(String, java.sql.Date, Long)]
    val daily = mem.toDF.toDF("key", "day", "v")
    // mu=16, k=0, h=16: the u35 fixture constants
    val q = StatefulCusum.cusum(daily, "key", "day", "v", mu = 16L, k = 0L, h = 16L)
      .writeStream.format("memory").queryName("cus").outputMode("update").start()
    try {
      mem.addData(("m", d("2024-01-01"), 10L), ("m", d("2024-01-02"), 10L))
      q.processAllAvailable()
      // Jan 3 is a calendar gap: the Jan 4 fold must first decay one
      // zero-value step ACROSS the micro-batch boundary
      mem.addData(("m", d("2024-01-04"), 30L), ("m", d("2024-01-05"), 30L))
      q.processAllAvailable()
      mem.addData(("m", d("2024-01-03"), 999L)) // late day: skipped, monotone state
      q.processAllAvailable()
      val rows = spark.table("cus").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getBoolean(4)))
      val byDay = rows.groupBy(_._2).map { case (dn, v) => dn -> v.last }
      val day0 = d("2024-01-01").toLocalDate.toEpochDay
      assert(byDay(day0) === (("m", day0, 0L, false)))
      assert(byDay(day0 + 3) === (("m", day0 + 3, 14L, false)))
      assert(byDay(day0 + 4) === (("m", day0 + 4, 28L, true)), "alarm crosses h")
      assert(!byDay.contains(day0 + 2), "late gap-day point was skipped")
      // batch parity: the same (mu,k,h) on the static dense frame equals
      // Anomaly.cusumDaily's statistic day for day
      val dense = Seq(("2024-01-01", 10L), ("2024-01-02", 10L),
        ("2024-01-04", 30L), ("2024-01-05", 30L))
        .toDF("ds", "v").withColumn("day", col("ds").cast("date")).drop("ds")
      val batch = graft.operators.Anomaly.cusumDaily(dense, "day", "v").collect()
        .map(r => r.getDate(0).toLocalDate.toEpochDay -> ((r.getLong(2), r.getBoolean(3))))
        .toMap
      val stream = StatefulCusum.cusum(dense.withColumn("key", lit("m")),
          "key", "day", "v", mu = 16L, k = 0L, h = 16L)
        .collect().map(r => r.day_n -> ((r.cusum, r.alarm))).toMap
      // the stream emits only observed days; on those days the statistic
      // and alarm must be bit-equal to the dense batch axis
      stream.foreach { case (dn, sa) => assert(batch(dn) === sa, s"day $dn") }
      assert(stream.size === 4)
    } finally q.stop()
  }

  test("stateful ewma: gap decay across micro-batches; stream == batch operator") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulEwma
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def d(s: String) = java.sql.Date.valueOf(s)
    val mem = MemoryStream[(String, java.sql.Date, Long)]
    val daily = mem.toDF.toDF("key", "day", "v")
    val q = StatefulEwma.ewma(daily, "key", "day", "v")
      .writeStream.format("memory").queryName("ewm").outputMode("update").start()
    try {
      mem.addData(("m", d("2024-01-01"), 8L))
      q.processAllAvailable()
      // Jan 2 is a calendar gap: the Jan 3 fold must decay one zero-value
      // step ACROSS the micro-batch boundary (s: 8 -> 6), then update
      mem.addData(("m", d("2024-01-03"), 4L), ("m", d("2024-01-04"), 16L))
      q.processAllAvailable()
      mem.addData(("m", d("2024-01-02"), 999L)) // late gap day: skipped
      q.processAllAvailable()
      val rows = spark.table("ewm").collect()
        .map(r => r.getLong(1) -> ((r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) null else r.getLong(5))))
      val byDay = rows.groupBy(_._1).map { case (dn, v) => dn -> v.last._2 }
      val day0 = d("2024-01-01").toLocalDate.toEpochDay
      assert(byDay(day0) === ((8L, 0L, 0L)))
      assert(byDay(day0 + 2) === ((5L, -2L, -333333L)), "gap decayed 8->6 first")
      assert(byDay(day0 + 3) === ((7L, 11L, 2200000L)))
      assert(!byDay.contains(day0 + 1), "late gap-day point was skipped")
      // batch parity: ewmaDaily on the dense frame equals the stream on
      // every observed day (ewma, dev, dev_ppm all bit-equal)
      val dense = Seq(("2024-01-01", 8L), ("2024-01-03", 4L), ("2024-01-04", 16L))
        .toDF("ds", "v").withColumn("day", col("ds").cast("date")).drop("ds")
      val batch = graft.operators.Anomaly.ewmaDaily(dense, "day", "v").collect()
        .map(r => r.getDate(0).toLocalDate.toEpochDay ->
          ((r.getLong(2), r.getLong(3), if (r.isNullAt(4)) null else r.getLong(4))))
        .toMap
      val stream = StatefulEwma.ewma(dense.withColumn("key", lit("m")),
          "key", "day", "v")
        .collect()
        .map(r => r.day_n ->
          ((r.ewma, r.dev, r.dev_ppm.map(l => l: Any).getOrElse(null))))
        .toMap
      stream.foreach { case (dn, x) => assert(batch(dn) === x, s"day $dn") }
      assert(stream.size === 3)
    } finally q.stop()
  }

  test("stateful dwell: intervals close across micro-batches; fold == batch timeWeightedValue") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulDwell
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double)]
    val ev = mem.toDF.toDF("event_id", "user_id", "s", "value")
      .withColumn("ts", col("s").cast("timestamp")).drop("s")
    val q = StatefulDwell.intervals(ev)
      .writeStream.format("memory").queryName("dwl").outputMode("update").start()
    try {
      mem.addData((1L, 1L, "2024-01-01 00:00:00", 1.0))
      q.processAllAvailable()
      // the open interval closes ACROSS the micro-batch boundary
      mem.addData((2L, 1L, "2024-01-01 00:00:10", 3.0),
        (3L, 1L, "2024-01-01 00:00:40", 2.0))
      q.processAllAvailable()
      mem.addData((9L, 1L, "2024-01-01 00:00:05", 99.0)) // late: skipped
      q.processAllAvailable()
      val rows = spark.table("dwl").collect()
        .map(r => (r.getLong(1), r.getLong(2))).sorted
      assert(rows.toSeq === Seq((10000000L, 100L), (30000000L, 300L)))
      // batch parity: folding the operator's intervals on the static
      // events table reproduces Sessions.timeWeightedValue row for row
      val events = SparkEntry.tbl(spark, TestData.dir("0.001"), "events")
      val folded = StatefulDwell.intervals(events).collect()
        .groupBy(_.user_id).map { case (u, iv) =>
          val td = iv.map(_.dur_us).sum
          val cd = iv.map(i => BigInt(i.cents) * i.dur_us).sum
          u -> ((iv.length.toLong, td,
            if (td == 0) null else (cd / td).toLong))
        }
      val batch = graft.operators.Sessions.timeWeightedValue(events).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getLong(3)))).toMap
      assert(folded === batch)
      assert(folded.nonEmpty)
    } finally q.stop()
  }

  test("stateful packing: online seq assembly across micro-batches == batch packSequences") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulPacking
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val docs = mem.toDF.toDF("doc_id", "toks")
    // bins=1: one bin, so the monotone-id rule is global and deterministic
    val q = StatefulPacking.pack(docs, "doc_id", "toks", budget = 100, bins = 1)
      .writeStream.format("memory").queryName("pck").outputMode("update").start()
    try {
      mem.addData((1L, 60L), (2L, 60L), (3L, 60L))
      q.processAllAvailable()
      // the running total carries ACROSS the micro-batch boundary:
      // doc 5 starts at cum 180 -> seq 1, doc 6 at 240 -> seq 2
      mem.addData((5L, 60L), (6L, 60L))
      q.processAllAvailable()
      mem.addData((4L, 999L)) // late id: skipped, state is monotone
      q.processAllAvailable()
      val rows = spark.table("pck").collect()
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(rows === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 5L -> 1L, 6L -> 2L))
      assert(!rows.contains(4L), "late doc cannot re-open a sequence")
      // batch parity: the same operator on a static frame (all rows fold
      // in one group call) equals Split.packSequences row for row,
      // including the hash bin routing at bins=8
      val ids = Seq(11L, 23L, 35L, 47L, 59L, 61L, 72L, 88L, 94L, 105L)
      val static = ids.map(i => (i, 40L + (i % 7) * 10L)).toDF("doc_id", "toks")
      val batch = graft.operators.Split
        .packSequences(static, "doc_id", "toks", budget = 100, bins = 8)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val stream = StatefulPacking.pack(static, "doc_id", "toks", budget = 100, bins = 8)
        .collect().map(r => r.doc_id -> ((r.bin, r.toks, r.seq_id))).toMap
      assert(stream === batch)
      assert(stream.size === ids.size)
    } finally q.stop()
  }

  test("stateful domain cap: first-k admission across micro-batches, canonicalization verbatim") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulDomainCap
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val urls = mem.toDF.toDF("doc_id", "url")
    val q = StatefulDomainCap.admit(urls, "url", "doc_id", k = 2)
      .writeStream.format("memory").queryName("dcap").outputMode("update").start()
    try {
      // spelling variants of ONE domain must share the cap counter:
      // WWW./https-case/default-port/utm all roll up to sitea.co.uk
      mem.addData(
        (1L, "HTTPS://WWW.sitea.co.uk:443/p/1"),
        (2L, "https://blog.sitea.co.uk/p/2?utm_x=1"),
        (3L, "https://siteb.com/p/3"))
      q.processAllAvailable()
      // the counter carries across the micro-batch boundary: sitea is
      // full, doc 4 is rejected; siteb admits its second
      mem.addData((4L, "https://sitea.co.uk/p/4"), (5L, "http://siteb.com/p/5"))
      q.processAllAvailable()
      mem.addData((2L, "https://sitea.co.uk/p/dup")) // late id: skipped
      q.processAllAvailable()
      val rows = spark.table("dcap").collect()
        .map(r => r.getLong(1) -> ((r.getString(0), r.getLong(2)))).toMap
      assert(rows === Map(
        1L -> (("sitea.co.uk", 1L)), 2L -> (("sitea.co.uk", 2L)),
        3L -> (("siteb.com", 1L)), 5L -> (("siteb.com", 2L))))
      assert(!rows.contains(4L), "capped domain must reject")
      // batch-posture parity: the same operator on a static frame
      // equals the first-k-by-id window cap row for row
      val staticUrls = (0L until 40L)
        .map(i => (i, s"https://site${i % 4}.org/p/$i")).toDF("doc_id", "url")
      val stream = StatefulDomainCap.admit(staticUrls, "url", "doc_id", k = 3)
        .collect().map(a => a.doc_id -> ((a.reg_domain, a.rk))).toMap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("reg_domain")).orderBy(col("doc_id"))
      val batch = graft.operators.Web.normalizeUrls(staticUrls, "url")
        .withColumn("reg_domain", graft.operators.Web.registrableDomain(col("host")))
        .withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("reg_domain"), r.getAs[Int]("rk").toLong))).toMap
      assert(stream === batch)
      assert(stream.size === 12)
    } finally q.stop()
  }

  test("script-mix profile: the stateless round-11 projection runs verbatim on a stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.Text
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the t46 counting projection is window-free codegen'd regexp_count
    // — it must stream unchanged (the Web.normalizeUrls argument, made
    // for the text surface)
    def profile(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id") +: Text.scriptProfileCols(col("text")): _*)
        .withColumn("mixed", Text.scriptMixed(Text.scriptCountCols,
          Text.scriptCountCols.reduce(_ + _)))
    val rows = Seq((1L, "hello \u043c\u0438\u0440"), (2L, "abc"), (3L, "ab \u4f60\u597d"))
    val mem = MemoryStream[(Long, String)]
    val q = profile(mem.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("smix").outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val stream = spark.table("smix").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(6))).toSet
      val batch = profile(rows.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(6))).toSet
      assert(stream === batch)
      assert(stream.exists(_._4), "the mixed flag must fire on the stream")
    } finally q.stop()
  }

  test("streaming contamination gate: stream-static gram screen equals the batch screens") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    Graft.registerAll(spark) // positional_gram_hashes
    val docs = SparkEntry.tbl(spark, TestData.dir("0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val evalDf = docs.where(col("doc_id") % 20 === 0)
    val train = docs.where(col("doc_id") % 20 =!= 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // the frozen eval gram set, built once (here in-memory; production
    // reads it back from its at-rest parquet)
    val evalGrams = graft.operators.Decontaminate.evalGramSet(evalDf, k = 4)
      .localCheckpoint()
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingContamination
      .flaggedIds(mem.toDF.toDF("doc_id", "text"), evalGrams, k = 4)
      .writeStream.format("memory").queryName("cgate").outputMode("append").start()
    try {
      // two micro-batches; a doc flagged in batch 1 must not re-emit
      val (b1, b2) = train.splitAt(train.size / 2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("cgate").collect().map(_.getLong(0)).toList
      assert(streamed.distinct.size === streamed.size, "each doc flags at most once")
      // parity with BOTH batch screens: the span screen's doc set and
      // the report's strict n_hit >= 1 set
      val spanDocs = graft.operators.Decontaminate.contaminationSpans(
          docs.where(col("doc_id") % 20 =!= 0), evalDf, k = 4)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(streamed.toSet === spanDocs)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming contamination gate: watermarked dedup bounds state, suppresses in-window dups") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    Graft.registerAll(spark)
    val docs = SparkEntry.tbl(spark, TestData.dir("0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val evalDf = docs.where(col("doc_id") % 20 === 0)
    val train = docs.where(col("doc_id") % 20 =!= 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val evalGrams = graft.operators.Decontaminate.evalGramSet(evalDf, k = 4)
      .localCheckpoint()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t5 = java.sql.Timestamp.valueOf("2026-01-01 00:00:05")
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.streaming.StreamingContamination
      .flaggedIds(mem.toDF.toDF("doc_id", "text", "ts"), evalGrams, k = 4,
        eventTimeCol = Some("ts"), watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("cgatew")
      .outputMode("append").start()
    try {
      mem.addData(train.map(d => (d._1, d._2, t0)): _*)
      q.processAllAvailable()
      // re-ingest every batch-1 doc 5s later — inside the 10s
      // watermark delay, so every duplicate id must be suppressed
      mem.addData(train.map(d => (d._1, d._2, t5)): _*)
      q.processAllAvailable()
      val streamed = spark.table("cgatew").collect().map(_.getLong(0)).toList
      assert(streamed.distinct.size === streamed.size,
        "in-window duplicate ids must not re-emit")
      val spanDocs = graft.operators.Decontaminate.contaminationSpans(
          docs.where(col("doc_id") % 20 =!= 0), evalDf, k = 4)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(streamed.toSet === spanDocs)
      // the bounded-state operator is really in the plan: state rows
      // are tracked by the within-watermark dedupe, not the unbounded
      // dropDuplicates
      val ops = q.lastProgress.stateOperators.map(_.operatorName).mkString(",")
      assert(ops.toLowerCase.contains("withinwatermark"),
        s"expected dedupeWithinWatermark state operator, got: $ops")
    } finally q.stop()
  }

  test("streaming near-dup admission gate equals d11's keeper rule across shuffled micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    Graft.registerAll(spark)
    val docs = SparkEntry.tbl(spark, TestData.dir("0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 5 =!= 0).localCheckpoint()
    val fresh = docs.where(col("doc_id") % 5 === 0)
    // incoming = fresh docs + exact copies of corpus docs (corpus
    // screen must fire) + exact copies of fresh docs (within-stream
    // screen must fire, including across micro-batches)
    val incoming = fresh
      .unionByName(corpus.where(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .unionByName(fresh.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // the batch oracle: d11's keepers; expected rejections = complement
    val keepers = graft.operators.Dedup.incrementalNearDupNew(
        incoming.toDF("doc_id", "text"), corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = incoming.map(_._1).toSet -- keepers
    assert(expected.nonEmpty && keepers.nonEmpty,
      "fixture must reject some and admit some")
    // frozen manifest, built once (production: read back from parquet)
    val (cSh, cBands) = graft.operators.Dedup.nearDupManifest(corpus)
    // SHUFFLED split: copies may arrive before their originals — the
    // late-flag path must still converge to the batch set
    val rnd = new scala.util.Random(1203)
    val shuffled = rnd.shuffle(incoming)
    val parts = shuffled.grouped((shuffled.size + 2) / 3).toSeq
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingNearDup
      .flaggedIds(mem.toDF.toDF("doc_id", "text"), cSh, cBands)
      .writeStream.format("memory").queryName("ndgate")
      .outputMode("append").start()
    try {
      parts.foreach { p => mem.addData(p: _*); q.processAllAvailable() }
      val streamed = spark.table("ndgate").collect().map(_.getLong(0)).toList
      assert(streamed.distinct.size === streamed.size,
        "each rejection emits once")
      assert(streamed.toSet === expected,
        s"gate != d11 complement; extra=${streamed.toSet -- expected} " +
          s"missing=${expected -- streamed.toSet}")
    } finally q.stop()
  }

  test("streaming near-dup gate: the freeze cycle bounds state without losing rejections") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    Graft.registerAll(spark)
    // the scaladoc's production posture, exercised end to end: run the
    // gate over epoch 1, FREEZE epoch-1 history into the corpus
    // manifest, restart the query (empty keyed state), run epoch 2 —
    // epoch-2 rejections must still see epoch-1 docs (now via the
    // static side) exactly as one unbroken query would
    val docs = SparkEntry.tbl(spark, TestData.dir("0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 5 =!= 0).localCheckpoint()
    val fresh = docs.where(col("doc_id") % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (e1, e2base) = fresh.splitAt(fresh.size / 2)
    // epoch 2 = fresh docs + near-copies of EPOCH-1 docs: without the
    // freeze these pairs would need epoch-1 bucket state to be caught
    val e2 = e2base ++ e1.filter(_._1 % 3 == 0)
      .map { case (id, t) => (id + 500000L, t) }
    val (cSh1, cB1) = graft.operators.Dedup.nearDupManifest(corpus)
    val mem1 = MemoryStream[(Long, String)]
    val q1 = graft.streaming.StreamingNearDup
      .flaggedIds(mem1.toDF.toDF("doc_id", "text"), cSh1, cB1)
      .writeStream.format("memory").queryName("fz1")
      .outputMode("append").start()
    val flagged1 = try {
      mem1.addData(e1: _*); q1.processAllAvailable()
      spark.table("fz1").collect().map(_.getLong(0)).toSet
    } finally q1.stop()
    // FREEZE: corpus v2 = corpus v1 + every epoch-1 arrival (rejected
    // docs stay in the manifest — d11's screen compares against ALL
    // smaller ids, not just keepers, and re-freezing them keeps the
    // gate's rule identical)
    val corpus2 = corpus.unionByName(e1.toDF("doc_id", "text"))
      .localCheckpoint()
    val (cSh2, cB2) = graft.operators.Dedup.nearDupManifest(corpus2)
    val mem2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.StreamingNearDup
      .flaggedIds(mem2.toDF.toDF("doc_id", "text"), cSh2, cB2)
      .writeStream.format("memory").queryName("fz2")
      .outputMode("append").start()
    val flagged2 = try {
      mem2.addData(e2: _*); q2.processAllAvailable()
      spark.table("fz2").collect().map(_.getLong(0)).toSet
    } finally q2.stop()
    // oracle: one unbroken batch run over the full history — epoch-2
    // rejections of the two-epoch gate must match the batch screens
    // restricted to epoch-2 ids (epoch-1 ids have smaller raw ids and
    // arrive earlier, so the restriction is exact)
    val all = (e1 ++ e2).toDF("doc_id", "text")
    val keepers = graft.operators.Dedup.incrementalNearDupNew(all, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expectedAll = (e1 ++ e2).map(_._1).toSet -- keepers
    val e2ids = e2.map(_._1).toSet
    assert(flagged2 === (expectedAll & e2ids),
      s"post-freeze epoch-2 rejections diverged; extra=${flagged2 -- expectedAll}")
    // every epoch-1 id is smaller than every epoch-2 id, so an epoch-1
    // verdict in the unbroken run depends only on corpus + epoch 1
    assert(flagged1 === (expectedAll -- e2ids), "epoch-1 rejections diverged")
    // the cross-epoch copies really exercised the freeze: at least one
    // epoch-2 rejection pairs only with an epoch-1 doc
    assert(e2.map(_._1).exists(id => id >= 500000L && flagged2(id)),
      "no epoch-2 rejection depended on frozen epoch-1 history")
  }

  /** Run the near-dup gate over one batch of (id, text) docs and return
    * the flagged-id set. */
  private def runNdGate(
      incoming: Seq[(Long, String)], corpus: org.apache.spark.sql.DataFrame,
      bucketCap: Int = 100000, signatureState: Boolean = false,
      name: String = "ndg"): Set[Long] = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (cSh, cBands) = graft.operators.Dedup.nearDupManifest(corpus)
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingNearDup
      .flaggedIds(mem.toDF.toDF("doc_id", "text"), cSh, cBands,
        bucketCap = bucketCap, signatureState = signatureState)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      mem.addData(incoming: _*); q.processAllAvailable()
      spark.table(name).collect().map(_.getLong(0)).toSet
    } finally q.stop()
  }

  test("near-dup gate signature mode: flag set equals exact mode far from threshold") {
    Graft.registerAll(spark)
    // copies (J = 1: every signature component matches → est 1.0) and
    // unrelated docs (J ≈ 0: a shared band pins only r=4 of 32
    // components, est ≈ 0.125 < 0.4) — both modes must agree exactly
    val docs = SparkEntry.tbl(spark, TestData.dir("0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 5 =!= 0).localCheckpoint()
    val fresh = docs.where(col("doc_id") % 5 === 0)
    val incoming = fresh
      .unionByName(corpus.where(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .unionByName(fresh.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val exact = runNdGate(incoming, corpus, name = "sigp_ex")
    val est = runNdGate(incoming, corpus, signatureState = true,
      name = "sigp_sig")
    assert(exact.nonEmpty, "fixture must reject some docs")
    assert(est === exact,
      s"far-from-threshold fixture diverged: extra=${est -- exact} " +
        s"missing=${exact -- est}")
  }

  test("near-dup gate signature mode: the estimator diverges BOTH ways near the threshold") {
    import spark.implicits._
    Graft.registerAll(spark)
    // the scaladoc's ⊆/⊇ claim, tested: near J = 0.4 the matching-
    // components estimate crosses the threshold in either direction.
    // Sweep synthetic pairs (shared prefix + distinct tails), compute
    // exact J and estimated J from the SAME native expressions the gate
    // uses, and verify the gate's verdict follows the ESTIMATE — then
    // assert the sweep contains a disagreement in each direction.
    def doc(seed: Int, words: Int): String =
      (0 until words).map(w => s"w${seed}_$w").mkString(" ")
    val pairs = (0 until 40).map { p =>
      val shared = doc(p, 14 + (p % 9))
      val a = shared + " " + doc(1000 + p, 10 + (p % 7))
      val b = shared + " " + doc(2000 + p, 10 + ((p + 3) % 7))
      (p.toLong, a, b)
    }
    val pairDf = pairs.toDF("pair", "a", "b")
      .withColumn("_sa", graft.operators.Dedup.hashedShingleSetNative(col("a")))
      .withColumn("_sb", graft.operators.Dedup.hashedShingleSetNative(col("b")))
      .withColumn("_ga", graft.operators.Dedup.minhashSignatureNative(col("_sa"), 32))
      .withColumn("_gb", graft.operators.Dedup.minhashSignatureNative(col("_sb"), 32))
    val inter = size(array_intersect(col("_sa"), col("_sb")))
    // candidacy precondition shared by BOTH modes: the pair must land
    // in at least one common band bucket (all r=4 components of some
    // band equal) — divergence is only observable on candidate pairs
    val shareBand = (0 until 8).map { j =>
      (0 until 4).map(i =>
        element_at(col("_ga"), j * 4 + i + 1) ===
          element_at(col("_gb"), j * 4 + i + 1)).reduce(_ && _)
    }.reduce(_ || _)
    val verdicts = pairDf.select(col("pair"),
        (inter.cast("double") /
          (size(col("_sa")) + size(col("_sb")) - inter).cast("double"))
          .as("exactJ"),
        (size(filter(zip_with(col("_ga"), col("_gb"), (x, y) => x === y),
          (m: org.apache.spark.sql.Column) => m)).cast("double") / 32.0)
          .as("estJ"),
        shareBand.as("cand"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getBoolean(3)))
    val exactOnly = verdicts.filter(v => v._4 && v._2 >= 0.4 && v._3 < 0.4)
    val estOnly = verdicts.filter(v => v._4 && v._2 < 0.4 && v._3 >= 0.4)
    assert(exactOnly.nonEmpty && estOnly.nonEmpty,
      s"sweep must contain both divergence directions; exactOnly=" +
        s"${exactOnly.length} estOnly=${estOnly.length}")
    // run the gate in signature mode over one representative pair of
    // each kind (empty corpus: within-stream screen only) — the flag
    // must follow the estimate, not the exact Jaccard
    val emptyCorpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val eo = pairs(exactOnly.head._1.toInt)
    val so = pairs(estOnly.head._1.toInt)
    val flagsEo = runNdGate(Seq((1L, eo._2), (2L, eo._3)), emptyCorpus,
      signatureState = true, name = "div_eo")
    assert(flagsEo.isEmpty,
      s"estJ<0.4 pair must NOT flag in signature mode, got $flagsEo")
    val flagsSo = runNdGate(Seq((1L, so._2), (2L, so._3)), emptyCorpus,
      signatureState = true, name = "div_so")
    assert(flagsSo === Set(2L),
      s"estJ>=0.4 pair must flag the larger id, got $flagsSo")
  }

  test("near-dup gate bucketCap: capped arrivals skip pairing but corpus verdicts still emit") {
    import spark.implicits._
    Graft.registerAll(spark)
    val textA = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa quebec romeo sierra tango"
    val textB = "zulu yankee xray whiskey victor uniform tango sierra " +
      "quebec papa oscar november mike lima kilo juliett india hotel golf"
    val corpus = Seq((900L, textB)).toDF("doc_id", "text").localCheckpoint()
    // ids 1,2 are copies of A (not in corpus); ids 10,11 are copies of
    // corpus text B
    val incoming = Seq((1L, textA), (2L, textA), (10L, textB), (11L, textB))
    // uncapped: 2 loses to 1 (within-stream), 10 and 11 are corpus hits
    assert(runNdGate(incoming, corpus, name = "cap_off")
      === Set(2L, 10L, 11L))
    // bucketCap=1: each bucket admits its smallest id only — id 2 never
    // pairs (its rejection is LOST, the documented hot-bucket trade);
    // id 11 is skipped from state too, but its corpus verdict is
    // stateless and still emits
    assert(runNdGate(incoming, corpus, bucketCap = 1, name = "cap_on")
      === Set(10L, 11L))
  }

  test("streaming contamination gate quarantines malformed ids instead of dying") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    Graft.registerAll(spark)
    val evalDocs = Seq((1L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val evalGrams = graft.operators.Decontaminate.evalGramSet(evalDocs)
      .localCheckpoint()
    val mem = MemoryStream[(String, String)]
    val q = graft.streaming.StreamingContamination
      .flaggedIds(mem.toDF.toDF("doc_id", "text"), evalGrams)
      .writeStream.format("memory").queryName("contq")
      .outputMode("append").start()
    try {
      // one malformed id rides the same micro-batch as a real hit —
      // under ANSI mode an unguarded cast would kill the query
      mem.addData(
        ("not-a-number", "the quick brown fox jumps over the lazy dog today"),
        ("7", "the quick brown fox jumps over the lazy dog today"),
        ("8", "completely unrelated words nowhere near the benchmark"))
      q.processAllAvailable()
      val flagged = spark.table("contq").collect().map(_.getLong(0)).toSet
      assert(flagged === Set(7L),
        s"quarantine must drop the malformed id and keep screening, got $flagged")
    } finally q.stop()
  }

  test("fused gate profile runs at ingest time: streaming == batch, row for row") {
    // the ingest-quality-gate plumbing proof: withGateProfile is a
    // stateless projection + generate, so it must run unchanged on a
    // streaming Dataset (append mode, no watermark needed) and admit
    // exactly the rows the batch gate admits
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs: Seq[(Long, String)] = Seq(
      1L -> ("the quick brown fox jumps over the lazy dog and that " * 4),
      2L -> "short",
      3L -> ("#### ... #### ... " * 20),
      4L -> ("der hund und die katze sind nicht zu haus mit auf " * 4),
      5L -> ("the cat sat on the mat with a hat and that is that have fun " * 3))
    def gate(df: org.apache.spark.sql.DataFrame) =
      graft.functions.Text.withGateProfile(df, col("text"),
          minWords = 10, minRequiredWords = 0)
        .where(col("passes_quality") && !col("script_mixed"))
        .select(col("doc_id"), col("n_tokens"), col("quality"), col("lang_pred"))
    val batch = gate(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    assert(batch.nonEmpty && batch.size < docs.size,
      s"fixture must make the gate fire both ways, got $batch")
    val mem = MemoryStream[(Long, String)]
    val q = gate(mem.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gateq")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(2): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("gateq").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
      assert(streamed === batch,
        s"streaming gate must equal batch:\n stream=$streamed\n batch=$batch")
    } finally q.stop()
  }

  test("robots crawl gate runs at ingest time: streaming == batch, row for row") {
    // the crawl frontier is a STREAM of discovered URLs; the robots
    // verdict is a stateless scan-stage projection (rules ride the
    // expression as a constant), so it must run unchanged on a
    // streaming Dataset and admit exactly the batch verdicts
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Web
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rules = Web.loadRobotsRules(
      """User-agent: *
        |Allow: /p/1
        |Disallow: /p/1
        |Disallow: /p/15$
        |Disallow: /*utm_
        |""".stripMargin)
    val urls: Seq[(Long, String)] = Seq(
      1L -> "/p/10", 2L -> "/p/15", 3L -> "/p/15/x",
      4L -> "/q?utm_source=a", 5L -> "/other", 6L -> "/p/15?utm_x=1")
    def gate(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("_ri", Web.robotsPrevailingRule(col("path"), rules))
        .where(Web.robotsAllowed(col("_ri"), rules))
        .select(col("doc_id"), col("path"),
          Web.robotsRuleLabel(col("_ri"), rules).as("rule"))
    val batch = gate(urls.toDF("doc_id", "path"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(batch.map(_._1) === Set(1L, 3L, 5L),
      s"fixture must admit exactly the tie/prefix/default rows, got $batch")
    val mem = MemoryStream[(Long, String)]
    val q = gate(mem.toDF.toDF("doc_id", "path"))
      .writeStream.format("memory").queryName("robotsq")
      .outputMode("append").start()
    try {
      mem.addData(urls.take(3): _*)
      q.processAllAvailable()
      mem.addData(urls.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("robotsq").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(streamed === batch,
        s"streaming robots gate must equal batch:\n stream=$streamed\n batch=$batch")
    } finally q.stop()
  }
}
