package graftbench

import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.functions.Text
import graft.operators.{Decontaminate, Dedup, Retention, Split}
import graft.streaming.StatefulRetention

/** What an op returns. `digest` (computed after the op's timing ends)
  * must equal that of the first run of the same op name; `reference`
  * persists the first run's output for the DuckDB oracle; `counters`
  * are the op's own per-layer counts, read right after it ends. */
final class Out(
    digest0: => String,
    val reference: () => Unit = () => (),
    val counters: () => Map[String, Double] = () => Map.empty) {
  lazy val digest: String = digest0
}

final case class Op(name: String, rows: Long, run: () => Out)

/** An end-of-run correctness check; a failed check fails `ops` ops. */
final case class Check(name: String, ok: Boolean, ops: Long, detail: String)

/** `rows` is the workload's input size, as the generator wrote it. */
final class Ctx(val spark: SparkSession, val dataDir: String, val outDir: String,
    val rows: Long, val tr: Tracer, val traced: Boolean)

/** A closed loop of ops with one client: Main runs round 0 as set-up
  * and warm-up, then whole rounds until the run's seconds are spent. */
trait Workload {
  /** The workload's own set-up, timed with the first op as set-up. */
  def prepare(): Unit = ()
  def round(r: Int): Seq[Op]
  /** Query names whose first output the DuckDB oracle checks. */
  def oracleNames: Seq[String] = Nil
  /** Outside timing, after the last round: checks and run-level counts. */
  def finish(): (Seq[Check], Map[String, Double]) = (Nil, Map.empty)
  /** Stops whatever the workload started. */
  def close(): Unit = ()
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "uba_dashboard" => new UbaDashboard(ctx)
    case "retention_bulk" => new RetentionBulk(ctx)
    case "curation_chain" => new CurationChain(ctx)
    case "retention_stream" => new RetentionStream(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** An `array<array<bigint>>` field as nested immutable lists. */
  def longMatrix(r: Row, i: Int): List[List[Long]] =
    r.getAs[scala.collection.Seq[scala.collection.Seq[Long]]](i).map(_.toList).toList

  /** Order-independent digest of a collected result. */
  def digest(rows: Array[Row]): String =
    MessageDigest.getInstance("SHA-256")
      .digest(rows.map(_.toString).sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // The retention window of the repo's retention queries: 7 days from
  // 2024-01-01, born = signup, target = purchase.
  val WinStart = "2024-01-01"
  val WinDays = 7
  def inWindow: Column =
    col("ts") >= lit(WinStart).cast("timestamp") &&
      col("ts") < date_add(lit(WinStart).cast("date"), WinDays).cast("timestamp")
  def dayOffset: Column = datediff(to_date(col("ts")), lit(WinStart).cast("date")).cast("long")
  def retentionCount: Column = Retention.retention_count(
    col("event_type") === "signup", col("event_type") === "purchase",
    lit((WinDays - 1).toLong), dayOffset)

  /** Per-user checksum of a `retention_count` result `s`, summed over
    * users; perfbench/oracle.py computes the same from the DuckDB oracle. */
  def statsChecksum(s: Column): Column =
    (0 until WinDays).map(t => s(0)(t).cast("long") * (t + 1) + s(1)(t).cast("long") * (t + 11))
      .reduce(_ + _) * (col("user_id") % 1000 + 1)
}

/** Dashboard refresh: seven UBA queries from the repo's query
  * registry, each a handful of small Spark jobs, so planning, job
  * scheduling and driver gaps dominate. */
final class UbaDashboard(ctx: Ctx) extends Workload {
  import ctx._
  // An odd number of queries: with two passes the median op then
  // falls on the samples of one query, not in the gap between two.
  val names = Seq("retention_count", "retention_sum", "u1_funnel_stages",
    "u2_funnel_report", "u21_funnel_latency", "q10_sessionize",
    "q16_cohort_matrix")
  override def oracleNames: Seq[String] = names

  def round(r: Int): Seq[Op] = names.map { n =>
    Op(n, rows, () => {
      val df = tr.layer("entry.build")(SparkEntry.queries(n)(spark, dataDir))
      val rows = tr.layer("exec.collect")(df.collect())
      new Out(Workloads.digest(rows), () =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/ref/$n"))
    })
  }
}

/** The flagship retention query over a large, user-skewed table: per-user
  * `retention_count` then `retention_sum`, once through the Column API and
  * once through the registered SQL functions, plus a control pass with
  * built-in aggregates over the same scan, filter and grouping. */
final class RetentionBulk(ctx: Ctx) extends Workload {
  import ctx._
  // perfbench/oracle.py derives the passes' expected values from these
  override def oracleNames: Seq[String] = Seq("retention_count", "retention_sum")

  override def prepare(): Unit =
    SparkEntry.tbl(spark, dataDir, "events").createOrReplaceTempView("events")

  private def triangleOut(name: String, df: DataFrame): Out = {
    val row = tr.layer(s"retention.$name")(df.collect()).head
    val tri = Workloads.longMatrix(row, 0)
    val sum = row.getLong(1)
    new Out(s"$tri/$sum", () => Main.writeText(s"$outDir/ref/$name.json",
      Main.toJson(Map("triangle" -> tri, "checksum" -> sum))))
  }

  private def columnPass(): Out = {
    val stats = SparkEntry.tbl(spark, dataDir, "events").where(Workloads.inWindow)
      .groupBy(col("user_id")).agg(Workloads.retentionCount.as("s"))
    triangleOut("column", stats.agg(
      Retention.retention_sum(col("s")).as("triangle"),
      sum(Workloads.statsChecksum(col("s"))).as("checksum")))
  }

  private val sqlChecksum = (0 until Workloads.WinDays).map(t =>
    s"CAST(s[0][$t] AS BIGINT) * ${t + 1} + CAST(s[1][$t] AS BIGINT) * ${t + 11}").mkString(" + ")
  private def sqlPass(): Out = triangleOut("sql", spark.sql(
    s"""WITH u AS (
       |  SELECT user_id, retention_count(event_type = 'signup',
       |    event_type = 'purchase', ${Workloads.WinDays - 1}L,
       |    CAST(datediff(to_date(ts), DATE '${Workloads.WinStart}') AS BIGINT)) AS s
       |  FROM events
       |  WHERE ts >= TIMESTAMP '${Workloads.WinStart} 00:00:00'
       |    AND ts < TIMESTAMP '${Workloads.WinStart} 00:00:00' + INTERVAL ${Workloads.WinDays} DAYS
       |  GROUP BY user_id)
       |SELECT retention_sum(s) AS triangle,
       |  sum(($sqlChecksum) * (user_id % 1000 + 1)) AS checksum
       |FROM u""".stripMargin))

  private def controlPass(): Out = {
    def bits(kind: String) = bit_or(when(col("event_type") === kind,
      call_function("shiftleft", lit(1L), Workloads.dayOffset.cast("int"))))
    val w = col("user_id") % 1000 + 1
    val row = tr.layer("retention.control") {
      SparkEntry.tbl(spark, dataDir, "events").where(Workloads.inWindow)
        .groupBy(col("user_id")).agg(bits("signup").as("b"), bits("purchase").as("g"))
        .agg(sum(col("b") * w).as("born_sum"), sum(col("g") * w).as("target_sum"),
          count(lit(1)).as("users"))
        .collect().head
    }
    val vals = (0 until 3).map(row.getLong)
    new Out(vals.mkString("/"), () => Main.writeText(s"$outDir/ref/control.json",
      Main.toJson(Map("born_sum" -> vals(0), "target_sum" -> vals(1), "users" -> vals(2)))))
  }

  def round(r: Int): Seq[Op] = Seq(
    Op("column", rows, () => columnPass()),
    Op("sql", rows, () => sqlPass()),
    Op("control", rows, () => controlPass()))
}

/** The curation chain of `graft.PipelineRehearsal`, rebuilt from the same
  * public calls, with winnowing fingerprints added and the shard manifest
  * written to parquet. One op is one full chain. The first chain's stage
  * outputs go to perfbench/oracle.py, which recomputes each stage from
  * the input documents; later chains must match the first. */
final class CurationChain(ctx: Ctx) extends Workload {
  import ctx._
  private var lastUniq: Option[DataFrame] = None
  private var lastPairs = 0L
  private def sinkPath = s"$outDir/sink/manifest"

  private def writeReference(outs: collection.Map[String, DataFrame]): Unit = {
    def stageRows(df: DataFrame, cols: String*): Seq[Seq[Any]] =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    Main.writeText(s"$outDir/ref/curation.json", Main.toJson(Map(
      "gate" -> stageRows(outs("gate"), "doc_id", "n_tokens"),
      "exact" -> stageRows(outs("exact"), "doc_id"),
      "pairs" -> stageRows(outs("pairs"), "id_a", "id_b", "jaccard"),
      "neardup" -> stageRows(outs("neardup"), "doc_id"),
      "decon" -> stageRows(outs("decon"), "doc_id", "n_tokens"),
      "split" -> stageRows(outs("split"), "doc_id", "split"),
      "manifest" -> stageRows(spark.read.parquet(sinkPath),
        "bin", "shard_id", "n_docs", "n_toks", "checksum"))))
  }

  private def chain(): Out = {
    // each stage's output; counted after the op, outside its timing
    val outs = mutable.LinkedHashMap[String, DataFrame]()
    def stage(layer: String, key: String)(body: => DataFrame): DataFrame =
      tr.layer(layer) { val df = body; outs(key) = df; df }

    // gate: the fused one-scan gate profile, then the keep filter
    // (minRequiredWords = 0 as in the rehearsal: the binding gate is
    // the quality score)
    val gated = stage("functions.gate", "gate") {
      val docs = SparkEntry.tbl(spark, dataDir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          call_function("nfc_normalize", col("text")).as("text"))
      Text.withGateProfile(docs, col("text"), minWords = 10, minRequiredWords = 0)
        .where(!col("script_mixed"))
        .where(col("quality") >= 0.6 && col("passes_quality"))
        .select(col("doc_id"), col("source"), col("lang"), col("text"),
          col("quality"), col("n_tokens"))
        .localCheckpoint()
    }
    val uniq = stage("dedup.exact", "exact") {
      gated.join(Dedup.exact(gated).where(!col("is_dup")).select(col("doc_id")), "doc_id")
        .localCheckpoint()
    }
    val pairs = stage("dedup.lsh", "pairs") {
      Dedup.minhashLshPairs(uniq, threshold = 0.6).localCheckpoint()
    }
    // the labels are not counted after the op: that would rerun the CC
    // loop, and the near-dup stage's count already depends on them
    val labels = tr.layer("dedup.cc")(Dedup.connectedComponents(pairs))
    val clean = stage("dedup.keep", "neardup") {
      Dedup.keepCanonical(uniq, labels).localCheckpoint()
    }
    // the fingerprints feed no later stage: counting them is the stage's work
    val fingerprints = tr.layer("dedup.winnow")(Dedup.winnowingFingerprints(clean).count())
    // span decontamination against the eval slice (doc_id % 20 == 0);
    // survivors carry post-excision token counts
    val decond = stage("decon", "decon") {
      val train = clean.where(col("doc_id") % 20 =!= 0)
      val eval = gated.where(col("doc_id") % 20 === 0).select(col("doc_id"), col("text"))
      val excised = Decontaminate.contaminationSpans(
          train.select(col("doc_id"), col("text")), eval, k = 4)
        .groupBy(col("doc_id"))
        .agg(sum(col("span_end") - col("span_start") + 1).as("_rm"))
      train.join(excised.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("lang"), col("quality"),
          (col("n_tokens") - coalesce(col("_rm"), lit(0L))).as("n_tokens"))
        .localCheckpoint()
    }
    val split = stage("split", "split")(Split.assignSplit(decond, "doc_id").localCheckpoint())
    val packed = stage("pack", "packed") {
      Split.packSequences(
        split.where(col("split") === "train").select(col("doc_id"), col("n_tokens")),
        "doc_id", "n_tokens", budget = 2048, bins = 32).localCheckpoint()
    }
    tr.layer("sink.write") {
      packed.groupBy(col("bin"), col("seq_id").as("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_toks"),
          sum(Dedup.hash60(concat(lit("shard|"), col("doc_id").cast("string")))
            .cast("decimal(38,0)")).as("_hs"))
        .select(col("bin"), col("shard_id"), col("n_docs"),
          col("n_toks").cast("long").as("n_toks"),
          expr("CAST(_hs % 1000000000000000000 AS BIGINT)").as("checksum"))
        .write.mode("overwrite").parquet(sinkPath)
    }
    if (traced) lastUniq = Some(uniq)
    lazy val counts = (outs.toSeq.map { case (k, df) => k -> df.count() } :+
      ("fingerprints" -> fingerprints)).toMap
    new Out({
      lastPairs = counts("pairs")
      val m = spark.read.parquet(sinkPath)
        .agg(count(lit(1)), sum("n_docs"), sum("n_toks"),
          sum(col("checksum").cast("decimal(38,0)")))
        .collect().head
      val c = counts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
      s"$c,manifest=${m.get(0)}/${m.get(1)}/${m.get(2)}/${m.get(3)}"
    }, () => writeReference(outs),
      () => Map("functions.gate_kept_ratio" -> counts("gate").toDouble / rows))
  }

  def round(r: Int): Seq[Op] = Seq(Op("chain", rows, () => chain()))

  /** Candidate pairs before Jaccard verification: the same LSH call with
    * a threshold no pair can miss. Traced runs only, outside timing. */
  override def finish(): (Seq[Check], Map[String, Double]) = lastUniq match {
    case Some(uniq) =>
      val cand = Dedup.minhashLshPairs(uniq, threshold = 0.0).count()
      lastUniq = None
      (Nil, Map("dedup.candidate_pairs" -> cand.toDouble,
        "dedup.verified_ratio" -> (if (cand == 0) 0.0 else lastPairs.toDouble / cand)))
    case None => (Nil, Map.empty)
  }
}

/** The retention events replayed in time order through
  * `StatefulRetention.perUserStatsEvicting` in fixed-size micro-batches.
  * One op is one batch: `addData` (reported apart as
  * streaming.add_data_s) then `processAllAvailable`. One round is one
  * whole replay. Between rounds the replay's final per-user state is
  * checked against a batch `retention_count`, and a fresh query replays
  * the events again. */
final class RetentionStream(ctx: Ctx) extends Workload {
  import ctx._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  val BatchSize = 16000
  private var events: Array[(Long, String, java.sql.Timestamp, Long)] = Array.empty
  private var replay = -1
  private var pos = 0
  private var opsInReplay = 0L
  private var mem: MemoryStream[(Long, String, java.sql.Timestamp)] = _
  private var query: StreamingQuery = _
  private var lastBatch = -1L
  private val checks = mutable.ArrayBuffer[Check]()

  /** Loads the generator's time-ordered copy of the events (no Spark
    * job) and starts the first replay. */
  override def prepare(): Unit = {
    val src = scala.io.Source.fromFile(s"$dataDir/replay.tsv", "UTF-8")
    try events = src.getLines().map { line =>
        val f = line.split('\t')
        (f(0).toLong, f(1), DateTimeUtils.toJavaTimestamp(f(2).toLong), f(3).toLong)
      }.toArray
    finally src.close()
    startReplay()
  }

  private def sinkName = s"retention_stream_$replay"

  private def startReplay(): Unit = {
    replay += 1; pos = 0; opsInReplay = 0; lastBatch = -1
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val input = mem.toDF().toDF("user_id", "event_type", "ts")
    query = StatefulRetention
      .perUserStatsEvicting(input, Workloads.WinStart, Workloads.WinDays, "signup", "purchase")
      .toDF().writeStream.format("memory").queryName(sinkName).outputMode("update")
      .option("checkpointLocation", s"$outDir/stream/${java.util.UUID.randomUUID}")
      .start()
  }

  /** Stops the replay and compares each user's last emitted stats with a
    * batch `retention_count` over exactly the events fed so far. */
  private def endReplay(): Unit = {
    query.stop()
    if (pos > 0) {
      val lastId = events(pos - 1)._4
      val batch = SparkEntry.tbl(spark, dataDir, "events")
        .where(col("event_id") <= lastId && Workloads.inWindow)
        .groupBy(col("user_id"))
        .agg(Workloads.retentionCount.cast("array<array<bigint>>").as("s"))
        .collect().map(r => r.getLong(0) -> Workloads.longMatrix(r, 1)).toMap
      val streamed = spark.table(sinkName).collect()
        .groupMapReduce(_.getLong(0))(Workloads.longMatrix(_, 1)) { (a, b) =>
          a.zip(b).map { case (x, y) => x.zip(y).map { case (p, q) => math.max(p, q) } }
        }
      val ok = streamed == batch
      checks += Check(s"stream_replay_$replay", ok, if (ok) 0 else opsInReplay,
        s"users streamed=${streamed.size} batch=${batch.size} events=$pos")
    }
    spark.catalog.dropTempView(sinkName)
  }

  /** One whole replay, so every round times the same batches: state
    * growth, and eviction once the watermark passes the window end. */
  def round(r: Int): Seq[Op] = {
    if (r > 0) { endReplay(); startReplay() }
    events.grouped(BatchSize).map(_.map(e => (e._1, e._2, e._3))).toSeq.map { slice =>
      Op("batch", slice.length, () => {
        pos += slice.length
        opsInReplay += 1
        val t0 = System.nanoTime()
        tr.layer("streaming.add_data")(mem.addData(slice.toSeq))
        val addData = (System.nanoTime() - t0) / 1e9
        tr.layer("streaming.batch")(query.processAllAvailable())
        new Out("-", counters = () => progressCounters(addData))
      })
    }
  }

  private def progressCounters(addData: Double): Map[String, Double] = {
    val ps = query.recentProgress.filter(_.batchId > lastBatch)
    if (ps.nonEmpty) lastBatch = ps.map(_.batchId).max
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
    val state = ps.lastOption.flatMap(_.stateOperators.headOption)
    Map(
      "streaming.add_data_s" -> addData,
      "streaming.add_batch_s" -> ps.map(dur(_, "addBatch")).sum,
      "streaming.commit_s" -> ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum,
      "plan.planning_s" -> ps.map(dur(_, "queryPlanning")).sum,
      "streaming.rows_removed" -> ps.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum.toDouble,
      "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_mb" -> state.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0))
  }

  override def finish(): (Seq[Check], Map[String, Double]) = {
    endReplay()
    query = null
    (checks.toSeq, Map.empty)
  }

  override def close(): Unit = if (query != null) query.stop()
}
