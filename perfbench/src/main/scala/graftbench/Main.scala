package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Graft, SparkEntry}

/** The JVM half of the benchmark (perfbench/run.py is the other half).
  *
  * `Main --workload W --data DIR --rows N --out DIR --seconds S
  *  --trace 0|1 --cores N` sets up once (the library's session, graft
  * registration, the workload's own set-up and the cold first op),
  * finishes round 0 untimed as warm-up and reference, then times whole
  * rounds, at least two, until S seconds of op time are spent. It writes
  * `DIR/result.json`; with `--trace 1` also `DIR/trace.jsonl`. The
  * session's spark.local.dir and warehouse come from -D system
  * properties. */
object Main {
  final case class OpRecord(id: Long, name: String, round: Int, traced: Boolean,
      secs: Double, rows: Long, ok: Boolean, err: String)

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def toJson(v: Any): String = json.writeValueAsString(v)

  def writeText(path: String, s: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))
  }

  /** Fixed CPU-plus-shuffle calibration query; its time tracks the host,
    * not the program. */
  private def probe(spark: SparkSession): Double = {
    val t = System.nanoTime()
    spark.range(0, 2000000L, 1, 8)
      .select((col("id") * 7919 % 50021).as("k"), (xxhash64(col("id")) % 1000003).as("h"))
      .groupBy(col("k")).agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
      .agg(sum(col("n")), max(col("s"))).collect()
    (System.nanoTime() - t) / 1e9
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val dataDir = opt("data")
    val outDir = opt("out")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val rows = opt("rows").toLong

    // ---- set-up, once, cold: nothing runs on the session before it ----
    val t0 = System.nanoTime()
    val spark = Graft.localSession("graft-perfbench", cores, shufflePartitions = cores)
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    Graft.registerAll(spark)
    val t2 = System.nanoTime()
    val tr = new Tracer(spark)
    val wl = Workloads(workload, new Ctx(spark, dataDir, outDir, rows, tr, traced))
    wl.prepare()
    val t3 = System.nanoTime()
    val round0 = wl.round(0)
    var firstOut = tr.op(0, round0.head.name, traced = false)(round0.head.run())._1
    tr.endOp()
    val t4 = System.nanoTime()
    val setup = Map("session_s" -> (t1 - t0) / 1e9, "register_s" -> (t2 - t1) / 1e9,
      "prepare_s" -> (t3 - t2) / 1e9, "first_op_s" -> (t4 - t3) / 1e9)
    if (traced) tr.install()

    // ---- round 0: untimed warm-up; every op's first output is its reference ----
    val refDigest = mutable.Map[String, String]()
    def firstOutput(op: Op, out: Out): Unit =
      if (!refDigest.contains(op.name)) { refDigest(op.name) = out.digest; out.reference() }
    val t0w = System.nanoTime()
    firstOutput(round0.head, firstOut)
    firstOut = null // holds the first op's outputs; keep them out of the retained heap
    round0.drop(1).foreach { op =>
      val out = tr.op(0, op.name, traced = false)(op.run())._1
      tr.endOp()
      firstOutput(op, out)
    }
    val warmupS = (System.nanoTime() - t0w) / 1e9
    writeText(s"$outDir/oracle_sql.json",
      toJson(wl.oracleNames.map(n => n -> SparkEntry.oracleSql(n)).toMap))

    probe(spark) // first call compiles the probe's code
    val probeStart = probe(spark)

    // ---- measured loop: whole rounds until `seconds` of op time ----
    val ops = mutable.ArrayBuffer[OpRecord]()
    val counters = mutable.Map[Long, Map[String, Double]]()
    var timed = 0.0
    var r = 1
    var nextId = 1L
    val gc0 = gcSeconds
    // at least two rounds: a slow host window then lengthens the run
    // instead of halving its sample; traced runs alternate traced and
    // untraced rounds for the overhead ratio and need one of each
    while (timed < seconds || r <= 2) {
      val tracedRound = traced && r % 2 == 1
      wl.round(r).foreach { op =>
        val id = nextId; nextId += 1
        var err = ""
        val start = System.nanoTime()
        // a failed op still spends its time, so failures cannot stall the loop
        val (out, ns) =
          try tr.op(id, op.name, tracedRound)(op.run())
          catch { case e: Exception => err = e.toString; (null, System.nanoTime() - start) }
        val secs = ns / 1e9
        timed += secs
        tr.endOp()
        val ok = out != null && (refDigest.get(op.name) match {
          case Some(d) => d == out.digest
          case None => firstOutput(op, out); true
        })
        if (out != null && !ok) err = s"output digest differs from the reference run of ${op.name}"
        // every op's counters are read, so each traced op sees only its own
        if (out != null) { val c = out.counters(); if (tracedRound) counters(id) = c }
        tr.endOp()
        ops += OpRecord(id, op.name, r, tracedRound, secs, op.rows, ok, err)
      }
      r += 1
    }
    val gcLoop = gcSeconds - gc0

    val probeEnd = probe(spark)
    val (checks, runCounts) = wl.finish()
    wl.close()
    tr.endOp()

    // ---- retained heap after a full GC; the context cleaner needs a GC
    // to see unreferenced RDDs, then time to drop their blocks ----
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(300); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.size
    val storageMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val jitS = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        tr.write(s"$outDir/trace.jsonl")
        LayerMetrics(tr, ops.toSeq, counters.toMap, runCounts) ++ Map(
          "graft.session_s" -> setup("session_s"),
          "graft.register_s" -> setup("register_s"),
          "jvm.gc_s" -> gcLoop / math.max(1, ops.size),
          "jvm.jit_s" -> jitS,
          "cache.persisted_rdds_end" -> persisted.toDouble,
          "cache.storage_mb_end" -> storageMb,
          "host.probe_s" -> (probeStart + probeEnd) / 2)
      }

    writeText(s"$outDir/result.json", toJson(Map(
      "workload" -> workload,
      "setup" -> setup,
      "warmup_s" -> warmupS,
      "ops" -> ops.map(o => Map("id" -> o.id, "name" -> o.name, "round" -> o.round,
        "traced" -> o.traced, "s" -> o.secs, "rows" -> o.rows, "ok" -> o.ok, "err" -> o.err)),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "ops" -> c.ops,
        "detail" -> c.detail)),
      "probe_s" -> Seq(probeStart, probeEnd),
      "retained_heap_mb" -> heapMb,
      "layers" -> layers)))
    spark.stop()
  }
}
