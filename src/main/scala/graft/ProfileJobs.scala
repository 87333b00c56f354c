package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Measurement-only harness (optimization guide §1): runs named declared
  * queries in one warm JVM and reports, per timed run, the wall seconds
  * plus the Spark JOB / STAGE / TASK counts — the direct observable for
  * "this query's cost is N sequential driver round-trips, not data"
  * (the LSH+CC chain diagnosis from VERDICT r13). Not part of the
  * driver contract; never invoked by Bench/Verify.
  *
  * Usage: `runMain graft.ProfileJobs <query> [<query> ...]`
  * (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS — same as Bench).
  */
object ProfileJobs {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.localSession("graft-profile-jobs", cpus, cpus)
    // extra session confs for experiments, e.g.
    // SPARK_GRAFT_CONF="spark.sql.autoBroadcastJoinThreshold=-1"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k.trim, v.trim)
    })
    val jobs = new AtomicInteger()
    val stages = new AtomicInteger()
    val tasks = new AtomicLong()
    val shufW = new AtomicLong()
    val shufR = new AtomicLong()
    val verbose = sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) t0.put(j.jobId, System.nanoTime())
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (verbose) Option(t0.remove(j.jobId)).foreach { s =>
          System.err.println(f"[job ${j.jobId}%4d] ${(System.nanoTime() - s) / 1e3}%9.0f us")
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong)
        shufW.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        shufR.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        if (verbose) System.err.println(
          s"[stage ${s.stageInfo.stageId}] ${s.stageInfo.numTasks} tasks  ${s.stageInfo.name}")
      }
    })
    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // untimed warmup (codegen/JIT) — same protocol as Bench
      fn(spark, sfDir).count()
      release()
      (1 to 2).foreach { rep =>
        Thread.sleep(400) // let the async listener bus drain
        jobs.set(0); stages.set(0); tasks.set(0); shufW.set(0); shufR.set(0)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(400)
        println(f"""{"query":"$name","rep":$rep,"sec":$sec%.3f,"jobs":${jobs.get},"stages":${stages.get},"tasks":${tasks.get},"shufWriteMB":${shufW.get / 1048576.0}%.1f,"shufReadMB":${shufR.get / 1048576.0}%.1f}""")
        release()
      }
    }
    spark.stop()
  }
}
