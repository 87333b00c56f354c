package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Realistic BPE model-build measurement — the number the
  * `trainMerges` sampled-corpus contract rests on: learn `rounds`
  * merges at `batchK` on a real corpus slice and report wall, Spark
  * JOB count (the driver round-trip cost the batched trainer exists to
  * cut), and the realized merges-per-round-trip ratio.
  *
  * Output: one JSON line
  * `{"metric":"bpe_build","rounds":…,"batchK":…,"merges":…,"jobs":…,
  *   "sec":…,"merges_per_trip":…}`.
  *
  * Run: `sbt "runMain graft.BpeBench <sfDir> [rounds] [batchK]"`.
  */
object BpeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(TestData.dir("0.1"))
    val rounds = args.drop(1).headOption.map(_.toInt).getOrElse(1000)
    val batchK = args.drop(2).headOption.map(_.toInt).getOrElse(32)
    val spark = Graft.localSession("bpe-bench")
    val jobs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    // `synth:N` — an N-word synthetic vocabulary (md5-hex words), the
    // big-vocab regime where per-round full-vocab recounts dominate
    val docs =
      if (sfDir.startsWith("synth:"))
        spark.range(sfDir.stripPrefix("synth:").toLong)
          .select(col("id").as("doc_id"),
            substring(md5(col("id").cast("string")), 1, 8).as("text"))
      else SparkEntry.tbl(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
    val t0 = System.nanoTime()
    val merges = graft.operators.Bpe
      .trainMergesBatched(docs, "text", rounds, batchK).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
    val nJobs = jobs.get()
    println(f"""{"metric":"bpe_build","rounds":$rounds,"batchK":$batchK,"merges":${merges.length},"jobs":$nJobs,"sec":$sec%.1f,"merges_per_trip":${merges.length.toDouble / math.max(1, nJobs)}%.2f}""")
    spark.stop()
  }
}
