package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Decontaminate, Dedup, Split}

/** Composed-pipeline rehearsal — the measurement the per-operator
  * octaves cannot give: the full curation chain as ONE run, per-stage
  * wall + shuffle volume + exchange-producing stage count, at whatever
  * scale dir it is pointed at (`/tmp/sf10` = 100× the certified gate).
  *
  * The chain (each stage the production operator, not a proxy):
  *   1. gate      — NFC normalize → PII-safe quality score, langId,
  *                  token count, quality flags, script-mix profile
  *                  (all scan-stage; ONE codegen pass over the corpus)
  *   2. exact     — d1 content-hash dedup, keepers only (1 shuffle)
  *   3. neardup   — banded MinHash-LSH pairs → connected components →
  *                  one keeper per component (the d10/d15 release path;
  *                  the embedding twin is d32's frozen index)
  *   4. decon     — d36 span decontamination vs the held-out eval
  *                  slice: per-doc excised-token counts joined back
  *                  (shuffle-hash, spans never broadcast)
  *   5. split     — p1 deterministic hash split
  *   6. pack      — p3 sequence packing of the train split
  *   7. manifest  — p18 shard manifest (counts + checksum per shard)
  *
  * Composition is where lineage growth, AQE re-planning, and
  * materialization pressure live: each stage feeding ≥ 2 downstream
  * consumers is cut with `localCheckpoint` (eager, MEMORY_AND_DISK) —
  * the same discipline the operators use internally — so no stage is
  * recomputed and the measured walls compose additively. On a
  * multi-node cluster swap reliable checkpoints in.
  *
  * Prints one JSON line:
  * `{"metric":"pipeline_rehearsal","sf":dir,"total_sec":…,
  *   "stages":{gate:{sec,rows,spark_stages,exchanges,shuffle_mb},…}}`.
  *
  * Run: `sbt "runMain graft.PipelineRehearsal /tmp/sf10"`.
  */
object PipelineRehearsal {

  private class ShuffleMetrics extends SparkListener {
    val stages = new AtomicLong
    val exchangeStages = new AtomicLong
    val shuffleWriteBytes = new AtomicLong
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      if (w > 0) exchangeStages.incrementAndGet()
      shuffleWriteBytes.addAndGet(w)
    }
    def snapshot: (Long, Long, Long) =
      (stages.get(), exchangeStages.get(), shuffleWriteBytes.get())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(TestData.dir("0.1"))
    val spark = Graft.localSession("pipeline-rehearsal")
    val metrics = new ShuffleMetrics
    spark.sparkContext.addSparkListener(metrics)

    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    var last = metrics.snapshot
    val t0 = System.nanoTime()
    def stage(name: String)(body: => DataFrame): DataFrame = {
      val s0 = System.nanoTime()
      val df = body
      val rows = df.count()
      // listener events are async — drain before snapshotting
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      val now = metrics.snapshot
      val sec = (System.nanoTime() - s0) / 1e9
      out(name) = f"""{"sec":$sec%.2f,"rows":$rows,"spark_stages":${now._1 - last._1},"exchanges":${now._2 - last._2},"shuffle_mb":${(now._3 - last._3) / 1048576.0}%.1f}"""
      last = now
      df
    }

    // 1. gate — one scan-stage pass: NFC, quality, langId, tokens,
    // rule flags, script profile (generator-barriered), then the keep
    // filter. Checkpointed: 3 downstream consumers (exact join,
    // eval slice, decon token join).
    //
    // minRequiredWords = 0 HERE (production keeps Gopher's >= 1): the
    // octave corpora suffix every token per copy ("the" -> "thec3"),
    // so the required-word rule would keep ONLY the base copy and the
    // rehearsal would measure a constant-size survivor set at every
    // octave — an octave-generator artifact, not pipeline behavior.
    // The binding gate is the quality score (>= 0.6 cuts inside the
    // corpus's score distribution, so it fires visibly and keeps a
    // scale-proportional survivor set).
    // The fused one-scan GateMetrics profile is spec-pinned bit-identical
    // to the composable gate (GateFusedSpec).
    val gated = stage("gate") {
      val docs = SparkEntry.tbl(spark, sfDir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          graft.functions.NfcNormalize(col("text")).as("text"))
      Text.withGateProfile(docs, col("text"),
          minWords = 10, minRequiredWords = 0)
        .where(!col("script_mixed"))
        .where(col("quality") >= 0.6 && col("passes_quality"))
        .select(col("doc_id"), col("source"), col("lang"), col("text"),
          col("quality"), col("n_tokens"))
        .localCheckpoint()
    }

    // 2. exact dedup (d1): one shuffle on the content hash
    val uniq = stage("exact") {
      gated.join(Dedup.exact(gated).where(!col("is_dup"))
        .select(col("doc_id")), "doc_id")
        .localCheckpoint()
    }

    // 3. near-dup keepers: LSH pairs → CC → canonical keeper
    val clean = stage("neardup") {
      val pairs = Dedup.minhashLshPairs(uniq, threshold = 0.6)
      Dedup.keepCanonical(uniq, Dedup.connectedComponents(pairs))
        .localCheckpoint()
    }

    // 4. span decontamination (d36): eval slice = doc_id % 20 == 0;
    // survivors carry post-excision token counts
    val decond = stage("decon") {
      val train = clean.where(col("doc_id") % 20 =!= 0)
      val eval = gated.where(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("text"))
      val excised = Decontaminate.contaminationSpans(
          train.select(col("doc_id"), col("text")), eval, k = 4)
        .groupBy(col("doc_id"))
        .agg(sum(col("span_end") - col("span_start") + 1).as("_rm"))
      train.join(excised.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("lang"), col("quality"),
          (col("n_tokens") - coalesce(col("_rm"), lit(0L))).as("n_tokens"))
        .localCheckpoint()
    }

    // 5. deterministic hash split (p1)
    val split = stage("split") {
      Split.assignSplit(decond, "doc_id").localCheckpoint()
    }

    // 6. sequence packing (p3) of the train split
    val packed = stage("pack") {
      Split.packSequences(
        split.where(col("split") === "train")
          .select(col("doc_id"), col("n_tokens")),
        "doc_id", "n_tokens", budget = 2048, bins = 32)
        .localCheckpoint()
    }

    // 7. shard manifest (p18)
    stage("manifest") {
      packed.groupBy(col("bin"), col("seq_id").as("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_toks"),
          sum(Dedup.hash60(concat(lit("shard|"), col("doc_id").cast("string")))
            .cast("decimal(38,0)")).as("_hs"))
        .select(col("bin"), col("shard_id"), col("n_docs"),
          col("n_toks").cast("long").as("n_toks"),
          expr("CAST(_hs % 1000000000000000000 AS BIGINT)").as("checksum"))
    }

    val totalSec = (System.nanoTime() - t0) / 1e9
    val stagesJson = out.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(f"""{"metric":"pipeline_rehearsal","dir":"$sfDir","total_sec":$totalSec%.2f,"stages":{$stagesJson}}""")
    spark.stop()
  }
}
