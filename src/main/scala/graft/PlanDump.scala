package graft

import java.nio.file.{Files, Paths}

/** Measurement-only tool: writes `.explain("formatted")` for named
  * declared queries to `<outDir>/<name>_<tag>.txt` — the plan-shape
  * evidence the optimization rounds commit under `plans/rNN/`.
  * Usage: `runMain graft.PlanDump <outDir> <tag> <query> [<query>...]`
  * (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS — same as Bench). */
object PlanDump {

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.localSession("graft-plan-dump", cpus, cpus)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      // free operator-construction state between queries
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      println(s"[plandump] $name -> $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
