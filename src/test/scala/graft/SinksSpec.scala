package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Write-side layout as executable contracts: a partitioned parquet sink
  * whose directory layout drives read-side partition pruning (the 100 TB
  * pattern — lay data out once so every later scan reads only its
  * slice), with sorted-within-partition files for row-group min/max
  * locality.
  */
class SinksSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("sinks-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("partitioned parquet sink: reads prune to the matching partition dirs") {
    val out = TempDirs("graft_sink").toString
    val docs = SparkEntry.tbl(spark, TestData.dir("0.001"), "documents")
    docs.repartition(col("lang"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    // hive-style partition dirs exist
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("lang=")).toSet
    assert(dirs.size >= 2, s"expected several lang= partitions, got $dirs")
    // the filtered read plans a partition filter and returns the right rows
    val back = spark.read.parquet(out).where(col("lang") === "en")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"lang filter should prune partitions, not scan+filter:\n$plan")
    assert(back.count() === docs.where(col("lang") === "en").count())
    // and the pruned scan reads no data filter on lang (it's a dir, not a column)
    assert(!plan.contains("PushedFilters: [IsNotNull(lang"),
      s"partition column must not appear as a data filter:\n$plan")
  }

  test("partition-dir layout round-trips the partition column value") {
    val out = TempDirs("graft_sink2").toString
    val docs = SparkEntry.tbl(spark, TestData.dir("0.001"), "documents")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    val back = spark.read.parquet(out)
    val orig = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val round = back.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(round === orig)
  }
}
