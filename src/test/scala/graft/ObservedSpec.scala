package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Observed

/** `Observed.checkpoint`: metrics that ride the checkpoint's own jobs are
  * exact under task retries, cost no job on an empty input, and the
  * checkpoint's size estimate stays flat in a loop that joins its own
  * output. */
class ObservedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("observed-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` on a session of its own over a `local[4,2]` master (two
    * attempts per task), then restores a session with the shared one's
    * context conf, runtime SQL conf and functions, so the specs that run
    * after this one in the same JVM see the session they would have. */
  private def withRetryingSession(body: SparkSession => Unit): Unit = {
    val shared = SparkSession.getDefaultSession
    val conf = shared.map(_.sparkContext.getConf.clone())
    val sqlConf = shared.map(_.conf.getAll).getOrElse(Map.empty)
    shared.foreach(_.stop())
    val s = SparkSession.builder()
      .master("local[4,2]")
      .appName("observed-retry")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    try body(s)
    finally {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      conf.foreach { c =>
        val restored = SparkSession.builder().config(c).getOrCreate()
        restored.sparkContext.setLogLevel("WARN")
        sqlConf.foreach { case (k, v) =>
          if (restored.conf.isModifiable(k)) restored.conf.set(k, v)
        }
        Graft.registerAll(restored)
      }
    }
  }

  /** `x` unchanged, except that the first attempt of partition 1's task
    * fails: Spark retries it, so the stage succeeds on its second try. */
  private val failFirstAttempt = udf { (x: Long) =>
    val tc = TaskContext.get()
    if (tc.partitionId() == 1 && tc.attemptNumber() == 0)
      throw new IllegalStateException("forced first-attempt failure")
    x
  }

  private def exactUnderRetry(df: DataFrame, what: String): Unit = {
    val (cp, m) = Observed.checkpoint(df, sum(col("x")).as("sum"))
    assert(m("rows") === 1000L, what)
    assert(m("sum") === (1L to 1000L).sum, what)
    assert(cp.count() === 1000L, what)
  }

  test("observed count and sum are exact when a task of the observed stage fails once") {
    withRetryingSession { s =>
      val base = s.range(1, 1001, 1, 4).toDF("x")
      exactUnderRetry(base.select(failFirstAttempt(col("x")).as("x")), "scan stage")
      exactUnderRetry(
        base.repartition(4, col("x")).select(failFirstAttempt(col("x")).as("x")),
        "after a shuffle")
    }
  }

  test("an empty input runs no job and reports 0 rows") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val ((cp, m), jobs) = JobCount.jobsOf(spark)(Observed.checkpoint(empty, sum(col("a")).as("s")))
    assert(jobs === 0)
    assert(m("rows") === 0L)
    assert(m.get("s").forall(_ == null))
    assert(cp.collect().isEmpty)
  }

  test("a round checkpoint's size estimate keeps its bit length from round 2 to round 20") {
    import spark.implicits._
    val step = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("k", "next")
    var (cur, _) = Observed.checkpoint(step.select(col("k"), col("k").as("v")))
    val bits = (1 to 20).map { _ =>
      // the loop joins its own output (and the step table) every round
      val (next, _) = Observed.checkpoint(cur.join(step, "k")
        .join(cur.select(col("k").as("next"), col("v").as("w")), "next")
        .select(col("next").as("k"), least(col("v"), col("w")).as("v")))
      cur = next
      cur.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    }
    assert(bits(1) === bits(19), s"bit lengths by round: ${bits.mkString(",")}")
    assert(cur.count() === 3L)
  }
}
