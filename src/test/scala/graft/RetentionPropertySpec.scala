package graft

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Distributed-correctness properties for the retention aggregates:
  * results must be invariant to partitioning (the partial/merge path must
  * agree with the single-partition path) and to row order within the
  * constraints the reference defines. The reference ships no property
  * tests; these guard the merge semantics its golden tables only sample
  * (elementwise-max merge, reference src/retention/retention_count.rs:
  * 143-177; concat merge, retention_sum.rs:199-221).
  */
class RetentionPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("retention-prop")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Graft.registerAll(s)
    s
  }

  private val winDays = 4

  /** Random event table: users fire 'add'/'buy'/'noise' events on random
    * days inside the window. Seeded — failures are reproducible. */
  private def randomEvents(seed: Int): Seq[(Int, String, Int)] = {
    val rnd = new Random(seed)
    val events = Seq("add", "buy", "noise")
    (0 until (20 + rnd.nextInt(60))).map { _ =>
      (1 + rnd.nextInt(8), events(rnd.nextInt(3)), 20230101 + rnd.nextInt(winDays))
    }
  }

  private val countSql =
    s"""select distinct_id, retention_count(
       |  case when event='add' then true else false end,
       |  case when event='buy' then true else false end,
       |  ${winDays - 1}L,
       |  cast(ds - 20230101 as bigint)) as stats
       |from %s group by distinct_id""".stripMargin

  private def runCount(view: String): Map[Int, Seq[Seq[Byte]]] =
    spark.sql(countSql.format(view)).collect()
      .map(r => r.getInt(0) ->
        r.getSeq[scala.collection.Seq[Byte]](1).toSeq.map(_.toSeq))
      .toMap

  test("retention_count is partition-invariant (partial/merge == single partition)") {
    import spark.implicits._
    (1 to 15).foreach { seed =>
      val rows = randomEvents(seed)
      rows.toDF("distinct_id", "event", "ds").repartition(1)
        .createOrReplaceTempView("prop_p1")
      rows.toDF("distinct_id", "event", "ds").repartition(7)
        .createOrReplaceTempView("prop_p7")
      assert(runCount("prop_p1") === runCount("prop_p7"),
        s"partitioning changed retention_count output (seed=$seed)")
    }
  }

  test("retention_sum is partition-invariant and row 0 equals the summed born vectors") {
    import spark.implicits._
    (1 to 10).foreach { seed =>
      val rows = randomEvents(seed)
      rows.toDF("distinct_id", "event", "ds").repartition(5)
        .createOrReplaceTempView("prop_sum")
      val stats = runCount("prop_sum")
      def triangle(view: String): Seq[Seq[Long]] =
        spark.sql(
          s"""select retention_sum(stats) from (${countSql.format(view)})""")
          .collect().head.getSeq[scala.collection.Seq[Long]](0).toSeq.map(_.toSeq)
      rows.toDF("distinct_id", "event", "ds").repartition(1)
        .createOrReplaceTempView("prop_sum1")
      val t5 = triangle("prop_sum")
      val t1 = triangle("prop_sum1")
      assert(t5 === t1, s"partitioning changed retention_sum output (seed=$seed)")
      // triangle shape: winDays+1 rows, ragged tail
      assert(t5.length === winDays + 1)
      assert(t5.tail.map(_.length) === (winDays to 1 by -1))
      // row 0 = elementwise sum of all users' born vectors
      val bornSum = (0 until winDays).map(d =>
        stats.values.map(_.head(d).toLong).sum)
      assert(t5.head === bornSum, s"born row mismatch (seed=$seed)")
    }
  }

  test("retention_count marker 2 appears exactly where born and target coincide") {
    import spark.implicits._
    (1 to 10).foreach { seed =>
      val rows = randomEvents(seed)
      rows.toDF("distinct_id", "event", "ds").repartition(3)
        .createOrReplaceTempView("prop_same")
      // born == target == 'add': every fired day must carry the 2-marker
      val got = spark.sql(
        s"""select distinct_id, retention_count(
           |  case when event='add' then true else false end,
           |  case when event='add' then true else false end,
           |  ${winDays - 1}L,
           |  cast(ds - 20230101 as bigint)) as stats
           |from prop_same group by distinct_id""".stripMargin)
        .collect().map(r => r.getInt(0) ->
          r.getSeq[scala.collection.Seq[Byte]](1).toSeq.map(_.toSeq)).toMap
      got.foreach { case (_, Seq(born, target)) =>
        born.zip(target).foreach { case (b, t) =>
          assert((b == 1 && t == 2) || (b == 0 && t == 0),
            s"seed=$seed: same-event retention must pair born=1 with marker 2")
        }
      }
    }
  }

  test("retention_count is independent of row order and partitioning when born and target rows overlap") {
    // born = 'add', target = 'add' or 'buy': an 'add' row marks the day 2,
    // a 'buy' row marks it 1, and the target-only 1 must win whatever the
    // order the two rows reach the buffer in
    val overlapSql =
      s"""select distinct_id, retention_count(event = 'add',
         |  event in ('add', 'buy'), ${winDays - 1}L,
         |  cast(ds - 20230101 as bigint)) as stats
         |from prop_overlap group by distinct_id""".stripMargin
    (1 to 8).foreach { seed =>
      val rows = randomEvents(seed)
      val expected = rows.groupBy(_._1).map { case (u, rs) =>
        val days = 0 until winDays
        def on(d: Int, e: String) = rs.exists(r => r._2 == e && r._3 - 20230101 == d)
        u -> Seq(
          days.map(d => if (on(d, "add")) 1.toByte else 0.toByte),
          days.map(d => if (on(d, "buy")) 1.toByte else if (on(d, "add")) 2.toByte else 0.toByte))
      }
      val rnd = new Random(seed)
      for (order <- Seq(rows, rows.reverse, rnd.shuffle(rows)); parts <- 1 to 3) {
        spark.createDataFrame(spark.sparkContext.parallelize(order, parts))
          .toDF("distinct_id", "event", "ds").createOrReplaceTempView("prop_overlap")
        val got = spark.sql(overlapSql).collect()
          .map(r => r.getInt(0) -> r.getSeq[scala.collection.Seq[Byte]](1).toSeq.map(_.toSeq))
          .toMap
        assert(got === expected, s"seed=$seed, $parts partition(s)")
      }
    }
  }
}
