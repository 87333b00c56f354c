package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts, by job group, so jobs of
  * other threads on the same context are not counted. */
object JobCount {

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsOf[T](s: SparkSession)(body: => T): (T, Int) = {
    val sc = s.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job count")
    try {
      val r = body
      ListenerBridge.drain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
