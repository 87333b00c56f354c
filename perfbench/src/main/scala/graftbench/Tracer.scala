package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ScalaAggregator}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are microseconds since the tracer's epoch;
  * `parent` is the id of the span that caused this one (0 = none) and
  * `op` the benchmark op it belongs to, so every span of one op shares it. */
final case class Span(
    id: Long, parent: Long, op: Long, layer: String, name: String,
    start: Long, end: Long, attrs: Map[String, Double]) {
  def dur: Long = end - start
}

/** Spans and counters recorded from outside the library: layer spans
  * around the benchmark's calls into graft, Spark job and stage spans
  * from a [[SparkListener]], and plan statistics read from each action's
  * [[QueryExecution]]. Everything stays in memory until [[write]].
  *
  * Recording is switched per round with [[active]], so one traced run
  * can also time untraced rounds and report the tracing overhead. */
final class Tracer(spark: SparkSession) {
  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  def nowUs: Long = (System.nanoTime() - t0Nanos) / 1000
  private def epochMsToUs(ms: Long): Long = (ms - t0EpochMs) * 1000

  @volatile private var active = false
  @volatile private var currentOp = -1L
  private var nextId = 1L
  private val stack = mutable.Stack[Long]()
  val spans = mutable.ArrayBuffer[Span]()
  // written by listener threads, drained into `spans` on the driver thread
  private val jobEvents = new ConcurrentLinkedQueue[Span]()
  private val stageEvents = new ConcurrentLinkedQueue[Span]()
  private val planEvents = new ConcurrentLinkedQueue[(Long, Map[String, Double])]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  // Spark job id -> (span id, op), kept across drains for late stages
  private val jobSpans = mutable.Map[Long, (Long, Long)]()
  /** Plan statistics per op, summed over the op's actions. */
  val planStats = mutable.Map[Long, mutable.Map[String, Double]]()

  private def newId(): Long = synchronized { nextId += 1; nextId }

  /** Runs `body` as op `opId` and returns its result and wall time in
    * ns. Its Spark jobs carry the job group `op-<opId>`, which ties them
    * to the op in the listener; call [[endOp]] once its output is read. */
  def op[T](opId: Long, name: String, traced: Boolean)(body: => T): (T, Long) = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$opId", name, interruptOnCancel = false)
    currentOp = opId
    active = traced
    val id = if (traced) newId() else 0L
    if (traced) stack.push(id)
    val s = nowUs
    val t = System.nanoTime()
    try {
      val r = body
      (r, System.nanoTime() - t)
    } finally {
      if (traced) { stack.pop(); spans += Span(id, 0, opId, "op", name, s, nowUs, Map.empty) }
      sc.clearJobGroup()
    }
  }

  /** Delivers the op's listener events while it is still current, then
    * stops recording until the next op. */
  def endOp(): Unit = {
    if (installed) drain()
    active = false
    currentOp = -1
  }

  /** A span around one call into a layer of the program. */
  def layer[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = newId(); val parent = stack.headOption.getOrElse(0L); val s = nowUs
      stack.push(id)
      try body
      finally { stack.pop(); spans += Span(id, parent, currentOp, name, name, s, nowUs, Map.empty) }
    }

  // Jobs the harness itself runs between ops have no job group and are
  // not recorded; streaming jobs run under their query's group and belong
  // to the current op.
  private def jobOp(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
      case Some(g) if g.startsWith("op-") => g.drop(3).toLong
      case Some(_) => currentOp
      case None => -1L
    }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = jobOp(e.properties)
      if (active && op >= 0) {
        jobStarts.put(e.jobId, (op, epochMsToUs(e.time)))
        e.stageIds.foreach(s => stageToJob.putIfAbsent(s, e.jobId.toLong))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (op, s) =>
        jobEvents.add(Span(e.jobId.toLong, 0, op, "spark.job", s"job-${e.jobId}",
          s, epochMsToUs(e.time), Map.empty))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      if (stageToJob.containsKey(info.stageId) && info.submissionTime.isDefined &&
          info.completionTime.isDefined) {
        val job = stageToJob.get(info.stageId)
        val m = info.taskMetrics
        val sr = m.shuffleReadMetrics; val sw = m.shuffleWriteMetrics
        stageEvents.add(Span(0, job, -1, "spark.stage", s"stage-${info.stageId}",
          epochMsToUs(info.submissionTime.get), epochMsToUs(info.completionTime.get), Map(
            "tasks" -> info.numTasks.toDouble,
            "task_run_s" -> m.executorRunTime / 1e3,
            "task_cpu_s" -> m.executorCpuTime / 1e9,
            "shuffle_write_b" -> sw.bytesWritten.toDouble,
            "shuffle_read_b" -> (sr.remoteBytesRead + sr.localBytesRead).toDouble,
            "fetch_wait_s" -> sr.fetchWaitTime / 1e3,
            "spill_b" -> m.diskBytesSpilled.toDouble,
            "input_rows" -> m.inputMetrics.recordsRead.toDouble,
            "input_b" -> m.inputMetrics.bytesRead.toDouble)))
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active && currentOp >= 0) planEvents.add(currentOp -> Tracer.planStats(qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var installed = false
  def install(): Unit = {
    installed = true
    spark.sparkContext.addSparkListener(listener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(queryListener)
  }

  /** Waits for listener delivery, then moves listener-side records into
    * `spans` and `planStats`. A job's parent is the innermost span of its
    * op that was open when the job started; a stage's parent is its job. */
  def drain(): Unit = {
    org.apache.spark.graftbench.BusBridge.drain(spark.sparkContext)
    val byOp = spans.groupBy(_.op)
    Iterator.continually(jobEvents.poll()).takeWhile(_ != null).foreach { j =>
      val encl = byOp.getOrElse(j.op, Nil).filter(s => s.start <= j.start && j.start <= s.end)
      val id = newId()
      jobSpans(j.id) = (id, j.op)
      spans += j.copy(id = id, parent = if (encl.isEmpty) 0L else encl.minBy(_.dur).id)
    }
    Iterator.continually(stageEvents.poll()).takeWhile(_ != null).foreach { st =>
      val (job, op) = jobSpans.getOrElse(st.parent, (0L, -1L))
      spans += st.copy(id = newId(), parent = job, op = op)
    }
    Iterator.continually(planEvents.poll()).takeWhile(_ != null).foreach { case (op, m) =>
      val acc = planStats.getOrElseUpdate(op, mutable.Map())
      m.foreach { case (k, v) => acc(k) = acc.getOrElse(k, 0.0) + v }
    }
  }

  /** Self time per span: its duration minus the union of its children. */
  def selfTimes: Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cover = Tracer.union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))).filter(p => p._1 < p._2).toSeq)
      s.id -> (s.dur - cover)
    }.toMap
  }

  /** Writes every span as one JSON line, then a per-layer summary line. */
  def write(path: String): Unit = {
    val self = selfTimes
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.sortBy(_.start).foreach { s =>
        w.println(Main.toJson(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "layer" -> s.layer, "name" -> s.name, "start_us" -> s.start, "end_us" -> s.end,
          "self_us" -> self(s.id), "attrs" -> s.attrs)))
      }
      w.println(Main.toJson(Map("summary" -> layerSummary(self))))
    } finally w.close()
  }

  def layerSummary(self: Map[Long, Long]): Map[String, Any] =
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> Map("count" -> ss.size, "total_s" -> ss.map(_.dur).sum / 1e6,
        "self_s" -> ss.map(s => self(s.id)).sum / 1e6)
    }
}

object Tracer {
  /** Length of the union of half-open intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Every physical node of an executed plan, looking through adaptive
    * wrappers and query stages; reused exchanges are not descended into,
    * so each exchange is counted once. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def isRetention(a: BaseAggregateExec): Boolean =
    a.aggregateExpressions.exists(_.aggregateFunction match {
      case s: ScalaAggregator[_, _, _] => s.agg.getClass.getName.contains("Retention")
      case _ => false
    })

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  /** Planning phase times and plan-shape counts of one executed action. */
  def planStats(qe: QueryExecution): Map[String, Double] = {
    val phases = qe.tracker.phases
    def phase(n: String): Double = phases.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
    val ns = nodes(qe.executedPlan)
    val retentionAggs = ns.collect { case a: BaseAggregateExec if isRetention(a) => a }
    Map(
      "plan.analysis_s" -> phase("analysis"),
      "plan.optimization_s" -> phase("optimization"),
      "plan.planning_s" -> phase("planning"),
      "plan.exchanges" -> ns.count(_.isInstanceOf[Exchange]).toDouble,
      "plan.codegen_stages" -> ns.count(_.isInstanceOf[WholeStageCodegenExec]).toDouble,
      "plan.codegen_fallback_exprs" ->
        ns.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum.toDouble,
      "scan.time_s" -> ns.collect { case s: FileSourceScanExec => metric(s, "scanTime") / 1e3 }.sum,
      "retention.agg_time_s" -> retentionAggs.map(a => metric(a, "aggTime") / 1e3).sum,
      "retention.sort_fallback_tasks" -> retentionAggs.map(a => metric(a, "numTasksFallBacked")).sum,
      "actions" -> 1.0)
  }
}
