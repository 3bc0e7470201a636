package e2ebench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. A span is (id, name, parent, run, start, end)
  * with times in epoch milliseconds. Spans opened with [[span]] nest by
  * thread; spans added with [[derived]] (jobs, planning phases, streaming
  * batches seen by the listeners) get parent -1 and are attached by the
  * runner to the innermost recorded span that contains them in time.
  */
final class Tracer {
  @volatile var on = false
  @volatile var run = 0
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val buf = mutable.ArrayBuffer[Map[String, Any]]()
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = nowMs
      try f
      finally {
        val t1 = nowMs
        stack.set(stack.get.tail)
        record(id, name, parent, t0, t1)
      }
    }

  def derived(name: String, startMs: Double, endMs: Double): Unit =
    if (on) record(ids.incrementAndGet(), name, -1, startMs, endMs)

  private def record(id: Int, name: String, parent: Int, t0: Double, t1: Double): Unit =
    buf.synchronized {
      buf += Map("id" -> id, "name" -> name, "parent" -> parent, "run" -> run,
        "start" -> t0, "end" -> t1)
    }

  def spans: Seq[Map[String, Any]] = buf.synchronized(buf.toList)
}

/** The traced run's counters, fed by Spark's public listener interfaces.
  * Registered only while a traced operation runs (see [[Main.Ctx.op]]).
  */
final class Probe(tracer: Tracer, kernelNames: Set[String]) extends SparkListener
    with QueryExecutionListener {
  private val c = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobStart = mutable.Map[Int, Long]()
  private val kernelDuration = mutable.Set[Long]()
  private val kernelRows = mutable.Set[Long]()
  private val execStart = mutable.Map[Long, (Long, String)]()
  private val execs = mutable.ArrayBuffer[Map[String, Any]]()

  /** Root SQL executions: (start, end, call site long form) in epoch ms. */
  def sqlExecs: Seq[Map[String, Any]] = c.synchronized(execs.toList)

  def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }
  def counters: Map[String, Double] = c.synchronized(c.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = c.synchronized {
    jobStart(e.jobId) = e.time
    c("driver.jobs") += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = c.synchronized(jobStart.remove(e.jobId))
    t0.foreach(s => tracer.derived("exec.job", s.toDouble, e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    if (s.numTasks == 1)
      for (a <- s.submissionTime; b <- s.completionTime) add("exec.single_task_stage_ms", (b - a).toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m == null || info == null) return
    val run = m.executorRunTime.toDouble
    val sched = info.duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
    c.synchronized {
      c("exec.tasks") += 1
      c("exec.task_ms") += run
      c("exec.cpu_ms") += m.executorCpuTime / 1e6
      c("exec.gc_ms") += m.jvmGCTime
      c("driver.sched_delay_ms") += math.max(0L, sched)
      c("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle.read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("shuffle.fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      c("shuffle.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("sources.scan_bytes") += m.inputMetrics.bytesRead
      info.accumulables.foreach { a =>
        val v = a.update.collect { case n: Long => n.toDouble; case n: Int => n.toDouble }.getOrElse(0.0)
        if (a.name.contains("scan time")) c("sources.scan_ms") += v
        if (kernelDuration(a.id)) c("functions.kernel_stage_ms") += v
        if (kernelRows(a.id)) c("functions.kernel_rows") += v
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      if (s.rootExecutionId.forall(_ == s.executionId))
        c.synchronized(execStart(s.executionId) = (s.time, s.details))
      findKernelStages(s.sparkPlanInfo)
    case e: SparkListenerSQLExecutionEnd => c.synchronized {
      execStart.remove(e.executionId).foreach { case (t0, site) =>
        execs += Map("start" -> t0, "end" -> e.time, "site" -> site)
      }
    }
    case u: SparkListenerSQLAdaptiveExecutionUpdate => findKernelStages(u.sparkPlanInfo)
    case _ =>
  }

  /** A codegen stage is a kernel stage when one of its operators (the
    * nodes under the WholeStageCodegen node, down to the InputAdapters
    * that start other stages) calls an ArrayKernels expression.
    */
  private def findKernelStages(root: SparkPlanInfo): Unit = {
    def inStage(n: SparkPlanInfo): Seq[SparkPlanInfo] =
      n +: n.children.filterNot(_.nodeName == "InputAdapter").flatMap(inStage)
    def walk(n: SparkPlanInfo): Unit = {
      if (n.nodeName.startsWith("WholeStageCodegen")) {
        val k = n.children.flatMap(inStage).find { x =>
          val s = x.simpleString.toLowerCase
          kernelNames.exists(s.contains)
        }
        k.foreach { node =>
          // rows into the kernel: the nearest operator at or below it that counts rows
          def below(x: SparkPlanInfo): LazyList[SparkPlanInfo] = x #:: LazyList.from(x.children).flatMap(below)
          val rows = below(node).flatMap(_.metrics.find(_.name == "number of output rows")).headOption
          c.synchronized {
            n.metrics.find(_.name == "duration").foreach(kernelDuration += _.accumulatorId)
            rows.foreach(kernelRows += _.accumulatorId)
          }
        }
      }
      n.children.foreach(walk)
    }
    walk(root)
  }

  private def onQuery(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    qe.tracker.phases.values.foreach { p =>
      tracer.derived("driver.plan", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      add("driver.plan_ms", p.durationMs.toDouble)
    }
    if (funcName.toLowerCase.contains("checkpoint")) {
      add("driver.checkpoint_jobs", 1)
      add("driver.checkpoint_ms", durationNs / 1e6)
    }
    val plan = try qe.executedPlan.toString catch { case _: Throwable => "" }
    add("Par.fan_exchanges", "RoundRobinPartitioning".r.findAllMatchIn(plan).size.toDouble)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onQuery(funcName, qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onQuery(funcName, qe, 0L)
}

/** Records each micro-batch of each streaming query as a span. */
final class StreamProbe(tracer: Tracer, probe: Probe) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
    tracer.derived("streaming.batch", start, start + d)
    probe.add("streaming.progress_events", 1)
  }
}
