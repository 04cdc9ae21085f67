package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Wall clock in epoch milliseconds with nanoTime resolution, on the same
  * base as Spark's listener event times.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** The layer a Spark job belongs to: the module of the innermost `graft.`
  * frame of its call site. A job forced by `Bench.force` is a gate's final
  * action; `graft.Queries` and `graft.Main` are layers of their own.
  */
object Layers {
  def moduleOf(callSite: String): Option[String] =
    Option(callSite).iterator.flatMap(_.linesIterator).map(_.trim)
      .find(_.startsWith("graft.")).map { frame =>
        val seg = frame.split('.')(1)
        if (frame.startsWith("graft.Bench$.force")) "action"
        else if (seg.head.isLower) seg
        else seg.stripSuffix("$").toLowerCase
      }

  /** Total length of the union of `intervals`, clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0.0)
  }
}

/** One benchmark span: a call from the benchmark into a layer. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Double, end: Double)

/** In-memory span log; written out when the run ends. Spans are recorded
  * only while `enabled` (the traced operations of a traced run).
  */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  var enabled = false
  var op = -1
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = Clock.nowMs()
      try body
      finally {
        stack = stack.tail
        all += Span(id, name, parent, op, t0, Clock.nowMs())
      }
    }

  def of(op: Int, name: String): Seq[Span] = all.toSeq.filter(s => s.op == op && s.name == name)

  /** Duration minus the part of it that the span's children cover. */
  def selfMs(s: Span): Double =
    (s.end - s.start) - Layers.unionMs(
      all.toSeq.filter(_.parent == s.id).map(c => (c.start, c.end)), s.start, s.end)
}

/** Collects the Spark side of a traced operation: jobs with their task
  * metrics and layer, persisted blocks, Catalyst phase times and streaming
  * progress. Registered by the benchmark only, around traced operations.
  * Catalyst phases come from the benchmark's session and from the
  * DataFrames the benchmark forces; dedicated sessions a gate opens for
  * itself are not seen.
  */
final class Collector {
  final class Job(val id: Int, val start: Double, val module: String) {
    var end: Double = Double.NaN
    var tasks, failedTasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite,
      spill, outBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val execModule = mutable.HashMap.empty[Long, String]
  private val rddModule = mutable.HashMap.empty[Int, String]
  private val persisted = mutable.HashMap.empty[String, Long]
  // the "number of written files" metric of each write command, by
  // accumulator id, and the files each module's writes reported
  private val filesMetric = mutable.HashMap.empty[Long, String]
  private val files = mutable.HashMap.empty[String, Long]
  private var planMs = 0.0
  private var microBatches = 0L
  private var batchMs = 0.0
  private val stateRows = mutable.HashMap.empty[java.util.UUID, Long]

  def reset(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); rddModule.clear(); persisted.clear()
    filesMetric.clear(); files.clear()
    planMs = 0.0; microBatches = 0; batchMs = 0.0; stateRows.clear()
  }

  def addPlanMs(ms: Double): Unit = synchronized { planMs += ms }

  def phaseMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs.toDouble).sum

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Collector.this.synchronized {
      val direct = e.stageInfos.iterator.flatMap(s => Layers.moduleOf(s.details)).nextOption()
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption)
      // micro-batch jobs run on the query's own thread, below the sink's
      // frames: the query-id property marks them
      val streaming = Option(e.properties)
        .exists(_.getProperty("sql.streaming.queryId") != null)
      val module =
        if (streaming) "streaming"
        else direct.orElse(exec.flatMap(execModule.get)).getOrElse("other")
      val job = new Job(e.jobId, e.time.toDouble, module)
      jobs(e.jobId) = job
      e.stageIds.foreach(stageJob(_) = job)
      e.stageInfos.foreach(_.rddInfos.foreach(r => rddModule.getOrElseUpdate(r.id, module)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Collector.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Collector.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (!e.taskInfo.successful) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Collector.this.synchronized {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case RDDBlockId(rddId, _) if info.storageLevel.isValid =>
          val module = rddModule.getOrElse(rddId, "other")
          persisted(module) = persisted.getOrElse(module, 0L) + info.memSize + info.diskSize
        case _ =>
      }
    }
    // streaming progress reaches the context's bus from every session,
    // including the dedicated sessions the streaming gates open
    override def onOtherEvent(e: SparkListenerEvent): Unit = Collector.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          Layers.moduleOf(s.details).foreach(execModule(s.executionId) = _)
          watchFiles(s.executionId, s.sparkPlanInfo)
        case s: SparkListenerSQLAdaptiveExecutionUpdate =>
          watchFiles(s.executionId, s.sparkPlanInfo)
        // a write command reports its file count from the driver
        case u: SparkListenerDriverAccumUpdates =>
          u.accumUpdates.foreach { case (id, v) =>
            filesMetric.get(id).foreach(m => files(m) = files.getOrElse(m, 0L) + v)
          }
        case p: StreamingQueryListener.QueryProgressEvent =>
          microBatches += 1
          batchMs += p.progress.batchDuration.toDouble
          stateRows(p.progress.id) = p.progress.stateOperators.map(_.numRowsTotal).sum
        case _ =>
      }
    }
  }

  private def watchFiles(executionId: Long, plan: SparkPlanInfo): Unit = {
    val module = execModule.getOrElse(executionId, "other")
    def walk(p: SparkPlanInfo): Unit = {
      p.metrics.filter(_.name == "number of written files")
        .foreach(m => filesMetric(m.accumulatorId) = module)
      p.children.foreach(walk)
    }
    walk(plan)
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      addPlanMs(phaseMs(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      addPlanMs(phaseMs(qe))
  }

  val Modules: Seq[String] = Seq("meds", "operators", "ops", "sources", "streaming")

  /** Layer metrics of the operation that ran over [lo, hi] (epoch ms).
    * `buildSpans` and `actionSpans` are the intervals in which gates were
    * built and forced. A job whose call site has no graft frame, such as a
    * query stage that adaptive execution submits from its own thread,
    * belongs to the gate build or action it started in, if any.
    */
  def summary(lo: Double, hi: Double, buildSpans: Seq[(Double, Double)],
      actionSpans: Seq[(Double, Double)]): Map[String, Double] =
    synchronized {
      val js = jobs.values.toSeq.filter(j => j.start >= lo - 1 && j.start <= hi + 1)
      def iv(j: Job) = (j.start, if (j.end.isNaN) hi else j.end)
      def within(spans: Seq[(Double, Double)], t: Double) =
        spans.exists { case (a, b) => t >= a && t <= b }
      def layer(j: Job) =
        if (j.module != "other") j.module
        else if (within(actionSpans, j.start)) "action"
        else if (within(buildSpans, j.start)) "queries"
        else "other"
      val wall = hi - lo
      val byModule = js.groupBy(layer)
      def busy(m: String) = Layers.unionMs(byModule.getOrElse(m, Nil).map(iv), lo, hi)
      def sum(m: String)(f: Job => Long) = byModule.getOrElse(m, Nil).map(f).sum.toDouble
      val allBusy = Layers.unionMs(js.map(iv), lo, hi)
      val gap = wall - allBusy
      val out = mutable.LinkedHashMap.empty[String, Double]
      Modules.foreach { m =>
        out(s"$m.jobs") = byModule.getOrElse(m, Nil).size.toDouble
        out(s"$m.busy_s") = busy(m) / 1000
      }
      out("meds.bytes_written") = sum("meds")(_.outBytes)
      out("meds.files_written") = files.getOrElse("meds", 0L).toDouble
      out("operators.exec_cpu_s") = sum("operators")(_.cpuNs) / 1e9
      out("operators.persisted_bytes") = persisted.getOrElse("operators", 0L).toDouble
      out("ops.exec_cpu_s") = sum("ops")(_.cpuNs) / 1e9
      out("ops.shuffle_bytes") = sum("ops")(_.shuffleWrite)
      out("streaming.micro_batches") = microBatches.toDouble
      out("streaming.batch_s") = batchMs / 1000
      out("streaming.state_rows") = stateRows.values.sum.toDouble
      out("queries.build_jobs") = js.count(j => within(buildSpans, j.start)).toDouble
      // jobs no graft frame or benchmark span accounts for
      out("other.busy_s") = busy("other") / 1000
      def total(f: Job => Long) = js.map(f).sum.toDouble
      out("spark.jobs") = js.size.toDouble
      out("spark.job_gap_s") = gap / 1000
      out("spark.tasks") = total(_.tasks)
      out("spark.exec_run_s") = total(_.runMs) / 1000
      out("spark.exec_cpu_s") = total(_.cpuNs) / 1e9
      out("spark.shuffle_read_bytes") = total(_.shuffleRead)
      out("spark.shuffle_write_bytes") = total(_.shuffleWrite)
      out("spark.spill_bytes") = total(_.spill)
      out("spark.gc_s") = total(_.gcMs) / 1000
      out("spark.failed_tasks") = total(_.failedTasks)
      out("spark.plan_s") = planMs / 1000
      // the share of the wall that is either a module's job or a gap
      // between jobs: below 1 by the time in which only unattributed jobs ran
      val attributed = Layers.unionMs(js.filter(layer(_) != "other").map(iv), lo, hi)
      out("trace.coverage") = if (wall > 0) (attributed + gap) / wall else 1.0
      out.toMap
    }
}
