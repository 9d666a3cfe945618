package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: `parent` is the id of the enclosing span (-1 at top
  * level); times are nanoseconds on the JVM's monotonic clock. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. When disabled, `span` only runs its body, so
  * untraced runs pay nothing for the call sites. Spans are kept in memory
  * and written once, at exit. */
final class Tracer(val enabled: Boolean, runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime(), runId)
        stack = stack.tail
      }
    }

  // wall clock minus monotonic clock, to place spans observed in epoch ms
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Records a span whose bounds were observed elsewhere (in epoch ns, by
    * the Spark listener or the program's own log) as a child of `parent`. */
  def observed(name: String, parent: Int, startEpochNs: Long, endEpochNs: Long): Unit =
    if (enabled) {
      done += Span(nextId, parent, name, startEpochNs - epochOffsetNs, endEpochNs - epochOffsetNs, runId)
      nextId += 1
    }

  /** Id of the latest finished span with this name. */
  def lastId(name: String): Int = done.reverseIterator.find(_.name == name).map(_.id).getOrElse(-1)

  private var iterationStart = 0
  /** Marks where the current iteration's spans begin. */
  def beginIteration(): Unit = iterationStart = done.size
  private def sinceIteration(name: String) = done.iterator.drop(iterationStart).filter(_.name == name)
  /** Seconds of this iteration's spans with this name. */
  def lastTotal(name: String): Double = sinceIteration(name).map(_.seconds).sum
  def lastCount(name: String): Int = sinceIteration(name).size

  /** Self time: a span's duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = done.iterator.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).toSeq
    s.seconds - Stats.merged(kids) / 1e9
  }

  def toJson: String = {
    val rows = done.sortBy(_.id).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> selfSeconds(s), "run_id" -> s.runId))
    }
    rows.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Counters summed over Spark's own task, stage and job events, read as
  * deltas between two snapshots. Jobs keep their wall intervals so the
  * driver-side gap (wall time no job covers) can be derived. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskBusyMs: Long = 0, taskCpuNs: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    recordsRead: Long = 0, bytesRead: Long = 0,
    recordsWritten: Long = 0, bytesWritten: Long = 0,
    maxOverPeerMedian: Double = 0.0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskBusyMs - o.taskBusyMs, taskCpuNs - o.taskCpuNs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    recordsRead - o.recordsRead, bytesRead - o.bytesRead,
    recordsWritten - o.recordsWritten, bytesWritten - o.bytesWritten,
    maxOverPeerMedian)
}

/** One SQL execution's wall interval (epoch ms), and whether its plan
  * writes files (has an `InsertIntoHadoopFsRelationCommand` node). */
final case class SqlExecution(startMs: Long, endMs: Long, isFileWrite: Boolean)

object SqlExecution {
  def writesFiles(p: SparkPlanInfo): Boolean =
    p.nodeName.contains("InsertIntoHadoopFsRelationCommand") || p.children.exists(writesFiles)
}

/** Benchmark-owned listener over Spark's task/stage/job metrics, its SQL
  * execution intervals and the query planning tracker. Registered only in
  * traced runs. */
final class MetricsListener extends SparkListener with QueryExecutionListener {
  private var c = Counters()
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private var stragglerMax = 0.0
  private var planningNs = 0L
  private val sqlStart = mutable.Map.empty[Long, (Long, Boolean)]
  private val sqlDone = mutable.ArrayBuffer.empty[SqlExecution]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlStart(s.executionId) = (s.time, SqlExecution.writesFiles(s.sparkPlanInfo))
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlStart.remove(s.executionId).foreach { case (t0, w) => sqlDone += SqlExecution(t0, s.time, w) }
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
    stageTaskMs.remove(e.stageInfo.stageId).foreach { ds =>
      // straggler ratio of stages with enough tasks to have peers
      if (ds.size >= 4) {
        val med = Stats.median(ds.map(_.toDouble).toSeq)
        if (med >= 5.0) stragglerMax = math.max(stragglerMax, ds.max / med)
      }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    if (m != null) c = c.copy(
      tasks = c.tasks + 1,
      taskBusyMs = c.taskBusyMs + m.executorRunTime,
      taskCpuNs = c.taskCpuNs + m.executorCpuTime,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      recordsRead = c.recordsRead + m.inputMetrics.recordsRead,
      bytesRead = c.bytesRead + m.inputMetrics.bytesRead,
      recordsWritten = c.recordsWritten + m.outputMetrics.recordsWritten,
      bytesWritten = c.bytesWritten + m.outputMetrics.bytesWritten)
    else c = c.copy(tasks = c.tasks + 1)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    planningNs += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Snapshot after draining the async listener bus, so every event of the
    * work done so far is counted. */
  def snapshot(sc: SparkContext): Counters = {
    BusDrain.drain(sc)
    synchronized {
      val s = c.copy(maxOverPeerMedian = stragglerMax)
      stragglerMax = 0.0
      s
    }
  }

  def planningSeconds: Double = synchronized(planningNs / 1e9)

  /** SQL executions that started and ended inside the epoch-ms window
    * [t0, t1], in start order; drain the bus (`snapshot`) first. */
  def sqlExecutions(t0: Long, t1: Long): Seq[SqlExecution] = synchronized {
    sqlDone.filter(x => x.startMs >= t0 && x.endMs <= t1).sortBy(_.startMs).toSeq
  }

  /** Milliseconds of the epoch-ms window [t0, t1) covered by at least one job. */
  def jobCoveredMs(t0: Long, t1: Long): Long = synchronized {
    val clipped = jobIntervals.iterator
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toSeq
    Stats.merged(clipped)
  }
}

object MetricsListener {
  def install(spark: SparkSession): MetricsListener = {
    val l = new MetricsListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}
