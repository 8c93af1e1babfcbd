package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a layer call made by the benchmark. Times are epoch ms
  * (the clock Spark stamps job submissions with), so jobs and SQL
  * executions are attributed to the innermost span open when they were
  * submitted. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Long, var end: Long = -1L)

/** Spans kept in memory and written out when the run ends. Disabled
  * spans cost one closure call, so the untraced run keeps the same code
  * path. */
final class Spans(val enabled: Boolean) {
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var op: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(all.size, name, stack.headOption.map(_.id).getOrElse(-1), op,
        System.currentTimeMillis())
      all += s
      stack = s :: stack
      try body
      finally { s.end = System.currentTimeMillis(); stack = stack.tail }
    }

  def spans: Seq[Span] = all.toSeq

  /** The innermost span containing time `t`. */
  def at(t: Long): Option[Span] =
    all.filter(s => s.start <= t && (s.end < 0 || t <= s.end))
      .maxByOption(s => (s.start, s.id))

  def json: String = all.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
      s""""start_ms":${s.start},"end_ms":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Counters accumulated for one span (or one streaming query). */
final class Counters {
  var jobs, stages, tasks, taskRunMs, gcMs, shuffleWrite, spill, peakMem = 0L
  var filesRead, rowsRead, bytesRead, filesWritten, bytesWritten, rowsWritten = 0L
  var sqlMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    spill += o.spill; peakMem = math.max(peakMem, o.peakMem)
    filesRead += o.filesRead; rowsRead += o.rowsRead; bytesRead += o.bytesRead
    filesWritten += o.filesWritten; bytesWritten += o.bytesWritten
    rowsWritten += o.rowsWritten
    sqlMs += o.sqlMs
  }
}

/** The benchmark's one SparkListener. It records raw events only; the
  * attribution to spans happens after the listener bus has drained. */
final class BenchListener extends SparkListener {
  import BenchListener.{Job, Sql}

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stageCounters = new ConcurrentHashMap[Int, Counters]()
  val sqls = new ConcurrentHashMap[Long, Sql]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val q = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).orNull
    val ex = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, Job(e.jobId, e.time, e.stageIds, q, ex))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageCounters.computeIfAbsent(e.stageInfo.stageId, _ => new Counters).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = stageCounters.computeIfAbsent(e.stageId, _ => new Counters)
    c.synchronized {
      c.tasks += 1
      c.taskRunMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqls.put(s.executionId, Sql(s.executionId, s.time, s.physicalPlanDescription,
        new Counters))
    case s: SparkListenerSQLExecutionEnd =>
      Option(sqls.get(s.executionId)).foreach { x =>
        x.c.sqlMs = s.time - x.start
        // the QueryExecution rides on the event for in-process listeners
        // only; its accessor is not part of the public Scala API
        val qe = scala.util.Try(s.getClass.getMethod("qe").invoke(s)).toOption
          .collect { case q: org.apache.spark.sql.execution.QueryExecution => q }
        qe.foreach(q => BenchListener.planCounters(q.executedPlan, x.c))
      }
    case _ =>
  }

  /** Stage counters summed per job. */
  def jobCounters(j: Job): Counters = {
    val c = new Counters
    c.jobs = 1
    j.stages.foreach(s => Option(stageCounters.get(s)).foreach(c.add))
    c
  }
}

object BenchListener {
  final case class Job(id: Int, time: Long, stages: Seq[Int], queryId: String,
      execId: Long)
  final case class Sql(id: Long, start: Long, plan: String, c: Counters)

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case m: InMemoryTableScanExec => m +: leaves(m.relation.cachedPlan)
    case other => (other +: other.children.flatMap(leaves)) ++
      other.subqueries.flatMap(leaves)
  }

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  /** Scan and write counters from an executed plan's SQL metrics. */
  def planCounters(plan: SparkPlan, c: Counters): Unit =
    leaves(plan).foreach {
      case s: FileSourceScanExec =>
        c.filesRead += metric(s, "numFiles")
        c.rowsRead += metric(s, "numOutputRows")
        c.bytesRead += metric(s, "filesSize")
      case w: DataWritingCommandExec =>
        c.filesWritten += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        c.bytesWritten += w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
        c.rowsWritten += w.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case _ =>
    }
}

/** Progress of the streaming queries, kept per query name. The ingest
  * workload also waits on it to know when a landed step is committed. */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  import StreamListener.Progress

  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  private val rows = new ConcurrentHashMap[String, java.lang.Long]()

  def inputRows(name: String): Long = Option(rows.get(name)).map(_.longValue).getOrElse(0L)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators
    progress.add(Progress(p.name, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.allUpdatesTimeMs).sum, ops.map(_.commitTimeMs).sum,
      ops.map(_.numRowsDroppedByWatermark).sum,
      Option(p.eventTime.get("watermark"))
        .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(0L)))
    synchronized {
      rows.merge(p.name, p.numInputRows, (a, b) => a + b)
      notifyAll()
    }
  }

  /** Block until query `name` has read at least `n` rows in total. */
  def awaitRows(names: Seq[String], n: Long, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (names.exists(inputRows(_) < n) && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    names.forall(inputRows(_) >= n)
  }
}

object StreamListener {
  final case class Progress(name: String, batchId: Long, startMs: Long,
      inputRows: Long, durations: Map[String, Long], stateRows: Long,
      stateMem: Long, stateUpdateMs: Long, stateCommitMs: Long, dropped: Long,
      watermarkMs: Long)
}

/** Live heap at the end of the timed window: the smallest occupancy
  * after four forced full collections 250 ms apart, read from their GC
  * notifications. Spark's context cleaner frees broadcast and shuffle
  * blocks asynchronously after a collection finds their owners
  * unreachable, so a single collection sometimes still counts them. */
object HeapWatch extends NotificationListener {
  @volatile private var lastAfter = -1L
  @volatile private var majors = 0

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  def liveMb(): Double =
    (1 to 4).map { _ =>
      fullGc()
      Thread.sleep(250)
      lastAfter
    }.min / 1048576.0

  private def fullGc(): Unit = {
    val seen = majors
    System.gc()
    val deadline = System.currentTimeMillis() + 5000
    while (majors == seen && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType == "com.sun.management.gc.notification") {
      val info = n.getUserData.asInstanceOf[CompositeData]
      if (!String.valueOf(info.get("gcAction")).contains("major")) return
      val gcInfo = info.get("gcInfo").asInstanceOf[CompositeData]
      val after = gcInfo.get("memoryUsageAfterGc").asInstanceOf[javax.management.openmbean.TabularData]
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      lastAfter = after.values.asScala.map(_.asInstanceOf[CompositeData]).collect {
        case row if heapPools(row.get("key").asInstanceOf[String]) =>
          row.get("value").asInstanceOf[CompositeData].get("used").asInstanceOf[Long]
      }.sum
      majors += 1
    }
}
