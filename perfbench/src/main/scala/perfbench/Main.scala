package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's engine-side driver: set-up, the timed closed loop,
  * and the untimed outputs the correctness checks read. Writes
  * `result.json` (and `spans.json` when traced) into the work directory;
  * `perfbench/run.py` turns them into metrics. Span operation ids: -1 for
  * the set-up, 0.. for timed operations, -2 for the end of the run.
  *
  * Usage: Main --workload W --data DIR --work DIR --seconds S
  *             --trace 0|1 --cores N */
object Main {

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    HeapWatch.install()
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val (workload, data, work) = (o("workload"), o("data"), o("work"))
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cores = o("cores").toInt

    val spans = new Spans(traced)
    val listener = if (traced) Some(new BenchListener) else None
    val stream = new StreamListener
    val wl: Workload = workload match {
      case "monitor_cycle" => new MonitorCycle(data, work, spans, traced)
      case "ingest_stream" => new IngestStream(data, work, spans, stream)
      case "dedup_join" => new DedupJoin(data, work, spans)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: from JVM start to the first timed operation, including a
    // cold operation and a warm-up operation (the first cycles of a JVM
    // run markedly slower while code generation and the JIT warm up)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = spans("setup") {
      val s = spans("session") { session(cores, work) }
      listener.foreach(s.sparkContext.addSparkListener(_))
      wl.setup(s)
      spans("cold_op") { wl.op(-Workload.Untimed) }
      (1 - Workload.Untimed to -1).foreach(i => spans("warmup_op") { wl.op(i) })
      s
    }
    val setupMs = System.currentTimeMillis() - jvmStart

    // the timed closed loop: one client, next op when the last completes
    final case class Op(ms: Double, rows: Long, err: String)
    val ops = mutable.ArrayBuffer.empty[Op]
    val loopStart = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline && !wl.exhausted(i)) {
      spans.op = i
      val t0 = System.nanoTime()
      val err = try { spans("op") { wl.op(i) }; null }
        catch { case NonFatal(e) => s"${e.getClass.getName}: ${e.getMessage}" }
      ops += Op((System.nanoTime() - t0) / 1e6, wl.rowsPerOp(i), err)
      i += 1
    }
    val loopEnd = System.currentTimeMillis()
    val heapLiveMb = HeapWatch.liveMb()
    spans.op = -2
    val fin = try wl.finish() catch {
      case NonFatal(e) => Map("finish_error" -> s"${e.getClass.getName}: ${e.getMessage}")
    }

    val layers = listener.map { l =>
      // drain the listener bus so every event of the run has arrived
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      Layers(spans, l, stream, wl, ops.size, loopStart, loopEnd, cores)
    }.getOrElse(Map.empty[String, Double])

    val result = Map(
      "workload" -> workload,
      "cores" -> cores,
      "setup_ms" -> setupMs,
      "loop_ms" -> (loopEnd - loopStart),
      "ops" -> ops.map(x => Map("ms" -> x.ms, "rows" -> x.rows, "err" -> x.err)).toSeq,
      "heap_live_mb" -> heapLiveMb,
      "finish" -> fin,
      "layers" -> layers)
    Files.write(Paths.get(s"$work/result.json"), Json(result).getBytes)
    if (traced) Files.write(Paths.get(s"$work/spans.json"), spans.json.getBytes)
    spark.stop()
  }
}

/** Per-layer metrics from the spans, the listener events attributed to
  * them, and the streaming progress. Op-scoped values are per timed
  * operation. */
object Layers {
  def apply(spans: Spans, l: BenchListener, stream: StreamListener, wl: Workload,
      n: Int, loopStart: Long, loopEnd: Long, cores: Int): Map[String, Double] = {
    val per = math.max(n, 1).toDouble
    val timed = spans.spans.filter(s => s.op >= 0)
    def ms(name: String): Double =
      timed.filter(_.name == name).map(s => s.end - s.start).sum / per

    // jobs and SQL executions, attributed to the innermost timed span
    val byName = mutable.Map.empty[String, Counters]
    def acc(name: String) = byName.getOrElseUpdate(name, new Counters)
    val jobs = l.jobs.values.asScala.toSeq
    jobs.foreach { j =>
      spans.at(j.time).filter(_.op >= 0).foreach(s => acc(s.name).add(l.jobCounters(j)))
    }
    val sqls = l.sqls.values.asScala.toSeq
    sqls.foreach { x =>
      spans.at(x.start).filter(_.op >= 0).foreach { s =>
        val c = new Counters
        c.filesRead = x.c.filesRead; c.rowsRead = x.c.rowsRead; c.bytesRead = x.c.bytesRead
        c.filesWritten = x.c.filesWritten; c.bytesWritten = x.c.bytesWritten
        c.rowsWritten = x.c.rowsWritten
        acc(s.name).add(c)
      }
    }
    def c(names: String*): Counters = {
      val out = new Counters
      names.foreach(nm => byName.get(nm).foreach(out.add))
      out
    }

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("registry.busy_ms") = spans.spans.filter(_.name == "registry")
      .map(s => (s.end - s.start).toDouble).sum

    val cat = c("catalog.scan")
    m("catalog.busy_ms") = ms("catalog.scan")
    m("catalog.files_read") = cat.filesRead / per
    m("catalog.bytes_read") = cat.bytesRead / per
    m("catalog.rows_read") = cat.rowsRead / per

    m("metrics.run_ms") = ms("metrics.run")
    m("metrics.publish_ms") = ms("metrics.publish")
    m("metrics.jobs") = c("metrics.run", "metrics.publish").jobs / per
    m("metrics.published_rows") = c("metrics.publish").rowsWritten / per

    val (mon, ing, ded) = wl match {
      case x: MonitorCycle => (Some(x), None, None)
      case x: IngestStream => (None, Some(x), None)
      case x: DedupJoin => (None, None, Some(x))
    }
    val monLayer = mon.map(_.layer).getOrElse(Map.empty[String, Long].withDefaultValue(0L))
    val sa = c("operators.statagg.construct", "operators.statagg.exec")
    m("operators.statagg.construct_ms") = ms("operators.statagg.construct")
    m("operators.statagg.exec_ms") = ms("operators.statagg.exec")
    m("operators.statagg.jobs") = sa.jobs / per
    m("operators.statagg.shuffle_write_bytes") = sa.shuffleWrite / per
    m("operators.statagg.spill_bytes") = sa.spill / per
    m("operators.statagg.peak_exec_mem_bytes") = sa.peakMem.toDouble
    m("operators.statagg.windows_out") = monLayer("windows") / per

    val al = c("operators.alarm.construct", "operators.alarm.exec")
    m("operators.alarm.construct_ms") = ms("operators.alarm.construct")
    m("operators.alarm.exec_ms") = ms("operators.alarm.exec")
    m("operators.alarm.jobs") = al.jobs / per
    m("operators.alarm.shuffle_write_bytes") = al.shuffleWrite / per
    m("operators.alarm.slots_out") = monLayer("slots") / per
    m("operators.alarm.windows_in") = monLayer("windows") / per
    m("operators.alarm.useful_ratio") =
      if (monLayer("slots") == 0) 0.0 else monLayer("windows").toDouble / monLayer("slots")
    m("operators.alarm.transitions") = monLayer("transitions") / per

    m("operators.publish.exec_ms") = ms("operators.publish")
    m("operators.publish.files_written") = c("operators.publish").filesWritten / per

    // streaming: micro-batches of the timed window, by query
    val inLoop = (t: Long) => t >= loopStart && t <= loopEnd
    val queryIds = ing.map(_.queries.map(q => q.id.toString -> q.name).toMap)
      .getOrElse(Map.empty)
    val execQuery = jobs.filter(j => j.execId >= 0 && j.queryId != null)
      .map(j => j.execId -> queryIds.getOrElse(j.queryId, "")).toMap
    val loopSqls = sqls.filter(x => inLoop(x.start))
    val compacts = loopSqls.filter(_.plan.contains("__compact__"))
    m("operators.partition.compact_ms") = compacts.map(_.c.sqlMs).sum / per
    m("operators.partition.compactions") = compacts.size / per
    m("operators.partition.files_before") = compacts.map(_.c.filesRead).sum / per
    m("operators.partition.files_after") = compacts.map(_.c.filesWritten).sum / per
    m("operators.partition.retention_ms") = spans.spans
      .filter(_.name == "operators.partition.retention").map(s => (s.end - s.start).toDouble).sum
    m("operators.partition.partitions_dropped") =
      ing.map(_.layer("partitions_dropped").toDouble).getOrElse(0.0)

    val prog = stream.progress.asScala.toSeq.filter(p => inLoop(p.startMs))
    def q(name: String) = prog.filter(_.name == name)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val ingP = q("lake_ingest")
    m("streaming.ingest.trigger_ms") = mean(ingP.map(_.durations.getOrElse("triggerExecution", 0L).toDouble))
    m("streaming.ingest.addbatch_ms") = mean(ingP.map(_.durations.getOrElse("addBatch", 0L).toDouble))
    val landTimes = ing.map(_.landTimes.toSeq.filter(inLoop)).getOrElse(Nil)
    m("streaming.ingest.wait_ms") = mean(landTimes.flatMap { lt =>
      ingP.filter(p => p.startMs >= lt && p.inputRows > 0).map(_.startMs).minOption
        .map(b => (b - lt).toDouble)
    })
    m("streaming.ingest.input_rows") = ingP.map(_.inputRows).sum / per
    val ingWrites = loopSqls.filter(x =>
      execQuery.get(x.id).contains("lake_ingest") && !x.plan.contains("__compact__"))
    m("streaming.ingest.files_written") = ingWrites.map(_.c.filesWritten).sum / per
    m("streaming.ingest.bytes_written") = ingWrites.map(_.c.bytesWritten).sum / per
    m("streaming.ingest.batches") = ingP.size / per

    val alP = q("alarm_stream")
    m("streaming.alarm.trigger_ms") = mean(alP.map(_.durations.getOrElse("triggerExecution", 0L).toDouble))
    m("streaming.alarm.state_rows") = alP.map(_.stateRows).maxOption.getOrElse(0L).toDouble
    m("streaming.alarm.state_memory_bytes") = alP.map(_.stateMem).maxOption.getOrElse(0L).toDouble
    m("streaming.alarm.state_update_ms") = mean(alP.map(_.stateUpdateMs.toDouble))
    m("streaming.alarm.state_commit_ms") = mean(alP.map(_.stateCommitMs.toDouble))
    m("streaming.alarm.dropped_by_watermark") = alP.map(_.dropped).sum.toDouble

    val pipelineQueries = Seq("q_dedup_substring_global", "q_entity_resolution",
      "q_embed_neardup", "q_dup_attribution")
    pipelineQueries.foreach { qn =>
      val k = s"pipeline.$qn"
      val pc = c(k)
      m(s"$k.ms") = ms(k)
      m(s"$k.jobs") = pc.jobs / per
      m(s"$k.stages") = pc.stages / per
      m(s"$k.tasks") = pc.tasks / per
      m(s"$k.shuffle_write_bytes") = pc.shuffleWrite / per
      m(s"$k.spill_bytes") = pc.spill / per
      m(s"$k.peak_exec_mem_bytes") = pc.peakMem.toDouble
      m(s"$k.gc_ms") = pc.gcMs / per
      m(s"$k.rows_out") = ded.flatMap(_.rowsOut.get(qn)).map(v => v.sum.toDouble / v.size)
        .getOrElse(0.0)
    }

    val loopJobs = new Counters
    jobs.filter(j => inLoop(j.time)).foreach(j => loopJobs.add(l.jobCounters(j)))
    m("spark.jobs") = loopJobs.jobs / per
    m("spark.tasks") = loopJobs.tasks / per
    m("spark.task_run_ms") = loopJobs.taskRunMs / per
    m("spark.gc_ms") = loopJobs.gcMs / per
    m("spark.core_idle_ratio") =
      1.0 - loopJobs.taskRunMs.toDouble / math.max(1L, (loopEnd - loopStart) * cores)
    m.toMap
  }
}

/** Minimal JSON encoder for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
