package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkEntry
import graft.catalog.{Schemas, Tables}
import graft.metrics.MetricsJob
import graft.model.BusinessMetric
import graft.operators._
import graft.registry.{DefinitionExport, DefinitionRegistry}
import graft.streaming.{LakeIngest, StreamingAlarmPipeline}

/** One closed-loop workload: `setup` runs untimed (its cost is
  * reported as set-up time), `op(i)` is operation i (timed from 0; the
  * set-up runs the negative ones), `finish` writes what the correctness
  * checks read. */
trait Workload {
  /** Input rows operation i completes. */
  def rowsPerOp(i: Int): Long
  def setup(spark: SparkSession): Unit
  def op(i: Int): Unit
  def exhausted(i: Int): Boolean = false
  def finish(): Map[String, Any]
}

object Workload {
  /** Operations the set-up runs before timing starts: one cold, the
    * rest warm-up. */
  val Untimed = 2

  /** Definition load: the registry's accounts flattened into the
    * metric_defs / sla_defs tables. Returns the (account, metric set)
    * pairs that carry business metrics. */
  def loadRegistry(spark: SparkSession): Seq[(String, String)] = {
    val accounts = DefinitionRegistry.allAccounts.sortBy(_.account)
    DefinitionExport.metricDefs(spark, accounts).collect()
    DefinitionExport.slaDefs(spark, accounts).collect()
    for {
      a <- accounts
      s <- a.metricSets if s.metrics.exists(_.isInstanceOf[BusinessMetric])
    } yield a.account -> s.name
  }

  /** A small parquet table pulled to the driver and re-created as a
    * local relation: definition tables are metadata, read once. */
  def localTable(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  /** The integer fields of a flat JSON object (the generator's info and
    * step-count files). */
  def readJson(path: String): Map[String, Long] = {
    val s = new String(Files.readAllBytes(Paths.get(path)))
    "\"(\\w+)\": (-?\\d+)".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}

/** The scheduled monitoring cycle: business metrics, retention-pruned
  * window statistics over the datapoints lake, alarm evaluation, and
  * the partitioned record writes. */
final class MonitorCycle(data: String, work: String, t: Spans, traced: Boolean)
    extends Workload {
  private val info = Workload.readJson(s"$data/info.json")
  private val asOf = info("as_of")
  private val ttl = info("ttl_days").toInt
  private val region = "us-east-1"
  private var spark: SparkSession = _
  private var sets: Seq[(String, String)] = Nil
  private var defs, slas: DataFrame = _
  val layer = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def rowsPerOp(i: Int): Long = info("datapoints")

  def setup(s: SparkSession): Unit = {
    spark = s
    sets = t("registry") { Workload.loadRegistry(spark) }
    t("catalog.register") {
      val refs = sets.flatMap { case (a, n) =>
        DefinitionRegistry.forAccount(a).metricSet(n).metrics.collect {
          case b: BusinessMetric => b.allDatasets
        }.flatten
      }
      Tables.registerDatasets(spark, data, refs)
      defs = Workload.localTable(spark, s"$data/defs.parquet")
      slas = Workload.localTable(spark, s"$data/slas.parquet")
    }
  }

  def op(i: Int): Unit = {
    val out = s"$work/out/${if (i >= 0) s"op_$i" else s"setup_${-i}"}"
    val published = t("metrics.run") {
      sets.map { case (a, n) => MetricsJob.run(spark, data, a, n) }.reduce(_ unionByName _)
    }
    t("metrics.publish") { MetricsJob.publish(published, out) }
    val dp = t("catalog.scan") {
      val d = PartitionOps.retain(Tables.read(spark, data, "datapoints"), ttl, asOf)
      if (traced) { d.persist(); d.count() }
      d
    }
    val windows = t("operators.statagg.construct") { StatWindowAgg.aggregate(dp, defs) }.persist()
    if (traced) {
      val n = t("operators.statagg.exec") { windows.count() }
      if (i >= 0) layer("windows") += n
    }
    val alarms = t("operators.alarm.construct") {
      AlarmStateMachine.evaluate(windows.select("series_id", "window_start", "metricvalue"),
        slas.select("series_id", "period", "threshold", "comparison_operator",
          "datapoints_to_alarm", "evaluation_periods", "treat_missing_data"))
    }.persist()
    if (traced) t("operators.alarm.exec") {
      val (slots, transitions) = (alarms.count(), alarms.filter(col("transitioned")).count())
      if (i >= 0) { layer("slots") += slots; layer("transitions") += transitions }
    }
    t("operators.publish") { publish(windows, alarms, out) }
    Seq(alarms, windows, dp).foreach(_.unpersist(true))
  }

  private def publish(windows: DataFrame, alarms: DataFrame, out: String): Unit = {
    val account = DefinitionRegistry.DefaultAccount
    val enriched = EnrichmentJoins.enrichResults(
        windows.select(col("series_id").as("id"), col("window_start"),
          col("metricvalue"), col("frequency")), defs)
      .withColumnRenamed("id", "series_id")
    RecordShape.writePartitioned(
      RecordShape.toMetricsRecords(enriched, account, region, asOf), s"$out/metrics_records")

    // one SLA record per alarm state change; the state reason names the slot
    val transitions = alarms.filter(col("transitioned"))
      .join(broadcast(defs.select(col("unique_id").as("series_id"), col("namespace"),
        col("name"), col("frequency"), col("statistic"), col("metadata"))), "series_id")
    val slaRecords = Incidents.toSlaRecords(transitions.select(
      concat(lit("arn:bench:alarm/"), col("series_id")).as("alarmarn"),
      col("series_id").as("alarmname"),
      col("namespace").as("metricnamespace"), col("name").as("metricname"),
      col("period").as("metricperiod"), col("frequency").as("metricfrequency"),
      col("statistic").as("metricstatistic"), col("threshold"),
      col("comparison_operator").as("comparisonoperator"),
      col("treat_missing_data").as("treatmissingdata"), col("statevalue"),
      concat(col("prev_state"), lit(" -> "), col("statevalue"), lit(" at "),
        col("window_start").cast("string")).as("statereason"),
      col("metadata")), account, asOf)
    val at = timestamp_seconds(lit(asOf))
    RecordShape.writePartitioned(slaRecords
      .withColumn("region", lit(region))
      .withColumn("year", year(at).cast("smallint"))
      .withColumn("month", month(at).cast("smallint"))
      .withColumn("day", dayofmonth(at).cast("smallint"))
      .withColumn("hour", hour(at).cast("smallint")), s"$out/sla_records")

    val resolved = transitions.filter(col("statevalue") === "ALARM")
      .join(broadcast(slas.select("series_id", "sns_enabled", "details",
        "short_description", "severity")), "series_id")
      .select(concat(lit("ALARM: "), col("series_id")).as("subject"),
        col("sns_enabled"), col("details"), col("short_description"),
        col("severity"), col("name").as("dimension_value"),
        col("name").as("metric_name"), col("frequency"),
        concat(lit("ingest_"), col("name")).as("reference_id"))
    Incidents.toIncidents(resolved).write.parquet(s"$out/incidents")
  }

  def finish(): Map[String, Any] = {
    // the registry's business metrics, for the oracle
    val bms = sets.flatMap { case (a, n) =>
      DefinitionRegistry.forAccount(a).metricSet(n).metrics.collect {
        case b: BusinessMetric => Map("namespace" -> b.namespace, "name" -> b.name,
          "query" -> b.query)
      }
    }
    Map("business_metrics" -> bms)
  }
}

/** The write path: two file-source queries over one landing directory,
  * the lake ingest (with compaction) and the streaming alarm pipeline.
  * One operation lands one step's files and waits until both queries
  * have committed them. */
final class IngestStream(data: String, work: String, t: Spans, stream: StreamListener)
    extends Workload {
  private val info = Workload.readJson(s"$data/info.json")
  private val landing = s"$work/landing"
  private val lake = s"$work/lake"
  private val errors = s"$work/errors"
  private val transitions = s"$work/transitions"
  private val names = Seq("lake_ingest", "alarm_stream")
  private var spark: SparkSession = _
  var queries: Seq[StreamingQuery] = Nil
  private var landedLines = 0L
  private var landedSteps = 0
  val landTimes = mutable.ArrayBuffer.empty[Long]
  val layer = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private def count(step: Int) = Workload.readJson(f"$data/steps/$step%04d.count")
  private def step(i: Int) = i + Workload.Untimed
  def rowsPerOp(i: Int): Long = count(step(i))("lines")
  override def exhausted(i: Int): Boolean = step(i) >= info("steps")

  def setup(s: SparkSession): Unit = {
    spark = s
    Files.createDirectories(Paths.get(landing))
    spark.streams.addListener(stream)
    t("registry") { Workload.loadRegistry(spark) }
    val slas = t("catalog.register") { Workload.localTable(spark, s"$data/slas.parquet") }
    t("streaming.start") {
      val raw = spark.readStream.format("text").load(landing)
      val ingest = LakeIngest.start(raw, lake, errors, s"$work/ckpt/ingest",
        region = "us-east-1", trigger = Trigger.ProcessingTime(0L),
        compactLagBatches = 2)
      val corrupt = "_corrupt_record"
      val points = spark.readStream.format("text").load(landing)
        .select(from_json(col("value"), Schemas.metrics.add(corrupt, "string"),
          Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt)).as("r"))
        .filter(col(s"r.$corrupt").isNull)
        .select(col("r.id").as("series_id"),
          to_timestamp(col("r.metrictimestamp")).as("ts"),
          col("r.metricvalue").cast("double").as("value"))
      val alarm = StreamingAlarmPipeline.evaluateStream(points,
          slas.select("series_id", "period", "threshold", "comparison_operator",
            "datapoints_to_alarm", "evaluation_periods", "treat_missing_data",
            "statistic"),
          statistic = "Sum", watermark = s"${info("watermark_seconds")} seconds")
        .writeStream.queryName("alarm_stream").format("parquet")
        .option("checkpointLocation", s"$work/ckpt/alarm")
        .option("path", transitions).outputMode("append")
        .trigger(Trigger.ProcessingTime(0L)).start()
      queries = Seq(ingest, alarm)
    }
  }

  /** Move one step's files into the landing directory (hidden name
    * first, then an atomic rename) and wait for both queries. */
  private def land(step: Int): Unit = {
    val src = Paths.get(f"$data/steps/$step%04d")
    val files = Files.list(src).iterator().asScala.toSeq.sortBy(_.toString)
    landTimes += System.currentTimeMillis()
    files.foreach { f =>
      val name = f"step$step%04d-${f.getFileName}"
      val tmp = Paths.get(landing, "." + name)
      Files.copy(f, tmp)
      Files.move(tmp, Paths.get(landing, name), StandardCopyOption.ATOMIC_MOVE)
    }
    landedLines += count(step)("lines")
    landedSteps = step + 1
    queries.foreach(q => q.exception.foreach(e => throw e))
    if (!stream.awaitRows(names, landedLines, 60000L))
      throw new RuntimeException(s"step $step not committed by both queries within 60 s")
  }

  def op(i: Int): Unit = land(step(i))

  def finish(): Map[String, Any] = {
    queries.foreach(_.processAllAvailable())
    queries.foreach(_.stop())
    val maxTs = (0 until landedSteps).map(s => count(s)("max_ts")).max
    val dropped = t("operators.partition.retention") {
      PartitionOps.enforceRetention(spark, lake, info("ttl_days").toInt, maxTs)
    }
    layer("partitions_dropped") = dropped.size.toLong
    val lakeRows = spark.read.parquet(lake).count()
    val alarmProgress = stream.progress.asScala.filter(_.name == "alarm_stream")
    Map("landed_steps" -> landedSteps, "max_ts" -> maxTs, "lake_rows" -> lakeRows,
      "final_watermark_ms" -> alarmProgress.map(_.watermarkMs).maxOption.getOrElse(0L),
      "dropped_by_watermark" -> alarmProgress.map(_.dropped).sum,
      "corrupt_rows" -> spark.read.text(errors).count(),
      "retention_dropped" -> dropped.size)
  }
}

/** The candidate-pair self-joins, called through their declared query
  * entries and materialized with `queryExecution.toRdd`. */
final class DedupJoin(data: String, work: String, t: Spans) extends Workload {
  val queries = Seq("q_dedup_substring_global", "q_entity_resolution",
    "q_embed_neardup", "q_dup_attribution")
  private val info = Workload.readJson(s"$data/info.json")
  private var spark: SparkSession = _
  val rowsOut = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]

  def rowsPerOp(i: Int): Long = info("documents") + info("embeddings")

  def setup(s: SparkSession): Unit = {
    spark = s
    t("registry") { Workload.loadRegistry(spark) }
    t("catalog.register") {
      Tables.registerDatasets(spark, data,
        Seq("documents", "embeddings", "customer").map(graft.model.TableRef("lake", _)))
    }
  }

  def op(i: Int): Unit = queries.foreach { q =>
    val n = t(s"pipeline.$q") { SparkEntry.queries(q)(spark, data).queryExecution.toRdd.count() }
    if (i >= 0) rowsOut.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += n
  }

  def finish(): Map[String, Any] = {
    queries.foreach(q => SparkEntry.queries(q)(spark, data).write.parquet(s"$work/out/$q"))
    Map("oracle_sql" -> queries.map(q => q -> SparkEntry.oracleSql(q)).toMap,
      "rows_out" -> rowsOut.map { case (k, v) => k -> v.toSeq }.toMap)
  }
}
