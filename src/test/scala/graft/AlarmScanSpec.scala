package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.operators.AlarmStateMachine

/** Differential coverage of the batch alarm machine's sorted scan
  * against the composed reference rendition (AlarmStateMachineComposed)
  * on seeded random input, plus its plan shape, under shuffle-partition
  * and AQE settings the result must not depend on. */
class AlarmScanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val Ops = Seq("GREATER_THAN_THRESHOLD", "GREATER_THAN_OR_EQUAL_TO_THRESHOLD",
    "LESS_THAN_THRESHOLD", "LESS_THAN_OR_EQUAL_TO_THRESHOLD")
  private val Policies = Seq("NOT_BREACHING", "BREACHING", "IGNORE", "MISSING")
  private val Values = Seq(Some(1.0), Some(5.0), Some(9.0), Some(0.0), Some(-0.0),
    Some(Double.NaN), None)
  private val Thresholds = Seq(Some(5.0), Some(5.0), Some(0.0), Some(-0.0),
    Some(Double.NaN), None)

  /** @param tieSeries series with duplicate windows: the order among
    *                  those ties is unspecified on both sides (the
    *                  reference even orders its lag() apart from its
    *                  running counts), so only per-slot multiplicity is
    *                  compared for them */
  private case class Case(series: DataFrame, slas: DataFrame, tieSeries: Set[String])

  /** 24 series on a 60 s window grid with gaps, some windows 30 s off
    * the grid, and every operator × missing-data policy pair among the
    * SLAs (1–3 per series; periods 60, 120 and 90 s; N up to 20, beyond
    * most series' span; some SLA rows declared twice). Every fourth
    * series repeats windows with the same values, and every fourth
    * (offset by one) with different values. */
  private def randomCase(seed: Long): Case = {
    val rnd = new Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val series = Seq.newBuilder[(String, Long, Option[Double])]
    val slas = Seq.newBuilder[(String, Int, Option[Double], String, Int, Int, String)]
    var ties = Set.empty[String]
    for (i <- 0 until 24) {
      val sid = s"s$i"
      val rows = (0 until 1 + rnd.nextInt(12))
        .filter(k => k == 0 || rnd.nextDouble() > 0.3)
        .map(k => (sid, 1000L + 60L * k + (if (rnd.nextDouble() < 0.1) 30L else 0L),
          pick(Values)))
      series ++= rows
      i % 4 match {
        case 1 => series ++= rows.take(2); ties += sid
        case 2 =>
          series ++= rows.take(2).map { case (s, ws, _) => (s, ws, pick(Values)) }
          ties += sid
        case _ =>
      }
      for (j <- 0 until 1 + rnd.nextInt(3)) {
        val combo = (3 * i + 5 * j) % 16 // j = 0 alone covers all 16 pairs
        val n = if (rnd.nextInt(4) == 0) 20 else 1 + rnd.nextInt(5)
        val sla = (sid, pick(Seq(60, 60, 120, 90)), pick(Thresholds), Ops(combo / 4),
          1 + rnd.nextInt(n), n, Policies(combo % 4))
        slas += sla
        if (rnd.nextInt(5) == 0) slas += sla
      }
    }
    Case(series.result().toDF("series_id", "window_start", "metricvalue"),
      slas.result().toDF("series_id", "period", "threshold", "comparison_operator",
        "datapoints_to_alarm", "evaluation_periods", "treat_missing_data"),
      ties)
  }

  private def multiset(xs: Seq[String]): Map[String, Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }

  private def assertSameMultiset(got: Seq[String], want: Seq[String], what: String): Unit = {
    val (g, w) = (multiset(got), multiset(want))
    val missing = w.filter { case (k, c) => g.getOrElse(k, 0) < c }.keys.toSeq.sorted
    val extra = g.filter { case (k, c) => w.getOrElse(k, 0) < c }.keys.toSeq.sorted
    assert(missing.isEmpty && extra.isEmpty,
      s"$what: ${missing.size} rows missing, e.g. ${missing.take(5).mkString("; ")}" +
        s" / ${extra.size} extra, e.g. ${extra.take(5).mkString("; ")}")
  }

  /** Returns the reference output rows. */
  private def assertMatchesReference(c: Case, maxSlots: Long, label: String): Seq[Row] = {
    val got = AlarmStateMachine.evaluate(c.series, c.slas, maxSlots)
    val want = AlarmStateMachineComposed.evaluate(c.series, c.slas, maxSlots)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)), label)
    val (gotRows, wantRows) = (got.collect().toSeq, want.collect().toSeq)
    def full(r: Row) = r.toSeq.map(String.valueOf).mkString("|")
    def slot(r: Row) = r.toSeq.take(8).map(String.valueOf).mkString("|") // key + window_start
    val (gotTies, gotRest) = gotRows.partition(r => c.tieSeries(r.getString(0)))
    val (wantTies, wantRest) = wantRows.partition(r => c.tieSeries(r.getString(0)))
    assertSameMultiset(gotRest.map(full), wantRest.map(full), s"$label full rows")
    assertSameMultiset(gotTies.map(slot), wantTies.map(slot), s"$label slot multiplicity")
    wantRows
  }

  private def withConf[T](partitions: Int, aqe: Boolean)(body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), partitions.toLong)
    spark.conf.set(keys(1), aqe)
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private val Settings = for (p <- Seq(1, 7); aqe <- Seq(true, false)) yield (p, aqe)

  for ((partitions, aqe) <- Settings) {
    test(s"scan matches the composed reference (shuffle.partitions=$partitions, AQE=$aqe)") {
      withConf(partitions, aqe) {
        for (seed <- Seq(1L, 2L)) {
          val c = randomCase(seed)
          val all = assertMatchesReference(c, 200000L, s"seed $seed")
          val clamped = assertMatchesReference(c, 4L, s"seed $seed, maxSlotsPerSeries 4")
          // the case exercises what it claims to
          assert(clamped.size < all.size)
          assert(all.map(_.getAs[String]("statevalue")).toSet ==
            Set(AlarmStateMachine.StateOk, AlarmStateMachine.StateAlarm,
              AlarmStateMachine.StateInsufficient))
          assert(all.exists(_.getAs[Boolean]("transitioned")))
        }
      }
    }

    test(s"plan: one Exchange after one broadcast join, no Window or SortMergeJoin " +
        s"(shuffle.partitions=$partitions, AQE=$aqe)") {
      withConf(partitions, aqe) {
        val c = randomCase(3)
        val out = AlarmStateMachine.evaluate(c.series, c.slas)
        out.collect()
        val plan = out.queryExecution.executedPlan
        val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
        assert(exchanges.size == 1, plan)
        assert(collect(plan) { case j: BroadcastHashJoinExec => j }.size == 1, plan)
        assert(collect(exchanges.head) { case j: BroadcastHashJoinExec => j }.size == 1, plan)
        assert(collect(plan) {
          case w: WindowExec => w
          case j: SortMergeJoinExec => j
          case g: GenerateExec => g
        }.isEmpty, plan)
      }
    }
  }
}
