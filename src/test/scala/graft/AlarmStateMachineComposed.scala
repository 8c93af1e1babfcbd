package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.AlarmStateMachine.{StateAlarm, StateInsufficient, StateOk, breaches}

/**
 * Reference rendition of `AlarmStateMachine.evaluate`, composed from
 * relational operators: a bounds aggregate, a sequence()/explode
 * densify, a left join for the slot values, running-sum windows for the
 * vote counts, a vote-index self-join for the "N votes ago" lookup and a
 * lag() for the previous state. The engine replaced it with one sorted
 * scan per SLA key; tests compare the two on randomized input. Expects
 * SLA configs that `evaluate` accepts (1 <= M <= N, period > 0).
 */
object AlarmStateMachineComposed {

  def evaluate(series: DataFrame, slas: DataFrame,
      maxSlotsPerSeries: Long = 200000L): DataFrame = {
    val joined = series.join(broadcast(slas), Seq("series_id"), "inner")

    // densify each series to one slot per period over its own span,
    // clamped to the last maxSlotsPerSeries slots
    val bounds = joined.groupBy(
        col("series_id"), col("period"), col("threshold"),
        col("comparison_operator"), col("datapoints_to_alarm"),
        col("evaluation_periods"), col("treat_missing_data"))
      .agg(min("window_start").as("_lo"), max("window_start").as("_hi"))
    val clampedLo = greatest(col("_lo"),
      col("_hi") - lit(maxSlotsPerSeries) * col("period").cast("long"))
    val slots = bounds.select(
      col("series_id"), col("period"), col("threshold"),
      col("comparison_operator"), col("datapoints_to_alarm"),
      col("evaluation_periods"), col("treat_missing_data"),
      explode(sequence(clampedLo, col("_hi"), col("period").cast("long")))
        .as("window_start"))

    val dense = slots.join(
      series.select(col("series_id").as("_sid"), col("window_start").as("_ws"),
        col("metricvalue")),
      slots("series_id") === col("_sid") && slots("window_start") === col("_ws"),
      "left").drop("_sid", "_ws")

    val present = col("metricvalue").isNotNull
    val realBreach = breaches(col("metricvalue"), col("comparison_operator"), col("threshold"))
    // IGNORE / MISSING missing slots carry a null vote and don't vote
    val slotBreach = when(present, realBreach)
      .when(col("treat_missing_data") === "BREACHING", lit(true))
      .when(col("treat_missing_data") === "NOT_BREACHING", lit(false))
      .otherwise(lit(null).cast("boolean"))

    val keyCols = Seq("series_id", "period", "threshold",
      "comparison_operator", "datapoints_to_alarm",
      "evaluation_periods", "treat_missing_data")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy("window_start")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // breaches among the last N votes = running breaches now minus
    // running breaches as of N votes ago (a null vote doesn't advance
    // the vote index)
    val cur = dense
      .withColumn("__vote", slotBreach)
      .withColumn("__rb", sum(when(col("__vote"), 1L).otherwise(0L)).over(wRun))
      .withColumn("__vi", count(col("__vote")).over(wRun))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__lp", max(when(present, col("__rn"))).over(wRun))
      .withColumn("__target", col("__vi") - col("evaluation_periods"))

    // the "as of N votes ago" lookup: an equi-join on the vote index
    val voteIdx = cur.filter(col("__vote").isNotNull)
      .select(keyCols.map(c => col(c).as(s"__k_$c")) ++
        Seq(col("__vi").as("__j"), col("__rb").as("__rb_j")): _*)
    val joinCond = keyCols.map(c => col(c) === col(s"__k_$c"))
      .reduce(_ && _) && col("__j") === col("__target")
    val looked = cur.join(voteIdx, joinCond, "left")
      .drop(keyCols.map(c => s"__k_$c") :+ "__j": _*)

    val breachCount = col("__rb") -
      when(col("__target") >= 1, coalesce(col("__rb_j"), lit(0L))).otherwise(lit(0L))
    // a real datapoint within the last N slots
    val anyReal = col("__lp").isNotNull &&
      (col("__rn") - col("__lp")) < col("evaluation_periods")

    val state =
      when(col("treat_missing_data") === "MISSING" && !anyReal, StateInsufficient)
        .when(breachCount >= col("datapoints_to_alarm"), StateAlarm)
        .otherwise(StateOk)

    val withState = looked
      .withColumn("breaching", coalesce(col("__vote"), lit(false)))
      .withColumn("statevalue", state)
    val prev = lag(col("statevalue"), 1).over(w)
    withState
      .withColumn("prev_state", prev)
      .withColumn("transitioned",
        prev.isNotNull && prev =!= col("statevalue"))
      .drop("__vote", "__rb", "__vi", "__rn", "__lp", "__target", "__rb_j")
  }
}
