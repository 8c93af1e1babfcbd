package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{ComparisonOperator, SLA, TreatMissingData}

/**
 * Threshold comparison + alarm state machine, batch variant (O-23;
 * reference: dataquality/sla.py:14-33 declares the config,
 * cdk_constructs/cw_alarm.py:32-62 wires it, and the M-of-N evaluation
 * itself runs inside the CloudWatch service). CloudWatch semantics
 * implemented:
 *
 *  - breach per datapoint: value <op> threshold for the four
 *    comparison operators (cw_alarm.py:42-45);
 *  - alarm when ≥ datapoints_to_alarm (M) of the last
 *    evaluation_periods (N) datapoints breach;
 *  - treat_missing_data ∈ NOT_BREACHING (default) | BREACHING | IGNORE
 *    | MISSING (cw_alarm.py:46-49): the series timeline is densified to
 *    one slot per period, and missing slots count as non-breaching /
 *    breaching / are skipped (window looks further back over real
 *    datapoints) / yield INSUFFICIENT_DATA when the whole window is
 *    empty;
 *  - state-change rows (OK→ALARM etc.) are flagged for notification
 *    (alarm actions fire on transition, not level).
 *
 * Scale: the machine runs as the sequential state machine it is. Series
 * rows meet the (tiny) SLA table in one broadcast join, one hash shuffle
 * brings each (series, SLA config) key to one task, and a sort within
 * partitions orders the key's rows by window. One forward scan per key
 * then densifies the slot grid and keeps the M-of-N count in a ring
 * buffer of at most N votes — one Exchange, no Window, no self-join, no
 * explode. The scan buffers a key's real datapoints (a compact
 * array per key, not its dense slots) because the slot grid starts at
 * max(lo, hi − maxSlotsPerSeries·period) and hi is the key's last row.
 */
object AlarmStateMachine {

  val StateOk = "OK"
  val StateAlarm = "ALARM"
  val StateInsufficient = "INSUFFICIENT_DATA"

  /** Per-datapoint breach predicate with operator dispatch
    * (cw_alarm.py:42-45). */
  def breaches(value: Column, op: Column, threshold: Column): Column =
    when(op === "GREATER_THAN_THRESHOLD", value > threshold)
      .when(op === "GREATER_THAN_OR_EQUAL_TO_THRESHOLD", value >= threshold)
      .when(op === "LESS_THAN_THRESHOLD", value < threshold)
      .when(op === "LESS_THAN_OR_EQUAL_TO_THRESHOLD", value <= threshold)

  /** The full SLA config: a series may carry several SLAs (warning +
    * critical threshold), and `period` is part of the config — two SLAs
    * differing only in period must not share one vote stream. */
  private val KeyCols = Seq("series_id", "period", "threshold",
    "comparison_operator", "datapoints_to_alarm", "evaluation_periods",
    "treat_missing_data")
  // positions after the key columns: the scan's input rows are (keys,
  // window_start, metricvalue, __breach, __rid) and its output rows
  // (keys, window_start, metricvalue, breaching, statevalue,
  // prev_state, transitioned)
  private val WsAt = KeyCols.size
  private val ValueAt = WsAt + 1
  private val BreachAt = WsAt + 2
  private val RidAt = WsAt + 3
  private val OutWidth = WsAt + 6

  /**
   * Fail fast on bad SLA config, with one bounded collect of the
   * distinct configs (the SLA table is definition metadata). breaches()
   * has no otherwise-branch, so a typo'd operator would make every slot
   * silently abstain — the alarm could never fire and nothing would
   * report the misconfiguration. M and N must satisfy CloudWatch's
   * 1 <= M <= N (see [[graft.model.SLA.requireVoteBounds]]).
   */
  private[graft] def requireValidConfigs(slas: DataFrame, what: String): Unit =
    graft.pipeline.DriverBounds.boundedCollect(
      slas.select(col("period").cast("long"), col("comparison_operator"),
        col("treat_missing_data"), col("datapoints_to_alarm").cast("long"),
        col("evaluation_periods").cast("long")).distinct(), 10000L, what)
      .foreach { r =>
        require(!r.isNullAt(0) && r.getLong(0) > 0,
          s"SLA period must be positive, got ${r.get(0)}")
        ComparisonOperator.fromName(r.getString(1)) // throws with the bad name
        TreatMissingData.fromName(r.getString(2))
        require(!r.isNullAt(3) && !r.isNullAt(4),
          s"SLA datapoints_to_alarm and evaluation_periods must be set, " +
            s"got ${r.get(3)} of ${r.get(4)}")
        SLA.requireVoteBounds(r.getLong(3), r.getLong(4))
      }

  /**
   * Evaluate alarm states over windowed series values.
   *
   * @param series (series_id, window_start:long, metricvalue:double) —
   *               output of StatWindowAgg
   * @param slas   (series_id, period, threshold, comparison_operator,
   *               datapoints_to_alarm, evaluation_periods,
   *               treat_missing_data) — tiny; broadcast
   * @return one row per (series_id, slot): window_start, metricvalue
   *         (null when the slot was missing), breaching, statevalue,
   *         prev_state, transitioned
   */
  def evaluate(series: DataFrame, slas: DataFrame,
      maxSlotsPerSeries: Long = 200000L): DataFrame = {
    requireValidConfigs(slas, "AlarmStateMachine distinct SLA configs (definition metadata)")

    // The row id tags each series row before the join: a duplicate SLA
    // row joins the same series row twice, and the scan keeps one (the
    // config is one machine, however often it is declared).
    val joined = series.filter(col("window_start").isNotNull)
      .withColumn("__rid", monotonically_increasing_id())
      .join(broadcast(slas), Seq("series_id"), "inner")
    // a -0.0 threshold is the same config as 0.0 and reads back as 0.0,
    // as in any Spark grouping key (the hash and the sort already agree)
    val threshold = slas.schema("threshold").dataType match {
      case t @ (DoubleType | FloatType) =>
        when(col("threshold") === 0, lit(0).cast(t)).otherwise(col("threshold"))
      case _ => col("threshold")
    }
    val keyed = joined.select(
      KeyCols.map(c => if (c == "threshold") threshold.as(c) else col(c)) ++ Seq(
        col("window_start").cast("long").as("window_start"), col("metricvalue"),
        breaches(col("metricvalue"), col("comparison_operator"), col("threshold"))
          .as("__breach"),
        col("__rid")): _*)

    val outSchema = StructType(keyed.schema.fields.take(KeyCols.size) ++ Seq(
      StructField("window_start", LongType, nullable = false),
      keyed.schema("metricvalue").copy(nullable = true),
      StructField("breaching", BooleanType, nullable = false),
      StructField("statevalue", StringType, nullable = false),
      StructField("prev_state", StringType),
      StructField("transitioned", BooleanType, nullable = false)))
    val maxSlots = maxSlotsPerSeries
    keyed.repartition(KeyCols.map(col): _*)
      .sortWithinPartitions((KeyCols :+ "window_start" :+ "__rid").map(col): _*)
      .mapPartitions { rows =>
        val in = rows.buffered
        Iterator.continually(in).takeWhile(_.hasNext).flatMap(scanKey(_, maxSlots))
      }(Encoders.row(outSchema))
  }

  /** Consume one key's rows from the sorted partition and return the
    * key's dense slot rows. */
  private def scanKey(in: BufferedIterator[Row], maxSlots: Long): Iterator[Row] = {
    val key = Array.tabulate[Any](KeyCols.size)(in.head.get)
    def sameKey(r: Row): Boolean = {
      var j = 0
      // equals, not ==: boxed NaN thresholds must compare equal
      while (j < key.length && java.util.Objects.equals(r.get(j), key(j))) j += 1
      j == key.length
    }
    // the key's real datapoints, ascending by (window_start, row id)
    val wsBuf = mutable.ArrayBuilder.make[Long]
    val valueBuf = mutable.ArrayBuffer.empty[Any]
    val voteBuf = mutable.ArrayBuilder.make[Byte] // 1 breach, 0 not, -1 abstain
    var lastRid = -1L
    while (in.hasNext && sameKey(in.head)) {
      val r = in.next()
      val rid = r.getLong(RidAt)
      if (rid != lastRid) {
        lastRid = rid
        wsBuf += r.getLong(WsAt)
        valueBuf += r.get(ValueAt)
        voteBuf += (if (r.isNullAt(BreachAt)) -1 else if (r.getBoolean(BreachAt)) 1 else 0).toByte
      }
    }
    val ws = wsBuf.result()
    val votes = voteBuf.result()
    val nReal = ws.length

    def asLong(v: Any) = v.asInstanceOf[Number].longValue
    val period = asLong(key(1))
    val m = asLong(key(4))
    val n = asLong(key(5))
    val policy = key(6)
    val missingVote: Byte =
      if (policy == "BREACHING") 1 else if (policy == "NOT_BREACHING") 0 else -1
    val insufficientWhenEmpty = policy == "MISSING"
    // the slot grid: one slot per period over the key's span, clamped to
    // the last maxSlots periods so one corrupt far-future timestamp
    // cannot ask for ~1e10 slots
    val hi = ws(nReal - 1)
    val start = math.max(ws(0), hi - maxSlots * period)
    val slots = (hi - start) / period + 1

    // the last N votes: a ring of at most as many votes as rows exist
    val ring = new Array[Boolean](math.max(1L, math.min(n, slots + nReal)).toInt)
    new Iterator[Row] {
      private var k = 0L // current slot
      private var i = 0 // next buffered datapoint
      private var rn = 0L // rows emitted (a duplicate window is a row of its own)
      private var lastReal = -1L // rn of the last present datapoint
      private var filled, pos = 0
      private var trues = 0L
      private var prev: String = null

      def hasNext: Boolean = k < slots

      def next(): Row = {
        if (!hasNext) throw new NoSuchElementException("slot scan exhausted")
        val slot = start + k * period
        while (i < nReal && ws(i) < slot) i += 1 // off-grid or clamped away
        val hit = i < nReal && ws(i) == slot
        val value = if (hit) valueBuf(i) else null
        val present = value != null
        val vote = if (present) votes(i) else missingVote
        if (hit) i += 1
        if (!(i < nReal && ws(i) == slot)) k += 1

        rn += 1
        if (present) lastReal = rn
        if (vote >= 0) { // IGNORE/MISSING gaps and null thresholds abstain
          if (filled == ring.length) { if (ring(pos)) trues -= 1 } else filled += 1
          ring(pos) = vote == 1
          if (vote == 1) trues += 1
          pos = (pos + 1) % ring.length
        }
        val anyReal = lastReal > 0 && rn - lastReal < n
        val state =
          if (insufficientWhenEmpty && !anyReal) StateInsufficient
          else if (trues >= m) StateAlarm
          else StateOk
        val out = new Array[Any](OutWidth)
        System.arraycopy(key, 0, out, 0, key.length)
        out(WsAt) = slot
        out(ValueAt) = value
        out(BreachAt) = vote == 1
        out(BreachAt + 1) = state
        out(BreachAt + 2) = prev
        out(BreachAt + 3) = prev != null && prev != state
        prev = state
        new GenericRow(out)
      }
    }
  }
}
