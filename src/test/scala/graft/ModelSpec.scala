package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model._

/** Golden-string parity with the reference's derivations
  * (dataquality/metric.py:92-155) using the sample definition shapes
  * from definitions/account_123412341234/set1.py. */
class ModelSpec extends AnyFunSuite {

  private val dash = Widget("test_dashboard_category")
  private val sample = Metric(
    namespace = "AWS/Lambda", name = "Invocations",
    frequency = Frequency.Day, statistic = "Sum", dashboard = dash,
    metadata = Seq(Metadata("Thing", "foobar")),
    dimensions = Seq(Dimension("FunctionName", "hello_world")))

  test("unique_id strips non-word chars and lowercases (metric.py:144-155)") {
    assert(sample.uniqueId == "awslambdainvocationsdayfunctionnamehello_world")
  }

  test("alarm_unique_id hyphen-joins with trailing hyphen (metric.py:131-142)") {
    assert(sample.alarmUniqueId == "awslambda-invocations-day-functionname-hello_world-")
  }

  test("widget_title (metric.py:118-129)") {
    assert(sample.widgetTitle == "invocations per day-hello_world")
  }

  test("*Bucket dimensions are excluded from all derivations (metric.py:123-126)") {
    val m = sample.copy(dimensions = sample.dimensions :+ Dimension("S3Bucket", "b-1"))
    assert(m.uniqueId == sample.uniqueId)
    assert(m.alarmUniqueId == sample.alarmUniqueId)
    assert(m.widgetTitle == sample.widgetTitle)
  }

  test("frequency periods (metric.py:92-101)") {
    assert(Frequency.Minute.periodSeconds == 60)
    assert(Frequency.Hour.periodSeconds == 3600)
    assert(Frequency.Day.periodSeconds == 86400)
    assert(sample.period == 86400)
    assert(sample.copy(periodOverride = Some(300)).period == 300)
  }

  test("alarm name shape (cw_alarm.py:37)") {
    assert(sample.alarmName("us-east-1") ==
      "data-gov-awslambda-invocations-day-functionname-hello_world-SLA-Alarm-us-east-1")
  }

  test("MetricStream flattens sets and filters by frequency (stream.py:20-45)") {
    val m2 = sample.copy(name = "Errors", frequency = Frequency.Hour)
    val stream = MetricStream(Seq(
      MetricSet("a", Seq(sample)), MetricSet("b", Seq(m2))))
    assert(stream.metrics.size == 2)
    val qs = stream.metricDataQueries(Frequency.Hour)
    assert(qs.map(_.id) == Seq(m2.uniqueId))
    assert(qs.head.period == 3600 && qs.head.stat == "Sum")
  }

  test("comparison operators breach correctly (cw_alarm.py:42-45)") {
    import ComparisonOperator._
    assert(GreaterThanThreshold.breaches(2, 1) && !GreaterThanThreshold.breaches(1, 1))
    assert(GreaterThanOrEqualToThreshold.breaches(1, 1))
    assert(LessThanThreshold.breaches(0, 1) && !LessThanThreshold.breaches(1, 1))
    assert(LessThanOrEqualToThreshold.breaches(1, 1))
  }

  test("SLA defaults (sla.py:16-21)") {
    val sla = SLA(sample, "d", "d", 1.0, ComparisonOperator.LessThanOrEqualToThreshold)
    assert(sla.treatMissingData == TreatMissingData.NotBreaching)
    assert(sla.datapointsToAlarm == 1 && sla.evaluationPeriods == 1)
    assert(!sla.snsEnabled && sla.severity == "default")
  }

  test("SLA rejects M/N outside 1 <= M <= N (PutMetricAlarm bounds)") {
    def sla(m: Int, n: Int) = SLA(sample, "d", "d", 1.0,
      ComparisonOperator.GreaterThanThreshold, datapointsToAlarm = m, evaluationPeriods = n)
    val zeroN = intercept[IllegalArgumentException](sla(1, 0))
    assert(zeroN.getMessage.contains("SLA evaluation_periods must be >= 1, got 0"))
    val zeroM = intercept[IllegalArgumentException](sla(0, 3))
    assert(zeroM.getMessage.contains(
      "SLA datapoints_to_alarm must be in [1, evaluation_periods=3], got 0"))
    val mOverN = intercept[IllegalArgumentException](sla(4, 3))
    assert(mOverN.getMessage.contains(
      "SLA datapoints_to_alarm must be in [1, evaluation_periods=3], got 4"))
    assert(sla(3, 3).datapointsToAlarm == 3)
  }

  test("TableRef alias defaults to table (dataset.py:11-18)") {
    assert(TableRef("db", "t").alias == "t")
    assert(TableRef("db", "t", "a").alias == "a")
  }
}
