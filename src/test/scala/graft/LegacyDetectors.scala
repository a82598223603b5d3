package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._

import graft.core.Clock
import graft.detectors._
import graft.ops.{BaselineStats, Exact, Joins, Profiles, Thresholds, TimeFilters}

/** The detector checks in their earlier multi-action form: one Spark action
  * per side (today, baseline) and per dimension, broadcast joins for the
  * present and vanished keys, and a global `orderBy` before each collect.
  * The fused single-action checks must agree with these field by field,
  * with exact `Double` equality and breaks in the same order. */
object LegacyDetectors {

  def patternBreaks(facts: DataFrame, clock: Clock,
      dimensions: Seq[(String, Double)] = Seq("region" -> 100.0, "product_category" -> 80.0),
      tsCol: String = "transaction_date", baselineDays: Int = 30,
      minDailyCount: Long = 0): PatternStatus = {
    val today = clock.today
    val breaks = dimensions.flatMap { case (dim, breakThresholdPct) =>
      val todayCounts = TimeFilters.filterOnDate(facts, tsCol, today)
        .groupBy(col(dim).as("key"))
        .agg(count(lit(1)).cast("double").as("today_value"))
      val baseline = TimeFilters.filterDateBetween(facts, tsCol,
          today.minusDays(baselineDays.toLong), today.minusDays(1))
        .groupBy(col(dim).as("key"), to_date(col(tsCol)).as("d"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("key")
        .agg(avg(col("cnt")).as("baseline_avg"))
        .withColumn("eligible", col("baseline_avg") > minDailyCount)
      val b = baseline.withColumnRenamed("key", "bkey")
      val present = todayCounts.join(broadcast(b), col("key") <=> col("bkey"), "left")
        .withColumn("new_key",
          col("baseline_avg").isNull && col("today_value") > minDailyCount)
        .withColumn("baseline_avg", coalesce(col("baseline_avg"), lit(0.0)))
        .withColumn("deviation_pct",
          when(col("new_key"), lit(100.0))
            .otherwise(when(
              (col("eligible") || col("today_value") > minDailyCount)
                && col("baseline_avg") > 0,
              (col("today_value") - col("baseline_avg")) / col("baseline_avg") * 100)))
        .filter(col("new_key") || abs(col("deviation_pct")) > breakThresholdPct)
      val vanished = b.filter(col("eligible"))
        .join(broadcast(todayCounts.select("key")), col("bkey") <=> col("key"), "left_anti")
        .select(col("bkey").as("key"), lit(0.0).as("today_value"),
          col("baseline_avg"), lit(-100.0).as("deviation_pct"))
      present.select("key", "today_value", "baseline_avg", "deviation_pct")
        .union(vanished)
        .orderBy(abs(col("deviation_pct")).desc, col("key"))
        .collect()
        .map(r => PatternBreak(dim, r.getAs[String]("key"),
          r.getAs[Double]("today_value"), r.getAs[Double]("baseline_avg"),
          r.getAs[Double]("deviation_pct")))
    }
    PatternStatus(breaks, breaks.nonEmpty,
      Thresholds(critical = 4, high = 2, medium = 1).severity(breaks.size.toDouble))
  }

  def revenueAnomaly(revenue: DataFrame, clock: Clock, date: LocalDate,
      tsCol: String = "transaction_date", valueCol: String = "revenue",
      baselineDays: Int = 30, minSamples: Int = 7, zThreshold: Double = 2.5): RevenueStatus = {
    val currentTotal = TimeFilters.filterOnDate(revenue, tsCol, date)
      .agg(coalesce(Exact.sum2(col(valueCol)), lit(0.0))).head().getDouble(0)
    val daily = BaselineStats.dailyTotals(
      TimeFilters.filterDateBetween(revenue, tsCol,
        date.minusDays(baselineDays.toLong), date.minusDays(1)),
      tsCol, valueCol)
    val statsRow: Row = BaselineStats.stats(daily, "daily_total").head()
    val n = statsRow.getLong(5)
    if (n < minSamples) {
      RevenueStatus(date, currentTotal, None, 0.0, isAnomaly = false,
        deviationPct = 0.0, severity = "NONE", breakdown = Nil, analysis = None)
    } else {
      val base = Baseline(statsRow.getDouble(0), statsRow.getDouble(1),
        statsRow.getDouble(2), statsRow.getDouble(3), statsRow.getDouble(4), n)
      val z = if (base.stdDev > 0) (currentTotal - base.avg) / base.stdDev else 0.0
      val isAnomaly = math.abs(z) > zThreshold
      val deviationPct = if (base.avg > 0) (currentTotal - base.avg) / base.avg * 100 else 0.0
      val severity =
        if (isAnomaly) Thresholds.RevenueDeviation.severity(math.abs(deviationPct)) else "NONE"
      val breakdown =
        if (isAnomaly) new RevenueDetector(revenue, clock).categoryBreakdown(date) else Nil
      val analysis =
        if (isAnomaly)
          Some(RuleBasedAnalyzer.analyze("revenue_anomaly",
            Map("z" -> z.toString, "deviation_pct" -> deviationPct.toString)))
        else None
      RevenueStatus(date, currentTotal, Some(base), z, isAnomaly, deviationPct,
        severity, breakdown, analysis)
    }
  }

  def transactionVolume(txns: DataFrame, clock: Clock, hours: Int = 1,
      tsCol: String = "transaction_date", baselineDays: Int = 30,
      minSamples: Int = 7, zThreshold: Double = 2.5): VolumeStatus = {
    val currentCount = txns
      .filter(TimeFilters.trailing(col(tsCol), clock.now, hours = hours))
      .count()
    val currentHour = clock.now.atZone(java.time.ZoneOffset.UTC).getHour
    val baselineEnd = clock.now.minusSeconds(hours.toLong * 3600)
    val perDay = txns
      .filter(TimeFilters.trailing(col(tsCol), clock.now, days = baselineDays))
      .filter(col(tsCol) < lit(java.sql.Timestamp.from(baselineEnd)))
      .filter(hour(col(tsCol)) === currentHour)
      .groupBy(to_date(col(tsCol)).as("d"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    val m = BaselineStats.stats(perDay, "cnt").head()
    val n = m.getLong(5)
    if (n < minSamples) {
      VolumeStatus(currentHour, currentCount, None, 0.0, isAnomaly = false, 0.0, "NONE")
    } else {
      val avg = m.getDouble(0)
      val std = m.getDouble(1)
      val z = if (std > 0) (currentCount - avg) / std else 0.0
      val deviationPct = if (avg > 0) (currentCount - avg) / avg * 100 else 0.0
      val isAnomaly = math.abs(z) > zThreshold
      val severity =
        if (isAnomaly) Thresholds.TxnDeviation.severity(math.abs(deviationPct)) else "NONE"
      VolumeStatus(currentHour, currentCount,
        Some(Baseline(avg, std, m.getDouble(2), m.getDouble(3), m.getDouble(4), n)),
        z, isAnomaly, deviationPct, severity)
    }
  }

  def qualityDegradation(facts: DataFrame, clock: Clock,
      columns: Seq[String] = Seq("customer_id", "region"),
      idCol: String = "transaction_id", tsCol: String = "transaction_date",
      baselineDays: Int = 30, degradationPts: Double = 1.0,
      dupPctThreshold: Double = 0.5): QualityStatus = {
    val today = TimeFilters.filterOnDate(facts, tsCol, clock.today)
    val baseline = TimeFilters.filterDateBetween(facts, tsCol,
      clock.today.minusDays(baselineDays.toLong), clock.today.minusDays(1))
    val n = count(lit(1))
    val nullAggs = columns.map(c =>
      when(n > 0, Profiles.countIf(col(c).isNull) * lit(100.0) / n)
        .otherwise(lit(0.0)).as(s"${c}_null_pct"))
    val dupAggs = Seq(
      count(col(idCol)).as("id_rows"),
      countDistinct(col(idCol)).as("distinct_ids"))
    val todayRow = today
      .agg((nullAggs ++ dupAggs).head, (nullAggs ++ dupAggs).tail: _*).head()
    val todayPcts = columns.zipWithIndex.map { case (c, i) =>
      c -> (if (todayRow.isNullAt(i)) 0.0 else todayRow.getDouble(i))
    }.toMap
    val baseRow = baseline.agg(n.as("total_rows"), nullAggs: _*).head()
    val basePcts = columns.zipWithIndex.map { case (c, i) =>
      c -> (if (baseRow.isNullAt(i + 1)) 0.0 else baseRow.getDouble(i + 1))
    }.toMap
    val degraded = columns.filter(c => todayPcts(c) - basePcts(c) > degradationPts)
    val idRows = todayRow.getLong(columns.size)
    val distinctIds = todayRow.getLong(columns.size + 1)
    val dupPct =
      if (idRows == 0) 0.0 else (idRows - distinctIds).toDouble * 100 / idRows
    val issues = degraded.size + (if (dupPct > dupPctThreshold) 1 else 0)
    QualityStatus(todayPcts, dupPct, degraded, hasDegradation = issues > 0,
      severity = Thresholds(critical = 3, high = 2, medium = 1).severity(issues.toDouble))
  }

  /** Feed ids expected but not arrived today, in Spark's `orderBy` order. */
  def missingFeeds(feeds: DataFrame, day: LocalDate, expected: Seq[String],
      feedCol: String = "feed_id", tsCol: String = "arrival_time"): Seq[String] = {
    val spark = feeds.sparkSession
    import spark.implicits._
    val today = TimeFilters.filterOnDate(feeds, tsCol, day).select(col(feedCol)).distinct()
    Joins.missingKeys(expected.toDF(feedCol), today, feedCol)
      .orderBy(feedCol).as[String].collect().toSeq
  }

  /** Asserts `actual` equals `expected` with doubles compared bit for bit
    * (so 0.0 and -0.0 differ and NaN equals itself), through case classes,
    * options, sequences and maps; `path` names the first differing field. */
  def assertSameBits(expected: Any, actual: Any, path: String = "status"): Unit =
    (expected, actual) match {
      case (e: Double, a: Double) =>
        assert(java.lang.Double.doubleToRawLongBits(e) == java.lang.Double.doubleToRawLongBits(a),
          s"$path: expected $e, got $a")
      case (e: Map[_, _], a: Map[_, _]) =>
        assert(e.keySet == a.keySet, s"$path: keys ${e.keySet} vs ${a.keySet}")
        e.foreach { case (k, v) => assertSameBits(v, a.asInstanceOf[Map[Any, Any]](k), s"$path($k)") }
      case (e: Seq[_], a: Seq[_]) =>
        assert(e.size == a.size, s"$path: size ${e.size} vs ${a.size}: $e vs $a")
        e.zip(a).zipWithIndex.foreach { case ((x, y), i) => assertSameBits(x, y, s"$path[$i]") }
      case (e: Product, a: Product) if e.productArity == a.productArity && e.getClass == a.getClass =>
        e.productIterator.zip(a.productIterator).zip(e.productElementNames).foreach {
          case ((x, y), name) => assertSameBits(x, y, s"$path.$name")
        }
      case _ => assert(expected == actual, s"$path: expected $expected, got $actual")
    }
}
