package graft.detectors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Clock
import graft.ops.{Joins, Thresholds, TimeFilters}

/** Missing-feed detection (reference `monitoring/detectors/feed_detector.py`).
  *
  * API parity: `check_feed_status(expected_feeds)` → [[checkFeedStatus]],
  * `get_feed_trends(days)` → [[getFeedTrends]].
  *
  * The reference pulls arrived ids to the client and diffs python sets
  * (`feed_detector.py:44-48`); here missing = expected − arrived is the
  * canonical left-anti join (SURVEY §2.3 J5) — the expected side is a tiny
  * broadcast dim, the arrived side reduces to distinct keys scan-side, so
  * the plan holds at any feed-table size.
  */
final class FeedDetector(
    feeds: DataFrame, clock: Clock,
    analyzer: Analyzer = RuleBasedAnalyzer,
    feedCol: String = "feed_id", tsCol: String = "arrival_time") {

  /** API parity: `check_feed_status(expected_feeds, check_time='17:00')`
    * (`feed_detector.py:20`). `checkTime` is the daily feed deadline
    * (HH:mm, UTC like all [[Clock]] math): before today's deadline the
    * feeds are not yet DUE, so nothing is reported missing (severity NONE
    * — a scheduler firing early must not page anyone); at or after it,
    * today's arrivals are diffed against the expected list. */
  def checkFeedStatus(expectedFeeds: Seq[String],
      checkTime: String = "17:00"): FeedStatus = {
    val deadline = clock.today
      .atTime(java.time.LocalTime.parse(checkTime))
      .toInstant(java.time.ZoneOffset.UTC)
    if (clock.now.isBefore(deadline))
      return FeedStatus(expectedFeeds.size, 0L, Nil, 0.0, "NONE", None)
    val spark = feeds.sparkSession
    import spark.implicits._
    val today = TimeFilters.filterOnDate(feeds, tsCol, clock.today)
      .select(col(feedCol)).distinct()
    val expectedDf = expectedFeeds.toDF(feedCol)
    val missing = Joins.missingKeys(expectedDf, today, feedCol)
      .as[String].collect().toSeq.sorted(DriverOrder.strings)
    val arrived = expectedFeeds.size - missing.size
    val missingPct =
      if (expectedFeeds.isEmpty) 0.0 else missing.size.toDouble * 100 / expectedFeeds.size
    val severity = Thresholds.FeedMissing.severity(missingPct)
    val analysis =
      if (missing.nonEmpty)
        Some(analyzer.analyze("missing_feeds", Map("missing" -> missing.mkString(","))))
      else None
    FeedStatus(expectedFeeds.size, arrived, missing, missingPct, severity, analysis)
  }

  /** Daily arrival trend (feed_detector.py:195-206): per-day feed counts and
    * record volumes over a trailing window, newest first. */
  def getFeedTrends(days: Int, recordCountCol: String = "record_count"): DataFrame =
    feeds
      .filter(TimeFilters.trailing(col(tsCol), clock.now, days = days))
      .groupBy(to_date(col(tsCol)).as("d"))
      .agg(
        countDistinct(col(feedCol)).as("feeds_arrived"),
        count(lit(1)).as("arrival_count"),
        sum(col(recordCountCol)).as("total_records"),
        avg(hour(col(tsCol))).as("avg_arrival_hour"))
      .orderBy(col("d").desc)
}
