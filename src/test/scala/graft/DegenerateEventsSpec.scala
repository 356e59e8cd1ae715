package graft

import java.sql.Timestamp

/** Degenerate-event robustness, the events twin of DegenerateDocsSpec:
  * real event streams carry NULL timestamps (clock failures), NULL
  * users (anonymous hits), malformed/NULL JSON props, and zero/negative
  * values. Every events-table operator must materialize without
  * throwing and rerun identically; the genuine sessions around the
  * garbage must still come out.
  */
class DegenerateEventsSpec extends SparkSpecBase {

  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-degev").toString
    def ts(min: Int): Option[Timestamp] =
      Some(Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"))
    val rows: Seq[(Long, Option[Timestamp], Option[Long], Option[String],
        Option[Double], Option[String])] = Seq(
      (0L, ts(0), Some(1L), Some("view"), Some(1.0), Some("""{"k": 3}""")),
      (1L, ts(1), Some(1L), Some("purchase"), Some(0.0), Some("not json")),
      (2L, None, Some(1L), Some("view"), Some(-5.0), Some("""{"k": 1}""")),
      (3L, ts(2), None, Some("signup"), None, None),
      (4L, ts(40), Some(1L), None, Some(2.5), Some("""{"wrong": 1}""")),
      (5L, None, None, None, None, None),
      (6L, ts(3), Some(2L), Some("view"), Some(3.0), Some("""{"k": 9}""")),
      (7L, ts(4), Some(2L), Some("purchase"), Some(4.0), Some("{}")))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  private val eventOps = Seq(
    "e01_windowed_agg", "e02_json_extract", "e03_sessionize",
    "e04_funnel", "e05_gap_fill", "e06_retention", "e07_spike_detect",
    "e08_user_journey", "e09_transition_matrix", "e10_attribution",
    "e11_rfm_segments", "e12_hourly_profile", "e13_variant_extract",
    "e14_active_users", "e15_session_stats", "e16_trending",
    "e17_moving_avg", "e18_cohort_ltv", "e19_streaks", "e20_bot_detect",
    "x11_dp_count", "e21_native_sessions", "e22_conversion_lag",
    "e23_daily_anomaly", "e24_activity_gini", "x17_freshness_audit",
    "e25_funnel_timing", "e26_interarrival", "e27_state_dwell",
    "e28_error_cascade", "e29_stickiness", "e30_lifecycle", "e31_cusum",
    "e32_autocorr", "e33_peak_concurrency", "e34_stationary_step", "e35_bounce_rate")

  test("every events operator materializes and reruns identically on degenerate events") {
    val failures = eventOps.flatMap { name =>
      try {
        val first = run(name, dir).collect().map(_.toString).sorted.toSeq
        val second = run(name, dir).collect().map(_.toString).sorted.toSeq
        if (first == second) None
        else Some(s"$name: rerun differs (${first.size} vs ${second.size} rows)")
      } catch {
        case e: Throwable =>
          Some(s"$name threw: ${e.getClass.getSimpleName} ${e.getMessage}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("genuine sessions still sessionize amid NULL-ts/user garbage") {
    // user 1: a NULL-ts event (sorted NULLS FIRST) forms its own
    // session AND restarts the chain (lag over it is NULL), then
    // 10:00/10:01 share a session and 10:40 opens another past the
    // 30-min gap — 3 sessions over 4 events, deterministically. The
    // load-bearing property: garbage neither crashes the window nor
    // merges the genuine 40-min-apart sessions.
    val sess = run("e03_sessionize", dir).collect()
      .filter(_.getAs[Long]("user_id") == 1L)
    assert(sess.length == 1 && sess.head.getAs[Long]("n_sessions") == 3 &&
      sess.head.getAs[Long]("n_events") == 4, sess.mkString(";"))
  }
}
