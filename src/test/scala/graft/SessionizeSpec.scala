package graft

import org.apache.spark.sql.functions._

import graft.streaming.Sessionize

object SessionizeSpec {
  case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
}

class SessionizeSpec extends SparkTestBase {
  import spark.implicits._
  import SessionizeSpec.Event

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  // user 1: two sessions (45-min gap); user 2: one session
  private val fixture = Seq(
    Event(1L, ts("2026-01-01 10:00:00"), 1.0),
    Event(1L, ts("2026-01-01 10:10:00"), 2.0),
    Event(1L, ts("2026-01-01 10:55:00"), 4.0), // 45 min after -> new session
    Event(2L, ts("2026-01-01 09:00:00"), 8.0),
    Event(2L, ts("2026-01-01 09:29:00"), 16.0)) // 29 min -> same session

  test("batch sessionization: gap splits, totals, bounds") {
    val got = Sessionize.sessionsBatch(fixture.toDF())
      .orderBy("user_id", "session_no")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_no"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
    assert(got.toSeq === Seq((1L, 1L, 2L, 3.0), (1L, 2L, 1L, 4.0), (2L, 1L, 2L, 24.0)))
  }

  test("batch sessionization over testdata events conserves event count") {
    val ev = graft.core.Tables.eventsTs(spark, sf())
    val sessions = Sessionize.sessionsBatch(ev)
    assert(sessions.agg(sum("n_events")).first().getLong(0) === ev.count())
    assert(sessions.count() > 0)
  }
}
