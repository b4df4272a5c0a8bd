package graft.llm

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Session/tumbling window semantics on a controlled events table. */
class EventWindowsSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private lazy val dir: String = {
    import spark.implicits._
    // user 1: two sessions (gap > 30 min between 10:40 and 11:30);
    // user 2: one session.
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 10:20:00"), 1L, "click", 2.0, "{}"),
      (3L, ts("2024-01-01 10:40:00"), 1L, "view", 3.0, "{}"),
      (4L, ts("2024-01-01 11:30:00"), 1L, "click", 4.0, "{}"),
      (5L, ts("2024-01-01 09:59:00"), 2L, "view", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = Files.createTempDirectory("ev-spec").toString
    events.write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("session windows: end = last event + gap; gap splits sessions") {
    import spark.implicits._
    val out = SparkEntry.queries("ev_session")(spark, dir)
      .orderBy($"user_id", $"s_start")
      .select($"user_id", $"s_start", $"s_end", $"n_events")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSeq
    assert(out == Seq(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:10:00"), 3L),
      (1L, ts("2024-01-01 11:30:00"), ts("2024-01-01 12:00:00"), 1L),
      (2L, ts("2024-01-01 09:59:00"), ts("2024-01-01 10:29:00"), 1L)))
  }

  test("tumbling windows are epoch-aligned hours") {
    import spark.implicits._
    val out = SparkEntry.queries("ev_tumbling")(spark, dir)
      .orderBy($"w_start", $"event_type")
      .select($"w_start", $"event_type", $"n").as[(Timestamp, String, Long)]
      .collect().toSeq
    assert(out == Seq(
      (ts("2024-01-01 09:00:00"), "view", 1L),
      (ts("2024-01-01 10:00:00"), "click", 2L),
      (ts("2024-01-01 10:00:00"), "view", 1L),
      (ts("2024-01-01 11:00:00"), "click", 1L)))
  }

  test("sliding windows put each event in duration/slide = 4 windows") {
    import spark.implicits._
    val n = SparkEntry.queries("ev_sliding")(spark, dir)
      .agg(sum($"n")).head().getLong(0)
    assert(n == 5 * 4)
  }

  test("lateness audit: buckets partition the events; in-order bucket has max 0") {
    import spark.implicits._
    val out = SparkEntry.queries("ev_lateness_audit")(spark, dir)
      .select($"bucket", $"n", $"max_late_us")
      .as[(String, Long, Long)].collect()
    val total = graft.Tables.load(spark, dir, "events").count()
    // conservation: every event lands in exactly one bucket
    assert(out.map(_._2).sum == total)
    assert(out.map(_._1).distinct.length == out.length)
    out.foreach { case (b, _, mx) =>
      if (b == "0_inorder") assert(mx == 0L, s"in-order bucket max $mx")
      else assert(mx > 0L, s"bucket $b with zero max lateness")
    }
  }
}
