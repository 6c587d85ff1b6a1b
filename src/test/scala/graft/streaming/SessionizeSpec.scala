package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Gap-based sessions via `session_window` (the q21 path). */
class SessionizeSpec extends SparkSpec {
  import testImplicits._

  test("batch sessions: session_window splits on gap > 30 minutes, end = last + gap") {
    val df = Seq(
      ("2024-03-15 12:00:00", 1L, 1.0),
      ("2024-03-15 12:20:00", 1L, 2.0),  // within gap: same session
      ("2024-03-15 13:30:00", 1L, 4.0),  // 70 min gap: new session
      ("2024-03-15 12:00:00", 2L, 8.0))
      .toDF("ts_s", "user_id", "value")
      .select(to_timestamp(col("ts_s")).as("ts"), col("user_id"), col("value"))
    val out = Sessionize.sessions(df, "ts", "user_id", "value")
      .orderBy("user_id", "session_start_us").collect()
    assert(out.length == 3)
    val s1 = out(0) // user 1 session 1: [12:00, 12:20 + 30min)
    assert(s1.getLong(0) == 1L)
    assert(s1.getLong(2) - s1.getLong(1) == 50L * 60 * 1000000) // 20min span + 30min gap
    assert(s1.getLong(3) == 2 && s1.getDouble(4) == 3.0)
    assert(out(1).getLong(3) == 1 && out(1).getDouble(4) == 4.0)
    assert(out(2).getLong(0) == 2L)
  }
}
