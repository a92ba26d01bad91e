package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Pins append-mode session_window's eviction boundary: a session whose end
  * is EXACTLY the final watermark IS emitted (eviction is end <= watermark).
  * The st5 oracle's `last_us + gap <= max(us)` filter depends on this — if a
  * Spark upgrade flips the boundary to strict, this spec fails first. */
class SessionBoundarySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("session ending exactly at the final watermark is emitted") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    import spark.implicits._
    val in = TestDirs("graft_swb_in")
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType)))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(offsetMs: Long) = new java.sql.Timestamp(t0.getTime + offsetMs)
    val gapMs = 30L * 60 * 1000
    // user 1: one event at t0 → session [t0, t0+gap); corpus max ts = t0+gap
    // (user 2's event) → final watermark = t0+gap == user-1 session end.
    // user 3 at t0-1ms → session end t0+gap-1 < watermark: must emit.
    val rows = Seq((1L, ts(0)), (2L, ts(gapMs)), (3L, ts(-1)))
    val sub = in.resolve("a")
    rows.toDF("user_id", "ts").coalesce(1).write.parquet(sub.toString)
    Files.list(sub).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        Files.move(p, in.resolve("a_" + p.getFileName.toString))
    }
    val stream = spark.readStream.schema(schema).parquet(in.toString)
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"))
    val q = stream.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("swb_probe").start()
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("swb_probe").select("user_id")
      .collect().map(_.getLong(0)).toSet
    assert(emitted.contains(3L), "sanity: strictly-closed session must emit")
    assert(emitted.contains(1L),
      "session with end == final watermark must be emitted (<= eviction); " +
      "if this fails, flip the st5 oracle boundary back to strict <")
    assert(!emitted.contains(2L), "still-open session must stay in state")
  }
}
