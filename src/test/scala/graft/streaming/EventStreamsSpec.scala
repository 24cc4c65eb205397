package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.sql.Timestamp

/** [[EventStreams.schemaOverTime]] driven as a MemoryStream query:
  * watermark-closed windows each emit their rendered schema. */
class EventStreamsSpec extends SparkTestBase {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("streaming schema inference renders per-window schemas and surfaces drift") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val events = mem.toDF().toDF("ts", "props")
    val q = EventStreams.schemaOverTime(events,
        window_ = "10 minutes", lateness = "5 minutes")
      .writeStream.format("memory").queryName("schema_stream")
      .outputMode("append").start()
    // window [10:00,10:10): flat int props; window [10:10,10:20): a
    // producer deploys a new string field mid-stream
    mem.addData((ts(1), """{"k": 1}"""), (ts(2), """{"k": 120}"""))
    mem.addData((ts(11), """{"k": 2, "note": "x"}"""))
    q.processAllAvailable()
    // advance the watermark far past both windows so they close
    mem.addData((ts(40), """{"k": 3}"""))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("schema_stream").collect()
      .map(r => r.getAs[Timestamp]("window_start").toString ->
        (r.getAs[Long]("n_events"), r.getAs[String]("schema_flat"))).toMap
    assert(rows("2024-01-01 10:00:00.0") == (2L, "root.k: tinyint\n"))
    // the drift window reports BOTH fields — visible the moment the
    // window closes, not at the next batch inventory
    assert(rows("2024-01-01 10:10:00.0") ==
      (1L, "root.k: tinyint\nroot.note: string\n"))
  }
}
