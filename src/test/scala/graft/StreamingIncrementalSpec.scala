package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** True incremental streaming semantics (beyond the AvailableNow gate query):
  * windows update across micro-batches, late data within the watermark still
  * lands, and the watermark bounds state.
  */
class StreamingIncrementalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowed counts accumulate across micro-batches, late-but-in-watermark rows count") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(18, 6))).as("tv"))
      .select(col("w.start").cast("long").as("ws"), col("event_type"), col("n"), col("tv").cast("double"))

    val q = events.writeStream.format("memory").queryName("graft_inc_test")
      .outputMode("complete").start()
    try {
      input.addData((ts(1), "click", 1.0), (ts(2), "click", 2.0), (ts(11), "view", 3.0))
      q.processAllAvailable()
      val r1 = spark.table("graft_inc_test").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(r1.values.sum == 3)

      // second batch: one more row in the FIRST window (late, within
      // watermark) and one in a new window
      input.addData((ts(3), "click", 4.0), (ts(25), "click", 5.0))
      q.processAllAvailable()
      val r2 = spark.table("graft_inc_test").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      val w0 = ts(0).getTime / 1000
      assert(r2((w0, "click"))._1 == 3)          // 10:01, 10:02 + late 10:03
      assert(r2((w0, "click"))._2 == 7.0)        // 1 + 2 + 4, decimal-exact
      assert(r2((w0 + 1200, "click"))._1 == 1)   // 10:25 window [10:20,10:30)
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS graft_inc_test")
    }
  }
}
