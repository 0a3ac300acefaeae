package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end streaming smoke: incremental parquet source → event-time
  * tumbling windows → memory sink, compared against the batch answer.
  * Usage: runMain graft.streaming.StreamSmoke [sfDir]
  */
object StreamSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.builder()
      // the smoke converts the events' nanosecond ts itself (the ts div
      // 1000 below), so it reads the raw TIMESTAMP(NANOS) column as a long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val raw = Streams.eventStream(spark, s"$sfDir/events.parquet")
    val ev = raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val agg = Streams.tumblingCounts(ev, "ts", "1 hour", "1 hour")
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("tw").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(300000)

    val streamed = spark.table("tw").agg(sum("n")).collect()(0).getLong(0)
    val batch = graft.Tables(spark, sfDir, "events").count()
    println(s"""{"stream_windows":${spark.table("tw").count()},""" +
      s""""stream_events":$streamed,"batch_events":$batch,""" +
      s""""match":${streamed == batch}}""")
    spark.stop()
  }
}
