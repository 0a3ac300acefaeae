package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** End-to-end streaming smoke: incremental parquet source → event-time
  * tumbling windows → memory sink, compared against the batch answer.
  * Usage: runMain graft.streaming.StreamSmoke [sfDir]
  */
object StreamSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.builder()
      // a TIMESTAMP(NANOS) events ts reads as a long, which retagTs
      // below truncates to micros (a TIMESTAMP_NTZ ts is re-tagged)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ev = Streams.retagTs(
      Streams.eventStream(spark, s"$sfDir/events.parquet"))
    val agg = Streams.tumblingCounts(ev, "ts", "1 hour", "1 hour")
    val windows = Streams.toMemory(agg, "smoke", OutputMode.Complete)

    val streamed = windows.agg(sum("n")).collect()(0).getLong(0)
    val batch = graft.Tables(spark, sfDir, "events").count()
    println(s"""{"stream_windows":${windows.count()},""" +
      s""""stream_events":$streamed,"batch_events":$batch,""" +
      s""""match":${streamed == batch}}""")
    spark.stop()
  }
}
