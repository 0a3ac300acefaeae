package graft

/** Forked-JVM entry for StreamingSuite's hard-kill w30 variant: builds
  * the media sim org (originals half only) and free-runs the connector
  * media stream — base64 decode + fused pHash into the epoch spool —
  * against the checkpoint under args(0). Never exits on its own — the
  * parent `destroyForcibly`s the process mid-batch, so a spool epoch
  * directory can die half-written with no clean abort. */
object MediaCrashChild {
  def main(args: Array[String]): Unit = {
    val Array(base) = args
    val spark = Session.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.streaming.Streams.mediaCrashChildRun(spark, base)
  }
}
