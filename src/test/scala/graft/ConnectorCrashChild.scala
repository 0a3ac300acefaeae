package graft

/** Forked-JVM entry for StreamingSuite's hard-kill w22 variant: builds
  * the sim org (h1 half only) and free-runs the connector stream
  * against the checkpoint/sink under args(1). Never exits on its own —
  * the parent `destroyForcibly`s the process mid-batch, so no stream
  * machinery gets the chance to abort or commit cleanly. */
object ConnectorCrashChild {
  def main(args: Array[String]): Unit = {
    val Array(customerPath, base) = args
    val spark = Session.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.streaming.Streams.connectorCrashChildRun(spark, customerPath, base)
  }
}
