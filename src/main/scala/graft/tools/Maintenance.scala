package graft.tools

/** ONE documented maintenance entry point (r17 verdict item 8): the
  * scheduled-job face of the engine's parameter-free housekeeping,
  * folding what previously lived as two separate faces —
  *
  *   - the signature-store CATALOG sweep
  *     ([[graft.functions.TextOps.sweepSignatureStoreCatalog]], also
  *     runnable standalone via [[SigstoreSweep]]): drops md5-named
  *     registrations whose backing directory was deleted out-of-band;
  *   - media hash-spool COMPACTION
  *     ([[graft.streaming.Streams.compactMediaSpool]]) for every spool
  *     directory passed as an argument: folds the per-micro-batch
  *     `epoch=N` dirs (and the `_undecoded` dead-letter level) into one
  *     consolidated negative epoch, crash-safe by staged rename.
  *
  * Operations needing caller parameters (signature-store compaction /
  * retraction, ANN index compaction) stay API-level under
  * `withMaintenanceLease` — they are data-shape decisions, not hygiene.
  *
  * Discipline: ONE maintenance runner at a time, and compact a spool
  * only while its ingest stream is STOPPED after a drain (the
  * single-maintenance-writer stance the stores enforce by lease; the
  * spool's epoch-overwrite idempotence covers the crash windows).
  *
  * Usage: sbt "runMain graft.tools.Maintenance [spoolDir ...]"
  * Env: SPARK_GRAFT_SIGSTORE_DB (optional database override)
  */
object Maintenance {
  def main(args: Array[String]): Unit = {
    val builder = graft.Session.builder()
    // the catalog sweep must look in the database the stores were
    // registered under, when that is not the default one
    sys.env.get("SPARK_GRAFT_SIGSTORE_DB").foreach(db =>
      builder.config("spark.graft.sigstore.database", db))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dropped = graft.functions.TextOps.sweepSignatureStoreCatalog(spark)
    dropped.foreach(t => println(s"[maintenance] sigstore: dropped $t"))
    println(s"[maintenance] sigstore: ${dropped.size} dangling " +
      "registration(s) dropped")
    args.foreach { spool =>
      graft.streaming.Streams.compactMediaSpool(spark, spool)
      println(s"[maintenance] spool: compacted $spool")
    }
    spark.stop()
  }
}
