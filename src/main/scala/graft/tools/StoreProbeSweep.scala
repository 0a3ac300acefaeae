package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SCALING.md measurement: the signature store's pitch is probe cost
  * ∝ DELTA, not corpus — prove it by holding the corpus (and its
  * store) constant and sweeping the delta fraction.
  *
  * Usage: sbt "runMain graft.tools.StoreProbeSweep [sfDir]"
  * Env: SPARK_GRAFT_SHUFFLE_PARTS (default cpus), SPARK_GRAFT_REPS
  * (default 2 — rep 1 includes JIT; record rep 2).
  *
  * The delta is a hash-uniform slice of the corpus itself: every delta
  * doc has at least its own twin in the store, so candidate volume and
  * the verification sliver scale with the delta — the worst realistic
  * probe load per delta doc, not a vacuously-unmatched sweep. */
object StoreProbeSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1.0")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text")
    val corpusN = docs.count()
    val store = java.nio.file.Files
      .createTempDirectory("probe_sweep_store_").toString
    val t0 = System.nanoTime()
    graft.functions.TextOps.buildSignatureStore(docs, "doc_id", "text",
      store, n = 3, numHashes = 128, bands = 32)
    println(f"[sweep] corpus=$corpusN docs, store build " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s (paid once, amortized)")
    for (pct <- Seq(1, 10, 50)) {
      val delta = docs.where(pmod(xxhash64(col("doc_id")), lit(100)) < pct)
      val dN = delta.count()
      (1 to reps).foreach { r =>
        val t = System.nanoTime()
        val pairs = graft.functions.TextOps
          .incrementalJaccardPairsFromStore(delta, docs, "doc_id", "text",
            store, n = 3, numHashes = 128, bands = 32, threshold = 0.5)
          .count()
        println(f"[sweep] delta=$pct%2d%% ($dN docs) rep$r: " +
          f"${(System.nanoTime() - t) / 1e9}%.3f s ($pairs pairs)")
      }
      // the amortization contrast: compute-in-place re-sketches the
      // WHOLE corpus per probe — the cost the store removes
      if (sys.env.contains("SPARK_GRAFT_SWEEP_INPLACE")) {
        val t = System.nanoTime()
        val pairs = graft.functions.TextOps
          .incrementalJaccardPairs(delta, docs, "doc_id", "text",
            n = 3, numHashes = 128, bands = 32, threshold = 0.5)
          .count()
        println(f"[sweep] delta=$pct%2d%% IN-PLACE: " +
          f"${(System.nanoTime() - t) / 1e9}%.3f s ($pairs pairs)")
      }
    }
    if (sys.env.contains("SPARK_GRAFT_SWEEP_FALLBACK"))
      fallbackShuffleSweep(spark, docs)
    spark.stop()
  }

  /** SCALING.md measurement (r14 verdict prescription 1): the
    * above-gate fallback's shuffle volume against the LOOSE store
    * (both sides exchange) vs the BUCKETED store (storage-partitioned
    * join: only the delta exchanges). Shuffle write bytes are summed
    * from stage-completion events. The listener bus is async, so
    * (ADVICE r15) the listener registers ONCE for the whole sweep and
    * every measurement quiesces TWICE: before resetting the counter
    * (so a straggler stage event from the previous rep lands in the
    * previous label, never the next) and before reading it — with the
    * settle gated on job COMPLETION (tracked via job start/end events)
    * and counter stability together, so a >settle-period inter-stage
    * gap inside a still-running job cannot exit the loop early. */
  private def fallbackShuffleSweep(spark: SparkSession,
      docs: org.apache.spark.sql.DataFrame): Unit = {
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val activeJobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        activeJobs.incrementAndGet()
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        // a job started before registration may end after it
        activeJobs.updateAndGet(n => math.max(0, n - 1))
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(
          e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    def quiesce(): Unit = {
      // deadline (code-review finding): the async bus can DROP events
      // under overflow — a lost JobEnd would pin activeJobs > 0 and a
      // deadline-less loop would hang the sweep; after the budget the
      // measurement proceeds with a warning (numbers possibly smeared)
      val deadline = System.currentTimeMillis() + 120_000
      var prev = -1L
      while ((activeJobs.get() > 0 || shuffleBytes.get() != prev) &&
          System.currentTimeMillis() < deadline) {
        prev = shuffleBytes.get(); Thread.sleep(200)
      }
      if (activeJobs.get() > 0)
        System.err.println("[fallback] WARN: quiesce timed out with " +
          s"${activeJobs.get()} job(s) apparently active (listener bus " +
          "may have dropped events) — measurements may be smeared")
    }
    def measure(label: String)(body: => Long): Unit = {
      quiesce() // previous rep's stragglers land BEFORE the reset
      shuffleBytes.set(0L)
      val t = System.nanoTime()
      val out = body
      quiesce() // jobs done AND counter settled
      println(f"[fallback] $label: ${(System.nanoTime() - t) / 1e9}%.3f s, " +
        f"shuffle ${shuffleBytes.get() / 1048576.0}%.1f MiB ($out pairs)")
    }
    // at test scale AQE would quietly BROADCAST the loose store side
    // (it fits the 10 MB default), masking the exchange this sweep
    // exists to measure — disable auto-broadcast so the loose shape is
    // what it would be at 100 TB: a genuine two-sided shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val delta = docs.where(pmod(xxhash64(col("doc_id")), lit(100)) < 10)
    val store = java.nio.file.Files
      .createTempDirectory("fallback_sweep_store_").toString
    graft.functions.TextOps.buildSignatureStore(docs, "doc_id", "text",
      store, n = 3, numHashes = 128, bands = 32)
    def probe(): Long = {
      graft.functions.TextOps
        .incrementalJaccardPairsFromStore(delta, docs, "doc_id", "text",
          store, n = 3, numHashes = 128, bands = 32, threshold = 0.5,
          broadcastKeyLimit = 0L) // force the above-gate fallback
        .count()
    }
    probe() // warmup: JIT + codegen off the measured reps
    measure("loose store (pre-bucketing)")(probe())
    measure("compaction (paid once)") {
      graft.functions.TextOps.compactSignatureStore(spark, store,
        numBuckets = 64); 0L
    }
    measure("bucketed store (storage-partitioned)")(probe())
    spark.sparkContext.removeSparkListener(listener)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
  }
}
