package graft.tools

/** Dev utility: measure the candidate-mass guards' steady-state cost by
  * interleaving guard=enforce and guard=off reps of the guarded bucket
  * joins INSIDE one JVM — cross-JVM variance on this host (±30% under
  * drifting load) swamps the per-call delta a two-process comparison
  * tries to read.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/sf5.0 sbt "runMain graft.tools.GuardCostProbe [reps] [opSubstr ...]"
  */
object GuardCostProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val onlyOps = args.drop(1).toSeq
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.functions.{TextOps, VectorOps}
    val docs = graft.Tables.corpus(spark, sfDir)
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val ops: Seq[(String, String, () => Long)] = Seq(
      ("d02_shape", TextOps.PpjoinGuardKey, () =>
        TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5).count()),
      ("d16_shape", TextOps.PpjoinGuardKey, () =>
        TextOps.containmentPairs(docs, "doc_id", "text", 3, 0.8).count()),
      ("d03_shape", TextOps.MinhashGuardKey, () =>
        TextOps.minHashCandidates(docs, "doc_id", "text", 3, 128, 32)
          .count()),
      ("d04_shape", TextOps.SimhashGuardKey, () =>
        TextOps.simHashPairs(
          TextOps.simHash(docs, "doc_id", "text"), "doc_id",
          maxHamming = 11).count()),
      ("s02_shape", VectorOps.LshGuardKey, () =>
        VectorOps.lshCosinePairs(emb, "vec_id", "embedding",
          bits = 8, bands = 32, threshold = 0.4).count()))
    val kept = ops.filter { case (n, _, _) =>
      onlyOps.isEmpty || onlyOps.exists(n.contains) }
    // one untimed warmup per op (codegen/JIT), then interleaved reps:
    // enforce, off, enforce, off ... so load drift hits both arms alike
    kept.foreach { case (_, _, run) => run() }
    for ((name, key, run) <- kept) {
      val t = Array(Seq.newBuilder[Double], Seq.newBuilder[Double])
      for (r <- 1 to reps; (mode, i) <- Seq(("enforce", 0), ("off", 1))) {
        spark.conf.set(key, mode)
        val t0 = System.nanoTime()
        run()
        t(i) += (System.nanoTime() - t0) / 1e9
        val _ = r
      }
      spark.conf.unset(key)
      val on = t(0).result(); val off = t(1).result()
      println(f"[guardcost] $name enforce min=${on.min}%.2f " +
        f"(${on.map(v => f"$v%.2f").mkString(",")}) off min=${off.min}%.2f " +
        f"(${off.map(v => f"$v%.2f").mkString(",")}) " +
        f"delta=${on.min - off.min}%+.2f s")
    }
    spark.stop()
  }
}
