package graft.tools

/** Plan dumps for the PPJoin-family operators in their LAZY
  * (releaseCaches=false) form: the registered d02/d06/d16/p01 queries
  * release their caches via localCheckpoint, so their returned plan is
  * a checkpoint scan — the pipeline's actual physical shape (the
  * candidate join, the dedup placement, the verify joins) is only
  * inspectable through the lazy variant. Both dumps show the one
  * prefix generator, `TextOps.PrefixJoin`: the rarest-first rank window
  * and the probe×index equi-join on the shingle hash, under d02's and
  * d16's own prunes. Mirrors PlanAuditSuite's audit-the-lazy-twin
  * discipline.
  *
  *   sbt "runMain graft.tools.ExplainLazy /root/testdata/sf0.1"
  */
object ExplainLazy {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExplainLazy <sfDir>")
    val sfDir = args.head
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.execution.FormattedMode
    try {
      val docs = graft.Tables.corpus(spark, sfDir)
      println("==== d02_ngram_jaccard_lazy ====")
      println(graft.functions.TextOps
        .ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5,
          releaseCaches = false)
        .queryExecution.explainString(FormattedMode))
      spark.catalog.clearCache()
      println("==== d16_containment_lazy ====")
      println(graft.functions.TextOps
        .containmentPairs(docs, "doc_id", "text", 3, 0.8,
          releaseCaches = false)
        .queryExecution.explainString(FormattedMode))
      spark.catalog.clearCache()
    } finally spark.stop()
  }
}
