package graft.tools

import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Dev utility: stage-level timing of the d02 PPJoin pipeline. */
object ProfileD02 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val docs = graft.Tables.corpus(spark, sfDir)
    t("total cold") {
      val sh = t("hashedShingleSets localCheckpoint") {
        TextOps.hashedShingleSets(docs, "doc_id", "text", 3).localCheckpoint()
      }
      val cands = t("prefixCandidates") {
        val c = TextOps.prefixCandidates(sh, 0.5); println(c.count()); c
      }
      t("verify") {
        println(TextOps.verifyJaccard(sh, cands, 0.5).count())
      }
    }
    spark.stop()
  }
}
