package graft.tools

/** Dev utility: time individual registry queries in isolation.
  *
  * Usage: sbt "runMain graft.tools.TimeOne d06_dup_clusters [more...]"
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_REPS (default 2 — prints each rep; first includes JIT),
  *      SPARK_GRAFT_SHUFFLE_PARTS (default cpus — scale proportionally
  *      with data for above-sf0.1 runs, the SCALING.md round-9 lesson).
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass query names")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables(spark, sfDir, "lineitem").count() // warm parquet/JIT paths
    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to reps).foreach { r =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"[timeone] $name rep$r: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
      }
    }
    spark.stop()
  }
}
