package graft.tools

/** Plan-inspection entry point: prints the formatted physical plan (the
  * `.explain("formatted")` view — scans with PushedFilters/ReadSchema,
  * exchanges, codegen spans) for one or more registry queries without
  * executing them. The iteration loop for 100 TB plan work:
  *
  *   sbt "runMain graft.tools.Explain /root/testdata/sf0.001 q03_top_customers d02_ngram_jaccard"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <queryName> [more...]")
    val sfDir = args.head
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try args.tail.foreach { name =>
      val run = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name (see SparkEntry.registry)"))
      println(s"==== $name ====")
      println(run(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    } finally spark.stop()
  }
}
