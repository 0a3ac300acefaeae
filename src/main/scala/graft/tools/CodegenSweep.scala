package graft.tools

/** Codegen-health sweep: run registry queries with
  * `spark.sql.codegen.fallback=false`, so a whole-stage codegen stage
  * that fails to compile (janino's 64 KB method limit on a huge
  * generated processNext) THROWS instead of silently interpreting the
  * stage. Spark's default fallback keeps results correct but quietly
  * abandons codegen for the stage — at cluster scale that is a large,
  * invisible per-row cost (r15 verdict: three compile failures in the
  * pinned-ANN test region, ~10,850-line processNext, tests all green).
  *
  * Usage: sbt "runMain graft.tools.CodegenSweep [queryName ...]"
  *        (no args = the full registry)
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01)
  *
  * Prints one line per query (CODEGEN_OK / CODEGEN_FAIL + cause head)
  * and a final summary line; exits nonzero when anything failed.
  */
object CodegenSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Session.builder()
      // a codegen failure must fail the query, not fall back silently to
      // the interpreted path: that failure is what the sweep looks for
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    var codegenFailed = List.empty[String]
    var queryFailed = List.empty[String]
    names.foreach { name =>
      val outcome = try {
        graft.SparkEntry.queries(name)(spark, sfDir).count()
        "CODEGEN_OK"
      } catch {
        case e: Throwable =>
          val chain = Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null).toSeq
          val cause = chain.last
          // only a janino/compile failure is a CODEGEN finding — a
          // missing dataset or an OOM must not read as a codegen
          // regression (and must not poison a 238/238 claim)
          val isCodegen = chain.exists { t =>
            val cls = t.getClass.getName
            cls.contains("janino") || cls.contains("CompileException") ||
              cls.contains("InternalCompilerException") ||
              Option(t.getMessage).exists(
                _.contains("Failed to compile the generated"))
          }
          if (isCodegen) codegenFailed ::= name else queryFailed ::= name
          s"${if (isCodegen) "CODEGEN_FAIL" else "QUERY_FAIL"} " +
            s"${cause.getClass.getSimpleName}: " +
            Option(cause.getMessage).getOrElse("").linesIterator
              .take(1).mkString.take(140)
      }
      println(s"[codegen] $name $outcome")
    }
    val nOk = names.size - codegenFailed.size - queryFailed.size
    println(s"[codegen] summary: $nOk ok, " +
      s"${codegenFailed.size} codegen-failed${
        if (codegenFailed.isEmpty) ""
        else codegenFailed.reverse.mkString(" (", ", ", ")")}, " +
      s"${queryFailed.size} query-failed (non-codegen)${
        if (queryFailed.isEmpty) ""
        else queryFailed.reverse.mkString(" (", ", ", ")")}")
    spark.stop()
    if (codegenFailed.nonEmpty || queryFailed.nonEmpty) sys.exit(1)
  }
}
