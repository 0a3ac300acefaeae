package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // run queries concurrently (Spark schedules the jobs fairly) — the
    // registry is ~50 queries and serial execution wastes most of the
    // cluster between jobs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val failed = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        scala.concurrent.Future {
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            failed.put(name, Option(e.getMessage).getOrElse(e.toString))
          }
        }
      }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a filtered run writes only the oracles of the queries it ran, so
    // check.py over its outDir can read 0 fail
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failed queries are silently ABSENT from the correctness artifact
    // (no parquet dir → driver skips them); dump an explicit error map so
    // a broken loader reads as N loud failures, not N missing rows.
    import scala.jdk.CollectionConverters._
    val errJson = failed.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (!failed.isEmpty) {
      System.err.println(
        s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: " +
          failed.keySet.asScala.toSeq.sorted.mkString(", "))
    }
    // exit 0 even on per-query failure: the driver must still compare the
    // queries that DID run; verify_errors.json + stderr carry the failures.
    // CI that wants "ran with errors" distinguishable from "all ran" can
    // opt into a distinct code without changing the driver contract.
    spark.stop()
    if (!failed.isEmpty && sys.env.get("SPARK_GRAFT_VERIFY_STRICT").contains("1"))
      sys.exit(3)
  }
}
