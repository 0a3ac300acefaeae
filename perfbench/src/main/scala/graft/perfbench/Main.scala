package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Benchmark entry: sets one workload up, warms it with the workload's
  * fixed number of untimed passes, then runs passes for `--seconds` and
  * prints one JSON result line last. With `--trace 0` the result carries the end-to-end
  * metrics; with `--trace 1` traced and untraced passes alternate and
  * the result carries the per-layer metrics (medians over the traced
  * passes) plus the tracing overhead.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *   --spans FILE --cpus C */
object Main {
  /** Set-up is staged this many times; `setup_s` takes the median. */
  val SetupRepeats = 3
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cpus = opts("cpus").toInt

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // epoch-ms listener timestamps → this JVM's nanoTime clock
    val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val spark = session(cpus, work)
    val layer = if (traced) Some(SparkLayer.install(spark, clockOffsetNs)) else None
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val w = Workload(workload, spark, seed, traced)
    val stageS = (0 until SetupRepeats).map { i =>
      val dir = work.resolve(s"stage$i")
      val t0 = System.nanoTime()
      w.stage(dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (i + 1 < SetupRepeats) Workload.deleteTree(dir)
      s
    }
    val setupS = sessionS + Trace.median(stageS)
    log(f"setup: session ${sessionS}%.2f s, staging ${stageS.map(s => f"$s%.2f").mkString(", ")} s")

    var attempted = 0L
    var failed = 0L
    var resets = Vector.empty[Double]
    def runPass(trace: Boolean): (Double, Map[String, Double]) = {
      val r0 = System.nanoTime()
      w.reset()
      resets :+= (System.nanoTime() - r0) / 1e9
      layer.foreach(_.drain(spark))
      w.drainCounters()
      Trace.drain(); Trace.drainCounters()
      val jit0 = jitMs(); val gc0 = gcMs(); val cg0 = codegenNs()
      Trace.on = trace
      val t0 = System.nanoTime()
      w.pass()
      val t1 = System.nanoTime()
      Trace.on = false
      val jitPass = jitMs() - jit0
      val jvm = Map("jvm.jit_cpu_s" -> jitPass / 1000.0, "jvm.gc_pause_s" -> (gcMs() - gc0) / 1000.0,
        "spark.codegen_compile_s" -> (codegenNs() - cg0) / 1e9)
      val c = w.check()
      attempted += c.attempted
      failed += c.failed
      c.problems.take(5).foreach(p => log(s"CHECK FAILED: $p"))
      val wall = (t1 - t0) / 1e9
      val layers =
        if (!trace) Map.empty[String, Double]
        else {
          val (sparkTotals, jobSpans) = layer.get.drain(spark)
          Metrics.perPass(t0, t1, Trace.drain() ++ jobSpans, Trace.drainCounters(), sparkTotals,
            w.drainCounters(), w.migratedRows) ++ jvm
        }
      log(f"pass ${if (trace) "traced" else "plain"}%-6s ${wall}%.3f s  checks ${c.attempted - c.failed}/${c.attempted}" +
        s"  jit ${jitPass} ms  classes ${ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount}")
      (wall, layers)
    }

    // warm up for a fixed number of passes per workload: pass time keeps
    // falling while the JIT compiles, and a count (unlike a time or a
    // settling rule) warms a slow host as far as a fast one
    val warm = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (warm.size < w.warmups) warm += runPass(trace = false)._1

    val plain = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedPasses = scala.collection.mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    val m0 = System.nanoTime()
    def enough = (System.nanoTime() - m0) / 1e9 >= seconds &&
      plain.size >= (if (traced) 2 else MinPasses) && (!traced || tracedPasses.size >= 2)
    while (!enough) {
      if (traced && tracedPasses.size <= plain.size) tracedPasses += runPass(trace = true)
      else plain += runPass(trace = false)._1
    }
    val passS = Trace.median(plain.toSeq)

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        Seq(("setup_s", setupS, "s"), ("rows_per_s", w.inputRows / passS, "1/s"),
          ("live_heap_mb", liveHeapMb(), "MB"))
      } else {
        val tracedS = Trace.median(tracedPasses.map(_._1).toSeq)
        val run = Map(
          "engine.reset_s" -> Trace.median(resets),
          "jvm.cold_pass_ratio" -> warm.head / passS,
          "trace.pass_s" -> tracedS,
          "trace.untraced_pass_s" -> passS,
          "trace.overhead_ratio" -> (tracedS - passS) / passS) ++
          Metrics.writeLatencies(Trace.all)
        val perPass = tracedPasses.map(_._2).toSeq
        Metrics.PerLayer.map { case (name, unit) =>
          val v = run.getOrElse(name, Trace.median(perPass.map(_.getOrElse(name, 0.0))))
          (name, v, unit)
        }
      }
    writeSpans(Paths.get(opts("spans")))
    spark.stop()

    log(s"$workload: input ${w.inputDescription} (${w.inputRows} rows); " +
      s"${warm.size} warm-up passes, ${plain.size} measured passes" +
      (if (traced) s", ${tracedPasses.size} traced passes" else ""))
    metrics.foreach { case (n, v, u) => log(f"  $n%-36s $v%.6g $u") }
    log(s"  attempted $attempted, failed $failed, failed_ratio ${failed.toDouble / math.max(1L, attempted)}")
    val result = JObject(
      "correct" -> JBool(failed == 0),
      "attempted" -> JLong(attempted),
      "failed" -> JLong(failed),
      "metrics" -> JObject(metrics.map { case (n, v, u) =>
        n -> JObject("value" -> JDouble(v), "unit" -> JString(u))
      }.toList))
    println(JsonMethods.compact(JsonMethods.render(result)))
    System.exit(if (failed == 0) 0 else 1)
  }

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def session(cpus: Int, work: Path): SparkSession = {
    Files.createDirectories(work)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def codegenNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Used heap after full collections: the least of five rounds, so
    * that blocks the context cleaner frees after a collection (broadcast
    * and shuffle state of dropped plans) are gone from the sample. */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed
    }.min / 1048576.0
  }

  private def writeSpans(path: Path): Unit = {
    val spans = Trace.all
    if (spans.nonEmpty) {
      Files.createDirectories(path.getParent)
      val w = Files.newBufferedWriter(path)
      try spans.foreach { s =>
        w.write(s"""{"layer":"${s.layer}","name":"${s.name}","thread":${s.thread},"start_ns":${s.start},"end_ns":${s.end}}""")
        w.newLine()
      } finally w.close()
    }
  }
}
