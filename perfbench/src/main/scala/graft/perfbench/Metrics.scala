package graft.perfbench

/** The per-layer metrics of the traced run and how one pass's spans and
  * counters turn into them. Every workload reports every metric; a layer
  * the workload does not use reads 0. */
object Metrics {
  val Queries: Seq[String] = Seq("d03_minhash_lsh", "d06_dup_clusters", "t09_repetition",
    "q03_top_customers")

  /** Blocking-path layers, deepest first; the remainder is time the
    * calling thread spends alone (planning, orchestration, results). */
  private val PathLayers = Seq(Trace.Remote, Trace.Wire, Trace.Client, "spark")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.requests" -> "count",
    "sources.requests.describe" -> "count",
    "sources.requests.create" -> "count",
    "sources.requests.batch" -> "count",
    "sources.requests.close" -> "count",
    "sources.requests.poll" -> "count",
    "sources.requests.result" -> "count",
    "sources.api_calls_per_krow" -> "1/krow",
    "sources.write_calls" -> "count",
    "sources.write_fill" -> "ratio",
    "sources.poll_ticks" -> "count",
    "sources.poll_wait_s" -> "s",
    "sources.bytes_in" -> "bytes",
    "sources.bytes_out" -> "bytes",
    "sources.bytes_per_row" -> "bytes",
    "sources.read_amp" -> "ratio",
    "sources.scan_partitions" -> "count",
    "sources.client_self_s" -> "s",
    "sources.write_call_p50_ms" -> "ms",
    "sources.write_call_p99_ms" -> "ms",
    "remote.busy_s" -> "s",
    "remote.query_s" -> "s",
    "remote.write_s" -> "s",
    "remote.rows_scanned" -> "count",
    "remote.wire_s" -> "s",
    "engine.read_s" -> "s",
    "engine.insert_s" -> "s",
    "engine.update_s" -> "s",
    "engine.rows_inserted" -> "count",
    "engine.rows_written_back" -> "count",
    "engine.reset_s" -> "s",
    "compile.plan_s" -> "s",
    "compile.soql_statements" -> "count",
    "compile.soql_chars" -> "count") ++
    Queries.flatMap(q => Seq(s"queries.${q}_s" -> "s", s"queries.$q.executor_cpu_s" -> "s")) ++ Seq(
    "functions.guard_trips" -> "count",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.executor_cpu_s" -> "s",
    "spark.executor_run_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.scheduler_delay_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.input_rows" -> "count",
    "spark.output_bytes" -> "bytes",
    "spark.codegen_compile_s" -> "s",
    "jvm.jit_cpu_s" -> "s",
    "jvm.gc_pause_s" -> "s",
    "jvm.cold_pass_ratio" -> "ratio",
    "path.remote_s" -> "s",
    "path.wire_s" -> "s",
    "path.client_s" -> "s",
    "path.spark_s" -> "s",
    "path.caller_s" -> "s",
    "trace.pass_s" -> "s",
    "trace.untraced_pass_s" -> "s",
    "trace.overhead_ratio" -> "ratio")

  /** One traced pass `[t0, t1)`: spans (all layers, job spans
    * included), the wrappers' counters, the Spark listener totals and
    * the workload's own counters. */
  def perPass(t0: Long, t1: Long, spans: Seq[Trace.Span], counters: Map[String, Long],
      spark: Map[String, Long], workload: Map[String, Double], migrated: Long): Map[String, Double] = {
    def dur(layer: String, name: String = null): Double =
      spans.iterator.filter(s => s.layer == layer && (name == null || s.name == name)).map(_.dur).sum / 1e9
    def n(layer: String, name: String): Double =
      spans.count(s => s.layer == layer && s.name == name).toDouble
    def c(k: String): Double = counters.getOrElse(k, 0L).toDouble
    def sp(k: String): Double = spark.getOrElse(k, 0L).toDouble
    def w(k: String): Double = workload.getOrElse(k, 0.0)
    def perRow(x: Double): Double = if (migrated > 0) x / migrated else 0.0

    val writeCalls = n(Trace.Client, "write")
    val path = Trace.blockingPath(
      PathLayers.map(l => l -> spans.filter(_.layer == l).map(s => (s.start, s.end))), t0, t1, "caller")

    val base = workload ++ Map(
      "sources.api_calls_per_krow" -> perRow(w("sources.requests") * 1000),
      "sources.write_calls" -> writeCalls,
      "sources.write_fill" -> (if (writeCalls > 0) c("client.write_rows") / writeCalls / 200 else 0.0),
      "sources.bytes_per_row" -> perRow(w("sources.bytes_in") + w("sources.bytes_out")),
      "sources.read_amp" -> perRow(w("sources.rows_returned")),
      "sources.scan_partitions" -> n(Trace.Client, "query"),
      "sources.client_self_s" -> (dur(Trace.Client) + c("client.iterate_ns") / 1e9 - dur(Trace.Wire)),
      "remote.busy_s" -> dur(Trace.Remote),
      "remote.query_s" -> dur(Trace.Remote, "query"),
      "remote.write_s" -> dur(Trace.Remote, "write"),
      "remote.wire_s" -> (dur(Trace.Wire) - dur(Trace.Remote)),
      "engine.read_s" -> dur(Trace.Engine, "read"),
      "engine.insert_s" -> dur(Trace.Engine, "insert"),
      "engine.update_s" -> dur(Trace.Engine, "update"),
      "engine.rows_inserted" -> c("engine.rows_inserted"),
      "engine.rows_written_back" -> c("engine.rows_written_back"),
      "compile.plan_s" -> (dur(Trace.Engine, "compile") + sp("compile.plan_ms") / 1000),
      "spark.jobs" -> sp("spark.jobs"),
      "spark.stages" -> sp("spark.stages"),
      "spark.tasks" -> sp("spark.tasks"),
      "spark.executor_cpu_s" -> sp("spark.executor_cpu_ns") / 1e9,
      "spark.executor_run_s" -> sp("spark.executor_run_ms") / 1000,
      "spark.gc_s" -> sp("spark.gc_ms") / 1000,
      "spark.scheduler_delay_s" -> sp("spark.scheduler_delay_ms") / 1000,
      "spark.shuffle_read_bytes" -> sp("spark.shuffle_read_bytes"),
      "spark.shuffle_write_bytes" -> sp("spark.shuffle_write_bytes"),
      "spark.spill_bytes" -> sp("spark.spill_bytes"),
      "spark.input_rows" -> sp("spark.input_rows"),
      "spark.output_bytes" -> sp("spark.output_bytes")) ++
      path.map { case (l, ns) => s"path.${l}_s" -> ns / 1e9 }
    base ++ Queries.flatMap { q =>
      Seq(s"queries.${q}_s" -> dur(Trace.Query, q),
        s"queries.$q.executor_cpu_s" -> sp(s"scope.$q.executor_cpu_ns") / 1e9)
    }
  }

  /** p50/p99 of the wire client's write calls, pooled over every traced
    * pass (a pass alone has too few calls for a p99). */
  def writeLatencies(spans: Seq[Trace.Span]): Map[String, Double] = {
    val ms = spans.filter(s => s.layer == Trace.Client && s.name == "write").map(_.dur / 1e6)
    if (ms.isEmpty) Map("sources.write_call_p50_ms" -> 0.0, "sources.write_call_p99_ms" -> 0.0)
    else Map("sources.write_call_p50_ms" -> Trace.percentile(ms, 50),
      "sources.write_call_p99_ms" -> Trace.percentile(ms, 99))
  }
}
