package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming surface — the incremental counterpart of the
  * batch engine (SURVEY.md §2.9): the reference's cursor micro-batching
  * (`queryMore` loops, data_connector.py:62-66) and job polling
  * (data_connector.py:313-325) map onto micro-batch sources and
  * triggers; its "extract → transform → load" pipeline becomes
  * `foreachBatch` over the same compiled mapping program.
  *
  * Everything is event-time based with explicit watermarks so state
  * stores stay bounded on unbounded streams — the property that matters
  * at production scale (the reference instead accumulates everything in
  * driver memory).
  */
object Streams {

  /** Incremental scan over a parquet path with the schema taken from a
    * batch read (streaming sources cannot infer). Accepts a directory or
    * a single file — the file-stream source demands a directory-valued
    * basePath, so for a file path the parent is supplied explicitly. */
  def eventStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = spark.read.parquet(path).schema
    val reader0 = spark.readStream.schema(schema)
    // AvailableNow honors maxFilesPerTrigger: setting it splits a
    // multi-file input into multiple micro-batches (the suite uses
    // this to prove the complete-mode gates are batching-invariant)
    val reader = maxFilesPerTrigger
      .map(n => reader0.option("maxFilesPerTrigger", n)).getOrElse(reader0)
    val f = new java.io.File(path)
    // the file-stream source requires a directory base; for a concrete
    // file, express it as a {name} glob so the parent becomes the base
    if (f.isFile) reader.parquet(s"${f.getParent}/{${f.getName}}")
    else reader.parquet(path)
  }

  /** Tumbling event-time window counts with a watermark: late events
    * beyond `lateness` are dropped and their windows finalized, so state
    * is O(active windows), not O(stream length). */
  def tumblingCounts(
      events: DataFrame, tsCol: String, lateness: String,
      windowLength: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  private val gateRunSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The one runner every gate's streaming query goes through: an
    * AvailableNow trigger admits everything the source holds at start,
    * the query stops on its own once that is committed, and the
    * finished query is returned (its `lastProgress` is the record of
    * the last micro-batch). */
  private def runToEnd(writer: DataStreamWriter[Row]): StreamingQuery = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** Drive `df` to its end into a uniquely named memory sink and read
    * the sink back. `check` sees the finished query. */
  private[streaming] def toMemory(df: DataFrame, tag: String,
      mode: OutputMode,
      check: StreamingQuery => Unit = _ => ()): DataFrame = {
    val sink = s"${tag}_gate_${gateRunSeq.incrementAndGet()}"
    check(runToEnd(
      df.writeStream.format("memory").queryName(sink).outputMode(mode)))
    df.sparkSession.table(sink)
  }

  /** [[toMemory]]'s check for the per-row serving gates (w24/w33/w34):
    * the finished query's progress must report no state operator. */
  private def stateless(what: String)(q: StreamingQuery): Unit = {
    val progress = q.lastProgress
    require(progress == null || progress.stateOperators.isEmpty,
      s"$what must be stateless — a state operator appeared in the " +
        "streaming plan")
  }

  /** Drain `stream` to its end through a `foreachBatch` sink. */
  private def drainInto(stream: DataFrame,
      sink: (DataFrame, Long) => Unit): Unit =
    runToEnd(stream.writeStream.foreachBatch(sink))

  /** A fresh, uniquely named temp directory for one gate run. */
  private def gateDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(
      s"${tag}_${gateRunSeq.incrementAndGet()}_").toFile.getAbsolutePath

  /** Drive `tumblingCounts`-shaped aggregation THROUGH the streaming
    * engine to a terminal batch result: AvailableNow trigger over the
    * events file, complete-mode memory sink, await termination, read
    * the sink table back. The output is deterministic — AvailableNow
    * lists the (single) input file as one micro-batch, and a batch-0
    * watermark starts at epoch, so no row is late and the final state
    * equals the batch `window()` aggregation — which is exactly what
    * lets a DuckDB oracle hash-gate a STREAMING execution (w05).
    * `value` is fixed-pointed to micro-units before the sum, so the
    * aggregate is exact long arithmetic under any partitioning.
    *
    * Scale shape: identical to the production streaming job — state is
    * O(active windows x event types), the memory sink holds only the
    * aggregated windows (not the stream), and swapping the sink for a
    * real one changes nothing upstream. */
  def tumblingCountsGate(spark: SparkSession, eventsPath: String,
      windowLength: String, lateness: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ev = retagTs(eventStream(spark, eventsPath, maxFilesPerTrigger))
    val agg = ev
      .withColumn("v6", floor(col("value") * 1e6).cast("long"))
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v6")).as("sum_v6"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n"), col("sum_v6"))
    toMemory(agg, "w05", OutputMode.Complete)
  }

  /** w06's gate: session windows driven THROUGH the streaming engine.
    * Unlike tumbling windows, session windows cannot finalize in
    * append mode without leaving the tail sessions unemitted (the last
    * session always ends after max(ts) and the watermark never passes
    * it), and Spark rejects update mode for streaming session windows
    * outright — so the gate runs COMPLETE mode: the terminal state
    * after the single micro-batch holds every merged session, equal to
    * the batch `session_window()` aggregation. */
  def sessionCountsGate(spark: SparkSession, eventsPath: String,
      gap: String, lateness: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ev = retagTs(eventStream(spark, eventsPath, maxFilesPerTrigger))
    val agg = ev
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_millis(col("session_window.start")).as("session_start_ms"),
        col("user_id"), col("n_events"))
    toMemory(agg, "w06", OutputMode.Complete)
  }

  /** w07's gate: the flatMapGroupsWithState funnel state machine run
    * through the streaming engine. One input file = one micro-batch,
    * so each user whose stage advanced emits exactly one snapshot —
    * the terminal stage of the greedy in-ts-order machine, which a
    * recursive SQL replay reproduces event by event. Deterministic
    * under shuffle because within equal (millisecond, event_type) keys
    * the machine's state transition is identical whichever duplicate
    * goes first. */
  def funnelProgressGate(spark: SparkSession, eventsPath: String,
      steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    import spark.implicits._
    val ev = retagTs(eventStream(spark, eventsPath))
      .select(col("user_id"), col("event_type"), col("ts"))
      .as[FunnelEvent]
    toMemory(funnelProgress(ev, steps).toDF(), "w07", OutputMode.Append)
  }

  /** w08's gate: a STREAM-STATIC broadcast join — the enrichment shape
    * (stream rows joined against a small batch-derived dimension) run
    * through the streaming engine. The static side is the per-type
    * mean value in fixed-point micro-units computed from the batch
    * read; each streamed event joins its type's mean and counts as
    * "above" when its own micro-unit value strictly exceeds it. All
    * comparisons are exact long arithmetic; complete mode holds the
    * terminal per-type aggregate. */
  def streamStaticJoinGate(spark: SparkSession, eventsPath: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ev = retagTs(eventStream(spark, eventsPath, maxFilesPerTrigger))
      .withColumn("v6", floor(col("value") * 1e6).cast("long"))
    val stat = spark.read.parquet(eventsPath)
      .withColumn("v6", floor(col("value") * 1e6).cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("v6")).as("s6"), count(lit(1)).as("c"))
      .select(col("event_type"),
        floor(col("s6").cast("double") / col("c").cast("double"))
          .cast("long").as("mean_v6"))
    val agg = ev.join(broadcast(stat), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v6") > col("mean_v6"), 1L).otherwise(0L))
          .as("n_above_mean"))
    toMemory(agg, "w08", OutputMode.Complete)
  }

  /** w09's gate: streaming dropDuplicates (keyed dedup state) through
    * the engine. Only the KEY columns are emitted — which physical row
    * arrives first per key is racy across partitions, but the distinct
    * key set is not — so the append-mode sink equals batch DISTINCT. */
  def streamingDedupGate(spark: SparkSession, eventsPath: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ev = retagTs(eventStream(spark, eventsPath, maxFilesPerTrigger))
    val deduped = ev
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    toMemory(deduped, "w09", OutputMode.Append)
  }

  /** w10's gate: the custom TopKAgg aggregate running INSIDE a
    * streaming window aggregation. TopKAgg's ordering (value desc, id
    * asc) is a total order, so the k winners per window are unique and
    * merge-order independent; complete mode holds the terminal
    * per-window ranking, which equals the batch window formulation. */
  def windowTopKGate(spark: SparkSession, eventsPath: String,
      windowLength: String, k: Int,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ev = retagTs(eventStream(spark, eventsPath, maxFilesPerTrigger))
    val agg = ev
      .groupBy(window(col("ts"), windowLength))
      .agg(graft.functions.TopKAgg.column(spark,
        col("value").cast("double"), col("event_id"), k).as("__ids"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        posexplode(col("__ids")).as(Seq("__r0", "event_id")))
      .select(col("window_start_ms"),
        (col("__r0") + 1).cast("long").as("rank"), col("event_id"))
    toMemory(agg, "w10", OutputMode.Complete)
  }

  /** w15's gate: CHAINED stateful operators in one streaming query —
    * dropDuplicates on (user, type, minute) feeding a tumbling-window
    * count — in APPEND mode, which also gates the append-mode window
    * FINALIZATION semantics the complete-mode gates (w05/w06) never
    * exercise: a window emits exactly when the terminal watermark
    * (max ts - lateness) passes its end. Deterministic under any
    * batching once no dedup state expires (lateness wide for dedup is
    * not needed here — the dedup keys carry the SAME watermark column,
    * and within-span state never expires because the watermark lags by
    * `lateness`; the boundary is pinned in StreamingSuite). The oracle
    * replays dedup + count + the emission cutoff. */
  def dedupWindowGate(spark: SparkSession, eventsPath: String,
      windowLength: String = "1 hour", lateness: String = "1 hour",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ev = retagTs(eventStream(spark, eventsPath, maxFilesPerTrigger))
    val agg = ev
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("minute_ms", unix_millis(date_trunc("minute", col("ts"))))
      .withWatermark("ts", lateness)
      .dropDuplicates("user_id", "event_type", "minute_ms")
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n"))
    toMemory(agg, "w15", OutputMode.Append)
  }

  /** w16's gate: stream-static AS-OF enrichment — every streamed
    * purchase picks up the latest static view at-or-before its event
    * time (the SCD2-style "dimension as of the event" lookup run
    * incrementally). The static side broadcasts with a (user match AND
    * view_ts <= ts) condition — stateless per batch — and the per-event
    * `max(struct(view_ts, view_event_id))` argmax reproduces the
    * composed as-of's tie-break (latest ts, then greatest payload).
    * Complete mode holds one row per streamed purchase: bounded by the
    * gate corpus; the production form is append + watermark with the
    * w14/w15 tail-finalization semantics. */
  def streamAsofGate(spark: SparkSession, eventsPath: String,
      views: DataFrame,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val purchases = retagTs(eventStream(spark, eventsPath, maxFilesPerTrigger))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val v = views.select(col("user_id").as("__vu"),
      col("ts").as("__vts"), col("event_id").as("__vid"))
    val joined = purchases.join(broadcast(v),
      purchases("user_id") === col("__vu") && col("__vts") <= purchases("ts"),
      "left_outer")
    val agg = joined
      .groupBy(col("event_id"), col("user_id"), col("ts"))
      .agg(max(struct(col("__vts"), col("__vid"))).as("__m"))
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"),
        col("__m.__vid").as("asof_view_event_id"))
    toMemory(agg, "w16", OutputMode.Complete)
  }

  /** The Tables.apply physical-layout dispatch for streaming reads
    * (which bypass the loader): nanos-as-long -> micros truncation, or
    * NTZ -> LTZ re-tag under the pinned UTC session. */
  private[streaming] def retagTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  /** Windowed streaming top-k: per tumbling event-time window, the ids
    * of the k highest-value events — [[graft.functions.TopKAgg]] running
    * INSIDE a streaming aggregation, so per-window state is the bounded
    * k-slot buffer (constant per window), not the event backlog; the
    * watermark finalizes windows and reclaims the buffers. The same
    * custom aggregate serves batch (q44) and streaming — one kernel,
    * both execution modes. */
  def windowTopK(
      events: DataFrame, tsCol: String, lateness: String,
      windowLength: String, k: Int): DataFrame = {
    val spark = events.sparkSession
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLength))
      .agg(graft.functions.TopKAgg.column(spark,
        col("value").cast("double"), col("event_id"), k).as("__ids"))
      .select(col("window.start").as("window_start"),
        posexplode(col("__ids")).as(Seq("__r0", "event_id")))
      .select(col("window_start"), (col("__r0") + 1).cast("long").as("rank"),
        col("event_id"))
  }

  /** Event-time session windows per user: sessions close `gap` after the
    * last event; watermark bounds session state. */
  def sessionCounts(
      events: DataFrame, tsCol: String, lateness: String,
      gap: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  final case class UserEvent(user_id: Long, value: Double)
  final case class UserState(n: Long, total: Double)
  final case class UserSnapshot(user_id: Long, n: Long, total: Double)

  /** Custom streaming state via mapGroupsWithState: per-user running
    * (count, sum) surviving across micro-batches — the pattern for any
    * accumulator the built-in aggs can't express. ProcessingTimeTimeout
    * is deliberately off: state lives for the stream's lifetime here;
    * real deployments bound it with a timeout. */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserSnapshot] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserSnapshot](GroupStateTimeout.NoTimeout) {
        (user, rows, state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          val next = rows.foldLeft(prev)((s, e) => UserState(s.n + 1, s.total + e.value))
          state.update(next)
          UserSnapshot(user, next.n, next.total)
      }
  }

  final case class FunnelEvent(user_id: Long, event_type: String, ts: java.sql.Timestamp)
  final case class FunnelProgress(user_id: Long, stage: Int)

  /** Streaming funnel state machine — the incremental face of
    * q38_funnel: per user, `stage` advances through the ordered step
    * list (view -> click -> purchase by default) as qualifying events
    * arrive, strictly in order and monotonically in event time; a
    * snapshot row is emitted whenever a user's stage advances. Events
    * inside one micro-batch are sorted by event time before folding, so
    * batch boundaries don't change the outcome. State is one (int,
    * timestamp) per user; production deployments bound it with a state
    * TTL. */
  def funnelProgress(
      events: Dataset[FunnelEvent],
      steps: Seq[String] = Seq("view", "click", "purchase")): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Int, Long), FunnelProgress](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, rows, state: GroupState[(Int, Long)]) =>
          var (stage, lastTs) = state.getOption.getOrElse((0, Long.MinValue))
          val entered = stage
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_type)).foreach { e =>
            if (stage < steps.length && e.event_type == steps(stage) &&
              e.ts.getTime >= lastTs) {
              stage += 1
              lastTs = e.ts.getTime
            }
          }
          state.update((stage, lastTs))
          if (stage > entered) Iterator.single(FunnelProgress(user, stage))
          else Iterator.empty
      }
  }

  final case class TypedEvent(user_id: Long, event_type: String, v6: Long)
  final case class TypeTally(user_id: Long, event_type: String, n: Long, sum_v6: Long)

  /** Spark 4's arbitrary-state API (`transformWithState`, the successor
    * to flatMapGroupsWithState): per-user MapState keyed by event type
    * holding exact (count, micro-unit sum) tallies; each batch with
    * input emits one snapshot per touched type, in sorted type order.
    * State is typed, per-key, and independently evolvable — the API the
    * engine's stateful operators migrate to. */
  class TypeTallyProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, TypeTally] {
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, (Long, Long)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, (Long, Long)]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeTally] = {
      val touched = scala.collection.mutable.TreeSet.empty[String]
      rows.foreach { e =>
        val prev =
          if (counts.containsKey(e.event_type)) counts.getValue(e.event_type)
          else (0L, 0L)
        counts.updateValue(e.event_type, (prev._1 + 1L, prev._2 + e.v6))
        touched += e.event_type
      }
      touched.iterator.map { t =>
        val (n, s) = counts.getValue(t)
        TypeTally(key, t, n, s)
      }
    }
  }

  /** Per-user-and-type tallies through [[TypeTallyProcessor]] — usable
    * on a batch-created stream in tests or the gate below. */
  def typeTallies(events: Dataset[TypedEvent]): Dataset[TypeTally] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeTallyProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** `transformWithState` requires the RocksDB state store; two gates
    * pin the session-global provider conf for their run. The whole
    * set→run→restore window is SERIALIZED by this lock: without it,
    * concurrent gate runs (Verify's thread pool) can unset the provider
    * while the other's stream is still initializing (crash), or
    * "restore" the other's transient value and leave the session
    * permanently pinned. A non-pinning streaming gate that starts
    * inside the window simply runs that one query on RocksDB — store
    * choice is operational, not semantic. */
  private val stateProviderLock = new Object
  private def withRocksDbProvider[A](spark: SparkSession)(body: => A): A =
    stateProviderLock.synchronized {
      val PROVIDER = "spark.sql.streaming.stateStore.providerClass"
      val prior = spark.conf.getOption(PROVIDER)
      spark.conf.set(PROVIDER,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try body
      finally prior match {
        case Some(v) => spark.conf.set(PROVIDER, v)
        case None => spark.conf.unset(PROVIDER)
      }
    }

  /** w13's gate: `transformWithState` through the engine. One input
    * file = one micro-batch, so each (user, type) emits exactly one
    * terminal snapshot — the exact grouped (count, micro-unit sum),
    * which the oracle replays as a plain GROUP BY. transformWithState
    * requires the RocksDB state store; the gate pins the provider conf
    * for its run and restores the prior value (the other gates run the
    * default HDFS-backed store). */
  def typeTallyGate(spark: SparkSession, eventsPath: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    withRocksDbProvider(spark) {
      val ev = retagTs(eventStream(spark, eventsPath, maxFilesPerTrigger))
        .select(col("user_id"), col("event_type"),
          floor(col("value") * 1e6).cast("long").as("v6"))
        .as[TypedEvent]
      toMemory(typeTallies(ev).toDF(), "w13", OutputMode.Append)
    }
  }

  final case class CdcChange(user_id: Long, ts_us: Long, event_id: Long,
      v6: Long, is_del: Boolean)
  final case class CdcState(nChanges: Long, hasU: Boolean, uTs: Long,
      uId: Long, uV6: Long, hasD: Boolean, dTs: Long, dId: Long, maxTs: Long)
  final case class CdcSnapshot(user_id: Long, n_changes: Long, live: Long,
      last_v6: Option[Long], last_ms: Long)

  /** Streaming CDC materialization: per-key ValueState folding an
    * op-coded change feed (upserts + tombstone deletes, the m13 shape)
    * into the CURRENT row — the incrementally-maintained upsert view a
    * lakehouse sink serves. The fold keeps only maxima (latest upsert by
    * (ts, id), latest delete by (ts, id), change count, max ts), so it
    * is ORDER-INSENSITIVE: any batching of the same changes reaches the
    * same state, which is what makes the gate micro-batch invariant
    * (unlike a sequence-fold, which would depend on arrival order — the
    * w07 caveat). Liveness resolves at emission: the row exists iff the
    * latest upsert beats the latest delete lexicographically. */
  class CdcMaterializeProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, CdcChange, CdcSnapshot] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[CdcState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[CdcState]("state",
        org.apache.spark.sql.Encoders.product[CdcState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[CdcChange],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[CdcSnapshot] = {
      def later(ts1: Long, id1: Long, ts2: Long, id2: Long): Boolean =
        ts1 > ts2 || (ts1 == ts2 && id1 > id2)
      var s =
        if (st.exists()) st.get()
        else CdcState(0L, hasU = false, 0L, 0L, 0L, hasD = false, 0L, 0L,
          Long.MinValue)
      rows.foreach { c =>
        val n = s.copy(nChanges = s.nChanges + 1,
          maxTs = math.max(s.maxTs, c.ts_us))
        s =
          if (c.is_del) {
            if (!n.hasD || later(c.ts_us, c.event_id, n.dTs, n.dId))
              n.copy(hasD = true, dTs = c.ts_us, dId = c.event_id)
            else n
          } else {
            if (!n.hasU || later(c.ts_us, c.event_id, n.uTs, n.uId))
              n.copy(hasU = true, uTs = c.ts_us, uId = c.event_id, uV6 = c.v6)
            else n
          }
      }
      st.update(s)
      val live = s.hasU && (!s.hasD || later(s.uTs, s.uId, s.dTs, s.dId))
      Iterator.single(CdcSnapshot(key, s.nChanges, if (live) 1L else 0L,
        if (live) Some(s.uV6) else None, s.maxTs / 1000L))
    }
  }

  /** The CDC fold as a reusable Dataset transform. */
  def cdcMaterialize(changes: Dataset[CdcChange]): Dataset[CdcSnapshot] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.user_id)
      .transformWithState(new CdcMaterializeProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** w17's gate: the events table as a change feed (purchase = tombstone
    * delete, anything else = value upsert), materialized through
    * [[CdcMaterializeProcessor]] on the RocksDB store. One input file =
    * one terminal snapshot per user, which the oracle replays with
    * per-user latest-upsert/latest-delete windows. */
  def cdcMaterializeGate(spark: SparkSession, eventsPath: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    withRocksDbProvider(spark) {
      val ch = changeFeed(
        retagTs(eventStream(spark, eventsPath, maxFilesPerTrigger)))
      toMemory(cdcMaterialize(ch).toDF(), "w17", OutputMode.Append)
    }

  /** The events stream as w17/w18's change feed: a purchase is a
    * tombstone delete, anything else a value upsert. */
  private def changeFeed(events: DataFrame): Dataset[CdcChange] = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), floor(col("value") * 1e6).cast("long").as("v6"),
        (col("event_type") === "purchase").as("is_del"))
      .as[CdcChange]
  }

  /** The w18/w19 restart harness: `run` goes twice over one checkpoint,
    * each time after staging its half as ONE parquet file named into
    * `$base/src` (the file-stream source discovers it as the next
    * batch's input) — run 1 sees `h1` and stops (the failure point),
    * run 2 restarts with `h2` added. One copy, so the staging mechanics
    * cannot drift between the two gates. */
  private def runAcrossRestart(base: String, h1: DataFrame,
      h2: DataFrame)(run: => Unit): Unit = {
    new java.io.File(s"$base/src").mkdirs()
    Seq("h1" -> h1, "h2" -> h2).foreach { case (name, half) =>
      val tmp = s"$base/stage_$name"
      half.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$base/src", s"$name.parquet"))
      run
    }
  }

  /** The recovery gates' sink: parquet, exactly-once via its commit log
    * at `$base/sink`, checkpoint at `$base/ckpt`. */
  private def checkpointedParquet(df: DataFrame,
      base: String): DataStreamWriter[Row] =
    df.writeStream.format("parquet")
      .option("path", s"$base/sink").option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append)

  /** w18's gate: CHECKPOINT RECOVERY of stateful streaming state — the
    * exactly-once restart contract a long-running deployment leans on,
    * which every other w-gate (all single-process AvailableNow runs)
    * leaves unexercised.
    *
    * Two SEPARATE queries share one checkpoint: run 1 sees only the
    * even-event_id half of the change feed and terminates (the
    * simulated failure point); the odd half is then added to the source
    * directory and run 2 starts fresh FROM THE SAME CHECKPOINT — the
    * file-source log must skip the already-processed file and the
    * RocksDB per-key [[CdcMaterializeProcessor]] state must be restored
    * before the remaining changes fold in. The terminal row per user is
    * the argmax-by-n_changes snapshot (n_changes is monotone in the
    * fold), and it equals the batch oracle over ALL events ONLY if run 2
    * resumed run 1's state: a user whose changes span both halves would
    * otherwise report second-half-only counts/maxima. The parquet sink
    * (exactly-once via its commit log, unlike the memory sink) is read
    * back through that log, so replayed-but-uncommitted output can't
    * leak into the result either. */
  def checkpointRecoveryGate(spark: SparkSession, eventsPath: String): DataFrame = {
    val base = gateDir("w18_gate")
    val raw = spark.read.parquet(eventsPath)
    // run 1: the even half of the feed; run 2: restart, fold in the rest
    runAcrossRestart(base, raw.where(col("event_id") % 2 === 0),
        raw.where(col("event_id") % 2 =!= 0)) {
      withRocksDbProvider(spark) {
        val ch = changeFeed(retagTs(eventStream(spark, s"$base/src")))
        runToEnd(checkpointedParquet(cdcMaterialize(ch).toDF(), base))
      }
    }
    spark.read.parquet(s"$base/sink")
      .groupBy("user_id")
      .agg(max(struct(col("n_changes"), col("live"), col("last_v6"),
        col("last_ms"))).as("__last"))
      .select(col("user_id"), col("__last.n_changes").as("n_changes"),
        col("__last.live").as("live"), col("__last.last_v6").as("last_v6"),
        col("__last.last_ms").as("last_ms"))
  }

  /** w19's gate: checkpoint recovery of WATERMARKED WINDOWED-AGGREGATION
    * state — the OTHER stateful class beside w18's transformWithState
    * (streaming aggregation state + the persisted watermark itself).
    *
    * The restart point is time-ordered (how a real stream fails): run 1
    * sees events up to the midpoint timestamp and stops — its watermark
    * has already FINALIZED the early windows into the append sink; run 2
    * restarts from the checkpoint with the remainder staged. The
    * terminal sink equals the batch replay (all windows whose end the
    * final watermark passed, counts over ALL events) only if
    *   (a) the watermark was restored — a reset watermark re-emits the
    *       already-final windows as duplicate sink rows,
    *   (b) the window state was restored — windows STRADDLING the
    *       restart emit in run 2 and must include their run-1 rows,
    *   (c) the source log skipped the already-processed file.
    * The time split keeps append semantics batching-exact: every window
    * finalized in run 1 lies wholly below the cut, so no run-2 row could
    * have changed it (lateness ≥ the window length guarantees the gap). */
  def windowRecoveryGate(spark: SparkSession, eventsPath: String,
      windowLength: String = "1 hour",
      lateness: String = "1 hour"): DataFrame = {
    val base = gateDir("w19_gate")
    val rt = retagTs(spark.read.parquet(eventsPath))
    val mm = rt.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx")).head()
    val (mn, mx) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val cut = new java.sql.Timestamp(mn + (mx - mn) / 2)
    // run 1: early windows finalize into the sink, then stop; run 2:
    // restart — straddling windows need run-1 state
    runAcrossRestart(base, rt.where(col("ts") <= lit(cut)),
        rt.where(col("ts") > lit(cut))) {
      val agg = retagTs(eventStream(spark, s"$base/src"))
        .select(col("ts"), col("event_type"),
          floor(col("value") * 1e6).cast("long").as("v6"))
        .withWatermark("ts", lateness)
        .groupBy(window(col("ts"), windowLength), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v6")).as("sum_v6"))
        .select(unix_millis(col("window.start")).as("window_start_ms"),
          col("event_type"), col("n"), col("sum_v6"))
      runToEnd(checkpointedParquet(agg, base))
    }
    spark.read.parquet(s"$base/sink")
  }

  /** Shared sim-org construction for the connector recovery tests: the
    * org is created and registered under `orgName`, the customer dim is
    * read in a FIXED order (sorted by custkey, bounded — it is the dim
    * table sim) and split into the even-key (h1) / odd-key (h2) halves,
    * and the returned `land` inserts rows in ≤200-row chunks in the
    * given order. Because InMemoryOrg mints sequential Ids in insert
    * order, two JVMs that land the same halves in the same order mint
    * IDENTICAL Ids — the property the forked hard-kill test leans on to
    * rebuild, in a fresh JVM, the org a killed child's checkpoint
    * cursor points into. */
  private[graft] def connectorSimOrg(spark: SparkSession,
      customerPath: String, orgName: String): (Array[org.apache.spark.sql.Row],
      Array[org.apache.spark.sql.Row],
      Array[org.apache.spark.sql.Row] => Unit) = {
    import graft.sources.{InMemoryOrg, RemoteOrgRegistry}
    import org.apache.spark.sql.types.{StructField, StructType, StringType}
    import org.apache.spark.sql.Row
    val sch = StructType(Seq(
      StructField("Id", StringType), StructField("CKey__c", StringType),
      StructField("Name__c", StringType), StructField("NKey__c", StringType)))
    val simOrg = new InMemoryOrg
    simOrg.createTable("Customer__c", sch)
    // scan partitions carry a rebuild recipe capturing the landed-row
    // count at plan time, so executor JVMs on a multi-JVM master can
    // reconstruct this org bit-identically (sequential Ids in the
    // canonical h1-then-h2 insert order) — found by the round-13
    // local-cluster smoke, where the process-local registry left w22's
    // executor-side readers org-less
    simOrg.recipeProvider = () => Some(graft.sources
      .CustomerHalvesOrgRecipe(customerPath,
        simOrg.rowCount("Customer__c")))
    RemoteOrgRegistry.register(orgName, simOrg)
    val customers = spark.read.parquet(customerPath)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .orderBy("c_custkey").collect()
    def land(rows: Array[Row]): Unit =
      rows.grouped(200).foreach { chunk => // the org's ≤200-row contract
        simOrg.insert("Customer__c", chunk.toSeq.map(r => Row(null,
          r.getLong(0).toString, r.getString(1), r.getInt(2).toString)), sch)
      }
    val (h1, h2) = customers.partition(_.getLong(0) % 2 == 0)
    (h1, h2, land)
  }

  /** The connector-stream writer both recovery tests share: PK-cursor
    * micro-batch source under a small admission cap (so the cursor
    * pages many times), parquet sink with its commit log at
    * `\$base/sink`, checkpoint at `\$base/ckpt`. */
  private[graft] def connectorSinkStream(spark: SparkSession,
      orgName: String, base: String, maxPerBatch: Int = 64) =
    checkpointedParquet(spark.readStream.format("salesforce-sim")
      .option("org", orgName).option("sObject", "Customer__c")
      .option("maxRecordsPerBatch", maxPerBatch.toString).load(), base)

  /** Forked-JVM child of the HARD-KILL w22 variant: land h1, free-run
    * the connector stream against the shared checkpoint/sink under
    * `base`, and never return — the parent `destroyForcibly`s this
    * process mid-batch, so unlike the gate's cooperative `stop()` no
    * in-flight work gets to abort cleanly. */
  private[graft] def connectorCrashChildRun(spark: SparkSession,
      customerPath: String, base: String): Unit = {
    val (h1, _, land) = connectorSimOrg(spark, customerPath, "w22_crash_child")
    land(h1)
    connectorSinkStream(spark, "w22_crash_child", base).start()
      .awaitTermination() // killed externally
  }

  /** w22's gate: CHECKPOINT RECOVERY of the CONNECTOR stream — the
    * PK-cursor offset restore of `OrgMicroBatchStream`
    * (SalesforceSource.scala), which w18/w19 (file sources) leave
    * unexercised, killed MID-BACKFILL rather than at a batch boundary.
    *
    * Run 1 starts the org backfill under a small admission cap
    * (maxRecordsPerBatch) so the cursor pages many times, and is
    * STOPPED after a few committed micro-batches with rows still
    * unread — the simulated crash. More rows then land in the org
    * (their minted Ids sort past the cursor, the org's append
    * contract), and run 2 restarts from the same checkpoint with
    * AvailableNow to drain. The parquet sink is read back through its
    * commit log, so a batch in flight at the kill point replays
    * without duplicating. The terminal sink equals the plain batch
    * SELECT over the whole table ONLY if the restart resumed from the
    * checkpointed Id cursor: a reset cursor re-reads run 1's pages
    * (duplicate rows), a skipped-ahead cursor loses the unread gap.
    *
    * The "crash" here is a cooperative `stop()` (the in-flight batch
    * aborts cleanly in-process); the SIGKILL-grade variant lives in
    * StreamingSuite's hard-kill test, which forks run 1 into its own
    * JVM via [[connectorCrashChildRun]] and `destroyForcibly`s it. */
  def connectorRecoveryGate(spark: SparkSession,
      customerPath: String): DataFrame = {
    val base = gateDir("w22_gate")
    val orgName = s"w22_org_${gateRunSeq.incrementAndGet()}"
    val (h1, h2, land) = connectorSimOrg(spark, customerPath, orgName)
    // admission cap scales with the corpus: tiny SFs keep the 64-row
    // floor (the cursor still pages many times), big SFs stay at a few
    // dozen batches per run instead of thousands — what made this gate
    // infeasible at sf1.0 (150k customers / 64 = ~2300 micro-batches)
    val cap = math.max(64, h1.length / 24)
    land(h1)
    stopMidBackfillThenDrain(
      () => connectorSinkStream(spark, orgName, base, cap), h1.length, cap) {
      land(h2) // more rows land while the stream is down
    }
    spark.read.parquet(s"$base/sink")
      .select(col("CKey__c").cast("long").as("c_custkey"),
        col("Name__c").as("c_name"),
        col("NKey__c").cast("long").as("c_nationkey"))
  }

  /** Run 1 and run 2 of the mid-backfill recovery gates (w22, w30),
    * with `landed` rows in the org. Run 1 free-runs micro-batches and
    * is stopped after a few commits with most of the backfill still
    * unread — NOT a drain. The kill point adapts to corpus size: under
    * the admission `cap` a small corpus never reaches batch 2, so
    * waiting for a fixed batchId would silently spin out the whole
    * deadline. It waits for min(2, last batch that can still admit
    * input), and bails as soon as every landed row has been admitted —
    * at that point there is nothing left to kill mid-backfill, and the
    * restart still exercises the cursor restore against the fresh
    * rows. `landWhileDown` adds rows while the stream is down; run 2
    * then resumes the Id cursor and drains to the end. `newWriter`
    * builds a fresh writer over the same checkpoint for each run. */
  private def stopMidBackfillThenDrain(
      newWriter: () => DataStreamWriter[Row], landed: Int, cap: Int)(
      landWhileDown: => Unit): Unit = {
    val q1 = newWriter().start()
    val targetBatch = math.min(2L, math.ceil(landed.toDouble / cap).toLong - 1)
    def admitted: Long = q1.recentProgress.map(_.numInputRows).sum
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while ((q1.lastProgress == null ||
          (q1.lastProgress.batchId < targetBatch && admitted < landed)) &&
        q1.isActive && System.nanoTime() < deadline)
      Thread.sleep(25)
    q1.stop()
    q1.awaitTermination()
    landWhileDown
    runToEnd(newWriter())
  }

  /** Canonical row rendering for result comparison in gates/suites. */
  private[graft] def rowsOfSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** PRODUCTION streaming chunk dedup for UNBOUNDED document streams —
    * the API a long-running curation pipeline should use. The chunker
    * lifts to streaming unchanged (pure per-row explode), the
    * event-time column rides through (`carry`), and the digest state is
    * WATERMARK-BOUNDED: `dropDuplicatesWithinWatermark` drops
    * duplicates arriving within `delay` of the kept occurrence and
    * EVICTS a digest's state once the watermark passes it, so state
    * stays proportional to the delay window instead of every digest
    * ever seen. Exactness trade (the standard watermarked-dedup
    * contract): a duplicate arriving more than `delay` after its first
    * occurrence re-emits. Returns the unstarted streaming frame of
    * distinct `chunk_md5` — callers attach their own sink/trigger. */
  def chunkDedupStream(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, delay: String): DataFrame =
    graft.functions.TextOps
      .chunkOverlap(docs, idCol, textCol, size_ = 64, step = 48,
        carry = Seq(tsCol))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("chunk_md5")
      .select(col("chunk_md5"))

  /** w21's gate: STREAMING chunk-level dedup — the p28/d19 curation
    * stage run incrementally: documents stream in, each micro-batch
    * explodes into overlapping 64-token chunks (stateless — the
    * chunker is a pure per-row transform, so it lifts to streaming
    * unchanged), and `dropDuplicates` on the content digest keeps the
    * first occurrence only. The emitted DISTINCT digest set is
    * batching-order-free (which duplicate wins varies, the set does
    * not), so the oracle is the batch distinct over the same chunk
    * arithmetic.
    *
    * GATE-ONLY scope (`private[graft]`, ADVICE r10): the plain
    * `dropDuplicates` here accretes state forever and is sound ONLY
    * because the gate's AvailableNow run is finite; unbounded streams
    * must use [[chunkDedupStream]], whose state is watermark-bounded. */
  private[graft] def chunkDedupStreamGate(spark: SparkSession,
      docsPath: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val docs = eventStream(spark, docsPath, maxFilesPerTrigger)
    val distinctChunks = graft.functions.TextOps
      .chunkOverlap(docs, "doc_id", "text", size_ = 64, step = 48)
      .dropDuplicates("chunk_md5")
      .select(col("chunk_md5"))
    toMemory(distinctChunks, "w21", OutputMode.Append)
  }

  /** PRODUCTION streaming benchmark decontamination for unbounded
    * document streams — d22 run incrementally, the shape a live ingest
    * pipeline needs: the benchmark bitmap is computed ONCE from the
    * static eval suite (benchmarks change on release cadence, not per
    * batch) and ships as one broadcast block; every arriving document
    * is scored IN ITS MICRO-BATCH by the same codegen kernel as the
    * batch operator. The scoring is a stateless per-row transform — no
    * watermark, no state store, nothing to checkpoint beyond source
    * offsets — so ANY batching reaches the identical scorecard.
    * [[graft.functions.TextOps.bloomDecontaminate]] is reused AS IS:
    * its training side is a pure projection, which lifts to streaming
    * unchanged — the eval side stays a batch frame. Returns the
    * unstarted streaming scorecard frame (doc id, n_shingles, n_hit) —
    * callers attach their own sink/trigger. */
  def decontaminateStream(train: DataFrame, evalSuite: DataFrame,
      idCol: String, textCol: String, n: Int,
      mBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    require(train.isStreaming,
      "train must be a streaming frame (use TextOps.bloomDecontaminate " +
        "for batch scoring)")
    require(!evalSuite.isStreaming,
      "the eval suite must be a static frame — its bitmap is computed " +
        "once, at plan-build time")
    graft.functions.TextOps.bloomDecontaminate(train, evalSuite,
      idCol, textCol, n, mBits, numHashes)
  }

  /** w24's gate: [[decontaminateStream]] over the driver's fixture
    * split (doc_id % 50 — eval suite vs training corpus) so d22's
    * oracle transfers verbatim. maxFilesPerTrigger=1 forces multiple
    * micro-batches so the batching-invariance claim is exercised, not
    * assumed; [[graft.StreamingSuite]] additionally pins zero state
    * operators. GATE-ONLY scope (the r10 convention): callers with
    * real frames use [[decontaminateStream]]. */
  private[graft] def bloomDecontaminateStreamGate(spark: SparkSession,
      docsPath: String): DataFrame = {
    val docs = eventStream(spark, docsPath, Some(1))
    val eval_ = spark.read.parquet(docsPath)
      .where(col("doc_id") % 50 === 0)
    val scored = decontaminateStream(
      train = docs.where(col("doc_id") % 50 =!= 0),
      evalSuite = eval_, "doc_id", "text", n = 4)
    toMemory(scored, "w24", OutputMode.Append,
      stateless("bloom decontamination"))
  }

  /** PRODUCTION streaming importance scoring for unbounded document
    * streams — p33's DSIR-shaped lexical weighting run incrementally,
    * the live-ingest shape: the importance-weight table is computed
    * ONCE from the static reference corpus (weights change on
    * curation-policy cadence, not per batch) and ships as one array
    * literal; every arriving document scores IN ITS MICRO-BATCH via
    * the pure per-row projection ([[graft.functions.TextOps
    * .importanceScore]]) — no watermark, no state store, nothing to
    * checkpoint beyond source offsets, so ANY batching reaches the
    * identical scores (the w24 stance). Selection (the quota) stays a
    * batch decision over accumulated scores — a global top-fraction
    * is not an incremental property. Returns the unstarted streaming
    * (id, score) frame — callers attach their own sink/trigger. */
  def importanceScoreStream(docs: DataFrame, refCorpus: DataFrame,
      idCol: String, textCol: String, targetPred: org.apache.spark.sql.Column,
      buckets: Int = 4096): DataFrame = {
    require(docs.isStreaming,
      "docs must be a streaming frame (use TextOps.importanceResample " +
        "for batch selection)")
    require(!refCorpus.isStreaming,
      "the reference corpus must be a static frame — its weight table " +
        "is computed once, at plan-build time")
    val w = graft.functions.TextOps.importanceWeightArray(
      refCorpus, idCol, textCol, targetPred, buckets)
    graft.functions.TextOps.importanceScore(docs, idCol, textCol, w)
  }

  /** w33's gate: [[importanceScoreStream]] over the driver's documents
    * with lang='en' as the target distribution, weights frozen from
    * the same corpus the stream carries — so every token's bucket is
    * present and p33's score oracle transfers (minus the quota).
    * maxFilesPerTrigger=1 forces multiple micro-batches; the gate
    * asserts zero state operators. GATE-ONLY scope (the r10
    * convention). */
  private[graft] def importanceScoreStreamGate(spark: SparkSession,
      docsPath: String): DataFrame = {
    val docs = eventStream(spark, docsPath, Some(1))
    val ref = spark.read.parquet(docsPath)
    val scored = importanceScoreStream(docs, ref, "doc_id", "text",
      col("lang") === "en")
    toMemory(scored, "w33", OutputMode.Append,
      stateless("importance scoring"))
  }

  /** Streaming serving face of p34's domain reweighting (the w33
    * stance for the MIXTURE decision): the MW-updated domain weight
    * table freezes once from the static reference corpus
    * ([[graft.functions.TextOps.domainWeightTable]] — one row per
    * domain, a model artifact), and every arriving document resolves
    * its `(weight_micro, picked)` in its micro-batch via two map
    * LITERALS and the shared p34 coin — a pure per-row projection:
    * zero joins, zero shuffles, zero state, so the decisions are
    * batching-invariant and p34's oracle transfers minus the per-doc
    * loss column (scoring arriving docs against a frozen corpus LM
    * would need the vocab-sized unigram table shipped as an artifact;
    * the SERVED decision is the mixture pick, and that needs only the
    * domain table). Documents from domains the reference never saw are
    * dropped, mirroring the batch operator's inner join. */
  def domainMixStream(docs: DataFrame, refCorpus: DataFrame,
      idCol: String, textCol: String, domainCol: String,
      etaDiv: Double = 100.0): DataFrame = {
    require(docs.isStreaming,
      "docs must be a streaming frame (use TextOps.domainReweight " +
        "for batch selection)")
    require(!refCorpus.isStreaming,
      "the reference corpus must be a static frame — its weight table " +
        "is computed once, at plan-build time")
    val wt = graft.functions.TextOps.domainWeightTable(
      refCorpus, idCol, textCol, domainCol, etaDiv)
    val wMap = typedlit(wt.map { case (d, w, _) => d -> w }.toMap)
    val fMap = typedlit(wt.map { case (d, _, f) => d -> f }.toMap)
    docs.where(col(textCol).isNotNull)
      .where(element_at(wMap, col(domainCol)).isNotNull)
      .select(col(idCol), col(domainCol),
        element_at(wMap, col(domainCol)).as("weight_micro"),
        when(graft.functions.TextOps.domainMixCoin(col(idCol))
            < element_at(fMap, col(domainCol)), lit(1L))
          .otherwise(lit(0L)).as("picked"))
  }

  /** w34's gate: [[domainMixStream]] over the driver's documents with
    * weights frozen from the same corpus the stream carries, so p34's
    * oracle transfers minus `mean_nats4`. maxFilesPerTrigger=1 forces
    * multiple micro-batches; the gate asserts zero state operators.
    * GATE-ONLY scope (the r10 convention). */
  private[graft] def domainMixStreamGate(spark: SparkSession,
      docsPath: String): DataFrame = {
    val docs = eventStream(spark, docsPath, Some(1))
    val ref = spark.read.parquet(docsPath)
    val mixed = domainMixStream(docs, ref, "doc_id", "text", "source")
    toMemory(mixed, "w34", OutputMode.Append,
      stateless("domain-mix serving"))
  }

  /** PRODUCTION store-probe sink for unbounded document streams — the
    * `foreachBatch` body of d23's daily-ingest loop (the probe
    * checkpoints internally, so it needs a batch frame — the same
    * reason w20/w23 use foreachBatch for index maintenance): each
    * micro-batch of arriving documents probes the persisted signature
    * store for near-duplicates against the standing corpus and appends
    * its `(id_a, id_b, jac)` pairs under `outDir`; with
    * `accrete = true` the batch then appends ITSELF to the store, so
    * later batches also dedup against it (the w26 lifecycle — under
    * accretion the pair set depends on batch membership, which a file
    * source does not guarantee: use a source with deterministic
    * batching when the answer must be replayable). `corpus` must
    * contain every doc the store can reference ([[graft.functions
    * .TextOps.incrementalJaccardPairsFromStore]]'s desync guard);
    * under accretion that means a superset of the standing corpus plus
    * everything already streamed. Usage:
    * {{{
    * stream.writeStream.foreachBatch(
    *   Streams.dedupStoreProbeBatch(corpus, "doc_id", "text",
    *     store, outDir, n = 3, numHashes = 128, bands = 32,
    *     threshold = 0.5, accrete = true)).start()
    * }}} */
  def dedupStoreProbeBatch(corpus: DataFrame, idCol: String,
      textCol: String, storePath: String, outDir: String,
      n: Int, numHashes: Int, bands: Int, threshold: Double,
      accrete: Boolean = false, unretract: Boolean = false): (DataFrame, Long) => Unit =
    (batch: DataFrame, epochId: Long) => {
      // Idempotent under micro-batch redelivery, on BOTH axes
      // (code-review findings):
      //  - the epoch-keyed overwrite (not a blind append) keeps a
      //    replayed epoch from duplicating its pair rows;
      //  - the left_anti on the batch's OWN ids keeps a replayed
      //    accreted batch from pairing against its first attempt's
      //    store entries (self-pairs at jac 1.0 and within-batch
      //    pairs that ordered-ingest semantics never emit). On first
      //    delivery the store holds none of the batch's ids, so the
      //    filter is a no-op; the anti side is batch-sized.
      val pairs = graft.functions.TextOps
        .incrementalJaccardPairsFromStore(batch, corpus, idCol, textCol,
          storePath, n, numHashes, bands, threshold)
      pairs
        .join(batch.select(col(idCol).as("id_b")), Seq("id_b"), "left_anti")
        .select("id_a", "id_b", "jac")
        .write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
      if (accrete)
        // a batch re-adding a RETRACTED doc fails the epoch loudly
        // (append-after-retract is a silent mask otherwise) — pass
        // unretract = true when the stream's semantics are that
        // arriving docs rejoin the corpus over any standing tombstone
        graft.functions.TextOps.appendToSignatureStore(batch, idCol,
          textCol, storePath, n, numHashes, bands, unretract = unretract)
    }

  /** The probe side's output schema — an all-empty run writes no
    * parquet part files (only _SUCCESS), and schema inference would
    * throw where the true answer is simply zero pairs. The output dir
    * is laid out as `epoch=<id>` subdirectories (the idempotent
    * per-micro-batch overwrite unit); partition discovery appends an
    * `epoch` column on read — select it away unless you want it. */
  val dedupStorePairsSchema: String = "id_a BIGINT, id_b BIGINT, jac DOUBLE"

  /** w25's gate: STREAMING incremental dedup against the persisted
    * signature store — [[dedupStoreProbeBatch]] (probe-only) driven by
    * a file stream over the driver's fixture split: the standing
    * corpus' band keys are built once, the delta arrives one file per
    * micro-batch. Every delta doc pairs only against the STATIC store,
    * so the union of per-batch pair sets is batching-invariant and
    * d23's oracle (= d11's) transfers verbatim. The probe-AND-APPEND
    * loop — where later deltas also dedup against earlier ones — is
    * the w26 gate and [[graft.StreamingSuite]]'s hand-pinned chain
    * (its answer depends on batch membership, which a file stream
    * doesn't guarantee). GATE-ONLY scope: callers with real frames use
    * [[dedupStoreProbeBatch]]. */
  private[graft] def dedupStoreProbeStreamGate(spark: SparkSession,
      docsPath: String): DataFrame = {
    import graft.functions.TextOps
    val store = gateDir("w25_store")
    val docs = spark.read.parquet(docsPath)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    val outDir = gateDir("w25_out")
    drainInto(eventStream(spark, docsPath, Some(1))
        .where(col("doc_id") % 20 === 0),
      dedupStoreProbeBatch(standing, "doc_id", "text", store, outDir,
        n = 3, numHashes = 128, bands = 32, threshold = 0.5))
    spark.read.schema(dedupStorePairsSchema).parquet(outDir)
      .select("id_a", "id_b", "jac") // drop the epoch partition column
  }

  /** w26's gate: the signature store's full PROBE-AND-APPEND lifecycle
    * as a stream — each micro-batch dedups against the standing corpus
    * AND every batch that came before it, then appends itself. Batch
    * membership must be deterministic for this to be oracle-checkable
    * (which doc saw which store state decides the pair set), so the
    * delta feeds through a MemoryStream in three fixed WAVES keyed by
    * `(doc_id div 20) % 3` — the wave index is plain integer arithmetic
    * the oracle replays: a pair (a, b) appears iff b is standing OR
    * b's wave precedes a's. w25 stays the probe-only file-stream gate
    * (a file source does not guarantee batch membership); this gate
    * completes it with the ordered-ingest semantics the suite's
    * chained-duplicate test pins by hand. The per-wave `addData` is a
    * delta-sized driver collect — gate plumbing, not the operator (the
    * production path streams from files/connector as in w25). */
  private[graft] def dedupAccreteStreamGate(spark: SparkSession,
      docsPath: String, retractMod7: Option[Int] = None): DataFrame = {
    import graft.functions.TextOps
    import spark.implicits._
    val docs = spark.read.parquet(docsPath).select("doc_id", "text")
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val store = gateDir("w26_store")
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    // w27's twist: a standing slice is RETRACTED before ingest begins —
    // every wave's probe must mask the tombstoned docs while the
    // accreted cross-wave pairing is unaffected (delta ids are
    // % 20 == 0, disjoint from the standing tombstone set)
    retractMod7.foreach(r => TextOps.retractFromSignatureStore(
      standing.where(col("doc_id") % 7 === r).select("doc_id"), store))
    val outDir = gateDir("w26_out")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    // `docs` (the full frame) is a superset of everything the store
    // can reference at any point in the accretion — the desync guard
    // needs containment, not equality
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(dedupStoreProbeBatch(docs, "doc_id", "text",
        store, outDir, n = 3, numHashes = 128, bands = 32,
        threshold = 0.5, accrete = true))
      .start()
    try {
      (0 until 3).foreach { w =>
        val wave = docs
          .where(col("doc_id") % 20 === 0)
          .where(expr("(doc_id div 20) % 3") === w)
          .as[(Long, String)].collect()
        input.addData(wave.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.read.schema(dedupStorePairsSchema).parquet(outDir)
      .select("id_a", "id_b", "jac") // drop the epoch partition column
  }

  /** PRODUCTION media-ingest sink — the `foreachBatch` body of a
    * streamed multimodal dedup pipeline: each micro-batch of arriving
    * media payloads `(media_id, bytes)` is DECODED executor-side with
    * the real kernel (ImageIO pixel decode — the mm07 boundary),
    * perceptually hashed with the pinned integer DCT pHash (the mm08
    * math), and its `(media_id, simhash)` rows land under `outDir` in
    * an epoch-keyed directory — the overwrite (not blind append) keeps
    * an at-least-once redelivered micro-batch from duplicating rows.
    * The hash spool is union-shaped state: ANY batching reaches the
    * same spool, so the downstream near-dup join (banded pigeonhole
    * Hamming — [[graft.functions.TextOps.simHashPairs]] over the spool)
    * is batching-invariant by construction. Per-batch work is linear in
    * the batch's pixel count; nothing corpus-sized runs in the hot
    * ingest path — the candidate join runs on hashes (8 bytes/media),
    * the natural cadence being probe-on-demand or post-compaction.
    *
    * 100 TB shape (r16 verdict prescription 5): decode and hash are
    * FUSED into one codegen'd expression
    * ([[graft.multimodal.MediaPhash]] — bytes in, 64-bit hash out), so
    * nothing pixel-shaped is ever materialized: the earlier sink
    * flatMapped each payload to `(id, y, x, v)` rows and checkpointed
    * them (~10⁶ block-manager rows per megapixel image per batch);
    * what is checkpointed now is ONE row per media (id + hash + null
    * flag), feeding both the spool write and the dead-letter write
    * from a single decode pass. The pixel-row SQL dataflow
    * ([[graft.multimodal.PinnedMediaMath.phashOf]]) remains the
    * oracle-replayed twin, and the w28 gate runs THIS fused path
    * against that oracle bit-for-bit. */
  def mediaPhashBatch(outDir: String): (DataFrame, Long) => Unit =
    mediaHashBatch(outDir,
      (s, bytes) => graft.multimodal.MediaPhash.column(s, bytes))

  /** [[mediaPhashBatch]]'s AUDIO sibling: PCM decode + 32-band
    * quadrature sign hash fused into one expression
    * ([[graft.multimodal.AudioBandHash]]) — the mm15 math as a streamed
    * ingest sink, same spool contract. */
  def audioBandHashBatch(outDir: String): (DataFrame, Long) => Unit =
    mediaHashBatch(outDir,
      (s, bytes) => graft.multimodal.AudioBandHash.column(s, bytes))

  /** The shared fused-kernel ingest sink: `(media_id, bytes)` in, the
    * epoch-idempotent `(media_id, simhash)` spool + `_undecoded`
    * dead-letter out. `hashOf` is the fused bytes→hash column (NULL =
    * undecodable payload). */
  private def mediaHashBatch(outDir: String,
      hashOf: (SparkSession, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column): (DataFrame, Long) => Unit =
    (batch: DataFrame, epochId: Long) => {
      val spark = batch.sparkSession
      val hashed = batch.select(col("media_id"),
          hashOf(spark, col("bytes")).as("simhash"))
        .localCheckpoint(true) // ONE decode pass feeds both writers below
      hashed.where(col("simhash").isNotNull)
        .write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
      // a payload the decoder rejects must not vanish silently
      // (code-review finding): its id lands in a dead-letter dir the
      // operator can monitor/re-drive — an at-least-once pipeline that
      // silently drops rows reads as "deduped" when it means "lost".
      // Same epoch-keyed overwrite idempotence as the spool. The fused
      // kernel marks these as NULL hashes, so no anti-join is needed.
      hashed.where(col("simhash").isNull).select("media_id")
        .write.mode("overwrite")
        .parquet(s"$outDir/_undecoded/epoch=$epochId")
    }

  /** The spool schema ([[mediaPhashBatch]]'s output): an all-empty run
    * writes no part files, and schema inference would throw where the
    * true answer is zero media. */
  val mediaHashSchema: String = "media_id BIGINT, simhash BIGINT"

  /** [[videoFrameHashBatch]]'s spool schema: one row per demuxed frame. */
  val videoFrameHashSchema: String =
    "media_id BIGINT, frame_idx INT, simhash BIGINT"

  /** The VIDEO member of the fused ingest sinks ([[mediaPhashBatch]]
    * image, [[audioBandHashBatch]] audio): each micro-batch of
    * `(media_id, bytes)` GVC1 payloads runs demux + per-frame decode +
    * pinned per-frame pHash fused in one expression
    * ([[graft.multimodal.VideoFrameHashes]]) and lands one spool row
    * PER FRAME — what is checkpointed is one row per clip (the small
    * hash array), never frames or pixels. Same epoch-idempotent
    * overwrite and `_undecoded` dead-letter contract as the siblings
    * (a clip with ANY torn frame dead-letters whole: the every-frame
    * near-dup semantics cannot honestly hash a partial decode). */
  def videoFrameHashBatch(outDir: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, epochId: Long) => {
      val spark = batch.sparkSession
      val hashed = batch.select(col("media_id"),
          graft.multimodal.VideoFrameHashes.column(spark, col("bytes"))
            .as("hashes"))
        .localCheckpoint(true) // ONE decode pass feeds both writers below
      // a ZERO-frame container is dead-lettered too: a non-null empty
      // array would posexplode to no spool rows AND miss the null
      // filter — the clip would vanish from both outputs, the silent
      // loss the dead-letter contract forbids (code-review finding)
      val decodable = col("hashes").isNotNull && size(col("hashes")) > 0
      hashed.where(decodable)
        .select(col("media_id"),
          posexplode(col("hashes")).as(Seq("frame_idx", "simhash")))
        .write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
      hashed.where(!decodable).select("media_id")
        .write.mode("overwrite")
        .parquet(s"$outDir/_undecoded/epoch=$epochId")
    }

  /** w28's gate: the multimodal dedup lifecycle as a STREAM — media
    * payloads (the deterministic fixture corpus plus re-keyed planted
    * duplicates, as PNG BYTES) arrive in file-source micro-batches;
    * each batch runs the REAL ImageIO decode and the pinned pHash
    * ([[mediaPhashBatch]]), and the accreted hash spool feeds the same
    * banded Hamming join the batch path rides (mm14). End-to-end under
    * the oracle: the DuckDB replay starts from the COMMITTED fixture
    * planes (hash chain + exact 64-bit all-pairs Hamming — mm14's
    * oracle verbatim), so the live streamed decode must reproduce the
    * fixture bit-for-bit AND the hash/join math must match — chaining
    * the mm07 decode gate and the mm08 math gate through streaming
    * plumbing in one answer. Batching-invariant (per-media hashes,
    * union-shaped spool), so the file source's arbitrary batch
    * membership is fine. GATE-ONLY scope (the r10 convention): callers
    * with real streams use [[mediaPhashBatch]] directly. */
  private[graft] def mediaNearDupStreamGate(spark: SparkSession,
      maxHamming: Int): DataFrame =
    mediaSpoolPairs(spark,
      streamedMediaGateSpool(spark, "image", "w28", mediaPhashBatch),
      maxHamming)

  /** Shared harness of the w28/w29/w31 gates (ONE copy — code-review
    * finding: three drifting verbatim copies): plant re-keyed
    * duplicates of the fixture's `kind` clips, spool them as SEVERAL
    * parquet files so AvailableNow + maxFilesPerTrigger=1 delivers
    * several real micro-batches, drain the stream through `sink`, and
    * return the hash-spool dir for the caller's pairing read. */
  private def streamedMediaGateSpool(spark: SparkSession, kind: String,
      label: String,
      sink: String => (DataFrame, Long) => Unit): String = {
    import spark.implicits._
    val media = graft.multimodal.MediaFixture.media(spark)
      .filter(_.meta.kind == kind)
    val planted = media.union(
      media.map(m => m.copy(media_id = m.media_id + 1000000L)))
    val spool = gateDir(s"${label}_spool")
    planted.toDF().select("media_id", "bytes")
      .repartition(6)
      .write.mode("overwrite").parquet(spool)
    val outDir = gateDir(s"${label}_hashes")
    drainInto(fileBatches(spark, spool, "media_id BIGINT, bytes BINARY"),
      sink(outDir))
    outDir
  }

  /** A parquet directory streamed one file per micro-batch. */
  private def fileBatches(spark: SparkSession, dir: String,
      schemaDdl: String): DataFrame =
    spark.readStream.schema(schemaDdl)
      .option("maxFilesPerTrigger", 1).parquet(dir)

  /** w29's gate: [[mediaNearDupStreamGate]]'s AUDIO sibling — clip
    * payloads (the deterministic fixture corpus plus re-keyed planted
    * duplicates, as WAV BYTES) arrive in file-source micro-batches;
    * each batch runs the REAL javax.sound PCM decode and the pinned
    * 32-band quadrature sign hash fused in one expression
    * ([[audioBandHashBatch]] — the mm09 decode boundary + the mm15
    * math), and the accreted spool feeds the same banded Hamming join.
    * Oracle = mm15's replay verbatim (committed sample fixture → band
    * sums → signs → exact 64-bit all-pairs Hamming), so the live
    * streamed decode must reproduce the fixture bit-for-bit AND the
    * fused hash must match the sample-row SQL dataflow — the audio
    * decode gate and band math chained through streaming plumbing
    * under one bit-exact check. GATE-ONLY scope (the r10 convention):
    * callers with real streams use [[audioBandHashBatch]] directly. */
  private[graft] def audioNearDupStreamGate(spark: SparkSession,
      maxHamming: Int): DataFrame =
    mediaSpoolPairs(spark,
      streamedMediaGateSpool(spark, "audio", "w29", audioBandHashBatch),
      maxHamming)

  /** w31's gate: the streamed-triad's VIDEO member (w28 image, w29
    * audio) — GVC1 video payloads (fixture corpus plus re-keyed
    * planted duplicates) arrive in file-source micro-batches; each
    * batch runs the fused demux+decode+per-frame-pHash kernel
    * ([[videoFrameHashBatch]]), and the accreted per-frame spool rides
    * the SAME every-aligned-frame banded pairing mm16 uses
    * ([[graft.multimodal.PinnedMediaMath.videoPairsFromFrameHashes]]).
    * Oracle = mm16's replay verbatim, so the demux boundary, the
    * per-frame hash chain, the streaming plumbing, and the video
    * pairing rule sit under one bit-exact check. */
  private[graft] def videoNearDupStreamGate(spark: SparkSession,
      maxHamming: Int): DataFrame =
    graft.multimodal.PinnedMediaMath.videoPairsFromFrameHashes(
      readVideoFrameSpool(spark,
        streamedMediaGateSpool(spark, "video", "w31", videoFrameHashBatch)),
      maxHamming)

  /** PUBLIC duplicate-tolerant read of a PER-FRAME hash spool
    * ([[videoFrameHashBatch]]'s output) — [[readMediaSpool]]'s video
    * sibling, carrying the same compaction-crash duplicate contract. */
  def readVideoFrameSpool(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(videoFrameHashSchema).parquet(outDir)
      .select("media_id", "frame_idx", "simhash") // drop the epoch col
      .distinct()

  /** w32's gate: the cross-modal duplicate CLOSURE (mm17) as a STREAM —
    * both modality spools accrete in micro-batches, then one graph
    * closes over their union (r17 verdict item 4). The IMAGE half
    * streams the planted noise-plane corpus as PNG BYTES through the
    * fused decode+hash kernel ([[mediaPhashBatch]] — w28's ingest
    * shape) into the epoch-idempotent hash spool; the CAPTION half
    * streams `(item_id, caption)` rows into an epoch-keyed text spool
    * with the same overwrite-idempotence contract. The closure then
    * rides mm17's machinery verbatim over the two accreted spools:
    * banded Hamming pairs ∪ prefix-filtered 3-gram Jaccard pairs →
    * connected components. Oracle = mm17's DuckDB replay verbatim
    * (plane generation, DCT hash chain, shingle Jaccard, edge union,
    * recursive transitive closure), so the streamed decode must equal
    * the SQL-generated planes bit-for-bit AND the closure must
    * co-cluster the two derivatives that share NO modality. Batching-
    * invariant by construction (per-item hashes/captions, union-shaped
    * spools) — suite-pinned equal to the batch closure. GATE-ONLY
    * scope (the r10 convention): production callers point
    * [[mediaPhashBatch]] and their caption sink at real streams and
    * run the same two-spool closure read. */
  private[graft] def crossModalStreamGate(spark: SparkSession,
      maxHamming: Int): DataFrame = {
    import spark.implicits._
    import graft.multimodal.PinnedMediaMath
    val base = gateDir("w32_gate")
    // image half: several source files → several real micro-batches,
    // each through the fused bytes→pHash kernel
    PinnedMediaMath.crossModalPngRows.toDF("media_id", "bytes")
      .repartition(6).write.mode("overwrite").parquet(s"$base/png_src")
    drainInto(fileBatches(spark, s"$base/png_src",
      "media_id BIGINT, bytes BINARY"), mediaPhashBatch(s"$base/hashes"))
    // caption half: the 240-item caption table accretes epoch-keyed
    PinnedMediaMath.crossModalCaptions(spark)
      .repartition(6).write.mode("overwrite").parquet(s"$base/cap_src")
    drainInto(fileBatches(spark, s"$base/cap_src",
        "item_id BIGINT, caption STRING"),
      (b: DataFrame, epochId: Long) => b.write.mode("overwrite")
        .parquet(s"$base/captions/epoch=$epochId"))
    // the closure over the two accreted spools — mm17's machinery;
    // the image side reads through mediaSpoolPairs, the ONE documented
    // spool→banded-Hamming composition the w28–w30 gates share
    val imgEdges = mediaSpoolPairs(spark, s"$base/hashes", maxHamming)
      .select(col("id_a"), col("id_b"))
    val caps = spark.read.schema("item_id BIGINT, caption STRING")
      .parquet(s"$base/captions")
      .select("item_id", "caption").distinct() // fold crash duplicates
    val txtEdges = graft.functions.TextOps
      .ngramJaccardPairs(caps, "item_id", "caption", 3, 0.5)
      .select(col("id_a"), col("id_b"))
    graft.functions.ScaleOps.connectedComponents(
        caps.select("item_id"), "item_id",
        imgEdges.unionByName(txtEdges).distinct())
      .orderBy("item_id")
  }

  /** Build + register the w30 media sim-org under `orgName`, recipe
    * provider wired for executor-side rebuild; returns the landing
    * function (inserts in the org's ≤200-row chunk contract). ONE copy
    * of the construction the gate, the crash child, and the hard-kill
    * test's run 2 all need (code-review finding: three drifting
    * copies). */
  private[graft] def buildMediaOrg(orgName: String)
      : Seq[org.apache.spark.sql.Row] => Unit = {
    import graft.sources.{InMemoryOrg, MediaOrgRecipe, RemoteOrgRegistry}
    val simOrg = new InMemoryOrg
    simOrg.createTable("Media__c", MediaOrgRecipe.schema)
    simOrg.recipeProvider =
      () => Some(MediaOrgRecipe(simOrg.rowCount("Media__c")))
    RemoteOrgRegistry.register(orgName, simOrg)
    rs => rs.grouped(200).foreach(chunk =>
      simOrg.insert("Media__c", chunk, MediaOrgRecipe.schema))
  }

  /** w30's gate: media payloads arriving through the CONNECTOR source —
    * w22's recovery semantics married to the fused multimodal
    * pipeline. The planted image corpus lands in the sim
    * org as base64 `Body__c` strings (the Salesforce-faithful wire
    * shape for binary fields); the PK-cursor micro-batch source streams
    * them under a small admission cap; each micro-batch decodes base64
    * and runs the FUSED bytes→pHash kernel into the epoch-idempotent
    * hash spool ([[mediaPhashBatch]]). Run 1 is STOPPED mid-backfill
    * with most rows unread; the duplicates half lands while the stream
    * is down; run 2 restarts from the same checkpoint and drains. The
    * final banded Hamming join must equal mm14's oracle verbatim —
    * which only happens if the restart resumed the checkpointed Id
    * cursor (a reset cursor re-hashes run 1's pages into LATER epochs:
    * harmless for the union-shaped spool, but a skipped-ahead cursor
    * loses unread media and their pairs) AND the connector-side decode
    * + fused hash is bit-identical to the fixture replay. GATE-ONLY
    * scope: production callers point [[mediaPhashBatch]]'s foreachBatch
    * at their own connector stream. */
  private[graft] def mediaConnectorStreamGate(spark: SparkSession,
      maxHamming: Int): DataFrame = {
    import graft.sources.MediaOrgRecipe
    val orgName = s"w30_org_${gateRunSeq.incrementAndGet()}"
    val base = gateDir("w30_gate")
    val land = buildMediaOrg(orgName)
    val rows = MediaOrgRecipe.rows
    // originals land before the crash; the re-keyed duplicates land
    // while the stream is down — so every near-dup PAIR straddles the
    // restart and exists only if the cursor resumed correctly
    val (h1, h2) = rows.splitAt(rows.length / 2)
    val cap = 16 // 80 originals / 16 = 5 micro-batches in run 1
    land(h1)
    stopMidBackfillThenDrain(
      () => mediaConnectorSinkStream(spark, orgName, base, cap), h1.length, cap) {
      land(h2) // the duplicates land while the stream is down
    }
    mediaSpoolPairs(spark, s"$base/hashes", maxHamming)
  }

  /** The connector media stream both w30 recovery tests share: the
    * PK-cursor source over `Media__c` under a small admission cap,
    * base64-decoded into the fused pHash sink, hashes spooled under
    * `$base/hashes`, checkpoint at `$base/ckpt`. */
  private[graft] def mediaConnectorSinkStream(spark: SparkSession,
      orgName: String, base: String, cap: Int = 16) =
    spark.readStream.format("salesforce-sim")
      .option("org", orgName).option("sObject", "Media__c")
      .option("maxRecordsPerBatch", cap.toString).load()
      .writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        mediaPhashBatch(s"$base/hashes")(
          batch.select(col("MKey__c").cast("long").as("media_id"),
            unbase64(col("Body__c")).as("bytes")),
          epochId)
      }
      .option("checkpointLocation", s"$base/ckpt")

  /** PUBLIC duplicate-tolerant spool read — THE way to read a media
    * hash spool: the `distinct()` folds the exact-duplicate rows a
    * [[compactMediaSpool]] crash window can leave (consolidated batch
    * committed, consumed epoch dirs not yet deleted). A raw
    * `spark.read.parquet(outDir)` would see every media in the
    * consumed epochs twice after such a crash and duplicate every
    * pair downstream (code-review finding: the crash contract held
    * only for package-internal readers while compaction was public). */
  def readMediaSpool(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(mediaHashSchema).parquet(outDir)
      .select("media_id", "simhash") // drop the epoch partition column
      .distinct()

  /** The spool → banded-Hamming pair read the w28–w30 gates share. */
  private[graft] def mediaSpoolPairs(spark: SparkSession, outDir: String,
      maxHamming: Int): DataFrame =
    graft.functions.TextOps
      .simHashPairs(readMediaSpool(spark, outDir), "media_id", maxHamming)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("int").as("hamming"))

  /** Fold the accreted media-hash spool's epoch directories into ONE
    * consolidated directory — a year of micro-batches is tens of
    * thousands of tiny `epoch=N` dirs, paid on every listing and scan
    * (the store-compaction argument at the spool). Run it while the
    * ingest stream is STOPPED after a drain, so every epoch is final
    * (a replay after restart only ever rewrites a NOT-yet-committed
    * epoch, which a drain leaves none of).
    *
    * Crash-safe without a manifest: the consolidated batch lands under
    * a NEGATIVE epoch one below the smallest existing (real batch ids
    * are never negative, so no future replay can overwrite it; a prior
    * consolidation folds in like any other epoch), committed by staged
    * rename BEFORE the consumed dirs are deleted. A crash between the
    * two leaves exact-duplicate rows — which every spool read folds
    * with `distinct()` ([[mediaSpoolPairs]]) — and the next compaction
    * converges. */
  def compactMediaSpool(spark: SparkSession, outDir: String,
      numFiles: Int = 8): Unit = {
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    // one pass per level: the hash spool itself, and the `_undecoded`
    // dead-letter spool, which accretes one (usually empty) epoch dir
    // per micro-batch too — folding only the hashes would leave half
    // the small-files tax in place (code-review finding)
    compactEpochDirs(spark, fs, root, numFiles)
    val dead = new org.apache.hadoop.fs.Path(root, "_undecoded")
    if (fs.exists(dead)) compactEpochDirs(spark, fs, dead, numFiles,
      schemaDdl = "media_id BIGINT")
  }

  /** Fold one level of `epoch=N` dirs under `base` into a consolidated
    * negative epoch; staged-rename-committed before the consumed dirs
    * die. ONE maintenance runner at a time (same stance as the stores;
    * run it with the ingest stream stopped). */
  private def compactEpochDirs(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path, numFiles: Int,
      schemaDdl: String = mediaHashSchema): Unit = {
    val children = fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
    // sweep staging orphans first: a crash between the staging write
    // and its rename leaves a FULL consolidated copy of this level —
    // invisible to reads, but repeated crash-retry cycles would
    // accumulate whole-spool copies inside the very routine meant to
    // shrink the footprint (code-review finding). One maintenance
    // runner at a time, so no live compactor's staging is swept.
    children.filter(_.getName.startsWith("_staging_"))
      .foreach(fs.delete(_, true))
    val epochDirs = children.filter(_.getName.startsWith("epoch="))
    if (epochDirs.length <= 1) return // already consolidated (or empty)
    // the staged-rename commit needs the same filesystem contract as
    // the stores (and the consolidated dir must keep its files intact)
    graft.functions.FsCommit.requireAtomicCommits(fs, base.toString,
      "media hash spool")
    val target = math.min(-1L,
      epochDirs.map(_.getName.stripPrefix("epoch=").toLong).min - 1)
    val staging = new org.apache.hadoop.fs.Path(base,
      s"_staging_${java.util.UUID.randomUUID()}")
    spark.read.schema(schemaDdl)
      .parquet(epochDirs.map(_.toString).toSeq: _*)
      .distinct() // fold duplicates a previous crash window left
      .coalesce(numFiles)
      .write.parquet(staging.toString)
    val committed = new org.apache.hadoop.fs.Path(base, s"epoch=$target")
    if (!fs.rename(staging, committed)) {
      fs.delete(staging, true)
      throw new IllegalStateException(
        s"could not commit consolidated spool batch to $committed")
    }
    epochDirs.foreach(fs.delete(_, true))
  }

  /** Admission cap for the w30 HARD-KILL pair (child free-run + the
    * suite's mid-backfill guard): 4 rows/batch → 20 micro-batches for
    * the originals half, so the parent's poll-detect-kill latency after
    * commit 0 cannot plausibly let the child drain everything first
    * (code-review finding: at the gate's cap of 16 the child needed
    * only 5 batches, a flake window on a fast host). The suite derives
    * its drain math from THIS constant. */
  private[graft] val MediaCrashCap = 4

  /** Forked-JVM child of the HARD-KILL w30 variant: build the media
    * org with the ORIGINALS half landed, free-run the connector media
    * stream against the checkpoint/spool under `base`, and never
    * return — the parent `destroyForcibly`s this process mid-batch, so
    * a spool epoch dir can die HALF-WRITTEN with no clean abort (the
    * torn-parquet window the epoch-keyed overwrite must absorb on
    * replay). */
  private[graft] def mediaCrashChildRun(spark: SparkSession,
      base: String): Unit = {
    import graft.sources.MediaOrgRecipe
    val land = buildMediaOrg("w30_crash_child")
    land(MediaOrgRecipe.rows.take(MediaOrgRecipe.rows.length / 2))
    mediaConnectorSinkStream(spark, "w30_crash_child", base,
      cap = MediaCrashCap).start()
      .awaitTermination() // killed externally
  }

  /** w20's gate: STREAMING index ingest — the s18/s19 serving lifecycle
    * driven by Structured Streaming: the index bootstraps from the 16
    * codebook vectors, the rest of the corpus arrives as a stream and
    * each micro-batch appends its assignments under the frozen codebook
    * (`foreachBatch` → [[graft.functions.VectorOps.appendPinnedIvfIndex]]
    * — per-row work, so ANY batching reaches the same index), and the
    * final query must equal the full-corpus compute-in-place answer
    * (s11's oracle, shared verbatim). maxFilesPerTrigger=1 forces
    * multiple micro-batches so the batching-invariance claim is
    * exercised, not assumed. */
  def streamingIndexIngestGate(spark: SparkSession,
      embPath: String): DataFrame = {
    import graft.functions.VectorOps
    val path = gateDir("w20_index")
    val emb = spark.read.parquet(embPath)
    VectorOps.buildPinnedIvfIndex(emb.where(col("vec_id") < 16),
      "vec_id", "embedding", nlist = 16, path = path)
    // the tail of the corpus as a stream: one input file per micro-batch
    // (eventStream handles schema inference and the file-vs-directory
    // glob; it is table-agnostic despite the name)
    val stream = eventStream(spark, embPath, Some(1))
      .where(col("vec_id") >= 16)
    // fresh per-run root => fresh lineage (a durable-checkpoint caller
    // derives it from the checkpoint instead: VectorOps.lineageOfCheckpoint)
    val lineage = java.util.UUID.randomUUID().toString
    drainInto(stream, (batch: DataFrame, batchId: Long) =>
      // batch-keyed overwrite, NOT blind append: foreachBatch is
      // at-least-once, so a retried batch must replace itself
      VectorOps.appendPinnedIvfIndexBatch(batch, "vec_id", "embedding",
        path, batchId, lineage))
    VectorOps.queryPinnedIvfIndex(spark, path,
      emb.where(col("vec_id") < 20), "vec_id", "embedding",
      k = 5, nprobe = 6)
  }

  /** w23's gate: STREAMING index MAINTENANCE — the CDC shape of the
    * persisted-index lifecycle: the index bootstraps from the 16
    * codebook vectors; every arriving micro-batch both APPENDS its
    * rows (batch-keyed idempotent overwrite, w20's recipe) and
    * DELETES its doomed slice (an append-only tombstone drop — the
    * CDC delete face; a retried batch appends duplicate tombstone
    * rows, which is idempotent because serving anti-joins the DISTINCT
    * id set and tombstoning an id twice deletes it once). After the
    * stream drains, one maintenance compaction applies the accumulated
    * tombstones physically. The final query must equal s21's oracle —
    * compute-in-place over the surviving corpus — so a lost tombstone,
    * a delete racing its own batch's append, or a compaction that
    * resurrects a deleted row all hash-mismatch. */
  def streamingIndexMaintainGate(spark: SparkSession,
      embPath: String): DataFrame = {
    import graft.functions.VectorOps
    val path = gateDir("w23_index")
    val emb = spark.read.parquet(embPath)
    VectorOps.buildPinnedIvfIndex(emb.where(col("vec_id") < 16),
      "vec_id", "embedding", nlist = 16, path = path)
    val isDoomed = col("vec_id") >= 100 && col("vec_id") % 5 === 2
    val stream = eventStream(spark, embPath, Some(1))
      .where(col("vec_id") >= 16)
    val lineage = java.util.UUID.randomUUID().toString
    drainInto(stream, { (batch: DataFrame, batchId: Long) =>
      VectorOps.appendPinnedIvfIndexBatch(batch, "vec_id", "embedding",
        path, batchId, lineage)
      VectorOps.deleteFromPinnedIvfIndex(batch.where(isDoomed),
        "vec_id", path)
    })
    VectorOps.compactPinnedIvfIndex(spark, path)
    VectorOps.queryPinnedIvfIndex(spark, path,
      emb.where(col("vec_id") < 20), "vec_id", "embedding",
      k = 5, nprobe = 6)
  }

  final case class Doc(key: String, doc_id: Long, text: String)

  /** Streaming exact dedup: first occurrence of each content key wins,
    * later duplicates are dropped — flatMapGroupsWithState keeping one
    * boolean per seen key. The streaming face of d01_exact_dedup; pair
    * with a TTL timeout in production so the seen-set doesn't grow
    * unboundedly. */
  def streamingDedup(docs: Dataset[Doc]): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.key)
      .flatMapGroupsWithState[Boolean, Doc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.take(1) // first occurrence within the batch wins too
          }
      }
  }

  /** Stream-stream interval join: rows match when keys are equal and the
    * left event lands within [rightTs, rightTs + maxDelay]. Watermarks on
    * BOTH sides bound the join state — without them a stream-stream join
    * buffers forever. */
  def intervalJoin(
      left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, maxDelay: String,
      lateness: String): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r,
      l(key) === r(key) &&
        l.col(leftTs) >= r.col(rightTs) &&
        l.col(leftTs) <= r.col(rightTs) + expr(s"INTERVAL $maxDelay"))
      .drop(r(key)) // one unambiguous key column in the output
  }

  /** Streaming dedup bounded by the watermark: duplicates of a key are
    * dropped as long as they arrive within `lateness` of the first
    * occurrence; state for old keys is reclaimed — the unbounded-corpus
    * form of [[streamingDedup]] (which keeps its seen-set forever). */
  def dedupWithinWatermark(
      df: DataFrame, keys: Seq[String], tsCol: String,
      lateness: String): DataFrame =
    df.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Runs the compiled mapping projection incrementally: every
    * micro-batch is transformed with the same MappingCompiler program the
    * batch engine uses and appended via the sink callback — the
    * streaming form of migrate()'s extract→transform→load. */
  def migrateStream(
      stream: DataFrame,
      spec: graft.spec.MappingSpec,
      trigger: Option[Trigger] = None)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val writer = migrateWriter(stream, spec)(sink)
    trigger.fold(writer)(writer.trigger).start()
  }

  /** [[migrateStream]]'s unstarted writer; m11's gate drives it through
    * [[runToEnd]]. */
  private def migrateWriter(stream: DataFrame, spec: graft.spec.MappingSpec)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val out = graft.compile.MappingCompiler.destinationRows(
          spec.whereExpr.map(w => batch.where(expr(w))).getOrElse(batch), spec)
        sink(out, id)
      }

  /** m11's gate: the reference's OWN pipeline — extract → where →
    * rename/enrich projection → created-ID write-back pairing (the m02
    * shape, migration_engine.py:50-68) — run END TO END through
    * Structured Streaming instead of the batch engine. The source
    * parquet streams in (dressed to the Salesforce-ish source-object
    * schema by `dress`), every micro-batch runs the SAME compiled
    * MappingCompiler program batch mode uses, created IDs are simulated
    * exactly as m02 does ("D" + old_id), and the write-back pairs land
    * in a parquet sink that the gate reads back. Per-batch work is a
    * stateless narrow projection — batching cannot change the row set,
    * so the terminal sink equals the batch m02 result and the m02-style
    * oracle hash-gates a streaming execution of the product pipeline. */
  def migrateStreamGate(spark: SparkSession, srcPath: String,
      spec: graft.spec.MappingSpec, dress: DataFrame => DataFrame,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val outDir = gateDir("m11_sink")
    val stream = dress(eventStream(spark, srcPath, maxFilesPerTrigger))
    runToEnd(migrateWriter(stream, spec) { (out, _) =>
      val created = out.withColumn("Id", concat(lit("D"), col("old_id")))
      graft.compile.MappingCompiler.writeBackRows(created, spec)
        .write.mode("append").parquet(outDir)
    })
    spark.read.parquet(outDir)
  }

  /** w11's gate: the stream-STREAM interval join ([[intervalJoin]])
    * through the engine — view→click attribution: each click pairs with
    * the same user's views from the preceding `maxDelay`. Inner
    * stream-stream joins emit matches in the micro-batch that finds
    * them, and with `lateness` wider than the corpus' time span no join
    * state is ever evicted, so the terminal sink holds exactly the
    * batch join result under ANY batching — which is what lets a DuckDB
    * oracle hash-gate it. Production streams shrink `lateness` to the
    * real out-of-orderness bound and state stays O(events within the
    * watermark), the property the operator exists for. */
  def intervalJoinGate(spark: SparkSession, eventsPath: String,
      maxDelay: String = "2 hours", lateness: String = "35 days",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    def side(tpe: String, idAs: String, tsAs: String): DataFrame =
      retagTs(eventStream(spark, eventsPath, maxFilesPerTrigger))
        .where(col("event_type") === tpe)
        .select(col("user_id"), col("event_id").as(idAs), col("ts").as(tsAs))
    val joined = intervalJoin(
      side("click", "click_id", "click_ts"),
      side("view", "view_id", "view_ts"),
      key = "user_id", leftTs = "click_ts", rightTs = "view_ts",
      maxDelay = maxDelay, lateness = lateness)
      .select(col("user_id"), col("view_id"), col("click_id"))
    toMemory(joined, "w11", OutputMode.Append)
  }

  /** w14's gate: LEFT OUTER stream-stream interval join — the
    * watermark-governed face of w11: matches emit as found (the inner
    * part), while an UNMATCHED click emits (user, NULL, click_id) only
    * when the global watermark passes the point where a matching view
    * can no longer arrive (right side exhausted for that click's
    * window). With AvailableNow the engine runs a final no-data batch,
    * so the terminal sink is exactly: matches ∪ unmatched clicks whose
    * ts precedes the terminal watermark — both replayable in SQL (the
    * terminal watermark is min(side max ts) - lateness). Clicks inside
    * the terminal lateness window stay buffered and are deterministically
    * ABSENT — that boundary is the semantics being gated. */
  def intervalJoinLeftOuterGate(spark: SparkSession, eventsPath: String,
      maxDelay: String = "2 hours", lateness: String = "1 hour",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    def side(tpe: String, idAs: String, tsAs: String): DataFrame =
      retagTs(eventStream(spark, eventsPath, maxFilesPerTrigger))
        .where(col("event_type") === tpe)
        .select(col("user_id"), col("event_id").as(idAs), col("ts").as(tsAs))
    val l = side("click", "click_id", "click_ts").withWatermark("click_ts", lateness)
    val r = side("view", "view_id", "view_ts").withWatermark("view_ts", lateness)
    val joined = l.join(r,
        l("user_id") === r("user_id") &&
          l.col("click_ts") >= r.col("view_ts") &&
          l.col("click_ts") <= r.col("view_ts") + expr(s"INTERVAL $maxDelay"),
        "left_outer")
      .select(l("user_id"), col("view_id"), col("click_id"))
    toMemory(joined, "w14", OutputMode.Append)
  }

  /** w12's gate: [[dedupWithinWatermark]] —
    * `dropDuplicatesWithinWatermark`, the RECLAIMABLE-state face of
    * streaming dedup (w09 keeps its seen-set forever) — through the
    * engine, deduping (user, type, minute-bucket) activity records.
    * Only the key columns are emitted (which physical duplicate wins is
    * partition-order racy; the key set is not). With `lateness` wider
    * than the corpus' time span no dedup state expires before the
    * stream ends, so the sink equals batch DISTINCT over the keys under
    * any batching and the oracle replays it; production streams set
    * `lateness` to the real duplicate-arrival bound and state shrinks
    * to the active window — the reason this operator, not w09's, is the
    * unbounded-corpus choice. */
  def dedupWatermarkGate(spark: SparkSession, eventsPath: String,
      lateness: String = "35 days",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ev = retagTs(eventStream(spark, eventsPath, maxFilesPerTrigger))
    val deduped = dedupWithinWatermark(
      ev.select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("minute_ms", unix_millis(date_trunc("minute", col("ts")))),
      keys = Seq("user_id", "event_type", "minute_ms"),
      tsCol = "ts", lateness = lateness)
      .select(col("user_id"), col("event_type"), col("minute_ms"))
    toMemory(deduped, "w12", OutputMode.Append)
  }

  /** Streaming near-dup detection against a STANDING corpus — the
    * stream-static face of d11 (incremental ingest dedup): the corpus
    * sketch (exploded LSH band keys + hashed shingle sets) is computed
    * ONCE and checkpointed; each micro-batch sketches only its own documents
    * (pure column expressions — no state), probes the static band table
    * with a stream-static join, and verifies candidates with the exact
    * codegen Jaccard. Emits (doc_id, dup_of, jac) per detected
    * near-duplicate, exactly once per pair: the multi-band collapse is a
    * stateful streaming dropDuplicates, which also suppresses cross-batch
    * re-detections. Like [[streamingDedup]], that state grows with the
    * pair count — production streams with event time should swap in
    * dropDuplicatesWithinWatermark for reclaimable state.
    *
    * The two corpus checkpoints below live as long as the returned
    * streaming query's plan holds them, and are materialized here so no
    * micro-batch recomputes the corpus sketch. */
  def streamNearDups(
      stream: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    import graft.functions.{IntersectSize, MinHashSig, ShingleHashes, TextOps}
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val spark = corpus.sparkSession
    val r = numHashes / bands

    // ---- static side, computed once per query start ----
    val corpusSh = TextOps.hashedShingleSets(corpus, idCol, textCol, n)
      .select(col("__id").as("dup_of"), col("__sh").as("__sh_c"))
      .localCheckpoint()
    // the band sketch derives from the SAME hash table the exact
    // verify reads — the corpus is shingled once, and no shingle string
    // is built on either side (MinHashSig consumes the longs directly)
    val corpusBands = corpusSh
      .select(col("dup_of"),
        MinHashSig.column(spark, col("__sh_c"), numHashes).as("__sig"))
      .select(col("dup_of"),
        explode(TextOps.lshBandKeys(col("__sig"), bands, r)).as("__key"))
      .localCheckpoint()

    // ---- stream side: one narrow projection chain per micro-batch ----
    val toks = TextOps.tokens(col(textCol))
    val sketched = stream
      .select(col(idCol).as("doc_id"), toks.as("__toks"))
      .where(size(col("__toks")) >= n)
      .select(col("doc_id"),
        // same codegen kernel as the corpus side — the exact-verify join
        // compares the two hash spaces directly, so they MUST match
        ShingleHashes.column(spark, col("__toks"), n).as("__sh_s"))
      .select(col("doc_id"), col("__sh_s"),
        MinHashSig.column(spark, col("__sh_s"), numHashes).as("__sig"))
      .select(col("doc_id"), col("__sh_s"),
        explode(TextOps.lshBandKeys(col("__sig"), bands, r)).as("__key"))

    sketched
      .join(corpusBands, Seq("__key")) // stream-static equi-join
      .select(col("doc_id"), col("dup_of"), col("__sh_s"))
      .dropDuplicates("doc_id", "dup_of") // collapse multi-band hits
      .join(corpusSh, Seq("dup_of"))
      .withColumn("__i",
        IntersectSize.column(spark, col("__sh_s"), col("__sh_c")).cast("double"))
      .select(col("doc_id"), col("dup_of"),
        (col("__i") / (size(col("__sh_s")) + size(col("__sh_c")) - col("__i")))
          .as("jac"))
      .where(col("jac") >= threshold)
  }
}
