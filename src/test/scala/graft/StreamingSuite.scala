package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streams
import graft.streaming.Streams.{Doc, UserEvent}

/** Streaming behavior that batch oracles can't see: watermark-driven
  * late-data dropping, cross-micro-batch state, and streaming dedup. */
class StreamingSuite extends SparkSuite {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("tumbling window with watermark drops late events") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = Streams.tumblingCounts(
      input.toDF().toDF("ts", "event_type", "value"),
      "ts", lateness = "10 minutes", windowLength = "1 hour")
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("tumbling").start()
    try {
      // batch 1: events in hour 10; watermark advances to 11:30-0:10=11:20
      input.addData((ts(5), "a", 1.0), (ts(30), "a", 2.0),
        (Timestamp.valueOf("2024-01-01 11:30:00"), "b", 3.0))
      q.processAllAvailable()
      // batch 2: event at 10:40 is 40+ min late -> dropped; 11:40 is fine
      input.addData((ts(40), "a", 99.0),
        (Timestamp.valueOf("2024-01-01 11:40:00"), "b", 4.0))
      q.processAllAvailable()
      // batch 3: push watermark past 12:00 to finalize hour-11 windows
      input.addData((Timestamp.valueOf("2024-01-01 12:30:00"), "c", 0.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .select(date_format(col("window_start"), "HH:mm").as("w"),
          col("event_type"), col("n"), col("sum_value"))
        .as[(String, String, Long, Double)].collect().toSet
      // hour-10 'a' closed with ONLY the two on-time events (99.0 dropped)
      assert(rows.contains(("10:00", "a", 2L, 3.0)), s"got $rows")
      assert(rows.contains(("11:00", "b", 2L, 7.0)), s"got $rows")
    } finally q.stop()
  }

  test("windowTopK: custom aggregate runs in a streaming window, late events excluded") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val agg = Streams.windowTopK(
      input.toDF().toDF("ts", "event_id", "value"),
      "ts", lateness = "10 minutes", windowLength = "1 hour", k = 2)
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wtopk").start()
    try {
      input.addData((ts(5), 1L, 10.0), (ts(10), 2L, 30.0), (ts(20), 3L, 20.0),
        (ts(25), 4L, 30.0))
      q.processAllAvailable()
      // late event with a huge value arrives after the watermark passed
      // the hour-10 window: it must NOT displace the on-time top-2
      input.addData((Timestamp.valueOf("2024-01-01 12:30:00"), 9L, 1.0))
      q.processAllAvailable()
      input.addData((ts(59), 5L, 999.0)) // > 10 min late vs 12:20 watermark
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-01 13:45:00"), 10L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("wtopk")
        .select(date_format(col("window_start"), "HH:mm").as("w"),
          col("rank"), col("event_id"))
        .as[(String, Long, Long)].collect().toSet
      // ties (30.0 at ids 2 and 4) break by id asc; 999.0 was dropped
      assert(rows.contains(("10:00", 1L, 2L)) && rows.contains(("10:00", 2L, 4L)),
        s"got $rows")
      assert(!rows.exists(_._3 == 5L), s"late event leaked into $rows")
    } finally q.stop()
  }

  test("mapGroupsWithState carries per-user state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val out = Streams.runningUserTotals(input.toDS())
    val q = out.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("totals").start()
    try {
      input.addData(UserEvent(1L, 10.0), UserEvent(1L, 5.0), UserEvent(2L, 1.0))
      q.processAllAvailable()
      input.addData(UserEvent(1L, 2.0))
      q.processAllAvailable()
      // user 1: state accumulated 2 events then +1 across batches
      assert(spark.table("totals").where(col("user_id") === 1 && col("n") === 3
        && col("total") === 17.0).count() == 1)
      assert(spark.table("totals").where(col("user_id") === 2 && col("n") === 1).count() == 1)
    } finally q.stop()
  }

  test("streamingDedup emits only the first occurrence of each key") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val out = Streams.streamingDedup(input.toDS())
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup").start()
    try {
      input.addData(Doc("k1", 1L, "x"), Doc("k1", 2L, "x"), Doc("k2", 3L, "y"))
      q.processAllAvailable()
      input.addData(Doc("k1", 4L, "x"), Doc("k3", 5L, "z"))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 3L, 5L), s"got $ids")
    } finally q.stop()
  }

  test("migrateStream applies the mapping program per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, Double, String)]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val q = Streams.migrateStream(
      input.toDF().toDF("Id", "name", "acctbal", "dst_ref"),
      graft.queries.Mapping.customerSpec) { (batch, _) =>
      collected ++= batch.select("old_id", "name")
        .collect().map(r => (r.getString(0), r.getString(1)))
    }
    try {
      input.addData(("1", "low", 10.0, null), ("2", "hi", 5000.0, null))
      q.processAllAvailable()
      input.addData(("3", "hi2", 2000.0, null))
      q.processAllAvailable()
      // where_condition (acctbal > 1000) filtered row 1; renames applied
      assert(collected.toSet == Set(("2", "hi"), ("3", "hi2")))
    } finally q.stop()
  }

  test("incremental org-to-org replication through the connector") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.sources.{InMemoryOrg, RemoteOrgRegistry}
    // the reference's migration scenario, made incremental: a PK-cursor
    // stream off the source org, each micro-batch mapped by the same
    // compiler program and appended to the destination org through the
    // connector's chunked write path
    val sch = StructType(Seq(
      StructField("Id", StringType), StructField("Payload", StringType)))
    val srcOrg = new InMemoryOrg
    srcOrg.createTable("Event__c", sch)
    val dstOrg = new InMemoryOrg
    dstOrg.createTable("Event__c", StructType(Seq(
      StructField("Id", StringType), StructField("Src_Id__c", StringType),
      StructField("Payload", StringType))))
    RemoteOrgRegistry.register("rep_src", srcOrg)
    RemoteOrgRegistry.register("rep_dst", dstOrg)
    srcOrg.insert("Event__c", (1 to 5).map(i => Row(null, s"p$i")), sch)

    val spec = graft.spec.MappingSpec.fromJson("""
      [{"source_object": "Event__c", "destination_object": "Event__c",
        "mapping": [
          {"table_src": "Event__c", "column_src": "Id",
           "table_dst": "Event__c", "column_dst": "Src_Id__c",
           "operation": "copy", "column_type": "src_id"},
          {"table_src": "Event__c", "column_src": "Payload",
           "table_dst": "Event__c", "column_dst": "Payload",
           "operation": "copy", "column_type": "regular"}]}]""").head

    val stream = spark.readStream.format("salesforce-sim")
      .option("org", "rep_src").option("sObject", "Event__c")
      .option("maxRecordsPerBatch", "2").load()
    val q = Streams.migrateStream(stream, spec) { (batch, _) =>
      batch.write.format("salesforce-sim")
        .option("org", "rep_dst").option("sObject", "Event__c")
        .mode(org.apache.spark.sql.SaveMode.Append).save()
    }
    try {
      q.processAllAvailable()
      assert(dstOrg.rows("Event__c").size == 5)
      // late-arriving source records replicate incrementally, exactly once
      srcOrg.insert("Event__c", Seq(Row(null, "p6"), Row(null, "p7")), sch)
      q.processAllAvailable()
      val dstRows = dstOrg.rows("Event__c")
      assert(dstRows.map(_.getString(2)).sorted ==
        (1 to 7).map(i => s"p$i").sorted)
      // destination minted fresh Ids and kept the source correlation
      assert(dstRows.forall(r => r.getString(0) != null && r.getString(1) != null))
      assert(dstRows.map(_.getString(1)).distinct.size == 7,
        "each dst row correlates to a distinct source record")
    } finally q.stop()
  }

  test("end-to-end incremental analytics: org stream -> watermarked window -> org sink") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    import graft.sources.{InMemoryOrg, RemoteOrgRegistry}
    val srcSch = StructType(Seq(
      StructField("Id", StringType), StructField("EventTs", StringType),
      StructField("Amount", StringType)))
    val src = new InMemoryOrg
    src.createTable("Metric__c", srcSch)
    val dst = new InMemoryOrg
    dst.createTable("Rollup__c", StructType(Seq(
      StructField("Id", StringType), StructField("WindowStart", StringType),
      StructField("Total", StringType))))
    RemoteOrgRegistry.register("an_src", src)
    RemoteOrgRegistry.register("an_dst", dst)
    def ev(minute: Int, amount: Int) =
      Row(null, f"2024-01-01 10:$minute%02d:00", amount.toString)
    src.insert("Metric__c", Seq(ev(1, 5), ev(2, 7), ev(31, 3)), srcSch)

    val ckpt = java.nio.file.Files.createTempDirectory("graft_an_").toString
    val agg = spark.readStream.format("salesforce-sim")
      .option("org", "an_src").option("sObject", "Metric__c").load()
      .select(col("EventTs").cast("timestamp").as("ts"),
        col("Amount").cast("long").as("amount"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "30 minutes"))
      .agg(sum(col("amount")).as("total"))
      .select(lit(null).cast("string").as("Id"),
        col("window.start").cast("string").as("WindowStart"),
        col("total").cast("string").as("Total"))
    val q = agg.writeStream.format("salesforce-sim")
      .option("org", "an_dst").option("sObject", "Rollup__c")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      // watermark has not passed the first window yet — nothing emitted
      assert(dst.rows("Rollup__c").isEmpty)
      // an 11:15 event moves the watermark to 11:05, past both windows' ends
      src.insert("Metric__c",
        Seq(Row(null, "2024-01-01 11:15:00", "1")), srcSch)
      q.processAllAvailable()
      q.processAllAvailable() // one more cycle: emit after watermark advance
      val out = dst.rows("Rollup__c")
        .map(r => (r.getString(1), r.getString(2))).sorted
      assert(out == Seq(
        ("2024-01-01 10:00:00", "12"), ("2024-01-01 10:30:00", "3")), out.toString)
      // minted Ids prove the rows went through the org write path
      assert(dst.rows("Rollup__c").forall(_.getString(0) != null))
    } finally q.stop()
  }

  test("connector is a native streaming sink (no foreachBatch shim)") {
    import org.apache.spark.sql.types._
    import graft.sources.{InMemoryOrg, RemoteOrgRegistry}
    implicit val sqlCtx = spark.sqlContext
    val sch = StructType(Seq(
      StructField("Id", StringType), StructField("Payload", StringType)))
    val dst = new InMemoryOrg
    dst.createTable("Sink__c", sch)
    RemoteOrgRegistry.register("stream_sink", dst)
    val input = MemoryStream[String]
    val df = input.toDF().toDF("Payload")
      .select(lit(null).cast("string").as("Id"), col("Payload"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val q = df.writeStream.format("salesforce-sim")
      .option("org", "stream_sink").option("sObject", "Sink__c")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData("a", "b")
      q.processAllAvailable()
      assert(dst.rows("Sink__c").size == 2)
      input.addData("c")
      q.processAllAvailable()
      val rows = dst.rows("Sink__c")
      assert(rows.map(_.getString(1)).sorted == Seq("a", "b", "c"))
      assert(rows.forall(_.getString(0) != null), "org must mint Ids")
    } finally q.stop()
  }

  test("stream-stream interval join matches within the delay window only") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = Streams.intervalJoin(
      clicks.toDF().toDF("user_id", "click_ts"),
      views.toDF().toDF("user_id", "view_ts"),
      "user_id", "click_ts", "view_ts",
      maxDelay = "10 minutes", lateness = "1 hour")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ssjoin").start()
    try {
      views.addData((1L, ts(0)), (2L, ts(0)))
      clicks.addData((1L, ts(5)),   // within 10 min -> match
        (2L, ts(30)),               // 30 min later -> no match
        (3L, ts(5)))                // no view -> no match
      q.processAllAvailable()
      val got = spark.table("ssjoin").select("user_id")
        .as[Long].collect().toSeq
      assert(got == Seq(1L), s"got $got")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups inside the lateness window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val out = Streams.dedupWithinWatermark(
      input.toDF().toDF("key", "ts"), Seq("key"), "ts", lateness = "10 minutes")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wmdedup").start()
    try {
      input.addData(("a", ts(0)), ("a", ts(1)), ("b", ts(2)))
      q.processAllAvailable()
      input.addData(("a", ts(3))) // still within the window -> dropped
      q.processAllAvailable()
      val keys = spark.table("wmdedup").select("key").as[String]
        .collect().sorted.toSeq
      assert(keys == Seq("a", "b"), s"got $keys")
    } finally q.stop()
  }

  test("batch session_window matches the hand-rolled islands computation") {
    val df = Seq(
      (1L, ts(0)), (1L, ts(10)), (1L, ts(50)),   // two sessions (gap 40m)
      (2L, ts(0)), (2L, ts(29)), (2L, ts(58)))   // one chained session
      .toDF("user_id", "ts")
    val out = df.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"))
      .as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (1L, 1L), (2L, 3L)))
  }

  test("funnelProgress advances per-user stages across micro-batches, in order") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streams.FunnelEvent
    val input = MemoryStream[FunnelEvent]
    val out = Streams.funnelProgress(input.toDS())
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("funnel").start()
    try {
      // user 1 views then clicks; user 2 clicks FIRST (must not advance)
      input.addData(
        FunnelEvent(1L, "view", ts(1)), FunnelEvent(1L, "click", ts(2)),
        FunnelEvent(2L, "click", ts(1)))
      q.processAllAvailable()
      // user 1 purchases (stage 3); user 2 views then clicks across the
      // batch boundary; a STALE purchase before user 2's click is ignored
      input.addData(
        FunnelEvent(1L, "purchase", ts(3)),
        FunnelEvent(2L, "view", ts(2)), FunnelEvent(2L, "purchase", ts(1)))
      q.processAllAvailable()
      input.addData(FunnelEvent(2L, "click", ts(4)))
      q.processAllAvailable()
      val snaps = spark.table("funnel")
        .select("user_id", "stage").as[(Long, Int)].collect().toSeq.sorted
      // user 1: 2 (batch 1) then 3; user 2: nothing, then 1, then 2
      assert(snaps == Seq((1L, 2), (1L, 3), (2L, 1), (2L, 2)), snaps.toString)
    } finally q.stop()
  }

  test("streamNearDups flags streamed docs against the standing corpus") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (101L, "entirely different reference content with no overlap whatsoever here"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val out = Streams.streamNearDups(
      input.toDF().toDF("doc_id", "text"), corpus,
      "doc_id", "text", n = 3, numHashes = 128, bands = 32, threshold = 0.5)
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("neardups").start()
    try {
      // batch 1: a near-copy of corpus doc 100 (one word changed) and a
      // fresh document
      input.addData(
        (1L, "the quick brown fox jumps over the lazy cat again and again today"),
        (2L, "completely novel text that matches nothing in the corpus at all"))
      q.processAllAvailable()
      // batch 2: an exact copy of corpus doc 101 and a re-send of doc 1
      // (its pair must NOT re-emit — exactly-once per pair)
      input.addData(
        (3L, "entirely different reference content with no overlap whatsoever here"),
        (1L, "the quick brown fox jumps over the lazy cat again and again today"))
      q.processAllAvailable()
      val pairs = spark.table("neardups")
        .select("doc_id", "dup_of").as[(Long, Long)].collect().toSeq
      assert(pairs.sorted == Seq((1L, 100L), (3L, 101L)), pairs.toString)
      val jac = spark.table("neardups")
        .where(col("doc_id") === 3L).select("jac").as[Double].head()
      assert(jac == 1.0, s"exact copy must verify at jaccard 1.0, got $jac")
    } finally q.stop()
  }

  test("incremental ingest pages through the Bulk REST wire, exactly once") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.sources.{AuthToken, BulkApiOrg, InMemoryOrg, RemoteOrgRegistry}
    // the r4 verdict's missing scenario: OrgMicroBatchStream's cursor
    // loop (data_connector.py:62-66) with every page arriving through
    // the Bulk REST wire (data_connector.py:313-325) — describe, MAX(Id)
    // high-water marks, ORDER BY Id LIMIT admission pages and the range
    // scans all run the create→batch→close→poll→result job lifecycle
    // against a stateful wire sim that `require`s the protocol order
    val sch = StructType(Seq(
      StructField("Id", StringType), StructField("Payload", StringType)))
    val inner = new InMemoryOrg
    inner.createTable("Event__c", sch)
    val sim = new BulkWireSim(inner, Map("Event__c" ->
      """{"fields": [{"name": "Id", "type": "id"},
                     {"name": "Payload", "type": "string"}]}"""))
    val bulkOrg = new BulkApiOrg(
      AuthToken("TOK-W", "https://bulk.example.org"), sim, sleeper = _ => ())
    RemoteOrgRegistry.register("bulk_stream_src", bulkOrg)
    inner.insert("Event__c", (1 to 5).map(i => Row(null, s"p$i")), sch)

    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = spark.readStream.format("salesforce-sim")
      .option("org", "bulk_stream_src").option("sObject", "Event__c")
      .option("maxRecordsPerBatch", "2").load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ps = batch.select("Payload").collect().map(_.getString(0))
        seen.synchronized { seen ++= ps }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(seen.sorted.toSeq == (1 to 5).map(i => s"p$i"),
        s"first backfill not exactly-once: $seen")
      // late-arriving records ingest incrementally through the same wire
      inner.insert("Event__c", Seq(Row(null, "p6"), Row(null, "p7")), sch)
      q.processAllAvailable()
      assert(seen.sorted.toSeq == (1 to 7).map(i => s"p$i"),
        s"incremental ingest not exactly-once: $seen")
    } finally q.stop()

    // every Bulk job ran the complete lifecycle (the sim rejects any
    // out-of-order request at the wire, so reaching here already proves
    // sequencing; these pin that nothing was skipped)
    val jobs = sim.jobs.values.toSeq
    assert(jobs.nonEmpty && jobs.forall(j =>
      j.operation == "query" && j.soql.nonEmpty && j.closed && j.polls >= 2),
      s"incomplete job lifecycle: $jobs")
    val soqls = jobs.flatMap(_.soql)
    // admission control paged the cursor org-side, in Id order
    assert(soqls.exists(s => s.contains("ORDER BY Id") && s.contains("LIMIT 2")),
      s"no admission page in:\n${soqls.mkString("\n")}")
    // cursor ranges rode the wire as half-open Id predicates
    assert(soqls.exists(_.contains("Id > '")), s"no cursor range in:\n${soqls.mkString("\n")}")
    // 7 rows at maxRecordsPerBatch=2 = 4 non-empty micro-batch scans
    val scans = soqls.count(s => s.contains("Payload") && !s.contains("LIMIT"))
    assert(scans == 4, s"expected 4 range-scan jobs, got $scans:\n${soqls.mkString("\n")}")
  }

  test("connector stream killed mid-backfill resumes its Id cursor through the Bulk wire") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.sources.{AuthToken, BulkApiOrg, InMemoryOrg, RemoteOrgRegistry}
    // the r10 verdict's missing scenario (w22's suite face): the
    // checkpointed PK-cursor offset restore, killed MID-backfill, with
    // every page riding the Bulk REST wire — run 2's pages must all
    // carry a non-empty `Id > '…'` cursor predicate (a RESET cursor
    // issues its first admission page with no cursor predicate at all)
    val sch = StructType(Seq(
      StructField("Id", StringType), StructField("Payload", StringType)))
    val inner = new InMemoryOrg
    inner.createTable("Event__c", sch)
    val sim = new BulkWireSim(inner, Map("Event__c" ->
      """{"fields": [{"name": "Id", "type": "id"},
                     {"name": "Payload", "type": "string"}]}"""))
    val bulkOrg = new BulkApiOrg(
      AuthToken("TOK-R", "https://bulk.example.org"), sim, sleeper = _ => ())
    RemoteOrgRegistry.register("bulk_restart_src", bulkOrg)
    inner.insert("Event__c", (1 to 10).map(i => Row(null, f"p$i%02d")), sch)

    val base = java.nio.file.Files
      .createTempDirectory("graft_w22_wire_").toString
    def writer = spark.readStream.format("salesforce-sim")
      .option("org", "bulk_restart_src").option("sObject", "Event__c")
      .option("maxRecordsPerBatch", "2").load()
      .writeStream.format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append)
    val q1 = writer.start()
    try {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while ((q1.lastProgress == null || q1.lastProgress.batchId < 1) &&
          q1.isActive && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally { q1.stop(); q1.awaitTermination() }
    val jobsAfterRun1 = sim.jobs.size

    // rows land while the stream is down; their minted Ids sort past
    // the cursor (the org's append contract)
    inner.insert("Event__c", (11 to 14).map(i => Row(null, f"p$i%02d")), sch)
    val q2 = writer
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()

    // exactly once: no page replayed (reset cursor), no gap skipped
    val sunk = spark.read.parquet(s"$base/sink")
      .select("Payload").collect().map(_.getString(0)).sorted.toSeq
    assert(sunk == (1 to 14).map(i => f"p$i%02d"),
      s"restart not exactly-once: $sunk")
    // the restored cursor rode the wire: every run-2 admission page and
    // range scan carries a non-empty Id cursor predicate
    val run2Soqls = sim.jobs.values.toSeq.drop(jobsAfterRun1).flatMap(_.soql)
    val paged = run2Soqls.filter(s =>
      s.contains("ORDER BY Id") || (s.contains("Payload") && !s.contains("LIMIT")))
    assert(paged.nonEmpty, s"run 2 issued no pages:\n${run2Soqls.mkString("\n")}")
    assert(paged.forall(_.contains("Id > '")),
      s"a run-2 page lost the restored cursor:\n${paged.mkString("\n")}")
  }

  test("complete-mode gates are micro-batching invariant (w05/w06/w08/w09/w10)") {
    // the w-gates run the driver's input as ONE micro-batch; this pins
    // the stronger property that the oracle match is NOT a single-batch
    // coincidence: split the same events across 3 files, force one file
    // per micro-batch, and the terminal state must be identical. (w07
    // is deliberately absent: flatMapGroupsWithState emits one snapshot
    // per batch-with-progress, and the funnel outcome legitimately
    // depends on arrival order across batches — the in-order guarantee
    // only holds within a batch.)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_gate_inv_").toString
    val rows = (0 until 300).map { i =>
      (i.toLong,
        Timestamp.valueOf(f"2024-01-01 ${10 + i % 3}%02d:${i % 60}%02d:00"),
        (i % 7).toLong, Seq("view", "click", "purchase")(i % 3),
        (i % 13) * 0.37)
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .repartition(3).write.parquet(s"$dir/events.parquet")
    val nFiles = new java.io.File(s"$dir/events.parquet")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles == 3, s"expected 3 part files, got $nFiles")
    val p = s"$dir/events.parquet"
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def check(name: String,
        run: Option[Int] => org.apache.spark.sql.DataFrame): Unit = {
      val one = rowsOf(run(None))          // all files in one batch
      val many = rowsOf(run(Some(1)))      // one file per batch
      assert(one.nonEmpty, s"$name produced no rows")
      assert(one == many, s"$name differs across batchings")
    }
    check("w05", m => Streams.tumblingCountsGate(spark, p, "1 hour", "1 hour", m))
    // w06 needs a lateness wider than the data's time span here: the
    // session-window operator filters LATE INPUT by watermark even in
    // complete mode (unlike the tumbling aggregation's state, which
    // complete mode never evicts), so with out-of-order files a tight
    // watermark drops genuinely-late rows — correct streaming
    // semantics, but it would test arrival order, not batching. The
    // registry gate is unaffected: its single batch starts at the
    // epoch watermark, so nothing is ever late there.
    check("w06", m => Streams.sessionCountsGate(spark, p, "30 minutes", "30 days", m))
    check("w08", m => Streams.streamStaticJoinGate(spark, p, m))
    check("w09", m => Streams.streamingDedupGate(spark, p, m))
    check("w10", m => Streams.windowTopKGate(spark, p, "1 hour", 3, m))
    val w16Views = spark.read.parquet(p)
      .where(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"))
    check("w16", m => Streams.streamAsofGate(spark, p, w16Views, m))
    // w17 emits one snapshot per batch-with-input; the CDC fold keeps
    // only maxima, so the TERMINAL snapshot (max n_changes per user)
    // must be batching-invariant even though the raw emission stream
    // grows with batch count
    def terminal(df: org.apache.spark.sql.DataFrame): Seq[String] =
      rowsOf(df.groupBy(col("user_id"))
        .agg(max_by(struct(col("n_changes"), col("live"), col("last_v6"),
          col("last_ms")), col("n_changes")).as("s"))
        .select(col("user_id"), col("s.*")))
    val one17 = terminal(Streams.cdcMaterializeGate(spark, p, None))
    val many17 = terminal(Streams.cdcMaterializeGate(spark, p, Some(1)))
    assert(one17.nonEmpty && one17 == many17,
      "w17 terminal CDC state differs across batchings")
  }

  test("w14 left-outer interval join: exact watermark boundary semantics") {
    // pins the eviction boundary the w14 oracle encodes: an unmatched
    // click strictly BELOW the terminal watermark (min side-max ts -
    // lateness) emits a null row; a click AT the watermark is withheld.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_w14_boundary_").toString
    val rows = Seq(
      // views: max view ts = 12:00
      (100L, Timestamp.valueOf("2024-01-01 05:00:00"), 1L, "view", 0.0),
      (101L, Timestamp.valueOf("2024-01-01 12:00:00"), 2L, "view", 0.0),
      // clicks: 10:00 (unmatched, < W) -> null row; 11:00 (== W,
      // unmatched) -> withheld; 12:00 (max click ts; matches the 12:00
      // view) -> inner row. W = min(12:00, 12:00) - 1h = 11:00.
      (200L, Timestamp.valueOf("2024-01-01 10:00:00"), 3L, "click", 0.0),
      (201L, Timestamp.valueOf("2024-01-01 11:00:00"), 4L, "click", 0.0),
      (202L, Timestamp.valueOf("2024-01-01 12:00:00"), 2L, "click", 0.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = Streams.intervalJoinLeftOuterGate(
        spark, s"$dir/events.parquet", maxDelay = "2 hours", lateness = "1 hour")
      .select(col("user_id"), col("view_id"), col("click_id"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (3L, -1L, 200L),  // below W: null row emitted
      (2L, 101L, 202L)  // matched: inner row
    ), s"got $got — boundary click (ts == W) must be withheld")
  }

  test("w15 append-mode window finalization: window ending AT the watermark emits") {
    // pins the <= boundary the w15 oracle encodes: terminal watermark
    // W = max ts - lateness; a window whose end == W emits, the next
    // window is withheld.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_w15_boundary_").toString
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:30:00"), 1L, "view", 0.0),
      (2L, Timestamp.valueOf("2024-01-01 11:30:00"), 1L, "view", 0.0),
      (3L, Timestamp.valueOf("2024-01-01 12:00:00"), 1L, "view", 0.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    // W = 12:00 - 1h = 11:00; window [10:00, 11:00) ends exactly at W
    val got = Streams.dedupWindowGate(spark, s"$dir/events.parquet")
      .select(col("window_start_ms"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val h10 = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    assert(got == Set((h10, 1L)),
      s"got $got — only the window ending AT the watermark must emit")
  }

  test("append-mode gates are micro-batching invariant (w11/w12/m11)") {
    // same property as the complete-mode pin above, for the round-9
    // gates: the stream-stream interval join emits matches in whichever
    // batch completes them, watermarked dedup keys never expire inside
    // the gate's lateness, and migrateStream's per-batch program is a
    // stateless projection — so one-file-per-batch must equal one-batch.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_gate_inv9_").toString
    val rows = (0 until 300).map { i =>
      (i.toLong,
        Timestamp.valueOf(f"2024-01-01 ${10 + i % 3}%02d:${i % 60}%02d:00"),
        (i % 7).toLong, Seq("view", "click", "purchase")(i % 3),
        (i % 13) * 0.37)
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .repartition(3).write.parquet(s"$dir/events.parquet")
    (1 to 400).map(i => (i.toLong, s"cust$i", if (i % 3 == 0) 2000.0 else 10.0))
      .toDF("c_custkey", "c_name", "c_acctbal")
      .repartition(3).write.parquet(s"$dir/customer.parquet")
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def check(name: String,
        run: Option[Int] => org.apache.spark.sql.DataFrame): Unit = {
      val one = rowsOf(run(None))
      val many = rowsOf(run(Some(1)))
      assert(one.nonEmpty, s"$name produced no rows")
      assert(one == many, s"$name differs across batchings")
    }
    val ev = s"$dir/events.parquet"
    check("w11", m => Streams.intervalJoinGate(spark, ev, "2 hours", "30 days", m))
    check("w12", m => Streams.dedupWatermarkGate(spark, ev, "30 days", m))
    // w13 (transformWithState) emits one snapshot per batch-with-input,
    // so the append sink is batching-DEPENDENT by design — but the
    // per-key MapState must carry across batches: the final (max-n)
    // snapshot per (user, type) equals the whole-input GROUP BY.
    locally {
      val multi = Streams.typeTallyGate(spark, ev, Some(1))
        .groupBy(col("user_id"), col("event_type"))
        .agg(max(col("n")).as("n"), max(col("sum_v6")).as("sum_v6"))
      val expected = spark.read.parquet(ev)
        .select(col("user_id"), col("event_type"),
          floor(col("value") * 1e6).cast("long").as("v6"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v6")).as("sum_v6"))
      assert(rowsOf(multi) == rowsOf(expected),
        "transformWithState state did not accumulate across micro-batches")
    }
    check("m11", m => Streams.migrateStreamGate(
      spark, s"$dir/customer.parquet", graft.queries.Mapping.customerSpec,
      df => df.select(
        col("c_custkey").cast("string").as("Id"),
        col("c_name").as("name"),
        col("c_acctbal").as("acctbal"),
        lit(null).cast("string").as("dst_ref")), m))
  }

  test("w20 ingest batches are retry-idempotent (re-delivered batch replaces itself)") {
    import graft.functions.VectorOps
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val path = java.nio.file.Files.createTempDirectory("w20_idem_").toString
    VectorOps.buildPinnedIvfIndex(emb.where(col("vec_id") < 16),
      "vec_id", "embedding", nlist = 16, path = path)
    val delta = emb.where(col("vec_id") >= 16)
    VectorOps.appendPinnedIvfIndexBatch(delta, "vec_id", "embedding", path, 0L,
      "t-lineage")
    val once = Streams.rowsOfSorted(VectorOps.queryPinnedIvfIndex(
      spark, path, emb.where(col("vec_id") < 20), "vec_id", "embedding",
      k = 5, nprobe = 6))
    // foreachBatch is at-least-once: the SAME batch id re-delivered must
    // replace its partition, leaving the index (and answers) unchanged
    VectorOps.appendPinnedIvfIndexBatch(delta, "vec_id", "embedding", path, 0L,
      "t-lineage")
    val twice = Streams.rowsOfSorted(VectorOps.queryPinnedIvfIndex(
      spark, path, emb.where(col("vec_id") < 20), "vec_id", "embedding",
      k = 5, nprobe = 6))
    assert(once.nonEmpty && once == twice,
      "a re-delivered ingest batch must not change the index")
  }

  test("w23 maintenance is multi-batch and retry-idempotent incl. deletes") {
    // the w23 gate at small SF runs one micro-batch (single input
    // file); this twin forces MULTIPLE batches over a repartitioned
    // copy and replays one batch's whole maintenance body (append +
    // tombstone drop) with the same batchId — the at-least-once retry.
    // Both the multi-batch answer and the post-replay answer must equal
    // compute-in-place over survivors.
    import graft.functions.VectorOps
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("w23_multi_").toString
    emb.repartition(3).write.parquet(s"$dir/embeddings.parquet")
    val isDoomed = col("vec_id") >= 100 && col("vec_id") % 5 === 2
    val expected = Streams.rowsOfSorted(VectorOps.ivfTopKPinned(
      emb.where(col("vec_id") < 20), emb.where(!isDoomed),
      "vec_id", "embedding", k = 5, nlist = 16, nprobe = 6))
    val served = Streams.rowsOfSorted(
      Streams.streamingIndexMaintainGate(spark, s"$dir/embeddings.parquet"))
    assert(served.nonEmpty && served == expected,
      "multi-batch streamed maintenance diverged from compute-in-place")
    // replay: rebuild a fresh index, run one batch's body twice with
    // the same batchId — the append replaces itself, the duplicate
    // tombstones dedup in serving — answers must not change
    val path = java.nio.file.Files.createTempDirectory("w23_idem_").toString
    VectorOps.buildPinnedIvfIndex(emb.where(col("vec_id") < 16),
      "vec_id", "embedding", nlist = 16, path = path)
    val delta = emb.where(col("vec_id") >= 16)
    def body(): Unit = {
      VectorOps.appendPinnedIvfIndexBatch(delta, "vec_id", "embedding",
        path, 0L, "t-lineage")
      VectorOps.deleteFromPinnedIvfIndex(delta.where(isDoomed),
        "vec_id", path)
    }
    body()
    val once = Streams.rowsOfSorted(VectorOps.queryPinnedIvfIndex(
      spark, path, emb.where(col("vec_id") < 20), "vec_id", "embedding",
      k = 5, nprobe = 6))
    body() // the at-least-once redelivery
    val twice = Streams.rowsOfSorted(VectorOps.queryPinnedIvfIndex(
      spark, path, emb.where(col("vec_id") < 20), "vec_id", "embedding",
      k = 5, nprobe = 6))
    assert(once.nonEmpty && once == twice,
      "a re-delivered maintenance batch must not change the index")
    assert(once == expected, "maintenance answer wrong vs survivors")
  }

  test("w21 chunk dedup carries its state across micro-batches") {
    // multi-file input, one file per trigger: duplicate chunks SPAN the
    // batches, so the distinct digest set is only right if the dedup
    // state survives between micro-batches — and it must equal the
    // single-batch run (the batching-order-free claim, exercised rather
    // than assumed)
    val dir = java.nio.file.Files.createTempDirectory("graft_w21_").toString
    val rows = (0 until 90).map { i =>
      // 30 distinct texts, each repeated 3x with ids spread so the
      // parquet files (and therefore the micro-batches) share them
      (i.toLong, s"${"tok " * 70}doc${i % 30} tail")
    }
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .repartition(3).write.parquet(s"$dir/documents.parquet")
    val multi = Streams.rowsOfSorted(Streams.chunkDedupStreamGate(
      spark, s"$dir/documents.parquet", Some(1)))
    val single = Streams.rowsOfSorted(Streams.chunkDedupStreamGate(
      spark, s"$dir/documents.parquet"))
    assert(multi.nonEmpty && multi == single,
      "cross-batch dedup state lost: multi-batch distinct set differs")
  }

  test("w24 streaming decontamination equals the batch operator row for row") {
    // the stateless claim made concrete: per-file micro-batches (the
    // gate forces maxFilesPerTrigger=1) must reach the exact scorecard
    // the batch d22 operator computes over the same corpus — and the
    // gate itself asserts no state operator appeared in the plan
    val dir = java.nio.file.Files.createTempDirectory("graft_w24_").toString
    val rows = (1 until 120).map { i =>
      val body =
        if (i % 7 == 0) "planted shared benchmark gram run alpha beta"
        else s"doc$i " + (1 to 10).map(j => s"tok${(i * 31 + j) % 97}").mkString(" ")
      (i.toLong, body)
    } :+ (150L, "planted shared benchmark gram run gamma")
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .repartition(4).write.parquet(s"$dir/documents.parquet")
    val streamed = Streams
      .bloomDecontaminateStreamGate(spark, s"$dir/documents.parquet")
      .orderBy("doc_id").collect().toSeq
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val batch = graft.functions.TextOps.bloomDecontaminate(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 4)
      .orderBy("doc_id").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "streaming scorecard diverged from the batch operator")
    // the planted overlap must actually contaminate (the test isn't
    // vacuously comparing all-zero scorecards)
    assert(streamed.exists(_.getLong(2) > 0), "no contamination detected")
  }

  test("w33 streaming importance scoring equals the batch score column " +
      "row for row") {
    // the stateless claim made concrete, the w24 pattern: per-file
    // micro-batches against the frozen weight artifact must reach the
    // exact scores the batch p33 operator computes over the same
    // corpus (the gate itself asserts no state operator appeared)
    val dir = java.nio.file.Files.createTempDirectory("graft_w33_").toString
    val rows = (1 until 120).map { i =>
      val lang = if (i % 3 == 0) "en" else "de"
      (i.toLong,
        s"doc$i " + (1 to 12).map(j => s"tok${(i * 31 + j) % 53}").mkString(" "),
        lang)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang")
      .repartition(4).write.parquet(s"$dir/documents.parquet")
    val streamed = Streams
      .importanceScoreStreamGate(spark, s"$dir/documents.parquet")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val batch = graft.functions.TextOps.importanceResample(
        docs, "doc_id", "text", col("lang") === "en", denom = 4)
      .select("doc_id", "score")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "streaming scores diverged from the batch operator")
    // the weighting must actually discriminate (not all-equal scores)
    assert(streamed.map(_._2).distinct.size > 1, "degenerate scores")
  }

  test("w34 streaming domain-mix serving equals the batch p34 decision " +
      "row for row") {
    // the mixture decision served from the frozen domain weight table
    // (two map literals + the shared coin) must reach the exact
    // (weight_micro, picked) the batch domainReweight computes over
    // the same corpus — per-file micro-batches, zero state
    // (gate-asserted), so arrival order cannot matter
    val dir = java.nio.file.Files.createTempDirectory("graft_w34_").toString
    val rows = (1 until 160).map { i =>
      (i.toLong,
        s"doc$i " + (1 to 12).map(j => s"tok${(i * 37 + j) % 61}").mkString(" "),
        s"src${i % 5}")
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
      .repartition(4).write.parquet(s"$dir/documents.parquet")
    val streamed = Streams
      .domainMixStreamGate(spark, s"$dir/documents.parquet")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val batch = graft.functions.TextOps
      .domainReweight(docs, "doc_id", "text", "source")
      .select("doc_id", "source", "weight_micro", "picked")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "streaming mix decisions diverged from the batch operator")
    // the mixture must discriminate across domains and the pick both ways
    assert(streamed.map(_._3).distinct.size > 1, "degenerate weights")
    assert(streamed.map(_._4).distinct.size == 2, "degenerate picks")
  }

  test("w25 probe-and-append loop: later deltas dedup against earlier ones") {
    // the full daily-ingest lifecycle the w25 gate's probe-only stream
    // deliberately leaves out (batch membership isn't guaranteed by a
    // file stream): wave i probes the store, THEN appends itself, so
    // wave i+1's duplicates of wave i are caught only if the append
    // really landed. Chained duplicates across three waves make every
    // append observable.
    import graft.functions.TextOps
    import spark.implicits._
    val t1 = "alpha beta gamma delta one"
    val t2 = "unique text for wave one xyz"
    val t3 = "second wave fresh content qrs"
    val standing = Seq((1L, t1)).toDF("doc_id", "text")
    val waves = Seq(
      Seq((101L, t1), (102L, t2)),          // 101 dups standing
      Seq((201L, t2), (202L, t3)),          // 201 dups wave 1
      Seq((301L, t3))                       // 301 dups wave 2
    ).map(_.toDF("doc_id", "text"))
    val store = java.nio.file.Files
      .createTempDirectory("graft_w25_loop_").toString
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    var corpusSoFar = standing
    val got = scala.collection.mutable.Set[(Long, Long)]()
    waves.foreach { wave =>
      got ++= TextOps.incrementalJaccardPairsFromStore(wave, corpusSoFar,
          "doc_id", "text", store,
          n = 3, numHashes = 128, bands = 32, threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect()
      TextOps.appendToSignatureStore(wave, "doc_id", "text", store,
        n = 3, numHashes = 128, bands = 32)
      corpusSoFar = corpusSoFar.unionByName(wave)
    }
    assert(got.toSet == Set((101L, 1L), (201L, 102L), (301L, 202L)),
      s"probe-and-append chain broken: $got")
  }

  test("dedupStoreProbeBatch: a redelivered accreted epoch reproduces its " +
      "first attempt's pairs exactly") {
    // the crash-between-append-and-checkpoint-commit replay: on
    // redelivery the store already holds the batch's own accreted
    // docs, so a naive probe would emit self-pairs (jac 1.0) and
    // within-batch pairs ordered-ingest semantics never produce; the
    // helper's own-id anti-join plus the epoch-keyed overwrite must
    // make the replay byte-equivalent (code-review finding)
    import graft.functions.TextOps
    import spark.implicits._
    val t1 = "alpha beta gamma delta one"
    val t2 = "unique text for wave one xyz"
    val standing = Seq((1L, t1)).toDF("doc_id", "text")
    // 101 dups standing; 201/202 dup EACH OTHER within the batch — the
    // redelivery's poison pair
    val batch = Seq((101L, t1), (201L, t2), (202L, t2)).toDF("doc_id", "text")
    val everything = standing.unionByName(batch)
    val store = java.nio.file.Files
      .createTempDirectory("graft_redeliver_store_").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_redeliver_out_").toString
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    val body = Streams.dedupStoreProbeBatch(everything, "doc_id", "text",
      store, outDir, n = 3, numHashes = 128, bands = 32,
      threshold = 0.5, accrete = true)
    def pairs(): Set[(Long, Long)] =
      spark.read.schema(Streams.dedupStorePairsSchema).parquet(outDir)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    body(batch, 0L)
    val first = pairs()
    assert(first == Set((101L, 1L)), // 201/202 pair nothing on attempt 1
      s"unexpected first-attempt pairs: $first")
    body(batch, 0L) // the redelivery, store now holding the batch
    assert(pairs() == first,
      s"redelivered epoch changed the pair set: ${pairs()} vs $first")
  }

  test("mid-stream retraction: a post-retract wave stops pairing with the " +
      "retracted doc; earlier output and accreted appends stand") {
    // the interleaving w27's static oracle cannot see: the tombstone
    // lands BETWEEN waves. Wave 0 pairs with standing doc 1; doc 1 is
    // then retracted; wave 1 must no longer pair with doc 1 — but must
    // still pair with wave 0's ACCRETED append (same text, different
    // id, not tombstoned) and with untouched standing docs.
    import graft.functions.TextOps
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t1 = "alpha beta gamma delta one"
    val t2 = "unique text for wave one xyz"
    val standing = Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
    val everything = Seq((1L, t1), (2L, t2), (101L, t1), (201L, t1),
      (202L, t2)).toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft_midretract_store_").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_midretract_out_").toString
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(Streams.dedupStoreProbeBatch(everything,
        "doc_id", "text", store, outDir, n = 3, numHashes = 128,
        bands = 32, threshold = 0.5, accrete = true))
      .start()
    try {
      input.addData((101L, t1)); q.processAllAvailable()
      TextOps.retractFromSignatureStore(Seq(1L).toDF("doc_id"), store)
      input.addData((201L, t1), (202L, t2)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.schema(Streams.dedupStorePairsSchema)
      .parquet(outDir).select("id_a", "id_b").as[(Long, Long)]
      .collect().toSet
    assert(got == Set((101L, 1L), (201L, 101L), (202L, 2L)),
      s"mid-stream retraction semantics broken: $got")
  }

  test("decontaminateStream: production API over caller frames (no fixture)") {
    // the public wrapper takes the caller's OWN train stream and eval
    // frame — no doc_id % 50 split baked in. Split here is by text
    // content, something the gate's fixture could never express.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_deco_api_").toString
    import spark.implicits._
    val evalRows = Seq(
      (9001L, "held out benchmark question alpha beta gamma delta"),
      (9002L, "another eval item with its own unique gram run"))
    val trainRows = (1 to 60).map { i =>
      val body =
        if (i % 11 == 0) "held out benchmark question alpha beta gamma delta"
        else s"clean doc $i " + (1 to 8).map(j => s"w${(i * 13 + j) % 53}").mkString(" ")
      (i.toLong, body)
    }
    trainRows.toDF("doc_id", "text").repartition(3)
      .write.parquet(s"$dir/train.parquet")
    val evalDf = evalRows.toDF("doc_id", "text")
    val train = Streams.eventStream(spark, s"$dir/train.parquet", Some(1))
    val scored = Streams.decontaminateStream(train, evalDf,
      "doc_id", "text", n = 4)
    val sink = s"deco_api_${System.nanoTime()}"
    val q = scored.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table(sink).orderBy("doc_id").collect().toSeq
    val batch = graft.functions.TextOps.bloomDecontaminate(
        spark.read.parquet(s"$dir/train.parquet"), evalDf,
        "doc_id", "text", n = 4)
      .orderBy("doc_id").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "wrapper scorecard diverged from the batch operator")
    assert(streamed.exists(_.getLong(2) > 0), "no contamination detected")
    // frame-shape misuse fails loudly at wiring time, not at runtime
    intercept[IllegalArgumentException] {
      Streams.decontaminateStream(
        spark.read.parquet(s"$dir/train.parquet"), evalDf,
        "doc_id", "text", n = 4)
    }
    intercept[IllegalArgumentException] {
      Streams.decontaminateStream(train,
        Streams.eventStream(spark, s"$dir/train.parquet", None),
        "doc_id", "text", n = 4)
    }
  }

  test("dedupStoreProbeBatch: production foreachBatch helper probes and accretes") {
    // the w25/w26 chained-duplicate lifecycle driven through the PUBLIC
    // helper on a MemoryStream: each wave's duplicates of the previous
    // wave are caught only if the helper's accretion really landed
    import graft.functions.TextOps
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t1 = "alpha beta gamma delta one"
    val t2 = "unique text for wave one xyz"
    val t3 = "second wave fresh content qrs"
    val standing = Seq((1L, t1)).toDF("doc_id", "text")
    val everything = (standing.collect().map(r => (r.getLong(0), r.getString(1))) ++
      Seq((101L, t1), (102L, t2), (201L, t2), (202L, t3), (301L, t3)))
      .toSeq.toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft_probebatch_store_").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_probebatch_out_").toString
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(Streams.dedupStoreProbeBatch(everything,
        "doc_id", "text", store, outDir, n = 3, numHashes = 128,
        bands = 32, threshold = 0.5, accrete = true))
      .start()
    try {
      Seq(Seq((101L, t1), (102L, t2)), Seq((201L, t2), (202L, t3)),
          Seq((301L, t3)))
        .foreach { wave => input.addData(wave: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.read.schema(Streams.dedupStorePairsSchema)
      .parquet(outDir).select("id_a", "id_b").as[(Long, Long)]
      .collect().toSet
    assert(got == Set((101L, 1L), (201L, 102L), (301L, 202L)),
      s"helper-driven probe-and-append chain broken: $got")
  }

  test("mediaPhashBatch: epoch-idempotent spool that matches the pinned " +
      "batch hash chain") {
    // the w28 production sink's two load-bearing properties the driver
    // gate cannot see: (a) a REDELIVERED epoch replaces itself instead
    // of duplicating spool rows (foreachBatch is at-least-once); (b)
    // the streamed decode→pHash chain lands byte-identical to the
    // pinned batch path (PinnedMediaMath.phash over the committed
    // fixture planes) — the mm07+mm08 equivalence, asserted per id.
    import graft.multimodal.{MediaFixture, PinnedMediaMath}
    import spark.implicits._
    val images = MediaFixture.media(spark)
      .filter(_.meta.kind == "image").toDF()
      .select("media_id", "bytes")
    val batch0 = images.where(col("media_id") % 2 === 0)
    val batch1 = images.where(col("media_id") % 2 =!= 0)
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_w28_sink_").toString
    val sink = Streams.mediaPhashBatch(outDir)
    sink(batch0, 0L)
    sink(batch1, 1L) // the spool accretes across epochs
    sink(batch0, 0L) // redelivery: must overwrite, not duplicate
    val spool = spark.read.schema(Streams.mediaHashSchema)
      .parquet(outDir).select("media_id", "simhash")
    val nMedia = images.count()
    assert(spool.count() == nMedia,
      "a redelivered epoch duplicated spool rows or dropped media")
    val expected = PinnedMediaMath.phash(spark)
      .select(col("media_id"),
        PinnedMediaMath.packSimhash(col("hash_hi"), col("hash_lo"))
          .as("simhash"))
    assert(spool.exceptAll(expected).isEmpty &&
        expected.exceptAll(spool).isEmpty,
      "streamed decode+pHash diverged from the pinned batch chain")
  }

  test("media spool compaction: epoch dirs fold to one; a crash " +
      "window's duplicate rows are invisible; next compaction converges") {
    // the spool's small-files maintenance: a long-running ingest leaves
    // one directory per micro-batch. Compaction folds them into one
    // negative-epoch dir (no replay can overwrite it); its crash window
    // (consolidated committed, consumed not yet deleted) leaves EXACT
    // duplicate rows, which every spool read folds with distinct().
    import graft.multimodal.MediaFixture
    val images = MediaFixture.media(spark)
      .filter(_.meta.kind == "image")
    val planted = images.union(
      images.map(m => m.copy(media_id = m.media_id + 1000000L)))
      .toDF().select("media_id", "bytes")
    val outDir = java.nio.file.Files
      .createTempDirectory("spool_compact_").toString
    val sink = Streams.mediaPhashBatch(outDir)
    sink(planted.where(col("media_id") % 2 === 0), 0L)
    sink(planted.where(col("media_id") % 2 =!= 0), 1L)
    val before = Streams.rowsOfSorted(
      Streams.mediaSpoolPairs(spark, outDir, maxHamming = 4))
    assert(before.nonEmpty, "fixture must produce near-dup pairs")
    def epochDirs: Seq[String] = new java.io.File(outDir).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("epoch=")).toSeq.sorted
    assert(epochDirs == Seq("epoch=0", "epoch=1"))
    Streams.compactMediaSpool(spark, outDir)
    assert(epochDirs == Seq("epoch=-1"),
      s"compaction must fold to one negative epoch: $epochDirs")
    assert(Streams.rowsOfSorted(
      Streams.mediaSpoolPairs(spark, outDir, maxHamming = 4)) == before,
      "compaction changed the pair set")
    // crash window: a consumed epoch survives next to the consolidated
    // batch — exact duplicate rows; reads must not see them
    spark.read.schema(Streams.mediaHashSchema)
      .parquet(s"$outDir/epoch=-1").limit(5)
      .write.parquet(s"$outDir/epoch=7")
    assert(Streams.rowsOfSorted(
      Streams.mediaSpoolPairs(spark, outDir, maxHamming = 4)) == before,
      "duplicate rows from the crash window leaked into the pairs")
    // the next compaction converges (folds the leftover + consolidated)
    Streams.compactMediaSpool(spark, outDir)
    assert(epochDirs == Seq("epoch=-2"), s"second fold: $epochDirs")
    assert(Streams.rowsOfSorted(
      Streams.mediaSpoolPairs(spark, outDir, maxHamming = 4)) == before)
    // a single-dir spool is already consolidated: compaction no-ops
    Streams.compactMediaSpool(spark, outDir)
    assert(epochDirs == Seq("epoch=-2"))
    // ingest continues after compaction: a fresh epoch accretes
    sink(planted.limit(0), 9L) // empty batch: dirs only, no rows
    assert(Streams.rowsOfSorted(
      Streams.mediaSpoolPairs(spark, outDir, maxHamming = 4)) == before)
  }

  test("w32: the streamed cross-modal closure equals the batch closure " +
      "exactly (batching invariance)") {
    // the gate streams both modality spools in several micro-batches
    // (maxFilesPerTrigger=1 over 6-file sources); per-item hashes and
    // captions are batch-membership-independent and the spools are
    // union-shaped, so the closure must equal mm17's batch answer row
    // for row — the same chaining discipline w28–w31 pin per modality,
    // extended to the two-spool closure.
    import graft.multimodal.PinnedMediaMath
    val streamed = Streams.crossModalStreamGate(spark, maxHamming = 4)
      .as[(Long, Long)].collect().toSeq
    val batch = PinnedMediaMath.crossModalDedupPinned(spark, maxHamming = 4)
      .as[(Long, Long)].collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed closure diverged from batch: ${streamed.size} vs " +
        s"${batch.size} rows")
  }

  test("video sink: a zero-frame container dead-letters; real clips " +
      "spool one row per frame") {
    // code-review finding: a non-null EMPTY hash array posexplodes to
    // no spool rows and misses the null filter — the clip would vanish
    // from BOTH outputs. Zero frames is now dead-lettered like any
    // other undecodable payload.
    import graft.multimodal.{MediaFixture, Multimodal}
    val good = MediaFixture.media(spark).filter(_.meta.kind == "video")
      .toDF().select("media_id", "bytes").limit(2)
    val goodIds = good.select("media_id").as[Long].collect().toSet
    val empty = Seq(
      (777L, Multimodal.VideoContainer.encode(Seq.empty)))
      .toDF("media_id", "bytes")
    val outDir = java.nio.file.Files
      .createTempDirectory("video_sink_").toString
    Streams.videoFrameHashBatch(outDir)(good.unionByName(empty), 0L)
    val spooled = Streams.readVideoFrameSpool(spark, outDir)
      .groupBy("media_id").count()
      .as[(Long, Long)].collect().toMap
    assert(spooled.keySet == goodIds && spooled.values.forall(_ == 4L),
      s"each real clip must spool 4 frame rows: $spooled")
    val dead = spark.read.schema("media_id BIGINT")
      .parquet(s"$outDir/_undecoded")
      .select("media_id").as[Long].collect().toSet
    assert(dead == Set(777L),
      s"the zero-frame clip must dead-letter with its id: $dead")
  }

  test("connector media stream: an undecodable payload dead-letters " +
      "with its id; decodable rows still hash") {
    // the w30 gate's oracle sees only the near-dup pairs — the
    // dead-letter contract (a corrupt payload must surface, not vanish)
    // is pinned here: land two real payloads and one row whose Body__c
    // base64-decodes fine but is NOT a PNG, drain the connector stream
    // through the fused sink, and check both spools.
    import graft.sources.{InMemoryOrg, MediaOrgRecipe, RemoteOrgRegistry}
    import org.apache.spark.sql.Row
    val simOrg = new InMemoryOrg
    simOrg.createTable("Media__c", MediaOrgRecipe.schema)
    RemoteOrgRegistry.register("w30_deadletter_org", simOrg)
    val good = MediaOrgRecipe.rows.take(2)
    val junk = Row(null, "777",
      java.util.Base64.getEncoder.encodeToString(
        "not a png at all".getBytes("UTF-8")))
    simOrg.insert("Media__c", good :+ junk, MediaOrgRecipe.schema)
    val base = java.nio.file.Files
      .createTempDirectory("w30_deadletter_").toFile.getAbsolutePath
    val outDir = s"$base/hashes"
    val q = spark.readStream.format("salesforce-sim")
      .option("org", "w30_deadletter_org").option("sObject", "Media__c")
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, e: Long) =>
        Streams.mediaPhashBatch(outDir)(
          batch.select(col("MKey__c").cast("long").as("media_id"),
            unbase64(col("Body__c")).as("bytes")), e)
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val hashed = spark.read.schema(Streams.mediaHashSchema)
      .parquet(outDir).select("media_id").as[Long].collect().toSet
    assert(hashed == good.map(_.getString(1).toLong).toSet,
      s"decodable payloads must hash: $hashed")
    val dead = spark.read.schema("media_id BIGINT")
      .parquet(s"$outDir/_undecoded").select("media_id")
      .as[Long].collect().toSet
    assert(dead == Set(777L),
      s"the corrupt payload must dead-letter with its id: $dead")
  }

  test("chunkOverlap rejects carry columns that collide with its outputs") {
    import spark.implicits._
    val df = Seq((1L, "a b c", 7L)).toDF("doc_id", "text", "chunk_md5")
    val e = intercept[IllegalArgumentException] {
      graft.functions.TextOps.chunkOverlap(df, "doc_id", "text",
        size_ = 64, step = 48, carry = Seq("chunk_md5"))
    }
    assert(e.getMessage.contains("collide"), e.getMessage)
  }

  test("chunkDedupStream: watermark-bounded dedup matches batch distinct") {
    // the PRODUCTION unbounded-stream API (VERDICT r11 #5): same chunk
    // arithmetic as the w21 gate but state bounded by a watermark via
    // dropDuplicatesWithinWatermark. With a delay covering the data's
    // event-time span, every duplicate falls inside the watermark
    // window, so the emitted set must equal the global batch distinct —
    // across micro-batches, exactly like the gate.
    val dir = java.nio.file.Files.createTempDirectory("graft_wmdedup_").toString
    val rows = (0 until 90).map { i =>
      (i.toLong, s"${"tok " * 70}doc${i % 30} tail")
    }
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .repartition(3).write.parquet(s"$dir/documents.parquet")
    def run(maxFiles: Option[Int]): Seq[String] = {
      val docs = Streams.eventStream(spark, s"$dir/documents.parquet",
        maxFiles).withColumn("ingest_ts", timestamp_seconds(col("doc_id")))
      val out = Streams.chunkDedupStream(docs, "doc_id", "text",
        "ingest_ts", delay = "1 hour")
      // the state operator must be the watermark-evicting one, not the
      // accrete-forever dropDuplicates
      assert(out.queryExecution.analyzed.toString
        .contains("DeduplicateWithinWatermark"),
        "production variant must use dropDuplicatesWithinWatermark")
      val sink = s"wmdedup_${System.nanoTime()}"
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Streams.rowsOfSorted(spark.table(sink))
    }
    val batchDistinct = Streams.rowsOfSorted(
      graft.functions.TextOps.chunkOverlap(
        spark.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", size_ = 64, step = 48)
        .select(col("chunk_md5")).distinct())
    val multi = run(Some(1))
    assert(multi.nonEmpty && multi == batchDistinct,
      "watermarked dedup diverged from batch distinct across batches")
    assert(run(None) == batchDistinct,
      "watermarked dedup diverged from batch distinct in one batch")
  }

  /** Shared scaffolding of the two hard-kill tests: fork a crash-child
    * JVM running `mainClass args…`, wait (up to 120 s) for batch 0 to
    * commit in the checkpoint under `base`, then SIGKILL it — whatever
    * the next batch was doing dies with no clean abort. Asserts the
    * child reached commit 0, with its log in the failure message. */
  private def forkAndKillAfterCommit0(mainClass: String,
      args: Seq[String], base: String): Unit = {
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getPath
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g",
      "-cp", System.getProperty("java.class.path"), mainClass) ++ args).toList
    val childLog = new java.io.File(base, "child.log")
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(ProcessBuilder.Redirect.to(childLog))
    val proc = pb.start()
    try {
      val commit0 = new java.io.File(s"$base/ckpt/commits/0")
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!commit0.exists() && proc.isAlive &&
          System.nanoTime() < deadline)
        Thread.sleep(25)
      assert(commit0.exists(), "child never committed batch 0; log:\n" +
        new String(java.nio.file.Files.readAllBytes(childLog.toPath)))
    } finally {
      proc.destroyForcibly()
      proc.waitFor()
    }
  }

  test("w22/w30 gates: stopped mid-backfill, restarted, every row once") {
    // the two gates that share the stop-mid-backfill-then-drain runner:
    // w22's sink must hold the customer projection exactly once (a reset
    // cursor duplicates run 1's pages, a skipped-ahead one loses the
    // unread gap), and w30's pair set must equal mm14's pinned answer
    import graft.multimodal.PinnedMediaMath
    val customerPath = "/root/testdata/sf0.001/customer.parquet"
    val got = Streams.connectorRecoveryGate(spark, customerPath)
    val keys = got.select("c_custkey").as[Long].collect().toSeq
    assert(keys.distinct.size == keys.size,
      s"${keys.size - keys.distinct.size} duplicate c_custkey rows")
    val want = spark.read.parquet(customerPath).select(col("c_custkey"),
      col("c_name"), col("c_nationkey").cast("long"))
    assert(Streams.rowsOfSorted(got) == Streams.rowsOfSorted(want),
      s"got ${keys.size} rows, want ${want.count()}")
    val pairs = Streams.rowsOfSorted(
      Streams.mediaConnectorStreamGate(spark, maxHamming = 4))
    assert(pairs.nonEmpty && pairs == Streams.rowsOfSorted(
      PinnedMediaMath.imageNearDupPinned(spark, maxHamming = 4)))
  }

  test("w22 hard-kill: SIGKILLed connector stream resumes its Id cursor exactly") {
    // upgrade of the gate's cooperative stop() (VERDICT r11 stretch):
    // run 1 happens in a FORKED JVM that is destroyForcibly'd (SIGKILL)
    // once batch 0 has committed — whatever batch 1 was doing dies
    // mid-flight with no clean abort. Run 2 resumes IN-PROCESS from the
    // orphaned checkpoint against a rebuilt org (InMemoryOrg mints
    // sequential Ids in insert order, so landing the same h1 in the
    // same order re-creates the Ids the child's cursor points into),
    // lands h2, drains, and the commit-log-read sink must equal the
    // batch SELECT over the whole dim — a reset cursor duplicates run
    // 1's pages, a skipped-ahead cursor loses the unread gap, and a
    // torn sink file not masked by the commit log corrupts the read.
    // sf0.01 (1500 customers, h1=750): after batch 0 commits, ~686 h1
    // rows are still unread, so the SIGKILL genuinely lands
    // mid-backfill rather than racing a tiny already-drained corpus.
    val customerPath = "/root/testdata/sf0.01/customer.parquet"
    val base = java.nio.file.Files
      .createTempDirectory("w22_kill_").toFile.getAbsolutePath
    // batch 0 committed = 64 rows in the sink, the rest of h1 unread;
    // the kill lands wherever batch 1 happens to be at that moment
    forkAndKillAfterCommit0("graft.ConnectorCrashChild",
      Seq(customerPath, base), base)
    // the kill must land MID-BACKFILL (r12 verdict): if the child had
    // drained all of h1 before the SIGKILL, run 2's "resume" would be
    // a no-op and this test would silently stop guarding the cursor —
    // a future admission-cap change must trip this, not pass vacuously
    val h1Size = spark.read.parquet(customerPath).count() / 2
    val atKill = spark.read.parquet(s"$base/sink").count()
    assert(atKill > 0, "no committed sink rows at kill")
    assert(atKill < h1Size,
      s"child drained h1 before the kill ($atKill of $h1Size rows read) " +
        "— the admission cap no longer leaves unread backfill")
    // run 2, in-process: rebuild the org the checkpoint cursor expects
    val orgName = s"w22_kill_parent_${System.nanoTime()}"
    val (h1, h2, land) = Streams.connectorSimOrg(spark, customerPath, orgName)
    land(h1); land(h2)
    val q2 = Streams.connectorSinkStream(spark, orgName, base)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val got = Streams.rowsOfSorted(spark.read.parquet(s"$base/sink")
      .select(col("CKey__c").cast("long"), col("Name__c"),
        col("NKey__c").cast("long")))
    val want = Streams.rowsOfSorted(spark.read.parquet(customerPath)
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey").cast("long")))
    assert(got.size == want.size && got == want,
      s"hard-kill resume lost or duplicated rows: got ${got.size}, " +
        s"want ${want.size}")
  }

  test("w30 hard-kill: SIGKILLed media stream resumes and the pair set " +
      "still equals the pinned batch answer") {
    // the no-clean-abort grade of the w30 gate: run 1 forks a JVM that
    // free-runs the connector media stream (fused decode+hash into the
    // epoch spool) and is destroyForcibly'd after batch 0 commits — an
    // epoch's spool directory can die HALF-WRITTEN (torn parquet, no
    // _SUCCESS). Run 2 resumes in-process from the orphaned checkpoint
    // against a rebuilt org with the duplicates landed, replays the
    // in-flight epoch (mode-overwrite absorbs the torn dir), and
    // drains. The banded Hamming join over the spool must equal the
    // pinned BATCH answer (mm14's Spark half) — a reset cursor leaves
    // duplicate hash rows only if epochs drift (they must not), a
    // skipped cursor loses media and their pairs, and an unabsorbed
    // torn file fails the read outright.
    import graft.sources.MediaOrgRecipe
    import graft.multimodal.PinnedMediaMath
    val base = java.nio.file.Files
      .createTempDirectory("w30_kill_").toFile.getAbsolutePath
    forkAndKillAfterCommit0("graft.MediaCrashChild", Seq(base), base)
    // the kill must land MID-BACKFILL: committed batches (checkpoint
    // commit files — counting the spool would trip on the torn epoch
    // the kill is supposed to produce) strictly fewer than a full h1
    // drain needs. The drain math derives from the child's own cap
    // (Streams.MediaCrashCap = 4 → 20 batches for the 80 originals),
    // sized so a fast host cannot drain everything inside the parent's
    // poll-detect-kill latency.
    val nOriginals = MediaOrgRecipe.rows.length / 2 // 80
    val batchesToDrainH1 =
      math.ceil(nOriginals.toDouble / Streams.MediaCrashCap).toLong
    val committed = Option(new java.io.File(s"$base/ckpt/commits")
      .listFiles()).map(_.count(f => f.getName.forall(_.isDigit)))
      .getOrElse(0)
    assert(committed >= 1 && committed < batchesToDrainH1,
      s"child committed $committed batches of $batchesToDrainH1 — the " +
        "kill no longer lands mid-backfill")
    // run 2, in-process: rebuild the org the cursor points into
    // (sequential Ids, canonical landing order) with the duplicates
    // landed, and drain from the orphaned checkpoint
    val land = Streams.buildMediaOrg("w30_kill_parent")
    land(MediaOrgRecipe.rows)
    val q2 = Streams.mediaConnectorSinkStream(spark, "w30_kill_parent",
        base, cap = Streams.MediaCrashCap)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val got = Streams.rowsOfSorted(
      Streams.mediaSpoolPairs(spark, s"$base/hashes", maxHamming = 4))
    val want = Streams.rowsOfSorted(
      PinnedMediaMath.imageNearDupPinned(spark, maxHamming = 4))
    assert(got.size == want.size && got == want,
      s"hard-kill resume broke the pair set: got ${got.size} pairs, " +
        s"want ${want.size}")
  }

  test("index appends AFTER a compaction remain queryable") {
    import graft.functions.VectorOps
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val isLate = col("vec_id") >= 200
    val path = java.nio.file.Files.createTempDirectory("postcompact_").toString
    VectorOps.buildPinnedIvfIndex(emb.where(!isLate),
      "vec_id", "embedding", nlist = 16, path = path)
    VectorOps.compactPinnedIvfIndex(spark, path)
    // the lifecycle continues after compaction: batch AND streamed
    // deltas land in fresh roots that the serving union must include
    VectorOps.appendPinnedIvfIndex(
      emb.where(isLate && col("vec_id") % 2 === 0), "vec_id", "embedding", path)
    VectorOps.appendPinnedIvfIndexBatch(
      emb.where(isLate && col("vec_id") % 2 =!= 0), "vec_id", "embedding",
      path, 7L, "t-lineage")
    val served = Streams.rowsOfSorted(VectorOps.queryPinnedIvfIndex(
      spark, path, emb.where(col("vec_id") < 20), "vec_id", "embedding",
      k = 5, nprobe = 6))
    val inPlace = Streams.rowsOfSorted(VectorOps.ivfTopKPinned(
      emb.where(col("vec_id") < 20), emb, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 6))
    assert(served.nonEmpty && served == inPlace,
      "post-compaction appends must be visible to queries")
    // and a SECOND compaction folds them in without double-counting
    VectorOps.compactPinnedIvfIndex(spark, path)
    val recompacted = Streams.rowsOfSorted(VectorOps.queryPinnedIvfIndex(
      spark, path, emb.where(col("vec_id") < 20), "vec_id", "embedding",
      k = 5, nprobe = 6))
    assert(recompacted == inPlace)
  }

  test("w18: restarted query resumes transformWithState state from the checkpoint") {
    // two queries, one checkpoint: the gate stops after the even-id half
    // and restarts for the odd half — the terminal per-user CDC view must
    // equal the single-run gate over the whole feed, which is only
    // possible if run 2 restored run 1's RocksDB state (spanning users
    // would otherwise lose their first-half counts and maxima).
    val dir = java.nio.file.Files
      .createTempDirectory("graft_w18_").toString
    val rows = (0 until 240).map { i =>
      (i.toLong,
        Timestamp.valueOf(f"2024-01-01 ${10 + i % 3}%02d:${i % 60}%02d:00"),
        (i % 7).toLong, Seq("view", "click", "purchase")(i % 3),
        (i % 13) * 0.37)
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .repartition(3).write.parquet(s"$dir/events.parquet")
    val ev = s"$dir/events.parquet"
    // the restart assertion must not be vacuous: every user here has
    // both even- and odd-id events (240 consecutive ids over 7 users)
    val spanning = spark.read.parquet(ev)
      .groupBy("user_id")
      .agg(countDistinct(col("event_id") % 2).as("halves"))
      .where(col("halves") === 2).count()
    assert(spanning == 7, s"fixture must have spanning users, got $spanning")
    val restarted = Streams.rowsOfSorted(Streams.checkpointRecoveryGate(spark, ev))
    val single = Streams.rowsOfSorted(Streams.cdcMaterializeGate(spark, ev))
    assert(restarted.nonEmpty)
    assert(restarted == single,
      "restart-from-checkpoint terminal state differs from the single-run gate")
  }
}

/** Stateful Bulk v1 wire sim: speaks the async REST surface
  * [[graft.sources.BulkApiOrg]] drives (describe, create job, add batch,
  * close, poll, list results, fetch result) and answers queries by
  * evaluating the batch's SOQL against a backing
  * [[graft.sources.InMemoryOrg]] — so the protocol is exercised at the
  * wire while query semantics come from the shared Soql evaluator.
  * Insert jobs run in either content type (JSON, or CSV payloads with
  * XML envelopes): the batch's records land in the backing org when the
  * batch completes, and the result carries their Ids in row order. The
  * job state machine `require`s protocol order: a batch on a closed job,
  * a close before any batch, a poll before close, or a result fetch
  * before a Completed poll each fail the test immediately. */
private[graft] class BulkWireSim(
    inner: graft.sources.InMemoryOrg,
    describes: Map[String, String]) extends graft.sources.HttpTransport {
  import org.json4s._
  import org.json4s.jackson.JsonMethods
  import org.apache.spark.sql.Row
  import graft.sources.Soql

  final class JobState(val operation: String, val obj: String, val csv: Boolean) {
    /** The batch body: a query's SOQL, or an insert's records. */
    @volatile var soql: Option[String] = None
    @volatile var closed = false
    @volatile var polls = 0
    /** An insert's per-record results, set when its batch completes. */
    @volatile var results = ""
    override def toString =
      s"Job($operation,$obj,closed=$closed,polls=$polls,soql=$soql)"
  }
  val jobs = scala.collection.mutable.LinkedHashMap.empty[String, JobState]
  val calls = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  override def postForm(url: String, params: Map[String, String]): (Int, String) =
    (200, """{"access_token": "TOK-W", "instance_url": "https://bulk.example.org"}""")

  private def xmlField(xml: String, tag: String): String =
    s"(?s)<$tag>(.*?)</$tag>".r.findFirstMatchIn(xml).map(_.group(1).trim)
      .getOrElse(sys.error(s"no <$tag> in $xml"))

  /** One CSV line's fields: quoted, with doubled quotes inside. */
  private def cells(line: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val field = new StringBuilder
    var quoted = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c != '"') field += c
        else if (i + 1 < line.length && line.charAt(i + 1) == '"') { field += '"'; i += 1 }
        else quoted = false
      } else if (c == '"') quoted = true
      else if (c == ',') { out += field.toString; field.clear() }
      else field += c
      i += 1
    }
    (out += field.toString).toSeq
  }

  /** Inserts the job's records into the backing org; returns the
    * per-record results in the job's content type. */
  private def runInsert(job: JobState): String = {
    val schema = inner.describe(job.obj)
    val rows = if (job.csv) {
      val lines = job.soql.get.split("\n").toSeq
      val header = cells(lines.head)
      lines.tail.map { line =>
        val vs = cells(line)
        Row.fromSeq(schema.fields.toSeq.map { f =>
          header.indexOf(f.name) match {
            case -1 => null
            case i => if (vs(i).isEmpty) null else Soql.coerceText(vs(i), f.dataType)
          }
        })
      }
    } else JsonMethods.parse(job.soql.get) match {
      case JArray(recs) => recs.map { rec =>
        Row.fromSeq(schema.fields.toSeq.map { f =>
          rec \ f.name match {
            case JNothing | JNull => null
            case JString(v) => Soql.coerceText(v, f.dataType)
            case v => v.values
          }
        })
      }
      case other => sys.error(s"bad insert payload $other")
    }
    val ids = inner.insert(job.obj, rows, schema)
    def csvLine(vs: String*) = vs.map(v => "\"" + v + "\"").mkString(",")
    if (job.csv)
      (csvLine("Id", "Success", "Created", "Error") +:
        ids.map(csvLine(_, "true", "true", ""))).mkString("\n")
    else JsonMethods.compact(JsonMethods.render(JArray(ids.toList.map(id =>
      JObject("id" -> JString(id), "success" -> JBool(true),
        "created" -> JBool(true), "errors" -> JArray(Nil))))))
  }

  override def send(method: String, url: String,
      headers: Map[String, String], body: String): (Int, String) = synchronized {
    calls += ((method, url))
    require(headers.contains("X-SFDC-Session"), s"missing session header on $url")
    val async = "https://bulk.example.org/services/async/47.0"
    val rest = "https://bulk.example.org/services/data/v47.0"
    def jobOf(u: String): JobState = {
      val id = u.stripPrefix(s"$async/job/").takeWhile(_ != '/')
      jobs.getOrElse(id, sys.error(s"unknown job '$id' in $u"))
    }
    def batchInfo(job: JobState, state: String): String =
      if (job.csv) s"<batchInfo><id>B1</id><state>$state</state></batchInfo>"
      else s"""{"id": "B1", "state": "$state"}"""
    (method, url) match {
      case ("GET", u) if u.startsWith(s"$rest/sobjects/") && u.endsWith("/describe") =>
        val obj = u.stripPrefix(s"$rest/sobjects/").stripSuffix("/describe")
        (200, describes.getOrElse(obj, sys.error(s"no describe for $obj")))
      case ("POST", u) if u == s"$async/job" =>
        val id = s"J${jobs.size + 1}"
        if (body.trim.startsWith("<")) {
          jobs(id) = new JobState(xmlField(body, "operation"), xmlField(body, "object"), csv = true)
          (201, s"<jobInfo><id>$id</id><state>Open</state></jobInfo>")
        } else {
          val j = JsonMethods.parse(body)
          jobs(id) = new JobState(
            (j \ "operation").values.toString, (j \ "object").values.toString, csv = false)
          (201, s"""{"id": "$id"}""")
        }
      case ("POST", u) if u.endsWith("/batch") =>
        val job = jobOf(u)
        require(!job.closed, s"batch added to closed job: $u")
        require(job.operation == "insert" || (job.operation == "query" && !job.csv),
          s"wire sim scripts JSON query and insert jobs, got $job")
        require(job.soql.isEmpty, "wire sim scripts one batch per job")
        job.soql = Some(body)
        (201, batchInfo(job, "Queued"))
      case ("POST", u) if u.startsWith(s"$async/job/") =>
        val job = jobOf(u)
        require(job.soql.nonEmpty, s"close before any batch: $u")
        job.closed = true
        (200, if (job.csv) "<jobInfo><state>Closed</state></jobInfo>" else """{"state": "Closed"}""")
      case ("GET", u) if u.endsWith("/result") =>
        val job = jobOf(u)
        require(job.polls >= 2, s"results listed before Completed: $u")
        (200, if (job.operation == "insert") job.results else """["R1"]""")
      case ("GET", u) if u.contains("/result/") =>
        val job = jobOf(u)
        require(job.polls >= 2, s"result fetched before Completed: $u")
        val soql = job.soql.get
        val sel = soql.stripPrefix("SELECT ")
        val items = sel.substring(0, sel.indexOf(" FROM "))
          .split(",").map(_.trim).toSeq
        val recs = inner.query(soql).map { r =>
          JObject(items.zipWithIndex.map { case (item, i) =>
            item -> (r.get(i) match {
              case null => JNull: JValue
              case s: String => JString(s)
              case n: Long => JLong(n)
              case n: Int => JLong(n.toLong)
              case d: Double => JDouble(d)
              case b: Boolean => JBool(b)
              case o => JString(o.toString)
            })
          }.toList)
        }.toList
        (200, JsonMethods.compact(JsonMethods.render(JArray(recs))))
      case ("GET", u) if u.contains("/batch/") =>
        val job = jobOf(u)
        require(job.closed, s"poll before close: $u")
        job.polls += 1
        if (job.polls == 1) (200, batchInfo(job, "InProgress"))
        else {
          if (job.polls == 2 && job.operation == "insert") job.results = runInsert(job)
          (200, batchInfo(job, "Completed"))
        }
      case other => sys.error(s"unexpected request $other")
    }
  }
}
