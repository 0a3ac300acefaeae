package graft

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.ConnectorTableIO
import graft.sources.{AuthToken, BulkApiOrg, InMemoryOrg, OrgWriteMetrics, RemoteOrgRegistry}

/** The DSv2 connector's negotiated pushdown contract, proven end to end:
  * the in-memory org records every SOQL statement, so these tests assert
  * on what Catalyst actually pushed — not just on result correctness. */
class ConnectorSuite extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("Id", StringType),
    StructField("Name", StringType),
    StructField("Amount", LongType),
    StructField("Region", StringType)))

  private def freshOrg(name: String, n: Int = 10): InMemoryOrg = {
    val org = new InMemoryOrg
    org.createTable("Account", schema,
      (1 to n).map(i => Row(f"ID$i%03d", s"acc$i", i.toLong * 10, if (i % 2 == 0) "EU" else "US")))
    RemoteOrgRegistry.register(name, org)
    org
  }

  private def read(orgName: String) =
    spark.read.format("salesforce-sim")
      .option("org", orgName).option("sObject", "Account").load()

  test("full scan reads all rows through the connector") {
    freshOrg("t1")
    assert(read("t1").count() == 10)
  }

  test("column pruning reaches the generated SOQL") {
    val org = freshOrg("t2")
    val out = read("t2").select("Name", "Amount")
    assert(out.collect().length == 10)
    val soql = org.statements.last
    assert(soql.startsWith("SELECT Name, Amount FROM Account"), soql)
    assert(!soql.contains("Region"))
  }

  test("filter pushdown: comparison predicates are absorbed into SOQL") {
    val org = freshOrg("t3")
    val out = read("t3").where(col("Amount") > 50 && col("Region") === "EU")
    val rows = out.collect()
    assert(rows.forall(r => r.getAs[Long]("Amount") > 50 && r.getAs[String]("Region") == "EU"))
    assert(rows.length == 3) // 60,80,100 are EU
    val soql = org.statements.last
    assert(soql.contains("Amount > 50"), soql)
    assert(soql.contains("Region = 'EU'"), soql)
    // and the physical plan reports them as pushed
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("SalesforceScan"), plan)
  }

  test("IN-list predicate pushes as SOQL IN") {
    val org = freshOrg("t4")
    val out = read("t4").where(col("Id").isin("ID001", "ID004"))
    assert(out.count() == 2)
    assert(org.statements.last.contains("Id IN ('ID001', 'ID004')"), org.statements.last)
  }

  test("limit pushdown caps the remote query") {
    val org = freshOrg("t5")
    assert(read("t5").limit(3).collect().length == 3)
    assert(org.statements.last.endsWith("LIMIT 3"), org.statements.last)
  }

  test("LIKE pushdown: startsWith/endsWith/contains render to SOQL LIKE") {
    val org = freshOrg("t6")
    val out = read("t6").where(col("Name").endsWith("3"))
    assert(out.collect().map(_.getAs[String]("Id")).toSeq == Seq("ID003"))
    assert(org.statements.exists(_.contains("Name LIKE '%3'")),
      org.statements.mkString("\n"))

    val out2 = read("t6").where(col("Name").startsWith("acc1")) // acc1, acc10
    assert(out2.count() == 2)
    assert(org.statements.exists(_.contains("Name LIKE 'acc1%'")),
      org.statements.mkString("\n"))

    val out3 = read("t6").where(col("Name").contains("c1")) // acc1, acc10
    assert(out3.count() == 2)
    assert(org.statements.exists(_.contains("Name LIKE '%c1%'")),
      org.statements.mkString("\n"))
  }

  test("untranslatable filters still return correct results post-scan") {
    val org = freshOrg("t6b")
    val out = read("t6b").where(length(col("Name")) === 4) // acc1..acc9
    assert(out.count() == 9)
    // the length() predicate has no SOQL rendering — nothing beyond the
    // inferred IsNotNull may reach the org
    assert(org.statements.filter(_.startsWith("SELECT"))
      .forall(s => !s.toLowerCase.contains("length") && !s.contains("LIKE")),
      org.statements.mkString("\n"))
  }

  test("OR predicates push down as SOQL OR") {
    val org = freshOrg("t6c")
    val out = read("t6c").where(col("Region") === "US" || col("Amount") >= 100)
    val rows = out.collect()
    assert(rows.length == 6) // 5 US + EU amount 100
    assert(org.statements.exists(s => s.contains("Region = 'US'") &&
      s.contains(" OR ") && s.contains("Amount >= 100")),
      org.statements.mkString("\n"))
  }

  test("date and timestamp literals push down as unquoted ISO SOQL") {
    val org = new InMemoryOrg
    val sch = StructType(Seq(
      StructField("Id", StringType),
      StructField("CloseDate", DateType),
      StructField("CreatedAt", TimestampType)))
    org.createTable("Opp", sch, (1 to 6).map(i => Row(
      f"ID$i%03d", java.sql.Date.valueOf(f"2024-01-$i%02d"),
      java.sql.Timestamp.from(java.time.Instant.parse(f"2024-01-$i%02dT05:00:00Z")))))
    RemoteOrgRegistry.register("t6d", org)
    val df = spark.read.format("salesforce-sim")
      .option("org", "t6d").option("sObject", "Opp")
      .option("numPartitions", "1").load()

    val byDate = df.where(col("CloseDate") > lit(java.sql.Date.valueOf("2024-01-03")))
    assert(byDate.count() == 3)
    assert(org.statements.exists(_.contains("CloseDate > 2024-01-03")),
      org.statements.mkString("\n"))

    val byTs = df.where(
      col("CreatedAt") >= lit(java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-05T00:00:00Z"))))
    assert(byTs.count() == 2)
    assert(org.statements.exists(s =>
      s.contains("CreatedAt >= 2024-01-05T00:00:00Z")),
      org.statements.mkString("\n"))
  }

  test("count(*) pushes down as a SOQL aggregate") {
    val org = freshOrg("t9")
    val n = read("t9").where(col("Region") === "EU").count()
    assert(n == 5)
    val soql = org.statements.last
    assert(soql.contains("COUNT(*)"), soql)
  }

  test("groupBy min/max/count pushes down with GROUP BY") {
    val org = freshOrg("t10")
    val out = read("t10").groupBy("Region")
      .agg(count(lit(1)).as("n"), min("Amount").as("lo"), max("Amount").as("hi"))
      .orderBy("Region")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("EU", 5L, 20L, 100L), ("US", 5L, 10L, 90L)))
    val soql = org.statements.last
    assert(soql.contains("GROUP BY Region") && soql.contains("MIN(Amount)")
      && soql.contains("MAX(Amount)"), soql)
  }

  test("PK-range scan splits into multiple partitions with identical results") {
    val org = freshOrg("t12")
    val df = read("t12")
    // the default partition request tracks the cluster, not a constant
    assert(df.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      s"expected defaultParallelism PK ranges, got ${df.rdd.getNumPartitions}")
    // every range carries an Id-range predicate and the union is exactly the table
    val ids = df.collect().map(_.getAs[String]("Id")).sorted
    assert(ids.toSeq == (1 to 10).map(i => f"ID$i%03d"))
    val scans = org.statements.filter(_.startsWith("SELECT"))
    assert(scans.count(_.contains("Id > ")) >= 3, scans.mkString("\n"))
  }

  test("explicit numPartitions=1 keeps the single-cursor scan") {
    val org = freshOrg("t13")
    val df = spark.read.format("salesforce-sim")
      .option("org", "t13").option("sObject", "Account")
      .option("numPartitions", "1").load()
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 10)
  }

  test("aggregate over PK ranges demotes to partials Spark merges correctly") {
    val org = freshOrg("t14")
    // 4 range partitions -> complete pushdown must NOT be claimed; each
    // range returns partial COUNT/MIN/MAX and Spark merges (COUNT summed)
    val out = read("t14").groupBy("Region")
      .agg(count(lit(1)).as("n"), min("Amount").as("lo"), max("Amount").as("hi"))
      .orderBy("Region")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("EU", 5L, 20L, 100L), ("US", 5L, 10L, 90L)))
    val aggScans = org.statements.filter(s => s.contains("COUNT(*)"))
    assert(aggScans.size == 4, org.statements.mkString("\n"))
    assert(aggScans.forall(_.contains("GROUP BY Region")))
    // global count over ranges also sums partials
    assert(read("t14").count() == 10)
  }

  test("relationship-path columns push down as dotted SOQL, no parent scan") {
    val org = new InMemoryOrg
    org.createTable("Child", StructType(Seq(
      StructField("Id", StringType), StructField("Name", StringType),
      StructField("ParentId", StringType))), Seq(
      Row("C1", "a", "P1"), Row("C2", "b", "P2"), Row("C3", "c", null)))
    org.createTable("Parent", StructType(Seq(
      StructField("Id", StringType), StructField("Email", StringType))), Seq(
      Row("P1", "p1@x.org"), Row("P2", "p2@x.org")))
    org.declareRelationship("Child", "ParentId", "Parent", "Id")
    RemoteOrgRegistry.register("rel1", org)

    val df = spark.read.format("salesforce-sim")
      .option("org", "rel1").option("sObject", "Child")
      .option("relationships", "ParentId:Parent:Id")
      .option("numPartitions", "1").load()
    assert(df.columns.contains("Parent.Email"))

    val out = df.select(col("Name"), col("`Parent.Email`").as("email"))
      .orderBy("Name")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq(("a", "p1@x.org"), ("b", "p2@x.org"), ("c", null)))

    val scans = org.statements.filter(_.startsWith("SELECT"))
    assert(scans.exists(_.contains("Parent.Email")), scans.mkString("\n"))
    assert(!scans.exists(_.contains("FROM Parent")),
      "parent must not be scanned separately:\n" + scans.mkString("\n"))
  }

  test("mapping compiler uses connector relationship pushdown when available") {
    import graft.compile.{MappingCompiler, Relationship}
    import graft.engine.ConnectorTableIO
    import graft.spec.MappingSpec

    val org = new InMemoryOrg
    org.createTable("Account", StructType(Seq(
      StructField("Id", StringType), StructField("OwnerId", StringType),
      StructField("Amount", LongType))), Seq(
      Row("A1", "U1", 10L), Row("A2", "U2", 20L), Row("A3", null, 30L)))
    org.createTable("User", StructType(Seq(
      StructField("Id", StringType), StructField("Alias", StringType))), Seq(
      Row("U1", "ann"), Row("U2", "bob")))
    org.declareRelationship("Account", "OwnerId", "User", "Id")
    RemoteOrgRegistry.register("rel2", org)

    val rels = Seq(Relationship("Account", "OwnerId", "User", "Id"))
    val io = new ConnectorTableIO(spark, "rel2", relationships = rels)
    val spec = MappingSpec.fromJson("""
      [{"source_object": "Account", "destination_object": "Accounts__c",
        "mapping": [
          {"table_src": "Account", "column_src": "Id",
           "table_dst": "Accounts__c", "column_dst": "Old_Id__c",
           "operation": "copy", "column_type": "src_id"},
          {"table_src": "User", "column_src": "Alias",
           "table_dst": "Accounts__c", "column_dst": "Owner_Alias__c",
           "operation": "copy", "column_type": "regular"}]}]""").head

    val out = MappingCompiler.sourceQuery(io.read, spec, rels)
      .orderBy("Id").collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq(("A1", "ann"), ("A2", "bob"), ("A3", null)))
    // the org saw ONE object with a dotted path — not a User table scan
    val scans = org.statements.filter(_.startsWith("SELECT"))
    assert(scans.exists(s => s.contains("User.Alias") && s.contains("FROM Account")),
      scans.mkString("\n"))
    assert(!scans.exists(_.contains("FROM User")), scans.mkString("\n"))
  }

  test("streaming source: PK-cursor micro-batches deliver rows exactly once") {
    val simOrg = new InMemoryOrg
    simOrg.createTable("Event__c", StructType(Seq(
      StructField("Id", StringType), StructField("Payload", StringType))))
    simOrg.insert("Event__c",
      (1 to 5).map(i => Row(null, s"p$i")),
      StructType(Seq(StructField("Id", StringType), StructField("Payload", StringType))))
    RemoteOrgRegistry.register("stream1", simOrg)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-stream-out").toString

    // parquet sink: fault-tolerant, so the second start RESUMES from the
    // checkpointed PK cursor (the memory sink refuses recovery)
    def runOnce(): Unit = {
      val q = spark.readStream.format("salesforce-sim")
        .option("org", "stream1").option("sObject", "Event__c").load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }

    runOnce()
    assert(spark.read.parquet(out).count() == 5)

    // new records arrive; a restarted query resumes from the
    // checkpointed cursor and reads ONLY the delta
    simOrg.insert("Event__c",
      (6 to 8).map(i => Row(null, s"p$i")),
      StructType(Seq(StructField("Id", StringType), StructField("Payload", StringType))))
    runOnce()
    val all = spark.read.parquet(out).collect().map(_.getString(1)).sorted
    assert(all.toSeq == (1 to 8).map(i => s"p$i"),
      "delta must append exactly once: " + all.mkString(","))

    // the cursor rendered as an Id-range scan, the queryMore shape
    assert(simOrg.statements.exists(s => s.contains("Id > ") && s.contains("Id <= ")),
      simOrg.statements.mkString("\n"))
  }

  test("streaming admission control caps backfill batches at maxRecordsPerBatch") {
    val simOrg = new InMemoryOrg
    val sch = StructType(Seq(
      StructField("Id", StringType), StructField("Payload", StringType)))
    simOrg.createTable("Event__c", sch)
    (1 to 10).grouped(5).foreach(g =>
      simOrg.insert("Event__c", g.map(i => Row(null, s"p$i")), sch))
    RemoteOrgRegistry.register("stream2", simOrg)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-admit-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-admit-out").toString

    val q = spark.readStream.format("salesforce-sim")
      .option("org", "stream2").option("sObject", "Event__c")
      .option("maxRecordsPerBatch", "4").load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    // nothing lost, nothing duplicated — and the backfill paged: 10 rows
    // at <=4/batch means at least 3 non-empty micro-batches
    assert(spark.read.parquet(out).count() == 10)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3,
      s"expected >=3 capped batches, got ${batches.map(_.numInputRows).mkString(",")}")
    assert(batches.forall(_.numInputRows <= 4),
      batches.map(_.numInputRows).mkString(","))
  }

  test("admission cap holds when the org's physical row order is not Id order") {
    // Ids supplied by the caller in DESCENDING insert order: a LIMIT-only
    // paging query would see the table max in its first page and the
    // "capped" first batch would swallow the entire table. The pushed
    // ORDER BY Id makes each page the n smallest remaining Ids.
    val simOrg = new InMemoryOrg
    val sch = StructType(Seq(
      StructField("Id", StringType), StructField("Payload", StringType)))
    simOrg.createTable("Event__c", sch)
    (10 to 1 by -1).grouped(5).foreach(g =>
      simOrg.insert("Event__c", g.map(i => Row(f"Z$i%03d", s"p$i")), sch))
    RemoteOrgRegistry.register("stream4", simOrg)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ord-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ord-out").toString

    val q = spark.readStream.format("salesforce-sim")
      .option("org", "stream4").option("sObject", "Event__c")
      .option("maxRecordsPerBatch", "4").load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    assert(spark.read.parquet(out).count() == 10)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3,
      s"expected >=3 capped batches, got ${batches.map(_.numInputRows).mkString(",")}")
    assert(batches.forall(_.numInputRows <= 4),
      batches.map(_.numInputRows).mkString(","))
    assert(simOrg.statements.exists(_.contains("ORDER BY Id LIMIT")),
      "paging query must push ORDER BY Id:\n" + simOrg.statements.mkString("\n"))
  }

  test("streaming micro-batch ranges split on PK-chunk boundaries") {
    import graft.sources.{OrgMicroBatchStream, OrgStreamOffset, OrgInputPartition}
    val simOrg = new InMemoryOrg
    val sch = StructType(Seq(
      StructField("Id", StringType), StructField("Payload", StringType)))
    simOrg.createTable("Event__c", sch)
    (1 to 12).grouped(6).foreach(g =>
      simOrg.insert("Event__c", g.map(i => Row(null, s"p$i")), sch))
    RemoteOrgRegistry.register("stream3", simOrg)

    val stream = new OrgMicroBatchStream("stream3", "Event__c", sch, Nil,
      numPartitions = 4)
    val end = stream.latestOffset().asInstanceOf[OrgStreamOffset]
    val parts = stream.planInputPartitions(OrgStreamOffset(""), end)
    assert(parts.length > 1,
      s"backfill batch must split into >1 partitions, got ${parts.length}")
    // the ranges reassemble the exact batch: no overlap, no gap
    val rows = parts.flatMap(p =>
      simOrg.query(p.asInstanceOf[OrgInputPartition].soql).map(_.getString(1)))
    assert(rows.sorted.toSeq == (1 to 12).map(i => s"p$i").sorted)
  }

  test("global aggregate over an empty match still yields one row") {
    freshOrg("t9e")
    val out = read("t9e").where(col("Region") === "APAC")
      .agg(count(lit(1)).as("n"), min("Amount").as("lo"))
      .collect()
    assert(out.length == 1, "global aggregate must emit exactly one row")
    assert(out(0).getLong(0) == 0L)
    assert(out(0).isNullAt(1))
  }

  test("SUM/AVG push down completely on a single-cursor scan") {
    val org = freshOrg("t11")
    val df = spark.read.format("salesforce-sim")
      .option("org", "t11").option("sObject", "Account")
      .option("numPartitions", "1").load()
    val out = df.groupBy("Region")
      .agg(sum("Amount").as("s"), avg("Amount").as("a"))
      .orderBy("Region").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("EU", 300L, 60.0), ("US", 250L, 50.0)))
    val soql = org.statements.last
    assert(soql.contains("SUM(Amount)") && soql.contains("AVG(Amount)"), soql)
  }

  test("SUM over PK ranges demotes to partials Spark sums correctly") {
    val org = freshOrg("t11b")
    val out = read("t11b").groupBy("Region").agg(sum("Amount").as("s"))
      .orderBy("Region").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("EU", 300L), ("US", 250L)))
    val sumScans = org.statements.filter(_.contains("SUM(Amount)"))
    assert(sumScans.size == 4, org.statements.mkString("\n"))
  }

  test("AVG over PK ranges still yields the exact average (no avg-of-avgs)") {
    val org = freshOrg("t11c")
    val out = read("t11c").groupBy("Region").agg(avg("Amount").as("a"))
      .orderBy("Region").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(out.toSeq == Seq(("EU", 60.0), ("US", 50.0)))
    // partial pushdown must never ship AVG per range — Spark rewrites to
    // SUM/COUNT partials it can merge exactly
    assert(!org.statements.exists(s => s.contains("AVG") && s.contains("Id > ")),
      org.statements.mkString("\n"))
  }

  test("write path chunks inserts at 200 rows per org call") {
    val org = freshOrg("t7", n = 0)
    import spark.implicits._
    val df = (1 to 450).map(i => (null.asInstanceOf[String], s"w$i", i.toLong, "EU"))
      .toDF("Id", "Name", "Amount", "Region").repartition(1)
    df.write.format("salesforce-sim")
      .option("org", "t7").option("sObject", "Account")
      .mode(SaveMode.Append).save()
    assert(org.rows("Account").size == 450)
    assert(org.insertBatchSizes.forall(_ <= 200), org.insertBatchSizes)
    assert(org.insertBatchSizes.sum == 450)
    // org minted IDs for every created row
    assert(org.rows("Account").forall(_.getString(0) != null))
  }

  test("a connector insert returns its created Ids paired by src_id on the JSON and CSV wires") {
    import spark.implicits._
    val sch = StructType(Seq(StructField("Id", StringType),
      StructField("Old_Id__c", StringType), StructField("Name", StringType)))
    val describe = """{"fields": [{"name": "Id", "type": "id"},
      {"name": "Old_Id__c", "type": "string"}, {"name": "Name", "type": "string"}]}"""
    Seq("JSON", "CSV").foreach { wire =>
      val org = new InMemoryOrg
      org.createTable("Thing__c", sch)
      val sim = new BulkWireSim(org, Map("Thing__c" -> describe))
      RemoteOrgRegistry.register(s"pairs_$wire", new BulkApiOrg(
        AuthToken("TOK", "https://bulk.example.org"), sim, sleeper = _ => (),
        contentType = wire))
      val rows = (1 to 450).map(i => (f"S$i%03d", s"n$i")).toDF("Old_Id__c", "Name")
        .repartition(2)
      val created = new ConnectorTableIO(spark, s"pairs_$wire", srcIdColumn = Some("Old_Id__c"))
        .insert("Thing__c", rows).collect()
      assert(created.length == 450, wire)
      // each pair's Id is the record the org holds for that src_id
      val held = org.rows("Thing__c").map(r => r.getString(1) -> r.getString(0)).toMap
      assert(held.size == 450, wire)
      assert(created.map(r => r.getString(1) -> r.getString(0)).toMap == held, wire)
      // two partitions of 225 rows: a 200- and a 25-row insert job each,
      // and no query job reads the destination back
      assert(sim.jobs.values.map(_.operation).toSeq == Seq.fill(4)("insert"),
        s"$wire: ${sim.jobs.values.mkString("\n")}")
    }
  }

  test("an insert's created pairs are read once, and other writes record none") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sch = StructType(Seq(StructField("Id", StringType), StructField("K", StringType)))
    val org = new InMemoryOrg
    org.createTable("P__c", sch)
    RemoteOrgRegistry.register("pairs_org", org)
    def insert(writeId: String, createdKey: Option[String]): Unit = {
      val w = Seq("k1", "k2", "k3").toDF("K").write.format("salesforce-sim")
        .option("org", "pairs_org").option("sObject", "P__c").option("writeId", writeId)
      createdKey.fold(w)(w.option("createdKey", _)).mode(SaveMode.Append).save()
    }
    val pending = OrgWriteMetrics.pendingCreated

    insert("pairs-keyed", Some("K"))
    val held = org.rows("P__c").map(r => r.getString(0) -> r.getString(1))
    assert(OrgWriteMetrics.createdFor("pairs-keyed").sortBy(_._1) == held.sortBy(_._1))
    assert(OrgWriteMetrics.createdFor("pairs-keyed").isEmpty, "a second read finds nothing")
    insert("pairs-plain", None)
    assert(OrgWriteMetrics.createdFor("pairs-plain").isEmpty)

    // a streaming epoch records its outcome, never created pairs
    val input = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pairs_ckpt_").toString
    val q = input.toDF().select(lit(null).cast("string").as("Id"), col("value").as("K"))
      .writeStream.format("salesforce-sim")
      .option("org", "pairs_org").option("sObject", "P__c")
      .option("writeId", "pairs-stream").option("createdKey", "K")
      .option("checkpointLocation", ckpt).start()
    try {
      input.addData("s1", "s2")
      q.processAllAvailable()
    } finally q.stop()
    assert(org.rows("P__c").size == 8)
    assert(OrgWriteMetrics.forWrite("pairs-stream@0").map(_.processed).contains(2L))
    assert(OrgWriteMetrics.createdFor("pairs-stream@0").isEmpty)
    Seq("pairs-keyed", "pairs-plain").foreach(OrgWriteMetrics.forWrite)
    assert(OrgWriteMetrics.pendingCreated == pending)
  }

  test("round trip: migrate through the connector surface") {
    val org = freshOrg("t8")
    // extract with pushdown, transform, load back to a second object
    org.createTable("Account__c", StructType(Seq(
      StructField("Id", StringType),
      StructField("Old_Id__c", StringType),
      StructField("Name", StringType))))
    val extracted = read("t8").where(col("Amount") >= 60)
      .select(col("Id").as("Old_Id__c"), col("Name"))
    extracted.write.format("salesforce-sim")
      .option("org", "t8").option("sObject", "Account__c")
      .mode(SaveMode.Append).save()
    val created = org.rows("Account__c")
    assert(created.size == 5)
    assert(created.forall(r => r.getString(0).startsWith("ID") && r.getString(1) != null))
  }

  test("ORDER BY + LIMIT pushes as SOQL top-N; partial under PK ranges") {
    val org = freshOrg("topn1")
    val out = read("topn1").select("Id", "Amount")
      .orderBy(col("Amount").desc).limit(3).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("ID010", "ID009", "ID008"))
    val q = org.statements.last
    assert(q.contains("ORDER BY Amount DESC") && q.contains("LIMIT 3"),
      s"top-N must reach the org: $q")

    // the sim hands out PK ranges for a 10-row table (parallelism-sized),
    // so the statements above are already the PARTIAL top-N: every range
    // query must carry its own ordered LIMIT and the merged result is
    // exact. Assert that the range scans (if any) were each capped.
    val rangeQs = org.statements.filter(s =>
      s.contains("Id >") || s.contains("Id <="))
    assert(rangeQs.forall(s =>
      s.contains("ORDER BY Amount DESC") && s.contains("LIMIT 3")),
      rangeQs.mkString("\n"))
  }

  test("sorting on an aggregate does NOT claim top-N pushdown") {
    val org = freshOrg("topn3")
    // group+agg pushes; the ORDER BY over the agg result stays in Spark
    val out = read("topn3").groupBy("Region").count()
      .orderBy(col("count").desc).limit(1).collect()
    assert(out.head.getLong(1) == 5L)
    assert(!org.statements.exists(_.contains("ORDER BY count")),
      org.statements.mkString("\n"))
  }

  test("write node reports processed/failed as DSv2 custom metrics") {
    import graft.sources.{InMemoryOrg, RemoteOrgRegistry}
    val sch = StructType(Seq(
      StructField("Id", StringType), StructField("V", StringType)))
    val morg = new InMemoryOrg
    morg.createTable("M__c", sch)
    RemoteOrgRegistry.register("metrics_org", morg)
    import spark.implicits._
    val metrics = scala.collection.mutable.Map.empty[String, Long]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        qe.executedPlan.foreach { node =>
          node.metrics.foreach { case (k, m) =>
            if (k.contains("orgRecords")) metrics.synchronized {
              metrics(k) = metrics.getOrElse(k, 0L) + m.value
            }
          }
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Seq(("", "a"), ("", "b"), ("", "c"))
        .toDF("Id", "V")
        .write.format("salesforce-sim")
        .option("org", "metrics_org").option("sObject", "M__c")
        .mode(SaveMode.Append).save()
      // the write plan must DECLARE both custom metrics (they surface in
      // the SQL UI); listener delivery is async — poll briefly
      val deadline = System.nanoTime() + 10_000_000_000L
      while (metrics.synchronized(metrics.size) < 2 &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(metrics.synchronized(metrics.keySet) ==
        Set("orgRecordsProcessed", "orgRecordsFailed"), metrics.toString)
      // the VALUES flow through the task -> commit aggregation path
      assert(graft.sources.OrgWriteMetrics.lastCommit("metrics_org", "M__c") ==
        graft.sources.WriteOutcome(3L, 0L))
    } finally spark.listenerManager.unregister(listener)
  }

  test("an org recipe lets a foreign JVM's scan rebuild the connection") {
    // the round-13 local-cluster finding: executor-side createReader
    // resolved the org from a process-local registry that is EMPTY in a
    // separate executor JVM. Partitions now carry an OrgRecipe;
    // RemoteOrgRegistry.resolve prefers the resident org (the local[n]
    // fast path), builds from the recipe when foreign, rebuilds when a
    // newer plan ships a changed recipe, and explains itself when no
    // recipe exists.
    import graft.sources.{CustomerHalvesOrgRecipe, OrgRecipe, RemoteOrg}
    val customerPath = "/root/testdata/sf0.001/customer.parquet"
    // resident wins: a registered org is returned as-is
    val resident = freshOrg("recipe_resident")
    assert(RemoteOrgRegistry.resolve("recipe_resident", None) eq resident)
    // foreign + recipe-less: the loud explanation, not a bare lookup error
    val e = intercept[IllegalStateException] {
      RemoteOrgRegistry.resolve("never_registered_org", None)
    }
    assert(e.getMessage.contains("carries no OrgRecipe"), e.getMessage)
    // foreign + recipe: built, cached while the recipe is unchanged,
    // REBUILT when a newer plan ships a different landed count
    val r60 = CustomerHalvesOrgRecipe(customerPath, 60)
    val b1 = RemoteOrgRegistry.resolve("recipe_foreign", Some(r60))
    val b2 = RemoteOrgRegistry.resolve("recipe_foreign", Some(r60))
    assert(b1 eq b2, "unchanged recipe must reuse the cached build")
    assert(b1.query("SELECT Id, CKey__c FROM Customer__c").size == 60)
    val b3 = RemoteOrgRegistry.resolve("recipe_foreign",
      Some(CustomerHalvesOrgRecipe(customerPath, 90)))
    assert(!(b3 eq b1), "changed recipe must rebuild")
    assert(b3.query("SELECT Id FROM Customer__c").size == 90)
  }

  test("the sim recipe rebuilds the driver org bit-identically (Ids included)") {
    // the property the w22 cursor leans on: InMemoryOrg mints sequential
    // Ids in insert order, so a rebuilt org must return the SAME rows
    // with the SAME Ids for any half-open Id-range page the cursor asks
    import graft.sources.{CustomerHalvesOrgRecipe, InMemoryOrg}
    import graft.streaming.Streams
    val customerPath = "/root/testdata/sf0.001/customer.parquet"
    val (h1, _, land) = Streams.connectorSimOrg(spark, customerPath,
      "recipe_twin_driver")
    land(h1)
    val driverOrg = RemoteOrgRegistry("recipe_twin_driver")
    val rec = driverOrg.recipe
    assert(rec.contains(CustomerHalvesOrgRecipe(customerPath, h1.length)),
      s"plan-time recipe must capture the landed count, got $rec")
    val rebuiltOrg = rec.get.build()
    def dump(o: graft.sources.RemoteOrg) =
      o.query("SELECT Id, CKey__c, Name__c, NKey__c FROM Customer__c")
        .toVector
    assert(dump(driverOrg) == dump(rebuiltOrg),
      "rebuilt org diverged from the driver org")
    // and a cursor-shaped page agrees too
    def page(o: graft.sources.RemoteOrg) =
      o.query("SELECT Id, CKey__c FROM Customer__c WHERE (Id > 'a0000000000000010') LIMIT 7")
        .toVector
    assert(page(driverOrg) == page(rebuiltOrg))
  }

  test("executor-side writes refuse a facsimile recipe, loudly") {
    // a recipe-built SIM org is a copy: a write absorbed by it would be
    // silently lost. resolveForWrite must refuse unless the recipe
    // declares it connects to the SAME org (an HTTP client would).
    import graft.sources.CustomerHalvesOrgRecipe
    val customerPath = "/root/testdata/sf0.001/customer.parquet"
    val facsimile = CustomerHalvesOrgRecipe(customerPath, 10)
    assert(!facsimile.connectsToSameOrg)
    val e = intercept[IllegalStateException] {
      RemoteOrgRegistry.resolveForWrite("foreign_write_org", Some(facsimile))
    }
    assert(e.getMessage.contains("silently lost"), e.getMessage)
    // resident org still absorbs writes (the local[n] fast path)
    val resident = freshOrg("write_resident")
    assert(RemoteOrgRegistry.resolveForWrite("write_resident", None)
      eq resident)
    // a same-org recipe (the HTTP shape) is accepted for writes
    val shared = new graft.sources.OrgRecipe {
      override def build() = facsimile.build()
      override def connectsToSameOrg = true
    }
    assert(RemoteOrgRegistry.resolveForWrite("foreign_shared_org",
      Some(shared)).query("SELECT Id FROM Customer__c").size == 10)
  }
}
