package graft

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{ConnectorTableIO, FkReference, MigrationEngine, MigrationPlan}
import graft.sources.{InMemoryOrg, RemoteOrgRegistry}
import graft.spec.MappingSpec

/** The reference's actual end-to-end scenario: migrate records between
  * two remote orgs through the DSv2 connector — extraction pushdown,
  * chunked insert, created-ID correlation, and write-back update, with
  * the round-trip invariant asserted org-side. */
class OrgMigrationSuite extends SparkSuite {

  private val srcSchema = StructType(Seq(
    StructField("Id", StringType), StructField("Name", StringType),
    StructField("Amount", DoubleType), StructField("New_Id__c", StringType)))
  private val dstSchema = StructType(Seq(
    StructField("Id", StringType), StructField("Old_Record_Id__c", StringType),
    StructField("Name", StringType), StructField("type", StringType)))

  private val spec = MappingSpec.fromJson("""
    [{"source_object": "Account",
      "destination_object": "Accounts__c",
      "where_condition": "Amount >= 100",
      "mapping": [
        {"table_src": "Account", "column_src": "Id",
         "table_dst": "Accounts__c", "column_dst": "Old_Record_Id__c",
         "operation": "copy", "column_type": "src_id"},
        {"table_src": "Account", "column_src": "Name",
         "table_dst": "Accounts__c", "column_dst": "Name",
         "operation": "copy", "column_type": "regular"},
        {"table_src": "Account", "column_src": "Id",
         "table_dst": "Accounts__c", "column_dst": "type",
         "operation": "copy", "column_type": "regular"},
        {"table_src": "Account", "column_src": "New_Id__c",
         "table_dst": "Accounts__c", "column_dst": "Id",
         "operation": "upd_src", "column_type": "dst_id"}]}]""").head

  test("org-to-org migrate with write-back through the connector") {
    val srcOrg = new InMemoryOrg
    val dstOrg = new InMemoryOrg
    srcOrg.createTable("Account", srcSchema, Seq(
      Row("A1", "small", 50.0, null),
      Row("A2", "big", 500.0, null),
      Row("A3", "huge", 900.0, null)))
    dstOrg.createTable("Accounts__c", dstSchema)
    RemoteOrgRegistry.register("mig_src", srcOrg)
    RemoteOrgRegistry.register("mig_dst", dstOrg)

    val src = new ConnectorTableIO(spark, "mig_src")
    val dst = new ConnectorTableIO(spark, "mig_dst",
      srcIdColumn = spec.dstSrcIdColumn)
    val m = new MigrationEngine(src, dst).migrate(spec)

    assert(m.extracted == 2 && m.inserted == 2 && m.updated == 2)

    // destination got org-minted IDs plus the old-ID column + type
    val dstRows = dstOrg.rows("Accounts__c")
    assert(dstRows.size == 2)
    val byOldId = dstRows.map(r => r.getString(1) -> r).toMap
    assert(byOldId.keySet == Set("A2", "A3"))
    assert(byOldId("A2").getString(2) == "big")
    assert(dstRows.forall(_.getString(3) == "Accounts__c")) // type column
    assert(dstRows.forall(_.getString(0).startsWith("ID")))

    // round-trip invariant (migration_engine.py:44-68): each migrated
    // source row's upd_src column equals its new destination Id
    val srcRows = srcOrg.rows("Account")
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(srcRows("A1") == null, "unmigrated row must stay untouched")
    assert(srcRows("A2") == byOldId("A2").getString(0))
    assert(srcRows("A3") == byOldId("A3").getString(0))
    // the write-back touches only its own column: every other source
    // field of a migrated row keeps its value
    val srcFields = srcOrg.rows("Account")
      .map(r => r.getString(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(srcFields("A2") == ("big", 500.0), srcFields)
    assert(srcFields("A3") == ("huge", 900.0), srcFields)

    // the extraction pushed its WHERE into generated SOQL
    assert(srcOrg.statements.exists(_.contains("Amount >= 100")),
      srcOrg.statements.mkString("\n"))

    // write-back went through targeted UPDATE calls — never a
    // full-table delete+reinsert (the round-1 overwrite scale bug)
    assert(srcOrg.statements.exists(_.startsWith("UPDATE Account")),
      srcOrg.statements.mkString("\n"))
    assert(!srcOrg.statements.exists(_.startsWith("DELETE FROM Account")),
      srcOrg.statements.mkString("\n"))

    // commit metrics surfaced processed/failed counts from the writers
    val ins = graft.sources.OrgWriteMetrics.lastCommit("mig_dst", "Accounts__c")
    assert(ins.processed == 2 && ins.failed == 0, ins)
    val upd = graft.sources.OrgWriteMetrics.lastCommit("mig_src", "Account")
    assert(upd.processed == 2 && upd.failed == 0, upd)

    // the source is read once per migrate: the extract feeds the insert
    // from one snapshot; the created Ids come from the insert's results,
    // so the destination is never read
    assert(selects(srcOrg, "Account").size == 1, srcOrg.statements.mkString("\n"))
    assert(selects(dstOrg, "Accounts__c").isEmpty, dstOrg.statements.mkString("\n"))
  }

  test("inserted counts only this migrate's records, not the ones already there") {
    val srcOrg = new InMemoryOrg
    val dstOrg = new InMemoryOrg
    srcOrg.createTable("Account", srcSchema, Seq(
      Row("A1", "one", 100.0, null), Row("A2", "two", 200.0, null)))
    dstOrg.createTable("Accounts__c", dstSchema, Seq(
      Row("OLD1", "X1", "x1", null), Row("OLD2", "X2", "x2", null),
      Row("OLD3", "X3", "x3", null)))
    RemoteOrgRegistry.register("pre_src", srcOrg)
    RemoteOrgRegistry.register("pre_dst", dstOrg)
    // a copy-only spec: no src_id column, so the TableIO has none either
    val copyOnly = MappingSpec.fromJson("""
      [{"source_object": "Account", "destination_object": "Accounts__c",
        "mapping": [
          {"table_src": "Account", "column_src": "Name",
           "table_dst": "Accounts__c", "column_dst": "Name",
           "operation": "copy", "column_type": "regular"}]}]""").head
    val m = new MigrationEngine(new ConnectorTableIO(spark, "pre_src"),
      new ConnectorTableIO(spark, "pre_dst")).migrate(copyOnly)
    assert(m.extracted == 2 && m.inserted == 2 && m.updated == 0, m)
    assert(dstOrg.rows("Accounts__c").size == 5)
    assert(selects(dstOrg, "Accounts__c").isEmpty, dstOrg.statements.mkString("\n"))
  }

  /** The SOQL reads `org` logged against `sObject` (writes are logged
    * as UPDATE/UPSERT/DELETE and never match). */
  private def selects(org: InMemoryOrg, sObject: String): Seq[String] =
    org.statements.toSeq.filter(_.matches(s"SELECT .* FROM $sObject( .*)?"))

  test("a two-spec FK plan reads each source object once and never the destination") {
    val accSchema = StructType(Seq(
      StructField("Id", StringType), StructField("Name", StringType),
      StructField("New_Id__c", StringType)))
    val conSchema = StructType(Seq(
      StructField("Id", StringType), StructField("LastName", StringType),
      StructField("AccountId", StringType), StructField("New_Id__c", StringType)))
    def dstSchema(cols: String*) = StructType(
      (Seq("Id", "Old_Id__c") ++ cols).map(StructField(_, StringType)))
    val srcOrg = new InMemoryOrg
    val dstOrg = new InMemoryOrg
    srcOrg.createTable("Account", accSchema, Seq(
      Row("A1", "acme", null), Row("A2", "zorg", null)))
    srcOrg.createTable("Contact", conSchema, Seq(
      Row("C1", "ann", "A1", null), Row("C2", "bob", "A2", null),
      Row("C3", "cyn", "A9", null)))
    dstOrg.createTable("Account__c", dstSchema("Name"))
    dstOrg.createTable("Contact__c", dstSchema("LastName", "AccountId__c"))
    RemoteOrgRegistry.register("fk_src", srcOrg)
    RemoteOrgRegistry.register("fk_dst", dstOrg)

    def elem(src: String, dst: String, from: String, to: String,
        op: String = "copy", kind: String = "regular") =
      s"""{"table_src": "$src", "column_src": "$from", "table_dst": "$dst",
         "column_dst": "$to", "operation": "$op", "column_type": "$kind"}"""
    def specFor(src: String, dst: String, cols: (String, String)*) =
      s"""{"source_object": "$src", "destination_object": "$dst", "mapping": [
         ${(elem(src, dst, "Id", "Old_Id__c", kind = "src_id") +:
           cols.map { case (f, t) => elem(src, dst, f, t) } :+
           elem(src, dst, "New_Id__c", "Id", op = "upd_src", kind = "dst_id"))
           .mkString(",")}]}"""
    val specs = MappingSpec.fromJson("[" + specFor("Account", "Account__c", "Name" -> "Name") +
      "," + specFor("Contact", "Contact__c",
        "LastName" -> "LastName", "AccountId" -> "AccountId__c") + "]")

    val src = new ConnectorTableIO(spark, "fk_src")
    val dst = new ConnectorTableIO(spark, "fk_dst", srcIdColumn = Some("Old_Id__c"))
    val results = new MigrationPlan(src, dst, new MigrationEngine(src, dst),
      Seq(FkReference("Contact__c", "AccountId__c", "Account"))).migrateAll(specs)
    assert(results.map { case (d, m) => d -> (m.extracted, m.inserted, m.updated) } ==
      Seq("Account__c" -> ((2L, 2L, 2L)), "Contact__c" -> ((3L, 3L, 3L))))

    // FKs point at the new parent Ids; the dangling one is null
    val newAcc = dstOrg.rows("Account__c").map(r => r.getString(1) -> r.getString(0)).toMap
    val fk = dstOrg.rows("Contact__c").map(r => r.getString(1) -> r.getString(3)).toMap
    assert(fk == Map("C1" -> newAcc("A1"), "C2" -> newAcc("A2"), "C3" -> null), fk)
    // every source row carries its new destination Id
    val newCon = dstOrg.rows("Contact__c").map(r => r.getString(1) -> r.getString(0)).toMap
    assert(srcOrg.rows("Contact").map(r => r.getString(0) -> r.getString(3)).toMap == newCon)

    // one extract per source object; the created Ids and the child's id
    // map come from the inserts' own results, so neither destination
    // object is read
    val reads = srcOrg.statements.mkString("\n") + "\n" + dstOrg.statements.mkString("\n")
    assert(selects(srcOrg, "Account").size == 1, reads)
    assert(selects(srcOrg, "Contact").size == 1, reads)
    assert(selects(dstOrg, "Account__c").isEmpty, reads)
    assert(selects(dstOrg, "Contact__c").isEmpty, reads)
  }

  test("connector update counts missing Ids as failed, not as errors") {
    val org = new InMemoryOrg
    org.createTable("Account", srcSchema, Seq(
      Row("A1", "one", 1.0, null), Row("A2", "two", 2.0, null)))
    RemoteOrgRegistry.register("updm", org)
    import spark.implicits._
    val updates = Seq(("A1", "renamed"), ("AX", "ghost")).toDF("Id", "Name")
    val n = new ConnectorTableIO(spark, "updm").update("Account", updates)
    assert(n == 1)
    val out = graft.sources.OrgWriteMetrics.lastCommit("updm", "Account")
    assert(out.processed == 1 && out.failed == 1, out)
    val byId = org.rows("Account").map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byId("A1") == "renamed" && byId("A2") == "two")
    // a column the update frame does not carry stays as it was
    val a1 = org.rows("Account").find(_.getString(0) == "A1").get
    assert(!a1.isNullAt(2) && a1.getDouble(2) == 1.0, a1)
  }

  test("a connector update's outcome is read once and then released") {
    val org = new InMemoryOrg
    org.createTable("Account", srcSchema, Seq(Row("A1", "one", 1.0, null)))
    RemoteOrgRegistry.register("updonce", org)
    import spark.implicits._
    // the writeId ConnectorTableIO generates rides in the write's options
    val writeIds = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.foreach {
          case a: AppendData
              if a.writeOptions.get("org").contains("updonce") =>
            a.writeOptions.get("writeId").foreach(writeIds.add)
          case _ =>
        }
      override def onFailure(funcName: String,
          qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val n = new ConnectorTableIO(spark, "updonce")
        .update("Account", Seq(("A1", "renamed")).toDF("Id", "Name"))
      assert(n == 1)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (writeIds.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(writeIds.size == 1, writeIds)
      // update() consumed its outcome; nothing is left behind per write
      assert(graft.sources.OrgWriteMetrics.forWrite(writeIds.peek()).isEmpty)
    } finally spark.listenerManager.unregister(listener)

    // a direct write keyed by the caller's own writeId reads back once
    Seq(("A1", "again")).toDF("Id", "Name").write.format("salesforce-sim")
      .option("org", "updonce").option("sObject", "Account")
      .option("writeMode", "update").option("writeId", "updonce-direct")
      .mode(SaveMode.Append).save()
    assert(graft.sources.OrgWriteMetrics.forWrite("updonce-direct")
      .contains(graft.sources.WriteOutcome(1L, 0L)))
    assert(graft.sources.OrgWriteMetrics.forWrite("updonce-direct").isEmpty)
  }

  test("a direct partial update keeps the columns its frame lacks and checks types") {
    val org = new InMemoryOrg
    org.createTable("Account", srcSchema, Seq(Row("A1", "one", 1.0, "K1")))
    RemoteOrgRegistry.register("updd", org)
    import spark.implicits._
    def update(df: DataFrame): Unit =
      df.write.format("salesforce-sim")
        .option("org", "updd").option("sObject", "Account")
        .option("writeMode", "update").mode(SaveMode.Append).save()
    // a frame in neither table order nor table case
    update(Seq(("renamed", "A1")).toDF("name", "Id"))
    assert(org.rows("Account") == Seq(Row("A1", "renamed", 1.0, "K1")),
      org.rows("Account"))
    val wrongType = intercept[Exception](update(Seq(("A1", 2L)).toDF("Id", "Amount")))
    assert(Iterator.iterate[Throwable](wrongType)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("column Amount is bigint"))),
      wrongType)
    val unknown = intercept[Exception](update(Seq(("A1", "x")).toDF("Id", "Nope")))
    assert(Iterator.iterate[Throwable](unknown)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("column Nope is not a field"))),
      unknown)
    assert(org.rows("Account") == Seq(Row("A1", "renamed", 1.0, "K1")))
  }

  test("connector upsert inserts new keys and updates existing ones") {
    val org = new InMemoryOrg
    org.createTable("Account", srcSchema, Seq(
      Row("A1", "one", 1.0, "K1"), Row("A2", "two", 2.0, "K2")))
    RemoteOrgRegistry.register("upsm", org)
    import spark.implicits._
    val rows = Seq(("K1", "one-v2", 10.0), ("K3", "three", 3.0))
      .toDF("New_Id__c", "Name", "Amount")
    val out = new ConnectorTableIO(spark, "upsm")
      .upsert("Account", rows, "New_Id__c")
    assert(out.processed == 2 && out.failed == 0, out)
    assert(org.statements.exists(_.startsWith("UPSERT Account ON New_Id__c")),
      org.statements.mkString("\n"))
    val byKey = org.rows("Account")
      .map(r => r.getString(3) -> (r.getString(1), r.getDouble(2))).toMap
    assert(byKey("K1") == ("one-v2", 10.0)) // updated in place
    assert(byKey("K2") == ("two", 2.0))     // untouched
    assert(byKey("K3") == ("three", 3.0))   // inserted
    // an upsert frame without Amount updates Name and keeps Amount
    new ConnectorTableIO(spark, "upsm").upsert("Account",
      Seq(("K2", "two-v2")).toDF("New_Id__c", "Name"), "New_Id__c")
    val k2 = org.rows("Account").find(_.getString(3) == "K2").get
    assert(k2.getString(1) == "two-v2" && !k2.isNullAt(2) &&
      k2.getDouble(2) == 2.0, k2)
  }

  test("upsert is idempotent — the safe sink under Spark task retries") {
    // write() inserts happen before commit(), so a retried insert task
    // double-writes (the reference has the same hazard on its single
    // auth retry, data_connector.py:246-252). External-ID upsert is the
    // idempotent alternative: replaying the same batch must be a no-op.
    val org = new InMemoryOrg
    org.createTable("Account", srcSchema, Nil)
    RemoteOrgRegistry.register("idem", org)
    import spark.implicits._
    val rows = Seq(("K1", "one", 1.0), ("K2", "two", 2.0))
      .toDF("New_Id__c", "Name", "Amount")
    val io = new ConnectorTableIO(spark, "idem")
    io.upsert("Account", rows, "New_Id__c")
    val after1 = org.rows("Account").sortBy(_.getString(3))
    io.upsert("Account", rows, "New_Id__c") // the "retry"
    val after2 = org.rows("Account").sortBy(_.getString(3))
    assert(after2.size == 2, s"retry must not duplicate: ${after2.size} rows")
    assert(after1.map(_.toSeq.drop(1)) == after2.map(_.toSeq.drop(1)),
      "non-Id columns must be unchanged by the replay")
  }

  test("connector deleteWhere resolves the predicate org-side") {
    val org = new InMemoryOrg
    org.createTable("Account", srcSchema, Seq(
      Row("A1", "keep", 1.0, null), Row("A2", "drop", 200.0, null),
      Row("A3", "drop", 300.0, null)))
    RemoteOrgRegistry.register("delw", org)
    val n = new ConnectorTableIO(spark, "delw")
      .deleteWhere("Account", Seq("Amount > 100"))
    assert(n == 2)
    assert(org.rows("Account").map(_.getString(0)) == Vector("A1"))
    assert(org.statements.last == "DELETE FROM Account WHERE (Amount > 100)",
      org.statements.last)
  }
}
