package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.engine.{ConnectorTableIO, FkReference, MigrationEngine, MigrationPlan, ParquetTableIO}
import graft.sources.{InMemoryOrg, RemoteOrgRegistry}
import graft.spec.MappingSpec

/** Whole-list migration orchestration: dependency ordering from FK
  * references, parent-before-child execution, and FK remapping of child
  * rows through the parent's old→new Id map. */
class MigrationPlanSuite extends SparkSuite {
  import spark.implicits._

  private def specJson(srcObj: String, dstObj: String,
      extraCols: Seq[String] = Nil): MappingSpec = {
    val extra = extraCols.map(c =>
      s"""{"table_src": "$srcObj", "column_src": "$c",
           "table_dst": "$dstObj", "column_dst": "$c",
           "operation": "copy", "column_type": "regular"},""").mkString
    MappingSpec.fromJson(s"""
      [{"source_object": "$srcObj", "destination_object": "$dstObj",
        "mapping": [
          {"table_src": "$srcObj", "column_src": "Id",
           "table_dst": "$dstObj", "column_dst": "old_id",
           "operation": "copy", "column_type": "src_id"},
          $extra
          {"table_src": "$srcObj", "column_src": "name",
           "table_dst": "$dstObj", "column_dst": "name",
           "operation": "copy", "column_type": "regular"}]}]""").head
  }

  test("migrateAll orders parents first and remaps child FK columns") {
    val dir = Files.createTempDirectory("graft_plan_").toString
    val src = new ParquetTableIO(spark, s"$dir/src")
    val dst = new ParquetTableIO(spark, s"$dir/dst")

    Seq(("A1", "acme"), ("A2", "zorg"))
      .toDF("Id", "name").write.parquet(src.path("Account"))
    // C3 dangles: its account no longer exists in the source
    Seq(("C1", "ann", "A1"), ("C2", "bob", "A2"), ("C3", "cyn", "A9"))
      .toDF("Id", "name", "AccountId").write.parquet(src.path("Contact"))

    val engine = new MigrationEngine(src, dst,
      mintId = Some(c => concat(lit("N"), col(c))))
    val accounts = specJson("Account", "Account__c")
    val contacts = specJson("Contact", "Contact__c", Seq("AccountId"))
    val plan = new MigrationPlan(src, dst, engine,
      references = Seq(FkReference("Contact__c", "AccountId", "Account")))

    // child listed FIRST: the plan must still run Account before Contact
    val results = plan.migrateAll(Seq(contacts, accounts))
    assert(results.map(_._1) == Seq("Account__c", "Contact__c"))
    assert(results.toMap.apply("Contact__c").inserted == 3)

    // contacts landed pointing at the NEW account ids; dangling FK -> null
    val fk = dst.read("Contact__c").select("old_id", "AccountId")
      .as[(String, String)].collect().toMap
    assert(fk == Map("C1" -> "NA1", "C2" -> "NA2", "C3" -> null))
  }

  test("a re-run over a stale parent copy pairs and remaps only this run's records") {
    def schema(cols: String*) = StructType(cols.map(StructField(_, StringType)))
    val srcOrg = new InMemoryOrg
    val dstOrg = new InMemoryOrg
    srcOrg.createTable("Account", schema("Id", "Name", "New_Id__c"), Seq(
      Row("A1", "acme", null), Row("A2", "zorg", null)))
    srcOrg.createTable("Contact", schema("Id", "LastName", "AccountId", "New_Id__c"), Seq(
      Row("C1", "ann", "A1", null), Row("C2", "bob", "A2", null),
      Row("C3", "cyn", "A1", null)))
    // a run that died after the parent's insert left a copy of A1 behind
    dstOrg.createTable("Account__c", schema("Id", "Old_Id__c", "Name"),
      Seq(Row("STALE1", "A1", "acme")))
    dstOrg.createTable("Contact__c", schema("Id", "Old_Id__c", "LastName", "AccountId__c"))
    RemoteOrgRegistry.register("rerun_src", srcOrg)
    RemoteOrgRegistry.register("rerun_dst", dstOrg)

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

    val src = new ConnectorTableIO(spark, "rerun_src")
    val dst = new ConnectorTableIO(spark, "rerun_dst", srcIdColumn = Some("Old_Id__c"))
    val results = new MigrationPlan(src, dst, new MigrationEngine(src, dst),
      Seq(FkReference("Contact__c", "AccountId__c", "Account"))).migrateAll(specs)
    assert(results.map { case (d, m) => d -> m.inserted } ==
      Seq("Account__c" -> 2L, "Contact__c" -> 3L), results)

    // this run's copy of A1 is the one that is not the stale record
    val a1Copies = dstOrg.rows("Account__c").filter(_.getString(1) == "A1").map(_.getString(0))
    assert(a1Copies.size == 2 && a1Copies.contains("STALE1"), a1Copies)
    val a1 = a1Copies.filterNot(_ == "STALE1").head
    val a2 = dstOrg.rows("Account__c").find(_.getString(1) == "A2").get.getString(0)
    val written = srcOrg.rows("Account").map(r => r.getString(0) -> r.getString(2)).toMap
    assert(written == Map("A1" -> a1, "A2" -> a2), written)

    // each contact lands once, its FK on this run's parent copy
    val contacts = dstOrg.rows("Contact__c").map(r => r.getString(1) -> r.getString(3))
    assert(contacts.sortBy(_._1) == Seq("C1" -> a1, "C2" -> a2, "C3" -> a1), contacts)
  }

  test("independent specs keep their input order") {
    val dir = Files.createTempDirectory("graft_plan2_").toString
    val src = new ParquetTableIO(spark, s"$dir/src")
    val dst = new ParquetTableIO(spark, s"$dir/dst")
    Seq(("X1", "x")).toDF("Id", "name").write.parquet(src.path("Alpha"))
    Seq(("Y1", "y")).toDF("Id", "name").write.parquet(src.path("Beta"))

    val engine = new MigrationEngine(src, dst,
      mintId = Some(c => concat(lit("N"), col(c))))
    val plan = new MigrationPlan(src, dst, engine)
    val results = plan.migrateAll(Seq(
      specJson("Beta", "Beta__c"), specJson("Alpha", "Alpha__c")))
    assert(results.map(_._1) == Seq("Beta__c", "Alpha__c"))
  }

  test("cyclic FK references fail loudly") {
    val dir = Files.createTempDirectory("graft_plan3_").toString
    val src = new ParquetTableIO(spark, s"$dir/src")
    val dst = new ParquetTableIO(spark, s"$dir/dst")
    val engine = new MigrationEngine(src, dst)
    val plan = new MigrationPlan(src, dst, engine, references = Seq(
      FkReference("A__c", "BId", "B"),
      FkReference("B__c", "AId", "A")))
    val e = intercept[IllegalArgumentException] {
      plan.migrateAll(Seq(specJson("A", "A__c"), specJson("B", "B__c")))
    }
    assert(e.getMessage.contains("cyclic"))
  }

  test("duplicate destination or source objects fail loudly, not silently") {
    val dir = Files.createTempDirectory("graft_plan4_").toString
    val src = new ParquetTableIO(spark, s"$dir/src")
    val dst = new ParquetTableIO(spark, s"$dir/dst")
    val engine = new MigrationEngine(src, dst)
    val plan = new MigrationPlan(src, dst, engine)

    // two specs landing in the same destination: the second would never
    // migrate (topo progress is keyed by destinationObject)
    val eDst = intercept[IllegalArgumentException] {
      plan.migrateAll(Seq(specJson("A", "X__c"), specJson("B", "X__c")))
    }
    assert(eDst.getMessage.contains("destinationObject"), eDst.getMessage)
    assert(eDst.getMessage.contains("X__c"), eDst.getMessage)

    // two specs reading the same source: last-wins shadowing in FK maps
    val eSrc = intercept[IllegalArgumentException] {
      plan.migrateAll(Seq(specJson("A", "X__c"), specJson("A", "Y__c")))
    }
    assert(eSrc.getMessage.contains("sourceObject"), eSrc.getMessage)
    assert(eSrc.getMessage.contains("A"), eSrc.getMessage)
  }
}
