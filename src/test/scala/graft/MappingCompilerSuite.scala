package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.compile.{MappingCompiler, Relationship}
import graft.queries.Mapping
import graft.spec.MappingSpec

class MappingCompilerSuite extends SparkSuite {
  import spark.implicits._

  private def srcDf: DataFrame = Seq(
    ("1", "alice", 50.0, null.asInstanceOf[String], 10L),
    ("2", "bob", 2000.0, null.asInstanceOf[String], 20L),
    ("3", "carol", 5000.0, null.asInstanceOf[String], 10L)
  ).toDF("Id", "name", "acctbal", "dst_ref", "ownerKey")

  private def ownerDf: DataFrame =
    Seq((10L, "o-ten"), (20L, "o-twenty")).toDF("okey", "oname")

  private val spec = Mapping.customerSpec

  private def catalog: String => DataFrame = {
    case "customer_src" => srcDf
    case "owner" => ownerDf
    case t => fail(s"unexpected table $t")
  }

  test("sourceQuery filters on source columns and projects mapped ones") {
    val out = MappingCompiler.sourceQuery(catalog, spec)
    assert(out.columns.toSeq == Seq("Id", "name", "acctbal", "dst_ref"))
    assert(out.select("Id").as[String].collect().sorted.toSeq == Seq("2", "3"))
  }

  test("sourceQuery honors limit") {
    val out = MappingCompiler.sourceQuery(catalog, spec, limit = Some(1))
    assert(out.count() == 1)
  }

  test("relationship-path column compiles to a parent join") {
    val relSpec = MappingSpec.fromJson("""
      [{"source_object": "customer_src", "destination_object": "d",
        "where_condition": "",
        "mapping": [
          {"table_src": "customer_src", "column_src": "Id",
           "table_dst": "d", "column_dst": "old_id",
           "operation": "copy", "column_type": "src_id"},
          {"table_src": "owner", "column_src": "oname",
           "table_dst": "d", "column_dst": "owner_name",
           "operation": "copy", "column_type": "regular"}]}]""").head
    val rels = Seq(Relationship("customer_src", "ownerKey", "owner", "okey"))
    val out = MappingCompiler.sourceQuery(catalog, relSpec, rels)
    val got = out.as[(String, String)].collect().toMap
    assert(got == Map("1" -> "o-ten", "2" -> "o-twenty", "3" -> "o-ten"))
  }

  test("missing relationship declaration fails loud") {
    val relSpec = MappingSpec.fromJson("""
      [{"source_object": "customer_src", "destination_object": "d",
        "where_condition": "",
        "mapping": [
          {"table_src": "owner", "column_src": "oname",
           "table_dst": "d", "column_dst": "n",
           "operation": "copy", "column_type": "regular"}]}]""").head
    assertThrows[IllegalArgumentException] {
      MappingCompiler.sourceQuery(catalog, relSpec)
    }
  }

  test("destinationRows renames, injects type, applies constants") {
    val out = MappingCompiler.destinationRows(
      MappingCompiler.sourceQuery(catalog, spec), spec)
    assert(out.columns.toSeq ==
      Seq("old_id", "name", "acctbal", "type", "Id", "segment"))
    val rows = out.orderBy("old_id")
      .select("old_id", "name", "type", "segment")
      .as[(String, String, String, String)].collect().toSeq
    assert(rows == Seq(
      ("2", "bob", "customer_dst", "MIGRATED"),
      ("3", "carol", "customer_dst", "MIGRATED")))
  }

  test("filterByKeys uses isin below the threshold") {
    val out = MappingCompiler.filterByKeys(srcDf, "Id", Seq("1", "3"))
    assert(out.select("name").as[String].collect().sorted.toSeq ==
      Seq("alice", "carol"))
    assert(out.queryExecution.executedPlan.toString.contains("Id"))
  }

  test("filterByKeys switches to a semi join above the threshold") {
    val keys: Seq[Any] = (1 to MappingCompiler.InListThreshold + 1).map(_.toString)
    val out = MappingCompiler.filterByKeys(srcDf, "Id", keys)
    assert(out.select("name").as[String].collect().sorted.toSeq ==
      Seq("alice", "bob", "carol"))
    assert(out.queryExecution.executedPlan.toString.toLowerCase.contains("semi"))
  }

  test("filterByKeys with no keys returns empty") {
    assert(MappingCompiler.filterByKeys(srcDf, "Id", Nil).count() == 0)
  }

  test("writeBackRows pairs new dst Id with old src Id") {
    val created = Seq(("D2", "2"), ("D3", "3")).toDF("Id", "old_id")
    val out = MappingCompiler.writeBackRows(created, spec)
    assert(out.columns.toSeq == Seq("dst_ref", "Id"))
    assert(out.as[(String, String)].collect().toMap ==
      Map("D2" -> "2", "D3" -> "3"))
  }
}
