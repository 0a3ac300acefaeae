package graft.tools

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.engine.{ConnectorTableIO, MigrationEngine, MigrationPlan}
import graft.gen.DataGenerator
import graft.sources.{InMemoryOrg, RemoteOrgRegistry}
import graft.spec.{ConnectorConfig, MappingSpec}

/** The reference's CLI pipeline (mriya.py:13-96) as a runnable main:
  *
  *   1. read `config.ini` ([src]/[dst] connection params, validated the
  *      way get_conn_param does — data_connector.py:26-34);
  *   2. read the mapping JSON (the WHOLE list, not just `[0]`);
  *   3. reset both orgs' involved objects (mriya.py's prep deletes);
  *   4. generate deterministic test records and bulk-insert them into
  *      the source (test_data_generator shapes, driven by an optional
  *      `[gen]` INI section: `records = N`, `columns = Name:text,...`);
  *   5. migrate every spec in dependency order through the DSv2
  *      connector (extraction pushdown, chunked writes, created-ID
  *      correlation, write-back), printing per-object metrics.
  *
  * Usage: runMain graft.tools.Migrate <config.ini> <mapping.json>
  *
  * The orgs behind the connector are the in-memory simulator — the
  * offline stand-in for live Salesforce. A production run binds the
  * same `RemoteOrg` interface to [[graft.sources.BulkApiOrg]] (Bulk REST
  * over HTTP with [[graft.sources.TokenProvider]] auth) instead; the
  * pipeline above it is identical.
  */
object Migrate {

  private def tag2type(tag: String): DataType = tag match {
    case "text" => StringType
    case "int" => LongType
    case "date" => TimestampType
    case other => throw new IllegalArgumentException(s"unknown gen tag '$other'")
  }

  def run(spark: SparkSession, configIni: String, mappingJson: String): Seq[(String, Long, Long, Long)] = {
    val ini = ConnectorConfig.parseIni(configIni)
    // validate both sections exactly like the reference's get_conn_param
    val srcParam = ConnectorConfig.connParam(ini, "src")
    val dstParam = ConnectorConfig.connParam(ini, "dst")
    println(s"[migrate] src=$srcParam")
    println(s"[migrate] dst=$dstParam")

    val specs = MappingSpec.fromJson(mappingJson)
    require(specs.nonEmpty, "mapping list is empty")

    val gen = ini.getOrElse("gen", Map.empty)
    val nRecords = gen.getOrElse("records", "100").toLong
    val genCols: Seq[(String, String)] =
      gen.getOrElse("columns", "Name:text").split(",").toSeq
        .map(_.trim.split(":") match {
          case Array(n, t) => (n, t)
          case other => throw new IllegalArgumentException(
            s"bad [gen] columns entry: ${other.mkString(":")}")
        })

    // offline org boundary (see scaladoc): one sim per side, registered
    // under the config usernames so the connector options stay readable
    val srcOrg = new InMemoryOrg
    val dstOrg = new InMemoryOrg
    RemoteOrgRegistry.register("cli_src", srcOrg)
    RemoteOrgRegistry.register("cli_dst", dstOrg)

    specs.foreach { spec =>
      // source: Id + generated columns + any mapped/write-back column the
      // generator doesn't cover (nullable strings, like a fresh custom field)
      val genFields = genCols.map { case (n, t) => StructField(n, tag2type(t)) }
      val extra = (spec.srcColumns.toSet -- genCols.map(_._1).toSet - "Id")
        .toSeq.sorted.map(StructField(_, StringType))
      srcOrg.createTable(spec.sourceObject,
        StructType(StructField("Id", StringType) +: (genFields ++ extra)))
      // destination: Id + every mapped destination column
      val dstCols = (spec.mapping.map(_.columnDst).toSet - "Id")
        .toSeq.sorted.map(StructField(_, StringType))
      dstOrg.createTable(spec.destinationObject,
        StructType(StructField("Id", StringType) +: dstCols))
    }

    // write-back column must survive the insert round-trip
    val wbCols = specs.flatMap(_.srcUpdateRelations.keys).toSet

    val srcIdCol = {
      val cols = specs.flatMap(_.dstSrcIdColumn).distinct
      require(cols.size <= 1,
        s"all specs must share one src-id column for created-ID correlation, got: $cols")
      cols.headOption
    }
    val src = new ConnectorTableIO(spark, "cli_src")
    val dst = new ConnectorTableIO(spark, "cli_dst", srcIdColumn = srcIdCol)

    // generate + insert deterministic source data (mriya.py:79-86)
    specs.foreach { spec =>
      val struct = genCols ++
        (spec.srcColumns.toSet -- genCols.map(_._1).toSet - "Id" -- wbCols)
          .toSeq.sorted.map(_ -> "text")
      val rows = DataGenerator.generate(
        spark, struct, Map.empty, Map.empty, nRecords, spec.sourceObject)
      src.insert(spec.sourceObject, rows)
      println(s"[migrate] ${rows.count()} generated records inserted into " +
        spec.sourceObject)
    }

    val engine = new MigrationEngine(src, dst)
    val plan = new MigrationPlan(src, dst, engine)
    val results = plan.migrateAll(specs)
    results.map { case (dstObj, m) =>
      println(s"[migrate] $dstObj: extracted=${m.extracted} " +
        s"inserted=${m.inserted} updated=${m.updated}")
      (dstObj, m.extracted, m.inserted, m.updated)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.tools.Migrate <config.ini> <mapping.json>")
    val configIni = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(args(0))), "UTF-8")
    val mappingJson = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(args(1))), "UTF-8")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, configIni, mappingJson)
    finally spark.stop()
  }
}
