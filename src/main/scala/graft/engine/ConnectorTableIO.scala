package graft.engine

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.sources.{OrgWriteMetrics, RemoteOrgRegistry, WriteOutcome}

/** TableIO over the DSv2 connector — the production-shaped binding that
  * lets [[MigrationEngine]] run the reference's actual scenario: migrate
  * records between two remote orgs, with extraction pushdown negotiated
  * by Catalyst and mutations chunked by the connector's writers.
  *
  * Created-ID correlation reads the insert's own results, which the
  * reference left as a TODO (data_connector.py:277-278) and replaced
  * with a re-query of the destination (migration_engine.py:52). Every
  * wire returns the created Ids in row order; each writer pairs them
  * with the row's `srcIdColumn` value and the write's commit gathers the
  * pairs, so `insert` returns exactly this write's created records as a
  * local `(Id, srcIdColumn)` frame (`Id` alone without a `srcIdColumn`).
  * The destination is not read, and a record an earlier run left there
  * is never paired with this run's source rows. The driver holds two
  * values per created record. */
final class ConnectorTableIO(
    spark: SparkSession,
    orgName: String,
    srcIdColumn: Option[String] = None,
    relationships: Seq[graft.compile.Relationship] = Nil) extends TableIO {

  private def reader(table: String): DataFrame = {
    val rels = relationships.filter(_.childTable == table)
    val base = spark.read.format("salesforce-sim")
      .option("org", orgName).option("sObject", table)
    // declared parent lookups ride along so the scan exposes dotted
    // Parent.Column fields and the org executes the join (SOQL
    // relationship paths) — the compiler then skips its Spark-side join
    val withRels =
      if (rels.isEmpty) base
      else base.option("relationships",
        rels.map(r => s"${r.fkColumn}:${r.parentTable}:${r.parentKey}").mkString(";"))
    withRels.load()
  }

  override def read(table: String): DataFrame = reader(table)

  override def insert(table: String, rows: DataFrame): DataFrame = {
    // the org fills Id — never trust a driver-side value for it
    val clean =
      if (rows.columns.contains("Id")) rows.drop("Id") else rows
    val writeId = java.util.UUID.randomUUID().toString
    clean.write.format("salesforce-sim")
      .option("org", orgName).option("sObject", table)
      .option("writeId", writeId).option("createdKey", srcIdColumn.getOrElse(""))
      .mode(SaveMode.Append).save()
    OrgWriteMetrics.forWrite(writeId) // release the per-write outcome; unused here
    val created = OrgWriteMetrics.createdFor(writeId)
    val idField = StructField("Id", StringType)
    val (fields, rowOf) = srcIdColumn match {
      case Some(k) => (Seq(idField, clean.schema(k)), (p: (String, Any)) => Row(p._1, p._2))
      case None => (Seq(idField), (p: (String, Any)) => Row(p._1))
    }
    spark.createDataFrame(created.map(rowOf).asJava, StructType(fields))
  }

  override def update(table: String, rows: DataFrame): Long = {
    // targeted bulk update through the DSv2 write path: executors chunk
    // the update rows (≤200/call) and the org applies them by Id —
    // data_connector.py:281-291 semantics, zero driver materialization.
    // The outcome is read back under a unique writeId echoed through the
    // commit, so a concurrent write to the same (org, table) can't race
    // this call's processed count.
    val writeId = java.util.UUID.randomUUID().toString
    rows.write.format("salesforce-sim")
      .option("org", orgName).option("sObject", table)
      .option("writeMode", "update").option("writeId", writeId)
      .mode(SaveMode.Append).save()
    OrgWriteMetrics.forWrite(writeId).fold(0L)(_.processed)
  }

  /** Upsert keyed on an external-ID field (bulk_upsert,
    * data_connector.py:301-310), through the same chunked write path. */
  def upsert(table: String, rows: DataFrame, externalIdField: String): WriteOutcome = {
    val writeId = java.util.UUID.randomUUID().toString
    rows.write.format("salesforce-sim")
      .option("org", orgName).option("sObject", table)
      .option("writeMode", "upsert").option("externalIdField", externalIdField)
      .option("writeId", writeId)
      .mode(SaveMode.Append).save()
    OrgWriteMetrics.forWrite(writeId).getOrElse(WriteOutcome(0L, 0L))
  }

  /** Server-side predicate delete (bulk_delete, data_connector.py:294-298):
    * the WHERE ships to the org; no ID list crosses the driver. */
  def deleteWhere(table: String, predicates: Seq[String]): Int =
    RemoteOrgRegistry(orgName).deleteWhere(table, predicates)

  override def overwrite(table: String, rows: DataFrame): Unit = {
    // full replace that PRESERVES record identity: materialize the new
    // rows first (they derive from the table being replaced), truncate
    // org-side (no driver ID collection), then re-insert with Ids intact
    // (the org honors provided Ids). The migration write-back path never
    // comes here anymore — it issues targeted update() calls. An eager
    // localCheckpoint, not persist (see ParquetTableIO.overwrite).
    val materialized = rows.localCheckpoint()
    RemoteOrgRegistry(orgName).deleteWhere(table, Seq("Id != null"))
    materialized.write.format("salesforce-sim")
      .option("org", orgName).option("sObject", table)
      .mode(SaveMode.Append).save()
  }
}
