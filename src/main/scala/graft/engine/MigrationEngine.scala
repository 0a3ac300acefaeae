package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.compile.{MappingCompiler, Relationship}
import graft.spec.MappingSpec

/** Storage boundary for the migration engine — the Spark-native stand-in
  * for the reference's SOAP/REST connectors (data_connector.py).
  *
  * `insert` must return the rows *this call* created, with their new
  * `Id` and the spec's `src_id` column — the contract the reference
  * approximates by re-querying the destination after bulk insert
  * (migration_engine.py:52, data_connector.py:277-278 marks created-ID
  * retrieval as a TODO). [[ConnectorTableIO]] takes the pairs from the
  * insert's own per-batch results; [[ParquetTableIO]] mints
  * deterministic IDs instead.
  */
trait TableIO {
  def read(table: String): DataFrame
  /** Appends rows; returns the rows this call created, with their new
    * `Id` — never records that were already in the table. The frame
    * must be cheap to evaluate more than once (local data, or a
    * deterministic projection of `rows`): the engine counts it, writes
    * it back and hands it to child specs without a snapshot. */
  def insert(table: String, rows: DataFrame): DataFrame
  /** Targeted update: `rows` carry `Id` plus the columns to overwrite on
    * the matching records — the reference's bulk_update
    * (data_connector.py:281-291). Returns rows processed. */
  def update(table: String, rows: DataFrame): Long
  /** Full-table replace (bulk sink maintenance, not the update path). */
  def overwrite(table: String, rows: DataFrame): Unit
}

/** Parquet-directory-backed [[TableIO]] for tests and local pipelines.
  * When inserted rows carry no `Id`, one is minted deterministically as
  * `idPrefix + xxhash64(all columns)` so reruns are reproducible. */
final class ParquetTableIO(
    spark: SparkSession,
    dir: String,
    idPrefix: String = "D") extends TableIO {

  def path(table: String): String = s"$dir/$table.parquet"

  override def read(table: String): DataFrame =
    spark.read.parquet(path(table))

  override def insert(table: String, rows: DataFrame): DataFrame = {
    // Deterministic ID mint: prefix + the first column's value would be
    // opaque; instead require callers to have a src_id-bearing column and
    // mint from the full row hash only when no natural key exists.
    val created =
      if (rows.columns.contains("Id")) rows
      else rows.withColumn("Id",
        concat(lit(idPrefix), xxhash64(rows.columns.map(col): _*).cast("string")))
    created.write.mode("append").parquet(path(table))
    created
  }

  override def update(table: String, rows: DataFrame): Long = {
    // parquet is immutable, so a targeted update is necessarily
    // read-merge-rewrite here; the join is broadcast (the update set is
    // small relative to the table) and nothing crosses the driver. A
    // mutable sink (the connector) applies per-row updates instead.
    val updCols = rows.columns.filterNot(_ == "Id").toSeq
    val existing = read(table)
    // a join-hit marker (not coalesce) so an update row that explicitly
    // sets a column to NULL propagates the NULL — matching the connector
    // TableIO, which overwrites whatever value the update row carries
    val u = rows.select(
      (col("Id").as("__upd_id") +: lit(true).as("__hit") +:
        updCols.map(c => col(c).as(s"__upd_$c"))): _*)
    val joined = existing.join(broadcast(u), existing("Id") === u("__upd_id"), "left")
    val merged = joined.select(existing.columns.toSeq.map {
      case c if updCols.contains(c) =>
        when(col("__hit"), col(s"__upd_$c")).otherwise(existing(c)).as(c)
      case c => existing(c)
    }: _*)
    // processed = rows that matched an existing record (connector path
    // counts unmatched Ids as failed, not processed); counted before the
    // overwrite mutates the table these lazy plans read from
    val matched = existing.join(
      broadcast(rows.select(col("Id").as("__upd_id"))),
      existing("Id") === col("__upd_id"), "left_semi").count()
    overwrite(table, merged)
    matched
  }

  override def overwrite(table: String, rows: DataFrame): Unit = {
    // materialize before truncating the directory we are reading from.
    // localCheckpoint, not persist: update/upsert/deleteMatching hand in
    // join plans, and a persisted join plan leaves a cloned session
    // behind per call even after unpersist (see migrate)
    rows.localCheckpoint().write.mode("overwrite").parquet(path(table))
  }
}

final case class MigrationMetrics(
    extracted: Long,
    inserted: Long,
    updated: Long)

/** The reference's end-to-end `migrate` pipeline
  * (migration_engine.py:71-73): extract → rename/enrich → insert into the
  * destination → pair new destination IDs with old source IDs → update the
  * source. Driver-side row loops become DataFrame programs; the write-back
  * pairing is an equi-join instead of generated IN-list SOQL, so it holds
  * at any ID-set size (the reference abandons queries over 20k chars —
  * mapping_parser.py:78-80).
  *
  * `mintId` lets tests make new destination IDs a pure function of the old
  * ID (oracle-expressible); the connector takes IDs from insert results.
  */
final class MigrationEngine(
    src: TableIO,
    dst: TableIO,
    relationships: Seq[Relationship] = Nil,
    mintId: Option[String => org.apache.spark.sql.Column] = None) {

  def migrate(spec: MappingSpec, limit: Option[Int] = None,
      preInsert: DataFrame => DataFrame = identity): MigrationMetrics =
    migrateReturningCreated(spec, limit, preInsert)._1

  /** [[migrate]], also handing back the created `(Id, src_id)` frame
    * (`Id` alone when the spec has no `src_id` column) — the old→new Id
    * map [[MigrationPlan]] remaps child FKs through. */
  private[engine] def migrateReturningCreated(spec: MappingSpec,
      limit: Option[Int], preInsert: DataFrame => DataFrame)
      : (MigrationMetrics, DataFrame) = {
    // 1. extract (migration_engine.py:77-81); the extracted-row count is
    // collected via an Observation on the same pass that feeds the
    // insert — no second scan of the source (df.observe + listener
    // replaces the reference's console bookkeeping, SURVEY.md §7)
    val obs = new org.apache.spark.sql.Observation()
    val extracted = MappingCompiler.sourceQuery(src.read, spec, relationships, limit)
      .observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))

    // 2. transform: rename + type + constants (migration_engine.py:25-41),
    // then the caller's pre-insert hook (FK remapping in MigrationPlan).
    // Snapshotted once, hook included: the insert (and any frame a
    // TableIO derives from the inserted rows) reads these rows instead
    // of re-running the source query and the FK remap joins under them.
    // localCheckpoint, not persist: a persisted plan containing a join
    // leaves a cloned session behind per call even after unpersist. The
    // checkpoint job is the pass that fires `obs`.
    val newRows = preInsert(MappingCompiler.destinationRows(extracted, spec))
      .localCheckpoint()

    // 3. load + correlate created IDs (migration_engine.py:43). The
    // TableIO returns only this insert's records, as local data or a
    // projection of the snapshot above, so the count, the write-back and
    // a child's id map share it without a second snapshot. Only the pair
    // the write-back needs (new Id, old-ID column) is kept.
    val withId = (mintId, spec.dstSrcIdColumn) match {
      case (Some(f), Some(srcIdCol)) => newRows.withColumn("Id", f(srcIdCol))
      case _ => newRows
    }
    val created = dst.insert(spec.destinationObject, withId)
      .select((col("Id") +: spec.dstSrcIdColumn.toSeq.map(col)): _*)
    val nInserted = created.count()
    val nExtracted = obs.get("n").asInstanceOf[Long]

    // 4. write-back join (migration_engine.py:50-68): new dst Id -> old
    // src row, paired from the created rows — exactly the rows inserted
    // above, with no read of either org.
    val nUpdated = spec.srcOldIdColumn match {
      case Some(_) =>
        // targeted update of exactly the write-back rows (reference
        // semantics: bulk_update, data_connector.py:281-291) — never a
        // full-table rewrite through the driver
        val updates = MappingCompiler.writeBackRows(created, spec)
        src.update(spec.sourceObject, updates)
      case None => 0L
    }

    (MigrationMetrics(nExtracted, nInserted, nUpdated), created)
  }
}
