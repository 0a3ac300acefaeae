package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.spec.MappingSpec

/** Declares that destination column `fkColumn` of the spec migrating
  * into `childDestinationObject` holds references to records of
  * `parentSourceObject` (by their OLD source-org Id), which must be
  * remapped to the parent's newly created destination Ids. */
final case class FkReference(
    childDestinationObject: String,
    fkColumn: String,
    parentSourceObject: String)

/** Whole-list migration orchestration — the step beyond the reference
  * driver, which parses the full mapping array but migrates only
  * element [0] (mriya.py:20). Given every spec plus the FK references
  * between them:
  *
  *   1. specs are topologically ordered so parents migrate before the
  *      children that reference them (stable for independent specs;
  *      cycles fail loudly);
  *   2. after a parent lands, its old→new Id map is the `(Id, src_id)`
  *      frame the engine hands back for that insert — only this run's
  *      records, never a re-read of the destination, which may hold
  *      copies an earlier run left;
  *   3. each child's FK columns remap through the parent maps with a
  *      broadcast join in the engine's pre-insert hook — unmatched
  *      references become NULL (a dangling lookup must not carry an
  *      old-org Id into the new org).
  *
  * `src` and `dst` are reached only through `engine`.
  */
final class MigrationPlan(
    src: TableIO,
    dst: TableIO,
    engine: MigrationEngine,
    references: Seq[FkReference] = Nil) {

  /** The plan keys specs by sourceObject (FK resolution) and marks
    * progress by destinationObject (topo order) — duplicates in either
    * would silently shadow or skip a spec, so they are structural errors. */
  private def requireUnique(specs: Seq[MappingSpec]): Unit = {
    def dups(names: Seq[String]): Seq[String] =
      names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }.toSeq.sorted
    val dupDst = dups(specs.map(_.destinationObject))
    require(dupDst.isEmpty,
      s"duplicate destinationObject(s) in mapping list: ${dupDst.mkString(", ")} — " +
        "each destination object may be migrated by exactly one spec")
    val dupSrc = dups(specs.map(_.sourceObject))
    require(dupSrc.isEmpty,
      s"duplicate sourceObject(s) in mapping list: ${dupSrc.mkString(", ")} — " +
        "FK references resolve a parent by its source object, which must be unique")
  }

  /** Topological order: spec Y depends on spec X when a reference makes
    * Y's destination point at X's source records. Kahn's algorithm with
    * input order as the tiebreak, so unrelated specs keep their order. */
  private[engine] def ordered(specs: Seq[MappingSpec]): Seq[MappingSpec] = {
    requireUnique(specs)
    val bySource = specs.map(s => s.sourceObject -> s).toMap
    def depsOf(s: MappingSpec): Seq[MappingSpec] =
      references.filter(_.childDestinationObject == s.destinationObject)
        .flatMap(r => bySource.get(r.parentSourceObject))
        .filter(_ != s)
    val out = scala.collection.mutable.ArrayBuffer.empty[MappingSpec]
    val done = scala.collection.mutable.Set.empty[String]
    val visiting = scala.collection.mutable.Set.empty[String]
    def visit(s: MappingSpec): Unit = {
      if (done.contains(s.destinationObject)) return
      if (!visiting.add(s.destinationObject))
        throw new IllegalArgumentException(
          s"cyclic FK references involving ${s.destinationObject}")
      depsOf(s).foreach(visit)
      visiting.remove(s.destinationObject)
      done.add(s.destinationObject)
      out += s
    }
    specs.foreach(visit)
    out.toSeq
  }

  /** Old source Id → new destination Id for a completed parent spec:
    * a projection of the rows its insert created (the `src_id` column
    * pairs each with the record it came from). */
  private def idMap(parent: MappingSpec, created: DataFrame): DataFrame = {
    val srcIdCol = parent.dstSrcIdColumn.getOrElse(
      throw new IllegalArgumentException(
        s"${parent.destinationObject} has no src_id column — its records " +
          "cannot be referenced by other specs"))
    created.select(col(srcIdCol).as("__fk_old"), col("Id").as("__fk_new"))
  }

  /** Remaps each referenced FK column of `rows` through its parent's
    * old→new map (broadcast — the map side is one migrated object).
    * `created` holds each migrated spec's created rows by source object. */
  private def remapFks(rows: DataFrame, spec: MappingSpec,
      bySource: Map[String, MappingSpec], created: Map[String, DataFrame]): DataFrame =
    references.filter(_.childDestinationObject == spec.destinationObject)
      .foldLeft(rows) { (df, ref) =>
        val parent = bySource.getOrElse(ref.parentSourceObject,
          throw new IllegalArgumentException(
            s"reference ${ref.fkColumn} -> ${ref.parentSourceObject}: no " +
              "spec migrates that object"))
        val m = idMap(parent, created.getOrElse(parent.sourceObject,
          throw new IllegalArgumentException(
            s"reference ${ref.fkColumn} -> ${ref.parentSourceObject}: a spec " +
              "cannot remap references to its own source object")))
        df.join(broadcast(m), df(ref.fkColumn) === m("__fk_old"), "left")
          .withColumn(ref.fkColumn, col("__fk_new"))
          .drop("__fk_old", "__fk_new")
      }

  /** Migrates every spec in dependency order; returns per-destination
    * metrics in execution order. */
  def migrateAll(specs: Seq[MappingSpec],
      limit: Option[Int] = None): Seq[(String, MigrationMetrics)] = {
    val bySource = specs.map(s => s.sourceObject -> s).toMap
    var created = Map.empty[String, DataFrame]
    ordered(specs).map { spec =>
      val (metrics, rows) = engine.migrateReturningCreated(spec, limit,
        preInsert = remapFks(_, spec, bySource, created))
      created += spec.sourceObject -> rows
      spec.destinationObject -> metrics
    }
  }
}
