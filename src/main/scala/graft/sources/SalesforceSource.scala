package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, NamedReference, NullOrdering, SortDirection, SortOrder => V2SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 connector for a Salesforce-like remote org — the
  * formalization of the reference's hand-rolled pushdown (SURVEY.md §4):
  * Catalyst negotiates column pruning, filter pushdown and limit
  * pushdown through the DSv2 interfaces, and the connector renders them
  * into exactly the SOQL the reference's MappingParser generated by hand
  * (SELECT cols FROM obj WHERE … LIMIT n — mapping_parser.py:5,31-41).
  *
  * Reads: one cursor partition (the reference's Bulk job also streams a
  * single result batch — data_connector.py:246-268); a production org
  * with PK-chunking would emit one InputPartition per ID range here.
  * Writes: per-partition writers buffer into ≤200-row chunks, the
  * reference's SOAP mutation contract (QUERY_LIMIT=200,
  * data_connector.py:23,119-161), so executor parallelism × chunked
  * calls replaces its serial loop.
  *
  * Usage:
  * {{{
  *   RemoteOrgRegistry.register("src", org)
  *   spark.read.format("salesforce-sim")
  *     .option("org", "src").option("sObject", "Account").load()
  * }}}
  */
class SalesforceSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "salesforce-sim"

  private def org(options: CaseInsensitiveStringMap): RemoteOrg =
    RemoteOrgRegistry(options.get("org"))

  /** Base schema plus one dotted `Parent.Column` field per parent column
    * for each declared relationship (`relationships` option, encoded
    * `fkColumn:ParentObject:parentKey[;…]`) — the connector form of the
    * reference's relationship-path SOQL (mapping_parser.py:34-38). The
    * dotted fields are ordinary top-level columns to Spark, so pruning
    * decides per query whether the org performs the parent join at all. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val o = org(options)
    val base = o.describe(options.get("sObject"))
    SalesforceSource.parseRelationships(options.get("relationships"))
      .foldLeft(base) { case (sch, (_, parent, _)) =>
        StructType(sch.fields ++ o.describe(parent).fields.map(f =>
          f.copy(name = s"$parent.${f.name}")))
      }
  }

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new OrgTable(opts.get("org"), opts.get("sObject"), schema,
      partialWrites = Set("update", "upsert")(opts.getOrDefault("writeMode", "insert")))
  }
}

object SalesforceSource {
  /** Parses the `relationships` option: `fkColumn:ParentObject:parentKey`
    * entries separated by `;`. */
  def parseRelationships(spec: String): Seq[(String, String, String)] =
    Option(spec).filter(_.nonEmpty).toSeq.flatMap(_.split(";").toSeq.map { s =>
      s.split(":") match {
        case Array(fk, parent, key) => (fk, parent, key)
        case _ => throw new IllegalArgumentException(
          s"bad relationship spec '$s' (want fkColumn:ParentObject:parentKey)")
      }
    })
}

/** An org object as a DSv2 table. An update or upsert (`partialWrites`)
  * accepts any schema: Spark's by-name append would fill every column the
  * frame lacks with NULL, and the org applies a NULL field, so such a
  * write sends the org only the frame's own columns. Spark then resolves
  * nothing, so [[OrgTable.partialSchema]] checks those columns by name and
  * type in its place. */
final class OrgTable(orgName: String, sObject: String, schema: StructType,
    partialWrites: Boolean = false)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"$orgName.$sObject"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    (Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE) ++
      (if (partialWrites) Set(TableCapability.ACCEPT_ANY_SCHEMA) else Set.empty)).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new OrgScanBuilder(orgName, sObject, schema,
      options.getInt("numPartitions", OrgScan.defaultPartitions),
      Option(options.get("maxRecordsPerBatch")).map(_.toLong))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new OrgWriteBuilder(orgName, sObject,
      if (partialWrites) OrgTable.partialSchema(schema, info.schema()) else info.schema(),
      info.options.getOrDefault("writeMode", "insert"),
      Option(info.options.get("externalIdField")),
      Option(info.options.get("writeId")),
      Option(info.options.get("createdKey")))
}

object OrgTable {
  /** The table's fields for a partial write's `frame` columns, in frame
    * order: each column must name a table field (case-insensitively) of
    * the same type, since no Spark cast runs on this path. */
  def partialSchema(table: StructType, frame: StructType): StructType =
    StructType(frame.fields.map { f =>
      val t = table.fields.find(_.name.equalsIgnoreCase(f.name)).getOrElse(
        throw new IllegalArgumentException(s"column ${f.name} is not a field of " +
          table.fieldNames.mkString("(", ", ", ")")))
      require(t.dataType == f.dataType, s"column ${f.name} is " +
        s"${f.dataType.simpleString}, its field is ${t.dataType.simpleString}; cast it")
      t
    })
}

/** Negotiates the pushdown contract with Catalyst. Filters it can render
  * to SOQL are fully absorbed; the rest are returned for Spark to
  * re-apply post-scan (so correctness never depends on translation
  * coverage). */
final class OrgScanBuilder(orgName: String, sObject: String, fullSchema: StructType,
    numPartitions: Int = OrgScan.defaultPartitions,
    maxRecordsPerBatch: Option[Long] = None)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var topNOrder: Seq[String] = Nil
  private var aggSchema: Option[StructType] = None
  private var aggSelect: Option[Seq[String]] = None
  private var aggGroupBy: Seq[String] = Nil

  /** PK-chunk boundaries negotiated with the org at plan time (the sim of
    * Bulk API PK chunking); empty → single cursor partition. */
  private lazy val pkBoundaries: Seq[String] =
    RemoteOrgRegistry(orgName).pkChunkBoundaries(sObject, numPartitions)

  private def fieldName(e: V2Expression): Option[String] = e match {
    // plain columns only — dotted relationship fields stay in Spark
    case r: NamedReference if r.fieldNames.length == 1 &&
        !r.fieldNames.head.contains(".") => Some(r.fieldNames.head)
    case _ => None
  }

  /** COUNT(*)/COUNT(col)/MIN/MAX over plain columns render to SOQL-style
    * aggregates the org can evaluate remotely; anything else (SUM, AVG,
    * DISTINCT, nested expressions) stays in Spark. Complete pushdown is
    * only claimed for a single cursor partition — with PK-range
    * partitions each range returns a PARTIAL aggregate and Spark plans
    * the final merge (COUNT → summed partials, MIN/MAX → re-min/max),
    * which is exactly the executor-parallel shape a 1000-node scan needs. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    translateAgg(aggregation).isDefined && pkBoundaries.isEmpty

  override def pushAggregation(aggregation: Aggregation): Boolean =
    translateAgg(aggregation) match {
      case Some((select, schema, groups)) =>
        aggSelect = Some(select); aggSchema = Some(schema); aggGroupBy = groups
        true
      case None => false
    }

  private def translateAgg(
      agg: Aggregation): Option[(Seq[String], StructType, Seq[String])] = {
    val groups: Seq[Option[String]] = agg.groupByExpressions.toSeq.map(fieldName)
    if (groups.exists(_.isEmpty)) return None
    val groupCols = groups.flatten
    val fields = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.types.StructField]()
    groupCols.foreach { g =>
      fields += fullSchema.fields(fullSchema.fieldIndex(g))
    }
    val selects = scala.collection.mutable.ArrayBuffer[String]()
    agg.aggregateExpressions.toSeq.foreach { f: AggregateFunc =>
      f match {
        case _: CountStar =>
          selects += "COUNT(*)"
          fields += org.apache.spark.sql.types.StructField(
            "count_star", org.apache.spark.sql.types.LongType)
        case c: Count if !c.isDistinct =>
          fieldName(c.column) match {
            case Some(n) =>
              selects += s"COUNT($n)"
              fields += org.apache.spark.sql.types.StructField(
                s"count_$n", org.apache.spark.sql.types.LongType)
            case None => return None
          }
        case m: Min =>
          fieldName(m.column) match {
            case Some(n) =>
              selects += s"MIN($n)"
              fields += fullSchema.fields(fullSchema.fieldIndex(n)).copy(name = s"min_$n")
            case None => return None
          }
        case m: Max =>
          fieldName(m.column) match {
            case Some(n) =>
              selects += s"MAX($n)"
              fields += fullSchema.fields(fullSchema.fieldIndex(n)).copy(name = s"max_$n")
            case None => return None
          }
        case s: Sum if !s.isDistinct =>
          // SOQL supports SUM; integral inputs widen to Long (Catalyst's
          // sum result type), floats to Double — decimals stay in Spark
          fieldName(s.column) match {
            case Some(n) =>
              import org.apache.spark.sql.types._
              val sumType = fullSchema.fields(fullSchema.fieldIndex(n)).dataType match {
                case ByteType | ShortType | IntegerType | LongType => LongType
                case FloatType | DoubleType => DoubleType
                case _ => return None
              }
              selects += s"SUM($n)"
              fields += StructField(s"sum_$n", sumType)
            case None => return None
          }
        case a: Avg if !a.isDistinct =>
          // complete pushdown only (single cursor): Spark itself rewrites
          // AVG into SUM/COUNT partials when the builder demotes to
          // partial over PK ranges, so avg-of-avgs never happens
          fieldName(a.column) match {
            case Some(n) =>
              import org.apache.spark.sql.types._
              fullSchema.fields(fullSchema.fieldIndex(n)).dataType match {
                case ByteType | ShortType | IntegerType | LongType |
                     FloatType | DoubleType =>
                  selects += s"AVG($n)"
                  fields += StructField(s"avg_$n", DoubleType)
                case _ => return None
              }
            case None => return None
          }
        case _ => return None
      }
    }
    Some((groupCols ++ selects, StructType(fields.toSeq), groupCols))
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // filters over dotted relationship columns stay post-scan: Spark
    // quotes dotted top-level names in Filter attributes and the quoting
    // round-trip into SOQL isn't worth the ambiguity — correctness never
    // depends on pushdown coverage
    val (sup, unsup) = filters.partition(f =>
      f.references.forall(r => !r.contains(".") && !r.contains("`")) &&
        SoqlFilters.translate(f).isDefined)
    pushed = sup
    unsup
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // always keep at least one column so generated SOQL stays valid
    required =
      if (requiredSchema.isEmpty) StructType(fullSchema.fields.take(1))
      else requiredSchema

  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  /** ORDER BY + LIMIT push as SOQL top-N. Plain ascending/descending
    * columns only, and never on top of a pushed aggregate (SOQL cannot
    * order by an aggregate alias). Under PK-range partitions each range
    * returns its own top-N (an upper bound) and Spark re-sorts the n*k
    * survivors — declared via isPartiallyPushed. Null ordering must match
    * Spark's defaults (ASC nulls first / DESC nulls last), which is what
    * the org sim implements. */
  override def pushTopN(orders: Array[V2SortOrder], l: Int): Boolean = {
    if (aggSelect.isDefined) return false
    val rendered = orders.toSeq.map { so =>
      fieldName(so.expression()).flatMap { f =>
        val asc = so.direction() == SortDirection.ASCENDING
        val defaultNulls =
          (asc && so.nullOrdering() == NullOrdering.NULLS_FIRST) ||
            (!asc && so.nullOrdering() == NullOrdering.NULLS_LAST)
        if (defaultNulls) Some(s"$f ${if (asc) "ASC" else "DESC"}") else None
      }
    }
    if (rendered.exists(_.isEmpty)) false
    else {
      topNOrder = rendered.flatten
      limit = Some(l)
      true
    }
  }

  override def isPartiallyPushed(): Boolean = pkBoundaries.nonEmpty

  override def build(): Scan = (aggSelect, aggSchema) match {
    case (Some(sel), Some(schema)) =>
      new OrgScan(orgName, sObject, schema,
        pushed.flatMap(SoqlFilters.translate).toSeq, limit,
        selectOverride = Some(sel), groupBy = aggGroupBy,
        pkBoundaries = pkBoundaries, numPartitions = numPartitions,
        maxRecordsPerBatch = maxRecordsPerBatch)
    case _ =>
      new OrgScan(orgName, sObject, required,
        pushed.flatMap(SoqlFilters.translate).toSeq, limit,
        orderBy = topNOrder,
        pkBoundaries = pkBoundaries, numPartitions = numPartitions,
        maxRecordsPerBatch = maxRecordsPerBatch)
  }
}

object OrgScan {
  /** Default PK-chunk request per scan, sized from the cluster so a
    * production scan splits across the executors actually available
    * (the org itself caps small tables via pkChunkBoundaries); 4 when
    * no session is active (reflective instantiation paths). */
  def defaultPartitions: Int =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.defaultParallelism).getOrElse(4)
}

final class OrgScan(
    orgName: String, sObject: String, schema: StructType,
    predicates: Seq[String], limit: Option[Int],
    selectOverride: Option[Seq[String]] = None,
    groupBy: Seq[String] = Nil,
    orderBy: Seq[String] = Nil,
    pkBoundaries: Seq[String] = Nil,
    numPartitions: Int = 4,
    maxRecordsPerBatch: Option[Long] = None) extends Scan with Batch {

  val soql: String = Soql.render(sObject,
    selectOverride.getOrElse(schema.fieldNames.toSeq), predicates, limit,
    groupBy, orderBy)

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = s"SalesforceScan[$soql]"

  /** One partition per PK range (half-open on Id, the org's primary key:
    * (-inf,b1], (b1,b2], …, (bk,+inf)) — executor-parallel range scans
    * instead of one serial cursor. A pushed LIMIT stays per-range (an
    * upper bound; Spark re-applies the global limit), and pushed
    * aggregates become partials that Spark merges (the builder demotes
    * complete pushdown whenever boundaries exist). */
  override def planInputPartitions(): Array[InputPartition] = {
    // capture once at plan time: the partition must carry everything an
    // executor JVM needs to rebuild the connection (see RemoteOrg.recipe)
    val rec = RemoteOrgRegistry(orgName).recipe
    if (pkBoundaries.isEmpty) Array(OrgInputPartition(orgName, soql, rec))
    else {
      val ranges: Seq[Seq[String]] =
        (None +: pkBoundaries.map(Some(_))).zip(pkBoundaries.map(Some(_)) :+ None)
          .map { case (lo, hi) => Soql.idRange(lo, hi) }
      ranges.map { r =>
        // per-range ORDER BY + LIMIT is the partial top-N: each range
        // returns its own best n, Spark merges (isPartiallyPushed)
        OrgInputPartition(orgName, Soql.render(sObject,
          selectOverride.getOrElse(schema.fieldNames.toSeq),
          predicates ++ r, limit, groupBy, orderBy), rec)
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    OrgPartitionReader.factory(schema)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new OrgMicroBatchStream(orgName, sObject, schema, predicates,
      numPartitions, maxRecordsPerBatch)
}

/** Streaming offset = the highest record Id covered so far — the
  * Spark-native form of the reference's `queryMore` cursor locator
  * (data_connector.py:62-66): each micro-batch reads the half-open Id
  * range (lastId, latestId], so restarts resume exactly where the
  * checkpointed cursor stopped and every record is delivered once. */
final case class OrgStreamOffset(lastId: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.JObject("lastId" -> org.json4s.JString(lastId)))
}

final class OrgMicroBatchStream(
    orgName: String, sObject: String, schema: StructType,
    predicates: Seq[String],
    numPartitions: Int = 4,
    maxRecordsPerBatch: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** End captured by Trigger.AvailableNow's prepare phase: batches stay
    * capped by the ReadLimit but never run past this mark. Implementing
    * SupportsTriggerAvailableNow directly (instead of letting Spark wrap
    * the stream) is what keeps admission control active under
    * AvailableNow — the generic wrapper returns the prepared end in one
    * gulp, exactly the unbounded-backfill shape we're avoiding. */
  @volatile private var availableEnd: Option[String] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableEnd = Some(tableMax)

  override def initialOffset(): streaming.Offset = OrgStreamOffset("")

  private def tableMax: String = {
    val it = RemoteOrgRegistry(orgName).query(s"SELECT MAX(Id) FROM $sObject")
    if (it.hasNext) Option(it.next().get(0)).map(_.toString).getOrElse("") else ""
  }

  /** The org's current high-water mark, fetched as a pushed-down global
    * aggregate (one `SELECT MAX(Id)` — no data movement). */
  override def latestOffset(): streaming.Offset = OrgStreamOffset(tableMax)

  /** Admission control: `maxRecordsPerBatch` (read option) caps each
    * micro-batch so a first start against a populated table backfills in
    * bounded batches instead of swallowing the whole table in one gulp —
    * the reference's cursor loop pages the same way
    * (data_connector.py:62-66). */
  override def getDefaultReadLimit: ReadLimit =
    maxRecordsPerBatch.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: streaming.Offset, limit: ReadLimit): streaming.Offset = {
    val s = start.asInstanceOf[OrgStreamOffset].lastId
    val uncapped = limit match {
      case rl: ReadMaxRows =>
        // advance the cursor at most maxRows records: page Ids past the
        // cursor with ORDER BY Id LIMIT n pushed org-side, so the page is
        // the n *smallest* remaining Ids regardless of the org's physical
        // row order — without the ORDER BY, an unordered result could
        // hand back an Id near the table max and the "capped" batch
        // would swallow the whole remaining range
        val page = RemoteOrgRegistry(orgName).query(Soql.render(
          sObject, Seq("Id"),
          predicates ++ Soql.idRange(Some(s).filter(_.nonEmpty), None),
          Some(rl.maxRows().toInt),
          orderBy = Seq("Id")))
          .map(_.getString(0)).toVector
        if (page.isEmpty) s else page.max
      case _ => tableMax
    }
    // under AvailableNow, never run past the end captured at prepare time
    val e = availableEnd.filter(_ < uncapped).getOrElse(uncapped)
    OrgStreamOffset(if (e < s) s else e)
  }

  override def reportLatestOffset(): streaming.Offset = latestOffset()

  /** Each micro-batch range (start, end] splits on the org's PK-chunk
    * boundaries into executor-parallel partitions — a backfill batch is
    * never one serial reader. */
  override def planInputPartitions(
      start: streaming.Offset, end: streaming.Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[OrgStreamOffset].lastId
    val e = end.asInstanceOf[OrgStreamOffset].lastId
    if (e.isEmpty || e <= s) Array.empty
    else {
      val org = RemoteOrgRegistry(orgName)
      // plan-time capture: partitions carry the rebuild recipe so the
      // micro-batch's executor JVMs can resolve the org themselves
      val rec = org.recipe
      val cuts = org
        .pkChunkBoundaries(sObject, numPartitions)
        .filter(b => (s.isEmpty || b > s) && b < e)
      val bounds = (if (s.isEmpty) None else Some(s)) +: cuts.map(Some(_)) :+ Some(e)
      bounds.zip(bounds.tail).map { case (lo, hi) =>
        OrgInputPartition(orgName,
          Soql.render(sObject, schema.fieldNames.toSeq,
            predicates ++ Soql.idRange(lo, hi), None),
          rec)
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    OrgPartitionReader.factory(schema)

  override def deserializeOffset(json: String): streaming.Offset = {
    import org.json4s._
    OrgStreamOffset(
      (org.json4s.jackson.JsonMethods.parse(json) \ "lastId") match {
        case JString(s) => s
        case _ => ""
      })
  }

  override def commit(end: streaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class OrgInputPartition(orgName: String, soql: String,
    recipe: Option[OrgRecipe] = None) extends InputPartition

final class OrgPartitionReader(rows: Iterator[Row], schema: StructType)
    extends PartitionReader[InternalRow] {
  private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = toCatalyst(rows.next()).asInstanceOf[InternalRow]; true }
    else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

object OrgPartitionReader {
  /** The batch and streaming scans' one reader factory: each partition
    * resolves its org from the plan-time recipe and runs its SOQL. */
  def factory(schema: StructType): PartitionReaderFactory =
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[OrgInputPartition]
      new OrgPartitionReader(
        RemoteOrgRegistry.resolve(p.orgName, p.recipe).query(p.soql), schema)
    }
}

/** Catalyst `Filter` → SOQL predicate rendering. Returns None for
  * anything outside the supported grammar (those run post-scan).
  * Coverage mirrors the reference's arbitrary `where_condition` pushdown
  * (mapping_parser.py:39-40): comparisons, IN, AND/OR, LIKE
  * (startsWith/endsWith/contains), and date/datetime literals (SOQL
  * renders both unquoted: `2020-01-05`, `2020-01-05T10:00:00Z`). */
object SoqlFilters {
  private def lit(v: Any): Option[String] = v match {
    case null => Some("null")
    case s: String => Some(s"'${s.replace("'", "\\'")}'")
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Double | _: Float) =>
      Some(n.toString)
    case b: Boolean => Some(b.toString)
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case t: java.sql.Timestamp => Some(t.toInstant.toString)
    case t: java.time.Instant => Some(t.toString)
    case _ => None // decimals left to post-scan
  }

  /** LIKE-literal escaping: SOQL reserves % and _ as wildcards. */
  private def likeLit(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")
      .replace("%", "\\%").replace("_", "\\_")

  def translate(f: Filter): Option[String] = f match {
    case EqualTo(a, v) => lit(v).map(l => s"$a = $l")
    case GreaterThan(a, v) => lit(v).map(l => s"$a > $l")
    case GreaterThanOrEqual(a, v) => lit(v).map(l => s"$a >= $l")
    case LessThan(a, v) => lit(v).map(l => s"$a < $l")
    case LessThanOrEqual(a, v) => lit(v).map(l => s"$a <= $l")
    case In(a, vs) if vs.nonEmpty =>
      val ls = vs.map(lit)
      if (ls.forall(_.isDefined)) Some(s"$a IN (${ls.flatten.mkString(", ")})")
      else None
    case IsNotNull(a) => Some(s"$a != null")
    case IsNull(a) => Some(s"$a = null")
    case Not(EqualTo(a, v)) => lit(v).map(l => s"$a != $l")
    case StringStartsWith(a, v) => Some(s"$a LIKE '${likeLit(v)}%'")
    case StringEndsWith(a, v) => Some(s"$a LIKE '%${likeLit(v)}'")
    case StringContains(a, v) => Some(s"$a LIKE '%${likeLit(v)}%'")
    case And(l, r) =>
      for (ls <- translate(l); rs <- translate(r)) yield s"($ls AND $rs)"
    case Or(l, r) =>
      for (ls <- translate(l); rs <- translate(r)) yield s"($ls OR $rs)"
    case _ => None
  }
}

/** Write path: executor-parallel chunked mutations (≤200 rows per org
  * call — QUERY_LIMIT, data_connector.py:23). `writeMode` selects the
  * verb, making bulk update/upsert/delete first-class connector sinks
  * (data_connector.py:281-310) instead of driver-side workarounds:
  *   - insert (default): chunked_create (data_connector.py:119-131)
  *   - update: bulk_update keyed on Id (data_connector.py:281-291)
  *   - upsert: bulk_upsert keyed on `externalIdField` (:301-310)
  *   - delete: rows carry the Ids to remove (:294-298)
  * Per-task processed/failed counts flow back as commit messages and are
  * aggregated in BatchWrite.commit (numberRecordsProcessed/Failed parity,
  * data_connector.py:342-349).
  *
  * A batch insert with both `writeId` and `createdKey` set also hands
  * back what the org created: each writer pairs the Ids its insert calls
  * return (row order, on every wire) with the row's `createdKey` column
  * (nothing when the option is empty), and the commit records the pairs
  * under `writeId` for [[OrgWriteMetrics.createdFor]]. Streaming epochs
  * record none. */
final class OrgWriteBuilder(orgName: String, sObject: String, schema: StructType,
    mode: String, externalIdField: Option[String],
    writeId: Option[String] = None, createdKey: Option[String] = None)
    extends WriteBuilder {
  override def build(): Write = new Write {
    override def supportedCustomMetrics(): Array[CustomMetric] =
      Array(new ProcessedRecordsMetric, new FailedRecordsMetric)
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
        val (o, s, sch, m, ext) = (orgName, sObject, schema, mode, externalIdField)
        val rec = RemoteOrgRegistry(orgName).recipe // plan-time capture
        val key = if (mode == "insert") writeId.flatMap(_ => createdKey) else None
        (_: Int, _: Long) => new OrgDataWriter(o, s, sch, m, ext, rec, key)
      }
      override def commit(messages: Array[WriterCommitMessage]): Unit =
        // keyed by the caller's unique writeId (not just (org, table)) so
        // concurrent/interleaved writes can't race each other's outcome
        OrgWriteMetrics.record(orgName, sObject, writeId,
          OrgWriteCommit.total(messages), OrgWriteCommit.created(messages))
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }

    /** Streaming face of the same sink: each micro-batch epoch writes
      * through the identical chunked OrgDataWriter path and records its
      * outcome under `writeId@epoch` — `writeStream.format("salesforce-sim")`
      * works without a foreachBatch shim. Epoch replays re-run the
      * chunked mutations (at-least-once, like the reference's cursor
      * loop); idempotence comes from update/upsert/delete verbs keying
      * on Id/external id. */
    override def toStreaming: StreamingWrite = new StreamingWrite {
      override def createStreamingWriterFactory(
          info: PhysicalWriteInfo): StreamingDataWriterFactory = {
        val (o, s, sch, m, ext) = (orgName, sObject, schema, mode, externalIdField)
        val rec = RemoteOrgRegistry(orgName).recipe // plan-time capture
        (_: Int, _: Long, _: Long) => new OrgDataWriter(o, s, sch, m, ext, rec)
      }
      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
        OrgWriteMetrics.record(orgName, sObject,
          writeId.map(id => s"$id@$epochId"), OrgWriteCommit.total(messages))
      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
    }
  }
}

/** One task's outcome; `created` holds its (created Id, key) pairs when
  * the write asked for them (`createdKey`), else nothing. */
final case class OrgWriteCommit(processed: Long, failed: Long,
    created: Seq[(String, Any)] = Nil)
    extends WriterCommitMessage

object OrgWriteCommit {
  /** One write's outcome: the tasks' processed/failed counts summed. */
  def total(messages: Array[WriterCommitMessage]): WriteOutcome =
    messages.foldLeft(WriteOutcome(0L, 0L)) {
      case (acc, c: OrgWriteCommit) =>
        WriteOutcome(acc.processed + c.processed, acc.failed + c.failed)
      case (acc, _) => acc
    }

  /** One write's created pairs, task by task. */
  def created(messages: Array[WriterCommitMessage]): Seq[(String, Any)] =
    messages.toSeq.flatMap {
      case c: OrgWriteCommit => c.created
      case _ => Nil
    }
}

/** DSv2 custom metrics: per-write processed/failed record counts surface
  * in the Spark SQL UI next to the write node — the live face of the
  * reference's numberRecordsProcessed/Failed job status polling. */
final class ProcessedRecordsMetric extends CustomSumMetric {
  override def name(): String = "orgRecordsProcessed"
  override def description(): String = "org records processed"
}
final class FailedRecordsMetric extends CustomSumMetric {
  override def name(): String = "orgRecordsFailed"
  override def description(): String = "org records failed"
}
private final case class OrgTaskMetric(name: String, value: Long)
    extends CustomTaskMetric

final class OrgDataWriter(orgName: String, sObject: String, schema: StructType,
    mode: String, externalIdField: Option[String],
    recipe: Option[OrgRecipe] = None, createdKey: Option[String] = None)
    extends DataWriter[InternalRow] {
  private val ChunkSize = 200 // data_connector.py:23
  private val toScala = CatalystTypeConverters.createToScalaConverter(schema)
  private val buffer = scala.collection.mutable.ArrayBuffer.empty[Row]
  private var processed = 0L
  private var failed = 0L
  // the value each created Id is paired with: the createdKey column, or
  // null when the option names none
  private val keyOf: Option[Row => Any] = createdKey.map {
    case "" => (_: Row) => null
    case k =>
      val i = schema.fieldIndex(k)
      (r: Row) => r.get(i)
  }
  private val created = scala.collection.mutable.ArrayBuffer.empty[(String, Any)]

  override def write(record: InternalRow): Unit = {
    buffer += toScala(record.copy()).asInstanceOf[Row]
    if (buffer.size >= ChunkSize) flush()
  }
  private def flush(): Unit = if (buffer.nonEmpty) {
    // executor-side write resolution: resident org, or a recipe that
    // reaches the SAME org (HTTP) — never a facsimile (silent loss)
    val org = RemoteOrgRegistry.resolveForWrite(orgName, recipe)
    val chunk = buffer.toSeq
    mode match {
      case "insert" =>
        val ids = org.insert(sObject, chunk, schema)
        keyOf.foreach { key =>
          require(ids.size == chunk.size,
            s"insert into $sObject returned ${ids.size} Ids for ${chunk.size} rows")
          created ++= ids.iterator.zip(chunk.iterator.map(key))
        }
        processed += chunk.size
      case "update" =>
        val (u, f) = org.update(sObject, chunk, schema)
        processed += u; failed += f
      case "upsert" =>
        val ext = externalIdField.getOrElse(throw new IllegalArgumentException(
          "writeMode=upsert requires externalIdField"))
        val (i, u) = org.upsert(sObject, ext, chunk, schema)
        processed += i + u
      case "delete" =>
        val idIdx = schema.fieldIndex("Id")
        val ids = chunk.map(_.getString(idIdx))
        val n = org.delete(sObject, ids)
        processed += n; failed += chunk.size - n
      case other => throw new IllegalArgumentException(s"unknown writeMode: $other")
    }
    buffer.clear()
  }
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(OrgTaskMetric("orgRecordsProcessed", processed),
      OrgTaskMetric("orgRecordsFailed", failed))
  override def commit(): WriterCommitMessage = {
    flush(); OrgWriteCommit(processed, failed, created.toVector)
  }
  override def abort(): Unit = buffer.clear()
  override def close(): Unit = ()
}
