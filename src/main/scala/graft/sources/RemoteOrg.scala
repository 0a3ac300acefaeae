package graft.sources

import java.util.concurrent.ConcurrentHashMap
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** The remote-org boundary the connector talks to — the Spark-native
  * abstraction of the reference's SOAP/REST connectors
  * (data_connector.py:38-368): describe ≈ metadata, query ≈
  * bulk_load/fetch_all_data, mutations ≈ bulk_insert/update/upsert/delete
  * with the reference's 200-row chunk contract enforced at this boundary
  * (QUERY_LIMIT, data_connector.py:23).
  *
  * Injectable so the whole connector stack is unit-testable with zero
  * network egress (SURVEY.md §7 hard-point d). The auth/token lifecycle
  * (fetch, cache, invalidate-and-retry-once — data_connector.py:164-252)
  * lives in [[TokenProvider]]/[[AuthRetryOrg]] (Auth.scala), which wrap
  * any impl of this trait in the retry-once session policy.
  */
trait RemoteOrg {
  def describe(sObject: String): StructType
  /** Executes a SOQL string; the connector only generates the grammar
    * produced by [[Soql]] (SELECT cols FROM obj [WHERE …] [LIMIT n]). */
  def query(soql: String): Iterator[Row]
  /** Inserts ≤200-row chunks; returns created IDs in row order. */
  def insert(sObject: String, rows: Seq[Row], schema: StructType): Seq[String]
  /** Updates existing rows by `Id` (≤200-row chunks) — bulk_update
    * (data_connector.py:281-291): only the columns present in `schema`
    * are overwritten; missing Ids are counted as failures, not errors. */
  def update(sObject: String, rows: Seq[Row], schema: StructType): (Int, Int)
  /** Insert-or-update keyed on an external-ID field (≤200-row chunks) —
    * bulk_upsert (data_connector.py:301-310). Returns (inserted, updated). */
  def upsert(sObject: String, externalIdField: String, rows: Seq[Row],
      schema: StructType): (Int, Int)
  def delete(sObject: String, ids: Seq[String]): Int
  /** Server-side predicate delete — bulk_delete(object, where)
    * (data_connector.py:294-298): the org resolves the WHERE itself, so
    * no ID list ever crosses to the driver. */
  def deleteWhere(sObject: String, predicates: Seq[String]): Int
  /** Sorted internal PK split points for range-partitioned scans — the
    * sim of Bulk API PK chunking. `k-1` boundaries split the table into
    * `k` ranges (first: Id <= b1; last: Id > b(k-1)); empty means the
    * org serves the table as one cursor. */
  def pkChunkBoundaries(sObject: String, desiredChunks: Int): Seq[String] = Nil

  /** Serializable recipe from which an EXECUTOR JVM can rebuild a
    * connection to this org, captured into every scan partition at
    * plan time. None (the default) marks the org as resident in its
    * creating JVM only — such scans work under local[n] (executor
    * threads share the driver JVM) and fail LOUDLY on a multi-JVM
    * master. An HTTP org's recipe carries its serializable
    * endpoint/auth config ([[BulkApiOrgRecipe]]/[[SoapOrgRecipe]] — a
    * token + a [[TransportFactory]]); the in-memory simulation's
    * carries a deterministic rebuild
    * ([[CustomerHalvesOrgRecipe]]). Found by the
    * round-13 local-cluster smoke: executor-side readers resolved the
    * org from the process-local registry, which is empty in a separate
    * executor JVM — a real-cluster scan failure local[n] masked. */
  def recipe: Option[OrgRecipe] = None

  /** Release the org's transport resources (connection pool, threads).
    * No-op default; wire orgs close their [[HttpTransport]]. Called on
    * the DISPLACED org when [[RemoteOrgRegistry.resolve]] replaces a
    * cached rebuild under a newer recipe — without it an HTTP org's
    * pool leaks on every recipe change across micro-batches. */
  def close(): Unit = ()
}

/** A partition-embedded, serializable way to (re)build an org
  * connection inside whatever JVM the partition lands in. Equality
  * matters: the executor caches the built org per name and rebuilds
  * when a NEWER plan ships a different recipe (e.g. more rows landed
  * in the sim between micro-batches), so implement as a case class. */
trait OrgRecipe extends Serializable {
  def build(): RemoteOrg
  /** True when [[build]] yields a connection to the SAME underlying
    * org (an HTTP client against the same remote endpoint) — such a
    * recipe is valid for executor-side WRITES too. False (default) for
    * facsimile rebuilds like the in-memory sim, whose writes would
    * mutate a copy and be silently lost: those stay read-only. */
  def connectsToSameOrg: Boolean = false
}

/** Per-(org, sObject) outcome of the last connector batch write — the
  * numberRecordsProcessed/Failed surface of the reference's batch status
  * checks (data_connector.py:342-349), aggregated from writer commit
  * messages instead of discarded. */
final case class WriteOutcome(processed: Long, failed: Long)

object OrgWriteMetrics {
  private val last = new ConcurrentHashMap[(String, String), WriteOutcome]()
  private val byId = new ConcurrentHashMap[String, WriteOutcome]()
  private val createdById = new ConcurrentHashMap[String, Seq[(String, Any)]]()
  def record(org: String, sObject: String, writeId: Option[String],
      o: WriteOutcome, created: Seq[(String, Any)] = Nil): Unit = {
    last.put((org, sObject), o)
    writeId.foreach(byId.put(_, o))
    if (created.nonEmpty) writeId.foreach(createdById.put(_, created))
  }
  def lastCommit(org: String, sObject: String): WriteOutcome =
    last.getOrDefault((org, sObject), WriteOutcome(0L, 0L))
  /** Outcome of one specific write, keyed by the unique id the caller
    * passed as the `writeId` write option — immune to concurrent writes
    * to the same (org, table) overwriting each other's slot. Reading an
    * outcome removes it, so a second call for the same id returns None
    * and one entry per write does not pile up. */
  def forWrite(writeId: String): Option[WriteOutcome] = Option(byId.remove(writeId))
  /** The (created Id, `createdKey` value) pairs of one insert that set
    * the `createdKey` write option, in commit order. Removed on read,
    * like [[forWrite]]; empty for any other write. */
  def createdFor(writeId: String): Seq[(String, Any)] =
    Option(createdById.remove(writeId)).getOrElse(Nil)
  /** Writes whose created pairs are recorded and not yet read. */
  private[graft] def pendingCreated: Int = createdById.size
}

/** Process-local registry so the reflectively-instantiated DSv2 provider
  * can locate an org by name from read options. [[apply]] is the strict
  * same-JVM lookup (driver-side planning, cursor reads, and the write
  * path — a write must reach the org, never a rebuilt facsimile);
  * [[resolve]] is the executor-side scan resolution that falls back to
  * the partition's [[OrgRecipe]] when the name is not resident here. */
object RemoteOrgRegistry {
  private val orgs = new ConcurrentHashMap[String, RemoteOrg]()
  private val rebuilt =
    new ConcurrentHashMap[String, (OrgRecipe, RemoteOrg)]()
  /** Displaced-but-not-yet-closed orgs per name, newest first, with
    * retirement timestamps: an entry is closed once [[retireGraceMs]]
    * has passed (long enough for any task planned under the displaced
    * recipe to finish its in-flight call) or when the per-name park
    * list overflows [[RetiredCap]] (a recipe-churn bound). */
  private val retired =
    new ConcurrentHashMap[String, List[(Long, RemoteOrg)]]()
  @volatile private[graft] var retireGraceMs: Long = 5L * 60 * 1000
  private val RetiredCap = 8

  /** Split a park list into (keep, drop) — aged past the grace window
    * or overflowing the cap. PURE: called inside map computes, where a
    * slow `close()` must never run (it would be a socket teardown held
    * under a ConcurrentHashMap bin lock, stalling every same-name
    * resolve in a micro-batch — r15 verdict prescription 4). */
  private def partitionParked(now: Long, all: List[(Long, RemoteOrg)])
      : (List[(Long, RemoteOrg)], List[RemoteOrg]) = {
    val (young, aged) = all.partition { case (ts, _) => now - ts < retireGraceMs }
    val (keep, overflow) = young.splitAt(RetiredCap)
    (keep, (aged ++ overflow).map(_._2))
  }

  private def closeAll(os: Seq[RemoteOrg]): Unit = os.foreach { o =>
    try o.close()
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Close every parked org whose grace window has expired, across all
    * names — the path that releases transports WITHOUT further resolve
    * traffic (before this, a displaced pool persisted until process
    * exit if recipe churn stopped). Returns the number closed. Runs on
    * the timer below and is callable directly (tests; manual drains). */
  private[graft] def sweepRetired(
      now: Long = System.currentTimeMillis()): Int = {
    val toClose = new java.util.ArrayList[RemoteOrg]()
    retired.forEachKey(Long.MaxValue, name =>
      retired.compute(name, (_, old) => {
        if (old == null) null
        else {
          val (keep, drop) = partitionParked(now, old)
          drop.foreach(toClose.add)
          if (keep.isEmpty) null else keep
        }
      }))
    import scala.jdk.CollectionConverters._
    closeAll(toClose.asScala.toSeq)
    toClose.size()
  }

  /** Drain EVERYTHING parked regardless of age — the JVM-exit path. */
  private def drainRetired(): Unit = {
    val toClose = new java.util.ArrayList[RemoteOrg]()
    retired.forEachKey(Long.MaxValue, name =>
      Option(retired.remove(name)).foreach(_.foreach(e => toClose.add(e._2))))
    import scala.jdk.CollectionConverters._
    closeAll(toClose.asScala.toSeq)
  }

  /** Started lazily on the first park: a daemon tick that sweeps aged
    * parked orgs (1s period — the sweep is a no-op map walk when
    * nothing is parked), plus a shutdown hook that drains the park
    * lists so transports release even when churn stops mid-run. */
  private lazy val sweeper: java.util.concurrent.ScheduledExecutorService = {
    val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      r => {
        val t = new Thread(r, "remote-org-retire-sweeper")
        t.setDaemon(true)
        t
      })
    ex.scheduleWithFixedDelay(() => sweepRetired(), 1000L, 1000L,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    try Runtime.getRuntime.addShutdownHook(
      new Thread(() => drainRetired(), "remote-org-retire-drain"))
    catch { case _: IllegalStateException => () } // already shutting down
    ex
  }

  def register(name: String, org: RemoteOrg): Unit = orgs.put(name, org)
  def apply(name: String): RemoteOrg = {
    val o = orgs.get(name)
    require(o != null, s"no RemoteOrg registered under '$name'")
    o
  }

  /** Resolve an org for a SCAN partition: the resident org when this
    * is its home JVM (the local[n] fast path — zero behavior change),
    * else an org built from the partition's recipe, cached per name
    * and rebuilt whenever a newer plan ships a different recipe (case
    * class equality — e.g. the sim's landed-row count moved between
    * micro-batches). A missing recipe fails with the real explanation
    * instead of a bare lookup error. */
  def resolve(name: String, recipe: Option[OrgRecipe]): RemoteOrg = {
    val local = orgs.get(name)
    if (local != null) local
    else recipe match {
      case Some(r) =>
        // single-flight per name (code-review finding): the bare
        // check-then-put let every concurrent task of a micro-batch run
        // the expensive build() (a full parquet re-insert for the sim
        // recipe, an extra HTTP client per loser otherwise) and drop
        // all but one result unclosed. compute() serializes per key:
        // one builder, everyone else reuses its org.
        //
        // Displaced transports release on a GRACE timer (an HTTP org's
        // pool would otherwise leak on every recipe change): a task of
        // a CONCURRENT query planned under the displaced recipe may
        // still be mid-call on the displaced org, so an immediate —
        // or even generation-lagged — close can cut a live pool out
        // from under it when two plans with different recipes
        // interleave (code-review finding). A displaced org is parked
        // and closed only once retireGraceMs has passed (longer than
        // any sane task) or the park list overflows its cap; the leak
        // is bounded to RetiredCap orgs per name within the grace
        // window, and the background sweeper drains parks even when
        // churn stops. The computes only PARTITION — the actual
        // close() calls (slow socket teardown) run after both computes
        // return, never under the ConcurrentHashMap bin locks where
        // they would stall every same-name resolve in a micro-batch
        // (r15 verdict prescription 4 / r14 ADVICE #4).
        val toClose = new java.util.ArrayList[RemoteOrg]()
        var parked = false
        val resolved = rebuilt.compute(name, (_, cached) =>
          if (cached != null && cached._1 == r) cached
          else {
            if (cached != null) {
              parked = true
              val now = System.currentTimeMillis()
              retired.compute(name, (_, old) => {
                val all = (now, cached._2) ::
                  (if (old == null) Nil else old)
                val (keep, drop) = partitionParked(now, all)
                drop.foreach(toClose.add)
                if (keep.isEmpty) null else keep
              })
            }
            (r, r.build())
          })._2
        if (parked) sweeper // ensure the timed sweep + shutdown drain exist
        import scala.jdk.CollectionConverters._
        closeAll(toClose.asScala.toSeq)
        resolved
      case None => throw new IllegalStateException(
        s"org '$name' is not resident in this JVM and its scan " +
        "partition carries no OrgRecipe. A multi-executor-JVM scan " +
        "needs a recipe the executor can rebuild the connection from " +
        "(an HTTP org: its serializable endpoint/auth config; the " +
        "in-memory simulation: a deterministic rebuild recipe). A " +
        "recipe-less org works only under local[n] masters where " +
        "executors share the driver JVM.")
    }
  }

  /** Resolve an org for a WRITE task: the resident org, or a
    * recipe-built connection ONLY when the recipe declares it reaches
    * the same underlying org ([[OrgRecipe.connectsToSameOrg]] — an
    * HTTP client writing to the same remote endpoint). A facsimile
    * rebuild must NOT absorb writes (they would mutate a copy and be
    * silently lost), so it fails loudly instead. */
  def resolveForWrite(name: String, recipe: Option[OrgRecipe]): RemoteOrg = {
    val local = orgs.get(name)
    if (local != null) local
    else if (recipe.exists(_.connectsToSameOrg)) resolve(name, recipe)
    else throw new IllegalStateException(
      s"org '$name' is not resident in this JVM and its recipe " +
      "(if any) rebuilds a facsimile, not a connection to the same " +
      "org — executor-side writes against it would be silently lost. " +
      "Multi-JVM writes need an OrgRecipe with connectsToSameOrg=true " +
      "(an HTTP org); in-memory simulation writes are driver-JVM-only.")
  }
}

/** SOQL generation + a tiny evaluator for the same grammar — the
  * in-memory org executes exactly what the connector pushes down, so
  * tests prove the negotiated contract end to end. */
object Soql {
  def render(
      sObject: String, columns: Seq[String],
      predicates: Seq[String], limit: Option[Int],
      groupBy: Seq[String] = Nil, orderBy: Seq[String] = Nil): String = {
    val where = if (predicates.isEmpty) "" else predicates.mkString(" WHERE (", ") AND (", ")")
    val grp = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    val ord = if (orderBy.isEmpty) "" else s" ORDER BY ${orderBy.mkString(", ")}"
    val lim = limit.map(n => s" LIMIT $n").getOrElse("")
    s"SELECT ${columns.mkString(", ")} FROM $sObject$where$grp$ord$lim"
  }

  /** The half-open PK range (lo, hi] on Id as SOQL predicates; an open
    * end renders nothing. */
  def idRange(lo: Option[String], hi: Option[String]): Seq[String] =
    lo.map(b => s"Id > '$b'").toSeq ++ hi.map(b => s"Id <= '$b'").toSeq

  /** `SELECT items FROM obj …` → (obj, select items), the wire orgs'
    * reading of the statement they are handed. */
  def selectFrom(soql: String): (String, Seq[String]) = {
    val sel = soql.stripPrefix("SELECT ")
    val fromIdx = sel.indexOf(" FROM ")
    if (fromIdx < 0)
      throw new IllegalArgumentException(s"no FROM clause in: $soql")
    (sel.substring(fromIdx + 6).split("\\s+").head,
      sel.substring(0, fromIdx).split(",").map(_.trim).toSeq)
  }

  /** A describe field type → the Spark type the wire orgs coerce to.
    * `int` widens to a long: SOAP ints are widened and Bulk JSON numbers
    * carry no width. */
  def fieldType(describeType: String): DataType = describeType match {
    case "int" => LongType
    case "double" | "currency" | "percent" => DoubleType
    case "boolean" => BooleanType
    case "date" => DateType
    case "datetime" => TimestampType
    case _ => StringType // id, string, reference, picklist, ...
  }

  /** A non-null text wire value (Bulk CSV, SOAP XML) → the JVM value of
    * its [[fieldType]]. Each wire keeps its own null rule. */
  def coerceText(s: String, dt: DataType): Any = dt match {
    case LongType => s.toLong
    case DoubleType => s.toDouble
    case BooleanType => s.toBoolean
    case DateType => java.sql.Date.valueOf(s)
    case TimestampType =>
      java.sql.Timestamp.from(java.time.Instant.parse(s))
    case _ => s
  }
}

/** In-memory [[RemoteOrg]]: tables are row buffers with explicit schemas;
  * `query` parses the connector-generated SOQL (projection, simple
  * comparison/IN predicates, LIMIT) and records every statement so tests
  * can assert on what was actually pushed down. */
final class InMemoryOrg extends RemoteOrg {
  private val tables = TrieMap.empty[String, (StructType, Vector[Row])]
  private var idSeq = 0L
  val statements = scala.collection.mutable.ArrayBuffer.empty[String]
  val insertBatchSizes = scala.collection.mutable.ArrayBuffer.empty[Int]
  /** (childTable, fkColumn, parentTable, parentKey) — lets `query`
    * resolve dotted `Parent.Column` select items the way a real org
    * resolves relationship paths (mapping_parser.py:34-38). */
  private val relationships =
    scala.collection.mutable.ArrayBuffer.empty[(String, String, String, String)]

  def createTable(name: String, schema: StructType, rows: Seq[Row] = Nil): Unit =
    tables.put(name, (schema, rows.toVector))

  def rowCount(sObject: String): Int =
    tables.get(sObject).map(_._2.size).getOrElse(0)

  /** Evaluated at PLAN time by every scan so partitions capture the
    * state-at-plan (e.g. the current landed-row count); defaults to
    * recipe-less — this-JVM-only. */
  @volatile var recipeProvider: () => Option[OrgRecipe] = () => None
  override def recipe: Option[OrgRecipe] = recipeProvider()

  def declareRelationship(childTable: String, fkColumn: String,
      parentTable: String, parentKey: String): Unit =
    relationships += ((childTable, fkColumn, parentTable, parentKey))

  /** Value of a select item for `row`: a plain column, or a dotted
    * relationship path resolved through the declared FK (left-join
    * semantics: unmatched/null FK → null). Linear parent lookup — this is
    * the test sim; a real org does this server-side. */
  private def resolveValue(item: String, table: String, schema: StructType,
      row: Row): Any =
    if (!item.contains(".")) row.get(schema.fieldIndex(item))
    else {
      val Array(parent, pcol) = item.split("\\.", 2)
      val rel = relationships.find(r => r._1 == table && r._3 == parent)
        .getOrElse(throw new IllegalArgumentException(
          s"no relationship $table -> $parent declared for path $item"))
      val fkVal = row.get(schema.fieldIndex(rel._2))
      if (fkVal == null) null
      else {
        val (pSchema, pData) = tables(parent)
        val keyIdx = pSchema.fieldIndex(rel._4)
        pData.find(pr => pr.get(keyIdx) == fkVal)
          .map(_.get(pSchema.fieldIndex(pcol))).orNull
      }
    }

  def rows(name: String): Vector[Row] = tables(name)._2

  override def describe(sObject: String): StructType = tables(sObject)._1

  override def query(soql: String): Iterator[Row] = synchronized {
    statements += soql
    val Pattern =
      """SELECT (.+) FROM (\S+)( WHERE (.+?))?( GROUP BY ([\w, ]+?))?( ORDER BY ([\w, ]+?))?( LIMIT (\d+))?$""".r
    soql match {
      case Pattern(cols, obj, _, where, _, groupBy, _, orderBy, _, limit) =>
        val (schema, data) = tables(obj)
        val filtered = Option(where).map(w => data.filter(evalWhere(w, schema, _)))
          .getOrElse(data)
        val items = cols.split(",").map(_.trim).toSeq
        val isAgg = items.exists(i => i.contains("(")) || groupBy != null
        val resultRows =
          if (!isAgg) {
            filtered.map(r => Row.fromSeq(items.map(resolveValue(_, obj, schema, r))))
          } else {
            val groupCols = Option(groupBy)
              .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
            val gIdx = groupCols.map(schema.fieldIndex)
            // a global aggregate (no GROUP BY) over zero rows still yields
            // ONE row (COUNT=0, NULL min/max) — the connector declares
            // complete pushdown, so Spark trusts this result verbatim
            val grouped0 = filtered.groupBy(r => gIdx.map(r.get))
            val grouped =
              if (gIdx.isEmpty && grouped0.isEmpty)
                Map(Seq.empty[Any] -> Vector.empty[Row])
              else grouped0
            grouped.toVector.sortBy(_._1.mkString("|")).map { case (key, rows) =>
              val vals = items.map {
                case g if groupCols.contains(g) => key(groupCols.indexOf(g))
                case "COUNT(*)" => rows.size.toLong
                case AggFn("COUNT", c) => rows.count(r => r.get(schema.fieldIndex(c)) != null).toLong
                case AggFn("MIN", c) => minMax(rows, schema.fieldIndex(c), min = true)
                case AggFn("MAX", c) => minMax(rows, schema.fieldIndex(c), min = false)
                case AggFn("SUM", c) => sumAgg(rows, schema.fieldIndex(c))
                case AggFn("AVG", c) => avgAgg(rows, schema.fieldIndex(c))
                case other => throw new IllegalArgumentException(
                  s"unsupported aggregate select item: $other")
              }
              Row.fromSeq(vals)
            }
          }
        // ORDER BY applies before LIMIT (SOQL semantics): the sim sorts on
        // the projected result so the connector's capped Id-cursor pages
        // are the n *smallest* Ids even when the table's physical order is
        // arbitrary. Keys must be select items (all connector-issued
        // ordered queries satisfy this).
        val ordered = Option(orderBy) match {
          case None => resultRows
          case Some(ob) =>
            val keys = ob.split(",").map(_.trim).toSeq.map { k =>
              val parts = k.split("\\s+")
              val idx = items.indexOf(parts(0))
              require(idx >= 0, s"ORDER BY key ${parts(0)} not in select list")
              (idx, parts.length > 1 && parts(1).equalsIgnoreCase("DESC"))
            }
            resultRows.sortWith { (a, b) =>
              keys.iterator.map { case (idx, desc) =>
                val c = compareValues(a.get(idx), b.get(idx))
                if (desc) -c else c
              }.find(_ != 0).getOrElse(0) < 0
            }
        }
        val limited = Option(limit).map(n => ordered.take(n.toInt)).getOrElse(ordered)
        limited.iterator
      case _ => throw new IllegalArgumentException(s"unsupported SOQL: $soql")
    }
  }

  private object AggFn {
    private val P = """(\w+)\((\w+)\)""".r
    def unapply(s: String): Option[(String, String)] = s match {
      case P(fn, c) => Some((fn.toUpperCase, c))
      case _ => None
    }
  }

  /** SQL SUM semantics: null over zero non-null inputs; Long for integral
    * inputs (the connector declares LongType), Double for floats. */
  private def sumAgg(rows: Seq[Row], idx: Int): Any = {
    val vs = rows.map(_.get(idx)).filter(_ != null)
    if (vs.isEmpty) null
    else vs.head match {
      case _: Long | _: Int | _: Short | _: Byte =>
        vs.map {
          case n: Long => n
          case n: Int => n.toLong
          case n: Short => n.toLong
          case n: Byte => n.toLong
        }.sum
      case _ => vs.map {
        case n: Double => n
        case n: Float => n.toDouble
        case other => throw new IllegalArgumentException(s"cannot sum $other")
      }.sum
    }
  }

  private def avgAgg(rows: Seq[Row], idx: Int): Any = {
    val vs = rows.map(_.get(idx)).filter(_ != null).map {
      case n: Long => n.toDouble
      case n: Int => n.toDouble
      case n: Short => n.toDouble
      case n: Byte => n.toDouble
      case n: Double => n
      case n: Float => n.toDouble
      case other => throw new IllegalArgumentException(s"cannot avg $other")
    }
    if (vs.isEmpty) null else vs.sum / vs.size
  }

  /** Null-first total order over the scalar types the sim stores. */
  private def compareValues(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case other => throw new IllegalArgumentException(s"cannot order $other")
  }

  private def minMax(rows: Seq[Row], idx: Int, min: Boolean): Any = {
    val vs = rows.map(_.get(idx)).filter(_ != null)
    if (vs.isEmpty) null
    else {
      implicit val ord: Ordering[Any] = (a: Any, b: Any) => (a, b) match {
        case (x: Long, y: Long) => java.lang.Long.compare(x, y)
        case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
        case (x: Double, y: Double) => java.lang.Double.compare(x, y)
        case (x: String, y: String) => x.compareTo(y)
        case other => throw new IllegalArgumentException(s"cannot order $other")
      }
      if (min) vs.min else vs.max
    }
  }

  // evaluates the boolean grammar SoqlFilters + render() produce:
  // nested (…) AND/OR (…) with comparison / IN / LIKE / null leaves.
  // Splitting happens only at depth-0 connectives, quote-aware, so
  // IN-list parens and literals containing " AND " never break parsing.
  private def splitTop(p: String, sep: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var inQuote = false
    var start = 0
    var i = 0
    while (i < p.length) {
      val ch = p.charAt(i)
      if (inQuote) {
        if (ch == '\\') i += 1 // skip escaped char inside a literal
        else if (ch == '\'') inQuote = false
      } else ch match {
        case '\'' => inQuote = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && p.startsWith(sep, i)) {
            out += p.substring(start, i)
            start = i + sep.length
            i += sep.length - 1
          }
      }
      i += 1
    }
    out += p.substring(start)
    out.toSeq
  }

  /** Strips one pair of outer parens iff they wrap the whole expression. */
  private def stripOuter(p0: String): String = {
    var p = p0.trim
    var changed = true
    while (changed && p.startsWith("(") && p.endsWith(")")) {
      changed = false
      var depth = 0
      var inQuote = false
      var wraps = true
      var i = 0
      while (i < p.length - 1) {
        val ch = p.charAt(i)
        if (inQuote) { if (ch == '\\') i += 1 else if (ch == '\'') inQuote = false }
        else ch match {
          case '\'' => inQuote = true
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) wraps = false
          case _ =>
        }
        i += 1
      }
      if (wraps) { p = p.substring(1, p.length - 1).trim; changed = true }
    }
    p
  }

  private def evalWhere(w: String, schema: StructType, row: Row): Boolean =
    evalBool(w, schema, row)

  private def evalBool(p0: String, schema: StructType, row: Row): Boolean = {
    val p = stripOuter(p0)
    val ors = splitTop(p, " OR ")
    if (ors.length > 1) return ors.exists(evalBool(_, schema, row))
    val ands = splitTop(p, " AND ")
    if (ands.length > 1) return ands.forall(evalBool(_, schema, row))
    evalPred(p, schema, row)
  }

  /** SOQL LIKE with \-escaped wildcards → anchored regex match. */
  private def likeMatch(value: String, pattern: String): Boolean = {
    val rx = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '\\' if i + 1 < pattern.length =>
          rx.append(java.util.regex.Pattern.quote(pattern.charAt(i + 1).toString))
          i += 1
        case '%' => rx.append(".*")
        case '_' => rx.append(".")
        case c => rx.append(java.util.regex.Pattern.quote(c.toString))
      }
      i += 1
    }
    value.matches(rx.toString)
  }

  private def evalPred(p: String, schema: StructType, row: Row): Boolean = {
    def v(col: String): Any = row.get(schema.fieldIndex(col))
    def cmp(col: String, lit: String): Int = {
      val x = v(col)
      x match {
        case null => throw new NullPointerException
        case n: Long => java.lang.Long.compare(n, lit.toLong)
        case n: Int => java.lang.Integer.compare(n, lit.toInt)
        case n: Double => java.lang.Double.compare(n, lit.toDouble)
        case s: String => s.compareTo(lit.stripPrefix("'").stripSuffix("'"))
        // SOQL date/datetime literals are unquoted ISO — dates compare
        // lexicographically; instants via parse (offset-safe)
        case d: java.sql.Date => d.toString.compareTo(lit)
        case d: java.time.LocalDate => d.toString.compareTo(lit)
        case t: java.sql.Timestamp =>
          t.toInstant.compareTo(java.time.Instant.parse(lit))
        case t: java.time.Instant => t.compareTo(java.time.Instant.parse(lit))
        case other => throw new IllegalArgumentException(s"cmp $other")
      }
    }
    val In = """(\w+) IN \((.+)\)""".r
    val Like = """(\w+) LIKE '(.*)'""".r
    val Ne = """(\w+) != (.+)""".r
    val Ge = """(\w+) >= (.+)""".r
    val Le = """(\w+) <= (.+)""".r
    val Gt = """(\w+) > (.+)""".r
    val Lt = """(\w+) < (.+)""".r
    val Eq = """(\w+) = (.+)""".r
    val NotNull = """(\w+) != null""".r
    val IsNull = """(\w+) = null""".r
    try p match {
      case NotNull(c) => v(c) != null
      case IsNull(c) => v(c) == null
      case In(c, lits) =>
        val set = lits.split(",").map(_.trim.stripPrefix("'").stripSuffix("'")).toSet
        v(c) != null && set.contains(v(c).toString)
      case Like(c, pat) =>
        val s = Option(v(c)).map(_.toString).orNull
        s != null && likeMatch(s, pat)
      case Ne(c, l) => cmp(c, l) != 0
      case Ge(c, l) => cmp(c, l) >= 0
      case Le(c, l) => cmp(c, l) <= 0
      case Gt(c, l) => cmp(c, l) > 0
      case Lt(c, l) => cmp(c, l) < 0
      case Eq(c, l) => cmp(c, l) == 0
      case other => throw new IllegalArgumentException(s"unsupported predicate: $other")
    } catch { case _: NullPointerException => false }
  }

  override def insert(sObject: String, batch: Seq[Row], schema: StructType): Seq[String] =
    synchronized {
      require(batch.size <= 200,
        s"chunk contract violated: ${batch.size} rows in one call") // data_connector.py:23
      insertBatchSizes += batch.size
      val (tblSchema, existing) = tables(sObject)
      val withIds = batch.map { r =>
        // honor a caller-supplied non-null Id (update/replace semantics —
        // bulk_update keeps record identity, data_connector.py:281-291);
        // mint a fresh one otherwise (insert semantics)
        val provided = schema.fieldNames.indexOf("Id") match {
          case -1 => None
          case i => Option(r.get(i)).map(_.toString)
        }
        val id = provided.getOrElse {
          idSeq += 1
          f"ID$idSeq%012d"
        }
        val vals = tblSchema.fieldNames.map {
          case "Id" => id
          case f if schema.fieldNames.contains(f) => r.get(schema.fieldIndex(f))
          case _ => null
        }
        (id, Row.fromSeq(vals.toSeq))
      }
      tables.put(sObject, (tblSchema, existing ++ withIds.map(_._2)))
      withIds.map(_._1)
    }

  override def update(sObject: String, batch: Seq[Row], schema: StructType): (Int, Int) =
    synchronized {
      require(batch.size <= 200,
        s"chunk contract violated: ${batch.size} rows in one call") // data_connector.py:23
      statements += s"UPDATE $sObject (${batch.size} rows)"
      val (tblSchema, data) = tables(sObject)
      val idIdx = schema.fieldIndex("Id")
      val byId = batch.map(r => r.getString(idIdx) -> r).toMap
      var updated = 0
      val next = data.map { existing =>
        byId.get(existing.getString(tblSchema.fieldIndex("Id"))) match {
          case Some(upd) =>
            updated += 1
            Row.fromSeq(tblSchema.fieldNames.map { f =>
              if (f != "Id" && schema.fieldNames.contains(f)) upd.get(schema.fieldIndex(f))
              else existing.get(tblSchema.fieldIndex(f))
            }.toSeq)
          case None => existing
        }
      }
      tables.put(sObject, (tblSchema, next))
      (updated, batch.size - updated)
    }

  override def upsert(sObject: String, externalIdField: String, batch: Seq[Row],
      schema: StructType): (Int, Int) = synchronized {
    require(batch.size <= 200,
      s"chunk contract violated: ${batch.size} rows in one call")
    statements += s"UPSERT $sObject ON $externalIdField (${batch.size} rows)"
    val (tblSchema, data) = tables(sObject)
    val keyIdx = tblSchema.fieldIndex(externalIdField)
    val existingKeys = data.map(r => Option(r.get(keyIdx)).map(_.toString).orNull)
      .filter(_ != null).toSet
    val (toUpdate, toInsert) = batch.partition { r =>
      val k = r.get(schema.fieldIndex(externalIdField))
      k != null && existingKeys.contains(k.toString)
    }
    val bKey = schema.fieldIndex(externalIdField)
    val updatedData = tables(sObject)._2.map { existing =>
      val k = Option(existing.get(keyIdx)).map(_.toString).orNull
      toUpdate.find(r => Option(r.get(bKey)).map(_.toString).contains(k)) match {
        case Some(upd) =>
          Row.fromSeq(tblSchema.fieldNames.map { f =>
            if (f != "Id" && schema.fieldNames.contains(f)) upd.get(schema.fieldIndex(f))
            else existing.get(tblSchema.fieldIndex(f))
          }.toSeq)
        case None => existing
      }
    }
    tables.put(sObject, (tblSchema, updatedData))
    if (toInsert.nonEmpty) insert(sObject, toInsert, schema)
    (toInsert.size, toUpdate.size)
  }

  override def delete(sObject: String, ids: Seq[String]): Int = synchronized {
    val (schema, data) = tables(sObject)
    val idIdx = schema.fieldIndex("Id")
    val keep = data.filterNot(r => ids.contains(r.getString(idIdx)))
    tables.put(sObject, (schema, keep))
    data.size - keep.size
  }

  override def deleteWhere(sObject: String, predicates: Seq[String]): Int =
    synchronized {
      val where = if (predicates.isEmpty) "" else predicates.mkString("(", ") AND (", ")")
      statements += s"DELETE FROM $sObject${if (where.isEmpty) "" else s" WHERE $where"}"
      val (schema, data) = tables(sObject)
      val keep =
        if (predicates.isEmpty) Vector.empty
        else data.filterNot(r => evalWhere(where, schema, r))
      tables.put(sObject, (schema, keep))
      data.size - keep.size
    }

  override def pkChunkBoundaries(sObject: String, desiredChunks: Int): Seq[String] =
    synchronized {
      val (schema, data) = tables(sObject)
      if (desiredChunks <= 1 || data.size < desiredChunks) Nil
      else {
        val ids = data.map(_.getString(schema.fieldIndex("Id"))).sorted
        // evenly spaced internal boundaries; a real org's PK chunking
        // hands out ranges of fixed row width the same way
        (1 until desiredChunks)
          .map(i => ids((i.toLong * ids.size / desiredChunks).toInt - 1))
          .distinct
      }
    }
}

/** The connector SIMULATION's [[OrgRecipe]]: rebuild, in any JVM, the
  * exact [[InMemoryOrg]] state `connectorSimOrg` (Streams.scala) has
  * landed at plan time — read the customer dim straight from parquet
  * (no SparkSession on an executor: the bundled parquet-hadoop example
  * reader is used), order by custkey, split into the even/odd halves,
  * and insert the first `landed` rows in the sim's canonical
  * h1-then-h2 order. Because [[InMemoryOrg]] mints sequential Ids in
  * insert order, the rebuilt org's Ids are IDENTICAL to the driver
  * org's — the same determinism the w22 hard-kill test leans on to
  * resume a killed child's cursor in a fresh JVM. `landed` rides in
  * the case-class equality, so a micro-batch planned after more rows
  * landed ships a different recipe and the executor rebuilds. */
final case class CustomerHalvesOrgRecipe(customerPath: String,
    landed: Int) extends OrgRecipe {
  import org.apache.spark.sql.types.{StructField, StringType}

  override def build(): RemoteOrg = {
    val sch = StructType(Seq(
      StructField("Id", StringType), StructField("CKey__c", StringType),
      StructField("Name__c", StringType), StructField("NKey__c", StringType)))
    val org = new InMemoryOrg
    org.createTable("Customer__c", sch)
    val rows = readCustomers().sortBy(_._1)
    val (h1, h2) = rows.partition(_._1 % 2 == 0)
    (h1 ++ h2).take(landed).grouped(200).foreach { chunk =>
      org.insert("Customer__c", chunk.map { case (k, n, nk) =>
        Row(null, k.toString, n, nk.toString) }, sch)
    }
    org
  }

  /** (c_custkey, c_name, c_nationkey) from a single parquet file OR a
    * Spark-written table directory, via parquet-hadoop's example API —
    * the only parquet reader available without a SparkSession. */
  private def readCustomers(): Vector[(Long, String, Long)] = {
    import org.apache.hadoop.fs.{Path => HP}
    val conf = new org.apache.hadoop.conf.Configuration()
    val p = new HP(customerPath)
    val fs = p.getFileSystem(conf)
    val files: Seq[HP] =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq.filter(_.isFile).map(_.getPath)
          .filterNot(f =>
            f.getName.startsWith("_") || f.getName.startsWith("."))
      else Seq(p)
    files.flatMap { f =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), f)
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
        (longAt(g, "c_custkey"), g.getString("c_name", 0),
          longAt(g, "c_nationkey"))
      }.toVector
      finally reader.close()
    }.toVector
  }

  private def longAt(g: org.apache.parquet.example.data.Group,
      field: String): Long = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val idx = g.getType.getFieldIndex(field)
    g.getType.getType(idx).asPrimitiveType().getPrimitiveTypeName match {
      case INT64 => g.getLong(field, 0)
      case INT32 => g.getInteger(field, 0).toLong
      case _     => g.getValueToString(idx, 0).toLong
    }
  }
}

/** Rebuild recipe for the w30 MEDIA sim-org: the planted image corpus
  * is a pure function of the media id ([[graft.multimodal.Multimodal
  * .noisePng]] — the FIXTURE corpus' md5-noise payloads, originals at
  * the image ids, re-keyed duplicates
  * at id+1000000 carrying the ORIGINAL's payload), so an executor JVM
  * rebuilds the org bit-identically with no file or SparkSession
  * dependency at all. `Body__c` carries the payload as standard
  * base64, the Salesforce-faithful wire shape for binary fields
  * (Attachment.Body rides base64 in the Bulk/SOAP APIs). `landed`
  * rides in the case-class equality, so a micro-batch planned after
  * more rows landed ships a different recipe and the executor
  * rebuilds. */
final case class MediaOrgRecipe(landed: Int) extends OrgRecipe {
  override def build(): RemoteOrg = {
    val org = new InMemoryOrg
    org.createTable("Media__c", MediaOrgRecipe.schema)
    MediaOrgRecipe.rows.take(landed).grouped(200).foreach { chunk =>
      org.insert("Media__c", chunk, MediaOrgRecipe.schema)
    }
    org
  }
}

object MediaOrgRecipe {
  import org.apache.spark.sql.types.StructField

  val schema: StructType = StructType(Seq(
    StructField("Id", org.apache.spark.sql.types.StringType),
    StructField("MKey__c", org.apache.spark.sql.types.StringType),
    StructField("Body__c", org.apache.spark.sql.types.StringType)))

  /** The full planted corpus in the canonical landing order: originals
    * (image ids of the 240-doc fixture corpus: id % 3 == 0, ascending)
    * then the re-keyed duplicates. Deterministic and Spark-free —
    * and a lazy val, so the 160 PNG syntheses happen once per JVM,
    * not once per executor-side org rebuild (code-review finding). */
  lazy val rows: Vector[Row] = {
    val ids = (0L until 240L).filter(_ % 3 == 0)
    val planted = ids.map(id => (id, id)) ++
      ids.map(id => (id + 1000000L, id))
    planted.map { case (mid, src) =>
      Row(null, mid.toString, java.util.Base64.getEncoder.encodeToString(
        graft.multimodal.Multimodal.noisePng(src, 0)))
    }.toVector
  }
}
