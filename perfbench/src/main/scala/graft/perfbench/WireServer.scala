package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.sources.{HttpTransport, InMemoryOrg}

/** A Bulk API v1 server over an [[InMemoryOrg]], reached through the
  * [[HttpTransport]] seam that [[graft.sources.BulkApiOrg]] sends every
  * request through. It serves describe, and query, insert and update jobs
  * in both wire formats: JSON throughout, or CSV payloads with XML
  * job/batch envelopes. Query jobs honour the `Sforce-Enable-PKChunking`
  * header by splitting the query into Id-range batches.
  *
  * Every step `require`s protocol order (a batch on a closed job, a close
  * with no batch, a poll before close, a result before Completed), so a
  * client that skips or reorders steps fails the run instead of
  * speeding it up. A batch reports InProgress on its first poll and runs
  * on the next, which is when the org does the work.
  *
  * It counts requests by kind and bytes each way, and records `remote`
  * spans around its calls into the backing org; time in the org is
  * simulator time, not client or engine time. */
final class WireServer(inner: InMemoryOrg, val instanceUrl: String) extends HttpTransport {
  private val async = s"$instanceUrl/services/async/47.0"
  private val rest = s"$instanceUrl/services/data/v47.0"

  val requests = new ConcurrentHashMap[String, LongAdder]()
  /** Bytes of request bodies received and of response bodies sent. */
  val bytesReceived = new LongAdder
  val bytesSent = new LongAdder
  val soqlStatements = new LongAdder
  val soqlChars = new LongAdder
  val rowsScanned = new LongAdder
  val rowsReturned = new LongAdder
  private val ids = new AtomicLong

  def requestCount(kind: String): Long =
    Option(requests.get(kind)).map(_.sum).getOrElse(0L)
  def totalRequests: Long = WireServer.Kinds.map(requestCount).sum

  private final class Batch(val id: String, val payload: String,
      val rangePredicates: Seq[String]) {
    var state = "Queued"
    var polls = 0
    /** result id -> body, for queries; the per-record result, for writes */
    var results: Seq[(String, String)] = Nil
  }

  private final class Job(val id: String, val operation: String, val obj: String,
      val csv: Boolean, val chunkSize: Option[Int]) {
    var closed = false
    val batches = ArrayBuffer.empty[Batch]
    var listed = 0
    def batch(bid: String): Batch =
      batches.find(_.id == bid).getOrElse(throw new IllegalArgumentException(
        s"unknown batch $bid in job $id"))
  }

  private val jobs = new ConcurrentHashMap[String, Job]()

  override def postForm(url: String, params: Map[String, String]): (Int, String) =
    throw new UnsupportedOperationException("the wire server takes no logins")

  override def send(method: String, url: String, headers: Map[String, String],
      body: String): (Int, String) = {
    require(headers.get("X-SFDC-Session").exists(_.nonEmpty), s"missing session header on $url")
    bytesReceived.add(body.length.toLong)
    val (kind, resp) = route(method, url, headers, body)
    requests.computeIfAbsent(kind, _ => new LongAdder).increment()
    bytesSent.add(resp._2.length.toLong)
    resp
  }

  private def jobOf(u: String): Job = {
    val id = u.stripPrefix(s"$async/job/").takeWhile(_ != '/')
    Option(jobs.get(id)).getOrElse(throw new IllegalArgumentException(s"unknown job '$id' in $u"))
  }

  private def route(method: String, url: String, headers: Map[String, String],
      body: String): (String, (Int, String)) = (method, url) match {
    case ("GET", u) if u.startsWith(s"$rest/sobjects/") && u.endsWith("/describe") =>
      "describe" -> describe(u.stripPrefix(s"$rest/sobjects/").stripSuffix("/describe"))
    case ("POST", u) if u == s"$async/job" => "create" -> createJob(headers, body)
    case ("POST", u) if u.startsWith(s"$async/job/") && u.endsWith("/batch") =>
      "batch" -> addBatch(jobOf(u), headers, body)
    case ("POST", u) if u.startsWith(s"$async/job/") && !u.contains("/batch") =>
      "close" -> closeJob(jobOf(u), body)
    case ("GET", u) if u.startsWith(s"$async/job/") && u.endsWith("/batch") =>
      "poll" -> listBatches(jobOf(u))
    case ("GET", u) if u.contains("/result/") =>
      val job = jobOf(u)
      val Array(head, rid) = u.split("/result/", 2)
      "result" -> fetchResult(job, job.synchronized(job.batch(head.split("/batch/")(1))), rid)
    case ("GET", u) if u.endsWith("/result") =>
      val job = jobOf(u)
      "result" -> listResults(job, job.synchronized(
        job.batch(u.stripSuffix("/result").split("/batch/")(1))))
    case ("GET", u) if u.contains("/batch/") =>
      val job = jobOf(u)
      "poll" -> pollBatch(job, u.split("/batch/")(1))
    case other => throw new IllegalArgumentException(s"unexpected request $other")
  }

  // ---- describe ------------------------------------------------------------

  private def describe(obj: String): (Int, String) = {
    val fields = inner.describe(obj).fields.map { f =>
      val tpe = f.dataType match {
        case _ if f.name == "Id" => "id"
        case LongType | IntegerType => "int"
        case DoubleType => "double"
        case BooleanType => "boolean"
        case DateType => "date"
        case TimestampType => "datetime"
        case _ => "string"
      }
      JObject("name" -> JString(f.name), "type" -> JString(tpe))
    }
    (200, compact(JObject("fields" -> JArray(fields.toList))))
  }

  // ---- job lifecycle ---------------------------------------------------------

  private def xmlField(xml: String, tag: String): Option[String] =
    s"(?s)<$tag>(.*?)</$tag>".r.findFirstMatchIn(xml).map(_.group(1).trim)

  private def jobInfo(job: Job, state: String): String =
    if (job.csv) s"""<?xml version="1.0" encoding="UTF-8"?><jobInfo xmlns="http://www.force.com/2009/06/asyncapi/dataload"><id>${job.id}</id><operation>${job.operation}</operation><object>${job.obj}</object><state>$state</state><contentType>CSV</contentType></jobInfo>"""
    else compact(JObject("id" -> JString(job.id), "operation" -> JString(job.operation),
      "object" -> JString(job.obj), "state" -> JString(state), "contentType" -> JString("JSON")))

  private def createJob(headers: Map[String, String], body: String): (Int, String) = {
    val ct = headers.getOrElse("Content-Type", "")
    val (operation, obj, csv) =
      if (ct == "application/xml") {
        require(xmlField(body, "contentType").contains("CSV"), s"XML job must ask for CSV: $body")
        (xmlField(body, "operation").getOrElse(""), xmlField(body, "object").getOrElse(""), true)
      } else {
        require(ct == "application/json", s"job create with content type '$ct'")
        val j = JsonMethods.parse(body)
        require((j \ "contentType") == JString("JSON"), s"JSON job must ask for JSON: $body")
        ((j \ "operation").values.toString, (j \ "object").values.toString, false)
      }
    require(Set("query", "insert", "update").contains(operation), s"unsupported operation $operation")
    inner.describe(obj) // unknown objects fail here, as the org would
    val chunk = headers.get("Sforce-Enable-PKChunking").map { v =>
      require(operation == "query", "PK chunking applies to query jobs only")
      v.stripPrefix("chunkSize=").toInt
    }
    val job = new Job(s"750J${ids.incrementAndGet()}", operation, obj, csv, chunk)
    jobs.put(job.id, job)
    (201, jobInfo(job, "Open"))
  }

  private def addBatch(job: Job, headers: Map[String, String], body: String): (Int, String) =
    job.synchronized {
      require(!job.closed, s"batch added to closed job ${job.id}")
      require(job.batches.isEmpty, s"second batch on job ${job.id}")
      val ct = headers.getOrElse("Content-Type", "")
      require(ct == (if (job.csv) "text/csv" else "application/json"),
        s"batch content type '$ct' does not match job ${job.id}")
      val b = new Batch(s"751B${ids.incrementAndGet()}", body, Nil)
      if (job.operation == "query") require(body.startsWith("SELECT "), s"query batch is not SOQL: $body")
      job.batches += b
      (201, batchInfo(job, b))
    }

  private def closeJob(job: Job, body: String): (Int, String) = job.synchronized {
    require(job.batches.nonEmpty, s"close before any batch: ${job.id}")
    require(!job.closed, s"job ${job.id} closed twice")
    require(body.contains("Closed"), s"close request without Closed state: $body")
    job.closed = true
    (200, jobInfo(job, "Closed"))
  }

  private def batchInfo(job: Job, b: Batch): String =
    if (job.csv) s"<batchInfo><id>${b.id}</id><jobId>${job.id}</jobId><state>${b.state}</state></batchInfo>"
    else compact(JObject("id" -> JString(b.id), "jobId" -> JString(job.id),
      "state" -> JString(b.state)))

  private def pollBatch(job: Job, bid: String): (Int, String) = job.synchronized {
    require(job.closed, s"poll before close: ${job.id}")
    val b = job.batch(bid)
    require(job.chunkSize.isEmpty, s"PK-chunked job ${job.id} is polled by listing its batches")
    advance(job, b)
    (200, batchInfo(job, b))
  }

  /** Queued/InProgress on the first poll, run and Completed on the next. */
  private def advance(job: Job, b: Batch): Unit = {
    b.polls += 1
    if (b.state != "Completed" && b.state != "Not Processed") {
      if (b.polls == 1) b.state = "InProgress"
      else { run(job, b); b.state = "Completed" }
    }
  }

  private def listBatches(job: Job): (Int, String) = job.synchronized {
    require(job.closed, s"batch list before close: ${job.id}")
    job.listed += 1
    if (job.chunkSize.isDefined && job.listed == 1) split(job)
    job.batches.foreach(b => if (b.rangePredicates.nonEmpty || job.chunkSize.isEmpty) advance(job, b))
    val infos = job.batches.toList
    val bodyText =
      if (job.csv) infos.map(b => batchInfo(job, b)).mkString("<batchInfoList>", "", "</batchInfoList>")
      else compact(JObject("batchInfo" -> JArray(infos.map(b => JsonMethods.parse(batchInfo(job, b))))))
    (200, bodyText)
  }

  /** PK chunking: the seed batch becomes Not Processed and one batch per
    * Id range of `chunkSize` records takes its place. */
  private def split(job: Job): Unit = {
    val seed = job.batches.head
    val n = inner.rowCount(job.obj)
    val chunks = math.max(1, math.ceil(n.toDouble / job.chunkSize.get).toInt)
    val bounds = inner.pkChunkBoundaries(job.obj, chunks)
    val ranges = (None +: bounds.map(Some(_))).zip(bounds.map(Some(_)) :+ None).map { case (lo, hi) =>
      lo.map(b => s"Id > '$b'").toSeq ++ hi.map(b => s"Id <= '$b'").toSeq
    }
    seed.state = "Not Processed"
    ranges.foreach { r =>
      job.batches += new Batch(s"751B${ids.incrementAndGet()}", seed.payload,
        if (r.isEmpty) Seq("Id != null") else r)
    }
  }

  private def listResults(job: Job, b: Batch): (Int, String) = job.synchronized {
    require(b.state == "Completed", s"results listed before Completed: ${job.id}/${b.id}")
    if (job.operation == "query") {
      val rids = b.results.map(_._1)
      (200, if (job.csv) rids.map(r => s"<result>$r</result>").mkString("<result-list>", "", "</result-list>")
        else compact(JArray(rids.map(JString(_)).toList)))
    } else (200, b.results.head._2)
  }

  private def fetchResult(job: Job, b: Batch, rid: String): (Int, String) = job.synchronized {
    require(job.operation == "query", s"result fetch on ${job.operation} job ${job.id}")
    require(b.state == "Completed", s"result fetched before Completed: ${job.id}/${b.id}")
    (200, b.results.find(_._1 == rid).map(_._2).getOrElse(
      throw new IllegalArgumentException(s"unknown result $rid")))
  }

  // ---- the work ------------------------------------------------------------

  private def run(job: Job, b: Batch): Unit =
    if (job.operation == "query") b.results = Seq("752R1" -> query(job, b))
    else b.results = Seq("" -> write(job, b))

  /** Adds the batch's Id-range predicates to the SOQL's WHERE. */
  private[perfbench] def withRange(soql: String, preds: Seq[String]): String =
    if (preds.isEmpty) soql
    else {
      val fromIdx = soql.indexOf(" FROM ")
      val objEnd = soql.indexOf(' ', fromIdx + 6) match { case -1 => soql.length; case i => i }
      val head = soql.substring(0, objEnd)
      val rest = soql.substring(objEnd)
      val tailAt = Seq(" GROUP BY ", " ORDER BY ", " LIMIT ").map(rest.indexOf).filter(_ >= 0)
        .foldLeft(rest.length)(math.min)
      val (where, tail) = rest.splitAt(tailAt)
      val conds = where.stripPrefix(" WHERE ").trim match {
        case "" => preds
        case w => w +: preds
      }
      head + conds.map(c => s"($c)").mkString(" WHERE ", " AND ", "") + tail
    }

  private def query(job: Job, b: Batch): String = {
    val soql = withRange(b.payload, b.rangePredicates)
    soqlStatements.increment()
    soqlChars.add(b.payload.length.toLong)
    val sel = soql.stripPrefix("SELECT ")
    val items = sel.substring(0, sel.indexOf(" FROM ")).split(",").map(_.trim).toSeq
    val rows = Trace.span(Trace.Remote, "query") {
      rowsScanned.add(inner.rowCount(job.obj).toLong)
      inner.query(soql).toVector
    }
    rowsReturned.add(rows.size.toLong)
    if (job.csv) {
      val sb = new java.lang.StringBuilder
      sb.append(items.map(WireServer.csvQuote).mkString(","))
      rows.foreach { r =>
        sb.append('\n')
        var i = 0
        while (i < items.size) {
          if (i > 0) sb.append(',')
          if (!r.isNullAt(i)) sb.append(WireServer.csvQuote(WireServer.text(r.get(i))))
          i += 1
        }
      }
      sb.toString
    } else compact(JArray(rows.map { r =>
      JObject(items.indices.map(i => items(i) -> WireServer.json(r.get(i))).toList)
    }.toList))
  }

  private def write(job: Job, b: Batch): String = {
    val described = inner.describe(job.obj)
    val (names, values) =
      if (job.csv) {
        val lines = WireServer.parseCsv(b.payload)
        require(lines.nonEmpty, s"empty CSV batch on ${job.id}")
        (lines.head, lines.tail.map(_.map(s => if (s.isEmpty) None else Some(s))))
      } else {
        val recs = JsonMethods.parse(b.payload) match {
          case JArray(rs) => rs
          case other => throw new IllegalArgumentException(s"JSON batch is not an array: $other")
        }
        val ns = recs.flatMap { case JObject(fs) => fs.map(_._1); case _ => Nil }.distinct
        (ns, recs.map(r => ns.map(n => r \ n match {
          case JNothing | JNull => None
          case JString(s) => Some(s)
          case v => Some(v.values.toString)
        })))
      }
    require(values.size <= 200, s"${values.size} records in one batch")
    val fields = names.map(n => described(n))
    def rowsOf(vs: Seq[Seq[Option[String]]], keep: Seq[Int]): Seq[Row] =
      vs.map(v => Row.fromSeq(keep.map(i => v(i).map(WireServer.parse(_, fields(i).dataType)).orNull)))
    val outcomes: Seq[(String, Boolean, String)] = job.operation match {
      case "insert" =>
        val all = fields.indices
        Trace.span(Trace.Remote, "write")(inner.insert(job.obj, rowsOf(values, all), StructType(fields)))
          .map(id => (id, true, ""))
      case "update" =>
        // Bulk semantics: an empty CSV field or a field missing from a
        // JSON record leaves the stored value unchanged, so records are
        // applied grouped by the fields they actually carry
        val idAt = names.indexOf("Id")
        require(idAt >= 0, s"update batch without Id on ${job.id}")
        val failedIds = values.groupBy(v => v.indices.filter(v(_).isDefined)).toSeq.flatMap {
          case (present, group) =>
            val rows = rowsOf(group, present)
            val (_, failed) = Trace.span(Trace.Remote, "write")(
              inner.update(job.obj, rows, StructType(present.map(fields))))
            if (failed == 0) Nil
            else {
              val asked = group.map(_(idAt).get)
              val found = inner.query(s"SELECT Id FROM ${job.obj} WHERE Id IN (${asked.map(i => s"'$i'").mkString(", ")})")
                .map(_.getString(0)).toSet
              asked.filterNot(found)
            }
        }.toSet
        values.map { v =>
          val id = v(idAt).get
          if (failedIds(id)) (id, false, "ENTITY_IS_DELETED:entity is deleted") else (id, true, "")
        }
    }
    val created = job.operation == "insert"
    if (job.csv)
      (Seq("\"Id\",\"Success\",\"Created\",\"Error\"") ++ outcomes.map { case (id, ok, err) =>
        Seq(id, ok.toString, (ok && created).toString, err).map(WireServer.csvQuote).mkString(",")
      }).mkString("\n")
    else compact(JArray(outcomes.map { case (id, ok, err) =>
      JObject("id" -> JString(id), "success" -> JBool(ok), "created" -> JBool(ok && created),
        "errors" -> JArray(if (err.isEmpty) Nil else List(JString(err))))
    }.toList))
  }

  private def compact(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))
}

object WireServer {
  val Kinds: Seq[String] = Seq("describe", "create", "batch", "close", "poll", "result")

  def csvQuote(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  def text(v: Any): String = v match {
    case t: java.sql.Timestamp => t.toInstant.toString
    case other => other.toString
  }

  def json(v: Any): JValue = v match {
    case null => JNull
    case s: String => JString(s)
    case n: Long => JLong(n)
    case n: Int => JLong(n.toLong)
    case d: Double => JDouble(d)
    case b: Boolean => JBool(b)
    case other => JString(text(other))
  }

  def parse(s: String, dt: DataType): Any = dt match {
    case LongType => s.toLong
    case IntegerType => s.toInt
    case DoubleType => s.toDouble
    case BooleanType => s.toBoolean
    case DateType => java.sql.Date.valueOf(s)
    case TimestampType => java.sql.Timestamp.from(java.time.Instant.parse(s))
    case _ => s
  }

  /** RFC-4180 CSV: quoted fields with doubled quotes; newlines inside
    * quotes stay in the field. */
  def parseCsv(text: String): Seq[Seq[String]] = {
    val out = ArrayBuffer.empty[Seq[String]]
    val row = ArrayBuffer.empty[String]
    val field = new StringBuilder
    var inQuote = false
    var i = 0
    def endField(): Unit = { row += field.toString; field.clear() }
    def endRow(): Unit = { endField(); out += row.toVector; row.clear() }
    while (i < text.length) {
      val c = text.charAt(i)
      if (inQuote) {
        if (c == '"') {
          if (i + 1 < text.length && text.charAt(i + 1) == '"') { field += '"'; i += 1 }
          else inQuote = false
        } else field += c
      } else c match {
        case '"' => inQuote = true
        case ',' => endField()
        case '\r' =>
        case '\n' => endRow()
        case other => field += other
      }
      i += 1
    }
    if (field.nonEmpty || row.nonEmpty) endRow()
    out.toSeq
  }
}
