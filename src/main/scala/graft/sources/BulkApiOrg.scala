package graft.sources

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** [[RemoteOrg]] over the public Bulk REST job lifecycle — the
  * HTTP-shaped production implementation the connector stack binds to
  * (the in-memory org is the test sim). Every verb follows the
  * reference's connector flow (data_connector.py:246-368):
  *
  *   create job → add batch → close job → poll until Completed →
  *   stream result
  *
  * with JSON content type throughout. `describe` uses the REST
  * `/sobjects/{name}/describe` surface and drives result-type coercion,
  * so CSV/JSON wire values land as the schema's JVM types.
  *
  * Entirely offline-testable: HTTP is injected behind
  * [[HttpTransport.send]], polling sleeps through an injectable
  * `sleeper`, and session expiry (401 / INVALID_SESSION_ID) surfaces as
  * [[SessionExpiredException]] so [[AuthRetryOrg]] + [[TokenProvider]]
  * give the fetch-cache-invalidate-replay-once policy
  * (data_connector.py:240-252).
  *
  * Content type: `JSON` (default) or `CSV` — CSV is the reference's
  * actual wire format (`contentType='CSV'`, data_connector.py:248,273).
  * CSV jobs speak the Bulk v1 XML envelopes for job/batch metadata and
  * raw CSV for payloads/results; JSON jobs speak JSON throughout. Both
  * modes land on identical [[Row]]s (described types, "" = null).
  *
  * PK chunking: `pkChunkSize` adds the `Sforce-Enable-PKChunking`
  * header to query jobs; the org then splits the query into per-Id-range
  * batches which are polled as a set and streamed back-to-back — the
  * server-side sibling of the connector's [[RemoteOrg.pkChunkBoundaries]]
  * client-side range scan.
  */
final class BulkApiOrg(
    token: AuthToken,
    http: HttpTransport,
    apiVersion: String = "47.0",
    maxPolls: Int = 60,
    pollDelayMs: Long = 1000L,
    maxPollDelayMs: Long = 30000L,
    sleeper: Long => Unit = Thread.sleep,
    contentType: String = "JSON",
    pkChunkSize: Option[Int] = None,
    transportFactory: Option[TransportFactory] = None) extends RemoteOrg {

  require(contentType == "JSON" || contentType == "CSV",
    s"contentType must be JSON|CSV, got $contentType")

  /** The executor-rebuild recipe ([[RemoteOrg.recipe]]): available
    * exactly when the org was constructed with a [[TransportFactory]]
    * (the injected `http` alone cannot be assumed serializable).
    * Carries the plan-time session token — an executor-side session
    * expiry fails the task loudly; the next planned batch re-captures
    * a fresh token through the driver's [[AuthRetryOrg]] policy. */
  override def recipe: Option[OrgRecipe] = transportFactory.map(tf =>
    BulkApiOrgRecipe(token, tf, apiVersion, maxPolls, pollDelayMs,
      maxPollDelayMs, contentType, pkChunkSize))

  override def close(): Unit = http.close()

  /** Poll delay for attempt `i` (0-based): capped exponential backoff —
    * pollDelayMs * 2^i up to maxPollDelayMs. The reference polls on a
    * fixed interval (data_connector.py:313-325); backoff keeps long
    * async jobs from hammering the API while staying responsive for
    * fast ones. */
  private def pollDelay(attempt: Int): Long = {
    val factor = 1L << math.min(attempt, 20)
    math.min(pollDelayMs * factor, maxPollDelayMs)
  }
  private val csvMode = contentType == "CSV"

  private val asyncBase = s"${token.instanceUrl}/services/async/$apiVersion"
  private val restBase = s"${token.instanceUrl}/services/data/v$apiVersion"

  private def headers(contentType: Option[String],
      extra: Map[String, String] = Map.empty): Map[String, String] =
    Map("X-SFDC-Session" -> token.accessToken) ++
      contentType.map("Content-Type" -> _) ++ extra

  /** One request with session-expiry detection: the retry policy itself
    * lives in [[AuthRetryOrg]], which replays the whole org call. */
  private def requestRaw(method: String, url: String, body: String = "",
      contentType: Option[String] = Some("application/json"),
      extraHeaders: Map[String, String] = Map.empty): String = {
    val (status, respBody) =
      http.send(method, url, headers(contentType, extraHeaders), body)
    if (status == 401 || respBody.contains("INVALID_SESSION_ID"))
      throw new SessionExpiredException(s"$method $url -> $status")
    if (status / 100 != 2)
      throw new RuntimeException(s"$method $url -> $status: $respBody")
    respBody
  }

  private def request(method: String, url: String, body: String = "",
      contentType: Option[String] = Some("application/json"),
      extraHeaders: Map[String, String] = Map.empty): JValue = {
    val respBody = requestRaw(method, url, body, contentType, extraHeaders)
    if (respBody.isBlank) JNothing else JsonMethods.parse(respBody)
  }

  // ---- Bulk v1 XML envelopes (CSV mode) -----------------------------------

  private def xmlField(xml: String, tag: String): Option[String] =
    s"(?s)<$tag>(.*?)</$tag>".r.findFirstMatchIn(xml).map(_.group(1).trim)

  private def xmlBlocks(xml: String, tag: String): List[String] =
    s"(?s)<$tag>(.*?)</$tag>".r.findAllMatchIn(xml).map(_.group(1)).toList

  private def jobInfoXml(fields: Seq[(String, String)]): String =
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
      "<jobInfo xmlns=\"http://www.force.com/2009/06/asyncapi/dataload\">" +
      fields.map { case (k, v) => s"<$k>$v</$k>" }.mkString +
      "</jobInfo>"

  private def str(j: JValue): String = j match {
    case JString(s) => s
    case other => throw new RuntimeException(s"expected string, got $other")
  }

  // ---- job lifecycle ------------------------------------------------------

  private def createJob(operation: String, sObject: String,
      externalIdField: Option[String] = None,
      extraHeaders: Map[String, String] = Map.empty): String =
    if (csvMode) {
      val fields = Seq("operation" -> operation, "object" -> sObject) ++
        externalIdField.map("externalIdFieldName" -> _) ++
        Seq("contentType" -> "CSV")
      xmlField(requestRaw("POST", s"$asyncBase/job", jobInfoXml(fields),
        Some("application/xml"), extraHeaders), "id")
        .getOrElse(throw new RuntimeException("no job id in XML response"))
    } else {
      val fields: List[(String, JValue)] = List(
        "operation" -> JString(operation),
        "object" -> JString(sObject),
        "contentType" -> JString("JSON")) ++
        externalIdField.map(f => "externalIdFieldName" -> JString(f))
      str(request("POST", s"$asyncBase/job",
        JsonMethods.compact(JsonMethods.render(JObject(fields))),
        extraHeaders = extraHeaders) \ "id")
    }

  private def addBatch(jobId: String, body: String): String =
    if (csvMode)
      xmlField(requestRaw("POST", s"$asyncBase/job/$jobId/batch", body,
        Some("text/csv")), "id")
        .getOrElse(throw new RuntimeException("no batch id in XML response"))
    else str(request("POST", s"$asyncBase/job/$jobId/batch", body) \ "id")

  private def closeJob(jobId: String): Unit =
    if (csvMode)
      requestRaw("POST", s"$asyncBase/job/$jobId",
        jobInfoXml(Seq("state" -> "Closed")), Some("application/xml"))
    else request("POST", s"$asyncBase/job/$jobId", """{"state": "Closed"}""")

  private def batchState(jobId: String, batchId: String): String =
    if (csvMode)
      xmlField(requestRaw("GET", s"$asyncBase/job/$jobId/batch/$batchId",
        contentType = None), "state")
        .getOrElse(throw new RuntimeException("no state in XML batchInfo"))
    else str(request("GET", s"$asyncBase/job/$jobId/batch/$batchId") \ "state")

  /** Polls the batch until Completed; Failed / Not Processed and poll
    * exhaustion are errors (the reference loops on check_batch_status,
    * data_connector.py:342-349). */
  private def awaitBatch(jobId: String, batchId: String): Unit = {
    var polls = 0
    while (polls < maxPolls) {
      batchState(jobId, batchId) match {
        case "Completed" => return
        case "Failed" | "Not Processed" | "NotProcessed" =>
          throw new RuntimeException(s"batch $batchId ended in state Failed/Not Processed")
        case _ => // Queued | InProgress
          polls += 1
          if (polls < maxPolls) sleeper(pollDelay(polls - 1))
      }
    }
    throw new RuntimeException(s"batch $batchId not Completed after $maxPolls polls")
  }

  /** (batchId, state) for every batch of the job — the PK-chunking poll
    * surface: chunked query jobs spawn one batch per Id range. */
  private def listBatches(jobId: String): Seq[(String, String)] =
    if (csvMode)
      xmlBlocks(requestRaw("GET", s"$asyncBase/job/$jobId/batch",
        contentType = None), "batchInfo").map { b =>
        (xmlField(b, "id").getOrElse(""), xmlField(b, "state").getOrElse(""))
      }
    else request("GET", s"$asyncBase/job/$jobId/batch") \ "batchInfo" match {
      case JArray(bs) => bs.map(b => (str(b \ "id"), str(b \ "state")))
      case other => throw new RuntimeException(s"bad batch list: $other")
    }

  /** Waits for a PK-chunked job: the seed batch flips to Not Processed
    * once the org has split it; every spawned range batch must reach
    * Completed. Returns the completed batch ids in listing order. */
  private def awaitChunkedBatches(jobId: String): Seq[String] = {
    var polls = 0
    while (polls < maxPolls) {
      val infos = listBatches(jobId)
      infos.find(_._2 == "Failed").foreach { case (id, _) =>
        throw new RuntimeException(s"chunked batch $id ended in state Failed")
      }
      val pending = infos.isEmpty ||
        infos.exists(i => i._2 == "Queued" || i._2 == "InProgress")
      if (!pending) return infos.filter(_._2 == "Completed").map(_._1)
      polls += 1
      if (polls < maxPolls) sleeper(pollDelay(polls - 1))
    }
    throw new RuntimeException(s"chunked job $jobId not Completed after $maxPolls polls")
  }

  private def batchResultIds(jobId: String, batchId: String): List[String] =
    if (csvMode)
      xmlBlocks(requestRaw("GET",
        s"$asyncBase/job/$jobId/batch/$batchId/result", contentType = None),
        "result").map(_.trim)
    else request("GET", s"$asyncBase/job/$jobId/batch/$batchId/result") match {
      case JArray(ids) => ids.map(str)
      case other => throw new RuntimeException(s"bad result list: $other")
    }

  /** create → batch → close → poll → result for one payload. */
  private def runJob(operation: String, sObject: String, payload: String,
      externalIdField: Option[String] = None): (String, String) = {
    val jobId = createJob(operation, sObject, externalIdField)
    val batchId = addBatch(jobId, payload)
    closeJob(jobId)
    awaitBatch(jobId, batchId)
    (jobId, batchId)
  }

  // ---- schema / coercion --------------------------------------------------

  private val describeCache =
    scala.collection.concurrent.TrieMap.empty[String, StructType]

  override def describe(sObject: String): StructType =
    describeCache.getOrElseUpdate(sObject, {
      val fields = request("GET", s"$restBase/sobjects/$sObject/describe",
        contentType = None) \ "fields" match {
        case JArray(fs) => fs.map { f =>
          StructField(str(f \ "name"), Soql.fieldType(str(f \ "type")))
        }
        case other => throw new RuntimeException(s"bad describe response: $other")
      }
      StructType(fields)
    })

  private def coerce(j: JValue, dt: DataType): Any = (j, dt) match {
    case (JNull | JNothing, _) => null
    case (JInt(v), LongType) => v.toLong
    case (JLong(v), LongType) => v
    case (JString(v), LongType) => v.toLong
    case (JInt(v), DoubleType) => v.toDouble
    case (JLong(v), DoubleType) => v.toDouble
    case (JDouble(v), DoubleType) => v
    case (JDecimal(v), DoubleType) => v.toDouble
    case (JString(v), DoubleType) => v.toDouble
    case (JBool(v), BooleanType) => v
    case (JString(v), BooleanType) => v.toBoolean
    case (JString(v), DateType) => java.sql.Date.valueOf(v)
    case (JString(v), TimestampType) =>
      java.sql.Timestamp.from(java.time.Instant.parse(v))
    case (JString(v), _) => v
    case (JInt(v), _) => v.toLong
    case (JLong(v), _) => v
    case (JDouble(v), _) => v
    case (JBool(v), _) => v
    case (other, _) => throw new RuntimeException(s"cannot coerce $other to $dt")
  }

  /** RFC-4180-style CSV over the whole payload: quoted fields, doubled
    * quotes, embedded commas/newlines preserved — Bulk CSV results can
    * carry multi-line text fields, so splitting on lines is not enough. */
  private[sources] def parseCsv(text: String): Seq[Seq[String]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val row = scala.collection.mutable.ArrayBuffer.empty[String]
    val field = new StringBuilder
    var inQuote = false
    var i = 0
    def endField(): Unit = { row += field.toString; field.clear() }
    def endRow(): Unit = { endField(); out += row.toVector; row.clear() }
    while (i < text.length) {
      val c = text.charAt(i)
      if (inQuote) {
        if (c == '"') {
          if (i + 1 < text.length && text.charAt(i + 1) == '"') {
            field += '"'; i += 1
          } else inQuote = false
        } else field += c
      } else c match {
        case '"' => inQuote = true
        case ',' => endField()
        case '\r' => // normalized away; '\n' terminates the row
        case '\n' => endRow()
        case other => field += other
      }
      i += 1
    }
    if (field.nonEmpty || row.nonEmpty) endRow()
    out.toSeq
  }

  private def csvQuote(s: String): String =
    "\"" + s.replace("\"", "\"\"") + "\""

  /** Mutation payload as Bulk CSV (header + quoted rows; null → empty —
    * the wire the reference writes through CsvDictsAdapter,
    * data_connector.py:272-279). */
  private def toCsv(rows: Seq[Row], schema: StructType): String = {
    val header = schema.fieldNames.map(csvQuote).mkString(",")
    val lines = rows.map { r =>
      schema.fields.indices.map { i =>
        if (r.isNullAt(i)) ""
        else csvQuote(r.get(i) match {
          case t: java.sql.Timestamp => t.toInstant.toString
          case other => other.toString
        })
      }.mkString(",")
    }
    (header +: lines).mkString("\n")
  }

  private def toJson(rows: Seq[Row], schema: StructType): String = {
    val recs = rows.map { r =>
      JObject(schema.fields.zipWithIndex.collect {
        case (f, i) if !r.isNullAt(i) =>
          f.name -> (r.get(i) match {
            case s: String => JString(s)
            case n: Long => JLong(n)
            case n: Int => JLong(n.toLong)
            case n: Double => JDouble(n)
            case b: Boolean => JBool(b)
            case d: java.sql.Date => JString(d.toString)
            case t: java.sql.Timestamp => JString(t.toInstant.toString)
            case other => JString(other.toString)
          })
      }.toList)
    }
    JsonMethods.compact(JsonMethods.render(JArray(recs.toList)))
  }

  // ---- RemoteOrg ----------------------------------------------------------

  /** Bulk query: the batch payload is the SOQL string; results arrive as
    * one or more result ids, each streaming a JSON record array
    * (data_connector.py:246-268). Values coerce to the described field
    * types; non-column select items (pushed aggregates) fall back to the
    * JSON value's own type. */
  override def query(soql: String): Iterator[Row] = {
    val (obj, items) = Soql.selectFrom(soql)
    val schema = describe(obj)
    val fieldType: Map[String, DataType] =
      schema.fields.map(f => f.name -> f.dataType).toMap
    val chunkHeader = pkChunkSize
      .map(n => "Sforce-Enable-PKChunking" -> s"chunkSize=$n").toMap
    val jobId = createJob("query", obj, extraHeaders = chunkHeader)
    val seedBatch = addBatch(jobId, soql)
    closeJob(jobId)
    val batches =
      if (pkChunkSize.isEmpty) { awaitBatch(jobId, seedBatch); Seq(seedBatch) }
      else awaitChunkedBatches(jobId)
    batches.iterator.flatMap { batchId =>
      batchResultIds(jobId, batchId).iterator.flatMap { rid =>
        val url = s"$asyncBase/job/$jobId/batch/$batchId/result/$rid"
        if (csvMode) {
          // CSV flattens relationship paths into dotted headers, so one
          // name→position map serves plain and dotted items alike
          val rows = parseCsv(requestRaw("GET", url, contentType = None))
          if (rows.isEmpty) Iterator.empty
          else {
            val pos = rows.head.zipWithIndex.toMap
            val idx = items.map(item => pos.getOrElse(item,
              throw new RuntimeException(s"result CSV lacks column $item")))
            rows.tail.iterator.map { r =>
              Row.fromSeq(items.zip(idx).map { case (item, i) =>
                // empty means null: Salesforce CSV has no way to carry
                // an empty non-null string
                val v = r(i)
                if (v.isEmpty) null
                else Soql.coerceText(v, fieldType.getOrElse(item, StringType))
              })
            }
          }
        } else request("GET", url) match {
          case JArray(recs) => recs.iterator.map { rec =>
            Row.fromSeq(items.map { item =>
              // relationship-path items (Parent.Name) arrive as nested
              // objects in Bulk JSON — traverse each dotted segment; a null
              // parent short-circuits to JNull (left-join semantics)
              val v = item.split("\\.").foldLeft(rec: JValue)(_ \ _)
              fieldType.get(item) match {
                case Some(dt) => coerce(v, dt)
                case None => coerce(v, NullType) // aggregate/expression/dotted item
              }
            })
          }
          case other => throw new RuntimeException(s"bad result payload: $other")
        }
      }
    }
  }

  /** Shared mutation path: run the job, return per-record results. A
    * payload over the Bulk v1 batch cap runs as one job per
    * [[BulkApiOrg.MaxBatchRecords]]-record slice, results concatenated
    * in row order. CSV results (`"Id","Success","Created","Error"`
    * lines) normalize into the same JSON shape the JSON wire returns, so
    * the verbs upstream are mode-blind. */
  private def mutate(operation: String, sObject: String, rows: Seq[Row],
      schema: StructType, externalIdField: Option[String] = None): List[JValue] =
    rows.grouped(BulkApiOrg.MaxBatchRecords).toList.flatMap { slice =>
      val payload =
        if (csvMode) toCsv(slice, schema) else toJson(slice, schema)
      val (jobId, batchId) = runJob(operation, sObject, payload, externalIdField)
      val url = s"$asyncBase/job/$jobId/batch/$batchId/result"
      if (csvMode) {
        val parsed = parseCsv(requestRaw("GET", url, contentType = None))
        if (parsed.isEmpty) Nil
        else {
          val pos = parsed.head.map(_.toLowerCase).zipWithIndex.toMap
          def at(r: Seq[String], name: String): Option[String] =
            pos.get(name).map(r(_)).filter(_.nonEmpty)
          parsed.tail.map { r =>
            JObject(List(
              "id" -> at(r, "id").map(JString(_): JValue).getOrElse(JNull),
              "success" -> JBool(at(r, "success").exists(_.toBoolean)),
              "created" -> JBool(at(r, "created").exists(_.toBoolean)),
              "errors" -> at(r, "error").map(JString(_): JValue).getOrElse(JNull)))
          }.toList
        }
      } else request("GET", url) match {
        case JArray(rs) => rs
        case other => throw new RuntimeException(s"bad mutation result: $other")
      }
    }

  override def insert(sObject: String, rows: Seq[Row],
      schema: StructType): Seq[String] =
    mutate("insert", sObject, rows, schema).map(r => str(r \ "id"))

  override def update(sObject: String, rows: Seq[Row],
      schema: StructType): (Int, Int) = {
    val rs = mutate("update", sObject, rows, schema)
    val ok = rs.count(r => r \ "success" == JBool(true))
    (ok, rs.size - ok)
  }

  override def upsert(sObject: String, externalIdField: String, rows: Seq[Row],
      schema: StructType): (Int, Int) = {
    val rs = mutate("upsert", sObject, rows, schema, Some(externalIdField))
    val created = rs.count(r => r \ "created" == JBool(true))
    val updated = rs.count(r =>
      r \ "success" == JBool(true) && r \ "created" != JBool(true))
    (created, updated)
  }

  override def delete(sObject: String, ids: Seq[String]): Int = {
    val schema = StructType(Seq(StructField("Id", StringType)))
    val rs = mutate("delete", sObject, ids.map(Row(_)), schema)
    rs.count(r => r \ "success" == JBool(true))
  }

  /** Predicate delete: the WHERE runs org-side in a Bulk query that
    * returns only Ids; the matching records are then bulk-deleted —
    * bulk_delete(object, where) semantics (data_connector.py:294-298)
    * with only the Id stream crossing the client. */
  override def deleteWhere(sObject: String, predicates: Seq[String]): Int = {
    val ids = query(Soql.render(sObject, Seq("Id"), predicates, None))
      .map(_.getString(0)).toSeq
    if (ids.isEmpty) 0 else delete(sObject, ids)
  }
}

object BulkApiOrg {
  /** Bulk v1's per-batch record cap: a larger mutation is sliced. */
  val MaxBatchRecords: Int = 10000
}

/** The HTTP wire org's [[OrgRecipe]]: plain serializable connection
  * config — session token + endpoint (inside [[AuthToken]]), API
  * version, content mode, polling knobs — plus a [[TransportFactory]]
  * that `new`s an HTTP client in the landing JVM. Rebuilds a client
  * against the SAME remote org, so `connectsToSameOrg` is true and
  * [[RemoteOrgRegistry.resolveForWrite]] accepts it: executor-side
  * Bulk writes reach the real org, unlike a facsimile sim rebuild.
  * The rebuilt org polls with the default `Thread.sleep` — an
  * injectable test sleeper is a driver-JVM concern and never ships. */
final case class BulkApiOrgRecipe(
    token: AuthToken,
    transports: TransportFactory,
    apiVersion: String,
    maxPolls: Int,
    pollDelayMs: Long,
    maxPollDelayMs: Long,
    contentType: String,
    pkChunkSize: Option[Int]) extends OrgRecipe {
  override def build(): RemoteOrg =
    new BulkApiOrg(token, transports.transport(), apiVersion = apiVersion,
      maxPolls = maxPolls, pollDelayMs = pollDelayMs,
      maxPollDelayMs = maxPollDelayMs, contentType = contentType,
      pkChunkSize = pkChunkSize, transportFactory = Some(transports))
  override def connectsToSameOrg: Boolean = true
}
