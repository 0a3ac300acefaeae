package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** [[RemoteOrg]] over the SOAP Partner API — the protocol the reference
  * actually speaks (beatbox `login`/`query`/`queryMore`,
  * data_connector.py:38-69), kept as the fallback for orgs where Bulk
  * jobs are disallowed. Same injectable [[HttpTransport]] as
  * [[BulkApiOrg]], so the whole surface is offline-testable and
  * [[AuthRetryOrg]] composes the retry-once session policy unchanged.
  *
  * Protocol shape:
  *  - `login` posts a sessionless envelope to the login endpoint and
  *    yields (sessionId, serverUrl) — [[SoapOrg.login]];
  *  - `query` returns the first page plus a `queryLocator`; the record
  *    iterator then pages through `queryMore` until `done` — the exact
  *    cursor loop of the reference (data_connector.py:62-66). Page size
  *    is negotiated via the `QueryOptions/batchSize` header;
  *  - mutations (`create`/`update`/`upsert`/`delete`) carry at most 200
  *    records per call — the SOAP API contract the reference chunks for
  *    (QUERY_LIMIT, data_connector.py:23) — enforced with `require`;
  *  - `INVALID_SESSION_ID` faults surface as
  *    [[SessionExpiredException]].
  *
  * Values coerce to `describeSObject` types like the Bulk wire; a null
  * field arrives as `xsi:nil="true"`. Aggregate select items (pushed
  * MIN/MAX/COUNT) arrive as `AggregateResult.expr{i}` elements and are
  * resolved positionally, so the connector's cursor stream
  * (`SELECT MAX(Id)`) works over SOAP too.
  */
final class SoapOrg(
    sessionId: String,
    serverUrl: String,
    http: HttpTransport,
    batchSize: Int = 500,
    transportFactory: Option[TransportFactory] = None) extends RemoteOrg {

  import SoapOrg._

  /** The executor-rebuild recipe ([[RemoteOrg.recipe]]): available
    * exactly when the org was constructed with a [[TransportFactory]].
    * Carries the plan-time (sessionId, serverUrl) binding — the same
    * session a queryMore cursor would ride — so a rebuilt client talks
    * to the same org under the same session. */
  override def recipe: Option[OrgRecipe] = transportFactory.map(tf =>
    SoapOrgRecipe(sessionId, serverUrl, tf, batchSize))

  override def close(): Unit = http.close()

  private val describeCache =
    scala.collection.mutable.Map.empty[String, StructType]

  private def envelope(body: String, withSession: Boolean,
      queryOptions: Boolean = false): String = {
    val header =
      (if (withSession)
        s"<urn:SessionHeader><urn:sessionId>${escape(sessionId)}</urn:sessionId></urn:SessionHeader>"
      else "") +
        (if (queryOptions)
          s"<urn:QueryOptions><urn:batchSize>$batchSize</urn:batchSize></urn:QueryOptions>"
        else "")
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
      "<soapenv:Envelope xmlns:soapenv=\"http://schemas.xmlsoap.org/soap/envelope/\" " +
      "xmlns:urn=\"urn:partner.soap.sforce.com\" " +
      "xmlns:xsi=\"http://www.w3.org/2001/XMLSchema-instance\">" +
      s"<soapenv:Header>$header</soapenv:Header>" +
      s"<soapenv:Body>$body</soapenv:Body></soapenv:Envelope>"
  }

  private def call(body: String, queryOptions: Boolean = false): String = {
    val (status, resp) = http.send("POST", serverUrl,
      Map("Content-Type" -> "text/xml; charset=UTF-8", "SOAPAction" -> "\"\"",
        "X-SFDC-Session" -> sessionId),
      envelope(body, withSession = true, queryOptions))
    // session expiry is judged on the FAULT ELEMENTS (or a bare 401),
    // never on a whole-body substring scan — queried record data is
    // allowed to contain the literal string INVALID_SESSION_ID
    val faultCode = field(resp, "faultcode")
    val faultString = field(resp, "faultstring")
    if (status == 401 ||
        (faultCode.getOrElse("") + faultString.getOrElse(""))
          .contains("INVALID_SESSION_ID"))
      throw new SessionExpiredException(s"SOAP call -> $status")
    if (faultCode.nonEmpty || resp.contains("<soapenv:Fault>"))
      throw new RuntimeException(
        s"SOAP fault: ${faultCode.getOrElse("?")}: ${faultString.getOrElse(resp)}")
    // a 500 is only legitimate WITH a fault envelope (handled above);
    // a faultless non-2xx is a transport error, not an empty result
    if (status / 100 != 2)
      throw new RuntimeException(s"SOAP call -> $status: $resp")
    resp
  }

  // ---- describe -----------------------------------------------------------

  override def describe(sObject: String): StructType =
    describeCache.getOrElseUpdate(sObject, {
      val resp = call(
        s"<urn:describeSObject><urn:sObjectType>${escape(sObject)}</urn:sObjectType></urn:describeSObject>")
      val fields = blocks(resp, "fields").map { f =>
        val name = field(f, "name").getOrElse(
          throw new RuntimeException(s"field without name in describe: $f"))
        StructField(name, Soql.fieldType(field(f, "type").getOrElse("string")))
      }
      if (fields.isEmpty)
        throw new RuntimeException(s"empty describe for $sObject")
      StructType(fields)
    })

  // ---- query + queryMore cursor -------------------------------------------

  /** One page: (rows-as-field-maps, locator if not done).
    *
    * `done`/`queryLocator` are QueryResult METADATA, siblings of the
    * `<records>` elements — a queried field literally named `done`, or a
    * relationship record containing one, must not be misread as the
    * cursor state. The record bodies are stripped before extracting the
    * cursor fields so only the metadata outside record boundaries is
    * consulted. */
  private def parseQueryResult(resp: String): (Seq[String], Option[String]) = {
    val recs = blocks(resp, "records")
    val meta = """(?s)<(?:\w+:)?records(?:\s[^>]*)?>.*?</(?:\w+:)?records>""".r
      .replaceAllIn(resp, "")
    val done = field(meta, "done").exists(_.toBoolean)
    val locator = field(meta, "queryLocator").filter(_.nonEmpty)
    (recs, if (done) None else locator)
  }

  /** Relationship-path items (`Parent.Name`) arrive as NESTED records on
    * the SOAP wire (`<sf:Parent><sf:Name>v</sf:Name></sf:Parent>`, a
    * nil'd parent as `<sf:Parent xsi:nil="true"/>`): walk the segments
    * through raw block extraction (no unescape until the leaf — the
    * leaf's text is what carries entity escapes). */
  private def resolveItem(record: String, item: String): Option[String] = {
    def walk(xml: String, rest: List[String]): Option[String] = rest match {
      case Nil => None
      case last :: Nil => recordField(xml, last)
      case seg :: tail =>
        val t = java.util.regex.Pattern.quote(seg)
        val nil = s"""<(?:\\w+:)?$t\\s[^>]*xsi:nil="true"[^>]*/>""".r
        if (nil.findFirstIn(xml).nonEmpty) Some(null)
        else blocks(xml, seg).headOption.flatMap(b => walk(b, tail))
    }
    walk(record, item.split("\\.").toList)
  }

  /** Cursor caveat (same shape as the Bulk result stream): the returned
    * iterator pages lazily, so [[AuthRetryOrg]]'s retry-once covers the
    * describe + FIRST page; a session expiring mid-pagination surfaces
    * [[SessionExpiredException]] to the consumer, who restarts the query
    * (the reference's cursor loop has the same property — fetch_all_data
    * pages queryMore with no mid-loop retry, data_connector.py:55-69). */
  override def query(soql: String): Iterator[Row] = {
    val (obj, items) = Soql.selectFrom(soql)
    val fieldType: Map[String, DataType] =
      describe(obj).fields.map(f => f.name -> f.dataType).toMap

    def toRow(record: String): Row =
      Row.fromSeq(items.zipWithIndex.map { case (item, i) =>
        // plain/dotted field, else positional aggregate alias
        // (AggregateResult expr{i})
        val raw = resolveItem(record, item)
          .orElse(recordField(record, s"expr$i"))
        raw match {
          case None | Some(null) => null
          case Some(v) =>
            Soql.coerceText(v, fieldType.getOrElse(item, StringType))
        }
      })

    val first = call(
      s"<urn:query><urn:queryString>${escape(soql)}</urn:queryString></urn:query>",
      queryOptions = true)

    // the queryMore cursor loop — state is just the locator
    new Iterator[Row] {
      private var (page, locator) = parseQueryResult(first)
      private var idx = 0
      override def hasNext: Boolean = {
        while (idx >= page.length && locator.nonEmpty) {
          val resp = call(
            s"<urn:queryMore><urn:queryLocator>${escape(locator.get)}</urn:queryLocator></urn:queryMore>",
            queryOptions = true)
          val (p, l) = parseQueryResult(resp)
          page = p; locator = l; idx = 0
        }
        idx < page.length
      }
      override def next(): Row = {
        if (!hasNext) throw new NoSuchElementException
        val r = toRow(page(idx)); idx += 1; r
      }
    }
  }

  // ---- mutations ----------------------------------------------------------

  private def sObjectXml(sObject: String, row: Row, schema: StructType): String = {
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      // the field name is interpolated as an element TAG: anything outside
      // the XML-name alphabet (whitespace, <, &, quotes) would produce a
      // malformed envelope that escape() cannot help with — reject it here
      require(f.name.matches("[A-Za-z_][\\w.-]*"),
        s"field name not XML-safe for a SOAP element tag: '${f.name}'")
      if (row.isNullAt(i))
        s"<urn:fieldsToNull>${escape(f.name)}</urn:fieldsToNull>"
      else {
        val v = row.get(i) match {
          case t: java.sql.Timestamp => t.toInstant.toString
          case other => other.toString
        }
        s"<${f.name}>${escape(v)}</${f.name}>"
      }
    }.mkString
    s"<urn:sObjects><urn:type>${escape(sObject)}</urn:type>$fields</urn:sObjects>"
  }

  private def saveResults(resp: String): Seq[(Option[String], Boolean, Boolean)] =
    blocks(resp, "result").map { r =>
      (field(r, "id").filter(_.nonEmpty),
        field(r, "success").exists(_.toBoolean),
        field(r, "created").exists(_.toBoolean))
    }

  private def requireChunk(rows: Seq[_]): Unit =
    require(rows.size <= 200,
      s"chunk contract violated: ${rows.size} rows in one SOAP call") // data_connector.py:23

  override def insert(sObject: String, rows: Seq[Row],
      schema: StructType): Seq[String] = {
    requireChunk(rows)
    if (rows.isEmpty) return Nil
    val resp = call("<urn:create>" +
      rows.map(sObjectXml(sObject, _, schema)).mkString + "</urn:create>")
    saveResults(resp).map(_._1.getOrElse(
      throw new RuntimeException(s"create returned no id: $resp")))
  }

  override def update(sObject: String, rows: Seq[Row],
      schema: StructType): (Int, Int) = {
    requireChunk(rows)
    if (rows.isEmpty) return (0, 0)
    val resp = call("<urn:update>" +
      rows.map(sObjectXml(sObject, _, schema)).mkString + "</urn:update>")
    val rs = saveResults(resp)
    (rs.count(_._2), rs.size - rs.count(_._2))
  }

  override def upsert(sObject: String, externalIdField: String, rows: Seq[Row],
      schema: StructType): (Int, Int) = {
    requireChunk(rows)
    if (rows.isEmpty) return (0, 0)
    val resp = call(
      s"<urn:upsert><urn:externalIDFieldName>${escape(externalIdField)}</urn:externalIDFieldName>" +
        rows.map(sObjectXml(sObject, _, schema)).mkString + "</urn:upsert>")
    val rs = saveResults(resp)
    (rs.count(r => r._2 && r._3), rs.count(r => r._2 && !r._3))
  }

  override def delete(sObject: String, ids: Seq[String]): Int = {
    requireChunk(ids)
    if (ids.isEmpty) return 0
    val resp = call("<urn:delete>" +
      ids.map(id => s"<urn:ids>${escape(id)}</urn:ids>").mkString + "</urn:delete>")
    saveResults(resp).count(_._2)
  }

  /** WHERE resolves org-side through a SOAP Id-only query, then the
    * matches delete in ≤200-Id calls — bulk_delete semantics
    * (data_connector.py:294-298) without Bulk jobs. */
  override def deleteWhere(sObject: String, predicates: Seq[String]): Int = {
    val ids = query(Soql.render(sObject, Seq("Id"), predicates, None))
      .map(_.getString(0)).toSeq
    ids.grouped(200).map(chunk => delete(sObject, chunk)).sum
  }
}

object SoapOrg {

  /** SOAP `login`: a sessionless envelope against the login endpoint;
    * the returned org is bound to the serverUrl the org assigns
    * (data_connector.py:38-45 — beatbox stores serverUrl the same way). */
  def login(http: HttpTransport, loginUrl: String, username: String,
      password: String, batchSize: Int = 500,
      transportFactory: Option[TransportFactory] = None): SoapOrg = {
    val body =
      s"<urn:login><urn:username>${escape(username)}</urn:username>" +
        s"<urn:password>${escape(password)}</urn:password></urn:login>"
    val env = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
      "<soapenv:Envelope xmlns:soapenv=\"http://schemas.xmlsoap.org/soap/envelope/\" " +
      "xmlns:urn=\"urn:partner.soap.sforce.com\">" +
      "<soapenv:Header/>" +
      s"<soapenv:Body>$body</soapenv:Body></soapenv:Envelope>"
    val (status, resp) = http.send("POST", loginUrl,
      Map("Content-Type" -> "text/xml; charset=UTF-8", "SOAPAction" -> "\"\"",
        "X-SFDC-Session" -> ""), env)
    if (status / 100 != 2)
      throw new RuntimeException(s"SOAP login -> $status: $resp")
    val sid = field(resp, "sessionId").getOrElse(
      throw new RuntimeException(s"no sessionId in login response: $resp"))
    val url = field(resp, "serverUrl").getOrElse(
      throw new RuntimeException(s"no serverUrl in login response: $resp"))
    new SoapOrg(sid, url, http, batchSize, transportFactory)
  }

  private[sources] def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def unescape(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")

  /** First `<tag>` or `<ns:tag>` text content (namespace prefixes vary
    * by server), trimmed. The tag is regex-quoted: select items like
    * `MAX(Id)` reach here when probing for a plain field of that name
    * (always absent — the aggregate then resolves via `expr{i}`). */
  private[sources] def field(xml: String, tag: String): Option[String] = {
    val t = java.util.regex.Pattern.quote(tag)
    s"(?s)<(?:\\w+:)?$t(?:\\s[^>]*)?>(.*?)</(?:\\w+:)?$t>".r
      .findFirstMatchIn(xml).map(m => unescape(m.group(1).trim))
  }

  /** All `<tag>` block bodies. */
  private[sources] def blocks(xml: String, tag: String): Seq[String] = {
    val t = java.util.regex.Pattern.quote(tag)
    s"(?s)<(?:\\w+:)?$t(?:\\s[^>]*)?>(.*?)</(?:\\w+:)?$t>".r
      .findAllMatchIn(xml).map(_.group(1)).toSeq
  }

  /** A record's field: `None` when absent, `Some(null)` for
    * `xsi:nil="true"`, else the text. */
  private[sources] def recordField(record: String,
      name: String): Option[String] = {
    val t = java.util.regex.Pattern.quote(name)
    val nil = s"""<(?:\\w+:)?$t\\s[^>]*xsi:nil="true"[^>]*/>""".r
    if (nil.findFirstIn(record).nonEmpty) Some(null)
    else field(record, name)
  }
}

/** The SOAP wire org's [[OrgRecipe]]: the plan-time session binding
  * (sessionId + serverUrl — exactly what beatbox login stores,
  * data_connector.py:38-45) plus a [[TransportFactory]] that `new`s
  * an HTTP client in the landing JVM. Same remote org, so
  * `connectsToSameOrg` is true and executor-side SOAP mutations are
  * admitted by [[RemoteOrgRegistry.resolveForWrite]]. */
final case class SoapOrgRecipe(
    sessionId: String,
    serverUrl: String,
    transports: TransportFactory,
    batchSize: Int) extends OrgRecipe {
  override def build(): RemoteOrg =
    new SoapOrg(sessionId, serverUrl, transports.transport(), batchSize,
      Some(transports))
  override def connectsToSameOrg: Boolean = true
}
