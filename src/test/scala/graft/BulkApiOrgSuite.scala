package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sources._
import graft.spec.ConnectorParam

/** The HTTP-shaped [[BulkApiOrg]] driven entirely offline through a
  * scripted transport: every verb is asserted as the exact Bulk REST
  * request sequence (create job → add batch → close → poll → result),
  * including poll-until-Completed and the retry-once-on-expired-session
  * policy when wrapped in [[AuthRetryOrg]]. */
class BulkApiOrgSuite extends AnyFunSuite {

  private val tok = AuthToken("TOK1", "https://na1.example.org")
  private val async = "https://na1.example.org/services/async/47.0"
  private val rest = "https://na1.example.org/services/data/v47.0"

  private val accountDescribe =
    """{"fields": [
      {"name": "Id", "type": "id"},
      {"name": "Name", "type": "string"},
      {"name": "Amount", "type": "int"},
      {"name": "Closed", "type": "boolean"},
      {"name": "CloseDate", "type": "date"}]}"""

  /** Scripted transport: routes by (method, url suffix), records calls. */
  private class ScriptedHttp(
      script: PartialFunction[(String, String), (Int, String)])
      extends HttpTransport {
    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    private val headerLog =
      scala.collection.mutable.ArrayBuffer.empty[(String, Map[String, String])]
    def headersSeen(url: String): Map[String, String] =
      headerLog.find(_._1 == url).map(_._2).getOrElse(Map.empty)
    override def postForm(url: String, params: Map[String, String]): (Int, String) =
      (200, s"""{"access_token": "TOK${calls.size}", "instance_url": "https://na1.example.org"}""")
    override def send(method: String, url: String,
        headers: Map[String, String], body: String): (Int, String) = {
      calls += ((method, url, body))
      headerLog += ((url, headers))
      assert(headers.contains("X-SFDC-Session"), s"missing session header on $url")
      script.applyOrElse((method, url),
        (k: (String, String)) => fail(s"unexpected request $k"))
    }
  }

  test("query resolves dotted relationship-path items through nested JSON") {
    val http = new ScriptedHttp({
      case ("GET", u) if u == s"$rest/sobjects/Contact/describe" =>
        (200, """{"fields": [
          {"name": "Id", "type": "id"},
          {"name": "AccountId", "type": "id"}]}""")
      case ("POST", u) if u == s"$async/job" => (201, """{"id": "J9"}""")
      case ("POST", u) if u == s"$async/job/J9/batch" => (201, """{"id": "B9"}""")
      case ("POST", u) if u == s"$async/job/J9" => (200, """{"state": "Closed"}""")
      case ("GET", u) if u == s"$async/job/J9/batch/B9" =>
        (200, """{"state": "Completed"}""")
      case ("GET", u) if u == s"$async/job/J9/batch/B9/result" =>
        (200, """["R1"]""")
      case ("GET", u) if u == s"$async/job/J9/batch/B9/result/R1" =>
        // real Bulk JSON nests relationship paths as child objects; a
        // row with no parent carries null, not a missing key
        (200, """[
          {"Id": "C1", "Account": {"Name": "acme"}},
          {"Id": "C2", "Account": null}]""")
    })
    val org = new BulkApiOrg(tok, http, sleeper = _ => ())
    val rows = org.query("SELECT Id, Account.Name FROM Contact").toSeq
    assert(rows == Seq(Row("C1", "acme"), Row("C2", null)))
  }

  test("query runs the full job lifecycle and coerces described types") {
    var polls = 0
    val http = new ScriptedHttp({
      case ("GET", u) if u == s"$rest/sobjects/Account/describe" =>
        (200, accountDescribe)
      case ("POST", u) if u == s"$async/job" => (201, """{"id": "J1"}""")
      case ("POST", u) if u == s"$async/job/J1/batch" => (201, """{"id": "B1"}""")
      case ("POST", u) if u == s"$async/job/J1" => (200, """{"state": "Closed"}""")
      case ("GET", u) if u == s"$async/job/J1/batch/B1" =>
        polls += 1
        if (polls < 3) (200, s"""{"state": "${if (polls == 1) "Queued" else "InProgress"}"}""")
        else (200, """{"state": "Completed"}""")
      case ("GET", u) if u == s"$async/job/J1/batch/B1/result" =>
        (200, """["R1"]""")
      case ("GET", u) if u == s"$async/job/J1/batch/B1/result/R1" =>
        (200, """[
          {"Id": "A1", "Name": "acme", "Amount": 10, "Closed": false, "CloseDate": "2024-02-03"},
          {"Id": "A2", "Name": "zorg", "Amount": null, "Closed": true, "CloseDate": null}]""")
    })
    var slept = 0
    val org = new BulkApiOrg(tok, http, sleeper = _ => slept += 1)
    val rows = org.query(
      "SELECT Id, Name, Amount, Closed, CloseDate FROM Account").toSeq

    assert(rows == Seq(
      Row("A1", "acme", 10L, false, java.sql.Date.valueOf("2024-02-03")),
      Row("A2", "zorg", null, true, null)))
    assert(polls == 3, "must poll until Completed")
    assert(slept == 2, "must sleep between pending polls")
    // exact lifecycle order after the describe
    val seq = http.calls.toSeq.map(c => (c._1, c._2.stripPrefix(async)))
    assert(seq.drop(1) == Seq(
      ("POST", "/job"), ("POST", "/job/J1/batch"), ("POST", "/job/J1"),
      ("GET", "/job/J1/batch/B1"), ("GET", "/job/J1/batch/B1"),
      ("GET", "/job/J1/batch/B1"), ("GET", "/job/J1/batch/B1/result"),
      ("GET", "/job/J1/batch/B1/result/R1")), seq.mkString("\n"))
    // the SOQL itself is the batch payload; the job asked for a JSON query job
    assert(http.calls(1)._3.contains(""""operation":"query""""))
    assert(http.calls(2)._3 == "SELECT Id, Name, Amount, Closed, CloseDate FROM Account")
  }

  private val writeSchema = StructType(Seq(
    StructField("Name", StringType), StructField("Amount", LongType)))

  private def mutationHttp(op: String, result: String): ScriptedHttp =
    new ScriptedHttp({
      case ("POST", u) if u == s"$async/job" => (201, """{"id": "J1"}""")
      case ("POST", u) if u == s"$async/job/J1/batch" => (201, """{"id": "B1"}""")
      case ("POST", u) if u == s"$async/job/J1" => (200, """{"state": "Closed"}""")
      case ("GET", u) if u == s"$async/job/J1/batch/B1" =>
        (200, """{"state": "Completed"}""")
      case ("GET", u) if u == s"$async/job/J1/batch/B1/result" => (200, result)
    })

  test("polling backs off exponentially up to the cap") {
    var polls = 0
    val http = new ScriptedHttp({
      case ("GET", u) if u == s"$rest/sobjects/Account/describe" =>
        (200, accountDescribe)
      case ("POST", u) if u == s"$async/job" => (201, """{"id": "J1"}""")
      case ("POST", u) if u == s"$async/job/J1/batch" => (201, """{"id": "B1"}""")
      case ("POST", u) if u == s"$async/job/J1" => (200, """{"state": "Closed"}""")
      case ("GET", u) if u == s"$async/job/J1/batch/B1" =>
        polls += 1
        if (polls < 7) (200, """{"state": "InProgress"}""")
        else (200, """{"state": "Completed"}""")
      case ("GET", u) if u == s"$async/job/J1/batch/B1/result" => (200, """["R1"]""")
      case ("GET", u) if u == s"$async/job/J1/batch/B1/result/R1" =>
        (200, """[{"Id": "A1", "Name": "n", "Amount": 1, "Closed": false, "CloseDate": null}]""")
    })
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    val org = new BulkApiOrg(tok, http,
      pollDelayMs = 100L, maxPollDelayMs = 1000L, sleeper = delays += _)
    org.query("SELECT Id, Name, Amount, Closed, CloseDate FROM Account").toSeq
    assert(delays.toSeq == Seq(100L, 200L, 400L, 800L, 1000L, 1000L),
      delays.toString)
  }

  test("insert posts JSON records and returns created ids in order") {
    val http = mutationHttp("insert",
      """[{"id": "A1", "success": true, "created": true},
         {"id": "A2", "success": true, "created": true}]""")
    val org = new BulkApiOrg(tok, http, sleeper = _ => ())
    val ids = org.insert("Account",
      Seq(Row("acme", 10L), Row("zorg", null)), writeSchema)
    assert(ids == Seq("A1", "A2"))
    assert(http.calls.head._3.contains(""""operation":"insert""""))
    // null columns are omitted from the record JSON, not sent as null
    assert(http.calls(1)._3 ==
      """[{"Name":"acme","Amount":10},{"Name":"zorg"}]""")
  }

  test("update counts successes and failures from batch results") {
    val http = mutationHttp("update",
      """[{"id": "A1", "success": true, "created": false},
         {"id": null, "success": false, "created": false}]""")
    val org = new BulkApiOrg(tok, http, sleeper = _ => ())
    assert(org.update("Account", Seq(Row("a", 1L), Row("b", 2L)), writeSchema)
      == ((1, 1)))
  }

  test("upsert splits created vs updated and sends the external id field") {
    val http = mutationHttp("upsert",
      """[{"id": "A1", "success": true, "created": true},
         {"id": "A2", "success": true, "created": false}]""")
    val org = new BulkApiOrg(tok, http, sleeper = _ => ())
    assert(org.upsert("Account", "Ext__c",
      Seq(Row("a", 1L), Row("b", 2L)), writeSchema) == ((1, 1)))
    assert(http.calls.head._3.contains(""""externalIdFieldName":"Ext__c""""))
  }

  test("delete posts Id records and counts successes") {
    val http = mutationHttp("delete",
      """[{"id": "A1", "success": true}, {"id": "A2", "success": true}]""")
    val org = new BulkApiOrg(tok, http, sleeper = _ => ())
    assert(org.delete("Account", Seq("A1", "A2")) == 2)
    assert(http.calls(1)._3 == """[{"Id":"A1"},{"Id":"A2"}]""")
  }

  test("a delete over the batch cap posts one job per 10,000 records") {
    // each job's result echoes its own batch payload's Ids, so the count
    // only reaches 10,001 if every slice ran and the results concatenate
    var jobN = 0
    lazy val http: ScriptedHttp = new ScriptedHttp({
      case ("POST", u) if u == s"$async/job" =>
        jobN += 1; (201, s"""{"id": "J$jobN"}""")
      case ("POST", u) if u.endsWith("/batch") => (201, s"""{"id": "B$jobN"}""")
      case ("POST", u) if u.matches(s"$async/job/J\\d+") =>
        (200, """{"state": "Closed"}""")
      case ("GET", u) if u.matches(s"$async/job/J\\d+/batch/B\\d+") =>
        (200, """{"state": "Completed"}""")
      case ("GET", u) if u.endsWith("/result") =>
        val payload = http.calls.filter(_._2.endsWith("/batch")).last._3
        val ids = "\"Id\":\"([^\"]+)\"".r.findAllMatchIn(payload).map(_.group(1))
        (200, ids.map(id => s"""{"id": "$id", "success": true}""")
          .mkString("[", ",", "]"))
    })
    val org = new BulkApiOrg(tok, http, sleeper = _ => ())
    val ids = (0 to 10000).map(i => f"A$i%05d")
    assert(org.delete("Account", ids) == 10001)
    val batches = http.calls.filter(_._2.endsWith("/batch")).map(_._3)
    assert(batches.size == 2, s"${batches.size} batches posted")
    val sent = batches.map(b => "\"Id\":\"([^\"]+)\"".r.findAllMatchIn(b)
      .map(_.group(1)).toSeq)
    assert(sent.forall(_.size <= BulkApiOrg.MaxBatchRecords),
      sent.map(_.size).toString)
    assert(sent.flatten == ids, "slices must keep row order")
  }

  test("failed batch state surfaces as an error, not an empty result") {
    val http = new ScriptedHttp({
      case ("POST", u) if u == s"$async/job" => (201, """{"id": "J1"}""")
      case ("POST", u) if u == s"$async/job/J1/batch" => (201, """{"id": "B1"}""")
      case ("POST", u) if u == s"$async/job/J1" => (200, """{"state": "Closed"}""")
      case ("GET", u) if u == s"$async/job/J1/batch/B1" =>
        (200, """{"state": "Failed"}""")
    })
    val org = new BulkApiOrg(tok, http, sleeper = _ => ())
    val e = intercept[RuntimeException] {
      org.insert("Account", Seq(Row("a", 1L)), writeSchema)
    }
    assert(e.getMessage.contains("Failed"))
  }

  test("expired session replays the whole org call once on a fresh token") {
    // first job creation under TOK-old dies with INVALID_SESSION_ID; the
    // AuthRetryOrg stack re-authenticates and replays against TOK-new
    val script: PartialFunction[(String, String), (Int, String)] = {
      case ("POST", u) if u == s"$async/job" => (201, """{"id": "J1"}""")
      case ("POST", u) if u == s"$async/job/J1/batch" => (201, """{"id": "B1"}""")
      case ("POST", u) if u == s"$async/job/J1" => (200, """{"state": "Closed"}""")
      case ("GET", u) if u == s"$async/job/J1/batch/B1" =>
        (200, """{"state": "Completed"}""")
      case ("GET", u) if u == s"$async/job/J1/batch/B1/result" =>
        (200, """[{"id": "A1", "success": true, "created": true}]""")
    }
    val http = new ScriptedHttp(script) {
      private var first = true
      override def send(method: String, url: String,
          headers: Map[String, String], body: String): (Int, String) = {
        if (first && url.endsWith("/job") && method == "POST") {
          first = false
          calls += ((method, url, body))
          return (401, """[{"errorCode": "INVALID_SESSION_ID"}]""")
        }
        super.send(method, url, headers, body)
      }
    }
    val provider = new TokenProvider(
      ConnectorParam("u@example.org", "pw", "https://login.example.org", "ck", "cs"),
      http)
    val org = new AuthRetryOrg(provider,
      t => new BulkApiOrg(t, http, sleeper = _ => ()))
    val ids = org.insert("Account", Seq(Row("a", 1L)), writeSchema)
    assert(ids == Seq("A1"))
    // the dead call burned one job POST, then the replay ran the full
    // lifecycle: 1 failed + 5 successful requests
    val jobPosts = http.calls.count(c => c._1 == "POST" && c._2 == s"$async/job")
    assert(jobPosts == 2, http.calls.mkString("\n"))
  }

  test("deleteWhere queries matching ids org-side then bulk-deletes them") {
    var jobN = 0
    val http = new ScriptedHttp({
      case ("GET", u) if u == s"$rest/sobjects/Account/describe" =>
        (200, accountDescribe)
      case ("POST", u) if u == s"$async/job" =>
        jobN += 1; (201, s"""{"id": "J$jobN"}""")
      case ("POST", u) if u.endsWith("/batch") =>
        (201, s"""{"id": "B$jobN"}""")
      case ("POST", u) if u.matches(s"$async/job/J\\d+") =>
        (200, """{"state": "Closed"}""")
      case ("GET", u) if u.matches(s"$async/job/J\\d+/batch/B\\d+") =>
        (200, """{"state": "Completed"}""")
      case ("GET", u) if u == s"$async/job/J1/batch/B1/result" =>
        (200, """["R1"]""")
      case ("GET", u) if u == s"$async/job/J1/batch/B1/result/R1" =>
        (200, """[{"Id": "A1"}, {"Id": "A3"}]""")
      case ("GET", u) if u == s"$async/job/J2/batch/B2/result" =>
        (200, """[{"id": "A1", "success": true}, {"id": "A3", "success": true}]""")
    })
    val org = new BulkApiOrg(tok, http, sleeper = _ => ())
    assert(org.deleteWhere("Account", Seq("Amount > 5")) == 2)
    // the predicate shipped inside the query batch payload
    assert(http.calls.exists(c =>
      c._3.contains("SELECT Id FROM Account WHERE (Amount > 5)")),
      http.calls.mkString("\n"))
  }

  // ---- CSV content type (the reference's wire format,
  // data_connector.py:248,273) -------------------------------------------

  test("CSV query speaks XML envelopes and parses quoted CSV results") {
    val http = new ScriptedHttp({
      case ("GET", u) if u == s"$rest/sobjects/Account/describe" =>
        (200, accountDescribe)
      case ("POST", u) if u == s"$async/job" =>
        (201, "<jobInfo><id>J1</id><state>Open</state></jobInfo>")
      case ("POST", u) if u == s"$async/job/J1/batch" =>
        (201, "<batchInfo><id>B1</id><state>Queued</state></batchInfo>")
      case ("POST", u) if u == s"$async/job/J1" =>
        (200, "<jobInfo><id>J1</id><state>Closed</state></jobInfo>")
      case ("GET", u) if u == s"$async/job/J1/batch/B1" =>
        (200, "<batchInfo><id>B1</id><state>Completed</state></batchInfo>")
      case ("GET", u) if u == s"$async/job/J1/batch/B1/result" =>
        (200, "<result-list><result>R1</result></result-list>")
      case ("GET", u) if u == s"$async/job/J1/batch/B1/result/R1" =>
        // embedded comma, doubled quote, multi-line field, empty = null
        (200, "\"Id\",\"Name\",\"Amount\",\"Closed\",\"CloseDate\"\n" +
          "\"A1\",\"acme, inc\",\"10\",\"false\",\"2024-02-03\"\n" +
          "\"A2\",\"say \"\"hi\"\"\nthere\",\"\",\"true\",\"\"")
    })
    val org = new BulkApiOrg(tok, http, sleeper = _ => (), contentType = "CSV")
    val rows = org.query(
      "SELECT Id, Name, Amount, Closed, CloseDate FROM Account").toSeq
    assert(rows == Seq(
      Row("A1", "acme, inc", 10L, false, java.sql.Date.valueOf("2024-02-03")),
      Row("A2", "say \"hi\"\nthere", null, true, null)))
    // the job was created via XML with contentType CSV
    val createCall = http.calls.find(_._2 == s"$async/job").get
    assert(createCall._3.contains("<contentType>CSV</contentType>"), createCall._3)
    assert(createCall._3.contains("<operation>query</operation>"), createCall._3)
  }

  test("CSV mutations post CSV payloads and parse CSV batch results") {
    val http = new ScriptedHttp({
      case ("POST", u) if u == s"$async/job" =>
        (201, "<jobInfo><id>J1</id></jobInfo>")
      case ("POST", u) if u == s"$async/job/J1/batch" =>
        (201, "<batchInfo><id>B1</id></batchInfo>")
      case ("POST", u) if u == s"$async/job/J1" =>
        (200, "<jobInfo><id>J1</id></jobInfo>")
      case ("GET", u) if u == s"$async/job/J1/batch/B1" =>
        (200, "<batchInfo><id>B1</id><state>Completed</state></batchInfo>")
      case ("GET", u) if u == s"$async/job/J1/batch/B1/result" =>
        (200, "\"Id\",\"Success\",\"Created\",\"Error\"\n" +
          "\"A1\",\"true\",\"true\",\"\"\n" +
          "\"A2\",\"true\",\"true\",\"\"")
    })
    val org = new BulkApiOrg(tok, http, sleeper = _ => (), contentType = "CSV")
    val ids = org.insert("Account",
      Seq(Row("acme", 10L), Row("zorg", null)), writeSchema)
    assert(ids == Seq("A1", "A2"))
    // payload is header + quoted rows, null as empty
    val batchCall = http.calls.find(_._2 == s"$async/job/J1/batch").get
    assert(batchCall._3 == "\"Name\",\"Amount\"\n\"acme\",\"10\"\n\"zorg\",",
      batchCall._3)
  }

  test("PK-chunked query polls the batch set and concatenates range results") {
    var listPolls = 0
    val http = new ScriptedHttp({
      case ("GET", u) if u == s"$rest/sobjects/Account/describe" =>
        (200, accountDescribe)
      case ("POST", u) if u == s"$async/job" => (201, """{"id": "J1"}""")
      case ("POST", u) if u == s"$async/job/J1/batch" => (201, """{"id": "B0"}""")
      case ("POST", u) if u == s"$async/job/J1" => (200, """{"state": "Closed"}""")
      case ("GET", u) if u == s"$async/job/J1/batch" =>
        listPolls += 1
        // round 1: ranges still running; round 2: seed Not Processed,
        // both range batches done
        if (listPolls == 1)
          (200, """{"batchInfo": [
            {"id": "B0", "state": "Not Processed"},
            {"id": "B1", "state": "InProgress"},
            {"id": "B2", "state": "Completed"}]}""")
        else
          (200, """{"batchInfo": [
            {"id": "B0", "state": "Not Processed"},
            {"id": "B1", "state": "Completed"},
            {"id": "B2", "state": "Completed"}]}""")
      case ("GET", u) if u == s"$async/job/J1/batch/B1/result" =>
        (200, """["R1"]""")
      case ("GET", u) if u == s"$async/job/J1/batch/B2/result" =>
        (200, """["R2"]""")
      case ("GET", u) if u == s"$async/job/J1/batch/B1/result/R1" =>
        (200, """[{"Id": "A1", "Name": "a"}]""")
      case ("GET", u) if u == s"$async/job/J1/batch/B2/result/R2" =>
        (200, """[{"Id": "A2", "Name": "b"}]""")
    })
    val org = new BulkApiOrg(tok, http, sleeper = _ => (),
      pkChunkSize = Some(50000))
    val rows = org.query("SELECT Id, Name FROM Account").toSeq
    assert(rows == Seq(Row("A1", "a"), Row("A2", "b")))
    assert(listPolls == 2, "must poll the batch LIST, not the seed batch")
    // the chunking header rode on job creation only
    val createCall = http.calls.find(_._2 == s"$async/job").get
    val createHeaders = http.headersSeen(s"$async/job")
    assert(createHeaders.get("Sforce-Enable-PKChunking").contains("chunkSize=50000"),
      createHeaders.toString)
    assert(createCall._3.contains(""""operation":"query""""))
  }
}
