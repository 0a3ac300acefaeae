package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sources.{AuthToken, BulkApiOrg, InMemoryOrg}

/** The benchmark's own tests: span arithmetic, percentiles, and the wire
  * server's protocol checks. Plain assertions, no Spark session; the
  * build runs them after compiling and fails on any failure.
  *
  * Run: java -cp <classes>:<spark jars>/'*' graft.perfbench.SelfTest */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1 }
    catch { case e: Throwable => failures += 1; System.err.println(s"FAIL $name: $e") }

  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  private def near(got: Double, want: Double): Unit =
    if (math.abs(got - want) > 1e-9) throw new AssertionError(s"got $got, want $want")

  private def rejects(what: String)(f: => Any): Unit = {
    val ok = try { f; false } catch { case _: IllegalArgumentException => true }
    if (!ok) throw new AssertionError(s"$what was accepted")
  }

  private val schema = StructType(Seq(StructField("Id", StringType),
    StructField("Name", StringType), StructField("Amount", LongType),
    StructField("At", TimestampType)))
  private val ts = java.sql.Timestamp.from(java.time.Instant.parse("2020-01-02T03:04:05Z"))

  private def org(rows: Int): InMemoryOrg = {
    val o = new InMemoryOrg
    o.createTable("Thing", schema, (0 until rows).map(i =>
      Row(f"T$i%05d", s"name, \"$i\"", i.toLong, ts)))
    o
  }

  private val hdr = Map("X-SFDC-Session" -> "TOK")
  private val json = hdr + ("Content-Type" -> "application/json")
  private val base = "https://wire.test/services/async/47.0"

  private def client(server: WireServer, csv: Boolean, chunk: Option[Int] = None): BulkApiOrg =
    new BulkApiOrg(AuthToken("TOK", server.instanceUrl), server, sleeper = _ => (),
      contentType = if (csv) "CSV" else "JSON", pkChunkSize = chunk)

  def main(args: Array[String]): Unit = {
    test("union length merges overlaps and clips") {
      eq(Trace.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100), 25L)
      eq(Trace.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 8, 25), 12L)
      eq(Trace.unionLength(Seq((3L, 4L), (0L, 10L)), 0, 100), 10L)
      eq(Trace.unionLength(Nil, 0, 100), 0L)
    }
    test("self time subtracts the union of children, not their sum") {
      // two overlapping children on different threads cover 6..14 of 0..20
      eq(Trace.blockingPath(Seq("child" -> Seq((6L, 12L), (8L, 14L))), 0, 20, "self").toMap,
        Map("child" -> 8L, "self" -> 12L))
      // a child spilling past the parent counts only inside it
      eq(Trace.blockingPath(Seq("child" -> Seq((15L, 40L))), 10, 20, "self").toMap,
        Map("child" -> 5L, "self" -> 5L))
    }
    test("blocking path gives each instant to the deepest open layer") {
      val parts = Trace.blockingPath(Seq(
        "remote" -> Seq((2L, 4L)), "wire" -> Seq((1L, 5L)), "spark" -> Seq((0L, 8L))),
        0, 10, "caller").toMap
      eq(parts, Map("remote" -> 2L, "wire" -> 2L, "spark" -> 4L, "caller" -> 2L))
      eq(parts.values.sum, 10L)
    }
    test("percentile interpolates like numpy") {
      near(Trace.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50), 2.5)
      near(Trace.percentile((1 to 100).map(_.toDouble), 99), 99.01)
      near(Trace.percentile(Seq(7.0), 99), 7.0)
      near(Trace.percentile(Seq(1.0, 2.0, 3.0), 0), 1.0)
      near(Trace.percentile(Seq(1.0, 2.0, 3.0), 100), 3.0)
      rejects("empty sample")(Trace.percentile(Nil, 50))
    }
    test("range predicates join the SOQL WHERE") {
      val s = new WireServer(org(0), "https://wire.test")
      eq(s.withRange("SELECT Id FROM Thing", Seq("Id > 'a'")), "SELECT Id FROM Thing WHERE (Id > 'a')")
      eq(s.withRange("SELECT Id FROM Thing WHERE (x = 1) LIMIT 5", Seq("Id <= 'b'")),
        "SELECT Id FROM Thing WHERE ((x = 1)) AND (Id <= 'b') LIMIT 5")
    }
    for (csv <- Seq(false, true)) {
      val mode = if (csv) "CSV" else "JSON"
      test(s"$mode query round-trips values through the wire") {
        val o = org(5)
        val got = client(new WireServer(o, "https://wire.test"), csv)
          .query("SELECT Id, Name, Amount, At FROM Thing WHERE Amount >= 3").toList
        eq(got, o.rows("Thing").filter(_.getLong(2) >= 3).toList)
      }
      test(s"$mode insert and update land in the org") {
        val o = org(2)
        val server = new WireServer(o, "https://wire.test")
        val c = client(server, csv)
        val w = StructType(schema.fields.drop(1))
        val ids = c.insert("Thing", Seq(Row("new", 9L, ts)), w)
        eq(o.rowCount("Thing"), 3)
        // a null field is not sent (JSON) or sent empty (CSV): either way
        // the stored value stays, as on a real org
        eq(c.update("Thing", Seq(Row(ids.head, "renamed"), Row("T00000", "x"), Row("nope", "y"),
          Row("T00001", null)), StructType(Seq(schema("Id"), schema("Name")))), (3, 1))
        eq(o.rows("Thing").map(_.getString(1)).toSet, Set("x", "name, \"1\"", "renamed"))
        eq(o.rows("Thing").map(_.getLong(2)).toSet, Set(0L, 1L, 9L))
        // create, batch, close, two polls, result list: six per write
        eq(server.totalRequests, 12L)
      }
      test(s"$mode PK chunking splits the query into Id ranges") {
        val o = org(25)
        val server = new WireServer(o, "https://wire.test")
        val got = client(server, csv, chunk = Some(10)).query("SELECT Id, Amount FROM Thing").toList
        eq(got.map(_.getString(0)), o.rows("Thing").map(_.getString(0)).toList)
        eq(server.soqlStatements.sum, 3L)
      }
    }
    test("the server rejects steps out of protocol order") {
      val s = new WireServer(org(3), "https://wire.test")
      def create(): String = {
        val (_, body) = s.send("POST", s"$base/job", json,
          """{"operation":"query","object":"Thing","contentType":"JSON"}""")
        body.split("\"id\":\"")(1).takeWhile(_ != '"')
      }
      rejects("a request without a session")(s.send("POST", s"$base/job", Map.empty, "{}"))
      rejects("an unknown job")(s.send("POST", s"$base/job/750J999/batch", json, "SELECT Id FROM Thing"))
      val j1 = create()
      rejects("close before any batch")(s.send("POST", s"$base/job/$j1", json, """{"state":"Closed"}"""))
      val (_, b) = s.send("POST", s"$base/job/$j1/batch", json, "SELECT Id FROM Thing")
      val bid = b.split("\"id\":\"")(1).takeWhile(_ != '"')
      rejects("a second batch")(s.send("POST", s"$base/job/$j1/batch", json, "SELECT Id FROM Thing"))
      rejects("a poll before close")(s.send("GET", s"$base/job/$j1/batch/$bid", hdr, ""))
      s.send("POST", s"$base/job/$j1", json, """{"state":"Closed"}""")
      rejects("a batch on a closed job")(s.send("POST", s"$base/job/$j1/batch", json, "SELECT Id FROM Thing"))
      s.send("GET", s"$base/job/$j1/batch/$bid", hdr, "")
      rejects("results before Completed")(s.send("GET", s"$base/job/$j1/batch/$bid/result", hdr, ""))
      s.send("GET", s"$base/job/$j1/batch/$bid", hdr, "")
      eq(s.send("GET", s"$base/job/$j1/batch/$bid/result", hdr, "")._2, "[\"752R1\"]")
      rejects("a mismatched batch content type") {
        val j2 = create()
        s.send("POST", s"$base/job/$j2/batch", hdr + ("Content-Type" -> "text/csv"), "SELECT Id FROM Thing")
      }
    }

    System.err.println(s"perfbench self-test: $passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
