package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.engine.{ConnectorTableIO, FkReference, MigrationEngine, MigrationPlan, TableIO}
import graft.sources._
import graft.spec.MappingSpec

/** Outcome of one pass's correctness check: `attempted` records or
  * checks, of which `failed` were reported failed by the org or did not
  * hold. */
final case class Checked(attempted: Long, failed: Long, problems: Seq[String])

/** One benchmark workload. `stage` builds the inputs (set-up); `reset`
  * restores them before each pass, outside the timed pass; `pass` is
  * the timed work; `check` verifies what the pass produced. */
trait Workload {
  def inputRows: Long
  /** Untimed passes before the measured ones. */
  def warmups: Int
  def inputDescription: String
  def stage(dir: Path): Unit
  def reset(): Unit
  def pass(): Unit
  def check(): Checked
  /** Rows the pass migrated from the source (after WHERE), for the
    * per-1,000-row wire ratios; 0 where nothing is migrated. */
  def migratedRows: Long = 0L
  /** Layer counters this workload keeps itself, since the last call. */
  def drainCounters(): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, traced: Boolean): Workload = name match {
    case "migrate_wire" => new MigrateWire(spark, seed, traced)
    case "corpus_queries" => new CorpusQueries(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  private def elem(src: String, dst: String, from: String, to: String,
      op: String = "copy", kind: String = "regular"): String =
    s"""{"table_src": "$src", "column_src": "$from", "table_dst": "$dst",
       |"column_dst": "$to", "operation": "$op", "column_type": "$kind"}""".stripMargin

  /** A mapping spec in the reference's JSON: `Id` is kept as the src_id
    * column `Old_Id__c`, `New_Id__c` is written back with the new Id. */
  def spec(src: String, dst: String, where: String, cols: Seq[(String, String)]): String =
    s"""{"source_object": "$src", "destination_object": "$dst",
       |"where_condition": "$where", "mapping": [
       |${(elem(src, dst, "Id", "Old_Id__c", kind = "src_id") +:
            cols.map { case (f, t) => elem(src, dst, f, t) } :+
            elem(src, dst, "New_Id__c", "Id", op = "upd_src", kind = "dst_id")).mkString(",\n")}]}""".stripMargin
}

/** Account → Contact through the DSv2 connector and the Bulk wire: the
  * source org speaks CSV with PK chunking, the destination JSON. */
final class MigrateWire(spark: SparkSession, seed: Long, traced: Boolean) extends Workload {
  val accounts = 3000
  val contacts = 9000
  private val minRevenue = 20000L
  private val maxAmount = 95000L

  override def inputRows: Long = accounts + contacts
  override def warmups: Int = 4
  override def inputDescription: String = s"$accounts accounts + $contacts contacts"

  private val specs = "[" + Seq(
    Workload.spec("Account", "Account__c", s"AnnualRevenue >= $minRevenue", Seq(
      "Name" -> "Name", "AnnualRevenue" -> "Revenue__c", "NumberOfEmployees" -> "Employees__c",
      "Description" -> "Description__c", "CreatedDate" -> "Opened__c")),
    Workload.spec("Contact", "Contact__c", s"Amount < $maxAmount", Seq(
      "LastName" -> "LastName", "Email" -> "Email__c", "Amount" -> "Amount__c",
      "Birthdate" -> "Birthdate__c", "AccountId" -> "AccountId__c"))).mkString(",") + "]"

  private var accRows = Vector.empty[Row]
  private var conRows = Vector.empty[Row]
  private var srcOrg: InMemoryOrg = _
  private var dstOrg: InMemoryOrg = _
  private var srcServer: WireServer = _
  private var dstServer: WireServer = _
  private var plan: MigrationPlan = _
  private val pollTicks = new java.util.concurrent.atomic.LongAdder
  private val pollWaitMs = new java.util.concurrent.atomic.LongAdder
  private var lastMigrated = 0L

  override def stage(dir: Path): Unit = {
    val (a, c) = Data.orgRecords(spark, accounts, contacts, seed)
    accRows = a; conRows = c
    reset()
  }

  private def client(name: String, server: WireServer, csv: Boolean): Unit = {
    val transport: HttpTransport = if (traced) new TracedTransport(server) else server
    val org = new BulkApiOrg(AuthToken(s"TOK-$name", server.instanceUrl), transport,
      sleeper = ms => { pollTicks.increment(); pollWaitMs.add(ms) },
      contentType = if (csv) "CSV" else "JSON",
      pkChunkSize = if (csv) Some(5000) else None)
    RemoteOrgRegistry.register(name, if (traced) new TracedOrg(org) else org)
  }

  override def reset(): Unit = {
    srcOrg = new InMemoryOrg
    srcOrg.createTable("Account", Data.accountSchema, accRows)
    srcOrg.createTable("Contact", Data.contactSchema, conRows)
    dstOrg = new InMemoryOrg
    dstOrg.createTable("Account__c", Data.accountDstSchema)
    dstOrg.createTable("Contact__c", Data.contactDstSchema)
    srcServer = new WireServer(srcOrg, "https://src.wire.test")
    dstServer = new WireServer(dstOrg, "https://dst.wire.test")
    client("pb_src", srcServer, csv = true)
    client("pb_dst", dstServer, csv = false)
    def io(t: TableIO): TableIO = if (traced) new TracedTableIO(t) else t
    val src = io(new ConnectorTableIO(spark, "pb_src"))
    val dst = io(new ConnectorTableIO(spark, "pb_dst", srcIdColumn = Some("Old_Id__c")))
    plan = new MigrationPlan(src, dst, new MigrationEngine(src, dst),
      Seq(FkReference("Contact__c", "AccountId__c", "Account")))
  }

  override def pass(): Unit = {
    val parsed = Trace.span(Trace.Engine, "compile")(MappingSpec.fromJson(specs))
    val results = plan.migrateAll(parsed)
    lastMigrated = results.map(_._2.extracted).sum
    Trace.add("engine.rows_inserted", results.map(_._2.inserted).sum)
    Trace.add("engine.rows_written_back", results.map(_._2.updated).sum)
  }

  override def migratedRows: Long = lastMigrated

  override def check(): Checked = {
    val problems = Seq.newBuilder[String]
    var attempted = 0L
    var failed = 0L
    def expect(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; problems += what }
    }
    def byOld(rows: Vector[Row]): Map[String, Row] = rows.map(r => r.getString(1) -> r).toMap
    val accSrc = srcOrg.rows("Account")
    val accDst = byOld(dstOrg.rows("Account__c"))
    val conSrc = srcOrg.rows("Contact")
    val conDst = byOld(dstOrg.rows("Contact__c"))
    val accKept = accSrc.filter(_.getLong(2) >= minRevenue)
    val conKept = conSrc.filter(_.getLong(3) < maxAmount)
    expect(dstOrg.rowCount("Account__c") == accKept.size,
      s"Account__c has ${dstOrg.rowCount("Account__c")} rows, expected ${accKept.size}")
    expect(dstOrg.rowCount("Contact__c") == conKept.size,
      s"Contact__c has ${dstOrg.rowCount("Contact__c")} rows, expected ${conKept.size}")
    val keptAcc = accKept.map(_.getString(0)).toSet
    accSrc.foreach { r =>
      val id = r.getString(0)
      val d = accDst.get(id)
      if (keptAcc(id)) {
        expect(d.exists(x => x.getString(0) == r.getString(6) &&
          x.getString(2) == r.getString(1) && x.getLong(3) == r.getLong(2) &&
          x.getLong(4) == r.getLong(3) && x.getString(5) == r.getString(4) &&
          x.get(6) == r.get(5)), s"Account $id: destination record or write-back differs")
      } else expect(d.isEmpty && r.isNullAt(6), s"Account $id was filtered but migrated")
    }
    val keptCon = conKept.map(_.getString(0)).toSet
    conSrc.foreach { r =>
      val id = r.getString(0)
      val d = conDst.get(id)
      val parent = accDst.get(r.getString(5)).map(_.getString(0)).orNull
      if (keptCon(id)) {
        expect(d.exists(x => x.getString(0) == r.getString(6) &&
          x.getString(2) == r.getString(1) && x.getString(3) == r.getString(2) &&
          x.getLong(4) == r.getLong(3) && x.get(5) == r.get(4) && x.getString(6) == parent),
          s"Contact $id: destination record, FK or write-back differs")
      } else expect(d.isEmpty && r.isNullAt(6), s"Contact $id was filtered but migrated")
    }
    Seq("pb_src" -> "Account", "pb_src" -> "Contact", "pb_dst" -> "Account__c",
      "pb_dst" -> "Contact__c").foreach { case (org, obj) =>
      val o = OrgWriteMetrics.lastCommit(org, obj)
      attempted += o.processed + o.failed
      failed += o.failed
      if (o.failed > 0) problems += s"$org/$obj: ${o.failed} records failed"
    }
    Checked(attempted, failed, problems.result())
  }

  override def drainCounters(): Map[String, Double] = {
    val servers = Seq(srcServer, dstServer)
    def sum(f: WireServer => Long): Double = servers.map(f).sum.toDouble
    Map(
      "sources.requests" -> sum(_.totalRequests),
      "sources.bytes_out" -> sum(_.bytesReceived.sum),
      "sources.bytes_in" -> sum(_.bytesSent.sum),
      "compile.soql_statements" -> sum(_.soqlStatements.sum),
      "compile.soql_chars" -> sum(_.soqlChars.sum),
      "remote.rows_scanned" -> sum(_.rowsScanned.sum),
      "sources.rows_returned" -> sum(_.rowsReturned.sum),
      "sources.poll_ticks" -> pollTicks.sumThenReset().toDouble,
      "sources.poll_wait_s" -> pollWaitMs.sumThenReset() / 1000.0) ++
      WireServer.Kinds.map(k => s"sources.requests.$k" -> sum(_.requestCount(k)))
  }
}

/** Read-only corpus and relational queries on seeded-order copies of
  * sf-shaped tables; each query's row count and output hash must match
  * the expected values, which do not depend on the seed. */
final class CorpusQueries(spark: SparkSession, seed: Long) extends Workload {
  val queries: Seq[String] = Metrics.Queries
  private val scale = Data.Scale(customers = 1500, orders = 15000, docs = 2000)
  override def inputRows: Long =
    3 * scale.docs + scale.customers + scale.orders + scale.lineitems
  override def warmups: Int = 2
  override def inputDescription: String =
    s"3 queries x ${scale.docs} documents + q03 over ${scale.customers + scale.orders + scale.lineitems} rows"

  private var sfDir: String = _
  private var outputs = Map.empty[String, (Long, String)]
  private var first = Option.empty[Map[String, (Long, String)]]
  private var queryS = Map.empty[String, Double]

  override def stage(dir: Path): Unit = {
    sfDir = dir.toString
    Data.writeShuffled(Data.documents(spark, scale), "doc_id", seed, s"$sfDir/documents.parquet")
    Data.writeShuffled(Data.customer(spark, scale), "c_custkey", seed, s"$sfDir/customer.parquet")
    Data.writeShuffled(Data.orders(spark, scale), "o_orderkey", seed, s"$sfDir/orders.parquet")
    Data.writeShuffled(Data.lineitem(spark, scale)
      .withColumn("__k", col("l_orderkey") * 8 + col("l_linenumber")), "__k", seed,
      s"$sfDir/lineitem.parquet")
  }

  override def reset(): Unit = ()

  override def pass(): Unit = {
    outputs = queries.map { q =>
      spark.sparkContext.setLocalProperty(SparkLayer.ScopeKey, q)
      val t0 = System.nanoTime()
      val rows = try Trace.span(Trace.Query, q)(graft.SparkEntry.queries(q)(spark, sfDir).collect())
      finally spark.sparkContext.setLocalProperty(SparkLayer.ScopeKey, null)
      queryS = queryS.updated(q, (System.nanoTime() - t0) / 1e9)
      q -> (rows.length.toLong, CorpusQueries.hash(rows))
    }.toMap
  }

  override def check(): Checked = {
    System.err.println("[perfbench] query wall: " + queries.map(q => f"$q ${queryS(q)}%.2f s").mkString(", "))
    val problems = Seq.newBuilder[String]
    val expected = first.getOrElse(outputs)
    if (first.isEmpty) {
      first = Some(outputs)
      System.err.println("[perfbench] outputs: " + queries.map(q => s"$q -> ${outputs(q)}").mkString(", "))
    }
    queries.foreach { q =>
      if (outputs(q) != expected(q)) problems += s"$q: ${outputs(q)} differs from the first pass ${expected(q)}"
      val e = CorpusQueries.Expected.get(q)
      if (!e.contains(outputs(q))) problems += s"$q: ${outputs(q)} differs from the expected ${e.orNull}"
    }
    val p = problems.result()
    Checked(queries.size, p.size, p)
  }

  override def drainCounters(): Map[String, Double] = Map(
    "functions.guard_trips" -> CorpusQueries.guardTrips().toDouble)
}

object CorpusQueries {
  /** (row count, output hash) per query; the same on every seed. A
    * change to a query's output must update these with the reason. */
  val Expected: Map[String, (Long, String)] = Map(
    "d03_minhash_lsh" -> (76L, "1317b193876907eb0accbedb75c90411"),
    "d06_dup_clusters" -> (2000L, "db78210601ff43044d731e5ccdf0c12a"),
    "t09_repetition" -> (2000L, "e9644b52cb911ff3fdd7cd35f6795e59"),
    "q03_top_customers" -> (10L, "0b6be39986e8f046b8f94415fdef9e7c"))

  /** Order-insensitive hash of a result: each row rendered with doubles
    * at 12 significant digits (sums may differ in the last bits with
    * the row order), sorted, then MD5. */
  def hash(rows: Array[Row]): String = {
    def cell(v: Any): String = v match {
      case null => "∅"
      case d: Double => f"$d%.11e"
      case f: Float => f"${f.toDouble}%.6e"
      case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case other => other.toString
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(r => r.toSeq.map(cell).mkString("|")).sorted.foreach { line =>
      md.update(line.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private var lastTrips = 0L

  /** Guard trips since the last call, summed over the five guard
    * families' process-wide counters. */
  def guardTrips(): Long = {
    val now = Seq(graft.functions.TextOps.ppjoinGuardTrips, graft.functions.TextOps.minhashGuardTrips,
      graft.functions.TextOps.simhashGuardTrips, graft.functions.VectorOps.lshGuardTrips,
      graft.functions.VectorOps.ivfGuardTrips).map(_.get()).sum
    val d = now - lastTrips
    lastTrips = now
    d
  }
}
