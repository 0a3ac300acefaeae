package graft

import java.lang.management.ManagementFactory
import javax.management.ObjectName
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.engine.{ConnectorTableIO, MigrationEngine, ParquetTableIO}
import graft.functions.{RankFusion, ScaleOps, TextOps, UnigramLM, VectorOps}
import graft.sources.{InMemoryOrg, RemoteOrgRegistry}
import graft.spec.MappingSpec

/** Repeated table rewrites must not leave sessions behind. In Spark
  * 4.1, a `cache()`/`count()`/`unpersist(true)` cycle keeps one cloned
  * SparkSession alive per call. No join is needed: eight cycles of a
  * join-free projection over the parquet corpus left eight more live
  * sessions, while the same over a local `Seq`, or eight
  * `localCheckpoint(true)` calls, left none. So an `overwrite` that
  * materialized its input that way grew the JVM by one session per
  * call; both now use `localCheckpoint`, as every operator does. */
class SessionLeakSuite extends SparkSuite {

  /** Live `classic.SparkSession` instances in this JVM. The
    * DiagnosticCommand histogram runs a full GC first, so only
    * reachable sessions count. */
  private def liveSessions(): Long = {
    val histogram = ManagementFactory.getPlatformMBeanServer.invoke(
      new ObjectName("com.sun.management:type=DiagnosticCommand"),
      "gcClassHistogram", Array[AnyRef](Array.empty[String]),
      Array(classOf[Array[String]].getName)).asInstanceOf[String]
    histogram.linesIterator.map(_.trim.split("\\s+")).collectFirst {
      case Array(_, n, _, "org.apache.spark.sql.classic.SparkSession", _*) =>
        n.toLong
    }.getOrElse(0L)
  }

  test("20 ParquetTableIO.update and 20 ConnectorTableIO.overwrite calls leave at most one more live session") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_leak_").toString
    val parquet = new ParquetTableIO(spark, dir)
    (1 to 1000).map(i => (s"ID$i", i.toLong)).toDF("Id", "v")
      .write.parquet(parquet.path("t"))

    val schema = StructType(Seq(
      StructField("Id", StringType), StructField("Amount", LongType)))
    val org = new InMemoryOrg
    org.createTable("Account", schema,
      (1 to 100).map(i => Row(f"ID$i%03d", i.toLong)))
    RemoteOrgRegistry.register("leak_org", org)
    val connector = new ConnectorTableIO(spark, "leak_org")
    val bump = (1 to 10).map(i => (f"ID$i%03d", 1L)).toDF("Id", "d")

    val before = liveSessions()
    (1 to 20).foreach { k =>
      val upd = (1 to 10).map(i => (s"ID$i", k.toLong)).toDF("Id", "v")
      assert(parquet.update("t", upd) == 10)
    }
    (1 to 20).foreach { _ =>
      // a join plan, the shape update/upsert hand to overwrite
      val acc = connector.read("Account")
      connector.overwrite("Account", acc.join(broadcast(bump), Seq("Id"), "left")
        .select(col("Id"), (col("Amount") + coalesce(col("d"), lit(0L))).as("Amount")))
    }
    val after = liveSessions()
    info(s"live SparkSession instances: $before before, $after after")

    assert(parquet.read("t").where($"Id" === "ID1").head().getLong(1) == 20L)
    assert(connector.read("Account").where($"Id" === "ID001").head().getLong(1) == 21L)
    assert(after - before <= 1,
      s"live SparkSession instances grew from $before to $after")
  }

  test("20 MigrationEngine.migrate calls through ConnectorTableIO leave at most one more live session") {
    def schema(cols: String*) = StructType(cols.map(StructField(_, StringType)))
    val srcOrg = new InMemoryOrg
    srcOrg.createTable("Account", schema("Id", "Name", "New_Id__c"),
      (1 to 50).map(i => Row(f"A$i%03d", s"acc$i", null)))
    val dstOrg = new InMemoryOrg
    dstOrg.createTable("Account__c", schema("Id", "Old_Id__c", "Name"))
    RemoteOrgRegistry.register("leak_mig_src", srcOrg)
    RemoteOrgRegistry.register("leak_mig_dst", dstOrg)
    def elem(from: String, to: String, op: String, kind: String) =
      s"""{"table_src": "Account", "column_src": "$from", "table_dst": "Account__c",
         "column_dst": "$to", "operation": "$op", "column_type": "$kind"}"""
    val spec = MappingSpec.fromJson(s"""[{"source_object": "Account",
      "destination_object": "Account__c", "mapping": [
      ${elem("Id", "Old_Id__c", "copy", "src_id")}, ${elem("Name", "Name", "copy", "regular")},
      ${elem("New_Id__c", "Id", "upd_src", "dst_id")}]}]""").head
    val src = new ConnectorTableIO(spark, "leak_mig_src")
    val dst = new ConnectorTableIO(spark, "leak_mig_dst", srcIdColumn = Some("Old_Id__c"))
    val engine = new MigrationEngine(src, dst)

    val before = liveSessions()
    (1 to 20).foreach { _ =>
      val m = engine.migrate(spec)
      assert(m.extracted == 50 && m.inserted == 50 && m.updated == 50, m)
    }
    val after = liveSessions()
    info(s"live SparkSession instances: $before before, $after after")

    assert(dstOrg.rowCount("Account__c") == 1000)
    // the last run's Ids are the ones written back
    val newest = dstOrg.rows("Account__c").drop(950).map(r => r.getString(1) -> r.getString(0)).toMap
    assert(srcOrg.rows("Account").map(r => r.getString(0) -> r.getString(2)).toMap == newest)
    assert(after - before <= 1,
      s"live SparkSession instances grew from $before to $after")
  }

  test("repeated operator calls leave no session, cache entry or persisted RDD behind") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.corpus(spark, sf)
    val emb = Tables(spark, sf, "embeddings")
    val delta = docs.where(col("doc_id") % 20 === 0)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val store = java.nio.file.Files.createTempDirectory("graft_leak_store_")
      .toString
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    val terms = Seq((0L, "data"), (0L, "the"), (1L, "model")).toDF("qid", "term")
    val ops: Seq[(String, () => Any)] = Seq(
      "d03" -> (() => SparkEntry.queries("d03_minhash_lsh")(spark, sf).count()),
      "ngramJaccardPairs" -> (() =>
        TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5).count()),
      "containmentPairs" -> (() =>
        TextOps.containmentPairs(docs, "doc_id", "text", 3, 0.8).count()),
      "incrementalJaccardPairs" -> (() =>
        TextOps.incrementalJaccardPairs(delta, standing, "doc_id", "text",
          n = 3, numHashes = 128, bands = 32, threshold = 0.5).count()),
      "incrementalJaccardPairsFromStore" -> (() =>
        TextOps.incrementalJaccardPairsFromStore(delta, standing, "doc_id",
          "text", store, n = 3, numHashes = 128, bands = 32,
          threshold = 0.5).count()),
      "simHashPairs" -> (() => TextOps.simHashPairs(
        TextOps.simHash(docs, "doc_id", "text"), "doc_id", 3).count()),
      "lshCosinePairs" -> (() => VectorOps.lshCosinePairs(emb, "vec_id",
        "embedding", bits = 16, bands = 8, threshold = 0.9).count()),
      "ivfCosinePairs" -> (() => VectorOps.ivfCosinePairs(emb, "vec_id",
        "embedding", threshold = 0.9, nlist = 8, nassign = 2).count()),
      "connectedComponents" -> (() => ScaleOps.connectedComponents(docs,
        "doc_id", TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5),
        smallEdgeLimit = 0L).count()),
      "runningTotal" -> (() => ScaleOps.runningTotal(
        docs.select(col("doc_id")), "doc_id", Seq(col("doc_id"))).count()),
      "bm25Scores" -> (() => RankFusion.bm25Scores(docs, "doc_id", "text",
        terms, "qid", "term").count()),
      "bpeTrain" -> (() => TextOps.bpeTrain(docs, "text", numMerges = 8)),
      "UnigramLM.train" -> (() =>
        UnigramLM.train(docs, "text", vocabSize = 40, emIters = 1)))

    // caches other suites' tests made are theirs, not the operators'
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.size
    val before = liveSessions()
    for ((name, op) <- ops; _ <- 1 to 3) {
      op()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left a cached table in the session")
    }
    val after = liveSessions()
    info(s"live SparkSession instances: $before before, $after after")
    assert(after - before <= 1,
      s"live SparkSession instances grew from $before to $after")
    // every frame the calls built is unreachable now: the ContextCleaner
    // frees their checkpoint blocks once a GC has collected them
    eventually(timeout(60.seconds), interval(500.millis)) {
      System.gc()
      val left = sc.getPersistentRDDs.size
      assert(left <= rddsBefore,
        s"$left persisted RDDs remain, $rddsBefore before the calls")
    }
  }
}
