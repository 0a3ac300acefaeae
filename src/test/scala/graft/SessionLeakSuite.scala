package graft

import java.lang.management.ManagementFactory
import javax.management.ObjectName
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{ConnectorTableIO, ParquetTableIO}
import graft.sources.{InMemoryOrg, RemoteOrgRegistry}

/** Repeated table rewrites must not leave sessions behind. In Spark
  * 4.1, a `cache()`/`count()`/`unpersist(true)` cycle keeps one cloned
  * SparkSession alive per call. No join is needed: eight cycles of a
  * join-free projection over the parquet corpus left eight more live
  * sessions, while the same over a local `Seq`, or eight
  * `localCheckpoint(true)` calls, left none. So an `overwrite` that
  * materialized its input that way grew the JVM by one session per
  * call; both now use `localCheckpoint`. */
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
}
