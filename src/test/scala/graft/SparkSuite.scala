package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: graft's session on an explicit
  * `local[4]` with 4 shuffle partitions, whatever SPARK_GRAFT_CPUS says. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.builder("local[4]", 4)
    .appName(getClass.getSimpleName)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh_").toString)
    .getOrCreate()

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM — do not stop it here
    super.afterAll()
  }
}
