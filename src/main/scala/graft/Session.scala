package graft

import org.apache.spark.sql.SparkSession

/** The one place graft's Spark conf is decided: every main and the test
  * base build their session here, so a conf change reaches the oracle
  * run ([[Verify]]), the bench ([[Bench]]), the tools and the tests
  * together. A caller that pins a conf on purpose chains one `.config`
  * onto the returned builder and says why.
  *
  * Environment, read here and nowhere else:
  *   - `SPARK_GRAFT_CPUS`: local cores (default: the JVM's available
  *     processors);
  *   - `SPARK_GRAFT_MASTER`: master URL (default `local[cpus]`); the
  *     SCALING.md smoke sets `local-cluster[n,cores,mem]` to get separate
  *     executor JVMs with the serialization and broadcast boundaries
  *     that `local[n]` hides;
  *   - `SPARK_GRAFT_SHUFFLE_PARTS`: `spark.sql.shuffle.partitions`
  *     (default cpus); above-sf0.1 runs scale it with the data.
  *
  * The builder does not install [[GraftExtensions]]: the extensions'
  * optimizer rules would change the plans of sessions that never asked
  * for them. */
object Session {
  private lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors())(_.toInt)

  /** `SPARK_GRAFT_MASTER` when set. A run under a non-default master
    * keeps its bench floors and detail file apart from the canonical
    * `local[N]` ones. */
  val masterOverride: Option[String] = sys.env.get("SPARK_GRAFT_MASTER")

  /** The environment's session: master, cores and shuffle partitions
    * from the three variables above. */
  def builder(): SparkSession.Builder =
    builder(masterOverride.getOrElse(s"local[$cpus]"),
      sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS").fold(cpus)(_.toInt))

  /** An explicit session that ignores the environment (the test base and
    * the crash-test child JVMs). UTC session time zone, no UI. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // executors forked by local-cluster don't inherit the launching
    // JVM's classpath, so graft's classes are passed through explicitly
    if (master.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath",
        System.getProperty("java.class.path"))
    else b
  }
}
