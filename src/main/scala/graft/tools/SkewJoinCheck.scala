package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** AQE skew-join vs manual salting — the measured comparison behind the
  * "when do you still need [[graft.functions.ScaleOps.saltedJoin]]"
  * guidance in SCALING.md.
  *
  * Workload: a fact table whose hot key holds 50% of all rows joined to
  * a 10k-row dimension, broadcast disabled so the join is the
  * shuffle-based SMJ a 100 TB fact×fact join degrades to. Three plans:
  *
  *   1. plain join, AQE skew-join OFF — the divergent baseline: the hot
  *      key's entire row mass lands on ONE reduce task;
  *   2. plain join, AQE skew-join ON (thresholds scaled to the local
  *      data size the way a real cluster's 256 MB default relates to
  *      real partition sizes) — AQE splits the oversized partition at
  *      runtime, replicating the matching dimension side per split;
  *   3. [[graft.functions.ScaleOps.saltedJoin]] — the pre-shuffle fix:
  *      the salt spreads the hot key BEFORE the exchange, so no
  *      oversized partition ever materializes.
  *
  * Metric: output rows per result partition (max / mean) — the
  * deterministic, hardware-independent burden signal (same convention
  * as [[SkewCheck]]); wall seconds printed as secondary evidence only.
  *
  *   sbt "runMain graft.tools.SkewJoinCheck"
  */
object SkewJoinCheck {

  /** (maxRowsPerPartition, meanRowsPerPartition, seconds). */
  def burden(df: DataFrame): (Long, Long, Double) = {
    val t0 = System.nanoTime()
    val sizes = df.rdd
      .mapPartitions(it => Iterator.single(it.size.toLong), true)
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    val nonEmpty = sizes.filter(_ > 0)
    (nonEmpty.max, nonEmpty.sum / math.max(1, nonEmpty.length), secs)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder()
      // the burden metric is rows per result partition, so its figures
      // depend on the partition count: pinned to compare across hosts
      .config("spark.sql.shuffle.partitions", "32")
      // force the shuffle join: the dimension WOULD broadcast here, but
      // at fact×fact scale it can't — that is the plan under test
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nFact = 2000000L
    val nDim = 10000
    // 50% of the fact on key 0; the rest uniform over the dimension
    val fact = spark.range(nFact).select(
      when(col("id") % 2 === 0, 0L)
        .otherwise(pmod(xxhash64(col("id")), lit(nDim.toLong))).as("k"),
      col("id").as("payload"))
    val dim = spark.range(nDim).select(col("id").as("k"),
      concat(lit("dim_"), col("id")).as("attr"))

    def withConf[A](pairs: (String, String)*)(body: => A): A = {
      val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    // 1. no AQE skew handling: the hot key's partition carries ~nFact/2
    val (mx1, mean1, s1) = withConf(
      "spark.sql.adaptive.skewJoin.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      burden(fact.join(dim, "k"))
    }
    println(f"unsalted, skewJoin off: max=$mx1 mean=$mean1 " +
      f"ratio=${mx1.toDouble / mean1}%.2f (${s1}%.1fs)")

    // 2. AQE skew-join: thresholds scaled so the local hot partition is
    // "oversized" the way a real >256 MB partition is on a cluster
    val (mx2, mean2, s2) = withConf(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      burden(fact.join(dim, "k"))
    }
    println(f"unsalted, skewJoin on:  max=$mx2 mean=$mean2 " +
      f"ratio=${mx2.toDouble / mean2}%.2f (${s2}%.1fs)")

    // 3. manual salt: spread BEFORE the shuffle
    val (mx3, mean3, s3) = withConf(
      "spark.sql.adaptive.skewJoin.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      burden(graft.functions.ScaleOps.saltedJoin(fact, dim, "k", 16))
    }
    println(f"salted (factor 16):     max=$mx3 mean=$mean3 " +
      f"ratio=${mx3.toDouble / mean3}%.2f (${s3}%.1fs)")

    // the skewed-AGGREGATION contrast: AQE cannot split an aggregation's
    // hash partition (correctness needs key co-location), so the manual
    // two-level fold is still the only fix there — measured via the
    // reduce-side burden of a count over the same hot key
    val rawAgg = fact.groupBy("k").agg(count(lit(1)).as("n"))
    println("aggregation contrast: partial aggregation already collapses " +
      s"the hot key map-side (rows per reduce task <= map partitions): " +
      s"${rawAgg.count()} groups")
    spark.stop()
  }
}
