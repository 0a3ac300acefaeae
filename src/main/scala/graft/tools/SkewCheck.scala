package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planted-hot-gram skew demonstration for the t23/p20 novelty plan.
  *
  * Plants one 3-gram in 50% of all documents (a synthetic stop-gram),
  * replicates the corpus 1x/2x/4x/8x (per-copy token prefixes keep
  * background gram structure linear, the planted triple stays
  * UNPREFIXED so it spans every copy), and measures the gram-keyed
  * shuffle both ways, deterministically — rows per gram-hash bucket,
  * not wall time:
  *
  *   - `window burden`: rows landing in each of the 32 gram-hash
  *     buckets of the RAW distinct (doc, gram) pairs — what the
  *     pre-r9 `min().over(Window.partitionBy(gram))` forces one task
  *     to co-locate and materialize. The hot bucket grows with the
  *     CORPUS (every planted row), the mean grows with
  *     grams/32 — max/mean diverges as data grows.
  *   - `agg burden`: rows a reduce task reads after map-side partial
  *     aggregation — at most one row per (map partition, gram), so
  *     the hot gram contributes <= #map-partitions rows no matter how
  *     many documents carry it. max/mean stays ~1.
  *
  * Wall-clock of both full shapes is reported as secondary evidence
  * (a 32-core local box under-sells a 1000-executor imbalance; the
  * bucket counts are the scale-invariant signal).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.SkewCheck"
  */
object SkewCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.functions.TextOps

    val base = graft.Tables.corpus(spark, sfDir).select("doc_id", "text")
    def replica(k: Int): DataFrame = base.select(
      (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
      regexp_replace(col("text"), "(\\S+)", s"c$k$$1").as("text"))
    // plant AFTER replication so the hot triple spans every copy:
    // 50% of ALL docs share it at every scale
    def corpus(copies: Int): DataFrame =
      (0 until copies).map(replica).reduce(_ unionByName _)
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
            concat(col("text"), lit(" hotgram1 hotgram2 hotgram3")))
            .otherwise(col("text")).as("text"))

    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .where(size(col("t")) >= 3)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("t")) - 2),
          i => concat_ws("\u0001",
            element_at(col("t"), i), element_at(col("t"), i + 1),
            element_at(col("t"), i + 2)))).as("gram"))
      .distinct()

    // Bucket count scales WITH the data (32 per copy), modeling a real
    // cluster where shuffle partitions grow with input so the per-task
    // uniform share stays fixed. The hot gram cannot be split across
    // buckets — its rows all land in one — so the window burden's
    // max/mean DIVERGES with scale while the agg burden stays flat.
    /** (max, mean) rows per gram-hash bucket of the raw pairs — the
      * window formulation's per-task burden. */
    def windowBurden(g: DataFrame, buckets: Int): (Long, Long) = {
      val c = g.groupBy(pmod(hash(col("gram")), lit(buckets)).as("b"))
        .agg(count(lit(1)).as("n"))
        .agg(max("n"), avg("n")).head()
      (c.getLong(0), c.getDouble(1).toLong)
    }

    /** (max, mean) rows per gram-hash bucket AFTER map-side partials:
      * at most one row per (map partition, gram). */
    def aggBurden(g: DataFrame, buckets: Int): (Long, Long) = {
      val c = g.select(spark_partition_id().as("mp"), col("gram")).distinct()
        .groupBy(pmod(hash(col("gram")), lit(buckets)).as("b"))
        .agg(count(lit(1)).as("n"))
        .agg(max("n"), avg("n")).head()
      (c.getLong(0), c.getDouble(1).toLong)
    }

    def timeShape(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def windowShape(g: DataFrame): Long = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
      g.withColumn("first_doc", min(col("doc_id")).over(w))
        .groupBy("doc_id")
        .agg(count(lit(1)), sum(when(col("first_doc") === col("doc_id"), 1L)
          .otherwise(0L))).count()
    }
    def aggShape(g: DataFrame): Long = {
      val firstDoc = g.groupBy("gram").agg(min(col("doc_id")).as("first_doc"))
      val nNovel = firstDoc.groupBy(col("first_doc").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
        .join(nNovel, Seq("doc_id"), "left").count()
    }

    // warmup: codegen/JIT + parquet footers off the clock
    { val g = grams(corpus(1)).localCheckpoint()
      windowShape(g); aggShape(g) }

    println("| copies | grams | window max/bucket | window mean | window skew | agg max/bucket | agg mean | agg skew | window sec | agg sec |")
    println("|---|---|---|---|---|---|---|---|---|---|")
    for (copies <- Seq(1, 2, 4, 8)) {
      val g = grams(corpus(copies)).localCheckpoint()
      val total = g.count()
      val (wMax, wMean) = windowBurden(g, 32 * copies)
      val (aMax, aMean) = aggBurden(g, 32 * copies)
      val wSec = timeShape(windowShape(g))
      val aSec = timeShape(aggShape(g))
      println(f"| ${copies}x | $total | $wMax | $wMean | ${wMax.toDouble / wMean}%.2f | $aMax | $aMean | ${aMax.toDouble / aMean}%.2f | $wSec%.2f | $aSec%.2f |")
    }
    spark.stop()
  }
}
