package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-memory frequency sketches over unbounded token streams.
  *
  * The reference has no sketch machinery (its aggregation is delegated
  * to SOQL, mapping_parser.py:5), but a 100 TB curation pipeline needs
  * frequency estimates whose state does NOT grow with the corpus. The
  * Count-Min sketch here is `depth × width` counters total — the same
  * 4 KiB-ish sketch whether the corpus is 60k rows or 100 TB — and
  * every hash is md5-derived ([[TextOps.tokenHash64]]), so the entire
  * estimator is integer-deterministic and replayable in the DuckDB
  * oracle, unlike RNG-seeded sketch libraries.
  */
object SketchOps {

  private def bucketOf(tok: Column, r: Int, width: Int): Column =
    TextOps.tokenHash64(concat(lit(s"$r:"), tok)).bitwiseAND(width - 1)

  /** Count-Min estimates for the corpus's `topK` most frequent tokens.
    *
    * Build: ONE tokenize+explode pass aggregates the corpus to its exact
    * per-token count table (map-side combinable, vocab-bounded output);
    * the sketch derives from that table — a cell's counter is the SUM of
    * the counts of the tokens hashing into it, which equals counting
    * instances directly (addition is associative), so the sketch is
    * value-identical while the corpus is tokenized once instead of
    * twice, the `depth` salted md5 bucket hashes are computed per
    * DISTINCT token instead of per instance, and the only materialized frame
    * is the vocab-bounded count table (the previous token-stream cache
    * grew with the corpus — the wrong shape at 100 TB).
    *
    * Probe: estimate(t) = min over rows of the t-bucket counters (the
    * classic CMS upper bound: always >= the true count, inflated only
    * by collisions). The probe set and the sketch are both tiny, so the
    * lookup join broadcasts.
    *
    * Output: (tok, true_n, cms_est) for the topK tokens by exact count
    * — carrying the exact count alongside pins the estimator's
    * one-sided error in the oracle compare (cms_est >= true_n always).
    *
    * `width` must be a power of two (bucket = hash & (width-1)). */
  def cmsHeavyHitters(df: DataFrame, textCol: String,
      depth: Int = 4, width: Int = 1024, topK: Int = 10): DataFrame = {
    require(width > 0 && (width & (width - 1)) == 0,
      s"width must be a power of two, got $width")
    // the exact count table feeds both the sketch and the top-K;
    // materialize it BEFORE the branch fan-out
    val counts = df.select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("true_n")).localCheckpoint()
    val cells = counts.select(col("true_n"),
      explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), bucketOf(col("tok"), r, width).as("bucket"))): _*))
        .as("rb"))
      .select(col("rb.r").as("r"), col("rb.bucket").as("bucket"), col("true_n"))
    val sketch = cells.groupBy("r", "bucket").agg(sum(col("true_n")).as("c"))
    val top = counts
      .orderBy(col("true_n").desc, col("tok")).limit(topK)
    val probes = top.select(col("tok"), col("true_n"),
      explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), bucketOf(col("tok"), r, width).as("bucket"))): _*))
        .as("rb"))
      .select(col("tok"), col("true_n"),
        col("rb.r").as("r"), col("rb.bucket").as("bucket"))
    probes.join(sketch, Seq("r", "bucket"))
      .groupBy("tok", "true_n").agg(min(col("c")).as("cms_est"))
      .orderBy(col("true_n").desc, col("tok"))
  }
}
