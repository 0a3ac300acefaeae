package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize a K-times replica of an sf test-data directory — the
  * sf1.0 (~6M-row lineitem) input the full-scale SCALING.md datapoint
  * runs on, derived deterministically from the driver's sf0.1 tables
  * (TESTDATA.md says don't regenerate the provided dirs; this writes a
  * NEW dir and never touches the source).
  *
  * Replication preserves each table's internal structure while keeping
  * copies disjoint, so work grows linearly instead of combinatorially:
  *  - star-schema tables shift every key column by copy*1e8 — joins
  *    (orders->customer, lineitem->orders/part/supplier) keep their
  *    exact fan-out per copy and never match across copies;
  *  - name columns (c_name/s_name/p_name) gain a per-copy " #0k0k"
  *    suffix: real TPC-H names derive from the (shifted) keys, so
  *    leaving them verbatim would plant every name as a 10-way exact
  *    cross-copy duplicate and blow the edit-distance join (d07)
  *    quadratically in copies — a replication artifact, not a real
  *    shape. Appending the SAME suffix to every name in a copy
  *    preserves every intra-copy pairwise edit distance exactly, and
  *    two distinct copies' suffixes differ in 2 chars, so no
  *    cross-copy pair enters the <=1 threshold;
  *  - fixed dimensions (region, nation) are NOT replicated — as in
  *    TPC-H, where nation stays 25 rows at every sf — so nationkey
  *    fan-in grows with sf, which is the real shape;
  *  - documents rewrites every token with a per-copy prefix
  *    (ScaleCheck's convention): planted near-dups stay near-dup
  *    WITHIN a copy, no shingle is shared ACROSS copies — pair counts
  *    scale linearly, where naive row duplication would explode them
  *    quadratically in copies;
  *  - embeddings apply a per-copy deterministic SIGN-FLIP of vector
  *    components — a reflection, i.e. an isometry: intra-copy distances
  *    and cosines are EXACTLY preserved (the dup structure kmeans/ANN
  *    see is unchanged), while cross-copy cosines scatter to ~0 so no
  *    copy is a near-dup of another. Copy 0 is the identity for every
  *    table: the original data nests inside the replica verbatim.
  *
  *   sbt "runMain graft.tools.ScaleUpData /root/testdata/sf0.1 /tmp/sf1.0 10"
  */
object ScaleUpData {
  private[graft] val Shift = 100000000L // beyond any source key range

  /** Per-copy vector transform: component sign-flip by xxhash64 parity
    * of (copy, index). A reflection, so for any two vectors in the same
    * copy dot(f(a),f(b)) = sum(±a_i·±b_i) = dot(a,b) EXACTLY — the
    * signs square away term by term, bit-exact even in float — while
    * vectors from different copies see independent sign patterns and
    * land near-orthogonal. Copy 0 is the identity. Pinned in
    * ScaleUpSuite. */
  private[graft] def signFlip(vecCol: String, k: Int):
      org.apache.spark.sql.Column =
    if (k == 0) col(vecCol)
    else expr(
      s"""transform($vecCol, (x, i) ->
            CASE WHEN pmod(xxhash64(concat('c$k/', i)), 2) = 0
                 THEN x ELSE -x END)""")

  /** Per-copy name tag: the same " #0k0k" suffix on every name in a
    * copy, so every intra-copy pairwise edit distance is preserved
    * exactly, while any two copies' suffixes sit at edit distance >=2
    * (" #0101" vs " #0202" = 2 substitutions) — outside d07's
    * edit-distance-1 join, with a margin of exactly one edit: widening
    * that threshold to <=2 would need a wider tag. Copy 0 is untagged.
    * Pinned in ScaleUpSuite. */
  private[graft] def nameTag(nameCol: String, k: Int):
      org.apache.spark.sql.Column =
    if (k == 0) col(nameCol)
    else concat(col(nameCol), lit(f" #$k%02d$k%02d"))

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUpData <srcDir> <dstDir> <copies>")
    val Array(src, dst, copiesStr) = args
    val copies = copiesStr.toInt
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def tbl(name: String) = graft.Tables(spark, src, name)

    def shifted(name: String, keyCols: Seq[String],
        nameCols: Seq[String] = Nil): DataFrame =
      (0 until copies).map { k =>
        val keyed = keyCols.foldLeft(tbl(name))((df, c) =>
          df.withColumn(c, col(c) + lit(k * Shift)))
        nameCols.foldLeft(keyed)((df, c) => df.withColumn(c, nameTag(c, k)))
      }.reduce(_ unionByName _)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    // fixed dims: same rows at every sf (the TPC-H convention)
    write("region", tbl("region"))
    write("nation", tbl("nation"))

    write("customer", shifted("customer", Seq("c_custkey"), Seq("c_name")))
    write("supplier", shifted("supplier", Seq("s_suppkey"), Seq("s_name")))
    write("part", shifted("part", Seq("p_partkey"), Seq("p_name")))
    write("orders", shifted("orders", Seq("o_orderkey", "o_custkey")))
    write("lineitem",
      shifted("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")))
    write("events", shifted("events", Seq("event_id", "user_id")))

    // documents: per-copy token prefix keeps dup structure intra-copy
    // only; n_chars re-derived so the column stays true to the text
    write("documents", (0 until copies).map { k =>
      val base = tbl("documents")
        .withColumn("doc_id", col("doc_id") + lit(k * Shift))
      if (k == 0) base
      else base
        .withColumn("text",
          regexp_replace(col("text"), "(\\S+)", s"c$k$$1"))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionByName _))

    // embeddings: per-copy component sign-flip (see [[signFlip]])
    write("embeddings", (0 until copies).map { k =>
      tbl("embeddings")
        .withColumn("vec_id", col("vec_id") + lit(k * Shift))
        .withColumn("embedding", signFlip("embedding", k))
    }.reduce(_ unionByName _))

    spark.stop()
  }
}
