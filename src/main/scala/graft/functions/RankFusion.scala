package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid (lexical + vector) retrieval: BM25 text ranking and
  * reciprocal-rank fusion — the standard RAG retrieval stack
  * (BM25 arm + embedding arm, fused by rank, not by score).
  *
  * Cross-engine determinism stance (the same one [[graft.queries
  * .TextAnalysis]] t07/t12 use): BM25's `ln`-based idf is replaced by
  * the raw idf odds `(N - df + 0.5) / (df + 0.5)` — a per-term monotone
  * transform computable as a fixed IEEE expression tree — and each
  * term's contribution is floored to integer micro-units BEFORE the
  * per-document sum, so the aggregate is an exact long addition with no
  * accumulation-order sensitivity. Fusion compares only small rationals
  * of integer ranks (`1/(60+r)`), identical on any IEEE engine. No
  * float ever crosses an ORDER BY whose operands aren't reproducible
  * bit-for-bit.
  */
object RankFusion {

  /** Per-(query, doc) BM25 score in integer micro-units, from a corpus
    * of documents and a set of query term lists. `queries` supplies
    * (queryIdCol, termCol) rows — one row per distinct query term (the
    * "bag of query terms" form; duplicate query terms carry no extra
    * weight, as in standard BM25).
    *
    * Scale shape: tf / df / dl are linear map-side-combinable
    * aggregations over the corpus; the query-term table is orders of
    * magnitude smaller and BROADCAST, so corpus tokens are matched in
    * place and only the matched sliver (docs sharing a query term)
    * reaches the per-pair aggregate. Nothing corpus-sized shuffles on a
    * string: terms ride the broadcast join only.
    *
    * k1 = 1.2, b = 0.75 (the standard defaults), scale = 1e6. */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, termCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("__doc"),
      explode(TextOps.tokens(lower(col(textCol)))).as("__term"))
    // tf serves the document-frequency aggregate AND the query join; dl
    // serves lengths and the avgdl scalar — checkpoint both so the
    // corpus is tokenized twice total, not once per consumer
    val tf = toks.groupBy("__doc", "__term").agg(count(lit(1)).as("__tf"))
      .localCheckpoint()
    val dl = toks.groupBy("__doc").agg(count(lit(1)).as("__dl"))
      .localCheckpoint()
    val dfreq = tf.groupBy("__term").agg(count(lit(1)).as("__df"))
    val stats = dl.agg(sum("__dl").as("__total"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("__n"))))
      .select(col("__n"),
        (col("__total").cast("double") / col("__n")).as("__avgdl"))
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(termCol).as("__term"))
    // one fixed expression tree, mirrored verbatim in the DuckDB oracle:
    // every operand is an exactly-representable integer or a shared
    // literal, every op a single correctly-rounded IEEE step
    val contrib = floor(lit(1000000.0) *
      (((col("__n") - col("__df")) + lit(0.5)) / (col("__df") + lit(0.5))) *
      ((col("__tf") * lit(2.2)) /
        (col("__tf") + lit(1.2) *
          (lit(0.25) + lit(0.75) * (col("__dl").cast("double") / col("__avgdl"))))))
    // no self-exclusion here: query ids and doc ids are separate
    // namespaces as far as this scorer is concerned — retrieval setups
    // where queries ARE corpus docs (s09) filter `doc_id != query_id`
    // on the result themselves
    tf.join(broadcast(q), "__term")
      .join(dfreq, "__term")
      .join(dl, "__doc")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("__doc").as("doc_id"), contrib.as("__c"))
      .groupBy("query_id", "doc_id")
      .agg(sum("__c").as("bm25"))
  }

  /** Top-k ranks per query from an integer-scored table — deterministic
    * by (score desc, doc_id). */
  def rankByScore(scored: DataFrame, scoreCol: String, k: Int,
      rankAs: String): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreCol).desc, col("doc_id"))
    scored.withColumn(rankAs, row_number().over(w).cast("long"))
      .where(col(rankAs) <= k)
      .select(col("query_id"), col("doc_id"), col(rankAs))
  }

  /** Reciprocal-rank fusion of two (query_id, doc_id, rank) lists:
    * `1/(c + r_a) + 1/(c + r_b)` with a missing list contributing 0,
    * re-ranked (fused desc, doc_id) and cut to k. The fused value is a
    * sum of two rationals of small integers — bit-identical on any IEEE
    * engine — and is never emitted; output carries the ranks themselves
    * (0 = absent from that arm). Fusing by RANK rather than score is
    * what makes the two arms commensurable without calibration.
    *
    * Scale shape: both inputs are top-k slivers (k·|queries| rows), so
    * the fusion join and final window cost nothing at any corpus size —
    * the heavy lifting stays in the arms, each prunable independently
    * (inverted-index / IVF-PQ shortlists at 100 TB). */
  def rrfFuse(a: DataFrame, rankACol: String, b: DataFrame, rankBCol: String,
      c: Int, k: Int): DataFrame = {
    val fusedScore =
      coalesce(lit(1.0) / (lit(c.toDouble) + col(rankACol)), lit(0.0)) +
      coalesce(lit(1.0) / (lit(c.toDouble) + col(rankBCol)), lit(0.0))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__f").desc, col("doc_id"))
    a.join(b, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("__f", fusedScore)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        coalesce(col(rankACol), lit(0L)).as(rankACol),
        coalesce(col(rankBCol), lit(0L)).as(rankBCol))
  }
}
