package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.{DeletionSigs, DotProduct, HyperplaneSig, IntersectSize, MinHashSig, NGramShingles, ShingleHashes, SimHash64, TopKAgg}

/** SparkSessionExtensions entry point — makes the engine's codegen
  * expressions first-class SQL functions on any session built with
  *
  * {{{
  *   graft.Session.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * or, on an existing session, via [[GraftExtensions.install]].
  * [[Session.builder]] is the recommended way to build a graft session:
  * it carries graft's conf. It leaves these extensions out, because their
  * optimizer rules and strategies change plans, so a session opts in. The
  * functions (all whole-stage-codegen Catalyst expressions, no UDFs):
  *
  *   - `graft_dot(a, b)`       — double dot product of two numeric arrays
  *   - `graft_minhash(arr, n)` — n-element MinHash signature of a string array
  *   - `graft_shingles(toks, n)` — distinct word n-gram shingles
  *   - `graft_hyperplane_sig(v, bits, bands, seed)` — hyperplane-LSH band
  *     signatures of a double vector
  *   - `graft_intersect_size(a, b)` — intersection size of two sorted
  *     bigint arrays (two-pointer merge count)
  *   - `graft_shingle_hashes(toks, n)` — sorted distinct 64-bit hashes
  *     of every n-token window (the no-string shingle form)
  *   - `graft_simhash64(text)` — one-pass 64-bit SimHash of a document
  *   - `graft_deletion_sigs(s)` — hashed FastSS deletion signatures
  *   - `graft_top_k(v, id, k)` — AGGREGATE: rank-ordered ids of the k
  *     best (v desc, id asc) rows per group, partial-aggregable
  *   - `graft_bloom_agg(key, nbits, k)` — AGGREGATE: bloom bitmap of
  *     bigint keys (partial-aggregable OR), the runtime-filter build side
  *   - `graft_bloom_contains(bitmap, key, k)` — membership test against
  *     a bloom bitmap (no false negatives), the runtime-filter probe side
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // injectFunction would add a fourth registration spelling; reuse the
    // idempotent per-session registrars at session construction instead
    // so SQL, Column API, and extension-configured sessions all resolve
    // the same FunctionRegistry entries.
    ext.injectCheckRule { spark =>
      GraftExtensions.install(spark)
      _ => ()
    }
    // the Rule[LogicalPlan] face: declaratively-written kernels (the
    // HOF dot product) rewrite to their codegen twins, semantics-guarded
    ext.injectOptimizerRule(_ => graft.plans.KernelSubstitution)
    // the whole-operator face: the physical as-of join
    // (LogicalPlan -> Strategy -> SparkPlan; see plans/AsOfJoin.scala)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  /** Registers every graft SQL function on an existing session
    * (idempotent). */
  def install(spark: SparkSession): Unit = {
    DotProduct.ensureRegistered(spark)
    MinHashSig.ensureRegistered(spark)
    NGramShingles.ensureRegistered(spark)
    HyperplaneSig.ensureRegistered(spark)
    IntersectSize.ensureRegistered(spark)
    ShingleHashes.ensureRegistered(spark)
    SimHash64.ensureRegistered(spark)
    DeletionSigs.ensureRegistered(spark)
    TopKAgg.ensureRegistered(spark)
    graft.functions.BloomAgg.ensureRegistered(spark)
    graft.functions.BloomMightContain.ensureRegistered(spark)
    graft.functions.Md5BloomAgg.ensureRegistered(spark)
    graft.functions.BloomTextHits.ensureRegistered(spark)
    graft.functions.PinnedHyperplaneSig.ensureRegistered(spark)
    graft.multimodal.MediaPhash.ensureRegistered(spark)
    graft.multimodal.AudioBandHash.ensureRegistered(spark)
    graft.multimodal.VideoFrameHashes.ensureRegistered(spark)
  }
}
