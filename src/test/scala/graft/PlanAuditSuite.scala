package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Physical-plan audits — the properties that decide 100x-scale
  * behavior, asserted against the actual executed plans so regressions
  * in pushdown, broadcast choice, or cache barriers fail loudly instead
  * of silently degrading. */
class PlanAuditSuite extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** The columns of `df`'s checkpoint scans: the RDDScanExec nodes over
    * the LogicalRDD an eager localCheckpoint leaves in the plan. */
  private def checkpointed(df: org.apache.spark.sql.DataFrame): Seq[Attribute] =
    df.queryExecution.sparkPlan.collect { case s: RDDScanExec => s.output }
      .flatten

  /** `df` reads a checkpointed column `c` (a LogicalRDD barrier). */
  private def readsCheckpointed(df: org.apache.spark.sql.DataFrame,
      c: String): Boolean = checkpointed(df).exists(_.name == c)

  /** Every checkpointed column `c` of `df` is an array of 64-bit hashes. */
  private def checkpointedAsLongs(df: org.apache.spark.sql.DataFrame,
      c: String): Boolean = {
    val cs = checkpointed(df).filter(_.name == c)
    cs.nonEmpty && cs.forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
  }

  test("q02: filter and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull"), p)
    // pruned read schema — the scan must not read all 16 lineitem columns
    val readSchema = "ReadSchema: struct<(.*?)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length <= 6,
      s"scan reads more columns than the projection needs: $readSchema")
  }

  test("q03: dimension join is broadcast, not shuffled") {
    val p = plan("q03_top_customers")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q07: both dimension joins broadcast; single shuffle for the agg") {
    val p = plan("q07_nation_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "dimension joins must not degrade to sort-merge:\n" + p)
  }

  test("d02: shingle checkpoint is a LogicalRDD barrier below the joins") {
    val df = SparkEntry.queries("d02_ngram_jaccard")(spark, sf)
    val barriers = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD
          if r.output.exists(_.name == "__sh") => r
    }
    assert(barriers.nonEmpty,
      "d02 must read the shingle sets through a checkpoint barrier " +
        "(pushdown pitfall: inferred filters re-evaluate the whole chain " +
        "otherwise):\n" + df.queryExecution.optimizedPlan)
  }

  test("t02: quality scoring runs inside whole-stage codegen") {
    // AQE only materializes codegen spans in the FINAL plan — execute,
    // then audit
    val df = SparkEntry.queries("t02_quality")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // "*(n) Operator" is the tree-string marker for a WholeStageCodegen span
    assert(p.contains("*("), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ArrowEvalPython"),
      "no Python UDFs in the hot path")
  }

  test("m04: IN-list lookup pushes an isin filter to the scan") {
    val p = plan("m04_inlist_lookup")
    assert(p.contains("PushedFilters: [") && p.contains("In("), p)
  }

  test("t07: the document count joins in as a broadcast, never sort-merge") {
    val p = plan("t07_tfidf")
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("SortMergeJoin"),
      "the 1-row N scalar must not force a shuffle join:\n" + p)
  }

  test("p03: hash sampling is a narrow scan-side filter (no pre-filter shuffle)") {
    val df = SparkEntry.queries("p03_hash_sample")(spark, sf)
    df.collect()
    // audit the FINAL adaptive plan only (the tree string appends the
    // initial plan, whose repeated nodes would confuse position checks)
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the md5-key filter itself can't push into parquet, but it must run
    // in the scan stage: in tree-string order (downstream first), every
    // Exchange prints ABOVE the Filter, none between Filter and FileScan
    val filterIdx = p.indexOf("Filter")
    val scanIdx = p.indexOf("FileScan")
    assert(filterIdx >= 0 && scanIdx > filterIdx, p)
    assert(!p.substring(filterIdx, scanIdx).contains("Exchange"),
      "sampling must filter in the scan stage, before any shuffle:\n" + p)
    assert(p.contains("*("), "sampling filter must stay in codegen:\n" + p)
  }

  test("t06: regex scrubbing runs inside whole-stage codegen") {
    val df = SparkEntry.queries("t06_pii_scrub")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p)
    assert(!p.contains("BatchEvalPython"), "no Python UDFs in the hot path")
  }

  test("q35: both session windows share one user-partitioned sort") {
    val df = SparkEntry.queries("q35_gaps_islands")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // lag and the running island-sum have identical window specs: Spark
    // must plan ONE exchange on user_id for both, plus one for the final
    // groupBy — a third exchange means the sort reuse regressed
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$p")
  }

  test("a06/a07: as-of variants keep the single-shuffle merge shape") {
    for (q <- Seq("a06_asof_tolerance", "a07_asof_forward")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        s"$q must stay a union+window merge, not a join explosion:\n$p")
    }
  }

  test("t08: the CMS sketch aggregation partial-combines before its shuffle") {
    val df = SparkEntry.queries("t08_heavy_hitters")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // partial_count marker = map-side combine: the exchanged volume is
    // bounded by tasks*cells, not the token stream
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "sketch build must pre-aggregate map-side:\n" + p)
    spark.catalog.clearCache()
  }

  test("m06: reconciliation is one shuffle join, compares stay codegen'd") {
    val df = SparkEntry.queries("m06_reconcile")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BatchEvalPython"), p)
  }

  test("d06: dup-cluster labels read through a materialization barrier") {
    val df = SparkEntry.queries("d06_dup_clusters")(spark, sf)
    // the converged labels are handed off as an eager localCheckpoint
    // (LogicalRDD): already-computed blocks, no lineage back into the
    // iteration — the closing corpus join can never recompute the loop
    val barriers = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r: Any
      // small-graph fast path: labels are driver-computed union-find
      // output shipped as literal data — no loop lineage exists at all
      case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r: Any
    }
    assert(barriers.nonEmpty,
      "the converged label table must sit behind a materialization " +
        "barrier (localCheckpoint/LocalRelation), not a recomputable " +
        "lineage")
  }

  test("c06/c07: every dimension join broadcasts; only the fact joins shuffle") {
    for (q <- Seq("c06_volume_shipping", "c07_market_share")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // the lineitem<->orders join is the only sort-merge candidate; nation/
      // region/customer/supplier/part dims must never degrade to it
      assert("SortMergeJoin".r.findAllIn(p).size <= 1,
        s"$q: more than one sort-merge join — a dim join lost its broadcast:\n$p")
    }
  }

  test("d02: prefix-filter candidate stage shuffles 8-byte hash keys, not strings") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = SparkEntry.queries("d02_ngram_jaccard")(spark, sf)
    val p = df.queryExecution.sparkPlan
    // the candidate self-join must key on 64-bit shingle hashes —
    // shuffling shingle STRINGS is the 2-4x shuffle-volume regression;
    // the checkpointed shingle sets are the ShingleHashes kernel's longs
    val keys = p.collect { case j: BaseJoinExec => j.leftKeys ++ j.rightKeys }
      .flatten.collect {
        case a: Attribute if a.name == "__s_p" || a.name == "__s_i" => a
      }
    assert(keys.nonEmpty && keys.forall(_.dataType == LongType) &&
      checkpointedAsLongs(df, "__sh"),
      "candidate generation must run in hash space (64-bit keys):\n" + p)
  }

  test("d13: passage shuffle runs in 64-bit hash space with no cross join") {
    val p = plan("d13_passage_prune")
    // the corpus-wide shuffle must carry md5-derived longs (conv over
    // md5 substrings), never raw passage strings, and nothing in the
    // pipeline may degrade to a cartesian/nested-loop join
    assert(p.contains("md5") && p.contains("conv"),
      "passage keys must be the md5-derived 64-bit hash:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("p10: the HLL fold is two hash aggregates, no joins at all") {
    val p = plan("p10_hll_sketch")
    assert(!p.contains("Join"),
      "a cardinality sketch must fold, never join:\n" + p)
    // register fold + per-lang merge, then the output sort
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("p11: the only nested-loop join is the 1-row budget broadcast") {
    val df = SparkEntry.queries("p11_budget_select")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // crossJoin(broadcast(1-row aggregate)) is the scalar-join idiom;
    // anything beyond that single BNLJ is a scale regression
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    // the running total must be windowed by the range-partition id,
    // never a partition-less global window
    assert(p.contains("__pid"),
      "running total must ride the two-pass prefix sum:\n" + p)
    spark.catalog.clearCache()
  }

  test("d08: eval n-grams broadcast; the corpus side never shuffles its grams") {
    val p = plan("d08_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "the eval gram set must broadcast — shuffling corpus grams is the " +
        "scale regression:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t09: repetition metrics are a scan-resident sorted-run fold") {
    val df = SparkEntry.queries("t09_repetition")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // r21 shape: per-doc counts fold inside one projection (array_sort +
    // aggregate HOF) — the token stream is never exploded or shuffled.
    // The only exchanges are the corpus round-robin and the declared
    // output ordering's range partition.
    assert(!p.contains("HashAggregate"),
      "t09 must not re-grow a grouping aggregation:\n" + p)
    assert(!p.contains("Generate"),
      "t09 must not explode the token stream:\n" + p)
    assert(!p.contains("hashpartitioning"),
      "t09 must not shuffle token rows:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BatchEvalPython"), p)
  }

  test("c11/c15: part filter prunes first; all dims broadcast") {
    for (q <- Seq("c11_profit_by_nation", "c15_returned_items")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // lineitem<->orders (c15) is the one legitimate sort-merge; every
      // dimension (part/supplier/nation/customer) must broadcast
      assert("SortMergeJoin".r.findAllIn(p).size <= 1,
        s"$q: a dimension join lost its broadcast:\n$p")
    }
  }

  test("c12: the HAVING aggregate runs on lineitem alone before any join") {
    val p = plan("c12_large_volume_orders")
    // no fact-to-fact join before aggregation: the first join input must
    // already be an aggregate (the qualifying-orders set)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p06: packing is one bucket shuffle + an in-partition sort") {
    val df = SparkEntry.queries("p06_sequence_packing")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // exactly one hash exchange on the bucket key before the final
    // presentation sort; the greedy pass itself must not shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"expected one bucket shuffle, found $exchanges:\n$p")
  }

  test("t10: the boilerplate dictionary broadcasts to the rewrite") {
    val p = plan("t10_boilerplate")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the dictionary must broadcast, never shuffle the corpus against it:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q37: the Morton key is pure projection arithmetic (no UDF, no shuffle before the sort)") {
    val df = SparkEntry.queries("q37_zorder_cluster")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    // TakeOrderedAndProject handles the top-k — no global sort exchange
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("c16: EXISTS decorrelates to a semi join, never a row-multiplying join") {
    val p = plan("c16_priority_count")
    assert(p.contains("LeftSemi") || p.contains("left_semi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c17: snowflake — every dimension broadcasts, one fact-fact shuffle") {
    val p = plan("c17_local_volume")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"customer/supplier/nation-region must all broadcast:\n$p")
    assert("SortMergeJoin".r.findAllIn(p).size <= 1, p)
  }

  test("d11: the standing corpus never self-joins; verify runs in hash space") {
    val docs = graft.Tables.corpus(spark, sf)
    val df = graft.functions.TextOps.incrementalJaccardPairs(
      docs.where(org.apache.spark.sql.functions.col("doc_id") % 20 === 0),
      docs.where(org.apache.spark.sql.functions.col("doc_id") % 20 =!= 0),
      "doc_id", "text", n = 3, numHashes = 128, bands = 32,
      threshold = 0.5)
    val p = df.queryExecution.executedPlan.toString
    // the band join and the verify read checkpointed 64-bit hashes
    assert(checkpointedAsLongs(df, "__sh") &&
      checkpointedAsLongs(df, "__bands"),
      "band keys and shingle sets must be hashed before any shuffle:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q39/q40: one event-stream aggregation chain each, no cartesian") {
    for (q <- Seq("q39_cohort_retention", "q40_event_transitions")) {
      val p = plan(q)
      assert(p.contains("HashAggregate"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BatchEvalPython"), s"$q:\n$p")
    }
  }

  test("t12: unigram table broadcasts; scoring has no sort-merge join") {
    val p = plan("t12_unigram_logprob")
    assert(p.contains("BroadcastHashJoin"),
      "the unigram dictionary must broadcast to the token stream:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("m07: profiling is one aggregation pass over the table") {
    val df = SparkEntry.queries("m07_profile")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // one scan of orders — the wide agg must not re-scan per column
    assert("FileScan".r.findAllIn(p).size == 1,
      s"profiling must read the table exactly once:\n$p")
  }

  test("s06: one profile aggregation, query side broadcasts, no shuffle-side cartesian") {
    val df = SparkEntry.queries("s06_user_similarity")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the 24 conditional sums must partial-combine map-side
    assert(p.contains("HashAggregate"), p)
    // the query-profile side broadcasts into the scoring pass
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the small query side must broadcast:\n" + p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("q03: per-order pre-aggregation runs below the orders join") {
    val df = SparkEntry.queries("q03_top_customers")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // lineitem must aggregate to per-order revenue BEFORE joining orders:
    // at least two aggregate levels and no cartesian anywhere
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q38: funnel stages reuse one user_id partitioning (no extra exchanges)") {
    val df = SparkEntry.queries("q38_funnel")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // every stage aggregate must partial-combine map-side (the final
    // 1-row stage-count combination is a legitimate nested-loop join)
    assert(p.contains("HashAggregate"), p)
    // the three per-user aggs + joins hash-partition on user_id; the plan
    // must not resort the event stream per stage
    assert(!p.contains("SortMergeJoin"), s"funnel stages must stay hash joins:\n$p")
  }

  test("t16/t17: classifier + bigram LM keep one corpus scan, broadcast counts") {
    val p16 = plan("t16_quality_classifier")
    // integer weight sum: one partial-combining aggregation, no joins
    assert(p16.contains("HashAggregate"), p16)
    assert(!p16.contains("SortMergeJoin") && !p16.contains("CartesianProduct"), p16)
    // t17 deliberately leaves the count-table joins UNHINTED (a
    // web-scale bigram vocab outgrows any broadcast) — so the audit runs
    // the query and checks AQE's FINAL plan chose broadcasts at this
    // scale from runtime sizes
    val df17 = SparkEntry.queries("t17_bigram_lm")(spark, sf)
    df17.collect()
    val p17 = df17.queryExecution.executedPlan.toString
    assert(p17.contains("BroadcastHashJoin"), p17)
    assert(!p17.contains("CartesianProduct"), p17)
  }

  test("p08/p09: sampling + mixing stay scan-side (top-k / broadcast joins)") {
    val p8 = plan("p08_weighted_sample")
    // global top-k must be TakeOrdered (one pass), not a full sort
    assert(p8.contains("TakeOrderedAndProject"), p8)
    val p9 = plan("p09_domain_mix")
    assert(p9.contains("BroadcastHashJoin") || p9.contains("BroadcastExchange"), p9)
    assert(!p9.contains("SortMergeJoin"), s"lang-table join degraded:\n$p9")
  }

  test("t23: first-doc via partial-aggregating groupBy, no window on gram") {
    // the r9 de-skew: a gram-partitioned window materializes every
    // occurrence of a stop-gram on ONE task with no partial aggregation
    // (O(|corpus|) rows at 100 TB); groupBy(gram).min collapses hot keys
    // map-side, and novel counts ride the uniform doc_id key instead of
    // a join-back on gram
    val df = SparkEntry.queries("t23_ngram_novelty")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"t23 must not window-partition by the skewed gram key:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"first-doc/novelty must partially aggregate map-side:\n$p")
    // the distinct gram pairs feed both aggregations through ONE
    // checkpoint — a second corpus scan means the barrier was dropped
    assert(readsCheckpointed(df, "gram"),
      s"t23's gram pairs must be checkpointed once for both aggregations:\n$p")
  }

  test("p20: novelty stage shares t23's skew-safe shape") {
    val df = SparkEntry.queries("p20_curation_v3")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the per-source rank window (bounded source key) is allowed; a
    // gram-partitioned one is not — assert by partition key, not node
    assert(!p.matches("(?s).*Window.*partitionBy.*gram.*") &&
      !"windowspecdefinition\\(gram".r.findFirstIn(p.toLowerCase).isDefined,
      s"p20 must not window-partition by gram:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"p20 novelty must partially aggregate map-side:\n$p")
    spark.catalog.clearCache()
  }

  test("p18: quotas ride a broadcast join; ranking window is per-source") {
    val p = plan("p18_temperature_mix")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"),
      s"the bounded quota table must broadcast:\n$p")
  }

  test("p19: quantile read-off joins totals as a broadcast") {
    val p = plan("p19_exact_quantiles")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q45: spine fan-out broadcasts; MA window is type-partitioned") {
    val p = plan("q45_gapfill_ma")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"),
      s"counts join must broadcast against the bounded spine:\n$p")
  }

  test("s07: sharp-regime LSH joins on bucket keys, never a cartesian") {
    val df = SparkEntry.queries("s07_ann_lsh_sharp")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the whole point vs d05: candidates come from a band-key equi-join
    assert(!p.contains("CartesianProduct"),
      "sharp LSH must never degrade to all-pairs:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the signature table is checkpointed once and feeds both self-join sides
    assert(readsCheckpointed(df, "__sigs"),
      "signature checkpoint barrier missing:\n" + p)
  }

  test("q47: bloom membership filters the fact scan BEFORE any join/shuffle") {
    val df = SparkEntry.queries("q47_bloom_semijoin")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the prefilter must sit scan-side (a Filter with the membership
    // call over the lineitem scan), not above the join
    assert(p.contains("graft_bloom_contains"),
      s"bloom membership expression missing from the plan:\n$p")
    val filterIdx = p.indexOf("graft_bloom_contains")
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      s"bloom filter should appear BELOW the join in the plan tree:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q48: salted join spreads the key and equals one equi-join") {
    val p = plan("q48_salted_join")
    // (key, salt) equi-join — no cartesian, no nested loop
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.toLowerCase.contains("__salt"),
      s"salt column missing from the join keys:\n$p")
  }

  test("p21: two hash aggregations over one scan; no global sort inside") {
    val df = SparkEntry.queries("p21_zorder_skipping")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    // the only Sort allowed is the root presentation ORDER BY
    val lint = graft.tools.PlanLint.lint(df)
    assert(!lint.exists(_.rule == "inner-global-sort"),
      s"p21 must not range-shuffle internally: $lint")
    assert(!lint.exists(_.rule == "global-window"), s"$lint")
  }

  test("p34: the pick stage is windowless and every domain-table join " +
      "broadcasts — no per-domain partition surface exists") {
    val df = SparkEntry.queries("p34_domain_reweight")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // a window partitioned by the ~20-value domain column would be the
    // 100 TB skew bug this operator was designed without
    assert(!p.contains("Window"), s"p34 must not window:\n$p")
    // the unigram table and the 20-row weight table both broadcast back
    // onto the doc-sized side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized join may shuffle-sort:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the only Sort is the root presentation ORDER BY
    val lint = graft.tools.PlanLint.lint(df)
    assert(!lint.exists(_.rule == "inner-global-sort"), s"$lint")
    assert(!lint.exists(_.rule == "global-window"), s"$lint")
  }

  test("s11/s13: pinned IVF candidates come from bucket equi-joins") {
    for (name <- Seq("s11_ann_ivf_pinned", "s13_ann_ivfpq_pinned")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // materialize s13's encoded cache so the plan is real
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$name must probe buckets, not all pairs:\n$p")
      spark.catalog.clearCache()
    }
  }

  test("s14: pinned LSH joins on band keys through one signature cache") {
    val df = SparkEntry.queries("s14_ann_lsh_pinned")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(readsCheckpointed(df, "__sigs"),
      "signature checkpoint barrier missing:\n" + p)
  }

  /** The equi-bucket pair shape shared by the banded families: exactly
    * one join keyed on the family's bucket columns, carrying the
    * `id_a < id_b` pair condition, and no cartesian or nested-loop join
    * anywhere in the plan. With `cachedCol`, the explode feeding that
    * join reads the checkpointed signature table (the column
    * `cachedCol`) straight through an RDDScanExec — the pushdown
    * barrier. */
  private def assertBucketSelfJoin(name: String, keys: Seq[String],
      cachedCol: Option[String]): Unit = {
    import org.apache.spark.sql.catalyst.expressions.LessThan
    import org.apache.spark.sql.execution.{FilterExec, GenerateExec,
      ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec,
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    val df = SparkEntry.queries(name)(spark, sf)
    val p = df.queryExecution.sparkPlan
    assert(p.collect {
      case j @ (_: CartesianProductExec | _: BroadcastNestedLoopJoinExec) => j
    }.isEmpty, s"$name must join on bucket keys, never all pairs:\n$p")
    def names(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      es.map { case a: Attribute => a.name; case e => e.sql }
    val bucketJoins = p.collect {
      case j: BaseJoinExec if names(j.leftKeys) == keys &&
          names(j.rightKeys) == keys => j
    }
    assert(bucketJoins.size == 1,
      s"$name: expected one equi-join on ${keys.mkString(", ")}:\n$p")
    val idOrder = bucketJoins.head.condition.exists(_.exists {
      case LessThan(a: Attribute, b: Attribute) =>
        a.name == "id_a" && b.name == "id_b"
      case _ => false
    })
    assert(idOrder, s"$name: the bucket join must carry id_a < id_b:\n$p")
    cachedCol.foreach { c =>
      def through(s: SparkPlan): SparkPlan = s match {
        case f: FilterExec => through(f.child)
        case pr: ProjectExec => through(pr.child)
        case other => other
      }
      val explodes = bucketJoins.head.collect { case g: GenerateExec => g }
      assert(explodes.nonEmpty && explodes.forall(g => through(g.child) match {
        case s: RDDScanExec => s.output.exists(_.name == c)
        case _ => false
      }), s"$name: the explode must read the checkpointed $c table:\n$p")
    }
  }

  test("d03: one band-bucket equi-join under id_a < id_b, explode reads the cached signatures") {
    assertBucketSelfJoin("d03_minhash_lsh", Seq("__b", "__key"), Some("__bands"))
  }

  test("d04: one block-bucket equi-join under id_a < id_b, no cartesian") {
    assertBucketSelfJoin("d04_simhash", Seq("__k"), None)
  }

  test("d09: one centroid-list equi-join under id_a < id_b, no cartesian") {
    assertBucketSelfJoin("d09_semantic_dedup", Seq("__bucket"), None)
  }

  test("s14: one band-bucket equi-join under id_a < id_b, explode reads the cached signatures") {
    assertBucketSelfJoin("s14_ann_lsh_pinned", Seq("__band", "__sig"), Some("__sigs"))
  }

  test("s14: the signature stage compiles under whole-stage codegen — no " +
      "silent interpreted fallback") {
    // r15 verdict: s14's band keys unrolled into ~256 when(element_at)
    // terms, the generated processNext blew janino's 64 KB method limit,
    // and Spark QUIETLY interpreted the stage — tests green, hot path
    // un-codegen'd. With fallback disabled a compile failure throws, so
    // this pin fails loudly if the stage ever outgrows the limit again.
    // (graft.tools.CodegenSweep runs the same probe over the registry.)
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val n = SparkEntry.queries("s14_ann_lsh_pinned")(s, sf).count()
      assert(n > 0, "probe must produce rows for the pin to mean anything")
    } finally {
      s.catalog.clearCache()
    }
  }

  test("p24: dataset card is one scan of aggregates plus a scalar broadcast") {
    val p = plan("p24_dataset_card")
    // the only join is the 1-row total broadcast against the per-source
    // card — no sort-merge anywhere, no window
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p)
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p)
    // per-source aggregates partially aggregate map-side (Expand for the
    // two count-distincts still carries partial_count)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("t24: overlap pairs expand inline from bounded source sets, no token self-join") {
    val p = plan("t24_source_overlap")
    // the pair space must come from the per-token source ARRAY (fan-out
    // bounded by the source dimension), never a self-join on the Zipf-
    // skewed token key
    assert(!p.contains("SortMergeJoin"),
      s"t24 must not self-join on tok:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // vocab sizes broadcast onto the 190-row pair table
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
    // collect_set is partial-aggregable: map tasks ship source sets, not rows
    assert(p.contains("partial_collect_set") || p.contains("objHashAggregate")
      || p.contains("ObjectHashAggregate"), p)
  }

  test("q50: skyline = bounded per-size aggregate + broadcast, no all-pairs join") {
    val p = plan("q50_skyline")
    // the NOT-EXISTS definition would be an all-pairs anti-join; the
    // 2-D plan is one partial-aggregated min per size + a suffix-min
    // over that bounded aggregate + one broadcast back
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_min"),
      s"per-size min must partially aggregate map-side:\n$p")
  }

  test("s16: maxsim re-rank runs only on IVF bucket-join candidates") {
    val p = plan("s16_maxsim_ivf")
    // stage 1 must be the bucket equi-join (no all-pairs candidate set);
    // the expensive maxsim score runs above it on the shortlist only
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"s16 candidates must come from the bucket equi-join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("p27: shard plan rides the distributed prefix sum, no global window") {
    val df = SparkEntry.queries("p27_shard_plan")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the running sum must be the two-pass formulation: a pid-keyed
    // window over the checkpointed range-sorted frame, never a
    // single-partition global window
    assert(!p.contains("Window [") ||
      p.contains("windowspecdefinition(__pid"),
      s"p27 cumulative sum must window by __pid:\n$p")
    assert(readsCheckpointed(df, "__pid"),
      s"pinned-pid checkpoint barrier missing:\n$p")
  }

  test("m14: dry-run counts broadcast; no data-sized join") {
    val p = plan("m14_dry_run")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d16: containment probe joins rarest-prefix hashes, never a cartesian") {
    val df = SparkEntry.queries("d16_containment")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate stage must be the prefix-hash equi-join:\n$p")
    assert(readsCheckpointed(df, "__sh"),
      s"shingle checkpoint barrier missing:\n$p")
  }

  /** The PPJoin-family candidate shape, the non-equi twin of
    * [[assertBucketSelfJoin]]: exactly one equi-join keyed on the
    * shingle hash (probe `__s_p` against index `__s_i`), whose condition
    * carries every named prune, and no cartesian or nested-loop join
    * anywhere in the plan. Each prune is a `left op right` comparison
    * over exactly the named attribute sets. */
  private def assertPrefixJoin(name: String,
      df: org.apache.spark.sql.DataFrame,
      prunes: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression => Boolean)]): Unit = {
    import org.apache.spark.sql.execution.joins.{BaseJoinExec,
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    val p = df.queryExecution.sparkPlan
    assert(p.collect {
      case j @ (_: CartesianProductExec | _: BroadcastNestedLoopJoinExec) => j
    }.isEmpty, s"$name must join on shingle hashes, never all pairs:\n$p")
    def names(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      es.map { case a: Attribute => a.name; case e => e.sql }
    val hashJoins = p.collect {
      case j: BaseJoinExec if Set(names(j.leftKeys), names(j.rightKeys)) ==
          Set(Seq("__s_p"), Seq("__s_i")) => j
    }
    assert(hashJoins.size == 1,
      s"$name: expected one equi-join on the shingle hash:\n$p")
    val cond = hashJoins.head.condition
    prunes.foreach { case (what, holds) =>
      assert(cond.exists(_.exists(holds)),
        s"$name: the shingle-hash join must carry the $what:\n$p")
    }
  }

  /** `l op r` with `l` over exactly `ls` and `r` over exactly `rs`. */
  private def compares(ls: Set[String], rs: Set[String])(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.BinaryComparison
    e match {
      case c: BinaryComparison =>
        c.left.references.map(_.name).toSet == ls &&
          c.right.references.map(_.name).toSet == rs
      case _ => false
    }
  }

  test("d02: one shingle-hash equi-join carrying the index role and the size prune") {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, LessThan}
    val df = graft.functions.TextOps.ngramJaccardPairs(
      graft.Tables.corpus(spark, sf), "doc_id", "text",
      n = 3, threshold = 0.5)
    assertPrefixJoin("d02", df, Seq(
      // the index side is the (size, id)-smaller record
      "index-role predicate" -> {
        case e: LessThan => compares(Set("n_i"), Set("n_p"))(e)
        case _ => false
      },
      "index-role id tiebreak" -> {
        case e: LessThan => compares(Set("id_i"), Set("id_p"))(e)
        case _ => false
      },
      // t·|probe| <= |index|
      "size prune" -> {
        case e: GreaterThanOrEqual => compares(Set("n_i"), Set("n_p"))(e)
        case _ => false
      }))
  }

  test("d16: one shingle-hash equi-join carrying the size prune") {
    import org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual
    val df = graft.functions.TextOps.containmentPairs(
      graft.Tables.corpus(spark, sf), "doc_id", "text",
      n = 3, threshold = 0.8)
    assertPrefixJoin("d16", df, Seq(
      // |container|·1000 >= t‰·|contained|
      "size prune" -> {
        case e: GreaterThanOrEqual => compares(Set("n_b"), Set("n_a"))(e)
        case _ => false
      }))
  }

  test("q51: recursion executes through the UnionLoop operator") {
    val df = SparkEntry.queries("q51_recursive_cte")(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("UnionLoop"),
      s"WITH RECURSIVE must plan to UnionLoop:\n$p")
  }

  test("p25: calibration windows read histograms; spine and quantile maps broadcast") {
    val df = SparkEntry.queries("p25_quantile_normalize")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // both CDF windows read the checkpointed (source, value, count)
    // histogram, so their input is distinct-value-sized, never doc-sized
    assert(checkpointed(df).map(_.name).distinct == Seq("source", "v", "c"),
      s"the CDF windows must read the checkpointed histogram:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the 1001-row quantile map must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s15: maxsim sub-vector dots run the codegen kernel; reductions partial-aggregate") {
    val p = plan("s15_maxsim")
    // sub-vectors are rows, so scoring is the native kernel on plain
    // attributes — the interpreted HOF evaluator must not appear
    assert(p.contains("graft_dot") || p.contains("dot_product")
      || !p.contains("lambdafunction"),
      s"maxsim scoring must use the codegen dot kernel:\n$p")
    assert(p.contains("partial_max") && p.contains("partial_sum"),
      s"max-per-token and sum-per-pair must partial-aggregate:\n$p")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s18: query side serves from the persisted index, never the raw corpus") {
    val p = plan("s18_ann_index_persist")
    assert(p.contains("assignments"),
      s"query side must scan the persisted index tables:\n$p")
    // the only embeddings scan is the 20-row QUERY slice — the corpus
    // reaches the join exclusively through the index
    val embScans = "embeddings\\.parquet".r.findAllIn(p).size
    assert(embScans <= 1,
      s"expected at most one embeddings scan (the query slice), got $embScans:\n$p")
  }

  test("d19: canonical-chunk resolution aggregates, never windows") {
    val df = SparkEntry.queries("d19_chunk_dedup")(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("windowspecdefinition"),
      s"chunk-dedup must use the min-aggregate formulation, not a window:\n$p")
  }

  test("d25: cross-substring spans broadcast the eval hashes; the corpus " +
      "shuffles only the contaminated sliver") {
    val p = plan("d25_cross_substring_spans")
    assert(p.contains("BroadcastHashJoin"),
      s"the eval window-hash set must broadcast over the corpus scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge window join means the corpus side shuffled for the " +
        s"probe:\n$p")
    // allowed exchanges: the eval-side distinct (benchmark-sized), its
    // broadcast, the per-doc island window over the contaminated
    // SLIVER, and the output sort — the corpus-sized side must reach
    // the join partition-local (scan -> fold -> broadcast probe)
    val exchanges = "Exchange (?!RoundRobinPartitioning)".r.findAllIn(p).length
    assert(exchanges <= 4,
      s"unexpected exchanges (eval distinct + broadcast + island window " +
        s"+ output sort at most), found $exchanges:\n$p")
  }

  test("d22: decontamination scores in the scan — no join, no agg, one sort exchange") {
    val p = plan("d22_bloom_decontaminate")
    assert(p.contains("graft_bloom_text_hits_bc"),
      s"training side must score via the broadcast-read bloom kernel:\n$p")
    // the bitmap is a broadcast block, NOT a plan literal: 2^20 bits =
    // 16384 longs would dwarf this bound if they ever rode the plan
    // string again (the r13 typedlit form measured ~100 KiB here)
    assert(p.length < 32 * 1024,
      s"plan string carries the bitmap literal again (${p.length} chars)")
    assert(!p.contains("Join"),
      s"the corpus must never join the benchmark side — that is the " +
        s"operator's whole point:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"per-doc scoring is a projection, not an aggregation:\n$p")
    // corpus loading round-robins the single small parquet for parallelism;
    // the OPERATOR itself may only shuffle for the output sort
    val exchanges = "Exchange (?!RoundRobinPartitioning)".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"only the output sort may shuffle, found $exchanges exchanges:\n$p")
  }

  test("d23: store probe broadcasts the delta keys — the store scan never shuffles") {
    // the operator localCheckpoints its result (lineage is severed), so
    // pin the candidate-join stage by building it the way the probe
    // does: delta band keys broadcast-joined against the store's
    // parquet scan. The store exists so the corpus-sized side stays
    // where it is — an exchange under the join defeats its purpose.
    import graft.functions.{TextOps, MinHashSig}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val store = java.nio.file.Files
      .createTempDirectory("graft_d23_plan_").toString
    TextOps.buildSignatureStore(docs.where(col("doc_id") % 20 =!= 0),
      "doc_id", "text", store, n = 3, numHashes = 128, bands = 32)
    val dKeys = TextOps
      .hashedShingleSets(docs.where(col("doc_id") % 20 === 0),
        "doc_id", "text", 3)
      .select(col("__id"),
        MinHashSig.column(spark, col("__sh"), 128).as("__sig"))
      .select(col("__id").as("id_a"),
        posexplode(TextOps.lshBandKeys(col("__sig"), 32, 4))
          .as(Seq("__b", "__key")))
    val cKeys = spark.read
      .parquet(new java.io.File(s"$store/batches").listFiles()
        .map(_.toString): _*)
      .select(col("__id").as("id_b"), col("__b"), col("__key"))
    val joined = broadcast(dKeys).join(cKeys, Seq("__b", "__key"))
      .select("id_a", "id_b").distinct()
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the band-key join must broadcast the delta side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge band join means the store scan shuffled:\n$p")
  }

  test("d23: above the gate the bucketed store joins storage-partitioned " +
      "— the store side is exchange-free in BOTH probe shapes") {
    // r14 verdict prescription 1: the below-gate shape broadcasts the
    // delta (store side exchange-free by construction — pinned above);
    // the above-gate fallback used to shuffle BOTH sides. After a
    // bucketed compaction the store scan reports its (__b, __key) hash
    // layout through the catalog, so the fallback exchanges ONLY the
    // delta — the storage-partitioned join.
    import graft.functions.{TextOps, MinHashSig}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val store = java.nio.file.Files
      .createTempDirectory("graft_d23_bucketed_plan_").toString
    TextOps.buildSignatureStore(docs.where(col("doc_id") % 20 =!= 0),
      "doc_id", "text", store, n = 3, numHashes = 128, bands = 32)
    TextOps.compactSignatureStore(spark, store)
    val (bucketedOpt, looseOpt) = TextOps.signatureStoreKeyFrames(spark, store)
    assert(bucketedOpt.isDefined && looseOpt.isEmpty,
      "compaction must leave exactly one bucketed batch")
    val cKeys = bucketedOpt.get
      .select(col("__id").as("id_b"), col("__b"), col("__key"))
    val dKeys = TextOps
      .hashedShingleSets(docs.where(col("doc_id") % 20 === 0),
        "doc_id", "text", 3)
      .select(col("__id"),
        MinHashSig.column(spark, col("__sh"), 128).as("__sig"))
      .select(col("__id").as("id_a"),
        posexplode(TextOps.lshBandKeys(col("__sig"), 32, 4))
          .as(Seq("__b", "__key")))
    // shape 1 (below the gate): delta broadcast, store scan untouched
    val below = broadcast(dKeys).join(cKeys, Seq("__b", "__key"))
      .select("id_a", "id_b")
    below.collect()
    val pb = below.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(pb.contains("BroadcastHashJoin") && !pb.contains("SortMergeJoin"),
      s"below-gate shape must broadcast the delta over the bucketed scan:\n$pb")
    assert(!pb.contains("Exchange hashpartitioning"),
      s"below-gate store side must not exchange:\n$pb")
    // shape 2 (above the gate): no hint, broadcasts disabled — the
    // bucket layout alone must keep the store side exchange-free
    val pairs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val above = dKeys.join(cKeys, Seq("__b", "__key"))
        .select("id_a", "id_b")
      above.collect()
      val p = above.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"above-gate must be the non-broadcast join:\n$p")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 1,
        s"exactly the DELTA side may exchange (to the bucket layout), " +
          s"found $exchanges exchanges:\n$p")
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("d23: the storage-partitioned property HOLDS under a live " +
      "below-gate tombstone mask") {
    // r15 verdict prescription 6: the exchange-count pin above builds
    // cKeys straight from the bucketed frame, but the production probe
    // first applies a broadcast anti-join on __id (the tombstone mask,
    // TextOps maskKeys). Broadcast joins preserve the streamed side's
    // reported partitioning, so the storage-partitioned property SHOULD
    // survive the mask — this pins that it actually does: with a live
    // tombstone set masked exactly the way the probe masks it, the
    // above-gate join still exchanges ONLY the delta side.
    import graft.functions.{TextOps, MinHashSig}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val store = java.nio.file.Files
      .createTempDirectory("graft_d23_tomb_plan_").toString
    TextOps.buildSignatureStore(docs.where(col("doc_id") % 20 =!= 0),
      "doc_id", "text", store, n = 3, numHashes = 128, bands = 32)
    TextOps.compactSignatureStore(spark, store)
    // live tombstones AFTER the compaction (a compaction would fold
    // them away; the pin needs the mask active at probe time)
    TextOps.retractFromSignatureStore(
      docs.where(col("doc_id") % 20 === 1).select(col("doc_id")), store)
    val tombs = spark.read.parquet(s"$store/tombstones/*")
      .select("__id").distinct()
      .localCheckpoint(true) // as production: the distinct's exchange is
                             // paid once here, not inside the probe plan
    val (bucketedOpt, looseOpt) = TextOps.signatureStoreKeyFrames(spark, store)
    assert(bucketedOpt.isDefined && looseOpt.isEmpty)
    // the EXACT production below-gate mask shape: broadcast anti-join
    // on __id upstream of the band join
    val cKeys = bucketedOpt.get
      .join(broadcast(tombs), Seq("__id"), "left_anti")
      .select(col("__id").as("id_b"), col("__b"), col("__key"))
    val dKeys = TextOps
      .hashedShingleSets(docs.where(col("doc_id") % 20 === 0),
        "doc_id", "text", 3)
      .select(col("__id"),
        MinHashSig.column(spark, col("__sh"), 128).as("__sig"))
      .select(col("__id").as("id_a"),
        posexplode(TextOps.lshBandKeys(col("__sig"), 32, 4))
          .as(Seq("__b", "__key")))
    val pairs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      // below the gate (hint wins over the disabled thresholds): store
      // side untouched even with the mask between scan and join
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      val below = broadcast(dKeys).join(cKeys, Seq("__b", "__key"))
        .select("id_a", "id_b")
      below.collect()
      val pb = below.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(pb.contains("BroadcastHashJoin") && !pb.contains("SortMergeJoin"),
        s"below-gate masked shape must broadcast the delta:\n$pb")
      assert(!pb.contains("Exchange hashpartitioning"),
        s"below-gate masked store side must not exchange:\n$pb")
      // above the gate: the masked bucketed scan must STILL report its
      // layout — exactly one exchange (the delta side)
      val above = dKeys.join(cKeys, Seq("__b", "__key"))
        .select("id_a", "id_b")
      above.collect()
      val p = above.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"above-gate must be the non-broadcast join:\n$p")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 1,
        s"the tombstone mask must not cost the store side its layout — " +
          s"expected exactly the delta exchange, found $exchanges:\n$p")
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("s20: compacted index scan is dynamically partition-pruned to the probed buckets") {
    val df = SparkEntry.queries("s20_ann_index_compact")(spark, sf)
    df.collect() // DPP materializes in the final adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression(__bucket"),
      s"the probe join must prune the bucket-partitioned index scan:\n$p")
  }

  test("AQE skew-join splits the unsalted hot-key partition at runtime") {
    // the SkewJoinCheck demonstration pinned as a plan property: with
    // skew-join enabled (thresholds scaled to local data the way the
    // 256 MB default relates to real partitions) the plain shuffle join
    // over a 50%-hot key must execute with the skewed partition SPLIT —
    // no manual salt. ScaleOps.saltedJoin remains for what AQE cannot
    // rescue: pre-shuffle spreading (skewed aggregation keys, the
    // single-key-dominates-even-after-split case) — see SCALING.md.
    val pairs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.range(2000000L).select(
        when(col("id") % 2 === 0, 0L)
          .otherwise(pmod(xxhash64(col("id")), lit(10000L))).as("k"),
        col("id").as("payload"))
      val dim = spark.range(10000L).select(col("id").as("k"),
        concat(lit("dim_"), col("id")).as("attr"))
      val joined = fact.join(dim, "k")
      // collect() is NOT redundant next to the rdd pass: only a
      // DataFrame-level action materializes isFinalPlan=true in the
      // rendered tree — the .rdd route executes but leaves the adaptive
      // wrapper un-finalized in toString, hiding the skew markers
      joined.collect()
      val sizes = joined.rdd
        .mapPartitions(it => Iterator.single(it.size.toLong), true)
        .collect().filter(_ > 0)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"must be the shuffle join:\n$p")
      assert(p.contains("skew=true"),
        s"AQE must mark the hot partition's join as skew-handled:\n$p")
      // burden collapses: no result partition may carry the hot key whole
      val (mx, mean) = (sizes.max, sizes.sum / sizes.length)
      assert(mx < 500000L,
        s"hot partition not split: max=$mx mean=$mean")
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
