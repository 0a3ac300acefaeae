package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical scaling evidence for the dedup/curation operators: time the
  * core pipelines on 1x / 2x / 4x replicas of the sf0.1 corpus and print
  * per-operator seconds plus the 4x/1x growth ratio. Near-linear ratios
  * (~4, modulo fixed per-stage overheads that only shrink relative to
  * data at real scale) are the evidence that the algorithms — not just
  * the constants — survive corpus growth; a quadratic operator shows a
  * ~16x ratio here long before it burns a cluster at 100 TB.
  *
  * Replication rewrites every token with a per-copy prefix
  * (`regexp_replace(text, "(\\S+)", "c<k>$1")`), so each copy keeps the
  * corpus' internal duplicate structure (planted near-dups stay near-dup
  * within a copy) while sharing no shingles ACROSS copies — pair counts
  * and cluster sizes scale linearly instead of exploding combinatorially
  * the way naive row duplication would.
  *
  * The `ppjoin_guard` sweep prints the two numbers the PPJoin family's
  * guard consults, read from the one prefix generator the operators
  * themselves use (`TextOps.PrefixJoin`, through `ppjoinMassProbe`):
  * the window-free Σdf² bound and the exact mass, Σ over shingle hashes
  * of probe rows × index rows.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.ScaleCheck"
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.functions.TextOps

    // SPARK_GRAFT_SCALE_ONLY=substr[,substr...] filters the measured ops
    // (re-measure one family without re-timing the world)
    val only: Option[Seq[String]] =
      sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSeq.map(_.trim))
    def keep(name: String): Boolean = only.forall(_.exists(name.contains))

    val base = graft.Tables.corpus(spark, sfDir)
    def replica(k: Int): DataFrame = base.select(
      (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
      regexp_replace(col("text"), "(\\S+)", s"c$k$$1").as("text"))
    def corpus(copies: Int): DataFrame =
      (0 until copies).map(replica).reduce(_ union _)

    // d04 is deliberately absent: its hamming-11 cutoff sits on a steep
    // part of the pair-distance distribution for this word-soup corpus,
    // so each copy's fresh hash family re-draws the pair count — times
    // would not be comparing equal work across copies. Its SCALABLE
    // operating point (d26, radius 3) is measured, and the density
    // guard sweep below shows where the radius-11 wall now refuses.
    val opsAll: Seq[(String, DataFrame => Long)] = Seq(
      "d26_simhash_tight" -> (docs =>
        TextOps.simHashPairs(
          TextOps.simHash(docs, "doc_id", "text"), "doc_id",
          maxHamming = 3).count()),
      "d01_exact_dedup" -> (docs =>
        docs.groupBy(md5(TextOps.normalize(col("text"))))
          .agg(min(col("doc_id")), count(lit(1))).count()),
      "d02_ngram_jaccard" -> (docs =>
        TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5).count()),
      "d13_passage_prune" -> (docs =>
        TextOps.repeatedPassageStats(docs, "doc_id", "text").count()),
      "d06_dup_clusters" -> { docs =>
        val pairs = TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
        graft.functions.ScaleOps.connectedComponents(docs, "doc_id", pairs).count()
      },
      // iterative graph analytics: pair generation + 10 integer PageRank
      // rounds — the iteration cost must track the (tiny) dup graph and
      // the vertex table, never re-derive the text stages per round
      "d14_dup_pagerank" -> { docs =>
        val pairs = graft.functions.TextOps
          .ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
          .select(col("id_a"), col("id_b")).localCheckpoint() // 2 union readers
        val edges = pairs.unionByName(
          pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
        graft.functions.ScaleOps.integerPageRank(
          docs.select("doc_id"), "doc_id", edges, "id_a", "id_b", 10).count()
      },
      // r8 text additions: t23's skew-safe novelty (distinct (doc,gram)
      // pairs -> groupBy(gram).min with map-side partials -> novel
      // counts on the uniform doc_id key) and t19's pinned
      // Viterbi rollout (everything bounded by the distinct-word table;
      // the prefix rewrite grows that table linearly with copies, the
      // worst case for it)
      "t23_ngram_novelty" -> { docs =>
          // the core without the presentation sort: distinct 3-gram
          // pairs -> first-doc -> per-doc novelty
          val grams = docs
            .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
            .where(size(col("t")) >= 3)
            .select(col("doc_id"), explode(
              transform(sequence(lit(1), size(col("t")) - 2),
                i => concat_ws("\u0001",
                  element_at(col("t"), i), element_at(col("t"), i + 1),
                  element_at(col("t"), i + 2)))).as("gram"))
            .distinct()
            .localCheckpoint() // both aggregations read it
          val firstDoc = grams.groupBy("gram")
            .agg(min(col("doc_id")).as("first_doc"))
          val nNovel = firstDoc.groupBy(col("first_doc").as("doc_id"))
            .agg(count(lit(1)).as("n_novel"))
          grams.groupBy("doc_id")
            .agg(count(lit(1)).as("n_grams"))
            .join(nNovel, Seq("doc_id"), "left").count()
      },
      "t19_pinned_viterbi" -> (docs =>
        graft.functions.UnigramLM.pinnedSegmentStats(
          docs, "doc_id", "text", maxPieceLen = 4, topMulti = 256).count()),
      // DSIR-shaped importance resampling: two corpus passes (bucket
      // counts, score join) + a per-shard quota window — expected
      // linear; the per-copy token prefixes shift every bucket count,
      // so the ratio table is re-derived per copy (the honest shape).
      // The replica corpus carries no lang column, so the target is an
      // id-derived fifth of the docs (the growth curve is about the
      // plan shape, not the target's semantics).
      "p33_importance_resample" -> (docs =>
        graft.functions.TextOps.importanceResample(
          docs, "doc_id", "text", pmod(col("doc_id"), lit(5)) === 0,
          denom = 4).count()),
      // DoReMi-shaped domain reweighting: the same two corpus passes as
      // p33 (unigram counts, per-doc mean join) with 20-row domain
      // arithmetic and a windowless threshold pick — expected linear.
      // The replica corpus carries no source column, so domains are
      // id-derived (the growth curve is about the plan shape).
      "p34_domain_reweight" -> (docs =>
        graft.functions.TextOps.domainReweight(
          docs.withColumn("__src",
            pmod(col("doc_id"), lit(20)).cast("string")),
          "doc_id", "text", "__src").count()),
      // asymmetric containment: the probe prefix is the contained side's
      // rarest shingles only, so fan-out tracks rare-shingle df — the
      // growth curve is the evidence the full container index doesn't
      // turn the join quadratic
      "d16_containment" -> (docs =>
        TextOps.containmentPairs(docs, "doc_id", "text", 3, 0.8).count()),
      // chunk-level dedup: explode + hash groupBy — expected linear
      // (replica token prefixes keep chunks distinct across copies, so
      // work tracks corpus size, not pair structure)
      "d19_chunk_dedup" -> { docs =>
        val ch = TextOps.chunkOverlap(docs, "doc_id", "text", 64, 48)
        val first = ch.groupBy("chunk_md5")
          .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("__f"))
        ch.join(first, "chunk_md5")
          .where(!(col("doc_id") === col("__f.doc_id") &&
            col("chunk_idx") === col("__f.chunk_idx"))).count()
      })
    val ops = opsAll.filter(t => keep(t._1))

    // warmup: parquet footers AND each operator's codegen/JIT off the
    // clock (the first PPJoin run pays ~3s of whole-stage-codegen
    // compilation that would masquerade as 1x data cost)
    base.count()
    ops.foreach { case (_, run) => run(corpus(1)) }
    val copiesList = sys.env.get("SPARK_GRAFT_SCALE_COPIES")
      .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(1, 2, 4))
    // SPARK_GRAFT_SCALE_PARTS=proportional scales shuffle partitions
    // with the data (base x copies) the way a real cluster does —
    // shuffle.partitions is runtime-settable, so each measurement point
    // gets the partition count its input size warrants. Fixed-partition
    // runs (the default) deliberately model the OPPOSITE: a cluster
    // that never re-tunes, which is where sort/spill granularity shows.
    val proportionalParts = sys.env.get("SPARK_GRAFT_SCALE_PARTS")
      .contains("proportional")
    val baseParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val results = for ((name, run) <- ops) yield {
      val times = for (copies <- copiesList) yield {
        if (proportionalParts)
          spark.conf.set("spark.sql.shuffle.partitions", baseParts * copies)
        val docs = corpus(copies)
        val t0 = System.nanoTime()
        val rows = run(docs)
        val sec = (System.nanoTime() - t0) / 1e9
        (copies, sec, rows)
      }
      (name, times)
    }
    val hdr = copiesList.map(c => s"${c}x sec (rows)").mkString(" | ")
    def printTable(rs: Seq[(String, Seq[(Int, Double, Long)])]): Unit = {
      println(s"| operator | $hdr | ${copiesList.last}x/${copiesList.head}x |")
      println("|---" * (copiesList.size + 2) + "|")
      rs.foreach { case (name, ts) =>
        val cells = ts.map { case (_, s, r) => f"$s%.2f ($r)" }.mkString(" | ")
        val ratio = ts.last._2 / ts.head._2
        println(f"| $name | $cells | $ratio%.2f |")
      }
    }
    printTable(results)

    // ---- banded-Hamming density guard sweep ------------------------------
    // the pre-flight the r17 verdict asked to make mechanical: measure
    // the EXACT candidate mass of the pigeonhole join at both operating
    // points on each corpus size and print where the default budget
    // refuses — one command shows the wall's position, the way
    // CodegenSweep shows codegen health. The mass is a linear
    // aggregation, so sweeping it is cheap even where running the join
    // would not be.
    if (keep("simhash_guard")) {
      val radii = Seq(3, 11)
      println()
      println(s"| simhash guard | ${radii.map(r => s"radius $r mass").mkString(" | ")} | verdict @ default budget |")
      println("|---" * (radii.size + 2) + "|")
      for (copies <- copiesList) {
        val sims = TextOps.simHash(corpus(copies), "doc_id", "text")
          .localCheckpoint()
        val masses = radii.map(r => TextOps.simHashCandidateMass(sims, r))
        val verdicts = radii.zip(masses).map { case (r, m) =>
          if (m > TextOps.SimhashGuard.defaultBudget) s"radius $r REFUSED"
          else s"radius $r ok"
        }
        println(s"| ${copies}x | ${masses.mkString(" | ")} | ${verdicts.mkString(", ")} |")
      }
    }

    // ---- MinHash band-bucket guard sweep (r18 verdict item 3) -----------
    // band mass tracks true near-dup density, so on an honest corpus it
    // grows linearly; the sweep documents the headroom to the default
    // budget the same way the simhash table documents the wall.
    if (keep("minhash_guard")) {
      println()
      println("| minhash guard | band mass (128 hashes, 32 bands) | verdict @ default budget |")
      println("|---|---|---|")
      for (copies <- copiesList) {
        val m = TextOps.minHashMassProbe(corpus(copies), "doc_id", "text",
          n = 3, numHashes = 128, bands = 32)
        val v = if (m > TextOps.MinhashGuard.defaultBudget) "REFUSED" else "ok"
        println(s"| ${copies}x | $m | $v |")
      }
    }

    // ---- PPJoin prefix guard sweep (r18 verdict item 3) ------------------
    // two columns: the window-free df² bound the guard consults first,
    // and the exact per-bucket mass it falls back to — the gap between
    // them is the short-circuit's headroom.
    if (keep("ppjoin_guard")) {
      println()
      println("| ppjoin guard | df^2 bound (t=0.5) | exact mass | verdict @ default budget |")
      println("|---|---|---|---|")
      for (copies <- copiesList) {
        val (bound, exact) = TextOps.ppjoinMassProbe(
          corpus(copies), "doc_id", "text", n = 3, threshold = 0.5)
        val v = if (exact > TextOps.PpjoinGuard.defaultBudget) "REFUSED" else "ok"
        println(s"| ${copies}x | $bound | $exact | $v |")
      }
    }

    // ---- vector-family growth (embeddings replicated by ISOMETRY) --------
    // each copy k multiplies every vector element-wise by a pinned ±1
    // diagonal (copy 0 = identity): an isometry, so intra-copy cosines —
    // and therefore each copy's pair structure — are EXACTLY the base
    // corpus'. Cross-copy cosines scramble toward 0 (half the signs
    // flip, std ~ 1/sqrt(dim) ≈ 0.125), but at the t=0.4 operating
    // threshold the distribution's tail still crosses: the rows column
    // grows FASTER than the data (reflected-pair tail = extra real
    // work), which makes the sub-linear TIME ratios a conservative
    // upper bound on equal-work-per-byte growth, not an optimistic one.
    import graft.functions.VectorOps
    val embBase = graft.Tables(spark, sfDir, "embeddings")
    def signsOf(k: Int): Seq[Double] =
      (0 until 64).map(i => if (k == 0) 1.0 else VectorOps.pinnedSign(k, i))
    def embReplica(k: Int): DataFrame =
      embBase.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        zip_with(transform(col("embedding"), x => x.cast("double")),
          typedlit(signsOf(k)), (x, sgn) => x * sgn).as("embedding"))
    def embCorpus(copies: Int): DataFrame =
      (0 until copies).map(embReplica).reduce(_ union _)

    // ---- fixed-nlist IVF guard sweep (r18 verdict item 4: the second
    // wall must be as visible as the first) — exact within-list pair
    // mass at the d15 operating point (nlist 16, nassign 2) vs the
    // default budget; with nlist fixed the mass is ~n²·nassign²/nlist,
    // so the table shows the quadratic wall's position directly.
    if (keep("ivf_guard")) {
      println()
      println("| ivf guard | pair mass (nlist 16, nassign 2) | verdict @ default budget |")
      println("|---|---|---|")
      for (copies <- copiesList) {
        val m = VectorOps.ivfMassProbe(embCorpus(copies), "vec_id",
          "embedding", nlist = 16, nassign = 2)
        val v = if (m > VectorOps.IvfGuard.defaultBudget) "REFUSED" else "ok"
        println(s"| ${copies}x | $m | $v |")
      }
    }

    // ---- hyperplane-LSH guard sweep (guard parity completed: every
    // bucket-join family's mass on one sweep face) — s02's operating
    // point; mass tracks angular near-dup density, expected linear.
    if (keep("lsh_guard")) {
      println()
      println("| lsh guard | band mass (bits 8, bands 32) | verdict @ default budget |")
      println("|---|---|---|")
      for (copies <- copiesList) {
        val m = VectorOps.lshMassProbe(embCorpus(copies), "vec_id",
          "embedding", bits = 8, bands = 32)
        val v = if (m > VectorOps.LshGuard.defaultBudget) "REFUSED" else "ok"
        println(s"| ${copies}x | $m | $v |")
      }
    }

    val vopsAll: Seq[(String, DataFrame => Long)] = Seq(
      "d15_semantic_pinned" -> (e =>
        VectorOps.ivfCosinePairsPinned(e, "vec_id", "embedding",
          threshold = 0.4, nlist = 16, nassign = 2).count()),
      "s14_lsh_pinned" -> (e =>
        VectorOps.lshCosinePairsPinned(e, "vec_id", "embedding",
          dim = 64, bits = 8, bands = 32, threshold = 0.4).count()),
      "d09_semantic_kmeans" -> (e =>
        VectorOps.ivfCosinePairs(e, "vec_id", "embedding",
          threshold = 0.4, nlist = 16, nassign = 2).count()),
      // the sqrt-scale operating point: nlist grows as 2*ceil(sqrt(n)),
      // so its growth curve vs the fixed-nlist rows above IS the
      // n^1.5-vs-n^2 claim, measured. NOTE: copy 0 keeps the original
      // dense ids 0..n0-1, so the nlist lowest ids exist densely as
      // long as nlist <= the base corpus size (true at every copies
      // level here) — satisfying the dense-id contract the operator
      // asserts.
      "d27_semantic_scaled" -> (e =>
        VectorOps.ivfCosinePairsPinnedScaled(e, "vec_id", "embedding",
          threshold = 0.4, nassign = 2).count()),
      // cluster-balanced selection: one narrow assignment pass + one
      // window per cluster (each ~n/nlist rows) — expected linear; the
      // growth curve is the evidence the per-cluster sort budget holds
      "p31_cluster_select" -> (e =>
        VectorOps.clusterBalancedSelect(e, "vec_id", "embedding",
          nlist = 16, denom = 4).count()),
      // the scale operating point: sqrt-scale nlist + broadcast-join
      // max_by assignment — per-cluster sort budget shrinks as the
      // cluster count grows, so growth must stay sub-linear per byte
      "p32_cluster_select_scaled" -> (e =>
        VectorOps.clusterBalancedSelectScaled(e, "vec_id", "embedding",
          denom = 4).count()),
      // late interaction: the flat scorer must grow linearly with the
      // corpus (queries pinned to the 10 base ids); the IVF-shortlisted
      // two-stage form grows with CANDIDATES (probed buckets), the
      // production claim for s16
      "s15_maxsim_flat" -> (e =>
        VectorOps.maxSimTopK(e.where(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 5, nSub = 8).count()),
      "s16_maxsim_ivf" -> (e =>
        VectorOps.maxSimTopKIvf(e.where(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 5, nSub = 8,
          nlist = 16, nprobe = 6).count()),
      "s07_lsh_sharp" -> { e =>
        val (bits, bands) = VectorOps.lshParamsFor(
          threshold = 0.85, targetRecall = 0.95, maxCandidateFrac = 0.002)
        val planted = VectorOps.plantNearDuplicates(e, "vec_id", "embedding",
          count = 100, idOffset = 500000000L, eps = 0.4)
        VectorOps.lshCosinePairs(planted, "vec_id", "embedding",
          bits, bands, threshold = 0.85).count()
      })
    val vops = vopsAll.filter(t => keep(t._1))
    vops.foreach { case (_, run) => run(embCorpus(1)) } // warmup
    val vresults = for ((name, run) <- vops) yield {
      val times = for (copies <- copiesList) yield {
        if (proportionalParts)
          spark.conf.set("spark.sql.shuffle.partitions", baseParts * copies)
        val e = embCorpus(copies)
        val t0 = System.nanoTime()
        val rows = run(e)
        ((copies, (System.nanoTime() - t0) / 1e9, rows))
      }
      (name, times)
    }
    println()
    printTable(vresults)

    // ---- events-family growth (as-of merge: composed vs physical) --------
    // copies shift user_id, so keys are DISJOINT across copies: per-key
    // work is the base corpus' and total work must grow linearly. The
    // pair compares the union+window a04 plan against the AsOfJoinExec
    // merge (a08) on identical inputs.
    val evBase = graft.Tables(spark, sfDir, "events")
    def evReplica(k: Int): DataFrame = evBase.select(
      (col("event_id") + lit(k * 1000000000L)).as("event_id"),
      col("ts"),
      (col("user_id") + lit(k * 10000000L)).as("user_id"),
      col("event_type"))
    def evCorpus(copies: Int): DataFrame =
      (0 until copies).map(evReplica).reduce(_ union _)
    def asofSides(ev: DataFrame): (DataFrame, DataFrame) = {
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_event_id"))
      (purchases, views)
    }
    val eopsAll: Seq[(String, DataFrame => Long)] = Seq(
      "a04_asof_composed" -> { ev =>
        val (p, v) = asofSides(ev)
        graft.functions.ScaleOps
          .asofJoin(p, v, "user_id", "ts", "ts", Seq("view_event_id")).count()
      },
      "a08_asof_physical" -> { ev =>
        val (p, v) = asofSides(ev)
        graft.plans.AsOfJoinOp
          .asof(p, v, "user_id", "ts", "ts", Seq("view_event_id")).count()
      })
    val eops = eopsAll.filter(t => keep(t._1))
    if (eops.nonEmpty) {
      eops.foreach { case (_, run) => run(evCorpus(1)) } // warmup
      val eresults = for ((name, run) <- eops) yield {
        val times = for (copies <- copiesList) yield {
          if (proportionalParts)
            spark.conf.set("spark.sql.shuffle.partitions", baseParts * copies)
          val ev = evCorpus(copies)
          val t0 = System.nanoTime()
          val rows = run(ev)
          ((copies, (System.nanoTime() - t0) / 1e9, rows))
        }
        (name, times)
      }
      println()
      printTable(eresults)
    }
    spark.stop()
  }
}
