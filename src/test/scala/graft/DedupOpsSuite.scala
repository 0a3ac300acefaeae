package graft

import org.apache.spark.sql.functions._
import graft.functions.{ScaleOps, TextOps, VectorOps}

/** Quality properties of the sketch-based dedup/similarity operators,
  * measured against their exact counterparts on the sf0.001 corpus (the
  * planted near-dup pairs have Jaccard >= 0.9 / the embedding pairs
  * cosine >= 0.4). */
class DedupOpsSuite extends SparkSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val emb = Tables(spark, sf, "embeddings")

  private lazy val exactPairs: Set[(Long, Long)] =
    TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("repeated-passage stats: hand corpus matches the by-hand count") {
    // docs 1 and 2 share the same 9-token text -> each has 2 windows of
    // 8, all repeated; doc 3 shares no 8-token window; doc 4 is shorter
    // than the window -> (0, 0); doc 5 repeats a passage only WITHIN
    // itself -> not cross-doc repeated under minDocs=2
    val shared = "a b c d e f g h i"
    val corpus = Seq(
      (1L, shared), (2L, shared),
      (3L, "a b c d e f g X i"),
      (4L, "too short"),
      (5L, "p q r s t u v w p q r s t u v w")).toDF("doc_id", "text")
    val out = TextOps.repeatedPassageStats(corpus, "doc_id", "text", n = 8)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 2L), (2L, 2L, 2L), (3L, 2L, 0L), (4L, 0L, 0L),
      (5L, 9L, 0L)))
    // within-doc repetition DOES count once the doc threshold is 1
    val self = TextOps.repeatedPassageStats(corpus, "doc_id", "text",
        n = 8, minDocs = 1)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(self.map(_._3) == Seq(2L, 2L, 2L, 0L, 9L),
      s"minDocs=1 marks every window of every doc that occurs anywhere: $self")
  }

  test("exact-substring spans: hand corpus, every island edge by hand") {
    // k=4. Covered edges: cross-doc dup with island MERGE of
    // overlapping windows (1/2); within-doc repeat far apart -> two
    // islands (3); doc shorter than k -> no spans (4); single shared
    // window (5/6); two dup windows at gap EXACTLY k -> covered ranges
    // touch and must merge into one 2k span (7) while the same windows
    // sit far apart in the partner doc -> two spans (8).
    val corpus = Seq(
      (1L, "p q r s t"),
      (2L, "p q r s t"),
      (3L, "z z z z a b c z z z z"),
      (4L, "a b"),
      (5L, "m n o p q r"),
      (6L, "m n o p X q r"),
      (7L, "c1 c2 c3 c4 d1 d2 d3 d4"),
      (8L, "c1 c2 c3 c4 x x x d1 d2 d3 d4")).toDF("doc_id", "text")
    val spans = TextOps.dupSubstringSpans(corpus, "doc_id", "text", k = 4)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long)].collect().toSeq
    assert(spans == Seq(
      (1L, 0L, 5L), (2L, 0L, 5L),
      (3L, 0L, 4L), (3L, 7L, 4L),
      (5L, 0L, 4L), (6L, 0L, 4L),
      (7L, 0L, 8L),
      (8L, 0L, 4L), (8L, 7L, 4L)), s"got $spans")
  }

  test("cross-substring spans: only train-side spans, only eval-shared " +
      "windows, island edges by hand") {
    // k=4. Edges: train doc sharing a 5-token run with eval -> one
    // merged 5-token span (1); a train-train duplicate with NO eval
    // overlap must NOT span (2/3 — the cross op ignores within-train
    // dups, unlike d20); eval docs never appear in the output (9);
    // touching covered ranges merge (4); short/clean train docs are
    // absent (5/6).
    val train = Seq(
      (1L, "p q r s t"),
      (2L, "u v w x y"),
      (3L, "u v w x y"),
      (4L, "c1 c2 c3 c4 d1 d2 d3 d4"),
      (5L, "a b"),
      (6L, "completely clean text body here")).toDF("doc_id", "text")
    val eval_ = Seq(
      (9L, "p q r s t"),
      (10L, "c1 c2 c3 c4 zz"),
      (11L, "d1 d2 d3 d4 zz")).toDF("doc_id", "text")
    val spans = TextOps.crossSubstringSpans(train, eval_,
        "doc_id", "text", k = 4)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long)].collect().toSeq
    assert(spans == Seq(
      (1L, 0L, 5L),
      (4L, 0L, 8L)), s"got $spans")
  }

  test("cross-substring spans: above the broadcast gate the probe " +
      "degrades to a shuffled join with identical spans") {
    // broadcastKeyLimit = 0 forces the over-gate path (a caller passing
    // a corpus-sized "eval" frame); the spans must be byte-identical to
    // the pinned broadcast shape — the gate changes the exchange, never
    // the answer (the store probe's r13 prescription, worn by d25 too)
    val eval_ = docs.where(col("doc_id") % 20 === 0)
    val train = docs.where(col("doc_id") % 20 =!= 0)
    def spansAt(limit: Long) = TextOps.crossSubstringSpans(train, eval_,
        "doc_id", "text", k = 8, broadcastKeyLimit = limit)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val below = spansAt(Long.MaxValue)
    val above = spansAt(0L)
    assert(below.nonEmpty && above == below,
      s"over-gate fallback diverged: ${above.take(5)} vs ${below.take(5)}")
  }

  test("exact-substring savings: first (doc,pos) site never counts as " +
      "removable; clean and short docs report zeros") {
    val corpus = Seq(
      (1L, "p q r s t"),
      (2L, "p q r s t"),
      (3L, "z z z z a b c z z z z"),
      (4L, "a b"),
      (5L, "m n o p q r"),
      (6L, "m n o p X q r"),
      (7L, "c1 c2 c3 c4 d1 d2 d3 d4"),
      (8L, "c1 c2 c3 c4 x x x d1 d2 d3 d4")).toDF("doc_id", "text")
    val ledger = TextOps.substringDedupSavings(corpus, "doc_id", "text",
        k = 4)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(ledger == Seq(
      (1L, 5L, 5L, 0L),   // holds every first site
      (2L, 5L, 5L, 5L),   // its twin: fully removable
      (3L, 11L, 8L, 4L),  // self-repeat: first z-run kept, second goes
      (4L, 2L, 0L, 0L),   // shorter than k
      (5L, 6L, 4L, 0L),
      (6L, 7L, 4L, 4L),
      (7L, 8L, 8L, 0L),
      (8L, 11L, 8L, 8L)), s"got $ledger")
  }

  test("minhash LSH recall is total on the planted >=0.9 pairs") {
    val cands = TextOps.minHashCandidates(docs, "doc_id", "text", 3, 128, 32)
      .as[(Long, Long)].collect().toSet
    assert(exactPairs.subsetOf(cands),
      s"missed: ${exactPairs.diff(cands)}")
  }

  test("minhash LSH prunes the candidate space well below all-pairs") {
    val n = docs.count()
    val cands = TextOps.minHashCandidates(docs, "doc_id", "text", 3, 128, 32).count()
    assert(cands < n * (n - 1) / 2 / 10,
      s"$cands candidates is not a meaningful prune of ${n * (n - 1) / 2}")
  }

  test("simhash: planted near-dup pairs are within hamming 11") {
    val sims = TextOps.simHash(docs, "doc_id", "text")
    val pairs = TextOps.simHashPairs(sims, "doc_id", maxHamming = 11)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the md5-derived bit family puts the planted pairs at hamming 0..11
    // (measured); simhash is a weaker sketch than 3-gram jaccard, but at
    // the family-matched threshold recall should be >= 90%
    val recall = exactPairs.count(pairs.contains).toDouble / exactPairs.size
    assert(recall >= 0.9, s"recall $recall, missed ${exactPairs.diff(pairs)}")
  }

  test("simhash density guard: a high-radius run past the budget refuses " +
      "with the scale-safe alternatives named; radius 3 sails through") {
    val sims = TextOps.simHash(docs, "doc_id", "text").cache()
    try {
      // exact candidate masses of the two operating points on this
      // corpus — radius 11 (12 blocks of 5 bits) collides massively,
      // radius 3 (4 blocks of 16 bits) barely at all
      val mass11 = TextOps.simHashCandidateMass(sims, 11)
      val mass3 = TextOps.simHashCandidateMass(sims, 3)
      assert(mass3 < mass11,
        s"band-width collision ordering inverted: $mass3 vs $mass11")
      // a budget strictly between the two masses: radius 11 must refuse,
      // radius 3 must pass THROUGH the guard (its worst case exceeds the
      // budget too, so the exact measurement — not the short-circuit —
      // is what clears it)
      val budget = (mass3 + mass11) / 2
      spark.conf.set(TextOps.SimhashBudgetKey, budget.toString)
      val trips0 = TextOps.simhashGuardTrips.get()
      val e = intercept[IllegalStateException] {
        TextOps.simHashPairs(sims, "doc_id", maxHamming = 11)
      }
      assert(e.getMessage.contains("maxHamming=3") &&
        e.getMessage.contains("MinHash"),
        s"refusal must name the scale-safe operating points: ${e.getMessage}")
      assert(TextOps.simhashGuardTrips.get() == trips0 + 1)
      assert(TextOps.simHashPairs(sims, "doc_id", maxHamming = 3)
        .count() >= 0) // radius 3 runs under the same budget
      // warn mode: over-budget run proceeds (and counts as a trip)
      spark.conf.set(TextOps.SimhashGuardKey, "warn")
      assert(TextOps.simHashPairs(sims, "doc_id", maxHamming = 11)
        .count() > 0)
      assert(TextOps.simhashGuardTrips.get() == trips0 + 2)
      // off mode: no measurement, no trip
      spark.conf.set(TextOps.SimhashGuardKey, "off")
      assert(TextOps.simHashPairs(sims, "doc_id", maxHamming = 11)
        .count() > 0)
      assert(TextOps.simhashGuardTrips.get() == trips0 + 2)
    } finally {
      spark.conf.unset(TextOps.SimhashBudgetKey)
      spark.conf.unset(TextOps.SimhashGuardKey)
      sims.unpersist()
    }
  }

  test("IVF pair guard: a fixed-nlist join past the budget refuses " +
      "naming the sqrt-scale remedy; the scaled variant is unguarded " +
      "by design") {
    // the r17 weak-list's second half (d09's wall) made mechanical,
    // mirroring the simhash guard: with nlist fixed, within-list pair
    // mass is n²·nassign²/nlist. A deliberately tiny budget must trip
    // BOTH fixed-nlist variants; the scaled variant must sail through
    // under the same budget — its ~n^1.5 mass is the operating curve a
    // caller chooses knowingly, so guarding it would refuse the remedy.
    spark.conf.set(VectorOps.IvfBudgetKey, "1")
    try {
      val trips0 = VectorOps.ivfGuardTrips.get()
      val e = intercept[IllegalStateException] {
        VectorOps.ivfCosinePairsPinned(emb, "vec_id", "embedding",
          threshold = 0.4, nlist = 16, nassign = 2)
      }
      assert(e.getMessage.contains("PinnedScaled") &&
        e.getMessage.contains("sqrt"),
        s"refusal must name the sqrt-scale operating point: ${e.getMessage}")
      intercept[IllegalStateException] {
        VectorOps.ivfCosinePairs(emb, "vec_id", "embedding",
          threshold = 0.4, nlist = 16, nassign = 2)
      }
      assert(VectorOps.ivfGuardTrips.get() == trips0 + 2)
      // the scaled variant runs under the same 1-pair budget
      assert(VectorOps.ivfCosinePairsPinnedScaled(emb, "vec_id",
        "embedding", threshold = 0.4, nassign = 2).count() > 0)
      // warn mode: the fixed-nlist join proceeds (and counts a trip)
      spark.conf.set(VectorOps.IvfGuardKey, "warn")
      assert(VectorOps.ivfCosinePairsPinned(emb, "vec_id", "embedding",
        threshold = 0.4, nlist = 16, nassign = 2).count() > 0)
      assert(VectorOps.ivfGuardTrips.get() == trips0 + 3)
    } finally {
      spark.conf.unset(VectorOps.IvfBudgetKey)
      spark.conf.unset(VectorOps.IvfGuardKey)
    }
  }

  test("minhash band guard: a run past the budget refuses naming " +
      "dedup-first; warn and off modes run") {
    // guard parity (r18 verdict item 3): band-bucket mass tracks true
    // near-dup density, so a tiny budget stands in for the boilerplate-
    // flooded corpus where one giant bucket launches a silent n² join
    spark.conf.set(TextOps.MinhashBudgetKey, "1")
    try {
      val trips0 = TextOps.minhashGuardTrips.get()
      val e = intercept[IllegalStateException] {
        TextOps.minHashCandidates(docs, "doc_id", "text", 3, 128, 32)
      }
      assert(e.getMessage.contains("dedupExact") &&
        e.getMessage.contains(TextOps.MinhashBudgetKey),
        s"refusal must name the remedy and the budget key: ${e.getMessage}")
      assert(TextOps.minhashGuardTrips.get() == trips0 + 1)
      // warn mode: over-budget run proceeds (and counts as a trip)
      spark.conf.set(TextOps.MinhashGuardKey, "warn")
      assert(TextOps.minHashCandidates(docs, "doc_id", "text", 3, 128, 32)
        .count() > 0)
      assert(TextOps.minhashGuardTrips.get() == trips0 + 2)
      // off mode: no measurement, no trip
      spark.conf.set(TextOps.MinhashGuardKey, "off")
      assert(TextOps.minHashCandidates(docs, "doc_id", "text", 3, 128, 32)
        .count() > 0)
      assert(TextOps.minhashGuardTrips.get() == trips0 + 2)
    } finally {
      spark.conf.unset(TextOps.MinhashBudgetKey)
      spark.conf.unset(TextOps.MinhashGuardKey)
      spark.catalog.clearCache()
    }
  }

  test("importance resampling: per-shard quota is exact, the score " +
      "actually discriminates toward the target distribution, and the " +
      "pick is a pure function of the corpus") {
    val out = TextOps.importanceResample(
      docs, "doc_id", "text", col("lang") === "en", denom = 4).cache()
    try {
      assert(out.count() == docs.where(col("text").isNotNull).count(),
        "every document must carry a flag")
      val per = out.groupBy("shard")
        .agg(count(lit(1)).as("n"), sum("picked").as("k"))
        .as[(Long, Long, Long)].collect()
      per.foreach { case (s, n, k) =>
        assert(k == (n + 3) / 4, s"shard $s: kept $k of $n")
      }
      // the weight points toward the target: en documents (the target
      // distribution) must be picked at a higher rate than the corpus
      val rates = out.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy(col("lang") === "en")
        .agg(avg(col("picked")).as("rate"))
        .as[(Boolean, Double)].collect().toMap
      assert(rates(true) > rates(false),
        s"target pick-rate ${rates(true)} must exceed off-target " +
          s"${rates(false)}")
      // deterministic: a re-run picks the identical set
      val a = out.where(col("picked") === 1)
        .select("doc_id").as[Long].collect().toSet
      val b = TextOps.importanceResample(
          docs, "doc_id", "text", col("lang") === "en", denom = 4)
        .where(col("picked") === 1)
        .select("doc_id").as[Long].collect().toSet
      assert(a == b, "selection must be a pure function of the corpus")
    } finally out.unpersist()
  }

  test("importance scoring: the frozen-array serving form equals the " +
      "batch operator's score column over the reference corpus") {
    // w33's correctness core: the per-row projection over the frozen
    // weight artifact must reproduce importanceResample's broadcast-
    // join score exactly (over the reference corpus every token's
    // bucket is present, so the join drops nothing)
    val pred = col("lang") === "en"
    val batch = TextOps.importanceResample(
        docs, "doc_id", "text", pred, denom = 4)
      .select("doc_id", "score").as[(Long, Long)].collect().toMap
    val w = TextOps.importanceWeightArray(docs, "doc_id", "text", pred)
    val served = TextOps.importanceScore(docs, "doc_id", "text", w)
      .as[(Long, Long)].collect().toMap
    assert(served == batch,
      s"serving scores diverged on ${
        served.keySet.union(batch.keySet)
          .filter(k => served.get(k) != batch.get(k)).take(5)}")
  }

  test("domain reweighting (p34): weights are a normalized MW update " +
      "monotone in the domain's excess loss, and every pick replays the " +
      "hash-threshold coin exactly") {
    val out = TextOps.domainReweight(docs, "doc_id", "text", "source").cache()
    try {
      assert(out.count() == docs.where(col("text").isNotNull).count(),
        "every document with non-null text must carry a flag")
      // the per-domain weight table, reconstructed from the output
      val wt = out.groupBy("source")
        .agg(first(col("weight_micro")).as("w"), count(lit(1)).as("nd"),
          floor(sum(col("mean_nats4")).cast("double") / count(lit(1)) + 0.5)
            .cast("long").as("dnats4"))
        .as[(String, Long, Long, Long)].collect()
      // normalization: integer division loses < 1 micro-unit per domain
      val wsum = wt.map(_._2).sum
      assert(wsum <= 1000000L && wsum >= 1000000L - wt.length,
        s"weights must sum to 1e6 within floor-division slack, got $wsum")
      // MW monotonicity: exp is increasing, so sorting by excess (i.e.
      // by the quantized domain mean) must sort by weight non-strictly
      val byLoss = wt.sortBy(t => (t._4, t._1)).map(_._2)
      assert(byLoss.zip(byLoss.tail).forall { case (a, b) => a <= b },
        s"weights must be monotone in domain loss: ${byLoss.toSeq}")
      // every pick decision replays the p09-scheme coin against the
      // frac implied by the weight table — bit-exact, no sampling luck
      val ntot = wt.map(_._3).sum
      val frac = wt.map { case (s, w, nd, _) =>
        s -> math.min(1000000L, ((ntot / 2) * w) / nd) }.toMap
      val coin = shiftright(TextOps.tokenHash64(
          concat(lit("p34|"), col("doc_id").cast("string"))), 8)
        .bitwiseAND(lit(0x7FFFFFFFL)) % 1000000L
      val bad = out.withColumn("__coin", coin)
        .as[(Long, String, Long, Long, Long, Long)].collect()
        .filter { case (_, src, _, _, picked, c) =>
          picked != (if (c < frac(src)) 1L else 0L) }
      assert(bad.isEmpty, s"picks diverging from the coin replay: ${bad.take(5).toSeq}")
    } finally out.unpersist()
  }

  test("lsh band guard: vector bucket joins past the budget refuse " +
      "naming dedup-first and sharper params; warn and off modes run") {
    spark.conf.set(VectorOps.LshBudgetKey, "1")
    try {
      val trips0 = VectorOps.lshGuardTrips.get()
      val e = intercept[IllegalStateException] {
        VectorOps.lshCosinePairs(emb, "vec_id", "embedding",
          bits = 8, bands = 32, threshold = 0.4)
      }
      assert(e.getMessage.contains("lshParamsFor") &&
        e.getMessage.contains(VectorOps.LshBudgetKey),
        s"refusal must name the remedy and the budget key: ${e.getMessage}")
      intercept[IllegalStateException] {
        VectorOps.lshCosinePairsPinned(emb, "vec_id", "embedding",
          dim = 64, bits = 8, bands = 32, threshold = 0.4)
      }
      assert(VectorOps.lshGuardTrips.get() == trips0 + 2)
      // warn mode: over-budget runs proceed (and count as trips)
      spark.conf.set(VectorOps.LshGuardKey, "warn")
      assert(VectorOps.lshCosinePairs(emb, "vec_id", "embedding",
        bits = 8, bands = 32, threshold = 0.4).count() > 0)
      assert(VectorOps.lshGuardTrips.get() == trips0 + 3)
      // off mode: no measurement, no trip
      spark.conf.set(VectorOps.LshGuardKey, "off")
      assert(VectorOps.lshCosinePairs(emb, "vec_id", "embedding",
        bits = 8, bands = 32, threshold = 0.4).count() > 0)
      assert(VectorOps.lshGuardTrips.get() == trips0 + 3)
    } finally {
      spark.conf.unset(VectorOps.LshBudgetKey)
      spark.conf.unset(VectorOps.LshGuardKey)
      spark.catalog.clearCache()
    }
  }

  test("ppjoin prefix guard: jaccard and containment joins past the " +
      "budget refuse naming dedup-first; warn and off modes run") {
    spark.conf.set(TextOps.PpjoinBudgetKey, "1")
    try {
      val trips0 = TextOps.ppjoinGuardTrips.get()
      val e = intercept[IllegalStateException] {
        TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      }
      assert(e.getMessage.contains("dedupExact") &&
        e.getMessage.contains(TextOps.PpjoinBudgetKey),
        s"refusal must name the remedy and the budget key: ${e.getMessage}")
      intercept[IllegalStateException] {
        TextOps.containmentPairs(docs, "doc_id", "text", 3, 0.8)
      }
      assert(TextOps.ppjoinGuardTrips.get() == trips0 + 2)
      // warn mode: over-budget runs proceed (and count as trips)
      spark.conf.set(TextOps.PpjoinGuardKey, "warn")
      assert(TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
        .count() > 0)
      assert(TextOps.ppjoinGuardTrips.get() == trips0 + 3)
      // off mode: no measurement, no trip
      spark.conf.set(TextOps.PpjoinGuardKey, "off")
      assert(TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
        .count() > 0)
      assert(TextOps.ppjoinGuardTrips.get() == trips0 + 3)
    } finally {
      spark.conf.unset(TextOps.PpjoinBudgetKey)
      spark.conf.unset(TextOps.PpjoinGuardKey)
      spark.catalog.clearCache()
    }
  }

  test("ppjoin guard's exact mass equals the bare shingle-hash match of " +
      "the probe x index join (jaccard and containment, honest and flooded)") {
    // the guard bounds the rows the candidate join matches on the
    // shingle hash before any non-equi prune runs, so its mass formula
    // must count exactly those rows: a prefix cut counts index rows
    // inside the probe frame, the full index counts them as df
    val corpus = docs.select("doc_id", "text")
    // a boilerplate flood: 100 verbatim copies of one document
    val flood = corpus.orderBy("doc_id").limit(1)
      .crossJoin(spark.range(100).toDF("__k"))
      .select((col("__k") + 1000000000L).as("doc_id"), col("text"))
    val masses = for {
      (name, c) <- Seq("sf0.001" -> corpus,
        "flooded" -> corpus.unionByName(flood))
      (shape, t) <- Seq("jaccard" -> 0.5, "containment" -> 0.8)
    } yield {
      val sh = TextOps.hashedShingleSets(c, "doc_id", "text", 3).cache()
      try {
        val pj =
          if (shape == "jaccard") TextOps.PrefixJoin.jaccard(sh, t)
          else TextOps.PrefixJoin.containment(sh, t)
        val mass = pj.mass
        val matched = pj.join("p", "i", lit(true), shape).count()
        assert(mass == matched,
          s"$name $shape t=$t: guard mass $mass != $matched matched rows")
        (name, shape) -> mass
      } finally { sh.unpersist(); spark.catalog.clearCache() }
    }
    val m = masses.toMap
    for (shape <- Seq("jaccard", "containment"))
      assert(m(("flooded", shape)) > m(("sf0.001", shape)) + 100L * 100L,
        s"$shape: the flood must concentrate a prefix bucket: $m")
  }

  test("ppjoin success path releases every cache and emits distinct pairs") {
    // r20 verdict item 4: repeat invocations in a long session must not
    // accumulate cached tables; the operators checkpoint instead
    spark.catalog.clearCache()
    val rows = TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(rows.toSet == exactPairs, "release variant must match the set")
    // candidates now carry duplicate pairs (one per shared prefix
    // shingle) — the post-verify dedup must fold them before returning
    assert(rows.distinct.length == rows.length,
      s"duplicate output pairs: ${rows.groupBy(identity).filter(_._2.length > 1).keys}")
    assert(spark.sharedState.cacheManager.isEmpty,
      "ngramJaccardPairs success path must release its shingle/df caches")
    val cont = TextOps.containmentPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(cont.distinct.length == cont.length, "duplicate containment pairs")
    assert(spark.sharedState.cacheManager.isEmpty,
      "containmentPairs success path must release its shingle/df caches")
  }

  test("minhash band guard refusal releases the caller's shingle cache " +
      "(the d03 shape: caller-cached hash table + FromHashed candidates)") {
    // r19 ADVICE: a refusal must strand nothing in the session's cache.
    // d03 checkpoints its shingle table and the operator checkpoints its
    // signatures, so a refused call leaves the CacheManager empty
    spark.catalog.clearCache()
    spark.conf.set(TextOps.MinhashBudgetKey, "1")
    try {
      val sh = TextOps.hashedShingleSets(docs, "doc_id", "text", 3)
        .localCheckpoint()
      intercept[IllegalStateException] {
        TextOps.minHashCandidatesFromHashed(sh, 128, 32)
      }
      assert(spark.sharedState.cacheManager.isEmpty,
        "the refusal path must leave no cached table behind")
    } finally {
      spark.conf.unset(TextOps.MinhashBudgetKey)
      spark.catalog.clearCache()
    }
  }

  test("guard budget positivity: a zero/negative budget fails naming the " +
      "conf key, not as an unconditional corpus-blaming refusal") {
    // r19 ADVICE: budget<=0 made every guarded run refuse with a message
    // implying a pathological corpus rather than a bad conf value
    for (bad <- Seq("0", "-5")) {
      spark.conf.set(TextOps.MinhashBudgetKey, bad)
      try {
        val e = intercept[IllegalArgumentException] {
          TextOps.minHashCandidates(docs, "doc_id", "text", 3, 128, 32)
        }
        assert(e.getMessage.contains(TextOps.MinhashBudgetKey) &&
          e.getMessage.contains("positive"), e.getMessage)
      } finally {
        spark.conf.unset(TextOps.MinhashBudgetKey)
        spark.catalog.clearCache()
      }
    }
  }

  test("guard budget parsing: a malformed conf value fails naming the " +
      "key and the offending text, not as a bare NumberFormatException") {
    // r18 ADVICE: a bare s.toLong was indistinguishable from a refusal
    // in the catch-unpersist-rethrow paths
    spark.conf.set(TextOps.MinhashBudgetKey, "2e9")
    try {
      val e = intercept[IllegalArgumentException] {
        TextOps.minHashCandidates(docs, "doc_id", "text", 3, 128, 32)
      }
      assert(e.getMessage.contains(TextOps.MinhashBudgetKey) &&
        e.getMessage.contains("2e9"), e.getMessage)
    } finally {
      spark.conf.unset(TextOps.MinhashBudgetKey)
      spark.catalog.clearCache()
    }
  }

  test("cluster-balanced selection: per-cluster quota is exactly " +
      "ceil(size/denom), every vector is flagged, and the pick is " +
      "deterministic") {
    val out = VectorOps.clusterBalancedSelect(
      emb, "vec_id", "embedding", nlist = 16, denom = 4).cache()
    try {
      val n = emb.count()
      assert(out.count() == n, "every vector must carry a flag")
      val per = out.groupBy("cluster_id")
        .agg(count(lit(1)).as("n"), sum("picked").as("k"))
        .as[(Long, Long, Long)].collect()
      assert(per.nonEmpty)
      per.foreach { case (cid, size, kept) =>
        assert(kept == (size + 3) / 4,
          s"cluster $cid: kept $kept of $size, want ceil(size/4)")
      }
      // the md5 permutation is deterministic: a re-run picks the same set
      val a = out.where(col("picked") === 1)
        .select("vec_id").as[Long].collect().toSet
      val b = VectorOps.clusterBalancedSelect(
          emb, "vec_id", "embedding", nlist = 16, denom = 4)
        .where(col("picked") === 1)
        .select("vec_id").as[Long].collect().toSet
      assert(a == b, "selection must be a pure function of the corpus")
    } finally out.unpersist()
  }

  test("cluster-balanced selection: the scaled (broadcast-join, max_by) " +
      "variant is bit-identical to the fixed variant at equal nlist") {
    // d27's equal-nlist pin applied to p32: the assignment REWRITE
    // (literal-array argsort -> broadcast join + max_by aggregation)
    // must not change a single flag
    val a = VectorOps.clusterBalancedSelect(
        emb, "vec_id", "embedding", nlist = 16, denom = 4)
      .orderBy("vec_id").collect().toSeq
    val b = VectorOps.clusterBalancedSelectScaled(
        emb, "vec_id", "embedding", denom = 4, nlistOverride = 16)
      .orderBy("vec_id").collect().toSeq
    assert(a == b, "scaled assignment diverged from the pinned quantizer")
    // dynamic nlist: quotas still exact per cluster
    val dyn = VectorOps.clusterBalancedSelectScaled(
      emb, "vec_id", "embedding", denom = 4)
    val per = dyn.groupBy("cluster_id")
      .agg(count(lit(1)).as("n"), sum("picked").as("k"))
      .as[(Long, Long, Long)].collect()
    assert(per.nonEmpty)
    per.foreach { case (cid, size, kept) =>
      assert(kept == (size + 3) / 4,
        s"cluster $cid: kept $kept of $size, want ceil(size/4)")
    }
    // the sparse-id contract fails loudly, not silently (ADVICE r17)
    val sparse = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"))
    val e = intercept[IllegalArgumentException] {
      VectorOps.clusterBalancedSelectScaled(
        sparse, "vec_id", "embedding", denom = 4)
    }
    assert(e.getMessage.contains("dense from 0"), e.getMessage)
  }

  test("prefix filtering keeps total recall while pruning the candidate space") {
    val sh = TextOps.shingleSets(docs, "doc_id", "text", 3).cache()
    val prefixCands = TextOps.prefixCandidates(sh, 0.5)
      .as[(Long, Long)].collect().toSet
    assert(exactPairs.subsetOf(prefixCands),
      s"prefix filter lost pairs: ${exactPairs.diff(prefixCands)}")
    // the full inverted index (any shared shingle + size prune) for comparison
    val ex = sh.select(col("__id"), size(col("__sh")).as("__n"),
      explode(col("__sh")).as("__s"))
    val a = ex.select(col("__id").as("id_a"), col("__n").as("n_a"), col("__s"))
    val b = ex.select(col("__id").as("id_b"), col("__n").as("n_b"), col("__s"))
    val fullCands = a.join(b, a("__s") === b("__s") && a("id_a") < b("id_b") &&
        a("n_a") >= lit(0.5) * b("n_b") && b("n_b") >= lit(0.5) * a("n_a"))
      .select(col("id_a"), col("id_b")).distinct().count()
    assert(prefixCands.size < fullCands,
      s"prefix index (${prefixCands.size}) did not prune vs full index ($fullCands)")
    sh.unpersist()
  }

  test("shingles of a doc shorter than n tokens is empty, not an error") {
    val df = Seq((1L, "one two"), (2L, "a b c d")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
      .orderBy("doc_id")
      .as[(Long, Seq[String])].collect()
    assert(out(0)._2.isEmpty)
    assert(out(1)._2 == Seq("a b c", "b c d"))
  }

  test("winnowing: shared substrings >= w+k-1 chars guarantee a shared fingerprint") {
    val k = 8; val w = 4
    val shared = "the quick brown fox jumps over the lazy dog near the river bank"
    val df = Seq(
      (1L, s"PREFIX AAA $shared SUFFIX ZZZ"),
      (2L, s"totally different opening words here $shared and other trailing content"),
      (3L, "no overlap with anything qqq www eee rrr ttt yyy uuu iii"),
      (4L, "short"), // below k chars -> empty fingerprint set, no error
      (1000L, s"PREFIX AAA $shared SUFFIX ZZZ")) // identical to doc 1
      .toDF("doc_id", "text")
    val fps = TextOps.winnowingFingerprints(df, "doc_id", "text", k, w)
      .as[(Long, Seq[Long])].collect().toMap
    // identical docs -> identical sets
    assert(fps(1L).toSet == fps(1000L).toSet)
    // winnowing guarantee: the shared substring (>= w+k-1 chars) must
    // surface at least one common fingerprint despite different offsets
    assert((fps(1L).toSet & fps(2L).toSet).nonEmpty,
      "no shared fingerprint for a long shared substring")
    // disjoint-content doc shares nothing with doc 1
    assert((fps(1L).toSet & fps(3L).toSet).isEmpty)
    assert(fps(4L).isEmpty)
  }

  test("simhash of identical text is identical") {
    val df = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"))
      .toDF("doc_id", "text")
    val hs = TextOps.simHash(df, "doc_id", "text")
      .select("simhash").as[Long].collect()
    assert(hs(0) == hs(1))
  }

  test("embedding LSH pairs are a subset of exact pairs with usable recall") {
    val exact = VectorOps.bruteForceCosinePairs(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = VectorOps.lshCosinePairs(emb, "vec_id", "embedding",
        bits = 8, bands = 32, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH emitted a pair the exact op rejects")
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low for bits=8/bands=32")
  }

  test("SQ8 quantized top-k recovers the exact top-k with high recall") {
    val queries = emb.where(col("vec_id") < 20)
    val exact = VectorOps.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val sq8 = VectorOps.sq8TopK(queries, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(sq8.contains).toDouble / exact.size
    // 8 bits/dim keeps cosine gaps well above quantization noise for
    // nearly every top-5 member
    assert(recall >= 0.85, s"SQ8 recall $recall vs exact top-5")
  }

  test("embedding LSH candidate set is a real prune of the pair space") {
    // the prune is the point of the scale path: candidates (pre-threshold,
    // deduped) must be a small fraction of n(n-1)/2. Expected random-pair
    // collision at bits=8/bands=32 is 1-(1-2^-8)^32 ~ 11.8%.
    val n = emb.count()
    val cands = VectorOps.lshScoredCandidates(
      emb, "vec_id", "embedding", bits = 8, bands = 32).count()
    val allPairs = n * (n - 1) / 2
    assert(cands < allPairs / 5,
      s"$cands candidates is not a meaningful prune of $allPairs pairs")
  }

  test("sharp-regime LSH (s07): recall >= 0.9 at cos 0.85 with candidate fraction << 1%") {
    val (bits, bands) = VectorOps.lshParamsFor(
      threshold = 0.85, targetRecall = 0.95, maxCandidateFrac = 0.002)
    // derived, not hand-tuned: sharp-threshold regime needs wide bits
    assert(bits >= 12 && bands * math.pow(0.5, bits) <= 0.002,
      s"derived (bits=$bits, bands=$bands) not a sharp prune")
    val corpus = VectorOps.plantNearDuplicates(
      emb, "vec_id", "embedding", count = 100, idOffset = 1000000L, eps = 0.4)
    val n = corpus.count()
    val exact = VectorOps.bruteForceCosinePairs(corpus, "vec_id", "embedding", 0.85)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the plant worked: >= 0.85 pairs exist to measure recall against
    assert(exact.size >= 80, s"only ${exact.size} exact pairs at cos>=0.85")
    val lsh = VectorOps.lshCosinePairs(corpus, "vec_id", "embedding",
        bits, bands, threshold = 0.85)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH emitted a pair the exact op rejects")
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall below 0.9 at bits=$bits/bands=$bands")
    // the point of the sharp regime: candidates (pre-threshold, deduped)
    // are a VANISHING fraction of all pairs, not s02's constant ~12%
    val cands = VectorOps.lshScoredCandidates(
      corpus, "vec_id", "embedding", bits, bands).count()
    val allPairs = n * (n - 1) / 2
    val frac = cands.toDouble / allPairs
    assert(frac <= 0.005, s"candidate fraction $frac is not << 1% " +
      s"($cands of $allPairs pairs)")
  }

  test("IVF semantic dedup: subset of exact pairs, usable recall, exact at nassign=nlist") {
    val exact = VectorOps.bruteForceCosinePairs(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val ivf = VectorOps.ivfCosinePairs(emb, "vec_id", "embedding", 0.4,
        nlist = 8, nassign = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(ivf.subsetOf(exact), "IVF dedup emitted a pair the exact op rejects")
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.6, s"IVF dedup recall $recall too low for nlist=8/nassign=2")
    // assigning to every list must recover the exact result
    val full = VectorOps.ivfCosinePairs(emb, "vec_id", "embedding", 0.4,
        nlist = 8, nassign = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(full == exact, "nassign=nlist must equal brute force")
  }

  // ---- recall-at-scale guards for the kmeans family (r4 verdict item 6):
  // the 2048-vector training sample is a FIXED size while the corpus
  // grows with sf, so recall at the REGISTERED parameters is asserted at
  // both gate scales — if corpus growth ever outruns the sample (or a
  // parameter change silently degrades), these trip before the registry
  // does. Ground truth is the exact brute force (s01/d05 shapes).
  for (sf <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
    val sfName = sf.split('/').last
    test(s"kmeans-family recall holds at $sfName with the registered parameters") {
      val embSf = Tables(spark, sf, "embeddings")
      val queries = embSf.where(col("vec_id") < 20)
      val exactTopK = VectorOps.bruteForceTopK(
          queries, embSf, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      // s03 registered: nlist=16, nprobe=6
      val ivf = VectorOps.ivfTopK(queries, embSf, "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 6)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val ivfRecall = exactTopK.count(ivf.contains).toDouble / exactTopK.size
      assert(ivfRecall >= 0.65, s"s03 recall $ivfRecall at $sfName")
      // s04 registered: m=8, ksub=16, refine=32
      val pq = VectorOps.pqTopK(queries, embSf, "vec_id", "embedding",
          k = 5, m = 8, ksub = 16, refine = 32)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val pqRecall = exactTopK.count(pq.contains).toDouble / exactTopK.size
      assert(pqRecall >= 0.75, s"s04 recall $pqRecall at $sfName")
      // s05 registered: nlist=16, nprobe=8, m=8, ksub=16, refine=32
      val ivfpq = VectorOps.ivfPqTopK(queries, embSf, "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 8, m = 8, ksub = 16, refine = 32)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val ivfpqRecall = exactTopK.count(ivfpq.contains).toDouble / exactTopK.size
      assert(ivfpqRecall >= 0.7, s"s05 recall $ivfpqRecall at $sfName")
      // d09 registered: threshold=0.4, nlist=16, nassign=2 (vs d05 truth)
      val exactPairs = VectorOps.bruteForceCosinePairs(
          embSf, "vec_id", "embedding", 0.4)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val sem = VectorOps.ivfCosinePairs(embSf, "vec_id", "embedding", 0.4,
          nlist = 16, nassign = 2)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(sem.subsetOf(exactPairs), "d09 emitted a pair d05 rejects")
      if (exactPairs.nonEmpty) {
        val semRecall = exactPairs.count(sem.contains).toDouble / exactPairs.size
        assert(semRecall >= 0.6, s"d09 recall $semRecall at $sfName")
      }
    }
  }

  test("trained ANN recall floors: each trained path >= its pinned twin - eps") {
    // the pinned twins (s11-s14) live under the DuckDB oracle; the
    // trained paths (s02-s05) cannot (kmeans/sampled codebooks), so this
    // is their rot guard: at the registered parameters, trained recall@5
    // must not fall more than eps below the pinned twin's on the SAME
    // queries — a silent degradation of the training path (sample size,
    // iteration count, seeding) trips here even though the oracle can't
    // see it. Ground truth is the exact brute force; sf0.01 = gate scale.
    //
    // eps is per family, calibrated to the measured 2026-08-14 gaps
    // (IVF 0.68/0.86, PQ 0.93/0.96, IVFPQ 0.80/0.90, LSH 0.64/0.51).
    // The IVF gap is STRUCTURAL, not rot: kmeans tiles the sphere into
    // even cells while the pinned codebook (16 arbitrary corpus codes)
    // makes uneven ones, so at equal nprobe the pinned variant scans a
    // larger corpus fraction per query — more work, more recall. The
    // same asymmetry runs the other way for LSH (trained planes beat
    // the pinned hash planes, 0.64 vs 0.51). The guard's job is the
    // trained path COLLAPSING (a sampling/seeding bug drops recall to
    // ~0.3), which every one of these margins still catches. Training
    // harder does not close the IVF gap (recall flat at 0.67-0.68 for
    // sample 2048-8192 x iters 8-25 — measured before calibrating).
    val epsIvf = 0.25
    val epsPq = 0.10
    val epsIvfPq = 0.15
    val epsLsh = 0.10
    val embSf = Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val queries = embSf.where(col("vec_id") < 20)
    val exact = VectorOps.bruteForceTopK(
        queries, embSf, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      exact.count(got.contains).toDouble / exact.size
    }
    // s03 vs s11 (nlist=16, nprobe=6)
    val ivfT = recallOf(VectorOps.ivfTopK(queries, embSf, "vec_id",
      "embedding", k = 5, nlist = 16, nprobe = 6))
    val ivfP = recallOf(VectorOps.ivfTopKPinned(queries, embSf, "vec_id",
      "embedding", k = 5, nlist = 16, nprobe = 6))
    assert(ivfT >= ivfP - epsIvf, s"trained IVF recall $ivfT < pinned $ivfP - $epsIvf")
    // s04 vs s12 (m=8, ksub=16, refine=32)
    val pqT = recallOf(VectorOps.pqTopK(queries, embSf, "vec_id",
      "embedding", k = 5, m = 8, ksub = 16, refine = 32))
    val pqP = recallOf(VectorOps.pqTopKPinned(queries, embSf, "vec_id",
      "embedding", k = 5, m = 8, ksub = 16, refine = 32))
    assert(pqT >= pqP - epsPq, s"trained PQ recall $pqT < pinned $pqP - $epsPq")
    // s05 vs s13 (nlist=16, nprobe=8, m=8, ksub=16, refine=32)
    val ipqT = recallOf(VectorOps.ivfPqTopK(queries, embSf, "vec_id",
      "embedding", k = 5, nlist = 16, nprobe = 8, m = 8, ksub = 16,
      refine = 32))
    val ipqP = recallOf(VectorOps.ivfPqTopKPinned(queries, embSf, "vec_id",
      "embedding", k = 5, nlist = 16, nprobe = 8, m = 8, ksub = 16,
      refine = 32))
    assert(ipqT >= ipqP - epsIvfPq, s"trained IVFPQ recall $ipqT < pinned $ipqP - $epsIvfPq")
    // s02 vs s14 (bits=8, bands=32, threshold=0.4) — pair recall vs the
    // exact threshold pairs
    val exactP = VectorOps.bruteForceCosinePairs(
        embSf, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def pairRecall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
      exactP.count(got.contains).toDouble / exactP.size
    }
    val lshT = pairRecall(VectorOps.lshCosinePairs(embSf, "vec_id",
      "embedding", bits = 8, bands = 32, threshold = 0.4))
    val lshP = pairRecall(VectorOps.lshCosinePairsPinned(embSf, "vec_id",
      "embedding", dim = 64, bits = 8, bands = 32, threshold = 0.4))
    assert(lshT >= lshP - epsLsh, s"trained LSH recall $lshT < pinned $lshP - $epsLsh")
  }

  test("IVF top-k recall against the exact brute force is usable") {
    val queries = emb.where(col("vec_id") < 20)
    val exact = VectorOps.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // the sf0.001 corpus is tiny (~500 vectors), so probe half the lists;
    // larger corpora (s03 at sf0.01+) use nlist=16/nprobe=4
    val ivf = VectorOps.ivfTopK(queries, emb, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall $recall too low for nlist=8/nprobe=4")
    // probing ALL lists must recover the exact result (IVF is exact
    // when nprobe == nlist)
    val full = VectorOps.ivfTopK(queries, emb, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == exact, "nprobe=nlist must equal brute force")
  }

  test("PQ top-k: usable recall, deterministic, exact with refine >= corpus") {
    val queries = emb.where(col("vec_id") < 20)
    val exact = VectorOps.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = VectorOps.pqTopK(queries, emb, "vec_id", "embedding",
      k = 5, m = 8, ksub = 16, refine = 8)
    val got = pq.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.6, s"PQ recall $recall too low for m=8/ksub=16/refine=8")
    // deterministic across partitioning (codebooks + argmax tiebreaks)
    val again = VectorOps.pqTopK(queries, emb.repartition(7), "vec_id", "embedding",
        k = 5, m = 8, ksub = 16, refine = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got == again, "PQ result depends on partitioning")
    // a shortlist covering the whole corpus makes the refine pass exact
    val full = VectorOps.pqTopK(queries, emb, "vec_id", "embedding",
        k = 5, m = 8, ksub = 16, refine = 200)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == exact, "refine >= corpus size must equal brute force")
  }

  test("IVF-PQ top-k: usable recall; all-lists + wide refine equals brute force") {
    val queries = emb.where(col("vec_id") < 20)
    val exact = VectorOps.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = VectorOps.ivfPqTopK(queries, emb, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 4, m = 8, ksub = 16, refine = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.5,
      s"IVF-PQ recall $recall too low for nlist=8/nprobe=4/refine=8")
    // probing every list with a corpus-wide shortlist removes both
    // approximations: the composition must collapse to brute force
    val full = VectorOps.ivfPqTopK(queries, emb, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 8, m = 8, ksub = 16, refine = 200)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == exact, "nprobe=nlist + full refine must equal brute force")
  }

  test("pinned-codebook family collapses to the SQ8 ranking at full coverage") {
    // the pinned gates' correctness story is the DuckDB oracle; this
    // pins the INTERNAL consistency that makes that story meaningful:
    // removing the approximation knob must recover the exact quantized
    // ranking (probe-all-lists for IVF, corpus-wide shortlist for PQ),
    // and results must not depend on partitioning.
    val queries = emb.where(col("vec_id") < 20)
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val sq8 = ids(VectorOps.sq8TopK(queries, emb, "vec_id", "embedding", k = 5))
    val ivfFull = ids(VectorOps.ivfTopKPinned(queries, emb,
      "vec_id", "embedding", k = 5, nlist = 16, nprobe = 16))
    assert(ivfFull == sq8, "pinned IVF with nprobe=nlist must equal SQ8 exact")
    val pqFull = ids(VectorOps.pqTopKPinned(queries, emb,
      "vec_id", "embedding", k = 5, m = 8, ksub = 16, refine = 200))
    assert(pqFull == sq8, "pinned PQ with a corpus-wide shortlist must equal SQ8")
    val ivfpqFull = ids(VectorOps.ivfPqTopKPinned(queries, emb,
      "vec_id", "embedding", k = 5, nlist = 16, nprobe = 16,
      m = 8, ksub = 16, refine = 200))
    assert(ivfpqFull == sq8, "pinned IVFxPQ at full coverage must equal SQ8")
    // partitioning invariance at the REGISTERED (approximate) params
    val reg = ids(VectorOps.ivfTopKPinned(queries, emb,
      "vec_id", "embedding", k = 5, nlist = 16, nprobe = 6))
    val rep = ids(VectorOps.ivfTopKPinned(queries, emb.repartition(7),
      "vec_id", "embedding", k = 5, nlist = 16, nprobe = 6))
    assert(reg == rep, "pinned IVF result depends on partitioning")
  }

  test("pinned semantic dedup: nassign=nlist equals the brute-force quantized pairs") {
    val coded = VectorOps.sq8Codes(emb, "vec_id", "embedding", "id", "c")
      .withColumn("n", sqrt(VectorOps.nativeDot(spark, col("c"), col("c"))))
    val l = coded.select(col("id").as("id_a"), col("c").as("ca"), col("n").as("na"))
    val r = coded.select(col("id").as("id_b"), col("c").as("cb"), col("n").as("nb"))
    val brute = l.join(r, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (VectorOps.nativeDot(spark, col("ca"), col("cb")) /
          (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val full = VectorOps.ivfCosinePairsPinned(emb, "vec_id", "embedding",
        threshold = 0.4, nlist = 16, nassign = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(full == brute, "every-bucket assignment must equal all-pairs")
    // the registered (nlist=16, nassign=2) pairs are a subset
    val reg = VectorOps.ivfCosinePairsPinned(emb, "vec_id", "embedding",
        threshold = 0.4, nlist = 16, nassign = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(reg.subsetOf(brute), "bucketed pairs must be a subset of all-pairs")
    assert(reg.nonEmpty, "registered params found no pairs at gate scale")
  }

  test("scaled pinned semantic dedup: the broadcast-join assignment is " +
      "bit-equal to the literal-array path at equal nlist") {
    // d27's assignment replaces nlist codegen'd literal arrays with a
    // broadcast join + top-nassign window (nlist-independent plan).
    // Same pinned semantics claim -> same pairs AND same cosines at a
    // pinned nlist; and the auto-nlist output must stay a subset of
    // the brute-force quantized pairs (bucketing only ever DROPS pairs)
    val viaArrays = VectorOps.ivfCosinePairsPinned(emb, "vec_id",
        "embedding", threshold = 0.4, nlist = 16, nassign = 2)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    val viaJoin = VectorOps.ivfCosinePairsPinnedScaled(emb, "vec_id",
        "embedding", threshold = 0.4, nassign = 2, nlistOverride = 16)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    assert(viaJoin == viaArrays,
      "join-based assignment diverged from the literal-array path")
    val auto = VectorOps.ivfCosinePairsPinnedScaled(emb, "vec_id",
        "embedding", threshold = 0.4, nassign = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val coded = VectorOps.sq8Codes(emb, "vec_id", "embedding", "id", "c")
      .withColumn("n", sqrt(VectorOps.nativeDot(spark, col("c"), col("c"))))
    val l = coded.select(col("id").as("id_a"), col("c").as("ca"), col("n").as("na"))
    val r = coded.select(col("id").as("id_b"), col("c").as("cb"), col("n").as("nb"))
    val brute = l.join(r, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (VectorOps.nativeDot(spark, col("ca"), col("cb")) /
          (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(auto.subsetOf(brute), "auto-nlist pairs must be a subset of all-pairs")
    assert(auto.nonEmpty, "auto-nlist found no pairs at gate scale")
  }

  test("brute-force top-k neighbors are symmetric-consistent with pairs") {
    val top1 = VectorOps.bruteForceTopK(
        emb.where(col("vec_id") < 5), emb, "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    assert(top1.length == 5)
    // the top-1 cosine must equal the exact pairwise cosine
    top1.foreach { case (q, n, c) =>
      val direct = VectorOps.bruteForceCosinePairs(
          emb.where(col("vec_id").isin(q, n)), "vec_id", "embedding", -1.0)
        .select("cos").as[Double].collect().head
      assert(math.abs(direct - c) < 1e-12)
    }
  }

  test("duplicate clusters equal union-find over the exact pair graph") {
    val pairs = TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
    val clusters = ScaleOps.connectedComponents(docs, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    // reference union-find over the same exact pairs
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    exactPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val allIds = docs.select("doc_id").as[Long].collect()
    assert(clusters.keySet == allIds.toSet, "every doc must get a cluster")
    allIds.foreach { id =>
      assert(clusters(id) == find(id),
        s"doc $id: got ${clusters(id)}, union-find says ${find(id)}")
    }
    // sanity: the planted dups produce at least one non-trivial cluster
    assert(clusters.exists { case (id, c) => id != c })
    // the small-graph union-find fast path and the O(log² n)-round star
    // algorithm (forced via smallEdgeLimit = 0) compute the same fixpoint
    val star = ScaleOps.connectedComponents(docs, "doc_id", pairs,
        smallEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(star == clusters, "star CC diverged from union-find")
  }

  test("connected components on string ids take the star path below " +
      "the edge limit and label with the component minimum") {
    // the union-find fast path is long-only; a string-id pair graph far
    // below smallEdgeLimit must still come back with string ids (no
    // cast) labelled with the lexicographic component minimum
    val verts = Seq("d", "c", "b", "a", "e", "z").toDF("doc_id")
    val pairs = Seq(("d", "c"), ("c", "b"), ("e", "z")).toDF("id_a", "id_b")
    val cc = ScaleOps.connectedComponents(verts, "doc_id", pairs)
    import org.apache.spark.sql.types.StringType
    assert(cc.schema("doc_id").dataType == StringType &&
      cc.schema("cluster_id").dataType == StringType, cc.schema.treeString)
    val got = cc.as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "b", "c" -> "b", "d" -> "b",
      "e" -> "e", "z" -> "e"), got.toString)
    // the star path cuts lineage with localCheckpoint (LogicalRDD); the
    // union-find path would ship a LocalRelation instead
    val plan = cc.queryExecution.optimizedPlan
    assert(plan.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    }.nonEmpty, plan.treeString)
  }

  test("star CC resolves a 4000-node chain (diameter >> round budget)") {
    // the shape label propagation cannot finish in bounded rounds: a
    // path graph 0-1-2-...-3999 needs O(diameter) propagation rounds,
    // the alternating star rounds need O(log^2 n)
    val n = 4000L
    val verts = spark.range(n).select(col("id").as("doc_id"))
    val chain = spark.range(n - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val cc = ScaleOps.connectedComponents(verts, "doc_id", chain,
      smallEdgeLimit = 0L)
    val clusters = cc.select("cluster_id").distinct().as[Long].collect()
    assert(clusters.toSeq == Seq(0L),
      s"chain must collapse to one component rooted at 0, got $clusters")
    assert(cc.count() == n)
  }

  test("filtered ANN: neighbors share the label; pre-filter fills k where post-filter can't") {
    val queries = emb.where(col("vec_id") < 10)
    val filtered = VectorOps.bruteForceTopKFiltered(
        queries, emb, "vec_id", "embedding", "label", k = 5)
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("label").as("nl")), "neighbor_id")
      .join(emb.select(col("vec_id").as("query_id"),
        col("label").as("ql")), "query_id")
    // every returned neighbor shares its query's label
    assert(filtered.where(col("nl") =!= col("ql")).count() == 0)
    // pre-filter fills k=5 per query (every label stratum has >= 6
    // members in the test corpus)
    val perQ = filtered.groupBy("query_id").count()
      .as[(Long, Long)].collect().toMap
    assert(perQ.values.forall(_ == 5), perQ.toString)
    // post-filtering the GLOBAL top-5 under-fills for at least one
    // query: the unfiltered neighborhood mixes labels
    val global = VectorOps.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("label").as("nl")), "neighbor_id")
      .join(emb.select(col("vec_id").as("query_id"),
        col("label").as("ql")), "query_id")
      .where(col("nl") === col("ql"))
      .groupBy("query_id").count().as[(Long, Long)].collect().toMap
    // default 0: a query with NO same-label global neighbor vanishes
    // from the grouped map — that is the strongest under-fill, not a
    // missing data point
    val filled = perQ.keys.map(q => global.getOrElse(q, 0L))
    assert(filled.exists(_ < 5),
      s"expected post-filtering to under-fill somewhere: $global")
  }

  test("distributed loop still matches the fast path at sf0.01 (gate scale)") {
    // d06's gate exercises only the fast path (its edge sets are
    // driver-small); this keeps the distributed star rounds honest at a
    // scale ten times the unit corpus
    val d01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val pairs = TextOps.ngramJaccardPairs(d01, "doc_id", "text", 3, 0.5).cache()
    val fast = ScaleOps.connectedComponents(d01, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    val dist = ScaleOps.connectedComponents(d01, "doc_id", pairs,
        smallEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    pairs.unpersist()
    assert(fast == dist)
    assert(fast.exists { case (id, c) => id != c }, "planted dups expected")
  }

  test("jaccard column function matches set arithmetic") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(TextOps.jaccard(col("x"), col("y"))).as[Double].collect().head
    assert(math.abs(j - 0.5) < 1e-15) // |{b,c}| / |{a,b,c,d}|
  }

  test("deletion-signature fuzzy join equals the brute-force ed<=1 pairs") {
    // substitutions, inserts, deletes, equal strings, and far-apart
    // strings — incl. the ed=2 trap pair ("ab","ba") that shares a
    // signature but must be verified away
    // 10/11 substitute a non-BMP codepoint (codepoint ed=1 but UTF-16
    // ed=2) — catches a kernel that signs UTF-16 units
    val rows = Seq(
      1L -> "crate", 2L -> "crane", 3L -> "rate", 4L -> "cratea",
      5L -> "ab", 6L -> "ba", 7L -> "crate", 8L -> "zzzz", 9L -> "",
      10L -> "a😀b", 11L -> "a𝕏b")
    val df = rows.toDF("id", "s")
    val got = TextOps.editDistancePairs(df, "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      (ia, ra) <- rows; (ib, rb) <- rows
      if ia < ib
      d = {
        // reference Levenshtein over codepoints (Spark's semantics)
        val sa = ra.codePoints().toArray
        val sb = rb.codePoints().toArray
        val m = Array.tabulate(sa.length + 1, sb.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to sa.length; j <- 1 to sb.length)
          m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
            m(i - 1)(j - 1) + (if (sa(i - 1) == sb(j - 1)) 0 else 1))
        m(sa.length)(sb.length)
      }
      if d <= 1
    } yield (ia, ib)).toSet
    assert(got == brute, s"got $got expected $brute")
    assert(got.contains((1L, 2L)) && got.contains((1L, 7L)) &&
      got.contains((1L, 3L)) && got.contains((1L, 4L)))
    assert(!got.contains((5L, 6L)), "ed=2 transposition must verify away")
  }

  test("DeletionSigs rolling hashes equal the naive per-deletion polynomial") {
    // naive reference: hash each deletion string directly with the
    // same seeded polynomial the kernel claims to replicate in O(n).
    // Codepoint-based, like the substr/length form it replaces — the
    // a😀b case fails if the kernel slips back to UTF-16 units
    val seed = 1469598103934665603L
    val b = 0x100000001b3L
    def poly(cps: Seq[Int]): Long = cps.foldLeft(seed)((h, c) => h * b + c)
    def naive(s: String): Seq[Long] = {
      val cp = s.codePoints().toArray.toSeq
      poly(cp) +: cp.indices.map(d => poly(cp.patch(d, Nil, 1)))
    }
    val rng = new scala.util.Random(42)
    val cases = Seq("", "a", "ab", "crate", "日本語テキスト", "a😀b") ++
      (1 to 50).map(_ => rng.alphanumeric.take(rng.nextInt(30)).mkString)
    cases.foreach { s =>
      val got = graft.functions.DeletionSigs
        .compute(org.apache.spark.unsafe.types.UTF8String.fromString(s)).toSeq
      assert(got == naive(s), s"mismatch for '$s'")
    }
    // codegen path: run the registered expression through a DataFrame
    val viaDf = cases.toDF("s")
      .select(col("s"),
        graft.functions.DeletionSigs.column(spark, col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    cases.foreach(s => assert(viaDf(s) == naive(s), s"codegen mismatch '$s'"))
  }

  // ---- persisted signature store (d23 lifecycle) ---------------------------

  private def tmpStore(): String =
    java.nio.file.Files.createTempDirectory("graft_sigstore_").toString

  private def pairsVia(store: String, delta: org.apache.spark.sql.DataFrame,
      standing: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    TextOps.incrementalJaccardPairsFromStore(delta, standing,
        "doc_id", "text", store, n = 3, numHashes = 128, bands = 32,
        threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted

  test("signature store: store-served pairs equal compute-in-place") {
    val delta = docs.where(col("doc_id") % 20 === 0)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val store = tmpStore()
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    val inPlace = TextOps.incrementalJaccardPairs(delta, standing,
        "doc_id", "text", n = 3, numHashes = 128, bands = 32,
        threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    val served = pairsVia(store, delta, standing)
    assert(served.nonEmpty && served == inPlace,
      s"store-served != compute-in-place: $served vs $inPlace")
  }

  test("signature store: incremental appends reach the full-build answer") {
    val delta = docs.where(col("doc_id") % 20 === 0)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val full = tmpStore(); val inc = tmpStore()
    TextOps.buildSignatureStore(standing, "doc_id", "text", full,
      n = 3, numHashes = 128, bands = 32)
    // the daily-accretion shape: three appends covering the same corpus
    Seq(
      standing.where(col("doc_id") % 3 === 0),
      standing.where(col("doc_id") % 3 === 1),
      standing.where(col("doc_id") % 3 === 2)
    ).foreach(part => TextOps.appendToSignatureStore(part,
      "doc_id", "text", inc, n = 3, numHashes = 128, bands = 32))
    assert(pairsVia(inc, delta, standing) == pairsVia(full, delta, standing),
      "append-accreted store diverged from the one-shot build")
  }

  test("signature store: a torn append is invisible; params are fenced") {
    val delta = docs.where(col("doc_id") % 20 === 0)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val store = tmpStore()
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    val before = pairsVia(store, delta, standing)
    // a crashed append: staged directory, never renamed into batches/ —
    // with real (but wrong-family) parquet inside, so ANY visibility
    // would poison the probe rather than slip by unnoticed
    docs.limit(5).select(col("doc_id").as("__id"),
        lit(0).as("__b"), lit(12345L).as("__key"))
      .write.parquet(s"$store/_staging_deadbeef")
    assert(pairsVia(store, delta, standing) == before,
      "a torn (staged, uncommitted) append changed the served answer")
    // parameter fence: a probe or append under a different sketch family
    // must fail loudly, not silently return zero matches
    val probeErr = intercept[IllegalArgumentException] {
      TextOps.incrementalJaccardPairsFromStore(delta, standing,
        "doc_id", "text", store, n = 4, numHashes = 128, bands = 32,
        threshold = 0.5)
    }
    assert(probeErr.getMessage.contains("refusing to probe"),
      probeErr.getMessage)
    val appendErr = intercept[IllegalArgumentException] {
      TextOps.appendToSignatureStore(delta, "doc_id", "text", store,
        n = 3, numHashes = 64, bands = 32)
    }
    assert(appendErr.getMessage.contains("refusing to append"),
      appendErr.getMessage)
    // and probing a path that is not a store is an error, not empty
    intercept[IllegalStateException] {
      TextOps.incrementalJaccardPairsFromStore(delta, standing,
        "doc_id", "text", tmpStore(), n = 3, numHashes = 128, bands = 32,
        threshold = 0.5)
    }
    // store/corpus desync is loud, not a silently missed duplicate: drop
    // a doc the store knows (and that forms a candidate) from the
    // supplied corpus frame
    val someMatch = before.head._2
    val desyncErr = intercept[IllegalArgumentException] {
      TextOps.incrementalJaccardPairsFromStore(delta,
        standing.where(col("doc_id") =!= someMatch),
        "doc_id", "text", store, n = 3, numHashes = 128, bands = 32,
        threshold = 0.5)
    }
    assert(desyncErr.getMessage.contains("diverged"), desyncErr.getMessage)
  }

  test("signature store: concurrent appends both commit — no lease needed") {
    // the lock-free claim exercised: two appends race from separate
    // threads (distinct staged dirs, distinct batch uuids); both must
    // land and the probe must see the union, equal to a serial build
    val delta = docs.where(col("doc_id") % 20 === 0)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val halves = Seq(
      standing.where(col("doc_id") % 2 === 0),
      standing.where(col("doc_id") % 2 =!= 0))
    val racy = tmpStore()
    // params stamp first (the one create-exclusive step), then race
    TextOps.buildSignatureStore(halves.head.limit(0), "doc_id", "text",
      racy, n = 3, numHashes = 128, bands = 32)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(halves.map(h => Future {
      TextOps.appendToSignatureStore(h, "doc_id", "text", racy,
        n = 3, numHashes = 128, bands = 32)
    })), 120.seconds)
    val serial = tmpStore()
    TextOps.buildSignatureStore(standing, "doc_id", "text", serial,
      n = 3, numHashes = 128, bands = 32)
    assert(pairsVia(racy, delta, standing) == pairsVia(serial, delta, standing),
      "racing appends lost or duplicated pairs")
  }

  test("signature store: compaction folds batches and every crash window is harmless") {
    val delta = docs.where(col("doc_id") % 20 === 0)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val store = tmpStore()
    Seq(
      standing.where(col("doc_id") % 3 === 0),
      standing.where(col("doc_id") % 3 === 1),
      standing.where(col("doc_id") % 3 === 2)
    ).foreach(part => TextOps.appendToSignatureStore(part,
      "doc_id", "text", store, n = 3, numHashes = 128, bands = 32))
    val before = pairsVia(store, delta, standing)
    def batchDirs = new java.io.File(s"$store/batches").listFiles()
      .filter(_.isDirectory)
    assert(batchDirs.length == 3)
    TextOps.compactSignatureStore(spark, store)
    assert(batchDirs.length == 1, "compaction must fold the batches")
    assert(pairsVia(store, delta, standing) == before,
      "compaction changed the served answer")
    // the crash-mid-delete window: a consumed input surviving next to
    // the merged batch = duplicate keys, which must not change answers
    // (the idempotence that lets this compaction run lease-free)
    val merged = batchDirs.head
    val dupDir = new java.io.File(s"$store/batches/dup-copy")
    org.apache.commons.io.FileUtils.copyDirectory(merged, dupDir)
    assert(batchDirs.length == 2)
    assert(pairsVia(store, delta, standing) == before,
      "duplicate keys (crash-mid-delete state) changed the served answer")
    // an append landing after the capture survives compaction: its
    // docs keep being served alongside the merged history
    TextOps.compactSignatureStore(spark, store) // fold the dup back in
    val lateText = standing.limit(1).select("text").first().getString(0)
    import spark.implicits._
    val late = Seq((999999L, lateText)).toDF("doc_id", "text")
    TextOps.appendToSignatureStore(late, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    val withLate = pairsVia(store, delta,
      standing.select("doc_id", "text").unionByName(late))
    assert(before.toSet.subsetOf(withLate.toSet),
      "post-compaction append lost earlier history")
  }

  test("signature store: the probe sketches only the delta") {
    val delta = docs.where(col("doc_id") % 20 === 0)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val store = tmpStore()
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    val out = TextOps.incrementalJaccardPairsFromStore(delta, standing,
      "doc_id", "text", store, n = 3, numHashes = 128, bands = 32,
      threshold = 0.5)
    // the operator localCheckpoints its result, so audit the plans it
    // RAN (localCheckpoint severs lineage): every executed minhash must
    // sit above the delta's pruned scan, never above a full corpus read.
    // Cheap proxy with the same teeth: re-plan the probe's band-key side
    // and assert the store scan replaced the corpus sketch — the frame
    // read off parquet carries the store's column trio, no text column
    val stored = spark.read.parquet(s"$store/batches/" +
      new java.io.File(s"$store/batches").list().head)
    assert(stored.columns.sorted.toSeq == Seq("__b", "__id", "__key"),
      s"store must hold exploded band keys only: ${stored.columns.toSeq}")
    // and the served answer is still correct (non-vacuous)
    assert(out.count() > 0)
  }

  test("signature store: a torn (empty) _params is repairable, not a brick — " +
      "but only explicitly once batches exist") {
    // ADVICE r13: the first _params write was create-then-write — a
    // crash in between left an empty file that failed every later
    // probe/append with "built with ()" forever. Now _params commits by
    // stage+rename, and a torn stamp names its repair. On a store that
    // already holds batches the repair must be EXPLICIT (an implicit
    // re-stamp under different parameters would silently miss
    // duplicates — the code-review follow-up); on an empty store a
    // plain build repairs in place.
    val delta = docs.where(col("doc_id") % 20 === 0)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val store = tmpStore()
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    val before = pairsVia(store, delta, standing)
    // simulate the crash artifact: truncate _params to zero bytes
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$store/_params"), Array.empty[Byte])
    val e = intercept[IllegalStateException] {
      pairsVia(store, delta, standing)
    }
    assert(e.getMessage.contains("torn") &&
      e.getMessage.contains("repairSignatureStoreParams"), e.getMessage)
    // an APPEND cannot silently re-stamp over existing batches (its
    // parameters are unverifiable against the band keys on disk)...
    val e2 = intercept[IllegalStateException] {
      TextOps.appendToSignatureStore(standing.limit(0), "doc_id", "text",
        store, n = 4, numHashes = 128, bands = 32)
    }
    assert(e2.getMessage.contains("repairSignatureStoreParams"),
      e2.getMessage)
    // ...the explicit repair (the caller's assertion of the family) does
    TextOps.repairSignatureStoreParams(spark, store,
      n = 3, numHashes = 128, bands = 32)
    assert(pairsVia(store, delta, standing) == before,
      "repaired store must serve the original answer")
    // the repaired stamp fences again, and refuses a second repair
    intercept[IllegalArgumentException] {
      TextOps.appendToSignatureStore(standing.limit(0), "doc_id", "text",
        store, n = 4, numHashes = 128, bands = 32)
    }
    intercept[IllegalArgumentException] {
      TextOps.repairSignatureStoreParams(spark, store,
        n = 3, numHashes = 128, bands = 32)
    }
    // a DELETED stamp over batches is the same unverifiable state
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$store/_params"))
    val e3 = intercept[IllegalStateException] {
      TextOps.appendToSignatureStore(standing.limit(0), "doc_id", "text",
        store, n = 3, numHashes = 128, bands = 32)
    }
    assert(e3.getMessage.contains("no _params stamp"), e3.getMessage)
    TextOps.repairSignatureStoreParams(spark, store,
      n = 3, numHashes = 128, bands = 32)
    assert(pairsVia(store, delta, standing) == before)
    // and on a store with NO batches, a torn stamp repairs implicitly
    val fresh = tmpStore()
    TextOps.buildSignatureStore(standing.limit(0), "doc_id", "text",
      fresh, n = 3, numHashes = 128, bands = 32)
    // an empty build commits a batch dir — drop it to simulate the
    // crash BEFORE any batch commit
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$fresh/batches"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$fresh/_params"), Array.empty[Byte])
    TextOps.buildSignatureStore(standing, "doc_id", "text", fresh,
      n = 3, numHashes = 128, bands = 32)
    assert(pairsVia(fresh, delta, standing) == before,
      "implicit repair on a batch-less store must work")
  }

  test("signature store: above the broadcast gate the probe degrades to " +
      "a shuffled join with identical pairs") {
    // broadcastKeyLimit = 0 forces the over-gate path (a bulk-sized
    // delta); the answer must be byte-identical to the pinned broadcast
    // shape — the gate changes the exchange, never the pairs
    val delta = docs.where(col("doc_id") % 20 === 0)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val store = tmpStore()
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    val viaBroadcast = pairsVia(store, delta, standing)
    val viaShuffle = TextOps.incrementalJaccardPairsFromStore(delta,
        standing, "doc_id", "text", store, n = 3, numHashes = 128,
        bands = 32, threshold = 0.5, broadcastKeyLimit = 0L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    assert(viaBroadcast.nonEmpty && viaShuffle == viaBroadcast,
      s"over-gate fallback diverged: $viaShuffle vs $viaBroadcast")
  }

  test("signature store: retraction masks a doc at probe without rebuild") {
    val delta = docs.where(col("doc_id") % 20 === 0)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val store = tmpStore()
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    val before = pairsVia(store, delta, standing)
    assert(before.nonEmpty)
    val victim = before.head._2 // a corpus doc that actually pairs
    import spark.implicits._
    TextOps.retractFromSignatureStore(
      Seq(victim).toDF("doc_id"), store)
    val after = pairsVia(store, delta, standing)
    assert(!after.exists(_._2 == victim),
      s"retracted doc $victim still pairs: $after")
    // exactly the victim's pairs disappear — nothing else moves, and
    // the full standing frame stays accepted (no desync error: the
    // retracted doc is masked, not diverged)
    assert(after == before.filterNot(_._2 == victim))
    // retracting an id the store never held is a harmless no-op
    TextOps.retractFromSignatureStore(Seq(-1L).toDF("doc_id"), store)
    assert(pairsVia(store, delta, standing) == after)
  }

  test("signature store: deleteSignatureStore retires the catalog " +
      "entries with the files") {
    // r15 verdict prescription 6 (hygiene half): bucketed batches
    // register graft_sigstore_<md5> external tables lazily at probe; a
    // store dir deleted out-of-band leaves them dangling in a
    // persistent metastore. The deletion API drops the entries FIRST,
    // then the directory.
    val delta = docs.where(col("doc_id") % 20 === 0)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val store = tmpStore()
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    TextOps.compactSignatureStore(spark, store)
    assert(pairsVia(store, delta, standing).nonEmpty) // registers the table
    // r16 verdict prescription 6: registrations live in the DEDICATED
    // database — the session's current database must stay clean (the
    // shared-metastore hygiene the namespacing exists for)
    val db = TextOps.sigstoreDbName(spark)
    assert(!spark.catalog.listTables().collect()
        .exists(_.name.startsWith("graft_sigstore_")),
      "sigstore registrations leaked into the session's current database")
    def sigTables: Seq[String] = spark.catalog.listTables(db)
      .collect().map(_.name).toSeq.filter(_.startsWith("graft_sigstore_"))
      .filterNot(_.startsWith("graft_sigstore_staging_"))
    val registered = sigTables
    assert(registered.nonEmpty,
      "a probe of a bucketed store must have registered its table")
    TextOps.deleteSignatureStore(spark, store)
    val remaining = sigTables
    assert(registered.forall(t => !remaining.contains(t) ||
        // tables of OTHER suites' stores may legitimately remain — only
        // this store's dirs must be gone; cross-check via location
        spark.sql(s"DESCRIBE TABLE EXTENDED $db.$t").collect()
          .forall(r => !r.toString.contains(store))),
      s"dangling catalog entries for deleted store: $remaining")
    assert(!new java.io.File(store).exists(),
      "the store directory itself must be deleted")
  }

  test("signature store: the catalog sweep drops only DANGLING " +
      "graft_sigstore entries") {
    // the out-of-band-deletion path deleteSignatureStore cannot cover:
    // the dir is already gone, the md5 table name unrecoverable — the
    // sweep finds it by pattern + missing location, and must NOT touch
    // a healthy store's registration
    val delta = docs.where(col("doc_id") % 20 === 0)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val healthy = tmpStore()
    val doomed = tmpStore()
    for (store <- Seq(healthy, doomed)) {
      TextOps.buildSignatureStore(standing, "doc_id", "text", store,
        n = 3, numHashes = 128, bands = 32)
      TextOps.compactSignatureStore(spark, store)
      assert(pairsVia(store, delta, standing).nonEmpty) // registers
    }
    def sigTables: Set[String] = spark.catalog
      .listTables(TextOps.sigstoreDbName(spark))
      .collect().map(_.name).toSet.filter(_.startsWith("graft_sigstore_"))
    val before = sigTables
    // out-of-band deletion: the directory vanishes, the entry dangles
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(new java.io.File(doomed))
    val dropped = TextOps.sweepSignatureStoreCatalog(spark)
    assert(dropped.nonEmpty, "the dangling entry must be swept")
    val after = sigTables
    // the sweep reports QUALIFIED names (it also covers the legacy
    // current-database location); strip the dedicated-db prefix to
    // compare against the catalog listing
    val db = TextOps.sigstoreDbName(spark)
    assert(after == before -- dropped.map(_.stripPrefix(s"$db.")))
    // the healthy store still probes — its registration was untouched
    assert(pairsVia(healthy, delta, standing).nonEmpty)
    // idempotent: a second sweep finds nothing
    assert(TextOps.sweepSignatureStoreCatalog(spark).isEmpty)
  }

  test("signature store: compaction folds tombstoned keys away for good") {
    val delta = docs.where(col("doc_id") % 20 === 0)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val store = tmpStore()
    Seq(
      standing.where(col("doc_id") % 2 === 0),
      standing.where(col("doc_id") % 2 =!= 0)
    ).foreach(part => TextOps.appendToSignatureStore(part,
      "doc_id", "text", store, n = 3, numHashes = 128, bands = 32))
    val before = pairsVia(store, delta, standing)
    val victim = before.head._2
    import spark.implicits._
    TextOps.retractFromSignatureStore(Seq(victim).toDF("doc_id"), store)
    val masked = pairsVia(store, delta, standing)
    TextOps.compactSignatureStore(spark, store)
    // the tombstone dirs are consumed, the victim's keys are GONE from
    // the folded batch (not merely masked), and answers are unchanged
    assert(!new java.io.File(s"$store/tombstones").exists() ||
      new java.io.File(s"$store/tombstones").listFiles()
        .count(_.isDirectory) == 0,
      "compaction must consume the tombstone batches")
    val folded = spark.read.parquet(s"$store/batches/" +
      new java.io.File(s"$store/batches").list().head)
    assert(folded.where(col("__id") === victim).count() == 0,
      "folded batch still holds the retracted doc's keys")
    assert(pairsVia(store, delta, standing) == masked,
      "compaction changed the post-retraction answer")
    // a post-compaction re-add brings the doc back (the tombstone was
    // folded away, so the new keys are live again)
    val victimText = standing.where(col("doc_id") === victim)
      .select("text").first().getString(0)
    TextOps.appendToSignatureStore(
      Seq((victim, victimText)).toDF("doc_id", "text"),
      "doc_id", "text", store, n = 3, numHashes = 128, bands = 32)
    assert(pairsVia(store, delta, standing) == before,
      "re-added doc after tombstone fold must pair again")
  }

  test("signature store: a caller-supplied candidate loader serves " +
      "identical pairs from an id-addressable read; a short loader " +
      "fails the desync guard") {
    // r14 verdict prescription 2: the default probe's semi-join prune
    // re-shingles only the candidate sliver but still READS the whole
    // corpus to find it. The loader variant hands the caller the
    // distinct candidate-id frame and takes back (id, text) rows — an
    // id-addressable contract. Identical pairs; the loader sees only
    // a delta-proportional id set; dropping a doc is loud.
    val delta = docs.where(col("doc_id") % 20 === 0)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val store = tmpStore()
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    val expected = pairsVia(store, delta, standing)
    assert(expected.nonEmpty)
    val standingN = standing.count()
    @volatile var loaderSawIds = -1L
    val viaLoader = TextOps.incrementalJaccardPairsFromStoreWith(delta,
        ids => {
          loaderSawIds = ids.count() // the contract: candidate ids only
          standing.join(ids, Seq("doc_id"), "left_semi")
        },
        "doc_id", "text", store, n = 3, numHashes = 128, bands = 32,
        threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    assert(viaLoader == expected,
      s"loader-served pairs diverged: $viaLoader vs $expected")
    assert(loaderSawIds > 0 && loaderSawIds < standingN,
      s"loader must receive the candidate sliver, not the corpus: " +
        s"saw $loaderSawIds of $standingN")
    // a loader that cannot serve a referenced id fails loudly — the
    // same desync guard as a short corpus frame
    val victim = expected.head._2
    val e = intercept[IllegalArgumentException] {
      TextOps.incrementalJaccardPairsFromStoreWith(delta,
        ids => standing.where(col("doc_id") =!= victim)
          .join(ids, Seq("doc_id"), "left_semi"),
        "doc_id", "text", store, n = 3, numHashes = 128, bands = 32,
        threshold = 0.5)
    }
    assert(e.getMessage.contains("diverged"), e.getMessage)
  }

  test("signature store: a bucketed compaction serves identical pairs " +
      "on both sides of the gate; mass retraction masks late") {
    // r14 verdict prescription 1: compaction now writes the folded
    // batch BUCKETED on (__b, __key) so the above-gate fallback joins
    // the store exchange-free. Functional half here (identical pairs
    // below gate / above gate / after retraction on both paths);
    // PlanAuditSuite pins the exchange shape.
    val delta = docs.where(col("doc_id") % 20 === 0)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val store = tmpStore()
    Seq(
      standing.where(col("doc_id") % 3 === 0),
      standing.where(col("doc_id") % 3 === 1),
      standing.where(col("doc_id") % 3 === 2)
    ).foreach(part => TextOps.appendToSignatureStore(part,
      "doc_id", "text", store, n = 3, numHashes = 128, bands = 32))
    val before = pairsVia(store, delta, standing)
    assert(before.nonEmpty)
    TextOps.compactSignatureStore(spark, store)
    val batchDirs = new java.io.File(s"$store/batches").listFiles()
      .filter(_.isDirectory)
    assert(batchDirs.length == 1 &&
      new java.io.File(batchDirs.head, "_bucketed").exists(),
      "default compaction must leave one bucketed batch")
    def pairsAt(limit: Long) = TextOps
      .incrementalJaccardPairsFromStore(delta, standing,
        "doc_id", "text", store, n = 3, numHashes = 128, bands = 32,
        threshold = 0.5, broadcastKeyLimit = limit)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    assert(pairsVia(store, delta, standing) == before,
      "bucketed layout changed the below-gate answer")
    assert(pairsAt(0L) == before,
      "bucketed layout changed the above-gate fallback answer")
    // retraction on the bucketed layout: the below-gate broadcast mask
    // and the above-gate LATE mask (limit 0 demotes the tombstone
    // broadcast too) must drop exactly the victim's pairs
    val victim = before.head._2
    import spark.implicits._
    TextOps.retractFromSignatureStore(Seq(victim).toDF("doc_id"), store)
    val expected = before.filterNot(_._2 == victim)
    assert(pairsVia(store, delta, standing) == expected,
      "below-gate mask diverged on the bucketed layout")
    assert(pairsAt(0L) == expected,
      "above-gate late mask diverged from the early broadcast mask")
    // a post-compaction append coexists with the bucketed batch: the
    // loose batch joins separately, pairs are the union (a fresh id
    // carrying the victim's text — that text provably pairs)
    val lateText = standing.where(col("doc_id") === victim)
      .select("text").first().getString(0)
    val late = Seq((888888L, lateText)).toDF("doc_id", "text")
    TextOps.appendToSignatureStore(late, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    val withLate = TextOps.incrementalJaccardPairsFromStore(delta,
        standing.select("doc_id", "text").unionByName(late),
        "doc_id", "text", store, n = 3, numHashes = 128, bands = 32,
        threshold = 0.5, broadcastKeyLimit = 0L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    assert(expected.toSet.subsetOf(withLate.toSet) &&
      withLate.exists(_._2 == 888888L),
      s"bucketed + loose union lost pairs: $withLate")
  }

  test("signature store: append-after-retract fails loudly; " +
      "unretract = true drops exactly the intersecting tombstones") {
    // r14 verdict: retraction wins over later appends, so re-adding a
    // retracted doc before a compaction silently masked the append at
    // probe — defensible semantics, footgun API. The append now fails
    // loudly, and the explicit unretract drops ONLY the batch's
    // tombstones (other retractions keep masking).
    val delta = docs.where(col("doc_id") % 20 === 0)
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val store = tmpStore()
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    val before = pairsVia(store, delta, standing)
    val victims = before.map(_._2).distinct
    assert(victims.length >= 2, s"fixture needs 2 pairing corpus docs: $victims")
    val (v1, v2) = (victims(0), victims(1))
    import spark.implicits._
    TextOps.retractFromSignatureStore(Seq(v1, v2).toDF("doc_id"), store)
    val masked = pairsVia(store, delta, standing)
    assert(!masked.exists(p => p._2 == v1 || p._2 == v2))
    val v1Frame = standing.where(col("doc_id") === v1)
      .select("doc_id", "text")
    // the silent-mask append is refused...
    val e = intercept[IllegalStateException] {
      TextOps.appendToSignatureStore(v1Frame, "doc_id", "text", store,
        n = 3, numHashes = 128, bands = 32)
    }
    assert(e.getMessage.contains("retracted") &&
      e.getMessage.contains("unretract"), e.getMessage)
    // ...and left the store untouched
    assert(pairsVia(store, delta, standing) == masked,
      "a refused append must not change the served answer")
    // the explicit unretract: v1 rejoins the corpus, v2 stays retracted
    TextOps.appendToSignatureStore(v1Frame, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32, unretract = true)
    val after = pairsVia(store, delta, standing)
    assert(after == before.filterNot(_._2 == v2),
      s"unretract must revive exactly v1: $after")
    // a batch with NO tombstone overlap still appends freely
    TextOps.appendToSignatureStore(standing.limit(0), "doc_id", "text",
      store, n = 3, numHashes = 128, bands = 32)
  }

  test("signature store: maintenance is SINGLE-WRITER — retract, " +
      "unretracting append, and compaction refuse under a held lease") {
    // r16 verdict prescription 3: the single-maintenance-writer
    // contract was documented, not enforced — a retraction committed
    // inside an unretracting append's capture window silently survived
    // the rewrite and masked the append. All three maintenance writers
    // now run under the store's CAS lease chain (the ANN compaction's
    // machinery). Simulate the mid-flight maintenance writer by holding
    // the lease directly: each must refuse loudly, plain appends must
    // stay lease-free, and everything proceeds after release.
    import graft.functions.VectorOps
    val standing = docs.where(col("doc_id") % 20 =!= 0)
    val store = tmpStore()
    TextOps.buildSignatureStore(standing, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    import spark.implicits._
    val vid = standing.select("doc_id").as[Long].head()
    // a retract with NO other maintenance writer proceeds (and releases)
    TextOps.retractFromSignatureStore(Seq(vid).toDF("doc_id"), store)
    val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(
      spark.sessionState.newHadoopConf())
    val (lease, uuid) = VectorOps.acquireCompactionLease(fs, store,
      ttlMs = 60L * 60 * 1000)
    try {
      val vFrame = standing.where(col("doc_id") === vid)
        .select("doc_id", "text")
      val r = intercept[IllegalStateException] {
        TextOps.retractFromSignatureStore(Seq(vid + 1).toDF("doc_id"), store)
      }
      assert(r.getMessage.contains("refused"), r.getMessage)
      val u = intercept[IllegalStateException] {
        TextOps.appendToSignatureStore(vFrame, "doc_id", "text", store,
          n = 3, numHashes = 128, bands = 32, unretract = true)
      }
      assert(u.getMessage.contains("refused"), u.getMessage)
      val c = intercept[IllegalStateException] {
        TextOps.compactSignatureStore(spark, store)
      }
      assert(c.getMessage.contains("refused"), c.getMessage)
      // plain appends (no tombstone overlap) stay lease-free by design
      TextOps.appendToSignatureStore(
        standing.where(col("doc_id") === vid + 1)
          .select("doc_id", "text"),
        "doc_id", "text", store, n = 3, numHashes = 128, bands = 32)
    } finally VectorOps.releaseCompactionLease(fs, lease, uuid)
    // lease released: the full maintenance cycle proceeds again
    TextOps.appendToSignatureStore(
      standing.where(col("doc_id") === vid).select("doc_id", "text"),
      "doc_id", "text", store, n = 3, numHashes = 128, bands = 32,
      unretract = true)
    TextOps.compactSignatureStore(spark, store)
    TextOps.retractFromSignatureStore(Seq(vid + 1).toDF("doc_id"), store)
  }

  test("signature store: the candidate prune gates on DISTINCT ids — " +
      "duplicative pairs at the demotion boundary stay correct") {
    // r14 verdict minor: the old gate counted PAIRS as a proxy for the
    // broadcast's real payload (distinct candidate ids); with many
    // delta docs all matching the same corpus doc the proxy demotes a
    // broadcastable prune. This fixture builds exactly that shape (one
    // corpus doc, a delta of near-copies), then sweeps limits across
    // the boundary: every gate decision must serve identical pairs.
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpusDoc = Seq((1000L, base)).toDF("doc_id", "text")
    val deltaDocs = (1L to 8L)
      .map(i => (i, base + s" tail$i")).toDF("doc_id", "text")
    val store = tmpStore()
    TextOps.buildSignatureStore(corpusDoc, "doc_id", "text", store,
      n = 3, numHashes = 128, bands = 32)
    def pairsAt(limit: Long) = TextOps
      .incrementalJaccardPairsFromStore(deltaDocs, corpusDoc,
        "doc_id", "text", store, n = 3, numHashes = 128, bands = 32,
        threshold = 0.5, broadcastKeyLimit = limit)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    val full = pairsAt(Long.MaxValue)
    assert(full.length >= 8 && full.forall(_._2 == 1000L),
      s"fixture must pair every near-copy with the one corpus doc: $full")
    // limits straddling the boundary: distinct ids (1) <= limit < pairs
    // (8) is where the old proxy demoted and the exact gate broadcasts;
    // 0 demotes both joins; MaxValue broadcasts both
    Seq(0L, 1L, 4L, full.length.toLong).foreach { lim =>
      assert(pairsAt(lim) == full, s"pairs diverged at limit $lim")
    }
  }

  test("signature store: the _params stamp is an exclusive create — a " +
      "losing divergent family fails loudly even where rename overwrites") {
    // ADVICE r14: the stage+rename stamp relied on rename-onto-existing
    // FAILING, which POSIX rename(2) (Hadoop's local fs) does not — two
    // racing first builds with different sketch families silently
    // clobbered each other's stamp on file://. The stamp is now an
    // exclusive no-overwrite create: the loser verifies, never replaces.
    val store = tmpStore()
    val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    TextOps.stampParams(fs, store, "n=3,numHashes=128,bands=32")
    // losing with the SAME family is a harmless no-op
    TextOps.stampParams(fs, store, "n=3,numHashes=128,bands=32")
    // losing with a DIVERGENT family is loud
    val e = intercept[IllegalArgumentException] {
      TextOps.stampParams(fs, store, "n=4,numHashes=128,bands=32")
    }
    assert(e.getMessage.contains("disagree"), e.getMessage)
    // and the winner's stamp survived untouched
    assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$store/_params")), "UTF-8")
      == "n=3,numHashes=128,bands=32",
      "the losing stamp must not replace the winner's")
  }
}
