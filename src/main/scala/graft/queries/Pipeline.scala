package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.{ScaleOps, TextOps}

/** The composed training-data curation pipeline — the operators of
  * Dedup/TextAnalysis chained the way a real corpus build runs them:
  *
  *   quality filter → exact dedup → near-dup removal (keep the lowest
  *   doc_id of each >=0.5-Jaccard pair) → per-language corpus stats.
  *
  * Everything stays declarative, so Catalyst fuses the filters into the
  * scan and the only shuffles are the dedup joins and the final rollup.
  * The DuckDB oracle replays the identical pipeline, which pins the
  * composition semantics end to end, not just each stage alone.
  */
object Pipeline {

  /** Shared oracle fragment: the p28 chunk-explode chain (tokens ->
    * chunk count -> per-chunk index), reused verbatim by the d19 and
    * w21 oracles so the three chunking twins cannot drift. Constants
    * 64/48 mirror TextOps.chunkOverlap's registry parameters. */
  private[queries] val chunkExplodeCtes: String =
    """WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents),
        base AS (SELECT doc_id, t, len(t) AS n FROM toks),
        nch AS (
          SELECT doc_id, t,
                 CASE WHEN n <= 64 THEN 1
                      ELSE 1 + CAST((n - 64 + 47) // 48 AS BIGINT) END AS k
          FROM base),
        ex AS (
          SELECT doc_id, t, unnest(generate_series(0, k - 1)) AS ci
          FROM nch)"""


  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "p01_corpus_pipeline",
      (s, d) => {
        val docs = Tables.corpus(s, d)

        // stage 1: quality floor — drop tiny documents
        val quality = docs
          .withColumn("__toks", TextOps.tokens(col("text")))
          .where(size(col("__toks")) >= 20)

        // stage 2: exact dedup on normalized content (keep min doc_id)
        val canonical = quality
          .withColumn("__fp", md5(TextOps.normalize(col("text"))))
          .withColumn("__rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("__fp")).orderBy(col("doc_id"))))
          .where(col("__rk") === 1)

        // stage 3: near-dup removal — drop the higher doc_id of every
        // >=0.5-Jaccard pair (computed over the quality-filtered corpus)
        val nearDupLosers = TextOps
          .ngramJaccardPairs(quality, "doc_id", "text", n = 3, threshold = 0.5)
          .select(col("id_b").as("doc_id")).distinct()
        val kept = canonical.join(nearDupLosers, Seq("doc_id"), "left_anti")

        // stage 4: per-language corpus stats
        kept.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(col("__toks"))).as("total_tokens"),
            sum(length(col("text"))).as("total_chars"))
          .orderBy("lang")
      },
      Some("""
        WITH quality AS (
          SELECT doc_id, lang, text,
                 string_split_regex(trim(text), '\s+') AS toks
          FROM documents
          WHERE len(string_split_regex(trim(text), '\s+')) >= 20
        ), canonical AS (
          SELECT * FROM (
            SELECT q.*, ROW_NUMBER() OVER (
              PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
              ORDER BY doc_id) AS rk
            FROM quality q) t
          WHERE rk = 1
        ), sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(generate_series(1, len(toks)-2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          FROM quality
        ), ex AS (
          SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh
        ), losers AS (
          SELECT DISTINCT b.doc_id
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id, a.n, b.n
          HAVING CAST(COUNT(*) AS DOUBLE)/(a.n + b.n - COUNT(*)) >= 0.5
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
               CAST(SUM(length(text)) AS BIGINT) AS total_chars
        FROM canonical
        WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        GROUP BY lang
        ORDER BY lang"""),
      bench = true),

    // HLL cardinality sketch — algorithms differ across engines, so the
    // gate is rows-only; the relative-error bound is pinned in ScalaTest
    QueryDef(
      "p02_approx_distinct",
      (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_orderkey"), rsd = 0.02)
            .as("approx_orders"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      None),

    // Deterministic hash sampling — the reproducible corpus-subset
    // operator a training pipeline needs (same 5% every run, every
    // engine, no RNG state): sample key = bits 8..38 of the md5-derived
    // doc_id hash (identical in Spark and DuckDB regardless of
    // signed/unsigned shifts), keep key % 20 == 0. Pure narrow filter —
    // pushes to the scan, trivially parallel at any corpus size.
    QueryDef(
      "p03_hash_sample",
      (s, d) =>
        Tables.corpus(s, d)
          .select(col("doc_id"), col("lang"),
            shiftright(TextOps.tokenHash64(col("doc_id").cast("string")), 8)
              .bitwiseAND(0x7FFFFFFFL).as("__k"))
          .where(col("__k") % 20 === 0)
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id, lang FROM (
          SELECT doc_id, lang,
                 ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,16))::UBIGINT >> 8)
                   & 2147483647) AS k
          FROM documents)
        WHERE k % 20 = 0
        ORDER BY doc_id""")),

    // ---- p04: stratified sample (per-language rates, deterministic) ------
    // per-stratum Bernoulli sampling with md5-derived key bits compared
    // against INTEGER thresholds (floor(rate * 2^31)) — the same subset
    // falls out of any engine, any run, any partitioning: downsample the
    // over-represented language, keep the tail. One narrow scan-stage
    // filter, no shuffle before the final sort.
    QueryDef(
      "p04_stratified_sample",
      (s, d) =>
        Tables.corpus(s, d)
          .select(col("doc_id"), col("lang"),
            shiftright(TextOps.tokenHash64(col("doc_id").cast("string")), 8)
              .bitwiseAND(0x7FFFFFFFL).as("__k"))
          // en is the bulk language: keep 5%; everything else: 20%
          .where(col("__k") <
            when(col("lang") === "en", lit(107374182L))
              .otherwise(lit(429496729L)))
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id, lang FROM (
          SELECT doc_id, lang,
                 ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,16))::UBIGINT >> 8)
                   & 2147483647) AS k
          FROM documents)
        WHERE k < CASE WHEN lang = 'en' THEN 107374182 ELSE 429496729 END
        ORDER BY doc_id"""))

    // Quantile sketch (Greenwald-Khanna via approx_percentile) — the
    // fixed-memory percentile operator for 100 TB streams, completing
    // the sketch family (HLL=p02, CMS=t08). Sketch internals differ
    // across engines, so the gate is rows-only; the accuracy bound vs
    // the exact q34-style percentiles is pinned in ScalaTest.
    ,
    QueryDef(
      "p05_approx_quantiles",
      (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            approx_percentile(col("l_extendedprice"), array(lit(0.5), lit(0.95), lit(0.99)), lit(10000))
              .as("price_q"),
            count(lit(1)).as("n"))
          .select(col("l_returnflag"),
            element_at(col("price_q"), 1).as("p50"),
            element_at(col("price_q"), 2).as("p95"),
            element_at(col("price_q"), 3).as("p99"),
            col("n"))
          .orderBy("l_returnflag"),
      None),

    // ---- p06: greedy sequence packing (training-batch assembly) ----------
    // docs shard into md5-derived buckets, each bucket packs greedily in
    // one streaming pass (TextOps.packSequences); the oracle replays the
    // identical greedy recurrence with a recursive CTE per bucket, so the
    // whole sequential algorithm — not just row counts — is pinned.
    QueryDef(
      "p06_sequence_packing",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("tok"))
        TextOps.packSequences(docs, "doc_id", "tok", buckets = 8, capacity = 512)
          .orderBy("doc_id")
      },
      Some("""
        WITH RECURSIVE base AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok,
                 CAST(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT >> 8) & 7) AS BIGINT) AS bucket
          FROM documents
        ), ordered AS (
          SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
          FROM base
        ), packed AS (
          SELECT bucket, rn, doc_id, tok, CAST(0 AS BIGINT) AS seq_id, tok AS fill
          FROM ordered WHERE rn = 1
          UNION ALL
          SELECT o.bucket, o.rn, o.doc_id, o.tok,
                 CASE WHEN p.fill + o.tok <= 512 THEN p.seq_id ELSE p.seq_id + 1 END,
                 CASE WHEN p.fill + o.tok <= 512 THEN p.fill + o.tok ELSE o.tok END
          FROM packed p JOIN ordered o ON o.bucket = p.bucket AND o.rn = p.rn + 1
        )
        SELECT doc_id, bucket, seq_id, tok AS n_tokens
        FROM packed ORDER BY doc_id"""),
      bench = true),

    // ---- p07: deterministic train/val/test split (98/1/1) -----------------
    // the held-out split as a pure function of the doc id (md5-derived
    // bucket % 100): any engine, any run, any partitioning produces the
    // SAME membership — no sampled state to persist, rerunning the
    // pipeline cannot leak val/test docs into train. Scan-stage
    // projection + one count aggregation.
    QueryDef(
      "p07_train_val_test",
      (s, d) =>
        Tables(s, d, "documents")
          .select(col("lang"),
            (shiftright(TextOps.tokenHash64(col("doc_id").cast("string")), 8)
              .bitwiseAND(0x7FFFFFFFL) % 100).as("__b"))
          .withColumn("split",
            when(col("__b") < 98, "train")
              .when(col("__b") === 98, "val").otherwise("test"))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "split"),
      Some("""
        SELECT lang,
               CASE WHEN b < 98 THEN 'train'
                    WHEN b = 98 THEN 'val' ELSE 'test' END AS split,
               COUNT(*) AS n_docs
        FROM (SELECT lang,
                     ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,16))::UBIGINT >> 8)
                       & 2147483647) % 100 AS b
              FROM documents)
        GROUP BY 1, 2
        ORDER BY lang, split""")),

    // ---- p08: weighted sampling without replacement -----------------------
    // Efraimidis–Spirakis A-ES: each doc draws u in (0,1] from the
    // md5-derived 31-bit hash ((k+1)/2^31 — a power-of-two division, so
    // u is the IDENTICAL double in any engine) and ranks by
    // ln(u)/weight; the top-k ranks ARE a weighted sample without
    // replacement. Weight = token count (token-budget-proportional
    // selection, the curation-mix shape). Determinism: the ln input is
    // the same exact double everywhere, the key fixed-points to 1e-9
    // before ranking, and ties break on doc_id — so the SELECTION is
    // reproducible across engines, runs and partitionings, like p03/p04.
    // One narrow projection + a global top-k (Spark TakeOrdered): no
    // shuffle of the corpus, no sampled state to persist.
    QueryDef(
      "p08_weighted_sample",
      (s, d) => {
        val base = Tables.corpus(s, d)
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
          .where(col("n_tokens") >= 1)
        val k31 = shiftright(
          TextOps.tokenHash64(col("doc_id").cast("string")), 8)
          .bitwiseAND(lit(0x7FFFFFFFL))
        val u = (k31 + 1).cast("double") / 2147483648.0
        val keyNano = floor(log(u) / col("n_tokens").cast("double") * 1e9)
          .cast("long")
        base.select(col("doc_id"), col("n_tokens"), keyNano.as("__key"))
          .orderBy(col("__key").desc, col("doc_id")).limit(50)
          .select(col("doc_id"), col("n_tokens"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens,
                 ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,16))::UBIGINT >> 8)
                   & 2147483647) AS k31
          FROM documents),
        keyed AS (
          SELECT doc_id, n_tokens,
                 CAST(floor(ln((CAST(k31 AS BIGINT) + 1) / 2147483648.0)
                   / CAST(n_tokens AS DOUBLE) * 1e9) AS BIGINT) AS key
          FROM base WHERE n_tokens >= 1)
        SELECT doc_id, n_tokens FROM (
          SELECT doc_id, n_tokens FROM keyed
          ORDER BY key DESC, doc_id LIMIT 50)
        ORDER BY doc_id""")),

    // ---- p09: domain mixing — repetition factors to a target token mix ----
    // the pretraining-mix step (DoReMi/LLaMA-style static reweighting):
    // given target token SHARES per language, each doc gets a repetition
    // factor so the mixed corpus hits the target — factor = share *
    // total_tokens / domain_tokens, applied as floor(f) repeats plus an
    // md5-coin Bernoulli for the fractional part (deterministic per doc:
    // any engine, any run, any partitioning mints the same repeats —
    // same discipline as p07's split). Arithmetic: f in milli-units from
    // one IEEE double division of exact integer operands (identical in
    // any engine), everything else integer. Two tiny aggregates + one
    // broadcast join back onto the corpus scan; the corpus is read once.
    QueryDef(
      "p09_domain_mix",
      (s, d) => {
        // target token shares in milli-units (sums to 1000): upweight the
        // low-resource langs, de-emphasize en — the typical rebalance
        val share = typedLit(Map(
          "en" -> 300L, "de" -> 175L, "es" -> 175L, "fr" -> 175L,
          "zh" -> 175L))
        val docs = Tables.corpus(s, d)
          .select(col("doc_id"), col("lang"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        val byLang = docs.groupBy(col("lang"))
          .agg(sum(col("n_tokens")).cast("long").as("lang_tokens"))
        val total = byLang.agg(sum(col("lang_tokens")).cast("long").as("total_tokens"))
        val fMilli = floor(
          share(col("lang")).cast("double") * col("total_tokens").cast("double")
            / col("lang_tokens").cast("double")).cast("long")
        val coin = shiftright(
          TextOps.tokenHash64(concat(lit("mix|"), col("doc_id").cast("string"))), 8)
          .bitwiseAND(lit(0x7FFFFFFFL)) % 1000L
        docs.join(broadcast(byLang), Seq("lang"))
          .crossJoin(broadcast(total))
          // langs OUTSIDE the target mix are dropped, matching the
          // oracle's inner join on the share table (a mix spec that
          // doesn't name a domain excludes it)
          .where(share(col("lang")).isNotNull)
          .select(col("lang"), col("n_tokens"),
            (fMilli.divide(1000L).cast("long") +
              when(coin < fMilli % 1000L, 1L).otherwise(0L)).as("__rep"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("__rep")).cast("long").as("n_repeats"),
            sum(col("__rep") * col("n_tokens")).cast("long").as("tokens_out"))
          .orderBy("lang")
      },
      Some("""
        WITH docs AS (
          SELECT doc_id, lang,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
          FROM documents),
        by_lang AS (
          SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens
          FROM docs GROUP BY lang),
        total AS (
          SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens FROM by_lang),
        share(lang, milli) AS (
          VALUES ('en', 300), ('de', 175), ('es', 175), ('fr', 175),
                 ('zh', 175)),
        rep AS (
          SELECT d.lang, d.n_tokens,
                 CAST(floor(CAST(s.milli AS DOUBLE)
                     * CAST(t.total_tokens AS DOUBLE)
                     / CAST(b.lang_tokens AS DOUBLE)) AS BIGINT) AS fm,
                 ((('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)),1,16))::UBIGINT
                   >> 8) & 2147483647) % 1000 AS coin
          FROM docs d
          JOIN by_lang b USING (lang) JOIN share s ON s.lang = d.lang, total t)
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(fm // 1000 + CASE WHEN coin < fm % 1000 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_repeats,
               CAST(SUM((fm // 1000 + CASE WHEN coin < fm % 1000 THEN 1 ELSE 0 END)
                 * n_tokens) AS BIGINT) AS tokens_out
        FROM rep GROUP BY lang ORDER BY lang""")),

    // ---- p10: explicit HLL sketch, oracle-replayed bit-for-bit ------------
    // p02 demonstrates the production path (Spark's codegen HLL++); this
    // entry PROVES the sketch math portably: m=32 registers from the
    // md5-derived 64-bit hash (bucket = low 5 bits, rho = leading-zero
    // count of the next 55 bits + 1), folded with one shuffle on
    // (lang, bucket) — fixed 32-row state per group no matter the corpus
    // size, the property that makes HLL the 100 TB cardinality operator.
    // All arithmetic to the final division is INTEGER (the 2^-rho sum is
    // kept scaled by 2^56 in a BIGINT), so the oracle matches exactly;
    // the single double division + floor is IEEE-deterministic on both
    // engines. Estimator = raw HLL (alpha_32 * m^2 / sum 2^-rho), no
    // small-range correction — ln() across libms is NOT replayable, and
    // the registered cardinalities sit in the raw regime.
    QueryDef(
      "p10_hll_sketch",
      (s, d) => {
        val h = TextOps.tokenHash64(col("doc_id").cast("string"))
        Tables(s, d, "documents")
          .select(col("lang"),
            h.bitwiseAND(31L).as("bucket"),
            shiftright(h, 5).bitwiseAND((1L << 55) - 1).as("w"))
          .select(col("lang"), col("bucket"),
            when(col("w") === 0L, 56L)
              .otherwise(lit(56L) - length(bin(col("w")))).as("rho"))
          .groupBy(col("lang"), col("bucket"))
          .agg(max(col("rho")).as("r"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("used_buckets"),
            sum(col("r")).cast("long").as("reg_sum"),
            (expr("sum(shiftleft(CAST(1 AS BIGINT), CAST(56 - r AS INT)))")
              + (lit(32L) - count(lit(1))) * lit(72057594037927936L)).as("s"))
          .select(col("lang"),
            floor(lit(5.1486486049969398e19) / col("s").cast("double"))
              .cast("long").as("est_distinct"),
            col("used_buckets"), col("reg_sum"))
          .orderBy("lang")
      },
      Some("""
        WITH h AS (
          SELECT lang,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT AS hv
          FROM documents
        ), b AS (
          SELECT lang, CAST(hv & 31 AS BIGINT) AS bucket,
                 CAST((hv >> 5) & ((1::UBIGINT << 55) - 1) AS BIGINT) AS w
          FROM h
        ), r AS (
          SELECT lang, bucket,
                 MAX(CASE WHEN w = 0 THEN 56 ELSE 56 - length(bin(w)) END) AS r
          FROM b GROUP BY lang, bucket
        ), agg AS (
          SELECT lang,
                 COUNT(*) AS used_buckets,
                 CAST(SUM(r) AS BIGINT) AS reg_sum,
                 CAST(SUM(1::BIGINT << CAST(56 - r AS INT)) AS BIGINT)
                   + (32 - COUNT(*)) * 72057594037927936 AS s
          FROM r GROUP BY lang
        )
        SELECT lang,
               CAST(FLOOR(5.1486486049969398e19 / CAST(s AS DOUBLE)) AS BIGINT)
                 AS est_distinct,
               used_buckets, reg_sum
        FROM agg ORDER BY lang""")),

    // ---- p11: token-budget data selection (quality-ranked) ---------------
    // the "pick the best N tokens" curation step: integer milli-score
    // per doc (token count + avg-token-length components, all integer
    // div — no float ordering), global rank (score desc, doc_id), keep
    // docs while the running token total fits 30% of the corpus. The
    // running total is ScaleOps.runningTotal's two-pass distributed
    // prefix sum — a range repartition plus a partition-count-bounded
    // offset collect, NOT the single-partition window Window.orderBy
    // degrades to. cum_tokens is emitted so the oracle pins the whole
    // prefix, not just membership.
    QueryDef(
      "p11_budget_select",
      (s, d) => {
        // checkpointed: two readers (budget scalar + the prefix-sum sort)
        val scored = Tables.corpus(s, d)
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
            length(col("text")).cast("long").as("n_chars"))
          .select(col("doc_id"), col("n_tokens"),
            (least(col("n_tokens"), lit(100L)) * 5L +
              least(expr("CAST(n_chars * 25 AS BIGINT) div n_tokens"),
                lit(250L))).as("mscore"))
          .localCheckpoint()
        val budget = scored
          .agg(expr("CAST(sum(n_tokens) * 3 AS BIGINT) div 10").as("__budget"))
        ScaleOps.runningTotal(scored, "n_tokens",
            Seq(col("mscore").desc, col("doc_id").asc), cumCol = "cum_tokens")
          .crossJoin(broadcast(budget))
          .where(col("cum_tokens") <= col("__budget"))
          .select(col("doc_id"), col("mscore"), col("n_tokens"),
            col("cum_tokens"))
          .orderBy("cum_tokens")
      },
      Some("""
        WITH scored AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens,
                 CAST(length(text) AS BIGINT) AS n_chars
          FROM documents
        ), s2 AS (
          SELECT doc_id, n_tokens,
                 least(n_tokens, 100) * 5
                   + least((n_chars * 25) // n_tokens, 250) AS mscore
          FROM scored
        ), b AS (
          SELECT CAST((SUM(n_tokens) * 3) // 10 AS BIGINT) AS budget FROM s2
        ), c AS (
          SELECT doc_id, mscore, n_tokens,
                 CAST(SUM(n_tokens) OVER (ORDER BY mscore DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tokens
          FROM s2
        )
        SELECT doc_id, mscore, n_tokens, cum_tokens
        FROM c, b WHERE cum_tokens <= budget
        ORDER BY cum_tokens""")),

    // ---- p12: fixed-size per-stratum sample (deterministic reservoir) ----
    // exactly k=25 docs per language, chosen by md5-hash order — the
    // "same 25 every run, every engine, every partitioning" eval-set
    // primitive that p04's Bernoulli rates cannot express (rates give a
    // BINOMIAL size, not a fixed one). One partitioned window over
    // (lang, hash) — never a global sort — then a rank filter; ties
    // impossible (doc_id is unique, hash collisions broken by doc_id).
    QueryDef(
      "p12_group_sample",
      (s, d) => {
        val k = 25
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(col("__h").asc, col("doc_id").asc)
        Tables.corpus(s, d)
          .select(col("doc_id"), col("lang"),
            shiftright(TextOps.tokenHash64(col("doc_id").cast("string")), 8)
              .bitwiseAND(0x7FFFFFFFL).as("__h"))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= k)
          .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
          .orderBy("lang", "rk")
      },
      Some("""
        WITH h AS (
          SELECT doc_id, lang,
                 ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
                   >> 8) & 2147483647) AS hv
          FROM documents
        ), r AS (
          SELECT doc_id, lang,
                 CAST(ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY hv, doc_id) AS BIGINT) AS rk
          FROM h
        )
        SELECT doc_id, lang, rk FROM r WHERE rk <= 25
        ORDER BY lang, rk""")),

    // ---- p13: histogram-quantile sketch, oracle-replayed ------------------
    // the deterministic fixed-memory quantile estimator (p10's stance,
    // for quantiles): one pass bins values into 4096 equi-width buckets
    // (min/max from a broadcast 1-row aggregate), the bin histogram is
    // the sketch — constant 4096-row state whatever the corpus size —
    // and each quantile reads off the first bin whose cumulative count
    // reaches ceil(q*N). Every arithmetic step is written identically
    // on both engines (double ops are IEEE; the cum window is over the
    // 4096-bin SKETCH, bounded by sketch width, never by data, which is
    // why a partition-less window is fine here and nowhere else).
    // Complements p05 (Spark's GK approx_percentile production path)
    // exactly as p10 complements p02.
    QueryDef(
      "p13_histogram_quantiles",
      (s, d) => {
        val B = 4096
        val li = Tables(s, d, "lineitem").select(col("l_extendedprice").as("x"))
        val stats = li.agg(min(col("x")).as("__lo"), max(col("x")).as("__hi"))
        val binned = li.crossJoin(broadcast(stats))
          .select(least(
            floor((col("x") - col("__lo")) / (col("__hi") - col("__lo"))
              * lit(B.toDouble)),
            lit(B - 1L)).cast("long").as("bin"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("bin"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy()
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)
        val hist = binned.groupBy(col("bin"))
          .agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(w))
          .withColumn("n", sum(col("c")).over(wAll))
        val sel = Seq(("p50", 0.5), ("p95", 0.95), ("p99", 0.99)).map {
          case (lbl, q) =>
            hist.where(col("cum") >= ceil(lit(q) * col("n")))
              .orderBy(col("bin")).limit(1)
              .select(lit(lbl).as("q"), col("bin"))
        }.reduce(_ union _)
        sel.crossJoin(broadcast(stats))
          .select(col("q"), col("bin"),
            (col("__lo") + (col("bin") + lit(0.5))
              * (col("__hi") - col("__lo")) / lit(B.toDouble)).as("est"))
          .orderBy("q")
      },
      Some("""
        WITH x AS (SELECT l_extendedprice AS x FROM lineitem),
        s AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM x),
        b AS (
          SELECT CAST(LEAST(FLOOR(((x - lo) / (hi - lo)) * 4096.0), 4095)
            AS BIGINT) AS bin
          FROM x, s
        ), h AS (SELECT bin, COUNT(*) AS c FROM b GROUP BY bin),
        c AS (
          SELECT bin, c,
                 SUM(c) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(c) OVER () AS n
          FROM h
        ), q(q, frac) AS (VALUES ('p50', 0.5), ('p95', 0.95), ('p99', 0.99)),
        sel AS (
          SELECT q.q, MIN(c.bin) AS bin
          FROM q JOIN c ON c.cum >= CEIL(CAST(q.frac AS DOUBLE) * c.n)
          GROUP BY q.q
        )
        SELECT sel.q, sel.bin,
               (s.lo + (sel.bin + 0.5) * (s.hi - s.lo) / 4096.0) AS est
        FROM sel, s ORDER BY q""")),

    // ---- p14: corpus-version diff (dataset release audit) ----------------
    // the audit a versioned corpus needs between releases: FULL OUTER
    // join v1 x v2 on doc_id, classify added / removed / modified /
    // unchanged (modified = normalized-text md5 differs), and report
    // per-(lang, status) doc counts and token deltas. One join keyed on
    // doc_id, one aggregation — the canonical two-table reconcile shape
    // at any corpus size (same stance as m06, applied to corpus
    // releases). v2 is derived deterministically from v1 (every engine
    // rebuilds the identical release): doc_id%7=0 removed, %11=0
    // text-modified, and %13=0 re-added under a new id.
    QueryDef(
      "p14_corpus_diff",
      (s, d) => {
        def toks(c: org.apache.spark.sql.Column) =
          size(TextOps.tokens(c)).cast("long")
        val v1 = Tables.corpus(s, d)
          .select(col("doc_id"), col("lang"), col("text"))
        val v2 = v1.where(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("lang"),
            when(col("doc_id") % 11 === 0, concat(col("text"), lit(" vnew")))
              .otherwise(col("text")).as("text"))
          // re-added ids are NEGATED (-(id+1)): collision-free against
          // any non-negative corpus id space, unlike a fixed offset
          // which a >1M-doc corpus would walk into
          .union(v1.where(col("doc_id") % 13 === 0)
            .select((-(col("doc_id") + 1L)).as("doc_id"), col("lang"),
              concat(col("text"), lit(" fresh")).as("text")))
        val a = v1.select(col("doc_id"), col("lang").as("lang_a"),
          md5(TextOps.normalize(col("text"))).as("h_a"),
          toks(col("text")).as("t_a"))
        val b = v2.select(col("doc_id"), col("lang").as("lang_b"),
          md5(TextOps.normalize(col("text"))).as("h_b"),
          toks(col("text")).as("t_b"))
        a.join(b, Seq("doc_id"), "full_outer")
          .select(coalesce(col("lang_a"), col("lang_b")).as("lang"),
            when(col("h_a").isNull, "added")
              .when(col("h_b").isNull, "removed")
              .when(col("h_a") =!= col("h_b"), "modified")
              .otherwise("unchanged").as("status"),
            (coalesce(col("t_b"), lit(0L)) - coalesce(col("t_a"), lit(0L)))
              .as("dt"))
          .groupBy(col("lang"), col("status"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("dt")).cast("long").as("token_delta"))
          .orderBy("lang", "status")
      },
      Some("""
        WITH v1 AS (
          SELECT doc_id, lang, text FROM documents
        ), v2 AS (
          SELECT doc_id, lang,
                 CASE WHEN doc_id % 11 = 0 THEN text || ' vnew' ELSE text END
                   AS text
          FROM v1 WHERE doc_id % 7 <> 0
          UNION ALL
          SELECT -(doc_id + 1), lang, text || ' fresh'
          FROM v1 WHERE doc_id % 13 = 0
        ), a AS (
          SELECT doc_id, lang AS lang_a,
                 md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h_a,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS t_a
          FROM v1
        ), b AS (
          SELECT doc_id, lang AS lang_b,
                 md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h_b,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS t_b
          FROM v2
        )
        SELECT COALESCE(lang_a, lang_b) AS lang,
               CASE WHEN h_a IS NULL THEN 'added'
                    WHEN h_b IS NULL THEN 'removed'
                    WHEN h_a <> h_b THEN 'modified'
                    ELSE 'unchanged' END AS status,
               COUNT(*) AS n_docs,
               CAST(SUM(COALESCE(t_b, 0) - COALESCE(t_a, 0)) AS BIGINT)
                 AS token_delta
        FROM a FULL OUTER JOIN b USING (doc_id)
        GROUP BY 1, 2 ORDER BY lang, status""")),

    // ---- p15: length-grouped training-batch assembly ----------------------
    // Dynamic batching for training efficiency: order documents by token
    // length (desc, doc_id tiebreak), cut fixed 32-doc batches, and
    // report each batch's padded width (its max length) and padding
    // waste — grouping similar lengths is what keeps pad-token FLOPs
    // near zero, vs the ~50% waste of random batching. The global
    // ordering IS the semantics here, so the rank comes from
    // [[ScaleOps.runningTotal]]'s two-pass distributed prefix sum (range
    // repartition + driver-side per-partition offsets, bounded by the
    // partition count) — never a single-partition window. All-integer
    // math end to end; DuckDB replays the ranking exactly.
    QueryDef(
      "p15_length_batching",
      (s, d) => {
        val lens = Tables.corpus(s, d)
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
            lit(1).as("__one"))
        ScaleOps.runningTotal(lens, "__one",
            Seq(col("n_tokens").desc, col("doc_id")), "rn")
          .withColumn("batch_id", expr("(rn - 1) div 32").cast("long"))
          .groupBy("batch_id")
          .agg(count(lit(1)).as("n_docs"),
            max("n_tokens").as("max_tokens"),
            sum("n_tokens").as("sum_tokens"))
          .withColumn("padding_waste",
            col("n_docs") * col("max_tokens") - col("sum_tokens"))
          .orderBy("batch_id")
      },
      Some("""
        WITH lens AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
          FROM documents
        ), ranked AS (
          SELECT doc_id, n_tokens,
                 ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
          FROM lens
        )
        SELECT CAST((rn - 1) // 32 AS BIGINT) AS batch_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(max(n_tokens) AS BIGINT) AS max_tokens,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS padding_waste
        FROM ranked GROUP BY 1 ORDER BY 1""")),

    // ---- p17: contamination-aware train/test split ------------------------
    // the split a benchmark-clean corpus release actually ships: a
    // deterministic hash split (p07's md5 coin, 90/10) and then every
    // train doc sharing >= 1 word 4-gram with ANY test doc is DROPPED
    // (d08's broadcast decontamination, train side never shuffles on a
    // gram). Doc-level output pins each document's disposition.
    QueryDef(
      "p17_decontaminated_split",
      (s, d) => {
        val docs = Tables.corpus(s, d)
          .withColumn("__b",
            shiftright(TextOps.tokenHash64(col("doc_id").cast("string")), 8)
              .bitwiseAND(0x7FFFFFFFL) % 100)
        val train = docs.where(col("__b") < 90)
        val test = docs.where(col("__b") >= 90)
        val dropped = TextOps.contaminationPairs(
            train, test, "doc_id", "text", n = 4)
          .select(col("doc_id")).distinct().withColumn("__d", lit(1))
        docs.join(dropped, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("__b") >= 90, "test")
              .when(col("__d").isNotNull, "dropped")
              .otherwise("train").as("split"))
          .orderBy("doc_id")
      },
      Some("""
        WITH b AS (
          SELECT doc_id, text,
                 ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,16))::UBIGINT >> 8)
                   & 2147483647) % 100 AS b
          FROM documents
        ), toks AS (
          SELECT doc_id, b, string_split_regex(trim(text), '\s+') AS w FROM b
        ), sh AS (
          SELECT doc_id, b,
                 list_distinct(list_transform(generate_series(1, len(w)-3),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS g
          FROM toks
        ), ex AS (
          SELECT doc_id, b, unnest(g) AS s FROM sh
        ), dropped AS (
          SELECT DISTINCT tr.doc_id
          FROM ex tr JOIN ex te ON tr.s = te.s
          WHERE tr.b < 90 AND te.b >= 90
        )
        SELECT doc_id,
               CASE WHEN b >= 90 THEN 'test'
                    WHEN doc_id IN (SELECT doc_id FROM dropped) THEN 'dropped'
                    ELSE 'train' END AS split
        FROM b ORDER BY doc_id""")),

    // ---- p16: curation v2 — the NEW primitives composed end-to-end -------
    // quality floor → exact dedup → quality-ranked token-budget
    // selection (p11's scoring, over the deduped set) → length-grouped
    // batch assembly (p15) — i.e. the full "select and shape the
    // training set" pass a corpus release runs. The p01 stance: the
    // oracle replays the COMPOSITION, so stage interfaces (which set
    // feeds which stage) are pinned, not just each stage alone. Both
    // global orderings ride ScaleOps.runningTotal's two-pass prefix sum.
    QueryDef(
      "p16_curation_v2",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val quality = Tables.corpus(s, d)
          .select(col("doc_id"), col("text"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
            length(col("text")).cast("long").as("n_chars"))
          .where(col("n_tokens") >= 20)
        val canonical = quality
          .withColumn("__fp", md5(TextOps.normalize(col("text"))))
          .withColumn("__rk", row_number().over(
            Window.partitionBy(col("__fp")).orderBy(col("doc_id"))))
          .where(col("__rk") === 1)
          .select(col("doc_id"), col("n_tokens"), col("n_chars"))
        // checkpointed (p11 stance): budget scalar + prefix-sum sort
        val scored = canonical
          .select(col("doc_id"), col("n_tokens"),
            (least(col("n_tokens"), lit(100L)) * 5L +
              least(expr("CAST(n_chars * 25 AS BIGINT) div n_tokens"),
                lit(250L))).as("mscore"))
          .localCheckpoint()
        val budget = scored
          .agg(expr("CAST(sum(n_tokens) * 3 AS BIGINT) div 10").as("__budget"))
        val selected = ScaleOps.runningTotal(scored, "n_tokens",
            Seq(col("mscore").desc, col("doc_id").asc), cumCol = "cum_tokens")
          .crossJoin(broadcast(budget))
          .where(col("cum_tokens") <= col("__budget"))
          .select(col("doc_id"), col("n_tokens"), lit(1).as("__one"))
        ScaleOps.runningTotal(selected, "__one",
            Seq(col("n_tokens").desc, col("doc_id")), "rn")
          .withColumn("batch_id", expr("(rn - 1) div 32").cast("long"))
          .groupBy("batch_id")
          .agg(count(lit(1)).as("n_docs"),
            max("n_tokens").as("max_tokens"),
            sum("n_tokens").as("sum_tokens"))
          .withColumn("padding_waste",
            col("n_docs") * col("max_tokens") - col("sum_tokens"))
          .orderBy("batch_id")
      },
      Some("""
        WITH quality AS (
          SELECT doc_id, text,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens,
                 CAST(length(text) AS BIGINT) AS n_chars
          FROM documents
          WHERE len(string_split_regex(trim(text), '\s+')) >= 20
        ), canonical AS (
          SELECT doc_id, n_tokens, n_chars FROM (
            SELECT q.*, ROW_NUMBER() OVER (
              PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
              ORDER BY doc_id) AS rk
            FROM quality q) t
          WHERE rk = 1
        ), s2 AS (
          SELECT doc_id, n_tokens,
                 least(n_tokens, 100) * 5
                   + least((n_chars * 25) // n_tokens, 250) AS mscore
          FROM canonical
        ), b AS (
          SELECT CAST((SUM(n_tokens) * 3) // 10 AS BIGINT) AS budget FROM s2
        ), c AS (
          SELECT doc_id, n_tokens,
                 CAST(SUM(n_tokens) OVER (ORDER BY mscore DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tokens
          FROM s2
        ), sel AS (
          SELECT doc_id, n_tokens FROM c, b WHERE cum_tokens <= budget
        ), ranked AS (
          SELECT doc_id, n_tokens,
                 ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
          FROM sel
        )
        SELECT CAST((rn - 1) // 32 AS BIGINT) AS batch_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(max(n_tokens) AS BIGINT) AS max_tokens,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS padding_waste
        FROM ranked GROUP BY 1 ORDER BY 1""")),

    // ---- p18: temperature-scaled source mixing (alpha sampling) -----------
    // the multilingual/multi-domain rebalance: per-source sampling
    // weights proportional to count^alpha (alpha=0.5 -> sqrt), so
    // high-resource sources are downweighted and the tail upweighted —
    // unlike p09's FIXED target shares, the weights here derive from
    // the observed counts. Budget = half the corpus. Quotas are exact:
    // w6 = floor(sqrt(n_s)*1e6) fixed-pointed per source BEFORE the
    // (integer) denominator sum, quota = floor(N * (w6/denom)) on
    // identical operands in both engines. Selection within a source is
    // the p03 md5 key ascending — deterministic sampling without
    // replacement. The rank is a window partitioned BY SOURCE (never
    // global); at 100 TB the same selection runs as a per-source key
    // threshold from a two-pass quantile instead of a full sort.
    QueryDef(
      "p18_temperature_mix",
      (s, d) => {
        val docs = Tables.corpus(s, d)
          .select(col("doc_id"), col("source"),
            shiftright(TextOps.tokenHash64(concat(lit("tmix|"),
              col("doc_id").cast("string"))), 8)
              .bitwiseAND(0x7FFFFFFFL).as("__k"))
        // per-source counts are BOUNDED (source is a dimension); one
        // column-pruned aggregation pass, then the quota arithmetic on
        // the driver — vs deriving denom/total as separate corpus
        // aggregations (3 scans + a nested-loop cross join in the plan)
        import s.implicits._
        val bySrc = docs.groupBy("source")
          .agg(count(lit(1)).as("n_src"))
          .as[(String, Long)].collect().sortBy(_._1)
        val w6 = bySrc.map { case (_, n) =>
          math.floor(math.sqrt(n.toDouble) * 1e6).toLong }
        val denom = w6.sum
        val nTotal = bySrc.map(_._2).sum
        val quotas = bySrc.zip(w6).map { case ((src, n), w) =>
          (src, math.min(
            math.floor(math.floor(nTotal.toDouble / 2.0) *
              (w.toDouble / denom.toDouble)).toLong, n))
        }.toSeq.toDF("source", "quota")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("__k").asc, col("doc_id").asc)
        docs.withColumn("__rn", row_number().over(w))
          .join(broadcast(quotas), "source")
          .where(col("__rn") <= col("quota"))
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id")
      },
      Some("""
        WITH docs AS (
          SELECT doc_id, source,
                 ((('0x' || substr(md5('tmix|' || CAST(doc_id AS VARCHAR)),1,16))::UBIGINT >> 8)
                   & 2147483647) AS k
          FROM documents),
        bysrc AS (
          SELECT source, COUNT(*) AS n_src,
                 CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1e6) AS BIGINT) AS w6
          FROM docs GROUP BY source),
        dt AS (SELECT CAST(SUM(w6) AS BIGINT) AS denom,
                      CAST(SUM(n_src) AS BIGINT) AS n_total
               FROM bysrc),
        quotas AS (
          SELECT source,
                 LEAST(CAST(floor(floor(CAST(n_total AS DOUBLE) / 2.0) *
                        (CAST(w6 AS DOUBLE) / CAST(denom AS DOUBLE)))
                   AS BIGINT), n_src) AS quota
          FROM bysrc, dt),
        ranked AS (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY k ASC, doc_id ASC) AS rn
          FROM docs)
        SELECT r.doc_id, r.source
        FROM ranked r JOIN quotas q USING (source)
        WHERE r.rn <= q.quota
        ORDER BY r.doc_id""")),

    // ---- p19: EXACT distributed quantiles (value-histogram prefix sum) ----
    // exact per-language p50/p90/p99 of document token length — the
    // exact counterpart of p05 (Spark GK sketch) and p13 (equi-width
    // histogram): when the value domain is small-cardinality (token
    // lengths, status codes, bucketed sizes), exact quantiles need no
    // sketch and no global sort — a (lang, value) count table, a
    // LANG-partitioned cumulative window over it (histogram-sized, not
    // corpus-sized), and the k-th-order-statistic read-off
    // v_q = min{ v : cum(v) >= ceil(q*n) }, all in integer arithmetic.
    QueryDef(
      "p19_exact_quantiles",
      (s, d) => {
        val docs = Tables.corpus(s, d)
          .select(col("lang"),
            size(TextOps.tokens(col("text"))).cast("long").as("v"))
        val hist = docs.groupBy(col("lang"), col("v"))
          .agg(count(lit(1)).as("c"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("v"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val cum = hist.withColumn("cum", sum(col("c")).over(w))
        val tot = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        cum.join(broadcast(tot), "lang")
          .groupBy(col("lang"))
          .agg(max(col("n")).as("n"),
            min(when(col("cum") >= expr("(n * 500 + 999) div 1000"),
              col("v"))).as("p50"),
            min(when(col("cum") >= expr("(n * 900 + 999) div 1000"),
              col("v"))).as("p90"),
            min(when(col("cum") >= expr("(n * 990 + 999) div 1000"),
              col("v"))).as("p99"))
          .orderBy("lang")
      },
      Some("""
        WITH docs AS (
          SELECT lang,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS v
          FROM documents),
        hist AS (SELECT lang, v, COUNT(*) AS c FROM docs GROUP BY lang, v),
        cum AS (
          SELECT lang, v,
                 SUM(c) OVER (PARTITION BY lang ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM hist),
        tot AS (SELECT lang, COUNT(*) AS n FROM docs GROUP BY lang)
        SELECT c.lang, CAST(MAX(t.n) AS BIGINT) AS n,
               CAST(MIN(CASE WHEN c.cum >= (t.n * 500 + 999) // 1000
                 THEN c.v END) AS BIGINT) AS p50,
               CAST(MIN(CASE WHEN c.cum >= (t.n * 900 + 999) // 1000
                 THEN c.v END) AS BIGINT) AS p90,
               CAST(MIN(CASE WHEN c.cum >= (t.n * 990 + 999) // 1000
                 THEN c.v END) AS BIGINT) AS p99
        FROM cum c JOIN tot t USING (lang)
        GROUP BY c.lang
        ORDER BY c.lang""")),

    // ---- p20: composed curation v3 (quality -> novelty -> temperature) ----
    // this round's primitives chained end-to-end with doc-level
    // disposition pinned (the p16/p17 stance — the ORACLE checks the
    // stage INTERFACES, not just each stage in isolation): a token
    // floor, then t23's 3-gram novelty ON THE SURVIVORS (novelty is
    // relative to what precedes a doc in the kept set), then p18's
    // temperature-scaled per-source sampling over the novel pool.
    // status: low_quality | low_novelty | not_sampled | selected.
    QueryDef(
      "p20_curation_v3",
      (s, d) => {
        import s.implicits._
        val docs = Tables.corpus(s, d)
          .select(col("doc_id"), col("source"), col("text"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        val qd = docs.where(col("n_tokens") >= 20)
        // gram separator is "\u0001" (a visible escape, not a raw
        // control byte), matching t23 and the oracle's chr(1): an empty
        // separator would merge distinct grams on adjacent-token boundary
        // collisions (["a","bc"] vs ["ab","c"]). The size guard is local
        // — without it a quality threshold below 3 tokens would hit
        // sequence(1, negative) at runtime.
        val grams = qd
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
          .where(size(col("t")) >= 3)
          .select(col("doc_id"), explode(
            transform(sequence(lit(1), size(col("t")) - 2),
              i => concat_ws("\u0001",
                element_at(col("t"), i), element_at(col("t"), i + 1),
                element_at(col("t"), i + 2)))).as("gram"))
          .distinct()
          .localCheckpoint() // feeds both novelty aggregations (t23's skew-safe plan)
        // same two-aggregation formulation as t23 (see TextAnalysis.scala):
        // groupBy(gram).min gets map-side partial aggregation so stop-gram
        // hot keys collapse per map task; novel counts ride the uniform
        // doc_id key — no gram-partitioned window, no join-back on gram.
        val firstDoc = grams.groupBy("gram")
          .agg(min(col("doc_id")).as("first_doc"))
        val nNovel = firstDoc.groupBy(col("first_doc").as("doc_id"))
          .agg(count(lit(1)).as("n_novel"))
        val nov = grams.groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"))
          .join(nNovel, Seq("doc_id"), "left")
          .select(col("doc_id"),
            floor(coalesce(col("n_novel"), lit(0L)).cast("double") * 1000.0 /
              col("n_grams").cast("double")).cast("long").as("nov_pm"))
        val nq = qd.join(nov, "doc_id")
          .withColumn("nov_ok", col("nov_pm") >= 100)
        val pool = nq.where(col("nov_ok"))
          .select(col("doc_id"), col("source"),
            shiftright(TextOps.tokenHash64(concat(lit("cv3|"),
              col("doc_id").cast("string"))), 8)
              .bitwiseAND(0x7FFFFFFFL).as("__k"))
        // p18's driver-side quotas from the BOUNDED per-source counts
        val bySrc = pool.groupBy("source")
          .agg(count(lit(1)).as("n_src"))
          .as[(String, Long)].collect().sortBy(_._1)
        val w6 = bySrc.map { case (_, n) =>
          math.floor(math.sqrt(n.toDouble) * 1e6).toLong }
        val denom = w6.sum
        val nTotal = bySrc.map(_._2).sum
        val quotas = bySrc.zip(w6).map { case ((src, n), w) =>
          (src, math.min(
            math.floor(math.floor(nTotal.toDouble / 2.0) *
              (w.toDouble / denom.toDouble)).toLong, n))
        }.toSeq.toDF("source", "quota")
        val wRank = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("__k").asc, col("doc_id").asc)
        val sel = pool
          .withColumn("__rn", row_number().over(wRank))
          .join(broadcast(quotas), "source")
          .select(col("doc_id"), (col("__rn") <= col("quota")).as("sel"))
        docs.select(col("doc_id"), col("source"), col("n_tokens"))
          .join(nq.select(col("doc_id"), col("nov_ok")), Seq("doc_id"), "left")
          .join(sel, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"),
            when(col("n_tokens") < 20, "low_quality")
              .when(!col("nov_ok"), "low_novelty")
              .when(col("sel"), "selected")
              .otherwise("not_sampled").as("status"))
          .orderBy("doc_id")
      },
      Some("""
        WITH docs AS (
          SELECT doc_id, source, text,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
          FROM documents),
        qd AS (SELECT * FROM docs WHERE n_tokens >= 20),
        toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM qd),
        grams AS (
          SELECT DISTINCT doc_id,
                 t[i] || chr(1) || t[i+1] || chr(1) || t[i+2] AS gram
          FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)),
        fd AS (SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram),
        nov AS (
          SELECT g.doc_id,
                 CAST(floor(CAST(SUM(CASE WHEN f.first_doc = g.doc_id
                                          THEN 1 ELSE 0 END) AS DOUBLE)
                   * 1000.0 / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS nov_pm
          FROM grams g JOIN fd f USING (gram) GROUP BY g.doc_id),
        nq AS (
          SELECT q.doc_id, q.source, n.nov_pm >= 100 AS nov_ok
          FROM qd q JOIN nov n USING (doc_id)),
        pool AS (
          SELECT doc_id, source,
                 ((('0x' || substr(md5('cv3|' || CAST(doc_id AS VARCHAR)),1,16))::UBIGINT >> 8)
                   & 2147483647) AS k
          FROM nq WHERE nov_ok),
        bysrc AS (
          SELECT source, COUNT(*) AS n_src,
                 CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1e6) AS BIGINT) AS w6
          FROM pool GROUP BY source),
        dt AS (SELECT CAST(SUM(w6) AS BIGINT) AS denom,
                      CAST(SUM(n_src) AS BIGINT) AS n_total
               FROM bysrc),
        quotas AS (
          SELECT source,
                 LEAST(CAST(floor(floor(CAST(n_total AS DOUBLE) / 2.0) *
                        (CAST(w6 AS DOUBLE) / CAST(denom AS DOUBLE)))
                   AS BIGINT), n_src) AS quota
          FROM bysrc, dt),
        ranked AS (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY k ASC, doc_id ASC) AS rn
          FROM pool),
        sel AS (
          SELECT r.doc_id, (r.rn <= q.quota) AS sel
          FROM ranked r JOIN quotas q USING (source))
        SELECT d.doc_id, d.source,
               CASE WHEN d.n_tokens < 20 THEN 'low_quality'
                    WHEN NOT nq.nov_ok THEN 'low_novelty'
                    WHEN sel.sel THEN 'selected'
                    ELSE 'not_sampled' END AS status
        FROM docs d
        LEFT JOIN nq USING (doc_id)
        LEFT JOIN sel USING (doc_id)
        ORDER BY d.doc_id""")),

    // ---- p21: Z-order layout + min/max data skipping ----------------------
    // the multi-dimensional file-layout question answered with numbers:
    // rank-normalize (partkey, suppkey) to a fixed 10-bit domain (the
    // max comes from one scalar aggregate — scale-invariant constants),
    // interleave to a Morton code, and model files as fixed-prefix
    // z-buckets vs single-column (partkey-sorted) buckets. For each
    // layout x query box the gate emits how many buckets min/max
    // pruning would scan and how many rows those buckets hold — the
    // exact statistic a 100 TB lakehouse reads off parquet footers. A
    // suppkey-range query skips most z-buckets but must scan EVERY
    // partkey-sorted bucket (the point of Z-ordering); pinned in
    // PipelineSuite. All-integer math; the oracle replays the interleave
    // bit-for-bit (ScaleOps.zorderKeySql emits the same mask/shift/add).
    QueryDef(
      "p21_zorder_skipping",
      (s, d) => {
        import s.implicits._
        val li = Tables(s, d, "lineitem")
          .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
        val mx = li.agg(max(col("p")).as("pm"), max(col("sk")).as("sm"))
        val nrm = li.crossJoin(mx) // scalar broadcast (maxRows == 1)
          .withColumn("pn", expr("p * 1024 div (pm + 1)"))
          .withColumn("sn", expr("sk * 1024 div (sm + 1)"))
        val rows = nrm
          .withColumn("zb",
            shiftright(ScaleOps.zorderKey(col("pn"), col("sn"), 10), 12))
          .withColumn("pb", shiftright(col("pn"), 2))
        def layout(name: String, bucket: org.apache.spark.sql.Column) =
          rows.groupBy(bucket.as("b"))
            .agg(min(col("p")).as("pmin"), max(col("p")).as("pmax"),
              min(col("sk")).as("smin"), max(col("sk")).as("smax"),
              count(lit(1)).as("nrows"))
            .withColumn("layout", lit(name))
        val buckets = layout("zorder", col("zb"))
          .unionByName(layout("partsort", col("pb")))
        val boxes = Seq(
          ("part_mid", 100L, 300L, 0L, 1000000000L),
          ("supp_low", 0L, 1000000000L, 2L, 5L))
          .toDF("query", "plo", "phi", "slo", "shi")
        val hit = col("pmax") >= col("plo") && col("pmin") < col("phi") &&
          col("smax") >= col("slo") && col("smin") < col("shi")
        buckets.crossJoin(broadcast(boxes))
          .groupBy(col("layout"), col("query"))
          .agg(count(lit(1)).as("buckets_total"),
            sum(when(hit, 1L).otherwise(0L)).as("buckets_scanned"),
            sum(when(hit, col("nrows")).otherwise(0L)).as("rows_scanned"))
          .orderBy("layout", "query")
      },
      Some(s"""
        WITH li AS (SELECT l_partkey AS p, l_suppkey AS sk FROM lineitem),
        mx AS (SELECT MAX(p) AS pm, MAX(sk) AS sm FROM li),
        nrm AS (
          SELECT p, sk, (p * 1024) // (pm + 1) AS pn,
                 (sk * 1024) // (sm + 1) AS sn
          FROM li CROSS JOIN mx),
        zr AS (
          SELECT p, sk,
                 ${ScaleOps.zorderKeySql("pn", "sn", 10)} >> 12 AS zb,
                 pn >> 2 AS pb
          FROM nrm),
        bz AS (
          SELECT 'zorder' AS layout, zb AS b, MIN(p) AS pmin, MAX(p) AS pmax,
                 MIN(sk) AS smin, MAX(sk) AS smax, COUNT(*) AS nrows
          FROM zr GROUP BY zb),
        bp AS (
          SELECT 'partsort' AS layout, pb AS b, MIN(p), MAX(p),
                 MIN(sk), MAX(sk), COUNT(*)
          FROM zr GROUP BY pb),
        buckets AS (SELECT * FROM bz UNION ALL SELECT * FROM bp),
        boxes(query, plo, phi, slo, shi) AS (VALUES
          ('part_mid', 100, 300, 0, 1000000000),
          ('supp_low', 0, 1000000000, 2, 5))
        SELECT layout, query, COUNT(*) AS buckets_total,
               CAST(SUM(CASE WHEN pmax >= plo AND pmin < phi
                              AND smax >= slo AND smin < shi
                         THEN 1 ELSE 0 END) AS BIGINT) AS buckets_scanned,
               CAST(SUM(CASE WHEN pmax >= plo AND pmin < phi
                              AND smax >= slo AND smin < shi
                         THEN nrows ELSE 0 END) AS BIGINT) AS rows_scanned
        FROM buckets CROSS JOIN boxes
        GROUP BY layout, query
        ORDER BY layout, query""")),

    // ---- p22: declarative data-quality gate (dbt-test / Deequ shape) ------
    // the publish gate a pipeline runs before a table ships: every
    // row-conditional check folds into ONE shared aggregation scan,
    // uniqueness is one keyed aggregation, referential integrity one
    // anti-join against the distinct key side. The corpus' known
    // lineitem quirk — duplicate (orderkey, linenumber) pairs — shows
    // up as a real violation count; the other checks prove clean.
    QueryDef(
      "p22_data_quality",
      (s, d) => {
        import graft.engine.DataChecks._
        run(Tables(s, d, "lineitem"), Seq(
            NotNull("notnull_orderkey", Seq("l_orderkey", "l_linenumber")),
            Unique("unique_order_line", Seq("l_orderkey", "l_linenumber")),
            InRange("range_quantity", "l_quantity", 1, 50),
            Accepted("accepted_returnflag", "l_returnflag", Seq("A", "N", "R")),
            RefIntegrity("fk_orders", "l_orderkey",
              Tables(s, d, "orders"), "o_orderkey")))
          .orderBy("check_name")
      },
      Some("""
        SELECT 'accepted_returnflag' AS check_name,
               (SELECT count(*) FROM lineitem
                WHERE l_returnflag IS NOT NULL
                  AND l_returnflag NOT IN ('A', 'N', 'R')) AS violations
        UNION ALL
        SELECT 'fk_orders',
               (SELECT count(*) FROM lineitem l
                WHERE l_orderkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL
        SELECT 'notnull_orderkey',
               (SELECT count(*) FROM lineitem
                WHERE l_orderkey IS NULL OR l_linenumber IS NULL)
        UNION ALL
        SELECT 'range_quantity',
               (SELECT count(*) FROM lineitem
                WHERE l_quantity IS NOT NULL
                  AND (l_quantity < 1 OR l_quantity > 50))
        UNION ALL
        SELECT 'unique_order_line',
               (SELECT count(*) FROM (
                  SELECT 1 FROM lineitem
                  GROUP BY l_orderkey, l_linenumber
                  HAVING count(*) > 1) t)
        ORDER BY check_name""")),

    // ---- p23: KMV (bottom-k) distinct sketch with SET-OPERATION
    // estimates — the sketch family HLL can't serve: bottom-k of a
    // uniform hash supports union (merge bottom-k), intersection and
    // Jaccard (shared fraction under the union's kth), all from k
    // hashes per set. Fully oracle-replayable because the hash is the
    // md5 tokenHash64 (logical-shifted to 52 bits so the VALUE ORDER
    // matches DuckDB's UBIGINT shift) and every estimate is integer
    // arithmetic: est = (k-1) * 2^52 div kth-smallest. The bottom-k
    // itself rides TopKAgg (value = -h, exact in a double at 52 bits) —
    // partial-aggregable, so each map task ships <= k hashes. All
    // cross joins below are scalar (ungrouped aggregates, maxRows=1).
    QueryDef(
      "p23_kmv_distinct",
      (s, d) => {
        import graft.functions.{TextOps, TopKAgg}
        val k = 128
        val scale = (k - 1).toLong * (1L << 52) // 127 * 2^52
        val h = Tables(s, d, "events")
          .select(col("event_type"),
            shiftrightunsigned(
              TextOps.tokenHash64(col("user_id").cast("string")), 12).as("h"))
          .distinct()
        def bottomK(df: org.apache.spark.sql.DataFrame, as: String) =
          df.agg(TopKAgg.column(s, negate(col("h").cast("double")),
            col("h"), k).as(as))
        val va = bottomK(h.where(col("event_type") === "view"), "va")
        val cb = bottomK(h.where(col("event_type") === "click"), "cb")
        val ub = bottomK(
          h.where(col("event_type").isin("view", "click"))
            .select("h").distinct(), "ub")
        def est(arr: String): org.apache.spark.sql.Column =
          when(size(col(arr)) < k, size(col(arr)).cast("long"))
            .otherwise(expr(s"$scale div element_at($arr, $k)"))
        val row = va.crossJoin(cb).crossJoin(ub)
          .withColumn("ku", element_at(col("ub"),
            least(lit(k), size(col("ub")))))
          .withColumn("dv", est("va"))
          .withColumn("dc", est("cb"))
          .withColumn("du", est("ub"))
          .withColumn("shared",
            size(filter(array_intersect(col("va"), col("cb")),
              x => x <= col("ku"))).cast("long"))
          .withColumn("j6",
            expr(s"(shared * 1000000) div least($k, size(ub))"))
          .withColumn("di", expr("(j6 * du) div 1000000"))
        Seq("distinct_view" -> "dv", "distinct_click" -> "dc",
            "distinct_union" -> "du", "jaccard6" -> "j6",
            "distinct_intersection" -> "di")
          .map { case (m, c) =>
            row.select(lit(m).as("metric"), col(c).cast("long").as("value"))
          }
          .reduce(_ unionByName _)
          .orderBy("metric")
      },
      Some("""
        WITH h AS (
          SELECT DISTINCT event_type,
                 CAST((('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 16))
                   ::UBIGINT >> 12) AS BIGINT) AS h
          FROM events),
        bv AS (SELECT h FROM h WHERE event_type = 'view' ORDER BY h LIMIT 128),
        bc AS (SELECT h FROM h WHERE event_type = 'click' ORDER BY h LIMIT 128),
        bu AS (SELECT DISTINCT h FROM h
               WHERE event_type IN ('view', 'click') ORDER BY h LIMIT 128),
        stats AS (
          SELECT (SELECT count(*) FROM bv) AS nv, (SELECT max(h) FROM bv) AS kv,
                 (SELECT count(*) FROM bc) AS nc, (SELECT max(h) FROM bc) AS kc,
                 (SELECT count(*) FROM bu) AS nu, (SELECT max(h) FROM bu) AS ku),
        vals AS (
          SELECT
            CASE WHEN nv < 128 THEN nv ELSE 571957152676052992 // kv END AS dv,
            CASE WHEN nc < 128 THEN nc ELSE 571957152676052992 // kc END AS dc,
            CASE WHEN nu < 128 THEN nu ELSE 571957152676052992 // ku END AS du,
            (SELECT count(*) FROM bv JOIN bc USING (h)
             CROSS JOIN stats s WHERE h <= s.ku) AS shared,
            LEAST(128, nu) AS denom
          FROM stats),
        out AS (
          SELECT dv, dc, du,
                 (shared * 1000000) // denom AS j6
          FROM vals)
        SELECT 'distinct_click' AS metric, CAST(dc AS BIGINT) AS value FROM out
        UNION ALL SELECT 'distinct_intersection',
                  CAST((j6 * du) // 1000000 AS BIGINT) FROM out
        UNION ALL SELECT 'distinct_union', CAST(du AS BIGINT) FROM out
        UNION ALL SELECT 'distinct_view', CAST(dv AS BIGINT) FROM out
        UNION ALL SELECT 'jaccard6', CAST(j6 AS BIGINT) FROM out
        ORDER BY metric""")),

    // ---- p24: dataset card (per-source corpus summary) --------------------
    // the "dataset card" table a curation run publishes alongside the
    // data: volume, token mass, language spread, length envelope, exact-
    // dup rate and corpus share per source. One groupBy over one scan
    // (the two count-distincts ride the planner's Expand, still partial-
    // aggregated) plus a scalar total broadcast (maxRows=1 — the
    // PlanLint-sanctioned cross-join shape). Every derived ratio is
    // integral (`div`), so the card is bit-stable at any parallelism.
    QueryDef(
      "p24_dataset_card",
      (s, d) => {
        val docs = Tables.corpus(s, d)
          .select(col("source"), col("lang"), col("n_chars"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
            md5(TextOps.normalize(col("text"))).as("__fp"))
        val perSrc = docs.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("__fp")).as("n_unique"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        // scalar total as a rollup of the per-source aggregate — the
        // whole card really is one scan of documents
        val total = perSrc.agg(sum(col("n_docs")).as("__total_docs"))
        perSrc.crossJoin(broadcast(total))
          .select(col("source"), col("n_docs"), col("total_tokens"),
            expr("total_tokens div n_docs").as("avg_tokens"),
            col("n_langs"), col("min_chars"), col("max_chars"),
            expr("((n_docs - n_unique) * 1000) div n_docs").as("dup_permille"),
            expr("(n_docs * 1000) div __total_docs").as("share_permille"))
          .orderBy("source")
      },
      Some("""
        WITH docs AS (
          SELECT source, lang, n_chars,
                 len(string_split_regex(trim(text), '\s+')) AS n_tokens,
                 md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
          FROM documents),
        tot AS (SELECT count(*) AS total_docs FROM docs)
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(sum(n_tokens) // count(*) AS BIGINT) AS avg_tokens,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               min(n_chars) AS min_chars, max(n_chars) AS max_chars,
               CAST((count(*) - count(DISTINCT fp)) * 1000 // count(*) AS BIGINT)
                 AS dup_permille,
               CAST(count(*) * 1000 // (SELECT total_docs FROM tot) AS BIGINT)
                 AS share_permille
        FROM docs GROUP BY source ORDER BY source""")),

    // ---- p25: cross-source quantile normalization (score calibration) -----
    // heterogeneous sources score on different scales; calibration maps
    // each doc's within-source CDF permille onto the GLOBAL score
    // distribution (the quantile-normalization move). Every window below
    // reads a HISTOGRAM aggregate, never the data: per-source CDFs ride
    // the (source, value) histogram (p19's argument), the global
    // quantile read-off rides the value histogram, and the 1001-row
    // permille spine joins back as a broadcast. Integral permilles end
    // to end — bit-stable at any parallelism.
    QueryDef(
      "p25_quantile_normalize",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.corpus(s, d)
          .select(col("doc_id"), col("source"),
            size(TextOps.tokens(col("text"))).cast("long").as("v"))
        // ONE tokenization pass builds the (source, value) histogram;
        // every other relation below — per-source totals, the global
        // value histogram, the grand total — is a rollup of it
        // (checkpointed: four readers, distinct-value-sized)
        val hist = docs.groupBy(col("source"), col("v"))
          .agg(count(lit(1)).as("c")).localCheckpoint()
        val wSrc = Window.partitionBy(col("source")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val srcTot = hist.groupBy("source").agg(sum(col("c")).as("n"))
        val srcCdf = hist.withColumn("cum", sum(col("c")).over(wSrc))
          .join(broadcast(srcTot), "source")
          .select(col("source"), col("v"), expr("(cum * 1000) div n").as("pm"))
        val ghist = hist.groupBy(col("v")).agg(sum(col("c")).as("gc"))
        val wG = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val gtot = hist.agg(sum(col("c")).as("gn")) // scalar broadcast
        val gcdf = ghist.withColumn("gcum", sum(col("gc")).over(wG))
          .crossJoin(broadcast(gtot))
          .select(col("v").as("gv"), expr("(gcum * 1000) div gn").as("gpm"))
        val spine = s.range(0, 1001).select(col("id").cast("long").as("pm"))
        val valueAt = spine
          .join(broadcast(gcdf), col("gpm") >= col("pm"), "left")
          .groupBy("pm").agg(min(col("gv")).as("calib"))
        docs.join(srcCdf, Seq("source", "v"))
          .join(broadcast(valueAt), "pm")
          .select(col("doc_id"), col("source"), col("v"), col("pm"),
            col("calib"))
          .orderBy("doc_id")
      },
      Some("""
        WITH docs AS (
          SELECT doc_id, source,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS v
          FROM documents),
        hist AS (SELECT source, v, COUNT(*) AS c FROM docs GROUP BY source, v),
        stot AS (SELECT source, COUNT(*) AS n FROM docs GROUP BY source),
        scdf AS (
          SELECT h.source, h.v,
                 CAST((SUM(h.c) OVER (PARTITION BY h.source ORDER BY h.v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000)
                   // t.n AS BIGINT) AS pm
          FROM hist h JOIN stot t USING (source)),
        ghist AS (SELECT v, COUNT(*) AS gc FROM docs GROUP BY v),
        g AS (
          SELECT v AS gv,
                 (SUM(gc) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000)
                   // (SELECT COUNT(*) FROM docs) AS gpm
          FROM ghist),
        spine AS (SELECT unnest(generate_series(0, 1000)) AS pm),
        va AS (
          SELECT s.pm, MIN(g.gv) AS calib
          FROM spine s LEFT JOIN g ON g.gpm >= s.pm
          GROUP BY s.pm)
        SELECT d.doc_id, d.source, d.v, sc.pm, va.calib
        FROM docs d
        JOIN scdf sc ON sc.source = d.source AND sc.v = d.v
        JOIN va ON va.pm = sc.pm
        ORDER BY d.doc_id"""))
,

    // ---- p26: quality-threshold tradeoff curve ----------------------------
    // "where do we set the filter?" — for every candidate token-count
    // floor (steps of 10 up to 200), the docs and token mass that would
    // survive, as counts and permille of the corpus. One scan builds a
    // CAPPED-score histogram; the curve is a suffix-sum window over that
    // bounded (<= 21-row) aggregate; totals are scalar rollups of it.
    QueryDef(
      "p26_threshold_curve",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.corpus(s, d)
          .select(size(TextOps.tokens(col("text"))).cast("long").as("v"))
        // bucket = the highest threshold the doc survives (capped at 200)
        val hist = docs
          .select(least(expr("(v div 10) * 10"), lit(200L)).as("bucket"),
            col("v"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), sum(col("v")).as("toks"))
        val w = Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        val tot = hist.agg(sum(col("n")).as("tn"), sum(col("toks")).as("tt"))
        hist
          .withColumn("kept_docs", sum(col("n")).over(w))
          .withColumn("kept_tokens", sum(col("toks")).over(w))
          .crossJoin(broadcast(tot))
          .select(col("bucket").as("threshold"),
            col("kept_docs"), col("kept_tokens"),
            expr("(kept_docs * 1000) div tn").as("docs_permille"),
            expr("(kept_tokens * 1000) div tt").as("tokens_permille"))
          .orderBy("threshold")
      },
      Some("""
        WITH docs AS (
          SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS v
          FROM documents),
        hist AS (
          SELECT least((v // 10) * 10, 200) AS bucket,
                 count(*) AS n, CAST(sum(v) AS BIGINT) AS toks
          FROM docs GROUP BY 1),
        tot AS (SELECT sum(n) AS tn, sum(toks) AS tt FROM hist),
        curve AS (
          SELECT bucket,
                 CAST(SUM(n) OVER (ORDER BY bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS kept_docs,
                 CAST(SUM(toks) OVER (ORDER BY bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS kept_tokens
          FROM hist)
        SELECT bucket AS threshold, kept_docs, kept_tokens,
               CAST((kept_docs * 1000) // (SELECT tn FROM tot) AS BIGINT)
                 AS docs_permille,
               CAST((kept_tokens * 1000) // (SELECT tt FROM tot) AS BIGINT)
                 AS tokens_permille
        FROM curve
        ORDER BY threshold""")),

    // ---- p27: shard planner (cumulative-token bin assignment) -------------
    // export planning: docs pack into ~fixed-token shards in doc_id
    // order — shard = EXCLUSIVE cumulative tokens div target, so a doc
    // starts a new shard exactly when the running mass crosses the
    // boundary. The global ordered prefix sum rides
    // ScaleOps.runningTotal's two-pass distributed formulation (range
    // partition + per-partition offsets — no single-partition window),
    // replayed by DuckDB's ordered window.
    QueryDef(
      "p27_shard_plan",
      (s, d) => {
        val docs = Tables.corpus(s, d)
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("v"))
        val target = 2000L
        ScaleOps.runningTotal(docs, "v", Seq(col("doc_id")), "cum")
          .select(col("doc_id"), col("v"),
            expr(s"((cum - v) div $target)").as("shard_id"))
          .orderBy("doc_id")
      },
      Some("""
        WITH docs AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS v
          FROM documents),
        c AS (
          SELECT doc_id, v,
                 CAST(SUM(v) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
          FROM docs)
        SELECT doc_id, v, CAST((cum - v) // 2000 AS BIGINT) AS shard_id
        FROM c
        ORDER BY doc_id""")),

    // ---- p30: shard export MANIFEST (the publish artifact) ----------------
    // what a consumer verifies a delivered dataset against: per p27
    // shard, the doc count, token mass, id range, and an md5 over the
    // ordered id list — enough to detect a dropped/duplicated/reordered
    // document without rereading text. The per-shard collect is bounded
    // by construction (shards are token-capped), so the holistic id-list
    // digest is safe without salting.
    QueryDef(
      "p30_shard_manifest",
      (s, d) => {
        val docs = Tables.corpus(s, d)
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("v"))
        val target = 2000L
        ScaleOps.runningTotal(docs, "v", Seq(col("doc_id")), "cum")
          .select(col("doc_id"), col("v"),
            expr(s"((cum - v) div $target)").as("shard_id"))
          .groupBy("shard_id")
          .agg(count(lit(1)).as("n_docs"), sum(col("v")).as("n_tokens"),
            min(col("doc_id")).as("first_id"), max(col("doc_id")).as("last_id"),
            md5(concat_ws(",", array_sort(collect_list(col("doc_id")))))
              .as("ids_md5"))
          .orderBy("shard_id")
      },
      Some("""
        WITH docs AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS v
          FROM documents),
        c AS (
          SELECT doc_id, v,
                 CAST(SUM(v) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
          FROM docs),
        sh AS (
          SELECT doc_id, v, CAST((cum - v) // 2000 AS BIGINT) AS shard_id
          FROM c)
        SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(v) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS first_id, MAX(doc_id) AS last_id,
               md5(string_agg(CAST(doc_id AS VARCHAR), ','
                 ORDER BY doc_id)) AS ids_md5
        FROM sh
        GROUP BY shard_id
        ORDER BY shard_id""")),

    // ---- p28: overlapping document chunking (context-window prep) ---------
    // the RAG/pretraining splitter: every document becomes fixed-size
    // 64-token chunks striding by 48 (16-token overlap so no boundary
    // context is lost), each chunk carrying a content digest for
    // downstream chunk-level dedup/indexing. Pure per-row explode —
    // linear output, shuffle-free, chunk count 1 + ceil((n-64)/48) in
    // exact integer arithmetic; the md5 digest replays in DuckDB
    // byte-for-byte (the p03/p07 determinism convention).
    QueryDef(
      "p28_chunk_overlap",
      (s, d) =>
        TextOps.chunkOverlap(Tables(s, d, "documents"), "doc_id", "text",
            size_ = 64, step = 48)
          .orderBy("doc_id", "chunk_idx"),
      Some(s"""
        $chunkExplodeCtes,
        ch AS (
          SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
                 t[ci*48 + 1 : ci*48 + 64] AS ct
          FROM ex)
        SELECT doc_id, chunk_idx, CAST(len(ct) AS INT) AS n_tokens,
               md5(array_to_string(ct, ' ')) AS chunk_md5
        FROM ch ORDER BY doc_id, chunk_idx""")),

    // ---- p29: deterministic epoch interleave (training data ORDER) --------
    // the step after mixing decides WHAT to train on (p09/p18): this
    // decides in WHICH ORDER — every language's documents spread evenly
    // through one epoch pass instead of arriving in corpus order.
    // Virtual time vt = (r-1)*1e9 div n_lang (r = per-lang rank), so
    // each domain's k-th fraction lands at the k-th fraction of the
    // epoch; the global position is the rank of (vt, lang, doc_id) —
    // a pure function of the corpus, identical on any engine/partition
    // layout. Both ranks ride ScaleOps.runningTotal's two-pass
    // distributed prefix (range partition + broadcast offsets) — no
    // global window, no per-lang data-sized window partitions; the only
    // driver state is the per-lang count map (bounded dimension).
    QueryDef(
      "p29_epoch_order",
      (s, d) => {
        import s.implicits._
        val docs = Tables(s, d, "documents").select(col("doc_id"), col("lang"))
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
        val offs = counts.map(_._2).scanLeft(0L)(_ + _).dropRight(1)
        val meta = counts.zip(offs)
          .map { case ((l, n), off) => (l, n, off) }.toSeq
          .toDF("lang", "__n", "__off")
        val ranked = ScaleOps
          .runningTotal(docs.withColumn("__one", lit(1)), "__one",
            Seq(col("lang"), col("doc_id")), "__cum")
          .join(broadcast(meta), "lang")
          .withColumn("vt",
            expr("(__cum - __off - 1) * 1000000000 div __n"))
          .select(col("doc_id"), col("lang"), col("vt"))
        ScaleOps
          .runningTotal(ranked.withColumn("__one", lit(1)), "__one",
            Seq(col("vt"), col("lang"), col("doc_id")), "epoch_pos")
          .select(col("doc_id"), col("lang"), col("vt"), col("epoch_pos"))
          .orderBy("doc_id")
      },
      Some("""
        WITH r AS (
          SELECT doc_id, lang,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS r,
                 COUNT(*) OVER (PARTITION BY lang) AS n
          FROM documents),
        v AS (
          SELECT doc_id, lang,
                 CAST((r - 1) * 1000000000 // n AS BIGINT) AS vt
          FROM r)
        SELECT doc_id, lang, vt,
               CAST(ROW_NUMBER() OVER (ORDER BY vt, lang, doc_id) AS BIGINT)
                 AS epoch_pos
        FROM v ORDER BY doc_id""")),

    // ---- p31: cluster-balanced corpus selection (DataComp/DCLM shape) ----
    // the diversity-balancing step that follows semantic dedup: every
    // embedding assigns to its nearest pinned centroid (d15's
    // quantizer — integer-dot argmax, ties → lowest centroid id), and
    // each cluster keeps a deterministic ceil(size/4) quota in md5(id)
    // order. Per-cluster quotas — not a global sample — so dense modes
    // (boilerplate, templates) cannot crowd rare clusters out of the
    // selected corpus. The flag output hashes EVERY decision; the
    // oracle replays the quantizer, the quotas, and the md5 permutation
    // bit-for-bit.
    QueryDef(
      "p31_cluster_balanced_select",
      (s, d) =>
        graft.functions.VectorOps.clusterBalancedSelect(
            Tables(s, d, "embeddings"), "vec_id", "embedding",
            nlist = 16, denom = 4)
          .orderBy("vec_id"),
      Some("""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), m AS (
          SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS mx
          FROM v
        ), coded AS (
          SELECT vec_id,
                 list_transform(v, x -> floor(x /
                   (CASE WHEN mx = 0.0 THEN 1.0 ELSE mx END) * 127 + 0.5)) AS c
          FROM m
        ),
        cent AS (SELECT vec_id AS cid, c AS cc FROM coded WHERE vec_id < 16),
        assign AS (
          SELECT vec_id, cid FROM (
            SELECT d.vec_id, ct.cid,
                   ROW_NUMBER() OVER (PARTITION BY d.vec_id
                     ORDER BY list_dot_product(d.c, ct.cc) DESC, ct.cid) AS rn
            FROM coded d CROSS JOIN cent ct) t WHERE rn = 1),
        cnt AS (SELECT cid, COUNT(*) AS n FROM assign GROUP BY 1),
        ranked AS (
          SELECT a.vec_id, a.cid, c.n,
                 ROW_NUMBER() OVER (PARTITION BY a.cid
                   ORDER BY md5(CAST(a.vec_id AS VARCHAR)), a.vec_id) AS rn
          FROM assign a JOIN cnt c USING (cid))
        SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id,
               CAST(CASE WHEN rn <= (n + 3) // 4 THEN 1 ELSE 0 END
                 AS BIGINT) AS picked
        FROM ranked ORDER BY vec_id""")),

    // ---- p32: cluster-balanced selection at the SCALE operating point ----
    // p31 with d27's lesson applied (r18 verdict item 2): nlist grows
    // as 2*ceil(sqrt(n)) clamped [16,4096] and the centroid assignment
    // is a broadcast join + max_by argmax (no nlist-literal codegen
    // arrays; top-1 needs no window — map-side combine collapses the
    // n*nlist scored rows). The oracle replays the ENTIRE pipeline
    // including the dynamic nlist (scalar subquery over the corpus
    // count), so the scale knob itself is under the hash gate at every
    // sf — exactly d27's discipline.
    QueryDef(
      "p32_cluster_select_scaled",
      (s, d) =>
        graft.functions.VectorOps.clusterBalancedSelectScaled(
            Tables(s, d, "embeddings"), "vec_id", "embedding", denom = 4)
          .orderBy("vec_id"),
      Some("""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), nl AS (
          SELECT GREATEST(16, LEAST(4096,
            2 * CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))) AS nlist
          FROM v
        ), m AS (
          SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS mx
          FROM v
        ), coded AS (
          SELECT vec_id,
                 list_transform(v, x -> floor(x /
                   (CASE WHEN mx = 0.0 THEN 1.0 ELSE mx END) * 127 + 0.5)) AS c
          FROM m
        ),
        cent AS (
          SELECT vec_id AS cid, c AS cc FROM coded
          WHERE vec_id < (SELECT nlist FROM nl)),
        assign AS (
          SELECT vec_id, cid FROM (
            SELECT d.vec_id, ct.cid,
                   ROW_NUMBER() OVER (PARTITION BY d.vec_id
                     ORDER BY list_dot_product(d.c, ct.cc) DESC, ct.cid) AS rn
            FROM coded d CROSS JOIN cent ct) t WHERE rn = 1),
        cnt AS (SELECT cid, COUNT(*) AS n FROM assign GROUP BY 1),
        ranked AS (
          SELECT a.vec_id, a.cid, c.n,
                 ROW_NUMBER() OVER (PARTITION BY a.cid
                   ORDER BY md5(CAST(a.vec_id AS VARCHAR)), a.vec_id) AS rn
          FROM assign a JOIN cnt c USING (cid))
        SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id,
               CAST(CASE WHEN rn <= (n + 3) // 4 THEN 1 ELSE 0 END
                 AS BIGINT) AS picked
        FROM ranked ORDER BY vec_id"""),
      // floor-tracked: the scale operating point a 100 TB corpus runs
      // carries its own regression floor (the d26/d27/mm18 discipline)
      bench = true),

    // ---- p33: lexical importance resampling (the DSIR shape) -------------
    // hashed-unigram importance weights of the target distribution
    // (lang='en') over the raw corpus, rational micro-ratio instead of
    // log-ratio so both engines replay the score exactly, per-shard
    // top-quota selection (the global top-n/denom's scale form). Flag
    // output — the oracle hashes every decision; see
    // TextOps.importanceResample for the full scale/portability notes.
    QueryDef(
      "p33_importance_resample",
      (s, d) =>
        graft.functions.TextOps.importanceResample(
            Tables.corpus(s, d), "doc_id", "text",
            targetPred = col("lang") === "en", denom = 4)
          .orderBy("doc_id"),
      Some("""
        WITH docs AS (
          SELECT doc_id, text, lang FROM documents WHERE text IS NOT NULL
        ),
        toks AS (
          SELECT doc_id, (lang = 'en') AS tgt,
                 unnest(string_split_regex(trim(text), '\s+')) AS t
          FROM docs
        ),
        tb AS (
          SELECT doc_id, tgt,
                 CAST(('0x' || substr(md5(t), 1, 16))::UBIGINT % 4096
                   AS BIGINT) AS b
          FROM toks
        ),
        tot AS (
          SELECT (1000000 * (SUM(CASE WHEN tgt THEN 1 ELSE 0 END) + 1))
                   // (COUNT(*) + 1) AS neutral
          FROM tb
        ),
        ratio AS (
          SELECT b,
                 (1000000 * (SUM(CASE WHEN tgt THEN 1 ELSE 0 END) + 1))
                   // (COUNT(*) + 1) - (SELECT neutral FROM tot) AS r
          FROM tb GROUP BY 1
        ),
        scores AS (
          SELECT tb.doc_id, CAST(SUM(ratio.r) AS BIGINT) AS score
          FROM tb JOIN ratio USING (b) GROUP BY 1
        ),
        sh AS (
          SELECT doc_id, score,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))
                   ::UBIGINT % 32 AS BIGINT) AS shard
          FROM scores
        ),
        cnt AS (SELECT shard, COUNT(*) AS n FROM sh GROUP BY 1),
        rk AS (
          SELECT s.doc_id, s.score, s.shard, c.n,
                 ROW_NUMBER() OVER (PARTITION BY s.shard
                   ORDER BY s.score DESC, s.doc_id) AS rn
          FROM sh s JOIN cnt c USING (shard))
        SELECT doc_id, score, shard,
               CAST(CASE WHEN rn <= (n + 3) // 4 THEN 1 ELSE 0 END
                 AS BIGINT) AS picked
        FROM rk ORDER BY doc_id"""),
      // floor-tracked: a headline curation operator carries its own
      // regression floor (the d26/d27/mm18/p32 discipline)
      bench = true),

    // ---- p34: domain reweighting — the DoReMi shape ----------------------
    // One multiplicative-weights update of the domain mixture driven by
    // the corpus-unigram-LM excess loss (t12's proxy signal), then a
    // hash-threshold resample to the new mixture. Complements the static
    // mixes (p09 fixed shares, p18 size-temperature) and the per-DOC
    // importance path (p33): here the SIGNAL decides the mixture. The
    // pick stage is windowless map-side thresholding against a broadcast
    // domain-weight table — the only shuffles at any scale are the
    // vocab-bounded unigram groupBy and the per-doc mean.
    QueryDef(
      "p34_domain_reweight",
      (s, d) =>
        graft.functions.TextOps.domainReweight(
            Tables.corpus(s, d), "doc_id", "text", "source")
          .orderBy("doc_id"),
      Some("""
        WITH docs AS (
          SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL),
        toks AS (
          SELECT doc_id, source,
                 unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM docs),
        uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        total AS (SELECT SUM(c) AS n FROM uni),
        scored AS (
          SELECT doc_id, source,
                 CAST(floor(-ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                   * 10000.0 + 0.5) AS BIGINT) AS nats4
          FROM toks JOIN uni USING (tok), total),
        perdoc AS (
          SELECT doc_id, source,
                 CAST(floor(CAST(SUM(nats4) AS DOUBLE) / COUNT(*) + 0.5)
                   AS BIGINT) AS mean_nats4
          FROM scored GROUP BY 1, 2),
        dom AS (
          SELECT source, COUNT(*) AS nd, SUM(mean_nats4) AS s,
                 CAST(floor(CAST(SUM(mean_nats4) AS DOUBLE) / COUNT(*) + 0.5)
                   AS BIGINT) AS dnats4
          FROM perdoc GROUP BY 1),
        ref AS (
          SELECT CAST(floor(CAST(SUM(s) AS DOUBLE) / SUM(nd) + 0.5)
                   AS BIGINT) AS rnats4,
                 CAST(SUM(nd) AS BIGINT) AS ntot
          FROM dom),
        w AS (
          SELECT source, nd, ntot,
                 CAST(floor(exp(CAST(dnats4 - rnats4 AS DOUBLE) / 100.0)
                   * 1000000.0 + 0.5) AS BIGINT) AS w6
          FROM dom, ref),
        wsum AS (SELECT SUM(w6) AS denom FROM w),
        wt AS (
          SELECT source,
                 CAST((w6 * 1000000) // denom AS BIGINT) AS weight_micro,
                 CAST(LEAST(1000000,
                   ((ntot // 2) * ((w6 * 1000000) // denom)) // nd)
                   AS BIGINT) AS frac6
          FROM w, wsum)
        SELECT p.doc_id, p.source, p.mean_nats4, wt.weight_micro,
               CAST(CASE WHEN ((('0x' || substr(
                   md5('p34|' || CAST(p.doc_id AS VARCHAR)), 1, 16))::UBIGINT
                   >> 8) & 2147483647) % 1000000 < wt.frac6
                 THEN 1 ELSE 0 END AS BIGINT) AS picked
        FROM perdoc p JOIN wt USING (source)
        ORDER BY p.doc_id"""),
      bench = true)
  )
}
