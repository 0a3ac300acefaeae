package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.{ScaleOps, TextOps, VectorOps}

/** Deduplication operators over the `documents` / `embeddings` corpus:
  * exact (hash group), exact n-gram Jaccard (inverted-index join),
  * MinHash+LSH (candidates + exact verify), SimHash (bit banding +
  * Hamming verify), and embedding-cosine near-dup (exact baseline; LSH
  * variant in Similarity).
  *
  * Oracle notes: the xxhash64-based MinHash sketch is not reproducible
  * in DuckDB; its gate entry is the *verified* output (exact Jaccard
  * over candidates), which at the planted similarity levels (>= 0.9)
  * equals the exhaustive result with probability ~1 - 1e-15 per pair, so
  * the exact-pairs oracle applies. SimHash (d04) derives its bits from
  * md5 ([[TextOps.tokenHash64]]), which DuckDB reproduces exactly — its
  * oracle recomputes the 64 bit-sums and checks Hamming pairs
  * exhaustively (banding + verify == exact Hamming filter by the
  * pigeonhole guarantee). Cosine values are never emitted — only
  * threshold decisions, with data-checked margin (min |cos - t| ~ 5e-4)
  * — so float accumulation-order noise cannot flip the compare.
  */
object Dedup {

  /** DuckDB replay of [[TextOps.simHash]] + exact Hamming-<=7 pairs: the
    * 64 per-bit sums as columns (no 64-bit packing — DuckDB's UBIGINT
    * shift overloads overflow at bit 63), hamming as a 64-term bit
    * comparison on the all-pairs join (oracle-side O(n²) is fine at
    * verification scale). */
  private def oracleSimhashAt(maxHamming: Int): String = {
    val bitSums = (0 until 64).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(", ")
    val ham = (0 until 64).map(b =>
      s"(CASE WHEN (a.b$b > 0) != (b.b$b > 0) THEN 1 ELSE 0 END)").mkString(" + ")
    "WITH toks AS (\n" +
      "  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t\n" +
      "  FROM documents\n" +
      "), th AS (\n" +
      "  SELECT doc_id, ('0x' || substr(md5(t),1,16))::UBIGINT AS h FROM toks\n" +
      s"), bits AS (\n  SELECT doc_id, $bitSums FROM th GROUP BY doc_id\n" +
      s"), scored AS (\n  SELECT a.doc_id AS id_a, b.doc_id AS id_b, $ham AS hamming\n" +
      "  FROM bits a JOIN bits b ON a.doc_id < b.doc_id\n)\n" +
      "SELECT id_a, id_b, CAST(hamming AS INT) AS hamming\n" +
      s"FROM scored WHERE hamming <= $maxHamming ORDER BY id_a, id_b"
  }

  private val oracleSimhash: String = oracleSimhashAt(11)

  private[queries] val oracleShingles = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM toks
    )"""

  private val oracleJaccardPairs = s"""
    $oracleShingles, ex AS (
      SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
             any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(shared AS DOUBLE)/(na+nb-shared) AS jac
    FROM pairs WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5
    ORDER BY id_a, id_b"""

  /** Transitive closure of the near-dup pair graph in DuckDB: the
    * recursive member walks edges from every document; min reachable id
    * per node == the min-label fixpoint the Spark operator
    * computes. */
  private val oracleClustersCte = """
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM toks
    ), ex AS (
      SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
             any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), p AS (
      SELECT id_a, id_b FROM cand
      WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION ALL
      SELECT id_b, id_a FROM p
    ), reach AS (
      SELECT doc_id AS v, doc_id AS r FROM documents
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.v
    )"""

  private val oracleClusters = s"""
    $oracleClustersCte
    SELECT v AS doc_id, min(r) AS cluster_id
    FROM reach GROUP BY v ORDER BY doc_id"""

  /** Window width for exact-substring dedup (d20/d21): spans shorter
    * than this many tokens are never flagged. Lee et al. use 50 BPE
    * tokens; 16 whitespace tokens is the same order of character
    * length on this corpus and keeps the synthetic data's planted
    * duplication visible at every SF. */
  private val SpanK = 16

  /** DuckDB twin of [[shingleSites]]: every K-token window as
    * (doc_id, start, content). The oracle groups on the window CONTENT
    * where Spark groups on a polynomial rolling hash — identical
    * semantics, no cross-engine hash to replay. */
  private val spanSitesCtes: String = s"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    pos AS (
      SELECT doc_id, t, unnest(generate_series(0, len(t) - $SpanK)) AS i
      FROM toks WHERE len(t) >= $SpanK),
    sh AS (
      SELECT doc_id, i, array_to_string(t[i + 1 : i + $SpanK], ' ') AS g
      FROM pos)"""

  /** d22's full bitmap replay in SQL — also w24's oracle verbatim (the
    * streaming run is stateless, so the scorecard set is
    * batching-invariant and identical to the batch operator's). */
  private[queries] val bloomDecontaminateOracle: String = """
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
          FROM documents
        ), sh AS (
          SELECT doc_id, list_distinct(list_transform(
                   generate_series(1, len(w)-3),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))
                   AS g
          FROM toks
        ), ev AS (
          SELECT DISTINCT unnest(g) AS s FROM sh WHERE doc_id % 50 = 0
        ), eh AS (
          SELECT CAST(('0x' || substr(md5(s),1,16))::UBIGINT
                      & 9223372036854775807 AS BIGINT) % 1048576 AS h1m,
                 CAST(('0x' || substr(md5(s),17,16))::UBIGINT
                      & 9223372036854775807 AS BIGINT) % 1048576 AS h2m
          FROM ev
        ), epos AS (
          SELECT DISTINCT (h1m + j * h2m) % 1048576 AS p
          FROM eh, generate_series(0, 4) t(j)
        ), tsh AS (
          SELECT doc_id, unnest(g) AS s FROM sh WHERE doc_id % 50 <> 0
        ), th AS (
          SELECT doc_id, s,
                 CAST(('0x' || substr(md5(s),1,16))::UBIGINT
                      & 9223372036854775807 AS BIGINT) % 1048576 AS h1m,
                 CAST(('0x' || substr(md5(s),17,16))::UBIGINT
                      & 9223372036854775807 AS BIGINT) % 1048576 AS h2m
          FROM tsh
        ), tp AS (
          SELECT doc_id, s, (h1m + j * h2m) % 1048576 AS p
          FROM th, generate_series(0, 4) t(j)
        ), hits AS (
          SELECT doc_id, s, bool_and(e.p IS NOT NULL) AS hit
          FROM tp LEFT JOIN epos e USING (p) GROUP BY doc_id, s
        ), agg AS (
          SELECT doc_id, SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS nh
          FROM hits GROUP BY doc_id
        )
        SELECT sh.doc_id, CAST(len(g) AS BIGINT) AS n_shingles,
               CAST(COALESCE(agg.nh, 0) AS BIGINT) AS n_hit
        FROM sh LEFT JOIN agg USING (doc_id)
        WHERE sh.doc_id % 50 <> 0 ORDER BY doc_id"""

  /** The exact delta-x-corpus shingle-overlap replay — the shared
    * oracle of d11 (compute-in-place), d23 (store-served), and w25
    * (streamed per micro-batch): all three declare the same pair set,
    * and the LSH family (128 hashes / 32 bands) has ~total recall at
    * the planted >=0.5 similarities, same as d03. */
  private[queries] def incrementalDedupOracleWhere(
      extraCorpusPred: String): String = s"""
        $oracleShingles, ex AS (
          SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh
        ), pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
                 any_value(a.n) AS na, any_value(b.n) AS nb
          FROM ex a JOIN ex b
            ON a.s = b.s AND a.doc_id % 20 = 0 AND b.doc_id % 20 != 0
               $extraCorpusPred
          GROUP BY 1, 2
        )
        SELECT id_a, id_b, CAST(shared AS DOUBLE)/(na+nb-shared) AS jac
        FROM pairs WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5
        ORDER BY id_a, id_b"""

  private[queries] lazy val incrementalDedupOracle: String =
    incrementalDedupOracleWhere("")

  val defs: Seq[QueryDef] = Seq(

    // ---- d01: exact dedup via content-hash groupBy ------------------------
    QueryDef(
      "d01_exact_dedup",
      (s, d) =>
        Tables(s, d, "documents")
          .groupBy(md5(TextOps.normalize(col("text"))).as("content_hash"))
          .agg(min(col("doc_id")).as("canonical_id"),
            count(lit(1)).as("n_copies"))
          .select(col("canonical_id"), col("n_copies"))
          .orderBy("canonical_id"),
      Some("""
        SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
        FROM documents
        GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        ORDER BY canonical_id"""),
      bench = true),

    // ---- d02: exact n-gram Jaccard near-dup (inverted-index join) ---------
    QueryDef(
      "d02_ngram_jaccard",
      (s, d) =>
        TextOps.ngramJaccardPairs(
            Tables.corpus(s, d),
            "doc_id", "text", n = 3, threshold = 0.5)
          .orderBy("id_a", "id_b"),
      Some(oracleJaccardPairs),
      bench = true),

    // ---- d03: MinHash + LSH candidates, exact-Jaccard verified ------------
    QueryDef(
      "d03_minhash_lsh",
      (s, d) => {
        // single-file parquet scans arrive as ONE partition — spread the
        // CPU-heavy sketching across the cluster before computing
        val docs = Tables.corpus(s, d)
        // ONE hashed-shingle materialization feeds both the MinHash
        // sketch and the exact verify (sketch reads it once, verify
        // twice) — no shingle string exists anywhere in the pipeline
        val sh = TextOps.hashedShingleSets(docs, "doc_id", "text", 3)
          .localCheckpoint()
        val cands = TextOps.minHashCandidatesFromHashed(
          sh, numHashes = 128, bands = 32)
        TextOps.verifyJaccard(sh, cands, 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(oracleJaccardPairs),
      bench = true),

    // ---- d04: SimHash near-dup (bit banding + Hamming verify; md5-bit
    // source makes the whole pipeline DuckDB-expressible) ------------------
    QueryDef(
      "d04_simhash",
      (s, d) => {
        val sims = TextOps.simHash(
          Tables.corpus(s, d),
          "doc_id", "text")
        // word-level edits move several simhash bits: the planted
        // near-dup pairs span hamming 0..11 under the md5-derived bit
        // family (measured at sf0.001/sf0.01), so band for <=11
        // (12 blocks of 5 bits; pigeonhole still guarantees candidate
        // totality, exact bit_count verifies)
        TextOps.simHashPairs(sims, "doc_id", maxHamming = 11)
          .orderBy("id_a", "id_b")
      },
      Some(oracleSimhash),
      bench = true),

    // ---- d26: SimHash at the SCALABLE operating point --------------------
    // d04's radius (11 of 64 bits) forces 12 blocks of ~5 bits, and the
    // pigeonhole join's candidate mass is n²·blocks/2^width — measured
    // at sf5.0 (250k docs): ~190 s, fully quadratic, the banding's
    // density wall. radius 3 is the Manku et al operating point: 4
    // blocks of 16 bits, candidate mass n²·4/2^16 — 6000x sparser per
    // pair, seconds at the same corpus. Same operator, same oracle
    // machinery; the radius is the scale knob, and aggressive-radius
    // near-dup belongs to MinHash LSH (d03), whose candidate mass
    // tracks true near-dup density instead of bucket collisions.
    QueryDef(
      "d26_simhash_tight",
      (s, d) => {
        val sims = TextOps.simHash(Tables.corpus(s, d), "doc_id", "text")
        TextOps.simHashPairs(sims, "doc_id", maxHamming = 3)
          .orderBy("id_a", "id_b")
      },
      Some(oracleSimhashAt(3)),
      // floor-tracked (r17 verdict item 3): the scale operating point a
      // 100 TB corpus actually runs must carry its own regression floor
      bench = true),

    // ---- d06: duplicate clustering (connected components over the
    // near-dup pair graph; canonical id = min reachable doc id) ------------
    QueryDef(
      "d06_dup_clusters",
      (s, d) => {
        val docs = Tables.corpus(s, d)
        val pairs = TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
        ScaleOps.connectedComponents(docs, "doc_id", pairs)
          .orderBy("doc_id")
      },
      Some(oracleClusters),
      bench = true),

    // ---- q51: recursive CTE (Spark 4's WITH RECURSIVE / UnionLoop) --------
    // the SQL-surface capability gate: a recursively generated day spine
    // (the canonical UNION ALL recursion — Spark 4.1 does not yet accept
    // UNION-distinct steps, so cyclic-graph closures stay with d06's
    // connected components) driving a gap-filled daily series, replayed by
    // DuckDB's recursive CTE. Recursion depth = the DATE RANGE (30
    // levels here), independent of the event count; the per-day
    // aggregate underneath partially aggregates as usual.
    QueryDef(
      "q51_recursive_cte",
      (s, d) => {
        Tables(s, d, "events").createOrReplaceTempView("events_rc")
        s.sql("""
          WITH RECURSIVE bounds AS (
            SELECT to_date(min(ts)) AS d0, to_date(max(ts)) AS d1
            FROM events_rc
          ),
          spine(day) AS (
            SELECT d0 FROM bounds
            UNION ALL
            SELECT date_add(day, 1) FROM spine
            WHERE day < (SELECT d1 FROM bounds)
          ),
          daily AS (
            SELECT to_date(ts) AS day, count(*) AS n,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS BIGINT) AS purchases
            FROM events_rc GROUP BY 1
          )
          SELECT date_format(s.day, 'yyyy-MM-dd') AS day,
                 coalesce(d.n, 0L) AS n, coalesce(d.purchases, 0L) AS purchases
          FROM spine s LEFT JOIN daily d ON d.day = s.day
          ORDER BY day""")
      },
      Some("""
        WITH RECURSIVE bounds AS (
          SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
          FROM events
        ),
        spine(day) AS (
          SELECT d0 FROM bounds
          UNION ALL
          SELECT day + 1 FROM spine
          WHERE day < (SELECT d1 FROM bounds)
        ),
        daily AS (
          SELECT CAST(ts AS DATE) AS day, count(*) AS n,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) AS BIGINT) AS purchases
          FROM events GROUP BY 1
        )
        SELECT strftime(s.day, '%Y-%m-%d') AS day,
               coalesce(d.n, 0) AS n, coalesce(d.purchases, 0) AS purchases
        FROM spine s LEFT JOIN daily d ON d.day = s.day
        ORDER BY day""")),

    // ---- d18: dedup savings report (cluster-size histogram) ---------------
    // the "what does dedup buy us" planning report: per near-dup cluster
    // size, how many clusters/docs exist, their token mass, and the
    // tokens saved by keeping only each cluster's representative (the
    // min-id doc, d12's convention). Rollups of d06's cluster labels
    // joined to per-doc token counts — two bounded aggregations over
    // the label table.
    QueryDef(
      "d18_dedup_savings",
      (s, d) => {
        val docs = Tables.corpus(s, d)
        val pairs = TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
        val clusters = ScaleOps.connectedComponents(docs, "doc_id", pairs)
        val toks = docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("v"))
        val per = clusters.join(toks, "doc_id")
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("sz"), sum(col("v")).as("tok"),
            sum(when(col("doc_id") === col("cluster_id"), col("v"))
              .otherwise(0L)).as("rep_tok"))
        per.groupBy("sz")
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("tok")).as("tokens_total"),
            sum(col("tok") - col("rep_tok")).as("tokens_saved"))
          .select(col("sz").as("cluster_size"), col("n_clusters"),
            (col("sz") * col("n_clusters")).as("n_docs"),
            col("tokens_total"), col("tokens_saved"))
          .orderBy("cluster_size")
      },
      Some(s"""
        $oracleClustersCte,
        cl AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
        tk AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS v
          FROM documents),
        per AS (
          SELECT cl.cluster_id, count(*) AS sz,
                 CAST(sum(tk.v) AS BIGINT) AS tok,
                 CAST(sum(CASE WHEN cl.doc_id = cl.cluster_id
                          THEN tk.v ELSE 0 END) AS BIGINT) AS rep_tok
          FROM cl JOIN tk USING (doc_id)
          GROUP BY cl.cluster_id)
        SELECT sz AS cluster_size, count(*) AS n_clusters,
               CAST(sz * count(*) AS BIGINT) AS n_docs,
               CAST(sum(tok) AS BIGINT) AS tokens_total,
               CAST(sum(tok - rep_tok) AS BIGINT) AS tokens_saved
        FROM per
        GROUP BY sz
        ORDER BY cluster_size""")),

    // ---- d19: chunk-level exact dedup (SlimPajama granularity) ------------
    // dedup below document granularity: p28's overlapping chunks, hashed
    // by content — an occurrence is DROPPED when an identical chunk
    // exists earlier in (doc_id, chunk_idx) order (within-doc repeats
    // count too). Canonical-first resolution is ONE partial-aggregating
    // min per chunk hash (no window — a boilerplate chunk shared by
    // millions of docs collapses map-side, the d12 argument), then a
    // per-doc rollup of kept/dropped token mass.
    QueryDef(
      "d19_chunk_dedup",
      (s, d) => {
        val ch = TextOps.chunkOverlap(Tables(s, d, "documents"),
          "doc_id", "text", size_ = 64, step = 48)
        // lexicographic struct min — no arithmetic key packing, so no
        // collision assumption on chunk counts or id ranges
        val first = ch.groupBy("chunk_md5")
          .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("__f"))
        ch.join(first, "chunk_md5")
          .withColumn("__dropped",
            !(col("doc_id") === col("__f.doc_id") &&
              col("chunk_idx") === col("__f.chunk_idx")))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("__dropped"), 1L).otherwise(0L)).as("n_dropped"),
            sum(when(col("__dropped"), col("n_tokens").cast("long"))
              .otherwise(0L)).as("tokens_dropped"))
          .orderBy("doc_id")
      },
      Some(s"""
        ${Pipeline.chunkExplodeCtes},
        ch AS (
          SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
                 CAST(len(t[ci*48 + 1 : ci*48 + 64]) AS BIGINT) AS n_tokens,
                 md5(array_to_string(t[ci*48 + 1 : ci*48 + 64], ' ')) AS m
          FROM ex),
        f AS (
          SELECT m, MIN(ROW(doc_id, chunk_idx)) AS fk
          FROM ch GROUP BY m)
        SELECT ch.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN ROW(ch.doc_id, ch.chunk_idx) <> f.fk
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(SUM(CASE WHEN ROW(ch.doc_id, ch.chunk_idx) <> f.fk
                        THEN ch.n_tokens ELSE 0 END) AS BIGINT)
                 AS tokens_dropped
        FROM ch JOIN f ON ch.m = f.m
        GROUP BY 1 ORDER BY 1"""),
      bench = true),

    // ---- d17: connected components via large-star/small-star rounds -------
    // d06's answer with the driver union-find disabled (smallEdgeLimit 0),
    // so the gate covers the O(log² n)-round star path (Kiveris et al.
    // 2014) that 100 TB graphs take. Same oracle as d06: the
    // recursive-CTE transitive closure.
    QueryDef(
      "d17_cc_star",
      (s, d) => {
        val docs = Tables.corpus(s, d)
        val pairs = TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
        ScaleOps.connectedComponents(docs, "doc_id", pairs, smallEdgeLimit = 0L)
          .orderBy("doc_id")
      },
      Some(oracleClusters)),

    // ---- d16: directed shingle containment (quote/subset detection) -------
    // the asymmetric measure Jaccard misses: a short doc quoted inside a
    // long one. Prefix filter on the CONTAINED side's rarest shingles,
    // full inverted index + size prune on the container side, exact
    // permille verify (TextOps.containmentPairs).
    QueryDef(
      "d16_containment",
      (s, d) =>
        TextOps.containmentPairs(
            Tables.corpus(s, d), "doc_id", "text", n = 3, threshold = 0.8)
          .orderBy("id_a", "id_b"),
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id, list_distinct(list_transform(
                   generate_series(1, len(w) - 2),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
          FROM toks WHERE len(w) >= 3),
        ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
        cand AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 count(*) AS shared, any_value(a.n) AS na
          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id != b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b, CAST(shared * 1000 // na AS BIGINT) AS cont_pm
        FROM cand WHERE shared * 1000 >= 800 * na
        ORDER BY id_a, id_b"""),
      bench = true),

    // ---- d05: embedding-cosine near-dup, exact baseline -------------------
    QueryDef(
      "d05_embedding_dedup",
      (s, d) =>
        VectorOps.bruteForceCosinePairs(Tables(s, d, "embeddings"),
            "vec_id", "embedding", threshold = 0.4)
          .select(col("id_a"), col("id_b"))
          .orderBy("id_a", "id_b"),
      Some("""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.4
        ORDER BY id_a, id_b"""),
      bench = true,
      baseline = true), // quadratic-by-design exactness baseline; d03/s02 are the scale paths

    // ---- d07: edit-distance-1 fuzzy join (deletion signatures) -----------
    // FastSS: |s|+1 deletion signatures per row, equi-join, levenshtein
    // verify — total recall without the oracle's quadratic cross join.
    QueryDef(
      "d07_fuzzy_join",
      (s, d) =>
        graft.functions.TextOps
          .editDistancePairs(Tables(s, d, "customer"), "c_custkey", "c_name")
          .orderBy("id_a", "id_b"),
      Some("""
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 1
        ORDER BY id_a, id_b"""),
      bench = true),

    // ---- d28: d07's SLICED gate — the sf1.0 oracle-coverage closer --------
    // d07's all-pairs levenshtein oracle is quadratic in the corpus and
    // measured infeasible at sf1.0 (>1200 s DuckDB compute; r17 matrix
    // exclusion 1 of 2). The edit-distance pair predicate is POINTWISE,
    // so restricting both endpoints to a deterministic id slice commutes
    // with the join: the engine's FastSS machinery verifies against an
    // oracle whose quadratic cost shrinks by mod² (100x here) — exact at
    // every sf, sf1.0 included. d07 keeps full-corpus verification at
    // gate scales (sf0.01–sf0.2).
    QueryDef(
      "d28_fuzzy_join_sliced",
      (s, d) =>
        graft.functions.TextOps
          .editDistancePairs(Tables(s, d, "customer"), "c_custkey", "c_name")
          .where(col("id_a") % 10 === 3 && col("id_b") % 10 === 3)
          .orderBy("id_a", "id_b"),
      Some("""
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        WHERE a.c_custkey % 10 = 3 AND b.c_custkey % 10 = 3
          AND levenshtein(a.c_name, b.c_name) <= 1
        ORDER BY id_a, id_b""")),

    // ---- d08: benchmark decontamination (eval-overlap n-gram join) -------
    // the eval slice (doc_id % 50 = 0 stands in for a benchmark suite)
    // broadcasts its exploded 4-grams; the training corpus matches them
    // in place — no corpus-sized shuffle, only matched pairs aggregate.
    QueryDef(
      "d08_decontaminate",
      (s, d) => {
        val docs = Tables.corpus(s, d)
        graft.functions.TextOps.contaminationPairs(
            train = docs.where(col("doc_id") % 50 =!= 0),
            eval_ = docs.where(col("doc_id") % 50 === 0),
            "doc_id", "text", n = 4)
          .orderBy("doc_id", "eval_id")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        ), sh AS (
          SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-3),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS g
          FROM toks
        ), ex AS (
          SELECT doc_id, unnest(g) AS s FROM sh
        )
        SELECT tr.doc_id AS doc_id, ev.doc_id AS eval_id,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM ex tr JOIN ex ev ON tr.s = ev.s
         AND ev.doc_id % 50 = 0 AND tr.doc_id % 50 <> 0
        GROUP BY 1, 2 ORDER BY doc_id, eval_id"""),
      bench = true),

    // ---- d09: semantic dedup, IVF-bucketed (SemDeDup shape) --------------
    // the scale path for d05: kmeans coarse quantizer, multi-assignment
    // for cross-boundary recall, within-list self-join + exact cosine.
    // No oracle (kmeans); subset-of-exact + recall pinned in ScalaTest.
    QueryDef(
      "d09_semantic_dedup",
      (s, d) =>
        VectorOps.ivfCosinePairs(Tables(s, d, "embeddings"),
            "vec_id", "embedding", threshold = 0.4, nlist = 16, nassign = 2)
          .orderBy("id_a", "id_b"),
      None,
      bench = true),

    // ---- d11: incremental dedup — today's delta vs the standing corpus ----
    // the daily-ingest shape: only delta x corpus band pairs are joined
    // (the corpus never self-joins, its sketch is reusable), exact
    // Jaccard verifies. Oracle replays the exact delta x corpus shingle
    // overlap — the LSH family (128 hashes / 32 bands) has ~total recall
    // at the planted >=0.5 similarities, same as d03.
    QueryDef(
      "d11_incremental_dedup",
      (s, d) => {
        val docs = Tables.corpus(s, d)
        val delta = docs.where(col("doc_id") % 20 === 0)
        val standing = docs.where(col("doc_id") % 20 =!= 0)
        TextOps.incrementalJaccardPairs(delta, standing,
            "doc_id", "text", n = 3, numHashes = 128, bands = 32,
            threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(incrementalDedupOracle),
      bench = true),

    // ---- d23: incremental dedup served from the persisted sketch store ----
    // d11's production shape made real: the standing corpus' band keys
    // are built ONCE ([[TextOps.buildSignatureStore]] — atomic staged
    // batch commits) and the daily probe sketches only the delta,
    // streams the stored keys off parquet (no corpus re-sketch, no
    // corpus-sized shuffle — the delta side broadcasts), and re-shingles
    // only candidate corpus docs via a pruning semi-join. Same pair
    // semantics and LSH family as d11, so its oracle applies verbatim;
    // the store lifecycle (append equivalence, torn-append invisibility,
    // parameter fencing) is pinned in DedupOpsSuite.
    QueryDef(
      "d23_dedup_store",
      (s, d) => {
        val docs = Tables.corpus(s, d)
        val delta = docs.where(col("doc_id") % 20 === 0)
        val standing = docs.where(col("doc_id") % 20 =!= 0)
        val path = java.nio.file.Files
          .createTempDirectory("d23_sigstore_").toString
        TextOps.buildSignatureStore(standing, "doc_id", "text", path,
          n = 3, numHashes = 128, bands = 32)
        TextOps.incrementalJaccardPairsFromStore(delta, standing,
            "doc_id", "text", path,
            n = 3, numHashes = 128, bands = 32, threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(incrementalDedupOracle)),

    // ---- d24: store probe after retraction — tombstoned docs never pair ----
    // the store's delete path: docs leaving the corpus are RETRACTED
    // (a tombstone batch, same staged-rename commit as an append), not
    // rebuilt away. The probe masks tombstoned ids before candidate
    // generation, so a retracted doc can neither pair nor trip the
    // desync guard; compaction folds the masked keys for good
    // (retract->compact->probe equivalence is pinned in DedupOpsSuite).
    // Retraction set doc_id % 7 == 3 removes 1 of sf0.01's 2 planted
    // pairs (and 4 of sf0.1's 27) — non-vacuous in both directions.
    QueryDef(
      "d24_dedup_store_retract",
      (s, d) => {
        val docs = Tables.corpus(s, d)
        val delta = docs.where(col("doc_id") % 20 === 0)
        val standing = docs.where(col("doc_id") % 20 =!= 0)
        val path = java.nio.file.Files
          .createTempDirectory("d24_sigstore_").toString
        TextOps.buildSignatureStore(standing, "doc_id", "text", path,
          n = 3, numHashes = 128, bands = 32)
        TextOps.retractFromSignatureStore(
          standing.where(col("doc_id") % 7 === 3).select("doc_id"), path)
        TextOps.incrementalJaccardPairsFromStore(delta, standing,
            "doc_id", "text", path,
            n = 3, numHashes = 128, bands = 32, threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(incrementalDedupOracleWhere("AND b.doc_id % 7 != 3"))),

    // ---- d25: cross-corpus exact-substring decontamination ----------------
    // the GPT-3/Pile practice (scrub n-gram overlaps with the eval
    // suite) as SPANS: for each training doc, the maximal token spans
    // whose every 16-window occurs verbatim in the eval suite — d22
    // says how contaminated a doc is, this says what to cut. Corpus
    // side is scan-resident (one rolling-hash fold), eval hashes
    // broadcast, islands merge per-doc over the contaminated sliver.
    // Split: eval = doc_id % 20 == 0 (the delta docs carry planted
    // near-dups, so cross-boundary 16-token runs exist: 2 spans at
    // sf0.01, 22 at sf0.1).
    QueryDef(
      "d25_cross_substring_spans",
      (s, d) => {
        val docs = Tables.corpus(s, d)
        TextOps.crossSubstringSpans(
            docs.where(col("doc_id") % 20 =!= 0),
            docs.where(col("doc_id") % 20 === 0),
            "doc_id", "text", k = SpanK)
          .orderBy("doc_id", "span_start")
      },
      Some(s"""
        $spanSitesCtes,
        ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 0),
        ds AS (SELECT sh.doc_id, sh.i FROM sh JOIN ev USING (g)
               WHERE sh.doc_id % 20 <> 0),
        isl AS (
          SELECT doc_id, i,
                 CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                           <= $SpanK
                      THEN 0 ELSE 1 END AS brk
          FROM ds),
        g2 AS (
          SELECT doc_id, i,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp
          FROM isl)
        SELECT doc_id, CAST(MIN(i) AS BIGINT) AS span_start,
               CAST(MAX(i) - MIN(i) + $SpanK AS BIGINT) AS span_tokens
        FROM g2 GROUP BY doc_id, grp ORDER BY doc_id, span_start"""),
      bench = true),

    // ---- d12: cluster-representative selection ----------------------------
    // the curation DECISION on top of d06: per near-dup cluster keep the
    // best document (longest by token count, doc_id tiebreak) instead of
    // blindly keeping the min id. ONE partial-aggregating groupBy — the
    // argmax rides a struct max (n_toks desc, then min doc_id via the
    // negated id; ids are non-negative), the member count shares the
    // same aggregation. No window: a boilerplate mega-cluster at corpus
    // scale would put its whole membership on one task under a
    // cluster_id-partitioned frame, while the aggregate collapses it
    // map-side (the t23/p20 de-skew, caught by PlanLint's skew rule).
    QueryDef(
      "d12_cluster_reps",
      (s, d) => {
        val docs = Tables.corpus(s, d)
        val pairs = TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
        val clusters = ScaleOps.connectedComponents(docs, "doc_id", pairs)
        val toks = docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
        clusters.join(toks, Seq("doc_id"))
          .groupBy(col("cluster_id"))
          .agg(
            max(struct(col("n_toks"), (-col("doc_id")).as("neg_id"))).as("__best"),
            count(lit(1)).as("n_members"))
          .select(col("cluster_id"), (-col("__best.neg_id")).as("rep_id"),
            col("__best.n_toks").as("rep_tokens"), col("n_members"))
          .orderBy("cluster_id")
      },
      Some(s"""
        $oracleClustersCte, cl AS (
          SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v
        ), tl AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_toks
          FROM documents
        ), j AS (
          SELECT cl.cluster_id, cl.doc_id, tl.n_toks,
                 ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
                   ORDER BY tl.n_toks DESC, cl.doc_id) AS rk,
                 COUNT(*) OVER (PARTITION BY cl.cluster_id) AS n_members
          FROM cl JOIN tl ON cl.doc_id = tl.doc_id
        )
        SELECT cluster_id, doc_id AS rep_id, n_toks AS rep_tokens, n_members
        FROM j WHERE rk = 1
        ORDER BY cluster_id""")),

    // ---- d13: repeated-passage pruning stats (exact-substring dedup) -----
    // SlimPajama/BigCode-style: every rolling 8-token window, hashed;
    // windows seen in >= 2 distinct docs are "repeated". The oracle
    // joins on the passage STRING — equal to the md5-64 hash join modulo
    // ~1e-19 collisions.
    QueryDef(
      "d13_passage_prune",
      (s, d) =>
        TextOps.repeatedPassageStats(
            Tables.corpus(s, d), "doc_id", "text", n = 8, minDocs = 2)
          .orderBy("doc_id"),
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
          FROM documents
        ), win AS (
          SELECT doc_id,
                 list_transform(generate_series(1, greatest(len(w) - 7, 0)),
                   i -> array_to_string(w[i:i+7], ' ')) AS ps,
                 greatest(len(w) - 7, 0) AS nw
          FROM toks
        ), ex AS (
          SELECT doc_id, unnest(ps) AS p FROM win
        ), per_doc AS (
          SELECT p, doc_id, count(*) AS c FROM ex GROUP BY 1, 2
        ), rep AS (
          SELECT p FROM per_doc GROUP BY p HAVING count(*) >= 2
        ), rep_per_doc AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_repeated
          FROM per_doc JOIN rep USING (p) GROUP BY doc_id
        )
        SELECT w.doc_id, CAST(w.nw AS BIGINT) AS n_windows,
               COALESCE(r.n_repeated, 0) AS n_repeated
        FROM win w LEFT JOIN rep_per_doc r USING (doc_id)
        ORDER BY doc_id"""),
      bench = true),

    // ---- d14: centrality over the near-dup graph (integer PageRank) ------
    // the graph-side quality signal (RefinedWeb/CCNet weight pages by
    // link centrality; here the dup graph stands in): 10 fixed-point
    // PageRank iterations with NO float anywhere, so DuckDB replays the
    // whole trajectory bit-for-bit through 10 chained CTE rounds.
    QueryDef(
      "d14_dup_pagerank",
      (s, d) => {
        val docs = Tables.corpus(s, d)
        // the pair table is the expensive input — checkpoint it so the
        // undirected union (2 readers) and the rank machinery never
        // re-run the PPJoin pipeline (measured 4x the whole query cost
        // without this)
        val pairs = TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
          .select(col("id_a"), col("id_b")).localCheckpoint()
        val edges = pairs.unionByName(
          pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
        ScaleOps.integerPageRank(docs.select("doc_id"), "doc_id",
            edges, "id_a", "id_b", iters = 10)
          .orderBy("doc_id")
      },
      Some(oraclePageRank)),

    // ---- d29: d14's SLICED gate — the other sf1.0 oracle-coverage closer --
    // d14's DuckDB replay dies at sf1.0 (>70 GB temp spill; r17 matrix
    // exclusion 2 of 2) — the chained-CTE rounds re-evaluate the
    // shingle self-join upstream. PageRank is NOT pointwise (a rank
    // reads the whole graph), so unlike d28 the slice must induce the
    // SUBGRAPH on both sides: docs at doc_id % 3 = 0, pairs and ranks
    // over exactly that corpus. ScaleUpData's copy shift (1e8 ≡ 1
    // mod 3) rotates the surviving residue per copy, so every copy
    // contributes real edges (~1/9 of the full pair set survives —
    // hundreds of edges at sf1.0, a handful at the sf0.01 gate). The
    // sliced oracle also marks its reused CTEs MATERIALIZED so the 10
    // rounds share one evaluation instead of ten. d14 keeps the
    // full-corpus gate at sf0.01–sf0.2.
    QueryDef(
      "d29_dup_pagerank_sliced",
      (s, d) => {
        val docs = Tables.corpus(s, d).where(col("doc_id") % 3 === 0)
        val pairs = TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
          .select(col("id_a"), col("id_b")).localCheckpoint()
        val edges = pairs.unionByName(
          pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
        ScaleOps.integerPageRank(docs.select("doc_id"), "doc_id",
            edges, "id_a", "id_b", iters = 10)
          .orderBy("doc_id")
      },
      Some(oraclePageRankSliced(3))),

    // ---- d15: semantic dedup with a PINNED coarse quantizer --------------
    // d09's SemDeDup plan (multi-assign to centroid lists, within-list
    // self-join, cosine verify) with the kmeans replaced by the pinned
    // SQ8-code quantizer, putting the whole machinery — assignment
    // argsort, bucket self-join, pair dedup, quantized-cosine verify —
    // under the hash oracle, VALUES included (integer dots are exact in
    // doubles; sqrt/mult/div are single correctly-rounded IEEE ops, so
    // the emitted cos replays bit-for-bit). d09 keeps the trained
    // variant for clustered-corpus recall.
    QueryDef(
      "d15_semantic_dedup_pinned",
      (s, d) =>
        VectorOps.ivfCosinePairsPinned(Tables(s, d, "embeddings"),
            "vec_id", "embedding", threshold = 0.4, nlist = 16, nassign = 2)
          .orderBy("id_a", "id_b"),
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
        ), selfd AS (
          SELECT vec_id, c, sqrt(list_dot_product(c, c)) AS n FROM coded
        ),
        cent AS (SELECT vec_id AS cid, c AS cc FROM coded WHERE vec_id < 16),
        assign AS (
          SELECT vec_id, cid FROM (
            SELECT d.vec_id, ct.cid,
                   ROW_NUMBER() OVER (PARTITION BY d.vec_id
                     ORDER BY list_dot_product(d.c, ct.cc) DESC, ct.cid) AS rn
            FROM coded d CROSS JOIN cent ct) t WHERE rn <= 2),
        pairs AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM assign a JOIN assign b
            ON a.cid = b.cid AND a.vec_id < b.vec_id),
        scored AS (
          SELECT p.id_a, p.id_b,
                 list_dot_product(x.c, y.c) / (x.n * y.n) AS cos
          FROM pairs p
          JOIN selfd x ON x.vec_id = p.id_a
          JOIN selfd y ON y.vec_id = p.id_b)
        SELECT id_a, id_b, cos FROM scored
        WHERE cos >= 0.4
        ORDER BY id_a, id_b""")),

    // ---- d27: semantic dedup at the SCALE operating point -----------------
    // d15's pinned pipeline with nlist grown to 2*ceil(sqrt(n)) and the
    // centroid assignment as a broadcast join (no literal arrays — see
    // VectorOps.ivfCosinePairsPinnedScaled). Fixed nlist makes the
    // within-list pair mass n^2*nassign^2/nlist — the wall d09 hit at
    // sf5.0 (52 s at 100k vectors); sqrt-scale nlist bounds it at
    // ~n^1.5. The oracle replays the ENTIRE pipeline including the
    // dynamic nlist (scalar subquery over the corpus count), so the
    // scale knob itself is under the hash gate at every sf.
    QueryDef(
      "d27_semantic_dedup_scaled",
      (s, d) =>
        VectorOps.ivfCosinePairsPinnedScaled(Tables(s, d, "embeddings"),
            "vec_id", "embedding", threshold = 0.4, nassign = 2)
          .orderBy("id_a", "id_b"),
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
        ), selfd AS (
          SELECT vec_id, c, sqrt(list_dot_product(c, c)) AS n FROM coded
        ),
        cent AS (
          SELECT vec_id AS cid, c AS cc FROM coded
          WHERE vec_id < (SELECT nlist FROM nl)),
        assign AS (
          SELECT vec_id, cid FROM (
            SELECT d.vec_id, ct.cid,
                   ROW_NUMBER() OVER (PARTITION BY d.vec_id
                     ORDER BY list_dot_product(d.c, ct.cc) DESC, ct.cid) AS rn
            FROM coded d CROSS JOIN cent ct) t WHERE rn <= 2),
        pairs AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM assign a JOIN assign b
            ON a.cid = b.cid AND a.vec_id < b.vec_id),
        scored AS (
          SELECT p.id_a, p.id_b,
                 list_dot_product(x.c, y.c) / (x.n * y.n) AS cos
          FROM pairs p
          JOIN selfd x ON x.vec_id = p.id_a
          JOIN selfd y ON y.vec_id = p.id_b)
        SELECT id_a, id_b, cos FROM scored
        WHERE cos >= 0.4
        ORDER BY id_a, id_b"""),
      // floor-tracked (r17 verdict item 3): the scale operating point a
      // 100 TB corpus actually runs must carry its own regression floor
      bench = true),

    // ---- d20: exact-substring duplicated spans (suffix-array semantics) ---
    // [[TextOps.dupSubstringSpans]] — Lee et al. 2021 ExactSubstr at
    // token granularity; algorithm + scale notes live on the operator.
    QueryDef(
      "d20_dup_substring_spans",
      (s, d) =>
        TextOps.dupSubstringSpans(Tables.corpus(s, d), "doc_id", "text",
            k = SpanK)
          .orderBy("doc_id", "span_start"),
      Some(s"""
        $spanSitesCtes,
        dup AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) >= 2),
        ds AS (SELECT sh.doc_id, sh.i FROM sh JOIN dup USING (g)),
        isl AS (
          SELECT doc_id, i,
                 CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                           <= $SpanK
                      THEN 0 ELSE 1 END AS brk
          FROM ds),
        g2 AS (
          SELECT doc_id, i,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp
          FROM isl)
        SELECT doc_id, CAST(MIN(i) AS BIGINT) AS span_start,
               CAST(MAX(i) - MIN(i) + $SpanK AS BIGINT) AS span_tokens
        FROM g2 GROUP BY doc_id, grp ORDER BY doc_id, span_start"""),
      bench = true),

    // ---- d21: exact-substring dedup savings (first-site-wins) -------------
    // The removal ledger d20's spans imply: per doc, the duplicated
    // token mass, and the mass REMOVABLE when the corpus-wide first
    // (doc, pos) site of every duplicated window survives — d18's
    // savings ledger at exact-substring granularity. Every document
    // appears (zeros when clean), so the output is a per-doc curation
    // scorecard, joinable against quality filters.
    QueryDef(
      "d21_substring_savings",
      (s, d) =>
        TextOps.substringDedupSavings(Tables.corpus(s, d), "doc_id",
            "text", k = SpanK)
          .orderBy("doc_id"),
      Some(s"""
        $spanSitesCtes,
        fs AS (
          SELECT g, MIN(ROW(doc_id, i)) AS f, COUNT(*) AS c
          FROM sh GROUP BY g),
        ds AS (
          SELECT sh.doc_id, sh.i, (ROW(sh.doc_id, sh.i) = fs.f) AS isf
          FROM sh JOIN fs USING (g) WHERE fs.c >= 2),
        m1 AS (
          SELECT doc_id, SUM(hi - lo + $SpanK) AS dup_tokens FROM (
            SELECT doc_id, grp, MIN(i) AS lo, MAX(i) AS hi FROM (
              SELECT doc_id, i,
                     SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp
              FROM (
                SELECT doc_id, i,
                       CASE WHEN i - lag(i) OVER (PARTITION BY doc_id
                                                  ORDER BY i) <= $SpanK
                            THEN 0 ELSE 1 END AS brk FROM ds) b) s
            GROUP BY doc_id, grp) sp
          GROUP BY doc_id),
        m2 AS (
          SELECT doc_id, SUM(hi - lo + $SpanK) AS removable_tokens FROM (
            SELECT doc_id, grp, MIN(i) AS lo, MAX(i) AS hi FROM (
              SELECT doc_id, i,
                     SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp
              FROM (
                SELECT doc_id, i,
                       CASE WHEN i - lag(i) OVER (PARTITION BY doc_id
                                                  ORDER BY i) <= $SpanK
                            THEN 0 ELSE 1 END AS brk
                FROM ds WHERE NOT isf) b) s
            GROUP BY doc_id, grp) sp
          GROUP BY doc_id),
        n AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens
          FROM documents)
        SELECT n.doc_id, n.n_tokens,
               CAST(COALESCE(m1.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               CAST(COALESCE(m2.removable_tokens, 0) AS BIGINT)
                 AS removable_tokens
        FROM n LEFT JOIN m1 USING (doc_id) LEFT JOIN m2 USING (doc_id)
        ORDER BY doc_id""")),

    // ---- d22: bloom-filter decontamination (benchmark bitmap scan) --------
    // [[TextOps.bloomDecontaminate]] — d08's check when even the
    // broadcast-join sliver is too much: the eval suite folds into one
    // 2^20-bit bloom (partial-agg OR, md5 double-hash positions), and
    // every training doc is scored in the scan with zero shuffle. The
    // oracle rebuilds the IDENTICAL bitmap in SQL (the md5-hex-to-63-bit
    // bridge of t05), so membership — false positives included — is
    // bit-exact, not property-checked. Same eval split as d08.
    QueryDef(
      "d22_bloom_decontaminate",
      (s, d) => {
        val docs = Tables.corpus(s, d)
        graft.functions.TextOps.bloomDecontaminate(
            train = docs.where(col("doc_id") % 50 =!= 0),
            eval_ = docs.where(col("doc_id") % 50 === 0),
            "doc_id", "text", n = 4, mBits = 1 << 20, numHashes = 5)
          .orderBy("doc_id")
      },
      Some(bloomDecontaminateOracle),
      bench = true)
  )


  /** DuckDB replay of [[ScaleOps.integerPageRank]] over the exact
    * near-dup edges: the pairs CTE (same as d02's oracle), then 10
    * chained rank rounds — all `//` integer division, so every round
    * matches the Spark longs exactly. */
  /** d29's oracle: [[oraclePageRank]] over the `doc_id % mod = 0`
    * induced subcorpus, with the shared CTEs (edge table, degree,
    * vertex count) marked MATERIALIZED — DuckDB inlines multiply-
    * referenced CTEs by default, so d14's 10 rounds re-evaluated the
    * quadratic shingle join ten times and spilled >70 GB at sf1.0;
    * the slice cuts the join mass by mod² AND the hint shares one
    * evaluation across rounds. */
  private def oraclePageRankSliced(mod: Int): String = {
    val rounds = (1 to 10).map { k =>
      s""", r$k AS (
          SELECT d.doc_id AS v,
                 ((150000 // (SELECT nv FROM nv)) +
                  (85 * COALESCE(s.s, 0)) // 100) AS r
          FROM docs_s d LEFT JOIN (
            SELECT ed.dst AS v2, SUM(r.r // ed.deg) AS s
            FROM ed JOIN r${k - 1} r ON ed.src = r.v GROUP BY 1
          ) s ON d.doc_id = s.v2)"""
    }.mkString
    s"""
        WITH docs_s AS MATERIALIZED (
          SELECT doc_id, text FROM documents WHERE doc_id % $mod = 0
        ), toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
          FROM docs_s
        ), sh AS (
          SELECT doc_id, list_distinct(list_transform(
                 generate_series(1, len(w)-2),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
          FROM toks
        ), ex AS (
          SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh
        ), cand AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
                 any_value(a.n) AS na, any_value(b.n) AS nb
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), p AS (
          SELECT id_a, id_b FROM cand
          WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM p
          UNION ALL
          SELECT id_b, id_a FROM p
        ), deg AS (
          SELECT src, count(*) AS deg FROM edges GROUP BY 1
        ), ed AS MATERIALIZED (
          SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)
        ), nv AS MATERIALIZED (
          SELECT count(*) AS nv FROM docs_s
        ), r0 AS (
          SELECT doc_id AS v, (1000000 // (SELECT nv FROM nv)) AS r
          FROM docs_s
        )$rounds
        SELECT v AS doc_id, CAST(r AS BIGINT) AS rank_micro
        FROM r10 ORDER BY doc_id"""
  }

  private lazy val oraclePageRank: String = {
    val rounds = (1 to 10).map { k =>
      s""", r$k AS (
          SELECT d.doc_id AS v,
                 ((150000 // (SELECT nv FROM nv)) +
                  (85 * COALESCE(s.s, 0)) // 100) AS r
          FROM documents d LEFT JOIN (
            SELECT ed.dst AS v2, SUM(r.r // ed.deg) AS s
            FROM ed JOIN r${k - 1} r ON ed.src = r.v GROUP BY 1
          ) s ON d.doc_id = s.v2)"""
    }.mkString
    s"""
        $oracleShingles, ex AS (
          SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh
        ), cand AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
                 any_value(a.n) AS na, any_value(b.n) AS nb
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), p AS (
          SELECT id_a, id_b FROM cand
          WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM p
          UNION ALL
          SELECT id_b, id_a FROM p
        ), deg AS (
          SELECT src, count(*) AS deg FROM edges GROUP BY 1
        ), ed AS (
          SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)
        ), nv AS (
          SELECT count(*) AS nv FROM documents
        ), r0 AS (
          SELECT doc_id AS v, (1000000 // (SELECT nv FROM nv)) AS r
          FROM documents
        )$rounds
        SELECT v AS doc_id, CAST(r AS BIGINT) AS rank_micro
        FROM r10 ORDER BY doc_id"""
  }
}
