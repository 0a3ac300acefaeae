package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextOps

/** Text-analysis operators over the `documents` corpus: n-gram-heuristic
  * language ID, quality scoring, token counting (whitespace + BPE-ish
  * regex), and document fingerprinting. All pure column expressions —
  * one narrow projection per document, aggregations shuffle once.
  *
  * Float discipline: ratios are emitted through an explicit
  * `floor(x*10000 + 0.5)/10000` on both engines — `round()` differs at
  * exact halves (Spark HALF_UP vs DuckDB half-to-even), while
  * floor-of-identical-IEEE-ops is bit-deterministic.
  */
object TextAnalysis {

  /** Tiny per-language stopword profiles for the n-gram heuristic.
    * Deterministic priority order (en > es > de > fr > zh) breaks ties;
    * zero overlap everywhere → "und". */
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "en", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("de5", "shi4", "he2"))

  private def overlap(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(words.map(lit): _*), t)))

  private def scoreCols(toks: Column): Seq[Column] =
    stopwords.map { case (lang, words) => overlap(toks, words).as(s"n_$lang") }

  private def predictExpr: Column = {
    val langs = stopwords.map(_._1)
    // argmax with fixed priority: a language wins if its count is > 0 and
    // >= every later language's count and > none of the earlier ones beat it
    langs.foldRight(lit("und")) { (lang, elseExpr) =>
      val c = col(s"n_$lang")
      val beatenByEarlier = langs.takeWhile(_ != lang)
        .map(l2 => col(s"n_$l2") >= c)
      val losesToLater = langs.dropWhile(_ != lang).drop(1)
        .map(l2 => col(s"n_$l2") > c)
      val isMax = (beatenByEarlier ++ losesToLater)
        .foldLeft(c > 0)((acc, cond) => acc && !cond)
      when(isMax, lit(lang)).otherwise(elseExpr)
    }
  }

  private def oracleOverlap(lang: String, words: Seq[String]): String =
    s"len(list_filter(w, t -> list_contains([${words.map(w => s"'$w'").mkString(",")}], t))) AS n_$lang"

  private def oraclePredict: String = {
    val langs = stopwords.map(_._1)
    val cases = langs.map { lang =>
      val earlier = langs.takeWhile(_ != lang).map(l2 => s"n_$l2 >= n_$lang")
      val later = langs.dropWhile(_ != lang).drop(1).map(l2 => s"n_$l2 > n_$lang")
      val conds = (s"n_$lang > 0" +: (earlier ++ later).map(c => s"NOT ($c)")).mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  /** The published tokenizer for t15: bpeTrain(documents@sf0.01,
    * numMerges = 8) — regenerate with t14 if the corpus generator ever
    * changes. Counts are part of the table (merge provenance), unused by
    * inference. Declared BEFORE `defs`: the oracle strings interpolate it
    * eagerly during object init. */
  private val PinnedMerges: Seq[(Int, String, String, Long)] = Seq(
    (1, "table", "hash", 48L), (2, "part", "filter", 46L),
    (3, "customer", "join", 45L), (4, "merge", "group", 45L),
    (5, "slow", "key", 45L), (6, "vector", "small", 45L),
    (7, "big", "order", 44L), (8, "merge", "order", 44L))

  val defs: Seq[QueryDef] = Seq(

    // ---- t01: language-ID heuristic (stopword-profile overlap) -----------
    QueryDef(
      "t01_langid",
      (s, d) => {
        val toks = TextOps.tokens(col("text"))
        Tables.corpus(s, d)
          .select((col("doc_id") +: col("lang") +: scoreCols(toks)): _*)
          .withColumn("predicted", predictExpr)
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "predicted")
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS w
          FROM documents
        ), scored AS (
          SELECT doc_id, lang,
                 ${stopwords.map { case (l, ws) => oracleOverlap(l, ws) }.mkString(",\n                 ")}
          FROM toks
        )
        SELECT lang, $oraclePredict AS predicted, count(*) AS n_docs
        FROM scored
        GROUP BY lang, predicted
        ORDER BY lang, predicted""")),

    // ---- t02: quality scoring --------------------------------------------
    QueryDef(
      "t02_quality",
      (s, d) => {
        val toks = TextOps.tokens(col("text"))
        val en = stopwords.head._2
        def r4(c: Column): Column = floor(c * 10000.0 + 0.5) / 10000.0
        Tables.corpus(s, d)
          .select(col("doc_id"),
            size(toks).cast("long").as("n_tokens"), // int64: match DuckDB len()
            length(col("text")).as("n_chars"),
            overlap(toks, en).as("n_stop"))
          .select(col("doc_id"), col("n_tokens"),
            r4(col("n_chars").cast("double") / col("n_tokens")).as("avg_token_len"),
            r4(col("n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"),
            r4(
              least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.5 +
              (col("n_stop").cast("double") / col("n_tokens")) * 0.25 +
              least(col("n_chars").cast("double") / col("n_tokens") / 10.0, lit(1.0)) * 0.25
            ).as("quality_score"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id,
                 len(string_split_regex(trim(text), '\s+')) AS n_tokens,
                 length(text) AS n_chars,
                 len(list_filter(string_split_regex(trim(text), '\s+'),
                     t -> list_contains(['the','a','of','and','to','in','is'], t))) AS n_stop
          FROM documents
        )
        SELECT doc_id, n_tokens,
               floor((CAST(n_chars AS DOUBLE) / n_tokens)*10000.0 + 0.5)/10000.0 AS avg_token_len,
               floor((CAST(n_stop AS DOUBLE) / n_tokens)*10000.0 + 0.5)/10000.0 AS stopword_ratio,
               floor((least(CAST(n_tokens AS DOUBLE)/100.0, 1.0)*0.5 +
                      (CAST(n_stop AS DOUBLE)/n_tokens)*0.25 +
                      least(CAST(n_chars AS DOUBLE)/n_tokens/10.0, 1.0)*0.25)*10000.0 + 0.5)/10000.0 AS quality_score
        FROM base
        ORDER BY doc_id"""),
      bench = true),

    // ---- t03: token counting (whitespace + BPE-ish regex) -----------------
    QueryDef(
      "t03_token_count",
      (s, d) =>
        Tables.corpus(s, d)
          .select(col("source"),
            size(TextOps.tokens(col("text"))).cast("long").as("ws_tokens"),
            regexp_count(col("text"), lit("[a-z]+|[0-9]")).cast("long").as("bpe_tokens"),
            length(col("text")).cast("long").as("chars"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ws_tokens")).as("total_ws_tokens"),
            sum(col("bpe_tokens")).as("total_bpe_tokens"),
            sum(col("chars")).as("total_chars"))
          .orderBy("source"),
      Some("""
        SELECT source, count(*) AS n_docs,
               CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_ws_tokens,
               CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]'))) AS BIGINT) AS total_bpe_tokens,
               CAST(sum(length(text)) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY source
        ORDER BY source""")),

    // ---- t04: document fingerprinting (content hash + min-shingle hash) ---
    QueryDef(
      "t04_fingerprint",
      (s, d) =>
        // stage toks -> shingles -> fp so the split isn't re-evaluated per
        // shingle (see TextOps.shingles pitfall)
        Tables.corpus(s, d)
          .select(col("doc_id"), col("text"),
            TextOps.tokens(col("text")).as("__toks"))
          .select(col("doc_id"),
            md5(TextOps.normalize(col("text"))).as("content_fp"),
            TextOps.shingles(col("__toks"), 3).as("__sh"))
          .select(col("doc_id"), col("content_fp"),
            substring(col("content_fp"), 1, 8).as("fp_prefix"),
            array_min(transform(col("__sh"), x => md5(x))).as("min_shingle_fp"))
          .orderBy("doc_id"),
      Some("""
        WITH sh AS (
          SELECT doc_id,
                 md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_fp,
                 list_distinct(list_transform(
                   generate_series(1, len(string_split_regex(trim(text), '\s+'))-2),
                   i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
                        string_split_regex(trim(text), '\s+')[i+1] || ' ' ||
                        string_split_regex(trim(text), '\s+')[i+2])) AS shingles
          FROM documents
        )
        SELECT doc_id, content_fp,
               substr(content_fp, 1, 8) AS fp_prefix,
               list_sort(list_transform(shingles, x -> md5(x)))[1] AS min_shingle_fp
        FROM sh
        ORDER BY doc_id""")),

    // ---- t05: winnowing fingerprints (rolling k-gram hash + window min)
    // — md5-derived 63-bit gram hashes, so DuckDB replays the full
    // pipeline; the substring-match guarantee is property-tested too ------
    QueryDef(
      "t05_winnowing",
      (s, d) =>
        TextOps.winnowingFingerprints(
            Tables.corpus(s, d), "doc_id", "text", k = 8, w = 4)
          .select(col("__id").as("doc_id"),
            size(col("fps")).cast("long").as("n_fps"),
            array_min(col("fps")).as("fp_min"),
            array_max(col("fps")).as("fp_max"))
          .orderBy("doc_id"),
      Some("""
        WITH norm AS (
          SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
          FROM documents
        ), g AS (
          SELECT doc_id, CASE WHEN length(t) >= 8 THEN
            list_transform(generate_series(1, length(t)-7),
              i -> (('0x' || substr(md5(substr(t, i, 8)),1,16))::UBIGINT
                     & 9223372036854775807))
            ELSE CAST([] AS UBIGINT[]) END AS gh
          FROM norm
        ), fp AS (
          SELECT doc_id, list_distinct(CASE WHEN len(gh) >= 4 THEN
            list_transform(generate_series(1, len(gh)-3), j -> list_min(gh[j:j+3]))
            ELSE gh END) AS fps
          FROM g
        )
        SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
               CAST(list_min(fps) AS BIGINT) AS fp_min,
               CAST(list_max(fps) AS BIGINT) AS fp_max
        FROM fp ORDER BY doc_id""")),

    // ---- t06: PII / identifier scrubbing — multi-pattern regex redaction
    // with per-pattern counts, over the customer projection (the one
    // synthetic text surface carrying identifier-shaped digit runs;
    // email/phone patterns are part of the operator and simply count 0
    // here). Narrow per-row column work, codegen regexes. -----------------
    QueryDef(
      "t06_pii_scrub",
      (s, d) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phoneRe = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
        val idRe = "[0-9]{6,}"
        Tables(s, d, "customer")
          .select(col("c_custkey"),
            concat_ws(" ", col("c_name"), col("c_mktsegment")).as("__text"))
          .select(col("c_custkey"),
            regexp_count(col("__text"), lit(emailRe)).cast("long").as("n_emails"),
            regexp_count(col("__text"), lit(phoneRe)).cast("long").as("n_phones"),
            regexp_count(col("__text"), lit(idRe)).cast("long").as("n_ids"),
            regexp_replace(regexp_replace(regexp_replace(col("__text"),
              emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), idRe, "<ID>")
              .as("redacted"))
          .orderBy("c_custkey")
      },
      Some("""
        WITH t AS (
          SELECT c_custkey, concat_ws(' ', c_name, c_mktsegment) AS txt
          FROM customer
        )
        SELECT c_custkey,
               CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(txt, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
               CAST(len(regexp_extract_all(txt, '[0-9]{6,}')) AS BIGINT) AS n_ids,
               regexp_replace(regexp_replace(regexp_replace(txt,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
                 '[0-9]{6,}', '<ID>', 'g') AS redacted
        FROM t
        ORDER BY c_custkey""")),

    // ---- t07: TF-IDF top terms per document. The rational variant
    // (tf * N / df — no transcendentals) so both engines compute
    // bit-identical IEEE doubles; equal scores tie-break on the term, so
    // rank order is cross-engine deterministic. The score itself is never
    // emitted. Shuffles: tf groupBy, df groupBy, rank window — all on
    // uniform keys; N joins in as a broadcast scalar, not a driver value.
    QueryDef(
      "t07_tfidf",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.corpus(s, d)
        val toks = docs.select(col("doc_id"),
          explode(TextOps.tokens(lower(col("text")))).as("term"))
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("__n"))
        val scored = tf.join(dfreq, "term")
          .crossJoin(broadcast(n))
          .withColumn("score", col("tf").cast("double") * col("__n") / col("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term"))
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
          .orderBy("doc_id", "rank")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
          FROM documents
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        ), dfreq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY 1
        ), scored AS (
          SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                 CAST(tf.tf AS DOUBLE) * (SELECT count(*) FROM documents) / dfreq.df AS score
          FROM tf JOIN dfreq USING (term)
        ), ranked AS (
          SELECT doc_id, term, tf, df,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
          FROM scored
        )
        SELECT doc_id, rank, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
        FROM ranked WHERE rank <= 3
        ORDER BY doc_id, rank""")),

    // ---- t08: Count-Min-sketch heavy hitters ------------------------------
    // fixed-memory frequency estimation: a depth x width counter grid
    // (md5-salted buckets) estimates any token's count as the min of its
    // cells — state is ~4 KiB regardless of corpus size. Exact counts
    // ride along, pinning the CMS one-sided error (est >= true) in the
    // oracle compare. Every hash is md5-derived, so DuckDB rebuilds the
    // *identical* sketch.
    QueryDef(
      "t08_heavy_hitters",
      (s, d) =>
        graft.functions.SketchOps.cmsHeavyHitters(
          Tables.corpus(s, d), "text", depth = 4, width = 1024, topK = 10),
      Some("""
        WITH toks AS (
          SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM documents),
        salts AS (SELECT unnest([0,1,2,3]) AS r),
        sketch AS (
          SELECT r, CAST((('0x' || substr(md5(r::VARCHAR || ':' || tok),1,16))::UBIGINT
                     & 1023) AS BIGINT) AS bucket, count(*) AS c
          FROM toks, salts
          GROUP BY 1, 2),
        top AS (
          SELECT tok, count(*) AS true_n FROM toks GROUP BY tok
          ORDER BY true_n DESC, tok LIMIT 10)
        SELECT t.tok, t.true_n, MIN(s.c) AS cms_est
        FROM top t, salts r
        JOIN sketch s
          ON s.r = r.r
         AND s.bucket = CAST((('0x' || substr(md5(r.r::VARCHAR || ':' || t.tok),1,16))::UBIGINT
                         & 1023) AS BIGINT)
        GROUP BY t.tok, t.true_n
        ORDER BY true_n DESC, tok"""),
      bench = true),

    // ---- t09: repetition-based quality filter (Gopher-style) --------------
    // per-document token-repetition signals: the fraction of tokens taken
    // by the single most frequent token and the fraction covered by any
    // repeated token — the standard "remove boilerplate/degenerate docs"
    // filters in corpus curation. The `repetitive` flag is pure integer
    // arithmetic (top*5 >= n  <=>  top-token share >= 20%), so no fp
    // drift vs the oracle. reference: mriya has no corpus ops; shapes
    // follow the published Gopher/C4 filtering rules.
    //
    // SHAPE (r21): the counts are PER-DOCUMENT, so no cross-row grouping
    // is needed at all — sort each doc's token array once and fold the
    // sorted runs in a single aggregate HOF (run length = token count;
    // the max run is top_c, runs >= 2 sum to dup_c). The old
    // explode → groupBy(doc,tok) → groupBy(doc) pipeline shuffled the
    // full token stream twice; this is a scan-resident projection whose
    // only exchange is the declared output ordering. Measured 2x at
    // sf0.1 (0.68-0.94 s -> 0.33-0.37 s plateau) AND sf5.0 (1.27-1.40 ->
    // 0.63-0.72 s), output bit-identical (exceptAll both ways = 0; the
    // oracle replays the grouping form). At 100 TB the removed exchanges
    // are the whole token stream.
    // Invariant: `doc_id` is unique in `documents`. The oracle groups by
    // doc_id; the fold emits one row per input row, so the two agree only
    // while no doc_id repeats (two rows sharing one would come out as two
    // rows here, one merged row in the oracle).
    // Skew bound: no key gathers more than one row, so the largest unit
    // of work is a single document's token array (one sort + one fold in
    // one task) — a huge document costs one task, never a hot partition.
    QueryDef(
      "t09_repetition",
      (s, d) => {
        def r4(c: org.apache.spark.sql.Column) =
          floor(c * 10000.0 + 0.5) / 10000.0
        def fld(a: org.apache.spark.sql.Column, n: String) = a.getField(n)
        val toks = TextOps.tokens(col("text"))
        val acc0 = struct(lit("").as("prev"), lit(0L).as("run"),
          lit(0L).as("maxr"), lit(0L).as("dup"))
        val folded = aggregate(
          array_sort(toks), acc0,
          (a, x) => {
            // run>0 gates the null-safe compare so the "" seed can never
            // match a real first token
            val same = fld(a, "run") > 0 && (x <=> fld(a, "prev"))
            struct(x.as("prev"),
              when(same, fld(a, "run") + 1L).otherwise(lit(1L)).as("run"),
              when(same, fld(a, "maxr"))
                .otherwise(greatest(fld(a, "maxr"), fld(a, "run"))).as("maxr"),
              when(same, fld(a, "dup"))
                .otherwise(fld(a, "dup") +
                  when(fld(a, "run") >= 2L, fld(a, "run")).otherwise(0L)).as("dup"))
          },
          // close the trailing run
          a => struct(
            greatest(fld(a, "maxr"), fld(a, "run")).as("top_c"),
            (fld(a, "dup") +
              when(fld(a, "run") >= 2L, fld(a, "run")).otherwise(0L)).as("dup_c")))
        Tables.corpus(s, d)
          // explode() dropped null-text docs; the projection form must
          // too. split(trim(text)) is null only for null text, so test the
          // text itself rather than run the regex split a second time
          .where(col("text").isNotNull)
          .select(col("doc_id"),
            size(toks).cast("long").as("n_tokens"), folded.as("__f"))
          .select(col("doc_id"), col("n_tokens"),
            r4(col("__f.top_c").cast("double") / col("n_tokens")).as("top_token_frac"),
            r4(col("__f.dup_c").cast("double") / col("n_tokens")).as("dup_token_frac"),
            (col("__f.top_c") * 5 >= col("n_tokens")).as("repetitive"))
          .orderBy("doc_id")
      },
      Some("""
        WITH tok AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM documents),
        cnt AS (
          SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               floor((CAST(max(c) AS DOUBLE)/sum(c))*10000.0 + 0.5)/10000.0 AS top_token_frac,
               floor((CAST(coalesce(sum(c) FILTER (WHERE c >= 2), 0) AS DOUBLE)/sum(c))*10000.0 + 0.5)/10000.0 AS dup_token_frac,
               (max(c)*5 >= sum(c)) AS repetitive
        FROM cnt GROUP BY doc_id ORDER BY doc_id"""),
      bench = true),

    // ---- t10: boilerplate-token scrub (dictionary filtering) -------------
    // corpus-level document frequency finds "boilerplate" tokens (df >
    // 50% of docs), then every doc is rewritten without them — the
    // CCNet-style boilerplate scrub as a dataflow: one distinct+count
    // aggregation for the dictionary (map-side combinable), dictionary
    // folded to a single sorted array and BROADCAST to the rewrite
    // projection (no per-token join on the write path, no driver
    // collect). The rewrite is one staged `filter` HOF pass per doc —
    // the kept-array is materialized once (lambda-capture pitfall:
    // never repeat the HOF).
    QueryDef(
      "t10_boilerplate",
      (s, d) => {
        val docs = Tables.corpus(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        val ndf = docs.agg(count(lit(1)).as("n_docs"))
        val dfreq = docs
          .select(col("doc_id"), explode(array_distinct(col("toks"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val blist = dfreq.crossJoin(broadcast(ndf))
          .where(col("df") * 2 > col("n_docs"))
          .agg(sort_array(collect_list(col("tok"))).as("bl"))
        docs.crossJoin(broadcast(blist))
          .withColumn("kept",
            filter(col("toks"), t => !array_contains(col("bl"), t)))
          .select(col("doc_id"),
            array_join(col("kept"), " ").as("clean_text"),
            (size(col("toks")) - size(col("kept"))).cast("long").as("removed"))
          .orderBy("doc_id")
      },
      Some("""
        WITH docs AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
          FROM documents),
        n AS (SELECT COUNT(*) AS n_docs FROM docs),
        dfreq AS (
          SELECT tok, COUNT(*) AS df FROM (
            SELECT DISTINCT doc_id, tok FROM (
              SELECT doc_id, unnest(toks) AS tok FROM docs))
          GROUP BY tok),
        boiler AS (
          SELECT COALESCE(list(tok ORDER BY tok), []) AS bl
          FROM dfreq, n WHERE df * 2 > n_docs)
        SELECT doc_id,
               COALESCE(array_to_string([t FOR t IN toks IF NOT list_contains(bl, t)], ' '), '') AS clean_text,
               CAST(len(toks) - len([t FOR t IN toks IF NOT list_contains(bl, t)]) AS BIGINT) AS removed
        FROM docs, boiler
        ORDER BY doc_id""")),

    // ---- t11: BPE-style adjacent-pair counts (tokenizer training) --------
    // the inner loop of byte-pair-encoding training: count every adjacent
    // token pair across the corpus, rank merge candidates. One narrow
    // per-doc projection (no self-join — pairs come from an index
    // transform over the token array), one map-side-combinable count.
    // At 100 TB this is the exact shape each BPE merge iteration runs.
    QueryDef(
      "t11_bpe_pairs",
      (s, d) => {
        val toks = Tables.corpus(s, d)
          .select(TextOps.tokens(col("text")).as("t"))
        toks.select(explode(
            when(size(col("t")) >= 2,
              transform(sequence(lit(1), size(col("t")) - 1),
                i => concat_ws(" ", element_at(col("t"), i),
                  element_at(col("t"), i + 1))))
              .otherwise(array().cast("array<string>"))).as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(50)
      },
      Some("""
        WITH toks AS (
          SELECT string_split_regex(trim(text), '\s+') AS t FROM documents),
        pairs AS (
          SELECT unnest(list_transform(range(1, len(t)),
                   i -> t[i] || ' ' || t[i+1])) AS pair
          FROM toks WHERE len(t) >= 2)
        SELECT pair, COUNT(*) AS cnt
        FROM pairs GROUP BY pair
        ORDER BY cnt DESC, pair
        LIMIT 50""")),

    // ---- t12: unigram log-probability scoring (LM quality filter) ---------
    // the unigram approximation of KenLM-style perplexity filtering:
    // corpus unigram counts -> per-token -ln p(tok) -> per-doc mean.
    // Float discipline: ln runs on identical (count, total) operands in
    // both engines, each token's nats are fixed-pointed to 1e-4 BEFORE
    // the sum, so the per-doc aggregate is integer arithmetic —
    // accumulation order (Spark partial aggs vs DuckDB serial) cannot
    // move the result. The unigram table broadcasts; the corpus-total
    // count rides along as a 1-row broadcast.
    QueryDef(
      "t12_unigram_logprob",
      (s, d) => {
        val toks = Tables.corpus(s, d)
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        val total = uni.agg(sum(col("c")).as("n"))
        toks.join(broadcast(uni), Seq("tok"))
          .crossJoin(broadcast(total))
          .select(col("doc_id"),
            floor(-log(col("c").cast("double") / col("n").cast("double"))
              * 10000.0 + 0.5).cast("long").as("__nats4"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            floor(sum(col("__nats4")).cast("double") / count(lit(1)) + 0.5)
              .cast("long").as("mean_nats4"))
          .orderBy("doc_id")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM documents),
        uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        total AS (SELECT SUM(c) AS n FROM uni),
        scored AS (
          SELECT doc_id,
                 CAST(floor(-ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                   * 10000.0 + 0.5) AS BIGINT) AS nats4
          FROM toks JOIN uni USING (tok), total)
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               CAST(floor(CAST(SUM(nats4) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
                 AS mean_nats4
        FROM scored GROUP BY doc_id ORDER BY doc_id""")),

    // ---- t13: overlapping token-window chunking (RAG/embedding prep) -----
    // split each document into chunk_size-token windows with `overlap`
    // tokens of context shared between neighbors — the retrieval-corpus
    // prep step. Pure per-row array arithmetic (sequence -> slice), one
    // explode; no shuffle until the presentation sort. Stride =
    // chunk_size - overlap; the last window keeps its tail remainder.
    QueryDef(
      "t13_chunking",
      (s, d) => {
        val size_ = 64
        val overlap = 16
        val stride = size_ - overlap // 48
        val docs = Tables.corpus(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
          .withColumn("n", size(col("t")))
        // number of chunks: 1 + ceil(max(0, n - size) / stride)
        val nChunks = lit(1) +
          ceil(greatest(col("n") - size_, lit(0)).cast("double") / stride)
            .cast("int")
        docs
          .withColumn("ch", explode(transform(
            sequence(lit(0), nChunks - 1),
            i => struct(i.as("chunk_id"),
              slice(col("t"), i * stride + 1, lit(size_)).as("toks")))))
          .select(col("doc_id"),
            col("ch.chunk_id").cast("long").as("chunk_id"),
            array_join(col("ch.toks"), " ").as("chunk_text"),
            size(col("ch.toks")).cast("long").as("n_tokens"))
          .orderBy("doc_id", "chunk_id")
      },
      Some("""
        WITH docs AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents),
        sized AS (SELECT doc_id, t, len(t) AS n FROM docs),
        chunks AS (
          SELECT doc_id,
                 unnest(range(0, 1 + CAST(ceil(greatest(n - 64, 0) / 48.0) AS BIGINT)))
                   AS chunk_id,
                 t
          FROM sized)
        SELECT doc_id, chunk_id,
               array_to_string(t[chunk_id*48 + 1 : chunk_id*48 + 64], ' ') AS chunk_text,
               CAST(len(t[chunk_id*48 + 1 : chunk_id*48 + 64]) AS BIGINT) AS n_tokens
        FROM chunks
        ORDER BY doc_id, chunk_id""")),

    // ---- t14: BPE training loop (iterative merges) ------------------------
    // the full tokenizer-training iteration (t11 is one round of it):
    // count pairs -> take the deterministic top -> rewrite the corpus ->
    // repeat. ORACLE-GATED: DuckDB replays the whole training loop as 8
    // chained rounds — each round one pair-count aggregation, the
    // (count desc, pair asc) top-1, and a recursive-CTE left-greedy
    // rewrite feeding the next round. Every intermediate is MATERIALIZED:
    // without the hint DuckDB re-inlines each CTE per reference and the
    // 8-round chain re-evaluates exponentially. The batched trainer's
    // byte-equality to this serial replay is exactly the BpeSuite
    // guarantee.
    QueryDef(
      "t14_bpe_train",
      (s, d) => {
        val merges = TextOps.bpeTrain(
          Tables.corpus(s, d).select(col("text")), "text", numMerges = 8)
        import s.implicits._
        merges.toDF("rank", "left", "right", "cnt")
          .select(col("rank").cast("long"), col("left"), col("right"),
            col("cnt"))
          .orderBy("rank")
      },
      Some {
        val rounds = (1 to 8).map { k =>
          val prev = s"d${k - 1}"
          s"""
          t$k AS MATERIALIZED (
            SELECT l, r, c FROM (
              SELECT toks[i] AS l, toks[i+1] AS r, count(*) AS c
              FROM (SELECT unnest(generate_series(1, len(toks)-1)) AS i, toks
                    FROM $prev)
              GROUP BY 1, 2)
            WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1),
          s$k(doc_id, i, acc, toks) AS (
            SELECT doc_id, 1, CAST([] AS VARCHAR[]), toks FROM $prev
            UNION ALL
            SELECT s.doc_id,
              CASE WHEN s.i < len(s.toks) AND s.toks[s.i] = m.l
                        AND s.toks[s.i+1] = m.r
                   THEN s.i + 2 ELSE s.i + 1 END,
              CASE WHEN s.i < len(s.toks) AND s.toks[s.i] = m.l
                        AND s.toks[s.i+1] = m.r
                   THEN list_append(s.acc, m.l || m.r)
                   ELSE list_append(s.acc, s.toks[s.i]) END,
              s.toks
            -- LEFT JOIN: an empty t$k (top pair below minCount) must
            -- still walk the docs through unchanged, not lose them
            FROM s$k s LEFT JOIN t$k m ON TRUE
            WHERE s.i <= len(s.toks)
          ),
          d$k AS MATERIALIZED (
            SELECT doc_id, acc AS toks FROM s$k WHERE i > len(toks))"""
        }.mkString(",")
        val out = (1 to 8).map { k =>
          s"""SELECT CAST($k AS BIGINT) AS rank, l AS "left", r AS "right", c AS cnt FROM t$k"""
        }.mkString(" UNION ALL ")
        s"""
        WITH RECURSIVE
        d0 AS MATERIALIZED (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
          FROM documents),$rounds
        $out
        ORDER BY rank"""
      }),

    // ---- t15: BPE tokenization under a PUBLISHED merge table -------------
    // the production inference shape: a tokenizer is trained once
    // (t14), its merge table is published, and corpora are re-tokenized
    // under it ever after. Applying a FIXED table is a pure function of
    // the text, so this IS oracle-gated: DuckDB replays the rank-ordered
    // left-greedy merges with a recursive CTE that walks each token list
    // (consume-or-copy per step, reset per rank). The pinned table is
    // bpeTrain's sf0.01 output (byte-identical to the serial trainer —
    // BpeSuite); the train->apply composition stays covered by t14 + the
    // BpeSuite round-trip. Per-doc merged vs raw counts are the output.
    QueryDef(
      "t15_bpe_tokenize",
      (s, d) => {
        val docs = Tables.corpus(s, d)
        TextOps.bpeApply(docs, "doc_id", "text", PinnedMerges)
          .select(col("doc_id"),
            size(col("tokens")).cast("long").as("n_merged_tokens"))
          .join(docs.select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_raw_tokens")),
            Seq("doc_id"))
          .orderBy("doc_id")
      },
      Some {
        val values = PinnedMerges
          .map { case (rank, l, r, _) => s"($rank,'$l','$r')" }.mkString(",")
        val maxRank = PinnedMerges.map(_._1).max
        s"""
        WITH RECURSIVE
        m(rank, l, r) AS (SELECT * FROM (VALUES $values) t(rank, l, r)),
        d AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
          FROM documents
        ),
        -- one walker row per (doc, merge rank, position): consume the
        -- matched pair or copy one token; at end-of-list restart at i=1
        -- with the merged list as the next rank's input
        s(doc_id, rank, i, acc, toks) AS (
          SELECT doc_id, 1, 1, CAST([] AS VARCHAR[]), toks FROM d
          UNION ALL
          SELECT s.doc_id,
            CASE WHEN s.i <= len(s.toks) THEN s.rank ELSE s.rank + 1 END,
            CASE WHEN s.i > len(s.toks) THEN 1
                 WHEN s.i < len(s.toks) AND s.toks[s.i] = m.l
                      AND s.toks[s.i+1] = m.r THEN s.i + 2
                 ELSE s.i + 1 END,
            CASE WHEN s.i > len(s.toks) THEN CAST([] AS VARCHAR[])
                 WHEN s.i < len(s.toks) AND s.toks[s.i] = m.l
                      AND s.toks[s.i+1] = m.r THEN list_append(s.acc, m.l || m.r)
                 ELSE list_append(s.acc, s.toks[s.i]) END,
            CASE WHEN s.i > len(s.toks) THEN s.acc ELSE s.toks END
          FROM s JOIN m ON m.rank = s.rank
          WHERE NOT (s.i > len(s.toks) AND s.rank = $maxRank)
        )
        SELECT s.doc_id, CAST(len(s.acc) AS BIGINT) AS n_merged_tokens,
               CAST(len(d.toks) AS BIGINT) AS n_raw_tokens
        FROM s JOIN d USING (doc_id)
        WHERE s.i > len(s.toks) AND s.rank = $maxRank
        ORDER BY doc_id"""
      }),

    // ---- t16: hashed-feature linear quality classifier (fastText
    // inference shape) -----------------------------------------------------
    // the standard learned quality filter at inference time: word
    // features hash into B=4096 buckets, each bucket carries a weight
    // from the (published) model, a document's logit is the weight sum.
    // Weights here are an md5-derived stand-in for a trained table (a
    // pure function of the bucket id, so DuckDB replays inference
    // bit-for-bit); production swaps in a broadcast weight array, same
    // plan. Float discipline: weights are INTEGER milli-units summed as
    // BIGINT — no float accumulates, so partial-agg order can't move the
    // result; `keep` is the sign of the exact integer sum. One explode +
    // one map-side-combinable aggregation — linear at any corpus size.
    QueryDef(
      "t16_quality_classifier",
      (s, d) => {
        val toks = Tables.corpus(s, d)
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        val bucket = TextOps.tokenHash64(col("tok")).bitwiseAND(lit(4095L))
        val weightMilli =
          pmod(TextOps.tokenHash64(concat(lit("w|"), bucket.cast("string")))
            .bitwiseAND(lit(0x7FFFFFFFL)), lit(2001L)) - lit(1000L)
        toks.select(col("doc_id"), weightMilli.as("__w"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("__w")).as("score_milli"))
          .select(col("doc_id"), col("n_tokens"),
            col("score_milli").cast("long").as("score_milli"),
            (col("score_milli") >= 0).as("keep"))
          .orderBy("doc_id")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM documents),
        feat AS (
          SELECT doc_id,
                 (('0x' || substr(md5(tok),1,16))::UBIGINT & 4095) AS b
          FROM toks),
        w AS (
          SELECT doc_id,
                 CAST((('0x' || substr(md5('w|' || b::VARCHAR),1,16))::UBIGINT
                   & 2147483647) % 2001 AS BIGINT) - 1000 AS wm
          FROM feat)
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(wm) AS BIGINT) AS score_milli,
               SUM(wm) >= 0 AS keep
        FROM w GROUP BY doc_id ORDER BY doc_id""")),

    // ---- t17: bigram-LM perplexity filter (CCNet-style) -------------------
    // the KenLM-shaped data-curation filter one level up from t12's
    // unigram: corpus bigram counts with add-1 smoothing over the
    // bigram-left totals, per-doc mean negative log-probability. Same
    // float discipline as t12 — ln runs on identical exact-integer
    // operands in both engines and each bigram's nats fixed-point to
    // 1e-4 BEFORE the sum, so the aggregate is integer arithmetic.
    // Scale shape: the count tables are vocab-sized — deliberately NOT
    // broadcast-hinted, because a web-scale bigram vocabulary outgrows
    // any broadcast budget; AQE broadcasts them at gate scale (runtime
    // sizes, pinned in PlanAuditSuite) and falls back to a shuffle join
    // on the bigram key when they grow. The corpus side is one explode,
    // never re-read. Docs with < 2 tokens have no bigrams and drop out
    // (filterable upstream, documented).
    QueryDef(
      "t17_bigram_lm",
      (s, d) => {
        val docs = Tables.corpus(s, d)
        val bi = docs
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
          .select(col("doc_id"), explode(when(size(col("t")) >= 2,
            transform(sequence(lit(1), size(col("t")) - 1),
              i => struct(element_at(col("t"), i).as("l"),
                element_at(col("t"), i + 1).as("r"))))
            .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("p"))
          .select(col("doc_id"), col("p.l").as("l"), col("p.r").as("r"))
        val big = bi.groupBy(col("l"), col("r")).agg(count(lit(1)).as("cb"))
        val left = big.groupBy(col("l")).agg(sum(col("cb")).as("cl"))
        val vocab = docs
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
          .agg(count_distinct(col("tok")).as("v"))
        bi.join(big, Seq("l", "r"))
          .join(left, Seq("l"))
          .crossJoin(broadcast(vocab))
          .select(col("doc_id"),
            floor(-log((col("cb").cast("double") + 1.0) /
                (col("cl").cast("double") + col("v").cast("double")))
              * 10000.0 + 0.5).cast("long").as("__nats4"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            floor(sum(col("__nats4")).cast("double") / count(lit(1)) + 0.5)
              .cast("long").as("mean_nats4"))
          .orderBy("doc_id")
      },
      Some("""
        WITH t AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
          FROM documents),
        bi AS (
          SELECT doc_id, tk[i] AS l, tk[i+1] AS r
          FROM (SELECT doc_id, unnest(generate_series(1, len(tk)-1)) AS i, tk
                FROM t)),
        big AS (SELECT l, r, COUNT(*) AS cb FROM bi GROUP BY 1, 2),
        lf AS (SELECT l, CAST(SUM(cb) AS BIGINT) AS cl FROM big GROUP BY 1),
        vocab AS (
          SELECT COUNT(DISTINCT tok) AS v
          FROM (SELECT unnest(tk) AS tok FROM t)),
        scored AS (
          SELECT doc_id,
                 CAST(floor(-ln((CAST(cb AS DOUBLE) + 1.0) /
                     (CAST(cl AS DOUBLE) + CAST(v AS DOUBLE)))
                   * 10000.0 + 0.5) AS BIGINT) AS nats4
          FROM bi JOIN big USING (l, r) JOIN lf USING (l), vocab)
        SELECT doc_id, COUNT(*) AS n_bigrams,
               CAST(floor(CAST(SUM(nats4) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
                 AS mean_nats4
        FROM scored GROUP BY doc_id ORDER BY doc_id""")),

    // ---- t20: TRAINED Naive Bayes lang classifier (t16's missing half) ---
    // multinomial NB: training is pure counting (exact integers — per-
    // (lang, token) counts, per-lang totals, vocab size), inference sums
    // Laplace-smoothed log-likelihoods in fixed-point nats (the t12
    // stance) so the per-doc aggregate is exact long addition and the
    // argmax (score desc, lang asc) is deterministic. Even/odd doc split
    // = train/test; DuckDB replays training AND inference bit-for-bit.
    // Scale shape: one counting aggregation over the train split; test
    // tokens join the count table on (lang, tok) — linear, map-side
    // combinable, the 5-way lang fan-out rides a broadcast.
    QueryDef(
      "t20_nb_classify",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.corpus(s, d)
        val train = docs.where(pmod(col("doc_id"), lit(2)) === 0)
        val test = docs.where(pmod(col("doc_id"), lit(2)) === 1)
        val trainToks = train.select(col("lang"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        val counts = trainToks.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        val totals = counts.groupBy("lang").agg(sum(col("c")).as("total"))
        val vsize = counts.agg(countDistinct(col("tok")).as("v"))
        val langs = counts.select(col("lang")).distinct()
        val priors = train.groupBy("lang").agg(count(lit(1)).as("nd"))
          .crossJoin(broadcast(train.agg(count(lit(1)).as("ntot"))))
          .select(col("lang"),
            floor(log(col("nd").cast("double") / col("ntot").cast("double"))
              * 10000.0 + 0.5).cast("long").as("prior4"))
        val testToks = test.select(col("doc_id"), col("lang").as("true_lang"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        val nats4 = floor(log(
            (coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
            (col("total") + col("v")).cast("double"))
          * 10000.0 + 0.5).cast("long")
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score4").desc, col("lang"))
        testToks.crossJoin(broadcast(langs))
          .join(counts, Seq("lang", "tok"), "left")
          .join(broadcast(totals), Seq("lang"))
          .crossJoin(broadcast(vsize))
          .select(col("doc_id"), col("true_lang"), col("lang"), nats4.as("__n4"))
          .groupBy(col("doc_id"), col("true_lang"), col("lang"))
          .agg(sum(col("__n4")).as("__s4"))
          .join(broadcast(priors), Seq("lang"))
          .withColumn("score4", col("__s4") + col("prior4"))
          .withColumn("__rk", row_number().over(w))
          .where(col("__rk") === 1)
          .select(col("doc_id"), col("lang").as("pred_lang"), col("true_lang"),
            (col("lang") === col("true_lang")).as("correct"))
          .orderBy("doc_id")
      },
      Some("""
        WITH train AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
        test AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
        ttoks AS (
          SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM train),
        counts AS (SELECT lang, tok, COUNT(*) AS c FROM ttoks GROUP BY 1, 2),
        totals AS (
          SELECT lang, CAST(SUM(c) AS BIGINT) AS total FROM counts GROUP BY 1),
        vsize AS (SELECT COUNT(DISTINCT tok) AS v FROM counts),
        langs AS (SELECT DISTINCT lang FROM counts),
        priors AS (
          SELECT nd.lang,
                 CAST(floor(ln(CAST(nd.nd AS DOUBLE) / CAST(nt.ntot AS DOUBLE))
                   * 10000.0 + 0.5) AS BIGINT) AS prior4
          FROM (SELECT lang, COUNT(*) AS nd FROM train GROUP BY 1) nd,
               (SELECT COUNT(*) AS ntot FROM train) nt),
        stoks AS (
          SELECT doc_id, lang AS true_lang,
                 unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM test),
        scored AS (
          SELECT st.doc_id, st.true_lang, l.lang,
                 CAST(floor(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) /
                               CAST(t.total + v.v AS DOUBLE))
                   * 10000.0 + 0.5) AS BIGINT) AS n4
          FROM stoks st
          CROSS JOIN langs l
          LEFT JOIN counts c ON c.lang = l.lang AND c.tok = st.tok
          JOIN totals t ON t.lang = l.lang, vsize v),
        agg AS (
          SELECT doc_id, true_lang, lang, CAST(SUM(n4) AS BIGINT) AS s4
          FROM scored GROUP BY 1, 2, 3),
        final AS (
          SELECT a.doc_id, a.true_lang, a.lang,
                 ROW_NUMBER() OVER (PARTITION BY a.doc_id
                   ORDER BY a.s4 + p.prior4 DESC, a.lang) AS rk
          FROM agg a JOIN priors p USING (lang))
        SELECT doc_id, lang AS pred_lang, true_lang,
               (lang = true_lang) AS correct
        FROM final WHERE rk = 1 ORDER BY doc_id""")),

    // ---- t21: vocabulary-growth curve (Heaps' law) ------------------------
    // distinct-token count after the first N corpus tokens, for a ladder
    // of N — the curve that extrapolates tokenizer-vocab coverage to the
    // full corpus before committing to a training run. The global token
    // order comes from ScaleOps.runningTotal's distributed prefix sum
    // over per-doc lengths (never a single-partition window); each
    // token's FIRST global position is one min-aggregation, and the
    // ladder is a 10-row broadcast against it. All-integer math.
    QueryDef(
      "t21_vocab_growth",
      (s, d) => {
        import s.implicits._
        import graft.functions.ScaleOps
        val docs = Tables.corpus(s, d)
        val toks = docs.select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("__p", "tok")))
        val lens = docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("__n"))
        val offs = ScaleOps.runningTotal(lens, "__n",
            Seq(col("doc_id").asc), "__cum")
          .select(col("doc_id"), (col("__cum") - col("__n")).as("__off"))
        val firstPos = toks.join(offs, "doc_id")
          .select(col("tok"), (col("__off") + col("__p") + 1).as("__gp"))
          .groupBy("tok").agg(min("__gp").as("first_pos"))
        val cps = (1 to 10).map(_ * 5000L).toDF("n_seen")
        firstPos.crossJoin(broadcast(cps))
          .groupBy("n_seen")
          .agg(sum(when(col("first_pos") <= col("n_seen"), 1L).otherwise(0L))
            .as("vocab_size"))
          .orderBy("n_seen")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
          FROM documents
        ), lens AS (
          SELECT doc_id, CAST(len(w) AS BIGINT) AS n FROM toks
        ), offs AS (
          SELECT doc_id,
                 CAST(SUM(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
                   AS BIGINT) AS off
          FROM lens
        ), tp AS (
          SELECT t.doc_id, o.off + g.i AS gp, t.w[g.i] AS tok
          FROM toks t JOIN offs o USING (doc_id),
               UNNEST(generate_series(1, len(t.w))) AS g(i)
        ), fp AS (
          SELECT tok, CAST(MIN(gp) AS BIGINT) AS first_pos FROM tp GROUP BY tok
        ), cps AS (
          SELECT CAST(k * 5000 AS BIGINT) AS n_seen
          FROM generate_series(1, 10) AS s(k)
        )
        SELECT n_seen,
               CAST(SUM(CASE WHEN first_pos <= n_seen THEN 1 ELSE 0 END)
                 AS BIGINT) AS vocab_size
        FROM fp, cps GROUP BY 1 ORDER BY 1""")),

    // ---- t18: unigram-LM tokenizer training (SentencePiece family) --------
    // EM + expected-count pruning over the distinct-word table; the
    // trained vocabulary is bit-identical under any partitioning (per-
    // word expected counts fixed-pointed to micro-units BEFORE the sum).
    // Float log-prob EM is not DuckDB-expressible — rows-only; the
    // UnigramLMSuite gates likelihood monotonicity, Viterbi optimality,
    // partitioning invariance, and segmentability.
    QueryDef(
      "t18_unigram_train",
      (s, d) => {
        import graft.functions.UnigramLM
        val model = UnigramLM.train(
          Tables.corpus(s, d), "text", vocabSize = 256)
        import s.implicits._
        model.pieces
          .map { case (p, lp) => (p, math.floor(lp * 1e6).toLong) }
          .toDF("piece", "micro_logprob")
          .orderBy("piece")
      },
      None),

    // ---- t19: unigram-LM segmentation rollout (fertility view) ------------
    // Viterbi under a PINNED count-derived log-prob table (the seed
    // vocabulary: all chars + top-256 substrings ≤4 by weighted count)
    // so the rollout is DuckDB-replayable: micro-nat weights via the
    // t12 float discipline, then the DP is exact long arithmetic. The
    // oracle replays it as a round-based recursive CTE — round k holds
    // the best score reachable in exactly k pieces — and picks
    // (max score, min pieces), the same order-independent tie-break
    // viterbiMinPieces uses. The float-EM-TRAINED model stays covered
    // by t18 + UnigramLMSuite (EM is not SQL-replayable).
    QueryDef(
      "t19_unigram_segment",
      (s, d) => {
        import graft.functions.UnigramLM
        UnigramLM.pinnedSegmentStats(
          Tables.corpus(s, d), "doc_id", "text",
          maxPieceLen = 4, topMulti = 256)
          .orderBy("doc_id")
      },
      Some("""
        WITH RECURSIVE
        toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
          FROM documents),
        tok2 AS (SELECT doc_id, w FROM toks WHERE w <> ''),
        wf AS (SELECT w, COUNT(*) AS f FROM tok2 GROUP BY w),
        subs AS (
          SELECT substr(w, i, l) AS piece, CAST(SUM(f) AS BIGINT) AS c
          FROM wf,
               UNNEST(generate_series(1, len(w))) AS gi(i),
               UNNEST(generate_series(1, 4)) AS gl(l)
          WHERE i + l - 1 <= len(w)
          GROUP BY 1),
        vocab AS (
          SELECT piece, c FROM subs WHERE len(piece) = 1
          UNION ALL
          SELECT piece, c FROM (SELECT piece, c FROM subs WHERE len(piece) > 1
                                ORDER BY c DESC, piece LIMIT 256)),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vocab),
        wgt AS (SELECT piece,
                       CAST(floor(1e6 * ln(CAST(c AS DOUBLE) /
                         CAST(n AS DOUBLE))) AS BIGINT) AS w8
                FROM vocab, tot),
        dp AS (
          SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS score, 0 AS k FROM wf
          UNION ALL
          SELECT dp.w, dp.pos + len(v.piece) AS pos,
                 MAX(dp.score + v.w8) AS score, dp.k + 1 AS k
          FROM dp JOIN wgt v
            ON substr(dp.w, dp.pos + 1, len(v.piece)) = v.piece
          WHERE dp.pos < len(dp.w)
          GROUP BY dp.w, dp.pos + len(v.piece), dp.k + 1),
        fin AS (SELECT w, score, k FROM dp WHERE pos = len(w)),
        best AS (SELECT w, k AS npieces FROM (
          SELECT w, k, row_number() OVER
            (PARTITION BY w ORDER BY score DESC, k ASC) AS rn
          FROM fin) WHERE rn = 1),
        perdoc AS (
          SELECT t.doc_id, COUNT(*) AS n_tokens,
                 CAST(SUM(b.npieces) AS BIGINT) AS n_pieces
          FROM tok2 t JOIN best b USING (w) GROUP BY t.doc_id)
        SELECT d.doc_id,
               COALESCE(p.n_tokens, 0) AS n_tokens,
               COALESCE(p.n_pieces, 0) AS n_pieces
        FROM documents d LEFT JOIN perdoc p USING (doc_id)
        ORDER BY doc_id""")),

    // ---- t22: Zipf's-law fit of the token frequency distribution ----------
    // least-squares slope of ln(freq) vs ln(rank) over the vocabulary —
    // the corpus-health diagnostic (natural text ~ -1; a slope far off
    // flags boilerplate or synthetic spam). Ranks come from
    // ScaleOps.runningTotal's distributed prefix sum over the vocab in
    // (freq desc, tok) order — never a single-partition window. Float
    // discipline: ln runs on identical integer operands in both
    // engines and is fixed-pointed to MILLI-nats per vocab entry
    // BEFORE the sums, so all four regression sums are exact long
    // arithmetic (milli scale keeps sum(x3*y3) < 2^63 up to ~1e8
    // vocab entries; beyond that the sums would ride decimal(38)).
    // The final slope/intercept divisions run on identical long
    // operands -> identical doubles -> identical fixed-point floors.
    QueryDef(
      "t22_zipf_slope",
      (s, d) => {
        import graft.functions.ScaleOps
        val vocab = Tables.corpus(s, d)
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
          .where(col("tok") =!= "")
          .groupBy("tok").agg(count(lit(1)).as("c"))
          .withColumn("__one", lit(1L))
        val ranked = ScaleOps.runningTotal(vocab, "__one",
            Seq(col("c").desc, col("tok").asc), "rank")
        val pts = ranked.select(
          floor(log(col("rank").cast("double")) * 1000.0).cast("long").as("x3"),
          floor(log(col("c").cast("double")) * 1000.0).cast("long").as("y3"))
        val sums = pts.agg(
          count(lit(1)).as("n"),
          sum(col("x3")).as("sx"), sum(col("y3")).as("sy"),
          sum(col("x3") * col("y3")).as("sxy"),
          sum(col("x3") * col("x3")).as("sxx"))
        // slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2), computed in doubles
        // from the exact long sums (identical operands both engines)
        sums.select(
          col("n").cast("long").as("n_vocab"),
          floor(((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                 (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * 1000000.0).cast("long").as("slope_micro"),
          floor(((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                  (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
                  * col("sx")).cast("double") / col("n").cast("double"))
            * 1000.0).cast("long").as("intercept_milli3"))
      },
      Some("""
        WITH toks AS (
          SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM documents),
        vocab AS (SELECT tok, COUNT(*) AS c FROM toks WHERE tok <> ''
                  GROUP BY tok),
        ranked AS (
          SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rank
          FROM vocab),
        pts AS (
          SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000.0) AS BIGINT) AS x3,
                 CAST(floor(ln(CAST(c AS DOUBLE)) * 1000.0) AS BIGINT) AS y3
          FROM ranked),
        sums AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x3) AS BIGINT) AS sx, CAST(SUM(y3) AS BIGINT) AS sy,
                 CAST(SUM(x3 * y3) AS BIGINT) AS sxy,
                 CAST(SUM(x3 * x3) AS BIGINT) AS sxx
          FROM pts)
        SELECT n AS n_vocab,
               CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE) /
                          CAST(n * sxx - sx * sx AS DOUBLE)
                 * 1000000.0) AS BIGINT) AS slope_micro,
               CAST(floor((CAST(sy AS DOUBLE) -
                           CAST(n * sxy - sx * sy AS DOUBLE) /
                           CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) * 1000.0) AS BIGINT) AS intercept_milli3
        FROM sums""")),

    // ---- t23: n-gram novelty scoring (incremental-corpus curation) --------
    // per document: the fraction of its distinct 3-grams not present in
    // any EARLIER document (doc_id order = ingestion order) — the
    // "is this shard adding anything new" signal that drives corpus
    // growth decisions. Shape: distinct (doc, gram) pairs -> min doc_id
    // per gram (one shuffle on the gram key) -> count-if-first per doc
    // (one shuffle back). Gate-scale grams are the literal token
    // triples; the 100 TB path hashes them to 8-byte keys
    // (ShingleHashes) — same plan, fixed-width shuffle keys.
    QueryDef(
      "t23_ngram_novelty",
      (s, d) => {
        val grams = Tables.corpus(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
          .where(size(col("t")) >= 3)
          .select(col("doc_id"), explode(
            transform(sequence(lit(1), size(col("t")) - 2),
              i => concat_ws("\u0001",
                element_at(col("t"), i), element_at(col("t"), i + 1),
                element_at(col("t"), i + 2)))).as("gram"))
          .distinct()
          .localCheckpoint() // one corpus scan + explode feeds BOTH aggregations below
        // Skew-safe first-doc: a gram-partitioned window would co-locate
        // every occurrence of a stop-gram on ONE task with no partial
        // aggregation (O(|corpus|) rows for "the of and"-class triples at
        // 100 TB). groupBy(gram).min gets map-side partial aggregation —
        // the hot key collapses to one row per map task before the
        // shuffle — and the join-back is avoided entirely by counting
        // novel grams per FIRST doc (uniform doc_id key) instead.
        val firstDoc = grams.groupBy("gram")
          .agg(min(col("doc_id")).as("first_doc"))
        val nNovel = firstDoc.groupBy(col("first_doc").as("doc_id"))
          .agg(count(lit(1)).as("n_novel"))
        grams.groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"))
          .join(nNovel, Seq("doc_id"), "left")
          .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
          .select(col("doc_id"), col("n_grams"), col("n_novel"),
            floor(col("n_novel").cast("double") * 1000.0 /
              col("n_grams").cast("double")).cast("long").as("novelty_permille"))
          .orderBy("doc_id")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents),
        grams AS (
          SELECT DISTINCT doc_id,
                 t[i] || chr(1) || t[i+1] || chr(1) || t[i+2] AS gram
          FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
          WHERE len(t) >= 3),
        fd AS (SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram)
        SELECT g.doc_id,
               COUNT(*) AS n_grams,
               CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_novel,
               CAST(floor(CAST(SUM(CASE WHEN f.first_doc = g.doc_id
                                        THEN 1 ELSE 0 END) AS DOUBLE)
                 * 1000.0 / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
                 AS novelty_permille
        FROM grams g JOIN fd f USING (gram)
        GROUP BY g.doc_id ORDER BY g.doc_id""")),

    // ---- t24: cross-source vocabulary overlap (mix-design matrix) ---------
    // pairwise source-level vocabulary Jaccard — the overlap matrix that
    // drives corpus-mix design (how redundant is src_a given src_b?).
    // Scale shape: the pair space is NEVER materialized per token via a
    // self-join on the token key (Zipf-skewed); instead each token's
    // source SET is collected (bounded by the source dimension, partial-
    // aggregable collect_set) and the a<b pairs expand INLINE from the
    // sorted array — fan-out <= C(|sources|, 2) per token, a constant of
    // the dimension, not the corpus. Per-source vocab sizes broadcast
    // back onto the 190-row pair table.
    QueryDef(
      "t24_source_overlap",
      (s, d) => {
        val st = Tables.corpus(s, d)
          .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
          .where(col("tok") =!= "")
          .distinct()
        val vocab = st.groupBy("source").agg(count(lit(1)).as("v"))
        val inter = st
          .groupBy("tok").agg(sort_array(collect_set(col("source"))).as("srcs"))
          .where(size(col("srcs")) >= 2)
          .select(explode(expr(
            """flatten(transform(srcs, (a, i) ->
               transform(slice(srcs, i + 2, size(srcs)),
                 b -> struct(a AS src_a, b AS src_b))))""")).as("p"))
          .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(broadcast(vocab.select(col("source").as("src_a"), col("v").as("__va"))), "src_a")
          .join(broadcast(vocab.select(col("source").as("src_b"), col("v").as("__vb"))), "src_b")
          .select(col("src_a"), col("src_b"), col("inter"),
            expr("(inter * 1000000) div (__va + __vb - inter)").as("jaccard6"))
          .orderBy("src_a", "src_b")
      },
      Some("""
        WITH st AS (
          SELECT DISTINCT source, tok
          FROM (SELECT source,
                       unnest(string_split_regex(trim(text), '\s+')) AS tok
                FROM documents)
          WHERE tok <> ''),
        v AS (SELECT source, count(*) AS v FROM st GROUP BY source),
        pr AS (
          SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
          FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
          GROUP BY 1, 2)
        SELECT src_a, src_b, inter,
               CAST((inter * 1000000) // (va.v + vb.v - inter) AS BIGINT)
                 AS jaccard6
        FROM pr
        JOIN v va ON va.source = pr.src_a
        JOIN v vb ON vb.source = pr.src_b
        ORDER BY src_a, src_b""")),

    // ---- t25: deterministic token dropout (data augmentation) -------------
    // the augmentation primitive a training pipeline replays: drop each
    // token by an md5 coin keyed on (doc_id, position, token) at 10% —
    // the same tokens fall out of any engine, any run, any partitioning
    // (the p03/p07 determinism stance applied to augmentation). Output
    // pins the kept COUNT and the md5 of the kept sequence, so the
    // oracle verifies the exact augmented text without shipping it.
    // Pure scan-stage projection — no shuffle before the final sort.
    QueryDef(
      "t25_token_dropout",
      (s, d) =>
        Tables.corpus(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("__t"))
          .select(col("doc_id"), size(col("__t")).cast("long").as("n_tokens"),
            filter(
              transform(col("__t"), (t, i) =>
                struct(t.as("tok"), i.cast("string").as("i"))),
              p => shiftright(TextOps.tokenHash64(
                concat(col("doc_id").cast("string"), lit("|"),
                  p.getField("i"), lit("|"), p.getField("tok"))), 8)
                .bitwiseAND(0x7FFFFFFFL) % 10 =!= 0).as("__kept"))
          .select(col("doc_id"), col("n_tokens"),
            size(col("__kept")).cast("long").as("n_kept"),
            when(size(col("__kept")) === 0, lit(null))
              .otherwise(md5(concat_ws(" ",
                transform(col("__kept"), p => p.getField("tok")))))
              .as("aug_fp"))
          .orderBy("doc_id"),
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents),
        ex AS (
          SELECT doc_id, len(t) AS n_tokens, i, t[i] AS tok
          FROM toks, UNNEST(generate_series(1, len(t))) AS g(i)),
        coined AS (
          SELECT doc_id, n_tokens, i, tok,
                 ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' ||
                     CAST(i - 1 AS VARCHAR) || '|' || tok), 1, 16))::UBIGINT
                   >> 8) & 2147483647) % 10 AS coin
          FROM ex)
        SELECT doc_id,
               CAST(any_value(n_tokens) AS BIGINT) AS n_tokens,
               CAST(count(*) FILTER (WHERE coin <> 0) AS BIGINT) AS n_kept,
               md5(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE coin <> 0))
                 AS aug_fp
        FROM coined
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ---- t26: token-frequency drift between corpus halves -----------------
    // the distribution-shift report run between ingestion halves (doc_id
    // below/at-or-above the midpoint): per-token rate in parts-per-
    // million on each side, ranked by absolute drift. Everything is a
    // rollup of ONE (token, half) count table; totals broadcast as
    // scalars; rates integral (ppm via div) so the report is bit-stable.
    // Top-20 rides the root ORDER BY + LIMIT (TakeOrderedAndProject —
    // no global sort materializes).
    QueryDef(
      "t26_freq_drift",
      (s, d) => {
        val toks = Tables.corpus(s, d)
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
          .where(col("tok") =!= "")
        // the midpoint comes from the UN-exploded scan: a doc yields a
        // non-empty token iff its trimmed text is non-empty, so this is
        // the same max(doc_id) without re-running split+explode
        val mid = Tables.corpus(s, d)
          .where(trim(col("text")) =!= "")
          .agg(((max(col("doc_id")) + 1) / 2).cast("long")
            .as("__mid")) // scalar broadcast
        val counts = toks.crossJoin(broadcast(mid))
          .groupBy(col("tok"))
          .agg(sum(when(col("doc_id") < col("__mid"), 1L).otherwise(0L)).as("fa"),
            sum(when(col("doc_id") >= col("__mid"), 1L).otherwise(0L)).as("fb"))
        val tot = counts.agg(sum(col("fa")).as("na"), sum(col("fb")).as("nb"))
        counts.crossJoin(broadcast(tot))
          .select(col("tok"), col("fa"), col("fb"),
            expr("(fa * 1000000) div na").as("ppm_a"),
            expr("(fb * 1000000) div nb").as("ppm_b"))
          .withColumn("drift_ppm", abs(col("ppm_a") - col("ppm_b")))
          .orderBy(col("drift_ppm").desc, col("tok"))
          .limit(20)
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM documents),
        t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        m AS (SELECT (max(doc_id) + 1) // 2 AS mid FROM t),
        counts AS (
          SELECT tok,
                 CAST(sum(CASE WHEN doc_id < (SELECT mid FROM m)
                          THEN 1 ELSE 0 END) AS BIGINT) AS fa,
                 CAST(sum(CASE WHEN doc_id >= (SELECT mid FROM m)
                          THEN 1 ELSE 0 END) AS BIGINT) AS fb
          FROM t GROUP BY tok),
        tot AS (SELECT sum(fa) AS na, sum(fb) AS nb FROM counts)
        SELECT tok, fa, fb,
               CAST((fa * 1000000) // (SELECT na FROM tot) AS BIGINT) AS ppm_a,
               CAST((fb * 1000000) // (SELECT nb FROM tot) AS BIGINT) AS ppm_b,
               CAST(abs((fa * 1000000) // (SELECT na FROM tot)
                 - (fb * 1000000) // (SELECT nb FROM tot)) AS BIGINT)
                 AS drift_ppm
        FROM counts
        ORDER BY drift_ppm DESC, tok
        LIMIT 20"""))
  )
}
