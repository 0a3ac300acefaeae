package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Embedding-vector operators (`Array[Float]`/`Array[Double]` columns)
  * built purely from higher-order Catalyst functions
  * (`zip_with`/`aggregate`/`transform`) — no UDFs, so the math stays in
  * codegen and the only shuffles are the explicit candidate joins.
  *
  * Scale design: brute-force top-k is the exactness baseline (quadratic
  * candidate join — fine for a broadcast-able query side); the
  * hyperplane-LSH path buckets vectors first so the join fan-out is
  * bucket-local, which is the 100 TB shape: shuffle on bucket key,
  * verify exact cosine inside buckets only.
  */
object VectorOps {

  /** Promote a float vector to double — all similarity math is done in
    * double so results are reproducible against a double-precision
    * oracle regardless of accumulation order sensitivity. */
  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Dot product via zip_with + left-fold aggregate (deterministic
    * element order). Interpreted — for hot paths use [[nativeDot]]. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  /** Codegen'd dot product ([[DotProduct]]) — identical result (same
    * left-to-right accumulation order), ~an order of magnitude faster on
    * candidate-pair scoring since the loop runs inside whole-stage
    * codegen instead of the interpreted higher-order evaluator. */
  def nativeDot(spark: SparkSession, a: Column, b: Column): Column =
    DotProduct.column(spark, a, b)

  def l2Norm(v: Column): Column =
    sqrt(aggregate(transform(v, x => x * x), lit(0.0), _ + _))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Unit-normalized copy, so downstream cosine = plain dot product and
    * norms aren't recomputed per candidate pair.
    *
    * PITFALL: the norm is referenced inside the transform lambda and
    * higher-order functions re-evaluate captured expressions PER ELEMENT
    * — pass a materialized norm column ([[normalizedVectors]]), not a raw
    * `l2Norm(...)` expression. */
  def normalized(v: Column, norm: Column): Column =
    transform(v, x => x / norm)

  /** (__id, __v) with the vector cast to double and unit-normalized, each
    * stage its own projection so cast → norm → scale run once per row. */
  def normalizedVectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("__id"), toDouble(col(vecCol)).as("__raw"))
      .select(col("__id"), col("__raw"),
        sqrt(nativeDot(df.sparkSession, col("__raw"), col("__raw"))).as("__norm"))
      .select(col("__id"), normalized(col("__raw"), col("__norm")).as("__v"))

  /** Exact brute-force cosine top-k: normalize both sides once, cross
    * join queries × corpus (broadcast the query side — it is the small
    * side by construction), rank by dot product. The correctness
    * baseline for any ANN variant. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = normalizedVectors(queries, idCol, vecCol)
      .select(col("__id").as("query_id"), col("__v").as("__qv"))
    val c = normalizedVectors(corpus, idCol, vecCol)
      .select(col("__id").as("neighbor_id"), col("__v").as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        nativeDot(queries.sparkSession, col("__qv"), col("__cv")).as("cos"))
    rankTopK(scored, k)
  }

  /** ColBERT-style late-interaction ("maxsim") top-k: each vector
    * decomposes into `nSub` contiguous sub-vectors standing in for
    * per-token embeddings, and `score(q, d) = sum over q's sub-vectors
    * of the BEST dot product against any of d's sub-vectors` — the
    * late-interaction relevance that keeps per-token granularity
    * without a token-level index. Computed over SQ8 codes, so every
    * max/sum is exact small-integer arithmetic in doubles and an
    * oracle replays the SCORES, not just the ranking. */
  def maxSimTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nSub: Int): DataFrame = {
    val spark = queries.sparkSession
    // each vector decomposes into nSub contiguous sub-vectors ("token
    // embeddings"); the decomposition is EXPLODED TO ROWS rather than
    // sliced inside a lambda so the pairwise scoring runs through the
    // codegen DotProduct kernel on plain attributes (lambda-sliced
    // arrays would fall back to the interpreted HOF evaluator)
    def subs(df: DataFrame, idAs: String, iAs: Option[String], sAs: String) =
      sq8Codes(df, idCol, vecCol, idAs, "__c")
        .withColumn("__w", (size(col("__c")) / nSub).cast("int"))
        .select(col(idAs), explode(transform(
          sequence(lit(0), lit(nSub - 1)),
          i => struct(i.as("i"),
            slice(col("__c"), i * col("__w") + 1, col("__w")).as("s"))))
          .as("__p"))
        .select(col(idAs) +: (iAs.map(n => col("__p.i").as(n)).toSeq :+
          col("__p.s").as(sAs)): _*)
    // the corpus side needs no sub-vector index (only the query's index
    // groups the max) — dropping it narrows the nSub^2-row-per-pair
    // join intermediate, the widest relation of the query
    val c = subs(corpus, "neighbor_id", None, "__ds")
    val q = subs(queries, "query_id", Some("__qi"), "__qs")
    // maxsim(q, d) = sum over q's sub-vectors of the best dot against
    // ANY of d's sub-vectors — the ColBERT late-interaction score, here
    // over SQ8 codes so every partial max/sum is exact integer
    // arithmetic in doubles (the s10 replay property). Two partial-
    // aggregable reductions; the bounded query side broadcasts.
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("__qi"),
        nativeDot(spark, col("__qs"), col("__ds")).as("__d"))
      .groupBy("query_id", "neighbor_id", "__qi")
      .agg(max(col("__d")).as("__m"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("__m")).as("cos"))
    rankTopK(scored, k)
  }

  /** Int8 scalar-quantized cosine top-k (the SQ8 compression family
    * next to PQ): each vector is coded as `floor(x / maxabs * 127 +
    * 0.5)` — 1 byte of information per dimension, an 8x memory cut at
    * serving time — and ranked by the quantized cosine
    * `dot(qc, cc) / (sqrt(dot(qc,qc)) * sqrt(dot(cc,cc)))`. The
    * per-vector scales CANCEL in that ratio, so the score is a pure
    * function of small-integer dot products: every partial sum is exact
    * in a double regardless of accumulation order, making the score —
    * not just the rank — bit-identical on any engine. The one ANN
    * compression whose oracle can replay VALUES, not only decisions.
    *
    * Scale shape: same broadcast-queries cross join as
    * [[bruteForceTopK]]; at corpus scale the coded table is what an IVF
    * shortlist would fetch (8x less IO than raw floats). Codes are
    * integer-valued doubles so the codegen [[DotProduct]] kernel serves
    * unchanged. */
  def sq8TopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val spark = queries.sparkSession
    def coded(df: DataFrame, idAs: String, cAs: String, sAs: String) =
      sq8Codes(df, idCol, vecCol, idAs, cAs)
        .select(col(idAs), col(cAs),
          sqrt(nativeDot(spark, col(cAs), col(cAs))).as(sAs))
    val q = coded(queries, "query_id", "__qc", "__qn")
    val c = coded(corpus, "neighbor_id", "__cc", "__cn")
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (nativeDot(spark, col("__qc"), col("__cc")) /
          (col("__qn") * col("__cn"))).as("cos"))
    rankTopK(scored, k)
  }

  /** (idAs, codeAs) with the vector SQ8-coded: `floor(x / maxabs * 127
    * + 0.5)` per element, kept as integer-valued doubles so the codegen
    * [[DotProduct]] kernel serves unchanged. Every downstream dot of
    * two code vectors is a sum of small-integer products — EXACT in a
    * double under any accumulation order, which is the property the
    * whole pinned-model gate family ([[ivfTopKPinned]] etc.) builds on:
    * an oracle replays the values bit-for-bit, not just the decisions. */
  def sq8Codes(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, codeAs: String): DataFrame =
    df.select(col(idCol).as(idAs), toDouble(col(vecCol)).as("__raw"))
      .select(col(idAs), col("__raw"),
        array_max(transform(col("__raw"), x => abs(x))).as("__m"))
      .withColumn("__scale",
        when(col("__m") === 0.0, lit(1.0)).otherwise(col("__m")))
      .select(col(idAs),
        transform(col("__raw"),
          x => floor(x / col("__scale") * 127 + lit(0.5)).cast("double"))
          .as(codeAs))

  /** The pinned coarse codebook shared by the `*Pinned` gate variants:
    * the SQ8 codes of the `nlist` LOWEST-id vectors (ids must be dense
    * from 0 — the embeddings table's layout), collected to the driver
    * in id order. Bounded: nlist x dim doubles — the same
    * dimension-bounded collect class as the kmeans training samples,
    * except fully replayable by an oracle because no training happens:
    * centroid i IS vector i's code. Swapping in [[trainCentroids]]'
    * output instead recovers the trained variant — the plans are
    * identical, only the literals differ (the t19 pinned-model pattern
    * applied to vectors). */
  private def pinnedCodebook(codes: DataFrame, idAs: String, codeAs: String,
      nlist: Int): Seq[Seq[Double]] =
    codes.where(col(idAs) < nlist).orderBy(idAs)
      .select(col(codeAs)).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq

  /** IVF top-k with a PINNED coarse quantizer over SQ8 codes — same
    * plan as [[ivfTopK]] (narrow assignment pass, nprobe probe lists,
    * equi-join on the bucket id, per-query re-rank) with every float
    * ambiguity removed so a DuckDB oracle replays it exactly:
    * centroids are the codes of the `nlist` lowest-id vectors (no
    * kmeans), assignment/probing argmax over INTEGER dot products
    * (ties -> lowest centroid id), and the re-rank uses the quantized
    * cosine — ratios of integer dots, exact in doubles (the s10
    * property). The trained variant (s03) keeps recall on clustered
    * corpora; this one gates the ENTIRE IVF machinery — assignment,
    * probe selection, bucket join, shortlist ranking — under the hash
    * oracle. */
  def ivfTopKPinned(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int, nprobe: Int): DataFrame = {
    val spark = corpus.sparkSession
    val scored = pinnedIvfCandidates(queries, corpus, idCol, vecCol,
        nlist, nprobe)
      .select(col("query_id"), col("neighbor_id"),
        (nativeDot(spark, col("__qc"), col("__cc")) /
          (col("__qn") * col("__cn"))).as("cos"))
    rankTopK(scored, k)
  }

  /** The pinned-IVF candidate stage shared by [[ivfTopKPinned]] and the
    * two-stage maxsim retriever: SQ8 codes, pinned codebook, argmax
    * assignment, nprobe probe lists, bucket equi-join. Output columns:
    * query_id, neighbor_id, __qc/__qn, __cc/__cn. */
  /** Shared pinned-IVF model pieces — the ONE place the quantization,
    * codebook, argmax-assignment and probe-order conventions live, so
    * the gates (s11/s13/s16) and the recall curve (s17) cannot
    * silently diverge. Returns (corpus codes with `__bucket`, query
    * codes with the FULL best-first `__probes` centroid order, and the
    * codebook size). */
  /** Literal-array centroid dots: codegen-friendly at nlist=16 (see the
    * ivfTopK note on why the literal form beats the HOF form here). */
  private def centDots(spark: SparkSession, cents: Seq[Seq[Double]],
      v: Column): Column =
    array(cents.map(ct => nativeDot(spark, v, array(ct.map(lit): _*))): _*)

  /** Pinned-codebook argmax assignment of SQ8 codes — ties -> lowest
    * centroid id (array_position = first max). */
  private def pinnedAssignments(c: DataFrame,
      cents: Seq[Seq[Double]]): DataFrame =
    c.withColumn("__dots", centDots(c.sparkSession, cents, col("__cc")))
      .withColumn("__bucket",
        (array_position(col("__dots"), array_max(col("__dots"))) - 1).cast("int"))
      .drop("__dots")

  /** Centroid indices best first: `dots` holds one dot product per
    * centroid (`n` of them); (−dot, idx) structs sort ascending, so ties
    * go to the lower index. Callers slice the top k. */
  private def centroidOrder(dots: Column, n: Int): Column =
    transform(
      array_sort(zip_with(dots, sequence(lit(0), lit(n - 1)),
        (d, i) => struct((-d).as("nd"), i.as("idx")))),
      s => s.getField("idx"))

  /** Per-query best-first centroid order under the pinned codebook. */
  private def pinnedProbeOrder(q: DataFrame,
      cents: Seq[Seq[Double]]): DataFrame =
    q.withColumn("__probes",
      centroidOrder(centDots(q.sparkSession, cents, col("__qc")), cents.length))

  private def pinnedIvfModel(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String,
      nlist: Int): (DataFrame, DataFrame, Int) = {
    val c = withCodeNorm(sq8Codes(corpus, idCol, vecCol, "neighbor_id", "__cc"),
      "__cc", "__cn")
    val q = withCodeNorm(sq8Codes(queries, idCol, vecCol, "query_id", "__qc"),
      "__qc", "__qn")
    val cents = pinnedCodebook(c, "neighbor_id", "__cc", nlist)
    (pinnedAssignments(c, cents), pinnedProbeOrder(q, cents), cents.length)
  }

  /** BUILD side of the build-once/query-many IVF serving split (the
    * FAISS-shaped index lifecycle): SQ8-code the corpus, assign every
    * code to its pinned-codebook list, and PERSIST the serving tables —
    * `centroids` (cid, code) and `assignments` (neighbor_id, code,
    * norm, bucket) — as parquet. At corpus scale the assignment pass is
    * the only data-sized job and it runs once; every query batch after
    * that reads the index, never the raw corpus. */
  def buildPinnedIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, path: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // the whole lifecycle (lease chain, manifest swap, compaction)
    // commits via O_EXCL create + rename: refuse object stores up front
    FsCommit.requireAtomicCommits(
      hp(path).getFileSystem(spark.sessionState.newHadoopConf()), path,
      "ANN index")
    val c = withCodeNorm(sq8Codes(corpus, idCol, vecCol, "neighbor_id", "__cc"),
      "__cc", "__cn")
    val cents = pinnedCodebook(c, "neighbor_id", "__cc", nlist)
    cents.zipWithIndex.map { case (v, i) => (i, v) }.toDF("cid", "cc")
      .write.mode("overwrite").parquet(s"$path/centroids")
    pinnedAssignments(c, cents)
      .write.mode("overwrite").parquet(s"$path/assignments")
  }

  /** APPEND side of the index lifecycle: assign a NEW vector batch
    * under the index's frozen codebook and append its serving rows —
    * no rebuild, no touch of the existing assignment files. Because
    * each vector's (code, bucket) depends only on the codebook,
    * append-then-query is EXACTLY rebuild-then-query (gated: s19 runs
    * build-on-partial + append against s11's full-corpus oracle). At
    * scale this is the standard ingest path — the delta assignment job
    * is sized by the delta, and centroid drift is a periodic offline
    * rebuild decision, not a serving-path concern. */
  def appendPinnedIvfIndex(delta: DataFrame, idCol: String, vecCol: String,
      path: String): Unit =
    assignDelta(delta, idCol, vecCol, path)
      .write.mode("append").parquet(s"$path/assignments")

  /** Idempotent per-micro-batch variant of [[appendPinnedIvfIndex]] for
    * streaming ingest: batch `batchId`'s assignments land in their OWN
    * partition directory with overwrite semantics, so a retried batch
    * (foreachBatch offers at-least-once delivery) replaces itself
    * instead of duplicating rows — the standard foreachBatch
    * exactly-once recipe. The directory key reads back as an
    * `ingest_batch` partition column, which the query side ignores.
    *
    * The overwrite recipe alone breaks when a COMPACTION consumed the
    * batch's partition between the attempt and the retry (its rows then
    * live in the compacted layout, and recreating the partition would
    * double-count them permanently at the next compaction — code-review
    * finding), so compaction records consumed batch ids in a ledger and
    * a redelivery of a recorded batch is a NO-OP. Because the appender
    * is not fenced by the compaction lease, the ledger check alone has
    * a race (ADVICE r12): a redelivery can read the ledger BEFORE the
    * compactor records its id, then recreate the partition AFTER the
    * compactor deleted it. The ledger is therefore re-read AFTER the
    * partition write and a now-recorded batch deletes its own
    * partition; the compactor records ids strictly before it deletes
    * inputs, so one of the two checks always sees the id (and a
    * partition recreated before the delete is simply deleted with the
    * original — same rows, already in the compacted layout).
    *
    * The ledger is per-STREAM-LINEAGE: batch ids must never be reused
    * with different content, so a FRESH stream (checkpoint wiped, ids
    * restarting at 0) pointed at a root an earlier lineage fed would
    * silently NO-OP its first N batches — data loss with no error.
    * The `lineage` argument (a stable id of the stream's checkpoint —
    * see [[lineageOfCheckpoint]], or any fresh unique string for a
    * fresh root) is stamped next to the ledger at first append and a
    * mismatched appender FAILS LOUDLY instead (r12 verdict: the
    * footnote became a guard). MIGRATION NOTE: a pre-stamp root that
    * already carries ledger entries cannot prove which lineage fed it,
    * so it also fails — hand-write the original stream's lineage to
    * `_compacted_batches/_lineage` to resume, or start a fresh root. */
  def appendPinnedIvfIndexBatch(delta: DataFrame, idCol: String,
      vecCol: String, path: String, batchId: Long,
      lineage: String): Unit =
    appendPinnedIvfIndexBatchHooked(delta, idCol, vecCol, path, batchId,
      lineage, () => ())

  /** [[appendPinnedIvfIndexBatch]] with a fault-injection point AFTER
    * the ledger pre-check and before the partition write — the suite
    * runs a full compaction there to provoke the exact
    * redelivery-vs-cleanup interleaving the post-write re-check
    * closes. */
  private[graft] def appendPinnedIvfIndexBatchHooked(delta: DataFrame,
      idCol: String, vecCol: String, path: String, batchId: Long,
      lineage: String, afterLedgerCheck: () => Unit): Unit = {
    val fs = hp(path).getFileSystem(
      delta.sparkSession.sessionState.newHadoopConf())
    FsCommit.requireAtomicCommits(fs, path, "ANN index")
    checkStreamLineage(fs, path, lineage)
    if (!compactedBatchIds(fs, path).contains(batchId)) {
      afterLedgerCheck()
      val partition = hp(s"$path/assignments_stream/ingest_batch=$batchId")
      assignDelta(delta, idCol, vecCol, path)
        .write.mode("overwrite").parquet(partition.toString)
      // close the appender-side race: if a concurrent compaction
      // consumed this batch between our pre-check and the write, its
      // ledger record (written before its deletes) is visible by now —
      // drop the recreated partition, the rows live in the compacted
      // layout. ONLY the partition: an emptied parent dir is harmless
      // (every reader content-guards), while a list-empty-then-delete
      // of the parent races a concurrent appender's fresh partition
      // into data loss (code-review finding)
      if (compactedBatchIds(fs, path).contains(batchId))
        fs.delete(partition, true)
    } else {
      // redelivery of a ledger-recorded batch: normally nothing to do,
      // but a PRIOR attempt that crashed between its partition write
      // and its post-write re-check delete left an orphan that would
      // double-serve once the manifest retires (code-review finding) —
      // this retry is the natural place to reconcile it (the compactor
      // also drops ledgered orphans at capture, covering streams that
      // never retry)
      val partition = hp(s"$path/assignments_stream/ingest_batch=$batchId")
      if (fs.exists(partition))
        fs.delete(partition, true) // only the partition — see above
    }
  }

  private val LineageName = "_lineage"

  /** The stream-lineage stamp lives next to the ledger (hidden name —
    * excluded from ledger listings). First append stamps it; every
    * append verifies it. */
  private def checkStreamLineage(fs: org.apache.hadoop.fs.FileSystem,
      path: String, lineage: String): Unit = {
    require(lineage.trim.nonEmpty, "stream lineage must be non-empty")
    val stamp = hp(s"$path/$BatchLedgerDir/$LineageName")
    val current =
      if (!fs.exists(stamp)) None
      else {
        val in = fs.open(stamp)
        try Some(new String(in.readAllBytes(), "UTF-8").trim)
        finally in.close()
      }
    current match {
      case Some(l) if l == lineage.trim => ()
      case Some(l) => throw new IllegalStateException(
        s"stream-lineage mismatch at $path: the batch ledger was fed by " +
        s"lineage '$l' but this appender carries '$lineage'. A fresh " +
        "stream restarting batch ids at 0 against this root would " +
        "silently no-op every id the old lineage compacted — data loss " +
        "with no error. Target a fresh index root, or resume the " +
        "original stream from its checkpoint.")
      case None =>
        if (listDataFiles(fs, hp(s"$path/$BatchLedgerDir")).nonEmpty)
          throw new IllegalStateException(
            s"unstamped batch ledger at $path: ledger entries exist but " +
            "no lineage stamp — this root predates lineage stamping, so " +
            "no appender can prove it is the lineage that fed it. " +
            s"Hand-write the original stream's lineage to " +
            s"$BatchLedgerDir/$LineageName to resume, or start a fresh " +
            "root.")
        // first append on this root: the AUTHORITY is a create-exclusive
        // claim (atomic on local FS and HDFS), because stage+rename
        // alone is not a fence — POSIX rename overwrites, so two
        // DIFFERENT fresh lineages racing their first append could both
        // "win" and both write batch 0 before any mismatch fired
        // (code-review finding). The loser of the create reads the
        // winner's claim and fails loudly on a different lineage; the
        // readable stamp is then written by anyone who verified (same
        // bytes, races benign), self-healing a claim-then-crash.
        val claim = hp(s"$path/$BatchLedgerDir/$LineageName.claim")
        try {
          val out = fs.create(claim, false)
          try out.write(s"${lineage.trim}\n$ClaimEnd".getBytes("UTF-8"))
          finally out.close()
        } catch { case _: java.io.IOException => () /* lost the race */ }
        val winner = readLineageClaim(fs, claim)
        if (winner != lineage.trim) throw new IllegalStateException(
          s"stream-lineage mismatch at $path: a concurrent first append " +
          s"claimed lineage '$winner' but this appender carries " +
          s"'$lineage' — two different fresh streams are feeding the " +
          "same root; give each its own index root.")
        val staging = hp(s"$path/$BatchLedgerDir/$LineageName.tmp." +
          java.util.UUID.randomUUID())
        val out = fs.create(staging, true)
        try out.write(lineage.trim.getBytes("UTF-8"))
        finally out.close()
        if (!fs.rename(staging, stamp)) fs.delete(staging, false)
    }
  }

  private val ClaimEnd = "#END"

  /** Read the lineage claim, tolerating a briefly-torn read (the writer
    * is between create and close): the terminator marks a complete
    * body; retry a few times, then fail loudly rather than guess. */
  private def readLineageClaim(fs: org.apache.hadoop.fs.FileSystem,
      claim: HPath): String = {
    var attempt = 0
    while (attempt < 20) {
      val body =
        if (!fs.exists(claim)) ""
        else {
          val in = fs.open(claim)
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        }
      val lines = body.split("\n", -1)
      if (lines.length >= 2 && lines(1).startsWith(ClaimEnd))
        return lines(0).trim
      attempt += 1
      Thread.sleep(50)
    }
    throw new IllegalStateException(
      s"lineage claim at $claim unreadable (torn or missing after " +
        "the claim race) — cannot establish which stream owns this root")
  }

  /** Derive a stream lineage from a DURABLE checkpoint location: the
    * stream's own identity (`metadata` holds the query id Spark keeps
    * stable across restarts from the same checkpoint and regenerates
    * when the checkpoint is wiped) — exactly the "same batch-id
    * sequence" contract the ledger needs. Call it inside foreachBatch
    * (the file exists once the stream has started); for a fresh
    * per-run root (the w20/w23 gates) any fresh unique string works. */
  def lineageOfCheckpoint(spark: SparkSession,
      checkpointDir: String): String = {
    val meta = hp(s"$checkpointDir/metadata")
    val fs = meta.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(meta)
    val body =
      try new String(in.readAllBytes(), "UTF-8")
      finally in.close()
    """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(body).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException(
        s"no query id in checkpoint metadata at $meta"))
  }

  /** The one shared delta→assignments body: load the frozen codebook,
    * SQ8-code the batch, assign — every append flavor writes exactly
    * this frame, so the serving row shape cannot drift between the
    * batch and streaming ingest paths. */
  private def assignDelta(delta: DataFrame, idCol: String, vecCol: String,
      path: String): DataFrame = {
    val spark = delta.sparkSession
    val cents = spark.read.parquet(s"$path/centroids").orderBy("cid")
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
    pinnedAssignments(
      withCodeNorm(sq8Codes(delta, idCol, vecCol, "neighbor_id", "__cc"),
        "__cc", "__cn"),
      cents)
  }

  // All index-layout filesystem ops go through the Hadoop FileSystem of
  // the path's scheme (HDFS/S3A/local) — `java.io.File` would be
  // silently false for every remote path and make streamed or compacted
  // layouts invisible.
  private val CompactDir = "assignments_by_bucket"
  private val CompactTmp = "assignments_by_bucket__compacting"
  private val ManifestName = "_consumed"
  private val BatchLedgerDir = "_compacted_batches"
  private type HPath = org.apache.hadoop.fs.Path

  /** The `ingest_batch=N` id carried by a consumed-path manifest entry,
    * when the entry is a streamed batch partition. */
  private def ledgerBatchId(entry: String): Option[Long] = {
    val name = entry.substring(entry.lastIndexOf('/') + 1)
    if (name.startsWith("ingest_batch="))
      name.stripPrefix("ingest_batch=").toLongOption
    else None
  }

  /** Persist the stream-batch ids a compaction consumed, BEFORE their
    * partition dirs are deleted: a late foreachBatch redelivery of such
    * a batch must no-op, not recreate rows that now also live in the
    * compacted layout (code-review finding — the batch-keyed-overwrite
    * idempotency recipe only holds while the partition it overwrites
    * still exists). One write-once file per cleanup; a crash between
    * this write and the deletes re-runs cleanup and writes a duplicate
    * file, which is harmless (the ledger reads as a set union). */
  private def recordCompactedBatches(fs: org.apache.hadoop.fs.FileSystem,
      path: String, consumed: Set[String]): Unit = {
    val ids = consumed.flatMap(ledgerBatchId)
    if (ids.nonEmpty) {
      val f = new HPath(hp(s"$path/$BatchLedgerDir"),
        s"ledger.${java.util.UUID.randomUUID()}")
      val out = fs.create(f, false)
      try out.write(ids.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Fold the accumulated ledger files into ONE (ADVICE r12: one file
    * per cleanup forever meant every streamed append paid
    * O(#compactions) filesystem opens). Runs under the compaction
    * lease. The merged file is staged hidden and RENAMED into a listed
    * name before the old files are deleted, so a crash at any point
    * leaves the id set complete — mid-write leaves the torn merge
    * hidden (unread) with the originals intact; mid-delete leaves
    * harmless duplicates (the ledger reads as a set union). */
  private def foldLedger(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit = {
    val dir = hp(s"$path/$BatchLedgerDir")
    val files = listDataFiles(fs, dir)
    if (files.size > 1) {
      val ids = compactedBatchIds(fs, path)
      val staging = new HPath(dir,
        s".folding.${java.util.UUID.randomUUID()}")
      val out = fs.create(staging, true)
      try out.write(ids.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      val merged = new HPath(dir,
        s"ledger.folded.${java.util.UUID.randomUUID()}")
      require(fs.rename(staging, merged),
        s"ledger fold rename failed under $dir")
      files.foreach(fs.delete(_, false))
    }
  }

  /** Stream-batch ids already folded into the compacted layout. Every
    * parseable line is trustworthy even from a torn ledger file
    * (truncation only loses the tail), so no terminator is needed — a
    * lost id merely degrades that one batch back to at-least-once. An
    * appender's listing can race a concurrent [[foldLedger]] deleting
    * the just-merged originals; one re-list covers it (the merged
    * superset is renamed into place before any original is deleted, so
    * the second listing is complete). */
  private def compactedBatchIds(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Set[Long] = {
    def readOnce(): Set[Long] =
      listDataFiles(fs, hp(s"$path/$BatchLedgerDir")).flatMap { f =>
        val in = fs.open(f)
        try new String(in.readAllBytes(), "UTF-8")
          .linesIterator.flatMap(_.trim.toLongOption).toVector
        finally in.close()
      }.toSet
    try readOnce()
    catch { case _: java.io.FileNotFoundException => readOnce() }
  }
  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Non-hidden data files directly under `dir` (Nil when absent). */
  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: HPath): Seq[HPath] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))

  /** Non-hidden subdirectories of `dir` (the streamed ingest_batch=N
    * partitions; Nil when absent). */
  private def listSubDirs(fs: org.apache.hadoop.fs.FileSystem,
      dir: HPath): Seq[HPath] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))

  /** Scheme-less canonical form used for manifest entries so a path
    * listed via one FS handle compares equal when re-read via another. */
  private def pathKey(p: HPath): String = p.toUri.getPath

  /** The manifest is the compaction COMMIT POINT, so its own write must
    * be all-or-nothing (ADVICE r11): a torn `_consumed` on a first-ever
    * compaction would make [[assignmentsOf]] treat the tmp as committed
    * while the partial consumed set fails to mask the inputs — rows
    * double-counted, and repair would bake it in. Two independent
    * defenses: the body lands at a hidden sibling (`_consumed.tmp`) and
    * is RENAMED into place (atomic on HDFS/local), and the body itself
    * ends with a `#END <count>` terminator so a reader on a store with
    * non-atomic rename still rejects a truncated file.
    *
    * FORMAT MIGRATION NOTE: manifests written before the terminator
    * existed read as uncommitted under this scheme (indistinguishable
    * from a torn new-format file). A root carrying a mid-crash
    * legacy manifest should finish its compaction with the old build
    * first — or append the `#END <n>` line by hand — before upgrading;
    * a root in the steady state (no manifest present) needs nothing. */
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      at: HPath, consumed: Seq[HPath]): Unit = {
    val staging = new HPath(at.getParent, at.getName + ".tmp")
    val body = (consumed.map(pathKey) :+ s"#END ${consumed.size}")
      .mkString("\n")
    val out = fs.create(staging, true)
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(staging, at), s"manifest commit rename failed at $at")
  }

  /** `Some(entries)` iff a manifest exists at `at` AND carries its
    * `#END <count>` terminator with a matching entry count; `None` for
    * absent or torn — callers must treat a torn manifest exactly like
    * no manifest (the compaction never committed). */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      at: HPath): Option[Set[String]] =
    if (!fs.exists(at)) None
    else {
      val in = fs.open(at)
      val lines =
        try new String(in.readAllBytes(), "UTF-8")
          .linesIterator.map(_.trim).filter(_.nonEmpty).toVector
        finally in.close()
      lines.lastOption.collect {
        case t if t.startsWith("#END ") &&
            t.stripPrefix("#END ").toIntOption.contains(lines.size - 1) =>
          lines.dropRight(1).toSet
      }
    }

  /** The full serving view of an index root — the UNION of every layout
    * present: the compacted bucket-partitioned table, the build/append
    * table, and any streamed per-batch partitions (each in its own root
    * — mixing flat files and partition directories under one path
    * breaks partition discovery) — minus any tombstoned ids. Compaction
    * CONSUMES the inputs it rewrites, so rows are never double-counted,
    * and appends that land AFTER a compaction remain queryable.
    *
    * Crash-window correctness: a compaction commits by writing its
    * output plus a `_consumed` manifest (the exact input files it
    * rewrote), then renaming into place, then deleting those inputs.
    * This reader covers every intermediate state — when the committed
    * dir is absent but a manifest-bearing tmp exists it reads the tmp
    * (the mid-swap window), and while a manifest is present it MASKS
    * the listed not-yet-deleted inputs so nothing double-counts. In the
    * steady state (no manifest) the reads are whole-directory, keeping
    * the DPP-pruned compacted plan intact. */
  private def assignmentsOf(spark: SparkSession, path: String): DataFrame = {
    val fs = hp(path).getFileSystem(spark.sessionState.newHadoopConf())
    val compacted = hp(s"$path/$CompactDir")
    val tmp = hp(s"$path/$CompactTmp")
    // the active compacted layout: a tmp carrying a COMMITTED manifest
    // OUTRANKS the committed dir — when both exist we are in the
    // mid-step-3 window where the old compacted dir may be PARTIALLY
    // deleted (recursive delete is not atomic), and the tmp is the one
    // copy guaranteed complete (code-review finding; its manifest is
    // written strictly after the data). A torn tmp manifest means the
    // compaction never committed, so the tmp is dead weight and the
    // pre-compaction layout keeps serving. Each manifest is read ONCE
    // and both decisions derive from that read — a second read would
    // open a TOCTOU window against a concurrent repair's tmp->compacted
    // rename (code-review finding).
    val (active: Option[HPath], consumed: Set[String]) =
      readManifest(fs, new HPath(tmp, ManifestName)) match {
        case Some(entries) => (Some(tmp), entries)
        case None if fs.exists(compacted) =>
          val mf = new HPath(compacted, ManifestName)
          // at the COMMITTED dir a manifest arrived whole by construction
          // (atomic staging rename, then whole-dir rename) — torn means
          // external corruption, and serving against a partial consumed
          // list would double-count, so fail as loudly as cleanupConsumed
          // does for the identical state (code-review finding)
          val entries = readManifest(fs, mf).getOrElse {
            if (fs.exists(mf)) throw new IllegalStateException(
              s"torn _consumed manifest at $mf — refusing to serve a " +
              "double-counted view against a partial consumed list; " +
              "repair it manually")
            Set.empty[String]
          }
          (Some(compacted), entries)
        case None => (None, Set.empty[String])
      }
    def live(p: HPath): Boolean = !consumed.contains(pathKey(p))

    val frames = Seq.newBuilder[DataFrame]
    active.foreach(d => frames += spark.read.parquet(d.toString))
    // content-guarded reads: a dir that survived cleanup with only
    // hidden files (_SUCCESS) must not reach the parquet reader
    val plainDir = hp(s"$path/assignments")
    val plainLive = listDataFiles(fs, plainDir).filter(live)
    if (plainLive.nonEmpty) {
      if (consumed.isEmpty) frames += spark.read.parquet(plainDir.toString)
      else frames += spark.read.parquet(plainLive.map(_.toString): _*)
    }
    val streamDir = hp(s"$path/assignments_stream")
    val streamLive = listSubDirs(fs, streamDir).filter(live)
    if (streamLive.nonEmpty) {
      if (consumed.isEmpty)
        frames += spark.read.parquet(streamDir.toString).drop("ingest_batch")
      else streamLive.foreach(d => frames += spark.read.parquet(d.toString))
    }
    val parts = frames.result()
    require(parts.nonEmpty, s"no assignment layout under $path")
    val all = parts.reduce(_ unionByName _)

    val tombFiles = listDataFiles(fs, hp(s"$path/tombstones")).filter(live)
    if (tombFiles.isEmpty) all
    else all.join(
      broadcast(spark.read.parquet(tombFiles.map(_.toString): _*)
        .select("neighbor_id").distinct()),
      Seq("neighbor_id"), "left_anti")
  }

  /** DELETE side of the index lifecycle: tombstone the given ids. The
    * write is an append-only parquet drop (delta-sized — no index
    * rewrite on the delete path); the serving view anti-joins the
    * tombstone set, and the next [[compactPinnedIvfIndex]] APPLIES the
    * deletes — survivors are rewritten, the consumed tombstone files
    * removed — so the steady-state query plan carries no anti-join.
    * Gated: s21 deletes a deterministic id slice, re-compacts, and must
    * match s11's oracle over the surviving corpus.
    *
    * RESURRECTION CONTRACT: a tombstone masks the rows present when it
    * is APPLIED (or, pre-compaction, every currently-ingested copy of
    * the id) — it is not a permanent ban on the id. Re-appending a
    * previously deleted id AFTER a compaction has consumed its
    * tombstone re-serves it (delete-then-reinsert semantics, as in an
    * LSM store). Pinned by IndexLifecycleSuite's resurrection test so
    * any future move to "deletes are permanent" is a conscious change. */
  def deleteFromPinnedIvfIndex(ids: DataFrame, idCol: String,
      path: String): Unit = {
    // retraction is an index mutation like any other: it rides the
    // parquet committer's rename, so it wears the same gate as
    // build/append/compact (code-review finding — this was the one
    // mutation path the filesystem contract missed)
    FsCommit.requireAtomicCommits(
      hp(path).getFileSystem(ids.sparkSession.sessionState.newHadoopConf()),
      path, "ANN index")
    ids.select(col(idCol).as("neighbor_id")).distinct()
      .write.mode("append").parquet(s"$path/tombstones")
  }

  /** COMPACTION: rewrite every live assignment layout — batch appends,
    * streamed per-batch partitions, AND any previous compaction —
    * PARTITIONED BY the bucket id (applying pending tombstones), then
    * swap it in and delete the consumed inputs. Two wins at corpus
    * scale: small appended files merge into per-list files, and the
    * query side's probe join becomes partition-PRUNED — dynamic
    * partition pruning drops every unprobed list's files from the scan,
    * so a query reads ~nprobe/nlist of the index instead of all of it
    * (plan-pinned in PlanAuditSuite). Layout change only: query results
    * are identical (s20 shares s11's oracle).
    *
    * The swap is manifest-committed (ADVICE r10): the input files are
    * CAPTURED up front, the rewrite reads exactly those, and the tmp
    * dir gains a `_consumed` manifest before any destructive step —
    * so a crash at any point leaves the index readable and exact
    * (see [[assignmentsOf]]), and a streaming append landing after the
    * capture survives untouched.
    *
    * WRITER FENCE: the single-maintenance-writer contract is ENFORCED,
    * not assumed — a `_compaction.lock` lease is atomically created
    * under the root before the capture step, kept young by a HEARTBEAT
    * that re-stamps it every ttl/4 (so a compaction of ANY duration
    * stays fenced — expiry is judged by last renewal, not creation),
    * and released on exit; a second compactor finding a live lease
    * aborts loudly before touching anything. A crashed holder stops
    * renewing and its lease is broken by the next compactor after
    * [[DefaultLeaseTtlMs]]; a live holder whose lease was broken
    * anyway (heartbeat gap beyond the TTL) detects the loss at the
    * next tick and aborts before its next destructive step.
    *
    * READER OVERLAP: queries PLAN against the pre-swap layout lazily —
    * a query whose execution overlaps this compaction's swap/cleanup
    * window can hit FileNotFoundException on a just-deleted input. The
    * lease fences writers only. Execute serving queries under
    * [[withMaintenanceRetry]] — it re-plans once against the post-swap
    * layout (complete by construction), making reads safe under
    * maintenance instead of scheduling around it (r12 verdict). */
  def compactPinnedIvfIndex(spark: SparkSession, path: String): Unit =
    compactPinnedIvfIndexSteps(spark, path, stopAfter = Int.MaxValue)

  /** Execute an index read safely under concurrent maintenance: run
    * `body` — which must both BUILD and EXECUTE the query (e.g.
    * `rowsOf(queryPinnedIvfIndex(...))`) — and, if execution failed on
    * a file a concurrent compaction swap/cleanup deleted, run it ONCE
    * more. The re-run re-lists the root and re-plans, and the
    * post-commit layout is complete by construction (the manifest
    * masks every consumed input the moment the compacted data is
    * readable), so the second attempt sees a consistent view with the
    * exact same rows. Deliberately NOT baked into
    * [[queryPinnedIvfIndex]] itself: that API returns a lazy plan
    * (plan-pinned in the suites — DPP pruning, no steady-state
    * anti-join) and the failure only surfaces at the caller's action.
    * `ignoreMissingFiles` was rejected for this (r12 verdict option b):
    * skipping a swapped-out compacted dir's files would return a
    * silently EMPTY scan instead of an error. Retries only on
    * FileNotFoundException-caused failures; anything else rethrows. */
  def withMaintenanceRetry[T](body: => T): T =
    try body
    catch { case e: Throwable if fnfCaused(e) => body }

  /** A failure is retryable iff a FileNotFoundException appears in its
    * cause chain — including executor-side traces that arrive
    * stringified into the message rather than as a typed cause. */
  private[graft] def fnfCaused(e: Throwable): Boolean = {
    val seen = scala.collection.mutable.Set.empty[Throwable]
    var t: Throwable = e
    while (t != null && seen.add(t)) {
      if (t.isInstanceOf[java.io.FileNotFoundException] ||
          Option(t.getMessage).exists(_.contains("FileNotFoundException")))
        return true
      t = t.getCause
    }
    false
  }

  private val LeaseName = "_compaction.lock"

  /** How long a compaction lease stays authoritative after its holder
    * stops HEARTBEATING: the holder re-stamps the lease body with a
    * fresh timestamp every ttl/4 (r12 verdict — judging expiry by
    * CREATE time meant a compaction outliving a static TTL got its
    * live lease legitimately broken mid-write, re-admitting the
    * two-writer race the lease exists to prevent). With renewal the
    * TTL no longer needs to dwarf the longest possible compaction —
    * only the longest heartbeat gap of a live holder (GC pause,
    * filesystem hiccup); a crashed holder stops renewing and its lease
    * is broken by the next compactor once this elapses. */
  private[graft] val DefaultLeaseTtlMs: Long = 60L * 60 * 1000

  /** The lease body is `<lastRenewalMillis> <holderUuid>`: the first
    * field drives expiry (re-stamped by the heartbeat), the second
    * identifies the holder so release/renewal can recognize their own
    * lease after the timestamp has moved. */
  private def leaseUuidOf(body: String): Option[String] =
    body.trim.split("\\s+") match {
      case Array(_, u, _*) => Some(u)
      case _               => None
    }

  private def readLeaseBody(fs: org.apache.hadoop.fs.FileSystem,
      lease: HPath): Option[String] =
    if (!fs.exists(lease)) None
    else {
      val in = fs.open(lease)
      try Some(new String(in.readAllBytes(), "UTF-8").trim)
      finally in.close()
    }

  // ---- CAS lease chain (r13 stretch: the read-then-write residual) ----
  //
  // The lease is a DIRECTORY of versioned claim files named
  // `v<20-digit-n>` (the version number IS the whole filename — see
  // [[leaseTopVersion]]; ts/uuid ride the body); the authoritative
  // state is the HIGHEST version. Every transition — claim, heartbeat
  // renewal, expiry break, release — is one primitive: an atomic
  // no-overwrite CREATE of version n+1 (O_CREAT|O_EXCL via
  // Files.createFile on file://, an atomic namenode op on HDFS). That
  // create IS the compare-and-swap: of a stale holder's late renewal
  // and a breaker's claim, exactly one wins version n+1 and the other
  // FAILS — the old single-file design's clobber (stale tick
  // overwrites a breaker's fresh lease) is structurally impossible.
  // All state lives in the NAME, so creation is the whole commit and
  // no body can tear. A legacy single-FILE lease at the same path
  // (pre-chain layouts, hand-made locks) is still honored: judged by
  // its body/mtime exactly as before, broken by atomic rename-aside.

  private val ReleasedUuid = "released"
  private val LeaseVersionRe = """v(\d{20})""".r

  /** Highest committed version: (n, stampMillis, uuid). The version
    * NUMBER is the whole filename — per-version exclusivity rides the
    * filesystem's no-overwrite create, so two claims of the same n
    * cannot both commit (a ts-or-uuid-suffixed name would break this:
    * each claim would create a DIFFERENT file). ts/uuid live in the
    * body; a torn body (claimer crashed between create and write)
    * falls back to the file's mtime with an anonymous uuid — judged a
    * foreign live holder until the TTL expires it, the same stance as
    * the legacy content-less lease file. None = free (no dir, empty
    * dir, or nothing parsable). IOException propagates — an UNREADABLE
    * chain must refuse, not read as free. */
  private[graft] def leaseTopVersion(fs: org.apache.hadoop.fs.FileSystem,
      dir: HPath): Option[(Long, Long, String)] = {
    if (!fs.exists(dir) || fs.getFileStatus(dir).isFile) return None
    val top = fs.listStatus(dir).iterator.flatMap(st =>
      st.getPath.getName match {
        case LeaseVersionRe(n) => Some((n.toLong, st))
        case _                 => None
      }).reduceOption[(Long, org.apache.hadoop.fs.FileStatus)] {
        case (a, b) => if (a._1 >= b._1) a else b
      }
    top.map { case (n, st) =>
      val body =
        try {
          val in = fs.open(st.getPath)
          try new String(in.readAllBytes(), "UTF-8").trim
          finally in.close()
        } catch { case _: java.io.IOException => "" }
      body.split("\\s+") match {
        case Array(ts, u) if ts.toLongOption.isDefined =>
          (n, ts.toLong, u)
        case _ => (n, st.getModificationTime, "?torn?")
      }
    }
  }

  /** The CAS: atomically create version file `v<n>` (no-overwrite —
    * O_CREAT|O_EXCL via Files.createFile on file://, an atomic
    * namenode op on HDFS), then write `<ts> <uuid>` as its body. True
    * iff THIS call created the version; false when it already exists
    * (lost the race). Other I/O errors propagate.
    *
    * `createDir = false` additionally treats a MISSING chain directory
    * as a lost race instead of recreating it — the heartbeat's
    * renewal path, where recreating a just-released (deleted) chain
    * would resurrect a lease nobody holds (code-review finding). Only
    * the acquire path, which owns the judge-then-claim protocol, may
    * create the directory. */
  private[graft] def claimLeaseVersion(fs: org.apache.hadoop.fs.FileSystem,
      dir: HPath, n: Long, uuid: String,
      createDir: Boolean = true): Boolean = {
    if (!createDir && !fs.exists(dir)) return false
    val f = new HPath(dir, f"v$n%020d")
    val body = s"${System.currentTimeMillis()} $uuid".getBytes("UTF-8")
    try {
      if (fs.getUri.getScheme == "file") {
        if (createDir)
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(dir.toUri.getPath))
        val p = java.nio.file.Paths.get(f.toUri.getPath)
        java.nio.file.Files.createFile(p) // atomic O_EXCL: the CAS
        java.nio.file.Files.write(p, body)
      } else if (createDir) {
        val out = fs.create(f, false) // no-overwrite: the CAS
        try out.write(body) finally out.close()
      } else {
        // renewal path on a non-file store: fs.create would CREATE
        // MISSING PARENTS, so the exists() above would be a mere TOCTOU
        // check and a stalled tick could still resurrect a released
        // chain (code-review finding) — createNonRecursive makes
        // "parent gone" a hard failure instead
        val out = fs.createNonRecursive(f, false, 4096,
          fs.getDefaultReplication(f), fs.getDefaultBlockSize(f), null)
        try out.write(body) finally out.close()
      }
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.NoSuchFileException => false // dir vanished
      case _: java.io.FileNotFoundException => false // parent vanished
    }
  }

  /** Drop superseded version files (strictly below `keepFrom`) — dead
    * weight only; the top is never touched, so a concurrent reader's
    * max is unaffected. */
  private def gcLeaseVersions(fs: org.apache.hadoop.fs.FileSystem,
      dir: HPath, keepFrom: Long): Unit =
    try fs.listStatus(dir).foreach { st =>
      st.getPath.getName match {
        case LeaseVersionRe(n) if n.toLong < keepFrom =>
          fs.delete(st.getPath, false)
        case _ => ()
      }
    } catch { case _: java.io.IOException => () }

  /** Keeps a held lease young by CAS-claiming the NEXT chain version
    * every `intervalMs` (ttl/4 — several renewals fit inside one TTL,
    * so a single missed tick cannot expire a live holder). Each tick
    * reads the top version: if it no longer carries our uuid, OR our
    * n+1 create loses to a breaker's claim, renewal STOPS and the
    * holder is flagged FENCED — [[compactUnderLease]] checks the flag
    * before every destructive step, so a fenced-out holder aborts into
    * an ordinary crash window (repair-covered) instead of fighting the
    * new writer over the layout. Transient I/O errors skip the tick;
    * the TTL absorbs them.
    *
    * The old single-file design's documented residual — a tick's
    * read-then-write clobbering a breaker's fresh lease after a
    * TTL-long stall — is CLOSED by the chain: the stale tick can only
    * try to create the version the breaker already created, which
    * fails atomically and fences the holder. Remaining residuals, both
    * non-destructive: (a) liveness — a tick racing close() past the
    * closing check can renew just before the release marker, leaving a
    * chain that blocks successors until the TTL ([[reapResurrection]]
    * sweeps the common case); (b) a zombie tick stalled across
    * release AND a successor's fresh claim can CAS a higher version
    * into the successor's chain, fencing the successor into its
    * ordinary repair-covered abort — spurious work, never two writers
    * (the tick can no longer recreate a RELEASED chain: renewal
    * refuses to create the directory). */
  private[graft] final class LeaseHeartbeat(fs: org.apache.hadoop.fs.FileSystem,
      lease: HPath, uuid: String, intervalMs: Long) {
    private val fenced = new java.util.concurrent.atomic.AtomicBoolean(false)
    private val closing = new java.util.concurrent.atomic.AtomicBoolean(false)
    private val stopped = new java.util.concurrent.CountDownLatch(1)
    // serializes the tick's read-judge-CAS against [[commitFence]]'s:
    // without it the two threads race each other for version n+1 and
    // the loser would fence ITS OWN holder on a self-renewal
    private val renewLock = new Object
    private val thread = new Thread(() => {
      while (!fenced.get() && !stopped.await(intervalMs,
          java.util.concurrent.TimeUnit.MILLISECONDS)) {
        try renewLock.synchronized {
          leaseTopVersion(fs, lease) match {
            case Some((n, _, u)) if u == uuid =>
              // re-check closing just before the CAS: a tick that read
              // the top, then stalled across close()+release, would
              // otherwise extend a chain the holder just released
              // (liveness-only; reapResurrection sweeps it)
              if (!closing.get() && !claimLeaseVersion(fs, lease, n + 1,
                  uuid, createDir = false))
                fenced.set(true) // lost n+1 (breaker) or the chain dir
                                 // is gone (released under us): either
                                 // way stop renewing — never recreate a
                                 // released chain
              else if (!closing.get()) gcLeaseVersions(fs, lease, n + 1)
            case Some(_) => fenced.set(true) // top is foreign: fenced
            case None    => () // dir mid-release/mid-claim: skip the tick
          }
        } catch { case _: java.io.IOException => () }
      }
    }, "graft-compaction-lease-heartbeat")
    thread.setDaemon(true)
    thread.start()

    def close(): Unit = {
      closing.set(true)
      stopped.countDown()
      thread.join(2000)
    }

    /** Called AFTER releaseCompactionLease: reap a chain our own
      * stalled tick extended post-release. Recognizable by uuid — ours
      * is safe to close out, a successor's is never touched. */
    def reapResurrection(): Unit = {
      val deadline = System.currentTimeMillis() + 3000
      while (thread.isAlive && System.currentTimeMillis() < deadline)
        thread.join(100)
      try releaseLeaseChain(fs, lease, uuid)
      catch { case _: java.io.IOException => () }
    }
    def checkNotFenced(): Unit =
      if (fenced.get()) throw new IllegalStateException(
        s"compaction fenced out: lease $lease no longer carries this " +
        "holder's token (a successor broke it after a heartbeat gap " +
        "exceeded the ttl) — aborting before the next destructive step; " +
        "the successor's repair pass owns the layout now.")

    /** SYNCHRONOUS fence at a commit point (r16 verdict prescription 7):
      * the async `fenced` flag is set by the heartbeat THREAD, so a GC
      * pause that stalls both the worker and the heartbeat leaves the
      * flag stale — the zombie wakes, passes [[checkNotFenced]], and its
      * late destructive write races the breaker. This fence instead
      * CAS-claims the next lease version on the CALLING thread right
      * before the commit: if a breaker took the chain during the pause,
      * our n+1 create loses ATOMICALLY and the commit aborts; if we win,
      * the claim doubles as a renewal (fresh timestamp). An unreadable
      * chain at a commit point refuses (aborting into the ordinary
      * repair-covered crash window), never proceeds on hope.
      *
      * The `commit` step runs DIRECTLY after the winning claim, with no
      * caller code in between (r17 verdict item 8 — previously the
      * caller ran its rename after this method returned, so the
      * claim→rename adjacency rested on caller discipline; now it is
      * structural). The commit itself executes OUTSIDE the lease lock
      * deliberately (code-review finding): holding the lock through an
      * arbitrarily long commit body (a consumed-batch delete loop
      * against slow object storage) would starve the heartbeat of
      * renewals for the whole duration — re-opening, for bodies longer
      * than the TTL, exactly the two-writers window the fence exists to
      * close. The lock only serializes this JVM's own CAS operations;
      * an external breaker never sees it, and the only thing that can
      * touch the chain between our claim and the commit is our own
      * heartbeat RENEWING it (claiming a further version under the same
      * uuid — harmless and desirable during a long commit). */
    def commitFenceAround[A](commit: => A): A = {
      renewLock.synchronized {
        checkNotFenced()
        val top =
          try leaseTopVersion(fs, lease)
          catch {
            case e: java.io.IOException => throw new IllegalStateException(
              s"maintenance commit refused: lease chain $lease is " +
              "unreadable at the commit point — aborting rather than " +
              "committing blind; the layout stays in its repair-covered " +
              "crash window.", e)
          }
        top match {
          case Some((n, _, u)) if u == uuid =>
            if (!claimLeaseVersion(fs, lease, n + 1, uuid,
                createDir = false)) {
              fenced.set(true)
              throw new IllegalStateException(
                s"maintenance commit fenced: lost the lease CAS at $lease " +
                "(a successor claimed the chain — likely after a pause " +
                "that outlived the ttl); aborting before the commit. The " +
                "successor's repair pass owns the layout now.")
            }
            gcLeaseVersions(fs, lease, n + 1)
          case _ =>
            fenced.set(true)
            throw new IllegalStateException(
              s"maintenance commit fenced: lease $lease no longer carries " +
              "this holder's token at the commit point; aborting before " +
              "the commit. The successor's repair pass owns the layout now.")
        }
      }
      commit // adjacent to the claim; heartbeat renewals stay live
    }

    def commitFence(): Unit = commitFenceAround(())
  }

  /** The fence handle maintenance bodies receive: callable as a plain
    * pre-commit barrier (`fence()` — source-compatible with the r16
    * shape) or, preferably, wrapped AROUND the commit step
    * (`fence.around { rename }`) so the step executes structurally
    * adjacent to the winning CAS — no caller code in between — while
    * heartbeat renewals stay live during long commits (r17 verdict
    * item 8 + code-review finding). */
  private[graft] sealed trait MaintenanceFence extends (() => Unit) {
    def around[A](commit: => A): A
    def apply(): Unit = around(())
  }
  private[graft] object MaintenanceFence {
    def apply(hb: LeaseHeartbeat): MaintenanceFence = new MaintenanceFence {
      def around[A](commit: => A): A = hb.commitFenceAround(commit)
    }
    /** For lease-FREE paths that share code with leased ones (e.g. a
      * plain signature append, which may race freely): the commit runs
      * unfenced, exactly the pre-lease behavior. */
    val noop: MaintenanceFence = new MaintenanceFence {
      def around[A](commit: => A): A = commit
    }
  }

  /** Run `body` as THE maintenance writer under `path`: acquires the
    * CAS lease chain, keeps it young with a heartbeat, and hands the
    * body a synchronous commit fence to call immediately before each
    * destructive or committing filesystem step. Always releases (and
    * reaps a tick-resurrected chain) on the way out. This is the ANN
    * compaction's whole concurrency discipline packaged for reuse — the
    * signature store's maintenance writers (retraction, unretracting
    * append, compaction) wear it too (r16 verdict prescription 3: the
    * single-maintenance-writer contract was documented, not enforced).
    * A second maintenance writer refuses with the lease-held error
    * instead of silently interleaving. */
  private[graft] def withMaintenanceLease[T](
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      ttlMs: Long = DefaultLeaseTtlMs)(body: MaintenanceFence => T): T = {
    val (lease, uuid) = acquireCompactionLease(fs, path, ttlMs)
    val heartbeat =
      new LeaseHeartbeat(fs, lease, uuid, math.max(ttlMs / 4, 25L))
    try body(MaintenanceFence(heartbeat))
    finally {
      heartbeat.close()
      releaseCompactionLease(fs, lease, uuid)
      heartbeat.reapResurrection()
    }
  }

  /** Atomically claim the maintenance-writer lease under `path`,
    * returning the lease path and this holder's unique uuid. A live
    * lease (last RENEWAL younger than `ttlMs` — the holder's heartbeat
    * re-stamps it) aborts THIS compactor with a clear error before
    * anything is read or written. An expired lease is broken by
    * RENAMING it aside to a nonce name — rename is atomic, so of two
    * compactors that both observed the same stale lease exactly one
    * wins the rename and proceeds; the loser aborts instead of
    * deleting the winner's fresh lease (the delete-then-create race a
    * code review caught). The uuid lets release and renewal recognize
    * OUR lease, never a successor's. */
  private[graft] def acquireCompactionLease(fs: org.apache.hadoop.fs.FileSystem,
      path: String, ttlMs: Long): (HPath, String) = {
    val lease = hp(s"$path/$LeaseName")
    val uuid = java.util.UUID.randomUUID().toString
    // same FNF-is-free stance as the chain read below: the lease
    // vanishing between exists() and getFileStatus is a concurrent
    // release, not an error
    val legacyFile =
      try fs.exists(lease) && fs.getFileStatus(lease).isFile
      catch { case _: java.io.FileNotFoundException => false }
    if (legacyFile) {
      // LEGACY single-file lease (pre-chain layout or a hand-made
      // lock): judge by body timestamp with an mtime fallback for a
      // content-less file (a holder that crashed between create and
      // write must expire, not deadlock every future compactor); an
      // UNREADABLE lease aborts — treating it as expired would break a
      // live holder and admit a second writer (code-review finding).
      val stampedAt: Option[Long] =
        try {
          val in = fs.open(lease)
          val fromBody =
            try new String(in.readAllBytes(), "UTF-8").trim
              .split("\\s+").headOption.flatMap(_.toLongOption)
            finally in.close()
          Some(fromBody.getOrElse(fs.getFileStatus(lease).getModificationTime))
        } catch {
          case _: java.io.FileNotFoundException =>
            None // released between our exists() and open(): claim freely
          case e: java.io.IOException => throw new IllegalStateException(
            s"concurrent compaction refused: lease $lease exists but is " +
            "unreadable — refusing to treat an unreadable lease as " +
            "expired; retry, or delete the lock only if its holder is " +
            "known dead.", e)
        }
      stampedAt.foreach { at =>
        val ageMs = System.currentTimeMillis() - at
        if (ageMs < ttlMs)
          throw new IllegalStateException(
            s"concurrent compaction refused: lease $lease is held " +
            s"(age $ageMs ms < ttl $ttlMs ms). One maintenance " +
            "writer per index root; delete the lock only if its holder " +
            "is known dead.")
        // break the expired file by renaming it aside: atomic, single winner
        val aside = new HPath(lease.getParent,
          s"$LeaseName.broken.${java.util.UUID.randomUUID()}")
        if (!fs.rename(lease, aside))
          throw new IllegalStateException(
            s"concurrent compaction refused: lost the expiry-break race " +
            s"for $lease")
        fs.delete(aside, false)
      }
    }
    // CHAIN claim: judge the top version, then CAS the next one. The
    // expiry break IS the claim — a breaker's create of n+1 atomically
    // beats the stale holder's own renewal of n+1 (exactly one wins).
    val top =
      try leaseTopVersion(fs, lease)
      catch {
        // the chain directory vanishing between leaseTopVersion's
        // exists() and its listStatus is the NORMAL window of a
        // concurrent release's recursive delete — the chain is free,
        // not unreadable; refusing here turned an ordinary
        // release/claim race into a spurious concurrent-compaction
        // error (ADVICE r14)
        case _: java.io.FileNotFoundException => None
        case e: java.io.IOException => throw new IllegalStateException(
          s"concurrent compaction refused: lease chain $lease is " +
          "unreadable — refusing to treat an unreadable lease as " +
          "expired; retry, or delete the lock only if its holder is " +
          "known dead.", e)
      }
    top.foreach { case (_, ts, u) =>
      if (u != ReleasedUuid) {
        val ageMs = System.currentTimeMillis() - ts
        if (ageMs < ttlMs)
          throw new IllegalStateException(
            s"concurrent compaction refused: lease $lease is held " +
            s"(age $ageMs ms < ttl $ttlMs ms). One maintenance " +
            "writer per index root; delete the lock only if its holder " +
            "is known dead.")
      }
    }
    val nextN = top.map(_._1 + 1).getOrElse(0L)
    val won =
      try claimLeaseVersion(fs, lease, nextN, uuid)
      catch {
        case e: java.io.IOException => throw new IllegalStateException(
          s"concurrent compaction refused: lost the race for $lease", e)
      }
    if (!won)
      throw new IllegalStateException(
        s"concurrent compaction refused: lost the race for $lease")
    // verify: our version must be the top (a racer that listed a stale
    // top and created a LOWER version than a concurrent winner aborts
    // here instead of believing it holds the lease)
    val verified =
      try leaseTopVersion(fs, lease) catch { case _: java.io.IOException => None }
    if (!verified.exists { case (n, _, u) => n == nextN && u == uuid })
      throw new IllegalStateException(
        s"concurrent compaction refused: lease $lease carries another " +
        "writer's token after our claim")
    gcLeaseVersions(fs, lease, nextN)
    (lease, uuid)
  }

  /** Release the lease ONLY if it still carries our uuid — a
    * successor that legitimately broke our (expired) lease must not
    * have its fresh claim deleted out from under it. The old
    * read-then-delete here was not atomic (ADVICE r12): a successor
    * could break our lease and create its own between our read and
    * our delete, and we would delete the successor's fresh lease,
    * admitting a third writer. Release now RENAMES the lease aside to
    * a nonce name first (atomic — the same trick the expiry break
    * uses), verifies the renamed file carries our uuid, and only then
    * deletes it. If the verify shows a successor's lease we moved it
    * by mistake — restore it with a rename back; if even that fails (a
    * third claim landed meanwhile) the orphaned copy is dropped and
    * the successor's own heartbeat detects the loss and fences it, so
    * the worst case degrades to a fenced abort, never two live
    * writers. */
  private[graft] def releaseCompactionLease(
      fs: org.apache.hadoop.fs.FileSystem,
      lease: HPath, uuid: String): Unit =
    try {
      if (!fs.exists(lease)) return
      if (fs.getFileStatus(lease).isFile) {
        // LEGACY single-file lease: rename-aside verifies ownership
        // atomically — a successor's fresh lease is restored, never
        // deleted (ADVICE r12)
        val aside = new HPath(lease.getParent,
          s"$LeaseName.releasing.${java.util.UUID.randomUUID()}")
        if (!fs.rename(lease, aside)) return // raced a break/release: not ours
        if (readLeaseBody(fs, aside).flatMap(leaseUuidOf).contains(uuid))
          fs.delete(aside, false)
        else if (!fs.rename(aside, lease))
          fs.delete(aside, false)
      } else releaseLeaseChain(fs, lease, uuid)
    } catch { case _: java.io.IOException => () }

  /** Chain release: CAS a `released` marker onto OUR top, then drop
    * the directory. The marker is the ownership gate — if a breaker
    * already claimed n+1, our marker create fails and we touch
    * NOTHING (the successor owns the chain). Only after we hold the
    * released top is the recursive delete safe; a claimer racing it
    * (saw the marker, created n+2 as we delete) loses its fresh file
    * and aborts at its own top-verify — a spurious retry, never two
    * writers. A crash between marker and delete leaves a released-top
    * chain, which claimers treat as free. */
  private def releaseLeaseChain(fs: org.apache.hadoop.fs.FileSystem,
      lease: HPath, uuid: String): Unit =
    leaseTopVersion(fs, lease) match {
      case Some((n, _, u)) if u == uuid =>
        if (claimLeaseVersion(fs, lease, n + 1, ReleasedUuid))
          fs.delete(lease, true)
      case _ => () // not ours (or already released): never touch it
    }

  /** [[compactPinnedIvfIndex]] with a fault-injection point: stop
    * (simulating a crash) after step `stopAfter` of the commit
    * sequence — 1 = compacted tmp written, 2 = manifest written,
    * 3 = old compacted dir deleted, 4 = tmp renamed into place,
    * 5 = consumed inputs cleaned. Production passes MaxValue; the
    * suite drives every window and asserts the index stays readable
    * and exact, and that the next compaction converges. (Simulated
    * crashes RELEASE the lease on return — the layout windows are
    * what they test; a real crash's stale lease is the TTL's job.) */
  private[graft] def compactPinnedIvfIndexSteps(spark: SparkSession,
      path: String, stopAfter: Int,
      leaseTtlMs: Long = DefaultLeaseTtlMs,
      stepDelayMs: Long = 0L,
      onAfterAcquire: () => Unit = () => ()): Unit = {
    val fs = hp(path).getFileSystem(spark.sessionState.newHadoopConf())
    FsCommit.requireAtomicCommits(fs, path, "ANN index")
    val (lease, uuid) = acquireCompactionLease(fs, path, leaseTtlMs)
    val heartbeat =
      new LeaseHeartbeat(fs, lease, uuid, math.max(leaseTtlMs / 4, 25L))
    try {
      onAfterAcquire()
      // the fence at each destructive step is the SYNCHRONOUS CAS
      // (commitFence), not just the heartbeat's async flag: a GC-paused
      // zombie's late write must lose at the commit point itself
      compactUnderLease(spark, fs, path, stopAfter,
        MaintenanceFence(heartbeat), stepDelayMs)
    } finally {
      heartbeat.close()
      releaseCompactionLease(fs, lease, uuid)
      heartbeat.reapResurrection()
    }
  }

  private def compactUnderLease(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      stopAfter: Int, fenceCheck: MaintenanceFence,
      stepDelayMs: Long): Unit = {
    // test-only slow-compaction injection: stretches the work past a
    // short lease TTL so the heartbeat is what keeps the lease alive
    def pace(): Unit = if (stepDelayMs > 0) Thread.sleep(stepDelayMs)
    repairCompaction(fs, path)
    pace()
    // capture the consumed inputs BEFORE the rewrite: anything that
    // lands after this point is neither read nor deleted
    val plainFiles = listDataFiles(fs, hp(s"$path/assignments"))
    // ORPHAN RECONCILIATION (code-review finding): a crashed appender —
    // dead between its redelivered partition write and its post-write
    // re-check delete — leaves a stream partition whose batch id is
    // already in the ledger. Its rows live in the compacted layout, so
    // reading it here would bake the duplicates in permanently, and
    // later redeliveries no-op at the pre-check without touching it.
    // Under the lease is the safe place to drop it: delete, don't read.
    val ledgered = compactedBatchIds(fs, path)
    val (orphanDirs, batchDirs) =
      listSubDirs(fs, hp(s"$path/assignments_stream")).partition { d =>
        scala.util.Try(
          d.getName.stripPrefix("ingest_batch=").toLong).toOption
          .exists(ledgered.contains)
      }
    orphanDirs.foreach(fs.delete(_, true))
    val tombFiles = listDataFiles(fs, hp(s"$path/tombstones"))
    val compacted = hp(s"$path/$CompactDir")
    val hadCompacted = fs.exists(compacted)
    val frames = Seq.newBuilder[DataFrame]
    if (hadCompacted) frames += spark.read.parquet(compacted.toString)
    if (plainFiles.nonEmpty)
      frames += spark.read.parquet(plainFiles.map(_.toString): _*)
    batchDirs.foreach(d => frames += spark.read.parquet(d.toString))
    val parts = frames.result()
    require(parts.nonEmpty, s"no assignment layout under $path")
    val survivors = {
      val all = parts.reduce(_ unionByName _)
      if (tombFiles.isEmpty) all
      else all.join(
        broadcast(spark.read.parquet(tombFiles.map(_.toString): _*)
          .select("neighbor_id").distinct()),
        Seq("neighbor_id"), "left_anti")
    }
    val tmp = hp(s"$path/$CompactTmp")
    // write to a sibling first: overwrite-in-place would delete the very
    // files the rewrite is still reading when re-compacting
    survivors.write.mode("overwrite").partitionBy("__bucket")
      .parquet(tmp.toString)
    if (stopAfter <= 1) return
    pace()
    // the manifest is the commit record: written strictly after the
    // data, it makes the tmp readable (mid-swap) and masks the inputs
    // (post-swap) until they are gone. Every step from here on is
    // destructive or commits, so each runs under the fence's `around`
    // (the r17-item-8 shape: the step executes structurally adjacent
    // to the winning CAS): a holder whose lease was broken after a
    // pathological heartbeat gap must abort into a repairable crash
    // window, not race the new writer over the layout.
    fenceCheck.around {
      writeManifest(fs, new HPath(tmp, ManifestName),
        plainFiles ++ batchDirs ++ tombFiles)
    }
    if (stopAfter <= 2) return
    pace()
    fenceCheck.around {
      if (hadCompacted) fs.delete(compacted, true) // its rows live in tmp
    }
    if (stopAfter <= 3) return
    pace()
    fenceCheck.around {
      require(fs.rename(tmp, compacted),
        s"compaction rename failed under $path")
    }
    if (stopAfter <= 4) return
    pace()
    fenceCheck.around { cleanupConsumed(fs, path) }
  }

  /** Complete or roll back a crashed compaction so a new one starts
    * from a clean layout: a tmp bearing a COMMITTED manifest rolls
    * FORWARD — the compacted-dir remnant, if any, is dropped (it is
    * either fully intact, with every row captured into the tmp, or
    * partially deleted by a crash mid-step-3 — either way the tmp is
    * the one guaranteed-complete copy) and the tmp renamed into place.
    * A tmp without a committed manifest (absent OR torn) never
    * committed — drop it (the pre-compaction layout is intact). A
    * committed dir still carrying a manifest has uncollected inputs —
    * collect them. (The previous rollback here deleted a committed tmp
    * whenever the compacted dir existed, which in the mid-step-3
    * window destroyed the only complete copy — code-review finding.) */
  private def repairCompaction(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit = {
    val compacted = hp(s"$path/$CompactDir")
    val tmp = hp(s"$path/$CompactTmp")
    if (readManifest(fs, new HPath(tmp, ManifestName)).isDefined) {
      if (fs.exists(compacted)) fs.delete(compacted, true)
      require(fs.rename(tmp, compacted),
        s"compaction repair rename failed under $path")
    } else if (fs.exists(tmp)) fs.delete(tmp, true)
    cleanupConsumed(fs, path)
  }

  /** Delete the inputs a committed compaction consumed, then drop the
    * manifest (a listed path that is already gone is a no-op). */
  private def cleanupConsumed(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit = {
    val manifest = new HPath(hp(s"$path/$CompactDir"), ManifestName)
    if (fs.exists(manifest)) {
      // a manifest at the COMMITTED dir arrived whole by construction
      // (atomic staging rename, then whole-dir rename); a torn one here
      // means external corruption — deleting inputs against a partial
      // list would double-count, so fail loudly instead
      val entries = readManifest(fs, manifest).getOrElse(throw
        new IllegalStateException(
          s"torn _consumed manifest at $manifest — refusing to clean " +
          "consumed inputs against a partial list; repair it manually"))
      recordCompactedBatches(fs, path, entries)
      foldLedger(fs, path)
      entries.foreach { p =>
        val t = hp(p)
        if (fs.exists(t)) fs.delete(t, true)
      }
      fs.delete(manifest, false)
      // drop input dirs the cleanup emptied (a dir holding only hidden
      // files would otherwise trip schema inference and mask staleness);
      // a later append simply recreates them
      Seq("assignments", "tombstones").map(d => hp(s"$path/$d"))
        .filter(d => fs.exists(d) && listDataFiles(fs, d).isEmpty &&
          listSubDirs(fs, d).isEmpty)
        .foreach(fs.delete(_, true))
      // assignments_stream's parent is deliberately NOT swept: appends
      // are lease-free, so a list-empty-then-recursive-delete here
      // races a concurrent appender's fresh ingest_batch partition
      // into silent data loss (code-review finding); an empty parent
      // is harmless — every reader content-guards its subdir list
    }
  }

  /** QUERY side: encode the query batch, probe the nprobe best lists of
    * the PERSISTED index, re-rank by quantized cosine — no corpus scan.
    * The centroid read is codebook-sized (nlist rows); the serving view
    * unions every live layout, so post-compaction appends are visible,
    * and a compacted layout's scan is partition-pruned. Round-trip
    * losslessness is gated in the registry (s18 shares s11's oracle). */
  def queryPinnedIvfIndex(spark: SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int): DataFrame = {
    val assigned = assignmentsOf(spark, path)
    val cents = spark.read.parquet(s"$path/centroids").orderBy("cid")
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
    val q = withCodeNorm(sq8Codes(queries, idCol, vecCol, "query_id", "__qc"),
      "__qc", "__qn")
    val probes = pinnedProbeOrder(q, cents)
      .select(col("query_id"), col("__qc"), col("__qn"),
        explode(slice(col("__probes"), 1, math.min(nprobe, cents.length)))
          .as("__bucket"))
    val scored = probes.join(assigned, Seq("__bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (nativeDot(spark, col("__qc"), col("__cc")) /
          (col("__qn") * col("__cn"))).as("cos"))
    rankTopK(scored, k)
  }

  private def pinnedIvfCandidates(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String,
      nlist: Int, nprobe: Int): DataFrame = {
    val (assigned, qProbes, nCents) =
      pinnedIvfModel(queries, corpus, idCol, vecCol, nlist)
    val probes = qProbes.select(col("query_id"), col("__qc"), col("__qn"),
      explode(slice(col("__probes"), 1, math.min(nprobe, nCents)))
        .as("__bucket"))
    probes.join(assigned, Seq("__bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
  }

  /** Two-stage retrieval: pinned-IVF shortlist -> maxsim re-rank — the
    * production stack for late interaction at scale (an index narrows
    * candidates, the expensive per-token score runs only on the
    * shortlist). Scoring is the inline nSub x nSub sub-vector dot
    * matrix over SQ8 codes (integer-exact, oracle-replayable); at
    * production dims the inline HOF becomes a fused codegen kernel, but
    * the PLAN — candidates from bucket equi-joins, re-rank on the
    * shortlist only — is already the 100 TB shape. */
  def maxSimTopKIvf(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nSub: Int,
      nlist: Int, nprobe: Int): DataFrame = {
    val scored = pinnedIvfCandidates(queries, corpus, idCol, vecCol,
        nlist, nprobe)
      .select(col("query_id"), col("neighbor_id"),
        maxSimCol(col("__qc"), col("__cc"), nSub).as("cos"))
    rankTopK(scored, k)
  }

  /** Recall@nprobe tuning curve for the pinned IVF index: ground truth
    * is the SQ8 quantized-cosine brute-force top-k (exact integer
    * arithmetic — replayable), and for each probe budget `p` in
    * 1..maxProbe the curve reports how many true neighbors live in the
    * query's first `p` probed buckets. THE report an operator reads to
    * pick nprobe; because every stage is integer-exact, an oracle
    * replays the recall numbers themselves, not a statistical bound.
    * Cost: one assignment pass, one (bounded-query-side) brute-force
    * truth pass, and per-truth-row rank lookups — the curve adds
    * nothing data-sized beyond what s01/s11 already compute. */
  def ivfRecallCurve(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int, maxProbe: Int): DataFrame = {
    val spark = corpus.sparkSession
    val (assignedFull, qProbes, _) =
      pinnedIvfModel(queries, corpus, idCol, vecCol, nlist)
    val assigned = assignedFull.select(col("neighbor_id"), col("__bucket"))
    // rank of EVERY centroid per query (ties -> lowest cid), 1-based
    val probeRank = qProbes
      .select(col("query_id"), posexplode(col("__probes")))
      .select(col("query_id"), (col("pos") + 1).as("__prank"),
        col("col").as("__cid"))
    val truth = rankTopK(
      assignedFull.crossJoin(broadcast(
          qProbes.select(col("query_id"), col("__qc"), col("__qn"))))
        .where(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (nativeDot(spark, col("__qc"), col("__cc")) /
            (col("__qn") * col("__cn"))).as("cos")), k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = truth.join(assigned, "neighbor_id")
      .join(probeRank, Seq("query_id"))
      .where(col("__cid") === col("__bucket"))
      .select(col("query_id"), col("neighbor_id"), col("__prank"))
    val denom = truth.agg(count(lit(1)).as("__truth_n")) // scalar
    val spine = spark.range(1, maxProbe + 1L)
      .select(col("id").cast("int").as("nprobe"))
    spine.join(broadcast(hits), col("__prank") <= col("nprobe"), "left")
      .groupBy("nprobe")
      .agg(count(col("neighbor_id")).as("hits"))
      .crossJoin(broadcast(denom))
      .select(col("nprobe"), col("hits"),
        expr("(hits * 1000) div __truth_n").as("recall_permille"))
      .orderBy("nprobe")
  }

  /** Inline maxsim over SQ8 code arrays: sum over query sub-vectors of
    * the best dot against any doc sub-vector (integer-valued doubles —
    * exact under any accumulation order). */
  private def maxSimCol(qc: Column, cc: Column, nSub: Int): Column = {
    val w = (size(qc) / nSub).cast("int")
    aggregate(
      sequence(lit(0), lit(nSub - 1)), lit(0.0d),
      (acc, i) => acc + array_max(
        transform(sequence(lit(0), lit(nSub - 1)), j =>
          aggregate(zip_with(slice(qc, i * w + 1, w), slice(cc, j * w + 1, w),
            (a, b) => a * b), lit(0.0d), (x, y) => x + y))))
  }

  /** code norm staged once per row (shared by the pinned variants). */
  private def withCodeNorm(codes: DataFrame, codeCol: String,
      normAs: String): DataFrame =
    codes.withColumn(normAs,
      sqrt(nativeDot(codes.sparkSession, col(codeCol), col(codeCol))))

  /** PQ top-k with PINNED sub-space codebooks over SQ8 codes — the
    * [[pqTopK]] plan (encode to m byte-codes, per-query ADC lookup
    * tables, approximate shortlist, exact re-rank) made bit-replayable:
    * codebook j holds the j-th sub-slices of the `ksub` lowest-id
    * vectors' codes, the encode argmax scores `sub·c - |c|²/2` are
    * integers or exact half-integers, ADC sums are integer sums, and
    * the refine step ranks by the quantized cosine. Ties -> lowest code
    * / lowest neighbor_id at every stage. */
  def pqTopKPinned(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int, ksub: Int, refine: Int): DataFrame = {
    val spark = corpus.sparkSession
    val c = withCodeNorm(sq8Codes(corpus, idCol, vecCol, "neighbor_id", "__cc"),
      "__cc", "__cn")
    val q = withCodeNorm(sq8Codes(queries, idCol, vecCol, "query_id", "__qc"),
      "__qc", "__qn")
    val seeds = pinnedCodebook(c, "neighbor_id", "__cc", ksub)
    val dim = seeds.head.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val books: Seq[Seq[Seq[Double]]] =
      (0 until m).map(j => seeds.map(_.slice(j * sub, (j + 1) * sub)))

    // same staged-sub-vector + nested-literal HOF shape as pqTopK
    def staged(df: DataFrame, vc: String, keep: Seq[Column]): DataFrame =
      df.select((keep :+ col(vc)) ++
        (0 until m).map(j => slice(col(vc), j * sub + 1, sub).as(s"__s$j")): _*)
    def lutOf(j: Int): Column =
      transform(typedlit(books(j)), ct => nativeDot(spark, col(s"__s$j"), ct))
    def codeOf(j: Int): Column = {
      val nh = typedlit(books(j).map(ct => ct.map(x => x * x).sum / 2.0))
      val scores = zip_with(lutOf(j), nh, (d, h) => d - h)
      (array_position(scores, array_max(scores)) - 1).cast("int")
    }
    val encoded = staged(c, "__cc", Seq(col("neighbor_id"), col("__cn")))
      .select(
        (col("neighbor_id") +: col("__cc") +: col("__cn") +:
          (0 until m).map(j => codeOf(j).as(s"__c$j"))): _*)
    val withLut = staged(q, "__qc", Seq(col("query_id"), col("__qn")))
      .select(
        (col("query_id") +: col("__qc") +: col("__qn") +:
          (0 until m).map(j => lutOf(j).as(s"__lut$j"))): _*)
    val approx = (0 until m).map(j =>
      element_at(col(s"__lut$j"), col(s"__c$j") + 1)).reduce(_ + _)
    val scanned = withLut.crossJoin(encoded)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("__approx", approx)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("__approx").desc, col("neighbor_id"))
    val shortlist = scanned
      .withColumn("__ar", row_number().over(wA))
      .where(col("__ar") <= k * refine)
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .withColumn("cos", nativeDot(spark, col("__qc"), col("__cc")) /
        (col("__qn") * col("__cn")))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** IVF x PQ with BOTH stages pinned — the composed production stack
    * ([[ivfPqTopK]]'s plan: coarse bucket + m codes per corpus row,
    * probe join on the bucket id, ADC scan, shortlist, exact re-rank)
    * fully under the hash oracle. Coarse centroids = codes of the
    * `nlist` lowest ids; PQ books = sub-slices of the `ksub` lowest
    * ids' codes; all scores integer-exact; re-rank by quantized
    * cosine. */
  def ivfPqTopKPinned(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int, nprobe: Int, m: Int, ksub: Int, refine: Int): DataFrame = {
    val spark = corpus.sparkSession
    val c = withCodeNorm(sq8Codes(corpus, idCol, vecCol, "neighbor_id", "__cc"),
      "__cc", "__cn")
    val q = withCodeNorm(sq8Codes(queries, idCol, vecCol, "query_id", "__qc"),
      "__qc", "__qn")
    val cents = pinnedCodebook(c, "neighbor_id", "__cc", nlist)
    val seeds = pinnedCodebook(c, "neighbor_id", "__cc", ksub)
    val dim = cents.head.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val books: Seq[Seq[Seq[Double]]] =
      (0 until m).map(j => seeds.map(_.slice(j * sub, (j + 1) * sub)))

    def coarseDots(v: Column): Column =
      array(cents.map(ct => nativeDot(spark, v, array(ct.map(lit): _*))): _*)
    def subCols(vc: String): Seq[Column] =
      (0 until m).map(j => slice(col(vc), j * sub + 1, sub).as(s"__s$j"))
    def bookLut(j: Int): Column =
      transform(typedlit(books(j)), ct => nativeDot(spark, col(s"__s$j"), ct))

    val cStaged = c.select(
      (col("neighbor_id") +: col("__cc") +: col("__cn") +:
        coarseDots(col("__cc")).as("__cd") +: subCols("__cc")): _*)
    val encoded = cStaged.select(
      (col("neighbor_id") +: col("__cc") +: col("__cn") +:
        (array_position(col("__cd"), array_max(col("__cd"))) - 1).cast("int")
          .as("__bucket") +:
        (0 until m).map { j =>
          val nh = typedlit(books(j).map(ct => ct.map(x => x * x).sum / 2.0))
          val scores = zip_with(bookLut(j), nh, (d, h) => d - h)
          (array_position(scores, array_max(scores)) - 1).cast("int").as(s"__c$j")
        }): _*)
      .localCheckpoint() // read by the code scan AND the shortlist refine join
    val probeList = slice(centroidOrder(coarseDots(col("__qc")), cents.length),
      1, math.min(nprobe, cents.length))
    val qStaged = q.select(
      (col("query_id") +: col("__qc") +: col("__qn") +:
        probeList.as("__probes") +: subCols("__qc")): _*)
    val withLut = qStaged.select(
      (col("query_id") +: col("__qc") +: col("__qn") +:
        explode(col("__probes")).as("__bucket") +:
        (0 until m).map(j => bookLut(j).as(s"__lut$j"))): _*)
    val approx = (0 until m).map(j =>
      element_at(col(s"__lut$j"), col(s"__c$j") + 1)).reduce(_ + _)
    val scanned = withLut
      .join(encoded.drop("__cc", "__cn").hint("shuffle_hash"), Seq("__bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("__approx", approx)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("__approx").desc, col("neighbor_id"))
    val shortlist = scanned
      .withColumn("__ar", row_number().over(wA))
      .where(col("__ar") <= k * refine)
      .select(col("query_id"), col("__qc"), col("__qn"), col("neighbor_id"))
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .join(encoded.select(col("neighbor_id"), col("__cc"), col("__cn")),
        Seq("neighbor_id"))
      .withColumn("cos", nativeDot(spark, col("__qc"), col("__cc")) /
        (col("__qn") * col("__cn")))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** ±1 weight of pinned hyperplane `j` at dimension `i`: the parity
    * of `bit_count(j * 2654435761 + i * 40503)` — a fixed integer
    * formula BOTH engines evaluate identically (DuckDB's `bit_count`),
    * so unlike the xxhash-derived Rademacher family in
    * [[HyperplaneSig]], an oracle can rebuild the whole plane set. */
  private[graft] def pinnedSign(j: Int, i: Int): Double =
    if (java.lang.Long.bitCount(j.toLong * 2654435761L + i.toLong * 40503L) % 2 == 0)
      1.0 else -1.0

  /** Hyperplane-LSH near-neighbor pairs with a PINNED plane family over
    * SQ8 codes — [[lshCosinePairs]]' plan (signature → banded bucket
    * self-join → exact verify) made bit-replayable: plane weights come
    * from [[pinnedSign]]'s integer-parity formula (not hashes), the
    * per-plane dot runs over integer codes (sign of an exact integer
    * sum — no float sign-flip ambiguity at the boundary), and the
    * verify uses the quantized cosine. Gates the ENTIRE LSH machinery —
    * signatures, band packing, bucket join, pair dedup, verify — under
    * the hash oracle; s02/s07 keep the trained-regime hyperplane family
    * for the recall/candidate-fraction studies. */
  def lshCosinePairsPinned(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      bits: Int, bands: Int, threshold: Double): DataFrame = {
    require(bits >= 1 && bits <= 62, s"bits=$bits out of range")
    val spark = df.sparkSession
    val c = withCodeNorm(sq8Codes(df, idCol, vecCol, "__id", "__c"), "__c", "__n")
    // all band signatures in ONE generated loop ([[PinnedHyperplaneSig]]
    // — pinnedSign weights inline, sig[b] bit k set iff the plane dot
    // >= 0): the earlier declarative forms were both wrong at the plan
    // level — unrolled `when(element_at(...))` terms blew janino's
    // 64 KB method limit into a silent interpreted fallback (r16
    // CodegenSweep), and the HOF rewrite (`transform` over a 16K-double
    // nested plane literal) was CodegenFallback by construction, i.e.
    // interpreted per element. `dim` is ENFORCED by the kernel: the
    // plane family (and the oracle's replay) is exactly dim wide, so a
    // vector of any other length fails loudly instead of folding extra
    // dimensions into silently-divergent signatures.
    val mode = GuardConf.mode(spark, LshGuardKey)
    val sigs = c
      .withColumn("__sigs",
        PinnedHyperplaneSig.column(spark, col("__c"), bits, bands, dim))
      .select(col("__id"), col("__c"), col("__n"), col("__sigs"))
      .localCheckpoint() // both self-join sides read it (see lshScoredCandidates)
    val nVecs = sigs.count()
    val exploded = sigs.select(col("__id"), col("__c"), col("__n"),
      posexplode(col("__sigs")).as(Seq("__band", "__sig")))
    sq8CosineAbove(BucketSelfJoin(exploded, Seq("__band", "__sig"),
      Sq8Payload, bands, nVecs, Some(lshBandGuard(mode, bands, nVecs))),
      threshold)
  }

  /** The two SQ8 columns (codes, code norm) each side of a pinned pair
    * join carries into [[sq8CosineAbove]]. */
  private val Sq8Payload = Seq(("__c", "ca", "cb"), ("__n", "na", "nb"))

  /** The quantized-cosine verify of the SQ8-code pair joins: pairs at
    * cosine >= `threshold`, one row per pair. A pair sharing several
    * buckets repeats with a bit-identical cosine, so max == the value. */
  private def sq8CosineAbove(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.select(col("id_a"), col("id_b"),
        (nativeDot(pairs.sparkSession, col("ca"), col("cb")) /
          (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= threshold)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("cos")).as("cos"))

  /** Conf key: band-bucket candidate budget for the hyperplane-LSH
    * pair joins ([[lshCosinePairs]], s02/s07's trained family, and the
    * pinned twin [[lshCosinePairsPinned]], s14). Default 2e9 raw
    * pairs: hyperplane bucket mass tracks true ANGULAR near-dup
    * density (random signatures collide per band at 2^-bits), so the
    * budget exists for the corpus where one vector — or one tight
    * direction — is mass-duplicated into a giant bucket. */
  val LshBudgetKey = "spark.graft.lsh.maxCandidatePairs"

  /** Conf key: `enforce` (default) | `warn` | `off` — the vector-LSH
    * twin of the MinHash guard's mode switch. */
  val LshGuardKey = "spark.graft.lsh.guard"

  /** Guard-trip counter (enforce + warn), suite observability. */
  private[graft] val lshGuardTrips =
    new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] val LshGuard = GuardFamily(LshBudgetKey, LshGuardKey,
    2000000000L, lshGuardTrips)

  /** The trained-family signature table (`__id`, `__v` unit vector,
    * `__sigs` one signature per band) — shared by
    * [[lshScoredCandidates]] and [[lshMassProbe]]. */
  private def lshSignatureTable(df: DataFrame, idCol: String,
      vecCol: String, bits: Int, bands: Int): DataFrame =
    normalizedVectors(df, idCol, vecCol).select(col("__id"), col("__v"),
      hyperplaneSignatures(df.sparkSession, col("__v"), bits, bands)
        .as("__sigs"))

  /** The hyperplane-LSH band guard shared by [[lshScoredCandidates]]
    * and [[lshCosinePairsPinned]]; a refusal names the remedies. */
  private def lshBandGuard(mode: String, bands: Int,
      n: Long): BucketSelfJoin.Guard =
    BucketSelfJoin.Guard(LshGuard, mode, (mass, budget) =>
      f"hyperplane-LSH pair join (bands=$bands): the band-bucket join " +
        f"would surface ~$mass%,d candidate pairs over $n%,d vectors — " +
        f"past the $budget%,d budget ($LshBudgetKey). Bucket mass " +
        "tracks true angular near-dup density, so this corpus is " +
        "pathologically self-similar (mass-duplicated vectors or one " +
        "tight direction concentrating the buckets). Exact-dedup the " +
        "vectors first, or sharpen the parameters (more bits per band " +
        "— lshParamsFor derives the collision-bounded choice).")

  /** Sweep face of the LSH band guard: build the trained-family
    * signature table at (bits, bands) and return the exact band-bucket
    * mass — ScaleCheck prints it next to the default budget. */
  def lshMassProbe(df: DataFrame, idCol: String, vecCol: String,
      bits: Int, bands: Int): Long = {
    val sigs = lshSignatureTable(df, idCol, vecCol, bits, bands)
      .select(col("__sigs")).localCheckpoint() // the pushdown barrier under the explode
    GuardConf.bucketPairMass(
      sigs.select(posexplode(col("__sigs")).as(Seq("__band", "__sig"))))
  }

  /** Conf key: within-list pair budget for the FIXED-nlist IVF dedup
    * joins (the d09/d15 shape). Default 2e8 — above sf1.0's measured
    * mass (~5e7 at 20k vectors, nlist 16), below the sf5.0 wall
    * (~1.25e9 at 100k vectors — the 52 s run). */
  val IvfBudgetKey = "spark.graft.ivf.maxPairMass"

  /** Conf key: `enforce` (default) | `warn` | `off` — the IVF twin of
    * the banded-SimHash guard's mode switch. */
  val IvfGuardKey = "spark.graft.ivf.guard"

  /** Guard-trip counter (enforce + warn), suite observability. */
  private[graft] val ivfGuardTrips =
    new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] val IvfGuard = GuardFamily(IvfBudgetKey, IvfGuardKey,
    200000000L, ivfGuardTrips)

  /** The FIXED-nlist IVF pair guard shared by [[ivfCosinePairs]] and
    * [[ivfCosinePairsPinned]]: with nlist fixed, within-list pair mass
    * is n²·nassign²/nlist — quadratic, measured at 52 s for 100k
    * vectors at sf5.0 — so a refusal names the sqrt-scale operating
    * point. The worst case is attainable: a vector's k assignments land
    * in DISTINCT lists, so at most k full lists of n. The SCALED variant
    * ([[ivfCosinePairsPinnedScaled]]) is deliberately unguarded: its
    * mass is ~n^1.5 BY DESIGN — the operating curve a large corpus
    * chooses knowingly. `n` is by-name: read only on a refusal. */
  private def ivfPairGuard(mode: String, n: => Long, k: Int, nlist: Int,
      nassign: Int): BucketSelfJoin.Guard =
    BucketSelfJoin.Guard(IvfGuard, mode, (mass, budget) =>
      f"fixed-nlist IVF pair join: the within-list self-join would " +
        f"surface ~$mass%,d pairs over ${n * k}%,d assignment rows " +
        f"(nlist=$nlist, nassign=$nassign) — past the $budget%,d " +
        f"budget ($IvfBudgetKey). With nlist fixed the pair mass grows " +
        "~n²·nassign²/nlist (the wall measured in SCALING.md: 52 s at " +
        "100k vectors). Scale-safe operating point: " +
        "ivfCosinePairsPinnedScaled (d27), whose nlist grows as " +
        "2*ceil(sqrt(n)) and bounds the mass at ~n^1.5 — or raise " +
        "nlist explicitly.")

  /** The pinned coarse quantizer over a checkpointed SQ8 code table (`__id`,
    * `__c`): (k, each vector's k = min(nassign, |codebook|) nearest
    * pinned centroid ids — integer-dot argsort, ties -> lowest id).
    * Shared by [[ivfCosinePairsPinned]] and [[ivfMassProbe]]. */
  private def pinnedAssignment(c: DataFrame, nlist: Int,
      nassign: Int): (Int, Column) = {
    val spark = c.sparkSession
    val cents = pinnedCodebook(c, "__id", "__c", nlist)
    val k = math.min(nassign, cents.length)
    def dots(v: Column): Column =
      array(cents.map(ct => nativeDot(spark, v, array(ct.map(lit): _*))): _*)
    (k, slice(centroidOrder(dots(col("__c")), cents.length), 1, k))
  }

  /** Sweep face of the fixed-nlist IVF guard (r18 verdict item 4: the
    * second wall must be as visible as the first): the EXACT within-
    * list pair mass the guard would measure for
    * [[ivfCosinePairsPinned]] at (nlist, nassign) — ScaleCheck prints
    * it next to the default budget so one command shows the wall's
    * position, the way CodegenSweep shows codegen health. */
  def ivfMassProbe(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, nassign: Int): Long = {
    val c = sq8Codes(df, idCol, vecCol, "__id", "__c").localCheckpoint()
    GuardConf.bucketPairMass(
      c.select(explode(pinnedAssignment(c, nlist, nassign)._2).as("__bucket")))
  }

  /** [[ivfCosinePairs]] (the SemDeDup semantic-dedup shape) with the
    * PINNED coarse quantizer: every vector joins its `nassign` nearest
    * pinned centroids (integer-dot argsort, ties -> lowest id), pairs
    * co-bucketed anywhere verify with the quantized cosine. Same
    * sum-of-squared-list-sizes cost bound as the trained variant; fully
    * oracle-replayable. Guarded past [[IvfBudgetKey]] — see
    * [[ivfPairGuard]]. */
  def ivfCosinePairsPinned(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nlist: Int, nassign: Int): DataFrame = {
    val spark = df.sparkSession
    val mode = GuardConf.mode(spark, IvfGuardKey)
    // checkpointed: the codebook collect, the guard, and both join sides
    // read it (the scaled variant's discipline, adopted here with the guard)
    val c = withCodeNorm(sq8Codes(df, idCol, vecCol, "__id", "__c"),
      "__c", "__n").localCheckpoint()
    lazy val n = c.count()
    val (k, assignList) = pinnedAssignment(c, nlist, nassign)
    val assigned = c.select(col("__id"), col("__c"), col("__n"),
      explode(assignList).as("__bucket"))
    sq8CosineAbove(BucketSelfJoin(assigned, Seq("__bucket"), Sq8Payload, k,
      n, Some(ivfPairGuard(mode, n, k, nlist, nassign))), threshold)
  }

  /** [[ivfCosinePairsPinned]] at the SCALE operating point. Two things
    * change, neither of them the semantics:
    *
    *   - `nlist` GROWS with the corpus — `2·ceil(sqrt(n))`, clamped to
    *     [16, 4096] (the FAISS-family guidance). With nlist fixed the
    *     within-list pair mass is n²·nassign²/nlist — quadratic, the
    *     wall d09 hit at sf5.0 (52 s at 100k vectors); at sqrt-scale
    *     nlist it is ~n^1.5·nassign²/2, the bound a real corpus needs.
    *   - assignment runs as a BROADCAST JOIN against the centroid-code
    *     frame instead of codegen'd literal arrays: nlist literal
    *     arrays in one projection blow past janino's 64 KB method
    *     limit long before sqrt-scale nlist (the s14 lesson at plan
    *     level), while the join shape is nlist-independent — one
    *     broadcast, n·nlist scored rows, a per-vector top-nassign
    *     window.
    *
    * Pinned semantics are bit-identical to [[ivfCosinePairsPinned]]
    * (suite-pinned at equal nlist): centroids are the codes of the
    * `nlist` lowest-id vectors, assignment argmax over integer dots
    * with ties → lowest centroid id, quantized-cosine verify. The
    * DuckDB oracle replays the whole pipeline with the SAME dynamic
    * nlist (a scalar subquery over the corpus count).
    *
    * `nlistOverride > 0` pins nlist (tests; cross-checking the trained
    * variant). One extra count() job sizes nlist — at scale the count
    * is a metadata-only parquet rowcount.
    *
    * ID CONTRACT (ADVICE r17): "the `nlist` lowest-id vectors" is
    * implemented as `__id < nlist`, which equals that set only when ids
    * are DENSE FROM 0 (the pinned-codebook contract the whole pinned
    * family shares). With sparse or offset ids the codebook would
    * silently shrink — and because the oracle uses the same predicate,
    * the hash gate could not catch the degradation — so the centroid
    * count is asserted and a non-dense corpus fails loudly instead. */
  def ivfCosinePairsPinnedScaled(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nassign: Int, nlistOverride: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val c = withCodeNorm(sq8Codes(df, idCol, vecCol, "__id", "__c"),
      "__c", "__n").localCheckpoint() // both join sides read it too
    val n = c.count()
    val nlist = if (nlistOverride > 0) nlistOverride
      else math.max(16L, math.min(4096L,
        2L * math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
    val cents = c.where(col("__id") < nlist)
      .select(col("__id").as("__cid"), col("__c").as("__cc"))
    val nCents = cents.count() // cheap: reads the checkpoint, nlist rows out
    require(nCents == math.min(nlist.toLong, n),
      s"ivfCosinePairsPinnedScaled needs ids dense from 0 (the pinned-" +
        s"codebook contract): expected ${math.min(nlist.toLong, n)} " +
        s"centroids at __id < $nlist over $n rows, found $nCents — " +
        "re-key the corpus (e.g. row_number() - 1) before calling")
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("__dot").desc, col("__cid"))
    // score NARROW: the window below shuffles its whole input, and at
    // n·nlist rows the code arrays would dominate it (~600 B/row vs
    // 24 B — measured 38 GB vs 1.5 GB at sf5.0, and an OOM at a 2 GB
    // heap). Carry only (id, cid, dot) through the shuffle and rejoin
    // the codes per assigned row afterwards (n·nassign rows).
    val top = c.crossJoin(broadcast(cents))
      .select(col("__id"), col("__cid"),
        nativeDot(spark, col("__c"), col("__cc")).as("__dot"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= nassign)
      .select(col("__id"), col("__cid").as("__bucket"))
    val assigned = top.join(c, Seq("__id"))
      .select(col("__id"), col("__c"), col("__n"), col("__bucket"))
    sq8CosineAbove(BucketSelfJoin(assigned, Seq("__bucket"), Sq8Payload,
      nassign, n, None), threshold)
  }

  /** Cluster-balanced corpus selection — the DataComp/DCLM curation
    * shape that follows semantic dedup: assign every vector to its
    * nearest pinned centroid (top-1 integer-dot argmax, ties → lowest
    * centroid id — d15's quantizer), then keep a deterministic
    * per-cluster quota of ceil(cluster_size / denom) in md5(id) order.
    * Per-cluster quotas instead of one global sample: dense embedding
    * modes (boilerplate, templates) cannot crowd rare clusters out of
    * the selected corpus — diversity is enforced structurally, not
    * hoped for.
    *
    * Output is `(id, cluster_id, picked)` for EVERY vector — the flag
    * form keeps the operator a pure per-row decision surface (callers
    * filter on `picked`; an oracle hashes every decision, kept or
    * dropped). md5(id) order is a deterministic uniform permutation,
    * so the quota is an unbiased within-cluster sample both engines
    * replay bit-for-bit.
    *
    * Scale shape: the fixed-nlist literal-array assignment serves gate
    * scales — past that use [[clusterBalancedSelectScaled]] (broadcast-
    * join assignment, sqrt-scale nlist — the d27 lesson applied); the
    * quota is one ordered window PER CLUSTER, so each cluster
    * (~n/nlist rows) must fit a task's sort budget — nlist is the
    * scale knob, exactly as in the IVF pair joins. */
  def clusterBalancedSelect(
      df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, denom: Int): DataFrame = {
    require(denom >= 1, s"denom must be >= 1, got $denom")
    val spark = df.sparkSession
    // checkpointed: the codebook collect, the counts aggregation, and
    // the join probe side all read the coded frame — otherwise the sq8
    // encode + assignment argmax would run three times over the corpus
    // (code-review finding; the pinned pair variants' discipline)
    val c = sq8Codes(df, idCol, vecCol, "__id", "__c").localCheckpoint()
    val cents = pinnedCodebook(c, "__id", "__c", nlist)
    def dots(v: Column): Column =
      array(cents.map(ct => nativeDot(spark, v, array(ct.map(lit): _*))): _*)
    val best = element_at(centroidOrder(dots(col("__c")), cents.length), 1)
    val assigned = c.select(col("__id"), best.cast("long").as("__cluster"))
    val counts = assigned.groupBy("__cluster")
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(col("__cluster"))
      .orderBy(md5(col("__id").cast("string")), col("__id"))
    assigned.join(broadcast(counts), Seq("__cluster"))
      .withColumn("__rn", row_number().over(w))
      .select(col("__id").as(idCol), col("__cluster").as("cluster_id"),
        when(col("__rn") <= expr(s"(__cnt + ${denom - 1}) div $denom"),
          lit(1L)).otherwise(lit(0L)).as("picked"))
  }

  /** [[clusterBalancedSelect]] at the SCALE operating point — the d27
    * lesson applied to the selection step (r18 verdict item 2). Two
    * things change, neither of them the semantics:
    *
    *   - `nlist` GROWS with the corpus — `2·ceil(sqrt(n))`, clamped to
    *     [16, 4096] (the FAISS-family guidance, exactly
    *     [[ivfCosinePairsPinnedScaled]]'s rule). The per-cluster quota
    *     window sorts ~n/nlist rows per task, so fixed nlist makes the
    *     cluster sort grow linearly with the corpus; sqrt-scale nlist
    *     bounds it at ~sqrt(n)/2 — the budget a real corpus needs.
    *   - assignment runs as a BROADCAST JOIN against the centroid-code
    *     frame instead of codegen'd literal arrays (nlist literal
    *     arrays blow janino's 64 KB method limit long before
    *     sqrt-scale nlist), and because selection needs only the TOP-1
    *     centroid, the argmax is a `max_by` AGGREGATION — map-side
    *     combine collapses the n·nlist scored rows to one per vector
    *     per partition, where d27's top-nassign window would shuffle
    *     them all.
    *
    * Pinned semantics are bit-identical to [[clusterBalancedSelect]] at
    * equal nlist (suite-pinned): centroids are the codes of the `nlist`
    * lowest-id vectors, assignment argmax over integer dots with ties →
    * lowest centroid id, md5(id)-order quota. The DuckDB oracle replays
    * the whole pipeline with the SAME dynamic nlist (a scalar subquery
    * over the corpus count). Dense-from-0 ids asserted loudly (the
    * pinned-codebook contract — ADVICE r17's lesson inherited). */
  def clusterBalancedSelectScaled(
      df: DataFrame, idCol: String, vecCol: String,
      denom: Int, nlistOverride: Int = 0): DataFrame = {
    require(denom >= 1, s"denom must be >= 1, got $denom")
    val spark = df.sparkSession
    val c = sq8Codes(df, idCol, vecCol, "__id", "__c").localCheckpoint()
    val n = c.count()
    val nlist = if (nlistOverride > 0) nlistOverride
      else math.max(16L, math.min(4096L,
        2L * math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
    val cents = c.where(col("__id") < nlist)
      .select(col("__id").as("__cid"), col("__c").as("__cc"))
    val nCents = cents.count() // cheap: reads the checkpoint, nlist rows out
    require(nCents == math.min(nlist.toLong, n),
      s"clusterBalancedSelectScaled needs ids dense from 0 (the pinned-" +
        s"codebook contract): expected ${math.min(nlist.toLong, n)} " +
        s"centroids at __id < $nlist over $n rows, found $nCents — " +
        "re-key the corpus (e.g. row_number() - 1) before calling")
    // top-1 argmax as a partial-aggregating max_by over the broadcast-
    // scored rows: struct order (dot asc, -cid asc) makes the max the
    // highest dot with ties → lowest centroid id — d15's quantizer
    val assigned = c.crossJoin(broadcast(cents))
      .select(col("__id"),
        nativeDot(spark, col("__c"), col("__cc")).as("__dot"),
        col("__cid"))
      .groupBy(col("__id"))
      .agg(max_by(col("__cid"), struct(col("__dot"), -col("__cid")))
        .as("__cluster"))
    val counts = assigned.groupBy("__cluster")
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(col("__cluster"))
      .orderBy(md5(col("__id").cast("string")), col("__id"))
    assigned.join(broadcast(counts), Seq("__cluster"))
      .withColumn("__rn", row_number().over(w))
      .select(col("__id").as(idCol), col("__cluster").as("cluster_id"),
        when(col("__rn") <= expr(s"(__cnt + ${denom - 1}) div $denom"),
          lit(1L)).otherwise(lit(0L)).as("picked"))
  }

  /** Shared top-k tail: rank scored (query_id, neighbor_id, cos) rows
    * per query and keep the first k. int64 rank: match DuckDB
    * row_number. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Metadata-filtered exact top-k — the "filtered vector search"
    * problem (tenant / language / license scoping): neighbors must share
    * `keyCol` with the query. This is the PRE-FILTER strategy: the
    * candidate join keys on (filter key), so each query scores only its
    * own shard of the corpus and the work falls proportionally with
    * filter selectivity — post-filtering an unfiltered top-k instead
    * silently under-fills k whenever fewer than k of the global
    * neighbors share the key. The query side broadcasts with its key;
    * per-key corpus shards stay distributed, so a 100 TB corpus with a
    * selective filter scans only the matching slice. */
  def bruteForceTopKFiltered(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, keyCol: String, k: Int): DataFrame = {
    // the key rides the normalization projections directly — three
    // narrow per-row selects, NO corpus-wide id self-join to re-attach
    // metadata (that join would shuffle every normalized vector before
    // the filter had a chance to cut anything)
    def withKey(df: DataFrame, idAs: String, vAs: String) =
      df.select(col(idCol).as(idAs), col(keyCol).as("__k"),
          toDouble(col(vecCol)).as("__raw"))
        .select(col(idAs), col("__k"), col("__raw"),
          sqrt(nativeDot(df.sparkSession, col("__raw"), col("__raw")))
            .as("__norm"))
        .select(col(idAs), col("__k"),
          normalized(col("__raw"), col("__norm")).as(vAs))
    val q = withKey(queries, "query_id", "__qv")
    val c = withKey(corpus, "neighbor_id", "__cv")
    val scored = c.join(broadcast(q), "__k")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        nativeDot(queries.sparkSession, col("__qv"), col("__cv")).as("cos"))
    rankTopK(scored, k)
  }

  /** Signed-random-projection (hyperplane LSH) signature: bit `j` is the
    * sign of `sum_i r_ij * v_i` with Rademacher weights `r_ij = ±1` —
    * deterministic, no stored projection matrix. Computed by the codegen
    * [[HyperplaneSig]] expression (all bands in one generated loop), so
    * band/bit counts are chosen by recall math, not expression-tree size. */
  def hyperplaneSignatures(spark: SparkSession, v: Column, bits: Int,
      bands: Int, seed: Long = 42L): Column =
    HyperplaneSig.column(spark, v, bits, bands, seed)

  /** LSH candidate pairs with their exact cosine, deduplicated across
    * bands: vectors sharing any band signature are candidates. The
    * pre-threshold form exists so tests can pin the candidate-set size
    * (the prune) independently of the similarity cut. */
  def lshScoredCandidates(
      df: DataFrame, idCol: String, vecCol: String,
      bits: Int, bands: Int): DataFrame = {
    val mode = GuardConf.mode(df.sparkSession, LshGuardKey)
    // compute + checkpoint all band signatures BEFORE the explode: the
    // checkpoint is a predicate-pushdown barrier, without which the
    // optimizer's inferred Generate/join-key filters re-evaluate the
    // whole signature chain per row (see TextOps); it also serves both
    // self-join sides
    val sigs = lshSignatureTable(df, idCol, vecCol, bits, bands).localCheckpoint()
    val nVecs = sigs.count()
    val withSigs = sigs.select(col("__id"), col("__v"),
      posexplode(col("__sigs")).as(Seq("__band", "__sig")))
    BucketSelfJoin(withSigs, Seq("__band", "__sig"), Seq(("__v", "va", "vb")),
        bands, nVecs, Some(lshBandGuard(mode, bands, nVecs)))
      .select(col("id_a"), col("id_b"),
        nativeDot(df.sparkSession, col("va"), col("vb")).as("cos"))
      .distinct()
  }

  /** LSH-bucketed approximate near-neighbor pairs: candidates from
    * shared band buckets, exact cosine verifies. Bucket-local join
    * fan-out — the 100 TB shape for all-pairs similarity. */
  def lshCosinePairs(
      df: DataFrame, idCol: String, vecCol: String,
      bits: Int, bands: Int, threshold: Double): DataFrame =
    lshScoredCandidates(df, idCol, vecCol, bits, bands)
      .where(col("cos") >= threshold)

  /** (bits, bands) for a cosine threshold, derived from the
    * random-hyperplane collision model instead of hand-tuning: a pair at
    * cosine t collides per bit with p = 1 - arccos(t)/π, per band with
    * p^bits; a RANDOM pair (cos ≈ 0, the zero-centered-corpus case)
    * collides per band with 2^-bits. Chooses the smallest `bits` whose
    * recall-sufficient band count
    *   bands = ceil( ln(1-targetRecall) / ln(1-p^bits) )
    * keeps the expected random-pair candidate fraction
    * `bands * 2^-bits` at or below `maxCandidateFrac` — so the candidate
    * set is a vanishing fraction of n², not a constant one (the
    * difference between Θ(n²) and near-linear at 100x corpus scale).
    *
    * t=0.85 (real near-dup regime) yields ~(15, 54): recall ≥ 0.95 with
    * ~0.16% expected random collisions. t=0.4 is REJECTED by this model
    * for tight fractions — per-bit p ≈ 0.63 forces fraction-heavy
    * parameter choices, which is exactly why s02 documents that regime
    * as hard. */
  def lshParamsFor(threshold: Double, targetRecall: Double = 0.95,
      maxCandidateFrac: Double = 0.002, maxBands: Int = 256): (Int, Int) = {
    require(threshold > 0 && threshold < 1, "threshold must be in (0,1)")
    require(targetRecall > 0 && targetRecall < 1, "targetRecall must be in (0,1)")
    val p = 1.0 - math.acos(threshold) / math.Pi
    val fits = (4 to 30).iterator.map { bits =>
      val pBand = math.pow(p, bits)
      val bands = math.ceil(math.log1p(-targetRecall) / math.log1p(-pBand)).toInt
      (bits, bands, bands * math.pow(0.5, bits))
    }.find { case (_, bands, frac) =>
      bands <= maxBands && frac <= maxCandidateFrac
    }
    fits.map { case (bits, bands, _) => (bits, bands) }.getOrElse(
      throw new IllegalArgumentException(
        s"no (bits<=30, bands<=$maxBands) meets recall=$targetRecall with " +
          s"candidate fraction<=$maxCandidateFrac at threshold=$threshold — " +
          "relax maxCandidateFrac or raise maxBands"))
  }

  /** Deterministic planted near-duplicates: for each row with
    * `idCol < count`, a copy at `idCol + idOffset` whose vector is
    * `v + eps * (|v|/|n|) * n` with hash-derived noise components n_i in
    * [-0.5, 0.5], rescaled to the VECTOR'S OWN NORM — so the planted
    * pair sits at cos ≈ 1/sqrt(1+eps²) (eps=0.4 → ~0.93) regardless of
    * the corpus' norm scale (the synthetic embeddings are ~unit-norm;
    * unscaled noise would swamp them). Pure column expressions
    * (xxhash64 of (id, position)) — deterministic, partition-count
    * independent, one narrow projection at any scale. Each derivation
    * (noise, norms, scale) is staged as its own projection so the
    * zip_with lambda reads bound attributes, not re-evaluated
    * subtrees (HOF pitfall — see [[normalized]]). Output schema matches
    * (idCol, vecCol) with the vector as doubles. */
  def plantNearDuplicates(df: DataFrame, idCol: String, vecCol: String,
      count: Long, idOffset: Long, eps: Double): DataFrame = {
    val planted = df.where(col(idCol) < count)
      .select((col(idCol) + idOffset).as(idCol), toDouble(col(vecCol)).as("__v"))
      .select(col(idCol), col("__v"),
        // noise hash reads the id and the element POSITION: reproducible
        // and position-unique
        transform(sequence(lit(1), size(col("__v"))),
          i => (pmod(xxhash64(col(idCol), i), lit(1000L)).cast("double")
            / 1000.0) - 0.5).as("__n"))
      .select(col(idCol), col("__v"), col("__n"),
        sqrt(aggregate(transform(col("__v"), x => x * x), lit(0.0), _ + _))
          .as("__nv"),
        sqrt(aggregate(transform(col("__n"), x => x * x), lit(0.0), _ + _))
          .as("__nn"))
      .select(col(idCol), col("__v"), col("__n"),
        (lit(eps) * col("__nv") / col("__nn")).as("__scale"))
      .select(col(idCol),
        zip_with(col("__v"), col("__n"),
          (x, nz) => x + col("__scale") * nz).as(vecCol))
    df.select(col(idCol), toDouble(col(vecCol)).as(vecCol))
      .unionByName(planted)
  }

  /** IVF (inverted-file) approximate top-k: a coarse quantizer of
    * `nlist` spherical-kmeans centroids is trained driver-side on a
    * BOUNDED sample (standard IVF practice — the training set is a few
    * thousand vectors regardless of corpus size), then
    *
    *   1. every corpus vector is assigned to its nearest centroid — one
    *      codegen dot product per centroid, argmax — a narrow projection;
    *   2. each query probes its `nprobe` closest centroid lists;
    *   3. candidates = equi-join on the centroid id (shuffle on a
    *      low-cardinality, size-balanced key), verified with exact
    *      cosine and ranked per query.
    *
    * At 100 TB the corpus assignment is a single pass and the join
    * touches `nprobe/nlist` of the data per query — the IVF trade-off.
    * Not oracle-expressible (kmeans); recall vs [[bruteForceTopK]] is
    * pinned in ScalaTest. */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int, nprobe: Int,
      sampleSize: Int = 2048, iters: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    val c = normalizedVectors(corpus, idCol, vecCol)
      .select(col("__id").as("neighbor_id"), col("__v").as("__cv"))
    val q = normalizedVectors(queries, idCol, vecCol)
      .select(col("__id").as("query_id"), col("__v").as("__qv"))

    val centroids = trainCentroids(
      sortSample(c.select(col("__cv")).limit(sampleSize).collect()
        .map(_.getSeq[Double](0).toArray)), nlist, iters)

    val centCols = centroids.map(ct => array(ct.map(lit): _*))

    // nearest-centroid argmax: one codegen dot per centroid, then the
    // 1-based position of the max — ties resolve to the lowest index.
    // The dot array is staged as its own column so it is computed once
    // per row, not once per referencing expression (HOF pitfall).
    // NOTE: the literal-array form is deliberate — at nlist=16 the
    // expression tree is small and stays in whole-stage codegen; the
    // nested-literal + transform variant (right for PQ's m*ksub trees)
    // measured 7x SLOWER here because the interpreted HOF evaluator
    // took over the hot corpus-assignment pass.
    def dots(v: Column): Column =
      array(centCols.map(ct => nativeDot(spark, v, ct)): _*)
    val assigned = c.withColumn("__dots", dots(col("__cv")))
      .withColumn("__bucket",
        (array_position(col("__dots"), array_max(col("__dots"))) - 1).cast("int"))
      .drop("__dots")

    // query probes: indices of the nprobe highest-dot centroids —
    // sort (−dot, idx) structs ascending, slice, explode
    val probeList = slice(centroidOrder(dots(col("__qv")), nlist), 1, nprobe)
    val probes = q.select(col("query_id"), col("__qv"),
        explode(probeList).as("__bucket"))

    val scored = probes.join(assigned, Seq("__bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        nativeDot(spark, col("__qv"), col("__cv")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Canonical order for a collected training sample: `limit().collect()`
    * returns rows in partition-dependent order, so kmeans seeding (and
    * therefore every downstream assignment) would vary with the input's
    * partitioning unless the sample is sorted first. Lexicographic on
    * the vector values — data-only, layout-free. */
  private[functions] def sortSample(sample: Array[Array[Double]]): Array[Array[Double]] =
    sample.sortWith { (a, b) =>
      var i = 0
      while (i < a.length && i < b.length && a(i) == b(i)) i += 1
      if (i < a.length && i < b.length) a(i) < b(i) else a.length < b.length
    }

  /** Driver-side spherical k-means (Lloyd's on unit vectors, cosine
    * assignment, renormalized means; empty clusters keep their previous
    * centroid). Deterministic: seeds from evenly spaced sample points. */
  private[functions] def trainCentroids(
      sample: Array[Array[Double]], nlist: Int, iters: Int): Seq[Seq[Double]] = {
    require(sample.nonEmpty, "IVF training sample is empty")
    val dim = sample.head.length
    val n = sample.length
    var cents = Array.tabulate(math.min(nlist, n))(i => sample((i.toLong * n / nlist).toInt))
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Int](cents.length)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.MinValue
        for (ci <- cents.indices) {
          var d = 0.0; var i = 0
          while (i < dim) { d += v(i) * cents(ci)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = ci }
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map { ci =>
        if (counts(ci) == 0) cents(ci)
        else {
          val m = sums(ci)
          val norm = math.sqrt(m.map(x => x * x).sum)
          if (norm == 0.0) cents(ci) else m.map(_ / norm)
        }
      }.toArray
    }
    cents.map(_.toSeq).toSeq
  }

  /** SemDeDup-shaped semantic dedup: cosine near-duplicate pairs via an
    * IVF coarse quantizer instead of the quadratic all-pairs join.
    *
    *   1. train `nlist` spherical-kmeans centroids on a bounded sample
    *      (driver-side, standard IVF practice);
    *   2. assign every vector to its `nassign` nearest centroids — the
    *      multi-assignment is what buys recall across cluster
    *      boundaries (a pair straddling two clusters still co-occurs in
    *      one list when either member is assigned to both);
    *   3. self-join within each centroid list and verify with the exact
    *      codegen cosine.
    *
    * Cost tracks sum of squared list sizes (~n²·nassign²/nlist for
    * balanced lists) instead of n² — the knob a 100 TB corpus needs —
    * but with nlist FIXED that is still quadratic in n, so the join is
    * guarded past [[IvfBudgetKey]] (see [[ivfPairGuard]]; the remedy is
    * [[ivfCosinePairsPinnedScaled]]'s sqrt-scale nlist).
    * Not oracle-expressible (kmeans); recall vs
    * [[bruteForceCosinePairs]] is pinned in ScalaTest. */
  def ivfCosinePairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nlist: Int, nassign: Int,
      sampleSize: Int = 2048, iters: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val mode = GuardConf.mode(spark, IvfGuardKey)
    // checkpointed (r18 ADVICE): the sample collect, the guard's count,
    // the guard's mass aggregation past the short-circuit, and both join
    // sides all read this lineage — otherwise the default enforce mode
    // paid 1-2 extra full normalize-the-corpus scans per call
    val c = normalizedVectors(df, idCol, vecCol).localCheckpoint()
    val centroids = trainCentroids(
      sortSample(c.select(col("__v")).limit(sampleSize).collect()
        .map(_.getSeq[Double](0).toArray)), nlist, iters)
    val centCols = centroids.map(ct => array(ct.map(lit): _*))
    val k = math.min(nassign, centroids.length)
    // top-nassign centroid indices (codegen literal arrays — see the
    // ivfTopK note)
    val assignList = slice(centroidOrder(
      array(centCols.map(ct => nativeDot(spark, col("__v"), ct)): _*), centroids.length), 1, k)
    val assigned = c.select(col("__id"), col("__v"),
      explode(assignList).as("__bucket"))
    // n is lazy: guard=off pays no guard job (code-review finding)
    lazy val n = c.count()
    BucketSelfJoin(assigned, Seq("__bucket"), Seq(("__v", "va", "vb")), k, n,
        Some(ivfPairGuard(mode, n, k, nlist, nassign)))
      .select(col("id_a"), col("id_b"),
        nativeDot(spark, col("va"), col("vb")).as("cos"))
      .where(col("cos") >= threshold)
      // a pair can co-occur in up to nassign shared lists; cosine is
      // bit-deterministic per pair, so grouping collapses exact copies
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("cos")).as("cos"))
  }

  /** Product-quantization ANN with exact re-ranking (ADC + refine).
    *
    * The memory-compression path for 100 TB embedding search: vectors
    * are stored as `m` sub-space codebook indices (m bytes with
    * ksub<=256) instead of 4*dim float bytes — a 32x compression at
    * dim=64/m=8 — and the first-pass scan touches ONLY the codes:
    *
    *   1. train an L2 kmeans codebook per sub-space on a bounded
    *      driver-side sample (standard PQ practice);
    *   2. encode the corpus: per sub-space argmin ||sub - c||, computed
    *      as argmax of (sub·c - |c|²/2) with the codegen dot — one
    *      narrow pass, emits the m-code array;
    *   3. ADC scan: each query precomputes an m x ksub lookup table of
    *      sub-dot-products (query-side columns); the approximate dot of
    *      a (query, code) pair is m array lookups, no float vector ever
    *      shipped;
    *   4. refine: the top `k * refine` by approximate score re-rank
    *      with the exact codegen cosine — only the shortlist touches
    *      full vectors.
    *
    * Composes with IVF (assign + per-list codes) when even the code
    * scan must shrink. Not oracle-expressible (kmeans); recall vs
    * [[bruteForceTopK]] and the encode determinism are pinned in
    * ScalaTest. */
  def pqTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, ksub: Int = 16, refine: Int = 4,
      sampleSize: Int = 2048, iters: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    val c = normalizedVectors(corpus, idCol, vecCol)
      .select(col("__id").as("neighbor_id"), col("__v").as("__cv"))
    val q = normalizedVectors(queries, idCol, vecCol)
      .select(col("__id").as("query_id"), col("__v").as("__qv"))

    val sample = sortSample(c.select(col("__cv")).limit(sampleSize).collect()
      .map(_.getSeq[Double](0).toArray))
    require(sample.nonEmpty, "PQ training sample is empty")
    val dim = sample.head.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    // per-sub-space codebooks (plain L2 kmeans — sub-vectors are not unit)
    val books: Seq[Seq[Seq[Double]]] = (0 until m).map { j =>
      trainCentroidsL2(sample.map(_.slice(j * sub, (j + 1) * sub)), ksub, iters)
    }

    // encode: argmin ||x_j - c||² = argmax (x_j·c - |c|²/2). The m
    // sub-vectors are STAGED as their own columns first — otherwise every
    // one of the m*ksub dot expressions re-slices the full vector
    // (measured ~2x on the encode pass)
    def staged(df: DataFrame, vc: String, keep: Seq[Column]): DataFrame =
      df.select((keep :+ col(vc)) ++
        (0 until m).map(j => slice(col(vc), j * sub + 1, sub).as(s"__s$j")): _*)
    // each codebook rides as ONE nested-array literal and the ksub dot
    // products come from a single transform over it — m small expression
    // trees instead of m*ksub literal arrays, which keeps plan/codegen
    // compilation (the fixed cost that dominated at small scale) flat in
    // ksub while the per-row work is unchanged
    def bookLit(j: Int): Column = typedlit(books(j).map(_.toSeq))
    def lutOf(j: Int): Column =
      transform(bookLit(j), ct => nativeDot(spark, col(s"__s$j"), ct))
    def codeOf(j: Int): Column = {
      val nh = typedlit(books(j).map(ct => ct.map(x => x * x).sum / 2.0))
      val scores = zip_with(lutOf(j), nh, (d, h) => d - h)
      (array_position(scores, array_max(scores)) - 1).cast("int")
    }
    val encoded = staged(c, "__cv", Seq(col("neighbor_id")))
      .select(
        (col("neighbor_id") +: col("__cv") +:
          (0 until m).map(j => codeOf(j).as(s"__c$j"))): _*)

    // ADC: per-query LUT columns lut_j[code] = q_j · c_{j,code}
    val withLut = staged(q, "__qv", Seq(col("query_id")))
      .select(
        (col("query_id") +: col("__qv") +:
          (0 until m).map(j => lutOf(j).as(s"__lut$j"))): _*)
    val approx = (0 until m).map(j =>
      element_at(col(s"__lut$j"), col(s"__c$j") + 1)).reduce(_ + _)

    val scanned = withLut.crossJoin(encoded)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("__approx", approx)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("__approx").desc, col("neighbor_id"))
    val shortlist = scanned
      .withColumn("__ar", row_number().over(wA))
      .where(col("__ar") <= k * refine)
    // refine: exact cosine only on the shortlist
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .withColumn("cos", nativeDot(spark, col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** IVF x PQ — the production 100 TB ANN stack, composed from the two
    * pieces above: the IVF coarse quantizer bounds WHICH codes are
    * scanned (nprobe/nlist of the corpus), PQ bounds HOW MUCH each
    * scanned row costs (m byte-codes + LUT lookups instead of a float
    * vector), and the exact re-rank touches full vectors only for the
    * `k * refine` shortlist. Candidate volume: |corpus| * nprobe/nlist
    * code rows per query, none of them carrying vectors.
    *
    * Codes quantize the raw (normalized) vectors, not residuals —
    * residual encoding buys accuracy at nlist >> 1k but couples the
    * codebook to the quantizer; at these list counts raw-vector codes
    * keep both stages independently testable. */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int, nprobe: Int,
      m: Int = 8, ksub: Int = 16, refine: Int = 8,
      sampleSize: Int = 2048, iters: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    val c = normalizedVectors(corpus, idCol, vecCol)
      .select(col("__id").as("neighbor_id"), col("__v").as("__cv"))
    val q = normalizedVectors(queries, idCol, vecCol)
      .select(col("__id").as("query_id"), col("__v").as("__qv"))

    val sample = sortSample(c.select(col("__cv")).limit(sampleSize).collect()
      .map(_.getSeq[Double](0).toArray))
    require(sample.nonEmpty, "IVF-PQ training sample is empty")
    val dim = sample.head.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m

    // coarse quantizer (spherical, shared with ivfTopK) + PQ codebooks
    val coarse = trainCentroids(sample, nlist, iters)
    val coarseCols = coarse.map(ct => array(ct.map(lit): _*))
    val books = (0 until m).map { j =>
      trainCentroidsL2(sample.map(_.slice(j * sub, (j + 1) * sub)), ksub, iters)
    }

    // nested-array literals + one HOF per codebook — same flat-compile
    // trick as pqTopK (m small trees instead of m*ksub literal arrays)
    def coarseDots(v: Column): Column =
      transform(typedlit(coarse.map(_.toSeq)), ct => nativeDot(spark, v, ct))
    def bookLut(j: Int): Column =
      transform(typedlit(books(j).map(_.toSeq)),
        ct => nativeDot(spark, col(s"__s$j"), ct))
    def subCols(vc: String): Seq[Column] =
      (0 until m).map(j => slice(col(vc), j * sub + 1, sub).as(s"__s$j"))

    // corpus: coarse bucket + PQ codes, one narrow pass; the stored form
    // at scale is exactly this (id, bucket, m codes) — 8 bytes of codes
    val cStaged = c.select(
      (col("neighbor_id") +: col("__cv") +:
        coarseDots(col("__cv")).as("__cd") +: subCols("__cv")): _*)
    val encoded = cStaged.select(
      (col("neighbor_id") +: col("__cv") +:
        (array_position(col("__cd"), array_max(col("__cd"))) - 1).cast("int")
          .as("__bucket") +:
        (0 until m).map { j =>
          val nh = typedlit(books(j).map(ct => ct.map(x => x * x).sum / 2.0))
          val scores = zip_with(bookLut(j), nh, (d, h) => d - h)
          (array_position(scores, array_max(scores)) - 1).cast("int").as(s"__c$j")
        }): _*)
      .localCheckpoint() // read by the code scan AND the shortlist refine join

    // queries: nprobe bucket probes + the ADC lookup tables
    val probeList = slice(centroidOrder(coarseDots(col("__qv")), coarse.length),
      1, math.min(nprobe, coarse.length))
    val qStaged = q.select(
      (col("query_id") +: col("__qv") +: probeList.as("__probes") +:
        subCols("__qv")): _*)
    val withLut = qStaged.select(
      (col("query_id") +: col("__qv") +:
        explode(col("__probes")).as("__bucket") +:
        (0 until m).map(j => bookLut(j).as(s"__lut$j"))): _*)

    // probe join on the bucket id; score = m LUT lookups, no vectors
    val approx = (0 until m).map(j =>
      element_at(col(s"__lut$j"), col(s"__c$j") + 1)).reduce(_ + _)
    val scanned = withLut
      .join(encoded.drop("__cv").hint("shuffle_hash"), Seq("__bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("__approx", approx)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("__approx").desc, col("neighbor_id"))
    val shortlist = scanned
      .withColumn("__ar", row_number().over(wA))
      .where(col("__ar") <= k * refine)
      .select(col("query_id"), col("__qv"), col("neighbor_id"))
    // refine: fetch full vectors ONLY for the shortlist
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .join(encoded.select(col("neighbor_id"), col("__cv")), Seq("neighbor_id"))
      .withColumn("cos", nativeDot(spark, col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Driver-side plain (Euclidean) Lloyd's kmeans for PQ sub-space
    * codebooks; deterministic evenly-spaced seeding, empty clusters keep
    * their previous centroid. */
  private[functions] def trainCentroidsL2(
      sample: Array[Array[Double]], kk: Int, iters: Int): Seq[Seq[Double]] = {
    require(sample.nonEmpty, "kmeans sample is empty")
    val dim = sample.head.length
    val n = sample.length
    var cents = Array.tabulate(math.min(kk, n))(i => sample((i.toLong * n / kk).toInt))
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Int](cents.length)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        for (ci <- cents.indices) {
          var dd = 0.0; var i = 0
          while (i < dim) {
            val diff = v(i) - cents(ci)(i); dd += diff * diff; i += 1
          }
          if (dd < bestD) { bestD = dd; best = ci }
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map { ci =>
        if (counts(ci) == 0) cents(ci)
        else sums(ci).toSeq.map(_ / counts(ci)).toArray
      }.toArray
    }
    cents.map(_.toSeq).toSeq
  }

  /** Exact all-pairs cosine near-duplicates above a threshold — the
    * embedding-space dedup baseline. Quadratic; the LSH variant is the
    * scale path. */
  def bruteForceCosinePairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // both sides of the quadratic join read the normalized vectors
    val base = normalizedVectors(df, idCol, vecCol).localCheckpoint()
    val l = base.select(col("__id").as("id_a"), col("__v").as("va"))
    val r = base.select(col("__id").as("id_b"), col("__v").as("vb"))
    l.join(r, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        nativeDot(df.sparkSession, col("va"), col("vb")).as("cos"))
      .where(col("cos") >= threshold)
  }
}
