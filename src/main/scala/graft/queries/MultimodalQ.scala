package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.multimodal.{MediaFixture, Multimodal, PinnedMediaMath}
import graft.functions.VectorOps

/** Registry coverage for the multimodal plumbing: synthetic media corpus
  * → per-partition batched feature extraction (REAL kernels: ImageIO
  * histogram+DCT for images, javax.sound PCM spectrum for audio, GVC1
  * demux for video; byte-hash only for unknown payloads) → per-kind
  * rollup, and video frame sampling. Rows-only checks: binary decode
  * kernels are not SQL-expressible. */
object MultimodalQ {

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "mm01_media_features",
      (s, d) => {
        val media = Multimodal.syntheticMedia(s, Tables(s, d, "documents"))
        val feats = Multimodal.extractFeatures(media, dim = 64).toDF()
        val kinds = media.toDF().select(col("media_id"), col("meta.kind").as("kind"))
        feats.join(kinds, "media_id")
          .groupBy(col("kind"))
          .agg(count(lit(1)).as("n_media"),
            // 1-based index 33 = byte bucket 32 (the space character) —
            // always populated for text-derived payloads
            avg(element_at(col("feature"), 33)).as("avg_f32"))
          .orderBy("kind")
      },
      None),

    QueryDef(
      "mm02_frame_sample",
      (s, d) => {
        val media = Multimodal.syntheticMedia(s, Tables(s, d, "documents"))
        Multimodal.sampleFrames(media, everyMs = 500).toDF()
          .groupBy(col("media_id"))
          .agg(count(lit(1)).as("n_frames"),
            sum(length(col("frame_bytes"))).as("total_bytes"))
          .orderBy("media_id")
      },
      None),

    // ---- mm03: image near-dup detection (pHash + banded Hamming join) ----
    // the multimodal face of SimHash dedup: re-encoded duplicates of the
    // corpus images must pair with their originals through the same
    // pigeonhole banding + exact bit_count verify the text path uses.
    // (The corpus query plants exact duplicates; RESIZE-invariance on
    // structured images is pinned in MultimodalSuite.) Rows-only —
    // binary decode kernels are not SQL-expressible.
    QueryDef(
      "mm03_image_neardup",
      (s, d) => {
        import s.implicits._
        val images = Multimodal
          .syntheticMedia(s, Tables(s, d, "documents"))
          .filter(_.meta.kind == "image")
        val dupes = images.map(m => m.copy(media_id = m.media_id + 1000000L))
        val pairs = Multimodal.imageNearDupPairs(
          images.union(dupes), maxHamming = 10)
        pairs
          .where(col("id_b") === col("id_a") + 1000000L)
          .select(col("id_a"), col("id_b"), col("hamming"))
          .orderBy("id_a")
      },
      None),

    // ---- mm04: audio near-dup detection (spectral hash + banded join) ----
    // the audio face of the same dedup machinery: each clip's Goertzel
    // spectrum folds to a 64-bit sign-vs-median hash, and the planted
    // duplicates are GAIN-SCALED copies (half volume) — the hash is
    // volume-invariant by construction, so re-normalized re-uploads of
    // the same recording dedup without waveform comparison. Rows-only
    // (PCM decode kernels are not SQL-expressible); invariance and
    // pair recovery pinned in MultimodalSuite.
    QueryDef(
      "mm04_audio_neardup",
      (s, d) => {
        import s.implicits._
        val audios = Multimodal
          .syntheticMedia(s, Tables(s, d, "documents"))
          .filter(_.meta.kind == "audio")
        val dupes = audios.map(m => m.copy(
          media_id = m.media_id + 1000000L,
          bytes = Multimodal.scaleWavGain(m.bytes, 0.5)))
        Multimodal.audioNearDupPairs(audios.union(dupes), maxHamming = 4)
          .where(col("id_b") === col("id_a") + 1000000L)
          .select(col("id_a"), col("id_b"), col("hamming"))
          .orderBy("id_a")
      },
      None),

    // ---- mm05: inference head + ANN over media embeddings ----------------
    // the full multimodal retrieval stack: decode → feature kernel →
    // model head (seeded random projection, JL-preserving, unit-norm) →
    // the SAME hyperplane-LSH machinery text embeddings use. Resized
    // variants must be recovered as near-dups of their originals in
    // EMBEDDING space — proving resize invariance survives the whole
    // inference + ANN composition, not just the pHash shortcut (mm03).
    QueryDef(
      "mm05_media_embed_ann",
      (s, d) => {
        import s.implicits._
        val images = Multimodal
          .syntheticMedia(s, Tables(s, d, "documents"))
          .filter(_.meta.kind == "image")
        val resized = Multimodal.resize(images, maxSide = 12)
          .map(m => m.copy(media_id = m.media_id + 1000000L))
        val feats = Multimodal.extractFeatures(images.union(resized), dim = 64)
        val emb = Multimodal.embedFeatures(feats, outDim = 32)
        val (bits, bands) = VectorOps.lshParamsFor(0.8)
        VectorOps.lshCosinePairs(emb, "media_id", "embedding",
            bits = bits, bands = bands, threshold = 0.8)
          .where(col("id_b") === col("id_a") + 1000000L)
          .select(col("id_a"), col("id_b"), col("cos"))
          .orderBy("id_a")
      },
      None),

    // ---- mm06: compressed media serving — the mm05 embeddings pushed
    // through SQ8 quantization (1 byte/dim) and searched with the same
    // quantized-cosine top-k text vectors use (s10). The serving-side
    // composition: decode → feature → embed → COMPRESS → retrieve.
    // Resized variants must still retrieve their originals at rank 1
    // from codes 8x smaller than the float embeddings (pinned in
    // MultimodalSuite; rows-only — the inference head is hash-seeded).
    QueryDef(
      "mm06_media_sq8",
      (s, d) => {
        import s.implicits._
        val images = Multimodal
          .syntheticMedia(s, Tables(s, d, "documents"))
          .filter(_.meta.kind == "image")
        val resized = Multimodal.resize(images, maxSide = 12)
          .map(m => m.copy(media_id = m.media_id + 1000000L))
        val feats = Multimodal.extractFeatures(images.union(resized), dim = 64)
        val emb = Multimodal.embedFeatures(feats, outDim = 32).localCheckpoint()
        val queries = emb.where(col("media_id") >= 1000000L)
        val corpus = emb.where(col("media_id") < 1000000L)
        VectorOps.sq8TopK(queries, corpus, "media_id", "embedding", k = 1)
          .select(col("query_id"), col("neighbor_id"),
            (col("neighbor_id") === col("query_id") - 1000000L)
              .as("recovered_original"))
          .orderBy("query_id")
      },
      None),

    // ---- mm07+: the ORACLE-GATED multimodal family --------------------
    // DuckDB cannot decode media, so the oracle boundary moves to the
    // decoded planes (MediaFixture: committed parquet of REAL ImageIO /
    // javax.sound / GVC1 decode output over a deterministic corpus).
    // Decode gates re-run the real decoders live and must reproduce the
    // fixture bit-for-bit; math gates replay fixed-point DCT/spectrum/
    // JL+SQ8 on both sides with shared inlined integer constants
    // (PinnedMediaMath) — the s11–s14 pinned-twin pattern at the media
    // boundary.

    // mm07: REAL PNG pixel decode vs the persisted planes. Any change in
    // the decode path (color model handling, row order, channel pick)
    // breaks the hash match.
    QueryDef(
      "mm07_image_decode_pinned",
      (s, d) =>
        MediaFixture.imagePlanes(MediaFixture.media(s)).toDF()
          .orderBy("media_id", "y", "x"),
      Some(s"""
        SELECT media_id, y, x, v
        FROM read_parquet('${MediaFixture.dir}/image_planes/*.parquet')
        ORDER BY media_id, y, x""")),

    // mm08: the pHash feature math (16×16 integer DCT + median sign
    // bits) over the planes, replayed in DuckDB with the inlined
    // fixed-point basis — the perceptual-hash transform itself is now
    // under the oracle, not just invariance-pinned.
    QueryDef(
      "mm08_phash_dct_pinned",
      (s, d) => PinnedMediaMath.phash(s),
      Some(PinnedMediaMath.phashOracle)),

    // mm09: REAL WAV→PCM decode vs the persisted samples (lossless
    // short↔double round-trip), the audio sibling of mm07.
    QueryDef(
      "mm09_audio_decode_pinned",
      (s, d) =>
        MediaFixture.audioSamples(MediaFixture.media(s)).toDF()
          .orderBy("media_id", "i"),
      Some(s"""
        SELECT media_id, i, s
        FROM read_parquet('${MediaFixture.dir}/audio_samples/*.parquet')
        ORDER BY media_id, i""")),

    // mm10: the spectral band math (Goertzel family restated as
    // quadrature sums against a 64-phase fixed-point comb) over the
    // decoded samples — per (clip, band) integer sums, one partial-
    // aggregating groupBy, no recurrence.
    QueryDef(
      "mm10_spectrum_pinned",
      (s, d) => PinnedMediaMath.spectrum(s),
      Some(PinnedMediaMath.spectrumOracle)),

    // mm11: the serving stack — DCT features → Rademacher projection
    // head → SQ8 encode (corpus min/max, clamped) → integer-dot top-1 —
    // fully integral, every stage replayed by the oracle (the mm05/mm06
    // composition with the float head swapped for its pinned twin).
    QueryDef(
      "mm11_embed_sq8_pinned",
      (s, d) => PinnedMediaMath.embedSq8Top1(s),
      Some(PinnedMediaMath.embedSq8Oracle)),

    // mm12: REAL GVC1 demux + as-of frame sampling + per-frame decode:
    // the sampled frame's pixel mass must equal the fixture's planes for
    // the frame the as-of rule selects — gates demuxing, timestamp
    // selection, and frame decode in one pass.
    QueryDef(
      "mm12_video_demux_pinned",
      (s, d) => {
        import s.implicits._
        val vids = MediaFixture.media(s).filter(_.meta.kind == "video")
        Multimodal.sampleFrames(vids, everyMs = 500)
          .map(f => (f.media_id, f.frame_idx,
            MediaFixture.decodePx(f.frame_bytes)
              .map(px => px.iterator.flatMap(_.iterator.map(_.toLong)).sum)
              .getOrElse(-1L)))
          .toDF("media_id", "sample_idx", "px_sum")
          .orderBy("media_id", "sample_idx")
      },
      Some(s"""
        WITH fr AS (
          SELECT * FROM read_parquet('${MediaFixture.dir}/video_frames/*.parquet')
        ),
        meta AS (SELECT media_id, MAX(duration_ms) AS dur FROM fr GROUP BY 1),
        frix AS (SELECT DISTINCT media_id, frame_idx, ts_ms FROM fr),
        smp0 AS (
          SELECT media_id, unnest(range(GREATEST(dur // 500, 1))) AS si
          FROM meta
        ),
        smp AS (
          SELECT media_id, CAST(si AS INT) AS sample_idx, si * 500 AS t
          FROM smp0
        ),
        -- LEFT join + COALESCE to frame 0 replays sampleFrames' clamp
        -- (frames(math.max(at, 0))): a sample earlier than every frame
        -- timestamp selects frame 0 instead of vanishing — reachable
        -- only for containers whose first frame starts past 0, but the
        -- oracle must mirror the operator, not the current corpus
        sel AS (
          SELECT s.media_id, s.sample_idx,
                 COALESCE(MAX(f.frame_idx), 0) AS fidx
          FROM smp s LEFT JOIN frix f
            ON f.media_id = s.media_id AND f.ts_ms <= s.t
          GROUP BY 1, 2
        )
        SELECT sel.media_id, sel.sample_idx,
               CAST(SUM(fr.v) AS BIGINT) AS px_sum
        FROM sel JOIN fr
          ON fr.media_id = sel.media_id AND fr.frame_idx = sel.fidx
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // mm13: image→video retrieval by frame-level maxsim — every demuxed
    // frame embedded independently (pinned DCT → projection → SQ8), a
    // video scores as the best of its frames, top-1 per query image.
    // The late-interaction shape (s15/s16) at the media boundary, fully
    // under the oracle.
    QueryDef(
      "mm13_video_maxsim_pinned",
      (s, d) => PinnedMediaMath.videoMaxsimTop1(s),
      Some(PinnedMediaMath.videoMaxsimOracle)),

    // mm14: the image near-dup JOIN under the oracle — planes-level
    // planted duplicates, pinned pHash halves packed to one 64-bit
    // word, and the SAME banded pigeonhole Hamming join the text path
    // rides (mm03 keeps the real-AWT variant); the oracle replays the
    // hash chain and checks exact 64-bit Hamming on all pairs. Over
    // the r18 md5-noise fixture the gate is EDGE-SET-EXACT: the output
    // is precisely the planted (id, id+1e6) pairs at hamming 0 —
    // suite-pinned — not planted-pairs-plus-degenerate-collisions.
    QueryDef(
      "mm14_image_neardup_pinned",
      (s, d) => PinnedMediaMath.imageNearDupPinned(s, maxHamming = 4),
      Some(PinnedMediaMath.imageNearDupOracle(maxHamming = 4))),

    // mm15: mm14's audio sibling — sample-level planted duplicates,
    // 32-band quadrature SIGN hash (comparisons only, no powers), the
    // same banded Hamming join; oracle replays the sums, signs, and
    // exact 64-bit Hamming (mm04 keeps the real float-Goertzel variant).
    QueryDef(
      "mm15_audio_neardup_pinned",
      (s, d) => PinnedMediaMath.audioNearDupPinned(s, maxHamming = 4),
      Some(PinnedMediaMath.audioNearDupOracle(maxHamming = 4))),

    // mm16: the near-dup triad's VIDEO member — duplicates planted at
    // the demuxed frame-planes level, every frame pinned-pHashed
    // independently, videos pair when EVERY aligned frame is within
    // the Hamming budget ("same cut" semantics). The scale path is the
    // same banded pigeonhole join over a composite (video, frame) key
    // — cost is frames x bands, never videos² — with alignment and the
    // all-frames rule as cheap post-filters; the oracle replays the
    // per-frame hash chain and the worst-aligned-frame rule exactly.
    QueryDef(
      "mm16_video_neardup_pinned",
      (s, d) => PinnedMediaMath.videoNearDupPinned(s, maxHamming = 4),
      Some(PinnedMediaMath.videoNearDupOracle(maxHamming = 4))),

    // mm19: resize invariance under the oracle (r18 verdict item 6) —
    // per-image pHash drift between each structured gradient plane and
    // its pinned separable box-resize. The claim mm03 carries only as
    // a float-suite pin (resized re-uploads hash near their originals)
    // restated as an exact per-row ledger DuckDB replays bit-for-bit;
    // the suite pins the drift bound. (A cross-id edge set over a
    // structured corpus would inherit the gradient degeneracy the r18
    // noise fixture retired — the honest oracle surface is the drift.)
    QueryDef(
      "mm19_resize_drift_pinned",
      (s, d) => PinnedMediaMath.resizeDriftPinned(s),
      Some(PinnedMediaMath.resizeDriftOracle)),

    // mm20: resized RETRIEVAL under the oracle — mm11's pinned serving
    // stack (DCT → Rademacher head → SQ8 → integer-dot top-1) with the
    // box-resized twins as queries against the original corpus: the
    // resize-invariance-of-retrieval claim mm05/mm06 carry as float
    // suite pins, fully hash-gated; the suite pins the recovery rate.
    QueryDef(
      "mm20_resized_retrieval_pinned",
      (s, d) => PinnedMediaMath.resizedRetrievalPinned(s),
      Some(PinnedMediaMath.resizedRetrievalOracle)),

    // mm18: the FUSED media ingest path as a batch operator, oracle-
    // gated and floor-tracked (r17 verdict item 3: the bench carried no
    // fused-media representative). mm14 rides the pixel-row SQL
    // dataflow; this runs the PRODUCTION ingest shape — raw payload
    // bytes through the single codegen'd decode+DCT+sign expression
    // (MediaPhash, w28's kernel: one row per media, never pixels) —
    // then the same banded Hamming join. Oracle = mm14's replay
    // verbatim, so the fused kernel's bit-equality to the pinned chain
    // is re-proven by the hash gate every round, and BENCH_r{N} floors
    // the bytes→pairs latency of the path a 100 TB media corpus runs.
    QueryDef(
      "mm18_image_neardup_fused",
      (s, d) => {
        // materialize the synthetic payloads ONCE (checkpoint) so the
        // timed region measures the ingest path
        // — fused decode+hash+join — not two passes of PNG synthesis
        // through the union's duplicated lineage (code-review finding)
        val images = MediaFixture.media(s)
          .filter(_.meta.kind == "image").toDF()
          .select(col("media_id"), col("bytes"))
          .localCheckpoint()
        val planted = images.unionByName(
          images.withColumn("media_id", col("media_id") + 1000000L))
        val hashes = planted.select(col("media_id"),
          graft.multimodal.MediaPhash.column(s, col("bytes")).as("simhash"))
        graft.functions.TextOps.simHashPairs(hashes, "media_id", 4)
          .select(col("id_a"), col("id_b"),
            col("hamming").cast("int").as("hamming"))
          .orderBy("id_a", "id_b")
      },
      Some(PinnedMediaMath.imageNearDupOracle(maxHamming = 4)),
      bench = true),

    // mm17: cross-modal duplicate CLOSURE — one near-dup graph over BOTH
    // modalities: image edges from the pinned pHash banded Hamming join,
    // text edges from caption 3-gram Jaccard (the prefix-filtered
    // shingle machinery), connected components over the union. The
    // planted re-encode (image edge only) and caption-only repost (text
    // edge only) share no modality with each other, yet must co-cluster
    // through their base item — the closure property a per-modality
    // dedup cannot express. The oracle replays the hash chain, the
    // shingle Jaccard, the edge union, and the transitive closure.
    QueryDef(
      "mm17_crossmodal_dedup_pinned",
      (s, d) => PinnedMediaMath.crossModalDedupPinned(s, maxHamming = 4),
      Some(PinnedMediaMath.crossModalDedupOracle(maxHamming = 4)))
  )
}
