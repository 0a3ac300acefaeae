package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-point twins of the multimodal feature math, replayable in
  * DuckDB over the [[MediaFixture]] planes — the pinned-twin pattern
  * that put the ANN family under the oracle (s11–s14), applied to the
  * pHash DCT, the spectral bands, and the JL+SQ8 serving stack.
  *
  * Every transcendental constant (DCT basis, cos/sin tables, projection
  * signs) is computed ONCE here in Scala and INLINED into the oracle
  * SQL as a VALUES literal, so the DuckDB replay shares the exact
  * integers the Spark side uses — zero SQL transcendentals, zero
  * float-rounding surface. All per-row math is 64-bit-safe integer
  * arithmetic; divisions only ever see non-negative operands (Spark's
  * `div` truncates toward zero, DuckDB's `//` floors — they agree only
  * on non-negatives, so the SQ8 encode clamps BEFORE dividing).
  *
  * Float vs pinned: the float kernels ([[Multimodal.imageFeature]],
  * [[Multimodal.audioFeature]], [[Multimodal.embedFeatures]]) stay the
  * production path with invariance suites; these twins pin the SAME
  * algorithmic structure (resample-free 16×16 DCT + median sign bits,
  * per-band quadrature sums, sign projection + SQ8 + integer-dot top-k)
  * under the bit-exact oracle.
  */
object PinnedMediaMath {

  // ---- shared constant tables (Scala is the single source of truth) ----

  /** Orthonormal 16-point DCT-II basis, fixed-point at 2^15:
    * c(k,i) = round(sqrt((k==0?1:2)/16) * cos(pi*(2i+1)k/32) * 32768). */
  val dctBasis16: Seq[(Int, Int, Long)] =
    for (k <- 0 until 16; i <- 0 until 16) yield {
      val c = math.sqrt((if (k == 0) 1.0 else 2.0) / 16.0) *
        StrictMath.cos(math.Pi * (2 * i + 1) * k / 32.0)
      (k, i, Math.round(c * 32768.0))
    }

  /** First 64 zigzag positions of the 16×16 spectrum, DC excluded —
    * (u, v, zigzag index, 2^(z mod 32) as a precomputed power so the
    * hash assembly needs no shift functions on either side). */
  val zigzag16: Seq[(Int, Int, Int, Long)] = {
    val buf = Seq.newBuilder[(Int, Int, Int, Long)]
    var taken = 0
    var s = 1
    while (taken < 64 && s <= 30) {
      var u = math.min(s, 15)
      while (taken < 64 && u >= math.max(0, s - 15)) {
        buf += ((u, s - u, taken, 1L << (taken % 32)))
        taken += 1
        u -= 1
      }
      s += 1
    }
    buf.result()
  }

  /** Quadrature tables for the 64-phase band comb, fixed-point at 2^14:
    * the spectrum bands are the DFT bins whose phase k*i cycles through
    * a 64-entry table — cos(2*pi*j/64), sin(2*pi*j/64). */
  val cosSin64: Seq[(Int, Long, Long)] =
    for (j <- 0 until 64) yield
      (j, Math.round(StrictMath.cos(2 * math.Pi * j / 64.0) * 16384.0),
        Math.round(StrictMath.sin(2 * math.Pi * j / 64.0) * 16384.0))

  /** Rademacher (+-1) projection signs for the 16×64 pinned inference
    * head — sign = bit 16 of (o*64+z+1)*2654435761 (Knuth hash; the
    * product stays far below 2^63, so Java and DuckDB agree). */
  val projSign: Seq[(Int, Int, Int)] =
    for (o <- 0 until 16; z <- 0 until 64) yield
      (o, z, if ((((o * 64 + z + 1) * 2654435761L) >> 16 & 1L) == 1L) 1 else -1)

  // ---- SQL literal builders -------------------------------------------

  private def values3(rows: Seq[(Int, Int, Long)]): String =
    rows.map { case (a, b, c) => s"($a,$b,$c)" }.mkString(",")
  private def values4(rows: Seq[(Int, Int, Int, Long)]): String =
    rows.map { case (a, b, c, d) => s"($a,$b,$c,$d)" }.mkString(",")
  private def values3i(rows: Seq[(Int, Int, Int)]): String =
    rows.map { case (a, b, c) => s"($a,$b,$c)" }.mkString(",")
  private def valuesJcs(rows: Seq[(Int, Long, Long)]): String =
    rows.map { case (a, b, c) => s"($a,$b,$c)" }.mkString(",")

  private def fx = MediaFixture.dir

  /** CTE chain computing the integer DCT coefficients (media_id, z, p,
    * o) from the image planes — shared by the pHash and embed oracles.
    * 16×16 is the native synthetic frame grid, so no resample sits
    * between the pixels and the transform. */
  private def dctCtes: String =
    dctCtesFrom(s"SELECT * FROM read_parquet('$fx/image_planes/*.parquet')")

  /** The same chain over an arbitrary planes SELECT (mm14 plants
    * re-keyed duplicates before the transform). */
  private def dctCtesFrom(planesSql: String): String = s"""
    basis(u, i, c) AS (VALUES ${values3(dctBasis16)}),
    zig(zu, zv, z, p) AS (VALUES ${values4(zigzag16)}),
    planes AS ($planesSql),
    tmp AS (
      SELECT media_id, b.u, p.y, CAST(SUM(p.v * b.c) AS BIGINT) AS t
      FROM planes p JOIN basis b ON p.x = b.i
      GROUP BY 1, 2, 3
    ),
    spec AS (
      SELECT t.media_id, t.u, b.u AS v2, CAST(SUM(t.t * b.c) AS BIGINT) AS o
      FROM tmp t JOIN basis b ON t.y = b.i
      GROUP BY 1, 2, 3
    ),
    coeffs AS (
      SELECT s.media_id, z.z, z.p, s.o
      FROM spec s JOIN zig z ON s.u = z.zu AND s.v2 = z.zv
    )"""

  /** Shared hash-assembly CTEs over `coeffs`: the per-image rank, the
    * integral median pair, and the two 32-bit hash halves — one copy,
    * used by both the mm08 and mm14 oracles so the median/tie-break
    * rules cannot drift. Exposes `hsh(media_id, lo, hi)`. */
  private def hashCtes: String = s"""
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY o, z) AS rk
      FROM coeffs
    ),
    med AS (
      SELECT media_id,
             CAST(SUM(CASE WHEN rk IN (32, 33) THEN o END) AS BIGINT) AS m2
      FROM ranked GROUP BY 1
    ),
    hsh AS (
      SELECT r.media_id,
             CAST(SUM(CASE WHEN 2 * r.o > m.m2 AND r.z < 32 THEN r.p
                           ELSE 0 END) AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN 2 * r.o > m.m2 AND r.z >= 32 THEN r.p
                           ELSE 0 END) AS BIGINT) AS hi
      FROM ranked r JOIN med m USING (media_id)
      GROUP BY 1
    )"""

  /** DuckDB replay of [[phash]]. */
  def phashOracle: String = s"""
    WITH $dctCtes,
    $hashCtes
    SELECT media_id, lo AS hash_lo, hi AS hash_hi
    FROM hsh ORDER BY media_id"""

  /** DuckDB replay of [[imageNearDupPinned]]: the planted-duplicate
    * planes through the same DCT+hash chain, then exact 64-bit Hamming
    * over the hash halves on the all-pairs join (oracle-side O(n²) is
    * fine at verification scale — the Spark side rides the banded
    * pigeonhole join). */
  def imageNearDupOracle(maxHamming: Int): String = {
    val raw = s"SELECT * FROM read_parquet('$fx/image_planes/*.parquet')"
    s"""
    WITH ${dctCtesFrom(s"""
      SELECT media_id, y, x, v FROM ($raw)
      UNION ALL
      SELECT media_id + 1000000, y, x, v FROM ($raw)""")},
    $hashCtes
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
             AS INT) AS hamming
    FROM hsh a JOIN hsh b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
            <= $maxHamming
    ORDER BY id_a, id_b"""
  }

  /** Band-index powers for the 32-band sign hash: (band, 2^(band-1)) —
    * precomputed so neither side needs shift functions. */
  val bandPow32: Seq[(Int, Long)] =
    (1 to 32).map(k => (k, 1L << (k - 1)))

  private def bandPowValues: String =
    bandPow32.map { case (k, p) => s"($k,$p)" }.mkString(",")

  /** DuckDB replay of [[audioNearDupPinned]]: planted duplicates at the
    * SAMPLE level, 32 quadrature bands, sign-bit hash halves (re-signs
    * = lo, im-signs = hi — comparisons only, no power computation), and
    * exact 64-bit Hamming on the all-pairs join. */
  def audioNearDupOracle(maxHamming: Int): String = {
    val raw = s"SELECT * FROM read_parquet('$fx/audio_samples/*.parquet')"
    s"""
    WITH cossin(j, cc, ss) AS (VALUES ${valuesJcs(cosSin64)}),
    bp(band, pw) AS (VALUES $bandPowValues),
    samples AS (
      SELECT media_id, i, s FROM ($raw)
      UNION ALL
      SELECT media_id + 1000000, i, s FROM ($raw)),
    bands AS (
      SELECT sa.media_id, b.band,
             CAST(SUM(sa.s * cs.cc) AS BIGINT) AS x_re,
             CAST(SUM(sa.s * cs.ss) AS BIGINT) AS x_im
      FROM samples sa CROSS JOIN bp b
      JOIN cossin cs ON (b.band * sa.i) % 64 = cs.j
      GROUP BY 1, 2),
    h AS (
      SELECT bd.media_id,
             CAST(SUM(CASE WHEN bd.x_re > 0 THEN b.pw ELSE 0 END)
               AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN bd.x_im > 0 THEN b.pw ELSE 0 END)
               AS BIGINT) AS hi
      FROM bands bd JOIN bp b USING (band)
      GROUP BY 1)
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
             AS INT) AS hamming
    FROM h a JOIN h b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
            <= $maxHamming
    ORDER BY id_a, id_b"""
  }

  /** DuckDB replay of [[spectrum]]. */
  def spectrumOracle: String = s"""
    WITH cossin(j, cc, ss) AS (VALUES ${valuesJcs(cosSin64)}),
    bands(band) AS (VALUES (1),(2),(3),(4),(5),(6),(7),(8)),
    samples AS (SELECT * FROM read_parquet('$fx/audio_samples/*.parquet'))
    SELECT sa.media_id, b.band,
           CAST(SUM(sa.s * cs.cc) AS BIGINT) AS x_re,
           CAST(SUM(sa.s * cs.ss) AS BIGINT) AS x_im
    FROM samples sa CROSS JOIN bands b
    JOIN cossin cs ON (b.band * sa.i) % 64 = cs.j
    GROUP BY 1, 2 ORDER BY 1, 2"""

  /** DuckDB replay of [[embedSq8Top1]]. */
  def embedSq8Oracle: String = s"""
    WITH $dctCtes,
    proj(po, pz, psign) AS (VALUES ${values3i(projSign)}),
    emb AS (
      SELECT c.media_id, p.po, CAST(SUM(c.o * p.psign) AS BIGINT) AS e
      FROM coeffs c JOIN proj p ON c.z = p.pz
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT po, MIN(e) AS mn, MAX(e) AS mx FROM emb
      WHERE (media_id // 3) % 4 != 0 GROUP BY 1
    ),
    codes AS (
      SELECT e.media_id, e.po,
             CASE WHEN s.mx > s.mn
                  THEN (LEAST(s.mx, GREATEST(s.mn, e.e)) - s.mn) * 255
                         // (s.mx - s.mn)
                  ELSE 0 END AS code
      FROM emb e JOIN stats s USING (po)
    ),
    dots AS (
      SELECT q.media_id AS qid, c.media_id AS cid,
             CAST(SUM(q.code * c.code) AS BIGINT) AS dot
      FROM codes q JOIN codes c ON q.po = c.po
      WHERE (q.media_id // 3) % 4 = 0 AND (c.media_id // 3) % 4 != 0
      GROUP BY 1, 2
    ),
    top AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY dot DESC, cid) AS rk
      FROM dots
    )
    SELECT qid AS query_id, cid AS neighbor_id, dot
    FROM top WHERE rk = 1 ORDER BY query_id"""

  /** DuckDB replay of [[videoMaxsimTop1]]. */
  def videoMaxsimOracle: String = s"""
    WITH $dctCtes,
    proj(po, pz, psign) AS (VALUES ${values3i(projSign)}),
    fplanes AS (SELECT * FROM read_parquet('$fx/video_frames/*.parquet')),
    ftmp AS (
      SELECT media_id, frame_idx, b.u, p.y, CAST(SUM(p.v * b.c) AS BIGINT) AS t
      FROM fplanes p JOIN basis b ON p.x = b.i
      GROUP BY 1, 2, 3, 4
    ),
    fspec AS (
      SELECT t.media_id, t.frame_idx, t.u, b.u AS v2,
             CAST(SUM(t.t * b.c) AS BIGINT) AS o
      FROM ftmp t JOIN basis b ON t.y = b.i
      GROUP BY 1, 2, 3, 4
    ),
    fcoeffs AS (
      SELECT s.media_id, s.frame_idx, z.z, s.o
      FROM fspec s JOIN zig z ON s.u = z.zu AND s.v2 = z.zv
    ),
    qemb AS (
      SELECT c.media_id, p.po, CAST(SUM(c.o * p.psign) AS BIGINT) AS e
      FROM coeffs c JOIN proj p ON c.z = p.pz
      WHERE c.media_id < 60 GROUP BY 1, 2
    ),
    femb AS (
      SELECT c.media_id, c.frame_idx, p.po,
             CAST(SUM(c.o * p.psign) AS BIGINT) AS e
      FROM fcoeffs c JOIN proj p ON c.z = p.pz
      GROUP BY 1, 2, 3
    ),
    stats AS (SELECT po, MIN(e) AS mn, MAX(e) AS mx FROM femb GROUP BY 1),
    qc AS (
      SELECT e.media_id AS qid, e.po,
             CASE WHEN s.mx > s.mn
                  THEN (LEAST(s.mx, GREATEST(s.mn, e.e)) - s.mn) * 255
                         // (s.mx - s.mn)
                  ELSE 0 END AS code
      FROM qemb e JOIN stats s USING (po)
    ),
    fc AS (
      SELECT e.media_id AS vid, e.frame_idx, e.po,
             CASE WHEN s.mx > s.mn
                  THEN (LEAST(s.mx, GREATEST(s.mn, e.e)) - s.mn) * 255
                         // (s.mx - s.mn)
                  ELSE 0 END AS code
      FROM femb e JOIN stats s USING (po)
    ),
    fdots AS (
      SELECT q.qid, f.vid, f.frame_idx,
             CAST(SUM(q.code * f.code) AS BIGINT) AS fdot
      FROM qc q JOIN fc f ON q.po = f.po
      GROUP BY 1, 2, 3
    ),
    sims AS (SELECT qid, vid, MAX(fdot) AS sim FROM fdots GROUP BY 1, 2),
    top AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY sim DESC, vid) AS rk
      FROM sims
    )
    SELECT qid AS query_id, vid AS video_id, sim
    FROM top WHERE rk = 1 ORDER BY query_id"""

  // ---- Spark side ------------------------------------------------------

  private def planesDf(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$fx/image_planes")

  private def samplesDf(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$fx/audio_samples")

  import scala.jdk.CollectionConverters._
  private def basisDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    dctBasis16.toDF("u", "i", "c")
  }

  /** Integer DCT coefficients (media_id, z, p, o) from the image
    * planes: two broadcast-basis joins with partial-aggregating
    * group-bys — the separable transform as a distributed dataflow
    * (per-image state never exceeds the 16×16 grid; at corpus scale
    * this is two shuffle-free map-side-combined aggregations per
    * axis, keyed by (media_id, axis index)). */
  def dctCoeffs(spark: SparkSession): DataFrame =
    dctCoeffsOf(spark, planesDf(spark))

  /** The transform over an arbitrary (media_id, y, x, v) plane table —
    * the fixture by default, or a planted-duplicate union (mm14). */
  def dctCoeffsOf(spark: SparkSession, planes: DataFrame): DataFrame = {
    import spark.implicits._
    val basis = basisDf(spark)
    val zig = zigzag16.toDF("zu", "zv", "z", "p")
    val tmp = planes
      .join(broadcast(basis), col("x") === col("i"))
      .groupBy(col("media_id"), col("u"), col("y"))
      .agg(sum(col("v") * col("c")).as("t"))
    val basis2 = basis.toDF("v2", "i2", "c2")
    tmp.join(broadcast(basis2), col("y") === col("i2"))
      .groupBy(col("media_id"), col("u"), col("v2"))
      .agg(sum(col("t") * col("c2")).as("o"))
      .join(broadcast(zig), col("u") === col("zu") && col("v2") === col("zv"))
      .select(col("media_id"), col("z"), col("p"), col("o"))
  }

  /** Pinned perceptual hash: 16×16 integer DCT → 64 zigzag coefficients
    * (DC excluded) → bit i set when 2*coeff_i exceeds the sum of the two
    * middle order statistics (the integral median-compare). Emitted as
    * two 32-bit halves so no value touches the sign bit. */
  def phash(spark: SparkSession): DataFrame =
    phashOf(spark, planesDf(spark))

  /** [[phash]] over an arbitrary plane table. */
  def phashOf(spark: SparkSession, planes: DataFrame): DataFrame = {
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy(col("o"), col("z"))
    val ranked = dctCoeffsOf(spark, planes)
      .withColumn("rk", row_number().over(wq))
    val med = ranked.groupBy("media_id")
      .agg(sum(when(col("rk").isin(32, 33), col("o"))).as("m2"))
    ranked.join(med, "media_id")
      .withColumn("bit", col("o") * 2 > col("m2"))
      .groupBy("media_id")
      .agg(
        sum(when(col("bit") && col("z") < 32, col("p")).otherwise(0L))
          .as("hash_lo"),
        sum(when(col("bit") && col("z") >= 32, col("p")).otherwise(0L))
          .as("hash_hi"))
      .orderBy("media_id")
  }

  /** The pinned 64-bit hash word from its oracle-replayed halves —
    * hi fills bits 32..63, lo bits 0..31. ONE definition (code-review
    * finding): the format is load-bearing for the mm08/mm14/w28 oracles
    * and the streamed sink, so it must not exist as parallel copies
    * that can drift. */
  def packSimhash(hi: org.apache.spark.sql.Column,
      lo: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shiftleft(hi, 32).bitwiseOR(lo)

  /** Pinned image near-dup JOIN: re-keyed duplicates planted at the
    * PLANES level, pinned pHashes packed back to one 64-bit word, and
    * the SAME banded Hamming join the text/image dedup paths ride
    * ([[graft.functions.TextOps.simHashPairs]]) — so the dedup join
    * machinery itself runs under the media oracle, not only the hash.
    * Every planted copy must pair with its original at hamming 0. */
  def imageNearDupPinned(spark: SparkSession, maxHamming: Int): DataFrame = {
    val planes = planesDf(spark)
    val planted = planes.unionByName(
      planes.withColumn("media_id", col("media_id") + 1000000L))
    val hashes = phashOf(spark, planted)
      .select(col("media_id"),
        packSimhash(col("hash_hi"), col("hash_lo")).as("simhash"))
    graft.functions.TextOps.simHashPairs(hashes, "media_id", maxHamming)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("int").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** Pinned spectral bands: per (clip, band) quadrature sums against the
    * 64-phase fixed-point comb — the Goertzel family's output restated
    * as ONE partial-aggregating join+groupBy (no per-sample recurrence,
    * so the 100 TB shape is a plain map-side-combined aggregation). */
  def spectrum(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cs = cosSin64.toDF("j2", "cc", "ss")
    samplesDf(spark)
      .withColumn("band", explode(array((1 to 8).map(lit): _*)))
      .withColumn("j", pmod(col("band") * col("i"), lit(64)))
      .join(broadcast(cs), col("j") === col("j2"))
      .groupBy(col("media_id"), col("band"))
      .agg(sum(col("s") * col("cc")).as("x_re"),
        sum(col("s") * col("ss")).as("x_im"))
      .orderBy("media_id", "band")
  }

  /** Frame-keyed twin of [[dctCoeffs]] over the video_frames fixture:
    * the identical separable transform with (media_id, frame_idx) as
    * the aggregation unit. */
  def frameDctCoeffs(spark: SparkSession): DataFrame =
    frameDctCoeffsOf(spark, spark.read.parquet(s"$fx/video_frames")
      .select(col("media_id"), col("frame_idx"), col("y"), col("x"),
        col("v")))

  /** The frame-keyed transform over an arbitrary (media_id, frame_idx,
    * y, x, v) plane table — the fixture by default, or a
    * planted-duplicate union (mm16). Carries the zigzag bit power `p`
    * so the per-frame HASH can reuse the output directly. */
  def frameDctCoeffsOf(spark: SparkSession, planes: DataFrame): DataFrame = {
    import spark.implicits._
    val basis = basisDf(spark)
    val zig = zigzag16.toDF("zu", "zv", "z", "p")
    val tmp = planes.join(broadcast(basis), col("x") === col("i"))
      .groupBy(col("media_id"), col("frame_idx"), col("u"), col("y"))
      .agg(sum(col("v") * col("c")).as("t"))
    val basis2 = basis.toDF("v2", "i2", "c2")
    tmp.join(broadcast(basis2), col("y") === col("i2"))
      .groupBy(col("media_id"), col("frame_idx"), col("u"), col("v2"))
      .agg(sum(col("t") * col("c2")).as("o"))
      .join(broadcast(zig), col("u") === col("zu") && col("v2") === col("zv"))
      .select(col("media_id"), col("frame_idx"), col("z"), col("p"),
        col("o"))
  }

  /** Per-FRAME pinned pHash — [[phashOf]]'s math with (media_id,
    * frame_idx) as the hash unit: identical ranking, integral-median
    * pair, and sign-bit pack per frame. */
  def framePhashOf(spark: SparkSession, planes: DataFrame): DataFrame = {
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id", "frame_idx").orderBy(col("o"), col("z"))
    val ranked = frameDctCoeffsOf(spark, planes)
      .withColumn("rk", row_number().over(wq))
    val med = ranked.groupBy("media_id", "frame_idx")
      .agg(sum(when(col("rk").isin(32, 33), col("o"))).as("m2"))
    ranked.join(med, Seq("media_id", "frame_idx"))
      .withColumn("bit", col("o") * 2 > col("m2"))
      .groupBy("media_id", "frame_idx")
      .agg(
        sum(when(col("bit") && col("z") < 32, col("p")).otherwise(0L))
          .as("hash_lo"),
        sum(when(col("bit") && col("z") >= 32, col("p")).otherwise(0L))
          .as("hash_hi"))
  }

  /** mm16 — the near-dup triad's VIDEO member (mm14 image, mm15
    * audio): re-keyed duplicates planted at the demuxed FRAME-PLANES
    * level, every frame pinned-pHashed independently, and two videos
    * pair when EVERY aligned frame pair is within `maxHamming` — the
    * strict "same cut" semantics (a planted copy matches on all 4
    * fixture frames at hamming 0; unrelated videos must miss on at
    * least one frame).
    *
    * Scale path: the SAME banded pigeonhole join as the text/image/
    * audio paths, over a composite (media, frame) key — band cost is
    * frames × bands, never videos². Frame alignment and the all-frames
    * requirement are cheap post-filters on the surfaced candidate
    * pairs (a frame pair the pigeonhole join cannot surface has
    * hamming > maxHamming, which correctly kills its video pair under
    * the every-frame semantics). */
  def videoNearDupPinned(spark: SparkSession, maxHamming: Int): DataFrame = {
    val planes = spark.read.parquet(s"$fx/video_frames")
      .select(col("media_id"), col("frame_idx"), col("y"), col("x"),
        col("v"))
    val planted = planes.unionByName(
      planes.withColumn("media_id", col("media_id") + 1000000L))
    videoPairsFromFrameHashes(
      framePhashOf(spark, planted)
        .select(col("media_id"), col("frame_idx"),
          packSimhash(col("hash_hi"), col("hash_lo")).as("simhash")),
      maxHamming)
  }

  /** The every-aligned-frame pairing over a per-frame hash table
    * `(media_id, frame_idx, simhash)` — ONE copy shared by mm16 (batch
    * hashes) and w31 (the streamed spool), so the banded join, the
    * alignment filter, and the all-frames rule cannot drift between
    * the two faces. `nFrames` = frames per clip (the fixture's GVC1
    * containers demux to 4). */
  def videoPairsFromFrameHashes(hashes: DataFrame, maxHamming: Int,
      nFrames: Int = 4): DataFrame = {
    // the composite fid arithmetic is only sound when EVERY clip has
    // exactly frames 0..nFrames-1: a 5-frame clip's frame 4 would
    // alias as frame 0 of the NEXT video id and silently corrupt the
    // pairing; a 3-frame clip could never satisfy the all-frames rule
    // and would silently never pair (code-review finding). Validate
    // loudly — one cheap aggregate over the (tiny) hash table.
    val bad = hashes.groupBy("media_id")
      .agg(count(lit(1)).as("n"), min("frame_idx").as("mn"),
        max("frame_idx").as("mx"))
      .where(col("n") =!= nFrames || col("mn") =!= 0 ||
        col("mx") =!= nFrames - 1)
      .limit(1).collect()
    require(bad.isEmpty,
      s"videoPairsFromFrameHashes expects exactly frames 0..${nFrames - 1} " +
        s"per clip; clip ${bad.headOption.map(_.get(0)).orNull} has " +
        s"${bad.headOption.map(_.get(1)).orNull} rows — pass the clip's " +
        "real frame count as nFrames, or repair the spool")
    val fids = hashes.select(
      (col("media_id") * nFrames + col("frame_idx")).as("fid"),
      col("simhash"))
    graft.functions.TextOps.simHashPairs(fids, "fid", maxHamming)
      // aligned frames only; composite ids of the same video can never
      // pair here (same frame_idx within one video is the same fid)
      .where(pmod(col("id_a"), lit(nFrames)) ===
        pmod(col("id_b"), lit(nFrames)))
      .select(expr(s"id_a div $nFrames").as("vid_a"),
        expr(s"id_b div $nFrames").as("vid_b"),
        pmod(col("id_a"), lit(nFrames)).as("f"),
        col("hamming"))
      .groupBy("vid_a", "vid_b")
      .agg(countDistinct(col("f")).as("nf"),
        max(col("hamming")).as("max_hamming"))
      .where(col("nf") === nFrames) // EVERY aligned frame within budget
      .select(col("vid_a").as("id_a"), col("vid_b").as("id_b"),
        col("max_hamming").cast("int").as("max_hamming"))
      .orderBy("id_a", "id_b")
  }

  /** DuckDB replay of [[videoNearDupPinned]]: frame-level planted
    * duplicates through the per-frame DCT+hash chain, exact aligned
    * all-pairs Hamming, videos pair when the WORST aligned frame is
    * within budget. */
  def videoNearDupOracle(maxHamming: Int): String = {
    val raw = s"SELECT media_id, frame_idx, y, x, v " +
      s"FROM read_parquet('$fx/video_frames/*.parquet')"
    s"""
    WITH basis(u, i, c) AS (VALUES ${values3(dctBasis16)}),
    zig(zu, zv, z, p) AS (VALUES ${values4(zigzag16)}),
    fplanes AS (
      SELECT media_id, frame_idx, y, x, v FROM ($raw)
      UNION ALL
      SELECT media_id + 1000000, frame_idx, y, x, v FROM ($raw)),
    ftmp AS (
      SELECT media_id, frame_idx, b.u, p.y,
             CAST(SUM(p.v * b.c) AS BIGINT) AS t
      FROM fplanes p JOIN basis b ON p.x = b.i
      GROUP BY 1, 2, 3, 4),
    fspec AS (
      SELECT t.media_id, t.frame_idx, t.u, b.u AS v2,
             CAST(SUM(t.t * b.c) AS BIGINT) AS o
      FROM ftmp t JOIN basis b ON t.y = b.i
      GROUP BY 1, 2, 3, 4),
    fcoeffs AS (
      SELECT s.media_id, s.frame_idx, z.z, z.p, s.o
      FROM fspec s JOIN zig z ON s.u = z.zu AND s.v2 = z.zv),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY media_id, frame_idx
                                   ORDER BY o, z) AS rk
      FROM fcoeffs),
    med AS (
      SELECT media_id, frame_idx,
             CAST(SUM(CASE WHEN rk IN (32, 33) THEN o END) AS BIGINT) AS m2
      FROM ranked GROUP BY 1, 2),
    hsh AS (
      SELECT r.media_id, r.frame_idx,
             CAST(SUM(CASE WHEN 2 * r.o > m.m2 AND r.z < 32 THEN r.p
                           ELSE 0 END) AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN 2 * r.o > m.m2 AND r.z >= 32 THEN r.p
                           ELSE 0 END) AS BIGINT) AS hi
      FROM ranked r JOIN med m USING (media_id, frame_idx)
      GROUP BY 1, 2),
    fpairs AS (
      SELECT a.media_id AS id_a, b.media_id AS id_b,
             bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
               AS hamming
      FROM hsh a JOIN hsh b
        ON a.media_id < b.media_id AND a.frame_idx = b.frame_idx)
    SELECT id_a, id_b, CAST(MAX(hamming) AS INT) AS max_hamming
    FROM fpairs GROUP BY 1, 2
    HAVING MAX(hamming) <= $maxHamming
    ORDER BY id_a, id_b"""
  }

  /** mm13: image→video retrieval by frame-level maxsim — every demuxed
    * frame gets its own pinned embedding (DCT → Rademacher → SQ8
    * against FRAME-corpus stats) and a video scores as the best of its
    * frames against the query image; top-1 video per query, ties to the
    * lowest id. The late-interaction shape (s15) at the media boundary:
    * candidate volume is queries × frames through one dimension-keyed
    * equi-join, every stage integral and oracle-replayed. */
  def videoMaxsimTop1(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val proj = projSign.toDF("po", "pz", "psign")
    val fEmb = frameDctCoeffs(spark)
      .join(broadcast(proj), col("z") === col("pz"))
      .groupBy(col("media_id"), col("frame_idx"), col("po"))
      .agg(sum(col("o") * col("psign")).as("e"))
    val qEmb = dctCoeffs(spark)
      .join(broadcast(proj), col("z") === col("pz"))
      .groupBy(col("media_id"), col("po"))
      .agg(sum(col("o") * col("psign")).as("e"))
      .where(col("media_id") < 60)
    val stats = fEmb.groupBy("po").agg(min("e").as("mn"), max("e").as("mx"))
    def coded(df: DataFrame): DataFrame = df
      .join(broadcast(stats), "po")
      .withColumn("code",
        when(col("mx") > col("mn"),
          expr("(least(mx, greatest(mn, e)) - mn) * 255 div (mx - mn)"))
          .otherwise(0L))
    val fc = coded(fEmb).select(col("media_id").as("vid"), col("frame_idx"),
      col("po").as("fo"), col("code").as("fcode"))
    val qc = coded(qEmb).select(col("media_id").as("qid"),
      col("po").as("qo"), col("code").as("qcode"))
    val frameDots = qc.join(fc, col("qo") === col("fo"))
      .groupBy("qid", "vid", "frame_idx")
      .agg(sum(col("qcode") * col("fcode")).as("fdot"))
    val sims = frameDots.groupBy("qid", "vid").agg(max(col("fdot")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("vid"))
    sims.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col("qid").as("query_id"), col("vid").as("video_id"),
        col("sim"))
      .orderBy("query_id")
  }

  /** Pinned audio near-dup JOIN — mm14's audio sibling: duplicates
    * planted at the decoded-SAMPLE level, each clip hashed by the SIGNS
    * of its 32 quadrature band sums (re-signs fill bits 0..31, im-signs
    * 32..63 — pure integer comparisons, no power computation, so no
    * overflow or division surface), and the same banded pigeonhole
    * Hamming join generating the pairs. Identical samples ⇒ identical
    * sums ⇒ hamming 0, so every planted copy must pair. */
  def audioNearDupPinned(spark: SparkSession, maxHamming: Int): DataFrame = {
    import spark.implicits._
    val cs = cosSin64.toDF("j2", "cc", "ss")
    val bp = bandPow32.toDF("band", "pw")
    val samples = samplesDf(spark)
    val planted = samples.unionByName(
      samples.withColumn("media_id", col("media_id") + 1000000L))
    val bands = planted
      .withColumn("band", explode(array((1 to 32).map(lit): _*)))
      .withColumn("j", pmod(col("band") * col("i"), lit(64)))
      .join(broadcast(cs), col("j") === col("j2"))
      .groupBy(col("media_id"), col("band"))
      .agg(sum(col("s") * col("cc")).as("x_re"),
        sum(col("s") * col("ss")).as("x_im"))
    val hashes = bands.join(broadcast(bp), "band")
      .groupBy("media_id")
      .agg(sum(when(col("x_re") > 0, col("pw")).otherwise(0L)).as("lo"),
        sum(when(col("x_im") > 0, col("pw")).otherwise(0L)).as("hi"))
      .select(col("media_id"),
        packSimhash(col("hi"), col("lo")).as("simhash"))
    graft.functions.TextOps.simHashPairs(hashes, "media_id", maxHamming)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("int").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** Pinned serving stack: integer DCT features → Rademacher projection
    * head (16 dims) → SQ8 encode against corpus per-dimension min/max
    * (clamp before the divide: both engines' integer division agree
    * only on non-negatives) → integer-dot top-1 retrieval, query slice
    * = every 4th image. */
  def embedSq8Top1(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val proj = projSign.toDF("po", "pz", "psign")
    val emb = dctCoeffs(spark)
      .join(broadcast(proj), col("z") === col("pz"))
      .groupBy(col("media_id"), col("po"))
      .agg(sum(col("o") * col("psign")).as("e"))
    val isQuery = expr("(media_id div 3) % 4 = 0")
    val stats = emb.where(!isQuery)
      .groupBy("po").agg(min("e").as("mn"), max("e").as("mx"))
    val codes = emb.join(broadcast(stats), "po")
      .withColumn("code",
        when(col("mx") > col("mn"),
          expr("(least(mx, greatest(mn, e)) - mn) * 255 div (mx - mn)"))
          .otherwise(0L))
    val q = codes.where(isQuery)
      .select(col("media_id").as("qid"), col("po").as("qo"),
        col("code").as("qc"))
    val c = codes.where(!isQuery)
      .select(col("media_id").as("cid"), col("po").as("co"),
        col("code").as("cc"))
    val dots = q.join(c, col("qo") === col("co"))
      .groupBy("qid", "cid").agg(sum(col("qc") * col("cc")).as("dot"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("dot").desc, col("cid"))
    dots.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
        col("dot"))
      .orderBy("query_id")
  }

  // ---- mm19/mm20: pinned separable resize — the invariance faces ------
  // (r18 verdict item 6: mm03's resize claim and mm05/mm06's embed
  // claim each get a pinned-math sibling under an exact oracle, the
  // way mm07–mm16 pinned decode/hash/join/serve.)

  /** Items in the structured-plane corpus for the resize faces. */
  private val ResizeItems = 80

  /** One deterministic STRUCTURED 16×16 plane per id: a bilinear ramp
    * `16·a·y + 16·b·x + (c+1)·y·x` with signed coefficients drawn from
    * the id (a ∈ −3..3, b ∈ −2..2, c ∈ 0..2 — 105 distinct direction/
    * curvature combos) plus a ±8 md5 texture. Structure is what resize
    * invariance is ABOUT: box-filtering md5 noise decorrelates the
    * hash (the r18 fixture lesson in reverse), so the gradient corpus
    * lives on exactly the faces that need it (mm19/mm20) while the
    * near-dup edge-set gates (mm14–mm16) keep the noise corpus. */
  private def gradientPlanes(spark: SparkSession, n: Int): DataFrame =
    spark.range(n.toLong * 256L)
      .select(expr("id div 256").as("media_id"),
        expr("CAST((id div 16) % 16 AS INT)").as("y"),
        expr("CAST(id % 16 AS INT)").as("x"))
      // +2048 keeps every pixel (and so every block average below)
      // non-negative — Spark's `div` truncates toward zero and DuckDB's
      // `//` floors, so integral division is engine-portable only on
      // non-negative operands (the SQ8 lesson); a constant offset moves
      // only the DC coefficient, which the zigzag excludes
      .withColumn("v",
        lit(2048L) +
          (col("media_id") % 7 - 3) * col("y") * 16 +
          (col("media_id") % 5 - 2) * col("x") * 16 +
          (col("media_id") % 3 + 1) * col("y") * col("x") +
          conv(substring(md5(concat(
            lit("g:"), col("media_id").cast("string"), lit(":"),
            col("y").cast("string"), lit(":"),
            col("x").cast("string")).cast("binary")), 1, 2), 16, 10)
            .cast("long") % 8)

  /** The DuckDB twin of [[gradientPlanes]]. */
  private def gradientPlanesSql(n: Int): String = s"""
      SELECT i // 256 AS media_id,
             CAST((i // 16) % 16 AS INT) AS y,
             CAST(i % 16 AS INT) AS x,
             2048
               + ((i // 256) % 7 - 3) * ((i // 16) % 16) * 16
               + ((i // 256) % 5 - 2) * (i % 16) * 16
               + ((i // 256) % 3 + 1) * ((i // 16) % 16) * (i % 16)
               + CAST(('0x' || substr(md5(
                   'g:' || CAST(i // 256 AS VARCHAR) || ':' ||
                   CAST((i // 16) % 16 AS VARCHAR) || ':' ||
                   CAST(i % 16 AS VARCHAR)), 1, 2))::UBIGINT AS BIGINT)
                 % 8 AS v
      FROM range(${n.toLong * 256L}) t(i)"""

  /** Pinned separable box resize: 2×2 block AVERAGE (truncating integer
    * division — planes are non-negative by construction, where Spark's
    * `div` and DuckDB's `//` agree) down to 8×8, replicated back to
    * 16×16. Averaging keeps the value SCALE, so the resized twin stays
    * inside the corpus-calibrated SQ8 range downstream (a block SUM
    * scales every coefficient ×4 — hash-invariant, since the median
    * sign compare is scale-free, but clamp-destroyed at the serving
    * stage). Separable: the block sum is one grouped aggregation on
    * (y div 2, x div 2); the replicate is a 4-way offset explode. */
  def boxResizePlanes(planes: DataFrame): DataFrame = {
    val offs = array((for (dy <- 0 to 1; dx <- 0 to 1)
      yield struct(lit(dy).as("dy"), lit(dx).as("dx"))): _*)
    planes.groupBy(col("media_id"),
        expr("y div 2").as("yd"), expr("x div 2").as("xd"))
      .agg(sum(col("v")).as("vs"))
      .withColumn("__o", explode(offs))
      .select(col("media_id"),
        (col("yd") * 2 + col("__o.dy")).cast("int").as("y"),
        (col("xd") * 2 + col("__o.dx")).cast("int").as("x"),
        expr("vs div 4").as("v"))
  }

  /** The planted union both resize faces ride: gradient originals plus
    * their box-resized twins re-keyed to id + 1e6 — built once so the
    * Spark pipelines and both oracles read the same corpus shape. */
  private def resizePlantedPlanes(spark: SparkSession): DataFrame = {
    val g = gradientPlanes(spark, ResizeItems)
    g.unionByName(boxResizePlanes(g)
      .withColumn("media_id", col("media_id") + 1000000L))
  }

  /** The DuckDB twin of [[resizePlantedPlanes]] (a planes SELECT for
    * [[dctCtesFrom]]). */
  private def resizePlantedSql: String = {
    val g = gradientPlanesSql(ResizeItems)
    s"""
      SELECT media_id, y, x, v FROM ($g) g
      UNION ALL
      SELECT media_id + 1000000 AS media_id,
             CAST(yd * 2 + dy AS INT) AS y,
             CAST(xd * 2 + dx AS INT) AS x, v
      FROM (
        SELECT media_id, y // 2 AS yd, x // 2 AS xd,
               CAST(SUM(v) // 4 AS BIGINT) AS v
        FROM ($g) g2 GROUP BY 1, 2, 3
      ) d CROSS JOIN (VALUES (0,0),(0,1),(1,0),(1,1)) offs(dy, dx)"""
  }

  /** mm19: per-image pHash drift under the pinned separable resize —
    * `(media_id, hamming(hash(original), hash(resized)))` for every
    * image, the resize-invariance claim mm03 carries only as a float-
    * suite pin, restated as an exact per-row ledger under the oracle.
    * The drift is the quantity itself (a near-dup EDGE set over a
    * structured corpus would inherit the gradient degeneracy mm14's
    * noise fixture retired — same-direction ramps legitimately hash
    * near each other, so the honest gate is the per-id drift, not
    * cross-id edges). */
  def resizeDriftPinned(spark: SparkSession): DataFrame = {
    val h = phashOf(spark, resizePlantedPlanes(spark))
      .select(col("media_id"),
        packSimhash(col("hash_hi"), col("hash_lo")).as("h"))
    val orig = h.where(col("media_id") < 1000000L)
      .select(col("media_id"), col("h").as("h0"))
    val res = h.where(col("media_id") >= 1000000L)
      .select((col("media_id") - 1000000L).as("media_id"),
        col("h").as("h1"))
    orig.join(res, "media_id")
      .select(col("media_id"),
        bit_count(col("h0").bitwiseXOR(col("h1"))).cast("int")
          .as("hamming"))
      .orderBy("media_id")
  }

  /** DuckDB replay of [[resizeDriftPinned]]. */
  def resizeDriftOracle: String = s"""
    WITH ${dctCtesFrom(resizePlantedSql)},
    $hashCtes
    SELECT a.media_id,
           CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
             AS INT) AS hamming
    FROM hsh a JOIN hsh b ON b.media_id = a.media_id + 1000000
    ORDER BY a.media_id"""

  /** mm20: resized retrieval under the pinned serving stack — mm11's
    * DCT → Rademacher head → SQ8 → integer-dot top-1 with the QUERIES
    * being the box-resized twins and the corpus the originals (SQ8
    * stats from the corpus only, queries clamped — the serving
    * contract). The resize-invariance-of-retrieval claim mm05/mm06
    * carry as float-suite pins, fully under the oracle. */
  def resizedRetrievalPinned(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val proj = projSign.toDF("po", "pz", "psign")
    val emb = dctCoeffsOf(spark, resizePlantedPlanes(spark))
      .join(broadcast(proj), col("z") === col("pz"))
      .groupBy(col("media_id"), col("po"))
      .agg(sum(col("o") * col("psign")).as("e"))
    val isQuery = col("media_id") >= 1000000L
    val stats = emb.where(!isQuery)
      .groupBy("po").agg(min("e").as("mn"), max("e").as("mx"))
    val codes = emb.join(broadcast(stats), "po")
      .withColumn("code",
        when(col("mx") > col("mn"),
          expr("(least(mx, greatest(mn, e)) - mn) * 255 div (mx - mn)"))
          .otherwise(0L))
    val q = codes.where(isQuery)
      .select(col("media_id").as("qid"), col("po").as("qo"),
        col("code").as("qc"))
    val c = codes.where(!isQuery)
      .select(col("media_id").as("cid"), col("po").as("co"),
        col("code").as("cc"))
    val dots = q.join(c, col("qo") === col("co"))
      .groupBy("qid", "cid").agg(sum(col("qc") * col("cc")).as("dot"))
    // rank by the QUANTIZED COSINE, not the raw integer dot: codes are
    // 0..255, so a raw dot favors large-magnitude corpus items over
    // similar ones (measured here: dot-ranked recovery 6/80,
    // cosine-ranked 80/80 at true rank 1; mm11 keeps the dot form — its
    // gate is the replay of the serving arithmetic, not a recovery
    // claim). Integer dot over integer norms — the ratio is exact in
    // doubles and sqrt is IEEE-correctly-rounded on both engines (the
    // d15/s10 quantized-cosine precedent).
    val norms = codes.groupBy("media_id")
      .agg(sum(col("code") * col("code")).as("n2"))
    val scored = dots
      .join(norms.select(col("media_id").as("qid"), col("n2").as("qn2")),
        "qid")
      .join(norms.select(col("media_id").as("cid"), col("n2").as("cn2")),
        "cid")
      .select(col("qid"), col("cid"),
        (col("dot") / (sqrt(col("qn2")) * sqrt(col("cn2")))).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
        col("cos"))
      .orderBy("query_id")
  }

  /** DuckDB replay of [[resizedRetrievalPinned]]. */
  def resizedRetrievalOracle: String = s"""
    WITH ${dctCtesFrom(resizePlantedSql)},
    proj(po, pz, psign) AS (VALUES ${values3i(projSign)}),
    emb AS (
      SELECT c.media_id, p.po, CAST(SUM(c.o * p.psign) AS BIGINT) AS e
      FROM coeffs c JOIN proj p ON c.z = p.pz
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT po, MIN(e) AS mn, MAX(e) AS mx FROM emb
      WHERE media_id < 1000000 GROUP BY 1
    ),
    codes AS (
      SELECT e.media_id, e.po,
             CASE WHEN s.mx > s.mn
                  THEN (LEAST(s.mx, GREATEST(s.mn, e.e)) - s.mn) * 255
                         // (s.mx - s.mn)
                  ELSE 0 END AS code
      FROM emb e JOIN stats s USING (po)
    ),
    dots AS (
      SELECT q.media_id AS qid, c.media_id AS cid,
             CAST(SUM(q.code * c.code) AS BIGINT) AS dot
      FROM codes q JOIN codes c ON q.po = c.po
      WHERE q.media_id >= 1000000 AND c.media_id < 1000000
      GROUP BY 1, 2
    ),
    norms AS (
      SELECT media_id, CAST(SUM(code * code) AS BIGINT) AS n2
      FROM codes GROUP BY 1
    ),
    scored AS (
      SELECT d.qid, d.cid, d.dot / (sqrt(qn.n2) * sqrt(cn.n2)) AS cos
      FROM dots d
      JOIN norms qn ON qn.media_id = d.qid
      JOIN norms cn ON cn.media_id = d.cid
    ),
    top AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cos DESC, cid) AS rk
      FROM scored
    )
    SELECT qid AS query_id, cid AS neighbor_id, cos
    FROM top WHERE rk = 1 ORDER BY query_id"""

  // ---- mm17: cross-modal duplicate closure ----------------------------

  /** Tokens per synthetic caption → 18 distinct 3-gram shingles. */
  private val CaptionTokens = 20

  /** One-token edit position for the caption-only repost: the edit
    * kills exactly the 3 shingles covering it → Jaccard 15/21 ≈ 0.71,
    * comfortably over the 0.5 join threshold, while any two UNRELATED
    * captions share zero shingles (tokens are independent 24-bit md5
    * slices — a whole-3-gram collision is ~2^-72). */
  private val CaptionEditPos = 7

  /** Caption-seed shift for the re-encoded copy: its caption must be
    * unrelated to every other item's, so the shifted seed space must
    * not collide with any base seed (77777 > max base item id). */
  private val ReencodeSeedShift = 77777L

  /** Base items in the cross-modal corpus. The images are md5-noise
    * planes generated from the item id by the same formula on both
    * engines — not the committed fixture parquet, because this oracle
    * replays the ENTIRE pipeline including plane generation in SQL.
    * (mm17's r17 measurement of the then-gradient fixture — 1712 of
    * 3160 base pairs at hamming 0 — is what drove the r18 fixture
    * regeneration: the committed corpus is now md5-noise too, via
    * [[Multimodal.noisePng]]/[[Multimodal.noiseWav]].) md5-noise
    * pixels give near-uniform 64-bit hashes, expected pairwise hamming
    * 32, so incidental pairs at hamming ≤ 4 are ~2^-44 per pair. */
  private val CrossModalItems = 80

  /** One deterministic 16×16 plane per id: v(id,y,x) = the first md5
    * byte of "id:y:x" (0..255) — pure codegen (conv/md5/substring), and
    * the exact expression the oracle replays in SQL. */
  private def noisePlanes(spark: SparkSession, n: Int): DataFrame =
    spark.range(n.toLong * 256L)
      .select(expr("id div 256").as("media_id"),
        expr("CAST((id div 16) % 16 AS INT)").as("y"),
        expr("CAST(id % 16 AS INT)").as("x"))
      .withColumn("v",
        conv(substring(md5(concat(
          col("media_id").cast("string"), lit(":"),
          col("y").cast("string"), lit(":"),
          col("x").cast("string")).cast("binary")), 1, 2), 16, 10)
          .cast("int"))

  /** The DuckDB twin of [[noisePlanes]]. */
  private def noisePlanesSql(n: Int): String = s"""
      SELECT i // 256 AS media_id,
             CAST((i // 16) % 16 AS INT) AS y,
             CAST(i % 16 AS INT) AS x,
             CAST(('0x' || substr(md5(
               CAST(i // 256 AS VARCHAR) || ':' ||
               CAST((i // 16) % 16 AS VARCHAR) || ':' ||
               CAST(i % 16 AS VARCHAR)), 1, 2))::UBIGINT AS INT) AS v
      FROM range(${n.toLong * 256L}) t(i)"""

  private def capTok(seed: org.apache.spark.sql.Column, i: Int,
      edited: Boolean): org.apache.spark.sql.Column = {
    val tag = if (edited) s"/$i/e" else s"/$i"
    substring(md5(concat(seed.cast("string"), lit(tag)).cast("binary")), 1, 6)
  }

  /** Deterministic caption for a seed: 20 fixed concat terms, plain
    * codegen — deliberately NOT a `transform` higher-order function,
    * which is interpreted CodegenFallback by construction (the s14
    * lesson; CodegenSweep cannot see interpreted-by-design nodes). */
  private def captionCol(seed: org.apache.spark.sql.Column,
      editPos: Int = -1): org.apache.spark.sql.Column =
    concat_ws(" ",
      (1 to CaptionTokens).map(i => capTok(seed, i, i == editPos)): _*)

  /** The full 240-item caption table `(item_id, caption)` — ONE copy
    * shared by the batch closure ([[crossModalEdges]]) and the w32
    * stream, so the planted caption structure cannot drift between the
    * two faces: base items carry their own caption, re-encodes
    * (+1,000,000) an UNRELATED one (shifted seed), reposts (+2,000,000)
    * the base caption with one token edited. */
  private[graft] def crossModalCaptions(spark: SparkSession): DataFrame = {
    val baseIds = spark.range(CrossModalItems.toLong)
      .select(col("id").as("media_id"))
    baseIds.select(col("media_id").as("item_id"),
        captionCol(col("media_id")).as("caption"))
      .unionByName(baseIds.select(
        (col("media_id") + 1000000L).as("item_id"),
        captionCol(col("media_id") + ReencodeSeedShift).as("caption")))
      .unionByName(baseIds.select(
        (col("media_id") + 2000000L).as("item_id"),
        captionCol(col("media_id"), CaptionEditPos).as("caption")))
  }

  /** The mm17 noise plane rendered as a 16×16 grayscale PNG — pixel
    * v(y,x) = the first md5 byte of "id:y:x", the EXACT formula
    * [[noisePlanes]] (Spark) and [[noisePlanesSql]] (DuckDB) share — so
    * a fused decode+hash kernel over this payload reproduces
    * `phashOf(noisePlanes)` bit-for-bit. Spark-free and driver-cheap
    * (256 digests per item), the w30-recipe construction pattern. */
  private[graft] def noisePlanePng(id: Long): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        md.reset()
        val v = md.digest(s"$id:$y:$x".getBytes("US-ASCII"))(0) & 0xFF
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The w32 image-payload corpus: every base item's noise plane as PNG
    * bytes plus its re-encoded copy (same pixels, id + 1,000,000) —
    * the planes-level plant of [[crossModalEdges]] expressed as raw
    * payloads a streamed ingest can decode. */
  private[graft] def crossModalPngRows: Vector[(Long, Array[Byte])] =
    (0L until CrossModalItems.toLong).flatMap { id =>
      val png = noisePlanePng(id)
      Seq((id, png), (id + 1000000L, png))
    }.toVector

  /** Cross-modal duplicate CLOSURE: items carry an image, a caption, or
    * both; an edge exists when EITHER modality near-matches (pinned
    * pHash Hamming ≤ maxHamming through the banded pigeonhole join, or
    * caption 3-gram Jaccard ≥ 0.5 through the prefix-filtered shingle
    * join), and connected components fold the union into one cluster id
    * per item. Items are synthetic: md5-noise image planes + md5-token
    * captions, both generated from the item id by the SAME formula on
    * both engines. The planted structure makes the closure load-bearing:
    * for every base item m the corpus holds a re-encoded copy (same
    * planes, UNRELATED caption — image edge only) and a caption-only
    * repost (no image, one-token-edited caption — text edge only); the
    * two derivatives share NO modality with each other, yet must
    * co-cluster THROUGH the base item — the property a per-modality
    * dedup cannot express. Scale shape: the sum of two banded joins
    * plus one connected-components pass — cost tracks candidates per band,
    * never items². The synthetic planes/captions are fixture plumbing,
    * not production operators — the production machinery is the hash
    * chain and the two banded joins — and because both engines derive
    * them from the id, the DuckDB oracle replays the ENTIRE pipeline:
    * DCT hash chain, shingle Jaccard, edge union, recursive closure. */
  def crossModalDedupPinned(spark: SparkSession, maxHamming: Int): DataFrame = {
    val (imgEdges, txtEdges, items) = crossModalEdges(spark, maxHamming)
    val edges = imgEdges.unionByName(txtEdges).distinct()
    graft.functions.ScaleOps
      .connectedComponents(items, "item_id", edges)
      .orderBy("item_id")
  }

  /** The two per-modality edge sets and the item universe behind
    * [[crossModalDedupPinned]] — exposed so the suite can pin the
    * planted structure exactly (one image edge and one text edge per
    * base item, no edge between the two derivatives). */
  private[graft] def crossModalEdges(spark: SparkSession, maxHamming: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val planes = noisePlanes(spark, CrossModalItems)
    // image items: base m and its re-encode m+1,000,000 (same planes)
    val planted = planes.unionByName(
      planes.withColumn("media_id", col("media_id") + 1000000L))
    val hashes = phashOf(spark, planted)
      .select(col("media_id"),
        packSimhash(col("hash_hi"), col("hash_lo")).as("simhash"))
    val imgEdges = graft.functions.TextOps
      .simHashPairs(hashes, "media_id", maxHamming)
      .select(col("id_a"), col("id_b"))
    val captions = crossModalCaptions(spark)
    val txtEdges = graft.functions.TextOps
      .ngramJaccardPairs(captions, "item_id", "caption", 3, 0.5)
      .select(col("id_a"), col("id_b"))
    (imgEdges, txtEdges, captions.select("item_id"))
  }

  /** DuckDB replay of [[crossModalDedupPinned]]: the planted planes
    * through the shared DCT+hash chain and all-pairs Hamming, the
    * md5-derived captions through exact shingle Jaccard, both edge sets
    * unioned, and the cluster ids recovered by recursive transitive
    * closure (min reachable id — the connected-components fixpoint). */
  def crossModalDedupOracle(maxHamming: Int): String = {
    val raw = noisePlanesSql(CrossModalItems)
    s"""
    WITH RECURSIVE ${dctCtesFrom(s"""
      SELECT media_id, y, x, v FROM ($raw)
      UNION ALL
      SELECT media_id + 1000000, y, x, v FROM ($raw)""")},
    $hashCtes,
    ip AS (
      SELECT a.media_id AS id_a, b.media_id AS id_b
      FROM hsh a JOIN hsh b ON a.media_id < b.media_id
      WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
              <= $maxHamming
    ),
    base AS (SELECT i AS m FROM range($CrossModalItems) t(i)),
    items AS (
      SELECT m AS item_id, m AS seed, 0 AS edit FROM base
      UNION ALL
      SELECT m + 1000000, m + $ReencodeSeedShift, 0 FROM base
      UNION ALL
      SELECT m + 2000000, m, 1 FROM base
    ),
    cap AS (
      SELECT item_id, array_to_string(list_transform(
        generate_series(1, $CaptionTokens), i ->
          CASE WHEN edit = 1 AND i = $CaptionEditPos
               THEN substr(md5(CAST(seed AS VARCHAR) || '/' ||
                     CAST(i AS VARCHAR) || '/e'), 1, 6)
               ELSE substr(md5(CAST(seed AS VARCHAR) || '/' ||
                     CAST(i AS VARCHAR)), 1, 6) END), ' ') AS text
      FROM items
    ),
    ctoks AS (
      SELECT item_id, string_split_regex(trim(text), '\\s+') AS w FROM cap
    ),
    csh AS (
      SELECT item_id, list_distinct(list_transform(
        generate_series(1, len(w) - 2),
        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM ctoks
    ),
    cex AS (
      SELECT item_id, len(shingles) AS n, unnest(shingles) AS s FROM csh
    ),
    tp AS (
      SELECT a.item_id AS id_a, b.item_id AS id_b, count(*) AS shared,
             any_value(a.n) AS na, any_value(b.n) AS nb
      FROM cex a JOIN cex b ON a.s = b.s AND a.item_id < b.item_id
      GROUP BY 1, 2
    ),
    tx AS (
      SELECT id_a, id_b FROM tp
      WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5
    ),
    p AS (SELECT id_a, id_b FROM ip UNION SELECT id_a, id_b FROM tx),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION ALL
      SELECT id_b, id_a FROM p
    ),
    reach AS (
      SELECT item_id AS v, item_id AS r FROM items
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.v
    )
    SELECT v AS item_id, min(r) AS cluster_id
    FROM reach GROUP BY v ORDER BY item_id"""
  }
}
