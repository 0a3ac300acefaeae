package graft.tools

import org.apache.spark.sql.functions._

/** Measured backing for the fused-media-kernel claim (r16 verdict
  * prescription 5): times the FUSED bytes→hash expression
  * ([[graft.multimodal.MediaPhash]]) against the per-pixel dataflow the
  * streamed sink used before (flatMap every payload into (id, y, x, v)
  * rows → [[graft.multimodal.PinnedMediaMath.phashOf]]'s two-join SQL
  * transform) on the SAME synthetic PNG corpus, and asserts the two
  * paths produce IDENTICAL hashes before printing timings — a speedup
  * over a wrong answer is worthless.
  *
  * Usage: sbt "runMain graft.tools.MediaKernelBench [nImages] [side]"
  *        (defaults: 2000 images, 128×128 — ~16k pixels each, so the
  *        per-pixel path materializes ~33M rows where the fused path
  *        materializes 2000)
  *
  * Prints one JSON line:
  *   {"n":…,"side":…,"fused_sec":…,"per_pixel_sec":…,"speedup":…,
  *    "hashes_equal":true}
  */
object MediaKernelBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(2000)
    val side = args.drop(1).headOption.map(_.toInt).getOrElse(128)
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // corpus: executor-generated deterministic PNGs, MATERIALIZED so
    // both timed paths start from identical in-memory bytes and the
    // generator's cost stays off both clocks
    val media = spark.range(0, n.toLong)
      .as[Long]
      .map(id => (id, graft.multimodal.Multimodal.syntheticPng(id, 0, side)))
      .toDF("media_id", "bytes")
      .localCheckpoint(true)

    def fusedHashes(src: org.apache.spark.sql.DataFrame) =
      src.select(col("media_id"),
        graft.multimodal.MediaPhash.column(spark, col("bytes")).as("simhash"))

    def perPixelHashes(src: org.apache.spark.sql.DataFrame) = {
      val planes = src.as[(Long, Array[Byte])]
        .flatMap { case (id, bytes) =>
          graft.multimodal.MediaFixture.decodePx(bytes).toSeq.flatMap { px =>
            for (y <- px.indices; x <- px(y).indices)
              yield (id, y, x, px(y)(x))
          }
        }
        .toDF("media_id", "y", "x", "v")
      graft.multimodal.PinnedMediaMath.phashOf(spark, planes)
        .select(col("media_id"),
          graft.multimodal.PinnedMediaMath
            .packSimhash(col("hash_hi"), col("hash_lo")).as("simhash"))
    }

    // xor-of-row-hashes: one number any per-id divergence flips, and —
    // unlike a sum of products — structurally incapable of the ANSI
    // arithmetic overflow a 64-bit multiply invites
    def checksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(media_id, simhash))")).head()
      (r.getLong(0), r.getLong(1))
    }
    def time[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val v = body
      ((System.nanoTime() - t0) / 1e9, v)
    }

    // warmup both plan shapes (JIT + codegen + ImageIO init off the
    // clock) on a SMALL slice, through the SAME checksum aggregate as
    // the timed pass — a bare count(1) lets Catalyst prune the
    // deterministic hash projection away entirely, so the old fused
    // "warmup" never decoded a single PNG and the fused timing alone
    // absorbed the cold start (code-review finding)
    val warm = media.limit(64).localCheckpoint(true)
    checksum(fusedHashes(warm))
    checksum(perPixelHashes(warm))

    val (fusedSec, fsum) = time(checksum(fusedHashes(media)))
    val (pixelSec, psum) = time(checksum(perPixelHashes(media)))
    val equal = fsum == psum
    println(f"""{"n":$n,"side":$side,"fused_sec":$fusedSec%.3f,""" +
      f""""per_pixel_sec":$pixelSec%.3f,""" +
      f""""speedup":${pixelSec / fusedSec}%.2f,"hashes_equal":$equal}""")
    require(equal, s"fused and per-pixel hashes diverged: $fsum vs $psum")
    spark.stop()
  }
}
