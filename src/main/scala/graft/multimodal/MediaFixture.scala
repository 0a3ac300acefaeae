package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Decoded-plane fixture for the multimodal oracle gates (mm07+).
  *
  * DuckDB cannot decode media, so the oracle boundary is moved to the
  * DECODED representation: this generator runs the REAL JVM decoders
  * (ImageIO pixel decode, javax.sound PCM decode, GVC1 demux) over a
  * self-contained deterministic media corpus and persists the decoded
  * pixel/sample planes as small parquet files committed to the repo.
  * The gates then split cleanly:
  *
  *   - decode gates (mm07/mm09/mm12): Spark re-decodes the SAME
  *     deterministic payloads live and must reproduce the persisted
  *     planes bit-for-bit (oracle = read the fixture);
  *   - math gates (mm08/mm10/mm11): BOTH sides read the fixture and
  *     replay the fixed-point feature math ([[PinnedMediaMath]]) —
  *     the pinned-twin pattern the ANN family (s11–s14) uses.
  *
  * The corpus is independent of /root/testdata (the driver regenerates
  * that per round): 240 synthetic docs, ids 0..239, deterministic text
  * length — everything downstream (PNG pixels, WAV samples, container
  * framing) is a pure function of the id, so the committed fixture and
  * a live re-decode can never drift unless a decoder changes (which is
  * exactly what the gates are for).
  */
object MediaFixture {

  /** Fixture location — committed to the repo; the DuckDB oracle SQL
    * hardcodes the same absolute path (oracle strings are static). */
  val dir: String =
    sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR", "/root/repo/fixtures/mm")

  final case class PlaneRow(media_id: Long, y: Int, x: Int, v: Int)
  final case class SampleRow(media_id: Long, i: Int, s: Int)
  final case class FramePlaneRow(media_id: Long, frame_idx: Int, ts_ms: Long,
      duration_ms: Long, y: Int, x: Int, v: Int)

  /** Self-contained deterministic document table feeding
    * [[Multimodal.syntheticMedia]]: 240 ids, text of length 20..116
    * (only the LENGTH matters — payload bytes are regenerated per
    * kind). 240 = 80 media per kind under the id%3 cycle. */
  def docs(spark: SparkSession): DataFrame =
    spark.range(0, 240).select(col("id").as("doc_id"),
      expr("repeat('x', CAST(id % 97 + 20 AS INT))").as("text"))

  /** The deterministic media corpus every mm07+ gate re-derives.
    * md5-NOISE payloads (r18, the mm17 finding): the original
    * gradient/sine corpus was low-entropy under the perceptual hashes
    * (1712 of 3160 image base pairs at Hamming 0, measured), so the
    * near-dup oracles could only assert planted-pairs-must-appear.
    * Noise payloads hash ~uniformly — expected pairwise Hamming 32,
    * incidental ≤4 pairs ~2^-44 — so mm14/mm15/mm16 (and the streamed
    * twins w28–w31) now pin EXACT edge sets: the planted copies and
    * nothing else. */
  def media(spark: SparkSession): Dataset[Multimodal.MediaRow] =
    Multimodal.syntheticMedia(spark, docs(spark), noisePayloads = true)

  private[graft] def decodePx(bytes: Array[Byte]): Option[Array[Array[Int]]] =
    try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes)))
      .map { img =>
        Array.tabulate(img.getHeight, img.getWidth)((y, x) =>
          // the synthetic frames are grayscale, so one channel carries
          // the full plane; red chosen arbitrarily
          (img.getRGB(x, y) >> 16) & 0xFF)
      }
    catch { case _: java.io.IOException => None }

  /** REAL ImageIO pixel decode of every image payload → one row per
    * pixel. Runs per-partition in executors (bytes never hit the
    * driver), same as the production decode operators. */
  def imagePlanes(media: Dataset[Multimodal.MediaRow]): Dataset[PlaneRow] = {
    import media.sparkSession.implicits._
    media.filter(_.meta.kind == "image").flatMap { m =>
      decodePx(m.bytes).toSeq.flatMap { px =>
        for (y <- px.indices; x <- px(y).indices)
          yield PlaneRow(m.media_id, y, x, px(y)(x))
      }
    }
  }

  /** REAL javax.sound PCM decode of every audio payload → one row per
    * sample, raw 16-bit value (decodePcm's [-1,1] doubles are exact
    * short/32768 quotients, so the round-trip is lossless). */
  def audioSamples(media: Dataset[Multimodal.MediaRow]): Dataset[SampleRow] = {
    import media.sparkSession.implicits._
    media.filter(_.meta.kind == "audio").flatMap { m =>
      Multimodal.decodePcm(m.bytes).toSeq.flatMap { case (_, samples) =>
        samples.iterator.zipWithIndex.map { case (d, i) =>
          SampleRow(m.media_id, i, math.round(d * 32768.0).toInt)
        }
      }
    }
  }

  /** REAL GVC1 demux + per-frame ImageIO decode of every video payload
    * → one row per frame pixel, with the frame timestamp and the clip
    * duration beside it (the as-of sampling replay needs both). */
  def videoFramePlanes(
      media: Dataset[Multimodal.MediaRow]): Dataset[FramePlaneRow] = {
    import media.sparkSession.implicits._
    media.filter(_.meta.kind == "video").flatMap { m =>
      Multimodal.VideoContainer.decode(m.bytes).toSeq.flatMap { frames =>
        frames.iterator.zipWithIndex.flatMap { case ((ts, png), idx) =>
          decodePx(png).toSeq.flatMap { px =>
            for (y <- px.indices; x <- px(y).indices)
              yield FramePlaneRow(m.media_id, idx, ts, m.meta.durationMs,
                y, x, px(y)(x))
          }
        }
      }
    }
  }

  /** Writes the three fixture tables (single small file each). Run via
    * `sbt "runMain graft.multimodal.MediaFixture"`; the output is
    * committed, not regenerated per round. */
  def generate(spark: SparkSession): Unit = {
    val m = media(spark)
    imagePlanes(m).toDF().coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/image_planes")
    audioSamples(m).toDF().coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/audio_samples")
    videoFramePlanes(m).toDF().coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/video_frames")
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try generate(spark) finally spark.stop()
  }
}
