package graft.data

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic audio/video tables for the media queries: every payload
  * is a pure function of its id, generated distributed (mapPartitions over
  * a range — no driver-side loops), so the DuckDB oracle can recompute the
  * CONTAINER METADATA from the same id formulas and certify the engine's
  * parse of the real bytes (q62/q63 — the audio/video analogue of the
  * image table's derived positions). */
object MediaGen {
  final val AudioRate = 16000

  /** (media_id, bytes) — seeded sine + noise WAV clips. */
  def audioTable(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).mapPartitions { it =>
      it.map { id =>
        val seconds = (1600 + 16 * (id % 100)) / 16000.0
        val bytes = graft.core.Wav.synth(
          seed = id, freqHz = 200.0 + 3.0 * (id % 40),
          amplitude = 0.2 + 0.01 * (id % 30), noise = 0.01 * (id % 4),
          seconds = seconds, sampleRate = AudioRate)
        (f"aud$id%05d", bytes)
      }
    }.toDF("media_id", "bytes")
  }

  final val VideoW = 32
  final val VideoH = 24

  def videoFrames(id: Long): Int = 4 + (id % 5).toInt
  def videoFps(id: Long): Double = (8 + (id % 4)).toDouble

  /** (media_id, bytes) — MJPEG AVI clips; each frame is a distinct
    * deterministic image JPEG-encoded by javax.imageio. */
  def videoTable(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).mapPartitions { it =>
      it.map { id =>
        val frames = (0 until videoFrames(id)).map { k =>
          val rgb = ImageGen.pixelsOf(f"img${id * 100 + k}%012d", VideoW, VideoH)
          val img = ImageGen.toBufferedImage(rgb, VideoW, VideoH)
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "jpg", bos)
          bos.toByteArray
        }
        (f"vid$id%05d", graft.core.Avi.encode(frames, VideoW, VideoH, videoFps(id)))
      }
    }.toDF("media_id", "bytes")
  }
}
