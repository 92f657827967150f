package graft.data

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sql.{functions => gf}

/** The image+caption table as a distributed Spark source.
  *
  * Generation is a pure function of the row index ([[ImageGen.rowOf]]), so
  * `spark.range(n)` + a per-partition map gives an embarrassingly parallel,
  * deterministic source with no driver-side materialization — the sandbox
  * stand-in for scanning the 10¹²-row Iceberg table (BASELINE.json:2).
  */
object Images {
  import ImageGen.ImageRow

  /** Distributed deterministic generator: n rows, schema == input_hint. */
  def generate(spark: SparkSession, n: Long, partitions: Int = 0): Dataset[ImageRow] = {
    import spark.implicits._
    val parts = if (partitions > 0) partitions
                else spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, parts).map(i => ImageGen.rowOf(i))
  }

  // ImageIO encoding dominates generation; queries over the same (session,
  // n) share one persisted table instead of regenerating per query.
  private val cached = scala.collection.concurrent.TrieMap.empty[(String, Long), DataFrame]

  /** Session-cached generated table (MEMORY_AND_DISK). */
  def table(spark: SparkSession, n: Long): DataFrame =
    cached.getOrElseUpdate((spark.sparkContext.applicationId, n),
      generate(spark, n).toDF().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** lat/lon are derived, never stored (input_hint): append them via the
    * codegen'd derive_lon/derive_lat functions ([[graft.sql.GraftKernels]]) —
    * this is the headline tile-assign path, so it must stay inside
    * WholeStageCodegen (a Scala UDF here boxes every row). */
  def withPosition(df: DataFrame): DataFrame =
    df.withColumn("lon", gf.derive_lon(col("image_id")))
      .withColumn("lat", gf.derive_lat(col("image_id")))

  /** Tile-assign the image table: the headline 10¹²-row op. */
  def withTile(df: DataFrame, bits: Int): DataFrame =
    withPosition(df).withColumn("tile", gf.gh_encode(col("lon"), col("lat"), bits))

  /** Recompute phash from stored bytes (decode → 8×8 average hash) and
    * compare with the stored column — the per-row content invariant. */
  private lazy val rehashUdf =
    udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) =>
      ImageGen.phashOf(ImageGen.decodeBytes(bytes, w, h, fmt), w, h))

  def withRehash(df: DataFrame): DataFrame =
    df.withColumn("phash_recomputed", rehashUdf(col("bytes"), col("w"), col("h"), col("fmt")))

  /** PSNR of stored bytes vs the deterministic source pixels — the
    * decoded-pixel-allclose invariant (PSNR ≥ 40 dB for lossy fmt,
    * BASELINE.json:15). Infinity is mapped to 1e9 (Parquet-safe). */
  private lazy val psnrUdf =
    udf((id: String, bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
      val p = ImageGen.psnr(ImageGen.decodeBytes(bytes, w, h, fmt), ImageGen.pixelsOf(id, w, h))
      if (p.isInfinity) 1e9 else p
    })

  def withPsnr(df: DataFrame): DataFrame =
    df.withColumn("psnr_db", psnrUdf(col("image_id"), col("bytes"), col("w"), col("h"), col("fmt")))
}
