package graft.imaging

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.types._
import java.awt.image.{BufferedImage, DataBufferInt}

/** The reference's UDF surface (SURVEY.md §2.8), registered by the same
  * names so `expr("get_image_metadata(content)")` works identically
  * (02_Data Ingest.py:204,252). ScalaUDFs evaluate in the task thread —
  * no Python-worker process boundary (SURVEY.md §3.1 step 4), the single
  * biggest architectural simplification of the Spark-native engine.
  */
object ImageUdfs {

  /** U1: BINARY -> metadata struct (02_Data Ingest.py:137-199). */
  val getImageMetadata: UDF1[Array[Byte], Row] = (bytes: Array[Byte]) => {
    if (bytes == null) null
    else ImageOps.metadata(bytes) match {
      case None => null
      case Some(m) =>
        val exif = ExifReader.read(bytes)
        val exifRow =
          if (exif.tags.isEmpty && exif.gps.isEmpty) null
          else {
            val gpsRow =
              if (exif.gps.isEmpty) null
              else Row.fromSeq(ExifTags.GPSTAGS.map { case (_, n) => exif.gps.getOrElse(n, null) })
            // mirror exifStruct's field order: GPSInfo sits at its
            // 0x8825 tag-id position, not appended
            Row.fromSeq(
              ExifTags.schemaNamesBeforeGps.map(n => exif.tags.getOrElse(n, null)) ++
                Seq(gpsRow) ++
                ExifTags.schemaNamesAfterGps.map(n => exif.tags.getOrElse(n, null)))
          }
        Row(m.height, m.width, m.dpi.map(d => Seq(d._1, d._2)).orNull,
          m.layers, m.mode, m.format, exifRow)
    }
  }

  /** U2: BINARY -> statistics struct (02_Data Ingest.py:223-249). */
  val getImageStatistics: UDF1[Array[Byte], Row] = (bytes: Array[Byte]) => {
    if (bytes == null) null
    else ImageOps.statistics(bytes) match {
      case None => null
      case Some(s) =>
        Row(s.mean.toSeq, s.median.toSeq, s.stddev.toSeq,
          s.extrema.map(_.toSeq).toSeq, s.entropy, s.histogram.toSeq)
    }
  }

  private[imaging] val TensorSide = 224

  /** `img` resized bilinearly to TensorSide x TensorSide TYPE_INT_RGB. */
  private[imaging] def scaled(img: BufferedImage): BufferedImage = {
    val out = new BufferedImage(TensorSide, TensorSide, BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, TensorSide, TensorSide, null)
    g.dispose()
    out
  }

  /** M1 tensorizer: decode -> resize 224 bilinear -> /255 -> normalize
    * (mean=[.485,.456,.406], std=[.229,.224,.225]) -> CHW float array
    * (03a_Model Training.py:136-178). 224 is the training-side size; the
    * reference's serving path inconsistently uses 256 (SURVEY.md §7.4.6).
    * Pixels are read from the scaled image's backing `int[]` (0x00RRGGBB,
    * row-major): what `getRGB` returns on TYPE_INT_RGB, less its alpha byte.
    * One pass per channel keeps the output writes sequential.
    */
  val tensorize: UDF1[Array[Byte], Array[Float]] = (bytes: Array[Byte]) => {
    if (bytes == null) null
    else ImageOps.decode(bytes) match {
      case None => null
      case Some(img) =>
        val px = scaled(img).getRaster.getDataBuffer.asInstanceOf[DataBufferInt].getData
        val plane = TensorSide * TensorSide
        val mean = Array(0.485f, 0.456f, 0.406f)
        val std  = Array(0.229f, 0.224f, 0.225f)
        val out = new Array[Float](3 * plane)
        var c = 0
        while (c < 3) {
          val shift = 16 - 8 * c
          val m = mean(c)
          val s = std(c)
          val off = c * plane
          var i = 0
          while (i < plane) {
            out(off + i) = (((px(i) >> shift) & 0xFF) / 255.0f - m) / s
            i += 1
          }
          c += 1
        }
        out
    }
  }

  /** Register all image UDFs by their reference names. Idempotent. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("get_image_metadata", getImageMetadata, ImageSchema.metadataStruct)
    spark.udf.register("get_image_statistics", getImageStatistics, ImageSchema.statisticsStruct)
    spark.udf.register("tensorize", tensorize, ArrayType(FloatType))
  }
}
