package graft.imaging

import graft.SparkSpec

/** U1/U2/Exif unit tests against synthetic JPEGs with closed-form
  * expectations (SURVEY.md §5.2.2, FIXTURES.md A.5).
  */
class ImagingSpec extends SparkSpec {

  test("solid-color image: stddev 0, entropy ~0, histogram mass in one bin per band") {
    val bytes = SyntheticImages.solid(64, 48, 120, 60, 200)
    val s = ImageOps.statistics(bytes).get
    assert(s.histogram.length == 768)
    // each band: all 64*48 pixels in (nearly) one bin — JPEG is lossy but
    // solid regions decode flat, allow the mass to sit in a single bin
    (0 until 3).foreach { b =>
      val band = s.histogram.slice(b * 256, (b + 1) * 256)
      assert(band.sum == 64 * 48, s"band $b mass")
      assert(band.max == 64 * 48, s"band $b concentrated")
      assert(s.stddev(b) == 0.0, s"band $b stddev")
      assert(s.extrema(b)(0) == s.extrema(b)(1), s"band $b extrema")
      assert(s.median(b) == s.extrema(b)(0), s"band $b median=value")
      assert(math.abs(s.mean(b) - s.median(b)) < 1e-9, s"band $b mean=value")
    }
    // PIL Image.entropy normalizes the joint 768-bin histogram: a solid
    // RGB image has one occupied bin per band segment => exactly log2(3)
    assert(math.abs(s.entropy - math.log(3) / math.log(2)) < 1e-9)
  }

  test("two-tone: median at half-mass bin, extrema bracket both tones") {
    val bytes = SyntheticImages.twoTone(64, 48, (10, 10, 10), (240, 240, 240))
    val s = ImageOps.statistics(bytes).get
    (0 until 3).foreach { b =>
      assert(s.extrema(b)(0) <= 15 && s.extrema(b)(1) >= 235, s"band $b extrema $b")
      assert(s.mean(b) > 100 && s.mean(b) < 150, s"band $b mean ${s.mean(b)}")
      assert(s.stddev(b) > 100, s"band $b stddev")
    }
    // 50/50 two-level x 3 band segments: ~log2(6) bits under PIL's joint
    // normalization (exact if JPEG decodes both tones flat)
    assert(s.entropy > 2.0 && s.entropy < 3.0, s"entropy ${s.entropy}")
  }

  test("gradient: full-range extrema, entropy high") {
    val s = ImageOps.statistics(SyntheticImages.gradient(256, 16)).get
    (0 until 3).foreach { b =>
      assert(s.extrema(b)(0) <= 2 && s.extrema(b)(1) >= 253)
    }
    assert(s.entropy > 6.0)
  }

  test("1x1 edge case") {
    val s = ImageOps.statistics(SyntheticImages.solid(1, 1, 5, 5, 5)).get
    assert(s.histogram.sum == 3)
    // one pixel in each of 3 band segments => log2(3) joint entropy
    assert(math.abs(s.entropy - math.log(3) / math.log(2)) < 1e-9)
  }

  test("histogram sums = width*height per band (property over sizes)") {
    for ((w, h) <- Seq((7, 3), (64, 48), (31, 17))) {
      val s = ImageOps.statistics(SyntheticImages.gradient(w, h)).get
      (0 until 3).foreach { b =>
        assert(s.histogram.slice(b * 256, (b + 1) * 256).sum == w * h)
      }
    }
  }

  test("metadata: dimensions, mode, format, layers") {
    val m = ImageOps.metadata(SyntheticImages.solid(64, 48, 1, 2, 3)).get
    assert(m.width == 64 && m.height == 48)
    assert(m.mode == "RGB" && m.format == "JPEG" && m.layers == 3)
  }

  test("exif round-trip: IFD0 tags + GPS sub-IFD") {
    val base = SyntheticImages.solid(32, 32, 9, 9, 9)
    val jpeg = SyntheticImages.withExif(base,
      tags = Seq(0x010F -> "graftcam", 0x0110 -> "model-x",
        0x0132 -> "2021:10:07 09:15:23"),
      gps = Seq(0x01 -> "N", 0x03 -> "E", 0x12 -> "WGS-84"))
    val e = ExifReader.read(jpeg)
    assert(e.tags("Make") == "graftcam")
    assert(e.tags("Model") == "model-x")
    assert(e.tags("DateTime") == "2021:10:07 09:15:23")
    assert(e.gps("GPSLatitudeRef") == "N")
    assert(e.gps("GPSLongitudeRef") == "E")
    assert(e.gps("GPSMapDatum") == "WGS-84")
    // exif-less image parses to empty, not error
    assert(ExifReader.read(base).tags.isEmpty)
  }

  test("U1/U2 registered UDFs work through expr() like the reference") {
    import spark.implicits._
    ImageUdfs.register(spark)
    val df = Seq(
      ("a.jpg", SyntheticImages.solid(16, 16, 200, 100, 50)),
      ("b.jpg", SyntheticImages.withExif(SyntheticImages.solid(16, 16, 1, 2, 3),
        Seq(0x010F -> "graftcam")))).toDF("path", "content")
      .withColumn("metadata", org.apache.spark.sql.functions.expr("get_image_metadata(content)"))
      .withColumn("statistics", org.apache.spark.sql.functions.expr("get_image_statistics(content)"))
    val rows = df.select("metadata.width", "metadata.mode", "statistics.entropy",
      "metadata.exif.Make").collect()
    assert(rows.forall(_.getInt(0) == 16))
    assert(rows.forall(_.getString(1) == "RGB"))
    assert(rows(0).isNullAt(3))
    assert(rows(1).getString(3) == "graftcam")
  }

  test("tensorize: CHW 3*224*224 floats, normalized range") {
    ImageUdfs.register(spark)
    val t = ImageUdfs.tensorize.call(SyntheticImages.solid(64, 48, 128, 128, 128))
    assert(t.length == 3 * 224 * 224)
    assert(t.forall(v => v > -3.0f && v < 3.0f))
  }

  test("tensorize equals the per-pixel getRGB loop bit-for-bit on a noisy frame") {
    val rnd = new scala.util.Random(7L)
    val noisy = new java.awt.image.BufferedImage(97, 61, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 61; x <- 0 until 97) noisy.setRGB(x, y, rnd.nextInt(1 << 24))
    val bytes = SyntheticImages.encode(noisy)
    val img = ImageUdfs.scaled(ImageOps.decode(bytes).get)
    val side = ImageUdfs.TensorSide
    val mean = Array(0.485f, 0.456f, 0.406f)
    val std  = Array(0.229f, 0.224f, 0.225f)
    val want = new Array[Float](3 * side * side)
    for (y <- 0 until side; x <- 0 until side; c <- 0 until 3) {
      val v = ((img.getRGB(x, y) >> (16 - 8 * c)) & 0xFF) / 255.0f
      want(c * side * side + y * side + x) = (v - mean(c)) / std(c)
    }
    val got = ImageUdfs.tensorize.call(bytes)
    assert(got.length == want.length)
    assert(got.indices.forall(i =>
      java.lang.Float.floatToRawIntBits(got(i)) == java.lang.Float.floatToRawIntBits(want(i))))
    assert(want.distinct.length > 100, "the frame is not noisy")
  }

  test("exif schema: full public registry width, name-deduped struct fields") {
    // full TIFF 6.0 / EXIF 2.32 / DNG tag registry (PIL TAGS parity)
    assert(ExifTags.TAGS.size >= 245, s"TAGS=${ExifTags.TAGS.size}")
    assert(ExifTags.GPSTAGS.size == 32)
    // TIFF/EP twins (0x920B..) share names with EXIF-IFD ids (0xA20B..);
    // the struct collapses them to one field, like PIL's per-name dict keys
    assert(ExifTags.schemaNames.distinct == ExifTags.schemaNames)
    assert(ExifTags.schemaNames.size < ExifTags.TAGS.size)
    assert(ExifTags.tagName(0x920B) == ExifTags.tagName(0xA20B))
    val fields = ImageSchema.exifStruct.fieldNames
    assert(fields.length == ExifTags.schemaNames.size + 1) // + nested GPSInfo
    assert(fields.distinct.length == fields.length)
    // GPSInfo sits at its 0x8825 tag-id position (reference iterates
    // PIL's id-ordered TAGS and substitutes the nested struct in place:
    // 02_Data Ingest.py:124-131), between SpectralSensitivity (0x8824)
    // and ISOSpeedRatings (0x8827)
    val gi = fields.indexOf("GPSInfo")
    assert(fields(gi - 1) == "SpectralSensitivity", fields(gi - 1))
    assert(fields(gi + 1) == "ISOSpeedRatings", fields(gi + 1))
    // a tag present in the wider registry surfaces by name; absent tags null
    val bytes = SyntheticImages.withExif(SyntheticImages.solid(16, 16, 1, 2, 3),
      Seq(0x010F -> "graftcam", 0xA500 -> "2.2"))
    val exif = ExifReader.read(bytes)
    assert(exif.tags("Make") == "graftcam")
    assert(exif.tags("Gamma") == "2.2")
  }
}
