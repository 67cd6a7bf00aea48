package cvbench

import java.awt.image.BufferedImage
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.SplittableRandom

import graft.imaging.SyntheticImages

/** Seeded corpus of paper-shaped camera frames: 600x600 RGB JPEGs named
  * `<date>_<device>_s<shot>_<label>.jpg`, as in the engine's own image
  * corpus (a file system path cannot hold the capture script's ISO
  * time). The ingest's device_id is everything between the first and the
  * last `_`, here `<device>_s<shot>`.
  */
object Frames {
  val Side = 600
  val Devices = Seq("rpi_sensor_1", "rpi_sensor_2", "rpi_sensor_3", "rpi_sensor_4")
  val Dates = Seq(LocalDate.of(2021, 10, 5), LocalDate.of(2021, 10, 6), LocalDate.of(2021, 10, 7))

  /** What the ingest must derive from each file. */
  final case class Truth(fileName: String, deviceId: String, label: Int, date: LocalDate)

  private def draw(seed: Long, i: Int): (Truth, SplittableRandom) = {
    val r = new SplittableRandom(seed * 1000003L + i)
    val device = Devices(r.nextInt(Devices.length))
    val date = Dates(r.nextInt(Dates.length))
    val label = r.nextInt(2)
    val deviceId = f"${device}_s$i%03d"
    (Truth(s"${date}_${deviceId}_$label.jpg", deviceId, label, date), r)
  }

  /** The generator's truth for frame `i`, without drawing its pixels. */
  def truth(seed: Long, i: Int): Truth = draw(seed, i)._1

  /** Frame `i` of the corpus for `seed`: its truth and its pixels. */
  def frame(seed: Long, i: Int): (Truth, BufferedImage) = {
    val (truth, r) = draw(seed, i)
    val label = truth.label
    // a lit blob on a vertical gradient, brighter for label 1, plus
    // per-pixel and per-channel noise: enough texture for ~140 KB at the
    // default JPEG quality
    val cx = 100 + r.nextInt(400); val cy = 100 + r.nextInt(400)
    val base = if (label == 1) 150 else 90
    val px = new Array[Int](Side * Side)
    var y = 0
    while (y < Side) {
      var x = 0
      while (x < Side) {
        val dx = x - cx; val dy = y - cy
        val blob = if (dx * dx + dy * dy < 90 * 90) 60 else 0
        val v = base + blob + (y * 40) / Side
        val n = r.nextInt(97) - 48
        def c(k: Int) = math.max(0, math.min(255, v + k + n + r.nextInt(25) - 12))
        px(y * Side + x) = (c(10) << 16) | (c(0) << 8) | c(-15)
        x += 1
      }
      y += 1
    }
    val img = new BufferedImage(Side, Side, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, Side, Side, px, 0, Side)
    (truth, img)
  }

  /** Write frames `0 until n` into `dir`. */
  def write(dir: String, seed: Long, n: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    (0 until n).foreach { i =>
      val (t, img) = frame(seed, i)
      Files.write(Paths.get(dir, t.fileName), SyntheticImages.encode(img))
    }
  }
}
