package graft.perfbench

import java.io.{BufferedOutputStream, FileOutputStream, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.Deflater

import scala.collection.mutable.ArrayBuffer

/** Seeded BigTIFF fixtures for the raster workloads, plus the figures a
  * correct output must reproduce (point count, value sums, lon/lat bounds).
  *
  * Everything here is written from the TIFF 6.0 / BigTIFF / GeoTIFF specs
  * and public geodesy formulas, without calling the program: the expected
  * figures must not inherit a defect of the code they check. Three files:
  *   - `stripped`: uncompressed strips, no GeoKeys (geographic by default);
  *     an f32 mask with ~30% NoData and an int16 twin on the same grid;
  *   - `cog`: 256² tiles, DEFLATE + floating-point predictor (3), GeoKeys
  *     declaring EPSG:4326 — the cloud-optimized layout;
  *   - `utm`: a 100 m int16 grid in EPSG:32633 (UTM 33N) that covers the
  *     `cog` mask, sampled through `resample=nearest`.
  *
  * Mask values are multiples of 1/4 below 2^12, so every partial sum over
  * ≤ 2^24 of them is exact in a double and the value sum can be compared
  * exactly, whatever order the engine adds them in.
  *
  * [[write]] is called by the measured JVM before its first setup, and is
  * excluded from every metric.
  */
object Fixtures {
  val Size = 2048
  val NoData = -9999f
  val NoDataText = "-9999"
  val PixelDeg = 0.00025

  /** The mask grid of each workload (0.512° square), in UTM zone 33 for `cog`. */
  final case class Grid(originX: Double, originY: Double, scale: Double, width: Int, height: Int) {
    def lon(c: Int): Double = originX + (c + 0.5) * scale
    def lat(r: Int): Double = originY - (r + 0.5) * scale
  }
  val StrippedGrid = Grid(10.0, 50.0, PixelDeg, Size, Size)
  val CogGrid = Grid(14.0, 48.0, PixelDeg, Size, Size)
  // UTM 33N secondary: 100 m cells, origin chosen to cover CogGrid with a
  // margin of several km on every side
  val UtmE0 = 420000.0
  val UtmN0 = 5330000.0
  val UtmCell = 100.0
  val UtmW = 850
  val UtmH = 1300

  /** What a correct output holds: `sums` per value column, each exact
    * unless `slack` names a tolerance for it; lon/lat bounds of the points.
    */
  final case class Expected(
      points: Long, sums: Map[String, Double], slack: Map[String, Double],
      lonMin: Double, lonMax: Double, latMin: Double, latMax: Double)

  /** Mask samples for a seed: quarter-integers from a smooth field plus
    * noise, NoData in seeded 40-pixel blocks (p = 0.26) and single pixels
    * (p = 0.05), ~30% in total.
    */
  def maskValues(seed: Long, salt: Long): Array[Float] = {
    val rnd = new SplittableRandom(seed * 1000003L + salt)
    val p1 = rnd.nextDouble() * 2 * math.Pi
    val p2 = rnd.nextDouble() * 2 * math.Pi
    val blocks = (Size + 39) / 40
    val blockNd = Array.fill(blocks * blocks)(rnd.nextDouble() < 0.26)
    val out = new Array[Float](Size * Size)
    var r = 0
    while (r < Size) {
      val cy = math.cos(r / 270.0 + p2)
      var c = 0
      while (c < Size) {
        val nd = blockNd((r / 40) * blocks + c / 40) || rnd.nextDouble() < 0.05
        out(r * Size + c) =
          if (nd) NoData
          else (math.floor(4 * (500 + 300 * math.sin(c / 310.0 + p1) * cy)) +
            rnd.nextInt(16)).toFloat / 4f
        c += 1
      }
      r += 1
    }
    out
  }

  def twinValues(seed: Long): Array[Short] = {
    val rnd = new SplittableRandom(seed * 1000003L + 7)
    Array.fill(Size * Size)((rnd.nextInt(2001) - 1000).toShort)
  }

  /** UTM cell value: affine in (col, row) so that a systematic one-cell
    * sampling shift moves the sum by millions, while a centroid that sits
    * on a cell edge can only move it by the neighbour delta (≤ 3 + 5).
    */
  def utmValue(base: Int, col: Int, row: Int): Short = (base + 3 * col + 5 * row).toShort

  // ---- WGS84 geodesy, from the textbook formulas ----
  private val A = 6378137.0
  private val F = 1 / 298.257223563
  private val E2 = F * (2 - F)
  private val Ecc = math.sqrt(E2)

  /** Authalic q(φ) (Snyder, Map Projections, eq. 3-12). The area of the
    * zone between two latitudes per radian of longitude is a²/2·Δq.
    */
  private def q(phiDeg: Double): Double = {
    val s = math.sin(math.toRadians(phiDeg))
    (1 - E2) * (s / (1 - E2 * s * s) - 1 / (2 * Ecc) * math.log((1 - Ecc * s) / (1 + Ecc * s)))
  }

  def pixelArea(latDeg: Double, dDeg: Double): Double =
    math.toRadians(dDeg) * A * A / 2 * math.abs(q(latDeg + dDeg / 2) - q(latDeg - dDeg / 2))

  /** Transverse Mercator forward on WGS84, Krüger series to n⁶
    * (Karney 2011, eq. 35), UTM scale and false easting.
    */
  final class Utm(zone: Int) {
    private val n = F / (2 - F)
    private val n2 = n * n; private val n3 = n2 * n; private val n4 = n3 * n
    private val n5 = n4 * n; private val n6 = n5 * n
    private val bigA = A / (1 + n) * (1 + n2 / 4 + n4 / 64 + n6 / 256)
    private val alpha = Array(
      n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180 - 127 * n5 / 288 + 7891 * n6 / 37800,
      13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440 + 281 * n5 / 630 - 1983433 * n6 / 1935360,
      61 * n3 / 240 - 103 * n4 / 140 + 15061 * n5 / 26880 + 167603 * n6 / 181440,
      49561 * n4 / 161280 - 179 * n5 / 168 + 6601661 * n6 / 7257600,
      34729 * n5 / 80640 - 3418889 * n6 / 1995840,
      212378941 * n6 / 319334400)
    private val e = 2 * math.sqrt(n) / (1 + n)
    private val lon0 = math.toRadians(zone * 6 - 183)
    private def atanh(x: Double) = 0.5 * math.log((1 + x) / (1 - x))

    /** Tangent of the conformal latitude: constant along a mask row. */
    def tau(latDeg: Double): Double = {
      val s = math.sin(math.toRadians(latDeg))
      math.sinh(atanh(s) - e * atanh(e * s))
    }

    /** (easting, northing) from sin/cos of the longitude from the central
      * meridian and the conformal-latitude tangent.
      */
    def forward(sinLam: Double, cosLam: Double, t: Double): (Double, Double) = {
      val xi0 = math.atan2(t, cosLam)
      val eta0 = atanh(sinLam / math.sqrt(1 + t * t))
      // ξ + iη = ζ' + Σ αj sin(2jζ'), ζ' = ξ' + iη'; the multiple angles come
      // from sin((k+1)θ) = 2 cos θ sin kθ − sin((k−1)θ) with complex θ = 2ζ'
      val s2 = math.sin(2 * xi0)
      val c2 = math.cos(2 * xi0)
      val ex = math.exp(2 * eta0)
      val sh = (ex - 1 / ex) / 2
      val ch = (ex + 1 / ex) / 2
      val (cr, ci) = (c2 * ch, -s2 * sh) // cos θ
      var (pr, pi) = (0.0, 0.0) // sin 0θ
      var (qr, qi) = (s2 * ch, c2 * sh) // sin θ
      var sumR = alpha(0) * qr
      var sumI = alpha(0) * qi
      var j = 2
      while (j <= 6) {
        val nr = 2 * (cr * qr - ci * qi) - pr
        val ni = 2 * (cr * qi + ci * qr) - pi
        pr = qr; pi = qi; qr = nr; qi = ni
        sumR += alpha(j - 1) * qr
        sumI += alpha(j - 1) * qi
        j += 1
      }
      (500000 + 0.9996 * bigA * (eta0 + sumI), 0.9996 * bigA * (xi0 + sumR))
    }

    def centralMeridianRad: Double = lon0
  }

  // ---- BigTIFF writer (little-endian) ----
  private val TShort = 3
  private val TLong = 4
  private val TDouble = 12
  private val TAscii = 2
  private val TLong8 = 16

  private final case class Tag(id: Int, tpe: Int, count: Long, payload: Array[Byte])

  private def le(n: Int)(f: ByteBuffer => Unit): Array[Byte] = {
    val b = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN); f(b); b.array()
  }
  private def shortTag(id: Int, vs: Int*) =
    Tag(id, TShort, vs.length, le(2 * vs.length)(b => vs.foreach(v => b.putShort(v.toShort))))
  private def longTag(id: Int, v: Long) = Tag(id, TLong, 1, le(4)(_.putInt(v.toInt)))
  private def long8Tag(id: Int, vs: Seq[Long]) =
    Tag(id, TLong8, vs.length, le(8 * vs.length)(b => vs.foreach(b.putLong)))
  private def doubleTag(id: Int, vs: Double*) =
    Tag(id, TDouble, vs.length, le(8 * vs.length)(b => vs.foreach(b.putDouble)))
  private def asciiTag(id: Int, s: String) = {
    val bytes = s.getBytes("US-ASCII") :+ 0.toByte
    Tag(id, TAscii, bytes.length, bytes)
  }

  sealed trait Layout
  final case class Strips(rowsPerStrip: Int) extends Layout
  final case class DeflateTiles(tile: Int) extends Layout

  /** One-band BigTIFF. `raw` holds the little-endian samples row-major;
    * geo = (scaleX, scaleY, originX, originY).
    */
  def writeBigTiff(path: Path, width: Int, height: Int, bytesPer: Int, sampleFormat: Int,
      raw: Array[Byte], layout: Layout, geo: (Double, Double, Double, Double),
      geoKeys: Seq[(Int, Int)], noData: Option[String]): Unit = {
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 20)
    var pos = 0L
    def put(bytes: Array[Byte], off: Int = 0, len: Int = -1): Unit = {
      val n = if (len < 0) bytes.length - off else len
      out.write(bytes, off, n); pos += n
    }
    def align(): Unit = if (pos % 2 != 0) put(Array[Byte](0))
    put(le(16) { b => b.put('I'.toByte).put('I'.toByte).putShort(43).putShort(8).putShort(0).putLong(0L) })
    val tags = ArrayBuffer[Tag]()
    layout match {
      case Strips(rps) =>
        val nStrips = (height + rps - 1) / rps
        val offsets = (0 until nStrips).map(s => pos + s.toLong * rps * width * bytesPer)
        put(raw)
        tags += long8Tag(273, offsets) += longTag(278, rps) += shortTag(259, 1) +=
          long8Tag(279, (0 until nStrips).map(s =>
            math.min(rps, height - s * rps).toLong * width * bytesPer))
      case DeflateTiles(t) =>
        require(bytesPer == 4 && sampleFormat == 3, "predictor 3 tiles are written for f32 only")
        val across = (width + t - 1) / t
        val down = (height + t - 1) / t
        val ndBits = java.lang.Float.floatToRawIntBits(NoData)
        val chunks = new Array[Array[Byte]](across * down)
        java.util.stream.IntStream.range(0, chunks.length).parallel().forEach { k =>
          val (tr, tc) = (k / across, k % across)
          val tile = new Array[Byte](t * t * bytesPer)
          val row = new Array[Byte](t * bytesPer)
          var y = 0
          while (y < t) {
            // one tile row: samples (edge tiles padded with NoData), then the
            // floating-point predictor of TIFF Technical Note 3 — bytes split
            // into planes, most significant first, then byte-differenced
            var x = 0
            while (x < t) {
              val (c, r) = (tc * t + x, tr * t + y)
              val bits =
                if (c < width && r < height) {
                  val i = (r * width + c) * 4
                  (raw(i) & 0xff) | (raw(i + 1) & 0xff) << 8 | (raw(i + 2) & 0xff) << 16 | (raw(i + 3) & 0xff) << 24
                } else ndBits
              var p = 0
              while (p < 4) { row(p * t + x) = (bits >>> (24 - 8 * p)).toByte; p += 1 }
              x += 1
            }
            var i = row.length - 1
            while (i > 0) { row(i) = (row(i) - row(i - 1)).toByte; i -= 1 }
            System.arraycopy(row, 0, tile, y * row.length, row.length)
            y += 1
          }
          val deflater = new Deflater(6)
          deflater.setInput(tile)
          deflater.finish()
          val buf = new Array[Byte](tile.length + 1024)
          var n = 0
          while (!deflater.finished()) n += deflater.deflate(buf, n, buf.length - n)
          deflater.end()
          chunks(k) = java.util.Arrays.copyOf(buf, n)
        }
        val offsets = ArrayBuffer[Long]()
        chunks.foreach { ch => offsets += pos; put(ch) }
        val counts = chunks.map(_.length.toLong).toSeq
        tags += shortTag(259, 8) += shortTag(317, 3) += shortTag(322, t) += shortTag(323, t) +=
          long8Tag(324, offsets.toSeq) += long8Tag(325, counts)
    }
    tags += longTag(256, width) += longTag(257, height) += shortTag(258, bytesPer * 8) +=
      shortTag(262, 1) += shortTag(277, 1) += shortTag(284, 1) += shortTag(339, sampleFormat) +=
      doubleTag(33550, geo._1, geo._2, 0.0) += doubleTag(33922, 0, 0, 0, geo._3, geo._4, 0)
    if (geoKeys.nonEmpty)
      tags += shortTag(34735, (Seq(1, 1, 0, geoKeys.length) ++
        geoKeys.flatMap { case (k, v) => Seq(k, 0, 1, v) }): _*)
    noData.foreach(nd => tags += asciiTag(42113, nd))
    val sorted = tags.sortBy(_.id)
    // payloads over 8 bytes live outside the IFD entry
    val valueField = sorted.map { tg =>
      if (tg.payload.length <= 8) tg.payload.padTo(8, 0.toByte)
      else {
        align()
        val at = pos
        put(tg.payload)
        le(8)(_.putLong(at))
      }
    }
    align()
    val ifdAt = pos
    put(le(8)(_.putLong(sorted.length.toLong)))
    sorted.zip(valueField).foreach { case (tg, v) =>
      put(le(12)(b => b.putShort(tg.id.toShort).putShort(tg.tpe.toShort).putLong(tg.count)))
      put(v)
    }
    put(le(8)(_.putLong(0L)))
    out.close()
    val raf = new RandomAccessFile(path.toFile, "rw")
    try { raf.seek(8); raf.write(le(8)(_.putLong(ifdAt))) } finally raf.close()
  }

  private def floatBytes(vs: Array[Float]): Array[Byte] = {
    val b = ByteBuffer.allocate(vs.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    b.asFloatBuffer().put(vs)
    b.array()
  }
  private def shortBytes(vs: Array[Short]): Array[Byte] = {
    val b = ByteBuffer.allocate(vs.length * 2).order(ByteOrder.LITTLE_ENDIAN)
    b.asShortBuffer().put(vs)
    b.array()
  }

  /** Bounds and per-row counts of the valid mask pixels. */
  private final class MaskScan(g: Grid, mask: Array[Float]) {
    val rowCount = new Array[Long](g.height)
    var cMin = Int.MaxValue; var cMax = -1; var rMin = Int.MaxValue; var rMax = -1
    var sum = 0.0
    def valid(i: Int): Boolean = mask(i) != NoData
    for (r <- 0 until g.height; c <- 0 until g.width) {
      val i = r * g.width + c
      if (valid(i)) {
        rowCount(r) += 1
        sum += mask(i)
        if (c < cMin) cMin = c
        if (c > cMax) cMax = c
        if (r < rMin) rMin = r
        if (r > rMax) rMax = r
      }
    }
    def points: Long = rowCount.sum
    def expected(sums: Map[String, Double], slack: Map[String, Double]): Expected =
      Expected(points, sums + ("mask" -> sum), slack,
        g.lon(cMin), g.lon(cMax), g.lat(rMax), g.lat(rMin))
  }

  /** `raster_csv_area`: stripped f32 mask + int16 twin, area expected. */
  def stripped(dir: Path, seed: Long): Expected = {
    val g = StrippedGrid
    val geo = (g.scale, g.scale, g.originX, g.originY)
    val mask = maskValues(seed, 1)
    val twin = twinValues(seed)
    writeBigTiff(dir.resolve("mask.tif"), Size, Size, 4, 3, floatBytes(mask), Strips(16),
      geo, Nil, Some(NoDataText))
    writeBigTiff(dir.resolve("twin.tif"), Size, Size, 2, 2, shortBytes(twin), Strips(16),
      geo, Nil, None)
    val scan = new MaskScan(g, mask)
    var twinSum = 0L
    var area = 0.0
    for (r <- 0 until g.height) {
      var c = 0
      while (c < g.width) { val i = r * g.width + c; if (scan.valid(i)) twinSum += twin(i); c += 1 }
      area += scan.rowCount(r) * pixelArea(g.lat(r), g.scale)
    }
    scan.expected(Map("twin" -> twinSum.toDouble, "area" -> area), Map.empty)
  }

  /** `raster_parquet_cog_utm`: tiled DEFLATE mask + UTM 33N secondary. */
  def cog(dir: Path, seed: Long): Expected = {
    val g = CogGrid
    val mask = maskValues(seed, 2)
    writeBigTiff(dir.resolve("mask.tif"), Size, Size, 4, 3, floatBytes(mask), DeflateTiles(256),
      (g.scale, g.scale, g.originX, g.originY), Seq(1024 -> 2, 1025 -> 1, 2048 -> 4326),
      Some(NoDataText))
    val base = (seed.abs % 1000).toInt
    val utm = Array.tabulate(UtmW * UtmH)(i => utmValue(base, i % UtmW, i / UtmW))
    writeBigTiff(dir.resolve("utm.tif"), UtmW, UtmH, 2, 2, shortBytes(utm), Strips(64),
      (UtmCell, UtmCell, UtmE0, UtmN0), Seq(1024 -> 1, 1025 -> 1, 3072 -> 32633), None)
    val scan = new MaskScan(g, mask)
    // nearest-cell sample of each valid centroid; a centroid within 1e-6
    // cells of an edge may land on either side, so it widens the tolerance
    val tm = new Utm(33)
    val eps = 1e-6
    val sinLam = Array.tabulate(g.width)(c => math.sin(math.toRadians(g.lon(c)) - tm.centralMeridianRad))
    val cosLam = Array.tabulate(g.width)(c => math.cos(math.toRadians(g.lon(c)) - tm.centralMeridianRad))
    val rowSum = new Array[Long](g.height)
    val rowSlack = new Array[Double](g.height)
    java.util.stream.IntStream.range(0, g.height).parallel().forEach { r =>
      val t = tm.tau(g.lat(r))
      var c = 0
      while (c < g.width) {
        if (scan.valid(r * g.width + c)) {
          val (e, n) = tm.forward(sinLam(c), cosLam(c), t)
          val p = (e - UtmE0) / UtmCell
          val qq = (UtmN0 - n) / UtmCell
          rowSum(r) += utmValue(base, math.floor(p).toInt, math.floor(qq).toInt)
          def edge(f: Double) = { val fr = f - math.floor(f); fr < eps || fr > 1 - eps }
          if (edge(p) || edge(qq)) rowSlack(r) += 8
        }
        c += 1
      }
    }
    val sum = rowSum.sum
    val slack = rowSlack.sum
    scan.expected(Map("utm" -> sum.toDouble), Map("utm" -> slack))
  }

  /** Writes the workload's rasters into `dir`; returns their figures. */
  def write(workload: String, seed: Long, dir: Path): Expected = {
    Files.createDirectories(dir)
    workload match {
      case "raster_csv_area" => stripped(dir, seed)
      case "raster_parquet_cog_utm" => cog(dir, seed)
      case w => throw new IllegalArgumentException(s"no raster fixtures for workload $w")
    }
  }
}
