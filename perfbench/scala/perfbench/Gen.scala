package perfbench

/** Seeded input generators. Every value is a pure function of the workload
  * seed and an element id (a splitmix64 hash), so the same seed gives the
  * same inputs whatever the partitioning, and the driver can regenerate any
  * element to check a result independently. */
object Gen {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform [0, 1) draw number `stream` for element `id`. */
  def unit(seed: Long, id: Long, stream: Int): Double =
    (mix(mix(seed ^ (stream.toLong << 48)) ^ id) >>> 11) * (1.0 / (1L << 53))

  def gaussian(seed: Long, id: Long, stream: Int): Double = {
    val u1 = math.max(unit(seed, id, stream), 1e-300)
    val u2 = unit(seed, id, stream + 1)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** The region every workload draws from: a continental box clear of the
    * poles and the antimeridian. */
  val LatMin = 36.0
  val LatMax = 62.0
  val LngMin = -8.0
  val LngMax = 38.0

  /** Point clusters: seeded centres with a Zipf-like weight each (so a few
    * clusters hold most points and group-by keys are skewed), a spread, and
    * a share of uniform noise over the region. Weights and spreads depend
    * on the cluster's rank only, and centres are spread evenly, so every
    * seed asks for about the same amount of work and only the layout
    * varies. */
  final case class Clusters(lat: Array[Double], lng: Array[Double], sigmaDeg: Array[Double],
      cdf: Array[Double], noise: Double) {
    def size: Int = lat.length
  }

  def clusters(seed: Long, n: Int, noise: Double): Clusters = {
    val s = mix(seed ^ 0x636c7573L)
    // one centre per slot of a grid over the region, jittered inside its
    // slot, so the density of centres is the same for every seed; the seed
    // picks which slot each weight rank lands in
    val latSpan = LatMax - LatMin - 2
    val lngSpan = LngMax - LngMin - 2
    val cols = math.ceil(math.sqrt(n * lngSpan / latSpan)).toInt
    val rows = (n + cols - 1) / cols
    val slots = (0 until rows * cols).sortBy(j => mix(s ^ j)).take(n)
    val lat = Array.tabulate(n)(i =>
      LatMin + 1 + (slots(i) / cols + 0.1 + 0.8 * unit(s, i, 0)) * latSpan / rows)
    val lng = Array.tabulate(n)(i =>
      LngMin + 1 + (slots(i) % cols + 0.1 + 0.8 * unit(s, i, 1)) * lngSpan / cols)
    val sigma = Array.tabulate(n)(i => 0.0005 + 0.0045 * ((i * 0.6180339887498949) % 1.0))
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, 0.8))
    val total = w.sum
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    Clusters(lat, lng, sigma, cdf, noise)
  }

  /** One generated point: (lat, lng, category 0..3, value 0..99). */
  final case class Point(id: Long, lat: Double, lng: Double, cat: Int, v: Int)

  def point(seed: Long, c: Clusters, id: Long): Point = {
    val cat = (mix(seed ^ id ^ 0x636174L) & 3).toInt
    val v = ((mix(seed ^ id ^ 0x76616cL) >>> 1) % 100).toInt
    if (unit(seed, id, 0) < c.noise)
      Point(id, LatMin + (LatMax - LatMin) * unit(seed, id, 1),
        LngMin + (LngMax - LngMin) * unit(seed, id, 2), cat, v)
    else {
      var k = java.util.Arrays.binarySearch(c.cdf, unit(seed, id, 3))
      if (k < 0) k = -k - 1
      k = math.min(k, c.size - 1)
      val sd = c.sigmaDeg(k)
      val lat = c.lat(k) + sd * gaussian(seed, id, 4)
      val lng = c.lng(k) + sd / math.cos(math.toRadians(c.lat(k))) * gaussian(seed, id, 6)
      Point(id, lat, lng, cat, v)
    }
  }

  /** Raster of `classes` value classes laid out as seeded blobs with
    * wobbly edges; the pixels farthest from every blob centre are nodata,
    * exactly `nodataShare` of them. Row-major, `width` x `height`. */
  def raster(seed: Long, width: Int, height: Int, blobs: Int, classes: Int,
      nodata: Double, nodataShare: Double): Array[Double] = {
    val s = mix(seed ^ 0x72617374L)
    val bx = Array.tabulate(blobs)(i => unit(s, i, 0) * width)
    val by = Array.tabulate(blobs)(i => unit(s, i, 1) * height)
    val br = Array.tabulate(blobs)(i => (0.08 + 0.1 * unit(s, i, 2)) * math.min(width, height))
    val cls = Array.tabulate(blobs)(i => 1.0 + (mix(s ^ i) >>> 1) % classes)
    val out = Array.fill(width * height)(nodata)
    // normalised distance to the nearest blob centre; > 1 outside every blob
    val bestD = Array.fill(width * height)(Double.MaxValue)
    for (i <- 0 until blobs) {
      val rMax = br(i) * 1.25
      val y0 = math.max(0, (by(i) - rMax).toInt); val y1 = math.min(height - 1, (by(i) + rMax).toInt)
      val x0 = math.max(0, (bx(i) - rMax).toInt); val x1 = math.min(width - 1, (bx(i) + rMax).toInt)
      var y = y0
      while (y <= y1) {
        var x = x0
        while (x <= x1) {
          val dx = x - bx(i); val dy = y - by(i)
          val r = br(i) * (1 + 0.25 * math.sin(3 * math.atan2(dy, dx) + i))
          val dd = (dx * dx + dy * dy) / (r * r)
          val p = y * width + x
          if (dd < bestD(p)) { bestD(p) = dd; out(p) = cls(i) }
          x += 1
        }
        y += 1
      }
    }
    val cut = bestD.sorted.apply(((1 - nodataShare) * bestD.length).toInt)
    var p = 0
    while (p < out.length) { if (bestD(p) >= cut) out(p) = nodata; p += 1 }
    out
  }
}
