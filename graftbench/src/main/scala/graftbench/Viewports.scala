package graftbench

import java.util.SplittableRandom

/** Seeded pan/zoom sessions over a 1024x768-pixel map of 256-pixel tiles:
  * the viewport bboxes a map client asks for. Bboxes are sent raw, so a
  * viewport over the antimeridian has maxLng > 180 (or minLng < -180) and
  * a viewport wider than the world spans more than 360 degrees.
  */
object Viewports {
  type BBox = (Double, Double, Double, Double)

  private val Cities = graft.io.SyntheticPoints.CityCenters.map { case (lng, lat, _) => (lng, lat) }

  def latToY(lat: Double): Double = {
    val s = math.sin(lat * math.Pi / 180.0)
    0.5 - math.log((1.0 + s) / (1.0 - s)) / (4.0 * math.Pi)
  }

  def yToLat(y: Double): Double =
    math.atan(math.sinh(math.Pi * (1.0 - 2.0 * y))) * 180.0 / math.Pi

  def viewport(lng: Double, lat: Double, z: Int): BBox = {
    val scale = math.pow(2.0, z.toDouble)
    val halfW = 360.0 * 4.0 / scale / 2.0 // 1024 px = 4 tiles wide
    val yc = latToY(lat)
    val halfH = 3.0 / scale / 2.0 // 768 px = 3 tiles tall, in unit Mercator y
    val y0 = math.max(0.0, yc - halfH)
    val y1 = math.min(1.0, yc + halfH)
    (lng - halfW, yToLat(y1), lng + halfW, yToLat(y0))
  }

  /** One session: a start point (near a city, anywhere, or on the
    * antimeridian) and `steps` pans and zooms within [zMin, zMax].
    */
  def session(rng: SplittableRandom, steps: Int, zMin: Int, zMax: Int): Seq[(BBox, Int)] = {
    val kind = rng.nextDouble()
    var (lng, lat) =
      if (kind < 0.7) {
        val (cl, ca) = Cities(rng.nextInt(Cities.length))
        (cl + rng.nextDouble() * 4.0 - 2.0, ca + rng.nextDouble() * 4.0 - 2.0)
      } else if (kind < 0.9) (rng.nextDouble() * 360.0 - 180.0, rng.nextDouble() * 140.0 - 70.0)
      else (180.0 + rng.nextDouble() * 2.0 - 1.0, rng.nextDouble() * 120.0 - 60.0)
    var z = zMin + rng.nextInt(zMax - zMin + 1)
    (0 until steps).map { _ =>
      val a = rng.nextDouble()
      if (a < 0.4) {
        val scale = math.pow(2.0, z.toDouble)
        lng += (rng.nextDouble() - 0.5) * 0.6 * 360.0 * 4.0 / scale
        lat = math.max(-80.0, math.min(80.0, lat + (rng.nextDouble() - 0.5) * 0.6 * 170.0 * 3.0 / scale))
        if (lng >= 180.0) lng -= 360.0 else if (lng < -180.0) lng += 360.0
      } else if (a < 0.7) z = math.min(zMax, z + 1)
      else z = math.max(zMin, z - 1)
      (viewport(lng, lat, z), z)
    }
  }

  /** Whether (lng, lat) lies in `b` after the wrap a map client expects
    * (longitudes taken modulo 360; a box of 360 degrees or more is the
    * whole world), within `eps` degrees.
    */
  def contains(b: BBox, lng: Double, lat: Double, eps: Double): Boolean = {
    val (minLng, minLat, maxLng, maxLat) = b
    val latOk = lat >= math.max(minLat, -90.0) - eps && lat <= math.min(maxLat, 90.0) + eps
    def wrap(x: Double) = ((x + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    val lngOk =
      if (maxLng - minLng >= 360.0) true
      else {
        val lo = wrap(minLng); val hi = wrap(maxLng)
        if (lo <= hi) lng >= lo - eps && lng <= hi + eps
        else lng >= lo - eps || lng <= hi + eps
      }
    latOk && lngOk
  }

  /** The bbox as unit-Mercator ranges: x ranges (none = whole world, two =
    * antimeridian split) and the y range, for filtering level rows.
    */
  def mercatorRanges(b: BBox): (Seq[(Double, Double)], Double, Double) = {
    val (minLng, minLat, maxLng, maxLat) = b
    def wrap(x: Double) = ((x + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    def x(lng: Double) = lng / 360.0 + 0.5
    val y0 = latToY(math.min(math.max(maxLat, -90.0), 90.0)).max(0.0).min(1.0)
    val y1 = latToY(math.min(math.max(minLat, -90.0), 90.0)).max(0.0).min(1.0)
    val xs =
      if (maxLng - minLng >= 360.0) Seq.empty
      else {
        val lo = wrap(minLng); val hi = wrap(maxLng)
        if (lo <= hi) Seq((x(lo), x(hi))) else Seq((x(lo), x(180.0)), (x(-180.0), x(hi)))
      }
    (xs, y0, y1)
  }
}
