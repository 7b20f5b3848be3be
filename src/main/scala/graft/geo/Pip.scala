package graft.geo

/**
 * Point-in-polygon over packed rings, from scratch.
 *
 * A polygon is `Array[Array[Double]]`: each ring is packed [x0,y0,x1,y1,...]
 * (x = lon, y = lat), implicitly closed (last vertex connects to first).
 * Ring 0 is the outer shell; additional rings are holes. Containment uses the
 * even-odd (ray crossing) rule over all rings, so holes need no special casing.
 *
 * Antimeridian: a crossing polygon is stored in *continuous* coordinates
 * (e.g. lon 170..190); `contains` normalises the query longitude into the
 * ring's lon window before testing.
 */
object Pip {

  /** Read-only cursor over a polygon's packed rings: `load(r)` selects ring
    * r, then `size`/`at` read its doubles. Lets the one kernel below run
    * over plain arrays and over rings read in place (graft.expr.G). */
  abstract class Rings {
    def count: Int
    def load(r: Int): Unit
    def size: Int
    def at(i: Int): Double
  }

  private final class ArrayRings(rings: Array[Array[Double]]) extends Rings {
    private var ring: Array[Double] = _
    def count: Int = rings.length
    def load(r: Int): Unit = ring = rings(r)
    def size: Int = ring.length
    def at(i: Int): Double = ring(i)
  }

  /** Even-odd (ray crossing) containment over all rings — outer shell XOR
    * holes — after antimeridian normalisation of `lon` against ring 0.
    * Boundary points follow the half-open convention of the crossing test
    * (deterministic, not "always in"). */
  def contains(rings: Rings, lon: Double, lat: Double): Boolean = {
    val nRings = rings.count
    if (nRings == 0) return false
    rings.load(0)
    val lonN = normalizeLon(rings, lon)
    var inside = false
    var r = 0
    while (r < nRings) {
      rings.load(r)
      val n = rings.size / 2
      var i = 0
      var j = n - 1
      while (i < n) {
        val xi = rings.at(2 * i); val yi = rings.at(2 * i + 1)
        val xj = rings.at(2 * j); val yj = rings.at(2 * j + 1)
        if ((yi > lat) != (yj > lat)) {
          val xCross = (xj - xi) * (lat - yi) / (yj - yi) + xi
          if (lonN < xCross) inside = !inside
        }
        j = i
        i += 1
      }
      r += 1
    }
    inside
  }

  def contains(rings: Array[Array[Double]], lon: Double, lat: Double): Boolean =
    contains(new ArrayRings(rings), lon, lat)

  /** If the outer ring extends past lon 180 (continuous antimeridian storage),
    * shift a western-hemisphere query lon by +360 into the ring's window. */
  def normalizeLon(outer: Array[Double], lon: Double): Double = {
    val ring = new ArrayRings(Array(outer))
    ring.load(0)
    normalizeLon(ring, lon)
  }

  /** `normalizeLon` against the ring `outer` has loaded. */
  private def normalizeLon(outer: Rings, lon: Double): Double = {
    var maxX = Double.NegativeInfinity
    var minX = Double.PositiveInfinity
    var i = 0
    val n = outer.size
    while (i < n) {
      val x = outer.at(i)
      if (x > maxX) maxX = x
      if (x < minX) minX = x
      i += 2
    }
    if (maxX > 180.0 && lon < minX && lon + 360.0 <= maxX + (maxX - minX)) lon + 360.0
    else lon
  }

  /** Winding-number containment — independent oracle for property tests. */
  def containsWinding(rings: Array[Array[Double]], lon: Double, lat: Double): Boolean = {
    if (rings.isEmpty) return false
    val lonN = normalizeLon(rings(0), lon)
    def wn(ring: Array[Double]): Int = {
      val n = ring.length / 2
      var wind = 0
      var i = 0
      while (i < n) {
        val j = (i + 1) % n
        val xi = ring(2 * i); val yi = ring(2 * i + 1)
        val xj = ring(2 * j); val yj = ring(2 * j + 1)
        if (yi <= lat) {
          if (yj > lat && isLeft(xi, yi, xj, yj, lonN, lat) > 0) wind += 1
        } else {
          if (yj <= lat && isLeft(xi, yi, xj, yj, lonN, lat) < 0) wind -= 1
        }
        i += 1
      }
      wind
    }
    val inOuter = wn(rings(0)) != 0
    val inHole = rings.iterator.drop(1).exists(h => wn(h) != 0)
    inOuter && !inHole
  }

  @inline private def isLeft(x0: Double, y0: Double, x1: Double, y1: Double, px: Double, py: Double): Double =
    (x1 - x0) * (py - y0) - (px - x0) * (y1 - y0)

  /** Bounding box of a polygon: (latMin, lonMin, latMax, lonMax). */
  def bbox(rings: Array[Array[Double]]): (Double, Double, Double, Double) = {
    var latMin = Double.PositiveInfinity; var latMax = Double.NegativeInfinity
    var lonMin = Double.PositiveInfinity; var lonMax = Double.NegativeInfinity
    val outer = rings(0)
    var i = 0
    while (i < outer.length) {
      val x = outer(i); val y = outer(i + 1)
      if (x < lonMin) lonMin = x
      if (x > lonMax) lonMax = x
      if (y < latMin) latMin = y
      if (y > latMax) latMax = y
      i += 2
    }
    (latMin, lonMin, latMax, lonMax)
  }

  /** GridCell cover of a polygon at `res`: every cell that intersects the
    * polygon's bbox (`GridCell.cover` is a plain bbox scan). Used as the
    * equi-join pre-filter for the two-phase PIP join — coarse but sound:
    * every cell that contains any polygon point is included. An empty
    * outer ring covers nothing. */
  def cellCover(rings: Array[Array[Double]], res: Int): Array[Long] = {
    if (rings(0).isEmpty) return Array.emptyLongArray
    val (latMin, lonMin, latMax, lonMax) = bbox(rings)
    if (lonMax <= 180.0) GridCell.cover(latMin, lonMin, latMax, lonMax, res)
    else {
      // antimeridian-crossing polygon (continuous storage, lon > 180): the
      // wrapped portion lives at lon - 360 in point space — cover both sides
      val east = GridCell.cover(latMin, lonMin, latMax, 180.0 - 1e-12, res)
      val west = GridCell.cover(latMin, -180.0, latMax, lonMax - 360.0, res)
      (east ++ west).distinct.sorted
    }
  }
}
