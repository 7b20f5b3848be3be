package graft.geo

/**
 * H3-style hierarchical spatial cell index, built from scratch (no H3 jar in the
 * sandbox, and the north rule requires a from-scratch implementation anyway).
 *
 * World grid: at resolution `r` (0..15) the lon range [-180, 180) is split into
 * 2^r columns and the lat range [-90, 90) into 2^r rows. A cell id packs the
 * Morton (Z-order) interleave of (x, y) with the resolution in the low 4 bits:
 *
 *   id = (morton(x, y) << 4) | r
 *
 * Properties (mirroring H3's index semantics used by the reference engine design,
 * see /root/repo/SURVEY.md §2.2 "UDF/UDAF surface"):
 *  - hierarchical containment: parent(encode(p, r)) == encode(p, r-1)
 *  - k-ring neighbourhood (Chebyshev rings on the grid, H3's gridDisk analog)
 *  - resolution recoverable from the id alone
 *
 * All math is integer or IEEE +,-,*,/ only, so a SQL oracle (DuckDB) computing
 * floor((lon+180)/360 * 2^r) reproduces x/y bit-for-bit.
 */
object GridCell {
  val MinRes = 0
  val MaxRes = 15

  @inline def resOf(cell: Long): Int = (cell & 0xFL).toInt

  /** Grid width/height (number of cells per axis) at resolution r. */
  @inline def dim(res: Int): Int = 1 << res

  /** Cell width in degrees longitude at resolution r. */
  @inline def cellW(res: Int): Double = 360.0 / dim(res)

  /** Cell height in degrees latitude at resolution r. */
  @inline def cellH(res: Int): Double = 180.0 / dim(res)

  @inline def xOf(cell: Long): Int = deinterleave(cell >>> 4)
  @inline def yOf(cell: Long): Int = deinterleave(cell >>> 5)

  def encode(lat: Double, lon: Double, res: Int): Long = {
    require(res >= MinRes && res <= MaxRes, s"resolution $res out of [0,15]")
    val n = dim(res)
    var x = math.floor((lon + 180.0) / 360.0 * n).toInt
    var y = math.floor((lat + 90.0) / 180.0 * n).toInt
    // clamp the closed upper boundary (lon=180, lat=90) into the last cell
    if (x >= n) x = n - 1
    if (x < 0) x = 0
    if (y >= n) y = n - 1
    if (y < 0) y = 0
    fromXY(x, y, res)
  }

  def fromXY(x: Int, y: Int, res: Int): Long =
    (interleave(x) << 4) | (interleave(y) << 5) | res.toLong

  def toParent(cell: Long, targetRes: Int): Long = {
    val r = resOf(cell)
    require(targetRes <= r, s"target resolution $targetRes above cell resolution $r")
    (((cell >>> 4) >>> (2 * (r - targetRes))) << 4) | targetRes.toLong
  }

  /** Children of a cell at res+1 (4 of them). */
  def children(cell: Long): Array[Long] = {
    val r = resOf(cell)
    require(r < MaxRes)
    val base = (cell >>> 4) << 2
    Array.tabulate(4)(i => ((base | i) << 4) | (r + 1).toLong)
  }

  /** Cell centre (lat, lon). */
  def center(cell: Long): (Double, Double) = {
    val r = resOf(cell)
    val n = dim(r)
    val lat = -90.0 + (yOf(cell) + 0.5) * 180.0 / n
    val lon = -180.0 + (xOf(cell) + 0.5) * 360.0 / n
    (lat, lon)
  }

  /** Cell bounding box (latMin, lonMin, latMax, lonMax). */
  def bounds(cell: Long): (Double, Double, Double, Double) = {
    val r = resOf(cell)
    val n = dim(r)
    val lonMin = -180.0 + xOf(cell) * 360.0 / n
    val latMin = -90.0 + yOf(cell) * 180.0 / n
    (latMin, lonMin, latMin + 180.0 / n, lonMin + 360.0 / n)
  }

  /**
   * All cells within Chebyshev grid distance k (H3 gridDisk analog): the
   * (2k+1)^2 block around the cell, wrapping in longitude, clamped in latitude.
   * Returned sorted & distinct, centre cell included.
   */
  def kRing(cell: Long, k: Int): Array[Long] = {
    require(k >= 0)
    val r = resOf(cell)
    val n = dim(r)
    val cx = xOf(cell)
    val cy = yOf(cell)
    val out = new scala.collection.mutable.ArrayBuffer[Long]((2 * k + 1) * (2 * k + 1))
    var dy = -k
    while (dy <= k) {
      val y = cy + dy
      if (y >= 0 && y < n) {
        var dx = -k
        while (dx <= k) {
          val x = java.lang.Math.floorMod(cx + dx, n) // lon wraparound
          out += fromXY(x, y, r)
          dx += 1
        }
      }
      dy += 1
    }
    out.distinct.sorted.toArray
  }

  /** Just ring k (hollow) — 8k cells on an unclamped grid. */
  def ring(cell: Long, k: Int): Array[Long] =
    if (k == 0) Array(cell)
    else {
      val inner = kRing(cell, k - 1).toSet
      kRing(cell, k).filterNot(inner.contains)
    }

  /**
   * Guaranteed-coverage radius of a k-ring in degree space: any point outside
   * the k-ring of a query's cell is at least this far (Chebyshev in degrees)
   * from the query point. Used to certify kNN results (see KnnJoin).
   */
  def safeRadiusDeg(res: Int, k: Int): Double =
    k * math.min(cellW(res), cellH(res))

  /** All cells at `res` whose bounding box intersects the given lat/lon bbox. */
  def cover(latMin: Double, lonMin: Double, latMax: Double, lonMax: Double, res: Int): Array[Long] = {
    val n = dim(res)
    def clampI(v: Int) = math.max(0, math.min(n - 1, v))
    val x0 = clampI(math.floor((lonMin + 180.0) / 360.0 * n).toInt)
    val x1 = clampI(math.floor((lonMax + 180.0) / 360.0 * n).toInt)
    val y0 = clampI(math.floor((latMin + 90.0) / 180.0 * n).toInt)
    val y1 = clampI(math.floor((latMax + 90.0) / 180.0 * n).toInt)
    val out = new scala.collection.mutable.ArrayBuffer[Long]((x1 - x0 + 1) * (y1 - y0 + 1))
    var y = y0
    while (y <= y1) {
      var x = x0
      while (x <= x1) { out += fromXY(x, y, res); x += 1 }
      y += 1
    }
    out.toArray
  }

  // ---- Morton bit interleaving (16-bit coordinates -> even bit positions) ----
  @inline private def interleave(v: Int): Long = {
    var x = v.toLong & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }

  @inline private def deinterleave(m: Long): Int = {
    var x = m & 0x55555555L
    x = (x | (x >>> 1)) & 0x33333333L
    x = (x | (x >>> 2)) & 0x0F0F0F0FL
    x = (x | (x >>> 4)) & 0x00FF00FFL
    x = (x | (x >>> 8)) & 0x0000FFFFL
    x.toInt
  }
}
