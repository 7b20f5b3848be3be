package graft.geo

/**
 * S2-style cell id: cube-face projection + Hilbert-curve quadtree, from scratch.
 *
 * lat/lon -> unit vector -> dominant cube face (0..5) -> (u, v) in [-1, 1] ->
 * (s, t) in [0, 1) (linear projection; real S2 uses a quadratic warp, which is a
 * uniformity optimisation, not a semantic requirement) -> integer (i, j) at
 * `level` -> Hilbert curve position d.
 *
 * Packing (64-bit): id = (face << 61) | (d << 5) | level, level in 0..27.
 * Hierarchical: parent = drop 2 Hilbert bits (Hilbert positions nest exactly
 * like Morton positions under the recursive construction used here).
 */
object S2Cell {
  val MaxLevel = 27

  @inline def levelOf(id: Long): Int = (id & 0x1FL).toInt
  @inline def posOf(id: Long): Long = (id << 3) >>> 8 // strip face(3) then level(5)

  def encode(lat: Double, lon: Double, level: Int): Long = {
    require(level >= 0 && level <= MaxLevel, s"level $level out of [0,27]")
    val latR = math.toRadians(lat)
    val lonR = math.toRadians(lon)
    val x = math.cos(latR) * math.cos(lonR)
    val y = math.cos(latR) * math.sin(lonR)
    val z = math.sin(latR)
    val (face, u, v) = faceUV(x, y, z)
    val n = 1L << level
    def toIJ(w: Double): Int = {
      val c = ((w + 1.0) * 0.5 * n).toLong
      math.max(0L, math.min(n - 1, c)).toInt
    }
    val d = hilbertD(level, toIJ(u), toIJ(v))
    (face.toLong << 61) | (d << 5) | level.toLong
  }

  def toParent(id: Long, targetLevel: Int): Long = {
    val l = levelOf(id)
    require(targetLevel <= l)
    (id & 0xE000000000000000L) | ((posOf(id) >>> (2 * (l - targetLevel))) << 5) | targetLevel.toLong
  }

  /** Dominant-axis cube face + in-face coordinates, mirroring S2's face layout. */
  private def faceUV(x: Double, y: Double, z: Double): (Int, Double, Double) = {
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    if (ax >= ay && ax >= az) {
      if (x > 0) (0, y / x, z / x) else (3, -z / -x, -y / -x)
    } else if (ay >= az) {
      if (y > 0) (1, -x / y, z / y) else (4, -z / -y, x / -y)
    } else {
      if (z > 0) (2, -x / z, -y / z) else (5, y / -z, x / -z)
    }
  }

  /**
   * Hilbert curve: (i, j) at `level` -> curve position. Standard iterative
   * rotation algorithm (public-domain construction, cf. the classic
   * "Programming the Hilbert curve" formulation).
   */
  def hilbertD(level: Int, i0: Int, j0: Int): Long = {
    var rx = 0; var ry = 0; var d = 0L
    var x = i0; var y = j0
    var s = 1 << (level - 1)
    if (level == 0) return 0L
    while (s > 0) {
      rx = if ((x & s) > 0) 1 else 0
      ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s.toLong * ((3 * rx) ^ ry)
      // rotate quadrant
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>>= 1
    }
    d
  }
}
