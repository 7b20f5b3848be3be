package graft

import graft.geo._
import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests over deterministic seeded samples (the scalatest
  * ScalaCheck bridge is not available offline; splitmix64-driven loops give the
  * same coverage reproducibly). */
class GeoCoreSpec extends AnyFunSuite {

  private def samples(n: Int, seed: Long): Seq[(Double, Double)] =
    (0 until n).map { i =>
      val lat = -89.9 + 179.8 * Rng.uniform(seed + 2 * i)
      val lon = -179.9 + 359.8 * Rng.uniform(seed + 2 * i + 1)
      (lat, lon)
    }

  /** Cube face (0..5) of an S2Cell id: its top three bits. */
  private def faceOf(id: Long): Int = (id >>> 61).toInt

  /** Inverse of `S2Cell.hilbertD`: curve position -> (i, j) at `level`. */
  private def hilbertIJ(level: Int, d0: Long): (Int, Int) = {
    var x = 0; var y = 0
    var t = d0
    var s = 1
    while (s < (1 << level)) {
      val rx = (1L & (t / 2)).toInt
      val ry = (1L & (t ^ rx)).toInt
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s <<= 1
    }
    (x, y)
  }

  /** NW-corner lat/lon of a Tile id (the inverse mapping). */
  private def nwCorner(id: Long): (Double, Double) = {
    val z = Tile.zOf(id); val n = (1L << z).toDouble
    val lon = Tile.xOf(id) / n * 360.0 - 180.0
    val lat = math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * Tile.yOf(id) / n))))
    (lat, lon)
  }

  // ---------- GridCell ----------

  test("GridCell known vectors") {
    val c = GridCell.encode(10.0, 10.0, 1) // res 1: 2x2 grid
    assert(GridCell.xOf(c) == 1 && GridCell.yOf(c) == 1 && GridCell.resOf(c) == 1)
    val c2 = GridCell.encode(-10.0, -10.0, 1)
    assert(GridCell.xOf(c2) == 0 && GridCell.yOf(c2) == 0)
    val cb = GridCell.encode(90.0, 180.0, 3) // boundary clamps into last cell
    assert(GridCell.xOf(cb) == 7 && GridCell.yOf(cb) == 7)
  }

  test("GridCell round trip x/y/res and centre re-encode") {
    for (((lat, lon), i) <- samples(500, 1).zipWithIndex) {
      val res = i % 16
      val c = GridCell.encode(lat, lon, res)
      assert(GridCell.resOf(c) == res)
      assert(GridCell.fromXY(GridCell.xOf(c), GridCell.yOf(c), res) == c)
      val (clat, clon) = GridCell.center(c)
      assert(GridCell.encode(clat, clon, res) == c)
    }
  }

  test("GridCell hierarchical containment: parent(encode(p,r)) == encode(p,r-1)") {
    for (((lat, lon), i) <- samples(500, 2).zipWithIndex) {
      val res = 1 + i % 15
      assert(GridCell.toParent(GridCell.encode(lat, lon, res), res - 1) == GridCell.encode(lat, lon, res - 1))
    }
  }

  test("GridCell toParent across multiple levels") {
    for ((lat, lon) <- samples(200, 3)) {
      val c11 = GridCell.encode(lat, lon, 11)
      assert(GridCell.toParent(c11, 7) == GridCell.encode(lat, lon, 7))
      assert(GridCell.toParent(c11, 11) == c11)
    }
  }

  test("GridCell children invert parent") {
    val c = GridCell.encode(55.75, 37.62, 7)
    val kids = GridCell.children(c)
    assert(kids.length == 4 && kids.distinct.length == 4)
    assert(kids.forall(k => GridCell.toParent(k, 7) == c))
  }

  test("GridCell kRing sizes for interior cells") {
    val c = GridCell.encode(50.0, 50.0, 7)
    assert(GridCell.kRing(c, 0).toSeq == Seq(c))
    assert(GridCell.kRing(c, 1).length == 9)
    assert(GridCell.kRing(c, 2).length == 25)
    assert(GridCell.ring(c, 1).length == 8)
    assert(GridCell.ring(c, 2).length == 16)
  }

  test("GridCell kRing wraps longitude and clamps latitude") {
    val nearDateline = GridCell.encode(0.0, 179.9, 7)
    assert(GridCell.kRing(nearDateline, 1).length == 9)
    val nearPole = GridCell.encode(89.9, 0.0, 7)
    assert(GridCell.kRing(nearPole, 1).length == 6)
  }

  test("GridCell kRing coverage guarantee: nearby point's cell is inside the ring") {
    for (((lat, lon), i) <- samples(300, 4).zipWithIndex if math.abs(lat) < 80) {
      val res = 7
      val k = 1 + i % 3
      val c = GridCell.encode(lat, lon, res)
      val d = (k - 0.5) * math.min(GridCell.cellW(res), GridCell.cellH(res))
      val p = GridCell.encode(
        math.max(-89.9, math.min(89.9, lat + d * 0.7)),
        lon + d * 0.7, res)
      assert(GridCell.kRing(c, k).contains(p), s"k=$k lat=$lat lon=$lon")
    }
  }

  test("GridCell cover of a bbox contains interior cells only as expected") {
    val cells = GridCell.cover(10.0, 20.0, 12.0, 24.0, 7).toSet
    assert(cells.contains(GridCell.encode(11.0, 22.0, 7)))
    assert(cells.contains(GridCell.encode(10.0, 20.0, 7)))
    assert(!cells.contains(GridCell.encode(15.0, 22.0, 7)))
  }

  test("GridCell safeRadius: any point outside the k-ring is farther than safeRadius") {
    for (((lat, lon), i) <- samples(200, 5).zipWithIndex if math.abs(lat) < 80) {
      val res = 7; val k = 1 + i % 2
      val c = GridCell.encode(lat, lon, res)
      val ringSet = GridCell.kRing(c, k).toSet
      val safe = GridCell.safeRadiusDeg(res, k)
      // sample far points
      for (j <- 0 until 20) {
        val plat = -89.9 + 179.8 * Rng.uniform(1000L * i + j)
        val plon = -179.9 + 359.8 * Rng.uniform(2000L * i + j)
        val pc = GridCell.encode(plat, plon, res)
        if (!ringSet.contains(pc)) {
          val cheb = math.max(math.abs(plat - lat), math.abs(plon - lon))
          // only assert when no lon wraparound ambiguity
          if (math.abs(plon - lon) < 180)
            assert(cheb >= safe - 1e-9, s"point ($plat,$plon) escaped ring but cheb=$cheb < safe=$safe")
        }
      }
    }
  }

  // ---------- S2Cell ----------

  test("S2Cell level and face recovery") {
    for (((lat, lon), i) <- samples(300, 6).zipWithIndex) {
      val lvl = i % 28
      val id = S2Cell.encode(lat, lon, lvl)
      assert(S2Cell.levelOf(id) == lvl)
      assert(faceOf(id) >= 0 && faceOf(id) <= 5)
    }
  }

  test("S2Cell hierarchical containment") {
    for (((lat, lon), i) <- samples(300, 7).zipWithIndex) {
      val lvl = 1 + i % 27
      assert(S2Cell.toParent(S2Cell.encode(lat, lon, lvl), lvl - 1) == S2Cell.encode(lat, lon, lvl - 1))
    }
  }

  test("S2Cell faces partition the sphere sensibly") {
    assert(faceOf(S2Cell.encode(0, 0, 10)) == 0)
    assert(faceOf(S2Cell.encode(0, 90, 10)) == 1)
    assert(faceOf(S2Cell.encode(89.9, 0, 10)) == 2)
    assert(faceOf(S2Cell.encode(0, 179.9, 10)) == 3)
    assert(faceOf(S2Cell.encode(0, -90, 10)) == 4)
    assert(faceOf(S2Cell.encode(-89.9, 0, 10)) == 5)
  }

  test("Hilbert curve: bijective at level 4, inverse round-trips, unit steps") {
    val n = 16
    val seen = scala.collection.mutable.HashSet.empty[Long]
    for (i <- 0 until n; j <- 0 until n) seen += S2Cell.hilbertD(4, i, j)
    assert(seen.size == n * n)
    for (d <- 0L until (n.toLong * n)) {
      val (x, y) = hilbertIJ(4, d)
      assert(S2Cell.hilbertD(4, x, y) == d)
    }
    for (d <- 0L until (n.toLong * n - 1)) {
      val (x0, y0) = hilbertIJ(4, d)
      val (x1, y1) = hilbertIJ(4, d + 1)
      assert(math.abs(x0 - x1) + math.abs(y0 - y1) == 1)
    }
  }

  // ---------- Tile ----------

  test("Tile known slippy reference points") {
    assert(Tile.tileX(0.0, 0) == 0 && Tile.tileY(0.0, 0) == 0)
    assert(Tile.tileX(0.0, 1) == 1 && Tile.tileY(0.0, 1) == 1)
    // Moscow (55.7558, 37.6173) at z=10 -> 619/320 (standard slippy formula)
    assert(Tile.tileX(37.6173, 10) == 619)
    assert(Tile.tileY(55.7558, 10) == 320)
    assert(Tile.tileY(89.9, 10) == 0)
    assert(Tile.tileY(-89.9, 10) == 1023)
  }

  test("Tile pack/unpack round trip and key format") {
    for (((lat, lon), i) <- samples(300, 8).zipWithIndex) {
      val z = i % 19
      val id = Tile.encode(lat, lon, z)
      assert(Tile.zOf(id) == z)
      assert(Tile.xOf(id) == Tile.tileX(lon, z))
      assert(Tile.yOf(id) == Tile.tileY(lat, z))
      assert(Tile.parseKey(Tile.key(id)) == id)
    }
  }

  test("Tile parent halves coordinates") {
    val id = Tile.encode(55.7558, 37.6173, 11)
    val p = Tile.parent(id)
    assert(Tile.zOf(p) == 10 && Tile.xOf(p) == Tile.xOf(id) / 2 && Tile.yOf(p) == Tile.yOf(id) / 2)
  }

  test("Tile nwCorner re-encodes into the same tile") {
    for (((lat0, lon), i) <- samples(200, 9).zipWithIndex) {
      val lat = math.max(-80.0, math.min(80.0, lat0))
      val z = 2 + i % 14
      val id = Tile.encode(lat, lon, z)
      val (nlat, nlon) = nwCorner(id)
      val eps = 1e-9
      assert(Tile.tileX(nlon + eps, z) == Tile.xOf(id))
      assert(Tile.tileY(nlat - eps, z) == Tile.yOf(id))
    }
  }

  // ---------- GeoMath ----------

  test("haversine known distances") {
    val d = GeoMath.haversineM(55.7558, 37.6173, 59.9343, 30.3351) // Moscow -> SPb
    assert(d > 620000 && d < 650000)
    assert(GeoMath.haversineM(10, 20, 10, 20) == 0.0)
    val d1 = GeoMath.haversineM(0, 0, 1, 0) // 1 deg latitude ~ 111.19 km
    assert(math.abs(d1 - 111195) < 200)
  }

  test("dist2Deg symmetric and non-negative") {
    for (((a, b), (c, d)) <- samples(200, 10).zip(samples(200, 11))) {
      val x = GeoMath.dist2Deg(a, b, c, d)
      assert(x == GeoMath.dist2Deg(c, d, a, b))
      assert(x >= 0.0)
    }
  }
}
