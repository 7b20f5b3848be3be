package graft

import graft.geo.{Pip, Rng}
import org.scalatest.funsuite.AnyFunSuite

class PipSpec extends AnyFunSuite {

  private def square(x0: Double, y0: Double, x1: Double, y1: Double): Array[Double] =
    Array(x0, y0, x1, y0, x1, y1, x0, y1)

  /** Deterministic star-convex polygon around (cx, cy). */
  private def star(cx: Double, cy: Double, r: Double, nVerts: Int, seed: Long): Array[Double] = {
    val out = new Array[Double](nVerts * 2)
    for (i <- 0 until nVerts) {
      val theta = 2 * math.Pi * i / nVerts
      val rr = r * (0.6 + 0.4 * Rng.uniform(seed + i))
      out(2 * i) = cx + rr * math.cos(theta)
      out(2 * i + 1) = cy + rr * math.sin(theta)
    }
    out
  }

  test("convex square containment") {
    val poly = Array(square(0, 0, 10, 10))
    assert(Pip.contains(poly, 5, 5))
    assert(Pip.contains(poly, 0.001, 9.999))
    assert(!Pip.contains(poly, -0.001, 5))
    assert(!Pip.contains(poly, 11, 5))
    assert(!Pip.contains(poly, 5, -1))
  }

  test("concave (L-shape) containment") {
    // L-shape: big square minus top-right quadrant, drawn as one concave ring
    val l = Array[Double](0, 0, 10, 0, 10, 5, 5, 5, 5, 10, 0, 10)
    val poly = Array(l)
    assert(Pip.contains(poly, 2, 2))
    assert(Pip.contains(poly, 8, 2))   // bottom-right arm
    assert(Pip.contains(poly, 2, 8))   // top-left arm
    assert(!Pip.contains(poly, 8, 8))  // carved-out quadrant
    assert(!Pip.contains(poly, 11, 2))
  }

  test("polygon with hole") {
    val poly = Array(square(0, 0, 10, 10), square(4, 4, 6, 6))
    assert(Pip.contains(poly, 2, 2))
    assert(!Pip.contains(poly, 5, 5)) // inside the hole
    assert(Pip.contains(poly, 3.9, 5))
    assert(!Pip.contains(poly, 12, 5))
  }

  test("antimeridian-crossing polygon (continuous storage 170..190)") {
    val poly = Array(square(170, -10, 190, 10))
    assert(Pip.contains(poly, 175, 0))
    assert(Pip.contains(poly, -175, 0)) // == lon 185 after normalisation
    assert(!Pip.contains(poly, -165, 0)) // lon 195, outside
    assert(!Pip.contains(poly, 165, 0))
    assert(!Pip.contains(poly, 175, 20))
    // the winding oracle normalises the same way, so it agrees on wrapped points
    for ((x, y) <- Seq((175.0, 0.0), (-175.0, 0.0), (-165.0, 0.0), (165.0, 0.0), (175.0, 20.0)))
      assert(Pip.containsWinding(poly, x, y) == Pip.contains(poly, x, y), s"oracle disagrees at ($x,$y)")
  }

  test("crossing test agrees with winding-number oracle on random stars and points") {
    for (p <- 0 until 30) {
      val poly = Array(star(20 * Rng.uniform(100L + p) - 10, 20 * Rng.uniform(200L + p) - 10,
        5 + 5 * Rng.uniform(300L + p), 5 + Rng.uniformInt(400L + p, 30), 500L + p))
      for (q <- 0 until 200) {
        val x = -25 + 50 * Rng.uniform(10000L * p + 2 * q)
        val y = -25 + 50 * Rng.uniform(10000L * p + 2 * q + 1)
        assert(Pip.contains(poly, x, y) == Pip.containsWinding(poly, x, y),
          s"disagreement at ($x,$y) on poly $p")
      }
    }
  }

  test("crossing test agrees with oracle on polygons with holes") {
    for (p <- 0 until 10) {
      val outer = star(0, 0, 10, 24, 600L + p)
      val hole = star(0, 0, 2, 12, 700L + p)
      val poly = Array(outer, hole)
      for (q <- 0 until 200) {
        val x = -12 + 24 * Rng.uniform(20000L * p + 2 * q)
        val y = -12 + 24 * Rng.uniform(20000L * p + 2 * q + 1)
        assert(Pip.contains(poly, x, y) == Pip.containsWinding(poly, x, y))
      }
    }
  }

  test("star-convex property: points sampled at t*r(theta), t<1 are inside") {
    for (p <- 0 until 20) {
      val nV = 12 + Rng.uniformInt(800L + p, 20)
      val seed = 900L + p
      val poly = Array(star(5, 5, 8, nV, seed))
      // sample interior points by shrinking vertices toward the centre
      for (i <- 0 until nV) {
        val vx = poly(0)(2 * i); val vy = poly(0)(2 * i + 1)
        val t = 0.8 * Rng.uniform(seed * 31 + i)
        val px = 5 + (vx - 5) * t
        val py = 5 + (vy - 5) * t
        assert(Pip.contains(poly, px, py), s"interior point ($px,$py) flagged outside")
      }
    }
  }

  test("bbox and cellCover cover all polygon points") {
    val poly = Array(star(30, 40, 5, 20, 1234L))
    val (latMin, lonMin, latMax, lonMax) = Pip.bbox(poly)
    assert(latMin < latMax && lonMin < lonMax)
    val cover = Pip.cellCover(poly, 7).toSet
    for (q <- 0 until 300) {
      val theta = 2 * math.Pi * Rng.uniform(3000L + q)
      val t = Rng.uniform(4000L + q) * 0.95
      // any interior sample's cell must be in the cover
      val px = 30 + t * 3 * math.cos(theta)
      val py = 40 + t * 3 * math.sin(theta)
      if (Pip.contains(poly, px, py))
        assert(cover.contains(graft.geo.GridCell.encode(py, px, 7)))
    }
  }
}
