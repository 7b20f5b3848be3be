package graft.synth

import graft.geo.{Pip, Rng, TextAlgos}

/**
 * The deterministic synthetic world: region/municipality polygons and the
 * hash-geocoder. Pure functions of (region code, text) — no wall clock, no
 * external data — so every run, partition, and parallelism level sees the
 * same world (required for N vs 4N comparability and for the DuckDB oracle).
 *
 * Regions live on a 10x6 grid over lon [30,80] x lat [40,70] as star-convex
 * polygons (12-31 vertices). Region "05" carries a hole; region "25" is
 * re-centred onto the antimeridian (stored continuously, lon ~178..182) to pin
 * PIP edge cases. "77" (Moscow) and "78" (SPb) get 20x/8x document weight —
 * the hot-cell skew the north rule requires explicit salting for.
 */
object SynthGeo {

  /** The synthetic federation: 28 ordinary regions + the two hot ones. */
  val Regions: IndexedSeq[String] =
    ((1 to 28).map(i => f"$i%02d") :+ "77") :+ "78"

  val HotWeights: Map[String, Int] = Map("77" -> 20, "78" -> 8)

  def weight(region: String): Int = HotWeights.getOrElse(region, 1)

  private val LonMin = 30.0
  private val LatMin = 40.0
  private val CellDeg = 5.0

  def regionIndex(region: String): Int = Regions.indexOf(region)

  /** Region polygon centre (lon, lat). */
  def regionCenter(region: String): (Double, Double) = {
    val i = regionIndex(region)
    require(i >= 0, s"unknown synthetic region $region")
    if (region == "25") (180.0, 0.0) // antimeridian edge-case region
    else (LonMin + (i % 10 + 0.5) * CellDeg, LatMin + (i / 10 + 0.5) * CellDeg)
  }

  private def regionSeed(region: String): Long = 0x5EED0000L + regionIndex(region)

  /** Star polygon vertex radii for a region (deterministic). */
  private def starParams(seed: Long, baseR: Double): Array[Double] = {
    val n = 12 + Rng.uniformInt(seed, 20)
    Array.tabulate(n)(i => baseR * (0.55 + 0.45 * Rng.uniform(seed * 31 + i)))
  }

  private def ringOf(cx: Double, cy: Double, radii: Array[Double]): Array[Double] = {
    val n = radii.length
    val out = new Array[Double](2 * n)
    for (i <- 0 until n) {
      val theta = 2 * math.Pi * i / n
      out(2 * i) = cx + radii(i) * math.cos(theta)
      out(2 * i + 1) = cy + radii(i) * math.sin(theta)
    }
    out
  }

  /** Region polygon: outer star ring; region "05" additionally has a hole.
    * Precomputed eagerly for all regions into immutable (lock-free) maps —
    * the hash-geocoder reads these per row across every executor thread, and
    * ConcurrentHashMap.computeIfAbsent serialises hot-bin reads (measured
    * 32-thread throughput below 8-thread throughput). */
  private def buildPolygon(r: String): Array[Array[Double]] = {
    val (cx, cy) = regionCenter(r)
    val seed = regionSeed(r)
    val outer = ringOf(cx, cy, starParams(seed, 2.0))
    if (r == "05") Array(outer, ringOf(cx, cy, starParams(seed + 999, 0.5)))
    else Array(outer)
  }

  private val polygonCache: Map[String, Array[Array[Double]]] =
    Regions.map(r => r -> buildPolygon(r)).toMap

  private val radiiCache: Map[String, Array[Double]] =
    Regions.map(r => r -> starParams(regionSeed(r), 2.0)).toMap

  def regionPolygon(region: String): Array[Array[Double]] =
    polygonCache.getOrElse(region, buildPolygon(region))

  private def regionRadii(region: String): Array[Double] =
    radiiCache.getOrElse(region, starParams(regionSeed(region), 2.0))

  /** ~9 municipality polygons nested in the region's grid cell. */
  def municipalities(region: String): IndexedSeq[(String, Array[Array[Double]])] = {
    val (cx, cy) = regionCenter(region)
    val seed = regionSeed(region) * 131
    for (m <- 0 until 9) yield {
      val mx = cx + (m % 3 - 1) * 1.3
      val my = cy + (m / 3 - 1) * 1.3
      (f"$region-M$m%03d", Array(ringOf(mx, my, starParams(seed + m, 0.55))))
    }
  }

  /** Boundary radius of the star polygon along direction theta: intersection
    * of the centre ray with the edge between the two adjacent vertices. */
  def starRadiusAt(radii: Array[Double], theta0: Double): Double = {
    val n = radii.length
    val tau = 2 * math.Pi
    val theta = ((theta0 % tau) + tau) % tau
    val fi = theta / tau * n
    val i = math.min(n - 1, fi.toInt)
    val j = (i + 1) % n
    val t1 = tau * i / n
    val t2 = tau * (i + 1) / n
    // segment between v1 and v2; solve ray (cos t, sin t)*r hitting it
    val x1 = radii(i) * math.cos(t1); val y1 = radii(i) * math.sin(t1)
    val x2 = radii(j) * math.cos(t2); val y2 = radii(j) * math.sin(t2)
    val dx = x2 - x1; val dy = y2 - y1
    val c = math.cos(theta); val s = math.sin(theta)
    val denom = c * dy - s * dx
    if (math.abs(denom) < 1e-12) math.min(radii(i), radii(j))
    else {
      val r = (x1 * dy - y1 * dx) / denom
      if (r.isNaN || r <= 0) math.min(radii(i), radii(j)) else r
    }
  }

  /** Deterministic point strictly inside the region polygon, driven by seed. */
  def pointInRegion(region: String, seed: Long): (Double, Double) = {
    val (cx, cy) = regionCenter(region)
    val radii = regionRadii(region)
    var attempt = 0
    var lat = cy
    var lon = cx
    var ok = false
    val poly = regionPolygon(region)
    while (!ok && attempt < 8) {
      val theta = 2 * math.Pi * Rng.uniform(seed + attempt * 7919L)
      val t = 0.85 * math.sqrt(Rng.uniform(seed * 31 + 17 + attempt))
      val r = t * starRadiusAt(radii, theta)
      lon = cx + r * math.cos(theta)
      lat = cy + r * math.sin(theta)
      // region "05" has a hole: re-sample if we landed in it
      ok = Pip.contains(poly, lon, lat)
      attempt += 1
    }
    if (!ok) {
      // all attempts landed in the hole (~1e-9 per point, so expected AT
      // SCALE): fall back to a point certainly inside — at 0.7 of the outer
      // star radius along theta=0. The hole is a 0.5-scale star around the
      // same center inside a 2.0-scale outer (buildPolygon), so its boundary
      // stays below ~0.35x the outer radius; 0.7x is outside the hole and
      // inside the outer ring for every region shape.
      val r0 = 0.7 * starRadiusAt(radii, 0.0)
      lon = cx + r0; lat = cy
    }
    // polygons crossing the antimeridian are stored continuously (lon > 180);
    // emitted points are always wrapped back into [-180, 180)
    (lat, if (lon >= 180.0) lon - 360.0 else lon)
  }

  /**
   * The hash-geocoder: address text -> deterministic point inside the span's
   * region polygon. Pure function of (region, normalised text); both the data
   * generator and the engine's geocode expression call exactly this.
   */
  def geocode(region: String, text: String): (Double, Double) =
    pointInRegion(region, TextAlgos.fnv1a64(TextAlgos.clearKeyword(text)))

  // ---------------------------------------------------------------- synth text

  private val StreetNames = Vector(
    "Ленина", "Мира", "Советская", "Центральная", "Молодёжная", "Школьная",
    "Лесная", "Садовая", "Набережная", "Заречная", "Полевая", "Луговая",
    "Новая", "Октябрьская", "Первомайская", "Пушкина", "Гагарина", "Кирова",
    "Чехова", "Толстого", "Некрасова", "Горького", "Вокзальная", "Степная",
    "Солнечная", "Весенняя", "Зелёная", "Речная", "Озёрная", "Береговая",
    "Комсомольская", "Пионерская", "Рабочая", "Заводская", "Строителей",
    "Энергетиков", "Космонавтов", "Победы", "Дружбы", "Юбилейная")

  /** Deterministic GAR-style address fragment for (region, docSeq, spanIdx). */
  def addressText(region: String, docSeq: Long, spanIdx: Int): String = {
    val seed = regionSeed(region) * 1000003L + docSeq * 97L + spanIdx
    val street = StreetNames(Rng.uniformInt(seed, StreetNames.length))
    val house = 1 + Rng.uniformInt(seed + 1, 200)
    val korpStr = if (Rng.uniform(seed + 2) < 0.25) s", к. ${1 + Rng.uniformInt(seed + 3, 5)}" else ""
    s"ул. $street, д. $house$korpStr"
  }
}
