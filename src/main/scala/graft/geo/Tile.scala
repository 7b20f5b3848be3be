package graft.geo

/**
 * Slippy-map (Web-Mercator) tile math, from scratch. z/x/y per the standard
 * OSM tiling scheme. Latitudes clamped to the Mercator limit ±85.0511287798.
 *
 * Packing: id = (z << 58) | (x << 29) | y  (z <= 29).
 */
object Tile {
  val MaxLat = 85.05112877980659
  val MaxZ = 29

  def tileX(lon: Double, z: Int): Int = {
    val n = 1L << z
    val x = math.floor((lon + 180.0) / 360.0 * n).toLong
    math.max(0L, math.min(n - 1, x)).toInt
  }

  def tileY(lat: Double, z: Int): Int = {
    val n = 1L << z
    val latC = math.max(-MaxLat, math.min(MaxLat, lat))
    val latR = math.toRadians(latC)
    val y = math.floor((1.0 - math.log(math.tan(latR) + 1.0 / math.cos(latR)) / math.Pi) / 2.0 * n).toLong
    math.max(0L, math.min(n - 1, y)).toInt
  }

  def pack(z: Int, x: Int, y: Int): Long = {
    require(z >= 0 && z <= MaxZ)
    (z.toLong << 58) | (x.toLong << 29) | y.toLong
  }

  def encode(lat: Double, lon: Double, z: Int): Long = pack(z, tileX(lon, z), tileY(lat, z))

  @inline def zOf(id: Long): Int = (id >>> 58).toInt
  @inline def xOf(id: Long): Int = ((id >>> 29) & 0x1FFFFFFFL).toInt
  @inline def yOf(id: Long): Int = (id & 0x1FFFFFFFL).toInt

  def key(id: Long): String = s"${zOf(id)}/${xOf(id)}/${yOf(id)}"

  def parseKey(k: String): Long = {
    val parts = k.split('/')
    pack(parts(0).toInt, parts(1).toInt, parts(2).toInt)
  }

  /** Tile at z-1 containing this tile. */
  def parent(id: Long): Long = pack(zOf(id) - 1, xOf(id) >> 1, yOf(id) >> 1)
}
