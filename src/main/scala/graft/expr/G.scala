package graft.expr

import graft.geo._
import graft.synth.SynthGeo
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Static helper surface for the custom Catalyst expressions: every method here
 * is callable from generated Java (`graft.expr.G.m(...)` via Scala object
 * static forwarders), keeping the expressions inside whole-stage codegen —
 * the "batched codegen-friendly cell-encode UDF" the north rule asks for.
 */
object G {

  // ------------- geometry -------------

  def gridCell(lat: Double, lon: Double, res: Int): Long = GridCell.encode(lat, lon, res)

  def gridParent(cell: Long, res: Int): Long = GridCell.toParent(cell, res)

  def kRing(cell: Long, k: Int): ArrayData = new GenericArrayData(GridCell.kRing(cell, k))

  def s2Cell(lat: Double, lon: Double, level: Int): Long = S2Cell.encode(lat, lon, level)

  def cellX(cell: Long): Int = GridCell.xOf(cell)

  def cellY(cell: Long): Int = GridCell.yOf(cell)

  def tileId(lat: Double, lon: Double, z: Int): Long = Tile.encode(lat, lon, z)

  def tileKey(id: Long): UTF8String = UTF8String.fromString(Tile.key(id))

  def tileParse(key: UTF8String): Long = Tile.parseKey(key.toString)

  def haversineM(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double =
    GeoMath.haversineM(lat1, lon1, lat2, lon2)

  def dist2Deg(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double =
    GeoMath.dist2Deg(lat1, lon1, lat2, lon2)

  /** A null ring reads as an empty one: no edges and no cover cells. */
  private val NoRing: ArrayData = ArrayData.toArrayData(Array.emptyDoubleArray)

  private def ring(a: ArrayData, i: Int): ArrayData = if (a.isNullAt(i)) NoRing else a.getArray(i)

  def ringsOf(a: ArrayData): Array[Array[Double]] = {
    val n = a.numElements()
    val out = new Array[Array[Double]](n)
    var i = 0
    while (i < n) { out(i) = ring(a, i).toDoubleArray; i += 1 }
    out
  }

  /** Rings read in place (UnsafeArrayData views), no per-row array copies:
    * the PIP predicate runs once per candidate pair in the spatial join's
    * hot residual filter. */
  private final class DataRings(rings: ArrayData) extends Pip.Rings {
    private var ring: ArrayData = _
    def count: Int = rings.numElements()
    def load(r: Int): Unit = ring = G.ring(rings, r)
    def size: Int = ring.numElements()
    def at(i: Int): Double = ring.getDouble(i)
  }

  def pip(rings: ArrayData, lat: Double, lon: Double): Boolean =
    Pip.contains(new DataRings(rings), lon, lat)

  def cellCover(rings: ArrayData, res: Int): ArrayData =
    new GenericArrayData(Pip.cellCover(ringsOf(rings), res))

  // ------------- geocoder -------------

  /** The (lat, lon) struct row of [[Geocode]]. */
  def geocode(region: UTF8String, text: UTF8String): InternalRow = {
    val (lat, lon) = SynthGeo.geocode(region.toString, text.toString)
    new GenericInternalRow(Array[Any](lat, lon))
  }

  // ------------- text -------------

  def trigrams(s: UTF8String): UTF8String = UTF8String.fromString(TextAlgos.buildNgrams(s.toString))

  def normKeyword(s: UTF8String): UTF8String = UTF8String.fromString(TextAlgos.clearKeyword(s.toString))

  def simhash64(s: UTF8String): Long = TextAlgos.simHash(s.toString)

  def fingerprint64(s: UTF8String): Long = TextAlgos.rollingFingerprint(s.toString)

  def minhashSig(s: UTF8String, shingleN: Int, numHashes: Int): ArrayData =
    new GenericArrayData(TextAlgos.minHash(s.toString, shingleN, numHashes))

  def lshBands(sig: ArrayData, bands: Int): ArrayData =
    new GenericArrayData(TextAlgos.lshBands(sig.toLongArray, bands))

  def hamming64(a: Long, b: Long): Int = TextAlgos.hammingDistance(a, b)

  def tokenCount(s: UTF8String): Int = TextAlgos.tokenCount(s.toString)

  def bpeCount(s: UTF8String): Int = TextAlgos.bpeTokenEstimate(s.toString)

  def langId(s: UTF8String): UTF8String = UTF8String.fromString(TextAlgos.langId(s.toString))

  def qualityScore(s: UTF8String): Double = TextAlgos.qualityScore(s.toString)

  // ------------- vectors -------------

  private def floats(a: ArrayData): Array[Float] = a.toFloatArray

  def vecQuantize(a: ArrayData): ArrayData = new GenericArrayData(VecAlgos.quantize(floats(a)))

  def vecDotQ(a: ArrayData, b: ArrayData): Long = VecAlgos.dotQ(a.toLongArray, b.toLongArray)

  def vecCosQ(a: ArrayData, b: ArrayData): Double = VecAlgos.cosineQ(a.toLongArray, b.toLongArray)

  def vecSig(a: ArrayData, bits: Int): Long = VecAlgos.hyperplaneSig(floats(a), bits)

  def sigBands(sig: Long, bits: Int, bands: Int): ArrayData =
    new GenericArrayData(VecAlgos.sigBands(sig, bits, bands))

  def shingleHashes(a: UTF8String, n: Int): ArrayData =
    new GenericArrayData(TextAlgos.shingleHashes(a.toString, n))

  def jaccardSorted(a: ArrayData, b: ArrayData): Double =
    TextAlgos.jaccardSorted(a.toLongArray(), b.toLongArray())

  /** IVF probe list: indices of the nProbe nearest centroids by float cosine
    * (score desc, index asc). The centroid matrix is passed BY REFERENCE —
    * one object per plan, not K*dim literal nodes (literal-tree centroids
    * made Janino compilation dominate the whole job at K >= 16). */
  def ivfProbes(v: ArrayData, centroids: Array[Array[Float]], nProbe: Int): ArrayData = {
    val vec = floats(v)
    val k = centroids.length
    val scores = new Array[Double](k)
    var i = 0
    while (i < k) { scores(i) = VecAlgos.cosine(vec, centroids(i)); i += 1 }
    if (nProbe <= 1) {
      // the corpus-wide assignment path (cid per row, every Lloyd iteration)
      // needs only an argmax — the generic sort below boxes k Integers and
      // k Tuple2s PER ROW, textbook hot-path GC pressure
      var best = 0
      i = 1
      while (i < k) { if (scores(i) > scores(best)) best = i; i += 1 }
      return new GenericArrayData(Array(best))
    }
    val order = Array.tabulate(k)(identity).sortBy(j => (-scores(j), j))
    new GenericArrayData(order.take(math.min(nProbe, k)))
  }
}
