package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GetStructField, Literal}
import org.apache.spark.sql.graft.Bridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}

/**
 * Column-level API over the custom Catalyst expressions (the engine's
 * `functions._` surface) plus SQL registration, so every operator is reachable
 * from both the Dataset API and `spark.sql(...)`.
 *
 * Children are wrapped in `Cast` to the expected input type (the expressions
 * are strictly typed); identity casts are removed by the optimizer, so this
 * costs nothing in the common case while giving SQL-style implicit coercion.
 */
object gf {

  private val RingsT = ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = true)
  private val LongsT = ArrayType(LongType, containsNull = true)

  private def d(c: Column): Expression = Cast(expression(c), DoubleType)
  private def l(c: Column): Expression = Cast(expression(c), LongType)
  private def s(c: Column): Expression = Cast(expression(c), StringType)
  private def i(v: Int): Expression = Literal(v)

  def grid_cell(lat: Column, lon: Column, res: Int): Column =
    column(GridCellEncode(d(lat), d(lon), i(res)))

  def grid_parent(cell: Column, res: Int): Column =
    column(GridCellParent(l(cell), i(res)))

  def grid_kring(cell: Column, k: Int): Column =
    column(GridKRing(l(cell), i(k)))

  def cell_x(cell: Column): Column = column(CellX(l(cell)))

  def cell_y(cell: Column): Column = column(CellY(l(cell)))

  def s2_cell(lat: Column, lon: Column, level: Int): Column =
    column(S2CellEncode(d(lat), d(lon), i(level)))

  /** No Cast on `rings`: a nullability-widening Cast of array<array<double>>
    * deep-copies every ring per evaluated row — in the spatial join's
    * residual filter that allocation made the whole pipeline GC-bound.
    * PointInPolygon reads any array<array<double>> ArrayData in place. */
  def st_contains(rings: Column, lat: Column, lon: Column): Column =
    column(PointInPolygon(expression(rings), d(lat), d(lon)))

  def cell_cover(rings: Column, res: Int): Column =
    column(PolygonCellCover(Cast(expression(rings), RingsT), i(res)))

  def tile_id(lat: Column, lon: Column, z: Int): Column =
    column(TileAssign(d(lat), d(lon), i(z)))

  def tile_id(lat: Column, lon: Column, z: Column): Column =
    column(TileAssign(d(lat), d(lon), Cast(expression(z), IntegerType)))

  def tile_key(id: Column): Column = column(TileKey(l(id)))

  def tile_parse(key: Column): Column = column(TileParse(s(key)))

  def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    column(HaversineM(d(lat1), d(lon1), d(lat2), d(lon2)))

  def dist2_deg(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    column(Dist2Deg(d(lat1), d(lon1), d(lat2), d(lon2)))

  /** struct<lat, lon>: select it once and read both fields from that
    * column. `geocode_lat`/`geocode_lon` each evaluate their own geocode. */
  def geocode(region: Column, text: Column): Column =
    column(Geocode(s(region), s(text)))

  def geocode_lat(region: Column, text: Column): Column = geocode(region, text).getField("lat")

  def geocode_lon(region: Column, text: Column): Column = geocode(region, text).getField("lon")

  def trigrams(c: Column): Column = column(Trigrams(s(c)))

  def norm_keyword(c: Column): Column = column(NormKeyword(s(c)))

  def simhash64(c: Column): Column = column(SimHash64(s(c)))

  def fingerprint64(c: Column): Column = column(Fingerprint64(s(c)))

  def minhash_sig(c: Column, shingleN: Int, numHashes: Int): Column =
    column(MinhashSig(s(c), i(shingleN), i(numHashes)))

  def lsh_bands(sig: Column, bands: Int): Column =
    column(LshBands(Cast(expression(sig), LongsT), i(bands)))

  def hamming64(a: Column, b: Column): Column =
    column(Hamming64(l(a), l(b)))

  def token_count(c: Column): Column = column(TokenCount(s(c)))

  def bpe_count(c: Column): Column = column(BpeCount(s(c)))

  def lang_id(c: Column): Column = column(LangId(s(c)))

  def quality_score(c: Column): Column = column(QualityScore(s(c)))

  private val FloatsT = ArrayType(FloatType, containsNull = true)

  def vec_quantize(v: Column): Column = column(VecQuantize(Cast(expression(v), FloatsT)))

  def vec_dot_q(a: Column, b: Column): Column =
    column(VecDotQ(Cast(expression(a), LongsT), Cast(expression(b), LongsT)))

  def vec_cos_q(a: Column, b: Column): Column =
    column(VecCosQ(Cast(expression(a), LongsT), Cast(expression(b), LongsT)))

  def vec_cos(a: Column, b: Column): Column =
    column(VecCos(Cast(expression(a), FloatsT), Cast(expression(b), FloatsT)))

  def vec_sig(v: Column, bits: Int): Column =
    column(VecSig(Cast(expression(v), FloatsT), i(bits)))

  def sig_bands(sig: Column, bits: Int, bands: Int): Column =
    column(SigBands(l(sig), i(bits), i(bands)))

  def ngram_jaccard(a: Column, b: Column, n: Int): Column =
    column(NgramJaccard(s(a), s(b), i(n)))

  def shingle_hashes(a: Column, n: Int): Column =
    column(ShingleHashes(s(a), i(n)))

  // no Cast here: a nullability-widening Cast on array<long> deep-copies the
  // array PER PAIR in the verification hot loop (same defect class as the
  // round-1 ring-copy find); inputs come from shingle_hashes already typed
  def jaccard_sorted(a: Column, b: Column): Column =
    column(JaccardSorted(expression(a), expression(b)))

  def ivf_probes(v: Column, centroids: Array[Array[Float]], nProbe: Int): Column =
    column(IvfProbes(Cast(expression(v), FloatsT), centroids, nProbe))

  /** SQL names for every custom expression (idempotent, per-session). */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def cd(e: Expression) = Cast(e, DoubleType)
    def cl(e: Expression) = Cast(e, LongType)
    def ci(e: Expression) = Cast(e, IntegerType)
    def cs(e: Expression) = Cast(e, StringType)
    // identity-skipping cast for ARRAY arguments: a nullability-widening
    // Cast on array<...> deep-copies the array PER ROW (the measured
    // round-1/round-3 hot-path killers the Column API avoids); SQL callers
    // whose argument type already matches must not pay it
    def ca(e: Expression, t: org.apache.spark.sql.types.DataType): Expression =
      if (e.resolved && e.dataType == t) e else Cast(e, t)
    def r(name: String)(b: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, b, "built-in")
    r("grid_cell") { e => GridCellEncode(cd(e(0)), cd(e(1)), ci(e(2))) }
    r("grid_parent") { e => GridCellParent(cl(e(0)), ci(e(1))) }
    r("grid_kring") { e => GridKRing(cl(e(0)), ci(e(1))) }
    r("s2_cell") { e => S2CellEncode(cd(e(0)), cd(e(1)), ci(e(2))) }
    r("cell_x") { e => CellX(cl(e(0))) }
    r("cell_y") { e => CellY(cl(e(0))) }
    r("st_contains") { e => PointInPolygon(ca(e(0), RingsT), cd(e(1)), cd(e(2))) }
    r("cell_cover") { e => PolygonCellCover(ca(e(0), RingsT), ci(e(1))) }
    r("tile_id") { e => TileAssign(cd(e(0)), cd(e(1)), ci(e(2))) }
    r("tile_key") { e => TileKey(cl(e(0))) }
    r("tile_parse") { e => TileParse(cs(e(0))) }
    r("haversine_m") { e => HaversineM(cd(e(0)), cd(e(1)), cd(e(2)), cd(e(3))) }
    r("dist2_deg") { e => Dist2Deg(cd(e(0)), cd(e(1)), cd(e(2)), cd(e(3))) }
    r("geocode_lat") { e => GetStructField(Geocode(cs(e(0)), cs(e(1))), 0, Some("lat")) }
    r("geocode_lon") { e => GetStructField(Geocode(cs(e(0)), cs(e(1))), 1, Some("lon")) }
    r("trigrams") { e => Trigrams(cs(e(0))) }
    r("norm_keyword") { e => NormKeyword(cs(e(0))) }
    r("simhash64") { e => SimHash64(cs(e(0))) }
    r("fingerprint64") { e => Fingerprint64(cs(e(0))) }
    r("minhash_sig") { e => MinhashSig(cs(e(0)), ci(e(1)), ci(e(2))) }
    r("lsh_bands") { e => LshBands(Cast(e(0), LongsT), ci(e(1))) }
    r("hamming64") { e => Hamming64(cl(e(0)), cl(e(1))) }
    r("token_count") { e => TokenCount(cs(e(0))) }
    r("bpe_count") { e => BpeCount(cs(e(0))) }
    r("lang_id") { e => LangId(cs(e(0))) }
    r("quality_score") { e => QualityScore(cs(e(0))) }
    r("vec_quantize") { e => VecQuantize(Cast(e(0), ArrayType(FloatType, containsNull = true))) }
    r("vec_dot_q") { e => VecDotQ(Cast(e(0), LongsT), Cast(e(1), LongsT)) }
    r("vec_cos_q") { e => VecCosQ(Cast(e(0), LongsT), Cast(e(1), LongsT)) }
    r("vec_cos") { e => VecCos(Cast(e(0), ArrayType(FloatType, containsNull = true)), Cast(e(1), ArrayType(FloatType, containsNull = true))) }
    r("vec_sig") { e => VecSig(Cast(e(0), ArrayType(FloatType, containsNull = true)), ci(e(1))) }
    r("sig_bands") { e => SigBands(cl(e(0)), ci(e(1)), ci(e(2))) }
    r("ngram_jaccard") { e => NgramJaccard(cs(e(0)), cs(e(1)), ci(e(2))) }
    r("shingle_hashes") { e => ShingleHashes(cs(e(0)), ci(e(1))) }
    r("jaccard_sorted") { e => JaccardSorted(ca(e(0), LongsT), ca(e(1), LongsT)) }
  }
}
