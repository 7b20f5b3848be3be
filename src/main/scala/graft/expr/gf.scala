package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, GetStructField, Literal}
import org.apache.spark.sql.graft.Bridge.{column, expression}
import org.apache.spark.sql.{Column, SparkSession}

/**
 * Column-level API over the custom Catalyst expressions (the engine's
 * `functions._` surface) plus SQL registration, so every operator is reachable
 * from both the Dataset API and `spark.sql(...)`.
 *
 * Children pass through as they are, and Scala `Int` arguments become
 * literals: each expression declares its input types, and the analyzer adds
 * the widening casts it needs (see `Expressions.scala`).
 */
object gf {

  private def i(v: Int): Expression = Literal(v)

  def grid_cell(lat: Column, lon: Column, res: Int): Column =
    column(GridCellEncode(expression(lat), expression(lon), i(res)))

  def grid_parent(cell: Column, res: Int): Column = column(GridCellParent(expression(cell), i(res)))

  def grid_kring(cell: Column, k: Int): Column = column(GridKRing(expression(cell), i(k)))

  def cell_x(cell: Column): Column = column(CellX(expression(cell)))

  def cell_y(cell: Column): Column = column(CellY(expression(cell)))

  def s2_cell(lat: Column, lon: Column, level: Int): Column =
    column(S2CellEncode(expression(lat), expression(lon), i(level)))

  def st_contains(rings: Column, lat: Column, lon: Column): Column =
    column(PointInPolygon(expression(rings), expression(lat), expression(lon)))

  def cell_cover(rings: Column, res: Int): Column =
    column(PolygonCellCover(expression(rings), i(res)))

  def tile_id(lat: Column, lon: Column, z: Int): Column =
    column(TileAssign(expression(lat), expression(lon), i(z)))

  def tile_id(lat: Column, lon: Column, z: Column): Column =
    column(TileAssign(expression(lat), expression(lon), expression(z)))

  def tile_key(id: Column): Column = column(TileKey(expression(id)))

  def tile_parse(key: Column): Column = column(TileParse(expression(key)))

  def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    column(HaversineM(expression(lat1), expression(lon1), expression(lat2), expression(lon2)))

  def dist2_deg(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    column(Dist2Deg(expression(lat1), expression(lon1), expression(lat2), expression(lon2)))

  /** struct<lat, lon>: select it once and read both fields from that
    * column. `geocode_lat`/`geocode_lon` each evaluate their own geocode. */
  def geocode(region: Column, text: Column): Column =
    column(Geocode(expression(region), expression(text)))

  def geocode_lat(region: Column, text: Column): Column = geocode(region, text).getField("lat")

  def geocode_lon(region: Column, text: Column): Column = geocode(region, text).getField("lon")

  def trigrams(c: Column): Column = column(Trigrams(expression(c)))

  def norm_keyword(c: Column): Column = column(NormKeyword(expression(c)))

  def simhash64(c: Column): Column = column(SimHash64(expression(c)))

  def fingerprint64(c: Column): Column = column(Fingerprint64(expression(c)))

  def minhash_sig(c: Column, shingleN: Int, numHashes: Int): Column =
    column(MinhashSig(expression(c), i(shingleN), i(numHashes)))

  def lsh_bands(sig: Column, bands: Int): Column = column(LshBands(expression(sig), i(bands)))

  def hamming64(a: Column, b: Column): Column = column(Hamming64(expression(a), expression(b)))

  def token_count(c: Column): Column = column(TokenCount(expression(c)))

  def bpe_count(c: Column): Column = column(BpeCount(expression(c)))

  def lang_id(c: Column): Column = column(LangId(expression(c)))

  def quality_score(c: Column): Column = column(QualityScore(expression(c)))

  def vec_quantize(v: Column): Column = column(VecQuantize(expression(v)))

  def vec_dot_q(a: Column, b: Column): Column = column(VecDotQ(expression(a), expression(b)))

  def vec_cos_q(a: Column, b: Column): Column = column(VecCosQ(expression(a), expression(b)))

  def vec_sig(v: Column, bits: Int): Column = column(VecSig(expression(v), i(bits)))

  def sig_bands(sig: Column, bits: Int, bands: Int): Column =
    column(SigBands(expression(sig), i(bits), i(bands)))

  def shingle_hashes(a: Column, n: Int): Column = column(ShingleHashes(expression(a), i(n)))

  def jaccard_sorted(a: Column, b: Column): Column =
    column(JaccardSorted(expression(a), expression(b)))

  def ivf_probes(v: Column, centroids: Array[Array[Float]], nProbe: Int): Column =
    column(IvfProbes(expression(v), centroids, nProbe))

  /** SQL names for every custom expression (idempotent, per-session). */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def r(name: String)(b: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, b, "built-in")
    r("grid_cell") { e => GridCellEncode(e(0), e(1), e(2)) }
    r("grid_parent") { e => GridCellParent(e(0), e(1)) }
    r("grid_kring") { e => GridKRing(e(0), e(1)) }
    r("s2_cell") { e => S2CellEncode(e(0), e(1), e(2)) }
    r("cell_x") { e => CellX(e(0)) }
    r("cell_y") { e => CellY(e(0)) }
    r("st_contains") { e => PointInPolygon(e(0), e(1), e(2)) }
    r("cell_cover") { e => PolygonCellCover(e(0), e(1)) }
    r("tile_id") { e => TileAssign(e(0), e(1), e(2)) }
    r("tile_key") { e => TileKey(e(0)) }
    r("tile_parse") { e => TileParse(e(0)) }
    r("haversine_m") { e => HaversineM(e(0), e(1), e(2), e(3)) }
    r("dist2_deg") { e => Dist2Deg(e(0), e(1), e(2), e(3)) }
    r("geocode_lat") { e => GetStructField(Geocode(e(0), e(1)), 0, Some("lat")) }
    r("geocode_lon") { e => GetStructField(Geocode(e(0), e(1)), 1, Some("lon")) }
    r("trigrams") { e => Trigrams(e(0)) }
    r("norm_keyword") { e => NormKeyword(e(0)) }
    r("simhash64") { e => SimHash64(e(0)) }
    r("fingerprint64") { e => Fingerprint64(e(0)) }
    r("minhash_sig") { e => MinhashSig(e(0), e(1), e(2)) }
    r("lsh_bands") { e => LshBands(e(0), e(1)) }
    r("hamming64") { e => Hamming64(e(0), e(1)) }
    r("token_count") { e => TokenCount(e(0)) }
    r("bpe_count") { e => BpeCount(e(0)) }
    r("lang_id") { e => LangId(e(0)) }
    r("quality_score") { e => QualityScore(e(0)) }
    r("vec_quantize") { e => VecQuantize(e(0)) }
    r("vec_dot_q") { e => VecDotQ(e(0), e(1)) }
    r("vec_cos_q") { e => VecCosQ(e(0), e(1)) }
    r("vec_sig") { e => VecSig(e(0), e(1)) }
    r("sig_bands") { e => SigBands(e(0), e(1), e(2)) }
    r("shingle_hashes") { e => ShingleHashes(e(0), e(1)) }
    r("jaccard_sorted") { e => JaccardSorted(e(0), e(1)) }
  }
}
