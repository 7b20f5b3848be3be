package graft.expr

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/**
 * Custom Catalyst expressions for the geospatial + text engine
 * (SURVEY.md §2.2 "UDF/UDAF/UDTF surface"). Each is a thin typed shell over a
 * static method in [[G]] with both `nullSafeEval` (interpreted) and
 * `doGenCode` (whole-stage codegen) paths, so the hot pipeline — cell encode,
 * PIP, tile assign — stays inside the fused codegen stage rather than falling
 * out to a Scala UDF.
 *
 * Each expression declares its input types once, to its arity base, and the
 * bases are [[ImplicitCastInputTypes]]: the analyzer casts a child only where
 * its type differs from the declared one by more than nullability, for
 * DataFrame and SQL callers alike. A child with no implicit cast to the
 * declared type (a boolean for a double, say) fails analysis with
 * `DATATYPE_MISMATCH`. Array inputs are declared with nullable elements, so
 * any element type with an implicit cast is accepted; an array of the
 * declared element type is never cast, whatever its nullability (an array
 * cast deep-copies the array per row).
 */

// ---------------------------------------------------------------- arity bases

abstract class UnaryG(method: String, out: DataType, in: DataType)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] = Seq(in)
  override def dataType: DataType = out
  override def nullIntolerant: Boolean = true
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.G.$method($c)")
  override def prettyName: String = method
}

abstract class BinaryG(method: String, out: DataType, in1: DataType, in2: DataType)
    extends BinaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] = Seq(in1, in2)
  override def dataType: DataType = out
  override def nullIntolerant: Boolean = true
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.G.$method($a, $b)")
  override def prettyName: String = method
}

abstract class TernaryG(method: String, out: DataType, in1: DataType,
    in2: DataType, in3: DataType)
    extends TernaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] = Seq(in1, in2, in3)
  override def dataType: DataType = out
  override def nullIntolerant: Boolean = true
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.expr.G.$method($a, $b, $c)")
  override def prettyName: String = method
}

abstract class QuaternaryG(method: String, out: DataType, in: DataType)
    extends QuaternaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] = Seq.fill(4)(in)
  override def dataType: DataType = out
  override def nullIntolerant: Boolean = true
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) => s"graft.expr.G.$method($a, $b, $c, $d)")
  override def prettyName: String = method
}

// ---------------------------------------------------------------- geometry

/** H3-analog hierarchical cell encode: (lat, lon, res) -> int64 cell id. */
case class GridCellEncode(first: Expression, second: Expression, third: Expression)
    extends TernaryG("gridCell", LongType, DoubleType, DoubleType, IntegerType) {
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    G.gridCell(a.asInstanceOf[Double], b.asInstanceOf[Double], c.asInstanceOf[Int])
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(f, s, t)
}

/** Coarsen a cell id to an ancestor resolution. */
case class GridCellParent(left: Expression, right: Expression)
    extends BinaryG("gridParent", LongType, LongType, IntegerType) {
  override protected def nullSafeEval(a: Any, b: Any): Any =
    G.gridParent(a.asInstanceOf[Long], b.asInstanceOf[Int])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** k-ring neighbourhood of a cell (H3 gridDisk analog) -> array<int64>. */
case class GridKRing(left: Expression, right: Expression)
    extends BinaryG("kRing", ArrayType(LongType, containsNull = false), LongType, IntegerType) {
  override protected def nullSafeEval(a: Any, b: Any): Any =
    G.kRing(a.asInstanceOf[Long], b.asInstanceOf[Int])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Morton-decode the grid x coordinate of a cell id. */
case class CellX(child: Expression) extends UnaryG("cellX", IntegerType, LongType) {
  override protected def nullSafeEval(v: Any): Any = G.cellX(v.asInstanceOf[Long])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Morton-decode the grid y coordinate of a cell id. */
case class CellY(child: Expression) extends UnaryG("cellY", IntegerType, LongType) {
  override protected def nullSafeEval(v: Any): Any = G.cellY(v.asInstanceOf[Long])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** S2-style cube-face Hilbert cell encode. */
case class S2CellEncode(first: Expression, second: Expression, third: Expression)
    extends TernaryG("s2Cell", LongType, DoubleType, DoubleType, IntegerType) {
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    G.s2Cell(a.asInstanceOf[Double], b.asInstanceOf[Double], c.asInstanceOf[Int])
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(f, s, t)
}

/** Ray-cast point-in-polygon over packed rings (holes + antimeridian). */
case class PointInPolygon(first: Expression, second: Expression, third: Expression)
    extends TernaryG("pip", BooleanType, ArrayType(ArrayType(DoubleType)), DoubleType, DoubleType) {
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    G.pip(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[Double], c.asInstanceOf[Double])
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(f, s, t)
}

/** Grid-cell cover of a polygon at a resolution -> array<int64>. */
case class PolygonCellCover(left: Expression, right: Expression)
    extends BinaryG("cellCover", ArrayType(LongType, containsNull = false),
      ArrayType(ArrayType(DoubleType)), IntegerType) {
  override protected def nullSafeEval(a: Any, b: Any): Any =
    G.cellCover(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], b.asInstanceOf[Int])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Slippy-map tile encode: (lat, lon, z) -> packed z/x/y int64. */
case class TileAssign(first: Expression, second: Expression, third: Expression)
    extends TernaryG("tileId", LongType, DoubleType, DoubleType, IntegerType) {
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    G.tileId(a.asInstanceOf[Double], b.asInstanceOf[Double], c.asInstanceOf[Int])
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(f, s, t)
}

/** Packed tile id -> "z/x/y" key string. */
case class TileKey(child: Expression) extends UnaryG("tileKey", StringType, LongType) {
  override protected def nullSafeEval(v: Any): Any = G.tileKey(v.asInstanceOf[Long])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** "z/x/y" key string -> packed tile id. */
case class TileParse(child: Expression) extends UnaryG("tileParse", LongType, StringType) {
  override protected def nullSafeEval(v: Any): Any =
    G.tileParse(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Great-circle distance in metres. */
case class HaversineM(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends QuaternaryG("haversineM", DoubleType, DoubleType) {
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    G.haversineM(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression, q: Expression) =
    copy(f, s, t, q)
}

/** Squared degree-space distance (oracle-exact: only *, +, -). */
case class Dist2Deg(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends QuaternaryG("dist2Deg", DoubleType, DoubleType) {
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    G.dist2Deg(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression, q: Expression) =
    copy(f, s, t, q)
}

// ---------------------------------------------------------------- geocoder

/** Deterministic hash-geocoder: (region, text) -> struct<lat, lon>. One
  * evaluation yields both coordinates; read them as fields of one column. */
case class Geocode(left: Expression, right: Expression)
    extends BinaryG("geocode", StructType(Seq(StructField("lat", DoubleType, nullable = false),
      StructField("lon", DoubleType, nullable = false))), StringType, StringType) {
  override protected def nullSafeEval(a: Any, b: Any): Any =
    G.geocode(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

// ---------------------------------------------------------------- text

import org.apache.spark.unsafe.types.UTF8String

case class Trigrams(child: Expression) extends UnaryG("trigrams", StringType, StringType) {
  override protected def nullSafeEval(v: Any): Any = G.trigrams(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class NormKeyword(child: Expression) extends UnaryG("normKeyword", StringType, StringType) {
  override protected def nullSafeEval(v: Any): Any = G.normKeyword(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class SimHash64(child: Expression) extends UnaryG("simhash64", LongType, StringType) {
  override protected def nullSafeEval(v: Any): Any = G.simhash64(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class Fingerprint64(child: Expression) extends UnaryG("fingerprint64", LongType, StringType) {
  override protected def nullSafeEval(v: Any): Any = G.fingerprint64(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class MinhashSig(first: Expression, second: Expression, third: Expression)
    extends TernaryG("minhashSig", ArrayType(LongType, containsNull = false),
      StringType, IntegerType, IntegerType) {
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    G.minhashSig(a.asInstanceOf[UTF8String], b.asInstanceOf[Int], c.asInstanceOf[Int])
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(f, s, t)
}

case class LshBands(left: Expression, right: Expression)
    extends BinaryG("lshBands", ArrayType(LongType, containsNull = false),
      ArrayType(LongType), IntegerType) {
  override protected def nullSafeEval(a: Any, b: Any): Any =
    G.lshBands(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], b.asInstanceOf[Int])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class Hamming64(left: Expression, right: Expression)
    extends BinaryG("hamming64", IntegerType, LongType, LongType) {
  override protected def nullSafeEval(a: Any, b: Any): Any =
    G.hamming64(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class TokenCount(child: Expression) extends UnaryG("tokenCount", IntegerType, StringType) {
  override protected def nullSafeEval(v: Any): Any = G.tokenCount(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class BpeCount(child: Expression) extends UnaryG("bpeCount", IntegerType, StringType) {
  override protected def nullSafeEval(v: Any): Any = G.bpeCount(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class LangId(child: Expression) extends UnaryG("langId", StringType, StringType) {
  override protected def nullSafeEval(v: Any): Any = G.langId(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class QualityScore(child: Expression) extends UnaryG("qualityScore", DoubleType, StringType) {
  override protected def nullSafeEval(v: Any): Any = G.qualityScore(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

// ---------------------------------------------------------------- vectors

import org.apache.spark.sql.catalyst.util.ArrayData

/** floor(x*1000) int64 quantisation of a float vector (oracle-exact). */
case class VecQuantize(child: Expression)
    extends UnaryG("vecQuantize", ArrayType(LongType, containsNull = false),
      ArrayType(FloatType)) {
  override protected def nullSafeEval(v: Any): Any = G.vecQuantize(v.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Integer dot product of two quantised vectors. */
case class VecDotQ(left: Expression, right: Expression)
    extends BinaryG("vecDotQ", LongType, ArrayType(LongType), ArrayType(LongType)) {
  override protected def nullSafeEval(a: Any, b: Any): Any =
    G.vecDotQ(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Exact-parity cosine from quantised vectors (int ops + one div + one sqrt). */
case class VecCosQ(left: Expression, right: Expression)
    extends BinaryG("vecCosQ", DoubleType, ArrayType(LongType), ArrayType(LongType)) {
  override protected def nullSafeEval(a: Any, b: Any): Any =
    G.vecCosQ(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Random-hyperplane LSH signature of a float vector. */
case class VecSig(left: Expression, right: Expression)
    extends BinaryG("vecSig", LongType, ArrayType(FloatType), IntegerType) {
  override protected def nullSafeEval(a: Any, b: Any): Any =
    G.vecSig(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Split an LSH signature into band keys. */
case class SigBands(first: Expression, second: Expression, third: Expression)
    extends TernaryG("sigBands", ArrayType(LongType, containsNull = false),
      LongType, IntegerType, IntegerType) {
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    G.sigBands(a.asInstanceOf[Long], b.asInstanceOf[Int], c.asInstanceOf[Int])
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(f, s, t)
}

/** IVF coarse-quantizer probes: top-nProbe centroid indices for a vector.
  * The centroid matrix rides as ONE reference object (ctx.addReferenceObj in
  * codegen, a plain field in eval) instead of K*dim literal nodes — plan size
  * and Janino compile time stay constant in K. */
case class IvfProbes(child: Expression, centroids: Array[Array[Float]], nProbe: Int)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    G.ivfProbes(v.asInstanceOf[ArrayData], centroids, nProbe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCentroids", centroids, "float[][]")
    defineCodeGen(ctx, ev, c => s"graft.expr.G.ivfProbes($c, $ref, $nProbe)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "ivf_probes"
}

/** Sorted distinct FNV-64 shingle hashes of a string — the once-per-document
  * half of pairwise Jaccard (TextAlgos.shingleHashes). */
case class ShingleHashes(left: Expression, right: Expression)
    extends BinaryG("shingleHashes", ArrayType(LongType, containsNull = false),
      StringType, IntegerType) {
  override protected def nullSafeEval(a: Any, b: Any): Any =
    G.shingleHashes(a.asInstanceOf[UTF8String], b.asInstanceOf[Int])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Jaccard of two SORTED long arrays (merge-count; pairs with ShingleHashes). */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryG("jaccardSorted", DoubleType, ArrayType(LongType), ArrayType(LongType)) {
  override protected def nullSafeEval(a: Any, b: Any): Any =
    G.jaccardSorted(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
