package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity's multiset counts against Spark's own exceptAll / intersectAll. */
class ParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val keys = Seq("id_a", "id_b")

  /** (size a, size b, except a b, except b a, intersect, symDiff) from one job. */
  private def stats(a: DataFrame, b: DataFrame): Seq[Long] = {
    val r = Parity.counts(keys, "a" -> a, "b" -> b)
      .agg(Parity.size(col("a")), Parity.size(col("b")),
        Parity.except(col("a"), col("b")), Parity.except(col("b"), col("a")),
        Parity.intersect(col("a"), col("b")), Parity.symDiff(col("a"), col("b")))
      .head()
    (0 until 6).map(r.getLong)
  }

  private def reference(a: DataFrame, b: DataFrame): Seq[Long] = {
    val ab = a.exceptAll(b).count(); val ba = b.exceptAll(a).count()
    Seq(a.count(), b.count(), ab, ba, a.intersectAll(b).count(), ab + ba)
  }

  test("counts equal exceptAll / intersectAll with duplicated and one-sided keys") {
    // (1,2): 3 vs 1; (1,3): 2 vs 2; (2,3) only in a; (4,5) only in b twice
    val a = Seq((1L, 2L), (1L, 2L), (1L, 2L), (1L, 3L), (1L, 3L), (2L, 3L)).toDF(keys: _*)
    val b = Seq((1L, 2L), (1L, 3L), (1L, 3L), (4L, 5L), (4L, 5L)).toDF(keys: _*)
    assert(stats(a, b) == reference(a, b))
    assert(stats(a, b) == Seq(6L, 5L, 3L, 2L, 3L, 5L))
  }

  test("an empty side, and empty input everywhere, count 0 (not null)") {
    val a = Seq((1L, 2L), (1L, 2L), (3L, 4L)).toDF(keys: _*)
    val empty = a.where(lit(false))
    assert(stats(a, empty) == reference(a, empty))
    assert(stats(empty, a) == reference(empty, a))
    assert(stats(empty, empty) == Seq.fill(6)(0L))
  }

  test("a carried non-key column survives the join; absent sides count 0") {
    val exact = Seq((1L, 2L, 0.95), (1L, 3L, 0.6)).toDF("id_a", "id_b", "jac")
    val found = Seq((1L, 2L), (5L, 6L)).toDF(keys: _*)
    val rows = Parity.counts(keys, "e" -> exact, "f" -> found)
      .select($"id_a", $"id_b", $"e", $"f", $"jac").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), Option(r.get(4)))).toMap
    assert(rows == Map(
      (1L, 2L) -> ((1L, 1L, Some(0.95))),
      (1L, 3L) -> ((1L, 0L, Some(0.6))),
      (5L, 6L) -> ((0L, 1L, None))))
  }

  test("a pair emitted twice surfaces in both the extra and the diff count") {
    // exact has P once, the incremental side emits P twice, full once: a
    // join of unique-assumed sides would report diff 0 and a wrong n_exact
    val p = (10L, 20L)
    val r = Parity.counts(keys,
        "e" -> Seq(p).toDF(keys: _*), "i" -> Seq(p, p).toDF(keys: _*),
        "fl" -> Seq(p).toDF(keys: _*))
      .agg(Parity.size(col("e")), Parity.except(col("i"), col("e")),
        Parity.symDiff(col("i"), col("fl")))
      .head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 1L, 1L)))
  }
}
