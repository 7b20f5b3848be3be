package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic sampling / split assignment for training-data pipelines.
 *
 * Membership is a pure integer function of the row id (Lehmer-style hash
 * gate), NOT `rand()`: task retries, stage re-executions, AQE re-plans and
 * cross-engine recomputation all see the same sample — the property that
 * matters at 100 TB, where a sample drawn in one job must be reproducible
 * by every downstream job (and by the DuckDB oracle, since the gate is
 * plain modular arithmetic).
 *
 * All arithmetic stays within Long under ANSI mode for ANY Long id: the id
 * is reduced mod 2^31-1 before the multiply.
 */
object Sampling {

  /** Park-Miller modulus (2^31 - 1, prime). */
  val Mod = 2147483647L

  /** Hash gate in [0, Mod): Lehmer step, SQUARE mod M (the non-linear mix —
    * a purely affine gate leaves sequential ids equally spaced, so small id
    * ranges never wrap the modulus and a rate filter passes everything),
    * then a final Lehmer spread. Every intermediate stays below 2^63 under
    * ANSI for ANY Long id: operands are < M = 2^31-1, so the square is
    * < 2^62 and the multiply < 2^47. */
  def gate(id: Column, salt: Long = 7L): Column = {
    val x1 = pmod(pmod(id, lit(Mod)) * lit(48271L) + lit(salt % Mod), lit(Mod))
    val x2 = pmod(x1 * x1, lit(Mod))
    pmod(x2 * lit(48271L), lit(Mod))
  }

  /** Deterministic Bernoulli sample at `rate` (keep iff gate < rate*M). */
  def sample(df: DataFrame, idCol: String, rate: Double, salt: Long = 7L): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate $rate outside [0,1]")
    df.where(gate(col(idCol), salt) < lit((rate * Mod).toLong))
  }

  /** Deterministic train/val/test (or any) split assignment: adds a
    * `split` column from cumulative gate ranges. Fractions must sum to
    * ~1.0 (within 1e-6) — the rounding remainder lands in the LAST split,
    * so (0.8, 0.1, 0.1) partitions exactly. A looser "sum <= 1" contract
    * once let Seq(("train", 0.5)) silently label 100% of rows train — for
    * a function whose whole point is exact splits, an under-specified
    * partition is a config error, not a default. */
  def assignSplit(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)], salt: Long = 7L): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) <= 1e-6,
      s"split fractions must sum to 1 (remainder rounds into the last split): $splits")
    val g = gate(col(idCol), salt)
    val cuts = splits.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => (c * Mod).toLong)
    val expr = splits.init.zip(cuts.init).foldRight(lit(splits.last._1): Column) {
      case (((name, _), cut), rest) => when(g < lit(cut), lit(name)).otherwise(rest)
    }
    df.withColumn("split", expr)
  }
}
