package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Multiset comparison of result sets: the one counting rule behind every
 * parity harness. `counts` turns each side into per-key multiplicities
 * (a side that emits a row twice counts 2, so a duplicate is a difference,
 * never hidden by a join), and the aggregates read `exceptAll` /
 * `intersectAll` sizes off those counts in one job.
 *
 * Sides are grouped first and then full-outer JOINED on the keys — not
 * unioned and grouped — so no aggregate reads straight off a union.
 */
object Parity {

  /** One row per key present on any side. Column `name` holds that side's
    * multiplicity (0 when absent). Each side's non-key columns are kept by
    * `max`, so they must be functions of the key (a pair's `jac`, say). */
  def counts(keys: Seq[String], sides: (String, DataFrame)*): DataFrame =
    sides.map { case (name, df) =>
      val carried = df.columns.toSeq.filterNot(keys.contains).map(c => max(col(c)).as(c))
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as(name), carried: _*)
    }.reduce(_.join(_, keys, "full_outer")).na.fill(0L, sides.map(_._1))

  /** Σa: the side's row count. */
  def size(a: Column): Column = coalesce(sum(a), lit(0L))

  /** Σmax(a − b, 0) = |a exceptAll b|. */
  def except(a: Column, b: Column): Column = size(greatest(a - b, lit(0L)))

  /** Σmin(a, b) = |a intersectAll b|. */
  def intersect(a: Column, b: Column): Column = size(least(a, b))

  /** Σ|a − b| = |a exceptAll b| + |b exceptAll a|. */
  def symDiff(a: Column, b: Column): Column = size(abs(a - b))
}
