package graft.operators

import graft.expr.gf
import graft.geo.{GeoMath, GridCell}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import scala.annotation.tailrec

/**
 * Exact k-nearest-neighbour join by grid-cell ring walk (SURVEY.md §2.2
 * Joins (c)), in one pass over the queries.
 *
 * The targets are collected once and packed into flat arrays sorted by their
 * grid cell at `res`. The pack is broadcast, and one `mapPartitions` over the
 * queries runs the kernel. For each query it walks the hollow rings
 * r = 0, 1, 2, ... of the query's cell, binary-searches each ring cell's run
 * in the pack and keeps the best k by (dist2, tid). After ring r the top-k is
 * *certified* when k are held and the k-th distance is strictly inside the
 * walked rings' guaranteed coverage radius: any point outside the r-ring is
 * at least r*minCellDim degrees away (GridCell.safeRadiusDeg). A query still
 * uncertified once its next ring would hold more cells than the pack holds
 * targets scans the whole pack instead, so results are *exactly* the true
 * top-k (knnBrute row for row), while a certified query touches only nearby
 * cells.
 *
 * Ranking metric: squared degree-space distance (dist2_deg) — IEEE-exact
 * arithmetic, so the DuckDB oracle reproduces the ordering bit-for-bit.
 * Ties break on target id in Spark's ordering of its type.
 */
object KnnJoin {

  /** Targets in tid order, indexed by cell: `cells` is sorted and `at(j)` is the target in `cells(j)`. */
  private final case class Pack(cells: Array[Long], at: Array[Int], lat: Array[Double],
      lon: Array[Double], tid: Array[Any])

  /** The ranking order of (dist2, target): targets are in tid order, and NaN sorts last as in Spark. */
  private val byDist = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)

  /**
   * Resolution tuned to the *occupied* target extent, not the whole globe:
   * first a bbox estimate (~1 target/cell inside the 5th..95th percentile
   * box), then a DENSITY refinement — the bbox estimate assumes uniformity,
   * but real target sets cluster into hot regions, leaving the mean OCCUPIED
   * cell far denser than n/cells_in_bbox (measured at the sf0.1 address
   * table: bbox said res 10 at "~1/cell", the occupied mean was 6.9/cell).
   * The occupied mean bumps the resolution by log4 of the overshoot. Too
   * fine a grid pushes queries to the full scan, so the bump stops at the
   * density target rather than biasing maximally fine; certification stays
   * exact at any resolution.
   */
  def autoRes(targets: DataFrame): Int = {
    val rows = targets.select(col("lat"), col("lon")).collect()
    autoRes(rows.map(_.getDouble(0)), rows.map(_.getDouble(1)))
  }

  private def autoRes(lat: Array[Double], lon: Array[Double]): Int = {
    val n = lat.length
    if (n == 0) return 5
    // exact percentiles: the value at 1-based rank ceil(p*n)
    def pct(sorted: Array[Double], p: Double) = sorted(math.ceil(p * n).toInt - 1)
    val (sLat, sLon) = (lat.sorted, lon.sorted)
    val h = math.max(0.5, (pct(sLat, 0.95) - pct(sLat, 0.05)) * 1.25)
    val w = math.max(0.5, (pct(sLon, 0.95) - pct(sLon, 0.05)) * 1.25)
    val cells = math.max(4.0, n.toDouble)
    val res0 = math.max(1, math.min(12,
      (math.log(cells * 360.0 * 180.0 / (w * h)) / math.log(4.0)).round.toInt))
    // density refinement: mean targets per OCCUPIED cell at res0. Aim for
    // ~3/cell so a 1-ring holds ~27 candidates (~9x k for typical k) — one
    // extra level per 4x overshoot, bounded by the same res <= 12 cap.
    val targetPerCell = 3.0
    val c = Array.tabulate(n)(i => GridCell.encode(lat(i), lon(i), res0)).sorted
    val density = n.toDouble / (1 + (1 until n).count(i => c(i) != c(i - 1)))
    val bump =
      if (density > targetPerCell)
        math.ceil(math.log(density / targetPerCell) / math.log(4.0)).toInt
      else 0
    math.max(1, math.min(12, res0 + bump))
  }

  /**
   * @param queries (qid, lat, lon)
   * @param targets (tid, lat, lon); collected and broadcast
   * @param k       neighbours per query
   * @param res     grid resolution for the ring walk; negative = autoRes
   * @return (qid, tid, dist2, rn) — exact top-k per query, rn in 1..k
   */
  def knnJoin(queries: DataFrame, targets: DataFrame, k: Int, res: Int = -1): DataFrame = {
    val t = targets.select(col("tid"), col("lat"), col("lon"))
    val tidType = t.schema("tid").dataType
    val rows = t.collect()
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(tidType)
    val keys = rows.map(r => Option(toCatalyst(r.get(0))))
    val byTid = rows.indices.sortBy(keys)(Ordering.Option(TypeUtils.getInterpretedOrdering(tidType)))
      .map(rows).toArray
    val lat = byTid.map(_.getDouble(1))
    val lon = byTid.map(_.getDouble(2))
    val r = if (res >= 0) res else autoRes(lat, lon)
    val cell = Array.tabulate(byTid.length)(i => GridCell.encode(lat(i), lon(i), r))
    val at = cell.indices.sortBy(cell).toArray
    val bc = queries.sparkSession.sparkContext.broadcast(
      Pack(at.map(cell), at, lat, lon, byTid.map(_.get(0))))
    val schema = queries.select(col("qid")).schema.add(t.schema("tid"))
      .add("dist2", "double", nullable = false).add("rn", "int", nullable = false)
    queries.select(col("qid"), col("lat"), col("lon")).mapPartitions { it =>
      val p = bc.value
      it.flatMap { q =>
        nearest(p, q.getDouble(1), q.getDouble(2), k, r).zipWithIndex.map { case ((d, i), j) =>
          Row(q.get(0), p.tid(i), d, j + 1)
        }
      }
    }(Encoders.row(schema))
  }

  /** One query's exact top-k as (dist2, target), nearest first. */
  private def nearest(p: Pack, lat: Double, lon: Double, k: Int, res: Int): Seq[(Double, Int)] = {
    val n = p.cells.length
    val top = scala.collection.mutable.PriorityQueue.empty(byDist) // the best k so far, worst on top
    def offer(i: Int): Unit = {
      val e = (GeoMath.dist2Deg(lat, lon, p.lat(i), p.lon(i)), i)
      if (top.size < k) top += e
      else if (byDist.lt(e, top.head)) { top.dequeue(); top += e }
    }
    val q = GridCell.encode(lat, lon, res)
    @tailrec def walk(r: Int): Unit =
      if ((2L * r + 1) * (2L * r + 1) > n) {
        // the walk would probe more cells than there are targets: scan them all
        top.clear()
        (0 until n).foreach(offer)
      } else {
        for (c <- GridCell.ring(q, r); j <- firstAbove(p.cells, c - 1) until firstAbove(p.cells, c + 1))
          offer(p.at(j))
        val safe = GridCell.safeRadiusDeg(res, r)
        if (!(top.size == k && top.head._1 < safe * safe)) walk(r + 1)
      }
    if (k > 0) walk(0)
    top.dequeueAll.reverse
  }

  /** Index of the first element above `v` in sorted `a`, for a `v` not in `a`. Every pack cell
    * id has the shared resolution in its low 4 bits, so no cell id c ± 1 is in the pack. */
  private def firstAbove(a: Array[Long], v: Long): Int = -java.util.Arrays.binarySearch(a, v) - 1

  /** Plain brute-force kNN (the oracle path; also right for tiny target sets). */
  def knnBrute(queries: DataFrame, targets: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("dist2"), col("tid"))
    queries.select("qid", "lat", "lon")
      .crossJoin(broadcast(targets.select(
        col("tid"), col("lat").as("t_lat"), col("lon").as("t_lon"))))
      .withColumn("dist2", gf.dist2_deg(col("lat"), col("lon"), col("t_lat"), col("t_lon")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("qid"), col("tid"), col("dist2"), col("rn"))
  }
}
