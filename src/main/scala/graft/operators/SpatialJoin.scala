package graft.operators

import graft.expr.gf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Two-phase point-in-polygon spatial join (SURVEY.md §2.2 Joins), the
 * engine's one spatial-join path.
 *
 * Phase 1 — cell equi-join pre-filter: polygons are exploded over their
 * precomputed grid-cell cover (`cell_cover` at [[CoverRes]]) and the points'
 * cell id is equi-joined against it. This turns an O(points x polys)
 * theta-join into a plain hash join Catalyst plans natively.
 *
 * Phase 2 — exact ray-cast PIP as a residual filter on the joined rows.
 *
 * The cover side is always broadcast, so points never shuffle before the
 * join and the residual PIP runs only on bbox-cover candidates (a few polys
 * per cell). Condition: the exploded cover (one row per polygon and cover
 * cell, carrying the rings) must fit in a broadcast, as region and
 * municipality sets do.
 */
object SpatialJoin {

  /** Grid resolution of every polygon `cell_cover`; `pipJoin` encodes the
    * points at the same level, so a cover computed at any other level would
    * silently drop hits. */
  val CoverRes = 7

  /**
   * @param points  any plan with `lat`, `lon` columns
   * @param polys   polygon table: (poly_id, rings, cell_cover at [[CoverRes]], ...)
   */
  def pipJoin(points: DataFrame, polys: DataFrame): DataFrame = {
    val cover = polys.withColumn("cell", explode(col("cell_cover"))).drop("cell_cover")
    points
      .withColumn("cell", gf.grid_cell(col("lat"), col("lon"), CoverRes))
      .join(broadcast(cover), "cell")
      .where(gf.st_contains(col("rings"), col("lat"), col("lon")))
      .drop("cell", "rings")
  }
}
