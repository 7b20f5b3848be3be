package graft

import graft.expr.gf
import graft.operators.DocPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The explode + window anchor formulation that `DocPipeline.docAnchors`
  * replaced, kept as the reference the parity and lineage specs run. */
object WindowAnchors {

  /** Text spans geocoded via the deterministic hash-geocoder, with the
    * multi-resolution cell ids the north rule asks for (H3-analog res 7-11 +
    * S2-style level 11). */
  def geocodedSpans(docs: DataFrame): DataFrame =
    DocPipeline.explodeSpans(docs)
      .where(col("kind") === "text")
      .withColumn("lat", gf.geocode_lat(col("region"), col("text")))
      .withColumn("lon", gf.geocode_lon(col("region"), col("text")))
      .withColumn("cell7", gf.grid_cell(col("lat"), col("lon"), 7))
      .withColumn("cell9", gf.grid_cell(col("lat"), col("lon"), 9))
      .withColumn("cell11", gf.grid_cell(col("lat"), col("lon"), 11))
      .withColumn("s2cell", gf.s2_cell(col("lat"), col("lon"), 11))

  /** The explode + window formulation of docAnchors (kept for parity tests —
    * demonstrates the window operator; 100x slower shuffle shape). */
  def docAnchorsViaWindow(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("offset")
    geocodedSpans(docs)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
  }
}
