package graft.operators

import graft.expr.gf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The interleaved-document pipeline: span explode -> kind dispatch -> geocode
 * -> cell encode -> spatial ops -> span reassembly.
 *
 * The span-sequence invariant (BASELINE.json input_hint) is enforced
 * structurally: every explode carries `offset`, and `reassemble` rebuilds
 * `spans` ordered by offset, so (kind, text, media_ref, order) round-trips
 * exactly — the Spark analog of the reference's row-for-row dump parity
 * (/root/reference/ru_address/source/xml.py:25-38).
 */
object DocPipeline {

  /** Explode docs to one row per span, order key preserved. Tolerates
    * span structs pruned via DocStore.readDfPruned: missing subfields come
    * back as typed NULLs, so downstream schemas stay stable. */
  def explodeSpans(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val spanType = docs.schema("spans").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    def f(name: String, t: DataType) =
      if (spanType.fieldNames.contains(name)) col(s"span.$name").as(name)
      else lit(null).cast(t).as(name)
    docs.select(col("doc_id"), col("region"), posexplode(col("spans")).as(Seq("pos", "span")))
      .select(col("doc_id"), col("region"), col("pos"),
        f("kind", StringType), f("text", StringType),
        f("media_ref", StringType), f("offset", IntegerType))
  }

  /**
   * One anchor row per document: its first text span (min offset). Computed
   * with per-row array expressions — `filter(spans)[0]` — instead of
   * explode + window(row_number), because the window's shuffle-by-doc_id of
   * every span row was the pipeline's only wide dependency and capped
   * scaling at ~200k docs/s on 32 cores. Spans are stored in offset order
   * (the span-sequence invariant), so element 1 of the filtered array IS the
   * min-offset text span.
   */
  def docAnchors(docs: DataFrame): DataFrame =
    docs
      .withColumn("anchor",
        element_at(filter(col("spans"), s => s("kind") === "text"), 1))
      .where(col("anchor").isNotNull)
      .select(col("doc_id"), col("region"),
        col("anchor.text").as("text"), col("anchor.offset").as("offset"))
      .withColumn("lat", gf.geocode_lat(col("region"), col("text")))
      .withColumn("lon", gf.geocode_lon(col("region"), col("text")))
      .withColumn("cell7", gf.grid_cell(col("lat"), col("lon"), 7))

  /** Media spans with parsed tile ids (media_ref "tile/z/x/y"). */
  def mediaSpans(docs: DataFrame): DataFrame =
    explodeSpans(docs)
      .where(col("kind") === "media" && col("media_ref").startsWith("tile/"))
      .withColumn("tile", gf.tile_parse(substring_index(col("media_ref"), "tile/", -1)))
      .withColumn("tile_z", shiftrightunsigned(col("tile"), 58).cast("int"))

  /** Flagship: documents per region polygon via the two-phase PIP join. */
  def regionDocCounts(docs: DataFrame, regionPolys: DataFrame): DataFrame =
    SpatialJoin.pipJoin(
        docAnchors(docs).select(col("doc_id"), col("lat"), col("lon")),
        regionPolys.select(col("poly_id"), col("name"), col("rings"), col("cell_cover")))
      .groupBy(col("poly_id"))
      .agg(count(lit(1)).as("doc_count"))

  /**
   * Raster<->vector tile assignment consistency: each media span's tile must
   * contain the geocoded point of the *preceding* text span (that is how media
   * references are minted). Returns per-media-span rows with a `consistent`
   * flag — all true on well-formed data; a per-doc invariant check that
   * exercises windows + geocode + tile math end to end.
   */
  def mediaConsistency(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    explodeSpans(docs)
      .withColumn("prev_text",
        last(when(col("kind") === "text", col("text")), ignoreNulls = true).over(w))
      .where(col("kind") === "media" && col("media_ref").startsWith("tile/"))
      .withColumn("tile", gf.tile_parse(substring_index(col("media_ref"), "tile/", -1)))
      .withColumn("tile_z", shiftrightunsigned(col("tile"), 58).cast("int"))
      .withColumn("point_tile",
        gf.tile_id(gf.geocode_lat(col("region"), col("prev_text")),
          gf.geocode_lon(col("region"), col("prev_text")), col("tile_z")))
      .withColumn("consistent", col("point_tile") === col("tile"))
  }

  /** Rebuild (doc_id, region, spans) from exploded span rows, order by offset.
    * Inverse of explodeSpans for documents with AT LEAST ONE span — a doc
    * whose spans array is empty produces no exploded rows (posexplode, not
    * posexplode_outer) and therefore no group here; callers round-tripping
    * corpora that may contain empty documents must carry them separately
    * (the GAR generator never emits one: every document has 1-8 spans). */
  def reassemble(spans: DataFrame): DataFrame =
    spans
      .groupBy(col("doc_id"), col("region"))
      .agg(array_sort(collect_list(struct(
        col("offset"), col("kind"), col("text"), col("media_ref")))).as("ordered"))
      .withColumn("spans", transform(col("ordered"),
        s => struct(s("kind").as("kind"), s("text").as("text"),
          s("media_ref").as("media_ref"), s("offset").as("offset"))))
      .select(col("doc_id"), col("spans"), col("region"))
}
