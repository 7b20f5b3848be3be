package perfbench

import graft.expr.G
import graft.geo.{GridCell, S2Cell}
import graft.synth.SynthGeo
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** Every per-layer metric a traced run reports. A layer the workload does
  * not reach reports 0, which is the prediction for it ("flat"). */
object Layers {
  val names: Seq[String] = Seq(
    "doc_store.scan_bytes", "doc_store.scan_rows", "doc_store.scan_s",
    "doc_pipeline.anchors", "doc_pipeline.anchor_s", "doc_pipeline.media_spans", "doc_pipeline.tile_s",
    "geo.encode_s", "geo.pip_ns", "geo.grid_cell_ns", "geo.s2_cell_ns", "geo.kring_ns", "geo.geocode_ns",
    "spatial_join.candidates", "spatial_join.hits", "spatial_join.hit_ratio",
    "spatial_join.cover_cells", "spatial_join.pip_s",
    "knn_join.res", "knn_join.autores_s", "knn_join.candidates", "knn_join.brute_rows",
    "knn_join.useful_ratio", "knn_join.call_s",
    "gar_xml.xml_bytes", "gar_xml.rows", "gar_xml.parse_s", "gar_xml.parse_mb_per_s",
    "dump_job.format_write_s", "dump_job.bytes_out", "dump_job.files",
    "dump_job.format_ns_per_row", "dump_job.sequential_s",
    "minhash_index.query_s", "minhash_index.append_s", "minhash_index.retire_s",
    "minhash_index.compact_s", "minhash_index.candidates", "minhash_index.verified",
    "minhash_index.useful_ratio", "minhash_index.sig_passes", "minhash_index.band_passes",
    "minhash_index.bytes_written_per_doc", "minhash_index.files",
    "minhash_index.tombstone_rows", "minhash_index.compact_bytes_rewritten",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.cpu_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.slot_util", "spark.driver_gap_s",
    "trace.overhead_frac")

  def zero: Seq[(String, Double)] = names.map(_ -> 0.0)
}

/**
 * Single-thread loops over seeded points calling the geo kernels the
 * engine's expressions reach: `G.pip` (over UnsafeArrayData rings, as in the
 * spatial join's residual), `GridCell.encode`, `S2Cell.encode`,
 * `GridCell.kRing` and `SynthGeo.geocode`. Each figure is the median of 5
 * timed passes, in ns per call.
 */
object GeoKernels {
  private val N = 100000

  def measure(ctx: Ctx): Map[String, Double] = {
    val rnd = new scala.util.Random(ctx.seed)
    val regions = Array.fill(N)(SynthGeo.Regions(rnd.nextInt(SynthGeo.Regions.size)))
    val pts = regions.map(r => SynthGeo.pointInRegion(r, rnd.nextLong()))
    val lat = pts.map(_._1)
    val lon = pts.map(_._2)
    val rings = regions.distinct.map { r =>
      r -> new GenericArrayData(SynthGeo.regionPolygon(r).map(ring =>
        UnsafeArrayData.fromPrimitiveArray(ring): Any))
    }.toMap
    val ringsOf = regions.map(rings)
    val cells = pts.map { case (a, b) => GridCell.encode(a, b, 9) }
    val texts = Array.tabulate(N)(i => SynthGeo.addressText(regions(i), rnd.nextInt(1000000), 0))
    var sink = 0L
    def ns(name: String)(body: Int => Long): Double = ctx.span("geo", name) {
      Stats.median((1 to 5).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < N) { sink += body(i); i += 1 }
        (System.nanoTime() - t0).toDouble / N
      })
    }
    val out = Map(
      "geo.pip_ns" -> ns("G.pip")(i => if (G.pip(ringsOf(i), lat(i), lon(i))) 1L else 0L),
      "geo.grid_cell_ns" -> ns("GridCell.encode")(i => GridCell.encode(lat(i), lon(i), 9)),
      "geo.s2_cell_ns" -> ns("S2Cell.encode")(i => S2Cell.encode(lat(i), lon(i), 11)),
      "geo.kring_ns" -> ns("GridCell.kRing")(i => GridCell.kRing(cells(i), 1).length.toLong),
      "geo.geocode_ns" -> ns("SynthGeo.geocode")(i => java.lang.Double.doubleToRawLongBits(
        SynthGeo.geocode(regions(i), texts(i))._1)))
    if (sink == 42L) System.err.println("")
    out
  }
}
