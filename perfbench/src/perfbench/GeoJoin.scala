package perfbench

import graft.expr.gf
import graft.geo.{GridCell, Pip, S2Cell}
import graft.model.Doc
import graft.operators.{DocPipeline, SpatialJoin}
import graft.sources.DocStore
import graft.synth.{DataGen, SynthGeo}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode}

/** Expected headline outputs, computed in set-up by plain Scala over the
  * generator (no engine expression involved). */
final class GeoOracle extends Serializable {
  val region = scala.collection.mutable.HashMap.empty[String, Long]
  val muni = scala.collection.mutable.HashMap.empty[String, Long]
  var media = 0L
  var checksum = 0L

  def add(d: Doc, munis: Map[String, IndexedSeq[(String, Array[Array[Double]])]]): Unit = {
    val (lat, lon) = SynthGeo.geocode(d.region, d.spans.find(_.kind == "text").get.text)
    region(d.region) = region.getOrElse(d.region, 0L) + 1
    // Pip.containsWinding does not apply its own longitude normalisation to
    // the winding sums, so the oracle is handed an already-normalised lon
    for ((id, rings) <- munis(d.region)
        if Pip.containsWinding(rings, Pip.normalizeLon(rings(0), lon), lat))
      muni(id) = muni.getOrElse(id, 0L) + 1
    media += d.spans.count(s => s.kind == "media" && s.media_ref.startsWith("tile/"))
    // same fold as xxhash64(c8, c9, c10, c11, s2) with Spark's seed 42
    var h = 42L
    for (c <- Seq(GridCell.encode(lat, lon, 8), GridCell.encode(lat, lon, 9),
        GridCell.encode(lat, lon, 10), GridCell.encode(lat, lon, 11), S2Cell.encode(lat, lon, 11)))
      h = XXH64.hashLong(c, h)
    checksum ^= h
  }

  def merge(o: GeoOracle): GeoOracle = {
    o.region.foreach { case (k, v) => region(k) = region.getOrElse(k, 0L) + v }
    o.muni.foreach { case (k, v) => muni(k) = muni.getOrElse(k, 0L) + v }
    media += o.media
    checksum ^= o.checksum
    this
  }
}

/**
 * geo_join: the headline pipeline over a seeded document store, one fused
 * action per rep: anchor -> geocode -> res 8-11 + S2 encode -> broadcast
 * two-phase PIP against region and municipality polygons -> region/muni
 * counts + media tile histogram + cell checksum.
 *
 * Documents are `DataGen.makeDoc(region, seq)` over a seed-chosen seq
 * window per region, with per-region counts from `DataGen.regionLayout`
 * (Moscow/SPb 20x/8x skew kept), written in the DocStore layout.
 */
final class GeoJoin(ctx: Ctx, nDocs: Long) extends Workload {
  import ctx.spark

  private val layout = DataGen.regionLayout(nDocs)
  private val total = layout.map(_._3).sum
  private val offsets: Map[String, Long] =
    layout.map { case (r, _, _) => r -> (ctx.rand(SynthGeo.regionIndex(r)) >>> 1) % 5000000L }.toMap
  private val munis = SynthGeo.Regions.map(r => r -> SynthGeo.municipalities(r)).toMap
  private val regionPolys = DataGen.regionPolys(spark).toDF()
  private val muniPolys = DataGen.municipalityPolys(spark).toDF()

  private var store: String = _
  private var oracle: GeoOracle = _

  val itemMetric = ("docs_per_s", "docs/s")
  val tracePass = 3
  /** Fitted over 35 runs in four host windows (correlation 0.82). Scaling
    * fully (1.0) left the spread within a window up to 0.20; not scaling
    * (0) left the medians of different windows up to 19 % apart. */
  override val probeElasticity = 0.7

  def prepare(dir: String): Unit = {
    val lay = layout
    val offs = offsets
    val p = s"$dir/documents"
    def docs = spark.range(0, total, 1, ctx.slots * 2)
      .mapPartitions(it => it.map(id => GeoJoin.docAt(lay, offs, id)))(Encoders.product[Doc])
    // the DocStore write shape: identity-partitioned by region, hot regions
    // salted over up to 8 writer tasks, 8 MB row groups, JSON manifest
    docs.repartition(col("region"), pmod(hash(col("doc_id")), lit(8)))
      .write.mode(SaveMode.Overwrite)
      .option("parquet.block.size", (8 * 1024 * 1024).toString)
      .partitionBy("region").parquet(p)
    DocStore.writeManifest(spark, p)
    store = p
  }

  def expect(): Unit = {
    val lay = layout
    val offs = offsets
    val m = munis
    oracle = spark.sparkContext.range(0, total, 1, ctx.slots * 2).mapPartitions { it =>
      val o = new GeoOracle
      it.foreach(id => o.add(GeoJoin.docAt(lay, offs, id), m))
      Iterator.single(o)
    }.reduce(_ merge _)
  }

  private def anchorDocs = ctx.span("doc_store", "readDfPruned.anchor") {
    DocStore.readDfPruned(spark, store, Seq("kind", "text", "offset"))
  }
  private def tileDocs = ctx.span("doc_store", "readDfPruned.tile") {
    DocStore.readDfPruned(spark, store, Seq("kind", "media_ref", "offset"))
  }
  private def anchorsOf(docs: DataFrame) = ctx.span("doc_pipeline", "docAnchors") {
    DocPipeline.docAnchors(docs)
  }
  private def encoded(anchors: DataFrame) = ctx.span("geo", "encode") {
    anchors.select(col("doc_id"), col("lat"), col("lon"),
      gf.grid_cell(col("lat"), col("lon"), 8).as("c8"),
      gf.grid_cell(col("lat"), col("lon"), 9).as("c9"),
      gf.grid_cell(col("lat"), col("lon"), 10).as("c10"),
      gf.grid_cell(col("lat"), col("lon"), 11).as("c11"),
      gf.s2_cell(col("lat"), col("lon"), 11).as("s2"))
  }
  private def pip(points: DataFrame, polys: DataFrame) = ctx.span("spatial_join", "pipJoin") {
    SpatialJoin.pipJoin(points, polys.select(col("poly_id"), col("rings"), col("cell_cover")))
  }

  /** The headline plan: one row per (kind, key) with its count. */
  private def headline(): DataFrame = {
    val anchors = anchorsOf(anchorDocs)
    val pts = anchors.select(col("doc_id"), col("lat"), col("lon"))
    def counts(polys: DataFrame, kind: String) =
      pip(pts, polys).groupBy(col("poly_id")).agg(count(lit(1)).as("n"))
        .select(lit(kind).as("kind"), col("poly_id").as("key"), col("n"))
    val tiles = ctx.span("doc_pipeline", "mediaSpans")(DocPipeline.mediaSpans(tileDocs))
      .groupBy(col("tile")).agg(count(lit(1)).as("n"))
      .select(lit("tile").as("kind"), col("tile").cast("string").as("key"), col("n"))
    val cells = encoded(anchors)
      .agg(coalesce(expr("bit_xor(xxhash64(c8, c9, c10, c11, s2))"), lit(0L)).as("n"))
      .select(lit("cells").as("kind"), lit("checksum").as("key"), col("n"))
    counts(regionPolys, "region").unionByName(counts(muniPolys, "muni"))
      .unionByName(tiles).unionByName(cells)
  }

  def op(i: Int): OpResult = {
    val (rows, t) = OpResult.timed(ctx.span("geo_join", "headline.collect")(headline().collect()))
    def byKey(kind: String) =
      rows.filter(_.getString(0) == kind).map(r => r.getString(1) -> r.getLong(2)).toMap
    val ok = byKey("region") == oracle.region.toMap &&
      byKey("muni") == oracle.muni.toMap &&
      byKey("tile").values.sum == oracle.media &&
      byKey("cells").get("checksum").contains(oracle.checksum)
    OpResult(total, t, ok)
  }

  /** Prefix pipelines to a noop sink (scan -> +anchor/geocode -> +encode ->
    * +PIP), the phase-1 candidate join, and the tile branch; each layer's
    * self time is the difference of consecutive prefixes (median of 3). */
  def layers(loopSpans: Seq[Span]): Map[String, Double] = {
    val tr = ctx.tracer
    def noop(layer: String, name: String)(df: => DataFrame): Span = {
      ctx.span(layer, name)(df.write.format("noop").mode("overwrite").save())
      tr.spans.filter(s => s.layer == layer && s.name == name).last
    }
    def med(layer: String, name: String)(df: => DataFrame): (Double, Span) = {
      val runs = (1 to 3).map(_ => noop(layer, name)(df))
      (Stats.median(runs.map(_.seconds)), runs.last)
    }
    val allPolys = regionPolys.unionByName(muniPolys)
    val (scanA, scanSpan) = med("doc_store", "prefix.scan.anchor")(anchorDocs)
    val (scanT, scanTSpan) = med("doc_store", "prefix.scan.tile")(tileDocs)
    val (anchorT, anchorSpan) = med("doc_pipeline", "prefix.anchor")(anchorsOf(anchorDocs))
    val (encT, _) = med("geo", "prefix.encode")(encoded(anchorsOf(anchorDocs)))
    val (pipT, pipSpan) = med("spatial_join", "prefix.pip")(pip(encoded(anchorsOf(anchorDocs)), allPolys))
    val (_, candSpan) = med("spatial_join", "prefix.candidates") {
      // phase 1 alone: points' cover-resolution cell equi-joined to the
      // exploded cover, no residual, so its join output is the candidates
      encoded(anchorsOf(anchorDocs)).withColumn("cell", gf.grid_cell(col("lat"), col("lon"), 7))
        .join(broadcast(allPolys.select(col("poly_id"), explode(col("cell_cover")).as("cell"))), "cell")
    }
    val (tileT, tileSpan) = med("doc_pipeline", "prefix.tile")(DocPipeline.mediaSpans(tileDocs))
    def cellJoinRows(s: Span) = s.nodes.filter(n => n.keys.contains("cell") && n.kind.contains("Join"))
    val candidates = cellJoinRows(candSpan).map(_.rows).sum.toDouble
    val pipJoins = cellJoinRows(pipSpan)
    val hits = (if (pipJoins.exists(_.hasCondition)) pipJoins.map(_.rows)
      else pipSpan.nodes.filter(n => n.kind == "FilterExec" && n.exprs("PointInPolygon")).map(_.rows)).sum.toDouble
    val coverCells = allPolys.select(sum(size(col("cell_cover")))).head().getLong(0).toDouble
    val scanSpans = Seq(scanSpan, scanTSpan)
    // kNN is not a workload of its own (see AddrKnn); its layer is measured here
    Probe.layers(ctx, new AddrKnn(ctx), s"${ctx.workDir}/knn", "kNN") ++ Map(
      "doc_store.scan_bytes" -> scanSpans.map(_.spark.inBytes).sum.toDouble,
      "doc_store.scan_rows" -> scanSpans.map(_.spark.inRecords).sum.toDouble,
      "doc_store.scan_s" -> (scanA + scanT),
      "doc_pipeline.anchors" -> anchorSpan.rootRows,
      "doc_pipeline.anchor_s" -> (anchorT - scanA),
      "doc_pipeline.media_spans" -> tileSpan.rootRows,
      "doc_pipeline.tile_s" -> (tileT - scanT),
      "geo.encode_s" -> (encT - anchorT),
      "spatial_join.candidates" -> candidates,
      "spatial_join.hits" -> hits,
      "spatial_join.hit_ratio" -> (if (candidates > 0) hits / candidates else 0.0),
      "spatial_join.cover_cells" -> coverCells,
      "spatial_join.pip_s" -> (pipT - encT))
  }
}

object GeoJoin {
  /** Document `id` of the seeded window: region from the weighted layout,
    * seq shifted by the region's seed-chosen offset. */
  def docAt(layout: IndexedSeq[(String, Long, Long)], offsets: Map[String, Long], id: Long): Doc = {
    var lo = 0
    var hi = layout.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (layout(mid)._2 <= id) lo = mid else hi = mid - 1
    }
    val (region, start, _) = layout(lo)
    DataGen.makeDoc(region, offsets(region) + (id - start))
  }
}
