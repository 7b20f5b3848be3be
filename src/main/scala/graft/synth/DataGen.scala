package graft.synth

import graft.geo.{GridCell, Rng, TextAlgos, Tile}
import graft.model.{AddrPoint, Doc, PolyRow, Span}
import graft.operators.SpatialJoin
import org.apache.spark.sql.{Dataset, SparkSession}

/**
 * Deterministic, distributed generator for the synthetic world
 * (FIXTURES.md §A/§B). Every row is a pure function of its global index, so
 * output is identical across partition counts and parallelism levels — the
 * precondition for the N vs 4N scaling comparison and for resumability.
 *
 * Scale: sf 1.0 == 1,000,000 documents, distributed over regions by weight
 * (Moscow "77" 20x, SPb "78" 8x — deliberate skew).
 */
object DataGen {

  val DocsPerSf = 1000000L
  val AddrPerSf = 200000L

  /** (region, startIndex, count) layout of the weighted document space. */
  def regionLayout(total: Long): IndexedSeq[(String, Long, Long)] = {
    val unitTotal = SynthGeo.Regions.map(r => SynthGeo.weight(r).toLong).sum
    var cursor = 0L
    val out = Vector.newBuilder[(String, Long, Long)]
    for (r <- SynthGeo.Regions) {
      // every region gets at least one document: integer division zeroes
      // weight-1 regions whenever total < unitTotal (degenerate tiny sf),
      // and a corpus silently missing 28 of 30 regions breaks any
      // per-region expectation downstream. No-op at every real sf.
      val cnt = math.max(1L, total * SynthGeo.weight(r) / unitTotal)
      out += ((r, cursor, cnt))
      cursor += cnt
    }
    out.result()
  }

  private def regionOf(layout: IndexedSeq[(String, Long, Long)], id: Long): (String, Long) = {
    // binary search over start offsets
    var lo = 0
    var hi = layout.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (layout(mid)._2 <= id) lo = mid else hi = mid - 1
    }
    (layout(lo)._1, id - layout(lo)._2)
  }

  /** One document, pure function of (region, seq). 1-8 spans, interleaved
    * text/media; media spans reference the slippy tile of the preceding text
    * span's geocoded point (z 7..11); leading media spans get attachments. */
  def makeDoc(region: String, seq: Long): Doc = {
    val seed = 0xD0C5EEDL * 31 + SynthGeo.regionIndex(region) * 1000003L + seq * 7L
    val nSpans = 1 + Rng.uniformInt(seed, 8)
    var lastText: String = null
    val spans = (0 until nSpans).map { i =>
      val isText = lastText == null || Rng.uniform(seed + 100 + i) < 0.6
      if (isText) {
        val t = SynthGeo.addressText(region, seq, i)
        lastText = t
        Span("text", t, "", i)
      } else {
        val z = 7 + Rng.uniformInt(seed + 200 + i, 5)
        val (lat, lon) = SynthGeo.geocode(region, lastText)
        Span("media", "", s"tile/${Tile.key(Tile.encode(lat, lon, z))}", i)
      }
    }
    Doc(f"R$region-D$seq%08d", spans, region)
  }

  /** Distributed interleaved-document generator. */
  def documents(spark: SparkSession, sf: Double): Dataset[Doc] = {
    import spark.implicits._
    val total = math.max(SynthGeo.Regions.size.toLong, (DocsPerSf * sf).toLong)
    val layout = regionLayout(total)
    val realTotal = layout.map(_._3).sum
    spark.range(0, realTotal, 1, math.max(spark.sparkContext.defaultParallelism, 4))
      .mapPartitions { it =>
        it.map { id =>
          val (region, seq) = regionOf(layout, id)
          makeDoc(region, seq)
        }
      }
  }

  /** kNN target set: geocoded address points with precomputed cells res 7-11. */
  def addrPoints(spark: SparkSession, sf: Double): Dataset[AddrPoint] = {
    import spark.implicits._
    val total = math.max(SynthGeo.Regions.size.toLong, (AddrPerSf * sf).toLong)
    val layout = regionLayout(total)
    val realTotal = layout.map(_._3).sum
    spark.range(0, realTotal, 1, math.max(spark.sparkContext.defaultParallelism, 4))
      .mapPartitions { it =>
        it.map { id =>
          val (region, seq) = regionOf(layout, id)
          val text = SynthGeo.addressText(region, seq, 0)
          val (lat, lon) = SynthGeo.pointInRegion(region, 0xADD12E55L + Rng.splitmix64(id))
          val norm = TextAlgos.clearKeyword(text)
          AddrPoint(
            f"A$region-$seq%06d", region, lat, lon,
            GridCell.encode(lat, lon, 7), GridCell.encode(lat, lon, 8),
            GridCell.encode(lat, lon, 9), GridCell.encode(lat, lon, 10),
            GridCell.encode(lat, lon, 11),
            norm, TextAlgos.buildNgrams(norm))
        }
      }
  }

  /** Region polygons with precomputed cell cover (broadcast-sized). */
  def regionPolys(spark: SparkSession): Dataset[PolyRow] = {
    import spark.implicits._
    val rows = SynthGeo.Regions.map { r =>
      val rings = SynthGeo.regionPolygon(r)
      PolyRow(r, r, s"Region $r", rings.map(_.toSeq).toSeq,
        graft.geo.Pip.cellCover(rings, SpatialJoin.CoverRes).toSeq)
    }
    spark.createDataset(rows)
  }

  /** Municipality polygons (~9 per region, broadcast-sized). */
  def municipalityPolys(spark: SparkSession): Dataset[PolyRow] = {
    import spark.implicits._
    val rows = SynthGeo.Regions.flatMap { r =>
      SynthGeo.municipalities(r).map { case (id, rings) =>
        PolyRow(id, r, s"Municipality $id", rings.map(_.toSeq).toSeq,
          graft.geo.Pip.cellCover(rings, SpatialJoin.CoverRes).toSeq)
      }
    }
    spark.createDataset(rows)
  }
}
