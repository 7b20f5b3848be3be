package graft

import graft.geo.Pip
import graft.model.Doc
import graft.plans.Lineage
import graft.sources.DocStore
import graft.synth.{DataGen, SynthGeo}
import org.scalatest.funsuite.AnyFunSuite

class DataGenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("documents are deterministic and independent of parallelism") {
    import spark.implicits._
    val a = DataGen.documents(spark, 0.0005).collect().sortBy(_.doc_id)
    val b = DataGen.documents(spark, 0.0005).repartition(13).collect().sortBy(_.doc_id)
    assert(a.length == b.length && a.length > 400)
    assert(a.zip(b).forall { case (x, y) => x == y })
  }

  test("span-sequence invariant: kinds/offsets well-formed, text spans geocodable") {
    val docs = DataGen.documents(spark, 0.0005).collect()
    for (d <- docs) {
      assert(d.spans.nonEmpty && d.spans.length <= 8)
      // offsets strictly increasing, 0-based
      assert(d.spans.map(_.offset) == d.spans.indices)
      for (s <- d.spans) {
        s.kind match {
          case "text" =>
            assert(s.text.nonEmpty && s.media_ref.isEmpty)
            val (lat, lon) = SynthGeo.geocode(d.region, s.text)
            assert(Pip.contains(SynthGeo.regionPolygon(d.region), lon, lat),
              s"text span of ${d.doc_id} geocodes outside region ${d.region}")
          case "media" =>
            assert(s.text.isEmpty && s.media_ref.startsWith("tile/"))
          case other => fail(s"unexpected span kind $other")
        }
      }
      // first span is always text (media references the preceding text span)
      assert(d.spans.head.kind == "text")
    }
  }

  test("region weighting: Moscow ~20x an ordinary region") {
    val byRegion = DataGen.documents(spark, 0.002).groupBy("region").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byRegion.keySet == SynthGeo.Regions.toSet)
    val ordinary = byRegion("01").toDouble
    assert(byRegion("77") > 15 * ordinary && byRegion("77") < 25 * ordinary)
    assert(byRegion("78") > 6 * ordinary && byRegion("78") < 10 * ordinary)
  }

  test("addr points carry consistent precomputed cells") {
    val pts = DataGen.addrPoints(spark, 0.001).collect()
    assert(pts.length > 150)
    for (p <- pts) {
      assert(graft.geo.GridCell.encode(p.lat, p.lon, 7) == p.cell7)
      assert(graft.geo.GridCell.toParent(p.cell11, 7) == p.cell7)
      assert(p.trigrams == graft.geo.TextAlgos.buildNgrams(p.norm_text))
    }
  }

  test("polygon tables are broadcast-sized with sound cell covers") {
    val regions = DataGen.regionPolys(spark).collect()
    assert(regions.length == 30)
    val muns = DataGen.municipalityPolys(spark).collect()
    assert(muns.length == 270)
    for (r <- regions) {
      assert(r.cell_cover.nonEmpty)
      // cover soundness spot check: polygon centre's cell is in the cover
      val (cx, cy) = SynthGeo.regionCenter(r.region)
      assert(r.cell_cover.contains(graft.geo.GridCell.encode(cy, cx, 7)))
    }
  }

  test("doc store: partitioned write, manifest, partition-pruned read") {
    import spark.implicits._
    val p = DocStore.ensure(spark, 0.0005)
    val all = DocStore.readDf(spark, p).as[Doc]
    assert(all.count() > 400)
    // partition pruning visible in the physical plan
    val pruned = DocStore.readDf(spark, p, Seq("77", "78"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.select("region").distinct().collect().map(_.getString(0)).toSet == Set("77", "78"))
    assert(plan.contains("PartitionFilters") && plan.contains("region"), plan)
    // round trip preserves the span-sequence invariant exactly
    val direct = DataGen.documents(spark, 0.0005).collect().sortBy(_.doc_id)
    val stored = all.collect().sortBy(_.doc_id)
    assert(direct.zip(stored).forall { case (x: Doc, y: Doc) => x == y })
    // manifest round-trips through the Hadoop FS API (HDFS/S3-safe) and its
    // per-region counts equal the store's actual counts
    val manifest = Lineage.manifest(spark, p)
    assert(SynthGeo.Regions.forall(manifest.contains))
    val actual = all.toDF().groupBy("region").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(manifest == actual)
    // and the store works when addressed through an explicit Hadoop Path
    val hp = new org.apache.hadoop.fs.Path(p).getFileSystem(
      spark.sparkContext.hadoopConfiguration).makeQualified(new org.apache.hadoop.fs.Path(p))
    assert(Lineage.manifest(spark, hp.toString) == manifest)
    assert(DocStore.readDf(spark, hp.toString).count() == all.count())
  }
}
