package graft

import graft.geo.{Pip, Rng}
import graft.model.{Doc, Span}
import graft.operators.{DocPipeline, KnnJoin, SpatialJoin}
import graft.sources.DocStore
import graft.synth.DataGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docsPath = DocStore.ensure(spark, 0.0005)
  private lazy val docs = DocStore.readDf(spark, docsPath)
  private lazy val regionPolys = DataGen.regionPolys(spark).toDF()

  test("pip join: every doc anchor lands in exactly its own region polygon") {
    val joined = SpatialJoin.pipJoin(
      DocPipeline.docAnchors(docs).select($"doc_id", $"region", $"lat", $"lon"),
      regionPolys.drop("region"))
    // anchor geocodes inside its region polygon, polygons don't overlap =>
    // assignment == generating region, once per doc
    val rows = joined.select($"doc_id", $"region", $"poly_id").collect()
    val nDocs = docs.count()
    assert(rows.length == nDocs)
    assert(rows.forall(r => r.getString(1) == r.getString(2)))
  }

  test("pip join counts equal per-region doc counts (flagship query)") {
    val viaJoin = DocPipeline.regionDocCounts(docs, regionPolys)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = docs.groupBy("region").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaJoin == direct)
  }

  test("pip join equals brute-force PIP over every (point, polygon) pair") {
    // seeded points over the region grid (lon [30,80] x lat [40,70]) plus a
    // margin, around the antimeridian region "25" (lon 180, lat 0), and far
    // outside every polygon
    val grid = (0 until 2000).map { i =>
      (s"p$i", 38.0 + 34.0 * Rng.uniform(2 * i), 28.0 + 54.0 * Rng.uniform(2 * i + 1))
    }
    val antimeridian = (0 until 200).map { i =>
      val lon = 176.0 + 8.0 * Rng.uniform(10000 + 2 * i)
      (s"a$i", -4.0 + 8.0 * Rng.uniform(10001 + 2 * i), if (lon > 180.0) lon - 360.0 else lon)
    }
    val far = Seq(("far0", -50.0, -120.0), ("far1", 10.0, 0.0), ("far2", 85.0, 55.0))
    val pts = grid ++ antimeridian ++ far
    val polys = DataGen.regionPolys(spark).toDF()
      .unionByName(DataGen.municipalityPolys(spark).toDF())
      .select($"poly_id", $"rings", $"cell_cover")
    val rows = SpatialJoin.pipJoin(pts.toDF("pid", "lat", "lon"), polys)
      .select($"pid", $"poly_id").collect().map(r => (r.getString(0), r.getString(1)))
    val polyRings = polys.collect().map { r =>
      (r.getString(0), r.getSeq[scala.collection.Seq[Double]](1).map(_.toArray).toArray)
    }
    val want = (for {
      (pid, lat, lon) <- pts
      (polyId, rings) <- polyRings
      if Pip.contains(rings, lon, lat)
    } yield (pid, polyId)).toSet
    assert(rows.toSet == want)
    assert(rows.length == want.size, "a (point, polygon) pair came out more than once")
    assert(want.exists(_._1.startsWith("p")) && want.exists(_._1.startsWith("a")))
    assert(!rows.exists(_._1.startsWith("far")))
  }

  test("certified knn join equals brute force exactly (incl. hot-region skew)") {
    val anchors = DocPipeline.docAnchors(docs)
      .select($"doc_id".as("qid"), $"lat", $"lon")
    val addrs = DataGen.addrPoints(spark, 0.0005).toDF()
      .select($"addr_id".as("tid"), $"lat", $"lon")
    val fast = KnnJoin.knnJoin(anchors, addrs, k = 3)
      .select("qid", "tid", "rn").collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val brute = KnnJoin.knnBrute(anchors, addrs, k = 3)
      .select("qid", "tid", "rn").collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(fast == brute)
    assert(fast.nonEmpty)
  }

  test("knn join with k larger than candidate pool still exact") {
    val q = Seq(("q1", 55.0, 37.0)).toDF("qid", "lat", "lon")
    val t3 = Seq(("t1", 55.1, 37.1), ("t2", 10.0, 10.0), ("t3", -60.0, 100.0))
      .toDF("tid", "lat", "lon")
    val got = KnnJoin.knnJoin(q, t3, k = 5)
      .orderBy("rn").collect().map(_.getString(1)).toSeq
    assert(got == Seq("t1", "t2", "t3"))
  }

  test("knn join equals brute force row for row: ties, antimeridian, full scan, empty inputs") {
    // four targets at exactly 0.25 dist2 from q1; q2 sees a two-way tie too
    val q = Seq(("q1", 10.0, 20.0), ("q2", 10.2, 20.0)).toDF("qid", "lat", "lon")
    val tieAt = Seq((10.5, 20.0), (9.5, 20.0), (10.0, 20.5), (10.0, 19.5))
    val strT = Seq("t9", "t10", "t8", "t100").zip(tieAt)
      .map { case (id, (a, b)) => (id, a, b) }.toDF("tid", "lat", "lon")
    val longT = Seq(9L, 10L, 8L, 100L).zip(tieAt)
      .map { case (id, (a, b)) => (id, a, b) }.toDF("tid", "lat", "lon")
    // near the antimeridian: kRing wraps, dist2 does not; far filler lets the
    // ring walk reach its certificate before the full-scan bound
    val amQ = Seq(("e", 0.0, 179.9), ("w", 0.0, -179.9), ("n", 1.0, 179.95)).toDF("qid", "lat", "lon")
    val amT = (Seq(("a", 0.0, -179.95), ("b", 0.0, 179.95), ("c", 0.3, 179.5),
      ("d", 0.0, -179.0), ("f", -0.2, -179.6)) ++
      (0 until 60).map(i => (s"z$i", -40.0 - i * 0.1, 100.0))).toDF("tid", "lat", "lon")
    // at res 12 no ring within the walk's bound reaches the cluster from "far"
    val sparseQ = Seq(("far", -60.0, -100.0), ("near", 55.03, 37.03)).toDF("qid", "lat", "lon")
    val cluster = (0 until 60).map(i => (s"c$i", 55.0 + (i % 8) * 0.01, 37.0 + (i / 8) * 0.01))
      .toDF("tid", "lat", "lon")
    val noT = Seq.empty[(String, Double, Double)].toDF("tid", "lat", "lon")
    val noQ = Seq.empty[(String, Double, Double)].toDF("qid", "lat", "lon")
    val cases = Seq(
      ("ties, String tids", q, strT, 3, -1),
      ("ties, Long tids", q, longT, 3, -1),
      ("antimeridian, auto res", amQ, amT, 2, -1),
      ("antimeridian, res 10", amQ, amT, 2, 10),
      ("sparse query, res 12", sparseQ, cluster, 3, 12),
      ("empty targets", q, noT, 3, -1),
      ("empty queries", noQ, strT, 3, -1))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq.sortBy(r => (r(0).toString, r(3).asInstanceOf[Int]))
    val got = cases.map { case (name, qs, ts, k, res) =>
      val fast = KnnJoin.knnJoin(qs, ts, k, res)
      assert(fast.schema("tid").dataType == ts.schema("tid").dataType, name)
      val r = rows(fast)
      assert(r == rows(KnnJoin.knnBrute(qs, ts, k)), name)
      name -> r
    }.toMap
    // the ties really are broken by Spark's ordering of the tid type
    assert(got("ties, String tids").filter(_.head == "q1").map(_(1)) == Seq("t10", "t100", "t8"))
    assert(got("ties, Long tids").filter(_.head == "q1").map(_(1)) == Seq(8L, 9L, 10L))
    assert(got("antimeridian, res 10").map(r => (r(0), r(1))) ==
      Seq(("e", "b"), ("e", "c"), ("n", "c"), ("n", "b"), ("w", "a"), ("w", "f")))
    assert(got("sparse query, res 12").count(_.head == "far") == 3)
    assert(got("empty targets").isEmpty && got("empty queries").isEmpty)
  }

  test("shuffle-free anchors equal the window formulation") {
    val fast = DocPipeline.docAnchors(docs)
      .select($"doc_id", $"text", $"offset", $"lat", $"lon").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3), r.getDouble(4))).toSet
    val slow = WindowAnchors.docAnchorsViaWindow(docs)
      .select($"doc_id", $"text", $"offset", $"lat", $"lon").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(fast == slow && fast.nonEmpty)
  }

  test("docAnchors: a doc with no text span gives no row; the anchor is the first text span") {
    val text = docs.select(explode($"spans.text").as("t")).where($"t".isNotNull).head().getString(0)
    val media = Span("media", null, "tile/7/1/2", 0)
    val probe = Seq(
      Doc("media-only", Seq(media), "01"),
      Doc("empty", Nil, "01"),
      Doc("null", null, "01"),
      Doc("mixed", Seq(media, Span("text", text, null, 1), Span("text", "second", null, 2)), "01"))
      .toDF()
    val got = DocPipeline.docAnchors(probe).select($"doc_id", $"text", $"offset").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    assert(got == Seq(("mixed", text, 1)), got.toString)
  }

  test("media tile consistency holds for every media span") {
    val mc = DocPipeline.mediaConsistency(docs)
    val counts = mc.groupBy("consistent").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse(false, 0L) == 0L)
    assert(counts.getOrElse(true, 0L) > 0L)
  }

  test("span-sequence round trip: explode -> reassemble is identity") {
    val rebuilt = DocPipeline.reassemble(DocPipeline.explodeSpans(docs))
    val mismatches = docs.select($"doc_id", $"spans".as("orig"))
      .join(rebuilt.select($"doc_id", $"spans".as("round")), "doc_id")
      .where(not($"orig" === $"round"))
      .count()
    assert(mismatches == 0)
    assert(rebuilt.count() == docs.count())
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
