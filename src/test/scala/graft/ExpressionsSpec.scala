package graft

import graft.expr.gf
import graft.geo._
import graft.synth.SynthGeo
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom Catalyst expressions must agree with the pure-Scala core on both
  * execution paths (interpreted + whole-stage codegen; fallback disabled in
  * TestSpark so codegen bugs fail loudly), and be callable from SQL. */
class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val pts = (0 until 200).map { i =>
    (-85.0 + 170.0 * Rng.uniform(2 * i), -179.9 + 359.8 * Rng.uniform(2 * i + 1))
  }.toDF("lat", "lon")

  test("grid_cell / s2_cell / tile_id match the scala core (codegen path)") {
    val rows = pts
      .withColumn("c7", gf.grid_cell($"lat", $"lon", 7))
      .withColumn("c11", gf.grid_cell($"lat", $"lon", 11))
      .withColumn("s2", gf.s2_cell($"lat", $"lon", 11))
      .withColumn("t", gf.tile_id($"lat", $"lon", 9))
      .collect()
    for (r <- rows) {
      val (lat, lon) = (r.getDouble(0), r.getDouble(1))
      assert(r.getLong(2) == GridCell.encode(lat, lon, 7))
      assert(r.getLong(3) == GridCell.encode(lat, lon, 11))
      assert(r.getLong(4) == S2Cell.encode(lat, lon, 11))
      assert(r.getLong(5) == Tile.encode(lat, lon, 9))
    }
  }

  test("grid_parent and grid_kring") {
    val rows = pts
      .withColumn("c11", gf.grid_cell($"lat", $"lon", 11))
      .withColumn("p7", gf.grid_parent($"c11", 7))
      .withColumn("ring", gf.grid_kring(gf.grid_cell($"lat", $"lon", 7), 1))
      .collect()
    for (r <- rows) {
      val (lat, lon) = (r.getDouble(0), r.getDouble(1))
      assert(r.getLong(3) == GridCell.encode(lat, lon, 7))
      assert(r.getSeq[Long](4).toArray.sameElements(GridCell.kRing(GridCell.encode(lat, lon, 7), 1)))
    }
  }

  test("st_contains matches Pip.contains for region polygons") {
    val region = "07"
    val rings = SynthGeo.regionPolygon(region)
    val ringsDf = Seq(rings.map(_.toSeq).toSeq).toDF("rings")
    val joined = pts.crossJoin(ringsDf)
      .withColumn("inside", gf.st_contains($"rings", $"lat", $"lon"))
      .collect()
    for (r <- joined) {
      val (lat, lon) = (r.getDouble(0), r.getDouble(1))
      assert(r.getBoolean(3) == Pip.contains(rings, lon, lat), s"($lat,$lon)")
    }
  }

  test("a null ring reads as an empty ring: no edges and no cover cells") {
    // constant-folded: the cover of the first ring alone
    val folded = spark.sql("SELECT cell_cover(array(array(0, 0, 10, 0, 10, 10), null), 3)")
      .head().getSeq[Long](0)
    assert(folded == Pip.cellCover(Array(Array[Double](0, 0, 10, 0, 10, 10)), 3).toSeq)
    assert(spark.sql("SELECT cell_cover(array(null, array(0, 0, 10, 0, 10, 10)), 3)")
      .head().getSeq[Long](0).isEmpty)
    // row data: a polygon table with a null hole ring == the same table
    // without that ring, for st_contains and for the spatial join
    def square(x0: Double, y0: Double, x1: Double, y1: Double) = Seq(x0, y0, x1, y0, x1, y1, x0, y1)
    val (shell, hole) = (square(36, 54, 40, 58), square(37, 55, 38, 56))
    def polys(rings: Seq[Seq[Double]]*) = {
      val dir = java.nio.file.Files.createTempDirectory("null_ring").toString + "/polys"
      rings.zipWithIndex.map { case (r, i) => (i.toLong, r) }.toDF("poly_id", "rings")
        .withColumn("cell_cover", gf.cell_cover($"rings", graft.operators.SpatialJoin.CoverRes))
        .write.parquet(dir)
      spark.read.parquet(dir)
    }
    val withNull = polys(Seq(shell, null, hole), Seq(square(30, 50, 33, 53), null))
    val without = polys(Seq(shell, hole), Seq(square(30, 50, 33, 53)))
    val points = (for (i <- 0 until 20; j <- 0 until 24) yield (49.25 + 0.5 * i, 29.25 + 0.5 * j))
      .toDF("lat", "lon")
    def contains(p: org.apache.spark.sql.DataFrame) = points.crossJoin(p)
      .select($"poly_id", $"lat", $"lon", gf.st_contains($"rings", $"lat", $"lon")).collect().toSet
    def joined(p: org.apache.spark.sql.DataFrame) =
      graft.operators.SpatialJoin.pipJoin(points, p).select("poly_id", "lat", "lon").collect().toSet
    val inside = joined(without)
    assert(inside.exists(_.getLong(0) == 0L) && inside.exists(_.getLong(0) == 1L))
    assert(!inside.exists(r => r.getDouble(1) == 55.25 && r.getDouble(2) == 37.25), "hole ignored")
    assert(contains(withNull) == contains(without))
    assert(joined(withNull) == inside)
  }

  test("tile_key / tile_parse round trip; haversine and dist2") {
    val rows = pts
      .withColumn("t", gf.tile_id($"lat", $"lon", 12))
      .withColumn("k", gf.tile_key($"t"))
      .withColumn("t2", gf.tile_parse($"k"))
      .withColumn("hv", gf.haversine_m($"lat", $"lon", lit(55.7558), lit(37.6173)))
      .withColumn("d2", gf.dist2_deg($"lat", $"lon", lit(55.7558), lit(37.6173)))
      .collect()
    for (r <- rows) {
      val (lat, lon) = (r.getDouble(0), r.getDouble(1))
      assert(r.getLong(2) == r.getLong(4))
      assert(r.getString(3) == Tile.key(r.getLong(2)))
      assert(r.getDouble(5) == GeoMath.haversineM(lat, lon, 55.7558, 37.6173))
      assert(r.getDouble(6) == GeoMath.dist2Deg(lat, lon, 55.7558, 37.6173))
    }
  }

  test("geocode expressions: deterministic, inside region polygon, match SynthGeo") {
    val docs = Seq(("77", "ул. Ленина, д. 5"), ("05", "ул. Мира, д. 7"), ("25", "ул.新"),
      ("01", ""), ("78", "x")).toDF("region", "text")
    val rows = docs
      .withColumn("glat", gf.geocode_lat($"region", $"text"))
      .withColumn("glon", gf.geocode_lon($"region", $"text"))
      .collect()
    for (r <- rows) {
      val (region, text) = (r.getString(0), r.getString(1))
      val (lat, lon) = SynthGeo.geocode(region, text)
      assert(r.getDouble(2) == lat && r.getDouble(3) == lon)
      assert(Pip.contains(SynthGeo.regionPolygon(region), lon, lat),
        s"geocoded point for $region outside its polygon")
    }
  }

  test("text expressions match TextAlgos") {
    val docs = Seq("кот", "ул. Ленина, д.5", "hello world", "", "a b  c").toDF("t")
    val rows = docs.select($"t",
      gf.trigrams($"t"), gf.norm_keyword($"t"), gf.simhash64($"t"),
      gf.fingerprint64($"t"), gf.token_count($"t"), gf.bpe_count($"t"),
      gf.lang_id($"t"), gf.quality_score($"t"),
      gf.minhash_sig($"t", 3, 16), gf.lsh_bands(gf.minhash_sig($"t", 3, 16), 4)
    ).collect()
    for (r <- rows) {
      val t = r.getString(0)
      assert(r.getString(1) == TextAlgos.buildNgrams(t))
      assert(r.getString(2) == TextAlgos.clearKeyword(t))
      assert(r.getLong(3) == TextAlgos.simHash(t))
      assert(r.getLong(4) == TextAlgos.rollingFingerprint(t))
      assert(r.getInt(5) == TextAlgos.tokenCount(t))
      assert(r.getInt(6) == TextAlgos.bpeTokenEstimate(t))
      assert(r.getString(7) == TextAlgos.langId(t))
      assert(r.getDouble(8) == TextAlgos.qualityScore(t))
      assert(r.getSeq[Long](9).toArray.sameElements(TextAlgos.minHash(t, 3, 16)))
      assert(r.getSeq[Long](10).toArray.sameElements(TextAlgos.lshBands(TextAlgos.minHash(t, 3, 16), 4)))
    }
  }

  test("null propagation: null inputs yield null outputs") {
    val df = Seq((Some(10.0), Some(20.0)), (None, Some(20.0)), (Some(10.0), None))
      .toDF("lat", "lon")
      .withColumn("c", gf.grid_cell($"lat", $"lon", 7))
    val got = df.select($"c").collect().map(r => r.isNullAt(0))
    assert(got.toSeq == Seq(false, true, true))
  }

  /** Typed inputs for the SQL twins: every column as the engine derives it,
    * half the points inside their row's region polygon. */
  private lazy val fx = {
    val texts = Seq("кот", "ул. Ленина, д.5", "hello world", "", "a b  c")
    (0 until 40).map { i =>
      val region = SynthGeo.Regions(i % SynthGeo.Regions.size)
      val t = texts(i % texts.size)
      val (lat, lon) = if (i % 2 == 0) SynthGeo.geocode(region, t)
        else (40.0 + 30.0 * Rng.uniform(3 * i), 30.0 + 50.0 * Rng.uniform(3 * i + 1))
      val v = Array.tabulate(4)(j => (Rng.uniform(100 * i + j) - 0.5).toFloat)
      (i.toLong, lat, lon, region, t, SynthGeo.regionPolygon(region).map(_.toSeq).toSeq, v)
    }.toDF("id", "lat", "lon", "region", "t", "rings", "v")
      .withColumn("cell", gf.grid_cell($"lat", $"lon", 11))
      .withColumn("tile", gf.tile_id($"lat", $"lon", 12))
      .withColumn("key", gf.tile_key($"tile"))
      .withColumn("sig", gf.minhash_sig($"t", 3, 16))
      .withColumn("sh", gf.simhash64($"t"))
      .withColumn("q", gf.vec_quantize($"v"))
      .withColumn("vs", gf.vec_sig($"v", 16))
      .withColumn("hs", gf.shingle_hashes($"t", 3))
  }

  /** Every registered SQL name: its call over `fx` and its Column API twin. */
  private lazy val sqlTwins: Seq[(String, String, org.apache.spark.sql.Column)] = Seq(
    ("grid_cell", "grid_cell(lat, lon, 7)", gf.grid_cell($"lat", $"lon", 7)),
    ("grid_parent", "grid_parent(cell, 7)", gf.grid_parent($"cell", 7)),
    ("grid_kring", "grid_kring(cell, 1)", gf.grid_kring($"cell", 1)),
    ("s2_cell", "s2_cell(lat, lon, 11)", gf.s2_cell($"lat", $"lon", 11)),
    ("cell_x", "cell_x(cell)", gf.cell_x($"cell")),
    ("cell_y", "cell_y(cell)", gf.cell_y($"cell")),
    ("st_contains", "st_contains(rings, lat, lon)", gf.st_contains($"rings", $"lat", $"lon")),
    ("cell_cover", "cell_cover(rings, 7)", gf.cell_cover($"rings", 7)),
    ("tile_id", "tile_id(lat, lon, 9)", gf.tile_id($"lat", $"lon", 9)),
    ("tile_key", "tile_key(tile)", gf.tile_key($"tile")),
    ("tile_parse", "tile_parse(key)", gf.tile_parse($"key")),
    ("haversine_m", "haversine_m(lat, lon, 55.7558d, 37.6173d)",
      gf.haversine_m($"lat", $"lon", lit(55.7558), lit(37.6173))),
    ("dist2_deg", "dist2_deg(lat, lon, 55.7558d, 37.6173d)",
      gf.dist2_deg($"lat", $"lon", lit(55.7558), lit(37.6173))),
    ("geocode_lat", "geocode_lat(region, t)", gf.geocode_lat($"region", $"t")),
    ("geocode_lon", "geocode_lon(region, t)", gf.geocode_lon($"region", $"t")),
    ("trigrams", "trigrams(t)", gf.trigrams($"t")),
    ("norm_keyword", "norm_keyword(t)", gf.norm_keyword($"t")),
    ("simhash64", "simhash64(t)", gf.simhash64($"t")),
    ("fingerprint64", "fingerprint64(t)", gf.fingerprint64($"t")),
    ("minhash_sig", "minhash_sig(t, 3, 16)", gf.minhash_sig($"t", 3, 16)),
    ("lsh_bands", "lsh_bands(sig, 4)", gf.lsh_bands($"sig", 4)),
    ("hamming64", "hamming64(sh, cell)", gf.hamming64($"sh", $"cell")),
    ("token_count", "token_count(t)", gf.token_count($"t")),
    ("bpe_count", "bpe_count(t)", gf.bpe_count($"t")),
    ("lang_id", "lang_id(t)", gf.lang_id($"t")),
    ("quality_score", "quality_score(t)", gf.quality_score($"t")),
    ("vec_quantize", "vec_quantize(v)", gf.vec_quantize($"v")),
    ("vec_dot_q", "vec_dot_q(q, reverse(q))", gf.vec_dot_q($"q", reverse($"q"))),
    ("vec_cos_q", "vec_cos_q(q, reverse(q))", gf.vec_cos_q($"q", reverse($"q"))),
    ("vec_sig", "vec_sig(v, 16)", gf.vec_sig($"v", 16)),
    ("sig_bands", "sig_bands(vs, 16, 4)", gf.sig_bands($"vs", 16, 4)),
    ("shingle_hashes", "shingle_hashes(t, 3)", gf.shingle_hashes($"t", 3)),
    ("jaccard_sorted", "jaccard_sorted(hs, shingle_hashes(t, 2))",
      gf.jaccard_sorted($"hs", gf.shingle_hashes($"t", 2))))

  test("SQL registration: every function callable from spark.sql") {
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    def names(r: FunctionRegistry) = r.listFunction().map(_.funcName).toSet
    assert(names(spark.sessionState.functionRegistry) -- names(FunctionRegistry.builtin) ==
      sqlTwins.map(_._1).toSet)
    assert(sqlTwins.size == 33)
    fx.createOrReplaceTempView("graft_fx")
    for ((name, sql, column) <- sqlTwins) {
      val viaSql = spark.sql(s"SELECT id, $sql AS out FROM graft_fx ORDER BY id")
      val viaColumn = fx.select($"id", column.as("out")).orderBy("id")
      assert(viaSql.schema == viaColumn.schema, name)
      assert(viaSql.collect().toSeq == viaColumn.collect().toSeq, name)
    }
    // literal arguments, constant-folded, against the scala core
    val row = spark.sql(
      """SELECT grid_cell(55.7558d, 37.6173d, 7) c,
        |       grid_parent(grid_cell(55.7558d, 37.6173d, 11), 7) p,
        |       size(grid_kring(grid_cell(50d, 50d, 7), 1)) kr,
        |       s2_cell(55.7558d, 37.6173d, 11) s2,
        |       tile_key(tile_id(55.7558d, 37.6173d, 10)) tk,
        |       st_contains(array(array(0d,0d,10d,0d,10d,10d,0d,10d)), 5d, 5d) inq,
        |       trigrams('ab') tg,
        |       hamming64(simhash64('abc def'), simhash64('abc def')) hd,
        |       lang_id('привет мир') li,
        |       round(haversine_m(55.7558d, 37.6173d, 59.9343d, 30.3351d)) hv
        |""".stripMargin).collect()(0)
    assert(row.getAs[Long]("c") == GridCell.encode(55.7558, 37.6173, 7))
    assert(row.getAs[Long]("p") == GridCell.encode(55.7558, 37.6173, 7))
    assert(row.getAs[Int]("kr") == 9)
    assert(row.getAs[Long]("s2") == S2Cell.encode(55.7558, 37.6173, 11))
    assert(row.getAs[String]("tk") == "10/619/320")
    assert(row.getAs[Boolean]("inq"))
    assert(row.getAs[String]("tg") == "__a _ab ab_ b__")
    assert(row.getAs[Int]("hd") == 0)
    assert(row.getAs[String]("li") == "ru")
    assert(row.getAs[Double]("hv") == 633020.0)
  }

  test("arguments coerce to the declared input types; a type with no implicit cast fails analysis") {
    val row = spark.sql("SELECT grid_cell(55, 37, cast(7 as tinyint)) c, tile_id(55.7558f, 37, 10L) t")
      .collect()(0)
    assert(row.getLong(0) == GridCell.encode(55.0, 37.0, 7))
    assert(row.getLong(1) == Tile.encode(55.7558f.toDouble, 37.0, 10))
    for (bad <- Seq("grid_cell(true, 37d, 7)", "tile_key(date'2020-01-01')",
        "st_contains(array(1d), 1d, 1d)", "vec_quantize('abc')")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(s"SELECT $bad"))
      assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e.getMessage)
    }
  }

  test("ivf_probes matches a direct scala ranking (codegen path, reference-object centroids)") {
    val cents = Array(
      Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(0f, 0f, 1f),
      Array(0.7f, 0.7f, 0f))
    val vecs = Seq(
      (1L, Array(0.9f, 0.1f, 0f)), (2L, Array(0f, 0.2f, 0.9f)), (3L, Array(0.6f, 0.6f, 0.1f)))
      .toDF("id", "v")
    val got = vecs.select($"id", gf.ivf_probes($"v", cents, 2).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    def rank(v: Array[Float]) = cents.indices
      .sortBy(i => (-graft.geo.VecAlgos.cosine(v, cents(i)), i)).take(2)
    assert(got(1L) == rank(Array(0.9f, 0.1f, 0f)))
    assert(got(2L) == rank(Array(0f, 0.2f, 0.9f)))
    assert(got(3L) == rank(Array(0.6f, 0.6f, 0.1f)))
  }

  test("whole-stage codegen stays enabled over the cell-encode pipeline") {
    val plan = spark.range(1000)
      .selectExpr("cast(id as double) / 10 - 40 as lat", "cast(id as double) / 5 - 100 as lon")
      .withColumn("c7", gf.grid_cell($"lat", $"lon", 7))
      .withColumn("t", gf.tile_id($"lat", $"lon", 9))
      .where($"c7" > 0)
      .queryExecution.executedPlan.toString
    // "*(1)" prefixes mark operators fused into WholeStageCodegen stage 1;
    // the custom expressions must not break the fusion (no fallback allowed
    // in TestSpark, so a doGenCode bug would have thrown already).
    assert(plan.contains("*(1) Project"), s"expected codegen'd Project in:\n$plan")
    assert(plan.contains("*(1) Filter"), s"expected codegen'd Filter in:\n$plan")
  }
}
