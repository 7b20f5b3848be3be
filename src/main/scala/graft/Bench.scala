package graft

import graft.operators.DocPipeline
import graft.sources.DocStore
import graft.synth.DataGen
import org.apache.spark.sql.SparkSession

/**
 * Benchmark main (driver contract): runs every SparkEntry query once on
 * SPARK_GRAFT_SF_DIR plus the headline pipeline (geocode -> cell encode ->
 * PIP spatial join -> tile assignment over the interleaved doc table), and
 * prints ONE JSON line with per-query seconds, total, and the north-rule
 * headline docs/sec.
 */
object Bench {

  /** ONE builder for both pipeline flavors (previously two verbatim copies
    * that could drift independently). `full = false` is the north-rule
    * metric pipeline exactly as BASELINE.json words it ("H3-indexed PIP
    * spatial join + tile assignment"): anchor extraction -> geocode ->
    * broadcast two-phase PIP join vs region polygons -> counts, plus the
    * media tile histogram — ONE action, so the branches' stages schedule
    * in parallel. `full = true` additionally joins municipality polygons
    * and encodes cells at res 8-11 + S2 level 11, with every cell id
    * combined into a checksum row that reaches the output: WITHOUT a
    * consumer, Catalyst's column pruning deletes the encode from the
    * physical plan entirely, and through round 4 the "full headline"
    * silently measured the north-rule workload while claiming the
    * 5-resolution encode. */
  private def pipelineRun(spark: SparkSession, sf: Double, full: Boolean): (Long, Long) = {
    import org.apache.spark.sql.functions._
    import graft.expr.gf
    val p = DocStore.ensure(spark, sf)
    // per-branch nested pruning (readDfPruned): the anchor/PIP branch never
    // touches media_ref; the tile branch never touches text (the fat column).
    // Catalyst can't push this through posexplode/array lambdas, so the read
    // schema declares it — the scans decode strictly the bytes each branch uses.
    val docsForAnchors = DocStore.readDfPruned(spark, p, Seq("kind", "text", "offset"))
    val docsForTiles = DocStore.readDfPruned(spark, p, Seq("kind", "media_ref", "offset"))
    val anchorSrc = DocPipeline.docAnchors(docsForAnchors)
    val anchors = anchorSrc.select(col("doc_id"), col("lat"), col("lon"))
    def pipCounts(polys: org.apache.spark.sql.DataFrame, kind: String) =
      graft.operators.SpatialJoin.pipJoin(anchors,
          polys.select(col("poly_id"), col("rings"), col("cell_cover")))
        .groupBy(col("poly_id")).agg(count(lit(1)).as("n"))
        .select(lit(kind).as("kind"), col("n"))
    val tileCounts = DocPipeline.mediaSpans(docsForTiles)
      .groupBy("tile_z", "tile").count()
      .select(lit("tile").as("kind"), col("count").as("n"))
    val base = pipCounts(DataGen.regionPolys(spark).toDF(), "region")
      .unionByName(tileCounts)
    val all =
      if (!full) base
      else {
        // order-independent checksum of the multi-resolution encode: the
        // one row that keeps the encode alive through column pruning.
        // NOTE this branch re-runs anchor extraction + geocode (the three
        // union branches share no persist — recompute beats per-rep
        // block-manager churn at bench scale), so "full" pays a THIRD
        // anchor pass on top of the muni join and the encode itself —
        // stated here and in BENCH.md so the full-vs-north delta is read
        // as (muni + encode + one extra extraction), not encode alone.
        val cells = anchorSrc.select(
            gf.grid_cell(col("lat"), col("lon"), 8).as("c8"),
            gf.grid_cell(col("lat"), col("lon"), 9).as("c9"),
            gf.grid_cell(col("lat"), col("lon"), 10).as("c10"),
            gf.grid_cell(col("lat"), col("lon"), 11).as("c11"),
            gf.s2_cell(col("lat"), col("lon"), 11).as("s2"))
          .agg(coalesce(expr("bit_xor(xxhash64(c8, c9, c10, c11, s2))"), lit(0L)).as("n"))
          .select(lit("cells").as("kind"), col("n"))
        base.unionByName(pipCounts(DataGen.municipalityPolys(spark).toDF(), "muni"))
          .unionByName(cells)
      }
    val rows = all.collect()
    val nAssigned = rows.filter(_.getString(0) == "region").map(_.getLong(1)).sum
    (nAssigned, rows.length.toLong)
  }

  /** The full per-document pipeline: region AND municipality PIP joins,
    * tile histogram, and the res 8-11 + S2 cell encode (checksum-anchored
    * so it actually executes — see pipelineRun). */
  def headlinePipeline(spark: SparkSession, sf: Double): (Long, Long) =
    pipelineRun(spark, sf, full = true)

  /** The north-rule metric pipeline (region PIP + tiles only). */
  def northRulePipeline(spark: SparkSession, sf: Double): (Long, Long) =
    pipelineRun(spark, sf, full = false)

  def main(args: Array[String]): Unit = {
    // comma-decimal locales would render f"$v%.3f" as "0,123" and corrupt
    // every JSON artifact this main writes
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expr.gf.registerAll(spark)

    val sf = SparkEntry.sfOf(sfDir)
    // materialise synth inputs AND the per-sf persisted indexes up front so
    // query timings measure queries, not first-run cache population; build
    // time is reported separately in the artifact ("build_sec"). prebuild
    // is per-item fault-tolerant (-1 = failed) — a broken store surfaces in
    // the queries that need it, never as a lost artifact
    val builds = SparkEntry.prebuild(spark, sfDir)
    // page-cache + JIT warmup: touch every input table and run one small
    // shuffle so the alphabetically-first query doesn't absorb session
    // warmup costs that belong to no query
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    spark.range(1000).groupBy(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("id"), org.apache.spark.sql.functions.lit(7L))).count().count()
    // JIT/codegen warmup for the hot custom-expression stack (minhash /
    // shingle / jaccard): the alphabetically-early dedup queries otherwise
    // absorb the one-time compilation that belongs to no query
    try graft.operators.Dedup.minhashLshPairs(
      spark.read.parquet(s"$sfDir/documents.parquet").limit(200),
      "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16,
      tau = 0.5).count()
    catch { case _: Throwable => () }

    // a failed query must never masquerade as a fast timing: errors are
    // collected and reported in an "errors" field of the bench JSON
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    builds.filter(_._2 < 0).foreach { case (k, _) =>
      errors(s"prebuild_$k") = "store build failed; dependent queries will error"
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(120)
      }
      name -> (System.nanoTime() - t0) / 1e9
    }

    // headline metrics: full pipeline (muni joins + checksum-anchored cell
    // encode) AND the north-rule-exact pipeline, each warmed then timed.
    // Guarded like the queries: a broken doc store must cost these two
    // metrics, never the whole artifact (41 query timings + build_sec were
    // previously discarded if the headline threw after the timed loop).
    def timedPipeline(name: String, f: => (Long, Long)): (Long, Double) =
      try {
        f // warm file cache + JIT
        val t0 = System.nanoTime()
        val (n, _) = f
        (n, (System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(120)
        (0L, -1.0)
      }
    val (nDocs, headlineSec) = timedPipeline("headline", headlinePipeline(spark, sf))
    val (nNorth, northSec) = timedPipeline("north_rule", northRulePipeline(spark, sf))
    val docsPerSec = if (headlineSec > 0) nDocs / headlineSec else -1.0
    val northPerSec = if (northSec > 0) nNorth / northSec else -1.0

    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val errJson = errors.map { case (k, v) => s"${Jsons.str(k)}:${Jsons.str(v)}" }.mkString("{", ",", "}")
    val buildJson = builds.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"errors":$errJson,"build_sec":$buildJson,"sf":${Jsons.str(sfDir)},"headline_docs":$nDocs,"headline_sec":$headlineSec%.3f,"docs_per_sec":$docsPerSec%.0f,"north_docs_per_sec":$northPerSec%.0f}"""
    println(line)
    // machine-readable copy: sbt wraps stdout in [info] noise, so the driver's
    // JSON parse of the captured output can fail ("parsed": null in
    // BENCH_r03.json) — the file is the authoritative artifact. A bad output
    // path must not crash the bench AFTER all queries ran (stdout still
    // carries the line).
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_out.json")), line + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write bench artifact: ${e.getMessage}")
    }
    spark.stop()
  }
}
