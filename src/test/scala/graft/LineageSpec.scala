package graft

import graft.plans.Lineage
import graft.sources.DocStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LineageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("resumable stage: second run skips done partitions; crash-resume completes the rest") {
    val p = DocStore.ensure(spark, 0.0005)
    val docs = DocStore.readDf(spark, p)
    val out = java.nio.file.Files.createTempDirectory("lineage").toString

    def stage(df: org.apache.spark.sql.DataFrame) =
      WindowAnchors.geocodedSpans(df).select("doc_id", "region", "offset", "cell7")

    // simulate a partial run that completed only two regions before dying
    val partial = docs.where(col("region").isin("01", "02"))
    val first = Lineage.runResumable(spark, partial, out, "geocode")(stage)
    assert(first == Set("01", "02"))

    // resume over the full input: only the remaining regions are processed
    val second = Lineage.runResumable(spark, docs, out, "geocode")(stage)
    assert(!second.contains("01") && !second.contains("02"))
    assert(second.nonEmpty)

    // a third run is a no-op
    assert(Lineage.runResumable(spark, docs, out, "geocode")(stage).isEmpty)

    // the final store equals a from-scratch full run (no dup, no loss)
    val resumed = spark.read.parquet(Lineage.dataPath(out, "geocode"))
    val direct = stage(docs)
    assert(resumed.count() == direct.count())
    assert(resumed.select("doc_id", "offset").except(direct.select("doc_id", "offset")).count() == 0)

    // lineage records per-partition rows + wall time for every region
    val prog = Lineage.progress(spark, out)
    val recorded = prog.select("region").distinct().count()
    assert(recorded == docs.select("region").distinct().count())
    assert(prog.where(col("rows") <= 0 || col("wallMs") < 0).count() == 0)

    // MET-1: a task-metrics snapshot sits next to the manifest and its write
    // counter matches the stage's recorded output rows (second run's subset)
    val metricsJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Lineage.metricsPath(out, "geocode"))), "UTF-8")
    assert(metricsJson.contains("\"rowsWritten\""))
    val written = "\"rowsWritten\": (\\d+)".r.findFirstMatchIn(metricsJson).get.group(1).toLong
    val secondRunRows = prog.where(col("region").isin(second.toSeq: _*))
      .agg(sum(col("rows"))).collect()(0).getLong(0)
    assert(written == secondRunRows,
      s"listener counted $written written rows; manifest says $secondRunRows")
  }

  test("a region whose transform yields ZERO rows still commits (no eternal reprocess)") {
    import spark.implicits._
    val docs = Seq(("A1", "01", 1L), ("A2", "01", 2L), ("B1", "02", 9L))
      .toDF("doc_id", "region", "v")
    val out = java.nio.file.Files.createTempDirectory("lineage_zero").toString
    // the filter stage empties region 02 entirely
    def stage(df: org.apache.spark.sql.DataFrame) = df.where(col("v") < 5)
    val first = Lineage.runResumable(spark, docs, out, "filter")(stage)
    assert(first == Set("01", "02"))
    // 02 must carry a commit record with 0 rows, so resume is a NO-OP —
    // the pre-fix behavior reprocessed it on every run forever
    assert(Lineage.runResumable(spark, docs, out, "filter")(stage).isEmpty)
    val manifest = Lineage.progress(spark, out)
      .collect().map(r => r.getAs[String]("region") -> r.getAs[Long]("rows")).toMap
    assert(manifest == Map("01" -> 2L, "02" -> 0L))
  }

  test("torn write healed: crash between data write and commit record cannot duplicate rows") {
    val p = DocStore.ensure(spark, 0.0005)
    val docs = DocStore.readDf(spark, p)
    val out = java.nio.file.Files.createTempDirectory("lineage_torn").toString
    def stage(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "region")

    // simulate the crash window the commit protocol must survive: region 05's
    // DATA lands on disk but the process dies BEFORE record() writes the
    // manifest row (data-then-manifest ordering, Lineage.runResumable)
    stage(docs.where(col("region") === "05"))
      .write.mode("append").partitionBy("region")
      .parquet(Lineage.dataPath(out, "s"))
    assert(Lineage.doneRegions(spark, out, "s").isEmpty) // uncommitted

    // resume over the full input: the torn region is healed (deleted) and
    // reprocessed — totals equal a from-scratch run, no duplicates
    Lineage.runResumable(spark, docs, out, "s")(stage)
    val resumed = spark.read.parquet(Lineage.dataPath(out, "s"))
    assert(resumed.count() == docs.count())
    assert(resumed.where(col("region") === "05").count() ==
      docs.where(col("region") === "05").count())
  }

  test("a second stage tracks independently on the same output root") {
    val p = DocStore.ensure(spark, 0.0005)
    val docs = DocStore.readDf(spark, p).where(col("region").isin("03", "04"))
    val out = java.nio.file.Files.createTempDirectory("lineage2").toString
    Lineage.runResumable(spark, docs, out, "stage_a")(df => df.select("doc_id", "region"))
    assert(Lineage.doneRegions(spark, out, "stage_a") == Set("03", "04"))
    assert(Lineage.doneRegions(spark, out, "stage_b").isEmpty)
  }
}
