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

    // the manifest holds, per region, the rows of a from-scratch run
    val directRows = direct.groupBy("region").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val regions = docs.select("region").distinct().collect().map(_.getString(0))
    assert(Lineage.manifest(spark, out, "geocode") ==
      regions.map(r => r -> directRows.getOrElse(r, 0L)).toMap)
  }

  test("a region whose transform yields ZERO rows still commits (no eternal reprocess)") {
    import spark.implicits._
    // a non-numeric, non-ASCII key that JSON and partition dir names both
    // escape
    val named = "ru:MOW \"центр\" \\ 7"
    val docs = Seq(("A1", "01", 1L), ("A2", "01", 2L), ("B1", "02", 9L), ("C1", named, 3L))
      .toDF("doc_id", "region", "v")
    val out = java.nio.file.Files.createTempDirectory("lineage_zero").toString
    // the filter stage empties region 02 entirely
    def stage(df: org.apache.spark.sql.DataFrame) = df.where(col("v") < 5)
    val first = Lineage.runResumable(spark, docs, out, "filter")(stage)
    assert(first == Set("01", "02", named))
    // 02 must carry a commit record with 0 rows, so resume is a NO-OP —
    // the pre-fix behavior reprocessed it on every run forever
    assert(Lineage.runResumable(spark, docs, out, "filter")(stage).isEmpty)
    assert(Lineage.manifest(spark, out, "filter") == Map("01" -> 2L, "02" -> 0L, named -> 1L))
    assert(spark.read.parquet(Lineage.dataPath(out, "filter"))
      .where(col("region") === named).select("doc_id").as[String].collect().toSeq == Seq("C1"))
  }

  test("a second stage tracks independently on the same output root") {
    val p = DocStore.ensure(spark, 0.0005)
    val docs = DocStore.readDf(spark, p).where(col("region").isin("03", "04"))
    val out = java.nio.file.Files.createTempDirectory("lineage2").toString
    Lineage.runResumable(spark, docs, out, "stage_a")(df => df.select("doc_id", "region"))
    assert(Lineage.manifest(spark, out, "stage_a").keySet == Set("03", "04"))
    assert(Lineage.manifest(spark, out, "stage_b").isEmpty)
  }
}
