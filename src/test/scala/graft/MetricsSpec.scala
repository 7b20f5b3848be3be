package graft

import graft.sources.DocStore
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MET-1: exact per-stage counts via observe(). */
class MetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("observe(): exact per-stage row counts inside one plan, no extra action") {
    val p = DocStore.ensure(spark, 0.001)
    val docs = DocStore.readDf(spark, p)
    val obs = Observation("stage_docs")
    val counted = docs.observe(obs, count(lit(1)).as("rows"))
    val n = counted.where(col("region") === "77").count()
    assert(obs.get("rows").asInstanceOf[Long] == docs.count())
    assert(n > 0)
  }
}
