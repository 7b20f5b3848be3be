package graft

import graft.streaming.DeltaStream
import graft.streaming.DeltaStream.DocDelta
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(minute: Int) = Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  private def delta(id: Long, region: String, minute: Int) =
    DocDelta(id, region, f"R$region-D$id%08d", s"ул. Ленина, д. ${id % 50}", ts(minute))

  test("watermarked dedupe: repeated change ids collapse to one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DocDelta]
    val q = DeltaStream.dedupedChanges(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(delta(1, "77", 0), delta(2, "77", 1), delta(1, "77", 2))
      q.processAllAvailable()
      input.addData(delta(2, "01", 3), delta(3, "01", 3))
      q.processAllAvailable()
      val got = spark.sql("select change_id from dedup_out").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("file-source delta ingest end to end: drops -> dedupe -> store") {
    import spark.implicits._
    val dropDir = java.nio.file.Files.createTempDirectory("drops").toString
    val outDir = java.nio.file.Files.createTempDirectory("store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    // two delta drops, one duplicated change id across drops
    Seq(delta(1, "77", 0), delta(2, "77", 1)).toDF()
      .write.parquet(s"$dropDir/drop1")
    Seq(delta(2, "77", 2), delta(3, "01", 2)).toDF()
      .write.parquet(s"$dropDir/drop2")
    // flatten drops into the watched dir (file source watches one dir)
    val watch = java.nio.file.Files.createTempDirectory("watch").toString
    for (d <- Seq("drop1", "drop2");
         f <- new java.io.File(s"$dropDir/$d").listFiles() if f.getName.endsWith(".parquet"))
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(watch, d + "_" + f.getName))

    val q = DeltaStream.writeToStore(
      DeltaStream.dedupedChanges(DeltaStream.readDeltaDrops(spark, watch)),
      s"$outDir/data", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val stored = spark.read.parquet(s"$outDir/data")
    assert(stored.count() == 3)
    assert(stored.select("change_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(stored.where(col("region") === "77").count() == 2)
  }

  test("streaming replay == batch recompute (reference re-dump semantics)") {
    // full e2e: deterministic drops with byte-identical re-deliveries through
    // file source -> watermarked dedupe -> partitioned store, vs one batch
    // pass over the same files — identical row multiset required.
    // The caller's session runs 8 shuffle partitions, above the harness's
    // streaming cap of 4: a listener samples the caller's setting at every
    // job start of the call, so sizing the streaming leg down on the
    // caller's own session would show up as a changed value.
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "8")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(caller.conf.get("spark.sql.shuffle.partitions"))
    }
    spark.sparkContext.addSparkListener(listener)
    val (nStream, nBatch, nDiff) =
      try DeltaStream.replayParity(caller, nChanges = 120, drops = 4)
      finally spark.sparkContext.removeSparkListener(listener)
    assert(nStream == 120L, s"stream rows: $nStream")
    assert(nBatch == 120L, s"batch rows: $nBatch")
    assert(nDiff == 0L, s"rows differing between stream and batch: $nDiff")
    assert(!seen.isEmpty && seen.asScala.forall(_ == "8"),
      s"caller's shuffle partitions seen during the call: $seen")
  }
}
