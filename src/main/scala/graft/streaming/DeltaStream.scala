package graft.streaming

import graft.expr.gf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/**
 * Structured Streaming path (SURVEY.md §2.2 Streaming): GAR ships append-only
 * deltas keyed by CHANGEID (entity CHANGE_HISTORY, core.py:16,55); the
 * reference re-dumps from scratch per delivery — the engine instead ingests
 * the delta drops incrementally.
 *
 * readStream (file source or any streaming Dataset) -> watermarked dedupe by
 * change id -> cell-windowed aggregation / stateful per-region counters ->
 * writeStream. All operators are standard Structured Streaming shapes
 * (watermark + dropDuplicates, tumbling window agg, mapGroupsWithState), so
 * they run identically over a MemoryStream in tests and a file/kafka source
 * in production.
 */
object DeltaStream {

  /** One GAR-delta event: a document changed in a region at ts. */
  case class DocDelta(change_id: Long, region: String, doc_id: String,
      addr_text: String, ts: java.sql.Timestamp)

  case class RegionState(region: String, n_changes: Long, max_change_id: Long)

  /** The one delta schema, shared by the streaming read and the parity
    * harness's batch reads — two inline copies once desynchronized silently. */
  private val deltaDdl =
    "change_id LONG, region STRING, doc_id STRING, addr_text STRING, ts TIMESTAMP"

  /** File-source ingest of delta drops (parquet files appended to a dir). */
  def readDeltaDrops(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(deltaDdl)
      .option("maxFilesPerTrigger", 4)
      .parquet(dir)

  /** Exactly-once-per-change view: watermarked dedupe on change_id (GAR
    * deliveries can repeat a change across drops). */
  def dedupedChanges(deltas: DataFrame, watermark: String = "10 minutes"): DataFrame =
    deltas
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("change_id")

  /** Tumbling-window per-cell document change counts: the streaming analog of
    * the batch cell histogram (geocode -> res-7 cell -> windowed count). */
  def cellWindowCounts(deltas: DataFrame, windowDur: String = "1 minute",
      watermark: String = "10 minutes"): DataFrame =
    deltas
      .withWatermark("ts", watermark)
      .withColumn("lat", gf.geocode_lat(col("region"), col("addr_text")))
      .withColumn("lon", gf.geocode_lon(col("region"), col("addr_text")))
      .withColumn("cell7", gf.grid_cell(col("lat"), col("lon"), 7))
      .groupBy(window(col("ts"), windowDur), col("region"), col("cell7"))
      .agg(count(lit(1)).as("n_changes"))

  /** Custom state machine: running per-region change counter + high-water
    * change id via mapGroupsWithState. */
  def regionRunningStats(deltas: Dataset[DocDelta]): Dataset[RegionState] = {
    import deltas.sparkSession.implicits._
    deltas
      .groupByKey(_.region)
      .mapGroupsWithState[RegionState, RegionState](GroupStateTimeout.NoTimeout) {
        (region: String, rows: Iterator[DocDelta], state: GroupState[RegionState]) =>
          val prev = state.getOption.getOrElse(RegionState(region, 0L, Long.MinValue))
          var n = prev.n_changes
          var hi = prev.max_change_id
          rows.foreach { d =>
            n += 1
            if (d.change_id > hi) hi = d.change_id
          }
          val next = RegionState(region, n, hi)
          state.update(next)
          next
      }
  }

  /** Append sink into the canonical region-partitioned store. */
  def writeToStore(deltas: DataFrame, outPath: String, checkpoint: String) =
    deltas.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .partitionBy("region")
      .format("parquet")
      .option("path", outPath)

  /**
   * Streaming-vs-batch parity harness (the reference's re-dump semantics:
   * every delivery recomputes the store from scratch, CHANGE_HISTORY
   * core.py:16,55 — the engine ingests deltas incrementally instead, and the
   * two must land the IDENTICAL row set):
   * replay `drops` deterministic delta drops — re-delivering every 5th change
   * of the previous drop, byte-identical — through the full streaming path
   * (file source -> watermarked dedupe -> partitioned store sink), then
   * recompute the same store in one batch pass over the same files.
   *
   * @return (n_stream, n_batch, n_diff) where n_diff counts rows on exactly
   *         one side (multiset exceptAll, both directions) — 0 means parity.
   *
   * The fixture staging is DELIBERATELY driver-local (java.nio temp dirs):
   * this harness synthesises its own throwaway drops; the paths under test —
   * file-source read, dedupe, partitioned store sink, batch re-read — all go
   * through Spark's Hadoop-FS stack and work on HDFS/S3 unchanged.
   */
  def replayParity(spark: SparkSession, nChanges: Int = 200, drops: Int = 3): (Long, Long, Long) = {
    import spark.implicits._
    val baseTs = java.sql.Timestamp.valueOf("2021-06-01 00:00:00").getTime
    def mk(i: Int) = DocDelta(i.toLong, f"${(i % 5) * 19 + 1}%02d", f"D$i%05d",
      s"ул. Тестовая, д. $i", new java.sql.Timestamp(baseTs + i * 1000L))
    val dropSeqs = (1 to nChanges).map(mk).grouped(
      (nChanges + drops - 1) / drops).toSeq
    val withDups = dropSeqs.zipWithIndex.map { case (d, idx) =>
      if (idx == 0) d else d ++ dropSeqs(idx - 1).filter(_.change_id % 5 == 0)
    }

    val root = java.nio.file.Files.createTempDirectory("stream_parity")
    try {
      val watch = root.resolve("watch"); java.nio.file.Files.createDirectories(watch)
      for ((d, idx) <- withDups.zipWithIndex) {
        val tmp = root.resolve(s"tmp$idx").toString
        d.toDF().coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath, watch.resolve(s"drop$idx.parquet"))
      }

      val outPath = root.resolve("store").toString
      // state-store sizing (r6): dropDuplicatesWithinWatermark creates one
      // state-store instance PER shuffle partition per micro-batch, each
      // with its own delta + commit files — at the session's 32 partitions
      // that is 32 store lifecycles per batch for a 200-row fixture, pure
      // fixed overhead. Sized DOWN to the fixture on a separate session
      // (same SparkContext), so the caller's session config never changes
      // and concurrent queries on it keep their partition count: the
      // production streaming operators (dedupedChanges/writeToStore) take
      // whatever the session sets — nothing here hard-codes a local core
      // count.
      val streamSpark = spark.newSession()
      streamSpark.conf.set("spark.sql.shuffle.partitions",
        math.min(spark.conf.get("spark.sql.shuffle.partitions").toInt, 4).toString)
      val q = writeToStore(
        dedupedChanges(readDeltaDrops(streamSpark, watch.toString)),
        outPath, root.resolve("ckpt").toString).start()
      try q.processAllAvailable() finally q.stop()

      // explicit schema on BOTH reads: partition-dir inference would corrupt
      // the zero-padded region key ("01" -> 1)
      val cols = Seq("change_id", "region", "doc_id", "addr_text", "ts")
      val stream = spark.read.schema(deltaDdl).parquet(outPath)
        .select(cols.head, cols.tail: _*)
      val batch = spark.read.schema(deltaDdl).parquet(watch.toString)
        .dropDuplicates("change_id")
        .select(cols.head, cols.tail: _*)
      // multiset counts over the full row: a re-delivered change surviving
      // the watermarked dedupe surfaces as n_diff > 0 and n_stream > n_batch
      val statsJoin = graft.Parity.counts(cols, "cs" -> stream, "cb" -> batch)
        .agg(graft.Parity.size(col("cs")).as("n_stream"),
          graft.Parity.size(col("cb")).as("n_batch"),
          graft.Parity.symDiff(col("cs"), col("cb")).as("n_diff"))
      graft.PlanCapture.dump("q_stream_batch_parity_stats", statsJoin)
      val r = statsJoin.head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    } finally {
      // drops + store + checkpoint are throwaway fixtures — repeated runs
      // would otherwise accumulate unbounded temp usage on the host
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(root.toFile)
    }
  }
}
