package graft

import graft.operators.{Dedup, MinhashIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental dedup against the persisted minhash index. */
class MinhashIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus(ids: Seq[Long]) = {
    val base = "the quick brown fox jumps over the lazy dog and keeps running onward"
    ids.map { i =>
      val text =
        if (i % 10 == 1) base // clones of each other across batches
        else if (i % 10 == 2) base.replace("dog", "cat")
        else s"unique document number $i with its own content ${i * 7919}"
      (i, text)
    }.toDF("doc_id", "text")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("queryNew == full-batch minhash pairs restricted to pairs involving a new doc") {
    val old = corpus(1L to 40L)
    val fresh = corpus(41L to 60L)
    val dir = java.nio.file.Files.createTempDirectory("mh_idx").toString
    val plan = MinhashIndex.build(old, "doc_id", "text", dir)
    assert(MinhashIndex.readPlan(spark, s"$dir/plan.txt") == plan)

    val incr = pairSet(MinhashIndex.queryNew(spark, dir, fresh, "doc_id", "text", tau = 0.5))
    val full = pairSet(Dedup.minhashLshPairs(old.unionByName(fresh), "doc_id", "text",
        shingleN = plan.shingleN, numHashes = plan.numHashes, bands = plan.bands, tau = 0.5)
      .where(col("id_a") > 40 || col("id_b") > 40))
    assert(incr == full, s"incr-only=${incr -- full} full-only=${full -- incr}")
    // cross-batch clones found (41/51 vs the old 1/11/21/31 clones)
    assert(incr.contains((1L, 41L)) && incr.contains((41L, 51L)))
    // old×old pairs never re-emitted
    assert(incr.forall { case (a, b) => a > 40 || b > 40 })
  }

  test("re-ingested id resolves to the NEW batch's text, deterministically") {
    val old = corpus(1L to 20L)
    val dir = java.nio.file.Files.createTempDirectory("mh_idx3").toString
    MinhashIndex.build(old, "doc_id", "text", dir)
    // id 5 reappears with text cloned from old doc 1: if verification used
    // the stored (unique) text for 5, the (1,5) pair would fail the exact
    // bar; the new row must win
    val reingest = corpus(Seq(5L)).withColumn("text",
      lit("the quick brown fox jumps over the lazy dog and keeps running onward"))
    val got = pairSet(MinhashIndex.queryNew(spark, dir, reingest, "doc_id", "text", tau = 0.9))
    assert(got.contains((1L, 5L)), got.toString)
    val again = pairSet(MinhashIndex.queryNew(spark, dir, reingest, "doc_id", "text", tau = 0.9))
    assert(got == again)
  }

  test("re-ingested ids with changed text verify once, with the batch's text") {
    // every 30th stored doc comes back with changed text next to a batch of
    // new docs. Each re-ingested id must verify ONCE, with the batch's
    // text: a second, stale lookup row emits its pairs twice, once with the
    // stored text's jaccard. The full-batch pairs over the superseded
    // corpus are a SUBSET only: a re-ingested id's stored (old-text) bands
    // still generate candidates, which then verify against the new text.
    val old = corpus(1L to 400L)
    val reIds = 30L to 400L by 30L
    val batch = corpus(401L to 440L).unionByName(
      corpus(reIds).withColumn("text", concat(col("text"), lit(" x"))))
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_re").toString
    val plan = MinhashIndex.build(old, "doc_id", "text", dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val incr = rows(MinhashIndex.queryNew(spark, dir, batch, "doc_id", "text", tau = 0.5))
    val inBatch = (c: org.apache.spark.sql.Column) => c > 400L || c.isin(reIds: _*)
    val full = rows(Dedup.minhashLshPairs(
        old.where(!col("doc_id").isin(reIds: _*)).unionByName(batch), "doc_id", "text",
        shingleN = plan.shingleN, numHashes = plan.numHashes, bands = plan.bands, tau = 0.5)
      .where(inBatch(col("id_a")) || inBatch(col("id_b"))))
    assert(incr.size == incr.map(r => (r._1, r._2)).distinct.size, "duplicate pairs")
    assert(full.toSet.subsetOf(incr.toSet), s"full-only=${full.toSet -- incr}")
    assert(full.exists(r => reIds.contains(r._1) || reIds.contains(r._2)))
  }

  test("maxBandSize caps degenerate stored buckets in the incremental path") {
    // 30 identical stored docs = every band a degenerate 30-doc bucket; a
    // new clone of them would otherwise emit 30 cross pairs
    val boiler = (1L to 30L).map(i => (i, "exact same boilerplate text in every document here"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_idx4").toString
    MinhashIndex.build(boiler, "doc_id", "text", dir)
    val fresh = Seq((99L, "exact same boilerplate text in every document here")).toDF("doc_id", "text")
    assert(MinhashIndex.queryNew(spark, dir, fresh, "doc_id", "text", tau = 0.9).count() == 30)
    assert(MinhashIndex.queryNew(spark, dir, fresh, "doc_id", "text", tau = 0.9,
      maxBandSize = 10).count() == 0)
  }

  test("streamDedup: micro-batches dedup against the index AND each other; pair log == batch-equivalent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val old = corpus(1L to 40L)
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_s").toString
    val pairsOut = java.nio.file.Files.createTempDirectory("mh_pairs").toString + "/log"
    MinhashIndex.build(old, "doc_id", "text", dir)

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = MinhashIndex.streamDedup(spark, dir, stream, "doc_id", "text", pairsOut, tau = 0.5)
    try {
      // batch 1: clone of old doc 1; batch 2: clone of batch 1's clone
      input.addData((41L, corpus(Seq(41L)).collect()(0).getString(1)))
      q.processAllAvailable()
      input.addData((51L, corpus(Seq(51L)).collect()(0).getString(1)))
      q.processAllAvailable()
    } finally q.stop()

    val logged = spark.read.parquet(pairsOut).select("id_a", "id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 41 paired against the prebuilt index's clones (1, 11, 21, 31); 51
    // paired against those AND the already-ingested 41 — the cross-batch
    // edge proves the index grew between micro-batches
    assert(logged.contains((1L, 41L)) && logged.contains((41L, 51L)), logged.toString)
    // the streamed pair log equals the full-batch operator restricted to
    // pairs involving a streamed doc
    val plan = MinhashIndex.readPlan(spark, s"$dir/plan.txt")
    val full = pairSet(Dedup.minhashLshPairs(
        old.unionByName(corpus(Seq(41L, 51L))), "doc_id", "text",
        shingleN = plan.shingleN, numHashes = plan.numHashes, bands = plan.bands, tau = 0.5)
      .where(col("id_a") > 40 || col("id_b") > 40))
    assert(logged == full, s"logged-only=${logged -- full} full-only=${full -- logged}")
  }

  test("retire: a tombstoned doc stops generating candidates; compact reclaims it and stays parity-equal") {
    val old = corpus(1L to 40L)
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_r").toString
    val plan = MinhashIndex.build(old, "doc_id", "text", dir)
    val fresh = corpus(Seq(41L)) // clone of 1/11/21/31
    val before = pairSet(MinhashIndex.queryNew(spark, dir, fresh, "doc_id", "text", tau = 0.5))
    assert(before.contains((1L, 41L)) && before.contains((11L, 41L)))

    // retire docs 1 and 11: immediately invisible to candidate generation
    MinhashIndex.retire(spark, dir, Seq(1L, 11L).toDF("doc_id"), "doc_id")
    val after = pairSet(MinhashIndex.queryNew(spark, dir, fresh, "doc_id", "text", tau = 0.5))
    assert(!after.exists { case (a, b) => a == 1L || a == 11L || b == 1L || b == 11L }, after.toString)
    assert(after.contains((21L, 41L)) && after.contains((31L, 41L)))

    def bytesUnder(sub: String): Long = {
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(new org.apache.hadoop.fs.Path(dir, sub)).getLength
    }
    val bandBytesBefore = bytesUnder("bands")
    // compact: rewrites minus retirees, clears tombstones, recommits marker
    MinhashIndex.compact(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "tombstones")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "_BUILT")))
    assert(bytesUnder("bands") < bandBytesBefore)
    // compacted index == a fresh build over the surviving corpus
    val compacted = pairSet(MinhashIndex.queryNew(spark, dir, fresh, "doc_id", "text", tau = 0.5))
    val freshDir = java.nio.file.Files.createTempDirectory("mh_idx_rf").toString
    MinhashIndex.build(old.where(!col("doc_id").isin(1L, 11L)), "doc_id", "text", freshDir,
      plan.shingleN, plan.numHashes, plan.bands)
    val rebuilt = pairSet(MinhashIndex.queryNew(spark, freshDir, fresh, "doc_id", "text", tau = 0.5))
    assert(compacted == rebuilt && compacted == after)
    // compact with no tombstones is a no-op
    MinhashIndex.compact(spark, dir)
    assert(pairSet(MinhashIndex.queryNew(spark, dir, fresh, "doc_id", "text", tau = 0.5)) == compacted)
  }

  test("streamDedup queries see retires too (queryNew path shared)") {
    val old = corpus(1L to 20L)
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_r2").toString
    val pairsOut = java.nio.file.Files.createTempDirectory("mh_pairs_r").toString + "/log"
    MinhashIndex.build(old, "doc_id", "text", dir)
    MinhashIndex.retire(spark, dir, Seq(11L).toDF("doc_id"), "doc_id")
    MinhashIndex.processBatch(spark, dir, corpus(Seq(41L)), 0L, "doc_id", "text",
      pairsOut, 0.5, 0)
    val logged = pairSet(MinhashIndex.readPairs(spark, pairsOut))
    assert(logged.contains((1L, 41L)) && !logged.exists(p => p._1 == 11L || p._2 == 11L))
  }

  test("re-ingesting a retired id un-retires it: later batches see its near-dups again") {
    val old = corpus(1L to 20L)
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_ur").toString
    MinhashIndex.build(old, "doc_id", "text", dir)
    MinhashIndex.retire(spark, dir, Seq(1L).toDF("doc_id"), "doc_id")
    // retired: a clone of doc 1 finds only the other clone slots (11)
    val during = pairSet(MinhashIndex.queryNew(spark, dir, corpus(Seq(41L)), "doc_id", "text", tau = 0.5))
    assert(!during.exists(p => p._1 == 1L || p._2 == 1L) && during.contains((11L, 41L)))
    // the stream re-ingests doc 1 with new content (supersedure): the
    // append must clear its tombstone, not leave it permanently invisible
    MinhashIndex.append(spark, dir,
      Seq((1L, "the quick brown fox jumps over the lazy dog and keeps running onward"))
        .toDF("doc_id", "text"), "doc_id", "text")
    val after = pairSet(MinhashIndex.queryNew(spark, dir, corpus(Seq(51L)), "doc_id", "text", tau = 0.5))
    assert(after.contains((1L, 51L)), s"re-ingested doc 1 still invisible: $after")
    // un-retiring the LAST tombstone clears the set entirely (no empty
    // parquet dir left to cost every future read its no-tombstone fast path)
    val tombDir = new org.apache.hadoop.fs.Path(dir, "tombstones")
    assert(!tombDir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(tombDir),
      "empty tombstone set should be cleared, not swapped in")
    // an id retired but NOT re-ingested stays suppressed
    MinhashIndex.retire(spark, dir, Seq(11L).toDF("doc_id"), "doc_id")
    val after2 = pairSet(MinhashIndex.queryNew(spark, dir, corpus(Seq(61L)), "doc_id", "text", tau = 0.5))
    assert(after2.contains((1L, 61L)) && !after2.exists(p => p._1 == 11L || p._2 == 11L))
  }

  test("ensure keys the cached index by the FULL plan: any knob change rebuilds") {
    val docs = corpus(1L to 20L)
    val d1 = MinhashIndex.ensure(spark, 0.000001, "keyspec", docs, "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8)
    val d2 = MinhashIndex.ensure(spark, 0.000001, "keyspec", docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 8)
    val d3 = MinhashIndex.ensure(spark, 0.000001, "keyspec", docs, "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 16)
    assert(Set(d1, d2, d3).size == 3, s"$d1 / $d2 / $d3")
    assert(MinhashIndex.readPlan(spark, s"$d1/plan.txt") == Dedup.MinhashPlan(3, 32, 8))
    assert(MinhashIndex.readPlan(spark, s"$d2/plan.txt") == Dedup.MinhashPlan(3, 64, 8))
    assert(MinhashIndex.readPlan(spark, s"$d3/plan.txt") == Dedup.MinhashPlan(3, 32, 16))
    // same knobs = cache hit (plan file mtime unchanged by a second ensure)
    assert(MinhashIndex.ensure(spark, 0.000001, "keyspec", docs, "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8) == d1)
  }

  test("replayed micro-batch leaves the pair log duplicate-free (idempotent batch sink)") {
    val old = corpus(1L to 40L)
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_x").toString
    val pairsOut = java.nio.file.Files.createTempDirectory("mh_pairs_x").toString + "/log"
    MinhashIndex.build(old, "doc_id", "text", dir)
    val batch = corpus(Seq(41L))
    MinhashIndex.processBatch(spark, dir, batch, 7L, "doc_id", "text", pairsOut, 0.5, 0)
    val once = MinhashIndex.readPairs(spark, pairsOut).collect().toSeq
    // crash-replay: foreachBatch re-delivers the same (batch, batchId)
    MinhashIndex.processBatch(spark, dir, batch, 7L, "doc_id", "text", pairsOut, 0.5, 0)
    val twice = MinhashIndex.readPairs(spark, pairsOut).collect().toSeq
    assert(twice.size == once.size && once.nonEmpty,
      s"replay duplicated pair rows: ${once.size} -> ${twice.size}")
    // the replayed append is absorbed too: a later batch still sees ONE
    // copy of 41's pairs
    MinhashIndex.processBatch(spark, dir, corpus(Seq(51L)), 8L, "doc_id", "text",
      pairsOut, 0.5, 0)
    val logged = MinhashIndex.readPairs(spark, pairsOut)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(logged.size == logged.distinct.size, "duplicate pairs after replayed append")
    assert(logged.contains((41L, 51L)))
  }

  test("compact folds crash-replay duplicate rows: index size == single-append build, results unchanged") {
    val old = corpus(1L to 40L)
    val batch = corpus(41L to 50L)
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_cd").toString
    val plan = MinhashIndex.build(old, "doc_id", "text", dir)
    // crash-replay: the same append lands twice (documented-safe for
    // results; pre-fix it was permanent storage + scan overhead)
    MinhashIndex.append(spark, dir, batch, "doc_id", "text")
    MinhashIndex.append(spark, dir, batch, "doc_id", "text")
    MinhashIndex.retire(spark, dir, Seq(3L).toDF("doc_id"), "doc_id")
    val beforeCompact = pairSet(MinhashIndex.queryNew(spark, dir, corpus(Seq(91L)),
      "doc_id", "text", tau = 0.5))
    MinhashIndex.compact(spark, dir)
    // reference: one clean build over the same surviving corpus + batch
    val refDir = java.nio.file.Files.createTempDirectory("mh_idx_cdr").toString
    MinhashIndex.build(old.where(col("doc_id") =!= 3L).unionByName(batch),
      "doc_id", "text", refDir, plan.shingleN, plan.numHashes, plan.bands)
    def rows(d: String, sub: String): Long = spark.read.parquet(s"$d/$sub").count()
    assert(rows(dir, "bands") == rows(refDir, "bands"),
      s"replay-duplicated band rows survived compact: ${rows(dir, "bands")} vs ${rows(refDir, "bands")}")
    assert(rows(dir, "shingles") == rows(refDir, "shingles"))
    val afterCompact = pairSet(MinhashIndex.queryNew(spark, dir, corpus(Seq(91L)),
      "doc_id", "text", tau = 0.5))
    assert(afterCompact == beforeCompact)
  }

  test("BatchCommit.commit returns false (not an IOException) when a concurrent caller won the rename") {
    val base = java.nio.file.Files.createTempDirectory("bc_race").toString + "/log"
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val ok = graft.operators.BatchCommit.commit(spark, base, 5L) { staging =>
      fs.mkdirs(staging)
      fs.create(new org.apache.hadoop.fs.Path(staging, "part-0")).close()
      // simulate the concurrent winner committing between our exists()
      // check and the rename: the committed dir appears, non-empty
      val committed = graft.operators.BatchCommit.committedPath(base, 5L)
      fs.mkdirs(committed)
      fs.create(new org.apache.hadoop.fs.Path(committed, "part-0")).close()
    }
    assert(!ok, "lost race must report already-committed, not throw")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(base, ".staging/5")),
      "loser's staging dir should be cleaned up")
    // the committed batch is intact
    assert(fs.exists(new org.apache.hadoop.fs.Path(base, "batch=5/part-0")))
  }

  test("empty retire is a no-op; zero-row tombstone dirs are pruned by snapshot (no permanent-rewrite trap)") {
    import graft.operators.Tombstones
    val dir = java.nio.file.Files.createTempDirectory("tomb_empty").toString
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val tombDir = new org.apache.hadoop.fs.Path(dir, "tombstones")
    // retire with zero ids must not create the dir (it would cost every
    // read its no-tombstone fast path and every compact a full rewrite)
    Tombstones.retire(spark, dir, Seq.empty[Long].toDF("doc_id"), "doc_id")
    assert(!fs.exists(tombDir))
    // a pre-guard index may still carry a zero-row dir: snapshot prunes it
    Seq.empty[Long].toDF("id").write.mode("append").parquet(tombDir.toString)
    assert(fs.exists(tombDir))
    assert(Tombstones.snapshot(spark, dir).isEmpty)
    assert(!fs.exists(tombDir), "zero-row tombstone dir should be pruned")
  }

  test("unretire removes exactly the given ids and leaves files landed after its pin untouched") {
    import graft.operators.Tombstones
    val dir = java.nio.file.Files.createTempDirectory("tomb_pin").toString
    Tombstones.retire(spark, dir, Seq(1L, 2L, 3L).toDF("doc_id"), "doc_id")
    Tombstones.retire(spark, dir, Seq(4L).toDF("doc_id"), "doc_id")
    Tombstones.unretire(spark, dir, Seq(2L, 3L).toDF("doc_id"), "doc_id")
    val left = Tombstones.read(spark, dir).collect().map(_.getLong(0)).toSet
    assert(left == Set(1L, 4L), left.toString)
    // removing the last ids restores the no-tombstone fast path (dir gone)
    Tombstones.unretire(spark, dir, Seq(1L, 4L).toDF("doc_id"), "doc_id")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "tombstones")))
  }

  test("append grows the index: a later batch dedups against both earlier ones") {
    val old = corpus(1L to 40L)
    val second = corpus(41L to 60L)
    val third = corpus(61L to 80L)
    val dir = java.nio.file.Files.createTempDirectory("mh_idx2").toString
    MinhashIndex.build(old, "doc_id", "text", dir)
    MinhashIndex.append(spark, dir, second, "doc_id", "text")
    val incr = pairSet(MinhashIndex.queryNew(spark, dir, third, "doc_id", "text", tau = 0.5))
    // third-batch clone 61 must pair with clones from BOTH earlier batches
    assert(incr.contains((1L, 61L)) && incr.contains((41L, 61L)))
    assert(incr.forall { case (a, b) => a > 60 || b > 60 })
  }
}
