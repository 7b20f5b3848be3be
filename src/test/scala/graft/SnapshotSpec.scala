package graft

import graft.operators.{IvfIndex, MinhashIndex, Snapshot}
import graft.plans.Lineage
import graft.sources.DocStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._
import scala.concurrent.{Await, Future}

/** Crash-point matrix for the one commit protocol of the persisted indexes
  * ([[Snapshot]]: readers read exactly what `CURRENT` lists), run over both
  * [[IvfIndex]] and [[MinhashIndex]] and the minhash pair log, plus the per-region
  * manifest commit of the [[DocStore]] and of [[Lineage]]. Each crash is
  * simulated by leaving the on-disk state that a crash at that point
  * leaves. */
class SnapshotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def current(dir: String) = new Path(dir, "CURRENT")

  /** One index under test, over a corpus keyed by `tid`: `build` indexes
    * the rows matching a predicate, `prime` gives a compact work (appended
    * rows and retired victims), `probe` answers a fixed query set. `late`
    * are more ids the probe sees, `retire` retires ids and `rewrite` is
    * the index's compact rewrite, to drive [[Snapshot.compact]] directly. */
  private case class Idx(name: String, all: () => DataFrame, extra: Column,
      victims: Seq[Long], build: (String, DataFrame) => Unit, prime: String => Unit,
      compact: String => Unit, probe: String => Set[Row], ensure: Double => String,
      late: Seq[Long], retire: (String, Seq[Long]) => Unit,
      rewrite: String => Snapshot => Unit)

  private lazy val embeddings = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select($"vec_id".as("tid"), $"embedding".as("vec"))
  private val ivfVictims = Seq(100L, 200L) // queries' own vectors: their top-1 answers

  private val ivf = Idx("IvfIndex", () => embeddings, $"tid" % 3 === 0, ivfVictims,
    build = (dir, c) => IvfIndex.build(c, dir, kCentroids = 4, kmeansIters = 0),
    prime = { dir =>
      IvfIndex.append(spark, dir, embeddings.where($"tid" % 3 === 0), batchId = 1L)
      IvfIndex.retire(spark, dir, ivfVictims.toDF("tid"), "tid")
    },
    compact = dir => IvfIndex.compact(spark, dir),
    probe = dir => IvfIndex.query(spark, dir,
      embeddings.where($"tid" % 100 === 0).select($"tid".as("qid"), $"vec"), k = 3, nProbe = 4)
      .select("qid", "tid", "rn").collect().toSet,
    ensure = sf => IvfIndex.ensure(spark, sf, embeddings, kCentroids = 4, kmeansIters = 0),
    late = Seq(300L),
    retire = (dir, ids) => IvfIndex.retire(spark, dir, ids.toDF("tid"), "tid"),
    rewrite = dir => IvfIndex.rewrite(spark, dir))

  private def texts(ids: Seq[Long]) = {
    val base = "the quick brown fox jumps over the lazy dog and keeps running onward"
    ids.map { i =>
      val text =
        if (i % 10 == 1) base
        else if (i % 10 == 2) base.replace("dog", "cat")
        else s"unique document number $i with its own content ${i * 7919}"
      (i, text)
    }.toDF("tid", "text")
  }
  private val mhVictims = Seq(1L, 11L) // clones of the probe's doc 91

  private val minhash = Idx("MinhashIndex", () => texts(1L to 50L), $"tid" > 40, mhVictims,
    build = (dir, c) => MinhashIndex.build(c, "tid", "text", dir, 3, 32, 8),
    prime = { dir =>
      MinhashIndex.append(spark, dir, texts(41L to 50L), "tid", "text")
      MinhashIndex.retire(spark, dir, mhVictims.toDF("tid"), "tid")
    },
    compact = dir => MinhashIndex.compact(spark, dir),
    probe = dir => MinhashIndex.queryNew(spark, dir, texts(Seq(91L, 92L)), "tid", "text",
      tau = 0.5).collect().toSet,
    ensure = sf => MinhashIndex.ensure(spark, sf, "snapspec", texts(1L to 50L), "tid", "text",
      3, 32, 8),
    late = Seq(21L),
    retire = (dir, ids) => MinhashIndex.retire(spark, dir, ids.toDF("tid"), "tid"),
    rewrite = dir => MinhashIndex.rewrite(spark, dir))

  /** Build over the base rows, then prime: a compact of this has work. */
  private def primed(idx: Idx, tag: String): String = {
    val dir = based(idx, tag)
    idx.prime(dir)
    dir
  }

  /** A fresh build over exactly the rows a compact of [[primed]] keeps,
    * less `retired`. */
  private def freshBuild(idx: Idx, tag: String, retired: Seq[Long] = Nil): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"snap_${tag}_ref").toString
    idx.build(dir, idx.all().where(!col("tid").isin(idx.victims ++ retired: _*)))
    dir
  }

  /** A build over the base rows only. */
  private def based(idx: Idx, tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"snap_$tag").toString
    idx.build(dir, idx.all().where(!idx.extra))
    dir
  }

  /** The files (not dirs) directly under `dir/sub`. */
  private def filesUnder(dir: String, sub: String): Seq[String] = {
    val p = new Path(dir, sub)
    if (!fs.exists(p)) Nil else fs.listStatus(p).filter(_.isFile).map(_.getPath.getName).toSeq
  }

  /** Row counts of the committed snapshot's dirs, part by part. */
  private def rows(dir: String): Seq[Long] =
    Snapshot.of(spark, dir).dirs.map(d => spark.read.parquet(s"$dir/$d").count())

  for (idx <- Seq(ivf, minhash)) {
    test(s"${idx.name}: a torn CURRENT flip heals from the tmp and serves the pre-crash answers") {
      val dir = primed(idx, "torn")
      idx.compact(dir)
      val committed = Snapshot.of(spark, dir)
      assert(committed.dirs.forall(_.endsWith("_v1")), committed.toString)
      val before = idx.probe(dir)
      // the writer deleted CURRENT and crashed before renaming its tmp in
      assert(fs.rename(current(dir), new Path(dir, ".CURRENT.tmp")))
      assert(!fs.exists(current(dir)))
      assert(Snapshot.read(spark, dir).contains(committed))
      assert(fs.exists(current(dir)), "CURRENT not restored")
      assert(idx.probe(dir) == before)
    }

    test(s"${idx.name}: a crash before the flip serves the committed version; the next compact overwrites the partial dirs") {
      val dir = primed(idx, "partial")
      val committed = Snapshot.of(spark, dir)
      val before = idx.probe(dir)
      // the crashed compact left a few rows in each next-version dir
      committed.next.dirs.zip(committed.dirs).foreach { case (n, c) =>
        spark.read.parquet(s"$dir/$c").limit(3).write.parquet(s"$dir/$n")
      }
      assert(Snapshot.of(spark, dir) == committed)
      assert(idx.probe(dir) == before)
      idx.compact(dir)
      assert(Snapshot.of(spark, dir).dirs == committed.next.dirs)
      assert(idx.probe(dir) == before)
      assert(rows(dir) == rows(freshBuild(idx, "partial")))
    }

    test(s"${idx.name}: a crash mid-build leaves no CURRENT, and ensure rebuilds") {
      // a unique sf: ensure caches under target/synth/sf<sf>
      val sf = if (idx eq ivf) 0.0000031 else 0.0000032
      val dir = idx.ensure(sf)
      val committed = Snapshot.of(spark, dir)
      val (before, n) = (idx.probe(dir), rows(dir))
      // the build dropped CURRENT and crashed with half of its data written
      fs.delete(current(dir), false)
      committed.dirs.foreach { d =>
        val files = fs.listFiles(new Path(dir, d), true)
        Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
          .filter(_.getName.endsWith(".parquet")).zipWithIndex
          .collect { case (f, i) if i % 2 == 0 => f }.toList
          .foreach(f => fs.delete(f, false))
      }
      assert(Snapshot.read(spark, dir).isEmpty)
      intercept[IllegalStateException](idx.probe(dir))
      assert(idx.ensure(sf) == dir)
      assert(Snapshot.of(spark, dir) == committed)
      assert(rows(dir) == n && idx.probe(dir) == before)
    }

    test(s"${idx.name}: a concurrent reader never sees the index uncommitted during a compact") {
      val dir = primed(idx, "avail")
      val compacting = Future(idx.compact(dir))(scala.concurrent.ExecutionContext.global)
      var polls = 0
      while (!compacting.isCompleted) {
        assert(Snapshot.read(spark, dir).isDefined, s"uncommitted at poll $polls")
        polls += 1
      }
      Await.result(compacting, 5.minutes)
      assert(polls > 0)
      assert(Snapshot.of(spark, dir).dirs.forall(_.endsWith("_v1")))
    }

    test(s"${idx.name}: a torn retire suppresses nothing, the next compact reclaims it, and a replay applies it") {
      val dir = based(idx, "torn_retire")
      val before = idx.probe(dir)
      // the retire wrote its tombstone file and crashed before listing it
      idx.victims.toDF("id").coalesce(1).write.mode("append").parquet(s"$dir/tombstones")
      val torn = filesUnder(dir, "tombstones").filter(_.endsWith(".parquet"))
      assert(torn.nonEmpty && Snapshot.of(spark, dir).tombs.isEmpty)
      assert(idx.probe(dir) == before, "an unlisted tombstone suppressed ids")
      idx.compact(dir)
      assert(filesUnder(dir, "tombstones").isEmpty, "the torn tombstone was not reclaimed")
      assert(idx.probe(dir) == before)
      idx.retire(dir, idx.victims)
      val ref = based(idx, "torn_retire_ref")
      idx.retire(ref, idx.victims)
      assert(idx.probe(dir) == idx.probe(ref) && idx.probe(dir) != before)
    }

    test(s"${idx.name}: a retire committed during a compact's rewrite survives the flip") {
      val dir = primed(idx, "late_retire")
      val ref = primed(idx, "late_retire_ref")
      idx.retire(ref, idx.late)
      // the compact read its tombstones before this retire landed
      Snapshot.compact(spark, dir) { cur =>
        idx.retire(dir, idx.late)
        idx.rewrite(dir)(cur)
      }
      val flipped = Snapshot.of(spark, dir)
      assert(flipped.dirs.forall(_.endsWith("_v1")) && flipped.tombs.size == 1, flipped.toString)
      assert(idx.probe(dir) == idx.probe(ref))
      idx.compact(dir)
      assert(Snapshot.of(spark, dir).tombs.isEmpty)
      assert(idx.probe(dir) == idx.probe(ref))
      assert(rows(dir) == rows(freshBuild(idx, "late_retire", idx.late)))
    }
  }

  test("a two-line CURRENT reads with empty tombstone and batch lists") {
    val dir = java.nio.file.Files.createTempDirectory("snap_two_line").toString
    FsText.commitText(fs, current(dir), "lists_v2\n1,3")
    assert(Snapshot.of(spark, dir) == Snapshot(Seq("lists_v2"), Set(1L, 3L), Nil, Nil))
  }

  test("IvfIndex: a torn append is invisible, and a replay lists it once") {
    val dir = based(ivf, "torn_append")
    val before = ivf.probe(dir)
    val batch = embeddings.where(ivf.extra)
    // the append wrote part of its batch dir and crashed before listing it
    spark.read.parquet(s"$dir/lists").limit(5)
      .write.parquet(Snapshot.batchPath(dir, 1L))
    assert(Snapshot.of(spark, dir).batches.isEmpty)
    assert(ivf.probe(dir) == before, "an unlisted batch was served")
    IvfIndex.append(spark, dir, batch, batchId = 1L)
    IvfIndex.append(spark, dir, batch, batchId = 1L)
    assert(Snapshot.of(spark, dir).batches == Seq(1L))
    assert(spark.read.parquet(Snapshot.batchPath(dir, 1L)).count() == batch.count())
    val ref = based(ivf, "torn_append_ref")
    IvfIndex.append(spark, ref, batch, batchId = 1L)
    assert(ivf.probe(dir) == ivf.probe(ref) && ivf.probe(dir) != before)
  }

  test("IvfIndex: two concurrent appends of one batchId list it once") {
    val (dir, one) = (based(ivf, "race"), based(ivf, "race_ref"))
    val batch = embeddings.where(ivf.extra)
    IvfIndex.append(spark, one, batch, batchId = 1L)
    val racing = Seq.fill(2)(Future(IvfIndex.append(spark, dir, batch, batchId = 1L))(
      scala.concurrent.ExecutionContext.global))
    racing.foreach(Await.result(_, 5.minutes))
    assert(Snapshot.of(spark, dir).batches == Seq(1L))
    assert(spark.read.parquet(s"$dir/incoming").count() == batch.count())
    assert(ivf.probe(dir) == ivf.probe(one))
  }

  test("MinhashIndex: a torn pair-log commit replays without duplicate pairs") {
    val (dir, ref) = (based(minhash, "torn_pairs"), based(minhash, "torn_pairs_ref"))
    val Seq(log, refLog) = Seq("pairs", "pairs_ref")
      .map(t => java.nio.file.Files.createTempDirectory(t).toString + "/log")
    val batch = texts(Seq(91L, 92L))
    MinhashIndex.processBatch(spark, ref, batch, 7L, "tid", "text", refLog, 0.5, 0)
    // the batch wrote its pairs (twice over) and crashed before listing them
    for (_ <- 1 to 2) MinhashIndex.queryNew(spark, dir, batch, "tid", "text", tau = 0.5)
      .write.mode("append").parquet(Snapshot.batchPath(log, 7L))
    assert(MinhashIndex.readPairs(spark, log).isEmpty)
    MinhashIndex.processBatch(spark, dir, batch, 7L, "tid", "text", log, 0.5, 0)
    MinhashIndex.processBatch(spark, dir, batch, 7L, "tid", "text", log, 0.5, 0)
    val (got, want) = (MinhashIndex.readPairs(spark, log).collect().toSeq,
      MinhashIndex.readPairs(spark, refLog).collect().toSeq)
    assert(got.nonEmpty && got.sortBy(_.toString) == want.sortBy(_.toString))
  }

  test("DocStore: a torn manifest commit heals without regenerating; data with no manifest regenerates") {
    val sf = 0.0000033
    val p = DocStore.ensure(spark, sf)
    val manifest = DocStore.committedCounts(spark, p).get
    val mp = new Path(p, "_manifest.json")
    // a sentinel in the store dir: it survives iff the store is not regenerated
    val sentinel = new Path(p, "_sentinel")
    fs.create(sentinel, true).close()
    // the writer deleted the manifest and crashed before renaming its tmp
    // in; no _SUCCESS either (never written under
    // mapreduce.fileoutputcommitter.marksuccessfuljobs=false)
    assert(fs.rename(mp, new Path(p, "._manifest.json.tmp")))
    fs.delete(new Path(p, "_SUCCESS"), false)
    assert(DocStore.ensure(spark, sf) == p)
    assert(fs.exists(sentinel), "a torn manifest regenerated the store")
    assert(fs.exists(mp) && DocStore.committedCounts(spark, p).contains(manifest))
    // data with no committed manifest: regenerated, never served
    fs.delete(mp, false)
    DocStore.ensure(spark, sf)
    assert(!fs.exists(sentinel), "a store without a manifest was served")
    assert(DocStore.committedCounts(spark, p).contains(manifest))
  }

  private def lineageDocs = DocStore.readDf(spark, DocStore.ensure(spark, 0.0005))
  private def ids(df: DataFrame) = df.select("doc_id", "region")

  /** The parquet files under a stage's data dir. */
  private def dataFiles(dir: String): Set[String] = {
    val files = fs.listFiles(new Path(dir), true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath.toString)
      .filter(_.endsWith(".parquet")).toSet
  }

  test("Lineage: a torn manifest commit heals, re-runs nothing and deletes no committed region") {
    val docs = lineageDocs
    val out = java.nio.file.Files.createTempDirectory("lineage_torn_manifest").toString
    val dir = Lineage.dataPath(out, "s")
    assert(Lineage.runResumable(spark, docs, out, "s")(ids).nonEmpty)
    val (manifest, files) = (Lineage.manifest(spark, out, "s"), dataFiles(dir))
    // the writer deleted the manifest and crashed before renaming its tmp in
    val mp = new Path(dir, "_manifest.json")
    assert(fs.rename(mp, new Path(dir, "._manifest.json.tmp")))
    assert(Lineage.runResumable(spark, docs, out, "s")(ids).isEmpty)
    assert(fs.exists(mp) && Lineage.manifest(spark, out, "s") == manifest)
    assert(dataFiles(dir) == files, "a committed region was deleted or rewritten")
    assert(spark.read.parquet(dir).count() == docs.count())
  }

  test("Lineage: region data with no manifest entry is deleted and re-run once, no duplicate rows") {
    val docs = lineageDocs
    val out = java.nio.file.Files.createTempDirectory("lineage_torn_write").toString
    val dir = Lineage.dataPath(out, "s")
    assert(Lineage.runResumable(spark, docs.where(col("region").isin("01", "02")), out, "s")(ids) ==
      Set("01", "02"))
    // region 05's data landed, and the run died before its manifest commit
    ids(docs.where(col("region") === "05"))
      .write.mode("append").partitionBy("region").parquet(dir)
    val torn = dataFiles(dir).filter(_.contains("/region=05/"))
    assert(torn.nonEmpty && !Lineage.manifest(spark, out, "s").contains("05"))
    val rerun = Lineage.runResumable(spark, docs, out, "s")(ids)
    assert(rerun.contains("05") && !rerun.contains("01") && !rerun.contains("02"))
    assert(dataFiles(dir).intersect(torn).isEmpty, "the torn region's files were served")
    assert(Lineage.runResumable(spark, docs, out, "s")(ids).isEmpty)
    val resumed = spark.read.parquet(dir)
    assert(resumed.count() == docs.count())
    assert(resumed.select("doc_id").distinct().count() == docs.count())
    assert(resumed.where(col("region") === "05").count() ==
      docs.where(col("region") === "05").count())
  }
}
