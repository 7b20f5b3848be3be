package graft

import graft.operators.{IvfIndex, MinhashIndex, Snapshot}
import graft.plans.Lineage
import graft.sources.DocStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._
import scala.concurrent.{Await, Future}

/** Crash-point matrix for the one commit protocol of the persisted indexes
  * ([[Snapshot]]: readers read exactly what `CURRENT` lists): every
  * mutation of [[MinhashIndex]], and the build of [[IvfIndex]] too, plus
  * the per-region manifest commit of the [[DocStore]] and of [[Lineage]].
  * Each crash is simulated by leaving the on-disk state that a crash at
  * that point leaves. */
class SnapshotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def current(dir: String) = new Path(dir, "CURRENT")

  /** The minhash index under test, over a corpus keyed by `tid`: `build`
    * indexes the rows matching a predicate, `prime` gives a compact work
    * (appended rows and retired victims), `probe` answers a fixed query
    * set. `late` are more ids the probe sees, `retire` retires ids and
    * `rewrite` is the index's compact rewrite, to drive [[Snapshot.compact]]
    * directly. */
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
  private val name = "MinhashIndex"
  private def all() = texts(1L to 50L)
  private val extra = $"tid" > 40
  private val victims = Seq(1L, 11L) // clones of the probe's doc 91
  private val late = Seq(21L)
  private def build(dir: String, c: DataFrame): Unit =
    MinhashIndex.build(c, "tid", "text", dir, 3, 32, 8)
  private def prime(dir: String): Unit = {
    MinhashIndex.append(spark, dir, texts(41L to 50L), "tid", "text")
    MinhashIndex.retire(spark, dir, victims.toDF("tid"), "tid")
  }
  private def compact(dir: String): Unit = MinhashIndex.compact(spark, dir)
  private def probe(dir: String): Set[Row] =
    MinhashIndex.queryNew(spark, dir, texts(Seq(91L, 92L)), "tid", "text", tau = 0.5)
      .collect().toSet
  private def ensure(sf: Double): String =
    MinhashIndex.ensure(spark, sf, "snapspec", texts(1L to 50L), "tid", "text", 3, 32, 8)
  private def retire(dir: String, ids: Seq[Long]): Unit =
    MinhashIndex.retire(spark, dir, ids.toDF("tid"), "tid")
  private def rewrite(dir: String): Snapshot => Unit = MinhashIndex.rewrite(spark, dir)

  /** Build over the base rows, then prime: a compact of this has work. */
  private def primed(tag: String): String = {
    val dir = based(tag)
    prime(dir)
    dir
  }

  /** A fresh build over exactly the rows a compact of [[primed]] keeps,
    * less `retired`. */
  private def freshBuild(tag: String, retired: Seq[Long] = Nil): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"snap_${tag}_ref").toString
    build(dir, all().where(!col("tid").isin(victims ++ retired: _*)))
    dir
  }

  /** A build over the base rows only. */
  private def based(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"snap_$tag").toString
    build(dir, all().where(!extra))
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

  test(s"$name: a torn CURRENT flip heals from the tmp and serves the pre-crash answers") {
    val dir = primed("torn")
    compact(dir)
    val committed = Snapshot.of(spark, dir)
    assert(committed.dirs.forall(_.endsWith("_v1")), committed.toString)
    val before = probe(dir)
    // the writer deleted CURRENT and crashed before renaming its tmp in
    assert(fs.rename(current(dir), new Path(dir, ".CURRENT.tmp")))
    assert(!fs.exists(current(dir)))
    assert(Snapshot.read(spark, dir).contains(committed))
    assert(fs.exists(current(dir)), "CURRENT not restored")
    assert(probe(dir) == before)
  }

  test(s"$name: a crash before the flip serves the committed version; the next compact overwrites the partial dirs") {
    val dir = primed("partial")
    val committed = Snapshot.of(spark, dir)
    val before = probe(dir)
    // the crashed compact left a few rows in each next-version dir
    committed.next.dirs.zip(committed.dirs).foreach { case (n, c) =>
      spark.read.parquet(s"$dir/$c").limit(3).write.parquet(s"$dir/$n")
    }
    assert(Snapshot.of(spark, dir) == committed)
    assert(probe(dir) == before)
    compact(dir)
    assert(Snapshot.of(spark, dir).dirs == committed.next.dirs)
    assert(probe(dir) == before)
    assert(rows(dir) == rows(freshBuild("partial")))
  }

  /** An index whose build a crash can tear: `ensure` builds it once per
    * sf, `probe` answers a fixed query set. */
  private lazy val embeddings = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select($"vec_id".as("tid"), $"embedding".as("vec"))
  private val built = Seq[(String, Double => String, String => Set[Row])](
    ("IvfIndex",
      sf => IvfIndex.ensure(spark, sf, embeddings, kCentroids = 4, kmeansIters = 0),
      dir => IvfIndex.query(spark, dir,
        embeddings.where($"tid" % 100 === 0).select($"tid".as("qid"), $"vec"), k = 3, nProbe = 4)
        .select("qid", "tid", "rn").collect().toSet),
    (name, ensure(_), probe(_)))

  for ((idxName, ensure, probe) <- built)
    test(s"$idxName: a crash mid-build leaves no CURRENT, and ensure rebuilds") {
      // a unique sf: ensure caches under target/synth/sf<sf>
      val sf = if (idxName == "IvfIndex") 0.0000031 else 0.0000032
      val dir = ensure(sf)
      val committed = Snapshot.of(spark, dir)
      val (before, n) = (probe(dir), rows(dir))
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
      intercept[IllegalStateException](probe(dir))
      assert(ensure(sf) == dir)
      assert(Snapshot.of(spark, dir) == committed)
      assert(rows(dir) == n && probe(dir) == before)
    }

  test(s"$name: a concurrent reader never sees the index uncommitted during a compact") {
    val dir = primed("avail")
    val compacting = Future(compact(dir))(scala.concurrent.ExecutionContext.global)
    var polls = 0
    while (!compacting.isCompleted) {
      assert(Snapshot.read(spark, dir).isDefined, s"uncommitted at poll $polls")
      polls += 1
    }
    Await.result(compacting, 5.minutes)
    assert(polls > 0)
    assert(Snapshot.of(spark, dir).dirs.forall(_.endsWith("_v1")))
  }

  test(s"$name: a torn retire suppresses nothing, the next compact reclaims it, and a replay applies it") {
    val dir = based("torn_retire")
    val before = probe(dir)
    // the retire wrote its tombstone file and crashed before listing it
    victims.toDF("id").coalesce(1).write.mode("append").parquet(s"$dir/tombstones")
    val torn = filesUnder(dir, "tombstones").filter(_.endsWith(".parquet"))
    assert(torn.nonEmpty && Snapshot.of(spark, dir).tombs.isEmpty)
    assert(probe(dir) == before, "an unlisted tombstone suppressed ids")
    compact(dir)
    assert(filesUnder(dir, "tombstones").isEmpty, "the torn tombstone was not reclaimed")
    assert(probe(dir) == before)
    retire(dir, victims)
    val ref = based("torn_retire_ref")
    retire(ref, victims)
    assert(probe(dir) == probe(ref) && probe(dir) != before)
  }

  test(s"$name: a retire committed during a compact's rewrite survives the flip") {
    val dir = primed("late_retire")
    val ref = primed("late_retire_ref")
    retire(ref, late)
    // the compact read its tombstones before this retire landed
    Snapshot.compact(spark, dir) { cur =>
      retire(dir, late)
      rewrite(dir)(cur)
    }
    val flipped = Snapshot.of(spark, dir)
    assert(flipped.dirs.forall(_.endsWith("_v1")) && flipped.tombs.size == 1, flipped.toString)
    assert(probe(dir) == probe(ref))
    compact(dir)
    assert(Snapshot.of(spark, dir).tombs.isEmpty)
    assert(probe(dir) == probe(ref))
    assert(rows(dir) == rows(freshBuild("late_retire", late)))
  }

  test("a two-line CURRENT reads with empty tombstone and batch lists") {
    val dir = java.nio.file.Files.createTempDirectory("snap_two_line").toString
    FsText.commitText(fs, current(dir), "lists_v2\n1,3")
    assert(Snapshot.of(spark, dir) == Snapshot(Seq("lists_v2"), Nil))
    // the four-line form (dirs, folded batch ids, tombstones, live batch
    // ids) of a minhash index with a listed tombstone reads the same dirs
    // and keeps the tombstone applied, through later commits too
    val mh = based("four_line")
    val unretired = probe(mh)
    prime(mh)
    val Snapshot(dirs, Seq(tomb)) = Snapshot.of(spark, mh)
    val retired = probe(mh)
    assert(retired != unretired &&
      !retired.exists(r => victims.contains(r.getLong(0)) || victims.contains(r.getLong(1))))
    FsText.commitText(fs, current(mh), s"${dirs.mkString(" ")}\n\n$tomb\n")
    assert(Snapshot.of(spark, mh) == Snapshot(dirs, Seq(tomb)))
    assert(probe(mh) == retired)
    retire(mh, late)
    assert(Snapshot.of(spark, mh).tombs.size == 2 && Snapshot.of(spark, mh).tombs.head == tomb)
    compact(mh)
    assert(rows(mh) == rows(freshBuild("four_line", late)))
    // an IVF index never lists tombstones: one that does is refused, not
    // served with its retired vectors
    val ivf = java.nio.file.Files.createTempDirectory("snap_ivf_tomb").toString
    IvfIndex.build(embeddings, ivf, kCentroids = 4, kmeansIters = 0)
    FsText.commitText(fs, current(ivf), s"lists\n\n$tomb\n")
    intercept[IllegalArgumentException](IvfIndex.query(spark, ivf,
      embeddings.limit(1).select($"tid".as("qid"), $"vec"), k = 3, nProbe = 4))
    // a CURRENT that lists live append batches is refused, naming the dir
    FsText.commitText(fs, current(dir), "lists_v2\n1,3\n\n4,5")
    val refused = intercept[IllegalStateException](Snapshot.read(spark, dir))
    assert(refused.getMessage.contains(dir), refused.getMessage)
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
