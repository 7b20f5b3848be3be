package graft.operators

import graft.FsText
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One committed version of a persisted index: the active data dirs, one
  * per part (`lists`/`lists_v<n>`, or `bands shingles`/`bands_v<n>
  * shingles_v<n>`), and the tombstone files under `tombstones/`. */
private[graft] final case class Snapshot(dirs: Seq[String], tombs: Seq[String] = Nil) {
  /** The active dir of `part`. */
  def apply(part: String): String =
    dirs.find(Snapshot.partOf(_) == part)
      .getOrElse(throw new NoSuchElementException(s"no part $part in $dirs"))

  /** The snapshot a compaction writes: every part at version n + 1. */
  def next: Snapshot = {
    val v = Snapshot.version.findFirstMatchIn(dirs.head).fold(0L)(_.group(1).toLong)
    copy(dirs = dirs.map(d => s"${Snapshot.partOf(d)}_v${v + 1}"))
  }
}

/**
 * The one commit protocol of the persisted indexes ([[IvfIndex]] and
 * [[MinhashIndex]]), Iceberg-shaped: readers read exactly the files that
 * the committed snapshot lists, and `<dir>/CURRENT` is the atomic pointer
 * to it, flipped by [[FsText.commitText]]. `CURRENT` lists the active dirs
 * (space-separated) on line 1 and the tombstone file names
 * (space-separated) on line 3; line 2 is blank. Earlier releases wrote a
 * batch ledger on line 2, which reads as nothing, and live append batches
 * on line 4: a `CURRENT` that lists any is refused, since their rows live
 * nowhere else.
 *
 * The mutations are [[build]], [[retire]]/[[unretire]] and [[compact]];
 * IVF only builds, and [[MinhashIndex]] uses all of them. Each takes the
 * same two steps: write files that no snapshot lists, then one
 * read-modify-write of `CURRENT` ([[update]]). A crash in between leaves
 * files that no reader sees, and [[reclaim]] deletes them:
 *
 *  - [[build]] drops `CURRENT` before touching data and commits last, so
 *    every torn build reads as uncommitted and heals by rebuild;
 *  - [[compact]] writes the next version beside the committed one and
 *    flips `CURRENT` once, so readers see the old or the new version at
 *    every instant. What the flip unlists stays on disk until the next
 *    compact starts: a grace period for readers that resolved the old
 *    snapshot.
 *
 * Concurrency contract:
 *  - one writing driver per index, as [[FsText.commitText]] requires of
 *    `CURRENT`;
 *  - any thread of that driver may retire or query: a mutation writes and
 *    commits under the index's driver-side lock, and readers take no lock;
 *  - one compactor at a time. It holds the lock for its reclaim and its
 *    flip only, and the flip unlists exactly the tombstones that the
 *    compact read when it started, so a retire committed during its
 *    rewrite survives it.
 *
 * `plan.txt` and `centroids.txt` live at the index root, outside the
 * versioned dirs.
 */
private[graft] object Snapshot {
  private val version = "_v(\\d+)$".r
  private def partOf(name: String) = version.replaceFirstIn(name, "")
  private def current(dir: String) = new Path(dir, "CURRENT")
  private def fs(spark: SparkSession, dir: String): FileSystem =
    current(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def locked[T](spark: SparkSession, dir: String)(body: => T): T =
    locks.computeIfAbsent(fs(spark, dir).makeQualified(new Path(dir)).toString,
      _ => new Object).synchronized(body)

  /** The committed snapshot (healing a torn flip), or None. */
  def read(spark: SparkSession, dir: String): Option[Snapshot] =
    FsText.readCommitted(fs(spark, dir), current(dir)).map { body =>
      val lines = body.split("\n", -1).map(_.trim)
      def names(i: Int) = lines.lift(i).toSeq.flatMap(_.split(" ")).filter(_.nonEmpty)
      if (lines.lift(3).exists(_.nonEmpty))
        throw new IllegalStateException(s"$dir/CURRENT lists live append batches " +
          s"(${lines(3)}), which this release no longer reads: build the index again")
      Snapshot(names(0), names(2))
    }

  /** The committed snapshot; throws on an uncommitted dir. */
  def of(spark: SparkSession, dir: String): Snapshot =
    read(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed index snapshot in $dir"))

  private def commit(spark: SparkSession, dir: String, s: Snapshot): Unit =
    FsText.commitText(fs(spark, dir), current(dir),
      Seq(s.dirs.mkString(" "), "", s.tombs.mkString(" ")).mkString("\n"))

  /** The one mutation step: under the index's lock, `f` gets the committed
    * snapshot (mutating an uncommitted index throws), writes files it does
    * not list and returns the snapshot that lists them, which is then
    * committed. None commits nothing. */
  private def update(spark: SparkSession, dir: String)(
      f: Snapshot => Option[Snapshot]): Unit = locked(spark, dir) {
    f(of(spark, dir)).foreach(commit(spark, dir, _))
  }

  /** Delete whatever `keep` does not list: other versions of its parts and
    * tombstone files, including the partial files of a crashed write. */
  private def reclaim(spark: SparkSession, dir: String, keep: Snapshot): Unit = {
    val f = fs(spark, dir)
    def sweep(sub: Path, listed: String => Boolean): Unit =
      if (f.exists(sub)) f.listStatus(sub).map(_.getPath).filterNot(q => listed(q.getName))
        .foreach(f.delete(_, true))
    val parts = keep.dirs.map(partOf).toSet
    sweep(new Path(dir), n => !parts(partOf(n)) || keep.dirs.contains(n))
    sweep(new Path(dir, "tombstones"), keep.tombs.contains)
  }

  /** A full (re)build, which resets the whole lifecycle state: drop
    * `CURRENT`, let `write` overwrite the v0 `parts` dirs (and any root
    * files), reclaim every other version and tombstone, then commit v0
    * with no tombstones. The caller owns the index exclusively and runs
    * its read-only validation before calling. */
  def build(spark: SparkSession, dir: String, parts: Seq[String])(write: => Unit): Unit =
    locked(spark, dir) {
      FsText.dropCommitted(fs(spark, dir), current(dir))
      write
      val v0 = Snapshot(parts)
      reclaim(spark, dir, v0)
      commit(spark, dir, v0)
    }

  /** One compaction: reclaim what the committed snapshot does not list,
    * let `rewrite` write its `next` dirs from the committed snapshot minus
    * its listed tombstones ([[minus]]), then flip `CURRENT` once to the
    * new dirs, unlisting exactly the tombstones read here. A no-op when
    * none is listed. */
  def compact(spark: SparkSession, dir: String)(rewrite: Snapshot => Unit): Unit = {
    val cur = locked(spark, dir) {
      val s = of(spark, dir)
      reclaim(spark, dir, s)
      s
    }
    if (cur.tombs.isEmpty) return
    rewrite(cur)
    update(spark, dir)(s => Some(Snapshot(cur.next.dirs, s.tombs.filterNot(cur.tombs.contains))))
  }

  // ------------------------------------------------------------ tombstones

  private val tombSchema = StructType(Seq(StructField("id", LongType, nullable = false)))

  /** The ids that `s` lists as retired, or None when it lists none. */
  def tombstones(spark: SparkSession, dir: String, s: Snapshot): Option[DataFrame] =
    if (s.tombs.isEmpty) None
    else Some(spark.read.schema(tombSchema).parquet(s.tombs.map(t => s"$dir/tombstones/$t"): _*))

  /** `df` minus the ids that `s` lists as retired (matching on `idCol`);
    * the exact original plan when it lists none. */
  def minus(spark: SparkSession, dir: String, s: Snapshot, df: DataFrame,
      idCol: String): DataFrame =
    tombstones(spark, dir, s).fold(df)(t =>
      df.join(t.select(col("id").as(idCol)), Seq(idCol), "left_anti"))

  /** Write `ids` as one parquet file directly under `tombstones/`, listed
    * by no snapshot yet; returns its name. */
  private def writeTombstone(spark: SparkSession, dir: String, ids: DataFrame): String = {
    val name = s"${java.util.UUID.randomUUID()}.parquet"
    val staging = new Path(dir, s"tombstones/.$name")
    ids.coalesce(1).write.parquet(staging.toString)
    val f = fs(spark, dir)
    val part = f.listStatus(staging).map(_.getPath).filter(_.getName.endsWith(".parquet"))
    if (part.length != 1 || !f.rename(part(0), new Path(dir, s"tombstones/$name")))
      throw new java.io.IOException(s"could not write tombstone $name in $dir")
    f.delete(staging, true)
    name
  }

  /** Retire ids: write them as one tombstone file and list it. Duplicate
    * ids are harmless (anti-join semantics); a zero-row retire writes and
    * commits nothing. */
  def retire(spark: SparkSession, dir: String, ids: DataFrame, idCol: String): Unit = {
    val longIds = ids.select(col(idCol).cast("long").as("id")).distinct()
    update(spark, dir) { s =>
      if (longIds.isEmpty) None
      else Some(s.copy(tombs = s.tombs :+ writeTombstone(spark, dir, longIds)))
    }
  }

  /** Un-retire `ids` (a long `id` column): when the listed tombstones hold
    * any of them, write the rest as one new file and list it in place of
    * every listed one. One probe job decides both whether and what. */
  def unretire(spark: SparkSession, dir: String, ids: DataFrame): Unit =
    update(spark, dir) { s =>
      tombstones(spark, dir, s).flatMap { t =>
        val st = t.join(ids.distinct().withColumn("x", lit(1)), Seq("id"), "left_outer")
          .agg(count(lit(1)), count(col("x"))).head()
        val (total, overlap) = (st.getLong(0), st.getLong(1))
        if (overlap == 0) None
        else Some(s.copy(tombs =
          if (overlap == total) Nil
          else Seq(writeTombstone(spark, dir, t.join(ids, Seq("id"), "left_anti")))))
      }
    }
}
