package graft.operators

import graft.FsText
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One committed version of a persisted index: the active data dirs, one
  * per part (`lists`/`lists_v<n>`, or `bands shingles`/`bands_v<n>
  * shingles_v<n>`), and the folded-batch ledger. */
private[graft] final case class Snapshot(dirs: Seq[String], folded: Set[Long]) {
  /** The active dir of `part`. */
  def apply(part: String): String =
    dirs.find(Snapshot.partOf(_) == part)
      .getOrElse(throw new NoSuchElementException(s"no part $part in $dirs"))

  /** The snapshot a compaction writes: every part at version n + 1, same
    * ledger. */
  def next: Snapshot = {
    val v = Snapshot.version.findFirstMatchIn(dirs.head).fold(0L)(_.group(1).toLong)
    copy(dirs = dirs.map(d => s"${Snapshot.partOf(d)}_v${v + 1}"))
  }
}

/**
 * The one commit protocol of the persisted indexes ([[IvfIndex]],
 * [[MinhashIndex]]), Iceberg-shaped: data dirs are immutable once a
 * snapshot names them, and `<dir>/CURRENT` is the atomic pointer to the
 * committed snapshot (line 1: the active dirs, space-separated; line 2: the
 * comma-separated folded batch ids), flipped by [[FsText.commitText]]. An
 * index is committed exactly when `CURRENT` exists:
 *
 *  - [[build]] drops `CURRENT` before touching data and commits last, so
 *    every torn build reads as uncommitted and heals by rebuild;
 *  - [[compact]] writes the next version beside the committed one and
 *    flips `CURRENT` once, so readers see the old or the new version at
 *    every instant, never a gap. The replaced version stays on disk for one
 *    more compaction (a grace period for readers that resolved the old
 *    snapshot) and is reclaimed at the start of the next one.
 *
 * `plan.txt`, `centroids.txt`, `tombstones/` and `incoming/` live at the
 * index root, outside the versioned dirs.
 */
private[graft] object Snapshot {
  private val version = "_v(\\d+)$".r
  private def partOf(name: String) = version.replaceFirstIn(name, "")
  private def current(dir: String) = new Path(dir, "CURRENT")
  private def fs(spark: SparkSession, dir: String): FileSystem =
    current(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The committed snapshot (healing a torn flip), or None. */
  def read(spark: SparkSession, dir: String): Option[Snapshot] =
    FsText.readCommitted(fs(spark, dir), current(dir)).map { body =>
      val lines = body.split("\n", -1)
      val folded = lines.lift(1).map(_.trim).filter(_.nonEmpty)
        .map(_.split(",").map(_.toLong).toSet).getOrElse(Set.empty[Long])
      Snapshot(lines(0).trim.split(" ").toSeq, folded)
    }

  /** The committed snapshot; throws on an uncommitted dir. */
  def of(spark: SparkSession, dir: String): Snapshot =
    read(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed index snapshot in $dir"))

  private def commit(spark: SparkSession, dir: String, s: Snapshot): Unit =
    FsText.commitText(fs(spark, dir), current(dir),
      s"${s.dirs.mkString(" ")}\n${s.folded.toSeq.sorted.mkString(",")}")

  /** Delete every version of `keep`'s parts that `keep` does not name. */
  private def reclaim(spark: SparkSession, dir: String, keep: Snapshot): Unit = {
    val f = fs(spark, dir)
    val parts = keep.dirs.map(partOf).toSet
    f.listStatus(new Path(dir)).map(_.getPath)
      .filter(q => parts(partOf(q.getName)) && !keep.dirs.contains(q.getName))
      .foreach(q => f.delete(q, true))
  }

  /** A full (re)build, which resets the whole lifecycle state: drop
    * `CURRENT`, let `write` overwrite the v0 `parts` dirs (and any root
    * files), delete every other version and the tombstones, then commit v0
    * with an empty ledger. The caller owns the index exclusively and runs
    * its read-only validation before calling. */
  def build(spark: SparkSession, dir: String, parts: Seq[String])(write: => Unit): Unit = {
    FsText.dropCommitted(fs(spark, dir), current(dir))
    write
    val v0 = Snapshot(parts, Set.empty)
    reclaim(spark, dir, v0)
    Tombstones.clear(spark, dir)
    commit(spark, dir, v0)
  }

  /** One compaction: reclaim the previous compaction's dirs (and partial
    * dirs of a crashed one), pin the tombstone set ([[Tombstones.snapshot]]),
    * let `rewrite` write `cur.next`'s dirs from the committed snapshot minus the
    * pinned ids and return the snapshot to commit (None: nothing to do),
    * flip `CURRENT` once, then un-retire exactly the pinned ids: an id
    * retired meanwhile was not applied and stays pending. One compactor
    * per index at a time; retires and queries may run concurrently. */
  def compact(spark: SparkSession, dir: String)(
      rewrite: (Snapshot, Option[DataFrame]) => Option[Snapshot]): Unit = {
    val cur = of(spark, dir)
    reclaim(spark, dir, cur)
    val tombs = Tombstones.snapshot(spark, dir)
    rewrite(cur, tombs).foreach { next =>
      commit(spark, dir, next)
      tombs.foreach(t => Tombstones.unretire(spark, dir, t, "id"))
    }
  }
}
