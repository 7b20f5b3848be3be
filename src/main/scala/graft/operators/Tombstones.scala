package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Shared tombstone set for persisted indexes ([[MinhashIndex]], [[IvfIndex]]):
 * retired ids live as parquet files under `<dir>/tombstones` (long ids,
 * duplicates harmless) and are anti-joined out of reads until a compaction
 * rewrites the store. One audited copy of the protocol — like
 * [[StoreMarker]], the crash-ordering rules must not fork per index type.
 *
 * The set is APPEND-ONLY plus pinned-file removal — there is no
 * whole-directory swap anywhere, which is what makes concurrent
 * retire-vs-unretire safe (round-6 review): [[retire]] only ever adds new
 * files; [[unretire]] lists the files present NOW (the pin), lands the
 * remaining rows as fresh files, then deletes exactly the pinned files — a
 * retire landing at any point during that sequence adds a file the
 * un-retire never touches. Crash at any point leaves a SUPERSET of the
 * correct set (duplicates and not-yet-removed ids), which anti-join
 * semantics absorb and the caller's replay completes — never a moment
 * where a still-retired id is unsuppressed.
 */
private[graft] object Tombstones {

  private val schema = StructType(Seq(StructField("id", LongType, nullable = false)))

  private def paths(dir: String) = (
    new Path(dir, "tombstones"),
    new Path(dir, ".tombstones_old"),
    new Path(dir, ".tombstones_new"))

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(schema).parquet(s"$dir/tombstones")

  /** Append retired ids (idempotent — anti-join semantics absorb dups).
    * Heals any torn legacy swap FIRST: appending into a fresh dir while the
    * real set sat parked in staging would make the next resolve() discard
    * every previously retired id. A zero-row input is a no-op: an
    * empty-but-present tombstone dir would cost every future read its
    * no-tombstone fast path and every compact a pointless full rewrite. */
  def retire(spark: SparkSession, dir: String, ids: DataFrame, idCol: String): Unit = {
    resolve(spark, dir)
    val longIds = ids.select(col(idCol).cast("long").as("id")).distinct()
    if (longIds.isEmpty) return
    longIds.write.mode("append").parquet(s"$dir/tombstones")
  }

  /** Resolve the tombstone dir, healing any torn LEGACY un-retire swap
    * first (pre-r6 indexes could crash between park renames; the current
    * protocol never parks, but an old index may carry the state). Returns
    * None when the store has no tombstones. Heal renames are CHECKED: on
    * object stores a rename can fail by returning false, and proceeding
    * would delete the only surviving tombstone copy below — silently
    * serving retired (taken-down) documents again. */
  def resolve(spark: SparkSession, dir: String): Option[Path] = {
    val (tomb, oldP, newP) = paths(dir)
    val fs = tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tomb)) {
      if (fs.exists(newP)) {
        if (!fs.rename(newP, tomb))
          throw new java.io.IOException(s"tombstone heal: could not restore $newP in $dir")
      } else if (fs.exists(oldP)) {
        if (!fs.rename(oldP, tomb))
          throw new java.io.IOException(s"tombstone heal: could not restore $oldP in $dir")
      }
    }
    if (fs.exists(oldP)) fs.delete(oldP, true)
    if (fs.exists(newP)) fs.delete(newP, true)
    if (fs.exists(tomb)) Some(tomb) else None
  }

  private def pinnedFiles(fs: FileSystem, tomb: Path): Array[Path] =
    fs.listStatus(tomb).filter(_.isFile).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))

  /** PINNED snapshot of the current tombstone set: resolves the dir, then
    * reads exactly the parquet files present at this instant — ids retired
    * concurrently AFTER the snapshot never appear in it. compact() needs
    * this pinning: it must remove from the live set only the ids it
    * actually applied to the rewrite, or a retire landing mid-compact is
    * silently cleared without ever being applied (round-5 ADVICE #1).
    * Self-healing: a dir holding only zero-row files (possible from
    * pre-guard empty retires) suppresses nothing — its files are pruned
    * and None is returned, so compacts cannot be trapped in a
    * rewrite-everything-every-time state (round-6 review). None when the
    * store has no (effective) tombstones. */
  def snapshot(spark: SparkSession, dir: String): Option[DataFrame] =
    resolve(spark, dir).flatMap { tomb =>
      val fs = tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = pinnedFiles(fs, tomb)
      if (files.isEmpty) {
        removeDirIfEmpty(fs, tomb)
        None
      } else {
        val df = spark.read.schema(schema)
          .parquet(files.map(_.toString).toIndexedSeq: _*)
        if (df.isEmpty) {
          files.foreach(p => fs.delete(p, false))
          removeDirIfEmpty(fs, tomb)
          None
        } else Some(df)
      }
    }

  /** Anti-join the tombstone set out of `df` (matching on `idCol`) when one
    * exists; the common no-tombstone case keeps the exact original plan
    * (driver-side FS checks only). */
  def minus(spark: SparkSession, dir: String, df: DataFrame, idCol: String): DataFrame =
    resolve(spark, dir) match {
      case Some(_) =>
        df.join(read(spark, dir).select(col("id").as(idCol)), Seq(idCol), "left_anti")
      case None => df
    }

  /** Remove `ids` from the tombstone set (no-op without tombstones or
    * overlap) via the pinned-file protocol — see the object scaladoc:
    * remaining rows land as NEW files first, then exactly the pinned files
    * are deleted, so a concurrent retire's file is never touched and a
    * crash at any point leaves a conservative superset.
    *
    * One caller per index at a time: unretire (and the compacts that call
    * it) stages into the fixed `<dir>/.unretire_tmp` and deletes any
    * existing one at entry, so two concurrent callers on one index would
    * delete each other's in-flight staging. Only retire may run
    * concurrently with it. */
  def unretire(spark: SparkSession, dir: String, ids: DataFrame, idCol: String): Unit = {
    val tomb = resolve(spark, dir).getOrElse(return)
    val fs = tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // leftover staging from a crashed prior un-retire (outside the
    // tombstones dir, so readers never see it)
    val tmp = new Path(dir, ".unretire_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val pinned = pinnedFiles(fs, tomb)
    if (pinned.isEmpty) { removeDirIfEmpty(fs, tomb); return }
    val pinnedDf = spark.read.schema(schema)
      .parquet(pinned.map(_.toString).toIndexedSeq: _*)
    // distinct so the left-outer mark below cannot multiply tombstone rows;
    // anti-join semantics downstream are unaffected by it
    val longIds = ids.select(col(idCol).cast("long").as("id")).distinct()
    // ONE probe job for both decisions (r6 — a streaming append pays this
    // per micro-batch): total rows and overlapping rows out of a single
    // marked aggregate; previously a semi-join count plus an anti-join
    // count ran the same two scans sequentially.
    val st = pinnedDf
      .join(longIds.withColumn("x", lit(1)), Seq("id"), "left_outer")
      .agg(count(lit(1)), count(col("x"))).head()
    val (total, overlap) = (st.getLong(0), st.getLong(1))
    if (overlap == 0) return
    if (overlap < total) {
      // land the remaining rows as new files BEFORE removing the pinned
      // ones: a crash in between leaves duplicates (harmless), never a gap
      pinnedDf.join(longIds, Seq("id"), "left_anti")
        .write.mode("overwrite").parquet(tmp.toString)
      val parts = fs.listStatus(tmp).filter(_.isFile).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      val tag = java.util.UUID.randomUUID().toString
      parts.zipWithIndex.foreach { case (p, i) =>
        if (!fs.rename(p, new Path(tomb, s"unretire-$tag-$i.parquet")))
          throw new java.io.IOException(s"unretire: could not land $p in $dir")
      }
    }
    pinned.foreach(p => fs.delete(p, false))
    fs.delete(tmp, true)
    // last tombstone un-retired and nothing landed concurrently: restore
    // the no-tombstone fast path by removing the (now empty) dir
    if (overlap == total) removeDirIfEmpty(fs, tomb)
  }

  /** Remove the tombstone dir iff it holds no parquet data: non-parquet
    * FILE droppings (_SUCCESS) are deleted first, then a NON-recursive dir
    * delete — if a concurrent retire appended a file (or its in-flight job
    * holds a _temporary subdir), the delete fails and is swallowed: the
    * dir stays, which only costs the fast path, never correctness. */
  private def removeDirIfEmpty(fs: FileSystem, tomb: Path): Unit = {
    if (!fs.exists(tomb)) return
    fs.listStatus(tomb)
      .filter(s => s.isFile && !s.getPath.getName.endsWith(".parquet"))
      .foreach(s => fs.delete(s.getPath, false))
    try { if (fs.listStatus(tomb).isEmpty) fs.delete(tomb, false) }
    catch { case _: java.io.IOException => () }
  }

  /** Drop the whole tombstone set — ONLY for full lifecycle resets
    * ([[MinhashIndex.build]]/[[IvfIndex.build]]), where the caller owns the
    * index exclusively by contract; concurrent-safe paths use
    * [[unretire]]'s pinned protocol instead. */
  def clear(spark: SparkSession, dir: String): Unit = {
    val (tomb, oldP, newP) = paths(dir)
    val fs = tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(tomb, oldP, newP).foreach(p => if (fs.exists(p)) fs.delete(p, true))
  }
}
