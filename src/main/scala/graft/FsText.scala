package graft

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import java.nio.charset.StandardCharsets.UTF_8

/** Whole-file UTF-8 text I/O on a Hadoop filesystem, for the small
  * side files of the persisted stores and sinks (plan, manifests,
  * centroids, DDL). Each call closes its stream in `finally`. */
private[graft] object FsText {
  def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Creates or overwrites `p`. */
  def writeText(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
  }

  private def sibling(p: Path, suffix: String) = new Path(p.getParent, s".${p.getName}$suffix")

  /** Atomically replace `p` with `body`: the body is written to a staging
    * file and renamed to `.<name>.tmp`, so that tmp only ever exists
    * complete; then `p` is deleted and the tmp renamed into its place. A
    * crash between that delete and rename leaves the complete tmp, which
    * [[readCommitted]] restores. Every rename is checked: on object stores
    * a rename can fail by returning false. One writer per `p` at a time;
    * readers may run concurrently. */
  def commitText(fs0: FileSystem, p: Path, body: String): Unit = {
    val fs = raw(fs0)
    val (tmp, staged) = (sibling(p, ".tmp"), sibling(p, ".tmp.new"))
    // restore a torn earlier commit first: its tmp is about to be replaced
    heal(fs, p)
    writeText(fs, staged, body)
    fs.delete(tmp, false)
    if (!fs.rename(staged, tmp)) throw new java.io.IOException(s"could not stage $tmp")
    fs.delete(p, false)
    // a concurrent reader may have healed our tmp into place between the
    // delete and the rename; that IS our content, so verify rather than fail
    if (!renamed(fs, tmp, p) && !(fs.exists(p) && readText(fs, p) == body))
      throw new java.io.IOException(s"could not commit $p")
  }

  /** The committed body of `p`, or None when nothing is committed. A torn
    * [[commitText]] (p missing, complete tmp present) is restored first. */
  def readCommitted(fs: FileSystem, p: Path): Option[String] = committed(raw(fs), p)

  private def committed(fs: FileSystem, p: Path): Option[String] =
    try {
      heal(fs, p)
      if (fs.exists(p)) Some(readText(fs, p))
      // a concurrent commit deleted p after the heal looked: its complete
      // tmp, or the p it has renamed in since, holds the committed body
      else if (fs.exists(sibling(p, ".tmp")) || fs.exists(p)) committed(fs, p)
      else None
    } catch {
      // a concurrent commit deleted p between the check and the read
      case _: java.io.FileNotFoundException => committed(fs, p)
    }

  /** Uncommit `p`: the tmp goes first, so a crash in between leaves the
    * committed `p`, never a tmp that would restore a dropped commit. */
  def dropCommitted(fs: FileSystem, p: Path): Unit = {
    raw(fs).delete(sibling(p, ".tmp"), false)
    raw(fs).delete(p, false)
  }

  /** Commit files bypass a checksummed filesystem (the local one): its
    * `.crc` side file is a second file that no rename swaps together with
    * the data, so a concurrent reader could pair one commit's data with the
    * next commit's checksum and fail. HDFS and S3 keep no side files. */
  private def raw(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case _ => fs
  }

  /** Heal ONLY the torn state (p missing, tmp present). Readers never
    * delete a tmp while `p` exists: that would race a writer between its
    * staging and its swap. */
  private def heal(fs: FileSystem, p: Path): Unit = {
    val tmp = sibling(p, ".tmp")
    if (!fs.exists(p) && fs.exists(tmp) && !renamed(fs, tmp, p) && !fs.exists(p))
      throw new java.io.IOException(s"could not restore $tmp")
  }

  /** `fs.rename`, false when `src` is gone: the local filesystem throws
    * instead when a concurrent heal or commit has moved `src` first. */
  private def renamed(fs: FileSystem, src: Path, dst: Path): Boolean =
    try fs.rename(src, dst) catch { case _: java.io.FileNotFoundException => false }
}
