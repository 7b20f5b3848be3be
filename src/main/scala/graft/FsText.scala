package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets.UTF_8

/** Whole-file UTF-8 text I/O on a Hadoop filesystem, for the small
  * side files of the persisted stores and sinks (plan, manifests,
  * centroids, metrics, DDL). Each call closes its stream in `finally`. */
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
}
