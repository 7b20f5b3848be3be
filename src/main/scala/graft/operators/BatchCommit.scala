package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/**
 * Exactly-once batch commit for persisted stores: write to a hidden staging
 * dir, COMMIT by a checked atomic rename to `<base>/batch=<id>`. A crash
 * before the rename leaves only staging garbage (overwritten on replay);
 * after it, a replay sees the committed dir and writes nothing. One audited
 * copy — MinhashIndex's streaming pair sink and IvfIndex's append
 * previously hand-wrote the same protocol and had already diverged.
 */
private[graft] object BatchCommit {

  def committedPath(base: String, batchId: Long) = new Path(base, s"batch=$batchId")

  /** Runs `write(stagingPath)` and commits iff `batch=<id>` is absent;
    * returns false (writing nothing) when the batch already committed.
    *
    * Invariant: every writer of one batchId writes identical content (a
    * deterministic replay of the same batch). The concurrent-commit guards
    * below rely on it: in the posix nested-dir race a loser can return
    * true while the committed bytes are the winner's, which is only
    * correct because the two payloads are the same. */
  def commit(spark: SparkSession, base: String, batchId: Long)
      (write: Path => Unit): Boolean = {
    val committed = committedPath(base, batchId)
    val fs = committed.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(committed)) return false
    val staging = new Path(base, s".staging/$batchId")
    write(staging)
    fs.mkdirs(committed.getParent)
    // check-then-act race (round-5 ADVICE #4): a concurrent caller with the
    // same batchId may have committed between the exists() check above and
    // this rename. The batch IS durably committed — success for an
    // idempotent sink, not an error. Two guards because rename-onto-existing
    // semantics differ by store: HDFS/object stores FAIL the rename (the
    // post-rename check), while a posix local FS would move the staging dir
    // INSIDE the winner's commit (the pre-rename check catches the loser
    // before it can nest garbage there).
    if (fs.exists(committed)) { fs.delete(staging, true); return false }
    if (!fs.rename(staging, committed)) {
      if (fs.exists(committed)) { fs.delete(staging, true); return false }
      throw new java.io.IOException(s"could not commit batch $batchId under $base")
    }
    // posix rename-into-existing-dir (round-6 review): if a concurrent
    // winner committed between the pre-check and the rename, a local FS
    // "successfully" moves our staging INSIDE the winner's dir as
    // batch=<id>/<id>/ instead of failing — which would double-read the
    // batch on the next scan. No legitimate commit contains a child dir
    // named after the batchId (writers emit part files), so its presence
    // identifies the lost race exactly: remove it and report
    // already-committed.
    val nested = new Path(committed, staging.getName)
    if (fs.exists(nested)) { fs.delete(nested, true); return false }
    true
  }
}
