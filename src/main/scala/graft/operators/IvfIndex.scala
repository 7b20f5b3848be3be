package graft.operators

import graft.FsText
import graft.expr.gf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * PERSISTED IVF index — the ANN-at-rest shape for a 100 TB corpus (you build
 * the index once; queries must not re-embed, re-cluster or re-scan the whole
 * corpus):
 *
 *  - `build`: coarse-quantize (sample + distributed Lloyd refinement), assign
 *    every vector to its ONE inverted list (per-row IvfProbes expression, no
 *    shuffle), and write the lists as parquet IDENTITY-PARTITIONED BY `cid`
 *    with the quantized vectors inline; centroids persist next to the lists.
 *  - `query`: load the (small, K x dim) centroid matrix, compute each
 *    query's nProbe lists, and read ONLY those partitions — the probed-cid
 *    set is bounded by K, so the IN-list is driver-sized and Catalyst turns
 *    it into PARTITION PRUNING on the store (verified in the spec via
 *    PartitionFilters). Exact quantized-cosine re-rank on the candidates.
 *
 * All reads force an explicit schema: partition-column type inference is
 * never trusted (see DocStore).
 */
object IvfIndex {

  private val listSchema = StructType(Seq(
    StructField("tid", LongType, nullable = false),
    StructField("q_t", ArrayType(LongType, containsNull = true), nullable = true),
    StructField("cid", IntegerType, nullable = false)))

  /** Idempotent once-per-sf build under `target/synth` (the DocStore.ensure
    * pattern, Hadoop FS throughout): an IVF index is built ONCE and queried
    * many times — rebuilding sample + Lloyd + the full list write inside
    * every bench/verify invocation was 4.1 s of the round-3 bench and the
    * wrong shape for an index-at-rest. A `_BUILT` marker commits the build;
    * a crash between data write and marker leaves no marker, so the next
    * call rebuilds with overwrite (torn-write healing, like Lineage). */
  def ensure(spark: SparkSession, sf: Double, corpus: => DataFrame,
      kCentroids: Int = 16, kmeansIters: Int = 1): String = {
    // the build parameters are part of the index IDENTITY: a marker keyed
    // by sf alone would silently serve a stale 16-centroid index to a
    // caller asking for 64 centroids
    val dir = s"target/synth/sf$sf/ivf_k${kCentroids}_i$kmeansIters"
    def done = StoreMarker.exists(spark, dir)
    if (!done) synchronized {
      if (!done) rebuild(spark, dir, corpus, kCentroids, kmeansIters)
    }
    dir
  }

  /** Build the index: inverted lists partitioned by cid + centroid matrix.
    * Building OVER an existing index drops its `_BUILT` marker before
    * touching data (a crash mid-overwrite must not leave a valid-looking
    * marker on a half-overwritten index); ensure()/rebuild() recreate it
    * after the write completes. */
  def build(corpus: DataFrame, dir: String, kCentroids: Int = 64,
      kmeansIters: Int = 1): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    // refuse to silently discard unfolded append batches (build rewrites
    // the lists from `corpus` alone and clears incoming/): guard HERE, at
    // the call that actually destroys them, so the public build() cannot
    // bypass rebuild()'s protection
    require(liveBatches(spark, dir, readManifest(spark, dir)._2).isEmpty,
      "unfolded append batches present: compact() before rebuilding, and " +
        "include the appended vectors in the rebuild corpus")
    // ALL read-only work (sampling, validation, Lloyd refinement) runs
    // BEFORE the marker drop: a rebuild attempt over an empty/bad corpus
    // must fail without invalidating the perfectly good existing index
    val sampled = Similarity.sampleCentroids(corpus, kCentroids)
    require(sampled.nonEmpty, "empty corpus")
    val cents =
      if (kmeansIters > 0) Similarity.refineCentroids(corpus, sampled, kmeansIters)
      else sampled
    StoreMarker.invalidate(spark, dir)
    corpus.select(col("tid"), gf.vec_quantize(col("vec")).as("q_t"),
        element_at(gf.ivf_probes(col("vec"), cents, 1), 1).as("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/lists")
    writeCentroids(spark, s"$dir/centroids.txt", cents)
    // a fresh build resets the whole lifecycle state: no retirees, no
    // append batches, no compacted list versions, manifest back to v0
    Tombstones.clear(spark, dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dir, "incoming"), true)
    if (fs.exists(new Path(dir))) fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(q => q.getName.startsWith("lists_v"))
      .foreach(q => fs.delete(q, true))
    writeManifest(spark, dir, "lists", Set.empty)
    cents
  }

  /** Append a batch of new vectors to the index at rest WITHOUT
    * re-clustering: assign each vector to its list under the PERSISTED
    * quantizer and commit the batch to `incoming/batch=<batchId>` via the
    * shared staging + atomic-rename protocol ([[BatchCommit]]) — a replayed
    * batch writes nothing, and the manifest's folded-batch ledger keeps the
    * guarantee across [[compact]] (a replay of an already-folded batchId is
    * also a no-op; ledger entries are ~8 bytes per batch, kept until the
    * next [[build]]/[[rebuild]] — a rebuild RESETS the ledger along with
    * the rest of the lifecycle state, so the batchId namespace restarts
    * and callers must not replay pre-rebuild batch ids into the rebuilt
    * index). [[query]] unions live (unfolded) batches with the
    * current lists. Batch tids must be NEW: appending a tombstoned tid
    * throws, because a tombstone suppresses every row of its tid and the
    * next compact would destroy the new row while clearing the tombstone —
    * re-ingest is retire(old) -> compact() -> append(new). Quantizer drift
    * across many appends is the signal to [[rebuild]] (the skew soak
    * measures that failure mode). */
  def append(spark: SparkSession, dir: String, vectors: DataFrame,
      batchId: Long): Unit = {
    val (_, folded) = readManifest(spark, dir)
    if (folded.contains(batchId)) return
    // committed-dir check BEFORE any validation: a replay of a durably
    // committed batch must be an unconditional no-op — if one of its tids
    // was retired after the commit, the tombstone-clash require below
    // would otherwise poison every retry of an already-ingested batch
    val committed = BatchCommit.committedPath(s"$dir/incoming", batchId)
    if (committed.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(committed)) return
    if (Tombstones.resolve(spark, dir).isDefined) {
      val clash = Tombstones.read(spark, dir)
        .join(vectors.select(col("tid").cast("long").as("id")), Seq("id"), "left_semi")
        .count()
      require(clash == 0,
        s"append batch $batchId contains $clash retired tid(s); " +
          "re-ingest is retire(old) -> compact() -> append(new)")
    }
    val cents = readCentroids(spark, s"$dir/centroids.txt")
    BatchCommit.commit(spark, s"$dir/incoming", batchId) { staging =>
      vectors.select(col("tid"), gf.vec_quantize(col("vec")).as("q_t"),
          element_at(gf.ivf_probes(col("vec"), cents, 1), 1).as("cid"))
        .write.mode("overwrite").parquet(staging.toString)
    }
  }

  /** Committed batch dirs NOT yet folded into the current lists. */
  private def liveBatches(spark: SparkSession, dir: String,
      folded: Set[Long]): Seq[(Long, Path)] = {
    val p = new Path(dir, "incoming")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("batch="))
      .map(q => (q.getName.stripPrefix("batch=").toLong, q))
      .filterNot { case (id, _) => folded.contains(id) }
      .sortBy(_._1)
  }

  /** Retire vectors from the index (takedown / superseded embeddings):
    * tombstoned tids are anti-joined out of every [[query]] immediately;
    * storage is reclaimed by [[compact]] (or any rebuild). Same lifecycle
    * contract as [[MinhashIndex.retire]], same shared [[Tombstones]]
    * machinery. */
  def retire(spark: SparkSession, dir: String, ids: DataFrame, idCol: String): Unit =
    Tombstones.retire(spark, dir, ids, idCol)

  /** Fold live append batches into a NEW cid-partitioned lists version and
    * drop tombstoned vectors. The single commit point is the manifest swap
    * (`CURRENT` names the lists version AND the folded-batch ledger), so
    * the index is CONSISTENT at every instant: before the swap queries
    * serve old lists + live batches; after it, the new lists — never
    * duplicates, never a gap, and no availability window (the `_BUILT`
    * marker is untouched). Everything after the swap is invisible cleanup,
    * retried opportunistically by the next compact if it fails. Centroids
    * are untouched (compaction reclaims storage and restores full partition
    * pruning; re-clustering is [[rebuild]]'s job). No-op when there is
    * nothing to fold or drop.
    *
    * Replacing a vector (re-ingest) is retire(old) -> compact() ->
    * append(new): a tombstone suppresses EVERY row of its tid, and unlike
    * [[MinhashIndex.append]] (whose max_by verification makes automatic
    * un-retire safe) IVF query results have no newest-row resolution, so
    * the old row must be physically gone before the new one lands
    * ([[append]] enforces this by refusing tombstoned tids).
    *
    * One compactor per index at a time (it ends in
    * [[Tombstones.unretire]], which has the same single-caller contract);
    * retires and queries may run concurrently. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(dir))) return // nothing to compact (old contract)
    val (listsName, folded) = readManifest(spark, dir)
    // opportunistic cleanup of the PREVIOUS compact's now-invisible
    // leftovers (old list versions, folded batch dirs). Deleting them here
    // — one compaction cycle later — rather than right after the flip
    // gives in-flight readers that resolved the pre-flip manifest a grace
    // period to finish against the old dirs.
    fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(q => (q.getName == "lists" || q.getName.startsWith("lists_v")) &&
        q.getName != listsName)
      .foreach(q => fs.delete(q, true))
    liveBatches(spark, dir, Set.empty)
      .filter { case (id, _) => folded.contains(id) }
      .foreach { case (_, q) => fs.delete(q, true) }
    val live = liveBatches(spark, dir, folded)
    // PINNED tombstone snapshot (Tombstones.snapshot): ids retired
    // concurrently during this compact are not applied to the rewrite, so
    // the final step must not clear them — only the snapshot's ids are
    // removed (round-5 ADVICE #1; same fix as MinhashIndex.compact)
    val snap = Tombstones.snapshot(spark, dir)
    if (live.isEmpty && snap.isEmpty) return
    val base = spark.read.schema(listSchema).parquet(s"$dir/$listsName")
    val all =
      if (live.isEmpty) base
      else base.unionByName(
        spark.read.schema(listSchema).parquet(live.map(_._2.toString): _*)
          .select(col("tid"), col("q_t"), col("cid")))
    val kept = snap match {
      case Some(t) => all.join(t.select(col("id").as("tid")), Seq("tid"), "left_anti")
      case None => all
    }
    val nextName =
      if (listsName == "lists") "lists_v1"
      else s"lists_v${listsName.stripPrefix("lists_v").toLong + 1}"
    fs.delete(new Path(dir, nextName), true) // garbage from a crashed attempt
    kept.write.mode("overwrite").partitionBy("cid").parquet(s"$dir/$nextName")
    // THE commit point: one atomic pointer flip publishes the new lists and
    // retires the folded batches from visibility and replay in one step.
    // The old lists version and the folded batch dirs are NOT deleted now —
    // in-flight readers may still be executing plans against them; the
    // next compact reclaims them (grace-period cleanup above).
    writeManifest(spark, dir, nextName, folded ++ live.map(_._1))
    // remove only the APPLIED (snapshotted) ids; a retire that landed after
    // the snapshot stays pending — its rows may be in the new lists, and the
    // live tombstone keeps suppressing them until the next compact applies it
    snap.foreach(t => Tombstones.unretire(spark, dir, t, "id"))
  }

  /** Re-cluster + rewrite an existing index IN PLACE from the current
    * corpus — the quantizer-drift answer (a corpus that has drifted from
    * the centroids it was clustered under concentrates into few lists; the
    * skew soak measures that exact failure mode at 1.28x hot/balanced).
    * Crash-safe via the marker protocol: the marker is dropped first and
    * recreated only after the full rewrite, so a torn rebuild is healed by
    * the next ensure() rather than served. */
  def rebuild(spark: SparkSession, dir: String, corpus: DataFrame,
      kCentroids: Int = 16, kmeansIters: Int = 1): Array[Array[Float]] = {
    // (the unfolded-append-batch refusal lives in build(), the call that
    // actually destroys them — guarding only here would be bypassable)
    val cents = build(corpus, dir, kCentroids, kmeansIters)
    StoreMarker.commit(spark, dir)
    cents
  }

  /** Query the persisted index: partition-pruned candidate read + exact
    * re-rank. queries: (qid, vec). */
  def query(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
      nProbe: Int = 8): DataFrame = {
    val cents = readCentroids(spark, s"$dir/centroids.txt")
    val probed = queries.select(col("qid"), gf.vec_quantize(col("vec")).as("q_q"),
      explode(gf.ivf_probes(col("vec"), cents, nProbe)).as("cid"))
    // the probed-cid set is bounded by K (the centroid count), so collecting
    // it is a driver-sized constant — and an IN-list literal is what Catalyst
    // prunes partitions with (a join would scan every list)
    val cids = probed.select("cid").distinct().collect().map(_.getInt(0)).sorted
    val cidIn = (df: DataFrame) =>
      df.where(col("cid").isin(cids.map(Integer.valueOf).toSeq: _*))
    // committed incoming batches union in (same cid predicate — their
    // files aren't cid-partitioned, so it is a filter rather than pruning,
    // bounded by compact() folding them into the main lists)
    val (listsName, folded) = readManifest(spark, dir)
    val base = cidIn(spark.read.schema(listSchema).parquet(s"$dir/$listsName"))
    val live = liveBatches(spark, dir, folded)
    val withIncoming =
      if (live.isEmpty) base
      else base.unionByName(cidIn(
        spark.read.schema(listSchema).parquet(live.map(_._2.toString): _*)
          .select(col("tid"), col("q_t"), col("cid"))))
    // retired vectors are anti-joined out AFTER partition pruning (the
    // tombstone set is small — AQE broadcasts it; lifecycle-free reads keep
    // the exact original pruned plan)
    val lists = Tombstones.minus(spark, dir, withIncoming, "tid")
    // exact re-rank via the ONE shared output contract (Similarity.rerankTopK)
    Similarity.rerankTopK(probed.join(lists, "cid"), k)
  }

  /** The pruned scan for plan assertions (same predicate as `query`). */
  def prunedScan(spark: SparkSession, dir: String, cids: Seq[Int]): DataFrame =
    spark.read.schema(listSchema).parquet(s"$dir/${readManifest(spark, dir)._1}")
      .where(col("cid").isin(cids.map(Integer.valueOf): _*))

  // ---------------------------------------------------------- the manifest

  /** `CURRENT` manifest: line 1 = active lists dir name, line 2 =
    * comma-separated folded batch ids. Written via tmp + checked rename;
    * a torn swap (CURRENT missing, tmp complete) heals on the next read.
    * Absent entirely = the v0 layout ("lists", nothing folded) — which is
    * also what legacy pre-manifest indexes read as. */
  private def readManifest(spark: SparkSession, dir: String): (String, Set[Long]) = {
    val cur = new Path(dir, "CURRENT")
    val tmp = new Path(dir, ".CURRENT.tmp")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal ONLY the torn-swap state (CURRENT missing, complete tmp
    // present). Readers never delete a tmp while CURRENT exists — that
    // would race a writer between its tmp write and its swap, and the
    // writer then deleting CURRENT with its tmp gone would erase BOTH
    // copies (ledger reset = the duplicate-replay bug all over again).
    if (!fs.exists(cur) && fs.exists(tmp)) {
      if (!fs.rename(tmp, cur) && !fs.exists(cur))
        throw new java.io.IOException(s"manifest heal: could not restore $tmp")
    }
    if (!fs.exists(cur)) ("lists", Set.empty)
    else {
      val lines = FsText.readText(fs, cur).split("\n", -1)
      val folded = lines.lift(1).map(_.trim).filter(_.nonEmpty)
        .map(_.split(",").map(_.toLong).toSet).getOrElse(Set.empty[Long])
      (lines(0).trim, folded)
    }
  }

  private def writeManifest(spark: SparkSession, dir: String,
      listsName: String, folded: Set[Long]): Unit = {
    val cur = new Path(dir, "CURRENT")
    val tmp = new Path(dir, ".CURRENT.tmp")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val body = s"$listsName\n${folded.toSeq.sorted.mkString(",")}"
    FsText.writeText(fs, tmp, body)
    if (fs.exists(cur)) fs.delete(cur, false)
    if (!fs.rename(tmp, cur)) {
      // a concurrent reader may have healed our tmp into place between the
      // delete and the rename; that IS our intended content, so verify
      // rather than fail
      val healed = fs.exists(cur) && FsText.readText(fs, cur) == body
      if (!healed)
        throw new java.io.IOException(s"could not commit manifest in $dir")
    }
  }

  // --------------------------------------------------------- centroid files

  private def writeCentroids(spark: SparkSession, path: String,
      cents: Array[Array[Float]]): Unit = {
    val p = new Path(path)
    FsText.writeText(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
      cents.map(_.mkString(",")).mkString("\n"))
  }

  def readCentroids(spark: SparkSession, path: String): Array[Array[Float]] = {
    val p = new Path(path)
    FsText.readText(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      .split("\n").map(_.split(",").map(_.toFloat))
  }
}
