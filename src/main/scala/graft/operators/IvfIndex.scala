package graft.operators

import graft.FsText
import graft.expr.gf
import org.apache.hadoop.fs.Path
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
    * wrong shape for an index-at-rest. The build commits by writing
    * `CURRENT` last ([[Snapshot.build]]); a torn build has none, so the
    * next call rebuilds with overwrite. */
  def ensure(spark: SparkSession, sf: Double, corpus: => DataFrame,
      kCentroids: Int = 16, kmeansIters: Int = 1): String = {
    // the build parameters are part of the index IDENTITY: a dir keyed
    // by sf alone would silently serve a stale 16-centroid index to a
    // caller asking for 64 centroids
    val dir = s"target/synth/sf$sf/ivf_k${kCentroids}_i$kmeansIters"
    def done = Snapshot.read(spark, dir).isDefined
    if (!done) synchronized {
      if (!done) build(corpus, dir, kCentroids, kmeansIters)
    }
    dir
  }

  /** Build the index: inverted lists partitioned by cid + centroid matrix,
    * committed as snapshot v0 ([[Snapshot.build]]: `CURRENT` is dropped
    * before any data is touched and written last, so a crash
    * mid-overwrite leaves an uncommitted index, never a half-overwritten
    * one that reads as committed).
    *
    * Building over an existing dir re-clusters it in place, which is the
    * quantizer-drift answer: a corpus that has drifted from the centroids
    * it was clustered under concentrates into few lists (the skew soak
    * measures that failure mode at 1.28x hot/balanced), and a torn rebuild
    * is healed by the next ensure() rather than served. */
  def build(corpus: DataFrame, dir: String, kCentroids: Int = 64,
      kmeansIters: Int = 1): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    // refuse to silently discard unfolded append batches (build rewrites
    // the lists from `corpus` alone and unlists every batch). An
    // uncommitted dir has no batch list to check: only a build that
    // already passed this check uncommits one.
    Snapshot.read(spark, dir).foreach(s => require(s.batches.isEmpty,
      "unfolded append batches present: compact() before rebuilding, and " +
        "include the appended vectors in the rebuild corpus"))
    // ALL read-only work (sampling, validation, Lloyd refinement) runs
    // BEFORE the commit drop: a rebuild attempt over an empty/bad corpus
    // must fail without invalidating the perfectly good existing index
    val sampled = Similarity.sampleCentroids(corpus, kCentroids)
    require(sampled.nonEmpty, "empty corpus")
    val cents =
      if (kmeansIters > 0) Similarity.refineCentroids(corpus, sampled, kmeansIters)
      else sampled
    Snapshot.build(spark, dir, Seq("lists")) {
      corpus.select(col("tid"), gf.vec_quantize(col("vec")).as("q_t"),
          element_at(gf.ivf_probes(col("vec"), cents, 1), 1).as("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/lists")
      writeCentroids(spark, s"$dir/centroids.txt", cents)
    }
    cents
  }

  /** Append a batch of new vectors to the index at rest WITHOUT
    * re-clustering: assign each vector to its list under the PERSISTED
    * quantizer and write it to `incoming/batch=<batchId>`, which the
    * snapshot then lists ([[Snapshot.appendBatch]]). A replayed or
    * concurrent append of a listed batch writes nothing, and the
    * snapshot's folded-batch ledger keeps the guarantee across [[compact]]
    * (ledger entries are ~8 bytes per batch, kept until the next
    * [[build]], which RESETS the ledger along with the rest of the
    * lifecycle state, so the batchId namespace restarts and callers must
    * not replay pre-build batch ids into the rebuilt index). [[query]]
    * unions the listed batches with the current lists. Batch tids must be
    * NEW: appending a tombstoned tid throws, because a tombstone
    * suppresses every row of its tid and the next compact would destroy
    * the new row while clearing the tombstone — re-ingest is retire(old)
    * -> compact() -> append(new). Quantizer drift across many appends is
    * the signal to [[build]] again (the skew soak measures that failure
    * mode). */
  def append(spark: SparkSession, dir: String, vectors: DataFrame,
      batchId: Long): Unit = {
    val snap = Snapshot.of(spark, dir)
    // a replay of a committed batch must be an unconditional no-op: if one
    // of its tids was retired after the commit, the tombstone-clash
    // require below would otherwise poison every retry
    if (snap.has(batchId)) return
    Snapshot.tombstones(spark, dir, snap).foreach { t =>
      val clash = t.join(vectors.select(col("tid").cast("long").as("id")), Seq("id"), "left_semi")
        .count()
      require(clash == 0,
        s"append batch $batchId contains $clash retired tid(s); " +
          "re-ingest is retire(old) -> compact() -> append(new)")
    }
    val cents = readCentroids(spark, s"$dir/centroids.txt")
    Snapshot.appendBatch(spark, dir, batchId) { path =>
      vectors.select(col("tid"), gf.vec_quantize(col("vec")).as("q_t"),
          element_at(gf.ivf_probes(col("vec"), cents, 1), 1).as("cid"))
        .write.mode("overwrite").parquet(path)
    }
  }

  /** The listed append batches of `s`, read as list rows. */
  private def batches(spark: SparkSession, dir: String, s: Snapshot): DataFrame =
    spark.read.schema(listSchema).parquet(s.batches.map(Snapshot.batchPath(dir, _)): _*)
      .select(col("tid"), col("q_t"), col("cid"))

  /** Retire vectors from the index (takedown / superseded embeddings):
    * tombstoned tids are anti-joined out of every [[query]] immediately;
    * storage is reclaimed by [[compact]] (or any rebuild). Same lifecycle
    * contract as [[MinhashIndex.retire]], same [[Snapshot.retire]]. */
  def retire(spark: SparkSession, dir: String, ids: DataFrame, idCol: String): Unit =
    Snapshot.retire(spark, dir, ids, idCol)

  /** Fold the listed append batches into a NEW cid-partitioned lists
    * version and drop tombstoned vectors. The single commit point is the
    * snapshot flip ([[Snapshot.compact]]: `CURRENT` names the lists
    * version, the folded-batch ledger and what is still listed), so the
    * index is CONSISTENT at every instant: before the flip queries serve
    * old lists + listed batches; after it, the new lists — never
    * duplicates, never a gap, no availability window. The old lists
    * version and the folded batch dirs are reclaimed by the next compact
    * (reader grace period). Centroids are untouched (compaction reclaims
    * storage and restores full partition pruning; re-clustering is
    * [[build]]'s job). No-op when nothing is listed.
    *
    * Replacing a vector (re-ingest) is retire(old) -> compact() ->
    * append(new): a tombstone suppresses EVERY row of its tid, and unlike
    * [[MinhashIndex.append]] (whose max_by verification makes automatic
    * un-retire safe) IVF query results have no newest-row resolution, so
    * the old row must be physically gone before the new one lands
    * ([[append]] enforces this by refusing tombstoned tids).
    *
    * One compactor per index at a time; retires, appends and queries may
    * run concurrently. */
  def compact(spark: SparkSession, dir: String): Unit =
    Snapshot.compact(spark, dir)(rewrite(spark, dir))

  /** The rewrite of one [[compact]]: the committed lists and listed
    * batches minus the listed tombstones, into `cur.next`'s lists dir. */
  private[graft] def rewrite(spark: SparkSession, dir: String)(cur: Snapshot): Unit = {
    val base = spark.read.schema(listSchema).parquet(s"$dir/${cur("lists")}")
    val all = if (cur.batches.isEmpty) base else base.unionByName(batches(spark, dir, cur))
    Snapshot.minus(spark, dir, cur, all, "tid")
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/${cur.next("lists")}")
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
    // listed append batches union in (same cid predicate — their files
    // aren't cid-partitioned, so it is a filter rather than pruning,
    // bounded by compact() folding them into the main lists)
    val snap = Snapshot.of(spark, dir)
    val base = cidIn(spark.read.schema(listSchema).parquet(s"$dir/${snap("lists")}"))
    val withIncoming =
      if (snap.batches.isEmpty) base else base.unionByName(cidIn(batches(spark, dir, snap)))
    // retired vectors are anti-joined out AFTER partition pruning (the
    // tombstone set is small — AQE broadcasts it; lifecycle-free reads keep
    // the exact original pruned plan)
    val lists = Snapshot.minus(spark, dir, snap, withIncoming, "tid")
    // exact re-rank via the ONE shared output contract (Similarity.rerankTopK)
    Similarity.rerankTopK(probed.join(lists, "cid"), k)
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
