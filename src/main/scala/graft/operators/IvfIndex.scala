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
 * The index is built whole and never mutated in place: a corpus that grows
 * or drifts is indexed by building again. It commits through the same
 * [[Snapshot]] as [[MinhashIndex]], but never lists a tombstone.
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
    val snap = Snapshot.of(spark, dir)
    // only the retire of earlier releases listed IVF tombstones: such an
    // index is refused rather than served with its retired vectors
    require(snap.tombs.isEmpty, s"$dir lists retired vectors: build it again")
    val lists = spark.read.schema(listSchema).parquet(s"$dir/${snap("lists")}")
      .where(col("cid").isin(cids.map(Integer.valueOf).toSeq: _*))
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
