package graft.operators

import graft.FsText
import graft.expr.gf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * PERSISTED minhash-LSH index — incremental dedup at rest. A 100 TB corpus
 * is not re-paired when a new shard arrives: the corpus's band keys and
 * per-doc shingle-hash arrays are written ONCE; deduping a new batch is
 *
 *   new-batch bands  ⋈  stored bands   (ids-only equi-join)
 *   + new-batch self-join               (new×new pairs)
 *   → exact Jaccard verification        (stored shingle arrays re-read only
 *                                        for candidate participants)
 *
 * — the shared [[Dedup.lshPairs]] pipeline with the index as its stored
 * side — which touches O(|new| + candidates) rows instead of O(|corpus|). The
 * result equals the full-batch [[Dedup.minhashLshPairs]] over old ∪ new,
 * restricted to pairs involving a new document (same deterministic hash
 * family + the SAME immutable plan, persisted with the index) — an
 * engine-parity invariant the oracle pins.
 *
 * Layout under `dir`: `bands/` (band, id) and `shingles/` (id, sh sorted
 * hashes), versioned `bands_v<n>`/`shingles_v<n>` after compactions and
 * named by the committed [[Snapshot]] (`CURRENT`, the same commit as
 * [[IvfIndex]]); `plan.txt` (shingleN,numHashes,bands — queries and
 * appends MUST reuse it; a mixed-plan index is garbage).
 */
object MinhashIndex {

  private val bandSchema = StructType(Seq(
    StructField("band", LongType, nullable = false),
    StructField("id", LongType, nullable = false)))
  private val shingleSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("sh", ArrayType(LongType, containsNull = false), nullable = true)))

  /** Build the index over `docs` (idCol must be LongType). 0-knobs derive
    * the plan from [[Dedup.minhashPlan]] on the corpus size (the count is
    * skipped when the caller supplies every knob). */
  def build(docs: DataFrame, idCol: String, textCol: String, dir: String,
      shingleN: Int = 0, numHashes: Int = 0, bands: Int = 0): Dedup.MinhashPlan = {
    val spark = docs.sparkSession
    val plan = Dedup.resolvePlan(shingleN, numHashes, bands, docs.count())
    // Snapshot.build uncommits FIRST: a crash mid-overwrite must leave an
    // uncommitted index (ensure() rebuilds it), never a committed-looking
    // one over half-overwritten data
    Snapshot.build(spark, dir, Seq("bands", "shingles")) {
      writeParts(docs, idCol, textCol, s"$dir/bands", s"$dir/shingles", plan, "overwrite")
      writePlan(spark, s"$dir/plan.txt", plan)
    }
    plan
  }

  /** Append a new batch to the index (AFTER it has been deduped via
    * [[queryNew]] — the index stores whatever it is given). Uses the
    * persisted plan.
    *
    * Appending a RETIRED id un-retires it (re-ingest supersedes the
    * retirement — without this, a tombstone would silently suppress the
    * re-ingested rows too and every later batch would miss its near-dups):
    * after the batch lands, the listed tombstones are rewritten without it
    * ([[Snapshot.unretire]]), and queryNew's max_by resolution already
    * makes the newest text win verification.
    *
    * Crash semantics (no snapshot flip covers appends: they land in the
    * committed version's dirs): shingles are written
    * BEFORE bands, so a torn append leaves shingle rows with no band rows —
    * the batch is merely invisible to candidate generation (fail-safe), not
    * silently pair-dropping (band rows whose shingle lookup misses would
    * be). The un-retire runs LAST, so a crash mid-append leaves the
    * tombstone in place (conservative). Re-running the append after a
    * crash is safe: duplicate band rows collapse in the candidate distinct,
    * duplicate shingle rows in the per-id lookup aggregate, and the replay
    * completes the pending un-retire. */
  def append(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String): Unit = {
    val snap = Snapshot.of(spark, dir)
    writeParts(docs, idCol, textCol, s"$dir/${snap("bands")}", s"$dir/${snap("shingles")}",
      readPlan(spark, s"$dir/plan.txt"), "append")
    Snapshot.unretire(spark, dir, docs.select(col(idCol).cast("long").as("id")))
  }

  /** Retire documents from the index (dropped by a later dedup pass,
    * takedown, re-ingest supersedure): writes their ids as a TOMBSTONE
    * file that the snapshot lists ([[Snapshot.retire]]) and that
    * [[queryNew]] anti-joins out of candidate generation and
    * verification — a retired doc stops generating candidates immediately,
    * without rewriting the (large) band/shingle parquet. Replay-safe:
    * duplicate tombstone rows are harmless (anti-join semantics).
    *
    * Tombstoned rows still occupy storage until [[compact]] rewrites the
    * index. Re-ingesting a retired id via [[append]] UN-retires it — the
    * new content supersedes the retirement, and queryNew's max_by
    * resolution makes the newest text win verification. */
  def retire(spark: SparkSession, dir: String, ids: DataFrame, idCol: String): Unit =
    Snapshot.retire(spark, dir, ids, idCol)

  /** Rewrite bands/shingles minus the listed tombstoned ids — the
    * storage-reclaim half of the retire lifecycle. The flip unlists
    * exactly the tombstone files this compact read when it started
    * ([[Snapshot.compact]]): an id retired while this compact is rewriting
    * is listed in a file the flip keeps, so the next compact applies it.
    * While rewriting anyway, crash-replay duplicates are dropped for
    * free: a replayed [[append]] legitimately re-lands identical
    * band/shingle rows (results stay correct — the candidate distinct and
    * per-id max_by absorb them) but they cost storage and every future
    * scan; `distinct`/`dropDuplicates` below remove EXACT duplicate rows
    * only — a re-ingested id with changed text keeps both its rows, exactly
    * as append left them. The rewrite lands in `bands_v<n+1>`/
    * `shingles_v<n+1>` beside the committed version and is published by
    * one `CURRENT` flip: queries see the old or the new version at every
    * instant, with no availability window, and a crash before the flip
    * leaves the committed version serving (the partial dirs are reclaimed
    * by the next compact, with the replaced version — the readers' grace
    * period). No-op when nothing is tombstoned.
    *
    * One compactor per index at a time, and no [[append]] during a
    * compact: an append lands in the version being replaced. */
  def compact(spark: SparkSession, dir: String): Unit =
    Snapshot.compact(spark, dir)(rewrite(spark, dir))

  /** The rewrite of one [[compact]]: the committed parts minus the listed
    * tombstones, into `cur.next`'s dirs. */
  private[graft] def rewrite(spark: SparkSession, dir: String)(cur: Snapshot): Unit = {
    val next = cur.next
    def kept(part: String, schema: StructType) =
      Snapshot.minus(spark, dir, cur, spark.read.schema(schema).parquet(s"$dir/${cur(part)}"), "id")
    kept("bands", bandSchema).distinct()
      .write.mode("overwrite").parquet(s"$dir/${next("bands")}")
    kept("shingles", shingleSchema).dropDuplicates("id", "sh")
      .write.mode("overwrite").parquet(s"$dir/${next("shingles")}")
  }

  private def writeParts(docs: DataFrame, idCol: String, textCol: String,
      bandsDir: String, shinglesDir: String, plan: Dedup.MinhashPlan, mode: String): Unit = {
    // materialize the source once: the two writes below are separate jobs,
    // and reading `docs` twice would both double the corpus scan and let a
    // non-deterministic input (samples, limits) produce band rows whose
    // shingle rows don't exist
    val base = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // shingles FIRST (see append's crash semantics)
      base.select(col("id"), gf.shingle_hashes(col("text"), plan.shingleN).as("sh"))
        .write.mode(mode).parquet(shinglesDir)
      base.select(explode(Dedup.minhashBands(col("text"), plan)).as("band"), col("id"))
        .write.mode(mode).parquet(bandsDir)
    } finally base.unpersist()
  }

  /** Dedup a new batch against the index: returns (id_a, id_b, jaccard)
    * with id_a < id_b, covering new×stored AND new×new pairs at
    * jaccard >= tau — exactly the full-batch pairs that involve a new doc.
    * The pairs come from [[Dedup.lshPairs]] with the index as its stored
    * side: retired docs are anti-joined out of both the stored bands and
    * the stored shingles (the tombstone set is small next to the index, so
    * AQE broadcasts the anti side — no extra wide shuffle), and the
    * optional `maxBandSize` cap counts over stored ∪ new, so a degenerate
    * stored bucket cannot multiply every new doc that hashes into it. */
  def queryNew(spark: SparkSession, dir: String, newDocs: DataFrame,
      idCol: String, textCol: String, tau: Double = 0.7,
      maxBandSize: Int = 0): DataFrame = {
    val plan = readPlan(spark, s"$dir/plan.txt")
    val snap = Snapshot.of(spark, dir)
    def stored(part: String, schema: StructType) =
      Snapshot.minus(spark, dir, snap, spark.read.schema(schema).parquet(s"$dir/${snap(part)}"), "id")
    Dedup.lshPairs(
      newDocs.select(col(idCol).cast("long").as("id"), col(textCol).as("text")),
      Dedup.minhashBands(col("text"), plan),
      gf.shingle_hashes(col("text"), plan.shingleN), length(col("text")),
      gf.jaccard_sorted, "jaccard", tau, maxBandSize,
      Some(Dedup.LshStored(stored("bands", bandSchema), stored("shingles", shingleSchema))))
  }

  /** Idempotent once-per-(sf, tag, plan) build (the IvfIndex.ensure
    * pattern — EVERY build parameter is part of the cached-index identity:
    * a changed shingleN, numHashes or bands must provably rebuild, never
    * silently serve an index built under a different plan). */
  def ensure(spark: SparkSession, sf: Double, tag: String, docs: => DataFrame,
      idCol: String, textCol: String, shingleN: Int = 0,
      numHashes: Int = 0, bands: Int = 0): String = {
    val dir = s"target/synth/sf$sf/minhash_idx_${tag}_s${shingleN}_h${numHashes}_b$bands"
    def done = Snapshot.read(spark, dir).isDefined
    if (!done) synchronized {
      if (!done) build(docs, idCol, textCol, dir, shingleN = shingleN,
        numHashes = numHashes, bands = bands)
    }
    dir
  }

  // ------------------------------------------------------------- plan file

  private def writePlan(spark: SparkSession, path: String,
      plan: Dedup.MinhashPlan): Unit = {
    val p = new Path(path)
    FsText.writeText(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
      s"${plan.shingleN},${plan.numHashes},${plan.bands}")
  }

  def readPlan(spark: SparkSession, path: String): Dedup.MinhashPlan = {
    val p = new Path(path)
    val body = FsText.readText(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    val Array(s, n, b) = body.trim.split(",").map(_.toInt)
    Dedup.MinhashPlan(s, n, b)
  }
}
