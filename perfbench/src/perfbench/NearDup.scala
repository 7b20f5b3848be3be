package perfbench

import graft.geo.{Rng, TextAlgos}
import graft.operators.{Dedup, MinhashIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * Seeded near-duplicate corpus in the `ScaleSoak.documents` shape: ~40-word
 * texts over a fixed vocabulary, with planted near-duplicates (one word
 * changed) and one boilerplate cluster (one template, one varying word).
 * Base docs `i % 50 == 1` copy doc `i - 1`; ingested docs `j % 25 == 3` (by
 * batch position) copy a seed-chosen earlier doc; ingested doc `j == 7`
 * joins the boilerplate cluster.
 */
final class NearDupCorpus(seed: Long, nBase: Int, batch: Int, boilStart: Int, boilN: Int)
    extends Serializable {
  private def h(salt: Long): Long = Rng.splitmix64(seed * 0x2545F4914F6CDD1DL + salt)
  // random 4-8 letter words over Latin + Cyrillic letters: two unrelated
  // texts share few character shingles, so LSH candidates come from the
  // planted near-duplicates rather than from the alphabet
  private val letters = ('a' to 'z') ++ ('а' to 'я')
  private val vocab: IndexedSeq[String] = (0 until 4096).map { i =>
    val n = 4 + (h(0x70CA0000L + i) & 3).toInt + (h(0x70CC0000L + i) & 1).toInt
    (0 until n).map(j => letters(((h(0x70CB0000L + i * 8 + j) >>> 3) % letters.size).toInt)).mkString
  }
  private def word(salt: Long): String = vocab(((h(salt) >>> 1) % vocab.size).toInt)
  private def plain(id: Long): Array[String] = Array.tabulate(40)(j => word(id * 64 + j))
  private def edited(words: Array[String], id: Long): String = {
    val w = words.clone()
    w(((h(id * 7 + 1) >>> 1) % 40).toInt) = word(0x5EED0000L + id)
    w.mkString(" ")
  }
  private def boiler(id: Long): String = {
    val w = Array.tabulate(40)(j => word(0xB011E5L * 64 + j))
    w(20) = word(0xB0110000L + id)
    w.mkString(" ")
  }

  def text(id: Long): String =
    if (id < nBase) {
      if (id >= boilStart && id < boilStart + boilN) boiler(id)
      else if (id % 50 == 1) edited(plain(id - 1), id)
      else plain(id).mkString(" ")
    } else {
      val j = (id - nBase) % batch
      if (j % 25 == 3) edited(text((h(id) >>> 1) % id).split(' '), id)
      else if (j == 7) boiler(id)
      else plain(id).mkString(" ")
    }
}

/**
 * The near-dup ingest probe: set-up builds a `MinhashIndex` over a seeded
 * base corpus; ops run in cycles. Each cycle starts from a fresh file copy
 * of the built index (copied outside the timed ops) and runs `cycleBatches`
 * batches, each `queryNew` -> collect pairs -> `append`; after `retireAt`
 * batches it runs one `retire` of a fixed, seed-chosen id slice and one
 * `compact`.
 *
 * It runs as a fixed pass inside gar_dump's traced run, which is where the
 * minhash_index layer is measured. As a workload of its own
 * (near_dup_ingest) it could not be made steady: its ops are driver-side
 * planning, job scheduling and small file writes, and between host windows
 * its throughput moved by up to a third, more than the host speed probe
 * explained.
 *
 * Checks per batch: the pairs equal `Dedup.minhashLshPairs` over the whole
 * ingest corpus (same plan, computed in set-up), restricted to pairs whose
 * larger id lies in the batch and with no retired id once the retire has
 * run; and every pair has exact shingle Jaccard >= tau.
 */
final class NearDup(ctx: Ctx, nBase: Int = 4000, batch: Int = 200, cycleBatches: Int = 4,
    retireAt: Int = 1, retireN: Int = 100, tau: Double = 0.7) extends Workload {
  import ctx.spark
  import spark.implicits._

  val itemMetric = ("ingest_docs_per_s", "docs/s")
  val tracePass: Int = retireAt + 3

  private val corpus = new NearDupCorpus(ctx.seed, nBase, batch,
    boilStart = ((ctx.rand(0xB0L) >>> 1) % (nBase / 2)).toInt, boilN = 30)
  private val retireFrom = ((ctx.rand(0x7E7L) >>> 1) % (nBase - retireN)).toInt
  private val retired = (retireFrom until retireFrom + retireN).map(_.toLong).toSet
  /** The built index each cycle copies, and the copy the current cycle uses. */
  private var pristine: String = _
  private var dir: String = _
  private var cycles = 0
  private var expected: Set[(Long, Long)] = _
  private var shingleN = 0
  private var retiredDone = false

  private def docs(from: Long, until: Long): DataFrame = {
    val c = corpus
    spark.range(from, until, 1, ctx.slots).map(i => (i, c.text(i))).toDF("doc_id", "text")
  }
  private def batchDocs(b: Int) = docs(nBase + b.toLong * batch, nBase + (b + 1L) * batch)

  def prepare(d: String): Unit = {
    MinhashIndex.build(docs(0, nBase), "doc_id", "text", s"$d/index")
    pristine = s"$d/index"
  }

  /** Start a cycle on a fresh copy of the pristine index; the previous
    * cycle's copy is deleted. */
  private def newCycle(): Unit = {
    if (dir != null) Dirs.delete(Paths.get(dir))
    cycles += 1
    dir = s"${ctx.workDir}/cycle$cycles"
    val from = Paths.get(pristine)
    val to = Paths.get(dir)
    Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
    retiredDone = false
  }

  def expect(): Unit = {
    val plan = MinhashIndex.readPlan(spark, s"$pristine/plan.txt")
    shingleN = plan.shingleN
    expected = Dedup.minhashLshPairs(docs(0, nBase + cycleBatches.toLong * batch), "doc_id", "text",
        plan.shingleN, plan.numHashes, plan.bands, tau)
      .where(col("id_b") >= nBase)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
  }

  private val opsPerCycle = cycleBatches + 1

  def op(i: Int): OpResult = {
    val p = i % opsPerCycle
    if (p == 0) newCycle()
    if (p == retireAt) {
      val ids = retired.toSeq.toDF("doc_id")
      val (_, tr) = OpResult.timed(
        ctx.span("minhash_index", "retire")(MinhashIndex.retire(spark, dir, ids, "doc_id")))
      if (ctx.tracer.enabled)
        ctx.tracer.spans.last.attrs("tombstone_rows") = spark.read.parquet(s"$dir/tombstones").count()
      val (_, tc) = OpResult.timed(ctx.span("minhash_index", "compact")(MinhashIndex.compact(spark, dir)))
      retiredDone = true
      OpResult(0, tr + tc, ok = true)
    } else {
      val b = if (p > retireAt) p - 1 else p
      val lo = nBase + b.toLong * batch
      val hi = lo + batch
      val newDocs = batchDocs(b)
      val (pairs, tq) = OpResult.timed(ctx.span("minhash_index", "queryNew") {
        val p = MinhashIndex.queryNew(spark, dir, newDocs, "doc_id", "text", tau)
          .as[(Long, Long, Double)].collect()
        ctx.count("pairs", p.length)
        p
      })
      val (_, ta) = OpResult.timed(
        ctx.span("minhash_index", "append")(MinhashIndex.append(spark, dir, newDocs, "doc_id", "text")))
      val want = expected.filter { case (a, bb) =>
        bb >= lo && bb < hi && !(retiredDone && (retired(a) || retired(bb)))
      }
      val got = pairs.map(p => (p._1, p._2)).toSet
      val exact = pairs.forall { case (a, bb, _) =>
        TextAlgos.jaccard(TextAlgos.shingles(corpus.text(a), shingleN),
          TextAlgos.shingles(corpus.text(bb), shingleN)) >= tau
      }
      OpResult(batch, tq + ta, got == want && got.size == pairs.length && exact)
    }
  }

  private def indexFiles: Seq[java.nio.file.Path] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")).toSeq

  def layers(loopSpans: Seq[Span]): Map[String, Double] = {
    def named(n: String) = loopSpans.filter(s => s.layer == "minhash_index" && s.name == n)
    val queries = named("queryNew")
    val appends = named("append")
    val candidates = queries.map { s =>
      s.nodes.filter(n => n.finalAgg && n.keys == Seq("id_a", "id_b")).map(_.rows).maxOption.getOrElse(0L)
    }.sum.toDouble
    val verified = queries.map(_.attrs.getOrElse("pairs", 0.0)).sum
    val first = queries.headOption.map(_.nodes).getOrElse(Nil)
    Map(
      "minhash_index.query_s" -> Stats.median(queries.map(_.seconds)),
      "minhash_index.append_s" -> Stats.median(appends.map(_.seconds)),
      "minhash_index.retire_s" -> named("retire").map(_.seconds).sum,
      "minhash_index.compact_s" -> named("compact").map(_.seconds).sum,
      "minhash_index.candidates" -> candidates,
      "minhash_index.verified" -> verified,
      "minhash_index.useful_ratio" -> (if (candidates > 0) verified / candidates else 0.0),
      "minhash_index.sig_passes" -> first.count(_.exprs("MinhashSig")).toDouble,
      "minhash_index.band_passes" -> first.count(_.exprs("LshBands")).toDouble,
      "minhash_index.bytes_written_per_doc" ->
        appends.map(_.spark.outBytes).sum.toDouble / math.max(1, appends.size * batch),
      "minhash_index.files" -> indexFiles.size.toDouble,
      "minhash_index.tombstone_rows" -> named("retire").map(_.attrs.getOrElse("tombstone_rows", 0.0)).sum,
      "minhash_index.compact_bytes_rewritten" -> named("compact").map(_.spark.outBytes).sum.toDouble)
  }
}
