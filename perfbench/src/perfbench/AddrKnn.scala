package perfbench

import graft.operators.KnnJoin
import graft.synth.SynthGeo
import org.apache.spark.sql.DataFrame

/**
 * The kNN probe: batches of seeded query points sent to `KnnJoin.knnJoin`
 * (exact top-k, auto resolution) against a seeded address-point target set.
 * Targets and queries are `SynthGeo.pointInRegion` points, regions drawn
 * with the generator's weights. Every call re-caches the targets and
 * re-probes `autoRes`, as a caller of the public API does.
 *
 * It runs as a fixed pass inside geo_join's traced run, which is where the
 * knn_join layer is measured: as a workload of its own (addr_knn) it did not
 * fit the benchmark's time budget beside the others.
 *
 * Checks per batch: exactly k rows per query, and row-for-row equality with
 * `KnnJoin.knnBrute` (computed in set-up) on a fixed query subsample.
 */
final class AddrKnn(ctx: Ctx, nTargets: Int = 20000, batch: Int = 200,
    nBatches: Int = 8, k: Int = 8, checkEvery: Int = 20) extends Workload {
  import ctx.spark
  import spark.implicits._

  val itemMetric = ("queries_per_s", "queries/s")
  val tracePass = 4

  private var targets: DataFrame = _
  private var queries: IndexedSeq[DataFrame] = _
  private var expected: Map[Long, Seq[(Long, Double, Int)]] = _

  /** `n` points, each in a region drawn with the generator's weights. */
  private def points(n: Int, salt: Long): IndexedSeq[(Double, Double)] = {
    val cum = SynthGeo.Regions.scanLeft(0)(_ + SynthGeo.weight(_)).tail
    (0 until n).map { i =>
      val u = ((ctx.rand(salt + 2L * i) >>> 1) % cum.last).toInt
      val r = SynthGeo.Regions(cum.indexWhere(_ > u))
      SynthGeo.pointInRegion(r, ctx.rand(salt + 2L * i + 1))
    }
  }

  def prepare(dir: String): Unit = {
    targets = points(nTargets, 0x7A000000L).zipWithIndex
      .map { case ((lat, lon), i) => (i.toLong, lat, lon) }.toDF("tid", "lat", "lon")
    val q = points(batch * nBatches, 0x9B000000L)
    queries = (0 until nBatches).map { b =>
      (0 until batch).map { j =>
        val i = b * batch + j
        (i.toLong, q(i)._1, q(i)._2)
      }.toDF("qid", "lat", "lon")
    }
  }

  def expect(): Unit = {
    val sample = queries.reduce(_.unionByName(_)).where($"qid" % checkEvery === 0)
    expected = KnnJoin.knnBrute(sample, targets, k).collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rows) => qid -> rows.map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(_._3).toSeq }
  }

  def op(i: Int): OpResult = {
    val b = i % nBatches
    val (rows, t) = OpResult.timed(
      ctx.span("knn_join", "knnJoin")(KnnJoin.knnJoin(queries(b), targets, k).collect()))
    val byQ = rows.groupBy(_.getLong(0))
    val exact = byQ.size == batch && byQ.values.forall(_.length == k)
    val sampled = byQ.filter(_._1 % checkEvery == 0)
    val oracle = sampled.nonEmpty && sampled.forall { case (qid, rs) =>
      rs.map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(_._3).toSeq == expected(qid)
    }
    OpResult(batch, t, exact && oracle)
  }

  def layers(loopSpans: Seq[Span]): Map[String, Double] = {
    val autores = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val r = ctx.span("knn_join", "autoRes")(KnnJoin.autoRes(targets))
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val calls = loopSpans.filter(_.layer == "knn_join")
    val nodes = calls.flatMap(_.nodes)
    val candidates = nodes.filter(n => n.kind.contains("Join") && n.keys.contains("cell")).map(_.rows).sum.toDouble
    val brute = nodes.filter(n => n.kind == "CartesianProductExec" || n.kind == "BroadcastNestedLoopJoinExec")
      .map(_.rows).sum.toDouble
    val found = calls.size.toDouble * batch * k
    Map(
      "knn_join.res" -> autores.head._1.toDouble,
      "knn_join.autores_s" -> Stats.median(autores.map(_._2)),
      "knn_join.candidates" -> candidates,
      "knn_join.brute_rows" -> brute,
      "knn_join.useful_ratio" -> (if (candidates + brute > 0) found / (candidates + brute) else 0.0),
      "knn_join.call_s" -> Stats.median(calls.map(_.seconds)))
  }
}
