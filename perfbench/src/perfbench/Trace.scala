package perfbench

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** Task metrics of the Spark jobs one span ran (its job group). Written by
  * the listener-bus thread, read after [[Bus.drain]]. */
final class SparkStats {
  var jobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inBytes, inRecords, outBytes = 0L
  /** [launch, finish] of every task, epoch ms — for the no-task-running gap. */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def addTask(info: TaskInfo, m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    intervals += ((info.launchTime, info.finishTime))
    if (m != null) {
      taskMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inBytes += m.inputMetrics.bytesRead
      inRecords += m.inputMetrics.recordsRead
      outBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** One executed physical-plan operator, as the per-layer counters need it:
  * operator class, `numOutputRows`, join/grouping key names, whether a join
  * carries a residual condition, and the expression classes it evaluates. */
final case class NodeRec(kind: String, rows: Long, keys: Seq[String],
    hasCondition: Boolean, exprs: Set[String], finalAgg: Boolean)

final class Span(val id: Int, val layer: String, val name: String,
    val parent: Int, val runId: String) {
  var startNs, endNs, startMs, endMs = 0L
  val spark = new SparkStats
  val nodes = mutable.ArrayBuffer.empty[NodeRec]
  /** Counts recorded at the layer boundary by the workload. */
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  def seconds: Double = (endNs - startNs) / 1e9
  /** Rows out of the topmost operator of the span's (single) query. */
  def rootRows: Double = nodes.find(_.rows >= 0).map(_.rows.toDouble).getOrElse(0.0)
}

/**
 * Span tracer for the traced run. `span(layer, name)` wraps a call into one
 * layer's public function: it records name, start, end, parent and run id,
 * tags the span's Spark jobs with a job group of its own, and attributes to
 * the span the task metrics (SparkListener) and executed-plan SQL metrics
 * (QueryExecutionListener) of those jobs. Spans stay in memory and are
 * written out once, at exit. When disabled, `span` only runs its body.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  private val sc = spark.sparkContext
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val byStage = new ConcurrentHashMap[Int, Span]()
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val s = if (g == null) null else byGroup.get(g)
      if (s != null) {
        s.spark.synchronized(s.spark.jobs += 1)
        e.stageIds.foreach(id => byStage.put(id, s))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = byStage.get(e.stageInfo.stageId)
      if (s != null) s.spark.synchronized(s.spark.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = byStage.get(e.stageId)
      if (s != null) s.spark.addTask(e.taskInfo, e.taskMetrics)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pending.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def spans: Seq[Span] = all.toSeq

  private var bookkeepingNs = 0L
  /** Seconds the tracer itself spent draining the bus and walking plans. */
  def bookkeepingS: Double = bookkeepingNs / 1e9

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(all.size, layer, name, stack.headOption.map(_.id).getOrElse(-1), runId)
      all += s
      val group = s"perfbench-$runId-${s.id}"
      byGroup.put(group, s)
      val prev = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
        .map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(group, s"$layer:$name", interruptOnCancel = false)
      stack = s :: stack
      s.startMs = System.currentTimeMillis()
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        prev.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        val t0 = System.nanoTime()
        Bus.drain(sc)
        collectPlans(s)
        bookkeepingNs += System.nanoTime() - t0
      }
    }

  /** Record a count at the boundary of the innermost open span. */
  def count(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.attrs(key) = s.attrs.getOrElse(key, 0.0) + value)

  private def collectPlans(s: Span): Unit = {
    // a cached relation is scanned by several queries of one call; its
    // operators ran once, so each cached plan is walked once per span
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    var qe = pending.poll()
    while (qe != null) {
      walk(qe.executedPlan, s.nodes, seen)
      qe = pending.poll()
    }
  }

  private def walk(p: SparkPlan, out: mutable.ArrayBuffer[NodeRec],
      seen: java.util.Set[SparkPlan]): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, out, seen)
    case q: QueryStageExec => walk(q.plan, out, seen)
    case _: ReusedExchangeExec => ()
    case _ =>
      p match {
        case m: InMemoryTableScanExec =>
          val cached = m.relation.cachedPlan
          if (seen.add(cached)) walk(cached, out, seen)
        case _ => ()
      }
      val rows = p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
      val (keys, cond) = p match {
        case j: BaseJoinExec =>
          ((j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).distinct, j.condition.isDefined)
        case h: HashAggregateExec => (h.groupingExpressions.map(_.name), false)
        case _ => (Nil, false)
      }
      val finalAgg = p match {
        case h: HashAggregateExec => h.requiredChildDistributionExpressions.isDefined
        case _ => false
      }
      val exprs = p.expressions.flatMap(_.collect { case e => e.getClass.getSimpleName }).toSet
      out += NodeRec(p.getClass.getSimpleName, rows, keys, cond, exprs, finalAgg)
      p.children.foreach(walk(_, out, seen))
      p.subqueries.foreach(walk(_, out, seen))
  }

  /** Spark totals over root spans and their children (each job belongs to
    * exactly one span, the innermost open one). */
  def sparkTotals(roots: Seq[Span], slots: Int): Map[String, Double] = {
    val st = roots.flatMap(subtree).map(_.spark)
    def sum(f: SparkStats => Long) = st.map(f).sum.toDouble
    val wallMs = roots.map(s => (s.endNs - s.startNs) / 1e6).sum
    val windows = roots.map(s => (s.startMs, s.endMs))
    val busyMs = windows.map { case (a, b) =>
      coveredMs(st.flatMap(_.intervals).map { case (x, y) => (math.max(x, a), math.min(y, b)) }
        .filter { case (x, y) => y > x })
    }.sum
    Map(
      "jobs" -> sum(_.jobs), "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
      "task_s" -> sum(_.taskMs) / 1e3, "cpu_s" -> sum(_.cpuNs) / 1e9, "gc_s" -> sum(_.gcMs) / 1e3,
      "shuffle_write_bytes" -> sum(_.shuffleWrite), "shuffle_read_bytes" -> sum(_.shuffleRead),
      "spill_bytes" -> sum(_.spill),
      "slot_util" -> (if (wallMs > 0) sum(_.taskMs) / (wallMs * slots) else 0.0),
      "driver_gap_s" -> math.max(0.0, windows.map { case (a, b) => (b - a).toDouble }.sum - busyMs) / 1e3)
  }

  private def coveredMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- iv.sortBy(_._1)) {
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }

  /** Children (transitively) of `s`, including itself. */
  def subtree(s: Span): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    def go(x: Span): Seq[Span] = x +: kids.getOrElse(x.id, Nil).toSeq.flatMap(go)
    go(s)
  }

  def writeJsonl(path: java.nio.file.Path, slots: Int): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    // one line per span; "spark" holds the span's task metrics including
    // its children's, and a last "trace" line the tracer's own cost
    val lines = all.map { s =>
      Json.obj(Seq[(String, Any)](
        "run_id" -> s.runId, "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "spark" -> sparkTotals(Seq(s), slots), "plan_nodes" -> s.nodes.size) ++ s.attrs.toSeq)
    } :+ Json.obj(Seq("run_id" -> runId, "id" -> all.size, "parent" -> -1, "layer" -> "trace",
      "name" -> "bookkeeping", "seconds" -> bookkeepingS))
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }
}
