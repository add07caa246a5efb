package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock helper: epoch milliseconds with sub-millisecond resolution, on
  * the same axis as the scheduler's job start/end stamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed interval in the traced run. `layer` is the module the interval
  * is spent in; `parent` is the enclosing span (-1 for a pass). Jobs seen by
  * the listener become spans too, parented through their job group.
  */
final case class Span(id: Long, pass: Int, name: String, layer: String, parent: Long,
    start: Double, end: Double)

/** Spans of the traced passes, kept in memory and written out at exit. The
  * benchmark opens a span around each of its own calls into a layer and sets
  * the span id as the Spark job group, so the listener can attach jobs.
  */
final class Spans {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Long, String, String, Double)]
  var pass: Int = -1

  def current: Long = if (stack.isEmpty) -1L else stack.top._1

  def open(name: String, layer: String): Long = {
    val id = nextId.incrementAndGet()
    stack.push((id, name, layer, Clock.ms()))
    id
  }

  def close(): Span = {
    val (id, name, layer, start) = stack.pop()
    val parent = if (stack.isEmpty) -1L else stack.top._1
    val s = Span(id, pass, name, layer, parent, start, Clock.ms())
    synchronized(done += s)
    s
  }

  def add(s: Span): Unit = synchronized(done += s)
  def all: Seq[Span] = synchronized(done.toList)
  def freshId(): Long = nextId.incrementAndGet()
}

/** Block-manager storage (memory + disk) over all blocks, with named
  * peaks that restart at [[mark]]; registered in traced runs.
  */
final class StorageListener extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  private val peaks = mutable.HashMap.empty[String, Long]
  private var total = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
    val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    total += now - sizes.getOrElse(key, 0L)
    if (now == 0L) sizes.remove(key) else sizes(key) = now
    peaks.keys.toList.foreach(k => peaks(k) = math.max(peaks(k), total))
  }

  def mark(name: String): Unit = synchronized { peaks(name) = total }
  def peak(name: String): Long = synchronized(peaks.getOrElse(name, total))
  def current: Long = synchronized(total)
}

/** A job with its group and its call site: `site` is the short form
  * ("count at Foo.scala:12"), `stack` the driver frames that launched it.
  */
final case class JobRec(id: Int, group: String, site: String, stack: String, start: Double,
    var end: Double)
final case class TaskRec(stage: Int, durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shufReadB: Long, shufWriteB: Long, spillB: Long, retry: Boolean)

/** Scheduler counters for the traced run: every job with its job group and
  * call site, every task's metrics, and every executed query plan.
  */
final class TraceListener extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stages = mutable.HashSet.empty[Int]
  private val plans = mutable.ArrayBuffer.empty[QueryExecution]
  // SQL execution id -> the driver frames of the action that started it. Jobs
  // of adaptive query stages are submitted from a pool thread, so their own
  // call site names no engine code; their execution's call site does.
  private val executionSites = mutable.HashMap.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(executionSites(s.executionId.toString) = s.details)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val result = e.stageInfos.sortBy(_.stageId).lastOption
    val execution = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val stack = execution.flatMap(executionSites.get).orElse(result.map(_.details)).getOrElse("")
    jobs += JobRec(e.jobId, group.getOrElse(""), result.map(_.name).getOrElse(""), stack,
      e.time.toDouble, Double.NaN)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    tasks += TaskRec(e.stageId, e.taskInfo.duration,
      m.map(_.executorRunTime).getOrElse(0L), m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L), m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.diskBytesSpilled).getOrElse(0L),
      e.taskInfo.attemptNumber > 0 || e.reason != org.apache.spark.Success)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(plans += qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def planCount: Int = synchronized(plans.size)

  /** Ended jobs, tasks and the number of stages seen since [[clear]]. */
  def snapshot: (List[JobRec], List[TaskRec], Int) =
    synchronized((jobs.filter(!_.end.isNaN).toList, tasks.toList, stages.size))

  def jobsRunning: Boolean = synchronized(jobs.exists(_.end.isNaN))

  /** The last plan reported after index `from`, waiting briefly for the
    * asynchronous listener bus to deliver it.
    */
  def lastPlanAfter(from: Int): Option[QueryExecution] = {
    val deadline = System.nanoTime() + 5000000000L
    while (planCount <= from && System.nanoTime() < deadline) Thread.sleep(5)
    synchronized(if (plans.size > from) Some(plans.last) else None)
  }

  def clear(): Unit = synchronized {
    jobs.clear(); tasks.clear(); stages.clear(); plans.clear(); executionSites.clear()
  }
}

object Plans {
  /** (shuffle exchanges, broadcast exchanges) in a query's final executed
    * plan, descending into adaptive final plans, query stages and subqueries.
    * Reused exchanges are not counted again.
    */
  def exchanges(qe: QueryExecution): (Int, Int) = {
    var shuffles = 0
    var broadcasts = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => ()
      case other =>
        other match {
          case _: ShuffleExchangeLike => shuffles += 1
          case _: BroadcastExchangeLike => broadcasts += 1
          case _ => ()
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    (shuffles, broadcasts)
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The parts of `iv` that none of `cut` covers. */
  def minus(iv: (Double, Double), cut: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    var from = iv._1
    cut.filter { case (s, e) => e > iv._1 && s < iv._2 }.sortBy(_._1).foreach { case (s, e) =>
      if (s > from) out += ((from, s))
      from = math.max(from, e)
    }
    if (iv._2 > from) out += ((from, iv._2))
    out.toSeq
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curE.isNaN) total += curE - curS
    total
  }
}
