package loadbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One call into a layer: `parent` is -1 for an op's root span; spans
  * of one op share `req`. */
final case class Span(id: Int, parent: Int, req: Long, layer: String,
    name: String, startNs: Long, endNs: Long)

object Spans {

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover (overlapping children are
    * merged, and children are clipped to the parent's interval). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }
}

/** Task-metric totals: for the whole application, or for one span. */
final class Acc {
  val cpuNs, runMs, tasks, jobs, shuffleWriteB, spillB, schedMs, maxStageTasks =
    new AtomicLong
}

/** Totals at one instant; window figures are differences of two. */
final case class Totals(cpuMs: Double, runMs: Double, tasks: Long, jobs: Long,
    cutJobs: Long, shuffleWriteMb: Double, spillMb: Double, schedMs: Double) {
  def -(o: Totals): Totals = Totals(cpuMs - o.cpuMs, runMs - o.runMs,
    tasks - o.tasks, jobs - o.jobs, cutJobs - o.cutJobs,
    shuffleWriteMb - o.shuffleWriteMb, spillMb - o.spillMb, schedMs - o.schedMs)
}

/** A listener that sums task metrics (executor CPU from
  * `executorCpuTime`, run time, shuffle write, spill, scheduler delay)
  * for the application and per job group. The tracer sets one job group
  * per span, so a group's figures are the span's. */
final class Meter extends SparkListener {
  private val app = new Acc
  private val cutJobs = new AtomicLong
  private val groups = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def groupAcc(g: String): Acc =
    if (g == null) null else groups.computeIfAbsent(g, _ => new Acc)

  /** A job whose result stage was called from the program's lineage-cut
    * helpers (`Graph.localCut` and its wrappers) is an eager cut job;
    * Spark names a stage after its call site. */
  private def isCut(stageName: String): Boolean =
    stageName.startsWith("count at Graph.scala") ||
      stageName.startsWith("count at TextDedup.scala")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    e.stageIds.foreach(id => if (g != null) stageGroup.put(id, g))
    app.jobs.incrementAndGet()
    Option(groupAcc(g)).foreach(_.jobs.incrementAndGet())
    if (e.stageInfos.nonEmpty && isCut(e.stageInfos.maxBy(_.stageId).name))
      cutJobs.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(groupAcc(stageGroup.get(e.stageInfo.stageId))).foreach { a =>
      a.maxStageTasks.accumulateAndGet(e.stageInfo.numTasks, math.max(_, _))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val sched = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      val spill = m.memoryBytesSpilled + m.diskBytesSpilled
      (Seq(app) ++ Option(groupAcc(stageGroup.get(e.stageId)))).foreach { a =>
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.runMs.addAndGet(m.executorRunTime)
        a.tasks.incrementAndGet()
        a.shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spillB.addAndGet(spill)
        a.schedMs.addAndGet(sched)
      }
    }
  }

  def totals: Totals = Totals(app.cpuNs.get / 1e6, app.runMs.get.toDouble,
    app.tasks.get, app.jobs.get, cutJobs.get, app.shuffleWriteB.get / 1048576.0,
    app.spillB.get / 1048576.0, app.schedMs.get.toDouble)

  def group(g: String): Option[Acc] = Option(groups.get(g))
}

/** Spans around the benchmark's calls into each layer. When disabled,
  * [[span]] only runs its body and [[boundary]] returns its input. */
final class Tracer(spark: SparkSession, meter: Meter) {
  @volatile var enabled = false
  var req = 0L
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[(Int, String, Long)] // (id, name, start)
  private val counters = mutable.Map.empty[(Int, String), Double]
  private val materialized = mutable.ArrayBuffer.empty[DataFrame]

  private def group(id: Int) = s"span-$id"

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val sc = spark.sparkContext
      stack = (id, name, System.nanoTime()) :: stack
      sc.setJobGroup(group(id), name, interruptOnCancel = false)
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        buf += Span(id, parent, req, layer, name, start, System.nanoTime())
        stack.headOption match {
          case Some((pid, pname, _)) => sc.setJobGroup(group(pid), pname, false)
          case None                  => sc.clearJobGroup()
        }
      }
    }

  /** Add `v` to counter `key` of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach { case (id, _, _) =>
      counters((id, key)) = counters.getOrElse((id, key), 0.0) + v
    }

  /** Materialize a layer's lazy output inside its span, so its execution
    * lands in that layer, and add its row count to counter `key`;
    * released by [[endOp]]. */
  def boundary(key: String, df: DataFrame): DataFrame =
    if (!enabled) df
    else {
      val p = df.persist()
      count(key, Act.count(p, this).toDouble)
      materialized += p
      p
    }

  def boundary(df: DataFrame): DataFrame = boundary("rows", df)

  def endOp(): Unit = {
    materialized.foreach(_.unpersist(blocking = false))
    materialized.clear()
  }

  def spans: Seq[Span] = buf.toSeq
  def counter(id: Int, key: String): Double = counters.getOrElse((id, key), 0.0)
  def acc(id: Int): Option[Acc] = meter.group(group(id))
}

/** Actions the benchmark runs. Each records the Catalyst phase times of
  * the query it ran (analysis, optimization, physical planning) on the
  * current span as `plan_ms`. */
object Act {
  private def planMs(df: DataFrame, tr: Tracer): Unit =
    if (tr.enabled)
      tr.count("plan_ms", df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble)

  def collect(df: DataFrame, tr: Tracer): Array[org.apache.spark.sql.Row] = {
    val rows = df.collect()
    planMs(df, tr)
    rows
  }

  def count(df: DataFrame, tr: Tracer): Long = {
    val c = df.groupBy().count()
    val n = c.collect()(0).getLong(0)
    planMs(c, tr)
    n
  }

  /** Rows delivered by the leaf scans of an executed query. */
  def rowsScanned(df: DataFrame): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case other                    => other +: other.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).filter(_.children.isEmpty)
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
  }
}
