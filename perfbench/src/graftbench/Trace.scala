package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.{DataWritingCommand, DataWritingCommandExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark span: a call from the benchmark into a program layer.
  * Times are epoch microseconds. `unit` is the workload unit (one
  * catalog run or one query pass) the span belongs to. */
final case class Span(id: Int, name: String, parent: Int, unit: Int, op: String,
    start: Long, var end: Long = -1L)

/** Per-span counters that Spark's listener bus reports. */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, gcMs, cpuNs = 0L
  var inBytes, inRecords, shufW, shufR, spill = 0L
}

/** A Spark job seen by the listener, attached to the span that launched it
  * through the `graftbench.span` local property. */
final case class Job(id: Int, span: Int, start: Long, var end: Long = -1L)

/** A finished SQL execution (epoch µs): planned from `planStart`, run
  * from `start` to `end`; for a file write, its output path and written
  * files/bytes. */
final case class Exec(planStart: Long, start: Long, end: Long, planMs: Long,
    path: Option[String], files: Long, bytes: Long)

/** In-memory span recorder plus the listeners that attach Spark jobs,
  * tasks and SQL executions to the span that caused them. With
  * `on == false` every call is a plain pass-through and nothing is
  * recorded. */
final class Tracer(sc: SparkContext) {
  @volatile var on = false
  var unit = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Span]()
  val jobs = mutable.ArrayBuffer.empty[Job]
  val work = mutable.HashMap.empty[Int, Work]
  val execs = mutable.ArrayBuffer.empty[Exec]
  val cached = mutable.HashMap.empty[Int, mutable.Set[Int]]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  def now(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def span[T](name: String, op: String = "")(f: => T): T =
    if (!on) f
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.fold(-1)(_.id), unit,
        if (op.nonEmpty) op else parent.fold("")(_.op), now())
      spans += s
      stack.push(s)
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try f
      finally {
        s.end = now()
        stack.pop()
        sc.setLocalProperty(Tracer.Prop, parent.map(_.id.toString).orNull)
      }
    }

  private def workOf(span: Int): Work = work.getOrElseUpdate(span, new Work)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
        .map(_.toInt).getOrElse(-1)
      jobs += Job(e.jobId, span, e.time * 1000L)
      workOf(span).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time * 1000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) synchronized {
      val span = stageSpan.getOrElse(e.stageInfo.stageId, -1)
      val ids = e.stageInfo.rddInfos.filter(_.storageLevel.isValid).map(_.id)
      if (ids.nonEmpty) cached.getOrElseUpdate(span, mutable.Set.empty) ++= ids
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) synchronized {
      workOf(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
      val w = workOf(stageSpan.getOrElse(e.stageId, -1))
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.inBytes += m.inputMetrics.bytesRead
        w.inRecords += m.inputMetrics.recordsRead
        w.shufW += m.shuffleWriteMetrics.bytesWritten
        w.shufR += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) record(qe, durationNs)
    override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  /** The listener bus calls back after the fact, so the execution is
    * placed by its own clock: planning phases first, then `durationNs`. */
  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val planMs = phases.map(_.durationMs).sum
      val start = phases.map(_.endTimeMs).max * 1000L
      val write = Tracer.writeOf(qe.executedPlan)
      val path = write.collect { case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString }
      def metric(k: String) = write.flatMap(_.metrics.get(k)).map(_.value).getOrElse(0L)
      synchronized {
        execs += Exec(phases.map(_.startTimeMs).min * 1000L, start,
          start + durationNs / 1000L, planMs, path, metric("numFiles"), metric("numOutputBytes"))
      }
    }
  }

  def install(spark: SparkSession): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
}

object Tracer {
  val Prop = "graftbench.span"

  /** The file-write command of a plan, also under adaptive execution. */
  def writeOf(p: SparkPlan): Option[DataWritingCommand] = p match {
    case d: DataWritingCommandExec => Some(d.cmd)
    case a: AdaptiveSparkPlanExec => writeOf(a.executedPlan)
    case q: QueryStageExec => writeOf(q.plan)
    case other => other.children.view.flatMap(writeOf).headOption
  }

  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    for ((s, e) <- iv.sortBy(_._1)) {
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  /** Part of [s, e) covered by the given intervals. */
  def coveredWithin(s: Long, e: Long, iv: Seq[(Long, Long)]): Long =
    covered(iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) }.filter(x => x._2 > x._1))
}
