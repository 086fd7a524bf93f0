package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A span: one call the benchmark made into a module of the engine. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Long, var end: Long = -1L) {
  def ms: Double = (end - start) / 1e6
}

/** What the listener saw of one Spark job. Times are epoch ms. */
final class JobRec(val id: Int, val start: Long, val span: Int,
    val execution: Long, val stages: Seq[Int]) {
  @volatile var end: Long = -1L
}

final class StageRec {
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

final class ExecRec(val id: Long, val start: Long, val plan: String) {
  @volatile var end: Long = -1L
}

/** Traced mode: spans around each call the benchmark makes into the
  * engine, plus a listener that records jobs, stages and SQL executions.
  * A span tags the jobs its thread submits (`addJobTag`), so every job is
  * attributed to the innermost span open on the thread that ran it; jobs
  * submitted from threads the tag does not reach (engine-owned pools)
  * stay untagged and are counted as such.
  *
  * Span times are `System.nanoTime`; listener times are epoch ms. The
  * two clocks are joined through one offset taken at construction.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val nanoToEpochMs: Long =
    System.currentTimeMillis() - System.nanoTime() / 1000000L
  def epochMs(nanos: Long): Long = nanos / 1000000L + nanoToEpochMs

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val executions = new ConcurrentHashMap[Long, ExecRec]()
  private val TagPrefix = "perfbench-span-"

  sc.addSparkListener(this)

  /** Runs `body` inside a span; nested calls become child spans. */
  def span[A](layer: String, name: String)(body: => A): A = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
      layer, name, System.nanoTime())
    spans += s
    stack.headOption.foreach(p => sc.removeJobTag(TagPrefix + p.id))
    sc.addJobTag(TagPrefix + s.id)
    stack.push(s)
    try body
    finally {
      s.end = System.nanoTime()
      stack.pop()
      sc.removeJobTag(TagPrefix + s.id)
      stack.headOption.foreach(p => sc.addJobTag(TagPrefix + p.id))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(",")).find(_.startsWith(TagPrefix))
      .map(_.stripPrefix(TagPrefix).toInt).getOrElse(-1)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, tag, exec, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      val r = stages.computeIfAbsent(e.stageInfo.stageId, _ => new StageRec)
      r.synchronized {
        r.cpuNs += m.executorCpuTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions.put(s.executionId,
        new ExecRec(s.executionId, s.time, s.physicalPlanDescription))
    case s: SparkListenerSQLExecutionEnd =>
      Option(executions.get(s.executionId)).foreach(_.end = s.time)
    case _ =>
  }

  /** Waits (bounded) until every started job has its end event. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (jobs.values.asScala.exists(_.end < 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  // ---- derived measures ----

  /** Spans in the subtree rooted at `s` (itself included). */
  def subtree(s: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(k => go(k.id))
    go(s.id).toSet
  }

  /** Whether a job's tag names the span that was open when it started.
    * A thread created inside a span inherits the span's tag and keeps
    * it (Spark copies local properties into new threads), so an engine
    * pool thread born during one call submits later jobs under a stale
    * tag; those count as untagged. */
  private def tagged(j: JobRec): Boolean = j.span >= 0 && {
    val s = spans(j.span)
    j.start >= epochMs(s.start) - 1 && (s.end < 0 || j.start <= epochMs(s.end) + 1)
  }

  def jobsOf(span: Span): Seq[JobRec] = {
    val ids = subtree(span)
    jobs.values.asScala.filter(j => ids(j.span) && tagged(j)).toSeq
  }

  /** Jobs started in [from, to] (epoch ms) that carry no valid span tag. */
  def untaggedJobs(from: Long, to: Long): Int =
    jobs.values.asScala.count(j => !tagged(j) && j.start >= from && j.start <= to)

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 >= i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  def intervals(js: Seq[JobRec]): Seq[(Long, Long)] =
    js.filter(_.end >= 0).map(j => (j.start, j.end))

  def stageSum(js: Seq[JobRec])(f: StageRec => Long): Long =
    js.flatMap(_.stages).distinct
      .flatMap(id => Option(stages.get(id))).map(f).sum

  /** Head, jobs, gap and tail of one span, in ms: call to first job,
    * the union of job intervals, driver time between jobs, last job to
    * return. */
  def phases(s: Span): (Double, Double, Double, Double, Int) = {
    val js = jobsOf(s).filter(_.end >= 0)
    val st = epochMs(s.start)
    val en = epochMs(s.end)
    if (js.isEmpty) (en - st.toDouble, 0.0, 0.0, 0.0, 0)
    else {
      val first = js.map(_.start).min
      val last = js.map(_.end).max
      val busy = union(intervals(js)).toDouble
      (math.max(first - st, 0).toDouble, busy,
        math.max(last - first - busy, 0).toDouble,
        math.max(en - last, 0).toDouble, js.size)
    }
  }
}
