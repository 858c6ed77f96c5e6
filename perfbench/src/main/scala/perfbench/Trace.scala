package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are nanoseconds on the `System.nanoTime`
  * clock; Spark job spans are converted from the scheduler's wall clock.
  */
final case class Span(id: Long, parent: Long, name: String, op: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Work the scheduler did on behalf of one span (or of the whole run, key 0). */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var runNs = 0L // executor run time
  var delayNs = 0L // scheduler delay: task duration not spent deserializing,
  // running or serializing the result
  var shuffleBytes = 0L
  var spillBytes = 0L
  var taskFailures = 0L
  var stageRetries = 0L
}

/** The benchmark's own span recorder and SparkListener.
  *
  * A span is opened around each call into the engine; while it is open the
  * calling thread carries its id as the local property [[SpanKey]], which
  * Spark copies into every job the call launches (including broadcast and
  * subquery jobs on Spark's own threads). The listener reads the property
  * back from each job start, so jobs, tasks, shuffle and spill bytes are
  * attributed to the span that caused them, and job intervals are kept as
  * child spans of it. Spans stay in memory until [[writeSpans]].
  *
  * With `traced = false` the recorder still keeps the run-level totals
  * (key 0), which the end-to-end metrics need, but opens no spans.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) extends SparkListener {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val work = mutable.HashMap.empty[Long, Work]
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  // nanoTime <-> epoch-ms offset for converting scheduler timestamps
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  private def toNano(ms: Long): Long = nano0 + (ms - ms0) * 1000000L

  spark.sparkContext.addSparkListener(this)
  // executed plans arrive on the listener bus thread, which does not carry
  // the caller's span; the harness takes them after each operation instead
  private val planExchanges = new ConcurrentLinkedQueue[java.lang.Long]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planExchanges.add(exchanges(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  if (traced) spark.listenerManager.register(qeListener)

  /** Exchanges in the plans executed since the last call (call after [[drain]]). */
  def takeExchanges(): Long = {
    var n = 0L
    var v = planExchanges.poll()
    while (v != null) { n += v; v = planExchanges.poll() }
    n
  }

  private def workOf(span: Long): Work = work.getOrElseUpdate(span, new Work)

  /** Run `body` inside a span named `name`, attributed to operation `op`. */
  def span[T](name: String, op: String = "")(body: => T): T = spanned(name, op)(body)._1

  /** [[span]], also returning the span's id (0 when not traced). */
  def spanned[T](name: String, op: String = "")(body: => T): (T, Long) = {
    if (!traced) return (body, 0L)
    val id = ids.incrementAndGet()
    val parents = stack.get
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty(SpanKey)
    stack.set(id :: parents)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.nanoTime()
    try (body, id)
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(SpanKey, saved)
      stack.set(parents)
      spans.add(Span(id, parents.headOption.getOrElse(0L), name, op, t0, t1))
    }
  }

  /** Wait for the listener bus, so every event of finished work is counted. */
  def drain(): Unit = graft.StageMetrics.drain(spark)

  /** Run-level totals so far (a copy). */
  def totals: Work = synchronized { copy(workOf(0)) }

  def workFor(span: Long): Work = synchronized { copy(work.getOrElse(span, new Work)) }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  private def copy(w: Work): Work = {
    val c = new Work
    c.jobs = w.jobs; c.tasks = w.tasks; c.runNs = w.runNs; c.delayNs = w.delayNs
    c.shuffleBytes = w.shuffleBytes; c.spillBytes = w.spillBytes
    c.taskFailures = w.taskFailures; c.stageRetries = w.stageRetries
    c
  }

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    jobSpan(e.jobId) = s
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(st => stageJob(st) = e.jobId)
    workOf(0).jobs += 1
    if (s != 0) workOf(s).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val s = jobSpan.getOrElse(e.jobId, 0L)
    if (traced && s != 0)
      spans.add(Span(-e.jobId.toLong - 1, s, "spark.job", "",
        toNano(jobStartMs.getOrElse(e.jobId, e.time)), toNano(e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.stageInfo.attemptNumber() > 0) {
      val s = stageJob.get(e.stageInfo.stageId).flatMap(jobSpan.get).getOrElse(0L)
      workOf(0).stageRetries += 1
      if (s != 0) workOf(s).stageRetries += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stageJob.get(e.stageId).flatMap(jobSpan.get).getOrElse(0L)
    val targets = if (s != 0) Seq(workOf(0), workOf(s)) else Seq(workOf(0))
    val info = e.taskInfo
    val m = e.taskMetrics
    targets.foreach { w =>
      w.tasks += 1
      if (e.reason != TaskSuccess) w.taskFailures += 1
      if (m != null) {
        w.runNs += m.executorRunTime * 1000000L
        val delayMs = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        w.delayNs += math.max(0L, delayMs) * 1000000L
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    if (traced) spark.listenerManager.unregister(qeListener)
  }

  /** Span duration minus the part of it covered by its children. */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Write every span as one JSON line, times in ms from the first span. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val all = allSpans
    val t0 = all.headOption.map(_.start).getOrElse(0L)
    val self = selfTimes(all)
    val lines = all.map { s =>
      val w = workFor(s.id)
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6,
        "self_ms" -> self(s.id) / 1e6, "jobs" -> w.jobs, "tasks" -> w.tasks,
        "shuffle_bytes" -> w.shuffleBytes, "spill_bytes" -> w.spillBytes)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Exchange operators in an executed plan, looking through adaptive query
    * stages and subqueries. Reused exchanges are not counted again.
    */
  def exchanges(plan: SparkPlan): Long = {
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case e: Exchange => 1L + e.children.map(walk).sum
      case other => other.children.map(walk).sum + other.subqueries.map(walk).sum
    }
    walk(plan)
  }
}
