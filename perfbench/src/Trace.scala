package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One traced interval. `parent` is the id of the span that caused it
  * (0 = none); spans of one operation share `op`.
  */
final case class Span(id: Long, name: String, layer: String,
    startNs: Long, endNs: Long, parent: Long, op: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced run. Spans are kept in
  * memory and written out once, at exit; with tracing off every call
  * is a plain pass-through.
  */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val ownNs = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** A fresh id, for a span or an operation. */
  def nextId(): Long = ids.incrementAndGet()

  /** The innermost open span on this thread: (span id, op id). */
  def current: Option[(Long, Long)] = stack.get.headOption

  def record(s: Span): Unit = if (enabled) spans.add(s)

  /** Nanoseconds spent in the tracer's own code so far. */
  def overheadNs: Long = ownNs.get

  /** Time `body` as tracer work. */
  def own[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ownNs.addAndGet(System.nanoTime() - t0)
  }

  /** Called with the thread's innermost open span whenever it changes
    * (the Spark side uses it to tag jobs with their submitting span).
    */
  @volatile var onEnter: Option[(Long, Long)] => Unit = _ => ()

  /** Time `body` as a span of `layer`; nests under the thread's open
    * span, or starts a fresh operation.
    */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent, op) = own {
        val id = nextId()
        val (parent, op) = current.getOrElse((0L, nextId()))
        stack.set((id, op) :: stack.get)
        onEnter(current)
        (id, parent, op)
      }
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        own {
          spans.add(Span(id, name, layer, t0, t1, parent, op))
          stack.set(stack.get.tail)
          onEnter(current)
        }
      }
    }

  def all: Vector[Span] = spans.asScala.toVector
}

object Trace {

  /** Span duration minus the union of its children's intervals. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionNs(kids.getOrElse(s.id, Nil)
        .map(c => (c.startNs.max(s.startNs), c.endNs.min(s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (open && s <= curE) curE = curE.max(e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  /** Source file (without `.scala`) of a Spark call site such as
    * `count at Pipeline.scala:612`; "unknown" when it names none.
    */
  def callSiteFile(callSite: String): String =
    """at ([A-Za-z0-9_$]+)\.(scala|java):\d+""".r
      .findFirstMatchIn(Option(callSite).getOrElse(""))
      .map(_.group(1)).getOrElse("unknown")

  /** Source files of the program's own frames (packages `graft` and
    * `perfbench`) in a long-form call site: the files whose calls the
    * job ran under, innermost first.
    */
  def callChainFiles(longForm: String): Vector[String] =
    """(?m)^\s*(?:at )?(?:graft|perfbench)\.[\w.$]+\(([A-Za-z0-9_$]+)\.(?:scala|java):\d+\)""".r
      .findAllMatchIn(Option(longForm).getOrElse("")).map(_.group(1)).toVector.distinct

  def toJson(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":${q(s.name)},"layer":${q(s.layer)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},""" +
        s""""op":${s.op},"self_ns":${self(s.id)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** One Spark job's call-site file, submitting span and task totals. */
final case class JobStat(file: String, chain: Vector[String], parent: Long, op: Long,
    startNs: Long, var tasks: Int = 0, var runMs: Long = 0,
    var shuffleWrite: Long = 0, var spill: Long = 0)

/** Spark job and task accounting for the traced run: each job becomes
  * a child span of the operation that submitted it, named after the
  * source file of its call site; task end events add run time,
  * shuffle-write and spill bytes per job.
  */
final class JobSpans(trace: Trace) extends SparkListener {

  /** Local properties that carry the submitting span across threads. */
  val ParentProp = "perfbench.span"
  val OpProp = "perfbench.op"

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobStat]()
  /** SQL execution id -> the call site (short, long) that started it. */
  private val executions =
    new java.util.concurrent.ConcurrentHashMap[Long, (String, String)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val done = new ConcurrentLinkedQueue[(Span, JobStat)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = trace.own {
    val props = Option(e.properties)
    def prop(k: String) =
      props.flatMap(p => Option(p.getProperty(k))).map(_.toLong).getOrElse(0L)
    // a job of a SQL query carries the query's call site ("count at
    // Dedup.scala:41"); its stages may have been submitted from a
    // pool thread whose own call site names no repo file. Other jobs
    // are named after their final (highest-id) stage's call site.
    val (site, long) = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executions.get(id.toLong)))
      .getOrElse(e.stageInfos.maxByOption(_.stageId)
        .map(st => (st.name, st.details)).getOrElse(("", "")))
    jobs.put(e.jobId, JobStat(Trace.callSiteFile(site), Trace.callChainFiles(long),
      prop(ParentProp), prop(OpProp), System.nanoTime()))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = trace.own(e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executions.put(s.executionId, (s.description, s.details))
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      executions.remove(s.executionId)
    case _ =>
  })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = trace.own {
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach { js =>
        val m = e.taskMetrics
        js.synchronized {
          js.tasks += 1
          if (m != null) {
            js.runMs += m.executorRunTime
            js.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            js.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = trace.own {
    Option(jobs.remove(e.jobId)).foreach { js =>
      val s = Span(trace.nextId(), s"spark.job:${js.file}", "spark",
        js.startNs, System.nanoTime(), js.parent, js.op)
      trace.record(s)
      done.add((s, js))
    }
  }

  def finished: Vector[(Span, JobStat)] = done.asScala.toVector

  /** Wait (up to 10 s) until every started job has been seen to end —
    * listener events arrive asynchronously.
    */
  def awaitIdle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (!jobs.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def clear(): Unit = done.clear()
}
