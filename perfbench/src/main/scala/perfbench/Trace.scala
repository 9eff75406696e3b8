package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed interval of the client thread: a statement (root, parent 0)
  * or a call into one layer under it. Times are epoch nanoseconds so that
  * they line up with the listener's job times (epoch milliseconds). */
final class Span(val id: Long, val parent: Long, val stmt: Long,
    val name: String, val start: Long) {
  var end: Long = 0L
}

/** In-memory span recorder for the benchmark's single client thread.
  *
  * Spans are recorded only when `on`; otherwise [[span]] is a plain call.
  * The innermost open span id is published in two places: [[current]]
  * (read by filesystem calls made on the client thread) and the Spark
  * local property `perfbench.span` (inherited by the jobs the thread
  * submits, so both the listener and executor-side filesystem calls can
  * name the span that caused them). */
object Trace {
  @volatile var on = false
  @volatile var current = 0L
  val SpanProp = "perfbench.span"

  private val ids = new AtomicLong(0)
  private val nanoBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _
  val spans = ArrayBuffer.empty[Span]

  def now(): Long = nanoBase + System.nanoTime()

  def attach(context: SparkContext): Unit = sc = context

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val id = ids.incrementAndGet()
      val s = new Span(id, parent.map(_.id).getOrElse(0L),
        parent.map(_.stmt).getOrElse(id), name, now())
      spans += s
      enter(s :: stack)
      try body
      finally {
        s.end = now()
        enter(stack.tail)
      }
    }

  private def enter(st: List[Span]): Unit = {
    stack = st
    current = st.headOption.map(_.id).getOrElse(0L)
    if (sc != null)
      sc.setLocalProperty(SpanProp,
        st.headOption.map(_.id.toString).orNull)
  }

  /** Span id an operation on the calling thread belongs to: the task's
    * submitting span on an executor thread, else the client's open span. */
  def owner(): Long = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc == null) current
    else Option(tc.getLocalProperty(SpanProp)).map(_.toLong).getOrElse(0L)
  }
}

/** Filesystem operation counts by (span, kind), filled by
  * [[CountingLocalFileSystem]] while tracing is on. */
object FsCounts {
  val byKey = new ConcurrentHashMap[(Long, String), LongAdder]()

  def hit(kind: String): Unit =
    if (Trace.on)
      byKey.computeIfAbsent((Trace.owner(), kind), _ => new LongAdder)
        .increment()

  def snapshot(): Seq[(Long, String, Long)] =
    byKey.asScala.toSeq.map { case ((s, k), v) => (s, k, v.sum()) }
}

final case class JobRec(jobId: Int, span: Long, startMs: Long,
    var endMs: Long = 0L, var tasks: Int = 0, var taskMs: Long = 0L,
    var shuffleWrite: Long = 0L, var spill: Long = 0L)

/** Spark jobs, tagged with the span that submitted them. Events are only
  * collected here; they are joined with the spans after the session has
  * stopped (which drains the listener bus), never waited on mid-run. */
final class JobLog extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, JobRec(e.jobId, span, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach { j =>
        j.synchronized {
          j.tasks += 1
          j.taskMs += e.taskInfo.duration
          val m = e.taskMetrics
          if (m != null) {
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
}
