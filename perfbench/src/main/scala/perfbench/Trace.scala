package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. A span covers one call the
  * benchmark makes into graft; Spark jobs become child spans of the span
  * that was open on the submitting thread (carried to Spark as a local
  * property, which threads a graft component starts inherit). Nothing is
  * written until [[Tracer.write]] at exit.
  *
  * When tracing is off every method is a cheap no-op, so untraced runs pay
  * nothing for the instrumentation points. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val nextId = new AtomicInteger(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val selfNs = new AtomicLong(0)
  @volatile private var sc: Option[SparkContext] = None
  private var listener: Option[JobListener] = None

  /** Register the job listener on `sc`. */
  def attach(context: SparkContext): Unit = if (enabled) {
    val l = new JobListener(this)
    context.addSparkListener(l)
    sc = Some(context); listener = Some(l)
  }

  /** Id of the innermost span open on this thread, 0 when none. */
  def currentSpan: Int = stack.get.headOption.getOrElse(0)

  /** Nanoseconds spent inside the tracer's own code: span bookkeeping and
    * listener callbacks. Most callbacks run on Spark's listener-bus thread,
    * off the measured path, so this is not the cost of tracing; compare a
    * traced and an untraced run for that (perfbench/overhead.py). */
  def callbackNs: Long = selfNs.get

  private[perfbench] def charge(t0: Long): Unit = selfNs.addAndGet(System.nanoTime() - t0)

  /** Run `body` inside a span named `name`; Spark jobs it submits from this
    * thread (or from threads it starts) become children of the span. */
  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val prevProp = sc.map(_.getLocalProperty(SpanProp))
      sc.foreach(_.setLocalProperty(SpanProp, id.toString))
      charge(t0)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack.set(stack.get.drop(1))
        sc.foreach(_.setLocalProperty(SpanProp, prevProp.flatMap(Option(_)).orNull))
        spans.add(Span(id, parent, name, start, end, attrs.toMap))
        charge(end)
      }
    }

  /** Record an already-measured span (for example a serving request, which
    * starts at its due time on one thread and ends on another). */
  def record(name: String, start: Long, end: Long, attrs: (String, Any)*): Unit =
    if (enabled) {
      val t0 = System.nanoTime()
      spans.add(Span(nextId.getAndIncrement(), 0, name, start, end, attrs.toMap))
      charge(t0)
    }

  private[perfbench] def addJob(s: Span): Unit = spans.add(s)
  private[perfbench] def newId(): Int = nextId.getAndIncrement()

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Listener-side job facts, complete once Spark's listener bus drains. */
  def jobFacts: Seq[JobFact] = listener.map(_.facts).getOrElse(Seq.empty)

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = listener.foreach(_.drain())

  /** Write every span as one JSON object per line, with its self time:
    * its duration minus the part of it that its children cover. */
  def write(path: String): Unit = if (enabled) {
    val all = allSpans
    val children = all.groupBy(_.parent)
    val base = all.map(_.start).minOption.getOrElse(0L)
    val lines = all.sortBy(_.start).map { s =>
      val attrs = s.attrs.map { case (k, v) => Json.str(k) + ":" + Json.value(v) }
        .mkString("{", ",", "}")
      val covered = Stats.unionLength(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        f""""start_ms":${(s.start - base) / 1e6}%.3f,"dur_ms":${(s.end - s.start) / 1e6}%.3f,""" +
        f""""self_ms":${(s.end - s.start - covered) / 1e6}%.3f,"attrs":$attrs}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  /** Names the graft component (search or ingest server) whose threads
    * submitted a job; set around the component's construction. */
  val ComponentProp = "perfbench.component"

  /** A tracer that records nothing. */
  val off = new Tracer(false)

  final case class Span(id: Int, parent: Int, name: String, start: Long,
      end: Long, attrs: Map[String, Any])

  /** What the listener learned about one job: its stages' task counts,
    * CPU, shuffle and spill. */
  final case class JobFact(jobId: Int, span: Int, component: String,
      start: Long, end: Long, stages: Int, tasks: Int, taskCpuNs: Long,
      shuffleBytes: Long, spillBytes: Long)

  /** Maps Spark's job and stage events onto spans. Event times are wall
    * clock ms; they are converted to the nanoTime base the spans use. */
  private final class JobListener(tracer: Tracer) extends SparkListener {
    private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    private case class Open(span: Int, component: String, start: Long, stageIds: Seq[Int])
    private val open = new java.util.concurrent.ConcurrentHashMap[Int, Open]()
    private val stageFacts = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long, Long, Long)]()
    private val done = new ConcurrentLinkedQueue[JobFact]()

    def facts: Seq[JobFact] = done.asScala.toSeq

    def drain(): Unit = {
      Thread.sleep(200) // let events already posted reach the bus
      val deadline = System.nanoTime() + 10_000_000_000L
      while (open.size > 0 && System.nanoTime() < deadline) Thread.sleep(5)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val t0 = System.nanoTime()
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val span = prop(SpanProp).flatMap(_.toIntOption).getOrElse(0)
      open.put(e.jobId, Open(span, prop(ComponentProp).getOrElse(""),
        e.time * 1000000L + offsetNs, e.stageIds))
      tracer.charge(t0)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val t0 = System.nanoTime()
      val info = e.stageInfo
      val m = info.taskMetrics
      if (m != null)
        stageFacts.put(info.stageId, (info.numTasks, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled))
      else stageFacts.put(info.stageId, (info.numTasks, 0L, 0L, 0L))
      tracer.charge(t0)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = System.nanoTime()
      Option(open.remove(e.jobId)).foreach { o =>
        val end = e.time * 1000000L + offsetNs
        // skipped stages never complete and carry no facts
        val fs = o.stageIds.flatMap(id => Option(stageFacts.remove(id)))
        val fact = JobFact(e.jobId, o.span, o.component, o.start, end, fs.size,
          fs.map(_._1).sum, fs.map(_._2).sum, fs.map(_._3).sum, fs.map(_._4).sum)
        done.add(fact)
        tracer.addJob(Span(tracer.newId(), o.span, "spark.job", o.start, end,
          Map("job" -> e.jobId, "stages" -> fact.stages, "tasks" -> fact.tasks)))
      }
      tracer.charge(t0)
    }
  }
}
