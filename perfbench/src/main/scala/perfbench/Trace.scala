package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Interval arithmetic shared by span self time and time outside jobs. */
object Intervals {

  /** Length of the union of `xs`, each clipped to `[lo, hi)`. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One traced call. `op` is the timed operation it belongs to (-1 for a
  * layer probe run outside the timed operations); `parent` is 0 at a root.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long, startMs: Long) {
  def durNs: Long = endNs - startNs
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

object Span {

  /** A span's duration minus the part of it its direct children cover. */
  def selfNs(span: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == span.id).map(k => (k.startNs, k.endNs))
    span.durNs - Intervals.covered(kids, span.startNs, span.endNs)
  }
}

/** Spark counts attributed to one span through its job group. */
final class SparkCounts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  val jobIntervalsMs = mutable.ArrayBuffer[(Long, Long)]()

  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input; output += o.output
    jobIntervalsMs ++= o.jobIntervalsMs
  }
}

/** Records spans around calls into the program, kept in memory until the
  * run ends. Disabled, [[span]] is a plain call. Enabled, each span sets
  * the thread's Spark job group to its own id for its extent, so the
  * [[Listeners]] can attribute jobs, stages and tasks to it.
  */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  private val nextId = new AtomicInteger(1)
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val done = new ConcurrentLinkedQueue[Span]()

  def spans: Seq[Span] = done.asScala.toSeq

  /** Runs `body` as a span named `name`; at a root, `op` names the timed
    * operation (children inherit it).
    */
  def span[T](name: String, op: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parents = stack.get
      val id = nextId.getAndIncrement()
      val opId = parents.headOption.map(_.op).getOrElse(op)
      val parent = parents.headOption.map(_.id).getOrElse(0)
      val saved = Tracer.GroupKeys.map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(Tracer.GroupPrefix + id, name, interruptOnCancel = false)
      val open = Span(id, parent, opId, name, System.nanoTime(), 0L,
        System.currentTimeMillis())
      stack.set(open :: parents)
      try body
      finally {
        stack.set(parents)
        saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        done.add(open.copy(endNs = System.nanoTime()))
      }
    }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  private val GroupKeys =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
}

/** The benchmark's own listeners: Spark scheduler events per span, query
  * planning phases, and streaming progress.
  */
final class Listeners extends SparkListener {
  private val jobSpan = mutable.Map[Int, Int]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val counts = mutable.Map[Int, SparkCounts]()

  /** (start of the first planning phase, ms) → analysis + optimization +
    * planning time of one executed query, ms.
    */
  val plans = new ConcurrentLinkedQueue[(Long, Long)]()

  /** (batch id, trigger duration ms) of each streaming micro-batch. */
  val triggers = new ConcurrentLinkedQueue[(Long, Long)]()

  def countsOf(spanId: Int): SparkCounts = synchronized {
    counts.getOrElse(spanId, new SparkCounts)
  }

  private def at(spanId: Int) = counts.getOrElseUpdate(spanId, new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .foreach { g =>
        val id = g.stripPrefix(Tracer.GroupPrefix).toInt
        jobSpan(e.jobId) = id
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageSpan(_) = id)
        at(id).jobs += 1
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { id =>
      at(id).jobIntervalsMs += ((jobStart(e.jobId), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(at(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = at(id)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.output += m.outputMetrics.bytesWritten
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        triggers.add((p.batchId, p.durationMs.get("triggerExecution").longValue))
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queries)
  }

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
