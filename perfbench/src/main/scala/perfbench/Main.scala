package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation that ran and passed its check. */
final case class Op(id: Int, ms: Double, traced: Boolean)

/** Output quality of a run, from the workload's independent checks. */
final case class Quality(recall: Double, precision: Double, storedPerInput: Double)

final class Ctx(val spark: SparkSession, val work: Path, val seed: Long) {
  val tracer = new Tracer(spark)
  val listeners = new Listeners
  val ops = mutable.ArrayBuffer[Op]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Records one attempted operation. A throw or a failed check counts it
    * as failed, and its time is never recorded.
    */
  def record(id: Int, ms: => Either[Throwable, Double]): Unit = {
    attempted += 1
    ms match {
      case Right(t) => ops += Op(id, t, tracer.enabled)
      case Left(e) => failures += s"operation $id: $e"
    }
  }

  /** Times `body` as operation `id` (a root span when tracing), then runs
    * `check` on its result outside the timing.
    */
  def timed[R](id: Int)(body: => R)(check: R => Unit): Unit =
    record(id, {
      val t0 = System.nanoTime()
      try {
        val r = tracer.span("op", id)(body)
        val t = (System.nanoTime() - t0) / 1e6
        check(r)
        Right(t)
      } catch { case NonFatal(e) => Left(e) }
    })
}

object Ctx {
  /** Bytes of all regular files under `p`. */
  def bytesUnder(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}

/** A benchmark workload: seeded inputs, set-up, warm-up and a timed loop. */
trait Workload {
  /** Writes the seeded inputs; not part of the set-up time. */
  def generate(): Unit
  /** Set-up through the program. It runs [[setUpRuns]] times and the
    * median counts, so set-up time is steady enough to bound.
    */
  def setUp(): Unit = ()
  def setUpRuns: Int = 1
  def warmUp(): Unit
  /** Timed operations until `deadlineNs`. */
  def run(deadlineNs: Long): Unit
  /** Layer probes for the traced run, outside the timed operations. */
  def probe(): Unit = ()
  /** Quality from the independent checks; throws when outputs are wrong. */
  def quality(): Quality
  /** Per-layer counts only the workload itself can take. */
  def layerCounts(): Map[String, Double] = Map.empty
}

/** A closed loop with one client: the next operation starts when the
  * previous one has returned and been checked.
  */
abstract class ClosedLoop[R](ctx: Ctx) extends Workload {
  def op(i: Int): R
  def check(i: Int, r: R): Unit
  private var next = 0

  /** Four checked operations: with one, latency kept falling through the
    * timed window as the JIT caught up.
    */
  def warmUp(): Unit = (0 until 4).foreach { _ =>
    check(next, op(next)); next += 1
  }

  def run(deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) {
      val i = next
      ctx.timed(i)(op(i))(check(i, _))
      next += 1
    }
}

object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_ms_p50" -> "ms", "op_ms_tail" -> "ms", "ops_per_s" -> "1/s",
    "recall" -> "ratio", "precision" -> "ratio", "peak_rss_mb" -> "MB",
    "stored_bytes_per_input_byte" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "io.text_records.read_s" -> "s", "io.text_records.records_s" -> "s",
    "io.bytes_written" -> "bytes",
    "jobs.word_count_s" -> "s", "jobs.inverted_index_s" -> "s",
    "ext.dedup.join_indexed_ms" -> "ms",
    "ext.dedup.append_index_ms" -> "ms", "ext.dedup.compact_index_ms" -> "ms",
    "ext.similarity.index_write_s" -> "s", "ext.similarity.query_call_ms" -> "ms",
    "ext.similarity.query_exec_ms" -> "ms",
    "ops.versioned_table.append_ms" -> "ms", "ops.versioned_table.data_files" -> "count",
    "streaming.trigger_ms" -> "ms", "streaming.overhead_ms" -> "ms",
    "spark.plan_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "driver.outside_jobs_ms" -> "ms", "spark.core_util" -> "ratio",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
    "trace.op_ms_p50" -> "ms", "trace.overhead_ms" -> "ms")

  /** Spans whose mean duration per call is a per-layer metric. */
  private val SpanMetrics: Seq[(String, String, Double)] = Seq(
    ("io.text_records.read_s", "io.text_records.read", 1e9),
    ("io.text_records.records_s", "io.text_records.records", 1e9),
    ("jobs.word_count_s", "jobs.word_count", 1e9),
    ("jobs.inverted_index_s", "jobs.inverted_index", 1e9),
    ("ext.dedup.join_indexed_ms", "ext.dedup.join_indexed", 1e6),
    ("ext.dedup.append_index_ms", "ext.dedup.append_index", 1e6),
    ("ext.dedup.compact_index_ms", "ext.dedup.compact_index", 1e6),
    ("ext.similarity.index_write_s", "ext.similarity.index_write", 1e9),
    ("ext.similarity.query_call_ms", "ext.similarity.query_call", 1e6),
    ("ext.similarity.query_exec_ms", "ext.similarity.query_exec", 1e6),
    ("ops.versioned_table.append_ms", "ops.versioned_table.append", 1e6))

  private def workload(name: String, ctx: Ctx): Workload = name match {
    case "mapreduce-text" => new MapReduceText(ctx)
    case "ann-query" => new AnnQuery(ctx)
    case "stream-ingest" => new StreamIngest(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set of this JVM (which also hosts the local executors). */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val window = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // keep Spark's scratch space and warehouse inside the working directory
    System.setProperty("spark.local.dir", Files.createDirectories(work.resolve("spark-local")).toString)
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val spark = graft.Engine.session(appName = "perfbench")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ctx = new Ctx(spark, work, seed)
    var out = Result(correct = false, 0, 0, Nil)
    try {
      val w = workload(name, ctx)
      val gen = seconds(w.generate())
      val setUps = (1 to w.setUpRuns).map(_ => seconds(w.setUp()))
      val warm = seconds(w.warmUp())
      val setupS = sessionS + Stats.median(setUps) + warm
      System.err.println(f"perfbench: session $sessionS%.2fs, inputs $gen%.2fs, set-up " +
        setUps.map(s => f"$s%.2f").mkString("s, ") + f"s, warm-up $warm%.2fs")
      val t0 = System.nanoTime()
      if (trace) {
        // the first half runs untraced: the baseline for the tracing overhead
        w.run(t0 + (window * 5e8).toLong)
        ctx.listeners.register(spark)
        ctx.tracer.enabled = true
        w.run(t0 + (window * 1e9).toLong)
        w.probe()
        ctx.listeners.drain(spark)
      } else w.run(t0 + (window * 1e9).toLong)
      val q = w.quality()
      val metrics =
        if (trace) layerMetrics(ctx, w.layerCounts())
        else endToEnd(ctx, setupS, q)
      if (trace) writeSpans(ctx.tracer.spans, work.getParent.resolve(s"spans-$name-$seed.jsonl"))
      out = Result(ctx.failures.isEmpty && ctx.ops.nonEmpty, ctx.attempted,
        ctx.failures.size, metrics)
    } catch {
      case NonFatal(e) =>
        ctx.failures += s"run aborted: $e"
        e.printStackTrace()
        out = out.copy(attempted = math.max(1, ctx.attempted), failed = ctx.failures.size)
    } finally spark.stop()
    ctx.failures.foreach(f => System.err.println(s"perfbench FAILED: $f"))
    out.metrics.foreach { case (k, v) =>
      val unit = (EndToEnd ++ PerLayer).toMap.getOrElse(k, "")
      println(f"$name%-15s $k%-34s $v%14.4f $unit")
    }
    println(out.json)
    sys.exit(if (out.correct) 0 else 1)
  }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double)]) {
    def json: String = {
      val units = (EndToEnd ++ PerLayer).toMap
      val ms = metrics.map { case (k, v) =>
        val value = if (v.isNaN || v.isInfinite) "null" else v.toString
        s""""$k": {"value": $value, "unit": "${units(k)}"}"""
      }.mkString(", ")
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
    }
  }

  /** Writes every span as one JSON line with its self time, and prints each
    * span name's call count, mean time and mean self time.
    */
  private def writeSpans(spans: Seq[Span], path: Path): Unit = {
    val selfMs = spans.map(s => s.id -> Span.selfNs(s, spans) / 1e6).toMap
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", """ +
        s""""start_ms": ${s.startMs}, "dur_ms": ${s.durNs / 1e6}, "self_ms": ${selfMs(s.id)}}"""
    }
    Files.write(path, lines.asJava)
    spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      System.err.println(f"perfbench: span $n%-30s calls ${ss.size}%4d  mean ${Stats.mean(ss.map(_.durNs / 1e6))}%10.1f ms" +
        f"  self ${Stats.mean(ss.map(x => selfMs(x.id)))}%10.1f ms")
    }
    System.err.println(s"perfbench: spans written to $path")
  }

  private def endToEnd(ctx: Ctx, setupS: Double, q: Quality): Seq[(String, Double)] = {
    val ms = ctx.ops.map(_.ms).toSeq
    require(ms.nonEmpty, "no operation completed")
    val (level, tail) = Stats.tail(ms)
    System.err.println(s"perfbench: op_ms_tail is p$level of ${ms.size} samples; ms: " +
      ms.map(m => f"$m%.0f").mkString(" "))
    Seq("setup_s" -> setupS, "op_ms_p50" -> Stats.median(ms), "op_ms_tail" -> tail,
      "ops_per_s" -> ms.size / (ms.sum / 1000.0), "recall" -> q.recall,
      "precision" -> q.precision, "peak_rss_mb" -> peakRssMb(),
      "stored_bytes_per_input_byte" -> q.storedPerInput)
  }

  /** Per-layer metrics from the traced half of the run: module spans as
    * mean time per call, Spark counts as means per timed operation.
    */
  private def layerMetrics(ctx: Ctx, counts: Map[String, Double]): Seq[(String, Double)] = {
    val spans = ctx.tracer.spans
    val traced = ctx.ops.filter(_.traced).toSeq
    val untraced = ctx.ops.filterNot(_.traced).toSeq
    require(traced.nonEmpty && untraced.nonEmpty, "the traced run needs operations in both halves")
    val okOps = traced.map(_.id).toSet
    val kept = spans.filter(s => s.op == -1 || okOps(s.op))
    val byName = kept.groupBy(_.name)
    val fromSpans = SpanMetrics.map { case (metric, span, div) =>
      metric -> byName.get(span).map(ss => Stats.mean(ss.map(_.durNs / div))).getOrElse(0.0)
    }
    val cores = ctx.spark.sparkContext.defaultParallelism
    val plans = ctx.listeners.plans.toArray(Array.empty[(Long, Long)])
    val perOp = traced.map { op =>
      val mine = kept.filter(_.op == op.id)
      val root = mine.find(_.parent == 0).getOrElse(
        throw new IllegalStateException(s"operation ${op.id} has no root span"))
      val c = new SparkCounts
      mine.foreach(s => c.add(ctx.listeners.countsOf(s.id)))
      val wallMs = root.durNs / 1e6
      val inJobs = Intervals.covered(c.jobIntervalsMs.toSeq, root.startMs, root.endMs)
      val planMs = plans.collect { case (t, d) if t >= root.startMs && t <= root.endMs => d }.sum
      Map("spark.plan_ms" -> planMs.toDouble, "spark.jobs" -> c.jobs.toDouble,
        "spark.stages" -> c.stages.toDouble, "spark.tasks" -> c.tasks.toDouble,
        "driver.outside_jobs_ms" -> math.max(0.0, wallMs - inJobs),
        "spark.core_util" -> c.runMs / (wallMs * cores),
        "spark.executor_run_ms" -> c.runMs.toDouble, "spark.executor_cpu_ms" -> c.cpuNs / 1e6,
        "spark.gc_ms" -> c.gcMs.toDouble, "spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
        "spark.shuffle_read_bytes" -> c.shuffleRead.toDouble, "spark.spill_bytes" -> c.spill.toDouble,
        "spark.input_bytes" -> c.input.toDouble, "io.bytes_written" -> c.output.toDouble)
    }
    val fromOps = perOp.head.keys.map(k => k -> Stats.mean(perOp.map(_(k)))).toMap
    val tracedP50 = Stats.median(traced.map(_.ms))
    val overhead = Map("trace.op_ms_p50" -> tracedP50,
      "trace.overhead_ms" -> (tracedP50 - Stats.median(untraced.map(_.ms))))
    val all = fromSpans.toMap ++ fromOps ++ overhead ++ counts
    PerLayer.map { case (k, _) => k -> all.getOrElse(k, 0.0) }
  }
}
