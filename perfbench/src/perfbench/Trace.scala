package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Scheduler counters summed over the tasks and jobs of one span. */
final class Counters {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, inputBytes, outputBytes,
    outputRows, shuffleRead, shuffleWrite, spill = new AtomicLong
  /** Summed wall time of this span's jobs, which run one after another
    * on the span's thread.
    */
  val jobMs = new AtomicLong

  def +=(o: Counters): Unit = Seq(
    jobs -> o.jobs, stages -> o.stages, tasks -> o.tasks,
    runMs -> o.runMs, cpuNs -> o.cpuNs, gcMs -> o.gcMs,
    inputBytes -> o.inputBytes, outputBytes -> o.outputBytes,
    outputRows -> o.outputRows, shuffleRead -> o.shuffleRead,
    shuffleWrite -> o.shuffleWrite, spill -> o.spill, jobMs -> o.jobMs)
    .foreach { case (a, b) => a.addAndGet(b.get) }

  def json: String = Seq("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "executor_run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "input_bytes" -> inputBytes,
    "output_bytes" -> outputBytes, "output_rows" -> outputRows,
    "shuffle_read_bytes" -> shuffleRead,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "job_ms" -> jobMs).map { case (k, v) => s""""$k":${v.get}""" }
    .mkString("{", ",", "}")
}

/** One traced interval: name, start, end, the span that caused it and
  * the micro-batch it belongs to (-1 outside a batch).
  */
final case class Span(id: Long, name: String, parent: Long, batch: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder plus a SparkListener that charges every
  * job, stage and task to the innermost span open on the thread that
  * submitted the job (carried as a Spark local property). Spans stay in
  * memory and are written out once, at the end of the run.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "perfbench.span"
  private val nextId = new AtomicLong(1)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val counters = new ConcurrentHashMap[Long, Counters]
  private val stageSpan = new ConcurrentHashMap[Int, Long]
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  sc.addSparkListener(this)

  private val notes =
    new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[Double]]

  /** Record one per-batch count (e.g. rows kept by the parser). */
  def note(name: String, v: Double): Unit =
    notes.computeIfAbsent(name,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[Double]).add(v)

  def noted(name: String): Seq[Double] =
    Option(notes.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  def counter(span: Long): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  /** Time `body` as a span named `name`; nested calls become children. */
  def span[T](name: String, batch: Long = -1L)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val stack = open.get
    val parent = stack.headOption.getOrElse(0L)
    open.set(id :: stack)
    sc.setLocalProperty(Prop, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, name, parent, batch, t0, System.nanoTime()))
      open.set(stack)
      sc.setLocalProperty(Prop, stack.headOption.map(_.toString).orNull)
    }
  }

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Prop)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    e.stageIds.foreach(stageSpan.put(_, s))
    jobStart.put(e.jobId, (s, e.time))
    counter(s).jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (s, t0) =>
      counter(s).jobMs.addAndGet(e.time - t0) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counter(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
      .stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counter(stageSpan.getOrDefault(e.stageId, 0L))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.addAndGet(m.executorRunTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      c.outputRows.addAndGet(m.outputMetrics.recordsWritten)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** All finished spans, after the listener has seen every event. */
  def spans(): Seq[Span] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    done.asScala.toSeq.sortBy(_.startNs)
  }

  /** Counters of `span` plus those of all its descendants. */
  def total(span: Span, all: Seq[Span]): Counters = {
    val kids = all.groupBy(_.parent)
    val acc = new Counters
    def walk(id: Long): Unit = {
      Option(counters.get(id)).foreach(acc += _)
      kids.getOrElse(id, Nil).foreach(k => walk(k.id))
    }
    walk(span.id)
    acc
  }

  /** Self time: a span's duration minus the part its children cover. */
  def selfMs(span: Span, all: Seq[Span]): Double =
    span.ms - all.filter(_.parent == span.id).map(_.ms).sum

  def json(all: Seq[Span]): String = all.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""batch":${s.batch},"start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"self_ms":${selfMs(s, all)},""" +
      s""""counters":${Option(counters.get(s.id)).getOrElse(new Counters).json}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Order statistics over samples, optionally weighted. */
object Stats {
  /** Weighted percentile (`q` in [0,1]) by the nearest-rank rule. */
  def percentile(samples: Seq[(Double, Long)], q: Double): Double =
    if (samples.isEmpty) Double.NaN
    else {
      val sorted = samples.sortBy(_._1)
      val total = sorted.map(_._2).sum
      val rank = math.max(1L, math.ceil(q * total).toLong)
      var acc = 0L
      sorted.find { case (_, w) => acc += w; acc >= rank }.get._1
    }

  def pct(xs: Seq[Double], q: Double): Double =
    percentile(xs.map(_ -> 1L), q)

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** Named metric values with units, in insertion order. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def update(name: String, unitValue: (Double, String)): Unit =
    m(name) = unitValue
  def json: String = m.map { case (k, (v, u)) =>
    val num = if (v.isNaN || v.isInfinite) "null" else v.toString
    s""""$k":{"value":$num,"unit":"$u"}"""
  }.mkString("{", ",", "}")
}
