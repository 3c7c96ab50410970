package perfbench

import java.nio.file.Path
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer
import graft.operators.CdcParse
import graft.sources.TopicBroker
import org.apache.spark.sql.functions._

/** What one measured phase (untraced or traced) observed. */
final case class Phase(drains: Seq[Drain], rowsPerS: Double,
    lag: Seq[Seq[(Double, Long)]], reads: Seq[Read], backlog: Seq[Double],
    genLate: Seq[Double], bytesPerRow: Double, heapMb: Double,
    liveFiles: Int, retries: Long) {
  def batches: Seq[Batch] = drains.flatMap(_.batches)
  /** Each successful read's own time, from taking the sink's read lock
    * to its result.
    */
  def readMs: Seq[Double] = reads.filter(_.ok).map(_.serviceMs)
  /** Each successful read's latency from its due time: lateness of its
    * start, waiting for an in-flight apply, and its own time.
    */
  def readDueMs: Seq[Double] = reads.filter(_.ok).map(_.ms)
  /** Per-envelope lag percentile of each lag group (one per drain on
    * cdc_bulk, one per window on cdc_tail), median over the groups.
    */
  def lagPct(q: Double): Double =
    Stats.median(lag.map(Stats.percentile(_, q)))
  def lagSamples: Long = lag.map(_.map(_._2).sum).sum
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** One read: latency from its due time, the part of it spent waiting
  * for an in-flight sink apply, the read's own time, and the files it
  * listed.
  */
final case class Read(ms: Double, ok: Boolean, files: Int, waitMs: Double,
    serviceMs: Double)

object Reads {
  /** Even `k`: full aggregate over `sink.load()`. Odd `k`: point lookup
    * of `key`, once no sink apply is in flight. A failure is counted,
    * never retried. Returns success, files listed and lock wait (ms).
    */
  def read(r: Run, sink: Cdc.GuardedSink, k: Long, key: Long,
      tracer: Option[Tracer]): (Boolean, Int, Double) = {
    def body: Int = {
      val df = sink.load()
      val files = df.inputFiles.length
      if (k % 2 == 0)
        df.agg(count(lit(1)), sum(col("value_milli"))).collect()
      else {
        val rows = df.filter(col("user_id") === key).collect()
        require(rows.length <= 1, s"key $key has ${rows.length} rows")
      }
      files
    }
    r.attempt(1)
    try {
      val (files, waitMs) = sink.reading(tracer.fold(body)(_.span("read")(body)))
      (true, files, waitMs)
    } catch { case e: Exception => r.fail("read", e); (false, 0, 0.0) }
  }

  /** Reads due at `rate` per second from `t0Ms` until `endMs` (epoch
    * ms), each timed from its due time and from taking the sink's read
    * lock; a slow read, or one waiting for an apply, delays the next
    * one, it does not thin the schedule.
    */
  final class OpenLoop(r: Run, sink: Cdc.GuardedSink, rate: Double,
      keySpace: Long, seed: Long, tracer: Option[Tracer], t0Ms: Double,
      endMs: Double) extends Thread("perfbench-reader") {
    val done = ArrayBuffer.empty[Read]
    override def run(): Unit = {
      val rnd = new SplittableRandom(seed ^ 0x5eadL)
      var k = 0L
      def due = t0Ms + k * 1000.0 / rate
      while (due < endMs && r.msLeft > 0) {
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong)
        val start = Clock.nowMs
        val (ok, files, waitMs) =
          read(r, sink, k, rnd.nextLong(keySpace), tracer)
        val end = Clock.nowMs
        done += Read(end - due, ok, files, waitMs, end - start - waitMs)
        k += 1
      }
      val left = math.max(0L, math.ceil((endMs - due) * rate / 1000.0).toLong)
      if (left > 0) {
        r.attempt(left)
        (1L to left).foreach(_ => r.fail("read",
          new java.util.concurrent.TimeoutException("run deadline passed")))
      }
    }
  }
}

/** Metrics shared by both workloads. */
object Report {
  def e2e(r: Run, setupS: Double, ph: Phase): Unit = {
    val m = r.e2e
    m("setup_s") = setupS -> "s"
    m("rows_per_s") = ph.rowsPerS -> "rows/s"
    m("lag_p50_ms") = ph.lagPct(0.5) -> "ms"
    m("lag_p90_ms") = ph.lagPct(0.9) -> "ms"
    m("read_p50_ms") = Stats.pct(ph.readMs, 0.5) -> "ms"
    m("sink_bytes_per_row") = ph.bytesPerRow -> "B/row"
    m("heap_live_mb") = ph.heapMb -> "MB"
  }

  def detail(r: Run, label: String, ph: Phase): Unit = {
    def num(v: Double) = if (v.isNaN) "null" else v.toString
    val lagN = ph.lagSamples
    r.detail(label) = s"""{"drains":${ph.drains.length},""" +
      s""""batches":${ph.batches.length},"rows":${ph.drains.map(_.rows).sum},""" +
      s""""drain_s":${ph.drains.map(_.seconds).sum},""" +
      s""""rows_per_s":${ph.rowsPerS},"lag_samples":$lagN,""" +
      s""""lag_p50_ms":${num(ph.lagPct(0.5))},""" +
      s""""lag_p90_ms":${num(ph.lagPct(0.9))},""" +
      s""""reads":${ph.reads.length},"reads_failed":${ph.reads.count(!_.ok)},""" +
      s""""read_p50_ms":${num(Stats.pct(ph.readMs, 0.5))},""" +
      s""""read_p90_ms":${num(Stats.pct(ph.readMs, 0.9))},""" +
      s""""read_due_p50_ms":${num(Stats.pct(ph.readDueMs, 0.5))},""" +
      s""""read_wait_p50_ms":${num(Stats.pct(ph.reads.filter(_.ok).map(_.waitMs), 0.5))},""" +
      s""""gen_late_p90_ms":${num(Stats.pct(ph.genLate, 0.9))},""" +
      s""""sink_bytes_per_row":${ph.bytesPerRow},"heap_live_mb":${ph.heapMb},""" +
      s""""live_files":${ph.liveFiles},"retries":${ph.retries},""" +
      s""""batch_ms":${ph.batches.map(b => b.endMs - b.startMs).mkString("[", ",", "]")},""" +
      s""""drain_ms":${ph.drains.map(d => math.round(d.doneMs - d.callMs)).mkString("[", ",", "]")}}"""
  }

  /** Per-layer metrics of a traced phase, per micro-batch unless noted;
    * `base` is the untraced phase of the same run.
    */
  def layers(r: Run, tr: Tracer, ph: Phase, base: Option[Phase]): Unit = {
    val all = tr.spans()
    val batches = all.filter(_.name == "pipeline.add_batch")
    val kids = all.groupBy(_.parent)
    def child(b: Span, name: String): Seq[Span] =
      kids.getOrElse(b.id, Nil).filter(_.name == name)
    def msOf(name: String): Seq[Double] =
      batches.map(b => child(b, name).map(_.ms).sum)
    def countersOf(name: String): Seq[Counters] =
      batches.flatMap(child(_, name)).map(tr.total(_, all))
    def mean(xs: Seq[Double]) = Stats.mean(xs)
    def meanL(xs: Seq[Long]) = Stats.mean(xs.map(_.toDouble))
    val progress = ph.batches
    def dur(k: String) = mean(progress.map(_.durations.getOrElse(k, 0L).toDouble))
    val layers = Seq("parse", "lww", "transform", "sink.apply")
    val probe = msOf("trace.probe")
    val addBatch = batches.map(_.ms).zip(probe).map { case (a, p) => a - p }
    val kept = tr.noted("parse.rows_kept")
    val out = tr.noted("lww.rows_out")
    val apply = countersOf("sink.apply")
    val applySpans = batches.flatMap(child(_, "sink.apply"))
    val reads = all.filter(_.name == "read").map(tr.total(_, all))
    val perBatch = batches.map(tr.total(_, all))
    val m = r.layer
    m("source.latest_offset_ms") = dur("latestOffset") -> "ms"
    m("source.get_batch_ms") = dur("getBatch") -> "ms"
    m("source.wal_commit_ms") = dur("walCommit") -> "ms"
    m("source.commit_offsets_ms") = dur("commitOffsets") -> "ms"
    m("source.query_start_ms") = mean(ph.drains.flatMap(_.queryStartMs)) -> "ms"
    m("source.backlog_rows") = mean(ph.backlog) -> "rows"
    m("parse.ms") = mean(msOf("parse")) -> "ms"
    m("parse.rows_in") = mean(progress.map(_.rows.toDouble)) -> "rows"
    m("parse.rows_kept") = mean(kept) -> "rows"
    m("parse.tasks") = meanL(countersOf("parse").map(_.tasks.get)) -> "count"
    m("lww.ms") = mean(msOf("lww")) -> "ms"
    m("lww.rows_out") = mean(out) -> "rows"
    m("lww.collapse_ratio") = out.sum / math.max(1.0, kept.sum) -> "rows/row"
    m("lww.shuffle_bytes") =
      meanL(countersOf("lww").map(_.shuffleWrite.get)) -> "B"
    m("transform.ms") = mean(msOf("transform")) -> "ms"
    m("sink.apply_ms") = mean(msOf("sink.apply")) -> "ms"
    m("sink.buckets_touched") = mean(tr.noted("sink.buckets_touched")) -> "count"
    m("sink.bytes_read") = meanL(apply.map(_.inputBytes.get)) -> "B"
    m("sink.bytes_written") = meanL(apply.map(_.outputBytes.get)) -> "B"
    m("sink.rows_written") = meanL(apply.map(_.outputRows.get)) -> "rows"
    m("sink.files_written") = mean(tr.noted("sink.files_written")) -> "count"
    m("sink.write_amp") =
      apply.map(_.outputRows.get).sum / math.max(1.0, out.sum) -> "rows/row"
    m("sink.manifest_ms") = mean(applySpans.zip(apply).map { case (s, c) =>
      s.ms - c.jobMs.get }) -> "ms"
    m("sink.live_files") = ph.liveFiles.toDouble -> "count"
    m("read.files_listed") = mean(ph.reads.filter(_.ok).map(_.files.toDouble)) -> "count"
    m("read.bytes_read") = meanL(reads.map(_.inputBytes.get)) -> "B"
    m("read.failed") = ph.reads.count(!_.ok).toDouble -> "count"
    m("read.p90_ms") = Stats.pct(ph.readMs, 0.9) -> "ms"
    m("read.due_p50_ms") = Stats.pct(ph.readDueMs, 0.5) -> "ms"
    m("pipeline.add_batch_ms") = mean(addBatch) -> "ms"
    m("pipeline.self_ms") = mean(addBatch.zip(batches).map { case (a, b) =>
      a - layers.map(child(b, _).map(_.ms).sum).sum }) -> "ms"
    m("pipeline.jobs_per_batch") = meanL(perBatch.map(_.jobs.get)) -> "count"
    m("pipeline.tasks_per_batch") = meanL(perBatch.map(_.tasks.get)) -> "count"
    m("pipeline.executor_run_ms") = meanL(perBatch.map(_.runMs.get)) -> "ms"
    m("pipeline.gc_ms") = meanL(perBatch.map(_.gcMs.get)) -> "ms"
    m("pipeline.spill_bytes") = meanL(perBatch.map(_.spill.get)) -> "B"
    m("pipeline.retries") = base.map(_.retries).getOrElse(0L).toDouble -> "count"
    m("gen.late_ms") =
      (if (ph.genLate.isEmpty) 0.0 else Stats.pct(ph.genLate, 0.9)) -> "ms"
    m("trace.probe_ms") = mean(probe) -> "ms"
    m("trace.rows_per_s") = ph.rowsPerS -> "rows/s"
    m("trace.rows_per_s_delta") =
      base.map(ph.rowsPerS - _.rowsPerS).getOrElse(0.0) -> "rows/s"
    m("trace.lag_p50_ms_delta") =
      base.map(ph.lagPct(0.5) - _.lagPct(0.5)).getOrElse(0.0) -> "ms"
    r.detail("spans") = all.length.toString
    java.nio.file.Files.write(
      r.args.work.resolve(s"trace-${r.args.workload}-${r.args.seed}-c${r.args.cores}.json"),
      tr.json(all).getBytes("UTF-8"))
  }
}

/** `cdc_bulk`: closed catch-up drains of a file changelog, as `app/Main`
  * runs it (file source, AvailableNow). Each drain starts from an empty
  * sink and a fresh checkpoint; drains repeat until the run's seconds
  * are used. After each drain the sink is checked against the model and
  * read at rest.
  */
object Bulk {
  val Keys = 50000
  val LogRows = 200000
  val PerFile = 25000
  val FilesPerTrigger = 4
  val WarmRows = 25000
  val SetupReps = 3
  val ReadsPerDrain = 10

  def run(r: Run): Unit = {
    val a = r.args
    val root = a.work.resolve(s"bulk-${a.seed}")
    Cdc.deleteTree(root)
    var log: Path = null
    var model: Model = null
    // a pass that reports no setup_s (the local[1] one) sets up once
    val setups = (1 to (if (a.onlyTraced) 1 else SetupReps)).map { rep =>
      val t0 = System.nanoTime()
      val dir = root.resolve(s"setup-$rep")
      val m = new Model(Keys)
      Gen.writeLog(dir.resolve("log"), a.seed, LogRows, Keys, PerFile)
        .foreach(m.apply)
      // warm-up: a short log of its own through the same pipeline
      val warm = new Model(Keys)
      Gen.writeLog(dir.resolve("warm-log"), a.seed + 7919L * rep, WarmRows,
        Keys, PerFile).foreach(warm.apply)
      val ws = Cdc.sink(r.spark, dir.resolve("warm-sink"))
      Cdc.drain(r, Cdc.pipeline(dir.resolve("warm-log").toString,
        dir.resolve("warm-ckpt"), ws, FilesPerTrigger), None)
      Cdc.verify(r, s"warm-up $rep", ws, warm)
      if (log != null) Cdc.deleteTree(log.getParent)
      log = dir.resolve("log")
      model = m
      (System.nanoTime() - t0) / 1e9
    }
    r.detail("setup_reps_s") = setups.mkString("[", ",", "]")

    def phase(label: String, tracer: Option[Tracer]): Phase = {
      val watch = if (tracer.isEmpty) Some(new Cdc.RetryWatch("perfbench")) else None
      watch.foreach(_.start())
      val drains = ArrayBuffer.empty[Drain]
      val lag = ArrayBuffer.empty[Seq[(Double, Long)]]
      val backlog = ArrayBuffer.empty[Double]
      val reads = ArrayBuffer.empty[Read]
      var bytesPerRow = 0.0
      var liveFiles = 0
      val rnd = new SplittableRandom(a.seed ^ 0xb01cL)
      val t0 = System.nanoTime()
      var i = 0
      while ((i == 0 || System.nanoTime() - t0 < a.seconds * 1e9) &&
          r.msLeft > 20000) {
        val dir = root.resolve(s"$label-$i")
        val sink = Cdc.sink(r.spark, dir.resolve("sink"))
        val d = Cdc.drain(r, Cdc.pipeline(log.toString, dir.resolve("ckpt"),
          sink, FilesPerTrigger), tracer)
        drains += d
        var committed = 0L
        d.batches.foreach { b =>
          backlog += (LogRows - committed).toDouble
          committed += b.rows
        }
        lag += d.batches.map(b => (b.endMs - d.callMs) -> b.rows)
        if (d.ok) {
          Cdc.verify(r, s"$label drain $i", sink, model)
          (0 until ReadsPerDrain).foreach { k =>
            val t = System.nanoTime()
            val (ok, files, waitMs) =
              Reads.read(r, sink, k, rnd.nextLong(Keys), tracer)
            val ms = (System.nanoTime() - t) / 1e6
            reads += Read(ms, ok, files, waitMs, ms - waitMs)
          }
          bytesPerRow = Cdc.bytesPerRow(sink, model.liveRows)
          liveFiles = Cdc.liveFiles(sink).length
        }
        if (i > 0) Cdc.deleteTree(root.resolve(s"$label-${i - 1}"))
        i += 1
      }
      val retries = watch.map(_.finish()).getOrElse(0L)
      val heap = Cdc.heapLiveMb()
      Phase(drains.toSeq, drains.map(_.rows).sum / drains.map(_.seconds).sum,
        lag.toSeq, reads.toSeq, backlog.toSeq, Nil, bytesPerRow, heap,
        liveFiles, retries)
    }

    val setupS = r.sessionS + Stats.median(setups)
    val untraced = if (a.onlyTraced) None else Some(phase("untraced", None))
    untraced.foreach { ph => Report.e2e(r, setupS, ph); Report.detail(r, "untraced", ph) }
    if (a.trace) {
      val tr = new Tracer(r.spark.sparkContext)
      val ph = phase("traced", Some(tr))
      Report.detail(r, "traced", ph)
      Report.layers(r, tr, ph, untraced)
    }
    Cdc.deleteTree(root)
  }
}

/** `cdc_tail`: open-loop steady state. Setup bootstraps `Keys` live keys
  * into the 32-bucket sink. A generator thread then appends envelopes
  * with uniform keys to a topic at `Rate` per second on a fixed
  * schedule, the main thread runs `CdcPipeline.start("topic://...")`
  * back to back on one checkpoint, and a reader thread alternates a
  * full aggregate with a point lookup at `ReadRate` per second.
  */
object Tail {
  val Keys = 300000
  val Partitions = 4
  val Rate = 2000.0
  val ReadRate = 1.0
  val MaxFilesPerTrigger = 1000
  val WarmEnvelopes = 5000
  val SetupReps = 3

  final class State(val sink: Cdc.GuardedSink, val model: Model,
      val stream: Gen.Stream, val topic: String,
      val p: graft.streaming.CdcPipeline.Pipeline)

  /** Appends envelope i at `t0Ms + i / Rate` seconds (epoch ms) until
    * `endMs`, whatever the pipeline is doing; records per-partition
    * scheduled times by offset.
    */
  final class Generator(st: State, t0Ms: Double, endMs: Double)
      extends Thread("perfbench-generator") {
    val base: Array[Long] = TopicBroker.endOffsets(st.topic)
    val scheduled: Array[ArrayBuffer[Double]] =
      Array.fill(Partitions)(ArrayBuffer.empty[Double])
    val appended = ArrayBuffer.empty[Double]
    val late = ArrayBuffer.empty[Double]
    @volatile var error: Option[Throwable] = None
    override def run(): Unit = try {
      var i = 0L
      def due = t0Ms + i * 1000.0 / Rate
      while (due < endMs) {
        val wait = due - Clock.nowMs
        if (wait > 1) Thread.sleep(wait.toLong)
        val (key, line) = st.stream.next()
        val off = TopicBroker.sendKeyed(st.topic, key, line)
        val now = Clock.nowMs
        st.model.apply(line)
        val part = math.floorMod(key, Partitions.toLong).toInt
        require(off - base(part) == scheduled(part).length)
        scheduled(part) += due
        appended += now
        late += math.max(0.0, now - due)
        i += 1
      }
    } catch { case e: Throwable => error = Some(e) }
  }

  private def offsets(json: String): Array[Long] =
    if (json == null) Array.fill(Partitions)(0L)
    else json.stripPrefix("[").stripSuffix("]").split(",").map(_.trim.toLong)

  def setup(r: Run, dir: Path, rep: Int): State = {
    val a = r.args
    val s = math.floorMod(a.seed, 1000003L)
    val sink = Cdc.sink(r.spark, dir.resolve("sink"))
    val id = col("id")
    sink.apply(r.spark.range(0, Keys, 1, a.cores).select(
      id.as("user_id"),
      element_at(array(Gen.EventTypes.toIndexedSeq.map(lit): _*),
        (pmod(id * 31L + lit(s), lit(Gen.EventTypes.length.toLong)) + 1)
          .cast("int")).as("event_type"),
      pmod(id * 7919L + lit(s * 104729L), lit(1000003L)).as("value_milli"),
      lit(CdcParse.OpUpdate).as("op")), "upsertInto")
    val model = new Model(Keys)
    (0L until Keys).foreach(k =>
      model.put(k, Gen.bootEventType(s, k), Gen.bootValue(s, k)))
    val topic = s"perfbench-${a.seed}-$rep"
    TopicBroker.create(topic, Partitions)
    val st = new State(sink, model, new Gen.Stream(a.seed, Keys), topic,
      Cdc.pipeline(s"topic://$topic", dir.resolve("ckpt"), sink,
        MaxFilesPerTrigger))
    (1 to WarmEnvelopes).foreach { _ =>
      val (key, line) = st.stream.next()
      TopicBroker.sendKeyed(topic, key, line)
      model.apply(line)
    }
    Cdc.drain(r, st.p, None)
    st
  }

  def window(r: Run, st: State, tracer: Option[Tracer]): Phase = {
    val a = r.args
    val t0 = Clock.nowMs + 50.0
    val end = t0 + a.seconds * 1000.0
    val gen = new Generator(st, t0, end)
    val reader = new Reads.OpenLoop(r, st.sink, ReadRate, Keys, a.seed,
      tracer, t0, end)
    val watch = if (tracer.isEmpty) Some(new Cdc.RetryWatch("perfbench")) else None
    gen.start(); reader.start(); watch.foreach(_.start())
    val drains = ArrayBuffer.empty[Drain]
    while (Clock.nowMs < end && r.msLeft > 30000)
      drains += Cdc.drain(r, st.p, tracer)
    gen.join()
    gen.error.foreach(e => r.mismatch("generator", Seq(e.toString)))
    // the final drain commits everything the generator appended
    drains += Cdc.drain(r, st.p, tracer)
    reader.join()
    val retries = watch.map(_.finish()).getOrElse(0L)
    // lag counts envelopes due after the first quarter of the window
    // (at most 5 s), once the pipeline has reached its rhythm
    val steady = t0 + math.min(5000.0, a.seconds * 250.0)
    val lag = ArrayBuffer.empty[(Double, Long)]
    var committed = 0L
    val backlog = ArrayBuffer.empty[Double]
    for (d <- drains; b <- d.batches) {
      val (from, to) = (offsets(b.startOffsets), offsets(b.endOffsets))
      val before = (0 until Partitions).map(p =>
        math.max(0L, from(p) - gen.base(p))).sum
      val arrived = gen.appended.count(_ <= b.startMs)
      backlog += math.max(0L, arrived - before).toDouble
      for (p <- 0 until Partitions;
           off <- math.max(from(p), gen.base(p)) until to(p)) {
        val i = (off - gen.base(p)).toInt
        if (i < gen.scheduled(p).length) {
          committed += 1
          if (gen.scheduled(p)(i) >= steady)
            lag += (b.endMs - gen.scheduled(p)(i)) -> 1L
        }
      }
    }
    val heap = Cdc.heapLiveMb()
    val n = gen.appended.length
    if (committed != n)
      r.mismatch("lag", Seq(s"$committed of $n appended envelopes committed"))
    // steady-state commit rate: rows committed after the window's first
    // batch, per second until its last batch, both ending in the window
    val inWindow = drains.flatMap(_.batches).filter(_.endMs <= end)
    val rowsPerS = if (inWindow.length < 2) 0.0
      else inWindow.tail.map(_.rows).sum /
        ((inWindow.last.endMs - inWindow.head.endMs) / 1e3)
    Phase(drains.toSeq, rowsPerS, Seq(lag.toSeq),
      reader.done.toSeq, backlog.toSeq, gen.late.toSeq,
      Cdc.bytesPerRow(st.sink, st.model.liveRows), heap,
      Cdc.liveFiles(st.sink).length, retries)
  }

  def run(r: Run): Unit = {
    val a = r.args
    val root = a.work.resolve(s"tail-${a.seed}")
    Cdc.deleteTree(root)
    var st: State = null
    val setups = (1 to (if (a.onlyTraced) 1 else SetupReps)).map { rep =>
      val t0 = System.nanoTime()
      if (st != null) {
        TopicBroker.delete(st.topic)
        Cdc.deleteTree(root.resolve(s"setup-${rep - 1}"))
      }
      st = setup(r, root.resolve(s"setup-$rep"), rep)
      (System.nanoTime() - t0) / 1e9
    }
    r.detail("setup_reps_s") = setups.mkString("[", ",", "]")
    val setupS = r.sessionS + Stats.median(setups)
    val untraced = if (a.onlyTraced) None else Some(window(r, st, None))
    untraced.foreach { ph =>
      Cdc.verify(r, "untraced window", st.sink, st.model)
      Report.e2e(r, setupS, ph)
      Report.detail(r, "untraced", ph)
    }
    if (a.trace) {
      val tr = new Tracer(r.spark.sparkContext)
      val ph = window(r, st, Some(tr))
      Cdc.verify(r, "traced window", st.sink, st.model)
      Report.detail(r, "traced", ph)
      Report.layers(r, tr, ph, untraced)
    }
    TopicBroker.delete(st.topic)
    Cdc.deleteTree(root)
  }
}
