package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one per-run timer of Bench and QBench: wall seconds, the JVM's
  * GC seconds (a noisy host's pauses, separable from plan time), the
  * Spark jobs, stages and tasks scheduled, each job's seconds, and the
  * failure. Counters are process-wide deltas: runs must not overlap.
  * They are best-effort: the listener bus delivers asynchronously, so
  * events still queued when the post-run wait ends count in the next run.
  */
object Measure {
  final case class Run(sec: Double, gcSec: Double, jobs: Long,
      stages: Long, tasks: Long, jobSec: Seq[(Int, Double)],
      error: Option[Throwable]) {
    def ok: Boolean = error.isEmpty
    def failure: Option[String] = error.map(describe)
    /** The run's seconds, or `sentinel` when it failed. */
    def secOr(sentinel: Double): Double = if (ok) sec else sentinel
    /** This run, or its failure rethrown. */
    def orThrow: Run = { error.foreach(e => throw e); this }
  }

  /** "Class: message", as the harnesses report a failure. */
  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${e.getMessage}"

  private val jobs, stages, tasks = new AtomicLong
  private val jobStartNs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobLog = new ConcurrentLinkedQueue[(Int, Double)]()
  private var listening: SparkContext = _

  private def listen(sc: SparkContext): Unit = synchronized {
    if (listening ne sc) {
      sc.addSparkListener(new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          jobStartNs.put(j.jobId, System.nanoTime()); ()
        }
        override def onJobEnd(j: SparkListenerJobEnd): Unit =
          Option(jobStartNs.remove(j.jobId)).foreach { t0 =>
            jobLog.add(j.jobId -> (System.nanoTime() - t0) / 1e9); ()
          }
        override def onStageCompleted(s: SparkListenerStageCompleted)
            : Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks.toLong); ()
        }
      })
      listening = sc
    }
  }

  private def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Time `body` once. A non-fatal failure is returned in the run; the
    * caller picks its sentinel (`secOr`) or rethrows (`orThrow`).
    */
  def apply(spark: SparkSession)(body: => Any): Run = {
    listen(spark.sparkContext)
    jobStartNs.clear()
    jobLog.clear()
    val (j0, s0, k0, g0) = (jobs.get, stages.get, tasks.get, gcMillis)
    val t0 = System.nanoTime()
    val error = try { body; None } catch { case NonFatal(e) => Some(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val gcSec = (gcMillis - g0) / 1e3
    // a job's end event follows its stages' events: wait (bounded: the
    // bus may drop events) for the ends of the jobs whose start has been
    // delivered; a job whose start is still queued is not waited for
    val until = System.nanoTime() + 1000000000L
    while (!jobStartNs.isEmpty && System.nanoTime() < until)
      Thread.sleep(1)
    Run(sec, gcSec, jobs.get - j0, stages.get - s0, tasks.get - k0,
      jobLog.asScala.toSeq, error)
  }
}
