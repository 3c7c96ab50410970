package graft.streaming

import graft.sources.Changelog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Bootstrap-then-tail consumer onboarding — the reference's
  * initial-scan-then-changefeed shape (a new consumer first loads a
  * snapshot of the source table, then attaches the changefeed at the
  * snapshot's position; CdcReader.java:34-53 reads the feed from the
  * consumer's committed position, and onboarding a consumer means
  * seeding that position from a snapshot). Two phases over ONE
  * pipeline config:
  *
  *  1. '''bootstrap''' — batch-read the changelog as of now, record
  *     the max offset present as the CUTOFF, and run everything
  *     `seq <= cutoff` through [[CdcPipeline.applyBatch]] as one big
  *     batch: the IDENTICAL parse -> LWW -> transform -> apply code
  *     path the stream uses, so the snapshot state can never diverge
  *     from what the stream would have computed. The cutoff is made
  *     durable (tmp-write + atomic move next to the stream's
  *     checkpoint dir) only AFTER the sink apply commits — the sink's
  *     manifest swap is crash-atomic, so a crash before the record
  *     re-bootstraps idempotently (LWW upsert over the same rows is a
  *     no-op) and a crash after it resumes straight to the tail.
  *     Alternatively [[loadSnapshot]] seeds the sink from an existing
  *     snapshot table (the production path when the source table can
  *     be scanned directly — cheaper than replaying history).
  *  2. '''tail''' — attach the changefeed stream with a pre-parse
  *     `seq > cutoff` filter. The stream reads the log from the
  *     beginning on a fresh checkpoint; the filter IS the seam:
  *     bootstrap covered every offset `<= cutoff` (no gap), the
  *     filter drops exactly those offsets from the stream (no
  *     duplicate). The filter sits on the raw (value, seq) source
  *     before JSON parsing, so skipped history costs a long-compare
  *     per line, never a parse.
  *
  * Restart safety: the tail is an ordinary checkpointed
  * [[CdcPipeline]] stream (at-least-once + idempotent LWW apply), and
  * the recorded cutoff file makes [[start]] itself restartable — a
  * re-invocation after any crash skips the bootstrap and reattaches
  * the tail on the same checkpoint.
  *
  * 100 TB shape: the bootstrap is |keys| state rows out of an
  * arbitrarily long log (one key-shuffled LWW pass, no history kept),
  * and the tail processes only the delta past the cutoff. The batch
  * twin `cdc_bootstrap_tail` (Ext57Queries) proves the same two-phase
  * union-remerge algebra under the DuckDB oracle gate;
  * BootstrapTailSpec proves this streaming seam == the one-phase
  * batch recompute and kill-restart safety on both sides of the seam.
  */
object BootstrapTail {

  /** Durable cutoff record: a sibling file of the checkpoint dir, so
    * wiping the checkpoint (a fresh consumer) also orphans no state
    * inside it.
    */
  def cutoffPath(p: CdcPipeline.Pipeline): Path =
    Paths.get(p.checkpointDir + ".bootstrap_cutoff")

  private def readCutoff(p: CdcPipeline.Pipeline): Option[Long] = {
    val f = cutoffPath(p)
    if (!Files.isRegularFile(f)) None
    else Some(new String(Files.readAllBytes(f), "UTF-8").trim.toLong)
  }

  private def recordCutoff(p: CdcPipeline.Pipeline, cutoff: Long): Unit = {
    val f = cutoffPath(p)
    if (f.getParent != null) Files.createDirectories(f.getParent)
    val tmp = Paths.get(f.toString + ".tmp")
    Files.write(tmp, cutoff.toString.getBytes("UTF-8"))
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Phase 1 over the changelog itself: LWW-load everything currently
    * in the log into the sink through the pipeline's own batch path,
    * and return the recorded cutoff (-1 = empty log, nothing loaded).
    * Idempotent: if a cutoff record already exists, the snapshot is
    * already in the sink and the recorded cutoff is returned as-is.
    * File-replay changelogs only (a `topic://` consumer bootstraps
    * from a table snapshot via [[loadSnapshot]] instead — replaying a
    * broker from offset 0 through a batch read is not its contract).
    */
  def bootstrap(spark: SparkSession, p: CdcPipeline.Pipeline): Long =
    readCutoff(p).getOrElse {
      require(!p.changelogDir.startsWith("topic://"),
        "bootstrap() replays a file changelog; topic consumers seed " +
          "via loadSnapshot(snapshot, cutoff)")
      val snap = Changelog.readBatch(spark, p.changelogDir)
      val row = snap.agg(max(col("seq"))).first()
      val cutoff = if (row.isNullAt(0)) -1L else row.getLong(0)
      if (cutoff >= 0) {
        graft.functions.GraftFunctions.register(spark)
        p.sink.startupGc()
        CdcPipeline.applyBatch(spark, p,
          snap.filter(col("seq") <= cutoff))
      }
      recordCutoff(p, cutoff)
      cutoff
    }

  /** Phase 1 from an existing snapshot: seed the sink with
    * already-transformed state rows captured at `cutoff` (the
    * production onboarding path — scan the source table once instead
    * of replaying its whole history). The caller owns the guarantee
    * that `state` IS the table at `cutoff`; the crash-atomic manifest
    * swap and the durable cutoff record are this method's job.
    */
  def loadSnapshot(p: CdcPipeline.Pipeline, state: DataFrame,
      cutoff: Long): Long =
    readCutoff(p).getOrElse {
      p.sink.startupGc()
      p.sink.replace(state)
      recordCutoff(p, cutoff)
      cutoff
    }

  /** Phase 2: the changefeed tail from `cutoff` (exclusive). */
  def tail(spark: SparkSession, p: CdcPipeline.Pipeline,
      cutoff: Long): StreamingQuery =
    CdcPipeline.startWithSource(spark, p,
      CdcPipeline.source(spark, p).filter(col("seq") > cutoff))

  /** The whole protocol, restartable: bootstrap unless a cutoff is
    * already recorded, then attach the tail at it.
    */
  def start(spark: SparkSession,
      p: CdcPipeline.Pipeline): StreamingQuery =
    tail(spark, p, bootstrap(spark, p))
}
