package graft.sinks

import graft.operators.{CdcParse, KeyedMerge}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path
import scala.util.{Failure, Try}

/** Parquet-backed keyed table with MERGE-style apply (SURVEY.md §7.3):
  * plain Spark has no MERGE INTO over parquet, so state is rewritten as
  * `state ⟕̸ batchKeys ∪ upserts` into fresh generation directories and
  * made visible by a CRASH-ATOMIC manifest commit. Apply is
  * idempotent by construction, which makes Structured Streaming's
  * replay-after-failure satisfy the reference's at-least-once +
  * deferred-commit contract (YqlWriter.java:181-206).
  *
  * Commit protocol: write-once numbered manifests, as in Delta Lake's
  * transaction log. Data is fully written to a new `g-<uuid>` dir;
  * then the manifest listing every live dir is written to
  * `manifest.tmp-<uuid>`, hsync'd, and renamed to `manifest-<n>` (one
  * past the newest, zero-padded so name order is number order). That
  * rename is the commit: a crash before it leaves the previous
  * manifest live, and no manifest is ever rewritten.
  *
  * Reader contract: reads (`load`, `exists`, `lastEpoch`, `manifest`)
  * never write. They list the root and open the newest manifest; if
  * gc removed it meanwhile (the reader stalled across two commits),
  * they list again, a bounded number of times.
  *
  * Retention of one commit: `gc` (after each commit, and `startupGc`)
  * keeps the two newest manifests and every generation they
  * reference, and deletes older manifests, other `g-*` dirs and stale
  * tmp files. So a `load()` resolved against the newest manifest can
  * still be read after the next commit.
  *
  * Layout: the state is hash-partitioned on the key into `numBuckets`
  * (>= 1) per-bucket generation dirs; a batch touches only the buckets
  * its keys hash to, so the merge reads and rewrites ONLY those
  * (manifest entries for untouched buckets carry over). Keys are
  * hashed, so a batch that is large next to the bucket count still
  * touches nearly every bucket and rewrites nearly the whole table. A
  * lake format (Delta/Iceberg MERGE) would drop in behind the same
  * interface.
  */
class KeyedTableSink(spark: SparkSession, val path: String,
    val keys: Seq[String], val schema: StructType,
    val numBuckets: Int = 1) {
  require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")

  private val fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(path match {
      case p if p.contains("://") => p
      case p => s"file:$p"
    }), spark.sparkContext.hadoopConfiguration)

  private val root = new Path(path)

  // ---- manifest: lines of "<token>\t<relative-dir>"; token is the
  // bucket number, or a meta entry: "buckets" (the hash fan-out the
  // data was written with) or "epoch" ----

  private val MetaBuckets = "buckets"
  private val MetaEpoch = "epoch"
  private val ManifestName = """manifest-(\d{20})""".r
  private val TmpPrefix = "manifest.tmp-"
  private val Retained = 2 // manifests gc keeps: newest + the one before
  private val ReadAttempts = 5 // listings before a reader gives up

  private def manifestPath(n: Long) = new Path(root, f"manifest-$n%020d")

  /** Manifest minus meta entries — the lines that point at data dirs. */
  private def dataEntries(m: Map[String, String]): Map[String, String] =
    m - MetaBuckets - MetaEpoch

  /** The streaming epoch (foreachBatch batchId) recorded by the last
    * `replace`, if any — the replay-idempotence token for maintained
    * projections.
    */
  def lastEpoch: Option[Long] = manifest().get(MetaEpoch).map(_.toLong)

  private def listRoot(): Seq[String] =
    try fs.listStatus(root).map(_.getPath.getName).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Committed manifest numbers in a root listing, ascending. A root
    * with no numbered manifest but a `CURRENT` (or `CURRENT.next`) was
    * written by the retired rename-over protocol: refused, so neither
    * a read nor a writer's gc mistakes its data for an empty table.
    */
  private def committed(names: Seq[String]): Seq[Long] = {
    val ns = names.collect { case ManifestName(n) => n.toLong }.sorted
    if (ns.isEmpty) Seq("CURRENT.next", "CURRENT").find(names.contains)
      .foreach { f =>
        val dirs = dataEntries(read(new Path(root, f))).values.toSeq.sorted
          .map(d => new Path(root, d))
        throw new IllegalStateException(s"table at $path uses the " +
          s"retired $f manifest format; migrate it: read its data dirs " +
          s"${dirs.mkString(", ")} with spark.read.parquet and replace() " +
          "that into a sink at a new path")
      }
    ns
  }

  private def read(p: Path): Map[String, String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l =>
        val Array(tok, dir) = l.split("\t", 2)
        tok -> dir
      }.toMap
    finally in.close()
  }

  /** The newest committed manifest (empty if none), without writing. */
  @annotation.tailrec
  private def readManifest(attempt: Int = 1): Map[String, String] =
    committed(listRoot()).lastOption.map(n => Try(read(manifestPath(n)))) match {
      case None => Map.empty
      case Some(Failure(_: java.io.FileNotFoundException))
          if attempt < ReadAttempts => readManifest(attempt + 1)
      case Some(m) => m.get
    }

  /** Current live manifest: bucket-number -> relative dir.
    * Public as an ops/inspection surface (which dirs are live).
    */
  def manifest(): Map[String, String] = {
    val m = readManifest()
    // refuse to mis-hash: a sink handle whose bucket fan-out differs
    // from what the table was written with would route keys to the
    // wrong generation dirs and silently drop/duplicate state
    val recorded = m.get(MetaBuckets).map(_.toInt).getOrElse(numBuckets)
    if (recorded != numBuckets)
      throw new IllegalStateException(s"table at $path was written with " +
        s"numBuckets=$recorded but this sink was constructed with " +
        s"numBuckets=$numBuckets; open with the recorded count or rebucket()")
    m
  }

  /** Keep the `Retained` newest manifests and the generation dirs they
    * reference; delete older manifests, other `g-*` dirs and stale tmp
    * files. Safe because apply() is single-writer per pipeline
    * (reference semantics), so no generation is in flight.
    */
  private def gc(): Unit = {
    val names = listRoot()
    val ns = committed(names)
    val (old, kept) = ns.splitAt(ns.size - Retained)
    val referenced = kept.flatMap(n => dataEntries(read(manifestPath(n)))
      .values.map(_.split("/")(0))).toSet
    old.foreach(n => fs.delete(manifestPath(n), false))
    names.foreach { n =>
      if (n.startsWith("g-") && !referenced.contains(n))
        fs.delete(new Path(root, n), true)
      else if (n.startsWith(TmpPrefix))
        fs.delete(new Path(root, n), false)
    }
  }

  private def uuid() = java.util.UUID.randomUUID().toString.take(8)

  def exists: Boolean = dataEntries(manifest()).nonEmpty

  private def emptyState: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def readDirs(dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) emptyState
    else spark.read.schema(schema)
      .parquet(dirs.map(d => new Path(root, d).toString): _*)

  def load(): DataFrame = readDirs(dataEntries(manifest()).values.toSeq)

  private def bucketOf = pmod(hash(keys.map(col): _*), lit(numBuckets))

  /** The one commit routine: write ONLY the given buckets into a new
    * generation (partitioned by bucket), then point their manifest
    * entries at the new dirs; entries of other buckets in `prev` carry
    * over. An emptied bucket (no rows survived) simply drops its entry.
    * The commit is the rename of the synced manifest to number `n`.
    */
  private def swapBuckets(prev: Map[String, String], next: DataFrame,
      buckets: Seq[Int]): Unit = {
    // listed before any write, so a retired-format root is refused first
    val n = committed(listRoot()).lastOption.getOrElse(0L) + 1
    val gen = s"g-${uuid()}"
    val genPath = new Path(root, gen)
    next.withColumn("__bucket", bucketOf)
      .write.mode("overwrite").partitionBy("__bucket")
      .parquet(genPath.toString)
    val written = fs.listStatus(genPath).map(_.getPath.getName)
      .filter(_.startsWith("__bucket="))
      .map(_.stripPrefix("__bucket=").toInt).toSet
    val m = buckets.foldLeft(prev) { (acc, b) =>
      if (written.contains(b)) acc + (b.toString -> s"$gen/__bucket=$b")
      else acc - b.toString
    } + (MetaBuckets -> numBuckets.toString)
    val tmp = new Path(root, TmpPrefix + uuid())
    val out = fs.create(tmp, true)
    try {
      out.write(m.toSeq.sortBy(_._1)
        .map { case (t, d) => s"$t\t$d" }.mkString("\n").getBytes("UTF-8"))
      out.hsync()
    } finally out.close()
    if (!fs.rename(tmp, manifestPath(n)))
      throw new java.io.IOException(s"commit of ${manifestPath(n)} failed")
    gc()
  }

  private def merge(state: DataFrame, batch: DataFrame,
      action: String): DataFrame = action match {
    case "upsertInto" => KeyedMerge.applyUpsert(state, batch, keys)
    case "insertInto" => KeyedMerge.applyInsert(state, batch, keys)
    case "updateOn" => KeyedMerge.applyUpdateOn(state, batch, keys)
    case "deleteFrom" => KeyedMerge.applyDelete(state,
      batch.filter(col("op") === CdcParse.OpErase), keys)
    // conditional MERGE: "mergeGreater:<col>" updates a matched key
    // only when the batch's <col> is strictly higher (monotone
    // high-water rule), deletes on erase, inserts unmatched — the
    // config-string form so an XML pipeline (O12) can select it like
    // any other action
    case m if m.startsWith("mergeGreater:") =>
      val c = m.stripPrefix("mergeGreater:")
      KeyedMerge.applyMerge(state, batch, keys,
        col("_b_" + c) > col(c))
    case other =>
      throw new IllegalArgumentException(s"unknown action: $other")
  }

  /** Delete orphaned generation dirs / stale tmp manifests a crashed
    * writer left behind (data written but never referenced by a
    * committed manifest). Call at stream (re)start, when the pipeline
    * owns the path exclusively — NOT while another writer is mid-apply
    * on the same table, since its in-flight generation dirs are
    * unreferenced by design.
    */
  def startupGc(): Unit = gc()

  /** Compact the table: rewrite live state into a fresh generation
    * with one file per bucket, keeping the recorded epoch. Long streams
    * of small batches accumulate small parquet files per bucket
    * generation; run this periodically (it is itself a crash-atomic
    * manifest commit, so it can race nothing and replay-safely no-ops
    * on identical state).
    */
  def compact(): Unit = replace(load(), lastEpoch.getOrElse(-1L))

  /** Re-shard the table to a different hash fan-out and return the
    * handle for the new layout; the old handle's reads fail fast
    * afterwards (bucket-count guard). One full read + one shuffled
    * write — how a 100 TB table re-buckets — made visible by the same
    * crash-atomic manifest commit, so a crash anywhere leaves the old
    * layout live. Uncached: the write reads the old layout before the
    * commit.
    */
  def rebucket(newBuckets: Int): KeyedTableSink = {
    val dst = new KeyedTableSink(spark, path, keys, schema, newBuckets)
    dst.replace(load())
    dst
  }

  /** Full-table replace: for state computed wholesale — a snapshot
    * load, a re-shard, or a maintained projection whose next content
    * is computed from the previous generation (the incremental
    * aggregate view, whose output IS the complete new aggregate
    * table). Hash-partitions `next` and swaps every bucket. Same
    * crash-atomic manifest commit as `apply`; `next` may read the
    * current generation (it is written before the commit, and its
    * files are kept for one commit after).
    * `epoch` >= 0 is recorded in the manifest so a streaming replay of
    * the same foreachBatch epoch can detect the projection already
    * reflects this batch (`lastEpoch`) and skip — without it, a crash
    * after the replace but before the fact apply would re-apply the
    * delta against the agg that already contains it (double count).
    */
  def replace(next: DataFrame, epoch: Long = -1L): Unit = {
    val meta: Map[String, String] =
      if (epoch >= 0) Map(MetaEpoch -> epoch.toString) else Map.empty
    swapBuckets(meta, next.repartition(numBuckets, bucketOf),
      0 until numBuckets)
  }

  /** Apply one LWW'd batch (typed rows + `op` column) with the given
    * write action (CdcMsgParser.java:225-248 dispatch). Both caches
    * are released on every exit: after a failure past the commit, the
    * retry reads new generation dirs, so it would never match, or
    * free, a state cache left behind.
    */
  def apply(batch: DataFrame, action: String): Unit = {
    val cached = batch.cache()
    try {
      val touched = cached.select(bucketOf.as("__b"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      if (touched.nonEmpty) {
        val m = manifest()
        // the touched state, cached and materialized before the merge.
        // Kept: on cdc_tail (4 seeds, 4 cores) dropping it cut lag_p50
        // ~14% but raised heap_live_mb 13%, past the benchmark's 10% bound
        val state =
          readDirs(touched.flatMap(b => m.get(b.toString))).cache()
        try {
          state.count()
          swapBuckets(m, merge(state, cached, action), touched)
        } finally state.unpersist()
      }
    } finally cached.unpersist()
  }
}
