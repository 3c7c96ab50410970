package graft.sinks

import graft.operators.{CdcParse, KeyedMerge}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path

/** Parquet-backed keyed table with MERGE-style apply (SURVEY.md §7.3):
  * plain Spark has no MERGE INTO over parquet, so state is rewritten as
  * `state ⟕̸ batchKeys ∪ upserts` into fresh generation directories and
  * made visible through a CRASH-ATOMIC manifest swap. Apply is
  * idempotent by construction, which makes Structured Streaming's
  * replay-after-failure satisfy the reference's at-least-once +
  * deferred-commit contract (YqlWriter.java:181-206).
  *
  * Commit protocol (no rename-chain windows): data is fully written to
  * new `g-<uuid>` generation dirs first, then a manifest listing every
  * live dir is promoted:
  *
  *   1. write manifest text to `CURRENT.tmp-<uuid>`
  *   2. rename -> `CURRENT.next`  (atomic appear; existence implies
  *      the manifest AND all dirs it references are complete)
  *   3. delete `CURRENT`, rename `CURRENT.next` -> `CURRENT`
  *
  * A crash in any window rolls FORWARD: a present `CURRENT.next` is
  * the live manifest (its data was durable before it appeared), and
  * the next `apply`, `replace` or `startupGc` promotes it. There is
  * never a moment with no recoverable state — the failure mode the old
  * rename-swap had (crash between renames left no data dir, so a
  * streaming replay would merge against empty state and silently lose
  * the table). Unreferenced generation dirs and stale tmp manifests are
  * garbage-collected after each promote.
  *
  * Reader contract: reads (`load`, `exists`, `lastEpoch`, `manifest`)
  * never write. They parse `CURRENT.next` if it exists, else
  * `CURRENT`, and retry when a concurrent promote renames the file away
  * under them; only the writer promotes. Superseded generations are
  * still gc'd right after each promote, so a read that listed them
  * before the promote can fail (no retention yet).
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
  private val currentPath = new Path(root, "CURRENT")
  private val nextPath = new Path(root, "CURRENT.next")

  // ---- manifest: lines of "<token>\t<relative-dir>"; token is the
  // bucket number, or a meta entry: "buckets" (the hash fan-out the
  // data was written with) or "epoch" ----

  private val MetaBuckets = "buckets"
  private val MetaEpoch = "epoch"

  /** Manifest minus meta entries — the lines that point at data dirs. */
  private def dataEntries(m: Map[String, String]): Map[String, String] =
    m - MetaBuckets - MetaEpoch

  /** The streaming epoch (foreachBatch batchId) recorded by the last
    * `replace`, if any — the replay-idempotence token for maintained
    * projections.
    */
  def lastEpoch: Option[Long] = manifest().get(MetaEpoch).map(_.toLong)

  /** Promote (writer only): roll CURRENT.next onto CURRENT. CURRENT.next
    * is only ever written AFTER its data dirs are complete, so it wins.
    */
  private def recover(): Unit = if (fs.exists(nextPath)) {
    if (fs.exists(currentPath)) fs.delete(currentPath, false)
    fs.rename(nextPath, currentPath)
  }

  /** The live manifest's text, without writing: CURRENT.next if present
    * (complete, maybe not yet promoted), else CURRENT. A promote can
    * remove the file under a reader (or, on a checksummed file system,
    * pair its old data with the new checksum); the probes then repeat.
    * None only when no manifest file was ever seen (never committed).
    */
  private def readManifest(): Option[String] = {
    var seen = false
    def read(p: Path): Option[String] = try {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => None
      case _: org.apache.hadoop.fs.ChecksumException => seen = true; None
    }
    for (round <- 1 to 20) {
      val txt = read(nextPath).orElse(read(currentPath))
      if (txt.isDefined) return txt
      seen ||= fs.exists(nextPath) || fs.exists(currentPath)
      if (!seen) return None
      Thread.sleep(round)
    }
    throw new IllegalStateException(
      s"table at $path: the manifest vanished under every read")
  }

  /** Current live manifest: bucket-number -> relative dir.
    * Public as an ops/inspection surface (which dirs are live).
    */
  def manifest(): Map[String, String] = readManifest() match {
    case None => Map.empty
    case Some(txt) =>
      val m = txt.linesIterator.filter(_.nonEmpty).map { l =>
        val Array(tok, dir) = l.split("\t", 2)
        tok -> dir
      }.toMap
      // refuse to mis-hash: a sink handle whose bucket fan-out differs
      // from what the table was written with would route keys to the
      // wrong generation dirs and silently drop/duplicate state; 0 is
      // the retired whole-table ("flat") layout, which no handle opens
      val recorded = m.get(MetaBuckets).map(_.toInt)
        .getOrElse(if (m.contains("flat")) 0 else numBuckets)
      if (recorded != numBuckets)
        throw new IllegalStateException(s"table at $path " + (
          if (recorded == 0) "uses the retired whole-table (flat) " +
            "layout; migrate it: read its generation dir " +
            s"${new Path(root, m("flat"))} with spark.read.parquet " +
            "and replace() that into a new sink"
          else s"was written with numBuckets=$recorded but this sink " +
            s"was constructed with numBuckets=$numBuckets; open with " +
            "the recorded count or run rebucket()"))
      m
  }

  private def writeManifest(m0: Map[String, String]): Unit = {
    // promote a crashed writer's CURRENT.next (m0 was read from it)
    // so the rename below has a free target
    recover()
    val m = m0 + (MetaBuckets -> numBuckets.toString)
    val tmp = new Path(root, s"CURRENT.tmp-${uuid()}")
    val out = fs.create(tmp, true)
    try {
      out.write(m.toSeq.sortBy(_._1)
        .map { case (t, d) => s"$t\t$d" }.mkString("\n").getBytes("UTF-8"))
      out.hsync()
    } finally out.close()
    fs.rename(tmp, nextPath) // atomic appear of a COMPLETE manifest
    recover() // promote: delete CURRENT, CURRENT.next -> CURRENT
  }

  /** Delete generation dirs no longer referenced and stale tmp files.
    * Safe because apply() is single-writer per pipeline (reference
    * semantics) and state reads materialize before the swap.
    */
  private def gc(live: Map[String, String]): Unit = {
    val referenced = dataEntries(live).values.map(_.split("/")(0)).toSet
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("g-") && !referenced.contains(n))
        fs.delete(st.getPath, true)
      else if (n.startsWith("CURRENT.tmp-"))
        fs.delete(st.getPath, false)
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
    */
  private def swapBuckets(prev: Map[String, String], next: DataFrame,
      buckets: Seq[Int]): Unit = {
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
    }
    writeManifest(m)
    gc(m)
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

  /** Recover a mid-promote crash and delete orphaned generation dirs /
    * stale tmp manifests a crashed writer left behind (data written but
    * never referenced by a promoted manifest). Call at stream
    * (re)start, when the pipeline owns the path exclusively — NOT
    * while another writer is mid-apply on the same table, since its
    * in-flight generation dirs are unreferenced by design.
    */
  def startupGc(): Unit = {
    recover()
    if (fs.exists(root)) gc(manifest())
  }

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
    * afterwards (bucket-count guard). One full read +
    * one shuffled write — how a 100 TB table re-buckets — promoted by
    * the same crash-atomic manifest commit; old generations are GC'd
    * after the promote, so a crash anywhere leaves the old layout live.
    */
  def rebucket(newBuckets: Int): KeyedTableSink = {
    val data = load().cache()
    data.count() // materialize before the promote drops old dirs
    val dst = new KeyedTableSink(spark, path, keys, schema, newBuckets)
    dst.replace(data)
    data.unpersist()
    dst
  }

  /** Full-table replace: for state computed wholesale — a snapshot
    * load, a re-shard, or a maintained projection whose next content
    * is computed from the previous generation (the incremental
    * aggregate view, whose output IS the complete new aggregate
    * table). Hash-partitions `next` and swaps every bucket. Same
    * crash-atomic manifest promote as `apply`; `next` may read the
    * current generation (its files survive until the post-promote GC).
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
    * are released on every exit: after a failure past the promote, the
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
        // materialize before the swap invalidates the files. Kept: on
        // cdc_tail (4 seeds, 4 cores) dropping it cut lag_p50 ~14% but
        // raised heap_live_mb 13%, past the benchmark's 10% bound
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
