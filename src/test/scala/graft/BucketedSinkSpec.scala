package graft

import graft.operators.CdcParse
import graft.sinks.KeyedTableSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Bucketed keyed sink: same results at any bucket count, and merges
  * rewrite only the touched bucket directories.
  */
class BucketedSinkSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", LongType)))

  def batch(rows: (Long, Long, String)*): DataFrame =
    rows.toSeq.map { case (id, v, op) => (id, v, op, id) }
      .toDF("id", "v", "op", "seq")

  def rows(s: KeyedTableSink): Set[(Long, Long)] =
    s.load().collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("one-bucket apply matches 8-bucket apply across actions") {
    val oneDir = tempDir("one")
    val bukDir = tempDir("buk")
    val one = new KeyedTableSink(spark, oneDir, Seq("id"), schema)
    val buk = new KeyedTableSink(spark, bukDir, Seq("id"), schema,
      numBuckets = 8)
    val b1 = batch((1L, 10L, CdcParse.OpUpdate), (2L, 20L, CdcParse.OpUpdate),
      (3L, 30L, CdcParse.OpUpdate), (17L, 170L, CdcParse.OpUpdate))
    one.apply(b1, "upsertInto"); buk.apply(b1, "upsertInto")
    assert(rows(one) === rows(buk))
    val b2 = batch((2L, 21L, CdcParse.OpUpdate), (3L, 0L, CdcParse.OpErase),
      (99L, 990L, CdcParse.OpUpdate))
    one.apply(b2, "upsertInto"); buk.apply(b2, "upsertInto")
    assert(rows(one) === rows(buk))
    assert(rows(buk) === Set((1L, 10L), (2L, 21L), (17L, 170L),
      (99L, 990L)))
    val b3 = batch((1L, 0L, CdcParse.OpErase))
    one.apply(b3, "deleteFrom"); buk.apply(b3, "deleteFrom")
    assert(rows(one) === rows(buk))
  }

  test("untouched bucket directories are not rewritten") {
    val dir = tempDir("buk2")
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema,
      numBuckets = 8)
    // spread keys over several buckets
    sink.apply(batch((0L to 40L).map(i => (i, i * 10, CdcParse.OpUpdate)): _*),
      "upsertInto")
    val before = sink.manifest()
    assert(before.size > 1) // multiple bucket entries exist
    // touch exactly one key -> exactly one manifest entry repointed;
    // every other bucket's generation dir carries over untouched
    sink.apply(batch((7L, 777L, CdcParse.OpUpdate)), "upsertInto")
    val after = sink.manifest()
    val changed = after.filter { case (b, d) => before.get(b) != Some(d) }
    assert(changed.size === 1, s"changed=$changed")
    assert(before.keySet === after.keySet)
    assert(rows(sink).contains((7L, 777L)))
  }

  /** The committed manifests on disk, oldest first, parsed. */
  def manifests(dir: String): Seq[Map[String, String]] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.matches("manifest-\\d+")).sorted.toSeq.map { n =>
        new String(Files.readAllBytes(java.nio.file.Paths.get(dir, n)),
          "UTF-8").split("\n").map { l =>
          val Array(t, d) = l.split("\t", 2); t -> d
        }.toMap
      }

  /** The g-* dirs a manifest references. */
  def gens(m: Map[String, String]): Set[String] =
    m.values.map(_.split("/")(0)).filter(_.startsWith("g-")).toSet

  def listing(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.sorted

  /** Parquet files in each live bucket dir of the sink at `dir`. */
  def filesPerBucket(sink: KeyedTableSink, dir: String): Map[String, Int] =
    (sink.manifest() - "buckets" - "epoch").map { case (b, d) =>
      b -> new java.io.File(dir, d).listFiles()
        .count(_.getName.endsWith(".parquet"))
    }

  /** Keys in each live bucket dir of the sink at `dir`. */
  def keysPerBucket(sink: KeyedTableSink, dir: String): Map[String, Set[Long]] =
    (sink.manifest() - "buckets" - "epoch").map { case (b, d) =>
      b -> spark.read.parquet(s"$dir/$d").select("id").as[Long]
        .collect().toSet
    }

  def spread(n: Long): DataFrame =
    batch((0L until n).map(i => (i, i * 10, CdcParse.OpUpdate)): _*)
      .repartition(4)

  test("apply writes one parquet file per touched bucket") {
    val dir = tempDir("buk-clu")
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema,
      numBuckets = 8)
    sink.apply(spread(200), "upsertInto")
    val first = filesPerBucket(sink, dir)
    assert(first.size === 8 && first.values.forall(_ == 1), s"$first")
    // a merge against existing state keeps the layout
    sink.apply(spread(300), "upsertInto")
    val second = filesPerBucket(sink, dir)
    assert(second.size === 8 && second.values.forall(_ == 1), s"$second")
    assert(rows(sink) === (0L until 300L).map(i => (i, i * 10)).toSet)
  }

  test("replace writes one parquet file per bucket") {
    val dir = tempDir("buk-clu-r")
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema,
      numBuckets = 4)
    sink.replace(spread(200).select("id", "v"))
    val files = filesPerBucket(sink, dir)
    assert(files.size === 4 && files.values.forall(_ == 1), s"$files")
    assert(rows(sink) === (0L until 200L).map(i => (i, i * 10)).toSet)
  }

  test("write tasks divide the bucket count; one bucket is not clustered") {
    val cases = Seq((32, 4) -> Some(4), (8, 4) -> Some(4),
      (31, 4) -> Some(31), (1, 4) -> None, (1, 1) -> None, (3, 4) -> None)
    for (((buckets, cores), tasks) <- cases)
      assert(KeyedTableSink.writeTasks(buckets, cores) === tasks,
        s"buckets=$buckets cores=$cores")
  }

  test("compact() collapses small-file accumulation, state unchanged") {
    val dir = tempDir("buk-compact")
    // a table an unclustered writer left (every write task put one file
    // into each bucket it held), with a maintained projection's recorded
    // epoch, which must survive compaction. Writes through the sink are
    // clustered, so they do not pile up files per bucket themselves.
    (0L until 40L).map(i => (i, i * 10)).toDF("id", "v")
      .withColumn("__bucket", pmod(hash(col("id")), lit(4)))
      .repartition(3).write.partitionBy("__bucket")
      .parquet(s"$dir/g-0000aaaa")
    Files.write(java.nio.file.Paths.get(dir, "manifest-%020d".format(1)),
      ((0 until 4).map(b => s"$b\tg-0000aaaa/__bucket=$b") ++
        Seq("buckets\t4", "epoch\t7")).mkString("\n").getBytes("UTF-8"))
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema,
      numBuckets = 4)
    // the hand-built table copies the sink's manifest format and bucket
    // hash: a table the sink writes from the same rows must match it
    val refDir = tempDir("buk-compact-ref")
    val ref = new KeyedTableSink(spark, refDir, Seq("id"), schema,
      numBuckets = 4)
    ref.apply(spread(40), "upsertInto")
    assert(keysPerBucket(sink, dir) === keysPerBucket(ref, refDir))
    val before = rows(sink)
    // parquet files of the live generations (the previous commit's are
    // retained on disk for one more commit, but are not live)
    def parquetFiles(): Int = filesPerBucket(sink, dir).values.sum
    val filesBefore = parquetFiles()
    sink.compact()
    assert(rows(sink) === before) // state identical
    assert(sink.lastEpoch === Some(7L))
    val filesAfter = parquetFiles()
    assert(filesAfter < filesBefore,
      s"compact did not shrink files: $filesBefore -> $filesAfter")
    // and applies keep working on the compacted table
    sink.apply(batch((99L, 990L, CdcParse.OpUpdate)), "upsertInto")
    assert(rows(sink) === before + ((99L, 990L)))
  }

  /** What a writer that crashed after writing its generation, but
    * before the rename, leaves on disk: the generation and a complete
    * tmp manifest pointing at it.
    */
  def crashedWriter(dir: String): Unit = {
    Seq((1L, -1L), (3L, 30L)).toDF("id", "v")
      .write.parquet(s"$dir/g-deadbeef/__bucket=0")
    Files.write(java.nio.file.Paths.get(dir, "manifest.tmp-ffff"),
      "0\tg-deadbeef/__bucket=0\nbuckets\t4".getBytes("UTF-8"))
  }

  test("a crash before the manifest rename leaves the previous state live") {
    val dir = tempDir("buk4")
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema,
      numBuckets = 4)
    sink.apply(batch((1L, 10L, CdcParse.OpUpdate)), "upsertInto")
    crashedWriter(dir)
    assert(rows(sink) === Set((1L, 10L)))
    // the restarted writer commits on top of the previous state
    sink.apply(batch((2L, 20L, CdcParse.OpUpdate)), "upsertInto")
    assert(rows(sink) === Set((1L, 10L), (2L, 20L)))
    assert(!new java.io.File(dir, "g-deadbeef").exists())
    assert(!new java.io.File(dir, "manifest.tmp-ffff").exists())
  }

  test("reads never write: load() skips a tmp manifest and orphan data") {
    val dir = tempDir("buk-ro")
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema,
      numBuckets = 4)
    sink.apply(batch((1L, 10L, CdcParse.OpUpdate)), "upsertInto")
    sink.apply(batch((2L, 20L, CdcParse.OpUpdate)), "upsertInto")
    crashedWriter(dir)
    val before = listing(dir)
    assert(rows(sink) === Set((1L, 10L), (2L, 20L)))
    assert(sink.exists && sink.lastEpoch.isEmpty)
    assert(listing(dir) === before)
  }

  test("a load() stays readable after the next commit (snapshot read)") {
    val dir = tempDir("buk-snap")
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema)
    sink.apply(batch((1L, 10L, CdcParse.OpUpdate)), "upsertInto")
    val old = sink.load()
    // rewrites the only bucket: the first generation is superseded
    sink.apply(batch((1L, 11L, CdcParse.OpUpdate)), "upsertInto")
    assert(old.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 10L)))
    assert(rows(sink) === Set((1L, 11L)))
  }

  test("rebucket re-shards state; mismatched handle fails fast") {
    val dir = tempDir("buk-rb")
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema,
      numBuckets = 4)
    val data = (0L to 30L).map(i => (i, i * 10, CdcParse.OpUpdate))
    sink.apply(batch(data: _*), "upsertInto")
    val before = rows(sink)
    // a handle with the wrong fan-out must refuse to read (it would
    // route keys to the wrong bucket dirs on the next merge)
    val wrong = new KeyedTableSink(spark, dir, Seq("id"), schema,
      numBuckets = 16)
    intercept[IllegalStateException] { wrong.load() }
    val re = sink.rebucket(8)
    assert(rows(re) === before)
    // old generations GC'd: every remaining g-* dir is referenced by
    // one of the two newest manifests, the only ones kept
    val gdirs = listing(dir).filter(_.startsWith("g-")).toSet
    val kept = manifests(dir)
    assert(kept.size === 2)
    assert(gdirs === kept.map(gens).reduce(_ ++ _))
    assert(gens(re.manifest()).subsetOf(gdirs))
    // merges keep working against the new layout
    re.apply(batch((7L, 777L, CdcParse.OpUpdate)), "upsertInto")
    assert(rows(re) === before - ((7L, 70L)) + ((7L, 777L)))
    // down to one bucket works too (the old handle is stale after)
    val expected = rows(re)
    val one = re.rebucket(1)
    assert(rows(one) === expected)
    intercept[IllegalStateException] { re.load() }
  }

  test("a failed rebucket releases every cache it took") {
    val dir = tempDir("buk-rb0")
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema,
      numBuckets = 4)
    sink.apply(batch((1L, 10L, CdcParse.OpUpdate)), "upsertInto")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalArgumentException] { sink.rebucket(0) }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"RDDs still persisted: $leaked")
    assert(rows(sink) === Set((1L, 10L)))
  }

  test("retired CURRENT format (flat or bucketed) is refused, not read as " +
      "empty") {
    // the manifests the retired protocol wrote: the whole-table layout
    // (one "flat" entry, no bucket count) and the bucketed layout
    for ((name, rel, txt) <- Seq(
        ("CURRENT", "g-0000aaaa", "flat\tg-0000aaaa"),
        ("CURRENT.next", "g-0000aaaa/__bucket=0",
          "0\tg-0000aaaa/__bucket=0\nbuckets\t1"))) {
      val dir = tempDir("buk-legacy")
      val data = s"$dir/$rel"
      Seq((1L, 10L)).toDF("id", "v").write.parquet(data)
      Files.write(java.nio.file.Paths.get(dir, name), txt.getBytes("UTF-8"))
      val before = listing(dir)
      val sink = new KeyedTableSink(spark, dir, Seq("id"), schema)
      val e = intercept[IllegalStateException] { sink.load() }
      assert(e.getMessage.contains(name), e.getMessage)
      assert(e.getMessage.contains(data), e.getMessage)
      assert(e.getMessage.contains("spark.read.parquet"), e.getMessage)
      intercept[IllegalStateException] {
        sink.apply(batch((2L, 20L, CdcParse.OpUpdate)), "upsertInto")
      }
      intercept[IllegalStateException] {
        sink.replace(Seq((2L, 20L)).toDF("id", "v"))
      }
      intercept[IllegalStateException] { sink.startupGc() }
      // the legacy data is untouched, and no writer added anything
      assert(listing(dir) === before)
      assert(spark.read.parquet(data).count() === 1)
    }
    intercept[IllegalArgumentException] {
      new KeyedTableSink(spark, tempDir("buk0"),
        Seq("id"), schema, numBuckets = 0)
    }
  }

  test("emptied bucket disappears; replay is idempotent") {
    val dir = tempDir("buk3")
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema,
      numBuckets = 4)
    sink.apply(batch((5L, 50L, CdcParse.OpUpdate)), "upsertInto")
    val del = batch((5L, 0L, CdcParse.OpErase))
    sink.apply(del, "upsertInto")
    assert(rows(sink) === Set())
    sink.apply(del, "upsertInto") // replay
    assert(rows(sink) === Set())
  }

  test("a failed apply releases the batch and state caches") {
    val dir = tempDir("buk6")
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema,
      numBuckets = 4)
    sink.apply(batch((1L, 10L, CdcParse.OpUpdate)), "upsertInto")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // an unknown action fails inside merge, after both caches exist
    intercept[IllegalArgumentException] {
      sink.apply(batch((1L, 11L, CdcParse.OpUpdate)), "noSuchAction")
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"RDDs still persisted: $leaked")
    assert(rows(sink) === Set((1L, 10L)))
  }

  test("startupGc removes a crashed writer's orphans, keeps live state") {
    val dir = tempDir("buk4")
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema,
      numBuckets = 4)
    sink.apply(batch((1L, 10L, CdcParse.OpUpdate),
      (2L, 20L, CdcParse.OpUpdate)), "upsertInto")
    val before = rows(sink)
    // simulate a writer that crashed after writing data but before the
    // manifest rename: an unreferenced generation dir + tmp manifest
    val orphan = new java.io.File(dir, "g-deadbeef")
    assert(orphan.mkdir())
    Files.write(orphan.toPath.resolve("part-0.parquet"),
      Array[Byte](1, 2, 3))
    Files.write(java.nio.file.Paths.get(dir, "manifest.tmp-ffff"),
      "junk".getBytes)
    sink.startupGc()
    assert(!orphan.exists())
    assert(!new java.io.File(dir, "manifest.tmp-ffff").exists())
    assert(rows(sink) === before)
    // on a brand-new (never-applied) table it is a no-op, not a crash
    val fresh = new KeyedTableSink(spark,
      tempDir("buk5") + "/nested",
      Seq("id"), schema, numBuckets = 4)
    fresh.startupGc()
  }
}
