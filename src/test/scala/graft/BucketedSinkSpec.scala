package graft

import graft.operators.CdcParse
import graft.sinks.KeyedTableSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Bucketed keyed sink: same results at any bucket count, and merges
  * rewrite only the touched bucket directories.
  */
class BucketedSinkSpec extends AnyFunSuite {
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
    val oneDir = Files.createTempDirectory("one").toString
    val bukDir = Files.createTempDirectory("buk").toString
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
    val dir = Files.createTempDirectory("buk2").toString
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

  test("compact() collapses small-file accumulation, state unchanged") {
    val dir = Files.createTempDirectory("buk-compact").toString
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema,
      numBuckets = 4)
    // a maintained projection's recorded epoch must survive compaction
    sink.replace(sink.load(), epoch = 7L)
    // many tiny batches -> many generations referenced per bucket
    (0L until 12L).foreach { i =>
      sink.apply(batch((i, i * 10, CdcParse.OpUpdate)), "upsertInto")
    }
    val before = rows(sink)
    def parquetFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir))
        .count(_.getName.endsWith(".parquet"))
    }
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

  test("crash between manifest steps rolls forward (CURRENT.next wins)") {
    val dir = Files.createTempDirectory("buk4").toString
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema,
      numBuckets = 4)
    sink.apply(batch((1L, 10L, CdcParse.OpUpdate)), "upsertInto")
    // simulate a crash mid-promote: CURRENT deleted, CURRENT.next
    // holds the complete manifest (the only dangerous window of the
    // old rename-chain swap)
    val cur = new java.io.File(s"$dir/CURRENT")
    val next = new java.io.File(s"$dir/CURRENT.next")
    assert(cur.exists())
    java.nio.file.Files.copy(cur.toPath, next.toPath)
    assert(cur.delete())
    // next read recovers the state instead of silently starting empty
    assert(rows(sink) === Set((1L, 10L)))
    assert(cur.exists() && !next.exists())
    // replay after "restart" still merges against recovered state
    sink.apply(batch((2L, 20L, CdcParse.OpUpdate)), "upsertInto")
    assert(rows(sink) === Set((1L, 10L), (2L, 20L)))
  }

  test("rebucket re-shards state; mismatched handle fails fast") {
    val dir = Files.createTempDirectory("buk-rb").toString
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
    // old generations GC'd: only referenced g-* dirs remain
    val gdirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("g-")).map(_.getName).toSet
    val referenced = re.manifest().values
      .map(_.split("/")(0)).filter(_.startsWith("g-")).toSet
    assert(gdirs === referenced)
    // merges keep working against the new layout
    re.apply(batch((7L, 777L, CdcParse.OpUpdate)), "upsertInto")
    assert(rows(re) === before - ((7L, 70L)) + ((7L, 777L)))
    // down to one bucket works too (the old handle is stale after)
    val expected = rows(re)
    val one = re.rebucket(1)
    assert(rows(one) === expected)
    intercept[IllegalStateException] { re.load() }
  }

  test("a table in the retired whole-table layout is refused, not read " +
      "as empty") {
    val dir = Files.createTempDirectory("buk-legacy").toString
    // the manifest the whole-table layout wrote: one "flat" entry, no
    // bucket count, its generation dir holding the rows
    Seq((1L, 10L)).toDF("id", "v").write.parquet(s"$dir/g-0000aaaa")
    Files.write(java.nio.file.Paths.get(dir, "CURRENT"),
      "flat\tg-0000aaaa".getBytes("UTF-8"))
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema)
    val e = intercept[IllegalStateException] { sink.load() }
    assert(e.getMessage.contains("whole-table"), e.getMessage)
    assert(e.getMessage.contains("spark.read.parquet"), e.getMessage)
    intercept[IllegalStateException] {
      sink.apply(batch((2L, 20L, CdcParse.OpUpdate)), "upsertInto")
    }
    // the legacy data is untouched
    assert(spark.read.parquet(s"$dir/g-0000aaaa").count() === 1)
    intercept[IllegalArgumentException] {
      new KeyedTableSink(spark, dir, Seq("id"), schema, numBuckets = 0)
    }
  }

  test("emptied bucket disappears; replay is idempotent") {
    val dir = Files.createTempDirectory("buk3").toString
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema,
      numBuckets = 4)
    sink.apply(batch((5L, 50L, CdcParse.OpUpdate)), "upsertInto")
    val del = batch((5L, 0L, CdcParse.OpErase))
    sink.apply(del, "upsertInto")
    assert(rows(sink) === Set())
    sink.apply(del, "upsertInto") // replay
    assert(rows(sink) === Set())
  }

  test("startupGc removes a crashed writer's orphans, keeps live state") {
    val dir = Files.createTempDirectory("buk4").toString
    val sink = new KeyedTableSink(spark, dir, Seq("id"), schema,
      numBuckets = 4)
    sink.apply(batch((1L, 10L, CdcParse.OpUpdate),
      (2L, 20L, CdcParse.OpUpdate)), "upsertInto")
    val before = rows(sink)
    // simulate a writer that crashed after writing data but before the
    // manifest promote: an unreferenced generation dir + tmp manifest
    val orphan = new java.io.File(dir, "g-deadbeef")
    assert(orphan.mkdir())
    Files.write(orphan.toPath.resolve("part-0.parquet"),
      Array[Byte](1, 2, 3))
    Files.write(java.nio.file.Paths.get(dir, "CURRENT.tmp-ffff"),
      "junk".getBytes)
    sink.startupGc()
    assert(!orphan.exists())
    assert(!new java.io.File(dir, "CURRENT.tmp-ffff").exists())
    assert(rows(sink) === before)
    // on a brand-new (never-applied) table it is a no-op, not a crash
    val fresh = new KeyedTableSink(spark,
      Files.createTempDirectory("buk5").toString + "/nested",
      Seq("id"), schema, numBuckets = 4)
    fresh.startupGc()
  }
}
