package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom

/** Seeded changelog generator. Plain Scala, no Spark, nothing shared
  * with the system under test: the program only ever sees the envelope
  * text it writes. The op mix and JSON shape are those of
  * `graft.sources.Changelog.renderEnvelopes`: per envelope, 1 in 10
  * each of erase, keys-only `{}` update, non-object update with a
  * newImage fallback, and newImage alone (which the parser drops), and
  * 6 in 10 full updates.
  */
object Gen {
  val EventTypes: Array[String] =
    Array("view", "click", "cart", "purchase", "search")

  def envelope(offset: Long, key: Long, kind: Int, eventType: String,
      valueMilli: Long): String = {
    val payload =
      s"""{"user_id":$key,"event_type":"$eventType","value_milli":$valueMilli}"""
    val head = s"""{"offset":$offset,"key":[$key]"""
    kind match {
      case 0 => s"""$head,"erase":{}}"""
      case 1 => s"""$head,"update":{}}"""
      case 2 => s"""$head,"update":7,"newImage":$payload}"""
      case 3 => s"""$head,"newImage":$payload}"""
      case _ => s"""$head,"update":$payload}"""
    }
  }

  /** Envelope stream over keys `[0, keySpace)` with uniform keys: the
    * n-th `next()` returns the same (key, envelope) for the same seed.
    */
  final class Stream(seed: Long, keySpace: Long) {
    private val rnd = new SplittableRandom(seed)
    private var offset = 0L
    def next(): (Long, String) = {
      val key = rnd.nextLong(keySpace)
      val kind = rnd.nextInt(10)
      val et = EventTypes(rnd.nextInt(EventTypes.length))
      val vm = rnd.nextLong(1000000L)
      val line = envelope(offset, key, kind, et, vm)
      offset += 1
      key -> line
    }
  }

  /** Write `n` envelopes as changelog files of `perFile` lines each.
    * File modification times strictly increase with the file index, so
    * a file source replays them in log order.
    */
  def writeLog(dir: Path, seed: Long, n: Int, keySpace: Long,
      perFile: Int): Seq[String] = {
    Files.createDirectories(dir)
    val s = new Stream(seed, keySpace)
    val lines = Array.fill(n)(s.next()._2)
    val base = 1000000000000L
    lines.grouped(perFile).zipWithIndex.foreach { case (chunk, i) =>
      val f = dir.resolve(f"chunk-$i%05d.json")
      Files.write(f, chunk.mkString("", "\n", "\n").getBytes(UTF_8))
      Files.setLastModifiedTime(f, FileTime.fromMillis(base + i * 1000L))
    }
    lines.toSeq
  }

  // The bootstrapped state of the tail workload: one live row per key.
  // Integer arithmetic only, so the Spark expression in `Workloads`
  // and the model here agree exactly.
  def bootEventType(seed: Long, key: Long): String =
    EventTypes(math.floorMod(key * 31L + seed, EventTypes.length.toLong).toInt)

  def bootValue(seed: Long, key: Long): Long =
    math.floorMod(key * 7919L + seed * 104729L, 1000003L)
}
