package graft

import org.scalatest.{BeforeAndAfterAll, Suite}
import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue
import scala.util.Try

/** Temporary directories a suite makes through `tempDir` are deleted,
  * with everything in them, once the suite has finished (after any
  * `afterAll` it mixes in before this trait, e.g. `StopStreamsAfterAll`,
  * so no stream still writes into them).
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach(d => TempDirs.delete(d))
}

object TempDirs {

  /** A temporary directory deleted when the JVM exits: for state that
    * outlives every suite, like the shared session's warehouse.
    */
  def forJvm(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    sys.addShutdownHook(delete(d))
    d.toString
  }

  /** Deletes `d` and everything under it, best-effort. */
  def delete(d: Path): Unit = Try {
    val all = Files.walk(d)
    try all.sorted(Comparator.reverseOrder[Path]())
      .forEach(p => Try(Files.deleteIfExists(p)))
    finally all.close()
  }
}
