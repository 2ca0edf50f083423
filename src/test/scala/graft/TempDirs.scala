package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.scalatest.{Args, Outcome, Status, TestSuite}
import scala.collection.mutable.ArrayBuffer

/** Temp directories a test makes with [[tempDir]], deleted in a
  * `finally` once the test ends, whether it passed or failed; and
  * [[suiteTempDir]]s (a fixture several tests share), deleted once the
  * whole suite has run. */
trait TempDirs extends TestSuite {
  private val dirs = ArrayBuffer.empty[Path]
  private val suiteDirs = ArrayBuffer.empty[Path]

  private def make(into: ArrayBuffer[Path], prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    into.synchronized(into += d)
    d
  }

  private def deleteAll(from: ArrayBuffer[Path]): Unit = from.synchronized {
    from.foreach(d => FileUtils.deleteDirectory(d.toFile))
    from.clear()
  }

  def tempDir(prefix: String): Path = make(dirs, prefix)

  def suiteTempDir(prefix: String): Path = make(suiteDirs, prefix)

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally deleteAll(dirs)

  override def run(testName: Option[String], args: Args): Status =
    try super.run(testName, args)
    finally deleteAll(suiteDirs)
}
