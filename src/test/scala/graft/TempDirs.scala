package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.scalatest.{Outcome, TestSuite}
import scala.collection.mutable.ArrayBuffer

/** Temp directories a test makes with [[tempDir]], deleted in a
  * `finally` once the test ends, whether it passed or failed. */
trait TempDirs extends TestSuite {
  private val dirs = ArrayBuffer.empty[Path]

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    dirs.synchronized(dirs += d)
    d
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally dirs.synchronized {
      dirs.foreach(d => FileUtils.deleteDirectory(d.toFile))
      dirs.clear()
    }
}
