package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp directories for a suite, deleted after it: every spec
  * that writes a store, a checkpoint or an artifact takes its location
  * here, so a test run leaves nothing behind in the temp dir. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory, deleted after the suite. */
  def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    made.add(p)
    p
  }

  override protected def afterAll(): Unit =
    try made.forEach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
    finally super.afterAll()
}
