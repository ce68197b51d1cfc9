package graft

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temporary directories for a suite's fixtures, deleted when the suite
  * ends. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A new empty directory in java.io.tmpdir named after `prefix`. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    made.add(d)
    d.getAbsolutePath
  }

  override protected def afterAll(): Unit =
    try made.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    finally super.afterAll()
}
