package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs for a suite's fixtures: [[tempDir]] creates one under the
  * system temp dir and `afterAll` deletes every dir the suite created.
  * A suite that overrides `afterAll` must end it with `super.afterAll()`. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  protected def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    created.add(p)
    p
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally created.forEach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
}
