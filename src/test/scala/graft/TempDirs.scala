package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp directories and files under `java.io.tmpdir` that the suite
  * owns: everything made through [[tempDir]] or [[tempFile]] is deleted,
  * with its contents, when the suite ends.
  */
trait TempDirs extends BeforeAndAfterAll { self: Suite =>

  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private def owned(p: Path): Path = { made.add(p); p }

  def tempDir(prefix: String): Path = owned(Files.createTempDirectory(prefix))

  def tempFile(prefix: String, suffix: String): Path =
    owned(Files.createTempFile(prefix, suffix))

  override def afterAll(): Unit =
    try made.forEach(p => FileUtils.deleteQuietly(p.toFile))
    finally super.afterAll()
}
