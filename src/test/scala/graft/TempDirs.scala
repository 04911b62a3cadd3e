package graft

import java.io.File

import org.scalatest.{BeforeAndAfterAll, Suite}

/** A temporary directory per suite, deleted after the suite's last test:
  * fixtures written through `tmp(name)` never outlive the run and never
  * collide with another JVM running the same suite. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  // A short prefix: plan strings cut a file index's path at about 70
  // characters, and specs look for a directory suffix such as "_ctr62"
  // in the physical plan.
  lazy val tempRoot: File = java.nio.file.Files.createTempDirectory("graft").toFile

  /** Path of `name` inside the suite's temporary directory. */
  def tmp(name: String): String = new File(tempRoot, name).getPath

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteQuietly(tempRoot) finally super.afterAll()
}
