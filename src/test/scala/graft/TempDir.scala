package graft

import java.nio.file.{Files, Path}

/** Scratch directories that do not outlive the test using them. */
object TempDir {

  /** Runs `body` on a new directory under the JVM temp dir whose name
    * starts with `prefix`, and deletes that directory recursively when
    * `body` returns or throws. */
  def apply[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally graft.model.GraftStore.rmTree(dir.toFile)
  }
}
