package graft

import java.nio.file.{Files, Path, Paths}

/** Scratch directories for specs. */
object TempDirs {
  /** Runs `body` on a fresh directory named `prefix…` under `parent` (the
    * JVM temp dir by default) and deletes the directory with everything in
    * it when `body` ends, pass or fail. `File.deleteOnExit` cannot do this:
    * it skips a directory that is not empty. */
  def withTempDir[A](prefix: String, parent: String = System.getProperty("java.io.tmpdir"))(
      body: Path => A): A = {
    val dir = Files.createTempDirectory(Files.createDirectories(Paths.get(parent)), prefix)
    try body(dir) finally LocalDirs.rmTree(dir.toString)
  }
}
