package graft.util

/**
 * Scratch directories that do not outlive their query. A body that
 * returns a DataFrame reading from the directory must snapshot it
 * (eager `localCheckpoint`) before returning, because the tree is gone
 * once `withDir` returns or throws.
 */
object Scratch {

  /** Run `body` on a fresh `java.io.tmpdir` directory named
    * `prefix*` and delete the tree in a `finally`, so a throw from
    * the body does not leak it. */
  def withDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally delete(dir)
  }

  /** Delete `f` and, if it is a directory, everything under it. */
  def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete(); ()
  }
}
