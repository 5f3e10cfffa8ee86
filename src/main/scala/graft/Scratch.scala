package graft

import java.nio.file.{Files, Path, Paths}

/** Where faces land the files they write and read back (SURVEY §2.1's
  * sinks: snapshots, shards, feeds, streaming sinks, the Derby and Mongo
  * stores). Every such path is `<root>/<name>_<key(sfDir)>`, and the root
  * is one fresh `graft-<random>` directory per JVM under the JVM's temp
  * dir, made on first use and deleted at exit. So no two JVMs share a
  * path, a run leaves no files behind, and within one JVM a face's cold
  * and warm runs land in the same place. The test suites take their
  * private dirs from the same root ([[fresh]]), so they leave none
  * either. */
object Scratch {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-").toAbsolutePath
    sys.addShutdownHook {
      // best effort: a task still writing at exit must not fail the exit
      try deleteRec(r.toString)
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => }
    }
    r
  }

  /** The sf dir as a path segment and catalog identifier: every character
    * outside `[A-Za-z0-9]` becomes `_`. */
  def key(sfDir: String): String = sfDir.replaceAll("[^A-Za-z0-9]", "_")

  /** Where `name` lands for the tables under `sfDir`; the writer creates it. */
  def dir(name: String, sfDir: String): String =
    root.resolve(s"${name}_${key(sfDir)}").toString

  /** A new empty directory `<root>/<prefix><random>`, for a caller that
    * needs a private dir rather than a face's keyed landing path; it goes
    * with the root at exit. */
  def fresh(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** Recursive delete: the exit hook's, and the streaming faces' clear
    * of their sink and checkpoint before each run. */
  def deleteRec(path: String): Unit = {
    val top = Paths.get(path)
    if (Files.exists(top)) {
      val all = Files.walk(top)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
      finally all.close()
    }
  }
}
