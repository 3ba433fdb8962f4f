package graft

import java.nio.file.{Files, LinkOption, Path, Paths}

/** The one owner of scratch directories. Two lifecycles:
  *  - [[withDir]]: a directory that lives exactly as long as one block
  *    (round-trips, compaction, streaming checkpoints) — created in
  *    `java.io.tmpdir`, deleted in a `finally`;
  *  - [[scratchDir]]: a directory under the JVM's scratch [[root]], for
  *    output a lazily-read frame still needs after its producer returns
  *    (memo tables, drained gate output) — the root's shutdown hook
  *    deletes it.
  * One definition of recursive delete, so deletion hardening — symlink
  * guards, retry on lock-holding filesystems — lands in one place.
  */
object Scratch {
  /** Runs `body` with a fresh directory named `prefix…` in
    * `java.io.tmpdir`, and deletes the directory when `body` returns or
    * throws. A frame `body` returns must not read the directory lazily:
    * materialize it first (`localCheckpoint`, `collect`). */
  def withDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix).toString
    try body(dir) finally rmTree(dir)
  }

  /** The JVM's scratch root, `graft-shared-…` directly in
    * `java.io.tmpdir` (perfbench counts memo builds by listing it);
    * removed by a shutdown hook. */
  lazy val root: String = {
    val p = Files.createTempDirectory("graft-shared-")
    sys.addShutdownHook(rmTree(p.toString))
    p.toString
  }

  /** A fresh directory `prefix…` under [[root]]. */
  def scratchDir(prefix: String): Path = Files.createTempDirectory(Paths.get(root), prefix)

  /** Recursive delete; no-op on nonexistent paths. Never follows a
    * symlink out of the tree: a symlinked directory is detected with
    * NOFOLLOW_LINKS and only the link itself is deleted — its target's
    * contents are untouched. (`File.listFiles()` DOES enumerate a
    * symlinked dir's target, so the naive recursion would delete
    * through the link; today's callers only delete Spark-written temp
    * trees that contain no links, but this utility must stay safe for
    * general reuse.) */
  def rmTree(path: String): Unit = {
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
        val children = Files.list(p)
        try children.forEach(c => rm(c)) finally children.close()
      }
      // best-effort like File.delete(): a straggler lock must not abort
      // the query that already produced its result
      try { Files.deleteIfExists(p); () }
      catch { case _: java.io.IOException => () }
    }
    val p = Paths.get(path)
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) rm(p)
  }
}
