package graft.sources

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

/** Per-call scratch directories, deleted at JVM exit. A frame read back
  * from a scratch dir stays file-backed until the caller's action, so
  * deletion cannot be eager; `File.deleteOnExit` removes only empty
  * directories, so ONE JVM-wide shutdown hook walks every registered
  * tree instead — one hook thread however many dirs a process makes. */
object Scratch {

  private val dirs = new ConcurrentLinkedQueue[Path]()

  private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => dirs.forEach(p => try rmTree(p) catch { case _: Throwable => () })))

  /** A fresh temp dir named `prefix…`, removed with its contents at exit. */
  def dir(prefix: String): Path = {
    hook
    val p = Files.createTempDirectory(prefix)
    dirs.add(p)
    p
  }

  /** Recursive delete, children first; a missing tree is a no-op. Does
    * not follow symlinks, so a staged link goes, not its target. */
  def rmTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => { Files.deleteIfExists(p); () })
    finally s.close()
  }
}
