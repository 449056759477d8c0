package graft.util

import java.nio.file.{Files, Path, Paths}

/** The one owner of graft's scratch directories (fixture artifact trees,
  * stream drop/checkpoint/sink dirs, staged copies): one root per JVM,
  * created lazily and deleted when the JVM exits.
  *
  * [[once]] memoizes one build per `(kind, key)`, e.g. per (fixture, data
  * dir). Each key has its own holder and the build runs under that
  * holder's lock, not the map's, so builds may nest (a compacted index
  * builds the deleted one, which builds the base). A build that throws
  * is not memoized: its directory is removed and the next call retries.
  *
  * The delete is a Hadoop shutdown hook below Spark's own, so it runs
  * after every SparkContext, stream and checkpoint writer has stopped. A
  * JVM killed without running its hooks leaves its root behind.
  */
class Scratch private[graft] (parent: Path) {
  /** `parent/graft-<pid>`, with `<name>-<n>` below it. Names stay short
    * because Spark abbreviates long scan paths in plan strings, and
    * specs read artifact names from those strings. */
  private[graft] lazy val root: Path = {
    val pid = ProcessHandle.current().pid()
    val r =
      try Files.createDirectory(parent.resolve(s"graft-$pid"))
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.createTempDirectory(parent, s"graft-$pid-")
      }
    created()
    r
  }
  private val made = new java.util.concurrent.atomic.AtomicLong()

  /** Runs once, when the root is first created. */
  protected def created(): Unit = ()

  private final class Slot {
    var value: Option[Any] = None
    var building = false
  }
  private val slots = new java.util.concurrent.ConcurrentHashMap[(String, String), Slot]()

  /** A fresh, empty directory under the root, named after `name`. */
  def dir(name: String): Path =
    Files.createDirectory(root.resolve(s"$name-${made.incrementAndGet()}"))

  /** `build(d)` run once per `(kind, key)` with `d` a fresh [[dir]]. */
  def once[T](kind: String, key: String)(build: String => T): T = {
    val slot = slots.computeIfAbsent((kind, key), _ => new Slot)
    slot.synchronized {
      slot.value.getOrElse {
        if (slot.building)
          throw new IllegalStateException(s"scratch fixture $kind for $key needs itself")
        slot.building = true
        val d = dir(kind)
        try {
          val v = build(d.toString)
          slot.value = Some(v)
          v
        } catch {
          case e: Throwable => Scratch.deleteTree(d); throw e
        } finally slot.building = false
      }.asInstanceOf[T]
    }
  }

  /** Delete the root and everything under it (the shutdown hook's body). */
  private[graft] def cleanup(): Unit = Scratch.deleteTree(root)
}

object Scratch extends Scratch(Paths.get(System.getProperty("java.io.tmpdir"))) {
  /** Below Spark's hook (`FileSystem.SHUTDOWN_HOOK_PRIORITY + 30`), above
    * Hadoop's filesystem-cache close (`SHUTDOWN_HOOK_PRIORITY`). */
  private val HookPriority = org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 20

  override protected def created(): Unit =
    org.apache.hadoop.util.ShutdownHookManager.get()
      .addShutdownHook(() => cleanup(), HookPriority)

  /** Best-effort recursive delete: children before parents, errors ignored. */
  private[graft] def deleteTree(p: Path): Unit =
    try {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach { f =>
        try { Files.deleteIfExists(f); () } catch { case _: java.io.IOException => () }
      } finally walk.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
}
