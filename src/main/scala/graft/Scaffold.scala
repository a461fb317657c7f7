package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.commons.io.FileUtils

/**
 * Run-N scratch for one JVM: the staged input tables, persisted stores and
 * streaming checkpoints that Bench, Verify and the test suite build INSIDE
 * a run (in production they are yesterday's pipeline outputs). This module
 * owns the one decision of where that scratch lives and when it dies:
 *
 *  - everything sits under one root, created lazily on first use, in
 *    `/dev/shm` when the host offers it writable (the state store fsyncs a
 *    delta file per partition per micro-batch, pure fixed overhead on a
 *    discarded checkpoint — measured ~25% of the streaming drains' wall
 *    clock on an ext4 /tmp), else `java.io.tmpdir`;
 *  - a JVM shutdown hook removes the root through [[close]], so nothing is
 *    ever persisted across runs and no run leaves debris behind;
 *  - a JVM that never asks for scratch creates no root and no hook.
 *
 * @param parent where the root is created, asked at (re)creation time
 */
class Scaffold(parent: () => Path) {
  private var root: Path = _ // guarded by this
  private var hooked = false // guarded by this
  private final class Slot { var dir: String = _ } // guarded by itself
  private val slots = new ConcurrentHashMap[String, Slot]()

  /** The scratch root, created on first use. */
  def rootDir: Path = synchronized {
    if (root == null) {
      root = Files.createTempDirectory(parent(), "graft-run")
      if (!hooked) { hooked = true; sys.addShutdownHook(close()) }
    }
    root
  }

  /** A new empty directory under the root, named `prefix` plus a suffix. */
  def fresh(prefix: String): String =
    Files.createTempDirectory(rootDir, prefix).toString

  /** The directory for `key`, filled by `build` when first asked for:
    * concurrent callers of one key wait for that single build, other keys
    * build independently (a build may itself call `once`). A build that
    * throws leaves nothing behind, so the next caller builds again. The
    * directory is named after the key up to its first '#'. */
  def once(key: String)(build: String => Unit): String = {
    val slot = slots.computeIfAbsent(key, _ => new Slot)
    slot.synchronized {
      if (slot.dir == null) {
        val dir = fresh(key.takeWhile(_ != '#'))
        try build(dir)
        catch { case e: Throwable => delete(dir); throw e }
        slot.dir = dir
      }
      slot.dir
    }
  }

  /** Remove one scratch directory (e.g. a drained query's checkpoint). */
  def delete(dir: String): Unit = FileUtils.deleteQuietly(new java.io.File(dir))

  /** Remove the root and forget every built key; the next use starts a
    * new root. */
  def close(): Unit = synchronized {
    slots.clear()
    if (root != null) { delete(root.toString); root = null }
  }
}

object Scaffold extends Scaffold(() => {
  val shm = Paths.get("/dev/shm")
  if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
  else Paths.get(System.getProperty("java.io.tmpdir"))
})
