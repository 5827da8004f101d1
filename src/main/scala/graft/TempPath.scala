package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Scratch-directory helper for the tool mains (Bench, Verify,
  * PlanDump) and perfbench: their warehouses and synthetic logs run to
  * gigabytes, and a bare `createTempDirectory` leaks that disk on every
  * invocation. Scratch dirs registered here are recursively deleted at
  * JVM exit (best effort — a kill -9 still leaks, but normal runs clean
  * up). */
object TempPath {

  /** A fresh temp directory cleaned up at JVM exit. */
  def scratch(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    deleteOnExit(p)
    p.toString
  }

  def deleteOnExit(p: Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(p)))

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f); () })
    }
}
