package graft

import java.nio.file.{Files, Path}

/** The one owner of graft's scratch directories: session warehouses,
  * staged stream sources, materialized pipeline products and spec
  * scratch all come from [[create]], and one shutdown hook deletes
  * every one of them at JVM exit. `deleteOnExit` only removes EMPTY
  * dirs (parquet products would accrete under java.io.tmpdir across
  * JVM runs), and a hook PER dir would accrete one thread object per
  * bench pass over a long session. */
private[graft] object TempDirs {
  private val registry = new java.util.concurrent.ConcurrentLinkedQueue[Path]
  Runtime.getRuntime.addShutdownHook(new Thread(() => registry.forEach(rmTree(_))))

  /** A fresh temp dir under java.io.tmpdir, deleted at JVM exit. */
  def create(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    registry.add(d)
    d
  }

  /** True when `p` came from [[create]] and is swept at exit. */
  def owns(p: Path): Boolean = registry.contains(p)

  /** Recursive delete. Closes the Files.walk stream (an unclosed walk
    * holds directory handles until GC) and never throws: cleanup in a
    * finally must not mask the real failure. */
  def rmTree(p: Path): Unit =
    try {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => try { Files.deleteIfExists(f); () }
          catch { case _: Throwable => () })
      finally s.close()
    } catch { case _: Throwable => () }
}
