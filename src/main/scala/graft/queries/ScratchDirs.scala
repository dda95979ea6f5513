package graft.queries

/** In-JVM registry of the per-invocation scratch table dirs the query
  * closures create under target/tmp. Bench/Verify drain it right
  * after each row's execution completes (outside any timed region) so
  * a sweep no longer accumulates thousands of dirs — and, because
  * only paths REGISTERED BY THIS JVM are ever deleted, a concurrent
  * process (a test suite racing a verify run) can never lose its own
  * fresh dirs to another process's hygiene pass (a directory-diff
  * cleanup did exactly that when first tried).
  */
private[graft] object ScratchDirs {

  private val created =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private[queries] def register(p: String): String = { created.add(p); p }

  /** Delete (recursively, best-effort) every dir registered since the
    * last drain. Call only after the work reading those dirs finished.
    */
  private[graft] def dropRegistered(): Unit = {
    var s = created.poll()
    while (s != null) {
      deleteTree(java.nio.file.Paths.get(s))
      s = created.poll()
    }
  }

  /** Delete (recursively, best-effort) every dir directly under `root`
    * whose NEWEST modification time anywhere in its tree is over an hour
    * old — scratch left behind by earlier processes. A dir's own mtime
    * changes only when its direct entries do, so a live process writing
    * deep inside an old dir keeps it fresh here. Fixture bases, locks
    * and the warehouses are never swept.
    */
  private[graft] def sweepStale(root: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val cutoff = System.currentTimeMillis() - 3600L * 1000
    def protectedName(n: String): Boolean =
      n.contains("-base-") || n.endsWith(".lock") ||
        n == "gd-warehouse" || n == "golden"
    // a walk that fails (a concurrent delete) counts as fresh
    def newestMillis(p: java.nio.file.Path): Long =
      try {
        val w = Files.walk(p)
        try w.iterator().asScala.map(q =>
          try Files.getLastModifiedTime(q).toMillis
          catch { case _: Throwable => Long.MaxValue }).max
        finally w.close()
      } catch { case _: Throwable => Long.MaxValue }
    try {
      if (Files.isDirectory(root)) {
        val s = Files.list(root)
        try s.iterator().asScala.toList
          .filter(p => !protectedName(p.getFileName.toString))
          .filter(p => newestMillis(p) < cutoff)
          .foreach(deleteTree)
        finally s.close()
      }
    } catch { case _: Throwable => () }
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    try {
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(q => java.nio.file.Files.deleteIfExists(q))
    } catch { case _: Throwable => () }
}
