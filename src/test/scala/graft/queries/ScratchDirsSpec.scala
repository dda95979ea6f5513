package graft.queries

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

class ScratchDirsSpec extends AnyFunSuite {

  private def age(p: Path, millis: Long): Unit =
    Files.setLastModifiedTime(p,
      FileTime.fromMillis(System.currentTimeMillis() - millis))

  test("stale sweep keys on the newest mtime in a dir's whole tree") {
    val root = Files.createTempDirectory("scratch-sweep")
    val twoHours = 2L * 3600 * 1000
    // a live process writing deep inside an old dir: the top-level
    // and nested dir mtimes are old, one nested file is fresh
    val live = Files.createDirectories(root.resolve("live/a/b"))
    Files.write(live.resolve("part-0.parquet"), Array[Byte](1))
    age(root.resolve("live/a"), twoHours)
    age(live, twoHours)
    age(root.resolve("live"), twoHours)
    // a dir no process has touched for two hours
    val dead = Files.createDirectories(root.resolve("dead/a"))
    Files.write(dead.resolve("part-0.parquet"), Array[Byte](1))
    age(dead.resolve("part-0.parquet"), twoHours)
    age(dead, twoHours)
    age(root.resolve("dead"), twoHours)

    ScratchDirs.sweepStale(root)
    assert(Files.exists(live.resolve("part-0.parquet")),
      "a dir with a fresh nested file was swept")
    assert(!Files.exists(root.resolve("dead")),
      "a fully stale dir survived the sweep")
    Files.walk(root).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }
}
