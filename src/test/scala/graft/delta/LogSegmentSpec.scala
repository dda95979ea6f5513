package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `_last_checkpoint`-driven listing + static skip-all. */
class LogSegmentSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def li = spark.read
    .parquet("/root/testdata/sf0.001/lineitem.parquet").limit(200)

  test("listing honors the hint: pre-checkpoint commits may be vacuumed") {
    val dir = TestSpark.tmpDir("hint")
    val src = li
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.append(src)
    t.checkpoint() // v2 + _last_checkpoint hint
    t.append(src)

    // delete every pre-checkpoint commit (vacuumed log): the hint-based
    // listing must still assemble checkpoint@2 + commit 3
    val fs = Storage.fs(new Path(dir), spark.sessionState.newHadoopConf())
    val logDir = FileNames.logDir(new Path(dir))
    (0L to 1L).foreach(v => fs.delete(FileNames.commitFile(logDir, v), false))
    val snap = t.snapshot()
    assert(snap.version == 3L)
    assert(snap.segment.checkpointVersion.contains(2L))
    assert(snap.toDF.count() == src.count() * 3)
  }

  test("segment files carry their listed lengths, a catalog tail's too") {
    val dir = TestSpark.tmpDir("seglen")
    val src = li
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.checkpoint()
    t.append(src.limit(50))
    t.append(src.limit(7))
    val fs = Storage.fs(new Path(dir), spark.sessionState.newHadoopConf())
    val logDir = FileNames.logDir(new Path(dir))
    def assertOnDisk(seg: LogSegment): Unit =
      (seg.deltas ++ seg.checkpointParts).foreach { f =>
        assert(f.length > 0 && f.length == fs.getFileStatus(f.path).getLen,
          f.path.toString)
      }
    val listed = LogSegment.forVersion(fs, logDir)
    assert(listed.deltas.size == 2 && listed.checkpointParts.size == 1)
    assertOnDisk(listed)
    // the catalog's ratified copy of v3, one byte longer than the
    // published commit it supersedes
    val staged = FileNames.stagedCommitFile(logDir, 3L, "tail")
    Storage.put(fs, staged,
      Storage.readLines(fs, FileNames.commitFile(logDir, 3L))
        .mkString("", "\n", "\n\n"))
    val tailed = LogSegment.forVersion(fs, logDir, None,
      Seq(CatalogCommit(3L, staged)))
    assert(tailed.deltas.last.path == staged)
    assert(tailed.deltas.last.length != listed.deltas.last.length)
    assertOnDisk(tailed)
  }

  test("corrupt or stale hint falls back to the full listing") {
    val dir = TestSpark.tmpDir("hint-bad")
    val src = li
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    val fs = Storage.fs(new Path(dir), spark.sessionState.newHadoopConf())
    val logDir = FileNames.logDir(new Path(dir))
    // garbage hint
    Storage.put(fs, new Path(logDir, FileNames.LAST_CHECKPOINT), "not json")
    assert(t.snapshot().version == 1L)
    // hint pointing past the end of the log
    Storage.put(fs, new Path(logDir, FileNames.LAST_CHECKPOINT),
      """{"version":99,"size":1}""")
    assert(t.snapshot().version == 1L)
    // time travel below a (valid) future hint still works
    Storage.put(fs, new Path(logDir, FileNames.LAST_CHECKPOINT),
      """{"version":1,"size":1}""")
    assert(t.snapshot(Some(1L)).version == 1L)
  }

  test("mixed same-version checkpoint attempts: a crashed writer's " +
      "leftover parts neither hide the complete attempt nor leak into " +
      "the read") {
    val dir = TestSpark.tmpDir("mixed-ckpt")
    val src = li
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.append(src)
    val cv = t.checkpointMultipart(3)
    t.append(src)

    val fs = Storage.fs(new Path(dir), spark.sessionState.newHadoopConf())
    val logDir = FileNames.logDir(new Path(dir))
    // crashed SMALLER attempt (1 of 2, empty torn file) — sorts first
    Storage.put(fs, new Path(logDir,
      f"$cv%020d.checkpoint.${1}%010d.${2}%010d.parquet"), "")
    // crashed LARGER attempt (2 of 4) — incomplete on its own terms
    Storage.put(fs, new Path(logDir,
      f"$cv%020d.checkpoint.${2}%010d.${4}%010d.parquet"), "")
    // force reliance on the checkpoint: vacuum the covered commits
    (0L to cv).foreach(v =>
      fs.delete(FileNames.commitFile(logDir, v), false))

    val snap = DeltaTable.forPath(spark, dir).snapshot()
    assert(snap.version == cv + 1)
    assert(snap.segment.checkpointVersion.contains(cv))
    // only the complete 3-part attempt is read — never the torn files
    assert(snap.segment.checkpointParts.map(_.numParts).distinct == Seq(3))
    assert(snap.segment.checkpointParts.size == 3)
    assert(snap.toDF.count() == src.count() * 3)
  }

  test("static skip-all: statically-false predicate reads nothing") {
    val dir = TestSpark.tmpDir("skipall")
    val src = li
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    // physically delete the data files — a skip-all scan must not touch them
    val fs = Storage.fs(new Path(dir), spark.sessionState.newHadoopConf())
    t.scan(None).collectAddFiles().foreach { a =>
      fs.delete(new Path(new Path(dir), a.path), false)
    }
    val scan = t.scan(Some("l_quantity < 5 AND 1 = 0"))
    assert(scan.staticallyFalse)
    assert(scan.collectAddFiles().isEmpty)
    assert(scan.toDF.count() == 0)
    val scan2 = t.scan(Some("NULL AND l_quantity < 5"))
    assert(scan2.staticallyFalse)
  }
}
