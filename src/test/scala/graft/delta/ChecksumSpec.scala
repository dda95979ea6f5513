package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** CRC fast path, incremental snapshot refresh, and binary-search
  * timestamp queries (reference crc/, snapshot/incremental.rs,
  * history_manager/).
  */
class ChecksumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("crc chain tracks size/file count and serves P&M") {
    val dir = TestSpark.tmpDir("crc")
    val src = (1 to 40).map(i => (i.toLong, s"s$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.deleteWhere("k <= 20")
    val fs = Storage.fs(new Path(dir), spark.sessionState.newHadoopConf())
    val logDir = FileNames.logDir(new Path(dir))
    val crc = Checksum.read(fs, logDir, 2L)
    assert(crc.isDefined)
    val adds = t.scan(None).collectAddFiles()
    assert(crc.get.numFiles == adds.size)
    assert(crc.get.tableSizeBytes == adds.map(_.size).sum)
    assert(crc.get.metadata.schemaString == t.snapshot().metadata.schemaString)

    // corrupt crc must not break snapshots (fallback to replay)
    Storage.put(fs, Checksum.path(logDir, 2L), "garbage")
    assert(t.snapshot().version == 2L)
    assert(t.toDF.count() == 20)
  }

  test("crc reflects ALTER metadata") {
    val dir = TestSpark.tmpDir("crcalter")
    val src = Seq((1L, "a")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.addColumn("z", org.apache.spark.sql.types.DoubleType)
    val fs = Storage.fs(new Path(dir), spark.sessionState.newHadoopConf())
    val crc = Checksum.read(fs, FileNames.logDir(new Path(dir)), 2L)
    assert(crc.get.metadata.schema.fieldNames.contains("z"))
    // and the snapshot built through the crc fast path sees the column
    assert(t.snapshot().schema.fieldNames.contains("z"))
  }

  test("incremental refresh advances without relisting") {
    val dir = TestSpark.tmpDir("refresh")
    val src = (1 to 30).map(i => (i.toLong, i * 1.5)).toDF("k", "x")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.filter($"k" <= 10))
    val s1 = t.snapshot()
    assert(Snapshot.refresh(s1) eq s1) // no new commits -> same instance
    t.append(src.filter($"k" > 10 && $"k" <= 20))
    t.append(src.filter($"k" > 20))
    val s3 = Snapshot.refresh(s1)
    assert(s3.version == 3L)
    assert(s3.toDF.count() == 30)
    // metadata changes in the refreshed range are applied
    t.setProperties(Map("foo" -> "bar"))
    val s4 = Snapshot.refresh(s3)
    assert(s4.metadata.configuration.get("foo").contains("bar"))
  }

  test("versionAtTimestamp binary search matches linear scan") {
    val dir = TestSpark.tmpDir("tsbin")
    val src = Seq((1L, "a")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    (1 to 5).foreach { _ => t.append(src) }
    val h = t.history() // (version, ts, op) — linear reference
    h.foreach { case (v, ts, _) =>
      assert(t.versionAtTimestamp(ts) >= v)
    }
    assert(t.versionAtTimestamp(h.map(_._2).max) == 5L)
    intercept[IllegalArgumentException] {
      t.versionAtTimestamp(h.map(_._2).min - 100000)
    }
  }

  test("file-size histogram maintains incrementally and matches a full " +
      "recompute") {
    val dir = TestSpark.tmpDir("crc-hist")
    val src = (1 to 500).map(i => (i.toLong, s"v$i" * 50)).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema, configuration =
      Map("delta.deletedFileRetentionDuration" -> "interval 0 hours"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.repartition(3))
    t.append(src.repartition(2))
    t.deleteWhere("k <= 100")

    def expected = {
      val sizes = t.scan(None).collectAddFiles(slim = true).map(_.size)
      FileSizeHistogram.of(sizes)
    }
    val incr = t.fileSizeHistogram().get
    assert(incr.totalFiles == expected.totalFiles)
    assert(incr.totalSize == expected.totalSize)
    assert(incr.fileCounts.toSeq == expected.fileCounts.toSeq)
    assert(incr.totalBytes.toSeq == expected.totalBytes.toSeq)

    // break the chain (delete the crc), then checkpoint re-seeds it
    val logDir = FileNames.logDir(new org.apache.hadoop.fs.Path(dir))
    val fs = Storage.fs(logDir, spark.sessionState.newHadoopConf())
    fs.delete(Checksum.path(logDir, t.snapshot().version), false)
    assert(t.fileSizeHistogram().isEmpty)
    t.checkpoint()
    val reseeded = t.fileSizeHistogram().get
    assert(reseeded.fileCounts.toSeq == expected.fileCounts.toSeq)
    assert(reseeded.totalBytes.toSeq == expected.totalBytes.toSeq)
    // bin placement sanity: small files land in low bins
    assert(reseeded.fileCounts.take(3).sum == reseeded.totalFiles)

    // a V2 checkpoint re-seeds too (its protocol-upgrade commit finds
    // no .crc to chain from)
    fs.delete(Checksum.path(logDir, t.snapshot().version), false)
    t.checkpointV2()
    val v2Reseeded = t.fileSizeHistogram()
    assert(v2Reseeded.isDefined, "V2 checkpoint did not re-seed the .crc")
    assert(v2Reseeded.get.fileCounts.toSeq == expected.fileCounts.toSeq)
    assert(v2Reseeded.get.totalBytes.toSeq == expected.totalBytes.toSeq)
  }

  test("histogram bin boundaries and saturation semantics") {
    val h = FileSizeHistogram.empty
    assert(FileSizeHistogram.DefaultBinBoundaries.size == 95)
    assert(h.binOf(0) == 0)
    assert(h.binOf(8191) == 0)
    assert(h.binOf(8192) == 1)
    assert(h.binOf(Long.MaxValue) == 94)
    // remove saturates at zero, never negative
    val h2 = h.insert(10000).remove(10000).remove(10000)
    assert(h2.totalFiles == 0 && h2.totalSize == 0)
    // json round trip
    val h3 = h.insert(5).insert(9000).insert(3L * 1024 * 1024 * 1024)
    val parsed = FileSizeHistogram.fromJson(
      JsonLog.parseLine(h3.toJson)).get
    assert(parsed.fileCounts.toSeq == h3.fileCounts.toSeq)
    assert(parsed.totalBytes.toSeq == h3.totalBytes.toSeq)
  }
}
