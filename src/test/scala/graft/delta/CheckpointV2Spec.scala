package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** V2 checkpoints (± sidecars), multi-part V1 checkpoints, and log
  * compaction (reference kernel/src/checkpoint/, actions/mod.rs:1251,
  * kernel/src/log_compaction/).
  */
class CheckpointV2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def li = spark.read
    .parquet("/root/testdata/sf0.001/lineitem.parquet")
    .filter($"l_quantity" < 8)

  private def sortedCollect(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(df.columns.map(col): _*).collect().toSeq

  test("v2 checkpoint with sidecars: snapshot reads through sidecars") {
    val dir = TestSpark.tmpDir("v2sc")
    val src = li
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.filter($"l_quantity" < 4),
      txn = Some(SetTransaction("appX", 5, None)))
    t.append(src.filter($"l_quantity" >= 4))
    val cv = t.checkpointV2(numSidecars = 2) // includes protocol upgrade commit
    t.append(src.limit(0)) // empty post-checkpoint commit

    val snap = t.snapshot()
    assert(snap.segment.isV2Checkpoint)
    assert(snap.segment.checkpointVersion.contains(cv))
    // an empty shuffle partition writes no sidecar file — 1 or 2 here
    val nSidecars = snap.v2Info.get.sidecarPaths.size
    assert(nSidecars >= 1 && nSidecars <= 2)
    assert(sortedCollect(t.toDF.select(src.columns.map(col): _*)) ==
      sortedCollect(src.select(src.columns.map(col): _*)))
    // txn + P&M survive through the v2 checkpoint alone: vacuum commits
    val fs = Storage.fs(new Path(dir), spark.sessionState.newHadoopConf())
    val logDir = FileNames.logDir(new Path(dir))
    (0L to cv).foreach(v =>
      fs.delete(FileNames.commitFile(logDir, v), false))
    val snap2 = t.snapshot()
    assert(snap2.setTransactions == Seq(SetTransaction("appX", 5, None)))
    assert(snap2.toDF.count() == src.count())
  }

  test("v2 checkpoint without sidecars inlines file actions") {
    val dir = TestSpark.tmpDir("v2nosc")
    val src = li
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.checkpointV2(numSidecars = 0)
    val snap = t.snapshot()
    assert(snap.segment.isV2Checkpoint)
    assert(snap.v2Info.get.sidecarPaths.isEmpty)
    assert(t.toDF.count() == src.count())
  }

  test("multi-part V1 checkpoint reads back") {
    val dir = TestSpark.tmpDir("mp")
    val src = li
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.filter($"l_quantity" < 4))
    t.append(src.filter($"l_quantity" >= 4))
    t.checkpointMultipart(3)
    t.append(src.limit(0))
    val snap = t.snapshot()
    // the writer names parts by the ACTUAL non-empty file count (an
    // empty shuffle partition writes no file), so assert consistency
    // rather than the requested count
    val nParts = snap.segment.checkpointParts.size
    assert(nParts >= 2 && nParts <= 3)
    assert(snap.segment.checkpointParts.forall(!_.isV2))
    assert(sortedCollect(t.toDF.select(src.columns.map(col): _*)) ==
      sortedCollect(src.select(src.columns.map(col): _*)))
    // hint carries the part count
    val fs = Storage.fs(new Path(dir), spark.sessionState.newHadoopConf())
    val hint = LogSegment.readLastCheckpointHint(
      fs, FileNames.logDir(new Path(dir)))
    assert(hint.get.parts.contains(nParts))
  }

  test("log compaction: compacted file substitutes vacuumed commits") {
    val dir = TestSpark.tmpDir("compact")
    val src = li
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.filter($"l_quantity" < 2))  // v1
    t.append(src.filter($"l_quantity" >= 2 && $"l_quantity" < 4),
      txn = Some(SetTransaction("appC", 9, None)))  // v2
    t.deleteWhere("l_quantity < 2")          // v3 (remove tombstones)
    t.append(src.filter($"l_quantity" >= 4)) // v4
    val expected = t.toDF

    t.compactLog(1, 3)
    // with originals present the segment prefers the compacted file
    val snap = t.snapshot()
    assert(snap.segment.deltas.exists(
      _.isInstanceOf[FileNames.CompactedFile]))
    assert(snap.version == 4L)
    assert(sortedCollect(snap.toDF) == sortedCollect(expected))
    assert(snap.setTransactions == Seq(SetTransaction("appC", 9, None)))

    // vacuum the compacted-away commits: still reads correctly
    val fs = Storage.fs(new Path(dir), spark.sessionState.newHadoopConf())
    val logDir = FileNames.logDir(new Path(dir))
    (1L to 3L).foreach(v =>
      fs.delete(FileNames.commitFile(logDir, v), false))
    val snap2 = t.snapshot()
    assert(snap2.version == 4L)
    assert(sortedCollect(snap2.toDF) == sortedCollect(expected))

    // time travel INTO the compacted range must fail loudly, not lie
    intercept[Exception] { t.snapshot(Some(2L)) }

    // a compacted range keeps its domain metadata: ALTER CLUSTER BY
    // inside it still reads back once the file substitutes the commits
    t.alterClusterBy(Seq("l_quantity"))      // v5
    t.append(src.filter($"l_quantity" < 2))  // v6
    t.append(src.filter($"l_quantity" < 2))  // v7
    assert(Clustering.columns(t.snapshot()) == Seq("l_quantity"))
    t.compactLog(5, 6)
    val snap3 = t.snapshot()
    assert(snap3.segment.deltas.exists {
      case c: FileNames.CompactedFile => c.version == 5L
      case _ => false
    })
    assert(Clustering.columns(snap3) == Seq("l_quantity"))
  }

  /** Checkpoint `t` in `layout` ("classic" or "v2") and return the
    * remove paths the checkpoint holds (V2: top-level file + sidecars).
    */
  private def checkpointRemoves(t: DeltaTable, layout: String): Seq[String] = {
    val files = layout match {
      case "classic" =>
        t.checkpoint()
        Seq(FileNames.classicCheckpointFile(FileNames.logDir(t.root),
          t.snapshot().version).toString)
      case "v2" =>
        t.checkpointV2(numSidecars = 2)
        val snap = t.snapshot()
        snap.v2Info.get.topLevel.path.toString +: snap.v2Info.get.sidecarPaths
    }
    spark.read.schema(LogSchema.checkpoint).parquet(files: _*)
      .filter(col("remove").isNotNull)
      .select("remove.path").collect().map(_.getString(0)).toSeq
  }

  test("checkpoint drops expired remove tombstones, keeps fresh ones") {
    Seq("classic", "v2").foreach { layout =>
      val dir = TestSpark.tmpDir(s"tomb-$layout")
      val src = li
      DeltaTable.create(spark, dir, src.schema,
        configuration = Map(
          "delta.deletedFileRetentionDuration" -> "interval 1 days"))
      val t = DeltaTable.forPath(spark, dir)
      t.append(src.filter($"l_quantity" < 4))
      t.append(src.filter($"l_quantity" >= 4))
      t.deleteWhere("l_quantity < 4") // fresh tombstones
      // hand-craft an EXPIRED tombstone for a fictional path
      t.commitActions(t.snapshot().version + 1,
        Seq(JsonLog.writeAction(SingleAction(remove = Some(RemoveFile(
          "ghost.parquet",
          Some(System.currentTimeMillis() - 3L * 86400000),
          dataChange = false))))),
        retryable = false)
      val removes = checkpointRemoves(t, layout)
      assert(!removes.contains("ghost.parquet"), layout) // expired -> dropped
      assert(removes.nonEmpty, layout)                   // fresh ones kept
      assert(t.toDF.count() == src.filter($"l_quantity" >= 4).count())
    }
  }

  test("checkpoint treats a missing deletionTimestamp as already expired") {
    Seq("classic", "v2").foreach { layout =>
      val dir = TestSpark.tmpDir(s"tombnull-$layout")
      val src = li
      DeltaTable.create(spark, dir, src.schema) // default 1-week retention
      val t = DeltaTable.forPath(spark, dir)
      t.append(src)
      // tombstone with NO deletionTimestamp (some engines omit the
      // field); keeping it forever would grow checkpoints without bound
      t.commitActions(t.snapshot().version + 1,
        Seq(JsonLog.writeAction(SingleAction(remove = Some(RemoveFile(
          "ghost-null-ts.parquet", None, dataChange = false))))),
        retryable = false)
      assert(!checkpointRemoves(t, layout).contains("ghost-null-ts.parquet"),
        layout)
    }
  }

  test("v2 checkpoint preserves domain metadata (row-tracking HWM)") {
    val dir = TestSpark.tmpDir("v2dm")
    val a = (1 to 50).map(i => (i.toLong, s"a$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, a.schema,
      configuration = Map(RowTracking.ENABLED_KEY -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(a.repartition(2))
    assert(RowTracking.highWaterMark(t.snapshot()) == 49L)
    t.checkpointV2(numSidecars = 2)
    // the HWM must survive the checkpoint: post-checkpoint snapshots
    // replay only later commits
    assert(RowTracking.highWaterMark(t.snapshot()) == 49L)
    t.append(a.repartition(3))
    assert(RowTracking.highWaterMark(t.snapshot()) == 99L)
    // all stable row ids stay unique across the checkpoint boundary
    val ids = t.scan(None).toDFWithRowIds
      .select("_row_id").collect().map(_.getLong(0))
    assert(ids.length == 100 && ids.distinct.length == 100)
    // same through the 0-sidecar (inline) shape
    t.checkpointV2(numSidecars = 0)
    assert(RowTracking.highWaterMark(t.snapshot()) == 99L)
  }

  test("v2Checkpoint protocol upgrade commit carries a monotonic ICT") {
    val dir = TestSpark.tmpDir("v2ict")
    val a = Seq((1L, "a")).toDF("k", "s")
    DeltaTable.create(spark, dir, a.schema,
      configuration = Map(DeltaTable.ICT_ENABLED_KEY -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(a) // v1
    t.checkpointV2() // upgrade commit at v2, checkpoint at v2
    def ict(v: Long): Option[Long] = {
      val src = scala.io.Source.fromFile(f"$dir/_delta_log/$v%020d.json")
      try src.getLines().map(JsonLog.parseLine)
        .flatMap(n => Option(n.get("commitInfo")))
        .flatMap(ci => Option(ci.get("inCommitTimestamp"))
          .filterNot(_.isNull).map(_.asLong))
        .toList.headOption
      finally src.close()
    }
    assert(t.history().find(_._1 == 2L).map(_._3).contains("UPGRADE PROTOCOL"))
    val up = ict(2L)
    assert(up.isDefined, "upgrade commit on an ICT table carries no ICT")
    assert(up.get > ict(1L).get)
  }
}
