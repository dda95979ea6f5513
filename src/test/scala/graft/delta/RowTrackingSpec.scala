package graft.delta

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Row tracking (reference row_tracking.rs:19-68): high-water-mark
  * assignment at commit, `_row_id`/`_row_commit_version` metadata
  * columns, stability across DV deletes and checkpoints.
  */
class RowTrackingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val conf = Map(RowTracking.ENABLED_KEY -> "true")

  test("baseRowId assignment advances the high-water mark") {
    val dir = TestSpark.tmpDir("rt")
    val a = (1 to 50).map(i => (i.toLong, s"a$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, a.schema, configuration = conf)
    val t = DeltaTable.forPath(spark, dir)
    assert(RowTracking.highWaterMark(t.snapshot()) == -1L)
    t.append(a.repartition(2))
    val hwm1 = RowTracking.highWaterMark(t.snapshot())
    assert(hwm1 == 49L) // 50 rows -> ids 0..49
    t.append(a.repartition(3))
    assert(RowTracking.highWaterMark(t.snapshot()) == 99L)
    val adds = t.scan(None).collectAddFiles()
    assert(adds.forall(_.baseRowId.isDefined))
    assert(adds.forall(_.defaultRowCommitVersion.isDefined))
    // disjoint id ranges
    val ranges = adds.map { ad =>
      val n = JsonLog.parseLine(ad.stats.get).get("numRecords").asLong
      (ad.baseRowId.get, ad.baseRowId.get + n - 1)
    }.sorted
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(lo2 > hi)
      case _ =>
    }
  }

  test("log compaction keeps the high-water mark: later row ids stay " +
      "unique") {
    val dir = TestSpark.tmpDir("rtcompact")
    val a = (1 to 50).map(i => (i.toLong, s"a$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, a.schema, configuration = conf)
    val t = DeltaTable.forPath(spark, dir)
    t.append(a) // v1
    t.append(a) // v2
    t.compactLog(1, 2)
    assert(RowTracking.highWaterMark(t.snapshot()) == 99L)
    t.append(a) // v3
    val ids = t.scan(None).toDFWithRowIds.select("_row_id")
    assert(ids.count() == 150)
    assert(ids.distinct().count() == 150)
  }

  test("_row_id / _row_commit_version are unique and stable") {
    val dir = TestSpark.tmpDir("rtids")
    val a = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("k", "x")
    DeltaTable.create(spark, dir, a.schema, configuration = conf)
    val t = DeltaTable.forPath(spark, dir)
    t.append(a.filter($"k" <= 60))  // v1
    t.append(a.filter($"k" > 60))   // v2
    val withIds = t.scan(None).toDFWithRowIds
    assert(withIds.select("_row_id").distinct().count() == 100)
    assert(withIds.select("_row_commit_version").distinct().count() == 2)
    val before = withIds.select($"k", $"_row_id").as[(Long, Long)]
      .collect().toMap

    // DV delete keeps surviving rows' ids stable (file not rewritten)
    t.deleteWhereDV("k <= 10")
    val after = t.scan(None).toDFWithRowIds
      .select($"k", $"_row_id").as[(Long, Long)].collect().toMap
    assert(after.size == 90)
    after.foreach { case (k, id) => assert(before(k) == id) }

    // and survives a checkpoint (domain metadata persisted)
    t.checkpoint()
    t.append(a.filter($"k" < 0)) // empty commit
    assert(RowTracking.highWaterMark(t.snapshot()) == 99L)
    val after2 = t.scan(None).toDFWithRowIds
      .select($"k", $"_row_id").as[(Long, Long)].collect().toMap
    assert(after2 == after)
  }

  test("row-tracking CDF: net diff by stable row id") {
    val dir = TestSpark.tmpDir("rtcdf")
    val a = (1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, a.schema, configuration = conf)
    val t = DeltaTable.forPath(spark, dir)
    t.append(a)                        // v1
    t.deleteWhereDV("k <= 5")          // v2
    t.append((21 to 25).map(i => (i.toLong, s"v$i")).toDF("k", "s")) // v3

    val diff = TableChanges.readByRowTracking(spark, dir, 1L, 3L)
    val byType = diff.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 5L, "delete" -> 5L))
    assert(diff.filter(col("_change_type") === "delete")
      .select("k").as[Long].collect().sorted.toSeq == (1L to 5L))
    assert(diff.filter(col("_change_type") === "insert")
      .select("k").as[Long].collect().sorted.toSeq == (21L to 25L))

    // additive column after the base version is tolerated
    t.addColumn("z", org.apache.spark.sql.types.DoubleType) // v4
    val diff2 = TableChanges.readByRowTracking(spark, dir, 1L, 4L)
    assert(diff2.columns.contains("z"))
    assert(diff2.filter(col("_change_type") === "delete")
      .filter(col("z").isNull).count() == 5)
  }

  test("in-commit timestamps are written monotonic and drive time travel") {
    val dir = TestSpark.tmpDir("ict")
    val a = Seq((1L, "a")).toDF("k", "s")
    DeltaTable.create(spark, dir, a.schema,
      configuration = Map(DeltaTable.ICT_ENABLED_KEY -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(a); t.append(a); t.append(a)
    val h = t.history().sortBy(_._1)
    val icts = h.map(_._2)
    assert(icts.sliding(2).forall { case Seq(x, y) => x < y; case _ => true })
    assert(t.versionAtTimestamp(icts.last) == 3L)
    assert(t.versionAtTimestamp(icts(2)) == 2L)
  }
  test("overwrite assigns fresh row ids and advances the HWM " +
      "(Complete-mode sink parity with append)") {
    val dir = TestSpark.tmpDir("rt-ow")
    val a = (1 to 30).map(i => (i.toLong, i * 1.0)).toDF("k", "x")
    DeltaTable.create(spark, dir, a.schema, configuration = conf)
    val t = DeltaTable.forPath(spark, dir)
    t.append(a)
    val hwm1 = RowTracking.highWaterMark(t.snapshot())
    assert(hwm1 == 29L)
    t.overwrite((1 to 10).map(i => (i.toLong, i * 2.0)).toDF("k", "x"))
    val snap = t.snapshot()
    // replacement rows got FRESH ids past the old range; HWM advanced
    assert(RowTracking.highWaterMark(snap) == 39L)
    val adds = t.scan(None).collectAddFiles()
    assert(adds.forall(_.baseRowId.exists(_ > hwm1)))
    val ids = t.scan(None).toDFWithRowIds
      .select("_row_id").collect().map(_.getLong(0))
    assert(ids.length == 10 && ids.forall(_ > hwm1))
    assert(ids.distinct.length == 10)
  }

  test("OPTIMIZE preserves row ids via materialized columns; " +
      "REORG PURGE keeps survivors' ids") {
    val dir = TestSpark.tmpDir("rtopt")
    val a = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("k", "x")
    DeltaTable.create(spark, dir, a.schema, configuration = conf)
    val t = DeltaTable.forPath(spark, dir)
    // materialized names were fixed at CREATE
    val (matId, matV) = RowTracking.materializedCols(
      t.snapshot().metadata).get
    assert(matId.startsWith("_row-id-col-"))
    t.append(a.filter($"k" <= 60))  // v1
    t.append(a.filter($"k" > 60))   // v2
    val before = t.scan(None).toDFWithRowIds
      .select($"k", $"_row_id", $"_row_commit_version")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

    val filesBefore = t.scan(None).collectAddFiles().map(_.path).toSet
    t.optimizeCompact()
    val snap = t.snapshot()
    val filesAfter = t.scan(None).collectAddFiles()
    // files were rewritten, fresh default ids assigned, HWM advanced
    assert(filesAfter.map(_.path).toSet.intersect(filesBefore).isEmpty)
    assert(filesAfter.forall(_.baseRowId.isDefined))
    assert(RowTracking.highWaterMark(snap) > 99L)
    // the staged parquet physically carries the materialized columns
    val raw = spark.read.parquet(filesAfter.map(f =>
      new org.apache.hadoop.fs.Path(dir, f.path).toString): _*)
    assert(raw.columns.contains(matId) && raw.columns.contains(matV))
    // ... and every row keeps its ORIGINAL id + commit version
    val after = t.scan(None).toDFWithRowIds
      .select($"k", $"_row_id", $"_row_commit_version")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(after.size == 100)
    after.foreach { case (k, v) => assert(before(k) == v,
      s"row $k changed id/version: ${before(k)} -> $v") }

    // DV delete + REORG PURGE: surviving rows still keep their ids
    t.deleteWhereDV("k <= 10")
    t.reorgPurge()
    assert(t.scan(None).collectAddFiles()
      .forall(_.deletionVector.isEmpty))
    val purged = t.scan(None).toDFWithRowIds
      .select($"k", $"_row_id").as[(Long, Long)].collect().toMap
    assert(purged.size == 90)
    purged.foreach { case (k, id) => assert(before(k)._1 == id) }

    // a second optimize round-trips the already-materialized ids
    t.append(a.filter($"k" < 0)) // empty commit keeps versions moving
    t.optimizeCompact()
    val again = t.scan(None).toDFWithRowIds
      .select($"k", $"_row_id").as[(Long, Long)].collect().toMap
    assert(again == purged)
  }

  test("DML preserves row ids: UPDATE keeps id + bumps commit version, " +
      "DELETE rewrite keeps survivors, MERGE keeps matched / fresh " +
      "ids for inserts") {
    val dir = TestSpark.tmpDir("rtdml")
    val a = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("k", "x")
    DeltaTable.create(spark, dir, a.schema, configuration = conf)
    val t = DeltaTable.forPath(spark, dir)
    t.append(a)
    def state() = t.scan(None).toDFWithRowIds
      .select($"k", $"_row_id", $"_row_commit_version")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val s0 = state()

    // UPDATE: every row keeps its id; only updated rows change version
    val updV = t.updateWhere("k > 90", Map("x" -> "x + 0.5"))
    val s1 = state()
    assert(s1.size == 100)
    s1.foreach { case (k, (id, v)) =>
      assert(id == s0(k)._1, s"row $k id changed")
      if (k > 90) assert(v == updV, s"updated row $k version $v != $updV")
      else assert(v == s0(k)._2, s"untouched row $k version changed")
    }
    // every add in the commit carries baseRowId (protocol invariant)
    assert(t.scan(None).collectAddFiles().forall(_.baseRowId.isDefined))

    // DELETE rewrite: survivors keep id AND commit version
    t.deleteWhere("k <= 5")
    val s2 = state()
    assert(s2.size == 95)
    s2.foreach { case (k, v) => assert(v == s1(k), s"row $k changed") }

    // MERGE: matched updates keep ids (new version), inserts get fresh
    val srcDf = Seq((50L, 1.0), (200L, 2.0)).toDF("k", "x")
    val mrgV = t.merge(srcDf, "t.k = s.k", Seq(
      MergeClause.MatchedUpdate(None, Map("x" -> "s.x")),
      MergeClause.NotMatchedInsert(None,
        Map("k" -> "s.k", "x" -> "s.x"))))
    val s3 = state()
    assert(s3.size == 96)
    assert(s3(50L)._1 == s2(50L)._1 && s3(50L)._2 == mrgV)
    val maxOld = s2.values.map(_._1).max
    assert(s3(200L)._1 > maxOld, "insert must take a fresh id")
    (s2.keySet - 50L).foreach(k => assert(s3(k) == s2(k)))
    // ids stay unique corpus-wide
    assert(s3.values.map(_._1).toSeq.distinct.size == 96)
  }

  test("row-tracking DML never rebases its high-water mark past a " +
      "concurrent disjoint append") {
    val dir = TestSpark.tmpDir("rt-race")
    val a = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    DeltaTable.create(spark, dir, a.schema, configuration = conf)
    val other = DeltaTable.forPath(spark, dir)
    other.append(a.coalesce(1)) // ids 0, 1 in one file
    // the DELETE's first commit attempt loses its version to a
    // stats-disjoint append (ids 2..4) landed through a second handle
    val racing = new Committer {
      private var raced = false
      override def commit(fs: org.apache.hadoop.fs.FileSystem,
          logDir: org.apache.hadoop.fs.Path, version: Long,
          content: String): CommitResponse = {
        if (!raced) {
          raced = true
          other.append(Seq((100L, "x"), (101L, "y"), (102L, "z"))
            .toDF("k", "s").coalesce(1))
        }
        FileSystemCommitter.commit(fs, logDir, version, content)
      }
      override def isCatalogCommitter: Boolean = false
      override def publish(fs: org.apache.hadoop.fs.FileSystem,
          logDir: org.apache.hadoop.fs.Path,
          commits: Seq[CatalogCommit]): Unit =
        FileSystemCommitter.publish(fs, logDir, commits)
    }
    // the rewrite's fresh ids and high-water mark come from the stale
    // snapshot: sliding past the append would move the mark backwards
    intercept[ConcurrentWriteException] {
      DeltaTable.forPath(spark, dir, racing).deleteWhere("k = 1")
    }
    other.append(Seq((200L, "w")).toDF("k", "s"))
    val ids = other.scan(None).toDFWithRowIds
      .select("_row_id").collect().map(_.getLong(0))
    assert(ids.length == 6 && ids.distinct.length == 6,
      s"duplicate row ids: ${ids.sorted.mkString(",")}")
  }
}
