package graft.delta

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end ACID round trips through our write → log → replay → scan
  * pipeline (reference behavior: kernel/tests golden read-and-compare
  * flow).
  */
class DeltaTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def li = spark.read
    .parquet("/root/testdata/sf0.001/lineitem.parquet")

  private def sortedCollect(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(df.columns.map(col): _*).collect().toSeq

  test("create + append + read back unpartitioned") {
    val dir = TestSpark.tmpDir("roundtrip")
    val src = li.filter($"l_quantity" < 10)
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    val got = t.toDF
    assert(got.schema.fieldNames.toSeq == src.schema.fieldNames.toSeq)
    assert(sortedCollect(got) == sortedCollect(src))
  }

  test("partitioned append + partition pruning + time travel") {
    val dir = TestSpark.tmpDir("part")
    DeltaTable.create(spark, dir, li.schema, Seq("l_returnflag"))
    val t = DeltaTable.forPath(spark, dir)
    val c1 = li.filter($"l_quantity" < 5)
    val c2 = li.filter($"l_quantity" >= 5 && $"l_quantity" < 10)
    assert(t.append(c1) == 1L)
    assert(t.append(c2) == 2L)

    // full read = both commits
    assert(t.toDF.count() == c1.count() + c2.count())

    // partition pruning: only files of flag 'A' survive
    val scan = t.scan(Some("l_returnflag = 'A' AND l_quantity < 5"))
    val prunedFiles = scan.collectAddFiles()
    assert(prunedFiles.nonEmpty)
    assert(prunedFiles.forall(_.partitionValues("l_returnflag") == "A"))
    val expected = li.filter($"l_returnflag" === "A" && $"l_quantity" < 5)
    assert(scan.toDF.count() == expected.count())
    assert(sortedCollect(scan.toDF.select(li.columns.map(col): _*)) ==
      sortedCollect(expected.select(li.columns.map(col): _*)))

    // time travel to version 1
    val v1 = t.snapshot(Some(1L))
    assert(v1.toDF.count() == c1.count())

    // schema round trip carries partition column types
    assert(v1.schema("l_returnflag").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("stats-based file skipping prunes files") {
    val dir = TestSpark.tmpDir("skip")
    val src = li.select($"l_orderkey", $"l_quantity", $"l_shipdate")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    // 4 appends with disjoint l_orderkey ranges -> disjoint min/max
    val keys = li.select(min($"l_orderkey"), max($"l_orderkey"))
      .as[(Long, Long)].head()
    val step = (keys._2 - keys._1) / 4 + 1
    (0 until 4).foreach { i =>
      val lo = keys._1 + i * step
      t.append(src.filter($"l_orderkey" >= lo && $"l_orderkey" < lo + step)
        .repartition(1))
    }
    val all = t.scan(None).collectAddFiles()
    assert(all.size == 4)
    // a range predicate on l_orderkey must skip non-overlapping files
    val pred = s"l_orderkey < ${keys._1 + step}"
    val kept = t.scan(Some(pred)).collectAddFiles()
    assert(kept.size == 1, s"expected 1 file kept, got ${kept.size}")
    // and the rows still match an exact filter
    assert(t.scan(Some(pred)).toDF.count() ==
      src.filter($"l_orderkey" < keys._1 + step).count())

    // timestamp stats skip too
    val tsPred = "l_shipdate < TIMESTAMP '1900-01-01 00:00:00'"
    assert(t.scan(Some(tsPred)).collectAddFiles().isEmpty)
  }

  test("log replay dedup: re-add same path wins once, remove hides") {
    val dir = TestSpark.tmpDir("replay")
    val src = li.filter($"l_quantity" < 3).limit(100)
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    val files = t.scan(None).collectAddFiles()
    // hand-craft a commit that re-adds the same path (newer wins, no dup)
    val a = files.head.copy(dataChange = false)
    t.commitActions(t.snapshot().version + 1,
      Seq(JsonLog.writeAction(SingleAction(add = Some(a)))),
      retryable = false)
    assert(t.scan(None).collectAddFiles().size == files.size)
    assert(t.toDF.count() == src.count())

    // remove the file: reads must drop its rows
    val r = RemoveFile(a.path, Some(System.currentTimeMillis()),
      dataChange = true)
    t.commitActions(t.snapshot().version + 1,
      Seq(JsonLog.writeAction(SingleAction(remove = Some(r)))),
      retryable = false)
    assert(t.scan(None).collectAddFiles().size == files.size - 1)
  }

  test("delete rewrites matching files only") {
    val dir = TestSpark.tmpDir("delete")
    val src = li.filter($"l_quantity" < 10)
    DeltaTable.create(spark, dir, src.schema, Seq("l_returnflag"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.deleteWhere("l_returnflag = 'A' AND l_quantity < 5")
    val expected = src.filter(
      not(coalesce($"l_returnflag" === "A" && $"l_quantity" < 5, lit(false))))
    assert(sortedCollect(t.toDF.select(src.columns.map(col): _*)) ==
      sortedCollect(expected.select(src.columns.map(col): _*)))
    // files of other partitions untouched (partition pruning on delete)
    val ops = t.history().map(_._3)
    assert(ops.contains("DELETE"))
  }

  test("a path with no delta log raises a typed table-not-found error") {
    val dir = TestSpark.tmpDir("nolog")
    Seq(s"$dir/missing", dir).foreach { p =>
      val e = intercept[TableNotFoundException] {
        DeltaTable.forPath(spark, p).snapshot()
      }
      assert(e.tablePath == p && e.getMessage.contains(p))
    }
  }

  test("checkpoint + post-checkpoint commits + _last_checkpoint") {
    val dir = TestSpark.tmpDir("ckpt")
    val src = li.filter($"l_quantity" < 8)
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.filter($"l_quantity" < 4))
    t.append(src.filter($"l_quantity" >= 4 && $"l_quantity" < 6))
    val cv = t.checkpoint()
    assert(cv == 2L)
    t.append(src.filter($"l_quantity" >= 6))

    // snapshot must assemble checkpoint + trailing commit
    val snap = t.snapshot()
    assert(snap.segment.checkpointVersion.contains(2L))
    assert(snap.segment.commits.map(_.version) == Seq(3L))
    assert(sortedCollect(t.toDF.select(src.columns.map(col): _*)) ==
      sortedCollect(src.select(src.columns.map(col): _*)))

    // P&M must be recoverable from the checkpoint alone: hide commits 0-2
    // by time traveling via a fresh snapshot (exercise checkpoint read)
    val v2 = t.snapshot(Some(2L))
    assert(v2.toDF.count() == src.filter($"l_quantity" < 6).count())
  }

  test("txn idempotency marker survives checkpoint") {
    val dir = TestSpark.tmpDir("txn")
    val src = li.limit(10)
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src, txn = Some(SetTransaction("app1", 7, None)))
    assert(t.snapshot().setTransactions ==
      Seq(SetTransaction("app1", 7, None)))
    t.checkpoint()
    t.append(src)
    assert(t.snapshot().setTransactions ==
      Seq(SetTransaction("app1", 7, None)))
  }

  test("commit conflict: blind append retries, delete does not") {
    val dir = TestSpark.tmpDir("conflict")
    val src = li.limit(20)
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    // simulate a racing writer taking version 2
    t.commitActions(2L, Seq(
      JsonLog.writeAction(SingleAction(commitInfo = Some(CommitInfo(
        0L, "NOOP"))))), retryable = false)
    // blind append retries into version 3
    val v = t.append(src)
    assert(v == 3L)
    assert(t.toDF.count() == 40)
  }

  test("restore rewinds the live set and metadata by pure log " +
      "arithmetic") {
    val dir = TestSpark.tmpDir("restore")
    val src = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.filter($"k" <= 50))  // v1
    t.append(src.filter($"k" > 50))   // v2
    t.deleteWhere("k % 2 = 0")        // v3
    t.setProperties(Map("custom.x" -> "y")) // v4

    val v = t.restore(1L)             // v5
    assert(v == 5L)
    assert(sortedCollect(t.toDF) ==
      sortedCollect(t.snapshot(Some(1L)).toDF))
    assert(t.toDF.count() == 50)
    // the restored metadata drops the later property
    assert(!t.snapshot().metadata.configuration.contains("custom.x"))
    // restore is itself a version: travelling back to v3 still works
    assert(t.snapshot(Some(3L)).toDF.count() == 50)
    // restoring to the latest is a no-op
    assert(t.restore(5L) == 5L)
    // the restore commit reads as inserts/deletes in a file-level diff
    val diff = IncrementalScan.fileDiff(spark, dir, 4, 5).collect()
    assert(diff.nonEmpty)
  }

  test("versionAtTimestamp finds latest commit <= ts") {
    val dir = TestSpark.tmpDir("ts")
    val src = li.limit(5)
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    val h = t.history()
    assert(t.versionAtTimestamp(h.map(_._2).max) == 1L)
    intercept[IllegalArgumentException] {
      t.versionAtTimestamp(h.map(_._2).min - 100000)
    }
  }

  test("firstVersionAfter / timestampRangeToVersions / earliestCommit " +
      "(history_manager surface, ICT timestamps)") {
    val dir = TestSpark.tmpDir("ts-hist")
    val src = li.limit(5)
    // ICT from creation: commit timestamps are exact and strictly
    // monotone, so every boundary below is deterministic
    DeltaTable.create(spark, dir, src.schema,
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src) // v1
    t.append(src) // v2
    val h = t.history() // (version, ts, op), ascending versions
    val ts = h.sortBy(_._1).map(_._2)
    assert(ts.size == 3 && ts == ts.sorted)

    // exact hits resolve to themselves from both directions
    assert(t.firstVersionAfter(ts(1)) == 1L)
    assert(t.versionAtTimestamp(ts(1)) == 1L)
    // between commits: as-of goes down, first-after goes up
    if (ts(2) - ts(1) > 1) {
      val mid = (ts(1) + ts(2)) / 2
      assert(t.versionAtTimestamp(mid) == 1L)
      assert(t.firstVersionAfter(mid) == 2L)
    }
    // before the whole log → first commit; after → throws
    assert(t.firstVersionAfter(ts.head - 100000) == 0L)
    intercept[IllegalArgumentException] {
      t.firstVersionAfter(ts.last + 100000)
    }

    assert(t.earliestCommit() == ((0L, ts.head)))

    // ranges: full window, endless window, empty window rejected
    assert(t.timestampRangeToVersions(ts.head, Some(ts.last)) ==
      ((0L, Some(2L))))
    assert(t.timestampRangeToVersions(ts(1), None) == ((1L, None)))
    intercept[IllegalArgumentException] {
      t.timestampRangeToVersions(ts.last, Some(ts.head)) // start > end
    }
    if (ts(2) - ts(1) > 2) {
      intercept[IllegalArgumentException] { // falls between commits
        t.timestampRangeToVersions(ts(1) + 1, Some(ts(2) - 1))
      }
    }
  }

  test("earliestRecreatableVersion anchors on commit 0 or the " +
      "earliest complete checkpoint") {
    val dir = TestSpark.tmpDir("recreatable")
    val src = li.limit(5)
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src) // v1
    t.append(src) // v2
    assert(t.earliestRecreatableVersion() == 0L)
    t.checkpoint() // at v2
    assert(t.earliestRecreatableVersion() == 0L) // commit 0 still there
    // simulate a vacuumed head: drop commits 0..2 (the checkpoint
    // supersedes them)
    val logDir = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 to 2).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(logDir,
        f"$v%020d.json"), false)
    }
    assert(t.earliestRecreatableVersion() == 2L)
    // the table still reads through the checkpoint
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 10)
    // drop the checkpoint too: no anchor left
    fs.listStatus(logDir).map(_.getPath)
      .filter(_.getName.contains("checkpoint"))
      .foreach(p => fs.delete(p, false))
    intercept[IllegalStateException] { t.earliestRecreatableVersion() }
  }

  test("earliestRecreatableVersion: a crashed smaller-attempt part " +
      "next to a complete multipart set does not mask completeness") {
    val dir = TestSpark.tmpDir("recreatable-mixed")
    val src = li.limit(5)
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src) // v1
    t.append(src) // v2
    t.checkpointMultipart(3) // complete 3-part set at v2
    val logDir = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 to 2).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(logDir,
        f"$v%020d.json"), false)
    }
    // leftover from a crashed 2-part attempt at the SAME version —
    // name-sorts before the complete set's parts
    fs.create(new org.apache.hadoop.fs.Path(logDir,
      f"${2L}%020d.checkpoint.${1}%010d.${2}%010d.parquet")).close()
    assert(t.earliestRecreatableVersion() == 2L)
  }

  test("firstVersionAfterOrNext: past-tip timestamps resolve to tip+1 " +
      "from the same listing") {
    val dir = TestSpark.tmpDir("ts-next")
    val src = li.limit(5)
    DeltaTable.create(spark, dir, src.schema,
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src) // v1
    val ts = t.history().sortBy(_._1).map(_._2)
    assert(t.firstVersionAfterOrNext(ts(1)) == 1L)
    assert(t.firstVersionAfterOrNext(ts.last + 100000) == 2L)
  }

  test("ScopedSessionConf: outer drain with a live joiner on the " +
      "stacked inner layer keeps the inner value, restores the true " +
      "original last") {
    val key = "spark.graft.test.scopedconf"
    spark.conf.set(key, "X")
    val aInner = new java.util.concurrent.CountDownLatch(1)
    val cJoined = new java.util.concurrent.CountDownLatch(1)
    val aDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var cObserved: String = null
    val a = new Thread(() => {
      DeltaTable.ScopedSessionConf.withConfs(spark, Seq(key -> "v1")) {
        DeltaTable.ScopedSessionConf.withConfs(spark, Seq(key -> "v2")) {
          aInner.countDown()
          cJoined.await() // C is inside the v2 layer before we unwind
        }
      }
      aDone.countDown()
    })
    val c = new Thread(() => {
      aInner.await()
      DeltaTable.ScopedSessionConf.withConfs(spark, Seq(key -> "v2")) {
        cJoined.countDown()
        aDone.await() // A fully unwound while this scope is still live
        cObserved = spark.conf.get(key)
      }
    })
    a.start(); c.start()
    a.join(30000); c.join(30000)
    assert(!a.isAlive && !c.isAlive, "scoped-conf threads deadlocked")
    assert(cObserved == "v2",
      s"joiner observed $cObserved after the stacker unwound")
    assert(spark.conf.get(key) == "X",
      "true original not restored after the last holder drained")
    spark.conf.unset(key)
  }

  test("TableChanges.readByTimestamp maps the window through " +
      "first-after / latest-as-of") {
    val dir = TestSpark.tmpDir("cdf-ts")
    val src = li.limit(5)
    DeltaTable.create(spark, dir, src.schema, configuration = Map(
      "delta.enableChangeDataFeed" -> "true",
      "delta.enableInCommitTimestamps" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src) // v1
    t.append(src) // v2
    val ts = t.history().sortBy(_._1).map(_._2)
    val all = TableChanges.readByTimestamp(spark, dir, ts.head)
    assert(all.count() == 10) // both appends' inserts
    val onlyV2 = TableChanges.readByTimestamp(spark, dir, ts(2))
    assert(onlyV2.count() == 5)
    assert(onlyV2.select(TableChanges.COMMIT_VERSION).distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("correlation id threads into commitInfo and historyDetail; " +
      "snapshots expose built-as-latest intent") {
    val dir = TestSpark.tmpDir("corr")
    val src = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema,
      correlationId = Some("req-000"))
    val t = DeltaTable.forPath(spark, dir)
    t.withCorrelationId("req-123").append(src)        // v1: tagged
    t.append(src)                                     // v2: untagged
    t.withCorrelationId("").append(src)               // v3: empty = unset

    val h = t.historyDetail().sortBy(_._1)
    assert(h.map(_._4) == Seq(Some("req-000"), Some("req-123"),
      None, None), h)
    // the 3-tuple history() surface is unchanged
    assert(t.history().sortBy(_._1).map(_._1) == Seq(0L, 1L, 2L, 3L))
    // a shallow clone's version-0 commit carries the cloning handle's id
    val cloneDir = TestSpark.tmpDir("corr-clone")
    t.withCorrelationId("req-clone").cloneShallow(cloneDir)
    assert(DeltaTable.forPath(spark, cloneDir).historyDetail().map(_._4) ==
      Seq(Some("req-clone")))

    // built-as-latest INTENT (#2905): latest build vs explicit
    // time-travel, even to the current tip
    assert(t.snapshot().builtAsLatest)
    assert(!t.snapshot(Some(1L)).builtAsLatest)
    assert(!t.snapshot(Some(3L)).builtAsLatest)
    // refresh advances to latest
    assert(Snapshot.refresh(t.snapshot(Some(2L))).builtAsLatest)
  }
}
