package graft.delta

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `delta.checkpointInterval` auto-checkpointing +
  * `delta.logRetentionDuration` expired-log cleanup. The reference
  * keeps checkpointing an explicit API; the interval property opts a
  * long-lived table into delta's operational cadence — without it the
  * log (and every snapshot's listing + replay) grows without bound.
  */
class AutoCheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def src(lo: Int, hi: Int) =
    (lo to hi).map(i => (i.toLong, s"v$i")).toDF("k", "s")

  private def fs(dir: String) = Storage.fs(new Path(dir),
    spark.sessionState.newHadoopConf())

  private def logNames(dir: String): Seq[String] =
    Storage.listSorted(fs(dir), FileNames.logDir(new Path(dir)))
      .map(_.getPath.getName)

  test("delta.checkpointInterval=3 checkpoints every 3rd commit " +
      "across append/delete/optimize; unset means never") {
    val dir = TestSpark.tmpDir("autockpt")
    DeltaTable.create(spark, dir, src(1, 1).schema,
      configuration = Map("delta.checkpointInterval" -> "3"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src(1, 10))        // v1
    t.append(src(11, 20))       // v2
    assert(!logNames(dir).exists(_.contains("checkpoint")))
    t.deleteWhere("k <= 2")     // v3 -> auto checkpoint
    assert(logNames(dir).contains(
      f"${3L}%020d.checkpoint.parquet"))
    t.append(src(21, 30))       // v4
    t.append(src(31, 40))       // v5
    t.optimizeCompact()         // v6 -> auto checkpoint
    assert(logNames(dir).contains(f"${6L}%020d.checkpoint.parquet"))
    val snap = t.snapshot()
    assert(snap.version == 6L)
    assert(snap.segment.checkpointVersion.contains(6L))
    assert(t.toDF.select("k").as[Long].collect().toSet ==
      (3L to 40L).toSet)

    // control: without the property nothing checkpoints
    val dir2 = TestSpark.tmpDir("autockpt-off")
    DeltaTable.create(spark, dir2, src(1, 1).schema)
    val t2 = DeltaTable.forPath(spark, dir2)
    (1 to 4).foreach(i => t2.append(src(i * 10, i * 10 + 5)))
    assert(!logNames(dir2).exists(_.contains("checkpoint")))
  }

  test("expired-log cleanup on checkpoint: commits below the " +
      "checkpoint past retention are deleted; reads survive") {
    val dir = TestSpark.tmpDir("logclean")
    DeltaTable.create(spark, dir, src(1, 1).schema,
      configuration = Map(
        "delta.logRetentionDuration" -> "interval 0 milliseconds"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src(1, 10))   // v1
    t.append(src(11, 20))  // v2
    Thread.sleep(20)       // let mtimes fall behind the cutoff
    t.checkpoint()         // v2 checkpoint + cleanup
    val names = logNames(dir)
    assert(!names.contains(f"${0L}%020d.json"), names)
    assert(!names.contains(f"${1L}%020d.json"), names)
    assert(names.contains(f"${2L}%020d.json"), names) // never below self
    assert(names.contains(f"${2L}%020d.checkpoint.parquet"), names)

    // snapshot + data read still fully work off the checkpoint
    val t3 = DeltaTable.forPath(spark, dir)
    assert(t3.snapshot().version == 2L)
    assert(t3.toDF.count() == 20)
    // time travel below the horizon fails cleanly, not silently wrong
    intercept[Exception] { t3.snapshot(Some(0L)) }

    // a later checkpoint expires the superseded checkpoint too
    t3.append(src(21, 30)) // v3
    Thread.sleep(20)
    t3.checkpoint()
    val names2 = logNames(dir)
    assert(!names2.contains(f"${2L}%020d.checkpoint.parquet"), names2)
    assert(names2.contains(f"${3L}%020d.checkpoint.parquet"), names2)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 30)

    // every checkpoint layout runs the same cleanup: a
    // checkpointPolicy=v2 table and a multi-part checkpoint
    Seq("v2", "multipart").foreach { layout =>
      val d = TestSpark.tmpDir(s"logclean-$layout")
      DeltaTable.create(spark, d, src(1, 1).schema,
        configuration = Map(
          "delta.logRetentionDuration" -> "interval 0 milliseconds") ++
          (if (layout == "v2") Map(TableProperties.CHECKPOINT_POLICY -> "v2")
           else Map.empty))
      val tl = DeltaTable.forPath(spark, d)
      tl.append(src(1, 10))   // v1
      tl.append(src(11, 20))  // v2
      Thread.sleep(20)
      val cv =
        if (layout == "v2") tl.checkpoint() else tl.checkpointMultipart(2)
      val n = logNames(d)
      assert(!n.contains(f"${0L}%020d.json"), s"$layout: $n")
      assert(!n.contains(f"${1L}%020d.json"), s"$layout: $n")
      assert(n.contains(f"$cv%020d.json"), s"$layout: $n")
      assert(DeltaTable.forPath(spark, d).toDF.count() == 20, layout)
    }
  }

  test("default retention deletes nothing; " +
      "delta.enableExpiredLogCleanup=false disables cleanup") {
    val dir = TestSpark.tmpDir("logclean-keep")
    DeltaTable.create(spark, dir, src(1, 1).schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src(1, 10))
    t.checkpoint() // default 30-day retention: everything is too young
    assert(logNames(dir).contains(f"${0L}%020d.json"))

    val dir2 = TestSpark.tmpDir("logclean-off")
    DeltaTable.create(spark, dir2, src(1, 1).schema,
      configuration = Map(
        "delta.logRetentionDuration" -> "interval 0 milliseconds",
        "delta.enableExpiredLogCleanup" -> "false"))
    val t2 = DeltaTable.forPath(spark, dir2)
    t2.append(src(1, 10))
    Thread.sleep(20)
    t2.checkpoint()
    assert(logNames(dir2).contains(f"${0L}%020d.json"))
  }
}
