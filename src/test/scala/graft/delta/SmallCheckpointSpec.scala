package graft.delta

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The driver-small replay (Snapshot.smallState): one driver pass over
  * the commits and an in-process read of a small classic checkpoint
  * feeds latestActions, the file listing, setTransactions and
  * domainMetadatas. These pins hold it EQUIVALENT to the distributed
  * path (forced via graft.replay.driverMaxBytes=0), and hold it free of
  * Spark jobs.
  */
class SmallCheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def src(lo: Int, hi: Int) =
    (lo to hi).map(i => (i.toLong, s"v$i")).toDF("k", "s")

  private def build(): String = {
    val dir = TestSpark.tmpDir("smallckpt")
    DeltaTable.create(spark, dir, src(1, 1).schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src(1, 50), txn = Some(SetTransaction("appA", 3L, None)))
    t.append(src(51, 90), txn = Some(SetTransaction("appB", 7L, Some(99L))))
    t.alterClusterBy(Seq("k")) // domain metadata into the checkpoint
    t.deleteWhere("k > 80")    // a remove the checkpoint must reconcile
    t.checkpoint()
    // a post-checkpoint commit so the read is checkpoint + tail
    DeltaTable.forPath(spark, dir).append(src(91, 100))
    dir
  }

  test("driver-collected small checkpoint serves data, app txns and " +
      "domain metadata identically to the distributed read") {
    val dir = build()
    def observe(): (Set[Long], Map[String, (Long, Option[Long])],
        Set[String]) = {
      val snap = DeltaTable.forPath(spark, dir).snapshot()
      (snap.toDF.select("k").as[Long].collect().toSet,
        snap.setTransactions
          .map(t => t.appId -> (t.version, t.lastUpdated)).toMap,
        snap.domainMetadatas.map(_.domain).toSet)
    }
    val (rowsFast, txnsFast, domsFast) = observe()
    spark.conf.set("graft.replay.driverMaxBytes", "0")
    val (rowsDist, txnsDist, domsDist) =
      try observe() finally spark.conf.unset("graft.replay.driverMaxBytes")

    assert(rowsFast == (1L to 80L).toSet ++ (91L to 100L).toSet)
    assert(rowsFast == rowsDist)
    assert(txnsFast ==
      Map("appA" -> ((3L, None)), "appB" -> ((7L, Some(99L)))))
    assert(txnsFast == txnsDist)
    assert(domsFast.contains(Clustering.DOMAIN) && domsFast == domsDist)
  }

  test("driver-small open, file listing, txns and domain metadata of a " +
      "checkpointed table launch no Spark job") {
    val dir = build()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val snap = Snapshot.forTable(spark, dir)
      val all = snap.scanBuilder().build().collectAddFiles(slim = true)
      val pruned = snap.scanBuilder().withPredicate("k > 95").build()
        .collectAddFiles(slim = true)
      val txns = snap.setTransactions
      val doms = snap.domainMetadatas
      TestListenerBus.drain(sc)
      assert(snap.segment.checkpointParts.nonEmpty && snap.smallState)
      assert(pruned.nonEmpty && pruned.size < all.size)
      assert(txns.size == 2 && doms.exists(_.domain == Clustering.DOMAIN))
      assert(jobs.get == 0, s"${jobs.get} Spark jobs ran")
    } finally sc.removeSparkListener(listener)
  }

  test("the DV arm's stats-by-reference fetch on a driver-small " +
      "snapshot launches no Spark job") {
    val dir = build()
    val snap = Snapshot.forTable(spark, dir)
    val scan = snap.scanBuilder().build()
    val want = scan.collectAddFiles(slim = false).take(2)
      .map(a => a.path -> a.stats.get).toMap
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val got = scan.statsForPaths(want.keySet)
      TestListenerBus.drain(sc)
      assert(snap.smallState && want.size == 2)
      assert(got == want)
      assert(jobs.get == 0, s"${jobs.get} Spark jobs ran")
    } finally sc.removeSparkListener(listener)
  }

  test("driver and distributed replay keep the same files: no, classic " +
      "and multi-part checkpoint; partition and stats predicates; DVs " +
      "on a column-mapped table") {
    val dir = TestSpark.tmpDir("smallparity")
    def rows(lo: Int, hi: Int) = (lo to hi)
      .map(i => (i.toLong, Seq("a", "b", "c")(i % 3), s"v$i"))
      .toDF("k", "p", "s")
    DeltaTable.create(spark, dir, rows(1, 1).schema, Seq("p"),
      Map(ColumnMapping.MODE_KEY -> "name",
        "delta.enableDeletionVectors" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    val preds = Seq(None, Some("p = 'b'"), Some("k >= 31 AND k <= 40"))
    def kept(): Seq[Set[(String, Option[String])]] = {
      val snap = Snapshot.forTable(spark, dir)
      val small = snap.smallState
      assert(small == spark.conf.getOption("graft.replay.driverMaxBytes")
        .isEmpty)
      preds.map { p =>
        val b = snap.scanBuilder()
        p.foreach(b.withPredicate)
        b.build().collectAddFiles(slim = true)
          .map(a => (a.path, a.deletionVector.map(_.uniqueId))).toSet
      }
    }
    def check(parts: Int): Unit = {
      assert(t.snapshot().segment.checkpointParts.size == parts)
      val driver = kept()
      spark.conf.set("graft.replay.driverMaxBytes", "0")
      val dist = try kept()
        finally spark.conf.unset("graft.replay.driverMaxBytes")
      assert(driver == dist, s"$parts checkpoint parts")
      val Seq(all, part, stats) = driver
      assert(all.exists(_._2.nonEmpty), "no file carries a DV")
      assert(part.nonEmpty && part.size < all.size)
      assert(stats.nonEmpty && stats.size < all.size)
    }
    t.append(rows(1, 30))
    t.append(rows(31, 60))
    t.deleteWhereDV("k % 10 = 3")
    check(0)
    t.checkpoint()
    t.append(rows(61, 90))
    t.deleteWhereDV("k = 35 OR k = 65")
    check(1)
    t.checkpointMultipart(2)
    t.append(rows(91, 120))
    t.deleteWhereDV("k = 36 OR k = 95")
    check(2)
  }

  test("OPTIMIZE's layout-input cache never lingers past the rewrite") {
    val dir = TestSpark.tmpDir("optcache")
    DeltaTable.create(spark, dir, src(1, 1).schema,
      clusterBy = Seq("k"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src(1, 500))
    t.append(src(501, 1000))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    t.optimizeClustered()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "optimizeRewrite left its input persisted")
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 1000)
  }

  test("OPTIMIZE above the cache gate (streaming path) rewrites to the " +
      "same table as the cached path") {
    def build(cacheMax: String): Set[(Long, String)] = {
      val dir = TestSpark.tmpDir("optgate")
      DeltaTable.create(spark, dir, src(1, 1).schema,
        clusterBy = Seq("k"))
      val t = DeltaTable.forPath(spark, dir)
      t.append(src(1, 700))
      t.append(src(701, 1500))
      spark.conf.set(DeltaTable.OPTIMIZE_CACHE_INPUT_KEY, cacheMax)
      try t.optimizeClustered()
      finally spark.conf.unset(DeltaTable.OPTIMIZE_CACHE_INPUT_KEY)
      val snap = DeltaTable.forPath(spark, dir).snapshot()
      // clustered layout intact either way: every staged file covers a
      // disjoint key range (min/max stats don't overlap)
      import org.apache.spark.sql.functions.{col, min => fmin, max => fmax}
      val ranges = snap.toDF.groupBy(
          org.apache.spark.sql.functions.input_file_name())
        .agg(fmin(col("k")), fmax(col("k")))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi), (lo2, _)) =>
          assert(hi < lo2, s"overlapping clustered ranges under $cacheMax")
        case _ => ()
      }
      snap.toDF.select("k", "s").as[(Long, String)].collect().toSet
    }
    assert(build("0") == build(Long.MaxValue.toString))
  }
}
