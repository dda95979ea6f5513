package graft.delta

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Clustered tables (reference kernel/src/clustering.rs +
  * transaction/data_layout.rs): delta.clustering domain, clustering
  * writer feature, range-sorted file layout, and the skipping payoff.
  */
class ClusteringSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def statsRange(a: AddFile, c: String): (Long, Long) = {
    val n = JsonLog.parseLine(a.stats.get)
    (n.path("minValues").path(c).asLong, n.path("maxValues").path(c).asLong)
  }

  test("clustered create: domain + feature; appends range-sort files") {
    val dir = TestSpark.tmpDir("clus")
    // deliberately shuffled input: clustering must impose the order
    val src = scala.util.Random.shuffle((1 to 4000).toList)
      .map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema, clusterBy = Seq("k"),
      configuration =
        Map(DeltaTable.CLUSTERING_NUM_FILES_KEY -> "4"))
    val t = DeltaTable.forPath(spark, dir)
    assert(t.snapshot().protocol.writerFeatures.get.contains("clustering"))
    assert(Clustering.columns(t.snapshot()) == Seq("k"))

    t.append(src.repartition(4)) // 4 random partitions in, ranged out
    val adds = t.scan(None).collectAddFiles()
    assert(adds.forall(_.clusteringProvider.contains("liquid")))
    assert(adds.size > 1)
    // each file covers a DISJOINT k-range (the whole point of the
    // layout: min/max stats become perfectly selective)
    val ranges = adds.map(statsRange(_, "k")).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(lo2 > hi,
        s"file ranges overlap: $ranges")
      case _ =>
    }
    // skipping: a point predicate reads exactly one file
    val survivors = t.scan(Some("k = 2345")).filesDF.count()
    assert(survivors == 1L, s"expected 1 surviving file, got $survivors")
    assert(t.scan(Some("k = 2345")).toDF.count() == 1L)
  }

  test("optimizeClustered rewrites multi-append mess into disjoint " +
      "ranges with dataChange=false") {
    val dir = TestSpark.tmpDir("clusopt")
    val src = (1 to 6000).map(i => (i.toLong, i * 2.0)).toDF("k", "x")
    DeltaTable.create(spark, dir, src.schema,
      configuration = Map(TableChanges.CDF_ENABLED_KEY -> "true",
        DeltaTable.CLUSTERING_NUM_FILES_KEY -> "3"),
      clusterBy = Seq("k"))
    val t = DeltaTable.forPath(spark, dir)
    // interleaved appends: per-append files are sorted, but ranges
    // OVERLAP across appends
    t.append(src.filter($"k" % 2 === 0))
    t.append(src.filter($"k" % 2 === 1))
    val before = t.scan(None).collectAddFiles()
      .map(statsRange(_, "k")).sortBy(_._1)
    assert(before.sliding(2).exists {
      case Seq((_, hi), (lo2, _)) => lo2 <= hi
      case _ => false
    }, "test premise: pre-optimize ranges overlap")

    val v = t.optimizeClustered()
    val after = t.scan(None).collectAddFiles()
    assert(after.forall(a => !a.dataChange))
    val ranges = after.map(statsRange(_, "k")).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(lo2 > hi)
      case _ =>
    }
    // content identical
    assert(t.toDF.count() == 6000)
    assert(t.toDF.agg(sum($"k")).as[Long].head ==
      (1 to 6000).map(_.toLong).sum)
    // OPTIMIZE is invisible to the change feed (dataChange=false)
    val cdf = TableChanges.read(spark, dir, v, Some(v))
    assert(cdf.count() == 0)
  }

  test("optimizeCompact bin-packs a small-file explosion") {
    val dir = TestSpark.tmpDir("compact")
    val src = (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    // streaming-ingest shape: many tiny appends
    (0 until 10).foreach(i =>
      t.append(src.filter($"k" % 10 === i).repartition(2)))
    val before = t.scan(None).collectAddFiles()
    assert(before.size == 20)
    val v = t.optimizeCompact() // default 128MB target -> 1 file here
    val after = t.scan(None).collectAddFiles()
    assert(after.size == 1, s"expected 1 packed file, got ${after.size}")
    assert(after.forall(a => !a.dataChange))
    assert(t.toDF.count() == 2000)
    assert(t.toDF.select(sum($"k")).as[Long].head ==
      (1 to 2000).map(_.toLong).sum)
    // the rewrite is invisible to a streaming tail
    val removedAt = t.snapshot(Some(v))
    assert(removedAt.version == v)
  }

  test("OPTIMIZE WHERE compacts only matching partitions") {
    val dir = TestSpark.tmpDir("optwhere")
    val src = Seq((0L, "a")).toDF("k", "p")
    DeltaTable.create(spark, dir, src.schema, Seq("p"))
    val t = DeltaTable.forPath(spark, dir)
    (1 to 3).foreach { i =>
      t.append(Seq((i.toLong, "a"), (i.toLong + 10, "b")).toDF("k", "p"))
    }
    def files(p: String) = t.scan(None).collectAddFiles()
      .filter(_.partitionValues.get("p").contains(p))
    assert(files("a").size == 3 && files("b").size == 3)
    t.optimizeCompact(where = Some("p = 'a'"))
    assert(files("a").size == 1, s"got ${files("a").size}")
    assert(files("b").size == 3, "non-matching partition must be untouched")
    assert(t.toDF.count() == 6)
    // a non-partition predicate is rejected
    intercept[IllegalArgumentException] {
      t.optimizeCompact(where = Some("k > 1"))
    }
  }

  test("auto-compact: appends trigger partition-scoped bin-packing") {
    val dir = TestSpark.tmpDir("autocompact")
    val src0 = Seq((0L, "a")).toDF("k", "p")
    DeltaTable.create(spark, dir, src0.schema, Seq("p"),
      configuration = Map(DeltaTable.AUTO_COMPACT_KEY -> "true",
        TableChanges.CDF_ENABLED_KEY -> "true"))
    spark.conf.set("spark.graft.autoCompact.minNumFiles", "4")
    try {
      val t = DeltaTable.forPath(spark, dir)
      (1 to 3).foreach(i => t.append(Seq((i.toLong, "a")).toDF("k", "p")))
      def files(p: String) = t.scan(None).collectAddFiles()
        .filter(_.partitionValues.get("p").contains(p))
      // below the threshold: nothing compacts
      assert(files("a").size == 3)
      // 4th small file in 'a' crosses the threshold -> 'a' packs to 1;
      // 'b' stays below and keeps accumulating untouched
      t.append(Seq((4L, "a"), (5L, "b")).toDF("k", "p"))
      assert(files("a").size == 1,
        s"partition a should auto-compact, got ${files("a").size}")
      t.append(Seq((6L, "b")).toDF("k", "p"))
      assert(files("a").size == 1 && files("b").size == 2)
      assert(t.toDF.count() == 6)
      assert(t.toDF.select(sum($"k")).as[Long].head == 21L)
      // the compaction commit is dataChange=false: a change-feed read
      // across the whole history sees exactly the 6 inserted rows
      val cdf = TableChanges.read(spark, dir, 0, None)
      assert(cdf.filter($"_change_type" === "insert").count() == 6)
      assert(cdf.count() == 6)
    } finally spark.conf.unset("spark.graft.autoCompact.minNumFiles")
  }

  test("auto-compact candidate scan scopes to touched partitions") {
    val dir = TestSpark.tmpDir("autocompact-scope")
    val src0 = Seq((0L, "a")).toDF("k", "p")
    // AUTO_COMPACT off: accumulate small files freely, then drive the
    // probe directly — the post-commit hook passes the commit's own
    // partition set through the same parameter
    DeltaTable.create(spark, dir, src0.schema, Seq("p"))
    val t = DeltaTable.forPath(spark, dir)
    (1 to 3).foreach(i =>
      t.append(Seq((i.toLong, "a"), (i.toLong, "b")).toDF("k", "p")))
    def files(p: String) = t.scan(None).collectAddFiles()
      .filter(_.partitionValues.get("p").contains(p))
    assert(files("a").size == 3 && files("b").size == 3)
    // scoped probe: only the touched partition compacts even though
    // BOTH are at the threshold — the untouched one is not even scanned
    t.autoCompact(minNumFiles = 3,
      touchedPartitions = Some(Set(Map("p" -> "a"))))
    assert(files("a").size == 1,
      s"touched partition should compact, got ${files("a").size}")
    assert(files("b").size == 3,
      "untouched partition must not compact under a scoped probe")
    // unscoped probe: the remaining partition compacts as before
    t.autoCompact(minNumFiles = 3)
    assert(files("b").size == 1)
    assert(t.toDF.count() == 6)
  }

  /** Three appends of `values` (one row, so one file, per partition
    * value each), then a probe scoped to the log's own partitionValues
    * of all values but one: exactly the scoped values compact.
    */
  private def assertScopedCompaction(name: String, values: Column,
      count: Int, conf: Map[String, String] = Map.empty): Unit = {
    val dir = TestSpark.tmpDir(name)
    val src = spark.range(count).select($"id".as("k"), values.as("p"))
      .coalesce(1)
    DeltaTable.create(spark, dir, src.schema, Seq("p"), configuration = conf)
    val t = DeltaTable.forPath(spark, dir)
    (1 to 3).foreach(_ => t.append(src))
    def groups() = t.scan(None).collectAddFiles(slim = true)
      .groupBy(_.partitionValues).map { case (pv, fs) => pv -> fs.size }
    val before = groups()
    assert(before.size == count && before.values.forall(_ == 3))
    val scoped = before.keys.toSeq.sortBy(_.toString).drop(1).toSet
    t.autoCompact(minNumFiles = 3, touchedPartitions = Some(scoped))
    val after = groups()
    assert(after.keySet == before.keySet)
    after.foreach { case (pv, n) =>
      assert(n == (if (scoped(pv)) 1 else 3), s"$name: $pv has $n files")
    }
    assert(t.toDF.count() == 3L * count)
  }

  test("auto-compact scopes string, int, date, timestamp and decimal " +
      "partitions, a column-mapped table and a 65-partition commit " +
      "exactly") {
    assertScopedCompaction("scope-string", concat(lit("v"), $"id"), 2)
    assertScopedCompaction("scope-int", $"id".cast("int"), 2)
    assertScopedCompaction("scope-date",
      date_add(lit("2024-02-28").cast("date"), $"id".cast("int")), 2)
    assertScopedCompaction("scope-timestamp",
      timestamp_seconds($"id" * 3601 + 1700000000L), 2)
    assertScopedCompaction("scope-decimal",
      ($"id" + 0.25).cast("decimal(10,2)"), 2)
    assertScopedCompaction("scope-cm", concat(lit("v"), $"id"), 2,
      conf = Map(ColumnMapping.MODE_KEY -> "name"))
    assertScopedCompaction("scope-65", $"id".cast("int"), 66)
  }

  test("the auto-compaction scope over 5,000 touched partition values " +
      "keeps exactly the touched value lists, nulls included") {
    def pv(p: String, q: String) = Map("p" -> p, "q" -> q)
    val touched = (0 until 5000).map(i =>
      pv(s"v$i", if (i % 7 == 0) null else s"$i")).toSet ++
      Set(pv("a,b", "c"), pv("1:x", "-"), pv("\u00e9\ud83d\ude00", null))
    val log = Seq(pv("v0", null), pv("v1", "1"), pv("v7", null),
        pv("v1", null), pv("v0", "0"), pv("v5000", "5000"),
        pv("a,b", "c"), pv("a", "b,c"), pv("1:x", "-"), pv("1:x", null),
        pv("\u00e9\ud83d\ude00", null), pv("\u00e9", null))
      .toDF("partitionValues").select(struct($"partitionValues").as("add"))
    val kept = log.filter(PartitionValues.scope(Seq("p", "q"), touched))
      .select($"add.partitionValues").as[Map[String, String]].collect().toSet
    assert(kept == Set(pv("v0", null), pv("v1", "1"), pv("v7", null),
      pv("a,b", "c"), pv("1:x", "-"), pv("\u00e9\ud83d\ude00", null)))
  }

  /** Three single-row appends into partition value `p` of an
    * auto-compacting table (threshold 3): the third must compact the
    * partition to one file.
    */
  private def assertAutoCompacts(name: String, p: String,
      extraConf: Map[String, String]): Unit = {
    val dir = TestSpark.tmpDir(name)
    val src0 = Seq((0L, p)).toDF("k", "p")
    DeltaTable.create(spark, dir, src0.schema, Seq("p"),
      configuration = Map(DeltaTable.AUTO_COMPACT_KEY -> "true") ++ extraConf)
    spark.conf.set("spark.graft.autoCompact.minNumFiles", "3")
    try {
      val t = DeltaTable.forPath(spark, dir)
      (1 to 3).foreach(i => t.append(Seq((i.toLong, p)).toDF("k", "p")))
      val files = t.scan(None).collectAddFiles()
      assert(files.size == 1, s"partition '$p' should auto-compact, " +
        s"got ${files.size} files")
      assert(t.toDF.filter($"p" === p).count() == 3)
    } finally spark.conf.unset("spark.graft.autoCompact.minNumFiles")
  }

  test("auto-compact scopes column-mapped partitions by physical name") {
    assertAutoCompacts("autocompact-cm", "a",
      Map(ColumnMapping.MODE_KEY -> "name"))
  }

  test("auto-compact scopes a backslash partition value exactly") {
    assertAutoCompacts("autocompact-bs", "a\\b", Map.empty)
  }

  test("auto-compact is best-effort: a failure after the append " +
      "committed never fails the append") {
    val dir = TestSpark.tmpDir("autocompact-err")
    val src0 = Seq((0L, "a")).toDF("k", "p")
    DeltaTable.create(spark, dir, src0.schema,
      configuration = Map(DeltaTable.AUTO_COMPACT_KEY -> "true"))
    // a hostile conf makes the compaction step itself throw — the
    // already-committed append must still succeed (a caller retrying a
    // "failed" append would duplicate data)
    spark.conf.set("spark.graft.autoCompact.minNumFiles", "not-a-number")
    try {
      val t = DeltaTable.forPath(spark, dir)
      (1 to 3).foreach(i => t.append(Seq((i.toLong, "a")).toDF("k", "p")))
      assert(t.toDF.count() == 3)
      assert(t.snapshot().version == 3L)
    } finally spark.conf.unset("spark.graft.autoCompact.minNumFiles")
  }

  test("ALTER CLUSTER BY re-keys; NONE removes; first-time upgrades") {
    val spark2 = spark
    import spark2.implicits._
    val dir = TestSpark.tmpDir("altercluster")
    val src = (1 to 400).map(i => (i.toLong, (401 - i).toLong, s"s$i"))
      .toDF("a", "b", "s")
    // created UNclustered: first ALTER must add clustering+domainMetadata
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    assert(Clustering.columns(t.snapshot()).isEmpty)
    t.alterClusterBy(Seq("a"))
    val snap1 = t.snapshot()
    assert(Clustering.columns(snap1) == Seq("a"))
    assert(snap1.protocol.writerFeatures.exists(_.contains("clustering")))
    t.optimizeClustered()
    // disjoint ranges on a
    val adds1 = new DeltaScan(t.snapshot(), None).collectAddFiles()
    val ranges1 = adds1.map(statsRange(_, "a")).sortBy(_._1)
    ranges1.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi <= lo)
      case _ => ()
    }
    // re-key to b: next OPTIMIZE lays out on b
    t.alterClusterBy(Seq("b"))
    assert(Clustering.columns(t.snapshot()) == Seq("b"))
    t.optimizeClustered()
    val adds2 = new DeltaScan(t.snapshot(), None).collectAddFiles()
    val ranges2 = adds2.map(statsRange(_, "b")).sortBy(_._1)
    ranges2.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi <= lo)
      case _ => ()
    }
    // CLUSTER BY NONE: domain removed; bin-pack OPTIMIZE takes over
    t.alterClusterBy(Nil)
    assert(Clustering.columns(t.snapshot()).isEmpty)
    t.optimizeCompact()
    assert(t.toDF.count() == 400)
    // validation still applies
    intercept[IllegalArgumentException] {
      t.alterClusterBy(Seq("nope"))
    }
  }

  test("SQL ALTER TABLE CLUSTER BY reaches the engine") {
    val spark2 = spark
    import spark2.implicits._
    spark.conf.set("spark.sql.catalog.gd_cl",
      classOf[graft.sql.GraftDeltaCatalog].getName)
    spark.conf.set("spark.sql.catalog.gd_cl.warehouse",
      TestSpark.tmpDir("gd-cl-wh"))
    spark.sql("""CREATE TABLE gd_cl.default.clt (k BIGINT, v BIGINT)
      USING `graft-delta`""")
    spark.sql("INSERT INTO gd_cl.default.clt VALUES (1, 9), (2, 8)")
    spark.sql("ALTER TABLE gd_cl.default.clt CLUSTER BY (v)")
    val loc = spark.sql("DESCRIBE TABLE EXTENDED gd_cl.default.clt")
      .filter(col("col_name") === "Location")
      .select("data_type").as[String].head().stripPrefix("file:")
    val t = DeltaTable.forPath(spark, loc)
    assert(Clustering.columns(t.snapshot()) == Seq("v"))
    spark.sql("ALTER TABLE gd_cl.default.clt CLUSTER BY NONE")
    assert(Clustering.columns(
      DeltaTable.forPath(spark, loc).snapshot()).isEmpty)
  }

  test("clustering column validation") {
    val schema = Seq((1L, "a")).toDF("k", "s").schema
    intercept[IllegalArgumentException] {
      DeltaTable.create(spark, TestSpark.tmpDir("clusbad"), schema,
        clusterBy = Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      DeltaTable.create(spark, TestSpark.tmpDir("clusbad2"), schema,
        partitionColumns = Seq("k"), clusterBy = Seq("k"))
    }
  }

  test("z-order: multi-column clustering preserves data exactly") {
    val dir = TestSpark.tmpDir("zdata")
    val src = (0 until 4096).map(i => (i % 64L, i / 64L, s"r$i"))
      .toDF("x", "y", "s")
    DeltaTable.create(spark, dir, src.schema, clusterBy = Seq("x", "y"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.optimizeClustered()
    assert(t.toDF.orderBy("x", "y").collect().toSeq ==
      src.orderBy("x", "y").collect().toSeq)
  }

  test("z-order: skipping stays effective on BOTH clustering columns") {
    val dir = TestSpark.tmpDir("zskip")
    // a 64x64 grid — lexicographic sort on (x,y) would put every y
    // value in every file, making y-predicates unskippable
    val src = (0 until 4096).map(i => (i % 64L, i / 64L, s"r$i"))
      .toDF("x", "y", "s")
    DeltaTable.create(spark, dir, src.schema, clusterBy = Seq("x", "y"),
      configuration = Map(DeltaTable.CLUSTERING_NUM_FILES_KEY -> "16"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.optimizeClustered()
    val total = t.scan(None).collectAddFiles().size
    assert(total >= 8, s"expected >=8 z-ordered files, got $total")
    val xHit = t.scan(Some("x < 8")).collectAddFiles().size
    val yHit = t.scan(Some("y < 8")).collectAddFiles().size
    assert(xHit <= total / 2, s"x-predicate read $xHit of $total files")
    assert(yHit <= total / 2, s"y-predicate read $yHit of $total files")
  }

  test("ad-hoc OPTIMIZE ZORDER BY on an unclustered table: skipping " +
      "gains without metadata change; declared clustering refuses") {
    val dir = TestSpark.tmpDir("zadhoc")
    val src = (0 until 4096).map(i => (i % 64L, i / 64L, s"r$i"))
      .toDF("x", "y", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.repartition(8)) // scattered: both columns everywhere
    t.optimizeZorderBy(Seq("x", "y"), numFiles = 16)
    val total = t.scan(None).collectAddFiles().size
    assert(total >= 8, s"expected >=8 z-ordered files, got $total")
    assert(t.scan(Some("x < 8")).collectAddFiles().size <= total / 2)
    assert(t.scan(Some("y < 8")).collectAddFiles().size <= total / 2)
    // data intact; clustering metadata NOT declared
    assert(t.toDF.count() == 4096)
    assert(Clustering.columns(t.snapshot()).isEmpty)
    // declared-clustering tables refuse the ad-hoc path
    val dir2 = TestSpark.tmpDir("zadhoc2")
    DeltaTable.create(spark, dir2, src.schema, clusterBy = Seq("x"))
    intercept[IllegalArgumentException] {
      DeltaTable.forPath(spark, dir2).optimizeZorderBy(Seq("y"))
    }
    // ineligible / unknown columns refuse
    intercept[IllegalArgumentException] {
      t.optimizeZorderBy(Seq("nope"))
    }
  }

  test("column-mapped clustered table stores physical paths in the " +
      "domain") {
    val dir = TestSpark.tmpDir("cluscm")
    val src = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema,
      configuration = Map(ColumnMapping.MODE_KEY -> "name"),
      clusterBy = Seq("k"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    val phys = Clustering.physicalColumns(t.snapshot())
    assert(phys.size == 1 && phys.head.head.startsWith("col-"),
      s"expected a physical col-<uuid> path, got $phys")
    assert(Clustering.columns(t.snapshot()) == Seq("k")) // logical view
    assert(t.toDF.orderBy("k").collect().toSeq ==
      src.orderBy("k").collect().toSeq)
  }
}
