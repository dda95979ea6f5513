package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import MergeClause._

/** MERGE INTO semantics: clause ordering, matched update/delete,
  * not-matched insert, ambiguity detection, CDF images, identity
  * generation on inserted rows (Delta MERGE contract over the
  * kernel's file-granular remove+add rewrite).
  */
class MergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(dir: String,
      cdf: Boolean = false): DeltaTable = {
    val schema = Seq((1L, "a", 0.0)).toDF("k", "s", "v").schema
    DeltaTable.create(spark, dir, schema,
      configuration =
        if (cdf) Map(TableChanges.CDF_ENABLED_KEY -> "true")
        else Map.empty)
    DeltaTable.forPath(spark, dir)
  }

  private def rows(t: DeltaTable): Set[(Long, String, Double)] =
    t.toDF.as[(Long, String, Double)].collect().toSet

  test("upsert: matched update + not matched insert") {
    val t = freshTable(TestSpark.tmpDir("mrg_upsert"))
    t.append(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "s", "v"))
    val src = Seq((2L, "B", 20.0), (4L, "D", 40.0)).toDF("k", "s", "v")
    t.merge(src, "t.k = s.k", Seq(
      MatchedUpdate(None, Map("s" -> "s.s", "v" -> "s.v + t.v")),
      NotMatchedInsert(None,
        Map("k" -> "s.k", "s" -> "s.s", "v" -> "s.v"))))
    assert(rows(t) == Set((1L, "a", 1.0), (2L, "B", 22.0),
      (3L, "c", 3.0), (4L, "D", 40.0)))
  }

  test("schemaEvolution=true: assigned source-only column is added " +
      "nullable and untouched rows read NULL") {
    val t = freshTable(TestSpark.tmpDir("mrg_evolve"))
    t.append(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "s", "v"))
    val src = Seq((2L, "B", 20.0, 7), (4L, "D", 40.0, 9))
      .toDF("k", "s", "v", "n")
    t.merge(src, "t.k = s.k", Seq(
      MatchedUpdate(None, Map("v" -> "s.v", "n" -> "s.n")),
      NotMatchedInsert(None, Map(
        "k" -> "s.k", "s" -> "s.s", "v" -> "s.v", "n" -> "s.n"))),
      schemaEvolution = true)
    // new column exists, typed from the source, nullable
    val f = t.snapshot().schema("n")
    assert(f.dataType == org.apache.spark.sql.types.IntegerType
      && f.nullable)
    val got = t.toDF.select($"k", $"s", $"v", $"n")
      .as[(Long, String, Double, Option[Int])].collect().toSet
    assert(got == Set(
      (1L, "a", 1.0, None), (2L, "b", 20.0, Some(7)),
      (3L, "c", 3.0, None), (4L, "D", 40.0, Some(9))))
    // without the flag the same merge still refuses the unknown column
    val e = intercept[IllegalArgumentException] {
      t.merge(src, "t.k = s.k",
        Seq(MatchedUpdate(None, Map("n2" -> "s.n"))))
    }
    assert(e.getMessage.contains("no such column"))
    // and with the flag, a column in neither table nor source is an error
    val e2 = intercept[IllegalArgumentException] {
      t.merge(src, "t.k = s.k",
        Seq(MatchedUpdate(None, Map("n2" -> "s.n"))),
        schemaEvolution = true)
    }
    assert(e2.getMessage.contains("neither"))
  }

  test("clause order: first matching clause wins") {
    val t = freshTable(TestSpark.tmpDir("mrg_order"))
    t.append(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "s", "v"))
    val src = Seq((1L, "x", 0.0), (2L, "x", 0.0), (3L, "x", 0.0))
      .toDF("k", "s", "v")
    t.merge(src, "t.k = s.k", Seq(
      MatchedDelete(Some("t.k = 1")),
      MatchedUpdate(Some("t.k <= 2"), Map("s" -> "'hit2'")),
      MatchedUpdate(None, Map("s" -> "'hit3'"))))
    assert(rows(t) == Set((2L, "hit2", 2.0), (3L, "hit3", 3.0)))
  }

  test("unconditioned keep: matched rows with no applying clause survive") {
    val t = freshTable(TestSpark.tmpDir("mrg_keep"))
    t.append(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "s", "v"))
    val src = Seq((1L, "x", 0.0), (2L, "x", 0.0)).toDF("k", "s", "v")
    t.merge(src, "t.k = s.k", Seq(
      MatchedUpdate(Some("t.v > 1.5"), Map("s" -> "'upd'"))))
    assert(rows(t) == Set((1L, "a", 1.0), (2L, "upd", 2.0)))
  }

  test("insert-only merge never rewrites existing files") {
    val t = freshTable(TestSpark.tmpDir("mrg_insonly"))
    t.append(Seq((1L, "a", 1.0)).toDF("k", "s", "v"))
    val addsBefore = new DeltaScan(t.snapshot(), None).collectAddFiles()
      .map(_.path).toSet
    val src = Seq((1L, "dup", 0.0), (9L, "new", 9.0)).toDF("k", "s", "v")
    t.merge(src, "t.k = s.k", Seq(
      NotMatchedInsert(None,
        Map("k" -> "s.k", "s" -> "s.s", "v" -> "s.v"))))
    assert(rows(t) == Set((1L, "a", 1.0), (9L, "new", 9.0)))
    val addsAfter = new DeltaScan(t.snapshot(), None).collectAddFiles()
      .map(_.path).toSet
    assert(addsBefore.subsetOf(addsAfter), "insert-only merge rewrote files")
  }

  test("ambiguous multi-match raises") {
    val t = freshTable(TestSpark.tmpDir("mrg_amb"))
    t.append(Seq((1L, "a", 1.0)).toDF("k", "s", "v"))
    val src = Seq((1L, "x", 0.0), (1L, "y", 0.0)).toDF("k", "s", "v")
    val e = intercept[IllegalArgumentException] {
      t.merge(src, "t.k = s.k", Seq(
        MatchedUpdate(None, Map("s" -> "s.s"))))
    }
    assert(e.getMessage.contains("multiple"))
  }

  test("CDF images: update pre/post, delete, insert") {
    val dir = TestSpark.tmpDir("mrg_cdf")
    val t = freshTable(dir, cdf = true)
    t.append(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "s", "v"))                                       // v1
    val src = Seq((1L, "A", 10.0), (2L, "-", 0.0), (5L, "E", 50.0))
      .toDF("k", "s", "v")
    val v = t.merge(src, "t.k = s.k", Seq(
      MatchedDelete(Some("s.s = '-'")),
      MatchedUpdate(None, Map("s" -> "s.s", "v" -> "s.v")),
      NotMatchedInsert(None,
        Map("k" -> "s.k", "s" -> "s.s", "v" -> "s.v"))))          // v2
    val feed = TableChanges.read(spark, dir, v, Some(v))
      .select($"k", $"s", $"v", $"_change_type")
      .as[(Long, String, Double, String)].collect().toSet
    assert(feed == Set(
      (1L, "a", 1.0, "update_preimage"),
      (1L, "A", 10.0, "update_postimage"),
      (2L, "b", 2.0, "delete"),
      (5L, "E", 50.0, "insert")))
    assert(rows(t) == Set((1L, "A", 10.0), (3L, "c", 3.0),
      (5L, "E", 50.0)))
  }

  test("identity column generates on merge inserts and advances the mark") {
    val dir = TestSpark.tmpDir("mrg_ident")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false,
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("delta.identity.start", 1L)
          .putLong("delta.identity.step", 1L)
          .putBoolean("delta.identity.allowExplicitInsert", false)
          .build()),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    DeltaTable.create(spark, dir, schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(Seq((10L, "a"), (20L, "b")).toDF("k", "s"))
    val src = Seq((20L, "B"), (30L, "C")).toDF("k", "s")
    t.merge(src, "t.k = s.k", Seq(
      MatchedUpdate(None, Map("s" -> "s.s")),
      NotMatchedInsert(None, Map("k" -> "s.k", "s" -> "s.s"))))
    val got = t.toDF.as[(Long, Long, String)].collect().toSeq
    assert(got.map(_._1).distinct.size == 3, "identity ids must be unique")
    assert(got.map(r => (r._2, r._3)).toSet ==
      Set((10L, "a"), (20L, "B"), (30L, "C")))
    // a further append must not reuse ids (mark advanced)
    t.append(Seq((40L, "d")).toDF("k", "s"))
    val ids = t.toDF.as[(Long, Long, String)].collect().map(_._1)
    assert(ids.distinct.length == ids.length)
  }

  test("not matched by source: update + delete with conditions") {
    val t = freshTable(TestSpark.tmpDir("mrg_bys"))
    t.append(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
      (4L, "d", 4.0)).toDF("k", "s", "v"))
    val src = Seq((1L, "A", 10.0)).toDF("k", "s", "v")
    // k=1 matched->update; k=2 unmatched v<=2.5 -> stale-mark;
    // k=3,4 unmatched v>2.5 -> deleted
    t.merge(src, "t.k = s.k", Seq(
      MatchedUpdate(None, Map("s" -> "s.s", "v" -> "s.v")),
      NotMatchedBySourceDelete(Some("t.v > 2.5")),
      NotMatchedBySourceUpdate(None, Map("s" -> "'stale'"))))
    assert(rows(t) == Set((1L, "A", 10.0), (2L, "stale", 2.0)))
  }

  test("by source sync: full mirror of the source via all three groups") {
    val dir = TestSpark.tmpDir("mrg_sync")
    val t = freshTable(dir, cdf = true)
    t.append(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "s", "v"))
    val src = Seq((2L, "B", 20.0), (3L, "C", 30.0)).toDF("k", "s", "v")
    val v = t.merge(src, "t.k = s.k", Seq(
      MatchedUpdate(None, Map("s" -> "s.s", "v" -> "s.v")),
      NotMatchedInsert(None,
        Map("k" -> "s.k", "s" -> "s.s", "v" -> "s.v")),
      NotMatchedBySourceDelete(None)))
    assert(rows(t) == Set((2L, "B", 20.0), (3L, "C", 30.0)))
    val feed = TableChanges.read(spark, dir, v, Some(v))
      .select($"k", $"_change_type")
      .as[(Long, String)].collect().toSet
    assert(feed == Set((1L, "delete"), (2L, "update_preimage"),
      (2L, "update_postimage"), (3L, "insert")))
  }

  test("partitioned table: merge moves rows across partitions") {
    val dir = TestSpark.tmpDir("mrg_part")
    val df = Seq((1L, "p1", 1.0), (2L, "p1", 2.0), (3L, "p2", 3.0))
      .toDF("k", "p", "v")
    DeltaTable.create(spark, dir, df.schema, Seq("p"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(df)
    val src = Seq((2L, "p2", 20.0)).toDF("k", "p", "v")
    t.merge(src, "t.k = s.k", Seq(
      MatchedUpdate(None, Map("p" -> "s.p", "v" -> "s.v"))))
    assert(t.toDF.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "p1", 1.0), (2L, "p2", 20.0), (3L, "p2", 3.0)))
    // partition pruning still serves the moved row from its new dir
    assert(t.scan(Some("p = 'p2'")).toDF
      .as[(Long, String, Double)].collect().toSet ==
      Set((2L, "p2", 20.0), (3L, "p2", 3.0)))
  }

  /** A partitioned CDF table (`id`, `part`, `v`) of 200 rows over
    * partitions 0-3, staged as one append and then four single-partition
    * appends, so each partition holds two files.
    */
  private def partitionedCdf(name: String): (String, DeltaTable) = {
    val dir = TestSpark.tmpDir(name)
    def rows(ids: Range, part: Option[Int]) = ids.map(i =>
      (i.toLong, part.getOrElse(i % 4), i.toLong * 10)).toDF("id", "part", "v")
    DeltaTable.create(spark, dir, rows(0 until 1, None).schema, Seq("part"),
      Map(TableChanges.CDF_ENABLED_KEY -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(rows(0 until 160, None).coalesce(1))
    (0 until 4).foreach(p =>
      t.append(rows(160 + p * 10 until 170 + p * 10, Some(p)).coalesce(1)))
    (dir, t)
  }

  private def logActions(dir: String, v: Long): Seq[(String, String)] = {
    val p = new Path(FileNames.logDir(new Path(dir)), f"$v%020d.json")
    val fs = Storage.fs(p, spark.sessionState.newHadoopConf())
    Storage.readLines(fs, p).map(JsonLog.parseLine).map { n =>
      val k = n.fieldNames().next()
      k -> Option(n.get(k).get("path")).map(_.asText).orNull
    }
  }

  private def upsert(t: DeltaTable, src: org.apache.spark.sql.DataFrame) =
    t.merge(src, "t.id = s.id", Seq(
      MatchedUpdate(None, Map("v" -> "s.v")),
      NotMatchedInsert(None,
        Map("id" -> "s.id", "part" -> "s.part", "v" -> "s.v"))))

  test("partitioned CDF upsert touching one partition removes only the " +
      "matched file and adds one data file and one cdc file") {
    val (dir, t) = partitionedCdf("mrg_onepart")
    val v = upsert(t, Seq((5L, 1, -1L), (1000L, 1, 7L)).toDF("id", "part", "v"))
    val acts = logActions(dir, v)
    val removed = acts.collect { case ("remove", p) => p }
    assert(removed.size == 1 && removed.head.contains("part=1/"))
    assert(acts.count(_._1 == "add") == 1)
    assert(acts.count(_._1 == "cdc") == 1)
    assert(t.toDF.filter($"id".isin(5L, 1000L)).as[(Long, Int, Long)]
      .collect().toSet == Set((5L, 1, -1L), (1000L, 1, 7L)))
    assert(t.toDF.count() == 201)
  }

  test("CDF MERGE: an inserted row's current_timestamp() default reads " +
      "the same in the table and in its insert image") {
    val dir = TestSpark.tmpDir("mrg_cdf_default")
    val schema = org.apache.spark.sql.types.StructType(
      Seq((1L, 1L)).toDF("id", "v").schema.fields :+
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType, nullable = true,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString(WriteValidation.DEFAULT_KEY, "current_timestamp()")
            .build()))
    DeltaTable.create(spark, dir, schema,
      configuration = Map(TableChanges.CDF_ENABLED_KEY -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(Seq((1L, 1L)).toDF("id", "v"))
    val v = t.merge(Seq((1L, 10L), (5L, 50L)).toDF("id", "v"), "t.id = s.id",
      Seq(MatchedUpdate(None, Map("v" -> "s.v")),
        NotMatchedInsert(None, Map("id" -> "s.id", "v" -> "s.v"))))
    val stored = t.toDF.filter($"id" === 5L).select("ts").as[java.sql.Timestamp]
      .collect().toSeq
    val image = TableChanges.read(spark, dir, v, Some(v))
      .filter(col(TableChanges.CHANGE_TYPE) === "insert")
      .select("ts").as[java.sql.Timestamp].collect().toSeq
    assert(stored.size == 1 && stored.head != null && image == stored)
  }

  test("MERGE re-reads only sources that surely read alike; it pins " +
      "joins, limits, file reads and nondeterministic sources") {
    val local = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    assert(MergeClause.rereadsAlike(local.coalesce(1).filter($"k" > 0)))
    assert(MergeClause.rereadsAlike(spark.range(10).select($"id" * 2)))
    assert(!MergeClause.rereadsAlike(local.join(local, "k")))
    assert(!MergeClause.rereadsAlike(spark.range(10).toDF.limit(3)))
    assert(!MergeClause.rereadsAlike(local.withColumn("r", rand())))
    val dir = TestSpark.tmpDir("mrg_reread") + "/src"
    local.write.parquet(dir)
    assert(!MergeClause.rereadsAlike(spark.read.parquet(dir)))
  }

  test("a MERGE that matches no target row plans a single target scan") {
    val (_, t) = partitionedCdf("mrg_nomatch")
    val r = new InMemoryReporter
    val prev = Metrics.reporter
    Metrics.reporter = r
    try upsert(t, Seq((1000L, 2, 7L), (1001L, 3, 8L)).toDF("id", "part", "v"))
    finally Metrics.reporter = prev
    val scans = r.events.collect {
      case e: MetricEvent.IoBytes if e.phase == "data_scan" => e.files }
    assert(scans == Seq(8L), s"target scans: $scans")
    assert(t.toDF.count() == 202)
  }

  test("a MERGE of 10 updates and 10 inserts into a 4-partition CDF " +
      "table runs at most 11 Spark jobs") {
    val (dir, t) = partitionedCdf("mrg_jobs")
    val src = ((0L until 10L).map(i => (i * 7, (i * 7 % 4).toInt, -i)) ++
      (0L until 10L).map(i => (5000 + i, (i % 4).toInt, i)))
      .toDF("id", "part", "v").coalesce(1)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val v = try {
      val v = upsert(t, src)
      TestListenerBus.drain(sc)
      v
    } finally sc.removeSparkListener(listener)
    // the match pass (source broadcast, partial-aggregate exchange,
    // collect); the data write (source broadcast, the tagged rows'
    // materialization, the insert anti-join's broadcast, the insert
    // rows' materialization, a rebalance exchange, the write); the
    // change-data write from both materializations (rebalance, write)
    assert(jobs.get <= 11, s"${jobs.get} Spark jobs ran")
    val feed = TableChanges.read(spark, dir, v, Some(v))
      .groupBy(TableChanges.CHANGE_TYPE).count().as[(String, Long)]
      .collect().toMap
    assert(feed == Map("update_preimage" -> 10L, "update_postimage" -> 10L,
      "insert" -> 10L))
    assert(t.toDF.count() == 210)
  }
}
