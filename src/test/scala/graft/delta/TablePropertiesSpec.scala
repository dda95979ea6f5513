package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Table-property surface (reference kernel/src/table_properties/
  * mod.rs:27-64): targetFileSize, randomizeFilePrefixes,
  * checkpointPolicy, checkpoint stats forms, parquet codec, txn
  * retention, isolation level.
  */
class TablePropertiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def src(n: Int) =
    (1 to n).map(i => (i.toLong, s"p${i % 3}", s"v$i"))
      .toDF("k", "part", "s")

  test("size and interval parsing") {
    assert(TableProperties.parseSize("134217728") == (128L << 20))
    assert(TableProperties.parseSize("128mb") == (128L << 20))
    assert(TableProperties.parseSize("1g") == (1L << 30))
    assert(TableProperties.parseSize("64 KB") == (64L << 10))
    intercept[IllegalArgumentException] {
      TableProperties.parseSize("lots")
    }
    assert(TableProperties.parseInterval("interval 2 hours")
      .contains(7200000L))
    assert(TableProperties.parseInterval("INTERVAL 1 week")
      .contains(604800000L))
    assert(TableProperties.parseInterval("2 fortnights").isEmpty)
  }

  test("delta.targetFileSize drives OPTIMIZE bin sizing") {
    val dir = TestSpark.tmpDir("tfs")
    val df = src(500)
    DeltaTable.create(spark, dir, df.schema,
      configuration = Map(TableProperties.TARGET_FILE_SIZE -> "1gb"))
    val t = DeltaTable.forPath(spark, dir)
    (1 to 4).foreach(_ => t.append(df.repartition(3)))
    t.optimizeCompact() // resolves 1 GB from the property -> one bin
    val adds = new DeltaScan(t.snapshot(), None).collectAddFiles()
    assert(adds.size == 1, s"expected 1 compacted file, got ${adds.size}")
    assert(t.toDF.count() == 2000)
  }

  test("randomizeFilePrefixes spreads files across random key prefixes") {
    val dir = TestSpark.tmpDir("rndpfx")
    val df = src(300)
    DeltaTable.create(spark, dir, df.schema, Seq("part"), Map(
      TableProperties.RANDOMIZE_FILE_PREFIXES -> "true",
      TableProperties.RANDOM_PREFIX_LENGTH -> "3"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(df)
    val adds = new DeltaScan(t.snapshot(), None).collectAddFiles()
    assert(adds.nonEmpty)
    // every file sits under <3-hex>/<name>, no hive partition dirs
    adds.foreach { a =>
      assert(a.path.matches("^[0-9a-f]{3}/[^/]+$"),
        s"path not prefix-randomized: ${a.path}")
      // partition values survived the move out of the hive layout
      assert(Set("p0", "p1", "p2").contains(a.partitionValues("part")))
    }
    // reads go through the log, not directory listing — still exact
    assert(t.toDF.count() == 300)
    assert(t.toDF.filter(col("part") === "p1").count() == 100)
    // partition pruning still prunes on the log's partitionValues
    val pruned = new DeltaScan(t.snapshot(), Some("part = 'p1'"))
      .collectAddFiles()
    assert(pruned.forall(_.partitionValues("part") == "p1"))
  }

  test("checkpointPolicy=v2 routes checkpoint() to the V2 format") {
    val dir = TestSpark.tmpDir("ckpol")
    val df = src(50)
    DeltaTable.create(spark, dir, df.schema,
      configuration = Map(TableProperties.CHECKPOINT_POLICY -> "v2"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(df)
    t.append(df)
    t.checkpoint()
    val logDir = new java.io.File(s"$dir/_delta_log")
    val names = logDir.listFiles().map(_.getName)
    // V2 naming: <v>.checkpoint.<uuid>.parquet (4 dot segments + uuid)
    assert(names.exists(n => n.matches(
      raw"\d{20}\.checkpoint\.[0-9a-f-]{36}\.parquet")),
      s"no V2 checkpoint in ${names.mkString(",")}")
    // fresh handle reads through the V2 checkpoint
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 100)
  }

  test("writeStatsAsStruct adds typed stats; JSON can be dropped") {
    val dir = TestSpark.tmpDir("structstats")
    val df = src(80)
    DeltaTable.create(spark, dir, df.schema, configuration = Map(
      TableProperties.WRITE_STATS_AS_STRUCT -> "true",
      TableProperties.WRITE_STATS_AS_JSON -> "false"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(df)
    t.checkpoint()
    val ckpt = s"$dir/_delta_log/" +
      f"${t.snapshot().version}%020d.checkpoint.parquet"
    val raw = spark.read.parquet(ckpt)
    val addType = raw.schema("add").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(addType.fieldNames.contains("stats_parsed"))
    assert(!addType.fieldNames.contains("stats"),
      "writeStatsAsJson=false must strip the JSON stats string")
    val statsRow = raw.filter(col("add").isNotNull)
      .select(col("add.stats_parsed.numRecords")).collect()
    assert(statsRow.nonEmpty && statsRow.forall(!_.isNullAt(0)))
    // a fresh handle reads numRecords + min/max from the struct form:
    // row count and a pruned scan both still work
    val t2 = DeltaTable.forPath(spark, dir)
    assert(t2.toDF.count() == 80)
    assert(t2.scan(Some("k <= 10")).toDF.count() == 10)
  }

  test("writeStatsAsStruct on a partitioned table also writes the " +
      "typed partitionValues_parsed tuple") {
    val dir = TestSpark.tmpDir("structpv")
    val df = src(40).withColumn("p", col("k") % 4)
    DeltaTable.create(spark, dir, df.schema, Seq("p"),
      configuration = Map(
        TableProperties.WRITE_STATS_AS_STRUCT -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(df)
    t.checkpoint()
    val ckpt = s"$dir/_delta_log/" +
      f"${t.snapshot().version}%020d.checkpoint.parquet"
    val raw = spark.read.parquet(ckpt)
    val addType = raw.schema("add").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(addType.fieldNames.contains("partitionValues_parsed"))
    // the typed tuple must agree with the string map on every add,
    // and carry the partition column's TYPE (bigint from k % 4)
    val rows = raw.filter(col("add").isNotNull)
      .select(col("add.partitionValues")("p").as("s"),
        col("add.partitionValues_parsed.p").as("t")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.isNullAt(1) && r.getLong(1).toString == r.getString(0))
    }
    // a fresh handle still reads and prunes through the checkpoint
    val t2 = DeltaTable.forPath(spark, dir)
    assert(t2.toDF.count() == 40)
    assert(t2.scan(Some("p = 1")).toDF.count() == 10)
  }

  test("disabling both checkpoint stats forms is refused") {
    val dir = TestSpark.tmpDir("nostats")
    val df = src(10)
    DeltaTable.create(spark, dir, df.schema, configuration = Map(
      TableProperties.WRITE_STATS_AS_JSON -> "false"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(df)
    val e = intercept[IllegalArgumentException] { t.checkpoint() }
    assert(e.getMessage.contains("writeStatsAsStruct"))
  }

  test("delta.parquet.compression.codec pins the data-file codec") {
    val dir = TestSpark.tmpDir("codec")
    val df = src(100)
    DeltaTable.create(spark, dir, df.schema,
      configuration = Map(TableProperties.PARQUET_COMPRESSION -> "zstd"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(df)
    val adds = new DeltaScan(t.snapshot(), None).collectAddFiles()
    assert(adds.nonEmpty)
    assert(adds.forall(_.path.contains(".zstd.parquet")),
      s"codec not applied: ${adds.map(_.path).mkString(",")}")
    assert(t.toDF.count() == 100)
  }

  test("setTransactionRetentionDuration expires txn markers at checkpoint") {
    Seq("classic", "v2").foreach { layout =>
      val dir = TestSpark.tmpDir(s"txnret-$layout")
      val df = src(10)
      DeltaTable.create(spark, dir, df.schema, configuration = Map(
        TableProperties.SET_TRANSACTION_RETENTION -> "interval 1 hours"))
      val t = DeltaTable.forPath(spark, dir)
      t.append(df)
      val v = t.snapshot().version
      // one stale marker (lastUpdated two hours ago), one fresh, one
      // with no timestamp (never expires — reference is_expired contract)
      val now = System.currentTimeMillis()
      t.commitActions(v + 1, Seq(
        JsonLog.writeAction(SingleAction(txn = Some(
          SetTransaction("stale-app", 3L, Some(now - 7200000L))))),
        JsonLog.writeAction(SingleAction(txn = Some(
          SetTransaction("fresh-app", 4L, Some(now))))),
        JsonLog.writeAction(SingleAction(txn = Some(
          SetTransaction("timeless-app", 5L, None))))),
        retryable = false)
      if (layout == "classic") t.checkpoint() else t.checkpointV2()
      val snap = DeltaTable.forPath(spark, dir).snapshot()
      val apps = snap.setTransactions.map(_.appId).toSet
      assert(!apps.contains("stale-app"), s"$layout: stale txn survived: $apps")
      assert(apps.contains("fresh-app") && apps.contains("timeless-app"))
      if (layout == "v2") {
        // the top-level file's rows and the hint's non-file actions
        // carry the same reconciled txns
        val rowApps = spark.read.schema(LogSchema.checkpoint)
          .parquet(snap.v2Info.get.topLevel.path.toString)
          .filter(col("txn").isNotNull).select("txn.appId")
          .collect().map(_.getString(0)).toSet
        val hint = LogSegment.readLastCheckpointHint(
          Storage.fs(new Path(dir), spark.sessionState.newHadoopConf()),
          FileNames.logDir(new Path(dir)))
        val hintApps = hint.get.v2Checkpoint.get.nonFileActions.get.txns
          .map(_.appId).toSet
        assert(rowApps == Set("fresh-app", "timeless-app"), rowApps)
        assert(hintApps == Set("fresh-app", "timeless-app"), hintApps)
      }
    }
  }

  test("Serializable isolation refuses to rebase past a data removal") {
    val dir = TestSpark.tmpDir("serial")
    val df = src(50)
    DeltaTable.create(spark, dir, df.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(df)
    t.deleteWhere("k <= 10") // the winner: removes with dataChange=true
    val v = t.snapshot().version // occupied version
    def blindLines(cv: Long): Seq[String] = Seq(
      JsonLog.writeAction(SingleAction(commitInfo = Some(CommitInfo(
        System.currentTimeMillis(), "WRITE")))))
    // WriteSerializable (default): blind commit rebases past it
    val committed = t.commitActions(v, blindLines _, retryable = true,
      txnAppIds = Nil)
    assert(committed == v + 1)
    // Serializable: the same rebase is refused
    val e = intercept[ConcurrentWriteException] {
      t.commitActions(v, blindLines _, retryable = true,
        txnAppIds = Nil, serializable = true)
    }
    assert(e.getMessage.contains("serializable isolation"))
    // but rebasing past a pure append stays legal under Serializable
    val v2 = t.snapshot().version
    t.append(df.limit(5)) // occupy v2+1 with adds only
    val c2 = t.commitActions(v2 + 1, blindLines _, retryable = true,
      txnAppIds = Nil, serializable = true)
    assert(c2 == v2 + 2)
  }

  test("isolation level property parses and rejects unknown levels") {
    def m(cfg: Map[String, String]) =
      graft.delta.Metadata("i", None, None, Format(),
        """{"type":"struct","fields":[]}""", Nil, cfg, None)
    assert(!TableProperties.serializableIsolation(m(Map.empty)))
    assert(TableProperties.serializableIsolation(
      m(Map(TableProperties.ISOLATION_LEVEL -> "Serializable"))))
    intercept[IllegalArgumentException] {
      TableProperties.isolationLevel(
        m(Map(TableProperties.ISOLATION_LEVEL -> "ReadCommitted")))
    }
  }
}
