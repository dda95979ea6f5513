package graft.delta

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Randomized log-replay model check: a seeded sequence of appends,
  * file-granular deletes, DV deletes, re-adds and checkpoints must
  * always replay to the same live set a simple in-memory model
  * predicts — first-seen-wins on (path, dvId) newest-first, exactly
  * the FileActionDeduplicator contract.
  */
class LogReplayFuzzSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("random op sequences replay to the model's row set") {
    val rnd = new scala.util.Random(1234)
    (0 until 3).foreach { round =>
      val dir = TestSpark.tmpDir(s"fuzz$round")
      val model = scala.collection.mutable.Map.empty[Long, String]
      var nextK = 0L
      val schema = Seq((0L, "x")).toDF("k", "s").schema
      DeltaTable.create(spark, dir, schema)
      val t = DeltaTable.forPath(spark, dir)

      (0 until 12).foreach { _ =>
        rnd.nextInt(5) match {
          case 0 | 1 => // append a fresh batch
            val n = 1 + rnd.nextInt(40)
            val batch = (0 until n).map { _ =>
              nextK += 1
              model(nextK) = s"v$nextK"
              (nextK, s"v$nextK")
            }
            t.append(batch.toDF("k", "s"))
          case 2 => // file-rewrite delete of a random key range
            if (model.nonEmpty) {
              val lo = model.keys.toSeq(rnd.nextInt(model.size))
              val hi = lo + rnd.nextInt(20)
              t.deleteWhere(s"k >= $lo AND k <= $hi")
              (lo to hi).foreach(model.remove)
            }
          case 3 => // DV delete of a random key range
            if (model.nonEmpty) {
              val lo = model.keys.toSeq(rnd.nextInt(model.size))
              val hi = lo + rnd.nextInt(20)
              t.deleteWhereDV(s"k >= $lo AND k <= $hi")
              (lo to hi).foreach(model.remove)
            }
          case 4 => // checkpoint (classic or v2, randomly)
            if (rnd.nextBoolean()) t.checkpoint()
            else t.checkpointV2(numSidecars = rnd.nextInt(3))
        }
        // invariant after EVERY op: replayed rows == model
        val got = t.toDF.select("k", "s").as[(Long, String)]
          .collect().toMap
        assert(got == model.toMap,
          s"round $round diverged: got ${got.size} model ${model.size}")
      }
    }
  }

  test("predicate scans stay exact when random adds lose their stats") {
    // The protocol allows stats-less adds; skipping must degrade to
    // keep-the-file, never to skip-the-file (the all-null guard's
    // EqualTo-not-<=> contract). Fuzz: build a table, strip stats from
    // a random half of the adds, and compare predicate scans against
    // the model under comparison/equality/DISTINCT/range predicates.
    val rnd = new scala.util.Random(777)
    val dir = TestSpark.tmpDir("fuzz-nostats")
    val model = scala.collection.mutable.Map.empty[Long, String]
    var nextK = 0L
    val schema = Seq((0L, "x")).toDF("k", "s").schema
    DeltaTable.create(spark, dir, schema)
    val t = DeltaTable.forPath(spark, dir)
    (0 until 8).foreach { _ =>
      rnd.nextInt(3) match {
        case 0 | 1 =>
          val n = 1 + rnd.nextInt(30)
          val batch = (0 until n).map { _ =>
            nextK += 1; model(nextK) = s"v$nextK"; (nextK, s"v$nextK")
          }
          t.append(batch.toDF("k", "s").repartition(1 + rnd.nextInt(3)))
        case 2 =>
          if (model.nonEmpty) {
            val lo = model.keys.toSeq(rnd.nextInt(model.size))
            val hi = lo + rnd.nextInt(15)
            t.deleteWhere(s"k >= $lo AND k <= $hi")
            (lo to hi).foreach(model.remove)
          }
      }
    }
    // strip stats from ~half the adds across every commit json
    val logDir = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(logDir).filter(_.getPath.getName.endsWith(".json"))
      .foreach { st =>
        val lines = scala.io.Source.fromInputStream(
          fs.open(st.getPath)).getLines().toList
        val rewritten = lines.map { line =>
          val node = JsonLog.parseLine(line)
          if (node.has("add") && rnd.nextBoolean()) {
            node.get("add").asInstanceOf[
              com.fasterxml.jackson.databind.node.ObjectNode]
              .remove("stats")
            JsonLog.mapper.writeValueAsString(node)
          } else line
        }
        val out = fs.create(st.getPath, true)
        try out.write((rewritten.mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
      }
    val t2 = DeltaTable.forPath(spark, dir)
    val ks = model.keys.toSeq.sorted
    val probes: Seq[(String, Long => Boolean)] =
      if (ks.isEmpty) Nil
      else {
        val a = ks(ks.size / 3); val b = ks(2 * ks.size / 3)
        Seq(
          (s"k < $b", (k: Long) => k < b),
          (s"k = $a", (k: Long) => k == a),
          (s"k IS DISTINCT FROM $a", (k: Long) => k != a),
          (s"k >= $a AND k < $b", (k: Long) => k >= a && k < b),
          (s"NOT (k = $b)", (k: Long) => k != b),
          ("k IS NOT NULL", (_: Long) => true))
      }
    probes.foreach { case (pred, f) =>
      val got = t2.scan(Some(pred)).toDF.select("k")
        .as[Long].collect().sorted.toSeq
      val want = ks.filter(f)
      assert(got == want,
        s"predicate `$pred` diverged with stripped stats: " +
          s"got ${got.size} want ${want.size}")
    }
  }

  test("driver and distributed latestActions agree on the same log") {
    val dir = TestSpark.tmpDir("parity")
    DeltaTable.create(spark, dir, Seq((0L, "x")).toDF("k", "s").schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append((1L to 200L).map(k => (k, s"v$k")).toDF("k", "s"))
    t.append((201L to 400L).map(k => (k, s"v$k")).toDF("k", "s"))
    t.deleteWhere("k >= 100 AND k <= 120")
    t.deleteWhereDV("k >= 300 AND k <= 330")

    def actionsKeyed(): Map[String, (Boolean, Long)] =
      t.snapshot().latestActions
        .select("key", "add", "version").collect()
        .map(r => r.getString(0) -> (!r.isNullAt(1), r.getLong(2)))
        .toMap

    def parity(): Unit = {
      val driver = actionsKeyed()          // small log → driver path
      spark.conf.set("graft.replay.driverMaxBytes", "0")
      try {
        val dist = actionsKeyed()          // forced distributed path
        assert(driver == dist,
          s"paths diverged: driver=${driver.size} dist=${dist.size}")
        assert(driver.nonEmpty && driver.exists(!_._2._1),
          "expected at least one winning tombstone in the parity log")
      } finally spark.conf.unset("graft.replay.driverMaxBytes")
    }
    parity()
    // checkpoint plus tail: the checkpoint's adds and tombstones meet
    // newer commits that shadow some of them
    t.checkpoint()
    t.append((401L to 450L).map(k => (k, s"v$k")).toDF("k", "s"))
    t.deleteWhereDV("k >= 305 AND k <= 310")
    t.deleteWhere("k >= 1 AND k <= 5")
    assert(t.snapshot().segment.checkpointParts.nonEmpty)
    parity()
  }

  test("a remove whose DV only concatenates to a live add's key does " +
      "not shadow the add, on either replay path") {
    // add: DV `/x/dv.bin1` at offset 2; a newer remove: DV `/x/dv.bin`
    // at offset 12. Concatenated without a separator both read
    // `p/x/dv.bin12`; as FileActionKey{path, dvUniqueId} they differ.
    val dir = TestSpark.tmpDir("dvkey")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = Storage.fs(root, spark.sessionState.newHadoopConf())
    val logDir = FileNames.logDir(root)
    def dv(path: String, offset: Int) =
      s"""{"storageType":"p","pathOrInlineDv":"$path","offset":$offset,""" +
        """"sizeInBytes":10,"cardinality":1}"""
    val schemaString = Seq((0L, "x")).toDF("k", "s").schema.json
      .replace("\"", "\\\"")
    Seq(
      Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["deletionVectors"],""" +
          """"writerFeatures":["deletionVectors"]}}""",
        s"""{"metaData":{"id":"dvkey","format":{"provider":"parquet",""" +
          s""""options":{}},"schemaString":"$schemaString",""" +
          """"partitionColumns":[],"configuration":{},"createdTime":0}}"""),
      Seq("""{"add":{"path":"f1.parquet","partitionValues":{},"size":10,""" +
        """"modificationTime":0,"dataChange":true,"deletionVector":""" +
        dv("/x/dv.bin1", 2) + "}}"),
      Seq("""{"remove":{"path":"f1.parquet","deletionTimestamp":1,""" +
        """"dataChange":true,"deletionVector":""" + dv("/x/dv.bin", 12) +
        "}}")
    ).zipWithIndex.foreach { case (lines, v) =>
      Storage.put(fs, FileNames.commitFile(logDir, v.toLong),
        lines.mkString("", "\n", "\n"))
    }
    def kept(): Seq[(String, Option[String])] =
      Snapshot.forTable(spark, dir).scanBuilder().build().collectAddFiles()
        .map(a => (a.path, a.deletionVector.map(_.uniqueId)))
    val want = Seq(("f1.parquet", Some("p/x/dv.bin1@2")))
    assert(kept() == want, "driver replay")
    spark.conf.set("graft.replay.driverMaxBytes", "0")
    try assert(kept() == want, "distributed replay")
    finally spark.conf.unset("graft.replay.driverMaxBytes")
  }
}
