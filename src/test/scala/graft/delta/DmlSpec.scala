package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The four predicate-DML entry points — DELETE and UPDATE, by rewrite
  * and by deletion vector — share one contract: a call tombstones
  * exactly the files that hold a matching row, and a call matching no
  * row commits nothing.
  */
class DmlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val entryPoints: Seq[(String, (DeltaTable, String) => Long)] = Seq(
    "deleteWhere" -> ((t, p) => t.deleteWhere(p)),
    "updateWhere" -> ((t, p) => t.updateWhere(p, Map("v" -> "v + 1"))),
    "deleteWhereDV" -> ((t, p) => t.deleteWhereDV(p)),
    "updateWhereDV" -> ((t, p) => t.updateWhereDV(p, Map("v" -> "v + 1"))))

  /** Partition-value prefix of the odd shape: a space, `%` and `+`,
    * which an add's path, the file's name and `_metadata.file_path`
    * each spell differently.
    */
  private val odd = "a b%c+"

  /** 200 rows, CDF on, in 4 files (16 when partitioned on `p`); ids are
    * spread round-robin, so stats skipping keeps every file for a
    * modulo predicate. The odd shape is partitioned on string values
    * prefixed by [[odd]] and tracks row ids.
    */
  private def table(partitioned: Boolean,
      oddValues: Boolean = false): (String, DeltaTable) = {
    val dir = TestSpark.tmpDir("dml")
    val p = if (oddValues) concat(lit(odd), ($"id" % 4).cast("string"))
      else $"id" % 4
    val df = spark.range(200).select($"id", p.as("p"),
      ($"id" * 10).as("v")).repartition(4)
    DeltaTable.create(spark, dir, df.schema,
      partitionColumns = if (partitioned) Seq("p") else Nil,
      configuration = Map(TableChanges.CDF_ENABLED_KEY -> "true") ++
        (if (oddValues) Map(RowTracking.ENABLED_KEY -> "true") else Nil))
    val t = DeltaTable.forPath(spark, dir)
    t.append(df)
    (dir, t)
  }

  private def logActions(dir: String, v: Long): Seq[(String,
      com.fasterxml.jackson.databind.JsonNode)] = {
    val p = new Path(FileNames.logDir(new Path(dir)), f"$v%020d.json")
    val fs = Storage.fs(p, spark.sessionState.newHadoopConf())
    Storage.readLines(fs, p).map(JsonLog.parseLine).map { n =>
      val k = n.fieldNames().next()
      k -> n.get(k)
    }
  }

  private val shapes = Seq(
    ("an unpartitioned CDF table", false, false),
    ("a partitioned CDF table", true, false),
    ("a row-tracked partitioned CDF table whose partition values hold " +
      "a space, % and +", true, true))

  for ((name, run) <- entryPoints; (shape, partitioned, oddValues) <- shapes) {
    test(s"$name on $shape touches only the file holding the " +
      "matching row; a zero-match call commits nothing") {
      val (dir, t) = table(partitioned, oddValues)
      val before = t.scan(None).collectAddFiles()
      assert(before.size == (if (partitioned) 16 else 4))
      val v0 = t.snapshot().version

      val v1 = run(t, "id % 1000 = 7")
      assert(v1 == v0 + 1)
      val actions = logActions(dir, v1)
      val removed = actions.collect { case ("remove", r) =>
        r.get("path").asText }.toSet
      val holder = before.filter(a => spark.read
        .parquet(new Path(dir, Storage.decodeUriPath(a.path)).toString)
        .filter($"id" === 7).count() > 0).map(_.path).toSet
      assert(holder.size == 1)
      assert(removed == holder, s"$name removed ${removed.size} of " +
        s"${before.size} files")
      // every other file stays live with its DV unchanged
      val after = t.scan(None).collectAddFiles()
      before.filterNot(a => holder(a.path)).foreach(a => assert(
        after.exists(b => b.path == a.path &&
          b.deletionVector == a.deletionVector)))
      if (name == "deleteWhereDV")
        assert(!actions.exists(_._1 == "cdc"),
          "a DV DELETE stages no _change_data")

      val v2 = run(t, "id % 1000 = 999")
      assert(v2 == v1, s"$name committed a zero-match call")
      val next = new Path(FileNames.logDir(new Path(dir)), f"${v1 + 1}%020d.json")
      assert(!Storage.fs(next, spark.sessionState.newHadoopConf())
        .exists(next))

      val feed = TableChanges.read(spark, dir, v1, None)
        .groupBy(TableChanges.CHANGE_TYPE).count().as[(String, Long)]
        .collect().toMap
      val want =
        if (name.startsWith("delete")) Map("delete" -> 1L)
        else Map("update_preimage" -> 1L, "update_postimage" -> 1L)
      assert(feed == want)
      assert(t.toDF.count() == (if (name.startsWith("delete")) 199 else 200))
    }
  }

  test("MERGE upsert and row-id read on a row-tracked partitioned table " +
      "whose partition values hold a space, % and +") {
    val (dir, t) = table(partitioned = true, oddValues = true)
    def rowIds(): Map[Long, Long] = t.scan(None).toDFWithRowIds
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    val ids0 = rowIds()
    assert(ids0.size == 200 && ids0.values.toSet.size == 200)
    val src = Seq((7L, s"${odd}3", 1L), (500L, s"${odd}0", 5L))
      .toDF("id", "p", "v")
    import MergeClause._
    val v = t.merge(src, "t.id = s.id", Seq(
      MatchedUpdate(None, Map("v" -> "s.v")),
      NotMatchedInsert(None, Map("id" -> "s.id", "p" -> "s.p",
        "v" -> "s.v"))))
    // only the file holding id 7 is touched
    assert(logActions(dir, v).count(_._1 == "remove") == 1)
    val rows = t.toDF.select("id", "p", "v").as[(Long, String, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(rows.size == 201)
    assert(rows(7L) == ((7L, s"${odd}3", 1L)))
    assert(rows(500L) == ((500L, s"${odd}0", 5L)))
    assert(rows(8L) == ((8L, s"${odd}0", 80L)))
    // the row-id read keys every file: ids survive the upsert, and the
    // inserted row takes a fresh one
    val ids1 = rowIds()
    assert(ids1.size == 201)
    ids0.foreach { case (id, rid) => assert(ids1(id) == rid) }
    assert(!ids0.values.toSet.contains(ids1(500L)))
  }

  test("an updateWhere matching rows in two partitions adds at most one " +
      "data file and one cdc file per partition") {
    val (dir, t) = table(partitioned = true)
    val v = t.updateWhere("id % 4 IN (1, 2) AND id < 40", Map("v" -> "-v"))
    val acts = logActions(dir, v)
    def perPartition(kind: String) = acts.collect { case (`kind`, a) =>
      a.get("partitionValues").get("p").asText }
      .groupBy(identity).map { case (p, fs) => p -> fs.size }
    assert(perPartition("remove").keySet == Set("1", "2"))
    assert(perPartition("remove").values.sum > 2,
      "the predicate should touch several files per partition")
    assert(perPartition("add") == Map("1" -> 1, "2" -> 1))
    assert(perPartition("cdc") == Map("1" -> 1, "2" -> 1))
    assert(t.toDF.filter($"v" < 0).count() == 20)
    assert(t.toDF.count() == 200)
  }

  test("a rewrite DELETE rewrites only the partly matched file and " +
      "drops a fully matched one unread") {
    val dir = TestSpark.tmpDir("dml-reads")
    val t = DeltaTable.create(spark, dir, spark.range(1).schema)
    (0 until 4).foreach(i =>
      t.append(spark.range(i * 50, i * 50 + 50).toDF.coalesce(1)))
    val r = new InMemoryReporter
    val prev = Metrics.reporter
    Metrics.reporter = r
    val v = try t.deleteWhere("id < 50 OR id % 1000 = 177")
      finally Metrics.reporter = prev
    // stats cannot skip the modulo arm: the match pass reads all four
    // files; ids 0-49 match in full, 150-199 hold 177, the rest none,
    // so the rewrite reads one file
    val reads = r.events.collect {
      case e: MetricEvent.IoBytes if e.phase == "data_scan" => e.files }
    assert(reads == Seq(4L, 1L))
    val actions = logActions(dir, v)
    assert(actions.count(_._1 == "remove") == 2)
    assert(actions.count(_._1 == "add") == 1)
    assert(t.toDF.count() == 149)
  }
}
