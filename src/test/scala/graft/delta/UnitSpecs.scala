package graft.delta

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class JsonLogSpec extends AnyFunSuite {
  private val fs = org.apache.hadoop.fs.FileSystem.getLocal(
    new org.apache.hadoop.conf.Configuration())

  private def commitFile(lines: Seq[String]): org.apache.hadoop.fs.Path = {
    val f = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(TestSpark.tmpDir("jsonlog")), "c", ".json")
    java.nio.file.Files.write(f, lines.mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    new org.apache.hadoop.fs.Path(f.toUri)
  }

  test("action JSON round trip: add with escapes and options") {
    val a = AddFile(
      path = "p=1/part-00\"x\t.parquet",
      partitionValues = Map("p" -> "1", "q" -> null),
      size = 123L, modificationTime = 456L, dataChange = true,
      stats = Some("""{"numRecords":2}"""),
      deletionVector = Some(DeletionVectorDescriptor("u", "abc", Some(1), 40, 2)))
    val line = JsonLog.writeAction(SingleAction(add = Some(a)))
    assert(JsonLog.readCommit(fs, commitFile(Seq(line)), JsonLog.AllKinds) ==
      Seq(line -> SingleAction(add = Some(a))))
    // absent optionals are omitted, not null
    assert(!line.contains("baseRowId"))
    assert(line.contains("\"q\":null"))

    // every action kind round-trips through writeAction -> readCommit
    val protocol = Protocol(3, 7, Some(Seq("deletionVectors")),
      Some(Seq("deletionVectors", "domainMetadata")))
    val metadata = graft.delta.Metadata("id1", Some("t"), Some("d"),
      Format("parquet", Map("o" -> "1")),
      StructType(Seq(StructField("a", LongType))).json, Seq("a"),
      Map("k" -> "v"), Some(1L))
    val everyKind = Seq(
      SingleAction(txn = Some(SetTransaction("app", 3L, Some(9L)))),
      SingleAction(add = Some(a.copy(tags = Some(Map("t" -> "v")),
        baseRowId = Some(4L), defaultRowCommitVersion = Some(2L),
        clusteringProvider = Some("liquid")))),
      SingleAction(remove = Some(RemoveFile("r.parquet", Some(1L),
        dataChange = false, Some(true), Some(Map("p" -> "1")), Some(10L),
        Some("{}"), Some(Map("t" -> "v")), a.deletionVector, Some(4L),
        Some(2L)))),
      SingleAction(metaData = Some(metadata)),
      SingleAction(protocol = Some(protocol)),
      SingleAction(cdc = Some(AddCDCFile("c.parquet", Map("p" -> "1"), 5L))),
      SingleAction(commitInfo = Some(CommitInfo(7L, "WRITE",
        Map("mode" -> "Append"), Some("e"), Some(8L), Some("corr")))),
      SingleAction(domainMetadata = Some(
        DomainMetadata("d", """{"k":1}""", removed = true))),
      SingleAction(sidecar = Some(Sidecar("s.parquet", 11L, 12L,
        Some(Map("x" -> "y"))))),
      SingleAction(checkpointMetadata = Some(
        CheckpointMetadata(13L, Some(Map("a" -> "b"))))))
    assert(everyKind.size == JsonLog.AllKinds.size)
    val lines = everyKind.map(JsonLog.writeAction)
    val path = commitFile(lines)
    assert(JsonLog.readCommit(fs, path, JsonLog.AllKinds) ==
      lines.zip(everyKind))

    // a subset of kinds decodes only those kinds
    assert(JsonLog.readCommit(fs, path, Set("add", "commitInfo"))
      .map(_._2) == everyKind.filter(x =>
        x.add.nonEmpty || x.commitInfo.nonEmpty))

    // an add whose tags mention "protocol" passes the pre-filter but
    // stays an add, and P&M replay looks past it
    val tagged = SingleAction(add = Some(a.copy(
      tags = Some(Map("kind" -> "protocol")))))
    val taggedPath = commitFile(Seq(JsonLog.writeAction(tagged)))
    assert(JsonLog.readCommit(fs, taggedPath, JsonLog.AllKinds)
      .map(_._2) == Seq(tagged))
    assert(JsonLog.readCommit(fs, taggedPath, Set("protocol")).isEmpty)
    assert(JsonLog.protocolAndMetadata(fs, Seq(taggedPath, path)) ==
      (Some(protocol), Some(metadata)))

    // a foreign commitInfo with no operation and no in-commit timestamp
    // gives history() an empty op and the file's modification time
    val spark = TestSpark.spark
    val dir = TestSpark.tmpDir("foreignci")
    DeltaTable.create(spark, dir, StructType(Seq(StructField("a", LongType))))
    val v1 = FileNames.commitFile(
      FileNames.logDir(new org.apache.hadoop.fs.Path(dir)), 1L)
    val f = new java.io.File(v1.toUri.getPath)
    java.nio.file.Files.write(f.toPath,
      "{\"commitInfo\":{\"engineInfo\":\"foreign\"}}\n".getBytes("UTF-8"))
    assert(f.setLastModified(1600000000000L))
    val h = DeltaTable.forPath(spark, dir).history()
    assert(h.last == ((1L, 1600000000000L, "")))
  }

  test("metadata round trip preserves schema string") {
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType)))
    val m = graft.delta.Metadata("id1", Some("t"), None, Format(),
      schema.json, Seq("b"), Map("k" -> "v"), Some(1L))
    val line = JsonLog.writeAction(SingleAction(metaData = Some(m)))
    val back = JsonLog.parseMetadata(JsonLog.parseLine(line).get("metaData"))
    assert(back == m)
    assert(back.schema == schema)
  }

  test("dv uniqueId matches the kernel convention") {
    assert(DeletionVectorDescriptor("u", "xyz", None, 1, 1).uniqueId == "uxyz")
    assert(DeletionVectorDescriptor("p", "xyz", Some(3), 1, 1).uniqueId == "pxyz@3")
  }
}

class StoragePathSpec extends AnyFunSuite {
  private val root = new org.apache.hadoop.fs.Path("file:/tbl")

  test("childPath: ':' in a directory name resolves under the root, " +
      "not as a URI scheme") {
    // the ':'-in-directory-name hazard: 'ts:2024' is NOT a scheme
    assert(Storage.childPath(root, "ts:2024/part-0.parquet").toString ==
      "file:/tbl/ts:2024/part-0.parquet")
    assert(Storage.childPath(root, "time:12:30/f.parquet").toString ==
      "file:/tbl/time:12:30/f.parquet")
    // plain relative + rooted-relative forms
    assert(Storage.childPath(root, "p=1/f.parquet").toString ==
      "file:/tbl/p=1/f.parquet")
    assert(Storage.childPath(root, "/abs/f.parquet").toString ==
      "file:/abs/f.parquet")
  }

  test("childPath: genuine absolute URIs pass through") {
    assert(Storage.childPath(root, "file:/other/f.parquet").toString ==
      "file:/other/f.parquet")
    assert(Storage.childPath(root, "s3a://bucket/k/f.parquet").toString ==
      "s3a://bucket/k/f.parquet")
    assert(Storage.childPath(root, "hdfs://nn:8020/d/f.parquet").toString ==
      "hdfs://nn:8020/d/f.parquet")
    // an unknown scheme WITH an authority is still a URI
    assert(Storage.childPath(root, "weird://h/f.parquet").toString ==
      "weird://h/f.parquet")
  }

  test("isAbsoluteUri classification") {
    assert(Storage.isAbsoluteUri("file:/x"))
    assert(Storage.isAbsoluteUri("s3://b/k"))
    assert(Storage.isAbsoluteUri("abfss://c@a.dfs.core.windows.net/p"))
    assert(!Storage.isAbsoluteUri("ts:2024/f"))
    assert(!Storage.isAbsoluteUri("p=1/f.parquet"))
    assert(!Storage.isAbsoluteUri("/rooted/f.parquet"))
    assert(!Storage.isAbsoluteUri(":broken"))
  }

  test("encodeUriPath is the exact inverse of decodeUriPath") {
    assert(Storage.encodeUriPath("p=a b%25c1/f.parquet") ==
      "p=a%20b%2525c1/f.parquet")
    assert(Storage.encodeUriPath("p=1/part-0.parquet") == "p=1/part-0.parquet")
    Seq("p=a b%c1/f.parquet", "x=a+b/%2B/é ü\t\"<>#?[]^`{|}/f",
        "file:/abs/ts=2024-01-01 00:00:00/f.parquet", "%zz%", "")
      .foreach(p =>
        assert(Storage.decodeUriPath(Storage.encodeUriPath(p)) == p, p))
  }
}

class PartitionValuesSpec extends AnyFunSuite {
  test("serialize/parse round trips") {
    assert(PartitionValues.serialize(42, IntegerType) == "42")
    assert(PartitionValues.parse("42", IntegerType) == 42)
    assert(PartitionValues.parse("", IntegerType) == null) // empty => NULL
    assert(PartitionValues.parse("", StringType) == "")    // except string
    assert(PartitionValues.serialize(null, StringType) == null)
    val d = java.sql.Date.valueOf("2024-02-29")
    assert(PartitionValues.serialize(d, DateType) == "2024-02-29")
    assert(PartitionValues.parse("2024-02-29", DateType) == d)
    val t = java.sql.Timestamp.valueOf("2024-02-29 01:02:03.123456")
    assert(PartitionValues.serialize(t, TimestampType) ==
      "2024-02-29 01:02:03.123456")
    assert(PartitionValues.parse("2024-02-29 01:02:03.123456",
      TimestampType) == t)
    assert(PartitionValues.parse("1.5", DoubleType) == 1.5)
    assert(PartitionValues.parse("true", BooleanType) == true)
  }
}

class DataSkippingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val eligible: Set[Seq[String]] =
    Set(Seq("a"), Seq("b"), Seq("s", "x"), Seq("s", "y", "z"))

  private def rw(sql: String): Option[String] =
    DataSkipping.rewrite(DataSkipping.parse(spark, sql), eligible,
      eligible + Seq("c")).map(_.sql)
  // the all-null guard every comparison carries (reference
  // eval_sql_where: nullCount = numRecords proves no non-null row)
  private def g(c: String) =
    s"(NOT (__stats.nullCount.$c = __stats.numRecords))"

  test("IsNull on a column outside nullCount (partition col) is unknown") {
    assert(DataSkipping.rewrite(
      DataSkipping.parse(spark, "part_col IS NULL OR a > 5"),
      eligible, eligible).isEmpty)
    assert(DataSkipping.rewrite(
      DataSkipping.parse(spark, "part_col IS NOT NULL"),
      eligible, eligible).isEmpty)
  }

  test("nested leaf paths rewrite against nested stats structs") {
    assert(rw("s.x < 3") ==
      Some(s"(${g("s.x")} AND (__stats.minValues.s.x < 3))"))
    assert(rw("s.y.z = 7") == Some(s"(${g("s.y.z")} AND " +
      "((__stats.minValues.s.y.z <= 7) AND (__stats.maxValues.s.y.z >= 7)))"))
    assert(rw("s.x IS NULL") == Some("(__stats.nullCount.s.x > 0L)"))
    assert(rw("s.q < 3").isEmpty)     // unknown nested leaf -> kept
  }

  test("NOT(=) skips only when min = max = literal (exact types)") {
    assert(rw("NOT (a = 3)") == Some(s"(${g("a")} AND " +
      "(NOT ((__stats.minValues.a = 3) AND (__stats.maxValues.a = 3))))"))
    // truncated stats (strings/timestamps) cannot prove all-equal
    assert(rw("NOT (b = 'x')").isEmpty)
  }

  test("IS DISTINCT FROM admits null rows or unequal values") {
    assert(rw("a IS DISTINCT FROM 3") == Some(
      "((__stats.nullCount.a > 0L) OR (NOT ((__stats.minValues.a = 3) " +
        "AND (__stats.maxValues.a = 3))))"))
    assert(rw("a IS DISTINCT FROM NULL") ==
      Some("(__stats.nullCount.a < __stats.numRecords)"))
    assert(rw("a IS NOT DISTINCT FROM 3") == Some(s"(${g("a")} AND " +
      "((__stats.minValues.a <= 3) AND (__stats.maxValues.a >= 3)))"))
    assert(rw("a IS NOT DISTINCT FROM NULL") ==
      Some("(__stats.nullCount.a > 0L)"))
  }

  test("statsSchema mirrors struct nesting and prunes empty structs") {
    import org.apache.spark.sql.types._
    val data = StructType(Seq(
      StructField("a", LongType),
      StructField("s", StructType(Seq(
        StructField("x", IntegerType),
        StructField("bin", BinaryType)))),
      StructField("allbin", StructType(Seq(
        StructField("b1", BinaryType))))))
    val st = DataSkipping.statsSchema(data)
    val mm = st("minValues").dataType.asInstanceOf[StructType]
    assert(mm.fieldNames.toSeq == Seq("a", "s"))
    assert(mm("s").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("x")) // binary leaf pruned
    val nc = st("nullCount").dataType.asInstanceOf[StructType]
    assert(nc("s").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("x", "bin")) // nullCount keeps all leaves
    assert(DataSkipping.eligiblePaths(data) ==
      Set(Seq("a"), Seq("s", "x")))
  }

  test("comparison rewrites") {
    assert(rw("a < 3") == Some(s"(${g("a")} AND (__stats.minValues.a < 3))"))
    assert(rw("a > 3") == Some(s"(${g("a")} AND (__stats.maxValues.a > 3))"))
    assert(rw("3 > a") == Some(s"(${g("a")} AND (__stats.minValues.a < 3))"))
    assert(rw("a >= 3") ==
      Some(s"(${g("a")} AND (__stats.maxValues.a >= 3))"))
    assert(rw("a = 3") == Some(s"(${g("a")} AND " +
      "((__stats.minValues.a <= 3) AND (__stats.maxValues.a >= 3)))"))
  }

  test("null checks use nullCount/numRecords") {
    assert(rw("a IS NULL") == Some("(__stats.nullCount.a > 0L)"))
    assert(rw("a IS NOT NULL") ==
      Some("(__stats.nullCount.a < __stats.numRecords)"))
  }

  test("AND drops unknown side, OR requires both") {
    assert(rw("a < 3 AND some_udf(c) = 1") ==
      Some(s"(${g("a")} AND (__stats.minValues.a < 3))"))
    assert(rw("a < 3 OR some_udf(c) = 1").isEmpty)
    assert(rw("a < 3 OR b > 5") ==
      Some(s"((${g("a")} AND (__stats.minValues.a < 3)) OR " +
        s"(${g("b")} AND (__stats.maxValues.b > 5)))"))
  }

  test("NOT pushes down with inversion") {
    assert(rw("NOT (a >= 3)") ==
      Some(s"(${g("a")} AND (__stats.minValues.a < 3))"))
  }

  test("ineligible column is unknown -> kept") {
    assert(rw("c < 3").isEmpty)
  }
}

/** Write-time stats validation (reference
  * transaction/stats_verifier.rs).
  */
class StatsVerifierSpec extends AnyFunSuite {
  import org.apache.spark.sql.types._
  private val schema = StructType(Seq(
    StructField("a", LongType), StructField("s", StringType),
    StructField("t", TimestampType)))

  private def v(json: String) = StatsVerifier.verify(json, schema)

  test("valid stats pass") {
    assert(v("""{"numRecords":10,"minValues":{"a":1,"t":"2026-01-01T00:00:00.000Z"},
      "maxValues":{"a":9,"t":"2026-02-01T00:00:00.000Z"},
      "nullCount":{"a":0,"s":10}}""").isEmpty)
    assert(v("""{"numRecords":0,"minValues":{},"maxValues":{},"nullCount":{}}""").isEmpty)
  }

  test("violations are caught before commit") {
    assert(v("""not json""").exists(_.contains("not valid JSON")))
    assert(v("""{"minValues":{}}""").exists(_.contains("numRecords")))
    assert(v("""{"numRecords":-1}""").exists(_.contains("negative")))
    assert(v("""{"numRecords":5,"nullCount":{"a":6}}""")
      .exists(_.contains("outside [0, 5]")))
    assert(v("""{"numRecords":5,"nullCount":{"zz":1}}""")
      .exists(_.contains("unknown column")))
    assert(v("""{"numRecords":5,"minValues":{"a":9},"maxValues":{"a":1}}""")
      .exists(_.contains(">")))
    assert(v("""{"numRecords":5,
      "minValues":{"t":"2026-02-01T00:00:00.000Z"},
      "maxValues":{"t":"2026-01-01T00:00:00.000Z"}}""")
      .exists(_.contains(">")))
  }

  test("plain-string bounds are not falsely rejected (truncation " +
      "tie-breakers order by code point)") {
    assert(v("""{"numRecords":5,"minValues":{"s":"zz"},
      "maxValues":{"s":"aa"}}""").isEmpty)
  }
}

class ColumnMappingValidationSpec extends AnyFunSuite {
  private def annotated(name: String, id: Long): StructField =
    StructField(name, LongType, metadata = new MetadataBuilder()
      .putString(ColumnMapping.PHYS_NAME_KEY, s"col-$id")
      .putLong(ColumnMapping.ID_KEY, id).build())

  test("id/name mode requires annotations on every field, nested " +
      "included; none mode tolerates stale ones") {
    val full = StructType(Seq(annotated("a", 1),
      StructField("s", StructType(Seq(annotated("x", 2))),
        metadata = new MetadataBuilder()
          .putString(ColumnMapping.PHYS_NAME_KEY, "col-3")
          .putLong(ColumnMapping.ID_KEY, 3).build())))
    ColumnMapping.validateSchemaAnnotations(full, "name")
    ColumnMapping.validateSchemaAnnotations(full, "id")
    // stale annotations in none mode are IGNORED (reference
    // StaleAnnotationPolicy::Ignore) — downgraded tables keep reading
    ColumnMapping.validateSchemaAnnotations(full, "none")

    val missingTop = StructType(Seq(StructField("a", LongType)))
    val e1 = intercept[IllegalArgumentException] {
      ColumnMapping.validateSchemaAnnotations(missingTop, "name")
    }
    assert(e1.getMessage.contains("'a'"))

    val missingNested = StructType(Seq(annotated("a", 1),
      StructField("s", StructType(Seq(StructField("x", LongType))),
        metadata = new MetadataBuilder()
          .putString(ColumnMapping.PHYS_NAME_KEY, "col-3")
          .putLong(ColumnMapping.ID_KEY, 3).build())))
    val e2 = intercept[IllegalArgumentException] {
      ColumnMapping.validateSchemaAnnotations(missingNested, "id")
    }
    assert(e2.getMessage.contains("s.x"))
    ColumnMapping.validateSchemaAnnotations(missingNested, "none")
  }
}
