package graft.delta

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The reference's golden-table corpus
  * (kernel/tests/golden_data/<name>.tar.zst, adapted from
  * delta-io/delta; driven by
  * kernel/tests/integration/golden_tables.rs): each archive holds a
  * `delta/` table and an `expected/` parquet answer. A full-scan of the
  * table through OUR engine must row-for-row equal the expected data —
  * the reference's own acceptance bar, across ~70 positive tables, plus
  * its negative (must-fail) cases. Where the reference skips a table
  * for its own limitations (id-mode column mapping, canonicalized
  * paths, delete-re-add) we attempt it anyway.
  */
class GoldenTablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fixture(name: String) = ReferenceCorpus.golden(name)

  /** Canonical sorted row renderings: cast to the expected schema
    * (nullability/precision normalization), sort map entries, render
    * JSON. Matches golden_tables.rs assert_eq semantics: names + values,
    * nullability and field metadata ignored.
    */
  private def canon(df: DataFrame, target: StructType): Seq[String] = {
    val projected = df.select(target.fields.toIndexedSeq.map { f =>
      F.col(s"`${f.name}`").cast(f.dataType).as(f.name)
    }: _*)
    val mapsSorted = projected.select(target.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case _: MapType =>
          sort_array(map_entries(F.col(s"`${f.name}`"))).as(f.name)
        case _ => F.col(s"`${f.name}`")
      }
    }: _*)
    mapsSorted.toJSON.collect().sorted.toSeq
  }

  private def assertMatchesExpected(name: String,
      dropCols: Seq[String] = Nil): Unit = {
    val root = fixture(name)
    val table = root.resolve("delta").toString
    val expectedDir = root.resolve("expected")
    val expected = spark.read.parquet(expectedDir.toString)
      .drop(dropCols: _*)
    val actual = DeltaTable.forPath(spark, table).toDF
      .drop(dropCols: _*)
    assert(actual.columns.sorted.toSeq == expected.columns.sorted.toSeq,
      s"$name: column sets differ: ${actual.columns.toSeq} vs " +
        s"${expected.columns.toSeq}")
    val exp = canon(expected, expected.schema)
    val act = canon(actual, expected.schema)
    assert(act.size == exp.size,
      s"$name: row counts differ (${act.size} vs ${exp.size})")
    act.zip(exp).zipWithIndex.find { case ((a, e), _) => a != e }
      .foreach { case ((a, e), i) =>
        fail(s"$name: first row mismatch at sorted index $i:\n  got $a\n  exp $e")
      }
  }

  // golden_tables.rs golden_test! list (latest_snapshot_test cases)
  private val positive = Seq(
    "124-decimal-decode-bug", "125-iterator-bug",
    "basic-decimal-table", "basic-decimal-table-legacy",
    "basic-with-inserts-deletes-checkpoint", "basic-with-inserts-merge",
    "basic-with-inserts-overwrite-restore", "basic-with-inserts-updates",
    "basic-with-vacuum-protocol-check-feature",
    "corrupted-last-checkpoint-kernel",
    "data-reader-array-complex-objects", "data-reader-array-primitives",
    "data-reader-date-types-America", "data-reader-date-types-Asia",
    "data-reader-date-types-Etc", "data-reader-date-types-Iceland",
    "data-reader-date-types-Jst", "data-reader-date-types-Pst",
    "data-reader-date-types-utc", "data-reader-escaped-chars",
    "data-reader-map", "data-reader-nested-struct",
    "data-reader-nullable-field-invalid-schema-key",
    "data-reader-primitives", "data-reader-timestamp_ntz",
    "data-reader-timestamp_ntz-id-mode",
    "data-reader-timestamp_ntz-name-mode",
    "data-skipping-basic-stats-all-types",
    "data-skipping-basic-stats-all-types-checkpoint",
    "data-skipping-basic-stats-all-types-columnmapping-name",
    "data-skipping-change-stats-collected-across-versions",
    "data-skipping-partition-and-data-column",
    "decimal-various-scale-precision",
    "deltalog-getChanges",
    "dv-partitioned-with-checkpoint", "dv-with-columnmapping",
    "kernel-timestamp-int96", "kernel-timestamp-pst",
    "kernel-timestamp-timestamp_micros",
    "kernel-timestamp-timestamp_millis",
    "log-replay-dv-key-cases", "log-replay-latest-metadata-protocol",
    "log-replay-special-characters", "log-replay-special-characters-a",
    "multi-part-checkpoint", "only-checkpoint-files",
    // (parquet-decimal-dictionaries-v1 is in the reference's test list
    // but has no archive in golden_data — only plain and -v2 exist)
    "parquet-decimal-dictionaries",
    "parquet-decimal-dictionaries-v2", "parquet-decimal-type",
    "snapshot-data0", "snapshot-data1", "snapshot-data2",
    "snapshot-data2-deleted", "snapshot-data3", "snapshot-repartitioned",
    "snapshot-vacuumed",
    "table-with-columnmapping-mode-name", "table-with-columnmapping-mode-id",
    "time-travel-partition-changes-a", "time-travel-partition-changes-b",
    "time-travel-schema-changes-a", "time-travel-schema-changes-b",
    "time-travel-start", "time-travel-start-start20",
    "time-travel-start-start20-start40",
    "v2-checkpoint-json", "v2-checkpoint-parquet")

  positive.foreach { name =>
    test(s"golden: $name") { assertMatchesExpected(name) }
  }

  // tables the REFERENCE skips but we read
  // (golden_tables.rs:332 "id column mapping mode not supported")
  test("golden (reference skips, we read): " +
      "data-skipping-basic-stats-all-types-columnmapping-id") {
    assertMatchesExpected(
      "data-skipping-basic-stats-all-types-columnmapping-id")
  }

  test("golden (reference skips, we read): data-reader-partition-values " +
      "minus the known-bad as_timestamp column") {
    // golden_tables.rs:320 skips the whole table because the golden
    // expected value for as_timestamp is wrong; every OTHER partition
    // value type (14 columns incl. decimal, date, nested structs) must
    // still round-trip exactly
    assertMatchesExpected("data-reader-partition-values",
      dropCols = Seq("as_timestamp"))
  }

  test("golden (reference skips, we read): delete-re-add-same-file-" +
      "different-transactions replays to {foo@v2, bar}") {
    // log-only fixture (no expected/): v0 add foo, v1 remove foo,
    // v2 re-add foo, v3 add bar — newest-wins replay keeps both
    // (golden_tables.rs:422 skips this as "not yet implemented")
    val root = fixture("delete-re-add-same-file-different-transactions")
    val t = DeltaTable.forPath(spark, root.resolve("delta").toString)
    val adds = new DeltaScan(t.snapshot(), None).collectAddFiles()
    assert(adds.map(_.path).sorted == Seq("bar", "foo"))
  }

  test("golden (reference skips, we read): log-replay-special-" +
      "characters-b keeps the URI-encoded path") {
    // one add with path "special%20p@%23h" (decoded "special p@#h");
    // replay must keep the encoded form intact
    // (golden_tables.rs:426 skips this as "not yet implemented")
    val root = fixture("log-replay-special-characters-b")
    val t = DeltaTable.forPath(spark, root.resolve("delta").toString)
    val adds = new DeltaScan(t.snapshot(), None).collectAddFiles()
    assert(adds.map(_.path) == Seq("special%20p@%23h"))
  }

  test("golden: checkpoint resolves v14 through its checkpoint") {
    // golden_tables.rs checkpoint_test: version 14, all state from the
    // checkpoint (one scan-metadata batch = a single live file)
    val root = fixture("checkpoint")
    val t = DeltaTable.forPath(spark, root.resolve("delta").toString)
    val snap = t.snapshot()
    assert(snap.version == 14L)
    assert(new DeltaScan(snap, None).collectAddFiles().size == 1)
  }

  test("golden: canonicalized paths resolve to v1 with zero live files " +
      "(reference has these behind a BUG skip)") {
    // canonicalized_paths_test: an add at v0 removed at v1 under a
    // differently-canonicalized path must leave no live files
    Seq("canonicalized-paths-normal-a", "canonicalized-paths-normal-b",
        "canonicalized-paths-special-a", "canonicalized-paths-special-b")
      .foreach { name =>
        val root = fixture(name)
        val t = DeltaTable.forPath(spark, root.resolve("delta").toString)
        val snap = t.snapshot()
        assert(snap.version == 1L, name)
        assert(new DeltaScan(snap, None).collectAddFiles().isEmpty, name)
      }
  }

  // negative_test! list: malformed logs must fail loudly, never read
  // as empty/partial data
  private val negative = Seq(
    "deltalog-invalid-protocol-version",
    "deltalog-state-reconstruction-from-checkpoint-missing-metadata",
    "deltalog-state-reconstruction-from-checkpoint-missing-protocol",
    "deltalog-state-reconstruction-without-metadata",
    "deltalog-state-reconstruction-without-protocol",
    "no-delta-log-folder",
    "versions-not-contiguous")

  negative.foreach { name =>
    test(s"golden negative: $name fails loudly") {
      val root = fixture(name)
      intercept[Exception] {
        DeltaTable.forPath(spark, root.resolve("delta").toString)
          .toDF.collect()
      }
    }
  }
}
