package graft.delta

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Interop with the reference's COMPRESSED fixture tables (tar.zst —
  * extracted into target/tmp): CDF, compacted logs, V2 checkpoints,
  * timestamp partition values. Expected contents come from the
  * reference's own integration tests
  * (kernel/tests/integration/features/cdf.rs,
  * integration/read/mod.rs, integration/log/v2_checkpoints.rs) — the
  * "match the reference's results on its own test queries" bar.
  */
class InteropArchiveSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Extract (once) and return the table path. */
  private def fixture(name: String): String =
    ReferenceCorpus.dataArchive(name).toString

  test("unshredded-variant: the reference's variant fixture decodes " +
      "across all nesting shapes") {
    val path = fixture("unshredded-variant")
    val t = DeltaTable.forPath(spark, path)
    val df = t.toDF
    // 100 CTAS rows + re-appended ids 0 and 1 (matches
    // unshredded-variant.expected.in, 102 data rows)
    assert(df.count() == 102)

    // every row's v decodes to {"key": id} (expected.in renders the raw
    // bytes: metadata 010100036b6579 = dict ["key"], value = int8 id)
    val vBad = df.select(col("id"), to_json(col("v")).as("j")).collect()
      .filter(r => r.getString(1) != s"""{"key":${r.getLong(0)}}""")
    assert(vBad.isEmpty, vBad.take(3).mkString(", "))

    // nested shapes for one row, matching the expected.in layout:
    // array [v, null, v, ...], struct {v}, map {"<id>"->v, nullKey->null},
    // struct_of_array {v: [null, v]}
    val r = df.filter(col("id") === 57)
      .select(
        to_json(element_at(col("array_of_variants"), 1)).as("a1"),
        element_at(col("array_of_variants"), 2).isNull.as("a2null"),
        to_json(col("struct_of_variants.v")).as("sv"),
        to_json(element_at(col("map_of_variants"), "57")).as("m57"),
        element_at(col("map_of_variants"), "nullKey").isNull.as("mNull"),
        to_json(col("array_of_struct_of_variants")(0).getField("v"))
          .as("asv"),
        element_at(col("struct_of_array_of_variants.v"), 1).isNull
          .as("sav0null"),
        to_json(element_at(col("struct_of_array_of_variants.v"), 2))
          .as("sav1"))
      .collect().head
    assert(r.getAs[String]("a1") == """{"key":57}""")
    assert(r.getAs[Boolean]("a2null"))
    assert(r.getAs[String]("sv") == """{"key":57}""")
    assert(r.getAs[String]("m57") == """{"key":57}""")
    assert(r.getAs[Boolean]("mNull"))
    assert(r.getAs[String]("asv") == """{"key":57}""")
    assert(r.getAs[Boolean]("sav0null"))
    assert(r.getAs[String]("sav1") == """{"key":57}""")
  }

  test("cdf x column mapping: name mode, name mode on 3/7, id mode") {
    // reference features/cdf.rs cdf_with_column_mapping_* — CDF enabled
    // at v1, so ranges start there
    val nameModeExpected = Seq(
      (1L, "Alice", 100.0, "delete", 4L),
      (2L, "Bob", 200.0, "update_preimage", 2L),
      (2L, "Bob", 250.0, "update_postimage", 2L),
      (4L, "David", 400.0, "insert", 3L)).sorted
    Seq(
      "cdf-column-mapping-name-mode" -> nameModeExpected,
      "cdf-column-mapping-name-mode-3-7" -> nameModeExpected,
      "cdf-column-mapping-id-mode" -> Seq(
        (2L, "Frank", 250.0, "update_preimage", 2L),
        (2L, "Frank", 275.0, "update_postimage", 2L),
        (3L, "Grace", 350.0, "delete", 4L),
        (4L, "Henry", 450.0, "insert", 3L)).sorted
    ).foreach { case (name, expected) =>
      val got = TableChanges.read(spark, fixture(name), 1, None)
        .select(col("id").cast("long"), col("name"),
          col("value").cast("double"), col("_change_type"),
          col("_commit_version"))
        .as[(Long, String, Double, String, Long)].collect().sorted.toSeq
      assert(got == expected, name)
    }
  }

  test("cdf delete patterns + dataChange=false commits are invisible") {
    // reference features/cdf.rs conditional_delete_* /
    // false_data_change_is_ignored
    def feed(name: String, lo: Long, hi: Option[Long]) =
      TableChanges.read(spark, fixture(name), lo, hi)
        .select(col("id").cast("long"), col("_change_type"),
          col("_commit_version"))
        .as[(Long, String, Long)].collect().sorted.toSeq
    assert(feed("cdf-table-delete-conditional-all-rows", 0, None) ==
      ((0L to 9L).map(i => (i, "insert", 0L)) ++
        (0L to 9L).map(i => (i, "delete", 1L))).sorted)
    assert(feed("cdf-table-delete-conditional-two-rows", 0, None) ==
      ((0L to 9L).map(i => (i, "insert", 0L)) ++
        Seq((2L, "delete", 1L), (8L, "delete", 1L))).sorted)
    assert(feed("cdf-table-data-change", 0, Some(1)) ==
      (0L to 9L).map(i => (i, "insert", 0L)).sorted)
  }

  test("cdf-table-partitioned: partition column flows through the feed") {
    // reference features/cdf.rs partition_table over [0, 2]
    val got = TableChanges.read(spark, fixture("cdf-table-partitioned"),
        0, Some(2))
      .select(col("id").cast("long"), col("text"),
        col("part").cast("long"), col("_change_type"),
        col("_commit_version"))
      .as[(Long, String, Long, String, Long)].collect().sorted.toSeq
    val expected = (
      Seq(0L, 2L, 4L).map(i => (i, "old", 0L, "insert", 0L)) ++
      Seq(1L, 3L, 5L).map(i => (i, "old", 1L, "insert", 0L)) ++
      Seq((3L, "old", 1L, "delete", 1L),
        (1L, "old", 1L, "update_preimage", 1L),
        (1L, "new", 1L, "update_postimage", 1L)) ++
      Seq(0L, 2L, 4L).map(i => (i, "old", 0L, "delete", 2L))).sorted
    assert(got == expected)
  }

  test("cdf-table-with-dv: the full DV restore/remove change feed") {
    // reference features/cdf.rs cdf_with_dv — commits: insert 0..9;
    // remove [0,9]; restore [0,9]; remove [0,1,4,5]; restore [1,4];
    // restore [0,5] + remove [3]; restore [3]
    val path = fixture("cdf-table-with-dv")
    val got = TableChanges.read(spark, path, 0, None)
      .select(col("value").cast("long"), col("_change_type"),
        col("_commit_version"))
      .as[(Long, String, Long)].collect().sorted.toSeq
    val expected = (
      (0L to 9L).map(v => (v, "insert", 0L)) ++
      Seq((0L, "delete", 1L), (9L, "delete", 1L)) ++
      Seq((0L, "insert", 2L), (9L, "insert", 2L)) ++
      Seq(0L, 1L, 4L, 5L).map(v => (v, "delete", 3L)) ++
      Seq((1L, "insert", 4L), (4L, "insert", 4L)) ++
      Seq((3L, "delete", 5L), (0L, "insert", 5L), (5L, "insert", 5L)) ++
      Seq((3L, "insert", 6L))).sorted
    assert(got == expected)
  }

  test("cdf-table-update-ops: cdc files carry writer-native change types") {
    // reference features/cdf.rs update_operations over [0, 2]
    val path = fixture("cdf-table-update-ops")
    val got = TableChanges.read(spark, path, 0, Some(2))
      .select(col("id").cast("long"), col("_change_type"),
        col("_commit_version"))
      .as[(Long, String, Long)].collect().sorted.toSeq
    val expected = (
      (0L to 9L).map(i => (i, "insert", 0L)) ++
      (20L to 24L).map(i => (i, "update_pre", 1L)) ++
      (30L to 34L).map(i => (i, "update_post", 2L))).sorted
    assert(got == expected)
  }

  test("cdf-table-backtick-column-names: dots and backticks in column " +
      "names survive the whole pipeline") {
    // reference features/cdf.rs backtick_column_names: columns are
    // literally named "id.num" and "id.num`s"; struct fields "field"
    // and "field.one"
    val path = fixture("cdf-table-backtick-column-names")
    val cdf = TableChanges.read(spark, path, 0, None)
    assert(cdf.columns.toSeq.take(3) ==
      Seq("id.num", "id.num`s", "struct_col"))
    val got = cdf.select(
        col("`id.num`").cast("long"),
        col("`id.num``s`").cast("long"),
        col("struct_col.field").cast("long"),
        col("struct_col.`field.one`").cast("long"),
        col("_change_type"), col("_commit_version"))
      .as[(Long, Long, Long, Long, String, Long)].collect().sorted.toSeq
    val expected = (
      Seq(2L, 4L).map(i => (i, 10L, 1L, 2L, "insert", 0L)) ++
      Seq(1L, 3L, 5L).map(i => (i, 10L, 1L, 2L, "insert", 1L))).sorted
    assert(got == expected)
  }

  test("cdf-table-delete-unconditional: an unconditional DELETE feeds " +
      "10 deletes") {
    // reference features/cdf.rs unconditional_delete
    val got = TableChanges.read(spark,
        fixture("cdf-table-delete-unconditional"), 0, None)
      .select(col("id").cast("long"), col("_change_type"),
        col("_commit_version"))
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(got ==
      ((0L to 9L).map(i => (i, "insert", 0L)) ++
        (0L to 9L).map(i => (i, "delete", 1L))).sorted)
  }

  test("cdf-table-non-partitioned: the full 7-column feed matches the " +
      "reference row for row") {
    // reference features/cdf.rs cdf_non_partitioned (27 rows over v0..v4)
    val got = TableChanges.read(spark,
        fixture("cdf-table-non-partitioned"), 0, None)
      .select(col("id").cast("long"), col("name"),
        col("birthday").cast("string"), col("long_field"),
        col("boolean_field"), col("double_field"),
        col("smallint_field").cast("int"), col("_change_type"),
        col("_commit_version"))
      .as[(Long, String, String, Long, Boolean, Double, Int, String, Long)]
      .collect().sorted.toSeq
    val people0 = Seq(
      (1L, "Steve", "2024-04-14", 1L), (2L, "Bob", "2024-04-15", 1L),
      (3L, "Dave", "2024-04-15", 2L), (4L, "Kate", "2024-04-15", 3L),
      (5L, "Emily", "2024-04-16", 4L), (6L, "Carl", "2024-04-16", 5L),
      (7L, "Dennis", "2024-04-16", 6L), (8L, "Claire", "2024-04-17", 7L),
      (9L, "Ada", "2024-04-17", 8L),
      (10L, "Borb", "2024-04-17", 99999999999999999L))
    def row(id: Long, name: String, bday: String, lf: Long, ct: String,
        cv: Long) = (id, name, bday, lf, true, 3.14, 1, ct, cv)
    val inserts0 = people0.map { case (i, n, b, l) =>
      row(i, n, b, l, "insert", 0L) }
    val upd1 = Seq((2L, "Bob", 1L), (3L, "Dave", 2L), (4L, "Kate", 3L))
      .flatMap { case (i, n, l) => Seq(
        row(i, n, "2024-04-15", l, "update_preimage", 1L),
        row(i, n, "2024-04-14", l, "update_postimage", 1L)) }
    val upd2 = Seq((5L, "Emily", 4L), (6L, "Carl", 5L), (7L, "Dennis", 6L))
      .flatMap { case (i, n, l) => Seq(
        row(i, n, "2024-04-16", l, "update_preimage", 2L),
        row(i, n, "2024-04-14", l, "update_postimage", 2L)) }
    val expected = (inserts0 ++ upd1 ++ upd2 ++ Seq(
      row(7L, "Dennis", "2024-04-14", 6L, "delete", 3L),
      row(1L, "Alex", "2024-04-14", 1L, "insert", 4L),
      row(2L, "Alan", "2024-04-15", 1L, "insert", 4L))).sorted
    assert(got == expected)
  }

  test("cdf-table-simple: per-version CDF matches the reference's expectations") {
    val path = fixture("cdf-table-simple")
    def cdf(lo: Long, hi: Long): Seq[(Long, String, Long)] =
      TableChanges.read(spark, path, lo, Some(hi))
        .select(col("id").cast("long"), col("_change_type"),
          col("_commit_version"))
        .as[(Long, String, Long)].collect().sorted.toSeq

    assert(cdf(0, 0) == (0L to 9L).map(i => (i, "insert", 0L)))
    assert(cdf(1, 1) == (0L to 9L).map(i => (i, "delete", 1L)))
    assert(cdf(2, 2) == (20L to 24L).map(i => (i, "insert", 2L)))
    assert(cdf(0, 2) ==
      ((0L to 9L).map(i => (i, "insert", 0L)) ++
        (0L to 9L).map(i => (i, "delete", 1L)) ++
        (20L to 24L).map(i => (i, "insert", 2L))).sorted)
  }

  test("compacted-log-files-table: reads through real compacted files") {
    val t = DeltaTable.forPath(spark, fixture("compacted-log-files-table"))
    val got = t.toDF.select(col("id").cast("long"), col("comment"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got == Set(
      (0L, Some("new")),
      (1L, Some("after-large-delete")),
      (2L, Some("")), // pretty-printed blank in the reference = ""
      (10L, Some("merge1-insert")),
      (12L, Some("merge2-insert"))))
  }

  test("v2 checkpoints with sidecars (json + parquet): 1233 rows") {
    Seq("v2-checkpoints-json-with-sidecars",
        "v2-checkpoints-parquet-with-sidecars").foreach { name =>
      val t = DeltaTable.forPath(spark, fixture(name))
      val snap = t.snapshot()
      assert(snap.segment.isV2Checkpoint, name)
      val df = t.toDF
      assert(df.count() == 1233, name) // 3x{0} + 30 + 100 + 100 + 1000
      assert(df.agg(max(col("id").cast("long"))).head.getLong(0) == 999L,
        name)
    }
  }

  test("v2 checkpoints without sidecars (json + parquet): ids 0..9, 2718") {
    Seq("v2-checkpoints-json-without-sidecars",
        "v2-checkpoints-parquet-without-sidecars").foreach { name =>
      val t = DeltaTable.forPath(spark, fixture(name))
      val ids = t.toDF.select(col("id").cast("long"))
        .as[Long].collect().sorted.toSeq
      assert(ids == ((0L to 9L) :+ 2718L), name)
    }
  }

  test("v2 classic checkpoints (json + parquet): ids 0..19") {
    // reference log/v2_checkpoints.rs v2_classic_checkpoint_*
    Seq("v2-classic-checkpoint-json", "v2-classic-checkpoint-parquet")
      .foreach { name =>
        val t = DeltaTable.forPath(spark, fixture(name))
        assert(t.toDF.select("id").collect()
          .map(_.getLong(0)).toSet == (0L to 19L).toSet, name)
      }
  }

  test("v2 checkpoints named via _last_checkpoint (json + parquet)") {
    // reference log/v2_checkpoints.rs *_with_last_checkpoint: ids 0..9
    Seq("v2-checkpoints-json-with-last-checkpoint",
        "v2-checkpoints-parquet-with-last-checkpoint").foreach { name =>
      val t = DeltaTable.forPath(spark, fixture(name))
      assert(t.toDF.select("id").collect()
        .map(_.getLong(0)).toSet == (0L to 9L).toSet, name)
    }
  }

  test("timestamp-partitioned-table: ':' in partition dir, 1 row") {
    val t = DeltaTable.forPath(spark, fixture("timestamp-partitioned-table"))
    val rows = t.toDF.collect()
    assert(rows.length == 1)
    val r = t.toDF.selectExpr("id", "cast(time as string) as ts").head
    assert(r.getAs[Any]("id").toString == "1")
    assert(r.getAs[String]("ts").startsWith("1971-07-22 03:06:40"))
  }

  test("cdf-table (partitioned by date): full-range CDF reads clean") {
    val path = fixture("cdf-table")
    val latest = Snapshot.forTable(spark, path).version
    val cdf = TableChanges.read(spark, path, 0, Some(latest))
    assert(cdf.count() > 0)
    val types = cdf.select("_change_type").distinct()
      .as[String].collect().toSet
    assert(types.subsetOf(Set("insert", "delete",
      "update_preimage", "update_postimage")))
    // partition column flows into CDF rows
    assert(cdf.filter(col("birthday").isNull).count() == 0)
  }

  test("cdf-table-with-cdc-and-dvs: the full mixed cdc/DV change feed") {
    // exact expectation from the reference's own test
    // (integration/features/cdf.rs:187-238); comment nullness is not
    // distinguishable in its pretty-printed table, so rows compare on
    // (id, change, version) and comments on the unambiguous subset
    val path = fixture("cdf-table-with-cdc-and-dvs")
    val latest = Snapshot.forTable(spark, path).version
    val cdf = TableChanges.read(spark, path, 0, Some(latest))
      .select(col("id").cast("long"), col("comment"),
        col("_change_type"), col("_commit_version"))
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        r.getString(2), r.getLong(3)))

    val expected = Seq(
      (1L, "initial", "insert", 0L), (2L, "insert1", "insert", 1L),
      (3L, "insert1-delete1", "insert", 1L),
      (4L, "insert1-delete2", "insert", 1L),
      (5L, "insert1-delete2", "insert", 1L),
      (3L, "insert1-delete1", "delete", 2L),
      (3L, "insert1-delete1", "insert", 4L),
      (4L, "insert1-delete2", "delete", 5L),
      (5L, "insert1-delete2", "delete", 5L),
      (4L, "insert1-delete2", "insert", 7L),
      (5L, "insert2", "insert", 8L),
      (1L, "initial", "update_preimage", 9L),
      (1L, "update1", "update_postimage", 9L),
      (2L, "insert1", "update_preimage", 9L),
      (2L, "update1", "update_postimage", 9L),
      (3L, "insert1-delete1", "update_preimage", 9L),
      (3L, "update1", "update_postimage", 9L),
      (1L, "update1", "delete", 10L),
      (2L, "update1", "update_preimage", 12L),
      (2L, "update2", "update_postimage", 12L),
      (6L, "insert3", "insert", 14L), (7L, "insert3", "insert", 14L),
      (8L, "insert4", "insert", 15L), (9L, "insert4", "insert", 15L),
      (8L, "insert4", "delete", 16L), (7L, "insert3", "delete", 16L),
      (10L, "merge1-insert", "insert", 18L),
      (11L, "merge1-insert", "insert", 18L),
      (9L, "merge1-update", "update_postimage", 18L),
      (9L, "insert4", "update_preimage", 18L),
      (11L, "merge1-insert", "update_preimage", 20L),
      (11L, "", "update_postimage", 20L),
      (12L, "merge2-insert", "insert", 22L),
      (11L, "", "delete", 22L),
      (3L, "update1", "delete", 24L),
      (4L, "insert1-delete2", "delete", 24L),
      (5L, "insert2", "delete", 24L), (2L, "update2", "delete", 24L),
      (6L, "insert3", "delete", 24L),
      (9L, "merge1-update", "delete", 24L),
      (0L, "new", "insert", 25L),
      (1L, "after-large-delete", "insert", 25L),
      (2L, "", "insert", 25L))

    // triple comparison (exact multiset)
    assert(cdf.map(r => (r._1, r._3, r._4)).sorted.toSeq ==
      expected.map(e => (e._1, e._3, e._4)).sorted)
    // comments for the unambiguous (non-blank) rows
    val gotByKey = cdf.groupBy(r => (r._1, r._3, r._4))
      .view.mapValues(_.map(_._2).toSet).toMap
    expected.filter(_._2.nonEmpty).foreach { e =>
      val got = gotByKey((e._1, e._3, e._4))
      assert(got.contains(Some(e._2)),
        s"row (${e._1},${e._3},${e._4}): got $got want ${e._2}")
    }
  }
}
