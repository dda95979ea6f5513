package graft.delta

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Interop: read REAL Delta tables written by Spark/delta-rs from the
  * reference's public test corpus (/root/reference/kernel/tests/data —
  * used as INPUT DATA only; expectations come from the corpus catalog,
  * kernel/tests/README.md). This is the cross-engine evidence that the
  * log replay, DV decoding, partition-value parsing, stats handling and
  * feature gates match tables our own writer never produced.
  */
class InteropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def base: String = ReferenceCorpus.dataDir

  test("table-with-dv-small: 10 rows, 2 soft-deleted by a real DV") {
    val t = DeltaTable.forPath(spark, s"$base/table-with-dv-small")
    val snap = t.snapshot()
    assert(snap.protocol.readerFeatures.get.contains("deletionVectors"))
    assert(t.toDF.count() == 8)
    assert(snap.schema.fieldNames.toSeq == Seq("value"))
  }

  test("table-without-dv-small: all 10 rows visible") {
    val t = DeltaTable.forPath(spark, s"$base/table-without-dv-small")
    assert(t.toDF.count() == 10)
  }

  test("with-short-dv: inline-file DV deletes 3 of 10 rows") {
    val t = DeltaTable.forPath(spark, s"$base/with-short-dv")
    val df = t.toDF
    assert(df.count() == 7)
    assert(df.schema.fieldNames.contains("timestamp"))
  }

  test("basic_partitioned: null partition + pruning + predicates") {
    val t = DeltaTable.forPath(spark, s"$base/basic_partitioned")
    val df = t.toDF
    val letters = df.select("letter").distinct()
      .collect().map(r => Option(r.getString(0))).toSet
    assert(letters == Set(Some("a"), Some("b"), Some("c"), Some("e"), None))
    // partition pruning returns exactly the full-read filter result
    val pruned = t.scan(Some("letter = 'a'")).toDF
    assert(pruned.collect().toSet ==
      df.filter($"letter" === "a").collect().toSet)
    assert(t.scan(Some("letter = 'a'")).collectAddFiles()
      .forall(_.partitionValues("letter") == "a"))
    // data predicate across files
    val n = t.scan(Some("number > 3")).toDF
    assert(n.collect().toSet == df.filter($"number" > 3).collect().toSet)
  }

  test("mixed-nulls: nullCount-driven IS NULL semantics") {
    val t = DeltaTable.forPath(spark, s"$base/mixed-nulls")
    val df = t.toDF
    val nulls = t.scan(Some("n IS NULL")).toDF
    assert(nulls.collect().toSet ==
      df.filter($"n".isNull).collect().toSet)
    val notNulls = t.scan(Some("n IS NOT NULL")).toDF
    assert(notNulls.collect().toSet ==
      df.filter($"n".isNotNull).collect().toSet)
  }

  test("basic-decimal-table: decimal partition values parse exactly") {
    val t = DeltaTable.forPath(spark, s"$base/basic-decimal-table")
    val df = t.toDF
    assert(df.schema("part").dataType == DecimalType(12, 5))
    assert(df.count() > 0)
    // every partition value round-trips through the string map
    val parts = df.select("part").distinct().count()
    assert(parts == t.scan(None).collectAddFiles()
      .map(_.partitionValues("part")).distinct.size)
  }

  test("data-reader-timestamp_ntz: NTZ data + partition columns") {
    val t = DeltaTable.forPath(spark, s"$base/data-reader-timestamp_ntz")
    val df = t.toDF
    assert(df.schema("tsNtz").dataType == TimestampNTZType)
    assert(df.schema("tsNtzPartition").dataType == TimestampNTZType)
    assert(df.count() > 0)
  }

  test("type-widening: widened final schema serves old narrow files") {
    val t = DeltaTable.forPath(spark, s"$base/type-widening")
    val df = t.toDF
    // columns are named after their widening path (e.g. byte_long)
    assert(df.schema("byte_long").dataType == LongType)
    assert(df.schema("float_double").dataType == DoubleType)
    assert(df.count() > 0)
    assert(df.select("byte_long").na.drop().count() > 0)
  }

  test("app-txn-no-checkpoint: SetTransaction idempotency markers") {
    val t = DeltaTable.forPath(spark, s"$base/app-txn-no-checkpoint")
    val txns = t.snapshot().setTransactions
    assert(txns.nonEmpty)
    assert(t.toDF.count() > 0)
  }

  test("timestamp-truncation-stats: Spark-truncated max stat never skips") {
    // one file's real max is 4.000500s but its JSON stat says 4.000s —
    // the max-side floor compensation must keep the file. Probe EVERY
    // distinct timestamp with equality and boundary predicates.
    val t = DeltaTable.forPath(spark, s"$base/timestamp-truncation-stats")
    val df = t.toDF
    val values = df.select("ts_col").na.drop().distinct()
      .collect().map(_.getTimestamp(0))
    assert(values.exists(_.getNanos % 1000000 != 0),
      s"expected sub-millisecond values, got ${values.mkString(",")}")
    values.foreach { v =>
      Seq(s"ts_col = TIMESTAMP '$v'", s"ts_col >= TIMESTAMP '$v'",
        s"ts_col > TIMESTAMP '${new java.sql.Timestamp(v.getTime - 1)}'")
        .foreach { p =>
          val got = t.scan(Some(p)).toDF.collect().toSet
          val want = df.filter(expr(p)).collect().toSet
          assert(got == want, s"predicate '$p' mismatch")
        }
    }
  }

  test("parquet_row_group_skipping + parsed-stats read clean") {
    Seq("parquet_row_group_skipping", "parsed-stats").foreach { name =>
      val t = DeltaTable.forPath(spark, s"$base/$name")
      assert(t.toDF.count() > 0, name)
    }
  }

  test("struct-stats-only checkpoints: typed stats_parsed drives " +
      "skipping (no stats JSON anywhere)") {
    // reference scan_plan/tests.rs declarative_metadata_data_skipping:
    // id > 3 -> 2 files, id = 2 -> 1 file, id <= 0 -> 0 files
    Seq("v1-multi-part-struct-stats-only",
        "v2-json-sidecars-struct-stats-only",
        "v2-parquet-sidecars-struct-stats-only",
        "v2-classic-parquet-struct-stats-only").foreach { name =>
      val t = DeltaTable.forPath(spark, s"$base/$name")
      assert(t.scan(Some("id > 3")).filesDF.count() == 2, name)
      assert(t.scan(Some("id = 2")).filesDF.count() == 1, name)
      assert(t.scan(Some("id <= 0")).filesDF.count() == 0, name)
      // data reads through the '%'-escaped file names
      assert(t.toDF.select("id").collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L, 4L, 5L), name)
      assert(t.scan(Some("id > 3")).toDF.select("value")
        .collect().map(_.getString(0)).toSet ==
        Set("value_4", "value_5"), name)
    }
  }

  test("with_checkpoint_no_last_checkpoint: the listing finds the " +
      "checkpoint without a hint") {
    // reference scan/tests.rs test_scan_with_checkpoint: replay must
    // produce exactly file-70b (checkpoint@2 + commit 3's swap)
    val t = DeltaTable.forPath(spark, s"$base/with_checkpoint_no_last_checkpoint")
    val snap = t.snapshot()
    assert(snap.version == 3L)
    assert(snap.segment.checkpointVersion.contains(2L))
    val files = new DeltaScan(snap, None).collectAddFiles().map(_.path)
    assert(files ==
      Seq("part-00000-70b1dcdf-0236-4f63-a072-124cdbafd8a0-c000.snappy.parquet"))
  }

  test("crc-full parses the reference's rich checksum; crc-malformed " +
      "falls back to None") {
    // reference crc/reader.rs test_read_crc_file expectations
    val conf = spark.sessionState.newHadoopConf()
    val fullDir = new org.apache.hadoop.fs.Path(s"$base/crc-full/_delta_log")
    val fs = Storage.fs(fullDir, conf)
    val full = Checksum.read(fs, fullDir, 0L).get
    assert(full.tableSizeBytes == 5259L)
    assert(full.numFiles == 10L)
    assert(full.protocol.minReaderVersion == 3 &&
      full.protocol.minWriterVersion == 7)
    assert(full.protocol.readerFeatures.get.toSet == Set("deletionVectors"))
    assert(full.protocol.writerFeatures.get.toSet ==
      Set("domainMetadata", "clustering", "deletionVectors", "rowTracking"))
    assert(full.metadata.id == "6ca3020b-3cd9-4048-82e3-1417a0abb98f")
    assert(full.metadata.schema.fieldNames.toSeq == Seq("id"))
    // malformed json -> None, never an exception (the fast path is
    // best-effort; replay takes over)
    val badDir = new org.apache.hadoop.fs.Path(
      s"$base/crc-malformed/_delta_log")
    assert(Checksum.read(Storage.fs(badDir, conf), badDir, 0L).isEmpty)
  }

  test("app-txn-checkpoint: SetTransactions survive the checkpoint") {
    // reference actions/set_transaction.rs test_txn
    val t = DeltaTable.forPath(spark, s"$base/app-txn-checkpoint")
    val txns = t.snapshot().setTransactions
    assert(txns.size == 2)
    assert(txns.exists(_.appId == "my-app"))
    assert(txns.find(_.appId == "my-app2")
      .contains(SetTransaction("my-app2", 2, None)))
  }

  test("app-txn-with-last-updated: lastUpdated round-trips") {
    val t = DeltaTable.forPath(spark, s"$base/app-txn-with-last-updated")
    val txns = t.snapshot().setTransactions
    assert(txns.nonEmpty && txns.exists(_.lastUpdated.isDefined))
  }

  test("external-table-different-nullability: schema-first read wins") {
    val t = DeltaTable.forPath(spark,
      s"$base/external-table-different-nullability")
    val df = t.toDF
    assert(df.schema.fieldNames.toSeq == Seq("i", "j", "k"))
    assert(df.count() > 0)
  }

  test("stats-writing-all-types: footer-derived stats match Spark's " +
      "golden stats across every type") {
    // golden table for write-time stats parity (its README: "validating
    // that collect_stats() produces file statistics matching Spark's
    // output") — recompute our ParquetFooterStats over its data files
    // and compare to the logged stats, per file, per column, per side
    val root = s"$base/stats-writing-all-types/delta"
    val t = DeltaTable.forPath(spark, root)
    assert(t.toDF.count() > 0)
    val conf = spark.sessionState.newHadoopConf()
    val snap = t.snapshot()
    val phys = ColumnMapping.physicalSchema(snap.dataSchema)
    val adds = t.scan(None).collectAddFiles()
    assert(adds.nonEmpty)
    var compared = 0
    adds.foreach { a =>
      val golden = JsonLog.mapper.readTree(a.stats.get)
      val ours = JsonLog.mapper.readTree(ParquetFooterStats.statsJson(
        new org.apache.hadoop.fs.Path(root, Storage.decodeUriPath(a.path)),
        phys, conf))
      assert(ours.get("numRecords") == golden.get("numRecords"), a.path)
      Seq("minValues", "maxValues", "nullCount").foreach { side =>
        ours.path(side).properties().forEach { e =>
          val g = golden.path(side).path(e.getKey)
          if (!g.isMissingNode && !g.isObject) {
            val ok =
              if (e.getValue.isFloatingPointNumber || g.isFloatingPointNumber)
                math.abs(e.getValue.asDouble - g.asDouble) < 1e-9
              else e.getValue.asText == g.asText
            assert(ok,
              s"$side.${e.getKey}: ours=${e.getValue} golden=$g (${a.path})")
            compared += 1
          }
        }
      }
    }
    // ~16 comparable cells per file (timestamp_col is INT96 in this
    // Spark 3.5-written table: its footer stats are junk by spec, so we
    // omit bounds there rather than guess — the one golden key absent
    // from our output)
    assert(compared > 30, s"only $compared stat cells compared")
    // coverage floor: bounds present for every eligible primitive
    val l2p = snap.dataSchema.fields
      .map(f => f.name -> ColumnMapping.physicalName(f)).toMap
    val firstMin = JsonLog.mapper
      .readTree(ParquetFooterStats.statsJson(
        new org.apache.hadoop.fs.Path(root,
          Storage.decodeUriPath(adds.head.path)), phys, conf))
      .path("minValues")
    Seq("byte_col", "short_col", "int_col", "long_col", "float_col",
        "double_col", "date_col", "string_col", "decimal_col").foreach {
      c => assert(!firstMin.path(l2p(c)).isMissingNode, s"no min for $c")
    }
  }

  test("partitioned_with_materialize_feature: readable AND writable " +
      "(materialization implemented)") {
    val t = DeltaTable.forPath(spark,
      s"$base/partitioned_with_materialize_feature")
    val snap = t.snapshot()
    assert(t.toDF.count() > 0)
    // materializePartitionColumns is now an implemented writer feature:
    // stageFiles writes partition values into the data files for this
    // table (IcebergCompatSpec covers the physical layout)
    assert(!TableFeatures.unsupportedWriterFeatures(
      snap.protocol, snap.metadata).contains("materializePartitionColumns"))
    assert(IcebergCompat.materializePartitionColumns(
      snap.protocol, snap.metadata))
  }

  test("struct-stats variants: single-part and multi-part-partitioned") {
    val t1 = DeltaTable.forPath(spark,
      s"$base/v1-single-part-struct-stats-only")
    assert(t1.toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L, 5L))
    assert(t1.scan(Some("id > 3")).filesDF.count() == 2)
    val t2 = DeltaTable.forPath(spark,
      s"$base/v1-multi-part-partitioned-struct-stats-only")
    assert(t2.toDF.count() > 0)
  }

  test("300k-add-files-100-col-partitioned: the reference's metadata " +
      "bench table replays to exactly 300k live adds") {
    // the table the reference's Criterion metadata_bench drives
    // (kernel/benches/metadata_bench.rs:33-50); log-only fixture
    val table =
      ReferenceCorpus.dataArchive("300k-add-files-100-col-partitioned")
    val snap = Snapshot.forTable(spark, table.toString)
    assert(snap.schema.fields.length >= 100)
    assert(snap.allAdds.count() == 300000L)
  }

  test("table-with-cdf: CDF range validation over the enable/disable/" +
      "re-enable log") {
    // reference table_changes/mod.rs table_changes_checks_enable_cdf_flag:
    // CDF on at v0/v1, OFF at v2, back on at v3; v4 tightens `id` to
    // non-nullable. Valid ranges build; ranges touching v2 or spanning
    // the nullability tightening fail validation. The fixture's file
    // paths are fake — validation must not need the data files.
    val path = s"$base/table-with-cdf"
    Seq((0L, 1L), (0L, 0L), (1L, 1L)).foreach { case (lo, hi) =>
      val df = TableChanges.read(spark, path, lo, Some(hi))
      assert(df.columns.contains("_change_type"), s"[$lo,$hi]")
    }
    Seq((0L, 2L), (1L, 2L), (2L, 2L), (2L, 3L)).foreach { case (lo, hi) =>
      val e = intercept[IllegalArgumentException] {
        TableChanges.read(spark, path, lo, Some(hi))
      }
      assert(e.getMessage.contains("change data feed"), s"[$lo,$hi]: $e")
    }
    // nullable -> non-nullable between v3 and v4 is an incompatible
    // schema change (mod.rs schema_evolution_fails)
    val e = intercept[IllegalArgumentException] {
      TableChanges.read(spark, path, 3, Some(4))
    }
    assert(e.getMessage.contains("nullability"), e.getMessage)
  }

  test("partition_cm: partitioned writes onto the reference's CM write " +
      "fixtures use physical partitionValues keys") {
    // reference write/column_mapping.rs
    // test_column_mapping_partitioned_write(cm_none|cm_id|cm_name):
    // append with a partition value, assert add.partitionValues (and the
    // remove after a delete) key by the PHYSICAL column name.
    Seq("none", "id", "name").foreach { mode =>
      val srcDir = java.nio.file.Paths.get(s"$base/partition_cm/$mode")
      val destRoot = java.nio.file.Paths.get(
        TestSpark.tmpDir(s"partition_cm-$mode"))
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(srcDir).iterator().asScala.foreach { p =>
        val dest = destRoot.resolve(srcDir.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(dest)
        else java.nio.file.Files.copy(p, dest)
      }
      val t = DeltaTable.forPath(spark, destRoot.toString)
      val snap0 = t.snapshot()
      val physName = ColumnMapping.physicalName(snap0.schema("category"))
      if (mode == "none") assert(physName == "category", mode)
      else assert(physName != "category", mode)

      t.append(Seq((1, "A"), (2, "A")).toDF("value", "category"))

      def actions(v: Long, kind: String): Seq[com.fasterxml.jackson.databind.JsonNode] = {
        val fs = Storage.fs(t.root, spark.sessionState.newHadoopConf())
        Storage.readLines(fs, FileNames.commitFile(
            FileNames.logDir(t.root), v))
          .filter(_.nonEmpty).map(JsonLog.parseLine)
          .flatMap(n => Option(n.get(kind)).filterNot(_.isNull))
      }
      val adds = actions(1L, "add")
      assert(adds.nonEmpty, mode)
      adds.foreach { a =>
        val pv = a.get("partitionValues")
        assert(pv.has(physName) && pv.get(physName).asText == "A",
          s"$mode: $pv")
      }

      t.deleteWhere("value >= 0")
      val removes = actions(2L, "remove")
      assert(removes.nonEmpty, mode)
      removes.foreach { r =>
        val pv = r.get("partitionValues")
        assert(pv != null && pv.has(physName) &&
          pv.get(physName).asText == "A", s"$mode: $pv")
      }
      assert(t.toDF.count() == 0, mode)
    }
  }

  test("void-column: void reads as an all-null column") {
    // reference read/mod.rs read_table_with_void_column
    val t = DeltaTable.forPath(spark, s"$base/void-column")
    val df = t.toDF
    assert(df.schema("void_col").dataType ==
      org.apache.spark.sql.types.NullType)
    val rows = df.select("id", "void_col").collect()
    assert(rows.map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(rows.forall(_.isNullAt(1)))
  }
}
