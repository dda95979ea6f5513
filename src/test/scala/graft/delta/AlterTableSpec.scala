package graft.delta

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** ALTER TABLE + schema evolution (reference schema_evolution.rs,
  * alter_table.rs, widening matrix schema/mod.rs:2030-2055).
  */
class AlterTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("widen int->long: old int32 files read under the new schema") {
    val dir = TestSpark.tmpDir("widen")
    val v1 = Seq((1, 1.5), (2, 2.5)).toDF("k", "x")
    DeltaTable.create(spark, dir, v1.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(v1)
    t.widenColumn("k", LongType)
    t.append(Seq((3000000000L, 3.5)).toDF("k", "x")) // needs 64 bits
    val got = t.toDF
    assert(got.schema("k").dataType == LongType)
    assert(got.select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3000000000L))
  }

  test("add nullable column: old files read NULL") {
    val dir = TestSpark.tmpDir("addcol")
    val v1 = Seq((1, "a")).toDF("k", "s")
    DeltaTable.create(spark, dir, v1.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(v1)
    t.addColumn("extra", DoubleType)
    t.append(Seq((2, "b", 9.9)).toDF("k", "s", "extra"))
    val rows = t.toDF.orderBy("k").collect()
    assert(rows(0).isNullAt(2) && rows(1).getDouble(2) == 9.9)
  }

  test("nested ADD COLUMN: field added inside a struct, old rows NULL, " +
      "mergeSchema append evolves nested too") {
    val dir = TestSpark.tmpDir("addnested")
    val v1 = Seq((1L, ("a", 10))).toDF("k", "st")
      .select($"k", $"st".cast("struct<s:string,n:int>").as("st"))
    DeltaTable.create(spark, dir, v1.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(v1)
    t.addColumn(Seq("st", "extra"), DoubleType)
    val st1 = t.snapshot().schema("st").dataType.asInstanceOf[StructType]
    assert(st1.fieldNames.toSeq == Seq("s", "n", "extra"))
    assert(st1("extra").dataType == DoubleType && st1("extra").nullable)
    // old file reads the new nested field as NULL
    val r0 = t.toDF.select($"st.extra").collect()
    assert(r0.length == 1 && r0(0).isNullAt(0))
    // mergeSchema append: incoming struct carries ANOTHER new nested
    // field, in a different inner order — aligned by name, not position
    val v2 = spark.sql(
      """SELECT CAST(2 AS BIGINT) AS k,
        |named_struct('extra', 7.5D, 'n', 20, 's', 'b', 'deep', 99L)
        |  AS st""".stripMargin)
    t.append(v2, mergeSchema = true)
    val schema2 = t.snapshot().schema("st").dataType.asInstanceOf[StructType]
    assert(schema2.fieldNames.toSeq == Seq("s", "n", "extra", "deep"))
    val rows = t.toDF.orderBy("k")
      .select($"k", $"st.s", $"st.n", $"st.extra", $"st.deep").collect()
    assert(rows(0).getString(1) == "a" && rows(0).getInt(2) == 10 &&
      rows(0).isNullAt(3) && rows(0).isNullAt(4))
    assert(rows(1).getString(1) == "b" && rows(1).getInt(2) == 20 &&
      rows(1).getDouble(3) == 7.5 && rows(1).getLong(4) == 99L)
    // dropping a nested field is rejected
    val bad = StructType(Seq(StructField("k", LongType),
      StructField("st", StructType(Seq(StructField("s", StringType))))))
    val e = intercept[IllegalArgumentException] { t.alterSchema(bad) }
    assert(e.getMessage.contains("st.n"))
  }

  test("nested widen through struct / array-of-struct paths") {
    val dir = TestSpark.tmpDir("widennested")
    val v1 = spark.sql(
      """SELECT 1L AS k, named_struct('n', CAST(5 AS INT)) AS st,
        |array(named_struct('m', CAST(6 AS INT))) AS arr""".stripMargin)
    DeltaTable.create(spark, dir, v1.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(v1)
    t.widenColumn(Seq("st", "n"), LongType)
    t.widenColumn(Seq("arr", "m"), LongType)
    val s = t.snapshot().schema
    assert(s("st").dataType.asInstanceOf[StructType]("n")
      .dataType == LongType)
    assert(s("arr").dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType]("m").dataType == LongType)
    val r = t.toDF.select($"st.n", $"arr"(0)("m")).collect()(0)
    assert(r.getLong(0) == 5L && r.getLong(1) == 6L)
  }

  test("column mapping: nested add gets a fresh id; stale maxColumnId " +
      "self-heals against the schema walk") {
    // reconcile: survivors keep ids, the new nested field gets a fresh
    // one seeded past the ACTUAL schema max even when the persisted
    // property is stale (reference schema_evolution.rs:764-783)
    val base = StructType(Seq(
      StructField("k", LongType),
      StructField("st", StructType(Seq(StructField("s", StringType))))))
    val (annotated, max0) = ColumnMapping.assignMetadata(base)
    assert(max0 == 3 && ColumnMapping.maxAssignedId(annotated) == 3)
    val evolved = StructType(Seq(
      annotated("k"),
      annotated("st").copy(dataType = StructType(
        annotated("st").dataType.asInstanceOf[StructType].fields :+
          StructField("extra", DoubleType)))))
    // stale seed (1) must rebase on the schema max (3), not collide
    val seed = math.max(1L, ColumnMapping.maxAssignedId(annotated))
    val (rec, maxId) = ColumnMapping.reconcile(annotated, evolved, seed)
    assert(maxId == 4)
    val st = rec("st").dataType.asInstanceOf[StructType]
    val ids = Seq(rec("k"), rec("st"), st("s"), st("extra"))
      .map(_.metadata.getLong(ColumnMapping.ID_KEY))
    assert(ids.distinct.length == 4, s"id collision: $ids")
    assert(st("extra").metadata.getLong(ColumnMapping.ID_KEY) == 4)
    // survivors keep their physical names
    assert(rec("k").metadata.getString(ColumnMapping.PHYS_NAME_KEY) ==
      annotated("k").metadata.getString(ColumnMapping.PHYS_NAME_KEY))
  }

  test("column-mapped table: nested add end-to-end keeps old data " +
      "readable and annotates the new field") {
    val dir = TestSpark.tmpDir("cmnested")
    val v1 = Seq((1L, ("a", 10))).toDF("k", "st")
      .select($"k", $"st".cast("struct<s:string,n:int>").as("st"))
    DeltaTable.create(spark, dir, v1.schema,
      configuration = Map(ColumnMapping.MODE_KEY -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(v1)
    t.addColumn(Seq("st", "extra"), DoubleType)
    t.append(spark.sql(
      """SELECT 2L AS k, named_struct('s', 'b', 'n', 20,
        |'extra', 1.25D) AS st""".stripMargin))
    val rows = t.toDF.orderBy("k")
      .select($"st.s", $"st.n", $"st.extra").collect()
    assert(rows(0).getString(0) == "a" && rows(0).isNullAt(2))
    assert(rows(1).getString(0) == "b" && rows(1).getDouble(2) == 1.25)
    val st = t.snapshot().schema("st").dataType.asInstanceOf[StructType]
    assert(st("extra").metadata.contains(ColumnMapping.ID_KEY) &&
      st("extra").metadata.contains(ColumnMapping.PHYS_NAME_KEY))
  }

  test("float->double widening and stats skipping still work") {
    val dir = TestSpark.tmpDir("widenf")
    val v1 = Seq((1, 1.5f), (2, 2.5f)).toDF("k", "f")
    DeltaTable.create(spark, dir, v1.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(v1)
    t.widenColumn("f", DoubleType)
    t.append(Seq((3, 3.5)).toDF("k", "f"))
    assert(t.toDF.schema("f").dataType == DoubleType)
    assert(t.scan(Some("f > 3.0")).toDF.count() == 1)
  }

  test("widening chain byte->short->int->long: every file generation " +
      "reads natively under the final schema") {
    val dir = TestSpark.tmpDir("widenchain")
    val v1 = Seq((1.toByte, "a"), (2.toByte, "b")).toDF("k", "s")
    DeltaTable.create(spark, dir, v1.schema)
    val t = DeltaTable.forPath(spark, dir)
    assert(t.snapshot().schema("k").dataType == ByteType)
    t.append(v1)
    t.widenColumn("k", ShortType)
    t.append(Seq((300.toShort, "c")).toDF("k", "s"))
    t.widenColumn("k", IntegerType)
    t.append(Seq((70000, "d")).toDF("k", "s"))
    t.widenColumn("k", LongType)
    t.append(Seq((3000000000L, "e")).toDF("k", "s"))

    assert(t.toDF.schema("k").dataType == LongType)
    assert(t.toDF.select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 300L, 70000L, 3000000000L))
    // stats written under narrower types still skip under the wide
    // schema (mixed-generation min/max comparisons)
    assert(t.scan(Some("k > 200")).toDF.count() == 3)
    assert(t.scan(Some("k <= 2")).toDF.count() == 2)
    // the protocol carries typeWidening exactly once
    assert(t.snapshot().protocol.writerFeatures.get.count(
      _ == "typeWidening") == 1)
    // skipped-ahead widening is also one legal step: byte -> long
    val dir2 = TestSpark.tmpDir("widenskip")
    DeltaTable.create(spark, dir2, v1.schema)
    val t2 = DeltaTable.forPath(spark, dir2)
    t2.append(v1)
    t2.widenColumn("k", LongType)
    t2.append(Seq((3000000000L, "z")).toDF("k", "s"))
    assert(t2.toDF.count() == 3)
  }

  test("timestamp <-> timestamp_ntz interchange reads i64 micros " +
      "either way") {
    val dir = TestSpark.tmpDir("widents")
    val ts = java.sql.Timestamp.valueOf("2024-03-01 10:30:00")
    val v1 = Seq((1L, ts)).toDF("k", "t")
    DeltaTable.create(spark, dir, v1.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(v1)
    t.widenColumn("t", TimestampNTZType)
    assert(t.toDF.schema("t").dataType == TimestampNTZType)
    assert(t.toDF.count() == 1)
    // and back: the physical int64 micros are identical
    t.widenColumn("t", TimestampType)
    assert(t.toDF.schema("t").dataType == TimestampType)
    assert(t.toDF.select("t").collect().head.getTimestamp(0) == ts)
  }

  test("illegal evolutions rejected") {
    val dir = TestSpark.tmpDir("illegal")
    val v1 = Seq((1L, "a")).toDF("k", "s")
    DeltaTable.create(spark, dir, v1.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(v1)
    // narrow
    intercept[IllegalArgumentException] {
      t.alterSchema(StructType(Seq(
        StructField("k", IntegerType), StructField("s", StringType))))
    }
    // drop
    intercept[IllegalArgumentException] {
      t.alterSchema(StructType(Seq(StructField("k", LongType))))
    }
    // non-nullable addition
    intercept[IllegalArgumentException] {
      t.alterSchema(StructType(v1.schema.fields :+
        StructField("n", LongType, nullable = false)))
    }
    // incompatible widen
    intercept[IllegalArgumentException] {
      t.widenColumn("s", LongType)
    }
  }

  test("column-mapped table keeps physical names across ALTER") {
    val dir = TestSpark.tmpDir("altercm")
    val v1 = Seq((1, "a")).toDF("k", "s")
    DeltaTable.create(spark, dir, v1.schema,
      configuration = Map(ColumnMapping.MODE_KEY -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(v1)
    val physBefore = ColumnMapping.physicalName(t.snapshot().schema("k"))
    t.widenColumn("k", LongType)
    t.addColumn("z", StringType)
    val snap = t.snapshot()
    assert(ColumnMapping.physicalName(snap.schema("k")) == physBefore)
    assert(ColumnMapping.physicalName(snap.schema("z")).startsWith("col-"))
    t.append(Seq((2L, "b", "zz")).toDF("k", "s", "z"))
    assert(t.toDF.count() == 2)
    assert(t.toDF.schema("k").dataType == LongType)
  }

  test("mergeSchema append: new column, widening, null fill") {
    val dir = TestSpark.tmpDir("mergesch")
    val v1 = Seq((1, "a")).toDF("k", "s")
    DeltaTable.create(spark, dir, v1.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(v1)
    // extra column WITHOUT the option: rejected, table untouched
    intercept[Exception] {
      t.append(Seq((2, "b", 9.9)).toDF("k", "s", "x"))
    }
    assert(t.toDF.count() == 1)
    // with mergeSchema: k widens int->long, x appends nullable
    t.append(Seq((3000000000L, "c", 9.9)).toDF("k", "s", "x"),
      mergeSchema = true)
    val snap = t.snapshot()
    assert(snap.schema("k").dataType == LongType)
    assert(snap.schema("x").dataType == DoubleType && snap.schema("x").nullable)
    assert(snap.protocol.writerFeatures.exists(_.contains("typeWidening")))
    // old rows read x as NULL
    val rows = t.toDF.orderBy("k").collect()
    assert(rows(0).isNullAt(2) && rows(1).getDouble(2) == 9.9)
    // a narrower batch missing a column: k upcasts, s fills NULL
    t.append(Seq((7, 1.1)).toDF("k", "x"), mergeSchema = true)
    assert(t.toDF.filter($"k" === 7).select($"s").head().isNullAt(0))
    assert(t.toDF.count() == 3)
    // incompatible type pair fails loudly
    intercept[IllegalArgumentException] {
      t.append(Seq(("oops", "d")).toDF("k", "s"), mergeSchema = true)
    }
  }

  test("mergeSchema on a column-mapped table assigns fresh ids") {
    val dir = TestSpark.tmpDir("mergecm")
    val v1 = Seq((1L, "a")).toDF("k", "s")
    DeltaTable.create(spark, dir, v1.schema,
      configuration = Map(ColumnMapping.MODE_KEY -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(v1)
    t.append(Seq((2L, "b", 5L)).toDF("k", "s", "n"), mergeSchema = true)
    val snap = t.snapshot()
    assert(ColumnMapping.physicalName(snap.schema("n")).startsWith("col-"))
    assert(t.toDF.orderBy("k").select($"n").as[java.lang.Long]
      .collect().toSeq == Seq(null, java.lang.Long.valueOf(5L)))
  }

  test("writer options: mergeSchema append and overwriteSchema replace") {
    val dir = TestSpark.tmpDir("wropts")
    Seq((1L, "a")).toDF("k", "s").write.format("graft-delta").save(dir)
    // append a wider frame through the format writer
    Seq((2L, "b", 1.5)).toDF("k", "s", "x").write.format("graft-delta")
      .mode("append").option("mergeSchema", "true").save(dir)
    val t = DeltaTable.forPath(spark, dir)
    assert(t.toDF.columns.toSeq == Seq("k", "s", "x"))
    assert(t.toDF.count() == 2)
    // overwriteSchema: schema REPLACED (s dropped, v introduced)
    val vBefore = t.snapshot().version
    Seq((9L, 42L)).toDF("k", "v").write.format("graft-delta")
      .mode("overwrite").option("overwriteSchema", "true").save(dir)
    assert(t.toDF.columns.toSeq == Seq("k", "v"))
    assert(t.toDF.as[(Long, Long)].collect().toSeq == Seq((9L, 42L)))
    // schema replacement and data replacement land in ONE commit — no
    // intermediate version durably pairs the new schema with old files
    assert(t.snapshot().version == vBefore + 1)
    // time travel still reads the OLD schema over the OLD data
    val old = DeltaTable.forPath(spark, dir).snapshot(Some(vBefore))
    assert(old.schema.fieldNames.toSeq == Seq("k", "s", "x"))
    assert(new DeltaScan(old, None).toDF.count() == 2)
  }

  test("ADD COLUMN FIRST / AFTER places logically; reads by name " +
      "ignore order; DROP NOT NULL loosens, SET NOT NULL refuses") {
    val dir = TestSpark.tmpDir("addpos")
    val v1 = spark.sql("SELECT CAST(1 AS BIGINT) AS k, 'a' AS s")
      .select($"k", $"s".cast("string").as("s"))
    val strict = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType, nullable = true)))
    DeltaTable.create(spark, dir, strict)
    val t = DeltaTable.forPath(spark, dir)
    t.append(v1)
    t.addColumn(Seq("lead"), DoubleType, Some(DeltaTable.First))
    t.addColumn(Seq("mid"), IntegerType, Some(DeltaTable.After("k")))
    assert(t.snapshot().schema.fieldNames.toSeq ==
      Seq("lead", "k", "mid", "s"))
    // old file reads correctly under the reordered schema
    val r = t.toDF.collect()(0)
    assert(r.isNullAt(0) && r.getLong(1) == 1L && r.isNullAt(2) &&
      r.getString(3) == "a")
    intercept[IllegalArgumentException](
      t.addColumn(Seq("x"), DoubleType, Some(DeltaTable.After("nope"))))

    // DROP NOT NULL on k; SET NOT NULL refuses
    assert(!t.snapshot().schema("k").nullable)
    t.setColumnNullable(Seq("k"), nullable = true)
    assert(t.snapshot().schema("k").nullable)
    intercept[IllegalArgumentException](
      t.setColumnNullable(Seq("s"), nullable = false))
  }

  test("addCheckConstraint probes existing rows; unset/drop via API") {
    val dir = TestSpark.tmpDir("conapi")
    val src = Seq((1L, 2.0), (2L, 5.0)).toDF("k", "v")
    DeltaTable.create(spark, dir, src.schema,
      configuration = Map("custom.x" -> "1"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    // violating constraint rejected by the engine's distributed probe
    val e = intercept[IllegalArgumentException](
      t.addCheckConstraint("hi", "v > 3.0"))
    assert(e.getMessage.contains("violates"))
    t.addCheckConstraint("Pos", "v > 0.0") // name lowercases
    val snap = t.snapshot()
    assert(snap.metadata.configuration
      .get("delta.constraints.pos").contains("v > 0.0"))
    assert(snap.protocol.writerFeatures
      .exists(_.contains("checkConstraints")))
    intercept[Exception](t.append(Seq((3L, -1.0)).toDF("k", "v")))
    // drop lifts the gate; unknown drop throws unless ifExists
    t.dropCheckConstraint("POS")
    t.append(Seq((3L, -1.0)).toDF("k", "v"))
    assert(t.toDF.count() == 3)
    intercept[IllegalArgumentException](t.dropCheckConstraint("nope"))
    t.dropCheckConstraint("nope", ifExists = true)
    // unsetProperties removes plain config keys
    t.unsetProperties(Seq("custom.x", "never.was"))
    assert(!t.snapshot().metadata.configuration.contains("custom.x"))
  }

  test("setColumnDefault: writes fill omitted columns; feature declared") {
    val dir = TestSpark.tmpDir("defapi")
    val src = Seq((1L, "a")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.setColumnDefault(Seq("s"), Some("'filled'"))
    assert(t.snapshot().protocol.writerFeatures
      .exists(_.contains("allowColumnDefaults")))
    // DataFrame append missing the column takes the default
    t.append(Seq(Tuple1(2L)).toDF("k"))
    assert(t.toDF.orderBy("k").select("s").as[String].collect().toSeq ==
      Seq("a", "filled"))
    // DROP DEFAULT: the omission becomes an analysis error again
    t.setColumnDefault(Seq("s"), None)
    intercept[Exception](t.append(Seq(Tuple1(3L)).toDF("k")))
    // invalid default rejected up front
    intercept[IllegalArgumentException](
      t.setColumnDefault(Seq("s"), Some("no_such_col + 1")))
  }

  test("guards: nondeterministic DML predicates, protected property " +
      "unset, explicit NULL into a generated column") {
    val dir = TestSpark.tmpDir("guards")
    val src = Seq((1L, 2.0)).toDF("k", "v")
    DeltaTable.create(spark, dir, src.schema,
      configuration = Map(RowTracking.ENABLED_KEY -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    // nondeterministic / time-dependent predicates refuse (the DV
    // paths evaluate the predicate in separate jobs)
    intercept[IllegalArgumentException](t.deleteWhere("rand() < 0.5"))
    intercept[IllegalArgumentException](
      t.updateWhereDV("v < rand()", Map("v" -> "v + 1")))
    intercept[IllegalArgumentException](
      t.deleteWhereDV("v IS NULL OR rand() > 0"))
    intercept[IllegalArgumentException](
      t.updateWhere("current_timestamp() > TIMESTAMP'2020-01-01'",
        Map("v" -> "v + 1")))
    // structural properties cannot be unset
    intercept[IllegalArgumentException](
      t.unsetProperties(Seq(RowTracking.MAT_ROW_ID_KEY)))
    intercept[IllegalArgumentException](
      t.unsetProperties(Seq("delta.columnMapping.mode")))

    // explicit NULL into a generated column rejects on the DataFrame
    // path (delta-spark parity); the SQL path computes it instead
    val gdir = TestSpark.tmpDir("guards-gen")
    val base = Seq((1L, 2.0, 4.0)).toDF("k", "v", "v2")
    val fields = base.schema.fields.map {
      case f if f.name == "v2" => f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString("delta.generationExpression", "v * 2.0").build())
      case f => f
    }
    DeltaTable.create(spark, gdir,
      org.apache.spark.sql.types.StructType(fields))
    val gt = DeltaTable.forPath(spark, gdir)
    gt.append(base)
    intercept[Exception](gt.append(
      Seq((2L, 3.0, null.asInstanceOf[java.lang.Double]))
        .toDF("k", "v", "v2")))
  }

  test("field-id schema diff: renames pair by column-mapping id, " +
      "drops/adds/widenings classify, and the diff round-trips " +
      "through ALTER") {
    val dir = TestSpark.tmpDir("iddiff")
    val v1 = Seq((1, "a", 1.5f, 7)).toDF("k", "s", "x", "gone")
    DeltaTable.create(spark, dir, v1.schema,
      configuration = Map(ColumnMapping.MODE_KEY -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(v1)
    val before = t.snapshot().schema
    val kId = before("k").metadata.getLong(ColumnMapping.ID_KEY)

    t.renameColumn(Seq("k"), "key")      // same id, new name
    t.dropColumn(Seq("gone"))            // id disappears
    t.widenColumn("x", DoubleType)       // same id, widened type
    t.addColumn("fresh", StringType)     // new id
    val after = t.snapshot().schema

    val d = SchemaEvolution.diffByFieldId(before, after)
    assert(d.renamed == Seq(("k", "key", kId)))
    assert(d.dropped.map(_._1) == Seq("gone"))
    assert(d.added.map(_._1) == Seq("fresh"))
    assert(d.widened == Seq(("x", FloatType, DoubleType)))
    assert(d.incompatible.isEmpty)

    // round trip: applying the diffed operations to the BEFORE schema
    // through ALTER on a second table converges to an empty diff
    val dir2 = TestSpark.tmpDir("iddiff2")
    // clone: same logical schema AND same mapping ids (create from the
    // before schema verbatim, ids ride in the field metadata)
    DeltaTable.create(spark, dir2, before,
      configuration = Map(ColumnMapping.MODE_KEY -> "name"))
    val t2 = DeltaTable.forPath(spark, dir2)
    d.renamed.foreach { case (op, np, _) =>
      t2.renameColumn(op.split('.').toSeq,
        np.substring(np.lastIndexOf('.') + 1)) }
    d.dropped.foreach { case (p, _) => t2.dropColumn(p.split('.').toSeq) }
    d.widened.foreach { case (p, _, to) => t2.widenColumn(p, to) }
    d.added.foreach { case (p, f) => t2.addColumn(p, f.dataType) }
    val replayed = SchemaEvolution.diffByFieldId(t2.snapshot().schema,
      after)
    assert(replayed.renamed.isEmpty && replayed.dropped.isEmpty &&
      replayed.widened.isEmpty && replayed.incompatible.isEmpty,
      s"replayed ALTERs did not converge: $replayed")

    // id-less schemas degrade to path pairing: the rename reads as
    // drop+add (Delta semantics without column mapping)
    val plainBefore = StructType(before.fields.map(f =>
      StructField(f.name, f.dataType)))
    val plainAfter = StructType(after.fields.map(f =>
      StructField(f.name, f.dataType)))
    val pd = SchemaEvolution.diffByFieldId(plainBefore, plainAfter)
    assert(pd.renamed.isEmpty)
    assert(pd.dropped.map(_._1).toSet == Set("k", "gone"))
    assert(pd.added.map(_._1).toSet == Set("key", "fresh"))
  }

  /** Compact type rendering for the nesting table below: `!` marks NOT
    * NULL, `=sql` a CURRENT_DEFAULT; `label` names each struct field.
    */
  private def shape(dt: DataType,
      label: StructField => String = _.name): String = dt match {
    case s: StructType => s.fields.map { f =>
      label(f) + ":" + shape(f.dataType, label) +
        (if (f.nullable) "" else "!") +
        (if (f.metadata.contains(WriteValidation.DEFAULT_KEY))
          "=" + f.metadata.getString(WriteValidation.DEFAULT_KEY)
        else "")
    }.mkString("struct<", ",", ">")
    case a: ArrayType => s"array<${shape(a.elementType, label)}>"
    case m: MapType =>
      s"map<${shape(m.keyType, label)},${shape(m.valueType, label)}>"
    case other => other.simpleString
  }

  // a struct in a struct, in an array, as a map key and as a map value
  private val nestingSchema = StructType.fromDDL(
    "k BIGINT, s STRUCT<a: INT, t: STRUCT<b: INT NOT NULL>>, " +
      "arr ARRAY<STRUCT<c: INT NOT NULL, d: INT>>, " +
      "m MAP<STRUCT<kk: INT NOT NULL>, STRUCT<v: INT NOT NULL, w: INT>>")
  private val nestingShape =
    "struct<k:bigint,s:struct<a:int,t:struct<b:int!>>," +
      "arr:array<struct<c:int!,d:int>>," +
      "m:map<struct<kk:int!>,struct<v:int!,w:int>>>"

  /** Rewrite every struct field under `dt` top-down (test-side twin of
    * the production walk, so the expectations do not lean on it).
    */
  private def everyField(dt: DataType)(g: StructField => StructField)
      : DataType = dt match {
    case s: StructType => StructType(s.fields.map { f =>
      val out = g(f)
      out.copy(dataType = everyField(out.dataType)(g))
    })
    case a: ArrayType => a.copy(elementType = everyField(a.elementType)(g))
    case m: MapType => m.copy(keyType = everyField(m.keyType)(g),
      valueType = everyField(m.valueType)(g))
    case other => other
  }

  /** `nestingSchema` with metadata `key -> "x"` on every field named
    * `name`.
    */
  private def tagged(name: String, key: String): StructType =
    everyField(nestingSchema) { f =>
      if (f.name != name) f
      else f.copy(metadata = new MetadataBuilder()
        .withMetadata(f.metadata).putString(key, "x").build())
    }.asInstanceOf[StructType]

  test("nested-schema positions: every ALTER editor pins its schema or " +
      "its error through struct, array, map-key and map-value paths") {
    val base = shape(nestingSchema)
    assert(base == nestingShape)
    // (label, edit, Right(from -> to) on the base shape | Left(error))
    type Row = (String, DeltaTable => Unit, Either[String, (String, String)])
    val add = (p: Seq[String]) => (t: DeltaTable) =>
      { t.addColumn(p, StringType); () }
    val nullable = (p: Seq[String]) => (t: DeltaTable) =>
      { t.setColumnNullable(p, nullable = true); () }
    val default = (p: Seq[String]) => (t: DeltaTable) =>
      { t.setColumnDefault(p, Some("7")); () }
    val widen = (p: Seq[String]) => (t: DeltaTable) =>
      { t.widenColumn(p, LongType); () }
    val rename = (p: Seq[String]) => (t: DeltaTable) =>
      { t.renameColumn(p, "r"); () }
    val drop = (p: Seq[String]) => (t: DeltaTable) =>
      { t.dropColumn(p); () }
    val rows: Seq[Row] = Seq(
      ("add s.t.z", add(Seq("s", "t", "z")),
        Right("t:struct<b:int!>" -> "t:struct<b:int!,z:string>")),
      ("add arr.z", add(Seq("arr", "z")),
        Right("d:int>>" -> "d:int,z:string>>")),
      ("add m.z (map value)", add(Seq("m", "z")),
        Right("w:int>>" -> "w:int,z:string>>")),
      ("add m.kk (lands in the map value)", add(Seq("m", "kk")),
        Right("w:int>>" -> "w:int,kk:string>>")),
      ("add s.t.b (exists)", add(Seq("s", "t", "b")),
        Left("column 's.t.b' already exists")),
      ("add k.z", add(Seq("k", "z")),
        Left("cannot add 'k.z': 'k' is bigint, not a struct")),
      ("add nope.z", add(Seq("nope", "z")), Left("no struct column 'nope'")),
      ("add K (case collision)", add(Seq("K")),
        Left("column 'K' already exists")),
      ("add s.T (nested case collision)", add(Seq("s", "T")),
        Left("column 's.T' already exists")),
      ("nullable s.t.b", nullable(Seq("s", "t", "b")),
        Right("b:int!" -> "b:int")),
      ("nullable arr.c", nullable(Seq("arr", "c")),
        Right("c:int!" -> "c:int")),
      ("nullable m.v", nullable(Seq("m", "v")), Right("v:int!" -> "v:int")),
      ("nullable m.kk", nullable(Seq("m", "kk")), Left("no column 'kk'")),
      ("nullable k.z", nullable(Seq("k", "z")),
        Left("cannot alter 'k.z': 'k' is bigint, not a struct")),
      ("nullable nope.z", nullable(Seq("nope", "z")),
        Left("no column 'nope'")),
      ("default s.t.b", default(Seq("s", "t", "b")),
        Right("b:int!" -> "b:int!=7")),
      ("default arr.d", default(Seq("arr", "d")),
        Right("d:int>>" -> "d:int=7>>")),
      ("default m.w", default(Seq("m", "w")),
        Right("w:int>>" -> "w:int=7>>")),
      ("default m.kk", default(Seq("m", "kk")), Left("no column 'kk'")),
      ("default k.z", default(Seq("k", "z")),
        Left("cannot alter 'k.z': 'k' is bigint, not a struct")),
      ("widen s.t.b", widen(Seq("s", "t", "b")),
        Right("b:int!" -> "b:bigint!")),
      ("widen arr.c", widen(Seq("arr", "c")),
        Right("c:int!" -> "c:bigint!")),
      ("widen m.v", widen(Seq("m", "v")), Right("v:int!" -> "v:bigint!")),
      ("widen m.kk", widen(Seq("m", "kk")), Left("no column 'kk'")),
      ("widen k.z", widen(Seq("k", "z")),
        Left("cannot widen 'k.z': 'k' is bigint, not a struct")),
      ("widen nope.z", widen(Seq("nope", "z")), Left("no column 'nope'")),
      ("rename s.t.b", rename(Seq("s", "t", "b")),
        Right("b:int!" -> "r:int!")),
      ("rename arr.c", rename(Seq("arr", "c")), Right("c:int!" -> "r:int!")),
      ("rename m.v", rename(Seq("m", "v")), Right("v:int!" -> "r:int!")),
      ("rename m.kk", rename(Seq("m", "kk")), Left("no column 'kk'")),
      ("rename m.v to an existing sibling", (t: DeltaTable) =>
        { t.renameColumn(Seq("m", "v"), "W"); () },
        Left("column 'W' already exists")),
      ("rename k.z", rename(Seq("k", "z")),
        Left("cannot rename 'k.z': 'k' is bigint, not a struct")),
      ("drop s.a", drop(Seq("s", "a")),
        Right("s:struct<a:int," -> "s:struct<")),
      ("drop s.t.b (last field)", drop(Seq("s", "t", "b")),
        Left("cannot drop 's.t.b': a struct must keep at least one column")),
      ("drop arr.c", drop(Seq("arr", "c")),
        Left("'c' addresses into array<struct<c:int,d:int>>, not a struct")),
      ("drop m.v", drop(Seq("m", "v")), Left("'v' addresses into " +
        "map<struct<kk:int>,struct<v:int,w:int>>, not a struct")),
      ("drop m.kk", drop(Seq("m", "kk")), Left("'kk' addresses into " +
        "map<struct<kk:int>,struct<v:int,w:int>>, not a struct")),
      ("drop k.z", drop(Seq("k", "z")),
        Left("'z' addresses into bigint, not a struct")),
      ("drop nope", drop(Seq("nope")), Left("no column 'nope'")),
      ("alterSchema adding K", (t: DeltaTable) => {
        t.alterSchema(StructType(t.snapshot().schema.fields :+
          StructField("K", IntegerType))); ()
      }, Left("illegal schema evolution: columns 'k' and 'K' differ " +
        "only in case")),
      ("alterSchema adding s.A", (t: DeltaTable) => {
        val cur = t.snapshot().schema
        val s = cur("s").dataType.asInstanceOf[StructType]
        t.alterSchema(StructType(cur.fields.updated(1, cur("s").copy(
          dataType = s.add("A", IntegerType))))); ()
      }, Left("illegal schema evolution: columns 's.a' and 's.A' differ " +
        "only in case")))
    val mismatches = rows.zipWithIndex.flatMap { case ((label, edit, want), i) =>
      val dir = TestSpark.tmpDir(s"nesting$i")
      // rename/drop need column mapping; the default rows run without
      // it, because on a column-mapped table alterSchema's reconcile
      // puts the old field metadata back and the new default is lost
      val mode = if (label.startsWith("default")) "none" else "name"
      DeltaTable.create(spark, dir, nestingSchema,
        configuration = Map(ColumnMapping.MODE_KEY -> mode))
      val t = DeltaTable.forPath(spark, dir)
      val got = scala.util.Try(edit(t)).toEither.left.map {
        case e: IllegalArgumentException =>
          e.getMessage.stripPrefix("requirement failed: ")
        case e => throw e
      }.map(_ => shape(t.snapshot().schema))
      val expected = want.map { case (from, to) =>
        assert(base.contains(from), label)
        base.replace(from, to)
      }
      if (got == expected) None else Some(s"$label: got $got")
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }

  test("nested-schema positions: column-mapping transforms, physical " +
      "name maps and the single-schema checks pin their exact output") {
    import ColumnMapping._
    // deterministic annotations: pre-order ids, physical name p<id>
    def annotated(skip: String = ""): StructType = {
      var n = 0L
      everyField(nestingSchema) { f =>
        n += 1
        if (f.name == skip) f
        else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putLong(ID_KEY, n).putString(PHYS_NAME_KEY, s"p$n").build())
      }.asInstanceOf[StructType]
    }
    val det = annotated()
    def idOf(f: StructField, key: String, mark: String): String =
      if (f.metadata.contains(key)) mark + f.metadata.getLong(key) else ""
    val withIds = (f: StructField) => f.name + idOf(f, ID_KEY, "#")

    // assignMetadata: the same pre-order ids, fresh col-<uuid> names
    val (assigned, maxId) = assignMetadata(nestingSchema)
    assert(maxId == 12 && maxAssignedId(assigned) == 12 &&
      maxAssignedId(det) == 12 && maxAssignedId(nestingSchema) == 0)
    assert(shape(assigned, withIds) == shape(det, withIds))
    assert(shape(det, withIds) == "struct<k#1:bigint," +
      "s#2:struct<a#3:int,t#4:struct<b#5:int!>>," +
      "arr#6:array<struct<c#7:int!,d#8:int>>," +
      "m#9:map<struct<kk#10:int!>,struct<v#11:int!,w#12:int>>>")
    assert(shape(assigned, f => f.metadata.getString(PHYS_NAME_KEY)
      .take(4)).split("col-").length == 13)

    // physicalSchema renames every field and carries parquet.field.id;
    // withoutFieldIds drops the ids only; stripAnnotations drops the
    // mapping keys only
    val phys = physicalSchema(det)
    val physLabel = (f: StructField) => f.name +
      idOf(f, PARQUET_ID_KEY, "@") + idOf(f, ID_KEY, "#") +
      (if (f.metadata.contains(PHYS_NAME_KEY)) "~" else "")
    val physShape = "struct<p1@1#1~:bigint," +
      "p2@2#2~:struct<p3@3#3~:int,p4@4#4~:struct<p5@5#5~:int!>>," +
      "p6@6#6~:array<struct<p7@7#7~:int!,p8@8#8~:int>>," +
      "p9@9#9~:map<struct<p10@10#10~:int!>,struct<p11@11#11~:int!," +
      "p12@12#12~:int>>>"
    assert(shape(phys, physLabel) == physShape)
    assert(shape(withoutFieldIds(phys), physLabel) ==
      physShape.replaceAll("@\\d+", ""))
    assert(shape(stripAnnotations(phys), physLabel) ==
      physShape.replaceAll("#\\d+~", ""))
    assert(stripAnnotations(det) == nestingSchema)
    assert(withoutFieldIds(det) == det)

    // toLogical: the physical columns cast back to clean logical types
    val physDf = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], phys)
    val logical = physDf.select(det.fields.map(toLogical).toSeq: _*)
    assert(shape(logical.schema) == nestingShape)
    assert(logical.schema.map(_.dataType) == nestingSchema.map(_.dataType))

    // validateSchemaAnnotations names the unannotated field by its
    // struct-field path, without element/key/value segments
    validateSchemaAnnotations(det, "name")
    validateSchemaAnnotations(nestingSchema, "none")
    Seq("b" -> "s.t.b", "c" -> "arr.c", "kk" -> "m.kk", "w" -> "m.w")
      .foreach { case (skip, path) =>
        val e = intercept[IllegalArgumentException](
          validateSchemaAnnotations(annotated(skip), "id"))
        assert(e.getMessage == "requirement failed: column mapping mode " +
          "'id' requires physicalName and id annotations on every field; " +
          s"'$path' is missing them")
      }

    // CDF's physical-name map: every field, with slot segments
    assert(TableChanges.physicalNames(det) == Map(
      Seq("k") -> "p1", Seq("s") -> "p2", Seq("s", "a") -> "p3",
      Seq("s", "t") -> "p4", Seq("s", "t", "b") -> "p5",
      Seq("arr") -> "p6", Seq("arr", "element", "c") -> "p7",
      Seq("arr", "element", "d") -> "p8", Seq("m") -> "p9",
      Seq("m", "key", "kk") -> "p10", Seq("m", "value", "v") -> "p11",
      Seq("m", "value", "w") -> "p12"))
    // the scan's logical -> physical predicate map: struct fields only
    assert(DeltaScan.logicalToPhysical(det) == Map(
      Seq("k") -> Seq("p1"), Seq("s") -> Seq("p2"),
      Seq("s", "a") -> Seq("p2", "p3"), Seq("s", "t") -> Seq("p2", "p4"),
      Seq("s", "t", "b") -> Seq("p2", "p4", "p5"),
      Seq("arr") -> Seq("p6"), Seq("m") -> Seq("p9")))

    // field-id diff: structs, array elements and map values of struct
    // type, never map keys
    val d = SchemaEvolution.diffByFieldId(det, StructType(Nil))
    assert(d.dropped.map(_._1) == Seq("k", "s", "s.a", "s.t", "s.t.b",
      "arr", "arr.element.c", "arr.element.d", "m", "m.value.v",
      "m.value.w"))

    // icebergCompat allow-list walk reports slots too; the legacy-ids
    // and geo checks descend structs only
    assert(IcebergCompat.firstOffending(det, _ != IntegerType) ==
      Some("s.a (int)"))
    assert(IcebergCompat.firstOffending(det, {
      case _: MapType => false; case _ => true }) ==
      Some("m (map<struct<kk:int>,struct<v:int,w:int>>)"))
    val arrOfInt = StructType.fromDDL("x ARRAY<MAP<STRING, INT>>")
    assert(IcebergCompat.firstOffending(arrOfInt, _ != IntegerType) ==
      Some("x.element.value (int)"))
    val legacy = IcebergCompat.LEGACY_NESTED_IDS_KEY
    assert(IcebergCompat.legacyNestedIds(tagged("b", legacy)) ==
      Some("s.t.b"))
    assert(IcebergCompat.legacyNestedIds(tagged("c", legacy)).isEmpty)
    assert(IcebergCompat.legacyNestedIds(tagged("v", legacy)).isEmpty)
    assert(GeoTypes.containsGeo(tagged("b", GeoTypes.GEO_KEY)))
    assert(!GeoTypes.containsGeo(tagged("c", GeoTypes.GEO_KEY)))
    assert(!GeoTypes.containsGeo(tagged("kk", GeoTypes.GEO_KEY)))
  }
}
