package graft.delta

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Writer-side feature gate (reference table_features write gates). */
class WriterGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("appendOnly tables reject deletes but accept appends") {
    val dir = TestSpark.tmpDir("appendonly")
    val src = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema,
      configuration = Map("delta.appendOnly" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    intercept[IllegalArgumentException] { t.deleteWhere("k = 1") }
    intercept[IllegalArgumentException] { t.deleteWhereDV("k = 1") }
    t.append(src) // still fine
    assert(t.toDF.count() == 4)
  }

  test("unknown declared writer feature blocks writes, not reads") {
    val dir = TestSpark.tmpDir("badwriter")
    val src = Seq((1L, "a")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.commitActions(t.snapshot().version + 1,
      Seq(JsonLog.writeAction(SingleAction(protocol = Some(Protocol(
        1, 7, None, Some(Seq("someWriterOnlyFeature"))))))),
      retryable = false)
    assert(t.toDF.count() == 1) // reads unaffected
    intercept[IllegalArgumentException] { t.append(src) }
    intercept[IllegalArgumentException] {
      t.setProperties(Map("foo" -> "bar"))
    }
  }

  test("widening ALTER declares the typeWidening feature") {
    val dir = TestSpark.tmpDir("widenfeat")
    val src = Seq((1, "a")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.widenColumn("k", org.apache.spark.sql.types.LongType)
    val p = t.snapshot().protocol
    assert(p.writerFeatures.get.contains("typeWidening"))
    assert(p.readerFeatures.get.contains("typeWidening"))
    // add-column-only ALTER does not
    val dir2 = TestSpark.tmpDir("addonly")
    DeltaTable.create(spark, dir2, src.schema)
    val t2 = DeltaTable.forPath(spark, dir2)
    t2.append(src)
    t2.addColumn("z", org.apache.spark.sql.types.DoubleType)
    assert(t2.snapshot().protocol.writerFeatures.isEmpty)
  }

  test("inactive invariants/constraints do not block writes") {
    // legacy writer version 2 implies invariants; harmless when none
    // are defined — the common delta-spark-written table shape
    val dir = TestSpark.tmpDir("legacy2")
    val src = Seq((1L, "a")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src) // protocol (1,2): appendOnly+invariants implied
    assert(t.toDF.count() == 1)
  }
}
