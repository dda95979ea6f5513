package graft.delta

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Physical-plan quality: the residual predicate must reach the parquet
  * scan as pushed filters, projections must prune the read schema, and
  * the data path must stay inside whole-stage codegen — the properties
  * that keep a 100 TB scan I/O-bound instead of CPU-bound.
  */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def li = spark.read
    .parquet("/root/testdata/sf0.001/lineitem.parquet")

  test("delta scan pushes the residual predicate into the parquet read") {
    val dir = TestSpark.tmpDir("pq")
    val src = li.filter($"l_quantity" < 10)
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    val df = t.scan(Some("l_quantity < 5")).toDF
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("l_quantity"), plan.take(800))
    // and the data path is inside whole-stage codegen ("*(n)" stages)
    assert(plan.contains("*(1)"), plan.take(400))
  }

  test("projection prunes the parquet read schema") {
    val dir = TestSpark.tmpDir("prune")
    val src = li.filter($"l_quantity" < 10)
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    val df = t.toDF.select("l_orderkey", "l_quantity")
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    // ReadSchema carries only the projected columns (+ join key meta)
    val read = scans.head.requiredSchema.fieldNames.toSet
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_comment") && !read.contains("l_shipmode"),
      read.toString)
  }

  test("DV row filtering is an in-scan mask: no join, no exchange") {
    val dir = TestSpark.tmpDir("dvplan")
    val src = li.filter($"l_quantity" < 10)
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.deleteWhereDV("l_quantity < 3")
    val plan = t.toDF.queryExecution.executedPlan.toString
    // positions must never travel through a join or shuffle — the mask
    // probes broadcast bitmap bytes inside the scan stage
    assert(!plan.contains("Join"), plan.take(800))
    assert(!plan.contains("Exchange"), plan.take(800))
    // the probe is a native codegen'd expression: the filter stage
    // stays inside WholeStageCodegen, and no ScalaUDF appears
    assert(plan.contains("dv_live"), plan.take(800))
    assert(!plan.contains("UDF"), plan.take(800))
    assert(plan.contains("*(1)"), plan.take(800))
    // rows carry `_metadata.file_path` verbatim as their file key: no
    // per-row regex or URI decode
    assert(!plan.contains("regexp_replace"), plan)
    assert(!plan.contains("url_decode"), plan)
  }

  test("optimized write: a partitioned append collapses to one file " +
      "per partition value") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("p", StringType)))
    val src = spark.range(0, 1000).select($"id".as("k"),
      concat(lit("p"), ($"id" % 3).cast("string")).as("p"))
      .repartition(8) // 8 input partitions x 3 values = up to 24 files

    def filesOf(dir: String): Int =
      new DeltaScan(DeltaTable.forPath(spark, dir).snapshot(), None)
        .collectAddFiles().size

    val owDir = TestSpark.tmpDir("ow-on")
    DeltaTable.create(spark, owDir, schema, Seq("p"),
      configuration = Map(DeltaTable.OPTIMIZE_WRITE_KEY -> "true"))
    DeltaTable.forPath(spark, owDir).append(src)
    assert(filesOf(owDir) == 3, "optimized write must emit one file " +
      s"per partition value, got ${filesOf(owDir)}")

    val plainDir = TestSpark.tmpDir("ow-off")
    DeltaTable.create(spark, plainDir, schema, Seq("p"))
    DeltaTable.forPath(spark, plainDir).append(src)
    assert(filesOf(plainDir) > 3, "control append should fragment " +
      s"(got ${filesOf(plainDir)} files)")

    // rows identical either way
    assert(DeltaTable.forPath(spark, owDir).toDF.count() == 1000)
    assert(DeltaTable.forPath(spark, owDir).toDF.select(sum($"k"))
      .head().getLong(0) ==
      DeltaTable.forPath(spark, plainDir).toDF.select(sum($"k"))
        .head().getLong(0))
  }

  test("log replay checkpoint arm broadcasts the commit keys") {
    val dir = TestSpark.tmpDir("bjoin")
    val src = li.filter($"l_quantity" < 6)
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.filter($"l_quantity" < 3))
    t.checkpoint()
    t.append(src.filter($"l_quantity" >= 3))
    // a log this small replays on the driver; the plan under test is
    // the distributed one
    spark.conf.set("graft.replay.driverMaxBytes", "0")
    val plan = try t.snapshot().latestActions
      .queryExecution.executedPlan.toString
    finally spark.conf.unset("graft.replay.driverMaxBytes")
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(600))
  }
}
