package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish corpus (TESTDATA.md).
  * Every `SparkEntry.queries` entry receives an `sfDir` and resolves
  * tables through here so sf0.001/0.01/0.1 are interchangeable.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) (reads as raw
      // int64 under nanosAsLong) in some corpus generations and as
      // TIMESTAMP(MICROS, ntz) (reads as TIMESTAMP_NTZ) in others. Branch
      // on the type the scan actually produced and normalize to a UTC
      // TimestampType either way, so queries see one stable schema.
      import org.apache.spark.sql.functions.expr
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
            .forall(_ != "true"))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          // zone-PINNED cast: a plain cast reinterprets the wall clock
          // in the session zone, shifting every instant on non-UTC
          // ad-hoc sessions (the nanos path above is epoch-based and
          // immune; this branch must match it)
          raw.withColumn("ts", org.apache.spark.sql.graft.StreamingShim
            .column(org.apache.spark.sql.catalyst.expressions.Cast(
              org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute("ts"),
              org.apache.spark.sql.types.TimestampType, Some("UTC"))))
        case _ => raw
      }
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }
  }
}
