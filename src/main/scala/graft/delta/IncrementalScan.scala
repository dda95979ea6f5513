package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental scan: the net file-action diff over a version range
  * (base, target] (reference: kernel/src/incremental_scan/mod.rs:26-60).
  * A consumer holding a snapshot at `base` applies the diff to reach
  * `target` without a full log replay: `add` rows are files to start
  * reading, `remove` rows are files to drop. Within the range the
  * newest action per (path, dvId) wins — same dedup key as full log
  * replay (log_replay/deduplicator.rs).
  *
  * Distributed: one schema-first JSON scan of the range's commits, one
  * groupBy on the file-action key.
  */
object IncrementalScan {

  def fileDiff(spark: SparkSession, tablePath: String, base: Long,
      target: Long): DataFrame = {
    require(base <= target, s"invalid range ($base, $target]")
    val root = new Path(tablePath)
    val fs = Storage.fs(root, spark.sessionState.newHadoopConf())
    val logDir = FileNames.logDir(root)
    val commits = Storage.listSorted(fs, logDir)
      .flatMap(st => FileNames.parse(st))
      .collect { case c: FileNames.CommitFile
          if c.version > base && c.version <= target => c }
    require(commits.map(_.version).sorted == (base + 1 to target),
      s"missing commits in ($base, $target] at $logDir")
    if (commits.isEmpty) {
      return spark.emptyDataFrame
    }

    spark.read.schema(LogSchema.full).json(commits.map(_.path.toString): _*)
      .withColumn("version",
        regexp_extract(col("_metadata.file_path"), raw"(\d{20})\.json", 1)
          .cast("long"))
      .filter(col("add").isNotNull || col("remove").isNotNull)
      .withColumn("key", Snapshot.fileKeyExpr)
      .groupBy(col("key"))
      .agg(max_by(struct(col("add"), col("remove")), col("version")).as("a"),
        max(col("version")).as("version"))
      .select(
        when(col("a.add").isNotNull, lit("add")).otherwise(lit("remove"))
          .as("action"),
        col("a.add").as("add"), col("a.remove").as("remove"),
        col("version"))
  }
}
