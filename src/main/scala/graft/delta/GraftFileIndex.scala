package graft.delta

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** A [[FileIndex]] backed by the log-replay file list (the
  * TahoeFileIndex pattern; reference: the declarative metadata scan plan
  * feeding the engine's scan, scan/mod.rs:1086-1107). The planner asks
  * THIS index for files instead of carrying N literal paths in the plan:
  *  - partition values come from the add actions' `partitionValues`,
  *    served as native partition columns — no per-file broadcast join
  *  - Catalyst's partition filters are evaluated here, so partition
  *    pruning composes with the log-level pruning for free
  *  - file sizes/mtimes come from the log, so planning makes ZERO
  *    filesystem calls for the file list
  *
  * Built STREAMING from an add iterator ([[GraftFileIndex.fromAdds]]):
  * the driver holds only this index's compact per-file `FileStatus` +
  * per-group partition values — never a `Seq[AddFile]`, a collected
  * `Row` array, and the index simultaneously. At 10⁷ files that is the
  * difference between one copy of the split list (which Spark's scan
  * exec materializes regardless — the delta-spark envelope) and three.
  * DV descriptors surviving the same pass ride along as [[dvRefs]],
  * keyed by [[GraftFileIndex.fileKey]].
  */
class GraftFileIndex private (
    spark: SparkSession,
    tableRoot: Path,
    physPartSchema: StructType,
    groups: IndexedSeq[(Map[String, String], Array[FileStatus])],
    val dvRefs: Seq[(String, DeletionVectorDescriptor)],
    totalBytes: Long) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(tableRoot)

  override def partitionSchema: StructType = physPartSchema

  override def sizeInBytes: Long = totalBytes

  def fileCount: Long = groups.iterator.map(_._2.length.toLong).sum

  override def refresh(): Unit = ()

  override def inputFiles: Array[String] =
    groups.iterator.flatMap(_._2.iterator.map(_.getPath.toString)).toArray

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val converters = physPartSchema.fields.map(f =>
      CatalystTypeConverters.createToCatalystConverter(f.dataType))
    val dirs = groups.map { case (pv, statuses) =>
      val values = InternalRow.fromSeq(
        physPartSchema.fields.zip(converters).map { case (f, conv) =>
          conv(PartitionValues.parse(pv.getOrElse(f.name, null),
            f.dataType))
        }.toSeq)
      PartitionDirectory(values, statuses)
    }
    // evaluate Catalyst's partition filters against the typed values
    // (NULL-extended semantics: a NULL result filters the partition out)
    if (partitionFilters.isEmpty) dirs
    else {
      val nameToIdx = physPartSchema.fieldNames.zipWithIndex.toMap
      val bound = partitionFilters.flatMap { f =>
        try Some(f.transform {
          case a: AttributeReference if nameToIdx.contains(a.name) =>
            BoundReference(nameToIdx(a.name), a.dataType, a.nullable)
        }) catch { case _: Exception => None }
      }
      dirs.filter(g => bound.forall(_.eval(g.values) == true))
    }
  }
}

object GraftFileIndex {

  /** The row key of a data file: exactly the string Spark's scan
    * reports as `_metadata.file_path` for the `FileStatus` at `path`
    * (Spark 4.1 `FileFormat.BASE_METADATA_EXTRACTORS`:
    * `new Path(pf.filePath.toPath.toString).toUri.toString`). Scans
    * carry that column verbatim as `__path`, so every per-file mask,
    * match result and join keys through here and no row ever
    * re-derives its file's identity.
    */
  def fileKey(path: Path): String =
    new Path(SparkPath.fromPath(path).toPath.toString).toUri.toString

  /** [[fileKey]] of the file an index over `tableRoot` serves for an
    * add — the driver side of every per-file lookup against `__path`.
    * Qualifies the root once.
    */
  def fileKeyOf(spark: SparkSession, tableRoot: Path): AddFile => String = {
    val root = qualifiedRoot(spark, tableRoot)
    a => fileKey(Storage.dataFile(root, a.path))
  }

  private def qualifiedRoot(spark: SparkSession, tableRoot: Path): Path =
    Storage.fs(tableRoot, spark.sessionState.newHadoopConf())
      .makeQualified(tableRoot)

  /** Single-pass streaming construction: group files by partition
    * values, collect DV references, and sum sizes while the iterator
    * drains (one bounded batch in flight when fed from
    * `toLocalIterator`). Peak driver memory = the finished index.
    */
  def fromAdds(spark: SparkSession, tableRoot: Path,
      adds: Iterator[AddFile],
      physPartSchema: StructType): GraftFileIndex = {
    val (groups, dv, total) = build(spark, tableRoot, adds)
    new GraftFileIndex(spark, tableRoot, physPartSchema, groups, dv, total)
  }

  private def build(spark: SparkSession, tableRoot: Path,
      adds: Iterator[AddFile]): (
      IndexedSeq[(Map[String, String], Array[FileStatus])],
      Seq[(String, DeletionVectorDescriptor)], Long) = {
    val root = qualifiedRoot(spark, tableRoot)
    val groups = mutable.LinkedHashMap
      .empty[Map[String, String], mutable.ArrayBuffer[FileStatus]]
    val dv = mutable.ArrayBuffer.empty[(String, DeletionVectorDescriptor)]
    var total = 0L
    adds.foreach { a =>
      val abs = Storage.dataFile(root, a.path)
      val st = new FileStatus(a.size, false, 1, 128L << 20,
        a.modificationTime, abs)
      groups.getOrElseUpdate(a.partitionValues,
        mutable.ArrayBuffer.empty[FileStatus]) += st
      a.deletionVector.foreach(d => dv += fileKey(abs) -> d)
      total += a.size
    }
    // canonical group order: the handoff arrives in shuffle-fetch
    // order (run-dependent), so sort groups by their partition values
    // — group count is bounded by distinct partition tuples, never by
    // file count. Within-group file order is immaterial: Spark's scan
    // exec re-sorts splits by size before scheduling.
    (groups.iterator.map { case (pv, b) => pv -> b.toArray }.toIndexedSeq
       .sortBy { case (pv, _) =>
         pv.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("/")
       },
      dv.toSeq, total)
  }
}
