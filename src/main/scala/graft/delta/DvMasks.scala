package graft.delta

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Deletion-vector masks shipped to executors as COMPRESSED BITMAP BYTES
  * (reference kernel/src/scan/mod.rs:1337-1399 — DVs are applied as
  * per-file selection vectors, never materialized globally).
  *
  * Scale contract: row positions NEVER materialize as arrays — not on
  * the driver, not in a broadcast. What travels is the roaring-bitmap
  * bytes themselves (kilobytes per file for billions of deleted rows);
  * each executor deserializes them once (the `@transient lazy` below
  * runs once per deserialized broadcast value, i.e. once per executor)
  * and the scan probes `contains(rowIndex)` per row — O(1) against the
  * compressed tree, inside the scan stage, no join, no shuffle.
  *
  * Masks key on [[GraftFileIndex.fileKey]] — the scan's own
  * `_metadata.file_path`, which the probe reads as a `UTF8String`, so a
  * lookup builds no Java string per row.
  */
class DvMasks(val bytesByPath: Map[String, Array[Byte]])
    extends Serializable {
  @transient private lazy val bitmaps
      : Map[UTF8String, Roaring64NavigableMap] =
    bytesByPath.map { case (p, b) =>
      UTF8String.fromString(p) -> DeletionVectors.deserialize(b)
    }

  def contains(path: UTF8String, ridx: Long): Boolean =
    bitmaps.get(path).exists(_.contains(ridx))
}

/** Per-file pre/post DV-swap diff masks for CDF resolution (reference
  * table_changes/resolve_dvs.rs): `restored` = rows live again
  * (old DV minus new), `deleted` = rows newly dead (new minus old) —
  * both computed at bitmap level via andNot, shipped as bytes. Keyed by
  * commit version, then by [[GraftFileIndex.fileKey]]: one collapsed
  * scan arm serves files from many commits, and the same file may be
  * swapped by several of them.
  */
class DvSwapMasks(
    byVersion: Map[Long, Map[String, (Array[Byte], Array[Byte])]])
    extends Serializable {
  @transient private lazy val maps: Map[Long,
      Map[UTF8String, (Roaring64NavigableMap, Roaring64NavigableMap)]] =
    byVersion.map { case (v, files) =>
      v -> files.map { case (p, (res, del)) =>
        UTF8String.fromString(p) -> ((DeletionVectors.deserialize(res),
          DeletionVectors.deserialize(del)))
      }
    }

  /** "insert" (restored), "delete" (newly deleted), or null (unchanged —
    * the row is not part of this commit's change feed).
    */
  def changeOf(version: Long, path: UTF8String, ridx: Long): UTF8String =
    maps.get(version).flatMap(_.get(path)) match {
      case Some((res, del)) =>
        if (res.contains(ridx)) DvSwapMasks.INSERT
        else if (del.contains(ridx)) DvSwapMasks.DELETE
        else null
      case None => null
    }
}

object DvSwapMasks {
  private val INSERT = UTF8String.fromString("insert")
  private val DELETE = UTF8String.fromString("delete")
}

object DvMasks {

  /** How many descriptors we read serially on the driver before handing
    * the byte loads to a distributed job (each read is one small-range
    * storage GET; past this it's listing-RPC-shaped driver work).
    */
  private val DRIVER_READ_MAX = 64

  /** Load the bitmap bytes for `(fileKey → descriptor)` pairs.
    * Few files: driver reads them directly. Many files: a Spark job
    * fans the reads across executors and collects only the compressed
    * bytes.
    */
  def load(spark: SparkSession, tableRoot: Path,
      refs: Seq[(String, DeletionVectorDescriptor)],
      conf: Configuration): DvMasks = {
    val bytes: Seq[(String, Array[Byte])] =
      if (refs.size <= DRIVER_READ_MAX)
        refs.map { case (p, dv) =>
          p -> DeletionVectors.readBitmapBytes(dv, tableRoot, conf)
        }
      else {
        val sc = spark.sparkContext
        val bconf = sc.broadcast(
          new org.apache.spark.util.SerializableConfiguration(conf))
        val rootStr = tableRoot.toString
        sc.parallelize(refs, math.min(refs.size, 256))
          .map { case (p, dv) =>
            p -> DeletionVectors.readBitmapBytes(
              dv, new Path(rootStr), bconf.value.value)
          }.collect().toSeq
      }
    new DvMasks(bytes.toMap)
  }
}
