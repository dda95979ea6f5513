package graft.delta

import java.math.BigInteger
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics._
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Per-file add-action stats from parquet FOOTERS (reference
  * default-engine/src/stats.rs accumulates stats while writing; in
  * Spark the parquet writer has already aggregated per-chunk
  * min/max/null counts — reading the footer back is the single-pass
  * equivalent, a metadata-sized touch instead of a second full scan of
  * just-written data).
  *
  * Coverage: numRecords always; min/max for skipping-eligible top-level
  * primitives (DataSkipping.isEligible); nullCount for top-level
  * primitive leaves. Anything the footer cannot answer exactly — INT96
  * timestamps, NaN-poisoned float chunks, non-UTF-8 binary bounds,
  * nested/complex columns — is OMITTED, never guessed: readers treat a
  * missing stat as unknown and keep the file, so skipping stays
  * best-effort-correct.
  */
object ParquetFooterStats {

  val STATS_COLUMNS_KEY = "delta.dataSkippingStatsColumns"

  /** Files below this count are footer-read serially on the driver;
    * above it a Spark job fans the footer reads across executors.
    */
  private val DRIVER_READ_MAX = 32

  /** Top-level PHYSICAL column names to collect stats for, honoring
    * `delta.dataSkippingStatsColumns` (explicit list, wins) and
    * `delta.dataSkippingNumIndexedCols` (first N leaf columns in schema
    * order, default 32, -1 = all) — reference
    * scan/data_skipping/stats_schema/mod.rs + table_properties/mod.rs:38.
    * Clustering columns are ALWAYS included (the protocol requires
    * stats on clustering keys regardless of the properties). None = no
    * filtering. At 100 TB this is what keeps the log metadata-sized on
    * 1000-column tables: stats are per-file × per-column.
    */
  def selection(snap: Snapshot,
      clusterPhys: Set[String]): Option[Set[String]] = {
    val conf = snap.metadata.configuration
    val logical = snap.dataSchema
    // Delta column names resolve case-insensitively; an entry that
    // resolves to nothing is a user error and must FAIL, not silently
    // disable skipping for that column (delta-spark validates the
    // property the same way)
    def phys(name: String): String = {
      val f = logical.fields.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"delta.dataSkippingStatsColumns names unknown column '$name'" +
            s" (schema: ${logical.fieldNames.mkString(", ")})"))
      // geo columns carry no ordered stats — the reference feature-gates
      // the type as in-dev and excludes it from skipping entirely
      // (kernel/src/schema/mod.rs:2009-2016); naming one here is a user
      // error, rejected like an unknown column rather than silently
      // collecting nothing
      if (f.metadata.contains(GeoTypes.GEO_KEY))
        throw new IllegalArgumentException(
          s"delta.dataSkippingStatsColumns cannot include geospatial " +
            s"column '$name' (${f.metadata.getString(GeoTypes.GEO_KEY)})" +
            ": geometry/geography values have no min/max ordering")
      // same for other types with no flat min/max (binary, boolean,
      // array/map) — struct roots are allowed (selection unit for a
      // dotted path; their eligible leaves may gain stats later)
      val ok = f.dataType match {
        case _: StructType => true
        case dt => DataSkipping.isEligible(dt)
      }
      if (!ok) throw new IllegalArgumentException(
        s"delta.dataSkippingStatsColumns names column '$name' of type " +
          s"${f.dataType.simpleString}, which has no min/max stats")
      ColumnMapping.physicalName(f)
    }
    conf.get(STATS_COLUMNS_KEY) match {
      case Some(csv) =>
        // names may be backtick-quoted; a dotted path selects into a
        // struct — our stats are top-level, so the root field is the
        // selection unit (nested leaves carry no flat stats anyway)
        val names = csv.split(",").iterator.map(_.trim).filter(_.nonEmpty)
          .map { s =>
            if (s.startsWith("`") && s.endsWith("`") && s.length > 1)
              s.substring(1, s.length - 1)
            else s.split("\\.").head
          }.toSeq
        Some(names.map(phys).toSet ++ clusterPhys)
      case None =>
        val n = conf.get("delta.dataSkippingNumIndexedCols")
          .map(_.trim.toInt).getOrElse(32)
        if (n < 0) None
        else {
          def leaves(dt: DataType): Int = dt match {
            case s: StructType => s.fields.map(f => leaves(f.dataType)).sum
            case _ => 1
          }
          // a top-level field is included iff its FIRST leaf falls
          // below the indexed-column limit (leaf count is depth-first)
          var leaf = 0
          val keep = Set.newBuilder[String]
          logical.fields.foreach { f =>
            if (leaf < n) keep += ColumnMapping.physicalName(f)
            leaf += leaves(f.dataType)
          }
          Some(keep.result() ++ clusterPhys)
        }
    }
  }

  /** path string (as given) → stats JSON. `statsCols` filters which
    * top-level physical columns get min/max/nullCount (None = all);
    * numRecords is always collected.
    */
  def collect(spark: SparkSession, paths: Seq[String],
      physSchema: StructType, conf: Configuration,
      statsCols: Option[Set[String]] = None): Map[String, String] = {
    if (paths.isEmpty) return Map.empty
    if (paths.size <= DRIVER_READ_MAX)
      paths.map(p =>
        p -> statsJson(new Path(p), physSchema, conf, statsCols)).toMap
    else {
      val bconf = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(conf))
      val schemaJson = physSchema.json
      spark.sparkContext
        .parallelize(paths, math.min(paths.size, 256))
        .map { p =>
          val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
          p -> statsJson(new Path(p), schema, bconf.value.value, statsCols)
        }.collect().toMap
    }
  }

  /** Open `file`'s parquet footer through read options built on `conf`,
    * keeping `filter`'s part of the metadata. The one way this engine
    * opens a footer: the reader's default options build a fresh Hadoop
    * `Configuration` per open (~10 ms against ~1 ms).
    */
  private[delta] def readFooter(file: Path, conf: Configuration,
      filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).withMetadataFilter(filter).build())
    try reader.getFooter finally reader.close()
  }

  def statsJson(file: Path, physSchema: StructType,
      conf: Configuration, statsCols: Option[Set[String]] = None): String = {
    val footer = readFooter(file, conf, ParquetMetadataConverter.NO_FILTER)
    val blocks = footer.getBlocks.asScala.toSeq
    val numRecords = blocks.map(_.getRowCount).sum

    // chunks keyed by the FULL dotted column path — struct leaves skip
    // too (reference stats_schema/mod.rs builds nested stats schemas
    // over leaf paths). Array/map interiors produce parquet paths with
    // repetition segments (`col.list.element`) that match no schema
    // leaf path, which excludes them exactly as intended: their leaves
    // cannot answer a parent's bounds or null count.
    val chunksByPath: Map[Seq[String], Seq[ColumnChunkMetaData]] = blocks
      .flatMap(_.getColumns.asScala)
      .groupBy(_.getPath.toArray.toSeq.map(_.toString))

    // the statsCols selection unit is the top-level (root) field
    val leaves = DataSkipping.leafPaths(physSchema).filter {
      case (p, _) => statsCols.forall(_.contains(p.head))
    }
    val eligible = leaves.filter(l => DataSkipping.isEligible(l._2))
    val bounds = eligible.map { case (p, dt) =>
      p -> minMax(chunksByPath.get(p), dt)
    }.toMap
    val mins = eligible.map { case (p, _) => p -> bounds(p).map(_._1)
      .flatMap(v => StatsJson.renderSide(v, isMax = false)) }
    val maxs = eligible.map { case (p, _) => p -> bounds(p).map(_._2)
      .flatMap(v => StatsJson.renderSide(v, isMax = true)) }
    val nulls = leaves.map { case (p, _) => p ->
      nullCount(chunksByPath.get(p)).flatMap(v => StatsJson.renderValue(v)) }

    StatsJson.render(numRecords, mins, maxs, nulls)
  }

  /** Exact total null count, when every chunk recorded one. */
  private def nullCount(chunks: Option[Seq[ColumnChunkMetaData]])
      : Option[Long] = chunks.flatMap { cs =>
    if (cs.forall(c => c.getStatistics != null &&
        c.getStatistics.isNumNullsSet && c.getStatistics.getNumNulls >= 0))
      Some(cs.map(_.getStatistics.getNumNulls).sum)
    else None
  }

  /** Exact (min, max) in StatsJson's value domain, merged across row
    * groups; None when any chunk holding values lacks usable bounds.
    */
  private def minMax(chunks: Option[Seq[ColumnChunkMetaData]],
      dt: DataType): Option[(Any, Any)] = chunks.flatMap { cs =>
    val withValues = cs.filter { c =>
      val s = c.getStatistics
      // a chunk of only nulls contributes no bounds and that is exact
      !(s != null && s.isNumNullsSet && s.getNumNulls == c.getValueCount)
    }
    if (withValues.isEmpty) return None // all-null file: omit bounds
    val perChunk = withValues.map(c => chunkBounds(c, dt))
    if (perChunk.exists(_.isEmpty)) None
    else {
      val bs = perChunk.flatten
      val lt = comparator(dt)
      Some((bs.map(_._1).reduce((a, b) => if (lt(a, b)) a else b),
        bs.map(_._2).reduce((a, b) => if (lt(a, b)) b else a)))
    }
  }

  /** One chunk's (min, max) as renderable values; None = unusable. */
  private def chunkBounds(c: ColumnChunkMetaData,
      dt: DataType): Option[(Any, Any)] = {
    val s = c.getStatistics
    if (s == null || !s.hasNonNullValue) return None
    if (c.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT96)
      return None // INT96 stats are unordered junk by spec
    (s, dt) match {
      case (i: IntStatistics, ByteType | ShortType | IntegerType) =>
        Some((i.getMin, i.getMax))
      case (l: LongStatistics, LongType) => Some((l.getMin, l.getMax))
      case (f: FloatStatistics, FloatType) =>
        if (f.getMin.isNaN || f.getMax.isNaN) None
        else Some((f.getMin, f.getMax))
      case (d: DoubleStatistics, DoubleType) =>
        if (d.getMin.isNaN || d.getMax.isNaN) None
        else Some((d.getMin, d.getMax))
      case (b: BinaryStatistics, StringType) =>
        for (mn <- utf8(b.getMinBytes); mx <- utf8(b.getMaxBytes))
          yield (mn, mx)
      case (i: IntStatistics, DateType) =>
        Some((LocalDate.ofEpochDay(i.getMin.toLong),
          LocalDate.ofEpochDay(i.getMax.toLong)))
      case (l: LongStatistics, TimestampType) =>
        Some((microsToInstant(l.getMin), microsToInstant(l.getMax)))
      case (l: LongStatistics, TimestampNTZType) =>
        Some((microsToLocal(l.getMin), microsToLocal(l.getMax)))
      case (st, dec: DecimalType) => st match {
        case i: IntStatistics =>
          Some((java.math.BigDecimal.valueOf(i.getMin.toLong, dec.scale),
            java.math.BigDecimal.valueOf(i.getMax.toLong, dec.scale)))
        case l: LongStatistics =>
          Some((java.math.BigDecimal.valueOf(l.getMin, dec.scale),
            java.math.BigDecimal.valueOf(l.getMax, dec.scale)))
        case b: BinaryStatistics =>
          Some((new java.math.BigDecimal(
            new BigInteger(b.getMinBytes), dec.scale),
            new java.math.BigDecimal(
              new BigInteger(b.getMaxBytes), dec.scale)))
        case _ => None
      }
      case _ => None
    }
  }

  /** Strict UTF-8 decode that must re-encode to the same bytes —
    * guards against truncated/patched parquet binary bounds.
    */
  private def utf8(bytes: Array[Byte]): Option[String] = {
    val s = new String(bytes, UTF_8)
    if (java.util.Arrays.equals(s.getBytes(UTF_8), bytes)) Some(s) else None
  }

  private def microsToInstant(us: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)

  private def microsToLocal(us: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC)

  /** `a < b` in the value domain produced by chunkBounds. */
  private def comparator(dt: DataType): (Any, Any) => Boolean = dt match {
    case ByteType | ShortType | IntegerType =>
      (a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int]
    case LongType => (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long]
    case FloatType =>
      (a, b) => a.asInstanceOf[Float] < b.asInstanceOf[Float]
    case DoubleType =>
      (a, b) => a.asInstanceOf[Double] < b.asInstanceOf[Double]
    case StringType =>
      // parquet orders binary bounds by unsigned bytes == code-point
      // order; compare the same way, not by UTF-16 code units
      (a, b) => a.asInstanceOf[String].codePoints().toArray
        .zipAll(b.asInstanceOf[String].codePoints().toArray.toSeq, -1, -1)
        .find { case (x, y) => x != y }
        .exists { case (x, y) => x < y }
    case DateType => (a, b) =>
      a.asInstanceOf[LocalDate].isBefore(b.asInstanceOf[LocalDate])
    case TimestampType => (a, b) =>
      a.asInstanceOf[java.time.Instant]
        .isBefore(b.asInstanceOf[java.time.Instant])
    case TimestampNTZType => (a, b) =>
      a.asInstanceOf[LocalDateTime].isBefore(b.asInstanceOf[LocalDateTime])
    case _: DecimalType => (a, b) =>
      a.asInstanceOf[java.math.BigDecimal]
        .compareTo(b.asInstanceOf[java.math.BigDecimal]) < 0
    case other =>
      throw new IllegalArgumentException(s"no stats ordering for $other")
  }
}
