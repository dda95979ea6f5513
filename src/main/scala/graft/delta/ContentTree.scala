package graft.delta

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Adaptive-Metadata-Tree content-tree support (reference
  * kernel/src/content_tree/{mod,stats,dv_conversion}.rs; RFC
  * delta-io/delta#6978). The manifest-commit `checkpoint` ACTION model
  * lives in [[AdaptiveMetadata]]; this module is the tree CONTENT:
  * the node-entry row shape, the Delta→Iceberg deletion-vector
  * conversion, and the stats field-id space.
  *
  * Spark-first shape: a content-tree node is a parquet file of entry
  * rows, so construction is a distributed `DataFrame` transform over
  * the snapshot's live adds ([[entriesDF]]) and reading is a parquet
  * scan + streamed decode back to add actions ([[addFileIterator]]) —
  * at millions of files neither direction materializes the file list
  * on the driver beyond the scan's own compact index.
  */
object ContentTree {

  // ==== stats field-id space (reference content_tree/stats.rs) ====

  /** Stats-per-column stride: each column owns a 200-id block. */
  val NUM_SUPPORTED_STATS_PER_COLUMN: Int = 200

  /** Start of the data-column stats space. */
  val STATS_SPACE_FIELD_ID_START_FOR_DATA_FIELDS: Int = 10000

  /** Start of the reserved-metadata stats space `[9000, 10000)`. */
  val STATS_SPACE_FIELD_ID_START_FOR_METADATA_FIELDS: Int = 9000

  /** Exclusive upper bound of the whole stats field-id range. */
  val STATS_SPACE_FIELD_ID_END: Int = 200000000

  /** Base id of the last data-column stats block that fits. */
  val MAX_DATA_STATS_FIELD_ID: Int =
    STATS_SPACE_FIELD_ID_END - NUM_SUPPORTED_STATS_PER_COLUMN

  /** Largest data field id whose stats block fits in the range. */
  val MAX_DATA_FIELD_ID: Int =
    (MAX_DATA_STATS_FIELD_ID - STATS_SPACE_FIELD_ID_START_FOR_DATA_FIELDS) /
      NUM_SUPPORTED_STATS_PER_COLUMN

  /** Iceberg reserved id for `_last_updated_sequence_number`. */
  val LAST_UPDATED_SEQUENCE_NUMBER_FIELD_ID: Int = 2147483539

  /** Iceberg reserved id for `_row_id`. */
  val ROW_ID_FIELD_ID: Int = 2147483540

  /** The only reserved metadata field ids with tracked stats. */
  val SUPPORTED_METADATA_FIELD_IDS: Seq[Int] =
    Seq(LAST_UPDATED_SEQUENCE_NUMBER_FIELD_ID, ROW_ID_FIELD_ID)

  /** Base field id of a column's shredded stats struct
    * (stats.rs `field_id_to_statistics_base`): metadata fields map
    * into `[9000, 10000)`, data fields `[0, MAX_DATA_FIELD_ID]` into
    * `[10000, 200000000)`; anything else has no stats space.
    */
  def fieldIdToStatisticsBase(fieldId: Int): Option[Int] =
    if (SUPPORTED_METADATA_FIELD_IDS.contains(fieldId))
      Some(STATS_SPACE_FIELD_ID_START_FOR_METADATA_FIELDS +
        NUM_SUPPORTED_STATS_PER_COLUMN *
          (fieldId - LAST_UPDATED_SEQUENCE_NUMBER_FIELD_ID))
    else if (fieldId >= 0 && fieldId <= MAX_DATA_FIELD_ID)
      Some(STATS_SPACE_FIELD_ID_START_FOR_DATA_FIELDS +
        NUM_SUPPORTED_STATS_PER_COLUMN * fieldId)
    else None

  // ==== enums (content_tree/mod.rs) ====

  object DataContentType {
    val Data = 0
    val PositionDeletes = 1
    val EqualityDeletes = 2
    val DataManifest = 3
    val DeleteManifest = 4
  }

  object TrackingStatus {
    val Existing = 0
    val Added = 1
    val Deleted = 2
    val Replaced = 3
    val Modified = 4
  }

  // ==== DV conversion (content_tree/dv_conversion.rs) ====

  /** Iceberg-side deletion-vector reference of a content-tree entry
    * (mod.rs `DeletionVectorInfo`): resolved location, blob offset,
    * FULL-blob size (Delta's `sizeInBytes` + 8 for the 4-byte length
    * prefix and 4-byte trailing CRC of the Iceberg framing), and the
    * set-bit count.
    */
  case class DeletionVectorInfo(location: String, offset: Long,
      sizeInBytes: Long, cardinality: Long)

  /** Delta descriptor → Iceberg DV info (dv_conversion.rs
    * `extract_deletion_vector_content`): relative descriptors z85-
    * decode to `<prefix>/deletion_vector_<uuid>.bin`, absolute ones
    * pass through verbatim, inline ones fail (they must be persisted
    * before entering tree metadata). Absent offset defaults to 1 — a
    * persisted DV file opens with a 1-byte version header.
    */
  def extractDeletionVectorContent(
      dv: DeletionVectorDescriptor): DeletionVectorInfo =
    DeletionVectorInfo(
      resolveDvLocation(dv.storageType, dv.pathOrInlineDv),
      dv.offset.map(_.toLong).getOrElse(1L),
      dv.sizeInBytes.toLong + 8L,
      dv.cardinality)

  /** The descriptor→location arm of [[extractDeletionVectorContent]],
    * also callable row-at-a-time from the codegen'd
    * [[DvResolveLocExpr]] (the entry-construction projection must stay
    * inside whole-stage codegen — a Dataset.map here paid interpreted
    * row encoding over the full `content_stats` width on EVERY entry).
    */
  def resolveDvLocation(storageType: String,
      pathOrInlineDv: String): String = storageType match {
    case "p" => pathOrInlineDv
    case "u" => DeletionVectors.relativePath("u", pathOrInlineDv, "")
      .getOrElse(throw new IllegalArgumentException(
        s"cannot decode relative DV '$pathOrInlineDv'"))
    case "i" => throw new IllegalArgumentException(
      "Inline deletion vectors are not supported. They must be " +
        "persisted first.")
    case other => throw new IllegalArgumentException(
      s"unknown DV storage type '$other'")
  }

  /** Iceberg DV info → Delta descriptor for the read path: the
    * location becomes an absolute persisted descriptor against the
    * table root, the framing +8 is removed. Inverse of
    * [[extractDeletionVectorContent]] up to storage-type
    * normalization (relative descriptors come back as absolute ones —
    * the bitmap bytes read identically).
    */
  def dvInfoToDescriptor(info: DeletionVectorInfo,
      tableRootUriPath: String): DeletionVectorDescriptor = {
    val abs =
      if (AdaptiveMetadata.hasScheme(info.location) ||
          info.location.startsWith("/")) info.location
      else tableRootUriPath.stripSuffix("/") + "/" + info.location
    DeletionVectorDescriptor("p", abs,
      Some(info.offset.toInt), (info.sizeInBytes - 8L).toInt,
      info.cardinality)
  }

  // ==== entry rows ====

  /** Attach a parquet field id (Iceberg projects by id, not name). */
  private def fid(f: StructField, id: Int): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putLong("parquet.field.id", id).build())

  private val dvInfoSchema = StructType(Seq(
    fid(StructField("location", StringType), 155),
    fid(StructField("offset", LongType), 144),
    fid(StructField("sizeInBytes", LongType), 145),
    fid(StructField("cardinality", LongType), 156)))

  /** Tracking sub-struct (mod.rs `TrackingInfo`, field ids 0-7 + 142).
    * `deletedPositions`/`replacedPositions` are serialized portable
    * roaring bitmaps — the same framing inline DVs use — populated on
    * Modified entries whose DV changed in the maintained range:
    * deleted = rows newly deleted (newDV andNot oldDV), replaced =
    * rows whose deletion was reverted (oldDV andNot newDV). The
    * reference leaves `replaced_positions` unset pending its DvCache
    * (mod.rs:133); both sides agree they are cleared between commits.
    */
  private val trackingSchema = StructType(Seq(
    fid(StructField("status", IntegerType, nullable = false), 0),
    fid(StructField("snapshotId", LongType), 1),
    fid(StructField("dvSnapshotId", LongType), 5),
    fid(StructField("sequenceNumber", LongType), 3),
    fid(StructField("fileSequenceNumber", LongType), 4),
    fid(StructField("firstRowId", LongType), 142),
    fid(StructField("deletedPositions", BinaryType), 6),
    fid(StructField("replacedPositions", BinaryType), 7)))

  /** Per-manifest statistics carried by root {Data,Delete}Manifest
    * entries (mod.rs `ManifestInfo`, field ids 504-523).
    */
  val manifestInfoSchema: StructType = StructType(Seq(
    fid(StructField("addedFilesCount", IntegerType), 504),
    fid(StructField("existingFilesCount", IntegerType), 505),
    fid(StructField("deletedFilesCount", IntegerType), 506),
    fid(StructField("replacedFilesCount", IntegerType), 520),
    fid(StructField("addedRowsCount", LongType), 512),
    fid(StructField("existingRowsCount", LongType), 513),
    fid(StructField("deletedRowsCount", LongType), 514),
    fid(StructField("replacedRowsCount", LongType), 521),
    fid(StructField("minSequenceNumber", LongType), 516),
    fid(StructField("dv", BinaryType), 522),
    fid(StructField("dvCardinality", LongType), 523)))

  /** The content-tree node-entry row shape (mod.rs
    * `ContentTreeNodeEntry`, field ids per its `#[field_id]`
    * annotations; `tags` deliberately carries NO id — it postdates the
    * fixed AMF schema and is matched by name, mod.rs:226-231).
    * `partition` holds Delta's string-serialized partition values,
    * matched by NAME only — the Iceberg field id 102 belongs to the
    * spec-driven TYPED partition tuple (mod.rs:165-171), which rides
    * as the dynamically-schema'd [[PARTITION_TUPLE]] column appended
    * by [[writeTree]] (children at the Iceberg partition-field id
    * space 1000+). The dynamically-schema'd `content_stats` struct is
    * likewise NOT part of this base shape — leaf nodes append it via
    * [[entrySchemaWithStats]].
    */
  val entrySchema: StructType = StructType(Seq(
    fid(StructField("contentType", IntegerType, nullable = false), 134),
    fid(StructField("location", StringType, nullable = false), 100),
    fid(StructField("fileFormat", StringType, nullable = false), 101),
    fid(StructField("tracking", trackingSchema, nullable = false), 147),
    fid(StructField("deletionVector", dvInfoSchema), 148),
    fid(StructField("specId", IntegerType, nullable = false), 141),
    StructField("partition", MapType(StringType, StringType)),
    fid(StructField("sortOrderId", IntegerType), 140),
    fid(StructField("recordCount", LongType), 103),
    fid(StructField("fileSizeInBytes", LongType), 104),
    fid(StructField("manifestInfo", manifestInfoSchema), 150),
    fid(StructField("keyMetadata", BinaryType), 131),
    fid(StructField("splitOffsets", ArrayType(LongType)), 132),
    fid(StructField("equalityIds", ArrayType(IntegerType)), 135),
    fid(StructField("formatVersion", IntegerType, nullable = false), 157),
    StructField("tags", MapType(StringType, StringType))))

  /** Name of the typed partition-tuple column (the Iceberg `partition`
    * field, id 102): one field per partition column in identity-spec
    * order, typed per the table schema, children anchored at the
    * Iceberg partition-field id space (1000 + ordinal). Appended after
    * the base shape so positional Row builders stay valid.
    */
  val PARTITION_TUPLE = "partition_tuple"

  /** Iceberg partition-field ids start at 1000 (spec v2). */
  val PARTITION_FIELD_ID_START = 1000

  /** Identity-spec partition tuple schema of a snapshot: physical
    * partition column names (the same key space as the string map),
    * each typed per the table schema with parquet field id 1000+i.
    * Empty for unpartitioned tables (the column is then omitted —
    * parquet cannot persist an empty group).
    */
  def partitionTupleSchema(snap: Snapshot): StructType =
    StructType(snap.metadata.partitionColumns.zipWithIndex.flatMap {
      case (c, i) =>
        snap.schema.fields.find(_.name == c).map { f =>
          fid(StructField(ColumnMapping.physicalName(f), f.dataType),
            PARTITION_FIELD_ID_START + i)
        }
    })

  /** Derive the typed tuple from Delta's string map (the
    * PartitionValues parse rules: empty string → NULL except for
    * string/binary). No-op on unpartitioned tables and on frames that
    * already carry the column; entries without partition values (a
    * delete descriptor, a manifest row) read a null-valued tuple, per
    * mod.rs:167-168.
    */
  private def withPartitionTuple(snap: Snapshot,
      entries: DataFrame): DataFrame = {
    val ps = partitionTupleSchema(snap)
    if (ps.isEmpty ||
        entries.schema.fieldNames.contains(PARTITION_TUPLE)) entries
    else entries.withColumn(PARTITION_TUPLE, struct(
      ps.fields.toIndexedSeq.map(f =>
        PartitionValues.castExpr("partition", f.name, f.dataType)
          .as(f.name)): _*))
  }

  /** Name of the dynamically-schema'd stats struct (mod.rs:33). */
  val CONTENT_STATS = "content_stats"

  /** Constant subfield offsets from a column's stats base id
    * (stats.rs:10-13 fixes the 200-id stride and that "each subfield is
    * a constant offset from the top level stats structure"; the struct
    * itself takes the base, subfields base+1.. in declaration order).
    */
  val STAT_SUBFIELDS: Seq[(String, Int)] = Seq(
    "lower_bound" -> 1, "upper_bound" -> 2, "tight_bounds" -> 3,
    "value_count" -> 4, "null_value_count" -> 5, "nan_value_count" -> 6,
    "avg_value_size_in_bytes" -> 7)

  /** The `content_stats` struct schema for a table's data schema
    * (stats.rs stats_schema): column-major — one sub-struct per
    * skipping-eligible TOP-LEVEL data column (physical name), its
    * parquet field ids anchored at [[fieldIdToStatisticsBase]] of the
    * column's field id (`delta.columnMapping.id` when mapped, ordinal
    * otherwise). Bounds take the column's own type.
    */
  def contentStatsSchema(dataSchema: StructType): StructType =
    contentStatsSchema(dataSchema, None)

  /** [[contentStatsSchema]] honoring the table's stats-column
    * selection (`delta.dataSkippingStatsColumns` /
    * `dataSkippingNumIndexedCols`, clustering keys always in): columns
    * the writer never collects stats for carry no empty stats struct
    * in every tree entry — on a 100-column table with the default
    * 32-col cap this shrinks the per-entry stats payload ~3x, the
    * dominant cost of tree construction.
    */
  def contentStatsSchema(snap: Snapshot): StructType =
    contentStatsSchema(snap.dataSchema,
      ParquetFooterStats.selection(snap,
        Clustering.columns(snap).flatMap(c =>
          snap.schema.fields.find(_.name == c)
            .map(ColumnMapping.physicalName)).toSet))

  /** Core: `keep` = physical top-level names to include (None = all
    * eligible columns).
    */
  def contentStatsSchema(dataSchema: StructType,
      keep: Option[Set[String]]): StructType = {
    val phys = ColumnMapping.physicalSchema(dataSchema)
    StructType(phys.fields.zipWithIndex.flatMap { case (f, i) =>
      if (!DataSkipping.isEligible(f.dataType) ||
          !keep.forall(_.contains(f.name))) None
      else {
        val colId =
          if (f.metadata.contains(ColumnMapping.ID_KEY))
            f.metadata.getLong(ColumnMapping.ID_KEY).toInt
          else i
        fieldIdToStatisticsBase(colId).map { base =>
          def dtOf(name: String): DataType = name match {
            case "lower_bound" | "upper_bound" => f.dataType
            case "tight_bounds" => BooleanType
            case _ => LongType
          }
          fid(StructField(f.name, StructType(STAT_SUBFIELDS.map {
            case (n, off) => fid(StructField(n, dtOf(n)), base + off)
          })), base)
        }
      }
    })
  }

  /** Leaf-node entry schema: the base shape + `content_stats` (after
    * `fileSizeInBytes`, mirroring the reference field order).
    */
  def entrySchemaWithStats(statsSchema: StructType): StructType =
    StructType(entrySchema.fields.flatMap { f =>
      if (f.name == "manifestInfo")
        Seq(fid(StructField(CONTENT_STATS, statsSchema), 146), f)
      else Seq(f)
    })

  /** Entry-shape invariants (mod.rs field docs): equality ids appear
    * exactly on EqualityDeletes entries, manifest info exactly on
    * {Data,Delete}Manifest entries, puffin format only for delete
    * content, and manifest sequence numbers must agree.
    */
  def validateEntry(contentType: Int, fileFormat: String,
      hasEqualityIds: Boolean, hasManifestInfo: Boolean,
      sequenceNumber: Option[Long],
      fileSequenceNumber: Option[Long]): Unit = {
    val isManifest = contentType == DataContentType.DataManifest ||
      contentType == DataContentType.DeleteManifest
    require(hasEqualityIds ==
      (contentType == DataContentType.EqualityDeletes),
      "equalityIds must be set exactly on EqualityDeletes entries")
    require(hasManifestInfo == isManifest,
      "manifestInfo must be set exactly on manifest entries")
    require(fileFormat == "parquet" || fileFormat == "puffin",
      s"unsupported file format '$fileFormat'")
    require(fileFormat == "parquet" ||
      contentType == DataContentType.PositionDeletes,
      "puffin format is only valid for PositionDeletes entries")
    require(!isManifest || sequenceNumber == fileSequenceNumber,
      "manifest entries require sequenceNumber == fileSequenceNumber")
  }

  /** Distributed content-tree construction: one entry row per live
    * add of the snapshot (status Added at its commit version, DV
    * converted per [[extractDeletionVectorContent]] — inline DVs
    * persisted first via [[persistInlineDvs]], recordCount and
    * `content_stats` from the add's parsed stats). All per-FILE
    * metadata work inside one codegen'd projection; data rows are
    * never touched.
    */
  def entriesDF(snap: Snapshot): DataFrame =
    entriesFromAdds(persistInlineDvs(snap, snap.allAdds),
      contentStatsSchema(snap))

  /** Tree entries cannot reference inline DVs — dv_conversion.rs
    * rejects them ("they must be persisted first") and leaves the
    * persisting to its caller. A Spark catalog build does it itself:
    * every 'i' descriptor's bitmap is re-persisted through ONE packed
    * standard DV `.bin` file and the add rows come back carrying the
    * 'u' descriptors. The file lands under `_delta_log/_amt` (encoded
    * via the protocol's 'u' prefix rule): VACUUM protects only files
    * the LOG references, and a tree-only `.bin` under the data root
    * would be vacuumed out from under the tree. Inline bitmaps are
    * ≤ [[DeletionVectors.INLINE_MAX_BYTES]] by protocol rule, so the
    * collect here is a KB-scale-per-file driver envelope; tables whose
    * protocol lacks the deletionVectors feature skip the probe job
    * entirely.
    */
  private def persistInlineDvs(snap: Snapshot,
      adds: DataFrame): DataFrame = {
    if (!hasDvFeature(snap)) return adds
    val inline = adds
      .filter(col("add.deletionVector.storageType") === "i")
      .select(col("add.path").as("p"),
        col("add.deletionVector.pathOrInlineDv").as("z85"),
        col("add.deletionVector.sizeInBytes").as("sz"),
        col("add.deletionVector.cardinality").as("card"))
      .collect()
    persistInlineDvsFromRows(snap, adds, inline.toIndexedSeq)
  }

  /** The persist half of [[persistInlineDvs]] with the probe rows
    * (`p`/`z85`/`sz`/`card` by name) supplied by the caller — lets
    * updateRoot fold the inline-DV probe into a shared probe job.
    */
  private def persistInlineDvsFromRows(snap: Snapshot,
      adds: DataFrame, inline: Seq[Row]): DataFrame = {
    if (inline.isEmpty) return adds
    val conf = snap.spark.sessionState.newHadoopConf()
    // keyed by the add path — unique within a snapshot's live adds
    // and within a range diff's per-path winners
    val bitmaps = inline.toIndexedSeq.map { r =>
      val desc = DeletionVectorDescriptor("i", r.getAs[String]("z85"),
        None, r.getAs[Number]("sz").intValue, r.getAs[Number]("card")
          .longValue)
      (r.getAs[String]("p"),
        DeletionVectors.readBitmapBytes(desc, snap.tableRoot, conf),
        desc.cardinality)
    }
    val descs = DeletionVectors.writeBitmaps(bitmaps, snap.tableRoot,
      conf, prefix = "_delta_log/_amt")
    val repl = bitmaps.map { case (p, _, _) =>
      val d = descs(p)
      (p, d.storageType, d.pathOrInlineDv,
        d.offset.get, d.sizeInBytes, d.cardinality)
    }
    import snap.spark.implicits._
    val replDf = repl.toDF("__p", "__st", "__pv", "__off", "__sz",
      "__card")
    adds.join(broadcast(replDf), col("add.path") === col("__p"), "left")
      .withColumn("add", when(col("__p").isNotNull,
        col("add").withField("deletionVector", struct(
          col("__st").as("storageType"),
          col("__pv").as("pathOrInlineDv"),
          col("__off").as("offset"),
          col("__sz").as("sizeInBytes"),
          col("__card").as("cardinality"))))
        .otherwise(col("add")))
      .drop("__p", "__st", "__pv", "__off", "__sz", "__card")
  }

  /** Entry construction over any adds-shaped DataFrame (columns `add`
    * struct + `version`): the shared mapping for full-tree builds and
    * incremental updates. `statsSchema` drives the `content_stats`
    * shape (the snapshot-aware [[contentStatsSchema]] at call sites);
    * stats JSON keys are physical names on mapped tables, which is
    * what it emits.
    */
  private[delta] def entriesFromAdds(adds: DataFrame,
      statsSchema: StructType): DataFrame = {
    val boundsStruct = StructType(statsSchema.fields.map(f =>
      StructField(f.name, f.dataType.asInstanceOf[StructType]
        .apply("lower_bound").dataType)))
    val nullsStruct = StructType(
      statsSchema.fieldNames.map(StructField(_, LongType)))
    val parseSchema = StructType(Seq(
      StructField("numRecords", LongType),
      StructField("tightBounds", BooleanType),
      StructField("minValues", boundsStruct),
      StructField("maxValues", boundsStruct),
      StructField("nullCount", nullsStruct)))
    // Pure-Column construction: the projection (incl. the 700+ leaf
    // `content_stats` struct on a 100-col table) runs inside ONE
    // whole-stage-codegen loop. The previous Dataset.map paid
    // interpreted RowEncoder serialization per entry — ~10x on the
    // 300k-add bench table. from_json lands in its own projection
    // (CollapseProject keeps non-cheap exprs single-evaluation), so
    // the stats JSON parses once per row no matter how many struct
    // leaves reference it.
    val parsed = adds.select(col("add"), col("version"),
      from_json(col("add.stats"), parseSchema).as("_st"))
    val st = col("_st")
    val dv = col("add.deletionVector")
    val dvLoc = org.apache.spark.sql.graft.StreamingShim.column(
      DvResolveLocExpr(
        org.apache.spark.sql.graft.ColumnExprShim.expression(
          dv.getField("storageType")),
        org.apache.spark.sql.graft.ColumnExprShim.expression(
          dv.getField("pathOrInlineDv"))))
    val dvInfo = when(dv.isNotNull && dv.getField("storageType").isNotNull,
      struct(
        dvLoc.as("location"),
        coalesce(dv.getField("offset").cast(LongType), lit(1L))
          .as("offset"),
        (dv.getField("sizeInBytes").cast(LongType) + lit(8L))
          .as("sizeInBytes"),
        dv.getField("cardinality").cast(LongType).as("cardinality")))
    val numRecords = st.getField("numRecords")
    // Delta stats are tight unless the add carries tightBounds=false
    // (a DV'd file's wide bounds) — either way lower/upper remain
    // conservative bounds, so skipping stays sound
    val tight = coalesce(st.getField("tightBounds"), lit(true))
    val contentStats = when(st.isNotNull, struct(
      statsSchema.fieldNames.toIndexedSeq.map { c =>
        struct(
          st.getField("minValues").getField(c).as("lower_bound"),
          st.getField("maxValues").getField(c).as("upper_bound"),
          tight.as("tight_bounds"),
          numRecords.as("value_count"),
          st.getField("nullCount").getField(c).as("null_value_count"),
          lit(null).cast(LongType).as("nan_value_count"),
          lit(null).cast(LongType).as("avg_value_size_in_bytes"))
          .as(c)
      }: _*))
    val location = Storage.decodeUriPathCol(col("add.path"))
    parsed.select(
      lit(DataContentType.Data).as("contentType"),
      location.as("location"),
      lit("parquet").as("fileFormat"),
      struct(
        lit(TrackingStatus.Added).as("status"),
        col("version").as("snapshotId"),
        lit(null).cast(LongType).as("dvSnapshotId"),
        col("version").as("sequenceNumber"),
        col("version").as("fileSequenceNumber"),
        col("add.baseRowId").as("firstRowId"),
        lit(null).cast(BinaryType).as("deletedPositions"),
        lit(null).cast(BinaryType).as("replacedPositions"))
        .as("tracking"),
      dvInfo.as("deletionVector"),
      lit(0).as("specId"), // single Delta partition spec
      col("add.partitionValues").as("partition"),
      lit(null).cast(IntegerType).as("sortOrderId"),
      numRecords.as("recordCount"),
      col("add.size").as("fileSizeInBytes"),
      contentStats.as(CONTENT_STATS),
      lit(null).cast(manifestInfoSchema).as("manifestInfo"),
      lit(null).cast(BinaryType).as("keyMetadata"),
      lit(null).cast(ArrayType(LongType)).as("splitOffsets"),
      lit(null).cast(ArrayType(IntegerType)).as("equalityIds"),
      lit(4).as("formatVersion"), // Iceberg/AMT format version
      col("add.tags").as("tags"))
      // re-anchor the parquet field ids dropped by expression selects
      .to(asNullable(entrySchemaWithStats(statsSchema)))
  }

  /** Nullability-relaxed twin of a schema: expression- and join-built
    * frames are nullable throughout, and `.to()` refuses a nullable
    * input against a non-nullable target field.
    */
  private def asNullable(st: StructType): StructType =
    NestedFields.map(st) { (path, f) =>
      if (NestedFields.viaStructs(path)) f.copy(nullable = true) else f
    }

  /** Entries per leaf node before another leaf level would be needed;
    * with the default fan-out a 5M-add table lands ~300k entries
    * (≈ tens of MB of parquet) per leaf.
    */
  val DEFAULT_LEAF_FANOUT = 16

  /** Bench-probe phase timing (`-Dgraft.tree.phaseTimings=true`):
    * prints one TREEPHASE line per internal phase of writeTree /
    * updateRoot so the bench probes can attribute wall time to the
    * phase that actually dominates. Off by default — a plain
    * passthrough costing one sys-prop read.
    */
  private def phase[A](name: String)(f: => A): A =
    if (!sys.props.get("graft.tree.phaseTimings").contains("true")) f
    else {
      val t0 = System.nanoTime(); val r = f
      println(f"TREEPHASE $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

  /** Write the snapshot's content tree as a TWO-LEVEL manifest
    * hierarchy under `_delta_log/_amt/` (mod.rs:240-242 `DataManifest`
    * root entries + mod.rs:302-342 `ManifestInfo`): leaf nodes are
    * written partition-grouped and DISTRIBUTED (one shuffle on the
    * leaf key — never a single-task funnel), the root node is one
    * small parquet of `DataManifest` entries whose `manifestInfo`
    * aggregates each leaf. Returns a [[AdaptiveMetadata.ContentRoot]]
    * pointing at the root node (path relative to the table root, per
    * the Iceberg V4 relative-path rule AdaptiveMetadata.resolve
    * applies).
    */
  def writeRoot(snap: Snapshot): AdaptiveMetadata.ContentRoot =
    writeRoot(snap, DEFAULT_LEAF_FANOUT)

  def writeRoot(snap: Snapshot,
      numLeaves: Int): AdaptiveMetadata.ContentRoot =
    if (!hasDvFeature(snap))
      writeTree(snap, entriesDF(snap), numLeaves)
    else {
      // DV-featured tables probe for inline DVs before entry
      // construction (persistInlineDvs's collect) — cache the replayed
      // adds across probe + build so the dominant metadata scan runs
      // ONCE, not once for the probe and again for the tree write
      // (updateRoot gets the same for free via its persisted diff)
      val adds = snap.allAdds.persist()
      try writeTree(snap,
        entriesFromAdds(persistInlineDvs(snap, adds),
          contentStatsSchema(snap)),
        numLeaves)
      finally adds.unpersist()
    }

  private def hasDvFeature(snap: Snapshot): Boolean =
    (snap.protocol.readerFeatures.getOrElse(Nil) ++
      snap.protocol.writerFeatures.getOrElse(Nil))
      .contains("deletionVectors")

  /** Write any entry-shaped DataFrame as a two-level tree (public so
    * delete-file entries can ride along with the snapshot's data
    * entries). Partitioned tables group leaves by the partition tuple
    * (a leaf then serves partition-pruned manifest reads); entries
    * without partition values spread by location hash.
    */
  def writeTree(snap: Snapshot, entries: DataFrame,
      numLeaves: Int): AdaptiveMetadata.ContentRoot =
    writeTree(snap, entries, numLeaves, Nil)

  /** As above, additionally carrying `extraRootRows` — manifest
    * entries of REUSED leaf nodes (entry-schema rows pointing at a
    * previous tree's leaf files) — verbatim into the new root.
    * Iceberg-style manifest reuse: the bytes of an untouched leaf are
    * never rewritten, only referenced.
    */
  def writeTree(snap: Snapshot, entries: DataFrame,
      numLeaves: Int,
      extraRootRows: Seq[Row]): AdaptiveMetadata.ContentRoot = {
    val spark = snap.spark
    val v = snap.version
    val relTree = s"_delta_log/_amt/tree-$v-" + java.util.UUID.randomUUID()
    val absTree = snap.tableRoot.toString.stripSuffix("/") + "/" + relTree
    val leavesAbs = absTree + "/leaves"
    val grouping = when(size(map_keys(col("partition"))) > 0,
      to_json(col("partition"))).otherwise(col("location"))
    // the typed partition tuple (Iceberg field 102) derives from the
    // string map right here — ONE construction point, so every leaf of
    // every generation carries it consistently no matter which path
    // (build, merge, fold, conversion) produced the entry rows
    val entries1 = withPartitionTuple(snap, entries)
    // re-anchor the parquet field ids: expression selects drop
    // StructField metadata, and Iceberg projects tree columns BY id —
    // .to() reconciles rows to the id-carrying schema
    val base0 =
      if (entries1.schema.fieldNames.contains(CONTENT_STATS))
        entrySchemaWithStats(contentStatsSchema(snap))
      else entrySchema
    val target = asNullable(
      if (entries1.schema.fieldNames.contains(PARTITION_TUPLE))
        StructType(base0.fields :+
          fid(StructField(PARTITION_TUPLE, partitionTupleSchema(snap)),
            102))
      else base0)
    // NO repartition before the dynamic-partition write: the leaf key
    // groups by VALUE (partitionBy), so clustering rows task-side is a
    // local sort, not a shuffle — dropping the one wide exchange that
    // dominated tree construction (the 300k-entry stats rows are ~KB
    // wide). Each upstream task emits at most `numLeaves` files; a
    // leaf DIRECTORY (the manifest unit) aggregates them, so the
    // hierarchy shape is unchanged. Parallelism tracks the upstream
    // stage (the distributed replay/merge), which AQE sizes to the
    // data — big builds stay wide, tiny frames legitimately collapse.
    phase("leafWrite")(entries1.to(target)
      .withColumn("leafKey",
        pmod(xxhash64(grouping), lit(numLeaves.toLong)).cast(IntegerType))
      .write.partitionBy("leafKey").parquet(leavesAbs))

    val fs = Storage.fs(snap.tableRoot,
      spark.sessionState.newHadoopConf())
    val leafFiles = Storage.listFilesRecursive(fs,
      new org.apache.hadoop.fs.Path(leavesAbs))
      .filter(_.getPath.getName.endsWith(".parquet"))
    val leafBytes: Map[String, Long] = leafFiles
      .groupBy(_.getPath.getParent.getName)
      .map { case (d, fsz) => d -> fsz.map(_.getLen).sum }

    // per-leaf ManifestInfo: ONE distributed aggregate over the
    // written leaves; the collect is O(numLeaves) rows
    import org.apache.spark.sql.functions.{count => fcount, min => fmin}
    def cnt(s: Int) = sum(when(col("tracking.status") === s, 1)
      .otherwise(0)).cast(IntegerType)
    def rws(s: Int) = sum(when(col("tracking.status") === s,
      coalesce(col("recordCount"), lit(0L))).otherwise(0L))
    val infoRows = phase("infoAgg")(
      if (leafFiles.isEmpty) Array.empty[Row]
      else spark.read.parquet(leavesAbs).groupBy("leafKey").agg(
        cnt(TrackingStatus.Added).as("af"),
        cnt(TrackingStatus.Existing).as("ef"),
        cnt(TrackingStatus.Deleted).as("df"),
        cnt(TrackingStatus.Replaced).as("rf"),
        rws(TrackingStatus.Added).as("ar"),
        rws(TrackingStatus.Existing).as("er"),
        rws(TrackingStatus.Deleted).as("dr"),
        rws(TrackingStatus.Replaced).as("rr"),
        fmin(col("tracking.sequenceNumber")).as("minSeq"),
        fcount(lit(1)).as("entries")).collect())

    val rootRows: Seq[Row] = infoRows.toSeq.map { r =>
      val k = r.getInt(0)
      val loc = s"$relTree/leaves/leafKey=$k"
      val minSeq =
        if (r.isNullAt(r.fieldIndex("minSeq"))) v
        else r.getAs[Long]("minSeq")
      Row(DataContentType.DataManifest, loc, "parquet",
        // manifest entries: sequenceNumber == fileSequenceNumber
        // (mod.rs:109-116)
        Row(TrackingStatus.Added, v, null, v, v, null, null, null),
        null, 0, null, null, r.getAs[Long]("entries"),
        leafBytes.getOrElse(s"leafKey=$k", 0L),
        Row(r.getAs[Int]("af"), r.getAs[Int]("ef"), r.getAs[Int]("df"),
          r.getAs[Int]("rf"), r.getAs[Long]("ar"), r.getAs[Long]("er"),
          r.getAs[Long]("dr"), r.getAs[Long]("rr"), minSeq, null, null),
        null, null, null, 4, null)
    }
    // the ROOT is O(numLeaves) rows by design — one task is the point
    phase("rootWrite")(
      spark.createDataFrame((rootRows ++ extraRootRows).asJava, entrySchema)
        .coalesce(1).write.parquet(absTree + "/root"))
    val rootBytes = Storage.listFilesRecursive(fs,
      new org.apache.hadoop.fs.Path(absTree + "/root")).map(_.getLen).sum
    // loose-row count rides in the root descriptor so the fold-
    // threshold probe is O(1) — extraRootRows are manifest references
    // in every current caller, but count them rather than assume
    val looseExtra = extraRootRows.count { r =>
      val ct = r.getInt(0)
      ct != DataContentType.DataManifest &&
        ct != DataContentType.DeleteManifest
    }
    // root + freshly written leaves (reused leaves cost no write I/O —
    // that asymmetry is exactly what the gauge exists to show)
    Metrics.report(MetricEvent.IoBytes(Metrics.newId(), "tree_write",
      1L + leafFiles.size, rootBytes + leafBytes.values.sum))
    AdaptiveMetadata.ContentRoot(s"$relTree/root", rootBytes, v,
      looseCount = Some(looseExtra.toLong))
  }

  /** Read a tree's entry rows as one DataFrame: scan the root node,
    * resolve its manifest entries (O(#leaves) driver rows), and scan
    * all leaf nodes in ONE distributed parquet read. Single-node trees
    * (no manifest entries — the pre-hierarchy format) pass through.
    * Data entries carried directly in the root (legal per mod.rs:54-56)
    * union in by name.
    */
  def readEntriesDF(spark: org.apache.spark.sql.SparkSession,
      rootLocation: String, tableRoot: String): DataFrame =
    readEntriesWithCount(spark, rootLocation, tableRoot)._1

  /** [[readEntriesDF]] plus the tree's total entry count when the root
    * manifests record it (`recordCount` of a manifest entry = entries
    * in that leaf, set by [[writeTree]]) — the handoff-path gate:
    * small trees collect in one job, big ones stream behind a shuffle.
    */
  private[delta] def readEntriesWithCount(
      spark: org.apache.spark.sql.SparkSession,
      rootLocation: String, tableRoot: String)
      : (DataFrame, Option[Long]) = {
    val root = spark.read.parquet(rootLocation)
    val isManifest = col("contentType").isin(
      DataContentType.DataManifest, DataContentType.DeleteManifest)
    val manifestRows = root.filter(isManifest)
      .select("location", "recordCount", "fileSizeInBytes").collect()
    // manifest rows record their leaf's size — byte accounting is free
    Metrics.report(MetricEvent.IoBytes(Metrics.newId(), "tree_read",
      manifestRows.length + 1L,
      manifestRows.map(r =>
        if (r.isNullAt(2)) 0L else r.getLong(2)).sum))
    if (manifestRows.isEmpty) (root, None)
    else {
      val resolved = manifestRows.map(_.getString(0)).map { l =>
        if (AdaptiveMetadata.hasScheme(l) || l.startsWith("/")) l
        else tableRoot.stripSuffix("/") + "/" + l
      }
      // loose data entries riding directly in the root (legal per
      // mod.rs:54-56) count toward the handoff gate too — a
      // manifest-led root is O(#leaves + #loose) rows by construction,
      // so this count job is trivial
      val loose = root.filter(!isManifest).count()
      val entries =
        if (manifestRows.exists(_.isNullAt(1))) None
        else Some(manifestRows.map(_.getLong(1)).sum + loose)
      val leaves = spark.read.parquet(resolved.toIndexedSeq: _*)
        .drop("leafKey")
      // align the loose rows' content_stats to the leaf shape: a root
      // written under a different stats-column selection must not fail
      // the union — its stats degrade to null, never to a read error
      val loose0 = root.filter(!isManifest)
      val loose1 =
        if (leaves.schema.fieldNames.contains(CONTENT_STATS) &&
            loose0.schema.fieldNames.contains(CONTENT_STATS) &&
            !DataType.equalsStructurally(
              leaves.schema(CONTENT_STATS).dataType,
              loose0.schema(CONTENT_STATS).dataType,
              ignoreNullability = true))
          loose0.withColumn(CONTENT_STATS,
            lit(null).cast(leaves.schema(CONTENT_STATS).dataType))
        else loose0
      (leaves.unionByName(loose1, allowMissingColumns = true), entries)
    }
  }

  /** Handoff threshold: below this many entries the slim projection
    * collects in ONE job; above it the handoff shuffles first so
    * `toLocalIterator`'s per-partition jobs fetch shuffle blocks
    * instead of re-running the scan one partition at a time (the
    * DeltaScan.addFileIterator envelope — at 300k entries the
    * unshuffled iterator walk cost ~8-10 s vs ~1 s behind the
    * shuffle).
    */
  private def smallTreeEntries: Long =
    sys.props.get("graft.tree.smallHandoffEntries")
      .flatMap(_.toLongOption).getOrElse(100000L)

  /** Below this many total entries, updateRoot merges the whole tree
    * instead of probing for reusable leaves (see the gate in
    * [[updateRoot]]); property-overridable so specs can pin the reuse
    * path on small fixtures.
    */
  private def reuseProbeMinEntries: Long =
    sys.props.get("graft.tree.reuseProbeMinEntries")
      .flatMap(_.toLongOption).getOrElse(4096L)

  /** Strip entry rows to the AddFile-relevant columns before the
    * driver handoff: `content_stats` (700+ leaves on a 100-col table)
    * and the tracking bitmaps never cross the boundary, and nested
    * schema pruning drops them from the leaf scan itself. `extra`
    * columns (e.g. the file sequence number the equality-delete apply
    * needs) ride appended after the base shape.
    */
  private def slimEntries(df: DataFrame,
      extra: Seq[org.apache.spark.sql.Column]): DataFrame =
    df.select(Seq(
      col("location"),
      struct(col("tracking.firstRowId").as("firstRowId")).as("tracking"),
      col("deletionVector"),
      col("partition"),
      col("fileSizeInBytes"),
      col("tags")) ++ extra: _*)

  /** The gated slim handoff every tree read shares: below the
    * threshold the projection collects in ONE job; above it (or when
    * the count is unknown) the rows cross a shuffle first so
    * `toLocalIterator`'s per-partition jobs fetch shuffle blocks
    * instead of re-running the wide leaf scan per partition. Emits
    * the [[MetricEvent.TreeHandoff]] gauge.
    */
  private[delta] def streamSlimRows(
      spark: org.apache.spark.sql.SparkSession, df: DataFrame,
      entryCount: Option[Long],
      extra: Seq[org.apache.spark.sql.Column]): Iterator[Row] = {
    val slim = slimEntries(df, extra)
    val small = entryCount.exists(_ <= smallTreeEntries)
    Metrics.report(MetricEvent.TreeHandoff(Metrics.newId(),
      entryCount.getOrElse(-1L), shuffled = !small))
    if (small)
      slim.collect().iterator // one job, bounded by the gate
    else {
      val parts = math.max(spark.sparkContext.defaultParallelism, 8)
      slim.repartition(parts, col("location"))
        .toLocalIterator().asScala
    }
  }

  private def streamAsAdds(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, entryCount: Option[Long],
      tableRootUriPath: String): Iterator[AddFile] =
    streamSlimRows(spark, df, entryCount, Nil)
      .map(entryToAdd(_, tableRootUriPath))

  /** O(root) loose-entry append (mod.rs:53-56 — roots legally mix
    * manifest references and direct entries): rewrite ONLY the root
    * node with `extra` rows unioned in; manifest references and prior
    * loose rows carry verbatim, every leaf is reused by reference.
    * The returned root is stamped `version`. Root rows carry no
    * `content_stats` — a stats-less loose entry reads correctly and
    * pruning degrades to keep-all for it until the next
    * writeTree/updateRoot folds it into a stats-carrying leaf.
    */
  def appendLooseEntries(snap: Snapshot,
      prev: AdaptiveMetadata.ContentRoot, extra: DataFrame,
      version: Long): AdaptiveMetadata.ContentRoot = {
    val spark = snap.spark
    val tableRoot = snap.tableRoot.toString
    val prevDf = spark.read.parquet(prev.resolve(tableRoot))
    val statsT = contentStatsSchema(snap)
    // the root KEEPS content_stats when either side carries the
    // current-selection struct — loose data entries then prune like
    // leaf entries; an older-selection struct degrades to null (the
    // next fold/updateRoot migration re-derives what it can)
    def statsOk(df: DataFrame) =
      df.schema.fieldNames.contains(CONTENT_STATS) &&
        DataType.equalsStructurally(df.schema(CONTENT_STATS).dataType,
          statsT, ignoreNullability = true)
    val withStats = statsOk(prevDf) || statsOk(extra)
    val target = asNullable(
      if (withStats) entrySchemaWithStats(statsT) else entrySchema)
    // tolerant select: fields a foreign/older root lacks fill null
    def conform(df: DataFrame): Seq[Row] = df.select(
      target.fields.toSeq.map { f =>
        if (f.name == CONTENT_STATS && !statsOk(df))
          lit(null).cast(f.dataType).as(f.name)
        else if (df.schema.fieldNames.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*).collect().toSeq
    val rows = conform(prevDf) ++ conform(extra)
    require(rows.nonEmpty, "no entries to append")
    val relTree = s"_delta_log/_amt/tree-$version-" +
      java.util.UUID.randomUUID()
    val absRoot = tableRoot.stripSuffix("/") + "/" + relTree + "/root"
    spark.createDataFrame(rows.asJava, target)
      .coalesce(1).write.parquet(absRoot)
    val fs = Storage.fs(snap.tableRoot,
      spark.sessionState.newHadoopConf())
    val rootBytes = Storage.listFilesRecursive(fs,
      new org.apache.hadoop.fs.Path(absRoot)).map(_.getLen).sum
    val ctIdx = target.fieldIndex("contentType")
    val loose = rows.count { r =>
      val ct = r.getInt(ctIdx)
      ct != DataContentType.DataManifest &&
        ct != DataContentType.DeleteManifest
    }
    AdaptiveMetadata.ContentRoot(s"$relTree/root", rootBytes, version,
      looseCount = Some(loose.toLong))
  }

  /** Fold a root's loose rows into fresh leaf nodes once they exceed
    * `threshold` — the periodic compaction of the O(root) ingest path:
    * writeTree over the LOOSE rows only, every existing manifest
    * carried by reference (O(loose), never O(tree)). Below the
    * threshold, or when the tree's leaf stats schema no longer matches
    * the current selection (that migration belongs to a full
    * writeRoot/updateRoot), the root passes through unchanged.
    */
  def foldLooseEntries(snap: Snapshot,
      root: AdaptiveMetadata.ContentRoot,
      threshold: Int = 4096): AdaptiveMetadata.ContentRoot = {
    // O(1) steady-state probe: a root carrying its loose count under
    // the threshold skips the read entirely (the CDC-ingest fast path
    // — without this every batch re-read and collected the whole root
    // just to count its loose rows)
    if (root.looseCount.exists(_ <= threshold)) return root
    val spark = snap.spark
    val tableRoot = snap.tableRoot.toString
    val rootDf = spark.read.parquet(root.resolve(tableRoot))
    val isManifest = col("contentType").isin(
      DataContentType.DataManifest, DataContentType.DeleteManifest)
    val rows = rootDf.collect().toSeq
    def rowIsManifest(r: Row): Boolean = {
      val ct = r.getAs[Int]("contentType")
      ct == DataContentType.DataManifest ||
        ct == DataContentType.DeleteManifest
    }
    val (manifests, loose) = rows.partition(rowIsManifest)
    if (loose.size <= threshold || manifests.isEmpty) return root
    val statsT = contentStatsSchema(snap)
    // fold only into a schema-consistent tree: all leaf dirs must
    // already carry the current stats shape (writeTree guarantees one
    // shape per tree generation)
    val firstLeaf = manifests.head.getAs[String]("location")
    val resolvedLeaf =
      if (AdaptiveMetadata.hasScheme(firstLeaf) ||
          firstLeaf.startsWith("/")) firstLeaf
      else tableRoot.stripSuffix("/") + "/" + firstLeaf
    val leafSchema = spark.read.parquet(resolvedLeaf).schema
    val leafOk = leafSchema.fieldNames.contains(CONTENT_STATS) &&
      DataType.equalsStructurally(leafSchema(CONTENT_STATS).dataType,
        statsT, ignoreNullability = true)
    if (!leafOk) return root
    val looseDf0 = rootDf.filter(!isManifest)
    val looseDf =
      if (looseDf0.schema.fieldNames.contains(CONTENT_STATS) &&
          DataType.equalsStructurally(
            looseDf0.schema(CONTENT_STATS).dataType, statsT,
            ignoreNullability = true)) looseDf0
      else looseDf0
        .withColumn(CONTENT_STATS, lit(null).cast(statsT))
    val manifestRows = manifests.map(r =>
      Row(entrySchema.fieldNames.toIndexedSeq.map(n =>
        r.get(r.fieldIndex(n))): _*))
    writeTree(snap, looseDf,
      math.max(1, math.min(DEFAULT_LEAF_FANOUT,
        loose.size / math.max(1, threshold) + 1)),
      manifestRows).copy(version = root.version)
  }

  /** O(root) tree advance across one APPEND commit: the commit file
    * parses on the DRIVER (one small JSON — the same envelope the
    * small-log snapshot fast path pays) and its adds become loose data
    * root rows via [[appendLooseEntries]] — two tiny jobs instead of
    * updateRoot's diff-replay + leaf merge, the CDC-ingest upsert
    * arm's steady-state cost. Refuses non-append commits (removes
    * need the full [[updateRoot]] merge).
    */
  def appendCommitLoose(snap: Snapshot,
      prev: AdaptiveMetadata.ContentRoot,
      version: Long): AdaptiveMetadata.ContentRoot = {
    require(version == prev.version + 1,
      s"appendCommitLoose advances one commit (${prev.version} -> " +
        s"$version)")
    val spark = snap.spark
    val fs = Storage.fs(snap.tableRoot,
      spark.sessionState.newHadoopConf())
    val commit = FileNames.commitFile(
      FileNames.logDir(snap.tableRoot), version)
    val actions = JsonLog.readCommit(fs, commit, Set("add", "remove"))
      .map(_._2)
    require(actions.forall(_.remove.isEmpty),
      s"commit $version carries removes — use updateRoot")
    val adds = actions.flatMap(_.add)
    if (adds.isEmpty) return prev.copy(version = version)
    val addRows: Seq[Row] = adds.map(a =>
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](RowCodec.addToRow(a), version),
        StructType(Seq(StructField("add", LogSchema.add),
          StructField("version", LongType)))): Row)
    val addsDf = spark.createDataFrame(addRows.asJava,
      StructType(Seq(StructField("add", LogSchema.add),
        StructField("version", LongType))))
    // content_stats rides along: loose data rows prune like leaf rows
    appendLooseEntries(snap, prev,
      entriesFromAdds(persistInlineDvs(snap, addsDf),
        contentStatsSchema(snap)),
      version)
  }

  /** Driver fast path for updateRoot's winner computation over a
    * SMALL commit window: parse the commits' JSON lines driver-side
    * and fold the per-location winner locally — the same max-by
    * `(version, isAdd)` rule as the distributed diff (later version
    * wins; within a version the add side of a DV swap beats the
    * remove). Returns None past the window/byte gates or when a
    * commit file is missing (the distributed diff then validates the
    * range and reports the gap).
    */
  private def smallRangeWinner(
      spark: org.apache.spark.sql.SparkSession, snap: Snapshot,
      base: Long): Option[DataFrame] = {
    val target = snap.version
    if (target - base > 8) return None
    val fs = Storage.fs(snap.tableRoot,
      spark.sessionState.newHadoopConf())
    val logDir = FileNames.logDir(snap.tableRoot)
    val files = ((base + 1) to target).map(v =>
      FileNames.commitFile(logDir, v))
    if (!files.forall(fs.exists)) return None
    if (files.map(fs.getFileStatus(_).getLen).sum > 16L * 1024 * 1024)
      return None
    // (add-or-null, version, isAdd) per decoded location
    val best = scala.collection.mutable.HashMap
      .empty[String, (AddFile, Long, Int)]
    ((base + 1) to target).foreach { v =>
      JsonLog.readCommit(fs, FileNames.commitFile(logDir, v),
          Set("add", "remove")).foreach { case (_, a) =>
        val (loc, w) = a.add match {
          case Some(af) => (Storage.decodeUriPath(af.path), (af, v, 1))
          case None =>
            (Storage.decodeUriPath(a.remove.get.path), (null: AddFile, v, 0))
        }
        val keep = best.get(loc).forall { c =>
          w._2 > c._2 || (w._2 == c._2 && w._3 > c._3)
        }
        if (keep) best(loc) = w
      }
    }
    val schema = StructType(Seq(
      StructField("loc", StringType),
      StructField("add", LogSchema.add),
      StructField("version", LongType),
      StructField("isAdd", IntegerType)))
    val rows: Seq[Row] = best.toSeq.sortBy(_._1).map { case (loc, w) =>
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](loc,
          Option(w._1).map(RowCodec.addToRow).orNull, w._2, w._3),
        schema): Row
    }
    Some(spark.createDataFrame(rows.asJava, schema))
  }

  /** INCREMENTAL root maintenance — the adaptiveMetadata RFC's point:
    * advance a tree from `prev.version` to `snap.version` by applying
    * the commit-range file diff to the previous tree instead of
    * replaying the whole log. Leaf nodes none of whose entries appear
    * in the diff are REUSED — carried into the new root by reference,
    * bytes untouched (Iceberg manifest reuse; their entries keep their
    * original statuses verbatim). Only affected leaves flow through
    * the merge below, where tracking statuses carry the history
    * (reference mod.rs `TrackingStatus` semantics):
    *  - carried live entries in a REWRITTEN leaf → Existing, inheriting
    *    their original snapshotId / sequence numbers;
    *  - a same-path re-add (DV swap, restore) → Modified, keeping the
    *    inherited identity with `dvSnapshotId` = the swapping commit;
    *  - removed paths → Deleted tombstones stamped with the removal
    *    commit (kept in the tree; readers filter them);
    *  - fresh paths → Added at their commit.
    * All plan work is joins on `location` over the previous tree +
    * the range diff — never a log replay, never a driver loop.
    */
  def updateRoot(snap: Snapshot,
      prev: AdaptiveMetadata.ContentRoot): AdaptiveMetadata.ContentRoot =
    updateRoot(snap, prev, 0)

  /** `numLeaves` = 0 (the no-argument overload) inherits the previous
    * tree's scale: the rewritten/new entries spread over
    * `min(DEFAULT_LEAF_FANOUT, #prev manifests)` fresh leaves. A
    * maintenance step on a 4-leaf tree then costs a 4-way write, not a
    * 16-way shuffle of a handful of rows — the CDC-ingest steady state
    * — while a DEFAULT-fanout tree keeps its fanout.
    */
  def updateRoot(snap: Snapshot, prev: AdaptiveMetadata.ContentRoot,
      numLeaves: Int): AdaptiveMetadata.ContentRoot = {
    val spark = snap.spark
    require(prev.version <= snap.version,
      s"tree at ${prev.version} is ahead of snapshot ${snap.version}")
    if (prev.version == snap.version) return prev

    // decoded per-path NET winner: newest version; within a version an
    // add (the new state of a DV swap) beats the remove of the old
    // copy. Small windows take a driver fast path (the
    // appendCommitLoose envelope): parse the few commit JSONs locally
    // and build the winner as a LOCAL relation — skips a distributed
    // JSON scan plus two shuffles, and the local relation broadcasts
    // into the merge join for free. Big windows/commits stay on the
    // distributed diff.
    val smallWinner = phase("winner")(
      smallRangeWinner(spark, snap, prev.version))
    val winner = smallWinner.getOrElse {
      val diff = IncrementalScan.fileDiff(spark,
        snap.tableRoot.toString, prev.version, snap.version)
      diff
        .withColumn("loc", Storage.decodeUriPathCol(
          coalesce(col("add.path"), col("remove.path"))))
        .withColumn("isAdd",
          when(col("add").isNotNull, 1).otherwise(0))
        .groupBy(col("loc"))
        .agg(max_by(struct(col("add"), col("version"), col("isAdd")),
          struct(col("version"), col("isAdd"))).as("w"))
        .select(col("loc"), col("w.add").as("add"),
          col("w.version").as("version"), col("w.isAdd").as("isAdd"))
    }
    winner.persist()
    // ONE probe job serves both metadata questions about the diff's
    // add side: which adds carry inline DVs (they must persist before
    // entering tree metadata) and whether any is a dataChange=false
    // rewrite (the compaction guard below) — previously two jobs
    val probe = phase("dvProbe")(winner.filter(col("isAdd") === 1 &&
        (col("add.deletionVector.storageType") === "i" ||
          col("add.dataChange") === false))
      .select(col("add.path").as("p"),
        col("add.deletionVector.storageType").as("st"),
        col("add.deletionVector.pathOrInlineDv").as("z85"),
        col("add.deletionVector.sizeInBytes").as("sz"),
        col("add.deletionVector.cardinality").as("card"),
        col("add.dataChange").as("dc"))
      .collect().toIndexedSeq)
    val movedRows = probe.exists(!_.getAs[Boolean]("dc"))
    val inlineRows =
      if (!hasDvFeature(snap)) Nil
      else probe.filter(_.getAs[String]("st") == "i")
    val newE = entriesFromAdds(
      persistInlineDvsFromRows(snap,
        winner.filter(col("isAdd") === 1)
          .select(col("add"), col("version")), inlineRows),
      contentStatsSchema(snap))
    val removed = winner.filter(col("isAdd") === 0)
      .select(col("loc").as("location"), col("version").as("rmVersion"))

    val tableRootStr = snap.tableRoot.toString

    // Manifest REUSE (Iceberg's reason for manifest levels): a leaf
    // node none of whose entries appear in the diff is carried into
    // the new root BY REFERENCE — its bytes are never rewritten; only
    // leaves containing a diffed location join the merge below. Applies
    // to the hierarchy layout this writer produces (a root of pure
    // manifest rows over one `<tree>/leaves/leafKey=<k>` directory,
    // leaf stats schema matching the current table schema); anything
    // else — pre-hierarchy single-node trees, foreign layouts, loose
    // data rows in the root, a schema change since the previous build —
    // falls back to merging the whole previous tree.
    val prevRootDf = spark.read.parquet(prev.resolve(tableRootStr))
    val prevRootRows = phase("prevRoot")(prevRootDf.collect().toSeq)
    val manifestRows = prevRootRows.filter { r =>
      val ct = r.getAs[Int]("contentType")
      ct == DataContentType.DataManifest ||
        ct == DataContentType.DeleteManifest
    }
    val statsSchema0 = contentStatsSchema(snap)
    // the layout this writer produces: a manifest-led root. Loose
    // non-manifest rows (an appendDeleteEntries delete commit, data
    // entries legally riding in the root per mod.rs:54-56) are fine —
    // they union into the merge below; requiring a PURE manifest root
    // here degraded every post-delete-commit update to a full tree
    // rewrite, the exact cost the hierarchy exists to avoid. Leaf dirs
    // may live under SEVERAL tree directories — a chained updateRoot
    // carries earlier trees' leaves by reference, and those references
    // must keep flowing (a single-parent rule would degrade every
    // second update to a full rewrite).
    val reusableLayout = manifestRows.nonEmpty &&
      prevRootRows.headOption.exists { r =>
        val names = r.schema.fieldNames.toSet
        names == entrySchema.fieldNames.toSet ||
          names == entrySchema.fieldNames.toSet + CONTENT_STATS
      }
    // Manifest reuse costs two probe jobs (a full leaf scan plus the
    // affected-leaf semi-join) before any merge work starts. The root
    // manifests record their leaves' entry counts, so when the WHOLE
    // tree is small, skip the probe and merge every leaf — rewriting a
    // few thousand KB-wide rows is cheaper than the probes, and the
    // merge keeps full status fidelity (carried entries come back
    // Existing instead of their leaf-frozen originals). Big trees (the
    // 5M bench, any real table) stay on the reuse path.
    val totalPrevEntries: Option[Long] = {
      val idx = entrySchema.fieldIndex("recordCount")
      if (manifestRows.isEmpty ||
          manifestRows.exists(_.isNullAt(idx))) None
      else Some(manifestRows.map(_.getLong(idx)).sum)
    }
    val probeWorthIt = totalPrevEntries.forall(_ > reuseProbeMinEntries)
    // 0 = inherit the previous tree's scale (see the overload doc)
    val effLeaves =
      if (numLeaves > 0) numLeaves
      else if (manifestRows.nonEmpty)
        math.min(DEFAULT_LEAF_FANOUT, manifestRows.size)
      else DEFAULT_LEAF_FANOUT

    def resolveLoc(l: String): String =
      if (AdaptiveMetadata.hasScheme(l) || l.startsWith("/")) l
      else tableRootStr.stripSuffix("/") + "/" + l

    val reused: Option[(DataFrame, Seq[Row])] =
      if (!reusableLayout || !probeWorthIt) None
      else {
        val byResolved = manifestRows.map(r =>
          resolveLoc(r.getAs[String]("location")) -> r).toMap
        val leavesDF = spark.read
          .parquet(byResolved.keys.toIndexedSeq: _*)
          // identity of the leaf each row came from: its file's parent
          // dir, normalized like the manifest locations (scheme
          // stripped, percent-escapes decoded)
          .withColumn("__leafDir", Storage.decodeUriPathCol(
            regexp_replace(regexp_replace(col("_metadata.file_path"),
              Storage.URI_PREFIX_REGEX, ""),
            "/[^/]*$", "").cast(StringType)))
        val statsOk =
          leavesDF.schema.fieldNames.contains(CONTENT_STATS) &&
            DataType.equalsStructurally(
              leavesDF.schema(CONTENT_STATS).dataType, statsSchema0,
              ignoreNullability = true)
        if (!statsOk) None
        else {
          // Leaves holding at least one diffed location must rewrite;
          // O(#leaves) driver rows. Shape matters at 5M entries: a
          // small-window diff is tiny (a driver-built local relation)
          // so BROADCAST it — a sort-merge fallback would shuffle
          // every tree entry just to probe 20k keys; a distributed
          // diff has no such bound and is left to the planner — and
          // derive the leaf-dir string (2 regexes + a URI decode per
          // row) only for rows that SURVIVE the semi-join instead of
          // for all 5M (phase probe: 3.0 s → ~1 s on the 5M bench).
          val diffLocs = winner.select(col("loc").as("location"))
          val affected = phase("reuseProbe")(leavesDF
            .select(col("location"),
              col("_metadata.file_path").as("__fp"))
            .join(if (smallWinner.isDefined) broadcast(diffLocs)
              else diffLocs, Seq("location"), "left_semi")
            .select(Storage.decodeUriPathCol(
              regexp_replace(regexp_replace(col("__fp"),
                Storage.URI_PREFIX_REGEX, ""),
              "/[^/]*$", "").cast(StringType)).as("__leafDir"))
            .distinct()
            .collect().map(_.getString(0)).toSet)
          // qualify through the filesystem so a RELATIVE table root
          // (tests run on one) still compares equal to _metadata's
          // absolute file paths
          val fsq0 = Storage.fs(snap.tableRoot,
            spark.sessionState.newHadoopConf())
          def dirOf(resolved: String): String =
            fsq0.makeQualified(
              new org.apache.hadoop.fs.Path(resolved)).toUri.getPath
          val carried = byResolved.toSeq.collect {
            case (resolved, r) if !affected.contains(dirOf(resolved)) =>
              Row(entrySchema.fields.map(f =>
                r.get(r.schema.fieldIndex(f.name))): _*)
          }
          val pe =
            if (affected.isEmpty) leavesDF.filter(lit(false))
            else leavesDF.filter(col("__leafDir").isin(affected.toSeq: _*))
          // loose non-manifest rows ride the merge with the affected
          // leaves (missing content_stats fills with null; a
          // selection-mismatched struct degrades to null)
          val loose0 = prevRootDf.filter(!col("contentType").isin(
            DataContentType.DataManifest, DataContentType.DeleteManifest))
          val loose =
            if (loose0.schema.fieldNames.contains(CONTENT_STATS) &&
                !DataType.equalsStructurally(
                  loose0.schema(CONTENT_STATS).dataType, statsSchema0,
                  ignoreNullability = true))
              loose0.withColumn(CONTENT_STATS,
                lit(null).cast(statsSchema0))
            else loose0
          Some((pe.drop("__leafDir")
            .unionByName(loose, allowMissingColumns = true), carried))
        }
      }

    // the small-tree merge path (reuse probe skipped) reads the WHOLE
    // previous tree and references it twice (data merge + carried
    // delete-content entries) — cache it so the write job scans the
    // leaves once; bounded by the same gate that skipped the probe
    val smallMerge = reused.isEmpty &&
      totalPrevEntries.exists(_ <= reuseProbeMinEntries)
    val prevAll0 = reused.map(_._1).getOrElse(
      readEntriesDF(spark, prev.resolve(tableRootStr), tableRootStr))
    val prevAll = if (smallMerge) prevAll0.persist() else prevAll0
    val prevE = prevAll
      .filter(col("contentType") === DataContentType.Data &&
        col("tracking.status") =!= TrackingStatus.Deleted)
    val carriedRootRows = reused.map(_._2).getOrElse(Nil)

    // prev-side column access tolerant of pre-hierarchy trees that
    // lack the newer entry fields
    def pcol(name: String, dt: DataType) =
      if (prevE.schema.fieldNames.contains(name)) col(s"p.$name")
      else lit(null).cast(dt)
    val statsSchema = contentStatsSchema(snap)
    val pStats = {
      val prevSt = prevE.schema.fieldNames.find(_ == CONTENT_STATS)
        .map(_ => prevE.schema(CONTENT_STATS).dataType)
        .collect { case st: StructType => st }
      prevSt match {
        case Some(st) if DataType.equalsStructurally(st, statsSchema,
            ignoreNullability = true) =>
          col(s"p.$CONTENT_STATS")
        case Some(st) if statsSchema.fields.forall(f =>
            st.fields.exists(pf => pf.name == f.name &&
              DataType.equalsStructurally(pf.dataType, f.dataType,
                ignoreNullability = true))) =>
          // the stats-column selection shrank since the previous build
          // (e.g. dataSkippingNumIndexedCols changed): project the
          // shared columns so carried entries KEEP pruning instead of
          // nulling out until the next full rebuild
          when(col(s"p.$CONTENT_STATS").isNotNull,
            struct(statsSchema.fieldNames.toIndexedSeq.map(n =>
              col(s"p.$CONTENT_STATS").getField(n).as(n)): _*))
        case _ => lit(null).cast(statsSchema)
      }
    }

    // TrackingInfo delta bitmaps (mod.rs:125-135): on a Modified entry
    // whose DV changed, deletedPositions = newDV andNot oldDV and
    // replacedPositions = oldDV andNot newDV, serialized in the inline-
    // DV portable framing. The bitmap reads run EXECUTOR-side inside
    // the join's projection (one udf call per Modified entry — metadata
    // cardinality, KB-scale blobs; no built-in reads files).
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    val fsq = Storage.fs(snap.tableRoot, spark.sessionState.newHadoopConf())
    val rootUriPath = fsq.makeQualified(snap.tableRoot).toUri.getPath
    val dvDiff = udf((pLoc: String, pOff: java.lang.Long,
        pSz: java.lang.Long, nLoc: String, nOff: java.lang.Long,
        nSz: java.lang.Long) => {
      def bytes(loc: String, off: java.lang.Long,
          sz: java.lang.Long): Array[Byte] =
        if (loc == null) DeletionVectors.emptyBitmap
        else DeletionVectors.readBitmapBytes(
          dvInfoToDescriptor(
            DeletionVectorInfo(loc, off.longValue, sz.longValue, 0L),
            rootUriPath),
          new org.apache.hadoop.fs.Path(tableRootStr), confBc.value.value)
      if (java.util.Objects.equals(pLoc, nLoc) &&
          java.util.Objects.equals(pOff, nOff)) null
      else {
        val pB = bytes(pLoc, pOff, pSz)
        val nB = bytes(nLoc, nOff, nSz)
        val del = DeletionVectors.andNotBitmaps(nB, pB)
        val rep = DeletionVectors.andNotBitmaps(pB, nB)
        Array(
          if (DeletionVectors.cardinality(del) > 0) del else null,
          if (DeletionVectors.cardinality(rep) > 0) rep else null)
      }
    })

    val j0 = prevE.as("p")
      .join(newE.as("n"), Seq("location"), "full_outer")
      .join(removed.as("r"), Seq("location"), "left")
    val hasPrev = col("p.tracking").isNotNull
    val hasNew = col("n.tracking").isNotNull
    val j = j0.withColumn("__dvdiff",
      when(hasPrev && hasNew, dvDiff(
        col("p.deletionVector.location"), col("p.deletionVector.offset"),
        col("p.deletionVector.sizeInBytes"),
        col("n.deletionVector.location"), col("n.deletionVector.offset"),
        col("n.deletionVector.sizeInBytes"))))
    val status =
      when(hasPrev && hasNew, lit(TrackingStatus.Modified))
        .when(hasPrev && col("r.rmVersion").isNotNull,
          lit(TrackingStatus.Deleted))
        .when(hasPrev, lit(TrackingStatus.Existing))
        .otherwise(lit(TrackingStatus.Added))
    val tracking = struct(
      status.as("status"),
      when(hasPrev && col("r.rmVersion").isNotNull, col("r.rmVersion"))
        .when(hasPrev, col("p.tracking.snapshotId"))
        .otherwise(col("n.tracking.snapshotId")).as("snapshotId"),
      when(hasPrev && hasNew, col("n.tracking.snapshotId"))
        .otherwise(col("p.tracking.dvSnapshotId")).as("dvSnapshotId"),
      coalesce(col("p.tracking.sequenceNumber"),
        col("n.tracking.sequenceNumber")).as("sequenceNumber"),
      coalesce(col("p.tracking.fileSequenceNumber"),
        col("n.tracking.fileSequenceNumber")).as("fileSequenceNumber"),
      coalesce(col("n.tracking.firstRowId"),
        col("p.tracking.firstRowId")).as("firstRowId"),
      element_at(col("__dvdiff"), 1).as("deletedPositions"),
      element_at(col("__dvdiff"), 2).as("replacedPositions"))
    val updated = j.select(
      lit(DataContentType.Data).as("contentType"),
      col("location"),
      lit("parquet").as("fileFormat"),
      tracking.as("tracking"),
      when(hasNew, col("n.deletionVector"))
        .otherwise(col("p.deletionVector")).as("deletionVector"),
      lit(0).as("specId"),
      coalesce(col("n.partition"), col("p.partition")).as("partition"),
      coalesce(col("n.sortOrderId"), col("p.sortOrderId"))
        .as("sortOrderId"),
      coalesce(col("n.recordCount"), col("p.recordCount"))
        .as("recordCount"),
      coalesce(col("n.fileSizeInBytes"), col("p.fileSizeInBytes"))
        .as("fileSizeInBytes"),
      when(hasNew, col(s"n.$CONTENT_STATS")).otherwise(pStats)
        .as(CONTENT_STATS),
      lit(null).cast(manifestInfoSchema).as("manifestInfo"),
      when(hasNew, col("n.keyMetadata"))
        .otherwise(pcol("keyMetadata", BinaryType)).as("keyMetadata"),
      when(hasNew, col("n.splitOffsets"))
        .otherwise(pcol("splitOffsets", ArrayType(LongType)))
        .as("splitOffsets"),
      when(hasNew, col("n.equalityIds"))
        .otherwise(pcol("equalityIds", ArrayType(IntegerType)))
        .as("equalityIds"),
      lit(4).as("formatVersion"),
      coalesce(col("n.tags"), col("p.tags")).as("tags"))
    // Delete-content entries (PositionDeletes / EqualityDeletes,
    // mod.rs:237-238) are not part of the Delta-log diff — they ride
    // through maintenance VERBATIM: untouched leaves carry them by
    // reference above, rewritten leaves re-emit them here. Without
    // this arm an updateRoot would silently drop a tree's equality
    // deletes.
    val deleteContent = prevAll.filter(
      col("contentType").isin(DataContentType.PositionDeletes,
        DataContentType.EqualityDeletes) &&
        col("tracking.status") =!= TrackingStatus.Deleted)
    // Compaction guard: a dataChange=false add is MOVED rows — in the
    // new file they carry the rewrite commit's sequence, which
    // postdates any pending equality delete, so rows the delete killed
    // would RESURRECT in the applying read. (Modified entries are safe:
    // the merge below keeps the PREVIOUS fileSequenceNumber, so DV
    // swaps don't re-sequence.) Same contract as Iceberg's
    // RewriteDataFiles: apply/convert the deletes, then compact.
    // The `moved` flag came from the shared probe job above, so the
    // common no-rewrite update pays nothing here — and when a rewrite
    // IS present, the pending-delete probe must cover the WHOLE
    // previous tree, not just `deleteContent`'s affected-leaf slice: a
    // delete entry parked in a carried (unaffected) leaf is exactly as
    // resurrectable.
    if (movedRows) {
      val pending = readEntriesDF(spark, prev.resolve(tableRootStr),
        tableRootStr).filter(
        col("contentType").isin(DataContentType.PositionDeletes,
          DataContentType.EqualityDeletes) &&
          col("tracking.status") =!= TrackingStatus.Deleted)
      require(pending.isEmpty,
        "cannot advance a tree carrying equality/position delete " +
          "entries across a dataChange=false rewrite (OPTIMIZE/REORG): " +
          "rewritten rows would re-sequence past the deletes and " +
          "resurrect. Convert the deletes to position deletes " +
          "(EqualityDeletes.convertToPositionDeletes) before compacting.")
    }
    val deleteCols = entrySchema.fieldNames.toSeq.map { n =>
      if (deleteContent.schema.fieldNames.contains(n)) col(n)
      else lit(null).cast(entrySchema(n).dataType).as(n)
    } :+ lit(null).cast(statsSchema).as(CONTENT_STATS)
    val root = phase("mergeWrite")(writeTree(snap,
      updated.unionByName(deleteContent.select(deleteCols: _*)),
      effLeaves, carriedRootRows))
    winner.unpersist()
    if (smallMerge) prevAll.unpersist()
    root
  }

  /** Stream a content tree back as add actions (the read path:
    * resolve the root via [[AdaptiveMetadata.ContentRoot.resolve]],
    * walk root → leaves, decode entries one at a time — driver memory
    * stays O(batch), the same streamed-handoff envelope as
    * DeltaScan.addFileIterator).
    */
  def addFileIterator(spark: org.apache.spark.sql.SparkSession,
      rootLocation: String, tableRoot: String, tableRootUriPath: String)
      : Iterator[AddFile] = {
    val (entries, n) = readEntriesWithCount(spark, rootLocation, tableRoot)
    val df = entries
      .filter(col("contentType") === DataContentType.Data &&
        col("tracking.status") =!= TrackingStatus.Deleted)
    streamAsAdds(spark, df, n, tableRootUriPath)
  }

  /** Live adds plus the full tracking-status set of a tree's DATA
    * entries in ONE leaf scan — callers needing both (maintenance
    * audits pinning statuses before planning a read) previously paid
    * two. Deleted tombstones contribute their status but no add.
    */
  def addsAndStatuses(spark: org.apache.spark.sql.SparkSession,
      rootLocation: String, tableRoot: String, tableRootUriPath: String)
      : (Seq[AddFile], Set[Int]) = {
    val (entries, n) = readEntriesWithCount(spark, rootLocation, tableRoot)
    val data = entries.filter(
      col("contentType") === DataContentType.Data)
    val rows = streamSlimRows(spark, data, n,
      Seq(col("tracking.status").as("__status"))).toSeq
    val statuses = rows.map(_.getAs[Int]("__status")).toSet
    val adds = rows
      .filter(_.getAs[Int]("__status") != TrackingStatus.Deleted)
      .map(entryToAdd(_, tableRootUriPath))
    (adds, statuses)
  }

  /** Stats-pruned tree read: plan the file set from the tree INSTEAD
    * of the Delta log, skipping entries via their `content_stats`
    * bounds with the SAME rewrite [[DataSkipping]] applies to log
    * stats — `content_stats` projected back to the
    * numRecords/minValues/maxValues/nullCount shape, coalesce-guarded
    * so entries lacking stats are kept. Predicate attributes are
    * physical top-level data columns (= logical on unmapped tables).
    */
  def prunedAddFileIterator(spark: org.apache.spark.sql.SparkSession,
      rootLocation: String, tableRoot: String, tableRootUriPath: String,
      predicateSql: String)
      : Iterator[AddFile] = {
    val (entries, n) = readEntriesWithCount(spark, rootLocation, tableRoot)
    val live = entries
      .filter(col("contentType") === DataContentType.Data &&
        col("tracking.status") =!= TrackingStatus.Deleted)
    streamAsAdds(spark,
      statsSkipEntries(spark, live, predicateSql),
      n, tableRootUriPath)
  }

  /** Filter entry rows by their `content_stats` bounds under
    * `predicateSql` — the SAME rewrite [[DataSkipping]] applies to log
    * stats, coalesce-guarded so entries lacking stats are kept. Runs
    * in the DISTRIBUTED stage (before any driver handoff); only
    * referenced stats leaves survive nested schema pruning. Shared by
    * the pruned tree read and the equality-delete applying read.
    */
  private[delta] def statsSkipEntries(
      spark: org.apache.spark.sql.SparkSession, live: DataFrame,
      predicateSql: String): DataFrame = {
    // the skip columns are whatever the TREE actually recorded — its
    // writer's stats-column selection, which may differ from the
    // current table properties; recomputing here would getField into
    // columns the leaf files do not have
    val names =
      if (!live.schema.fieldNames.contains(CONTENT_STATS)) Seq.empty
      else live.schema(CONTENT_STATS).dataType
        .asInstanceOf[StructType].fieldNames.toSeq
    val eligible: Set[Seq[String]] = names.map(Seq(_)).toSet
    val skips =
      if (!live.schema.fieldNames.contains(CONTENT_STATS)) Nil
      else DataSkipping
        .conjuncts(DataSkipping.parse(spark, predicateSql))
        .flatMap(DataSkipping.rewrite(_, eligible, eligible))
    if (skips.isEmpty) return live
    def sub(leaf: String) = struct(names.map(c =>
      col(CONTENT_STATS).getField(c).getField(leaf).as(c)): _*)
    val stats = struct(
      col("recordCount").as("numRecords"),
      sub("lower_bound").as("minValues"),
      sub("upper_bound").as("maxValues"),
      sub("null_value_count").as("nullCount"))
    val skipSql = ("coalesce(__stats.numRecords > 0, true)" +:
      skips.map(s => s"coalesce(${s.sql}, true)")).mkString(" AND ")
    live.withColumn("__stats", stats)
      .filter(expr(skipSql)).drop("__stats")
  }

  /** One entry row → AddFile (inverse of the [[entriesDF]] mapping). */
  private[delta] def entryToAdd(r: Row,
      tableRootUriPath: String): AddFile = {
    val tracking = r.getStruct(r.fieldIndex("tracking"))
    val dvIdx = r.fieldIndex("deletionVector")
    val dv =
      if (r.isNullAt(dvIdx)) None
      else {
        val d = r.getStruct(dvIdx)
        Some(dvInfoToDescriptor(DeletionVectorInfo(
          d.getAs[String]("location"), d.getAs[Long]("offset"),
          d.getAs[Long]("sizeInBytes"), d.getAs[Long]("cardinality")),
          tableRootUriPath))
      }
    AddFile(
      path = Storage.encodeUriPath(r.getAs[String]("location")),
      partitionValues = Option(r.getAs[Map[String, String]]("partition"))
        .getOrElse(Map.empty),
      size = r.getAs[Long]("fileSizeInBytes"),
      modificationTime = 0L,
      dataChange = false,
      tags = Option(r.getAs[Map[String, String]]("tags")),
      deletionVector = dv,
      baseRowId = Option(tracking.getAs[Any]("firstRowId"))
        .map(_.asInstanceOf[Number].longValue))
  }
}
