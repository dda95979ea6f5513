package graft.delta

import org.apache.spark.sql.types._

/** IcebergCompatV3 invariants and materialized partition columns
  * (reference kernel/src/table_features/iceberg_compat/{mod,v3}.rs;
  * table_configuration.rs:510-530 should_materialize_partition_columns
  * and :900-907 requires_stats_num_records).
  *
  * The reference validates V3 whenever a TableConfiguration is built
  * (table_configuration.rs:235), so both reads and writes of a
  * violating table fail fast; we mirror that from Snapshot.gated and
  * DeltaTable.create.
  */
object IcebergCompat {

  val V1_KEY = "delta.enableIcebergCompatV1"
  val V1_FEATURE = "icebergCompatV1"
  val V2_KEY = "delta.enableIcebergCompatV2"
  val V2_FEATURE = "icebergCompatV2"
  val V3_KEY = "delta.enableIcebergCompatV3"
  val V3_FEATURE = "icebergCompatV3"
  val MATERIALIZE_FEATURE = "materializePartitionColumns"

  /** Deprecated nested-ids field-metadata key rejected under V3
    * (reference iceberg_compat/mod.rs:129-148; delta-io/delta#6688).
    */
  val LEGACY_NESTED_IDS_KEY = "parquet.field.nested.ids"
  val NESTED_IDS_KEY = "delta.columnMapping.nestedIds"

  /** Enabled = feature supported in the protocol AND the table property
    * set (reference table_configuration.rs:890-899 is_feature_enabled +
    * ICEBERG_COMPAT_V3_INFO's EnabledIf check).
    */
  def v3Enabled(p: Protocol, m: graft.delta.Metadata): Boolean =
    TableFeatures.supportsWriterFeature(p, V3_FEATURE) &&
      m.configuration.get(V3_KEY).exists(_.equalsIgnoreCase("true"))

  def v1Enabled(p: Protocol, m: graft.delta.Metadata): Boolean =
    TableFeatures.supportsWriterFeature(p, V1_FEATURE) &&
      m.configuration.get(V1_KEY).exists(_.equalsIgnoreCase("true"))

  def v2Enabled(p: Protocol, m: graft.delta.Metadata): Boolean =
    TableFeatures.supportsWriterFeature(p, V2_FEATURE) &&
      m.configuration.get(V2_KEY).exists(_.equalsIgnoreCase("true"))

  /** Validate whichever icebergCompat version is enabled (pairwise
    * exclusion itself is FeatureRequirements' job). The reference
    * declares V1/V2 write-unsupported pending exactly this type
    * validation (table_features/mod.rs:400-440 TODO #1125, citing
    * Delta Spark IcebergCompat.scala CheckNoListMapNullType and the
    * Java kernel's V2_SUPPORTED_TYPES); we implement the cited checks.
    */
  def validate(p: Protocol, m: graft.delta.Metadata, schema: StructType): Unit = {
    validateV1(p, m, schema)
    validateV2(p, m, schema)
    validateV3(p, m, schema)
  }

  /** V1 (PROTOCOL.md writer-requirements-for-icebergcompatv1; Delta
    * Spark CheckOnlyNameMappingMode + CheckNoListMapNullType): column
    * mapping in NAME mode, and no array/map/void columns anywhere.
    */
  def validateV1(p: Protocol, m: graft.delta.Metadata, schema: StructType): Unit = {
    if (!v1Enabled(p, m)) return
    // "columnMapping enabled at all" is FeatureRequirements' check
    // (with its canonical message); only the name-MODE restriction is
    // V1-specific
    if (ColumnMapping.mode(m) != "none")
      require(ColumnMapping.mode(m) == "name",
        s"$V1_FEATURE requires column mapping in 'name' mode")
    firstOffending(schema, {
      case _: ArrayType | _: MapType | NullType => false
      case _: VariantType => false
      case _ => true
    }).foreach { o =>
      throw new IllegalArgumentException(
        s"$V1_FEATURE does not support type at column: $o")
    }
  }

  /** V2 (PROTOCOL.md writer-requirements-for-icebergcompatv2; Java
    * kernel V2_SUPPORTED_TYPES): column mapping in name or id mode;
    * array/map allowed, but leaves restricted to the Iceberg-
    * representable primitives (no variant, no void).
    */
  def validateV2(p: Protocol, m: graft.delta.Metadata, schema: StructType): Unit = {
    if (!v2Enabled(p, m)) return
    // columnMapping enablement (any mode is fine for V2) is validated
    // by FeatureRequirements with its canonical message
    firstOffending(schema, {
      case _: VariantType => false
      case NullType => false
      case dt => isV3Supported(dt)
    }).foreach { o =>
      throw new IllegalArgumentException(
        s"$V2_FEATURE does not support type at column: $o")
    }
  }

  /** Partition values must ALSO be written into the data files when the
    * materializePartitionColumns feature or IcebergCompatV3 is enabled
    * (reference table_configuration.rs:510-523).
    */
  def materializePartitionColumns(p: Protocol, m: graft.delta.Metadata): Boolean =
    TableFeatures.supportsWriterFeature(p, MATERIALIZE_FEATURE) ||
      v3Enabled(p, m)

  /** AddFile stats must carry a non-null numRecords under V3
    * (reference table_configuration.rs:900-907).
    */
  def requiresStatsNumRecords(p: Protocol, m: graft.delta.Metadata): Boolean =
    v3Enabled(p, m)

  /** Validate the V3 invariants; no-op when V3 is not enabled. Throws
    * IllegalArgumentException naming the offending column otherwise.
    */
  def validateV3(p: Protocol, m: graft.delta.Metadata, schema: StructType): Unit = {
    if (!v3Enabled(p, m)) return
    // feature requirements (ICEBERG_COMPAT_V3_INFO:464-473): column
    // mapping and row tracking must be ENABLED, not merely supported
    require(ColumnMapping.mode(m) != "none",
      s"$V3_FEATURE requires column mapping (name or id mode)")
    require(m.configuration.get(RowTracking.ENABLED_KEY)
        .exists(_.equalsIgnoreCase("true")),
      s"$V3_FEATURE requires row tracking " +
        s"(${RowTracking.ENABLED_KEY}=true)")
    offendingType(schema).foreach { o =>
      throw new IllegalArgumentException(
        s"$V3_FEATURE does not support type at column: $o")
    }
    legacyNestedIds(schema).foreach { o =>
      throw new IllegalArgumentException(
        s"field `$o` carries deprecated `$LEGACY_NESTED_IDS_KEY` " +
          s"metadata; use `$NESTED_IDS_KEY` instead")
    }
  }

  /** V3 type allowlist (reference v3.rs:23-44 is_v3_supported_type):
    * the Iceberg-representable primitives plus nested and variant
    * types. Notably EXCLUDES void/null and interval types.
    */
  private def isV3Supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | BooleanType | BinaryType | StringType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _: ArrayType | _: MapType | _: StructType => true
    case _: VariantType => true
    case _ => false
  }

  /** First unsupported field as `dotted.path (type)` — the walk descends
    * arrays as `element`, maps as `key`/`value` (reference
    * iceberg_compat/mod.rs:53-127 TypeAllowListVisitor).
    */
  private[delta] def offendingType(schema: StructType): Option[String] =
    firstOffending(schema, isV3Supported)

  /** Generalized allow-list walk shared by V1/V2/V3 validation. */
  private[delta] def firstOffending(schema: StructType,
      allow: DataType => Boolean): Option[String] =
    NestedFields.fieldsWithPaths(schema)
      .find(path => !allow(path.last.dataType))
      .map(path => s"${path.map(_.name).mkString(".")} " +
        s"(${path.last.dataType.simpleString})")

  /** First field (dotted path, struct nesting only) carrying the
    * deprecated `parquet.field.nested.ids` metadata key.
    */
  private[delta] def legacyNestedIds(schema: StructType): Option[String] =
    NestedFields.fieldsWithPaths(schema).collectFirst {
      case path @ (_ :+ NestedFields.Field(f)) if
          NestedFields.viaStructs(path) &&
            f.metadata.contains(LEGACY_NESTED_IDS_KEY) =>
        path.map(_.name).mkString(".")
    }
}
