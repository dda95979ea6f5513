package graft.delta

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Column mapping modes `none | name | id` (reference:
  * kernel/src/table_features/column_mapping.rs:28-35,
  * kernel/src/scan/state_info.rs, kernel/src/scan/transform_spec.rs:20-50).
  *
  * Physical names and column ids live in `StructField` metadata under the
  * `delta.columnMapping.*` keys (reference kernel/src/schema/mod.rs:253-313).
  * Reads resolve parquet columns by physical name (name mode) or by
  * parquet field id (id mode — Spark's native field-id resolution via the
  * `parquet.field.id` metadata key), then rename back to the logical
  * schema with a positional struct cast (covers nested structs, arrays
  * and maps of structs in one expression).
  */
object ColumnMapping {
  val MODE_KEY = "delta.columnMapping.mode"
  val MAX_ID_KEY = "delta.columnMapping.maxColumnId"
  val PHYS_NAME_KEY = "delta.columnMapping.physicalName"
  val ID_KEY = "delta.columnMapping.id"
  val PARQUET_ID_KEY = "parquet.field.id"

  val SUPPORTED_MODES = Set("none", "name", "id")

  def mode(m: graft.delta.Metadata): String =
    m.configuration.getOrElse(MODE_KEY, "none")

  def physicalName(f: StructField): String =
    if (f.metadata.contains(PHYS_NAME_KEY)) f.metadata.getString(PHYS_NAME_KEY)
    else f.name

  /** Physical read/write schema: every field renamed to its physical name,
    * carrying `parquet.field.id` so Spark resolves by id in id mode
    * (recursive; logical types are preserved).
    */
  def physicalSchema(schema: StructType): StructType =
    NestedFields.map(schema) { (_, f) =>
      val mb = new MetadataBuilder().withMetadata(f.metadata)
      if (f.metadata.contains(ID_KEY))
        mb.putLong(PARQUET_ID_KEY, f.metadata.getLong(ID_KEY))
      f.copy(name = physicalName(f), metadata = mb.build())
    }

  /** validate_schema_column_mapping (reference
    * column_mapping.rs:82-114): id/name mode requires EVERY field —
    * nested structs included — to carry BOTH the physicalName and id
    * annotations; a half-annotated schema resolves some columns by the
    * wrong rule and reads silent NULLs. In `none` mode stale
    * annotations are tolerated on read (the reference's
    * StaleAnnotationPolicy::Ignore — downgraded tables keep reading).
    */
  def validateSchemaAnnotations(schema: StructType, mode: String): Unit = {
    if (mode == "none") return
    NestedFields.fieldsWithPaths(schema).foreach {
      case path @ (_ :+ NestedFields.Field(f)) =>
        // the error names struct fields only, without slot segments
        require(f.metadata.contains(PHYS_NAME_KEY) &&
            f.metadata.contains(ID_KEY),
          s"column mapping mode '$mode' requires physicalName and id " +
            "annotations on every field; '" + path.collect {
              case NestedFields.Field(p) => p.name }.mkString(".") +
            "' is missing them")
      case _ => ()
    }
  }

  /** Remove `delta.columnMapping.*` annotations recursively — the
    * reference's StaleAnnotationPolicy::Ignore (#2886,
    * column_mapping.rs:117-130): with mapping DISABLED a residual
    * annotation is inert, and every field resolves by its logical
    * name. Applied at the schema parse boundary (Metadata.schema) so
    * no downstream path can accidentally resolve a stale physical
    * name, and at CREATE so a write never originates a table in that
    * shape.
    */
  def stripAnnotations(schema: StructType): StructType =
    NestedFields.map(schema) { (_, f) =>
      f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .remove(PHYS_NAME_KEY).remove(ID_KEY).build())
    }

  /** Remove `parquet.field.id` annotations recursively. Name-mode READS
    * must resolve by name only — a read schema carrying field ids makes
    * Spark demand ids from parquet files, and files written by engines
    * that don't annotate ids in name mode (delta-spark) would fail to
    * read.
    */
  def withoutFieldIds(schema: StructType): StructType =
    NestedFields.map(schema) { (_, f) =>
      f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .remove(PARQUET_ID_KEY).build())
    }

  /** Strip metadata so a logical-cast target carries clean field names. */
  private def plainType(dt: DataType): DataType =
    NestedFields.map(dt)((_, f) => StructField(f.name, f.dataType, f.nullable))

  /** Column selecting the physical top-level field of `f` renamed (with
    * all nested fields) to the logical shape. Struct casts in Spark are
    * positional, so a cast to the logical type is exactly the recursive
    * rename — no per-leaf expressions needed.
    */
  def toLogical(f: StructField): Column = {
    val phys = col(quote(physicalName(f)))
    (f.dataType match {
      case _: StructType | _: ArrayType | _: MapType =>
        phys.cast(plainType(f.dataType))
      case _ => phys
    }).as(f.name)
  }

  private def quote(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** Backtick-quote a column name for parsed contexts — a name with
    * dots or backticks (legal in Delta schemas) must never reach
    * `col(...)` raw, or it resolves as a nested path / fails to parse.
    */
  def quoted(name: String): String = quote(name)

  /** `col` with backtick-quoting. */
  def qcol(name: String): Column = col(quote(name))

  /** Annotate a logical schema with fresh physical names + ids for CREATE
    * TABLE under mode name/id (reference
    * transaction/builder/create_table.rs column mapping annotation
    * assignment). Ids are assigned depth-first in field order starting
    * after `startId`; returns (annotated schema, max id used).
    */
  def assignMetadata(schema: StructType, startId: Long = 0L): (StructType, Long) = {
    var next = startId
    // TOTAL: struct fields anywhere — map keys, nested arrays/maps —
    // need annotations (the snapshot gate's validateSchemaAnnotations
    // enforces exactly this; a writer shallower than the gate would
    // brick its own tables)
    val out = NestedFields.map(schema) { (_, f) =>
      next += 1
      val mb = new MetadataBuilder().withMetadata(f.metadata)
        .putLong(ID_KEY, next)
        .putString(PHYS_NAME_KEY, s"col-${java.util.UUID.randomUUID()}")
      StructField(f.name, f.dataType, f.nullable, mb.build())
    }
    (out, next)
  }

  /** Largest column-mapping id actually present in the schema, at any
    * nesting depth. Used to self-heal a stale persisted
    * `delta.columnMapping.maxColumnId` before assigning new ids — a
    * fresh id seeded from a stale property would collide with an
    * existing field (reference
    * kernel/src/transaction/schema_evolution.rs:764-783, delta-spark's
    * `findMaxColumnId`).
    */
  def maxAssignedId(schema: StructType): Long =
    NestedFields.fieldsWithPaths(schema).map(_.last).foldLeft(0L) {
      case (acc, NestedFields.Field(f)) if f.metadata.contains(ID_KEY) =>
        math.max(acc, f.metadata.getLong(ID_KEY))
      case (acc, _) => acc
    }

  /** Reconcile column-mapping annotations across a schema evolution:
    * fields surviving from `old` (matched by name at each depth) take
    * the new field's metadata with the old field's id, physical name and
    * nested ids; fields NEW at any depth — including a field added inside
    * an existing struct — get fresh annotations starting after
    * `startId`. A widened leaf keeps its annotation (the physical column
    * is the same). Returns (annotated schema, max id used).
    */
  def reconcile(old: StructType, nu: StructType,
      startId: Long): (StructType, Long) = {
    var next = startId
    def fresh(f: StructField): StructField = {
      val (annotated, m2) = assignMetadata(StructType(Seq(f)), next)
      next = m2
      annotated.fields.head
    }
    def recType(o: DataType, n: DataType): DataType = (o, n) match {
      case (os: StructType, ns: StructType) => rec(os, ns)
      case (oa: ArrayType, na: ArrayType) =>
        na.copy(elementType = recType(oa.elementType, na.elementType))
      case (om: MapType, nm: MapType) =>
        // key structs keep their annotations too (key TYPES cannot
        // change across evolution, but the evolved schema's key struct
        // arrives annotation-free from the user)
        nm.copy(keyType = recType(om.keyType, nm.keyType),
          valueType = recType(om.valueType, nm.valueType))
      case (_, n) => n
    }
    def rec(os: StructType, ns: StructType): StructType = {
      val oldByName = os.fields.map(f => f.name -> f).toMap
      StructType(ns.fields.map { f =>
        oldByName.get(f.name) match {
          case Some(of) =>
            f.copy(dataType = recType(of.dataType, f.dataType),
              metadata = withMappingOf(of, f))
          case None => fresh(f)
        }
      })
    }
    val out = rec(old, nu)
    (out, next)
  }

  /** `f`'s metadata with the column-mapping annotations of `of`. */
  private def withMappingOf(of: StructField, f: StructField): Metadata = {
    val o = of.metadata
    val mb = new MetadataBuilder().withMetadata(f.metadata)
      .remove(ID_KEY).remove(PHYS_NAME_KEY)
      .remove(IcebergCompat.NESTED_IDS_KEY)
    if (o.contains(ID_KEY)) mb.putLong(ID_KEY, o.getLong(ID_KEY))
    if (o.contains(PHYS_NAME_KEY))
      mb.putString(PHYS_NAME_KEY, o.getString(PHYS_NAME_KEY))
    if (o.contains(IcebergCompat.NESTED_IDS_KEY))
      mb.putMetadata(IcebergCompat.NESTED_IDS_KEY,
        o.getMetadata(IcebergCompat.NESTED_IDS_KEY))
    mb.build()
  }
}
