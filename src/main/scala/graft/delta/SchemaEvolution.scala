package graft.delta

import org.apache.spark.sql.types._

/** Schema evolution validation (reference:
  * kernel/src/transaction/schema_evolution.rs,
  * kernel/src/schema/mod.rs:2030-2055 widening matrix,
  * kernel/src/schema/compare.rs).
  *
  * Allowed evolutions for ALTER TABLE:
  *  - add a nullable column (old files read it as NULL — free with
  *    Spark's schema-first parquet read)
  *  - widen a column per the protocol matrix: byte → short → int →
  *    long, float → double, timestamp ↔ timestamp_ntz (old int32/float
  *    pages read natively under the widened schema by Spark's
  *    vectorized reader)
  * Drops, renames (without column mapping), narrowing, and nullability
  * tightening are rejected.
  */
object SchemaEvolution {

  /** Protocol widening matrix (schema/mod.rs:2030-2055). */
  def canWiden(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (TimestampType, TimestampNTZType) => true
    case (TimestampNTZType, TimestampType) => true
    case _ => false
  }

  /** Structural diff between two schemas (reference
    * kernel/src/schema/diff.rs): added/dropped columns and type changes
    * by top-level name.
    */
  case class SchemaDiff(
      added: Seq[StructField],
      dropped: Seq[StructField],
      changed: Seq[(StructField, StructField)]) {
    def isEmpty: Boolean = added.isEmpty && dropped.isEmpty && changed.isEmpty
  }

  def diff(oldSchema: StructType, newSchema: StructType): SchemaDiff = {
    val oldByName = oldSchema.fields.map(f => f.name -> f).toMap
    val newByName = newSchema.fields.map(f => f.name -> f).toMap
    SchemaDiff(
      added = newSchema.fields.filterNot(f => oldByName.contains(f.name)),
      dropped = oldSchema.fields.filterNot(f => newByName.contains(f.name)),
      changed = oldSchema.fields.flatMap(of =>
        newByName.get(of.name)
          .filter(_.dataType != of.dataType)
          .map(nf => (of, nf))))
  }

  /** One field-level change in a field-id diff. `path` is the dotted
    * logical path in the NEW schema for adds/renames, in the OLD
    * schema for drops.
    */
  case class FieldIdDiff(
      added: Seq[(String, StructField)],
      dropped: Seq[(String, StructField)],
      renamed: Seq[(String, String, Long)], // old path, new path, id
      widened: Seq[(String, DataType, DataType)],
      incompatible: Seq[(String, DataType, DataType)]) {
    def isEmpty: Boolean = added.isEmpty && dropped.isEmpty &&
      renamed.isEmpty && widened.isEmpty && incompatible.isEmpty
  }

  /** Field-id-level structural diff (reference kernel/src/schema/
    * diff.rs): fields carrying a column-mapping id pair BY ID across
    * the two schemas — a same-id leaf-name change is a RENAME, a
    * same-id type change classifies per the widening matrix — while
    * id-less fields pair by path (a rename then reads as drop+add,
    * which is exactly Delta's semantics without column mapping).
    * Recurses into structs, array elements and map values; struct-
    * typed fields are never themselves reported as type changes (their
    * children carry the detail).
    */
  def diffByFieldId(oldSchema: StructType,
      newSchema: StructType): FieldIdDiff = {
    import NestedFields.{Field, Slot}
    // struct fields, entered through at most one array element or map
    // value slot at a time (never a map key)
    def flatten(st: StructType): Seq[(Option[Long], String, StructField)] =
      NestedFields.fieldsWithPaths(st).collect {
        case path @ (_ :+ Field(f)) if path.zip(path.tail).forall {
            case (s: Slot, next) =>
              s.name != "key" && next.isInstanceOf[Field]
            case _ => true
          } =>
          val id =
            if (f.metadata.contains(ColumnMapping.ID_KEY))
              Some(f.metadata.getLong(ColumnMapping.ID_KEY))
            else None
          (id, path.map(_.name).mkString("."), f)
      }.toSeq
    def leaf(p: String): String = p.substring(p.lastIndexOf('.') + 1)
    def isStructish(dt: DataType): Boolean = dt match {
      case _: StructType => true
      case ArrayType(_: StructType, _) => true
      case MapType(_, _: StructType, _) => true
      case _ => false
    }
    val o = flatten(oldSchema)
    val n = flatten(newSchema)
    val oById = o.collect { case (Some(i), p, f) => i -> (p, f) }.toMap
    val nById = n.collect { case (Some(i), p, f) => i -> (p, f) }.toMap
    val added = Seq.newBuilder[(String, StructField)]
    val dropped = Seq.newBuilder[(String, StructField)]
    val renamed = Seq.newBuilder[(String, String, Long)]
    val widened = Seq.newBuilder[(String, DataType, DataType)]
    val incompat = Seq.newBuilder[(String, DataType, DataType)]
    def typeChange(path: String, of: StructField,
        nf: StructField): Unit =
      if (!isStructish(of.dataType) && !isStructish(nf.dataType) &&
          of.dataType != nf.dataType) {
        if (canWiden(of.dataType, nf.dataType))
          widened += ((path, of.dataType, nf.dataType))
        else incompat += ((path, of.dataType, nf.dataType))
      }
    // id-carrying fields pair by id
    (oById.keySet ++ nById.keySet).toSeq.sorted.foreach { id =>
      (oById.get(id), nById.get(id)) match {
        case (Some((op, of)), Some((np, nf))) =>
          if (leaf(op) != leaf(np)) renamed += ((op, np, id))
          typeChange(np, of, nf)
        case (Some((op, of)), None) => dropped += ((op, of))
        case (None, Some((np, nf))) => added += ((np, nf))
        case _ => ()
      }
    }
    // id-less fields pair by path
    val oByPath = o.collect { case (None, p, f) => p -> f }.toMap
    val nByPath = n.collect { case (None, p, f) => p -> f }.toMap
    (oByPath.keySet ++ nByPath.keySet).toSeq.sorted.foreach { p =>
      (oByPath.get(p), nByPath.get(p)) match {
        case (Some(of), Some(nf)) => typeChange(p, of, nf)
        case (Some(of), None) => dropped += ((p, of))
        case (None, Some(nf)) => added += ((p, nf))
        case _ => ()
      }
    }
    FieldIdDiff(added.result(), dropped.result(), renamed.result(),
      widened.result(), incompat.result())
  }

  /** Validate that `newSchema` is a legal evolution of `oldSchema`:
    * every old column present (same name), type equal or widened,
    * nullability never tightened; new columns must be nullable.
    * Recurses into structs (including struct-typed array elements and
    * map values), so nested field adds/widenings validate by the same
    * rules at any depth (reference
    * kernel/src/transaction/schema_evolution.rs nested
    * modify_field_at_path + nested add tests). Returns the offending
    * description on failure.
    */
  def validate(oldSchema: StructType, newSchema: StructType): Option[String] =
    validateAt(oldSchema, newSchema, "")

  private def validateAt(oldSchema: StructType, newSchema: StructType,
      prefix: String): Option[String] = {
    val newByName = newSchema.fields.map(f => f.name -> f).toMap
    oldSchema.fields.iterator.flatMap { of =>
      val path = prefix + of.name
      newByName.get(of.name) match {
        case None => Some(s"column '$path' was dropped")
        case Some(nf) =>
          if (of.nullable && !nf.nullable)
            Some(s"column '$path': nullability cannot tighten")
          else validateType(of.dataType, nf.dataType, path)
      }
    }.nextOption().orElse {
      val oldNames = oldSchema.fieldNames.toSet
      newSchema.fields.iterator
        .filter(f => !oldNames.contains(f.name) && !f.nullable)
        .map(f => s"new column '$prefix${f.name}' must be nullable")
        .nextOption()
    }
  }

  private def validateType(old: DataType, nu: DataType,
      path: String): Option[String] = (old, nu) match {
    case (os: StructType, ns: StructType) =>
      validateAt(os, ns, path + ".")
    case (oa: ArrayType, na: ArrayType) =>
      if (oa.containsNull && !na.containsNull)
        Some(s"column '$path': array element nullability cannot tighten")
      else validateType(oa.elementType, na.elementType, path + ".element")
    case (om: MapType, nm: MapType) =>
      if (om.keyType != nm.keyType)
        Some(s"column '$path': map key type cannot change")
      else if (om.valueContainsNull && !nm.valueContainsNull)
        Some(s"column '$path': map value nullability cannot tighten")
      else validateType(om.valueType, nm.valueType, path + ".value")
    case (o, n) =>
      if (canWiden(o, n)) None
      else Some(s"column '$path': ${o.simpleString} cannot " +
        s"widen to ${n.simpleString}")
  }

  /** Merge an incoming write schema into the table schema
    * (delta-spark's `mergeSchema` writer option semantics): table
    * column order is preserved; a column present in both keeps the
    * WIDER of the two types per [[canWiden]] (a narrower incoming
    * column upcasts at write time instead); incoming-only columns
    * append as nullable. Incompatible type pairs fail loudly — a
    * silent cast would corrupt data.
    * Name matching is case-insensitive, like Spark's resolution.
    */
  def merge(table: StructType, incoming: StructType): StructType = {
    def find(s: StructType, name: String): Option[StructField] =
      s.fields.find(_.name.equalsIgnoreCase(name))
    def mergeType(tName: String, t: DataType, in: DataType): DataType =
      (t, in) match {
        // nested structs merge field-wise at any depth (reference
        // schema_evolution.rs nested add; delta-spark mergeSchemas)
        case (ts: StructType, is: StructType) => merge(ts, is)
        case (ta: ArrayType, ia: ArrayType) =>
          ta.copy(elementType =
            mergeType(tName + ".element", ta.elementType, ia.elementType),
            containsNull = ta.containsNull || ia.containsNull)
        case (tm: MapType, im: MapType) if tm.keyType == im.keyType =>
          tm.copy(valueType =
            mergeType(tName + ".value", tm.valueType, im.valueType),
            valueContainsNull = tm.valueContainsNull || im.valueContainsNull)
        case (a, b) if a == b => a
        case (a, b) if canWiden(a, b) => b
        case (a, b) if canWiden(b, a) => a
        case (a, b) => throw new IllegalArgumentException(
          s"mergeSchema: column '$tName' " +
            s"${a.simpleString} cannot merge with incoming " +
            b.simpleString)
      }
    val kept = table.fields.map { tf =>
      find(incoming, tf.name) match {
        case Some(inf) =>
          tf.copy(dataType = mergeType(tf.name, tf.dataType, inf.dataType))
        case None => tf
      }
    }
    val added = incoming.fields
      .filter(f => find(table, f.name).isEmpty)
      .map(_.copy(nullable = true))
    StructType(kept ++ added)
  }
}

/** The one recursion over a single nested Delta schema (reference
  * kernel/src/schema/mod.rs type tree; schema_evolution.rs
  * modify_field_at_path). A schema nests through struct fields, array
  * elements, and map keys and values; every reader and writer that
  * walks one schema goes through [[map]], [[fieldsWithPaths]] or
  * [[modifyAt]], and narrows the walk by filtering on the path it is
  * handed rather than by writing its own recursion.
  */
object NestedFields {

  /** One step down a schema: into a struct field, or into the
    * `element` slot of an array or the `key` / `value` slot of a map.
    * Either way the step knows the type it leads to.
    */
  sealed trait Step {
    def name: String
    def dataType: DataType
  }
  final case class Field(field: StructField) extends Step {
    def name: String = field.name
    def dataType: DataType = field.dataType
  }
  final case class Slot(name: String, dataType: DataType) extends Step

  type Path = Seq[Step]

  /** True when `path` reaches its position through struct fields only
    * (no array or map on the way).
    */
  def viaStructs(path: Path): Boolean = path.forall(_.isInstanceOf[Field])

  /** Rewrite every struct field at any depth under `dt`, through array
    * elements and map keys and values. `f` sees each field top-down —
    * before its own children — with the path that reaches it (the
    * field's own step last), and the walk continues into the type of
    * the field `f` returns. Fields are visited in schema order, map keys
    * before values.
    */
  def map[T <: DataType](dt: T)(f: (Path, StructField) => StructField): T = {
    def rewrite(prefix: Path, t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map { field =>
        val path = prefix :+ Field(field)
        val out = f(path, field)
        out.copy(dataType = rewrite(path, out.dataType))
      })
      case a: ArrayType => a.copy(elementType =
        rewrite(prefix :+ Slot("element", a.elementType), a.elementType))
      case m: MapType => m.copy(
        keyType = rewrite(prefix :+ Slot("key", m.keyType), m.keyType),
        valueType = rewrite(prefix :+ Slot("value", m.valueType), m.valueType))
      case other => other
    }
    rewrite(Vector.empty, dt).asInstanceOf[T]
  }

  /** Every position under `dt` — struct fields and array/map slots —
    * lazily in pre-order (schema order, map keys before values), each as
    * the path that reaches it, the position itself last.
    */
  def fieldsWithPaths(dt: DataType): Iterator[Path] = {
    def below(prefix: Path, t: DataType): Iterator[Path] = t match {
      case s: StructType => s.fields.iterator.flatMap(f => at(prefix :+ Field(f)))
      case a: ArrayType => at(prefix :+ Slot("element", a.elementType))
      case m: MapType => at(prefix :+ Slot("key", m.keyType)) ++
        at(prefix :+ Slot("value", m.valueType))
      case _ => Iterator.empty
    }
    def at(path: Path): Iterator[Path] =
      Iterator.single(path) ++ below(path, path.last.dataType)
    below(Vector.empty, dt)
  }

  /** Replace the struct holding the last step of the column `path` with
    * `edit(struct, lastStep)`. Every earlier step names a field of the
    * current struct (else `"$missing '<step>'"`), and that field's type
    * is entered through any arrays (element) and maps (value, never key)
    * down to a struct; any other type fails as "cannot `verb` ...".
    */
  def modifyAt(schema: StructType, path: Seq[String], verb: String,
      missing: String = "no column")(
      edit: (StructType, String) => StructType): StructType = {
    def at(s: StructType, p: Seq[String]): StructType =
      if (p.tail.isEmpty) edit(s, p.head)
      else {
        val i = s.fieldNames.indexOf(p.head)
        require(i >= 0, s"$missing '${p.head}'")
        def descend(dt: DataType): DataType = dt match {
          case inner: StructType => at(inner, p.tail)
          case a: ArrayType => a.copy(elementType = descend(a.elementType))
          case m: MapType => m.copy(valueType = descend(m.valueType))
          case other => throw new IllegalArgumentException(
            s"cannot $verb '${path.mkString(".")}': '${p.head}' is " +
              s"${other.simpleString}, not a struct")
        }
        val f = s.fields(i)
        StructType(s.fields.updated(i, f.copy(dataType = descend(f.dataType))))
      }
    at(schema, path)
  }
}
