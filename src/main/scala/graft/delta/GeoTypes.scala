package graft.delta

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.types._

/** Geospatial column types (reference kernel/src/schema/mod.rs:1867-1935
  * GeometryType/GeographyType, table_features/geospatial.rs): the
  * schemaString carries them as parameterized primitive strings —
  * `geometry(<crs>)` and `geography(<crs>, <algorithm>)` — with the
  * CRS in AUTHORITY:CODE form and the edge-interpolation algorithm one
  * of the five geodesic schemes. Values are WKB, physically `binary`
  * in parquet.
  *
  * Spark has no geometry type, so this engine maps geo columns to
  * BinaryType and preserves the EXACT delta type string in field
  * metadata ([[GEO_KEY]]); serializing the schema back restores the
  * original spelling byte-for-byte. A table whose schema uses geo
  * columns must carry the `geospatial` feature in BOTH reader and
  * writer feature lists (reference geospatial.rs
  * validate_geospatial_feature_support).
  */
object GeoTypes {

  val GEO_KEY = "graft.delta.geoType"
  val FEATURE = "geospatial"

  private val ALGORITHMS =
    Set("spherical", "vincenty", "thomas", "andoyer", "karney")

  private def isGeoString(t: String): Boolean =
    (t.startsWith("geometry(") || t.startsWith("geography(")) &&
      t.endsWith(")")

  /** CRS must be AUTHORITY:CODE, trimmed, comma-free (reference
    * schema/mod.rs validate_crs); geography additionally names its
    * algorithm after the comma.
    */
  private[delta] def validateGeoString(t: String): Unit = {
    val (kind, inner) =
      if (t.startsWith("geometry(")) ("geometry", t.substring(9, t.length - 1))
      else ("geography", t.substring(10, t.length - 1))
    val (crs, algo) =
      if (kind == "geometry") (inner, None)
      else inner.split(",", 2) match {
        case Array(c, a) => (c.trim, Some(a.trim))
        case _ => (inner, None)
      }
    require(crs == crs.trim && crs.nonEmpty,
      s"CRS '$crs' must not have leading or trailing whitespace")
    require(!crs.contains(','), s"CRS '$crs' must not contain a comma")
    val parts = crs.split(":", -1)
    require(parts.length == 2 && parts.forall(_.nonEmpty),
      s"CRS '$crs' must be in 'AUTHORITY:CODE' format")
    if (kind == "geography") {
      val a = algo.getOrElse(throw new IllegalArgumentException(
        s"geography type '$t' must name an edge interpolation algorithm"))
      require(ALGORITHMS.contains(a),
        s"unknown edge interpolation algorithm '$a'")
    }
  }

  /** Parse a delta schemaString, mapping geo primitives to annotated
    * binary fields. Geo types nested inside array/map element slots
    * have no metadata slot to round-trip through and are rejected
    * loudly (struct fields at any depth are fine).
    */
  def parseSchemaString(s: String): StructType = {
    if (!s.contains("geometry(") && !s.contains("geography("))
      return DataType.fromJson(s).asInstanceOf[StructType]
    val root = JsonLog.parseLine(s)
    rewriteToSpark(root)
    DataType.fromJson(root.toString).asInstanceOf[StructType]
  }

  private def rewriteToSpark(n: JsonNode): Unit = n match {
    case o: ObjectNode =>
      val t = o.get("type")
      if (t != null && t.isTextual && isGeoString(t.asText()) &&
          o.has("name")) {
        // a struct field: stash the delta spelling, read as binary
        validateGeoString(t.asText())
        val meta =
          if (o.get("metadata") != null && o.get("metadata").isObject)
            o.get("metadata").asInstanceOf[ObjectNode]
          else o.putObject("metadata")
        meta.put(GEO_KEY, t.asText())
        o.put("type", "binary")
      } else if (t != null && t.isTextual && isGeoString(t.asText())) {
        throw new IllegalArgumentException(
          s"geospatial type '${t.asText()}' outside a struct field " +
            "(array/map element) is not supported")
      }
      Seq("elementType", "valueType", "keyType").foreach { slot =>
        val v = o.get(slot)
        if (v != null && v.isTextual && isGeoString(v.asText()))
          throw new IllegalArgumentException(
            s"geospatial type '${v.asText()}' outside a struct field " +
              "(array/map element) is not supported")
      }
      o.properties().forEach(e => rewriteToSpark(e.getValue))
    case a if a.isArray => a.forEach(rewriteToSpark)
    case _ =>
  }

  /** Serialize a StructType back to a delta schemaString, restoring
    * geo spellings from field metadata and stripping the marker.
    */
  def toSchemaString(st: StructType): String = {
    if (!containsGeo(st)) return st.json
    val root = JsonLog.parseLine(st.json)
    rewriteToDelta(root)
    root.toString
  }

  private def rewriteToDelta(n: JsonNode): Unit = n match {
    case o: ObjectNode =>
      val meta = o.get("metadata")
      if (o.has("name") && meta != null && meta.isObject &&
          meta.has(GEO_KEY)) {
        o.put("type", meta.get(GEO_KEY).asText())
        meta.asInstanceOf[ObjectNode].remove(GEO_KEY)
      }
      o.properties().forEach(e => rewriteToDelta(e.getValue))
    case a if a.isArray => a.forEach(rewriteToDelta)
    case _ =>
  }

  /** Does any field (at any struct depth) carry a geo annotation? */
  def containsGeo(st: StructType): Boolean =
    NestedFields.fieldsWithPaths(st).exists {
      case path @ (_ :+ NestedFields.Field(f)) =>
        NestedFields.viaStructs(path) && f.metadata.contains(GEO_KEY)
      case _ => false
    }

  /** Annotate a Spark field as a geometry/geography column (the
    * CREATE-side entry point).
    */
  def geoField(name: String, deltaType: String,
      nullable: Boolean = true): StructField = {
    validateGeoString(deltaType)
    StructField(name, BinaryType, nullable,
      new MetadataBuilder().putString(GEO_KEY, deltaType).build())
  }
}
