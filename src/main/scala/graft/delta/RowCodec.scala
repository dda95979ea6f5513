package graft.delta

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema

import scala.jdk.CollectionConverters._

/** Row <-> action-case-class conversions for the `LogSchema` structs —
  * used by the driver fast-path replay (actions parsed on the driver,
  * then lifted into a DataFrame) and when collecting scan-file rows.
  */
object RowCodec {

  // ---------- case class -> Row (schema = LogSchema.*) ----------
  private def orNull[T](o: Option[T]): Any = o.getOrElse(null)

  def dvToRow(d: DeletionVectorDescriptor): Row =
    new GenericRowWithSchema(Array[Any](d.storageType, d.pathOrInlineDv,
      orNull(d.offset), d.sizeInBytes, d.cardinality), LogSchema.deletionVector)

  def addToRow(a: AddFile): Row =
    new GenericRowWithSchema(Array[Any](
      a.path, a.partitionValues, a.size, a.modificationTime, a.dataChange,
      orNull(a.stats), orNull(a.tags), a.deletionVector.map(dvToRow).orNull,
      orNull(a.baseRowId), orNull(a.defaultRowCommitVersion),
      orNull(a.clusteringProvider)), LogSchema.add)

  def removeToRow(r: RemoveFile): Row =
    new GenericRowWithSchema(Array[Any](
      r.path, orNull(r.deletionTimestamp), r.dataChange,
      orNull(r.extendedFileMetadata), orNull(r.partitionValues),
      orNull(r.size), orNull(r.stats), orNull(r.tags),
      r.deletionVector.map(dvToRow).orNull, orNull(r.baseRowId),
      orNull(r.defaultRowCommitVersion)), LogSchema.remove)

  // ---------- Row -> case class ----------
  private def opt[T](r: Row, field: String): Option[T] = {
    val i = r.fieldIndex(field)
    if (r.isNullAt(i)) None else Some(r.getAs[T](i))
  }

  def rowToDv(r: Row): DeletionVectorDescriptor =
    DeletionVectorDescriptor(
      r.getAs[String]("storageType"), r.getAs[String]("pathOrInlineDv"),
      opt[Int](r, "offset"), r.getAs[Int]("sizeInBytes"),
      r.getAs[Long]("cardinality"))

  def rowToAdd(r: Row): AddFile = AddFile(
    path = r.getAs[String]("path"),
    partitionValues = Option(r.getAs[Map[String, String]]("partitionValues"))
      .getOrElse(Map.empty),
    size = r.getAs[Long]("size"),
    modificationTime = opt[Long](r, "modificationTime").getOrElse(0L),
    dataChange = opt[Boolean](r, "dataChange").getOrElse(true),
    stats = opt[String](r, "stats"),
    tags = opt[Map[String, String]](r, "tags"),
    deletionVector = opt[Row](r, "deletionVector").map(rowToDv),
    baseRowId = opt[Long](r, "baseRowId"),
    defaultRowCommitVersion = opt[Long](r, "defaultRowCommitVersion"),
    clusteringProvider = opt[String](r, "clusteringProvider"))

  def rowToRemove(r: Row): RemoveFile = RemoveFile(
    path = r.getAs[String]("path"),
    deletionTimestamp = opt[Long](r, "deletionTimestamp"),
    dataChange = opt[Boolean](r, "dataChange").getOrElse(true),
    extendedFileMetadata = opt[Boolean](r, "extendedFileMetadata"),
    partitionValues = opt[Map[String, String]](r, "partitionValues"),
    size = opt[Long](r, "size"),
    stats = opt[String](r, "stats"),
    tags = opt[Map[String, String]](r, "tags"),
    deletionVector = opt[Row](r, "deletionVector").map(rowToDv),
    baseRowId = opt[Long](r, "baseRowId"),
    defaultRowCommitVersion = opt[Long](r, "defaultRowCommitVersion"))

  def rowToTxn(r: Row): SetTransaction = SetTransaction(
    r.getAs[String]("appId"), r.getAs[Long]("version"),
    opt[Long](r, "lastUpdated"))

  def rowToDomain(r: Row): DomainMetadata = DomainMetadata(
    r.getAs[String]("domain"), r.getAs[String]("configuration"),
    r.getAs[Boolean]("removed"))

  def rowToMetadata(r: Row): Metadata = Metadata(
    id = r.getAs[String]("id"),
    name = opt[String](r, "name"),
    description = opt[String](r, "description"),
    format = opt[Row](r, "format").map(f => Format(
      Option(f.getAs[String]("provider")).getOrElse("parquet"),
      Option(f.getAs[Map[String, String]]("options")).getOrElse(Map.empty)))
      .getOrElse(Format()),
    schemaString = r.getAs[String]("schemaString"),
    partitionColumns = Option(r.getAs[scala.collection.Seq[String]]("partitionColumns"))
      .map(_.toSeq).getOrElse(Nil),
    configuration = Option(r.getAs[Map[String, String]]("configuration"))
      .getOrElse(Map.empty),
    createdTime = opt[Long](r, "createdTime"))

  def rowToProtocol(r: Row): Protocol = Protocol(
    r.getAs[Int]("minReaderVersion"), r.getAs[Int]("minWriterVersion"),
    opt[scala.collection.Seq[String]](r, "readerFeatures").map(_.toSeq),
    opt[scala.collection.Seq[String]](r, "writerFeatures").map(_.toSeq))

  // ---------- JsonNode -> case class (driver fast-path replay) ----------
  private def optText(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText)
  private def optLong(n: JsonNode, f: String): Option[Long] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asLong)
  private def optInt(n: JsonNode, f: String): Option[Int] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asInt)
  private def optBool(n: JsonNode, f: String): Option[Boolean] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asBoolean)
  private def strMap(n: JsonNode): Map[String, String] =
    n.properties().asScala.map { e =>
      e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText)
    }.toMap

  def jsonToDv(n: JsonNode): DeletionVectorDescriptor =
    DeletionVectorDescriptor(
      n.get("storageType").asText, n.get("pathOrInlineDv").asText,
      optInt(n, "offset"), n.get("sizeInBytes").asInt,
      n.get("cardinality").asLong)

  def jsonToAdd(n: JsonNode): AddFile = AddFile(
    path = n.get("path").asText,
    partitionValues = Option(n.get("partitionValues")).filterNot(_.isNull)
      .map(strMap).getOrElse(Map.empty),
    size = n.get("size").asLong,
    modificationTime = optLong(n, "modificationTime").getOrElse(0L),
    dataChange = optBool(n, "dataChange").getOrElse(true),
    stats = optText(n, "stats"),
    tags = Option(n.get("tags")).filterNot(_.isNull).map(strMap),
    deletionVector = Option(n.get("deletionVector")).filterNot(_.isNull)
      .map(jsonToDv),
    baseRowId = optLong(n, "baseRowId"),
    defaultRowCommitVersion = optLong(n, "defaultRowCommitVersion"),
    clusteringProvider = optText(n, "clusteringProvider"))

  def jsonToCdc(n: JsonNode): AddCDCFile = AddCDCFile(
    path = n.get("path").asText,
    partitionValues = Option(n.get("partitionValues")).filterNot(_.isNull)
      .map(strMap).getOrElse(Map.empty),
    size = n.get("size").asLong,
    dataChange = optBool(n, "dataChange").getOrElse(false))

  def jsonToTxn(n: JsonNode): SetTransaction = SetTransaction(
    n.get("appId").asText, n.get("version").asLong, optLong(n, "lastUpdated"))

  def jsonToDomain(n: JsonNode): DomainMetadata = DomainMetadata(
    n.get("domain").asText, optText(n, "configuration").getOrElse(""),
    optBool(n, "removed").getOrElse(false))

  def jsonToRemove(n: JsonNode): RemoveFile = RemoveFile(
    path = n.get("path").asText,
    deletionTimestamp = optLong(n, "deletionTimestamp"),
    dataChange = optBool(n, "dataChange").getOrElse(true),
    extendedFileMetadata = optBool(n, "extendedFileMetadata"),
    partitionValues = Option(n.get("partitionValues")).filterNot(_.isNull)
      .map(strMap),
    size = optLong(n, "size"),
    stats = optText(n, "stats"),
    tags = Option(n.get("tags")).filterNot(_.isNull).map(strMap),
    deletionVector = Option(n.get("deletionVector")).filterNot(_.isNull)
      .map(jsonToDv),
    baseRowId = optLong(n, "baseRowId"),
    defaultRowCommitVersion = optLong(n, "defaultRowCommitVersion"))
}
