package graft.delta

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema

/** Row <-> action-case-class conversions for the `LogSchema` structs —
  * used by the driver fast-path replay (actions decoded by [[JsonLog]],
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
}
