package graft.delta

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}

import scala.jdk.CollectionConverters._

/** Hand-rolled, protocol-exact JSON writer + Jackson-tree reader for log
  * actions. Writing is explicit (field order, None omission, escaping) so
  * the commit bytes we produce are stable and spec-shaped. Every
  * driver-side read of a commit file goes through [[readCommit]], and
  * every action decoder lives here; non-commit files (`.crc`,
  * `_last_checkpoint`, catalog pointers) reuse the same decoders.
  * (reference: kernel/src/actions/mod.rs serde derives)
  */
object JsonLog {

  // ---------- writing ----------
  def esc(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  private def jstr(s: String): String = "\"" + esc(s) + "\""

  private def jmap(m: Map[String, String]): String =
    m.map { case (k, v) =>
      jstr(k) + ":" + (if (v == null) "null" else jstr(v))
    }.mkString("{", ",", "}")

  private def jarr(a: Seq[String]): String =
    a.map(jstr).mkString("[", ",", "]")

  /** Builds an object from (name, Option[renderedValue]) pairs, omitting
    * absent fields.
    */
  private def obj(fields: (String, Option[String])*): String =
    fields.collect { case (k, Some(v)) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")

  def writeDv(dv: DeletionVectorDescriptor): String = obj(
    "storageType" -> Some(jstr(dv.storageType)),
    "pathOrInlineDv" -> Some(jstr(dv.pathOrInlineDv)),
    "offset" -> dv.offset.map(_.toString),
    "sizeInBytes" -> Some(dv.sizeInBytes.toString),
    "cardinality" -> Some(dv.cardinality.toString))

  def writeAdd(a: AddFile): String = obj(
    "path" -> Some(jstr(a.path)),
    "partitionValues" -> Some(jmap(a.partitionValues)),
    "size" -> Some(a.size.toString),
    "modificationTime" -> Some(a.modificationTime.toString),
    "dataChange" -> Some(a.dataChange.toString),
    "stats" -> a.stats.map(jstr),
    "tags" -> a.tags.map(jmap),
    "deletionVector" -> a.deletionVector.map(writeDv),
    "baseRowId" -> a.baseRowId.map(_.toString),
    "defaultRowCommitVersion" -> a.defaultRowCommitVersion.map(_.toString),
    "clusteringProvider" -> a.clusteringProvider.map(jstr))

  def writeRemove(r: RemoveFile): String = obj(
    "path" -> Some(jstr(r.path)),
    "deletionTimestamp" -> r.deletionTimestamp.map(_.toString),
    "dataChange" -> Some(r.dataChange.toString),
    "extendedFileMetadata" -> r.extendedFileMetadata.map(_.toString),
    "partitionValues" -> r.partitionValues.map(jmap),
    "size" -> r.size.map(_.toString),
    "stats" -> r.stats.map(jstr),
    "tags" -> r.tags.map(jmap),
    "deletionVector" -> r.deletionVector.map(writeDv),
    "baseRowId" -> r.baseRowId.map(_.toString),
    "defaultRowCommitVersion" -> r.defaultRowCommitVersion.map(_.toString))

  def writeMetadata(m: Metadata): String = obj(
    "id" -> Some(jstr(m.id)),
    "name" -> m.name.map(jstr),
    "description" -> m.description.map(jstr),
    "format" -> Some(obj(
      "provider" -> Some(jstr(m.format.provider)),
      "options" -> Some(jmap(m.format.options)))),
    "schemaString" -> Some(jstr(m.schemaString)),
    "partitionColumns" -> Some(jarr(m.partitionColumns)),
    "configuration" -> Some(jmap(m.configuration)),
    "createdTime" -> m.createdTime.map(_.toString))

  def writeProtocol(p: Protocol): String = obj(
    "minReaderVersion" -> Some(p.minReaderVersion.toString),
    "minWriterVersion" -> Some(p.minWriterVersion.toString),
    "readerFeatures" -> p.readerFeatures.map(jarr),
    "writerFeatures" -> p.writerFeatures.map(jarr))

  def writeTxn(t: SetTransaction): String = obj(
    "appId" -> Some(jstr(t.appId)),
    "version" -> Some(t.version.toString),
    "lastUpdated" -> t.lastUpdated.map(_.toString))

  def writeCommitInfo(c: CommitInfo): String = obj(
    "timestamp" -> Some(c.timestamp.toString),
    "operation" -> Some(jstr(c.operation)),
    "operationParameters" -> Some(jmap(c.operationParameters)),
    "engineInfo" -> c.engineInfo.map(jstr),
    "inCommitTimestamp" -> c.inCommitTimestamp.map(_.toString),
    "correlationId" -> c.correlationId.map(jstr))

  def writeCdc(c: AddCDCFile): String = obj(
    "path" -> Some(jstr(c.path)),
    "partitionValues" -> Some(jmap(c.partitionValues)),
    "size" -> Some(c.size.toString),
    "dataChange" -> Some(c.dataChange.toString))

  def writeSidecar(sc: Sidecar): String = obj(
    "path" -> Some(jstr(sc.path)),
    "sizeInBytes" -> Some(sc.sizeInBytes.toString),
    "modificationTime" -> Some(sc.modificationTime.toString),
    "tags" -> sc.tags.map(jmap))

  def writeCheckpointMetadata(c: CheckpointMetadata): String = obj(
    "version" -> Some(c.version.toString),
    "tags" -> c.tags.map(jmap))

  def writeDomainMetadata(d: DomainMetadata): String = obj(
    "domain" -> Some(jstr(d.domain)),
    "configuration" -> Some(jstr(d.configuration)),
    "removed" -> Some(d.removed.toString))

  /** One log line for a SingleAction. */
  def writeAction(a: SingleAction): String = {
    val wrapped: Seq[(String, Option[String])] = Seq(
      "txn" -> a.txn.map(writeTxn),
      "add" -> a.add.map(writeAdd),
      "remove" -> a.remove.map(writeRemove),
      "metaData" -> a.metaData.map(writeMetadata),
      "protocol" -> a.protocol.map(writeProtocol),
      "cdc" -> a.cdc.map(writeCdc),
      "commitInfo" -> a.commitInfo.map(writeCommitInfo),
      "domainMetadata" -> a.domainMetadata.map(writeDomainMetadata),
      "sidecar" -> a.sidecar.map(writeSidecar),
      "checkpointMetadata" -> a.checkpointMetadata.map(writeCheckpointMetadata))
    obj(wrapped: _*)
  }

  // ---------- reading (driver-side, Jackson tree) ----------
  val mapper = new ObjectMapper()

  def parseLine(line: String): JsonNode = mapper.readTree(line)

  /** Every action kind a log line can carry, by its JSON key. */
  val AllKinds: Set[String] = Set("txn", "add", "remove", "metaData",
    "protocol", "cdc", "commitInfo", "domainMetadata", "sidecar",
    "checkpointMetadata")

  private val PM = Set("protocol", "metaData")
  private val NoAction = SingleAction()

  /** The one driver-side reader of a commit file: each line carrying a
    * requested action kind, as its text and its decoded action (only
    * the requested kinds are decoded). A line is parsed only when it
    * contains `"<kind>"` for a requested kind — data commits are
    * overwhelmingly add/remove lines, so a P&M or timestamp lookup
    * costs I/O, not JSON parsing.
    */
  def readCommit(fs: FileSystem, path: Path,
      kinds: Set[String]): Seq[(String, SingleAction)] = {
    val needles = kinds.toSeq.map("\"" + _ + "\"")
    Storage.readLines(fs, path).flatMap { line =>
      if (!needles.exists(line.contains)) None
      else Some(line -> decode(parseLine(line), kinds))
        .filter(_._2 != NoAction)
    }
  }

  /** The requested kinds of one parsed log line. */
  private def decode(n: JsonNode, kinds: Set[String]): SingleAction = {
    def kind(k: String) =
      if (kinds(k)) Option(n.get(k)).filterNot(_.isNull) else None
    SingleAction(
      txn = kind("txn").map(parseTxn),
      add = kind("add").map(parseAdd),
      remove = kind("remove").map(parseRemove),
      metaData = kind("metaData").map(parseMetadata),
      protocol = kind("protocol").map(parseProtocol),
      cdc = kind("cdc").map(parseCdc),
      commitInfo = kind("commitInfo").map(parseCommitInfo),
      domainMetadata = kind("domainMetadata").map(parseDomain),
      sidecar = kind("sidecar").map(parseSidecar),
      checkpointMetadata =
        kind("checkpointMetadata").map(parseCheckpointMetadata))
  }

  /** Newest-first P&M over commit files given newest first (reference
    * log_segment/protocol_metadata_replay.rs): the first protocol and
    * the first metadata seen win, and no further file is read once both
    * are found.
    */
  def protocolAndMetadata(fs: FileSystem, newestFirst: Seq[Path])
      : (Option[Protocol], Option[Metadata]) = {
    var protocol: Option[Protocol] = None
    var metadata: Option[Metadata] = None
    newestFirst.iterator.takeWhile(_ => protocol.isEmpty || metadata.isEmpty)
      .foreach { p =>
        Cancellation.check() // poll between commit files
        readCommit(fs, p, PM).foreach { case (_, a) =>
          protocol = protocol.orElse(a.protocol)
          metadata = metadata.orElse(a.metaData)
        }
      }
    (protocol, metadata)
  }

  /** The first commitInfo of a commit file, if any. */
  def commitInfo(fs: FileSystem, path: Path): Option[CommitInfo] =
    readCommit(fs, path, Set("commitInfo")).iterator
      .flatMap(_._2.commitInfo).nextOption()

  /** A commit's timestamp: its in-commit timestamp, else `mtime` (the
    * file's modification time).
    */
  def timestamp(ci: Option[CommitInfo], mtime: Long): Long =
    ci.flatMap(_.inCommitTimestamp).getOrElse(mtime)

  def commitTimestamp(fs: FileSystem, path: Path, mtime: Long): Long =
    timestamp(commitInfo(fs, path), mtime)

  private def opt(n: JsonNode, f: String): Option[JsonNode] =
    Option(n.get(f)).filterNot(_.isNull)
  private def optText(n: JsonNode, f: String): Option[String] =
    opt(n, f).map(_.asText)
  private def optLong(n: JsonNode, f: String): Option[Long] =
    opt(n, f).map(_.asLong)
  private def optBool(n: JsonNode, f: String): Option[Boolean] =
    opt(n, f).map(_.asBoolean)
  private def optMap(n: JsonNode, f: String): Option[Map[String, String]] =
    opt(n, f).map(strMap)
  private def optArr(n: JsonNode, f: String): Option[Seq[String]] =
    opt(n, f).map(_.elements.asScala.map(_.asText).toSeq)
  private def strMap(n: JsonNode): Map[String, String] =
    n.properties().asScala.map { e =>
      e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText)
    }.toMap

  def parseProtocol(n: JsonNode): Protocol = Protocol(
    n.get("minReaderVersion").asInt,
    n.get("minWriterVersion").asInt,
    optArr(n, "readerFeatures"),
    optArr(n, "writerFeatures"))

  def parseMetadata(n: JsonNode): Metadata = Metadata(
    id = n.get("id").asText,
    name = optText(n, "name"),
    description = optText(n, "description"),
    format = Option(n.get("format")).map(f => Format(
      Option(f.get("provider")).map(_.asText).getOrElse("parquet"),
      optMap(f, "options").getOrElse(Map.empty))).getOrElse(Format()),
    schemaString = n.get("schemaString").asText,
    partitionColumns = Option(n.get("partitionColumns"))
      .map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil),
    configuration = optMap(n, "configuration").getOrElse(Map.empty),
    createdTime = optLong(n, "createdTime"))

  def parseDv(n: JsonNode): DeletionVectorDescriptor =
    DeletionVectorDescriptor(
      n.get("storageType").asText, n.get("pathOrInlineDv").asText,
      opt(n, "offset").map(_.asInt), n.get("sizeInBytes").asInt,
      n.get("cardinality").asLong)

  def parseAdd(n: JsonNode): AddFile = AddFile(
    path = n.get("path").asText,
    partitionValues = optMap(n, "partitionValues").getOrElse(Map.empty),
    size = n.get("size").asLong,
    modificationTime = optLong(n, "modificationTime").getOrElse(0L),
    dataChange = optBool(n, "dataChange").getOrElse(true),
    stats = optText(n, "stats"),
    tags = optMap(n, "tags"),
    deletionVector = opt(n, "deletionVector").map(parseDv),
    baseRowId = optLong(n, "baseRowId"),
    defaultRowCommitVersion = optLong(n, "defaultRowCommitVersion"),
    clusteringProvider = optText(n, "clusteringProvider"))

  def parseRemove(n: JsonNode): RemoveFile = RemoveFile(
    path = n.get("path").asText,
    deletionTimestamp = optLong(n, "deletionTimestamp"),
    dataChange = optBool(n, "dataChange").getOrElse(true),
    extendedFileMetadata = optBool(n, "extendedFileMetadata"),
    partitionValues = optMap(n, "partitionValues"),
    size = optLong(n, "size"),
    stats = optText(n, "stats"),
    tags = optMap(n, "tags"),
    deletionVector = opt(n, "deletionVector").map(parseDv),
    baseRowId = optLong(n, "baseRowId"),
    defaultRowCommitVersion = optLong(n, "defaultRowCommitVersion"))

  def parseCdc(n: JsonNode): AddCDCFile = AddCDCFile(
    path = n.get("path").asText,
    partitionValues = optMap(n, "partitionValues").getOrElse(Map.empty),
    size = n.get("size").asLong,
    dataChange = optBool(n, "dataChange").getOrElse(false))

  def parseTxn(n: JsonNode): SetTransaction = SetTransaction(
    n.get("appId").asText, n.get("version").asLong, optLong(n, "lastUpdated"))

  def parseDomain(n: JsonNode): DomainMetadata = DomainMetadata(
    n.get("domain").asText, optText(n, "configuration").getOrElse(""),
    optBool(n, "removed").getOrElse(false))

  /** A foreign writer may omit any commitInfo field: no operation reads
    * as "", no timestamp as 0.
    */
  def parseCommitInfo(n: JsonNode): CommitInfo = CommitInfo(
    timestamp = optLong(n, "timestamp").getOrElse(0L),
    operation = optText(n, "operation").getOrElse(""),
    operationParameters =
      optMap(n, "operationParameters").getOrElse(Map.empty),
    engineInfo = optText(n, "engineInfo"),
    inCommitTimestamp = optLong(n, "inCommitTimestamp"),
    correlationId = optText(n, "correlationId"))

  def parseSidecar(n: JsonNode): Sidecar = Sidecar(
    n.get("path").asText, n.get("sizeInBytes").asLong,
    optLong(n, "modificationTime").getOrElse(0L), optMap(n, "tags"))

  def parseCheckpointMetadata(n: JsonNode): CheckpointMetadata =
    CheckpointMetadata(n.get("version").asLong, optMap(n, "tags"))
}
