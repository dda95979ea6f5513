package graft.delta

import com.fasterxml.jackson.databind.JsonNode

import scala.jdk.CollectionConverters._

/** adaptiveMetadata-preview manifest-commit model (reference
  * kernel/src/actions/mod.rs:1071-1245 `ContentRoot`/`CheckpointAction`
  * behind the `adaptive-metadata-in-dev` gate; adaptiveMetadata RFC
  * delta-io/delta#6978).
  *
  * A manifest commit's Delta log entry carries a `checkpoint` action —
  * an ARRAY whose elements are each one of the embedded metadata
  * actions: `checkpointMetadata`, `contentRoot`, `protocol`,
  * `metaData`, `txn`, `domainMetadata`, or a type-discriminated
  * `sidecar` (`"txn"` / `"domainMetadata"`) referencing spilled
  * entries. The commit is self-contained with respect to P&M.
  *
  * Scope mirrors the reference's in-dev build: the action model,
  * parsing, path resolution and feature-requirement enforcement are
  * implemented and tested; reading the Iceberg-V4 manifest tree itself
  * is not (the reference gates the whole module as test-only until the
  * RFC finalizes). Snapshot reads of manifest-driven tables therefore
  * still fail fast at the reader-feature gate.
  */
object AdaptiveMetadata {

  /** Reference to the root of the adaptive metadata tree
    * (actions/mod.rs:1082-1101). `path` is absolute iff it begins with
    * an RFC 3986 URI scheme; otherwise relative to the table root,
    * resolved by plain concatenation per the Iceberg V4 relative-paths
    * spec — NOT RFC 2396 percent-decoded (unlike Add/Remove paths).
    * `version` is the table version the root manifest reflects:
    * `== checkpointMetadata.version` in a manifest commit, `<` in a
    * standalone checkpoint where inline file actions cover the gap.
    */
  case class ContentRoot(path: String, sizeInBytes: Long, version: Long,
      looseCount: Option[Long] = None) {

    /** Resolve to an absolute location string (reference
      * ContentRoot::to_filemeta, actions/mod.rs:1192-1219).
      */
    def resolve(tableRoot: String): String =
      if (hasScheme(path)) path
      else if (tableRoot.endsWith("/")) tableRoot + path
      else tableRoot + "/" + path
  }

  /** The `checkpoint` action of a manifest commit (actions/mod.rs:
    * 1103-1147). `version` is `checkpointMetadata.version` — the table
    * version up to which the checkpoint is complete; it is `>=
    * contentRoot.version` and `<=` the commit version carrying it.
    */
  case class CheckpointAction(
      version: Long,
      contentRoot: ContentRoot,
      protocol: Protocol,
      metadata: Metadata,
      transactions: Seq[SetTransaction],
      domainMetadata: Seq[DomainMetadata],
      txnSidecars: Seq[Sidecar],
      domainMetadataSidecars: Seq[Sidecar])

  /** RFC 3986 §3.1 scheme detection (actions/mod.rs:1151-1178):
    * `scheme = ALPHA *( ALPHA / DIGIT / "+" / "-" / "." )` terminated
    * by `:`, US-ASCII only, non-empty before the colon.
    */
  private[delta] def hasScheme(location: String): Boolean = {
    var i = 0
    while (i < location.length) {
      val c = location.charAt(i)
      if (c == ':') return i > 0
      val ok =
        (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (i > 0 && ((c >= '0' && c <= '9') || c == '+' || c == '-' ||
          c == '.'))
      if (!ok) return false
      i += 1
    }
    false
  }

  /** Parse a commit line's `checkpoint` array into a typed
    * CheckpointAction. Returns None when the line carries no
    * `checkpoint` action. Throws on a structurally invalid action
    * (missing checkpointMetadata/contentRoot/protocol/metaData, or a
    * sidecar with an unknown `type`) — a malformed manifest commit
    * must fail fast, not read as an empty table.
    */
  def parseCheckpointAction(line: String): Option[CheckpointAction] =
    Option(JsonLog.parseLine(line).get("checkpoint"))
      .filterNot(_.isNull)
      .map(parseElements)

  private def parseElements(arr: JsonNode): CheckpointAction = {
    require(arr.isArray, "checkpoint action must be a JSON array")
    var ckptMeta: Option[CheckpointMetadata] = None
    var root: Option[ContentRoot] = None
    var protocol: Option[Protocol] = None
    var metadata: Option[Metadata] = None
    val txns = Seq.newBuilder[SetTransaction]
    val domains = Seq.newBuilder[DomainMetadata]
    val txnSide = Seq.newBuilder[Sidecar]
    val dmSide = Seq.newBuilder[Sidecar]
    arr.elements.asScala.foreach { el =>
      def one(name: String): Option[JsonNode] =
        Option(el.get(name)).filterNot(_.isNull)
      one("checkpointMetadata").foreach { n =>
        ckptMeta = Some(CheckpointMetadata(n.get("version").asLong))
      }
      one("contentRoot").foreach { n =>
        root = Some(ContentRoot(
          n.get("path").asText,
          n.get("sizeInBytes").asLong,
          n.get("version").asLong,
          // engine extension: loose (non-manifest) root-row count, so
          // the fold-threshold probe skips reading the root entirely;
          // absent on foreign-written actions → unknown → read
          Option(n.get("looseCount")).filterNot(_.isNull).map(_.asLong)))
      }
      one("protocol").foreach(n => protocol = Some(JsonLog.parseProtocol(n)))
      one("metaData").foreach(n => metadata = Some(JsonLog.parseMetadata(n)))
      one("txn").foreach(n => txns += JsonLog.parseTxn(n))
      one("domainMetadata").foreach(n => domains += JsonLog.parseDomain(n))
      one("sidecar").foreach { n =>
        val sc = Sidecar(
          n.get("path").asText,
          n.get("sizeInBytes").asLong,
          Option(n.get("modificationTime")).filterNot(_.isNull)
            .map(_.asLong).getOrElse(0L))
        n.get("type").asText match {
          case "txn"            => txnSide += sc
          case "domainMetadata" => dmSide += sc
          case other => throw new IllegalArgumentException(
            s"unknown checkpoint sidecar type '$other' " +
              "(expected 'txn' or 'domainMetadata')")
        }
      }
    }
    val cm = ckptMeta.getOrElse(throw new IllegalArgumentException(
      "checkpoint action missing checkpointMetadata"))
    val cr = root.getOrElse(throw new IllegalArgumentException(
      "checkpoint action missing contentRoot"))
    // version invariant (actions/mod.rs:1093-1098): contentRoot.version
    // <= checkpointMetadata.version — equal in a manifest commit,
    // strictly less in a standalone checkpoint
    require(cr.version <= cm.version,
      s"contentRoot.version ${cr.version} exceeds " +
        s"checkpointMetadata.version ${cm.version}")
    CheckpointAction(
      version = cm.version,
      contentRoot = cr,
      protocol = protocol.getOrElse(throw new IllegalArgumentException(
        "checkpoint action missing protocol")),
      metadata = metadata.getOrElse(throw new IllegalArgumentException(
        "checkpoint action missing metaData")),
      transactions = txns.result(),
      domainMetadata = domains.result(),
      txnSidecars = txnSide.result(),
      domainMetadataSidecars = dmSide.result())
  }

  /** Serialize a CheckpointAction back to its commit-line JSON — the
    * write twin of [[parseCheckpointAction]], used by round-trip tests
    * (the reference's serde derive gives it this for free).
    */
  def writeCheckpointAction(a: CheckpointAction): String = {
    val els = Seq.newBuilder[String]
    els += s"""{"checkpointMetadata":{"version":${a.version}}}"""
    els += s"""{"contentRoot":{"path":"${JsonLog.esc(a.contentRoot.path)}"""" +
      s""","sizeInBytes":${a.contentRoot.sizeInBytes}""" +
      s""","version":${a.contentRoot.version}""" +
      a.contentRoot.looseCount.map(n => s""","looseCount":$n""")
        .getOrElse("") + "}}"
    els += s"""{"protocol":${JsonLog.writeProtocol(a.protocol)}}"""
    els += s"""{"metaData":${JsonLog.writeMetadata(a.metadata)}}"""
    a.transactions.foreach(t => els += s"""{"txn":${JsonLog.writeTxn(t)}}""")
    a.domainMetadata.foreach(d =>
      els += s"""{"domainMetadata":${JsonLog.writeDomainMetadata(d)}}""")
    def side(tp: String, sc: Sidecar): String =
      s"""{"sidecar":{"type":"$tp","path":"${JsonLog.esc(sc.path)}"""" +
        s""","sizeInBytes":${sc.sizeInBytes}""" +
        s""","modificationTime":${sc.modificationTime}}}"""
    a.txnSidecars.foreach(sc => els += side("txn", sc))
    a.domainMetadataSidecars.foreach(sc => els += side("domainMetadata", sc))
    els.result().mkString("""{"checkpoint":[""", ",", "]}")
  }
}
