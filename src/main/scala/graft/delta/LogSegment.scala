package graft.delta

import org.apache.hadoop.fs.{FileSystem, Path}

import FileNames._

/** No Delta table at `tablePath`: its `_delta_log` is missing or holds
  * no log entries. An `IllegalStateException`, so callers that treat
  * any unbuildable segment alike keep doing so.
  */
class TableNotFoundException(val tablePath: String)
    extends IllegalStateException(
      s"table not found: no delta log entries under $tablePath/_delta_log")

/** The contiguous slice of `_delta_log` backing a snapshot at `version`:
  * the newest complete checkpoint at or below the target plus every
  * commit after it, with contiguous commit runs replaced by compacted
  * files when available (reference: kernel/src/log_segment/mod.rs:98-330,
  * kernel/src/log_compaction/).
  */
case class LogSegment(
    logDir: Path,
    version: Long,
    /** ascending delta files in (checkpointVersion, version]: commit
      * files and/or compacted files covering commit ranges
      */
    deltas: Seq[LogFile],
    /** all parts of the chosen checkpoint (empty if none); a single
      * entry with isV2=true for a V2 checkpoint
      */
    checkpointParts: Seq[CheckpointFile],
    checkpointVersion: Option[Long],
    /** The `_last_checkpoint` hint as read during assembly (None =
      * absent/corrupt). Whether its fields may serve this segment is
      * gated by `hint.appliesTo(checkpointParts)` at every use site —
      * the hint may describe a different checkpoint than the one
      * selected (time travel, racing writers).
      */
    lastCheckpointHint: Option[LogSegment.LastCheckpointHint] = None) {

  /** Plain commit files among the deltas (compat accessor). */
  def commits: Seq[CommitFile] =
    deltas.collect { case c: CommitFile => c }

  def isV2Checkpoint: Boolean =
    checkpointParts.headOption.exists(_.isV2)
}

object LogSegment {

  /** The version a delta file advances the log to. */
  def endVersion(f: LogFile): Long = f match {
    case c: CompactedFile => c.endVersion
    case other => other.version
  }

  /** Non-file actions embedded in a v2Checkpoint hint — what a reader
    * would otherwise read from the checkpoint's top-level file.
    */
  case class HintNonFileActions(
      protocol: Option[Protocol],
      metadata: Option[Metadata],
      txns: Seq[SetTransaction],
      domainMetadatas: Seq[DomainMetadata],
      checkpointMetadataVersion: Option[Long])

  /** The `v2Checkpoint` object of a `_last_checkpoint` hint (reference
    * last_checkpoint_hint.rs `LastCheckpointV2`, #2777): identifies
    * WHICH V2 checkpoint the hint describes (several can share a
    * version) and carries its sidecar refs + non-file actions so a
    * reader can skip opening the top-level checkpoint file entirely.
    * `sidecarFiles = Some(Nil)` means a LEAF checkpoint (file actions
    * inlined); `None` means the info was dropped (oversized) — a
    * missing optimization, never a leaf signal.
    */
  case class LastCheckpointV2(
      path: String,
      sizeInBytes: Option[Long],
      modificationTime: Option[Long],
      sidecarFiles: Option[Seq[Sidecar]],
      nonFileActions: Option[HintNonFileActions])

  case class LastCheckpointHint(version: Long, size: Option[Long],
      parts: Option[Int],
      sizeInBytes: Option[Long] = None,
      numOfAddFiles: Option[Long] = None,
      checksum: Option[String] = None,
      v2Checkpoint: Option[LastCheckpointV2] = None) {

    /** Whether this hint describes the checkpoint a segment selected
      * (reference `applies_to`): version match alone is not enough —
      * the hint's implied checkpoint identity (uuid filename /
      * multipart count / classic) must equal the selection's.
      */
    def appliesTo(selected: Seq[CheckpointFile]): Boolean =
      selected.headOption.exists { sel =>
        version == sel.version && ((v2Checkpoint, parts) match {
          case (Some(v2), _) => v2.path == sel.path.getName
          case (None, Some(n)) => n > 1 && selected.size == n
          case (None, None) => selected.size == 1 && !sel.isV2
        })
      }
  }

  /** Oversized-field drop thresholds (reference
    * last_checkpoint_hint.rs): whole-field drop, never truncation —
    * absence only loses an optimization.
    */
  private val HINT_SIDECARS_MAX = 30
  private val HINT_NON_FILE_ACTIONS_MAX = 30

  /** Read the `_last_checkpoint` hint (reference:
    * kernel/src/last_checkpoint_hint.rs). Corrupt/missing → None — the
    * hint is an optimization, never trusted for correctness — and an
    * UNRECOGNIZED nonFileActions key fails the WHOLE hint parse (the
    * reference's externally-tagged enum behavior), so a reader never
    * half-trusts a hint written by a future writer.
    */
  def readLastCheckpointHint(fs: FileSystem, logDir: Path): Option[LastCheckpointHint] =
    try {
      val p = new Path(logDir, LAST_CHECKPOINT)
      if (!fs.exists(p)) None
      else {
        val n = JsonLog.parseLine(Storage.readLines(fs, p).mkString)
        def opt(node: com.fasterxml.jackson.databind.JsonNode,
            name: String) =
          Option(node.get(name)).filterNot(_.isNull)
        val v2 = opt(n, "v2Checkpoint").map { vn =>
          val sidecars = opt(vn, "sidecarFiles").map { arr =>
            require(arr.isArray, "sidecarFiles must be an array")
            (0 until arr.size).map { i =>
              val sc = arr.get(i)
              Sidecar(sc.get("path").asText,
                sc.get("sizeInBytes").asLong,
                opt(sc, "modificationTime").map(_.asLong).getOrElse(0L))
            }
          }.filter(_.size <= HINT_SIDECARS_MAX) // oversized → dropped
          val nfa = opt(vn, "nonFileActions").map { arr =>
            require(arr.isArray, "nonFileActions must be an array")
            var proto: Option[Protocol] = None
            var meta: Option[Metadata] = None
            val txns = Seq.newBuilder[SetTransaction]
            val dms = Seq.newBuilder[DomainMetadata]
            var cmv: Option[Long] = None
            (0 until arr.size).foreach { i =>
              val el = arr.get(i)
              val names = el.fieldNames()
              while (names.hasNext) names.next() match {
                case "protocol" =>
                  proto = Some(JsonLog.parseProtocol(el.get("protocol")))
                case "metaData" =>
                  meta = Some(JsonLog.parseMetadata(el.get("metaData")))
                case "txn" => txns += JsonLog.parseTxn(el.get("txn"))
                case "domainMetadata" =>
                  dms += JsonLog.parseDomain(el.get("domainMetadata"))
                case "checkpointMetadata" =>
                  cmv = Some(el.get("checkpointMetadata")
                    .get("version").asLong)
                case other => throw new IllegalArgumentException(
                  s"unrecognized nonFileActions key '$other'")
              }
            }
            (arr.size, HintNonFileActions(proto, meta, txns.result(),
              dms.result(), cmv))
          }.filter(_._1 <= HINT_NON_FILE_ACTIONS_MAX).map(_._2)
          LastCheckpointV2(
            vn.get("path").asText,
            opt(vn, "sizeInBytes").map(_.asLong),
            opt(vn, "modificationTime").map(_.asLong),
            sidecars, nfa)
        }
        Some(LastCheckpointHint(
          n.get("version").asLong,
          opt(n, "size").map(_.asLong),
          opt(n, "parts").map(_.asInt),
          opt(n, "sizeInBytes").map(_.asLong),
          opt(n, "numOfAddFiles").map(_.asLong),
          opt(n, "checksum").map(_.asText),
          v2))
      }
    } catch { case _: Exception => None }

  /** Assemble the segment for `targetVersion` (None = latest).
    *
    * Listing starts from the `_last_checkpoint` hint when one is usable
    * (reference last_checkpoint_hint.rs — the hint is a listing
    * optimization, never trusted for correctness: any failure to build a
    * valid segment from the partial listing falls back to a full
    * listing). Validation mirrors log_segment/mod.rs:203-330: commits
    * must be contiguous, must connect to the checkpoint (or reach
    * version 0), and the target version must exist.
    */
  def forVersion(fs: FileSystem, logDir: Path,
      targetVersion: Option[Long] = None,
      logTail: Seq[CatalogCommit] = Nil): LogSegment = {
    // Catalog log tail (reference snapshot/builder.rs + log_segment
    // for_snapshot with log_tail): ratified staged commits supersede
    // any published commit at the same version — a published commit is
    // a byte-identical copy of the ratified one, so preferring the
    // catalog's copy is always safe and covers the not-yet-published
    // suffix.
    // a catalog commit carries no length: stat it once, here
    val tailFiles: Seq[LogFile] = logTail.map(c =>
      CommitFile(c.version, c.location, fs.getFileStatus(c.location).getLen))
    val tailVersions = logTail.map(_.version).toSet
    def merge(listed: Seq[LogFile]): Seq[LogFile] =
      listed.filterNot {
        case c: CommitFile => tailVersions.contains(c.version)
        case _ => false
      } ++ tailFiles
    // 0-byte checkpoint/compacted files — a torn writer's empty
    // artifact — are dropped at LISTING (reference
    // tests/integration/log/empty_log_files.rs): selected by name, an
    // empty checkpoint fails every read and an empty compaction reads
    // as ZERO actions, silently losing its whole commit range.
    // Dropping them here makes selection fall back to individual
    // commits / an older checkpoint. Empty COMMIT files stay listed:
    // the protocol reads them as empty commits (no actions), and a
    // 0-byte part makes a multipart attempt incomplete, so the
    // existing completeness rule already rejects it.
    def parseListed(st: org.apache.hadoop.fs.FileStatus): Option[LogFile] =
      FileNames.parse(st).filter {
        case f @ (_: CheckpointFile | _: CompactedFile) => f.length > 0
        case _ => true
      }
    val hintOpt = readLastCheckpointHint(fs, logDir)
    val hinted = hintOpt
      .filter(h => targetVersion.forall(_ >= h.version))
      .flatMap { h =>
        try {
          Some(assemble(logDir, merge(
            Storage.listSortedFrom(fs, logDir, f"${h.version}%020d")
              .flatMap(parseListed)),
            targetVersion))
        } catch { case _: IllegalStateException => None }
      }
    hinted.getOrElse(assemble(logDir, merge(
      Storage.listSorted(fs, logDir)
        .flatMap(parseListed)),
      targetVersion))
      // attach regardless of which path built the segment: appliesTo
      // gates every downstream use of the hint's fields
      .copy(lastCheckpointHint = hintOpt)
  }

  private def assemble(logDir: Path, listed: Seq[LogFile],
      targetVersion: Option[Long]): LogSegment = {
    if (listed.isEmpty)
      throw new TableNotFoundException(logDir.getParent.toString)

    val inRange: LogFile => Boolean = lf =>
      targetVersion.forall(lf.version <= _)

    val commits = listed.collect {
      case c: CommitFile if inRange(c) => c
    }.sortBy(_.version)

    // compacted files fully inside the target range
    val compacted = listed.collect {
      case c: CompactedFile if targetVersion.forall(c.endVersion <= _) => c
    }

    // complete V1 checkpoints (all parts) and V2 checkpoints (one file).
    // Same-version files group per ATTEMPT (numParts): a crashed
    // writer's leftover parts next to a complete attempt must neither
    // hide the complete one nor leak a torn part into the read. Among
    // complete attempts at one version, the fewest-parts one wins
    // (identical content, fewest files to open).
    val ckptGroups = listed.collect {
      case c: CheckpointFile if inRange(c) && !c.isV2 => c
    }.groupBy(c => (c.version, c.numParts))
    val completeV1: Map[Long, Seq[CheckpointFile]] = ckptGroups.toSeq
      .collect { case ((v, n), parts)
          if parts.map(_.part).distinct.size == n => (v, parts) }
      .groupBy(_._1)
      .map { case (v, attempts) => v -> attempts.map(_._2)
        .minBy(_.head.numParts) }
    val v2ByVersion = listed.collect {
      case c: CheckpointFile if inRange(c) && c.isV2 => c
    }.groupBy(_.version)
    val chosenCkpt = (completeV1.keys ++ v2ByVersion.keys).toSeq.sorted
      .lastOption

    val tail = chosenCkpt match {
      case Some(cv) => commits.filter(_.version > cv)
      case None => commits
    }

    // substitute compacted files for contiguous commit runs (reference
    // log_segment selection of CompactedFile): walk versions ascending,
    // preferring the longest compacted file starting at the cursor whose
    // range is covered by the target
    val expectedStart = chosenCkpt.map(_ + 1).getOrElse(0L)
    val maxVersion = math.max(
      commits.lastOption.map(_.version).getOrElse(-1L),
      compacted.map(_.endVersion).maxOption.getOrElse(-1L))
    val commitByVersion = tail.map(c => c.version -> c).toMap
    val compactedByStart = compacted.filter(_.version >= expectedStart)
      .groupBy(_.version)
    val deltas = scala.collection.mutable.ArrayBuffer.empty[LogFile]
    var cursor = expectedStart
    var halt = false
    while (!halt && cursor <= maxVersion) {
      compactedByStart.get(cursor).map(_.maxBy(_.endVersion)) match {
        case Some(cf) =>
          deltas += cf
          cursor = cf.endVersion + 1
        case None =>
          commitByVersion.get(cursor) match {
            case Some(c) =>
              deltas += c
              cursor += 1
            case None =>
              // gap: valid only if nothing at all was found yet AND a
              // checkpoint alone serves the snapshot — otherwise the
              // first delta must connect
              halt = true
          }
      }
    }
    val version = (deltas.lastOption.map(endVersion), chosenCkpt) match {
      case (Some(v), _) => v
      case (None, Some(cv)) => cv
      case (None, None) =>
        throw new IllegalStateException(
          s"log starts at version ${tail.headOption.map(_.version).getOrElse(-1L)}, " +
            s"expected $expectedStart (no checkpoint) in $logDir")
    }
    // anything left beyond the cursor means a hole in the log
    if (commits.exists(c => c.version > version)
        && targetVersion.forall(version < _))
      throw new IllegalStateException(
        s"missing commit version ${version + 1} in $logDir")
    targetVersion.foreach { tv =>
      if (version != tv)
        throw new IllegalArgumentException(
          s"requested version $tv not available (latest reachable: $version)")
    }

    val parts = chosenCkpt.map { cv =>
      completeV1.get(cv).map(_.sortBy(_.part))
        .getOrElse(Seq(v2ByVersion(cv).head))
    }.getOrElse(Nil)
    LogSegment(logDir, version, deltas.toSeq, parts, chosenCkpt)
  }
}
