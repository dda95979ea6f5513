package graft.delta

import org.apache.hadoop.fs.{FileStatus, Path}

/** `_delta_log` file-name scheme (reference:
  * kernel/src/log_segment_files/mod.rs, kernel/src/path.rs).
  */
object FileNames {
  val LOG_DIR = "_delta_log"
  val LAST_CHECKPOINT = "_last_checkpoint"
  /** Staged (catalog-managed) commits subdir (reference
    * kernel/src/path.rs:28 STAGED_COMMITS_DIR). Listing of `_delta_log`
    * itself never surfaces these — only a catalog-provided log tail may
    * name them (path.rs:124: staged commits seen in a listing MUST NOT
    * be used).
    */
  val STAGED_COMMITS_DIR = "_staged_commits"

  private val commitRe = raw"(\d{20})\.json".r
  private val classicCkptRe = raw"(\d{20})\.checkpoint\.parquet".r
  private val multiCkptRe = raw"(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet".r
  private val v2CkptRe = raw"(\d{20})\.checkpoint\.([^.]+)\.(json|parquet)".r
  private val compactedRe = raw"(\d{20})\.(\d{20})\.compacted\.json".r

  def logDir(tableRoot: Path): Path = new Path(tableRoot, LOG_DIR)

  def commitFile(logDir: Path, version: Long): Path =
    new Path(logDir, f"$version%020d.json")

  /** `_delta_log/_staged_commits/{version}.{uuid}.json` (reference
    * kernel/src/path.rs:262-263, log_path.rs staged_commit).
    */
  def stagedCommitFile(logDir: Path, version: Long, uuid: String): Path =
    new Path(new Path(logDir, STAGED_COMMITS_DIR),
      f"$version%020d.$uuid%s.json")

  def classicCheckpointFile(logDir: Path, version: Long): Path =
    new Path(logDir, f"$version%020d.checkpoint.parquet")

  /** A log file as listed: `length` is the listing's byte count, so
    * size gates never stat a file the listing already returned.
    */
  sealed trait LogFile { def version: Long; def path: Path; def length: Long }
  case class CommitFile(version: Long, path: Path, length: Long)
    extends LogFile
  /** part/numParts for multi-part V1; (1,1) for classic. */
  case class CheckpointFile(version: Long, path: Path, part: Int,
      numParts: Int, isV2: Boolean, length: Long) extends LogFile
  case class CompactedFile(version: Long, endVersion: Long, path: Path,
      length: Long) extends LogFile

  def parse(st: FileStatus): Option[LogFile] = {
    val p = st.getPath
    val len = st.getLen
    p.getName match {
      case commitRe(v) => Some(CommitFile(v.toLong, p, len))
      case classicCkptRe(v) =>
        Some(CheckpointFile(v.toLong, p, 1, 1, false, len))
      case multiCkptRe(v, part, n) =>
        Some(CheckpointFile(v.toLong, p, part.toInt, n.toInt, false, len))
      case v2CkptRe(v, _, _) =>
        Some(CheckpointFile(v.toLong, p, 1, 1, true, len))
      case compactedRe(lo, hi) =>
        Some(CompactedFile(lo.toLong, hi.toLong, p, len))
      case _ => None
    }
  }
}
