package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Public raw-commit iteration over an inclusive `[start, end]` version
  * range (reference kernel/src/commit_range/mod.rs): the range holds
  * resolved bounds + commit-file pointers; reading actions is LAZY —
  * no JSON I/O happens until a commit's `actions` DataFrame executes.
  * Build `forTable` (lists `_delta_log/`) or `fromSnapshot` (reuses a
  * snapshot's segment, no listing).
  *
  * This is the building block under CDF, incremental scan, and the
  * streaming source — exposed so users can run their own incremental
  * processing over commits (audit, replication, compaction planning)
  * without re-implementing log listing and contiguity validation.
  */
final class CommitRange private (
    spark: SparkSession,
    val startVersion: Long,
    val endVersion: Long,
    files: Seq[(FileNames.CommitFile, Long)]) { // (commit, file mtime)

  /** One commit's lazy view: `actions` is a schema-first JSON read of
    * exactly this commit file, pre-filtered to the requested action
    * kinds; `timestamp` is the in-commit timestamp when present, else
    * the file modification time (the same resolution CDF uses).
    */
  final case class Commit(version: Long, timestamp: Long,
      actions: DataFrame)

  /** Iterate commits ascending (or descending), exposing only the
    * requested action columns, e.g. `Seq("add", "remove")`. Empty =
    * all action kinds.
    */
  def commits(actionKinds: Seq[String] = Nil,
      descending: Boolean = false): Iterator[Commit] = {
    val kinds =
      if (actionKinds.isEmpty) LogSchema.full.fieldNames.toSeq
      else {
        val unknown = actionKinds.filterNot(LogSchema.full.fieldNames.contains)
        require(unknown.isEmpty, s"unknown action kinds: $unknown")
        actionKinds
      }
    val ordered = if (descending) files.reverse else files
    ordered.iterator.map { case (cf, mtime) =>
      val conf = spark.sessionState.newHadoopConf()
      val fs = Storage.fs(cf.path, conf)
      val df = spark.read.schema(LogSchema.full).json(cf.path.toString)
        .filter(kinds.map(k => col(k).isNotNull).reduce(_ || _))
        .select(kinds.map(col): _*)
      Commit(cf.version, JsonLog.commitTimestamp(fs, cf.path, mtime), df)
    }
  }

  /** Latest protocol + metadata WITHIN the range, seeded from an
    * optional snapshot at `startVersion - 1` (reference
    * `commits(..., start_snapshot)` P&M seeding) — callers processing
    * a range incrementally track the table definition without
    * replaying the whole log.
    */
  def protocolAndMetadata(seed: Option[Snapshot] = None)
      : (Option[Protocol], Option[Metadata]) = {
    seed.foreach(s => require(s.version == startVersion - 1 ||
      s.version == startVersion,
      s"seed snapshot at ${s.version} does not adjoin [$startVersion, " +
        s"$endVersion]"))
    val paths = files.reverse.map(_._1.path)
    val (p, m) = JsonLog.protocolAndMetadata(
      Storage.fs(paths.head, spark.sessionState.newHadoopConf()), paths)
    (p.orElse(seed.map(_.protocol)), m.orElse(seed.map(_.metadata)))
  }
}

object CommitRange {

  /** List `_delta_log/` and build the range; `end = None` resolves to
    * the latest commit. Fails when the range is not contiguous (a
    * commit inside it was vacuumed/compacted away — callers must fall
    * back to a snapshot + compacted segment instead).
    */
  def forTable(spark: SparkSession, tablePath: String, start: Long,
      end: Option[Long] = None): CommitRange = {
    require(start >= 0, s"negative start version $start")
    val root = new Path(tablePath)
    val fs = Storage.fs(root, spark.sessionState.newHadoopConf())
    val logDir = FileNames.logDir(root)
    val all = Storage.listSorted(fs, logDir)
      .flatMap(st => FileNames.parse(st)
        .map(f => (f, st.getModificationTime)))
      .collect { case (c: FileNames.CommitFile, ts) => (c, ts) }
      .sortBy(_._1.version)
    require(all.nonEmpty, s"no delta log found at $tablePath")
    val hi = end.getOrElse(all.last._1.version)
    require(start <= hi, s"invalid commit range [$start, $hi]")
    val inRange = all.filter { case (c, _) =>
      c.version >= start && c.version <= hi
    }
    require(inRange.map(_._1.version) == (start to hi),
      s"commit range [$start, $hi] is not contiguous in the log " +
        s"(have ${inRange.map(_._1.version).mkString(",")})")
    new CommitRange(spark, start, hi, inRange)
  }

  /** Reuse a snapshot's already-listed segment — no storage listing
    * (reference `builder_from`). The range is the segment's commit
    * tail `(checkpointVersion, snapshot.version]` intersected with
    * `[start, snapshot.version]`.
    */
  def fromSnapshot(snap: Snapshot, start: Long): CommitRange = {
    val conf = snap.spark.sessionState.newHadoopConf()
    val fs = Storage.fs(snap.tableRoot, conf)
    val commits = snap.segment.deltas
      .collect { case c: FileNames.CommitFile => c }
      .filter(c => c.version >= start && c.version <= snap.version)
      .sortBy(_.version)
    require(commits.map(_.version) == (start to snap.version),
      s"segment does not cover commits [$start, ${snap.version}] " +
        "contiguously (older commits live behind the checkpoint)")
    new CommitRange(snap.spark, start, snap.version,
      commits.map(c => (c, fs.getFileStatus(c.path).getModificationTime)))
  }
}
