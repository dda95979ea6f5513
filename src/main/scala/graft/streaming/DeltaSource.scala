package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.streaming.{
  CompositeReadLimit, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles,
  SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.graft.StreamingShim
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SQLContext}

import graft.delta.{DeltaScan, FileNames, JsonLog, Snapshot, Storage, TableChanges}

/** Structured Streaming source over a Delta table: offsets are
  * (version, fileIndex) positions, each microbatch is a file slice of
  * the pinned initial snapshot or the add-file diff of a commit range
  * (reference: kernel/src/incremental_scan/mod.rs:26-60 — the file-action
  * diff over (base, target] — exposed the way delta-spark's DeltaSource
  * does, as a v1 `Source` with `SupportsAdmissionControl`).
  *
  * Rate limiting speaks Spark's admission-control protocol: the engine
  * hands `latestOffset(start, limit)` the CHECKPOINTED start position
  * each cycle, so the next offset is a pure function of the checkpoint —
  * a restarted source can never lose or duplicate rows to stale
  * instance state. `SupportsTriggerAvailableNow` makes
  * `Trigger.AvailableNow` drain everything available at query start as
  * a sequence of rate-limited batches (without it, Spark's wrapper
  * ignores read limits under AvailableNow).
  *
  * Options:
  *  - `path` (required): table root
  *  - `startingVersion` (optional): numeric N = emit adds from version N
  *    onward; "latest" = only commits after the stream starts. ABSENT =
  *    delta-spark's default semantics: the FIRST batch is the full
  *    snapshot at stream start, then per-commit tailing — the only
  *    mode that works on tables whose early commits were vacuumed or
  *    compacted away
  *  - `maxVersionsPerTrigger` (default unbounded): rate limit — at most
  *    this many commit versions per microbatch
  *  - `maxFilesPerTrigger` (default unbounded): rate limit — at most
  *    this many data FILES per microbatch, splitting WITHIN a version
  *    (and within the initial snapshot) via (version, fileIndex)
  *    offsets, delta-spark's DeltaSourceOffset design. At 100 TB the
  *    initial snapshot is millions of files — it must stream as many
  *    bounded batches, not one. In readChangeFeed mode the cap
  *    file-slices WITHIN sliceable versions too (cdc commits and pure
  *    appends; a rewrite's add/remove DV pairing is not file-separable,
  *    so those versions stay atomic, at least one per batch)
  *  - `maxBytesPerTrigger` (default unbounded): soft byte cap per
  *    microbatch — files are admitted until their cumulative size
  *    reaches the cap, always at least one (so a file larger than the
  *    cap still streams instead of stalling). Accepts byte strings
  *    ("512m", "10g"). Composes with maxFilesPerTrigger: a batch ends
  *    at whichever budget runs out first. Applies in readChangeFeed
  *    mode with the same sliceable/atomic boundary as maxFilesPerTrigger
  *  - `ignoreDeletes` (default false): tolerate commits that ONLY drop
  *    whole files (remove actions with no accompanying adds — e.g. a
  *    partition delete). A commit that both removes and adds data files
  *    (a DELETE/UPDATE rewrite or DV swap) still fails: its adds carry
  *    rows already streamed, and re-emitting them would duplicate
  *    downstream (delta-spark's ignoreDeletes has the same boundary)
  *  - `ignoreChanges` (default false): additionally accept rewrite
  *    commits, re-emitting the rewritten files' rows (downstream must
  *    tolerate duplicates); implies ignoreDeletes
  *  - `skipChangeCommits` (default false): SKIP any commit carrying
  *    removes entirely — no re-emitted rows, no duplicates; pure
  *    appends still stream (delta-spark's successor to ignoreChanges)
  *  - `readChangeFeed` (default false): emit CDF rows (table columns +
  *    `_change_type`/`_commit_version`/`_commit_timestamp`) per commit
  *    range instead of plain appends — deletes and DV swaps flow as
  *    `delete` rows rather than failing the stream
  *
  * Scale: per microbatch the driver reads only the range's commit JSONs
  * (metadata); the data read is a distributed parquet scan of exactly
  * the newly added files.
  */
class DeltaSource(
    sqlContext: SQLContext,
    tablePath: String,
    options: Map[String, String]) extends Source
    with SupportsTriggerAvailableNow {

  private val spark = sqlContext.sparkSession
  private val maxVersions =
    options.get("maxVersionsPerTrigger").map(_.toLong)
  private val maxFiles =
    options.get("maxFilesPerTrigger").map(_.toLong)
  private val maxBytes = options.get("maxBytesPerTrigger")
    .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
  private val ignoreChanges =
    options.get("ignoreChanges").exists(_.equalsIgnoreCase("true"))
  private val ignoreDeletes = ignoreChanges ||
    options.get("ignoreDeletes").exists(_.equalsIgnoreCase("true"))
  // delta-spark's successor to ignoreChanges: SKIP rewrite commits
  // entirely (no re-emitted rows, no duplicates downstream) instead of
  // accepting their adds; pure-append commits still stream
  private val skipChangeCommits =
    options.get("skipChangeCommits").exists(_.equalsIgnoreCase("true"))
  private val readChangeFeed =
    options.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))

  // schema is pinned at source creation (delta-spark does the same)
  private val initialSnapshot = Snapshot.forTable(spark, tablePath)
  override val schema: StructType =
    if (readChangeFeed) DeltaSource.cdfSchema(initialSnapshot.schema)
    else initialSnapshot.schema

  /** No option = initial-snapshot mode: the first batch carries the
    * whole table as of stream start (offset = that snapshot's version),
    * then per-commit tailing.
    */
  require(!(options.contains("startingVersion") &&
      options.contains("startingTimestamp")),
    "startingVersion and startingTimestamp cannot both be set")
  private val startingVersionOpt: Option[Long] =
    options.get("startingVersion").map {
      case s if s.equalsIgnoreCase("latest") => initialSnapshot.version + 1
      case s => s.toLong
    }.orElse(options.get("startingTimestamp").map { ts =>
      // delta-spark semantics: changes committed AT OR AFTER ts
      // (history_manager first_version_after); a timestamp past the
      // whole log starts after the tip OF THE SAME LISTING — a second
      // listing could see a commit that landed in between, and the
      // stream would skip it
      graft.delta.DeltaTable.forPath(spark, tablePath)
        .firstVersionAfterOrNext(DeltaSource.parseTsMillis(ts))
    })
  private val initialSnapshotMode = startingVersionOpt.isEmpty
  private val startingVersion =
    startingVersionOpt.getOrElse(initialSnapshot.version)

  private def latestVersion: Long =
    Snapshot.forTable(spark, tablePath).version

  /** Sorted add list of the pinned snapshot at `v` (deterministic order
    * for stable sub-snapshot offsets across restarts). Driver memory =
    * file metadata, the TahoeFileIndex-size envelope.
    */
  private val snapFilesCache =
    scala.collection.mutable.Map.empty[Long, IndexedSeq[graft.delta.AddFile]]
  private def snapshotFilesAt(v: Long): IndexedSeq[graft.delta.AddFile] =
    snapFilesCache.getOrElseUpdate(v, {
      // slim: admission needs only path+size, and the batch read re-derives
      // everything else from the snapshot — collecting stats JSON + tags for
      // 10⁷ files would put gigabytes on the driver for nothing.
      new DeltaScan(snapAt(v), None).collectAddFiles(slim = true)
        .sortBy(_.path).toIndexedSeq
    })

  // microbatches advance monotonically; a tiny bounded memo keeps
  // repeated slicing of the same version (byte/file budgets) from
  // paying a fresh listing + P&M replay per batch
  private val snapMemo =
    scala.collection.mutable.LinkedHashMap.empty[Long, Snapshot]
  private def snapAt(v: Long): Snapshot =
    if (v == initialSnapshot.version) initialSnapshot
    else synchronized {
      val s = snapMemo.getOrElseUpdate(v,
        Snapshot.forTable(spark, tablePath, Some(v)))
      while (snapMemo.size > 4) snapMemo.remove(snapMemo.head._1)
      s
    }

  /** Commit `v`'s metaData, cdc, add and remove actions. */
  private def commitActions(v: Long): Seq[graft.delta.SingleAction] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(tablePath)
    val fs = Storage.fs(root, conf)
    val p = FileNames.commitFile(FileNames.logDir(root), v)
    if (!fs.exists(p))
      // silently skipping would LOSE the commit's rows downstream
      throw new IllegalStateException(
        s"commit $v is missing from the log (vacuumed or compacted " +
          "away) — restart the stream without startingVersion to " +
          "begin from a fresh snapshot")
    JsonLog.readCommit(fs, p, Set("metaData", "cdc", "add", "remove"))
      .map(_._2)
  }

  /** One commit's streamed adds (validated for delete/rewrite
    * boundaries), in commit-file order — deterministic across restarts.
    */
  private val tailAddsCache =
    scala.collection.mutable.Map.empty[Long, IndexedSeq[graft.delta.AddFile]]
  private def tailAdds(v: Long): IndexedSeq[graft.delta.AddFile] =
    tailAddsCache.getOrElseUpdate(v, {
      if (tailAddsCache.size > 256) tailAddsCache.clear() // bounded
      val actions = commitActions(v)
      requireSchemaUnchanged(v, actions)
      val vAdds = actions.flatMap(_.add).filter(_.dataChange)
      val hasRemoves = actions.exists(_.remove.exists(_.dataChange))
      if (hasRemoves && skipChangeCommits) IndexedSeq.empty
      else {
        if (hasRemoves && !ignoreDeletes)
          throw new IllegalStateException(
            s"delete detected in streamed commit $v — appends-only " +
              "source (set ignoreDeletes=true to skip whole-file " +
              "deletes, or skipChangeCommits=true to skip rewrite " +
              "commits entirely)")
        // a commit that removes AND adds data files rewrote rows already
        // streamed in earlier batches — silently re-emitting its adds
        // duplicates downstream, so ignoreDeletes alone must not pass it
        if (hasRemoves && vAdds.nonEmpty && !ignoreChanges)
          throw new IllegalStateException(
            s"commit $v rewrites data files (DELETE/UPDATE rewrite or " +
              "DV swap) — set ignoreChanges=true to accept re-emitted " +
              "rows, skipChangeCommits=true to skip the commit, or " +
              "consume readChangeFeed for row-level changes")
        vAdds.toIndexedSeq
      }
    })

  /** A streamed commit that REDEFINES the table schema must fail the
    * stream rather than silently projecting new-schema files into the
    * pinned schema (delta-spark fails the same way; the fix is a
    * restart, which re-pins the evolved schema). Column-mapping
    * annotations and table properties may change freely — only the
    * data shape is load-bearing here.
    */
  private def requireSchemaUnchanged(v: Long,
      actions: Seq[graft.delta.SingleAction]): Unit = {
    // commits at or below the pinned snapshot carry HISTORY (e.g. the
    // CREATE's metaData when replaying startingVersion=0): the pinned
    // schema is the latest there, and the schema-first read reconciles
    // old files into it — only changes AFTER the pin are unsafe
    if (v <= initialSnapshot.version) return
    actions.iterator.flatMap(_.metaData).nextOption()
      .foreach { m =>
        val newSchema = org.apache.spark.sql.types.DataType
          .fromJson(m.schemaString)
          .asInstanceOf[StructType]
        def shape(st: StructType): Seq[(String, String)] =
          st.fields.toSeq.map(f => (f.name, f.dataType.simpleString))
        if (shape(newSchema) != shape(initialSnapshot.schema))
          throw new IllegalStateException(
            s"schema of the streamed table changed at commit $v " +
              s"(${initialSnapshot.schema.simpleString} -> " +
              s"${newSchema.simpleString}) — restart the stream to " +
              "pick up the new schema")
      }
  }

  /** CDF admission info for commit `v`: the ordered change-file SIZES
    * (cdc files when the commit wrote them, else its data-changing
    * add/remove files, in commit-file order — the same order
    * `TableChanges.readVersionSlice` slices by) and whether the version
    * is file-SLICEABLE across batches. cdc commits and pure appends
    * slice cleanly (each file's change rows are independent); a
    * rewrite/DV-swap commit without cdc files pairs adds with removes
    * at bitmap level and must stream atomically.
    */
  private val cdfInfoCache =
    scala.collection.mutable.Map.empty[Long, (IndexedSeq[Long], Boolean)]
  private def cdfInfo(v: Long): (IndexedSeq[Long], Boolean) =
    cdfInfoCache.getOrElseUpdate(v, {
      if (cdfInfoCache.size > 4096) cdfInfoCache.clear() // bounded
      val actions = commitActions(v)
      val cdcs = actions.flatMap(_.cdc)
      if (cdcs.nonEmpty) (cdcs.map(_.size).toIndexedSeq, true)
      else {
        val adds = actions.flatMap(_.add).filter(_.dataChange).map(_.size)
        val removes = actions.flatMap(_.remove).filter(_.dataChange)
          .map(_.size.getOrElse(0L))
        (adds ++ removes).toIndexedSeq -> removes.isEmpty
      }
    })

  // ------------------------------------------------------------------
  // Offset arithmetic: the next end offset is a PURE function of the
  // start offset (None = fresh stream). The checkpointed position is
  // authoritative — nothing here reads mutable instance state, so a
  // restart resumes exactly where the checkpoint says, even if the
  // table advanced in between.
  // ------------------------------------------------------------------

  /** Admit files (by size) from `sizes(from..)` under a file-count
    * budget and a SOFT byte budget: take while cumulative bytes stay
    * below the cap, always at least one file when any budget remains (a
    * file larger than the byte cap must stream, not stall). Returns
    * (count, bytes).
    */
  private def admit(sizes: IndexedSeq[Long], from: Long,
      fileCap: Long, byteCap: Long): (Long, Long) = {
    var take = 0L
    var bytes = 0L
    while (from + take < sizes.size && take < fileCap && bytes < byteCap) {
      bytes += sizes((from + take).toInt)
      take += 1
    }
    (take, bytes)
  }

  /** Compute the next end offset after `start` under the given file /
    * byte / version budgets, bounded by the AvailableNow ceiling when
    * one was prepared. None = no progress available.
    */
  private def advance(start: Option[DeltaSourceOffset], fileCap: Long,
      versionCap: Long, byteCap: Long)
      : Option[DeltaSourceOffset] = {
    val hi = math.min(latestVersion,
      availableNowCeil.getOrElse(Long.MaxValue))

    // phase 1: the (possibly partially delivered) initial snapshot.
    // A snapshot batch never mixes with tail commits — the tail starts
    // in the NEXT batch — so slicing stays trivially deterministic.
    val snapPos: Option[(Long, Long)] = start match {
      case None if initialSnapshotMode =>
        Some((initialSnapshot.version, 0L))
      case Some(o) if o.isInitialSnapshot && o.index >= 0 =>
        Some((o.version, o.index + 1)) // mid-snapshot at the PINNED version
      case _ => None
    }
    snapPos.foreach { case (sv, from) =>
      val files = snapshotFilesAt(sv)
      val n = files.size.toLong
      val covered = math.min(n,
        from + admit(files.map(_.size), from, fileCap, byteCap)._1)
      return Some(
        if (covered >= n) DeltaSourceOffset(sv, isInitialSnapshot = true)
        else DeltaSourceOffset(sv, isInitialSnapshot = true,
          index = covered - 1))
    }

    // position after `start` in the tail: last covered version, plus
    // partial file progress within it
    var (v, partial) = start match {
      case None => (startingVersion - 1, -1L)
      case Some(o) if o.isInitialSnapshot => (o.version, -1L)
      case Some(o) => (o.version, if (o.index < 0) -1L else o.index + 1)
    }

    var fBudget = fileCap
    var bBudget = byteCap
    var vBudget = versionCap
    var advanced = false
    var end: DeltaSourceOffset = null

    // phase 2: finish a partially streamed tail version first (in CDF
    // mode a partial position exists only on sliceable versions)
    if (partial >= 0) {
      val sizes =
        if (readChangeFeed) cdfInfo(v)._1 else tailAdds(v).map(_.size)
      val n = sizes.size.toLong
      val (take, bytes) = admit(sizes, partial, fBudget, bBudget)
      if (take > 0) {
        advanced = true; fBudget -= take
        bBudget = math.max(0L, bBudget - bytes)
      }
      if (partial + take >= n)
        end = DeltaSourceOffset(v, isInitialSnapshot = false)
      else return if (advanced)
        Some(DeltaSourceOffset(v, isInitialSnapshot = false,
          index = partial + take - 1))
      else None
    }

    // phase 3: subsequent versions under the remaining budget
    while (fBudget > 0 && bBudget > 0 && vBudget > 0 && v < hi) {
      val next = v + 1
      if (readChangeFeed) {
        val (sizes, sliceable) = cdfInfo(next)
        val n = sizes.size.toLong
        if (!sliceable) {
          // atomic version (rewrite/DV swap without cdc): admit whole
          // when both budgets fit, and always at least one per batch
          if ((n <= fBudget && sizes.sum <= bBudget) || !advanced) {
            v = next
            fBudget -= math.min(n, fBudget)
            bBudget = math.max(0L, bBudget - sizes.sum)
            end = DeltaSourceOffset(v, isInitialSnapshot = false)
            advanced = true
            vBudget -= 1
          } else fBudget = 0
        } else {
          // file-granular: slice WITHIN the version via (version, index)
          // offsets, so one huge cdc commit streams as bounded batches
          val (take, bytes) = admit(sizes, 0, fBudget, bBudget)
          if (take >= n) { // empty commit or whole version fits
            v = next; fBudget -= n
            bBudget = math.max(0L, bBudget - bytes)
            end = DeltaSourceOffset(v, isInitialSnapshot = false)
          } else {
            end = DeltaSourceOffset(next, isInitialSnapshot = false,
              index = take - 1)
            fBudget = 0
          }
          advanced = true
          vBudget -= 1
        }
      } else {
        val files = tailAdds(next)
        val n = files.size.toLong
        val (take, bytes) = admit(files.map(_.size), 0, fBudget, bBudget)
        if (take >= n) { // empty commit or whole version fits
          v = next; fBudget -= n
          bBudget = math.max(0L, bBudget - bytes)
          end = DeltaSourceOffset(v, isInitialSnapshot = false)
        } else {
          end = DeltaSourceOffset(next, isInitialSnapshot = false,
            index = take - 1)
          fBudget = 0
        }
        advanced = true
        vBudget -= 1
      }
    }
    if (advanced) Some(end) else None
  }

  // ---- SupportsAdmissionControl / SupportsTriggerAvailableNow ----

  /** Table version pinned when an AvailableNow run starts: the run
    * drains through this version in rate-limited batches and ignores
    * commits landing while it runs (Spark calls this once per query
    * start, before the first latestOffset).
    */
  private var availableNowCeil: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCeil = Some(latestVersion)

  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxFiles.map(f => ReadLimit.maxFiles(f.toInt)).toSeq ++
      maxBytes.map(b => ReadLimit.maxBytes(b)).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  private def fileCapOf(limit: ReadLimit): Long = limit match {
    case _: ReadAllAvailable => Long.MaxValue
    case m: ReadMaxFiles => m.maxFiles().toLong
    case c: CompositeReadLimit => c.getReadLimits.map(fileCapOf).min
    case _: ReadMaxBytes => Long.MaxValue
    case _ => maxFiles.getOrElse(Long.MaxValue)
  }

  private def byteCapOf(limit: ReadLimit): Long = limit match {
    case m: ReadMaxBytes => m.maxBytes()
    case c: CompositeReadLimit => c.getReadLimits.map(byteCapOf).min
    case _ => Long.MaxValue
  }

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 =
    advance(Option(start).map(parseOffset), fileCapOf(limit),
      maxVersions.getOrElse(Long.MaxValue), byteCapOf(limit)).orNull

  override def reportLatestOffset(): OffsetV2 =
    DeltaSourceOffset(
      math.min(latestVersion, availableNowCeil.getOrElse(Long.MaxValue)),
      isInitialSnapshot = false)

  // ---- v1 Source contract (admission control supersedes getOffset in
  // MicroBatchExecution; kept for direct driving and API completeness) ----

  /** Furthest position offered through the v1 getOffset path. */
  private var lastOffered: Option[DeltaSourceOffset] = None

  override def getOffset: Option[Offset] = {
    val next = advance(lastOffered, maxFiles.getOrElse(Long.MaxValue),
      maxVersions.getOrElse(Long.MaxValue),
      maxBytes.getOrElse(Long.MaxValue))
    next.foreach(o => lastOffered = Some(o))
    next.orElse(lastOffered) // stable re-offer of the drained position
  }

  /** `a` strictly behind `b`? (partial positions rank below complete) */
  private def behindOff(a: DeltaSourceOffset, b: DeltaSourceOffset): Boolean = {
    def rank(o: DeltaSourceOffset): (Long, Long) =
      (o.version, if (o.index < 0) Long.MaxValue else o.index)
    val (av, ai) = rank(a); val (bv, bi) = rank(b)
    av < bv || (av == bv && ai < bi)
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endOff = parseOffset(end)
    val startOff = start.map(parseOffset)
    // the checkpointed end offset is authoritative: a restart replaying
    // the last committed batch advances the v1 watermark unconditionally
    // so a subsequent getOffset continues from the checkpoint, never
    // from this (fresh) instance's pristine position
    if (lastOffered.forall(o => behindOff(o, endOff) || o == endOff))
      lastOffered = Some(endOff)
    val df =
      if (readChangeFeed) cdfBatch(startOff, endOff)
      else addsBatch(startOff, endOff)
    StreamingShim.internalCreateStreamingDF(
      sqlContext, df.queryExecution.toRdd, df.schema)
  }

  /** Files of the pinned snapshot at `sv` covered by (start, end]. */
  private def snapshotSlice(sv: Long, startOff: Option[DeltaSourceOffset],
      endIdx: Long): Seq[graft.delta.AddFile] = {
    val files = snapshotFilesAt(sv)
    val from = startOff match {
      case Some(o) if o.isInitialSnapshot && o.index >= 0 => o.index.toInt + 1
      case Some(_) => files.size // start already past the snapshot
      case None => 0
    }
    val until = if (endIdx < 0) files.size else endIdx.toInt + 1
    if (from >= until) Nil else files.slice(from, until)
  }

  /** Non-CDF batch content for (start, end]: either a file slice of the
    * snapshot PINNED at the end offset's version, or a tail range of
    * per-commit adds (with sub-version slices at either boundary). The
    * two never mix within one batch.
    */
  private def addsBatch(startOff: Option[DeltaSourceOffset],
      endOff: DeltaSourceOffset): DataFrame = {
    if (endOff.isInitialSnapshot) {
      val sv = endOff.version
      val slice = snapshotSlice(sv, startOff, endOff.index)
      return new DeltaScan(snapAt(sv), None)
        .assemble(slice, keepMeta = false)
    }
    // tail range; a snapshot-partial start (possible only with offsets
    // written by older versions of this source) contributes the pinned
    // snapshot's remainder first
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val tailFrom = startOff match {
      case Some(o) if o.isInitialSnapshot && o.index >= 0 =>
        val rest = snapshotSlice(o.version, startOff, -1)
        if (rest.nonEmpty)
          parts += new DeltaScan(snapAt(o.version), None)
            .assemble(rest, keepMeta = false)
        o.version + 1
      case Some(o) if o.index >= 0 =>
        val n = tailAdds(o.version)
        val rest = n.slice(o.index.toInt + 1, n.size)
        if (rest.nonEmpty)
          parts += new DeltaScan(initialSnapshot, None)
            .assemble(rest, keepMeta = false)
        o.version + 1
      case Some(o) => o.version + 1
      case None => startingVersion
    }
    val adds = (tailFrom to endOff.version).flatMap { v =>
      val n = tailAdds(v)
      if (v == endOff.version && endOff.index >= 0)
        n.slice(0, endOff.index.toInt + 1)
      else n
    }
    val scan = new DeltaScan(initialSnapshot, None)
    parts += scan.assemble(adds, keepMeta = false)
    parts.reduceLeft(_.unionByName(_))
  }

  /** CDF batch content for (start, end]: a file slice of the pinned
    * snapshot rendered as insert rows, or a change range composed of an
    * optional partial-version head (finishing the start offset's
    * sliced version), a whole-version middle, and an optional
    * partial-version tail (the end offset's in-progress slice).
    */
  private def cdfBatch(startOff: Option[DeltaSourceOffset],
      endOff: DeltaSourceOffset): DataFrame = {
    if (endOff.isInitialSnapshot) {
      val sv = endOff.version
      val slice = snapshotSlice(sv, startOff, endOff.index)
      return DeltaSource.filesAsInserts(spark, snapAt(sv), slice)
    }
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val lo = startOff match {
      case Some(o) if !o.isInitialSnapshot && o.index >= 0 =>
        // head: the rest of the partially streamed version (bounded by
        // the end offset when it sits in the SAME version)
        val until =
          if (endOff.version == o.version && endOff.index >= 0)
            endOff.index.toInt + 1
          else cdfInfo(o.version)._1.size
        if (o.index + 1 < until)
          parts += TableChanges.readVersionSlice(snapAt(o.version),
            o.index.toInt + 1, until)
        o.version + 1
      case Some(o) => o.version + 1
      case None => startingVersion
    }
    val hiFull = if (endOff.index >= 0) endOff.version - 1 else endOff.version
    if (lo <= hiFull)
      parts += TableChanges.read(spark, tablePath, lo, Some(hiFull))
    if (endOff.index >= 0 && endOff.version >= lo)
      parts += TableChanges.readVersionSlice(snapAt(endOff.version),
        0, endOff.index.toInt + 1)
    if (parts.isEmpty)
      // offset-encoding changes across restarts can produce an empty
      // replay range; an empty batch is correct, not an error
      DeltaSource.filesAsInserts(spark, initialSnapshot, Nil).limit(0)
    else parts.reduceLeft(_.unionByName(_))
  }

  private def parseOffset(o: OffsetV2): DeltaSourceOffset = o match {
    case d: DeltaSourceOffset => d
    case other => DeltaSourceOffset.fromJson(other.json)
  }

  override def stop(): Unit = {}
}

/** Offset = (table version, file index) + whether that position lies in
  * the initial snapshot (delta-spark's reservoirVersion /
  * isInitialSnapshot / index triple): replaying batch 0 after a restart
  * rebuilds the snapshot at the PINNED version, immune to the table
  * advancing between stream start and the first checkpoint.
  */
case class DeltaSourceOffset(version: Long, isInitialSnapshot: Boolean,
    index: Long = -1) extends Offset {
  /** `index` = last file index of `version` (or of the pinned snapshot
    * when `isInitialSnapshot`) included by this offset; -1 = the whole
    * version. Complete offsets keep the original two-field encoding so
    * checkpoints from earlier versions of this source parse unchanged.
    */
  override def json: String =
    if (index < 0)
      s"""{"version":$version,"isInitialSnapshot":$isInitialSnapshot}"""
    else
      s"""{"version":$version,"isInitialSnapshot":$isInitialSnapshot,""" +
        s""""index":$index}"""
}

object DeltaSourceOffset {
  def fromJson(s: String): DeltaSourceOffset = {
    val t = s.trim
    if (t.startsWith("{")) {
      val n = JsonLog.parseLine(t)
      DeltaSourceOffset(n.path("version").asLong,
        n.path("isInitialSnapshot").asBoolean(false),
        if (n.has("index")) n.path("index").asLong else -1L)
    } else DeltaSourceOffset(t.toLong, isInitialSnapshot = false)
  }
}

object DeltaSource {

  /** `yyyy-MM-dd HH:mm:ss[.f]` or epoch millis — the one timestamp
    * grammar every option surface shares.
    */
  def parseTsMillis(ts: String): Long =
    try java.sql.Timestamp.valueOf(ts).getTime
    catch { case _: IllegalArgumentException => ts.toLong }

  /** A set of the snapshot's files rendered as CDF insert rows at the
    * snapshot's version — the initial batches of a readChangeFeed
    * stream with no startingVersion (delta-spark's default CDF shape).
    */
  private[streaming] def filesAsInserts(
      spark: org.apache.spark.sql.SparkSession,
      snap: Snapshot,
      files: Seq[graft.delta.AddFile]): DataFrame = {
    import org.apache.spark.sql.functions._
    val conf = spark.sessionState.newHadoopConf()
    val fs = Storage.fs(snap.tableRoot, conf)
    val ts =
      try fs.getFileStatus(FileNames.commitFile(
        FileNames.logDir(snap.tableRoot), snap.version)).getModificationTime
      catch { case _: Exception => System.currentTimeMillis() }
    new DeltaScan(snap, None).assemble(files, keepMeta = false)
      .withColumn(TableChanges.CHANGE_TYPE, lit("insert"))
      .withColumn(TableChanges.COMMIT_VERSION, lit(snap.version))
      .withColumn(TableChanges.COMMIT_TIMESTAMP,
        lit(new java.sql.Timestamp(ts)))
  }

  def cdfSchema(table: StructType): StructType = StructType(
    table.fields ++ Seq(
      org.apache.spark.sql.types.StructField(TableChanges.CHANGE_TYPE,
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(TableChanges.COMMIT_VERSION,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(TableChanges.COMMIT_TIMESTAMP,
        org.apache.spark.sql.types.TimestampType)))
}

/** `.format("graft-delta")` / `.format(classOf[DeltaSourceProvider].getName)`
  * — streaming source + sink AND batch read/write: `spark.read
  * .format("graft-delta").load(path)` scans through the log-backed
  * skipping path (with `versionAsOf`/`timestampAsOf` time travel);
  * `df.write.format("graft-delta").mode(...).save(path)` creates or
  * appends/overwrites through the transactional commit path.
  */
class DeltaSourceProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.SchemaRelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-delta"

  /** Schema-carrying resolution: the session catalog resolves
    * `CREATE TABLE t (...) USING graft-delta` metastore entries through
    * here with the declared schema. A location without a log yet is the
    * freshly created (never written) table — create version 0 from the
    * declared schema so INSERT/SELECT work immediately after CREATE.
    */
  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      schema: StructType)
      : org.apache.spark.sql.sources.BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("option 'path' is required"))
    if (!graft.delta.DeltaTable.isDeltaTable(spark, path))
      graft.delta.DeltaTable.create(spark, path, schema, Nil)
    createRelation(sqlContext, parameters)
  }

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("option 'path' is required"))
    val params = new java.util.TreeMap[String, String](
      String.CASE_INSENSITIVE_ORDER)
    parameters.foreach { case (k, v) => params.put(k, v) }
    def opt(k: String) = Option(params.get(k))
    def versionAt(ts: String): Long =
      graft.delta.DeltaTable.forPath(sqlContext.sparkSession, path)
        .versionAtTimestamp(DeltaSource.parseTsMillis(ts))
    // batch CDF read (delta-spark's readChangeFeed batch surface):
    // version/timestamp bounds select the commit range; the result is
    // the same TableChanges plan the streaming CDF mode slices. A
    // starting TIMESTAMP maps through first-version-AFTER (changes
    // committed at or after ts — the history_manager window contract
    // readByTimestamp and the streaming start share); the ending
    // timestamp stays latest-as-of.
    if (opt("readChangeFeed").exists(_.equalsIgnoreCase("true"))) {
      val start = opt("startingVersion").map(_.toLong)
        .orElse(opt("startingTimestamp").map(ts =>
          graft.delta.DeltaTable.forPath(sqlContext.sparkSession, path)
            .firstVersionAfter(DeltaSource.parseTsMillis(ts))))
        .getOrElse(throw new IllegalArgumentException(
          "readChangeFeed requires startingVersion or startingTimestamp"))
      val end = opt("endingVersion").map(_.toLong)
        .orElse(opt("endingTimestamp").map(versionAt))
      val ctx = sqlContext
      val df = graft.delta.TableChanges.read(
        ctx.sparkSession, path, start, end)
      return new org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: SQLContext = ctx
        override def schema: StructType = df.schema
        override def buildScan(): org.apache.spark.rdd.RDD[
          org.apache.spark.sql.Row] = df.rdd
      }
    }
    val version = opt("versionAsOf").map(_.toLong)
      .orElse(opt("timestampAsOf").map(versionAt))
    new graft.delta.GraftDeltaRelation(sqlContext, path, version)
  }

  override def createRelation(
      sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = sqlContext.sparkSession
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("option 'path' is required"))
    val exists = graft.delta.DeltaTable.isDeltaTable(spark, path)
    if (!exists) {
      val partitionCols = parameters.get("partitionBy")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
      graft.delta.DeltaTable.create(spark, path, data.schema, partitionCols)
      graft.delta.DeltaTable.forPath(spark, path).append(data)
    } else mode match {
      case SaveMode.Append =>
        graft.delta.DeltaTable.forPath(spark, path).append(data,
          mergeSchema = parameters.get("mergeSchema")
            .exists(_.equalsIgnoreCase("true")))
      case SaveMode.Overwrite =>
        graft.delta.DeltaTable.forPath(spark, path).overwrite(data,
          overwriteSchema = parameters.get("overwriteSchema")
            .exists(_.equalsIgnoreCase("true")))
      case SaveMode.ErrorIfExists =>
        throw new IllegalStateException(s"delta table already exists: $path")
      case SaveMode.Ignore => ()
    }
    new graft.delta.GraftDeltaRelation(sqlContext, path, None)
  }

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("option 'path' is required"))
    new DeltaSink(sqlContext, path, outputMode,
      mergeSchema = parameters.get("mergeSchema")
        .exists(_.equalsIgnoreCase("true")))
  }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("option 'path' is required"))
    val table = Snapshot.forTable(sqlContext.sparkSession, path).schema
    val cdf = parameters.get("readChangeFeed")
      .exists(_.equalsIgnoreCase("true"))
    (shortName(), schema.getOrElse(
      if (cdf) DeltaSource.cdfSchema(table) else table))
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("option 'path' is required"))
    new DeltaSource(sqlContext, path, parameters)
  }
}
