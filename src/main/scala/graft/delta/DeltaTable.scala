package graft.delta

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** User-facing Delta table handle: ACID writes (CREATE/append/DELETE),
  * snapshot reads with time travel, checkpointing.
  * (reference: kernel/src/transaction/mod.rs — append txn :199-322,
  * commit :327-590; create_table.rs; history_manager/mod.rs)
  */
class DeltaTable(val spark: SparkSession, val pathStr: String,
    val catalog: Option[CatalogClient] = None,
    committerOverride: Option[Committer] = None,
    val correlationId: Option[String] = None) {
  import DeltaTable.{Actions, Blind, CheckpointLayout, ClassicLayout,
    Maintenance, Reads, Strict, V2Layout}
  val root = new Path(pathStr)

  /** Handle whose commits carry an opaque caller-supplied correlation
    * id in their commitInfo (reference transaction/mod.rs
    * `with_correlation_id`, #2834) — joins the table's commits to the
    * caller's own request/operation id in the log and in
    * [[historyDetail]]. An empty id is treated as unset.
    */
  def withCorrelationId(id: String): DeltaTable =
    new DeltaTable(spark, pathStr, catalog, committerOverride,
      Option(id).filter(_.nonEmpty))
  private def hconf = spark.sessionState.newHadoopConf()
  private def fs = Storage.fs(root, hconf)
  private val logDir = FileNames.logDir(root)

  /** Classic checkpoints auto-split into V1 multipart files above
    * 2× this many actions, and every checkpoint parquet is written
    * with small row groups — the read side's split granularity (and
    * so the checkpoint-arm replay parallelism of every future
    * snapshot) is bounded by writer-side row-group layout.
    */
  private val CHECKPOINT_ACTIONS_PER_PART = 100000
  private val CHECKPOINT_ROW_GROUP_BYTES = 16 * 1024 * 1024

  /** The commit authority for this handle (reference committer/mod.rs):
    * stage-and-ratify when a catalog manages the table, put-if-absent
    * otherwise.
    */
  private def committer: Committer =
    committerOverride.getOrElse(
      catalog.map(c => new CatalogCommitter(c, pathStr))
        .getOrElse(FileSystemCommitter))

  def snapshot(version: Option[Long] = None): Snapshot = catalog match {
    case Some(c) => Snapshot.forTable(spark, pathStr, version,
      c.logTail(pathStr), c.maxRatifiedVersion(pathStr))
    case None => Snapshot.forTable(spark, pathStr, version)
  }

  def toDF: DataFrame = snapshot().toDF

  def scan(predicateSql: Option[String] = None,
      version: Option[Long] = None): DeltaScan = {
    val b = snapshot(version).scanBuilder()
    predicateSql.foreach(b.withPredicate)
    b.build()
  }

  // ---------------- commit machinery ----------------

  /** The conflict loop under [[commit]] (writers call `commit`; tests
    * drive this directly): atomic put-if-absent commit with conflict
    * resolution (reference committer/filesystem.rs +
    * transaction/mod.rs:327-590). On losing
    * the race at version v the WINNING commit is read and examined:
    * protocol/metadata changes and same-appId transactions surface as
    * typed conflicts regardless of retryability (a blind append must
    * never skip over them — the staged data was validated against the
    * old table definition); reads-based commits surface
    * [[ConcurrentWriteException]]; blind appends rebase to the next
    * version, REGENERATING the commit lines via `mkLines(v)` so the
    * in-commit timestamp derives from the actual predecessor (the
    * winning commit), keeping ICT strictly monotonic across retries.
    */
  private[delta] def commitActions(startVersion: Long,
      mkLines: Long => Seq[String], retryable: Boolean,
      txnAppIds: Seq[String],
      readCheck: Option[DeltaTable.ReadSet] = None,
      serializable: Boolean = false): Long = {
    val opId = Metrics.newId()
    val t0 = Metrics.now()
    var v = startVersion
    var attempts = 0
    def fail(e: Exception): Nothing = {
      Metrics.report(MetricEvent.TransactionCommitFailure(opId,
        Metrics.now() - t0, v, attempts, e.getClass.getSimpleName))
      throw e
    }
    while (true) {
      val content = mkLines(v).mkString("", "\n", "\n")
      committer.commit(fs, logDir, v, content) match {
        case CommitResponse.Committed(cv, _) =>
          // commit JSON bytes: the log-growth half of write-side I/O
          // accounting (data_write covers the parquet half)
          Metrics.report(MetricEvent.IoBytes(opId, "commit_write",
            1L, Storage.utf8Length(content)))
          Metrics.report(MetricEvent.TransactionCommitSuccess(opId,
            Metrics.now() - t0, cv, attempts))
          return cv
        case CommitResponse.Conflict(_) => ()
      }
      attempts += 1
      val winner = JsonLog.readCommit(fs, resolveCommitPath(v),
        Set("protocol", "metaData", "txn", "add", "remove")).map(_._2)
      if (winner.exists(_.protocol.nonEmpty))
        fail(new ProtocolChangedException(
          s"concurrent protocol change at version $v for $pathStr"))
      if (winner.exists(_.metaData.nonEmpty))
        fail(new MetadataChangedException(
          s"concurrent metadata change at version $v for $pathStr"))
      if (txnAppIds.nonEmpty) {
        winner.flatMap(_.txn).map(_.appId)
          .find(txnAppIds.contains)
          .foreach(app => fail(new ConcurrentTransactionException(
            s"concurrent transaction for appId '$app' at version $v " +
              s"for $pathStr")))
      }
      if (attempts > 1000)
        fail(new ConcurrentWriteException(
          s"commit conflict at version $v for $pathStr (gave up)"))
      readCheck match {
        case Some(rs) =>
          // delete/delete: the winner removed a file we also remove —
          // both transactions acted on the same rows
          winner.flatMap(_.remove)
            .map(r => Storage.canonicalPathKey(r.path))
            .find(rs.removedKeys.contains)
            .foreach(p => fail(new ConcurrentDeleteDeleteException(
              s"concurrent removal of '$p' at version $v for $pathStr")))
          // append check: winner adds are safe only when partition
          // pruning + stats skipping PROVE no added file can hold a row
          // matching our predicate (delta's Serializable check; the
          // reference surfaces the same cases via CommitResult)
          // dataChange=false adds (a concurrent OPTIMIZE/compaction)
          // rewrite existing rows without changing table contents — the
          // remove/remove check above already catches compactions that
          // touched OUR files, so they never conflict with a predicate
          // (delta-spark excludes them under WriteSerializable too)
          val winAdds = winner.flatMap(_.add).filter(_.dataChange)
          if (winAdds.nonEmpty && !rs.maintenance) {
            val disjoint = rs.predicateSql.isDefined && {
              val rows: Seq[org.apache.spark.sql.Row] = winAdds.map(a =>
                new org.apache.spark.sql.catalyst.expressions
                  .GenericRowWithSchema(
                    Array[Any](RowCodec.addToRow(a), v),
                    rs.snap.addsSchema))
              val df = spark.createDataFrame(
                rows.asJava, rs.snap.addsSchema)
              new DeltaScan(rs.snap, rs.predicateSql)
                .pruneAdds(df).limit(1).count() == 0
            }
            if (!disjoint) fail(new ConcurrentAppendException(
              s"concurrent append at version $v for $pathStr may match " +
                s"the predicate ${rs.predicateSql.getOrElse("<none>")}"))
          }
          // provably disjoint winner → rebase past it
        case None =>
          if (!retryable) fail(new ConcurrentWriteException(
            s"commit conflict at version $v for $pathStr"))
          // Serializable isolation: a blind append may not slide past a
          // commit that REMOVED data — serializing the append first
          // would change which rows that delete saw
          // (delta.isolationLevel; WriteSerializable keeps the default
          // append-commutes-with-anything behavior)
          if (serializable &&
              winner.flatMap(_.remove).exists(_.dataChange))
            fail(new ConcurrentWriteException(
              s"serializable isolation: concurrent data removal at " +
                s"version $v for $pathStr"))
      }
      v += 1
    }
    v // unreachable
  }

  private[delta] def commitActions(startVersion: Long, actions: Seq[String],
      retryable: Boolean): Long =
    commitActions(startVersion, (_: Long) => actions, retryable, Nil)

  /** The one way a writer commits a table version (reference
    * transaction/mod.rs:327-590). The writer hands over the snapshot it
    * planned against (`base`; None creates the table at version 0),
    * its typed `actions` and a conflict `mode`; everything else is
    * derived here, once:
    *  - the writer gate (mutating = the commit removes data);
    *  - the commitInfo line with the correlation id and an in-commit
    *    timestamp regenerated per attempt against the ACTUAL
    *    predecessor; a commit turning ICT on also records the
    *    enablement boundary (time travel orders commits below it by
    *    file mtime, at or above it by ICT);
    *  - the rebase policy: a commit carrying protocol, metadata or
    *    domain metadata never rebases (its table definition, or a
    *    high-water mark such as row tracking's, was derived from
    *    `base`); otherwise `mode` picks blind retry, a predicate read
    *    set, or the maintenance read set, over `actions.removes`;
    *  - the `.crc` deltas and the post-commit hooks (auto-checkpoint;
    *    auto-compact after blind appends only).
    */
  private def commit(base: Option[Snapshot], op: String,
      params: Map[String, String], actions: Actions,
      mode: DeltaTable.CommitMode): Long = {
    import DeltaTable.{ICT_ENABLED_KEY, ICT_ENABLEMENT_TIMESTAMP_KEY,
      ICT_ENABLEMENT_VERSION_KEY, ReadSet}
    val start = base.fold(0L)(_.version + 1)
    val baseMeta = base.map(_.metadata)
    writerGate(base.map(_.protocol).orElse(actions.protocol).get,
      baseMeta.orElse(actions.metadata).get,
      mutating = actions.removes.exists(_.dataChange))
    def ictOn(m: graft.delta.Metadata) =
      m.configuration.get(ICT_ENABLED_KEY).exists(_.equalsIgnoreCase("true"))
    val stampsIct = (baseMeta ++ actions.metadata).exists(ictOn)
    // protocol: strictly greater than the predecessor's ICT, regardless
    // of clock skew (reference transaction/commit_info.rs:484)
    def ictAt(v: Long): Option[Long] =
      if (!stampsIct) None
      else Some(math.max(now(), commitIct(v - 1) + 1))
    val firstIct = ictAt(start)
    val meta = actions.metadata.map { m =>
      if (baseMeta.exists(!ictOn(_)) && ictOn(m))
        m.copy(configuration = m.configuration +
          (ICT_ENABLEMENT_VERSION_KEY -> start.toString) +
          (ICT_ENABLEMENT_TIMESTAMP_KEY -> firstIct.get.toString))
      else m
    }
    val acts = actions.copy(metadata = meta)
    val body = (acts.protocol.map(p => SingleAction(protocol = Some(p))) ++
      acts.metadata.map(m => SingleAction(metaData = Some(m))) ++
      acts.domains.map(d => SingleAction(domainMetadata = Some(d))) ++
      acts.txns.map(t => SingleAction(txn = Some(t))) ++
      acts.removes.map(r => SingleAction(remove = Some(r))) ++
      acts.adds.map(a => SingleAction(add = Some(a))) ++
      acts.cdc.map(c => SingleAction(cdc = Some(c))))
      .map(JsonLog.writeAction).toSeq
    val redefines = acts.protocol.isDefined || acts.metadata.isDefined ||
      acts.domains.nonEmpty
    def removedKeys = acts.removes.map(r => Storage.canonicalPathKey(r.path))
      .toSet
    val readSet = (mode, base) match {
      case (_, _) if redefines => None
      case (Reads(predicate), Some(s)) =>
        Some(ReadSet(s, predicate, removedKeys))
      case (Maintenance, Some(s)) =>
        Some(ReadSet(s, None, removedKeys, maintenance = true))
      case _ => None
    }
    if (base.isEmpty) fs.mkdirs(logDir)
    val committed =
      try commitActions(start,
        cv => commitInfoLine(op, params,
          if (cv == start) firstIct else ictAt(cv)) +: body,
        retryable = mode == Blind && !redefines,
        txnAppIds = acts.txns.map(_.appId),
        readCheck = readSet,
        serializable =
          baseMeta.exists(TableProperties.serializableIsolation))
      catch { case _: ConcurrentWriteException if base.isEmpty =>
        throw new IllegalStateException(s"table already exists at $pathStr")
      }
    maybeWriteChecksum(committed, acts)
    val finalMeta = meta.orElse(baseMeta).get
    maybeAutoCheckpoint(committed, finalMeta)
    if (mode == Blind)
      maybeAutoCompact(finalMeta, acts.adds.map(_.partitionValues).toSet)
    committed
  }

  private def now(): Long = System.currentTimeMillis()

  /** The protocol's tombstone for a live add. It MUST carry the add's
    * DV descriptor: the replay dedup key is (path, dvUniqueId), so a
    * DV-less remove would never shadow a DV-carrying add — its rows
    * would resurrect.
    */
  private def tombstone(a: AddFile, dataChange: Boolean): RemoveFile =
    RemoveFile(a.path, Some(now()), dataChange,
      extendedFileMetadata = Some(true),
      partitionValues = Some(a.partitionValues), size = Some(a.size),
      deletionVector = a.deletionVector)

  /** Writer gate (reference table_features write gates): refuse to
    * commit when the protocol declares writer features this engine does
    * not implement, and enforce delta.appendOnly for mutating ops.
    * [[commit]] runs it on every commit; writers also call it up front
    * where it rejects a write before any data is staged.
    */
  private def writerGate(snap: Snapshot, mutating: Boolean): Unit =
    writerGate(snap.protocol, snap.metadata, mutating)

  private def writerGate(protocol: Protocol, metadata: graft.delta.Metadata,
      mutating: Boolean): Unit = {
    require(protocol.minWriterVersion <= 7,
      s"unsupported minWriterVersion ${protocol.minWriterVersion}")
    // reference committer/filesystem.rs test contract: a filesystem
    // committer must never write to a catalog-managed table — its
    // put-if-absent "win" would bypass the catalog's arbitration
    if (CatalogManaged.isCatalogManaged(protocol) &&
        !committer.isCatalogCommitter)
      throw new IllegalStateException(
        "This table is catalog-managed and requires a catalog " +
          "committer: open it with DeltaTable.forPath(spark, path, catalog)")
    val bad = TableFeatures.unsupportedWriterFeatures(protocol, metadata)
    require(bad.isEmpty,
      s"cannot write: unsupported writer features ${bad.mkString(", ")}")
    if (mutating)
      require(!metadata.configuration.get("delta.appendOnly")
          .exists(_.equalsIgnoreCase("true")),
        s"table at $pathStr is append-only (delta.appendOnly=true)")
  }

  /** Best-effort incremental `.crc` update after a commit (reference
    * kernel/src/crc/): the previous version's checksum (an empty one for
    * a new table) + this commit's added/removed file sizes — totals AND
    * the per-bin file-size histogram advance without listing anything.
    * Skipped when the chain is broken (no prior crc) — never
    * load-bearing.
    */
  private def maybeWriteChecksum(v: Long, acts: Actions): Unit =
    try {
      val prev =
        if (v == 0) Some(Checksum.VersionChecksum(0L, 0L, acts.protocol.get,
          acts.metadata.get, Some(FileSizeHistogram.empty)))
        else Checksum.read(fs, logDir, v - 1)
      val added = acts.adds.map(_.size)
      val removed = acts.removes.map(_.size.getOrElse(0L))
      prev.foreach { p =>
        val hist = p.fileSizeHistogram.map { h0 =>
          removed.foldLeft(added.foldLeft(h0)(_.insert(_)))(_.remove(_))
        }
        Checksum.write(fs, logDir, v, Checksum.VersionChecksum(
          p.tableSizeBytes + added.sum - removed.sum,
          p.numFiles + added.size - removed.size,
          acts.protocol.getOrElse(p.protocol),
          acts.metadata.getOrElse(p.metadata),
          hist))
      }
    } catch { case _: Exception => () }

  private def commitInfoLine(op: String, params: Map[String, String],
      ict: Option[Long]): String =
    JsonLog.writeAction(SingleAction(commitInfo = Some(CommitInfo(
      timestamp = now(), operation = op, operationParameters = params,
      engineInfo = Some("graft-spark/0.1.0"),
      inCommitTimestamp = ict,
      correlationId = correlationId))))

  /** Where the commit for `version` lives: the catalog's ratified
    * staged file when one exists (it is the authority — the published
    * copy may not exist yet), the published path otherwise.
    */
  private def resolveCommitPath(version: Long): Path =
    catalog.flatMap(_.logTail(pathStr)
        .find(_.version == version).map(_.location))
      .getOrElse(FileNames.commitFile(logDir, version))

  /** In-commit timestamp of the commit file at `version`; 0 when it has
    * none.
    */
  private def commitIct(version: Long): Long = {
    if (version < 0) return 0L
    val p = resolveCommitPath(version)
    if (!fs.exists(p)) 0L else JsonLog.commitTimestamp(fs, p, 0L)
  }

  /** Publish ratified catalog commits `<= upToVersion` (default: all)
    * to their `_delta_log/{version}.json` locations (reference
    * Committer::publish + publish_types.rs PublishMetadata). Publishing
    * is an optimization — reads through the catalog are correct before
    * and after — so it is idempotent and safe to race.
    */
  def publish(upToVersion: Option[Long] = None): Long = {
    val cat = catalog.getOrElse(throw new IllegalStateException(
      s"table at $pathStr has no catalog: nothing to publish"))
    val tail = cat.logTail(pathStr)
    require(tail.nonEmpty, s"no unpublished catalog commits for $pathStr")
    val upTo = upToVersion.getOrElse(tail.last.version)
    val toPublish = tail.filter(_.version <= upTo)
    require(toPublish.nonEmpty && toPublish.last.version == upTo,
      s"version $upTo is not an unpublished ratified version of $pathStr")
    committer.publish(fs, logDir, toPublish)
    upTo
  }

  // ---------------- write path ----------------

  /** Stage `df` as parquet files under a unique subdir and derive the
    * per-file stats from the staged files' parquet FOOTERS — the writer
    * already aggregated min/max/null counts per chunk, so the "stats
    * pass" is a metadata-sized read instead of a second full scan of
    * just-written data (reference transaction/mod.rs:199-322 +
    * default-engine/src/stats.rs, which accumulates stats while
    * writing).
    */
  private def stageFiles(df: DataFrame, snap: Snapshot,
      passthrough: Seq[String] = Nil,
      nullGeneratedAsOmitted: Boolean = false,
      rebalance: Boolean = false): Seq[AddFile] = {
    val partCols = snap.partitionColumns
    val stage = "part-" + UUID.randomUUID().toString.substring(0, 8)
    val stagePath = new Path(root, stage)

    // Write with PHYSICAL column names + parquet field ids (column
    // mapping); identity when mode=none.
    val physDataSchema = ColumnMapping.physicalSchema(snap.dataSchema)
    val physPartCols = partCols.map(c =>
      ColumnMapping.physicalName(snap.schema.fields.find(_.name == c).get))
    // fill generated/default columns and embed constraint checks into
    // the projection — they ride the staging job, zero extra passes;
    // clustered tables additionally range-partition + sort on the
    // clustering key so each staged file covers a disjoint range
    val clusterCols = Clustering.columns(snap)
    // 0 = let AQE size the range partitions (files track the advisory
    // partition size — the right default at scale); a fixed count pins
    // the file count explicitly
    val clusterFiles = snap.metadata.configuration
      .get(DeltaTable.CLUSTERING_NUM_FILES_KEY).map(_.toInt).getOrElse(0)
    val renamed = physicalProjection(
      Clustering.layout(
        WriteValidation.prepare(df, snap, passthrough,
          nullGeneratedAsOmitted),
        clusterCols, clusterFiles),
      snap, passthrough)

    // materializePartitionColumns / icebergCompatV3: partition values
    // must ALSO live in the data files (reference
    // table_configuration.rs:510-523). Spark's partitionBy strips the
    // partitioning column from file content, so partition on a
    // duplicate alias and keep the physical column in the data; the
    // alias prefix is stripped back off when dir names are parsed into
    // partitionValues below. Readers are unaffected either way: the
    // requested data schema never includes partition columns.
    val materialize = IcebergCompat.materializePartitionColumns(
      snap.protocol, snap.metadata) && physPartCols.nonEmpty
    val (toWrite, partByCols) =
      if (!materialize) (renamed, physPartCols)
      else (physPartCols.foldLeft(renamed)((d, c) =>
              d.withColumn(DeltaTable.MAT_PART_PREFIX + c, col(s"`$c`"))),
            physPartCols.map(DeltaTable.MAT_PART_PREFIX + _))

    // Optimized write (delta.autoOptimize.optimizeWrite, and always for
    // MERGE, whose rows are a union of joined row sets that would each
    // write their own file per value): see [[rebalanced]].
    // Clustered tables already range-partition (their own layout);
    // unpartitioned tables bin-pack via OPTIMIZE instead — a blind
    // shuffle there would just serialize the write.
    val optimizeWrite = rebalance || snap.metadata.configuration
      .get(DeltaTable.OPTIMIZE_WRITE_KEY).exists(_.equalsIgnoreCase("true"))
    val laidOut =
      if (optimizeWrite && clusterCols.isEmpty) rebalanced(toWrite, partByCols)
      else toWrite
    DeltaTable.ScopedSessionConf.withConfs(spark, writeConfs(snap)) {
      val writer = laidOut.write.mode("overwrite")
      // delta.parquet.compression.codec: table-pinned codec beats the
      // session default (a 100 TB table's scan cost is set at write
      // time; the property makes it an explicit table contract)
      TableProperties.parquetCompression(snap.metadata)
        .foreach(c => writer.option("compression", c))
      (if (partByCols.nonEmpty) writer.partitionBy(partByCols: _*)
       else writer).parquet(stagePath.toString)
    }

    // remove committer markers, list the staged data files
    val success = new Path(stagePath, "_SUCCESS")
    if (fs.exists(success)) fs.delete(success, false)
    val listed = Storage.listFilesRecursive(fs, stagePath)
      .filter(_.getPath.getName.endsWith(".parquet"))
    val rootRaw = fs.makeQualified(root).toUri.getRawPath
    def relOf(p: Path): String =
      p.toUri.getRawPath.stripPrefix(rootRaw).stripPrefix("/")
    // delta.randomizeFilePrefixes: move each staged file under its own
    // short random prefix so object-store request load spreads across
    // the key space instead of hammering one shared prefix (the S3
    // throughput ceiling at ingest scale). Partition values still come
    // from the ORIGINAL hive-style staging layout — after the move,
    // only add.path records where the file lives; readers never list
    // directories. Renames are O(files) metadata ops on the driver,
    // bounded by the append's own file count.
    val randomize = TableProperties.randomizeFilePrefixes(snap.metadata)
    val prefixLen = TableProperties.randomPrefixLength(snap.metadata)
    // (finalStatus, hive-layout rel path the partition values parse from)
    val files: Seq[(org.apache.hadoop.fs.FileStatus, String)] =
      if (!randomize) listed.map(st => (st, relOf(st.getPath))).toSeq
      else listed.map { st =>
        val origRel = relOf(st.getPath)
        val prefix = UUID.randomUUID().toString.replace("-", "")
          .take(prefixLen)
        val dest = new Path(root, s"$prefix/${st.getPath.getName}")
        fs.mkdirs(dest.getParent)
        require(fs.rename(st.getPath, dest),
          s"failed to move staged file into randomized prefix: $dest")
        (fs.getFileStatus(dest), origRel)
      }.toSeq
    // the emptied staging tree is noise once its files moved out
    if (randomize) fs.delete(stagePath, true)

    // footer stats (stats JSON keys are PHYSICAL names on column-mapped
    // tables); fans out to executors when the append staged many files
    val statsSel = ParquetFooterStats.selection(snap,
      clusterCols.map(c => ColumnMapping.physicalName(
        snap.schema.fields.find(_.name == c).get)).toSet)
    val statsByPath = ParquetFooterStats.collect(spark,
      files.map(_._1.getPath.toString), physDataSchema, hconf, statsSel)

    // Spark writers emit one (possibly empty) file per task; a zero-row
    // file carries empty min/max stats, which downstream conflict checks
    // and data skipping can never prove disjoint (NULL min ⇒ coalesce
    // keeps the file ⇒ a provably-disjoint concurrent DML aborts).
    // Drop them before they ever become adds — reference never commits
    // zero-record files either (transaction stats contract).
    // Anchored to the document prefix (StatsJson.render always emits
    // numRecords first): an unanchored match would also hit a
    // nullCount/minValues entry of 0 for a column physically NAMED
    // "numRecords" and delete a live file before commit.
    val zeroRowRe = """^\{"numRecords"\s*:\s*0[,}]""".r
    val (empties, liveFiles) = files.partition { case (st, _) =>
      zeroRowRe.findFirstIn(statsByPath(st.getPath.toString)).isDefined
    }
    empties.foreach { case (st, _) => fs.delete(st.getPath, false) }

    val staged = liveFiles.map { case (st, hiveRel) =>
      val abs = st.getPath
      // add.path is a URI-ENCODED relative path (protocol contract) —
      // getRawPath keeps %-escapes so a literal '%' or space in a
      // partition dir name round-trips exactly
      val rel = relOf(abs)
      // materialized-partition writes partition on an alias of the
      // physical column (see above) — strip it back off
      val pv = PartitionValues.fromHivePath(hiveRel).map { case (k, v) =>
        k.stripPrefix(DeltaTable.MAT_PART_PREFIX) -> v }
      AddFile(
        path = rel,
        partitionValues =
          physPartCols.map(c => c -> pv.getOrElse(c, null)).toMap,
        size = st.getLen,
        modificationTime = st.getModificationTime,
        dataChange = true,
        stats = Some(statsByPath(abs.toString)),
        clusteringProvider =
          if (clusterCols.nonEmpty) Some(Clustering.PROVIDER) else None)
    }
    // protocol-contract validation BEFORE anything commits (reference
    // transaction/stats_verifier.rs): a malformed stat would make
    // readers silently skip live files
    StatsVerifier.verifyAll(staged, physDataSchema)
    // V3 requires every add to carry numRecords (reference
    // table_configuration.rs:900-907)
    if (IcebergCompat.requiresStatsNumRecords(snap.protocol, snap.metadata))
      staged.foreach { a =>
        require(a.stats.exists(_.contains("\"numRecords\"")),
          s"icebergCompatV3 requires stats.numRecords on every add " +
            s"(missing for ${a.path})")
      }
    // sizes are already in hand — byte accounting costs nothing here
    Metrics.report(MetricEvent.IoBytes(Metrics.newId(), "data_write",
      staged.size.toLong, staged.map(_.size).sum))
    staged
  }

  /** Session confs scoped around a staging write. INT96 (Spark's
    * legacy default) carries no usable footer stats and is
    * non-standard; micros is lossless for Spark timestamps. Tables that
    * opted into variantShredding additionally write variant columns
    * shredded ({metadata, value, typed_value}) with an inferred
    * typed_value schema, so downstream scans prune into the typed
    * subcolumns. The table property turns shredding on; an EXPLICIT
    * session-level writeShredding.enabled=false still wins (Spark's
    * session conf is the user's per-write escape hatch — e.g. staging
    * one unshredded file into an otherwise-shredded table).
    */
  private def writeConfs(snap: Snapshot): Seq[(String, String)] = {
    val shred = snap.metadata.configuration
      .get(DeltaTable.VARIANT_SHREDDING_KEY)
      .exists(_.equalsIgnoreCase("true")) &&
      !spark.conf.getOption("spark.sql.variant.writeShredding.enabled")
        .exists(_.equalsIgnoreCase("false"))
    Seq("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") ++
      (if (shred)
        Seq("spark.sql.variant.writeShredding.enabled" -> "true",
          "spark.sql.variant.inferShreddingSchema" -> "true")
       else Nil)
  }

  /** The optimized-write layout of a partitioned write: Spark's
    * REBALANCE on the physical partition columns, so every partition
    * VALUE lands in one task and writes ONE file instead of
    * inputPartitions × values small files. AQE packs small values into
    * shared tasks and splits a skewed one. Unpartitioned: unchanged.
    */
  private def rebalanced(df: DataFrame, partByCols: Seq[String]): DataFrame =
    if (partByCols.isEmpty) df
    else df.hint("rebalance", partByCols.map(c => col(s"`$c`")): _*)

  /** Rewrite the whole table range-sorted on its clustering columns
    * (reference transaction/data_layout.rs; the OPTIMIZE analog).
    * Adds/removes carry dataChange=false — readers of the change feed
    * and streaming sources see no row-level change, because there is
    * none.
    */
  def optimizeClustered(): Long = {
    val snap = snapshot()
    val clusterCols = Clustering.columns(snap)
    require(clusterCols.nonEmpty,
      s"table at $pathStr has no clustering columns")
    optimizeRewrite(snap, df => df,
      Map("clusterBy" -> clusterCols.mkString(",")))
  }

  /** Ad-hoc `OPTIMIZE ... ZORDER BY (cols)` (delta-spark's one-off
    * z-ordering): lays the rewrite out on the NAMED columns without
    * touching the table's clustering metadata — for tables whose read
    * pattern differs from their physical layout. Tables with DECLARED
    * clustering refuse (the staging path would re-sort on the declared
    * keys and silently undo the requested order — use
    * [[optimizeClustered]] there).
    */
  def optimizeZorderBy(cols: Seq[String], numFiles: Int = 0): Long = {
    val snap = snapshot()
    require(cols.nonEmpty, "ZORDER BY requires at least one column")
    require(Clustering.columns(snap).isEmpty,
      s"table at $pathStr declares clustering columns — " +
        "use optimizeClustered()")
    cols.foreach { c =>
      val f = snap.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no such column '$c'"))
      require(DataSkipping.isEligible(f.dataType),
        s"ZORDER BY column '$c' has no min/max stats " +
          s"(${f.dataType.simpleString})")
    }
    optimizeRewrite(snap,
      df => Clustering.zorderLayout(df, cols, numFiles),
      Map("zorderBy" -> cols.mkString(",")))
  }

  /** `ALTER TABLE ... CLUSTER BY (cols)` / `CLUSTER BY NONE` (empty
    * seq): replace the table's clustering columns in a metadata-only
    * commit — the delta liquid-clustering re-key. Existing data keeps
    * its layout; subsequent appends and the next [[optimizeClustered]]
    * use the NEW columns. First-time clustering upgrades the protocol
    * with the clustering + domainMetadata features (reference
    * clustering.rs domain; requirement table_features/mod.rs:487).
    */
  def alterClusterBy(cols: Seq[String]): Long = {
    val snap = snapshot()
    require(cols.intersect(snap.partitionColumns).isEmpty,
      "a column cannot be both a partition and a clustering column")
    cols.foreach { c =>
      val f = snap.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no such column '$c'"))
      require(DataSkipping.isEligible(f.dataType),
        s"clustering column '$c' has no min/max stats " +
          s"(${f.dataType.simpleString}) — clustering would never " +
          "help skipping")
    }
    val hadClustering = Clustering.columns(snap).nonEmpty
    if (cols.isEmpty && !hadClustering) return snap.version // no-op
    val needsFeature = cols.nonEmpty &&
      !TableFeatures.supportsWriterFeature(snap.protocol,
        Clustering.FEATURE)
    val proto =
      if (needsFeature)
        Some(TableFeatures.upgraded(snap.protocol, Nil,
          Seq(Clustering.FEATURE, "domainMetadata")))
      else None
    val domain =
      if (cols.isEmpty)
        Clustering.domainFor(Nil).copy(removed = true)
      else Clustering.domainFor(cols.map(c => Seq(
        ColumnMapping.physicalName(snap.schema.fields.find(_.name == c).get))))
    commit(Some(snap), "ALTER TABLE",
      Map("operation" -> "CLUSTER BY", "clusterBy" -> cols.mkString(",")),
      Actions(protocol = proto, domains = Seq(domain)), Strict)
  }

  /** Bin-packing OPTIMIZE for any table: rewrite the live file set
    * into ~`targetFileBytes`-sized files (small-file compaction — the
    * cure for streaming-ingest file explosions). dataChange=false.
    */
  def optimizeCompact(targetFileBytes: Long = 0L,
      where: Option[String] = None): Long = {
    val snap = snapshot()
    // 0 = resolve from delta.targetFileSize, else the 128 MB default
    val targetBytes =
      if (targetFileBytes > 0) targetFileBytes
      else TableProperties.targetFileSize(snap.metadata)
        .getOrElse(128L << 20)
    require(targetBytes > 0, "targetFileBytes must be positive")
    // a clustered table's staging already range-partitions on the
    // cluster key — adding a hash repartition first would just be a
    // wasted extra shuffle
    if (Clustering.columns(snap).nonEmpty) {
      require(where.isEmpty,
        "OPTIMIZE WHERE on a clustered table is not supported — " +
          "clustering rewrites the whole layout")
      return optimizeClustered()
    }
    // OPTIMIZE WHERE: a partition predicate scopes the rewrite to
    // matching partitions (delta-spark's contract — a non-partition
    // predicate would force row-level reasoning OPTIMIZE cannot do)
    where.foreach { w =>
      val refs = spark.sessionState.sqlParser.parseExpression(w)
        .references.map(_.name).toSet
      val partCols = snap.partitionColumns.toSet
      require(refs.nonEmpty && refs.subsetOf(partCols),
        s"OPTIMIZE WHERE predicate may reference only partition " +
          s"columns ${partCols.mkString("(", ",", ")")}, got '$w'")
    }
    // slim: the rewrite restages (fresh stats) and tombstones carry
    // none — at 5M files full stats JSON is gigabytes of driver heap
    // for nothing
    val candidates = new DeltaScan(snap, where)
      .collectAddFiles(slim = true)
    val totalBytes = candidates.map(_.size).sum
    val numFiles = math.max(1L,
      (totalBytes + targetBytes - 1) / targetBytes).toInt
    val partCols = snap.partitionColumns
    val layout: DataFrame => DataFrame =
      if (partCols.nonEmpty)
        df => df.repartition(numFiles, partCols.map(c => col(s"`$c`")): _*)
      else df => df.repartition(numFiles)
    optimizeRewrite(snap, layout,
      Map("targetFileBytes" -> targetBytes.toString) ++
        where.map("where" -> _),
      subset = where.map(_ => candidates))
  }

  /** REORG TABLE ... APPLY (PURGE) (delta-spark surface; the kernel
    * leaves maintenance to engines — reference
    * kernel/src/transaction/mod.rs keeps remove+add commits generic):
    * rewrite ONLY the files carrying deletion vectors, physically
    * dropping the soft-deleted rows — the staged replacements carry no
    * DV descriptor. Files without DVs are untouched (contrast
    * [[optimizeCompact]], which rewrites the whole live set).
    * dataChange=false: readers and CDF see identical rows; vacuum can
    * then reclaim the old files AND their DV files past retention.
    */
  def reorgPurge(where: Option[String] = None): Long = {
    val snap = snapshot()
    where.foreach { w =>
      val refs = spark.sessionState.sqlParser.parseExpression(w)
        .references.map(_.name).toSet
      val partCols = snap.partitionColumns.toSet
      require(refs.nonEmpty && refs.subsetOf(partCols),
        s"REORG WHERE predicate may reference only partition columns " +
          s"${partCols.mkString("(", ",", ")")} — got '$w'")
    }
    val dvFiles = new DeltaScan(snap, where)
      .collectAddFiles(slim = true) // rewrite restages; see OPTIMIZE
      .filter(_.deletionVector.isDefined)
    if (dvFiles.isEmpty) return snap.version
    optimizeRewrite(snap, df => df,
      Map("applyPurge" -> "true") ++ where.map("predicate" -> _),
      subset = Some(dvFiles))
  }

  /** Auto-compaction (delta.autoOptimize.autoCompact): after a
    * data-adding commit, bin-pack any partition that has accumulated
    * `minNumFiles`+ files below half the target size. dataChange=false,
    * so CDF readers and streams see no row change. Optimized write
    * fixes ONE commit's layout; this fixes the accumulation ACROSS
    * commits — the other half of the streaming-ingest small-file
    * defense. Rewrites only the small files (a partition's full-sized
    * files are never touched), so the write amplification is bounded
    * by the small-file volume, not table size.
    */
  def autoCompact(minNumFiles: Int = 50,
      targetFileBytes: Long = 0L,
      touchedPartitions: Option[Set[Map[String, String]]] = None)
      : Option[Long] = {
    val snap = snapshot()
    // 0 = resolve from delta.targetFileSize, else the 128 MB default
    val targetBytes =
      if (targetFileBytes > 0) targetFileBytes
      else TableProperties.targetFileSize(snap.metadata)
        .getOrElse(128L << 20)
    require(minNumFiles > 0 && targetBytes > 0,
      "minNumFiles and targetFileBytes must be positive")
    if (RowTracking.enabled(snap.metadata)) return None
    // Post-commit probes only need file counts for partitions whose
    // count CHANGED — the ones the triggering commit touched. Scoping
    // the candidate scan to them turns the per-commit probe from
    // O(live files) into O(commit) at ingest scale (a 5M-file table
    // would otherwise replay + collect its whole file list after every
    // append). The scope matches the log's own partitionValues map —
    // PHYSICAL names, the exact strings the commit's adds carry —
    // null-safely, so every partition type and column mapping scope
    // without a literal round-trip.
    val physCols = snap.partitionColumns.map(c =>
      ColumnMapping.physicalName(snap.schema.fields.find(_.name == c).get))
    val scope = touchedPartitions.filter(_ => physCols.nonEmpty)
      .map(PartitionValues.scope(physCols, _))
    val small = new DeltaScan(snap, None)
      .collectAddFiles(slim = true, scope.getOrElse(lit(true)))
      .filter(_.size < targetBytes / 2)
    val toCompact = small.groupBy(_.partitionValues).values
      .filter(_.size >= minNumFiles).toSeq.flatten
    if (toCompact.isEmpty) return None
    val numFiles = math.max(1L,
      (toCompact.map(_.size).sum + targetBytes - 1) / targetBytes)
      .toInt
    // repartition(n, partCols) still lands each partition VALUE in one
    // task → one compacted file per value; plain repartition(n) would
    // re-fragment every value across n tasks
    val partCols = snap.partitionColumns
    val layout: DataFrame => DataFrame =
      if (partCols.nonEmpty)
        df => df.repartition(numFiles, partCols.map(c => col(s"`$c`")): _*)
      else df => df.repartition(numFiles)
    Some(optimizeRewrite(snap, layout,
      Map("auto" -> "true", "minNumFiles" -> minNumFiles.toString,
        "targetFileBytes" -> targetBytes.toString),
      subset = Some(toCompact)))
  }

  /** Post-commit hook: run [[autoCompact]] when the table property asks
    * for it. Thresholds come from session confs so tests and operators
    * can tune without a metadata commit.
    */
  private def maybeAutoCompact(metadata: graft.delta.Metadata,
      touchedPartitions: Set[Map[String, String]]): Unit = {
    val on = metadata.configuration
      .get(DeltaTable.AUTO_COMPACT_KEY).exists(_.equalsIgnoreCase("true"))
    if (!on || RowTracking.enabled(metadata)) return
    // best-effort (delta-spark semantics): the triggering write already
    // committed, so losing the OPTIMIZE version race to a concurrent
    // writer — or any IO error here — must not surface as a failed
    // append (a caller retrying the "failed" append would duplicate data)
    try {
      val minN = spark.conf.getOption("spark.graft.autoCompact.minNumFiles")
        .map(_.toInt).getOrElse(50)
      val target = spark.conf
        .getOption("spark.graft.autoCompact.targetFileBytes")
        .map(_.toLong).getOrElse(0L)
      autoCompact(minN, target, Some(touchedPartitions))
    } catch { case e: Exception =>
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"auto-compact after commit failed (best-effort): $e")
    }
  }

  private def optimizeRewrite(snap: Snapshot,
      layout: DataFrame => DataFrame,
      params: Map[String, String],
      subset: Option[Seq[AddFile]] = None): Long = {
    writerGate(snap, mutating = false)
    val rtEnabled = RowTracking.enabled(snap.metadata)
    val matCols = RowTracking.materializedCols(snap.metadata)
    require(!rtEnabled || matCols.isDefined,
      "OPTIMIZE on a row-tracking table requires the materialized " +
        s"row-id column names (${RowTracking.MAT_ROW_ID_KEY}) in the " +
        "table configuration")
    val existing =
      subset.getOrElse(
        new DeltaScan(snap, None).collectAddFiles(slim = true))
    if (existing.isEmpty) return snap.version
    // row tracking: read the ORIGINAL row ids alongside the data and
    // write them into the staged files under the materialized column
    // names — readers prefer the materialized value over
    // baseRowId + row_index, so ids survive the rewrite (the protocol's
    // stability contract for dataChange=false rewrites)
    val input =
      if (!rtEnabled) readFiles(snap, existing)
      else {
        val (idCol, vCol) = matCols.get
        new DeltaScan(snap, None).toDFWithRowIds(existing)
          .withColumnRenamed("_row_id", idCol)
          .withColumnRenamed("_row_commit_version", vCol)
      }
    val passthrough =
      if (rtEnabled) matCols.toSeq.flatMap(c => Seq(c._1, c._2)) else Nil
    // Clustered/z-ordered staging passes over the input TWICE (range-
    // boundary sampling or percentile aggregation, then the shuffled
    // write), and the input here is the expensive assembled read (DV
    // masks, row-id materialization). Cache it across the two passes
    // when the candidate set is modest — the add sizes make the gate
    // exact, and a 100 TB rewrite stays streaming rather than
    // duplicating the table onto executor disks.
    val clustered = Clustering.columns(snap).nonEmpty
    val cacheInput = clustered && existing.map(_.size).sum <=
      spark.conf.getOption(DeltaTable.OPTIMIZE_CACHE_INPUT_KEY)
        .map(_.toLong).getOrElse(32L << 30)
    if (cacheInput)
      input.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val staged0 =
      try stageFiles(layout(input), snap, passthrough)
      finally if (cacheInput) { input.unpersist(false); () }
    // fresh default ids for the new files + an advanced high-water mark
    // (adds still REQUIRE baseRowId per protocol; the materialized
    // columns override them row-by-row on read)
    val (staged, domains) = assignRowIds(snap, staged0)
    // concurrent appends rebase past a pure compaction (their files are
    // never among those compacted); a row-tracking OPTIMIZE carries the
    // high-water mark and so stays fail-fast
    commit(Some(snap), "OPTIMIZE", params,
      Actions(domains = domains,
        removes = existing.map(tombstone(_, dataChange = false)),
        adds = staged.map(_.copy(dataChange = false))),
      Maintenance)
  }

  /** Rename logical columns to physical names + field ids for writing
    * (struct casts rename nested fields positionally; identity when
    * column mapping is off).
    */
  private def physicalProjection(df: DataFrame, snap: Snapshot,
      passthrough: Seq[String]): DataFrame = {
    val physSchema = ColumnMapping.physicalSchema(snap.schema)
    df.select(
      snap.schema.fields.zip(physSchema.fields).map { case (lf, pf) =>
        (lf.dataType match {
          case _: org.apache.spark.sql.types.StructType |
               _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType =>
            ColumnMapping.qcol(lf.name).cast(pf.dataType)
          case _ => ColumnMapping.qcol(lf.name)
        }).as(pf.name, pf.metadata)
      } ++ passthrough.map(ColumnMapping.qcol): _*)
  }

  /** Stage CDF `_change_data` files for change-typed row sets (logical
    * table columns plus `_change_type`, as [[changeImages]] builds
    * them), written with physical names + a physical `_change_type`
    * column, partitioned like the table (and [[rebalanced]] when asked,
    * as MERGE's data write is), as ONE write: a MERGE's images and
    * inserts share one write and one file per partition value. cdc
    * files legally mix change types — `_change_type` is a physical
    * data column, never per-file metadata. A commit carrying cdc
    * actions is read ONLY through them (reference
    * table_changes/log_replay.rs classification), which is what makes
    * partial file rewrites CDF-correct.
    */
  private def stageCdcMulti(parts: Seq[DataFrame], snap: Snapshot,
      rebalance: Boolean = false): Seq[AddCDCFile] = {
    if (parts.isEmpty) return Nil
    val physPartCols = snap.partitionColumns.map(c =>
      ColumnMapping.physicalName(snap.schema.fields.find(_.name == c).get))
    val stagePath = new Path(new Path(root, "_change_data"),
      "cdc-" + UUID.randomUUID().toString.substring(0, 8))
    val renamed = parts
      .map(physicalProjection(_, snap, Seq(TableChanges.CHANGE_TYPE)))
      .reduce(_.unionByName(_))
    val writer = (if (rebalance) rebalanced(renamed, physPartCols)
      else renamed).write.mode("overwrite")
    DeltaTable.ScopedSessionConf.withConfs(spark, writeConfs(snap)) {
      (if (physPartCols.nonEmpty) writer.partitionBy(physPartCols: _*)
       else writer).parquet(stagePath.toString)
    }
    val success = new Path(stagePath, "_SUCCESS")
    if (fs.exists(success)) fs.delete(success, false)
    Storage.listFilesRecursive(fs, stagePath)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val rel = st.getPath.toUri.getRawPath.stripPrefix(
          fs.makeQualified(root).toUri.getRawPath).stripPrefix("/")
        val pv = PartitionValues.fromHivePath(rel)
        AddCDCFile(rel,
          physPartCols.map(c => c -> pv.getOrElse(c, null)).toMap,
          st.getLen, dataChange = false)
      }
  }

  /** Blind append (reference transaction/mod.rs add_files + commit).
    * With row tracking enabled, fresh adds receive baseRowId ranges from
    * the delta.rowTracking high-water mark and the commit carries the
    * advanced mark (reference row_tracking.rs:19-68); such commits are
    * not blind-retryable (a conflicting writer may have consumed ids).
    */
  def append(df: DataFrame, txn: Option[SetTransaction] = None,
      mergeSchema: Boolean = false,
      nullGeneratedAsOmitted: Boolean = false): Long = {
    val snap0 = snapshot()
    if (!mergeSchema)
      return appendFrom(snap0, df, txn, nullGeneratedAsOmitted)
    // writer-side schema evolution (delta-spark's `mergeSchema`): the
    // merged schema rides the validated ALTER path (column-mapping id
    // assignment, typeWidening feature), then the batch appends aligned
    // to it — old files read added columns as NULL, widened columns
    // natively
    val merged = SchemaEvolution.merge(snap0.schema, df.schema)
    val snap = if (merged == snap0.schema) snap0
      else { alterSchema(merged); snapshot() }
    appendFrom(snap, alignTo(df, snap.schema), txn, nullGeneratedAsOmitted)
  }

  /** Schema enforcement: a write carrying columns the table does not
    * have is rejected, never silently dropped (the staging projection
    * would otherwise discard them — data loss masquerading as
    * success). `mergeSchema` is the sanctioned escape hatch.
    */
  private def enforceNoExtraColumns(df: DataFrame, snap: Snapshot): Unit = {
    val table = snap.schema.fieldNames.map(_.toLowerCase).toSet
    val extra = df.columns.filterNot(c => table.contains(c.toLowerCase))
    require(extra.isEmpty, s"schema mismatch: column(s) " +
      s"${extra.mkString(", ")} do not exist in the table " +
      "(set mergeSchema to evolve the schema)")
  }

  /** Project `df` onto `schema`: case-insensitive column match, upcast
    * narrower incoming types, fill absent columns with NULL. Structs
    * rebuild BY NAME at every depth (a plain struct cast is
    * positional — after a nested evolution the incoming field order
    * can differ from the merged schema, and a positional cast would
    * silently shift values across fields); arrays/maps of structs
    * align element-wise through `transform`/`transform_values` (all
    * codegen'd built-ins, no UDFs).
    */
  private def alignTo(df: DataFrame, schema: StructType): DataFrame = {
    def alignExpr(c: Column, from: DataType, to: DataType): Column =
      (from, to) match {
        case (f, t) if f == t => c
        case (fs: StructType, ts: StructType) =>
          val inner = ts.fields.map { tf =>
            fs.fields.find(_.name.equalsIgnoreCase(tf.name)) match {
              case Some(ff) =>
                alignExpr(c.getField(ff.name), ff.dataType, tf.dataType)
                  .as(tf.name)
              case None => lit(null).cast(tf.dataType).as(tf.name)
            }
          }
          // a NULL struct stays NULL, not a struct of NULLs
          when(c.isNull, lit(null).cast(ts))
            .otherwise(struct(inner.toIndexedSeq: _*))
        case (fa: ArrayType, ta: ArrayType) =>
          transform(c, x => alignExpr(x, fa.elementType, ta.elementType))
        case (fm: MapType, tm: MapType) =>
          transform_values(c,
            (_, v) => alignExpr(v, fm.valueType, tm.valueType))
        case (_, t) => c.cast(t)
      }
    df.select(schema.fields.map { f =>
      df.schema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(c) =>
          alignExpr(col(s"`${c.name}`"), c.dataType, f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** Append against an explicit (possibly stale) snapshot — the
    * transaction seam conflict tests drive; `append` is this from the
    * latest snapshot.
    */
  private[graft] def appendFrom(snap: Snapshot, df: DataFrame,
      txn: Option[SetTransaction] = None,
      nullGeneratedAsOmitted: Boolean = false): Long = {
    writerGate(snap, mutating = false)
    // idempotent-writer skip (delta-spark's txnAppId/txnVersion): a
    // marker already at-or-past txn.version means this logical batch
    // landed — a restarted job re-running it must no-op, not duplicate.
    // The commit loop's same-slot check covers markers racing us NOW;
    // this covers markers that committed before we loaded the snapshot.
    txn.foreach { tx =>
      if (snap.setTransactions.find(_.appId == tx.appId)
          .exists(_.version >= tx.version))
        return snap.version
    }
    enforceNoExtraColumns(df, snap)
    val (dfComplete, identityCols) = IdentityColumns.assign(df, snap)
    val staged = stageFiles(dfComplete, snap,
      nullGeneratedAsOmitted = nullGeneratedAsOmitted)
    val (adds, domains) = assignRowIds(snap, staged)
    // identity marks advance from the staged stats; the commit then
    // carries the updated metadata and is no longer blind-retryable
    // (a concurrent writer may have consumed the same value range)
    val idHwms = IdentityColumns.hwmFromStats(staged, snap, identityCols)
    val idMeta = if (idHwms.isEmpty) None
      else Some(IdentityColumns.advance(snap.metadata, idHwms))
    commit(Some(snap), "WRITE", Map("mode" -> "Append"),
      Actions(metadata = idMeta, domains = domains, txns = txn.toSeq,
        adds = adds),
      Blind)
  }

  /** Replace the table's contents atomically: one commit removes every
    * live file and adds the staged replacement (mode("overwrite")
    * semantics — reference transaction/mod.rs remove+add reconciliation;
    * readers at older versions still see the old data).
    */
  def overwrite(df: DataFrame, overwriteSchema: Boolean = false,
      txn: Option[SetTransaction] = None,
      nullGeneratedAsOmitted: Boolean = false): Long = {
    val snap0 = snapshot()
    writerGate(snap0, mutating = true)
    // idempotent-writer skip — same contract as appendFrom
    txn.foreach { tx =>
      if (snap0.setTransactions.find(_.appId == tx.appId)
          .exists(_.version >= tx.version))
        return snap0.version
    }
    // `overwriteSchema`: replacing every row may also replace the
    // schema wholesale (delta-spark's writer option). Not merged —
    // REPLACED: dropped and retyped columns are fine because no old
    // data survives to be read under them. Column-mapped tables keep
    // surviving fields' physical identity via the ALTER machinery's
    // annotation rules, so this routes schema replacement through a
    // metadata commit first (old readers of old versions are
    // unaffected; time travel still resolves their schema).
    // schema replacement and data replacement must land in ONE commit:
    // a separate metadata commit would durably pair the new schema with
    // the old data files (time travel / a concurrent reader / a crash
    // between the commits would read old parquet under a retyped
    // schema). Stage against a synthetic snapshot carrying the new
    // schema, then commit metaData + removes + adds together.
    val replacing = overwriteSchema && df.schema != snap0.schema
    val newMeta = if (replacing) {
      require(ColumnMapping.mode(snap0.metadata) == "none",
        "overwriteSchema on a column-mapped table is not supported")
      require(snap0.partitionColumns.forall(df.schema.fieldNames.contains),
        s"overwriteSchema cannot drop partition columns " +
          snap0.partitionColumns.mkString("(", ",", ")"))
      Some(snap0.metadata.copy(
        schemaString = GeoTypes.toSchemaString(df.schema)))
    } else None
    val snap = newMeta.fold(snap0)(m =>
      new Snapshot(spark, snap0.tableRoot, snap0.segment, snap0.protocol, m,
        snap0.builtAsLatest))
    enforceNoExtraColumns(df, snap)
    val existing = new DeltaScan(snap0, None).collectAddFiles(slim = true)
    val stagedRaw = stageFiles(df, snap,
      nullGeneratedAsOmitted = nullGeneratedAsOmitted)
    // row-tracking tables assign fresh baseRowIds + advance the HWM on
    // EVERY data-adding commit — an overwrite without them would serve
    // null _row_ids and break row-tracking CDF (appendFrom parity)
    val (staged, domains) = assignRowIds(snap0, stagedRaw)
    // a replaced schema can INTRODUCE geo columns (e.g. a df read from
    // another geo table): the same dual-sided feature upgrade the
    // alterSchema path emits must ride this commit too, or every later
    // snapshot load fails the geo gate on an unreadable table
    val newProto =
      if (newMeta.exists(m => GeoTypes.containsGeo(df.schema)) &&
          !snap0.protocol.readerFeatures.exists(_.contains(GeoTypes.FEATURE)))
        Some(TableFeatures.upgraded(snap0.protocol,
          Seq(GeoTypes.FEATURE), Seq(GeoTypes.FEATURE)))
      else None
    commit(Some(snap0), "WRITE", Map("mode" -> "Overwrite"),
      Actions(protocol = newProto, metadata = newMeta, domains = domains,
        txns = txn.toSeq,
        removes = existing.map(tombstone(_, dataChange = true)),
        adds = staged),
      Strict)
  }

  /** DML predicates must be deterministic (delta-spark parity): the
    * DV paths evaluate the predicate in separate jobs (bitmap pass,
    * rewrite pass) and even single-pass DML re-evaluates on retry —
    * rand()/current_timestamp() would mark one row set and rewrite
    * another, silently losing or duplicating rows.
    */
  private def requireDeterministicPredicate(snap: Snapshot,
      predicateSql: String, op: String): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{
      CurrentDate, CurrentTimestamp, Now}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
    val analyzed =
      empty.filter(coalesce(expr(predicateSql), lit(false)))
        .queryExecution.analyzed
    analyzed.collectFirst { case f: LFilter => f.condition }.foreach { c =>
      val timey = c.exists {
        case _: CurrentTimestamp | _: CurrentDate | _: Now => true
        case _ => false
      }
      require(c.deterministic && !timey,
        s"$op predicate must be deterministic, got: $predicateSql")
    }
  }

  /** DELETE WHERE by rewrite: each file holding a matching row is
    * rewritten without those rows (remove+add pairs — reference
    * transaction/update.rs:188 file-granular path); every other file
    * stays, and a call matching no row commits nothing.
    */
  def deleteWhere(predicateSql: String): Long =
    dml(predicateSql, None, _ => false)

  /** UPDATE SET ... WHERE ... by rewrite: each file holding a matching
    * row is rewritten with the assignments applied (reference
    * transaction/update.rs file-granular path). With CDF enabled the
    * commit stages update_preimage / update_postimage `_change_data`
    * rows, so the feed reads row-level updates rather than delete-all +
    * insert-all.
    */
  def updateWhere(predicateSql: String, set: Map[String, String]): Long =
    dml(predicateSql, Some(set), _ => false)

  /** DELETE WHERE via deletion vectors (reference
    * transaction/update.rs:275-812): no data rewrite — matching row
    * indexes are merged into each file's bitmap, committed as
    * remove+add pairs that swap the file's DV. Upgrades the protocol to
    * table features on first use.
    */
  def deleteWhereDV(predicateSql: String): Long =
    dml(predicateSql, None, _ => true)

  /** UPDATE WHERE via deletion vectors (delta-spark's DV-based UPDATE;
    * reference transaction/update.rs — DV attach + new adds in one
    * commit): matching rows are DV-marked in their files and ONLY the
    * updated copies are written as new files. Write amplification =
    * the updated rows, not the whole matched files — the difference
    * between rewriting kilobytes and rewriting terabytes when an
    * UPDATE touches 0.1% of a 100 TB table. Untouched rows never move,
    * so their row ids and file-level stats stay put; the DV-swapped
    * add keeps its baseRowId and gets tightBounds:false stats.
    * Upgrades the protocol to deletionVectors on first use.
    */
  def updateWhereDV(predicateSql: String,
      set: Map[String, String]): Long =
    dml(predicateSql, Some(set), _ => true)

  /** SQL DELETE (`set` None) and UPDATE: `delta.enableDeletionVectors`
    * routes them through the DV arm, a rewrite otherwise (delta-spark's
    * dispatch) — decided on the snapshot the DML itself reads, so the
    * choice and the rows can never come from different versions under
    * a concurrent ALTER.
    */
  private[graft] def sqlDml(predicateSql: String,
      set: Option[Map[String, String]]): Long =
    dml(predicateSql, set, s =>
      FeatureRequirements.isEnabled(s.protocol, s.metadata, "deletionVectors"))

  /** The one predicate DELETE/UPDATE routine (DELETE is UPDATE with no
    * assignments, `set` None), in both arms:
    *  - one match aggregate over the slim stats-skipped candidates
    *    ([[DeltaScan.matchPerFile]]) names the files holding a matching
    *    row with their matched and live counts (the DV arm also takes
    *    their bitmaps); a call that matches none commits nothing and
    *    returns the current version;
    *  - the rewrite arm re-stages the matched files as their surviving
    *    rows plus the assigned copies; a DELETE without a change feed
    *    drops fully matched files unread;
    *  - the DV arm DV-marks partly matched files, drops fully matched
    *    ones, and writes only the assigned copies.
    * Both tombstone exactly the matched files. The change feed stages
    * whenever the arm writes data files; a DV DELETE writes none (its
    * feed derives from the DV swap).
    */
  private def dml(predicateSql: String, set: Option[Map[String, String]],
      useDv: Snapshot => Boolean): Long = {
    val snap = snapshot()
    val dv = useDv(snap)
    val op = if (set.isEmpty) "DELETE" else "UPDATE"
    writerGate(snap, mutating = true)
    requireDeterministicPredicate(snap, predicateSql, op)
    set.foreach { s =>
      require(s.nonEmpty, "UPDATE requires at least one assignment")
      s.keys.foreach(c => require(snap.schema.fieldNames.contains(c),
        s"no such column '$c'"))
      require(s.keys.toSet.intersect(snap.partitionColumns.toSet).isEmpty,
        "updating a partition column is not supported")
    }
    val scan = new DeltaScan(snap, Some(predicateSql))
    // slim: the match pass, the rewrite read and the tombstones need
    // path/pv/size/DV only; the DV re-adds fetch their stats by reference
    val candidates = scan.collectAddFiles(slim = true)
    if (candidates.isEmpty) return snap.version
    val cond = coalesce(expr(predicateSql), lit(false))
    val matches = DeltaScan.matchPerFile(
      scan.assemble(candidates, keepMeta = true), cond, bitmaps = dv)
      .map(m => m.key -> m).toMap
    val fileKey = GraftFileIndex.fileKeyOf(spark, root)
    val matched = candidates.flatMap(a => matches.get(fileKey(a)).map(a -> _))
    if (matched.isEmpty) return snap.version
    val matchedAdds = matched.map(_._1)
    val cdf = TableChanges.cdfEnabled(snap.metadata)
    // a DELETE's fully matched files leave no survivors: only the
    // rewrite arm's change feed reads them
    val readAdds =
      if (set.isEmpty && dv) Nil
      else if (set.isEmpty && !cdf)
        matched.collect { case (a, m) if m.matched < m.live => a }
      else matchedAdds

    val (newAdds, cdcActions) =
      if (readAdds.isEmpty) (Nil, Nil)
      else {
        // row-tracking tables: survivors keep their row ids through the
        // materialized columns; updated rows keep the id but take the
        // new add's default commit version
        val (read, rtCols) = readFilesForRewrite(snap, readAdds)
        // Spark pads each file by its open cost, so small touched files
        // read as a task each, and each task writes its own file per
        // partition value: a partitioned table reads instead in as many
        // tasks as the bytes call for, so a small rewrite writes one
        // file per value with no shuffle. Unpartitioned files keep one
        // task each, so their rewrites keep their stats ranges apart.
        // The data and change-data writes share one read
        val full =
          if (snap.partitionColumns.isEmpty) read
          else read.coalesce(readTasks(readAdds))
        if (cdf) full.persist()
        try {
          val matchedRows = full.filter(cond)
          // one projection each: the rewrite arm stages every read row —
          // a DELETE's survivors (NOT(cond) OR cond IS NULL, its 3VL
          // contract), an UPDATE's rows assigned where cond holds; the DV
          // arm stages only the assigned matched rows. stageFiles drops
          // an all-deleted rewrite's zero rows
          val staged = stageFiles(set.fold(full.filter(not(cond))) { s =>
              if (dv) assignUpdates(matchedRows, snap, Seq(None -> s), rtCols)
              else assignUpdates(full, snap, Seq(Some(cond) -> s), rtCols)
            }, snap, rtCols)
          (staged,
            if (!cdf) Nil
            else stageCdcMulti(Seq(changeImages(matchedRows, snap,
              set.toSeq.map(None -> _), lit(set.isDefined))), snap))
        } finally if (cdf) full.unpersist()
      }
    // the re-adds keep their original stats, fetched by reference as
    // the candidate collect was slim
    val partial =
      if (dv) matched.filter { case (_, m) => m.matched != m.live } else Nil
    val swapped = dvSwapAdds(partial,
      scan.statsForPaths(partial.map(_._1.path).toSet))
    val (newAddsRt, domains) = assignRowIds(snap, newAdds)
    commit(Some(snap), op, Map("predicate" -> predicateSql),
      Actions(protocol = if (dv) dvUpgrade(snap) else None, domains = domains,
        removes = matchedAdds.map(tombstone(_, dataChange = true)),
        adds = swapped ++ newAddsRt, cdc = cdcActions),
      Reads(Some(predicateSql)))
  }

  /** Spark's read split sizing for `adds` without the per-file open
    * cost: their bytes over max(openCost, bytes / parallelism), capped
    * at maxPartitionBytes per task.
    */
  private def readTasks(adds: Seq[AddFile]): Int = {
    val conf = spark.sessionState.conf
    val bytes = adds.map(_.size).sum
    val split = math.min(conf.filesMaxPartitionBytes, math.max(
      conf.filesOpenCostInBytes, bytes / spark.sparkContext.defaultParallelism))
    math.max(1L, (bytes + split - 1) / split).toInt
  }

  /** Read specific add files with partition values injected. */
  private def readFiles(snap: Snapshot, adds: Seq[AddFile]): DataFrame =
    new DeltaScan(snap, None).assemble(adds, keepMeta = false)

  /** Row-tracking DML read: the original row ids ride along RENAMED to
    * the table's materialized column names, so a rewrite stages them
    * straight through and unchanged rows keep their ids (the
    * protocol's preservation contract). Returns (frame, passthrough
    * names) — (plain read, Nil) when row tracking is off.
    */
  private def readFilesForRewrite(snap: Snapshot,
      adds: Seq[AddFile]): (DataFrame, Seq[String]) =
    RowTracking.materializedCols(snap.metadata) match {
      case Some((idCol, vCol))
          if RowTracking.enabled(snap.metadata) && adds.nonEmpty =>
        (new DeltaScan(snap, None).toDFWithRowIds(adds)
           .withColumnRenamed("_row_id", idCol)
           .withColumnRenamed("_row_commit_version", vCol),
         Seq(idCol, vCol))
      case _ => (readFiles(snap, adds), Nil)
    }

  /** Row-tracking commit invariant: EVERY add carries
    * baseRowId/defaultRowCommitVersion when the feature is enabled
    * (reference row_tracking.rs assignment). Fresh defaults; rows that
    * must keep their ids do so via the materialized columns staged into
    * the files. Returns the annotated adds + the advanced HWM domain.
    */
  private def assignRowIds(snap: Snapshot,
      adds: Seq[AddFile]): (Seq[AddFile], Seq[DomainMetadata]) =
    if (!RowTracking.enabled(snap.metadata) || adds.isEmpty) (adds, Nil)
    else {
      val (assigned, hwm) = RowTracking.assign(adds,
        RowTracking.highWaterMark(snap), snap.version + 1)
      (assigned, Seq(RowTracking.domainMetadataFor(hwm)))
    }

  /** The post-assignment row frame shared by UPDATE and MERGE: each
    * column takes the assignment of the clause whose tag holds (tags
    * are exclusive; None is unconditional — UPDATE is the single
    * untagged clause), cast to the column type; generated columns not
    * explicitly assigned are recomputed from the post-assignment row
    * (stored values are stale once a base column changes); row-tracking
    * columns keep the id, and a row some clause assigns gets a nulled
    * commit version, so it takes the new add's default version. `qual`
    * prefixes current-value references (`t.` inside MERGE's join).
    */
  private def assignUpdates(rows: DataFrame, snap: Snapshot,
      clauses: Seq[(Option[Column], Map[String, String])],
      rtCols: Seq[String], qual: String = "",
      keep: Seq[String] = Nil): DataFrame = {
    def cur(name: String): Column = col(qual + ColumnMapping.quoted(name))
    val rtUpdated: Seq[Column] = rtCols match {
      case Seq(idCol, vCol) =>
        val hit = clauses.map(_._1.getOrElse(lit(true)))
          .reduceOption(_ || _).getOrElse(lit(false))
        Seq(cur(idCol).as(idCol),
          when(hit, lit(null)).otherwise(cur(vCol)).cast("long").as(vCol))
      case _ => Nil
    }
    val assigned = rows.select(snap.schema.fields.toIndexedSeq.map { f =>
      clauses.foldLeft(cur(f.name)) { case (v, (tag, set)) =>
        set.get(f.name).fold(v) { e =>
          val x = expr(e).cast(f.dataType)
          tag.fold(x)(when(_, x).otherwise(v))
        }
      }.as(f.name, f.metadata)
    } ++ rtUpdated ++ keep.map(col): _*)
    val regen = WriteValidation.generated(snap) -- clauses.flatMap(_._2.keys)
    if (regen.isEmpty) assigned
    else assigned.select(snap.schema.fields.toIndexedSeq.map { f =>
      regen.get(f.name)
        .map(e => expr(e).cast(f.dataType).as(f.name, f.metadata))
        .getOrElse(ColumnMapping.qcol(f.name))
    } ++ (rtCols ++ keep).map(ColumnMapping.qcol): _*)
  }

  /** The change feed's images of `rows` in one projection, so a CDF
    * write reads them once: each row's pre-image (`update_preimage`
    * where `updated` holds, `delete` otherwise) and each updated row's
    * post-image under `clauses` (`update_postimage`), as the table's
    * logical columns plus `_change_type`. With no clause every row is a
    * delete, and the images are a plain projection.
    */
  private def changeImages(rows: DataFrame, snap: Snapshot,
      clauses: Seq[(Option[Column], Map[String, String])], updated: Column,
      qual: String = ""): DataFrame = {
    val fields = snap.schema.fields.toIndexedSeq
    val preCols = fields.map(f =>
      col(qual + ColumnMapping.quoted(f.name)).as(f.name))
    if (clauses.isEmpty)
      return rows.select(
        preCols :+ lit("delete").as(TableChanges.CHANGE_TYPE): _*)
    def image(cols: Seq[Column], changeType: Column): Column =
      struct(cols :+ changeType.as(TableChanges.CHANGE_TYPE): _*)
    val pre = image(preCols,
      when(updated, lit("update_preimage")).otherwise(lit("delete")))
    assignUpdates(rows.withColumn("__pre", pre).withColumn("__upd", updated),
        snap, clauses, Nil, qual, keep = Seq("__pre", "__upd"))
      .select(explode(array(col("__pre"), when(col("__upd"),
        image(fields.map(f => ColumnMapping.qcol(f.name)),
          lit("update_postimage"))))).as("__img"))
      .filter(col("__img").isNotNull)
      .select(col("__img.*"))
  }

  /** The DV-swap re-adds, built once for every DV writer: each partly
    * matched file's new bitmap merges with its existing DV at BITMAP
    * level (assemble already excluded old-DV rows, so cardinalities
    * simply add); small bitmaps inline into the log line and larger ones
    * pack into one deletion_vector file. The re-add keeps the file's
    * original stats (`statsOf` by add path, else the add's own) flagged
    * tightBounds:false: stats on a DV-carrying add describe the
    * PHYSICAL file (protocol contract — external readers may otherwise
    * do metadata-only aggregates over dead rows).
    */
  private def dvSwapAdds(partialFiles: Seq[(AddFile, FileMatch)],
      statsOf: Map[String, String]): Seq[AddFile] = {
    val conf = hconf
    val merged: Seq[(String, Array[Byte], Long)] = partialFiles.map {
      case (a, m) =>
        a.deletionVector match {
          case Some(old) =>
            val oldBytes = DeletionVectors.readBitmapBytes(old, root, conf)
            (a.path, DeletionVectors.orBitmaps(oldBytes, m.bitmap),
              old.cardinality + m.matched)
          case None => (a.path, m.bitmap, m.matched)
        }
    }
    val (inlineSized, fileSized) = merged.partition {
      case (_, bytes, _) =>
        bytes.length + 4 <= DeletionVectors.INLINE_MAX_BYTES
    }
    val descs = inlineSized.map { case (p, bytes, card) =>
      p -> DeletionVectors.inlineDescriptor(bytes, card)
    }.toMap ++
      (if (fileSized.isEmpty) Map.empty[String, DeletionVectorDescriptor]
       else DeletionVectors.writeBitmaps(fileSized, root, conf))
    partialFiles.map { case (a, _) =>
      a.copy(deletionVector = Some(descs(a.path)), dataChange = true,
        stats = statsOf.get(a.path).orElse(a.stats)
          .map(StatsJson.markNonTight))
    }
  }

  /** A DV-swap-only commit: remove+add pairs swapping each file's
    * deletion vector (fully-dead files remove without re-add), plus the
    * first-use protocol upgrade — how
    * [[graft.delta.EqualityDeletes.commitAsDeletionVectors]]
    * materializes tree-level equality deletes into the log.
    */
  private[graft] def commitDvSwaps(snap: Snapshot, gone: Seq[AddFile],
      partialFiles: Seq[(AddFile, FileMatch)], opName: String,
      opParams: Map[String, String],
      readPredicate: Option[String]): Long =
    commit(Some(snap), opName, opParams,
      Actions(protocol = dvUpgrade(snap),
        removes = (gone ++ partialFiles.map(_._1))
          .map(tombstone(_, dataChange = true)),
        adds = dvSwapAdds(partialFiles, Map.empty)),
      Reads(readPredicate))

  /** The first-use deletionVectors protocol upgrade, None when the
    * table already declares the feature (the upgrade preserves existing
    * + legacy-implied features — reference table_features upgrade path).
    */
  private def dvUpgrade(snap: Snapshot): Option[Protocol] =
    if (snap.protocol.minReaderVersion >= 3 &&
        snap.protocol.readerFeatures.exists(_.contains("deletionVectors")))
      None
    else Some(TableFeatures.upgraded(snap.protocol,
      Seq("deletionVectors"), Seq("deletionVectors")))

  /** MERGE INTO (upsert): clauses evaluate in order per row, first
    * whose condition holds wins (Delta MERGE contract; the kernel
    * supplies the building blocks — file-granular remove+add rewrite,
    * reference transaction/mod.rs — and delta-spark defines clause
    * semantics). Spark-first shape: one match pass over target ⋈
    * source ([[DeltaScan.matchPerFile]]) names the touched files and
    * checks ambiguity; only those files are read again, left-outer
    * joined to the source to tag kept, updated and deleted rows, and
    * NOT MATCHED inserts anti-join the source against them alone.
    * Everything stays distributed and the source is free to broadcast
    * when small.
    *
    * `condSql` and clause expressions reference the target as `t` and
    * the source as `s` (NOT MATCHED BY SOURCE clauses see `t` only).
    * With CDF enabled the commit stages
    * update_preimage/update_postimage/delete/insert `_change_data`
    * rows. A target row matching multiple source rows is an error when
    * any matched clause exists (ambiguous update — Delta contract).
    * NOT MATCHED BY SOURCE clauses force a full-table candidate set
    * (every unmatched target row is potentially affected).
    */
  def merge(source: DataFrame, condSql: String,
      clauses: Seq[MergeClause]): Long =
    merge(source, condSql, clauses, schemaEvolution = false)

  /** MERGE with writer-side schema evolution (delta-spark's
    * `withSchemaEvolution()` builder flag; reference
    * kernel/src/transaction/schema_evolution.rs:784): any clause
    * assignment targeting a column absent from the table is added
    * first — nullable, typed from the same-named SOURCE column (the
    * only place a new merge column's values can come from) — via the
    * validated alterSchema commit, then the merge runs against the
    * evolved snapshot. Rows the merge does not touch read the new
    * column as NULL. The SQL surface (`MERGE ... WITH SCHEMA
    * EVOLUTION`) reaches the same alterSchema path through Spark's
    * ResolveMergeIntoSchemaEvolution + the catalog's alterTable.
    */
  def merge(source: DataFrame, condSql: String,
      clauses: Seq[MergeClause], schemaEvolution: Boolean): Long = {
    import MergeClause._
    if (schemaEvolution) {
      val cur = snapshot().schema
      val have = cur.fieldNames.toSet
      val assignedNew =
        clauses.flatMap(_.assignments.keys).distinct.filterNot(have)
      if (assignedNew.nonEmpty) {
        val srcByName = source.schema.fields.map(f => f.name -> f).toMap
        val added = assignedNew.map(n => srcByName.getOrElse(n,
          throw new IllegalArgumentException(
            s"schema evolution: assigned column '$n' exists in neither " +
              "the table nor the merge source")))
          .map(f => f.copy(nullable = true))
        alterSchema(StructType(cur.fields.toIndexedSeq ++ added))
      }
    }
    val snap = snapshot()
    writerGate(snap, mutating = true)
    require(clauses.nonEmpty, "MERGE requires at least one clause")
    val matchedClauses = clauses.filter {
      case _: MatchedUpdate | _: MatchedDelete => true
      case _ => false
    }
    val insertClauses = clauses.collect { case c: NotMatchedInsert => c }
    val bySourceClauses = clauses.filter {
      case _: NotMatchedBySourceUpdate | _: NotMatchedBySourceDelete => true
      case _ => false
    }
    clauses.flatMap(_.assignments.keys).foreach(c => require(
      snap.schema.fieldNames.contains(c), s"no such column '$c'"))

    val scan = new DeltaScan(snap, None)
    // slim: MERGE tombstones + rewrites need no stats JSON (see DELETE)
    val allAdds = scan.collectAddFiles(slim = true)
    val cond = expr(condSql)
    val cdf = TableChanges.cdfEnabled(snap.metadata)
    // the marker tells matched from unmatched target rows after the
    // left-outer join below. The match pass and the writes must all see
    // the same source rows: a source that might read differently on a
    // second run is pinned
    val src = source.withColumn(DeltaTable.MERGE_SOURCE_ROW, lit(true))
      .alias("s")
    var pinned = Seq.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { pinned :+= df.persist(); df }
    if (!MergeClause.rereadsAlike(src)) pin(src)
    try {
      // -- one match pass over every file (target ⋈ source): the files
      //    holding a matched row, each with its join-row count and the
      //    bitmap of its distinct matched rows — more join rows than
      //    bitmap members means a target row matched several source rows
      val touched: Seq[AddFile] =
        if (allAdds.isEmpty || matchedClauses.isEmpty) Nil
        else {
          val matches = DeltaScan.matchPerFile(
            scan.assemble(allAdds, keepMeta = true).alias("t")
              .join(src, cond), lit(true), bitmaps = true)
          require(matches.forall(m =>
              m.matched == DeletionVectors.cardinality(m.bitmap)),
            "MERGE: a target row matched multiple source rows with " +
              "matched clauses present (ambiguous)")
          val keys = matches.map(_.key).toSet
          val fileKey = GraftFileIndex.fileKeyOf(spark, root)
          allAdds.filter(a => keys(fileKey(a)))
        }
      // BY SOURCE clauses can hit any unmatched row anywhere → all files
      val candidates = if (bySourceClauses.nonEmpty) allAdds else touched

      // -- the one read of the candidate files: a left-outer join
      //    against the source tags every row with its first applicable
      //    clause, matched ("a") or by source ("b"), "keep" otherwise.
      //    Row-tracking tables read the candidates WITH their row ids so
      //    kept/updated rows stage them through.
      val (fullRead, rtCols) = readFilesForRewrite(snap, candidates)
      val clauseTags =
        matchedClauses.zipWithIndex.map { case (c, i) => c -> s"a$i" } ++
        bySourceClauses.zipWithIndex.map { case (c, i) => c -> s"b$i" }
      val updateTags = clauseTags.collect {
        case (_: MatchedUpdate | _: NotMatchedBySourceUpdate, t) => t }
      val deleteTags = clauseTags.collect {
        case (_: MatchedDelete | _: NotMatchedBySourceDelete, t) => t }
      val changed = updateTags ++ deleteTags
      // with the change feed on, the data and change-data writes read
      // the tagged rows and the insert rows from one materialization each
      val feedsChanges = cdf && changed.nonEmpty
      val tagged =
        if (candidates.isEmpty) None
        else Some(fullRead.alias("t").join(src, cond, "left_outer")
          .withColumn("_action",
            when(col("s." + DeltaTable.MERGE_SOURCE_ROW).isNotNull,
              clauseTag(matchedClauses, "a", "keep"))
              .otherwise(clauseTag(bySourceClauses, "b", "keep"))))
          .map(r => if (feedsChanges) pin(r) else r)
      // the clause whose tag a row carries assigns; rows no update
      // clause tagged keep their values
      val assignments = clauseTags.collect {
        case (c, t) if updateTags.contains(t) =>
          Some(col("_action") === t) -> c.assignments }
      // kept and updated rows in one projection
      val rewritten = tagged.map(r => assignUpdates(
        r.filter(!col("_action").isin(deleteTags: _*)), snap, assignments,
        rtCols, qual = "t."))

      // -- not-matched source rows → insert projections. NOT MATCHED is
      //    against the WHOLE target, and every matching target row lives
      //    in a touched file (the match pass covered every file); with
      //    no matched clause the anti-join reads the whole table.
      //    Columns no clause supplies stay ABSENT when identity/
      //    generated/default machinery fills them, NULL otherwise.
      val genCols = WriteValidation.generated(snap)
      val idCols = IdentityColumns.specs(snap.schema).map(_.name).toSet
      val antiAdds =
        if (matchedClauses.isEmpty && bySourceClauses.isEmpty) allAdds
        else candidates
      val (insertRaw, identityCols): (Option[DataFrame], Set[String]) =
        if (insertClauses.isEmpty) (None, Set.empty)
        else {
          val unmatched = (if (antiAdds.isEmpty) src
            else src.join(readFiles(snap, antiAdds).alias("t"), cond,
              "left_anti"))
            .withColumn("_action", clauseTag(insertClauses, "i", "skip"))
            .filter(col("_action") =!= "skip")
          val supplied = insertClauses.flatMap(_.values.keys).toSet
          val outFields = snap.schema.fields.toIndexedSeq.filter { f =>
            supplied.contains(f.name) ||
              !(idCols.contains(f.name) || genCols.contains(f.name) ||
                WriteValidation.defaultOf(f).isDefined)
          }
          val insCols = outFields.map { f =>
            var v: Column = lit(null).cast(f.dataType)
            insertClauses.zipWithIndex.foreach { case (c, i) =>
              if (c.values.contains(f.name))
                v = when(col("_action") === s"i$i",
                  expr(c.values(f.name)).cast(f.dataType)).otherwise(v)
            }
            v.as(f.name, f.metadata)
          }
          val (raw, idents) =
            IdentityColumns.assign(unmatched.select(insCols: _*), snap)
          // pinned with the change feed on, so the data rows and the
          // insert images carry the same generated identities and
          // defaults (current_timestamp() included)
          val prepared = WriteValidation.prepare(raw, snap)
          (Some(if (cdf) pin(prepared) else prepared), idents)
        }

      // inserts carry no materialized columns — allowMissingColumns
      // fills NULL, so inserted rows take the new add's FRESH defaults
      val newAdds = (rewritten ++ insertRaw).reduceOption(
          _.unionByName(_, allowMissingColumns = rtCols.nonEmpty))
        .fold(Seq.empty[AddFile])(stageFiles(_, snap, rtCols, rebalance = true))
      if (candidates.isEmpty && newAdds.isEmpty) return snap.version
      val cdcActions =
        if (!cdf) Nil
        else stageCdcMulti(tagged.filter(_ => feedsChanges).map(r =>
          changeImages(r.filter(col("_action").isin(changed: _*)), snap,
            assignments, col("_action").isin(updateTags: _*), qual = "t."))
          .toSeq ++
          insertRaw.map(_.withColumn(TableChanges.CHANGE_TYPE, lit("insert"))),
          snap, rebalance = true)

      val idHwms = IdentityColumns.hwmFromStats(newAdds, snap, identityCols)
      val idMeta = if (idHwms.isEmpty) None
        else Some(IdentityColumns.advance(snap.metadata, idHwms))
      val (newAddsRt, domains) = assignRowIds(snap, newAdds)
      // MERGE reads under a join condition, not a single-table
      // predicate — no stats proof possible, so any concurrent add is
      // a conflict (predicate None keeps the check conservative)
      commit(Some(snap), "MERGE", Map("predicate" -> condSql),
        Actions(metadata = idMeta, domains = domains,
          removes = candidates.map(tombstone(_, dataChange = true)),
          adds = newAddsRt, cdc = cdcActions),
        Reads(None))
    } finally pinned.foreach(_.unpersist())
  }

  /** MERGE's first-match-wins clause tag: `prefix + i` for the first
    * clause whose condition holds (an absent condition always holds),
    * `otherwise` when none does.
    */
  private def clauseTag(clauses: Seq[MergeClause], prefix: String,
      otherwise: String): Column =
    clauses.zipWithIndex.foldRight(lit(otherwise)) { case ((c, i), rest) =>
      when(c.condition.map(expr).getOrElse(lit(true)), lit(s"$prefix$i"))
        .otherwise(rest)
    }

  // ---------------- ALTER TABLE ----------------

  /** Metadata-only commit applying a validated schema evolution
    * (reference transaction/alter_table.rs:82, schema_evolution.rs:784).
    * Old data files are read under the widened schema natively (Spark's
    * vectorized parquet reader handles int32→int64 / float→double
    * pages); added nullable columns read as NULL from old files.
    */
  def alterSchema(newSchema: StructType): Long = {
    val snap = snapshot()
    SchemaEvolution.validate(snap.schema, newSchema).foreach(msg =>
      throw new IllegalArgumentException(s"illegal schema evolution: $msg"))
    // siblings differing only in case make every later read of the table
    // ambiguous (Spark resolves column names case-insensitively)
    NestedFields.fieldsWithPaths(newSchema).map(_.map(_.name)).toSeq
      .groupBy(p => p.init :+ p.last.toLowerCase(java.util.Locale.ROOT))
      .valuesIterator.find(_.size > 1).foreach { paths =>
        throw new IllegalArgumentException("illegal schema evolution: " +
          paths.map(_.mkString(".")).mkString("columns '", "' and '", "'") +
          " differ only in case")
      }
    val schemaDiff = SchemaEvolution.diff(snap.schema, newSchema)
    val widens = schemaDiff.changed.nonEmpty
    val cmMode = ColumnMapping.mode(snap.metadata)
    // preserve column-mapping annotations on surviving fields (at any
    // nesting depth); assign fresh physical names/ids to added ones.
    // The id seed self-heals against the schema's actual max id — a
    // stale persisted maxColumnId must not collide a new id with an
    // existing field (reference schema_evolution.rs:764-783,
    // delta-spark findMaxColumnId)
    val (finalSchema, newConfig) =
      if (cmMode == "none") (newSchema, snap.metadata.configuration)
      else {
        val seed = math.max(
          snap.metadata.configuration
            .get(ColumnMapping.MAX_ID_KEY).map(_.toLong).getOrElse(0L),
          ColumnMapping.maxAssignedId(snap.schema))
        val (annotated, maxId) =
          ColumnMapping.reconcile(snap.schema, newSchema, seed)
        (annotated, snap.metadata.configuration +
          (ColumnMapping.MAX_ID_KEY -> maxId.toString))
      }
    val meta = snap.metadata.copy(
      schemaString = GeoTypes.toSchemaString(finalSchema),
      configuration = newConfig)
    // widening requires typeWidening; a geo column arriving via evolution
    // (e.g. a mergeSchema append of a field read from another geo table)
    // requires 'geospatial' in BOTH feature lists — committing the schema
    // without it would leave every later snapshot load failing validation
    val featureAdds =
      (if (widens && !snap.protocol.writerFeatures
          .exists(_.contains("typeWidening"))) Seq("typeWidening") else Nil) ++
      (if (GeoTypes.containsGeo(finalSchema) &&
          !snap.protocol.readerFeatures.exists(_.contains(GeoTypes.FEATURE)))
        Seq(GeoTypes.FEATURE) else Nil)
    // a default arriving via ALTER declares the writer-only
    // allowColumnDefaults feature at the same commit
    val writerOnlyAdds =
      if (finalSchema.json.contains(WriteValidation.DEFAULT_KEY) &&
          !TableFeatures.supportsWriterFeature(
            snap.protocol, "allowColumnDefaults"))
        Seq("allowColumnDefaults")
      else Nil
    val newProto = if (featureAdds.isEmpty && writerOnlyAdds.isEmpty) None
      else Some(TableFeatures.upgraded(snap.protocol, featureAdds,
        featureAdds ++ writerOnlyAdds))
    commit(Some(snap), "ALTER TABLE", Map(
        "operation" -> "CHANGE SCHEMA",
        "added" -> schemaDiff.added.map(_.name).mkString(","),
        "changed" -> schemaDiff.changed.map(_._1.name).mkString(",")),
      Actions(protocol = newProto, metadata = Some(meta)), Strict)
  }

  /** ALTER TABLE ADD COLUMN (nullable — required for old files). */
  def addColumn(name: String, dataType: DataType): Long =
    addColumn(Seq(name), dataType)

  /** ADD COLUMN at a nested path: `Seq("a", "b")` adds field `b`
    * inside struct column `a` (old files read it as NULL). Every
    * intermediate path step must be an existing struct — or a struct
    * nested directly under arrays/maps, matching Spark's
    * `element`/`value`-free ADD COLUMN path addressing (reference
    * schema_evolution.rs modify_field_at_path: descending through a
    * non-struct is an error, never a silent no-op).
    */
  def addColumn(path: Seq[String], dataType: DataType): Long =
    addColumn(path, dataType, None)

  /** ADD COLUMN ... FIRST / AFTER — a column-mapping-free, metadata-only
    * reorder (schema POSITION is logical; reads resolve by name/id).
    * `position` None appends at the end of its struct.
    */
  def addColumn(path: Seq[String], dataType: DataType,
      position: Option[DeltaTable.ColumnPosition]): Long = {
    require(path.nonEmpty, "empty column path")
    val snap = snapshot()
    def place(fields: Array[StructField],
        nf: StructField): Array[StructField] = position match {
      case None => fields :+ nf
      case Some(DeltaTable.First) => nf +: fields
      case Some(DeltaTable.After(ref)) =>
        val i = fields.indexWhere(_.name == ref)
        require(i >= 0,
          s"cannot add '${path.mkString(".")}' AFTER '$ref': no such " +
            "sibling column")
        (fields.take(i + 1) :+ nf) ++ fields.drop(i + 1)
    }
    alterSchema(NestedFields.modifyAt(snap.schema, path, "add",
        missing = "no struct column") { (s, leaf) =>
      // case-insensitive, like Spark's column resolution: `ID` beside
      // `id` would make every later read of the table ambiguous
      require(!s.fieldNames.exists(_.equalsIgnoreCase(leaf)),
        s"column '${path.mkString(".")}' already exists")
      StructType(place(s.fields, StructField(leaf, dataType, nullable = true)))
    })
  }

  /** ALTER COLUMN DROP NOT NULL (loosening; SET NOT NULL refuses — old
    * files cannot retroactively prove non-nullness).
    */
  def setColumnNullable(path: Seq[String], nullable: Boolean): Long = {
    require(path.nonEmpty, "empty column path")
    require(nullable,
      s"cannot SET NOT NULL on '${path.mkString(".")}': existing rows " +
        "cannot be proven non-null (drop and re-add, or rewrite)")
    alterSchema(NestedFields.modifyAt(snapshot().schema, path, "alter")(
      updateField(_, _)(_.copy(nullable = true))))
  }

  /** ALTER COLUMN SET DEFAULT sql / DROP DEFAULT (None). The default
    * is stored in the field's `CURRENT_DEFAULT` metadata (delta +
    * Spark's shared contract); writes that omit the column fill it at
    * stage time (WriteValidation.prepare). Setting one declares the
    * writer-only allowColumnDefaults feature.
    */
  def setColumnDefault(path: Seq[String], default: Option[String]): Long = {
    require(path.nonEmpty, "empty column path")
    val snap = snapshot()
    default.foreach { d =>
      // the expression must be constant-foldable NOW — a default that
      // fails to evaluate would brick every later write
      try spark.sql(s"SELECT $d").collect()
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"invalid DEFAULT expression '$d': ${e.getMessage}")
      }
    }
    alterSchema(NestedFields.modifyAt(snap.schema, path, "alter") {
      (s, leaf) => updateField(s, leaf) { f =>
        require(!f.metadata.contains(WriteValidation.GENERATION_KEY),
          s"'$leaf' is a generated column — it cannot also carry " +
            "a default")
        // only CURRENT_DEFAULT (future writes). EXISTS_DEFAULT is
        // fixed at column-add time — setting it here would make rows
        // in files that PREDATE the column retroactively read the new
        // default instead of NULL (Spark's reader fills absent
        // columns from EXISTS_DEFAULT)
        val mb = new MetadataBuilder().withMetadata(f.metadata)
        default match {
          case Some(d) => mb.putString(WriteValidation.DEFAULT_KEY, d)
          case None => mb.remove(WriteValidation.DEFAULT_KEY)
        }
        f.copy(metadata = mb.build())
      }
    })
  }

  /** ALTER TABLE ALTER COLUMN TYPE (widening only). */
  def widenColumn(name: String, to: DataType): Long =
    widenColumn(Seq(name), to)

  /** Widen a column at a nested path (same addressing as
    * [[addColumn(path:Seq[String]*]]).
    */
  def widenColumn(path: Seq[String], to: DataType): Long = {
    require(path.nonEmpty, "empty column path")
    alterSchema(NestedFields.modifyAt(snapshot().schema, path, "widen")(
      updateField(_, _)(_.copy(dataType = to))))
  }

  /** ALTER TABLE RENAME COLUMN (reference
    * kernel/src/table_features/column_mapping.rs:28-35 — physical names
    * decouple the logical schema from data files, which is exactly what
    * makes a rename metadata-only). The field keeps its column-mapping
    * id and physical name, so existing parquet — and stats JSON keyed by
    * physical name — keep serving the renamed column. Requires column
    * mapping mode `name` or `id`. A renamed top-level partition column
    * updates its LOGICAL name in `partitionColumns`; add-file
    * `partitionValues` stay keyed by the unchanged physical name.
    */
  def renameColumn(path: Seq[String], newName: String): Long = {
    require(path.nonEmpty, "empty column path")
    val snap = snapshot()
    require(ColumnMapping.mode(snap.metadata) != "none",
      "RENAME COLUMN requires column mapping (set " +
        s"'${ColumnMapping.MODE_KEY}' to 'name' or 'id' first)")
    rejectIfReferenced(snap, path, "rename")
    val finalSchema = NestedFields.modifyAt(snap.schema, path, "rename") {
      (s, leaf) => updateField(s, leaf) { f =>
        require(!s.fields.exists(x =>
            (x ne f) && x.name.equalsIgnoreCase(newName)),
          s"column '$newName' already exists")
        f.copy(name = newName)
      }
    }
    val newPartCols =
      if (path.length == 1)
        snap.partitionColumns.map(c => if (c == path.head) newName else c)
      else snap.partitionColumns
    val oldDotted = path.mkString(".")
    val newDotted = (path.init :+ newName).mkString(".")
    val newConfig = statsColumnsEdit(snap.metadata.configuration) { entry =>
      if (entry == oldDotted) Some(newDotted)
      else if (entry.startsWith(oldDotted + "."))
        Some(newDotted + entry.stripPrefix(oldDotted))
      else Some(entry)
    }
    commitSchemaOnly(snap, finalSchema, newPartCols, newConfig,
      Map("operation" -> "RENAME COLUMN",
        "from" -> oldDotted, "to" -> newDotted))
  }

  /** ALTER TABLE DROP COLUMN — metadata-only: the physical column stays
    * in existing parquet but vanishes from the logical schema. A later
    * `addColumn` with the SAME logical name gets a FRESH column-mapping
    * id + physical name (alterSchema reconcile), so dropped data never
    * resurfaces. Requires column mapping; partition / clustering
    * columns and the last field of a struct refuse.
    */
  def dropColumn(path: Seq[String]): Long = {
    require(path.nonEmpty, "empty column path")
    val snap = snapshot()
    require(ColumnMapping.mode(snap.metadata) != "none",
      "DROP COLUMN requires column mapping (set " +
        s"'${ColumnMapping.MODE_KEY}' to 'name' or 'id' first)")
    require(!(path.length == 1 && snap.partitionColumns.contains(path.head)),
      s"cannot drop partition column '${path.head}'")
    rejectIfReferenced(snap, path, "drop")
    // a clustering column is reached through struct fields only, never
    // through an array or a map
    val physPath = NestedFields.fieldsWithPaths(snap.schema).collectFirst {
      case p if NestedFields.viaStructs(p) && p.map(_.name) == path =>
        p.collect { case NestedFields.Field(f) =>
          ColumnMapping.physicalName(f) }
    }
    require(!physPath.exists(Clustering.physicalColumns(snap).contains),
      s"cannot drop clustering column '${path.mkString(".")}' — " +
        "re-cluster without it first")
    val finalSchema = NestedFields.modifyAt(snap.schema, path, "drop") {
      (s, leaf) =>
        val i = s.fieldNames.indexOf(leaf)
        require(i >= 0, s"no column '$leaf'")
        require(s.fields.length > 1,
          s"cannot drop '${path.mkString(".")}': a struct must keep " +
            "at least one column")
        StructType(s.fields.patch(i, Nil, 1))
    }
    val dotted = path.mkString(".")
    val newConfig = statsColumnsEdit(snap.metadata.configuration) { entry =>
      if (entry == dotted || entry.startsWith(dotted + ".")) None
      else Some(entry)
    }
    commitSchemaOnly(snap, finalSchema, snap.partitionColumns, newConfig,
      Map("operation" -> "DROP COLUMNS", "columns" -> dotted))
  }

  /** Refuse rename/drop of a column referenced by a CHECK constraint or
    * another column's generation expression — the stored SQL text would
    * silently break (delta-spark parity). Conservative word-boundary
    * match on the TOP-LEVEL name.
    */
  private def rejectIfReferenced(snap: Snapshot, path: Seq[String],
      op: String): Unit = {
    val word = java.util.regex.Pattern
      .compile("(?i)\\b" + java.util.regex.Pattern.quote(path.head) + "\\b")
    snap.metadata.configuration.foreach { case (k, sql) =>
      if (k.startsWith(WriteValidation.CONSTRAINT_PREFIX) &&
          word.matcher(sql).find())
        throw new IllegalArgumentException(
          s"cannot $op column '${path.mkString(".")}': referenced by " +
            s"CHECK constraint ${k.stripPrefix(
              WriteValidation.CONSTRAINT_PREFIX)} ($sql) — drop the " +
            "constraint first")
    }
    snap.schema.fields.foreach { f =>
      if (f.metadata.contains(WriteValidation.GENERATION_KEY) &&
          f.name != path.head &&
          word.matcher(
            f.metadata.getString(WriteValidation.GENERATION_KEY)).find())
        throw new IllegalArgumentException(
          s"cannot $op column '${path.mkString(".")}': referenced by " +
            s"generation expression of '${f.name}'")
    }
  }

  /** Rewrite the existing field `leaf` of `s` — the last step of every
    * ALTER editor that changes a column in place.
    */
  private def updateField(s: StructType, leaf: String)(
      f: StructField => StructField): StructType = {
    val i = s.fieldNames.indexOf(leaf)
    require(i >= 0, s"no column '$leaf'")
    StructType(s.fields.updated(i, f(s.fields(i))))
  }

  /** Map each `delta.dataSkippingStatsColumns` entry through `f`
    * (None = remove); the key disappears when the list empties.
    */
  private def statsColumnsEdit(config: Map[String, String])(
      f: String => Option[String]): Map[String, String] =
    config.get(ParquetFooterStats.STATS_COLUMNS_KEY) match {
      case None => config
      case Some(list) =>
        val edited = list.split(",").map(_.trim).filter(_.nonEmpty)
          .flatMap(e => f(e))
        if (edited.isEmpty) config - ParquetFooterStats.STATS_COLUMNS_KEY
        else config + (ParquetFooterStats.STATS_COLUMNS_KEY ->
          edited.mkString(","))
    }

  /** Metadata-only schema commit shared by RENAME/DROP COLUMN. No
    * SchemaEvolution.validate here — these are explicit non-additive
    * DDL whose legality the callers establish, and they preserve
    * column-mapping annotations by construction (fields are copied,
    * never re-annotated).
    */
  private def commitSchemaOnly(snap: Snapshot, finalSchema: StructType,
      partCols: Seq[String], config: Map[String, String],
      params: Map[String, String]): Long = {
    val meta = snap.metadata.copy(
      schemaString = GeoTypes.toSchemaString(finalSchema),
      partitionColumns = partCols,
      configuration = config)
    commit(Some(snap), "ALTER TABLE", params,
      Actions(metadata = Some(meta)), Strict)
  }

  /** ALTER TABLE SET TBLPROPERTIES (metadata-only commit). Enabling
    * in-commit timestamps mid-log also declares the feature; [[commit]]
    * records the enablement version + timestamp (reference
    * history_manager) and stamps the enabling commit with an ICT.
    */
  def setProperties(props: Map[String, String],
      operation: String = "SET TBLPROPERTIES"): Long = {
    val snap = snapshot()
    def ictOn(c: Map[String, String]) =
      c.get(DeltaTable.ICT_ENABLED_KEY).exists(_.equalsIgnoreCase("true"))
    val enablingIct =
      ictOn(props) && !ictOn(snap.metadata.configuration)
    // enabling row tracking fixes the materialized column names at the
    // SAME commit (they must exist before any rewrite materializes ids)
    val enablingRt = props.get(RowTracking.ENABLED_KEY)
        .exists(_.equalsIgnoreCase("true")) &&
      !RowTracking.enabled(snap.metadata)
    val enablingDv = props.get("delta.enableDeletionVectors")
        .exists(_.equalsIgnoreCase("true")) &&
      !FeatureRequirements.isSupported(snap.protocol, "deletionVectors")
    val rtProps =
      if (enablingRt && !snap.metadata.configuration.contains(
          RowTracking.MAT_ROW_ID_KEY))
        RowTracking.freshMaterializedNames()
      else Map.empty[String, String]
    val meta = snap.metadata.copy(
      configuration = snap.metadata.configuration ++ props ++ rtProps)
    // `delta.feature.<name>=supported` declares a feature on ALTER just
    // as it does on CREATE (delta-spark's convention)
    val explicitFeatures = props.collect {
      case (k, v) if k.startsWith("delta.feature.") &&
          v.equalsIgnoreCase("supported") =>
        k.stripPrefix("delta.feature.")
    }.toSeq.filterNot(TableFeatures.supportsWriterFeature(snap.protocol, _))
    val featureAdds =
      (if (enablingIct && !snap.protocol.writerFeatures
          .exists(_.contains("inCommitTimestamp")))
        Seq("inCommitTimestamp") else Nil) ++
      (if (enablingRt && !TableFeatures.supportsWriterFeature(
          snap.protocol, "rowTracking"))
        Seq("rowTracking", "domainMetadata") else Nil) ++
      (if (props.keys.exists(_.startsWith(WriteValidation.CONSTRAINT_PREFIX))
          && !TableFeatures.supportsWriterFeature(
            snap.protocol, "checkConstraints"))
        Seq("checkConstraints") else Nil) ++
      (if (enablingDv) Seq("deletionVectors") else Nil) ++
      explicitFeatures
    val readerAdds =
      (if (enablingDv) Seq("deletionVectors") else Nil) ++
      explicitFeatures.filter(TableFeatures.readerWriterFeatures.contains)
    val newProto =
      if (featureAdds.nonEmpty)
        Some(TableFeatures.upgraded(snap.protocol, readerAdds,
          featureAdds ++ readerAdds))
      else None
    // an ALTER whose resulting configuration enables a feature with
    // unmet dependencies must fail HERE — committing it would brick
    // every subsequent read at the snapshot gate
    FeatureRequirements.validateEnabled(newProto.getOrElse(snap.protocol),
      meta)
    commit(Some(snap), "ALTER TABLE", Map("operation" -> operation),
      Actions(protocol = newProto, metadata = Some(meta)), Strict)
  }

  /** ALTER TABLE UNSET TBLPROPERTIES: metadata-only commit removing
    * configuration keys (delta-spark parity: unknown keys are a no-op
    * with ifExists, the protocol never downgrades). The resulting
    * configuration must still satisfy feature dependencies — e.g.
    * unsetting a property a declared feature requires fails here, not
    * at the next read.
    */
  def unsetProperties(keys: Seq[String],
      operation: String = "UNSET TBLPROPERTIES"): Long = {
    val snap = snapshot()
    // structural keys whose removal silently corrupts the table:
    // materialized row-id names (ids would re-derive differently after
    // rewrites), the ICT enablement boundary (timestamp time travel
    // mis-orders), column-mapping mode/id HWM (reads lose physical
    // resolution; fresh ids could collide)
    val protectedKeys = Set(
      RowTracking.MAT_ROW_ID_KEY, RowTracking.MAT_RCV_KEY,
      DeltaTable.ICT_ENABLEMENT_VERSION_KEY,
      DeltaTable.ICT_ENABLEMENT_TIMESTAMP_KEY,
      ColumnMapping.MODE_KEY, ColumnMapping.MAX_ID_KEY)
    keys.filter(protectedKeys).foreach(k =>
      throw new IllegalArgumentException(
        s"cannot unset '$k': internal table-structure property"))
    val present = keys.filter(snap.metadata.configuration.contains)
    if (present.isEmpty) return snap.version
    val meta = snap.metadata.copy(
      configuration = snap.metadata.configuration -- present)
    FeatureRequirements.validateEnabled(snap.protocol, meta)
    commit(Some(snap), "ALTER TABLE",
      Map("operation" -> operation, "properties" -> present.mkString(",")),
      Actions(metadata = Some(meta)), Strict)
  }

  /** ALTER TABLE ADD CONSTRAINT name CHECK (sql) — delta-spark
    * semantics: the name lowercases into `delta.constraints.<name>`,
    * EXISTING rows must already satisfy the predicate (a distributed
    * violations probe that stops at the first offending row — at
    * 100 TB this is one short-circuited scan, never a collect), and
    * the commit auto-enables the checkConstraints writer feature.
    */
  def addCheckConstraint(name: String, predicateSql: String,
      preValidated: Boolean = false): Long = {
    val snap = snapshot()
    val key = WriteValidation.CONSTRAINT_PREFIX + name.toLowerCase
    require(!snap.metadata.configuration.contains(key),
      s"constraint '${name.toLowerCase}' already exists")
    // `preValidated` skips the probe when the caller already scanned
    // (Spark's analyzer validates enforced CHECKs before the catalog's
    // alterTable runs — a second full scan per DDL would double the
    // cost on a large table)
    if (!preValidated) {
      val probe = toDF.filter(
        not(coalesce(expr(predicateSql), lit(false))))
      val violation = probe.select(snap.schema.fieldNames.map(col)
        .toIndexedSeq: _*).limit(1).collect()
      if (violation.nonEmpty)
        throw new IllegalArgumentException(
          s"cannot add CHECK constraint '$name' ($predicateSql): " +
            s"existing row violates it: ${violation.head}")
    }
    setProperties(Map(key -> predicateSql), operation = "ADD CONSTRAINT")
  }

  /** ALTER TABLE DROP CONSTRAINT name: removes the stored predicate;
    * the checkConstraints feature stays declared (protocol never
    * downgrades on drop, delta-spark parity).
    */
  def dropCheckConstraint(name: String, ifExists: Boolean = false): Long = {
    val snap = snapshot()
    val key = WriteValidation.CONSTRAINT_PREFIX + name.toLowerCase
    if (!snap.metadata.configuration.contains(key)) {
      if (ifExists) return snap.version
      throw new IllegalArgumentException(
        s"no such constraint '${name.toLowerCase}' — existing: " +
          snap.metadata.configuration.keys
            .filter(_.startsWith(WriteValidation.CONSTRAINT_PREFIX))
            .map(_.stripPrefix(WriteValidation.CONSTRAINT_PREFIX))
            .mkString(", "))
    }
    unsetProperties(Seq(key), operation = "DROP CONSTRAINT")
  }

  // ---------------- checkpoint ----------------

  /** Checkpoint the current version (or `version`): a classic V1
    * checkpoint, split into multi-part files when the state is large,
    * or a V2 checkpoint under `delta.checkpointPolicy=v2`. See
    * [[writeCheckpoint]] for what every layout writes.
    */
  def checkpoint(version: Option[Long] = None): Long = {
    val snap = snapshot(version)
    // delta.checkpointPolicy=v2: every checkpoint this table writes is
    // V2-format (the policy is a table contract, not a per-call choice)
    if (TableProperties.checkpointPolicy(snap.metadata) == "v2") {
      require(version.forall(_ == snapshot().version),
        "checkpointPolicy=v2 checkpoints only the latest version")
      checkpointV2()
    } else writeCheckpoint(snap, ClassicLayout(None))
  }

  /** Multi-part V1 checkpoint: the state is split across `numParts`
    * files named `v.checkpoint.<part>.<parts>.parquet` (readers union
    * all parts — the scale path for huge file sets).
    */
  def checkpointMultipart(numParts: Int): Long = {
    require(numParts >= 1, "numParts must be positive")
    writeCheckpoint(snapshot(), ClassicLayout(Some(numParts)))
  }

  /** V2 checkpoint (reference kernel/src/checkpoint/mod.rs V2 shape +
    * actions/mod.rs:1251): file actions go to `_delta_log/_sidecars/`
    * parquet files; the top-level `v.checkpoint.<uuid>.parquet` holds
    * the non-file actions, `checkpointMetadata` and the sidecar refs.
    * With `numSidecars = 0` the file actions are inlined in the
    * top-level file.
    */
  def checkpointV2(numSidecars: Int = 2): Long = {
    // V2 checkpoints require the v2Checkpoint table feature — upgrade
    // the protocol (preserving implied legacy features) on first use
    val pre = snapshot()
    if (!pre.protocol.readerFeatures.exists(_.contains("v2Checkpoint"))) {
      val up = TableFeatures.upgraded(pre.protocol,
        Seq("v2Checkpoint"), Seq("v2Checkpoint"))
      commit(Some(pre), "UPGRADE PROTOCOL", Map.empty,
        Actions(protocol = Some(up)), Strict)
    }
    writeCheckpoint(snapshot(), V2Layout(numSidecars))
  }

  /** The one checkpoint writer (reference kernel/src/checkpoint/mod.rs,
    * action reconciliation in action_reconciliation/log_replay.rs).
    * Every layout checkpoints the same reconciled state:
    *  - file actions: live adds plus the remove tombstones still inside
    *    `delta.deletedFileRetentionDuration` (the files behind expired
    *    ones are vacuum candidates no reader may rely on), in the
    *    table's checkpoint stats shape;
    *  - non-file actions: protocol, metadata, the txns still inside
    *    `delta.setTransactionRetentionDuration`, and domain metadata
    *    (e.g. the row-tracking high-water mark — post-checkpoint
    *    snapshots replay only later commits, so dropping it would
    *    reassign baseRowIds from 0).
    * Then, once per checkpoint whatever the layout: the
    * `_last_checkpoint` hint, one `checkpoint_write` I/O event, the
    * `.crc` re-seed and expired-log cleanup.
    */
  private def writeCheckpoint(snap: Snapshot,
      layout: CheckpointLayout): Long = {
    import scala.jdk.CollectionConverters._
    val v = snap.version
    val isV2 = layout.isInstanceOf[V2Layout]
    val tombstoneCutoff = now() - tombstoneRetentionMillis(snap.metadata)
    val files = withCheckpointStatsShape(snap.latestActions
      .filter(col("add").isNotNull || unexpiredTombstone(tombstoneCutoff))
      .select(col("add"), col("remove")), snap)
    files.persist()
    val nFiles = files.count() // known before writing; no re-read after
    // delta.setTransactionRetentionDuration: expired txn idempotency
    // markers drop out at reconciliation (reference
    // SetTransaction::is_expired, actions/mod.rs:1055-1068 — a None
    // lastUpdated or no configured retention never expires)
    val txnCutoff = TableProperties
      .setTransactionRetentionMillis(snap.metadata).map(now() - _)
    val nonFile: Seq[SingleAction] =
      Seq(SingleAction(protocol = Some(snap.protocol)),
        SingleAction(metaData = Some(snap.metadata))) ++
      (if (isV2) Seq(SingleAction(checkpointMetadata =
        Some(CheckpointMetadata(v)))) else Nil) ++
      snap.setTransactions
        .filterNot(t => txnCutoff.exists(c => t.lastUpdated.exists(_ <= c)))
        .map(t => SingleAction(txn = Some(t))) ++
      snap.domainMetadatas.map(d => SingleAction(domainMetadata = Some(d)))
    // the layout's schema with the file actions' shaped add/remove
    // types, so non-file rows and file rows union column for column
    val schema = StructType(
      (if (isV2) LogSchema.v2Checkpoint else LogSchema.checkpoint).fields
        .map(f => if (files.columns.contains(f.name)) files.schema(f.name)
          else f))
    def rowsDF(actions: Seq[SingleAction]): DataFrame =
      spark.createDataFrame(
        actions.map(checkpointRow(_, schema.size)).asJava, schema)
    def withFiles(df: DataFrame): DataFrame =
      df.unionByName(files, allowMissingColumns = true)

    val (written, hint) = layout match {
      case ClassicLayout(requested) =>
        val size = nonFile.size + nFiles
        // Route large states to protocol-standard V1 MULTIPART parts
        // automatically: a single-file checkpoint caps every future
        // replay's read parallelism at its row-group count (a 1M-add
        // state is ~200 MB ⇒ 2 row groups ⇒ a 32-core replay running
        // on 2). Parts of ~100k actions keep the checkpoint arm
        // embarrassingly parallel at any scale.
        val parts = requested.orElse(
          if (size <= 2L * CHECKPOINT_ACTIONS_PER_PART) None
          else Some(math.ceil(size.toDouble / CHECKPOINT_ACTIONS_PER_PART)
            .toInt))
        val state = withFiles(rowsDF(nonFile))
        parts match {
          case None =>
            val out = writeCheckpointFiles(state.coalesce(1), logDir)(
              (_, _) => FileNames.classicCheckpointFile(logDir, v).getName)
            (out, s"""{"version":$v,"size":$size}""")
          case Some(n) =>
            val out = writeCheckpointFiles(state.repartition(n), logDir)(
              (i, k) => f"$v%020d.checkpoint.${i + 1}%010d.$k%010d.parquet")
            (out, s"""{"version":$v,"size":$size,"parts":${out.size}}""")
        }
      case V2Layout(numSidecars) =>
        val uuid = UUID.randomUUID().toString
        val scOut =
          if (numSidecars <= 0) Nil
          else writeCheckpointFiles(files.repartition(numSidecars),
            new Path(logDir, "_sidecars"))((i, _) => s"$uuid-$i.parquet")
        val sidecars = scOut.map(st => Sidecar(st.getPath.getName,
          st.getLen, st.getModificationTime))
        val head =
          nonFile ++ sidecars.map(sc => SingleAction(sidecar = Some(sc)))
        val top = writeCheckpointFiles(
          (if (sidecars.isEmpty) withFiles(rowsDF(head))
           else rowsDF(head)).coalesce(1), logDir)(
          (_, _) => f"$v%020d.checkpoint.$uuid.parquet").head
        // Enriched hint (reference last_checkpoint_hint.rs #2777): embed
        // the v2Checkpoint identity + sidecar refs + non-file actions so
        // readers can skip opening the top-level checkpoint file
        // entirely. Oversized lists are OMITTED whole (the read side
        // would drop them anyway) — the hint stays bounded no matter
        // the table.
        def bounded(key: String, items: Seq[String]): String =
          if (items.size > 30) ""
          else items.mkString(s""""$key":[""", ",", "],")
        val v2Obj = "{" +
          bounded("sidecarFiles", sidecars.map(JsonLog.writeSidecar)) +
          bounded("nonFileActions", nonFile.map(JsonLog.writeAction)) +
          s""""path":"${top.getPath.getName}",""" +
          s""""sizeInBytes":${top.getLen},""" +
          s""""modificationTime":${top.getModificationTime}}"""
        (top +: scOut,
          s"""{"version":$v,"size":${nFiles + head.size},""" +
            s""""sizeInBytes":${top.getLen},"v2Checkpoint":$v2Obj}""")
    }
    Storage.put(fs, new Path(logDir, FileNames.LAST_CHECKPOINT), hint)
    Metrics.report(MetricEvent.IoBytes(Metrics.newId(),
      "checkpoint_write", written.size.toLong, written.map(_.getLen).sum))

    // the state holds every live add — re-seed the .crc chain with
    // EXACT totals + file-size histogram (recovers a chain broken by a
    // missing/histogram-less crc); one 95-row aggregate
    try {
      val binB = FileSizeHistogram.DefaultBinBoundaries
      val binOf = udf((s: Long) => FileSizeHistogram.empty.binOf(s))
      val rows = files.filter(col("add").isNotNull)
        .select(col("add.size").as("sz"))
        .groupBy(binOf(col("sz")).as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("sz")).as("bytes"))
        .collect()
      val fc = new Array[Long](binB.length)
      val tb = new Array[Long](binB.length)
      rows.foreach { r =>
        fc(r.getAs[Int]("bin")) = r.getAs[Long]("n")
        tb(r.getAs[Int]("bin")) = r.getAs[Long]("bytes")
      }
      Checksum.write(fs, logDir, v, Checksum.VersionChecksum(
        tb.sum, fc.sum, snap.protocol, snap.metadata,
        Some(FileSizeHistogram(binB, fc, tb))))
    } catch { case _: Exception => () }
    files.unpersist()
    // log files the new checkpoint supersedes expire after the
    // retention window (delta's operational behavior on checkpoint;
    // best-effort — failures never fail the checkpoint). Catalog-managed
    // logs are the catalog's to garbage-collect, never touched here.
    if (!committer.isCatalogCommitter &&
        !snap.metadata.configuration.get("delta.enableExpiredLogCleanup")
          .exists(_.equalsIgnoreCase("false")))
      try cleanupExpiredLogs(v, snap.metadata)
      catch { case e: Exception =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"expired-log cleanup after checkpoint failed: $e") }
    v
  }

  /** Write `df` as checkpoint parquet (small row groups keep every file
    * split-friendly on the read side) into a temp dir under `dir`, then
    * rename the part files, in name order, to `name(i, count)` in `dir`
    * and drop the temp dir. An empty partition writes no file, so
    * `count` is the number of files actually written. Returns the
    * final files' statuses.
    */
  private def writeCheckpointFiles(df: DataFrame, dir: Path)(
      name: (Int, Int) => String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val tmp = new Path(dir, s".ckpt-tmp-${UUID.randomUUID()}")
    df.write.mode("overwrite")
      .option("parquet.block.size", CHECKPOINT_ROW_GROUP_BYTES)
      .parquet(tmp.toString)
    val parts = Storage.listFilesRecursive(fs, tmp)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val out = parts.zipWithIndex.map { case (st, i) =>
      val dest = new Path(dir, name(i, parts.size))
      if (fs.exists(dest)) fs.delete(dest, false)
      fs.rename(st.getPath, dest)
      fs.getFileStatus(dest)
    }
    fs.delete(tmp, true)
    out
  }

  /** One non-file checkpoint action as a row of the first `width`
    * columns of [[LogSchema.v2Checkpoint]] (the classic schema is its
    * 6-column prefix); add/remove stay null — file actions ride their
    * own frame.
    */
  private def checkpointRow(a: SingleAction,
      width: Int): org.apache.spark.sql.Row = {
    import org.apache.spark.sql.Row
    Row.fromSeq(Seq(
      a.txn.map(t => Row(t.appId, t.version,
        t.lastUpdated.map(Long.box).orNull)).orNull,
      null, null,
      a.metaData.map(m => Row(m.id, m.name.orNull, m.description.orNull,
        Row(m.format.provider, m.format.options), m.schemaString,
        m.partitionColumns, m.configuration,
        m.createdTime.map(Long.box).orNull)).orNull,
      a.protocol.map(p => Row(p.minReaderVersion, p.minWriterVersion,
        p.readerFeatures.orNull, p.writerFeatures.orNull)).orNull,
      a.domainMetadata.map(d =>
        Row(d.domain, d.configuration, d.removed)).orNull,
      a.sidecar.map(sc => Row(sc.path, sc.sizeInBytes,
        sc.modificationTime, sc.tags.orNull)).orNull,
      a.checkpointMetadata.map(c => Row(c.version, c.tags.orNull)).orNull)
      .take(width))
  }

  /** Delete log files strictly below `ckptVersion` whose modification
    * time fell past `delta.logRetentionDuration` (default 30 days) —
    * they are fully covered by the checkpoint, and keeping them forever
    * grows `_delta_log` without bound (10⁶ commits = 10⁶ driver-listed
    * objects at snapshot time; the listing, not the data, becomes the
    * scale ceiling). Time travel below the horizon is the documented
    * trade. V2 sidecar files are left alone: orphans are inert, and a
    * manifest may be shared by a checkpoint that survives.
    */
  private def cleanupExpiredLogs(ckptVersion: Long,
      m: graft.delta.Metadata): Unit = {
    val retention = m.configuration.get("delta.logRetentionDuration")
      .flatMap(TableProperties.parseInterval)
      .getOrElse(30L * 86400000)
    val cutoff = now() - retention
    val crcRe = raw"(\d{20})\.crc".r
    Storage.listSorted(fs, logDir).foreach { st =>
      val deletable = FileNames.parse(st) match {
        case Some(FileNames.CommitFile(ver, _, _)) => ver < ckptVersion
        case Some(FileNames.CheckpointFile(ver, _, _, _, _, _)) =>
          ver < ckptVersion
        case Some(FileNames.CompactedFile(_, hi, _, _)) => hi < ckptVersion
        case None => st.getPath.getName match {
          case crcRe(ver) => ver.toLong < ckptVersion
          case _ => false
        }
      }
      if (deletable && st.getModificationTime < cutoff)
        fs.delete(st.getPath, false)
    }
  }

  /** Post-commit hook: when `delta.checkpointInterval` is set (> 0),
    * checkpoint every Nth version automatically (then expire old log
    * files, see [[checkpoint]]). Best-effort like auto-compact: the
    * triggering commit already succeeded, so nothing here may throw.
    * The reference keeps checkpointing an explicit API; the interval
    * property opts a long-lived table into delta's operational
    * behavior, without which replay cost grows without bound.
    */
  private def maybeAutoCheckpoint(v: Long,
      m: graft.delta.Metadata): Unit = {
    val interval = m.configuration.get("delta.checkpointInterval")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).getOrElse(0)
    if (interval <= 0 || v <= 0 || v % interval != 0) return
    try checkpoint(Some(v))
    catch { case e: Exception =>
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"auto-checkpoint at version $v failed (best-effort): $e")
    }
  }

  /** `delta.deletedFileRetentionDuration` in millis (default 1 week). */
  private def tombstoneRetentionMillis(m: graft.delta.Metadata): Long =
    m.configuration.get("delta.deletedFileRetentionDuration")
      .flatMap(TableProperties.parseInterval)
      .getOrElse(7L * 24 * 3600 * 1000)

  /** A remove tombstone still inside the retention window that ends at
    * `cutoff`: checkpoints keep it and vacuum protects its files. A
    * missing deletionTimestamp counts as 0 = already expired (reference
    * action reconciliation; keeping such tombstones forever would grow
    * checkpoints without bound on logs from engines omitting the field).
    */
  private def unexpiredTombstone(cutoff: Long): Column =
    coalesce(col("remove.deletionTimestamp"), lit(0L)) >= cutoff

  /** Apply the table's checkpoint stats contract
    * (delta.checkpoint.writeStatsAsJson / writeStatsAsStruct): extend
    * `add` with the typed `stats_parsed` struct, and/or strip the JSON
    * `stats` string. Disabling both would leave readers statless (no
    * skipping, no numRecords) — refused.
    */
  private def withCheckpointStatsShape(state: DataFrame,
      snap: Snapshot): DataFrame = {
    val asJson = TableProperties.writeStatsAsJson(snap.metadata)
    val asStruct = TableProperties.writeStatsAsStruct(snap.metadata)
    require(asJson || asStruct,
      s"${TableProperties.WRITE_STATS_AS_JSON}=false requires " +
        s"${TableProperties.WRITE_STATS_AS_STRUCT}=true — a checkpoint " +
        "with neither stats form strips skipping stats and numRecords")
    if (asJson && !asStruct) return state // default shape
    val withStruct =
      if (!asStruct) state
      else {
        val s1 = state.withColumn("add",
          col("add").withField("stats_parsed",
            from_json(col("add.stats"), snap.statsParsedSchema)))
        // struct-stats checkpoints also carry the TYPED partition
        // tuple (reference checkpoint_transform.rs:104-116 —
        // `partitionValues_parsed` reconstructs via MAP_TO_STRUCT),
        // under physical names like stats_parsed; readers without the
        // column are unaffected, readers with it skip re-parsing the
        // protocol's partition-value string rules per file
        val parts = snap.partitionColumns
        if (parts.isEmpty) s1
        else {
          val fields = parts.map { c =>
            val f = snap.schema.fields.find(_.name == c).get
            val phys = ColumnMapping.physicalName(f)
            PartitionValues.castExpr("add.partitionValues", phys,
              f.dataType).as(phys)
          }
          s1.withColumn("add", col("add")
            .withField("partitionValues_parsed", struct(fields: _*)))
        }
      }
    if (asJson) withStruct
    else withStruct.withColumn("add", col("add").dropFields("stats"))
  }

  /** RESTORE TABLE TO VERSION: one commit re-adding the target
    * version's file set and tombstoning everything newer — pure log
    * arithmetic, no data movement (files must still exist, i.e. not
    * vacuumed). Also restores the target's metadata when it differs.
    */
  def restore(version: Long): Long = {
    val snap = snapshot()
    require(version <= snap.version,
      s"cannot restore to future version $version (latest ${snap.version})")
    if (version == snap.version) return snap.version
    writerGate(snap, mutating = true)
    val target = snapshot(Some(version))
    def key(a: AddFile) = Snapshot.fileKey(a.path, a.deletionVector)
    // current files only become TOMBSTONES — slim; the target's adds
    // re-enter the log verbatim, so only THAT side carries stats.
    // Contract reason the wanted side stays FULL (audited r13): every
    // collected add becomes a re-add JSON line of this commit, stats
    // included — the driver-side list IS the commit payload, so its
    // size is bounded by the commit being written, not by waste;
    // streaming it would need an iterator-shaped commit writer.
    val current = new DeltaScan(snap, None).collectAddFiles(slim = true)
      .map(a => key(a) -> a).toMap
    val wanted = new DeltaScan(target, None).collectAddFiles()
      .map(a => key(a) -> a).toMap
    val removes = (current.keySet -- wanted.keySet).toSeq.sorted
      .map(k => tombstone(current(k), dataChange = true))
    val adds = (wanted.keySet -- current.keySet).toSeq.sorted
      .map(k => wanted(k).copy(dataChange = true))
    val meta =
      if (target.metadata.schemaString == snap.metadata.schemaString &&
          target.metadata.configuration == snap.metadata.configuration) None
      else Some(target.metadata)
    commit(Some(snap), "RESTORE", Map("version" -> version.toString),
      Actions(metadata = meta, removes = removes, adds = adds), Strict)
  }

  /** SHALLOW CLONE: a new table at `targetPath` whose version-0 commit
    * re-adds THIS snapshot's live files by absolute URI — zero bytes
    * copied, reads served straight from the source's data files
    * (delta-spark's CREATE TABLE ... SHALLOW CLONE; the protocol's
    * absolute-path add form). Relative-UUID deletion vectors are
    * re-addressed as absolute ('p') descriptors so they keep resolving
    * from the clone. Protocol, schema, table configuration, and domain
    * metadata (clustering, row-tracking marks) carry over; the clone
    * then evolves independently — its DML lands under its own root,
    * and vacuum only lists the clone's directory, so the source's
    * files are structurally out of reach.
    */
  def cloneShallow(targetPath: String): Long = {
    val snap = snapshot()
    require(!DeltaTable.isDeltaTable(spark, targetPath),
      s"clone target is already a delta table: $targetPath")
    val srcRootQ = fs.makeQualified(root)
    val srcUri = srcRootQ.toUri.toString.stripSuffix("/")
    // full collect by contract (audited r13): every add here becomes a
    // re-add line of the clone's version-0 commit, stats preserved —
    // the list is the commit payload itself (same reason as RESTORE)
    val adds = new DeltaScan(snap, None).collectAddFiles().map { a =>
      val dv = a.deletionVector.map { d =>
        d.storageType match {
          case "u" =>
            val rel = DeletionVectors.relativePath(d.pathOrInlineDv)
            d.copy(storageType = "p",
              pathOrInlineDv = new Path(srcRootQ, rel).toString)
          case _ => d // "p" is already absolute; "i" is inline bytes
        }
      }
      // a source that is ITSELF a shallow clone already carries
      // absolute-URI paths — prefixing those again would produce an
      // unreadable 'file:/tgt/file:/orig/...' second-generation clone
      val abs = if (Storage.isAbsoluteUri(Storage.decodeUriPath(a.path)))
        a.path else srcUri + "/" + a.path
      a.copy(path = abs, deletionVector = dv, dataChange = true)
    }
    val meta = snap.metadata.copy(id = UUID.randomUUID().toString,
      createdTime = Some(now()))
    new DeltaTable(spark, targetPath, None, None, correlationId)
      .commit(None, "CLONE",
        Map("source" -> pathStr, "sourceVersion" -> snap.version.toString),
        Actions(protocol = Some(snap.protocol), metadata = Some(meta),
          domains = snap.domainMetadatas.filterNot(_.removed), adds = adds),
        Strict)
  }

  // ---------------- vacuum ----------------

  /** Delete the files the log no longer references (the Delta Lake
    * paper's VACUUM): every file under the table root outside
    * `_delta_log`, not hidden, older than the retention cutoff, and named
    * by neither a live add nor a remove whose tombstone is still inside
    * the retention window (CDF readers within retention resolve those).
    * An action names its data file and its DV file, resolved by
    * [[Storage.actionFiles]] exactly as the reader resolves them, and
    * both sides compare as qualified paths — an add naming its file by
    * an absolute URI is as live as a relative one. Returns the deleted
    * (or, with `dryRun = true`, would-be deleted) table-relative paths.
    *
    * Scale: gated on [[Snapshot.smallState]], like the scan handoff.
    * Small tables take the difference as Scala sets on the driver (one
    * listing, no Spark jobs). Past the gate it is an anti-join: the kept
    * files stay a Dataset, the listing walks one subtree per task, and
    * the deletes run on executors, so the driver never holds the file
    * list. `graft.replay.driverMaxBytes=0` forces the wide arm.
    */
  def vacuum(dryRun: Boolean = false): Seq[String] = {
    val snap = snapshot()
    val cutoff = now() - tombstoneRetentionMillis(snap.metadata)
    val qroot = fs.makeQualified(root)
    val kept = Seq(
      new DeltaScan(snap, None).filesDF
        .select(col("add.path"), col("add.deletionVector")),
      snap.latestActions
        .filter(col("remove").isNotNull && unexpiredTombstone(cutoff))
        .select(col("remove.path"), col("remove.deletionVector")))
    val files = DeltaTable.namedFiles(qroot.toString) _
    val vacuumable = DeltaTable.vacuumable(cutoff) _
    // (relative path, length) of every dead file
    val deleted: Seq[(String, Long)] =
      if (snap.smallState) {
        val keep = kept.flatMap(_.collect()).flatMap(files).toSet
        val dead = listTableDriver(qroot)
          .filter(r => vacuumable(r) && !keep(r._1))
        if (!dryRun) dead.foreach(r => fs.delete(new Path(r._1), false))
        dead.map(r => (r._2, r._4))
      } else {
        import spark.implicits._
        val keep = kept.reduce(_ union _).flatMap(files).toDF("path")
        val bconf = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(hconf))
        val dead = listTableDistributed(qroot, bconf).filter(vacuumable)
          .toDF("path", "rel", "mtime", "len")
          .join(keep, Seq("path"), "left_anti")
          .select("path", "rel", "len").as[(String, String, Long)]
        val out = (if (dryRun) dead else dead.mapPartitions { it =>
          // executor-local FS clients; re-deleting a gone file in a
          // retried task is a no-op
          val conf = bconf.value.value
          it.map { r =>
            val p = new Path(r._1)
            p.getFileSystem(conf).delete(p, false)
            r
          }
        }).map(r => (r._2, r._3)).collect().toSeq
        bconf.destroy()
        out
      }
    if (!dryRun)
      // reclaimed bytes — the gauge that says whether vacuums keep up
      // with write amplification
      Metrics.report(MetricEvent.IoBytes(Metrics.newId(), "vacuum_delete",
        deleted.size.toLong, deleted.map(_._2).sum))
    deleted.map(_._1)
  }

  /** Every file under the table root outside `_delta_log`, as
    * [[DeltaTable.listingRow]]s, listed on the driver.
    */
  private def listTableDriver(qroot: Path): Seq[DeltaTable.ListingRow] = {
    val (dirs, top) = listTopLevel(qroot)
    top ++ DeltaTable.walk(qroot.toString, dirs.iterator, hconf)
  }

  /** [[listTableDriver]] for the wide arms: the driver lists the top
    * level and each subdirectory is walked by a task with an
    * executor-local FS client from `bconf`.
    */
  private def listTableDistributed(qroot: Path,
      bconf: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.SerializableConfiguration])
      : org.apache.spark.sql.Dataset[DeltaTable.ListingRow] = {
    import spark.implicits._
    val (dirs, top) = listTopLevel(qroot)
    val rootStr = qroot.toString
    val fromDirs =
      if (dirs.isEmpty) spark.emptyDataset[DeltaTable.ListingRow]
      else spark.sparkContext.parallelize(dirs, math.min(dirs.size, 256))
        .mapPartitions(it => DeltaTable.walk(rootStr, it, bconf.value.value))
        .toDS()
    fromDirs.union(top.toDS())
  }

  /** The root's subdirectories other than `_delta_log`, and the listing
    * rows of its top-level files.
    */
  private def listTopLevel(qroot: Path)
      : (Seq[String], Seq[DeltaTable.ListingRow]) = {
    val (dirs, files) = fs.listStatus(qroot).toSeq.partition(_.isDirectory)
    (dirs.map(_.getPath).filterNot(_.getName == FileNames.LOG_DIR)
      .map(_.toString), files.map(DeltaTable.listingRow(qroot.toString)))
  }

  /** FSCK REPAIR TABLE (delta-spark parity): tombstone live add entries
    * whose data file or DV file is MISSING from storage (manually
    * deleted, external-cleaner casualties) so every later read stops
    * failing with FILE_NOT_EXIST. `dryRun` lists the broken adds' paths
    * without committing. Files are resolved by [[Storage.actionFiles]]
    * as the reader and VACUUM resolve them; those under the root are
    * judged against one listing of it, and the rare ones outside it (a
    * shallow clone's source files, external `p` DVs) are probed one by
    * one. Scale mirrors vacuum's gate: past [[Snapshot.smallState]] the
    * live adds stay a DataFrame, the listing distributes, and missing
    * files fall out of an anti-join — only the broken adds (the
    * commit's own payload) reach the driver. The repair commit carries
    * plain removes (dataChange=true): downstream CDF/streaming readers
    * crossing it see row-level deletes they cannot re-read (the bytes
    * are gone) — delta-spark's FSCK has the same boundary.
    */
  def fsckRepair(dryRun: Boolean = false): Seq[String] = {
    val snap = snapshot()
    if (!dryRun) writerGate(snap, mutating = true)
    val qroot = fs.makeQualified(root)
    val scan = new DeltaScan(snap, None)
    val inRoot = DeltaTable.underRoot(qroot.toString) _
    def exists(file: String): Boolean = {
      val p = new Path(file)
      Storage.fs(p, hconf).exists(p)
    }
    val missing: Seq[AddFile] =
      if (snap.smallState) {
        val present = listTableDriver(qroot).map(_._1).toSet
        // slim: path/partitionValues/size/deletionVector only — never
        // stats JSON (gigabytes at millions of files)
        scan.collectAddFiles(slim = true).filter(a =>
          Storage.actionFiles(qroot, a.path, a.deletionVector)
            .map(_.toString)
            .exists(f => if (inRoot(f)) !present(f) else !exists(f)))
      } else {
        import spark.implicits._
        val files = DeltaTable.namedFiles(qroot.toString) _
        val bconf = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(hconf))
        val present = listTableDistributed(qroot, bconf).map(_._1)
          .toDF("file")
        val probes = scan.filesDF
          .select(col("add.path"), col("add.deletionVector"))
          .flatMap(r => files(r).map(f => (r.getString(0), f, inRoot(f))))
          .toDF("path", "file", "inRoot")
        val goneOutside = probes.filter(!col("inRoot"))
          .select("path", "file").as[(String, String)].collect()
          .collect { case (p, f) if !exists(f) => p }
        val gone = probes.filter(col("inRoot"))
          .join(present, Seq("file"), "left_anti").select("path")
          .union(goneOutside.toSeq.toDF("path"))
        val out = scan.filesDF
          .join(gone, col("add.path") === gone("path"), "left_semi")
          .select(col("add.*")).collect().map(RowCodec.rowToAdd).toSeq
        bconf.destroy()
        out
      }
    if (dryRun || missing.isEmpty) return missing.map(_.path)
    // maintenance conflict shape: a concurrent APPEND's new files exist
    // by construction (never "missing"), so it commutes; remove/remove
    // overlap (someone else tombstoned the same file) still conflicts
    commit(Some(snap), "FSCK",
      Map("numRemovedFiles" -> missing.size.toString),
      Actions(removes = missing.map(tombstone(_, dataChange = true))),
      Maintenance)
    missing.map(_.path)
  }

  // ---------------- log compaction ----------------

  /** Write `lo.hi.compacted.json` — the range's actions reduced to their
    * newest-wins survivors (reference kernel/src/log_compaction/
    * writer.rs:140): latest P&M if present in range, latest txn per
    * appId, latest domain metadata per domain (removals included, so a
    * removal still shadows an older checkpoint row), and the latest file
    * action per (path, dvId) including remove tombstones. Readers
    * substitute it for the commit run.
    */
  def compactLog(lo: Long, hi: Long): Long = {
    require(lo <= hi, s"invalid compaction range [$lo, $hi]")
    // newest first, first seen wins: one survivor line per (rank, id),
    // the rank ordering P&M, txns, domains, then file actions
    val survivors = scala.collection.mutable.LinkedHashMap
      .empty[(Int, String), String]
    (hi to lo by -1).foreach { v =>
      val p = FileNames.commitFile(logDir, v)
      require(fs.exists(p), s"missing commit $v for compaction")
      JsonLog.readCommit(fs, p, Set("protocol", "metaData", "txn",
          "domainMetadata", "add", "remove")).foreach { case (line, a) =>
        val key =
          if (a.protocol.nonEmpty) (0, "")
          else if (a.metaData.nonEmpty) (1, "")
          else if (a.txn.nonEmpty) (2, a.txn.get.appId)
          else if (a.domainMetadata.nonEmpty) (3, a.domainMetadata.get.domain)
          else a.add.map(f => (4, Snapshot.fileKey(f.path, f.deletionVector)))
            .getOrElse((4, Snapshot.fileKey(a.remove.get.path,
              a.remove.get.deletionVector)))
        if (!survivors.contains(key)) survivors(key) = line
      }
    }
    val lines = survivors.toSeq.sortBy(_._1._1).map(_._2)
    val dest = new Path(logDir, f"$lo%020d.$hi%020d.compacted.json")
    if (!Storage.putIfAbsent(fs, dest, lines.mkString("", "\n", "\n")))
      throw new IllegalStateException(s"compacted file already exists: $dest")
    hi
  }

  /** The file-size distribution recorded in the version's `.crc`
    * checksum (reference crc/file_size_histogram.rs) — table layout
    * statistics with zero listing; None when the checksum chain has no
    * histogram at that version (run `checkpoint()` to re-seed).
    */
  def fileSizeHistogram(version: Option[Long] = None)
      : Option[FileSizeHistogram] = {
    val v = version.getOrElse(snapshot().version)
    Checksum.read(fs, logDir, v).flatMap(_.fileSizeHistogram)
  }

  // ---------------- history / time travel ----------------

  /** (version, file-or-in-commit timestamp millis, operation). */
  def history(): Seq[(Long, Long, String)] =
    historyDetail().map { case (v, ts, op, _) => (v, ts, op) }

  /** history() plus the commit's caller-supplied correlation id
    * (#2834) when its commitInfo carries one.
    */
  def historyDetail(): Seq[(Long, Long, String, Option[String])] = {
    Storage.listSorted(fs, logDir).flatMap { st =>
      FileNames.parse(st) match {
        case Some(FileNames.CommitFile(v, p, _)) =>
          val ci = JsonLog.commitInfo(fs, p)
          Some((v, JsonLog.timestamp(ci, st.getModificationTime),
            ci.fold("")(_.operation), ci.flatMap(_.correlationId)))
        case _ => None
      }
    }
  }

  /** Shared state for every timestamp query (reference
    * history_manager/mod.rs: one listing + ICT-enablement régime feeds
    * latest_version_as_of / first_version_after /
    * timestamp_range_to_versions / get_earliest_commit): the sorted
    * commit files, a lazily-resolved per-index timestamp, and the
    * index of the first ICT commit (commits.size when ICT is off,
    * 0 when ICT-since-creation).
    */
  private final class HistoryIndex {
    val commits: IndexedSeq[(FileNames.CommitFile,
        org.apache.hadoop.fs.FileStatus)] =
      Storage.listSorted(fs, logDir)
        .flatMap(st => FileNames.parse(st).map(f => (f, st)))
        .collect { case (c: FileNames.CommitFile, st) => (c, st) }
        .sortBy(_._1.version).toIndexedSeq
    if (commits.isEmpty)
      throw new TableNotFoundException(pathStr)
    private val tsCache = scala.collection.mutable.HashMap.empty[Int, Long]
    def tsOf(i: Int): Long = tsCache.getOrElseUpdate(i, {
      val (c, st) = commits(i)
      JsonLog.commitTimestamp(fs, c.path, st.getModificationTime)
    })
    private val conf = snapshot().metadata.configuration
    val ictOn: Boolean = conf.get(DeltaTable.ICT_ENABLED_KEY)
      .exists(_.equalsIgnoreCase("true"))
    val enableTs: Option[Long] =
      conf.get(DeltaTable.ICT_ENABLEMENT_TIMESTAMP_KEY).map(_.toLong)
    val boundary: Int =
      if (!ictOn) commits.size
      else conf.get(DeltaTable.ICT_ENABLEMENT_VERSION_KEY).map(_.toLong)
        .map(ev => commits.indexWhere(_._1.version >= ev))
        .filter(_ >= 0).getOrElse(0)
    /** Greatest index with ts <= tsMillis within [lo, hi], or -1. */
    def greatestLower(tsMillis: Long, lo0: Int, hi0: Int): Int = {
      var lo = lo0; var hi = hi0; var ans = -1
      while (lo <= hi) {
        val mid = (lo + hi) / 2
        if (tsOf(mid) <= tsMillis) { ans = mid; lo = mid + 1 }
        else hi = mid - 1
      }
      ans
    }
    /** Least index with ts >= tsMillis within [lo, hi], or -1. */
    def leastUpper(tsMillis: Long, lo0: Int, hi0: Int): Int = {
      var lo = lo0; var hi = hi0; var ans = -1
      while (lo <= hi) {
        val mid = (lo + hi) / 2
        if (tsOf(mid) >= tsMillis) { ans = mid; hi = mid - 1 }
        else lo = mid + 1
      }
      ans
    }
  }

  /** Latest version committed at or before `tsMillis` — binary search
    * over the commit files (reference history_manager/mod.rs
    * latest_version_as_of, search.rs:266). When ICT was enabled
    * MID-LOG (`delta.inCommitTimestampEnablementVersion`), the log
    * holds two independently-monotonic timestamp sequences: file
    * mtimes below the enablement version and in-commit timestamps
    * at/above it — one global binary search over both would compare
    * incomparable clocks and can resolve wrong. The enablement
    * timestamp picks which régime to search.
    */
  def versionAtTimestamp(tsMillis: Long): Long =
    versionAtTimestamp(tsMillis, new HistoryIndex)

  private def versionAtTimestamp(tsMillis: Long, h: HistoryIndex): Long = {
    val (lo0, hi0) =
      if (!h.ictOn) (0, h.commits.size - 1)
      else if (h.enableTs.exists(tsMillis < _)) {
        // strictly before the ICT era: search the mtime-ordered prefix
        if (h.boundary == 0)
          throw new IllegalArgumentException(
            s"no version at or before timestamp $tsMillis")
        (0, h.boundary - 1)
      } else (h.boundary, h.commits.size - 1)
    val ans = h.greatestLower(tsMillis, lo0, hi0)
    if (ans < 0)
      throw new IllegalArgumentException(
        s"no version at or before timestamp $tsMillis")
    h.commits(ans)._1.version
  }

  /** First version committed at or after `tsMillis` (reference
    * history_manager/mod.rs first_version_after). Mirrors
    * [[versionAtTimestamp]]'s two-régime ICT handling: a timestamp
    * before the ICT era searches the mtime prefix and, when the whole
    * prefix predates it, resolves to the first ICT commit — the
    * enablement timestamp is by construction >= the query.
    */
  def firstVersionAfter(tsMillis: Long): Long =
    firstVersionAfter(tsMillis, new HistoryIndex)

  private def firstVersionAfter(tsMillis: Long, h: HistoryIndex): Long = {
    val ans =
      if (!h.ictOn) h.leastUpper(tsMillis, 0, h.commits.size - 1)
      else if (h.enableTs.exists(tsMillis < _)) {
        val inPrefix = h.leastUpper(tsMillis, 0, h.boundary - 1)
        if (inPrefix >= 0) inPrefix
        else if (h.boundary < h.commits.size) h.boundary
        else -1
      } else h.leastUpper(tsMillis, h.boundary, h.commits.size - 1)
    if (ans < 0)
      throw new IllegalArgumentException(
        s"no version at or after timestamp $tsMillis")
    h.commits(ans)._1.version
  }

  /** [[firstVersionAfter]], except a timestamp past the whole log
    * resolves to tip+1 derived FROM THE SAME LISTING. Streaming start
    * resolution must not re-list on the fallback path: a commit landing
    * between the search and a second listing would be silently skipped
    * (its timestamp is >= the query, so the stream owes it to the
    * reader).
    */
  def firstVersionAfterOrNext(tsMillis: Long): Long = {
    val h = new HistoryIndex
    try firstVersionAfter(tsMillis, h)
    catch { case _: IllegalArgumentException =>
      h.commits.last._1.version + 1 }
  }

  /** Resolve a CDF/commit-range timestamp window to versions
    * (reference history_manager/mod.rs timestamp_range_to_versions):
    * start maps through first-after, end through latest-as-of; an
    * endless range returns None for the end. A window falling entirely
    * between two commits is empty and rejected, as is start > end.
    */
  def timestampRangeToVersions(startTs: Long,
      endTs: Option[Long]): (Long, Option[Long]) = {
    endTs.foreach(e => require(startTs <= e,
      s"invalid timestamp range: $startTs > $e"))
    // ONE listing + one shared timestamp cache serves both searches —
    // per-call HistoryIndex rebuilds would re-list the log dir and
    // re-read the same commit files on an object store
    val h = new HistoryIndex
    val startV = firstVersionAfter(startTs, h)
    val endV = endTs.map { e =>
      val v = versionAtTimestamp(e, h)
      require(startV <= v,
        s"empty timestamp range: ($startTs, $e) falls between commits")
      v
    }
    (startV, endV)
  }

  /** Earliest listed commit as (version, timestamp) (reference
    * history_manager/mod.rs get_earliest_commit,
    * HistoryCommitType::Published). After log compaction vacuumed
    * early commits this is the history floor — timestamp queries below
    * it throw.
    */
  def earliestCommit(): (Long, Long) = {
    val h = new HistoryIndex
    (h.commits(0)._1.version, h.tsOf(0))
  }

  /** Earliest version whose full table state can be reconstructed:
    * version 0 when its commit survives, else the earliest COMPLETE
    * checkpoint (all parts of a multipart set present) — reference
    * history_manager/mod.rs get_earliest_commit,
    * HistoryCommitType::Recreatable. Throws when commits exist but
    * neither anchor does (a log whose head was vacuumed past every
    * checkpoint is unreadable history).
    */
  def earliestRecreatableVersion(): Long = {
    val entries = Storage.listSorted(fs, logDir)
      .flatMap(st => FileNames.parse(st))
    if (entries.exists {
      case FileNames.CommitFile(0L, _, _) => true
      case _ => false
    }) return 0L
    // a version may hold parts from SEVERAL checkpoint attempts (a
    // crashed 2-part write next to a later complete 3-part set), so
    // completeness is judged per numParts-attempt, never across the
    // mixed listing. A V2 checkpoint anchors a version only while its
    // sidecar files still exist — the manifest alone cannot rebuild
    // the file set after an external cleaner took `_sidecars/`.
    val byVersion = entries
      .collect { case c: FileNames.CheckpointFile => c }
      .groupBy(_.version)
    def sidecarsOk(top: FileNames.CheckpointFile): Boolean =
      try Snapshot.readV2TopLevel(spark, logDir, top)
        .sidecarPaths.forall(p => fs.exists(new Path(p)))
      catch { case _: Exception => false }
    def anchors(v: Long): Boolean = {
      val files = byVersion(v)
      val attempts = files.filterNot(_.isV2).groupBy(_.numParts)
      // true V1 multipart attempts never reference sidecars
      val multiOk = attempts.exists { case (n, ps) =>
        n > 1 && ps.map(_.part).toSet.size == n }
      // a classic-NAMED single-part file may still carry V2 content
      // (interop writers emit checkpointMetadata + sidecar refs under
      // the classic name — Snapshot.sniffV2's whole reason to exist);
      // it anchors only while its sidecars survive
      val singleOk = attempts.get(1).exists(_.exists(top =>
        try !Snapshot.sniffV2(spark, top) || sidecarsOk(top)
        catch { case _: Exception => false }))
      multiOk || singleOk || files.filter(_.isV2).exists(sidecarsOk)
    }
    byVersion.keys.toSeq.sorted.find(anchors).getOrElse(
      throw new IllegalStateException(
        s"no recreatable version at $pathStr: commit 0 is gone and no " +
          "complete checkpoint anchors the log"))
  }
}

object DeltaTable {

  /** Reference-counted scoped session-conf overrides. A naive
    * save/set/restore around a write job RACES under concurrent
    * writers on one session: thread B saves thread A's override as
    * "original", A restores the true original mid-B, and B's restore
    * then leaks the override permanently. Writers needing the same
    * value share a refcount; a writer needing a DIFFERENT value for a
    * held key waits its turn. The true original is restored only when
    * the last holder releases. Keyed by (session, key): two sessions
    * sharing this JVM hold independent SQLConfs, so each session's
    * writers must set — and restore — their OWN conf.
    */
  private[delta] object ScopedSessionConf {
    /** One override generation for a key. Layers stack only when the
      * SOLE holder of every live layer re-enters with a different
      * value (nested retarget): waiting there would deadlock on
      * ourselves — the outer scope can't release until the inner
      * returns.
      */
    private final class Layer(var orig: Option[String], val value: String) {
      var n: Int = 0
      val perThread = scala.collection.mutable.Map.empty[Thread, Int]
      def add(t: Thread): Unit = {
        n += 1; perThread(t) = perThread.getOrElse(t, 0) + 1
      }
      def remove(t: Thread): Unit = {
        n -= 1
        val c = perThread(t) - 1
        if (c == 0) perThread.remove(t) else perThread(t) = c
      }
      def soleHolder(t: Thread): Boolean = perThread.getOrElse(t, 0) == n
    }
    /** head = innermost live layer for the key. */
    private val held = scala.collection.mutable.Map
      .empty[(SparkSession, String), List[Layer]]
    def withConfs[T](spark: SparkSession,
        kvsRaw: Seq[(String, String)])(body: => T): T = {
      // a duplicate key would add to its layer twice but release once
      // (joined is keyed by conf key), pinning the layer count >0
      // forever and blocking every later writer on that key
      val kvs = kvsRaw.distinctBy(_._1)
      require(kvs.size == kvsRaw.size,
        s"duplicate conf keys in withConfs: ${kvsRaw.map(_._1)}")
      val me = Thread.currentThread()
      val joined = scala.collection.mutable.Map.empty[String, Layer]
      held.synchronized {
        def blocked(k: String, v: String): Boolean =
          held.get((spark, k)) match {
            case Some(layers @ (top :: _)) =>
              top.value != v && !layers.forall(_.soleHolder(me))
            case _ => false
          }
        while (kvs.exists { case (k, v) => blocked(k, v) }) held.wait()
        kvs.foreach { case (k, v) =>
          val key = (spark, k)
          held.getOrElse(key, Nil) match {
            case top :: _ if top.value == v =>
              top.add(me); joined(k) = top
            case layers => // free, or nested retarget by the sole holder
              val orig = spark.conf.getOption(k)
              spark.conf.set(k, v)
              val l = new Layer(orig, v)
              l.add(me); joined(k) = l
              held(key) = l :: layers
          }
        }
      }
      try body
      finally held.synchronized {
        kvs.foreach { case (k, _) =>
          val key = (spark, k)
          val l = joined(k)
          l.remove(me)
          if (l.n == 0) {
            val layers = held.getOrElse(key, Nil)
            if (layers.headOption.exists(_ eq l)) {
              // innermost layer drained: its saved original (= the
              // value the layer below set, or the true original) is
              // the live value again
              held(key) = layers.tail
              if (held(key).isEmpty) held.remove(key)
              l.orig match {
                case Some(x) => spark.conf.set(k, x)
                case None => spark.conf.unset(k)
              }
            } else {
              // an OUTER layer drained while an inner one is still
              // live (a joiner attached to the stacked inner layer,
              // then the stacker unwound both of its scopes): the conf
              // must stay at the inner value, and this layer's
              // original grafts onto the layer stacked directly above
              // it so the final drain restores the true original
              // instead of this layer's now-dead value
              val idx = layers.indexWhere(_ eq l)
              if (idx > 0) layers(idx - 1).orig = l.orig
              held(key) = layers.filterNot(_ eq l)
              if (held(key).isEmpty) held.remove(key)
            }
          }
          // KNOWN WINDOW (accepted): a stacker unwinding its inner
          // retarget while a joiner still holds that layer resumes its
          // OUTER body under the inner value — restoring would yank the
          // conf from under the joiner, and blocking here can deadlock
          // on legitimate joiner-awaits-stacker patterns. Harmless in
          // practice: every production writer pins a CONSTANT value per
          // key (micros timestamps, shredding=true), so live layers for
          // one key never disagree. A writer that retargets a key must
          // not depend on the outer value between its inner scope's end
          // and its outer scope's end.
        }
        held.notifyAll()
      }
    }
  }

  /** Read footprint of a reads-based (DML) transaction, for commit
    * conflict checks: the snapshot it planned against, the predicate
    * it read under, and the canonical keys of the files it removes.
    */

  /** `maintenance`: the commit is a dataChange=false rewrite of
    * exactly `removedKeys` — concurrent APPENDS are always disjoint
    * (new files are never among those compacted), so the rebase check
    * skips predicate pruning; remove/remove overlap still conflicts.
    */
  case class ReadSet(snap: Snapshot, predicateSql: Option[String],
      removedKeys: Set[String], maintenance: Boolean = false)

  /** Everything a writer contributes to one commit, typed. The commit
    * path derives the commitInfo line, the rebase policy, the `.crc`
    * deltas and the post-commit hooks from it.
    */
  private[delta] final case class Actions(
      protocol: Option[Protocol] = None,
      metadata: Option[graft.delta.Metadata] = None,
      domains: Seq[DomainMetadata] = Nil,
      txns: Seq[SetTransaction] = Nil,
      removes: Seq[RemoveFile] = Nil,
      adds: Seq[AddFile] = Nil,
      cdc: Seq[AddCDCFile] = Nil)

  /** How a commit may move past a concurrent winner of its version. */
  private[delta] sealed trait CommitMode
  /** Retry at the next version past any winner that leaves the table
    * definition and this commit's txn app ids alone (blind appends).
    */
  private[delta] case object Blind extends CommitMode
  /** Rebase only past winners that partition pruning + stats skipping
    * prove disjoint from `predicate` (None: no winner adds are
    * disjoint) and that removed none of this commit's removes.
    */
  private[delta] final case class Reads(predicate: Option[String])
      extends CommitMode
  /** A dataChange=false rewrite of exactly its removes: rebase past any
    * winner that removed none of them.
    */
  private[delta] case object Maintenance extends CommitMode
  /** Never rebase. */
  private[delta] case object Strict extends CommitMode

  /** One file of a table listing: (qualified path, path relative to the
    * table root, modification time, length).
    */
  private type ListingRow = (String, String, Long, Long)

  private def listingRow(root: String)(st: org.apache.hadoop.fs.FileStatus)
      : ListingRow = {
    val p = st.getPath.toString
    (p, p.stripPrefix(root + "/"), st.getModificationTime, st.getLen)
  }

  /** Listing rows of every file under the directories `dirs`. */
  private def walk(root: String, dirs: Iterator[String],
      conf: org.apache.hadoop.conf.Configuration): Iterator[ListingRow] =
    dirs.flatMap { d =>
      val p = new Path(d)
      Storage.listFilesRecursive(p.getFileSystem(conf), p)
        .map(listingRow(root))
    }

  /** Whether a qualified `file` lies under the table `root` — on a path
    * segment boundary, so root `/data/t` does not hold `/data/t2/x`.
    */
  private def underRoot(root: String)(file: String): Boolean =
    file.startsWith(root + "/")

  /** A listed file VACUUM may delete when nothing keeps it: older than
    * `cutoff` and not hidden (`_` or `.` names).
    */
  private def vacuumable(cutoff: Long)(r: ListingRow): Boolean = {
    val name = r._2.substring(r._2.lastIndexOf('/') + 1)
    r._3 < cutoff && !name.startsWith("_") && !name.startsWith(".")
  }

  /** The qualified files a (path, deletionVector) action row names. */
  private def namedFiles(root: String)(r: org.apache.spark.sql.Row)
      : Seq[String] =
    Storage.actionFiles(new Path(root), r.getString(0),
      Option(r.getStruct(1)).map(RowCodec.rowToDv)).map(_.toString)

  /** How [[DeltaTable.writeCheckpoint]] lays out the reconciled state. */
  private[delta] sealed trait CheckpointLayout
  /** Classic V1: `parts` multi-part files, or (None) one
    * `v.checkpoint.parquet` that splits into multi-part files past
    * twice `CHECKPOINT_ACTIONS_PER_PART` actions.
    */
  private[delta] final case class ClassicLayout(parts: Option[Int])
      extends CheckpointLayout
  /** V2: file actions in `sidecars` sidecar files, or inline in the
    * top-level file when 0.
    */
  private[delta] final case class V2Layout(sidecars: Int)
      extends CheckpointLayout

  val ICT_ENABLED_KEY = "delta.enableInCommitTimestamps"

  /** ADD COLUMN placement (FIRST / AFTER sibling / append). */
  sealed trait ColumnPosition
  case object First extends ColumnPosition
  final case class After(sibling: String) extends ColumnPosition
  /** Opt-in to shredded variant data files (delta-spark's property;
    * reference table_features/mod.rs:630-645 variantShredding).
    */
  val VARIANT_SHREDDING_KEY = "delta.enableVariantShredding"
  val OPTIMIZE_WRITE_KEY = "delta.autoOptimize.optimizeWrite"
  /** MERGE's source-row marker: non-null exactly on matched rows of
    * the target ⋈ source left-outer join.
    */
  private val MERGE_SOURCE_ROW = "__merge_source_row"
  val AUTO_COMPACT_KEY = "delta.autoOptimize.autoCompact"
  /** partitionBy alias prefix used when partition columns are
    * materialized into data files (IcebergCompat).
    */
  val MAT_PART_PREFIX = "__gpm_"
  /** Fixed file count for clustered writes; unset/0 = AQE-sized. */
  val CLUSTERING_NUM_FILES_KEY = "graft.clustering.numFiles"
  /** Session conf: OPTIMIZE caches its assembled input across the
    * layout's two passes (range sample + shuffled write) when the
    * candidate bytes are at or below this; above it the rewrite
    * streams. Default 32 GiB.
    */
  val OPTIMIZE_CACHE_INPUT_KEY = "graft.optimize.cacheInputMaxBytes"
  val ICT_ENABLEMENT_VERSION_KEY =
    "delta.inCommitTimestampEnablementVersion"
  val ICT_ENABLEMENT_TIMESTAMP_KEY =
    "delta.inCommitTimestampEnablementTimestamp"

  def forPath(spark: SparkSession, path: String): DeltaTable =
    new DeltaTable(spark, path)

  /** Handle to a catalog-managed table: snapshots read through the
    * catalog's log tail, commits stage-and-ratify.
    */
  def forPath(spark: SparkSession, path: String,
      catalog: CatalogClient): DeltaTable =
    new DeltaTable(spark, path, Some(catalog))

  /** Handle whose commits go through a custom [[Committer]] — e.g. an
    * [[ObjectStoreCommitter]] doing conditional puts against an object
    * store instead of filesystem put-if-absent.
    */
  def forPath(spark: SparkSession, path: String,
      committer: Committer): DeltaTable =
    new DeltaTable(spark, path, None, Some(committer))

  def isDeltaTable(spark: SparkSession, path: String): Boolean = {
    val p = FileNames.logDir(new Path(path))
    val fs = Storage.fs(p, spark.sessionState.newHadoopConf())
    fs.exists(p) && Storage.listSorted(fs, p)
      .exists(st => FileNames.parse(st).isDefined)
  }

  /** CREATE TABLE: commit 0 with protocol + metadata (reference
    * transaction/builder/create_table.rs).
    */
  def create(spark: SparkSession, path: String, schema: StructType,
      partitionColumns: Seq[String] = Nil,
      configuration: Map[String, String] = Map.empty,
      name: Option[String] = None,
      clusterBy: Seq[String] = Nil,
      catalog: Option[CatalogClient] = None,
      correlationId: Option[String] = None): DeltaTable = {
    require(partitionColumns.forall(schema.fieldNames.contains),
      "partition column not in schema")
    // ANSI interval columns may exist in the schema but cannot key the
    // layout: no serialized partition-value form and no ordering stats
    // (reference create_table/interval.rs
    // test_create_table_rejects_interval_clustering)
    partitionColumns.foreach { c =>
      val bad = schema(c).dataType match {
        case _: org.apache.spark.sql.types.YearMonthIntervalType => true
        case _: org.apache.spark.sql.types.DayTimeIntervalType => true
        case org.apache.spark.sql.types.CalendarIntervalType => true
        case _ => false
      }
      require(!bad, s"partition column '$c' has unsupported type " +
        schema(c).dataType.simpleString)
      // WKB payloads have no partition-value string form and no
      // meaningful equality-based layout
      require(!schema(c).metadata.contains(GeoTypes.GEO_KEY),
        s"partition column '$c' has unsupported geospatial type " +
          schema(c).metadata.getString(GeoTypes.GEO_KEY))
    }
    require(clusterBy.forall(schema.fieldNames.contains),
      "clustering column not in schema")
    require(clusterBy.intersect(partitionColumns).isEmpty,
      "a column cannot be both a partition and a clustering column")
    clusterBy.foreach { c =>
      require(DataSkipping.isEligible(schema(c).dataType),
        s"clustering column '$c' has no min/max stats " +
          s"(${schema(c).dataType.simpleString}) — clustering would " +
          "never help skipping")
    }
    val t = new DeltaTable(spark, path, catalog,
      committerOverride = None,
      correlationId = correlationId.filter(_.nonEmpty))
    // catalog-managed tables REQUIRE in-commit timestamps (reference
    // table_features CATALOG_MANAGED_INFO feature dependency — file
    // mtimes of staged commits are meaningless to readers)
    val configuration0 =
      if (catalog.isDefined) configuration + (ICT_ENABLED_KEY -> "true")
      else configuration
    // column mapping: annotate physical names/ids at CREATE (reference
    // transaction/builder/create_table.rs column mapping assignment)
    val cmMode = configuration0.getOrElse(ColumnMapping.MODE_KEY, "none")
    require(ColumnMapping.SUPPORTED_MODES.contains(cmMode),
      s"unsupported ${ColumnMapping.MODE_KEY} '$cmMode'")
    val (finalSchema, finalConfig) =
      // mode none: strip any caller-carried CM annotations — a write
      // never ORIGINATES a table with stale annotations (#2886)
      if (cmMode == "none")
        (ColumnMapping.stripAnnotations(schema), configuration0)
      else {
        val (annotated, maxId) = ColumnMapping.assignMetadata(schema)
        (annotated,
          configuration0 + (ColumnMapping.MAX_ID_KEY -> maxId.toString))
      }
    val wantsCdf = finalConfig.get(TableChanges.CDF_ENABLED_KEY)
      .exists(_.equalsIgnoreCase("true"))
    val wantsRowTracking = finalConfig.get(RowTracking.ENABLED_KEY)
      .exists(_.equalsIgnoreCase("true"))
    val wantsVariant = NestedFields.fieldsWithPaths(finalSchema).exists(
      _.last.dataType.isInstanceOf[org.apache.spark.sql.types.VariantType])
    val wantsGeo = GeoTypes.containsGeo(finalSchema)
    // variantShredding (reference table_features/mod.rs:630-645,
    // ReaderWriter): files may store variant as
    // {metadata, value, typed_value} — opt-in via table property
    val wantsShredding = finalConfig.get(VARIANT_SHREDDING_KEY)
      .exists(_.equalsIgnoreCase("true"))
    require(!wantsShredding || wantsVariant,
      s"$VARIANT_SHREDDING_KEY=true requires a variant column")
    val hasConstraints = finalConfig.keys
      .exists(_.startsWith(WriteValidation.CONSTRAINT_PREFIX))
    val hasGenerated =
      finalSchema.json.contains(WriteValidation.GENERATION_KEY)
    val hasIdentity =
      finalSchema.json.contains(IdentityColumns.START_KEY)
    val legacy = Protocol(
      if (cmMode != "none") 2 else 1,
      Seq(2, if (wantsCdf) 4 else 2,
        if (hasConstraints) 3 else 2,
        if (hasGenerated) 4 else 2,
        if (cmMode != "none") 5 else 2,
        if (hasIdentity) 6 else 2).max)
    val wantsIct = finalConfig.get(ICT_ENABLED_KEY)
      .exists(_.equalsIgnoreCase("true"))
    // delta.enableDeletionVectors=true declares the feature at CREATE
    // (delta-spark's coupling); reader-writer, so both lists
    val wantsDv = finalConfig.get("delta.enableDeletionVectors")
      .exists(_.equalsIgnoreCase("true"))
    val wantsIcebergV3 = finalConfig.get(IcebergCompat.V3_KEY)
      .exists(_.equalsIgnoreCase("true"))
    val wantsIcebergV1 = finalConfig.get(IcebergCompat.V1_KEY)
      .exists(_.equalsIgnoreCase("true"))
    val wantsIcebergV2 = finalConfig.get(IcebergCompat.V2_KEY)
      .exists(_.equalsIgnoreCase("true"))
    // `delta.feature.<name>=supported` convention: declare a feature in
    // the protocol without a dedicated enablement property (e.g.
    // materializePartitionColumns, which is AlwaysIfSupported)
    val explicitFeatures = finalConfig.collect {
      case (k, v) if k.startsWith("delta.feature.") &&
          v.equalsIgnoreCase("supported") =>
        k.stripPrefix("delta.feature.")
    }.toSeq
    // a column with a stored CURRENT_DEFAULT requires the writer-only
    // allowColumnDefaults feature (protocol: writers must apply it to
    // missing-column inserts)
    val hasDefaults =
      finalSchema.json.contains(WriteValidation.DEFAULT_KEY)
    val featureAdds =
      (if (wantsRowTracking) Seq("rowTracking", "domainMetadata") else Nil) ++
      (if (wantsIct) Seq("inCommitTimestamp") else Nil) ++
      (if (wantsDv) Seq("deletionVectors") else Nil) ++
      (if (hasDefaults) Seq("allowColumnDefaults") else Nil) ++
      (if (catalog.isDefined) Seq(CatalogManaged.FEATURE) else Nil) ++
      (if (wantsIcebergV3) Seq(IcebergCompat.V3_FEATURE) else Nil) ++
      (if (wantsIcebergV1) Seq(IcebergCompat.V1_FEATURE) else Nil) ++
      (if (wantsIcebergV2) Seq(IcebergCompat.V2_FEATURE) else Nil) ++
      explicitFeatures ++
      (if (clusterBy.nonEmpty)
        Seq(Clustering.FEATURE, "domainMetadata") else Nil)
    val readerFeatureAdds =
      (if (wantsVariant) Seq("variantType") else Nil) ++
      (if (wantsDv) Seq("deletionVectors") else Nil) ++
      (if (wantsGeo) Seq(GeoTypes.FEATURE) else Nil) ++
      (if (wantsShredding) Seq("variantShredding") else Nil) ++
      (if (catalog.isDefined) Seq(CatalogManaged.FEATURE) else Nil) ++
      // reader-writer features declared via delta.feature.<name> must
      // appear on the reader side too (a v2Checkpoint-only writer list
      // would let legacy readers miss the checkpoint format)
      explicitFeatures.filter(TableFeatures.readerWriterFeatures.contains)
    val protocol =
      if (featureAdds.nonEmpty || wantsVariant || wantsGeo || wantsIct ||
          wantsDv)
        TableFeatures.upgraded(legacy, readerFeatureAdds,
          featureAdds ++ readerFeatureAdds)
      else legacy
    // row tracking fixes its materialized column names at enablement
    // (delta.rowTracking.materializedRowId/RowCommitVersionColumnName):
    // rewrites (OPTIMIZE/REORG) write the ORIGINAL ids under these
    // names so row ids stay stable across file rewrites
    val finalConfigRt =
      if (wantsRowTracking &&
          !finalConfig.contains(RowTracking.MAT_ROW_ID_KEY))
        finalConfig ++ RowTracking.freshMaterializedNames()
      else finalConfig
    val meta = graft.delta.Metadata(
      id = UUID.randomUUID().toString,
      name = name, description = None, format = Format(),
      schemaString = GeoTypes.toSchemaString(finalSchema),
      partitionColumns = partitionColumns,
      configuration = finalConfigRt,
      createdTime = Some(System.currentTimeMillis()))
    // icebergCompat invariants fail the CREATE before anything reaches the log
    // (reference table_configuration.rs:235)
    IcebergCompat.validate(protocol, meta, finalSchema)
    // feature-dependency validation (reference
    // validate_feature_requirements): a CREATE whose declared features
    // have unmet dependencies must fail here, not at first read
    FeatureRequirements.validateEnabled(protocol, meta)
    val domains =
      (if (wantsRowTracking) Seq(RowTracking.domainMetadataFor(
        RowTracking.MISSING_HIGH_WATER_MARK)) else Nil) ++
      // the domain records PHYSICAL column paths (clustering.rs)
      (if (clusterBy.isEmpty) Nil
       else Seq(Clustering.domainFor(clusterBy.map(c => Seq(
         ColumnMapping.physicalName(
           finalSchema.fields.find(_.name == c).get))))))
    t.commit(None, "CREATE TABLE",
      Map("partitionBy" -> partitionColumns.mkString(",")),
      Actions(protocol = Some(protocol), metadata = Some(meta),
        domains = domains), Strict)
    t
  }

  /** CONVERT TO DELTA — in-place adoption of a plain parquet
    * directory (delta-spark's `CONVERT TO DELTA`; the reference has
    * no analog, but it is the on-ramp every existing lake crosses
    * first). Lists the directory's parquet files, derives hive-style
    * partition values from the paths (TYPES come from the declared
    * `partitionSchema` — inference from strings is unsafe, the same
    * reason delta-spark requires `PARTITIONED BY`), collects
    * protocol-exact footer stats, and commits protocol + metadata +
    * every add as ONE atomic version-0 commit: a concurrent reader
    * sees either no table or the complete table, never an empty
    * shell. Data files are neither moved nor rewritten. Stats fan out
    * to executors past the driver-read bound, so adopting a
    * million-file directory is a distributed footer sweep, not a
    * driver loop.
    */
  def convert(spark: SparkSession, path: String,
      partitionSchema: StructType = new StructType()): DeltaTable = {
    require(!isDeltaTable(spark, path),
      s"already a delta table: $path")
    val root = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = Storage.fs(root, conf)
    val rootQ = fs.makeQualified(root)
    val files = Storage.listFilesRecursive(fs, root).filter { st =>
      val n = st.getPath.getName
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }
    require(files.nonEmpty, s"no parquet files under $path")

    // data schema from the files; partition columns must be declared,
    // and (with a basePath) spark infers exactly the path-borne ones —
    // require the two sets to agree so a typo fails loudly
    val inferred = spark.read.option("basePath", path)
      .parquet(path).schema
    val partNames = partitionSchema.fieldNames.toSet
    val dataFields = inferred.fields.filterNot(f => partNames(f.name))
    val missing = partNames -- inferred.fieldNames.toSet
    require(missing.isEmpty,
      s"declared partition columns not present in the layout: " +
        missing.mkString(", "))
    val schema = StructType(
      dataFields.toIndexedSeq ++ partitionSchema.fields)
    val dataSchema = StructType(dataFields.toIndexedSeq)

    val statsByPath = ParquetFooterStats.collect(spark,
      files.map(_.getPath.toString).toSeq, dataSchema, conf)
    val partCols = partitionSchema.fieldNames.toSeq
    val adds = files.map { st =>
      val rel = st.getPath.toUri.getRawPath
        .stripPrefix(rootQ.toUri.getRawPath).stripPrefix("/")
      val pv = PartitionValues.fromHivePath(rel)
      AddFile(
        path = rel,
        partitionValues = partCols.map(c => c -> pv.getOrElse(c, null))
          .toMap,
        size = st.getLen,
        modificationTime = st.getModificationTime,
        dataChange = true,
        stats = Some(statsByPath(st.getPath.toString)))
    }

    val meta = graft.delta.Metadata(
      id = UUID.randomUUID().toString,
      name = None, description = None, format = Format(),
      schemaString = schema.json,
      partitionColumns = partCols,
      configuration = Map.empty,
      createdTime = Some(System.currentTimeMillis()))
    val t = new DeltaTable(spark, path, None)
    t.commit(None, "CONVERT",
      Map("numFiles" -> adds.size.toString,
        "partitionBy" -> partCols.mkString(",")),
      Actions(protocol = Some(Protocol(1, 2)), metadata = Some(meta),
        adds = adds.toSeq), Strict)
    t
  }
}
