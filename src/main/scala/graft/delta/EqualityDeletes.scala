package graft.delta

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Equality deletes over the content tree (Iceberg V2 semantics).
  *
  * The reference models `EqualityDeletes` entries and their
  * `equality_ids` (/root/reference/kernel/src/content_tree/mod.rs:
  * 214-219, :239) but stops at the metadata shape — it neither writes
  * delete files nor applies them to a read. This module completes the
  * semantics Spark-first:
  *
  *  - [[writeDeleteFiles]] persists delete-key rows as parquet under
  *    `_delta_log/_amt/` (id-annotated columns — Iceberg projects
  *    delete files by field id) and returns one descriptor per file.
  *  - [[deleteEntriesDF]] turns descriptors into content-tree entry
  *    rows that ride [[ContentTree.writeTree]] next to data entries.
  *  - [[readApplying]] reads a tree-backed table applying BOTH delete
  *    shapes: position deletes via the codegen'd in-scan DV mask, and
  *    equality deletes via a sequence-ordered anti-join — a delete
  *    with sequence number S drops matching rows ONLY from data files
  *    whose data sequence number is strictly below S (the Iceberg
  *    ordering rule), with NULL keys matching NULL values.
  *  - [[convertToPositionDeletes]] is the maintenance path (Iceberg's
  *    "rewrite deletes"): matched row positions become per-file DV
  *    bitmaps (merged with any existing DV), the equality entries
  *    leave the tree, and affected data entries come back `Modified`
  *    carrying `deletedPositions` delta bitmaps.
  *
  * Scale shape: the data side is ONE scan arm (sequence numbers ride
  * as a per-file constant partition column — plan size independent of
  * the commit count, same collapse as the CDF read); the delete side
  * is ONE scan arm per distinct equality-id set (each file stores its
  * sequence as a constant column, so accumulated commits never widen
  * the plan); the join broadcasts only when the delete files are
  * provably small, and conversion ships compressed bitmap BYTES to
  * the driver, never row-index arrays.
  */
object EqualityDeletes {

  /** One persisted equality-delete parquet file. `location` is
    * table-root-relative; `equalityIds` index the snapshot data schema
    * positionally (the data-field id space of
    * [[ContentTree.fieldIdToStatisticsBase]]); `sequenceNumber` orders
    * the delete against data files.
    */
  case class EqDeleteFile(
      location: String,
      equalityIds: Seq[Int],
      sequenceNumber: Long,
      recordCount: Long,
      sizeInBytes: Long)

  /** Resolve equality ids to logical column names via the data
    * schema's field positions.
    */
  def idsToNames(dataSchema: StructType, ids: Seq[Int]): Seq[String] = {
    require(ids.nonEmpty, "equality ids must be non-empty")
    require(ids.distinct == ids, s"equality ids must be distinct: $ids")
    ids.map { i =>
      require(i >= 0 && i < dataSchema.fields.length,
        s"equality id $i out of range for ${dataSchema.fields.length} fields")
      dataSchema.fields(i).name
    }
  }

  /** Write `keys` (any DataFrame whose columns are the delete key
    * columns, in `equalityIds` order) as equality-delete parquet under
    * `_delta_log/_amt/` — the same VACUUM-safe prefix tree leaves use.
    * The write stays distributed; each resulting part file becomes its
    * own delete descriptor (counts from ONE tiny `_metadata` job, no
    * driver row traffic). Key columns carry `parquet.field.id` so an
    * id-projecting reader resolves them without name matching.
    */
  def writeDeleteFiles(snap: Snapshot, keys: DataFrame,
      equalityIds: Seq[Int], sequenceNumber: Long): Seq[EqDeleteFile] = {
    val names = idsToNames(snap.dataSchema, equalityIds)
    require(keys.schema.fields.length == names.length,
      s"keys must have exactly the ${names.length} delete key columns")
    val rel = s"_delta_log/_amt/eqdel-$sequenceNumber-" +
      java.util.UUID.randomUUID()
    val abs = snap.tableRoot.toString.stripSuffix("/") + "/" + rel
    val spark = keys.sparkSession
    val idFields = names.zip(equalityIds).zip(keys.schema.fields).map {
      case ((n, id), f) =>
        StructField(n, f.dataType, f.nullable,
          new MetadataBuilder().putLong("parquet.field.id", id).build())
    }
    // the sequence rides IN the file as a constant column (RLE'd to
    // nothing): the apply then reads a whole id GROUP as one scan arm
    // regardless of how many delete commits accumulated — without
    // this, a 1000-batch CDC trickle would plan 1000 scan arms (the
    // same plan-width disease the CDF read's collapse fixed)
    keys.toDF(names: _*).to(StructType(idFields))
      .withColumn(SEQ_COL, lit(sequenceNumber))
      .write.parquet(abs)
    // per-file record counts: one job over file metadata of the files
    // just written (O(#part files) result rows)
    val counts = spark.read.parquet(abs)
      .groupBy(col("_metadata.file_path").as("fp"),
        col("_metadata.file_size").as("sz"))
      .count().collect()
    counts.toSeq.map { r =>
      val name = new org.apache.hadoop.fs.Path(r.getString(0)).getName
      EqDeleteFile(s"$rel/$name", equalityIds, sequenceNumber,
        r.getAs[Long]("count"), r.getAs[Long]("sz"))
    }.filter(_.recordCount > 0).sortBy(_.location)
  }

  /** Entry rows for delete files, aligned with the tree entry shape
    * ([[ContentTree.entrySchema]] + a null `content_stats` when
    * `forSnap` is given so the frame unions with that snapshot's data
    * entries — the stats struct honors the table's stats-column
    * selection, so it must come from the snapshot, not the bare data
    * schema). Each passes [[ContentTree.validateEntry]].
    */
  def deleteEntriesDF(spark: SparkSession, files: Seq[EqDeleteFile],
      forSnap: Option[Snapshot]): DataFrame = {
    import ContentTree.{DataContentType, TrackingStatus}
    files.foreach { f =>
      ContentTree.validateEntry(DataContentType.EqualityDeletes,
        "parquet", hasEqualityIds = true, hasManifestInfo = false,
        Some(f.sequenceNumber), Some(f.sequenceNumber))
    }
    val rows = files.map { f =>
      Row(DataContentType.EqualityDeletes, f.location, "parquet",
        Row(TrackingStatus.Added, f.sequenceNumber, null,
          f.sequenceNumber, f.sequenceNumber, null, null, null),
        null, 0, null, null, f.recordCount, f.sizeInBytes,
        null, null, null, f.equalityIds, 4, null)
    }
    import scala.jdk.CollectionConverters._
    val base = spark.createDataFrame(rows.asJava, ContentTree.entrySchema)
    forSnap match {
      case Some(sn) => base.withColumn(ContentTree.CONTENT_STATS,
        lit(null).cast(ContentTree.contentStatsSchema(sn))
          .as(ContentTree.CONTENT_STATS))
      case None => base
    }
  }

  /** Column name the delete sequence is stored under inside each
    * delete file (constant per file, so it RLE-compresses away).
    */
  val SEQ_COL = "__del_seq"

  /** Delete-side frame of one equality-id group: ALL the group's
    * files in ONE scan arm — plan width is independent of how many
    * delete commits accumulated. Each row's sequence resolves from the
    * stored [[SEQ_COL]] constant when its file carries one, falling
    * back to the registered descriptor's sequence broadcast-joined on
    * the file's `_metadata.file_path` — so foreign delete files (an Iceberg
    * writer stores no sequence column; descriptors can point at them)
    * mix freely with graft-written files in one group instead of
    * reading a NULL sequence that silently never matches. Duplicate
    * keys collapse to their highest sequence (sound: the apply rule
    * keeps the widest reach, and a key deleted at S is still deleted
    * at S' > S).
    */
  private def deleteKeysDF(spark: SparkSession, tableRoot: String,
      names: Seq[String], dataSchema: StructType,
      files: Seq[EqDeleteFile]): DataFrame = {
    val rootPath = new org.apache.hadoop.fs.Path(tableRoot)
    val fs = Storage.fs(rootPath, spark.sessionState.newHadoopConf())
    val paths = files.map(f =>
      tableRoot.stripSuffix("/") + "/" + f.location)
    // descriptor sequence keyed as the scan reports `_metadata.file_path`
    // (O(#delete files) rows)
    val seqByPath = files.map { f =>
      GraftFileIndex.fileKey(fs.makeQualified(
        Storage.childPath(rootPath, f.location))) -> f.sequenceNumber
    }
    import spark.implicits._
    val descSeq = broadcast(seqByPath.toDF("__fp", "__dseq"))
    // explicit METADATA-FREE read schema: columns match by NAME, a
    // file lacking [[SEQ_COL]] reads it as null, and no parquet
    // field-id metadata leaks into the read (an id-annotated schema
    // makes Spark reject foreign files that carry no ids at all)
    val readSchema = StructType(
      names.map(n => StructField(n, dataSchema(n).dataType)) :+
        StructField(SEQ_COL, LongType))
    val one = spark.read.schema(readSchema).parquet(paths: _*)
    // LEFT join + fail-closed resolution: a row whose file carries no
    // stored sequence AND whose path failed to match its descriptor
    // (a normalization corner) must ERROR, not silently drop the
    // file's deletes from the anti-join
    val resolvedSeq = coalesce(col(SEQ_COL), col("__dseq"))
    val keyed = one
      .withColumn("__fp", col("_metadata.file_path"))
      .join(descSeq, Seq("__fp"), "left")
      .select(names.map(col) :+
        when(resolvedSeq.isNull, raise_error(concat(
          lit("equality-delete file resolved no sequence: "),
          col("__fp")))).otherwise(resolvedSeq).as(SEQ_COL): _*)
    keyed.groupBy(names.map(col): _*)
      .agg(max(col(SEQ_COL)).as(SEQ_COL))
  }

  private val BROADCAST_MAX_BYTES = 64L * 1024 * 1024

  /** Per-equality-id-group delete-key frames, broadcast-gated and in
    * deterministic group order — the shared delete side of the
    * anti-join apply and the semi-join matcher. Also emits the
    * [[MetricEvent.EqDeleteApply]] gauge.
    */
  private def deleteGroupFrames(spark: SparkSession, tableRoot: String,
      dataSchema: StructType, deletes: Seq[EqDeleteFile])
      : Seq[(Seq[String], DataFrame)] = {
    val groups = deletes.groupBy(_.equalityIds).toSeq
      .sortBy(_._1.mkString(","))
    if (groups.nonEmpty) {
      val bc = groups.count(
        _._2.map(_.sizeInBytes).sum <= BROADCAST_MAX_BYTES)
      Metrics.report(MetricEvent.EqDeleteApply(Metrics.newId(),
        groups.size, deletes.size, deletes.map(_.recordCount).sum, bc))
    }
    groups.map { case (ids, files) =>
      val names = idsToNames(dataSchema, ids)
      val del0 = deleteKeysDF(spark, tableRoot, names, dataSchema, files)
      val del = if (files.map(_.sizeInBytes).sum <= BROADCAST_MAX_BYTES)
        broadcast(del0) else del0
      (names, del)
    }
  }

  /** Apply equality-delete groups to a data frame carrying its per-file
    * data sequence number in `seqCol`. One anti-join per distinct
    * equality-id set; the join keys are null-safe (`<=>` — Iceberg
    * equality deletes match NULL to NULL); the sequence guard
    * `data.seq < delete.seq` rides the same join condition, so a
    * delete never reaches its own or younger commits' files. Small
    * delete sides broadcast explicitly; large ones fall back to a
    * shuffled hash join (bounded by the keys' cardinality, never the
    * data's).
    */
  def applyDeletes(data: DataFrame, dataSchema: StructType,
      tableRoot: String, deletes: Seq[EqDeleteFile],
      seqCol: String = "__seq"): DataFrame =
    deleteGroupFrames(data.sparkSession, tableRoot, dataSchema, deletes)
      .foldLeft(data) { case (acc, (names, del)) =>
        val cond = names.map(n => acc(n) <=> del(n)).reduce(_ && _) &&
          acc(seqCol) < del(SEQ_COL)
        acc.join(del, cond, "left_anti")
      }

  /** Tree-backed read applying position AND equality deletes. Data
    * entries assemble into ONE scan arm with their file sequence
    * number as a per-file constant column (the `Load` operator's
    * `file_constant_columns` — plan width independent of how many
    * commits contributed files); DV masks run codegen'd inside the
    * scan; equality groups anti-join on top. Output columns = the
    * snapshot schema.
    */
  def readApplying(snap: Snapshot, rootLocation: String): DataFrame =
    readApplyingImpl(snap, rootLocation, None)

  /** [[readApplying]] with a predicate: data entries prune by their
    * `content_stats` bounds BEFORE any file enters the scan (the same
    * distributed skip rewrite the pruned tree read uses), the exact
    * residual filter sits directly on the scan so Spark pushes it
    * into the parquet read, and only the surviving rows reach the
    * equality anti-joins. Skipping composes soundly with deletes:
    * dropping files can only REMOVE anti-join probe rows that the
    * residual filter would discard anyway.
    */
  def readApplyingPruned(snap: Snapshot, rootLocation: String,
      predicateSql: String): DataFrame =
    readApplyingImpl(snap, rootLocation, Some(predicateSql))

  private def readApplyingImpl(snap: Snapshot, rootLocation: String,
      predicateSql: Option[String]): DataFrame = {
    val spark = snap.spark
    val tableRoot = snap.tableRoot.toString
    val rootUri = Storage.fs(snap.tableRoot,
      spark.sessionState.newHadoopConf())
      .makeQualified(snap.tableRoot).toUri.getPath
    val (entries, entryCount) =
      ContentTree.readEntriesWithCount(spark, rootLocation, tableRoot)
    val pruned = predicateSql match {
      case Some(p) =>
        // skip-filter the LIVE DATA entries only; delete descriptors
        // (and everything else splitEntries routes) pass through
        val liveData = entries.filter(col("contentType") ===
          ContentTree.DataContentType.Data &&
          col("tracking.status") =!= ContentTree.TrackingStatus.Deleted)
        ContentTree.statsSkipEntries(spark, liveData, p)
          .unionByName(entries.filter(col("contentType") =!=
            ContentTree.DataContentType.Data))
      case None => entries
    }
    val (withSeq, deletes) = splitEntries(spark, pruned, entryCount,
      rootUri)
    val scan = snap.scanBuilder().build()
    if (withSeq.isEmpty)
      // no live data files: the empty-scan short-circuit carries no
      // constant columns, and there is nothing to anti-join anyway
      return scan.assemble(Nil, keepMeta = false)
        .select(snap.schema.fieldNames.toSeq
          .map(n => col("`" + n.replace("`", "``") + "`")): _*)
    val data0 = scan.assembleWithConstants(
      withSeq.map { case (a, seq) => a -> Map("__seq" -> seq.toString) },
      Seq(StructField("__seq", LongType)), keepMeta = false)
    // exact residual directly above the scan → parquet PushedFilters
    val data = predicateSql.map(p => data0.filter(expr(p)))
      .getOrElse(data0)
    val applied = applyDeletes(data, snap.dataSchema, tableRoot, deletes)
    // full logical schema (partition columns included) — equality ids
    // themselves index the DATA schema, the stats field-id space
    applied.select(snap.schema.fieldNames.toSeq
      .map(n => col("`" + n.replace("`", "``") + "`")): _*)
  }

  /** Split tree entries into live data adds (+ their sequence numbers)
    * and equality-delete descriptors. The data handoff is the slim
    * file-list envelope every scan already pays (locations, DV refs,
    * partition tuples — no stats, no bitmaps) and runs through the
    * shared [[ContentTree.streamSlimRows]] gate: small trees collect
    * in one job, big ones stream behind a shuffle (`entryCount` is the
    * root manifests' total — an upper bound when the caller pre-pruned,
    * so the gate errs toward shuffling). Delete descriptors are
    * O(#delete files) rows and always collect.
    */
  private def splitEntries(spark: SparkSession, entries: DataFrame,
      entryCount: Option[Long], tableRootUriPath: String)
      : (Seq[(AddFile, Long)], Seq[EqDeleteFile]) = {
    import ContentTree.{DataContentType, TrackingStatus}
    val dataDf = entries
      .filter(col("contentType") === DataContentType.Data &&
        col("tracking.status") =!= TrackingStatus.Deleted)
    val withSeq = ContentTree.streamSlimRows(spark, dataDf, entryCount,
      Seq(col("tracking.fileSequenceNumber").as("__fseq")))
      .map { r =>
        (ContentTree.entryToAdd(r, tableRootUriPath),
          Option(r.getAs[Any]("__fseq"))
            .map(_.asInstanceOf[Number].longValue).getOrElse(0L))
      }.toSeq
    val delRows = entries
      .filter(col("contentType") === DataContentType.EqualityDeletes &&
        col("tracking.status") =!= TrackingStatus.Deleted)
      .select(col("location"), col("equalityIds"),
        col("tracking.sequenceNumber"), col("recordCount"),
        col("fileSizeInBytes"))
      .collect().toSeq
    val deletes = delRows.map { r =>
      EqDeleteFile(r.getString(0), r.getSeq[Int](1), r.getLong(2),
        Option(r.getAs[Any](3)).map(_.asInstanceOf[Number].longValue)
          .getOrElse(0L),
        r.getLong(4))
    }
    (withSeq, deletes)
  }

  /** Files of the tree's live data holding a row the sequence-ordered
    * apply deletes, through the shared per-file match aggregate
    * ([[DeltaScan.matchPerFile]]): each equality-id group left-joins
    * onto the data (its keys are unique, so every data row stays one
    * row) and flags the rows it matches; the aggregate returns each
    * matched file's matched and live counts and the bitmap of its
    * matched row indexes, built on the executors.
    */
  private def matchedFiles(snap: Snapshot,
      withSeq: Seq[(AddFile, Long)], deletes: Seq[EqDeleteFile])
      : Seq[FileMatch] = {
    val data = snap.scanBuilder().build().assembleWithConstants(
      withSeq.map { case (a, seq) => a -> Map("__seq" -> seq.toString) },
      Seq(StructField("__seq", LongType)), keepMeta = true)
      .withColumn("__m", lit(false))
    val flagged = deleteGroupFrames(snap.spark, snap.tableRoot.toString,
      snap.dataSchema, deletes).foldLeft(data) { case (acc, (names, del)) =>
        val cond = names.map(n => acc(n) <=> del(n)).reduce(_ && _) &&
          acc("__seq") < del(SEQ_COL)
        acc.join(del, cond, "left").select(
          acc.columns.toSeq.filter(_ != "__m").map(c =>
            acc(ColumnMapping.quoted(c))) :+
            (acc("__m") || del(SEQ_COL).isNotNull).as("__m"): _*)
      }
    DeltaScan.matchPerFile(flagged, col("__m"), bitmaps = true)
  }

  /** Materialize a tree's equality deletes into the DELTA LOG as a
    * deletion-vector commit — the cross-engine maintenance path.
    * [[convertToPositionDeletes]] keeps the DVs tree-local, which any
    * LOG-level rewrite (OPTIMIZE moves rows into files whose sequence
    * postdates the deletes) cannot see; this one commits the same
    * per-file bitmaps through the shared DV-swap tail
    * (remove+add pairs, bitmap-level merge with existing DVs,
    * fully-dead files removed outright, protocol upgrade on first
    * use), after which compaction, CDF and every other engine read
    * the deletes natively. Returns (committed version, the advanced
    * tree root at that version — delete entries gone, data entries
    * re-sequenced by the diff's DV swaps with their ORIGINAL file
    * sequence preserved).
    *
    * Requires the tree to be AT the snapshot's version: the commit
    * rewrites exactly the files the tree describes.
    */
  def commitAsDeletionVectors(t: DeltaTable, rootLocation: String)
      : (Long, AdaptiveMetadata.ContentRoot) = {
    val snap = t.snapshot()
    val spark = snap.spark
    val tableRoot = snap.tableRoot.toString
    val fs = Storage.fs(snap.tableRoot,
      spark.sessionState.newHadoopConf())
    val rootUri = fs.makeQualified(snap.tableRoot).toUri.getPath
    val (entries, entryCount) =
      ContentTree.readEntriesWithCount(spark, rootLocation, tableRoot)
    val (withSeq, deletes) = splitEntries(spark, entries, entryCount,
      rootUri)
    require(deletes.nonEmpty, "tree has no equality deletes to commit")
    val cleaned = entries.filter(col("contentType") =!=
      ContentTree.DataContentType.EqualityDeletes)
    if (withSeq.isEmpty) {
      return (snap.version, ContentTree.writeTree(snap, cleaned,
        ContentTree.DEFAULT_LEAF_FANOUT))
    }
    val perFile = matchedFiles(snap, withSeq, deletes)
    if (perFile.isEmpty) {
      return (snap.version, ContentTree.writeTree(snap, cleaned,
        ContentTree.DEFAULT_LEAF_FANOUT))
    }
    // commit identity comes from the LOG's own adds — path encoding,
    // stats and DV descriptors must match the log's current lines, not
    // the tree's re-derived (URI-decoded, statless) view of them
    val fileKey = GraftFileIndex.fileKeyOf(spark, snap.tableRoot)
    val byPath = snap.scanBuilder().build().collectAddFiles()
      .map(a => fileKey(a) -> a).toMap
    require(perFile.forall(m => byPath.contains(m.key)),
      "tree is stale against the snapshot — advance or rebuild it " +
        "before materializing its equality deletes")
    // a file whose every live row matched is removed without a re-add
    val (gone, partial) = perFile.partition(m => m.matched == m.live)
    val committed = t.commitDvSwaps(snap, gone.map(m => byPath(m.key)),
      partial.map(m => byPath(m.key) -> m), "DELETE",
      Map("mode" -> "equality-delete-materialization",
        "deleteFiles" -> deletes.size.toString),
      readPredicate = None)
    // Advance the CLEANED tree across the DV-swap commit in ONE tree
    // write: the commit's effect on the tree is fully known right here
    // (gone files → Deleted tombstones at the committed version,
    // partially-matched files → Modified with the merged DV and the
    // delta bitmap, ORIGINAL file sequences preserved so later
    // equality deletes keep composing; everything else carries
    // verbatim) — deriving it directly skips the interim cleaned-tree
    // write plus updateRoot's log-diff replay and bitmap re-reads.
    val conf = spark.sessionState.newHadoopConf()
    // keyed as the scan served the tree's adds
    val byPathTree: Map[String, AddFile] =
      withSeq.map { case (a, _) => fileKey(a) -> a }.toMap
    // merged DVs for the surviving swapped files, persisted tree-side
    // (tree metadata cannot reference the inline descriptors the log
    // commit may have routed small bitmaps into)
    val mergedTree: Seq[(String, Array[Byte], Long)] =
      partial.map { m =>
        val a = byPathTree(m.key)
        a.deletionVector match {
          case Some(old) =>
            (a.path, DeletionVectors.orBitmaps(
              DeletionVectors.readBitmapBytes(old, snap.tableRoot, conf),
              m.bitmap), old.cardinality + m.matched)
          case None => (a.path, m.bitmap, m.matched)
        }
      }
    val treeDescs =
      if (mergedTree.isEmpty) Map.empty[String, DeletionVectorDescriptor]
      else DeletionVectors.writeBitmaps(mergedTree, snap.tableRoot,
        conf, prefix = "_delta_log/_amt")
    val updates = partial.map { m =>
      val a = byPathTree(m.key)
      val info = ContentTree.extractDeletionVectorContent(
        treeDescs(a.path))
      (Storage.decodeUriPath(a.path), info.location, info.offset,
        info.sizeInBytes, info.cardinality, m.bitmap, false)
    } ++ gone.map { m =>
      (Storage.decodeUriPath(byPathTree(m.key).path), null: String, 0L,
        0L, 0L, null: Array[Byte], true)
    }
    import spark.implicits._
    val updDf = broadcast(updates.toDF("__loc", "__dvloc", "__dvoff",
      "__dvsz", "__dvcard", "__newbits", "__gone"))
    import ContentTree.TrackingStatus
    val hit = col("__loc").isNotNull
    val isGone = hit && col("__gone")
    val isMod = hit && !col("__gone")
    val newEntries = cleaned
      .join(updDf, col("location") === col("__loc"), "left")
      .withColumn("deletionVector", when(isMod, struct(
        col("__dvloc").as("location"),
        col("__dvoff").as("offset"),
        col("__dvsz").as("sizeInBytes"),
        col("__dvcard").as("cardinality")))
        .otherwise(col("deletionVector")))
      .withColumn("tracking",
        when(isGone, col("tracking")
          .withField("status", lit(TrackingStatus.Deleted))
          .withField("snapshotId", lit(committed)))
        .when(isMod, col("tracking")
          .withField("status", lit(TrackingStatus.Modified))
          .withField("dvSnapshotId", lit(committed))
          .withField("deletedPositions", col("__newbits")))
        .otherwise(col("tracking")))
      .drop("__loc", "__dvloc", "__dvoff", "__dvsz", "__dvcard",
        "__newbits", "__gone")
    (committed, ContentTree.writeTree(t.snapshot(), newEntries,
      ContentTree.DEFAULT_LEAF_FANOUT))
  }

  /** O(root)-cost incremental delete commit: append delete entries to
    * an existing tree as LOOSE root rows (root nodes legally mix
    * manifest references and direct entries, mod.rs:53-56) — only the
    * root node (O(#leaves + #loose) rows) rewrites; every leaf carries
    * into the new tree by reference. This is the CDC-ingest shape: a
    * stream of delete batches costs one tiny root rewrite each, and
    * the accumulated loose entries periodically fold into per-file
    * DVs — tree-locally via [[convertToPositionDeletes]], or into the
    * Delta log itself via [[commitAsDeletionVectors]].
    */
  def appendDeleteEntries(snap: Snapshot,
      prev: AdaptiveMetadata.ContentRoot,
      files: Seq[EqDeleteFile]): AdaptiveMetadata.ContentRoot = {
    require(files.nonEmpty, "no delete files to append")
    // roots are entrySchema-shaped (manifest + loose rows, no stats);
    // a pre-hierarchy single-node tree passing through here drops its
    // content_stats column — reads stay correct, stats pruning just
    // degrades to keep-all until the next full writeTree
    ContentTree.appendLooseEntries(snap, prev,
      deleteEntriesDF(snap.spark, files, None), prev.version)
  }

  /** Maintenance: rewrite a tree's equality deletes as position
    * deletes (Iceberg "rewrite deletes" / the forward arc of
    * dv_conversion.rs). Matched (file, row-index) pairs — found by the
    * SAME sequence-ordered null-safe join the read uses, over live
    * rows only — aggregate into per-file portable bitmaps on the
    * executors; the driver sees compressed bytes, merges each with the
    * file's existing DV at bitmap level, and packs them into one
    * `.bin` under `_delta_log/_amt`. The new tree drops the equality
    * entries; affected data entries become `Modified` with
    * `dvSnapshotId` = the snapshot version and `deletedPositions` =
    * the DELTA bitmap (newly dead rows only — mod.rs:126-135's
    * incremental-consumer contract). Reading the converted tree
    * through the plain DV'd scan returns exactly what [[readApplying]]
    * returned before conversion.
    */
  def convertToPositionDeletes(snap: Snapshot, rootLocation: String,
      numLeaves: Int = ContentTree.DEFAULT_LEAF_FANOUT)
      : AdaptiveMetadata.ContentRoot = {
    val spark = snap.spark
    val tableRoot = snap.tableRoot.toString
    val conf = spark.sessionState.newHadoopConf()
    val fs = Storage.fs(snap.tableRoot, conf)
    val rootUri = fs.makeQualified(snap.tableRoot).toUri.getPath
    val (entries, entryCount) =
      ContentTree.readEntriesWithCount(spark, rootLocation, tableRoot)
    val (withSeq, deletes) = splitEntries(spark, entries, entryCount,
      rootUri)
    require(deletes.nonEmpty,
      "tree has no equality deletes to convert")
    // no live data files / nothing matched: the converted tree is the
    // old one minus the equality entries
    def droppedOnly() = ContentTree.writeTree(snap, entries.filter(
      col("contentType") =!= ContentTree.DataContentType.EqualityDeletes),
      numLeaves)
    if (withSeq.isEmpty) return droppedOnly()

    val perFile = matchedFiles(snap, withSeq, deletes)
    if (perFile.isEmpty) return droppedOnly()

    // scan key -> tree entry, keyed as the scan served the tree's adds
    val fileKey = GraftFileIndex.fileKeyOf(spark, snap.tableRoot)
    val byPath: Map[String, AddFile] =
      withSeq.map { case (a, _) => fileKey(a) -> a }.toMap
    // merge with existing DVs at bitmap level; assemble already
    // excluded old-DV rows, so cardinalities simply add
    val merged = perFile.map { m =>
      val add = byPath(m.key)
      add.deletionVector match {
        case Some(old) =>
          val oldBytes = DeletionVectors.readBitmapBytes(old,
            snap.tableRoot, conf)
          (add.path, DeletionVectors.orBitmaps(oldBytes, m.bitmap),
            old.cardinality + m.matched)
        case None => (add.path, m.bitmap, m.matched)
      }
    }
    val descs = DeletionVectors.writeBitmaps(merged, snap.tableRoot,
      conf, prefix = "_delta_log/_amt")
    val updates = perFile.map { m =>
      val add = byPath(m.key)
      val info = ContentTree.extractDeletionVectorContent(descs(add.path))
      (Storage.decodeUriPath(add.path), info.location, info.offset,
        info.sizeInBytes, info.cardinality, m.bitmap)
    }
    import spark.implicits._
    val updDf = broadcast(updates.toDF(
      "__loc", "__dvloc", "__dvoff", "__dvsz", "__dvcard", "__newbits"))
    import ContentTree.{DataContentType, TrackingStatus}
    val hit = col("__loc").isNotNull
    val newEntries = entries
      .filter(col("contentType") =!= DataContentType.EqualityDeletes)
      .join(updDf, col("location") === col("__loc"), "left")
      .withColumn("deletionVector", when(hit, struct(
        col("__dvloc").as("location"),
        col("__dvoff").as("offset"),
        col("__dvsz").as("sizeInBytes"),
        col("__dvcard").as("cardinality")))
        .otherwise(col("deletionVector")))
      .withColumn("tracking", when(hit, col("tracking")
        .withField("status", lit(TrackingStatus.Modified))
        .withField("dvSnapshotId", lit(snap.version))
        .withField("deletedPositions", col("__newbits")))
        .otherwise(col("tracking")))
      .drop("__loc", "__dvloc", "__dvoff", "__dvsz", "__dvcard",
        "__newbits")
    ContentTree.writeTree(snap, newEntries, numLeaves)
  }
}
