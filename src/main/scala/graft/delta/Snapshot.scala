package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Immutable table state at a version (reference:
  * kernel/src/snapshot/mod.rs:74-146). Protocol + Metadata come from a
  * newest-first replay (log_segment/protocol_metadata_replay.rs). The
  * live file set, app txns and domain metadata come from ONE driver pass
  * when the segment is driver-small ([[smallState]], mirroring the
  * kernel's iterator-mode log replay, scan/log_replay.rs:155-434), and
  * from the distributed log-replay query otherwise
  * (scan/scan_plan.rs:51-133).
  */
class Snapshot(
    val spark: SparkSession,
    val tableRoot: Path,
    val segment: LogSegment,
    val protocol: Protocol,
    val metadata: Metadata,
    /** Best-effort "built as latest at build time" INTENT flag
      * (reference snapshot/mod.rs `built_as_latest`, #2905): true when
      * no explicit time-travel version was requested, or the requested
      * version equals the catalog's max ratified version. Build
      * metadata only — a later commit can stale it immediately, and it
      * never participates in snapshot content equality.
      */
    val builtAsLatest: Boolean = false) {

  val version: Long = segment.version
  lazy val schema: StructType = metadata.schema
  lazy val partitionColumns: Seq[String] = metadata.partitionColumns
  lazy val dataSchema: StructType =
    StructType(schema.fields.filterNot(f => partitionColumns.contains(f.name)))

  private def hconf = spark.sessionState.newHadoopConf()
  private def fsys = Storage.fs(tableRoot, hconf)

  /** Max total commit-JSON bytes for driver-side (non-distributed)
    * replay; conf-overridable so tests can force either path.
    */
  private val DRIVER_REPLAY_MAX_BYTES =
    spark.conf.getOption("graft.replay.driverMaxBytes")
      .map(_.toLong).getOrElse(4L << 20)

  private lazy val commitPaths = segment.deltas.map(_.path.toString)

  /** V2-checkpoint manifest info. A uuid-named checkpoint is V2 by
    * construction; a CLASSIC-named single-part checkpoint may still
    * carry V2 content (checkpointMetadata + sidecar refs — the
    * protocol's "v2 classic" shape, reference
    * checkpoint/checkpoint_shape.rs classifies by inspecting the file,
    * not the name), so sniff it with a column-pruned probe.
    */
  private[delta] lazy val v2Info: Option[Snapshot.V2Info] =
    Snapshot.hintV2Info(segment).orElse(segment.checkpointParts match {
      case Seq(top) if top.isV2 =>
        Some(Snapshot.readV2TopLevel(spark, segment.logDir, top))
      case Seq(top) if Snapshot.sniffV2(spark, top) =>
        Some(Snapshot.readV2TopLevel(spark, segment.logDir, top))
      case _ => None
    })

  /** (paths holding the checkpoint's FILE ACTIONS, are they JSON).
    * Sidecars for V2-with-sidecars; the top-level file otherwise.
    */
  private lazy val ckptData: (Seq[String], Boolean) = v2Info match {
    case Some(info) =>
      if (info.sidecarPaths.nonEmpty) (info.sidecarPaths, false)
      else (Seq(info.topLevel.path.toString),
        info.topLevel.path.getName.endsWith(".json"))
    case None => (segment.checkpointParts.map(_.path.toString), false)
  }
  private lazy val ckptPaths: Seq[String] = ckptData._1

  /** Every metadata arm of this snapshot is driver-small: commit bytes
    * under the replay cap and, when a checkpoint exists, a classic
    * parquet checkpoint with plain JSON stats under the cap too (byte
    * counts come from the segment's listing). Then ONE driver pass,
    * [[replayed]], serves the file actions, app txns and domain
    * metadata, and [[latestActions]] is a local relation whose filters
    * and projections Spark's optimizer evaluates on the driver
    * (`ConvertToLocalRelation`): no Spark job from open to pruned file
    * list (reference iterator mode, log_replay/mod.rs). Above the cap,
    * and for V2/sidecar, JSON-actions and struct-stats checkpoints, the
    * distributed reads do the work: at 100 TB the checkpoint is the big
    * side and must never be funneled through the driver.
    */
  private[delta] lazy val smallState: Boolean =
    segment.deltas.map(_.length).sum < DRIVER_REPLAY_MAX_BYTES &&
      (segment.checkpointParts.isEmpty ||
        (segment.checkpointParts.map(_.length).sum <
          DRIVER_REPLAY_MAX_BYTES && v2Info.isEmpty && !ckptHasStructStats))

  /** The table-typed `stats_parsed` struct struct-stats checkpoints
    * carry instead of stats JSON.
    */
  private[delta] lazy val statsParsedSchema: StructType = StructType(
    DataSkipping.statsSchema(ColumnMapping.physicalSchema(dataSchema))
      .fields :+
      org.apache.spark.sql.types.StructField("tightBounds",
        org.apache.spark.sql.types.BooleanType))

  /** Checkpoint read schema: LogSchema.checkpoint with `add` extended
    * by `stats_parsed` (absent column reads as NULL on checkpoints that
    * only carry stats JSON). Leaves some writers stored as UNANNOTATED
    * int32/int64 (see [[ckptStatsCompat]]) are read under their
    * physical type — Spark's vectorized reader refuses plain INT64 as
    * timestamp — and cast back after the read.
    */
  private lazy val ckptReadSchema: StructType = {
    val compat = ckptStructStats._2
      .map { case (side, name, _) => (side, name) }.toSet
    val statsParsed =
      if (compat.isEmpty) statsParsedSchema
      else StructType(statsParsedSchema.fields.map {
        case f @ org.apache.spark.sql.types.StructField(
            side @ ("minValues" | "maxValues"), st: StructType, _, _) =>
          f.copy(dataType = StructType(st.fields.map { lf =>
            if (!compat((side, lf.name))) lf
            else lf.copy(dataType = lf.dataType match {
              case org.apache.spark.sql.types.DateType =>
                org.apache.spark.sql.types.IntegerType
              case _ => org.apache.spark.sql.types.LongType
            })
          }))
        case f => f
      })
    StructType(LogSchema.checkpoint.fields.map {
      case f if f.name == "add" =>
        org.apache.spark.sql.types.StructField("add",
          StructType(LogSchema.add.fields :+
            org.apache.spark.sql.types.StructField(
              "stats_parsed", statsParsed)))
      case f => f
    })
  }

  /** One driver-side footer peek (parts share a schema): does the
    * checkpoint carry typed `add.stats_parsed`, and which min/max
    * leaves need a checkpoint-compat cast — date/timestamp columns
    * some checkpoint writers store as plain INT32/INT64 with no
    * logical annotation (reference is_checkpoint_cast_compatible,
    * kernel/src/schema/mod.rs:2059-2075: Integer→Date,
    * Long→Timestamp/TimestampNtz, checkpoint interop ONLY — never a
    * protocol widening rule). Errs toward (true, none) so the
    * normalizing rewrite still runs.
    */
  private lazy val ckptStructStats
      : (Boolean, Seq[(String, String, org.apache.spark.sql.types.DataType)]) =
    try {
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
      val s = Snapshot.footerSchema(new Path(ckptPaths.head), fsys.getConf)
      val sp = if (!s.containsField("add")) None
        else s.getType(Seq("add"): _*) match {
          case g: org.apache.parquet.schema.GroupType
              if g.containsField("stats_parsed") =>
            Some(g.getType("stats_parsed")
              .asInstanceOf[org.apache.parquet.schema.GroupType])
          case _ => None
        }
      val compat = sp.toSeq.flatMap { spg =>
        Seq("minValues", "maxValues").flatMap { side =>
          val expected = statsParsedSchema(side).dataType
            .asInstanceOf[StructType]
          if (!spg.containsField(side)) Nil
          else spg.getType(side) match {
            case grp: org.apache.parquet.schema.GroupType =>
              expected.fields.toSeq.flatMap { ef =>
                if (!grp.containsField(ef.name)) None
                else {
                  val pt = grp.getType(ef.name)
                  if (!pt.isPrimitive ||
                      pt.asPrimitiveType.getLogicalTypeAnnotation != null)
                    None
                  else (ef.dataType,
                      pt.asPrimitiveType.getPrimitiveTypeName) match {
                    case (DateType, INT32) => Some((side, ef.name, DateType))
                    case (TimestampType, INT64) =>
                      Some((side, ef.name, TimestampType))
                    case (TimestampNTZType, INT64) =>
                      Some((side, ef.name, TimestampNTZType))
                    case _ => None
                  }
                }
              }
            case _ => Nil
          }
        }
      }
      (sp.isDefined, compat)
    } catch { case _: Exception => (true, Nil) }

  private def ckptHasStructStats: Boolean = ckptStructStats._1

  /** Restore checkpoint-compat leaves to their logical types so the
    * stats JSON renders dates/timestamps, not raw epoch numbers
    * (which the skipping parser would treat as unknown and lose the
    * pruning the stats exist for).
    */
  private def applyCkptCompatCasts(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType}
    if (ckptStructStats._2.isEmpty) return df
    // ONE projection: chained withField over a single base collapses
    // in the optimizer; folding whole-struct when()-wrapped rewrites
    // instead nests the wide `add` expression exponentially and blows
    // up codegen
    val patched = ckptStructStats._2.foldLeft(col("add")) {
      case (acc, (side, name, dt)) =>
        val leaf = col(s"add.stats_parsed.$side.$name")
        val restored = dt match {
          case DateType => date_add(to_date(lit("1970-01-01")), leaf)
          case TimestampNTZType =>
            timestamp_micros(leaf).cast(TimestampNTZType)
          case _ => timestamp_micros(leaf)
        }
        acc.withField(s"stats_parsed.$side.$name", restored)
    }
    df.withColumn("add", when(col("add").isNotNull, patched))
  }

  /** Version a log file advances to, from its name: a commit
    * `NNN.json` contributes NNN; a compacted `LO.HI.compacted.json`
    * contributes HI (its actions are the newest in the range); a
    * staged catalog commit `NNN.{uuid}.json` contributes NNN.
    */
  private def versionFromFileName: Column =
    coalesce(
      nullif(regexp_extract(col("_metadata.file_path"),
        raw"(\d{20})\.(\d{20})\.compacted\.json", 2), lit("")),
      nullif(regexp_extract(col("_metadata.file_path"),
        raw"_staged_commits/(\d{20})\.[^/]+\.json", 1), lit("")),
      regexp_extract(col("_metadata.file_path"), raw"(\d{20})\.json", 1))
      .cast("long")

  private lazy val latestActionsSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("key",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("add", LogSchema.add),
    org.apache.spark.sql.types.StructField("remove", LogSchema.remove),
    org.apache.spark.sql.types.StructField("version",
      org.apache.spark.sql.types.LongType)))

  /** Latest file action per (path, dvId): columns
    * (key, add, remove, version). Driver-small state is a local relation
    * over [[replayed]]; otherwise distributed log replay — the groupBy
    * shuffles only the commit arm (small); the checkpoint arm joins
    * against a broadcast of the commit keys (reference scan_plan.rs
    * anti-join shape; SURVEY.md §2.2).
    */
  lazy val latestActions: DataFrame = if (smallState) {
    localRelation(latestActionsSchema, replayed.files.map(f => Row(f.key,
      f.add.map(RowCodec.addToRow).orNull,
      f.remove.map(RowCodec.removeToRow).orNull, f.version)))
  } else {
    val commitArm: Option[DataFrame] =
      if (commitPaths.isEmpty) None
      else Some {
        val raw = spark.read.schema(LogSchema.full).json(commitPaths: _*)
          .withColumn("version", versionFromFileName)
          .filter(col("add").isNotNull || col("remove").isNotNull)
          .withColumn("key", Snapshot.fileKeyExpr)
        raw.groupBy(col("key"))
          .agg(
            max_by(struct(col("add"), col("remove")), col("version")).as("a"),
            max(col("version")).as("version"))
          .select(col("key"), col("a.add").as("add"),
            col("a.remove").as("remove"), col("version"))
      }

    val ckptArm: Option[DataFrame] =
      if (ckptPaths.isEmpty) None
      else Some {
        // struct-stats-only checkpoints (reference scan_plan
        // struct-stats fixtures) carry TYPED stats_parsed and no stats
        // JSON — render the struct to the JSON shape the skipping path
        // parses; to_json drops null leaves, which read back as
        // unknown (file kept), exactly right. The rewrite is gated on
        // the file actually HAVING stats_parsed: the withField/
        // dropFields over a table-width struct codegens O(columns²)
        // and most checkpoints carry plain JSON stats.
        val hasStructStats = !ckptData._2 && ckptHasStructStats
        val reader = spark.read.schema(
          if (hasStructStats) ckptReadSchema else LogSchema.checkpoint)
        val base = (if (ckptData._2) reader.json(ckptPaths: _*)
          else reader.parquet(ckptPaths: _*))
          .filter(col("add").isNotNull || col("remove").isNotNull)
        val normalized =
          if (!hasStructStats) base
          else applyCkptCompatCasts(base)
            .withColumn("add", when(col("add").isNotNull,
            col("add").withField("stats",
              coalesce(col("add.stats"), to_json(col("add.stats_parsed"))))
              .dropFields("stats_parsed")))
        normalized
          .withColumn("key", Snapshot.fileKeyExpr)
          .withColumn("version", lit(segment.checkpointVersion.get))
          .select(col("key"), col("add"), col("remove"), col("version"))
      }

    (commitArm, ckptArm) match {
      case (Some(c), Some(k)) =>
        c.unionByName(
          k.join(broadcast(c.select("key")), Seq("key"), "left_anti"))
      case (Some(c), None) => c
      case (None, Some(k)) => k
      case (None, None) =>
        spark.createDataFrame(
          java.util.Collections.emptyList[Row](),
          StructType(Seq()))
    }
  }

  /** Live adds: DataFrame with one `add` struct column + `version`. */
  lazy val allAdds: DataFrame =
    if (smallState) localRelation(addsSchema, replayed.files.flatMap(f =>
      f.add.map(a => Row(RowCodec.addToRow(a), f.version))))
    else latestActions.filter(col("add").isNotNull)
      .select(col("add"), col("version"))

  /** A local relation over driver rows: Spark's optimizer evaluates the
    * filters and projections over it on the driver
    * (`ConvertToLocalRelation`), so collecting runs no job. The rows
    * convert interpretively, without the serializer codegen
    * `createDataFrame` pays per call.
    */
  private def localRelation(schema: StructType, rows: Seq[Row]): DataFrame =
    org.apache.spark.sql.classic.GraftShims.ofRows(spark,
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation
        .fromExternalRows(org.apache.spark.sql.catalyst.types.DataTypeUtils
          .toAttributes(schema), rows))

  private[delta] lazy val addsSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("add", LogSchema.add),
    org.apache.spark.sql.types.StructField("version",
      org.apache.spark.sql.types.LongType)))

  /** One newest-first driver pass over the segment, first seen wins
    * (mirrors FileActionDeduplicator, log_replay/mod.rs:32-116): every
    * commit file once, then the checkpoint. It keeps the winning action
    * of BOTH kinds per file key (so checkpoint reconciliation sees the
    * tombstones too), the latest txn per app id and the latest domain
    * metadata per domain (removals included, so a newer removal shadows
    * an older checkpoint row). File actions are kept only for
    * driver-small state, whose checkpoint is read in-process; above the
    * cap only txn and domain lines are parsed, and the checkpoint's come
    * from its V2 manifest or one Spark read.
    */
  private lazy val replayed: Snapshot.DriverState = {
    val keepFiles = smallState
    val seen = scala.collection.mutable.HashSet.empty[String]
    val files = Seq.newBuilder[Snapshot.FileAction]
    val txns = scala.collection.mutable.LinkedHashMap
      .empty[String, SetTransaction]
    val domains = scala.collection.mutable.LinkedHashMap
      .empty[String, DomainMetadata]
    def file(a: Option[AddFile], r: Option[RemoveFile], v: Long): Unit = {
      val key = a.map(x => Snapshot.fileKey(x.path, x.deletionVector))
        .getOrElse(Snapshot.fileKey(r.get.path, r.get.deletionVector))
      if (seen.add(key)) files += Snapshot.FileAction(key, a, r, v)
    }
    def txn(t: SetTransaction): Unit =
      if (!txns.contains(t.appId)) txns(t.appId) = t
    def domain(d: DomainMetadata): Unit =
      if (!domains.contains(d.domain)) domains(d.domain) = d
    val fs = fsys
    val kinds = Set("txn", "domainMetadata") ++
      (if (keepFiles) Set("add", "remove") else Nil)
    segment.deltas.sortBy(f => -LogSegment.endVersion(f)).foreach { c =>
      val v = LogSegment.endVersion(c)
      JsonLog.readCommit(fs, c.path, kinds).foreach { case (_, a) =>
        a.txn.foreach(txn)
        a.domainMetadata.foreach(domain)
        if (a.add.nonEmpty || a.remove.nonEmpty) file(a.add, a.remove, v)
      }
    }
    segment.checkpointVersion.foreach { v =>
      def struct(r: Row, name: String): Option[Row] = {
        val i = r.fieldIndex(name)
        if (r.isNullAt(i)) None else Some(r.getStruct(i))
      }
      def txnAndDomain(r: Row): Unit = {
        struct(r, "txn").foreach(t => txn(RowCodec.rowToTxn(t)))
        struct(r, "domainMetadata")
          .foreach(d => domain(RowCodec.rowToDomain(d)))
      }
      if (keepFiles) localCheckpointRows().foreach { r =>
        struct(r, "add") match {
          case Some(a) => file(Some(RowCodec.rowToAdd(a)), None, v)
          case None => struct(r, "remove").foreach(x =>
            file(None, Some(RowCodec.rowToRemove(x)), v))
        }
        txnAndDomain(r)
      }
      else v2Info match {
        case Some(info) =>
          info.txns.foreach(txn); info.domainMetadatas.foreach(domain)
        case None => spark.read.schema(LogSchema.checkpoint)
          .parquet(ckptPaths: _*)
          .filter(col("txn").isNotNull || col("domainMetadata").isNotNull)
          .select("txn", "domainMetadata").collect().foreach(txnAndDomain)
      }
    }
    Snapshot.DriverState(files.result(), txns.values.toSeq,
      domains.values.toSeq)
  }

  /** The driver-small classic checkpoint's file, txn and domain rows,
    * read on the driver through Spark's own parquet reader: the schema
    * handling of `spark.read.schema(..).parquet`, without a job.
    */
  private def localCheckpointRows(): Iterator[Row] = {
    val schema = StructType(LogSchema.checkpoint.fields.filter(f =>
      Set("txn", "add", "remove", "domainMetadata")(f.name)))
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), hconf)
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    segment.checkpointParts.iterator.flatMap(p =>
      read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(p.path),
        0L, p.length, Array.empty, 0L, p.length, Map.empty)))
      .map(r => toRow(r).asInstanceOf[Row])
  }

  /** Latest SetTransaction per appId (reference
    * actions/set_transaction.rs), from [[replayed]].
    */
  lazy val setTransactions: Seq[SetTransaction] = replayed.txns

  /** Latest domain metadata per domain (reference actions/mod.rs:1326,
    * snapshot domain-metadata resolution), from [[replayed]]. Removed
    * domains are dropped.
    */
  lazy val domainMetadatas: Seq[DomainMetadata] =
    replayed.domains.filterNot(_.removed)

  /** Configuration string of one domain, if present and not removed. */
  def domainMetadata(domain: String): Option[String] =
    domainMetadatas.find(_.domain == domain).map(_.configuration)

  def scanBuilder(): ScanBuilder = new ScanBuilder(this)

  /** Full-table read (no predicate). */
  def toDF: DataFrame = scanBuilder().build().toDF
}

object Snapshot {

  /** The winning file action of one dedup key and the version it came
    * from; exactly one of `add` and `remove` is set.
    */
  private[delta] case class FileAction(key: String, add: Option[AddFile],
      remove: Option[RemoveFile], version: Long)

  private case class DriverState(files: Seq[FileAction],
      txns: Seq[SetTransaction], domains: Seq[DomainMetadata])

  /** Dedup key of a file action (reference log_replay/deduplicator.rs:153
    * FileActionKey{path, dv_unique_id}): the canonical path, so a remove
    * naming `file:/p` shadows an add naming `/p`, then '@' and the DV's
    * uniqueId. The uniqueId's own '@' before the offset keeps apart keys
    * that plain concatenation merges: DV `/x/dv.bin1` at offset 2 and
    * `/x/dv.bin` at offset 12.
    */
  private[delta] def fileKey(path: String,
      dv: Option[DeletionVectorDescriptor]): String =
    Storage.canonicalPathKey(path) + "@" + dv.map(_.uniqueId).getOrElse("")

  /** [[fileKey]] of a log row's `add`, or of its `remove` when `add` is
    * null, as a column.
    */
  private[delta] def fileKeyExpr: Column = {
    def key(side: String) = {
      val dv = col(s"$side.deletionVector")
      concat(
        regexp_replace(col(s"$side.path"), Storage.URI_PREFIX_REGEX, ""),
        lit("@"), when(dv.isNull, lit("")).otherwise(concat(
          dv.getField("storageType"), dv.getField("pathOrInlineDv"),
          coalesce(concat(lit("@"), dv.getField("offset").cast("string")),
            lit("")))))
    }
    when(col("add").isNotNull, key("add")).otherwise(key("remove"))
  }

  /** V2 checkpoint top-level content (reference
    * checkpoint/checkpoint_shape.rs, actions/mod.rs:1251 Sidecar): P&M,
    * txns, and sidecar refs; file actions live in the sidecar parquet
    * files, or in the top-level file itself when it has none.
    */
  private[delta] case class V2Info(
      topLevel: FileNames.CheckpointFile,
      protocol: Option[Protocol],
      metadata: Option[Metadata],
      txns: Seq[SetTransaction],
      domainMetadatas: Seq[DomainMetadata],
      sidecarPaths: Seq[String])

  /** A parquet file's footer schema, decoded without the row-group
    * metadata: a schema peek at about a tenth of a full footer open.
    */
  private def footerSchema(path: Path,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.schema.MessageType = {
    ParquetFooterStats.readFooter(path, conf, org.apache.parquet.format
      .converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
      .getFileMetaData.getSchema
  }

  /** Does a classic-named single-part checkpoint carry V2 content?
    * One column-pruned scan for a checkpointMetadata row — cheap even
    * against a million-add classic checkpoint.
    */
  private[delta] def sniffV2(spark: SparkSession,
      top: FileNames.CheckpointFile): Boolean = {
    // fast path: a parquet checkpoint whose FOOTER schema lacks a
    // checkpointMetadata column cannot be V2 — a driver-side footer
    // read answers that without launching a Spark job (the common case:
    // every V1 classic checkpoint, including our own)
    if (!top.path.getName.endsWith(".json")) {
      val hasColumn = try footerSchema(top.path,
          spark.sessionState.newHadoopConf())
        .containsField("checkpointMetadata")
      catch { case _: Exception => true } // unreadable footer → probe
      if (!hasColumn) return false
    }
    val probeSchema = StructType(Seq(org.apache.spark.sql.types.StructField(
      "checkpointMetadata", LogSchema.checkpointMetadata)))
    val reader = spark.read.schema(probeSchema)
    val df =
      if (top.path.getName.endsWith(".json")) reader.json(top.path.toString)
      else reader.parquet(top.path.toString)
    !df.filter(col("checkpointMetadata").isNotNull).isEmpty
  }

  /** V2 checkpoint info served ENTIRELY from the `_last_checkpoint`
    * hint's v2Checkpoint object (reference #2777): when the hint
    * identifies the segment's selected checkpoint and carries BOTH its
    * sidecar refs and its non-file actions, the top-level checkpoint
    * file is never opened — at 100 TB scale that removes one parquet
    * footer+scan round trip from every snapshot build. `appliesTo`
    * gates identity (several checkpoints can share a version); any
    * missing piece falls back to reading the file.
    */
  private[delta] def hintV2Info(segment: LogSegment): Option[V2Info] =
    for {
      hint <- segment.lastCheckpointHint
      if hint.appliesTo(segment.checkpointParts)
      v2 <- hint.v2Checkpoint
      scs <- v2.sidecarFiles
      nfa <- v2.nonFileActions
      // partial non-file actions (a foreign writer omitting P&M)
      // cannot substitute for the file: fall back to reading it
      if nfa.protocol.nonEmpty && nfa.metadata.nonEmpty
    } yield V2Info(
      segment.checkpointParts.head,
      nfa.protocol, nfa.metadata, nfa.txns, nfa.domainMetadatas,
      scs.map(sc => new Path(
        new Path(segment.logDir, "_sidecars"), sc.path).toString))

  private[delta] def readV2TopLevel(spark: SparkSession, logDir: Path,
      top: FileNames.CheckpointFile): V2Info = {
    val isJson = top.path.getName.endsWith(".json")
    val reader = spark.read.schema(LogSchema.v2Checkpoint)
    // manifest rows only — the collect must stay metadata-sized even
    // when file actions are inlined in the top level
    val rows =
      (if (isJson) reader.json(top.path.toString)
       else reader.parquet(top.path.toString))
        .filter(col("protocol").isNotNull || col("metaData").isNotNull ||
          col("txn").isNotNull || col("domainMetadata").isNotNull ||
          col("sidecar").isNotNull)
        .select("protocol", "metaData", "txn", "domainMetadata", "sidecar")
        .collect().toSeq
    def field(r: Row, n: String): Option[Row] = {
      val i = r.fieldIndex(n)
      if (r.isNullAt(i)) None else Some(r.getStruct(i))
    }
    var proto: Option[Protocol] = None
    var meta: Option[Metadata] = None
    val txns = scala.collection.mutable.ArrayBuffer.empty[SetTransaction]
    val dms = scala.collection.mutable.ArrayBuffer.empty[DomainMetadata]
    val sidecars = scala.collection.mutable.ArrayBuffer.empty[String]
    rows.foreach { r =>
      field(r, "protocol").foreach(p => proto = Some(RowCodec.rowToProtocol(p)))
      field(r, "metaData").foreach(m => meta = Some(RowCodec.rowToMetadata(m)))
      field(r, "txn").foreach(t => txns += RowCodec.rowToTxn(t))
      field(r, "domainMetadata")
        .foreach(d => dms += RowCodec.rowToDomain(d))
      field(r, "sidecar").foreach { sc =>
        sidecars += new Path(new Path(logDir, "_sidecars"),
          sc.getAs[String]("path")).toString
      }
    }
    V2Info(top, proto, meta, txns.toSeq, dms.toSeq, sidecars.toSeq)
  }

  /** Build a snapshot (reference snapshot/builder.rs flow): list log,
    * assemble segment, replay P&M newest-first, validate protocol.
    */
  def forTable(spark: SparkSession, tablePath: String,
      version: Option[Long] = None): Snapshot =
    forTable(spark, tablePath, version, Nil, None)

  /** Catalog-aware build (reference snapshot/builder.rs
    * `with_log_tail` / `with_max_catalog_version` + its pre/post
    * validations): `logTail` is the catalog's ratified-but-unpublished
    * commits, `maxCatalogVersion` its max ratified version. Required
    * for catalog-managed tables; forbidden otherwise.
    */
  def forTable(spark: SparkSession, tablePath: String,
      version: Option[Long], logTail: Seq[CatalogCommit],
      maxCatalogVersion: Option[Long]): Snapshot = {
    // pre-build validations (builder.rs:326-392)
    logTail.sliding(2).foreach {
      case Seq(a, b) => require(a.version + 1 == b.version,
        s"log tail versions not contiguous: ${a.version} then ${b.version}")
      case _ => ()
    }
    require(logTail.isEmpty || maxCatalogVersion.isDefined,
      "max catalog version is required when providing staged commits " +
        "in the log tail")
    for (v <- version; m <- maxCatalogVersion)
      require(v <= m, s"requested version $v exceeds max catalog version $m")
    (maxCatalogVersion, logTail.lastOption) match {
      case (Some(m), Some(last)) => version match {
        case Some(v) => require(last.version >= v,
          s"log tail ends at ${last.version}, below requested version $v")
        case None => require(last.version == m,
          s"log tail ends at ${last.version}, expected max catalog " +
            s"version $m")
      }
      case _ => ()
    }
    val hasCatalog = maxCatalogVersion.isDefined
    // time travel within the tail still bounds by the requested
    // version; otherwise the catalog's max version is the target
    // (builder.rs effective_version)
    val effectiveVersion = version.orElse(maxCatalogVersion)

    // latest INTENT (builder.rs:265-267): no explicit time-travel
    // version, or exactly the catalog's max ratified version
    val builtAsLatest = version.isEmpty || version == maxCatalogVersion

    val opId = Metrics.newId()
    val t0 = Metrics.now()
    try forTableTimed(spark, tablePath, effectiveVersion, logTail,
      hasCatalog, opId, t0, builtAsLatest)
    catch {
      case e: Exception =>
        Metrics.report(MetricEvent.SnapshotBuildFailure(opId,
          Metrics.now() - t0, e.toString))
        throw e
    }
  }

  private def forTableTimed(spark: SparkSession, tablePath: String,
      effectiveVersion: Option[Long], logTail: Seq[CatalogCommit],
      hasCatalog: Boolean, opId: String, t0: Long,
      builtAsLatest: Boolean): Snapshot = {
    val root = new Path(tablePath)
    val conf = spark.sessionState.newHadoopConf()
    val fs = Storage.fs(root, conf)
    val logDir = FileNames.logDir(root)
    val segment = LogSegment.forVersion(fs, logDir, effectiveVersion, logTail)
    Metrics.report(MetricEvent.LogSegmentLoadSuccess(opId,
      Metrics.now() - t0, segment.version, segment.deltas.size,
      segment.checkpointParts.size))
    val segFiles = segment.deltas ++ segment.checkpointParts
    Metrics.report(MetricEvent.IoBytes(opId, "log_segment",
      segFiles.size.toLong, segFiles.map(_.length).sum))

    // CRC fast path (reference crc/mod.rs): a valid checksum at the
    // snapshot version supplies P&M without any replay
    Checksum.read(fs, logDir, segment.version).foreach { c =>
      Metrics.report(MetricEvent.CrcReadSuccess(opId, segment.version))
      val s = gated(
        new Snapshot(spark, root, segment, c.protocol, c.metadata,
          builtAsLatest),
        hasCatalog)
      Metrics.report(MetricEvent.SnapshotBuildSuccess(opId,
        Metrics.now() - t0, segment.version, "crc"))
      return s
    }

    // newest-first P&M replay over commits
    var (protocol, metadata) = JsonLog.protocolAndMetadata(fs,
      segment.deltas.sortBy(f => -LogSegment.endVersion(f)).map(_.path))
    // fall back to the checkpoint (V2: the top-level file carries P&M)
    val pmFromCheckpoint = protocol.isEmpty || metadata.isEmpty
    if (pmFromCheckpoint && segment.checkpointParts.nonEmpty) {
      if (segment.isV2Checkpoint) {
        val info = hintV2Info(segment).getOrElse(
          readV2TopLevel(spark, segment.logDir,
            segment.checkpointParts.head))
        if (protocol.isEmpty) protocol = info.protocol
        if (metadata.isEmpty) metadata = info.metadata
      } else {
        val pm = spark.read.schema(LogSchema.checkpoint)
          .parquet(segment.checkpointParts.map(_.path.toString): _*)
          .filter(col("metaData").isNotNull || col("protocol").isNotNull)
          .select("metaData", "protocol").collect()
        pm.foreach { r =>
          if (!r.isNullAt(1) && protocol.isEmpty)
            protocol = Some(RowCodec.rowToProtocol(r.getStruct(1)))
          if (!r.isNullAt(0) && metadata.isEmpty)
            metadata = Some(RowCodec.rowToMetadata(r.getStruct(0)))
        }
      }
    }
    val p = protocol.getOrElse(throw new IllegalStateException(
      s"no protocol action found for $tablePath@${segment.version}"))
    val m = metadata.getOrElse(throw new IllegalStateException(
      s"no metaData action found for $tablePath@${segment.version}"))
    val s = gated(new Snapshot(spark, root, segment, p, m,
      builtAsLatest), hasCatalog)
    Metrics.report(MetricEvent.SnapshotBuildSuccess(opId,
      Metrics.now() - t0, segment.version,
      if (pmFromCheckpoint) "checkpoint" else "commit"))
    s
  }

  /** Advance `prev` with commits past its version without relisting the
    * whole log (reference snapshot/incremental.rs `builder_from`):
    * list only `> prev.version`, append the new commits to the prior
    * segment, and replay P&M over just the new commits.
    */
  def refresh(prev: Snapshot): Snapshot = {
    val conf = prev.spark.sessionState.newHadoopConf()
    val fs = Storage.fs(prev.tableRoot, conf)
    val logDir = prev.segment.logDir
    val newCommits = Storage.listSortedFrom(fs, logDir,
        f"${prev.version + 1}%020d")
      .flatMap(st => FileNames.parse(st))
      .collect { case c: FileNames.CommitFile if c.version > prev.version => c }
      .sortBy(_.version)
    if (newCommits.isEmpty) return prev
    newCommits.zipWithIndex.foreach { case (c, i) =>
      require(c.version == prev.version + 1 + i,
        s"missing commit ${prev.version + 1 + i} during refresh")
    }
    val segment = LogSegment(logDir,
      newCommits.last.version,
      prev.segment.deltas ++ newCommits,
      prev.segment.checkpointParts,
      prev.segment.checkpointVersion,
      // same checkpoint selection, so the prior hint still applies —
      // dropping it would cost the refreshed snapshot the
      // skip-the-top-level V2 read
      prev.segment.lastCheckpointHint)
    val (protocol, metadata) =
      JsonLog.protocolAndMetadata(fs, newCommits.reverse.map(_.path))
    // refresh always advances to the current latest (incremental.rs)
    gated(new Snapshot(prev.spark, prev.tableRoot, segment,
      protocol.getOrElse(prev.protocol), metadata.getOrElse(prev.metadata),
      true))
  }

  /** The reader-side protocol gate alone (reference
    * table_features/mod.rs:102-185): version <= 3 and every advertised
    * readerFeature actually implemented. Used by snapshot builds (via
    * [[gated]]) and by CDF range replay, which must validate PROTOCOL
    * ACTIONS INSIDE the range — an in-range upgrade to an unsupported
    * feature would otherwise emit change rows this engine cannot
    * decode. "timestampWithoutTimezone" is not a protocol feature
    * name, but existing tables carry it in their feature arrays;
    * accepted on read as an alias of timestampNtz (reference
    * table_features/mod.rs:148-156, delta-kernel-rs#2557).
    */
  private lazy val supportedReaderFeatures =
    Set("deletionVectors", "timestampNtz", "timestampWithoutTimezone",
      "columnMapping",
      "vacuumProtocolCheck", "v2Checkpoint",
      "variantType", "variantType-preview",
      "variantShredding", "variantShredding-preview",
      "typeWidening", "typeWidening-preview", GeoTypes.FEATURE,
      CatalogManaged.FEATURE, CatalogManaged.FEATURE_PREVIEW)

  private[delta] def requireReadable(p: Protocol): Unit = {
    require(p.minReaderVersion <= 3,
      s"unsupported minReaderVersion ${p.minReaderVersion}")
    p.readerFeatures.getOrElse(Nil).foreach { f =>
      require(supportedReaderFeatures.contains(f),
        s"unsupported reader feature: $f")
    }
  }

  private def gated(s: Snapshot, hasCatalog: Boolean = false): Snapshot = {
    val p = s.protocol
    val m = s.metadata

    // Catalog-managed post-build validation (reference
    // snapshot/builder.rs validate_catalog_managed_build_result): a
    // catalog-managed table built without catalog information could
    // silently miss ratified-but-unpublished commits; a path-based
    // table given catalog information indicates a caller bug.
    if (CatalogManaged.isCatalogManaged(p))
      require(hasCatalog,
        "table is catalog-managed: snapshot builds require the " +
          "catalog's log tail and max ratified version")
    else
      require(!hasCatalog,
        "catalog information was provided for a table that is not " +
          "catalog-managed")

    // Reader-version gate (reference table_features/mod.rs:102-185).
    // Only features the scan actually implements are accepted — an
    // advertised-but-unimplemented feature would produce silent wrong
    // answers (e.g. all-NULL columns on a column-mapped table).
    requireReadable(p)
    // geo columns require the feature in BOTH lists (reference
    // table_features/geospatial.rs validate_geospatial_feature_support)
    if (GeoTypes.containsGeo(s.schema))
      require(
        p.readerFeatures.exists(_.contains(GeoTypes.FEATURE)) &&
          p.writerFeatures.exists(_.contains(GeoTypes.FEATURE)),
        "table contains geometry or geography columns but does not " +
          s"declare the '${GeoTypes.FEATURE}' reader+writer feature")
    val cmMode = ColumnMapping.mode(m)
    require(ColumnMapping.SUPPORTED_MODES.contains(cmMode),
      s"unsupported delta.columnMapping.mode '$cmMode'")
    ColumnMapping.validateSchemaAnnotations(s.schema, cmMode)
    // icebergCompat V1/V2/V3 invariants run on every configuration build (reference
    // table_configuration.rs:235)
    IcebergCompat.validate(p, m, s.schema)
    // feature-dependency validation for every ENABLED feature
    // (reference table_configuration.rs:605-645
    // validate_feature_requirements over FeatureInfo tables)
    FeatureRequirements.validateEnabled(p, m)
    s
  }
}
