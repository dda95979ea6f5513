package graft.delta

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericRowWithSchema}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}

import scala.jdk.CollectionConverters._

/** Scan builder (reference: kernel/src/scan/mod.rs:226-518): resolve the
  * read schema, split the predicate into partition vs data conjuncts,
  * prune files by typed partition values and by min/max stats, then hand
  * the surviving file list to a distributed parquet read with per-file
  * partition-value injection (the physical→logical transform,
  * scan/transform_spec.rs).
  */
class ScanBuilder(snapshot: Snapshot) {
  private var predicateSql: Option[String] = None

  /** Predicate over table columns, as Spark SQL text (mirrors the
    * kernel's engine-agnostic `Predicate` tree).
    */
  def withPredicate(sql: String): ScanBuilder = { predicateSql = Some(sql); this }

  def build(): DeltaScan = new DeltaScan(snapshot, predicateSql)
}

/** One file's result of [[DeltaScan.matchPerFile]]: its
  * [[GraftFileIndex.fileKey]], matched and live row counts, and the
  * matched row indexes as portable roaring-bitmap bytes (null unless
  * asked for).
  */
private[graft] case class FileMatch(key: String, matched: Long,
    live: Long, bitmap: Array[Byte])

class DeltaScan(val snapshot: Snapshot, val predicateSql: Option[String]) {
  private val spark = snapshot.spark
  private val partCols = snapshot.partitionColumns
  private val schema = snapshot.schema
  private val cmMode = ColumnMapping.mode(snapshot.metadata)
  /** logical name → physical name for top-level fields */
  private def physName(name: String): String =
    ColumnMapping.physicalName(schema.fields.find(_.name == name).get)

  private lazy val predicate: Option[Expression] =
    predicateSql.map(DataSkipping.parse(spark, _))

  /** Static skip-all (reference scan/mod.rs:459-461, scan_plan.rs:59-60):
    * a predicate with a foldable conjunct that evaluates to false/NULL
    * can never select a row — skip log replay and data reads entirely.
    */
  private[delta] lazy val staticallyFalse: Boolean =
    predicate.exists(p => DataSkipping.conjuncts(p).exists { c =>
      c.foldable && {
        val v = c.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        v == null || v == false
      }
    })

  private lazy val (explicitPartConjuncts, dataConjuncts) = {
    val cs = predicate.map(DataSkipping.conjuncts).getOrElse(Nil)
    cs.partition { c =>
      val refs = DataSkipping.references(c)
      refs.nonEmpty && refs.subsetOf(partCols.toSet)
    }
  }

  /** Explicit partition conjuncts plus those DERIVED from base-column
    * predicates through generated partition columns
    * (GeneratedPruning — `day GENERATED ALWAYS AS (CAST(ts AS DATE))`
    * queried on `ts` still prunes partitions).
    */
  private lazy val partConjuncts: Seq[Expression] =
    explicitPartConjuncts ++ GeneratedPruning.derive(
      spark, schema, partCols, dataConjuncts)

  private def fieldType(name: String): DataType =
    schema.fields.find(_.name == name).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(s"no such column $name"))

  /** Typed partition-values struct from the string map (reference
    * MapToStruct, expressions/mod.rs:643-668). Map keys are PHYSICAL
    * column names on column-mapped tables.
    */
  private def pvStruct: Column =
    struct(partCols.map(c =>
      PartitionValues.castExpr("add.partitionValues", physName(c),
        fieldType(c)).as(c)): _*)

  /** Surviving add actions after partition pruning + stats skipping
    * (reference scan/data_skipping.rs; removes are never pruned —
    * pruning here runs on the post-replay live set, and per-file stats
    * are identical for a given (path, dv) key, so pruning before vs
    * after dedup is equivalent — scan_plan.rs:85-98).
    */
  lazy val filesDF: DataFrame = if (staticallyFalse) {
    spark.createDataFrame(
      java.util.Collections.emptyList[Row](), snapshot.addsSchema)
  } else pruneAdds(snapshot.allAdds)

  /** Apply this scan's partition pruning + stats skipping to an
    * arbitrary adds DataFrame (same shape as [[Snapshot.allAdds]]).
    * Besides the scan itself, conflict resolution reuses this to prove
    * a winning commit's adds cannot match a DML predicate.
    */
  private[delta] def pruneAdds(df0: DataFrame): DataFrame = {
    var df = df0
    if (partCols.nonEmpty && partConjuncts.nonEmpty) {
      val pp = partConjuncts.map { c =>
        c.transform {
          case a: UnresolvedAttribute if a.nameParts.size == 1 =>
            UnresolvedAttribute(Seq("__pv", a.nameParts.head))
        }
      }.map(_.sql).mkString(" AND ")
      df = df.withColumn("__pv", pvStruct).filter(expr(pp)).drop("__pv")
    }
    if (dataConjuncts.nonEmpty) {
      // stats JSON keys are physical names on column-mapped tables —
      // rewrite over the physical stats schema with predicate attributes
      // renamed logical → physical first. Paths are LOGICAL leaf paths
      // into nested structs; each segment renames independently.
      val physData = ColumnMapping.physicalSchema(snapshot.dataSchema)
      def l2pWalk(st: StructType,
          prefix: Seq[String], physPrefix: Seq[String],
          out: scala.collection.mutable.Map[Seq[String], Seq[String]])
          : Unit =
        st.fields.foreach { f =>
          val lp = prefix :+ f.name
          val pp = physPrefix :+ ColumnMapping.physicalName(f)
          out(lp) = pp
          f.dataType match {
            case nested: StructType => l2pWalk(nested, lp, pp, out)
            case _ =>
          }
        }
      val l2p = {
        val m = scala.collection.mutable.Map
          .empty[Seq[String], Seq[String]]
        l2pWalk(snapshot.dataSchema, Nil, Nil, m)
        m
      }
      val physConjuncts = dataConjuncts.map(_.transform {
        case a: UnresolvedAttribute if l2p.contains(a.nameParts) =>
          UnresolvedAttribute(l2p(a.nameParts))
      })
      val statsSchema = DataSkipping.statsSchema(physData)
      val eligible = DataSkipping.eligiblePaths(physData)
      val nullFields = DataSkipping.nullCountPaths(physData)
      val skips = physConjuncts.flatMap(
        DataSkipping.rewrite(_, eligible, nullFields))
      // numRecords = 0 ⇒ the file has no rows, so NO predicate can
      // match it — skip even when the predicate itself is unprovable
      // from min/max stats (reference kernel/src/scan/data_skipping.rs
      // :880-886). Guarded per-term by coalesce: absent stats keep.
      val numRecTerm = "coalesce(__stats.numRecords > 0, true)"
      val skipSql = (numRecTerm +: skips.map(s =>
        s"coalesce(${s.sql}, true)")).mkString(" AND ")
      // Parse ONLY the stat leaves the terms reference. At 1M+ adds the
      // from_json over the full stats schema (nullCount mirrors every
      // data column) dominates planning; a predicate on one column needs
      // one or two leaves + numRecords, and Jackson skips unprojected
      // fields far cheaper than it materializes them. The reference's
      // stats schema is similarly derived from the predicate's referenced
      // columns (kernel/src/scan/data_skipping/stats_schema/mod.rs).
      val referenced: Set[Seq[String]] = skips.flatMap(_.collect {
        case a: UnresolvedAttribute if a.nameParts.head == "__stats" =>
          a.nameParts.tail
      }).toSet + Seq("numRecords")
      val prunedStats = DataSkipping.pruneToPaths(statsSchema, referenced)
      df = df.withColumn("__stats",
          from_json(col("add.stats"), prunedStats))
        // missing/partial stats ⇒ NULL comparisons ⇒ coalesce keeps the file
        .filter(expr(skipSql))
        .drop("__stats")
    }
    df
  }

  def collectAddFiles(): Seq[AddFile] = collectAddFiles(slim = false)

  /** filesDF with the heavyweight add payloads nulled — the ONE
    * definition of "slim" both the collecting and streaming handoffs
    * share (diverging copies would let the two paths strip different
    * payloads silently).
    */
  private def slimFilesDF: DataFrame =
    filesDF.withColumn("add", col("add")
      .withField("stats", lit(null).cast(StringType))
      .withField("tags",
        lit(null).cast(MapType(StringType, StringType))))

  /** Collect the surviving adds to the driver. `slim = true` strips
    * stats JSON + tags first — at millions of files that is the
    * difference between collecting gigabytes and collecting path
    * metadata. `where` further filters the log's add rows (`add.*`).
    * The metadata QUERY stays distributed either way; only the final
    * file list materializes ([[addFileIterator]] is the streaming
    * handoff beyond even that).
    */
  private[graft] def collectAddFiles(slim: Boolean,
      where: Column = lit(true)): Seq[AddFile] = {
    val t0 = Metrics.now()
    val df = if (!slim) filesDF else slimFilesDF
    val proj = df.filter(where).select("add.*")
    // force optimization + physical planning so planNs/execNs cleanly
    // partition the total (AQE may still re-plan during execution)
    proj.queryExecution.executedPlan
    val tPlan = Metrics.now()
    val out = proj.collect().toSeq.map(RowCodec.rowToAdd)
    val tEnd = Metrics.now()
    val (scanMs, dedupMs, pipeMs) =
      DeltaScan.execPhaseMetrics(proj.queryExecution)
    Metrics.report(MetricEvent.ScanFilesCollected(Metrics.newId(),
      tEnd - t0, out.size, predicateSql, slim,
      planNs = tPlan - t0, execNs = tEnd - tPlan,
      scanExecMs = scanMs, dedupExecMs = dedupMs,
      pipelineExecMs = pipeMs))
    out
  }

  /** Original stats JSON for the named add paths — the stats-by-
    * reference leg of the slim DV-DML collects: the candidate collect
    * stays slim (path/pv/size/DV), and only the files that re-enter the
    * log as DV swaps pull their stats, bounding the driver's stats heap
    * by the commit's own write amplification instead of the candidate
    * set. A plain `IN` filter over [[filesDF]], so a driver-small
    * snapshot's local file list answers it with no Spark job.
    */
  private[graft] def statsForPaths(paths: Set[String]): Map[String, String] =
    if (paths.isEmpty) Map.empty
    else filesDF.filter(col("add.path").isin(paths.toSeq: _*))
      .select(col("add.path"), col("add.stats"))
      .collect()
      .flatMap(r => Option(r.getString(1)).map(r.getString(0) -> _))
      .toMap

  /** Stream the surviving SLIM adds to the driver one partition at a
    * time (`toLocalIterator`): the metadata query stays distributed and
    * the driver never holds a collected `Row` array plus a decoded
    * `Seq[AddFile]` — each row becomes its compact FileIndex entry and
    * is dropped. With millions of files this caps planning memory at
    * the index itself (the envelope Spark's scan exec requires anyway)
    * instead of ~3× it.
    *
    * The explicit hash repartition is load-bearing for planning TIME,
    * not just memory: `toLocalIterator` runs one job per final-stage
    * partition, so without a shuffle boundary the checkpoint arm's
    * heavy work (stats from_json, key canonicalization, pruning) would
    * execute one-partition-per-job — sequentially on one core at a
    * time. Behind a shuffle, the first job computes the ENTIRE map
    * stage with full cluster parallelism and every later job is a
    * cheap shuffle-block fetch. At 5M adds this is the difference
    * between ~1-core and 32-core replay (reference intent:
    * kernel/src/parallel/ — phase 1 distributed, phase 2 streamed).
    */
  private[graft] def addFileIterator(): Iterator[AddFile] = {
    val slim = slimFilesDF.select("add.*")
    // small logs ride the driver fast path already — the shuffle would
    // be pure fixed overhead (an exchange + ~8 fetch jobs per scan) on
    // every tiny-table read
    // NOTE: shuffle fetch order makes the ROW order here run-dependent;
    // GraftFileIndex canonicalizes at the GROUP level (groups sort by
    // partition values) and Spark's scan re-sorts splits by size, so
    // nothing downstream observes the arrival order
    val it =
      if (snapshot.smallState) slim.collect().iterator // one job, tiny
      else {
        val parts = math.max(spark.sparkContext.defaultParallelism, 8)
        slim.repartition(parts, col("path"))
          .toLocalIterator().asScala
      }
    it.map { r => Cancellation.check(); RowCodec.rowToAdd(r) }
  }

  /** The distributed data read: schema-first parquet scan over the live
    * files; partition columns are injected by a broadcast join on the
    * normalized file path (O(1) plan size regardless of partition count —
    * per-file literal unions would blow up the plan at 100 TB). The
    * file-list handoff streams through [[addFileIterator]] — driver
    * memory is O(index), with no transient full-list copies.
    */
  def toDF: DataFrame = {
    val t0 = Metrics.now()
    val index = GraftFileIndex.fromAdds(spark, snapshot.tableRoot,
      addFileIterator(), physPartitionSchema)
    Metrics.report(MetricEvent.ScanFilesCollected(Metrics.newId(),
      Metrics.now() - t0, index.fileCount.toInt, predicateSql, slim = true))
    val projected = assembleIndexed(index, keepMeta = false)
    // residual predicate: skipping is best-effort, row filtering is exact
    predicateSql.map(p => projected.filter(expr(p))).getOrElse(projected)
  }

  /** The distributed read WITHOUT the physical→logical row transform
    * (reference scan `without_row_transforms`, #2756): every column —
    * data and partition — surfaces under its PHYSICAL name exactly as
    * stored under the table's column-mapping mode, for connectors that
    * apply their own transform. Deletion-vector masking still applies
    * (masked rows are never any engine's business), as do partition
    * pruning, stats skipping and the residual row filter.
    */
  def toPhysicalDF: DataFrame = {
    val index = GraftFileIndex.fromAdds(spark, snapshot.tableRoot,
      addFileIterator(), physPartitionSchema)
    val projected = assembleIndexed(index, keepMeta = false,
      physical = true)
    predicateSql.map { p =>
      // the residual predicate speaks LOGICAL names — rename into
      // physical before filtering the physical projection
      val l2p = schema.fields.map(f =>
        f.name -> ColumnMapping.physicalName(f)).toMap
      val rewritten = DataSkipping.parse(spark, p).transform {
        case a: UnresolvedAttribute if a.nameParts.size == 1 &&
            l2p.contains(a.nameParts.head) =>
          UnresolvedAttribute(Seq(l2p(a.nameParts.head)))
      }
      projected.filter(org.apache.spark.sql.graft.StreamingShim
        .column(rewritten))
    }.getOrElse(projected)
  }

  /** Scan-metadata rows with a typed `partitionValues_parsed` struct
    * column alongside the raw string map (reference
    * PartitionValuesOptions, #2755): connectors get the partition
    * tuple already parsed under the table's logical column names and
    * types instead of re-implementing the protocol's string rules.
    */
  def filesWithParsedPartitionValues: DataFrame =
    if (partCols.isEmpty) filesDF
    else filesDF.withColumn("partitionValues_parsed", pvStruct)

  /** Full-table read carrying the row-tracking metadata columns
    * `_row_id` and `_row_commit_version` (reference metadata columns
    * schema/mod.rs:320-379; row_id = baseRowId + row_index,
    * row_tracking.rs / table_changes/mod.rs:450-493). Requires the
    * table's adds to carry baseRowId (rowTracking feature).
    */
  def toDFWithRowIds: DataFrame = toDFWithRowIds(collectAddFiles())

  /** Row-id read over an explicit file subset. When the table fixes
    * materialized row-tracking columns (rewritten files carry the
    * ORIGINAL ids under those physical names), the materialized value
    * wins and baseRowId + row_index is the fallback — the protocol's
    * override rule, which is what keeps row ids stable across
    * OPTIMIZE/REORG rewrites.
    */
  def toDFWithRowIds(adds: Seq[AddFile]): DataFrame = {
    val mat = RowTracking.materializedCols(snapshot.metadata)
    val extraPhys = mat.toSeq.flatMap { case (idCol, vCol) =>
      Seq(StructField(idCol, LongType), StructField(vCol, LongType))
    }
    val withMeta = assemble(adds, keepMeta = true, extraPhys)
    val fileKey = GraftFileIndex.fileKeyOf(spark, snapshot.tableRoot)
    val rtSchema = StructType(Seq(
      StructField("__path", StringType),
      StructField("__base", LongType),
      StructField("__dcv", LongType)))
    val rtRows: Seq[Row] = adds.map { a =>
      new GenericRowWithSchema(Array[Any](fileKey(a),
        a.baseRowId.map(Long.box).orNull,
        a.defaultRowCommitVersion.map(Long.box).orNull), rtSchema): Row
    }
    val rtDF = spark.createDataFrame(rtRows.asJava, rtSchema)
    val (rowIdExpr, rcvExpr) = mat match {
      case Some((idCol, vCol)) =>
        (coalesce(ColumnMapping.qcol(idCol),
           col("__base") + col("__ridx")),
         coalesce(ColumnMapping.qcol(vCol), col("__dcv")))
      case None =>
        (col("__base") + col("__ridx"), col("__dcv"))
    }
    withMeta.join(broadcast(rtDF), Seq("__path"))
      .withColumn("_row_id", rowIdExpr)
      .withColumn("_row_commit_version", rcvExpr)
      .select(schema.fieldNames.map(ColumnMapping.qcol) ++
        Seq(col("_row_id"), col("_row_commit_version")): _*)
  }

  /** Assemble the logical rows of `adds`. With keepMeta=true the output
    * also carries `__path` (the row's `_metadata.file_path`, verbatim:
    * the [[GraftFileIndex.fileKey]] of its file, so driver-side lookups
    * key through `fileKey` and no row re-derives it) and `__ridx` (row
    * index within the file) — used by DV writes. `extraPhysical`
    * columns are read verbatim from the files and appended to the
    * output (e.g. the physical `_change_type` column of CDF
    * `_change_data` files).
    */
  private[graft] def assemble(adds: Seq[AddFile], keepMeta: Boolean,
      extraPhysical: Seq[StructField] = Nil): DataFrame =
    assembleIndexed(GraftFileIndex.fromAdds(spark, snapshot.tableRoot,
      adds.iterator, physPartitionSchema), keepMeta, extraPhysical)

  /** Assemble with PER-FILE CONSTANT columns (the reference `Load`
    * operator's `file_constant_columns`, kernel/src/plans/ir/nodes.rs:
    * 330-472): each file carries extra constant values — e.g. the CDF
    * commit version/timestamp of the commit that contributed it —
    * served as synthetic partition columns of the FileIndex, so ONE
    * scan arm reads files from arbitrarily many commits and the plan
    * size stays independent of the range width. Constant values are
    * partition-value strings typed by `constSchema`.
    */
  private[graft] def assembleWithConstants(
      files: Seq[(AddFile, Map[String, String])],
      constSchema: Seq[StructField],
      keepMeta: Boolean,
      extraPhysical: Seq[StructField] = Nil): DataFrame = {
    val merged = files.iterator.map { case (a, c) =>
      a.copy(partitionValues = a.partitionValues ++ c)
    }
    assembleIndexed(
      GraftFileIndex.fromAdds(spark, snapshot.tableRoot, merged,
        StructType(physPartitionSchema.fields ++ constSchema)),
      keepMeta, extraPhysical, constSchema.map(_.name))
  }

  /** Physical-name partition schema served by the FileIndex. */
  private lazy val physPartitionSchema: StructType =
    StructType(partCols.map { c =>
      val f = schema.fields.find(_.name == c).get
      StructField(ColumnMapping.physicalName(f), f.dataType, f.nullable)
    })

  private[graft] def assembleIndexed(index: GraftFileIndex,
      keepMeta: Boolean,
      extraPhysical: Seq[StructField] = Nil,
      constCols: Seq[String] = Nil,
      physical: Boolean = false): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()

    if (index.fileCount == 0) {
      return spark.createDataFrame(
        java.util.Collections.emptyList[Row](), schema)
    }
    // planned data-file I/O (column pruning reads less; the gauge is
    // which files a 100 TB scan would have to touch at all)
    Metrics.report(MetricEvent.IoBytes(Metrics.newId(), "data_scan",
      index.fileCount, index.sizeInBytes))

    // Read through a log-backed FileIndex (GraftFileIndex, the
    // TahoeFileIndex pattern): the plan holds the index, not N literal
    // paths; partition values are native partition columns (typed from
    // the add actions — no per-file broadcast join); file stats come
    // from the log, so planning does no filesystem listing. Columns are
    // read with the PHYSICAL schema (column-mapping modes name/id; id
    // mode resolves by parquet field id) and renamed back to logical in
    // the same select — `_metadata` is only reachable directly on the
    // file-source relation.
    // id mode resolves by parquet field id; every other mode resolves
    // by NAME and must not carry id annotations in the read schema
    val physDataFields =
      if (cmMode == "id")
        ColumnMapping.physicalSchema(snapshot.dataSchema).fields
      else ColumnMapping.withoutFieldIds(
        ColumnMapping.physicalSchema(snapshot.dataSchema)).fields
    val physDataSchema = StructType(physDataFields ++ extraPhysical)
    // the index's partition schema = table partition columns plus any
    // per-file constant columns the caller injected
    val physPartSchema = index.partitionSchema
    // id-mode needs the parquet field-id read path — passed as a
    // RELATION option (merged into the per-scan hadoopConf, which is
    // where ParquetReadSupport reads it), never as session conf: a
    // session-global flag would leak into concurrent scans of non-CM
    // tables in the same session
    val relOptions: Map[String, String] =
      if (cmMode == "id")
        Map("spark.sql.parquet.fieldId.read.enabled" -> "true")
      else Map.empty
    val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, physPartSchema, physDataSchema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      relOptions)(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    val relationDF: DataFrame =
      org.apache.spark.sql.graft.StreamingShim.ofRows(spark,
        org.apache.spark.sql.execution.datasources.LogicalRelation(relation))
    // `physical = true` (reference scan `without_row_transforms`,
    // #2756): skip the physical→logical rename — columns surface
    // exactly as stored, for engines that apply their own transform
    val dataProjection =
      if (physical)
        physDataFields.toSeq.map(f => col(quoteName(f.name))) ++
          partCols.map(c => col(quoteName(physName(c))))
      else
        snapshot.dataSchema.fields.toSeq.map(ColumnMapping.toLogical) ++
          partCols.map(c => col(quoteName(physName(c))).as(c))
    var reader = relationDF
      .select(dataProjection ++
        constCols.map(c => col(quoteName(c))) ++
        extraPhysical.map(f => ColumnMapping.qcol(f.name)) ++
        Seq(col("_metadata.file_path").as("__path"),
          col("_metadata.row_index").as("__ridx")): _*)

    // DV row filtering (reference scan/mod.rs:1337-1399): per-file
    // masks applied INSIDE the scan stage. Only compressed bitmap BYTES
    // travel (kilobytes per file) — row positions never materialize on
    // the driver or in a broadcast, so a billion-row DELETE costs the
    // same plan shape as a ten-row one: scan → filter, no join, no
    // exchange. Partition values need no join either — the FileIndex
    // serves them as native partition columns.
    if (index.dvRefs.nonEmpty) {
      val masks = DvMasks.load(spark, snapshot.tableRoot, index.dvRefs, conf)
      val bc = spark.sparkContext.broadcast(masks)
      // codegen'd probe (DvExprs) — a Scala UDF here would sever the
      // WholeStageCodegen span on every DV scan
      reader = reader.filter(org.apache.spark.sql.graft.StreamingShim
        .column(DvLiveExpr(
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("__path"),
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("__ridx"),
          bc)))
    }

    val metaCols = if (keepMeta) Seq(col("__path"), col("__ridx")) else Nil
    val outNames =
      if (physical)
        physDataFields.toSeq.map(f => col(quoteName(f.name))) ++
          partCols.map(c => col(quoteName(physName(c))))
      else schema.fieldNames.toSeq.map(ColumnMapping.qcol)
    reader.select(outNames ++
      extraPhysical.map(f => ColumnMapping.qcol(f.name)) ++
      constCols.map(c => col(quoteName(c))) ++ metaCols: _*)
  }

  private def quoteName(name: String): String =
    "`" + name.replace("`", "``") + "`"
}

object DeltaScan {

  /** The per-file match aggregate every predicate-DML path shares (both
    * DELETE/UPDATE arms, equality-delete materialization): over `rows`,
    * a `keepMeta` assemble, each file holding a row where `matched`
    * holds, with its matched and live row counts and — only when
    * `bitmaps` — the portable roaring bitmap of its matched row
    * indexes, built on the executors (row positions never reach the
    * driver; a file ships kilobytes of compressed bitmap). Grouped by
    * `__path` with partial aggregation, so a task emits one row per
    * file it read. Keys are [[GraftFileIndex.fileKey]]s.
    */
  private[graft] def matchPerFile(rows: DataFrame, matched: Column,
      bitmaps: Boolean): Seq[FileMatch] = {
    val perFile = rows.groupBy(col("__path"))
    if (bitmaps)
      perFile.agg(udaf(MatchBitmap, Encoders.tuple(Encoders.scalaLong,
          Encoders.scalaBoolean))(col("__ridx"), matched).as("__agg"))
        .filter(col("__agg._1") > 0)
        .select(col("__path"), col("__agg._1"), col("__agg._2"),
          col("__agg._3"))
        .collect().toSeq
        .map(r => FileMatch(r.getString(0), r.getLong(1), r.getLong(2),
          r.getAs[Array[Byte]](3)))
    else
      perFile.agg(sum(matched.cast("long")).as("__m"),
          count(lit(1)).as("__n"))
        .filter(col("__m") > 0)
        .collect().toSeq
        .map(r => FileMatch(r.getString(0), r.getLong(1), r.getLong(2),
          null))
  }

  /** Executor side of [[matchPerFile]]'s bitmap arm: (row index,
    * matched) in, (matched, live, bitmap bytes) out. The buffer stays a
    * live bitmap through partial aggregation and serializes only at the
    * exchange.
    */
  private object MatchBitmap extends Aggregator[(Long, Boolean),
      MatchBuffer, (Long, Long, Array[Byte])] {
    def zero: MatchBuffer = new MatchBuffer
    def reduce(b: MatchBuffer, in: (Long, Boolean)): MatchBuffer = {
      b.live += 1
      if (in._2) { b.matched += 1; b.rows.addLong(in._1) }
      b
    }
    def merge(x: MatchBuffer, y: MatchBuffer): MatchBuffer = {
      x.live += y.live
      x.matched += y.matched
      x.rows.or(y.rows)
      x
    }
    def finish(b: MatchBuffer): (Long, Long, Array[Byte]) =
      (b.matched, b.live, DeletionVectors.bitmapBytes(b.rows))
    def bufferEncoder: Encoder[MatchBuffer] =
      Encoders.javaSerialization[MatchBuffer]
    def outputEncoder: Encoder[(Long, Long, Array[Byte])] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.BINARY)
  }

  /** [[MatchBitmap]]'s buffer (public: Spark's encoders reject
    * non-public classes).
    */
  final class MatchBuffer extends Serializable {
    var matched = 0L
    var live = 0L
    val rows = new org.roaringbitmap.longlong.Roaring64NavigableMap()
  }

  /** Harvest executor-attributed phase times from an executed plan's
    * SQL metrics (reference ScanMetadataCompleted's per-phase
    * durations, kernel/src/metrics/events.rs): parquet `scanTime`,
    * aggregation-build time of the replay dedup (`aggTime`), and
    * whole-stage `pipelineTime` covering the fused stats-parse +
    * skip-filter pipeline. All in ms, summed across tasks; a phase
    * absent from the plan reports 0.
    */
  private[delta] def execPhaseMetrics(
      qe: org.apache.spark.sql.execution.QueryExecution)
      : (Long, Long, Long) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val seen = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      seen += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other.children.foreach(walk)
      }
    }
    try walk(qe.executedPlan) catch { case _: Exception => () }
    def sumOf(pred: SparkPlan => Boolean, name: String): Long =
      seen.iterator.filter(pred).flatMap(_.metrics.collect {
        case (n, m) if n == name && m.value > 0 => m.value
      }).sum
    (sumOf(_.isInstanceOf[FileSourceScanExec], "scanTime"),
      sumOf(_.nodeName.toLowerCase.contains("aggregate"), "aggTime"),
      sumOf(_.isInstanceOf[WholeStageCodegenExec], "pipelineTime"))
  }
}
