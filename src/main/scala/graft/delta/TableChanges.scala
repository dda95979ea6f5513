package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Change Data Feed reads between two versions (reference:
  * kernel/src/table_changes/ — TableChanges::try_new mod.rs:20,
  * per-commit classification log_replay.rs, DV pair resolution
  * resolve_dvs.rs, CDF column generation physical_to_logical.rs:15-125,
  * net changes net_changes.rs:341).
  *
  * Semantics per commit in the inclusive range [start, end]:
  *  - A commit containing `cdc` actions: ONLY its `_change_data` files
  *    are read — they carry the `_change_type` column physically; the
  *    commit's add/remove actions are ignored for CDF.
  *  - Otherwise: add actions with dataChange=true are `insert` rows and
  *    remove actions with dataChange=true are `delete` rows — EXCEPT an
  *    add/remove pair on the same path in one commit, which is a
  *    deletion-vector swap: inserted rows = rmDV − addDV (restored),
  *    deleted rows = addDV − rmDV (newly deleted).
  *  - `_commit_version` is the commit version, `_commit_timestamp` the
  *    in-commit timestamp when present else the commit file modification
  *    time.
  *
  * Range contracts (mod.rs:90-135): `delta.enableChangeDataFeed` must
  * hold at both boundaries and at every metadata action inside the
  * range; schemas may evolve COMPATIBLY (add nullable column, widen) —
  * rows read under the end schema, with NULL for columns that did not
  * exist yet — but incompatible changes fail the read.
  *
  * Scale: classification is metadata work, O(actions in range) on the
  * driver, and each commit's JSON is read + parsed exactly ONCE per
  * call. The emitted plan is O(1) scan arms regardless of range width
  * — all commits' files of one change class (cdc / insert / delete /
  * DV-pair) share a single scan whose commit version + timestamp ride
  * as per-file constant partition columns (the reference `Load`
  * operator's file_constant_columns, kernel/src/plans/ir/nodes.rs:
  * 330-472) — so a 10k-commit ad-hoc range plans 3-4 scans, not 10k
  * unioned sub-plans. Streaming consumers still page bounded ranges
  * via DeltaSource for bounded-batch admission.
  */
object TableChanges {

  val CHANGE_TYPE = "_change_type"
  val COMMIT_VERSION = "_commit_version"
  val COMMIT_TIMESTAMP = "_commit_timestamp"
  val CDF_ENABLED_KEY = "delta.enableChangeDataFeed"

  def cdfEnabled(m: graft.delta.Metadata): Boolean =
    m.configuration.get(CDF_ENABLED_KEY).exists(_.equalsIgnoreCase("true"))

  /** CDF rows over a TIMESTAMP window (reference history_manager
    * timestamp_range_to_versions feeding table_changes): the start
    * maps through first-version-after, the end through
    * latest-version-as-of, then the version-range read applies its
    * usual schema-compat validation.
    */
  def readByTimestamp(spark: SparkSession, tablePath: String,
      startTs: Long, endTs: Option[Long] = None): DataFrame = {
    val (startV, endV) = DeltaTable.forPath(spark, tablePath)
      .timestampRangeToVersions(startTs, endTs)
    read(spark, tablePath, startV, endV)
  }

  /** Per-commit file-action classification — the ONE source of truth
    * shared by the emission loop and the pushdown prune pass: cdc
    * actions supersede add/remove entirely; dataChange=false actions
    * never classify; a same-path add/remove pair is a DV swap, never a
    * plain insert or delete.
    */
  private final case class FileClasses(
      cdcs: Seq[AddCDCFile],
      plainAdds: Seq[AddFile],
      plainRemoves: Seq[RemoveFile],
      /** Same-path add/remove pairs (DV swaps), path-sorted. Held
        * directly so a buffered range (one FileClasses per commit)
        * costs O(actions), not O(actions) plus two path maps.
        */
      pairs: Seq[(String, AddFile, RemoveFile)])

  /** The action kinds a CDF pass reads from a commit file. */
  private val CdfKinds =
    Set("metaData", "protocol", "commitInfo", "cdc", "add", "remove")

  private def commitTs(actions: Seq[SingleAction], mtime: Long): Long =
    JsonLog.timestamp(actions.iterator.flatMap(_.commitInfo).nextOption(),
      mtime)

  private def classifyActions(actions: Seq[SingleAction]): FileClasses = {
    val cdcs = actions.flatMap(_.cdc)
    if (cdcs.nonEmpty)
      return FileClasses(cdcs, Nil, Nil, Nil)
    val adds = actions.flatMap(_.add).filter(_.dataChange)
    val removes = actions.flatMap(_.remove).filter(_.dataChange)
    val remByPath = removes.map(r => r.path -> r).toMap
    val addByPath = adds.map(a => a.path -> a).toMap
    val pairPaths = addByPath.keySet.intersect(remByPath.keySet)
    FileClasses(Nil, adds.filterNot(a => pairPaths(a.path)),
      removes.filterNot(r => pairPaths(r.path)),
      pairPaths.toSeq.sorted.map(p => (p, addByPath(p), remByPath(p))))
  }

  /** CDF rows over [startVersion, endVersion] (endVersion None = latest).
    * Output schema = table schema + (_change_type, _commit_version,
    * _commit_timestamp).
    *
    * `predicateSql` (reference table_changes/scan.rs `with_predicate`):
    * FILE-level pushdown — partition pruning + stats skipping drop
    * insert files that provably hold no matching row, so a
    * predicate-scoped CDF read opens a fraction of the range's files.
    * Conservative like the reference: kept files may still carry
    * non-matching rows (apply the row filter on the result), and only
    * PLAIN adds are pruned — removes, add/remove DV pairs and cdc
    * files always flow (skipping one side of a pair would
    * desynchronize the diff; log_replay.rs:188-196).
    */
  def read(spark: SparkSession, tablePath: String, startVersion: Long,
      endVersion: Option[Long] = None,
      predicateSql: Option[String] = None): DataFrame = {
    val endSnap = Snapshot.forTable(spark, tablePath, endVersion)
    val end = endSnap.version
    require(startVersion >= 0 && startVersion <= end,
      s"CDF range [$startVersion, $end] is invalid")

    // boundary validation: CDF enabled + schema equal at both ends
    val startSnap =
      if (startVersion == end) endSnap
      else Snapshot.forTable(spark, tablePath, Some(startVersion))
    require(cdfEnabled(startSnap.metadata) && cdfEnabled(endSnap.metadata),
      s"change data feed is not enabled across [$startVersion, $end]")
    // COMPATIBLE schema evolution inside the range is fine (reference
    // table_changes/mod.rs:90-135 + schema/compare.rs): every in-range
    // schema must read under the END schema — added nullable columns
    // surface as NULL on pre-change rows, widened types read natively
    SchemaEvolution.validate(startSnap.schema, endSnap.schema).foreach(m =>
      throw new IllegalArgumentException(
        s"incompatible schema change across CDF range " +
          s"[$startVersion, $end]: $m"))

    val conf = spark.sessionState.newHadoopConf()
    val root = endSnap.tableRoot
    val fs = Storage.fs(root, conf)
    val logDir = FileNames.logDir(root)
    val commitFiles = Storage.listSorted(fs, logDir)
      .flatMap(st => FileNames.parse(st).map(f => (f, st)))
      .collect { case (c: FileNames.CommitFile, st)
          if c.version >= startVersion && c.version <= end => (c, st) }
      .sortBy(_._1.version)
    require(commitFiles.map(_._1.version) == (startVersion to end),
      s"missing commit files in CDF range [$startVersion, $end]")

    val scan = new DeltaScan(endSnap, None)

    // Physical-resolution map of the END schema: in-range metadata may
    // evolve the logical schema compatibly, but surviving columns must
    // keep their PHYSICAL identity — a physicalName or mode flip inside
    // the range would make the end-schema read resolve the blip's
    // files to silent NULLs (same blind spot as in-range protocol
    // actions: the end snapshot's gate never sees a change that is
    // reverted before the range's end).
    val endMode = ColumnMapping.mode(endSnap.metadata)
    // total over container nesting: struct fields inside arrays and map
    // keys/values carry physical names too (ColumnMapping.annotateType
    // is total for the same reason) — a flip on `arr.element.x` must
    // not escape the guard; synthetic `element`/`key`/`value` segments
    // disambiguate container positions in the path key
    def physType(dt: org.apache.spark.sql.types.DataType,
        prefix: Seq[String]): Iterator[(Seq[String], String)] = dt match {
      case st: org.apache.spark.sql.types.StructType => physMapIt(st, prefix)
      case a: org.apache.spark.sql.types.ArrayType =>
        physType(a.elementType, prefix :+ "element")
      case m: org.apache.spark.sql.types.MapType =>
        physType(m.keyType, prefix :+ "key") ++
          physType(m.valueType, prefix :+ "value")
      case _ => Iterator.empty
    }
    def physMapIt(s: org.apache.spark.sql.types.StructType,
        prefix: Seq[String]): Iterator[(Seq[String], String)] =
      s.fields.iterator.flatMap { f =>
        val p = prefix :+ f.name
        Iterator(p -> ColumnMapping.physicalName(f)) ++
          physType(f.dataType, p)
      }
    def physMap(s: org.apache.spark.sql.types.StructType,
        prefix: Seq[String]): Map[Seq[String], String] =
      physMapIt(s, prefix).toMap
    val endPhys = physMap(endSnap.schema, Nil)

    // ---- SINGLE parse + classify + validate pass over the range ----
    // Each commit JSON is read and classified exactly ONCE; the
    // in-range guards, the optional file-level pushdown prune, and the
    // emission arms below all feed off this pass (round 9 re-read and
    // re-parsed every commit when a predicate was supplied). Driver
    // memory is O(file actions in range) — the same envelope as the
    // former prune pass; streaming consumers page bounded commit
    // ranges via DeltaSource instead of one unbounded ad-hoc call.
    val opId = Metrics.newId()
    val parsed: Seq[(Long, Long, FileClasses)] = commitFiles.map {
      case (cf, st) =>
        Cancellation.check() // poll between commit versions
        val v = cf.version
        val t0 = Metrics.now()
        val actions = JsonLog.readCommit(fs, cf.path, CdfKinds).map(_._2)

        // in-range metadata/protocol changes must keep the range readable
        actions.foreach { a =>
          a.metaData.foreach { meta =>
            require(cdfEnabled(meta),
              s"change data feed disabled at version $v")
            SchemaEvolution.validate(meta.schema, endSnap.schema).foreach(
              msg => throw new IllegalArgumentException(
                s"incompatible schema change at version $v inside the " +
                  s"CDF range: $msg"))
            require(ColumnMapping.mode(meta) == endMode,
              s"column mapping mode changes at version $v inside the " +
                "CDF range")
            physMap(meta.schema, Nil).foreach { case (p, phys) =>
              endPhys.get(p).foreach(ep => require(ep == phys,
                s"column '${p.mkString(".")}' changes physical name at " +
                  s"version $v inside the CDF range"))
            }
          }
          // an in-range protocol upgrade to an unsupported reader
          // feature fails the read loudly (reference
          // table_changes/log_replay.rs:129 'ensure reading is supported
          // on any protocol updates') — the end snapshot's gate cannot
          // see a feature added and removed inside the range
          a.protocol.foreach(Snapshot.requireReadable)
        }

        Metrics.report(MetricEvent.CdfCommitParsed(opId,
          Metrics.now() - t0, v))
        (v, commitTs(actions, st.getModificationTime),
          classifyActions(actions))
    }
    // driver-envelope gauge: the classify pass buffers exactly the
    // range's FILE ACTIONS (slim FileClasses rows), nothing fatter
    Metrics.report(MetricEvent.CdfRangeClassified(opId, 0L,
      parsed.size, parsed.iterator.map { case (_, _, fc) =>
        (fc.cdcs.size + fc.plainAdds.size + fc.plainRemoves.size +
          2 * fc.pairs.size).toLong
      }.sum))
    // planned CDF read I/O: every file the range's scan arms may open
    // (sizes ride the parsed actions — no filesystem calls). Removes
    // cost bytes too: delete emission reads the removed file's rows.
    Metrics.report(MetricEvent.IoBytes(opId, "cdf_scan",
      parsed.iterator.map { case (_, _, fc) =>
        (fc.cdcs.size + fc.plainAdds.size + fc.plainRemoves.size +
          fc.pairs.size).toLong
      }.sum,
      parsed.iterator.map { case (_, _, fc) =>
        fc.cdcs.map(_.size).sum + fc.plainAdds.map(_.size).sum +
          fc.plainRemoves.map(_.size.getOrElse(0L)).sum +
          fc.pairs.map(_._2.size).sum
      }.sum))

    // File-level pushdown prune over the range's plain adds (predicate
    // path only; pure plan work on the already-parsed actions — no
    // second read of the commit JSONs). Classification is the SAME
    // classifyActions output the emission arms use, so the prune can
    // never disagree about which adds are insert-classified.
    val keepAdd: Option[Set[(Long, String)]] = predicateSql.map { p =>
      val pScan = new DeltaScan(endSnap, Some(p))
      val all = ArrayBuffer.empty[(Long, AddFile)]
      parsed.foreach { case (v, _, fc) =>
        if (fc.cdcs.isEmpty) fc.plainAdds.foreach(a => all += ((v, a)))
      }
      if (all.isEmpty) Set.empty[(Long, String)]
      else {
        val rows: Seq[Row] = all.toSeq.map { case (v, a) =>
          new GenericRowWithSchema(
            Array[Any](RowCodec.addToRow(a), v),
            endSnap.addsSchema): Row
        }
        // small ranges ride a LocalRelation; a wide range's add list
        // must NOT serialize into the plan as literals — distribute it
        // so the stats from_json + skip-eval also run on executors
        val addsDF =
          if (rows.size <= 100000)
            spark.createDataFrame(rows.asJava, endSnap.addsSchema)
          else spark.createDataFrame(
            spark.sparkContext.parallelize(rows,
              spark.sparkContext.defaultParallelism),
            endSnap.addsSchema)
        pScan.pruneAdds(addsDF)
          .select(col("version"), col("add.path"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      }
    }

    // ---- COLLAPSED emission: O(1) plan arms regardless of range width
    // (the reference Load operator's file_constant_columns,
    // kernel/src/plans/ir/nodes.rs:330-472). Every commit's files of a
    // given change class go into ONE shared scan arm; the commit
    // version and timestamp ride as per-file constant partition
    // columns, so a 10k-commit range plans the same 3-4 scans as a
    // 2-commit one instead of 10k unioned sub-plans.
    val TS_MS = "__commit_ts_ms"
    val constSchema = Seq(
      StructField(COMMIT_VERSION, LongType, nullable = false),
      StructField(TS_MS, LongType, nullable = false))
    def consts(v: Long, ts: Long): Map[String, String] =
      Map(COMMIT_VERSION -> v.toString, TS_MS -> ts.toString)

    val cdcFiles = ArrayBuffer.empty[(AddFile, Map[String, String])]
    val insertFiles = ArrayBuffer.empty[(Long, AddFile, Map[String, String])]
    val deleteFiles = ArrayBuffer.empty[(Long, AddFile, Map[String, String])]
    val pairFiles = ArrayBuffer.empty[(AddFile, Map[String, String])]
    val swaps = scala.collection.mutable.Map
      .empty[Long, Map[String, (Array[Byte], Array[Byte])]]
    val fileKey = GraftFileIndex.fileKeyOf(spark, root)

    parsed.foreach { case (v, ts, fc) =>
      val c = consts(v, ts)
      if (fc.cdcs.nonEmpty) {
        // cdc files supersede add/remove for this commit; they carry
        // _change_type physically and never have DVs
        fc.cdcs.foreach(cd => cdcFiles += ((AddFile(cd.path,
          cd.partitionValues, cd.size, 0L, dataChange = false), c)))
      } else {
        fc.plainAdds.filter(a => keepAdd.forall(_((v, a.path))))
          .foreach(a => insertFiles += ((v, a, c)))
        fc.plainRemoves.foreach(r => deleteFiles += ((v, removeAsAdd(r), c)))

        // DV swap resolution (resolve_dvs.rs): the pre/post diff is
        // computed at BITMAP level (andNot) and shipped to executors
        // as compressed bytes — row-index sets never materialize on
        // the driver, and the rows are selected by an in-scan mask
        // probe instead of a position join. Masks key on
        // (version, path): the same file can be swapped by several
        // in-range commits and all share the single pair arm.
        fc.pairs.foreach { case (_, a, r) =>
          val addB = a.deletionVector
            .map(DeletionVectors.readBitmapBytes(_, root, conf))
            .getOrElse(DeletionVectors.emptyBitmap)
          val rmB = r.deletionVector
            .map(DeletionVectors.readBitmapBytes(_, root, conf))
            .getOrElse(DeletionVectors.emptyBitmap)
          val restored = DeletionVectors.andNotBitmaps(rmB, addB)
          val deleted = DeletionVectors.andNotBitmaps(addB, rmB)
          if (DeletionVectors.cardinality(restored) > 0 ||
              DeletionVectors.cardinality(deleted) > 0) {
            pairFiles += ((a.copy(deletionVector = None), c))
            swaps(v) = swaps.getOrElse(v, Map.empty) +
              (fileKey(a) -> ((restored, deleted)))
          }
        }
      }
    }

    // A path may recur across commits in ONE arm with a DIFFERENT DV
    // descriptor (re-add after restore; repeat remove of a DV'd file):
    // the shared arm's live-row masks key by path only, so conflicting
    // repeats spill into per-version overflow arms — vanishingly rare,
    // and the main plan stays commit-count-independent.
    def splitDvConsistent(
        files: Seq[(Long, AddFile, Map[String, String])])
        : Seq[Seq[(AddFile, Map[String, String])]] = {
      val seen = scala.collection.mutable.Map
        .empty[String, Option[DeletionVectorDescriptor]]
      val main = ArrayBuffer.empty[(AddFile, Map[String, String])]
      val overflow = scala.collection.mutable.LinkedHashMap
        .empty[Long, ArrayBuffer[(AddFile, Map[String, String])]]
      files.foreach { case (v, a, c) =>
        seen.get(a.path) match {
          case Some(d) if d != a.deletionVector =>
            overflow.getOrElseUpdate(v, ArrayBuffer.empty) += ((a, c))
          case _ =>
            seen(a.path) = a.deletionVector
            main += ((a, c))
        }
      }
      (if (main.nonEmpty) Seq(main.toSeq) else Nil) ++
        overflow.valuesIterator.map(_.toSeq)
    }

    val out = ArrayBuffer.empty[DataFrame]
    def finish(df: DataFrame): DataFrame = df
      .withColumn(COMMIT_TIMESTAMP, timestamp_millis(col(TS_MS)))
      .drop(TS_MS)

    if (cdcFiles.nonEmpty)
      out += finish(scan.assembleWithConstants(cdcFiles.toSeq, constSchema,
        keepMeta = false,
        extraPhysical = Seq(StructField(CHANGE_TYPE, StringType))))
    splitDvConsistent(insertFiles.toSeq).foreach { arm =>
      out += finish(scan.assembleWithConstants(arm, constSchema,
          keepMeta = false)
        .withColumn(CHANGE_TYPE, lit("insert")))
    }
    splitDvConsistent(deleteFiles.toSeq).foreach { arm =>
      out += finish(scan.assembleWithConstants(arm, constSchema,
          keepMeta = false)
        .withColumn(CHANGE_TYPE, lit("delete")))
    }
    if (pairFiles.nonEmpty) {
      val bc = spark.sparkContext.broadcast(new DvSwapMasks(swaps.toMap))
      val tag = org.apache.spark.sql.graft.StreamingShim.column(
        DvChangeAtExpr(
          org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute(Seq(COMMIT_VERSION)),
          org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute(Seq("__path")),
          org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute(Seq("__ridx")),
          bc))
      out += finish(scan.assembleWithConstants(pairFiles.toSeq, constSchema,
          keepMeta = true)
        .withColumn(CHANGE_TYPE, tag)
        .filter(col(CHANGE_TYPE).isNotNull)
        .drop("__path", "__ridx"))
    }


    val cdfCols = Seq(CHANGE_TYPE, COMMIT_VERSION, COMMIT_TIMESTAMP)
    val outCols = endSnap.schema.fieldNames.toSeq ++ cdfCols
    if (out.isEmpty) {
      val emptySchema = StructType(endSnap.schema.fields ++ Seq(
        StructField(CHANGE_TYPE, StringType, nullable = false),
        StructField(COMMIT_VERSION, LongType, nullable = false),
        StructField(COMMIT_TIMESTAMP, TimestampType, nullable = false)))
      spark.createDataFrame(
        java.util.Collections.emptyList[Row](), emptySchema)
    } else {
      out.map(_.select(outCols.map(ColumnMapping.qcol): _*))
        .reduce(_.unionByName(_))
    }
  }

  /** One commit's CDF rows restricted to its change files `[from,
    * until)` — the streaming source's intra-version admission unit, so
    * a single huge cdc commit can arrive as several bounded microbatches
    * instead of one (reference analog: file-granular incremental scan,
    * kernel/src/incremental_scan/mod.rs:26-60).
    *
    * Only SLICEABLE commits may be sliced: those whose change content
    * is cdc files (they supersede add/remove and each file's rows are
    * independent), or pure appends (data-changing adds, no data-changing
    * removes). A rewrite/DV-swap commit pairs adds with removes at
    * bitmap level — not file-separable — and must stream atomically;
    * calling this on one throws rather than mis-slicing.
    */
  def readVersionSlice(spark: SparkSession, tablePath: String,
      version: Long, from: Int, until: Int): DataFrame =
    readVersionSlice(
      Snapshot.forTable(spark, tablePath, Some(version)), from, until)

  /** Snapshot-reusing variant for the streaming hot path: slicing one
    * huge commit into N bounded microbatches must not pay N listings +
    * replays — the source hands its cached pinned snapshot in.
    */
  def readVersionSlice(snap: Snapshot, from: Int, until: Int)
      : DataFrame = {
    val spark = snap.spark
    val version = snap.version
    require(from >= 0 && from < until, s"empty slice [$from, $until)")
    require(cdfEnabled(snap.metadata),
      s"change data feed is not enabled at version $version")
    val conf = spark.sessionState.newHadoopConf()
    val root = snap.tableRoot
    val fs = Storage.fs(root, conf)
    val cf = FileNames.commitFile(FileNames.logDir(root), version)
    val st = fs.getFileStatus(cf)
    val actions = JsonLog.readCommit(fs, cf, CdfKinds).map(_._2)
    val tsCol = lit(new java.sql.Timestamp(
      commitTs(actions, st.getModificationTime)))
    val scan = new DeltaScan(snap, None)
    def stamp(df: DataFrame): DataFrame = df
      .withColumn(COMMIT_VERSION, lit(version))
      .withColumn(COMMIT_TIMESTAMP, tsCol)

    val fc = classifyActions(actions)
    val body = if (fc.cdcs.nonEmpty) {
      val asAdds = fc.cdcs.slice(from, until).map(c => AddFile(c.path,
        c.partitionValues, c.size, 0L, dataChange = false))
      stamp(scan.assemble(asAdds, keepMeta = false,
        extraPhysical = Seq(StructField(CHANGE_TYPE, StringType))))
    } else {
      require(fc.plainRemoves.isEmpty && fc.pairs.isEmpty,
        s"commit $version rewrites or deletes data files without cdc " +
          "files — it is not file-sliceable and must stream atomically")
      stamp(scan.assemble(fc.plainAdds.slice(from, until), keepMeta = false)
        .withColumn(CHANGE_TYPE, lit("insert")))
    }
    val outCols = snap.schema.fieldNames.toSeq ++
      Seq(CHANGE_TYPE, COMMIT_VERSION, COMMIT_TIMESTAMP)
    body.select(outCols.map(ColumnMapping.qcol): _*)
  }

  private def removeAsAdd(r: RemoveFile): AddFile = AddFile(
    path = r.path,
    partitionValues = r.partitionValues.getOrElse(Map.empty),
    size = r.size.getOrElse(0L),
    modificationTime = 0L,
    dataChange = true,
    deletionVector = r.deletionVector)

  /** Row-tracking CDF (reference table_changes/mod.rs:367-493,
    * `try_new_row_tracking_cdf_listing`): reconstruct NET row changes
    * over (base, target] by STABLE ROW ID instead of `_change_data`
    * files. Requires rowTracking at both boundary snapshots; the target
    * schema may add nullable columns but not change types (the
    * row-tracking mode's relaxed compatibility). A row id present only
    * in the post image is an `insert`, only in the pre image a
    * `delete`, in both with different content an update pre/post pair.
    *
    * One full-outer join shuffled on the row id; both sides are
    * distributed scans.
    */
  def readByRowTracking(spark: SparkSession, tablePath: String,
      baseVersion: Long, targetVersion: Long): DataFrame = {
    val preSnap = Snapshot.forTable(spark, tablePath, Some(baseVersion))
    val postSnap = Snapshot.forTable(spark, tablePath, Some(targetVersion))
    def hasRowTracking(s: Snapshot) =
      s.protocol.writerFeatures.exists(_.contains("rowTracking"))
    require(hasRowTracking(preSnap) && hasRowTracking(postSnap),
      "row tracking must be enabled across the range")
    SchemaEvolution.validate(preSnap.schema, postSnap.schema).foreach(m =>
      throw new IllegalArgumentException(
        s"incompatible schemas across row-tracking CDF range: $m"))

    val preCols = preSnap.schema.fieldNames.toSeq
    val postCols = postSnap.schema.fieldNames.toSeq
    def q(n: String) = ColumnMapping.quoted(n)
    val pre = new DeltaScan(preSnap, None).toDFWithRowIds
      .select(struct(preCols.map(ColumnMapping.qcol): _*).as("__pre"),
        col("_row_id"))
    val post = new DeltaScan(postSnap, None).toDFWithRowIds
      .select(struct(postCols.map(ColumnMapping.qcol): _*).as("__post"),
        col("_row_id"))
    val j = pre.join(post, Seq("_row_id"), "full_outer")

    // pre image lifted to the post schema (missing added columns = NULL)
    val preAsPost = struct(postCols.map { c =>
      (if (preCols.contains(c)) col(s"__pre.${q(c)}")
       else lit(null).cast(postSnap.schema(c).dataType)).as(c)
    }: _*)
    val shared = preCols.filter(postCols.contains)
    val sameContent = shared.map(c =>
      col(s"__pre.${q(c)}") <=> col(s"__post.${q(c)}")).reduce(_ && _)

    def emit(img: org.apache.spark.sql.Column, change: String) =
      Seq(img.as("__row"), lit(change).as(CHANGE_TYPE), col("_row_id"))

    val inserts = j.filter(col("__pre").isNull && col("__post").isNotNull)
      .select(emit(col("__post"), "insert"): _*)
    val deletes = j.filter(col("__post").isNull && col("__pre").isNotNull)
      .select(emit(preAsPost, "delete"): _*)
    val updates = j.filter(
      col("__pre").isNotNull && col("__post").isNotNull && !sameContent)
    val updatePre = updates.select(emit(preAsPost, "update_preimage"): _*)
    val updatePost = updates.select(emit(col("__post"), "update_postimage"): _*)

    inserts.unionByName(deletes).unionByName(updatePre)
      .unionByName(updatePost)
      .select(postCols.map(c => col(s"__row.${q(c)}").as(c)) ++
        Seq(col(CHANGE_TYPE), col("_row_id")): _*)
  }

  /** Net row changes over a CDF DataFrame keyed by `keyCols` (reference
    * net_changes.rs: earliest pre-image, latest post-image, intermediates
    * omitted): a key whose first in-range change is `insert` and whose
    * last is `delete` nets to nothing; otherwise the latest change wins.
    * Within one commit an insert outranks a delete (a same-commit
    * delete+insert of a key is an update whose post-image is the
    * insert). One shuffle on the key; map-side combine.
    */
  def netChanges(cdf: DataFrame, keyCols: Seq[String]): DataFrame = {
    // deterministic within-commit sub-rank: delete < update_preimage <
    // insert < update_postimage — an update's post-image always outranks
    // its pre-image (same commit version, so the version alone ties) and
    // min_by(__first) reads an update's earliest change as the pre-image
    val rank = struct(col(COMMIT_VERSION),
      when(col(CHANGE_TYPE) === "delete", lit(0))
        .when(col(CHANGE_TYPE) === "update_preimage", lit(1))
        .when(col(CHANGE_TYPE) === "insert", lit(2))
        .otherwise(lit(3)))
    val all = struct(cdf.columns.map(ColumnMapping.qcol): _*)
    val grouped = cdf.groupBy(keyCols.map(ColumnMapping.qcol): _*)
      .agg(max_by(all, rank).as("__last"),
        min_by(col(CHANGE_TYPE), rank).as("__first"))
    grouped
      .filter(!(col("__first") === "insert" &&
        col(s"__last.$CHANGE_TYPE") === "delete"))
      .select(cdf.columns.map(c =>
        col(s"__last.${ColumnMapping.quoted(c)}").as(c)): _*)
  }
}
