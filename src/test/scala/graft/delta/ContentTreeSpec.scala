package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Content-tree parity with reference kernel/src/content_tree/:
  * the stats field-id space (stats.rs tests), the Delta→Iceberg DV
  * conversion (dv_conversion.rs tests), the two-level manifest
  * hierarchy with per-leaf ManifestInfo (mod.rs:195-200, :302-342),
  * shredded `content_stats` in the reserved field-id space
  * (stats.rs:77-95), TrackingInfo delta bitmaps (mod.rs:125-135), and
  * puffin DV blobs (mod.rs:259-264).
  */
class ContentTreeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import ContentTree._

  // ---- stats.rs `valid_mapping_roundtrips` ----
  test("field id → stats base: data and metadata spaces") {
    assert(fieldIdToStatisticsBase(0).contains(10000))
    assert(fieldIdToStatisticsBase(1).contains(10200))
    assert(fieldIdToStatisticsBase(2).contains(10400))
    assert(fieldIdToStatisticsBase(5).contains(11000))
    assert(fieldIdToStatisticsBase(100).contains(30000))
    assert(fieldIdToStatisticsBase(MAX_DATA_FIELD_ID)
      .contains(MAX_DATA_STATS_FIELD_ID))
    assert(fieldIdToStatisticsBase(LAST_UPDATED_SEQUENCE_NUMBER_FIELD_ID)
      .contains(9000))
    assert(fieldIdToStatisticsBase(ROW_ID_FIELD_ID).contains(9200))
  }

  // ---- stats.rs `field_id_to_statistics_base_rejects_invalid` ----
  test("field id → stats base: rejects negative, overflow and " +
      "unsupported reserved metadata ids") {
    assert(fieldIdToStatisticsBase(-1).isEmpty)
    assert(fieldIdToStatisticsBase(MAX_DATA_FIELD_ID + 1).isEmpty)
    assert(fieldIdToStatisticsBase(2147483541).isEmpty) // _commit_snapshot_id
    assert(fieldIdToStatisticsBase(2147483645).isEmpty) // _pos
    assert(fieldIdToStatisticsBase(2147483646).isEmpty) // _file
  }

  // ---- dv_conversion.rs `sample_dv` / absolute / inline ----
  test("DV conversion: relative z85 decodes, absolute passes through, " +
      "inline rejects; +8 Iceberg framing; absent offset defaults to 1") {
    val rel = DeletionVectorDescriptor("u", "ab^-aqEH.-t@S}K{vb[*k^",
      Some(4), 40, 6)
    val relInfo = extractDeletionVectorContent(rel)
    assert(relInfo == DeletionVectorInfo(
      "ab/deletion_vector_d2c639aa-8816-431a-aaf6-d3fe2512ff61.bin",
      4L, 48L, 6L))

    val absPath =
      "s3://another-bucket/deletion_vector_d2c639aa-8816-431a-aaf6-d3fe2512ff61.bin"
    val abs = DeletionVectorDescriptor("p", absPath, None, 40, 6)
    val absInfo = extractDeletionVectorContent(abs)
    assert(absInfo == DeletionVectorInfo(absPath, 1L, 48L, 6L))

    val inline = DeletionVectorDescriptor("i", "xyz", None, 40, 6)
    val e = intercept[IllegalArgumentException] {
      extractDeletionVectorContent(inline)
    }
    assert(e.getMessage.contains("Inline deletion vectors"))
  }

  // ---- mod.rs entry invariants ----
  test("entry validation: equalityIds/manifestInfo/puffin placement " +
      "rules and manifest sequence-number equality") {
    import DataContentType._
    validateEntry(Data, "parquet", hasEqualityIds = false,
      hasManifestInfo = false, Some(1L), Some(1L))
    validateEntry(EqualityDeletes, "parquet", hasEqualityIds = true,
      hasManifestInfo = false, Some(1L), Some(1L))
    validateEntry(PositionDeletes, "puffin", hasEqualityIds = false,
      hasManifestInfo = false, Some(1L), Some(1L))
    validateEntry(DataManifest, "parquet", hasEqualityIds = false,
      hasManifestInfo = true, Some(3L), Some(3L))
    intercept[IllegalArgumentException] { // ids on non-equality entry
      validateEntry(Data, "parquet", hasEqualityIds = true,
        hasManifestInfo = false, Some(1L), Some(1L))
    }
    intercept[IllegalArgumentException] { // ids missing on equality
      validateEntry(EqualityDeletes, "parquet", hasEqualityIds = false,
        hasManifestInfo = false, Some(1L), Some(1L))
    }
    intercept[IllegalArgumentException] { // info on a data entry
      validateEntry(Data, "parquet", hasEqualityIds = false,
        hasManifestInfo = true, Some(1L), Some(1L))
    }
    intercept[IllegalArgumentException] { // puffin data file
      validateEntry(Data, "puffin", hasEqualityIds = false,
        hasManifestInfo = false, Some(1L), Some(1L))
    }
    intercept[IllegalArgumentException] { // manifest seq != fileSeq
      validateEntry(DataManifest, "parquet", hasEqualityIds = false,
        hasManifestInfo = true, Some(3L), Some(2L))
    }
  }

  test("two-level tree: distributed leaf writes, root DataManifest " +
      "entries with exact ManifestInfo accounting, manifest checkpoint " +
      "round trip rebuilds the live file set, DVs included") {
    val dir = TestSpark.tmpDir("amt-tree")
    val src = (1 to 60000).map(i => (i.toLong, s"v$i", s"p${i % 3}"))
      .toDF("k", "s", "p")
    DeltaTable.create(spark, dir, src.schema, Seq("p"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)                  // v1
    // alternating deletes blow past the 512-byte inline cap so the DVs
    // PERSIST to files — inline DVs must be rejected by tree
    // construction (reference dv_conversion.rs), verified above
    t.deleteWhereDV("k % 2 = 0")   // v2: file DVs on every partition
    val snap = t.snapshot()
    val expected = t.toDF.orderBy("k").collect().toSeq

    val root = ContentTree.writeRoot(snap)
    val action = AdaptiveMetadata.CheckpointAction(
      version = snap.version,
      contentRoot = root,
      protocol = snap.protocol,
      metadata = snap.metadata,
      transactions = Nil, domainMetadata = Nil,
      txnSidecars = Nil, domainMetadataSidecars = Nil)
    val line = AdaptiveMetadata.writeCheckpointAction(action)
    val parsed = AdaptiveMetadata.parseCheckpointAction(line).get
    assert(parsed.contentRoot == root)
    assert(parsed.metadata.schemaString == snap.metadata.schemaString)

    // ---- hierarchy shape: the root node holds ONLY DataManifest
    // entries; the partition-grouped leaves are SEPARATE parquet dirs
    // written by MULTIPLE tasks (≥2 leaf dirs, ≥2 distinct writer
    // tasks) — the single-task coalesce(1) funnel is gone
    val resolved = parsed.contentRoot.resolve(snap.tableRoot.toString)
    val rootEntries = spark.read.parquet(resolved)
    assert(rootEntries.filter(col("contentType") =!=
      DataContentType.DataManifest).count() == 0)
    val nLeaves = rootEntries.count()
    assert(nLeaves >= 2, s"want ≥2 leaves, got $nLeaves")
    val fs = Storage.fs(snap.tableRoot,
      spark.sessionState.newHadoopConf())
    val treeDir = new Path(resolved).getParent
    val leafParts = Storage.listFilesRecursive(fs,
        new Path(treeDir, "leaves"))
      .filter(_.getPath.getName.endsWith(".parquet"))
    assert(leafParts.map(_.getPath.getParent.getName).distinct.size ==
      nLeaves)
    // part files carry their writer task's index: ≥2 distinct tasks
    assert(leafParts.map(_.getPath.getName.take(10)).distinct.size >= 2,
      "leaf nodes were written by a single task")

    // ---- ManifestInfo accounting (mod.rs:302-342): per-leaf counts
    // sum to the table's live file/row population, all Added at v1
    val info = rootEntries.agg(
      sum("manifestInfo.addedFilesCount"),
      sum("manifestInfo.existingFilesCount"),
      sum("manifestInfo.deletedFilesCount"),
      sum("manifestInfo.addedRowsCount"),
      min("manifestInfo.minSequenceNumber")).head
    val liveFiles = new DeltaScan(snap, None).collectAddFiles(slim = true)
    assert(info.getLong(0) == liveFiles.size.toLong)
    assert(info.getLong(1) == 0L && info.getLong(2) == 0L)
    assert(info.getLong(3) == 60000L) // recordCount sums pre-DV rows
    // every file was DV-swapped (re-added) at v2, so the minimum data
    // sequence number across the tree is 2
    assert(info.getLong(4) == 2L)
    // manifest entries' recordCount = leaf entry count
    assert(rootEntries.agg(sum("recordCount")).head.getLong(0) ==
      liveFiles.size.toLong)

    // ---- read the tree back through the parsed root
    val rootUri = fs.makeQualified(snap.tableRoot).toUri.getPath
    val adds = ContentTree.addFileIterator(spark, resolved,
      snap.tableRoot.toString, rootUri).toSeq
    assert(adds.map(_.path).sorted ==
      liveFiles.map(a => Storage.decodeUriPath(a.path)).sorted)
    assert(adds.flatMap(_.deletionVector).map(_.cardinality).sum ==
      liveFiles.flatMap(_.deletionVector).map(_.cardinality).sum)
    assert(adds.flatMap(_.deletionVector).nonEmpty)

    val rebuilt = new DeltaScan(snap, None)
      .assemble(adds, keepMeta = false)
    assert(rebuilt.orderBy("k").collect().toSeq == expected)

    // ---- leaf entry invariants
    val entries = ContentTree.readEntriesDF(spark, resolved,
      snap.tableRoot.toString)
    assert(entries.filter(col("contentType") =!=
      DataContentType.Data).count() == 0)
    assert(entries.filter(col("fileFormat") =!= "parquet").count() == 0)
    assert(entries.filter(col("tracking.status") =!=
      TrackingStatus.Added).count() == 0)
    assert(entries.filter(col("formatVersion") =!= 4).count() == 0)
    assert(entries.agg(sum("recordCount")).head.getLong(0) == 60000L)
    // content_stats populated: per-column bounds + counts present
    assert(entries.filter(col(s"$CONTENT_STATS.k.lower_bound").isNull)
      .count() == 0)
    assert(entries.agg(
      min(s"$CONTENT_STATS.k.lower_bound"),
      max(s"$CONTENT_STATS.k.upper_bound"),
      sum(s"$CONTENT_STATS.k.value_count")).head.toSeq ==
      Seq(1L, 60000L, 60000L))
  }

  test("content_stats parquet field ids sit in the reserved space at " +
      "fieldIdToStatisticsBase, entry fields at their mod.rs ids") {
    val dir = TestSpark.tmpDir("amt-fid")
    val src = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    val snap = t.snapshot()
    val root = ContentTree.writeRoot(snap, numLeaves = 2)
    val fs = Storage.fs(snap.tableRoot,
      spark.sessionState.newHadoopConf())
    val resolved = root.resolve(snap.tableRoot.toString)
    val leaf = Storage.listFilesRecursive(fs,
        new Path(new Path(resolved).getParent, "leaves"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        leaf, spark.sessionState.newHadoopConf()))
    try {
      val mt: org.apache.parquet.schema.GroupType =
        footer.getFooter.getFileMetaData.getSchema
      def id(t: org.apache.parquet.schema.Type): Int = t.getId.intValue
      def top(name: String) = mt.getType(name)
      // entry-level ids (mod.rs #[field_id] annotations)
      assert(id(top("contentType")) == 134)
      assert(id(top("location")) == 100)
      assert(id(top("tracking")) == 147)
      assert(id(top("manifestInfo")) == 150)
      val cs = top(CONTENT_STATS).asGroupType()
      assert(id(top(CONTENT_STATS)) == 146)
      // k is data field 0 → base 10000; s is field 1 → base 10200
      // (stats.rs field_id_to_statistics_base); subfields at the
      // constant offsets declared in STAT_SUBFIELDS
      val kStats = cs.getType("k").asGroupType()
      assert(id(cs.getType("k")) == 10000)
      assert(id(kStats.getType("lower_bound")) == 10001)
      assert(id(kStats.getType("upper_bound")) == 10002)
      assert(id(kStats.getType("value_count")) == 10004)
      assert(id(kStats.getType("null_value_count")) == 10005)
      assert(id(cs.getType("s")) == 10200)
    } finally footer.close()
  }

  test("typed partition tuple: Iceberg field id 102 with identity-" +
      "spec children at 1000+, values parse from the string map, and " +
      "an id-only projection (no name matching) reads it back") {
    import org.apache.spark.sql.types._
    val dir = TestSpark.tmpDir("amt-ptuple")
    val src = (1 to 4000).map(i => (i.toLong, s"v$i", s"p${i % 3}", i % 5))
      .toDF("k", "s", "p", "q")
    DeltaTable.create(spark, dir, src.schema, Seq("p", "q"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    val snap = t.snapshot()
    val root = ContentTree.writeRoot(snap)
    val resolved = root.resolve(snap.tableRoot.toString)

    // tuple values agree with the string map (typed: q comes back int)
    val entries = ContentTree.readEntriesDF(spark, resolved,
      snap.tableRoot.toString)
      .filter(col("contentType") === DataContentType.Data)
    assert(entries.filter(col("partition_tuple").isNull).count() == 0)
    assert(entries.filter(
      col("partition_tuple.p") =!= col("partition")("p") ||
      col("partition_tuple.q") =!=
        col("partition")("q").cast("int")).count() == 0)
    assert(entries.schema("partition_tuple").dataType
      .asInstanceOf[StructType]("q").dataType == IntegerType)

    // footer ids: tuple at 102, children at the 1000+ partition space
    val fs = Storage.fs(snap.tableRoot,
      spark.sessionState.newHadoopConf())
    val treeDir = new Path(resolved).getParent
    val leaf = Storage.listFilesRecursive(fs, new Path(treeDir, "leaves"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        leaf, spark.sessionState.newHadoopConf()))
    try {
      val mt: org.apache.parquet.schema.GroupType =
        footer.getFooter.getFileMetaData.getSchema
      val pt = mt.getType("partition_tuple")
      assert(pt.getId.intValue == 102)
      val g = pt.asGroupType()
      assert(g.getType("p").getId.intValue == 1000)
      assert(g.getType("q").getId.intValue == 1001)
      // the string map deliberately carries NO id (name-matched)
      assert(mt.getType("partition").getId == null)
    } finally footer.close()

    // id-only read: arbitrary names, matching ONLY by parquet field id
    def byId(name: String, dt: DataType, id: Long) =
      StructField(name, dt, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", id).build())
    val idOnly = StructType(Seq(byId("pt", StructType(Seq(
      byId("part0", StringType, 1000L),
      byId("part1", IntegerType, 1001L))), 102L)))
    val prevConf = spark.conf.getOption(
      "spark.sql.parquet.fieldId.read.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    try {
      val tuples = spark.read.schema(idOnly)
        .parquet(new Path(treeDir, "leaves").toString)
        .select(col("pt.part0"), col("pt.part1"))
        .distinct().collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet
      assert(tuples == (for (p <- 0 to 2; q <- 0 to 4)
        yield (s"p$p", q)).toSet)
    } finally prevConf match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.fieldId.read.enabled")
    }
  }

  test("stats-pruned tree read returns the same files as the pruned " +
      "log read") {
    val dir = TestSpark.tmpDir("amt-prune")
    val src = (1 to 40000).map(i => (i.toLong, s"v$i", s"p${i % 2}"))
      .toDF("k", "s", "p")
    DeltaTable.create(spark, dir, src.schema, Seq("p"))
    val t = DeltaTable.forPath(spark, dir)
    // two appends per partition with DISJOINT k ranges → stats can
    // halve the file set for a k predicate
    t.append(src.filter($"k" <= 20000))
    t.append(src.filter($"k" > 20000))
    val snap = t.snapshot()
    val root = ContentTree.writeRoot(snap)
    val fs = Storage.fs(snap.tableRoot,
      spark.sessionState.newHadoopConf())
    val rootUri = fs.makeQualified(snap.tableRoot).toUri.getPath
    val resolved = root.resolve(snap.tableRoot.toString)
    val pred = "k > 20000"
    val treeAdds = ContentTree.prunedAddFileIterator(spark, resolved,
      snap.tableRoot.toString, rootUri, pred).toSeq
    val logAdds = new DeltaScan(snap, Some(pred))
      .collectAddFiles(slim = true)
    assert(treeAdds.map(_.path).sorted ==
      logAdds.map(a => Storage.decodeUriPath(a.path)).sorted)
    // and it actually pruned: half the live files survive
    val all = new DeltaScan(snap, None).collectAddFiles(slim = true)
    assert(treeAdds.size < all.size && treeAdds.nonEmpty)
  }

  test("incremental updateRoot: diff-applied tree matches a fresh " +
      "build, with Existing/Modified/Deleted/Added tracking statuses " +
      "and inherited identity") { withReuseProbe {
    val dir = TestSpark.tmpDir("amt-incr")
    val src = (1 to 30000).map(i => (i.toLong, s"v$i", s"p${i % 3}"))
      .toDF("k", "s", "p")
    DeltaTable.create(spark, dir, src.schema, Seq("p"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)                                   // v1: p0 p1 p2
    val tree1 = ContentTree.writeRoot(t.snapshot())
    t.append(src.filter($"p" === "p0" && $"k" <= 300)
      .withColumn("k", $"k" + 100000L))             // v2: new p0 files
    t.deleteWhereDV("k % 2 = 0 and p = 'p1'")       // v3: DV swap on p1
    t.deleteWhere("p = 'p2'")                       // v4: p2 removed whole
    val snap = t.snapshot()
    assert(snap.version == 4L)

    val tree2 = ContentTree.updateRoot(snap, tree1)
    assert(tree2.version == 4L)
    val rootUri = Storage.fs(snap.tableRoot,
        spark.sessionState.newHadoopConf())
      .makeQualified(snap.tableRoot).toUri.getPath

    // the updated tree reads back to EXACTLY the table's rows
    val adds = ContentTree.addFileIterator(spark,
      tree2.resolve(snap.tableRoot.toString), snap.tableRoot.toString,
      rootUri).toSeq
    val rebuilt = new DeltaScan(snap, None)
      .assemble(adds, keepMeta = false)
    assert(rebuilt.orderBy("k").collect().toSeq ==
      t.toDF.orderBy("k").collect().toSeq)

    // live entries equal a FRESH full build (identity fields aside)
    def liveSet(root: graft.delta.AdaptiveMetadata.ContentRoot) =
      ContentTree.readEntriesDF(spark,
        root.resolve(snap.tableRoot.toString), snap.tableRoot.toString)
        .filter(col("tracking.status") =!= TrackingStatus.Deleted)
        .select(col("location"), col("fileSizeInBytes"),
          coalesce(col("deletionVector.cardinality"), lit(-1L)))
        .collect().map(_.toString).toSet
    assert(liveSet(tree2) == liveSet(ContentTree.writeRoot(snap)))

    // tracking statuses tell the history
    val e = ContentTree.readEntriesDF(spark,
      tree2.resolve(snap.tableRoot.toString), snap.tableRoot.toString)
      .select(col("location"), col("tracking.status").as("st"),
        col("tracking.snapshotId").as("sid"),
        col("tracking.dvSnapshotId").as("dvSid"))
      .collect()
    import ContentTree.TrackingStatus._
    val p0 = e.filter(_.getString(0).contains("/p=p0/"))
    val p1 = e.filter(_.getString(0).contains("/p=p1/"))
    val p2 = e.filter(_.getString(0).contains("/p=p2/"))
    assert(p0.nonEmpty && p1.nonEmpty && p2.nonEmpty)
    // p0's v1 leaf has no diffed LOCATION (v2 added fresh files), so
    // it is REUSED by reference — entries keep their original Added@1
    // verbatim, Iceberg manifest-reuse semantics (Existing is what a
    // REWRITTEN leaf stamps on carried entries); v2's fresh p0 files
    // land in a new leaf as Added@2
    assert(p0.map(r => (r.getInt(1), r.getLong(2))).toSet ==
      Set((Added, 1L), (Added, 2L)))
    // p1 files DV-swapped at v3: Modified, identity INHERITED from v1,
    // dvSnapshotId = the swapping commit
    assert(p1.map(_.getInt(1)).toSet == Set(Modified))
    assert(p1.forall(r => r.getLong(2) == 1L && r.getLong(3) == 3L))
    // p2 files tombstoned at v4
    assert(p2.map(_.getInt(1)).toSet == Set(Deleted))
    assert(p2.forall(_.getLong(2) == 4L))

    // MANIFEST REUSE pin: leaves without a diffed location are carried
    // into the new root BY REFERENCE — byte-identical paths into
    // tree1's directory — while affected leaves point into tree2's.
    // A regression to rewrite-everything breaks the intersection.
    def manifestLocs(root: graft.delta.AdaptiveMetadata.ContentRoot) =
      spark.read.parquet(root.resolve(snap.tableRoot.toString))
        .filter(col("contentType") ===
          ContentTree.DataContentType.DataManifest)
        .select("location").collect().map(_.getString(0)).toSet
    val t1Locs = manifestLocs(tree1)
    val t2Locs = manifestLocs(tree2)
    val carried = t1Locs intersect t2Locs
    assert(carried.nonEmpty,
      "no leaf was reused by reference across updateRoot")
    // the carried leaves are exactly the ones holding no diffed
    // location: p0's v1 group (fresh p0 files land elsewhere); p1
    // (DV swap) and p2 (delete) leaves must NOT be carried
    val reusedEntries = spark.read.parquet(carried.map(l =>
        snap.tableRoot.toString.stripSuffix("/") + "/" + l).toSeq: _*)
    assert(reusedEntries.select("location").collect()
      .forall(_.getString(0).contains("/p=p0/")))

    // a same-version update is a no-op handle
    assert(ContentTree.updateRoot(snap, tree2) eq tree2)
  } }

  test("chained updateRoot: reuse keeps flowing across generations — " +
      "the third tree references leaves from BOTH earlier trees") { withReuseProbe {
    val dir = TestSpark.tmpDir("amt-chain")
    val src = (1 to 30000).map(i => (i.toLong, s"v$i", s"p${i % 3}"))
      .toDF("k", "s", "p")
    DeltaTable.create(spark, dir, src.schema, Seq("p"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)                                    // v1: p0 p1 p2
    val tree1 = ContentTree.writeRoot(t.snapshot())
    t.deleteWhereDV("k % 2 = 0 and p = 'p1'")        // v2: touches p1
    val tree2 = ContentTree.updateRoot(t.snapshot(), tree1)
    t.deleteWhereDV("k % 5 = 0 and p = 'p2'")        // v3: touches p2
    val snap = t.snapshot()
    val tree3 = ContentTree.updateRoot(snap, tree2)

    def locs(root: graft.delta.AdaptiveMetadata.ContentRoot) =
      spark.read.parquet(root.resolve(dir))
        .filter(col("contentType") ===
          ContentTree.DataContentType.DataManifest)
        .select("location").collect().map(_.getString(0)).toSet
    val (l1, l2, l3) = (locs(tree1), locs(tree2), locs(tree3))
    // tree2 reused p0+p2's tree1 leaf(s); tree3 must reuse p0's tree1
    // leaf AGAIN (via tree2's reference) and p1's tree2 leaf — reuse
    // that died after one generation would show an empty intersection
    assert((l3 intersect l1).nonEmpty,
      "generation-1 leaves no longer reused by generation 3")
    assert((l3 intersect (l2 diff l1)).nonEmpty,
      "generation-2 rewritten leaves not reused by generation 3")

    // and the maintained tree still reads back to the exact table
    val rootUri = Storage.fs(snap.tableRoot,
        spark.sessionState.newHadoopConf())
      .makeQualified(snap.tableRoot).toUri.getPath
    val adds = ContentTree.addFileIterator(spark,
      tree3.resolve(dir), dir, rootUri).toSeq
    val rebuilt = new DeltaScan(snap, None)
      .assemble(adds, keepMeta = false)
    assert(rebuilt.orderBy("k").collect().toSeq ==
      t.toDF.orderBy("k").collect().toSeq)
  } }

  test("updateRoot broadcasts the diff into the reuse probe only for a " +
      "small commit window") { withReuseProbe {
    // a session of its own: auto-broadcast off, so a broadcast join in
    // the probe can only come from updateRoot's hint
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val probes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    s2.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit = {
          val plan = qe.executedPlan.toString
          if (plan.contains("LeftSemi") && plan.contains("file_path"))
            probes.add(plan)
        }
        def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    // listener delivery is asynchronous: wait for the probe's plan
    def probePlan(update: => Unit): String = {
      probes.clear()
      update
      val deadline = System.currentTimeMillis() + 30000
      while (probes.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(!probes.isEmpty, "no reuse-probe plan captured")
      probes.peek()
    }

    val dir = TestSpark.tmpDir("amt-bcast")
    val src = s2.range(1, 3001).selectExpr("id AS k", "concat('v', id) AS s")
    def more(n: Int, shift: Long) =
      src.limit(n).withColumn("k", col("k") + shift)
    DeltaTable.create(s2, dir, src.schema)
    val t = DeltaTable.forPath(s2, dir)
    def broadcasts(plan: String) =
      Seq("BroadcastHashJoin", "BroadcastExchange").exists(plan.contains)
    // each window rewrites a v1 file, so the probe's semi-join matches
    t.append(src.repartition(2))                           // v1
    val tree1 = ContentTree.writeRoot(t.snapshot())
    t.deleteWhere("k <= 5")                                // v2
    t.append(more(10, 10000L))                             // v3
    var tree3: graft.delta.AdaptiveMetadata.ContentRoot = null
    val small = probePlan {
      tree3 = ContentTree.updateRoot(t.snapshot(), tree1) }
    assert(broadcasts(small), s"a 2-commit diff was not broadcast:\n$small")

    t.deleteWhere("k <= 10")                               // v4
    (5 to 13).foreach(i => t.append(more(5, i * 10000L)))  // v5..v13
    val snap = t.snapshot()
    assert(snap.version - tree3.version > 8)
    var tree13: graft.delta.AdaptiveMetadata.ContentRoot = null
    val plan = probePlan { tree13 = ContentTree.updateRoot(snap, tree3) }
    assert(!broadcasts(plan),
      s"the distributed diff of a 10-commit window was broadcast:\n$plan")
    // and the maintained tree still reads back to the exact table
    val rootUri = Storage.fs(snap.tableRoot,
        s2.sessionState.newHadoopConf())
      .makeQualified(snap.tableRoot).toUri.getPath
    val adds = ContentTree.addFileIterator(s2,
      tree13.resolve(dir), dir, rootUri).toSeq
    assert(new DeltaScan(snap, None).assemble(adds, keepMeta = false)
      .count() == t.toDF.count())
  } }

  test("TrackingInfo delta bitmaps: Modified entries carry " +
      "deletedPositions equal to the DV diff of the maintained range") {
    val dir = TestSpark.tmpDir("amt-bits")
    val src = (1 to 30000).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.repartition(2))       // v1: two files
    t.deleteWhereDV("k % 4 = 0")       // v2: initial DVs
    val snapPrev = t.snapshot()
    val tree1 = ContentTree.writeRoot(snapPrev)
    val prevDvByPath = new DeltaScan(snapPrev, None)
      .collectAddFiles(slim = true)
      .map(a => Storage.decodeUriPath(a.path) -> a.deletionVector).toMap
    t.deleteWhereDV("k % 2 = 0")       // v3: DVs extend (union)
    val snap = t.snapshot()
    val tree2 = ContentTree.updateRoot(snap, tree1)

    val conf = spark.sessionState.newHadoopConf()
    val newDvByPath = new DeltaScan(snap, None)
      .collectAddFiles(slim = true)
      .map(a => Storage.decodeUriPath(a.path) -> a.deletionVector).toMap
    val rows = ContentTree.readEntriesDF(spark,
      tree2.resolve(snap.tableRoot.toString), snap.tableRoot.toString)
      .select("location", "tracking.status",
        "tracking.deletedPositions", "tracking.replacedPositions")
      .collect()
    assert(rows.nonEmpty &&
      rows.forall(_.getInt(1) == TrackingStatus.Modified))
    rows.foreach { r =>
      val loc = r.getString(0)
      def posOf(d: Option[DeletionVectorDescriptor]): Set[Long] =
        d.map(DeletionVectors.readRowIndexes(_, snap.tableRoot, conf)
          .toSet).getOrElse(Set.empty)
      val expectDeleted = posOf(newDvByPath(loc)) -- posOf(prevDvByPath(loc))
      val got = DeletionVectors
        .deserializeBitmap(r.getAs[Array[Byte]](2)).toSet
      assert(got == expectDeleted, s"bitmap diff mismatch for $loc")
      // the diff is strictly the NEW deletions, not the whole DV
      assert(got.size < posOf(newDvByPath(loc)).size)
      // nothing was restored in this range
      assert(r.isNullAt(3))
    }
    // Existing entries (none here) and fresh builds carry no bitmaps:
    val fresh = ContentTree.readEntriesDF(spark,
      ContentTree.writeRoot(snap).resolve(snap.tableRoot.toString),
      snap.tableRoot.toString)
    assert(fresh.filter(col("tracking.deletedPositions").isNotNull)
      .count() == 0)
  }

  test("entry construction edge cases: encoded paths, absent/partial/" +
      "malformed stats, tightBounds=false, absolute DVs") {
    import org.apache.spark.sql.types._
    val dvSchema = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val addSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("stats", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("baseRowId", LongType),
      StructField("deletionVector", dvSchema)))
    val rowSchema = StructType(Seq(
      StructField("add", addSchema), StructField("version", LongType)))
    val dataSchema = StructType(Seq(StructField("c0", LongType)))
    def add(path: String, stats: String, dv: Row): Row =
      Row(Row(path, Map.empty[String, String], 10L, stats, null, null,
        dv), 3L)
    val rows = Seq(
      // %20 decodes, a literal '+' must NOT decode to a space
      add("a%20dir/part+1.parquet",
        """{"numRecords":5,"minValues":{"c0":1},"maxValues":{"c0":9},""" +
          """"nullCount":{"c0":0}}""", null),
      add("nostats.parquet", null, null),
      // maxValues/nullCount absent, explicit wide bounds
      add("partial.parquet",
        """{"numRecords":7,"tightBounds":false,"minValues":{"c0":2}}""",
        null),
      add("malformed.parquet", "{not json", null),
      // absolute 'p' DV: location verbatim, absent offset → 1, +8 framing
      add("dvabs.parquet", null,
        Row("p", "s3://bucket/dv/abs.bin", null, 40, 3L)))
    import scala.jdk.CollectionConverters._
    val adds = spark.createDataFrame(rows.asJava, rowSchema)
    val e = ContentTree.entriesFromAdds(adds,
        ContentTree.contentStatsSchema(dataSchema))
      .collect().map(r => r.getAs[String]("location") -> r).toMap
    assert(e.keySet == Set("a dir/part+1.parquet", "nostats.parquet",
      "partial.parquet", "malformed.parquet", "dvabs.parquet"))

    val a = e("a dir/part+1.parquet")
    assert(a.getAs[Long]("recordCount") == 5L)
    assert(a.getStruct(a.fieldIndex("tracking"))
      .getAs[Int]("status") == TrackingStatus.Added)
    assert(a.getStruct(a.fieldIndex("tracking"))
      .getAs[Long]("snapshotId") == 3L)
    val acs = a.getStruct(a.fieldIndex(CONTENT_STATS)).getStruct(0)
    assert(acs.getAs[Long]("lower_bound") == 1L &&
      acs.getAs[Long]("upper_bound") == 9L &&
      acs.getAs[Boolean]("tight_bounds") &&
      acs.getAs[Long]("value_count") == 5L &&
      acs.getAs[Long]("null_value_count") == 0L)

    val ns = e("nostats.parquet")
    assert(ns.isNullAt(ns.fieldIndex("recordCount")))

    val p = e("partial.parquet")
    assert(p.getAs[Long]("recordCount") == 7L)
    val pcs = p.getStruct(p.fieldIndex(CONTENT_STATS)).getStruct(0)
    assert(pcs.getAs[Long]("lower_bound") == 2L)
    assert(pcs.isNullAt(pcs.fieldIndex("upper_bound")))
    assert(!pcs.getAs[Boolean]("tight_bounds"))

    val m = e("malformed.parquet")
    assert(m.isNullAt(m.fieldIndex("recordCount")))

    val d = e("dvabs.parquet")
    val dvr = d.getStruct(d.fieldIndex("deletionVector"))
    assert(dvr.getString(0) == "s3://bucket/dv/abs.bin" &&
      dvr.getLong(1) == 1L && dvr.getLong(2) == 48L &&
      dvr.getLong(3) == 3L)
  }

  test("inline DVs are persisted under _delta_log/_amt at tree " +
      "construction and the tree survives vacuum") {
    val dir = TestSpark.tmpDir("ctinline")
    val src = (0L until 400L).map(k => (k, k % 5)).toDF("k", "m")
    DeltaTable.create(spark, dir, src.schema, configuration = Map(
      "delta.enableDeletionVectors" -> "true",
      "delta.deletedFileRetentionDuration" -> "interval 0 milliseconds"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.coalesce(2))
    // a handful of deleted rows per file → bitmaps under the inline cap
    t.deleteWhereDV("k % 100 = 7")
    val snap = t.snapshot()
    val inline = snap.allAdds
      .select(col("add.deletionVector.storageType")).collect()
      .flatMap(r => Option(r.getString(0)))
    assert(inline.nonEmpty && inline.forall(_ == "i"),
      s"fixture must carry inline DVs, got ${inline.toSeq}")
    val root = ContentTree.writeRoot(snap, numLeaves = 2)
    val resolved = root.resolve(snap.tableRoot.toString)
    // the entries reference ONE packed .bin under _delta_log/_amt —
    // never an inline blob, never a vacuum-reachable data-root file
    val locs = ContentTree.readEntriesDF(spark, resolved,
      snap.tableRoot.toString)
      .filter(col("deletionVector").isNotNull)
      .select(col("deletionVector.location")).collect()
      .map(_.getString(0))
    assert(locs.nonEmpty &&
      locs.forall(_.startsWith("_delta_log/_amt/")), locs.toSeq.toString)
    assert(locs.distinct.length == 1, "inline DVs must pack into one .bin")
    // zero-retention vacuum: log-unreferenced files at the DATA root
    // would die here; the _amt-housed bin must not
    t.vacuum()
    val rootUri = Storage.fs(snap.tableRoot,
        spark.sessionState.newHadoopConf())
      .makeQualified(snap.tableRoot).toUri.getPath
    val adds = ContentTree.addFileIterator(spark, resolved,
      snap.tableRoot.toString, rootUri).toSeq
    val viaTree = snap.scanBuilder().build()
      .assemble(adds, keepMeta = false)
      .select($"k").as[Long].collect().sorted.toSeq
    val direct = t.toDF.select($"k").as[Long].collect().sorted.toSeq
    assert(viaTree == direct && !viaTree.exists(_ % 100 == 7))
  }

  test("puffin DV blob round trip: write, footer, blob validation, " +
      "tree entry, and back to a Delta descriptor") {
    val dir = TestSpark.tmpDir("amt-puffin")
    val src = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    val snap = t.snapshot()
    val conf = spark.sessionState.newHadoopConf()
    val fs = Storage.fs(snap.tableRoot, conf)

    // write a puffin file holding one DV blob
    val positions = (0L until 2000L by 3L).toArray
    val bitmap = DeletionVectors.serializeBitmap(positions)
    val rel = "_delta_log/_amt/dv-test.puffin"
    val puffinPath = new Path(snap.tableRoot, rel)
    val metas = Puffin.writeDvFile(fs, puffinPath,
      Seq((bitmap, positions.length.toLong, Some("part-0.parquet"))),
      snapshotId = snap.version, sequenceNumber = snap.version)
    assert(metas.size == 1)
    val m = metas.head
    assert(m.length == bitmap.length + 4 + 8) // LE magic + len/crc framing

    // footer parses back; blob region validates and yields the bitmap
    val back = Puffin.readFooter(fs, puffinPath)
    assert(back == metas)
    assert(Puffin.readDvBlob(fs, puffinPath, m.offset, m.length)
      .sameElements(bitmap))

    // ride a PositionDeletes entry through a tree write/read
    val statsSchema = ContentTree.contentStatsSchema(snap.dataSchema)
    val entrySch = ContentTree.entrySchemaWithStats(statsSchema)
    ContentTree.validateEntry(DataContentType.PositionDeletes, "puffin",
      hasEqualityIds = false, hasManifestInfo = false,
      Some(snap.version), Some(snap.version))
    val entryRow = Row(DataContentType.PositionDeletes, rel, "puffin",
      Row(TrackingStatus.Added, snap.version, null, snap.version,
        snap.version, null, null, null),
      Row(rel, m.offset, m.length, positions.length.toLong),
      0, null, null, positions.length.toLong, fs.getFileStatus(puffinPath)
        .getLen, null, null, null, null, null, 4, null)
    import scala.jdk.CollectionConverters._
    val extra = spark.createDataFrame(Seq(entryRow).asJava, entrySch)
    val root = ContentTree.writeTree(snap,
      ContentTree.entriesDF(snap).unionByName(extra), numLeaves = 4)

    val ents = ContentTree.readEntriesDF(spark,
      root.resolve(snap.tableRoot.toString), snap.tableRoot.toString)
    val pd = ents.filter(col("contentType") ===
      DataContentType.PositionDeletes).collect()
    assert(pd.length == 1 && pd.head.getAs[String]("fileFormat") == "puffin")
    val dvr = pd.head.getStruct(pd.head.fieldIndex("deletionVector"))
    val info = DeletionVectorInfo(dvr.getString(0), dvr.getLong(1),
      dvr.getLong(2), dvr.getLong(3))
    // back to a DELTA descriptor: bitmap bytes survive the round trip
    val desc = Puffin.dvInfoToDeltaDescriptor(info, snap.tableRoot, conf)
    assert(DeletionVectors.readBitmapBytes(desc, snap.tableRoot, conf)
      .sameElements(bitmap))
    assert(desc.cardinality == positions.length.toLong)
    // data entries still rebuild the table alongside the delete entry
    val rootUri = fs.makeQualified(snap.tableRoot).toUri.getPath
    val adds = ContentTree.addFileIterator(spark,
      root.resolve(snap.tableRoot.toString), snap.tableRoot.toString,
      rootUri).toSeq
    assert(new DeltaScan(snap, None).assemble(adds, keepMeta = false)
      .count() == 1000L)
  }
  test("tree read of a table whose partition values hold a space and " +
      "% returns the log read's rows") {
    val dir = TestSpark.tmpDir("ct_pct")
    val df = spark.range(10).select(col("id"),
      concat(lit("a b%c"), (col("id") % 2).cast("string")).as("p"))
    DeltaTable.create(spark, dir, df.schema, Seq("p"))
    DeltaTable.forPath(spark, dir).append(df)
    val snap = DeltaTable.forPath(spark, dir).snapshot()
    val root = ContentTree.writeTree(snap, ContentTree.entriesDF(snap),
      numLeaves = 2)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "p").collect().map(r => (r.getLong(0), r.getString(1)))
        .toSet
    val viaTree = rows(EqualityDeletes.readApplying(snap,
      root.resolve(snap.tableRoot.toString)))
    assert(viaTree.size == 10)
    assert(viaTree == rows(snap.toDF))
  }

  /** Pin the manifest-reuse probe ON for small fixtures: updateRoot
    * skips the probe below graft.tree.reuseProbeMinEntries (merging a
    * tiny tree outright is cheaper), but these tests exist to verify
    * the reuse mechanics themselves.
    */
  private def withReuseProbe[A](f: => A): A = {
    System.setProperty("graft.tree.reuseProbeMinEntries", "0")
    try f finally System.clearProperty("graft.tree.reuseProbeMinEntries")
  }
}
