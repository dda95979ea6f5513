package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class VacuumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("vacuum removes expired unreferenced files, keeps live + recent") {
    val dir = TestSpark.tmpDir("vac")
    val src = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    // zero retention so fresh tombstones are immediately collectible
    DeltaTable.create(spark, dir, src.schema, configuration =
      Map("delta.deletedFileRetentionDuration" -> "interval 0 hours"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.deleteWhere("k <= 50") // rewrites: old files tombstoned

    Thread.sleep(50) // mtimes strictly below the vacuum cutoff
    val dry = t.vacuum(dryRun = true)
    assert(dry.nonEmpty, "expected rewrite leftovers to be collectible")
    val before = t.toDF.orderBy("k").collect().toSeq

    val deleted = t.vacuum()
    assert(deleted.toSet == dry.toSet)
    // table still reads identically after vacuum
    assert(t.toDF.orderBy("k").collect().toSeq == before)
    // second vacuum finds nothing
    assert(t.vacuum(dryRun = true).isEmpty)
  }

  test("fsckRepair tombstones adds whose data files vanished; reads " +
      "recover; dry run commits nothing") {
    val dir = TestSpark.tmpDir("fsck")
    val src = (1 to 40).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.filter($"k" <= 20).coalesce(1))  // v1: one file
    t.append(src.filter($"k" > 20).coalesce(1))   // v2: one file

    // delete v1's data file out from under the table
    val fs = Storage.fs(new org.apache.hadoop.fs.Path(dir),
      spark.sessionState.newHadoopConf())
    val victim = new DeltaScan(t.snapshot(), None).collectAddFiles()
      .map(_.path).sorted.head
    fs.delete(Storage.childPath(
      new org.apache.hadoop.fs.Path(dir), Storage.decodeUriPath(victim)),
      false)
    intercept[Exception] { t.toDF.count() } // FILE_NOT_EXIST

    val vBefore = t.snapshot().version
    val dry = t.fsckRepair(dryRun = true)
    assert(dry == Seq(victim))
    assert(t.snapshot().version == vBefore, "dry run must not commit")

    val repaired = t.fsckRepair()
    assert(repaired == Seq(victim))
    assert(t.snapshot().version == vBefore + 1)
    // the surviving file's rows read cleanly; nothing else was lost
    val left = t.toDF.select($"k").as[Long].collect().toSet
    assert(left == (1L to 20L).toSet || left == (21L to 40L).toSet)
    // second repair is a no-op
    assert(t.fsckRepair(dryRun = true).isEmpty)

    // the CALL surface routes to the same repair
    spark.conf.set("spark.sql.catalog.gd_fsck",
      "graft.sql.GraftDeltaCatalog")
    spark.conf.set("spark.sql.catalog.gd_fsck.warehouse",
      TestSpark.tmpDir("fsck-wh"))
    assert(spark.sql(
      s"CALL gd_fsck.system.fsck('$dir', dry_run => true)").count() == 0)
  }

  test("fsckRepair also repairs an add whose DELETION-VECTOR file " +
      "vanished (the bitmap is unrecoverable)") {
    val dir = TestSpark.tmpDir("fsck-dv")
    // alternating deletes over 20k rows blow past the 512-byte inline
    // threshold, forcing a FILE-backed DV
    val src = (1 to 20000).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema, configuration = Map(
      "delta.enableDeletionVectors" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.coalesce(1))
    t.deleteWhereDV("k % 2 = 0")
    val fs = Storage.fs(new org.apache.hadoop.fs.Path(dir),
      spark.sessionState.newHadoopConf())
    val dvFiles = Storage.listFilesRecursive(fs,
        new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.startsWith("deletion_vector_"))
    assert(dvFiles.nonEmpty, "expected a file-backed DV")
    dvFiles.foreach(st => fs.delete(st.getPath, false))

    val repaired = t.fsckRepair()
    assert(repaired.nonEmpty, "the DV-carrying add must be tombstoned")
    assert(t.toDF.count() == 0) // its rows are gone with it
    assert(t.fsckRepair(dryRun = true).isEmpty)
  }

  test("vacuum never deletes a live DV file written under a random prefix") {
    val dir = TestSpark.tmpDir("vacdv")
    val src = (1 to 50000).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema, configuration =
      Map("delta.deletedFileRetentionDuration" -> "interval 0 hours"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.repartition(1))
    // scattered deletions -> bitmap too large to inline -> DV FILE
    t.deleteWhereDV("k % 3 = 0")

    // simulate a writer that used a random directory prefix (delta-spark
    // randomPrefixLength): move the DV file under ab/ and patch the
    // descriptor to pathOrInlineDv = "ab" + z85(uuid)
    val root = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = Storage.fs(root, conf)
    val commit = FileNames.commitFile(FileNames.logDir(root), 2L)
    val txt = Storage.readLines(fs, commit).mkString("\n")
    val enc = """"pathOrInlineDv":"([^"]+)"""".r
      .findFirstMatchIn(txt).get.group(1)
    val rel = DeletionVectors.relativePath(enc)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "ab"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(root, rel),
      new org.apache.hadoop.fs.Path(root, s"ab/$rel")))
    fs.delete(commit, false)
    Storage.put(fs, commit, txt.replace(
      s""""pathOrInlineDv":"$enc"""", s""""pathOrInlineDv":"ab$enc""""))

    Thread.sleep(50)
    val before = t.toDF.orderBy("k").collect().toSeq
    assert(before.size == 50000 - 50000 / 3)
    assert(!t.vacuum(dryRun = true).exists(_.contains("deletion_vector")))
    t.vacuum()
    // the live prefixed DV survived; the table reads identically
    assert(t.toDF.orderBy("k").collect().toSeq == before)
  }

  test("distributed vacuum arm: same dead set, same deletes, same " +
      "survivors as the driver arm (graft.replay.driverMaxBytes=0)") {
    val dir = TestSpark.tmpDir("vacdist")
    val src = (1 to 200).map(i => (i.toLong, s"v$i", i % 4))
      .toDF("k", "s", "p")
    DeltaTable.create(spark, dir, src.schema, Seq("p"), configuration =
      Map("delta.deletedFileRetentionDuration" -> "interval 0 hours"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.deleteWhere("k <= 100") // rewrite leftovers become dead
    t.deleteWhereDV("k % 7 = 0") // live DV artifacts must survive
    Thread.sleep(50)
    val dryDriver = t.vacuum(dryRun = true)
    assert(dryDriver.nonEmpty)
    spark.conf.set("graft.replay.driverMaxBytes", "0")
    try {
      val dryWide = t.vacuum(dryRun = true)
      assert(dryWide.toSet == dryDriver.toSet,
        s"arms disagree: driver=${dryDriver.toSet} wide=${dryWide.toSet}")
      val before = t.toDF.orderBy("k").collect().toSeq
      val deleted = t.vacuum()
      assert(deleted.toSet == dryDriver.toSet)
      assert(t.toDF.orderBy("k").collect().toSeq == before)
      assert(t.vacuum(dryRun = true).isEmpty)
    } finally spark.conf.unset("graft.replay.driverMaxBytes")
  }

  test("distributed fsck arm: same missing set and repair as the " +
      "driver arm (graft.replay.driverMaxBytes=0)") {
    val dir = TestSpark.tmpDir("fsckdist")
    val src = (1 to 50000).map(i => (i.toLong, s"v$i", i % 2))
      .toDF("k", "s", "p")
    DeltaTable.create(spark, dir, src.schema, Seq("p"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.repartition(2))
    t.deleteWhereDV("k % 3 = 0") // scattered -> DV files, not inline
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = Storage.fs(root, spark.sessionState.newHadoopConf())
    val all = Storage.listFilesRecursive(fs, root)
    // vanish one data file and one DV file
    val dataVictim = all.find(st =>
      st.getPath.getName.endsWith(".parquet") &&
        !st.getPath.toString.contains("_delta_log")).get
    val dvVictim = all.find(
      _.getPath.getName.startsWith("deletion_vector")).get
    fs.delete(dataVictim.getPath, false)
    fs.delete(dvVictim.getPath, false)
    // one data file vanished + the (shared, multi-bitmap) DV file —
    // every add resolving a bitmap in it is broken
    val dryDriver = t.fsckRepair(dryRun = true)
    assert(dryDriver.nonEmpty)
    spark.conf.set("graft.replay.driverMaxBytes", "0")
    try {
      val dryWide = t.fsckRepair(dryRun = true)
      assert(dryWide.toSet == dryDriver.toSet,
        s"arms disagree: driver=$dryDriver wide=$dryWide")
      val repaired = t.fsckRepair()
      assert(repaired.toSet == dryDriver.toSet)
      // reads recover, and a second pass finds nothing
      t.toDF.count()
      assert(t.fsckRepair(dryRun = true).isEmpty)
    } finally spark.conf.unset("graft.replay.driverMaxBytes")
  }

  test("vacuum reports reclaimed files/bytes (vacuum_delete metric)") {
    val dir = TestSpark.tmpDir("vacio")
    val src = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema, configuration =
      Map("delta.deletedFileRetentionDuration" -> "interval 0 hours"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.deleteWhere("k <= 50")
    Thread.sleep(50)
    val rep = new InMemoryReporter
    val prev = Metrics.reporter
    Metrics.reporter = rep
    try {
      val deleted = t.vacuum()
      assert(deleted.nonEmpty)
      val io = rep.events.collect { case e: MetricEvent.IoBytes => e }
        .filter(_.phase == "vacuum_delete")
      assert(io.size == 1 && io.head.files == deleted.size.toLong &&
        io.head.bytes > 0, s"vacuum not metered: ${rep.events}")
    } finally Metrics.reporter = prev
  }

  test("vacuum keeps files protected by unexpired tombstones") {
    val dir = TestSpark.tmpDir("vac2")
    val src = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema) // default 1-week retention
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.deleteWhere("k <= 10")
    // tombstones are fresh: nothing may be deleted
    assert(t.vacuum(dryRun = true).isEmpty)
    // time travel to the pre-delete version still works
    assert(t.snapshot(Some(1L)).toDF.count() == 50)
  }

  test("fsckRepair: an absolute-URI add in a SIBLING directory whose " +
      "name extends the table root is probed directly — never judged " +
      "missing by the root-only listing") {
    // the table sits one level down so its sibling shares the drained
    // scratch dir
    val dir = TestSpark.tmpDir("fsckroot") + "/t"
    val src = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.filter($"k" <= 7).coalesce(1)) // v1

    // a LIVE parquet file in sibling `<dir>2` — the sibling path
    // starts with the root string but is NOT under the root
    val sib = dir + "2"
    src.filter($"k" > 7).coalesce(1).write.parquet(sib)
    val fs = Storage.fs(new org.apache.hadoop.fs.Path(dir),
      spark.sessionState.newHadoopConf())
    val sibFile = fs.listStatus(new org.apache.hadoop.fs.Path(sib))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val abs = fs.makeQualified(sibFile)
    val st = fs.getFileStatus(abs)
    // v2: shallow-clone-style add by absolute URI
    val add = AddFile(abs.toString, Map.empty, st.getLen,
      st.getModificationTime, dataChange = true)
    val logDir = FileNames.logDir(new org.apache.hadoop.fs.Path(dir))
    Storage.put(fs, FileNames.commitFile(logDir, 2L),
      JsonLog.writeAction(SingleAction(add = Some(add))) + "\n")
    assert(t.toDF.count() == 10) // sibling rows read fine

    // the sibling file EXISTS: fsck must not report (or tombstone) it.
    // Pre-fix, `startsWith(rootUri)` matched `<dir>2/...` against the
    // root-only listing and a non-dry-run FSCK removed live data.
    assert(t.fsckRepair(dryRun = true).isEmpty)
    assert(t.fsckRepair().isEmpty)
    assert(t.toDF.count() == 10)
  }

  /** Rewrite commit `v` of the table at `root` through `edit`, which
    * must change it (how these tests plant descriptors and paths that no
    * writer here produces).
    */
  private def patchCommit(root: Path, v: Long)(edit: String => String)
      : Unit = {
    val fs = Storage.fs(root, spark.sessionState.newHadoopConf())
    val commit = FileNames.commitFile(FileNames.logDir(root), v)
    val txt = Storage.readLines(fs, commit).mkString("\n")
    val out = edit(txt)
    assert(out != txt, s"commit $v unchanged")
    fs.delete(commit, false)
    Storage.put(fs, commit, out + "\n")
  }

  test("vacuum and fsck resolve every file an action names, on both " +
      "arms: relative and absolute adds, prefixed u, p and inline DVs") {
    for (wide <- Seq(false, true)) {
      val dir = TestSpark.tmpDir("vacpaths") + "/t"
      val root = new Path(dir)
      val fs = Storage.fs(root, spark.sessionState.newHadoopConf())
      def rows(ks: Range) =
        ks.map(i => (i.toLong, s"v$i")).toDF("k", "s").coalesce(1)
      DeltaTable.create(spark, dir, rows(1 to 1).schema, configuration = Map(
        "delta.enableDeletionVectors" -> "true",
        "delta.deletedFileRetentionDuration" -> "interval 0 hours"))
      val t = DeltaTable.forPath(spark, dir)
      def adds() = new DeltaScan(t.snapshot(), None).collectAddFiles()
      def appendFile(ks: Range): String = {
        val before = adds().map(_.path).toSet
        t.append(rows(ks))
        val added = adds().map(_.path).filterNot(before)
        assert(added.size == 1, s"expected one file, got $added")
        added.head
      }
      def dvOf(path: String) = adds().find(_.path == path).get
        .deletionVector.get

      val relative = appendFile(1 to 10)
      val uDv = appendFile(1001 to 2000)
      val pDv = appendFile(2001 to 3000)
      val inline = appendFile(3001 to 3010)
      val missing = appendFile(4001 to 4010)
      // scattered deletes: bitmaps too large to inline -> DV files
      t.deleteWhereDV("k > 1000 AND k <= 2000 AND k % 3 = 0")
      // a writer that used a random directory prefix: the DV file moves
      // under ab/ and its descriptor becomes "ab" + z85(uuid)
      val enc = dvOf(uDv).pathOrInlineDv
      val uRel = DeletionVectors.relativePath(enc)
      fs.mkdirs(new Path(root, "ab"))
      assert(fs.rename(new Path(root, uRel), new Path(root, s"ab/$uRel")))
      patchCommit(root, t.snapshot().version)(_.replace(
        s""""pathOrInlineDv":"$enc"""", s""""pathOrInlineDv":"ab$enc""""))
      t.deleteWhereDV("k > 2000 AND k <= 3000 AND k % 3 = 0")
      // the second DV file, named by its absolute URI inside the root
      val pEnc = dvOf(pDv).pathOrInlineDv
      val pAbs = fs.makeQualified(
        new Path(root, DeletionVectors.relativePath(pEnc))).toString
      patchCommit(root, t.snapshot().version)(_.replace(
        s""""storageType":"u","pathOrInlineDv":"$pEnc"""",
        s""""storageType":"p","pathOrInlineDv":"$pAbs""""))
      t.deleteWhereDV("k = 3005")
      assert(Seq(uDv, pDv, inline).map(dvOf(_).storageType) ==
        Seq("u", "p", "i"))

      // a live file inside the root and one in sibling `<dir>2` (its
      // path starts with the root's), both added by absolute URI
      rows(5001 to 5010).write.parquet(dir + "/extra")
      rows(6001 to 6010).write.parquet(dir + "2")
      val absolute = Seq(dir + "/extra", dir + "2").map { d =>
        fs.makeQualified(fs.listStatus(new Path(d)).map(_.getPath)
          .find(_.getName.endsWith(".parquet")).get)
      }
      Storage.put(fs, FileNames.commitFile(FileNames.logDir(root),
          t.snapshot().version + 1),
        absolute.map { p =>
          val st = fs.getFileStatus(p)
          JsonLog.writeAction(SingleAction(add = Some(AddFile(p.toString,
            Map.empty, st.getLen, st.getModificationTime,
            dataChange = true)))) + "\n"
        }.mkString)

      // one orphan, and one live file gone from storage
      val orphan = "part-00000-orphan.snappy.parquet"
      Storage.put(fs, new Path(root, orphan), "orphan")
      assert(fs.delete(Storage.dataFile(root, missing), false))
      Thread.sleep(50) // mtimes strictly below the vacuum cutoff

      // every file the table leaves in storage and what must become of
      // it: kept, deleted by VACUUM, or reported missing by FSCK
      val files = Seq(
        ("relative add", Storage.dataFile(root, relative), "kept"),
        ("absolute in-root add", absolute(0), "kept"),
        ("absolute sibling add", absolute(1), "kept"),
        ("data file under a u DV", Storage.dataFile(root, uDv), "kept"),
        ("prefixed u DV", new Path(root, s"ab/$uRel"), "kept"),
        ("data file under a p DV", Storage.dataFile(root, pDv), "kept"),
        ("in-root p DV", new Path(pAbs), "kept"),
        ("data file under an inline DV", Storage.dataFile(root, inline),
          "kept"),
        ("planted orphan", new Path(root, orphan), "vacuumed"),
        ("deleted live file", Storage.dataFile(root, missing), "missing"))
      def named(fate: String) = files.filter(_._3 == fate).map(_._2)
      assert(named("kept").forall(fs.exists) &&
        named("vacuumed").forall(fs.exists) &&
        !named("missing").exists(fs.exists))

      def arm[A](f: => A): A =
        if (!wide) f
        else {
          spark.conf.set("graft.replay.driverMaxBytes", "0")
          try f finally spark.conf.unset("graft.replay.driverMaxBytes")
        }
      val label = if (wide) "wide arm" else "driver arm"
      assert(arm(t.vacuum(dryRun = true)) == Seq(orphan), label)
      assert(arm(t.fsckRepair(dryRun = true)) == Seq(missing), label)
      assert(arm(t.fsckRepair()) == Seq(missing), label)
      assert(arm(t.vacuum()) == Seq(orphan), label)
      files.foreach { case (what, p, fate) =>
        assert(fs.exists(p) == (fate == "kept"), s"$label: $what")
      }
      val survivors = (1 to 10) ++
        (1001 to 3000).filter(_ % 3 != 0) ++
        (3001 to 3010).filter(_ != 3005) ++ (5001 to 5010) ++ (6001 to 6010)
      assert(t.toDF.select($"k").as[Long].collect().sorted.toSeq ==
        survivors.map(_.toLong), label)
    }
  }

  test("vacuum and fsck dry runs on a driver-small table launch no Spark " +
      "job") {
    val dir = TestSpark.tmpDir("vacjobs")
    val src = (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema, configuration = Map(
      "delta.enableDeletionVectors" -> "true",
      "delta.deletedFileRetentionDuration" -> "interval 0 hours"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.repartition(2))
    t.deleteWhere("k <= 100") // rewrite leftovers: dead files
    t.deleteWhereDV("k % 3 = 0") // live DV files
    Thread.sleep(50)
    assert(t.snapshot().smallState)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val dead = t.vacuum(dryRun = true)
      val missing = t.fsckRepair(dryRun = true)
      TestListenerBus.drain(sc)
      assert(dead.nonEmpty && missing.isEmpty)
      assert(jobs.get == 0, s"${jobs.get} Spark jobs ran")
    } finally sc.removeSparkListener(listener)
  }
}
