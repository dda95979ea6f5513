package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Catalog-managed tables (reference kernel/src/committer/,
  * log_path.rs, snapshot/builder.rs catalog validations): commits are
  * staged under `_delta_log/_staged_commits/` and ratified by a
  * catalog; snapshots build from published log + catalog log tail;
  * publish copies ratified commits to the published log.
  */
class CatalogManagedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def src(lo: Int, hi: Int) =
    (lo to hi).map(i => (i.toLong, s"v$i")).toDF("k", "s")

  private def fs(dir: String) = Storage.fs(new Path(dir),
    spark.sessionState.newHadoopConf())

  private def publishedCommits(dir: String): Seq[Long] =
    Storage.listSorted(fs(dir), FileNames.logDir(new Path(dir)))
      .flatMap(st => FileNames.parse(st))
      .collect { case c: FileNames.CommitFile => c.version }

  private def stagedCommits(dir: String): Seq[String] =
    Storage.listSorted(fs(dir), new Path(
      FileNames.logDir(new Path(dir)), FileNames.STAGED_COMMITS_DIR))
      .map(_.getPath.getName)

  test("create + appends stage commits; reads go through the log tail") {
    val dir = TestSpark.tmpDir("cm-basic")
    val cat = new InMemoryCatalog
    DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(cat))
    val t = DeltaTable.forPath(spark, dir, cat)
    t.append(src(1, 10))
    t.append(src(11, 20))

    // nothing published; three ratified staged commits
    assert(publishedCommits(dir).isEmpty)
    assert(stagedCommits(dir).size == 3)
    assert(cat.maxRatifiedVersion(dir).contains(2L))
    assert(cat.logTail(dir).map(_.version) == Seq(0L, 1L, 2L))

    val snap = t.snapshot()
    assert(snap.version == 2L)
    assert(CatalogManaged.isCatalogManaged(snap.protocol))
    assert(t.toDF.select("k").as[Long].collect().toSet == (1L to 20L).toSet)
  }

  test("reading without the catalog fails; bogus catalog info on a " +
      "path-based table fails") {
    val dir = TestSpark.tmpDir("cm-nocat")
    val cat = new InMemoryCatalog
    DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(cat))
    val t = DeltaTable.forPath(spark, dir, cat)
    t.append(src(1, 5))
    // even with every commit published, a catalog-blind read must be
    // refused — the catalog may have ratified newer commits
    t.publish()
    val e = intercept[IllegalArgumentException] {
      Snapshot.forTable(spark, dir)
    }
    assert(e.getMessage.contains("catalog-managed"))

    val plain = TestSpark.tmpDir("cm-plain")
    DeltaTable.create(spark, plain, src(1, 1).schema)
    val e2 = intercept[IllegalArgumentException] {
      Snapshot.forTable(spark, plain, None, Nil, Some(0L))
    }
    assert(e2.getMessage.contains("not catalog-managed"))
  }

  test("filesystem committer refuses a catalog-managed table") {
    val dir = TestSpark.tmpDir("cm-fsc")
    val cat = new InMemoryCatalog
    DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(cat))
    DeltaTable.forPath(spark, dir, cat).append(src(1, 5))
    // a path-based handle can't even build the snapshot; give it one
    // via the catalog handle's snapshot to hit the writer gate
    val snapViaCatalog = DeltaTable.forPath(spark, dir, cat).snapshot()
    val pathHandle = DeltaTable.forPath(spark, dir)
    val e = intercept[IllegalStateException] {
      pathHandle.appendFrom(snapViaCatalog, src(6, 9))
    }
    assert(e.getMessage.contains("requires a catalog committer"))
  }

  test("log-tail validations mirror the reference builder") {
    val dir = TestSpark.tmpDir("cm-val")
    val cat = new InMemoryCatalog
    DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(cat))
    val t = DeltaTable.forPath(spark, dir, cat)
    t.append(src(1, 5))
    val tail = cat.logTail(dir)

    // gap in the tail
    intercept[IllegalArgumentException] {
      Snapshot.forTable(spark, dir, None,
        tail.filter(_.version != 1L) :+ tail.last.copy(version = 3L),
        Some(3L))
    }
    // staged commits without a max catalog version
    intercept[IllegalArgumentException] {
      Snapshot.forTable(spark, dir, None, tail, None)
    }
    // requested version beyond the catalog's max
    intercept[IllegalArgumentException] {
      Snapshot.forTable(spark, dir, Some(5L), tail, Some(1L))
    }
    // tail must end at the max catalog version
    intercept[IllegalArgumentException] {
      Snapshot.forTable(spark, dir, None, tail.init, Some(1L))
    }
  }

  test("publish copies commits to the published log; partial publish " +
      "keeps a correct tail") {
    val dir = TestSpark.tmpDir("cm-pub")
    val cat = new InMemoryCatalog
    DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(cat))
    val t = DeltaTable.forPath(spark, dir, cat)
    t.append(src(1, 10))   // v1
    t.append(src(11, 20))  // v2

    assert(t.publish(Some(1L)) == 1L)
    assert(publishedCommits(dir) == Seq(0L, 1L))
    assert(cat.logTail(dir).map(_.version) == Seq(2L))
    assert(t.toDF.count() == 20)

    // published copy is byte-identical to the ratified staged commit
    val f = fs(dir)
    val pub = Storage.readLines(f,
      FileNames.commitFile(FileNames.logDir(new Path(dir)), 1L))
    val staged = Storage.readLines(f, cat
      .asInstanceOf[CatalogClient].logTail(dir) // tail no longer has v1
      .headOption.map(_.location).get)
    assert(pub.nonEmpty && staged.nonEmpty && pub != staged) // v1 vs v2

    assert(t.publish() == 2L)
    assert(publishedCommits(dir) == Seq(0L, 1L, 2L))
    assert(cat.logTail(dir).isEmpty)
    // fully published: reads through the catalog still work (empty tail)
    assert(t.toDF.count() == 20)
    intercept[IllegalArgumentException] { t.publish() } // nothing left
  }

  test("time travel resolves inside the log tail") {
    val dir = TestSpark.tmpDir("cm-tt")
    val cat = new InMemoryCatalog
    DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(cat))
    val t = DeltaTable.forPath(spark, dir, cat)
    t.append(src(1, 10))
    t.append(src(11, 20))
    assert(t.snapshot(Some(1L)).toDF.count() == 10)
    assert(t.snapshot(Some(0L)).toDF.count() == 0)
  }

  test("losing a ratification race rebases onto the winner with " +
      "monotonic ICT") {
    val dir = TestSpark.tmpDir("cm-race")
    val cat = new InMemoryCatalog
    DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(cat))
    val t = DeltaTable.forPath(spark, dir, cat)
    val stale = t.snapshot()          // writer A reads v0
    t.append(src(1, 10))              // writer B ratifies v1
    val v = t.appendFrom(stale, src(11, 20)) // A: conflict -> rebase
    assert(v == 2L)
    assert(t.toDF.select("k").as[Long].collect().toSet == (1L to 20L).toSet)
    // both data commits carry strictly increasing in-commit timestamps
    val f = fs(dir)
    val icts = cat.logTail(dir).map { c =>
      Storage.readLines(f, c.location)
        .filter(_.contains("inCommitTimestamp"))
        .map(JsonLog.parseLine)
        .flatMap(n => Option(n.get("commitInfo")).filterNot(_.isNull)
          .flatMap(ci => Option(ci.get("inCommitTimestamp"))
            .filterNot(_.isNull).map(_.asLong)))
        .head
    }
    assert(icts == icts.sorted && icts.distinct == icts)
    // exactly one loser orphan may remain staged; it is never ratified
    assert(stagedCommits(dir).size >= 3)
    assert(cat.logTail(dir).map(_.version) == Seq(0L, 1L, 2L))
  }

  test("checkpoint of a catalog-managed table serves reads with a " +
      "shorter tail") {
    val dir = TestSpark.tmpDir("cm-ckpt")
    val cat = new InMemoryCatalog
    DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(cat))
    val t = DeltaTable.forPath(spark, dir, cat)
    t.append(src(1, 10))
    t.append(src(11, 20))
    t.checkpoint()
    t.append(src(21, 30))
    val snap = t.snapshot()
    assert(snap.version == 3L)
    assert(snap.segment.checkpointVersion.contains(2L))
    assert(snap.segment.deltas.map(LogSegment.endVersion(_)) == Seq(3L))
    assert(t.toDF.select("k").as[Long].collect().toSet == (1L to 30L).toSet)
  }

  test("file-backed catalog: create/append/read/publish round trip " +
      "across independent catalog handles") {
    val dir = TestSpark.tmpDir("cm-file")
    val catDir = TestSpark.tmpDir("cm-file-cat")
    val f = fs(catDir)
    val cat = new FileCatalog(f, new Path(catDir))
    DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(cat))
    val t = DeltaTable.forPath(spark, dir, cat)
    t.append(src(1, 10))   // v1
    t.append(src(11, 20))  // v2

    assert(publishedCommits(dir).isEmpty)
    assert(cat.maxRatifiedVersion(dir).contains(2L))
    assert(cat.logTail(dir).map(_.version) == Seq(0L, 1L, 2L))
    assert(t.toDF.select("k").as[Long].collect().toSet == (1L to 20L).toSet)

    // a SECOND handle over the same directory sees the same state —
    // the catalog is the external store, not process memory
    val cat2 = new FileCatalog(f, new Path(catDir))
    val t2 = DeltaTable.forPath(spark, dir, cat2)
    assert(cat2.logTail(dir).map(_.version) == Seq(0L, 1L, 2L))
    assert(t2.toDF.count() == 20)

    // partial publish through one handle is visible through the other
    assert(t.publish(Some(1L)) == 1L)
    assert(publishedCommits(dir) == Seq(0L, 1L))
    assert(cat2.logTail(dir).map(_.version) == Seq(2L))
    assert(t2.toDF.count() == 20)
    assert(t2.snapshot(Some(1L)).toDF.count() == 10) // tail time travel
  }

  test("file-backed catalog: two-writer race — the catalog arbitrates " +
      "one winner per version, the loser rebases") {
    val dir = TestSpark.tmpDir("cm-file-race")
    val catDir = TestSpark.tmpDir("cm-file-race-cat")
    val f = fs(catDir)
    // two independent handles simulate two writers with separate clients
    val catA = new FileCatalog(f, new Path(catDir))
    val catB = new FileCatalog(f, new Path(catDir))
    DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(catA))
    val a = DeltaTable.forPath(spark, dir, catA)
    val b = DeltaTable.forPath(spark, dir, catB)

    val staleA = a.snapshot()        // A reads v0
    b.append(src(1, 10))             // B ratifies v1 first
    val v = a.appendFrom(staleA, src(11, 20)) // A: conflict -> rebase -> v2
    assert(v == 2L)
    assert(catB.maxRatifiedVersion(dir).contains(2L))
    assert(a.toDF.select("k").as[Long].collect().toSet == (1L to 20L).toSet)

    // raw arbitration: ratifying an already-taken version loses
    val taken = catA.logTail(dir).head
    assert(!catB.ratify(dir, CatalogCommit(taken.version, taken.location)))
    // ... and a gap is refused (versions ratify in order)
    assert(!catB.ratify(dir, CatalogCommit(99L, taken.location)))
  }

  test("DML (delete) works through the catalog committer") {
    val dir = TestSpark.tmpDir("cm-del")
    val cat = new InMemoryCatalog
    DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(cat))
    val t = DeltaTable.forPath(spark, dir, cat)
    t.append(src(1, 20))
    t.deleteWhere("k <= 5")
    assert(t.toDF.select("k").as[Long].collect().toSet == (6L to 20L).toSet)
    assert(publishedCommits(dir).isEmpty) // still all catalog-side
  }
}
