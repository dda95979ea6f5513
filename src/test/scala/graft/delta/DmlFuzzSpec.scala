package graft.delta

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Randomized DML sequences verified against an in-memory model after
  * EVERY commit: append / rewrite-delete / DV-delete / update /
  * checkpoint / compaction / OPTIMIZE / restore compose in arbitrary
  * order and the table must read exactly like the model at each step —
  * including model rollback on restore. Fixed seed: reproducible.
  */
class DmlFuzzSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  Seq((7, 24), (23, 14)).foreach { case (seed, steps) =>
    test(s"randomized DML sequence matches the model at every version " +
        s"(seed $seed)") { run(seed, steps) }
  }

  // the same model check with HALF the mutations routed through the
  // SQL surface (UPDATE/DELETE/MERGE INTO via the extension rule and
  // DSv2 delete) and delta.checkpointInterval auto-checkpoints firing
  // mid-sequence — SQL-typed and API-typed DML must be one engine
  test("randomized DML via SQL + API with auto-checkpoint interleaved " +
      "(seed 41)") { run(41, 20, sqlRoute = true) }

  // the full mix again, then table_changes replayed over every maximal
  // restore-free version range must rebuild the recorded model state —
  // the end-to-end CDF contract (classification, DV diffs, pre/post
  // images) under arbitrary DML composition
  test("CDF fold rebuilds the model across every restore-free range " +
      "(seed 57)") { run(57, 22, foldCdf = true) }

  // the SAME DML/maintenance mix committing through the object-store
  // conditional-put committer: every version becomes one atomic
  // conditional PUT (no temp file + link/rename), and the model
  // equivalence must hold unchanged (reference committer/filesystem.rs
  // over a conditional-put StorageHandler)
  test("randomized DML with interleaved checkpoints: driver-small " +
      "fast-path reads match forced-distributed replay at every " +
      "step (seed 83)") {
    run(83, 18, dualRead = true,
      extraProps = Map("delta.checkpointInterval" -> "3"))
  }

  test("randomized DML through the conditional-put committer (seed 97)") {
    run(97, 20, committer =
      Some(new ObjectStoreCommitter(new InMemoryObjectStore)))
  }

  // the full DML/maintenance mix under the table-property surface that
  // changes the BYTES on disk — randomized file prefixes, pinned zstd
  // codec, tiny targetFileSize, struct-form checkpoint stats, V2
  // checkpoint policy. The model equivalence must be property-blind.
  test("randomized DML under randomized-prefix/zstd/struct-stats/" +
      "v2-policy properties (seed 61)") {
    run(61, 18, extraProps = Map(
      TableProperties.RANDOMIZE_FILE_PREFIXES -> "true",
      TableProperties.RANDOM_PREFIX_LENGTH -> "3",
      TableProperties.PARQUET_COMPRESSION -> "zstd",
      TableProperties.TARGET_FILE_SIZE -> "1mb",
      TableProperties.WRITE_STATS_AS_STRUCT -> "true",
      TableProperties.CHECKPOINT_POLICY -> "v2"))
  }

  // ==========================================================================
  // Auto-checkpoint × expired-log cleanup × vacuum × time travel.
  //
  // Retention is zeroed so every checkpoint immediately expires the
  // commits it supersedes and every vacuum immediately drops dead
  // files — the history-truncation horizon races forward while random
  // time-travel / RESTORE / CDF probes chase it. Contract asserted at
  // every probe, against the ACTUAL log listing (not an assumed
  // horizon):
  //  - a version whose log segment is still assemblable AND at/above
  //    the last vacuum floor reads EXACTLY its recorded model state;
  //  - a version whose segment was truncated fails with the documented
  //    errors (log starts at / not available / missing commit), never
  //    garbage;
  //  - between the two (segment alive, data files possibly vacuumed) a
  //    read may fail, but a SUCCESSFUL read must still be exact.
  // ==========================================================================
  test("cleanup x vacuum x time-travel fuzz: 100 seeds of racing the " +
      "history horizon") {
    val seeds = sys.env.get("GRAFT_FUZZ_SEEDS").map(_.toInt).getOrElse(100)
    (1 to seeds).foreach(runCleanupFuzz)
  }

  private def runCleanupFuzz(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val dir = TestSpark.tmpDir("cleanfuzz")
    val schema = Seq((0L, 0.0)).toDF("k", "v").schema
    DeltaTable.create(spark, dir, schema, configuration = Map(
      TableChanges.CDF_ENABLED_KEY -> "true",
      "delta.checkpointInterval" -> "3",
      "delta.logRetentionDuration" -> "interval 0 milliseconds",
      "delta.deletedFileRetentionDuration" -> "interval 0 milliseconds"))
    val t = DeltaTable.forPath(spark, dir)
    val fsys = Storage.fs(new org.apache.hadoop.fs.Path(dir),
      spark.sessionState.newHadoopConf())
    val logDir = FileNames.logDir(new org.apache.hadoop.fs.Path(dir))

    var model = Vector.empty[(Long, Double)]
    val history = scala.collection.mutable.Map(0L -> model)
    var version = 0L
    var nextK = 0L
    // earliest version whose DATA files are guaranteed intact (vacuum
    // protects only files live at its own version)
    var readFloor = 0L

    def record(v: Long): Unit = { version = v; history(v) = model }

    /** Can version `v` still be assembled from what's on disk? */
    def constructible(v: Long): Boolean = {
      val files = Storage.listSorted(fsys, logDir)
        .flatMap(st => FileNames.parse(st))
      val commits = files.collect {
        case c: FileNames.CommitFile => c.version }.toSet
      val ckpts = files.collect {
        case c: FileNames.CheckpointFile => c.version }.toSet
      def commitsRun(lo: Long): Boolean = (lo to v).forall(commits)
      commitsRun(0L) ||
        ckpts.exists(c => c <= v && (c == v || commitsRun(c + 1)))
    }

    def truncationError(e: Throwable): Boolean = {
      val m = Option(e.getMessage).getOrElse("")
      (e.isInstanceOf[IllegalStateException] ||
        e.isInstanceOf[IllegalArgumentException]) &&
        (m.contains("log starts at version") ||
          m.contains("not available") ||
          m.contains("missing commit"))
    }

    def readAt(v: Long): Seq[(Long, Double)] =
      t.snapshot(Some(v)).toDF.select($"k", $"v").as[(Long, Double)]
        .collect().sorted.toSeq

    /** The probe contract, against the live listing. */
    def probe(v: Long): Unit = {
      if (!constructible(v)) {
        val e = intercept[Exception] { readAt(v) }
        assert(truncationError(e),
          s"seed $seed: version $v below horizon failed with " +
            s"undocumented error: $e")
      } else if (v >= readFloor) {
        assert(readAt(v) == history(v).sorted.toSeq,
          s"seed $seed: exact read at $v diverged")
      } else {
        // segment alive but data files may be vacuumed: success must
        // still be exact; a READ failure is an accepted outcome — but
        // the exactness assert must never be swallowed with it
        val rows =
          try Some(readAt(v))
          catch { case _: Exception => None }
        rows.foreach(r => assert(r == history(v).sorted.toSeq,
          s"seed $seed: stale read at $v returned garbage"))
      }
    }

    (1 to 8).foreach { step =>
      rnd.nextInt(8) match {
        case 0 | 1 | 2 => // append (auto-checkpoint fires every 3rd v)
          val n = 5 + rnd.nextInt(15)
          val rows = (nextK until nextK + n)
            .map(k => (k, (k % 7).toDouble))
          nextK += n
          val v = t.append(rows.toDF("k", "v").coalesce(1))
          model = model ++ rows
          record(v)
        case 3 => // rewrite delete
          val m = 2 + rnd.nextInt(4)
          val r = rnd.nextInt(m)
          val v = t.deleteWhere(s"k % $m = $r")
          model = model.filterNot { case (k, _) => k % m == r }
          record(v)
        case 4 => // explicit checkpoint → immediate expired-log cleanup
          t.checkpoint()
        case 5 => // vacuum with zero retention → data horizon moves;
          // half the runs take the distributed arm, so BOTH vacuum
          // paths fuzz against the same model
          if (rnd.nextBoolean())
            spark.conf.set("graft.replay.driverMaxBytes", "0")
          try t.vacuum()
          finally spark.conf.unset("graft.replay.driverMaxBytes")
          readFloor = version
        case 6 => // restore to a safe target (segment + data intact)
          val targets = history.keys
            .filter(v => v < version && v >= readFloor && constructible(v))
          if (targets.nonEmpty) {
            val target = targets.toSeq(rnd.nextInt(targets.size))
            record(t.restore(target))
            model = history(target)
            history(version) = model
          }
        case 7 => // deliberate below-horizon probes
          val dead = history.keys.filter(v => !constructible(v))
          if (dead.nonEmpty) {
            val w = dead.toSeq(rnd.nextInt(dead.size))
            probe(w)
            // RESTORE below the horizon fails the same way
            val e = intercept[Exception] { t.restore(w) }
            assert(truncationError(e),
              s"seed $seed: restore($w) below horizon: $e")
            // CDF starting below the horizon fails with a documented
            // range/truncation error, never garbage
            val c = intercept[Exception] {
              TableChanges.read(spark, dir, w, Some(version)).collect()
            }
            assert(truncationError(c) ||
              Option(c.getMessage).exists(_.contains("CDF range")),
              s"seed $seed: CDF from $w below horizon: $c")
          }
      }
      // random time-travel probe at every step
      val v = history.keys.toSeq(rnd.nextInt(history.size))
      probe(v)
    }
    // current state always reads exactly, from a fresh table object
    assert(DeltaTable.forPath(spark, dir).toDF.select($"k", $"v")
      .as[(Long, Double)].collect().sorted.toSeq == model.sorted.toSeq,
      s"seed $seed: final state diverged")
  }

  private def run(seed: Int, steps: Int,
      sqlRoute: Boolean = false,
      extraProps: Map[String, String] = Map.empty,
      committer: Option[Committer] = None,
      foldCdf: Boolean = false,
      dualRead: Boolean = false): Unit = {
    val rnd = new scala.util.Random(seed)
    val dir = TestSpark.tmpDir("fuzz")
    val schema = Seq((0L, 0.0)).toDF("k", "v").schema
    DeltaTable.create(spark, dir, schema, configuration =
      Map(TableChanges.CDF_ENABLED_KEY -> "true") ++ extraProps ++
        (if (sqlRoute) Map("delta.checkpointInterval" -> "4") else Map.empty))
    val t = committer match {
      case Some(c) => DeltaTable.forPath(spark, dir, c)
      case None => DeltaTable.forPath(spark, dir)
    }
    val sqlName = s"gd_fuzz.default.`$dir`"
    if (sqlRoute) {
      spark.conf.set("spark.sql.catalog.gd_fuzz",
        "graft.sql.GraftDeltaCatalog")
      spark.conf.set("spark.sql.catalog.gd_fuzz.warehouse",
        TestSpark.tmpDir("fuzz-wh"))
    }
    def viaSql(): Boolean = sqlRoute && rnd.nextBoolean()

    var model = Vector.empty[(Long, Double)]
    var nextK = 0L
    // model state at each committed version (restore targets)
    val history = scala.collection.mutable.Map(0L -> model)
    var version = 0L

    def record(v: Long): Unit = { version = v; history(v) = model }

    def checkTable(context: String): Unit = {
      val got = t.toDF.select($"k", $"v").as[(Long, Double)]
        .collect().sorted.toSeq
      assert(got == model.sorted.toSeq,
        s"$context diverged at version $version: " +
          s"got ${got.take(5)}... model ${model.sorted.take(5)}...")
      // dualRead: a FRESH handle read through the driver-small replay
      // (one driver pass, local-relation file list) and one
      // through the forced-distributed replay must both match the
      // model after EVERY random step — the equivalence property for
      // the small-state machinery under arbitrary DML + checkpoints
      if (dualRead) {
        def freshRead() = DeltaTable.forPath(spark, dir).toDF
          .select($"k", $"v").as[(Long, Double)].collect().sorted.toSeq
        val fast = freshRead()
        spark.conf.set("graft.replay.driverMaxBytes", "0")
        val dist =
          try freshRead()
          finally spark.conf.unset("graft.replay.driverMaxBytes")
        assert(fast == model.sorted.toSeq,
          s"$context: fast-path fresh read diverged")
        assert(dist == fast,
          s"$context: distributed replay diverged from fast path")
      }
    }

    (1 to steps).foreach { step =>
      val op = rnd.nextInt(12)
      op match {
        case 0 | 1 | 2 => // append a fresh batch
          val n = 20 + rnd.nextInt(80)
          val rows = (nextK until nextK + n)
            .map(k => (k, (k % 13).toDouble))
          nextK += n
          val df0 = rows.toDF("k", "v").repartition(1 + rnd.nextInt(3))
          // half the time, reorder columns and go through the
          // mergeSchema path (no-op evolution + alignment projection)
          val v = if (rnd.nextBoolean()) t.append(df0)
            else t.append(df0.select($"v", $"k"), mergeSchema = true)
          model = model ++ rows
          record(v)
        case 3 => // rewrite delete (sometimes as SQL DELETE FROM)
          if (viaSql()) {
            // DSv2 DELETE needs a source-Filter-translatable predicate
            val lo = rnd.nextInt(math.max(1, nextK.toInt)).toLong
            val hi = lo + 1 + rnd.nextInt(40)
            spark.sql(s"DELETE FROM $sqlName WHERE k >= $lo AND k < $hi")
            model = model.filterNot { case (k, _) => k >= lo && k < hi }
            record(t.snapshot().version)
          } else {
            val m = 2 + rnd.nextInt(5)
            val r = rnd.nextInt(m)
            val v = t.deleteWhere(s"k % $m = $r")
            model = model.filterNot { case (k, _) => k % m == r }
            record(v)
          }
        case 4 => // DV delete
          val c = rnd.nextInt(math.max(1, nextK.toInt))
          val v = t.deleteWhereDV(s"k < $c AND v > 5")
          model = model.filterNot { case (k, vv) => k < c && vv > 5 }
          record(v)
        case 5 => // update (sometimes as SQL UPDATE)
          val c = rnd.nextInt(math.max(1, nextK.toInt))
          val v = if (viaSql()) {
            spark.sql(
              s"UPDATE $sqlName SET v = v + 100 WHERE k >= $c AND v < 4")
            t.snapshot().version
          } else t.updateWhere(s"k >= $c AND v < 4",
            Map("v" -> "v + 100"))
          model = model.map { case (k, vv) =>
            if (k >= c && vv < 4) (k, vv + 100) else (k, vv)
          }
          record(v)
        case 6 => // checkpoint (no data change)
          t.checkpoint(); history(version) = model
        case 7 => // compaction / optimize / auto-compact (no data change)
          rnd.nextInt(3) match {
            case 0 => record(t.optimizeCompact())
            case 1 => t.autoCompact(minNumFiles = 2).foreach(record)
            case _ =>
              if (version < 1) record(t.optimizeCompact())
              else try { t.compactLog(math.max(1, version - 2), version); () }
                catch { case _: IllegalStateException => () } // range exists
          }
        case 8 => // restore to a random earlier version
          val targets = history.keys.filter(_ < version)
          if (targets.nonEmpty) {
            val target = targets.toSeq(rnd.nextInt(targets.size))
            val v = t.restore(target)
            model = history(target)
            record(v)
          }
        case 9 => // merge: update-matched + delete-matched + insert
          import MergeClause._
          val n = 10 + rnd.nextInt(30)
          val lo = if (nextK > 0) rnd.nextLong(nextK) else 0L
          // source: half overlaps existing keys, half is fresh
          val overlap = (lo until math.min(lo + n / 2, nextK))
            .map(k => (k, -1.0))
          val fresh = (nextK until nextK + n / 2).map(k => (k, -2.0))
          nextK += n / 2
          val srcRows = overlap ++ fresh
          val v = if (viaSql()) {
            srcRows.toDF("k", "v").createOrReplaceTempView("fuzz_src")
            spark.sql(s"""MERGE INTO $sqlName AS tg USING fuzz_src AS sr
              ON tg.k = sr.k
              WHEN MATCHED AND tg.v > 200 THEN DELETE
              WHEN MATCHED THEN UPDATE SET v = tg.v + sr.v
              WHEN NOT MATCHED THEN INSERT (k, v) VALUES (sr.k, sr.v)""")
            t.snapshot().version
          } else t.merge(srcRows.toDF("k", "v"), "t.k = s.k", Seq(
            MatchedDelete(Some("t.v > 200")),
            MatchedUpdate(None, Map("v" -> "t.v + s.v")),
            NotMatchedInsert(None, Map("k" -> "s.k", "v" -> "s.v"))))
          if (v > version) {
            val srcMap = srcRows.toMap
            val matchedKeys = model.map(_._1).toSet
            model = model.flatMap { case (k, vv) =>
              if (!srcMap.contains(k)) Some((k, vv))
              else if (vv > 200) None
              else Some((k, vv + srcMap(k)))
            } ++ srcRows.filterNot { case (k, _) => matchedKeys(k) }
            record(v)
          }
        case 10 => // DV update: in-place mark + updated copies only
          val c = rnd.nextInt(math.max(1, nextK.toInt))
          val v = t.updateWhereDV(s"k >= $c AND v < 3",
            Map("v" -> "v + 50"))
          model = model.map { case (k, vv) =>
            if (k >= c && vv < 3) (k, vv + 50) else (k, vv)
          }
          record(v)
        case 11 => // constraint lifecycle: gate on, violating write
          // rejected leaving state untouched, gate off
          t.addCheckConstraint(s"fz$step", "v > -1000")
          val rejected = try {
            t.append(Seq((-1L, -5000.0)).toDF("k", "v")); false
          } catch { case _: Exception => true }
          assert(rejected, "constraint must gate the append")
          t.dropCheckConstraint(s"fz$step")
          version = t.snapshot().version
          history(version) = model
      }
      checkTable(s"step $step (op $op)")
    }
    // the log survives a final checkpoint + full reread from scratch
    t.checkpoint()
    val fresh = DeltaTable.forPath(spark, dir)
    assert(fresh.toDF.select($"k", $"v").as[(Long, Double)]
      .collect().sorted.toSeq == model.sorted.toSeq)

    // CDF-fold consistency: replaying table_changes from version 1
    // rebuilds the recorded model state at every probed version —
    // inserts/update-postimages upsert, deletes remove, preimages are
    // ignored, versions apply in order with intra-version deletes
    // first (a RESTORE re-adding a rewritten key deletes the new copy
    // and re-inserts the old one inside a single commit). This is the
    // end-to-end CDF contract (classification, DV pair diffs, pre/post
    // images) under arbitrary DML composition.
    if (foldCdf) {
      def fold(to: Long): Vector[(Long, Double)] = {
        val ch = TableChanges.read(spark, dir, 1L, Some(to))
          .select($"k", $"v", $"_change_type", $"_commit_version")
          .as[(Long, Double, String, Long)].collect()
        val m = scala.collection.mutable.Map.empty[Long, Double]
        ch.groupBy(_._4).toSeq.sortBy(_._1).foreach { case (_, rows) =>
          rows.filter(_._3 == "delete").foreach(r => m.remove(r._1))
          rows.filter(r => r._3 == "insert" || r._3 == "update_postimage")
            .foreach(r => m(r._1) = r._2)
        }
        m.toVector
      }
      val recorded = history.keys.toSeq.sorted.filter(_ > 0)
      val probes = (recorded.grouped(math.max(1, recorded.size / 3))
        .map(_.last) ++ Iterator(version)).toSeq.distinct
      probes.foreach { e =>
        val folded = fold(e).sorted
        assert(folded == history(e).sorted.toVector,
          s"CDF fold [1, $e] diverged: got ${folded.take(5)}... " +
            s"want ${history(e).sorted.take(5)}...")
      }

      // pushdown consistency: file-level skipping is conservative —
      // a predicate-scoped read returns EXACTLY the matching change
      // rows the full read returns, under the whole random DML mix
      val pred = "v < 4"
      def rowsMatching(pushdown: Option[String]) =
        TableChanges.read(spark, dir, 1L, Some(version), pushdown)
          .filter(org.apache.spark.sql.functions.expr(pred))
          .select($"k", $"v", $"_change_type", $"_commit_version")
          .as[(Long, Double, String, Long)].collect().toSeq.sorted
      assert(rowsMatching(Some(pred)) == rowsMatching(None),
        "CDF predicate pushdown lost or invented matching rows")
    }
  }
}
