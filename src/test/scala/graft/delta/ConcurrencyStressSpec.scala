package graft.delta

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** REAL thread-level contention on one table through the put-if-absent
  * committer — not staged interleavings (ConflictSpec covers those):
  * every writer races every other writer for each version slot, losers
  * rebase and retry. The assertions are the ACID contract a 1000-writer
  * ingest fleet relies on: every batch lands exactly once, versions
  * form a contiguous chain, maintenance (dataChange=false) never
  * changes the row multiset.
  */
class ConcurrencyStressSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._


  test("16 concurrent blind appends: each lands exactly once, " +
      "versions contiguous, ICTs strictly monotonic") {
    val dir = TestSpark.tmpDir("stress-append")
    val schema = Seq((0L, 0)).toDF("k", "src").schema
    DeltaTable.create(spark, dir, schema, configuration =
      Map(DeltaTable.ICT_ENABLED_KEY -> "true"))
    val es = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(es)
    val futures = (0 until 16).map { i =>
      Future {
        val rows = (0 until 50).map(j => (i * 1000L + j, i))
        DeltaTable.forPath(spark, dir).append(rows.toDF("k", "src"))
      }
    }
    try Await.result(Future.sequence(futures), 300.seconds)
    finally es.shutdown()

    val t = DeltaTable.forPath(spark, dir)
    assert(t.snapshot().version == 16L, "16 appends = versions 1..16")
    val got = t.toDF.select($"k").as[Long].collect().sorted
    val want = (0 until 16).flatMap(i =>
      (0 until 50).map(j => i * 1000L + j)).sorted
    assert(got.toSeq == want, "every batch exactly once, no loss/dup")
    // in-commit timestamps strictly increase through the rebased chain
    val icts = CommitRange.forTable(spark, dir, 1L, Some(16L))
      .commits().map(_.timestamp).toIndexedSeq
    assert(icts.size == 16 && icts == icts.sorted &&
      icts.distinct.size == 16, s"ICTs not strictly monotonic: $icts")
  }

  test("appenders racing OPTIMIZE + checkpoint: row multiset " +
      "unchanged by maintenance, every append lands") {
    val dir = TestSpark.tmpDir("stress-mixed")
    val schema = Seq((0L, 0)).toDF("k", "src").schema
    DeltaTable.create(spark, dir, schema)
    DeltaTable.forPath(spark, dir)
      .append(Seq((-1L, -1)).toDF("k", "src")) // seed so OPTIMIZE has work
    val es = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(es)
    val appenders = (0 until 8).map { i =>
      Future {
        val rows = (0 until 25).map(j => (i * 1000L + j, i))
        DeltaTable.forPath(spark, dir)
          .append(rows.toDF("k", "src").repartition(2))
      }
    }
    val maintenance = (0 until 3).map { _ =>
      Future {
        // a compaction rebases past concurrent appends; two
        // compactions racing for the SAME files legitimately surface
        // the typed delete/delete conflict — either way no row is
        // dropped or duplicated
        try DeltaTable.forPath(spark, dir).optimizeCompact()
        catch {
          case _: IllegalStateException => ()
          case _: ConcurrentDeleteDeleteException => ()
          case _: ConcurrentWriteException => ()
        }
        try DeltaTable.forPath(spark, dir).checkpoint()
        catch { case _: Exception => () }
      }
    }
    try Await.result(Future.sequence(appenders ++ maintenance), 300.seconds)
    finally es.shutdown()

    val t = DeltaTable.forPath(spark, dir)
    val got = t.toDF.select($"k").as[Long].collect().sorted
    val want = (-1L +: (0 until 8).flatMap(i =>
      (0 until 25).map(j => i * 1000L + j))).sorted
    assert(got.toSeq == want,
      s"maintenance changed data: got ${got.length}, want ${want.length}")
    // a fresh read through the checkpointed log agrees
    assert(DeltaTable.forPath(spark, dir).toDF.count() == want.size)
  }

  test("concurrent same-appId idempotent writers: exactly one wins") {
    val dir = TestSpark.tmpDir("stress-txn")
    val schema = Seq((0L, 0)).toDF("k", "src").schema
    DeltaTable.create(spark, dir, schema)
    val es = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(es)
    // 8 workers restart-retry the SAME logical batch (same appId+txn
    // version) — the dedup marker must admit exactly one
    val futures = (0 until 8).map { _ =>
      Future {
        try {
          DeltaTable.forPath(spark, dir).append(
            Seq((1L, 1), (2L, 1)).toDF("k", "src"),
            txn = Some(SetTransaction("ingest-job", 7L,
              Some(System.currentTimeMillis()))))
          1
        } catch {
          case _: ConcurrentTransactionException => 0
        }
      }
    }
    try Await.result(Future.sequence(futures), 300.seconds)
    finally es.shutdown()
    // exactly-once: one data commit total (losers either surfaced a
    // typed conflict or idempotently no-op'd), rows never duplicated
    val t = DeltaTable.forPath(spark, dir)
    assert(t.snapshot().version == 1L,
      s"duplicate txn-marker commits: version ${t.snapshot().version}")
    assert(t.toDF.count() == 2)
    // a rerun at a HIGHER txn version still commits (monotone marker)
    t.append(Seq((3L, 2)).toDF("k", "src"),
      txn = Some(SetTransaction("ingest-job", 8L, None)))
    assert(t.toDF.count() == 3)
    // and a replay at the same version no-ops
    val v = DeltaTable.forPath(spark, dir).append(
      Seq((9L, 9)).toDF("k", "src"),
      txn = Some(SetTransaction("ingest-job", 8L, None)))
    assert(v == 2L && DeltaTable.forPath(spark, dir).toDF.count() == 3)
  }

  test("DV DELETE racing disjoint appenders rebases on stats proof; " +
      "final state exact") {
    val dir = TestSpark.tmpDir("stress-dvdel")
    val schema = Seq((0L, 0)).toDF("k", "src").schema
    // declare DVs at CREATE: a delete that must ALSO upgrade the
    // protocol takes the strict no-rebase path by design
    DeltaTable.create(spark, dir, schema,
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    // seed keys 0..99 (the delete's target range)
    DeltaTable.forPath(spark, dir).append(
      (0L until 100L).map(k => (k, 0)).toDF("k", "src"))
    val es = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(es)
    // appenders write k >= 10000 — stats-provably disjoint from k < 50,
    // so the racing DELETE must rebase past them, not fail
    val appenders = (1 to 6).map { i =>
      Future {
        val rows = (0 until 40).map(j => (10000L * i + j, i))
        DeltaTable.forPath(spark, dir).append(rows.toDF("k", "src"))
      }
    }
    val deleter = Future {
      DeltaTable.forPath(spark, dir).deleteWhereDV("k < 50")
    }
    try Await.result(Future.sequence(appenders :+ deleter), 300.seconds)
    finally es.shutdown()
    val got = DeltaTable.forPath(spark, dir).toDF
      .select($"k").as[Long].collect().sorted
    val want = ((50L until 100L) ++ (1 to 6).flatMap(i =>
      (0 until 40).map(j => 10000L * i + j))).sorted
    assert(got.toSeq == want,
      s"got ${got.length} rows, want ${want.length}")
  }

  test("a crashed writer's leftover commit temp file is inert: " +
      "reads ignore it, the version still publishes") {
    val dir = TestSpark.tmpDir("stress-crash")
    val src = Seq((1L, 1)).toDF("k", "src")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    // simulate a writer that died between temp-write and publish
    val logDir = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val fs = Storage.fs(logDir, spark.sessionState.newHadoopConf())
    Storage.put(fs, new org.apache.hadoop.fs.Path(logDir,
      ".00000000000000000002.json.deadbeef.tmp"),
      "{\"partial\": garbage")
    // the junk is invisible to replay and does not block version 2
    assert(DeltaTable.forPath(spark, dir).snapshot().version == 1L)
    t.append(Seq((2L, 2)).toDF("k", "src"))
    val fresh = DeltaTable.forPath(spark, dir)
    assert(fresh.snapshot().version == 2L)
    assert(fresh.toDF.count() == 2)
    fresh.checkpoint()
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 2)
  }

  test("CROSS-PROCESS commit race: 4 JVMs x 25 raw put-if-absent " +
      "commits, zero loss, zero partial reads") {
    val dir = TestSpark.tmpDir("stress-xproc")
    val logDir = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val fs = Storage.fs(logDir, spark.sessionState.newHadoopConf())
    fs.mkdirs(logDir)
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val procs = (0 until 4).map { i =>
      new ProcessBuilder(javaBin, "-cp",
        System.getProperty("java.class.path"),
        "graft.delta.PutIfAbsentWorker", logDir.toString, i.toString, "25")
        .redirectErrorStream(true).start()
    }
    procs.zipWithIndex.foreach { case (p, i) =>
      assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        s"worker $i timed out")
      assert(p.exitValue() == 0, s"worker $i failed")
    }
    // 100 commits total, versions contiguous from 1, each file holds
    // ONE complete line (the atomic publish never exposes partials)
    val files = Storage.listSorted(fs, logDir)
      .flatMap(st => FileNames.parse(st))
      .collect { case c: FileNames.CommitFile => c }
    assert(files.map(_.version) == (1L to 100L),
      s"non-contiguous versions: ${files.map(_.version)}")
    val bySeq = files.flatMap(c => Storage.readLines(fs, c.path))
      .map { l =>
        val n = JsonLog.parseLine(l)
        (n.get("worker").asText, n.get("seq").asInt)
      }
    assert(bySeq.size == 100)
    // every worker's sequence 0..24 landed exactly once — a truncated
    // or overwritten commit would break the count
    (0 until 4).foreach { i =>
      val seqs = bySeq.filter(_._1 == i.toString).map(_._2).sorted
      assert(seqs == (0 until 25), s"worker $i lost commits: $seqs")
    }
  }
}

/** Raw cross-process put-if-absent worker: lands `count` commits by
  * racing for version slots with nothing shared but the directory.
  */
object PutIfAbsentWorker {
  def main(args: Array[String]): Unit = {
    val logDir = new org.apache.hadoop.fs.Path(args(0))
    val id = args(1)
    val count = args(2).toInt
    val fs = logDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    var landed = 0
    var v = 1L
    while (landed < count) {
      val dest = FileNames.commitFile(logDir, v)
      val line = s"""{"worker":"$id","seq":$landed}"""
      if (Storage.putIfAbsent(fs, dest, line + "\n")) landed += 1
      v += 1
    }
  }
}
