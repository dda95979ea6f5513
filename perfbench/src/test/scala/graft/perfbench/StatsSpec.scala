package graft.perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.delta.MetricEvent._

class StatsSpec extends AnyFunSuite {

  test("tail is omitted below twenty samples") {
    assert(Stats.tail(Seq.fill(19)(1.0)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("tail is the highest percentile with ten samples above it") {
    val twenty = (1 to 20).map(_.toDouble)
    assert(Stats.tail(twenty) == Some(Stats.Tail(50, 10.0, 20)))
    val hundred = (1 to 100).map(_.toDouble).reverse
    assert(Stats.tail(hundred) == Some(Stats.Tail(90, 90.0, 100)))
    val thousand = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(thousand) == Some(Stats.Tail(99, 990.0, 1000)))
    for (n <- 20 to 2000) {
      val xs = (1 to n).map(_.toDouble)
      val t = Stats.tail(xs).get
      val above = xs.count(_ > t.value)
      assert(above >= 10, s"n=$n p${t.pct} leaves $above above")
      // one percentile higher would leave fewer than ten above
      if (t.pct < 100) {
        val next = Stats.percentile(xs.toIndexedSeq, t.pct + 1)
        assert(xs.count(_ > next) < 10, s"n=$n: p${t.pct + 1} also qualifies")
      }
    }
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile(IndexedSeq(1.0, 2.0, 3.0, 4.0), 50) == 2.0)
    assert(Stats.percentile(IndexedSeq(1.0, 2.0, 3.0, 4.0), 100) == 4.0)
  }

  test("failed ratio counts wrong answers, throws and missing errors") {
    val ok: Either[Throwable, () => Unit] = Right(() => ())
    val wrong: Either[Throwable, () => Unit] =
      Right(() => require(1 == 2, "planned 3 files, want 4"))
    val threw: Either[Throwable, () => Unit] =
      Left(new IllegalStateException("boom"))
    val expected: Either[Throwable, () => Unit] = Left(
      new IllegalArgumentException("requested version 9 not available " +
        "(latest reachable: 3)"))
    val want = Some("not available (latest reachable")
    val outcomes = Seq(
      Op.problem(None, ok),
      Op.problem(None, wrong),
      Op.problem(None, threw),
      Op.problem(want, expected),
      Op.problem(want, ok),
      Op.problem(want, threw))
    assert(outcomes.map(_.isDefined) ==
      Seq(false, true, true, false, true, true))
    assert(outcomes(1).get.contains("want 4"))
    val failed = outcomes.count(_.isDefined)
    assert(Stats.failedRatio(outcomes.size, failed) == 4.0 / 6)
    assert(Stats.failedRatio(10, 0) == 0.0)
    assertThrows[IllegalArgumentException](Stats.failedRatio(0, 0))
    assertThrows[IllegalArgumentException](Stats.failedRatio(2, 3))
  }

  test("self time subtracts the union of clipped children") {
    val p = Stats.Interval(0, 100)
    assert(Stats.selfTime(p, Nil) == 100)
    assert(Stats.selfTime(p, Seq(Stats.Interval(10, 20),
      Stats.Interval(15, 30), Stats.Interval(50, 60))) == 70)
    // children sticking out of the parent count only inside it
    assert(Stats.selfTime(p, Seq(Stats.Interval(-10, 10),
      Stats.Interval(90, 200))) == 80)
    assert(Stats.selfTime(p, Seq(Stats.Interval(0, 100),
      Stats.Interval(20, 30))) == 0)
  }

  test("space amplification is table bytes over live bytes") {
    assert(Stats.spaceAmp(300, 100) == 3.0)
    assert(Stats.spaceAmp(100, 100) == 1.0)
    assertThrows[IllegalArgumentException](Stats.spaceAmp(50, 100))
    assertThrows[IllegalArgumentException](Stats.spaceAmp(50, 0))
  }

  test("trace analysis charges self time to layers and splits writes") {
    val ms = 1000000L
    // op 0: open [0, 30] holding a snapshot build [2, 28] that holds a
    // segment load [4, 10]; plan [30, 90]; 10 ms nobody claims
    // op 1: append [0, 100] whose commit event is [60, 70]
    val o1 = 1000 * ms
    val spans = Seq(
      Span(1, 0, "op", 0, 100 * ms),
      Span(2, 0, "open", 0, 30 * ms),
      Span(3, 0, "plan", 30 * ms, 90 * ms),
      Span(4, 1, "op", o1, o1 + 100 * ms),
      Span(5, 1, "append", o1, o1 + 100 * ms))
    val events = Seq(
      (28 * ms, SnapshotBuildSuccess("a", 26 * ms, 3, "crc")),
      (10 * ms, LogSegmentLoadSuccess("a", 6 * ms, 3, 3, 0)),
      (50 * ms, IoBytes("a", "log_segment", 3, 300)),
      (o1 + 70 * ms, TransactionCommitSuccess("b", 10 * ms, 4, 0)),
      (o1 + 20 * ms, IoBytes("b", "data_write", 2, 2048)),
      (o1 + 65 * ms, IoBytes("b", "commit_write", 1, 512)),
      (o1 + 80 * ms, IoBytes("b", "checkpoint_write", 1, 4096)))
    val ops = Seq(TraceAnalysis.OpInfo(0, 0, 100 * ms, 0),
      TraceAnalysis.OpInfo(1, o1, o1 + 100 * ms, 0))
    val r = TraceAnalysis.analyze(ops, spans, events, Nil, 0, 0)
    def l(k: String) = r.layers(k)
    assert(l("logsegment.ms") == 6.0 / 2)
    assert(l("snapshot.pm_ms") == (4.0 + 20.0) / 2) // open self + build self
    assert(l("physplan.ms") == 60.0 / 2)
    assert(l("stage.ms") == 60.0 / 2)
    assert(l("commit.ms") == 10.0 / 2)
    assert(l("hooks.ms") == 30.0 / 2)
    assert(l("unattributed_ms") == 10.0 / 2)
    assert(l("stage.bytes") == 2048.0 / 2)
    assert(l("commit.bytes") == 512.0 / 2)
    assert(l("hooks.checkpoints") == 0.5)
    assert(l("logsegment.files") == 1.5)
    assert(l("snapshot.pm_from_crc_ratio") == 1.0)
    assert(r.coverage == 190.0 / 200)
    assert(r.opCoverage.map(_._2) == Seq(0.9, 1.0))
    assert(l("trace.min_coverage") == 0.9)
    assert(TraceAnalysis.AllLayerMetrics.forall(r.layers.contains))
  }

  test("generator formulas reproduce the meta300k spec expectations") {
    val dir = Seq(Paths.get("..", "bench", "workloads", "meta300k"),
      Paths.get("bench", "workloads", "meta300k")).find(Files.isDirectory(_))
      .getOrElse(fail("bench/workloads/meta300k not found"))
    val specs = MetaSpec.load(dir) // throws on any mismatch
    assert(specs.size == 6)
    val ref = MetaSpec.ReferenceShape
    assert(ref.partitionCount(7) == 4688)
    assert(ref.numFiles - ref.partitionCount(7) == 295312)
  }

  test("pruned-count formula matches enumeration") {
    val log = MetaLog(3, 100)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 500) {
      val k = rnd.nextInt(MetaLog.Partitions)
      val v = 1L + rnd.nextInt(log.commits)
      val lo = rnd.nextLong(log.numFiles * 1000 + 2000) - 1000
      val hi = lo + rnd.nextLong(log.numFiles * 1000)
      val want = (0L until log.filesAt(v)).count(i =>
        i % 64 == k && i * 1000 <= hi && i * 1000 + 999 >= lo)
      assert(log.prunedCount(k, lo, hi, v) == want, s"k=$k [$lo,$hi] v$v")
    }
    assert(log.partitionCount(5) ==
      (0L until log.numFiles).count(_ % 64 == 5))
  }
}
