package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

import graft.delta.{MetricEvent, MetricsReporter}
import graft.delta.MetricEvent._

/** One timed interval on the client thread's `System.nanoTime` clock.
  * `op` is the index of the op it belongs to; a root span has
  * `name == "op"`.
  */
final case class Span(id: Int, op: Int, name: String, start: Long,
    end: Long) {
  def interval: Stats.Interval = Stats.Interval(start, end)
  def contains(o: Span): Boolean = start <= o.start && o.end <= end
}

/** Records the traced run: spans from the benchmark's own code, the
  * engine's metric events, and Spark's job/task events. Everything is
  * kept in memory and analysed once, after the measured phase.
  */
final class Tracer {
  val SpanProperty = "perfbench.span"

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  @volatile var enabled = false

  /** Engine events with the nanoTime they were reported at. */
  val events = new ConcurrentLinkedQueue[(Long, MetricEvent)]()

  val reporter: MetricsReporter = new MetricsReporter {
    def report(e: MetricEvent): Unit = events.add((System.nanoTime(), e))
  }

  def newId(): Int = { nextId += 1; nextId }

  def record(s: Span): Unit = spans += s

  def allSpans: Seq[Span] = spans.toSeq

  val jobs = new JobLog(SpanProperty)
}

/** Per-job Spark counters, attributed to the benchmark span that was
  * open on the client thread when the job was submitted.
  */
final class JobLog(spanProperty: String) extends SparkListener {
  final class Job(val span: Int) {
    val stages = new AtomicLong
    val taskMs = new AtomicLong
    val inputBytes = new AtomicLong
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
  }
  val byId = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(spanProperty)))
      .map(_.toInt).getOrElse(-1)
    if (span >= 0) {
      val j = new Job(span)
      j.stages.set(e.stageIds.size.toLong)
      byId.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) {
      j.taskMs.addAndGet(m.executorRunTime)
      j.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def all: Seq[Job] = byId.values.asScala.toSeq
}

/** Turns a traced run's raw records into per-layer numbers.
  *
  * Engine events that carry a duration become spans ending at the time
  * they were reported. Every span is nested under the smallest span
  * that contains it in time, and a layer's time is the self time of
  * its spans (duration minus what child spans cover). A write op is
  * split at its first commit event: `stage` before it, `commit` during
  * it, `hooks` after it. The op root's own self time is what no layer
  * claims; it is reported as `unattributed`.
  */
object TraceAnalysis {

  /** Layer that a span name's self time is charged to. */
  val LayerOf: Map[String, String] = Map(
    "logsegment" -> "logsegment.ms",
    "snapshot" -> "snapshot.pm_ms",
    "open" -> "snapshot.pm_ms",
    "replay" -> "replay.exec_ms",
    "replay.plan" -> "replay.plan_ms",
    "replay.exec" -> "replay.exec_ms",
    "handoff" -> "handoff.ms",
    "handoff.index" -> "handoff.ms",
    "plan" -> "physplan.ms",
    "execute" -> "scan.exec_ms",
    "append" -> "stage.ms",
    "delete" -> "stage.ms",
    "merge" -> "stage.ms",
    "stage" -> "stage.ms",
    "commit" -> "commit.ms",
    "hooks" -> "hooks.ms",
    "cdf.read" -> "cdf.plan_ms",
    "cdf.parse" -> "cdf.plan_ms",
    "cdf.classify" -> "cdf.plan_ms",
    "tree.update" -> "tree.update_ms",
    "tree.read" -> "tree.read_ms",
    "op" -> "unattributed_ms")

  val WriteSpans = Set("append", "delete", "merge")

  final case class OpInfo(index: Int, start: Long, end: Long,
      liveFiles: Long)

  /** `opCoverage`: per traced op, its index, the share of its wall time
    * the layers cover, and its wall time in ms.
    */
  final case class Result(layers: Map[String, Double], coverage: Double,
      opCoverage: Seq[(Int, Double, Double)])

  private def eventSpan(t: Long, e: MetricEvent)
      : Seq[(String, Long, Long)] = e match {
    case x: LogSegmentLoadSuccess => Seq(("logsegment", t - x.durationNs, t))
    case x: SnapshotBuildSuccess => Seq(("snapshot", t - x.durationNs, t))
    case x: SnapshotBuildFailure => Seq(("snapshot", t - x.durationNs, t))
    case x: TransactionCommitSuccess => Seq(("commit", t - x.durationNs, t))
    case x: TransactionCommitFailure => Seq(("commit", t - x.durationNs, t))
    case x: CdfCommitParsed => Seq(("cdf.parse", t - x.durationNs, t))
    case x: CdfRangeClassified => Seq(("cdf.classify", t - x.durationNs, t))
    case x: ScanFilesCollected =>
      val s = t - x.durationNs
      if (x.planNs < 0) Seq(("handoff.index", s, t))
      else Seq(("replay", s, t), ("replay.plan", s, s + x.planNs),
        ("replay.exec", s + x.planNs, t))
    case _ => Nil
  }

  /** Analyse `ops` (the traced ops, with their root spans among
    * `spans`). Per-layer values are means per traced op, except the
    * ratios, which are named so.
    */
  def analyze(ops: Seq[OpInfo], spans: Seq[Span],
      events: Seq[(Long, MetricEvent)], jobs: Seq[JobLog#Job],
      gcMs: Double, gcCount: Double): Result = {
    require(ops.nonEmpty, "no traced ops")
    val n = ops.size.toDouble
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var nextSynthetic = Int.MaxValue
    def synthId(): Int = { nextSynthetic -= 1; nextSynthetic }
    val byOp = spans.groupBy(_.op)
    def opAt(t: Long): Option[OpInfo] =
      ops.find(o => o.start <= t && t <= o.end)
    val evByOp = events.groupBy { case (t, _) => opAt(t).map(_.index) }
    var crcBuilds = 0.0
    var builds = 0.0
    var keptFiles = 0.0
    var liveFiles = 0.0
    var shuffled = 0.0
    var handoffs = 0.0
    var commits = 0.0
    var attempts = 0.0
    val opCoverage = mutable.ArrayBuffer.empty[(Int, Double, Double)]
    var attributed = 0.0
    var wall = 0.0
    val spanName = mutable.Map.empty[Int, String]

    ops.foreach { op =>
      val own = byOp.getOrElse(op.index, Nil)
      own.foreach(s => spanName(s.id) = s.name)
      val evs = evByOp.getOrElse(Some(op.index), Nil)
      val evSpans = evs.flatMap { case (t, e) =>
        eventSpan(t, e).map { case (nm, s, en) =>
          Span(synthId(), op.index, nm, math.max(s, op.start),
            math.min(en, op.end))
        }
      }.filter(s => s.end >= s.start)
      // split each write op at its first commit
      val writeSplits = own.filter(s => WriteSpans(s.name)).flatMap { w =>
        evSpans.filter(c => c.name == "commit" && w.contains(c))
          .sortBy(_.start).headOption.toSeq.flatMap { c =>
            Seq(Span(synthId(), op.index, "stage", w.start, c.start),
              Span(synthId(), op.index, "hooks", c.end, w.end))
          }
      }
      val all = (own ++ evSpans ++ writeSplits)
        .sortBy(s => (s.start, -s.end, rank(s.name)))
      // nest by containment
      val parent = mutable.Map.empty[Int, Int]
      var stack = List.empty[Span]
      all.foreach { s =>
        while (stack.nonEmpty && !stack.head.contains(s)) stack = stack.tail
        stack.headOption.foreach(p => parent(s.id) = p.id)
        stack = s :: stack
      }
      val children = all.groupBy(s => parent.getOrElse(s.id, -1))
      val root = own.find(_.name == "op")
        .getOrElse(sys.error(s"op ${op.index} has no root span"))
      all.foreach { s =>
        val self = Stats.selfTime(s.interval,
          children.getOrElse(s.id, Nil).map(_.interval))
        LayerOf.get(s.name).foreach(l => acc(l) += self / 1e6)
      }
      val rootSelf = Stats.selfTime(root.interval,
        children.getOrElse(root.id, Nil).map(_.interval))
      val dur = (root.end - root.start).toDouble
      val cov = if (dur <= 0) 1.0 else 1.0 - rootSelf / dur
      attributed += dur - rootSelf
      wall += dur
      opCoverage += ((op.index, cov, dur / 1e6))

      val byId = all.map(x => x.id -> x).toMap
      def ancestors(s: Span): List[String] =
        Iterator.iterate(parent.get(s.id))(_.flatMap(parent.get))
          .takeWhile(_.isDefined).flatten.map(i => byId(i).name).toList
      def innermost(t: Long): Option[Span] =
        all.filter(s => s.start <= t && t <= s.end)
          .sortBy(s => (s.end - s.start, -rank(s.name))).headOption
      val commitSpans = all.filter(_.name == "commit")
      commitSpans.foreach { c =>
        if (ancestors(c).contains("hooks")) acc("hooks.compactions") += 1
      }
      var opKept = 0.0
      evs.foreach { case (t, e) =>
        val where = innermost(t).map(s => s.name :: ancestors(s))
          .getOrElse(Nil)
        def inHooks = where.contains("hooks")
        e match {
          case x: SnapshotBuildSuccess =>
            builds += 1; if (x.pmSource == "crc") crcBuilds += 1
          case x: TransactionCommitSuccess if !inHooks =>
            commits += 1; attempts += 1 + x.attempts
          case x: ScanFilesCollected =>
            if (x.dedupExecMs > 0) acc("replay.dedup_task_ms") += x.dedupExecMs
            if (x.pipelineExecMs > 0)
              acc("skipping.pipeline_task_ms") += x.pipelineExecMs
            if (x.predicate.isDefined) opKept += x.numFiles
          case x: CdfCommitParsed => acc("cdf.commits_parsed") += 1
          case x: CdfRangeClassified =>
            acc("cdf.file_actions") += x.numFileActions
          case x: TreeHandoff =>
            handoffs += 1; if (x.shuffled) shuffled += 1
          case x: IoBytes => x.phase match {
            case "log_segment" =>
              acc("logsegment.files") += x.files
              acc("logsegment.bytes") += x.bytes
            case "data_scan" =>
              acc("handoff.files") += x.files
              acc("scan.planned_bytes") += x.bytes
            case "data_write" if !inHooks =>
              acc("stage.files") += x.files
              acc("stage.bytes") += x.bytes
            case "commit_write" if !inHooks =>
              acc("commit.bytes") += x.bytes
            case "checkpoint_write" =>
              acc("hooks.checkpoints") += 1
              acc("hooks.checkpoint_bytes") += x.bytes
            case "cdf_scan" => acc("cdf.scan_bytes") += x.bytes
            case "tree_write" =>
              acc("tree.write_files") += x.files
              acc("tree.write_bytes") += x.bytes
            case "tree_read" => acc("tree.read_bytes") += x.bytes
            case _ => ()
          }
          case _ => ()
        }
      }
      acc("skipping.files_kept") += opKept
      if (op.liveFiles > 0 && opKept > 0) {
        keptFiles += opKept; liveFiles += op.liveFiles
      }
    }

    jobs.foreach { j =>
      acc("spark.jobs_per_op") += 1
      acc("spark.stages_per_op") += j.stages.get
      acc("spark.shuffle_bytes") += j.shuffleBytes.get
      acc("spark.spill_bytes") += j.spillBytes.get
      if (spanName.get(j.span).contains("execute")) {
        acc("scan.task_ms") += j.taskMs.get
        acc("scan.input_bytes") += j.inputBytes.get
      }
    }

    val perOp = acc.map { case (k, v) => k -> v / n }.toMap
    val ratios = Map(
      "snapshot.pm_from_crc_ratio" -> (if (builds > 0) crcBuilds / builds else 0.0),
      "skipping.kept_ratio" -> (if (liveFiles > 0) keptFiles / liveFiles else 0.0),
      "tree.handoff_shuffled" -> (if (handoffs > 0) shuffled / handoffs else 0.0),
      "commit.attempts" -> (if (commits > 0) attempts / commits else 0.0),
      "jvm.gc_ms" -> gcMs / n,
      "jvm.gc_count" -> gcCount / n,
      "trace.coverage" -> (if (wall > 0) attributed / wall else 1.0),
      "trace.min_coverage" -> opCoverage.map(_._2).min)
    val zeros = AllLayerMetrics.map(_ -> 0.0).toMap
    Result(zeros ++ perOp ++ ratios, ratios("trace.coverage"),
      opCoverage.toSeq)
  }

  /** Tie-break for spans with equal intervals: benchmark phases outside,
    * engine events inside.
    */
  private def rank(name: String): Int =
    if (name == "op") 0
    else if (Phases(name)) 1
    else if (name == "stage" || name == "hooks") 2
    else 3

  /** Span names the benchmark records around its calls into the engine. */
  val Phases: Set[String] = Set("open", "plan", "handoff", "execute",
    "append", "delete", "merge", "cdf.read", "tree.update", "tree.read")

  /** Every per-layer metric a traced run reports, in print order. */
  val AllLayerMetrics: Seq[String] = Seq(
    "logsegment.ms", "logsegment.files", "logsegment.bytes",
    "snapshot.pm_ms", "snapshot.pm_from_crc_ratio",
    "replay.plan_ms", "replay.exec_ms", "replay.dedup_task_ms",
    "skipping.pipeline_task_ms", "skipping.files_kept",
    "skipping.kept_ratio",
    "handoff.ms", "handoff.files", "physplan.ms",
    "scan.exec_ms", "scan.task_ms", "scan.input_bytes",
    "scan.planned_bytes",
    "stage.ms", "stage.files", "stage.bytes",
    "commit.ms", "commit.attempts", "commit.bytes",
    "hooks.ms", "hooks.checkpoints", "hooks.checkpoint_bytes",
    "hooks.compactions",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.shuffle_bytes",
    "spark.spill_bytes",
    "cdf.plan_ms", "cdf.commits_parsed", "cdf.file_actions",
    "cdf.scan_bytes",
    "tree.update_ms", "tree.read_ms", "tree.write_files",
    "tree.write_bytes", "tree.read_bytes", "tree.handoff_shuffled",
    "jvm.gc_ms", "jvm.gc_count",
    "unattributed_ms", "trace.coverage", "trace.min_coverage",
    "trace.overhead_ms")
}
