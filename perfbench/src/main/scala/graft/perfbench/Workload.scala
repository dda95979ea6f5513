package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload's ops see: the session, where to write, and the
  * phase timer. The client thread is the only caller.
  */
final class Ctx(val spark: SparkSession, val checkout: Path,
    val scratch: Path, val cache: Path, val tracer: Tracer) {

  /** Time spent generating raw inputs without the engine; it is
    * reported on its own and kept out of `setup_s`.
    */
  var generatedNs = 0L

  /** Phase durations of the op in flight, by span name. */
  private[perfbench] val phases = mutable.Map.empty[String, Long]
  private[perfbench] var opIndex = -1
  private var openSpan = -1

  /** Time `f` as phase `name` of the current op. With tracing on the
    * phase is also a span, and Spark jobs it submits are tagged with it.
    */
  def phase[A](name: String)(f: => A): A = {
    val traced = tracer.enabled && opIndex >= 0
    val id = if (traced) tracer.newId() else -1
    val outer = openSpan
    if (traced) {
      openSpan = id
      spark.sparkContext.setLocalProperty(tracer.SpanProperty, id.toString)
    }
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      phases(name) = phases.getOrElse(name, 0L) + (t1 - t0)
      if (traced) {
        tracer.record(Span(id, opIndex, name, t0, t1))
        openSpan = outer
        spark.sparkContext.setLocalProperty(tracer.SpanProperty,
          if (outer >= 0) outer.toString else null)
      }
    }
  }
}

/** One operation of a workload. `run` makes the timed calls and returns
  * the (untimed) check of their output, which throws on a wrong answer.
  * `expectError` names a message the op must fail with instead.
  * `family` is the end-to-end metric the whole op's latency feeds, if
  * any; `liveFiles` is the live file count a pruned scan sees, if known.
  */
final case class Op(family: Option[String],
    run: () => (() => Unit), expectError: Option[String] = None,
    liveFiles: Long = 0L)

object Op {
  /** Why an op failed, or None: it threw, its check found a wrong
    * answer, or it succeeded (or failed differently) where an error
    * containing `expectError` was expected.
    */
  def problem(expectError: Option[String],
      outcome: Either[Throwable, () => Unit]): Option[String] =
    (expectError, outcome) match {
      case (None, Right(check)) =>
        try { check(); None } catch { case NonFatal(e) => Some(e.toString) }
      case (None, Left(e)) => Some(s"threw $e")
      case (Some(want), Left(e)) =>
        if (s"${e.getMessage} $e".contains(want)) None
        else Some(s"failed with '$e', expected a failure containing '$want'")
      case (Some(want), Right(_)) =>
        Some(s"succeeded, expected a failure containing '$want'")
    }
}

trait Workload {
  def name: String

  /** Write the engine fixtures and warm every op kind. Everything up
    * to the first timed op counts as set-up.
    */
  def setup(ctx: Ctx, rng: Random): Unit

  /** One deck: the op kinds of a fixed mix, in the order they run. */
  def deck: Seq[String]

  def op(ctx: Ctx, kind: String, rng: Random): Op

  /** End-of-run end-to-end metrics beyond latencies (value, unit). */
  def finish(ctx: Ctx): Map[String, (Double, String)] = Map.empty
}

object Workload {
  val All: Map[String, () => Workload] = Map(
    "meta_replay" -> (() => new MetaReplay),
    "commit_mix" -> (() => new CommitMix),
    "scan_read" -> (() => new ScanRead))

  /** Phase name to the end-to-end latency metric it feeds. */
  val PhaseMetric: Map[String, String] = Map(
    "open" -> "open_ms",
    "plan" -> "plan_ms",
    "handoff" -> "plan_ms",
    "tree.read" -> "plan_ms",
    "tree.update" -> "tree_ms")
}
