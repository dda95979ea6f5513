package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.delta.{Metrics, NoOpReporter}

/** The repository benchmark: one workload, one client thread in a
  * closed loop, Spark `local[nproc]` in the same JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --checkout <repo root> --scratch <run dir> --cache <cache dir>
  * }}}
  *
  * Prints a table of every metric, then one JSON line: the end-to-end
  * metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
  */
object Main {

  /** End-to-end metrics every workload reports in its result line. The
    * latency percentiles are printed in the table above it: the
    * per-family ones exist only where their ops run, and `op_ms.p50`
    * of a mixed deck moves with which op sits at the median.
    */
  val ResultMetrics: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "heap_mb" -> "MB")

  /** Share of traced op time the layers must cover. */
  val AttributionFloor = 0.9

  final case class Sample(index: Int, kind: String, ok: Boolean,
      traced: Boolean, totalNs: Long, metrics: Map[String, Long],
      start: Long, end: Long, liveFiles: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, usage(s"missing --$k"))
    val wlName = arg("workload")
    val make = Workload.All.getOrElse(wlName,
      usage(s"unknown workload '$wlName' (have ${Workload.All.keys.toSeq.sorted.mkString(", ")})"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val checkout = Paths.get(arg("checkout")).toAbsolutePath.normalize
    // the launcher creates this run's scratch and deletes it afterwards
    val scratch = Paths.get(arg("scratch")).toAbsolutePath.normalize
    val cache = Files.createDirectories(Paths.get(arg("cache")))
    run(make(), seed, seconds, trace, checkout, scratch, cache)
    System.out.flush()
    sys.exit(0)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  private def run(w: Workload, seed: Long, seconds: Double, trace: Boolean,
      checkout: Path, scratch: Path, cache: Path): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val canaryBefore = cpuCanary()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", scratch.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val tracer = new Tracer
      if (trace) spark.sparkContext.addSparkListener(tracer.jobs)
      Metrics.reporter = NoOpReporter
      val ctx = new Ctx(spark, checkout, scratch, cache, tracer)
      val rng = new Random(seed)
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3 -
        canaryBefore
      val f0 = System.nanoTime()
      w.setup(ctx, rng)
      val fixtureS = (System.nanoTime() - f0 - ctx.generatedNs) / 1e9
      // warm every op kind once; a failure here is a failure too
      val warmFailures = mutable.ArrayBuffer.empty[String]
      val w0 = System.nanoTime()
      val warm = w.deck.distinct.map(k =>
        runOp(ctx, w, k, rng, -1, traced = false, warmFailures))
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 -
        canaryBefore - ctx.generatedNs / 1e9

      val samples = mutable.ArrayBuffer.empty[Sample]
      val failures = mutable.ArrayBuffer.empty[String]
      val gc0 = gcTotals()
      var gcTraced = (0L, 0L)
      val cpu0 = processCpuNs()
      val steal0 = Steal.sample()
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      var deckNo = 0
      val deckSeconds = mutable.ArrayBuffer.empty[Double]
      // whole decks in their fixed order keep the mix and its sequence
      // the same for every seed (the seed drives each op's parameters);
      // a traced run traces every other op, switching parity each deck
      // so every position is traced, and measures its own overhead on
      // like ops
      while (System.nanoTime() < deadline) {
        val d0 = System.nanoTime()
        w.deck.zipWithIndex.foreach { case (kind, pos) =>
          val traced = trace && (pos + deckNo) % 2 == 1
          tracer.enabled = traced
          Metrics.reporter = if (traced) tracer.reporter else NoOpReporter
          val g0 = gcTotals()
          samples += runOp(ctx, w, kind, rng, samples.size, traced, failures)
          if (traced) {
            val g1 = gcTotals()
            gcTraced = (gcTraced._1 + g1._1 - g0._1, gcTraced._2 + g1._2 - g0._2)
          }
        }
        deckSeconds += (System.nanoTime() - d0) / 1e9
        deckNo += 1
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      val cpuMsPerOp = (processCpuNs() - cpu0) / 1e6 / samples.size
      val steal = Steal.share(steal0, Steal.sample())
      tracer.enabled = false
      Metrics.reporter = NoOpReporter
      val gc1 = gcTotals()
      val extra = w.finish(ctx)
      val heapMb = retainedHeapMb()
      val canaryAfter = cpuCanary()

      val attempted = samples.size + warm.size
      val failed = samples.count(!_.ok) + warm.count(!_.ok)
      println(s"perfbench workload=${w.name} seed=$seed seconds=$seconds " +
        s"trace=${if (trace) 1 else 0} cores=$cores decks=$deckNo")
      (warmFailures ++ failures).foreach(f => println(s"FAILED $f"))
      println(f"diagnostic canary_before_s $canaryBefore%.4f " +
        f"canary_after_s $canaryAfter%.4f " +
        f"raw_input_generation_s ${ctx.generatedNs / 1e9}%.3f " +
        steal.map(x => f"cpu_steal_share $x%.4f").getOrElse(""))
      println("diagnostic deck_s " + deckSeconds.map(d => f"$d%.3f").mkString(" "))
      println(f"diagnostic setup_s = session_s $sessionS%.3f + " +
        f"fixture_s $fixtureS%.3f + warm_s $warmS%.3f")
      val ok = samples.filter(_.ok)
      val result: Seq[(String, Double, String)] =
        if (!trace) {
          val lat = latencyTable(ok.toSeq)
          val e2e = Seq(("setup_s", setupS, "s")) ++ lat ++ Seq(
            ("ops_per_s", ok.size / elapsed, "1/s"),
            ("cpu_ms_per_op", cpuMsPerOp, "ms"),
            ("failed_ratio", Stats.failedRatio(attempted, failed), "ratio"),
            ("heap_mb", heapMb, "MB")) ++
            extra.toSeq.sortBy(_._1).map { case (k, (v, u)) => (k, v, u) }
          println(f"${"metric"}%-16s ${"value"}%14s unit")
          e2e.foreach { case (k, v, u) => println(f"$k%-16s $v%14.4f $u") }
          println(s"attempted $attempted failed $failed " +
            s"measured_s ${"%.3f".format(elapsed)} " +
            s"gc_ms ${gc1._1 - gc0._1} gc_count ${gc1._2 - gc0._2}")
          val byName = e2e.map(m => m._1 -> m).toMap
          ResultMetrics.map { case (k, u) =>
            val (_, v, _) = byName.getOrElse(k,
              sys.error(s"${w.name} produced no $k"))
            (k, v, u)
          }
        } else {
          traceTable(ctx, w, samples.toSeq, gcTraced)
        }
      println(resultJson(failed == 0, attempted, failed, result))
    } finally {
      Metrics.reporter = NoOpReporter
      spark.stop()
    }
  }

  private def runOp(ctx: Ctx, w: Workload, kind: String, rng: Random,
      index: Int, traced: Boolean,
      failures: mutable.Buffer[String]): Sample = {
    val op = w.op(ctx, kind, rng)
    ctx.phases.clear()
    ctx.opIndex = index
    val rootId = if (traced) ctx.tracer.newId() else -1
    val t0 = System.nanoTime()
    val outcome: Either[Throwable, () => Unit] =
      try Right(op.run()) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    ctx.opIndex = -1
    if (traced) ctx.tracer.record(Span(rootId, index, "op", t0, t1))
    val problem = Op.problem(op.expectError, outcome)
    problem.foreach(p => failures += s"${w.name}/$kind: $p")
    val perMetric = ctx.phases.toSeq.flatMap { case (ph, ns) =>
      Workload.PhaseMetric.get(ph).map(_ -> ns)
    }.groupMapReduce(_._1)(_._2)(_ + _) ++
      op.family.map(f => s"${f}_ms" -> (t1 - t0)).toMap
    Sample(index, kind, problem.isEmpty, traced, t1 - t0, perMetric,
      t0, t1, op.liveFiles)
  }

  /** `<metric>.p50` and `<metric>.tail` of every latency family seen,
    * plus `op_ms` over all ops. A failed op never counts as a timing.
    */
  private def latencyTable(ok: Seq[Sample]): Seq[(String, Double, String)] = {
    val series: Seq[(String, Seq[Double])] =
      ("op_ms" -> ok.map(_.totalNs / 1e6)) +:
        ok.flatMap(_.metrics.keys).distinct.sorted.map { m =>
          m -> ok.flatMap(_.metrics.get(m)).map(_ / 1e6)
        }
    series.filter(_._2.nonEmpty).flatMap { case (m, xs) =>
      val p50 = (s"$m.p50", Stats.median(xs), "ms")
      println(s"samples $m n=${xs.size}" + Stats.tail(xs)
        .map(t => s" tail=p${t.pct}").getOrElse(" tail omitted (<20)"))
      p50 +: Stats.tail(xs).toSeq.map(t => (s"$m.tail", t.value, "ms"))
    }
  }

  private def traceTable(ctx: Ctx, w: Workload, samples: Seq[Sample],
      gcTraced: (Long, Long)): Seq[(String, Double, String)] = {
    org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    val traced = samples.filter(s => s.traced && s.ok)
    val plain = samples.filter(s => !s.traced && s.ok)
    val res = TraceAnalysis.analyze(
      traced.map(s => TraceAnalysis.OpInfo(s.index, s.start, s.end,
        s.liveFiles)),
      ctx.tracer.allSpans, ctx.tracer.events.asScala.toSeq,
      ctx.tracer.jobs.all, gcTraced._1.toDouble, gcTraced._2.toDouble)
    // overhead on the most frequent op kind of the deck that ran on both
    // sides, so the two sides compare like with like
    def p50Of(xs: Seq[Sample], kind: String) =
      Stats.median(xs.filter(_.kind == kind).map(_.totalNs / 1e6))
    val byFrequency = w.deck.groupBy(identity).toSeq
      .sortBy { case (k, ks) => (-ks.size, k) }.map(_._1)
    val overhead = byFrequency
      .find(k => traced.exists(_.kind == k) && plain.exists(_.kind == k))
      .map { k =>
        val d = p50Of(traced, k) - p50Of(plain, k)
        println(s"traced ops ${traced.size}, untraced ops ${plain.size}; " +
          f"$k p50 traced ${p50Of(traced, k)}%.3f untraced " +
          f"${p50Of(plain, k)}%.3f, tracing overhead $d%.3f ms")
        d
      }.getOrElse(sys.error("no op kind ran both traced and untraced"))
    val layers = res.layers + ("trace.overhead_ms" -> overhead)
    val meanOpMs = traced.map(_.totalNs / 1e6).sum / traced.size
    val short = res.opCoverage.filter(_._2 < AttributionFloor)
    println(f"attribution: layers cover ${100 * res.coverage}%.1f%% of " +
      f"traced op time (check >= ${100 * AttributionFloor}%.0f%%: " +
      s"${if (res.coverage >= AttributionFloor) "pass" else "FAIL"}); " +
      f"unattributed_ms ${layers("unattributed_ms")}%.3f per op")
    short.foreach { case (i, c, ms) =>
      println(f"attribution: op $i ${samples(i).kind} covered " +
        f"${100 * c}%.1f%% of $ms%.3f ms, unattributed_ms ${(1 - c) * ms}%.3f")
    }
    println(f"${"layer metric"}%-28s ${"per op"}%14s unit  share_of_op_ms")
    TraceAnalysis.AllLayerMetrics.map { k =>
      val u = unitOf(k)
      val v = layers(k)
      val share = if (TraceAnalysis.LayerOf.values.exists(_ == k))
        f"${100 * v / meanOpMs}%6.1f%%" else ""
      println(f"$k%-28s $v%14.4f $u%-5s $share")
      (k, v, u)
    }
  }

  def unitOf(metric: String): String =
    if (metric.endsWith("_ms") || metric.endsWith(".ms")) "ms"
    else if (metric.endsWith("bytes")) "B"
    else if (metric.contains("ratio") || metric.contains("coverage") ||
      metric == "tree.handoff_shuffled") "ratio"
    else "count"

  private def resultJson(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"$k is not a number: $v")
      s""""$k": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  /** CPU time of every thread of this JVM, Spark executors included. */
  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Summed collection time (ms) and count over all collectors. */
  private def gcTotals(): (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime).sum, bs.map(_.getCollectionCount).sum)
  }

  /** Heap still in use after forced full collections, in MiB. The
    * pauses let Spark's cleaner drop blocks whose owners were collected.
    */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Share of the machine's CPU time the hypervisor took away (the
    * `steal` column of /proc/stat), where the kernel reports it.
    */
  private object Steal {
    def sample(): Option[Array[Long]] =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().find(_.startsWith("cpu "))
          .map(_.trim.split("\\s+").drop(1).map(_.toLong))
        finally src.close()
      } catch { case NonFatal(_) => None }

    def share(a: Option[Array[Long]], b: Option[Array[Long]]): Option[Double] =
      for (x <- a; y <- b if x.length > 7 && y.length == x.length) yield {
        val d = y.zip(x).map { case (p, q) => p - q }
        if (d.sum <= 0) 0.0 else d(7).toDouble / d.sum
      }
  }

  /** Fixed pure-CPU loop (an LCG scattering into 16 MB): how loaded the
    * box was, told apart from how fast the program is. Seconds.
    */
  def cpuCanary(): Double = {
    val buf = new Array[Long](2 * 1024 * 1024)
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      buf((x >>> 44).toInt & (buf.length - 1)) ^= x
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (buf.sum == 42L) println("")
    dt
  }
}
