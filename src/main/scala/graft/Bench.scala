package graft
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
object Bench {

  /** Spawn `graft.bench.MetaOnly` (GRAFT_META_5M=1) as a separate JVM
    * and parse its METAJSON per-rep lines. The child re-uses this JVM's
    * binary, input arguments (add-opens + -Xmx) and classpath, so the
    * measurement environment matches a standalone `runMain` exactly.
    * Returns Nil if the child failed or produced no parseable reps.
    */
  private[graft] def spawnMeta5m(cpus: String, reps: Int): Seq[Map[String, Double]] = {
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
      // drop debug/agent flags a dev session might carry; keep memory +
      // module opens, which Spark-on-JDK17 needs
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cp = System.getProperty("java.class.path")
    val cmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", cp, "graft.bench.MetaOnly")
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("GRAFT_META_5M", "1")
    pb.environment().put("GRAFT_META_REPS", reps.toString)
    pb.environment().put("SPARK_GRAFT_CPUS", cpus)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream, "UTF-8"))
    val kv = """"([A-Za-z0-9_]+)":(-?[0-9][0-9.eE+-]*)""".r
    val repsOut = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var line = out.readLine()
    while (line != null) {
      if (line.startsWith("METAJSON ")) {
        val m = kv.findAllMatchIn(line).map(mm =>
          mm.group(1) -> mm.group(2).toDouble).toMap
        if (m.nonEmpty) repsOut += m
      }
      line = out.readLine()
    }
    // the 5M fixture build on a cold target/ can take minutes; planning
    // itself is seconds — 30 min is a hang guard, not a budget
    val done = proc.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)
    if (!done) { proc.destroyForcibly(); return Seq.empty }
    if (proc.exitValue() != 0) return Seq.empty
    repsOut.toSeq
  }

  /** Fixed pure-CPU box-pressure canary: ~1e8 LCG steps over a 16 MB
    * working set, no Spark, no I/O. On an idle box this is a constant
    * few hundred ms; under the CPU/page-cache contention that has
    * produced three rounds of 5M measurement phantoms it inflates
    * proportionally — a judge can normalize any suspicious row against
    * it. Sampled at several points in the sweep (median/min/n report
    * like every other row).
    */
  private def cpuCanary(): Double = {
    val buf = new Array[Long](2 * 1024 * 1024) // 16 MB
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      buf((x >>> 44).toInt & (buf.length - 1)) ^= x
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (buf.sum == 42L) println("") // defeat dead-code elimination
    dt
  }

  /** Allocation-class canary: a small whole-stage-codegen pipeline
    * over GENERATED rows — no fixture, no shuffle, one string
    * allocation per row. The LCG canary allocates nothing, so it is
    * blind to the sweep-JVM GC/old-gen pressure that inflates
    * allocation-heavy legs late in a 168-row sweep (r12 forensics:
    * expr_pred_5m 14.9 s in-sweep vs 3.5 s standalone the same
    * minute, LCG canary quiet at 0.36 throughout). This canary feels
    * exactly that class of pressure, so a judge can tell degraded
    * JVM state from a degraded BOX — and from real regressions.
    */
  private def allocCanary(spark: org.apache.spark.sql.SparkSession)
      : Double = {
    val t0 = System.nanoTime()
    spark.range(20000000L)
      .selectExpr("id", "cast(id % 97 as string) as s")
      .filter("length(s) > 0 and id % 7 != 3")
      .selectExpr("sum(id + length(s))")
      .queryExecution.toRdd.count()
    (System.nanoTime() - t0) / 1e9
  }

  /** Prior-round medians from the committed BENCH_LOCAL.json `queries`
    * map — the reference point for the in-sweep 2x-mover A/B re-run.
    */
  /** The sweep's record file is per scale factor (the canonical
    * BENCH_LOCAL.json stays the sf0.1 driver record; ad-hoc sweeps at
    * other SFs land beside it), so an sf0.01 iteration run can never
    * clobber the prior-median reference the driver's A/B needs.
    */
  private[graft] def recordFile(sfDir: String): String =
    if (sfDir.stripSuffix("/").endsWith("sf0.1")) "BENCH_LOCAL.json"
    else "BENCH_LOCAL_" +
      new java.io.File(sfDir.stripSuffix("/")).getName + ".json"

  private def priorMedians(sfDir: String): Map[String, Double] = {
    val p = java.nio.file.Paths.get(recordFile(sfDir))
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    // priors are only comparable at the SAME scale factor: a local
    // sweep at sf0.01 must not become the 2x-mover reference for the
    // driver's sf0.1 run (every row would "move" and A/B-churn)
    if (!s.contains("\"sf\":\"" + sfDir + "\"")) return Map.empty
    val start = s.indexOf("\"queries\":{")
    if (start < 0) return Map.empty
    val body = s.substring(start + 11, s.indexOf("}", start))
    """"([A-Za-z0-9_]+)":(-?[0-9][0-9.eE+-]*)""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // prior-round medians, read BEFORE this run overwrites the file
    val prior = try priorMedians(sfDir) catch { case _: Throwable => Map.empty[String, Double] }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/Spark warmup so the first measured query isn't charged for
    // codegen + classloading (~6s of round-1's q1_agg was warmup)
    spark.range(1000000).selectExpr("sum(id)").collect()
    try Tables.load(spark, sfDir, "region").count()
    catch { case _: Throwable => () }

    // last swallowed exception per query — a failed entry showing up as
    // n:0 with no message forces a forensic re-run; one line here is
    // enough for the next verdict to diagnose a flake
    val errs = scala.collection.mutable.Map.empty[String, String]
    val REPS = 3
    // The 5M-add frontier runs in its OWN CHILD JVM (graft.bench.MetaOnly
    // with GRAFT_META_5M=1): rounds 9-10 proved in-JVM scheduling cannot
    // isolate it — running it first and repeated still reported an
    // 18.5s median vs 3.3s measured in a standalone JVM (a 5x phantom;
    // round 9's single-sample-last was 14x). The fixture build plus the
    // sweep's GC/page-cache pressure poison any sample that shares the
    // process. The child inherits this JVM's flags (add-opens, -Xmx)
    // and classpath; on any spawn/parse failure we fall back to the
    // in-JVM measurement rather than reporting nothing.
    val canary = scala.collection.mutable.ArrayBuffer.empty[Double]
    val canaryAlloc = scala.collection.mutable.ArrayBuffer.empty[Double]
    def sampleCanaries(): Unit = {
      canary += cpuCanary()
      canaryAlloc += allocCanary(spark)
    }
    sampleCanaries() // before the child-JVM leg
    val meta5mRuns: Seq[Map[String, Double]] = {
      val isolated = try spawnMeta5m(cpus, REPS) catch {
        case t: Throwable =>
          errs("plan_df_5m") = s"isolated-jvm spawn failed, in-JVM fallback: ${t.getMessage}"
          Seq.empty
      }
      if (isolated.nonEmpty) isolated
      else (1 to REPS).map { _ =>
        try graft.bench.MetadataBench.run5m(spark)
        catch { case _: Throwable =>
          Map("snapshot_5m" -> -1.0, "plan_df_5m" -> -1.0) }
      }
    }
    // Scratch-dir hygiene: every query invocation creates fresh UUID
    // table dirs under target/tmp and cannot delete them itself (the
    // returned frame reads them lazily) — a session of sweeps used to
    // leave thousands of dirs / GBs behind, and the r12 forensics tie
    // exactly that write/cache churn to the 5M phantom class. Stale
    // dirs (nothing inside touched for 1 h, not a fixture
    // base/lock/warehouse) are wiped at startup; each row's fresh dirs — tracked by the IN-JVM
    // ScratchDirs registry, never a directory diff that could delete
    // a concurrent process's files — drop right after its timed run,
    // OUTSIDE the timed region.
    val tmpRoot = java.nio.file.Paths.get("/root/repo/target/tmp")
    graft.queries.ScratchDirs.sweepStale(tmpRoot)
    def timeQuery(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // toRdd executes the FULL physical plan (projection + sort included)
      // — a .count() would let the optimizer prune columns and drop sorts.
      try { fn(spark, sfDir).queryExecution.toRdd.count() }
      catch { case t: Throwable =>
        errs(name) = s"${t.getClass.getSimpleName}: ${t.getMessage}"
        graft.queries.ScratchDirs.dropRegistered()
        return -1.0
      }
      val dt = (System.nanoTime() - t0) / 1e9
      graft.queries.ScratchDirs.dropRegistered() // untimed
      dt
    }
    sampleCanaries() // after the child-JVM leg
    // Fixture-prefix warm pass (r12 VERDICT item 2): run every
    // FixtureCache-backed row ONCE, untimed, before the sweep. The
    // one-time base builds (setup, not operator work) land here
    // instead of inside a timed row, so a cold target/tmp can never
    // book a cache build as a row's time — and the 32-core and 8-core
    // arms of the driver's scaling measurement see the SAME (warm)
    // cache state instead of one arm paying the builds. Build costs
    // are reported separately as fixture_build_* stats rows; each
    // affected row's stats entry carries "cached_prefix":true.
    graft.queries.FixtureCache.cachedPrefixRows.keys.toSeq.sorted
      .foreach { name =>
        SparkEntry.queries.get(name).foreach { fn =>
          try fn(spark, sfDir).queryExecution.toRdd.count()
          catch { case _: Throwable => () } // the timed run reports it
        }
      }
    sampleCanaries() // after the fixture warm pass
    val firstRun: Seq[(String, Double)] = SparkEntry.queries.toSeq
      .map { case (name, fn) => name -> timeQuery(name, fn) }
    sampleCanaries() // after the query sweep
    // Re-run the most expensive queries so their entries carry
    // {median,min,n} — a single run cannot distinguish environmental
    // drift (GC/page-cache pressure from the surrounding bench JVM) from
    // a plan regression. Delta queries build fresh UUID-suffixed table
    // dirs per invocation, so repeats measure the same work each time.
    val QTOP = 12
    val QREPS = 3
    // pinned: the round-6 verdict's two unexplained >2x single-run drifts
    // stay repeated even if they fall out of the top-K, so the drift
    // question stays answerable round over round
    val pinned = Set("q_dedup_incremental", "q_delta_v2_checkpoint")
    val repeatSet: Set[String] = firstRun.filter(_._2 >= 0)
      .sortBy(-_._2).take(QTOP).map(_._1).toSet ++ pinned
    val qTimes: Seq[(String, Seq[Double])] = firstRun.map { case (name, t1) =>
      // repeat even after a first-run failure: a flaky query's n then
      // reports how many of the repeats survived instead of flat n:0
      val extra =
        if (repeatSet(name))
          (2 to QREPS).map(_ => timeQuery(name, SparkEntry.queries(name)))
        else Seq.empty
      name -> (t1 +: extra)
    }
    // kernel-equivalent metadata benchmark (BASELINE.md: snapshot build +
    // full replay over a synthetic 300k-add log) and the spec-driven
    // workload matrix. These run REPS times and report MEDIANS: a single
    // run can't distinguish environmental drift from a plan regression
    // (the log build is idempotent, so repeats measure only the query).
    // a failed REPEAT must not poison a query that ran green: drop
    // negative runs and aggregate the successes; -1 only when EVERY
    // run failed (the true error marker)
    def medianOf(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0)
      if (ok.isEmpty) -1.0
      else ok.sorted.apply(ok.size / 2)
    }
    val metaRuns = (1 to REPS).map { _ =>
      try graft.bench.MetadataBench.run(spark)
      catch { case _: Throwable =>
        Map("snapshot_300k" -> -1.0, "replay_300k" -> -1.0) }
    }
    val wlRuns = (1 to REPS).map { _ =>
      try graft.bench.Workloads.run(spark)
      catch { case _: Throwable => Map.empty[String, Double] }
    }
    // expression micro-benches (reference expression_bench.rs analog)
    val exprRuns = (1 to REPS).map { _ =>
      try graft.bench.ExpressionBench.run(spark)
      catch { case _: Throwable => Map.empty[String, Double] }
    }
    // shuffle-skew canary at the sf1 stand-in (amplified sf0.1): one
    // run — the gauge is a plan-shape property, not a drift tracker
    val skewRun =
      try graft.bench.SkewCanary.run(spark, sfDir)
      catch { case _: Throwable =>
        Map("skew_canary_minhash_sf1" -> -1.0,
          "skew_ratio_minhash_sf1" -> -1.0) }
    // content-tree scale leg (one run — scale property, not a drift
    // tracker): 2-level tree build + stats-pruned tree read at 300k adds
    val treeRun =
      try graft.bench.TreeBench.run(spark)
      catch { case _: Throwable =>
        Map("tree_build_300k" -> -1.0, "tree_prune_300k" -> -1.0) }
    sampleCanaries() // end of the sweep
    def agg(runs: Seq[Map[String, Double]]): Map[String, Seq[Double]] =
      runs.flatMap(_.keys).distinct
        .map(k => k -> runs.flatMap(_.get(k))).toMap
    val repeated0 = agg(metaRuns) ++ agg(wlRuns) ++ agg(exprRuns) ++
      agg(meta5mRuns) ++ agg(Seq(skewRun)) ++ agg(Seq(treeRun)) ++
      qTimes.toMap
    val medians = repeated0.map { case (k, xs) => k -> medianOf(xs) }
    // Self-A/B for >2x movers: any metric whose median exceeds 2x its
    // prior-round value (the committed BENCH_LOCAL.json) is re-run
    // back-to-back IN THIS SWEEP and the re-run recorded under "ab" —
    // automating the old-vs-new A/B that exonerated the round-9/10
    // phantom regressions. The child-JVM rows are excluded (already
    // isolated in their own process — only the keys meta5mRuns actually
    // produced, NOT every *_5m name: the expression micro-benches over
    // the 5M fixture run in THIS JVM and deserve the A/B), as are
    // non-time gauges and sub-50ms rows where 2x is timer noise.
    val isolatedKeys = agg(meta5mRuns).keySet
    val abRuns: Map[String, Seq[Double]] = {
      val movers = medians.filter { case (k, v) =>
        v > 0 && prior.get(k).exists(p => p > 0.05 && v > 2 * p) &&
          !isolatedKeys(k) && !k.startsWith("skew_") &&
          !k.startsWith("tree_") && !k.startsWith("box_") &&
          !k.contains("_mb_") && !k.contains("_ratio_")
      }.keySet
      if (movers.isEmpty) Map.empty
      else {
        val AB_REPS = 2
        val qAb = movers.filter(SparkEntry.queries.contains).map { k =>
          k -> (1 to AB_REPS).map(_ => timeQuery(k, SparkEntry.queries(k)))
        }.toMap
        def groupAb(keys: Set[String],
            run: () => Map[String, Double]): Map[String, Seq[Double]] = {
          val hit = movers intersect keys
          if (hit.isEmpty) Map.empty
          else {
            val rs = (1 to AB_REPS).map(_ =>
              try run()
              catch { case _: Throwable => Map.empty[String, Double] })
            hit.map(k => k -> rs.flatMap(_.get(k))).toMap
          }
        }
        qAb ++
          groupAb(agg(metaRuns).keySet,
            () => graft.bench.MetadataBench.run(spark)) ++
          groupAb(agg(wlRuns).keySet,
            () => graft.bench.Workloads.run(spark)) ++
          groupAb(agg(exprRuns).keySet,
            () => graft.bench.ExpressionBench.run(spark))
      }
    }
    // Child-JVM leg A/B: the in-sweep self-A/B above cannot cover the
    // isolated legs (plan_df_5m / tree_*_5m run in their own process,
    // which isolates the heap but not the box). When one moves >2x vs
    // the committed prior, re-spawn the child ONCE back-to-back and
    // record the re-run under "ab" — three consecutive rounds of 5M
    // phantoms (r9 14x, r10 5x, r11 15x) were all box pressure a later
    // idle-box probe exonerated; this makes the record self-exonerating
    // (or self-confirming) without a judge probe. The box canary rows
    // bracket the sweep for the same normalization.
    val childAb: Map[String, Seq[Double]] = {
      val childMovers = medians.filter { case (k, v) =>
        isolatedKeys(k) && v > 0 &&
          prior.get(k).exists(p => p > 0.05 && v > 2 * p) &&
          !k.contains("_mb_") && !k.contains("_ratio_")
      }.keySet
      if (childMovers.isEmpty) Map.empty
      else {
        sampleCanaries() // pressure at the moment of the re-spawn
        val rs = try spawnMeta5m(cpus, 2)
          catch { case _: Throwable => Seq.empty }
        sampleCanaries()
        childMovers.map(k =>
          k -> rs.flatMap(_.get(k)).filter(_ >= 0)).toMap
      }
    }
    val allAb = abRuns ++ childAb
    // the canary row assembles LAST so the re-spawn bracket samples
    // (taken inside childAb) are included
    val repeated = repeated0 +
      ("box_canary_cpu" -> canary.toSeq) +
      ("box_canary_alloc" -> canaryAlloc.toSeq)
    val all = repeated.map { case (k, xs) => k -> medianOf(xs) }
    val qs = all.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def jsonStr(s: String): String = "\"" + s.take(300)
      .replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ").replace("\r", " ").replace("\t", " ") + "\""
    val queryStats = repeated.toSeq.sortBy(_._1).map { case (k, xs) =>
      val ok = xs.filter(_ >= 0)
      val err = if (ok.size < xs.size && errs.contains(k))
        ",\"err\":" + jsonStr(errs(k)) else ""
      val ab = allAb.get(k).map(vs =>
        ",\"ab\":[" + vs.filter(_ >= 0).mkString(",") + "]").getOrElse("")
      // scope marker (r12 VERDICT item 2): this row's fixture PREFIX
      // came from a persisted cache — its absolute level is not
      // comparable to a round that timed the build in-row
      val cached =
        if (graft.queries.FixtureCache.cachedPrefixRows.contains(k))
          ",\"cached_prefix\":true" else ""
      s"\"" + k + "\":{\"median\":" + medianOf(xs) +
        ",\"min\":" + (if (ok.isEmpty) -1.0 else ok.min) +
        ",\"n\":" + ok.size + err + ab + cached + "}"
    }
    // one-time fixture-base builds (the untimed pre-sweep pass): cost
    // reported as its own row per cache so setup time is visible and
    // separate from every operator row; n:0 = base was already on disk
    val fixtureStats = graft.queries.FixtureCache.cachedPrefixRows
      .values.toSeq.distinct.sorted.map { cn =>
        graft.queries.FixtureCache.buildSecs.get(cn) match {
          case Some(s) =>
            s""""fixture_build_$cn":{"median":$s,"min":$s,"n":1,"one_time_build":true}"""
          case None =>
            s""""fixture_build_$cn":{"median":0.0,"min":0.0,"n":0,"cached_prefix_hit":true}"""
        }
      }
    val stats = (queryStats ++ fixtureStats).mkString("{", ",", "}")
    // the headline total sums SECONDS only — non-time gauges (the _mb_
    // heap metric, the skew _ratio_ canary) report in `queries`/`stats`
    // but must not pollute it
    val total =
      if (all.nonEmpty)
        all.filterNot(kv => kv._1.contains("_mb_") ||
          kv._1.contains("_ratio_") || kv._1.startsWith("box_"))
          .values.sum
      else 0.0
    // One headline pressure verdict from the canaries + A/B re-runs
    // (r12 VERDICT item 8): the per-row ab/canary annotations live in
    // the stats section the harness tail truncates, so a polluted
    // sweep must self-label in the compact line. Quiet-box reference
    // levels (BENCH_NOTES r12): cpu canary 0.34-0.47 s, alloc canary
    // 0.44-0.76 s; pressured sweeps ran 2x+ on at least one canary or
    // fired >=3 exonerating A/B re-runs (re-run back-to-back measuring
    // well under the in-sweep median).
    val pressureSuspected: Boolean = {
      val cpuMed = medianOf(canary.toSeq)
      val allocMed = medianOf(canaryAlloc.toSeq)
      val abExonerated = allAb.count { case (k, vs) =>
        val ok = vs.filter(_ >= 0)
        val m = medians.getOrElse(k, -1.0)
        m > 0 && ok.nonEmpty && ok.min < 0.6 * m
      }
      cpuMed > 0.8 || allocMed > 1.2 || abExonerated >= 3
    }
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"stats":$stats,"pressure_suspected":$pressureSuspected,"sf":"$sfDir"}"""
    println(full)
    // the harness capturing stdout keeps only a ~2000-char tail, which
    // truncates the full line above mid-JSON; persist the full result
    // and ALSO emit a compact headline line small enough to survive
    // the tail (printed LAST, bare on stdout — build.sbt routes forked
    // output via StdoutOutput so no "[info] " prefix breaks a
    // line-level JSON parse)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(recordFile(sfDir)),
      (full + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    // FIXED key set for the compact line (r12 VERDICT item 1): the old
    // rotating slowest-12 defeated the driver's round-over-round
    // matcher (r11 and r12 tails shared only 23 rows). This list is
    // pinned ONCE — every kernel-equivalent headline metric, the
    // canaries/gauges, and the historically slowest honest query rows
    // — so consecutive rounds always compare the same rows; keys a
    // sweep did not produce (failed row) drop out rather than lie.
    // Append-only: never remove or rename an entry.
    val COMPACT_KEYS: Seq[String] = Seq(
      "snapshot_300k", "snapshot_1m", "snapshot_5m", "replay_300k",
      "plan_df_1m", "plan_df_5m", "heap_delta_mb_5m", "cdf_plan_200",
      "wl_meta300k_snapshot_latest", "wl_meta300k_snapshot_v10",
      "wl_meta300k_snapshot_missing_version",
      "wl_meta300k_read_metadata_latest",
      "wl_meta300k_read_metadata_pruned",
      "wl_meta300k_read_pruned_expectations",
      "box_canary_cpu", "box_canary_alloc",
      "skew_canary_minhash_sf1", "skew_ratio_minhash_sf1",
      "tree_build_300k", "tree_prune_300k", "tree_update_300k",
      "tree_update_5m", "tree_prune_5m",
      "q1_agg", "q_cdc_ingest", "q_content_tree",
      "q_content_tree_incremental", "q_content_tree_inline_dv",
      "q_delta_kitchen_sink", "q_delta_auto_compact",
      "q_delta_stream_window", "q_delta_merge", "q_delta_merge_evolve",
      "q_delta_props", "q_delta_v2_checkpoint",
      "q_dedup_fuzzy_incremental", "q_dedup_incremental",
      "q_knn_ivf_incremental", "q_tree_eq_convert",
      "q_tree_eq_materialize", "q_tree_eq_append", "q_tree_eq_delete",
      "q_delta_cdf_wide", "q_delta_vacuum", "q_delta_compacted",
      "q_delta_restore")
    val compact = COMPACT_KEYS.filter(all.contains)
      .map(k => s"\"" + k + "\":" + r3(all(k))).mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$compact,"pressure_suspected":$pressureSuspected,"sf":"$sfDir","full":"${recordFile(sfDir)}"}""")
    spark.stop()
  }
}
