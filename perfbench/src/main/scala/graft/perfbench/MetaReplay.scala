package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.{Path => FsPath}
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.delta.{ContentTree, DeltaScan, JsonLog, Snapshot, Storage}
import graft.delta.AdaptiveMetadata.ContentRoot

/** One JSON case under `bench/workloads/meta300k`, with its expectations
  * restated for any log shape through the generator's formulas.
  */
final case class MetaSpec(name: String, kind: String, version: Option[Long],
    predicate: Option[(Int, Long)], fileCount: Option[Long],
    rowCount: Option[Long], filesSkipped: Option[Long],
    errorContains: Option[String]) {

  /** Files the case's scan keeps on `log` (at its version or latest). */
  def expectedFiles(log: MetaLog): Long = {
    val v = version.getOrElse(log.commits.toLong)
    predicate match {
      case Some((k, lo)) => log.prunedCount(k, lo, Long.MaxValue, v)
      case None => log.filesAt(v)
    }
  }
}

object MetaSpec {
  /** The log shape the JSON expectations were written for. */
  val ReferenceShape = MetaLog(30, 10000)

  private val Pred = """p = '(\d+)' AND c0 >= (\d+)""".r

  def load(dir: Path): Seq[MetaSpec] = {
    val files = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).toSeq
      .sortBy(_.getFileName.toString)
    require(files.nonEmpty, s"no workload specs under $dir")
    files.map { f =>
      val n = JsonLog.parseLine(new String(Files.readAllBytes(f), "UTF-8"))
      def opt(node: com.fasterxml.jackson.databind.JsonNode, k: String) =
        Option(node).flatMap(x => Option(x.get(k))).filterNot(_.isNull)
      val exp = opt(n, "expected").orNull
      val spec = MetaSpec(
        name = f.getFileName.toString.stripSuffix(".json"),
        kind = n.get("type").asText,
        version = opt(n, "version").map(_.asLong),
        predicate = opt(n, "predicate").map(_.asText).map {
          case Pred(k, lo) => (k.toInt, lo.toLong)
          case other => sys.error(s"$f: predicate '$other' is outside " +
            "the generator's formula (p = 'k' AND c0 >= n)")
        },
        fileCount = opt(exp, "fileCount").map(_.asLong),
        rowCount = opt(exp, "rowCount").map(_.asLong),
        filesSkipped = opt(exp, "filesSkipped").map(_.asLong),
        errorContains = opt(opt(n, "error").orNull, "messageContains")
          .map(_.asText))
      spec.checkAgainstReference()
      spec
    }
  }

  private implicit class Check(val s: MetaSpec) extends AnyVal {
    /** The formulas must reproduce the file's own numbers at the
      * reference shape, or the restated expectations mean nothing.
      */
    def checkAgainstReference(): Unit = {
      val ref = ReferenceShape
      val kept = s.expectedFiles(ref)
      def same(what: String, want: Option[Long], got: => Long): Unit =
        want.foreach(w => require(w == got, s"${s.name}: $what formula " +
          s"gives $got at the reference shape, the spec says $w"))
      same("fileCount", s.fileCount, kept)
      same("rowCount", s.rowCount, kept * MetaLog.RecordsPerFile)
      same("filesSkipped", s.filesSkipped, ref.filesAt(
        s.version.getOrElse(ref.commits.toLong)) - kept)
    }
  }
}

/** Metadata work on a log in the reference metadata bench shape: snapshot
  * opens, scan plans, and maintenance and reads of the content tree
  * (AMT) built over the log. The log is far over the local-replay cap,
  * so distributed replay, stats skipping and the file-list handoff do
  * the work. No data file exists: nothing is scanned, and the only
  * writes are the content tree's own files.
  */
final class MetaReplay extends Workload {
  val name = "meta_replay"

  private val log = MetaReplay.Shape
  private var path: String = _
  private var rootUri: String = _
  private var specs: Map[String, MetaSpec] = Map.empty
  /** Content tree two commits behind the tip, written in set-up. */
  private var base: ContentRoot = _

  def setup(ctx: Ctx, rng: Random): Unit = {
    specs = MetaSpec.load(ctx.checkout.resolve("bench/workloads/meta300k"))
      .map(s => s.name -> s).toMap
    require(deck.forall(k => !k.startsWith("spec:") ||
      specs.contains(k.stripPrefix("spec:"))), "a deck case has no spec")
    path = MetaReplay.linkedCopy(ctx, log).toString
    base = ContentTree.writeRoot(
      Snapshot.forTable(ctx.spark, path, Some(log.commits - 2L)))
    val root = new FsPath(path)
    rootUri = Storage.fs(root, ctx.spark.sessionState.newHadoopConf())
      .makeQualified(root).toUri.getPath
  }

  /** Fixed mix: seven quick opens (earlier, missing), five opens of the
    * latest version, and seven slower ops: four scan plans, one tree
    * update and two tree reads. The median op is then the middle open
    * of the latest version; every JSON case is in the mix.
    */
  val deck: Seq[String] = Seq(
    "spec:snapshot_latest", "spec:read_metadata_latest", "spec:snapshot_v10",
    "spec:snapshot_missing_version", "open_version", "tree_read",
    "spec:snapshot_latest", "spec:read_metadata_pruned", "open_version",
    "spec:snapshot_latest", "tree_update", "spec:snapshot_v10",
    "spec:snapshot_missing_version", "spec:read_pruned_expectations",
    "spec:snapshot_latest", "open_version", "tree_read",
    "spec:snapshot_latest", "plan_range")

  def op(ctx: Ctx, kind: String, rng: Random): Op = kind match {
    case "open_version" =>
      val v = 1L + rng.nextInt(log.commits / 2)
      open(ctx, Some(v), None)
    case "plan_range" =>
      val k = rng.nextInt(MetaLog.Partitions)
      val first = rng.nextLong(log.numFiles / 2)
      val last = first + rng.nextLong(log.numFiles / 2)
      val lo = first * 1000 + rng.nextInt(1000)
      val hi = last * 1000 + rng.nextInt(1000)
      val want = log.prunedCount(k, lo, hi)
      Op(None, () => {
        val snap = ctx.phase("open")(Snapshot.forTable(ctx.spark, path))
        val files = ctx.phase("plan")(new DeltaScan(snap,
          Some(s"p = '$k' AND c0 >= $lo AND c0 <= $hi"))
          .collectAddFiles(slim = true))
        () => require(files.size == want,
          s"planned ${files.size} files for p=$k c0 in [$lo, $hi], want $want")
      }, liveFiles = log.numFiles)
    case "tree_update" =>
      // advance the base tree to the tip across the last two commits
      Op(None, () => {
        val snap = ctx.phase("open")(Snapshot.forTable(ctx.spark, path))
        val r = ctx.phase("tree.update")(ContentTree.updateRoot(snap, base))
        () => {
          val root = new FsPath(r.resolve(path))
          val fs = Storage.fs(root, ctx.spark.sessionState.newHadoopConf())
          try {
            require(r.version == log.commits,
              s"updated tree is at v${r.version}, want v${log.commits}")
            require(fs.exists(root), s"updated tree root ${r.path} is missing")
          } finally {
            // each update writes a fresh tree generation; the base's
            // leaves it reuses stay in the base's own directory
            fs.delete(root.getParent, true)
          }
        }
      })
    case "tree_read" =>
      // a stats-pruned point read planned from the base tree
      val file = rng.nextLong(log.filesAt(base.version))
      val point = file * 1000 + rng.nextInt(1000)
      Op(None, () => {
        val files = ctx.phase("tree.read")(ContentTree.prunedAddFileIterator(
          ctx.spark, base.resolve(path), path, rootUri, s"c0 = $point").toList)
        () => {
          require(files.nonEmpty && files.size < 1000,
            s"c0 = $point kept ${files.size} files, want 1 to 999")
          val want = s"part-$file.parquet"
          require(files.exists(_.path.endsWith(want)),
            s"c0 = $point did not keep $want")
        }
      }, liveFiles = log.filesAt(base.version))
    case spec if spec.startsWith("spec:") =>
      val s = specs(spec.stripPrefix("spec:"))
      s.kind match {
        case "snapshotConstruction" => open(ctx, s.version, s.errorContains)
        case "read" if s.predicate.isEmpty => planFull(ctx, s)
        case "read" => planPruned(ctx, s)
        case other => sys.error(s"unknown spec type $other")
      }
  }

  private def open(ctx: Ctx, version: Option[Long],
      error: Option[String]): Op = {
    val want = version.getOrElse(log.commits.toLong)
    Op(None, () => {
      val snap = ctx.phase("open")(Snapshot.forTable(ctx.spark, path, version))
      () => {
        require(snap.version == want, s"opened v${snap.version}, want v$want")
        require(snap.schema.size == MetaLog.NumCols + 1,
          s"schema has ${snap.schema.size} columns")
      }
    }, expectError = error)
  }

  /** The full physical scan plan: every live file reaches the plan. */
  private def planFull(ctx: Ctx, s: MetaSpec): Op = {
    val want = s.expectedFiles(log)
    Op(None, () => {
      val snap = ctx.phase("open")(Snapshot.forTable(ctx.spark, path, s.version))
      val df = ctx.phase("handoff")(new DeltaScan(snap, None).toDF)
      // the scan's split list is part of the plan it materialises
      val planned = ctx.phase("plan")(df.queryExecution.executedPlan
        .collect { case f: FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles }.sum)
      () => require(planned == want, s"planned $planned files, want $want")
    })
  }

  /** A pruned file list; the expectations case plans with stats so
    * its row count can be checked too.
    */
  private def planPruned(ctx: Ctx, s: MetaSpec): Op = {
    val want = s.expectedFiles(log)
    val total = log.filesAt(s.version.getOrElse(log.commits.toLong))
    Op(None, () => {
      val snap = ctx.phase("open")(Snapshot.forTable(ctx.spark, path, s.version))
      val files = ctx.phase("plan")(new DeltaScan(snap,
        s.predicate.map { case (k, lo) => s"p = '$k' AND c0 >= $lo" })
        .collectAddFiles(slim = s.rowCount.isEmpty))
      () => {
        // with the full-plan case pinning `total`, this also pins
        // filesSkipped = total - want
        require(files.size == want, s"planned ${files.size} files, want $want")
        if (s.rowCount.isDefined) {
          val rows = files.map(f => JsonLog.parseLine(f.stats.getOrElse(
            sys.error(s"${f.path} was planned without stats")))
            .get("numRecords").asLong).sum
          require(rows == want * MetaLog.RecordsPerFile,
            s"planned $rows rows, want ${want * MetaLog.RecordsPerFile}")
        }
      }
    }, liveFiles = total)
  }
}

object MetaReplay {
  /** 30 commits of 1k adds: the reference shape's columns, stats and
    * partitions at a tenth of its adds, so an op takes about a second or
    * less on four cores while the log (~36 MB) stays far over the 4 MB
    * local-replay cap (`graft.replay.driverMaxBytes`).
    */
  val Shape = MetaLog(30, 1000)

  /** Bump when the generator's output changes, so no stale cache is read. */
  private val GeneratorVersion = 1

  /** Generate (or reuse) the cached raw log and hard-link it into this
    * run's scratch, so whatever the engine writes next to it goes away
    * with the run.
    */
  private def linkedCopy(ctx: Ctx, log: MetaLog): Path = {
    val cached = ctx.cache.resolve(
      s"meta-${log.commits}x${log.addsPerCommit}-v$GeneratorVersion")
    val t0 = System.nanoTime()
    if (log.ensure(cached, Runtime.getRuntime.availableProcessors))
      ctx.generatedNs += System.nanoTime() - t0
    val copy = ctx.scratch.resolve("meta")
    val src = cached.resolve("_delta_log")
    val dst = Files.createDirectories(copy.resolve("_delta_log"))
    val s = Files.list(src)
    try s.iterator().asScala.foreach { f =>
      Files.createLink(dst.resolve(f.getFileName), f)
    } finally s.close()
    copy
  }
}
