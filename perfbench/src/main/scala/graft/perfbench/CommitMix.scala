package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.delta.{DeltaScan, DeltaTable, MergeClause, Snapshot, TableChanges}

/** A write-heavy closed loop on one table with checkpoints every ten
  * versions, change data feed and auto-compaction on: appends, DV
  * deletes and merge upserts, with point reads and change-feed reads
  * checked against a model of the live rows and of each version's
  * changes.
  */
final class CommitMix extends Workload {
  import CommitMix._

  val name = "commit_mix"

  private var path: String = _
  private var table: DeltaTable = _
  /** Live rows: id -> (part, value). */
  private val live = mutable.Map.empty[Long, (Int, Long)]
  /** Change counts by version: change type -> rows. */
  private val changes = mutable.Map.empty[Long, Map[String, Long]]
  private var nextId = 0L
  private var appends = 0
  private var lastVersion = -1L

  def setup(ctx: Ctx, rng: Random): Unit = {
    val spark = ctx.spark
    spark.conf.set("spark.graft.autoCompact.minNumFiles", CompactAt.toString)
    path = ctx.scratch.resolve("commits").toString
    table = DeltaTable.create(spark, path, Schema,
      partitionColumns = Seq("part"),
      configuration = Map(
        "delta.checkpointInterval" -> "10",
        "delta.enableChangeDataFeed" -> "true",
        "delta.autoOptimize.autoCompact" -> "true",
        "delta.enableDeletionVectors" -> "true"))
    val rows = (0 until InitialRows).map(_ => newRow(rng, None))
    recordWrite(table.append(frame(ctx, rows)), Map("insert" -> rows.size.toLong))
    rows.foreach(r => live(r._1) = (r._2, r._3))
  }

  /** Six appends, one delete, one merge, one point read, one change-feed
    * read: the median op is an append.
    */
  val deck: Seq[String] = Seq("append", "append", "delete", "append",
    "read", "append", "merge", "append", "cdf", "append")

  def op(ctx: Ctx, kind: String, rng: Random): Op = kind match {
    case "append" =>
      // partitions rotate, one then two per append, so every seed grows
      // small files (and so fires compactions) at the same pace
      val first = appends % Parts
      val parts = if (appends % 2 == 0) Seq(first)
        else Seq(first, (first + 1) % Parts)
      appends += 1
      val rows = (0 until AppendRows).map(i => newRow(rng, Some(parts(i % parts.size))))
      write(kind, Map("insert" -> rows.size.toLong),
        () => ctx.phase("append")(table.append(frame(ctx, rows))),
        () => rows.foreach(r => live(r._1) = (r._2, r._3)))
    case "delete" =>
      val ids = pick(rng, 1 + rng.nextInt(3))
      write(kind, Map("delete" -> ids.size.toLong),
        () => ctx.phase("delete")(
          table.deleteWhereDV(s"id IN (${ids.mkString(",")})")),
        () => ids.foreach(live.remove))
    case "merge" =>
      val updated = pick(rng, MergeRows / 2)
        .map(id => (id, live(id)._1, rng.nextLong(1000000)))
      val inserted = (0 until MergeRows - updated.size)
        .map(_ => newRow(rng, None))
      val source = updated ++ inserted
      write(kind, Map("update_preimage" -> updated.size.toLong,
          "update_postimage" -> updated.size.toLong,
          "insert" -> inserted.size.toLong),
        () => ctx.phase("merge")(table.merge(frame(ctx, source), "t.id = s.id",
          Seq(MergeClause.MatchedUpdate(None, Map("v" -> "s.v")),
            MergeClause.NotMatchedInsert(None,
              Map("id" -> "s.id", "part" -> "s.part", "v" -> "s.v"))))),
        () => source.foreach(r => live(r._1) = (r._2, r._3)))
    case "read" =>
      // a live id, a deleted one, or one never written
      val id = rng.nextInt(3) match {
        case 0 => nextId + 1000
        case _ if live.nonEmpty => pick(rng, 1).head
        case _ => nextId + 1000
      }
      val want = live.get(id).map { case (p, v) => Row(id, p, v) }.toSeq
      Op(Some("query"), () => {
        val snap = ctx.phase("open")(Snapshot.forTable(ctx.spark, path))
        val df = ctx.phase("handoff")(new DeltaScan(snap, Some(s"id = $id"))
          .toDF.select("id", "part", "v"))
        val got = ctx.phase("execute")(df.collect().toSeq)
        () => require(got == want, s"id $id: got $got, want $want")
      })
    case "cdf" =>
      val start = math.max(1L, lastVersion - (CdfVersions - 1))
      Op(Some("cdf"), () => {
        val df = ctx.phase("cdf.read")(
          TableChanges.read(ctx.spark, path, start, None))
        val got = ctx.phase("execute")(df.groupBy(TableChanges.CHANGE_TYPE)
          .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
        () => {
          val want = changes.filter(_._1 >= start).values
            .flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
            .filter(_._2 > 0)
          require(got == want, s"changes from v$start: got $got, want $want")
        }
      })
  }

  /** A write op: timed call, then (untimed) the model moves with it.
    * The versions the call returns must only grow.
    */
  private def write(kind: String, counts: Map[String, Long],
      call: () => Long, apply: () => Unit): Op =
    Op(Some("commit"), () => {
      val v = call()
      () => {
        require(v > lastVersion, s"$kind returned v$v after v$lastVersion")
        recordWrite(v, counts)
        apply()
      }
    })

  private def recordWrite(v: Long, counts: Map[String, Long]): Unit = {
    changes(v) = counts
    lastVersion = v
  }

  /** A fresh id in `part`, or in partition `id % Parts`. */
  private def newRow(rng: Random, part: Option[Int]): (Long, Int, Long) = {
    nextId += 1
    (nextId, part.getOrElse((nextId % Parts).toInt), rng.nextLong(1000000))
  }

  /** `n` distinct live ids, in a seeded order. */
  private def pick(rng: Random, n: Int): Seq[Long] = {
    val ids = live.keys.toIndexedSeq.sorted
    rng.shuffle(ids).take(math.min(n, ids.size))
  }

  /** A batch as one Spark partition: one new file per touched table
    * partition, as a small streaming-style append writes.
    */
  private def frame(ctx: Ctx, rows: Seq[(Long, Int, Long)]): DataFrame =
    ctx.spark.createDataFrame(
      rows.map { case (i, p, v) => Row(i, p, v) }.asJava, Schema).coalesce(1)

  /** Space amplification: every byte under the table directory (log,
    * checkpoints, DVs, change files, stale data) over live data bytes.
    */
  override def finish(ctx: Ctx): Map[String, (Double, String)] = {
    val liveBytes = new DeltaScan(Snapshot.forTable(ctx.spark, path), None)
      .collectAddFiles(slim = true).map(_.size).sum
    val s = Files.walk(Paths.get(path))
    val dirBytes = try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum finally s.close()
    Map("space_amp" -> ((Stats.spaceAmp(dirBytes, liveBytes), "ratio")))
  }
}

object CommitMix {
  val Schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("part", IntegerType, nullable = false),
    StructField("v", LongType, nullable = false)))
  val Parts = 4
  val InitialRows = 2000
  val AppendRows = 40
  val MergeRows = 20
  /** Small files per partition that trigger auto-compaction. */
  val CompactAt = 8
  /** The change-feed read spans the last this-many versions. */
  val CdfVersions = 10
}
