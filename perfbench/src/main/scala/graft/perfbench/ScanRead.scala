package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.delta.{DeltaScan, DeltaTable, Snapshot}

/** Fresh-snapshot queries over a lineitem-shaped table the engine
  * writes in set-up: rows clustered by ship date, partitioned by ship
  * mode, then about 5% of them deleted through deletion vectors. The
  * log stays small, so snapshots replay it locally and the
  * parquet scan with DV masking does the work. Every answer is checked
  * against plain Spark over the same generated rows.
  */
final class ScanRead extends Workload {
  import ScanRead._

  val name = "scan_read"

  private var path: String = _
  private var liveFiles = 0L
  private var q1: Seq[Row] = Nil
  private var byDay: Map[java.sql.Date, (Long, BigDecimal)] = Map.empty
  private var byMode: Map[(String, String), (Long, BigDecimal)] = Map.empty
  private var byKey: Map[Long, (Long, Long, BigDecimal)] = Map.empty
  private var keyPool: IndexedSeq[Long] = IndexedSeq.empty
  private var days: IndexedSeq[java.sql.Date] = IndexedSeq.empty

  def setup(ctx: Ctx, rng: Random): Unit = {
    val spark = ctx.spark
    val seed = rng.nextInt(1 << 30)
    val deleteMod = rng.nextInt(DeleteEvery)
    path = ctx.scratch.resolve("lineitem").toString
    val all = lineitem(spark, 0, Rows, seed)
    val t = DeltaTable.create(spark, path, all.schema,
      partitionColumns = Seq("l_shipmode"),
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    (0 until Replicas).foreach { r =>
      val per = Rows / Replicas
      t.append(lineitem(spark, r * per, (r + 1) * per, seed)
        .repartitionByRange(FilesPerMode, col("l_shipdate")))
    }
    val deleted = s"l_orderkey % $DeleteEvery = $deleteMod"
    t.deleteWhereDV(deleted)
    liveFiles = new DeltaScan(Snapshot.forTable(spark, path), None)
      .collectAddFiles(slim = true).size

    // expected answers: plain Spark over the generated rows
    val live = all.filter(not(expr(deleted)))
    q1 = q1Of(live).collect().toSeq
    byDay = live.groupBy("l_shipdate")
      .agg(count(lit(1)), sum("l_quantity")).collect()
      .map(r => r.getDate(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2)))))
      .toMap
    days = byDay.keys.toIndexedSeq.sortBy(_.getTime)
    byMode = live.groupBy("l_shipmode", "l_returnflag")
      .agg(count(lit(1)), sum("l_extendedprice")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), BigDecimal(r.getDecimal(3))))).toMap
    // a pool of order keys, some of them deleted, some never written
    keyPool = IndexedSeq.fill(64)(rng.nextLong(Rows / 4 + 1000))
    byKey = pointAgg(live.filter(col("l_orderkey").isin(keyPool.distinct: _*)))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), BigDecimal(r.getDecimal(3))))).toMap
  }

  val deck: Seq[String] = Seq("q1", "range", "range", "mode", "mode",
    "point", "point", "point")

  def op(ctx: Ctx, kind: String, rng: Random): Op = kind match {
    case "q1" =>
      query(ctx, None)(q1Of) { got =>
        require(got == q1, s"Q1 answer differs:\n${got.mkString("\n")}\n" +
          s"want\n${q1.mkString("\n")}")
      }
    case "range" =>
      val i = rng.nextInt(days.size - RangeDays)
      val (d1, d2) = (days(i), days(i + RangeDays - 1))
      val want = days.slice(i, i + RangeDays).map(byDay)
        .foldLeft((0L, BigDecimal(0))) { case ((c, q), (dc, dq)) =>
          (c + dc, q + dq) }
      query(ctx, Some(s"l_shipdate BETWEEN DATE'$d1' AND DATE'$d2'"))(
        _.agg(count(lit(1)), sum("l_quantity"))) { got =>
        val r = got.head
        val have = (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_))
          .getOrElse(BigDecimal(0)))
        require(have == want, s"[$d1, $d2]: got $have, want $want")
      }
    case "mode" =>
      val mode = ShipModes(rng.nextInt(ShipModes.size))
      val want = byMode.collect { case ((m, f), v) if m == mode => f -> v }
      query(ctx, Some(s"l_shipmode = '$mode'"))(
        _.groupBy("l_returnflag").agg(count(lit(1)), sum("l_extendedprice"))) {
        got =>
          val have = got.map(r => r.getString(0) ->
            ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
          require(have == want, s"$mode: got $have, want $want")
      }
    case "point" =>
      val key = keyPool(rng.nextInt(keyPool.size))
      val want = byKey.getOrElse(key, (0L, 0L, BigDecimal(0)))
      query(ctx, Some(s"l_orderkey = $key"))(pointAgg) { got =>
        val have = got.headOption.map(r =>
          (r.getLong(1), r.getLong(2), BigDecimal(r.getDecimal(3))))
          .getOrElse((0L, 0L, BigDecimal(0)))
        require(have == want, s"key $key: got $have, want $want")
      }
  }

  /** Open, hand the file list to Spark, run `agg` and collect. */
  private def query(ctx: Ctx, predicate: Option[String])(
      agg: DataFrame => DataFrame)(check: Seq[Row] => Unit): Op =
    Op(Some("query"), () => {
      val snap = ctx.phase("open")(Snapshot.forTable(ctx.spark, path))
      val df = ctx.phase("handoff")(agg(new DeltaScan(snap, predicate).toDF))
      val rows = ctx.phase("execute")(df.collect().toSeq)
      () => check(rows)
    }, liveFiles = if (predicate.isDefined) liveFiles else 0L)
}

object ScanRead {
  /** Rows written in set-up, in `Replicas` appends. */
  val Rows = 400000L
  val Replicas = 2
  /** Range partitions per append; each writes one file per ship mode. */
  val FilesPerMode = 4
  /** `l_orderkey % DeleteEvery = k` is deleted: about 5% of rows. */
  val DeleteEvery = 20
  val RangeDays = 14
  val ShipModes = IndexedSeq("AIR", "FOB", "MAIL", "RAIL", "REG AIR",
    "SHIP", "TRUCK")

  private def q1Of(df: DataFrame): DataFrame = df
    .groupBy("l_returnflag", "l_linestatus")
    .agg(count(lit(1)), sum("l_quantity"), sum("l_extendedprice"),
      sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
    .orderBy("l_returnflag", "l_linestatus")

  private def pointAgg(df: DataFrame): DataFrame = df
    .groupBy("l_orderkey")
    .agg(count(lit(1)), sum("l_linenumber").cast("long"), sum("l_quantity"))

  /** Lineitem-shaped rows `[from, until)`, a pure function of the seed:
    * four lines per order, TPC-H value ranges, seven ship modes.
    */
  def lineitem(spark: SparkSession, from: Long, until: Long,
      seed: Int): DataFrame = {
    def h(i: Int) = s"xxhash64(id, $seed, $i)"
    val modes = ShipModes.map(m => s"'$m'").mkString(",")
    spark.range(from, until).selectExpr(
      "id div 4 as l_orderkey",
      s"pmod(${h(1)}, 200000) + 1 as l_partkey",
      s"pmod(${h(2)}, 10000) + 1 as l_suppkey",
      "cast(id % 4 + 1 as int) as l_linenumber",
      s"cast(pmod(${h(3)}, 50) + 1 as decimal(12,2)) as l_quantity",
      s"cast(pmod(${h(4)}, 10000000) / 100 as decimal(12,2)) as l_extendedprice",
      s"cast(pmod(${h(5)}, 11) / 100 as decimal(12,2)) as l_discount",
      s"cast(pmod(${h(6)}, 9) / 100 as decimal(12,2)) as l_tax",
      s"element_at(array('A','N','R'), cast(pmod(${h(7)}, 3) + 1 as int)) as l_returnflag",
      s"element_at(array('O','F'), cast(pmod(${h(8)}, 2) + 1 as int)) as l_linestatus",
      s"date_add(date'1992-01-02', cast(pmod(${h(9)}, 2526) as int)) as l_shipdate",
      s"element_at(array($modes), cast(pmod(${h(10)}, 7) + 1 as int)) as l_shipmode",
      s"concat('note ', pmod(${h(11)}, 1000000)) as l_comment")
  }
}
