package graft.delta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Clustered tables (reference kernel/src/clustering.rs +
  * transaction/data_layout.rs): clustering columns live in the
  * `delta.clustering` domain as
  * `{"clusteringColumns": [["col1"], ["user","address","city"]]}` —
  * PHYSICAL column paths on column-mapped tables — gated by the
  * `clustering` writer feature, with clustered adds carrying
  * `clusteringProvider`.
  *
  * The LAYOUT itself is Spark-first: rows range-partition on the
  * clustering key and sort within partitions, so each staged file
  * covers a disjoint key range — min/max stats then make data skipping
  * on the clustering columns near-perfect. (The reference delegates
  * layout to the engine the same way; range-sort is the dominant
  * simple case of liquid-style clustering.)
  */
object Clustering {

  val DOMAIN = "delta.clustering"
  val FEATURE = "clustering"
  val PROVIDER = "liquid"

  def domainFor(physicalCols: Seq[Seq[String]]): DomainMetadata =
    DomainMetadata(DOMAIN,
      s"""{"clusteringColumns":[${physicalCols.map(p =>
        p.map(s => "\"" + JsonLog.esc(s) + "\"").mkString("[", ",", "]"))
        .mkString(",")}]}""",
      removed = false)

  /** Physical clustering column paths from the snapshot's domain. A
    * table whose protocol lacks the clustering writer feature has none
    * (every writer of the domain adds the feature), so its domains are
    * never read — on the driver-small path that read is a whole replay
    * pass, checkpoint included, on every append.
    */
  def physicalColumns(snap: Snapshot): Seq[Seq[String]] =
    if (!TableFeatures.supportsWriterFeature(snap.protocol, FEATURE)) Nil
    else snap.domainMetadata(DOMAIN).toSeq.flatMap { cfg =>
      import scala.jdk.CollectionConverters._
      JsonLog.parseLine(cfg).path("clusteringColumns").elements().asScala
        .map(_.elements().asScala.map(_.asText).toSeq).toSeq
    }

  /** LOGICAL clustering column names (top-level; physical→logical via
    * column mapping when active).
    */
  def columns(snap: Snapshot): Seq[String] = {
    val p2l = snap.schema.fields
      .map(f => ColumnMapping.physicalName(f) -> f.name).toMap
    physicalColumns(snap).collect {
      case Seq(phys) => p2l.getOrElse(phys, phys)
    }
  }

  /** Lay `df` out on its clustering columns. One column: range-
    * partition + sort (each file a disjoint key range). Two or more:
    * Z-ORDER — quantile-bucket each column, interleave the bucket
    * bits, range-partition + sort on the z-value — so min/max
    * skipping stays effective on EVERY clustering column, not just
    * the leading one (liquid-style multi-dimensional clustering;
    * reference transaction/data_layout.rs delegates layout to the
    * engine). numFiles <= 0 keeps the input parallelism.
    */
  def layout(df: DataFrame, clusterCols: Seq[String],
      numFiles: Int = 0): DataFrame = {
    if (clusterCols.isEmpty) return df
    if (clusterCols.size == 1) {
      val keys = clusterCols.map(col)
      val ranged =
        if (numFiles > 0) df.repartitionByRange(numFiles, keys: _*)
        else df.repartitionByRange(keys: _*)
      ranged.sortWithinPartitions(keys: _*)
    } else zorderLayout(df, clusterCols, numFiles)
  }

  /** Bits per column in the z-value (64 quantile buckets). */
  private val Z_BITS = 6

  /** An ORDER-PRESERVING numeric projection of a column, the domain
    * the quantile buckets are computed in. Strings map through their
    * first 6 UTF-8-ish bytes (48 bits — exact in double space);
    * imprecision here only costs layout quality, never correctness.
    */
  private def orderedNum(df: DataFrame, f: StructField): Option[Column] = {
    val c = df(ColumnMapping.quoted(f.name))
    f.dataType match {
      case _: NumericType => Some(c.cast(DoubleType))
      case DateType => Some(unix_date(c).cast(DoubleType))
      case TimestampType | TimestampNTZType =>
        Some(unix_micros(c.cast(TimestampType)).cast(DoubleType))
      case BooleanType => Some(c.cast(IntegerType).cast(DoubleType))
      case StringType => Some(
        conv(hex(rpad(substring(c, 1, 6), 6, "\u0000")), 16, 10)
          .cast(DoubleType))
      case _ => None
    }
  }

  /** Z-order `df` on `cols`: one percentile_approx aggregate computes
    * per-column bucket boundaries, the z-value is a codegen'd
    * bit-interleave, and files are ranged + sorted on it. Unsupported
    * column types are skipped (they contribute no bits).
    */
  def zorderLayout(df: DataFrame, cols: Seq[String],
      numFiles: Int = 0): DataFrame = {
    val fields = cols.flatMap(n => df.schema.fields.find(_.name == n))
    val nums = fields.flatMap(f => orderedNum(df, f).map(f.name -> _))
    if (nums.isEmpty) return df
    val buckets = 1 << Z_BITS
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    // ONE distributed aggregate for every column's boundaries
    val proj = df.select(nums.map(_._2).zipWithIndex.map {
      case (c, i) => c.as(s"__c$i") }: _*)
    val aggs = nums.indices.map(i =>
      percentile_approx(col(s"__c$i"), lit(probs), lit(10000)).as(s"__q$i"))
    val row = proj.agg(aggs.head, aggs.tail: _*).head()
    val zCol = {
      val bucketCols = nums.zipWithIndex.map { case ((_, nc), i) =>
        val bs = if (row.isNullAt(i)) Nil
          else row.getSeq[Double](i).filter(b => !b.isNaN)
        if (bs.isEmpty) lit(0L)
        else {
          // rank within the sorted boundary array via a single
          // higher-order fold (63 adds, one expression node)
          val bArr = array(bs.distinct.sorted.map(lit): _*)
          coalesce(aggregate(bArr, lit(0),
            (acc, b) => acc + when(nc >= b, 1).otherwise(0)), lit(0))
            .cast(LongType)
        }
      }
      val k = bucketCols.size
      (0 until Z_BITS).flatMap { bit =>
        bucketCols.zipWithIndex.map { case (b, ci) =>
          shiftleft(shiftright(b, bit).bitwiseAND(lit(1L)), bit * k + ci)
        }
      }.reduce(_ bitwiseOR _)
    }
    val withZ = df.withColumn("__zval", zCol)
    val ranged =
      if (numFiles > 0) withZ.repartitionByRange(numFiles, col("__zval"))
      else withZ.repartitionByRange(col("__zval"))
    ranged.sortWithinPartitions(col("__zval")).drop("__zval")
  }
}
