package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series relational operators Spark lacks as built-ins — as-of join,
  * range (interval) join, and gap sessionization — composed from equi-joins
  * and windows so every plan is one hash shuffle on the join/partition key
  * and never an inequality (broadcast-nested-loop) join. The reference
  * engine has no temporal operators (SURVEY.md §2.7: joins are semi/anti
  * equi only, kernel/src/plans/ir/nodes.rs:790-829); these extend the
  * library toward the event-log workloads a lakehouse engine actually
  * serves, in the preference order the build mandates: compose existing
  * operators before reaching for custom plans.
  *
  * Scale notes (100 TB):
  *  - asofJoin: union + per-key window. One exchange on the key, sort
  *    within partitions; identical shape to a sort-merge join's shuffle.
  *    Skewed keys cost what any per-key window costs — sessions/users are
  *    naturally bounded; no row amplification.
  *  - rangeJoin: buckets of width = the interval length mean each left row
  *    expands to at most 2 bucket keys, each right row to exactly 1; the
  *    join is a plain equi-join on (key, bucket) followed by an exact
  *    interval filter. No O(n·m) comparisons, ever.
  *  - sessionize: lag + running sum over the same per-key window — one
  *    exchange, no self-join.
  */
object Relational {

  /** withColumn silently REPLACES an existing column — an input already
    * carrying one of an operator's internal working columns would be
    * corrupted, not rejected. Every operator guards its own set.
    */
  private def requireFree(df: DataFrame, who: String,
      names: String*): Unit = {
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"$who: input already contains internal column(s) " +
        clash.mkString(", "))
  }

  /** As-of join: each left row picks the single most recent right row of
    * the same key with `right.tsCol <= left.tsCol` (inclusive, matching
    * DuckDB/kdb ASOF semantics). Right payload columns arrive atomically —
    * the matched row's values are carried as one struct, so a NULL inside
    * a payload column can never mix values from different right rows.
    *
    * `right` must be projected to (key, ts, payload...) with one row per
    * (key, ts); when several right rows share a timestamp the caller
    * pre-dedups (the contract every as-of implementation imposes).
    *
    * Plan: tag sides, union, per-key window ordered by (ts, side) with
    * right-before-left on equal ts, `last(struct, ignoreNulls)` as the
    * running as-of state, keep left rows. One shuffle on the key.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    requireFree(left, "asofJoin", "__asof", "__k", "__t", "__side", "__p")
    requireFree(right, "asofJoin", "__k", "__t", "__side", "__p")
    val l = left
      .withColumn("__k", col(leftKey))
      .withColumn("__t", col(leftTs).cast("timestamp"))
      .withColumn("__side", lit(1))
      .withColumn("__p", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          right.select(payload.map(col): _*).schema.fields)))
    val r = right
      .withColumn("__k", col(rightKey))
      .withColumn("__t", col(rightTs).cast("timestamp"))
      .withColumn("__side", lit(0))
      .withColumn("__p", struct(payload.map(col): _*))
      .select((Seq(col("__k"), col("__t"), col("__side")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        col("__p")): _*)
    val u = l.select((Seq(col("__k"), col("__t"), col("__side")) ++
        leftCols.map(col) :+ col("__p")): _*)
      .unionByName(r)
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__asof", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        payload.map(p => col(s"__asof.$p").as(p)): _*)
  }

  /** Range join: pairs (left, right) with equal keys and
    * `right.ts ∈ [left.ts + lo, left.ts + hi)` (half-open, offsets in
    * seconds, lo < hi). Implemented as a bucketed equi-join: bucket width
    * is the window length, left rows replicate to the ≤2 buckets their
    * window can touch, right rows keep their single home bucket, and the
    * exact interval predicate runs after the hash join. Output: left rows
    * joined to the right payload columns (inner semantics).
    */
  def rangeJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      loSeconds: Long,
      hiSeconds: Long,
      payload: Seq[String]): DataFrame = {
    require(loSeconds < hiSeconds, "range join window must be non-empty")
    requireFree(left, "rangeJoin", "__lt", "__b", "__rk", "__rt")
    requireFree(right, "rangeJoin", "__rt", "__b", "__rk")
    val widthUs = (hiSeconds - loSeconds) * 1000000L
    val loUs = loSeconds * 1000000L
    val hiUs = hiSeconds * 1000000L
    val l = left
      .withColumn("__lt", unix_micros(col(leftTs).cast("timestamp")))
      .withColumn("__b", explode(sequence(
        floor((col("__lt") + lit(loUs)) / lit(widthUs)).cast("long"),
        floor((col("__lt") + lit(hiUs) - lit(1L)) / lit(widthUs))
          .cast("long"))))
    val r = right
      .withColumn("__rt", unix_micros(col(rightTs).cast("timestamp")))
      .withColumn("__b", floor(col("__rt") / lit(widthUs)).cast("long"))
      .select((Seq(col(rightKey).as("__rk"), col("__b"), col("__rt")) ++
        payload.map(col)): _*)
    l.join(r, l("__b") === r("__b") && col(leftKey) === col("__rk") &&
        col("__rt") >= col("__lt") + lit(loUs) &&
        col("__rt") < col("__lt") + lit(hiUs))
      .select(left.columns.map(col).toSeq ++ payload.map(col): _*)
  }

  /** Skew-safe inner equi-join: the left (fact) side salts each key into
    * `saltFactor` sub-keys by a DETERMINISTIC hash of a unique column
    * (reproducible across runs and cluster sizes — never rand()); the
    * right (dimension) side replicates each row to all sub-keys. A hot
    * key's rows then spread over `saltFactor` reducers instead of one
    * straggler. Replication multiplies the right side — use for joins
    * where the right side is modest but too big (or too skewed) to
    * broadcast. Result equals the plain inner join, in any order.
    */
  def skewSafeJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftUniqueCol: String,
      saltFactor: Int): DataFrame = {
    require(saltFactor > 0, "saltFactor must be positive")
    requireFree(left, "skewSafeJoin", "__salt")
    requireFree(right, "skewSafeJoin", "__salt")
    val l = left.withColumn("__salt",
      pmod(xxhash64(col(leftUniqueCol)), lit(saltFactor.toLong)))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(saltFactor.toLong - 1L))))
    l.join(r, l(leftKey) === r(rightKey) && l("__salt") === r("__salt"))
      .drop("__salt")
  }

  /** Gap sessionization: within each key, ordered by (ts, tiebreak), a new
    * session starts when the gap from the previous row exceeds
    * `gapSeconds`. Adds `session_idx` (1-based per key). One shuffle on
    * the key; lag + running sum in a single window pass.
    */
  def sessionize(
      df: DataFrame,
      key: String,
      ts: String,
      tiebreak: String,
      gapSeconds: Long): DataFrame = {
    requireFree(df, "sessionize", "__prev", "__new", "session_idx")
    val order = Window.partitionBy(col(key))
      .orderBy(col(ts), col(tiebreak))
    val running = order.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    df.withColumn("__prev", lag(unix_micros(col(ts).cast("timestamp")), 1)
        .over(order))
      .withColumn("__new",
        when(col("__prev").isNull ||
          unix_micros(col(ts).cast("timestamp")) - col("__prev") >
            lit(gapSeconds * 1000000L), lit(1L)).otherwise(lit(0L)))
      .withColumn("session_idx", sum(col("__new")).over(running))
      .drop("__prev", "__new")
  }
}
