package graft.delta

import org.apache.spark.sql.types.{MetadataBuilder, StructType}
import org.apache.spark.sql.{DataFrame, Row}

/** Identity column assignment (reference schema/mod.rs:253-313
  * IdentityStart/Step/HighWaterMark/AllowExplicitInsert metadata keys;
  * Delta protocol "Identity Columns").
  *
  * Values are `start + k*step`, strictly beyond the recorded high-water
  * mark in the direction of `step`; the commit that consumes values
  * carries a metaData action with the advanced mark (so such commits
  * are NOT blind-retryable — a concurrent writer may have consumed the
  * same range).
  *
  * Distributed assignment uses `zipWithIndex` — one extra count job
  * over the prepared input (Spark's partition-offset allocation), rows
  * never funnel through one partition or the driver.
  */
object IdentityColumns {

  val START_KEY = "delta.identity.start"
  val STEP_KEY = "delta.identity.step"
  val HWM_KEY = "delta.identity.highWaterMark"
  val ALLOW_EXPLICIT_KEY = "delta.identity.allowExplicitInsert"

  case class Spec(name: String, start: Long, step: Long,
      highWaterMark: Option[Long], allowExplicitInsert: Boolean) {
    require(step != 0, s"identity column $name has step 0")
    /** First value of the next allocation. */
    def nextBase: Long = highWaterMark.map(_ + step).getOrElse(start)
  }

  def specs(schema: StructType): Seq[Spec] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains(START_KEY) =>
        Spec(f.name,
          f.metadata.getLong(START_KEY),
          f.metadata.getLong(STEP_KEY),
          if (f.metadata.contains(HWM_KEY))
            Some(f.metadata.getLong(HWM_KEY)) else None,
          f.metadata.contains(ALLOW_EXPLICIT_KEY) &&
            f.metadata.getBoolean(ALLOW_EXPLICIT_KEY))
    }

  /** Generate values for identity columns ABSENT from `df`; validate
    * explicit values are allowed otherwise. Returns the completed
    * DataFrame plus the identity columns whose high-water marks must
    * advance after staging — the marks themselves come from the staged
    * files' STATS (see [[hwmFromStats]]): one source of truth, no
    * second pass, and a nondeterministic input cannot desync the mark
    * from what was actually written.
    */
  def assign(df: DataFrame, snap: Snapshot): (DataFrame, Set[String]) = {
    val ids = specs(snap.schema)
    if (ids.isEmpty) return (df, Set.empty)
    val present = df.columns.toSet
    val supplied = ids.filter(s => present.contains(s.name))
    supplied.foreach { s =>
      require(s.allowExplicitInsert,
        s"identity column '${s.name}' is always generated " +
          s"($ALLOW_EXPLICIT_KEY=false); do not supply it")
    }
    val missing = ids.filterNot(s => present.contains(s.name))
    if (missing.isEmpty) return (df, supplied.map(_.name).toSet)

    val indexed = df.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq ++ missing.map(s => s.nextBase + s.step * i))
    }
    val outSchema = StructType(df.schema.fields ++ missing.map(s =>
      snap.schema(s.name).copy(nullable = false)))
    val out = df.sparkSession.createDataFrame(indexed, outSchema)
    (out, (supplied ++ missing).map(_.name).toSet)
  }

  /** Advance marks for consumed identity columns (generated or
    * explicitly supplied) using the staged files' stats — free, no
    * extra pass: the mark must cover the furthest written value in the
    * step direction.
    */
  def hwmFromStats(adds: Seq[AddFile], snap: Snapshot,
      suppliedCols: Set[String]): Map[String, Long] = {
    val ids = specs(snap.schema).filter(s => suppliedCols.contains(s.name))
    if (ids.isEmpty) return Map.empty
    ids.flatMap { s =>
      // stats keys are PHYSICAL names on column-mapped tables
      val statsKey = ColumnMapping.physicalName(snap.schema(s.name))
      val bounds = adds.flatMap(_.stats).map(JsonLog.parseLine).flatMap { n =>
        val side = if (s.step > 0) "maxValues" else "minValues"
        val v = n.path(side).path(statsKey)
        if (v.isIntegralNumber) Some(v.asLong) else None
      }
      if (bounds.isEmpty) None
      else {
        val furthest = if (s.step > 0) bounds.max else bounds.min
        val beyond = s.highWaterMark.forall(h =>
          if (s.step > 0) furthest > h else furthest < h)
        if (beyond) Some(s.name -> furthest) else None
      }
    }.toMap
  }

  /** The table metadata with identity high-water marks advanced. */
  def advance(meta: Metadata, hwms: Map[String, Long]): Metadata = {
    if (hwms.isEmpty) return meta
    val schema = meta.schema
    val updated = StructType(schema.fields.map { f =>
      hwms.get(f.name) match {
        case Some(h) =>
          f.copy(metadata = new MetadataBuilder()
            .withMetadata(f.metadata).putLong(HWM_KEY, h).build())
        case None => f
      }
    })
    meta.copy(schemaString = updated.json)
  }
}
