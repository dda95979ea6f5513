package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.delta.{AdaptiveMetadata, ContentTree, DeltaTable,
  EqualityDeletes, SetTransaction}

/** CDC ingest with merge-on-read deletes: each micro-batch of
  * `(_op, <row columns>)` events lands as at most one APPEND commit
  * (the upserts) plus one O(root) equality-delete tree commit (the
  * delete keys) — no data file is ever rewritten on the ingest path;
  * [[EqualityDeletes.convertToPositionDeletes]] folds the accumulated
  * deletes into DVs out-of-band.
  *
  * Ordering contract (the Iceberg sequence rule does the work): the
  * batch's deletes stamp the sequence its appends actually LANDED at
  * (the commit version `t.append` returns — re-derived, not assumed,
  * so a foreign commit racing into the gap between the snapshot and
  * the append cannot strand rows above the deletes' reach), so they
  * cover every row committed before the batch — including the
  * immediately preceding batch's, which a PURE-DELETE batch stamped
  * with the stale `snap.version` could never kill under the strict
  * `<` rule — while the batch's own upserts land AT that sequence and
  * stay spared: within one batch an upsert of a deleted key WINS,
  * across batches a later upsert resurrects the key and a later
  * delete kills it. No per-row timestamps, no window functions, no
  * state store: the tree root + the table version ARE the state.
  *
  * Exactly-once: a SetTransaction marker at-or-past the batch id
  * proves the batch's LOG arms landed. The delete arm lives only in
  * the TREE, so a replay whose root predates the marker-carrying
  * commit (crash between the append and the caller's root checkpoint)
  * re-derives the deletes at the ORIGINAL sequence — found by a
  * driver scan of just the un-applied commit window — while a replay
  * holding the completed root is a pure no-op. A replayed PURE-DELETE
  * batch carries no marker; it recomputes the same sequence (the
  * table version did not move) and re-writing the same delete keys is
  * idempotent at READ time (duplicate keys collapse to max sequence
  * before the anti-join). Past `foldThreshold` loose root rows, each
  * batch folds them into fresh leaf nodes (O(loose), existing leaves
  * by reference), bounding the O(root) rewrites.
  */
object CdcIngest {

  val OP_COL = "_op"
  val UPSERT = "upsert"
  val DELETE = "delete"

  /** Process one micro-batch against `t` + the tree at `root`;
    * returns the advanced root. `keyIds` are data-schema positions of
    * the CDC key columns (the equality ids).
    */
  def processBatch(t: DeltaTable, root: AdaptiveMetadata.ContentRoot,
      batch: DataFrame, keyIds: Seq[Int], appId: String,
      batchId: Long, foldThreshold: Int = 4096)
      : AdaptiveMetadata.ContentRoot =
    processBatch(t, root, batch, keyIds, appId, batchId, foldThreshold,
      () => ())

  /** Test seam: `beforeAppend` runs between the batch's snapshot and
    * its append commit — the window a foreign writer can race into.
    */
  private[graft] def processBatch(t: DeltaTable,
      root: AdaptiveMetadata.ContentRoot, batch: DataFrame,
      keyIds: Seq[Int], appId: String, batchId: Long,
      foldThreshold: Int, beforeAppend: () => Unit)
      : AdaptiveMetadata.ContentRoot = {
    val snap0 = t.snapshot()
    val keyNames = EqualityDeletes.idsToNames(snap0.dataSchema, keyIds)
    def delKeys = batch.filter(col(OP_COL).isin(DELETE, UPSERT))
      .select(keyNames.map(col): _*)
    // replay gate: a marker at-or-past this batch id proves the
    // batch's LOG arms landed. The delete arm lives only in the TREE —
    // a caller replaying with a root that predates the marker-carrying
    // commit (crash between the append and the caller's root
    // checkpoint) must RE-DERIVE it at the ORIGINAL sequence, or the
    // batch's deletes are silently lost with the crashed root.
    // Re-writing is idempotent at read time (duplicate keys collapse
    // to max sequence).
    if (snap0.setTransactions.exists(tx =>
        tx.appId == appId && tx.version >= batchId)) {
      val advanced = ContentTree.updateRoot(snap0, root)
      return markerCommit(snap0, appId, batchId,
          after = root.version) match {
        case None => advanced // the tree already includes the batch
        case Some(seq) =>
          val files = EqualityDeletes.writeDeleteFiles(snap0, delKeys,
            keyIds, sequenceNumber = seq)
          if (files.isEmpty) advanced
          else ContentTree.foldLooseEntries(snap0, EqualityDeletes
            .appendDeleteEntries(snap0, advanced, files), foldThreshold)
      }
    }
    val dataCols = snap0.schema.fieldNames.toSeq
    val ins = batch.filter(col(OP_COL) === UPSERT)
      .select(dataCols.map(col): _*)
    // carries prior delete entries through; same-version => no-op
    val advanced = ContentTree.updateRoot(snap0, root)
    // APPEND FIRST, then stamp the deletes from the LANDED version:
    // assuming `snap0.version + 1` would under-reach when a foreign
    // commit races into the gap — rows it committed would sit at-or-
    // above the stamped sequence and silently survive this batch's
    // upsert-replaces. Crash recovery is unchanged: a replay whose
    // root predates the marker commit re-derives the deletes at the
    // marker's version (the landed sequence) via markerCommit.
    val (seq, withAppend) =
      if (ins.isEmpty) (snap0.version + 1, advanced)
      else {
        beforeAppend()
        val v = t.append(ins, txn = Some(SetTransaction(appId, batchId,
          Some(System.currentTimeMillis()))))
        if (v == snap0.version + 1)
          // advance the tree across the batch's own append as LOOSE
          // root rows (content_stats ride along) — an O(root) rewrite,
          // like the delete arm, instead of a full updateRoot per batch
          (v, ContentTree.appendCommitLoose(snap0, advanced, v))
        else
          // foreign commit(s) landed in the gap; merge them AND the
          // batch's append through the full diff (they may carry
          // removes, which the loose fast path refuses)
          (v, ContentTree.updateRoot(t.snapshot(), advanced))
      }
    // upsert = replace: EVERY batch key writes an equality delete
    // (the Iceberg upsert-mode convention) — the strict < rule spares
    // this batch's own rows (they sit AT `seq`), so the new version
    // wins and any older version of the key dies without a lookup or
    // a rewrite. A pure-delete batch commits nothing; its sequence is
    // the stale snapshot's successor, so a foreign commit racing it is
    // treated as LATER (its rows survive) — consistent with the batch
    // having been derived from the pre-race snapshot.
    val files = EqualityDeletes.writeDeleteFiles(snap0, delKeys, keyIds,
      sequenceNumber = seq)
    val out =
      if (files.isEmpty) withAppend
      else EqualityDeletes.appendDeleteEntries(snap0, withAppend, files)
    // bounded steady state: past the threshold the loose rows fold
    // into fresh leaf nodes (O(loose), existing leaves by reference) —
    // without this the root grows with every batch forever and each
    // O(root) rewrite gets linearly slower
    ContentTree.foldLooseEntries(snap0, out, foldThreshold)
  }

  /** Version of the commit carrying `(appId, batchId)`'s marker inside
    * `(after, snap.version]` — the un-applied window of a replayed
    * batch. Driver-side scan of those commit files only.
    */
  private def markerCommit(snap: graft.delta.Snapshot, appId: String,
      batchId: Long, after: Long): Option[Long] = {
    val fs = graft.delta.Storage.fs(snap.tableRoot,
      snap.spark.sessionState.newHadoopConf())
    val logDir = graft.delta.FileNames.logDir(snap.tableRoot)
    ((after + 1) to snap.version).reverse.iterator.flatMap { v =>
      val f = graft.delta.FileNames.commitFile(logDir, v)
      // fail CLOSED on a missing commit inside the window: if log
      // cleanup removed the marker-carrying commit while the
      // SetTransaction survives via checkpoint, treating it as
      // no-marker would return the advanced tree WITHOUT re-deriving
      // the batch's tree-only deletes — silent delete loss
      require(fs.exists(f),
        s"commit $v missing from the replay window ($after, " +
          s"${snap.version}]: log cleanup outran the tree root — " +
          "rebuild the tree (writeRoot) instead of replaying the batch")
      val hit = graft.delta.JsonLog.readCommit(fs, f, Set("txn"))
        .exists(_._2.txn.exists(t =>
          t.appId == appId && t.version == batchId))
      if (hit) Some(v) else None
    }.nextOption()
  }

  /** Current table state under the CDC contract: the tree-planned
    * read with position AND equality deletes applied.
    */
  def currentState(t: DeltaTable,
      root: AdaptiveMetadata.ContentRoot): DataFrame = {
    val snap = t.snapshot()
    EqualityDeletes.readApplying(snap,
      root.resolve(snap.tableRoot.toString))
  }
}
