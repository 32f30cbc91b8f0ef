package graft.cdc

import org.apache.spark.sql.functions._

import graft.lake.LakeTable

/** Revert-as-compensating-changes: restore a table's DATA state to an
  * earlier snapshot (usually a [[LakeTable.tag]]ged release) by emitting
  * the INVERSE of every change made since — a `git revert`, not a
  * `git reset`.
  *
  * Why not an Iceberg-style metadata rollback (repoint CURRENT at the old
  * manifest list)? A rollback is O(1), but it rewinds state WITHOUT
  * producing change events: every incremental consumer — the
  * `graft-table` streaming source and its mirrors, `changeFeed` windows —
  * sees the version counter advance while the un-done rows never appear
  * in any arrival window, so downstream tables silently diverge and must
  * be re-bootstrapped. A CDC engine's contract is that STATE IS THE FOLD
  * OF THE CHANGE LOG; revert keeps that contract by expressing the
  * restoration AS changes:
  *
  *  1. `changeFeed(target, current)` — the minimal endpoint diff of
  *     everything that changed since the target, O(changes) not O(table)
  *     (arrival files are manifest-pruned; value-identical churn is
  *     already suppressed by the feed).
  *  2. Invert each change: an `insert` since the target compensates to a
  *     delete of that key; an `update` compensates to an upsert of its
  *     preimage; a `delete` compensates to a re-insert of its preimage.
  *     (`update_postimage` rows are dropped — the preimage row of the
  *     same key carries the restoration.)
  *  3. Merge the compensation as ONE ordinary batch under a fresh LSN
  *     just above the table's high water, in the `graft-revert` txn slot
  *     (app-scoped idempotence — the global epoch space stays owned by
  *     the feed, exactly the [[MergeConfig.txnApp]] design).
  *
  * Because the compensation flows through [[MergeApply.merge]], every
  * downstream surface is consistent for free: lineage gets a row, the
  * streaming source delivers the compensating events in its next window,
  * LWW mirrors converge to the reverted state, and the revert itself is
  * time-travelable (the pre-revert state is still a snapshot — revert the
  * revert to restore it).
  *
  * Concurrency: the compensation carries LSN = highWater + 1, so a
  * CONCURRENT feed event for the same key with a higher LSN wins LWW over
  * the compensation — newer data survives a racing revert, which is the
  * right arbitration (the revert never saw it). The symmetric assumption
  * is that the upstream tail is already past the table's high water (true
  * of any in-order WAL/binlog); an upstream event arriving LATER with
  * `lsn <= highWater + 1` for a compensated key would lose to the
  * compensation — the precondition of every LSN cut: per-key arrival
  * respects LSN order.
  *
  * Schema is NOT reverted (Iceberg rollback keeps table schema too):
  * preimages are projected onto the CURRENT schema — columns added since
  * the target restore as null, widened types upcast. Layout (bucket
  * count) is likewise untouched: compensation rows hash into the current
  * layout like any batch. */
object Revert {

  /** Writer identity for the revert's app-scoped txn slot. */
  val TxnApp = "graft-revert"

  /** Restore `table`'s data state to `ref` (a version number or tag
    * name). Returns the merge result; `applied = false` with zero rows
    * means the state already equals the target (no commit burned). */
  def revertTo(table: LakeTable, ref: String,
      cfg: MergeConfig = MergeConfig()): MergeResult = {
    val targetV = table.resolveRef(ref)
    val cur = table.snapshot
    require(targetV <= cur.version,
      s"cannot revert forward: target v$targetV is beyond v${cur.version}")
    val feed = table.changeFeed(targetV, Some(cur.version))
    val u = cur.userSchema.fieldNames.toSeq
    val lsn = table.highLsn(cur) + 1
    // cached: the empty-check and merge's own actions would otherwise
    // each recompute the two-sided diff join behind changeFeed
    val comp = feed
      .filter(col("_change_type") =!= "update_postimage")
      .select(
        lit(lsn).as("lsn") +:
          when(col("_change_type") === "insert", "D").otherwise("I")
            .as("op") +:
          u.map(col): _*)
      .cache()
    try {
      if (comp.isEmpty)
        MergeResult(applied = false, cur.version, 0L, 0L, Nil, 0L)
      else MergeApply.merge(table, comp, epochId = cur.version,
        cfg.copy(txnApp = Some(TxnApp)))
    } finally comp.unpersist(): Unit
  }
}
