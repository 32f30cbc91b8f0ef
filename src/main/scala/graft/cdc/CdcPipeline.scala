package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.lake.LakeTable
import graft.model.Schemas

final case class PipelineConfig(
    checkpointDir: String,
    maxFilesPerTrigger: Int = 8,
    merge: MergeConfig = MergeConfig(),
    /** Read the v2 envelope (open `extras` map + op="S" schema-registry
      * events, see [[SchemaRegistry]]). v1 feeds skip the per-batch
      * registry scan entirely. */
    envelopeV2: Boolean = false,
    /** Pre-merge batch hook — the reference's per-job custom_processing
      * seam (reference: engine/etl_util.py:760-767: a job-supplied
      * function runs over the data before load). Returns the
      * (possibly transformed) batch; MUST stay a declarative DataFrame
      * transform so it fuses into the merge plan. */
    preBatch: (DataFrame, Long) => DataFrame = (b, _) => b,
    /** Post-merge hook per (table, epoch, result) — the post-load seam
      * (reference custom post-processing + per-run status row,
      * engine/wprdc_etl/pipeline/status.py). Runs on the driver after
      * the epoch commits; exceptions propagate and fail the stream. */
    postBatch: (LakeTable, Long, MergeResult) => Unit = (_, _, _) => (),
    /** `None` = bounded replay (Trigger.AvailableNow: drain the feed,
      * stop). `Some(intervalMs)` = the always-on tail: micro-batches
      * fire continuously as feed files land (Trigger.ProcessingTime) —
      * the deployment mode the north rule's "tails a binlog" describes;
      * replays in this sandbox use AvailableNow for determinism. */
    triggerIntervalMs: Option[Long] = None,
    /** Retention maintenance cadence: every N committed epochs, expire
      * old snapshots down to `vacuumKeepSnapshots` and delete
      * unreferenced data/manifest files. 0 disables (time travel over
      * the full history, unbounded storage — fine for tests, not for an
      * always-on 10^10-event deployment). Runs on the driver between
      * epochs; the `_lineage` mirror is never touched. */
    vacuumEveryEpochs: Int = 0,
    vacuumKeepSnapshots: Int = 10,
    /** Write-audit-publish gate (Iceberg WAP): when set, every micro-batch
      * is first STAGED (`MergeConfig.wapId = "wap-<epochId>"`, files
      * written, table untouched), then this predicate audits it — read
      * the staged state via `table.readStaged(wapId)` or just the batch's
      * resolved changes via `table.stagedChanges(wapId)` — and `true`
      * publishes through the ordinary commit protocol while `false`
      * QUARANTINES: staged files deleted, and a 0-row lineage entry
      * committed under the same epoch id so the exactly-once watermark
      * stays contiguous and the rejection is audited (rowsInBatch > 0,
      * rowsApplied = 0). A gate that THROWS fails the stream; the restart
      * re-adopts the pending intent and re-audits — no re-merge, no
      * duplicate apply. */
    auditGate: Option[(LakeTable, String, Long) => Boolean] = None)

/** The always-on ingest loop (SURVEY.md §7.1 item 5): a Structured
  * Streaming query that tails a file-based change feed (a directory of
  * parquet batch files standing in for a binlog/WAL) and applies each
  * micro-batch through [[MergeApply]] inside `foreachBatch`.
  *
  * Exactly-once: the streaming checkpoint gives at-least-once redelivery of
  * `(epochId, batch)` pairs after a crash; the table's committed-epoch
  * guard turns redelivery into a no-op — together, exactly-once. This is
  * the streaming-native replacement for the reference's cron + checksum +
  * `start_from_chunk` manual resume (reference:
  * engine/wprdc_etl/pipeline/pipeline.py:31, 338-341, 372-389).
  */
object CdcPipeline {

  /** Open the change feed as a streaming DataFrame. */
  def readChangeFeed(spark: SparkSession, feedDir: String,
      cfg: PipelineConfig): DataFrame =
    spark.readStream
      .schema(if (cfg.envelopeV2) Schemas.changeEventV2 else Schemas.changeEvent)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(feedDir)

  /** One epoch against one destination: the (optionally audit-gated)
    * merge, retention maintenance, post hook — shared by the single-sink
    * and fan-out queries so every PipelineConfig seam behaves identically
    * on both. */
  private def applyEpoch(table: LakeTable, batch: DataFrame, epochId: Long,
      cfg: PipelineConfig): Unit = {
    val res = cfg.auditGate match {
      case Some(gate) => auditedEpoch(table, batch, epochId, cfg, gate)
      case None => MergeApply.merge(table, batch, epochId, cfg.merge)
    }
    if (cfg.vacuumEveryEpochs > 0 && res.applied &&
        epochId > 0 && epochId % cfg.vacuumEveryEpochs == 0)
      table.vacuum(cfg.vacuumKeepSnapshots)
    cfg.postBatch(table, epochId, res)
  }

  /** One WAP-gated epoch: stage → audit → publish-or-quarantine. Every
    * step is crash-idempotent: re-staging adopts the pending intent, a
    * re-published epoch is retired by publishStaged's duplicate check,
    * and a quarantined epoch re-quarantines to the same 0-row outcome. */
  private def auditedEpoch(table: LakeTable, batch: DataFrame, epochId: Long,
      cfg: PipelineConfig,
      gate: (LakeTable, String, Long) => Boolean): MergeResult = {
    val t0 = System.nanoTime()
    val wapId = f"wap-$epochId%012d"
    val res = MergeApply.merge(table, batch, epochId,
      cfg.merge.copy(wapId = Some(wapId)))
    if (!res.staged) {
      // epoch already committed (restart after publish-then-crash): a
      // leftover intent is retired by publishStaged's duplicate path
      if (table.stagedIds.contains(wapId)) table.publishStaged(wapId)
      return res
    }
    if (gate(table, wapId, epochId)) {
      val c = table.publishStaged(wapId)
      res.copy(applied = true, version = c.version, staged = false)
    } else {
      table.abortStaged(wapId)
      MergeApply.quarantine(table, epochId, cfg.merge, t0, res)
    }
  }

  private def trigger(cfg: PipelineConfig): Trigger =
    cfg.triggerIntervalMs
      .map(ms => Trigger.ProcessingTime(ms))
      .getOrElse(Trigger.AvailableNow())

  /** Start the ingest query. Caller stops it (or uses
    * `processAllAvailable` for a bounded replay). */
  def start(spark: SparkSession, feedDir: String, table: LakeTable,
      cfg: PipelineConfig): StreamingQuery = {
    readChangeFeed(spark, feedDir, cfg).writeStream
      .queryName(s"cdc-ingest-${table.dir.hashCode.toHexString}")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(trigger(cfg))
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        applyEpoch(table, cfg.preBatch(batch, epochId), epochId, cfg)
      }
      .start()
  }

  /** Bounded replay: process everything currently in the feed, then stop.
    * Returns the table's resulting snapshot version. */
  def replayAvailable(spark: SparkSession, feedDir: String, table: LakeTable,
      cfg: PipelineConfig): Long = {
    val q = start(spark, feedDir, table, cfg)
    try q.awaitTermination() finally if (q.isActive) q.stop()
    table.snapshot.version
  }

  /** Destination fan-out: one change feed merged into several tables
    * (the reference's `locators_by_destination` multi-sink dispatch,
    * reference:
    * engine/etl_util.py:671, 779-784). One streaming query, one source
    * scan; each destination's epoch guard makes partial-failure restarts
    * safe per-table (a table that committed epoch e skips it on
    * redelivery while the others catch up). */
  def startFanOut(spark: SparkSession, feedDir: String,
      dests: Seq[LakeTable], cfg: PipelineConfig): StreamingQuery =
    readChangeFeed(spark, feedDir, cfg).writeStream
      .queryName(s"cdc-fanout-${feedDir.hashCode.toHexString}")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(trigger(cfg))
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val b = cfg.preBatch(batch, epochId) // once per batch, all sinks
        // each destination's merge runs 1-2 actions over the batch plan;
        // without a persist the source scan (and preBatch) re-executes
        // per sink — "one source scan" must hold at execution, not just
        // plan construction. Single-sink fan-outs skip the cache (merge
        // itself is the only consumer there).
        val cached = if (dests.sizeIs > 1) b.persist() else b
        try dests.foreach(applyEpoch(_, cached, epochId, cfg))
        finally if (dests.sizeIs > 1) { cached.unpersist(); () }
      }
      .start()

  def replayFanOutAvailable(spark: SparkSession, feedDir: String,
      dests: Seq[LakeTable], cfg: PipelineConfig): Unit = {
    val q = startFanOut(spark, feedDir, dests, cfg)
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** Outcome of one [[followOnce]] round. `toVersion` is the destination's
    * new consumed-source-VERSION watermark when applied (unchanged
    * otherwise). */
  final case class FollowResult(applied: Boolean, fromVersion: Long,
      toVersion: Long, merge: Option[MergeResult])

  /** One round of table-to-table incremental sync — the downstream-
    * consumption half of CDC, chaining lake tables into multi-hop
    * (bronze → silver) pipelines. This is the LSN-exact form of the
    * reference's time-gap incremental pull: query the DESTINATION for how
    * far it has consumed, fetch only the gap from the source (reference:
    * engine/time_field_util.py:53-127, engine/payload/united_way/211.py:225-248
    * — `max(time_field)` of the destination bounds the next fetch).
    *
    * Mechanics: the destination's committed-epoch guard doubles as the
    * consumed-source-VERSION watermark — each round merges the source's
    * window ARRIVALS (`src.arrivalsSince(last)`, pinned to one source
    * snapshot) under `epochId = src.snapshot.version`, so a crashed or
    * re-run round is a no-op and a fresh destination starts from -1
    * (full copy). The commit-version cut makes rounds robust to
    * arbitrarily out-of-order LSN arrival at the source — an LSN-cut
    * round silently loses a key whose winning event lands below the
    * already-consumed high water (which is why epoch ids are snapshot
    * versions, NOT source LSNs). O(new data) per round: exact arrival
    * files are pruned from the manifest alone; a compaction fold inside
    * the window degrades to re-upserting that bucket's winners, which
    * the destination's LWW merge absorbs (tombstone winners ride along
    * as `op="D"`, so deletes still propagate). Don't mix `followOnce`
    * with feed ingest on one destination table.
    *
    * `transform` runs over the change envelope (`lsn`, `op`, user columns)
    * and must keep `lsn`/`op`/key columns; use it for declarative
    * silver-layer cleanup (projection, scalar fixes). Row-filtering
    * transforms drop those keys' changes entirely — including their
    * deletes — so filter on IMMUTABLE key attributes only.
    *
    * With `evolveSchema` (default), source schema evolution propagates
    * BEFORE the round's merge, by the one rule of
    * [[LakeTable.evolveSchema]] in at most one schema commit: columns the
    * source added arrive with their column docs (the reference's
    * data-dictionary preservation, reference: engine/etl_util.py:87-115),
    * type widenings are widened downstream, and destination-only columns
    * are left alone — otherwise the destination's align would silently
    * drop the new columns. A destination column whose type neither
    * widens to nor from the source's fails the round with
    * `IllegalArgumentException` before anything merges. Idempotent: a
    * crash between evolution and merge redoes a no-op. Disable it when
    * `transform` reshapes the columns and the destination schema is
    * authored by hand. */
  def followOnce(src: LakeTable, dst: LakeTable,
      transform: DataFrame => DataFrame = identity,
      cfg: MergeConfig = MergeConfig(),
      evolveSchema: Boolean = true): FollowResult = {
    // the consumed-source-VERSION watermark IS the destination's global
    // epoch space (epoch ids are source snapshot versions — see the
    // scaladoc above for why not LSN cuts). A txn-scoped config would commit
    // into the txn slot instead: the watermark never advances, every
    // round re-reads from -1 and re-plans an O(table) merge before the
    // txn guard no-ops it — correct final state, quadratic work. Fail
    // loudly rather than silently degrade the documented O(new data).
    require(cfg.txnApp.isEmpty,
      "followOnce tracks progress in the table's global epoch space; " +
        "txn-scoped MergeConfig (txnApp) would silently make each round O(table)")
    val dstSnap = dst.snapshot
    // migration guard: a mirror synced under the legacy LSN epoch space
    // has a huge watermark — every version-space round would silently
    // no-op under it. Fail loudly; only a fresh mirror adopts this space.
    val space = dstSnap.properties.get(FollowSpaceProp)
    if (!space.contains("version")) {
      if (dstSnap.maxCommittedEpoch >= 0 || dstSnap.txns.nonEmpty)
        sys.error(s"destination ${dst.dir} has committed epochs outside " +
          "the consumed-source-version space (a legacy LSN-space or " +
          "stream-fed mirror) — rebuild it before following")
      dst.setProperty(FollowSpaceProp, "version")
    }
    val snap = src.snapshot
    // only a property may have been set since dstSnap was read
    val last = dstSnap.maxCommittedEpoch
    if (snap.version <= last)
      return FollowResult(applied = false, last, last, None)
    if (evolveSchema) dst.evolveSchema(snap.userSchema, snap.columnDocs)
    val changes = src.arrivalsSinceSnap(last, snap)
      .withColumnRenamed("__lsn", "lsn")
      .withColumnRenamed("__op", "op")
    val res = MergeApply.merge(dst, transform(changes), snap.version, cfg)
    FollowResult(res.applied, last,
      if (res.applied) snap.version else last, Some(res))
  }

  /** Table property recording that a destination's epoch watermark lives
    * in the consumed-source-version space (followOnce's contract). */
  val FollowSpaceProp = "graft.follow.space"

  /** Drain: follow rounds until the destination has consumed everything
    * currently in the source. Returns the rounds that applied data.
    * `evolveSchema` passes through to every [[followOnce]] round — the
    * drain loop must honor the same opt-out (hand-authored destination
    * schema under a reshaping `transform`) or the first round would
    * pollute it with every source column. */
  def followAvailable(src: LakeTable, dst: LakeTable,
      transform: DataFrame => DataFrame = identity,
      cfg: MergeConfig = MergeConfig(),
      evolveSchema: Boolean = true): Seq[FollowResult] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[FollowResult]
    var r = followOnce(src, dst, transform, cfg, evolveSchema)
    while (r.applied) {
      out += r
      r = followOnce(src, dst, transform, cfg, evolveSchema)
    }
    out.toSeq
  }
}
