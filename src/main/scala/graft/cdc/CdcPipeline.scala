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
      cfg: PipelineConfig): StreamingQuery =
    startQuery(spark, feedDir, Seq(table), cfg,
      s"cdc-ingest-${table.dir.hashCode.toHexString}")

  /** Bounded replay: process everything currently in the feed, then stop.
    * Returns the table's resulting snapshot version. */
  def replayAvailable(spark: SparkSession, feedDir: String, table: LakeTable,
      cfg: PipelineConfig): Long = {
    await(start(spark, feedDir, table, cfg))
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
    startQuery(spark, feedDir, dests, cfg,
      s"cdc-fanout-${feedDir.hashCode.toHexString}")

  def replayFanOutAvailable(spark: SparkSession, feedDir: String,
      dests: Seq[LakeTable], cfg: PipelineConfig): Unit =
    await(startFanOut(spark, feedDir, dests, cfg))

  /** The one ingest query behind [[start]] and [[startFanOut]]: `preBatch`
    * once per batch, then one [[applyEpoch]] per destination. */
  private def startQuery(spark: SparkSession, feedDir: String,
      dests: Seq[LakeTable], cfg: PipelineConfig,
      name: String): StreamingQuery =
    readChangeFeed(spark, feedDir, cfg).writeStream
      .queryName(name)
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(trigger(cfg))
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val b = cfg.preBatch(batch, epochId) // once per batch, all sinks
        // each destination's merge runs 1-2 actions over the batch plan;
        // without a persist the source scan (and preBatch) re-executes
        // per sink — "one source scan" must hold at execution, not just
        // plan construction. Single-sink queries skip the cache (merge
        // itself is the only consumer there).
        val cached = if (dests.sizeIs > 1) b.persist() else b
        try dests.foreach(applyEpoch(_, cached, epochId, cfg))
        finally if (dests.sizeIs > 1) { cached.unpersist(); () }
      }
      .start()

  private def await(q: StreamingQuery): Unit =
    try q.awaitTermination() finally if (q.isActive) q.stop()
}
