package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftStreamShim, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.lake.{LakeTable, Snapshot}

/** Streaming offset into a lake table's change history. Two forms share
  * one json shape (`{"version":v,"lsn":l}`), distinguished by `lsn`:
  *
  *  - **version-complete** (`lsn == -2`, [[versionComplete]]): every
  *    arrival in commits `<= version` has been delivered. The steady-state
  *    form — windows between two such offsets cut by COMMIT version
  *    ([[graft.lake.LakeTable.arrivalsSince]]), which is robust to
  *    arbitrarily out-of-order LSN arrival (an LSN cut silently loses a
  *    key whose winning event lands in a later commit BELOW the consumed
  *    LSN high water — it sits in no `__lsn > cut` range).
  *  - **catch-up** (`lsn >= 0`): the bootstrap/rate-limit form — winners
  *    of the IMMUTABLE snapshot `version` delivered through LSN `lsn`.
  *    Splitting one pinned snapshot by LSN has no out-of-order hazard
  *    (nothing new can land inside an immutable snapshot); once the cut
  *    reaches the snapshot's high, the offset seals to version-complete
  *    and the stream tails by commit version from there. Checkpoints
  *    written by the earlier LSN-cut source are exactly this form, so
  *    they migrate losslessly: one transition batch finishes the pinned
  *    snapshot and switches spaces.
  *
  * The version always pins `getBatch`'s scan to one immutable snapshot,
  * so a replayed range reproduces the same rows regardless of later
  * commits. Equality is json-based (the Offset contract), so the json
  * must stay byte-deterministic. */
final case class GraftOffset(version: Long, lsn: Long) extends V1Offset {
  override def json: String = s"""{"version":$version,"lsn":$lsn}"""
  /** True for the steady-state form: all arrivals `<= version` delivered. */
  def versionComplete: Boolean = lsn == GraftOffset.VersionComplete
}

object GraftOffset {
  /** `lsn` sentinel of the version-complete form (all arrivals through
    * `version` delivered). -2, not -1: a catch-up form with cut -1
    * ("nothing delivered yet") must stay distinct. */
  val VersionComplete: Long = -2L

  private val Re = """\{"version":(-?\d+),"lsn":(-?\d+)\}""".r

  /** Accept this source's own offsets or checkpoint-restored
    * `SerializedOffset`s — anything whose json this source wrote. */
  def parse(o: org.apache.spark.sql.connector.read.streaming.Offset): GraftOffset =
    o match {
      case g: GraftOffset => g
      case other => other.json match {
        case Re(v, l) => GraftOffset(v.toLong, l.toLong)
        case j => throw new IllegalArgumentException(
          s"not a graft-table offset: $j")
      }
    }

  /** Strict progress order: does `a` cover more of the table than `b`?
    * By version first; within one version the sealed (version-complete)
    * form covers every catch-up cut. */
  private[streaming] def isBeyond(a: GraftOffset, b: GraftOffset): Boolean =
    a.version > b.version ||
      (a.version == b.version && !b.versionComplete &&
        (a.versionComplete || a.lsn > b.lsn))
}

/** `spark.readStream.format("graft-table").option("path", dir).load()` —
  * tail a lake table as a Structured Streaming source (the
  * downstream-consumption half of CDC as a first-class stream, the
  * surface Delta calls Change Data Feed).
  *
  * Two phases, matching the two [[GraftOffset]] forms:
  *
  *  1. **Bootstrap / catch-up** (fresh checkpoint): the pinned start
  *     snapshot's WINNERS via [[LakeTable.readSince]], LSN-split under
  *     `maxLsnsPerTrigger` — safe because the snapshot is immutable, so
  *     the split ranges jointly cover it no matter what arrival order
  *     produced it. When the cut reaches the snapshot's high LSN the
  *     offset seals to version-complete.
  *  2. **Steady-state tail**: each micro-batch is the commit-version
  *     arrival window [[LakeTable.arrivalsSince]] between two sealed
  *     offsets — raw arrivals (possibly several rows per key, tombstones
  *     included as `op = "D"`), file-pruned from the manifest alone to
  *     O(new data). Version cuts are the out-of-order-robust choice: a
  *     key whose winning event lands in a later commit with an LSN below
  *     the consumed high water is still an arrival in exactly one window
  *     (an LSN cut loses it silently — the hazard that retired the
  *     LSN-cut design of this source).
  *
  * Emitted columns are the merge-ready change envelope (user columns +
  * `lsn` + `op`), so `foreachBatch` + [[graft.cdc.MergeApply]] gives
  * exactly-once table-to-table replication: the streaming checkpoint
  * replays offset ranges at-least-once, version-pinned `getBatch` makes
  * replays byte-identical, and the destination's epoch guard (plus
  * within-batch LWW dedup) makes them no-ops.
  *
  * Rewrite commits: a compaction fold at the very start of a window is
  * skipped outright (state-neutral — everything it carries is already
  * inside the watermark), and the source SPLITS windows just before any
  * deeper fold so the next window starts at the fold's parent and hits
  * that rule — compaction never re-delivers the table.
  *
  * Operational contract (same as Iceberg/Delta streaming reads):
  *  - vacuum retention bounds restartability — a checkpointed end
  *    version that has been expired fails `snapshotAt` with a clear
  *    error; keep `vacuumKeepSnapshots` above the worst-case downtime.
  *  - schema is fixed at stream start; if the table evolves mid-stream
  *    the source fails fast (restart picks up the new schema) rather
  *    than silently dropping or miscasting the new columns. Ranges
  *    pinned to PRE-evolution snapshots (a restart's replay of its last
  *    committed batch) align up losslessly — null-filled added columns,
  *    upcast widened ones — so evolution never wedges a checkpoint.
  *  - `.option("startingLsn", n | "latest")` starts a fresh checkpoint
  *    after the given cut instead of bootstrapping the full table;
  *    "latest" is resolved once and frozen in the stream's metadata
  *    directory so restarts keep the same cut. The cut applies only to
  *    the attach-time snapshot — the attach VERSION is frozen beside the
  *    cut, and bootstrap pins it, so a commit landing between attach and
  *    the first trigger is delivered as a version-window arrival even
  *    when its LSNs sit below the cut. From there the stream tails by
  *    commit version, so late low-LSN arrivals AFTER attach are
  *    delivered.
  *  - a `followOnce`-driven table uses consumed-source-versions as epoch
  *    ids; this source uses Spark's own micro-batch ids — don't mix the
  *    two sync mechanisms on one destination table.
  *  - `.option("maxLsnsPerTrigger", n)` caps the LSN range per catch-up
  *    micro-batch (≈ an event cap for dense LSNs): a from-scratch
  *    bootstrap of a 10^10-event table arrives as bounded batches, not
  *    one table-sized one. Batches under a cut skip keys whose winner
  *    lies beyond it; the later batch covering the winner delivers them
  *    — the LWW composition reaches the identical final state.
  *  - `.option("maxRowsPerTrigger", n)` caps the steady-state window by
  *    cumulative arrival-file rows (version granularity, always at least
  *    one version of progress) — bounds the post-downtime catch-up batch.
  *  - legacy checkpoints from the LSN-cut era of this source resume
  *    losslessly: their offsets are the catch-up form, so the first
  *    batch finishes the pinned snapshot past the old cut, then the
  *    stream switches to version windows.
  */
class LakeTableSource(sqlContext: SQLContext, tableDir: String,
    maxLsnsPerTrigger: Option[Long] = None,
    startingLsn: Option[Long] = None,
    maxRowsPerTrigger: Option[Long] = None,
    attachVersion: Option[Long] = None)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit}

  private val table = LakeTable.load(sqlContext.sparkSession, tableDir)
  private val startSchema: StructType = table.snapshot.userSchema

  override val schema: StructType = LakeTableSourceProvider.changeSchema(startSchema)

  /** Latest end offset handed out or consumed — only the legacy
    * [[getOffset]] path needs it (the engine replays the last committed
    * range through `getBatch` on restart, re-seating this cursor); the
    * admission-control path receives its start offset explicitly. Kept
    * as a full offset so a metadata-only commit (new version, same LSN)
    * re-serves the SAME json and never looks like new data. */
  @volatile private var lastKnown: Option[GraftOffset] = None

  /** Snapshot frozen by [[prepareForTriggerAvailableNow]]: an
    * AvailableNow run drains up to here in rate-limited batches and then
    * STOPS, even while writers keep committing. Outer None = not
    * prepared (tail mode, chase the live snapshot); Some(None) =
    * prepared on an empty table — drain nothing and stop, do NOT fall
    * back to chasing. */
  @volatile private var preparedTarget: Option[Option[Snapshot]] = None

  /** The live (or frozen) target snapshot; None when the table holds no
    * data files — nothing to deliver, don't advance offsets. */
  private def targetSnap(): Option[Snapshot] =
    preparedTarget.getOrElse(Some(table.snapshot)).filter(_.files.nonEmpty)

  override def prepareForTriggerAvailableNow(): Unit =
    preparedTarget = Some(Some(table.snapshot).filter(_.files.nonEmpty))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): OffsetV2 = targetSnap()
    .map(s => GraftOffset(s.version, GraftOffset.VersionComplete)).orNull

  /** The engine's offset negotiation (it prefers this over the legacy
    * [[getOffset]] because the source declares admission control, and —
    * crucially — uses the source NATIVELY under Trigger.AvailableNow
    * instead of wrapping it in a one-shot-getOffset wrapper that would
    * freeze a rate-limited cut as the final target).
    *
    * Returning `start` verbatim (json-equal) signals no new data; a
    * purely-metadata commit advances the offset once with an empty
    * batch, then the stream re-quiesces. */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val snap = targetSnap().getOrElse(return start)
    Option(start).map(GraftOffset.parse) match {
      case None =>
        // fresh checkpoint: bootstrap the pinned snapshot's winners.
        // startingLsn (attach-without-bootstrap, Delta's startingVersion
        // analog; "latest" resolved/frozen at source creation) cuts ONLY
        // the ATTACH snapshot — frozen by version at source creation,
        // NOT the first-trigger snapshot: a commit landing between
        // attach and the first trigger may carry an out-of-order LSN
        // BELOW the frozen cut, and cutting the newer snapshot would
        // drop it from every window forever. Pinning the attach version
        // delivers it as a commit-version arrival instead.
        val pin = attachVersion.filter(_ < snap.version).map { av =>
          try table.snapshotAt(av)
          catch {
            // ONLY a missing snapshot means vacuumed — rewording a
            // transient read error with discard-the-checkpoint advice
            // would talk an operator into abandoning the frozen cut (and
            // the gap it protects) over a blip a retry survives
            case e: Exception
                if Iterator.iterate(e: Throwable)(_.getCause)
                  .takeWhile(_ != null).take(16)
                  .exists(_.isInstanceOf[java.io.FileNotFoundException]) =>
              throw new IllegalStateException(
                s"the attach snapshot v$av frozen for startingLsn has " +
                  "been vacuumed before batch 0 sealed; keep " +
                  "vacuumKeepSnapshots above the bootstrap window, or " +
                  "start a NEW checkpoint (a fresh metadata dir " +
                  "re-freezes the cut at the live snapshot)", e)
          }
        }.getOrElse(snap)
        val high = table.highLsn(pin) // manifest stats only — no job
        val from = startingLsn.getOrElse(-1L)
        if (high <= from)
          // nothing beyond the attach cut: seal the snapshot so the
          // checkpoint RECORDS the starting point — otherwise a restart
          // re-resolves "latest" and silently skips the gap
          return GraftOffset(pin.version, GraftOffset.VersionComplete)
        val cut = maxLsnsPerTrigger.fold(high)(m => math.min(high, from + m))
        if (cut >= high) GraftOffset(pin.version, GraftOffset.VersionComplete)
        else GraftOffset(pin.version, cut)
      case Some(s) if !s.versionComplete =>
        // catch-up pinned to s.version (also: checkpoints written by the
        // LSN-cut era of this source resume here and seal losslessly)
        val pin = if (snap.version == s.version) snap
          else table.snapshotAt(s.version)
        val high = table.highLsn(pin)
        val cut = maxLsnsPerTrigger.fold(high)(m => math.min(high, s.lsn + m))
        if (cut >= high) GraftOffset(s.version, GraftOffset.VersionComplete)
        else GraftOffset(s.version, cut)
      case Some(s) =>
        // steady state: commit-version arrival windows
        if (snap.version <= s.version) return start
        GraftOffset(nextWindowEnd(snap, s.version),
          GraftOffset.VersionComplete)
    }
  }

  /** End version of the next arrival window after `sinceV` against the
    * target snapshot. Splits BEFORE the first compaction fold deeper
    * than `sinceV + 1` — the next window then starts exactly at the
    * fold's parent version, where [[LakeTable.arrivalFiles]] proves the
    * fold redundant and skips it (compaction never re-delivers the
    * table). Under `maxRowsPerTrigger`, additionally caps the window by
    * cumulative arrival-file rows at version granularity — always at
    * least one version of progress, so rate-limited drains terminate.
    * With no arrival files in range (metadata-only commits) the window
    * runs to the target version: one empty batch, then quiescence. */
  private def nextWindowEnd(snap: Snapshot, sinceV: Long): Long = {
    val files = table.arrivalFiles(snap, sinceV)
    var endV = snap.version
    files.filter(f => f.fold && f.addedV > sinceV + 1).map(_.addedV)
      .reduceOption(_ min _).foreach(fv => endV = math.min(endV, fv - 1))
    maxRowsPerTrigger.foreach { cap =>
      val perV = files.filter(_.addedV <= endV)
        .groupBy(_.addedV).view.mapValues(_.map(_.rows).sum)
        .toSeq.sortBy(_._1)
      var last = -1L; var tot = 0L; var stopped = false
      perV.foreach { case (v, r) =>
        if (!stopped) {
          if (last < 0 || tot + r <= cap) { tot += r; last = v }
          else stopped = true
        }
      }
      if (stopped) endV = math.min(endV, last)
    }
    math.max(endV, sinceV + 1)
  }

  /** Legacy DSv1 negotiation — kept correct for direct users of the
    * Source API; the engine itself routes through [[latestOffset]]. The
    * start handed to [[latestOffset]] is the cached last end offset
    * VERBATIM, so a quiescent table (including metadata-only version
    * bumps) re-serves identical json and triggers nothing. */
  override def getOffset: Option[V1Offset] = {
    val o = Option(latestOffset(lastKnown.orNull, getDefaultReadLimit))
      .map(GraftOffset.parse)
    lastKnown = o.orElse(lastKnown)
    o
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val endO = GraftOffset.parse(end)
    if (lastKnown.forall(o => GraftOffset.isBeyond(endO, o)))
      lastKnown = Some(endO)
    GraftStreamShim.asStreamingBatch(
      batchPlan(start.map(GraftOffset.parse), endO))
  }

  /** The plain (non-streaming-flagged) plan behind [[getBatch]] — split
    * out so tests can execute a range directly. */
  private[streaming] def batchPlan(startO: Option[GraftOffset],
      endO: GraftOffset): DataFrame = {
    // ONE snapshot resolution per batch: readSinceSnap/arrivalsSinceSnap
    // reuse it — the asOf overloads would each re-read the version JSON
    // and re-fold the manifests on the per-trigger hot path
    val snap = table.snapshotAt(endO.version)
    val changes =
      if (!endO.versionComplete) {
        // catch-up form: the pinned snapshot's winners in (from, end.lsn]
        // — the LSN filter is the rate-limit cut (a key whose winner lies
        // beyond it is deferred to the batch that covers the winner)
        val from = startO.map(_.lsn).orElse(startingLsn).getOrElse(-1L)
        table.readSinceSnap(from, snap)
          .filter(col("__lsn") <= endO.lsn)
      } else startO match {
        case None =>
          // bootstrap sealed in one window: winners at the snapshot
          table.readSinceSnap(startingLsn.getOrElse(-1L), snap)
        case Some(s) if !s.versionComplete =>
          // seal transition: finish the pinned snapshot past the last
          // LSN cut, plus every arrival in commits after it (aligned to
          // the arrival side's schema — evolution inside the window
          // null-fills/upcasts the older half)
          val arr = table.arrivalsSinceSnap(s.version, snap)
          LakeTable.align(
              table.readSince(s.lsn, asOf = Some(s.version)), arr.schema)
            .unionByName(arr)
        case Some(s) =>
          // steady state: the commit-version arrival window — raw
          // arrivals (several rows per key possible; the merge sink's
          // within-batch LWW resolves), tombstones included
          table.arrivalsSinceSnap(s.version, snap)
      }
    val out = changes
      .withColumnRenamed("__lsn", "lsn")
      .withColumnRenamed("__op", "op")
    alignToStart(out, snap)
  }

  /** Project a pinned-snapshot batch into the stream's declared schema.
    *
    * A restart replays the last committed range against its OLD end
    * snapshot while the stream has already adopted the table's current
    * schema — that older schema is by construction an ancestor of the
    * declared one (evolution only adds and widens), so the batch aligns
    * losslessly: missing columns null-fill, narrower types upcast. The
    * reverse direction — the end snapshot evolved BEYOND the declared
    * schema, i.e. the table changed under a running stream — cannot be
    * delivered without dropping or down-casting columns, so it fails
    * fast and a restart adopts the new schema. */
  private def alignToStart(changes: DataFrame, snap: Snapshot): DataFrame = {
    val have = snap.userSchema
    val ancestor = have == startSchema || have.fields.forall(f =>
      startSchema.fields.find(_.name == f.name).exists(g =>
        LakeTable.canWiden(f.dataType, g.dataType)))
    if (!ancestor)
      throw new IllegalStateException(
        s"table $tableDir schema evolved under a running stream " +
          s"(started with ${startSchema.simpleString}, pinned snapshot " +
          s"has ${have.simpleString}); restart the stream to adopt it")
    // the projection itself is the table's standard align (null-fill +
    // upcast + order); the ancestor check above is what makes it lossless
    LakeTable.align(changes, schema)
  }

  override def stop(): Unit = ()

  override def toString: String = s"LakeTableSource[$tableDir]"
}

/** `df.writeStream.format("graft-table").option("path", dir).start()` —
  * the sink half: every micro-batch lands through the engine's
  * epoch-guarded MERGE, exactly like [[graft.cdc.CdcPipeline]]'s
  * foreachBatch but without writing one. Spark's micro-batch id is the
  * epoch id, so checkpoint redelivery is a no-op — exactly-once end to
  * end; chaining a `graft-table` source into a `graft-table` sink is
  * complete table-to-table replication in one `readStream → writeStream`
  * line.
  * The batch must carry the change envelope (`lsn`, `op`, key/payload
  * columns) — which is exactly what the source emits. */
class LakeTableSink(sqlContext: SQLContext, tableDir: String,
    cfg: graft.cdc.MergeConfig)
    extends org.apache.spark.sql.execution.streaming.Sink {

  private val table = LakeTable.load(sqlContext.sparkSession, tableDir)

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the engine hands a streaming-flagged frame; merge runs batch-only
    // operations (observe) on it — re-plan as a plain batch first
    graft.cdc.MergeApply.merge(table, GraftStreamShim.asPlainBatch(data),
      batchId, cfg)
    ()
  }

  override def toString: String = s"LakeTableSink[$tableDir]"
}

/** Registers short name `graft-table` (META-INF/services). Serves all
  * four surfaces of the format: streaming source (CDF tail), streaming
  * sink (a merge per micro-batch), batch read
  * ([[graft.lake.GraftBatchRelation]] — pruned/pushed-down state reads,
  * time travel, metadata tables) and batch write
  * ([[graft.lake.GraftBatchWrite]]). */
class LakeTableSourceProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider with DataSourceRegister
    with org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider {

  override def shortName(): String = "graft-table"

  private def dir(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      """graft-table requires .option("path", <table dir>)"""))

  /** Batch read: `spark.read.format("graft-table").load(dir)`, with
    * `.option("at", versionOrTag)` time travel and
    * `.option("meta", lineage|files|tags)` metadata tables. Also the
    * relation behind `CREATE TEMPORARY VIEW … USING graft-table`. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation = {
    val d = dir(parameters)
    val t = LakeTable.load(sqlContext.sparkSession, d)
    require(t.exists,
      s"no lake table at $d — create it first (LakeTable.createTable " +
        "or a batch write)")
    val exclusive = Seq("meta", "sinceLsn", "changesFrom")
      .count(parameters.contains)
    require(exclusive <= 1,
      "meta, sinceLsn, and changesFrom are mutually exclusive read modes")
    require(parameters.contains("changesFrom") ||
      !parameters.contains("changesTo"),
      """.option("changesTo", …) needs .option("changesFrom", <ref>)""")
    require(!(parameters.contains("changesTo") && parameters.contains("at")),
      "changesTo and at both name the window's end — pass one " +
        "(silently preferring one would misreport the window)")
    if (parameters.contains("meta"))
      new graft.lake.GraftMetaRelation(sqlContext, d,
        parameters("meta"), parameters.get("at"))
    else if (parameters.contains("sinceLsn"))
      new graft.lake.GraftFrameRelation(sqlContext,
        t.readSince(parameters("sinceLsn").toLong,
          parameters.get("at").map(t.resolveRef)))
    else if (parameters.contains("changesFrom"))
      // refs resolve versions AND tags: changesFrom=release-1 is "what
      // changed since that release"; changesTo (or at) names the
      // window's end, else the current version
      new graft.lake.GraftFrameRelation(sqlContext,
        t.changeFeed(t.resolveRef(parameters("changesFrom")),
          parameters.get("changesTo").orElse(parameters.get("at"))
            .map(t.resolveRef)))
    else
      new graft.lake.GraftBatchRelation(sqlContext, d,
        parameters.get("at"), parameters)
  }

  /** Batch write: `df.write.format("graft-table").mode(…).save(dir)` —
    * see [[graft.lake.GraftBatchWrite]] for envelope vs plain-row
    * semantics and the txnAppId/batchId idempotence contract. */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode, parameters: Map[String, String],
      data: DataFrame): org.apache.spark.sql.sources.BaseRelation =
    graft.lake.GraftBatchWrite.write(sqlContext, mode, parameters, data)

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft-table manages its own bucket layout; partitionBy is not supported")
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Complete(),
      "graft-table is an incremental upsert sink; Complete mode is not supported")
    val d = dir(parameters)
    require(LakeTable.load(sqlContext.sparkSession, d).exists,
      s"no lake table at $d — create it first (LakeTable.createTable)")
    // writer identity for app-scoped idempotence (Delta's txnAppId): the
    // sink's batch ids start at 0 per checkpoint, so they must live in
    // their own txn slot — in the GLOBAL epoch space they would collide
    // with epochs other writers already committed (a seeded or
    // previously-followed destination) and SILENTLY no-op every batch.
    // That failure mode is why a missing identity is a hard error, not a
    // fallback: the checkpoint location canonicalized through its
    // filesystem ('ckpt' / '/abs/ckpt' / 'file:/abs/ckpt' agree) is the
    // stream's stable identity; txnAppId overrides it; and a table this
    // stream EXCLUSIVELY owns may opt into the global space explicitly
    // with globalEpochSpace=true — a dedicated boolean, NOT a sentinel
    // value inside the txnAppId namespace, where a user innocently
    // naming their app "global" would lose the slot. (A session-conf
    // checkpoint resolves after createSink and is invisible here — pass
    // it as a writer option.)
    // FOOTGUN (same as Delta's documented txnAppId contract): the slot
    // outlives the checkpoint — deleting the checkpoint to force a
    // re-sync restarts batch ids at 0 under the SAME identity, and the
    // old slot no-ops them. Pass a NEW txnAppId after deleting a
    // checkpoint.
    val txnApp =
      if (parameters.get("globalEpochSpace").exists(_.toBoolean)) None
      else Some(parameters.get("txnAppId")
        .orElse(parameters.get("checkpointLocation").map { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          val fs = hp.getFileSystem(
            sqlContext.sparkSession.sessionState.newHadoopConf())
          "ckpt:" + fs.makeQualified(hp).toString
        })
        .getOrElse(throw new IllegalArgumentException(
          "graft-table sink needs a writer identity: pass " +
            "checkpointLocation as a WRITER option (a session-conf " +
            "checkpoint is invisible here), or set .option(\"txnAppId\", " +
            "<stable id>); a table this stream exclusively owns may opt " +
            "into the global epoch space with " +
            ".option(\"globalEpochSpace\", \"true\")")))
    // poison-event policy (MergeConfig.invalidRows): a long-running tail
    // usually wants "quarantine" — one malformed event must not kill the
    // stream — while the default "fail" keeps the strict posture
    val invalid = parameters.getOrElse("invalidRows", "fail")
    require(Set("fail", "quarantine", "off").contains(invalid),
      s"invalidRows must be fail, quarantine, or off, got '$invalid'")
    new LakeTableSink(sqlContext, d,
      graft.cdc.MergeConfig(txnApp = txnApp, invalidRows = invalid))
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty, "graft-table derives its schema from the table")
    val t = LakeTable.load(sqlContext.sparkSession, dir(parameters))
    // same fail-fast as the sink: a typo'd path would otherwise die in
    // the snapshot read with a bare FileNotFoundException — after
    // resolveOnce may already have frozen stream metadata
    require(t.exists, s"no lake table at ${dir(parameters)} — create it " +
      "first (LakeTable.createTable)")
    (shortName(), LakeTableSourceProvider.changeSchema(t.snapshot.userSchema))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    require(LakeTable.load(sqlContext.sparkSession, dir(parameters)).exists,
      s"no lake table at ${dir(parameters)} — create it first " +
        "(LakeTable.createTable)")
    val limit = parameters.get("maxLsnsPerTrigger").map(_.toLong)
    require(limit.forall(_ > 0), "maxLsnsPerTrigger must be positive")
    val rowLimit = parameters.get("maxRowsPerTrigger").map(_.toLong)
    require(rowLimit.forall(_ > 0), "maxRowsPerTrigger must be positive")
    // startingLsn: first batch of a FRESH checkpoint starts after this
    // cut instead of bootstrapping the full table; "latest" = tail only
    // changes committed from now on. The resolved value is PERSISTED in
    // the stream's metadata directory: batch 0's start offset is always
    // None in the checkpoint, so replay determinism requires the same
    // resolved cut on every restart — re-resolving "latest" against the
    // live table would silently skip everything committed while batch 0
    // sat unfinished in the offset log.
    // the attach VERSION is frozen WITH the cut, from ONE snapshot read,
    // in ONE record: the cut applies only to the attach-time snapshot,
    // so bootstrap must pin that snapshot — cutting whatever snapshot
    // the first trigger happens to see would permanently lose a low-LSN
    // out-of-order arrival committed between attach and trigger one.
    // Resolving cut and version from two separate snapshot reads (or two
    // separate arbiter files) re-opens the same hole one level down: a
    // commit landing between the reads has version <= attachV but LSNs
    // <= cut — inside the pinned snapshot yet filtered from bootstrap,
    // and in no later window; a crash between two file writes would
    // re-resolve the second value against the live table. "cut:version"
    // in a single atomically-published file closes both.
    val (startLsn, attachV): (Option[Long], Option[Long]) =
      parameters.get("startingLsn") match {
        case None => (None, None)
        case Some("latest") =>
          val rec = resolveOnce(sqlContext, metadataPath,
            "graft-starting-lsn") {
              val t = LakeTable.load(sqlContext.sparkSession, dir(parameters))
              val snap = t.snapshot // ONE read feeds both fields
              s"${t.highLsn(snap)}:${snap.version}"
            }
          rec.split(':') match {
            case Array(l, v) => (Some(l.toLong), Some(v.toLong))
            case _ => throw new IllegalStateException(
              s"$metadataPath/graft-starting-lsn holds '$rec', not a " +
                "'cut:version' record — restart the stream from a fresh " +
                "checkpoint")
          }
        case Some(n) =>
          // numeric cut: the value is the user's, only the version needs
          // freezing (any pre-attach commit below a user-chosen cut is
          // excluded BY that choice, not by a resolution race)
          val v = resolveOnce(sqlContext, metadataPath,
            "graft-attach-version") {
              LakeTable.load(sqlContext.sparkSession, dir(parameters))
                .snapshot.version.toString
            }
          (Some(n.toLong), Some(v.toLong))
      }
    new LakeTableSource(sqlContext, dir(parameters), limit, startLsn,
      rowLimit, attachV)
  }

  /** Resolve a per-stream record exactly once: first call writes `live`
    * under the stream's metadata path (create-if-absent = the arbiter);
    * every later call — including after a restart — reads that value
    * back. Used to freeze the `startingLsn=latest` cut + attach version
    * (one combined record — atomicity matters, see createSource).
    * Direct Source-API users with no metadata path get a live resolve
    * (single-instance use). */
  private def resolveOnce(sqlContext: SQLContext, metadataPath: String,
      name: String)(live: => String): String = {
    if (metadataPath == null || metadataPath.isEmpty) return live
    val p = new org.apache.hadoop.fs.Path(metadataPath, name)
    val fs = p.getFileSystem(
      sqlContext.sparkSession.sessionState.newHadoopConf())
    def read(): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    if (fs.exists(p)) return read()
    val v = live
    // atomic publish, two phases: (1) the value lands COMPLETE in a temp
    // file — a create-then-write under the final name could be killed
    // mid-write and leave a torn file that wedges every restart; (2) the
    // temp enters under the final name through an arbiter that REFUSES
    // an existing destination — local rename(2) silently replaces, so on
    // the local fs the arbiter is an atomic hard link (EEXIST = lost the
    // race); HDFS-like stores get rename, which fails on an existing
    // destination there. Either way the loser defers to the winner's
    // complete value, and the temp is reclaimed on every exit path.
    val tmp = new org.apache.hadoop.fs.Path(metadataPath,
      s"$name.tmp-${java.util.UUID.randomUUID()}")
    fs.mkdirs(p.getParent)
    val local = fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    try {
      if (local) {
        val tmpNio = java.nio.file.Paths.get(tmp.toUri.getPath)
        java.nio.file.Files.write(tmpNio, v.getBytes("UTF-8"))
        try { java.nio.file.Files.createLink(
          java.nio.file.Paths.get(p.toUri.getPath), tmpNio); v }
        catch { case _: java.nio.file.FileAlreadyExistsException => read() }
      } else {
        val out = fs.create(tmp, true)
        try out.write(v.getBytes("UTF-8")) finally out.close()
        if (fs.rename(tmp, p)) v else read()
      }
    } finally { try fs.delete(tmp, false) catch { case _: java.io.IOException => () } }
  }
}

object LakeTableSourceProvider {
  /** The change envelope: user columns + (`lsn`, `op`) — the column
    * contract [[graft.cdc.MergeApply.merge]] consumes directly. */
  def changeSchema(user: StructType): StructType =
    StructType(user.fields.toSeq :+
      StructField("lsn", LongType, nullable = false) :+
      StructField("op", StringType, nullable = false))
}
