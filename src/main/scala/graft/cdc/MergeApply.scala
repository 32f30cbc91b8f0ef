package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{BucketLineage, DataFileEntry, LakeTable, LineageEntry, Snapshot}
import graft.model.Schemas

/** Result of one merge attempt. */
final case class MergeResult(
    applied: Boolean,
    version: Long,
    rowsInBatch: Long,
    rowsApplied: Long,
    bucketsTouched: Seq[Int],
    durationMs: Long,
    /** True when the merge was STAGED as a WAP intent
      * ([[MergeConfig.wapId]]) instead of committed: the physical work is
      * done and parked under `_staged/<wapId>.json`; nothing is visible
      * until [[graft.lake.LakeTable.publishStaged]]. `applied` is false —
      * the table did not change. */
    staged: Boolean = false,
    /** Envelope-invalid events diverted to the dead-letter directory by
      * `invalidRows = "quarantine"` (0 otherwise). */
    rejectedEvents: Long = 0L)

/** Thrown (before anything commits) when `invalidRows = "fail"` and the
  * batch carries envelope-invalid change events — see
  * [[MergeConfig.invalidRows]]. */
final class PoisonEventException(val count: Long, val epochId: Long)
  extends RuntimeException(
    s"epoch $epochId carries $count envelope-invalid change event(s) " +
      "(null/uncastable lsn or key, op outside {I,U,D}, or an envelope " +
      "value the target schema cannot cast); nothing was committed — " +
      "fix the feed, or run with MergeConfig(invalidRows = \"quarantine\") " +
      "to dead-letter them")

final case class MergeConfig(
    /** Max rows per base file written by compaction and rebucket. One
      * task writes each bucket, so a skewed (hot-key) bucket is still
      * one task's work, but it lands in several files capped at this
      * many rows (Spark's `maxRecordsPerFile`). */
    maxRowsPerFile: Long = 4L * 1000 * 1000,
    /** Compaction trigger: max files per bucket before that bucket is
      * folded back to base files. */
    maxDeltaFilesPerBucket: Int = 8,
    /** Duplicate-INPUT suppression (the reference's checksum-gated
      * re-runs, reference: engine/wprdc_etl/pipeline/connectors.py:73-93,
      * pipeline.py:338-341): when on, each batch's content fingerprint
      * (count + order-independent row-hash combine over ALL envelope
      * columns) is compared against the previous applied batch's — equal
      * content, even redelivered under a NEW feed file name / epoch id,
      * commits a 0-row skip entry instead of re-applying. Costs one
      * extra aggregate action over the batch per epoch; off by default
      * (the epoch guard already covers same-epoch redelivery — this gate
      * exists for content that re-lands as a new file). */
    inputChecksumGate: Boolean = false,
    /** Writer identity for app-scoped idempotence (Delta's
      * txnAppId/txnVersion). `None` (default): epoch ids live in the
      * table's single global epoch space — right for THE feed that owns
      * the table. `Some(app)`: epoch ids are scoped to this writer in
      * the snapshot's txn map, so an independent writer (a streaming
      * sink attached to a table other jobs already seeded) whose batch
      * ids start at 0 can never collide with the global watermark and
      * silently no-op. */
    txnApp: Option[String] = None,
    /** Poison-event policy for envelope-invalid change events — null/
      * uncastable `lsn`, an op outside {I, U, D}, a null or uncastable
      * key column, or any envelope value the merge's ANSI cast would
      * blow up on (the reference raises on schema-invalid rows:
      * marshmallow validation in engine/wprdc_etl/pipeline/pipeline.py —
      * silently upserting a null-keyed row corrupts the table instead):
      *  - "fail" (default): abort the merge with [[PoisonEventException]]
      *    BEFORE anything commits — loud, like the reference. Nothing
      *    lands; crash-orphaned delta files are reclaimed the standard
      *    way (vacuumOrphans).
      *  - "quarantine": divert invalid events to
      *    `<table>/_rejects/<app>/epoch=<id>/` (parquet, with a
      *    `reject_reason` column; overwrite ⇒ idempotent under replay),
      *    apply the valid remainder, and record `rejectedEvents` in the
      *    commit's lineage row — the dead-letter queue a production tail
      *    runs with, because one poison event must not stall 10^10.
      *  - "off": trust the feed (no validation expressions in the plan).
      * Validation rides the merge's OWN first action as an `observe`
      * metric plus a codegen'd filter — zero extra Spark jobs when the
      * batch is clean; quarantine pays one extra (rare-path) action to
      * write the rejects. */
    invalidRows: String = "fail",
    /** Write-audit-publish (Iceberg WAP): `Some(id)` runs the merge's full
      * physical plan but STAGES the outcome as a durable commit intent
      * (`_staged/<id>.json`) instead of publishing it — the table is
      * unchanged until `table.publishStaged(id)` replays the intent
      * through the ordinary commit protocol (or `abortStaged` discards
      * it). Audit reads: `table.readStaged(id)` / `stagedChanges(id)`.
      * Restaging an id that already has a pending intent adopts the
      * existing intent (idempotent under crash-retry); staged deltas
      * compose with commits that land in between (LWW by LSN). */
    wapId: Option[String] = None)

object MergeConfig {
  /** Refuse an [[MergeConfig.invalidRows]] mode outside fail, quarantine
    * and off — the one check every surface accepting the option runs
    * before any state changes. Returns `mode`. */
  def checkInvalidRows(mode: String): String = {
    require(Set("fail", "quarantine", "off").contains(mode),
      s"invalidRows must be fail, quarantine, or off, got '$mode'")
    mode
  }
}

/** The MERGE kernel (SURVEY.md §4 item 1, §7.1 item 4): applies one
  * micro-batch of change events to a [[LakeTable]] as an idempotent
  * upsert keyed on `(conv_id, turn_idx)`, last-writer-wins by `__lsn`.
  *
  * Replaces the reference's server-side Postgres `datastore_upsert`
  * (reference: engine/wprdc_etl/pipeline/loaders.py:507-533) with a
  * distributed plan of built-in operators:
  *
  *  1. **Merge-on-read**: the batch is shuffled once,
  *     bucket-aligned (`repartition(nBuckets, conv_id)` IS the bucket
  *     function), and written as per-bucket delta files — nothing
  *     existing is read, so an epoch writes O(batch) bytes whatever the
  *     table size (the Hudi MoR / Iceberg v2 shape for update-heavy
  *     CDC). Readers LWW-resolve a bucket's files; buckets
  *     past [[MergeConfig.maxDeltaFilesPerBucket]] are folded back to
  *     base files by one bucket-aligned compaction job. Tombstones (`D`)
  *     are kept, so a late lower-LSN update can never resurrect a
  *     delete.
  *  2. **One write kernel**: every epoch's data files are written by
  *     `mergeAttempt`, behind one validation / observe / schema-probe
  *     sequence. [[merge]] is the upsert; [[replace]] is the same
  *     attempt in its replace mode (LWW-resolved `base` files, every
  *     bucket retired, no compaction sweep). Insert-only loads (the
  *     reference's `method='insert'`, loaders.py:370) are merges: a
  *     merge reads nothing existing either.
  *  3. **One outcome path**: every epoch — applied, zero-output,
  *     checksum-skipped, audit-quarantined — and every compaction or
  *     rebucket records its lineage row and result through [[outcome]],
  *     which commits (or stages, under WAP) under the epoch guard:
  *     redelivered epochs are no-ops (exactly-once on top of
  *     at-least-once).
  */
object MergeApply {

  private val KEY = Schemas.keyCols

  /** The raw value of user column `name` in a frame with columns
    * `present`: the top-level column, else the `extras` entry; each by
    * exact name, else by a name equal ignoring case (the table keeps its
    * spelling, a feed or a written frame its own). Shared
    * by [[normalize]] and validation. */
  private def rawOf(present: Set[String], name: String): Option[Column] =
    if (present.contains(name)) Some(col(name))
    else present.find(_.equalsIgnoreCase(name)) match {
      case Some(variant) => Some(col(variant))
      case None if present.contains("extras") =>
        val extras = col("extras")
        Some(when(map_contains_key(extras, name), element_at(extras, name))
          .otherwise(try_element_at(map_values(map_filter(extras,
            (k, _) => lower(k) === lower(lit(name)))), lit(1))))
      case None => None
    }

  /** Normalize a raw change-event frame to the on-disk layout: user
    * columns + `__lsn` + `__op` (I and U both become upsert `U`). Columns
    * the table gained through schema-registry evolution are not top-level
    * envelope fields — they are projected out of the open `extras` map
    * ([[rawOf]], cast from string to the registered type); a feed without
    * `extras` yields nulls for them. */
  def normalize(batch: DataFrame, userSchema: StructType): DataFrame = {
    val present = batch.columns.toSet
    val cols = userSchema.fields.toSeq.map(f =>
      rawOf(present, f.name).getOrElse(lit(null))
        .cast(f.dataType).as(f.name))
    batch.select(cols ++ Seq(
      col("lsn").cast(LongType).as("__lsn"),
      when(col("op") === "D", lit("D")).otherwise(lit("U")).as("__op")): _*)
  }

  /** Apply the table's opt-in bloom indexing
    * ([[graft.lake.LakeTable.BloomColumnsProp]]) to a FILE-GROUP-REWRITE
    * writer (compaction / rebucket base files — never the per-epoch
    * delta hot path, which must stay lean). Adaptive sizing: parquet
    * builds candidate blooms and keeps the one matching the file's
    * actual NDV, so small buckets don't pay a fixed-size filter.
    * Unknown/dropped column names are ignored (schema evolution may
    * remove a bloomed column; the property need not be re-edited). */
  private def withBloom(
      w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      snap: Snapshot)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    // resolve case-insensitively (Spark SQL's default) but emit the
    // SCHEMA's spelling — the parquet column path is case-sensitive
    val cols = snap.properties
      .get(graft.lake.LakeTable.BloomColumnsProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .flatMap(c => snap.userSchema.fieldNames.find(_.equalsIgnoreCase(c)))
      .distinct
    if (cols.isEmpty) w
    else cols.foldLeft(w.option("parquet.bloom.filter.adaptive.enabled",
      "true"))((w2, c) => w2.option(s"parquet.bloom.filter.enabled#$c", "true"))
  }

  /** Lineage watermark string format. Rendered by `date_format` INSIDE
    * the job — i.e. in the SESSION timezone — so the next epoch's
    * `cast(TimestampType)` (also session-tz) round-trips to the same
    * instant. Collecting a Timestamp and calling `toString` would render
    * in the JVM DEFAULT timezone instead, skewing late-event counts by
    * the zone offset whenever the two differ (and `toString`'s format
    * changes under the java8API flag). Fixed-width microseconds keep the
    * driver-side lexicographic max chronological. */
  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Idempotence guard under either epoch space (see
    * [[MergeConfig.txnApp]]). */
  private def alreadyCommitted(snap: Snapshot, epochId: Long,
      cfg: MergeConfig): Boolean = cfg.txnApp match {
    case Some(app) => snap.txns.get(app).exists(epochId <= _.batch)
    case None => snap.isCommitted(epochId)
  }

  private def elapsedMs(t0: Long): Long = (System.nanoTime() - t0) / 1000000L

  /** What an outcome's lineage row records about its batch beyond the
    * commit's shape: rows, the buckets touched, the LSN range, the
    * event-time watermark (+ its column) and late events, and the
    * per-bucket breakdown. The defaults describe an empty batch. */
  private final case class BatchStats(rows: Long = 0L,
      buckets: Seq[Int] = Nil, maxLsn: Long = -1L, minLsn: Long = -1L,
      maxTs: String = "", late: Long = 0L,
      partitions: Seq[BucketLineage] = Nil, watermarkCol: String = "")

  private def bucketsOf(files: Seq[DataFileEntry]): Seq[Int] =
    files.map(_.bucket).distinct.sorted

  /** The one commit seam every outcome funnels through: publish it, or —
    * under [[MergeConfig.wapId]] — park it as a staged WAP intent.
    * Maintenance commits (`epochId < 0`: compaction, rebucket) carry no
    * epoch and are never staged. Returns the committed snapshot, or None
    * when staged (the table stays at `snap`). */
  private def stageOrCommit(table: LakeTable, snap: Snapshot,
      files: Seq[DataFileEntry], replaced: Set[Int], epochId: Long,
      cfg: MergeConfig, entry: LineageEntry,
      newNBuckets: Option[Int]): Option[Snapshot] = {
    val (eid, txn) =
      if (epochId < 0) (None, None)
      else cfg.txnApp match {
        case Some(app) => (None, Some(app -> epochId))
        case None => (Some(epochId), None)
      }
    cfg.wapId.filter(_ => epochId >= 0) match {
      case Some(id) =>
        table.stageIntent(graft.lake.StagedIntent(id, snap.version,
          snap.nBuckets, files, replaced.toSeq.sorted, eid,
          txn.map(_._1), txn.map(_._2), Some(entry),
          System.currentTimeMillis()))
        None
      case None =>
        Some(table.commit(snap, files, replaced, eid, Some(entry), txn,
          newNBuckets))
    }
  }

  /** The one epoch-outcome path: build the lineage row for `files`
    * (retiring the `replaced` buckets) on top of `snap`, commit or stage
    * it, and return the [[MergeResult]] with the table's snapshot after
    * it: the committed one, or `snap` when staged. `applies = false`
    * records a withheld batch — checksum skip, audit quarantine: its rows
    * count in `rowsInBatch` but none are applied, and the result reports
    * `applied = false` although the epoch id lands. */
  private def outcome(table: LakeTable, snap: Snapshot, epochId: Long,
      cfg: MergeConfig, t0: Long, files: Seq[DataFileEntry] = Nil,
      replaced: Set[Int] = Set.empty, stats: BatchStats = BatchStats(),
      checksum: String = "", rejected: Long = 0L, applies: Boolean = true,
      newNBuckets: Option[Int] = None): (MergeResult, Snapshot) = {
    val applied = if (applies) stats.rows else 0L
    val entry = LineageEntry(epochId, snap.version + 1, stats.rows, applied,
      stats.buckets, files.size,
      snap.files.count(f => !replaced.contains(f.bucket)), stats.maxLsn,
      stats.maxTs, elapsedMs(t0), lateEvents = stats.late,
      rejectedEvents = rejected, minLsn = stats.minLsn,
      partitions = stats.partitions, inputChecksum = checksum,
      watermarkCol = stats.watermarkCol)
    val committed = stageOrCommit(table, snap, files, replaced, epochId,
      cfg, entry, newNBuckets)
    val after = committed.getOrElse(snap)
    (MergeResult(applies && committed.nonEmpty, after.version, stats.rows,
      applied, stats.buckets, elapsedMs(t0), staged = committed.isEmpty,
      rejectedEvents = rejected), after)
  }

  /** The result of an epoch that changed nothing: already committed,
    * superseded by a concurrent writer, or an adopted WAP intent. */
  private def noop(version: Long, t0: Long): MergeResult =
    MergeResult(applied = false, version, 0L, 0L, Nil, elapsedMs(t0))

  /** Audit-gate quarantine ([[PipelineConfig.auditGate]]): the staged
    * intent was aborted, but the epoch id must still land — the
    * committed-epoch watermark stays contiguous — as a withheld 0-row
    * outcome (`rowsInBatch` > 0, `rowsApplied` = 0) that keeps the
    * audit trail. `t0` is the epoch's start. */
  private[cdc] def quarantine(table: LakeTable, epochId: Long,
      cfg: MergeConfig, t0: Long, staged: MergeResult): MergeResult =
    try outcome(table, table.snapshot, epochId, cfg.copy(wapId = None), t0,
      stats = BatchStats(staged.rowsInBatch), rejected = staged.rejectedEvents,
      applies = false)._1
    catch {
      case _: graft.lake.EpochSupersededException =>
        noop(table.snapshot.version, t0)
    }

  /** Read the schema-event probe: (lsn, payload) of every op="S" row the
    * observed action saw. Collecting registry rows on the driver is
    * bounded by design — schema changes are a handful of events in
    * 10^10, the same assumption the fallback's collect makes. */
  private def probeEvents(obs: Option[org.apache.spark.sql.Observation])
      : Seq[(Long, String)] =
    // a zero-row batch runs zero tasks, so the observation resolves to an
    // EMPTY metric map — and an empty batch carries no registry rows
    obs.flatMap(_.get.get("sevents"))
      .map(_.asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
        .toSeq.map(r => (r.getLong(0), r.getString(1))))
      .getOrElse(Nil)

  /** NULL for a well-formed change event, else a short reject-reason
    * code. Covers the event IDENTITY — `lsn` non-null and castable, `op`
    * inside {I, U, D}, every key column present, non-null, and castable —
    * plus castability of every envelope value [[normalize]] will
    * ANSI-cast (raw column or `extras` fallback: [[rawOf]], the
    * resolution normalize uses), so a quarantined feed can never crash
    * the merge plan mid-write. Pure codegen'd expressions; no UDF. */
  private def invalidReasonExpr(batch: DataFrame, userSchema: StructType)
      : Column = {
    val present = batch.columns.toSet
    val keySet = KEY.toSet
    val fieldChecks = userSchema.fields.toSeq.flatMap { f =>
      rawOf(present, f.name).toSeq.flatMap { c =>
        val uncastable = c.isNotNull && c.try_cast(f.dataType).isNull
        if (keySet.contains(f.name))
          Seq(c.isNull -> s"null_key:${f.name}",
            uncastable -> s"bad_cast:${f.name}")
        else Seq(uncastable -> s"bad_cast:${f.name}")
      }
    }
    // a key column absent from BOTH the envelope and extras is null for
    // every row of the batch
    val missingKeys = KEY.filter(rawOf(present, _).isEmpty)
      .map(k => lit(true) -> s"null_key:$k")
    val checks = Seq(
      col("lsn").isNull -> "null_lsn",
      (col("lsn").isNotNull && col("lsn").try_cast(LongType).isNull)
        -> "bad_lsn",
      (col("op").isNull || !col("op").isin("I", "U", "D")) -> "bad_op") ++
      missingKeys ++ fieldChecks
    checks.foldRight(lit(null).cast(StringType)) { case ((p, r), acc) =>
      when(p, lit(r)).otherwise(acc)
    }
  }

  /** Envelope validation ([[MergeConfig.invalidRows]]) of one attempt's
    * data rows `raw`: [[valid]] carries an `observe` metric counting
    * invalid events — it rides the attempt's own first action, no extra
    * Spark job — plus a codegen'd filter dropping them from the plan. */
  private final class Validation(table: LakeTable, snap: Snapshot,
      epochId: Long, cfg: MergeConfig, raw: DataFrame) {
    MergeConfig.checkInvalidRows(cfg.invalidRows)
    private val obs =
      if (cfg.invalidRows == "off") None
      else Some(org.apache.spark.sql.Observation())
    private def bad: Column = invalidReasonExpr(raw, snap.userSchema).isNotNull
    val valid: DataFrame = obs.fold(raw)(o =>
      raw.observe(o, count(when(bad, lit(1))).as("invalid")).filter(!bad))

    /** Resolve the count AFTER the first action wrote `written` (see
      * [[resolveInvalid]]). A zero-output action may have run zero tasks,
      * resolving the observation to an empty map (a local-relation batch
      * even folds its filters at optimization time) — a poison row must
      * not vanish into a 0-row commit, so that case re-counts with a
      * dedicated (tiny) action; the non-empty hot path never does. */
    def rejected(written: Seq[DataFileEntry], zeroOutput: Boolean): Long =
      obs.fold(0L) { o =>
        val n =
          if (zeroOutput) raw.where(bad).count()
          else o.get.get("invalid").flatMap(Option(_))
            .map(_.asInstanceOf[Long]).getOrElse(0L)
        resolveInvalid(table, raw, snap.userSchema, epochId, cfg, n, written)
      }
  }

  /** Delete an aborted attempt's uncommitted output (its `commit-*` dir). */
  private def discard(table: LakeTable, written: Seq[DataFileEntry]): Unit =
    written.headOption.foreach { f =>
      val dir = new Path(f.path).getParent.getParent
      dir.getFileSystem(table.spark.sessionState.newHadoopConf())
        .delete(dir, true)
    }

  /** (lsn, payload) of every schema-registry row (op = "S") in `batch`, by
    * a dedicated action — bounded by design: schema changes are a handful
    * of events in 10^10. */
  private def schemaEventRows(batch: DataFrame): Seq[(Long, String)] =
    batch.filter(col("op") === "S").select(col("lsn"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  /** Act on `n` invalid events AFTER the merge's first action. Clean
    * batch: returns 0. Fail mode: reclaims `written` (uncommitted output
    * files) and throws [[PoisonEventException]] — nothing was committed.
    * Quarantine mode: writes the invalid events with their
    * `reject_reason` to `<table>/_rejects/<app>/epoch=<id>/` — an
    * OVERWRITE per epoch, so a replayed epoch re-quarantines to the
    * identical dead-letter set — and returns the count for the commit's
    * lineage row. */
  private def resolveInvalid(table: LakeTable, rawBatch: DataFrame,
      userSchema: StructType, epochId: Long, cfg: MergeConfig,
      n: Long, written: Seq[DataFileEntry]): Long = {
    if (n == 0L) return 0L
    if (cfg.invalidRows != "quarantine") {
      discard(table, written)
      throw new PoisonEventException(n, epochId)
    }
    // writer identities can be arbitrary strings (the sink derives them
    // from checkpoint URIs — colons, slashes): slug them for the path,
    // keeping distinct identities distinct via a hash suffix
    val app = cfg.txnApp.map { a =>
      val slug = a.replaceAll("[^A-Za-z0-9._-]", "_")
      if (slug == a) a else s"$slug-${Integer.toHexString(a.hashCode)}"
    }.getOrElse("_global")
    val dest = new Path(new Path(table.dir, "_rejects"),
      s"$app/epoch=$epochId")
    rawBatch
      .withColumn("reject_reason", invalidReasonExpr(rawBatch, userSchema))
      .filter(col("reject_reason").isNotNull)
      .write.mode("overwrite").parquet(dest.toString)
    n
  }

  /** Order-independent content fingerprint of a batch: row count + two
    * combines (XOR and exact decimal SUM — the sum breaks XOR's
    * even-multiplicity cancellation, the decimal breaks ANSI long
    * overflow at 10^10 rows) of per-row xxhash64 over every envelope
    * column AND its null flag — Spark's hash functions SKIP null inputs
    * (the seed passes through unchanged), so without the flags two rows
    * differing only by which column holds the null would collide. One
    * aggregate action, map-side partial, no shuffle of payload.
    * Map-typed columns (the v2 `extras`) hash via to_json. */
  private def batchFingerprint(batch: DataFrame): (Long, String) = {
    val cols = batch.schema.fields.toSeq.flatMap { f =>
      val c = f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
      Seq(c, col(f.name).isNull)
    }
    val r = batch.select(xxhash64(cols: _*).as("__h"))
      .agg(count(lit(1)), expr("bit_xor(__h)"),
        sum(col("__h").cast(DecimalType(38, 0)))).head()
    val cnt = r.getLong(0)
    val x = if (r.isNullAt(1)) 0L else r.getLong(1)
    val s = if (r.isNullAt(2)) "0" else r.getDecimal(2).toPlainString
    (cnt, s"$cnt:${java.lang.Long.toHexString(x)}:$s")
  }

  /** Most recent applied-batch fingerprint recorded in the snapshot's
    * inline lineage (compaction and gate-off entries carry ""). */
  private def lastChecksum(snap: Snapshot): Option[String] =
    snap.lineage.reverseIterator.find(_.inputChecksum.nonEmpty)
      .map(_.inputChecksum)

  /** Apply one batch. `batch` must have the change-event envelope columns
    * (`lsn`, `op`, key + payload). Returns a no-op result if `epochId` was
    * already committed (exactly-once guard) — including when a CONCURRENT
    * writer commits it mid-attempt (the commit's rebase path surfaces that
    * as [[graft.lake.EpochSupersededException]]; the loser's unpublished
    * files are vacuumOrphans' to reclaim). */
  def merge(table: LakeTable, batch: DataFrame, epochId: Long,
      cfg: MergeConfig = MergeConfig()): MergeResult =
    runEpoch(table, batch, epochId, cfg, replaceAll = false)

  /** Atomic whole-table overwrite: ONE commit that both retires every
    * bucket and registers the batch's winners (the truncate-then-load
    * two-commit shape publishes an empty table to concurrent readers
    * between the commits, and a crash between them loses the data).
    * The [[merge]] kernel in its replace mode: same envelope, validation,
    * schema-event probe and epoch guard, but the batch is LWW-resolved
    * on its way to the write, so one version per key lands as `base`
    * files (no MoR resolution on read) and no compaction sweep follows.
    * Backs `SaveMode.Overwrite` in [[graft.lake.GraftBatchWrite]]. */
  def replace(table: LakeTable, batch: DataFrame, epochId: Long,
      cfg: MergeConfig = MergeConfig()): MergeResult = {
    require(cfg.wapId.isEmpty,
      "write-audit-publish staging is a merge-path feature: route " +
        "audited loads through merge()")
    runEpoch(table, batch, epochId, cfg, replaceAll = true)
  }

  /** The epoch driver of [[merge]] and [[replace]]: the exactly-once
    * guard, WAP-intent adoption, the input-checksum gate and the
    * conflict-retry loop around one [[mergeGuarded]] attempt. */
  private def runEpoch(table: LakeTable, batch: DataFrame, epochId: Long,
      cfg: MergeConfig, replaceAll: Boolean): MergeResult = {
    val t0 = System.nanoTime()
    var snap = table.snapshot
    if (alreadyCommitted(snap, epochId, cfg)) return noop(snap.version, t0)
    // WAP crash-retry: a pending intent under this wapId IS this merge's
    // outcome (stageIntent is create-if-absent — the physical work
    // already ran). Adopt it instead of re-writing files the intent
    // doesn't reference.
    cfg.wapId.filter(table.stagedIds.contains).foreach { id =>
      val it = table.stagedIntent(id)
      return noop(snap.version, t0).copy(
        rowsInBatch = it.lineage.map(_.rowsInBatch).getOrElse(0L),
        bucketsTouched = bucketsOf(it.files), staged = true)
    }
    // duplicate-INPUT suppression: identical batch content (even under a
    // new epoch id / feed file name) commits a 0-row skip entry — the
    // epoch watermark stays contiguous and the skip is audited in
    // lineage — instead of re-applying (reference checksum gate,
    // connectors.py:73-93, pipeline.py:338-341)
    val (fpRows, fp) =
      if (cfg.inputChecksumGate) batchFingerprint(batch) else (0L, "")
    // an attempt that raced another writer into buckets it retires (a
    // replace retires every bucket), or lost a schema or bucket-layout
    // change, must RECOMPUTE, not rebase — the contents it wrote are
    // stale. Recompute is the whole-operation retry of the Iceberg commit
    // model; each attempt reads a fresh snapshot. Two replace writers in
    // steady contention can invalidate each other indefinitely (a
    // recompute takes about as long as the peer's commit interval), so
    // the retry backs off with jitter to desynchronize them. (Delta
    // appends never take this path — they rebase inside commit.) The
    // checksum-gate skip commit sits INSIDE the loop so a conflict on the
    // 0-row commit retries like every other path instead of escaping to
    // the caller; a retry (and the gate, after its fingerprint action)
    // re-reads the snapshot, so a racer's checksum or epoch commit is
    // honored. A failed attempt's written files are unpublished orphans
    // — vacuumOrphans' job.
    var conflictRetries = 0
    while (true) {
      try {
        if (fp.nonEmpty || conflictRetries > 0) {
          snap = table.snapshot
          if (alreadyCommitted(snap, epochId, cfg))
            return noop(snap.version, t0)
        }
        if (fp.nonEmpty && lastChecksum(snap).contains(fp))
          return outcome(table, snap, epochId, cfg, t0,
            stats = BatchStats(fpRows), checksum = fp, applies = false)._1
        return mergeGuarded(table, snap, batch, epochId, cfg, t0, fp,
          replaceAll)
      } catch {
        case _: graft.lake.EpochSupersededException =>
          return noop(table.snapshot.version, t0)
        case e: graft.lake.CommitConflictException =>
          conflictRetries += 1
          if (conflictRetries > 8) throw e
          Thread.sleep(
            (math.min(400, 25 << (conflictRetries - 1)) * math.random()).toLong)
      }
    }
    sys.error("unreachable")
  }

  /** One attempt against `snap`, the snapshot [[runEpoch]] just guarded
    * the epoch with; only the schema-registry redo re-reads, because its
    * schema commit moved the table. */
  private def mergeGuarded(table: LakeTable, snap: Snapshot, batch: DataFrame,
      epochId: Long, cfg: MergeConfig, t0: Long, checksum: String,
      replaceAll: Boolean): MergeResult = {
    val hasExtras = batch.columns.contains("extras")
    val attempt =
      try mergeAttempt(table, snap, batch, epochId, cfg, t0, probe = hasExtras,
        checksum = checksum, replaceAll = replaceAll)
      catch {
        case e: Throwable
            if hasExtras && scala.util.control.NonFatal(e) &&
              !e.isInstanceOf[graft.lake.CommitConflictException] &&
              !e.isInstanceOf[graft.lake.EpochSupersededException] =>
          // the attempted action itself can FAIL under the pre-evolution
          // schema — e.g. a widen event followed by a value that only
          // fits the widened type blows up the old-type ANSI cast before
          // the probe observation resolves. Fall back to eager detection;
          // a genuine failure (no registry rows) is rethrown. The lake
          // concurrency exceptions are EXCLUDED: they mean the attempt
          // lost a commit race, not that the probe failed — they must
          // reach runEpoch's retry loop, not trigger a duplicate attempt.
          val events = schemaEventRows(batch)
          if (events.isEmpty) throw e
          Left(events)
      }
    attempt match {
      case Right(r) => r
      case Left(events) =>
        // rare path: the probe surfaced schema-registry rows — fold them
        // in LSN order into one idempotent schema commit, then redo the
        // attempt under the new schema. Nothing from the first attempt
        // was committed.
        SchemaRegistry(table, events.sortBy(_._1).map(_._2))
        mergeAttempt(table, table.snapshot, batch, epochId, cfg, t0,
          probe = false, checksum = checksum, replaceAll = replaceAll)
          .getOrElse(throw new IllegalStateException(
            "schema probe fired on the retry attempt"))
    }
  }

  /** An attempt either surfaces schema-registry events — to apply, then
    * redo the attempt under the evolved schema — or finishes. */
  private type AttemptResult = Either[Seq[(Long, String)], MergeResult]

  /** A batch's lineage statistics as aggregate columns: `rows`, the
    * `minLsn`/`maxLsn` range, `maxTs` (rendered in the session zone, see
    * [[TsFmt]]) and — when the table has an event-time column and an
    * earlier epoch left a watermark — `late`, the events below that
    * watermark. Compaction entries (epochId = -1) carry no watermark and
    * are skipped. */
  private def statAggs(snap: Snapshot): Seq[Column] = {
    val tsCol = snap.eventTimeColumn
    val prevWm = snap.lineage.reverseIterator
      .find(e => e.epochId >= 0 && e.watermarkTs.nonEmpty).map(_.watermarkTs)
    Seq(count(lit(1)).as("rows"), max(col("__lsn")).as("maxLsn"),
      min(col("__lsn")).as("minLsn"),
      tsCol.map(c => date_format(max(col(c)), TsFmt))
        .getOrElse(max(lit(null).cast(TimestampType)).cast(StringType))
        .as("maxTs")) ++
      (for { c <- tsCol; w <- prevWm } yield
        count(when(col(c) < lit(w).cast(TimestampType), 1)).as("late"))
  }

  /** A long [[statAggs]] metric; `dflt` when absent or null. */
  private def metric(m: collection.Map[String, Any], k: String,
      dflt: Long): Long =
    m.get(k).flatMap(Option(_)).fold(dflt)(_.asInstanceOf[Long])

  /** One merge attempt: ONE Spark action per epoch — shuffle the batch to
    * bucket layout and write it as per-bucket delta files; nothing
    * existing is read or rewritten. Batch statistics for lineage ride on
    * the same action via `observe` (no separate stats job — per-epoch
    * driver constants were measured to cap local scaling long before CPU
    * did). Buckets whose file count then exceeds the compaction threshold
    * are folded back to base files; the result's duration includes the
    * fold.
    *
    * When `probe` is set the batch MAY contain schema-registry rows
    * (op = "S"): rather than paying a dedicated detection action up front
    * (one extra Spark job per v2 batch, schema events present or not),
    * their (lsn, payload) ride an `Observation` on the write action. A
    * non-empty observation aborts the attempt BEFORE anything commits —
    * the uncommitted delta files are discarded — and returns the events
    * for [[merge]] to apply and retry. Schema events are a handful in
    * 10^10, so the common v2 path pays zero extra actions and the rare
    * path pays one redo.
    *
    * `replaceAll` is [[replace]]'s mode: the batch's exchange is
    * [[LakeTable.lwwResolve]] instead of the plain bucket repartition, so
    * one version per key lands as `base` files; the commit retires every
    * bucket, and no compaction sweep follows (the fresh table holds one
    * file per bucket). */
  private def mergeAttempt(table: LakeTable, snap: Snapshot,
      batch: DataFrame, epochId: Long, cfg: MergeConfig, t0: Long,
      probe: Boolean, checksum: String,
      replaceAll: Boolean): AttemptResult = {
    val hasExtras = batch.columns.contains("extras")
    val (dataBatch, probeObs) =
      if (!hasExtras) (batch, None)
      else if (probe) {
        val obs = org.apache.spark.sql.Observation()
        val observed = batch.observe(obs, collect_list(when(
          col("op") === "S", struct(col("lsn"), col("text")))).as("sevents"))
        (observed.filter(col("op") =!= "S"), Some(obs))
      } else (batch.filter(col("op") =!= "S"), None)
    val validation = new Validation(table, snap, epochId, cfg, dataBatch)
    val obs = org.apache.spark.sql.Observation()
    val aggs = statAggs(snap)
    val observed = normalize(validation.valid, snap.userSchema)
      .withColumn("__bucket", LakeTable.bucketExpr(snap.nBuckets))
      .observe(obs, aggs.head, aggs.tail: _*)
    // merge: no dedup, no sort — a delta file may hold several versions
    // of a key (even intra-batch); the read path LWW-resolves and
    // compaction folds, both by __lsn, so deferring is exactly as correct
    // and the epoch's critical path is scan -> shuffle-to-bucket -> write.
    // Shuffle TARGET: repartition(nBuckets, conv_id) — Spark's hash
    // partitioning computes pmod(murmur3(conv_id), nBuckets), the exact
    // bucket function, so shuffle partition i holds exactly bucket i.
    // The naive repartition(col("__bucket")) re-hashes the 32 bucket
    // VALUES into 32 partitions — balls-in-bins: ~1/e of partitions
    // empty, the largest carrying 3-4 buckets — idling cores in the
    // epoch's dominant stage; identity alignment keeps every write task
    // equally loaded and each task writes exactly one __bucket=N dir.
    val written =
      if (replaceAll)
        writeBuckets(table, table.lwwResolve(observed, snap.nBuckets), snap,
          "base")
      else writeBuckets(table,
        observed.repartition(snap.nBuckets, col("conv_id")), snap, "delta")
    // a replace retires the FULL bucket space, not just buckets with live
    // files at the read snapshot: rebase's conflict signature covers
    // exactly the retired buckets, so a concurrent write into a bucket
    // that was EMPTY here must land in the signature too — otherwise its
    // rows would silently survive the atomic whole-table-replace contract
    // while the same write into a populated bucket gets conflict-retried
    val replaced =
      if (replaceAll) (0 until snap.nBuckets).toSet else Set.empty[Int]

    // Settle what the write observed, before anything commits.
    // Schema-registry rows end the attempt (Left), discarding its
    // uncommitted files.
    val sev = probeEvents(probeObs)
    if (sev.nonEmpty) {
      discard(table, written)
      return Left(sev)
    }
    // So does a zero-output write — a truly empty micro-batch (streaming
    // restarts trigger those for metadata-only offset changes) OR a batch
    // whose rows the S/validation filters all consumed: it may have run
    // zero tasks, resolving both observations to empty maps, so schema
    // events and poison rows are re-checked eagerly before the epoch
    // commits its 0-row entry. A widen event arriving in the same batch
    // as the first value needing it is EXACTLY this shape (the value is
    // invalid pre-widen, so the filter empties the batch). The epoch must
    // still land — the committed-epoch watermark stays CONTIGUOUS (a
    // skipped epoch id would hold it back forever and defeat the bounded
    // recent-set guard).
    if (written.isEmpty) {
      val sevE = if (probeObs.isEmpty) Nil else schemaEventRows(batch)
      if (sevE.nonEmpty) return Left(sevE) // nothing written: no cleanup
      return Right(outcome(table, snap, epochId, cfg, t0, replaced = replaced,
        checksum = checksum,
        rejected = validation.rejected(Nil, zeroOutput = true))._1)
    }
    // Otherwise files exist, so tasks ran and the observations are
    // authoritative: fail mode reclaims the written files and throws,
    // quarantine mode dead-letters the invalid events and the valid
    // remainder applies.
    val rejected = validation.rejected(written, zeroOutput = false)
    val m = obs.get
    // the written files hold exactly this batch (LWW-resolved under
    // replace), so the manifest entries ARE the per-partition applied
    // rows + LSN ranges (footer stats)
    val (res, committed) = outcome(table, snap, epochId, cfg, t0, written,
      replaced, BatchStats(metric(m, "rows", 0L), bucketsOf(written),
        metric(m, "maxLsn", -1L), metric(m, "minLsn", -1L),
        Option(m("maxTs")).fold("")(_.toString), metric(m, "late", 0L),
        partitionsOf(written), snap.eventTimeColumn.getOrElse("")),
      checksum = checksum, rejected = rejected)
    // staged: nothing committed — the staged deltas fold (if over
    // threshold) in the first post-publish epoch's sweep
    if (res.staged || replaceAll) return Right(res)

    // amortized compaction: fold over-threshold buckets back to base,
    // counted on this epoch's committed snapshot (files a concurrent
    // writer lands later count in the next epoch's check)
    val toCompact = committed.files.groupBy(_.bucket).collect {
      case (b, fs) if fs.size > cfg.maxDeltaFilesPerBucket => b
    }.toSet
    val version =
      if (toCompact.isEmpty) committed.version
      // compaction is state-neutral housekeeping: if a concurrent writer
      // lands a delta in a bucket mid-fold, yield — the ingest wins, and
      // the still-over-threshold bucket retriggers next epoch
      else try compactBuckets(table, toCompact, cfg, at = Some(committed))
        .version
      catch {
        case _: graft.lake.CommitConflictException => committed.version
      }
    Right(res.copy(version = version, durationMs = elapsedMs(t0)))
  }

  /** Fold all files of the given buckets back to base files (per-key
    * LWW; tombstones are retained — a tombstone may still out-LSN a late
    * update from a not-yet-seen epoch). Commits its own snapshot (no
    * epoch id: compaction is state-neutral).
    *
    * Plan shape: ONE Spark job however many buckets are selected — scan
    * the selected files, one bucket-aligned exchange and the read path's
    * LWW window ([[LakeTable.lwwResolve]]: shuffle partition i holds
    * exactly bucket i, so a key group never leaves its bucket; the
    * partitions of unselected buckets are empty), then one partitioned
    * write in which each task writes its own `__bucket=N` dir, capped at
    * [[MergeConfig.maxRowsPerFile]] rows per file. Measured against one
    * job per bucket from an 8-wide driver pool (which paid 32 jobs'
    * scheduling and shuffled each bucket twice: its fold's exchange,
    * then a file-count repartition), on a 32-bucket table of 3 MoR
    * epochs (96 delta files) on a 4-core host, `compactBuckets` call
    * time over all buckets: 180k events 1.3-1.7 s against 5.2 s, 1.8M
    * events 4.2 s against 7.8 s (medians of 5); 8M events 18.2 s against
    * 26.0 s at 4 cores and 51.3-59.0 s against 65.7-69.2 s at 1 core
    * (medians of 3; two alternations at 1 core). Scale limit: one task
    * sorts and writes a whole bucket, so the measured range ends at
    * ~250k events per bucket (8M events, 32 buckets); past that, raise
    * the bucket count ([[rebucket]]). A fold of 1 bucket of 32 is slower
    * than the pool's single small job (0.60-0.72 s against 0.44-0.48 s,
    * medians of 5, two alternations): the 31 empty partitions still run
    * write tasks. A failing task fails the one job, so nothing keeps
    * writing after the call throws; the uncommitted dir is an orphan
    * for `vacuumOrphans`. */
  def compactBuckets(table: LakeTable, buckets: Set[Int],
      cfg: MergeConfig = MergeConfig(),
      /** Fold against THIS snapshot instead of re-reading CURRENT —
        * callers that computed `buckets` from a snapshot they already
        * hold pass it here, so the target ids and the folded files come
        * from the same version (a concurrent layout change between the
        * two reads would otherwise apply old-space bucket ids to the new
        * layout; the commit conflict still catches real races). */
      at: Option[Snapshot] = None,
      /** Purge-only knob ([[graft.cdc.Purge]]): a transform applied to
        * the raw envelope rows BEFORE the fold — drop or redact a
        * conversation's history while the bucket rewrites. The caller
        * owns the consumer-visibility contract: fold files are the
        * superset incremental consumers absorb (arrivalFiles includes
        * them), so a state-CHANGING transform must leave behind whatever
        * rows downstream needs to converge (the purge keeps null-payload
        * tombstones). A bucket whose rows all drop retires with no
        * replacement files. */
      purgeRewrite: Option[DataFrame => DataFrame] = None): Snapshot = {
    val t0 = System.nanoTime()
    val snap = at.getOrElse(table.snapshot)
    val picked = snap.files.filter(f => buckets.contains(f.bucket))
    if (picked.isEmpty) return snap
    val raw = table.readFiles(snap, picked)
    val files = foldToBase(table, purgeRewrite.fold(raw)(f => f(raw)), snap,
      snap.nBuckets, cfg, "compact")
      // a bucket whose rows all dropped (purge) retires: no zero-row
      // file is ever registered in its place
      .filter(_.rows > 0)
    outcome(table, snap, -1L, cfg, t0, files, buckets,
      BatchStats(buckets = buckets.toSeq.sorted))._2
  }

  /** Change the table's bucket count — partition-layout evolution, the
    * lever that keeps per-bucket work bounded as a table grows 1000×
    * (Iceberg's partition-spec evolution; a 10^10-row table created with
    * 32 buckets holds ~3·10^8 rows per bucket — every bucket-sized unit
    * of work, compaction, MoR resolve, has outgrown memory
    * and must be re-split). Rewrites the whole table once (the
    * operation's intrinsic cost) into `newN` hash buckets of the SAME
    * key function, folding to per-key winners — tombstones retained, a
    * tombstone may still out-LSN a late arrival — and commits with a
    * RESET manifest and the new bucket count; old snapshots stay
    * readable under their own layout (nBuckets is per-snapshot).
    *
    * Plan shape: the [[compactBuckets]] job over every file, with `newN`
    * partitions. `repartition(newN, conv_id)` is pmod(murmur3(conv_id),
    * newN) — the bucket function of the NEW space for ANY `newN`,
    * integer growth factor or not — so shuffle partition i holds exactly
    * new bucket i and each write task fills one new `__bucket=N` dir.
    *
    * Concurrency: bucket-layout edits are serialized by the commit
    * protocol — a concurrent writer's commit built in the old space
    * fails with [[graft.lake.CommitConflictException]] and must
    * recompute (its bucket ids are stale), and this rebucket likewise
    * conflicts if anything lands under it. Change consumers are
    * unaffected: the new files are pure rewrites (`fold = true`), so a
    * window starting at the rebucket's parent skips them outright and
    * the streaming source's fold-splitting never re-delivers the table.
    */
  def rebucket(table: LakeTable, newN: Int,
      cfg: MergeConfig = MergeConfig()): Snapshot = {
    val t0 = System.nanoTime()
    val snap = table.snapshot
    require(newN > 0, s"bucket count must be positive, got $newN")
    if (newN == snap.nBuckets) return snap
    val files =
      if (snap.files.isEmpty) Seq.empty
      else foldToBase(table, table.readFiles(snap, snap.files), snap, newN,
        cfg, "rebucket")
    outcome(table, snap, -1L, cfg, t0, files,
      snap.files.map(_.bucket).toSet, BatchStats(buckets = bucketsOf(files)),
      newNBuckets = Some(newN))._2
  }

  /** The fold [[compactBuckets]] and [[rebucket]] share, as one Spark
    * job: LWW-resolve `raw` into one partition per bucket of the
    * `nBuckets` layout and write them as base files, stamped `fold`
    * (they carry only old rows, so arrival windows starting at the
    * commit's parent skip them instead of re-upserting whole buckets). */
  private def foldToBase(table: LakeTable, raw: DataFrame, snap: Snapshot,
      nBuckets: Int, cfg: MergeConfig, dirPrefix: String): Seq[DataFileEntry] =
    writeBuckets(table,
      table.lwwResolve(raw, nBuckets)
        .withColumn("__bucket", LakeTable.bucketExpr(nBuckets)),
      snap, "base", dirPrefix, rewriteMaxRows = Some(cfg.maxRowsPerFile))
      .map(_.copy(fold = true))

  /** Write `df` (user cols + __lsn + __op + __bucket) under
    * `data/<dirPrefix>-<v>-<id>/`, one directory per bucket via
    * partitionBy. `df` must arrive ALREADY exchanged bucket-aligned, one
    * bucket per partition, so each task writes one dir:
    * `repartition(nBuckets, conv_id)` — pmod(murmur3(conv_id), nBuckets)
    * IS the bucket function (see mergeAttempt) — or `lwwResolve`'s
    * exchange. The count is explicit, so AQE never coalesces buckets
    * into one task. Returns the manifest entries (rows per file read
    * from parquet footers — metadata only). */
  private def writeBuckets(table: LakeTable, df: DataFrame, snap: Snapshot,
      kind: String, dirPrefix: String = "commit",
      /** `Some(maxRowsPerFile)` marks a file-group rewrite (compaction,
        * rebucket): it applies the table's bloom opt-in and caps each
        * file's rows. The per-epoch merge and replace writes pass None to
        * stay lean. */
      rewriteMaxRows: Option[Long] = None): Seq[DataFileEntry] = {
    val spark = table.spark
    val outDir = s"${table.dir}/data/$dirPrefix-${snap.version + 1}-${java.util.UUID.randomUUID().toString.take(8)}"
    rewriteMaxRows.fold(df.write)(n =>
        withBloom(df.write, snap).option("maxRecordsPerFile", n))
      .partitionBy("__bucket")
      .mode("overwrite")
      .parquet(outDir)
    listDataFiles(spark, outDir, snap.currentSchemaVersion, kind,
      tsCol = snap.eventTimeColumn)
  }

  /** Enumerate part files under a partitionBy(__bucket) output dir and read
    * row counts from parquet footers (no data scan). Footer reads run on a
    * bounded thread pool: a commit can register hundreds of files and a
    * serial driver loop would become the constant term that caps scaling
    * (observed: ~0.3 s/batch serial at 32 buckets). */
  def listDataFiles(spark: SparkSession, outDir: String,
      schemaVersion: Int, kind: String = "base",
      tsCol: Option[String] = None): Seq[DataFileEntry] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(outDir)
    val fs = root.getFileSystem(conf)
    val bucketDirs = fs.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("__bucket="))
    val files = bucketDirs.toSeq.flatMap { bd =>
      val bucket = bd.getPath.getName.stripPrefix("__bucket=").toInt
      fs.listStatus(bd.getPath).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => (f.getPath, bucket))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, files.size)))
    try {
      files.map { case (p, bucket) =>
        pool.submit(new java.util.concurrent.Callable[DataFileEntry] {
          def call(): DataFileEntry = {
            val s = parquetFooterStats(conf, p, tsCol)
            // tsCol rides the entry even when the footer gave no ranges
            // (INT96): it names the column any stats describe AND marks
            // the file's era as covered by the snapshot's event-time
            // high-water mark (see DataFileEntry.tsCol)
            DataFileEntry(p.toString, bucket, s.rows, schemaVersion, kind,
              s.minLsn, s.maxLsn, minTs = s.minTs, maxTs = s.maxTs,
              tsCol = tsCol)
          }
        })
      }.map(_.get())
    } finally pool.shutdown()
  }

  private final case class FooterStats(rows: Long, minLsn: Long,
      maxLsn: Long, minTs: Option[Long], maxTs: Option[Long])

  /** Row count, `__lsn` min/max, and (when `tsCol` names one) event-time
    * min/max from the parquet footer — metadata only, no data scan. The
    * ranges ride the manifest (LSN + event-time file-skipping and the
    * per-partition lineage breakdown); (-1, -1) / None when the footer
    * has no usable stats for a column — notably INT96 timestamps, for
    * which parquet exposes none (graft sessions write
    * TIMESTAMP_MICROS). Event-time stats normalize to UTC epoch micros
    * whatever unit the file was written in. */
  private def parquetFooterStats(conf: org.apache.hadoop.conf.Configuration,
      p: Path, tsCol: Option[String]): FooterStats = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      var minL = Long.MaxValue
      var maxL = Long.MinValue
      var ok = true
      var minT = Long.MaxValue
      var maxT = Long.MinValue
      // a file may hold zero rows of the ts column only if it holds zero
      // blocks; any block missing usable ts stats poisons the whole file
      var tsOk = tsCol.isDefined
      // resolve the unit scale BEFORE touching the stats values: INT96
      // stats (when present at all) are Binary, and the Number cast below
      // must never see them — INT96 carries no timestamp annotation, so
      // it stops here
      def microScale(ann: LogicalTypeAnnotation): Option[Long => Long] =
        ann match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(v => v)
              case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(_ * 1000L)
              case LogicalTypeAnnotation.TimeUnit.NANOS => Some(_ / 1000L)
            }
          case _ => None // INT96 or a non-timestamp physical layout
        }
      r.getFooter.getBlocks.forEach { block =>
        block.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          if (name == "__lsn") {
            val st: org.apache.parquet.column.statistics.Statistics[_] =
              c.getStatistics
            if (st == null || st.isEmpty) ok = false
            else {
              minL = math.min(minL, st.genericGetMin.asInstanceOf[Number].longValue())
              maxL = math.max(maxL, st.genericGetMax.asInstanceOf[Number].longValue())
            }
          } else if (tsCol.contains(name)) {
            val st: org.apache.parquet.column.statistics.Statistics[_] =
              c.getStatistics
            // all-null block (numNulls set, no values): contributes no
            // bounds, and its rows can never pass a ts window filter —
            // skip it rather than poison the whole file's stats. A
            // genuinely stat-less block (isEmpty: nothing recorded at
            // all) still poisons: its values are unknown, and partial
            // bounds would under-cover them (rows silently pruned).
            if (st == null || st.isEmpty) tsOk = false
            else if (!st.hasNonNullValue) ()
            else microScale(c.getPrimitiveType.getLogicalTypeAnnotation) match {
              case Some(scale) =>
                minT = math.min(minT,
                  scale(st.genericGetMin.asInstanceOf[Number].longValue()))
                maxT = math.max(maxT,
                  scale(st.genericGetMax.asInstanceOf[Number].longValue()))
              case None => tsOk = false
            }
          }
        }
      }
      val (lsnLo, lsnHi) =
        if (!ok || minL == Long.MaxValue) (-1L, -1L) else (minL, maxL)
      val (tsLo, tsHi) =
        if (!tsOk || minT == Long.MaxValue) (None, None)
        else (Some(minT), Some(maxT))
      FooterStats(r.getRecordCount, lsnLo, lsnHi, tsLo, tsHi)
    } finally r.close()
  }

  /** Per-partition lineage rows from a commit's manifest entries: rows
    * applied + LSN range per bucket. */
  private def partitionsOf(files: Seq[DataFileEntry]): Seq[BucketLineage] =
    files.groupBy(_.bucket).toSeq.map { case (b, fs) =>
      val mins = fs.map(_.minLsn).filter(_ >= 0)
      BucketLineage(b, fs.map(_.rows).sum,
        if (mins.isEmpty) -1L else mins.min, fs.map(_.maxLsn).max)
    }.sortBy(_.bucket)
}
