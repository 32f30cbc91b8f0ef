package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lake.LakeTable

/** One on-disk location still holding rows for purge-verified ids. */
final case class ErasureResidual(
    /** Parquet file (data/ or _rejects/) holding the rows. */
    path: String,
    /** Rows still carrying PAYLOAD (non-null non-key columns, or a
      * non-delete op). */
    payloadRows: Long,
    /** Key-only null-payload tombstone rows — expected until the
      * post-convergence `scrubTombstones` pass. */
    keyOnlyRows: Long,
    /** Snapshot versions whose manifests reference this file (empty =
      * orphan or reject file; vacuum-orphans / the scrub own those). */
    versions: Seq[Long],
    /** Tags pinning any of those versions — these BLOCK vacuum from
      * expiring the file. */
    pinningTags: Seq[String],
    /** Staged write-audit-publish intents referencing this file. */
    stagedIds: Seq[String])

/** Outcome of one [[Purge.verifyErasure]] scan. */
final case class ErasureReport(
    /** Every file holding any trace of the ids, worst first. */
    residuals: Seq[ErasureResidual],
    /** No payload bytes anywhere — erasure complete up to key-only
      * tombstones (the state after purge + vacuum past retention). */
    payloadClean: Boolean,
    /** Not even keys — the state after `scrubTombstones` + vacuum. */
    fullyClean: Boolean)

/** Outcome of one [[Purge.purgeConversations]] call. */
final case class PurgeResult(
    /** Version of the tombstone merge, when live rows existed. */
    tombstoneVersion: Option[Long],
    /** Version of the history-rewrite commit (== the pre-call version
      * when nothing needed rewriting). */
    rewriteVersion: Long,
    /** Live turns tombstoned (phase 1). */
    liveRowsTombstoned: Long,
    /** Buckets whose history was rewritten (phase 2). */
    bucketsRewritten: Seq[Int],
    /** Quarantined `_rejects` rows scrubbed (phase 3). */
    rejectsScrubbed: Long,
    /** Tags pinning PRE-purge versions: `vacuum` spares tagged
      * snapshots, so these keep pre-purge files (and the purged rows in
      * them) alive until the tags are dropped — erasure is not complete
      * while this map is non-empty. */
    blockingTags: Map[String, Long])

/** Conversation purge — right-to-be-forgotten for a transcript table.
  *
  * A CDC table retains every version of every turn (deltas, compacted
  * bases, time travel, dead-lettered rejects); deleting a conversation
  * with an ordinary `D` event removes it from CURRENT state only. A
  * deletion-request pipeline needs genuine erasure, in three phases:
  *
  *  1. '''Tombstone merge''' — one ordinary batch of `D` events (key
  *     columns only, payload null) for the conversations' live turns at
  *     `lsn = highWater + 1` (the [[Revert]] compensation pattern,
  *     `graft-purge` txn slot). Downstream — the streaming source and
  *     its mirrors, change-feed windows — converges through these ordinary
  *     deletes.
  *  2. '''History rewrite''' — a [[MergeApply.compactBuckets]] fold of
  *     exactly the conversations' hash buckets with a purge transform:
  *     every insert/update version of those conversations is dropped
  *     and every `D` row keeps only its key (payload columns nulled).
  *     The surviving null-payload tombstones are WHY incremental
  *     consumers still converge — fold files are the superset
  *     `arrivalsSince` windows absorb, and the tombstone winner rides
  *     along (the Kafka compaction-tombstone analogy: propagating a
  *     delete requires retaining the key). Bucket-pruned: cost is
  *     O(affected buckets), never O(table); commits through the
  *     ordinary conflict-safe protocol.
  *  3. '''Reject scrub''' — quarantined `_rejects` rows for those
  *     conversations are rewritten out (poison events carry payload
  *     text too). Null-keyed rejects are kept — they cannot be
  *     attributed to any conversation.
  *
  * `scrubTombstones = true` is the SECOND pass for full key erasure:
  * it drops even the tombstones from the rewritten buckets. Run it only
  * after every incremental consumer has passed the tombstone version —
  * a consumer syncing across a tombstone-free rewrite never learns of
  * the delete. (Most deployments never need it: a bare
  * `(conv_id, turn_idx)` key is the price every log-compacted CDC
  * system pays to propagate deletes.)
  *
  * What erasure means afterward:
  *  - CURRENT state and all FUTURE snapshots: no payload anywhere; no
  *    key either once tombstones are scrubbed.
  *  - PRE-purge snapshots remain readable (their files are untouched on
  *    disk) until `vacuum` expires them — '''erasure completes at the
  *    next vacuum past retention'''. Run it once downstream consumers
  *    have passed the tombstone version.
  *  - Tags pinning pre-purge versions BLOCK erasure (vacuum spares
  *    tagged snapshots); they are reported in
  *    [[PurgeResult.blockingTags]] rather than silently broken — drop
  *    the tags and vacuum to finish.
  *  - A LATE upstream event for a purged conversation re-inserts it
  *    (the purge is point-in-time; gate the upstream feed too).
  *
  * Refuses while write-audit-publish intents are staged: a parked
  * intent's files are outside the live manifest and could republish
  * purged rows — publish or abort intents first. */
object Purge {

  /** Writer identity for the tombstone merge's app-scoped txn slot. */
  val TxnApp = "graft-purge"

  def purgeConversations(table: LakeTable, convIds: Set[String],
      cfg: MergeConfig = MergeConfig(),
      scrubTombstones: Boolean = false): PurgeResult = {
    require(convIds.nonEmpty, "purge needs at least one conv_id")
    require(convIds.forall(_ != null), "purge ids must be non-null")
    val staged = table.stagedIds
    require(staged.isEmpty,
      s"table has staged write-audit-publish intents (${staged.mkString(", ")})" +
        " — publish or abort them first: a parked intent could republish" +
        " purged rows")
    val matches = col("conv_id").isInCollection(convIds)
    val keyCols = Set("conv_id", "turn_idx", "__lsn", "__op")

    // phase 1: tombstone the live turns (what downstream converges on).
    // Key columns only — the tombstone must not re-carry the payload it
    // is erasing. Retried from a FRESH snapshot until the merge
    // genuinely applies: under the app-scoped `graft-purge` txn slot a
    // stale epochId makes the merge a silent no-op (alreadyCommitted /
    // EpochSuperseded return applied = false), and a purge that
    // "succeeds" without landing its D events would let incremental
    // followers retain the payload forever. A retry recomputes the live
    // set, LSN, and epoch against the new snapshot — if a racing purge
    // already tombstoned the rows, the recomputed live set is empty and
    // this phase correctly reports nothing to do.
    var tombV: Option[Long] = None
    var nTomb = 0L
    var p1Attempt = 0
    var p1Done = false
    while (!p1Done) {
      val snap = table.snapshot
      val buckets = convIds.map(LakeTable.bucketOf(_, snap.nBuckets))
      val live =
        table.readBuckets(buckets, Some(snap.version)).filter(matches)
      val lsn = table.highLsn(snap) + 1
      val ds = live.select(
        lit(lsn).as("lsn") +: lit("D").as("op") +:
          snap.userSchema.fields.toSeq.map { f =>
            if (f.name == "conv_id" || f.name == "turn_idx") col(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }: _*).cache()
      try {
        val n = ds.count()
        if (n == 0) { tombV = None; nTomb = 0L; p1Done = true }
        else
          try {
            val r = MergeApply.merge(table, ds, epochId = snap.version,
              cfg.copy(txnApp = Some(TxnApp)))
            if (r.applied) { tombV = Some(r.version); nTomb = n; p1Done = true }
            else {
              p1Attempt += 1
              if (p1Attempt >= 6)
                throw new IllegalStateException(
                  "purge tombstone merge did not apply after " +
                    s"$p1Attempt attempts (epoch superseded each time) — " +
                    "deletes have NOT landed; retry the purge")
            }
          } catch {
            case e: graft.lake.CommitConflictException =>
              // e.g. a rebucket racing the tombstone merge: recompute
              // buckets + live set from the post-conflict snapshot.
              p1Attempt += 1
              if (p1Attempt >= 6) throw e
          }
      } finally { ds.unpersist(): Unit }
    }

    // phase 2: rewrite the conversations' buckets. Default: drop every
    // insert/update version, redact D rows to key-only (consumers still
    // converge through the tombstone winner). scrubTombstones: drop
    // every trace (the post-convergence second pass).
    val purgeTransform: DataFrame => DataFrame =
      if (scrubTombstones) df => df.filter(!coalesce(matches, lit(false)))
      else df => {
        val kept =
          df.filter(!coalesce(matches, lit(false)) || col("__op") === "D")
        kept.select(kept.schema.fields.toSeq.map { f =>
          if (keyCols(f.name)) col(f.name)
          else when(coalesce(matches, lit(false)),
            lit(null).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        }: _*)
      }
    // a concurrent ingest into an affected bucket conflicts the fold
    // (correctly — the rewrite would lose its rows); a purge racing a
    // live feed retries from a fresh snapshot rather than failing the
    // deletion request. Each attempt recomputes everything it folds, so
    // convergence only needs the feed to pause for one attempt window.
    var after = table.snapshot
    var rewritten = Set.empty[Int]
    var attempt = 0
    var done = false
    while (!done) {
      val snap = table.snapshot
      val buckets = convIds.map(LakeTable.bucketOf(_, snap.nBuckets))
      val touched = snap.files.map(_.bucket).toSet.intersect(buckets)
      if (touched.isEmpty) { after = snap; done = true }
      else
        try {
          after = MergeApply.compactBuckets(table, touched, cfg,
            at = Some(snap), purgeRewrite = Some(purgeTransform))
          rewritten = touched
          done = true
        } catch {
          case e: graft.lake.CommitConflictException =>
            attempt += 1
            if (attempt >= 6) throw e
        }
    }

    // phase 3: scrub the dead-letter directory
    val scrubbed = scrubRejects(table, convIds)

    PurgeResult(tombV, after.version, nTomb,
      rewritten.toSeq.sorted, scrubbed,
      table.tags.filter { case (_, v) => v < after.version })
  }

  /** Erasure verification — the evidence pass behind the purge's
    * "erasure completes at the next vacuum past retention" claim. Scans
    * EVERY parquet file under the table — data files referenced by any
    * existing snapshot, crash orphans no snapshot sees, staged
    * write-audit-publish files, and the `_rejects` dead-letter tree —
    * for rows whose `conv_id` is in `convIds`, and attributes each hit
    * file to the snapshot versions that reference it, the tags pinning
    * those versions (vacuum blockers), and any staged intents.
    *
    * Scale shape: ONE distributed union scan over the hit-candidate
    * files grouped by `input_file_name` — the driver collects one row
    * per file that actually holds residuals, never data. Checkpoint
    * directories and downstream follower tables are caller-owned and out
    * of scope; gate those feeds separately.
    *
    * Interpretation: `payloadClean` after purge + vacuum (key-only
    * tombstones remain — the price of propagating deletes);
    * `fullyClean` after the `scrubTombstones` second pass + vacuum. A
    * non-empty `pinningTags` on a payload residual names exactly which
    * tag to drop to let vacuum finish the job. */
  def verifyErasure(table: LakeTable, convIds: Set[String]): ErasureReport = {
    require(convIds.nonEmpty, "verifyErasure needs at least one conv_id")
    val spark = table.spark
    val conf = spark.sessionState.newHadoopConf()
    val tableRoot = new Path(table.dir)
    val fs = tableRoot.getFileSystem(conf)

    def parquetUnder(p: Path): Seq[String] =
      if (!fs.exists(p)) Nil
      else {
        val it = fs.listFiles(p, true)
        val out = Seq.newBuilder[String]
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile && f.getPath.getName.endsWith(".parquet"))
            out += f.getPath.toUri.getPath
        }
        out.result()
      }

    // file path -> snapshot versions referencing it, across ALL existing
    // snapshot jsons (current, historical, expired-but-present)
    val fileVersions: Map[String, Seq[Long]] = table.versionsOnDisk
      .flatMap(v => table.snapshotAt(v).files
        .map(f => new Path(f.path).toUri.getPath -> v))
      .groupMap(_._1)(_._2)
    val tagsByVersion: Map[Long, Seq[String]] =
      table.tags.toSeq.groupMap(_._2)(_._1)
    val stagedByFile: Map[String, Seq[String]] = table.stagedIds
      .flatMap(id => scala.util.Try(table.stagedIntent(id).files).toOption
        .getOrElse(Nil).map(f => new Path(f.path).toUri.getPath -> id))
      .groupMap(_._1)(_._2)

    val dataFiles = parquetUnder(new Path(tableRoot, "data"))
    val rejectFiles = parquetUnder(new Path(tableRoot, "_rejects"))

    def residualsIn(files: Seq[String], keyed: Boolean): Seq[ErasureResidual] =
      if (files.isEmpty) Nil
      else {
        val df = spark.read.option("mergeSchema", "true")
          .parquet(files: _*)
        if (!df.columns.contains("conv_id")) Nil
        else {
          val payloadCols = df.columns.toSeq
            .filterNot(Set("conv_id", "turn_idx", "__lsn", "__op"))
          // a null `__op` would make the fold null — counted as neither
          // kind, so a file of such rows would read as erased: it counts
          // as payload
          val keyOnly =
            if (!keyed || !df.columns.contains("__op")) lit(false)
            else coalesce(payloadCols.map(col(_).isNull)
              .foldLeft(col("__op") === "D")(_ && _), lit(false))
          df.filter(col("conv_id").isInCollection(convIds))
            .groupBy(input_file_name().as("__file"))
            .agg(
              sum(when(!keyOnly, 1L).otherwise(0L)).as("payload_rows"),
              sum(when(keyOnly, 1L).otherwise(0L)).as("key_rows"))
            .collect().toSeq
            .map { r =>
              val p = new Path(r.getString(0)).toUri.getPath
              val vs = fileVersions.getOrElse(p, Nil)
              ErasureResidual(p, r.getLong(1), r.getLong(2), vs,
                vs.flatMap(tagsByVersion.getOrElse(_, Nil)).distinct,
                stagedByFile.getOrElse(p, Nil))
            }
        }
      }

    val residuals =
      (residualsIn(dataFiles, keyed = true) ++
        residualsIn(rejectFiles, keyed = false))
        .sortBy(r => (-r.payloadRows, -r.keyOnlyRows, r.path))
    ErasureReport(residuals,
      payloadClean = residuals.forall(_.payloadRows == 0),
      fullyClean = residuals.isEmpty)
  }

  /** Temp-sibling prefix for reject-scrub swaps. Dot-prefixed so
    * neither this scanner's `startsWith("epoch=")` nor the rejects CLI
    * ever mistakes an in-flight rewrite for a live epoch dir. */
  private val RejectTmpPrefix = ".purge-tmp-"

  /** Rewrite `_rejects/<app>/epoch=<id>/` dirs dropping rows whose
    * `conv_id` is in the purge set. Null-keyed rows are kept (not
    * attributable). Each dir is rewritten to a dot-prefixed temp
    * sibling then swapped; on entry, interrupted swaps from a prior
    * crash are completed first — a temp dir with no live sibling is a
    * finished rewrite that missed its rename (finish it), one WITH a
    * live sibling is a pre-delete leftover (drop it; the re-run scrubs
    * from the live dir again). */
  private def scrubRejects(table: LakeTable, convIds: Set[String]): Long = {
    val spark = table.spark
    val root = new Path(table.dir, "_rejects")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return 0L
    for {
      app <- fs.listStatus(root).toSeq if app.isDirectory
      tmp <- fs.listStatus(app.getPath).toSeq
      if tmp.isDirectory && tmp.getPath.getName.startsWith(RejectTmpPrefix)
    } {
      val target = new Path(app.getPath,
        tmp.getPath.getName.stripPrefix(RejectTmpPrefix))
      if (fs.exists(target)) fs.delete(tmp.getPath, true)
      else require(fs.rename(tmp.getPath, target),
        s"reject scrub: recovery rename ${tmp.getPath} -> $target failed")
    }
    var scrubbed = 0L
    for {
      app <- fs.listStatus(root).toSeq if app.isDirectory
      ep <- fs.listStatus(app.getPath).toSeq
      if ep.isDirectory && ep.getPath.getName.startsWith("epoch=")
    } {
      val df = spark.read.parquet(ep.getPath.toString)
      if (df.columns.contains("conv_id")) {
        val bad = col("conv_id").isInCollection(convIds)
        val n = df.filter(bad).count()
        if (n > 0) {
          val tmp =
            new Path(app.getPath, RejectTmpPrefix + ep.getPath.getName)
          df.filter(!bad || col("conv_id").isNull)
            .write.mode("overwrite").parquet(tmp.toString)
          fs.delete(ep.getPath, true)
          require(fs.rename(tmp, ep.getPath),
            s"reject scrub: rename $tmp -> ${ep.getPath} failed")
          scrubbed += n
        }
      }
    }
    scrubbed
  }
}
