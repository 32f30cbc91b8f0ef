package graft.lake

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** A commit lost the optimistic-concurrency race and could NOT be rebased:
  * the buckets it rewrites — or the schema — changed under it. The
  * attempt's data files and manifests are unpublished orphans
  * ([[LakeTable.vacuumOrphans]] reclaims them). The caller must recompute
  * from a fresh snapshot; blind retry of the same write would lose the
  * concurrent writer's rows. */
class CommitConflictException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

/** A commit's epoch id was committed by a concurrent writer while this
  * attempt was in flight — the exactly-once guard extended across WRITERS,
  * not just sequential replays. The losing attempt's output must be
  * discarded (it duplicates the winner's), never retried. */
class EpochSupersededException(msg: String) extends RuntimeException(msg)

/** One data file registered in a snapshot. `bucket` is the hash-bucket of
  * `conv_id` the file belongs to (all rows in the file share it) — the unit
  * of read pruning and compaction. `schemaVersion` names the schema the
  * file was written under (schema evolution never rewrites old files). `kind` is
  * "base" (one version per key within the bucket) or "delta" (a
  * merge-on-read increment: the key's winning version is resolved at read
  * time by LWW over all of the bucket's files, until compaction folds the
  * deltas back into a base file). */
final case class DataFileEntry(
    path: String,
    bucket: Int,
    rows: Long,
    schemaVersion: Int,
    kind: String = "base",
    /** LSN range of the file's rows, pulled from the parquet footer's
      * `__lsn` column statistics at registration (no data scan; -1 when
      * the footer carries no stats). Manifest-level ranges enable LSN
      * predicate file-skipping — the Iceberg column-stats-in-manifest
      * pattern — and feed the per-partition lineage breakdown. */
    minLsn: Long = -1L,
    maxLsn: Long = -1L,
    /** Snapshot version whose commit introduced this file — stamped by
      * `commitOnce` (the only place the final version is known; rebase
      * retries re-stamp). This is the table's ARRIVAL order, the correct
      * cut for incremental change windows: an LSN cut silently loses a
      * key whose winning event arrives out-of-order BELOW an
      * already-consumed LSN high-water mark (the event is in no
      * `__lsn > cut` range), while every arrival is in exactly one
      * commit. -1 only on an entry not yet committed; a manifest entry
      * without a stamp (written before this field existed) fails
      * [[LakeTable.snapshot]] with an `IllegalStateException` — such a
      * table must be recreated. */
    addedV: Long = -1L,
    /** True for PURE rewrites — compaction and rebucket folds, whose rows
      * ALL predate their commit (the fold is state-neutral: it carries no
      * arrivals of its own). An arrival window that starts at
      * the fold's parent version (`sinceV == addedV - 1`) has, by
      * definition, already consumed everything the fold carries, so
      * [[LakeTable.arrivalFiles]] skips exactly that case — the Iceberg
      * "ignore replace snapshots" rule for incremental reads. A fold
      * DEEPER inside a window may carry arrivals folded from commits
      * within the window, so it stays (full-content candidacy). */
    fold: Boolean = false,
    /** Event-time range of the file's rows — UTC epoch MICROS of the
      * table's event-time column (the `watermark.column` property, else a
      * timestamp-typed `ts`), pulled from the parquet footer at
      * registration like [[minLsn]]/[[maxLsn]]. This is the second
      * zone-map: time-window reads ([[LakeTable.incrementalTail]]) skip
      * files from the manifest alone, so a "last 7 days" pull over a
      * table holding years of history reads the tail, not the table.
      * `None` (absent in the JSON) when the footer carries no usable
      * stats — files written before this field existed, or written as
      * INT96 (parquet exposes no INT96 stats; sessions must set
      * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`, which
      * every graft session builder does) — and such files are kept
      * conservatively by every time-pruned read. */
    minTs: Option[Long] = None,
    maxTs: Option[Long] = None,
    /** The column [[minTs]]/[[maxTs]] describe — recorded so the ranges
      * can never be misread after `watermark.column` is repointed
      * ([[LakeTable.setProperty]] / TableMain `set-property`): a reader
      * pruning on a column other than this one treats the file as
      * stats-less (kept conservatively, scanned for the anchor). Set
      * whenever the writing commit tracked an event-time column, even
      * when the footer yielded no ranges (INT96): presence marks the
      * file's batch as covered by the snapshot's
      * [[LakeTable.TsHwmProp]] high-water mark. `None` on pre-zone-map
      * manifests. */
    tsCol: Option[String] = None)

/** A pointer to one immutable manifest file (a JSON list of
  * [[DataFileEntry]]) plus the bucket-replacement it performs. The live
  * file set of a snapshot is the in-order fold of its manifests: each
  * manifest first removes every earlier file in its `replacedBuckets`
  * (`reset` removes everything — a consolidated manifest), then adds its
  * own entries. This is the Iceberg manifest-list shape: a commit WRITES
  * only its delta (one small manifest + a snapshot JSON holding bounded
  * refs), never the whole table manifest — at 100 TB / millions of files
  * the round-1 design of inlining `files` into every snapshot JSON made
  * commit cost O(table); this makes it O(batch) with an amortized
  * consolidation every [[LakeTable.manifestCompactThreshold]] commits.
  * `path` is empty for a pure-replacement commit (e.g. truncate) that adds
  * no files. */
final case class ManifestRef(
    path: String,
    addedFiles: Int,
    replacedBuckets: Seq[Int] = Nil,
    reset: Boolean = false)

/** One writer's app-scoped idempotence slot (see [[Snapshot.txns]]):
  * the last committed batch id and the snapshot version that set it —
  * the version orders slots by recency for retention pruning. */
final case class TxnSlot(batch: Long, v: Long)

/** One partition's (hash-bucket's) share of a commit — rows applied and
  * the source-offset (LSN) range that landed in it. */
final case class BucketLineage(
    bucket: Int,
    rows: Long,
    minLsn: Long,
    maxLsn: Long)

/** Per-commit lineage record (north rule: "per-partition lineage rows —
  * source offset range, rows applied, watermark"). The reference's analog
  * is the per-run status row (reference:
  * engine/wprdc_etl/pipeline/status.py:1-50, scripts.py:56-68). */
final case class LineageEntry(
    epochId: Long,
    version: Long,
    rowsInBatch: Long,
    rowsApplied: Long,
    bucketsTouched: Seq[Int],
    filesRewritten: Int,
    filesCarried: Int,
    maxLsn: Long,
    watermarkTs: String,
    durationMs: Long,
    /** Events in this batch whose `ts` was below the previous commit's
      * watermark — the late-data signal a deployment would alarm on
      * (watermark semantics without discarding: CDC must apply late
      * events; LWW ordering is by LSN, not ts). */
    lateEvents: Long = 0L,
    /** Envelope-invalid events this batch carried that were diverted to
      * the `_rejects` dead-letter directory instead of applied
      * (`MergeConfig.invalidRows = "quarantine"`; always 0 under "fail" —
      * a poison batch never commits — and under "off"). */
    rejectedEvents: Long = 0L,
    /** Low end of the batch's LSN range — with [[maxLsn]] this is the
      * "source offset range" the north rule asks lineage to carry
      * (-1 when not computed, e.g. blind appends / compactions). */
    minLsn: Long = -1L,
    /** Per-partition breakdown: rows applied + LSN range per hash-bucket
      * touched by this commit (empty for metadata-only commits and
      * compactions). The sum of `partitions.rows` equals [[rowsApplied]]
      * and each range nests inside [minLsn, maxLsn]. */
    partitions: Seq[BucketLineage] = Nil,
    /** Content fingerprint of the batch this commit applied ("" when the
      * input-checksum gate is off) — the duplicate-INPUT suppression
      * state (reference: engine/wprdc_etl/pipeline/connectors.py:73-93,
      * pipeline.py:338-341): a batch whose fingerprint equals the most
      * recent one is skipped with a 0-row commit, so identical bytes
      * re-landing under a new feed file name are never re-applied. */
    inputChecksum: String = "",
    /** The event-time column [[watermarkTs]] was computed from ("" when
      * no watermark was computed). Lets [[LakeTable.commit]] advance the
      * table's monotone event-time high-water mark
      * ([[LakeTable.TsHwmProp]]) under the right column without
      * re-deriving it from a possibly-rebased base. */
    watermarkCol: String = "")

/** A durable write-audit-publish commit intent (Iceberg's WAP staged
  * snapshot / cherry-pick workflow): the physical outcome of one merge —
  * data files written, statistics gathered — parked OUTSIDE the version
  * chain as `_staged/<wapId>.json`. Nothing references the files until
  * [[LakeTable.publishStaged]] replays the intent through the ordinary
  * commit protocol (epoch guard, rebase, conflict detection all intact),
  * so auditors can read the staged state ([[LakeTable.readStaged]]) while
  * every other reader and incremental consumer still sees the table
  * without it; [[LakeTable.abortStaged]] discards it. Because the intent
  * sits outside the chain, version-window consumers (change feed, follow,
  * the streaming source) observe a published intent as ONE ordinary
  * commit — no special cases downstream. */
final case class StagedIntent(
    wapId: String,
    /** Version the stage was computed against — the audit read's pin, and
      * the staleness baseline for an intent that replaces buckets. */
    baseVersion: Long,
    /** Bucket layout at stage time: a rebucket between stage and publish
      * invalidates the files' bucket ids (conflict at publish). */
    nBuckets: Int,
    files: Seq[DataFileEntry],
    replacedBuckets: Seq[Int],
    epochId: Option[Long],
    /** App-scoped txn slot (split fields — json4s tuples don't round-trip). */
    txnApp: Option[String] = None,
    txnBatch: Option[Long] = None,
    lineage: Option[LineageEntry] = None,
    createdMs: Long = 0L)

/** An immutable snapshot of the table: schema history, manifest list,
  * committed-epoch watermark (exactly-once guard) and recent lineage.
  * Serialized as `_snapshots/v%012d.json`; `_snapshots/CURRENT` points at
  * the live one. Everything persisted here is BOUNDED — commit cost must
  * stay O(delta) at millions of epochs / millions of files:
  *
  *  - the file manifest lives in side manifest files ([[ManifestRef]]);
  *    the snapshot holds at most [[LakeTable.manifestCompactThreshold]]+1
  *    refs,
  *  - the committed-epoch set is a high-watermark (`epochWatermark`: every
  *    epoch ≤ it is committed) plus a bounded out-of-order overflow
  *    (`recentEpochs`, capped at [[LakeTable.maxRecentEpochs]]),
  *  - the inline lineage log keeps the newest
  *    [[LakeTable.maxLineageInSnapshot]] rows; the `_lineage` mirror table
  *    is the unbounded audit log.
  *
  * `files` is the materialized view of the manifest fold — populated by
  * [[LakeTable.readSnapshot]]/commit for in-memory use, never serialized.
  */
final case class Snapshot(
    version: Long,
    nBuckets: Int,
    currentSchemaVersion: Int,
    // schemaVersion -> StructType.json (user-facing schema; the on-disk
    // files additionally carry __lsn/__op meta columns)
    schemas: Map[String, String],
    // column-level metadata preserved across schema changes — the analog of
    // the reference's "data dictionary" stash/restore
    // (reference: engine/etl_util.py:87-115, 630-664)
    columnDocs: Map[String, String],
    manifests: Seq[ManifestRef],
    // every epochId <= epochWatermark is committed (idempotent-commit
    // guard, mirroring the input-checksum duplicate-run suppression at
    // reference: engine/wprdc_etl/pipeline/pipeline.py:338-341). Streaming
    // epochs are monotone-contiguous, so in steady state recentEpochs is
    // empty and the guard is one long compare.
    epochWatermark: Long,
    // committed epochs above the watermark (out-of-order commits only);
    // bounded: overflowing entries age into the watermark
    recentEpochs: Map[String, Long],
    lineage: Seq[LineageEntry],
    properties: Map[String, String],
    // app-scoped idempotence (Delta's txnAppId/txnVersion): last batch id
    // committed per writer identity, with the snapshot version that set
    // it. The GLOBAL epoch space above guards one feed's replay; this
    // guards INDEPENDENT writers (a streaming sink attached to a table
    // other writers already seeded) whose batch ids start at 0 and would
    // collide with the global watermark. Bounded: commits retain the
    // [[LakeTable.maxTxnSlots]] most recently ACTIVE writers (by the
    // slot's version) — the analog of Delta's txn retention duration. A
    // writer idle past that many newer writers loses replay protection,
    // so the cap sits far above any plausible concurrent-writer count.
    txns: Map[String, TxnSlot] = Map.empty,
    // in-memory manifest fold; NEVER serialized (stripped on write)
    files: Seq[DataFileEntry] = Nil) {

  def userSchema: StructType =
    DataType.fromJson(schemas(currentSchemaVersion.toString)).asInstanceOf[StructType]

  /** The snapshot's event-time column for watermark/zone-map purposes:
    * the registered `watermark.column` property, else a literal `ts`
    * column (the transcript default) — in both cases only when the
    * schema actually has it AS A TIMESTAMP (a string column that
    * happens to be named `ts` would store a lexicographic "watermark"
    * and feed garbage into the next epoch's late-event cast). Shared by
    * the merge's stat registration and the batch relation's time
    * pruning, so the two can never disagree on which column the zone
    * maps describe. */
  def eventTimeColumn: Option[String] = {
    def tsTyped(name: String): Boolean = userSchema.fields
      .exists(f => f.name == name && f.dataType ==
        org.apache.spark.sql.types.TimestampType)
    properties.get(graft.spec.TimeField.WatermarkColumn).filter(tsTyped)
      .orElse(Some("ts").filter(tsTyped))
  }

  def schemaAt(v: Int): StructType =
    DataType.fromJson(schemas(v.toString)).asInstanceOf[StructType]
  def isCommitted(epochId: Long): Boolean =
    epochId <= epochWatermark || recentEpochs.contains(epochId.toString)
  /** Highest committed epoch id (-1 on a fresh table). For a destination
    * fed exclusively by [[graft.cdc.CdcPipeline.followOnce]] — whose epoch
    * ids are source LSN cuts — this is the consumed-LSN high-watermark. */
  def maxCommittedEpoch: Long =
    recentEpochs.keysIterator.foldLeft(epochWatermark)((a, k) =>
      math.max(a, k.toLong))
}

/** A from-scratch snapshot-log lake table (SURVEY.md §7.0/§7.1 item 3):
  * Parquet data files + a JSON snapshot log with atomic commits. This is
  * the Iceberg-shaped core the sandbox forces us to build ourselves (no
  * Iceberg/Delta jar is available offline). Guarantees:
  *
  *   - **Atomic commit**: a snapshot file `vN.json` is created with
  *     overwrite=false (optimistic concurrency: a second writer racing on N
  *     fails), then the `CURRENT` pointer is swapped with an atomic rename.
  *     Readers only ever see a fully-written snapshot.
  *   - **Epoch idempotence**: each commit records its `epochId`; replaying
  *     a committed epoch is a no-op (exactly-once sink on top of
  *     at-least-once delivery). The record is a high-watermark + bounded
  *     recent-set, so the guard does not grow with the epoch count.
  *   - **O(delta) commits**: a commit writes one manifest file listing the
  *     files it adds (plus the buckets it replaces) and a small snapshot
  *     JSON of bounded manifest refs — never the full table manifest.
  *   - **Bucket-granular compaction and pruning**: `conv_id` is
  *     hash-bucketed into `nBuckets`; a merge appends delta files to the
  *     buckets it touches, compaction folds the selected buckets' files
  *     and carries the rest over by reference, and a key read scans only
  *     its bucket. At 100 TB / 4096 buckets a fold of k buckets rewrites
  *     ~k/4096 of the data, not all of it.
  *   - **Schema evolution without rewrite**: add-column and type widening
  *     bump `currentSchemaVersion`; old files keep their version and are
  *     projected (null-fill / upcast) at read time. Column docs survive —
  *     no destructive clear (contrast reference `migrate_schema`,
  *     reference: engine/etl_util.py:630-664).
  *
  * On-disk meta columns: `__lsn` (long, LWW tiebreaker across batches) and
  * `__op` (`U` upsert / `D` tombstone). Tombstones are retained so a
  * late-arriving lower-LSN update cannot resurrect a deleted key; user
  * reads filter them out.
  */
class LakeTable(val spark: SparkSession, val dir: String) {
  import LakeTable._

  private val tablePath = new Path(dir)
  private val snapsPath = new Path(tablePath, "_snapshots")
  private val manifestsPath = new Path(snapsPath, "manifests")
  private val currentPtr = new Path(snapsPath, "CURRENT")
  private def fs: FileSystem =
    tablePath.getFileSystem(spark.sessionState.newHadoopConf())

  /** Versions whose snapshot file ([[LakeTable.versionFile]]) is on
    * disk, ascending — published or not (a crashed commit's orphan
    * counts). */
  private[graft] def versionsOnDisk: Seq[Long] =
    fs.listStatus(snapsPath).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toLong).sorted

  /** Manifest files are immutable once written → cache by path. Bounded:
    * cleared wholesale past 256 entries (old manifests die after
    * consolidation; a long-lived handle would otherwise accumulate). */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[DataFileEntry]]()

  // ----------------------------------------------------------------- state

  def exists: Boolean = fs.exists(currentPtr)

  /** CURRENT is the one MUTABLE file in the layout, so its I/O must be
    * atomic under concurrent writers. On HDFS-like stores rename is an
    * atomic namespace op and this is just `fs`; on the local filesystem
    * Hadoop wraps a ChecksumFileSystem whose rename moves the data file
    * and its `.crc` sidecar as TWO steps — two racing pointer swaps can
    * interleave them and strand a mismatched sidecar (observed as
    * ChecksumException in the multi-writer suite). The raw underlying fs
    * has no sidecar and its rename is POSIX rename(2): atomic. Snapshot
    * and manifest files are immutable create-once, so they stay on the
    * checksummed fs. */
  private def pointerFs: FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  /** Atomically point CURRENT at `name` (a vN.json file name). */
  private def swapPointer(name: String, tag: String): Unit = {
    val pfs = pointerFs
    val tmp = new Path(snapsPath, s".CURRENT.$tag")
    val t = pfs.create(tmp, true)
    try t.write(name.getBytes("UTF-8")) finally t.close()
    if ("file" == currentPtr.toUri.getScheme ||
        pfs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]) {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(snapsPath.toUri.getPath, s".CURRENT.$tag"),
        java.nio.file.Paths.get(snapsPath.toUri.getPath, "CURRENT"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      // FileContext.rename supports atomic overwrite (FileSystem's doesn't)
      val fc = FileContext.getFileContext(tablePath.toUri,
        spark.sessionState.newHadoopConf())
      fc.rename(tmp, currentPtr, Options.Rename.OVERWRITE)
    }
  }

  /** TRUE atomic create-if-absent. On HDFS-like stores `create(p, false)`
    * is an atomic namespace op; Hadoop's LOCAL implementation is
    * exists-then-create — two writers racing the same version file can
    * both pass the check and interleave writes into one corrupted file,
    * each believing it committed (observed as a ChecksumException and a
    * silently lost commit in the multi-writer suite). O_CREAT|O_EXCL via
    * java.nio is the only atomic arbiter the local fs offers. The file is
    * written raw (no .crc sidecar); ChecksumFileSystem reads sidecar-less
    * files unverified, and old checksummed snapshots keep their sidecars. */
  private def createExclusive(p: Path): java.io.OutputStream =
    if (pointerFs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem])
      java.nio.file.Files.newOutputStream(
        java.nio.file.Paths.get(p.toUri.getPath),
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
    else fs.create(p, false)

  def snapshot: Snapshot = {
    val in = pointerFs.open(currentPtr)
    val name = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
    readSnapshot(new Path(snapsPath, name))
  }

  def snapshotAt(version: Long): Snapshot =
    readSnapshot(new Path(snapsPath, versionFile(version)))

  private def readSnapshot(p: Path): Snapshot = {
    // a txn slot missing `batch` or `v` fails extraction: zero-filling it
    // would silently disable the idempotence guard (batch=0 ⇒ nothing
    // ever looks committed)
    implicit val fmt: Formats = DefaultFormats
    val in = fs.open(p)
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val snap =
      try JsonMethods.parse(s).extract[Snapshot]
      catch {
        case e: MappingException => throw new IllegalStateException(
          s"$p is not a format-v2 (manifest-list) snapshot — tables " +
            "written by the pre-manifest layout must be recreated", e)
      }
    snap.copy(files = resolveFiles(snap.manifests))
  }

  /** Fold the manifest list into the live file set (see [[ManifestRef]]). */
  private def resolveFiles(manifests: Seq[ManifestRef]): Seq[DataFileEntry] =
    manifests.foldLeft(Vector.empty[DataFileEntry]) { (acc, m) =>
      val kept =
        if (m.reset) Vector.empty[DataFileEntry]
        else if (m.replacedBuckets.isEmpty) acc
        else {
          val rb = m.replacedBuckets.toSet
          acc.filterNot(f => rb.contains(f.bucket))
        }
      kept ++ readManifest(m.path)
    }

  private def readManifest(path: String): Seq[DataFileEntry] = {
    if (path.isEmpty) return Nil
    val cached = manifestCache.get(path)
    if (cached != null) return cached
    implicit val fmt: Formats = DefaultFormats
    val in = fs.open(new Path(path))
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val entries = JsonMethods.parse(s).extract[Seq[DataFileEntry]]
    // every committed entry carries its arrival stamp; change windows
    // cannot place an unstamped one (written before `addedV` existed)
    if (entries.exists(_.addedV < 0)) throw new IllegalStateException(
      s"manifest $path holds entries without an arrival version " +
        "(addedV), written by a pre-addedV layout — recreate the table")
    if (manifestCache.size > 256) manifestCache.clear()
    manifestCache.put(path, entries)
    entries
  }

  /** Write one immutable manifest file; name carries the committing
    * version + a uuid so racing writers never collide. */
  private def writeManifest(entries: Seq[DataFileEntry], version: Long): String = {
    implicit val fmt: Formats = DefaultFormats
    fs.mkdirs(manifestsPath)
    val p = new Path(manifestsPath,
      f"m-$version%012d-${java.util.UUID.randomUUID().toString.take(8)}.json")
    val out = fs.create(p, false)
    try out.write(Serialization.write(entries).getBytes("UTF-8"))
    finally out.close()
    manifestCache.put(p.toString, entries)
    p.toString
  }

  // --------------------------------------------------------------- create

  /** Create the table (≈ datastore_create,
    * reference: engine/wprdc_etl/pipeline/loaders.py:387-438). */
  def create(schema: StructType, nBuckets: Int,
      columnDocs: Map[String, String] = Map.empty,
      properties: Map[String, String] = Map.empty): LakeTable = {
    require(!exists, s"table already exists at $dir")
    fs.mkdirs(snapsPath)
    fs.mkdirs(new Path(tablePath, "data"))
    val snap = Snapshot(
      version = 0L, nBuckets = nBuckets, currentSchemaVersion = 0,
      schemas = Map("0" -> schema.json), columnDocs = columnDocs,
      manifests = Nil, epochWatermark = -1L, recentEpochs = Map.empty,
      lineage = Nil, properties = properties)
    writeSnapshot(snap)
    this
  }

  // --------------------------------------------------------------- commit

  /** Atomically publish a new snapshot. Fails if `snap.version` was already
    * committed by someone else (optimistic concurrency). The in-memory
    * `files` view is stripped — only the bounded manifest refs persist. */
  private[graft] def writeSnapshot(snap: Snapshot): Unit = {
    implicit val fmt: Formats = DefaultFormats
    val p = new Path(snapsPath, versionFile(snap.version))
    // atomic create-if-absent (the commit race arbiter)
    val out = createExclusive(p)
    try out.write(Serialization.write(snap.copy(files = Nil)).getBytes("UTF-8"))
    finally out.close()
    swapPointer(p.getName, s"tmp.${snap.version}")
  }

  /** Crash recovery: roll the table forward past a commit that died
    * between creating its `vN.json` and swapping `CURRENT` (without
    * this, every later commit would collide with the orphan version
    * forever). A fully-written orphan IS a committed state — its data
    * files and epoch guard landed before the snapshot write, exactly the
    * crash-after-commit-before-ack case the epoch guard already makes
    * safe — so CURRENT advances to the highest parseable version; a
    * TORN orphan (crash mid-JSON-write) was never visible to anyone and
    * is deleted.
    *
    * Deletion is deliberately narrow (recover may run while OTHER writers
    * are live — a mid-publish peer's half-written vN.json looks exactly
    * like a torn orphan): a file is reclaimed only when (a) it fails
    * JSON PARSING specifically — a transient read IOException or the
    * format-v1 IllegalStateException never deletes (those are perfectly
    * good snapshots), and (b) it is older than `graceMs` (modification
    * time, the same age argument [[vacuumOrphans]] makes) — a live
    * writer publishes in far less than the grace window, and its
    * swapPointer would otherwise point CURRENT at a file recover just
    * removed, wedging the table for every reader. Unreadable-but-young
    * files are simply skipped; a later recover (or the commit path's
    * rebase) deals with them once their fate is knowable. Returns the
    * recovered-to version. Idempotent; call on writer startup. */
  def recover(graceMs: Long = 300000L): Long = {
    val cur = snapshot
    val cutoff = System.currentTimeMillis() - graceMs
    val beyond = versionsOnDisk.filter(_ > cur.version)
    var landed = cur.version
    beyond.foreach { v =>
      val p = new Path(snapsPath, versionFile(v))
      try { readSnapshot(p); landed = v }
      catch {
        case e: Exception if LakeTable.isTornJson(e) =>
          // torn write: never published — reclaim, but only past the
          // grace window (a live writer may still be mid-publish)
          val oldEnough =
            try fs.getFileStatus(p).getModificationTime <= cutoff
            catch { case _: java.io.IOException => false }
          if (oldEnough) fs.delete(p, false)
        case _: Exception => () // transient IO / format mismatch: keep
      }
    }
    if (landed > cur.version)
      swapPointer(versionFile(landed), s"rec.$landed")
    landed
  }

  /** Commit a new file manifest delta. `replacedBuckets` files are dropped
    * from the live set (their storage is GC-able, not eagerly deleted — old
    * snapshots remain readable = time travel). Writes O(newFiles): one
    * manifest file + a bounded snapshot JSON; every
    * [[LakeTable.manifestCompactThreshold]] commits the manifest list is
    * consolidated into one (amortized O(liveFiles/threshold) per commit).
    *
    * **Snapshot isolation across writers** (the Iceberg commit model): the
    * version-file create is the race arbiter; on losing it the commit
    * REBASES onto the winner and retries — metadata only, the data files
    * are already on disk and stay valid — unless it genuinely conflicts:
    *  - a bucket this commit REPLACES changed under it (a compaction
    *    fold or a replace built on a stale view)
    *    → [[CommitConflictException]];
    *  - the schema changed under it, or it carries a schema change itself
    *    → [[CommitConflictException]] (schema edits are serialized);
    *  - its `epochId` landed via a concurrent writer
    *    → [[EpochSupersededException]] (exactly-once across writers).
    * Pure additions (MoR delta appends, inserts: `replacedBuckets` empty)
    * therefore always rebase cleanly — concurrent MoR ingest just works,
    * read-time LWW orders the union by LSN. */
  private[graft] def commit(
      base: Snapshot,
      newFiles: Seq[DataFileEntry],
      replacedBuckets: Set[Int],
      epochId: Option[Long],
      lineage: Option[LineageEntry],
      schemaUpdate: Option[(Int, StructType)] = None,
      newColumnDocs: Map[String, String] = Map.empty,
      txn: Option[(String, Long)] = None,
      newNBuckets: Option[Int] = None): Snapshot = {
    var attemptBase = base
    var attempts = 0
    var committed: Snapshot = null
    while (committed == null) {
      try committed = commitOnce(attemptBase, newFiles, replacedBuckets,
        epochId, lineage, schemaUpdate, newColumnDocs, txn, newNBuckets)
      catch {
        case e: java.io.IOException
            if versionTaken(attemptBase.version + 1) =>
          attempts += 1
          if (attempts > maxCommitRetries)
            throw new CommitConflictException(
              s"gave up after $attempts rebase attempts at $dir", e)
          attemptBase = awaitBaseBeyond(attemptBase.version) match {
            case Some(nb) =>
              rebase(attemptBase, nb, replacedBuckets, epochId,
                schemaUpdate, txn, newNBuckets)
            // the blocking version file was a torn crash leftover and was
            // reclaimed: retry on the SAME base — the create-if-absent
            // will now succeed
            case None => attemptBase
          }
      }
    }
    // the lineage mirror is written AFTER the snapshot is published and
    // OUTSIDE the retried region: an IOException here used to re-enter
    // the lost-race retry (versionTaken is true — we created the version
    // ourselves), rebase onto our own commit, and surface as
    // EpochSupersededException — reporting applied=false for a commit
    // that landed while silently swallowing the mirror failure. Out here
    // it propagates as itself (the commit HAS landed; the caller learns
    // the audit row is missing), honoring the mirror's
    // append-only-and-complete contract.
    lineage.foreach(writeLineageMirror(_, committed.version))
    committed
  }

  /** True when `vN.json` already exists — the only way `commitOnce` can
    * fail with the version already on disk is losing the create-if-absent
    * race (or this writer's own torn write, which the rebase path then
    * surfaces as a conflict after its read deadline). */
  private def versionTaken(version: Long): Boolean =
    fs.exists(new Path(snapsPath, versionFile(version)))

  /** Wait for the racing writer's snapshot to become readable (it may
    * still be mid-write when we lose the create race) and return the
    * newest parseable one, `Some(snap)`.
    *
    * A LIVE writer publishes its (small) snapshot JSON within
    * milliseconds of creating the file, so a version file that stays
    * JSON-unparseable through the ENTIRE 10 s window — and predates the
    * window — is a dead writer's torn leftover, not a peer mid-write
    * (the crash-while-recover()'s-grace-window-still-protects-it case:
    * without reclaim here, a long-lived single writer would stall 10 s
    * and fail EVERY commit until its next restart happens to run
    * recover past the grace window). Those are deleted at the deadline
    * and `None` is returned — the caller retries on its own base.
    * The age bar is 30 s BEFORE this wait began: a zombie peer stalled
    * in a long GC pause between createExclusive and its JSON write must
    * not lose its file (deleting it would strand its imminent
    * swapPointer on a missing snapshot) — so the first post-crash
    * commit attempts still fail, and the retry loop's successive waits
    * cross the bar and reclaim within ~40 s of the crash.
    * Readable-but-unadoptable files (transient IO, format mismatch) are
    * never deleted; if nothing is reclaimable at the deadline the
    * conflict propagates as before. */
  private def awaitBaseBeyond(version: Long): Option[Snapshot] = {
    val t0 = System.currentTimeMillis() - 30000L
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (true) {
      val beyond = versionsOnDisk.filter(_ > version).reverse
      var allTornAndOld = beyond.nonEmpty
      beyond.foreach { v =>
        val p = new Path(snapsPath, versionFile(v))
        try return Some(readSnapshot(p))
        catch {
          case e if scala.util.control.NonFatal(e) => // mid-write?
            val tornOld = LakeTable.isTornJson(e) &&
              (try fs.getFileStatus(p).getModificationTime < t0
               catch { case _: java.io.IOException => false })
            if (!tornOld) allTornAndOld = false
        }
      }
      if (System.nanoTime() > deadline) {
        if (allTornAndOld) {
          beyond.foreach(v =>
            fs.delete(new Path(snapsPath, versionFile(v)), false))
          return None
        }
        throw new CommitConflictException(
          s"commit v${version + 1} collided but no newer readable snapshot appeared within 10 s")
      }
      Thread.sleep(5)
    }
    sys.error("unreachable")
  }

  /** Decide whether a commit built on `base` may replay on top of `nb`.
    * Conflict detection is exact, from the two snapshots' materialized
    * file views — no reliance on the (bounded) lineage log. */
  private def rebase(base: Snapshot, nb: Snapshot,
      replacedBuckets: Set[Int], epochId: Option[Long],
      schemaUpdate: Option[(Int, StructType)],
      txn: Option[(String, Long)],
      newNBuckets: Option[Int]): Snapshot = {
    // bucket-layout edits are serialized, both ways: a commit built in
    // the OLD bucket space carries stale bucket ids (even a pure MoR
    // delta append would land files under the wrong layout), and a
    // rebucket built under a concurrent writer would lose its rows
    if (newNBuckets.nonEmpty || nb.nBuckets != base.nBuckets)
      throw new CommitConflictException(
        s"bucket layout changed concurrently (v${base.version} -> " +
          s"v${nb.version}) — bucket-count edits are serialized, " +
          "recompute from current")
    epochId.filter(nb.isCommitted).foreach { e =>
      throw new EpochSupersededException(
        s"epoch $e was committed by a concurrent writer (table now at v${nb.version})")
    }
    txn.filter { case (app, b) => nb.txns.get(app).exists(b <= _.batch) }
      .foreach { case (app, b) =>
        throw new EpochSupersededException(
          s"txn ($app, $b) was committed by a concurrent writer (table now at v${nb.version})")
      }
    if (schemaUpdate.nonEmpty || nb.currentSchemaVersion != base.currentSchemaVersion)
      throw new CommitConflictException(
        s"schema changed concurrently (v${base.version} -> v${nb.version}) — schema edits are serialized, recompute from current")
    if (replacedBuckets.nonEmpty) {
      def sig(s: Snapshot) = s.files.iterator
        .filter(f => replacedBuckets.contains(f.bucket)).map(_.path).toSet
      if (sig(base) != sig(nb))
        throw new CommitConflictException(
          s"buckets ${replacedBuckets.toSeq.sorted.take(8).mkString("{", ",", "}")} were modified concurrently — a rewrite built on v${base.version} would lose those rows")
    }
    nb
  }

  private def commitOnce(
      base: Snapshot,
      newFiles: Seq[DataFileEntry],
      replacedBuckets: Set[Int],
      epochId: Option[Long],
      lineage: Option[LineageEntry],
      schemaUpdate: Option[(Int, StructType)],
      newColumnDocs: Map[String, String],
      txn: Option[(String, Long)],
      newNBuckets: Option[Int]): Snapshot = {
    val v = base.version + 1
    // stamp arrival: this attempt's version (a rebase retry re-stamps)
    val stamped = newFiles.map(_.copy(addedV = v))
    // a bucket-count change rewrites the whole table: nothing carries
    val carried =
      if (newNBuckets.nonEmpty) Seq.empty
      else base.files.filterNot(f => replacedBuckets.contains(f.bucket))
    val liveFiles = carried ++ stamped

    var manifests = base.manifests
    // consolidation is decided BEFORE any manifest write — deciding it
    // after would write a delta manifest and delete it within the same
    // commit on every size-triggered consolidation
    val appendDelta = stamped.nonEmpty || replacedBuckets.nonEmpty
    val sizeAfterAppend =
      if (appendDelta && newNBuckets.nonEmpty) 1 // rebucket delta RESETS
      else manifests.size + (if (appendDelta) 1 else 0)
    if (sizeAfterAppend > manifestCompactThreshold) {
      // consolidate: one reset manifest holding the resolved live set
      manifests = Seq(ManifestRef(writeManifest(liveFiles, v),
        liveFiles.size, Nil, reset = true))
    } else if (appendDelta) {
      val delta = if (stamped.nonEmpty) writeManifest(stamped, v) else ""
      // a rebucket manifest RESETS: bucket ids change spaces at this
      // commit, so earlier manifests' replacement lists no longer apply
      manifests =
        if (newNBuckets.nonEmpty)
          Seq(ManifestRef(delta, stamped.size, Nil, reset = true))
        else manifests :+ ManifestRef(delta, stamped.size,
          replacedBuckets.toSeq.sorted)
    }

    // advance the committed-epoch watermark; out-of-order epochs park in
    // the bounded recent-set until contiguity (or the cap) absorbs them
    val (newWm, newRecent) = epochId match {
      case None => (base.epochWatermark, base.recentEpochs)
      case Some(e) =>
        var recent = base.recentEpochs + (e.toString -> v)
        var wm = base.epochWatermark
        while (recent.contains((wm + 1).toString)) {
          wm += 1; recent -= wm.toString
        }
        if (recent.size > maxRecentEpochs) {
          // age the oldest overflow into the watermark (epoch ids are
          // monotone per the streaming contract; sparse ids beyond the
          // cap trade exactness of the guard for boundedness — documented)
          val sorted = recent.keysIterator.map(_.toLong).toSeq.sorted
          val drop = sorted.take(recent.size - maxRecentEpochs)
          wm = math.max(wm, drop.last)
          recent = recent.filter { case (k, _) => k.toLong > wm }
        }
        (wm, recent)
    }

    // event-time high-water mark: the max watermarkTs any lineage-bearing
    // commit ever recorded, per column. Monotone (lexicographic max —
    // TsFmt is fixed-width), so compaction folding away a superseded
    // max-ts version cannot move incrementalTail's window anchor; restarts
    // on a column repoint; dropped by truncate (the mark describes data
    // the table no longer claims).
    val properties = {
      val p0 =
        if (liveFiles.isEmpty && base.files.nonEmpty)
          base.properties - LakeTable.TsHwmColProp - LakeTable.TsHwmProp
        else base.properties
      lineage.filter(e => e.watermarkTs.nonEmpty && e.watermarkCol.nonEmpty)
        .fold(p0) { e =>
          val prev = p0.get(LakeTable.TsHwmProp)
            .filter(_ => p0.get(LakeTable.TsHwmColProp).contains(e.watermarkCol))
          p0 + (LakeTable.TsHwmColProp -> e.watermarkCol) +
            (LakeTable.TsHwmProp ->
              prev.filter(_ > e.watermarkTs).getOrElse(e.watermarkTs))
        }
    }

    val snap = base.copy(
      version = v,
      nBuckets = newNBuckets.getOrElse(base.nBuckets),
      manifests = manifests,
      files = liveFiles,
      properties = properties,
      epochWatermark = newWm,
      recentEpochs = newRecent,
      txns = {
        val merged = base.txns ++ txn.map { case (app, b) =>
          app -> TxnSlot(
            math.max(b, base.txns.get(app).map(_.batch).getOrElse(Long.MinValue)),
            v)
        }
        if (merged.size <= LakeTable.maxTxnSlots) merged
        else { // retain the most recently active writers
          val keep = merged.toSeq.sortBy(-_._2.v)
            .take(LakeTable.maxTxnSlots).map(_._1).toSet
          merged.filter { case (k, _) => keep(k) }
        }
      },
      lineage = (base.lineage ++ lineage.map(_.copy(version = v)))
        .takeRight(maxLineageInSnapshot),
      currentSchemaVersion =
        schemaUpdate.map(_._1).getOrElse(base.currentSchemaVersion),
      schemas = base.schemas ++
        schemaUpdate.map { case (sv, s) => sv.toString -> s.json }.toMap,
      columnDocs = base.columnDocs ++ newColumnDocs)
    try writeSnapshot(snap)
    catch {
      // NonFatal only: under a VM error the reclaim loop itself is unsafe;
      // crash leftovers are vacuumOrphans' job.
      case e if scala.util.control.NonFatal(e) =>
        // commit lost the optimistic-concurrency race (or failed): the
        // manifests written this attempt were never published and no
        // later vacuum would find them — reclaim before rethrowing
        (manifests.map(_.path).toSet - "")
          .diff(base.manifests.map(_.path).toSet)
          .foreach { m =>
            try { fs.delete(new Path(m), false); manifestCache.remove(m) }
            catch { case _: java.io.IOException => () }
          }
        throw e
    }
    // NOTE: the lineage mirror row is written by [[commit]] after this
    // returns — outside the lost-race retry region (see commit()).
    snap
  }

  /** Append the commit's lineage row to the `_lineage` mirror table as a
    * single JSON-lines file named by snapshot version — idempotent under
    * replay (same version -> same name, create-if-absent). Only the
    * already-written collision is swallowed; any other IO failure
    * propagates (the mirror is the permanent audit log — a silent drop
    * would break its append-only-and-complete contract). */
  private def writeLineageMirror(entry: LineageEntry, version: Long): Unit = {
    implicit val fmt: Formats = DefaultFormats
    val dir = new Path(tablePath, "_lineage")
    val p = new Path(dir, versionFile(version))
    fs.mkdirs(dir)
    if (fs.exists(p)) return // replayed commit: row already mirrored
    try {
      val out = fs.create(p, false)
      try out.write(
        (Serialization.write(entry.copy(version = version)) + "\n")
          .getBytes("UTF-8"))
      finally out.close()
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
    }
  }

  // ----------------------------------------------------------------- read

  /** Raw read (meta columns retained, tombstones retained), optionally
    * pruned to a bucket subset and a snapshot version. */
  def readRaw(buckets: Option[Set[Int]] = None,
      asOf: Option[Long] = None): DataFrame = {
    val snap = asOf.map(snapshotAt).getOrElse(snapshot)
    readRawSnap(snap, buckets)
  }

  /** Raw read pinned to an already-resolved snapshot — the check-then-read
    * paths (MoR resolution, merge) use this so a commit racing between two
    * snapshot reads can never mix file lists across versions. Files are
    * read grouped by schema version and projected to the current user
    * schema (+meta), so add-column / widening never rewrites data. */
  private[graft] def readRawSnap(snap: Snapshot,
      buckets: Option[Set[Int]]): DataFrame = {
    val files = buckets match {
      case Some(bs) => snap.files.filter(f => bs.contains(f.bucket))
      case None => snap.files
    }
    readFiles(snap, files)
  }

  /** Scan an explicit file subset of a snapshot, grouped by schema version
    * and projected to the current user schema (+meta). The ONE place that
    * knows how to read evolved files — compaction and rebucket call it
    * too, so a schema-evolution rule change lands everywhere at once.
    *
    * Each scan names at most `parallelPartitionDiscovery.threshold` paths
    * (the chunks are unioned): past that count Spark's file index lists
    * the paths with a Spark job of one task per path, and these paths
    * already come from the manifest. On a 4-core host, building a frame
    * over 96 files took a median 495 ms with that job and 119 ms in
    * chunks without it. Spark packs files into scan tasks per chunk, so
    * many small files give more, smaller tasks (those 96: 12 scan
    * partitions, not 4); a full [[read]] over them still took a median
    * 1.13 s against 1.37 s. */
  private[graft] def readFiles(snap: Snapshot, files: Seq[DataFileEntry]): DataFrame = {
    val want = withMeta(snap.userSchema)
    if (files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        want)
    } else {
      val chunk = math.max(1,
        spark.sessionState.conf.parallelPartitionDiscoveryThreshold)
      files.groupBy(_.schemaVersion).toSeq.flatMap { case (sv, fgroup) =>
        val fileSchema = withMeta(snap.schemaAt(sv))
        fgroup.map(_.path).grouped(chunk).map(paths =>
          align(spark.read.schema(fileSchema).parquet(paths: _*), want))
      }.reduce(_ unionByName _)
    }
  }

  /** LWW-resolve a raw frame that may hold several versions per key
    * (merge-on-read deltas): keep the max-__lsn row per (conv_id,
    * turn_idx). Shuffle shape: ONE exchange to
    * `repartition(nBuckets, conv_id)` — the exact bucket function
    * (pmod(murmur3(conv_id), nBuckets)), so shuffle partition i holds
    * exactly bucket i with no balls-in-bins imbalance (hashing the
    * bucket VALUE into nBuckets partitions leaves ~1/e of them empty) —
    * then one sort + lag window clustered by conv_id, which the hash
    * partitioning satisfies with NO further exchange. Partitions stay
    * bucket-sized (never millions of tiny per-key exchanges), and a key
    * group can never span its conv group.
    *
    * The table's one LWW kernel. Callers: the MoR reads ([[read]],
    * [[readConv]], [[readSince]], change-feed windows, staged reads),
    * `MergeApply.replace`'s in-batch dedup, and the one-job fold of
    * `MergeApply.compactBuckets` and `MergeApply.rebucket` (there
    * `nBuckets` is the target layout, so partition i becomes new bucket
    * i's files). */
  private[graft] def lwwResolve(raw: DataFrame, nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.functions.lag
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("conv_id"))
      .orderBy(col("turn_idx").asc, col("__lsn").desc)
    raw.repartition(nBuckets, col("conv_id"))
      .withColumn("__prev", lag(col("turn_idx"), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col("turn_idx"))
      .drop("__prev")
  }

  /** User-facing read: merge-on-read resolution restricted to the buckets
    * that actually hold delta files — base-only buckets stream straight
    * from the scan with NO exchange (one stray delta used to trigger a
    * full-table repartition; at 100 TB that is the difference between
    * resolving one bucket and shuffling the world). Tombstones filtered,
    * meta columns dropped. The whole plan is pinned to ONE snapshot. */
  def read(asOf: Option[Long] = None): DataFrame = {
    val snap = asOf.map(snapshotAt).getOrElse(snapshot)
    liveRows(snap, resolveBuckets(snap, None))
  }

  /** [[read]] restricted to a bucket subset — the file pruning happens in
    * the manifest (no data scan of other buckets), MoR resolution runs
    * only where the SELECTED buckets hold deltas. This is the read the
    * incremental consumers use ([[graft.cdc.AggView]]): a refresh that
    * touched k of n buckets reads k/n of the table at any table size. */
  def readBuckets(buckets: Set[Int], asOf: Option[Long] = None): DataFrame = {
    val snap = asOf.map(snapshotAt).getOrElse(snapshot)
    liveRows(snap, resolveBuckets(snap, Some(buckets)))
  }

  /** Shared MoR resolution for [[read]]/[[readBuckets]]: base-only buckets
    * stream straight from the scan with NO exchange (one stray delta used
    * to trigger a full-table repartition; at 100 TB that is the
    * difference between resolving one bucket and shuffling the world).
    * The whole plan is pinned to ONE snapshot. */
  private def resolveBuckets(snap: Snapshot,
      restrict: Option[Set[Int]]): DataFrame = {
    val inScope = restrict match {
      case Some(bs) => (f: DataFileEntry) => bs.contains(f.bucket)
      case None => (_: DataFileEntry) => true
    }
    resolveMor(snap, snap.files.filter(inScope))
  }

  /** MoR resolution over an EXPLICIT file subset — the shared engine under
    * [[resolveBuckets]] and the zone-map-pruned reads. PRECONDITION: for
    * every delta-bearing bucket present in `files`, the subset must hold
    * ALL of that bucket's files (LWW picks the max-__lsn version per key;
    * resolving over a partial version set would crown the wrong winner).
    * [[resolveBuckets]] satisfies it by taking whole buckets;
    * [[LakeTable.tsCandidates]] by construction. Base-only buckets stream
    * straight from the scan with NO exchange. */
  private def resolveMor(snap: Snapshot,
      files: Seq[DataFileEntry]): DataFrame = {
    val deltaBuckets =
      files.filter(_.kind == "delta").map(_.bucket).toSet
    if (deltaBuckets.isEmpty) readFiles(snap, files)
    else {
      val (hotF, coldF) = files.partition(f => deltaBuckets.contains(f.bucket))
      val hot = lwwResolve(readFiles(snap, hotF), snap.nBuckets)
      if (coldF.isEmpty) hot
      else hot.unionByName(readFiles(snap, coldF))
    }
  }

  /** Shared tail of every table-state read ([[read]], [[readConv]]):
    * drop tombstone winners, project the user schema. One place, so the
    * full read and the point lookup can never drift. */
  private def liveRows(snap: Snapshot, resolved: DataFrame): DataFrame =
    resolved
      .filter(col("__op") =!= lit("D"))
      .select(snap.userSchema.fieldNames.map(col).toSeq: _*)

  /** Point read: the live turns of ONE conversation, touching only the
    * key's bucket — file pruning from the manifest alone, so a lookup
    * reads 1/nBuckets of the table regardless of table size (the
    * operational "show me this conversation" query at 10^10 rows).
    * LWW-resolves only if that bucket carries deltas; tombstones
    * filtered like [[read]]. */
  def readConv(convId: String, asOf: Option[Long] = None): DataFrame = {
    val snap = asOf.map(snapshotAt).getOrElse(snapshot)
    val b = LakeTable.bucketOf(convId, snap.nBuckets)
    // filter BEFORE resolution: every version of the key lives in this
    // bucket, so the filter keeps all of them and LWW stays exact
    val raw = readRawSnap(snap, Some(Set(b)))
      .filter(col("conv_id") === lit(convId))
    val resolved =
      if (snap.files.exists(f => f.bucket == b && f.kind == "delta"))
        lwwResolve(raw, snap.nBuckets)
      else raw
    liveRows(snap, resolved)
  }

  /** Files that can hold a row with `__lsn > sinceLsn`, selected from the
    * manifest's footer-derived LSN ranges alone (no data scan). A file
    * without stats (`maxLsn < 0`) is kept conservatively. */
  private[graft] def sinceCandidates(snap: Snapshot,
      sinceLsn: Long): Seq[DataFileEntry] =
    snap.files.filter(f => f.maxLsn > sinceLsn || f.maxLsn < 0)

  /** Incremental changes read — the downstream-consumption half of
    * lineage: every key whose WINNING (max-`__lsn`) version carries
    * `__lsn > sinceLsn`, emitted with `__lsn` and `__op` retained
    * (tombstones included, so deletes propagate to the consumer). A
    * poller chains calls with the `maxLsn` of the previous round's
    * lineage entry, mirroring Iceberg's incremental read.
    *
    * Scale shape: the manifest LSN ranges prune the scan to candidate
    * files BEFORE any Spark job — O(new data), not O(table). Pruned LWW
    * is still exact: any row that out-ranks a candidate row for the same
    * key has a higher LSN, hence also lives in a candidate file, so
    * resolving the candidate set alone yields true winners; winners at or
    * below the cut are filtered after resolution. A bucket whose single
    * candidate is a base file skips resolution (compaction leaves one
    * version per key); delta files may hold several versions of a key
    * (MergeApply.mergeAttempt defers dedup to read), so delta candidates
    * always resolve — an exchange over the NEW rows only. */
  def readSince(sinceLsn: Long, asOf: Option[Long] = None): DataFrame =
    readSinceSnap(sinceLsn, asOf.map(snapshotAt).getOrElse(snapshot))

  /** [[readSince]] against an ALREADY-RESOLVED snapshot — the per-trigger
    * hot path of the streaming source resolves one snapshot per batch and
    * must not pay another version-JSON read + manifest fold per call. */
  private[graft] def readSinceSnap(sinceLsn: Long, snap: Snapshot)
      : DataFrame = {
    val cand = sinceCandidates(snap, sinceLsn)
    val (single, multi) = cand.groupBy(_.bucket).values
      .partition(g => g.size == 1 && g.head.kind == "base")
    val lone = readFiles(snap, single.flatten.toSeq)
    val resolved =
      if (multi.isEmpty) lone
      else lwwResolve(readFiles(snap, multi.flatten.toSeq), snap.nBuckets)
        .unionByName(lone)
    resolved.filter(col("__lsn") > lit(sinceLsn))
      .select((snap.userSchema.fieldNames.toSeq ++
        metaFields.map(_.name)).map(col): _*)
  }

  /** Highest LSN present in a snapshot, from the manifest's footer-derived
    * ranges alone; a data scan happens only if some file lacks stats.
    * -1 on an empty table. */
  def highLsn(snap: Snapshot): Long =
    if (snap.files.isEmpty) -1L
    else if (snap.files.forall(_.maxLsn >= 0)) snap.files.map(_.maxLsn).max
    else readRawSnap(snap, None).agg(max(col("__lsn"))).head().getLong(0)

  /** Files that hold (or may hold) rows which ARRIVED after snapshot
    * version `sinceV`: a delta or append file (stamped `addedV`) contains
    * only its commit's arrivals; a fold file (compaction, rebucket)
    * contains carried-over rows too — a superset the consumer must
    * absorb. One provable exclusion: a fold committed at exactly
    * `sinceV + 1` is a state-neutral rewrite of rows live at `sinceV` —
    * all already inside the consumer's watermark — so it is skipped
    * outright (the Iceberg "ignore replace snapshots" rule;
    * window-splitting consumers like the streaming source end their
    * windows just before a fold precisely so the next window starts at
    * its parent and hits this case). */
  private[graft] def arrivalFiles(snap: Snapshot, sinceV: Long)
      : Seq[DataFileEntry] =
    snap.files.filter(_.addedV > sinceV)
      .filterNot(f => f.fold && f.addedV == sinceV + 1)

  /** The change events that ARRIVED in commits `(sinceVersion, asOf]` —
    * every version, tombstones included, meta (`__lsn`/`__op`) retained;
    * NOT winner-resolved. This is the COMMIT-order window, the robust cut
    * for incremental consumption: an LSN cut ([[readSince]]) silently
    * loses a key whose winning event arrives out-of-order BELOW an
    * already-consumed LSN high-water mark (no `__lsn > cut` range ever
    * covers it), while every arrival lies in exactly one commit.
    *
    * Scale shape: delta and append files contribute only their own rows —
    * O(new data), file-pruned from the manifest alone. Fold files in
    * the window contribute their full content: idempotent re-upserts of
    * current winners that LWW-merging consumers absorb (and tombstone
    * winners ride along, so deletes still propagate through a fold). */
  def arrivalsSince(sinceVersion: Long, asOf: Option[Long] = None)
      : DataFrame =
    arrivalsSinceSnap(sinceVersion, asOf.map(snapshotAt).getOrElse(snapshot))

  /** [[arrivalsSince]] against an already-resolved snapshot (see
    * [[readSinceSnap]]). */
  private[graft] def arrivalsSinceSnap(sinceVersion: Long, snap: Snapshot)
      : DataFrame =
    readFiles(snap, arrivalFiles(snap, sinceVersion))

  /** Typed change feed between two snapshots — the Delta-CDF / Debezium
    * envelope shape of a time-travel diff: each changed key is emitted as
    * row(s) in `toVersion`'s user schema plus `_change_type` ∈
    * {`insert`, `update_preimage`, `update_postimage`, `delete`} and
    * `_lsn` (the LSN of the change winner — pre- and post-image rows of
    * one update carry the SAME `_lsn`, like Delta's shared
    * `_commit_version`). Classification is against the ACTUAL state at
    * `fromVersion`, not the producer's claimed op: an update event for a
    * key that was deleted (or never existed) at `fromVersion` is an
    * `insert`; a delete emits the PREIMAGE values; a key created and
    * deleted within the window emits nothing (this is an endpoint diff,
    * not a per-commit replay — replay granularity is [[arrivalsSince]]
    * chained over commit versions).
    *
    * The window cuts by COMMIT version ([[arrivalsSince]]), not by LSN
    * high-water — robust to arbitrarily out-of-order arrival: a key whose
    * winning event lands after `fromVersion` with an LSN below
    * `fromVersion`'s high water is still an arrival in the window (an
    * LSN cut loses it silently — the hazard the replay-scale AggView
    * check caught). An arrival that LOSES LWW to the pre-state winner
    * changes nothing and emits nothing; a value-identical winner swap
    * (pure redelivery under a higher LSN) is likewise suppressed — the
    * feed is the minimal endpoint diff.
    *
    * Scale shape: the arrival side is O(new data) (exact files pruned
    * from the manifest; a compaction fold inside the window degrades its
    * bucket to full-content candidacy, absorbed by the suppressions
    * above); the pre side reads `fromVersion` restricted to the BUCKETS
    * the arrival files touch. The post-state winner is computed INSIDE
    * the classify join — max-LSN of (window-arrival winner, pre winner) —
    * so neither side is read twice. The per-row fan-out to change rows is
    * one codegen'd CASE-to-array + explode. Schema evolution across the
    * window is absorbed by projecting the pre side onto `toVersion`'s
    * schema (added columns null in preimages, widened types upcast). */
  def changeFeed(fromVersion: Long, toVersion: Option[Long] = None)
      : DataFrame = {
    val fromSnap = snapshotAt(fromVersion)
    val toSnap = toVersion.map(snapshotAt).getOrElse(snapshot)
    require(toSnap.version >= fromSnap.version,
      s"changeFeed window is backwards: from v${fromSnap.version} " +
        s"to v${toSnap.version}")
    val arrFiles = arrivalFiles(toSnap, fromSnap.version)
    // winner among the window's arrivals per key — O(arrivals)
    val arrW = lwwResolve(readFiles(toSnap, arrFiles), toSnap.nBuckets)
    // pre state (winners incl. tombstones) of the touched buckets; when
    // the window crosses a rebucket the arrival files' bucket ids live
    // in the NEW space — meaningless against fromSnap — so the pre side
    // falls back to all buckets (rare: rebucket is a whole-table event)
    val touched =
      if (fromSnap.nBuckets == toSnap.nBuckets)
        arrFiles.map(_.bucket).toSet
      else fromSnap.files.map(_.bucket).toSet
    val preRaw = readRawSnap(fromSnap,
      Some(touched.intersect(fromSnap.files.map(_.bucket).toSet)))
    val preResolved =
      if (fromSnap.files.exists(f => touched.contains(f.bucket) &&
          f.kind == "delta"))
        lwwResolve(preRaw, fromSnap.nBuckets)
      else preRaw
    val want = LakeTable.withMeta(toSnap.userSchema)
    val pre = LakeTable.align(preResolved, want)

    val u = toSnap.userSchema.fieldNames.toSeq
    val j = arrW.as("p").join(pre.as("q"),
      col("p.conv_id") === col("q.conv_id") &&
        col("p.turn_idx") === col("q.turn_idx"), "left")
    // the true post winner is max-LSN of (arrival winner, pre winner);
    // when the pre winner holds (>= : an equal LSN is the same event
    // redelivered), the window changed nothing for this key
    val winnerIsPre = col("q.__lsn").isNotNull &&
      col("q.__lsn") >= col("p.__lsn")
    val postLive = col("p.__op") =!= lit("D")
    val preLive = col("q.__lsn").isNotNull && col("q.__op") =!= lit("D")
    // value-identical winner swap (redelivery under a higher LSN): no
    // user-visible change — suppress
    val valsEq = u.map(c => col(s"p.$c") <=> col(s"q.$c")).reduce(_ && _)
    def img(side: String, tpe: String) = struct(
      lit(tpe).as("_change_type") +:
        u.map(c => col(s"$side.$c").as(c)): _*)
    // CASE falls through to null (→ explode emits zero rows) for: pre
    // winner holds, delete-of-absent-key, created-and-deleted-in-window,
    // and value-identical swaps
    val changes = when(!winnerIsPre,
      when(postLive && preLive && !valsEq,
        array(img("q", "update_preimage"), img("p", "update_postimage")))
        .when(postLive && !preLive, array(img("p", "insert")))
        .when(!postLive && preLive, array(img("q", "delete"))))
    j.select(col("p.__lsn").as("_lsn"), explode(changes).as("c"))
      .select(u.map(c => col(s"c.$c")) ++
        Seq(col("c._change_type").as("_change_type"), col("_lsn")): _*)
  }

  /** The registered event-time column (`watermark.column` table property)
    * — the reference's per-resource time-field registry
    * (reference: engine/etl_util.py:314-348). */
  def watermarkColumn: Option[String] =
    snapshot.properties.get(graft.spec.TimeField.WatermarkColumn)

  /** Time-gap incremental pull over the registered time column: live rows
    * from the last `days` days relative to the table's event-time
    * high-water mark. Fails fast if the table declared no
    * `watermark.column`.
    *
    * The window anchor is the FEED's event-time high-water mark: the
    * max of the snapshot's [[LakeTable.TsHwmProp]] property (monotone,
    * advanced by every merge commit — so the anchor does NOT move when
    * compaction folds away a superseded max-ts version) and the
    * manifest's footer-derived ts ranges, with NO data scan; only files
    * that neither carry stats for `c` nor are high-water-mark-covered
    * (pre-zone-map manifests) pay a bounded plan-time scan for their
    * max. A table with nothing to prune on (no statted file, no mark)
    * keeps the fully-lazy pre-zone-map plan instead — no eager job. An
    * underestimated anchor (INT96 appends, double column repoints) only
    * ever WIDENS the window (the filter has no upper bound): rows are
    * never lost to anchor drift. File selection then prunes from the
    * manifest alone ([[LakeTable.tsCandidates]]): a "last 7 days" pull
    * over a table holding years of history reads the tail, not the
    * table — the Iceberg stats-in-manifest skip applied to event time.
    * A non-timestamp registered column falls back to the unpruned
    * full-read window (no stats exist for it). */
  def incrementalTail(days: Int): DataFrame = {
    val c = watermarkColumn.getOrElse(throw new IllegalArgumentException(
      s"table $dir has no '${graft.spec.TimeField.WatermarkColumn}' property"))
    val snap = snapshot
    val tsTyped = snap.userSchema.fields.exists(f =>
      f.name == c && f.dataType == org.apache.spark.sql.types.TimestampType)
    def lazyWindow = graft.spec.TimeField.timeGap(
      liveRows(snap, resolveMor(snap, snap.files)), c, days)
    if (!tsTyped) return lazyWindow
    // stats registered for another column (watermark.column repointed
    // since) are as good as absent — never misread them for c
    def statted(f: DataFileEntry) = f.tsCol.contains(c) && f.maxTs.isDefined
    val hwm: Option[Long] =
      if (!snap.properties.get(LakeTable.TsHwmColProp).contains(c)) None
      else snap.properties.get(LakeTable.TsHwmProp).map(parseTsFmtMicros)
    if (hwm.isEmpty && !snap.files.exists(statted) && snap.files.nonEmpty)
      return lazyWindow // nothing to prune on: don't pay an eager anchor scan
    // files whose batch max reached neither the footer stats nor the
    // high-water mark (tsCol records the covered-by-mark era)
    val needScan = snap.files.filter(f =>
      !statted(f) && !(f.tsCol.contains(c) && hwm.isDefined))
    val scannedMax: Option[Long] =
      if (needScan.isEmpty) None
      else Option(readFiles(snap, needScan)
        .agg(max(unix_micros(col(c)))).head().get(0)).map(_.asInstanceOf[Long])
    (snap.files.filter(statted).flatMap(_.maxTs) ++ hwm ++ scannedMax)
      .maxOption match {
      case None => // empty table (or every retained ts is null)
        liveRows(snap, resolveMor(snap, Nil))
      case Some(anchor) =>
        timeWindow(snap, c, anchor - days.toLong * 86400000000L)
    }
  }

  /** Zone-map-pruned strictly-after event-time window over one resolved
    * snapshot — the shared tail of [[incrementalTail]] and
    * [[readTimeTail]] (one place, so the LWW-trap and null-ts handling
    * can never drift between the two). */
  private def timeWindow(snap: Snapshot, c: String,
      cutoffMicros: Long): DataFrame =
    liveRows(snap,
      resolveMor(snap, LakeTable.tsCandidates(snap.files, cutoffMicros, c)))
      .filter(col(c) > timestamp_micros(lit(cutoffMicros)))

  /** Table state restricted to event-time strictly after `cutoffMicros`
    * (UTC epoch micros of column `c`), file-skipped from the manifest's
    * event-time zone maps alone ([[LakeTable.tsCandidates]]) — the
    * arbitrary-cutoff sibling of [[incrementalTail]] (which derives its
    * cutoff from the table's own high-water anchor). A `WHERE ts >
    * literal` over years of history reads the matching tail files, not
    * the table; rows with a null event time are outside every window
    * (the predicate's own SQL semantics). Safe on any column: files
    * whose stats describe a different column (or none) are kept
    * conservatively and the explicit filter does the rest, and
    * delta-bearing buckets keep ALL their files so LWW stays exact
    * (the newer-LSN-but-older-ts trap, see `TsSkipSpec`). Backs the
    * batch relation's event-time predicate pushdown. */
  def readTimeTail(c: String, cutoffMicros: Long,
      asOf: Option[Long] = None): DataFrame = {
    val snap = asOf.map(snapshotAt).getOrElse(snapshot)
    require(snap.userSchema.fields.exists(f =>
      f.name == c && f.dataType == org.apache.spark.sql.types.TimestampType),
      s"'$c' is not a timestamp column of the table schema")
    timeWindow(snap, c, cutoffMicros)
  }

  /** Driver-side inverse of MergeApply's `date_format(_, TsFmt)`: parse
    * the fixed-width watermark string back to epoch micros in the
    * SESSION timezone — the same zone `date_format` rendered it in, so
    * the round-trip is exact (the contract the late-event cast already
    * rides; graft sessions pin UTC). */
  private def parseTsFmtMicros(s: String): Long = {
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val i = java.time.LocalDateTime.parse(s,
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .atZone(zone).toInstant
    LakeTable.microsOf(i)
  }

  def lineage: Seq[LineageEntry] = snapshot.lineage

  /** The lineage MIRROR table: one JSON-lines row per commit under
    * `_lineage/`, written by [[commit]] at zero per-epoch Spark-job cost
    * (north rule: per-batch lineage rows + metrics emitted to a lineage
    * table). Unlike the in-snapshot log — which ages out at
    * [[LakeTable.maxLineageInSnapshot]] — the mirror is append-only and
    * complete, and queryable like any table. */
  def lineageTable: DataFrame =
    spark.read.schema(LakeTable.lineageSchema)
      .json(new Path(tablePath, "_lineage").toString)

  /** Integrity audit — the lakehouse `fsck`: cross-checks the CURRENT
    * snapshot's manifest against the data actually on disk,
    * metadata-only except each live file's parquet FOOTER (no data
    * scan; footer reads run on a bounded thread pool like commit's
    * stat registration, so a millions-of-files table audits in
    * O(files/pool) wall time with O(problems) driver memory). Returns
    * one line per problem, empty when clean. Checks:
    *
    *  - structural: duplicate manifest entries, bucket ids outside the
    *    layout, unknown schema versions, inverted stat ranges;
    *  - disk: every live file exists, its footer parses, and its row
    *    count matches the manifest (a mismatch is a torn write or
    *    corruption — reads would silently return wrong data);
    *  - audit log: every in-snapshot lineage row has its `_lineage`
    *    mirror file (the mirror's append-only-and-complete contract).
    *
    * Read-only by design: fsck never repairs ([[recover]] /
    * [[vacuumOrphans]] are the repair verbs — an audit that mutates
    * destroys the evidence it found). */
  def fsck(): Seq[String] = {
    val snap = snapshot
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    snap.files.groupBy(_.path).filter(_._2.sizeIs > 1).keysIterator
      .foreach(p => problems += s"duplicate manifest entry: $p")
    snap.files.filter(f => f.bucket < 0 || f.bucket >= snap.nBuckets)
      .foreach(f => problems +=
        s"bucket ${f.bucket} outside layout [0,${snap.nBuckets}): ${f.path}")
    snap.files.filterNot(f => snap.schemas.contains(f.schemaVersion.toString))
      .foreach(f => problems +=
        s"unknown schema version ${f.schemaVersion}: ${f.path}")
    snap.files
      .filter(f => f.minLsn >= 0 && f.maxLsn >= 0 && f.minLsn > f.maxLsn)
      .foreach(f => problems += s"inverted __lsn range: ${f.path}")
    snap.files.filter(f =>
        (for { a <- f.minTs; b <- f.maxTs } yield a > b).contains(true))
      .foreach(f => problems += s"inverted event-time range: ${f.path}")
    if (snap.files.nonEmpty) {
      val conf = spark.sessionState.newHadoopConf()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, snap.files.size))
      try {
        problems ++= snap.files.map { f =>
          pool.submit(new java.util.concurrent.Callable[Option[String]] {
            def call(): Option[String] = {
              val p = new Path(f.path)
              if (!p.getFileSystem(conf).exists(p))
                Some(s"missing data file: ${f.path}")
              else try {
                val r = org.apache.parquet.hadoop.ParquetFileReader.open(
                  org.apache.parquet.hadoop.util.HadoopInputFile
                    .fromPath(p, conf))
                val rows = try r.getRecordCount finally r.close()
                if (rows != f.rows) Some("row-count mismatch (manifest " +
                  s"${f.rows}, footer $rows): ${f.path}")
                else None
              } catch {
                case e if scala.util.control.NonFatal(e) =>
                  Some(s"unreadable footer (${e.getMessage}): ${f.path}")
              }
            }
          })
        }.flatMap(_.get())
      } finally pool.shutdown()
    }
    snap.lineage.foreach { e =>
      val p = new Path(new Path(tablePath, "_lineage"), versionFile(e.version))
      if (!fs.exists(p))
        problems += s"lineage mirror row missing for v${e.version}"
    }
    snap.properties.foreach { case (k, v) if k.startsWith("tag.") =>
      val ok = scala.util.Try(v.toLong).toOption
        .exists(ver => fs.exists(new Path(snapsPath, versionFile(ver))))
      if (!ok) problems +=
        s"dangling tag ${k.stripPrefix("tag.")} -> v$v (snapshot missing)"
    case _ => ()
    }
    stagedIds.foreach { id =>
      scala.util.Try(stagedIntent(id)) match {
        case scala.util.Failure(e) =>
          problems += s"unreadable staged intent $id (${e.getMessage})"
        case scala.util.Success(it) =>
          if (!fs.exists(new Path(snapsPath, versionFile(it.baseVersion))))
            problems += s"staged intent $id pins missing base " +
              s"v${it.baseVersion} (audit/staleness checks would fail)"
          val conf = spark.sessionState.newHadoopConf()
          it.files.filterNot { f =>
            val p = new Path(f.path); p.getFileSystem(conf).exists(p)
          }.foreach(f =>
            problems += s"staged intent $id references missing file ${f.path}")
      }
    }
    problems.toSeq
  }

  /** Set one table property in a metadata-only commit. */
  def setProperty(key: String, value: String): Snapshot =
    publishMeta(base => base.copy(version = base.version + 1,
      properties = base.properties + (key -> value)),
      applied = _.properties.get(key).contains(value))

  /** Publish a metadata-only snapshot derived from the CURRENT base,
    * with the same lost-race semantics as [[commit]]: on losing the
    * create-if-absent arbiter, wait for the winner's snapshot and
    * re-derive from it (the edit is a pure function of the base, so the
    * rebase is just re-application) instead of surfacing a raw
    * FileAlreadyExistsException to the caller.
    *
    * `applied` is the self-race guard: when a writeSnapshot fails AFTER
    * its version file became durable (e.g. the pointer swap threw), the
    * retry can adopt the writer's OWN snapshot as the new base — without
    * the guard it would re-apply the edit on top of itself, burning a
    * duplicate version (and for replaceSchema, a duplicate schema
    * entry). commit() guards the same class of race with its epoch/txn
    * checks. */
  private def publishMeta(make: Snapshot => Snapshot,
      applied: Snapshot => Boolean): Snapshot = {
    var base = snapshot
    var attempts = 0
    while (true) {
      val snap = make(base)
      try { writeSnapshot(snap); return snap }
      catch {
        case e: java.io.IOException if versionTaken(snap.version) =>
          attempts += 1
          if (attempts > maxCommitRetries)
            throw new CommitConflictException(
              s"gave up after $attempts rebase attempts at $dir", e)
          base = awaitBaseBeyond(base.version).getOrElse(base)
          if (applied(base)) return base
      }
    }
    sys.error("unreachable")
  }

  /** Register a URL-only linked resource in the table properties — data
    * stays where it is, only the catalog entry moves (≈ the reference's
    * `ckan_link` destination, reference: engine/etl_util.py:673-685). */
  def linkResource(name: String, url: String): Snapshot =
    setProperty(s"link.$name", url)

  def linkedResources: Map[String, String] =
    snapshot.properties.collect {
      case (k, v) if k.startsWith("link.") => k.stripPrefix("link.") -> v
    }

  // ----------------------------------------------------------------- tags

  /** Pin a snapshot version under a name (Iceberg-style tag refs) — the
    * dataset-release primitive a training pipeline needs: a model's
    * training set is "this table at tag `release-X`", and the pin makes
    * that read reproducible forever because [[vacuum]] never expires a
    * tagged version. Stored as a `tag.<name>` property, so tags ride the
    * ordinary metadata-commit protocol (concurrent taggers rebase through
    * the same create-if-absent arbiter as data commits) and propagate
    * forward through every later snapshot. The target version must exist
    * on disk; re-pointing an existing tag requires `replace = true`
    * (tags are immutable by default, like Iceberg's). Re-tagging a name
    * at the version it already pins is an idempotent no-op (no new
    * snapshot), so release scripts can re-run safely.
    *
    * One narrow race survives (the same one Iceberg's tag-vs-expire has):
    * a vacuum that read its keep set BEFORE this tag committed may expire
    * the target concurrently. `tag` re-verifies the target after its own
    * commit and rolls the pin back with an error if the race was lost, so
    * a silently dangling tag requires the vacuum to delete between that
    * re-check and the next read; [[fsck]] is the detector of record. */
  def tag(name: String, version: Option[Long] = None,
      replace: Boolean = false): Snapshot = {
    require(name.nonEmpty && !name.exists(c => c.isWhitespace || c == '='),
      s"bad tag name '$name'")
    require(!name.forall(_.isDigit),
      s"tag name '$name' would be ambiguous with a version number")
    val v = version.getOrElse(snapshot.version)
    snapshotAt(v) // target must be a real, readable snapshot
    val key = s"tag.$name"
    if (snapshot.properties.get(key).contains(v.toString)) return snapshot
    val s2 = publishMeta(base => {
      val existing = base.properties.get(key)
      require(replace || existing.forall(_ == v.toString),
        s"tag '$name' already points at v${existing.getOrElse("?")}; " +
          "pass replace = true to move it")
      base.copy(version = base.version + 1,
        properties = base.properties + (key -> v.toString))
    }, applied = _.properties.get(key).contains(v.toString))
    if (scala.util.Try(snapshotAt(v)).isFailure) {
      scala.util.Try(dropTag(name))
      throw new IllegalStateException(s"tag '$name' lost a race with a " +
        s"concurrent vacuum: v$v expired while tagging; the tag was removed")
    }
    s2
  }

  /** Remove a tag; its target becomes vacuumable again (unless still in
    * the retention window). Requires the tag to exist. */
  def dropTag(name: String): Snapshot = {
    val key = s"tag.$name"
    require(snapshot.properties.contains(key), s"no tag '$name'")
    publishMeta(base => base.copy(version = base.version + 1,
      properties = base.properties - key),
      applied = b => !b.properties.contains(key))
  }

  /** Tag name → pinned version. Malformed `tag.*` values (reachable only
    * through manual set-property) are omitted here; [[fsck]] flags them. */
  def tags: Map[String, Long] =
    snapshot.properties.collect {
      case (k, v) if k.startsWith("tag.") =>
        scala.util.Try(v.toLong).toOption.map(k.stripPrefix("tag.") -> _)
    }.flatten.toMap

  /** Resolve a version reference: all digits → a version number, anything
    * else → a tag name (unknown tags are an error, not a silent miss). */
  def resolveRef(ref: String): Long =
    if (ref.nonEmpty && ref.forall(_.isDigit)) ref.toLong
    else tags.getOrElse(ref,
      throw new IllegalArgumentException(s"unknown tag '$ref'"))

  // --------------------------------------------- staged commits (WAP)

  private def stagedPath = new Path(tablePath, "_staged")
  private def intentPath(wapId: String) = new Path(stagedPath, s"$wapId.json")

  /** Park a commit intent under `_staged/<wapId>.json` without touching
    * the version chain (the stage half of write-audit-publish). The write
    * is the same atomic create-if-absent the commit arbiter uses, so a
    * wapId is claimed exactly once — a crashed-and-retried stage of the
    * SAME wapId fails here and the caller adopts the existing intent
    * (see [[graft.cdc.MergeApply.merge]]). The staged files are protected
    * from [[vacuumOrphans]] (it reads intents) and the base version from
    * [[vacuum]] (pinned like a tag) until publish or abort. */
  def stageIntent(it: StagedIntent): Unit = {
    require(it.wapId.nonEmpty && !it.wapId.exists(c =>
      c.isWhitespace || c == '/' || c == '='), s"bad wapId '${it.wapId}'")
    implicit val fmt: Formats = DefaultFormats
    fs.mkdirs(stagedPath)
    val out = createExclusive(intentPath(it.wapId))
    try out.write(Serialization.write(it).getBytes("UTF-8"))
    finally out.close()
  }

  /** Pending staged wapIds (publish/abort remove them). */
  def stagedIds: Seq[String] =
    if (!fs.exists(stagedPath)) Nil
    else fs.listStatus(stagedPath).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json")).sorted

  def stagedIntent(wapId: String): StagedIntent = {
    implicit val fmt: Formats = DefaultFormats
    val in = fs.open(intentPath(wapId))
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    JsonMethods.parse(s).extract[StagedIntent]
  }

  /** The audit read: table state AS IF the staged intent had committed —
    * pinned to the intent's base version (deterministic: later commits
    * don't shift what the auditor sees), staged files applied on top,
    * MoR-resolved, tombstones dropped. */
  def readStaged(wapId: String): DataFrame = {
    val it = stagedIntent(wapId)
    val base = snapshotAt(it.baseVersion)
    val rb = it.replacedBuckets.toSet
    val synth = base.copy(files =
      base.files.filterNot(f => rb.contains(f.bucket)) ++ it.files)
    liveRows(synth, resolveMor(synth, synth.files))
  }

  /** Just the staged CHANGES, LWW-resolved to one winner per key, with the
    * `__op`/`__lsn` envelope retained — what the batch asserts, deletes
    * included (the frame an audit gate usually wants). */
  def stagedChanges(wapId: String): DataFrame = {
    val it = stagedIntent(wapId)
    val base = snapshotAt(it.baseVersion)
    val raw = readFiles(base, it.files)
    if (it.files.exists(_.kind == "delta")) lwwResolve(raw, it.nBuckets)
    else raw
  }

  /** Publish a staged intent: replay it through the ORDINARY commit
    * protocol against the current snapshot — epoch guard, optimistic
    * concurrency, rebase all apply — then retire the intent. Safe to
    * re-run after any crash:
    *
    *  - intent's epoch/txn already committed (an earlier publish died
    *    between commit and cleanup, or a second stage of the same epoch
    *    published first): no new commit; the intent is retired, and its
    *    files are deleted ONLY if the live snapshot doesn't reference
    *    them (they're garbage from the losing stage — a published
    *    intent's files are live and must stay);
    *  - bucket layout changed since stage (rebucket): conflict — the
    *    staged files' bucket ids are in a dead space; abort and restage;
    *  - staleness: an intent that REPLACES buckets, built on
    *    `baseVersion`, loses any rows a later commit put in those buckets,
    *    so publish conflicts unless the buckets are byte-identical to the
    *    stage-time base. The merge stages only delta intents
    *    (`replacedBuckets` empty), which compose by LWW and publish
    *    cleanly at any later version; the check guards bucket-replacing
    *    intents written through [[stageIntent]]. */
  def publishStaged(wapId: String): Snapshot = {
    val it = stagedIntent(wapId)
    val snap = snapshot
    val dup = it.epochId.exists(snap.isCommitted) ||
      (for { a <- it.txnApp; b <- it.txnBatch } yield
        snap.txns.get(a).exists(b <= _.batch)).getOrElse(false)
    if (dup) {
      val live = snap.files.iterator.map(_.path).toSet
      if (!it.files.exists(f => live.contains(f.path))) deleteStagedData(it)
      fs.delete(intentPath(wapId), false)
      return snap
    }
    if (snap.nBuckets != it.nBuckets)
      throw new CommitConflictException(
        s"staged $wapId was built under ${it.nBuckets} buckets but the " +
          s"table now has ${snap.nBuckets} — abort and restage")
    if (it.replacedBuckets.nonEmpty) {
      val rb = it.replacedBuckets.toSet
      def sig(s: Snapshot) = s.files.iterator
        .filter(f => rb.contains(f.bucket)).map(_.path).toSet
      if (sig(snap) != sig(snapshotAt(it.baseVersion)))
        throw new CommitConflictException(
          s"staged $wapId rewrites buckets that changed since " +
            s"v${it.baseVersion} — publishing would lose those rows; " +
            "abort and restage")
    }
    val c = commit(snap, it.files, it.replacedBuckets.toSet, it.epochId,
      it.lineage,
      txn = for { a <- it.txnApp; b <- it.txnBatch } yield (a, b))
    fs.delete(intentPath(wapId), false)
    c
  }

  /** Discard a staged intent: delete its data files (never published, so
    * nothing references them — unless the intent WAS published and the
    * cleanup crashed, in which case only the intent file is removed) and
    * retire the intent. */
  def abortStaged(wapId: String): Unit = {
    val it = stagedIntent(wapId)
    val live = snapshot.files.iterator.map(_.path).toSet
    if (!it.files.exists(f => live.contains(f.path))) deleteStagedData(it)
    fs.delete(intentPath(wapId), false)
  }

  /** Delete an intent's data files and any commit directory they emptied. */
  private def deleteStagedData(it: StagedIntent): Unit = {
    val dirs = scala.collection.mutable.Set.empty[Path]
    it.files.foreach { f =>
      val p = new Path(f.path)
      try fs.delete(p, false) catch { case _: java.io.IOException => () }
      dirs += p.getParent.getParent // data/commit-*/__bucket=N/part
    }
    dirs.foreach { d =>
      try {
        val it2 = fs.listFiles(d, true)
        var any = false
        while (!any && it2.hasNext)
          any = it2.next().getPath.getName.endsWith(".parquet")
        if (!any) fs.delete(d, true)
      } catch { case _: java.io.IOException => () }
    }
  }

  // ------------------------------------------------------------------ DDL

  /** Delete all rows, keep schema + column docs (≈ wipe_data,
    * reference: engine/wprdc_etl/pipeline/loaders.py:440-467). */
  def truncate(): Snapshot = {
    val base = snapshot
    commit(base, Nil, base.files.map(_.bucket).toSet, None, None)
  }

  /** Drop and recreate with a new schema (≈ clear_first,
    * reference: engine/wprdc_etl/pipeline/loaders.py:469-505). Column docs
    * are preserved for columns that still exist — the data-dictionary
    * restore (reference: engine/etl_util.py:87-115). */
  def replaceSchema(schema: StructType): Snapshot =
    // destructive by intent (clear_first): on a lost race the retry
    // still clears everything, including the racer's freshly-landed
    // commit — the same outcome as that commit landing a moment earlier.
    // applied: an adopted base that is already empty under this exact
    // schema needs no re-clear (the self-race case, or a racer that ran
    // the identical clear_first)
    publishMeta(base => {
      val keptDocs = base.columnDocs.filter { case (c, _) =>
        schema.fieldNames.contains(c) }
      val v = base.currentSchemaVersion + 1
      base.copy(
        version = base.version + 1,
        manifests = Nil,
        files = Nil,
        currentSchemaVersion = v,
        schemas = base.schemas + (v.toString -> schema.json),
        columnDocs = keptDocs,
        // the event-time high-water mark describes departed data (and
        // possibly a departed column) — drop it like truncate does
        properties =
          base.properties - LakeTable.TsHwmColProp - LakeTable.TsHwmProp)
    }, applied = b => b.files.isEmpty && b.manifests.isEmpty &&
      b.userSchema == schema)

  /** Additive schema evolution: add a nullable column at the end. Old files
    * are projected with nulls at read. */
  def addColumn(name: String, dt: DataType, doc: String = null): Snapshot = {
    val base = snapshot
    require(!base.userSchema.fieldNames.contains(name), s"column $name exists")
    val v = base.currentSchemaVersion + 1
    val newSchema = StructType(base.userSchema.fields :+
      StructField(name, dt, nullable = true))
    commit(base, Nil, Set.empty, None, None,
      schemaUpdate = Some((v, newSchema)),
      newColumnDocs = Option(doc).map(name -> _).toMap)
  }

  /** Evolve the schema toward `incoming` in ONE commit: every incoming
    * column absent from the current schema is ADDED nullable at the
    * end; every matching column (case-insensitive, mirroring Spark's
    * default analysis — a case-variant must never fork a duplicate
    * column) whose incoming type differs is WIDENED when
    * [[LakeTable.canWiden]] allows, REJECTED otherwise — an
    * incompatible change must fail loud here, not resurface later as
    * per-row cast nulls or errors. A narrower incoming type is fine
    * (the write path upcasts). Dropping columns is out of scope
    * (shrinking is [[replaceSchema]]'s destructive job). Returns
    * without committing when nothing changes. One commit for any
    * number of changes — not a commit per column. Backs the batch
    * writer's `mergeSchema`; the streaming twin is the op="S" registry
    * event path ([[graft.cdc.SchemaRegistry]]), which shares these
    * evolution semantics. */
  def evolveSchema(incoming: StructType): Snapshot = {
    val base = snapshot
    val cur = base.userSchema
    val widens = scala.collection.mutable.ListBuffer[(String, DataType)]()
    val adds = scala.collection.mutable.ListBuffer[StructField]()
    incoming.fields.foreach { f =>
      cur.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case None => adds += StructField(f.name, f.dataType, nullable = true)
        case Some(old) if old.dataType == f.dataType => ()
        case Some(old) if LakeTable.canWiden(old.dataType, f.dataType) =>
          widens += old.name -> f.dataType // keep the existing spelling
        case Some(old) if LakeTable.canWiden(f.dataType, old.dataType) =>
          () // incoming is narrower: the write's upcast absorbs it
        case Some(old) => throw new IllegalArgumentException(
          s"incompatible type change for column ${old.name}: " +
            s"${old.dataType.simpleString} -> ${f.dataType.simpleString} " +
            "is neither a widening nor a narrowing — rewrite the feed " +
            "or migrate with replaceSchema")
      }
    }
    if (adds.isEmpty && widens.isEmpty) return base
    val newSchema = StructType(cur.fields.map(f =>
      widens.find(_._1 == f.name).map(w => f.copy(dataType = w._2))
        .getOrElse(f)) ++ adds)
    commit(base, Nil, Set.empty, None, None,
      schemaUpdate = Some((base.currentSchemaVersion + 1, newSchema)))
  }

  /** Expire old snapshots and delete data files no snapshot references
    * anymore — the maintenance operation every snapshot-log table needs
    * at scale (compaction and replace retire files in the manifest but
    * leave the bytes for time travel; unbounded retention is unbounded
    * storage). Keeps the newest `keepSnapshots` EXISTING versions (plus
    * CURRENT) — retention counts snapshots actually on disk, not version
    * numbers, so sparse version sets after a prior vacuum are honored —
    * and every [[tag]]ged version, however old: a pinned dataset release
    * stays readable until its tag is dropped.
    * Any data file or manifest referenced only by expired versions is
    * deleted, then the old `vN.json` files themselves. The `_lineage`
    * mirror is never touched (it is the permanent audit log). Returns
    * (snapshotsExpired, dataFilesDeleted). */
  def vacuum(keepSnapshots: Int = 1): (Int, Int) = {
    require(keepSnapshots >= 1, "must keep at least the current snapshot")
    val cur = snapshot
    val all = versionsOnDisk
    // tagged versions are pinned; a tag whose snapshot file is already
    // gone, or whose value is not a version number (both only reachable
    // by manual edits — fsck flags them), cannot pin anything. A tag
    // COMMITTED CONCURRENTLY with this vacuum may still dangle (the same
    // expire-vs-tag race Iceberg has); fsck is the detector.
    val tagged = cur.properties.collect {
      case (k, v) if k.startsWith("tag.") => scala.util.Try(v.toLong).toOption
    }.flatten.toSeq.filter(all.contains)
    // staged intents pin their base version: the audit read
    // ([[readStaged]]) and the staleness check at publish both
    // resolve it — expiring it would wedge a pending stage
    val stagedBases = stagedIds.flatMap(id =>
      scala.util.Try(stagedIntent(id).baseVersion).toOption)
      .filter(all.contains)
    val keep =
      (all.takeRight(keepSnapshots) ++ tagged ++ stagedBases :+ cur.version)
        .distinct
    val expire = all.filterNot(keep.contains)
    val keptSnaps = keep.map(snapshotAt)
    val expSnaps = expire.map(snapshotAt)
    val live: Set[String] = keptSnaps.flatMap(_.files.map(_.path)).toSet
    val dead = expSnaps.flatMap(_.files.map(_.path)).toSet -- live
    dead.foreach(p => fs.delete(new Path(p), false))
    // manifests only expired snapshots reference are dead too
    val liveManifests = keptSnaps.flatMap(_.manifests.map(_.path)).toSet
    val deadManifests =
      expSnaps.flatMap(_.manifests.map(_.path)).toSet -- liveManifests - ""
    deadManifests.foreach { p =>
      fs.delete(new Path(p), false); manifestCache.remove(p)
    }
    expire.foreach(v => fs.delete(new Path(snapsPath, versionFile(v)), false))
    (expire.size, dead.size)
  }

  /** Delete commit directories referenced by NO existing snapshot — the
    * crash orphans [[vacuum]] cannot see (it walks snapshots; an orphan
    * was never in one): a writer that died between writing its data
    * files and committing, or a schema-probe retry whose discard was
    * interrupted. A directory is removed only when (a) none of its
    * parquet files appear in any snapshot's manifest and (b) it is older
    * than `graceMs` — young directories may belong to an in-flight
    * commit (Iceberg's remove_orphan_files makes the same age argument).
    * Returns directories deleted. */
  def vacuumOrphans(graceMs: Long = 3600000L): Int = {
    val live: Set[String] = (versionsOnDisk
      .map(snapshotAt).flatMap(_.files.map(_.path)) ++
      // staged WAP intents reference files no snapshot sees yet — a
      // stage pending audit past the grace window is NOT an orphan
      stagedIds.flatMap(id =>
        scala.util.Try(stagedIntent(id).files.map(_.path))
          .getOrElse(Nil))).toSet
    val dataRoot = new Path(s"$dir/data")
    if (!fs.exists(dataRoot)) return 0
    val cutoff = System.currentTimeMillis() - graceMs
    var removed = 0
    fs.listStatus(dataRoot).filter(_.isDirectory).foreach { d =>
      val it = fs.listFiles(d.getPath, true)
      var anyLive = false
      var anyYoung = d.getModificationTime >= cutoff
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) {
          if (live.contains(f.getPath.toString)) anyLive = true
          if (f.getModificationTime >= cutoff) anyYoung = true
        }
      }
      if (!anyLive && !anyYoung) {
        fs.delete(d.getPath, true)
        removed += 1
      }
    }
    removed
  }

  /** Type widening (int→long, float→double, …). Old files upcast at read. */
  def widenColumn(name: String, dt: DataType): Snapshot = {
    val base = snapshot
    val old = base.userSchema(name).dataType
    require(canWiden(old, dt), s"cannot widen $old -> $dt for $name")
    val v = base.currentSchemaVersion + 1
    val newSchema = StructType(base.userSchema.fields.map(f =>
      if (f.name == name) f.copy(dataType = dt) else f))
    commit(base, Nil, Set.empty, None, None, schemaUpdate = Some((v, newSchema)))
  }
}

object LakeTable {
  /** File name of version `version` in the snapshot chain
    * (`_snapshots/`) and in the `_lineage` mirror — the one place the
    * zero-padded naming is spelled, so lexicographic and numeric order
    * agree. */
  private[graft] def versionFile(version: Long): String =
    f"v$version%012d.json"

  /** Lineage kept inline in the snapshot; older entries age out (the
    * `_lineage` mirror is the complete log). Small on purpose: every
    * commit reserializes the inline log, so its size is a direct tax on
    * commit latency. */
  val maxLineageInSnapshot = 256

  /** Committed-epoch overflow cap: out-of-order epochs above the
    * watermark are tracked exactly up to this many; beyond it the oldest
    * age into the watermark. */
  val maxRecentEpochs = 1024

  /** Retention cap for [[Snapshot.txns]]: commits keep the slots of this
    * many most-recently-active writers. Far above any plausible count of
    * concurrent writers on one table; the bound keeps snapshot JSON
    * O(active writers), not O(every checkpoint path ever attached). */
  val maxTxnSlots = 256

  /** True when `e` is a genuine JSON-parse failure (a torn/truncated
    * snapshot write), as opposed to a transient read IOException or a
    * format-version mismatch. jackson's JsonProcessingException EXTENDS
    * IOException, so this classification must run BEFORE any generic
    * IOException handling. */
  private[lake] def isTornJson(e: Throwable): Boolean =
    e.isInstanceOf[com.fasterxml.jackson.core.JsonProcessingException]

  /** Manifest refs kept in a snapshot before consolidation folds them
    * into one reset manifest. */
  val manifestCompactThreshold = 32

  /** Rebase attempts before a commit gives up under heavy write
    * contention. Each retry is metadata-only (one manifest + one snapshot
    * JSON), so the bound is about liveness, not cost. */
  val maxCommitRetries = 6

  /** Explicit schema for the `_lineage` mirror (JSON-lines) so reads
    * never pay schema inference. */
  val lineageSchema: StructType = StructType(Seq(
    StructField("epochId", LongType), StructField("version", LongType),
    StructField("rowsInBatch", LongType), StructField("rowsApplied", LongType),
    StructField("bucketsTouched", ArrayType(IntegerType)),
    StructField("filesRewritten", IntegerType),
    StructField("filesCarried", IntegerType),
    StructField("maxLsn", LongType), StructField("watermarkTs", StringType),
    StructField("durationMs", LongType), StructField("lateEvents", LongType),
    StructField("rejectedEvents", LongType),
    StructField("minLsn", LongType),
    StructField("partitions", ArrayType(StructType(Seq(
      StructField("bucket", IntegerType), StructField("rows", LongType),
      StructField("minLsn", LongType), StructField("maxLsn", LongType))))),
    StructField("inputChecksum", StringType),
    StructField("watermarkCol", StringType)))

  /** Table-property pair holding the event-time high-water mark: the max
    * `watermarkTs` any lineage-bearing commit recorded (MergeApply's
    * fixed-width TsFmt — lexicographic max is chronological), and the
    * column it was computed from. Monotone per column, so it survives
    * compaction folding away a superseded max-ts version —
    * [[LakeTable.incrementalTail]]'s window anchor stays put when
    * background compaction runs (state-neutrality extends to the
    * time-window read). Restarted when `watermark.column` is repointed;
    * dropped by truncate/replaceSchema. Maintained inside [[commit]],
    * never set by hand. */
  val TsHwmColProp = "graft.stats.ts.column"
  val TsHwmProp = "graft.stats.ts.highWater"

  /** Table property: comma-separated user columns to bloom-index in
    * parquet at file-group-rewrite time (compaction / rebucket — NOT the
    * per-epoch delta writes, which stay lean; the Delta/Iceberg
    * opt-in shape). Point lookups on a hash-distributed key
    * ([[LakeTable.readConv]]) prune to one bucket from the manifest, but
    * min/max row-group stats are useless INSIDE the bucket (a hash key
    * spans the full string range in every file) — a bloom filter is the
    * only stat that skips row groups for key equality, and parquet
    * applies it during row-group filtering on read
    * (`parquet.filter.bloom.enabled`, default true). Set e.g.
    * `graft.bloom.columns=conv_id`; blooms materialize as compaction
    * rewrites files. */
  val BloomColumnsProp = "graft.bloom.columns"

  def metaFields: Seq[StructField] = Seq(
    StructField("__lsn", LongType, nullable = false),
    StructField("__op", StringType, nullable = false))

  def withMeta(user: StructType): StructType =
    StructType(user.fields.toSeq ++ metaFields)

  /** Bucket of a conv_id: non-negative murmur3 hash mod nBuckets. Stable
    * across Spark versions within a deployment (documented contract). */
  def bucketExpr(nBuckets: Int) =
    pmod(hash(col("conv_id")), lit(nBuckets)).cast(IntegerType)

  /** UTC epoch micros of an instant — THE timestamp-to-micros formula
    * (Instant normalizes nano into [0, 1e9), so pre-epoch values are
    * exact where a truncating division would land a second high).
    * Every conversion routes here: the zone-map cutoffs, the watermark
    * parse, the CLI. `java.sql.Timestamp.toInstant` feeds it directly. */
  def microsOf(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000L

  /** Driver-side twin of [[bucketExpr]] for point lookups: same murmur3
    * (seed 42, Spark's `hash`), same non-negative mod. */
  def bucketOf(convId: String, nBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(convId)), 42)
      .eval(null).asInstanceOf[Int]
    ((h % nBuckets) + nBuckets) % nBuckets
  }

  def canWiden(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (IntegerType, LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (FloatType, DoubleType) => true
    case (IntegerType | LongType, DoubleType) => true
    case _ => false
  }

  /** Project `df` onto `target` schema: missing columns null-filled, type
    * mismatches upcast, column order normalized. */
  def align(df: DataFrame, target: StructType): DataFrame = {
    val present = df.schema.fieldNames.toSet
    df.select(target.fields.toSeq.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Zone-map pruning for a time-window read: the subset of `files` that
    * can contribute a LIVE row with event time STRICTLY ABOVE
    * `cutoffMicros`, chosen from manifest stats alone. Three sound rules,
    * per hash-bucket:
    *
    *  - a bucket where EVERY file has stats and none exceeds the cutoff
    *    is skipped whole: every version of every key in it — deltas
    *    included — sits at or below the cutoff, so each key's LWW winner
    *    fails the window filter no matter which version wins;
    *  - a kept bucket that carries DELTA files keeps ALL its files: LWW
    *    picks the max-__lsn version per key, and event time is NOT
    *    aligned with LSN (a newer-LSN version may carry an older ts), so
    *    dropping any version could crown the wrong winner;
    *  - a kept base-only bucket prunes per FILE: base files hold exactly
    *    one version per key within the bucket, so a dropped row has no
    *    other version to interact with — it could only ever fail the
    *    filter itself.
    *
    * A file without stats (`maxTs == None`) — or whose stats were
    * registered for a DIFFERENT column than `col` (`watermark.column`
    * was repointed since; ranges of one column say nothing about
    * another) — is kept conservatively and counts as "may exceed" for
    * the whole-bucket rule. Pure manifest metadata — safe to call on
    * the driver at any table size. */
  def tsCandidates(files: Seq[DataFileEntry],
      cutoffMicros: Long, col: String): Seq[DataFileEntry] = {
    def mayHold(f: DataFileEntry) =
      !(f.tsCol.contains(col) && f.maxTs.exists(_ <= cutoffMicros))
    files.groupBy(_.bucket).valuesIterator.flatMap { bf =>
      if (!bf.exists(mayHold)) Nil
      else if (bf.exists(_.kind == "delta")) bf
      else bf.filter(mayHold)
    }.toSeq
  }

  def load(spark: SparkSession, dir: String): LakeTable = new LakeTable(spark, dir)

  def createTable(spark: SparkSession, dir: String, schema: StructType,
      nBuckets: Int, columnDocs: Map[String, String] = Map.empty,
      properties: Map[String, String] = Map.empty): LakeTable =
    new LakeTable(spark, dir).create(schema, nBuckets, columnDocs, properties)
}
