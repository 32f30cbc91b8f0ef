package graft.lake

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** Batch half of the `graft-table` data source (the streaming half —
  * source and sink — lives in [[graft.streaming.LakeTableSourceProvider]],
  * which mixes this file's relations in). Completes the format family so
  * a lake table is addressable from every Spark surface, including plain
  * SQL over a `CREATE TEMPORARY VIEW … USING graft-table` view:
  *
  * {{{
  *   spark.read.format("graft-table").load(dir)                 // state
  *     .option("at", "<version>|<tag>")                          // travel
  *     .option("meta", "lineage"|"files"|"tags")                 // ops
  *   df.write.format("graft-table").mode("append").save(dir)     // load
  * }}}
  *
  * Read pruning (DSv1 `PrunedFilteredScan`):
  *  - `conv_id` equality / IN predicates (including under AND/OR) prune
  *    to their murmur3 hash buckets from the manifest alone — the
  *    [[LakeTable.readConv]] shape generalized to arbitrary SQL, so a
  *    point query reads 1/nBuckets of the table at any table size.
  *  - every translatable predicate is ALSO applied inside the plan,
  *    where Catalyst pushes it through the LWW window (partitioned by
  *    `conv_id`) down to the parquet scan — engaging row-group min/max
  *    stats and the opt-in bloom indexes ([[LakeTable]] `graft.bloom.*`).
  *  - column pruning via `requiredColumns`.
  *
  * Every filter is declared unhandled ([[unhandledFilters]] returns the
  * full set): Spark re-applies the predicates above the scan, so the
  * pruning here is a pure optimization — a translation gap can cost
  * speed, never correctness.
  */
final class GraftBatchRelation(
    override val sqlContext: SQLContext,
    tableDir: String,
    at: Option[String],
    viewOptions: Map[String, String] = Map.empty)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  private val table = LakeTable.load(sqlContext.sparkSession, tableDir)

  /** Schema (and the `at` ref, when given) resolve at construction. */
  private val pinnedSnap: Snapshot =
    at.map(r => table.snapshotAt(table.resolveRef(r)))
      .getOrElse(table.snapshot)

  override val schema: StructType = pinnedSnap.userSchema

  /** Count of scans served from the stale pinned snapshot because the
    * schema evolved under a live view — observable so the warning below
    * is testable (and greppable in production logs). */
  private[lake] val staleFallbacks =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Snapshot one scan executes against. With `at` the relation is a
    * frozen release read — always the construction-time snapshot.
    * Without it, each scan re-resolves the CURRENT snapshot, because a
    * `CREATE TEMPORARY VIEW … USING graft-table` view keeps this
    * relation instance alive indefinitely and must not serve stale data
    * forever. A DSv1 relation's schema is fixed, though, so if the
    * table's schema has EVOLVED since construction the scan falls back
    * to the pinned snapshot (type-correct, stale) — WARNED below, since
    * a long-lived view would otherwise quietly read old data forever —
    * re-create the view after schema evolution (self-joins of one view
    * may legitimately scan twice; each scan is internally pinned to one
    * snapshot). */
  private def scanSnap(): Snapshot =
    if (at.isDefined) pinnedSnap
    else {
      val s = table.snapshot
      if (s.userSchema == schema) s
      else {
        staleFallbacks.incrementAndGet()
        GraftBatchRelation.log.warn(
          s"graft-table view over $tableDir: schema evolved at " +
            s"v${s.version} but this relation was built against " +
            s"v${pinnedSnap.version} — serving the STALE pinned " +
            "snapshot (DSv1 schemas are fixed); re-create the view to " +
            "read current data")
        pinnedSnap
      }
    }

  /** Upper-bound-biased row estimate (1 KiB/row over the manifest's
    * row counts — no data scan): genuinely small dimension tables stay
    * broadcastable in joins; anything sizable never accidentally
    * broadcasts. A def over the SCAN snapshot, not a construction-time
    * val: this relation is writable (INSERT INTO a view), so a frozen
    * estimate of a since-grown table could mis-broadcast it. */
  override def sizeInBytes: Long =
    math.max(scanSnap().files.map(_.rows).sum * 1024L, 1L)

  /** All filters re-applied by Spark above the scan — see class doc. */
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val snap = scanSnap()
    val base = GraftBatchRelation.convKeys(filters) match {
      case Some(keys) if keys.isEmpty =>
        // contradictory key predicates (e.g. conv_id = 'a' AND = 'b')
        sqlContext.sparkSession.createDataFrame(
          new java.util.ArrayList[Row](), snap.userSchema)
      case Some(keys) =>
        val buckets = keys.map(LakeTable.bucketOf(_, snap.nBuckets))
        table.readBuckets(buckets, Some(snap.version))
      case None =>
        // no key restriction: event-time lower bounds on the table's
        // event-time column skip files via the manifest zone maps — a
        // `WHERE ts > …` over years of history reads the tail, not the
        // table (exactness does not depend on this: the readTimeTail
        // filter and Spark's re-applied predicate both hold). The
        // column comes from the SCAN's snapshot — a time-traveled
        // relation prunes on what that snapshot registered, not on a
        // later repointed watermark.column
        snap.eventTimeColumn.flatMap(c =>
            GraftBatchRelation.tsLowerBoundMicros(filters, c).map((c, _)))
          match {
          case Some((c, cutoff)) =>
            table.readTimeTail(c, cutoff, Some(snap.version))
          case None => table.read(Some(snap.version))
        }
    }
    // apply translatable predicates inside the plan: Catalyst pushes
    // them through the LWW window to the parquet scan (stats + blooms)
    val filtered = filters
      .flatMap(GraftBatchRelation.translate(_, schema))
      .foldLeft(base)(_ filter _)
    if (requiredColumns.isEmpty) {
      // count(*)-style scan: zero columns requested, rows still counted
      filtered.select(lit(1).as("__one")).rdd.map(_ => Row.empty)
    } else {
      // DSv1 hands rows back as RDD[Row] by contract (the sanctioned
      // .rdd conversion; needConversion covers the re-encode)
      filtered.select(requiredColumns.toIndexedSeq.map(col): _*).rdd
    }
  }

  /** `INSERT INTO <view>` / `INSERT OVERWRITE <view>` over a
    * `USING graft-table` view — SQL's route into [[GraftBatchWrite]]
    * (plain rows: auto-LSN key replacement; overwrite: the atomic
    * whole-table replace). The view's declared OPTIONS (invalidRows,
    * txnAppId/batchId, …) travel with the write —
    * accepting an option at view creation and dropping it at write
    * time would silently change semantics. An `at`-pinned (release)
    * view is read-only. */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(at.isEmpty,
      "an at-pinned graft-table view is a frozen release read — " +
        "INSERT targets the live table (create a view without 'at')")
    GraftBatchWrite.write(sqlContext,
      if (overwrite) SaveMode.Overwrite else SaveMode.Append,
      viewOptions + ("path" -> tableDir), data)
    ()
  }
}

object GraftBatchRelation {

  private[lake] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[GraftBatchRelation])

  /** Key set implied by the filters for bucket pruning, treating the
    * top-level array as AND-combined (the DSv1 contract). `None` = the
    * filters do not restrict `conv_id`; `Some(empty)` = contradiction
    * (no row can match). */
  private[lake] def convKeys(filters: Array[Filter]): Option[Set[String]] = {
    val sets = filters.flatMap(convSet)
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  private def convSet(f: Filter): Option[Set[String]] = f match {
    case EqualTo("conv_id", v: String) => Some(Set(v))
    case EqualNullSafe("conv_id", v: String) => Some(Set(v))
    case In("conv_id", vs)
        if vs != null && vs.forall(_.isInstanceOf[String]) =>
      Some(vs.iterator.map(_.asInstanceOf[String]).toSet)
    case And(a, b) => (convSet(a), convSet(b)) match {
      case (Some(x), Some(y)) => Some(x intersect y)
      case (x, y) => x.orElse(y) // one restricted side still bounds AND
    }
    case Or(a, b) => // both sides must be restricted for OR to bound
      for { x <- convSet(a); y <- convSet(b) } yield x union y
    case _ => None
  }

  /** Strictly-greater event-time lower bound (UTC epoch micros of
    * column `c`) implied by the filters, for zone-map file skipping via
    * [[LakeTable.readTimeTail]]. Top-level array = AND (max of bounds);
    * `Or` bounds only when BOTH sides do (min). `>` at value v bounds
    * at v; `>=` at v bounds at v − 1 µs (storage is micros, so the
    * boundary is exact). `None` = no usable bound. */
  private[lake] def tsLowerBoundMicros(filters: Array[Filter], c: String)
      : Option[Long] = {
    // one shared floor-exact formula ([[LakeTable.microsOf]]): a
    // truncating division would land a second high on pre-epoch values
    // and the too-high cutoff would silently drop matching rows
    def micros(v: Any): Option[Long] = v match {
      case t: java.sql.Timestamp => Some(LakeTable.microsOf(t.toInstant))
      case i: java.time.Instant => Some(LakeTable.microsOf(i))
      case _ => None
    }
    def bound(f: Filter): Option[Long] = f match {
      case GreaterThan(a, v) if a == c => micros(v)
      case GreaterThanOrEqual(a, v) if a == c => micros(v).map(_ - 1L)
      case EqualTo(a, v) if a == c => micros(v).map(_ - 1L)
      case And(x, y) => (bound(x), bound(y)) match {
        case (Some(l), Some(r)) => Some(math.max(l, r))
        case (l, r) => l.orElse(r)
      }
      case Or(x, y) =>
        for { l <- bound(x); r <- bound(y) } yield math.min(l, r)
      case _ => None
    }
    val bs = filters.flatMap(bound)
    if (bs.isEmpty) None else Some(bs.max)
  }

  /** Best-effort `Filter` → `Column` translation for in-plan pushdown.
    * `None` for anything not cleanly expressible — safe, because Spark
    * re-applies every filter above the scan (see `unhandledFilters`).
    *
    * Soundness direction: the in-scan filter must be WEAKER than (or
    * equal to) the original predicate — re-application above the scan
    * can only remove rows, never restore dropped ones. The `And` case
    * therefore may keep one translated side alone… but only while
    * un-negated: under `Not`, a weakened operand inverts into a
    * STRONGER filter that silently drops matching rows, so `Not`
    * demands an `exact` translation of its operand (both `And`/`Or`
    * sides present, recursively). */
  private[lake] def translate(f: Filter, schema: StructType,
      exact: Boolean = false): Option[Column] = {
    def has(a: String) = schema.fieldNames.contains(a)
    def l(v: Any): Option[Column] = v match {
      case null => None
      case _: String | _: java.lang.Boolean | _: java.lang.Number |
          _: java.sql.Timestamp | _: java.sql.Date | _: java.time.Instant |
          _: java.time.LocalDate | _: java.math.BigDecimal => Some(lit(v))
      case _ => None
    }
    f match {
      case EqualTo(a, v) if has(a) => l(v).map(col(a) === _)
      case EqualNullSafe(a, v) if has(a) => l(v).map(col(a) <=> _)
      case GreaterThan(a, v) if has(a) => l(v).map(col(a) > _)
      case GreaterThanOrEqual(a, v) if has(a) => l(v).map(col(a) >= _)
      case LessThan(a, v) if has(a) => l(v).map(col(a) < _)
      case LessThanOrEqual(a, v) if has(a) => l(v).map(col(a) <= _)
      case In(a, vs) if has(a) && vs != null && vs.nonEmpty &&
          vs.forall(v => l(v).isDefined) =>
        Some(col(a).isInCollection(vs.toSeq))
      case IsNull(a) if has(a) => Some(col(a).isNull)
      case IsNotNull(a) if has(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) if has(a) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) if has(a) => Some(col(a).endsWith(v))
      case StringContains(a, v) if has(a) => Some(col(a).contains(v))
      case Not(c) => translate(c, schema, exact = true).map(!_)
      case And(x, y) =>
        (translate(x, schema, exact), translate(y, schema, exact)) match {
          case (Some(a), Some(b)) => Some(a && b)
          case _ if exact => None // a weakened AND is unsound under Not
          case (a, b) => a.orElse(b) // AND: either side alone is sound
        }
      case Or(x, y) =>
        for { a <- translate(x, schema, exact); b <- translate(y, schema, exact) }
          yield a || b
      case _ => None
    }
  }
}

/** A point-in-time incremental read served as a DSv1 relation — the
  * batch/SQL face of the two incremental surfaces:
  *  - `.option("sinceLsn", n)` → [[LakeTable.readSince]]: every key
  *    whose winning version landed after the LSN cut, tombstones
  *    included, in the merge-ready envelope (user columns + `__lsn` +
  *    `__op`), manifest-pruned to O(new data);
  *  - `.option("changesFrom", ref)` (+ optional `changesTo`) →
  *    [[LakeTable.changeFeed]]: the CDF image rows (`_change_type`
  *    insert / update_preimage / update_postimage / delete) between two
  *    versions OR TAGS — `spark.read … .option("changesFrom",
  *    "release-1")` is "what changed since the last release" as one
  *    DataFrame (Delta's `table_changes`, with named refs).
  * The frame resolves ONCE at construction — an incremental read is a
  * window between explicit cuts, not a live view; re-create the
  * relation to advance the window. */
final class GraftFrameRelation(
    override val sqlContext: SQLContext,
    df: DataFrame)
    extends BaseRelation with TableScan {
  override val schema: StructType = df.schema
  override def buildScan(): RDD[Row] = df.rdd
}

/** Metadata tables of a lake table, Iceberg-style (`table$files`), as
  * `.option("meta", …)` reads:
  *  - `lineage` — the queryable per-commit lineage (inline + the
  *    append-only `_lineage` mirror), via [[LakeTable.lineageTable]];
  *  - `files`   — the pinned snapshot's live manifest entries (one row
  *    per data file with bucket, row count, LSN/event-time zone maps);
  *  - `tags`    — named refs and the versions they pin.
  * These are ops/debug surfaces: `files` materializes the manifest on
  * the driver, which is exactly the object the snapshot already folds
  * in memory — same order of cost as loading the table at all. */
final class GraftMetaRelation(
    override val sqlContext: SQLContext,
    tableDir: String,
    meta: String,
    at: Option[String])
    extends BaseRelation with TableScan {

  private val table = LakeTable.load(sqlContext.sparkSession, tableDir)

  /** Built once — schema and scan serve the same frame (the pinning
    * contract), and the lineage mirror is read once, not per accessor.
    * `at` is only meaningful for `files` (the one snapshot-shaped meta
    * table); combining it with lineage/tags is rejected rather than
    * silently ignored. */
  private val metaDF: DataFrame = {
    val spark = sqlContext.sparkSession
    import spark.implicits._
    require(at.isEmpty || meta == "files",
      s"""option "at" applies only to meta=files (lineage is the full """ +
        s"append-only history; tags are current refs) — got meta=$meta")
    meta match {
      case "lineage" => table.lineageTable
      case "files" =>
        val snap = at.map(r => table.snapshotAt(table.resolveRef(r)))
          .getOrElse(table.snapshot)
        snap.files
          .map(f => (f.path, f.bucket, f.rows, f.kind, f.schemaVersion,
            f.minLsn, f.maxLsn, f.addedV, f.fold, f.minTs, f.maxTs,
            f.tsCol))
          .toDF("path", "bucket", "rows", "kind", "schema_version",
            "min_lsn", "max_lsn", "added_v", "fold", "min_ts", "max_ts",
            "ts_col")
      case "tags" =>
        table.tags.toSeq.sortBy(_._1).toDF("tag", "version")
      case other => throw new IllegalArgumentException(
        s"unknown meta table '$other' — one of: lineage, files, tags")
    }
  }

  override val schema: StructType = metaDF.schema
  override def buildScan(): RDD[Row] = metaDF.rdd
}

/** `df.write.format("graft-table")` — the batch write path.
  *
  * Two input shapes:
  *  - **change-event envelope** (columns `lsn` + `op` present): applied
  *    verbatim through [[graft.cdc.MergeApply.merge]].
  *  - **plain rows** (no envelope): wrapped as insert events with LSNs
  *    assigned above the table's high-water mark, so under LWW the
  *    written rows replace any existing versions of their keys — the
  *    reference's Express-Loader bulk load shape (reference:
  *    engine/post_processors.py:18-63) — and merged like any batch:
  *    delta files that readers LWW-resolve, folded by the merge's
  *    compaction sweep.
  *
  * `SaveMode` semantics: `Append` loads into the (possibly new) table;
  * `Overwrite` replaces the table's contents in ONE atomic commit
  * (schema and column docs survive — the wipe_data contract; concurrent
  * readers see old state or new state, never an empty table);
  * `ErrorIfExists`/`Ignore` behave per their names. A missing table is
  * created from the written schema (`.option("nBuckets", n)` sizes the
  * layout, default 32).
  *
  * Idempotence: each anonymous write commits under a fresh app-scoped
  * txn slot, so re-running a script genuinely re-applies it (a batch
  * write is a user action, not a redelivery). Orchestrators that NEED
  * replay protection pass `.option("txnAppId", id)` +
  * `.option("batchId", n)` — the Delta txnAppId/txnVersion contract —
  * and a re-run of the same (id, n) is a no-op. */
object GraftBatchWrite {

  def write(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      """graft-table requires .option("path", <table dir>) / save(<dir>)"""))

    // ---- validate EVERY option before any state change: a typo'd
    // option (or a malformed batchId) must cost an error, never a table.
    // That includes unknown KEYS, not just bad values — a misspelled
    // .option("invalidRow", "off") or "mergeShema" silently applying the
    // default would change write semantics without any error. Read-side
    // keys are admitted because a view's options travel with INSERT INTO
    // (GraftBatchRelation.insert forwards viewOptions here).
    val knownKeys = Set(
      "path", "invalidrows", "nbuckets",
      "mergeschema", "txnappid", "batchid",
      "at", "meta", "sincelsn", "changesfrom", "changesto")
    val unknownKeys =
      parameters.keys.filterNot(k => knownKeys(k.toLowerCase)).toSeq.sorted
    require(unknownKeys.isEmpty,
      s"unknown graft-table write option(s): ${unknownKeys.mkString(", ")}" +
        " — known: path, invalidRows, nBuckets, " +
        "mergeSchema, txnAppId, batchId (plus read-side at/meta/" +
        "sinceLsn/changesFrom/changesTo on a view)")
    val hasLsn = data.columns.contains("lsn")
    val hasOp = data.columns.contains("op")
    require(hasLsn == hasOp,
      "half a change-event envelope: the frame carries " +
        (if (hasLsn) "'lsn' without 'op'" else "'op' without 'lsn'") +
        " — a full envelope applies as change events; dropping/renaming " +
        "the stray column writes it as plain data (auto-envelope would " +
        "silently overwrite its values)")
    val hasEnvelope = hasLsn && hasOp
    val invalid = graft.cdc.MergeConfig.checkInvalidRows(
      parameters.getOrElse("invalidRows", "fail"))
    val nBucketsOpt = parameters.get("nBuckets").map(_.toInt)
    val mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean)
    // txnAppId/batchId travel as a pair — a lone batchId silently
    // falling back to a fresh slot would drop the replay protection the
    // caller asked for
    val idem: Option[(String, Long)] =
      (parameters.get("txnAppId"), parameters.get("batchId")) match {
        case (Some(id), Some(b)) => Some((id, b.toLong))
        case (Some(_), None) => throw new IllegalArgumentException(
          """.option("txnAppId", …) needs .option("batchId", <n>) — """ +
            "the pair is the idempotence key for replayed batch writes")
        case (None, Some(_)) => throw new IllegalArgumentException(
          """.option("batchId", …) needs .option("txnAppId", <id>) — """ +
            "without the slot id the batch id protects nothing")
        case (None, None) => None
      }

    var table = LakeTable.load(spark, dir)
    val existed = table.exists
    if (mode == SaveMode.ErrorIfExists && existed)
      throw new IllegalArgumentException(
        s"lake table at $dir already exists (SaveMode.ErrorIfExists)")
    if (mode == SaveMode.Ignore && existed)
      return new GraftBatchRelation(sqlContext, dir, None, parameters)
    if (!existed)
      table = LakeTable.createTable(spark, dir, dataSchema(data),
        nBucketsOpt.getOrElse(32))

    conform(table, data, mergeSchema)

    val batch =
      if (hasEnvelope) data
      else {
        // partition-sparse but unique and strictly above the current
        // high-water: deterministic given the incoming partitioning
        val high = table.highLsn(table.snapshot)
        data
          .withColumn("lsn", lit(high + 1L) + monotonically_increasing_id())
          .withColumn("op", lit("I"))
      }

    val (txnApp, batchId) = idem match {
      case Some((id, b)) => (Some(id), b)
      case None =>
        // fresh slot per write: a re-run re-applies (see scaladoc); slot
        // retention evicts the oldest identities, so churn is bounded
        (Some("batch:" + java.util.UUID.randomUUID().toString), 0L)
    }
    val cfg = graft.cdc.MergeConfig(txnApp = txnApp, invalidRows = invalid)
    // Overwrite on an existing table is ONE atomic commit (retire every
    // live file + register the batch) — never truncate-then-load, which
    // publishes an empty table to concurrent readers and, under a
    // txnAppId replay, would destroy the data BEFORE the idempotence
    // guard could no-op the load. The guard sits inside the commit
    // protocol, so a replayed (txnAppId, batchId) Overwrite is a full
    // no-op, data intact.
    if (existed && mode == SaveMode.Overwrite)
      graft.cdc.MergeApply.replace(table, batch, batchId, cfg)
    else graft.cdc.MergeApply.merge(table, batch, batchId, cfg)
    new GraftBatchRelation(sqlContext, dir, None, parameters)
  }

  /** The frame's columns minus the transport ones — the envelope (`lsn`,
    * `op`) and `extras` (the op="S" registry's evolution channel) — which
    * [[conform]] checks and a missing table is created with. */
  private def dataSchema(data: DataFrame): StructType =
    StructType(data.schema.fields.filterNot(f =>
      Set("lsn", "op", "extras").contains(f.name)))

  /** The column check of both `graft-table` writers — this batch write and
    * the streaming sink ([[graft.streaming.LakeTableSink]]) — run before
    * anything merges, by the one schema rule [[LakeTable.evolvedSchema]]
    * (names match ignoring case; an incompatible type fails loud).
    *
    * With `mergeSchema` (Delta's schema evolution on write), the frame's
    * columns evolve the table by [[LakeTable.evolveSchema]] in ONE schema
    * commit for the whole diff: new columns are added (old rows read back
    * null) with their field comments as column docs, compatibly-typed
    * columns widen. The schema commit precedes the data commit as its own
    * idempotent commit — the engine's evolution model everywhere (op="S"
    * events are applied the same way): a failed data write leaves a valid
    * evolved-but-unfilled schema, retried idempotently.
    *
    * Without it, the batch is refused unless the rule leaves the schema
    * as it is: a typo'd column must not silently vanish, nor a wider
    * value be cast down, which the merge's alignment would do. */
  private[graft] def conform(table: LakeTable, data: DataFrame,
      mergeSchema: Boolean): Unit = {
    val incoming = dataSchema(data)
    if (mergeSchema)
      table.evolveSchema(incoming, incoming.fields
        .flatMap(f => f.getComment().map(f.name -> _)).toMap)
    else {
      val cur = table.snapshot.userSchema
      val next = LakeTable.evolvedSchema(cur, incoming)
      require(next == cur, "columns not in the table schema: " +
        next.fields.filterNot(cur.fields.contains)
          .map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", ") +
        """ — evolve the schema with .option("mergeSchema", "true") """ +
        "or drop/rename them (silently discarding data is not an option)")
    }
  }
}
