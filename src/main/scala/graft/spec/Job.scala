package graft.spec

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.{MergeApply, MergeConfig, MergeResult}
import graft.lake.LakeTable
import graft.sources.{BinarySink, Extractors, HttpStaging, LocalFileStaging, Staging, TabularSink, XlsExtractor, XlsxExtractor}

/** Where a job's input comes from — the reference's `source_type` +
  * connector selection (reference: engine/etl_util.py:478-482, 560-590:
  * source_type http/sftp/ftp/gcp/local → connector class). Every variant
  * reduces to the [[graft.sources.Staging]] contract: materialize the
  * object into the staging dir, run the distributed pipeline from there. */
sealed trait JobSource
object JobSource {
  /** A Hadoop-visible file (the reference's `source_type: local`). */
  final case class LocalFile(uri: String) extends JobSource
  /** A URL fetched through [[graft.sources.HttpStaging]] (`source_type:
    * http`); `file:` URLs exercise the same path in zero-egress tests. */
  final case class Url(url: String) extends JobSource
  /** One member of a ZIP archive (`compressed_file_to_extract`,
    * reference: etl_util.py:488). */
  final case class ZipMember(zip: String, member: String) extends JobSource
  /** Bring-your-own staging (the SFTP/FTP/GCS plug point). */
  final case class Custom(staging: Staging, uri: String) extends JobSource
}

/** How the staged file parses — the reference's extension-driven
  * `select_extractor` (reference: engine/etl_util.py:528-545), made
  * explicit and typed. */
sealed trait JobExtractor
object JobExtractor {
  final case class Csv(opts: Extractors.CsvOptions = Extractors.CsvOptions())
    extends JobExtractor
  final case class Json(multiLine: Boolean = true) extends JobExtractor
  /** XLSX workbook ([[XlsxExtractor]]); [[JobSpec.rowsToSkip]] maps onto
    * the sheet-row skip (the reference's Excel `rows_to_skip`,
    * etl_util.py:486) — the line-strip staging step would corrupt a ZIP. */
  final case class Xlsx(
      opts: XlsxExtractor.XlsxOptions = XlsxExtractor.XlsxOptions())
    extends JobExtractor
  /** Legacy binary XLS workbook ([[XlsExtractor]], BIFF8) — the
    * reference's `OldExcelExtractor` (extractors.py:310-352); same
    * sheet-side `rowsToSkip` mapping as [[Xlsx]]. */
  final case class Xls(
      opts: XlsExtractor.XlsOptions = XlsExtractor.XlsOptions())
    extends JobExtractor
  case object GeoJson extends JobExtractor
  /** Whole-file binary passthrough (the reference's `FileExtractor` →
    * filestore path); requires a [[JobDestination.BinaryDir]]. */
  case object WholeFile extends JobExtractor
}

/** Where the output lands — the reference's `destination` dispatch
  * (reference: engine/etl_util.py:756-778: ckan datastore / file /
  * ckan_filestore → loader class). */
sealed trait JobDestination
object JobDestination {
  /** MERGE into a [[graft.lake.LakeTable]] (the datastore-loader analog:
    * both upload methods merge under the epoch guard, schema on first
    * create). */
  final case class Lake(dir: String, nBuckets: Int = 32) extends JobDestination
  /** Create-or-append CSV directory ([[graft.sources.TabularSink]]). */
  final case class CsvDir(dir: String) extends JobDestination
  /** Raw staged-file copy ([[graft.sources.BinarySink.copyFile]]). */
  final case class BinaryDir(dir: String) extends JobDestination
  /** Register the job's source URL as a named linked resource on an
    * EXISTING lake table — nothing is fetched or loaded, only the
    * catalog entry moves (the reference's `ckan_link` destination
    * "skipping the pipeline", reference: engine/etl_util.py:673-685). */
  final case class Link(tableDir: String, resourceName: String)
    extends JobDestination
}

/** The declarative job — the Spark twin of the reference's `job_dict`
  * (one dict per dataset feed, bound and executed by
  * `Job.__init__`/`run_pipeline`/launchpad; reference:
  * engine/etl_util.py:476-521, 705-772, engine/launchpad.py:249-337).
  * A rocket-etl user's mental model carries over field-for-field:
  *
  *  - `source`/`stagingDir` ← source_type/source_full_url + connector
  *  - `extractor` + `rowsToSkip` ← select_extractor + rows_to_skip
  *  - `schema` ← the marshmallow schema (rename/cast/default/order)
  *  - `filters` ← the row-filter triple list
  *  - `clean` ← custom_processing (MUST stay a declarative DataFrame
  *    transform so it fuses into the load plan)
  *  - `keyFields` ← primary_key_fields
  *  - `method`/`alwaysWipeData`/`alwaysClearFirst` ← upload_method +
  *    always_wipe_data/always_clear_first
  *  - `timeField` ← time_field (registered as the `watermark.column`
  *    table property on create → [[graft.lake.LakeTable.incrementalTail]])
  *  - `checksumGate` ← the input-checksum duplicate-run suppression
  *    (reference: engine/wprdc_etl/pipeline/connectors.py:73-93,
  *    pipeline.py:262-273, 338-341): identical input bytes — even
  *    re-landed under a new name — skip the run.
  */
final case class JobSpec(
    jobCode: String,
    source: JobSource,
    stagingDir: String,
    extractor: JobExtractor,
    destination: JobDestination,
    /** Leading lines stripped from the staged file before extraction
      * (the reference's rows_to_skip, etl_util.py:486). */
    rowsToSkip: Int = 0,
    /** Projection: rename/cast/default/order. Empty = passthrough. */
    schema: Seq[Projection.Field] = Nil,
    /** AND-ed row predicates ([[FilterDsl]]), applied after projection. */
    filters: Seq[FilterDsl.Pred] = Nil,
    /** Drop rows whose values are all null (`ignore_empty_rows`). */
    dropEmptyRows: Boolean = false,
    /** Custom-processing seam: a declarative DataFrame transform run
      * after filters, before the load (reference custom_processing,
      * etl_util.py:760-767). */
    clean: DataFrame => DataFrame = identity,
    /** Primary key of the feed (primary_key_fields). Required for the
      * Lake destination: the MERGE key derives from these columns. */
    keyFields: Seq[String] = Nil,
    /** "upsert" or "insert" — the reference upload methods
      * (loaders.py:370-379). Into a Lake table both merge (LWW per key
      * per run): a merge reads nothing existing, so insert has no faster
      * path. The insert-only `CsvDir` destination requires "insert". */
    method: String = "upsert",
    /** Truncate the destination before loading (always_wipe_data). */
    alwaysWipeData: Boolean = false,
    /** Drop + recreate the destination schema before loading
      * (always_clear_first). */
    alwaysClearFirst: Boolean = false,
    /** Event-time column registered on table create (time_field). */
    timeField: Option[String] = None,
    /** Skip the run when the staged input's md5 equals the last
      * successful run's (content-based: a re-land under a new NAME still
      * skips — stricter than the reference's per-target checksum). */
    checksumGate: Boolean = true,
    /** End quietly (applied=false, skipReason) when the source file does
      * not exist, instead of failing — `ignore_if_source_is_missing`
      * (reference: etl_util.py:501-505, 773-777: "data from the previous
      * year in a separate file in the month of January"). */
    ignoreIfSourceMissing: Boolean = false,
    /** Merge tuning for the Lake destination. */
    merge: MergeConfig = MergeConfig())

/** Outcome of one [[JobRunner.run]]. `applied=false` + `skipReason` is
  * the checksum-gate no-op (the reference's "skipping the extraction and
  * loading" console path, pipeline.py:338-341). */
final case class JobResult(
    applied: Boolean,
    skipReason: Option[String],
    stagedPath: String,
    rows: Long,
    merge: Option[MergeResult])

/** Binds and executes a [[JobSpec]]: stage → checksum gate → strip →
  * extract → project → filter → clean → load — the engine's
  * `run_pipeline`/launchpad analog. Everything between "staged file" and
  * "load" is ONE declarative Spark plan (the scan, projection, filters
  * and clean fuse; filters push into the reader); staging and the gate
  * are driver-side file ops, exactly like the reference's connectors. */
object JobRunner {

  /** Table-property stamp of the composite-key packing format (see
    * [[envelope]]); bumped whenever the packed conv_id encoding changes
    * so a format mismatch fails fast instead of silently duplicating. */
  private val KeyPackProp = "graft.keypack"
  private val KeyPackVersion = "tagged-v1"
  /** Stamp for tables keyed by the lake's native (conv_id, turn_idx). */
  private val KeyPackNative = "native"

  /** MERGE-envelope derivation for the Lake destination. The lake's
    * native key is (conv_id: string, turn_idx: int); a feed whose
    * `keyFields` already ARE those columns maps through unchanged. Any
    * other primary key is packed injectively: each component is
    * prefix-tagged (`n` = NULL, `v` + value otherwise — `concat_ws`
    * alone SKIPS nulls, which would collapse the distinct composite
    * keys (null, "x") and ("x", null) into one MERGE key and silently
    * drop a row), the value has both control characters escaped
    * (`\\u0000` as the escape lead), and the tagged components are
    * joined on `\\u0001`. Escaping matters beyond CSV: the same
    * envelope serves the JSON/GeoJSON extractors, where a literal
    * `\\u0001` inside a key value is legal — unescaped it would make
    * distinct composites like ("x\\u0001y","z") and ("x","y\\u0001z")
    * pack to one key and silently drop a row. A left-to-right scan in
    * which `\\u0000` always consumes the next character decodes the
    * packing uniquely, so distinct key tuples always yield distinct
    * conv_ids. Hash-bucketing, LWW and the epoch guard then work
    * identically for any feed. */
  private[spec] def envelope(df: DataFrame, keyFields: Seq[String],
      epoch: Long): DataFrame = {
    require(keyFields.nonEmpty, "Lake destination requires keyFields")
    val native = keyFields == graft.model.Schemas.keyCols &&
      df.schema.fieldNames.contains("turn_idx")
    val keyed =
      if (native) df
        .withColumn("conv_id", col("conv_id").cast(StringType))
        .withColumn("turn_idx", col("turn_idx").cast(IntegerType))
      else df
        .withColumn("conv_id",
          concat_ws("\u0001", keyFields.map { f =>
            val v = col(f).cast(StringType)
            when(v.isNull, lit("n")).otherwise(concat(lit("v"),
              regexp_replace(v, "([\u0000\u0001])", "\u0000$1")))
          }: _*))
        .withColumn("turn_idx", lit(0))
    keyed
      .withColumn("lsn", lit(epoch))
      .withColumn("op", lit("U"))
  }

  /** Deterministic in-batch key dedup: one row per key, the max by
    * full-row struct ordering — permutation- and plan-invariant (the
    * reference's server-side upsert keeps whichever duplicate arrives
    * last in FILE order, which has no distributed meaning; a total-order
    * rule does — same argument as [[Linkage]]'s merge rules). */
  private def dedupKeys(df: DataFrame): DataFrame = {
    val all = struct(df.columns.map(col).toSeq: _*)
    df.groupBy(col("conv_id"), col("turn_idx"))
      .agg(max_by(all, all).as("__r"))
      .select(col("__r.*"))
  }

  private def stage(spark: SparkSession, spec: JobSpec): String =
    spec.source match {
      case JobSource.LocalFile(uri) =>
        LocalFileStaging.fetch(spark, uri, spec.stagingDir)
      case JobSource.Url(url) => HttpStaging.fetch(spark, url, spec.stagingDir)
      case JobSource.ZipMember(zip, member) =>
        Extractors.zipMember(spark, zip, member, spec.stagingDir)
      case JobSource.Custom(staging, uri) =>
        staging.fetch(spark, uri, spec.stagingDir)
    }

  /** md5 of a staged input's bytes (driver-side stream, like the
    * reference's connector checksum, connectors.py:73-93). A staged
    * DIRECTORY (a paged fetch, [[graft.sources.PagedHttpStaging]]) hashes
    * every file in name order, each prefixed by its name and a NUL — so
    * the same bytes split at a different page boundary, or the same pages
    * under different names, fingerprint differently (re-pagination is a
    * different input, and the gate must never skip content it hasn't
    * seen in exactly this shape). */
  def md5OfFile(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val md = java.security.MessageDigest.getInstance("MD5")
    def hashOne(f: Path): Unit = {
      val in = fs.open(f)
      try {
        val buf = new Array[Byte](65536)
        Iterator.continually(in.read(buf)).takeWhile(_ >= 0)
          .foreach(n => md.update(buf, 0, n))
      } finally in.close()
    }
    if (fs.getFileStatus(p).isDirectory)
      fs.listStatus(p).filter(_.isFile)
        // skip hidden/metadata files (.crc sidecars, _SUCCESS markers) —
        // the scan ignores them, so the gate must fingerprint what the
        // scan will actually read
        .filterNot(st => st.getPath.getName.startsWith(".") ||
          st.getPath.getName.startsWith("_"))
        .sortBy(_.getPath.getName)
        .foreach { st =>
          md.update(st.getPath.getName.getBytes("UTF-8"))
          md.update(0.toByte)
          hashOne(st.getPath)
        }
    else hashOne(p)
    md.digest().map("%02x".format(_)).mkString
  }

  /** The per-job checksum state file — the analog of the reference's
    * per-pipeline status row holding the last input checksum
    * (pipeline.py:262-273 reads it back on the next run). */
  private def statePath(spec: JobSpec): Path =
    new Path(new Path(spec.stagingDir, ".graft_job_state"),
      s"${spec.jobCode}.md5")

  private def lastChecksum(spark: SparkSession, spec: JobSpec): Option[String] = {
    val p = statePath(spec)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  private def recordChecksum(spark: SparkSession, spec: JobSpec,
      md5: String): Unit = {
    val p = statePath(spec)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(md5.getBytes("UTF-8")) finally out.close()
  }

  private def extract(spark: SparkSession, spec: JobSpec,
      staged: String): DataFrame = spec.extractor match {
    case JobExtractor.Csv(opts) => Extractors.csv(spark, staged, opts)
    case JobExtractor.Xlsx(opts) => XlsxExtractor.xlsx(spark, staged,
      opts.copy(skipRows = opts.skipRows + spec.rowsToSkip))
    case JobExtractor.Xls(opts) => XlsExtractor.xls(spark, staged,
      opts.copy(skipRows = opts.skipRows + spec.rowsToSkip))
    case JobExtractor.Json(multiLine) => Extractors.json(spark, staged, multiLine)
    case JobExtractor.GeoJson => Extractors.geoJson(spark, staged)
    case JobExtractor.WholeFile => Extractors.wholeFiles(spark, staged)
  }

  /** Run one job end-to-end. Idempotent at two levels: the checksum gate
    * skips unchanged inputs entirely, and the Lake epoch guard makes a
    * crashed-and-rerun load a no-op for the epoch that already landed. */
  def run(spark: SparkSession, spec: JobSpec): JobResult = {
    require(spec.method == "upsert" || spec.method == "insert",
      s"unknown method '${spec.method}' (upsert|insert)")
    // a Link destination skips the pipeline entirely (reference
    // etl_util.py:673-685): the source URL IS the payload — register it
    // on the target table's catalog properties and stop
    spec.destination match {
      case JobDestination.Link(dir, name) =>
        val url = spec.source match {
          case JobSource.Url(u) => u
          case JobSource.LocalFile(u) => u
          case s => throw new IllegalArgumentException(
            "a Link destination registers the source URL itself and " +
              s"needs a Url or LocalFile source, got $s")
        }
        val table = new LakeTable(spark, dir)
        require(table.exists,
          s"Link destination: no lake table at $dir to attach '$name' to")
        // idempotence gate, like the checksum gate: a scheduled fleet
        // re-running an unchanged link must not publish a new snapshot
        // version (setProperty commits unconditionally) just to set a
        // property to the value it already has
        if (table.linkedResources.get(name).contains(url))
          return JobResult(applied = false,
            Some(s"link '$name' already registered"), "", 0L, None)
        table.linkResource(name, url)
        return JobResult(applied = true, None, "", 0L, None)
      case _ => ()
    }
    val staged =
      try stage(spark, spec)
      catch {
        case e @ (_: java.io.FileNotFoundException |
                  _: java.nio.file.NoSuchFileException)
            if spec.ignoreIfSourceMissing =>
          // the reference's "that's not surprising" quiet exit
          return JobResult(applied = false,
            Some(s"source missing: ${e.getMessage}"), "", 0L, None)
      }
    // a paged feed with no rows today stages an EMPTY directory — a valid
    // zero-row run (the reference pager returns an empty row list), not a
    // schema-inference crash in the extractor
    val stagedPath = new Path(staged)
    val stagedFs = stagedPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (stagedFs.getFileStatus(stagedPath).isDirectory &&
        !stagedFs.listStatus(stagedPath).exists(st => st.isFile &&
          !st.getPath.getName.startsWith(".") &&
          !st.getPath.getName.startsWith("_")))
      return JobResult(applied = false,
        Some("staged input is empty (the feed returned no pages)"),
        staged, 0L, None)
    val md5 =
      if (spec.checksumGate) Some(md5OfFile(spark, staged)) else None
    if (md5.isDefined && lastChecksum(spark, spec) == md5) {
      return JobResult(applied = false,
        Some(s"input checksum unchanged (${md5.get.take(12)}…)"),
        staged, 0L, None)
    }
    val workbook = spec.extractor.isInstanceOf[JobExtractor.Xlsx] ||
      spec.extractor.isInstanceOf[JobExtractor.Xls]
    val input =
      // workbooks skip rows sheet-side (see extract): line-stripping a
      // ZIP or OLE2 container would corrupt it
      if (spec.rowsToSkip > 0 && !workbook) {
        val sp = new Path(staged)
        require(!sp.getFileSystem(spark.sessionState.newHadoopConf())
            .getFileStatus(sp).isDirectory,
          "rowsToSkip needs a single staged file; a paged fetch stages a " +
            "directory of self-delimiting pages (strip rows in the pager's " +
            "page rendering instead)")
        Extractors.stripLeadingRows(spark, staged, spec.stagingDir,
          spec.rowsToSkip, encoding = spec.extractor match {
            // the strip round-trips bytes through a charset; it must be
            // the same one the CSV reader will use
            case JobExtractor.Csv(o) => o.encoding
            case _ => "UTF-8"
          })
      } else staged

    val result = spec.extractor match {
      case JobExtractor.WholeFile =>
        val dest = spec.destination match {
          case JobDestination.BinaryDir(dir) => dir
          case d => throw new IllegalArgumentException(
            s"WholeFile extractor needs a BinaryDir destination, got $d")
        }
        require(spec.rowsToSkip == 0,
          "rowsToSkip has no meaning for a WholeFile (binary) job")
        BinarySink.copyFile(spark, input,
          new Path(dest, new Path(input).getName).toString, wipe = true)
        JobResult(applied = true, None, staged, 1L, None)
      case _ =>
        // a tabular extractor's output can't land in a raw-bytes sink —
        // silently copying the staged file would discard the user's
        // projection/filters/clean; fail loudly instead
        require(!spec.destination.isInstanceOf[JobDestination.BinaryDir],
          "BinaryDir destination requires the WholeFile extractor " +
            "(tabular output would be silently discarded)")
        val extracted = extract(spark, spec, input)
        val projected =
          if (spec.schema.nonEmpty) Projection(extracted, spec.schema)
          else extracted
        val filtered = FilterDsl(projected, spec.filters)
        val emptied =
          if (spec.dropEmptyRows) Projection.dropEmptyRows(filtered)
          else filtered
        val cleaned = spec.clean(emptied)
        load(spark, spec, cleaned, staged)
    }
    // the checksum is the last-SUCCESSFUL-run marker (reference
    // pipeline.py:262-273): an unapplied load (epoch superseded by a
    // concurrent run) must NOT mark its content as loaded, or the next
    // run of that content would be checksum-skipped without ever landing
    if (result.applied) md5.foreach(recordChecksum(spark, spec, _))
    result
  }

  private def load(spark: SparkSession, spec: JobSpec, out: DataFrame,
      staged: String): JobResult = spec.destination match {
    case JobDestination.Lake(dir, nBuckets) =>
      val table = new LakeTable(spark, dir)
      val userSchema = lakeSchema(out, spec.keyFields)
      val packed = spec.keyFields != graft.model.Schemas.keyCols
      val wantStamp = if (packed) KeyPackVersion else KeyPackNative
      if (!table.exists)
        table.create(userSchema, nBuckets,
          properties = spec.timeField.map(TimeField.WatermarkColumn -> _)
            .toMap + (KeyPackProp -> wantStamp))
      else {
        // key-format guard, BOTH directions: a packed-key spec writing
        // into a table keyed under another packing, OR a native-key spec
        // writing into a packed-stamped table, would silently duplicate
        // every row instead of updating it (the conv_id values never
        // collide across formats). Stamp on create, fail fast on any
        // mismatch (re-key by replaying the feed into a fresh table, or
        // run with alwaysClearFirst). An UNSTAMPED non-empty table is
        // accepted only by a native-key spec — the pre-stamp builds'
        // common case; a packed spec cannot know which packing an
        // unstamped table used.
        val have = table.snapshot.properties.get(KeyPackProp)
        val ok =
          if (packed) have.contains(KeyPackVersion)
          else have.forall(_ == KeyPackNative)
        require(spec.alwaysClearFirst || spec.alwaysWipeData || ok ||
            table.snapshot.files.isEmpty,
          s"table $dir is keyed under format " +
            s"${have.getOrElse("<unstamped>")}, this spec writes " +
            s"$wantStamp - upserts would duplicate instead of update; " +
            "replay into a fresh table or set alwaysClearFirst")
      }
      if (spec.alwaysClearFirst) table.replaceSchema(userSchema)
      else if (spec.alwaysWipeData) table.truncate()
      if (!table.snapshot.properties.get(KeyPackProp).contains(wantStamp))
        table.setProperty(KeyPackProp, wantStamp): Unit
      val epoch = table.snapshot.maxCommittedEpoch + 1
      val batch = envelope(out, spec.keyFields, epoch)
      // dedup in-batch duplicates: a run's rows all carry lsn = epoch, so
      // leaving duplicate keys in the batch would make the read-time LWW
      // winner plan-order-dependent — the opposite of the total-order
      // determinism dedupKeys establishes. (Across runs, the later
      // epoch's higher lsn still wins.)
      val res = MergeApply.merge(table, dedupKeys(batch), epoch, spec.merge)
      // applied=false here means the derived epoch was already committed
      // (a replayed run, or a concurrent job on the same table won the
      // epoch) — surface it as a skip, like the checksum gate does
      JobResult(res.applied,
        if (res.applied) None
        else Some("epoch already committed (replayed or concurrent run)"),
        staged, res.rowsApplied, Some(res))
    case JobDestination.CsvDir(dir) =>
      require(spec.method == "insert",
        "CsvDir is insert-only (reference loaders.py:671)")
      if (spec.alwaysWipeData || spec.alwaysClearFirst) {
        val p = new Path(dir)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(p)) fs.delete(p, true)
      }
      // one pass over the extract pipeline: cache, write from the cache,
      // count from the cache (a bare pre-count would re-run the whole
      // scan+projection+filter subtree a second time for the write)
      val cached = out.persist()
      try {
        TabularSink.append(cached, dir)
        JobResult(applied = true, None, staged, cached.count(), None)
      } finally cached.unpersist()
    case JobDestination.BinaryDir(_) =>
      // unreachable: run() routes WholeFile before load() and rejects
      // BinaryDir for tabular extractors
      throw new IllegalStateException(
        "BinaryDir load without the WholeFile extractor")
    case JobDestination.Link(_, _) =>
      // unreachable: run() short-circuits Link before staging
      throw new IllegalStateException("Link destination reached load()")
  }

  /** Run a fleet of jobs with launchpad's selection semantics
    * (reference: engine/launchpad.py:117-123, 222-247): `codes` empty →
    * every job; a code ending in `-` selects by prefix; otherwise exact
    * match. One job's failure does not stop the fleet — it is captured
    * per job (launchpad logs and continues, notify.py:3-36) and returned
    * as a `Left(throwable)`. Returns (jobCode → outcome) in spec order. */
  def runAll(spark: SparkSession, specs: Seq[JobSpec],
      codes: Seq[String] = Nil): Seq[(String, Either[Throwable, JobResult])] = {
    val selected =
      if (codes.isEmpty) specs
      else specs.filter(s => codes.exists(c =>
        if (c.endsWith("-")) s.jobCode.startsWith(c.dropRight(1))
        else s.jobCode == c))
    selected.map { s =>
      s.jobCode -> (try Right(run(spark, s))
      catch { case e if scala.util.control.NonFatal(e) => Left(e) })
    }
  }

  /** Lake user schema for a job feed: conv_id/turn_idx first (the MERGE
    * key), then every output column that isn't one of them. */
  private def lakeSchema(out: DataFrame, keyFields: Seq[String]): StructType = {
    val payload = out.schema.fields.toSeq
      .filterNot(f => f.name == "conv_id" || f.name == "turn_idx")
      .map(f => f.copy(nullable = true))
    StructType(
      StructField("conv_id", StringType, nullable = false) +:
      StructField("turn_idx", IntegerType, nullable = false) +:
      payload)
  }
}
