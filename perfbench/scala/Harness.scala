package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.cdc.{MergeResult, PipelineConfig}
import graft.gen.{ChangeLogGen, GenConfig}
import graft.lake.LakeTable

/** Raw measurements of one run. The Python driver turns the samples into
  * medians and percentiles; nothing here summarises. */
final class Rec {
  val values = mutable.LinkedHashMap.empty[String, Double]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val info = mutable.LinkedHashMap.empty[String, String]
  val failures = mutable.ArrayBuffer.empty[String]

  /** Per feed file: seconds when it was due, when it landed, and when the
    * epoch containing it committed (one clock, arbitrary origin). */
  val files = mutable.ArrayBuffer.empty[Seq[Double]]
  /** Operation outcomes by kind: (attempted, failed). */
  val ops = mutable.LinkedHashMap.empty[String, (Long, Long)]

  def set(k: String, v: Double): Unit = synchronized { values(k) = v }
  def add(k: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  }
  def file(dueNs: Long, landedNs: Long, commitNs: Long): Unit = synchronized {
    files += Seq(dueNs / 1e9, landedNs / 1e9, commitNs / 1e9)
  }
  /** One attempted operation of a kind; a failed or refused one is kept
    * with its reason. */
  def op(kind: String, ok: Boolean, what: => String): Unit = synchronized {
    val (a, f) = ops.getOrElse(kind, (0L, 0L))
    ops(kind) = (a + 1, if (ok) f else f + 1)
    if (!ok) failures += s"$kind: $what"
  }

  def json: String = synchronized {
    Json.render(mutable.LinkedHashMap[String, Any](
      "ops" -> ops.map { case (k, (a, f)) => k -> Seq(a, f) },
      "failures" -> failures.toSeq, "values" -> values,
      "samples" -> samples, "files" -> files, "info" -> info))
  }
}

object Json {
  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case other => str(other.toString)
  }
}

object Clock {
  def now: Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

/** Stage and job records keyed by the job group the bench set on the
  * submitting thread (`epoch-<id>` around a merge, `lookup` around a point
  * read). Only attached in traced runs. */
final class StageTrace extends SparkListener {
  import StageTrace._

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  val stages = new ConcurrentLinkedQueue[St]()
  val jobs = new ConcurrentLinkedQueue[Jb]()

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val g = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(j.jobId, g)
    jobStart.put(j.jobId, j.time)
    j.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    jobs.add(Jb(jobGroup.getOrDefault(j.jobId, ""),
      jobStart.getOrDefault(j.jobId, j.time), j.time))

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    val m = i.taskMetrics
    for (a <- i.submissionTime; b <- i.completionTime)
      stages.add(St(stageGroup.getOrDefault(i.stageId, ""), a, b,
        BenchBus.isShuffleMap(i),
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.diskBytesSpilled, i.numTasks))
  }

  /** Forget everything recorded; called between phases, when no job runs.
    * A new SparkContext numbers its jobs and stages from 0 again. */
  def clear(): Unit = {
    stages.clear(); jobs.clear()
    stageGroup.clear(); jobGroup.clear(); jobStart.clear()
  }
}

object StageTrace {
  final case class St(group: String, sub: Long, done: Long, isMap: Boolean,
      runMs: Long, shufWrite: Long, shufRead: Long, spill: Long, tasks: Int)
  final case class Jb(group: String, start: Long, end: Long)
}

/** Every `StreamingQueryProgress`, keyed by query name. */
final class ProgressTrace extends StreamingQueryListener {
  val byName = new ConcurrentHashMap[String, ConcurrentLinkedQueue[StreamingQueryProgress]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    byName.computeIfAbsent(Option(e.progress.name).getOrElse(""),
      _ => new ConcurrentLinkedQueue[StreamingQueryProgress]()).add(e.progress)

  /** Progress of triggers that ran a batch, for queries whose name starts
    * with `prefix`. */
  def batches(prefix: String): Seq[StreamingQueryProgress] =
    byName.asScala.toSeq.filter(_._1.startsWith(prefix))
      .flatMap(_._2.asScala).filter(_.durationMs.containsKey("addBatch"))

  def clear(): Unit = byName.clear()
}

/** Driver-side record of one CdcPipeline query through the public
  * `preBatch`/`postBatch` hooks: commit instant and merge outcome per
  * epoch. In traced runs `preBatch` also tags the epoch's Spark jobs with
  * the job group `epoch-<id>`. */
final class EpochLog(ckpt: String, trace: Boolean, sc: SparkContext) {
  val commitNs = new ConcurrentHashMap[Long, java.lang.Long]()
  val results = new ConcurrentHashMap[Long, MergeResult]()

  def hooks(cfg: PipelineConfig): PipelineConfig = cfg.copy(
    preBatch = (b: DataFrame, e: Long) => {
      if (trace) sc.setJobGroup(s"epoch-$e", s"epoch $e", false)
      b
    },
    postBatch = (_: LakeTable, e: Long, r: MergeResult) => {
      commitNs.put(e, System.nanoTime())
      results.put(e, r)
      if (trace) sc.clearJobGroup()
    })

  def epochs: Seq[Long] = commitNs.keySet.asScala.toSeq.sorted
  def lastCommitNs: Long = commitNs.values.asScala.map(_.longValue).max

  /** Feed file name -> epoch whose commit made it visible. Read after the
    * query stopped from its checkpoint: `offsets/<epoch>` holds the file
    * source's end log offset, and the files under `sources/0` list the
    * feed files per log offset. */
  def fileEpochs(): Map[String, Long] = {
    val LogOff = """"logOffset":(\d+)""".r
    val ends = Option(new File(ckpt, "offsets").listFiles).getOrElse(Array.empty)
      .filter(_.getName.forall(_.isDigit)).toSeq
      .flatMap { f =>
        LogOff.findFirstMatchIn(Files.readString(f.toPath))
          .map(m => f.getName.toLong -> m.group(1).toLong)
      }.sortBy(_._1)
    val Entry = """"path":"([^"]*)".*"batchId":(\d+)""".r
    val fileBatch = Option(new File(ckpt, "sources/0").listFiles)
      .getOrElse(Array.empty).filterNot(_.getName.startsWith(".")).toSeq
      .flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala)
      .flatMap(l => Entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong)
    fileBatch.flatMap { case (name, b) =>
      ends.find(_._2 >= b).map(e => name -> e._1)
    }.toMap
  }
}

/** The session, listeners and helpers one run shares. */
final class Ctx(var spark: SparkSession, var rec: Rec, val trace: Boolean,
    val work: String, val cores: Int) {
  val stages = new StageTrace
  val progress = new ProgressTrace
  attach()

  def sc: SparkContext = spark.sparkContext

  private def attach(): Unit = if (trace) {
    sc.addSparkListener(stages)
    spark.streams.addListener(progress)
  }

  /** Restart the session at another core count (the traced scaling replay). */
  def restart(newCores: Int): Unit = {
    spark.stop()
    spark = Ctx.session(newCores, work)
    attach()
  }

  def drain(): Unit = BenchBus.drain(sc)
  def resetTrace(): Unit = if (trace) { drain(); stages.clear(); progress.clear() }
}

object Ctx {
  /** The CDC session as the repo configures it today: shuffle partitions
    * = 4 x cores, AQE off, UTC, microsecond parquet timestamps. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Bench {
  val FilesPerEpoch = 8

  /** Order-independent fingerprint of a table state: row count, xor and
    * low-32-bit sum of a per-row xxhash64 over the columns in name order. */
  def fingerprint(df: DataFrame): Seq[Long] = {
    val h = xxhash64(df.columns.sorted.toSeq.map(col): _*)
    val r = df.agg(count(lit(1)), bit_xor(h),
      sum(h.bitwiseAND(lit(0xffffffffL)))).head()
    Seq(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Fingerprint of `ChangeLogGen.oracleFinalState`, the sequential replay
    * oracle, computed with the same expression as [[fingerprint]]. */
  def oracleFingerprint(spark: SparkSession, cfg: GenConfig): Seq[Long] = {
    import spark.implicits._
    fingerprint(ChangeLogGen.oracleFinalState(cfg).toDF())
  }

  /** Write delivery slots [lo, hi) as `nFiles` equal, contiguous flat
    * parquet files `<prefix>_<i>.parquet` under `dir`, in one Spark job.
    * File i gets the modification time `mtime0 + i` seconds: the file
    * stream source admits new files oldest first, so epochs take the files
    * in delivery order whatever order the write tasks finished in. */
  def writeSlots(spark: SparkSession, cfg: GenConfig, dir: String,
      prefix: String, lo: Long, hi: Long, nFiles: Int, mtime0: Long): Unit = {
    import spark.implicits._
    val tmp = s"$dir/.tmp-$prefix"
    spark.range(lo, hi, 1, nFiles).as[Long]
      .mapPartitions(_.map(s => ChangeLogGen.eventAt(cfg,
        ChangeLogGen.deliveredLsn(cfg, s))))
      .toDF().write.parquet(tmp)
    val parts = new File(tmp).listFiles
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(parts.length == nFiles, s"expected $nFiles files, got ${parts.length}")
    parts.zipWithIndex.foreach { case (f, i) =>
      val dst = Paths.get(dir, f"${prefix}_$i%05d.parquet")
      Files.move(f.toPath, dst)
      dst.toFile.setLastModified((mtime0 + i) * 1000L)
    }
    rmrf(tmp)
  }

  def duBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
  }

  def move(src: String, dst: String): Unit =
    Files.move(Paths.get(src), Paths.get(dst), StandardCopyOption.ATOMIC_MOVE)

  def convId(k: Long): String = f"conv_$k%010d"

  /** Generated feed files are stamped from 2026-01-01 on. */
  val FeedEpochS = 1767225600L

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** One point lookup through `LakeTable.readConv`, every row consumed.
    * A result is valid when every row belongs to the conversation and no
    * turn appears twice (LWW resolved to one version per key). */
  def lookup(ctx: Ctx, table: LakeTable, conv: String): Unit = {
    if (ctx.trace) {
      val s = table.snapshot
      val b = LakeTable.bucketOf(conv, s.nBuckets)
      ctx.rec.add("deltas_at_lookup",
        s.files.count(f => f.bucket == b && f.kind == "delta").toDouble)
      ctx.sc.setJobGroup("lookup", "lookup", false)
    }
    val t0 = Clock.now
    val ok =
      try {
        val rows = table.readConv(conv).collect()
        rows.forall(_.getAs[String]("conv_id") == conv) &&
          rows.map(_.getAs[Int]("turn_idx")).distinct.length == rows.length
      } catch { case e: Exception => System.err.println(s"lookup $conv: $e"); false }
    val msv = Clock.ms(t0)
    if (ctx.trace) ctx.sc.clearJobGroup()
    ctx.rec.add("lookup_ms", msv)
    if (ctx.trace) {
      val d = ctx.rec.samples("deltas_at_lookup").last
      ctx.rec.add(if (d == 0) "lookup_ms_base_only" else "lookup_ms_with_deltas", msv)
    }
    ctx.rec.op("lookup", ok, s"$conv returned foreign or duplicate rows, or failed")
  }

  /** Check a table's state against the oracle fingerprint; returns the
    * seconds the full read took. */
  def check(ctx: Ctx, what: String, table: LakeTable, want: Seq[Long]): Double = {
    val t0 = Clock.now
    val got = fingerprint(table.read())
    val s = Clock.secs(t0)
    ctx.rec.op("oracle_check", got == want, s"$what: fingerprint $got != oracle $want")
    s
  }

  /** Mirror `bronze`'s whole history into a fresh silver table under `dir`
    * through the `graft-table` stream source and a foreachBatch merge (the
    * ReplayMain pattern). Returns the seconds it took. */
  def mirror(ctx: Ctx, bronze: LakeTable, dir: String, name: String): (LakeTable, Double) = {
    val spark = ctx.spark
    val silver = LakeTable.createTable(spark, s"$dir/table",
      graft.model.Schemas.transcript, 16)
    val t0 = Clock.now
    val q = spark.readStream.format("graft-table").option("path", bronze.dir)
      .load().writeStream.queryName(name)
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (b: DataFrame, e: Long) =>
        val r = graft.cdc.MergeApply.merge(silver, b, e)
        ctx.rec.op("mirror_epoch", r.applied || r.rowsInBatch == 0,
          s"epoch $e did not apply")
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    (silver, Clock.secs(t0))
  }

  /** Mirror `bronze` `times` times, each into a fresh silver table that is
    * checked against the oracle; one mirror is a single job of a second or
    * two, so the run reports the median. */
  def mirrorChecked(ctx: Ctx, bronze: LakeTable, dir: String, name: String,
      want: Seq[Long], times: Int): Unit =
    (0 until times).foreach { i =>
      val (silver, s) = mirror(ctx, bronze, s"$dir/silver-$i", s"$name-$i")
      ctx.rec.add("mirror_s", s)
      check(ctx, s"$name-$i silver", silver, want)
      rmrf(s"$dir/silver-$i")
    }

  /** Per-layer records of one CdcPipeline query (traced runs): trigger
    * phases from its progress, merge phases from the epoch job groups,
    * outcome counts from MergeResult and lineage. */
  def traceIngest(ctx: Ctx, log: EpochLog, table: LakeTable): Unit = {
    ctx.drain()
    val rec = ctx.rec
    ctx.progress.batches("cdc-ingest-").foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      def g(k: String) = d.getOrElse(k, 0.0)
      rec.add("trigger_ms", g("triggerExecution"))
      rec.add("trigger_overhead_ms", g("triggerExecution") - g("addBatch"))
      rec.add("latest_offset_ms", g("latestOffset"))
      rec.add("query_planning_ms", g("queryPlanning"))
      rec.add("wal_commit_ms", g("walCommit"))
      rec.add("commit_offsets_ms", g("commitOffsets"))
    }
    val stages = ctx.stages.stages.asScala.toSeq
    val lineage = table.lineageTable.where("epochId >= 0")
      .select("epochId", "version", "filesRewritten").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    log.epochs.foreach { e =>
      val r = log.results.get(e)
      val st = stages.filter(_.group == s"epoch-$e")
      val all = covered(st.map(s => (s.sub, s.done)))
      val map = covered(st.filter(_.isMap).map(s => (s.sub, s.done)))
      rec.add("merge_ms", r.durationMs.toDouble)
      rec.add("merge_map_stage_ms", map.toDouble)
      rec.add("merge_write_stage_ms", (all - map).toDouble)
      rec.add("merge_driver_ms", r.durationMs.toDouble - all)
      rec.add("merge_busy_s", st.map(_.runMs).sum / 1e3)
      rec.add("shuffle_write_mb", st.map(_.shufWrite).sum / 1e6)
      rec.add("shuffle_read_mb", st.map(_.shufRead).sum / 1e6)
      rec.add("spill_mb", st.map(_.spill).sum / 1e6)
      rec.add("tasks", st.map(_.tasks).sum.toDouble)
      rec.add("rows_in", r.rowsInBatch.toDouble)
      rec.add("rows_applied", r.rowsApplied.toDouble)
      rec.add("buckets_touched", r.bucketsTouched.size.toDouble)
      lineage.get(e).foreach { case (v, files) =>
        rec.add("files_written", files.toDouble)
        // a compaction fold inside the merge commits its own version
        // right after the epoch's
        val compacting = r.version > v
        rec.add(if (compacting) "epoch_ms_compacting" else "epoch_ms_plain",
          r.durationMs.toDouble)
      }
    }
  }

  /** Milliseconds covered by the union of [start, end] intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Table-layer micro-measurements on a table after ingest stopped
    * (traced runs): snapshot resolution, footer listing, metadata-only
    * commits against a fresh and an aged table, and the layout counts. */
  def traceTable(ctx: Ctx, table: LakeTable, dir: String, liveRows: Long): Unit = {
    val rec = ctx.rec
    val snap = table.snapshot
    (0 until 15).foreach { _ =>
      val t0 = Clock.now; table.snapshot; rec.add("snapshot_ms", Clock.ms(t0))
    }
    rec.set("table_versions", snap.version.toDouble)
    rec.set("table_files", snap.files.size.toDouble)
    val liveBytes = snap.files.map(f => new File(new java.net.URI(
      if (f.path.contains(":")) f.path else "file:" + f.path)).length).sum
    rec.set("bytes_per_live_row", liveBytes.toDouble / math.max(1L, liveRows))
    val commitDirs = Option(new File(table.dir, "data").listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("commit-"))
    if (commitDirs.nonEmpty) {
      val biggest = commitDirs.maxBy(d =>
        Option(d.listFiles).map(_.length).getOrElse(0))
      (0 until 5).foreach { _ =>
        val t0 = Clock.now
        val n = graft.cdc.MergeApply.listDataFiles(ctx.spark, biggest.getPath, 0).size
        rec.add("list_files_ms", Clock.ms(t0))
        rec.set("list_files_count", n.toDouble)
      }
    }
    (0 until 10).foreach { i =>
      val t0 = Clock.now; table.setProperty("perfbench.aged", i.toString)
      rec.add("commit_ms_aged", Clock.ms(t0))
    }
    val fresh = LakeTable.createTable(ctx.spark, s"$dir/fresh-meta",
      graft.model.Schemas.transcript, snap.nBuckets)
    (0 until 10).foreach { i =>
      val t0 = Clock.now; fresh.setProperty("perfbench.fresh", i.toString)
      rec.add("commit_ms_fresh", Clock.ms(t0))
    }
  }

  /** graft-table source phases of the mirror queries (traced runs). */
  def traceMirror(ctx: Ctx, prefix: String): Unit = {
    ctx.drain()
    val ps = ctx.progress.batches(prefix)
    ps.foreach { p =>
      val d = p.durationMs.asScala
      ctx.rec.add("mirror_latest_offset_ms", d.get("latestOffset").map(_.doubleValue).getOrElse(0.0))
      ctx.rec.add("mirror_get_batch_ms", d.get("getBatch").map(_.doubleValue).getOrElse(0.0))
      ctx.rec.add("mirror_add_batch_ms", d.get("addBatch").map(_.doubleValue).getOrElse(0.0))
    }
    ctx.rec.add("mirror_triggers",
      ps.size.toDouble / math.max(1, ps.map(_.name).distinct.size))
  }

  /** Job walls of the point lookups (traced runs). */
  def traceLookups(ctx: Ctx): Unit = {
    ctx.drain()
    ctx.stages.jobs.asScala.filter(_.group == "lookup")
      .foreach(j => ctx.rec.add("lookup_job_ms", (j.end - j.start).toDouble))
  }
}
