package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.locks.LockSupport

import graft.cdc.{CdcPipeline, MergeApply, PipelineConfig}
import graft.gen.GenConfig
import graft.lake.LakeTable
import graft.model.Schemas

import Bench._

/** ingest_bulk: a bounded drain of a seeded backlog, repeated in cycles
  * for the length of the window. Each cycle replays the feed with
  * `CdcPipeline.replayAvailable` into a fresh MoR table, compacts every
  * bucket holding deltas, point-reads the compacted table (zero deltas:
  * the LWW-bypass case), and mirrors the table's history into a silver
  * table through the `graft-table` stream source. Bronze and silver are
  * checked against the oracle in every cycle. */
final class IngestBulk(ctx: Ctx, seed: Long, seconds: Double, events: Long,
    epochs: Int, buckets: Int, lookupsPerCycle: Int, warmLookups: Int,
    mirrors: Int, setupReps: Int) {
  private val spark = ctx.spark
  private val rec = ctx.rec
  private val cfg = GenConfig(seed = seed, nEvents = events,
    nConvs = math.max(4L, events / 50), maxTurns = 40)

  def run(): Unit = {
    // the oracle once per seed; the feed generation, repeated, gives the
    // set-up time as a median
    val t1 = Clock.now
    val want = oracleFingerprint(spark, cfg)
    rec.add("oracle_s", Clock.secs(t1))
    val dirs = (0 until setupReps).map { i =>
      val dir = s"${ctx.work}/setup-$i"
      val t0 = Clock.now
      writeSlots(spark, cfg, s"$dir/feed", "batch", 0L, events,
        epochs * FilesPerEpoch, FeedEpochS)
      rec.add("feed_gen_s", Clock.secs(t0))
      log(f"set-up $i: feed ${Clock.secs(t0)}%.2f s")
      dir
    }
    dirs.init.foreach(rmrf)
    val feed = s"${dirs.last}/feed"

    // warm-up: the first file through every phase of a cycle, unmeasured,
    // so the JIT and Spark's code generation are warm
    val tw = Clock.now
    val warmFeed = s"${ctx.work}/warm-feed"
    Files.createDirectories(Paths.get(warmFeed))
    new File(feed).listFiles.map(_.getName).filter(_.endsWith(".parquet"))
      .sorted.take(1).foreach(n => Files.createLink(
        Paths.get(warmFeed, n), Paths.get(feed, n)))
    cycle("warmup", warmFeed, Nil, measured = false)
    rmrf(warmFeed)
    rec.set("warmup_s", Clock.secs(tw))

    // cycles fill the window as far as they fit in it, at least one
    val tWin = Clock.now
    var c = 0
    var last = 0.0
    while (c < 1 || Clock.secs(tWin) + last <= seconds) {
      val tc = Clock.now
      cycle(s"c$c", feed, want, measured = true)
      last = Clock.secs(tc)
      log(f"cycle $c: $last%.2f s")
      c += 1
    }
    rec.set("cycles", c.toDouble)
    rec.set("window_s", Clock.secs(tWin))
    if (ctx.trace) scaling(feed)
  }

  private def cycle(name: String, feed: String, want: Seq[Long],
      measured: Boolean): Unit = {
    val dir = s"${ctx.work}/cycle-$name"
    val bronze = LakeTable.createTable(spark, s"$dir/bronze",
      Schemas.transcript, buckets)
    val log = new EpochLog(s"$dir/ckpt", ctx.trace && measured, ctx.sc)
    ctx.resetTrace()
    val t0 = Clock.now
    CdcPipeline.replayAvailable(spark, feed, bronze, log.hooks(
      PipelineConfig(checkpointDir = s"$dir/ckpt",
        maxFilesPerTrigger = FilesPerEpoch)))
    val snap = bronze.snapshot
    val deltaBuckets = snap.files.filter(_.kind == "delta").map(_.bucket).toSet
    val tc = Clock.now
    // the warm-up folds a few buckets only: the same per-bucket job, fewer times
    val fold = if (measured) deltaBuckets else deltaBuckets.take(4)
    if (fold.nonEmpty) MergeApply.compactBuckets(bronze, fold)
    val tEnd = Clock.now
    val rnd = new java.util.Random(seed ^ name.hashCode)
    val reader = LakeTable.load(spark, bronze.dir)
    if (!measured) {
      (0 until 10).foreach(_ => reader.readConv(convId(rnd.nextLong(cfg.nConvs))).collect())
      mirror(ctx, bronze, s"$dir/silver", s"mirror-$name")
      rmrf(dir)
      return
    }
    log.epochs.foreach(e => rec.op("epoch", log.results.get(e).applied,
      s"$name: feed epoch $e did not apply"))
    val fullRead = check(ctx, s"$name bronze", bronze, want)

    val applied = (log.lastCommitNs - t0) / 1e9
    rec.add("ingest_applied_eps", events / applied)
    rec.add("ingest_eps", events / ((tEnd - t0) / 1e9))
    rec.add("write_bytes_per_event", duBytes(bronze.dir).toDouble / events)
    // a backlog is due all at once: every file is due at the drain's start
    log.fileEpochs().values.foreach(e => rec.file(t0, t0, log.commitNs.get(e)))
    if (ctx.trace) {
      traceIngest(ctx, log, bronze)
      rec.add("compact_s", (tEnd - tc) / 1e9)
      rec.add("compact_files_in",
        snap.files.count(f => deltaBuckets(f.bucket)).toDouble)
      rec.add("full_read_s", fullRead)
      log.fileEpochs().groupBy(_._2).values
        .foreach(fs => rec.add("files_per_trigger", fs.size.toDouble))
      rec.add("epochs", log.epochs.size.toDouble)
    }

    // point reads on the fresh table speed up over their first calls:
    // the first warmLookups are not measured
    (0 until warmLookups).foreach(_ =>
      reader.readConv(convId(rnd.nextLong(cfg.nConvs))).collect())
    (0 until lookupsPerCycle).foreach(_ =>
      lookup(ctx, reader, convId(rnd.nextLong(cfg.nConvs))))
    if (ctx.trace) traceLookups(ctx)

    mirrorChecked(ctx, bronze, dir, s"mirror-$name", want, mirrors)
    if (ctx.trace) {
      traceMirror(ctx, s"mirror-$name")
      traceTable(ctx, bronze, dir, want.head)
    }
    rmrf(dir)
  }

  /** Traced runs only: replay the same feed at local[1], recording its
    * merge phases and applied rate under the prefix `local1.`. */
  private def scaling(feed: String): Unit = {
    ctx.restart(1)
    val one = new Rec
    ctx.rec = one
    ctx.resetTrace()
    val dir = s"${ctx.work}/scaling"
    val bronze = LakeTable.createTable(ctx.spark, s"$dir/bronze",
      Schemas.transcript, buckets)
    val log = new EpochLog(s"$dir/ckpt", trace = true, ctx.sc)
    val t0 = Clock.now
    CdcPipeline.replayAvailable(ctx.spark, feed, bronze, log.hooks(
      PipelineConfig(checkpointDir = s"$dir/ckpt",
        maxFilesPerTrigger = FilesPerEpoch)))
    one.add("ingest_applied_eps", events / ((log.lastCommitNs - t0) / 1e9))
    traceIngest(ctx, log, bronze)
    ctx.rec = rec
    one.samples.foreach { case (k, xs) => xs.foreach(x => rec.add(s"local1.$k", x)) }
    rmrf(dir)
  }
}

/** tail_mixed: the always-on tail with a reader beside the writer. A base
  * table is bulk-loaded and compacted in set-up; in the window one lander
  * thread renames pre-generated equal-size feed files into the watched
  * directory on a fixed schedule (open loop, no Spark work), ingest runs
  * continuously through `CdcPipeline.start`, and one reader thread issues
  * seeded `LakeTable.readConv` point lookups in a closed loop. */
final class TailMixed(ctx: Ctx, seed: Long, seconds: Double, baseEvents: Long,
    baseEpochs: Int, filesPerSecond: Double, fileEvents: Long, buckets: Int,
    triggerMs: Long, filesPerTrigger: Int, setupReps: Int, minLookups: Int,
    mirrors: Int) {
  private val spark = ctx.spark
  private val rec = ctx.rec
  private val ExtraReadS = 30L
  private val nTail = math.round(filesPerSecond * seconds).toInt
  private val tailEvents = nTail * fileEvents
  // the tail is further delivery slots of the same generator config, so
  // one oracle covers base plus tail
  private val cfg = GenConfig(seed = seed, nEvents = baseEvents + tailEvents,
    nConvs = math.max(4L, (baseEvents + tailEvents) / 50), maxTurns = 40)

  def run(): Unit = {
    val t1 = Clock.now
    val want = oracleFingerprint(spark, cfg)
    rec.add("oracle_s", Clock.secs(t1))
    val dirs = (0 until setupReps).map(i => generate(s"${ctx.work}/setup-$i"))
    dirs.init.foreach(rmrf)
    val dir = dirs.last
    val rnd = new java.util.Random(seed ^ 0x7a11L)
    def pick(): String = convId(rnd.nextLong(cfg.nConvs))
    loadBase(dir, pick)
    val ckpt = s"$dir/ckpt"
    val bronze = LakeTable.load(spark, s"$dir/bronze")
    val reader = LakeTable.load(spark, s"$dir/bronze")

    ctx.resetTrace()
    val log = new EpochLog(ckpt, ctx.trace, ctx.sc)
    val q = CdcPipeline.start(spark, s"$dir/feed", bronze, log.hooks(
      PipelineConfig(checkpointDir = ckpt, maxFilesPerTrigger = filesPerTrigger,
        triggerIntervalMs = Some(triggerMs))))
    val t0 = Clock.now + 500L * 1000 * 1000
    val periodNs = (1e9 / filesPerSecond).toLong
    val due = Array.tabulate(nTail)(i => t0 + i * periodNs)
    val names = Array.tabulate(nTail)(i => f"tail_$i%05d.parquet")
    @volatile var landing = true
    val landed = new Array[Long](nTail)
    val lander = new Thread(() => {
      try {
        var i = 0
        while (i < nTail) {
          var w = due(i) - Clock.now
          while (w > 0) { LockSupport.parkNanos(w); w = due(i) - Clock.now }
          move(s"$dir/staging/${names(i)}", s"$dir/feed/${names(i)}")
          landed(i) = Clock.now
          i += 1
        }
      } finally landing = false
    }, "perfbench-lander")
    // On a slow host the reader goes on past the last landing, while
    // ingest catches up, until its p90 has ten samples beyond it; a bound
    // keeps the run within its time limit.
    val readUntil = due.last + ExtraReadS * 1000L * 1000 * 1000
    val readerThread = new Thread(() => {
      while (Clock.now < t0) LockSupport.parkNanos(1000000L)
      var n = 0
      while (landing || (n < minLookups && Clock.now < readUntil)) {
        lookup(ctx, reader, pick())
        n += 1
      }
    }, "perfbench-reader")
    lander.start(); readerThread.start()
    lander.join(); readerThread.join()
    try q.processAllAvailable() finally q.stop()
    val tLast = log.lastCommitNs
    log.epochs.foreach(e => rec.op("epoch", log.results.get(e).applied,
      s"tail epoch $e did not apply"))
    val fileEpoch = log.fileEpochs()
    names.indices.foreach { i =>
      fileEpoch.get(names(i)) match {
        case Some(e) => rec.file(due(i), landed(i), log.commitNs.get(e))
        case None => rec.op("epoch", ok = false,
          s"tail file ${names(i)} never committed")
      }
    }
    rec.set("window_s", (tLast - t0) / 1e9)
    if (ctx.trace) {
      traceIngest(ctx, log, bronze)
      traceLookups(ctx)
      val perEpoch = fileEpoch.filter(_._1.startsWith("tail_")).groupBy(_._2)
        .values.map(_.size.toDouble)
      perEpoch.foreach(n => rec.add("files_per_trigger", n))
      rec.add("epochs", log.epochs.size.toDouble)
    }

    check(ctx, "tail state before compaction", bronze, want)
    val snap = bronze.snapshot
    val deltaBuckets = snap.files.filter(_.kind == "delta").map(_.bucket).toSet
    val tc = Clock.now
    if (deltaBuckets.nonEmpty) MergeApply.compactBuckets(bronze, deltaBuckets)
    val compactS = Clock.secs(tc)
    val fullRead = check(ctx, "tail state after compaction", bronze, want)
    rec.add("ingest_applied_eps", tailEvents / ((tLast - t0) / 1e9))
    rec.add("ingest_eps", tailEvents / ((tLast - t0) / 1e9 + compactS))
    rec.add("write_bytes_per_event",
      duBytes(bronze.dir).toDouble / (baseEvents + tailEvents))
    mirrorChecked(ctx, bronze, dir, "mirror-tail", want, mirrors)
    if (ctx.trace) {
      rec.add("compact_s", compactS)
      rec.add("compact_files_in",
        snap.files.count(f => deltaBuckets(f.bucket)).toDouble)
      rec.add("full_read_s", fullRead)
      traceMirror(ctx, "mirror-tail")
      traceTable(ctx, bronze, dir, want.head)
    }
  }

  /** Generate the base feed and the staged tail. */
  private def generate(dir: String): String = {
    val t0 = Clock.now
    writeSlots(spark, cfg, s"$dir/feed", "base", 0L, baseEvents,
      baseEpochs * FilesPerEpoch, FeedEpochS)
    writeSlots(spark, cfg, s"$dir/staging", "tail", baseEvents,
      baseEvents + tailEvents, nTail, FeedEpochS + baseEpochs * FilesPerEpoch)
    rec.add("feed_gen_s", Clock.secs(t0))
    log(f"set-up: feed ${Clock.secs(t0)}%.2f s")
    dir
  }

  /** Bulk-load the base feed and compact the table. Point reads before
    * and after the compaction warm both read paths, LWW over deltas and
    * base only, and a mirror of the base warms the `graft-table` source;
    * none of them is measured. */
  private def loadBase(dir: String, pick: () => String): Unit = {
    val t0 = Clock.now
    val bronze = LakeTable.createTable(spark, s"$dir/bronze",
      Schemas.transcript, buckets)
    CdcPipeline.replayAvailable(spark, s"$dir/feed", bronze,
      PipelineConfig(checkpointDir = s"$dir/ckpt",
        maxFilesPerTrigger = filesPerTrigger))
    (0 until 3).foreach(_ => bronze.readConv(pick()).collect())
    val deltaBuckets = bronze.snapshot.files.filter(_.kind == "delta")
      .map(_.bucket).toSet
    if (deltaBuckets.nonEmpty) MergeApply.compactBuckets(bronze, deltaBuckets)
    (0 until 3).foreach(_ => bronze.readConv(pick()).collect())
    mirror(ctx, bronze, s"$dir/warm-silver", "warm-mirror")
    rmrf(s"$dir/warm-silver")
    rec.set("base_load_s", Clock.secs(t0))
    log(f"base load ${Clock.secs(t0)}%.2f s")
  }
}
