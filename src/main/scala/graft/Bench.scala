package graft
import org.apache.spark.sql.SparkSession

import graft.cdc.{CdcPipeline, PipelineConfig}
import graft.gen.{ChangeLogGen, GenConfig}
import graft.lake.LakeTable
import graft.model.Schemas

/** Benchmark main — emits ONE JSON line with two sections:
  *
  *  1. `queries`: every SparkEntry query timed against SPARK_GRAFT_SF_DIR
  *     at local[SPARK_GRAFT_CPUS]. SPARK_GRAFT_REPEAT (default 2) runs
  *     each N times cache-cold and reports the fastest — steady-state
  *     numbers with codegen/JIT warmup discounted, the regime that
  *     matters at 100 TB (plan compile time is a per-query constant;
  *     scan/shuffle time is what scales).
  *
  *  2. `cdc`: the north-rule scaling evidence (BASELINE.md protocol) —
  *     the same seeded changelog replayed end-to-end through the
  *     streaming MERGE pipeline at local[8] and local[32] (N vs 4N
  *     cores), after a JIT warmup replay, reporting events/sec at both
  *     plus `scaling_efficiency` = eps32 / (4 * eps8). Disable with
  *     SPARK_GRAFT_CDC_EVENTS=0; size with SPARK_GRAFT_CDC_EVENTS.
  */
object Bench {

  /** Prefer tmpfs for bench state: the sandbox's virtual disk adds ±50%
    * run-to-run noise, and the criterion under evidence is COMPUTE
    * scaling — on a real cluster, storage and memory bandwidth scale with
    * node count, which a single local disk cannot represent. */
  private def benchTmp(prefix: String): String = {
    val base = new java.io.File("/dev/shm")
    val dir = if (base.isDirectory && base.canWrite)
      java.nio.file.Files.createTempDirectory(base.toPath, prefix)
    else java.nio.file.Files.createTempDirectory(prefix)
    dir.toString
  }

  /** True when scratch whose dir and immediate children were last
    * modified at `mtimes` has sat untouched for longer than `maxAgeMs`
    * at `now`. A long replay writes only inside its own subdirs (table,
    * checkpoint, local dir), which moves the CHILDREN's mtimes while the
    * top-level dir's stays at the replay's start — judging by the
    * top-level mtime alone could sweep a live run. */
  private[graft] def isStale(mtimes: Seq[Long], now: Long,
      maxAgeMs: Long): Boolean =
    mtimes.nonEmpty && mtimes.max < now - maxAgeMs

  /** Killed bench runs leave multi-GB scratch under /dev/shm; a
    * graft-bench-* dir untouched for 30+ minutes cannot belong to a live
    * run, so sweep it before this run competes with the corpse for
    * tmpfs. */
  private def sweepStaleScratch(): Unit = {
    val base = new java.io.File("/dev/shm")
    if (!base.isDirectory) return
    def ls(d: java.io.File) = Option(d.listFiles()).getOrElse(Array.empty)
    val now = System.currentTimeMillis()
    ls(base)
      .filter(f => f.isDirectory && f.getName.startsWith("graft-bench") &&
        isStale((f +: ls(f).toSeq).map(_.lastModified), now,
          30L * 60 * 1000))
      .foreach { f =>
        System.err.println(s"[bench] sweeping stale scratch ${f.getPath}")
        org.apache.commons.io.FileUtils.deleteQuietly(f): Unit
      }
  }

  /** Two workload types, two right configs. The CDC replay runs AQE OFF:
    * its merge plan is a fixed single shuffle (one write task per
    * bucket, so a hot bucket is one task's work; ROADMAP item 2 measures
    * that) and AQE's per-stage materialization only
    * adds driver latency per epoch. The analytic query sweep runs AQE ON
    * (the production choice for ad-hoc plans): runtime partition
    * coalescing + skew-join handling sizes each exchange to the data —
    * the multi-stage dedup/ANN queries would otherwise run every
    * exchange at the static partition count regardless of input. */
  private def session(cores: Int, localDir: String,
      adaptive: Boolean = false): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      // 4x cores: memory-resident per-task sorts, smooths hash skew
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", adaptive.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val FilesPerBatch = 8

  /** Generate the seeded feed once; every measured run — at either
    * parallelism level — replays the SAME bytes. `hot` is the share of
    * events aimed at one conversation (the generator's hot-key knob). */
  private def genFeed(work: String, events: Long, batches: Int,
      hot: Double = 0.05): String = {
    val spark = session(32, s"$work/gen-local")
    try {
      val cfg = GenConfig(nEvents = events,
        nConvs = math.max(4L, events / 50), maxTurns = 40,
        hotFraction = hot)
      ChangeLogGen.writeBatches(spark, cfg, s"$work/feed", batches, FilesPerBatch)
      s"$work/feed"
    } finally spark.stop()
  }

  /** One full streaming replay of the shared feed on a fresh session at
    * the given core count (fresh table + checkpoint per run); returns
    * events/sec. The timed window ends at a READ-OPTIMIZED table: any
    * delta files the MoR epochs deferred are compacted before the clock
    * stops, so the rate charges the full cost of reaching the final
    * state — not delta-append throughput with the merge bill deferred
    * past the measurement. */
  private def replayRate(cores: Int, events: Long, feed: String,
      work: String, run: Int): (Double, Double) = {
    val spark = session(cores, s"$work/local-$cores-$run")
    try {
      val table = LakeTable.createTable(spark, s"$work/table-$cores-$run",
        Schemas.transcript, nBuckets = 32)
      val t0 = System.nanoTime()
      CdcPipeline.replayAvailable(spark, feed, table,
        PipelineConfig(checkpointDir = s"$work/ckpt-$cores-$run",
          maxFilesPerTrigger = FilesPerBatch))
      val tApplied = System.nanoTime()
      val deltaBuckets = table.snapshot.files
        .filter(_.kind == "delta").map(_.bucket).toSet
      if (deltaBuckets.nonEmpty)
        graft.cdc.MergeApply.compactBuckets(table, deltaBuckets)
      // (deferred-resolution apply rate, read-optimized-final rate): the
      // first is MoR's streaming-path throughput with LWW resolution
      // deferred; the second additionally charges folding EVERY
      // outstanding delta — conservative vs steady state, where the
      // 8-file-per-bucket threshold amortizes compaction over ~8 epochs,
      // not the 2 this run pays it against.
      val applied = events / ((tApplied - t0) / 1e9)
      val fin = events / ((System.nanoTime() - t0) / 1e9)
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$work/table-$cores-$run"))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$work/ckpt-$cores-$run"))
      (applied, fin)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    // the one JSON line this main exists to print is built with f"%.3f"
    // interpolations, which format in the JVM default locale — a comma-
    // decimal locale would emit 0,893 and break the driver's json.load
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    sweepStaleScratch()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt
    // 32M = epochs big enough to amortize per-epoch driver constants
    // (<5% at 4N); the larger working set also measurably stabilizes the
    // 4N-level runs (±1% observed vs ±8% at 24M)
    val cdcEvents = sys.env.getOrElse("SPARK_GRAFT_CDC_EVENTS", "32000000").toLong

    // North-rule scaling evidence (see BASELINE.md for the full
    // protocol): the SAME seeded feed replayed at N and 4N cores. The
    // pair stays in this VM's compute-bound regime — measured: past a
    // few threads the workload saturates the VM's shared DRAM bandwidth,
    // which a real cluster scales with its node count. Machine noise is
    // ±15%, so each level runs `reps` times interleaved and reports
    // medians; a warmup replay absorbs JIT compilation.
    val cdcJson = if (cdcEvents > 0) {
      // 8 epochs of 4M: matches the MoR compaction cadence — the
      // maxDeltaFilesPerBucket=8 threshold folds a bucket every ~8
      // epochs, so charging ONE full fold against 8 epochs of input is
      // the steady-state amortization (2 epochs would double-charge it).
      // The ~0.8 s/epoch driver constant (micro-batch planning +
      // offset/commit logs + snapshot commit) stays <5% at the 4N level.
      val batches = 8
      val reps = sys.env.getOrElse("SPARK_GRAFT_CDC_REPS", "3").toInt
      // N vs 4N cores; override e.g. SPARK_GRAFT_CDC_PAIR=2,8. Default is
      // the box's compute-bound regime (see BASELINE.md: the per-core
      // engine rate now saturates the VM's shared DRAM bus beyond ~4-8
      // threads, which a real cluster scales with node count — the
      // bandwidth ceiling itself is evidenced by the separate peak run).
      val pair = sys.env.getOrElse("SPARK_GRAFT_CDC_PAIR", "1,4").split(",")
      val (n1, n4) = (pair(0).trim.toInt, pair(1).trim.toInt)
      // absolute-throughput headline: cores at the measured VM optimum
      val peakCores = sys.env.getOrElse("SPARK_GRAFT_CDC_PEAK", "8").toInt
      val work = benchTmp("graft-bench-cdc")
      try {
        val feed = genFeed(work, cdcEvents, batches)
        // even sizes average the middle two — taking the upper-middle
        // element would bias every published median (and the efficiency
        // ratios built from them) upward under an even rep count
        def median(xs: Seq[Double]): Double = {
          val s = xs.sorted
          if (s.size % 2 == 1) s(s.size / 2)
          else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
        }
        // PHASE GUARD. This box has ±20-50% host-load phases lasting tens
        // of minutes (BASELINE.md); a phase landing on one level corrupts
        // the efficiency RATIO in either direction. A fixed calibration
        // replay (~1/8 of the feed at the 4N level) runs immediately
        // before EVERY measured replay; a measured run whose calibration
        // sits more than `driftTol` off the session's calibration median
        // was taken in a different phase and is excluded from the
        // efficiency estimate (each level gets one redo first). The full
        // calibration series, exclusions, and redos are disclosed — a
        // degraded session is self-describing instead of silently wrong.
        val calEvents = math.max(1L, cdcEvents / 8)
        val calFeed = genFeed(s"$work/cal", calEvents, 1)
        val driftTol =
          sys.env.getOrElse("SPARK_GRAFT_CAL_DRIFT", "0.15").toDouble
        val calSeries = collection.mutable.Buffer[Double]()
        var calId = 0
        def calibrate(): Double = {
          calId += 1
          val r = replayRate(n4, calEvents, calFeed, s"$work/cal", calId)._2
          calSeries += r; r
        }
        // JIT warmup on the calibration slice (full code path): warms
        // parquet codecs, shuffle, codegen and the streaming machinery
        // without paying a full discarded replay. NOT a cal sample — the
        // first replay in a JVM is compilation-bound, not phase-bound.
        replayRate(n4, calEvents, calFeed, s"$work/warm", 0)
        // peak sustained throughput at the VM's bandwidth optimum — the
        // absolute events/sec headline, measured FIRST: hours-old JVMs
        // degrade ~20-30% (heap/metaspace churn from many sessions), and
        // the peak should reflect a healthy executor, not a tired one
        val peaks = (1 to 2).map(i =>
          replayRate(peakCores, cdcEvents, feed, work, 100 + i))
        val peakApplied = peaks.map(_._1).max
        val peakFinal = peaks.map(_._2).max
        // one measured replay, tagged with its adjacent calibration
        case class M(eps: Double, applied: Double, cal: Double)
        def measure(cores: Int, runId: Int, f: String = feed,
            ev: Long = cdcEvents): M = {
          val c = calibrate()
          val (a, fin) = replayRate(cores, ev, f, work, runId)
          M(fin, a, c)
        }
        // interleave levels so slow machine phases hit both equally.
        // Scaling is computed on the FINAL (compaction-inclusive) rate —
        // the conservative number; the deferred-resolution apply rate is
        // disclosed alongside.
        val m1 = collection.mutable.Buffer[M]()
        val m4 = collection.mutable.Buffer[M]()
        (1 to reps).foreach { i =>
          m1 += measure(n1, i)
          m4 += measure(n4, i)
        }
        def inPhase(m: M): Boolean =
          math.abs(m.cal / median(calSeries.toSeq) - 1.0) <= driftTol
        // redo a level only when drift leaves it with fewer than TWO
        // in-phase runs — the estimator is already robust on two, and an
        // unconditional redo spends ~7 min of a driver-budgeted session
        // chasing a phase that may not have ended (r5 session 1's redo
        // landed in the same trough it was escaping)
        var redos = 0
        if (m1.count(inPhase) < 2 && redos < 2) {
          redos += 1; m1 += measure(n1, 10 + redos)
        }
        if (m4.count(inPhase) < 2 && redos < 2) {
          redos += 1; m4 += measure(n4, 20 + redos)
        }
        val acc1 = m1.filter(inPhase)
        val acc4 = m4.filter(inPhase)
        // a session degraded end-to-end has no in-phase subset to prefer;
        // fall back to all runs and say so
        val (u1, u4) =
          if (acc1.nonEmpty && acc4.nonEmpty) (acc1.toSeq, acc4.toSeq)
          else (m1.toSeq, m4.toSeq)
        val calSpread =
          if (calSeries.isEmpty) 0.0
          else (calSeries.max - calSeries.min) / median(calSeries.toSeq)
        // the series the spread and drift describe — the skew section
        // below calibrates again and appends to calSeries
        val calRuns = calSeries.toSeq
        val phaseDrift = u1.size < m1.size || u4.size < m4.size ||
          acc1.isEmpty || acc4.isEmpty || calSpread > driftTol
        // efficiency is a RATIO of two noisy measurements (±15-20% on
        // this shared-host VM; raw runs disclosed below). The primary
        // estimator is the Hodges-Lehmann-style MEDIAN OVER ALL
        // CROSS-PAIR RATIOS {r4_j / (4·r1_i)} over the IN-PHASE runs —
        // the textbook robust ratio estimator: it neither assumes phases
        // are longer than a pair (which the within-pair ratio does) nor
        // mixes phases the way a ratio of per-level medians does.
        // Within-pair ratios, the unpaired ratio-of-medians, best-of,
        // and every raw run (redos included) are disclosed.
        val r1 = u1.map(_.eps)
        val r4 = u4.map(_.eps)
        val allRatios = for { a <- r1; b <- r4 } yield b / (4.0 * a)
        val effHl = median(allRatios)
        val paired = r1.zip(r4).map { case (a, b) => b / (4.0 * a) }
        val effPaired = median(paired)
        val effUnpaired = median(r4) / (4.0 * median(r1))
        val effBest = r4.max / (4.0 * r1.max)
        // skew evidence: the same protocol over a feed with ONE hot
        // conversation taking `skewHot` of all events (the north rule's
        // hot-conv_id case; the uniform feed already carries 5%). The
        // merge writes one task per bucket, so the hot bucket is one
        // task's work; ROADMAP item 2 reads this number to decide whether
        // that task is the critical path. Fewer reps (disclosed): the
        // skew DELTA is the signal, and the uniform section already
        // bounds phase noise.
        val skewReps =
          sys.env.getOrElse("SPARK_GRAFT_CDC_SKEW_REPS", "1").toInt
        val skewHot = 0.10
        val skewJson = if (skewReps > 0) {
          val skewEvents = sys.env.getOrElse("SPARK_GRAFT_CDC_SKEW_EVENTS",
            (cdcEvents / 2).toString).toLong
          val sFeed = genFeed(s"$work/skew", skewEvents, batches, skewHot)
          val s1 = collection.mutable.Buffer[M]()
          val s4 = collection.mutable.Buffer[M]()
          (1 to skewReps).foreach { i =>
            s1 += measure(n1, 30 + i, sFeed, skewEvents)
            s4 += measure(n4, 40 + i, sFeed, skewEvents)
          }
          val sRatios =
            for { a <- s1.toSeq; b <- s4.toSeq } yield b.eps / (4.0 * a.eps)
          val sEff = median(sRatios)
          f""","cdc_skewed":{"events":$skewEvents,"hot_fraction":$skewHot%.2f,"reps":$skewReps,"eps_n_median":${median(s1.toSeq.map(_.eps))}%.1f,"eps_4n_median":${median(s4.toSeq.map(_.eps))}%.1f,"scaling_efficiency":$sEff%.3f,"runs_n":[${s1.map(v => f"${v.eps}%.1f").mkString(",")}],"runs_4n":[${s4.map(v => f"${v.eps}%.1f").mkString(",")}],"cal_n":[${s1.map(v => f"${v.cal}%.1f").mkString(",")}],"cal_4n":[${s4.map(v => f"${v.cal}%.1f").mkString(",")}]}"""
        } else ""
        f""","cdc":{"events":$cdcEvents,"batches":$batches,"cores_n":$n1,"cores_4n":$n4,"eps_n_median":${median(r1)}%.1f,"eps_4n_median":${median(r4)}%.1f,"scaling_efficiency":$effHl%.3f,"scaling_efficiency_paired":$effPaired%.3f,"scaling_efficiency_unpaired":$effUnpaired%.3f,"eps_n_best":${r1.max}%.1f,"eps_4n_best":${r4.max}%.1f,"scaling_efficiency_best_of":$effBest%.3f,"paired_ratios":[${paired.map(v => f"$v%.3f").mkString(",")}],"runs_n":[${m1.map(v => f"${v.eps}%.1f").mkString(",")}],"runs_4n":[${m4.map(v => f"${v.eps}%.1f").mkString(",")}],"runs_n_applied":[${m1.map(v => f"${v.applied}%.1f").mkString(",")}],"runs_4n_applied":[${m4.map(v => f"${v.applied}%.1f").mkString(",")}],"cal_events":$calEvents,"cal_runs":[${calRuns.map(v => f"$v%.1f").mkString(",")}],"cal_n":[${m1.map(v => f"${v.cal}%.1f").mkString(",")}],"cal_4n":[${m4.map(v => f"${v.cal}%.1f").mkString(",")}],"cal_spread":$calSpread%.3f,"cal_drift_tol":$driftTol%.2f,"phase_drift":$phaseDrift,"redo_runs":$redos,"used_n":${u1.size},"used_4n":${u4.size},"cores_peak":$peakCores,"eps_peak":$peakFinal%.1f,"eps_peak_applied":$peakApplied%.1f}$skewJson"""
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(work))
    } else ""

    // query micro-bench AFTER the cdc section: the 32-thread query sweep
    // churns the shared JVM (heap/metaspace/code cache) and was measured
    // to depress subsequent replay rates by ~20-30%
    val qLocal = benchTmp("graft-bench-q")
    val spark = session(cpus.toInt, s"$qLocal/local", adaptive = true)
    val queriesOn = sys.env.getOrElse("SPARK_GRAFT_QUERIES", "1") != "0"
    val qSeq = if (queriesOn) SparkEntry.queries.toSeq.sortBy(_._1) else Nil
    val results = qSeq.map { case (name, fn) =>
      var failed = false
      val times = (1 to repeat).map { _ =>
        val t0 = System.nanoTime()
        // consume FULL tuples: hash every column of every row into one
        // aggregate. A bare count() lets Catalyst prune unreferenced
        // projections, so expression-heavy queries would be timed nearly
        // scan-only — this measures what the driver's oracle actually runs.
        try {
          import org.apache.spark.sql.functions.{col, expr, xxhash64}
          val df = fn(spark, sfDir)
          df.select(xxhash64(df.columns.map(col).toSeq: _*).as("__h"))
            .agg(expr("bit_xor(__h)")).collect()
        } catch { case e: Throwable =>
          failed = true
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        // each run starts cache-cold; repeats measure JIT-warm plans, not warm caches
        spark.catalog.clearCache()
        sec
      }
      // a failed query reports a -1 sentinel, never its time-to-failure
      name -> (if (failed) -1.0 else times.min)
    }
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(qLocal))

    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedNames = results.collect { case (k, v) if v < 0 => s"\"$k\"" }
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":[${failedNames.mkString(",")}],"sf":"$sfDir","cpus":$cpus,"repeat":$repeat$cdcJson}""")
  }
}
