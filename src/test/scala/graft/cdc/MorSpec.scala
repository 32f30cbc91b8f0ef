package graft.cdc

import graft.SparkSpec
import graft.gen.{ChangeLogGen, GenConfig}
import graft.lake.LakeTable
import graft.model.{Schemas, TranscriptRow}

/** Merge-on-read semantics: delta accumulation, automatic compaction,
  * and state preservation across both. */
class MorSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(nEvents = 12000L, nConvs = 100L, maxTurns = 15)

  private def finalState(t: LakeTable): Seq[TranscriptRow] =
    t.read().as[TranscriptRow].collect().toSeq.sortBy(r => (r.conv_id, r.turn_idx))

  test("MoR epochs write only deltas; compaction folds them and preserves state") {
    val table = LakeTable.createTable(spark, tmpDir("mor"),
      Schemas.transcript, nBuckets = 2)
    val mc = MergeConfig(maxDeltaFilesPerBucket = 4)
    val c = cfg
    val parts = 6
    (0 until parts).foreach { b =>
      val slice = spark.range(b * c.nEvents / parts, (b + 1) * c.nEvents / parts)
        .as[Long]
        .mapPartitions(_.map(s => ChangeLogGen.eventAt(c,
          ChangeLogGen.deliveredLsn(c, s)))).toDF()
      MergeApply.merge(table, slice, epochId = b.toLong, mc)
    }
    // 6 epochs with threshold 4 -> compaction must have fired
    val lin = table.lineage
    assert(lin.exists(_.epochId == -1L), "expected a compaction lineage row")
    // after compaction no bucket exceeds the threshold
    val perBucket = table.snapshot.files.groupBy(_.bucket).view.mapValues(_.size)
    assert(perBucket.values.forall(_ <= 4))
    // and the state equals the sequential oracle
    assert(finalState(table) == ChangeLogGen.oracleFinalState(cfg))
  }

  test("explicit compaction of every bucket yields pure base files, same state") {
    val table = LakeTable.createTable(spark, tmpDir("mor-full"),
      Schemas.transcript, nBuckets = 4)
    val mc = MergeConfig(maxDeltaFilesPerBucket = 100)
    val log = ChangeLogGen.changeLogDF(spark, cfg)
    MergeApply.merge(table, log.limit(6000), 0L, mc)
    MergeApply.merge(table, log, 1L, mc)
    val before = finalState(table)
    assert(table.snapshot.files.exists(_.kind == "delta"))
    MergeApply.compactBuckets(table,
      table.snapshot.files.map(_.bucket).toSet, mc)
    assert(table.snapshot.files.forall(_.kind == "base"))
    assert(table.snapshot.files.groupBy(_.bucket).forall(_._2.size == 1))
    assert(finalState(table) == before)
  }

  test("MoR read resolves only delta-bearing buckets; base-only buckets scan exchange-free") {
    import org.apache.spark.sql.functions.col
    val table = LakeTable.createTable(spark, tmpDir("mor-prune"),
      Schemas.transcript, nBuckets = 4)
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val base = (0 until 12).map(i =>
      (i.toLong, "I", s"conv-$i", 0, "user", s"text-$i", null: String, ts))
    MergeApply.merge(table, base.toDF(
      "lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"), 0L)
    // fold the seed to base files
    MergeApply.compactBuckets(table, (0 until 4).toSet)
    assert(table.snapshot.files.forall(_.kind == "base"))
    // one MoR delta updating a single conversation -> one delta bucket
    val upd = Seq((100L, "U", "conv-3", 0, "user", "updated", null: String, ts))
    MergeApply.merge(table, upd.toDF(
      "lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"),
      1L, MergeConfig(maxDeltaFilesPerBucket = 100))
    val deltaBuckets =
      table.snapshot.files.filter(_.kind == "delta").map(_.bucket).toSet
    assert(deltaBuckets.size == 1)
    assert(table.snapshot.files.map(_.bucket).toSet.size > 1)
    val df = table.read()
    val got = df.as[TranscriptRow].collect().toSeq.sortBy(_.conv_id)
    val expect = base.map { case (_, _, c, t0, r, tx, tl, t1) =>
      TranscriptRow(c, t0, r, if (c == "conv-3") "updated" else tx, tl, t1)
    }.sortBy(_.conv_id)
    assert(got == expect)
    // only the delta-bearing bucket pays the LWW exchange; base-only
    // buckets union in straight from the scan
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "(?i)exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly one Exchange, plan:\n$plan")
  }

  test("time travel: pre-compaction snapshots remain readable") {
    val table = LakeTable.createTable(spark, tmpDir("mor-tt"),
      Schemas.transcript, nBuckets = 2)
    val mc = MergeConfig(maxDeltaFilesPerBucket = 100)
    val log = ChangeLogGen.changeLogDF(spark, cfg)
    MergeApply.merge(table, log.limit(4000), 0L, mc)
    val v1 = table.snapshot.version
    val stateV1 = finalState(table)
    MergeApply.merge(table, log, 1L, mc)
    MergeApply.compactBuckets(table, table.snapshot.files.map(_.bucket).toSet, mc)
    val old = table.read(asOf = Some(v1)).as[TranscriptRow]
      .collect().toSeq.sortBy(r => (r.conv_id, r.turn_idx))
    assert(old == stateV1)
  }

  /** A 32-bucket table holding 3 MoR epochs of `wide`, one delta file per
    * bucket per epoch: 96 files, more than Spark's parallel-listing
    * threshold (32 paths). */
  private val wide = GenConfig(nEvents = 12000L, nConvs = 400L, maxTurns = 15)
  private def threeEpochs(name: String): LakeTable = {
    val table = LakeTable.createTable(spark, tmpDir(name),
      Schemas.transcript, nBuckets = 32)
    val mc = MergeConfig(maxDeltaFilesPerBucket = 100)
    val c = wide // a local: the task closure must not capture the suite
    (0 until 3).foreach { e =>
      val slice = spark.range(e * c.nEvents / 3, (e + 1) * c.nEvents / 3)
        .as[Long]
        .mapPartitions(_.map(s => ChangeLogGen.eventAt(c,
          ChangeLogGen.deliveredLsn(c, s)))).toDF()
      MergeApply.merge(table, slice, epochId = e.toLong, mc)
    }
    assert(table.snapshot.files.size == 96)
    table
  }

  /** Start (and, once known, end) times of the Spark jobs `body` submits
    * under job group `group`, with AQE off as in the replay pipeline
    * (with AQE on, every shuffle map stage runs as its own job). The
    * failure `body` throws, if any, is returned with the wall time it
    * surfaced at. */
  private final case class Jobs(starts: Seq[Long], ends: Seq[Long],
      stages: Seq[String], failure: Option[(Throwable, Long)])
  private def jobsOf(group: String)(body: => Unit): Jobs = {
    import org.apache.spark.scheduler._
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        // scope by job group: the async listener bus can still deliver
        // straggler events from the seeding merges
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id")) {
          starts.put(js.jobId, js.time)
          stages.add(js.stageInfos.map(_.name).mkString("[", "; ", "]"))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        ends.put(je.jobId, je.time)
    }
    spark.sparkContext.addSparkListener(listener)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.sparkContext.setJobGroup(group, group)
      val failure =
        try { body; None }
        catch { case e: Exception => Some((e, System.currentTimeMillis())) }
        finally {
          spark.sparkContext.clearJobGroup()
          spark.conf.set("spark.sql.adaptive.enabled", aqe)
        }
      // listener bus is async: poll until the job count is stable and
      // every started job has ended
      var last = -1
      var stableMs = 0
      val deadline = System.currentTimeMillis() + 60000L
      while (stableMs < 500 && System.currentTimeMillis() < deadline) {
        last = starts.size; Thread.sleep(100)
        val settled = starts.keySet.stream.allMatch(ends.containsKey(_))
        if (last == starts.size && settled) stableMs += 100 else stableMs = 0
      }
      import scala.jdk.CollectionConverters._
      val ids = starts.keySet.asScala.toSeq
      // a job whose end never arrived reads as still running
      Jobs(ids.map(starts.get(_)),
        ids.map(ends.getOrDefault(_, Long.MaxValue)),
        stages.asScala.toSeq, failure)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("compaction over 96 files and rebucket (4 -> 8, 4 -> 6) each run as ONE Spark job") {
    val table = threeEpochs("mor-onejob")
    val compact = jobsOf("one-job-compact") {
      MergeApply.compactBuckets(table, (0 until 32).toSet)
    }
    assert(compact.failure.isEmpty)
    assert(compact.starts.size == 1, s"expected 1 Spark job, saw " +
      s"${compact.starts.size}: ${compact.stages.mkString(" | ")}")
    assert(table.snapshot.files.forall(f => f.kind == "base" && f.fold))
    assert(table.snapshot.files.map(_.bucket).toSet == (0 until 32).toSet)
    assert(finalState(table) == ChangeLogGen.oracleFinalState(wide))

    // a subset fold is one job too, and carries the other buckets over
    val part = threeEpochs("mor-onejob-subset")
    val before = part.snapshot.files
    val subset = jobsOf("one-job-compact-subset") {
      MergeApply.compactBuckets(part, Set(3, 17))
    }
    assert(subset.failure.isEmpty)
    assert(subset.starts.size == 1,
      s"subset fold: ${subset.stages.mkString(" | ")}")
    val (folded, carried) = part.snapshot.files.partition(f =>
      Set(3, 17)(f.bucket))
    assert(folded.map(_.bucket).toSet == Set(3, 17) &&
      folded.forall(_.kind == "base"))
    assert(carried.toSet == before.filterNot(f => Set(3, 17)(f.bucket)).toSet)
    assert(finalState(part) == ChangeLogGen.oracleFinalState(wide))

    Seq(8, 6).foreach { newN =>
      val t = LakeTable.createTable(spark, tmpDir(s"mor-onejob-rb$newN"),
        Schemas.transcript, nBuckets = 4)
      val mc = MergeConfig(maxDeltaFilesPerBucket = 100)
      val log = ChangeLogGen.changeLogDF(spark, cfg)
      MergeApply.merge(t, log.limit(6000), 0L, mc)
      MergeApply.merge(t, log, 1L, mc)
      val rb = jobsOf(s"one-job-rebucket-$newN") { MergeApply.rebucket(t, newN) }
      assert(rb.failure.isEmpty)
      assert(rb.starts.size == 1, s"rebucket 4 -> $newN: expected 1 Spark " +
        s"job, saw ${rb.starts.size}: ${rb.stages.mkString(" | ")}")
      assert(t.snapshot.nBuckets == newN)
      assert(finalState(t) == ChangeLogGen.oracleFinalState(cfg))
    }
  }

  test("a failing compaction task fails the call, commits nothing, and leaves only a reclaimable orphan dir") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val table = threeEpochs("mor-failfold")
    val before = table.snapshot
    val state = finalState(table)
    val dataDir = new java.io.File(s"${table.dir}/data")
    def compactDirs = dataDir.listFiles.toSeq
      .filter(_.getName.startsWith("compact-"))
    // throws inside a task for every bucket but 0
    val boom: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.withColumn("conv_id",
        when(LakeTable.bucketExpr(32) =!= 0,
          raise_error(lit("injected fold failure")))
          .otherwise(col("conv_id")))
    val run = jobsOf("failing-fold") {
      MergeApply.compactBuckets(table, (0 until 32).toSet,
        purgeRewrite = Some(boom))
    }
    assert(run.failure.nonEmpty, "a failing fold task must fail the call")
    val thrownAt = run.failure.get._2
    // nothing of the call runs on after it threw: every job it started
    // had already ended, and none started later
    assert(run.starts.nonEmpty && run.starts.forall(_ <= thrownAt) &&
      run.ends.forall(_ <= thrownAt),
      s"jobs outlived the failed call: starts ${run.starts}, ends " +
        s"${run.ends}, thrown at $thrownAt")
    assert(table.snapshot.version == before.version)
    assert(table.snapshot.files == before.files)
    assert(finalState(table) == state)
    // the uncommitted output is an orphan: once past the grace window,
    // vacuumOrphans reclaims every file under the compaction's dir
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.currentTimeMillis() + 30000L
    while (tracker.getExecutorInfos.exists(_.numRunningTasks > 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    Thread.sleep(1100)
    table.vacuumOrphans(graceMs = 1000L)
    val left = compactDirs.flatMap(d => org.apache.commons.io.FileUtils
      .listFiles(d, null, true).toArray.toSeq)
    assert(left.isEmpty, s"files left under compact-* dirs: $left")
    assert(finalState(table) == state)
  }
}
