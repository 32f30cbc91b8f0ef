package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.{CdcPipeline, MergeApply, MergeConfig, MergeResult, PipelineConfig}
import graft.gen.{ChangeLogGen, GenConfig}
import graft.model.{Schemas, TranscriptRow}

/** Write-audit-publish staged commits (Iceberg's WAP staged-snapshot /
  * cherry-pick workflow): stage = full physical merge parked as a durable
  * intent outside the version chain; audit = read the would-be state;
  * publish = ordinary commit protocol; abort = discard. */
class WapSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(nEvents = 12000L, nConvs = 200L, maxTurns = 15)

  private def finalState(t: LakeTable): Seq[TranscriptRow] =
    t.read().as[TranscriptRow].collect().toSeq
      .sortBy(r => (r.conv_id, r.turn_idx))

  private def slice(c: GenConfig, lo: Long, hi: Long) = {
    val cc = c
    spark.range(lo, hi).as[Long]
      .mapPartitions(_.map(s => ChangeLogGen.eventAt(cc,
        ChangeLogGen.deliveredLsn(cc, s)))).toDF()
  }

  test("stage is invisible, audit sees the would-be state, publish lands it") {
    val direct = LakeTable.createTable(spark, tmpDir("wap-direct"),
      Schemas.transcript, nBuckets = 4)
    val staged = LakeTable.createTable(spark, tmpDir("wap-staged"),
      Schemas.transcript, nBuckets = 4)
    val log = ChangeLogGen.changeLogDF(spark, cfg)
    MergeApply.merge(direct, log, 0L)

    val v0 = staged.snapshot.version
    val res = MergeApply.merge(staged, log, 0L,
      MergeConfig(wapId = Some("audit-1")))
    assert(res.staged && !res.applied)
    // nothing visible: no new version, no rows, epoch NOT committed
    assert(staged.snapshot.version == v0)
    assert(staged.read().count() == 0)
    assert(!staged.snapshot.isCommitted(0L))
    assert(staged.stagedIds == Seq("audit-1"))
    // the audit read equals the direct merge's state
    assert(staged.readStaged("audit-1").as[TranscriptRow].collect().toSeq
      .sortBy(r => (r.conv_id, r.turn_idx)) == finalState(direct))
    // the changes view keeps the envelope (deletes auditable)
    val ch = staged.stagedChanges("audit-1")
    assert(ch.columns.contains("__op") && ch.columns.contains("__lsn"))
    assert(ch.filter(col("__op") === "D").count() > 0)

    val c = staged.publishStaged("audit-1")
    assert(c.version == v0 + 1)
    assert(staged.snapshot.isCommitted(0L))
    assert(staged.stagedIds.isEmpty)
    assert(finalState(staged) == finalState(direct))
    assert(staged.fsck().isEmpty)
  }

  test("restaging a pending wapId adopts the intent instead of re-writing") {
    val t = LakeTable.createTable(spark, tmpDir("wap-adopt"),
      Schemas.transcript, nBuckets = 4)
    val log = slice(cfg, 0L, 3000L)
    val r1 = MergeApply.merge(t, log, 0L, MergeConfig(wapId = Some("w")))
    assert(r1.staged)
    val files1 = t.stagedIntent("w").files.map(_.path)
    // crash-retry: same wapId merges again -> adopted, not re-staged
    val r2 = MergeApply.merge(t, log, 0L, MergeConfig(wapId = Some("w")))
    assert(r2.staged && !r2.applied)
    assert(t.stagedIntent("w").files.map(_.path) == files1)
    t.abortStaged("w")
  }

  test("abort deletes the staged files and leaves the table untouched") {
    val t = LakeTable.createTable(spark, tmpDir("wap-abort"),
      Schemas.transcript, nBuckets = 4)
    MergeApply.merge(t, slice(cfg, 0L, 2000L), 0L)
    val before = finalState(t)
    val v = t.snapshot.version
    MergeApply.merge(t, slice(cfg, 2000L, 4000L), 1L,
      MergeConfig(wapId = Some("bad")))
    val it = t.stagedIntent("bad")
    assert(it.files.nonEmpty)
    t.abortStaged("bad")
    assert(t.stagedIds.isEmpty)
    val conf = spark.sessionState.newHadoopConf()
    it.files.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f.path)
      assert(!p.getFileSystem(conf).exists(p), s"staged file survived abort: ${f.path}")
    }
    assert(t.snapshot.version == v)
    assert(finalState(t) == before)
    // the epoch was never committed: a direct retry applies normally
    val r = MergeApply.merge(t, slice(cfg, 2000L, 4000L), 1L)
    assert(r.applied)
  }

  test("MoR stage composes with commits that land in between (LWW by LSN)") {
    val t = LakeTable.createTable(spark, tmpDir("wap-compose"),
      Schemas.transcript, nBuckets = 8)
    val half = cfg.nEvents / 2
    // stage the FIRST half, then direct-commit the second, then publish:
    // arrival order inverts, final state must still be the oracle
    val r = MergeApply.merge(t, slice(cfg, 0L, half), 0L,
      MergeConfig(wapId = Some("early")))
    assert(r.staged)
    MergeApply.merge(t, slice(cfg, half, cfg.nEvents), 1L)
    t.publishStaged("early")
    assert(t.snapshot.isCommitted(0L) && t.snapshot.isCommitted(1L))
    assert(finalState(t) == ChangeLogGen.oracleFinalState(cfg))
  }

  test("publish after crash-before-cleanup is idempotent and keeps live files") {
    val t = LakeTable.createTable(spark, tmpDir("wap-crash"),
      Schemas.transcript, nBuckets = 4)
    MergeApply.merge(t, slice(cfg, 0L, 3000L), 0L,
      MergeConfig(wapId = Some("once")))
    // simulate crash between commit and intent cleanup: keep intent bytes
    val intentPath = java.nio.file.Paths.get(t.dir, "_staged", "once.json")
    val bytes = java.nio.file.Files.readAllBytes(intentPath)
    t.publishStaged("once")
    val v = t.snapshot.version
    val state = finalState(t)
    java.nio.file.Files.write(intentPath, bytes)
    // second publish: duplicate detected, intent retired, files KEPT
    t.publishStaged("once")
    assert(t.snapshot.version == v)
    assert(t.stagedIds.isEmpty)
    assert(finalState(t) == state)
    assert(t.fsck().isEmpty)
  }

  test("a staged bucket replacement conflicts when its buckets moved since stage") {
    val t = LakeTable.createTable(spark, tmpDir("wap-replstale"),
      Schemas.transcript, nBuckets = 2)
    MergeApply.merge(t, slice(cfg, 0L, 2000L), 0L)
    // an intent that retires both buckets, parked against the current
    // snapshot (the merge itself only stages deltas)
    def replacing(id: String, base: Snapshot) =
      StagedIntent(id, base.version, base.nBuckets, files = Nil,
        replacedBuckets = Seq(0, 1), epochId = Some(1L))
    t.stageIntent(replacing("stale", t.snapshot))
    // another writer lands rows in those buckets before publish
    MergeApply.merge(t, slice(cfg, 2000L, 4000L), 2L)
    val v = t.snapshot.version
    intercept[CommitConflictException](t.publishStaged("stale"))
    assert(t.snapshot.version == v && !t.snapshot.isCommitted(1L))
    t.abortStaged("stale")
    assert(t.stagedIds.isEmpty)
    // restaged from current, the same replacement publishes
    t.stageIntent(replacing("fresh", t.snapshot))
    t.publishStaged("fresh")
    assert(t.snapshot.isCommitted(1L))
    assert(t.read().count() == 0)
  }

  test("bucket-layout change between stage and publish conflicts") {
    val t = LakeTable.createTable(spark, tmpDir("wap-rebucket"),
      Schemas.transcript, nBuckets = 2)
    MergeApply.merge(t, slice(cfg, 0L, 2000L), 0L)
    val r = MergeApply.merge(t, slice(cfg, 2000L, 4000L), 1L,
      MergeConfig(wapId = Some("old-layout")))
    assert(r.staged)
    MergeApply.rebucket(t, 4)
    intercept[CommitConflictException](t.publishStaged("old-layout"))
    t.abortStaged("old-layout")
  }

  test("vacuum pins the staged base; vacuumOrphans spares staged files") {
    val t = LakeTable.createTable(spark, tmpDir("wap-vacuum"),
      Schemas.transcript, nBuckets = 2)
    MergeApply.merge(t, slice(cfg, 0L, 1000L), 0L)
    val baseV = t.snapshot.version
    MergeApply.merge(t, slice(cfg, 1000L, 2000L), 1L,
      MergeConfig(wapId = Some("pin")))
    assert(t.stagedIntent("pin").baseVersion == baseV)
    // advance the table so the base would otherwise expire
    MergeApply.merge(t, slice(cfg, 2000L, 3000L), 2L)
    MergeApply.merge(t, slice(cfg, 3000L, 4000L), 3L)
    t.vacuum(keepSnapshots = 1)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      t.dir, "_snapshots", f"v$baseV%012d.json")))
    // staged files are not orphans even past any grace window
    assert(t.vacuumOrphans(graceMs = 0L) == 0)
    val st = t.readStaged("pin") // audit still possible after vacuum
    assert(st.count() > 0)
    t.publishStaged("pin")
    assert(t.fsck().isEmpty)
  }

  test("pipeline audit gate: rejected batch is quarantined, watermark stays contiguous") {
    val feed = tmpDir("wap-feed")
    val n = cfg.nEvents
    val qtr = n / 4
    (0 until 4).foreach { b =>
      ChangeLogGen.writeBatchFile(spark, cfg, feed, f"batch_$b%05d",
        b * qtr, if (b == 3) n else (b + 1) * qtr)
      // force distinct, increasing mtimes so the file source's epoch
      // order is deterministic (epoch b <-> batch b)
      val f = new java.io.File(feed, f"batch_$b%05d.parquet")
      assert(f.setLastModified(1700000000000L + b * 60000L))
    }
    val gated = LakeTable.createTable(spark, tmpDir("wap-gated"),
      Schemas.transcript, nBuckets = 4)
    val audited = collection.mutable.Buffer[Long]()
    val pcfg = PipelineConfig(checkpointDir = tmpDir("wap-ckpt"),
      maxFilesPerTrigger = 1,
      auditGate = Some((t: LakeTable, wapId: String, epochId: Long) => {
        audited.synchronized { audited += epochId }
        // a real gate would run quality checks over readStaged/
        // stagedChanges; this one rejects epoch 1 outright
        epochId != 1L
      }))
    CdcPipeline.replayAvailable(spark, feed, gated, pcfg)

    // twin: the same event set minus the rejected batch, order-free (LWW)
    val twin = LakeTable.createTable(spark, tmpDir("wap-twin"),
      Schemas.transcript, nBuckets = 4)
    MergeApply.merge(twin, slice(cfg, 0L, qtr), 0L)
    MergeApply.merge(twin, slice(cfg, 2 * qtr, 3 * qtr), 2L)
    MergeApply.merge(twin, slice(cfg, 3 * qtr, n), 3L)
    assert(finalState(gated) == finalState(twin))

    assert(audited.sorted == Seq(0L, 1L, 2L, 3L))
    // exactly-once bookkeeping: ALL epochs committed, rejection audited
    assert(gated.snapshot.maxCommittedEpoch == 3L)
    val rejected = gated.lineageTable
      .filter(col("epochId") === 1L && col("rowsApplied") === 0L)
    assert(rejected.count() == 1)
    assert(rejected.head().getAs[Long]("rowsInBatch") == qtr)
    assert(gated.stagedIds.isEmpty)
    assert(gated.fsck().isEmpty)

    // restart over the same checkpoint: nothing re-applies, gate not re-run
    val v = gated.snapshot.version
    audited.clear()
    CdcPipeline.replayAvailable(spark, feed, gated, pcfg)
    assert(gated.snapshot.version == v)
    assert(audited.isEmpty)
  }

  test("CLI: staged / publish / abort-staged") {
    val dir = tmpDir("wap-cli")
    val t = LakeTable.createTable(spark, dir, Schemas.transcript, nBuckets = 2)
    MergeApply.merge(t, slice(cfg, 0L, 1000L), 0L,
      MergeConfig(wapId = Some("keep")))
    MergeApply.merge(t, slice(cfg, 1000L, 2000L), 1L,
      MergeConfig(wapId = Some("drop")))
    def cli(args: String*): (Int, Seq[String]) = {
      val lines = collection.mutable.ArrayBuffer.empty[String]
      val code = TableMain.run(spark, args, lines += _)
      (code, lines.toSeq)
    }
    val (c1, listed) = cli(dir, "staged")
    assert(c1 == 0 && listed.size == 2)
    assert(listed.exists(_.startsWith("keep")) &&
      listed.exists(_.startsWith("drop")))
    assert(cli(dir, "publish", "keep")._1 == 0)
    assert(cli(dir, "abort-staged", "drop")._1 == 0)
    assert(t.stagedIds.isEmpty)
    assert(t.snapshot.isCommitted(0L) && !t.snapshot.isCommitted(1L))
    assert(cli(dir, "publish", "gone")._1 == 1) // unknown intent -> error
  }

  test("gate crash between stage and verdict re-audits without re-merging") {
    val feed = tmpDir("wap-feed2")
    ChangeLogGen.writeBatchFile(spark, cfg, feed, "only", 0L, 2000L)
    val t = LakeTable.createTable(spark, tmpDir("wap-gated2"),
      Schemas.transcript, nBuckets = 4)
    val boom = new java.util.concurrent.atomic.AtomicBoolean(true)
    val pcfg = PipelineConfig(checkpointDir = tmpDir("wap-ckpt2"),
      maxFilesPerTrigger = 1,
      auditGate = Some((_: LakeTable, _: String, _: Long) => {
        if (boom.getAndSet(false)) sys.error("auditor crashed")
        true
      }))
    intercept[Exception] {
      CdcPipeline.replayAvailable(spark, feed, t, pcfg)
    }
    // the intent survived the crash; the restart adopts it (no second
    // physical merge) and publishes
    assert(t.stagedIds.nonEmpty)
    CdcPipeline.replayAvailable(spark, feed, t, pcfg)
    assert(t.stagedIds.isEmpty)
    assert(t.snapshot.isCommitted(0L))
    assert(t.read().count() > 0)
  }
}
