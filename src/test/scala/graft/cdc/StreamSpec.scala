package graft.cdc

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.gen.{ChangeLogGen, GenConfig}
import graft.lake.LakeTable
import graft.model.{Schemas, TranscriptRow}

class StreamSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(nEvents = 12000L, nConvs = 200L, maxTurns = 15)

  private def finalState(t: LakeTable): Seq[TranscriptRow] =
    t.read().as[TranscriptRow].collect().toSeq.sortBy(r => (r.conv_id, r.turn_idx))

  test("streaming replay of batched feed reproduces the oracle") {
    val feed = tmpDir("feed")
    ChangeLogGen.writeBatches(spark, cfg, feed, nBatches = 6)
    val table = LakeTable.createTable(spark, tmpDir("lt-stream"),
      Schemas.transcript, nBuckets = 8)
    val pcfg = PipelineConfig(checkpointDir = tmpDir("ckpt"), maxFilesPerTrigger = 2)
    CdcPipeline.replayAvailable(spark, feed, table, pcfg)
    assert(finalState(table) == ChangeLogGen.oracleFinalState(cfg))
    // resumable: a second replay over the same checkpoint applies nothing
    val v = table.snapshot.version
    CdcPipeline.replayAvailable(spark, feed, table, pcfg)
    assert(table.snapshot.version == v)
  }

  test("pre/post batch hooks: declarative pre-transform fuses in, post sees results") {
    import org.apache.spark.sql.functions.{col, upper}
    val feed = tmpDir("feed-hooks")
    ChangeLogGen.writeBatches(spark, cfg.copy(nEvents = 2000L), feed, nBatches = 2)
    val table = LakeTable.createTable(spark, tmpDir("lt-hooks"),
      Schemas.transcript, nBuckets = 4)
    val seen = collection.mutable.Buffer[(Long, Long)]()
    val pcfg = PipelineConfig(checkpointDir = tmpDir("ckpt-hooks"),
      maxFilesPerTrigger = 1,
      preBatch = (b: DataFrame, _: Long) =>
        b.withColumn("role", upper(col("role"))),
      postBatch = (_: LakeTable, e: Long, r: MergeResult) =>
        seen.synchronized { seen += ((e, r.rowsApplied)); () })
    CdcPipeline.replayAvailable(spark, feed, table, pcfg)
    // pre-hook transformed every applied row
    assert(table.read().filter(col("role") =!= upper(col("role"))).count() == 0)
    assert(table.read().filter(col("role").rlike("[a-z]")).count() == 0)
    // post-hook observed each committed epoch with its merge result
    assert(seen.map(_._1).sorted == Seq(0L, 1L))
    assert(seen.map(_._2).sum == 2000L)
  }

  test("always-on mode (ProcessingTime trigger) ingests files as they land") {
    val feed = tmpDir("feed-live")
    val small = cfg.copy(nEvents = 2000L)
    ChangeLogGen.writeBatchFile(spark, small, feed, "first", 0L, 1000L)
    val table = LakeTable.createTable(spark, tmpDir("lt-live"),
      Schemas.transcript, nBuckets = 4)
    val pcfg = PipelineConfig(checkpointDir = tmpDir("ckpt-live"),
      maxFilesPerTrigger = 1, triggerIntervalMs = Some(50L))
    val q = CdcPipeline.start(spark, feed, table, pcfg)
    try {
      q.processAllAvailable()
      val v1 = table.snapshot.version
      assert(table.lineage.exists(_.epochId >= 0))
      // a new file lands while the query is live — no restart
      ChangeLogGen.writeBatchFile(spark, small, feed, "second", 1000L, 2000L)
      q.processAllAvailable()
      assert(table.snapshot.version > v1)
      assert(table.lineage.filter(_.epochId >= 0).map(_.rowsApplied).sum == 2000L)
    } finally q.stop()
    // final state equals the sequential oracle over both deliveries
    assert(finalState(table) == ChangeLogGen.oracleFinalState(small))
  }

  test("in-pipeline vacuum cadence bounds retained snapshots, preserves state") {
    val feed = tmpDir("feed-vac")
    val small = cfg.copy(nEvents = 4000L)
    ChangeLogGen.writeBatches(spark, small, feed, nBatches = 8)
    val table = LakeTable.createTable(spark, tmpDir("lt-vac"),
      Schemas.transcript, nBuckets = 4)
    val pcfg = PipelineConfig(checkpointDir = tmpDir("ckpt-vac"),
      maxFilesPerTrigger = 1, vacuumEveryEpochs = 3, vacuumKeepSnapshots = 2)
    CdcPipeline.replayAvailable(spark, feed, table, pcfg)
    // old snapshots were expired along the way
    val snapFiles = new java.io.File(s"${table.dir}/_snapshots").list()
      .count(n => n.startsWith("v") && n.endsWith(".json"))
    assert(snapFiles <= 3 + 2) // keep window + post-vacuum commits
    // final state still equals the oracle; the audit log is complete
    assert(finalState(table) == ChangeLogGen.oracleFinalState(small))
    assert(table.lineageTable.count() >= 8)
  }

  test("input checksum gate: same bytes under a new feed file name apply zero rows") {
    val feed = tmpDir("feed-cksum")
    val small = cfg.copy(nEvents = 2000L)
    ChangeLogGen.writeBatchFile(spark, small, feed, "orig", 0L, 2000L)
    val table = LakeTable.createTable(spark, tmpDir("lt-cksum"),
      Schemas.transcript, nBuckets = 4)
    val pcfg = PipelineConfig(checkpointDir = tmpDir("ckpt-cksum"),
      maxFilesPerTrigger = 1,
      merge = MergeConfig(inputChecksumGate = true))
    CdcPipeline.replayAvailable(spark, feed, table, pcfg)
    val applied1 = table.lineage.filter(_.epochId >= 0).map(_.rowsApplied).sum
    assert(applied1 == 2000L)
    val rows1 = finalState(table)

    // the SAME bytes re-land as a NEW file: the path-based stream source
    // treats it as new input, the content gate must not re-apply it
    val orig = new java.io.File(feed).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(orig.toPath,
      new java.io.File(feed, "relanded-copy.parquet").toPath)
    CdcPipeline.replayAvailable(spark, feed, table, pcfg)
    val lin = table.lineage.filter(_.epochId >= 0)
    assert(lin.size == 2, "the re-land must still commit its epoch (contiguity)")
    assert(lin.last.rowsApplied == 0L, "identical content must apply zero rows")
    assert(lin.last.rowsInBatch == 2000L)
    assert(lin.last.inputChecksum.nonEmpty &&
      lin.last.inputChecksum == lin.head.inputChecksum)
    assert(finalState(table) == rows1)

    // genuinely new content still applies
    ChangeLogGen.writeBatchFile(spark, cfg.copy(nEvents = 4000L), feed,
      "fresh", 2000L, 4000L)
    CdcPipeline.replayAvailable(spark, feed, table, pcfg)
    val lin3 = table.lineage.filter(_.epochId >= 0)
    assert(lin3.last.rowsApplied == 2000L)
  }

  test("late-arriving feed files are picked up on resume from checkpoint") {
    val feed = tmpDir("feed2")
    val half = cfg.copy(nEvents = cfg.nEvents / 2)
    ChangeLogGen.writeBatches(spark, half, feed, nBatches = 3)
    val table = LakeTable.createTable(spark, tmpDir("lt-resume"),
      Schemas.transcript, nBuckets = 8)
    val pcfg = PipelineConfig(checkpointDir = tmpDir("ckpt2"), maxFilesPerTrigger = 2)
    CdcPipeline.replayAvailable(spark, feed, table, pcfg)
    // second half arrives later, under different file names
    val c = cfg
    (3 until 6).foreach { b =>
      val per = c.nEvents / 6
      ChangeLogGen.writeBatchFile(spark, c, feed, f"late_$b%05d",
        b * per, (b + 1) * per)
    }
    CdcPipeline.replayAvailable(spark, feed, table, pcfg)
    // NOTE: first run delivered slots [0, n/2) of the *half* config — which
    // is the same event function but n differs in the slot scramble, so
    // recompute the oracle over the union of both deliveries.
    val oracle = {
      val last = scala.collection.mutable.HashMap.empty[(String, Int), graft.model.ChangeEvent]
      def add(e: graft.model.ChangeEvent): Unit = {
        val k = (e.conv_id, e.turn_idx)
        if (!last.get(k).exists(_.lsn > e.lsn)) last(k) = e
      }
      (0L until half.nEvents).foreach(s => add(ChangeLogGen.eventAt(half, ChangeLogGen.deliveredLsn(half, s))))
      (3 * (c.nEvents / 6) until c.nEvents).foreach(s => add(ChangeLogGen.eventAt(c, ChangeLogGen.deliveredLsn(c, s))))
      last.values.filter(_.op != "D")
        .map(e => TranscriptRow(e.conv_id, e.turn_idx, e.role, e.text, e.tool, e.ts))
        .toSeq.sortBy(r => (r.conv_id, r.turn_idx))
    }
    assert(finalState(table) == oracle)
  }

  test("progress listener observes batches; no alerts on success") {
    val feed = tmpDir("feed-listener")
    ChangeLogGen.writeBatches(spark, cfg, feed, nBatches = 2)
    val l = ProgressListener.attach(spark)
    try {
      val table = LakeTable.createTable(spark, tmpDir("lt-listener"),
        Schemas.transcript, 4)
      CdcPipeline.replayAvailable(spark, feed, table,
        PipelineConfig(checkpointDir = tmpDir("ckpt-listener"),
          maxFilesPerTrigger = 4))
      // the shared session may run other suites' queries concurrently;
      // count only this query's batches. Delivery is async — drain.
      val qn = s"cdc-ingest-${table.dir.hashCode.toHexString}"
      def mine = l.batchStats.filter(_.queryName == qn)
      val deadline = System.currentTimeMillis() + 10000
      while (mine.map(_.numInputRows).sum < cfg.nEvents &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(mine.map(_.numInputRows).sum == cfg.nEvents)
      assert(l.alerts.isEmpty)
      assert(!l.stalenessAlert(maxSilentMs = 60000))
    } finally ProgressListener.remove(spark, l)
  }

  test("lineage records late events below the previous watermark") {
    val feed = tmpDir("feed-late")
    ChangeLogGen.writeBatches(spark, cfg, feed, nBatches = 4)
    val table = LakeTable.createTable(spark, tmpDir("lt-late"),
      Schemas.transcript, nBuckets = 8)
    CdcPipeline.replayAvailable(spark, feed, table,
      PipelineConfig(checkpointDir = tmpDir("ckpt-late"), maxFilesPerTrigger = 1))
    val lin = table.lineage.filter(_.epochId >= 0)
    // generator timestamps are pseudo-random within a window, so epochs
    // after the first must contain events older than the prior watermark
    assert(lin.head.lateEvents == 0L) // no watermark before the first epoch
    assert(lin.tail.exists(_.lateEvents > 0L))
    // the mirror table exposes the same metric column
    val mirrored = table.lineageTable.filter("epochId >= 0")
      .selectExpr("sum(lateEvents)").head().getLong(0)
    assert(mirrored == lin.map(_.lateEvents).sum)
  }

  test("destination fan-out: one feed, two sinks, both correct") {
    val feed = tmpDir("feed-fan")
    ChangeLogGen.writeBatches(spark, cfg, feed, nBatches = 3)
    val a = LakeTable.createTable(spark, tmpDir("lt-fan-a"),
      Schemas.transcript, 4)
    val b = LakeTable.createTable(spark, tmpDir("lt-fan-b"),
      Schemas.transcript, 4)
    CdcPipeline.replayFanOutAvailable(spark, feed, Seq(a, b),
      PipelineConfig(checkpointDir = tmpDir("ckpt-fan"), maxFilesPerTrigger = 1))
    val oracle = ChangeLogGen.oracleFinalState(cfg)
    assert(finalState(a) == oracle)
    assert(finalState(b) == oracle)
  }

  test("crash after commit, before ack: restart skips the committed epoch") {
    val feed = tmpDir("feed3")
    ChangeLogGen.writeBatches(spark, cfg, feed, nBatches = 6)
    val table = LakeTable.createTable(spark, tmpDir("lt-crash"),
      Schemas.transcript, nBuckets = 8)
    val ckpt = tmpDir("ckpt3")
    val crashed = new AtomicBoolean(false)
    def run(failAt: Long): Unit = {
      val q = spark.readStream.schema(Schemas.changeEvent)
        .option("maxFilesPerTrigger", 1).parquet(feed)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, epochId: Long) =>
          MergeApply.merge(table, batch, epochId)
          // simulate a crash AFTER the table commit but BEFORE the
          // checkpoint acknowledges the epoch → redelivery on restart
          if (epochId == failAt && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash")
          ()
        }.start()
      try q.awaitTermination() catch { case _: Exception => () }
      finally if (q.isActive) q.stop()
    }
    run(failAt = 2L)
    assert(crashed.get)
    run(failAt = -1L) // restart, no injected crash
    assert(finalState(table) == ChangeLogGen.oracleFinalState(cfg))
    // epoch 2 committed exactly once
    assert(table.lineage.count(_.epochId == 2L) == 1)
  }
}
