package graft.cdc

import org.apache.spark.sql.SparkSession

import graft.gen.{ChangeLogGen, GenConfig}
import graft.lake.LakeTable
import graft.model.Schemas

/** CLI surface for the engine: generate a seeded change feed, replay it
  * through the streaming CDC pipeline into a lake table, and report
  * lineage + throughput. Doubles as the bench kernel.
  *
  * Usage: runMain graft.cdc.ReplayMain <workDir> <nEvents> <nBatches>
  *        [cores] [nBuckets] [check] [filesPerBatch]
  */
object ReplayMain {
  def main(args: Array[String]): Unit = {
    val workDir = args.lift(0).getOrElse(sys.error("usage: ReplayMain <workDir> <nEvents> <nBatches> [cores] [nBuckets] [check]"))
    val nEvents = args.lift(1).map(_.toLong).getOrElse(100000L)
    val nBatches = args.lift(2).map(_.toInt).getOrElse(8)
    val cores = args.lift(3).map(_.toInt).getOrElse(8)
    val nBuckets = args.lift(4).map(_.toInt).getOrElse(32)
    val check = args.lift(5).forall(_.toBoolean)
    val filesPerBatch = args.lift(6).map(_.toInt).getOrElse(8)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-replay")
      // 4x cores: keeps per-task sorts memory-resident and smooths task
      // skew from bucket->partition hash collisions
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val cfg = GenConfig(nEvents = nEvents,
        nConvs = math.max(4L, nEvents / 50), maxTurns = 40)
      val feed = s"$workDir/feed"
      val tableDir = s"$workDir/table"
      val ckpt = s"$workDir/ckpt"

      println(s"[replay] generating $nEvents events into $nBatches batches x $filesPerBatch files …")
      val tGen = System.nanoTime()
      ChangeLogGen.writeBatches(spark, cfg, feed, nBatches, filesPerBatch)
      println(f"[replay] feed written in ${(System.nanoTime() - tGen) / 1e9}%.1f s")

      val existing = LakeTable.load(spark, tableDir)
      val table =
        if (existing.exists) { println(s"[replay] resuming existing table at $tableDir (v${existing.snapshot.version})"); existing }
        else LakeTable.createTable(spark, tableDir, Schemas.transcript, nBuckets)
      val pcfg = PipelineConfig(checkpointDir = ckpt,
        maxFilesPerTrigger = filesPerBatch)
      val t0 = System.nanoTime()
      CdcPipeline.replayAvailable(spark, feed, table, pcfg)
      val sec = (System.nanoTime() - t0) / 1e9
      val rate = nEvents / sec

      val snap = table.snapshot
      // the complete epoch count comes from the append-only mirror; the
      // in-snapshot log is a bounded tail (maxLineageInSnapshot). Filter
      // to FEED epochs: compaction/rebucket commits mirror as epochId=-1
      // rows and would overstate the count this line reports throughput
      // against.
      val totalEpochs = table.lineageTable.where("epochId >= 0").count()
      println(f"[replay] applied $totalEpochs epochs in $sec%.2f s → $rate%.0f events/s")
      snap.lineage.takeRight(50).foreach { l =>
        println(f"[lineage] epoch=${l.epochId} v=${l.version} rows=${l.rowsApplied} buckets=${l.bucketsTouched.size} files+${l.filesRewritten}/~${l.filesCarried} maxLsn=${l.maxLsn} ${l.durationMs} ms")
      }
      val rows = table.read().count()
      println(s"[replay] final table rows = $rows (snapshot v${snap.version})")
      table.read().orderBy("conv_id", "turn_idx").show(5, truncate = false)

      // ONE driver-side sequential replay shared by all three checks —
      // each recompute is an O(nEvents) single-threaded loop, and the
      // full evidence configuration (check + FOLLOW + AGGVIEW) needs it
      // three times
      lazy val oracle = ChangeLogGen.oracleFinalState(cfg)
      if (check) {
        print("[replay] checking final state vs sequential oracle … ")
        import spark.implicits._
        val got = table.read().as[graft.model.TranscriptRow]
          .collect().sortBy(r => (r.conv_id, r.turn_idx)).toSeq
        if (got == oracle) println("OK (exact match)")
        else { println(s"MISMATCH got=${got.size} want=${oracle.size}"); sys.exit(1) }
      }

      // GRAFT_FOLLOW=1: mirror the table into <workDir>/downstream with
      // the `graft-table` source → sink one-liner and hold the mirror to
      // the SAME sequential oracle — end-to-end evidence for the
      // downstream-consumption surface at replay scale. The stream
      // checkpoint carries the mirror's progress, so a re-run applies
      // nothing.
      if (sys.env.contains("GRAFT_FOLLOW")) {
        val downDir = s"$workDir/downstream"
        if (!LakeTable.load(spark, downDir).exists)
          LakeTable.createTable(spark, downDir, Schemas.transcript,
            math.max(4, nBuckets / 2))
        val tF = System.nanoTime()
        val q = spark.readStream.format("graft-table")
          .option("path", tableDir).load()
          .writeStream.format("graft-table").option("path", downDir)
          .option("checkpointLocation", s"$workDir/downstream-ckpt")
          .start()
        try q.processAllAvailable() finally q.stop()
        val fSec = (System.nanoTime() - tF) / 1e9
        print(f"[follow] streamed (graft-table source → sink) in $fSec%.2f s; downstream vs oracle … ")
        import spark.implicits._
        val got = LakeTable.load(spark, downDir).read()
          .as[graft.model.TranscriptRow]
          .collect().sortBy(r => (r.conv_id, r.turn_idx)).toSeq
        if (got == oracle) println("OK (exact match)")
        else { println(s"MISMATCH got=${got.size}"); sys.exit(1) }
      }
      // GRAFT_AGGVIEW=1: maintain an incremental materialized aggregate
      // (turns + chars per conversation) ACROSS the replayed history —
      // the view refreshes at ~8 snapshot cuts (first = bootstrap, rest
      // = change-feed incremental rounds) and the final view is held to
      // the SAME sequential oracle, aggregated on the driver. End-to-end
      // evidence that IVM over the CDF reproduces exact aggregates at
      // replay scale.
      if (sys.env.contains("GRAFT_AGGVIEW")) {
        import org.apache.spark.sql.functions.{col, length}
        val view = LakeTable.load(spark, s"$workDir/aggview")
        val sums = Seq("n_chars" -> length(col("text")))
        // min/max/avg ride the same replay: an update/delete-heavy
        // changelog constantly removes extremum-holding rows, so the 8
        // incremental cuts drive the per-key retraction-recovery path
        // (not just least/greatest extension) at replay scale
        val lenCol = length(col("text"))
        val mins = Seq("min_len" -> lenCol)
        val maxs = Seq("max_len" -> lenCol)
        val avgs = Seq("avg_len" -> lenCol)
        val vMax = table.snapshot.version
        val cuts = (1 to 8).map(i => vMax * i / 8).distinct
          .filter(_ >= 1).sorted
        val tV = System.nanoTime()
        val rounds = cuts.map(v =>
          AggView.refresh(table, view, sums, mins, maxs, avgs,
            asOf = Some(v)))
        val vSec = (System.nanoTime() - tV) / 1e9
        val modes = rounds.groupBy(_.mode).view.mapValues(_.size).toMap
        print(f"[aggview] ${rounds.size} refresh rounds ($modes) in " +
          f"$vSec%.2f s; view vs oracle aggregate … ")
        val want = oracle
          .groupBy(_.conv_id).map { case (c, rs) =>
            val lens = rs.map(r =>
              Option(r.text).map(_.length.toLong).getOrElse(0L))
            val nn = rs.flatMap(r => Option(r.text).map(_.length))
            (c, rs.size.toLong, lens.sum,
              nn.minOption.getOrElse(-1), nn.maxOption.getOrElse(-1),
              nn.map(_.toLong).sum, nn.size.toLong,
              // -1.0 sentinel for all-null, not NaN: boxed Scala tuple
              // equality compares doubles with ==, where NaN != NaN
              if (nn.isEmpty) -1.0
              else nn.map(_.toLong).sum.toDouble / nn.size)
          }.toSet
        val got = view.read().select("conv_id", "n_turns", "n_chars",
          "min_len", "max_len", "avg_len_sum", "avg_len_cnt", "avg_len")
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) -1 else r.getInt(3),
            if (r.isNullAt(4)) -1 else r.getInt(4),
            r.getLong(5), r.getLong(6),
            if (r.isNullAt(7)) -1.0 else r.getDouble(7))).toSet
        if (got == want) println("OK (exact match)")
        else { println(s"MISMATCH got=${got.size} want=${want.size}"); sys.exit(1) }
      }

      println(f"""{"metric":"cdc_events_per_sec","value":$rate%.1f,"events":$nEvents,"batches":$nBatches,"cores":$cores,"buckets":$nBuckets,"seconds":$sec%.3f}""")
    } finally spark.stop()
  }
}
