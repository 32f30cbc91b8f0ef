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
}
