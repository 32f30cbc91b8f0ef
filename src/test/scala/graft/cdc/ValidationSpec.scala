package graft.cdc

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.gen.{ChangeLogGen, GenConfig}
import graft.lake.LakeTable
import graft.model.{Schemas, TranscriptRow}

/** Poison-event policy ([[MergeConfig.invalidRows]]): envelope-invalid
  * change events — null/uncastable lsn or key, op outside {I,U,D}, an
  * envelope value the target schema cannot cast — must never silently
  * upsert (the pre-validation behavior: `normalize` collapsed ANY
  * non-D op to "U" and a null conv_id became a live key). Default
  * "fail" aborts loudly before anything commits, the reference's
  * schema-validation posture; "quarantine" dead-letters them to
  * `_rejects` and applies the rest. */
class ValidationSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(nEvents = 4000L, nConvs = 80L, maxTurns = 10)

  private def finalState(table: LakeTable): Seq[TranscriptRow] =
    table.read().as[TranscriptRow].collect().toSeq
      .sortBy(r => (r.conv_id, r.turn_idx))

  /** A valid log with `n` poison rows appended: one per reason class. */
  private def poisoned(n: Int) = {
    val good = ChangeLogGen.changeLogDF(spark, cfg)
    val bad = Seq(
      (9000001L, "I", null.asInstanceOf[String], 0, "user", "t1", null.asInstanceOf[String], null.asInstanceOf[java.sql.Timestamp]), // null conv_id
      (9000002L, "X", "conv_p2", 0, "user", "t2", null.asInstanceOf[String], null.asInstanceOf[java.sql.Timestamp]), // unknown op
      (9000003L, "I", "conv_p3", 0, "user", "t3", null.asInstanceOf[String], null.asInstanceOf[java.sql.Timestamp])) // null lsn (below)
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      .withColumn("lsn", when(col("lsn") === 9000003L,
        lit(null).cast("long")).otherwise(col("lsn")))
      .limit(n)
    good.unionByName(bad)
  }

  test("default fail: a poison batch aborts before anything commits") {
    val dir = tmpDir("val-fail")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript,
      nBuckets = 4)
    MergeApply.merge(table, ChangeLogGen.changeLogDF(spark, cfg),
      epochId = 0L)
    val v0 = table.snapshot.version
    val state0 = finalState(table)
    val e = intercept[PoisonEventException] {
      MergeApply.merge(table, poisoned(3), epochId = 1L)
    }
    assert(e.count == 3L && e.epochId == 1L)
    assert(table.snapshot.version == v0, "nothing may commit")
    assert(finalState(table) == state0)
    // the aborted epoch's uncommitted delta files were reclaimed inline —
    // an immediate orphan sweep (no grace) finds nothing left to collect
    assert(table.vacuumOrphans(graceMs = 0L) == 0)
    // the feed is NOT wedged: the same epoch id retried with a clean
    // batch applies normally
    val r = MergeApply.merge(table,
      ChangeLogGen.changeLogDF(spark, cfg).limit(100), epochId = 1L)
    assert(r.applied)
  }

  test("quarantine: invalid events dead-letter with reasons; the rest applies") {
    val dir = tmpDir("val-quar")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript,
      nBuckets = 4)
    val q = MergeConfig(invalidRows = "quarantine")
    val res = MergeApply.merge(table, poisoned(3), epochId = 0L, q)
    assert(res.applied && res.rejectedEvents == 3L)
    // valid remainder == the clean log's final state, poison kept out
    assert(finalState(table) == ChangeLogGen.oracleFinalState(cfg))
    assert(table.lineage.last.rejectedEvents == 3L)
    // dead letters carry the per-row reason
    val rej = spark.read
      .parquet(s"$dir/_rejects/_global/epoch=0")
      .select(col("lsn"), col("reject_reason")).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getString(1))
      .toMap
    assert(rej == Map(9000001L -> "null_key:conv_id", 9000002L -> "bad_op",
      -1L -> "null_lsn"))
    // replaying the epoch is a no-op on the table AND leaves exactly one
    // dead-letter copy (overwrite semantics)
    val r2 = MergeApply.merge(table, poisoned(3), epochId = 0L, q)
    assert(!r2.applied)
    assert(spark.read.parquet(s"$dir/_rejects/_global/epoch=0").count() == 3)

    // a two-row batch into an EMPTY table: fail commits nothing,
    // quarantine applies (and counts) exactly the valid row
    val dir2 = tmpDir("val-quar-small")
    val small = LakeTable.createTable(spark, dir2, Schemas.transcript,
      nBuckets = 2)
    val two = Seq((1L, "I", "a", 0, "user", "x"),
      (2L, "I", null.asInstanceOf[String], 0, "user", "y"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
    intercept[PoisonEventException](MergeApply.merge(small, two, 0L))
    assert(small.read().count() == 0L, "nothing may commit")
    val r3 = MergeApply.merge(small, two, 0L, q)
    assert(r3.applied && r3.rowsApplied == 1L && r3.rejectedEvents == 1L)
    assert(small.read().count() == 1L)
    assert(spark.read.parquet(s"$dir2/_rejects/_global/epoch=0")
      .head().getAs[String]("reject_reason") == "null_key:conv_id")
  }

  test("quarantine: an uncastable envelope value is rejected, not a mid-write crash") {
    val dir = tmpDir("val-cast")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript,
      nBuckets = 2)
    val q = MergeConfig(invalidRows = "quarantine")
    // turn_idx arrives as a string column: castable values pass, the
    // garbage row dead-letters instead of blowing up the ANSI cast
    val batch = Seq(
      (1L, "I", "c1", "0", "user", "ok"),
      (2L, "I", "c1", "not-a-number", "user", "bad"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
    val res = MergeApply.merge(table, batch, epochId = 0L, q)
    assert(res.applied && res.rejectedEvents == 1L)
    assert(table.read().count() == 1L)
    val reason = spark.read.parquet(s"$dir/_rejects/_global/epoch=0")
      .select(col("reject_reason")).head().getString(0)
    assert(reason == "bad_cast:turn_idx")
  }

  test("an all-invalid batch under quarantine still advances the epoch watermark") {
    val dir = tmpDir("val-allbad")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript,
      nBuckets = 2)
    val q = MergeConfig(invalidRows = "quarantine")
    val bad = Seq((1L, "Z", "c1", 0, "user", "t"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
    val res = MergeApply.merge(table, bad, epochId = 0L, q)
    assert(res.applied && res.rowsApplied == 0L && res.rejectedEvents == 1L)
    assert(table.snapshot.maxCommittedEpoch == 0L,
      "the rejected epoch must land in the watermark (contiguity)")
    assert(table.read().count() == 0L)
    // a later clean epoch applies normally
    val r = MergeApply.merge(table,
      Seq((2L, "I", "c1", 0, "user", "t"))
        .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text"),
      epochId = 1L, q)
    assert(r.applied && table.read().count() == 1L)
  }

  test("off: validation adds nothing to the plan and trusts the feed") {
    val dir = tmpDir("val-off")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript,
      nBuckets = 2)
    val off = MergeConfig(invalidRows = "off")
    // pre-validation behavior preserved: the unknown op upserts as "U"
    val res = MergeApply.merge(table,
      Seq((1L, "X", "c1", 0, "user", "t"))
        .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text"),
      epochId = 0L, off)
    assert(res.applied && res.rejectedEvents == 0L)
    assert(table.read().count() == 1L)
  }

  test("TableMain rejects: dead-letter inventory with per-reason rollup") {
    val dir = tmpDir("val-cli")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript,
      nBuckets = 2)
    val q = MergeConfig(invalidRows = "quarantine")
    MergeApply.merge(table, poisoned(3), epochId = 0L, q)
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    assert(graft.lake.TableMain.run(spark, Seq(dir, "rejects"),
      lines += _) == 0)
    assert(lines.exists(_.contains("_global/epoch=0")))
    assert(lines.exists(l => l.contains("bad_op") && l.trim.endsWith("1")))
    // a clean table reports cleanly
    val dir2 = tmpDir("val-cli2")
    LakeTable.createTable(spark, dir2, Schemas.transcript, nBuckets = 2)
    val lines2 = scala.collection.mutable.ArrayBuffer[String]()
    assert(graft.lake.TableMain.run(spark, Seq(dir2, "rejects"),
      lines2 += _) == 0)
    assert(lines2 == Seq("[table] no rejects"))
  }

  test("a clean feed pays no quarantine action and rejects nothing") {
    val dir = tmpDir("val-clean")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript,
      nBuckets = 4)
    val res = MergeApply.merge(table, ChangeLogGen.changeLogDF(spark, cfg),
      epochId = 0L)
    assert(res.applied && res.rejectedEvents == 0L)
    assert(!new java.io.File(s"$dir/_rejects").exists(),
      "no dead-letter directory for a clean feed")
    assert(finalState(table) == ChangeLogGen.oracleFinalState(cfg))
  }
}
