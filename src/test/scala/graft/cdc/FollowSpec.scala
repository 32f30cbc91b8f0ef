package graft.cdc

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.gen.{ChangeLogGen, GenConfig}
import graft.lake.LakeTable
import graft.model.{Schemas, TranscriptRow}

/** Table-to-table incremental sync ([[CdcPipeline.followOnce]]) — the
  * downstream-consumption half of CDC. */
class FollowSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(nEvents = 10000L, nConvs = 150L, maxTurns = 12)

  private def state(t: LakeTable): Seq[TranscriptRow] =
    t.read().as[TranscriptRow].collect().toSeq.sortBy(r => (r.conv_id, r.turn_idx))

  test("follow mirrors the source incrementally, exactly-once, deletes included") {
    val src = LakeTable.createTable(spark, tmpDir("fl-src"), Schemas.transcript, 8)
    // different bucket count downstream: the sync is layout-independent
    val dst = LakeTable.createTable(spark, tmpDir("fl-dst"), Schemas.transcript, 4)
    val full = ChangeLogGen.changeLogDF(spark, cfg).cache()
    val maxLsn = full.agg(max("lsn")).as[Long].head()
    val cut = maxLsn / 2
    MergeApply.merge(src, full.filter(col("lsn") <= cut), 0L,
      MergeConfig())

    // first round: fresh destination does a full copy
    val r1 = CdcPipeline.followOnce(src, dst)
    assert(r1.applied && r1.fromVersion == -1L)
    assert(r1.toVersion == src.snapshot.version)
    assert(state(dst) == state(src))

    // caught up: a second round applies nothing
    val v = dst.snapshot.version
    assert(!CdcPipeline.followOnce(src, dst).applied)
    assert(dst.snapshot.version == v)

    // new source epoch (with deletes): only the gap flows downstream
    MergeApply.merge(src, full.filter(col("lsn") > cut), 1L,
      MergeConfig())
    val srcSnap = src.snapshot
    assert(src.arrivalFiles(srcSnap, r1.toVersion).size < srcSnap.files.size)
    val r2 = CdcPipeline.followOnce(src, dst)
    assert(r2.applied && r2.fromVersion == r1.toVersion)
    assert(state(dst) == state(src))
    assert(state(dst).nonEmpty)

    // crash-retry of the same round: the epoch guard makes it a no-op
    val replay = src.arrivalsSince(r2.fromVersion)
      .withColumnRenamed("__lsn", "lsn").withColumnRenamed("__op", "op")
    assert(!MergeApply.merge(dst, replay, r2.toVersion).applied)
    assert(state(dst) == state(src))
    full.unpersist()
  }

  test("follow survives arrival below the consumed LSN high water") {
    // the hazard that retired LSN-cut rounds: a key whose WINNING event
    // arrives in a later commit carrying an LSN below the already-
    // consumed high water is in no `__lsn > cut` range — an LSN-cut
    // round loses it forever; the commit-version window cannot
    val src = LakeTable.createTable(spark, tmpDir("flo-src"), Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, tmpDir("flo-dst"), Schemas.transcript, 2)
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def batch(rows: Seq[(Long, String, String, Int, String)]) =
      rows.toDF("lsn", "op", "conv_id", "turn_idx", "text")
        .withColumn("role", lit("user"))
        .withColumn("tool", lit(null).cast("string"))
        .withColumn("ts", lit(ts))

    MergeApply.merge(src, batch(Seq((100L, "I", "c1", 0, "first"))), 0L)
    assert(CdcPipeline.followOnce(src, dst).applied)
    // late arrival: NEW key, LSN far below the consumed high water (100)
    MergeApply.merge(src, batch(Seq((50L, "I", "c2", 0, "late-low-lsn"))), 1L)
    assert(CdcPipeline.followOnce(src, dst).applied)
    assert(state(dst) == state(src))
    assert(state(dst).exists(_.conv_id == "c2"))
  }

  test("follow propagates source schema evolution, column docs included") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val src = LakeTable.createTable(spark, tmpDir("fle-src"), Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, tmpDir("fle-dst"), Schemas.transcript, 2)
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def batch(rows: Seq[(Long, String, String, Int, String)]) =
      rows.toDF("lsn", "op", "conv_id", "turn_idx", "text")
        .withColumn("role", lit("user")).withColumn("tool", lit(null).cast("string"))
        .withColumn("ts", lit(ts))

    MergeApply.merge(src, batch(Seq((1L, "I", "c1", 0, "hello"),
      (2L, "I", "c2", 0, "world"))), 0L)
    CdcPipeline.followOnce(src, dst)

    // source adds a scored column with a doc; values arrive next epoch
    src.addColumn("score", IntegerType, "quality score")
    MergeApply.merge(src, batch(Seq((3L, "U", "c1", 0, "hello!")))
      .withColumn("score", lit(7)), 1L)
    assert(CdcPipeline.followOnce(src, dst).applied)
    assert(dst.snapshot.userSchema("score").dataType == IntegerType)
    assert(dst.snapshot.columnDocs("score") == "quality score")

    // source widens it; a value only the wide type can hold flows down
    src.widenColumn("score", LongType)
    MergeApply.merge(src, batch(Seq((4L, "U", "c2", 0, "world!")))
      .withColumn("score", lit(5000000000L)), 2L)
    assert(CdcPipeline.followOnce(src, dst).applied)
    assert(dst.snapshot.userSchema("score").dataType == LongType)
    def rows(t: LakeTable) = t.read()
      .select("conv_id", "turn_idx", "text", "score")
      .collect().map(r => r.toSeq).sortBy(_.toString)
    assert(rows(dst).toSeq == rows(src).toSeq)
    assert(rows(dst).exists(_.contains(5000000000L)))
  }

  test("follow transform: declarative silver-layer cleanup on the way down") {
    val src = LakeTable.createTable(spark, tmpDir("flt-src"), Schemas.transcript, 4)
    val dst = LakeTable.createTable(spark, tmpDir("flt-dst"), Schemas.transcript, 4)
    val full = ChangeLogGen.changeLogDF(spark, cfg.copy(nEvents = 3000L))
    MergeApply.merge(src, full, 0L, MergeConfig())
    val rounds = CdcPipeline.followAvailable(src, dst,
      transform = _.withColumn("role", upper(col("role"))))
    assert(rounds.size == 1)
    val want = state(src).map(r => r.copy(role =
      Option(r.role).map(_.toUpperCase).orNull))
    assert(state(dst) == want)
  }
}
