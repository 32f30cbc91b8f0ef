package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.cdc.{MergeApply, MergeConfig}
import graft.model.Schemas

/** Bucket-count evolution (`MergeApply.rebucket`) — the partition-layout
  * lever for 1000× growth: state preservation (tombstones included),
  * layout serialization against concurrent writers, time travel across
  * the layout change, and silence on every change consumer (feed,
  * follow, streaming source). */
class RebucketSpec extends SparkSpec {

  private val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private def ev(rows: Seq[(Long, String, String, Int, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("lsn", "op", "conv_id", "turn_idx", "text")
      .withColumn("role", lit("user"))
      .withColumn("tool", lit(null).cast("string"))
      .withColumn("ts", lit(ts))
  }

  private def state(t: LakeTable): Set[(String, Int, String)] =
    t.read().select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet

  /** A table with updates, a delete, and a mix of MoR deltas. */
  private def seed(dir: String, nBuckets: Int = 4): LakeTable = {
    val t = LakeTable.createTable(spark, dir, Schemas.transcript, nBuckets)
    MergeApply.merge(t, ev((1 to 12).map(i =>
      (i.toLong, "U", s"c${i % 5}", i / 5, s"v$i"))), 0L,
      MergeConfig())
    MergeApply.merge(t, ev(Seq(
      (20L, "U", "c1", 0, "updated"),
      (21L, "D", "c2", 0, ""), // tombstone with the highest LSN so far
      (22L, "U", "fresh", 0, "new"))), 1L, MergeConfig())
    t
  }

  test("aligned growth preserves state; files are pure rewrites; lookups use the new layout") {
    val t = seed(tmpDir("rb-grow"))
    val before = state(t)
    val vBefore = t.snapshot.version
    val snap = MergeApply.rebucket(t, 8)
    assert(snap.nBuckets == 8 && t.snapshot.nBuckets == 8)
    assert(state(t) == before)
    assert(snap.files.forall(_.fold),
      "rebucket output must be marked a pure rewrite")
    assert(snap.files.forall(f => f.bucket >= 0 && f.bucket < 8))
    // every row actually lives in its new-space bucket (readConv prunes
    // files by the driver-side twin — a misplaced row would vanish)
    before.map(_._1).foreach { conv =>
      val got = t.readConv(conv).select("turn_idx").collect().length
      assert(got == before.count(_._1 == conv), s"readConv($conv) mismatch")
    }
    // time travel: the pre-rebucket snapshot reads under its own layout
    assert(t.read(asOf = Some(vBefore))
      .select("conv_id", "turn_idx", "text").collect().length == before.size)
  }

  test("tombstones survive the rebucket: a late event below the tombstone's LSN still loses") {
    val t = seed(tmpDir("rb-tomb"))
    MergeApply.rebucket(t, 8)
    // c2@0 was deleted at LSN 21; a late arrival at LSN 15 must lose
    MergeApply.merge(t, ev(Seq((15L, "U", "c2", 0, "late-loser"))), 2L,
      MergeConfig())
    assert(!state(t).exists(r => r._1 == "c2" && r._2 == 0),
      "rebucket dropped the tombstone — late event resurrected the key")
  }

  test("aligned (4 -> 8) and misaligned (4 -> 6) targets give identical results") {
    val a = seed(tmpDir("rb-mis-a"))
    val b = seed(tmpDir("rb-mis-b"))
    MergeApply.rebucket(a, 8) // an integer growth factor
    MergeApply.rebucket(b, 6) // not one: the same one-job plan
    assert(state(a) == state(b))
    assert(b.snapshot.nBuckets == 6)
    assert(b.snapshot.files.forall(f => f.fold && f.bucket < 6))
  }

  test("a commit built in the old bucket space conflicts instead of corrupting the layout") {
    val t = seed(tmpDir("rb-race"))
    val stale = t.snapshot // a concurrent writer's base, pre-rebucket
    MergeApply.rebucket(t, 8)
    // even a pure MoR delta append (no replaced buckets — the rebase
    // path that is otherwise always clean) must fail: its file carries
    // an old-space bucket id
    val orphan = DataFileEntry("/nonexistent.parquet", 3, 1L,
      stale.currentSchemaVersion, "delta")
    intercept[graft.lake.CommitConflictException] {
      t.commit(stale, Seq(orphan), Set.empty, None, None)
    }
    // and merges computed from the CURRENT snapshot keep working
    MergeApply.merge(t, ev(Seq((30L, "U", "post", 0, "ok"))), 2L,
      MergeConfig())
    assert(state(t).exists(_._1 == "post"))
  }

  test("change feed across a rebucket window reports only real changes") {
    val t = seed(tmpDir("rb-feed"))
    val v1 = t.snapshot.version
    MergeApply.rebucket(t, 8)
    MergeApply.merge(t, ev(Seq((40L, "U", "c1", 0, "post-rebucket"))), 2L,
      MergeConfig())
    val feed = t.changeFeed(v1)
      .select("conv_id", "turn_idx", "_change_type").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(feed == Set(("c1", 0, "update_preimage"), ("c1", 0, "update_postimage")),
      s"rebucket leaked into the change feed: $feed")
    // a window that is exactly the rebucket emits nothing at all
    assert(t.changeFeed(v1, Some(v1 + 1)).isEmpty)
  }

  test("a streaming tail sails through a source rebucket with zero re-delivery") {
    val srcDir = tmpDir("rb-stream-src")
    val src = seed(srcDir)
    val dst = LakeTable.createTable(spark, tmpDir("rb-stream-dst"),
      Schemas.transcript, 2)
    val ckpt = tmpDir("rb-stream-ckpt")
    def drain(): Seq[graft.cdc.MergeResult] = {
      val rs = new java.util.concurrent.ConcurrentLinkedQueue[graft.cdc.MergeResult]()
      val q = spark.readStream.format("graft-table").option("path", srcDir)
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, e: Long) =>
          rs.add(MergeApply.merge(dst, b, e, MergeConfig())): Unit
        }.start()
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      rs.asScala.toSeq
    }
    drain()
    assert(state(dst) == state(src))
    MergeApply.rebucket(src, 8)
    val afterRebucket = drain()
    assert(afterRebucket.map(_.rowsApplied).sum == 0,
      s"rebucket re-delivered rows through the stream: $afterRebucket")
    MergeApply.merge(src, ev(Seq((60L, "U", "s", 0, "post"))), 2L,
      MergeConfig())
    val tail = drain()
    assert(tail.map(_.rowsApplied).sum == 1)
    assert(state(dst) == state(src))
  }

  test("a followed mirror sails through a source rebucket") {
    val src = seed(tmpDir("rb-follow-src"))
    val dst = LakeTable.createTable(spark, tmpDir("rb-follow-dst"),
      Schemas.transcript, 2) // mirror keeps its own layout
    graft.cdc.CdcPipeline.followOnce(src, dst)
    assert(state(dst) == state(src))
    MergeApply.rebucket(src, 8)
    graft.cdc.CdcPipeline.followOnce(src, dst)
    assert(state(dst) == state(src))
    MergeApply.merge(src, ev(Seq((50L, "U", "tail", 0, "after"))), 2L,
      MergeConfig())
    val r = graft.cdc.CdcPipeline.followOnce(src, dst)
    assert(r.applied && state(dst) == state(src))
    assert(dst.snapshot.nBuckets == 2, "follow must not rebucket the mirror")
  }
}
