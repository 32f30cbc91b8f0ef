package graft.cdc

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.gen.{ChangeLogGen, GenConfig}
import graft.lake.LakeTable
import graft.model.{Schemas, TranscriptRow}

class MergeSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(nEvents = 20000L, nConvs = 300L, maxTurns = 20)

  private def finalState(table: LakeTable): Seq[TranscriptRow] =
    table.read().as[TranscriptRow].collect().toSeq
      .sortBy(r => (r.conv_id, r.turn_idx))

  test("generator is deterministic and oracle is sane") {
    val a = ChangeLogGen.changeLog(spark, cfg).collect().sortBy(_.lsn)
    val b = ChangeLogGen.changeLog(spark, cfg).collect().sortBy(_.lsn)
    assert(a.toSeq == b.toSeq)
    val oracle = ChangeLogGen.oracleFinalState(cfg)
    assert(oracle.nonEmpty)
    assert(oracle.map(r => (r.conv_id, r.turn_idx)).distinct.size == oracle.size)
  }

  test("single-batch merge reproduces the sequential oracle") {
    val dir = tmpDir("lake-single")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript, nBuckets = 8)
    val log = ChangeLogGen.changeLogDF(spark, cfg)
    val res = MergeApply.merge(table, log, epochId = 0L)
    assert(res.applied)
    assert(finalState(table) == ChangeLogGen.oracleFinalState(cfg))
  }

  test("multi-batch out-of-order merge reproduces the oracle") {
    val dir = tmpDir("lake-multi")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript, nBuckets = 8)
    // split by delivery slot ranges (LSNs scattered across batches)
    val c = cfg // local copy: don't capture the (non-serializable) suite
    val n = c.nEvents
    val parts = 5
    (0 until parts).foreach { b =>
      val slice = spark.range(b * n / parts, (b + 1) * n / parts).as[Long]
        .mapPartitions(_.map(s => ChangeLogGen.eventAt(c,
          ChangeLogGen.deliveredLsn(c, s)))).toDF()
      MergeApply.merge(table, slice, epochId = b.toLong)
    }
    assert(finalState(table) == ChangeLogGen.oracleFinalState(cfg))
  }

  test("epoch replay is a no-op (exactly-once guard)") {
    val dir = tmpDir("lake-epoch")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript, nBuckets = 4)
    val log = ChangeLogGen.changeLogDF(spark, cfg).limit(5000)
    val r1 = MergeApply.merge(table, log, epochId = 7L)
    val v1 = table.snapshot.version
    val r2 = MergeApply.merge(table, log, epochId = 7L)
    assert(r1.applied && !r2.applied)
    assert(table.snapshot.version == v1)
  }

  test("delete tombstone defeats late lower-LSN update") {
    val dir = tmpDir("lake-del")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript, nBuckets = 2)
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val b1 = Seq(
      (10L, "I", "c1", 0, "user", "v10", null: String, ts),
      (30L, "D", "c1", 0, null: String, null: String, null: String, null: java.sql.Timestamp))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeApply.merge(table, b1, 0L)
    assert(table.read().count() == 0)
    // late update with lsn between insert and delete must NOT resurrect
    val b2 = Seq((20L, "U", "c1", 0, "user", "v20", null: String, ts))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeApply.merge(table, b2, 1L)
    assert(table.read().count() == 0)
    // but a later insert (higher lsn than the delete) revives the key
    val b3 = Seq((40L, "I", "c1", 0, "user", "v40", null: String, ts))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeApply.merge(table, b3, 2L)
    assert(table.read().select("text").as[String].collect().toSeq == Seq("v40"))
  }

  test("merge-on-read agrees with the oracle") {
    val small = cfg.copy(nEvents = 5000L)
    val log = ChangeLogGen.changeLogDF(spark, small)
    val t = LakeTable.createTable(spark, tmpDir("lake-mor"),
      Schemas.transcript, 4)
    // two batches so the read also exercises cross-batch LWW
    MergeApply.merge(t, log.limit(3000), 0L)
    MergeApply.merge(t, log, 1L)
    assert(t.snapshot.files.exists(_.kind == "delta"))
    assert(finalState(t) == ChangeLogGen.oracleFinalState(small))
  }

  test("bucket pruning: compacting one bucket carries the others over by reference") {
    val dir = tmpDir("lake-prune")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript, nBuckets = 16)
    MergeApply.merge(table, ChangeLogGen.changeLogDF(spark, cfg), 0L)
    val before = table.snapshot.files.map(f => f.path -> f.bucket).toMap
    val bucket = before.values.min
    MergeApply.compactBuckets(table, Set(bucket))
    val after = table.snapshot
    assert(after.lineage.last.bucketsTouched == Seq(bucket))
    // the folded bucket got new files; every other bucket's files are
    // the exact same objects (paths) as before
    val (folded, carried) = after.files.partition(_.bucket == bucket)
    assert(folded.nonEmpty && folded.forall(f => !before.contains(f.path)))
    assert(carried.map(f => f.path -> f.bucket).toMap ==
      before.filter(_._2 != bucket))
    assert(carried.nonEmpty)
    assert(finalState(table) == ChangeLogGen.oracleFinalState(cfg))
  }

  test("hot-key skew: one conv holding ~50% of events stays correct " +
      "with bounded files (salted write)") {
    // SURVEY §5: the skew test the north rule demands. hotFraction=0.5
    // routes half the feed at a single conv_id -> one hash bucket.
    val skewed = GenConfig(nEvents = 20000L, nConvs = 300L, maxTurns = 20,
      hotFraction = 0.5)
    val log = ChangeLogGen.changeLogDF(spark, skewed)
    // tiny maxRowsPerFile forces compaction to split each bucket's fold
    val mc = MergeConfig(maxRowsPerFile = 500L)
    val t = LakeTable.createTable(spark, tmpDir("lake-skew"),
      Schemas.transcript, 8)
    // delta files are per-shuffle-task sized; resolution is
    // bucket-partitioned
    MergeApply.merge(t, log, 0L, mc)
    assert(finalState(t) == ChangeLogGen.oracleFinalState(skewed))
    val hot = t.snapshot.files.groupBy(_.bucket)
      .maxBy(_._2.map(_.rows).sum)._1
    MergeApply.compactBuckets(t, (0 until 8).toSet, mc)
    assert(finalState(t) == ChangeLogGen.oracleFinalState(skewed))
    val files = t.snapshot.files
    assert(files.forall(_.kind == "base"))
    // the hot bucket's fold was split across multiple files, each bounded
    assert(files.count(_.bucket == hot) > 1)
    assert(files.forall(_.rows <= 500L))
  }

  test("lineage rows recorded per commit") {
    val dir = tmpDir("lake-lin")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript, nBuckets = 4)
    MergeApply.merge(table, ChangeLogGen.changeLogDF(spark, cfg).limit(1000), 0L)
    MergeApply.merge(table, ChangeLogGen.changeLogDF(spark, cfg).limit(2000), 1L)
    val lin = table.lineage
    assert(lin.size == 2)
    assert(lin.map(_.epochId) == Seq(0L, 1L))
    assert(lin.forall(_.rowsApplied > 0))
    assert(lin.forall(_.maxLsn >= 0))
    // offset range: lineage carries the batch's [minLsn, maxLsn]
    assert(lin.forall(e => e.minLsn >= 0 && e.minLsn <= e.maxLsn))
  }
}
