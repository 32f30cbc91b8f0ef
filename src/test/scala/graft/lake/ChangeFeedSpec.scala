package graft.lake

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.{MergeApply, MergeConfig}
import graft.gen.{ChangeLogGen, GenConfig}
import graft.model.Schemas

/** [[LakeTable.changeFeed]] — the Delta-CDF-shaped endpoint diff. Three
  * angles: (1) exact classification of every `_change_type` against
  * hand-built events, including the cases that distinguish an endpoint
  * diff from naive op forwarding (update-of-absent-key ⇒ insert,
  * create-and-delete-within-window ⇒ nothing, delete carries preimage
  * values); (2) the replay invariant — applying the feed to the
  * `fromVersion` state reproduces the `toVersion` state exactly, on
  * generated data with MoR deltas on BOTH sides of the window; (3) schema
  * evolution across the window — preimages are null-projected onto the
  * `toVersion` schema. */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private val ts = Timestamp.valueOf("2026-01-01 00:00:00")

  private def ev(rows: Seq[(Long, String, String, Int, String)]): DataFrame =
    rows.map { case (lsn, op, c, t, text) =>
      (lsn, op, c, t, "user", text, null: String, ts)
    }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")

  test("changeFeed classifies insert/update-pre+post/delete against actual from-state") {
    val t = LakeTable.createTable(spark, tmpDir("cf-types"),
      Schemas.transcript, 4)
    MergeApply.merge(t, ev(Seq(
      (1L, "I", "c0", 0, "stays"),
      (2L, "I", "c1", 0, "old text"),
      (3L, "I", "c2", 0, "doomed"))), 0L)
    val v1 = t.snapshot.version
    MergeApply.merge(t, ev(Seq(
      (10L, "U", "c1", 0, "new text"), // update of a live key
      (11L, "D", "c2", 0, null), // delete of a live key
      (12L, "I", "c5", 0, "born"), // plain insert
      (13L, "I", "c6", 0, "ephemeral"), // created and deleted
      (14L, "D", "c6", 0, null), //   within the window
      (15L, "U", "c7", 0, "claimed update"))), 1L) // key never existed

    val got = t.changeFeed(v1)
      .select("conv_id", "turn_idx", "text", "_change_type", "_lsn")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet
    assert(got == Set(
      ("c1", 0, "old text", "update_preimage", 10L),
      ("c1", 0, "new text", "update_postimage", 10L),
      ("c2", 0, "doomed", "delete", 11L),
      ("c5", 0, "born", "insert", 12L),
      ("c7", 0, "claimed update", "insert", 15L)))
    // c0 untouched, c6 created+deleted within window: neither appears
    assert(!got.exists(r => r._1 == "c0" || r._1 == "c6"))
    // a backwards window is refused
    intercept[IllegalArgumentException] { t.changeFeed(t.snapshot.version,
      Some(v1)) }
  }

  test("applying the feed to the from-state reproduces the to-state (MoR both sides)") {
    val t = LakeTable.createTable(spark, tmpDir("cf-replay"),
      Schemas.transcript, 4)
    val mor = MergeConfig(maxDeltaFilesPerBucket = 100)
    val full = ChangeLogGen.changeLogDF(spark,
      GenConfig(nEvents = 6000L, nConvs = 80L, maxTurns = 8)).cache()
    val maxLsn = full.agg(max("lsn")).as[Long].head()
    val cut = maxLsn / 2
    MergeApply.merge(t, full.filter(col("lsn") <= cut), 0L, mor)
    val v1 = t.snapshot.version
    MergeApply.merge(t, full.filter(col("lsn") > cut), 1L, mor)
    val v2 = t.snapshot.version

    def state(v: Long): Map[(String, Int), Row] =
      t.read(Some(v)).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    val pre = state(v1)
    val feed = t.changeFeed(v1, Some(v2)).collect()
    assert(feed.nonEmpty)
    // pre/post rows of one update share the _lsn of the change
    val byKeyType = feed.groupBy(r =>
      (r.getString(0), r.getInt(1), r.getAs[String]("_change_type")))
    assert(byKeyType.keys.count(_._3 == "update_preimage") ==
      byKeyType.keys.count(_._3 == "update_postimage"))

    val applied = collection.mutable.Map(pre.toSeq: _*)
    val userIdx = Schemas.transcript.fieldNames.indices
    feed.foreach { r =>
      val k = (r.getString(0), r.getInt(1))
      r.getAs[String]("_change_type") match {
        case "delete" => applied.remove(k)
        case "update_preimage" => // informational; no state effect
        case _ => applied(k) = Row(userIdx.map(r.get): _*)
      }
    }
    val want = state(v2).map { case (k, r) => k -> r.toSeq }
    val got = applied.toMap.map { case (k, r) => k -> r.toSeq }
    assert(got == want)
  }

  test("out-of-order arrival below the window's LSN high water is not lost") {
    // the hazard the commit-version window exists for: v1's high LSN is
    // 100; the window's arrivals carry LOWER LSNs. An LSN-cut diff
    // (`__lsn > 100`) sees none of them.
    val t = LakeTable.createTable(spark, tmpDir("cf-ooo"),
      Schemas.transcript, 2)
    MergeApply.merge(t, ev(Seq((100L, "I", "c1", 0, "keeper"))), 0L)
    val v1 = t.snapshot.version
    MergeApply.merge(t, ev(Seq(
      (50L, "I", "c2", 0, "late insert"), // new key, wins at LSN 50
      (40L, "U", "c1", 0, "loser"))), 1L) // loses LWW to LSN 100
    val got = t.changeFeed(v1)
      .select("conv_id", "text", "_change_type", "_lsn")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    // c2's insert IS in the feed; c1's losing arrival changed nothing
    assert(got == Set(("c2", "late insert", "insert", 50L)))
  }

  test("losing and value-identical arrivals are suppressed (minimal feed)") {
    val t = LakeTable.createTable(spark, tmpDir("cf-min"),
      Schemas.transcript, 2)
    MergeApply.merge(t, ev(Seq((10L, "I", "c1", 0, "same"),
      (11L, "I", "c3", 0, "gone"))), 0L)
    val v1 = t.snapshot.version
    MergeApply.merge(t, ev(Seq(
      (20L, "U", "c1", 0, "same"), // wins, but value-identical
      (5L, "D", "c3", 0, null), // tombstone LOSES to the LSN-11 insert
      (21L, "D", "c9", 0, null))), 1L) // delete of a key that never existed
    assert(t.changeFeed(v1).isEmpty)
  }

  test("preimages are null-projected onto an evolved to-schema") {
    val t = LakeTable.createTable(spark, tmpDir("cf-evolve"),
      Schemas.transcript, 2)
    MergeApply.merge(t, ev(Seq((1L, "I", "c1", 0, "v1 text"))), 0L)
    val v1 = t.snapshot.version
    // registry add-column + an update of the pre-evolution key
    val b2 = Seq(
      (10L, "S", null: String, 0, null: String, """{"add":{"name":"score","type":"int"}}""",
        null: String, ts, null: Map[String, String]),
      (11L, "U", "c1", 0, "user", "v2 text", null: String, ts,
        Map("score" -> "5")))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "extras")
    MergeApply.merge(t, b2, 1L)

    val feed = t.changeFeed(v1)
      .select("conv_id", "text", "score", "_change_type")
      .collect().map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getInt(2), r.getString(3))).toSet
    assert(feed == Set(
      ("c1", "v1 text", null, "update_preimage"),
      ("c1", "v2 text", 5, "update_postimage")))
  }
}
