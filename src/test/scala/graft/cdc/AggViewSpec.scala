package graft.cdc

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.LakeTable
import graft.model.Schemas

/** [[AggView]] — incremental materialized aggregates from the change
  * feed. The invariant under test everywhere: the maintained view equals
  * the from-scratch recompute of the same defining aggregate, after any
  * history of inserts / updates / deletes, refreshed at any cadence. */
class AggViewSpec extends SparkSpec {
  import spark.implicits._

  private val ts = Timestamp.valueOf("2026-01-01 00:00:00")

  private def ev(rows: Seq[(Long, String, String, Int, String)]): DataFrame =
    rows.map { case (lsn, op, c, t, text) =>
      (lsn, op, c, t, "user", text, null: String, ts)
    }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** The defining aggregate: turn count + whitespace token sum. */
  private val tokens = size(split(col("text"), "\\s+"))

  private def recompute(src: LakeTable): Set[(String, Long, Long)] =
    src.read().groupBy("conv_id")
      .agg(count(lit(1)).as("n"), sum(coalesce(tokens, lit(0L))).as("tok"))
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def viewState(dst: LakeTable): Set[(String, Long, Long)] =
    dst.read().select("conv_id", "n_turns", "n_tokens")
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def mkPair(tag: String): (LakeTable, LakeTable) = {
    val src = LakeTable.createTable(spark, tmpDir(s"av-src-$tag"),
      Schemas.transcript, 4)
    val dst = LakeTable.load(spark, tmpDir(s"av-dst-$tag"))
    (src, dst)
  }

  private def refresh(src: LakeTable, dst: LakeTable): AggViewResult =
    AggView.refresh(src, dst, Seq("n_tokens" -> tokens))

  test("bootstrap recomputes; incremental tracks updates and deletes") {
    val (src, dst) = mkPair("main")
    MergeApply.merge(src, ev(Seq(
      (1L, "I", "c0", 0, "one two three"),
      (2L, "I", "c0", 1, "four"),
      (3L, "I", "c1", 0, "alpha beta"),
      (4L, "I", "c2", 0, "solo"))), 0L)

    val r0 = refresh(src, dst)
    assert(r0.mode == "full" && r0.applied)
    assert(viewState(dst) == recompute(src))
    assert(viewState(dst) == Set(("c0", 2L, 4L), ("c1", 1L, 2L),
      ("c2", 1L, 1L)))

    // update (token count changes), new turn, delete one turn,
    // delete ALL of c2 (its view row must disappear)
    MergeApply.merge(src, ev(Seq(
      (10L, "U", "c0", 0, "one two three four five"),
      (11L, "I", "c1", 1, "gamma"),
      (12L, "D", "c0", 1, null),
      (13L, "D", "c2", 0, null))), 1L)

    val r1 = refresh(src, dst)
    assert(r1.mode == "incremental" && r1.applied)
    assert(viewState(dst) == recompute(src))
    assert(viewState(dst) == Set(("c0", 1L, 5L), ("c1", 2L, 3L)))
    assert(!viewState(dst).exists(_._1 == "c2"))

    // re-refresh with nothing new: watermark holds, no work
    val r2 = refresh(src, dst)
    assert(r2.mode == "noop" && !r2.applied)
  }

  test("net-zero changes advance the watermark without rewriting keys") {
    val (src, dst) = mkPair("zero")
    MergeApply.merge(src, ev(Seq((1L, "I", "c0", 0, "same text"))), 0L)
    refresh(src, dst)

    // an update that changes neither the turn count nor the token sum
    // (role flips, text token count identical)
    MergeApply.merge(src,
      Seq((10L, "U", "c0", 0, "tool", "other words", null: String, ts))
        .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool",
          "ts"), 1L)
    val r = refresh(src, dst)
    assert(r.mode == "incremental" && r.keysTouched == 0L)
    assert(viewState(dst) == recompute(src))
    // and the watermark DID advance — the next round is a noop
    assert(refresh(src, dst).mode == "noop")
  }

  test("vacuumed feed window falls back to full recompute with stale deletes") {
    val (src, dst) = mkPair("vac")
    MergeApply.merge(src, ev(Seq(
      (1L, "I", "c0", 0, "a b"),
      (2L, "I", "c1", 0, "c"))), 0L)
    refresh(src, dst)

    // while the view is offline: delete c1 entirely, land several more
    // epochs, then vacuum the source history past the view's watermark
    MergeApply.merge(src, ev(Seq((10L, "D", "c1", 0, null))), 1L)
    MergeApply.merge(src, ev(Seq((11L, "I", "c2", 0, "x y z"))), 2L)
    src.vacuum(keepSnapshots = 1)

    val r = refresh(src, dst)
    assert(r.mode == "full" && r.applied)
    assert(viewState(dst) == recompute(src))
    assert(viewState(dst) == Set(("c0", 1L, 2L), ("c2", 1L, 3L)))
  }

  test("replayed refresh is exactly-once (txn-slot guard)") {
    val (src, dst) = mkPair("replay")
    MergeApply.merge(src, ev(Seq((1L, "I", "c0", 0, "a"))), 0L)
    val r0 = refresh(src, dst)
    val v0 = dst.snapshot.version
    // same source version again — no data commit, no version bump
    val r1 = refresh(src, dst)
    assert(!r1.applied && r1.toVersion == r0.toVersion)
    assert(dst.snapshot.version == v0)
  }

  test("asOf pins a refresh to a historical cut; later rounds resume from it") {
    val (src, dst) = mkPair("asof")
    MergeApply.merge(src, ev(Seq((1L, "I", "c0", 0, "a b"))), 0L)
    val v1 = src.snapshot.version
    MergeApply.merge(src, ev(Seq((2L, "I", "c0", 1, "c"))), 1L)

    val r0 = AggView.refresh(src, dst, Seq("n_tokens" -> tokens),
      asOf = Some(v1))
    assert(r0.mode == "full" && r0.toVersion == v1)
    assert(viewState(dst) == Set(("c0", 1L, 2L))) // the v1 state, not latest
    val r1 = refresh(src, dst) // catches up incrementally from v1
    assert(r1.mode == "incremental" && r1.fromVersion == v1)
    assert(viewState(dst) == recompute(src))
  }

  test("incremental path reads only the changed keys' view buckets") {
    val (src, dst) = mkPair("prune")
    MergeApply.merge(src, ev(
      (0 until 64).map(i => (i.toLong + 1, "I", s"c$i", 0, "w w w"))), 0L)
    refresh(src, dst)
    MergeApply.merge(src, ev(Seq((100L, "U", "c7", 0, "w"))), 1L)

    val r = refresh(src, dst)
    assert(r.mode == "incremental" && r.keysTouched == 1L)
    assert(viewState(dst) == recompute(src))
    // the merge touched exactly the one bucket c7 lives in
    val b = LakeTable.bucketOf("c7", dst.snapshot.nBuckets)
    assert(r.merge.get.bucketsTouched == Seq(b))
  }

  // ------------------------------------------------- min / max / avg

  private def refreshMma(src: LakeTable, dst: LakeTable): AggViewResult =
    AggView.refresh(src, dst,
      sums = Seq("n_tokens" -> tokens),
      mins = Seq("min_tok" -> tokens),
      maxs = Seq("max_tok" -> tokens),
      avgs = Seq("avg_tok" -> tokens))

  /** view == from-scratch recompute over ALL maintained aggregates,
    * including the avg's stored (sum, cnt) pair and exact quotient. */
  private def checkMma(src: LakeTable, dst: LakeTable): Unit = {
    val want = src.read().groupBy("conv_id").agg(
      count(lit(1)).as("n_turns"),
      sum(coalesce(tokens, lit(0L))).as("n_tokens"),
      min(tokens).as("min_tok"), max(tokens).as("max_tok"),
      sum(coalesce(tokens, lit(0L))).as("avg_tok_sum"),
      count(tokens).as("avg_tok_cnt"),
      when(count(tokens) === 0, lit(null).cast("double"))
        .otherwise(sum(coalesce(tokens, lit(0L))) / count(tokens))
        .as("avg_tok"))
      .collect().map(_.toSeq.toList).toSet
    val got = dst.read().select("conv_id", "n_turns", "n_tokens",
      "min_tok", "max_tok", "avg_tok_sum", "avg_tok_cnt", "avg_tok")
      .collect().map(_.toSeq.toList).toSet
    assert(got == want)
  }

  test("min/max/avg: extremum deletion forces exact per-key recovery") {
    val (src, dst) = mkPair("mma")
    MergeApply.merge(src, ev(Seq(
      (1L, "I", "c0", 0, "a b c"),          // 3 tokens
      (2L, "I", "c0", 1, "a"),              // 1
      (3L, "I", "c0", 2, "a b c d e"),      // 5 — the max
      (4L, "I", "c1", 0, "a b"),
      (5L, "I", "c1", 1, "a b"))), 0L)
    assert(refreshMma(src, dst).mode == "full")
    checkMma(src, dst)

    // delete c0's max-holder (min survives), update c1's extremum away,
    // and add a null-token turn (avg cnt must skip it)
    MergeApply.merge(src, ev(Seq(
      (10L, "D", "c0", 2, null),
      (11L, "U", "c1", 0, "a b c d e f g"),
      (12L, "I", "c2", 0, null))), 1L)
    val r1 = refreshMma(src, dst)
    assert(r1.mode == "incremental" && r1.applied)
    checkMma(src, dst)
    // the retraction really recovered: c0's max fell 5 -> 3
    assert(dst.read().filter(col("conv_id") === "c0")
      .select("max_tok").head.getInt(0) == 3)

    // non-extremum delete stays on the delta path and stays correct;
    // full-conversation delete tombstones the view row
    MergeApply.merge(src, ev(Seq(
      (20L, "D", "c0", 1, null),  // deletes the 1-token row (the min!)
      (21L, "D", "c2", 0, null),
      (22L, "I", "c1", 2, "x"))), 2L)
    val r2 = refreshMma(src, dst)
    assert(r2.mode == "incremental")
    checkMma(src, dst)
    assert(!dst.read().collect().map(_.getString(0)).contains("c2"))
  }

  test("min/max: intra-window churn on a view-new key resolves via the endpoint diff") {
    val (src, dst) = mkPair("mma-churn")
    MergeApply.merge(src, ev(Seq((1L, "I", "c0", 0, "a b"))), 0L)
    assert(refreshMma(src, dst).mode == "full")

    // between refreshes: a NEW conversation whose extremum-candidate turn
    // is inserted and deleted INSIDE the window (epochs 1+2), plus a
    // turn updated twice. The feed is an endpoint diff, so the view-new
    // key must arrive as pure inserts of the SURVIVING state — if churn
    // leaked through, least(adds) would keep the deleted 5-token row as
    // min_tok and the stale middle update as text
    MergeApply.merge(src, ev(Seq(
      (10L, "I", "c9", 0, "q w e r t"),   // 5 tokens — later deleted
      (11L, "I", "c9", 1, "a b c d e f g"),
      (12L, "I", "c9", 2, "x"))), 1L)
    MergeApply.merge(src, ev(Seq(
      (20L, "D", "c9", 0, null),
      (21L, "U", "c9", 2, "x y"),
      (22L, "U", "c9", 2, "x y z"))), 2L)
    val r = refreshMma(src, dst)
    assert(r.mode == "incremental")
    checkMma(src, dst)
    val c9 = dst.read().filter(col("conv_id") === "c9")
      .select("n_turns", "min_tok", "max_tok").head
    assert(c9.getLong(0) == 2 && c9.getInt(1) == 3 && c9.getInt(2) == 7)

    // and a key created AND fully deleted within the window emits
    // nothing: no view row, no tombstone churn
    MergeApply.merge(src, ev(Seq((30L, "I", "c8", 0, "gone"))), 3L)
    MergeApply.merge(src, ev(Seq((31L, "D", "c8", 0, null))), 4L)
    val r2 = refreshMma(src, dst)
    assert(r2.mode == "incremental" && r2.keysTouched == 0L)
    checkMma(src, dst)
  }

  test("min/max/avg: maintained view equals recompute across a random delete-heavy history") {
    import graft.gen.{ChangeLogGen, GenConfig}
    val (src, dst) = mkPair("mma-prop")
    val g = GenConfig(nEvents = 3000L, nConvs = 25L, maxTurns = 8,
      seed = 20260821L)
    val log = ChangeLogGen.changeLogDF(spark, g)
    (0 until 3).foreach { i =>
      MergeApply.merge(src, log.filter(pmod(col("lsn"), lit(3)) === i),
        i.toLong)
      val r = refreshMma(src, dst)
      assert(r.applied, s"round $i did not apply")
      if (i > 0) assert(r.mode == "incremental", s"round $i: ${r.mode}")
      checkMma(src, dst)
    }
  }

  test("refreshing with a changed sum definition fails fast, same one passes") {
    val (src, dst) = mkPair("sumguard")
    MergeApply.merge(src, ev(Seq((1L, "I", "c0", 0, "one two"))), 0L)
    refresh(src, dst)
    MergeApply.merge(src, ev(Seq((2L, "I", "c1", 0, "three"))), 1L)

    // same name, different expression: deltas of the new definition over
    // stored sums of the old one would corrupt silently — must throw
    val changed = intercept[IllegalArgumentException] {
      AggView.refresh(src, dst, Seq("n_tokens" -> (tokens * 2)))
    }
    assert(changed.getMessage.contains("recreate the view"))

    // a destination table that carries no definition stamp is refused
    // the same way — it was not created by this refresh path
    val plain = LakeTable.createTable(spark, tmpDir("av-dst-nostamp"),
      Schemas.transcript, 4)
    val unstamped = intercept[IllegalArgumentException](refresh(src, plain))
    assert(unstamped.getMessage.contains("recreate the view"))

    // the original definition still refreshes incrementally
    val r = refresh(src, dst)
    assert(r.mode == "incremental")
    assert(viewState(dst) == recompute(src))
  }
}
