package graft.cdc

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.gen.{ChangeLogGen, GenConfig}
import graft.lake.LakeTable
import graft.model.Schemas

/** [[Purge]] — right-to-be-forgotten for transcript conversations:
  * tombstone merge (downstream convergence) + bucket-pruned history
  * rewrite to null-payload tombstones + reject scrub; `scrubTombstones`
  * as the post-convergence full-key-erasure pass; vacuum completing the
  * erasure; tags reported as blockers, never silently broken. */
class PurgeSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(nEvents = 4000L, nConvs = 50L, maxTurns = 8)

  private def seeded(name: String): LakeTable = {
    val t = LakeTable.createTable(spark, tmpDir(name), Schemas.transcript, 4)
    MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, cfg), 0L)
    t
  }

  private def someConvs(t: LakeTable, n: Int): Set[String] =
    t.read().select("conv_id").distinct().as[String].take(n).toSet

  /** Raw envelope rows for the given convs across the LIVE files of the
    * current snapshot (history included, not LWW-resolved). */
  private def liveTraces(t: LakeTable, convs: Set[String]) = {
    val snap = t.snapshot
    t.readFiles(snap, snap.files)
      .filter(col("conv_id").isInCollection(convs))
  }

  /** Every conv_id in any parquet file anywhere under data/ — including
    * files only reachable through pre-purge snapshots. */
  private def convsAnywhere(t: LakeTable): Set[String] = {
    val files = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(s"${t.dir}/data"),
        Array("parquet"), true)
    import scala.jdk.CollectionConverters._
    files.asScala.toSeq.flatMap { f =>
      spark.read.parquet(f.getAbsolutePath).select("conv_id")
        .distinct().as[String].collect()
    }.toSet
  }

  test("purge: payload erased from live files; keys survive as tombstones; scrub + vacuum erase fully") {
    val t = seeded("purge-basic")
    val victims = someConvs(t, 2)
    val preV = t.snapshot.version
    val othersBefore = t.read().filter(!col("conv_id").isInCollection(victims))
      .collect().map(_.toSeq).toSet

    val r = Purge.purgeConversations(t, victims)
    assert(r.liveRowsTombstoned > 0 && r.tombstoneVersion.nonEmpty)
    assert(r.bucketsRewritten.nonEmpty && r.blockingTags.isEmpty)

    // current state: no trace; other conversations bit-identical
    assert(t.read().filter(col("conv_id").isInCollection(victims)).isEmpty)
    assert(t.read().collect().map(_.toSeq).toSet == othersBefore)
    // live files: the ONLY surviving victim rows are null-payload
    // tombstones (the Kafka-compaction analogy — keys propagate deletes)
    val traces = liveTraces(t, victims)
    assert(traces.filter(col("__op") =!= "D").isEmpty,
      "non-tombstone victim versions survive in live files")
    assert(traces.filter(col("text").isNotNull || col("role").isNotNull ||
      col("tool").isNotNull || col("ts").isNotNull).isEmpty,
      "tombstones still carry payload")
    // pre-purge snapshots still time-travel (their files are untouched)
    assert(t.read(asOf = Some(preV))
      .filter(col("conv_id").isInCollection(victims)).count() > 0)

    // the post-convergence pass drops even the keys from live files …
    val r2 = Purge.purgeConversations(t, victims, scrubTombstones = true)
    assert(r2.liveRowsTombstoned == 0)
    assert(liveTraces(t, victims).isEmpty, "scrub pass left key traces")
    // … and vacuum completes the on-disk erasure
    t.vacuum(keepSnapshots = 1)
    assert(convsAnywhere(t).intersect(victims).isEmpty,
      "purged conversations survive on disk after vacuum")
    assert(t.fsck().isEmpty)
  }

  test("purge scrubs quarantined rejects, keeping null-keyed rows") {
    val t = seeded("purge-rejects")
    // quarantine two poison events: one attributable to the victim, one
    // null-keyed (must survive — not attributable to any conversation)
    val victims = someConvs(t, 1)
    val bad = Seq(
      (9000001L, "X", victims.head, 0, "user", "secret text", null: String,
        null.asInstanceOf[java.sql.Timestamp]),
      (9000002L, "X", null.asInstanceOf[String], 0, "user", "orphan", null: String,
        null.asInstanceOf[java.sql.Timestamp]))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, cfg).limit(100)
      .unionByName(bad), 1L, MergeConfig(invalidRows = "quarantine"))
    val r = Purge.purgeConversations(t, victims)
    assert(r.rejectsScrubbed == 1)
    val rejects = spark.read.parquet(s"${t.dir}/_rejects/*/epoch=*")
    assert(rejects.filter(col("conv_id").isInCollection(victims)).isEmpty)
    assert(rejects.filter(col("conv_id").isNull).count() == 1)
  }

  test("tags pinning pre-purge versions are reported as erasure blockers") {
    val t = seeded("purge-tags")
    t.tag("release-1")
    val victims = someConvs(t, 1)
    val r = Purge.purgeConversations(t, victims, scrubTombstones = true)
    assert(r.blockingTags.contains("release-1"))
    // the tag genuinely blocks: vacuum spares the tagged snapshot
    t.vacuum(keepSnapshots = 1)
    assert(convsAnywhere(t).intersect(victims).nonEmpty,
      "vacuum expired a tagged snapshot")
    // dropping the tag unblocks
    t.dropTag("release-1")
    t.vacuum(keepSnapshots = 1)
    assert(convsAnywhere(t).intersect(victims).isEmpty)
  }

  test("purge refuses while WAP intents are staged; re-purge is a cheap no-op") {
    val t = seeded("purge-staged")
    val victims = someConvs(t, 1)
    MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, cfg).limit(200), 1L,
      MergeConfig(wapId = Some("audit-1")))
    val e = intercept[IllegalArgumentException] {
      Purge.purgeConversations(t, victims)
    }
    assert(e.getMessage.contains("audit-1"))
    t.abortStaged("audit-1")
    val r1 = Purge.purgeConversations(t, victims)
    assert(r1.liveRowsTombstoned > 0)
    // second purge: nothing live, tombstones rewritten idempotently,
    // nothing to scrub
    val r2 = Purge.purgeConversations(t, victims)
    assert(r2.liveRowsTombstoned == 0 && r2.rejectsScrubbed == 0)
    assert(t.read().filter(col("conv_id").isInCollection(victims)).isEmpty)
  }

  test("a streaming mirror converges through a purge (tombstones survive the fold)") {
    val t = seeded("purge-stream-src")
    val dst = LakeTable.createTable(spark, tmpDir("purge-stream-dst"),
      Schemas.transcript, 4)
    val ckpt = tmpDir("purge-stream-ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format("graft-table")
        .option("path", t.dir).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, e: Long) =>
          MergeApply.merge(dst, b, e, MergeConfig()): Unit
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain() // mirror the pre-purge state
    val victims = someConvs(t, 2)
    Purge.purgeConversations(t, victims)
    drain() // consume the tombstone window + the (skipped) fold
    assert(dst.read().filter(col("conv_id").isInCollection(victims)).isEmpty,
      "streaming mirror did not converge through the purge")
    assert(dst.read().collect().map(_.toSeq).toSet ==
      t.read().collect().map(_.toSeq).toSet)
  }

  test("purge retries through concurrent ingest; both outcomes land") {
    val t = seeded("purge-race")
    val victims = someConvs(t, 2)
    // a concurrent writer keeps landing NEW conversations (disjoint from
    // the victims, so the final state is deterministic) while the purge
    // rewrite runs — bucket conflicts must retry, not fail the deletion
    val writer = new Thread(() => {
      (1 to 5).foreach { i =>
        val rows = Seq((100000L + i, "I", s"race-conv-$i", 0, "user",
          s"t$i", null: String,
          java.sql.Timestamp.valueOf("2026-03-13 00:00:00")))
          .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text",
            "tool", "ts")
        MergeApply.merge(t, rows, 1000L + i)
      }
    })
    writer.start()
    val r = Purge.purgeConversations(t, victims)
    writer.join(120000L)
    assert(!writer.isAlive)
    assert(r.liveRowsTombstoned > 0)
    val state = t.read()
    assert(state.filter(col("conv_id").isInCollection(victims)).isEmpty,
      "purge lost to the concurrent writer")
    assert(state.filter(col("conv_id").startsWith("race-conv-")).count() == 5,
      "concurrent ingest lost rows to the purge rewrite")
  }

  test("an incremental aggregate view converges through a purge") {
    val t = seeded("purge-aggview-src")
    val view = LakeTable.load(spark, tmpDir("purge-aggview-dst"))
    val tokens = size(split(col("text"), "\\s+"))
    AggView.refresh(t, view, Seq("n_tokens" -> tokens)) // bootstrap
    val victims = someConvs(t, 2)
    Purge.purgeConversations(t, victims)
    val r = AggView.refresh(t, view, Seq("n_tokens" -> tokens))
    assert(r.applied && r.mode == "incremental",
      s"expected an incremental refresh through the purge, got ${r.mode}")
    assert(view.read().filter(col("conv_id").isInCollection(victims)).isEmpty,
      "view still aggregates purged conversations")
    // the maintained view equals the from-scratch recompute
    val recompute = t.read().groupBy("conv_id")
      .agg(count(lit(1)).as("n"), sum(coalesce(tokens, lit(0L))).as("tok"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    val got = view.read().select("conv_id", "n_turns", "n_tokens")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    assert(got == recompute)
  }

  test("property: purged state equals the sequential oracle minus the victims, across random histories") {
    import graft.model.ChangeEvent
    val rnd = new scala.util.Random(20260821L)
    (1 to 4).foreach { i =>
      val c = GenConfig(
        seed = rnd.nextLong().abs % 1000000L,
        nEvents = 1000L + rnd.nextLong().abs % 3000L,
        nConvs = 5L + rnd.nextLong().abs % 40L,
        maxTurns = 8)
      val t = LakeTable.createTable(spark, tmpDir(s"purge-prop-$i"),
        Schemas.transcript, 4)
      MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, c), 0L)
      // sequential in-memory oracle: LWW winners of the delivered log
      val winners = (0L until c.nEvents)
        .map(s => ChangeLogGen.eventAt(c, ChangeLogGen.deliveredLsn(c, s)))
        .foldLeft(Map.empty[(String, Int), ChangeEvent]) { (m, e) =>
          val k = (e.conv_id, e.turn_idx)
          if (m.get(k).exists(_.lsn > e.lsn)) m else m + (k -> e)
        }
      val liveConvs = winners.collect {
        case ((cv, _), e) if e.op != "D" => cv
      }.toSeq.distinct.sorted
      val victims = liveConvs.take(1 + rnd.nextInt(3)).toSet
      Purge.purgeConversations(t, victims)
      val got = t.read().select("conv_id", "turn_idx", "text")
        .as[(String, Int, String)].collect().toSet
      val want = winners.collect {
        case ((cv, tu), e) if e.op != "D" && !victims(cv) => (cv, tu, e.text)
      }.toSet
      assert(got == want, s"case $i (seed ${c.seed}) diverged from oracle")
    }
  }

  test("purging every conversation of a bucket retires the bucket with no files") {
    val t = seeded("purge-erase-bucket")
    val snap = t.snapshot
    val b = snap.files.map(_.bucket).min
    // every conversation with any trace in bucket b, tombstone-only ones
    // included, so the scrub pass leaves the bucket no row at all
    val victims = t.readFiles(snap, snap.files.filter(_.bucket == b))
      .select("conv_id").distinct().as[String].collect().toSet
    assert(victims.nonEmpty)
    Purge.purgeConversations(t, victims)
    assert(t.snapshot.files.exists(_.bucket == b),
      "the first pass keeps key-only tombstones in the bucket")
    Purge.purgeConversations(t, victims, scrubTombstones = true)
    assert(!t.snapshot.files.exists(_.bucket == b),
      s"bucket $b was fully erased but still has files")
    assert(t.snapshot.files.forall(_.rows > 0))
    val got = t.read().as[graft.model.TranscriptRow].collect().toSet
    val want = ChangeLogGen.oracleFinalState(cfg)
      .filterNot(r => victims(r.conv_id)).toSet
    assert(got == want)
  }

  test("a superseded tombstone merge fails the purge loudly (deletes must land)") {
    val t = seeded("purge-superseded")
    val victims = someConvs(t, 1)
    // poison the purge txn slot with a far-future epoch — app-scoped
    // dedup then makes every phase-1 merge a silent no-op, which must
    // surface as a loud failure, never a PurgeResult claiming success
    // while incremental followers would retain the payload forever
    val row = Seq((500000L, "I", "poison-conv", 0, "user", "x",
      null: String, java.sql.Timestamp.valueOf("2026-03-13 00:00:00")))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeApply.merge(t, row, epochId = 1000000L,
      MergeConfig(txnApp = Some(Purge.TxnApp)))
    val e = intercept[IllegalStateException] {
      Purge.purgeConversations(t, victims)
    }
    assert(e.getMessage.contains("did not apply"))
    // nothing was silently erased without its delete events
    assert(t.read().filter(col("conv_id").isInCollection(victims)).count() > 0)
  }

  test("successive purges of different conversations each land (txn slot advances)") {
    val t = seeded("purge-seq")
    val convs = someConvs(t, 2).toSeq
    val r1 = Purge.purgeConversations(t, Set(convs(0)))
    val r2 = Purge.purgeConversations(t, Set(convs(1)))
    assert(r1.tombstoneVersion.nonEmpty && r1.liveRowsTombstoned > 0)
    assert(r2.tombstoneVersion.nonEmpty && r2.liveRowsTombstoned > 0)
    assert(t.read().filter(col("conv_id").isInCollection(convs.toSet)).isEmpty)
  }

  test("purge converges while a rebucket races it") {
    val t = seeded("purge-rebucket-race")
    val victims = someConvs(t, 2)
    val rebucketer = new Thread(() => {
      var done = false
      while (!done)
        try { MergeApply.rebucket(t, 8); done = true }
        catch { case _: graft.lake.CommitConflictException => }
    })
    rebucketer.start()
    val r = Purge.purgeConversations(t, victims)
    rebucketer.join(120000L)
    assert(!rebucketer.isAlive)
    assert(t.snapshot.nBuckets == 8)
    assert(r.liveRowsTombstoned > 0 && r.tombstoneVersion.nonEmpty)
    assert(t.read().filter(col("conv_id").isInCollection(victims)).isEmpty,
      "purge lost rows to the racing rebucket")
    assert(liveTraces(t, victims).filter(col("__op") =!= "D").isEmpty)
  }

  test("an interrupted reject-scrub swap is recovered before scanning") {
    val t = seeded("purge-tmp-recover")
    val victims = someConvs(t, 1)
    val rej = s"${t.dir}/_rejects/appx"
    // crash after delete, before rename: only the finished tmp survives
    Seq((victims.head, 1, "leaked"), (null.asInstanceOf[String], 0, "orphan"))
      .toDF("conv_id", "turn_idx", "text")
      .write.parquet(s"$rej/.purge-tmp-epoch=5")
    // crash before delete: live dir and a stale half-scrub tmp coexist
    Seq((victims.head, 2, "leaked2"), ("someone-else", 0, "keep"))
      .toDF("conv_id", "turn_idx", "text")
      .write.parquet(s"$rej/epoch=6")
    Seq(("someone-else", 0, "keep"))
      .toDF("conv_id", "turn_idx", "text")
      .write.parquet(s"$rej/.purge-tmp-epoch=6")
    val r = Purge.purgeConversations(t, victims)
    // epoch=5 recovered then counted clean; epoch=6 re-scrubbed from the
    // LIVE dir (the stale tmp is dropped, not swapped in)
    assert(r.rejectsScrubbed == 2, s"scrubbed ${r.rejectsScrubbed}")
    assert(!new java.io.File(s"$rej/.purge-tmp-epoch=5").exists())
    assert(!new java.io.File(s"$rej/.purge-tmp-epoch=6").exists())
    val e5 = spark.read.parquet(s"$rej/epoch=5")
    assert(e5.count() == 1 && e5.filter(col("conv_id").isNull).count() == 1)
    val e6 = spark.read.parquet(s"$rej/epoch=6")
    assert(e6.count() == 1 &&
      e6.filter(col("conv_id") === "someone-else").count() == 1)
  }

  test("verifyErasure attributes residuals to snapshots, staged intents, and reject files") {
    val t = seeded("purge-verify-lib")
    val victims = someConvs(t, 1)
    // dead-letter a poison row carrying the victim's id
    val bad = Seq((9100001L, "X", victims.head, 0, "user", "poison",
      null: String, null.asInstanceOf[java.sql.Timestamp]))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, cfg).limit(50)
      .unionByName(bad), 1L, MergeConfig(invalidRows = "quarantine"))
    // park a staged write also carrying the victim
    val stagedRows = Seq((9200001L, "I", victims.head, 999, "user",
      "staged text", null: String,
      java.sql.Timestamp.valueOf("2026-03-13 00:00:00")))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeApply.merge(t, stagedRows, 2L, MergeConfig(wapId = Some("w1")))

    val rep = Purge.verifyErasure(t, victims)
    assert(!rep.payloadClean && !rep.fullyClean)
    assert(rep.residuals.exists(r =>
      r.stagedIds.contains("w1") && r.payloadRows > 0),
      "staged intent files not attributed")
    assert(rep.residuals.exists(r =>
      r.path.contains("_rejects") && r.payloadRows > 0),
      "reject files not scanned")
    assert(rep.residuals.exists(r => r.versions.nonEmpty),
      "live data files not attributed to snapshot versions")
  }

  test("verifyErasure counts a null-__op residual row as payload") {
    val t = seeded("purge-verify-nullop")
    val victim = someConvs(t, 1).head
    // every payload column null AND a null __op: the key-only test
    // evaluates to null for this row, which must not read as erased
    Seq((victim, 0, 1L)).toDF("conv_id", "turn_idx", "__lsn")
      .withColumn("role", lit(null).cast("string"))
      .withColumn("text", lit(null).cast("string"))
      .withColumn("tool", lit(null).cast("string"))
      .withColumn("ts", lit(null).cast("timestamp"))
      .withColumn("__op", lit(null).cast("string"))
      .coalesce(1).write.parquet(s"${t.dir}/data/stray-nullop")
    val stray = Purge.verifyErasure(t, Set(victim)).residuals
      .filter(_.path.contains("stray-nullop"))
    assert(stray.size == 1 && stray.head.payloadRows >= 1, stray)
  }

  test("the purge delivers exactly its deletes through the change feed") {
    val t = seeded("purge-feed")
    val victims = someConvs(t, 1)
    val preV = t.snapshot.version
    val r = Purge.purgeConversations(t, victims)
    val feed = t.changeFeed(preV, Some(r.rewriteVersion))
    // the only feed content is the victims' deletes — the rewrite's fold
    // re-upserts value-identical winners, which the feed suppresses
    assert(feed.filter(col("_change_type") =!= "delete").isEmpty)
    assert(feed.filter(!col("conv_id").isInCollection(victims)).isEmpty)
    assert(feed.count() == r.liveRowsTombstoned)
  }
}
