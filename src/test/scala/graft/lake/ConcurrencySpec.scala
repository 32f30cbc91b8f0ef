package graft.lake

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.{MergeApply, MergeConfig}
import graft.model.Schemas

/** Multi-writer snapshot isolation (the Iceberg commit model): losing the
  * version-file race rebases metadata-only commits onto the winner; a
  * commit that replaced buckets a concurrent writer touched — or raced a
  * schema change — conflicts instead of silently losing rows; an epoch
  * committed by a concurrent writer supersedes the in-flight duplicate
  * (exactly-once across WRITERS, not just sequential replays). */
class ConcurrencySpec extends SparkSpec {

  private def fresh(name: String, nBuckets: Int = 4): LakeTable =
    LakeTable.createTable(spark, tmpDir(name), Schemas.transcript, nBuckets)

  test("bucket-replacing commits of the same bucket conflict, winner intact") {
    val t = fresh("occ-replace")
    t.commit(t.snapshot, Seq(DataFileEntry("seed", 0, 1L, 0)), Set.empty, Some(0L), None)
    val base = t.snapshot // both writers plan a rewrite of bucket 0 from v1
    t.commit(base, Seq(DataFileEntry("a1", 0, 1L, 0)), Set(0), Some(1L), None)
    intercept[CommitConflictException] {
      t.commit(base, Seq(DataFileEntry("b1", 0, 1L, 0)), Set(0), Some(2L), None)
    }
    assert(t.snapshot.files.map(_.path) == Seq("a1")) // loser changed nothing
    assert(!t.snapshot.isCommitted(2L)) // the conflicted epoch is NOT burned
  }

  test("compaction conflicts when a delta lands in a folded bucket concurrently") {
    val t = fresh("occ-compact")
    t.commit(t.snapshot, Seq(DataFileEntry("d1", 0, 1L, 0, "delta")), Set.empty, Some(0L), None)
    val base = t.snapshot
    // ingest wins the race with another delta in the same bucket …
    t.commit(base, Seq(DataFileEntry("d2", 0, 1L, 0, "delta")), Set.empty, Some(1L), None)
    // … so the compaction fold built on the stale view must NOT land
    // (rebasing it would drop d2's rows from the live set)
    intercept[CommitConflictException] {
      t.commit(base, Seq(DataFileEntry("folded", 0, 2L, 0)), Set(0), None, None)
    }
    assert(t.snapshot.files.map(_.path).toSet == Set("d1", "d2"))
  }

  test("whole-table replace retires the FULL bucket space, so appends into empty buckets conflict") {
    val t = fresh("occ-replace-empty")
    // live files in bucket 0 only; buckets 1-3 are EMPTY at the snapshot
    t.commit(t.snapshot, Seq(DataFileEntry("seed", 0, 1L, 0)), Set.empty, Some(0L), None)
    val base = t.snapshot
    // a concurrent writer lands a delta in empty bucket 2 and wins the race
    t.commit(base, Seq(DataFileEntry("late", 2, 1L, 0, "delta")), Set.empty, Some(1L), None)
    // the replace built on the stale view retires every bucket (the
    // MergeApply.replace contract) — its conflict signature must cover
    // bucket 2, so the stale replace cannot silently keep 'late' alive
    intercept[CommitConflictException] {
      t.commit(base, Seq(DataFileEntry("repl", 0, 1L, 0)),
        (0 until base.nBuckets).toSet, Some(2L), None)
    }
    assert(t.snapshot.files.map(_.path).toSet == Set("seed", "late"))
    // and the real replace path registers the full space: a retried
    // replace from the fresh snapshot retires 'late' too
    import spark.implicits._
    val repl = Seq((100L, "I", "rc", 0, "user", "replaced", null: String,
      java.sql.Timestamp.valueOf("2026-03-12 00:00:00")))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeApply.replace(t, repl, 2L)
    assert(t.snapshot.manifests.last.replacedBuckets ==
      (0 until t.snapshot.nBuckets))
    assert(t.read().select("conv_id").as[String].collect().toSeq == Seq("rc"))
  }

  test("same epoch from two writers: the in-flight duplicate is superseded") {
    val t = fresh("occ-epoch")
    val base = t.snapshot
    t.commit(base, Seq(DataFileEntry("a", 0, 1L, 0)), Set.empty, Some(7L), None)
    intercept[EpochSupersededException] {
      t.commit(base, Seq(DataFileEntry("a-dup", 1, 1L, 0)), Set.empty, Some(7L), None)
    }
    assert(t.snapshot.files.map(_.path) == Seq("a"))
  }

  test("a data commit racing a schema change conflicts (schema edits serialize)") {
    val t = fresh("occ-schema")
    val base = t.snapshot
    t.evolveSchema(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.IntegerType))), Map("extra" -> "racer"))
    intercept[CommitConflictException] {
      t.commit(base, Seq(DataFileEntry("x", 0, 1L, 0)), Set.empty, Some(0L), None)
    }
    assert(t.snapshot.userSchema.fieldNames.contains("extra"))
  }

  test("a schema edit that lost the race to a delta commit lands on top of it") {
    val t = fresh("occ-schema-edit")
    val base = t.snapshot
    // a delta commit takes v1 first …
    t.commit(base, Seq(DataFileEntry("d1", 0, 1L, 0, "delta")), Set.empty, Some(0L), None)
    // … so the schema edit built on v0 is refused v1 and is applied again
    // to the winner, evolving the winner's schema
    val s = t.evolveSchemaFrom(base, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.IntegerType))), Map("extra" -> "late"))
    assert(s.version == 2L)
    val cur = t.snapshot
    assert(cur.version == 2L)
    assert(cur.userSchema.fieldNames.contains("extra"))
    assert(cur.columnDocs.get("extra").contains("late"))
    assert(cur.files.map(_.path) == Seq("d1"))
    assert(cur.isCommitted(0L))
  }

  // ---------------------------------------------------------- end-to-end

  private val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private def batch(rows: Seq[(Long, String, String, Int, String)]) = {
    import spark.implicits._
    rows.toDF("lsn", "op", "conv_id", "turn_idx", "text")
      .withColumn("role", lit("user"))
      .withColumn("tool", lit(null).cast("string"))
      .withColumn("ts", lit(ts))
  }

  test("two writers MoR-merge interleaved epochs concurrently: both land, LWW state exact") {
    val dir = tmpDir("occ-two-writers")
    LakeTable.createTable(spark, dir, Schemas.transcript, 4)
    // no inline compaction: keep every race on the pure-delta-append path,
    // which must ALWAYS rebase cleanly (replacedBuckets is empty)
    val cfg = MergeConfig(maxDeltaFilesPerBucket = 1000)
    val epochsPer = 6
    val keys = (0 until 16).map(i => s"conv_$i")
    def events(epoch: Int): Seq[(Long, String, String, Int, String)] =
      keys.zipWithIndex.map { case (k, i) =>
        (epoch * 1000L + i, "U", k, i % 4, s"e$epoch k$k")
      }
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    // writer 0 drives even epochs, writer 1 odd — distinct epoch ids, one
    // LakeTable handle each (separate writer processes in miniature)
    val futures = (0 until 2).map { w =>
      pool.submit(new java.util.concurrent.Callable[Seq[Boolean]] {
        def call(): Seq[Boolean] = {
          val handle = LakeTable.load(spark, dir)
          start.await()
          (0 until epochsPer).map { i =>
            val e = i * 2 + w
            MergeApply.merge(handle, batch(events(e)), e, cfg).applied
          }
        }
      })
    }
    start.countDown()
    val applied = futures.map(_.get(300, TimeUnit.SECONDS))
    pool.shutdown()
    // every epoch applied despite the commit races (delta appends rebase)
    assert(applied.flatten.forall(identity))
    val t = LakeTable.load(spark, dir)
    assert(t.snapshot.isCommitted(epochsPer * 2 - 1L))
    assert(t.snapshot.epochWatermark == epochsPer * 2 - 1L) // contiguous
    // LWW winner per key is the max-LSN event regardless of commit order
    val got = t.read().select("conv_id", "turn_idx", "text")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    val want = keys.zipWithIndex.map { case (k, i) =>
      val maxEpoch = epochsPer * 2 - 1 // highest epoch wins every key
      (k, i % 4) -> s"e$maxEpoch k$k"
    }.toMap
    assert(got == want)
  }

  test("two replace writers contend on the same buckets: conflicts recompute, last batch wins") {
    val dir = tmpDir("occ-replace-writers")
    LakeTable.createTable(spark, dir, Schemas.transcript, 4)
    // a replace retires every bucket, so every concurrent epoch pair
    // collides; the loser must RECOMPUTE from the winner's snapshot
    // (runEpoch's conflict retry), never rebase onto rows it would drop
    val epochsPer = 4
    val keys = (0 until 16).map(i => s"conv_$i") // 16 keys over all 4 buckets
    def events(epoch: Int): Seq[(Long, String, String, Int, String)] =
      keys.zipWithIndex.map { case (k, i) =>
        (epoch * 1000L + i, "U", k, i % 4, s"e$epoch k$k")
      }
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val futures = (0 until 2).map { w =>
      pool.submit(new java.util.concurrent.Callable[Seq[Boolean]] {
        def call(): Seq[Boolean] = {
          val handle = LakeTable.load(spark, dir)
          start.await()
          (0 until epochsPer).map { i =>
            val e = i * 2 + w
            MergeApply.replace(handle, batch(events(e)), e).applied
          }
        }
      })
    }
    start.countDown()
    val applied = futures.map(_.get(300, TimeUnit.SECONDS))
    pool.shutdown()
    assert(applied.flatten.forall(identity))
    val t = LakeTable.load(spark, dir)
    assert(t.snapshot.epochWatermark == epochsPer * 2 - 1L) // contiguous
    // the table holds exactly ONE writer's last batch — whichever replace
    // committed last — never a mix of the two
    val got = t.read().select("conv_id", "turn_idx", "text")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    def lastBatchOf(w: Int) = keys.zipWithIndex.map { case (k, i) =>
      (k, i % 4) -> s"e${(epochsPer - 1) * 2 + w} k$k"
    }.toMap
    assert(got == lastBatchOf(0) || got == lastBatchOf(1), got)
  }

  test("reader concurrent with a writer sees only whole commits (atomic visibility)") {
    val dir = tmpDir("occ-reader")
    LakeTable.createTable(spark, dir, Schemas.transcript, 4)
    val cfg = MergeConfig()
    val nEpochs = 12
    val keys = (0 until 16).map(i => s"conv_$i")
    // every epoch rewrites ALL keys with its own tag, so a consistent
    // snapshot shows ONE tag across the whole table — a read that mixes
    // tags (or duplicates a key) caught a commit half-applied
    def events(epoch: Int): Seq[(Long, String, String, Int, String)] =
      keys.zipWithIndex.map { case (k, i) =>
        (epoch * 1000L + i, "U", k, i % 4, s"e$epoch")
      }
    val pool = Executors.newFixedThreadPool(1)
    val writer = pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = {
        val handle = LakeTable.load(spark, dir)
        (0 until nEpochs).foreach(e =>
          MergeApply.merge(handle, batch(events(e)), e, cfg))
      }
    })
    val reader = LakeTable.load(spark, dir)
    val seen = collection.mutable.Set[String]()
    while (!writer.isDone) {
      val rows = reader.read().select("conv_id", "turn_idx", "text").collect()
      if (rows.nonEmpty) {
        val byKey = rows.groupBy(r => (r.getString(0), r.getInt(1)))
        assert(byKey.values.forall(_.length == 1),
          "read surfaced duplicate key versions (unresolved deltas)")
        val tags = rows.map(_.getString(2)).toSet
        assert(tags.size == 1, s"read mixed commits: $tags")
        assert(rows.length == keys.size)
        seen += tags.head
      }
    }
    writer.get(300, TimeUnit.SECONDS)
    pool.shutdown()
    assert(seen.nonEmpty, "reader never overlapped the writer")
    val last = LakeTable.load(spark, dir).read()
      .select("text").distinct().collect().map(_.getString(0)).toSet
    assert(last == Set(s"e${nEpochs - 1}"))
  }

  test("two txn-scoped apps merge concurrently: independent idempotence, LWW exact") {
    val dir = tmpDir("occ-txn-apps")
    LakeTable.createTable(spark, dir, Schemas.transcript, 4)
    // both apps use batch ids 0..3 — identical ids, DIFFERENT txn slots;
    // app A writes even LSNs, app B odd, interleaved over the same keys
    val epochsPer = 4
    val keys = (0 until 8).map(i => s"conv_$i")
    def events(app: Int, i: Int): Seq[(Long, String, String, Int, String)] =
      keys.zipWithIndex.map { case (k, j) =>
        ((i * 2 + app) * 100L + j, "U", k, j % 4, s"a$app i$i")
      }
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val futures = (0 until 2).map { app =>
      pool.submit(new java.util.concurrent.Callable[Seq[Boolean]] {
        def call(): Seq[Boolean] = {
          val handle = LakeTable.load(spark, dir)
          val cfg = MergeConfig(maxDeltaFilesPerBucket = 1000,
            txnApp = Some(s"app$app"))
          start.await()
          (0 until epochsPer).map(i =>
            MergeApply.merge(handle, batch(events(app, i)), i, cfg).applied)
        }
      })
    }
    start.countDown()
    val applied = futures.map(_.get(300, TimeUnit.SECONDS))
    pool.shutdown()
    assert(applied.flatten.forall(identity),
      "same batch ids in different txn slots must not collide")
    val t = LakeTable.load(spark, dir)
    assert(t.snapshot.txns.view.mapValues(_.batch).toMap ==
      Map("app0" -> 3L, "app1" -> 3L))
    // winner per key = max LSN overall = app B's last round
    val got = t.read().select("conv_id", "turn_idx", "text")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    val want = keys.zipWithIndex.map { case (k, j) =>
      (k, j % 4) -> s"a1 i${epochsPer - 1}"
    }.toMap
    assert(got == want)
    // redelivery in either slot is a no-op
    val cfgA = MergeConfig(txnApp = Some("app0"))
    assert(!MergeApply.merge(t, batch(events(0, 0)), 0L, cfgA).applied)
  }

  test("two writers race the SAME epoch: exactly one applies, state unduplicated") {
    val dir = tmpDir("occ-same-epoch")
    LakeTable.createTable(spark, dir, Schemas.transcript, 4)
    val cfg = MergeConfig(maxDeltaFilesPerBucket = 1000)
    val b = batch((0 until 8).map(i => (i.toLong, "U", s"c$i", 0, s"t$i")))
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val futures = (0 until 2).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          val handle = LakeTable.load(spark, dir)
          start.await()
          MergeApply.merge(handle, b, 0L, cfg).applied
        }
      })
    }
    start.countDown()
    val applied = futures.map(_.get(300, TimeUnit.SECONDS))
    pool.shutdown()
    assert(applied.count(identity) == 1) // exactly-once across writers
    val t = LakeTable.load(spark, dir)
    assert(t.read().count() == 8)
    // only the winner's delta files are referenced (no duplicate rows)
    assert(t.snapshot.files.map(_.rows).sum == 8)
  }
}
