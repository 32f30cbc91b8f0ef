package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, upper}
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.cdc.{MergeApply, MergeConfig, MergeResult}
import graft.lake.LakeTable
import graft.model.{ChangeEvent, Schemas}

/** `format("graft-table")` — the lake table as a Structured Streaming
  * source. Exactly-once table-to-table replication across restarts,
  * delete propagation, metadata-commit quiescence, offset codec, and
  * the fail-fast schema-evolution contract. */
class LakeTableSourceSpec extends SparkSpec {

  private val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private def batch(rows: Seq[(Long, String, String, Int, String)]) = {
    import spark.implicits._
    rows.toDF("lsn", "op", "conv_id", "turn_idx", "text")
      .withColumn("role", lit("user"))
      .withColumn("tool", lit(null).cast("string"))
      .withColumn("ts", lit(ts))
  }

  /** The one-column schema the evolution cases add. */
  private val rating = StructType(Seq(StructField("rating", IntegerType)))

  private def state(t: LakeTable): Set[(String, Int, String)] =
    t.read().select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet

  /** LSNs of one offset range, via the source's plain batch plan. */
  private def lsns(df: DataFrame): Set[Long] =
    df.select("lsn").collect().map(_.getLong(0)).toSet

  /** Drain the source into dst via foreachBatch-merge on one checkpoint;
    * returns the MergeResults of the batches this run processed. */
  private def drain(srcDir: String, dst: LakeTable,
      ckpt: String, options: Map[String, String] = Map.empty)
      : Seq[MergeResult] = {
    val results = new ConcurrentLinkedQueue[MergeResult]()
    val q = options.foldLeft(
        spark.readStream.format("graft-table").option("path", srcDir)) {
        case (r, (k, v)) => r.option(k, v)
      }
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, epochId: Long) =>
        results.add(MergeApply.merge(dst, b, epochId, MergeConfig())): Unit
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    results.asScala.toSeq
  }

  /** The source → sink one-liner from srcDir into dstDir on one
    * checkpoint: drains what is new, then stops. `transform` runs over
    * the source stream; `options` go to the sink. */
  private def sink(srcDir: String, dstDir: String, ckpt: String,
      options: Map[String, String] = Map.empty,
      transform: DataFrame => DataFrame = identity): Unit = {
    val q = transform(spark.readStream.format("graft-table")
        .option("path", srcDir).load())
      .writeStream.format("graft-table").option("path", dstDir)
      .option("checkpointLocation", ckpt)
      .options(options)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Every message along `e`'s cause chain. */
  private def causes(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.toString).toSeq

  private def cols(fs: (String, DataType)*) =
    StructType(fs.map { case (n, t) => StructField(n, t) })

  test("offset json roundtrips through the checkpoint codec") {
    // both forms: catch-up (an LSN cut) and sealed (lsn = -2)
    val catchUp = GraftOffset(12, 345678)
    val sealedO = GraftOffset(12, GraftOffset.VersionComplete)
    assert(catchUp.json == """{"version":12,"lsn":345678}""")
    assert(sealedO.json == """{"version":12,"lsn":-2}""")
    assert(!catchUp.versionComplete && sealedO.versionComplete)
    Seq(catchUp, sealedO).foreach { o =>
      assert(GraftOffset.parse(o) == o)
      val restored = new org.apache.spark.sql.connector.read.streaming.Offset {
        override def json(): String = o.json
      }
      assert(GraftOffset.parse(restored) == o)
    }
  }

  test("tailing a table replicates state exactly-once across restarts, deletes propagate") {
    // the same bucket layout downstream, and a different one: the sync
    // is layout-independent
    Seq(4 -> 4, 8 -> 4).foreach { case (srcBuckets, dstBuckets) =>
      val tag = s"$srcBuckets-$dstBuckets"
      val srcDir = tmpDir(s"lts-src-$tag")
      val src = LakeTable.createTable(spark, srcDir, Schemas.transcript,
        srcBuckets)
      val dst = LakeTable.createTable(spark, tmpDir(s"lts-dst-$tag"),
        Schemas.transcript, dstBuckets)
      val ckpt = tmpDir(s"lts-ckpt-$tag")

      MergeApply.merge(src, batch(Seq(
        (1L, "U", "c1", 0, "a"), (2L, "U", "c1", 1, "b"),
        (3L, "U", "c2", 0, "c"))), 0L, MergeConfig())
      MergeApply.merge(src, batch(Seq(
        (4L, "U", "c2", 0, "c2"), (5L, "U", "c3", 0, "d"))), 1L, MergeConfig())

      val first = drain(srcDir, dst, ckpt)
      assert(first.count(_.applied) >= 1)
      assert(state(dst) == state(src))
      assert(state(dst) ==
        Set(("c1", 0, "a"), ("c1", 1, "b"), ("c2", 0, "c2"), ("c3", 0, "d")))

      // nothing new: a restarted query must deliver no data batches
      val idle = drain(srcDir, dst, ckpt)
      assert(idle.forall(r => !r.applied || r.rowsApplied == 0))
      val dstVersionAfterIdle = dst.snapshot.version

      // upstream moves on: overwrite + delete land while the stream is down
      MergeApply.merge(src, batch(Seq(
        (6L, "U", "c1", 0, "a2"), (7L, "D", "c3", 0, ""))), 2L, MergeConfig())

      val second = drain(srcDir, dst, ckpt)
      assert(second.count(r => r.applied && r.rowsApplied > 0) == 1,
        "exactly one data batch for the missed range")
      assert(state(dst) == state(src))
      assert(state(dst) ==
        Set(("c1", 0, "a2"), ("c1", 1, "b"), ("c2", 0, "c2")))
      assert(!state(dst).exists(_._1 == "c3"), "tombstone did not propagate")
      assert(dstVersionAfterIdle < dst.snapshot.version)
      assert(dst.snapshot.nBuckets == dstBuckets)
    }
  }

  test("maxLsnsPerTrigger bounds catch-up batches; rate-limited composition converges") {
    val srcDir = tmpDir("lts-rate")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 4)
    val dst = LakeTable.createTable(spark, tmpDir("lts-rate-dst"), Schemas.transcript, 4)
    // 18 LSNs land BEFORE the stream starts; k0's winner (lsn 7) lies
    // beyond the first cut, k5 ends deleted — both must survive the
    // batch-by-batch catch-up
    MergeApply.merge(src, batch((1 to 6).map(i =>
      (i.toLong, "U", s"k${i - 1}", 0, s"v$i"))), 0L, MergeConfig())
    MergeApply.merge(src, batch(Seq(
      (7L, "U", "k0", 0, "k0-final"), (8L, "U", "k6", 0, "v8"),
      (12L, "U", "k7", 0, "v12"))), 1L, MergeConfig())
    MergeApply.merge(src, batch(Seq(
      (13L, "U", "k8", 0, "v13"), (18L, "D", "k5", 0, ""))), 2L, MergeConfig())

    val runs = drain(srcDir, dst, tmpDir("lts-rate-ckpt"),
      Map("maxLsnsPerTrigger" -> "5"))
    // 18 LSNs / 5 per trigger -> at least 4 micro-batches
    assert(runs.size >= 4, s"expected a bounded catch-up, got ${runs.size} batch(es)")
    assert(state(dst) == state(src))
    assert(state(dst) == Set(
      ("k0", 0, "k0-final"), ("k1", 0, "v2"), ("k2", 0, "v3"),
      ("k3", 0, "v4"), ("k4", 0, "v5"), ("k6", 0, "v8"),
      ("k7", 0, "v12"), ("k8", 0, "v13")))
  }

  test("Trigger.AvailableNow drains the table and stops (bounded mirror mode)") {
    val srcDir = tmpDir("lts-an")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, tmpDir("lts-an-dst"), Schemas.transcript, 2)
    MergeApply.merge(src, batch(Seq(
      (1L, "U", "a", 0, "x"), (2L, "U", "b", 0, "y"))), 0L, MergeConfig())
    val q = spark.readStream.format("graft-table").option("path", srcDir)
      .load()
      .writeStream
      .option("checkpointLocation", tmpDir("lts-an-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, e: Long) =>
        MergeApply.merge(dst, b, e, MergeConfig()): Unit
      }
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query did not stop")
    assert(state(dst) == Set(("a", 0, "x"), ("b", 0, "y")))
  }

  test("Trigger.AvailableNow with maxLsnsPerTrigger drains EVERYTHING in bounded batches") {
    val srcDir = tmpDir("lts-an-rate")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, tmpDir("lts-an-rate-dst"), Schemas.transcript, 2)
    MergeApply.merge(src, batch((1 to 18).map(i =>
      (i.toLong, "U", s"k$i", 0, s"v$i"))), 0L, MergeConfig())
    val results = new ConcurrentLinkedQueue[MergeResult]()
    val q = spark.readStream.format("graft-table").option("path", srcDir)
      .option("maxLsnsPerTrigger", "5")
      .load()
      .writeStream
      .option("checkpointLocation", tmpDir("lts-an-rate-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, e: Long) =>
        results.add(MergeApply.merge(dst, b, e, MergeConfig())): Unit
      }
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query did not stop")
    // the drain must cover ALL 18 LSNs (not stop at the first window of
    // 5) and must arrive in multiple bounded batches
    assert(state(dst) == state(src))
    assert(state(dst).size == 18)
    import scala.jdk.CollectionConverters._
    assert(results.asScala.count(_.rowsApplied > 0) >= 4,
      s"expected a bounded multi-batch drain, got ${results.size} batch(es)")
  }

  test("restart after upstream schema evolution replays the old range and adopts the new schema") {
    val srcDir = tmpDir("lts-restart-evolve")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, tmpDir("lts-restart-evolve-dst"), Schemas.transcript, 2)
    val ckpt = tmpDir("lts-restart-evolve-ckpt")
    MergeApply.merge(src, batch(Seq((1L, "U", "c1", 0, "x"))), 0L, MergeConfig())
    drain(srcDir, dst, ckpt)

    // stream is DOWN; the table evolves and new data lands
    src.evolveSchema(rating, Map("rating" -> "later"))
    MergeApply.merge(src, batch(Seq((2L, "U", "c2", 0, "y"))), 1L, MergeConfig())

    // the restarted stream replays the committed range against its OLD
    // end snapshot (pre-evolution) under the NEW declared schema — the
    // ancestor alignment must null-fill instead of wedging the
    // checkpoint — then deliver the new range
    val second = drain(srcDir, dst, ckpt)
    assert(second.count(r => r.applied && r.rowsApplied > 0) == 1)
    assert(state(dst) == Set(("c1", 0, "x"), ("c2", 0, "y")))

    // and a third restart stays healthy
    val third = drain(srcDir, dst, ckpt)
    assert(third.forall(_.rowsApplied == 0))
  }

  test("source-to-sink one-liner replicates a table exactly-once, no foreachBatch") {
    val srcDir = tmpDir("lts-sink-src")
    val dstDir = tmpDir("lts-sink-dst")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    LakeTable.createTable(spark, dstDir, Schemas.transcript, 2)
    val ckpt = tmpDir("lts-sink-ckpt")
    MergeApply.merge(src, batch(Seq(
      (1L, "U", "a", 0, "x"), (2L, "U", "b", 0, "y"))), 0L, MergeConfig())

    def run(): Unit = sink(srcDir, dstDir, ckpt)
    run()
    val dst = LakeTable.load(spark, dstDir)
    assert(state(dst) == state(src))

    // overwrite + delete while down; a restarted one-liner catches up
    MergeApply.merge(src, batch(Seq(
      (3L, "U", "a", 0, "x2"), (4L, "D", "b", 0, ""))), 1L, MergeConfig())
    run()
    assert(state(dst) == state(src))
    assert(state(dst) == Set(("a", 0, "x2")))
    // idempotent: nothing new, nothing applied
    val v = dst.snapshot.version
    run()
    assert(dst.snapshot.version == v)
  }

  test("sink without mergeSchema refuses a column the destination lacks; nothing commits") {
    val srcDir = tmpDir("lts-sink-narrow-src")
    val dstDir = tmpDir("lts-sink-narrow-dst")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, dstDir, Schemas.transcript, 2)
    src.evolveSchema(rating)
    MergeApply.merge(src, batch(Seq((1L, "U", "a", 0, "x")))
      .withColumn("rating", lit(4)), 0L, MergeConfig())
    val before = dst.snapshot.version
    val e = intercept[StreamingQueryException](
      sink(srcDir, dstDir, tmpDir("lts-sink-narrow-ckpt")))
    assert(causes(e).exists(_.contains("columns not in the table schema: rating")),
      causes(e).mkString("\n"))
    assert(dst.snapshot.version == before, "the refused batch committed")
    assert(dst.snapshot.userSchema == Schemas.transcript)
  }

  test("sink without mergeSchema checks types: int onto boolean fails before any commit; int onto long and a case variant land") {
    val srcDir = tmpDir("lts-sink-fit-src")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    src.evolveSchema(cols("score" -> IntegerType, "Rank" -> IntegerType))
    MergeApply.merge(src, batch(Seq((1L, "U", "c1", 0, "hello")))
      .withColumn("score", lit(1)).withColumn("Rank", lit(2)), 0L,
      MergeConfig())
    // int neither widens to nor from boolean
    val clashDir = tmpDir("lts-sink-fit-clash")
    val clash = LakeTable.createTable(spark, clashDir, Schemas.transcript, 2)
    clash.evolveSchema(cols("score" -> BooleanType, "rank" -> IntegerType))
    val before = clash.snapshot.version
    val e = intercept[StreamingQueryException](
      sink(srcDir, clashDir, tmpDir("lts-sink-fit-clash-ckpt")))
    assert(causes(e).exists(_.contains("incompatible type change for column score")),
      causes(e).mkString("\n"))
    assert(clash.snapshot.version == before, "the refused batch committed")
    // a long column absorbs the int, and `Rank` lands in `rank`
    val fitDir = tmpDir("lts-sink-fit-dst")
    val fit = LakeTable.createTable(spark, fitDir, Schemas.transcript, 2)
    fit.evolveSchema(cols("score" -> LongType, "rank" -> IntegerType))
    val schema = fit.snapshot.userSchema
    sink(srcDir, fitDir, tmpDir("lts-sink-fit-ckpt"))
    assert(fit.snapshot.userSchema == schema)
    assert(fit.read().select("conv_id", "score", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq ==
      Seq(("c1", 1L, 2)))
  }

  test("sink mergeSchema: two source columns, one widened, land as ONE commit with docs") {
    val srcDir = tmpDir("lts-sink-evolve-src")
    val dstDir = tmpDir("lts-sink-evolve-dst")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, dstDir, Schemas.transcript, 2)
    MergeApply.merge(src, batch(Seq((1L, "U", "c1", 0, "hello"),
      (2L, "U", "c2", 0, "world"))), 0L, MergeConfig())
    // three source schema commits: two documented columns, then a widening
    src.evolveSchema(cols("score" -> IntegerType), Map("score" -> "quality score"))
    src.evolveSchema(cols("meta" -> StringType), Map("meta" -> "free-form"))
    MergeApply.merge(src, batch(Seq((3L, "U", "c1", 0, "hello!")))
      .withColumn("score", lit(7)).withColumn("meta", lit("m")), 1L,
      MergeConfig())
    src.evolveSchema(cols("score" -> LongType))
    // a value only the wide type can hold
    MergeApply.merge(src, batch(Seq((4L, "U", "c2", 0, "world!")))
      .withColumn("score", lit(5000000000L)), 2L, MergeConfig())

    val schemasBefore = dst.snapshot.schemas.size
    // declarative silver-layer cleanup on the way down
    sink(srcDir, dstDir, tmpDir("lts-sink-evolve-ckpt"),
      Map("mergeSchema" -> "true"), _.withColumn("role", upper(col("role"))))
    val snap = dst.snapshot
    assert(snap.schemas.size == schemasBefore + 1, "expected ONE schema commit")
    assert(snap.userSchema("score").dataType == LongType)
    assert(snap.userSchema("meta").dataType == StringType)
    assert(snap.columnDocs.get("score").contains("quality score"))
    assert(snap.columnDocs.get("meta").contains("free-form"))
    def rows(t: LakeTable) = t.read()
      .select("conv_id", "turn_idx", "text", "role", "score", "meta")
      .collect().map(_.toSeq).toSet
    val want = rows(src).map(_.updated(3, "USER"))
    assert(rows(dst) == want)
    assert(rows(dst).exists(_.contains(5000000000L)))
  }

  test("sink mergeSchema refuses an incompatible destination type before merging") {
    val srcDir = tmpDir("lts-sink-clash-src")
    val dstDir = tmpDir("lts-sink-clash-dst")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, dstDir, Schemas.transcript, 2)
    // int neither widens to nor from boolean
    src.evolveSchema(cols("score" -> IntegerType))
    dst.evolveSchema(cols("score" -> BooleanType))
    MergeApply.merge(src, batch(Seq((1L, "U", "c1", 0, "hello")))
      .withColumn("score", lit(1)), 0L, MergeConfig())
    val before = dst.snapshot
    val e = intercept[StreamingQueryException](
      sink(srcDir, dstDir, tmpDir("lts-sink-clash-ckpt"),
        Map("mergeSchema" -> "true")))
    assert(causes(e).exists(_.contains("incompatible type change for column score")),
      causes(e).mkString("\n"))
    val after = dst.snapshot
    assert(after.version == before.version)
    assert(after.txns.isEmpty, "a batch merged")
    assert(after.userSchema("score").dataType == BooleanType)
  }

  test("AvailableNow prepared on an EMPTY table stops: data landing mid-run is not chased") {
    val srcDir = tmpDir("lts-an-empty")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    val s = new LakeTableSourceProvider()
      .createSource(spark.sqlContext, "", None, "graft-table",
        Map("path" -> srcDir))
      .asInstanceOf[LakeTableSource]
    s.prepareForTriggerAvailableNow() // nothing available at prepare time
    // a writer races in AFTER prepare — the frozen (empty) target must
    // hold, or a sustained writer would keep the query alive forever
    MergeApply.merge(src, batch(Seq((1L, "U", "late", 0, "x"))), 0L, MergeConfig())
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    assert(s.latestOffset(null, ReadLimit.allAvailable()) == null)
  }

  test("sink invalidRows=quarantine dead-letters poison events without killing the stream") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dstDir = tmpDir("lts-dlq")
    val dst = LakeTable.createTable(spark, dstDir, Schemas.transcript, 2)
    val ckpt = tmpDir("lts-dlq-ckpt")
    val in = MemoryStream[ChangeEvent]
    val q = in.toDF()
      .writeStream.format("graft-table").option("path", dstDir)
      .option("checkpointLocation", ckpt)
      .option("invalidRows", "quarantine")
      .start()
    try {
      in.addData(ChangeEvent(1, "I", "a", 0, "user", "x", null, ts),
        ChangeEvent(2, "X", "b", 0, "user", "y", null, ts), // unknown op
        ChangeEvent(3, "I", null, 0, "user", "z", null, ts)) // null key
      q.processAllAvailable()
    } finally q.stop()
    assert(state(dst) == Set(("a", 0, "x")))
    // dead letters landed under the SLUGGED writer-identity directory
    // (the ckpt-derived identity carries colons/slashes)
    val rej = new java.io.File(s"$dstDir/_rejects")
    assert(rej.isDirectory)
    val appDirs = rej.listFiles().filter(_.isDirectory)
    assert(appDirs.length == 1 && appDirs.head.getName.startsWith("ckpt_"),
      appDirs.map(_.getName).mkString(","))
    val rows = spark.read.parquet(
      appDirs.head.listFiles().filter(_.isDirectory).head.getPath.toString)
      .select("lsn", "reject_reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(2L -> "bad_op", 3L -> "null_key:conv_id"))
  }

  test("sink attaches safely to a destination with already-committed global epochs") {
    val srcDir = tmpDir("lts-seeded-src")
    val dstDir = tmpDir("lts-seeded-dst")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, dstDir, Schemas.transcript, 2)
    // the destination was SEEDED by batch jobs: global epochs 0 and 1
    // are committed, exactly the ids a fresh stream's batchIds reuse —
    // in the global epoch space every sink batch would silently no-op
    MergeApply.merge(dst, batch(Seq((100L, "U", "seed", 0, "s0"))), 0L, MergeConfig())
    MergeApply.merge(dst, batch(Seq((101L, "U", "seed", 1, "s1"))), 1L, MergeConfig())
    MergeApply.merge(src, batch(Seq(
      (1L, "U", "a", 0, "x"), (2L, "U", "b", 0, "y"))), 0L, MergeConfig())

    val ckpt = tmpDir("lts-seeded-ckpt")
    def run(): Unit = sink(srcDir, dstDir, ckpt)
    run()
    assert(state(dst) == Set(
      ("seed", 0, "s0"), ("seed", 1, "s1"), ("a", 0, "x"), ("b", 0, "y")),
      "sink batches collided with the seeded global epochs")
    // the txn guard still dedupes THIS stream's own redelivery
    val v = dst.snapshot.version
    run()
    assert(dst.snapshot.version == v)
    assert(dst.snapshot.txns.keys.exists(_.startsWith("ckpt:")))
  }

  test("startingLsn=latest attaches without bootstrapping history") {
    val srcDir = tmpDir("lts-latest-src")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, tmpDir("lts-latest-dst"), Schemas.transcript, 2)
    // history that must NOT be copied
    MergeApply.merge(src, batch(Seq(
      (1L, "U", "old", 0, "h1"), (2L, "U", "old", 1, "h2"))), 0L, MergeConfig())
    val ckpt = tmpDir("lts-latest-ckpt")
    val first = drain(srcDir, dst, ckpt, Map("startingLsn" -> "latest"))
    assert(first.forall(_.rowsApplied == 0))
    assert(state(dst).isEmpty, "history leaked through startingLsn=latest")
    // changes from now on DO flow (same checkpoint; fixed starting point)
    MergeApply.merge(src, batch(Seq((3L, "U", "new", 0, "n1"))), 1L, MergeConfig())
    drain(srcDir, dst, ckpt, Map("startingLsn" -> "latest"))
    assert(state(dst) == Set(("new", 0, "n1")))
  }

  test("startingLsn=latest on an empty table delivers the table's first commits") {
    val srcDir = tmpDir("lts-latest-empty")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, tmpDir("lts-latest-empty-dst"),
      Schemas.transcript, 2)
    val ckpt = tmpDir("lts-latest-empty-ckpt")
    val first = drain(srcDir, dst, ckpt, Map("startingLsn" -> "latest"))
    assert(first.forall(_.rowsApplied == 0))
    MergeApply.merge(src, batch(Seq((1L, "U", "c1", 0, "x"))), 0L, MergeConfig())
    drain(srcDir, dst, ckpt, Map("startingLsn" -> "latest"))
    assert(state(dst) == Set(("c1", 0, "x")),
      "the first commit after attach was skipped by 'latest'")
  }

  test("low-LSN arrival inside the batch-0 crash window survives the frozen cut") {
    // batch 0's end offset is the stream's only record of where it
    // attached: a commit landing after batch 0 was planned — here while
    // batch 0 sat unfinished in the offset log — is a version-window
    // arrival even when its LSNs sit BELOW the cut
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val srcDir = tmpDir("lts-ooo-attach")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    MergeApply.merge(src, batch(Seq(
      (10L, "U", "h", 0, "a"), (20L, "U", "h", 1, "b"))), 0L, MergeConfig())
    val mp = tmpDir("lts-ooo-attach-meta")
    val p = new LakeTableSourceProvider()
    def mk() = p.createSource(spark.sqlContext, mp, None, "graft-table",
      Map("path" -> srcDir, "startingLsn" -> "latest"))
      .asInstanceOf[LakeTableSource]
    // instance 1 plans batch 0 (cut = 20), then the stream goes down
    val end0 = GraftOffset.parse(mk().latestOffset(null, ReadLimit.allAvailable()))
    // crash window: a NEW key arrives with an LSN below the cut
    MergeApply.merge(src, batch(Seq((5L, "U", "late", 0, "x"))), 1L,
      MergeConfig())
    val restarted = mk()
    assert(lsns(restarted.batchPlan(None, end0)).isEmpty,
      "replaying batch 0 must deliver nothing past the cut")
    val end1 = GraftOffset.parse(
      restarted.latestOffset(end0, ReadLimit.allAvailable()))
    val rows = lsns(restarted.batchPlan(Some(end0), end1))
    assert(rows == Set(5L),
      s"low-LSN crash-window arrival was lost by the cut, got $rows")
  }

  test("the legacy getOffset is refused: latestOffset is the one offset path") {
    val srcDir = tmpDir("lts-getoffset")
    LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    val s = new LakeTableSourceProvider().createSource(spark.sqlContext, "",
      None, "graft-table", Map("path" -> srcDir))
    val e = intercept[UnsupportedOperationException](s.getOffset)
    assert(e.getMessage.contains("latestOffset"))
  }

  test("arrival below the consumed LSN high water still reaches the stream") {
    // the hazard that retired the LSN-cut design: a key whose WINNING
    // event arrives in a later commit carrying an LSN below the already-
    // consumed high water sits in no `__lsn > cut` range — an LSN-cut
    // source loses it forever; the commit-version window cannot
    val srcDir = tmpDir("lts-ooo")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, tmpDir("lts-ooo-dst"), Schemas.transcript, 2)
    val ckpt = tmpDir("lts-ooo-ckpt")
    MergeApply.merge(src, batch(Seq((100L, "U", "c1", 0, "first"))), 0L, MergeConfig())
    drain(srcDir, dst, ckpt) // consumed high water is now 100
    // late arrival: NEW key, LSN far below 100
    MergeApply.merge(src, batch(Seq((50L, "U", "c2", 0, "late-low-lsn"))), 1L, MergeConfig())
    drain(srcDir, dst, ckpt)
    assert(state(dst) == state(src))
    assert(state(dst).exists(_._1 == "c2"), "late low-LSN arrival was lost")
  }

  test("compaction between micro-batches re-delivers nothing") {
    val srcDir = tmpDir("lts-fold")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, tmpDir("lts-fold-dst"), Schemas.transcript, 2)
    val ckpt = tmpDir("lts-fold-ckpt")
    MergeApply.merge(src, batch((1 to 8).map(i =>
      (i.toLong, "U", s"k$i", 0, s"v$i"))), 0L,
      MergeConfig())
    drain(srcDir, dst, ckpt)
    assert(state(dst).size == 8)

    // a fold alone: the window starting at its parent skips it outright
    MergeApply.compactBuckets(src, src.snapshot.files.map(_.bucket).toSet)
    val foldOnly = drain(srcDir, dst, ckpt)
    assert(foldOnly.map(_.rowsApplied).sum == 0,
      s"fold re-delivered rows: $foldOnly")

    // arrivals + a DEEPER fold in the same downtime: the source must
    // split the window before the fold — total delivered rows equal the
    // new batch alone, never the folded table
    MergeApply.merge(src, batch(Seq((9L, "U", "k9", 0, "v9"))), 1L,
      MergeConfig())
    MergeApply.compactBuckets(src, src.snapshot.files.map(_.bucket).toSet)
    val catchUp = drain(srcDir, dst, ckpt)
    assert(catchUp.map(_.rowsApplied).sum == 1,
      s"expected exactly the new row, got $catchUp")
    assert(state(dst) == state(src))
  }

  test("legacy LSN-cut checkpoints resume losslessly (catch-up offsets seal)") {
    val srcDir = tmpDir("lts-legacy")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    MergeApply.merge(src, batch(Seq(
      (1L, "U", "a", 0, "x"), (2L, "U", "b", 0, "y"),
      (3L, "U", "c", 0, "z"))), 0L, MergeConfig())
    val v1 = src.snapshot.version
    MergeApply.merge(src, batch(Seq((4L, "U", "d", 0, "w"))), 1L, MergeConfig())

    val s = new LakeTableSourceProvider()
      .createSource(spark.sqlContext, "", None, "graft-table",
        Map("path" -> srcDir)).asInstanceOf[LakeTableSource]
    // a checkpoint written by the LSN-cut era: winners of v1 delivered
    // through LSN 2 (mid-snapshot rate-limit cut)
    val legacy = GraftOffset(v1, 2L)
    assert(!legacy.versionComplete)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val sealedO = GraftOffset.parse(s.latestOffset(legacy, ReadLimit.allAvailable()))
    assert(sealedO == GraftOffset(v1, GraftOffset.VersionComplete))
    // the transition batch finishes v1 past the cut AND the later commit
    val rows = lsns(s.batchPlan(Some(legacy), sealedO))
    assert(rows == Set(3L), s"transition must finish the pinned snapshot, got $rows")
    val next = GraftOffset.parse(s.latestOffset(sealedO, ReadLimit.allAvailable()))
    val tail = lsns(s.batchPlan(Some(sealedO), next))
    assert(tail == Set(4L), s"version window must deliver the later commit, got $tail")
  }

  test("maxRowsPerTrigger bounds steady-state catch-up windows by version") {
    val srcDir = tmpDir("lts-rows")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, tmpDir("lts-rows-dst"), Schemas.transcript, 2)
    val ckpt = tmpDir("lts-rows-ckpt")
    MergeApply.merge(src, batch(Seq((1L, "U", "k0", 0, "v0"))), 0L, MergeConfig())
    drain(srcDir, dst, ckpt, Map("maxRowsPerTrigger" -> "4"))
    // downtime: four commits of 3 rows each land
    (1 to 4).foreach { c =>
      MergeApply.merge(src, batch((0 until 3).map(i =>
        ((c * 10 + i).toLong, "U", s"k$c-$i", 0, "v"))), c.toLong, MergeConfig())
    }
    val runs = drain(srcDir, dst, ckpt, Map("maxRowsPerTrigger" -> "4"))
    val data = runs.filter(_.rowsApplied > 0)
    assert(data.size >= 3, s"expected a bounded multi-batch catch-up, got $runs")
    assert(data.forall(_.rowsApplied <= 4), s"window exceeded the row cap: $runs")
    assert(state(dst) == state(src))
    assert(state(dst).size == 13)
  }

  test("metadata-only commits never deliver data rows downstream") {
    val srcDir = tmpDir("lts-meta")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, tmpDir("lts-meta-dst"), Schemas.transcript, 2)
    val ckpt = tmpDir("lts-meta-ckpt")
    MergeApply.merge(src, batch(Seq((1L, "U", "c1", 0, "x"))), 0L, MergeConfig())
    drain(srcDir, dst, ckpt)
    // a properties-only commit bumps the version but not the LSN cut: a
    // restarted stream may fire at most one EMPTY micro-batch for the new
    // offset json (committed as a 0-row epoch — watermark contiguity),
    // but no data rows move and the running query then goes quiet
    src.linkResource("dashboard", "https://example.invalid/d")
    val runs = drain(srcDir, dst, ckpt)
    assert(runs.forall(_.rowsApplied == 0))
    assert(runs.size <= 1, s"metadata commit caused ${runs.size} micro-batches")
    assert(state(dst) == Set(("c1", 0, "x")))
  }

  test("schema evolution under a RUNNING source fails fast; a restarted source adopts it") {
    val srcDir = tmpDir("lts-evolve")
    val src = LakeTable.createTable(spark, srcDir, Schemas.transcript, 2)
    val provider = new LakeTableSourceProvider()
    val params = Map("path" -> srcDir)

    MergeApply.merge(src, batch(Seq((1L, "U", "c1", 0, "x"))), 0L, MergeConfig())
    // a live source instance pinned its schema at creation …
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val running = provider.createSource(spark.sqlContext, "", None,
      "graft-table", params).asInstanceOf[LakeTableSource]
    val o1 = GraftOffset.parse(
      running.latestOffset(null, ReadLimit.allAvailable()))
    // … then the table evolves and more data lands
    src.evolveSchema(rating, Map("rating" -> "added mid-stream"))
    MergeApply.merge(src, batch(Seq((2L, "U", "c1", 1, "y"))), 1L,
      MergeConfig())
    val o2 = GraftOffset.parse(
      running.latestOffset(o1, ReadLimit.allAvailable()))
    val ex = intercept[IllegalStateException] {
      running.getBatch(Some(o1), o2)
    }
    assert(ex.getMessage.contains("schema evolved"))
    assert(ex.getMessage.contains("restart"))

    // a fresh source (= restarted stream) adopts the evolved schema and
    // a full drain onto an evolved destination replicates the state
    val restarted = provider.createSource(spark.sqlContext, "", None,
      "graft-table", params)
    assert(restarted.schema.fieldNames.contains("rating"))
    val dst = LakeTable.createTable(spark, tmpDir("lts-evolve-dst"),
      src.snapshot.userSchema, 2)
    drain(srcDir, dst, tmpDir("lts-evolve-ckpt"))
    assert(state(dst) == Set(("c1", 0, "x"), ("c1", 1, "y")))
  }
}
