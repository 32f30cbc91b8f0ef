package graft.cdc

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.lake.LakeTable
import graft.model.Schemas

/** Schema evolution driven by registry events in the change stream
  * (north rule): add-column and type-widening events (`op = "S"`) applied
  * mid-stream through the lake table's evolution API, with new column
  * values carried in the open `extras` envelope map. Mirrors — without
  * the destructive clear — the reference's `migrate_schema` +
  * data-dictionary restore (reference: engine/etl_util.py:630-664,
  * 87-115). */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private val ts = Timestamp.valueOf("2026-01-01 00:00:00")

  private def v2(rows: Seq[(Long, String, String, Int, String, String,
      Map[String, String])]): DataFrame =
    rows.map { case (lsn, op, c, t, text, role, ex) =>
      (lsn, op, c, t, role, text, null: String, ts,
        if (ex == null) null else ex)
    }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts",
      "extras")

  test("add-column registry event: new rows typed, old rows null, docs kept") {
    val table = LakeTable.createTable(spark, tmpDir("evo-add"),
      Schemas.transcript, nBuckets = 4)
    MergeApply.merge(table, v2(Seq(
      (1L, "I", "c1", 0, "hello", "user", null),
      (2L, "I", "c1", 1, "world", "assistant", null))), 0L)

    val b2 = v2(Seq(
      (10L, "S", null, 0, """{"add":{"name":"score","type":"int","doc":"model quality score"}}""", null, null),
      (11L, "I", "c2", 0, "scored turn", "user", Map("score" -> "42")),
      (12L, "U", "c1", 1, "world v2", "assistant", Map("score" -> "7"))))
    MergeApply.merge(table, b2, 1L)

    val snap = table.snapshot
    assert(snap.userSchema.fieldNames.contains("score"))
    assert(snap.userSchema("score").dataType == IntegerType)
    assert(snap.columnDocs.get("score").contains("model quality score"))
    val got = table.read().select("conv_id", "turn_idx", "text", "score")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getInt(3))).toSet
    assert(got == Set(
      ("c1", 0, "hello", null), // pre-evolution row: null-projected
      ("c1", 1, "world v2", 7),
      ("c2", 0, "scored turn", 42)))
  }

  test("compaction folds MoR deltas written under different schema versions") {
    val table = LakeTable.createTable(spark, tmpDir("evo-compact"),
      Schemas.transcript, nBuckets = 2)
    val mor = MergeConfig(maxDeltaFilesPerBucket = 100)
    // epoch 0 under schema v0; registry event + more deltas under v1
    MergeApply.merge(table, v2(Seq(
      (1L, "I", "c1", 0, "old-schema row", "user", null))), 0L, mor)
    MergeApply.merge(table, v2(Seq(
      (10L, "S", null, 0, """{"add":{"name":"score","type":"int"}}""", null, null),
      (11L, "I", "c2", 0, "new-schema row", "user", Map("score" -> "9")),
      (12L, "U", "c1", 0, "old row updated", "user", Map("score" -> "3")))),
      1L, mor)
    assert(table.snapshot.files.map(_.schemaVersion).distinct.size == 2)
    val before = table.read().select("conv_id", "text", "score").collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getInt(2))).toSet
    MergeApply.compactBuckets(table,
      table.snapshot.files.map(_.bucket).toSet, mor)
    val snap = table.snapshot
    // folded to base files, all rewritten under the CURRENT schema
    assert(snap.files.forall(_.kind == "base"))
    assert(snap.files.forall(_.schemaVersion == snap.currentSchemaVersion))
    val after = table.read().select("conv_id", "text", "score").collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getInt(2))).toSet
    assert(after == before)
    assert(after == Set(("c1", "old row updated", 3),
      ("c2", "new-schema row", 9)))
  }

  test("widening registry event: int -> long mid-stream, old files upcast") {
    val table = LakeTable.createTable(spark, tmpDir("evo-widen"),
      Schemas.transcript, nBuckets = 4)
    MergeApply.merge(table, v2(Seq(
      (1L, "S", null, 0, """{"add":{"name":"score","type":"int"}}""", null, null),
      (2L, "I", "c1", 0, "a", "user", Map("score" -> "5")))), 0L)
    MergeApply.merge(table, v2(Seq(
      (10L, "S", null, 0, """{"widen":{"name":"score","type":"long"}}""", null, null),
      (11L, "I", "c2", 0, "b", "user", Map("score" -> "9999999999")))), 1L)

    assert(table.snapshot.userSchema("score").dataType == LongType)
    val got = table.read().select("conv_id", "score").as[(String, Long)]
      .collect().toMap
    assert(got == Map("c1" -> 5L, "c2" -> 9999999999L))
  }

  test("a pure registry batch (no data rows) still applies its events") {
    // zero-output hazard: with every row consumed by the S filter the
    // write action can run zero tasks, resolving the probe observation to
    // an empty map — the eager re-check in the 0-row branch must still
    // find and apply the event (and the epoch must still land)
    val table = LakeTable.createTable(spark, tmpDir("evo-pure-s"),
      Schemas.transcript, nBuckets = 2)
    val r = MergeApply.merge(table, v2(Seq(
      (1L, "S", null, 0, """{"add":{"name":"meta","type":"string"}}""", null, null))), 0L)
    assert(r.applied)
    assert(table.snapshot.userSchema.fieldNames.contains("meta"))
    assert(table.snapshot.maxCommittedEpoch == 0L)
  }

  test("replayed widen is a no-op when the column was widened further") {
    val table = LakeTable.createTable(spark, tmpDir("evo-rewiden"),
      Schemas.transcript, nBuckets = 2)
    MergeApply.merge(table, v2(Seq(
      (1L, "S", null, 0, """{"add":{"name":"score","type":"int"}}""", null, null))), 0L)
    // one batch carrying TWO widen steps for the same column — after a
    // crash between schema apply and data commit, redelivery re-applies
    // the FIRST step against the already-double schema; it must no-op,
    // not throw (the poison-batch loop)
    assert(SchemaRegistry(table, Seq("""{"widen":{"name":"score","type":"long"}}""")))
    assert(SchemaRegistry(table, Seq("""{"widen":{"name":"score","type":"double"}}""")))
    assert(!SchemaRegistry(table, Seq("""{"widen":{"name":"score","type":"long"}}""")))
    assert(table.snapshot.userSchema("score").dataType == DoubleType)
  }

  test("a case-variant registry add is absorbed: one column, the batch merges") {
    val table = LakeTable.createTable(spark, tmpDir("evo-case"),
      Schemas.transcript, nBuckets = 2)
    MergeApply.merge(table, v2(Seq(
      (1L, "S", null, 0, """{"add":{"name":"score","type":"int"}}""", null, null),
      (2L, "I", "c1", 0, "a", "user", Map("score" -> "5")))), 0L)
    // a second column differing only in case would make Spark refuse
    // every later read (AMBIGUOUS_REFERENCE) and write of the table
    val r = MergeApply.merge(table, v2(Seq(
      (10L, "S", null, 0, """{"add":{"name":"Score","type":"int"}}""", null, null),
      (11L, "I", "c2", 0, "b", "user", Map("score" -> "9")))), 1L)
    assert(r.applied && r.rowsApplied == 1L)
    assert(table.snapshot.userSchema.fieldNames
      .filter(_.equalsIgnoreCase("score")).toSeq == Seq("score"))
    val got = table.read().select("conv_id", "score").as[(String, Int)]
      .collect().toMap
    assert(got == Map("c1" -> 5, "c2" -> 9))
  }

  test("extras keys resolve case-insensitively: a case-variant column carries its value") {
    val table = LakeTable.createTable(spark, tmpDir("evo-case-extras"),
      Schemas.transcript, nBuckets = 2)
    MergeApply.merge(table, v2(Seq(
      (1L, "S", null, 0, """{"add":{"name":"score","type":"int"}}""", null, null),
      (2L, "I", "c1", 0, "a", "user", Map("score" -> "5")))), 0L)
    // the feed announces and sends its own spelling; the add is absorbed
    // into `score`, and the value must still land there
    val r = MergeApply.merge(table, v2(Seq(
      (10L, "S", null, 0, """{"add":{"name":"Score","type":"int"}}""", null, null),
      (11L, "I", "c2", 0, "b", "user", Map("Score" -> "9")))), 1L)
    assert(r.applied && r.rowsApplied == 1L)
    val got = table.read().select("conv_id", "score").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .toMap
    assert(got == Map("c1" -> Some(5), "c2" -> Some(9)))
  }

  test("a top-level column differing only in case carries its value") {
    val table = LakeTable.createTable(spark, tmpDir("evo-case-top"),
      Schemas.transcript, nBuckets = 2)
    // a rerun whose CSV header changed case: `Text` for the table's `text`
    val r = MergeApply.merge(table,
      v2(Seq((1L, "I", "c1", 0, "hello", "user", null)))
        .withColumnRenamed("text", "Text"), 0L)
    assert(r.applied && r.rowsApplied == 1L)
    assert(table.read().select("text").as[String].collect().toSeq ==
      Seq("hello"))
  }

  test("a batch's registry events land as ONE schema commit plus its data") {
    val table = LakeTable.createTable(spark, tmpDir("evo-one-commit"),
      Schemas.transcript, nBuckets = 2)
    MergeApply.merge(table, v2(Seq(
      (1L, "I", "c1", 0, "a", "user", null))), 0L)
    val before = table.snapshot
    val r = MergeApply.merge(table, v2(Seq(
      (10L, "S", null, 0, """{"add":{"name":"score","type":"int"}}""", null, null),
      (11L, "S", null, 0, """{"widen":{"name":"score","type":"long"}}""", null, null),
      (12L, "S", null, 0, """{"widen":{"name":"score","type":"double"}}""", null, null),
      (13L, "I", "c2", 0, "b", "user", Map("score" -> "2.5")))), 1L)
    assert(r.applied && r.rowsApplied == 1L)
    val after = table.snapshot
    assert(after.schemas.size == before.schemas.size + 1)
    assert(after.version == before.version + 2) // the schema, then the data
    assert(after.userSchema("score").dataType == DoubleType)
    val got = table.read().select("conv_id", "score").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got == Map("c1" -> None, "c2" -> Some(2.5)))
  }

  test("registry application is idempotent under epoch redelivery") {
    val table = LakeTable.createTable(spark, tmpDir("evo-idem"),
      Schemas.transcript, nBuckets = 2)
    val b = v2(Seq(
      (1L, "S", null, 0, """{"add":{"name":"meta","type":"string"}}""", null, null),
      (2L, "I", "c1", 0, "x", "user", Map("meta" -> "m1"))))
    assert(MergeApply.merge(table, b, 0L).applied)
    val v = table.snapshot.version
    assert(!MergeApply.merge(table, b, 0L).applied) // same epoch: no-op
    assert(table.snapshot.version == v)
    // redelivered registry event in a NEW epoch: schema no-op, data LWW no-op
    MergeApply.merge(table, b, 1L)
    assert(table.snapshot.userSchema.fieldNames.count(_ == "meta") == 1)
    assert(table.read().count() == 1)
  }

  /** `body`'s result and the stage names of every Spark job it starts,
    * scoped by job group, with AQE off as in the replay pipeline (with
    * AQE on, the write's shuffle map stage runs as its own job). */
  private def jobsOf[T](group: String)(body: => T): (T, Seq[String]) = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        // scope by job group: the async listener bus can still deliver
        // straggler events from the warm-up writes
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          descs.add(js.stageInfos.map(_.name).mkString("[", "; ", "]"))
    }
    spark.sparkContext.addSparkListener(listener)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.sparkContext.setJobGroup(group, group)
      val out = try body
      finally {
        spark.sparkContext.clearJobGroup()
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
      }
      // listener bus is async: poll until the job count is stable
      var stableMs = 0
      while (stableMs < 500) {
        val last = descs.size; Thread.sleep(100)
        if (last == descs.size) stableMs += 100 else stableMs = 0
      }
      (out, descs.toArray.toSeq.map(_.toString))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("v2 batch without registry rows pays no schema-detection job") {
    val table = LakeTable.createTable(spark, tmpDir("evo-nojob"),
      Schemas.transcript, nBuckets = 2)
    val mor = MergeConfig(maxDeltaFilesPerBucket = 100)
    MergeApply.merge(table, v2(Seq(
      (1L, "I", "c1", 0, "a", "user", null))), 0L, mor)
    // a file-backed batch, as a feed is: over a local relation, Spark
    // answers a filter+collect on the driver without starting a job
    val feed = s"${tmpDir("evo-nojob-feed")}/batch"
    v2(Seq((2L, "I", "c1", 1, "b", "user", Map("x" -> "y"))))
      .write.parquet(feed)
    val batch = spark.read.parquet(feed)
    val (r, jobs) = jobsOf("probe-job-count") {
      MergeApply.merge(table, batch, 1L, mor)
    }
    assert(r.applied && r.rowsApplied == 1L)
    // the schema probe rides the delta-write action, so a v2 batch with
    // no op="S" rows runs exactly ONE job — the eager-detection shape
    // would have run a second (filter+collect) job
    assert(jobs.size == 1,
      s"expected 1 Spark job, saw ${jobs.size}: ${jobs.mkString(" | ")}")
  }

  test("replace applies an add-column registry event through the probe") {
    val table = LakeTable.createTable(spark, tmpDir("evo-replace"),
      Schemas.transcript, nBuckets = 2)
    MergeApply.merge(table, v2(Seq(
      (1L, "I", "c1", 0, "old", "user", null))), 0L)
    val r = MergeApply.replace(table, v2(Seq(
      (10L, "S", null, 0, """{"add":{"name":"score","type":"int"}}""", null, null),
      (11L, "I", "c2", 0, "scored", "user", Map("score" -> "42")))), 1L)
    assert(r.applied && r.rowsApplied == 1L)
    assert(table.snapshot.userSchema("score").dataType == IntegerType)
    assert(table.snapshot.files.nonEmpty &&
      table.snapshot.files.forall(_.kind == "base"))
    val got = table.read().select("conv_id", "turn_idx", "text", "score")
      .as[(String, Int, String, Int)].collect().toSet
    assert(got == Set(("c2", 0, "scored", 42)), "c1 is replaced away")
  }

  test("v2 replace without registry rows pays no schema-detection job") {
    val table = LakeTable.createTable(spark, tmpDir("evo-replace-nojob"),
      Schemas.transcript, nBuckets = 2)
    MergeApply.merge(table, v2(Seq(
      (1L, "I", "c1", 0, "a", "user", null))), 0L)
    // a file-backed batch, as a feed is: over a local relation, Spark
    // answers a filter+collect on the driver without starting a job
    val feed = s"${tmpDir("evo-replace-nojob-feed")}/batch"
    v2(Seq((2L, "I", "c2", 0, "b", "user", Map("x" -> "y"))))
      .write.parquet(feed)
    val batch = spark.read.parquet(feed)
    val (r, jobs) = jobsOf("replace-probe-job-count") {
      MergeApply.replace(table, batch, 1L)
    }
    assert(r.applied && r.rowsApplied == 1L)
    assert(table.read().select("conv_id").as[String].collect().toSeq ==
      Seq("c2"))
    // one job: the LWW-resolving write, with the probe riding it
    assert(jobs.size == 1,
      s"expected 1 Spark job, saw ${jobs.size}: ${jobs.mkString(" | ")}")
  }

  test("streaming pipeline applies registry events mid-feed from checkpoint") {
    val feed = tmpDir("evo-feed")
    def writeBatch(name: String, df: DataFrame): Unit = {
      val tmp = s"$feed/.tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val conf = spark.sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(tmp)
      val fs = p.getFileSystem(conf)
      val part = fs.listStatus(p)
        .find(_.getPath.getName.endsWith(".parquet")).get.getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$feed/$name.parquet"))
      fs.delete(p, true)
    }
    writeBatch("b0", v2(Seq(
      (1L, "I", "c1", 0, "t1", "user", null),
      (2L, "I", "c2", 0, "t2", "user", null))))
    writeBatch("b1", v2(Seq(
      (10L, "S", null, 0, """{"add":{"name":"score","type":"int"}}""", null, null),
      (11L, "U", "c1", 0, "t1v2", "user", Map("score" -> "3")))))

    val table = LakeTable.createTable(spark, tmpDir("evo-lt"),
      Schemas.transcript, nBuckets = 4)
    val cfg = PipelineConfig(checkpointDir = tmpDir("evo-ckpt"),
      maxFilesPerTrigger = 1, envelopeV2 = true)
    CdcPipeline.replayAvailable(spark, feed, table, cfg)
    assert(table.snapshot.userSchema.fieldNames.contains("score"))

    // a third batch arrives later; resume from checkpoint, values typed
    writeBatch("b2", v2(Seq(
      (20L, "I", "c3", 0, "t3", "user", Map("score" -> "8")))))
    CdcPipeline.replayAvailable(spark, feed, table, cfg)
    val got = table.read().select("conv_id", "text", "score")
      .collect().map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSet
    assert(got == Set(("c1", "t1v2", 3), ("c2", "t2", -1), ("c3", "t3", 8)))
  }
}
