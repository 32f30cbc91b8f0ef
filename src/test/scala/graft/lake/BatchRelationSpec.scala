package graft.lake

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

import graft.SparkSpec
import graft.cdc.MergeApply
import graft.gen.{ChangeLogGen, GenConfig}
import graft.model.Schemas

/** The batch read/write surface of the `graft-table` format:
  * spark.read/.write + SQL views, bucket pruning from SQL predicates,
  * time travel, metadata tables, SaveMode + idempotence contracts. */
class BatchRelationSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(nEvents = 4000L, nConvs = 60L, maxTurns = 8)

  private def seeded(prefix: String): (String, LakeTable) = {
    val dir = tmpDir(prefix)
    val t = LakeTable.createTable(spark, dir, Schemas.transcript, 4)
    MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, cfg), 0L)
    (dir, t)
  }

  private def canon(df: DataFrame): Seq[Row] =
    df.orderBy(Schemas.transcript.fieldNames.map(col).toSeq: _*).collect().toSeq

  test("batch read equals LakeTable.read, including under concurrent use") {
    val (dir, t) = seeded("br-eq")
    val got = spark.read.format("graft-table").load(dir)
    assert(got.schema == Schemas.transcript)
    assert(canon(got) == canon(t.read()))
  }

  test("conv_id predicates prune to bucket sets (unit) and stay exact (e2e)") {
    import GraftBatchRelation.convKeys
    assert(convKeys(Array(EqualTo("conv_id", "c1"))) == Some(Set("c1")))
    assert(convKeys(Array(In("conv_id", Array[Any]("a", "b")))) ==
      Some(Set("a", "b")))
    assert(convKeys(Array(
      Or(EqualTo("conv_id", "a"), EqualTo("conv_id", "b")))) ==
      Some(Set("a", "b")))
    // AND of two different equalities is a contradiction -> empty set
    assert(convKeys(Array(EqualTo("conv_id", "a"), EqualTo("conv_id", "b")))
      == Some(Set.empty[String]))
    // AND with an unrelated predicate keeps the restriction
    assert(convKeys(Array(
      And(EqualTo("conv_id", "a"), GreaterThan("turn_idx", 3)))) ==
      Some(Set("a")))
    // OR with an unrestricted side cannot bound the scan
    assert(convKeys(Array(
      Or(EqualTo("conv_id", "a"), GreaterThan("turn_idx", 3)))).isEmpty)

    // translate soundness under negation: And may be weakened to one
    // side only while UN-negated — Not of a weakened operand would be a
    // stronger-than-original filter that drops matching rows
    val sch = Schemas.transcript
    val weakenable = And(EqualTo("role", "user"),
      EqualTo("text", new Object)) // untranslatable literal
    assert(GraftBatchRelation.translate(weakenable, sch).isDefined)
    assert(GraftBatchRelation.translate(Not(weakenable), sch).isEmpty)
    assert(GraftBatchRelation.translate(
      Not(And(EqualTo("role", "user"), EqualTo("tool", "t"))), sch).isDefined)

    val (dir, t) = seeded("br-prune")
    val conv = t.read().select("conv_id").as[String].head()
    val rel = spark.read.format("graft-table").load(dir)
    assert(canon(rel.filter(col("conv_id") === conv)) ==
      canon(t.readConv(conv)))
    // contradiction executes as an empty scan, not an error
    assert(rel.filter(col("conv_id") === "a" && col("conv_id") === "b")
      .count() == 0)
    // non-key predicates still answer exactly (re-applied above the scan)
    assert(rel.filter(col("turn_idx") >= 4).count() ==
      t.read().filter(col("turn_idx") >= 4).count())
  }

  test("event-time lower bounds push into the zone-map tail read") {
    import GraftBatchRelation.tsLowerBoundMicros
    val v = Timestamp.valueOf("2026-01-20 00:00:00")
    val m = v.getTime / 1000L * 1000000L + v.getNanos / 1000L
    assert(tsLowerBoundMicros(Array(GreaterThan("ts", v)), "ts") == Some(m))
    assert(tsLowerBoundMicros(Array(GreaterThanOrEqual("ts", v)), "ts") ==
      Some(m - 1))
    assert(tsLowerBoundMicros(Array(EqualTo("ts", v)), "ts") == Some(m - 1))
    // AND takes the tighter bound; an unbounded conjunct doesn't block
    assert(tsLowerBoundMicros(Array(
      And(GreaterThan("ts", v), EqualTo("role", "user"))), "ts") == Some(m))
    // OR bounds only when both sides do (min); else no bound
    val earlier = Timestamp.valueOf("2026-01-10 00:00:00")
    val mE = earlier.getTime / 1000L * 1000000L
    assert(tsLowerBoundMicros(Array(
      Or(GreaterThan("ts", v), GreaterThan("ts", earlier))), "ts") ==
      Some(mE))
    assert(tsLowerBoundMicros(Array(
      Or(GreaterThan("ts", v), EqualTo("role", "user"))), "ts").isEmpty)
    assert(tsLowerBoundMicros(Array(GreaterThan("other", v)), "ts").isEmpty)

    // e2e: the pushed plan answers exactly like the brute filter
    val (dir, t) = seeded("br-ts")
    val mid = t.read().selectExpr("percentile(unix_micros(ts), 0.5)")
      .as[Double].head().toLong
    val midTs = new Timestamp(mid / 1000L)
    val rel = spark.read.format("graft-table").load(dir)
    assert(rel.filter(col("ts") > lit(midTs)).count() ==
      t.read().filter(col("ts") > lit(midTs)).count())
    assert(rel.filter(col("ts") >= lit(midTs)).count() ==
      t.read().filter(col("ts") >= lit(midTs)).count())
  }

  test("key predicates reach the parquet scan through the LWW window") {
    // the in-plan filter story the relation relies on: a conv_id
    // predicate pushes through the LWW window (partitioned by conv_id)
    // down to the parquet scan, engaging row-group stats and blooms
    val (_, t) = seeded("br-push")
    val conv = t.read().select("conv_id").as[String].head()
    val plan = t.read().filter(col("conv_id") === conv)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains(s"EqualTo(conv_id,$conv)"),
      s"conv_id equality did not reach the scan:\n$plan")
  }

  test("time travel: at = version or tag pins the whole relation") {
    val (dir, t) = seeded("br-travel")
    val v1 = t.snapshot.version
    t.tag("release-1")
    val extra = Seq((9000000L, "I", "travel-conv", 0, "user", "late row",
      null: String, Timestamp.valueOf("2026-03-01 00:00:00")))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeApply.merge(t, extra, 1L)
    def readAt(ref: String) = spark.read.format("graft-table")
      .option("at", ref).load(dir)
    assert(readAt(v1.toString).count() == t.read(Some(v1)).count())
    assert(canon(readAt("release-1")) == canon(t.read(Some(v1))))
    assert(readAt("release-1").filter(col("conv_id") === "travel-conv")
      .count() == 0)
    assert(spark.read.format("graft-table").load(dir)
      .filter(col("conv_id") === "travel-conv").count() == 1)
  }

  test("meta tables: lineage, files, tags") {
    val (dir, t) = seeded("br-meta")
    val tagged = t.snapshot.version // the tag commit itself bumps version
    t.tag("r1")
    def meta(m: String) = spark.read.format("graft-table")
      .option("meta", m).load(dir)
    val lin = meta("lineage")
    assert(lin.count() >= 1)
    assert(lin.columns.contains("epochId") || lin.columns.contains("epoch_id"))
    val files = meta("files")
    assert(files.count() == t.snapshot.files.size)
    assert(files.select("bucket").distinct().as[Int].collect().toSet
      .subsetOf((0 until 4).toSet))
    assert(files.filter(col("max_lsn") >= 0).count() > 0)
    val tags = meta("tags").as[(String, Long)].collect().toMap
    assert(tags == Map("r1" -> tagged))
    intercept[IllegalArgumentException] {
      meta("nope").count()
    }
    // at applies only to the snapshot-shaped files table — silently
    // ignoring it on lineage/tags would misreport a time-traveled read
    intercept[IllegalArgumentException] {
      spark.read.format("graft-table").option("meta", "tags")
        .option("at", "r1").load(dir).count()
    }
    val pinned = spark.read.format("graft-table").option("meta", "files")
      .option("at", "r1").load(dir)
    assert(pinned.count() == t.snapshotAt(tagged).files.size)
    assert(pinned.columns.toSeq == Seq("path", "bucket", "rows", "kind",
      "schema_version", "min_lsn", "max_lsn", "added_v", "fold", "min_ts",
      "max_ts", "ts_col"))
  }

  test("plain SQL over a graft-table view, with key pushdown") {
    val (dir, t) = seeded("br-sql")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW lake_sql_v " +
      s"USING `graft-table` OPTIONS (path '$dir')")
    val conv = t.read().select("conv_id").as[String].head()
    val got = spark.sql(
      s"SELECT turn_idx, role, text FROM lake_sql_v WHERE conv_id = '$conv' " +
        "ORDER BY turn_idx")
    val want = t.readConv(conv).select("turn_idx", "role", "text")
      .orderBy("turn_idx")
    assert(got.collect().toSeq == want.collect().toSeq)
    // aggregate over the empty-projection scan path
    assert(spark.sql("SELECT count(*) FROM lake_sql_v").as[Long].head() ==
      t.read().count())
  }

  test("SQL INSERT INTO / OVERWRITE a graft-table view; CTAS; pinned views read-only") {
    val (dir, t) = seeded("br-ins")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW lake_ins_v " +
      s"USING `graft-table` OPTIONS (path '$dir')")
    val before = t.read().count()
    spark.sql("INSERT INTO lake_ins_v VALUES " +
      "('ins-conv', 0, 'user', 'via sql', NULL, TIMESTAMP'2026-03-08 00:00:00')")
    assert(t.read().count() == before + 1)
    assert(spark.sql(
      "SELECT text FROM lake_ins_v WHERE conv_id = 'ins-conv'")
      .as[String].head() == "via sql")
    // CTAS through the provider: a second lake table from a query
    val dir2 = tmpDir("br-ctas")
    spark.sql("DROP TABLE IF EXISTS ctas_t")
    spark.sql(s"CREATE TABLE ctas_t USING `graft-table` " +
      s"OPTIONS (path '$dir2', nBuckets '2') AS " +
      "SELECT * FROM lake_ins_v WHERE conv_id = 'ins-conv'")
    val t2 = LakeTable.load(spark, dir2)
    assert(t2.exists && t2.snapshot.nBuckets == 2)
    assert(t2.read().select("text").as[String].collect().toSeq ==
      Seq("via sql"))
    spark.sql("DROP TABLE ctas_t")
    // INSERT OVERWRITE = the atomic whole-table replace
    spark.sql("INSERT OVERWRITE lake_ins_v VALUES " +
      "('only-conv', 0, 'user', 'wiped', NULL, TIMESTAMP'2026-03-08 00:00:01')")
    assert(t.read().select("conv_id").as[String].collect().toSeq ==
      Seq("only-conv"))
    // an at-pinned release view refuses writes
    t.tag("frozen")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW lake_frozen_v " +
      s"USING `graft-table` OPTIONS (path '$dir', at 'frozen')")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO lake_frozen_v VALUES " +
        "('x', 0, 'user', 'no', NULL, TIMESTAMP'2026-03-08 00:00:02')")
    }
    assert(e.getMessage.contains("frozen release"))
    // a view's declared write OPTIONS travel with SQL INSERT: the
    // txnAppId/batchId idempotence pair makes the second INSERT a no-op
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW lake_idem_v " +
      s"USING `graft-table` OPTIONS (path '$dir', " +
      "txnAppId 'sql-load', batchId '9')")
    val n0 = t.read().count()
    spark.sql("INSERT INTO lake_idem_v VALUES " +
      "('sql-idem', 0, 'user', 'once', NULL, TIMESTAMP'2026-03-08 00:00:03')")
    spark.sql("INSERT INTO lake_idem_v VALUES " +
      "('sql-idem-2', 0, 'user', 'never lands', NULL, " +
      "TIMESTAMP'2026-03-08 00:00:04')")
    assert(t.read().count() == n0 + 1)
    assert(t.read().filter(col("conv_id") === "sql-idem-2").count() == 0)
  }

  test("incremental batch reads: sinceLsn envelope and changesFrom CDF") {
    val (dir, t) = seeded("br-incr")
    t.tag("r1")
    val v1 = t.tags("r1")
    val high = t.highLsn(t.snapshot)
    val conv = t.read().select("conv_id").as[String].head()
    val victimTurn = t.readConv(conv).select("turn_idx").as[Int].head()
    MergeApply.merge(t, Seq(
      (high + 1, "U", conv, victimTurn, "assistant", "CHANGED",
        null: String, Timestamp.valueOf("2026-03-09 00:00:00")),
      (high + 2, "I", "incr-conv", 0, "user", "added", null: String,
        Timestamp.valueOf("2026-03-09 00:00:01")))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"),
      1L)

    // envelope read past the LSN cut — equals the library call
    val since = spark.read.format("graft-table")
      .option("sinceLsn", high.toString).load(dir)
    assert(since.columns.contains("__lsn") && since.columns.contains("__op"))
    assert(since.select("conv_id", "text").as[(String, String)]
      .collect().toSet ==
      t.readSince(high).select("conv_id", "text").as[(String, String)]
        .collect().toSet)
    assert(since.count() == 2)

    // CDF between a TAG and now: one update (pre+post) and one insert
    val feed = spark.read.format("graft-table")
      .option("changesFrom", "r1").load(dir)
    val types = feed.select("_change_type").as[String].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(types == Map("update_preimage" -> 1, "update_postimage" -> 1,
      "insert" -> 1))
    assert(feed.collect().toSet ==
      t.changeFeed(v1).collect().toSet)

    // explicit empty window and option exclusivity
    assert(spark.read.format("graft-table").option("changesFrom", "r1")
      .option("changesTo", v1.toString).load(dir).count() == 0)
    intercept[IllegalArgumentException] {
      spark.read.format("graft-table").option("sinceLsn", "0")
        .option("changesFrom", "r1").load(dir)
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft-table").option("changesTo", "1").load(dir)
    }
  }

  test("plain-row batch write: auto-LSN inserts that replace their keys") {
    val (dir, t) = seeded("br-write")
    val conv = t.read().select("conv_id").as[String].head()
    val before = t.read().count()
    val existingTurn = t.readConv(conv).select("turn_idx").as[Int].head()
    val rows = Seq(
      (conv, existingTurn, "assistant", "REWRITTEN", null: String,
        Timestamp.valueOf("2026-03-02 00:00:00")),
      ("brand-new-conv", 0, "user", "fresh", null: String,
        Timestamp.valueOf("2026-03-02 00:00:01")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    rows.write.format("graft-table").mode(SaveMode.Append).save(dir)
    val after = spark.read.format("graft-table").load(dir)
    assert(after.count() == before + 1) // one replaced, one new
    assert(after.filter(col("conv_id") === conv &&
      col("turn_idx") === existingTurn).select("text").as[String].head() ==
      "REWRITTEN")
    assert(after.filter(col("conv_id") === "brand-new-conv").count() == 1)
  }

  test("envelope batch write: upsert merges, deletes apply") {
    val (dir, t) = seeded("br-env")
    val conv = t.read().select("conv_id").as[String].head()
    val victim = t.readConv(conv).select("turn_idx").as[Int].head()
    val high = t.highLsn(t.snapshot)
    val env = Seq(
      (high + 1, "D", conv, victim, null: String, null: String,
        null: String, null: Timestamp))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    env.write.format("graft-table").mode(SaveMode.Append).save(dir)
    assert(spark.read.format("graft-table").load(dir)
      .filter(col("conv_id") === conv && col("turn_idx") === victim)
      .count() == 0)

    // a v2 envelope creates a missing table from its data columns only:
    // `extras` is transport, never a table column
    val fresh = tmpDir("br-env-new")
    Seq((1L, "I", "n1", 0, "user", "hi", null: String,
      Timestamp.valueOf("2026-03-02 00:00:00"), Map("score" -> "3")))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "extras")
      .write.format("graft-table").save(fresh)
    val created = LakeTable.load(spark, fresh)
    assert(!created.snapshot.userSchema.fieldNames.contains("extras"))
    assert(created.read().select("conv_id", "text").as[(String, String)]
      .collect().toSeq == Seq(("n1", "hi")))
  }

  test("SaveMode contract: create, overwrite, errorIfExists, ignore") {
    val dir = tmpDir("br-mode")
    val rows = Seq(("c1", 0, "user", "hello", null: String,
      Timestamp.valueOf("2026-03-03 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    // create-on-first-write with explicit layout
    rows.write.format("graft-table").option("nBuckets", "2")
      .mode(SaveMode.Append).save(dir)
    val t = LakeTable.load(spark, dir)
    assert(t.exists && t.snapshot.nBuckets == 2)
    assert(t.read().count() == 1)
    intercept[IllegalArgumentException] {
      rows.write.format("graft-table").mode(SaveMode.ErrorIfExists).save(dir)
    }
    rows.write.format("graft-table").mode(SaveMode.Ignore).save(dir)
    assert(t.read().count() == 1)
    val repl = Seq(("c2", 0, "user", "replaced", null: String,
      Timestamp.valueOf("2026-03-03 00:00:01")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val vBefore = t.snapshot.version
    repl.write.format("graft-table").mode(SaveMode.Overwrite).save(dir)
    assert(t.read().select("conv_id").as[String].collect().toSeq ==
      Seq("c2"))
    // overwrite preserved schema + layout (wipe_data) and was ONE
    // atomic commit — no intermediate empty-table state ever published
    assert(t.snapshot.nBuckets == 2)
    assert(t.snapshot.version == vBefore + 1)
  }

  test("half-envelope and lone-batchId inputs are rejected, not clobbered") {
    val dir = tmpDir("br-guard")
    val half = Seq(("c1", 0, "user", "x", null: String,
      Timestamp.valueOf("2026-03-05 00:00:00"), 42L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn")
    intercept[IllegalArgumentException] {
      half.write.format("graft-table").mode(SaveMode.Append).save(dir)
    }
    val rows = half.drop("lsn")
    intercept[IllegalArgumentException] {
      rows.write.format("graft-table").option("batchId", "3")
        .mode(SaveMode.Append).save(dir)
    }
    // nothing was created by the failed writes
    assert(!LakeTable.load(spark, dir).exists)
    // a bad option on an Overwrite fails BEFORE touching the table — the
    // retired `method` is an unknown key (every write merges)
    rows.write.format("graft-table").mode(SaveMode.Append).save(dir)
    val t = LakeTable.load(spark, dir)
    val e = intercept[IllegalArgumentException] {
      rows.write.format("graft-table").option("method", "upsert")
        .mode(SaveMode.Overwrite).save(dir)
    }
    assert(e.getMessage.toLowerCase.contains("unknown graft-table write option"))
    assert(t.read().count() == 1)
  }

  test("plain-row appends past the compaction threshold fold their delta files") {
    val dir = tmpDir("br-debt")
    val max = graft.cdc.MergeConfig().maxDeltaFilesPerBucket
    val n = max + 4
    (1 to n).foreach { i =>
      (0 until 6).map(k => (s"d$k", 0, "user", s"v$i", null: String,
        Timestamp.valueOf("2026-03-12 00:00:00")))
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .write.format("graft-table").option("nBuckets", "2")
        .mode(SaveMode.Append).save(dir)
    }
    val t = LakeTable.load(spark, dir)
    val deltas = t.snapshot.files.filter(_.kind == "delta")
      .groupBy(_.bucket).map { case (b, fs) => b -> fs.size }
    assert(deltas.values.forall(_ <= max),
      s"delta files per bucket after $n appends: $deltas")
    val got = t.read().select("conv_id", "text").as[(String, String)]
      .collect().toSet
    assert(got == (0 until 6).map(k => (s"d$k", s"v$n")).toSet)
  }

  test("replayed (txnAppId, batchId) Overwrite is a no-op with data intact") {
    val dir = tmpDir("br-ow-idem")
    val seedRows = Seq(("c1", 0, "user", "v1", null: String,
      Timestamp.valueOf("2026-03-06 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    seedRows.write.format("graft-table").mode(SaveMode.Append).save(dir)
    val repl = Seq(("c2", 0, "user", "v2", null: String,
      Timestamp.valueOf("2026-03-06 00:00:01")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    def overwrite(): Unit = repl.write.format("graft-table")
      .option("txnAppId", "ow-job").option("batchId", "1")
      .mode(SaveMode.Overwrite).save(dir)
    overwrite()
    val t = LakeTable.load(spark, dir)
    assert(t.read().select("text").as[String].collect().toSeq == Seq("v2"))
    val v = t.snapshot.version
    // the orchestrator retries the same (appId, batchId): the guard
    // sits INSIDE the atomic replace commit, so nothing is destroyed
    overwrite()
    assert(t.snapshot.version == v)
    assert(t.read().select("text").as[String].collect().toSeq == Seq("v2"))
  }

  test("a graft-table SQL view stays fresh across commits") {
    val (dir, t) = seeded("br-fresh")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW lake_fresh_v " +
      s"USING `graft-table` OPTIONS (path '$dir')")
    val before = spark.sql("SELECT count(*) FROM lake_fresh_v")
      .as[Long].head()
    val extra = Seq(("fresh-conv", 0, "user", "new row", null: String,
      Timestamp.valueOf("2026-03-07 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    extra.write.format("graft-table").mode(SaveMode.Append).save(dir)
    // the view's relation instance re-resolves the snapshot per scan
    assert(spark.sql("SELECT count(*) FROM lake_fresh_v").as[Long].head()
      == before + 1)
    // an at-pinned read stays frozen by contract
    assert(t.read().count() == before + 1)
  }

  test("a live view falls back to the pinned snapshot after schema evolution — and warns") {
    val (dir, _) = seeded("br-stale")
    val sqlCtx = spark.sqlContext
    val rel = new GraftBatchRelation(sqlCtx, dir, at = None)
    assert(rel.sizeInBytes > 0) // a scanSnap() call on the live path
    assert(rel.staleFallbacks.get() == 0,
      "warning fired without schema evolution")
    // evolve the schema under the live relation
    val t = LakeTable.load(spark, dir)
    t.evolveSchema(org.apache.spark.sql.types.StructType(
      Schemas.transcript.fields :+ org.apache.spark.sql.types.StructField(
        "stale_extra", org.apache.spark.sql.types.StringType)))
    assert(rel.sizeInBytes > 0) // now served from the stale pinned snap
    assert(rel.staleFallbacks.get() == 1,
      "stale-pinned fallback did not warn exactly once for one scan")
    // at-pinned relations are frozen by contract: no warning
    val pinned = new GraftBatchRelation(sqlCtx, dir, at = Some("1"))
    assert(pinned.sizeInBytes > 0)
    assert(pinned.staleFallbacks.get() == 0)
  }

  test("unknown write option keys are rejected before any state change") {
    val dir = tmpDir("br-badkey")
    val rows = Seq(("k1", 0, "user", "v1", null: String,
      Timestamp.valueOf("2026-03-11 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    // a misspelled KEY must error, not silently apply the default
    val e = intercept[IllegalArgumentException] {
      rows.write.format("graft-table").option("invalidRow", "off")
        .mode(SaveMode.Append).save(dir)
    }
    assert(e.getMessage.toLowerCase.contains("invalidrow"))
    // so must a retired one: there is one write path, no write mode
    val e1 = intercept[IllegalArgumentException] {
      rows.write.format("graft-table").option("writeMode", "cow")
        .mode(SaveMode.Append).save(dir)
    }
    assert(e1.getMessage.toLowerCase.contains("unknown graft-table write option"))
    assert(e1.getMessage.toLowerCase.contains("writemode"))
    val e2 = intercept[IllegalArgumentException] {
      rows.write.format("graft-table").option("mergeShema", "true")
        .mode(SaveMode.Append).save(dir)
    }
    // DSv1 delivers option keys case-folded; the message names the key
    // in the spelling we received
    assert(e2.getMessage.toLowerCase.contains("mergeshema"))
    // nothing was created by the failed writes
    assert(!LakeTable.load(spark, dir).exists)
    // correctly-spelled options still work (case-insensitive match)
    rows.write.format("graft-table").option("invalidRows", "fail")
      .mode(SaveMode.Append).save(dir)
    assert(LakeTable.load(spark, dir).read().count() == 1)
  }

  test("mergeSchema evolves on write; unknown columns without it fail loud") {
    val dir = tmpDir("br-evolve")
    val rows = Seq(("e1", 0, "user", "v1", null: String,
      Timestamp.valueOf("2026-03-10 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    rows.write.format("graft-table").mode(SaveMode.Append).save(dir)
    val t = LakeTable.load(spark, dir)
    val withMeta = Seq(("e2", 0, "user", "v2", null: String,
      Timestamp.valueOf("2026-03-10 00:00:01"), "m-2"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "meta")
    // without the flag: loud failure, nothing written, nothing dropped
    val e = intercept[IllegalArgumentException] {
      withMeta.write.format("graft-table").mode(SaveMode.Append).save(dir)
    }
    assert(e.getMessage.contains("mergeSchema"))
    assert(t.read().count() == 1)
    // with it: column added, old rows read back null, new value lands
    withMeta.write.format("graft-table").option("mergeSchema", "true")
      .mode(SaveMode.Append).save(dir)
    assert(t.snapshot.userSchema.fieldNames.contains("meta"))
    assert(t.read().filter(col("conv_id") === "e1")
      .select("meta").as[String].head() == null)
    assert(t.read().filter(col("conv_id") === "e2")
      .select("meta").as[String].head() == "m-2")
    // widening: turn_idx int -> long via a long-typed write; the whole
    // evolution (widen) is ONE schema commit, then one data commit
    val vPre = t.snapshot.version
    val widened = Seq(("e3", 5L, "user", "v3", null: String,
      Timestamp.valueOf("2026-03-10 00:00:02"), "m-3"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "meta")
    widened.write.format("graft-table").option("mergeSchema", "true")
      .mode(SaveMode.Append).save(dir)
    assert(t.snapshot.userSchema("turn_idx").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(t.read().count() == 3)
    assert(t.snapshot.version == vPre + 2, "one schema + one data commit")

    // a case-variant spelling maps onto the existing column — never a
    // duplicate, never a silent null-fill of the canonical one
    val variant = Seq(("e4", 0L, "user", "v4", null: String,
      Timestamp.valueOf("2026-03-10 00:00:03"), "m-4"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "Meta")
    variant.write.format("graft-table").option("mergeSchema", "true")
      .mode(SaveMode.Append).save(dir)
    assert(t.snapshot.userSchema.fieldNames.count(
      _.equalsIgnoreCase("meta")) == 1)
    assert(t.read().filter(col("conv_id") === "e4")
      .select("meta").as[String].head() == "m-4")

    // an incompatible type change fails loud even under mergeSchema
    val bad = Seq(("e5", 0L, "user", "v5", null: String,
      Timestamp.valueOf("2026-03-10 00:00:04"), 42))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "meta")
    val e2 = intercept[IllegalArgumentException] {
      bad.write.format("graft-table").option("mergeSchema", "true")
        .mode(SaveMode.Append).save(dir)
    }
    assert(e2.getMessage.contains("incompatible type change"))

    // "extras" is transport, not data: mergeSchema must not materialize
    // the envelope channel as a table column
    val envExtras = Seq((1000000L, "I", "e6", 0L, "user", "v6",
      null: String, Timestamp.valueOf("2026-03-10 00:00:05"),
      Map.empty[String, String]))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool",
        "ts", "extras")
    envExtras.write.format("graft-table").option("mergeSchema", "true")
      .mode(SaveMode.Append).save(dir)
    assert(!t.snapshot.userSchema.fieldNames.contains("extras"))
    assert(t.read().filter(col("conv_id") === "e6").count() == 1)

    // without mergeSchema the same rule checks types and letter case: an
    // int onto the long turn_idx is absorbed, and `META` lands in `meta`
    Seq(("e7", 1, "user", "v7", null: String,
      Timestamp.valueOf("2026-03-10 00:00:06"), "m-7"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "META")
      .write.format("graft-table").mode(SaveMode.Append).save(dir)
    assert(t.snapshot.userSchema.fieldNames.count(
      _.equalsIgnoreCase("meta")) == 1)
    assert(t.read().filter(col("conv_id") === "e7")
      .select("turn_idx", "meta").as[(Long, String)].head() == ((1L, "m-7")))
    // an int onto a boolean column fails before any commit, through
    // df.write and through INSERT INTO a view that still declares the int
    // it was created with
    Seq(("e8", 0L, "user", "v8", null: String,
      Timestamp.valueOf("2026-03-10 00:00:07"), "m-8", 1))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "meta", "flag")
      .write.format("graft-table").option("mergeSchema", "true")
      .mode(SaveMode.Append).save(dir)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW lake_fit_v " +
      s"USING `graft-table` OPTIONS (path '$dir')")
    t.replaceSchema(org.apache.spark.sql.types.StructType(
      t.snapshot.userSchema.map(f =>
        if (f.name == "flag")
          f.copy(dataType = org.apache.spark.sql.types.BooleanType)
        else f)))
    val vFit = t.snapshot.version
    val e3 = intercept[IllegalArgumentException] {
      Seq(("e9", 0L, "user", "v9", null: String,
        Timestamp.valueOf("2026-03-10 00:00:08"), "m-9", 1))
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "meta",
          "flag")
        .write.format("graft-table").mode(SaveMode.Append).save(dir)
    }
    assert(e3.getMessage.contains("incompatible type change for column flag"))
    val e4 = intercept[IllegalArgumentException] {
      spark.sql("INSERT INTO lake_fit_v VALUES ('e10', 0, 'user', 'v10', " +
        "NULL, TIMESTAMP'2026-03-10 00:00:09', 'm-10', 1)")
    }
    assert(e4.getMessage.contains("incompatible type change for column flag"))
    assert(t.snapshot.version == vFit)
    assert(t.read().count() == 0)
  }

  test("txnAppId + batchId makes batch-write re-runs no-ops") {
    val dir = tmpDir("br-idem")
    val rows = Seq(("c1", 0, "user", "once", null: String,
      Timestamp.valueOf("2026-03-04 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    def run(): Unit = rows.write.format("graft-table")
      .option("txnAppId", "nightly-load").option("batchId", "7")
      .mode(SaveMode.Append).save(dir)
    run(); run()
    val t = LakeTable.load(spark, dir)
    assert(t.read().count() == 1)
    // anonymous writes DO re-apply (a write is a user action): the same
    // key written again lands as a newer LSN version, count unchanged,
    // but a new commit exists
    val v = t.snapshot.version
    rows.write.format("graft-table").mode(SaveMode.Append).save(dir)
    assert(t.snapshot.version > v)
    assert(t.read().count() == 1)
  }
}
