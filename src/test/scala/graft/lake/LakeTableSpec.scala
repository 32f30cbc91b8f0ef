package graft.lake

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cdc.{MergeApply, MergeConfig}
import graft.gen.{ChangeLogGen, GenConfig}
import graft.model.Schemas

class LakeTableSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(nEvents = 5000L, nConvs = 100L, maxTurns = 10)
  private def freshTable(n: Int = 4): LakeTable = {
    val t = LakeTable.createTable(spark, tmpDir("lt"), Schemas.transcript, n)
    MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, cfg), 0L)
    t
  }

  test("a snapshot whose txn slot lacks batch or v fails loudly") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val t = LakeTable.createTable(spark, tmpDir("lt-txnslot"),
      Schemas.transcript, 4)
    MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, cfg).limit(100), 0L,
      MergeConfig(txnApp = Some("w")))
    assert(t.snapshot.txns.contains("w"))
    val f = java.nio.file.Paths.get(s"${t.dir}/_snapshots",
      f"v${t.snapshot.version}%012d.json")
    val good = JsonMethods.parse(java.nio.file.Files.readString(f))
    def withSlot(fix: JValue => JValue): JValue = good.transformField {
      case ("txns", JObject(slots)) =>
        ("txns", JObject(slots.map { case (k, v) => (k, fix(v)) }))
    }
    def drop(field: String): JValue => JValue = {
      case JObject(fs) => JObject(fs.filterNot(_._1 == field))
      case other => other
    }
    // a bare batch number: the form no released build writes
    val bare: JValue => JValue = {
      case JObject(fs) => fs.toMap.getOrElse("batch", JNothing)
      case other => other
    }
    Seq(drop("v"), drop("batch"), bare).foreach { fix =>
      java.nio.file.Files.writeString(f, JsonMethods.compact(withSlot(fix)))
      intercept[IllegalStateException](t.snapshot)
    }
  }

  test("truncate keeps schema and column docs (wipe_data semantics)") {
    val dir = tmpDir("lt-trunc")
    val t = LakeTable.createTable(spark, dir, Schemas.transcript, 4,
      columnDocs = Map("text" -> "turn text", "ts" -> "event time"))
    MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, cfg), 0L)
    assert(t.read().count() > 0)
    t.truncate()
    assert(t.read().count() == 0)
    assert(t.snapshot.userSchema == Schemas.transcript)
    assert(t.snapshot.columnDocs("text") == "turn text")
  }

  test("replaceSchema keeps docs of surviving columns (migrate_schema)") {
    val dir = tmpDir("lt-repl")
    val t = LakeTable.createTable(spark, dir, Schemas.transcript, 4,
      columnDocs = Map("text" -> "turn text", "tool" -> "tool name"))
    val newSchema = StructType(Schemas.transcript.fields.filterNot(_.name == "tool"))
    t.replaceSchema(newSchema)
    assert(t.snapshot.userSchema == newSchema)
    assert(t.snapshot.columnDocs == Map("text" -> "turn text"))
    assert(t.read().count() == 0)
  }

  test("addColumn: old files project with nulls, new writes carry it") {
    val t = freshTable()
    val before = t.read().count()
    t.evolveSchema(StructType(Seq(StructField("meta", StringType))),
      docs = Map("meta" -> "free-form metadata"))
    assert(t.read().columns.contains("meta"))
    assert(t.read().filter(col("meta").isNotNull).count() == 0)
    assert(t.read().count() == before)
    assert(t.snapshot.columnDocs("meta") == "free-form metadata")
    // a post-evolution batch writes the new column; old rows stay null
    val ts = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")
    val b = Seq((9999999L, "I", "evolved", 0, "user", "hi", null: String, ts, "m1"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts", "meta")
    MergeApply.merge(t, b, 1L)
    val got = t.read().filter(col("conv_id") === "evolved")
      .select("meta").as[String].collect()
    assert(got.toSeq == Seq("m1"))
    assert(t.read().count() == before + 1)
  }

  test("evolveSchema widens int->long: old files read upcast") {
    val t = freshTable()
    val before = t.read().agg(sum(col("turn_idx"))).as[Long].head()
    t.evolveSchema(StructType(Seq(StructField("turn_idx", LongType))))
    assert(t.snapshot.userSchema("turn_idx").dataType == LongType)
    val after = t.read().agg(sum(col("turn_idx"))).as[Long].head()
    assert(before == after)
    // a narrower incoming type commits nothing; an incompatible one throws
    val v = t.snapshot.version
    t.evolveSchema(StructType(Seq(StructField("turn_idx", IntegerType))))
    assert(t.snapshot.version == v)
    assert(t.snapshot.userSchema("turn_idx").dataType == LongType)
    intercept[IllegalArgumentException] {
      t.evolveSchema(StructType(Seq(StructField("turn_idx", StringType))))
    }
    assert(t.snapshot.version == v)
  }

  test("an empty arrival window plans as a provably empty relation") {
    val t = freshTable()
    val df = t.arrivalsSince(t.snapshot.version)
    val plan = df.queryExecution.optimizedPlan
    // an empty-RDD frame survives optimization as a LogicalRDD scan;
    // an empty local relation lets PropagateEmptyRelation drop it
    assert(plan.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r }.isEmpty, plan)
    assert(df.count() == 0L)
    assert(df.columns.toSeq == t.readFiles(t.snapshot, t.snapshot.files).columns.toSeq)
  }

  test("time travel: old snapshot versions stay readable") {
    val t = freshTable()
    val v1 = t.snapshot.version
    val c1 = t.read().count()
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val b = Seq((8888888L, "I", "zz_new", 0, "user", "x", null: String, ts))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeApply.merge(t, b, 1L)
    assert(t.read().count() == c1 + 1)
    assert(t.read(asOf = Some(v1)).count() == c1)
  }

  test("a merge registers new files without rewriting existing ones") {
    val dir = tmpDir("lt-append")
    val t = LakeTable.createTable(spark, dir, Schemas.transcript, 4)
    MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, cfg)
      .filter(col("op") =!= "D"), 0L)
    val files1 = t.snapshot.files.map(_.path).toSet
    MergeApply.merge(t, Seq((123456789L, "I", "apnd", 0, "user", "x",
      null: String, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"), 1L)
    val files2 = t.snapshot.files.map(_.path).toSet
    assert(files1.subsetOf(files2) && files2.size > files1.size)
  }

  test("manifest row counts match data") {
    val t = freshTable()
    val manifestRows = t.snapshot.files.map(_.rows).sum
    assert(manifestRows == t.readFiles(t.snapshot, t.snapshot.files).count())
  }

  test("vacuum expires old snapshots and deletes unreferenced files") {
    val dir = tmpDir("lt-vacuum")
    val t = LakeTable.createTable(spark, dir, Schemas.transcript, 4)
    // 3 merges over the same keys, each compacted -> each fold replaces
    // the previous files
    (0 to 2).foreach { e =>
      MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, cfg).limit(2000),
        e.toLong)
      MergeApply.compactBuckets(t, (0 until 4).toSet)
    }
    val preCount = t.read().count()
    val vOld = t.snapshot.version - 2
    assert(t.read(asOf = Some(vOld)).count() >= 0) // time travel works pre-vacuum
    val allDataFiles = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sessionState.newHadoopConf())
      def walk(p: java.io.File): Seq[java.io.File] =
        if (p.isDirectory) p.listFiles().toSeq.flatMap(walk) else Seq(p)
      walk(new java.io.File(s"$dir/data")).filter(_.getName.endsWith(".parquet"))
    }
    val live = t.snapshot.files.map(_.path).toSet
    assert(allDataFiles.size > live.size) // replaced bytes still on disk
    val (expired, deleted) = t.vacuum(keepSnapshots = 1)
    assert(expired > 0 && deleted > 0)
    // current state untouched; all remaining bytes are referenced
    assert(t.read().count() == preCount)
    val afterFiles = {
      def walk(p: java.io.File): Seq[java.io.File] =
        if (p.isDirectory) p.listFiles().toSeq.flatMap(walk) else Seq(p)
      walk(new java.io.File(s"$dir/data")).filter(_.getName.endsWith(".parquet"))
    }
    assert(afterFiles.map("file:" + _.getAbsolutePath).toSet
      .subsetOf(live.map(p => if (p.startsWith("file:")) p else "file:" + p)))
    // expired versions are gone
    intercept[Exception] { t.snapshotAt(vOld) }
    // lineage mirror (audit log) survives vacuum
    assert(t.lineageTable.count() >= 3)
  }

  test("vacuumOrphans removes uncommitted crash leftovers, never live data") {
    val dir = tmpDir("lt-orphans")
    val t = LakeTable.createTable(spark, dir, Schemas.transcript, 4)
    MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, cfg), 0L)
    val preCount = t.read().count()
    // plant an orphan commit dir, as a crash between write and commit
    // (or an interrupted schema-probe discard) would leave behind
    val hfs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val src = new org.apache.hadoop.fs.Path(t.snapshot.files.head.path)
    val orphan = new org.apache.hadoop.fs.Path(
      s"$dir/data/commit-99-orphan/__bucket=0/part-orphan.parquet")
    org.apache.hadoop.fs.FileUtil.copy(hfs, src, hfs, orphan, false,
      spark.sessionState.newHadoopConf())
    val old = System.currentTimeMillis() - 7200000L
    hfs.setTimes(orphan, old, old)
    hfs.setTimes(orphan.getParent, old, old)
    hfs.setTimes(orphan.getParent.getParent, old, old)
    // a YOUNG orphan survives the grace window ...
    assert(t.vacuumOrphans(graceMs = 24L * 3600000L) == 0)
    // ... an old one is reclaimed; live data is untouched
    assert(t.vacuumOrphans(graceMs = 3600000L) == 1)
    assert(!hfs.exists(orphan.getParent.getParent))
    assert(t.read().count() == preCount)
    assert(t.snapshot.files.forall(f =>
      hfs.exists(new org.apache.hadoop.fs.Path(f.path))))
  }

  test("watermark.column property drives the time-gap incremental pull") {
    import graft.spec.TimeField
    val dir = tmpDir("lt-wm")
    val t = LakeTable.createTable(spark, dir, Schemas.transcript, 4,
      properties = Map(TimeField.WatermarkColumn -> "ts"))
    assert(t.snapshot.properties.get(TimeField.WatermarkColumn).contains("ts"))
    def ev(lsn: Long, conv: String, day: Int) =
      (lsn, "I", conv, 0, "user", "x", null: String,
        java.sql.Timestamp.valueOf(f"2026-01-$day%02d 12:00:00"))
    MergeApply.merge(t, Seq(ev(1, "old", 1), ev(2, "mid", 20),
      ev(3, "new", 25)).toDF(
      "lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"), 0L)
    // max ts = Jan 25; 7-day gap keeps Jan 20 + Jan 25, drops Jan 1
    val tail = t.incrementalTail(7).select("conv_id").as[String].collect().toSet
    assert(tail == Set("mid", "new"))
    // a table without the property fails fast
    val bare = LakeTable.createTable(spark, tmpDir("lt-nowm"),
      Schemas.transcript, 4)
    intercept[IllegalArgumentException] { bare.incrementalTail(7) }
  }

  test("linkResource registers a URL-only catalog entry without data movement") {
    val t = LakeTable.createTable(spark, tmpDir("lt-link"),
      Schemas.transcript, 4)
    val filesBefore = t.snapshot.files
    t.linkResource("raw_dump", "https://example.org/dump.csv.gz")
    assert(t.linkedResources ==
      Map("raw_dump" -> "https://example.org/dump.csv.gz"))
    assert(t.snapshot.files == filesBefore)
  }

  test("lineage mirror table carries one queryable row per data commit") {
    val dir = tmpDir("lt-lineagemirror")
    val t = LakeTable.createTable(spark, dir, Schemas.transcript, 4)
    MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, cfg).limit(1000), 0L)
    MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, cfg).limit(2000), 1L)
    MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, cfg).limit(2000), 1L) // replay: no-op
    val lin = t.lineageTable.orderBy("version").collect()
    assert(lin.length == 2)
    assert(lin.map(_.getAs[Long]("epochId")).toSeq == Seq(0L, 1L))
    assert(lin.forall(_.getAs[Long]("rowsApplied") > 0))
    assert(lin.forall(_.getAs[Long]("durationMs") >= 0))
    // mirror agrees with the in-snapshot log
    assert(t.lineage.map(_.epochId) == lin.map(_.getAs[Long]("epochId")).toSeq)
  }

  test("readSince: exact winners past the LSN cut, scan pruned by manifest stats") {
    val dir = tmpDir("lt-since")
    val t = LakeTable.createTable(spark, dir, Schemas.transcript, 4)
    val full = ChangeLogGen.changeLogDF(spark, cfg).cache()
    val maxLsn = full.agg(max("lsn")).as[Long].head()
    val (cut1, cut2) = (maxLsn / 3, 2 * maxLsn / 3)
    // three epochs with disjoint LSN ranges -> disjoint footer ranges
    MergeApply.merge(t, full.filter(col("lsn") <= cut1), 0L,
      MergeConfig())
    MergeApply.merge(t, full.filter(col("lsn") > cut1 && col("lsn") <= cut2),
      1L, MergeConfig())
    MergeApply.merge(t, full.filter(col("lsn") > cut2), 2L,
      MergeConfig())

    def winners(since: Long): Set[(String, Int, Long, String, String)] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("conv_id", "turn_idx").orderBy(col("__lsn").desc)
      val s = t.snapshot
      t.readFiles(s, s.files).withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col("__lsn") > since)
        .select("conv_id", "turn_idx", "__lsn", "__op", "text")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          r.getString(3), r.getString(4))).toSet
    }
    def got(since: Long): Set[(String, Int, Long, String, String)] =
      t.readSince(since)
        .select("conv_id", "turn_idx", "__lsn", "__op", "text")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          r.getString(3), r.getString(4))).toSet

    // full replay cut: every winner, tombstones included (delete propagation)
    val all = got(-1L)
    assert(all == winners(-1L))
    assert(all.exists(_._4 == "D"))
    // mid-stream cut: only keys whose winner landed after the cut
    assert(got(cut2) == winners(cut2))
    // past-the-end cut: nothing
    assert(t.readSince(maxLsn).isEmpty)
    // the manifest LSN ranges prune epoch-0/1 files before any Spark job
    val snap = t.snapshot
    val cand = t.sinceCandidates(snap, cut2)
    assert(cand.nonEmpty && cand.size < snap.files.size)
    assert(cand.forall(_.maxLsn > cut2))
    // after full compaction base-only buckets answer the same cuts
    MergeApply.compactBuckets(t, (0 until 4).toSet)
    assert(t.snapshot.files.forall(_.kind == "base"))
    assert(got(-1L) == winners(-1L))
    assert(got(cut2) == winners(cut2))
    // a fold capped at a few rows per file leaves several base files per
    // bucket: they hold one version per key, so the cut still needs no
    // resolve and plans no exchange
    MergeApply.compactBuckets(t, (0 until 4).toSet,
      MergeConfig(maxRowsPerFile = 50))
    val folded = t.snapshot
    assert(folded.files.forall(_.kind == "base"))
    assert(t.sinceCandidates(folded, cut2).groupBy(_.bucket).values
      .exists(_.size > 1))
    assert(got(cut2) == winners(cut2))
    val plan = t.readSince(cut2).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"base-only cut planned a shuffle:\n$plan")
    full.unpersist()
  }

  test("lineage carries reconciling per-partition rows in both write modes") {
    val dir = tmpDir("lt-partlineage")
    val t = LakeTable.createTable(spark, dir, Schemas.transcript, 4)
    MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, cfg).limit(2000), 0L)
    // the merge writes delta files; compaction rewrites them as base files
    MergeApply.compactBuckets(t, (0 until 4).toSet)
    assert(t.snapshot.files.forall(_.kind == "base"))
    val e = t.lineage.filter(_.epochId == 0L).head
    assert(e.partitions.nonEmpty)
    // per-partition rows sum to the commit's applied rows; every
    // partition's LSN range nests inside the commit's range
    assert(e.partitions.map(_.rows).sum == e.rowsApplied)
    assert(e.partitions.forall(p =>
      p.minLsn >= e.minLsn && p.maxLsn <= e.maxLsn && p.minLsn <= p.maxLsn))
    assert(e.partitions.map(_.bucket) == e.partitions.map(_.bucket).sorted)
    // manifest entries of both kinds carry footer-derived LSN ranges for
    // file skipping
    assert(t.snapshot.files.forall(f => f.minLsn >= 0 && f.maxLsn >= f.minLsn))
    assert(t.snapshotAt(e.version).files.forall(f =>
      f.kind == "delta" && f.minLsn >= 0 && f.maxLsn >= f.minLsn))
    // the breakdown is queryable from the mirror table
    val exploded = t.lineageTable
      .where(col("epochId") === 0L)
      .select(col("epochId"), explode(col("partitions")).as("p"))
      .select(col("p.bucket"), col("p.rows"))
      .collect()
    assert(exploded.map(_.getAs[Long]("rows")).sum == e.rowsApplied)
  }

  test("bucketOf is the exact driver-side twin of bucketExpr") {
    val ids = (0 until 200).map(i => s"conv_$i") :+ "" :+ "日本語-key"
    for (n <- Seq(1, 4, 32)) {
      val viaExpr = ids.toDF("conv_id")
        .select(col("conv_id"), LakeTable.bucketExpr(n).as("b"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      ids.foreach(id => assert(LakeTable.bucketOf(id, n) == viaExpr(id)))
    }
  }

  test("readConv: bucket-pruned point lookup equals the filtered full read") {
    val t = freshTable()
    // add deltas with updates + a tombstone so resolution is exercised
    val ts = java.sql.Timestamp.valueOf("2026-03-01 00:00:00")
    val someConv = t.read().select("conv_id").as[String].head()
    val b = Seq(
      (8000001L, "U", someConv, 0, "user", "updated!", null: String, ts),
      (8000002L, "D", someConv, 1, "user", "", null: String, ts))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeApply.merge(t, b, 1L, MergeConfig(maxDeltaFilesPerBucket = 1000))
    // the key filter above the resolve reaches every scan of the
    // delta-bearing bucket, and the resolve shuffles once
    assert(t.snapshot.files.exists(f => f.kind == "delta" &&
      f.bucket == LakeTable.bucketOf(someConv, t.snapshot.nBuckets)))
    val plan = t.readConv(someConv).queryExecution.executedPlan.toString
    val lines = plan.split("\n").toSeq
    assert(lines.count(_.contains("Exchange")) == 1,
      s"expected exactly one Exchange, plan:\n$plan")
    val scans = lines.filter(_.contains("FileScan"))
    assert(scans.nonEmpty && scans.forall(l => l.contains("PushedFilters") &&
      l.contains(s"EqualTo(conv_id,$someConv)")),
      s"conv_id equality did not reach every scan:\n$plan")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("conv_id", "turn_idx", "text").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    for (id <- Seq(someConv, t.read().select("conv_id").as[String]
        .distinct().collect().last)) {
      assert(rows(t.readConv(id)) ==
        rows(t.read().filter(col("conv_id") === id)), s"mismatch for $id")
    }
    assert(rows(t.readConv(someConv)).exists(_._3 == "updated!"))
    assert(!rows(t.readConv(someConv)).exists(_._2 == 1), "tombstone leaked")
    assert(t.readConv("no-such-conversation").count() == 0)
    // pruning: a base-only read of the key's bucket touches ONLY that
    // bucket's files (input_file_name is preserved pre-shuffle)
    graft.cdc.MergeApply.compactBuckets(t,
      t.snapshot.files.filter(_.kind == "delta").map(_.bucket).toSet)
    val bkt = LakeTable.bucketOf(someConv, t.snapshot.nBuckets)
    val files = t.readConv(someConv)
      .select(org.apache.spark.sql.functions.input_file_name().as("f"))
      .distinct().as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains(s"__bucket=$bkt")))
  }
}
