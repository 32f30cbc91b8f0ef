package graft.spec

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.SparkSpec
import graft.lake.LakeTable
import graft.sources.Extractors

/** End-to-end tests of the declarative Job layer: a CSV fixture driven
  * through staging → checksum gate → extract → project → filter → clean →
  * MERGE into a LakeTable purely from a [[JobSpec]] value — the
  * reference's job_dict → launchpad surface (reference:
  * engine/etl_util.py:476-521, 705-772). */
class JobRunnerSpec extends SparkSpec {

  private def writeCsv(dir: String, name: String, lines: Seq[String]): String = {
    val p = Paths.get(dir, name)
    Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    p.toString
  }

  private val header = "License ID,Breed,Color,Owner Zip"
  private val rows1 = Seq(
    header,
    "1,husky,grey,15213",
    "2,pug,tan,15222",
    "3,beagle,tri,15106",
    "4,poodle,,15219")

  private def dogJob(src: String, work: String, lakeDir: String): JobSpec =
    JobSpec(
      jobCode = "dog_licenses",
      source = JobSource.LocalFile(src),
      stagingDir = s"$work/staging",
      extractor = JobExtractor.Csv(),
      destination = JobDestination.Lake(lakeDir, nBuckets = 4),
      schema = Seq(
        Projection.Field("license_id", "license_id", Some(IntegerType)),
        Projection.Field("breed", "breed"),
        Projection.Field("color", "color", default = Some("unknown")),
        Projection.Field("owner_zip", "zip")),
      filters = Seq(FilterDsl.Pred("breed", "!=", FilterDsl.Scalar("pug"))),
      clean = df => df.withColumn("breed", upper(col("breed"))),
      keyFields = Seq("license_id"),
      timeField = None)

  test("upsert job end-to-end: stage, extract, project, filter, clean, MERGE") {
    val work = tmpDir("job-upsert")
    val lake = s"$work/lake"
    val src = writeCsv(work, "dogs.csv", rows1)
    val spec = dogJob(src, work, lake)

    val r1 = JobRunner.run(spark, spec)
    assert(r1.applied && r1.skipReason.isEmpty)
    val t = LakeTable.load(spark, lake)
    val got = t.read().collect()
    // pug filtered out; 3 rows; breed uppercased; null color defaulted
    assert(got.length == 3)
    val byId = got.map(r => r.getAs[String]("conv_id") ->
      (r.getAs[String]("breed"), r.getAs[String]("color"))).toMap
    // packed keys carry the injective 'v' (value) tag
    assert(byId("v1") == (("HUSKY", "grey")))
    assert(byId("v4") == (("POODLE", "unknown")))
    assert(!byId.contains("v2"), "filtered row must not load")

    // re-run with the SAME bytes under a NEW name: checksum gate skips
    val src2 = writeCsv(work, "dogs_copy.csv", rows1)
    val r2 = JobRunner.run(spark, spec.copy(source = JobSource.LocalFile(src2)))
    assert(!r2.applied && r2.skipReason.exists(_.contains("checksum")))
    assert(t.read().count() == 3)

    // changed input: upsert updates matching keys, adds new ones
    val src3 = writeCsv(work, "dogs_v2.csv", Seq(
      header, "1,husky,white,15213", "5,corgi,red,15217"))
    val r3 = JobRunner.run(spark, spec.copy(source = JobSource.LocalFile(src3)))
    assert(r3.applied)
    val v2 = t.read().collect().map(r => r.getAs[String]("conv_id") ->
      r.getAs[String]("color")).toMap
    assert(v2.size == 4) // 1 updated, 3,4 kept, 5 added
    assert(v2("v1") == "white")
    assert(v2("v5") == "red")
  }

  test("insert method blind-appends; wipe_data truncates first; clear_first replaces schema") {
    val work = tmpDir("job-methods")
    val lake = s"$work/lake"
    val src = writeCsv(work, "dogs.csv", rows1)
    val base = dogJob(src, work, lake)
      .copy(method = "insert", checksumGate = false)

    JobRunner.run(spark, base)
    val t = LakeTable.load(spark, lake)
    assert(t.read().count() == 3)

    // insert of overlapping keys LWW-resolves at read (delta append), so
    // a second run with new lsn (epoch) replaces matching keys
    JobRunner.run(spark, base)
    assert(t.read().count() == 3, "append of same keys must LWW-resolve")

    // wipe_data: one atomic replace -> exactly this run's rows
    JobRunner.run(spark, base.copy(alwaysWipeData = true))
    assert(t.read().count() == 3)
    assert(t.lineage.nonEmpty)

    // clear_first with a NEW schema shape: table is recreated
    val narrowed = base.copy(
      alwaysClearFirst = true,
      schema = Seq(
        Projection.Field("license_id", "license_id", Some(IntegerType)),
        Projection.Field("breed", "breed")))
    JobRunner.run(spark, narrowed)
    val cols = t.read().columns.toSet
    assert(cols == Set("conv_id", "turn_idx", "license_id", "breed"))
    assert(t.read().count() == 3)
  }

  test("wipe_data loads in one commit: a poisoned wipe run leaves the old rows") {
    val work = tmpDir("job-wipe")
    val lake = s"$work/lake"
    def spec(name: String, lines: Seq[String]) = JobSpec(
      jobCode = "turns",
      source = JobSource.LocalFile(writeCsv(work, name,
        "conv_id,turn_idx,text" +: lines)),
      stagingDir = s"$work/staging",
      extractor = JobExtractor.Csv(),
      destination = JobDestination.Lake(lake, nBuckets = 4),
      schema = Seq(
        Projection.Field("conv_id", "conv_id"),
        Projection.Field("turn_idx", "turn_idx", Some(IntegerType)),
        Projection.Field("text", "text")),
      keyFields = Seq("conv_id", "turn_idx"))
    JobRunner.run(spark, spec("a.csv", Seq("c1,0,a", "c1,1,b", "c2,0,c")))
    val t = LakeTable.load(spark, lake)
    assert(t.snapshot.version == 1 && t.read().count() == 3)
    // a wipe run whose only row has an empty key: the load must fail
    // before ANY commit — a truncate-then-merge wipe would already have
    // published the empty table
    intercept[graft.cdc.PoisonEventException] {
      JobRunner.run(spark, spec("b.csv", Seq(",0,bad"))
        .copy(alwaysWipeData = true))
    }
    assert(t.snapshot.version == 1, "the failed wipe committed something")
    assert(t.read().count() == 3, "the failed wipe emptied the table")
  }

  test("native transcript key maps through unchanged; timeField registers watermark.column") {
    val work = tmpDir("job-native")
    val lake = s"$work/lake"
    val src = writeCsv(work, "turns.csv", Seq(
      "conv_id,turn_idx,role,text,ts",
      "c1,0,user,hello,2025-12-20 10:00:00",
      "c1,1,assistant,hi,2025-12-20 10:00:05",
      "c2,0,user,start,2026-01-02 09:00:00"))
    val spec = JobSpec(
      jobCode = "turns",
      source = JobSource.LocalFile(src),
      stagingDir = s"$work/staging",
      extractor = JobExtractor.Csv(),
      destination = JobDestination.Lake(lake, nBuckets = 4),
      schema = Seq(
        Projection.Field("conv_id", "conv_id"),
        Projection.Field("turn_idx", "turn_idx", Some(IntegerType)),
        Projection.Field("role", "role"),
        Projection.Field("text", "text"),
        Projection.Field("ts", "ts",
          Some(org.apache.spark.sql.types.TimestampType))),
      keyFields = Seq("conv_id", "turn_idx"),
      timeField = Some("ts"))
    val r = JobRunner.run(spark, spec)
    assert(r.applied)
    val t = LakeTable.load(spark, lake)
    assert(t.snapshot.properties.get(TimeField.WatermarkColumn).contains("ts"))
    val got = t.readConv("c1").orderBy("turn_idx").collect()
    assert(got.map(_.getAs[Int]("turn_idx")).toSeq == Seq(0, 1))
    assert(got.map(_.getAs[String]("text")).toSeq == Seq("hello", "hi"))
    // incrementalTail works straight off the registered time field
    assert(t.incrementalTail(2).count() == 1)
  }

  test("composite-key packing is injective under control characters and nulls") {
    // the packing serves JSON feeds too, where \u0001 inside a key value
    // is legal: without escaping, ("x\u0001y","z") and ("x","y\u0001z")
    // pack to one conv_id and one of the rows is silently dropped; the
    // null sentinel has the same injection hazard. Four adversarial rows,
    // four distinct MERGE keys.
    val work = tmpDir("job-inject")
    val lake = s"$work/lake"
    val U = "\\u0001" // the six-char JSON escape for the separator
    val json = Seq(
      s"""{"a":"x${U}y","b":"z","v":"r1"}""",
      s"""{"a":"x","b":"y${U}z","v":"r2"}""",
      """{"a":null,"b":"x","v":"r3"}""",
      """{"a":"x","b":null,"v":"r4"}""").mkString("[", ",", "]")
    val src = Paths.get(work, "feed.json")
    Files.write(src, json.getBytes("UTF-8"))
    val spec = JobSpec(
      jobCode = "inject",
      source = JobSource.LocalFile(src.toString),
      stagingDir = s"$work/staging",
      extractor = JobExtractor.Json(),
      destination = JobDestination.Lake(lake, nBuckets = 4),
      keyFields = Seq("a", "b"))
    val r = JobRunner.run(spark, spec)
    assert(r.applied)
    val t = LakeTable.load(spark, lake)
    val vs = t.read().select("v").collect().map(_.getString(0)).toSet
    assert(vs == Set("r1", "r2", "r3", "r4"),
      s"composite keys collided - surviving rows: $vs")
    assert(t.read().select("conv_id").distinct().count() == 4)
  }

  test("url staging, rows_to_skip strip, and duplicate-key determinism") {
    val work = tmpDir("job-url")
    val lake = s"$work/lake"
    val src = writeCsv(work, "padded.csv", Seq(
      "junk preamble line",
      "report generated 2026-08-18",
      header,
      "7,lab,black,15101",
      "7,lab,brown,15101", // duplicate key: deterministic single winner
      "8,chow,red,15102"))
    val spec = dogJob(src, work, lake).copy(
      jobCode = "padded",
      source = JobSource.Url(s"file://$src"), // HttpStaging code path
      rowsToSkip = 2)
    val r = JobRunner.run(spark, spec)
    assert(r.applied)
    val t = LakeTable.load(spark, lake)
    val rows = t.read().collect()
    assert(rows.length == 2)
    val c7 = rows.find(_.getAs[String]("conv_id") == "v7").get
    // max-by-full-row-struct rule: 'brown' > 'black' on the color field
    assert(c7.getAs[String]("color") == "brown")
  }

  test("CsvDir and BinaryDir destinations; zip-member source") {
    val work = tmpDir("job-sinks")
    val src = writeCsv(work, "dogs.csv", rows1)

    // tabular file destination (insert-only, like TabularFileLoader)
    val csvSpec = dogJob(src, work, s"$work/unused").copy(
      jobCode = "to_csv",
      method = "insert",
      destination = JobDestination.CsvDir(s"$work/out_csv"))
    val r1 = JobRunner.run(spark, csvSpec)
    assert(r1.applied && r1.rows == 3)
    val back = graft.sources.TabularSink.read(spark, s"$work/out_csv")
    assert(back.count() == 3)
    assert(back.columns.toSet == Set("license_id", "breed", "color", "zip"))
    // insert-only, like the reference's assert (loaders.py:671); the
    // checksum gate is off so the unchanged input reaches that check
    val refused = intercept[IllegalArgumentException] {
      JobRunner.run(spark, csvSpec.copy(method = "upsert",
        checksumGate = false))
    }
    assert(refused.getMessage.contains("CsvDir is insert-only"))

    // whole-file binary destination
    val binSpec = JobSpec(
      jobCode = "to_bin",
      source = JobSource.LocalFile(src),
      stagingDir = s"$work/staging2",
      extractor = JobExtractor.WholeFile,
      destination = JobDestination.BinaryDir(s"$work/out_bin"))
    val r2 = JobRunner.run(spark, binSpec)
    assert(r2.applied)
    assert(Files.exists(Paths.get(s"$work/out_bin/dogs.csv")))

    // zip member source through the same runner
    val zipPath = s"$work/bundle.zip"
    val zout = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(zipPath))
    zout.putNextEntry(new java.util.zip.ZipEntry("inner/dogs.csv"))
    zout.write(rows1.mkString("\n").getBytes("UTF-8"))
    zout.closeEntry(); zout.close()
    val zipSpec = dogJob(src, work, s"$work/lake_zip").copy(
      jobCode = "from_zip",
      source = JobSource.ZipMember(zipPath, "inner/dogs.csv"))
    val r3 = JobRunner.run(spark, zipSpec)
    assert(r3.applied)
    assert(LakeTable.load(spark, s"$work/lake_zip").read().count() == 3)
  }

  test("custom staging plug-point and ignoreIfSourceMissing quiet exit") {
    val work = tmpDir("job-custom")
    val src = writeCsv(work, "dogs.csv", rows1)
    // bring-your-own Staging (the SFTP/GCS seam): reuse ZipMemberStaging
    val zipPath = s"$work/b.zip"
    val zout = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(zipPath))
    zout.putNextEntry(new java.util.zip.ZipEntry("d.csv"))
    zout.write(rows1.mkString("\n").getBytes("UTF-8"))
    zout.closeEntry(); zout.close()
    val spec = dogJob(src, work, s"$work/lake").copy(
      jobCode = "custom_staging",
      source = JobSource.Custom(
        new graft.sources.ZipMemberStaging(zipPath, "d.csv"), "ignored"))
    assert(JobRunner.run(spark, spec).applied)
    assert(LakeTable.load(spark, s"$work/lake").read().count() == 3)

    // missing source: quiet exit with the flag, failure without
    val missing = dogJob(s"$work/nope.csv", work, s"$work/lake2")
      .copy(jobCode = "missing")
    intercept[Exception](JobRunner.run(spark, missing))
    val quiet = JobRunner.run(spark,
      missing.copy(ignoreIfSourceMissing = true))
    assert(!quiet.applied && quiet.skipReason.exists(_.contains("missing")))
  }

  test("runAll: job-code selection (exact + prefix), per-job failure isolation") {
    val work = tmpDir("job-fleet")
    val src = writeCsv(work, "dogs.csv", rows1)
    def spec(code: String) = dogJob(src, work, s"$work/lake_$code")
      .copy(jobCode = code, checksumGate = false)
    val broken = spec("ac_broken").copy(
      source = JobSource.LocalFile(s"$work/does-not-exist.csv"))
    val fleet = Seq(spec("ac_dogs"), broken, spec("wprdc_cats"))

    // prefix selection: "ac-" matches ac_dogs + ac_broken only
    val ran = JobRunner.runAll(spark, fleet, Seq("ac-"))
    assert(ran.map(_._1) == Seq("ac_dogs", "ac_broken"))
    assert(ran.head._2.exists(_.applied))
    assert(ran(1)._2.isLeft, "missing source must fail this job only")
    assert(LakeTable.load(spark, s"$work/lake_ac_dogs").read().count() == 3)
    assert(!new java.io.File(s"$work/lake_wprdc_cats").exists())

    // empty selection runs everything; the broken job doesn't stop the fleet
    val all = JobRunner.runAll(spark, fleet)
    assert(all.size == 3 && all.last._2.exists(_.applied))
    assert(LakeTable.load(spark, s"$work/lake_wprdc_cats").read().count() == 3)

    // exact selection
    assert(JobRunner.runAll(spark, fleet, Seq("wprdc_cats")).map(_._1) ==
      Seq("wprdc_cats"))
  }

  test("stripLeadingRows streams an exact suffix") {
    val work = tmpDir("strip")
    val src = writeCsv(work, "f.txt", Seq("a", "b", "c", "d"))
    val out = Extractors.stripLeadingRows(spark, src, s"$work/stage", 2)
    val got = new String(Files.readAllBytes(Paths.get(
      new java.net.URI(if (out.startsWith("file:")) out else s"file://$out")
        .getPath)), "UTF-8")
    assert(got == "c\nd\n")
  }

  test("stripLeadingRows round-trips bytes in the feed's own charset") {
    // a hardcoded UTF-8 round trip of Latin-1 bytes would mangle every
    // non-ASCII value into U+FFFD before the CSV reader ever sees it
    val work = tmpDir("strip-enc")
    val src = Paths.get(work, "latin1.csv")
    Files.write(src, "junk\nname\ncafé\n".getBytes("ISO-8859-1"))
    val out = Extractors.stripLeadingRows(spark, src.toString,
      s"$work/stage", 1, encoding = "ISO-8859-1")
    val got = new String(Files.readAllBytes(Paths.get(
      new java.net.URI(if (out.startsWith("file:")) out else s"file://$out")
        .getPath)), "ISO-8859-1")
    assert(got == "name\ncafé\n")
  }

  test("key-format guard rejects mismatched specs in BOTH directions") {
    val work = tmpDir("job-keyguard")
    val lake = s"$work/lake"
    val packedSrc = writeCsv(work, "p.csv", Seq("a,b,v", "x,y,r1"))
    val nativeSrc = writeCsv(work, "n.csv", Seq(
      "conv_id,turn_idx,text", "c1,0,hello"))
    def packedSpec = JobSpec(jobCode = "packed",
      source = JobSource.LocalFile(packedSrc),
      stagingDir = s"$work/staging", extractor = JobExtractor.Csv(),
      destination = JobDestination.Lake(lake, nBuckets = 2),
      keyFields = Seq("a", "b"), checksumGate = false)
    def nativeSpec = JobSpec(jobCode = "native",
      source = JobSource.LocalFile(nativeSrc),
      stagingDir = s"$work/staging", extractor = JobExtractor.Csv(),
      destination = JobDestination.Lake(lake, nBuckets = 2),
      schema = Seq(
        Projection.Field("conv_id", "conv_id"),
        Projection.Field("turn_idx", "turn_idx", Some(IntegerType)),
        Projection.Field("text", "text")),
      keyFields = Seq("conv_id", "turn_idx"), checksumGate = false)

    assert(JobRunner.run(spark, packedSpec).applied)
    // native spec into a packed-stamped table: the conv_id value spaces
    // never collide — upserts would duplicate, must fail fast
    val e1 = intercept[IllegalArgumentException](
      JobRunner.run(spark, nativeSpec))
    assert(e1.getMessage.contains("keyed under format"))
    // clear_first re-keys legitimately, and re-stamps to native
    assert(JobRunner.run(spark,
      nativeSpec.copy(alwaysClearFirst = true)).applied)
    // ...after which a packed spec is the mismatch
    val e2 = intercept[IllegalArgumentException](
      JobRunner.run(spark, packedSpec))
    assert(e2.getMessage.contains("keyed under format"))
    // and the native spec upserts normally
    assert(LakeTable.load(spark, lake).read().count() == 1)
  }
}
