package graft.lake

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpec
import graft.cdc.{MergeApply, MergeConfig}
import graft.gen.{ChangeLogGen, GenConfig}
import graft.model.{Schemas, TranscriptRow}

/** [[TableMain]] — the maintenance CLI over the lake's library calls. */
class TableMainSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(nEvents = 4000L, nConvs = 60L, maxTurns = 10)

  /** A table with MoR deltas in some buckets, via two merge epochs. */
  private def morTable(dir: String): LakeTable = {
    val t = LakeTable.createTable(spark, dir, Schemas.transcript, nBuckets = 4)
    val mc = MergeConfig(maxDeltaFilesPerBucket = 100)
    val log = ChangeLogGen.changeLogDF(spark, cfg)
    MergeApply.merge(t, log.limit(2500), 0L, mc)
    MergeApply.merge(t, log, 1L, mc)
    t
  }

  private def cli(args: String*): (Int, Seq[String]) = {
    val lines = ArrayBuffer.empty[String]
    val code = TableMain.run(spark, args, lines += _)
    (code, lines.toSeq)
  }

  private def state(t: LakeTable): Seq[TranscriptRow] =
    t.read().as[TranscriptRow].collect().toSeq.sortBy(r => (r.conv_id, r.turn_idx))

  test("status/history/schema/show read the table without changing it") {
    val dir = tmpDir("tm-read")
    val t = morTable(dir)
    val v0 = t.snapshot.version

    val (c1, status) = cli(dir, "status")
    assert(c1 == 0)
    assert(status.exists(_.startsWith(s"version:          $v0")))
    assert(status.exists(_.contains("delta")), "MoR table must report deltas")

    val (c2, hist) = cli(dir, "history", "5")
    assert(c2 == 0 && hist.nonEmpty && hist.size <= 5)
    assert(hist.head.contains(s"v$v0"), "history is newest-first")

    val (c3, ddl) = cli(dir, "schema")
    assert(c3 == 0 && ddl.head.contains("conv_id"))

    val (c4, rows) = cli(dir, "show", "7")
    assert(c4 == 0 && rows.size == 7)

    assert(t.snapshot.version == v0, "read commands must not commit")
  }

  test("tail windows on event time via the manifest zone maps") {
    val dir = tmpDir("tm-tail")
    val t = LakeTable.createTable(spark, dir, Schemas.transcript, 2,
      properties = Map(graft.spec.TimeField.WatermarkColumn -> "ts"))
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2026-01-$day%02d 12:00:00")
    MergeApply.merge(t, Seq(
      (1L, "I", "old", 0, "user", "t1", null: String, ts(1)),
      (2L, "I", "new", 0, "user", "t2", null: String, ts(25)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"),
      0L)
    val (code, rows) = cli(dir, "tail", "7")
    assert(code == 0 && rows.size == 1 && rows.head.contains("new"))
    assert(cli(dir, "tail")._1 == 1, "missing days is a usage error")
    // tail-after: arbitrary ISO cutoff through the same zone-map path
    val (cA, rowsA) = cli(dir, "tail-after", "2026-01-20T00:00:00")
    assert(cA == 0 && rowsA.size == 1 && rowsA.head.contains("new"))
    val (cB, rowsB) = cli(dir, "tail-after", "2026-01-01")
    assert(cB == 0 && rowsB.size == 2)
    assert(cli(dir, "tail-after")._1 == 1, "missing cutoff is a usage error")
    // no watermark.column: a clean execution error, not a stack trace
    val t2dir = tmpDir("tm-tail-nowm")
    LakeTable.createTable(spark, t2dir, Schemas.transcript, 2)
    assert(cli(t2dir, "tail", "7")._1 == 1)
  }

  test("fsck is clean on a healthy table and reports tampering") {
    val dir = tmpDir("tm-fsck")
    val t = morTable(dir)
    val (c1, clean) = cli(dir, "fsck")
    assert(c1 == 0 && clean.head.contains("OK"), clean)

    val conf = spark.sessionState.newHadoopConf()
    // delete one data file behind the table's back
    val victim = new org.apache.hadoop.fs.Path(t.snapshot.files.head.path)
    victim.getFileSystem(conf).delete(victim, false)
    // and one lineage mirror row
    val mirrorV = t.snapshot.lineage.head.version
    val mirrorPath = new org.apache.hadoop.fs.Path(
      f"$dir/_lineage/v$mirrorV%012d.json")
    mirrorPath.getFileSystem(conf).delete(mirrorPath, false)

    val (c2, found) = cli(dir, "fsck")
    assert(c2 == 1)
    assert(found.exists(_.contains("missing data file")), found)
    assert(found.exists(_.contains(s"lineage mirror row missing for v$mirrorV")),
      found)
  }

  test("compact defaults to exactly the delta-bearing buckets") {
    val dir = tmpDir("tm-compact")
    val t = morTable(dir)
    val before = state(t)
    assert(t.snapshot.files.exists(_.kind == "delta"))
    val (code, msg) = cli(dir, "compact")
    assert(code == 0 && msg.head.contains("compacted"))
    assert(t.snapshot.files.forall(_.kind == "base"))
    assert(state(t) == before, "compaction must preserve state")
    // now delta-free: the default invocation is a no-op, not an error
    val (code2, msg2) = cli(dir, "compact")
    assert(code2 == 0 && msg2.head.contains("nothing to compact"))
  }

  test("rebucket, vacuum, and set-property run end-to-end") {
    val dir = tmpDir("tm-admin")
    val t = morTable(dir)
    val before = state(t)
    assert(cli(dir, "rebucket", "8")._1 == 0)
    assert(t.snapshot.nBuckets == 8)
    assert(state(t) == before)
    // several versions exist by now; vacuum to the newest one
    val (vc, vout) = cli(dir, "vacuum", "1")
    assert(vc == 0 && vout.head.contains("expired"))
    assert(state(t) == before, "vacuum must not touch the live snapshot")
    assert(cli(dir, "set-property", "watermark.column", "ts")._1 == 0)
    assert(t.snapshot.properties("watermark.column") == "ts")
    // time travel to the pre-property version still reads
    val vPrev = t.snapshot.version - 1
    assert(cli(dir, "show", "3", "--at", vPrev.toString)._1 == 0)
  }

  test("usage and execution errors exit 1 with a message, never a stack") {
    val dir = tmpDir("tm-err")
    assert(cli(dir, "status")._1 == 1, "missing table")
    morTable(dir)
    assert(cli(dir, "frobnicate")._1 == 1, "unknown command")
    assert(cli(dir, "rebucket")._1 == 1, "missing operand")
    assert(cli(dir, "rebucket", "-3")._1 == 1, "library require surfaces as exit 1")
    assert(cli(dir, "set-property", "only-key")._1 == 1)
    assert(cli(dir)._1 == 1, "missing command")
    // path errors from BEFORE the command dispatch are execution errors
    // too, not stack traces
    assert(cli("", "status")._1 == 1, "empty table path")
  }

  test("history filters: epoch range and --rejects-only make the quarantine path operable") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("tm-hist-filter")
    val t = LakeTable.createTable(spark, dir, Schemas.transcript, nBuckets = 4)
    val log = ChangeLogGen.changeLogDF(spark, cfg)
    MergeApply.merge(t, log.limit(1500), 0L)
    // epoch 1 carries a poison row and quarantines it
    val bad = Seq((9000001L, "X", "conv_bad", 0, "user", "t", null: String,
      null.asInstanceOf[java.sql.Timestamp]))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeApply.merge(t, log.limit(2500).unionByName(bad), 1L,
      MergeConfig(invalidRows = "quarantine"))
    MergeApply.merge(t, log, 2L)

    // unfiltered history shows all three epochs, flagging the rejecting one
    val (c0, all) = cli(dir, "history")
    assert(c0 == 0 && all.size >= 3)
    assert(all.count(_.contains("REJECTED=1")) == 1)

    // --rejects-only reduces to exactly the quarantining epoch
    val (c1, rej) = cli(dir, "history", "--rejects-only")
    assert(c1 == 0 && rej.size == 1)
    assert(rej.head.contains("epoch=1") && rej.head.contains("REJECTED=1"))

    // an epoch range bounds the audit window
    val (c2, win) = cli(dir, "history", "--epoch-from", "1", "--epoch-to", "2")
    assert(c2 == 0 && win.size == 2)
    assert(win.exists(_.contains("epoch=1")) && win.exists(_.contains("epoch=2"))
      && !win.exists(_.contains("epoch=0")))

    // a dangling flag is a usage error, not a stack
    val (c3, _) = cli(dir, "history", "--epoch-from")
    assert(c3 == 1)

    // a fresh table (no _lineage mirror yet) filters its empty inline
    // log instead of failing on the missing path
    val freshDir = tmpDir("tm-hist-fresh")
    LakeTable.createTable(spark, freshDir, Schemas.transcript, nBuckets = 4)
    val (c4, fresh) = cli(freshDir, "history", "--rejects-only")
    assert(c4 == 0 && fresh.isEmpty)
  }

  test("history --json emits one parseable object per entry") {
    val dir = tmpDir("tm-hist-json")
    morTable(dir)
    val (code, lines) = cli(dir, "history", "--json")
    assert(code == 0 && lines.nonEmpty)
    lines.foreach { l =>
      assert(l.startsWith("{") && l.endsWith("}"), l)
      // every numeric field present; no trailing commas / bare values
      Seq("\"version\":", "\"epochId\":", "\"rowsApplied\":",
        "\"buckets\":[", "\"maxLsn\":", "\"rejectedEvents\":")
        .foreach(k => assert(l.contains(k), s"$k missing in $l"))
    }
  }

  test("purge-verify: residuals named with pins pre-vacuum, clean bill after") {
    val dir = tmpDir("tm-purge-verify")
    val t = morTable(dir)
    val victim = t.read().select("conv_id").distinct()
      .as[String].take(1).head
    // pre-purge: payload residuals, exit 1, vacuum advice
    val (c0, l0) = cli(dir, "purge-verify", victim)
    assert(c0 == 1 && l0.exists(_.contains("PAYLOAD RESIDUALS")))

    cli(dir, "tag", "pin-me")
    assert(cli(dir, "purge", victim)._1 == 0)
    // purged but the tag pins pre-purge files: residuals must NAME it
    val (c1, l1) = cli(dir, "purge-verify", victim)
    assert(c1 == 1, l1.mkString("\n"))
    assert(l1.exists(l => l.contains("PINNED by pin-me")),
      l1.mkString("\n"))
    assert(l1.exists(_.contains("drop tag(s) pin-me")), l1.mkString("\n"))

    cli(dir, "drop-tag", "pin-me")
    assert(cli(dir, "vacuum", "1")._1 == 0)
    // payload gone; key-only tombstones remain and are reported as such
    val (c2, l2) = cli(dir, "purge-verify", victim)
    assert(c2 == 0, l2.mkString("\n"))
    assert(l2.exists(_.contains("payload clean")), l2.mkString("\n"))

    // --json: one object per residual + a summary, same exit semantics
    val (cj, lj) = cli(dir, "purge-verify", victim, "--json")
    assert(cj == 0 && lj.nonEmpty)
    assert(lj.forall(l => l.startsWith("{") && l.endsWith("}")),
      lj.mkString("\n"))
    assert(lj.last.contains("\"payloadClean\":true"), lj.mkString("\n"))

    assert(cli(dir, "purge", victim, "--scrub-tombstones")._1 == 0)
    assert(cli(dir, "vacuum", "1")._1 == 0)
    val (c3, l3) = cli(dir, "purge-verify", victim)
    assert(c3 == 0 && l3.exists(_.contains("CLEAN")), l3.mkString("\n"))
    val (c4, l4) = cli(dir, "purge-verify", victim, "--json")
    assert(c4 == 0 &&
      l4.last.contains("\"fullyClean\":true"), l4.mkString("\n"))
  }

  test("compact warns on bucket ids holding no files instead of claiming success") {
    val dir = tmpDir("tm-unknown")
    val t = morTable(dir)
    val v0 = t.snapshot.version
    // bucket 9 does not exist on a 4-bucket table: warn + nothing to do
    val (c1, out1) = cli(dir, "compact", "9")
    assert(c1 == 0 && out1.head.contains("nothing to compact"))
    assert(t.snapshot.version == v0, "no commit may land for a no-op")
    // a mix of real and bogus ids compacts the real ones only
    val real = t.snapshot.files.filter(_.kind == "delta").map(_.bucket).head
    val (c2, out2) = cli(dir, "compact", s"$real,9")
    assert(c2 == 0 && out2.head.contains("compacted 1 bucket(s)"))
    assert(!t.snapshot.files.exists(f => f.kind == "delta" && f.bucket == real))
  }
}
