package graft.lake

import graft.SparkSpec
import graft.cdc.MergeApply
import graft.gen.{ChangeLogGen, GenConfig}
import graft.model.Schemas

/** The bounded-metadata contract: commit cost stays O(delta) — not
  * O(epochs) and not O(table files) — at millions of epochs. Drives the
  * commit path directly (no Spark jobs) so hundreds of epochs run in
  * milliseconds. */
class SnapshotBoundsSpec extends SparkSpec {

  private def entry(i: Int) = LineageEntry(i.toLong, 0L, 1L, 1L, Seq(i % 4),
    1, 0, i.toLong, "", 0L)

  private def snapshotBytes(t: LakeTable): Long = {
    val v = t.snapshot.version
    new java.io.File(f"${t.dir}/_snapshots/v$v%012d.json").length()
  }

  test("300-epoch replay: snapshot JSON stays bounded and flat, watermark absorbs epochs") {
    val t = LakeTable.createTable(spark, tmpDir("bounds"), Schemas.transcript, 4)
    var sizeAt260 = 0L
    (0 until 300).foreach { i =>
      t.commit(t.snapshot,
        Seq(DataFileEntry(s"fake-$i.parquet", i % 4, 1L, 0)),
        Set.empty, Some(i.toLong), Some(entry(i)))
      if (i == 260) sizeAt260 = snapshotBytes(t)
    }
    val snap = t.snapshot
    // epoch guard is a watermark, not an ever-growing map
    assert(snap.epochWatermark == 299L)
    assert(snap.recentEpochs.isEmpty)
    // aged-out epochs (no longer in any map) are still no-ops
    assert(snap.isCommitted(0L) && snap.isCommitted(150L))
    assert(!snap.isCommitted(300L))
    // manifest list is consolidated, not accumulated
    assert(snap.manifests.size <= LakeTable.manifestCompactThreshold + 1)
    // the materialized view still resolves every live file
    assert(snap.files.size == 300)
    assert(snap.files.map(_.path).distinct.size == 300)
    // inline lineage aged out at the cap; the mirror holds every row
    assert(snap.lineage.size == LakeTable.maxLineageInSnapshot)
    assert(t.lineageTable.count() == 300)
    // snapshot JSON is small and FLAT: past the lineage cap the marginal
    // growth per commit is ~one manifest ref, not O(epochs)
    val sizeNow = snapshotBytes(t)
    assert(sizeNow < 200000, s"snapshot JSON grew to $sizeNow bytes")
    assert(sizeNow <= (sizeAt260 * 1.25).toLong,
      s"snapshot not flat: $sizeAt260 -> $sizeNow bytes over 40 commits")
  }

  test("pre-addedV manifest entries are refused: recreate the table") {
    // a manifest entry without an arrival stamp cannot be placed in any
    // change window; the snapshot read refuses it instead of guessing
    val dir = tmpDir("pre-addedv")
    val t = LakeTable.createTable(spark, dir, Schemas.transcript, 2)
    val cfg = GenConfig(nEvents = 40L, nConvs = 8L, seed = 7L)
    val log = ChangeLogGen.changeLogDF(spark, cfg)
    MergeApply.merge(t, log.limit(20), 0L)
    MergeApply.merge(t, log, 1L)
    assert(t.snapshot.files.forall(_.addedV > 0))
    val vBefore = t.snapshot.version
    // simulate the pre-addedV layout: strip the stamps from every manifest
    val mdir = new java.io.File(s"$dir/_snapshots/manifests")
    mdir.listFiles().filter(_.getName.endsWith(".json")).foreach { f =>
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      java.nio.file.Files.write(f.toPath,
        txt.replaceAll(",?\"addedV\":\\d+", "").getBytes("UTF-8"))
      // drop the LocalFileSystem checksum sidecar the raw edit invalidated
      new java.io.File(mdir, s".${f.getName}.crc").delete()
    }
    val t2 = LakeTable.load(spark, dir) // fresh manifest cache
    val e = intercept[IllegalStateException](t2.snapshot)
    assert(e.getMessage.contains("recreate the table"))
    // no write starts from the refused read: nothing is restamped
    intercept[IllegalStateException](MergeApply.merge(t2, log.limit(20), 2L))
    assert(t2.versionsOnDisk.last == vBefore)
  }

  test("out-of-order epochs park in the recent-set until contiguity absorbs them") {
    val t = LakeTable.createTable(spark, tmpDir("bounds-ooo"), Schemas.transcript, 4)
    Seq(0, 5, 2).foreach(i => t.commit(t.snapshot,
      Seq(DataFileEntry(s"f-$i", 0, 1L, 0)), Set.empty, Some(i.toLong), None))
    val mid = t.snapshot
    assert(mid.epochWatermark == 0L)
    assert(mid.recentEpochs.keySet == Set("2", "5"))
    assert(mid.isCommitted(5L) && mid.isCommitted(2L) && !mid.isCommitted(1L)
      && !mid.isCommitted(3L))
    Seq(1, 3, 4).foreach(i => t.commit(t.snapshot,
      Seq(DataFileEntry(s"f-$i", 0, 1L, 0)), Set.empty, Some(i.toLong), None))
    val end = t.snapshot
    assert(end.epochWatermark == 5L)
    assert(end.recentEpochs.isEmpty)
  }

  test("manifest fold: bucket replacement drops earlier files; consolidation preserves the set") {
    val t = LakeTable.createTable(spark, tmpDir("bounds-fold"), Schemas.transcript, 4)
    t.commit(t.snapshot, Seq(DataFileEntry("a", 0, 1L, 0),
      DataFileEntry("b", 1, 1L, 0)), Set.empty, None, None)
    t.commit(t.snapshot, Seq(DataFileEntry("c", 0, 1L, 0)), Set(0), None, None)
    assert(t.snapshot.files.map(_.path).toSet == Set("b", "c"))
    // pure-replacement commit (truncate shape): no manifest file written
    t.commit(t.snapshot, Nil, Set(1), None, None)
    assert(t.snapshot.files.map(_.path).toSet == Set("c"))
    // push past the consolidation threshold; the fold result is unchanged
    (0 until LakeTable.manifestCompactThreshold + 2).foreach { i =>
      t.commit(t.snapshot, Seq(DataFileEntry(s"x-$i", 2, 1L, 0)),
        Set.empty, None, None)
    }
    val snap = t.snapshot
    assert(snap.manifests.size <= LakeTable.manifestCompactThreshold + 1)
    assert(snap.manifests.exists(_.reset) || snap.manifests.size <= 3)
    assert(snap.files.map(_.path).toSet ==
      (0 until LakeTable.manifestCompactThreshold + 2).map(i => s"x-$i").toSet + "c")
  }

  test("optimistic concurrency: a non-conflicting stale-base commit rebases") {
    val t = LakeTable.createTable(spark, tmpDir("bounds-occ"), Schemas.transcript, 4)
    val base = t.snapshot // both writers read the same base version
    t.commit(base, Seq(DataFileEntry("w1", 0, 1L, 0)), Set.empty, Some(0L), None)
    // second writer still holds the stale base -> create of v1.json
    // collides -> the commit rebases onto the winner and lands as v2,
    // nothing lost on either side (ConcurrencySpec covers the conflicts)
    val c = t.commit(base, Seq(DataFileEntry("w2", 1, 1L, 0)), Set.empty, Some(1L), None)
    assert(c.version == 2L)
    assert(t.snapshot.files.map(_.path).toSet == Set("w1", "w2"))
    assert(t.snapshot.isCommitted(0L) && t.snapshot.isCommitted(1L))
  }

  test("recover(): rolls forward past a crash between vN.json and the CURRENT swap") {
    val t = LakeTable.createTable(spark, tmpDir("bounds-rec"), Schemas.transcript, 4)
    t.commit(t.snapshot, Seq(DataFileEntry("a", 0, 1L, 0)), Set.empty, Some(0L), None)
    t.commit(t.snapshot, Seq(DataFileEntry("b", 1, 1L, 0)), Set.empty, Some(1L), None)
    val snapsDir = new java.io.File(s"${t.dir}/_snapshots")
    // simulate the crash: v2 exists fully written, but CURRENT still
    // points at v1 (the rename never happened)
    java.nio.file.Files.write(new java.io.File(snapsDir, "CURRENT").toPath,
      "v000000000001.json".getBytes("UTF-8"))
    // the direct write bypassed Hadoop's checksum sidecar — drop it
    new java.io.File(snapsDir, ".CURRENT.crc").delete()
    assert(t.snapshot.version == 1L)
    // plus a torn v3 from a second crashed attempt
    val torn = new java.io.File(snapsDir, "v000000000003.json")
    java.nio.file.Files.write(torn.toPath,
      "{\"version\": 3, ".getBytes("UTF-8"))
    // within the grace window the torn file is SKIPPED, not deleted — it
    // may be a live writer mid-publish whose swapPointer is imminent
    assert(t.recover() == 2L)
    assert(t.snapshot.version == 2L)
    assert(torn.exists(), "young torn file must survive the grace window")
    // past the grace window it is a genuine crash leftover: reclaimed
    assert(t.recover(graceMs = 0L) == 2L)
    assert(t.snapshot.files.map(_.path).toSet == Set("a", "b"))
    assert(!torn.exists())
    // the table commits normally again (no permanent collision)
    t.commit(t.snapshot, Seq(DataFileEntry("c", 2, 1L, 0)), Set.empty, Some(2L), None)
    assert(t.snapshot.version == 3L)
  }

  test("a crashed writer's torn next-version file cannot wedge subsequent commits") {
    val t = LakeTable.createTable(spark, tmpDir("bounds-wedge"), Schemas.transcript, 4)
    t.commit(t.snapshot, Seq(DataFileEntry("a", 0, 1L, 0)), Set.empty, Some(0L), None)
    // a writer died mid-JSON-write of v2 (CURRENT still points at v1),
    // long enough ago that no live peer could still be publishing it
    val torn = new java.io.File(s"${t.dir}/_snapshots/v000000000002.json")
    java.nio.file.Files.write(torn.toPath, "{\"version\": 2, ".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(torn.toPath,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120000L))
    // the next commit collides on v2, waits out one await window,
    // reclaims the torn leftover, and lands as v2 — no restart needed
    // (previously: CommitConflictException on every retry, forever)
    val c = t.commit(t.snapshot, Seq(DataFileEntry("b", 1, 1L, 0)),
      Set.empty, Some(1L), None)
    assert(c.version == 2L)
    assert(t.snapshot.files.map(_.path).toSet == Set("a", "b"))
    assert(t.snapshot.isCommitted(1L))
  }

  test("merge replay of an already-committed epoch is a no-op end-to-end") {
    val t = LakeTable.createTable(spark, tmpDir("bounds-replay"), Schemas.transcript, 4)
    val log = ChangeLogGen.changeLogDF(spark,
      GenConfig(nEvents = 2000L, nConvs = 50L, maxTurns = 8))
    MergeApply.merge(t, log.limit(1000), 0L)
    MergeApply.merge(t, log, 1L)
    val before = t.read().count()
    val r = MergeApply.merge(t, log.limit(1000), 0L)
    assert(!r.applied)
    assert(t.read().count() == before)
    assert(t.snapshot.epochWatermark == 1L)
  }
}
