package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.MergeApply
import graft.lake.{LakeTable, TableMain}
import graft.model.Schemas

/** Conversation-level JSONL export: the per-conversation training
  * artifact. Ordering, determinism under adversarial arrival order,
  * evolved-column ride-along, tagged-release export, no-clobber. */
class ConvExportSpec extends SparkSpec {
  import spark.implicits._

  private val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  private def batch(rows: Seq[(Long, String, String, Int, String)]) =
    rows.toDF("lsn", "op", "conv_id", "turn_idx", "text")
      .withColumn("role", lit("user"))
      .withColumn("tool", lit(null).cast("string"))
      .withColumn("ts", lit(ts))

  test("one JSON line per conversation, turns in turn order regardless of arrival") {
    val dir = tmpDir("cx-order")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript, 4)
    // turns arrive out of order; an update supersedes; a delete removes
    MergeApply.merge(table, batch(Seq(
      (1L, "I", "a", 2, "a2"), (2L, "I", "a", 0, "a0"),
      (3L, "I", "a", 1, "a1-old"), (4L, "I", "b", 0, "b0"),
      (5L, "U", "a", 1, "a1"), (6L, "I", "b", 1, "bye"),
      (7L, "D", "b", 1, null))), 0L)
    val out = tmpDir("cx-out") + "/conv"
    ConvExport.writeJsonl(table.read(), out)
    val lines = spark.read.json(out)
    assert(lines.count() == 2)
    val rows = lines.select(col("conv_id"), col("n_turns"),
        expr("transform(turns, t -> t.text)").as("texts"),
        expr("transform(turns, t -> t.turn_idx)").as("idxs"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getSeq[String](2).toList, r.getSeq[Long](3).toList)))
      .toMap
    assert(rows("a") == ((3L, List("a0", "a1", "a2"), List(0L, 1L, 2L))))
    assert(rows("b") == ((1L, List("b0"), List(0L))))
  }

  test("export is byte-deterministic under shuffled input") {
    val dir = tmpDir("cx-det")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript, 2)
    MergeApply.merge(table, batch(
      (0 until 50).map(i => (i.toLong, "I", s"c${i % 5}", i / 5, s"t$i"))), 0L)
    val a = ConvExport.conversationsJson(table.read())
      .collect().map(_.getString(0)).toSet
    val b = ConvExport.conversationsJson(
        table.read().orderBy(col("turn_idx").desc))
      .collect().map(_.getString(0)).toSet
    assert(a == b)
  }

  test("schema-evolved columns ride along in each turn object") {
    val dir = tmpDir("cx-evo")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript, 2)
    MergeApply.merge(table, batch(Seq((1L, "I", "a", 0, "x"))), 0L)
    table.evolveSchema(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.IntegerType))))
    MergeApply.merge(table, batch(Seq((2L, "I", "b", 0, "y")))
      .withColumn("score", lit(7)), 1L)
    val out = tmpDir("cx-evo-out") + "/conv"
    ConvExport.writeJsonl(table.read(), out)
    val byConv = spark.read.json(out)
      .select(col("conv_id"), expr("turns[0].score")).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(byConv == Map("a" -> null, "b" -> 7L),
      "evolved column carried where present, null-projected on old rows")
  }

  test("CLI export-conversations honors tagged releases and never clobbers") {
    val dir = tmpDir("cx-cli")
    val table = LakeTable.createTable(spark, dir, Schemas.transcript, 2)
    MergeApply.merge(table, batch(Seq((1L, "I", "a", 0, "v1"))), 0L)
    table.tag("release-1")
    MergeApply.merge(table, batch(Seq((2L, "U", "a", 0, "v2"))), 1L)

    val out = tmpDir("cx-cli-out") + "/r1"
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    assert(TableMain.run(spark,
      Seq(dir, "export-conversations", out, "--at", "release-1"),
      lines += _) == 0)
    val texts = spark.read.json(out).select(expr("turns[0].text")).head()
    assert(texts.getString(0) == "v1", "tagged release must export v1")
    // re-export into the same dir fails (release artifacts are immutable)
    assert(TableMain.run(spark,
      Seq(dir, "export-conversations", out), _ => ()) == 1)
  }
}
