package graft.ops

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.MergeApply
import graft.lake.LakeTable
import graft.model.Schemas

/** Driver-gated queries that route through the lake table format itself,
  * so the external DuckDB oracle certifies the storage + merge kernel and
  * not just the query pack. Every other gated query reads raw parquet;
  * these two write INTO a `graft-table`, read back THROUGH it, and emit a
  * result the oracle can recompute from the source parquet alone —
  * because the round-trip (q49) must be lossless and the LWW merge (q50)
  * has an exact relational definition (a descending-LSN window; the
  * reference's per-key upsert semantics, loaders.py:507-533).
  *
  *   - '''q49 lake round-trip''': events → insert-path write via the
  *     batch relation (table auto-created from the written schema,
  *     bucket layout, footer stats) → `spark.read.format("graft-table")`
  *     → the q42 ordered-assembly shape. Any loss, duplication, column
  *     damage, or ordering instability introduced by the format changes
  *     the transcript hash and the gate goes red.
  *   - '''q50 LWW merge''': a deterministic I/U/D changelog derived
  *     arithmetically from the events table (`lsn = event_id`, key
  *     `(user_id, event_id mod 50)`, every `mod 10 == 7` event a
  *     delete), applied through [[MergeApply.merge]] across four
  *     out-of-order epochs. The final table state must equal DuckDB's
  *     window LWW over the same derived envelope — the merge kernel's
  *     dedup, delete, and cross-epoch convergence graded externally.
  *
  * Scale shape: both run the engine's real write path (hash-bucketed
  * shuffle, per-bucket merge); nothing here collects to the driver. The
  * scratch tables live under java.io.tmpdir, fresh per call — the gate
  * measures the engine, not leftover state.
  */
object LakeGateQueries {
  type Q = (SparkSession, String) => DataFrame

  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")

  /** A fresh scratch table dir for one call: a not-yet-existing child of
    * its own new temp directory, so no two calls — whatever their input
    * paths — share or wipe each other's tables. The result frame reads
    * the table lazily, so the directory is removed at JVM exit. */
  private def scratch(tag: String): String = {
    val root = Files.createTempDirectory(s"graft-gate-$tag").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root): Unit)
    new File(root, "table").getAbsolutePath
  }

  /** q49: events through the batch-relation write + read, then the q42
    * assembly over the read-back rows. */
  private val q49: Q = (s, d) => {
    val dir = scratch("roundtrip")
    events(s, d)
      .select(
        col("user_id").cast(StringType).as("conv_id"),
        col("event_id").cast(IntegerType).as("turn_idx"),
        lit("user").as("role"),
        col("event_type").as("text"),
        lit(null).cast(StringType).as("tool"),
        col("ts").cast(TimestampType).as("ts"))
      .write.format("graft-table").option("nBuckets", "8")
      .mode(SaveMode.Append).save(dir)
    val back = s.read.format("graft-table").load(dir)
    TranscriptQueries.assemble(back, "conv_id", "turn_idx", "text")
  }

  private val q49Sql =
    """SELECT CAST(user_id AS VARCHAR) AS conv_id,
       string_agg(event_type, '|' ORDER BY event_id) AS transcript,
       COUNT(*) AS n_turns, CAST(MAX(event_id) AS INT) AS last_turn_idx
       FROM events GROUP BY user_id"""

  /** q50: the derived changelog — unique monotone `lsn`, colliding keys
    * (50 turns per actor), ~10% deletes — merged over four epochs split
    * by `lsn mod 4`, so every epoch carries keys the others also touch
    * and LSNs arrive out of order across epochs. */
  private val q50: Q = (s, d) => {
    val dir = scratch("lww")
    val t = LakeTable.createTable(s, dir, Schemas.transcript, 8)
    val env = events(s, d).select(
      col("event_id").cast(LongType).as("lsn"),
      when(pmod(col("event_id"), lit(10)) === 7, lit("D"))
        .otherwise(lit("I")).as("op"),
      col("user_id").cast(StringType).as("conv_id"),
      pmod(col("event_id"), lit(50)).cast(IntegerType).as("turn_idx"),
      lit("user").as("role"),
      col("event_type").as("text"),
      lit(null).cast(StringType).as("tool"),
      col("ts").cast(TimestampType).as("ts"))
    (0 until 4).foreach { i =>
      MergeApply.merge(t, env.filter(pmod(col("lsn"), lit(4)) === i),
        epochId = i.toLong): Unit
    }
    t.read().select(col("conv_id"), col("turn_idx"), col("text"))
  }

  private val q50Sql =
    """WITH env AS (
        SELECT CAST(user_id AS VARCHAR) AS conv_id,
          CAST(event_id % 50 AS INT) AS turn_idx,
          event_id AS lsn,
          CASE WHEN event_id % 10 = 7 THEN 'D' ELSE 'I' END AS op,
          event_type AS text
        FROM events
      ), w AS (
        SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                     ORDER BY lsn DESC) AS rn
        FROM env)
      SELECT conv_id, turn_idx, text FROM w WHERE rn = 1 AND op <> 'D'"""

  val queries: Map[String, Q] = Map(
    "q49_lake_roundtrip" -> q49,
    "q50_lake_merge_lww" -> q50)

  val oracles: Map[String, String] = Map(
    "q49_lake_roundtrip" -> q49Sql,
    "q50_lake_merge_lww" -> q50Sql)
}
