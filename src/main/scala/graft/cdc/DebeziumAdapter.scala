package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Adapter from Debezium-style change records — the de-facto public
  * envelope for binlog/WAL tails (MySQL binlog, Postgres logical
  * decoding, …) — to the engine's merge-ready envelope
  * (`lsn`, `op` ∈ I/U/D, user columns).
  *
  * Accepted record shapes (auto-detected per row, so one feed may mix
  * them):
  *  - **wrapped**: `{"payload": {"op": …, "before": …, "after": …,
  *    "source": {"lsn": …}}}` — the Kafka Connect JSON converter with
  *    schemas enabled;
  *  - **flat**: the same object without the `payload` wrapper — the
  *    converter with schemas disabled.
  *
  * Mapping:
  *  - `op`: `c` (create) and `r` (snapshot read) → `I`; `u` → `U`;
  *    `d` → `D`. Anything else maps to null op, which the merge's
  *    envelope validation rejects or quarantines per
  *    [[MergeConfig.invalidRows]] — the adapter never drops a record
  *    silently.
  *  - row payload: `after` for I/U, `before` for D (a Debezium delete
  *    carries only the preimage).
  *  - `lsn`: ONE ordering field per feed, chosen by `lsnField` —
  *    `"lsn"` (default; Postgres logical decoding), `"sequence"`
  *    (connectors emitting the LSN as a stringified number), or
  *    `"ts_ms"` (payload-level, with `source.ts_ms` as the same-space
  *    fallback; MySQL-shaped feeds without an LSN field — note
  *    millisecond resolution means two same-key changes within one
  *    millisecond tie, so prefer a real LSN whenever the connector
  *    provides one). A per-row fallback ACROSS spaces would be unsound:
  *    one ts_ms-sized value (~1.7e12) leaking into an LSN-sized feed
  *    (~1e9) would out-win every genuine update of its key forever. A
  *    record missing the chosen field yields a null LSN and fails
  *    validation loudly — never a silently mis-ordered event.
  *
  * Kafka log-compaction tombstones (null/empty value) are dropped when
  * `dropTombstones` is set (default): they are a topic-retention
  * artifact, not a change event — the deletion they shadow was already
  * delivered as the `d` record.
  *
  * Everything is codegen'd Catalyst (`from_json` + conditionals): the
  * adapter composes into the same single-pass plan as the merge, no
  * extra action, no UDFs. Schema-change events ride Debezium's separate
  * schema-change topic; feed those through [[SchemaRegistry]] (op="S"
  * events) — this adapter handles the data topic.
  */
object DebeziumAdapter {

  /** Envelope schema for `from_json`: the user row for before/after,
    * plus the op and source coordinates. Unknown JSON fields are
    * ignored by from_json; absent ones parse as null. */
  private def payloadSchema(userSchema: StructType): StructType =
    StructType(Seq(
      StructField("op", StringType),
      StructField("before", userSchema),
      StructField("after", userSchema),
      StructField("ts_ms", LongType),
      StructField("source", StructType(Seq(
        StructField("lsn", LongType),
        StructField("sequence", StringType),
        StructField("ts_ms", LongType))))))

  /** Parse a frame holding Debezium change-record JSON in `jsonCol`
    * into the merge-ready envelope `(lsn, op, <userSchema columns>)`.
    * The result feeds [[MergeApply.merge]] / the `graft-table` sink
    * directly; malformed rows surface as null lsn/op and hit the
    * merge's envelope validation (fail or quarantine — never a silent
    * upsert). */
  def toEnvelope(raw: DataFrame, userSchema: StructType,
      jsonCol: String = "value", dropTombstones: Boolean = true,
      lsnField: String = "lsn"): DataFrame = {
    require(Set("lsn", "sequence", "ts_ms").contains(lsnField),
      s"lsnField must be lsn, sequence, or ts_ms, got '$lsnField'")
    val ps = payloadSchema(userSchema)
    val wrapped = StructType(Seq(StructField("payload", ps)))
    val json = col(jsonCol).cast(StringType)
    val base = if (dropTombstones) {
      raw.filter(json.isNotNull && trim(json) =!= lit(""))
    } else raw
    // one parse per shape; a wrapped record yields a non-null payload,
    // a flat one parses directly — first hit wins. A record that is
    // valid JSON but neither shape leaves op null -> validation.
    val p = coalesce(
      from_json(json, wrapped).getField("payload"),
      from_json(json, ps))
    val op = p.getField("op")
    val mappedOp = when(op.isin("c", "r"), lit("I"))
      .when(op === "u", lit("U"))
      .when(op === "d", lit("D"))
    val row = when(mappedOp === "D", p.getField("before"))
      .otherwise(p.getField("after"))
    val lsn = lsnField match {
      case "lsn" => p.getField("source").getField("lsn")
      case "sequence" =>
        p.getField("source").getField("sequence").cast(LongType)
      case "ts_ms" => // payload-level first; source.ts_ms is the SAME
        // clock (same space), so this one coalesce is sound
        coalesce(p.getField("ts_ms"),
          p.getField("source").getField("ts_ms"))
    }
    base
      .select(lsn.as("lsn"), mappedOp.as("op"), row.as("__row"))
      .select(col("lsn"), col("op"), col("__row.*"))
  }
}
