package graft.cdc

import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.lake.LakeTable

/** Schema-registry events carried IN the change stream (north rule:
  * "schema evolution … driven by a schema registry in the change
  * stream"). A registry event is a change-feed row with `op = "S"` whose
  * `text` column holds a compact JSON payload:
  *
  * {{{
  *   {"add":   {"name": "score", "type": "int", "doc": "…"}}
  *   {"widen": {"name": "score", "type": "long"}}
  * }}}
  *
  * Data events that follow an `add` carry the new column's value in the
  * generic `extras: map<string,string>` envelope column (Debezium-style
  * open after-image); [[MergeApply.normalize]] projects
  * `extras[name]::type` into the typed column. The static envelope stays
  * fully typed, so the hot path pays nothing when no evolution happened.
  *
  * A batch's events fold in LSN order through the one evolution rule
  * ([[LakeTable.evolvedSchema]]) and land as at most ONE schema commit
  * ([[LakeTable.evolveSchema]]). Application is IDEMPOTENT because the
  * rule is: a replayed event finds its column present with the same or a
  * wider type and changes nothing, which makes the crash window between
  * schema commit and merge commit safe under at-least-once redelivery.
  * An `add` naming an existing column (in any letter case) evolves that
  * column by the same rule; a `widen` naming a missing column is an
  * error.
  *
  * This replaces the reference's destructive `migrate_schema` (drop +
  * recreate + data-dictionary stash/restore, reference:
  * engine/etl_util.py:630-664, 87-115) with additive in-place evolution:
  * old files are never rewritten, column docs ride along in the snapshot.
  */
object SchemaRegistry {

  final case class SchemaChange(kind: String, name: String, dt: DataType,
      doc: Option[String])

  private def parseType(s: String): DataType = s match {
    case "int" | "integer" => IntegerType
    case "long" | "bigint" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" | "text" => StringType
    case "boolean" | "bool" => BooleanType
    case "timestamp" => TimestampType
    case "date" => DateType
    case other => DataType.fromDDL(other)
  }

  def parse(json: String): SchemaChange = {
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(json)
    (j \ "add", j \ "widen") match {
      case (JObject(_), _) =>
        val a = j \ "add"
        SchemaChange("add", (a \ "name").extract[String],
          parseType((a \ "type").extract[String]),
          (a \ "doc").extractOpt[String])
      case (_, JObject(_)) =>
        val w = j \ "widen"
        SchemaChange("widen", (w \ "name").extract[String],
          parseType((w \ "type").extract[String]), None)
      case _ => throw new IllegalArgumentException(
        s"unrecognized schema-registry event: $json")
    }
  }

  /** Apply a batch's registry events (payloads in LSN order) in at most
    * one schema commit; true when the schema changed. */
  def apply(table: LakeTable, events: Seq[String]): Boolean = {
    val changes = events.map(parse)
    val cur = table.snapshot.userSchema
    val target = changes.foldLeft(cur) { (s, c) =>
      if (c.kind == "widen" && !s.fieldNames.exists(_.equalsIgnoreCase(c.name)))
        throw new IllegalArgumentException(
          s"widen of missing column ${c.name}: add it first")
      LakeTable.evolvedSchema(s, StructType(Seq(StructField(c.name, c.dt))))
    }
    table.evolveSchema(target, changes.flatMap(c => c.doc.map(c.name -> _)).toMap)
    target != cur
  }
}
