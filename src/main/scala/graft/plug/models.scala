package graft.plug

import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructType}

/** A single column override: set `key` (possibly a dotted struct path) to
  * `value` when the owning rule's condition holds.
  *
  * Mirrors the reference data model (reference:
  * src/main/scala/sparkplug/models/PlugRule.scala:10-12) but is compiled to
  * Catalyst `Column` expressions instead of SQL text.
  */
case class PlugAction(key: String, value: String) {
  /** Top-level column this action touches (`price.minPrice` -> `price`). */
  val updateKey: String = key.split('.').head
}

/** Validation error surfaced by [[SparkPlug.validate]].
  * (reference: src/main/scala/sparkplug/models/PlugRuleValidationError.scala:3) */
case class PlugRuleValidationError(name: String, error: String)

/** Audit record appended to the plug-details array column for every row a
  * rule changed. (reference: src/main/scala/sparkplug/models/PlugDetail.scala:3) */
case class PlugDetail(name: String, version: String, fieldNames: Seq[String])

/** A plugging rule: rows matching the Spark-SQL `condition` get each action's
  * column overwritten with the action value (typed literal, or arbitrary SQL
  * when backtick-quoted).
  *
  * (reference: src/main/scala/sparkplug/models/PlugRule.scala:16)
  */
case class PlugRule(name: String, version: String, condition: String, actions: Seq[PlugAction]) {

  /** Static (no-Spark-session) validation: actions non-empty, every action key
    * present in the (recursively flattened) schema, literal coercible to the
    * target type. Error strings match the reference verbatim
    * (reference: PlugRule.scala:23-44).
    */
  def validate(schema: StructType): List[PlugRuleValidationError] = {
    if (actions.isEmpty)
      List(validationError("At the least one action must be specified per rule."))
    else {
      val fields = PlugRule.buildFieldsMap(schema).toMap
      actions.flatMap { action =>
        PlugRule.targetType(fields, action.key) match {
          case None =>
            Some(validationError(s"""Field "${action.key}" not found in the schema."""))
          // Backtick values bypass static type checking entirely (reference:
          // PlugRule.scala:132-135 converts them without validation); parse
          // errors in the SQL surface at the dry-run as "[SQL Error] ...",
          // never here — coercing them statically would throw ParseException
          // out of validate() instead of returning an error list.
          case Some(dt) if !action.value.contains('`') &&
              RuleCompiler.coerceValue(action.value, dt).isFailure =>
            Some(validationError(s"""Value "${action.value}" cannot be assigned to field ${action.key}."""))
          case _ => None
        }
      }.toList
    }
  }

  private def validationError(message: String) = PlugRuleValidationError(name, message)
}

object PlugRule {
  /** Recursive flatten of a StructType into dotted-path -> DataType pairs;
    * struct parents are included as well (reference: PlugRule.scala:146-151).
    * Extension beyond the reference: an array-of-struct field also
    * contributes its ELEMENT fields (`items.price` where
    * `items: array<struct<price,…>>` maps to the element's price type), so
    * rules can target per-element fields — validated with the element
    * field's type and compiled to a `transform` by the RuleCompiler. */
  def buildFieldsMap(schema: StructType, prefix: String = ""): Seq[(String, DataType)] =
    schema.fields.toSeq.flatMap {
      case f if f.dataType.isInstanceOf[StructType] =>
        (s"$prefix${f.name}", f.dataType) +:
          buildFieldsMap(f.dataType.asInstanceOf[StructType], s"$prefix${f.name}.")
      case f if f.dataType.isInstanceOf[ArrayType] &&
          f.dataType.asInstanceOf[ArrayType].elementType.isInstanceOf[StructType] =>
        (s"$prefix${f.name}", f.dataType) +:
          buildFieldsMap(
            f.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType],
            s"$prefix${f.name}.")
      case f => Seq((s"$prefix${f.name}", f.dataType))
    }

  /** The parent path of `key` and its value type, when that parent is a
    * string-keyed map in `fields` ([[buildFieldsMap]]'s pairs): the key then
    * targets one map ENTRY, whose key is data, so only the parent needs to
    * exist in the schema. */
  private[plug] def mapEntryParent(fields: Map[String, DataType], key: String): Option[(String, DataType)] = {
    val parent = key.split('.').dropRight(1).mkString(".")
    if (!key.contains('.')) None
    else fields.get(parent).collect { case MapType(StringType, valueType, _) => parent -> valueType }
  }

  /** The type an action on `key` writes: the field's own type, or the value
    * type of the map whose entry the key names. */
  private[plug] def targetType(fields: Map[String, DataType], key: String): Option[DataType] =
    fields.get(key).orElse(mapEntryParent(fields, key).map(_._2))
}
