package graft.plug

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.{Success, Try}

/** Compiles a [[PlugRule]] into Catalyst `Column` expressions.
  *
  * Where the reference generates SQL text against a temp view
  * (reference: src/main/scala/sparkplug/models/PlugRule.scala:49-124,
  * src/main/scala/sparkplug/SparkPlug.scala:98-107), we compile each rule to
  * a single set of column updates applied as one projection — no temp-view
  * mutation, no SQL string splicing. The audit trail costs one
  * bitwise OR per rule on a `Long` fired-rule mask; [[SparkPlug]] turns the
  * masks into the audit array once, after the last rule.
  */
object RuleCompiler {

  /** Coerce a string action value to a typed literal `Column`.
    *
    * Semantics match the reference exactly (PlugRule.scala:132-141):
    *   - a value containing ANY backtick is raw SQL with all backticks
    *     stripped (the whole Spark SQL expression surface);
    *   - else Int -> bare int literal, Double -> double-cast literal
    *     (the cast is also what change detection compares against),
    *     String -> string literal;
    *   - any other target type is a coercion failure (surfaced by
    *     validation as "cannot be assigned").
    */
  def coerceValue(actionValue: String, dataType: DataType): Try[Column] =
    if (actionValue.contains('`')) {
      Success(expr(actionValue.replace("`", "")))
    } else {
      Try(dataType match {
        case IntegerType => lit(actionValue.toInt)
        case DoubleType  => lit(actionValue.toDouble).cast(DoubleType)
        case StringType  => lit(actionValue)
      })
    }

  /** One compiled rule: every (top-level) column it rewrites, the old-value
    * copies (if keepOldField) as copy name -> copied column, in action
    * order, and `fired` — true where the rule matched AND changed
    * something, the gate behind the audit trail and the per-rule change
    * counts. Applied as one projection of `allUpdates`. */
  case class Compiled(
      updates: Seq[(String, Column)],
      oldCopies: Seq[(String, String)],
      fired: Column
  ) {
    def allUpdates: Seq[(String, Column)] = oldCopies.map { case (n, k) => n -> col(k) } ++ updates
  }

  /** Compiles `rule` over a frame of `schema`, writing its actions where
    * `cond` holds (the rule's own condition, unless the caller narrows it). */
  def compile(rule: PlugRule, schema: StructType, keepOldField: Boolean, cond: Column): Compiled = {
    val fields = PlugRule.buildFieldsMap(schema).toMap

    // A rule with no actions is a no-op projection the reference only
    // rejects via a SQL parse error when validation is off — fail with a
    // real message instead (documented divergence; validation-on surfaces
    // the same text as a PlugRuleValidationError).
    if (rule.actions.isEmpty)
      throw new IllegalArgumentException(
        s"""Rule "${rule.name}": At the least one action must be specified per rule.""")

    // True when some prefix of the dotted path is an array-of-struct —
    // the action targets a PER-ELEMENT field and compiles to transform().
    def crossesArray(key: String): Boolean = {
      val segs = key.split('.')
      (1 until segs.length).exists { i =>
        fields.get(segs.take(i).mkString(".")).exists(_.isInstanceOf[ArrayType])
      }
    }

    // The parent path when it is a string-keyed map: the action targets
    // one MAP ENTRY.
    def mapEntryParent(key: String): Option[String] = PlugRule.mapEntryParent(fields, key).map(_._1)

    // Invalid literals silently become NULL assignments when validation is
    // off — reference parity (PlugRule.scala:129 `.getOrElse(null)`).
    // An action key ABSENT from the schema fails here: the reference fails
    // too (its generated `if(cond, v, missing_col)` dies in analysis with
    // an unresolved-column error); we raise the validation message rather
    // than silently adding a new column via withColumns.
    val converted: Seq[(PlugAction, Column)] = rule.actions.map { a =>
      val dt = PlugRule.targetType(fields, a.key).getOrElse(throw new IllegalArgumentException(
        s"""Rule "${rule.name}": Field "${a.key}" not found in the schema."""))
      a -> coerceValue(a.value, dt).getOrElse(lit(null))
    }

    // Null-safe change detection, OR-ed across actions; the comparison
    // operand is the post-coercion value, matching the reference's
    // `not(key <=> cast(v as double))` (PlugRule.scala:50,58). For a
    // per-element action the extraction `col("items.price")` resolves to
    // the ARRAY of element values, so the gate is "some element differs"
    // (exists), null/empty arrays counting as unchanged.
    val anyChanged: Column =
      converted.map { case (a, v) =>
        if (crossesArray(a.key))
          coalesce(exists(col(a.key), e => !(e <=> v)), lit(false))
        else mapEntryParent(a.key) match {
          case Some(p) =>
            !(element_at(col(p), lit(a.key.split('.').last)) <=> v)
          case None => !(col(a.key) <=> v)
        }
      }.reduceOption(_ || _).getOrElse(lit(false))

    // Per-element override builder: walk the dotted path through the
    // column's type, rebuilding structs via withField and mapping arrays
    // via transform (null structs/arrays propagate untouched at every
    // level — transform(null) is null, withField on null is null). The
    // row-level rule condition is captured by the lambda, so one codegen'd
    // projection rewrites every element of every matching row.
    def overrideAt(dt: DataType, node: Column, segs: Seq[String], v: Column): Column =
      dt match {
        case ArrayType(et: StructType, _) if segs.nonEmpty =>
          transform(node, x => overrideAt(et, x, segs, v))
        case MapType(StringType, _, _) if segs.size == 1 =>
          // one map ENTRY: drop any existing binding for the key, then add
          // the override (map_concat under the default EXCEPTION dedup
          // policy requires the filter); null maps pass through untouched
          val updated = map_concat(
            map_filter(node, (k, _) => k =!= segs.head),
            map(lit(segs.head), v))
          when(cond && node.isNotNull, updated).otherwise(node)
        case st: StructType if segs.nonEmpty =>
          node.withField(segs.head,
            overrideAt(st(segs.head).dataType, node.getField(segs.head), segs.tail, v))
        case _ =>
          require(segs.isEmpty, s"path remainder ${segs.mkString(".")} at scalar type $dt")
          when(cond, v).otherwise(node)
      }

    // Group actions by the top-level column so two actions on the same
    // struct parent fold into ONE rebuild (fixes reference quirk of
    // duplicate `parent_new` columns, PlugRule.scala:121).
    val updates: Seq[(String, Column)] =
      converted.groupBy(_._1.updateKey).toSeq.sortBy(_._1).map { case (top, acts) =>
        val updated = acts.foldLeft(col(top)) {
          case (acc, (a, v)) if a.key.contains('.') &&
              (crossesArray(a.key) || mapEntryParent(a.key).isDefined) =>
            // Array-of-struct element or map-entry override: the type
            // walker compiles transform/map_concat/withField as the path
            // demands (extensions beyond the reference, which only
            // supported scalar-struct children — README.md:161).
            overrideAt(fields(top), acc, a.key.split('.').drop(1).toSeq, v)
          case (acc, (a, v)) if a.key.contains('.') =>
            // Struct-field override via withField: null parents propagate
            // (withField on a null struct is null), matching the reference's
            // `if(parent is null, null, named_struct(...))` rebuild
            // (PlugRule.scala:111-121). Arbitrary nesting depth is supported
            // (the reference validated deep paths but crashed applying them —
            // lifting the 1-level limit is strictly compatible).
            val relPath = a.key.split('.').drop(1).mkString(".")
            acc.withField(relPath, when(cond, v).otherwise(col(a.key)))
          case (_, (_, v)) =>
            when(cond, v).otherwise(col(top))
        }
        top -> updated
      }

    // keepOldField: retain the pre-rule value as `<col>_<rule>_old`
    // (README.md:186-194). The reference keeps the whole top-level column
    // (its rename targets updateKey, PlugRule.scala:83); we do the same and
    // fix its struct-action leak by always naming by updateKey.
    val oldCopies: Seq[(String, String)] =
      if (!keepOldField) Seq.empty
      else converted.map(_._1.updateKey).distinct.map(k => s"${k}_${rule.name}_old" -> k)

    Compiled(updates, oldCopies, cond && anyChanged)
  }
}
