package graft.plug

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
import org.apache.spark.sql.{Column, Encoders}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.bitset.BitSetMethods

/** Builds the records of the audit-trail array column.
  *
  * The reference implements the audit append as a registered `UDF4` that
  * appends a `GenericRowWithSchema` per firing rule (reference:
  * src/main/scala/sparkplug/udfs/SparkPlugUDFs.scala:14-31). Here a record
  * is a built-in `Column` expression that must not read the row: the
  * engine evaluates each rule's record once on the driver, and every row's
  * audit array picks from those values by the row's fired-rule masks
  * ([[FiredRecords]]). A record that reads a column fails `plug()` with an
  * `IllegalArgumentException` naming the rule.
  *
  * Custom audit record types (reference README.md:108-136) are supported by
  * supplying a custom record-struct builder instead of a custom UDF.
  */
trait AuditAppender extends Serializable {
  /** Schema of one audit record. */
  def detailSchema: StructType

  /** Schema-correct empty audit array (replaces the reference's
    * `udf(() => Seq[T]())`, SparkPlugUDFs.scala:22). */
  def emptyDetails: Column = array().cast(ArrayType(detailSchema, containsNull = true))

  /** One audit record as a struct Column; row-independent. */
  def record(ruleName: String, ruleVersion: String, fieldNames: Seq[String]): Column
}

object AuditAppender {
  /** Default appender producing [[PlugDetail]](name, version, fieldNames). */
  val default: AuditAppender = new AuditAppender {
    override val detailSchema: StructType = Encoders.product[PlugDetail].schema
    override def record(ruleName: String, ruleVersion: String, fieldNames: Seq[String]): Column =
      struct(
        lit(ruleName).as("name"),
        lit(ruleVersion).as("version"),
        array(fieldNames.map(lit): _*).as("fieldNames")
      )
  }

  /** Custom audit record type: derive the schema from a case class and let
    * the caller shape the record struct (fields must match the case class). */
  def forProduct[T <: Product: scala.reflect.runtime.universe.TypeTag](
      build: (String, String, Seq[String]) => Column
  ): AuditAppender = new AuditAppender {
    override val detailSchema: StructType = Encoders.product[T].schema
    override def record(ruleName: String, ruleVersion: String, fieldNames: Seq[String]): Column =
      build(ruleName, ruleVersion, fieldNames)
  }
}

/** The audit array of one row: for every set bit `b` of mask word `w`, in
  * ascending order, record `64 * w + b` of `records`, which hold every
  * rule's record, evaluated and encoded once as `UnsafeRow` bytes. Rule
  * order is bit order, so records come out in rule order. Each row's array is
  * built by [[FiredRecords.select]] as one allocation and one byte copy per
  * record, in generated code as well as in `eval`; the generated code is one
  * call for any number of rules, and the output projection writes the result
  * with one copy. */
case class FiredRecords(masks: Seq[Expression], records: UnsafeArrayData, recordType: StructType)
    extends Expression {

  override def children: Seq[Expression] = masks
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(recordType, containsNull = false)
  override def toString: String = s"fired_records(${masks.mkString(", ")})"

  // a null mask reads as 0 on both paths (unboxing null gives 0L)
  override def eval(input: InternalRow): Any =
    FiredRecords.select(records, masks.map(_.eval(input).asInstanceOf[Long]).toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val recordsRef = ctx.addReferenceObj("auditRecords", records, classOf[UnsafeArrayData].getName)
    val words = masks.map(_.genCode(ctx))
    val values = words.map(w =>
      if (w.isNull == FalseLiteral) w.value.toString else s"(${w.isNull} ? 0L : ${w.value})")
    ev.copy(
      code = code"""
        |${words.map(_.code).mkString("\n")}
        |UnsafeArrayData ${ev.value} = graft.plug.FiredRecords.select($recordsRef,
        |  new long[] {${values.mkString(", ")}});
      """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FiredRecords =
    copy(masks = newChildren)
}

object FiredRecords {
  /** The records of `records` that the set bits of `words` select, in bit
    * order, as a new `UnsafeArrayData`: one pass sums the selected records'
    * sizes from their offset-and-size slots, the array is allocated once,
    * and a second pass writes each slot and copies each record's bytes. */
  def select(records: UnsafeArrayData, words: Array[Long]): UnsafeArrayData = {
    val recordBase = records.getBaseObject
    val recordOffset = records.getBaseOffset
    var n, bytes, w = 0
    while (w < words.length) {
      var m = words(w)
      while (m != 0) {
        bytes += records.getLong(64 * w + java.lang.Long.numberOfTrailingZeros(m)).toInt
        n += 1
        m &= m - 1
      }
      w += 1
    }
    val header = UnsafeArrayData.calculateHeaderPortionInBytes(n)
    val out = new Array[Byte](header + 8 * n + bytes)
    val base = Platform.BYTE_ARRAY_OFFSET
    Platform.putLong(out, base, n)
    var cursor = header + 8 * n
    var k = 0
    w = 0
    while (w < words.length) {
      var m = words(w)
      while (m != 0) {
        val i = 64 * w + java.lang.Long.numberOfTrailingZeros(m)
        if (records.isNullAt(i)) BitSetMethods.set(out, base + 8, k)
        else {
          val slot = records.getLong(i)
          val size = slot.toInt
          Platform.putLong(out, base + header + 8L * k, (cursor.toLong << 32) | size)
          Platform.copyMemory(recordBase, recordOffset + (slot >>> 32), out, base + cursor, size)
          cursor += size
        }
        k += 1
        m &= m - 1
      }
      w += 1
    }
    val array = new UnsafeArrayData
    array.pointTo(out, base, out.length)
    array
  }
}
