package graft.plug

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
import org.apache.spark.sql.{Column, Encoders}

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
        typedlit(fieldNames).as("fieldNames")
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
  * ascending order, record `64 * w + b` of the driver-evaluated `records`.
  * Rule order is bit order, so records come out in rule order. Interpreted
  * (`CodegenFallback`): the work per row is one pass over the set bits, and
  * the generated code stays the same size for any number of rules. */
case class FiredRecords(masks: Seq[Expression], records: ArrayData, recordType: StructType)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = masks
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(recordType, containsNull = false)
  override def toString: String = s"fired_records(${masks.mkString(", ")})"

  @transient private lazy val maskArray = masks.toArray

  override def eval(input: InternalRow): Any = {
    val words = new Array[Long](maskArray.length)
    var n, w = 0
    while (w < words.length) {
      words(w) = maskArray(w).eval(input).asInstanceOf[Long]
      n += java.lang.Long.bitCount(words(w))
      w += 1
    }
    val out = new Array[Any](n)
    var k = 0
    w = 0
    while (w < words.length) {
      var m = words(w)
      while (m != 0) {
        out(k) = records.getStruct(64 * w + java.lang.Long.numberOfTrailingZeros(m), recordType.size)
        k += 1
        m &= m - 1
      }
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FiredRecords =
    copy(masks = newChildren)
}
