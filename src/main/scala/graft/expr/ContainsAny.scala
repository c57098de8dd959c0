package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, NullType,
  StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Native Catalyst predicate: does a string contain any of a fixed set
  * of literal substrings? It equals the OR of `instr(c, s) > 0` over
  * the (non-null) needles, null on a null input, but references its
  * input once. That keeps a chain of rule mutators from multiplying its
  * expression when the planner inlines each mutator's output into the
  * next one's eligibility predicate. It scans the UTF-8 bytes as
  * `instr` does; one `rlike` over the quoted needles would decode every
  * value to a Java `String` first, and took about 40% longer on a02's
  * OCR predicate (BASELINE.md, "Rule-mutator eligibility
  * predicates"). */
case class ContainsAny(child: Expression, needles: Seq[String])
    extends UnaryExpression {

  private lazy val needleBytes: Array[UTF8String] =
    needles.map(UTF8String.fromString).toArray

  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case NullType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got " +
          other.catalogString)
    }
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "contains_any"

  override protected def nullSafeEval(input: Any): Any =
    ContainsAny.kernel(input.asInstanceOf[UTF8String], needleBytes)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val kernel = ContainsAny.getClass.getName.stripSuffix("$")
    val ref = ctx.addReferenceObj("needles", needleBytes,
      classOf[Array[UTF8String]].getCanonicalName)
    defineCodeGen(ctx, ev, c => s"$kernel.kernel($c, $ref)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): ContainsAny = copy(child = newChild)
}

object ContainsAny {

  /** Column-level API. */
  def containsAny(c: Column, needles: Seq[String]): Column =
    ColumnBridge.column(ContainsAny(ColumnBridge.expression(c), needles))

  /** Static kernel shared by interpreted eval and generated code. */
  def kernel(text: UTF8String, needles: Array[UTF8String]): Boolean = {
    var i = 0
    while (i < needles.length) {
      if (text.contains(needles(i))) return true
      i += 1
    }
    false
  }
}
