package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `exists(arr, x => x.<slot> OP v)` over a typed-value array
  * ([[graft.model.InfotonModel.ValueType]]) as ONE native expression —
  * the shape of every plain qp value clause.
  *
  * Why a custom expression (same escalation as [[GramRunStats]]):
  * Spark's `ArrayExists` is `CodegenFallback`, so one `exists` in a
  * scan's condition drops the whole `Filter` out of whole-stage
  * codegen and evaluates it interpreted, row by row, with a lambda
  * frame per element. This expression generates one call per row and
  * keeps the `Filter` inside the stage.
  *
  * Semantics are exactly `exists`'s three-valued ones: true when some
  * element's slot compares true; otherwise null when some element or
  * its slot is null (or the comparand is null and the array is not
  * empty); otherwise false. A null array is null. Comparisons use
  * Spark's SQL ordering: doubles through `SQLOrderingUtil` (NaN equals
  * NaN and sorts above every number, −0.0 equals 0.0), strings in
  * binary order, timestamps as micros, false < true.
  *
  * `value` must be a plan-time constant: a literal, or an expression
  * over literals such as `to_timestamp(lit(...))`, which the optimizer
  * folds to one (no column references, deterministic). The generated
  * Java never embeds it:
  * the evaluated comparand travels in a [[SlotTest]] reference object,
  * so every clause of one shape compiles to the same source whatever
  * its value, and Spark's codegen cache serves a repeated query shape
  * without a new compile. */
case class SlotExists(left: Expression, value: Expression, slot: String,
                      op: String) extends BinaryExpression {
  override def right: Expression = value
  override def prettyName: String = "slot_exists"
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def toString: String = s"$prettyName($left, $slot $op $value)"
  override def sql: String = s"$prettyName(${left.sql}, $slot $op ${value.sql})"

  private def struct: Option[StructType] = left.dataType match {
    case ArrayType(st: StructType, _) => Some(st)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = struct match {
    case None => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<struct>, got ${left.dataType.simpleString}")
    case Some(st) => st.fields.find(_.name == slot) match {
      case None => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: no slot '$slot' in ${st.simpleString}")
      case Some(f) =>
        val dt = f.dataType
        if (!SlotTest.Kinds.contains(dt))
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: slot '$slot' has unsupported type ${dt.simpleString}")
        else if (value.dataType != dt)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: comparand ${value.dataType.simpleString} vs slot " +
              dt.simpleString)
        else if (value.references.nonEmpty || !value.deterministic)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: comparand must be a plan-time constant")
        else if (!SlotTest.Ops.contains(op))
          TypeCheckResult.TypeCheckFailure(s"$prettyName: unknown op '$op'")
        else TypeCheckResult.TypeCheckSuccess
    }
  }

  // −0.0 and 0.0 are one comparand in SQL ordering. Catalyst's Literal
  // equality agrees but its hash does not, and common-subexpression
  // elimination over a projection holding both clauses then evaluates
  // a NOT before the clause it negates; one canonical form avoids it.
  override lazy val canonicalized: Expression =
    withCanonicalizedChildren match {
      case e @ SlotExists(_, Literal(d: Double, DoubleType), _, _) if d == 0.0 =>
        e.copy(value = Literal(0.0))
      case e => e
    }

  @transient private lazy val test: SlotTest = {
    val st = struct.get
    val i = st.fieldIndex(slot)
    new SlotTest(i, st.length, SlotTest.Kinds(st(i).dataType),
      SlotTest.Ops(op), value.eval())
  }

  override def eval(input: InternalRow): Any = {
    val arr = left.eval(input)
    if (arr == null) null
    else test.test(arr.asInstanceOf[ArrayData]) match {
      case SlotTest.Null => null
      case r => r == SlotTest.True
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val arr = left.genCode(ctx)
    val t = ctx.addReferenceObj("slotTest", test, classOf[SlotTest].getName)
    val r = ctx.freshName("r")
    ev.copy(code = code"""
      |${arr.code}
      |boolean ${ev.isNull} = true;
      |boolean ${ev.value} = false;
      |if (!${arr.isNull}) {
      |  int $r = $t.test(${arr.value});
      |  ${ev.isNull} = $r < 0;
      |  ${ev.value} = $r > 0;
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, value = newRight)
}

/** The per-row loop of [[SlotExists]], with the comparand already
  * evaluated (a Catalyst internal value: boxed double, timestamp
  * micros, `UTF8String` or boolean). `test` returns [[SlotTest.True]],
  * [[SlotTest.False]] or [[SlotTest.Null]]. */
final class SlotTest(ordinal: Int, numFields: Int, kind: Int, op: Int,
                     cmp: Any) extends Serializable {
  import SlotTest._
  private val d = cmp match { case x: Double => x; case _ => 0.0 }
  private val l = cmp match { case x: Long => x; case _ => 0L }
  private val b = cmp match { case x: Boolean => x; case _ => false }
  private val s = cmp match { case x: UTF8String => x; case _ => null }

  def test(arr: ArrayData): Int = {
    val n = arr.numElements()
    if (n == 0) return False
    if (cmp == null) return Null
    var sawNull = false
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) sawNull = true
      else {
        val row = arr.getStruct(i, numFields)
        if (row.isNullAt(ordinal)) sawNull = true
        else {
          val c = kind match {
            case Num => SQLOrderingUtil.compareDoubles(row.getDouble(ordinal), d)
            case Ts => java.lang.Long.compare(row.getLong(ordinal), l)
            case Str => row.getUTF8String(ordinal).compareTo(s)
            case _ => java.lang.Boolean.compare(row.getBoolean(ordinal), b)
          }
          val hit = op match {
            case Eq => c == 0
            case Lt => c < 0
            case Le => c <= 0
            case Gt => c > 0
            case _ => c >= 0
          }
          if (hit) return True
        }
      }
      i += 1
    }
    if (sawNull) Null else False
  }
}

object SlotTest {
  val True = 1; val False = 0; val Null = -1
  private val Num = 0; private val Ts = 1; private val Str = 2; private val Bool = 3
  private val Eq = 0; private val Lt = 1; private val Le = 2; private val Gt = 3
  private val Ge = 4
  private[functions] val Kinds: Map[DataType, Int] = Map(DoubleType -> Num,
    TimestampType -> Ts, StringType -> Str, BooleanType -> Bool)
  private[functions] val Ops: Map[String, Int] =
    Map("=" -> Eq, "<" -> Lt, "<=" -> Le, ">" -> Gt, ">=" -> Ge)
}

object SlotExists {
  /** Column form: `exists(arr, x => x.<slot> <op> value)`, `op` one of
    * `=`, `<`, `<=`, `>`, `>=`. */
  def of(arr: Column, slot: String, op: String, value: Column): Column =
    ColumnBridge.column(SlotExists(ColumnBridge.expression(arr),
      ColumnBridge.expression(value), slot, op))
}
