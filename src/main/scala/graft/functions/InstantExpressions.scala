package graft.functions

import java.time.Instant

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.date_format
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, LongType, TimestampType}

/** One instant shared by every write of a micro-batch, as a timestamp
  * (epoch micros) or as epoch millis.
  *
  * `current_timestamp()` is folded into a long literal, and codegen pastes
  * long literals into the generated Java, so every query that carries one
  * compiles a new class: a stream compiled its classify stage, DLQ
  * envelope and sink projections again on every poll batch. This leaf is
  * deterministic but not foldable, so the optimizer keeps it as it is;
  * its generated code reads the value from the expression, passed by
  * `ctx.addReferenceObj` (see [[InstantSlot]]), into a field set once per
  * generated instance, so the source is the same for every instant, and
  * a row reads that field where it read an inline constant.
  *
  * A stream that runs one compiled stage for every batch moves these
  * slots among the stage's references to the batch's instant with [[at]]. */
case class BatchInstant(value: Long, dataType: DataType) extends LeafExpression with InstantSlot {
  require(dataType == TimestampType || dataType == LongType,
    s"a batch instant is a timestamp or epoch millis, not $dataType")

  override def nullable: Boolean = false

  override def foldable: Boolean = false

  override def prettyName: String = "graft_batch_instant"

  /** This slot holding `instant` instead, in the same form. */
  def at(instant: Instant): BatchInstant = BatchInstant.of(instant, dataType)

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("batchInstant", this)
    val field = ctx.addMutableState(CodeGenerator.JAVA_LONG, "batchInstant",
      v => s"$v = $ref.value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object BatchInstant {
  /** `at` as epoch micros for a timestamp, as epoch millis for a long. */
  def of(at: Instant, dataType: DataType): BatchInstant = {
    val micros = DateTimeUtils.instantToMicros(at)
    BatchInstant(if (dataType == LongType) Math.floorDiv(micros, 1000L) else micros, dataType)
  }
}

/** `child`, an expression of [[BatchInstant]]s and constants that reads
  * no column, computed once per plan instance instead of once per row: a
  * batch's archive day, say, which a folded `date_format` of a literal
  * instant gave as a constant. Like [[BatchInstant]] it is deterministic
  * but not foldable, and generated code reads the value by reference, so
  * the source is the same for every batch. */
case class BatchValue(child: Expression) extends UnaryExpression with InstantSlot {
  override def dataType: DataType = child.dataType

  override def nullable: Boolean = child.nullable

  override def foldable: Boolean = false

  override def prettyName: String = "graft_batch_value"

  /** The value, computed once per instance. It is computed on the driver
    * when code is generated or the slot is moved ([[at]]), and a
    * serialized instance carries it, so a task does not compute it again. */
  lazy val value: Any = child.eval(null)

  def at(instant: Instant): BatchValue = {
    val moved = BatchValue(child.transform { case i: BatchInstant => i.at(instant) })
    moved.value
    moved
  }

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    value // now, on the driver, before the reference is serialized
    val boxed = CodeGenerator.boxedType(dataType)
    val ref = ctx.addReferenceObj("batchValue", this)
    val field = ctx.addMutableState(boxed, "batchValue", v => s"$v = ($boxed) $ref.value();")
    ev.copy(code = code"""
      |boolean ${ev.isNull} = $field == null;
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  ${ev.isNull} ? ${CodeGenerator.defaultValue(dataType)} : $field;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** A value that is fixed for one micro-batch and set from its instant:
  * [[BatchInstant]] or [[BatchValue]]. Its generated code reads the value
  * from the expression itself, passed to the generated class as a
  * reference, so the references of a compiled stage can be moved to
  * another batch's instant by replacing these slots, found by their type
  * ([[InstantSlot.at]]), and the stage run again without generating code.
  * An expression that generated code evaluates without codegen is itself
  * a reference, and a slot inside it is moved the same way. */
sealed trait InstantSlot extends Expression {
  /** This slot holding its value at `instant`. */
  def at(instant: Instant): InstantSlot
}

object InstantSlot {
  /** `references` of a generated stage with every slot moved to
    * `instant`, also one inside a referenced expression; every other
    * reference is kept as it is. */
  def at(references: Array[Any], instant: Instant): Array[Any] = references.map {
    case e: Expression => e.transform { case s: InstantSlot => s.at(instant) }
    case r => r
  }
}

object InstantFunctions {
  /** `at` as a timestamp column that compiles to the same source for
    * every instant. */
  def batchTimestamp(at: Instant): Column = Bridge.column(BatchInstant.of(at, TimestampType))

  /** `at` as epoch milliseconds: `unix_millis` of [[batchTimestamp]],
    * with no per-row division. */
  def batchMillis(at: Instant): Column = Bridge.column(BatchInstant.of(at, LongType))

  /** `at` formatted by `pattern` in the session time zone, as
    * `date_format` of [[batchTimestamp]] gives it, computed once per plan
    * ([[BatchValue]]) rather than per row. */
  def batchFormat(at: Instant, pattern: String): Column =
    Bridge.column(BatchValue(Bridge.expression(date_format(batchTimestamp(at), pattern))))
}
