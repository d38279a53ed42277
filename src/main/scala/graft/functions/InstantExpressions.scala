package graft.functions

import java.time.Instant

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
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
  * its generated code reads the value through `ctx.addReferenceObj` into
  * a field set once per generated instance, so the source is the same
  * for every instant, and a row reads that field where it read an inline
  * constant. */
case class BatchInstant(value: Long, dataType: DataType) extends LeafExpression {
  require(dataType == TimestampType || dataType == LongType,
    s"a batch instant is a timestamp or epoch millis, not $dataType")

  override def nullable: Boolean = false

  override def foldable: Boolean = false

  override def prettyName: String = "graft_batch_instant"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("batchInstant", java.lang.Long.valueOf(value), "java.lang.Long")
    val field = ctx.addMutableState(CodeGenerator.JAVA_LONG, "batchInstant",
      v => s"$v = $ref.longValue();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object InstantFunctions {
  /** `at` as a timestamp column that compiles to the same source for
    * every instant. */
  def batchTimestamp(at: Instant): Column =
    Bridge.column(BatchInstant(DateTimeUtils.instantToMicros(at), TimestampType))

  /** `at` as epoch milliseconds: `unix_millis` of [[batchTimestamp]],
    * with no per-row division. */
  def batchMillis(at: Instant): Column =
    Bridge.column(BatchInstant(Math.floorDiv(DateTimeUtils.instantToMicros(at), 1000L), LongType))
}
