package graft.functions

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Rows collected on the driver, by key: the build side of a hash join,
  * held in the plan instead of broadcast by a job. */
final case class LookupTable(schema: StructType,
                             rows: java.util.HashMap[UTF8String, InternalRow]) {
  // plan strings name the table, not its contents
  override def toString: String = s"lookup table of ${rows.size} rows"
}

/** `graft_lookup(key)`: the row of `table` whose key equals `key`, as a
  * struct, or null. For a table that holds at most one row per key, this
  * is what a left equi-join against those rows gives each input row, as a
  * hash probe inside the row's own stage: no exchange, so no broadcast
  * job and no adaptive re-plan. Generated code reads the table through
  * `ctx.addReferenceObj`, so the source is the same for every table. */
case class Lookup(child: Expression, table: LookupTable)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = table.schema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_lookup"

  override protected def nullSafeEval(key: Any): Any = table.rows.get(key)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rows = ctx.addReferenceObj("lookupRows", table.rows, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, key => s"""
       |${ev.value} = (InternalRow) $rows.get($key);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LookupFunctions {
  /** A lookup of `key` among `rows` (of `schema`) by their string column
    * `keyColumn`, returning the other columns as a struct; None when that
    * column is not a string or two rows share a key, which a join would
    * match twice. Rows with a null key are left out: an equi-join never
    * matches them. */
  def lookup(key: Column, rows: Seq[Row], schema: StructType,
             keyColumn: String): Option[Column] = {
    if (schema(keyColumn).dataType != StringType) return None
    val keyAt = schema.fieldIndex(keyColumn)
    val valueAt = schema.indices.filterNot(_ == keyAt)
    val value = StructType(valueAt.map(schema.fields))
    val toValue = CatalystTypeConverters.createToCatalystConverter(value)
    val table = new java.util.HashMap[UTF8String, InternalRow]()
    val unique = rows.filterNot(_.isNullAt(keyAt)).forall { r =>
      table.put(UTF8String.fromString(r.getString(keyAt)),
        toValue(Row.fromSeq(valueAt.map(r.get))).asInstanceOf[InternalRow]) == null
    }
    if (unique) Some(Bridge.column(Lookup(Bridge.expression(key), LookupTable(value, table))))
    else None
  }
}
