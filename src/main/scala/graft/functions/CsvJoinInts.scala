package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** array<int> → the comma-joined decimal string, null elements as '~' —
  * byte-identical to
  * `concat_ws(",", transform(a, x => coalesce(cast(x as string), '~')))`
  * (Integer.toString is exactly Spark's int→string cast), in ONE fused
  * pass.
  *
  * Why custom (r6): the composed form materializes an intermediate
  * array of ~264 boxed per-element strings per row before the join —
  * at 10^12 rows the content-hash dedup key (v_seq_dup_content) pays
  * an allocation per token instance. This expression appends digits
  * straight into one builder per row (codegen'd via doGenCode, zero
  * UDFs — the TokenStats pattern). A null ARRAY yields "", as concat_ws
  * does, so the output is never null.
  */
object CsvJoinIntsUtil {
  def join(a: ArrayData): UTF8String = {
    if (a == null) return UTF8String.EMPTY_UTF8
    val n = a.numElements()
    if (n == 0) return UTF8String.EMPTY_UTF8
    val sb = new java.lang.StringBuilder(n * 8)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(',')
      if (a.isNullAt(i)) sb.append('~') else sb.append(a.getInt(i))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

case class CsvJoinInts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    CsvJoinIntsUtil.join(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      UTF8String ${ev.value} =
        graft.functions.CsvJoinIntsUtil.join(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CsvJoinInts =
    copy(child = newChild)

  override def prettyName: String = "csv_join_ints"
}

object CsvJoinInts {
  /** Column API: csv_join_ints(arr) → string. */
  def csv_join_ints(c: Column): Column =
    ColumnBridge.column(CsvJoinInts(ColumnBridge.expression(c)))
}
