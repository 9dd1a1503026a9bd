package graft.cdc

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{toCol, toExpr}

/** The rows deletion vectors remove: data-file key → sorted row
  * indexes, keyed by the key's UTF-8 bytes so a lookup converts
  * nothing per row.
  */
private[cdc] final class DeletedPositions(byFile: Map[String, Array[Long]]) extends Serializable {
  private val index = new java.util.HashMap[UTF8String, Array[Long]]()
  byFile.foreach { case (f, ps) => index.put(UTF8String.fromString(f), ps) }
  private val rows = byFile.values.map(_.length.toLong).sum

  /** Whether row `pos` of the data file at `path` is live. The file's
    * key is the path's last two components (bucket dir and file name),
    * taken as a view over the path's bytes, not a copy.
    */
  def live(path: UTF8String, pos: Long): Boolean = {
    val base = path.getBaseObject
    val off = path.getBaseOffset
    val n = path.numBytes
    var i = n - 1
    var slashes = 0
    while (i >= 0 && { if (Platform.getByte(base, off + i) == '/') slashes += 1; slashes < 2 })
      i -= 1
    val ps = index.get(UTF8String.fromAddress(base, off + i + 1, n - i - 1))
    ps == null || java.util.Arrays.binarySearch(ps, pos) < 0
  }

  override def toString: String =
    s"DeletedPositions(${index.size} files, $rows rows)"
}

/** Whether the row at (data-file path `left`, row index `right`) is
  * live: the position filter merge-on-read reads apply. A native
  * predicate, so the check stays inside whole-stage codegen with the
  * vectors as one reference object per task and no per-row copy of the
  * path; a Scala UDF over the same arrays, which converts each row's
  * file key to a JVM string, cost a PK lookup on a 10k-row, 4-bucket
  * store about 3 ms of its ~30 ms. A row without a position (NULL path
  * or index) is live.
  */
private[cdc] final case class LivePosition(left: Expression, right: Expression, deleted: DeletedPositions)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "live_position"

  override def eval(input: InternalRow): Any = {
    val f = left.eval(input)
    val p = right.eval(input)
    f == null || p == null || deleted.live(f.asInstanceOf[UTF8String], p.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = ctx.addReferenceObj("deletedPositions", deleted, classOf[DeletedPositions].getName)
    val f = left.genCode(ctx)
    val p = right.genCode(ctx)
    ev.copy(code = code"""
      ${f.code}
      ${p.code}
      boolean ${ev.value} = ${f.isNull} || ${p.isNull} || $d.live(${f.value}, ${p.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

private[cdc] object LivePosition {
  /** The predicate over the columns `path` (data-file path) and `pos`
    * (row index), true for rows `deleted` (data-file key → row
    * indexes) does not name.
    */
  def apply(path: Column, pos: Column, deleted: Map[String, Array[Long]]): Column =
    toCol(LivePosition(toExpr(path), toExpr(pos), new DeletedPositions(deleted)))
}
