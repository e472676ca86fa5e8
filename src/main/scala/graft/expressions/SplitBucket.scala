package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Range bucket of `child` over literal split points: the number of
  * `splits` strictly below the key, found by one binary search per row.
  *
  * Ordering contract: comparisons use Catalyst's ordering for the key type,
  * the one `ORDER BY key ASC NULLS FIRST` sorts by, so bucket order and
  * sort order always agree:
  *   - a NULL key is below every split: bucket 0, where nulls-first puts it;
  *   - NaN is greater than every other double/float and equal to NaN, so a
  *     NaN key lands in the top bucket that holds any non-NaN value (above
  *     every split, or with the keys equal to a NaN split);
  *   - −0.0 equals 0.0 (no split separates them).
  *
  * `splits` are Catalyst internal values of the key's type, non-null and
  * sorted ascending under that ordering (duplicates allowed). The generated
  * code reads them from a reference object, so its source is independent of
  * the split values and of their count, and the codegen cache stays hot
  * across calls. Replaces a sum of one `CASE WHEN key > split` per split,
  * which is O(splits) per row and outgrows the 64 KB method limit at about a
  * thousand splits.
  */
case class SplitBucket(child: Expression, splits: IndexedSeq[Any])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, prettyName)

  @transient private lazy val ordering =
    TypeUtils.getInterpretedOrdering(child.dataType)

  override def eval(input: InternalRow): Any = {
    val k = child.eval(input)
    var lo = 0
    if (k != null) {
      var hi = splits.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ordering.compare(splits(mid), k) < 0) lo = mid + 1 else hi = mid
      }
    }
    lo
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(child.dataType)
    val arr = java.lang.reflect.Array.newInstance(
      CodeGenerator.javaClass(child.dataType), splits.length)
    splits.indices.foreach(i => java.lang.reflect.Array.set(arr, i, splits(i)))
    val ref = ctx.addReferenceObj("splits", arr, s"$javaType[]")
    val (s, hi, mid) =
      (ctx.freshName("splits"), ctx.freshName("hi"), ctx.freshName("mid"))
    ev.copy(code = code"""
      ${c.code}
      int ${ev.value} = 0;
      if (!${c.isNull}) {
        $javaType[] $s = $ref;
        int $hi = $s.length;
        while (${ev.value} < $hi) {
          int $mid = (${ev.value} + $hi) >>> 1;
          if (${ctx.genComp(child.dataType, s"$s[$mid]", c.value)} < 0) {
            ${ev.value} = $mid + 1;
          } else {
            $hi = $mid;
          }
        }
      }""", isNull = FalseLiteral)
  }

  // the split list can be thousands of values long: keep plans readable
  override def toString: String = s"split_bucket($child, ${splits.length} splits)"
  override def sql: String = s"split_bucket(${child.sql}, ${splits.length} splits)"

  override protected def withNewChildInternal(c: Expression): SplitBucket =
    copy(child = c)
}
