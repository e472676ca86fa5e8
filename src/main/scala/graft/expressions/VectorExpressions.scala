package graft.expressions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Sequential-fold dot product of two array&lt;double&gt; columns, null
  * when their lengths differ or an element is null. A class rather than a
  * `StaticInvoke`: besides its codegen'd uses it runs interpreted once per
  * corpus row and centroid or plane inside `aggregate`/`transform` lambdas
  * (Similarity.cellFor, cellsFor, lshBucket), where the reflective call
  * measured +7% on an 8-plane lshBucket fold over 200k 64-dim rows. */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("dotRes")
      s"""java.lang.Double $r = graft.expressions.VectorKernels.dot($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** All k-gram hashes (in order, with multiplicity) from a token-hash
  * array — the shingleHashesAll fold as one [[VectorKernels.shingleGrams]]
  * call per row instead of k·(n−k+1) interpreted lambda steps. A builder,
  * not a class (see the package scaladoc). */
object ShingleGrams {
  def apply(child: Expression, k: Int, mod: Long): Expression =
    StaticInvoke(classOf[VectorKernels], ArrayType(LongType, containsNull = true),
      "shingleGrams", Seq(child, Literal(k), Literal(mod)),
      Seq(ArrayType(LongType), IntegerType, LongType), returnNullable = false)
}

/** PQ codes of an array&lt;double&gt; vector against driver-held codebooks
  * (array[m][k][subDim]); the codebooks ride as a codegen reference object,
  * so the generated source — unlike the unrolled fold it replaces — is
  * independent of m, k, AND the codebook values (Lloyd rounds update the
  * values every iteration; value-independent source keeps the codegen
  * cache hot across rounds). */
case class PqEncode(child: Expression, cbs: Array[Array[Array[Double]]],
    subDim: Int) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(v: Any): Any =
    VectorKernels.pqEncode(v.asInstanceOf[ArrayData], cbs, subDim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebooks", cbs, "double[][][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.expressions.VectorKernels.pqEncode($v, $ref, $subDim)")
  }
  // STRUCTURAL equality over the codebooks (ADVICE r19): Scala Array
  // equality is reference-based, so two PqEncode nodes built from
  // separately-cloned but value-identical codebooks (codesFor clones per
  // call) would never compare equal — silently defeating canonicalization,
  // common-subexpression elimination, and exchange/cache reuse whenever
  // the same encode column is constructed twice. deepEquals/deepHashCode
  // restore value semantics; the child is compared as usual.
  override def equals(other: Any): Boolean = other match {
    case p: PqEncode => child == p.child && subDim == p.subDim &&
      java.util.Arrays.deepEquals(
        cbs.asInstanceOf[Array[AnyRef]], p.cbs.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(
    child, Integer.valueOf(subDim),
    Integer.valueOf(java.util.Arrays.deepHashCode(
      cbs.asInstanceOf[Array[AnyRef]])))
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
