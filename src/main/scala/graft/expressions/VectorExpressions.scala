package graft.expressions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** The builders of the similarity and PQ kernels of [[VectorKernels]],
  * each a single `StaticInvoke` (the kernel's javadoc gives its
  * semantics). A driver-held matrix travels
  * as a [[VectorSet]] object literal; a null norm cannot reach a `double`
  * parameter, so it travels as `(coalesce(nrm, 0.0), isnull(nrm))`. */
object VectorCalls {
  private val Vec = ArrayType(DoubleType)
  private val SetType = ObjectType(classOf[VectorSet])
  private def set(s: VectorSet): Expression = Literal(s, SetType)

  /** With `propagateNull` a null argument gives null without a call; only
    * `dot` and `l2sq` return null themselves. */
  private def call(method: String, out: DataType, args: Seq[Expression],
      types: Seq[DataType], propagateNull: Boolean = true): Expression =
    StaticInvoke(classOf[VectorKernels], out, method, args, types,
      propagateNull = propagateNull, returnNullable = out == DoubleType)

  private def cosine(method: String, out: DataType, v: Expression,
      nrm: Expression, s: VectorSet, n: Int): Expression =
    call(method, out, Seq(v, Coalesce(Seq(nrm, Literal(0.0))), IsNull(nrm),
      set(s), Literal(n)), Seq(Vec, DoubleType, BooleanType, SetType, IntegerType),
      propagateNull = false)

  def dot(a: Expression, b: Expression): Expression =
    call("dot", DoubleType, Seq(a, b), Seq(Vec, Vec))
  def l2sq(a: Expression, b: Expression): Expression =
    call("l2sq", DoubleType, Seq(a, b), Seq(Vec, Vec))
  def lshBits(v: Expression, planes: VectorSet): Expression =
    call("lshBits", LongType, Seq(v, set(planes)), Seq(Vec, SetType),
      propagateNull = false)
  def topCosine(v: Expression, nrm: Expression, cents: VectorSet,
      p: Int): Expression =
    cosine("topCosine", ArrayType(LongType, containsNull = false), v, nrm, cents, p)
  def argmaxCosine(v: Expression, nrm: Expression, groups: VectorSet,
      nProbe: Int): Expression =
    cosine("argmaxCosine", LongType, v, nrm, groups, nProbe)
  def pqEncode(v: Expression, cbs: VectorSet, subDim: Int): Expression =
    call("pqEncode", ArrayType(IntegerType), Seq(v, set(cbs), Literal(subDim)),
      Seq(Vec, SetType, IntegerType))
  def adcTable(v: Expression, cbs: VectorSet, subDim: Int): Expression =
    call("adcTable", ArrayType(ArrayType(DoubleType), containsNull = false),
      Seq(v, set(cbs), Literal(subDim)), Seq(Vec, SetType, IntegerType),
      propagateNull = false)
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
