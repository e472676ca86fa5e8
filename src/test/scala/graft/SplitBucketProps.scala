package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, CaseWhen, Expression, GreaterThan, If, IsNaN, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.expressions.SplitBucket

/** Property tests: the binary-search bucket expression behind
  * `Positional` against the fold it replaced — one `CASE WHEN key > split`
  * per split, summed, with NaN keys routed to the top bucket — and against
  * the sort order, both interpreted and code-generated. */
object SplitBucketProps extends Properties("SplitBucket") {

  // the fold Positional used before SplitBucket, kept here as the reference
  private def fold(key: Expression, dt: DataType, splits: Seq[Any]): Expression =
    if (splits.isEmpty) Literal(0)
    else {
      val sum = splits.map(s => CaseWhen(Seq(GreaterThan(key, Literal(s, dt)) ->
        Literal(1)), Literal(0)): Expression).reduce(Add(_, _))
      if (dt == DoubleType) If(IsNaN(key), Literal(splits.size), sum) else sum
    }

  /** (interpreted, generated) bucket of every key. */
  private def buckets(dt: DataType, splits: Seq[Any], keys: Seq[Any])
      : (Seq[Int], Seq[Int]) = {
    val e = SplitBucket(BoundReference(0, dt, nullable = true),
      splits.sorted(TypeUtils.getInterpretedOrdering(dt)).toIndexedSeq)
    val gen = GenerateUnsafeProjection.generate(Seq(e))
    (keys.map(k => e.eval(InternalRow(k)).asInstanceOf[Int]),
      keys.map(k => gen(InternalRow(k)).getInt(0)))
  }

  private def matchesFold(dt: DataType, splits: Seq[Any], keys: Seq[Any]) = {
    val (interp, generated) = buckets(dt, splits, keys)
    val ref = fold(BoundReference(0, dt, nullable = true), dt, splits)
    val want = keys.map(k => ref.eval(InternalRow(k)).asInstanceOf[Int])
    interp == want && generated == want
  }

  private val longs: Gen[java.lang.Long] = Gen.frequency(
    3 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, 1L),
    5 -> Gen.choose(-50L, 50L),
    5 -> Gen.choose(Long.MinValue, Long.MaxValue)).map(Long.box)

  private val doubles: Gen[java.lang.Double] = Gen.frequency(
    3 -> Gen.oneOf(0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinValue, Double.MaxValue, Double.MinPositiveValue),
    5 -> Gen.choose(-5, 5).map(_.toDouble),
    5 -> Gen.choose(-1e300, 1e300)).map(Double.box)

  private def withNulls[A <: AnyRef](g: Gen[A], nan: Option[A]): Gen[Any] =
    Gen.frequency(Seq(1 -> Gen.const(null), 8 -> g) ++
      nan.map(v => 2 -> Gen.const(v)): _*)

  property("long keys: bucket == CASE WHEN fold (Long.MinValue/MaxValue)") =
    forAll(Gen.listOf(longs), Gen.listOf(withNulls(longs, None))) {
      (splits, keys) => matchesFold(LongType, splits.distinct, keys)
    }

  // splits come from percentile_approx or a sample of the data, so a NaN
  // split needs NaN rows; the fold's isnan override and the ordering differ
  // only there (the next property covers NaN splits)
  property("double keys: bucket == CASE WHEN fold (null, NaN, ±0.0)") =
    forAll(Gen.listOf(doubles), Gen.listOf(withNulls(doubles,
        Some(Double.box(Double.NaN))))) {
      (splits, keys) => matchesFold(DoubleType, splits.distinct, keys)
    }

  private def monotone(dt: DataType, splits: Seq[Any], keys: Seq[Any]) = {
    val ord = TypeUtils.getInterpretedOrdering(dt)
    val sorted = keys.filter(_ == null) ++ keys.filter(_ != null).sorted(ord)
    val (interp, generated) = buckets(dt, splits, sorted)
    interp == generated && interp == interp.sorted &&
      sorted.zip(interp).forall { case (k, b) =>
        k != null || b == 0 } &&
      interp.forall(b => b >= 0 && b <= splits.size)
  }

  property("double keys, NaN splits: bucket order == nulls-first sort order") =
    forAll(Gen.listOf(withNulls(doubles, Some(Double.box(Double.NaN))))
        .map(_.filter(_ != null)),
      Gen.listOf(withNulls(doubles, Some(Double.box(Double.NaN))))) {
      (splits, keys) => monotone(DoubleType, splits, keys)
    }

  property("string keys: bucket order == nulls-first sort order") =
    forAll(Gen.listOf(Gen.alphaStr.map(UTF8String.fromString)),
      Gen.listOf(withNulls(Gen.alphaStr.map(UTF8String.fromString), None))) {
      (splits, keys) => monotone(StringType, splits, keys)
    }
}
