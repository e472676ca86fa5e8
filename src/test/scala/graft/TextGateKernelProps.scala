package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, BoundReference, Expression, Size, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.expressions.{LangPredict, MarkerHits, PretokenCount}
import graft.operators.TextOps.LangOrder

/** Property tests: the two counting kernels of the text-quality gates,
  * interpreted and generated, against the spellings they replaced — kept
  * here as the reference and evaluated as analyzed Catalyst expressions:
  *   - marker hits against `size(filter(toks, t -> t IN set))` and the
  *     per-set argmax fold `langPredict` was;
  *   - the pre-token count against `size(regexp_extract_all(text, re, 0))`.
  * Each runs under both values of `legacySizeOfNull` (the reference's
  * `Size` is rebuilt with the same flag).
  */
object TextGateKernelProps extends Properties("TextGateKernels") {

  // ---- the replaced spellings ----
  private def refStopHits(toks: Column, set: Seq[String]): Column =
    size(filter(toks, t => t.isin(set: _*)))

  private def refLangPredict(toks: Column): Column = {
    val scores = LangOrder.map { case (l, set) => l -> refStopHits(toks, set) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.reverse.foldLeft(lit("und")) { case (acc, (l, s)) =>
      when(s === best, lit(l)).otherwise(acc)
    }
  }

  private val Bpeish = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"

  /** `c` over a one-column input of type `dt`, analyzed and bound to
    * ordinal 0, with every `Size` given `legacy`. */
  private def analyzed(dt: DataType, c: Column, legacy: Boolean): Expression = {
    val spark = SparkTestBase.spark
    val in = spark.createDataFrame(java.util.List.of[Row](),
      StructType(Seq(StructField("x", dt))))
    val plan = in.select(c.as("r")).queryExecution.analyzed
      .asInstanceOf[Project]
    val e = plan.projectList.head.asInstanceOf[Alias].child
      .transform { case s: Size => s.copy(legacySizeOfNull = legacy) }
    BindReferences.bindReference(e, plan.child.output)
  }

  /** (reference, interpreted, generated) of each input; the generated
    * projection reads the input as an UnsafeRow (unsafe arrays/strings). */
  private def results(dt: DataType, ref: Expression, e: Expression,
      inputs: Seq[Any]): (Seq[Any], Seq[Any], Seq[Any]) = {
    val toUnsafe = UnsafeProjection.create(Array(dt))
    val gen = GenerateUnsafeProjection.generate(Seq(e))
    def read(r: InternalRow): Any =
      if (r.isNullAt(0)) null else r.get(0, e.dataType) match {
        case s: UTF8String => s.toString
        case v => v
      }
    def interp(x: Expression, v: Any): Any = x.eval(InternalRow(v)) match {
      case s: UTF8String => s.toString
      case v => v
    }
    (inputs.map(interp(ref, _)), inputs.map(interp(e, _)),
      inputs.map(v => read(gen(toUnsafe(InternalRow(v))))))
  }

  private def agree(dt: DataType, ref: Boolean => Expression,
      mk: Boolean => Expression, inputs: Seq[Any]): Prop =
    Prop.all(Seq(false, true).map { legacy =>
      val (want, interp, generated) = results(dt, ref(legacy), mk(legacy), inputs)
      (interp == want && generated == want) :|
        s"legacy=$legacy want=$want interp=$interp generated=$generated"
    }: _*)

  // ---- marker hits ----
  private val TokArray = ArrayType(StringType, containsNull = true)
  private val markers = LangOrder.flatMap(_._2).distinct
  private val vocab: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf(markers),
    2 -> Gen.oneOf(markers.map(_.capitalize) ++ markers.map(_.toUpperCase)),
    2 -> Gen.oneOf("", "zzz", "thee", "lax", "l", "的的", "是了", "ä", "der "),
    2 -> Gen.resize(4, Gen.alphaStr))
  private val token: Gen[String] = Gen.frequency(9 -> vocab, 1 -> Gen.const(null))
  private val tokArray: Gen[Any] = Gen.frequency(
    1 -> Gen.const(null),
    9 -> Gen.resize(30, Gen.listOf(token)).map(t =>
      new GenericArrayData(t.map(s => if (s == null) null
        else UTF8String.fromString(s)).toArray[Any])))
  private val markerSet: Gen[Seq[String]] = Gen.oneOf(
    Gen.oneOf(LangOrder.map(_._2)),
    Gen.resize(6, Gen.listOf(Gen.oneOf(vocab,
      Gen.const("a rather long marker"), Gen.alphaStr))))

  property("markerHits == size(filter(toks, t -> t IN set))") =
    forAll(markerSet, Gen.resize(20, Gen.listOf(tokArray))) { (set, rows) =>
      agree(TokArray,
        legacy => analyzed(TokArray, refStopHits(col("x"), set), legacy),
        legacy => MarkerHits(BoundReference(0, TokArray, nullable = true),
          set, legacy),
        rows)
    }

  property("langPredict == per-set size(filter) argmax, first-listed wins") =
    forAll(Gen.resize(20, Gen.listOf(tokArray))) { rows =>
      agree(TokArray,
        legacy => analyzed(TokArray, refLangPredict(col("x")), legacy),
        legacy => LangPredict(BoundReference(0, TokArray, nullable = true),
          LangOrder, legacy),
        rows)
    }

  // ---- pre-token count ----
  private val asciiChar: Gen[Char] = Gen.frequency(
    4 -> Gen.alphaChar, 2 -> Gen.numChar,
    3 -> Gen.oneOf(' ', ' ', '\t', '\n', '\r', '.', ',', '-', '\'', '!', '_'),
    1 -> Gen.choose(0.toChar, 127.toChar))
  // two-, three- and four-byte codepoints; U+00A0 and U+3000 are spaces
  // to Unicode but not the space byte
  private val wideChar: Gen[String] = Gen.oneOf("é", "ß", "中", "Ω", "😀",
    "𝄞", "\u00a0", "\u3000")
  private val text: Gen[String] = Gen.resize(40, Gen.listOf(
    Gen.frequency(5 -> asciiChar.map(_.toString), 1 -> wideChar))).map(_.mkString)
  // byte strings that need not be valid UTF-8: stray continuation bytes,
  // truncated sequences, overlong forms, surrogate encodings
  private val rawBytes: Gen[Array[Byte]] = Gen.resize(30, Gen.listOf(
    Gen.frequency(
      4 -> asciiChar.map(c => Seq(c.toByte)),
      2 -> Gen.choose(0x80, 0xFF).map(b => Seq(b.toByte)),
      1 -> Gen.oneOf(Seq(0xC0, 0xA0), Seq(0xC1, 0x81), Seq(0xED, 0xA0, 0x80),
        Seq(0xE4, 0xB8), Seq(0xF0, 0x9F, 0x98, 0x80)).map(_.map(_.toByte)))))
    .map(_.flatten.toArray)
  private val textInput: Gen[Any] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(UTF8String.EMPTY_UTF8),
    6 -> text.map(UTF8String.fromString),
    3 -> rawBytes.map(UTF8String.fromBytes))

  property("pretokenCount == size(regexp_extract_all(text, bpeish, 0))") =
    forAll(Gen.resize(20, Gen.listOf(textInput))) { rows =>
      agree(StringType,
        legacy => analyzed(StringType,
          size(regexp_extract_all(col("x"), lit(Bpeish), lit(0))), legacy),
        legacy => PretokenCount(BoundReference(0, StringType, nullable = true),
          legacy),
        rows)
    }
}
