package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst Expressions for the string semantics Spark's built-ins
  * can't express (SURVEY.md §4 complete list). Every expression ships
  * `doGenCode` (via defineCodeGen → one static call into
  * [[StringKernels]]) so it stays inside whole-stage codegen — an
  * eval-only Expression would break the codegen span and serialize the
  * hot path (SURVEY.md §7.5 risk 5).
  *
  * Byte contract (see [[StringKernels]]): the kernels receive the row's
  * UTF8String as is. An all-ASCII row is processed on its UTF-8 bytes and
  * never becomes a java.lang.String; a row with any non-ASCII byte takes
  * the kernel's codepoint path.
  */

/** Non-overlapping literal substring count; empty pattern → numChars+1
  * (reference string.py:163-237 KMP kernel + Python str.count semantics). */
case class TextCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(str: Any, pat: Any): Any =
    StringKernels.countLiteral(str.asInstanceOf[UTF8String],
      pat.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, p) =>
      s"graft.expressions.StringKernels.countLiteral($s, $p)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Replace first-n non-overlapping literal occurrences (n<0 = all), with
  * Python empty-pattern interleave semantics (reference string.py:331-542). */
case class TextReplaceN(first: Expression, second: Expression,
    third: Expression, n: Int) extends TernaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(str: Any, pat: Any, repl: Any): Any =
    StringKernels.replaceN(str.asInstanceOf[UTF8String],
      pat.asInstanceOf[UTF8String], repl.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, p, r) =>
      s"graft.expressions.StringKernels.replaceN($s, $p, $r, $n)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}

/** Python-semantics codepoint slice s[start:end:step] — negative indices,
  * negative step (reference string.py:727-908). Int.MinValue = "not given". */
case class TextSlice(child: Expression, start: Int, end: Int, step: Int)
    extends UnaryExpression {
  require(step != 0, "slice step cannot be zero")
  override def dataType: DataType = StringType
  override def nullSafeEval(str: Any): Any =
    StringKernels.sliceCodepoints(str.asInstanceOf[UTF8String], start, end, step)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.expressions.StringKernels.sliceCodepoints($s, $start, $end, $step)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** The nine Unicode class predicates with Python str.is* semantics
  * (reference string_mixin.py:38-91 via Arrow utf8proc). */
case class Utf8Is(child: Expression, kind: String) extends UnaryExpression {
  private val method: String = kind match {
    case "alnum" => "isAlnum"     case "alpha" => "isAlpha"
    case "digit" => "isDigit"     case "space" => "isSpace"
    case "lower" => "isLower"     case "upper" => "isUpper"
    case "title" => "isTitle"     case "numeric" => "isNumeric"
    case "decimal" => "isDecimal"
    case other => throw new IllegalArgumentException(s"unknown predicate: $other")
  }
  override def dataType: DataType = BooleanType
  override def nullSafeEval(str: Any): Any = {
    val s = str.asInstanceOf[UTF8String]
    method match {
      case "isAlnum" => StringKernels.isAlnum(s)
      case "isAlpha" => StringKernels.isAlpha(s)
      case "isDigit" => StringKernels.isDigit(s)
      case "isSpace" => StringKernels.isSpace(s)
      case "isLower" => StringKernels.isLower(s)
      case "isUpper" => StringKernels.isUpper(s)
      case "isTitle" => StringKernels.isTitle(s)
      case "isNumeric" => StringKernels.isNumeric(s)
      case "isDecimal" => StringKernels.isDecimal(s)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expressions.StringKernels.$method($s)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Unicode casefold (reference exposes pandas casefold; tests/test_text.py:277). */
case class CaseFold(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(str: Any): Any =
    StringKernels.caseFold(str.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expressions.StringKernels.caseFold($s)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Unicode normalization NFC/NFD/NFKC/NFKD (reference tests/test_text.py:536). */
case class NormalizeText(child: Expression, form: String)
    extends UnaryExpression {
  require(Set("NFC", "NFD", "NFKC", "NFKD")(form), s"bad form: $form")
  // resolved once per expression; generated code names the enum constant
  private val normForm = java.text.Normalizer.Form.valueOf(form)
  override def dataType: DataType = StringType
  override def nullSafeEval(str: Any): Any =
    StringKernels.normalize(str.asInstanceOf[UTF8String], normForm)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.expressions.StringKernels.normalize($s, java.text.Normalizer.Form.$form)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Sign-aware zero-pad (reference string_array.py:480-482 → pandas zfill). */
case class Zfill(child: Expression, width: Int) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(str: Any): Any =
    StringKernels.zfill(str.asInstanceOf[UTF8String], width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expressions.StringKernels.zfill($s, $width)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** DEFLATE-compressed size of the UTF-8 bytes (incompressibility quality
  * signal — see StringKernels.deflateLen for the determinism contract). */
case class DeflateLen(child: Expression, level: Int) extends UnaryExpression {
  require(level >= 0 && level <= 9, s"deflate level must be 0..9: $level")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(str: Any): Any =
    StringKernels.deflateLen(str.asInstanceOf[UTF8String], level)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      s => s"graft.expressions.StringKernels.deflateLen($s, $level)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Greedy word-wrap at width, newline-joined (reference tests/test_text.py:804). */
case class WrapText(child: Expression, width: Int) extends UnaryExpression {
  require(width > 0, "wrap width must be positive")
  override def dataType: DataType = StringType
  override def nullSafeEval(str: Any): Any =
    StringKernels.wrap(str.asInstanceOf[UTF8String], width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expressions.StringKernels.wrap($s, $width)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Python str.rfind/rindex: last-occurrence codepoint index, -1 if absent
  * (reference tests/test_text.py:605-611). */
case class TextRFind(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(str: Any, sub: Any): Any =
    StringKernels.rfindLiteral(str.asInstanceOf[UTF8String],
      sub.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, p) =>
      s"graft.expressions.StringKernels.rfindLiteral($s, $p)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** One element of Python partition/rpartition (reference
  * tests/test_text.py:625-634): idx 0=head, 1=sep, 2=tail. */
case class TextPartitionPart(left: Expression, right: Expression, idx: Int,
    fromRight: Boolean) extends BinaryExpression {
  require(idx >= 0 && idx <= 2, "partition part index must be 0, 1 or 2")
  override def dataType: DataType = StringType
  override def nullSafeEval(str: Any, sep: Any): Any =
    StringKernels.partitionPart(str.asInstanceOf[UTF8String],
      sep.asInstanceOf[UTF8String], idx, fromRight)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, p) =>
      s"graft.expressions.StringKernels.partitionPart($s, $p, $idx, $fromRight)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Python str.rsplit(sep, maxsplit): right-anchored bounded split
  * (reference tests/test_text.py:693-695). */
case class TextRSplit(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(str: Any, sep: Any): Any =
    StringKernels.rsplitArray(str.asInstanceOf[UTF8String],
      sep.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, p) =>
      s"graft.expressions.StringKernels.rsplitArray($s, $p, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Pandas str.slice_replace(start, stop, repl) — Python codepoint slice
  * boundaries, Int.MinValue = "not given" (reference tests/test_text.py:668). */
case class TextSliceReplace(left: Expression, right: Expression, start: Int,
    end: Int) extends BinaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(str: Any, repl: Any): Any =
    StringKernels.sliceReplace(str.asInstanceOf[UTF8String], start, end,
      repl.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, r) =>
      s"graft.expressions.StringKernels.sliceReplace($s, $start, $end, $r)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Python str.swapcase (reference tests/test_text.py:773). */
case class SwapCase(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(str: Any): Any =
    StringKernels.swapCase(str.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expressions.StringKernels.swapCase($s)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Deterministic polynomial rolling hash (document fingerprint / MinHash
  * base hash): h = fold(h*31 + codepoint) mod 1e9+7. Cross-engine
  * reproducible — see StringKernels.polyHash for the DuckDB equivalent. */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(str: Any): Any =
    StringKernels.polyHash(str.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expressions.StringKernels.polyHash($s)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** One [[StringKernels.markerHits]] pass over a string array per row, the
  * shared body of [[MarkerHits]] and [[LangPredict]]. The marker table is a
  * reference object and the counts buffer per-task mutable state, so the
  * generated source depends only on the number of sets. A null array gives
  * [[ofNullArray]] (SQL NULL when that is null).
  */
sealed trait MarkerCounting extends UnaryExpression with ExpectsInputTypes {
  protected def markerSets: Seq[Seq[String]]
  protected def ofNullArray: Any
  /** The value for one row's counts, and its Java source over `counts`. */
  protected def fromCounts(counts: Array[Int]): Any
  protected def fromCountsJava(ctx: CodegenContext, counts: String): String

  @transient protected lazy val table =
    new StringKernels.MarkerTable(markerSets.map(_.toArray).toArray)

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def nullable: Boolean = child.nullable && ofNullArray == null

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => ofNullArray
    case toks: ArrayData =>
      val counts = new Array[Int](markerSets.size)
      StringKernels.markerHits(toks, table, counts)
      fromCounts(counts)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("markers", table,
      classOf[StringKernels.MarkerTable].getCanonicalName)
    val counts = ctx.addMutableState("int[]", "markerCounts",
      v => s"$v = new int[${markerSets.size}];")
    val whenNull = Literal(ofNullArray, dataType).genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = false;
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        ${CodeGenerator.defaultValue(dataType)};
      if (${c.isNull}) {
        ${whenNull.code}
        ${ev.isNull} = ${whenNull.isNull};
        ${ev.value} = ${whenNull.value};
      } else {
        graft.expressions.StringKernels.markerHits(${c.value}, $ref, $counts);
        ${ev.value} = ${fromCountsJava(ctx, counts)};
      }""")
  }
}

/** Marker hits: the number of non-null elements of a string array that are
  * in `set`, with multiplicity, compared byte for byte — the count
  * `size(filter(toks, t -> t IN set))` gives. A null array gives what
  * `size(null)` gives: -1 under `legacySizeOfNull`, else NULL. */
case class MarkerHits(child: Expression, set: Seq[String],
    legacySizeOfNull: Boolean) extends MarkerCounting {
  override def dataType: DataType = IntegerType
  override protected def markerSets: Seq[Seq[String]] = Seq(set)
  override protected def ofNullArray: Any = if (legacySizeOfNull) -1 else null
  override protected def fromCounts(counts: Array[Int]): Any = counts(0)
  override protected def fromCountsJava(ctx: CodegenContext, counts: String) =
    s"$counts[0]"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Arg-max label of `langs` by marker hits over a string array, counted for
  * every set in one pass: the first-listed label wins ties, so a row with no
  * hit gets the first label. A null array gets what the per-set
  * `size(filter)` scores give it: all -1 under `legacySizeOfNull` (the first
  * label), else all NULL ("und"). Never NULL. */
case class LangPredict(child: Expression, langs: Seq[(String, Seq[String])],
    legacySizeOfNull: Boolean) extends MarkerCounting {
  require(langs.nonEmpty, "need at least one language")
  @transient private lazy val labels =
    langs.map(l => UTF8String.fromString(l._1)).toArray
  override def dataType: DataType = StringType
  override protected def markerSets: Seq[Seq[String]] = langs.map(_._2)
  override protected def ofNullArray: Any =
    if (legacySizeOfNull) labels(0) else UTF8String.fromString("und")
  override protected def fromCounts(counts: Array[Int]): Any =
    labels(StringKernels.firstMax(counts))
  override protected def fromCountsJava(ctx: CodegenContext, counts: String) = {
    val ref = ctx.addReferenceObj("langLabels", labels,
      "org.apache.spark.unsafe.types.UTF8String[]")
    s"$ref[graft.expressions.StringKernels.firstMax($counts)]"
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Pre-token count: the number of matches of
  * `[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+`, the value of
  * `size(regexp_extract_all(str, that, 0))`, counted in one pass over the
  * UTF-8 bytes ([[StringKernels.pretokenCount]]). A null string gives what
  * `size(null)` gives: -1 under `legacySizeOfNull`, else NULL. */
case class PretokenCount(child: Expression, legacySizeOfNull: Boolean)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable && !legacySizeOfNull
  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => if (legacySizeOfNull) -1 else null
    case s: UTF8String => StringKernels.pretokenCount(s)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${if (legacySizeOfNull) "false" else c.isNull};
      int ${ev.value} = ${c.isNull} ? -1 :
        graft.expressions.StringKernels.pretokenCount(${c.value});""")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Column-API surface for the custom expressions. */
object TextExpressions {
  def textCount(c: Column, pat: String): Column =
    toCol(TextCount(toExpr(c), Literal(UTF8String.fromString(pat), StringType)))
  def textReplaceN(c: Column, pat: String, repl: String, n: Int): Column =
    toCol(TextReplaceN(toExpr(c), Literal(UTF8String.fromString(pat), StringType),
      Literal(UTF8String.fromString(repl), StringType), n))
  def textSlice(c: Column, start: Int = Int.MinValue, end: Int = Int.MinValue,
      step: Int = 1): Column =
    toCol(TextSlice(toExpr(c), start, end, step))
  def utf8Is(c: Column, kind: String): Column = toCol(Utf8Is(toExpr(c), kind))
  def caseFold(c: Column): Column = toCol(CaseFold(toExpr(c)))
  def normalizeText(c: Column, form: String = "NFC"): Column =
    toCol(NormalizeText(toExpr(c), form))
  def zfill(c: Column, width: Int): Column = toCol(Zfill(toExpr(c), width))
  def wrapText(c: Column, width: Int): Column = toCol(WrapText(toExpr(c), width))
  def textRFind(c: Column, sub: String): Column =
    toCol(TextRFind(toExpr(c), Literal(UTF8String.fromString(sub), StringType)))
  def textPartition(c: Column, sep: String, idx: Int,
      fromRight: Boolean = false): Column =
    toCol(TextPartitionPart(toExpr(c),
      Literal(UTF8String.fromString(sep), StringType), idx, fromRight))
  def textRSplit(c: Column, sep: String, n: Int = -1): Column =
    toCol(TextRSplit(toExpr(c),
      Literal(UTF8String.fromString(sep), StringType), n))
  def textSliceReplace(c: Column, repl: String,
      start: Int = Int.MinValue, end: Int = Int.MinValue): Column =
    toCol(TextSliceReplace(toExpr(c),
      Literal(UTF8String.fromString(repl), StringType), start, end))
  def swapCase(c: Column): Column = toCol(SwapCase(toExpr(c)))
  def polyHash(c: Column): Column = toCol(PolyHash(toExpr(c)))
  def deflateLen(c: Column, level: Int = 6): Column =
    toCol(DeflateLen(toExpr(c), level))
  // the three below read legacySizeOfNull when built, as Size does
  def markerHits(toks: Column, set: Seq[String]): Column =
    toCol(MarkerHits(toExpr(toks), set, SQLConf.get.legacySizeOfNull))
  def langPredict(toks: Column, langs: Seq[(String, Seq[String])]): Column =
    toCol(LangPredict(toExpr(toks), langs, SQLConf.get.legacySizeOfNull))
  def pretokenCount(c: Column): Column =
    toCol(PretokenCount(toExpr(c), SQLConf.get.legacySizeOfNull))
}
