package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
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
}
