package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.text.Normalizer

/** The string kernels as Catalyst expressions. Each builder in
  * [[StringCalls]] is one `StaticInvoke` of [[StringKernels]]; the
  * classes below stay for the reasons the package scaladoc gives.
  *
  * Byte contract (see [[StringKernels]]): the kernels receive the row's
  * UTF8String as is. An all-ASCII row is processed on its UTF-8 bytes and
  * never becomes a java.lang.String; a row with any non-ASCII byte takes
  * the kernel's codepoint path.
  */

/** One builder per string kernel, shared by the Column API
  * ([[TextExpressions]]) and the graft_* SQL functions
  * ([[graft.functions.SqlFunctions]]). Scalar parameters are checked here,
  * so a bad one throws IllegalArgumentException when the call is built,
  * from either surface. Every kernel returns non-null for non-null input;
  * a null argument gives null. Int.MinValue as a slice bound means "not
  * given". */
object StringCalls {
  private def call(method: String, out: DataType, args: Expression*): Expression =
    StaticInvoke(classOf[StringKernels], out, method, args, returnNullable = false)

  /** Non-overlapping literal substring count; empty pattern → numChars+1
    * (reference string.py:163-237 KMP kernel + Python str.count semantics). */
  def count(str: Expression, pat: Expression): Expression =
    call("countLiteral", IntegerType, str, pat)

  /** Replace first-n non-overlapping literal occurrences (n<0 = all), with
    * Python empty-pattern interleave semantics (reference string.py:331-542). */
  def replaceN(str: Expression, pat: Expression, repl: Expression, n: Int): Expression =
    call("replaceN", StringType, str, pat, repl, Literal(n))

  /** Python-semantics codepoint slice s[start:end:step] — negative indices,
    * negative step (reference string.py:727-908). */
  def slice(str: Expression, start: Int, end: Int, step: Int): Expression = {
    require(step != 0, "slice step cannot be zero")
    call("sliceCodepoints", StringType, str, Literal(start), Literal(end), Literal(step))
  }

  /** The nine Unicode class predicates with Python str.is* semantics
    * (reference string_mixin.py:38-91 via Arrow utf8proc). */
  def is(str: Expression, kind: String): Expression = {
    val method = kind match {
      case "alnum" => "isAlnum"     case "alpha" => "isAlpha"
      case "digit" => "isDigit"     case "space" => "isSpace"
      case "lower" => "isLower"     case "upper" => "isUpper"
      case "title" => "isTitle"     case "numeric" => "isNumeric"
      case "decimal" => "isDecimal"
      case other => throw new IllegalArgumentException(s"unknown predicate: $other")
    }
    call(method, BooleanType, str)
  }

  /** Unicode casefold (reference exposes pandas casefold; tests/test_text.py:277). */
  def caseFold(str: Expression): Expression = call("caseFold", StringType, str)

  /** Unicode normalization NFC/NFD/NFKC/NFKD (reference tests/test_text.py:536).
    * The form travels as an object literal: generated code reads it as a
    * reference object, the interpreted call passes it as is. */
  def normalize(str: Expression, form: String): Expression = {
    require(Set("NFC", "NFD", "NFKC", "NFKD")(form), s"bad form: $form")
    call("normalize", StringType, str, Literal(Normalizer.Form.valueOf(form),
      ObjectType(classOf[Normalizer.Form])))
  }

  /** Sign-aware zero-pad (reference string_array.py:480-482 → pandas zfill). */
  def zfill(str: Expression, width: Int): Expression =
    call("zfill", StringType, str, Literal(width))

  /** DEFLATE-compressed size of the UTF-8 bytes (incompressibility quality
    * signal — see StringKernels.deflateLen for the determinism contract). */
  def deflateLen(str: Expression, level: Int): Expression = {
    require(level >= 0 && level <= 9, s"deflate level must be 0..9: $level")
    call("deflateLen", IntegerType, str, Literal(level))
  }

  /** Greedy word-wrap at width, newline-joined (reference tests/test_text.py:804). */
  def wrap(str: Expression, width: Int): Expression = {
    require(width > 0, "wrap width must be positive")
    call("wrap", StringType, str, Literal(width))
  }

  /** Python str.rfind/rindex: last-occurrence codepoint index, -1 if absent
    * (reference tests/test_text.py:605-611). */
  def rfind(str: Expression, sub: Expression): Expression =
    call("rfindLiteral", IntegerType, str, sub)

  /** One element of Python partition/rpartition (reference
    * tests/test_text.py:625-634): idx 0=head, 1=sep, 2=tail. */
  def partitionPart(str: Expression, sep: Expression, idx: Int,
      fromRight: Boolean): Expression = {
    require(idx >= 0 && idx <= 2, "partition part index must be 0, 1 or 2")
    call("partitionPart", StringType, str, sep, Literal(idx), Literal(fromRight))
  }

  /** Python str.rsplit(sep, maxsplit): right-anchored bounded split
    * (reference tests/test_text.py:693-695). */
  def rsplit(str: Expression, sep: Expression, n: Int): Expression =
    call("rsplitArray", ArrayType(StringType, containsNull = false), str, sep,
      Literal(n))

  /** Pandas str.slice_replace(start, stop, repl) — Python codepoint slice
    * boundaries (reference tests/test_text.py:668). */
  def sliceReplace(str: Expression, repl: Expression, start: Int,
      end: Int): Expression =
    call("sliceReplace", StringType, str, Literal(start), Literal(end), repl)

  /** Python str.swapcase (reference tests/test_text.py:773). */
  def swapCase(str: Expression): Expression = call("swapCase", StringType, str)

  /** Polynomial rolling hash h = fold(h*31 + codepoint) mod 1e9+7, the
    * cross-engine fingerprint and MinHash base hash (StringKernels.polyHash). */
  def polyHash(str: Expression): Expression = call("polyHash", LongType, str)

  /** The polyHash of every token of `split(str, " ")`, in order. */
  def tokenHashes(str: Expression): Expression =
    call("tokenHashes", ArrayType(LongType, containsNull = false), str)
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

/** Column-API surface for the string kernels. */
object TextExpressions {
  private def str(s: String): Expression = Literal(UTF8String.fromString(s), StringType)

  def textCount(c: Column, pat: String): Column =
    toCol(StringCalls.count(toExpr(c), str(pat)))
  def textReplaceN(c: Column, pat: String, repl: String, n: Int): Column =
    toCol(StringCalls.replaceN(toExpr(c), str(pat), str(repl), n))
  def textSlice(c: Column, start: Int = Int.MinValue, end: Int = Int.MinValue,
      step: Int = 1): Column =
    toCol(StringCalls.slice(toExpr(c), start, end, step))
  def utf8Is(c: Column, kind: String): Column = toCol(StringCalls.is(toExpr(c), kind))
  def caseFold(c: Column): Column = toCol(StringCalls.caseFold(toExpr(c)))
  def normalizeText(c: Column, form: String = "NFC"): Column =
    toCol(StringCalls.normalize(toExpr(c), form))
  def zfill(c: Column, width: Int): Column = toCol(StringCalls.zfill(toExpr(c), width))
  def wrapText(c: Column, width: Int): Column = toCol(StringCalls.wrap(toExpr(c), width))
  def textRFind(c: Column, sub: String): Column =
    toCol(StringCalls.rfind(toExpr(c), str(sub)))
  def textPartition(c: Column, sep: String, idx: Int,
      fromRight: Boolean = false): Column =
    toCol(StringCalls.partitionPart(toExpr(c), str(sep), idx, fromRight))
  def textRSplit(c: Column, sep: String, n: Int = -1): Column =
    toCol(StringCalls.rsplit(toExpr(c), str(sep), n))
  def textSliceReplace(c: Column, repl: String,
      start: Int = Int.MinValue, end: Int = Int.MinValue): Column =
    toCol(StringCalls.sliceReplace(toExpr(c), str(repl), start, end))
  def swapCase(c: Column): Column = toCol(StringCalls.swapCase(toExpr(c)))
  def polyHash(c: Column): Column = toCol(StringCalls.polyHash(toExpr(c)))
  def deflateLen(c: Column, level: Int = 6): Column =
    toCol(StringCalls.deflateLen(toExpr(c), level))
  // the three below read legacySizeOfNull when built, as Size does
  def markerHits(toks: Column, set: Seq[String]): Column =
    toCol(MarkerHits(toExpr(toks), set, SQLConf.get.legacySizeOfNull))
  def langPredict(toks: Column, langs: Seq[(String, Seq[String])]): Column =
    toCol(LangPredict(toExpr(toks), langs, SQLConf.get.legacySizeOfNull))
  def pretokenCount(c: Column): Column =
    toCol(PretokenCount(toExpr(c), SQLConf.get.legacySizeOfNull))
}
